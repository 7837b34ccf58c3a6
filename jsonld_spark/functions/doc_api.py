"""Per-document JSON-LD API stages exposed as DataFrame transforms.

Each wrapper runs one W3C API operation (expand / flatten / compact /
frame) inside a single Arrow-batched ``mapInPandas`` stage over the
pages table — the same fused-UDF shape as the triples path, so every
API surface of the reference is exercisable as a distributed query.
"""

from __future__ import annotations

import json
from typing import Callable, Iterator

from pyspark.sql import DataFrame, types as T

from ..compact import compact_document
from ..context import ContextCache
from ..expand import expand_document
from ..flatten import flatten_expanded
from ..frame import frame_document

DOC_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("script_index", T.IntegerType()),
        T.StructField("result", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def _doc_op_udf(op: Callable, cache_bc, max_html_bytes: int):
    import pandas as pd

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        # broadcast + per-process memo (udfs._get_cache) — shipping the
        # entries dict in the task closure would pay O(cache) pickling
        # per task and lose cross-task context-parse memoization
        from ..udfs import _get_cache, page_scripts

        entries = cache_bc.value if cache_bc is not None else None
        cache = _get_cache(entries, "doc-api")
        for pdf in batches:
            out = []
            for url, html in zip(pdf["url"], pdf["html"]):
                # the triples path's page-level steps: NULL skip, size
                # gate, extract and invalid-script rows
                for d in page_scripts(url, html, max_html_bytes):
                    if d.error:
                        out.append((url, d.script_index, None, d.error))
                        continue
                    try:
                        res = op(d.parsed, d.base or url, cache)
                        out.append(
                            (url, d.script_index, json.dumps(res, sort_keys=True), None)
                        )
                    except Exception as e:  # noqa: BLE001
                        out.append((url, d.script_index, None, str(e)))
            yield pd.DataFrame(
                out, columns=["url", "script_index", "result", "error"]
            )

    return fn


def _apply(
    pages: DataFrame,
    op: Callable,
    cache_entries: dict | None,
    max_html_bytes: int = 64_000_000,
) -> DataFrame:
    cache_bc = (
        pages.sparkSession.sparkContext.broadcast(cache_entries)
        if cache_entries
        else None
    )
    from ..pipeline import parallelize_small_input

    return parallelize_small_input(pages.select("url", "html")).mapInPandas(
        _doc_op_udf(op, cache_bc, max_html_bytes), DOC_RESULT_SCHEMA
    )


def expand_docs(
    pages: DataFrame, cache_entries: dict | None = None, rdfstar: bool = False
) -> DataFrame:
    return _apply(
        pages,
        lambda doc, base, cache: expand_document(
            doc, base=base, cache=cache, rdfstar=rdfstar
        ),
        cache_entries,
    )


def flatten_docs(
    pages: DataFrame,
    cache_entries: dict | None = None,
    rdfstar: bool = False,
    create_annotations_: bool = False,
) -> DataFrame:
    def op(doc, base, cache):
        return flatten_expanded(
            expand_document(doc, base=base, cache=cache, rdfstar=rdfstar),
            create_annotations_=create_annotations_,
        )

    return _apply(pages, op, cache_entries)


def compact_docs(
    pages: DataFrame,
    context=None,
    cache_entries: dict | None = None,
    rdfstar: bool = False,
) -> DataFrame:
    """Compact each embedded doc with ``context`` (default: the doc's own
    inline @context — the roundtrip case)."""

    def op(doc, base, cache):
        ctx = context if context is not None else (
            doc.get("@context") if isinstance(doc, dict) else None
        )
        expanded = expand_document(doc, base=base, cache=cache, rdfstar=rdfstar)
        return compact_document(expanded, ctx, base=base, cache=cache)

    return _apply(pages, op, cache_entries)


def frame_docs(
    pages: DataFrame,
    frame: dict,
    cache_entries: dict | None = None,
    rdfstar: bool = False,
) -> DataFrame:
    def op(doc, base, cache):
        return frame_document(
            doc, frame, base=base, cache=cache, rdfstar=rdfstar
        )

    return _apply(pages, op, cache_entries)
