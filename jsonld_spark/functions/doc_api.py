"""Per-document JSON-LD API stages exposed as DataFrame transforms.

Each wrapper runs one W3C API operation (expand / flatten / compact /
frame) on every ld+json script in the triples path's page stage
(``pipeline.page_stage`` over ``udfs.pages_fn``, frames of at most
``udfs.CHUNK_ROWS`` rows), so every API surface of the reference is
exercisable as a distributed query.  ``error`` follows the triples
path: its page-level errors, and ``udfs.script_error``'s text for an
operation that raises (code, ``recursion limit`` or ``internal: …``).
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, types as T

from .. import udfs
from ..compact import compact_document
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


def doc_op_fn(op: Callable, cache_bc):
    """The mapInPandas function of ``op(doc, base, cache)``; it reads
    ``udfs.MAX_HTML_BYTES`` when built, as ``pages_fn`` reads its bound."""
    max_html_bytes = udfs.MAX_HTML_BYTES

    def page_rows(url, html, cache):
        for d in udfs.page_scripts(url, html, max_html_bytes):
            if d.error:
                yield (url, d.script_index, None, d.error)
                continue
            try:
                res = json.dumps(op(d.parsed, d.base or url, cache), sort_keys=True)
            except Exception as e:  # noqa: BLE001
                yield (url, d.script_index, None, udfs.script_error(e))
                continue
            yield (url, d.script_index, res, None)

    return udfs.pages_fn(
        cache_bc, "doc-api", page_rows, DOC_RESULT_SCHEMA.fieldNames()
    )


def _apply(pages: DataFrame, op: Callable, cache_entries: dict | None) -> DataFrame:
    from ..pipeline import page_stage

    sc = pages.sparkSession.sparkContext
    cache_bc = sc.broadcast(cache_entries) if cache_entries else None
    # no ld+json pre-filter: an oversized page without one keeps its
    # ``document too large`` row
    return page_stage(
        pages, doc_op_fn(op, cache_bc), DOC_RESULT_SCHEMA, skip_scriptless=False
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
