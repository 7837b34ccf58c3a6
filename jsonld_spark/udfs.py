"""Arrow-batched UDFs: the JVM↔Python boundary of the engine.

One fused ``mapInPandas`` stage takes Common-Crawl-style page rows and
emits triple rows: extract ld+json scripts → parse → expand → node map →
emit quads → salt blank-node labels.  Each document crosses the Arrow
boundary exactly once (SURVEY.md §4 item 5); everything downstream of
this stage is relational (JVM-side, whole-stage codegen).

The stage is one loop, written once: ``pages_fn`` (the mapInPandas
loop, run by ``pipeline.page_stage``) drives ``iter_page_rows`` (the
per-page row and error loop) for both the batch path
(``make_pages_to_triples``) and the bounded streaming reader
(``streaming.reader.make_streaming_pages_to_triples``).  The two differ
only in their quad source, the function that turns one parsed script
into quads: the batch path's ``doc_to_quads`` list (size-guarded and
canonically relabeled) versus the reader's ``stream_doc_quads``
generator.  The doc API (functions/doc_api.py) runs ``pages_fn`` over
its own per-script rows.  A script that raises gets ``script_error``'s
text on every path.

Per-task fixed cost: at the start of every task a pyspark worker calls
``importlib.invalidate_caches()``, and on Python 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
central directory.  A warm worker holds about 16 of them, all on its
launch ``PYTHONPATH`` (the pyspark zip, one importer per imported
subpackage; the py4j zip; the spark-core jar), which cost about 0.1 s
per task on 4 vCPUs.  Every engine ``mapInPandas`` function therefore
ends with ``release_launch_zip_finders()``, which drops those importers
(and only those) so the next task in the same worker skips the
re-reads.  So does every per-group function (``applyInPandas``'s
``materialize_graphs`` fold, the ``applyInPandasWithState`` operators
of ``streaming.stateful``), which runs once per group: one call costs
about 7 µs with 90 importer-cache entries (one 4-vCPU Xeon), linear in
the cache size, next to the per-group pandas work.

Blank-node identity at cluster scale: doc-local labels (``_:b0``…) are
rewritten to ``_:h<sha256(url ‖ script_index ‖ label)>`` inside the UDF.
Deterministic given the row, so re-running a partition after failure
produces identical triples — the idempotence the resume path relies on
(north rule).  Replaces the reference's global mutable namer
(/root/reference/lib/json/ld/utils.rb:283-309), which cannot exist
cluster-wide.
"""

from __future__ import annotations

import hashlib
import os
import sys
import zipimport
from typing import Callable, Iterable, Iterator

from pyspark.sql import types as T

from .canon import canonicalize_quads
from .context import EMPTY_CACHE, ContextCache
from .errors import DocumentTooLarge, JsonLdError
from .rdf_model import XSD_STRING, Quad
from .sources.html_jsonld import ExtractedDoc, extract_jsonld
from .to_rdf import doc_to_quads

# A batch-path script whose quad list exceeds this becomes a
# ``document too large`` row instead of its triples.
MAX_QUADS_PER_DOC = 100_000

# A batch-path or doc-API page over this many UTF-8 bytes becomes one
# ``document too large`` row before its scripts are parsed.
MAX_HTML_BYTES = 64_000_000

# Most rows one output frame of the mapInPandas loop carries, on every
# path.  Frames this small let the JVM decode, filter and write one
# frame while the Python worker builds the next, so a task holding a
# giant page streams through the Arrow crossing instead of handing it
# over in one piece after all of its Python work.  On 4 vCPUs, 4,096
# rows cut stream_bounded_dump's job_s by about 12% against 50,000;
# in sizing runs 1,024 rows was slower than 4,096 and 10,000 no better.
# An input batch of ordinary pages usually yields fewer rows than the
# bound and leaves as one frame, flushed at the batch's end.
CHUNK_ROWS = 4_096

# Output schema of the fused page→triples stage.  ``error`` is NULL on
# triple rows; error rows carry NULL subj/pred/obj.
TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("subj", T.StringType(), True),
        T.StructField("pred", T.StringType(), True),
        T.StructField("obj", T.StringType(), True),
        T.StructField("obj_is_literal", T.BooleanType(), True),
        T.StructField("obj_datatype", T.StringType(), True),
        T.StructField("obj_lang", T.StringType(), True),
        T.StructField("graph", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

TRIPLE_COLS = [f.name for f in TRIPLES_SCHEMA.fields]

# Per-executor cache singleton: rebuilding ContextCache from the
# broadcast dict once per python worker, not once per batch.  Keyed by
# (version, id(entries)) AND retaining the entries dict itself: a bare
# id() key goes stale when CPython reuses a garbage-collected dict's
# address for a different broadcast in a reused worker, silently
# expanding documents against the wrong contexts.
_CACHE_BY_KEY: dict[tuple, tuple[dict, ContextCache]] = {}


def _get_cache(entries: dict | None, version: str) -> ContextCache:
    if entries is None:
        return EMPTY_CACHE
    key = (version, id(entries))
    hit = _CACHE_BY_KEY.get(key)
    if hit is not None and hit[0] is entries:
        return hit[1]
    cache = ContextCache(entries, version=version)
    _CACHE_BY_KEY.clear()  # only ever one live broadcast per job
    _CACHE_BY_KEY[key] = (entries, cache)
    return cache


def salt_bnode(url: str, script_index: int, label: str) -> str:
    h = hashlib.sha256(f"{url}|{script_index}|{label}".encode()).hexdigest()
    return "_:h" + h[:24]


def _salt_quoted_term(url: str, script_index: int, term: str) -> str:
    """Salt bnode labels INSIDE an N-Triples-star quoted term so the
    labels referenced by an annotation triple match the salted global
    ids of the asserted triple.  Uses canon's escape-aware segment scan
    and full label charset — a regex lookbehind misreads a closing
    quote preceded by an ESCAPED backslash, and a narrower token regex
    would tokenize '_:x-1' as phantom '_:x' (see canon.py:47-78)."""
    from .canon import _map_quoted

    return _map_quoted(term, lambda b: salt_bnode(url, script_index, b))


def salt_quad_to_row(url: str, si: int, q: Quad, salt) -> tuple:
    """One output row with doc-scoped bnode salting.  Schema convention:
    NULL obj_datatype + obj_is_literal ⇒ xsd:string (a validity bit
    instead of a 40-byte string per row through Arrow, shuffle and
    parquet)."""
    dt = None if q.obj_datatype == XSD_STRING else q.obj_datatype
    s = salt(q.subj) if q.subj.startswith("_:") else q.subj
    if s.startswith("<<"):
        s = _salt_quoted_term(url, si, s)
    p = salt(q.pred) if q.pred.startswith("_:") else q.pred
    o = (
        salt(q.obj)
        if (not q.obj_is_literal and q.obj.startswith("_:"))
        else q.obj
    )
    if not q.obj_is_literal and o.startswith("<<"):
        o = _salt_quoted_term(url, si, o)
    g = (
        salt(q.graph)
        if (q.graph is not None and q.graph.startswith("_:"))
        else q.graph
    )
    return (url, s, p, o, q.obj_is_literal, dt, q.obj_lang, g, None)


def _error_row(url: str, error: str) -> tuple:
    return (url, None, None, None, None, None, None, None, error)


def script_error(e: Exception) -> str:
    """The error column of a script whose processing raised ``e``: a
    JSON-LD error's code, ``recursion limit``, or ``internal: <message>``
    for anything else."""
    if isinstance(e, JsonLdError):
        return e.code
    if isinstance(e, RecursionError):
        return "recursion limit"
    return f"internal: {e}"


def page_scripts(
    url: str, html, max_html_bytes: int | None = None
) -> list[ExtractedDoc]:
    """The page-level half of the per-page loop, shared by the triples
    loop and the doc API: the page's ld+json scripts, each either parsed
    (``error`` None, ``parsed`` set) or an invalid-script error.  NULL
    html has no scripts.  A page over ``max_html_bytes`` UTF-8 bytes
    (``None``: no gate) or one the extractor chokes on comes back as a
    single page-level error with script index -1."""
    if html is None:
        return []
    if max_html_bytes is not None:
        n_bytes = len(html)
        if isinstance(html, str) and n_bytes > max_html_bytes // 4:
            # str input measures CHARS; a mostly-multibyte page could be
            # up to 4x the char count in bytes.  chars <= budget/4
            # provably fits; only the gray zone pays an encode to
            # measure exactly.
            n_bytes = len(html.encode("utf-8", "replace"))
        if n_bytes > max_html_bytes:
            # cheap pre-parse gate: a pathological multi-hundred-MB page
            # would otherwise be JSON-parsed wholesale inside the worker
            # (the MAX_QUADS_PER_DOC guard fires only AFTER the memory
            # is spent)
            msg = f"document too large: {n_bytes} bytes > {max_html_bytes}"
            return [ExtractedDoc("", None, -1, msg)]
    try:
        return extract_jsonld(html, url)
    except Exception as e:  # noqa: BLE001 — malformed page must not kill executor
        return [ExtractedDoc("", None, -1, f"extract: {e}")]


def iter_page_rows(
    url: str,
    html,
    cache: ContextCache,
    script_quads: Callable[[object, str, ContextCache, list], Iterable[Quad]],
    max_html_bytes: int | None = None,
) -> Iterator[tuple]:
    """THE per-page row loop: page-level and invalid-script error rows,
    then per script the quads ``script_quads(doc, base, cache,
    warnings_out)`` produces as salted triple rows, followed by the
    script's deduped ``warning:`` rows — observability that never
    suppresses output.  A script that raises yields one error row
    (``script_error``) after whatever rows it already produced: none
    when ``script_quads`` returns a list, some when it is a
    generator."""
    for d in page_scripts(url, html, max_html_bytes):
        if d.error:
            yield _error_row(url, d.error)
            continue
        si = d.script_index
        # one sha256 per DISTINCT label per doc, not per occurrence — a
        # bnode typically appears in several quads
        salted: dict[str, str] = {}

        def _salt(label: str, _u=url, _si=si, _m=salted) -> str:
            s = _m.get(label)
            if s is None:
                s = salt_bnode(_u, _si, label)
                _m[label] = s
            return s

        warnings: list = []
        try:
            for q in script_quads(d.parsed, d.base or url, cache, warnings):
                yield salt_quad_to_row(url, si, q, _salt)
        except Exception as e:  # noqa: BLE001
            yield _error_row(url, script_error(e))
            continue
        for w in dict.fromkeys(warnings):  # dedup, keep order
            yield _error_row(url, f"warning: {w}")


def page_to_rows(
    url: str,
    html,
    cache: ContextCache,
    rdf_direction: str | None = None,
    produce_generalized_rdf: bool = False,
    canonical_bnodes: bool = True,
    max_html_bytes: int = MAX_HTML_BYTES,
    rdfstar: bool = False,
) -> list[tuple]:
    """All triple/error rows for one page of the batch path (pure Python
    — unit-testable without Spark).  Each script's quads are a list
    built before its first row, so a script yields all of its rows or
    only an error row."""

    def script_quads(doc, base, cache, warnings):
        quads = doc_to_quads(
            doc,
            base=base,
            cache=cache,
            rdf_direction=rdf_direction,
            produce_generalized_rdf=produce_generalized_rdf,
            warnings_out=warnings,
            rdfstar=rdfstar,
        )
        if len(quads) > MAX_QUADS_PER_DOC:
            raise DocumentTooLarge(f"{len(quads)} quads > {MAX_QUADS_PER_DOC}")
        if canonical_bnodes:
            # URDNA2015-style relabel: labels become a function of the
            # graph, not the JSON key order → the salted global ID of a
            # bnode is stable across re-serializations of the same content
            quads = canonicalize_quads(quads)
        return quads

    return list(iter_page_rows(url, html, cache, script_quads, max_html_bytes))


def release_launch_zip_finders() -> None:
    """Drop from ``sys.path_importer_cache`` every ``zipimporter`` whose
    archive is an entry of the worker's ``PYTHONPATH``, so the next
    task's ``importlib.invalidate_caches()`` has none of them to
    re-read.  That variable is Spark's launch path: the pyspark zip,
    the py4j zip and the spark-core jar, files Spark never rewrites
    while a worker lives.  Modules already imported are untouched, and
    a later import through a dropped path entry re-creates its importer
    from ``zipimport._zip_directory_cache`` without a re-read.

    Kept: ``--py-files`` archives, which live under the SparkFiles root
    and which every task re-adds to ``sys.path`` (they are what
    ``invalidate_caches`` is there for), and every ``FileFinder``.  In
    the driver and in tests pyspark comes from site-packages, so
    nothing matches."""
    launch = {
        os.path.abspath(p)
        for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if p
    }
    cache = sys.path_importer_cache
    for key, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.archive in launch:
            cache.pop(key, None)


def pages_fn(
    cache_bc,
    cache_version: str,
    page_rows: Callable[[str, object, ContextCache], Iterable[tuple]],
    columns: list[str] = TRIPLE_COLS,
):
    """THE mapInPandas loop: ``page_rows(url, html, cache)`` over every
    page, rows (named ``columns``) leaving in frames of at most
    ``CHUNK_ROWS``, flushed at the end of each input batch.  The bound
    is read here, when the function is built, so it travels in the
    pickled closure to the workers.  ``cache_bc`` is a Spark broadcast
    of the raw context-cache dict (url → context JSON).

    The function ends, however it ends, with
    ``release_launch_zip_finders()``: it drops the worker's launch-path
    zip importers (pyspark, py4j, spark-core jar) and keeps
    ``--py-files`` archives and ``FileFinder``s, so the next task in
    this worker does not re-read those archives' directories."""
    import pandas as pd

    max_rows = CHUNK_ROWS

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        try:
            entries = cache_bc.value if cache_bc is not None else None
            cache = _get_cache(entries, cache_version)
            out: list[tuple] = []
            for pdf in batches:
                for url, html in zip(pdf["url"].to_numpy(), pdf["html"].to_numpy()):
                    for row in page_rows(url, html, cache):
                        out.append(row)
                        if len(out) >= max_rows:
                            yield pd.DataFrame(out, columns=columns)
                            out = []
                if out:
                    yield pd.DataFrame(out, columns=columns)
                    out = []
        finally:
            release_launch_zip_finders()

    return fn


def make_pages_to_triples(
    cache_bc,
    cache_version: str = "v0",
    rdf_direction: str | None = None,
    produce_generalized_rdf: bool = False,
    canonical_bnodes: bool = True,
    rdfstar: bool = False,
):
    """Build the batch mapInPandas function (see ``pages_fn``); it reads
    ``MAX_HTML_BYTES`` when built, as ``pages_fn`` reads its bound."""
    max_html_bytes = MAX_HTML_BYTES

    def page_rows(url, html, cache):
        return page_to_rows(
            url,
            html,
            cache,
            rdf_direction,
            produce_generalized_rdf=produce_generalized_rdf,
            canonical_bnodes=canonical_bnodes,
            max_html_bytes=max_html_bytes,
            rdfstar=rdfstar,
        )

    return pages_fn(cache_bc, cache_version, page_rows)
