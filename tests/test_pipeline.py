"""Spark pipeline tests: pages → triples, lineage/resume, entity linking."""

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from jsonld_spark.context import ContextCache
from jsonld_spark.pipeline import KGPipeline
from jsonld_spark.sources.pages import build_context_cache_entries
from jsonld_spark.udfs import page_to_rows

from conftest import DATA_DIR, REPO


@pytest.fixture(scope="module")
def pipe(spark):
    return KGPipeline(spark, build_context_cache_entries(), cache_version="v1")


@pytest.fixture(scope="module")
def pages(spark, pages_path):
    return spark.read.parquet(pages_path)


def test_page_to_rows_pure_python():
    cache = ContextCache(build_context_cache_entries())
    html = (
        '<script type="application/ld+json">'
        '{"@context": {"@vocab": "http://v.e/"}, "@id": "http://e.com/a", '
        '"p": "x", "child": {"q": 1}}</script>'
    ).encode()
    rows = page_to_rows("http://page.example/1", html, cache)
    assert all(r[8] is None for r in rows)
    preds = {r[2] for r in rows}
    assert preds == {"http://v.e/p", "http://v.e/child", "http://v.e/q"}
    # bnode got salted deterministically
    bnodes = [r[1] for r in rows if r[1].startswith("_:")]
    assert bnodes and all(b.startswith("_:h") for b in bnodes)
    assert page_to_rows("http://page.example/1", html, cache) == rows


def test_bnode_salting_unique_across_scripts():
    cache = ContextCache()
    body = '{"@context": {"@vocab": "http://v.e/"}, "p": {"q": "x"}, "@id": "http://e.com/a"}'
    html = (
        f'<script type="application/ld+json">{body}</script>'
        f'<script type="application/ld+json">{body}</script>'
    ).encode()
    rows = page_to_rows("http://page.example/1", html, cache)
    bnodes = {r[1] for r in rows if r[1] and r[1].startswith("_:")}
    assert len(bnodes) == 2  # same doc-local label, different script salt


def test_extract_triples(spark, pipe, pages):
    df = pipe.extract(pages).cache()
    n_triples = df.filter(F.col("error").isNull()).count()
    n_errors = df.filter(F.col("error").isNotNull()).count()
    assert n_triples > 300  # ~300 pages, most with ≥1 script
    assert n_errors > 0  # malformed + absent-context rows exist
    codes = {r.error for r in df.filter(F.col("error").isNotNull()).select("error").distinct().collect()}
    assert "invalid script element" in codes
    assert "loading remote context failed" in codes
    df.unpersist()


def test_no_relative_iris_in_output(spark, pipe, pages):
    tri = pipe.triples(pages)
    bad = tri.filter(
        ~F.col("subj").startswith("_:") & ~F.col("subj").contains(":")
    ).count()
    assert bad == 0


def test_run_lineage_and_resume(spark, pipe, pages):
    out = os.path.join(DATA_DIR, "kg_out_test")
    shutil.rmtree(out, ignore_errors=True)
    stats1 = pipe.run(pages, out, run_id="r1", resume=True)
    assert stats1["triples"] > 0
    assert stats1["skipped_buckets"] == 0

    lineage = spark.read.parquet(os.path.join(out, "_lineage"))
    assert lineage.filter(F.col("status") == "complete").count() > 0
    total_from_lineage = lineage.agg(F.sum("triple_count")).collect()[0][0]
    assert total_from_lineage == stats1["triples"]

    # resume (default out_dir scope): a retried job gets a NEW run_id
    # but must still skip buckets a previous attempt completed
    stats2 = pipe.run(pages, out, run_id="r2", resume=True)
    assert stats2["skipped_buckets"] > 0
    written = spark.read.parquet(os.path.join(out, "triples"))
    assert written.count() == stats1["triples"]

    # run_id scope: "r3" never completed anything, so nothing skips —
    # the mode for deployments that reuse an out_dir across inputs
    stats3 = pipe.run(pages, out, run_id="r3", resume=True, resume_scope="run_id")
    assert stats3["skipped_buckets"] == 0
    assert stats3["triples"] == stats1["triples"]
    # ...and a second pass under the SAME run_id skips everything
    stats4 = pipe.run(pages, out, run_id="r3", resume=True, resume_scope="run_id")
    assert stats4["skipped_buckets"] > 0
    assert (
        spark.read.parquet(os.path.join(out, "triples")).count()
        == stats1["triples"]
    )
    with pytest.raises(ValueError, match="resume_scope"):
        pipe.run(pages, out, run_id="r4", resume_scope="bogus")


def test_resume_after_partial_failure(spark, pipe, pages):
    """Simulate a mid-run crash: only half the buckets got lineage rows."""
    out = os.path.join(DATA_DIR, "kg_out_partial")
    shutil.rmtree(out, ignore_errors=True)
    full = pipe.run(pages, out, run_id="full", resume=False)

    # drop lineage for half the buckets → those count as incomplete
    lineage_path = os.path.join(out, "_lineage")
    lin = spark.read.parquet(lineage_path).cache()
    lin.count()
    keep = lin.filter(F.col("part_id") % 2 == 0)
    tmp = lineage_path + "_tmp"
    keep.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(lineage_path)
    os.rename(tmp, lineage_path)

    stats = pipe.run(pages, out, run_id="resumed", resume=True)
    assert stats["skipped_buckets"] > 0
    written = spark.read.parquet(os.path.join(out, "triples"))
    # idempotent completion: exactly the full count, no dupes
    assert written.count() == full["triples"]


def test_text_byte_identical_invariant(spark, pages, pipe):
    """Per-row invariant (BASELINE.json:15): pipeline never rewrites text."""
    tri = pipe.triples(pages)
    joined = pages.join(tri.select("url").distinct(), "url", "left_semi")
    orig = {r.url: r.text for r in pages.select("url", "text").collect()}
    for r in joined.select("url", "text").collect():
        assert r.text == orig[r.url]


def test_deterministic_across_runs(spark, pipe, pages):
    a = sorted(map(tuple, pipe.triples(pages).collect()))
    b = sorted(map(tuple, pipe.triples(pages).collect()))
    assert a == b


def test_rdf_direction_and_generalized_options(spark):
    """Pipeline-level rdfDirection + produceGeneralizedRdf pass-through."""
    import json as _json

    doc = {
        "@context": {"@vocab": "http://v/", "@language": "ar", "@direction": "rtl"},
        "@id": "http://e/a",
        "label": "x",
        "_:bp": "generalized",
    }
    html = (
        '<script type="application/ld+json">' + _json.dumps(doc) + "</script>"
    ).encode()
    pages = spark.createDataFrame(
        [("http://u/1", html)], "url string, html binary"
    )
    default = KGPipeline(spark).triples(pages).collect()
    assert all(not r.pred.startswith("_:") for r in default)
    assert any(r.obj_lang == "ar" for r in default)

    i18n = KGPipeline(spark, rdf_direction="i18n-datatype").triples(pages).collect()
    assert any(
        r.obj_datatype == "https://www.w3.org/ns/i18n#ar_rtl" for r in i18n
    )

    gen = (
        KGPipeline(spark, produce_generalized_rdf=True).triples(pages).collect()
    )
    assert any(r.pred.startswith("_:") for r in gen)


def test_warnings_emitted_as_rows(spark):
    """Dropped keys / malformed language tags surface as warning rows
    WITHOUT suppressing the page's triples."""
    import json as _json

    doc = {
        "@context": {"@vocab": "http://v/"},
        "@id": "http://e/a",
        "p": "kept",
        "unmapped:": None,
        "http://x/lang": {"@value": "v", "@language": "not a tag!"},
    }
    doc.pop("unmapped:")
    doc["relative-key-gets-dropped"] = "x"
    del doc["relative-key-gets-dropped"]
    # a key that expands to a relative IRI is dropped with a warning
    doc2 = {
        "@id": "http://e/a",
        "nokeyword": "dropped",
        "http://v/p": "kept",
        "http://v/l": {"@value": "v", "@language": "bad lang!"},
    }
    html = ('<script type="application/ld+json">' + _json.dumps(doc2) + "</script>").encode()
    pages = spark.createDataFrame([("http://u/w", html)], "url string, html binary")
    rows = KGPipeline(spark).extract(pages).collect()
    warnings = [r.error for r in rows if r.error and r.error.startswith("warning:")]
    triples = [r for r in rows if r.error is None]
    assert any("dropped key" in w for w in warnings)
    assert any("malformed language tag" in w for w in warnings)
    assert any(r.pred == "http://v/p" for r in triples)  # triples kept


def test_resume_safe_under_static_overwrite_conf(spark, pipe, pages):
    """Regression: resume must not truncate completed buckets' output even
    when the session conf is Spark's default static partition-overwrite
    (e.g. a plain spark-submit getOrCreate session) — the writer sets
    partitionOverwriteMode=dynamic per-write."""
    out = os.path.join(DATA_DIR, "kg_out_static_conf")
    shutil.rmtree(out, ignore_errors=True)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        stats1 = pipe.run(pages, out, run_id="r1", resume=True)
        assert stats1["triples"] > 0
        stats2 = pipe.run(pages, out, run_id="r2", resume=True)
        assert stats2["skipped_buckets"] > 0
        written = spark.read.parquet(os.path.join(out, "triples"))
        assert written.count() == stats1["triples"]  # nothing truncated
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_annotation_dropped_with_warning():
    """RDF-star @annotation input degrades to a warning row naming the
    keyword (the reference silently skips it without rdfstar); the rest
    of the document still produces triples."""
    cache = ContextCache(build_context_cache_entries())
    html = (
        '<script type="application/ld+json">'
        '{"@id": "http://e/a", "http://v/p": '
        '{"@id": "http://e/b", "@annotation": {"http://v/certainty": 0.8}}}'
        "</script>"
    ).encode()
    rows = page_to_rows("http://page.example/ann", html, cache)
    warnings = [r[8] for r in rows if r[8] and r[8].startswith("warning:")]
    triples = [r for r in rows if r[8] is None]
    assert any("@annotation" in w for w in warnings)
    assert any(r[2] == "http://v/p" for r in triples)


def test_giant_document_gated_before_parse():
    """A page over max_html_bytes produces a cheap error row instead of
    being JSON-parsed wholesale inside the worker."""
    cache = ContextCache()
    html = (
        '<script type="application/ld+json">{"@id": "http://e/a", '
        '"http://v/p": "' + "x" * 2000 + '"}</script>'
    ).encode()
    rows = page_to_rows("http://page.example/big", html, cache, max_html_bytes=1024)
    assert len(rows) == 1
    assert rows[0][8].startswith("document too large")
    # same page under the limit parses fine
    ok = page_to_rows("http://page.example/big", html, cache, max_html_bytes=10_000)
    assert any(r[8] is None for r in ok)


def test_errors_default_reports_oversized_scriptless_page(spark, pipe, monkeypatch):
    """``errors()`` defaults to ``skip_scriptless=False``: an oversized
    page with no ld+json still reports its 'document too large' row,
    while ``extract()``'s default pre-filter drops the page before the
    size gate."""
    import jsonld_spark.pipeline as pipeline_mod
    from jsonld_spark.udfs import make_pages_to_triples

    monkeypatch.setattr(
        pipeline_mod,
        "make_pages_to_triples",
        lambda *a, **k: make_pages_to_triples(*a, max_html_bytes=1024, **k),
    )
    url = "http://page.example/big-scriptless"
    pages = spark.createDataFrame(
        [(url, b"<html><p>" + b"x" * 4000 + b"</p></html>")],
        "url string, html binary",
    )
    errs = pipe.errors(pages).collect()
    assert [r.url for r in errs] == [url]
    assert errs[0].error.startswith("document too large")
    assert pipe.extract(pages).count() == 0


def test_pipeline_import_races_udfs_import_in_a_thread():
    """Importing ``jsonld_spark.pipeline`` while another thread imports
    ``jsonld_spark.udfs`` (the benchmark replays pages in a thread as
    the Spark session starts) must not break pyspark's package import:
    both modules reach pyspark through ``pyspark.sql`` first."""
    code = (
        "import sys, threading\n"
        "failed = []\n"
        "threading.excepthook = failed.append\n"
        "t = threading.Thread(target=__import__, args=('jsonld_spark.udfs',))\n"
        "t.start()\n"
        "import jsonld_spark.pipeline\n"
        "t.join()\n"
        "sys.exit(1 if failed else 0)\n"
    )
    for _ in range(4):  # the race lost 8 of 12 tries with the bad order
        proc = subprocess.run(
            [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True
        )
        assert proc.returncode == 0, proc.stderr[-2000:]


def test_text_byte_identical_per_url(spark):
    """North-rule per-row invariant: extracted text per url is
    byte-identical end-to-end.  The fused UDF reads only (url, html) —
    text stays columnar — and even when text IS routed through an
    Arrow-batched Python stage, the bytes survive unchanged (NFC vs NFD
    sequences, non-BMP astral chars, control chars)."""
    import pandas as pd
    from pyspark.sql import types as T

    nasty = [
        "café",            # NFC
        "café",           # NFD (must NOT be normalized together)
        "\U0001F600 astral \U00010000",
        "tab\tnewline\nnull-adjacent\x01",
        "​⁠﻿ zero-widths",
    ]
    rows = [(f"http://t.example/{i}", t) for i, t in enumerate(nasty)]
    pages = spark.createDataFrame(rows, "url string, text string")

    def passthrough(batches):
        for pdf in batches:
            yield pdf

    out = pages.mapInPandas(
        passthrough,
        T.StructType(
            [T.StructField("url", T.StringType()), T.StructField("text", T.StringType())]
        ),
    )
    got = {r.url: r.text for r in out.collect()}
    for url, t in rows:
        assert got[url] == t
        assert got[url].encode("utf-8") == t.encode("utf-8")

    # and through the actual pipeline: text is not a UDF input at all —
    # the extraction plan reads only url+html (column pruning), so the
    # text column cannot be altered by construction
    full = spark.createDataFrame(
        [(u, None, b"<html></html>", t, "en") for (u, t) in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    plan = (
        KGPipeline(spark).extract(full)._jdf.queryExecution().executedPlan().toString()
    )
    assert "text" not in plan.split("ReadSchema")[-1][:200]


def test_dedup_pages_keeps_one_per_content(spark, pipe):
    rows = [
        ("http://a.e/1", b"<html>same</html>"),
        ("http://a.e/2", b"<html>same</html>"),   # recrawl duplicate
        ("http://a.e/3", b"<html>other</html>"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    out = pipe.dedup_pages(pages).collect()
    urls = sorted(r.url for r in out)
    assert urls == ["http://a.e/1", "http://a.e/3"]  # min-url keeper


def test_dedup_pages_changed_content_url(spark, pipe):
    """A url recrawled with CHANGED content: its elected payload
    survives, but its OTHER payload that duplicates a different url's
    html must still be dropped — keeper election is per (url, digest),
    not per url."""
    rows = [
        ("http://a.e/1", b"<html>v1</html>"),
        ("http://a.e/1", b"<html>shared</html>"),  # dup of /2's html
        ("http://a.e/2", b"<html>shared</html>"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    out = pipe.dedup_pages(pages).collect()
    got = sorted((r.url, bytes(r.html)) for r in out)
    # v1 group keeper: /1; shared group keeper: min url = /1 with the
    # shared payload — /2's copy is the duplicate that must go
    assert got == [
        ("http://a.e/1", b"<html>shared</html>"),
        ("http://a.e/1", b"<html>v1</html>"),
    ]


def test_dedup_pages_html_never_shuffles(spark, pipe, tmp_path):
    """VERDICT r2 #3: the recrawl dedup must not exchange html bytes.
    Unbucketed: any exchange carrying html must be keyed on url (the
    storage bucketing key), never on the digest.  On a url-bucketed
    pages table: the pages side must have NO exchange at all."""
    import datetime

    rows = [
        (
            f"http://e/{i}",
            datetime.datetime(2026, 1, 1),
            f"<html>{i % 3}</html>".encode(),
            "x",
            "en",
        )
        for i in range(12)
    ]
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    pages = spark.createDataFrame(rows, schema)

    plan = pipe.dedup_pages(pages)._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line and "html" not in line:
            continue
        if "Exchange" in line:
            # an html-bearing exchange is tolerable only keyed on url
            assert "hashpartitioning(url" in line, line

    spark.sql("DROP TABLE IF EXISTS pages_dedup_b")
    (
        pages.write.bucketBy(8, "url")
        .sortBy("url")
        .format("parquet")
        .mode("overwrite")
        .option("path", str(tmp_path / "pages_dedup_b"))
        .saveAsTable("pages_dedup_b")
    )
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force SMJ so this proves the big-keeper-set (100 TB) shape —
        # with broadcast the pages side trivially has no exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        pb = spark.table("pages_dedup_b")
        out = pipe.dedup_pages(pb)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        # the pages (html-bearing) side reads the bucketed layout with
        # NO exchange: the only exchanges in the whole plan are the two
        # THIN keeper-side ones (md5-group, then url-group) — neither
        # carries html/text columns, and the with-html branch scans
        # bucketed.  (The null-html pass-through union adds no exchange.)
        exchange_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
        assert len(exchange_lines) == 2, plan
        for ln in exchange_lines:
            assert "text" not in ln and ", html" not in ln, ln
        assert "Bucketed: true" in plan, plan
        assert out.count() == 3
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS pages_dedup_b")


def test_dedup_pages_null_html_passthrough(spark, pipe):
    """Fetch-failure rows (html NULL) have no content to dedup and must
    pass through — md5(NULL) would otherwise drop them from the keeper
    election silently."""
    rows = [
        ("http://a.e/1", b"<html>x</html>"),
        ("http://a.e/2", None),
        ("http://a.e/3", None),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    out = sorted(r.url for r in pipe.dedup_pages(pages).collect())
    assert out == ["http://a.e/1", "http://a.e/2", "http://a.e/3"]


def test_dedup_pages_same_url_recrawl_collapses(spark, pipe):
    """Round-5 review fix: the most common duplicate — the SAME url
    recrawled with unchanged content at a later warc_ts — collapses to
    the earliest snapshot (election key is min(struct(url, warc_ts))
    per content hash)."""
    import datetime

    t1 = datetime.datetime(2026, 1, 1)
    t2 = datetime.datetime(2026, 2, 1)
    rows = [
        ("http://a.e/1", t1, b"<html>same</html>"),
        ("http://a.e/1", t2, b"<html>same</html>"),   # same-url recrawl
        ("http://a.e/1", t2, b"<html>changed</html>"),  # new content kept
    ]
    pages = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
    out = sorted((r.url, r.warc_ts, bytes(r.html)) for r in pipe.dedup_pages(pages).collect())
    assert out == [
        ("http://a.e/1", t1, b"<html>same</html>"),
        ("http://a.e/1", t2, b"<html>changed</html>"),
    ]


def test_drop_failed_pages_keeps_warning_only_pages(spark, pipe):
    """Round-5 review fix: 'warning:' rows are observability, not
    failures — a page with only warnings keeps its quads; a page with a
    real error row loses them."""
    rows = [
        ("http://w.e/1", "http://s/1", "http://p/x", "v", True, None, None, None, None),
        ("http://w.e/1", None, None, None, None, None, None, None, "warning: dropped key 'junk'"),
        ("http://f.e/2", "http://s/2", "http://p/x", "v", True, None, None, None, None),
        ("http://f.e/2", None, None, None, None, None, None, None, "loading document failed"),
    ]
    from jsonld_spark.udfs import TRIPLES_SCHEMA

    extracted = spark.createDataFrame(rows, TRIPLES_SCHEMA)
    kept = {r.url for r in KGPipeline.drop_failed_pages(extracted).collect()}
    assert kept == {"http://w.e/1"}


def test_rerun_same_run_id_stats_not_doubled(spark, pipe, pages):
    """Round-5 review fix: lineage is append-only, so re-running the
    SAME run_id without resume appends a second complete row per part
    while dynamic overwrite replaced the data — the reported stats must
    dedup per part_id and match what is on disk."""
    out = os.path.join(DATA_DIR, "kg_out_rerun")
    shutil.rmtree(out, ignore_errors=True)
    stats1 = pipe.run(pages, out, run_id="same", resume=False)
    stats2 = pipe.run(pages, out, run_id="same", resume=False)
    assert stats2["triples"] == stats1["triples"]
    written = spark.read.parquet(os.path.join(out, "triples")).count()
    assert written == stats2["triples"]
    shutil.rmtree(out, ignore_errors=True)


def _drop_odd_bucket_lineage(spark, out):
    """Forget the lineage of the odd buckets, as after a mid-run crash."""
    path = os.path.join(out, "_lineage")
    keep = spark.read.parquet(path).filter(F.col("part_id") % 2 == 0)
    keep.write.mode("overwrite").parquet(path + "_tmp")
    shutil.rmtree(path)
    os.rename(path + "_tmp", path)


def test_linked_run_stats_match_disk_and_lineage(spark, pipe, pages):
    """``written_triples`` is the row count on disk and ``triples`` the
    per-bucket-deduped lineage total of the run_id, on a fresh out_dir,
    on a resume that skips buckets, and on a same-run_id re-run without
    resume."""
    out = os.path.join(DATA_DIR, "kg_out_linked_stats")
    shutil.rmtree(out, ignore_errors=True)

    def check(stats):
        on_disk = spark.read.parquet(os.path.join(out, "triples")).count()
        assert stats["written_triples"] == on_disk
        lineage = (
            spark.read.parquet(os.path.join(out, "_lineage"))
            .filter(F.col("run_id") == stats["run_id"])
            .dropDuplicates(["part_id"])
        )
        assert stats["triples"] == lineage.agg(F.sum("triple_count")).first()[0]

    fresh = pipe.run(pages, out, run_id="r1", resume=False, link_entities=True)
    check(fresh)
    assert 0 < fresh["written_triples"] < fresh["triples"]  # linking dedups

    _drop_odd_bucket_lineage(spark, out)
    resumed = pipe.run(pages, out, run_id="r2", resume=True, link_entities=True)
    assert resumed["skipped_buckets"] > 0
    assert 0 < resumed["triples"] < fresh["triples"]  # odd buckets only
    assert resumed["written_triples"] == fresh["written_triples"]
    check(resumed)

    rerun = pipe.run(pages, out, run_id="r2", resume=False, link_entities=True)
    assert rerun["skipped_buckets"] == 0
    assert rerun["triples"] == fresh["triples"]
    assert rerun["written_triples"] == fresh["written_triples"]
    check(rerun)
    shutil.rmtree(out, ignore_errors=True)


def test_linked_run_empty_input_fresh_dir(spark, pipe, pages):
    """No pages into a fresh out_dir: every stat is 0.  The write
    creates no bucket directory, so re-reading the triples to count
    them used to fail with "Unable to infer schema"."""
    out = os.path.join(DATA_DIR, "kg_out_linked_empty")
    shutil.rmtree(out, ignore_errors=True)
    stats = pipe.run(pages.limit(0), out, run_id="e", link_entities=True)
    assert (stats["triples"], stats["errors"], stats["written_triples"]) == (0, 0, 0)
    shutil.rmtree(out, ignore_errors=True)


def test_linked_run_job_count(spark, pipe, pages):
    """Regression guard on Spark jobs per fresh-dir linked run: the
    lineage totals and ``written_triples`` come from the run itself and
    ``_lineage`` is not read when it does not exist.  This run took 21
    jobs while it re-read ``_lineage`` and the written triples, then 14
    while connected components checkpointed its sameAs edges; 9 since
    the lineage aggregate runs first and its sameAs byte bound lets the
    broadcast-sized alias graph be collected from the persisted
    extract."""
    out = os.path.join(DATA_DIR, "kg_out_linked_jobs")
    shutil.rmtree(out, ignore_errors=True)
    sc = spark.sparkContext
    sc.setJobGroup("linked_run_job_count", "linked run job count")
    try:
        pipe.run(pages, out, run_id="j", resume=True, link_entities=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("linked_run_job_count")
    assert len(jobs) <= 9, sorted(jobs)
    shutil.rmtree(out, ignore_errors=True)


def test_linked_run_same_output_on_both_cc_paths(spark, pipe, monkeypatch):
    """A linked run whose pages repeat one sameAs triple (on two pages,
    and twice on one page) writes the same rows, stats and lineage rows
    whether its alias graph is labeled on the driver straight from the
    extract (no checkpoint) or, with the broadcast threshold off, by the
    checkpointed distributed rounds."""
    def script(doc):
        return '<script type="application/ld+json">' + json.dumps(doc) + "</script>"

    same = {"@id": "http://x/b", "http://schema.org/sameAs": {"@id": "http://x/a"}}
    chain = {"@id": "http://x/c", "http://schema.org/sameAs": {"@id": "http://x/b"},
             "http://p/name": "C"}
    named = {"@id": "http://x/b", "http://p/name": "B"}
    pages = spark.createDataFrame(
        [
            ("http://s.e/1", (script(same) + script(same)).encode()),
            ("http://s.e/2", (script(same) + script(named)).encode()),
            ("http://s.e/3", script(chain).encode()),
        ],
        "url string, html binary",
    )
    calls = []
    real = type(pages).checkpoint

    def counted(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(pages), "checkpoint", counted)
    def rows(path):
        return sorted(
            tuple("" if v is None else str(v) for v in r)
            for r in spark.read.parquet(path).collect()
        )

    out = os.path.join(DATA_DIR, "kg_out_linked_paths")
    results = {}
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for threshold in (prev, "-1"):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
            shutil.rmtree(out, ignore_errors=True)
            calls.clear()
            stats = pipe.run(pages, out, run_id="p", link_entities=True)
            stats.pop("seconds")
            results[threshold] = (
                stats,
                rows(os.path.join(out, "triples")),
                rows(os.path.join(out, "_lineage")),
                len(calls),
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        shutil.rmtree(out, ignore_errors=True)
    (stats, written, lineage, n_ckpt), (stats_d, written_d, lineage_d, n_ckpt_d) = (
        results[prev], results["-1"]
    )
    assert n_ckpt == 0 and n_ckpt_d > 1
    assert (stats, written, lineage) == (stats_d, written_d, lineage_d)
    names = {(r[1], r[3]) for r in written if r[2] == "http://p/name"}
    assert names == {("http://x/a", "B"), ("http://x/a", "C")}
    assert stats["triples"] == 6 and stats["written_triples"] == 2


def test_skip_scriptless_prefilter_parity_and_plan(spark, pipe):
    """The JVM pre-filter is semantically transparent on any corpus
    (scriptless pages emit zero rows from the Python scanner anyway)
    and stays JVM-side: one Filter over the scan, still exactly one
    Python stage."""
    from jsonld_spark.sources.pages import gen_page
    import random

    rng = random.Random(7)
    rows = [gen_page(i, rng, scriptless_frac=0.6) for i in range(40)]
    # uppercase-attribute page: scanner matches case-insensitively, so
    # the lower() in the pre-filter must too
    rows.append((
        "http://upper.example/p", rows[0][1],
        b'<script TYPE="APPLICATION/LD+JSON">'
        b'{"@id": "http://upper.example/e", '
        b'"http://v.e/p": "x"}</script>',
        "t", "en",
    ))
    rows.append(("http://null.example/p", rows[0][1], None, None, "en"))
    df = spark.createDataFrame(
        [(u, t, h, x, lg) for (u, t, h, x, lg) in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    on = pipe.extract(df, skip_scriptless=True)
    off = pipe.extract(df, skip_scriptless=False)
    key = lambda r: tuple("" if v is None else str(v) for v in r)  # noqa: E731
    assert sorted(map(key, on.collect())) == sorted(map(key, off.collect()))
    assert on.filter("subj = 'http://upper.example/e'").count() == 1
    plan = on._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "Filter" in plan and "ld+json" in plan


def test_skip_scriptless_filters_before_arrow(spark, pipe):
    """Scriptless pages never reach Python: the filtered count equals
    the ld+json-carrying subset."""
    from jsonld_spark.sources.pages import gen_page
    import random

    rng = random.Random(11)
    rows = [gen_page(i, rng, scriptless_frac=0.5) for i in range(60)]
    df = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    n_with = df.filter(
        "contains(lower(decode(html, 'UTF-8')), 'ld+json')"
    ).count()
    assert 0 < n_with < 60  # the mix actually mixes
    src_count = (
        df.select("url", "html")
        .filter("contains(lower(decode(html, 'UTF-8')), 'ld+json')")
        .count()
    )
    assert src_count == n_with


def test_skip_scriptless_survives_malformed_utf8(spark, pipe):
    """Crawl html is routinely invalid UTF-8: the JVM pre-filter must
    not crash on it (Spark 4 decode() throws MALFORMED_CHARACTER_CODING;
    the cast-based filter is validation-free) and must still KEEP a
    malformed page whose raw bytes contain the ld+json marker."""
    good = (
        b'<script type="application/ld+json">'
        b'{"@id": "http://m.example/e", "http://v.e/p": "x"}</script>'
    )
    rows = [
        ("http://m.example/bad-with-ld", b"\xff\xfe\x80" + good),
        ("http://m.example/bad-plain", b"\xff\xfe\x41 no scripts"),
        ("http://m.example/good", good),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = pipe.extract(df, skip_scriptless=True).collect()  # must not raise
    subjects = {r.subj for r in out if r.subj}
    assert "http://m.example/e" in subjects
    by_url = {r.url for r in out}
    assert "http://m.example/bad-with-ld" in by_url  # kept by the filter


def test_extract_links_survives_malformed_utf8(spark):
    from jsonld_spark.sources.html_jsonld import extract_links

    df = spark.createDataFrame(
        [("http://m.example/p", b'\xff\xfe<a href="/x">l</a>')],
        "url string, html binary",
    )
    assert {r.href for r in extract_links(df).collect()} == {
        "http://m.example/x"
    }


def test_parallelize_small_input_returns_a_streaming_frame_as_is(spark):
    """A streaming frame has no size estimate to ask for: the very same
    frame comes back, with no repartition."""
    from jsonld_spark.pipeline import parallelize_small_input

    stream = spark.readStream.format("rate").load()
    assert parallelize_small_input(stream) is stream
