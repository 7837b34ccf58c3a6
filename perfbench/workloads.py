"""The benchmark workloads: inputs, the timed job, and output checks.

Every workload calls the public ``jsonld_spark`` API the way a user
would.  Checks compare the Spark output against an in-process run of the
same per-page functions over the same generated pages:

* the triple-row count and an order-independent digest (a sum of
  per-row sha256 prefixes, computed identically in Spark SQL and in
  Python), with error rows excluded;
* the set of failed pages against the pages the generator planted;
* on the crawl workloads, whose timed job is ``extract``, Spark's rows
  for a seeded sample of pages against ``udfs.page_to_rows`` row for row;
* on ``kg_build_linked``, ``written_triples`` and the written rows
  against an in-process union-find over the extracted sameAs edges.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

import gen

ROW_COLS = ["url", "subj", "pred", "obj", "obj_is_literal", "obj_datatype", "obj_lang", "graph"]
NULL = "␀"
SEP = "\x1f"
ARROW_BATCH_ROWS = 10_000  # Spark's default spark.sql.execution.arrow.maxRecordsPerBatch
SAMPLE_PAGES = 64
WARMUP_PAGES = 64
CACHE_VERSION = "v1"
NUM_BUCKETS = 16  # output buckets of KGPipeline.run, sized to the linked crawl


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # corpus shape in gen.generate
    pages: int
    smoke_pages: int
    n_files: int
    gen_kw: dict = field(default_factory=dict)
    # the fewest timed runs.  The median is steadiest when every run times
    # the same run positions: with run_seconds 10 the count, not the
    # clock, ends the timed window
    min_timed: int = 2


WORKLOADS = {
    w.name: w
    for w in [
        # the two crawls are runnable with --workload, but kept out of
        # BENCHMARK.json to bound the benchmark's total run time
        Workload("crawl_scripted", "scripted", 8_000, 300, 8),
        Workload("crawl_sparse", "sparse", 16_000, 300, 8),
        Workload("kg_build_linked", "linked", 1_500, 200, 8, min_timed=4),
        # 32 part files of 20 pages and 16 files per trigger: two
        # micro-batches, each with four giant pages in files four apart, so
        # the four cores share them.  One giant per batch put the job's
        # critical path on one Python worker, and with it on whichever vCPU
        # that worker ran on: on a 4-vCPU VM, run medians of 10 seeds spread
        # 0.27 (IQR/median), against 0.12-0.18 with the giants shared
        Workload("stream_bounded_dump", "dump", 640, 192, 32,
                 {"n_giant": 8, "giant_nodes": 4_000}, min_timed=8),
    ]
}
SMOKE_GEN_KW = {"dump": {"n_giant": 2, "giant_nodes": 500}}


# --- inputs -----------------------------------------------------------------------


@dataclass
class Inputs:
    corpus: gen.Corpus
    path: str  # all pages, parquet part files
    warmup_path: str  # a small slice of the same pages
    n_files: int

    @property
    def n_pages(self) -> int:
        return len(self.corpus.rows)


def prepare_inputs(w: Workload, seed: int, cache_dir: str, smoke: bool, keep: int = 8) -> Inputs:
    """Generate the pages in memory and write them once per (workload,
    size, seed) under ``cache_dir``; the oldest cached inputs beyond
    ``keep`` are removed."""
    n = w.smoke_pages if smoke else w.pages
    kw = SMOKE_GEN_KW.get(w.kind, w.gen_kw) if smoke else w.gen_kw
    corpus = gen.generate(w.kind, n, seed, **kw)
    base = os.path.join(cache_dir, f"{w.name}-n{n}-s{seed}")
    path, warm = os.path.join(base, "pages"), os.path.join(base, "warmup")
    if not os.path.isdir(warm):
        gen.write_parquet(corpus, path, w.n_files)
        # the tail: the dump workload's first page is a giant one
        gen.write_parquet(gen.Corpus(corpus.rows[-WARMUP_PAGES:]), warm, 2)
    os.utime(base)
    cached = sorted(
        (os.path.join(cache_dir, d) for d in os.listdir(cache_dir)),
        key=os.path.getmtime,
    )
    for old in cached[:-keep]:
        shutil.rmtree(old, ignore_errors=True)
    return Inputs(corpus, path, warm, w.n_files)


# --- digests ------------------------------------------------------------------------


def _field(v) -> str:
    if v is None:
        return NULL
    if isinstance(v, str):
        return v
    if isinstance(v, float) and v != v:  # pandas NaN for a missing value
        return NULL
    return "true" if v else "false"  # obj_is_literal (bool or numpy bool)


def row_hash(row) -> int:
    h = hashlib.sha256(SEP.join(_field(v) for v in row).encode("utf-8")).hexdigest()
    return int(h[:15], 16)


def digest(rows) -> tuple[int, int]:
    """(row count, order-independent digest) of 8-column triple rows."""
    n = d = 0
    for r in rows:
        n += 1
        d += row_hash(r)
    return n, d


def spark_row_hash():
    from pyspark.sql import functions as F

    text = F.concat_ws(SEP, *[F.coalesce(F.col(c).cast("string"), F.lit(NULL)) for c in ROW_COLS])
    return F.conv(F.substring(F.sha2(text, 256), 1, 15), 16, 10).cast("decimal(38,0)")


def spark_digest(df) -> tuple[int, int]:
    from pyspark.sql import functions as F

    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(spark_row_hash()).alias("d")).collect()[0]
    return int(r.n), int(r.d or 0)


def _failed(error) -> bool:
    return error is not None and not error.startswith("warning:")


# --- in-process replay ------------------------------------------------------------------


class _Broadcast:
    """Stands in for the Spark broadcast the UDF factories read."""

    def __init__(self, value):
        self.value = value


def python_batches(inputs: Inputs) -> list[list]:
    """The pages the JVM pre-filter lets through, as the pandas batches a
    Spark task hands the Python function: one group per part file, at
    most ``ARROW_BATCH_ROWS`` rows a batch."""
    import pandas as pd

    rows = inputs.corpus.rows
    per = -(-len(rows) // inputs.n_files)
    groups = []
    for k in range(inputs.n_files):
        part = [(r[0], r[2]) for r in rows[k * per:(k + 1) * per] if b"ld+json" in r[2].lower()]
        groups.append([
            pd.DataFrame(part[i:i + ARROW_BATCH_ROWS], columns=["url", "html"])
            for i in range(0, len(part), ARROW_BATCH_ROWS)
        ])
    return groups


@dataclass
class Replay:
    rows: list  # 9-column rows, error column last
    wall_s: float
    chunks: int  # frames the function yielded


def replay(make_fn, groups, tracer=None) -> Replay:
    """Run a mapInPandas function in this process over ``groups``.  A
    fresh context-cache dict per replay keeps its parse memo cold, as in
    a new Python worker."""
    fn = make_fn(_Broadcast(dict(gen.context_entries())), CACHE_VERSION)
    frames = []
    t0 = time.perf_counter()
    for batches in groups:
        it = fn(iter(batches))
        while True:
            if tracer is None:
                frame = next(it, None)
            else:
                with tracer.span("udfs.pandas_build"):
                    frame = next(it, None)
            if frame is None:
                break
            frames.append(frame)
    wall = time.perf_counter() - t0
    rows = [r for f in frames for r in f.itertuples(index=False, name=None)]
    return Replay(rows, wall, len(frames))


def batch_fn(entries_bc, version):
    from jsonld_spark.udfs import make_pages_to_triples

    return make_pages_to_triples(entries_bc, version)


def reader_fn(entries_bc, version):
    from jsonld_spark.streaming import make_streaming_pages_to_triples

    return make_streaming_pages_to_triples(entries_bc, version)


# --- jobs -------------------------------------------------------------------------


class Job:
    """One workload's job on a live session.  ``run`` is the timed part;
    ``reset`` (untimed) removes what the previous run wrote."""

    def __init__(self, w: Workload, spark, pipe, pages_path: str, out_dir: str):
        self.w, self.spark, self.pipe = w, spark, pipe
        self.pages_path, self.out_dir = pages_path, out_dir
        self.result = None

    def reset(self):
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def run(self):
        if self.w.kind in ("scripted", "sparse"):
            pages = self.spark.read.parquet(self.pages_path)
            self.pipe.extract(pages).write.format("noop").mode("overwrite").save()
        elif self.w.kind == "linked":
            pages = self.spark.read.parquet(self.pages_path)
            self.result = self.pipe.run(
                pages, self.out_dir, run_id="perfbench", resume=False, link_entities=True
            )
        else:
            from jsonld_spark.streaming import stream_pages_to_triples

            q = stream_pages_to_triples(
                self.spark,
                self.pages_path,
                os.path.join(self.out_dir, "triples"),
                os.path.join(self.out_dir, "checkpoint"),
                cache_entries=gen.context_entries(),
                cache_version=CACHE_VERSION,
                bounded_reader=True,
                available_now=True,
            )
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"streaming query failed: {q.exception()}")
            self.result = q.recentProgress


# --- checks -------------------------------------------------------------------------


@dataclass
class CheckResult:
    ok: bool = True
    failures: list = field(default_factory=list)
    failed_pages: int = 0
    reference: Replay | None = None

    def expect(self, what: str, got, want) -> None:
        if got != want:
            self.ok = False
            self.failures.append(f"{what}: got {got!r}, want {want!r}")


def _triples(rows):
    return [r[:8] for r in rows if r[8] is None]


def linked_reference(triple_rows) -> tuple[int, int]:
    """``KGPipeline.run(link_entities=True)``'s written rows, computed in
    this process: union-find over sameAs edges with the least IRI as the
    canonical one, subjects and resource objects rewritten, degenerate
    sameAs rows dropped, duplicates removed."""
    from jsonld_spark.operators.graph import SAME_AS_PREDICATES

    parent: dict[str, str] = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for _, s, p, o, lit, *_ in triple_rows:
        if p in SAME_AS_PREDICATES and not lit and s != o:
            a, b = find(s), find(o)
            if a != b:
                parent[max(a, b)] = min(a, b)
    out = set()
    for url, s, p, o, lit, dt, lang, g in triple_rows:
        s2 = find(s)
        o2 = o if lit else find(o)
        if p in SAME_AS_PREDICATES and s2 == o2:
            continue
        out.add((url, s2, p, o2, lit, dt, lang, g))
    return digest(out)


def sample_check(check: CheckResult, inputs: Inputs, spark, pipe, seed: int) -> None:
    """Spark ``extract`` rows equal ``udfs.page_to_rows`` on sampled pages."""
    from pyspark.sql import functions as F

    from jsonld_spark.context import ContextCache
    from jsonld_spark.udfs import page_to_rows

    rows = inputs.corpus.rows
    picked = random.Random(seed).sample(rows, min(SAMPLE_PAGES, len(rows)))
    cache = ContextCache(gen.context_entries(), version=CACHE_VERSION)
    want = Counter(r for p in picked for r in page_to_rows(p[0], p[2], cache))
    pages = spark.read.parquet(inputs.path).filter(F.col("url").isin([p[0] for p in picked]))
    got = Counter(tuple(r) for r in pipe.extract(pages).collect())
    check.expect("sample rows only in spark", list((got - want).elements())[:3], [])
    check.expect("sample rows only in-process", list((want - got).elements())[:3], [])


def crawl_check_pass(job: Job, inputs: Inputs):
    """On the crawl workloads, whose timed job writes to a noop sink: the
    same ``extract`` aggregated to (triple rows, digest, failed urls).
    Run before the timed jobs."""
    from pyspark.sql import functions as F

    if job.w.kind not in ("scripted", "sparse"):
        return None
    ext = job.pipe.extract(job.spark.read.parquet(inputs.path))
    is_triple = F.col("error").isNull()
    failed = ~is_triple & ~F.col("error").startswith("warning:")
    return ext.agg(
        F.count(F.when(is_triple, 1)).alias("n"),
        F.sum(F.when(is_triple, spark_row_hash())).alias("d"),
        F.collect_set(F.when(failed, F.col("url"))).alias("failed"),
    ).collect()[0]


def reference(w: Workload, inputs: Inputs) -> Replay:
    """The workload's pages through its UDF in this process."""
    return replay(reader_fn if w.kind == "dump" else batch_fn, python_batches(inputs))


def check_outputs(job: Job, inputs: Inputs, seed: int, spark_pass, ref: Replay) -> CheckResult:
    w, spark, pipe = job.w, job.spark, job.pipe
    check = CheckResult(reference=ref)
    ref_failed = {r[0] for r in ref.rows if _failed(r[8])}
    check.expect("failed pages (in-process vs planted)", sorted(ref_failed ^ inputs.corpus.failed_urls)[:3], [])
    if w.kind in ("scripted", "sparse"):
        r = spark_pass
        check.expect("triple rows and digest", (int(r.n), int(r.d or 0)), digest(_triples(ref.rows)))
        check.expect("failed pages (spark vs in-process)", sorted(set(r.failed) ^ ref_failed)[:3], [])
        check.failed_pages = len(r.failed)
        sample_check(check, inputs, spark, pipe, seed)
    elif w.kind == "linked":
        stats = job.result
        triples = _triples(ref.rows)
        n_ref, d_ref = linked_reference(triples)
        written = spark.read.parquet(stats["out"]).select(*ROW_COLS)
        check.expect("extracted triples", stats["triples"], len(triples))
        check.expect("error rows", stats["errors"], sum(1 for r in ref.rows if _failed(r[8])))
        check.expect("written_triples", stats["written_triples"], n_ref)
        check.expect("written rows and digest", spark_digest(written), (n_ref, d_ref))
        check.failed_pages = stats["errors"]
    else:
        written = spark.read.parquet(os.path.join(job.out_dir, "triples")).select(*ROW_COLS)
        check.expect("streamed triple rows and digest", spark_digest(written), digest(_triples(ref.rows)))
        check.failed_pages = len(ref_failed)
    return check
