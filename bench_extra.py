"""Round-7 optimization measurement harness (bench.py is FROZEN for the
driver's measurement — this file exists so the optimization round can
isolate, plan-dump and A/B individual queries without touching it).

Methodology (spark_optimization_guide.md §1):

* same session shape as bench.py (``default_session`` with the bench's
  SCALE_CONF and ``local[$SPARK_GRAFT_CPUS]``), so numbers here predict
  the frozen bench;
* per query: one warm pass, then min over N timed trials of the SAME
  action bench.py times (``.count()``) — plus an optional noop-sink
  trial (computes every column, §1.4) to separate "count-pruned" from
  full-materialization cost;
* ``--plans`` writes ``.explain('formatted')`` for every selected query
  to plans/r07/<query>_<tag>.txt;
* jobs are labelled with setJobDescription (§1.5).

Usage:
  python bench_extra.py [--plans TAG] [--noop] [--trials N] [query ...]
  python bench_extra.py --pages            # pages_to_triples probe only
  python bench_extra.py --pipeline         # full_pipeline_linked only
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# the frozen bench's session shape and inputs, read from its env vars
# (importing bench runs no benchmark: its main() is __main__-guarded)
from bench import CPUS, PAGES_PATH, SCALE_CONF, SF_DIR  # noqa: E402

BENCH_QUERIES = [
    "jsonld_pred_counts",
    "jsonld_sameas_canonical",
    "tpch_q1",
    "top_revenue_join",
    "events_first_per_user",
    "dedup_exact",
    "minhash_signature",
    "simhash",
    "jaccard_pairs",
    "cosine_topk",
    "ann_topk_lsh",
    "pagerank_links",
    "payload_meta",
    "tfidf_top_terms",
    "boilerplate_lines",
    "rule_materialization",
]


def _session():
    from jsonld_spark.pipeline import default_session

    return default_session(
        cores=CPUS,
        shuffle_partitions=max(8, CPUS),
        app_name="jsonld_spark_bench_extra",
        extra_conf=SCALE_CONF,
    )


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    args = [a for a in sys.argv[1:]]
    plans_tag = None
    if "--plans" in args:
        i = args.index("--plans")
        plans_tag = args[i + 1]
        del args[i : i + 2]
    do_noop = "--noop" in args
    if do_noop:
        args.remove("--noop")
    trials = 3
    if "--trials" in args:
        i = args.index("--trials")
        trials = int(args[i + 1])
        del args[i : i + 2]
    do_pages = "--pages" in args
    if do_pages:
        args.remove("--pages")
    do_pipeline = "--pipeline" in args
    if do_pipeline:
        args.remove("--pipeline")
    names = args or BENCH_QUERIES

    import __spark_entry__ as E

    spark = _session()
    sc = spark.sparkContext
    qs = E.queries()
    out: dict[str, dict] = {}

    if do_pages:
        from pyspark.sql import functions as F

        from jsonld_spark.pipeline import KGPipeline
        from jsonld_spark.sources.pages import build_context_cache_entries

        pages = spark.read.parquet(PAGES_PATH)
        pipe = KGPipeline(spark, build_context_cache_entries())
        sc.setJobDescription("pages_to_triples probe")
        df = pipe.extract(pages).filter(F.col("error").isNull())
        df.count()  # warm
        best = float("inf")
        for _ in range(max(1, trials)):
            t0 = time.time()
            df.count()
            best = min(best, time.time() - t0)
        out["pages_to_triples"] = {"count_sec": round(best, 3)}
        print("pages_to_triples", out["pages_to_triples"])

    if do_pipeline:
        import glob
        import shutil

        from jsonld_spark.pipeline import KGPipeline
        from jsonld_spark.sources.pages import build_context_cache_entries

        subset = sorted(glob.glob(os.path.join(PAGES_PATH, "part-*")))[:16]
        kg_out = os.path.join(REPO, "data", "bench_extra_kg_out")
        best = float("inf")
        for _ in range(max(1, trials)):
            shutil.rmtree(kg_out, ignore_errors=True)
            pipe = KGPipeline(
                spark, build_context_cache_entries(), num_buckets=64
            )
            sub = spark.read.parquet(*subset)
            sc.setJobDescription("full_pipeline_linked probe")
            stats = pipe.run(
                sub, kg_out, run_id="bx", resume=False, link_entities=True
            )
            best = min(best, stats["seconds"])
            print("  pipeline trial:", round(stats["seconds"], 3))
        out["full_pipeline_linked"] = {"count_sec": round(best, 3)}
        print("full_pipeline_linked", out["full_pipeline_linked"])

    run_queries = bool(args) or not (do_pages or do_pipeline)
    if run_queries:
        for name in names:
            fn = qs[name]
            sc.setJobDescription(f"bench_extra: {name}")
            if plans_tag:
                os.makedirs(os.path.join(REPO, "plans", "r07"), exist_ok=True)
                plan = fn(spark, SF_DIR)._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
                with open(
                    os.path.join(
                        REPO, "plans", "r07", f"{name}_{plans_tag}.txt"
                    ),
                    "w",
                ) as f:
                    f.write(plan)
            fn(spark, SF_DIR).count()  # warm
            best = float("inf")
            for _ in range(max(1, trials)):
                t0 = time.time()
                fn(spark, SF_DIR).count()
                best = min(best, time.time() - t0)
            rec: dict = {"count_sec": round(best, 3)}
            if do_noop:
                _noop(fn(spark, SF_DIR))  # warm the full materialization
                bn = float("inf")
                for _ in range(max(1, trials)):
                    t0 = time.time()
                    _noop(fn(spark, SF_DIR))
                    bn = min(bn, time.time() - t0)
                rec["noop_sec"] = round(bn, 3)
            out[name] = rec
            print(name, rec)

    print("BENCH_EXTRA_JSON " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
