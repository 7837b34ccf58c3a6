"""KG-construction benchmark for jsonld_spark.

    python3 perfbench/run.py --workload kg_build_linked --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  One run generates the
workload's pages from ``--seed`` (perfbench/gen.py), then:

1. sets up three times — Spark session on ``local[N]``, N = min(4,
   cores), 2N shuffle partitions; context-cache broadcast; Python-worker
   warm-up on a 64-page slice — and reports the median as ``setup_s``
   (the first set-up also launches the JVM);
2. runs the workload's job once untimed, then repeats it, untimed
   clean-up between repeats, for ``--seconds`` and at least a
   per-workload number of times (perfbench/workloads.py), and
   reports as ``job_s`` the median over the repeats the host did not
   interfere with (by its steal time), and the median of each repeat's
   peak Python-worker RSS;
3. checks the outputs (perfbench/workloads.py) and prints one JSON
   object as the last line of standard output.

``--trace 1`` reports the per-layer metrics instead: it runs the job
once with Spark's event log on and its phases named (perfbench/probes.py),
and replays the pages through the Python UDF in this process, once with
the layer functions rebound to record spans and once without, to report
the tracing overhead.  The span and count dump is written to
``.perfbench_work/traces/<workload>.json``.

``--smoke`` runs every workload in BENCHMARK.json once in each mode on a
few hundred pages and checks that every metric it names is reported with
its unit.  Exit status: 0 on success, 1 when an output check fails, 2
when the checkout holds no ``jsonld_spark`` package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_CYCLES = 3
MAX_TIMED = 50
QUIET_STEAL = 0.01  # share of CPU time taken by the host that counts as none

END_TO_END_UNITS = {
    "job_s": "s",
    "pages_per_s": "pages/s",
    "setup_s": "s",
    "failed_page_frac": "frac",
    "peak_worker_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "html_jsonld.extract_s": "s",
    "html_jsonld.scripts": "count",
    "html_jsonld.invalid_scripts": "count",
    "context.parse_s": "s",
    "context.parses": "count",
    "context.remote_misses": "count",
    "expand.self_s": "s",
    "expand.docs": "count",
    "expand.errors": "count",
    "flatten.node_map_s": "s",
    "flatten.nodes": "count",
    "to_rdf.emit_s": "s",
    "to_rdf.quads": "count",
    "canon.self_s": "s",
    "canon.docs_multi_bnode": "count",
    "udfs.salt_rows_s": "s",
    "udfs.pandas_build_s": "s",
    "udfs.rows": "count",
    "replay.wall_s": "s",
    "trace.coverage": "frac",
    "trace.overhead_frac": "frac",
    "pipeline.prefilter_pass_frac": "frac",
    "arrow.bytes_to_python": "bytes",
    "arrow.rows_from_python": "count",
    "pipeline.scan_stage_cpu_s": "s",
    "pipeline.extract_stage_s": "s",
    "task.skew": "ratio",
    "graph.cc_rounds": "count",
    "graph.cc_s": "s",
    "pipeline.write_s": "s",
    "pipeline.lineage_s": "s",
    "shuffle.write_bytes": "bytes",
    "spill_bytes": "bytes",
    "stream.batches": "count",
    "stream.batch_p50_s": "s",
    "reader.chunks": "count",
}
# span layer → reported self-time metric
SELF_TIME = {
    "html_jsonld.extract": "html_jsonld.extract_s",
    "context.parse": "context.parse_s",
    "expand": "expand.self_s",
    "flatten.node_map": "flatten.node_map_s",
    "to_rdf.emit": "to_rdf.emit_s",
    "canon": "canon.self_s",
    "udfs.salt_rows": "udfs.salt_rows_s",
    "udfs.pandas_build": "udfs.pandas_build_s",
}


def _environment(run_dir: str) -> None:
    """Keep Spark, the JVM and the Python workers inside the checkout and
    on this interpreter; must run before the first session starts."""
    for d in ("local", "tmp", "events", "warehouse", "checkpoints"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # one string-hash seed for every process: set and dict iteration
    # orders, and with them the work done, repeat from run to run
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


def _session_conf(run_dir: str, trace: bool) -> dict:
    from probes import EVENT_LOG_CONF

    # The JVM compiles with C1 only.  A run lives about a minute, far short
    # of the C2 compiler's steady state: with it, the compiler threads took
    # 31 of the JVM's 48 CPU-seconds over the timed kg_build_linked jobs
    # (4 vCPUs), and each repeat ran faster than the last, by how much
    # depending on what else the host ran.  With C1 alone they took 4 of 20.
    java_opts = f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }
    if trace:
        conf.update(EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + os.path.join(run_dir, "events")
    return conf


def _setup(inputs, run_dir: str, cores: int, trace: bool):
    """Session start + context-cache broadcast + Python-worker warm-up:
    ``extract`` of a 64-page slice of the workload's pages.  Returns
    (spark, pipe, seconds)."""
    from jsonld_spark.pipeline import KGPipeline, default_session

    import gen
    from workloads import CACHE_VERSION, NUM_BUCKETS

    t0 = time.perf_counter()
    spark = default_session(
        cores=cores,
        shuffle_partitions=2 * cores,
        app_name="perfbench",
        extra_conf=_session_conf(run_dir, trace),
    )
    spark.sparkContext.setCheckpointDir(os.path.join(run_dir, "checkpoints"))
    pipe = KGPipeline(spark, gen.context_entries(), cache_version=CACHE_VERSION, num_buckets=NUM_BUCKETS)
    pipe.extract(spark.read.parquet(inputs.warmup_path)).write.format("noop").mode("overwrite").save()
    return spark, pipe, time.perf_counter() - t0


def _end_to_end(job, inputs, setups, seconds: float):
    """The job once untimed, then timed repeats for ``seconds`` and at
    least ``min_timed`` times.  The warm-up is there because the JVM's
    first run of the job's own plans (CC rounds, writes, the streaming
    query) is up to twice as slow as the ones after it.

    ``job_s`` is the median over the repeats during which the hypervisor
    took less than ``QUIET_STEAL`` of this machine's CPU time, or, when
    fewer than half were that quiet, over the least stolen half.  On a
    4-vCPU guest of a shared host, other guests took up to a quarter of
    its CPU time for minutes at a time, and the kg_build_linked job, a
    chain of some fifty small Spark jobs that each wait on thread
    hand-offs, then ran 50-90% slower."""
    from probes import WorkerRss, host_steal_s

    cpus = os.cpu_count() or 1
    timed, rss, attempted, failed = [], [], 0, 0  # timed: (steal share, order, seconds)
    t_start = time.perf_counter()
    while attempted <= job.w.min_timed or (
        time.perf_counter() - t_start < seconds and attempted <= MAX_TIMED
    ):
        job.reset()
        attempted += 1
        with WorkerRss() as mem:
            steal0, t0 = host_steal_s(), time.perf_counter()
            try:
                job.run()
            except Exception as e:  # noqa: BLE001 — a failed job is counted, not fatal
                failed += 1
                print(f"job failed: {e!r}", file=sys.stderr)
                continue
            dt = time.perf_counter() - t0
            steal = host_steal_s() - steal0
        if attempted == 1:
            t_start = time.perf_counter()  # the timed window opens after the warm-up
        else:
            share = steal / (dt * cpus)
            timed.append((share if share >= QUIET_STEAL else 0.0, len(timed), dt))
            rss.append(mem.peak_mb)
    half = -(-len(timed) // 2)
    quiet = [t for t in timed if t[0] == 0.0]
    if len(quiet) < half:
        quiet = sorted(timed)[:half]
    print(
        "job_s, host steal share: "
        + ", ".join(f"{dt:.3f} {share:.1%}" for share, _, dt in timed)
        + f"; median over the {len(quiet)} least stolen",
        file=sys.stderr,
    )
    print(f"setup_s over {len(setups)} set-ups: {[round(t, 3) for t in setups]}", file=sys.stderr)
    job_s = statistics.median(dt for _, _, dt in quiet) if quiet else 0.0
    metrics = {
        "job_s": job_s,
        "pages_per_s": inputs.n_pages / job_s if job_s else 0.0,
        "setup_s": statistics.median(setups),
        "peak_worker_rss_mb": statistics.median(rss) if rss else 0.0,
    }
    return metrics, attempted, failed


def _traced_job(job, w_name: str):
    """The Spark job once, with its phases named; the session has the
    event log on.  Returns what the layer metrics read afterwards."""
    from probes import SparkPhases

    sc = job.spark.sparkContext
    job.reset()
    t0_ms = time.time() * 1000
    with SparkPhases(sc) as phases:
        job.run()
    t1_ms = time.time() * 1000
    progress = job.result if w_name == "stream_bounded_dump" else []
    return phases, progress, (sc.applicationId, t0_ms, t1_ms)


def _layer_metrics(phases, progress, log_info, check, inputs, run_dir, w_name):
    """Event-log and streaming-progress metrics of the traced Spark job,
    plus traced and untraced in-process replays of the pages."""
    from probes import EventLog, Tracer, trace_page_layers

    from workloads import batch_fn, python_batches, replay

    app_id, t0_ms, t1_ms = log_info
    events = EventLog(os.path.join(run_dir, "events"), app_id, t0_ms, t1_ms).summary()

    groups = python_batches(inputs)
    tracer = Tracer()
    trace_page_layers(tracer)
    try:
        traced = replay(batch_fn, groups, tracer)
    finally:
        tracer.restore()
    untraced = replay(batch_fn, groups)
    wall = traced.wall_s
    m = {name: 0 for name in PER_LAYER_UNITS}
    for layer, metric in SELF_TIME.items():
        m[metric] = tracer.self_s.get(layer, 0.0)
    for name in PER_LAYER_UNITS:
        if name in tracer.counts:
            m[name] = tracer.counts[name]
    m["replay.wall_s"] = wall
    m["trace.coverage"] = sum(tracer.self_s.values()) / wall if wall else 0.0
    m["trace.overhead_frac"] = wall / untraced.wall_s - 1.0 if untraced.wall_s else 0.0
    for name in PER_LAYER_UNITS:
        if name in events:
            m[name] = events[name]
    m["graph.cc_rounds"] = phases.cc_rounds
    durations = [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in progress]
    m["stream.batches"] = len(durations)
    m["stream.batch_p50_s"] = statistics.median(durations) if durations else 0.0
    m["reader.chunks"] = check.reference.chunks if w_name == "stream_bounded_dump" else 0

    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tracer.dump(
        os.path.join(WORK, "traces", f"{w_name}.json"),
        {
            "workload": w_name,
            "metrics": m,
            "untraced_replay_s": untraced.wall_s,
            "spark_phase_walls_s": dict(phases.walls),
            "event_log": events,
            "stream_progress": progress,
        },
    )
    return m


def run_workload(name: str, seed: int, seconds: float, trace: bool, run_dir: str, smoke: bool = False) -> dict:
    import workloads as wl

    w = wl.WORKLOADS[name]
    cores = max(1, min(4, os.cpu_count() or 1))
    marks, t = {}, time.perf_counter()

    def mark(phase):
        nonlocal t
        now = time.perf_counter()
        marks[phase] = now - t
        t = now

    os.makedirs(os.path.join(WORK, "inputs"), exist_ok=True)
    inputs = wl.prepare_inputs(w, seed, os.path.join(WORK, "inputs"), smoke)
    mark("inputs")
    # the in-process reference for the output checks runs while the first
    # set-up launches the JVM, and is finished before any timed job starts
    pool = ThreadPoolExecutor(max_workers=1)
    pending_ref = pool.submit(wl.reference, w, inputs)
    pool.shutdown(wait=False)
    setups = []
    spark = pipe = None
    for _ in range(1 if (trace or smoke) else SETUP_CYCLES):
        if spark is not None:
            spark.stop()
        spark, pipe, dt = _setup(inputs, run_dir, cores, trace)
        setups.append(dt)
    ref = pending_ref.result()
    mark("setup")
    job = wl.Job(w, spark, pipe, inputs.path, os.path.join(run_dir, "out"))
    try:
        spark_pass = wl.crawl_check_pass(job, inputs)
        mark("check pass")
        if trace:
            phases, progress, log_info = _traced_job(job, name)
            attempted, failed = 1, 0
        else:
            metrics, attempted, failed = _end_to_end(job, inputs, setups, seconds)
        mark("jobs")
        check = wl.check_outputs(job, inputs, seed, spark_pass, ref) if not failed else wl.CheckResult(ok=False)
        mark("checks")
    finally:
        spark.stop()  # also flushes the event log the traced metrics read
    if trace:
        metrics = _layer_metrics(phases, progress, log_info, check, inputs, run_dir, name)
        mark("trace")
        units = PER_LAYER_UNITS
    else:
        metrics["failed_page_frac"] = check.failed_pages / inputs.n_pages
        units = END_TO_END_UNITS
    for f in check.failures:
        print(f"CHECK FAILED [{name}]: {f}", file=sys.stderr)
    print(f"phase seconds: {json.dumps({k: round(v, 2) for k, v in marks.items()})}", file=sys.stderr)
    return {
        "correct": check.ok and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def _stop_jvm() -> None:
    """Shut the Spark JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def smoke(run_dir: str) -> int:
    """Every workload once per mode, tiny inputs; every metric that
    BENCHMARK.json names must be present with its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = []
    for w in spec["workloads"]:
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            res = run_workload(w["name"], seed=1, seconds=0, trace=trace, run_dir=run_dir, smoke=True)
            if not res["correct"]:
                bad.append(f"{w['name']} trace={int(trace)}: output check failed")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
                    bad.append(f"{w['name']} trace={int(trace)}: {m['name']} missing or wrong unit: {got}")
            print(f"smoke {w['name']} trace={int(trace)}: {json.dumps(res['metrics'])}", file=sys.stderr)
    for b in bad:
        print("SMOKE FAILED: " + b, file=sys.stderr)
    print(json.dumps({"smoke": "fail" if bad else "ok", "problems": len(bad)}))
    return 1 if bad else 0


def _exit_on_sigterm(signum, frame):
    sys.exit(128 + signum)  # unwinds through the finally that stops the JVM


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "jsonld_spark", "__init__.py")):
        print(f"no jsonld_spark package under {ROOT}: run from a source checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    import workloads

    if not args.smoke and args.workload not in workloads.WORKLOADS:
        p.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    _environment(run_dir)
    try:
        if args.smoke:
            return smoke(run_dir)
        res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
