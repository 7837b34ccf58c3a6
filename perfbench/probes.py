"""Measurement probes that observe the engine from outside.

Nothing here edits an engine file.  Three kinds of probe:

* ``Tracer`` rebinds public functions of the engine modules inside the
  benchmark process for the length of a ``with`` block, recording one
  span per call (layer, start, end, parent span).  A layer's self time
  is its span durations minus the time covered by child spans, so the
  self times of nested layers add up to the wall time of the root.
* ``WorkerRss`` samples ``/proc`` for the peak resident set of every
  Python worker process the Spark JVM forked.
* ``EventLog`` reads Spark's own event log (enabled through session
  configuration) and attributes task metrics and SQL metrics to the jobs
  submitted in a time window and to the job description set on them.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

# --- in-process spans ----------------------------------------------------------


class Tracer:
    """Span recorder over rebound functions.  Spans stay in memory and are
    written once, by ``dump``, when the benchmark ends."""

    def __init__(self):
        self.spans: list = []  # (layer, start, end, parent index or -1)
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: Counter = Counter()
        self.counts: Counter = Counter()
        self._stack: list = []  # [span index, time covered by children]
        self._undo: list = []

    def _enter(self):
        parent = self._stack[-1][0] if self._stack else -1
        frame = [len(self.spans), 0.0]
        self.spans.append(None)
        self._stack.append(frame)
        return parent, frame

    def _exit(self, layer, parent, frame, t0, t1):
        self._stack.pop()
        dur = t1 - t0
        self.spans[frame[0]] = (layer, t0, t1, parent)
        self.self_s[layer] += dur - frame[1]
        self.calls[layer] += 1
        if self._stack:
            self._stack[-1][1] += dur

    @contextmanager
    def span(self, layer: str):
        parent, frame = self._enter()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._exit(layer, parent, frame, t0, time.perf_counter())

    def wrap(self, owner, attr: str, layer: str | None, count=None, error_count=None):
        """Rebind ``owner.attr``.  ``layer`` None records no span (a pure
        counter).  ``count(counts, result)`` tallies the result;
        ``error_count`` names the counter bumped when the call raises."""
        orig = getattr(owner, attr)
        counts = self.counts

        def traced(*args, **kwargs):
            if layer is None:
                out = orig(*args, **kwargs)
            else:
                parent, frame = self._enter()
                t0 = time.perf_counter()
                try:
                    out = orig(*args, **kwargs)
                except BaseException:
                    if error_count:
                        counts[error_count] += 1
                    raise
                finally:
                    self._exit(layer, parent, frame, t0, time.perf_counter())
            if count is not None:
                count(counts, out)
            return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def restore(self):
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str, extra: dict) -> None:
        doc = {
            "layers": {
                k: {"self_s": self.self_s[k], "calls": self.calls[k]}
                for k in sorted(self.self_s)
            },
            "counts": dict(self.counts),
            "span_fields": ["layer", "start", "end", "parent"],
            "spans": self.spans,
            **extra,
        }
        with open(path, "w") as f:
            json.dump(doc, f, default=str)


def trace_page_layers(tracer: Tracer) -> None:
    """Rebind the public functions ``udfs.page_to_rows`` reaches, at the
    names through which it reaches them."""
    from jsonld_spark import canon, context, expand, to_rdf, udfs

    def n_scripts(c, docs):
        c["html_jsonld.scripts"] += len(docs)
        c["html_jsonld.invalid_scripts"] += sum(1 for d in docs if d.error)

    def n_rows(c, rows):
        c["udfs.rows"] += len(rows)

    def n_nodes(c, out):
        c["flatten.nodes"] += sum(len(g) for g in out[0].values())

    def n_quads(c, quads):
        c["to_rdf.quads"] += len(quads)

    def n_docs(c, _):
        c["expand.docs"] += 1

    def n_parses(c, _):
        c["context.parses"] += 1

    def n_misses(c, body):
        if body is None:
            c["context.remote_misses"] += 1

    def n_multi(c, labels):
        # two or more bnodes: the labelling reaches canon._solve
        if len(labels) >= 2:
            c["canon.docs_multi_bnode"] += 1

    tracer.wrap(udfs, "page_to_rows", "udfs.salt_rows", count=n_rows)
    tracer.wrap(udfs, "extract_jsonld", "html_jsonld.extract", count=n_scripts)
    tracer.wrap(udfs, "doc_to_quads", "to_rdf.emit")
    tracer.wrap(udfs, "canonicalize_quads", "canon")
    tracer.wrap(to_rdf, "expand_document", "expand", count=n_docs, error_count="expand.errors")
    tracer.wrap(to_rdf, "expanded_to_quads", "to_rdf.emit", count=n_quads)
    tracer.wrap(to_rdf, "node_map_from_expanded", "flatten.node_map", count=n_nodes)
    tracer.wrap(expand, "parse_initial_cached", "context.parse")
    tracer.wrap(context.Context, "parse", "context.parse", count=n_parses)
    tracer.wrap(context.ContextCache, "get", None, count=n_misses)
    tracer.wrap(canon, "canonical_bnode_labels", None, count=n_multi)


# --- Spark phases ------------------------------------------------------------------


class SparkPhases:
    """Names the Spark jobs of ``KGPipeline.run`` by phase.  Rebinds the
    public entry points the pipeline calls (connected components, the
    triples write, the lineage append) so each sets the job description
    while it runs, and counts the reliable checkpoints taken inside
    connected components (one for the symmetric edge set, one per round)."""

    def __init__(self, sc):
        self.sc = sc
        self.checkpoints = Counter()
        self.walls: dict[str, float] = defaultdict(float)
        self._phase = None
        self._undo: list = []

    def _rebind(self, owner, attr, phase_of):
        orig = getattr(owner, attr)
        phases = self

        def named(*args, **kwargs):
            phase = phase_of(*args, **kwargs)
            if phase is None or phases._phase is not None:
                return orig(*args, **kwargs)
            phases._phase = phase
            phases.sc.setJobDescription(phase)
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                phases.walls[phase] += time.perf_counter() - t0
                phases.sc.setJobDescription("pipeline")
                phases._phase = None

        setattr(owner, attr, named)
        self._undo.append((owner, attr, orig))

    def __enter__(self):
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        from jsonld_spark.operators import graph

        def ends(suffix, phase):
            return lambda _w, path=None, *a, **k: (
                phase if str(path or "").rstrip("/").endswith(suffix) else None
            )

        self._rebind(graph, "canonical_mapping", lambda *a, **k: "graph.cc")
        self._rebind(DataFrameWriter, "save", ends("triples", "pipeline.write"))
        self._rebind(DataFrameWriter, "parquet", ends("_lineage", "pipeline.lineage"))
        orig_ckpt = DataFrame.checkpoint

        def counted(df, *a, **k):
            self.checkpoints[self._phase] += 1
            return orig_ckpt(df, *a, **k)

        DataFrame.checkpoint = counted
        self._undo.append((DataFrame, "checkpoint", orig_ckpt))
        self.sc.setJobDescription("pipeline")
        return self

    def __exit__(self, *exc):
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)
        self.sc.setJobDescription(None)

    @property
    def cc_rounds(self) -> int:
        return max(self.checkpoints["graph.cc"] - 1, 0)


# --- worker memory and host interference ----------------------------------------------


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return None


def host_steal_s() -> float:
    """CPU time, summed over all CPUs, that the hypervisor gave to other
    guests while this machine's CPUs had work: the ``steal`` column of
    ``/proc/stat``.  0.0 where the kernel does not report it."""
    fields = (_read("/proc/stat") or "").split("\n", 1)[0].split()
    if len(fields) < 9 or fields[0] != "cpu":
        return 0.0
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class WorkerRss:
    """Background sampler of the largest peak RSS (``VmHWM``) among the
    Python processes descended from this one — the PySpark daemon and
    the workers it forks.  ``VmHWM`` is the kernel's own high-water mark,
    so a peak between two samples is not lost."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = None

    def _python_descendants(self) -> list[int]:
        me = os.getpid()
        parent, comm = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            stat = _read(f"/proc/{d}/stat")
            if stat is None:
                continue
            # comm may contain spaces; it is bracketed by the first '(' and last ')'
            name = stat[stat.find("(") + 1: stat.rfind(")")]
            fields = stat[stat.rfind(")") + 2:].split()
            parent[int(d)], comm[int(d)] = int(fields[1]), name
        out = []
        for pid, name in comm.items():
            if not name.startswith("python"):
                continue
            p = parent.get(pid)
            while p and p != me:
                p = parent.get(p)
            if p == me:
                out.append(pid)
        return out

    def sample(self) -> None:
        for pid in self._python_descendants():
            status = _read(f"/proc/{pid}/status")
            for line in (status or "").splitlines():
                if line.startswith("VmHWM:"):
                    self.peak_kb = max(self.peak_kb, int(line.split()[1]))

    def _loop(self):
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self.peak_kb = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# --- Spark event log -----------------------------------------------------------------


EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class EventLog:
    """Task and SQL metrics of the jobs submitted in ``[t0_ms, t1_ms]``."""

    def __init__(self, log_dir: str, app_id: str, t0_ms: float, t1_ms: float):
        paths = glob.glob(os.path.join(log_dir, app_id + "*"))
        if not paths:
            raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
        events = []
        with open(paths[0]) as f:
            for line in f:
                events.append(json.loads(line))
        self.jobs = {}  # job id → (description, stage ids, start ms, end ms)
        exec_ids = set()
        for e in events:
            if e["Event"] == "SparkListenerJobStart" and t0_ms <= e["Submission Time"] <= t1_ms:
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = [
                    props.get("spark.job.description") or "",
                    set(e["Stage IDs"]),
                    e["Submission Time"],
                    None,
                ]
                if "spark.sql.execution.id" in props:
                    exec_ids.add(int(props["spark.sql.execution.id"]))
            elif e["Event"] == "SparkListenerJobEnd" and e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]][3] = e["Completion Time"]
        stages = set().union(*(j[1] for j in self.jobs.values())) if self.jobs else set()
        self.plans = []  # physical plans, initial and adaptive re-plans
        self.acc = Counter()  # accumulator id → summed task updates
        self.tasks = defaultdict(list)  # stage id → task metric dicts
        self.stage_wall: dict[int, float] = {}
        self.stage_accs = defaultdict(set)
        sql_prefix = "org.apache.spark.sql.execution.ui."
        for e in events:
            kind = e["Event"]
            if kind in (sql_prefix + "SparkListenerSQLExecutionStart",
                        sql_prefix + "SparkListenerSQLAdaptiveExecutionUpdate"):
                if e["executionId"] in exec_ids:
                    self.plans.append(e["sparkPlanInfo"])
            elif kind == sql_prefix + "SparkListenerDriverAccumUpdates":
                if e["executionId"] in exec_ids:
                    for acc_id, value in e["accumUpdates"]:
                        self.acc[acc_id] += value
            elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
                if e.get("Task End Reason", {}).get("Reason") != "Success":
                    continue
                self.tasks[e["Stage ID"]].append(e.get("Task Metrics") or {})
                for a in e["Task Info"].get("Accumulables", []):
                    # SQL metrics log their updates as decimal strings
                    try:
                        update = int(a.get("Update"))
                    except (TypeError, ValueError):
                        continue
                    self.acc[a["ID"]] += update
                    self.stage_accs[e["Stage ID"]].add(a["ID"])
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if info["Stage ID"] in stages and info.get("Completion Time"):
                    self.stage_wall[info["Stage ID"]] = (
                        info["Completion Time"] - info["Submission Time"]
                    ) / 1000.0

    def _nodes(self, pred):
        """Distinct plan nodes (by accumulator set) matching ``pred``."""
        seen, out = set(), []

        def walk(node, parents):
            if pred(node, parents):
                key = tuple(sorted(m["accumulatorId"] for m in node.get("metrics", [])))
                if key not in seen:
                    seen.add(key)
                    out.append(node)
            for c in node.get("children", []):
                walk(c, parents + [node])

        for p in self.plans:
            walk(p, [])
        return out

    def metric(self, node, name: str) -> float:
        return sum(self.acc[m["accumulatorId"]] for m in node.get("metrics", []) if m["name"] == name)

    def _stages_with(self, nodes) -> set[int]:
        ids = {m["accumulatorId"] for n in nodes for m in n.get("metrics", [])}
        return {s for s, accs in self.stage_accs.items() if accs & ids}

    def summary(self) -> dict:
        python = self._nodes(lambda n, _: n["nodeName"] in ("MapInPandas", "MapInArrow"))
        prefilter = self._nodes(
            lambda n, _: n["nodeName"] == "Filter" and "ld+json" in n.get("simpleString", "")
        )
        # page scans: parquet scans below the Python stage
        scans = self._nodes(
            lambda n, ps: n["nodeName"].startswith("Scan parquet")
            and any(p["nodeName"] in ("MapInPandas", "MapInArrow") for p in ps)
        )
        scanned = sum(self.metric(n, "number of output rows") for n in scans)
        passed = sum(self.metric(n, "number of output rows") for n in prefilter)
        all_tasks = [t for ts in self.tasks.values() for t in ts]
        scan_stages = self._stages_with(scans)
        python_stages = self._stages_with(python)
        run_ms = [t.get("Executor Run Time", 0) for s in python_stages for t in self.tasks[s]]
        by_desc = defaultdict(float)
        for desc, _, start, end in self.jobs.values():
            if end is not None:
                by_desc[desc] += (end - start) / 1000.0
        cc_stages = set().union(
            *(j[1] for j in self.jobs.values() if j[0] == "graph.cc")
        ) if self.jobs else set()
        return {
            "jobs": len(self.jobs),
            "pipeline.prefilter_pass_frac": passed / scanned if prefilter and scanned else 1.0,
            "arrow.bytes_to_python": sum(self.metric(n, "data sent to Python workers") for n in python),
            "arrow.rows_from_python": sum(self.metric(n, "number of output rows") for n in python),
            "pipeline.scan_stage_cpu_s": sum(
                t.get("Executor CPU Time", 0) for s in scan_stages for t in self.tasks[s]
            ) / 1e9,
            "pipeline.extract_stage_s": sum(self.stage_wall.get(s, 0.0) for s in python_stages),
            "task.skew": max(run_ms) / statistics.median(run_ms) if run_ms and statistics.median(run_ms) > 0 else 1.0,
            "shuffle.write_bytes": sum(
                (t.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) for t in all_tasks
            ),
            "spill_bytes": sum(
                t.get("Memory Bytes Spilled", 0) + t.get("Disk Bytes Spilled", 0) for t in all_tasks
            ),
            # CC jobs, less the extract stage that the first CC checkpoint
            # materializes (the pipeline persists the extract lazily)
            "graph.cc_s": max(
                by_desc.get("graph.cc", 0.0)
                - sum(self.stage_wall.get(s, 0.0) for s in cc_stages & python_stages),
                0.0,
            ),
            "pipeline.write_s": by_desc.get("pipeline.write", 0.0),
            "pipeline.lineage_s": by_desc.get("pipeline.lineage", 0.0),
            "job_seconds_by_description": dict(by_desc),
        }
