"""Per-layer tracing for the benchmark's traced run.

Spans are recorded from outside the package, around each call into a
layer's public function, and kept in memory until the run ends. Spark's
own metrics are read per op from the application status store: every op
runs under a job tag of its own (job tags are thread-local, so the four
concurrent ``serve`` users attribute their jobs correctly), and the op's
jobs, stages and task summaries are read as soon as the listener bus has
delivered the op's events -- promptly, because the status store keeps
only the most recent 1000 jobs and stages.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time

# Catalyst phases recorded by QueryExecution's tracker.
PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """In-memory span recorder. A span is (name, layer, start, end,
    parent, op). Layer is the span name up to its last dot, so
    ``plans.dashboard.comparison_table`` belongs to ``plans.dashboard``."""

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "op": op if op is not None else (stack[-1]["op"] if stack else None),
            "start": time.time(),
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def self_ms_by_layer(self, ops: set[int]) -> dict[str, float]:
        """Span time not covered by child spans, summed per layer over
        the spans of ``ops``."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["op"] not in ops:
                continue
            covered = _union([(k["start"], k["end"]) for k in kids.get(s["id"], [])])
            layer = s["name"].rsplit(".", 1)[0] if "." in s["name"] else s["name"]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"] - covered) * 1e3
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


class SparkMetrics:
    """Reads one tag's jobs, stages and tasks from the status store."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        q = self.sc._gateway.new_array(self.sc._jvm.double, 1)
        q[0] = 1.0
        self._max_quantile = q

    @contextlib.contextmanager
    def tagged(self, tag: str):
        """Run the body with ``tag`` on every Spark job this thread starts."""
        self.sc.addJobTag(tag)
        try:
            yield
        finally:
            self.sc.removeJobTag(tag)

    def jobs(self, tag: str) -> dict:
        """Totals over the jobs that carried ``tag``."""
        # The listener bus is asynchronous: wait until it has delivered
        # the stage and job completions before reading the store.
        self.jsc.listenerBus().waitUntilEmpty(30_000)
        out = {
            "jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0.0, "cpu_ns": 0.0,
            "gc_ms": 0.0, "input_records": 0,
            "output_bytes": 0, "output_records": 0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "peak_exec_mem_bytes": 0,
            "stage_wait_ms": 0.0, "max_task_ms": 0.0, "intervals": [],
        }
        stage_ids: set[int] = set()
        for job_id in self.jsc.statusTracker().getJobIdsForTag(tag):
            job = self.store.job(job_id)
            out["jobs"] += 1
            start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if start is not None and end is not None:
                out["intervals"].append((start / 1e3, end / 1e3))
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in stage_ids:
            st = self.store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused from an earlier job
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["run_ms"] += st.executorRunTime()
            out["cpu_ns"] += st.executorCpuTime()
            out["gc_ms"] += st.jvmGcTime()
            out["input_records"] += st.inputRecords()
            out["output_bytes"] += st.outputBytes()
            out["output_records"] += st.outputRecords()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["peak_exec_mem_bytes"] = max(
                out["peak_exec_mem_bytes"], st.peakExecutionMemory()
            )
            sub, first = _opt_ms(st.submissionTime()), _opt_ms(st.firstTaskLaunchedTime())
            if sub is not None and first is not None:
                out["stage_wait_ms"] += first - sub
            summary = self.store.taskSummary(sid, st.attemptId(), self._max_quantile)
            if summary.isDefined():
                out["max_task_ms"] = max(
                    out["max_task_ms"], summary.get().duration().apply(0)
                )
        return out

    def rdd_bytes_pinned(self) -> int:
        return sum(i.memSize() + i.diskSize() for i in self.jsc.getRDDStorageInfo())


def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase times (ms) recorded by ``df``'s QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in PHASES:
        p = phases.get(name)
        out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


def scan_bytes(df) -> int:
    """Bytes of the files that the file scans in ``df``'s physical plan
    (the final adaptive plan once it has run) selected to read: each
    scan's ``filesSize`` metric, which counts only the partitions left
    after partition pruning, but every column and row group of them.
    (Parquet reads in this Spark release bypass the byte counters that
    stage ``inputBytes`` is built on, so those read low.)"""
    total, stack = 0, [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif kind == "ReusedExchangeExec":
            continue  # reads nothing: the exchange it reuses did
        elif kind == "FileSourceScanExec":
            # sets the scan's file metrics if this plan has not run (a
            # write's own plan ran in its place); no-op once they are set
            node.inputRDD()
            total += node.metrics().get("filesSize").get().value()
        else:
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    return total


def delivery_ms(wall: tuple[float, float], job_intervals: list[tuple[float, float]]) -> float:
    """Action wall time not covered by any of its Spark jobs: plan
    hand-off, result conversion and transfer to Python."""
    s, e = wall
    clipped = [(max(a, s), min(b, e)) for a, b in job_intervals if b > s and a < e]
    return max(0.0, (e - s - _union(clipped)) * 1e3)


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def layer_report(probe, ops: list[int], cores: int,
                 raw_bytes: int = 0) -> dict[str, tuple[float, str]]:
    """Per-layer metrics over the traced ops ``ops``: name -> (value, unit).

    Values are means per op unless the name says otherwise. Ratios to an
    op's wall time use its ``op`` span, which excludes the tracer's metric
    reads. Layer build times and per-result times come
    from the spans, everything under ``spark.`` from the status store."""
    recs = [probe.ops[o] for o in ops]
    spans_by_op: dict[int, list[dict]] = {}
    for s in probe.tracer.spans:
        spans_by_op.setdefault(s["op"], []).append(s)

    def dur(s: dict) -> float:
        return (s["end"] - s["start"]) * 1e3

    def per_op(pred) -> float:
        return _mean(sum(dur(s) for s in spans_by_op.get(o, []) if pred(s)) for o in ops)

    def spark(key: str) -> float:
        return _mean(r["spark"][key] for r in recs)

    actions = [a for r in recs for a in r["actions"]]
    delivered = sum(a["rows"] for a in actions) + sum(r["spark"]["output_records"] for r in recs)
    out: dict[str, tuple[float, str]] = {
        "plans.build_ms": (per_op(lambda s: s["name"].startswith("plans.")), "ms"),
        "sources.scan_bytes_per_op": (
            _mean(sum(a["scan_bytes"] for a in r["actions"]) for r in recs), "B"),
        "sources.rows_scanned_per_row_returned": (
            sum(r["spark"]["input_records"] for r in recs) / max(1, delivered), "ratio"),
    }
    for phase in PHASES:
        out[f"spark.catalyst.{phase}_ms"] = (
            _mean(sum(a["phases"][phase] for a in r["actions"]) for r in recs), "ms")
    out.update({
        "spark.scheduler.jobs_per_op": (spark("jobs"), "count"),
        "spark.scheduler.stages_per_op": (spark("stages"), "count"),
        "spark.scheduler.tasks_per_op": (spark("tasks"), "count"),
        "spark.scheduler.stage_wait_ms": (spark("stage_wait_ms"), "ms"),
        "spark.executor.run_s": (spark("run_ms") / 1e3, "s"),
        "spark.executor.cpu_s": (spark("cpu_ns") / 1e9, "s"),
        "spark.executor.gc_ms": (spark("gc_ms"), "ms"),
        "spark.executor.core_util": (
            _mean(r["spark"]["run_ms"] / (r["wall_ms"] * cores) for r in recs), "ratio"),
        "spark.executor.max_task_share": (
            _mean(r["spark"]["max_task_ms"] / r["wall_ms"] for r in recs), "ratio"),
        "spark.executor.shuffle_read_bytes": (spark("shuffle_read_bytes"), "B"),
        "spark.executor.shuffle_write_bytes": (spark("shuffle_write_bytes"), "B"),
        "spark.executor.spill_bytes": (spark("spill_bytes"), "B"),
        "spark.executor.peak_exec_mem_bytes": (
            max(r["spark"]["peak_exec_mem_bytes"] for r in recs), "B"),
        "spark.delivery.ms": (_mean(sum(a["delivery_ms"] for a in r["actions"]) for r in recs), "ms"),
        "spark.delivery.rows": (_mean(sum(a["rows"] for a in r["actions"]) for r in recs), "count"),
        "spark.storage.rdd_bytes_pinned": (_mean(r["rdd_bytes_pinned"] for r in recs), "B"),
    })

    # Layer-specific detail, present only where the layer was called.
    layers = {s["name"].rsplit(".", 1)[0] for o in ops for s in spans_by_op.get(o, [])
              if s["name"].startswith("plans.")}
    for layer in sorted(layers):
        out[f"{layer}.build_ms"] = (per_op(lambda s, p=layer + ".": s["name"].startswith(p)), "ms")
        if layer == "plans.cleaning":
            continue
        # call plus action, per result the layer builds
        results = {a["result"] for a in actions}
        for res in sorted(results):
            out[f"{layer}.{res}_ms"] = (
                per_op(lambda s, r=res: s.get("result") == r
                       and (s["name"].startswith(layer) or s["name"].startswith("spark.action"))),
                "ms")
            share = [a["spark"]["max_task_ms"] / max(1e-9, a["wall"][1] - a["wall"][0]) / 1e3
                     for a in actions if a["result"] == res]
            out[f"spark.executor.max_task_share.{res}"] = (_mean(share), "ratio")
    writes = [a for a in actions if "files" in a]
    if writes:
        out["sources.write_ms_per_op"] = (
            per_op(lambda s: s["name"] == "sources.sinks.write_parquet_overwrite"), "ms")
        out["sources.files_written_per_op"] = (sum(a["files"] for a in writes) / len(ops), "count")
        scanned = sum(a["scan_bytes"] for a in actions)
        out["sources.bytes_written_per_input_byte"] = (
            sum(r["spark"]["output_bytes"] for r in recs) / max(1, scanned), "ratio")
        if raw_bytes:
            out["plans.cleaning.raw_bytes_read_per_raw_byte"] = (
                scanned / len(ops) / raw_bytes, "ratio")
    for layer, ms in sorted(probe.tracer.self_ms_by_layer(set(ops)).items()):
        out[f"self_ms.{layer}"] = (ms / len(ops), "ms")
    return out
