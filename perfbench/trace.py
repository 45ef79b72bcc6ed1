"""Per-layer metrics of a traced run.

Spark layer and scan/UDF boundary: parsed from Spark's own event log
(``spark.eventLog.enabled``, uncompressed, one file). Ops run one at a
time, so every job, task and SQL execution is attributed to the op
whose wall-clock window contains its start. Job groups are set per op
as well, but jobs launched from library-side thread pools do not
inherit them, so time windows are the attribution that holds.

Package layers: from the spans the workloads record around their calls
into ``operators``, ``sources.manifest`` and ``pipeline``.

Every name in ``PER_LAYER`` is reported on every workload; a layer that
a workload does not exercise reads 0.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

PER_LAYER: dict[str, str] = {
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.driver_gap_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "operators.plan_s": "s",
    "scan.files_read": "count",
    "scan.bytes_read": "bytes",
    "scan.rows_read": "count",
    "scan.useful_ratio": "ratio",
    "functions.udf_python_s": "s",
    "functions.udf_rows": "count",
    "functions.udf_bytes_sent": "bytes",
    "functions.udf_bytes_returned": "bytes",
    "geom.wkb_decode_ns_per_row": "ns",
    "geom.wkb_encode_ns_per_row": "ns",
    "geom.point_intersects_ns_per_row": "ns",
    "geom.polygon_intersects_ns_per_row": "ns",
    "geom.z2_key_ns_per_row": "ns",
    "manifest.write_delta_s": "s",
    "manifest.merge_into_s": "s",
    "manifest.delete_where_s": "s",
    "manifest.read_snapshot_plan_s": "s",
    "manifest.maintain_s": "s",
    "manifest.pending_commits_at_read": "count",
    "manifest.live_files": "count",
    "manifest.bytes_written_per_user_byte": "ratio",
    **{f"pipeline.trgm.{m}_s": "s"
       for m in ("append", "delete", "upsert", "maintain", "probe")},
    "pipeline.trgm.buckets_read_ratio": "ratio",
    "pipeline.index_bytes_per_doc_byte": "ratio",
    "trace.ops_per_s": "1/s",
    "trace.untraced_ops_per_s": "1/s",
    "trace.overhead_ratio": "ratio",
    "e2e.read_tail_s": "s",
    "e2e.read_tail_pct": "%",
    "e2e.read_samples": "count",
    "e2e.write_tail_s": "s",
    "e2e.write_tail_pct": "%",
    "e2e.write_samples": "count",
    "canary.start_s": "s",
    "canary.end_s": "s",
}


def unit(name: str) -> str:
    return PER_LAYER[name]


def complete(layers: dict) -> dict:
    """Exactly the ``PER_LAYER`` names, 0 for a layer not exercised."""
    unknown = set(layers) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"metrics missing from PER_LAYER: {sorted(unknown)}")
    return {k: float(layers.get(k, 0.0)) for k in PER_LAYER}


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------- event log

_SCAN = {"number of files read": "files_read", "size of files read": "bytes_read",
         "number of output rows": "rows_read"}
_UDF = {"time to run Python workers": "udf_python_s",
        "data sent to Python workers": "udf_bytes_sent",
        "data returned from Python workers": "udf_bytes_returned",
        "number of output rows": "udf_rows"}


def _register_plan(plan: dict, accums: dict) -> None:
    metrics = {m["name"]: m for m in plan.get("metrics", [])}
    node = plan.get("nodeName", "")
    if node.startswith("Scan"):
        table = _SCAN
    elif "time to run Python workers" in metrics:
        table = _UDF
    else:
        table = {}
    for name, key in table.items():
        m = metrics.get(name)
        if m is not None:
            scale = 1e-9 if m["metricType"] == "nsTiming" else (
                1e-3 if m["metricType"] == "timing" else 1.0)
            accums[m["accumulatorId"]] = (key, scale)
    for child in plan.get("children", []):
        _register_plan(child, accums)


def _union(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def parse_event_log(log_dir: str, windows: list[tuple[float, float]]) -> list[dict]:
    """Per-op totals. ``windows`` are (start, end) epoch seconds."""
    files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(f) and not os.path.basename(f).startswith(".")]
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    ops = [defaultdict(float) for _ in windows]
    job_spans: list[list[tuple[float, float]]] = [[] for _ in windows]

    def op_at(t_ms: float) -> int | None:
        t = t_ms / 1000.0
        for i, (a, b) in enumerate(windows):
            if a <= t <= b:
                return i
        return None

    accums: dict[int, tuple[str, float]] = {}
    exec_op: dict[int, int | None] = {}
    job_op: dict[int, int | None] = {}
    job_start: dict[int, float] = {}
    stage_op: dict[int, int | None] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev.endswith("SQLExecutionStart") or ev.endswith(
                        "SQLAdaptiveExecutionUpdate"):
                    _register_plan(e["sparkPlanInfo"], accums)
                    if ev.endswith("SQLExecutionStart"):
                        exec_op[e["executionId"]] = op_at(e["time"])
                elif ev.endswith("DriverAccumUpdates"):
                    i = exec_op.get(e["executionId"])
                    if i is None:
                        continue
                    for aid, upd in e["accumUpdates"]:
                        if aid in accums:
                            key, scale = accums[aid]
                            ops[i][key] += float(upd) * scale
                elif ev == "SparkListenerJobStart":
                    i = op_at(e["Submission Time"])
                    job_op[e["Job ID"]] = i
                    job_start[e["Job ID"]] = e["Submission Time"] / 1000.0
                    for sid in e["Stage IDs"]:
                        stage_op.setdefault(sid, i)
                    if i is not None:
                        ops[i]["jobs"] += 1
                elif ev == "SparkListenerJobEnd":
                    i = job_op.get(e["Job ID"])
                    if i is not None:
                        job_spans[i].append((job_start[e["Job ID"]],
                                             e["Completion Time"] / 1000.0))
                elif ev == "SparkListenerStageCompleted":
                    i = stage_op.get(e["Stage Info"]["Stage ID"])
                    if i is not None:
                        ops[i]["stages"] += 1
                elif ev == "SparkListenerTaskEnd":
                    i = stage_op.get(e["Stage ID"])
                    if i is None:
                        continue
                    o = ops[i]
                    o["tasks"] += 1
                    tm = e.get("Task Metrics") or {}
                    o["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    o["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    sr = tm.get("Shuffle Read Metrics", {})
                    o["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    o["shuffle_write_bytes"] += tm.get(
                        "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    # stacked UDF nodes of one task run in the same
                    # Python worker and each reports its whole run
                    # time: count the task's longest, not their sum
                    worker_s = 0.0
                    for acc in e["Task Info"].get("Accumulables", []):
                        hit = accums.get(acc["ID"])
                        if hit is None or "Update" not in acc:
                            continue
                        value = float(acc["Update"]) * hit[1]
                        if hit[0] == "udf_python_s":
                            worker_s = max(worker_s, value)
                        else:
                            o[hit[0]] += value
                    o["udf_python_s"] += worker_s
    for i, (a, b) in enumerate(windows):
        ops[i]["driver_gap_s"] = max(0.0, (b - a) - _union(job_spans[i]))
    return [dict(o) for o in ops]


def layer_metrics(log_dir: str, samples, tracer) -> dict:
    """Spark, scan, UDF-boundary and operator metrics, per op of the
    traced measured phase."""
    per_op = parse_event_log(log_dir, [(s.t0, s.t0 + s.dt) for s in samples])
    n = len(per_op)

    def mean(key: str) -> float:
        return sum(o.get(key, 0.0) for o in per_op) / n

    rows_read = sum(o.get("rows_read", 0.0) for o in per_op)
    useful = sum(tracer.values("result_rows"))
    return {
        "spark.jobs_per_op": mean("jobs"),
        "spark.stages_per_op": mean("stages"),
        "spark.tasks_per_op": mean("tasks"),
        "spark.driver_gap_s": mean("driver_gap_s"),
        "spark.executor_cpu_s": mean("executor_cpu_s"),
        "spark.gc_s": mean("gc_s"),
        "spark.shuffle_read_bytes": mean("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "operators.plan_s": median_or_zero(
            d for _, layer, _, d in tracer.spans if layer == "operators"),
        "scan.files_read": mean("files_read"),
        "scan.bytes_read": mean("bytes_read"),
        "scan.rows_read": mean("rows_read"),
        "scan.useful_ratio": useful / rows_read if rows_read else 0.0,
        "functions.udf_python_s": mean("udf_python_s"),
        "functions.udf_rows": mean("udf_rows"),
        "functions.udf_bytes_sent": mean("udf_bytes_sent"),
        "functions.udf_bytes_returned": mean("udf_bytes_returned"),
    }
