"""Run loop shared by every workload.

One closed-loop client: each op is issued only after the previous one
returned, as an analyst or an ETL step does. A run is

1. a pinned Spark session (see :func:`start_session`);
2. a JVM-only canary reading (diagnostic only, never used to adjust a
   metric);
3. set-up from scratch, once: a cold set-up is what a user pays, and
   the run's time goes to measured ops instead of repeats;
4. an untimed warm-up that runs each op class (read, write) of each
   part of the workload at least once;
5. the measured phase: a fixed number of whole maintenance cycles of a
   seeded op sequence. The number depends only on ``seconds`` and the
   workload's nominal cycle time ``CYCLE_S`` (see :func:`cycles_for`),
   never on how fast the ops run, so every run at the same ``seconds``
   measures the same sequence, and a read saw-tooth over pending
   commits is never cut in the middle;
6. untimed end-of-run checks (space amplification, final state);
7. a second canary reading.

Timings are reported as medians, never means: host noise comes in
episodes of tens of seconds, which a mean absorbs and a median resists.
With ``trace`` the session has Spark's event log on, and the measured
phase is split in two halves: an untraced half for the reference
``ops_per_s`` and a traced half from which the per-layer metrics are
derived.
"""

from __future__ import annotations

import glob
import hashlib
import importlib
import json
import os
import shutil
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass
from typing import Callable, Iterable

WORKLOADS = {
    "spatial_query": "perfbench.spatial_query",
    "lake_ingest": "perfbench.lake_ingest",
}
DRIVER_MEMORY = "2g"
MEM_PERIOD_S = 0.5
# Spark task slots. Each slot of a UDF stage is a JVM task thread, its
# Arrow writer thread and a Python worker, so two slots already keep
# about six threads runnable. More slots than that on a few shared
# vCPUs measure the host's scheduler: on a 4-vCPU host, local[4] read
# medians spread three times wider across runs than local[2] did, and
# were slower, since the inputs are small enough that more slots only
# add per-task overhead.
MAX_CORES = 2


@dataclass
class Op:
    """One client call. ``run`` is timed; ``check`` (untimed) compares
    its value with the workload's oracle and returns True when correct."""

    name: str
    cls: str  # "read" or "write"
    run: Callable[[], object]
    check: Callable[[object], bool]


@dataclass
class Sample:
    name: str
    cls: str
    t0: float  # epoch seconds
    dt: float
    ok: bool


class Tracer:
    """Spans around the benchmark's calls into each package layer, kept
    in memory. Off in timed runs: ``span`` is then a shared no-op."""

    def __init__(self, on: bool):
        self.on = on
        self.op = -1
        self.spans: list[tuple[int, str, str, float]] = []
        self.counts: list[tuple[int, str, float]] = []

    def span(self, layer: str, name: str):
        return self._span(layer, name) if self.on else nullcontext()

    @contextmanager
    def _span(self, layer: str, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((self.op, layer, name, time.perf_counter() - t0))

    def count(self, name: str, value: float) -> None:
        if self.on:
            self.counts.append((self.op, name, float(value)))

    def durations(self, name: str) -> list[float]:
        return [d for op, _, n, d in self.spans if n == name and op >= 0]

    def values(self, name: str) -> list[float]:
        return [v for op, n, v in self.counts if n == name and op >= 0]


# ---------------------------------------------------------------- session


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(state: str, cores: int, st_functions: bool,
                  event_log_dir: str | None = None):
    """Spark pinned the same way on every run: fixed driver heap (its
    initial size is its maximum, so GC timing never resizes it),
    ``local[cores]`` (see ``MAX_CORES``) with as many shuffle
    partitions, no UI, all scratch space inside the run's state
    directory."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(state, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(state, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.eventLog.enabled", str(event_log_dir is not None).lower())
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.dir", "file://" + event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if st_functions:
        from geomesa_hive_spark import register_all

        register_all(spark)
        # start the Python workers once
        spark.range(0, 64, 1, cores).selectExpr(
            "sum(length(st_makepoint(cast(id AS double), 0d)))").collect()
    return spark


def canary(spark) -> float:
    """Best of three runs of a fixed JVM-only job (no Python worker, no
    I/O). A high reading means the host was contended during the run."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 5_000_000).selectExpr("sum(hash(id) % 13)").collect()
        best = min(best, time.perf_counter() - t0)
    return best


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                s = fh.read()
        except OSError:
            continue
        pid = int(stat.split("/")[2])
        ppid = int(s[s.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(pid)
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: a page shared by n processes counts 1/n
    in each, so a sum over forked Python workers counts shared pages
    once, where a sum of RSS would count them once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class MemSampler:
    """Peak of (JVM PSS + PSS of every process below it), i.e. the JVM
    and its Python workers, sampled every ``MEM_PERIOD_S``."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        kids = _proc_children()
        todo, total = [self.jvm_pid], 0
        while todo:
            p = todo.pop()
            total += _pss_bytes(p)
            todo.extend(kids.get(p, ()))
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(MEM_PERIOD_S):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


# ---------------------------------------------------------------- stamps


def stamp(root: str) -> dict:
    """HEAD sha when the checkout is a git repository, and always a
    digest of the package sources, so a result names the code it ran."""
    sha = None
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            sha = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                text=True, timeout=10, check=True).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            sha = None
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(root, "geomesa_hive_spark", "**", "*.py"),
                              recursive=True)):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return {"head_sha": sha, "source_sha256": h.hexdigest(), "nproc": nproc()}


def parquet_layout(path: str) -> dict:
    """Files and row groups of a parquet table, the granules that
    min/max pruning can skip."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    return {"files": len(files),
            "row_groups": sum(pq.ParquetFile(f).metadata.num_row_groups for f in files),
            "bytes": sum(os.path.getsize(f) for f in files)}


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


# ---------------------------------------------------------------- phases


def tail(values: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return None
    v = sorted(values)
    return {"value": v[n - 11], "pct": 100.0 * (n - 10) / n, "samples": n}


def _run_ops(ops: Iterable[Op], tracer: Tracer, sc, samples: list[Sample],
             errors: list[str]) -> float:
    """Run, time and check each op; return the seconds spent checking,
    which is the benchmark's own work and not the system's."""
    checking = 0.0
    for op in ops:
        if tracer.on:
            tracer.op = len(samples)
            sc.setJobGroup(f"op{tracer.op}", op.name)
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            value = op.run()
        except Exception as exc:  # noqa: BLE001 — an op failure is a measured outcome
            samples.append(Sample(op.name, op.cls, t0, time.perf_counter() - p0, False))
            errors.append(f"{op.name}: {type(exc).__name__}: {exc}")
            continue
        dt = time.perf_counter() - p0
        try:
            ok = bool(op.check(value))
        except Exception as exc:  # noqa: BLE001 — a failed check is a wrong answer
            ok = False
            errors.append(f"{op.name}: check raised {type(exc).__name__}: {exc}")
        else:
            if not ok:
                errors.append(f"{op.name}: wrong result")
        checking += time.perf_counter() - p0 - dt
        samples.append(Sample(op.name, op.cls, t0, dt, ok))
    if tracer.on:
        tracer.op = -1
        sc.setJobGroup("idle", "between ops")
    return checking


def cycles_for(module, seconds: float) -> int:
    """Whole cycles in a measured phase of nominally ``seconds``."""
    return max(1, round(seconds / module.CYCLE_S))


def phase(spark, module, seed: int, segments: list, state: str) -> dict:
    """Set-up, warm-up, then one measured segment per
    ``(tracer, cycles)`` in ``segments``, cycle numbering continuing
    across segments. A segment's time leaves out the result checks."""
    wl = module.Workload(spark, seed, os.path.join(state, "setup"), Tracer(False))
    t0 = time.perf_counter()
    layout = wl.setup()
    setup_s = time.perf_counter() - t0

    errors: list[str] = []
    warm: list[Sample] = []
    t0 = time.perf_counter()
    _run_ops(wl.warmup(), Tracer(False), spark.sparkContext, warm, errors)
    warmup_s = time.perf_counter() - t0

    segs, c = [], 0
    for tracer, cycles in segments:
        wl.tr = tracer
        samples: list[Sample] = []
        checking = 0.0
        start = time.perf_counter()
        for _ in range(cycles):
            c += 1
            checking += _run_ops(wl.cycle(c), tracer, spark.sparkContext, samples, errors)
        segs.append({"samples": samples, "cycles": cycles,
                     "elapsed_s": time.perf_counter() - start - checking})

    t0 = time.perf_counter()
    space_amp = wl.space_amp()
    end_ok = wl.final_check()
    if not end_ok:
        errors.append("final state check failed")
    layers = wl.layer_metrics() if wl.tr.on else {}
    every = warm + [s for seg in segs for s in seg["samples"]]
    return {
        "setup_s": setup_s, "layout": layout, "warmup_s": warmup_s, "segments": segs,
        "warmup": [(s.name, round(s.dt, 6), s.ok) for s in warm],
        "end_checks_s": time.perf_counter() - t0, "errors": errors,
        "space_amp": space_amp, "layers": layers,
        "attempted": len(every) + 1,
        "failed": sum(not s.ok for s in every) + (0 if end_ok else 1),
    }


def _median(values: list[float]) -> float:
    """Median, or 0 when every op of the class failed."""
    return statistics.median(values) if values else 0.0


def _latencies(samples: list[Sample], cls: str) -> list[float]:
    return [s.dt for s in samples if s.cls == cls and s.ok]


def _summary(seg: dict) -> dict:
    ok = [s for s in seg["samples"] if s.ok]
    by_name: dict[str, list[float]] = {}
    for s in ok:
        by_name.setdefault(s.name, []).append(s.dt)
    return {
        "ops_per_s": len(ok) / seg["elapsed_s"],
        "read_p50_s": _median(_latencies(seg["samples"], "read")),
        "write_p50_s": _median(_latencies(seg["samples"], "write")),
        "read_tail": tail(_latencies(seg["samples"], "read")),
        "write_tail": tail(_latencies(seg["samples"], "write")),
        "per_op_p50_s": {k: statistics.median(v) for k, v in sorted(by_name.items())},
        "per_op_n": {k: len(v) for k, v in sorted(by_name.items())},
    }


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def run(root: str, workload: str, seed: int, seconds: float, trace: bool) -> dict:
    module = importlib.import_module(WORKLOADS[workload])
    runs = os.path.join(root, ".perfbench_runs")
    state = _fresh(os.path.join(runs, "state", f"{workload}-s{seed}-{os.getpid()}"))
    cores = min(nproc(), MAX_CORES)
    record = {"workload": workload, "why": module.WHY, "seed": seed,
              "seconds": seconds, "trace": trace, "cores": cores, **stamp(root)}
    try:
        measure = _traced if trace else _timed
        record.update(measure(module, seed, seconds, state, cores))
    finally:
        shutil.rmtree(state, ignore_errors=True)
    out = os.path.join(runs, "results")
    os.makedirs(out, exist_ok=True)
    name = f"{workload}-seed{seed}-trace{int(trace)}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    with open(os.path.join(out, name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for e in record["errors"][:20]:
        print("error:", e)
    return {"correct": record["failed"] == 0, "attempted": record["attempted"],
            "failed": record["failed"], "metrics": record["metrics"]}


def _session(module, seed, segments, state, cores, event_log_dir=None) -> dict:
    t0 = time.perf_counter()
    spark = start_session(state, cores, module.ST_FUNCTIONS, event_log_dir)
    start_s = time.perf_counter() - t0
    try:
        with MemSampler(spark.sparkContext._gateway.proc.pid) as mem:
            c0 = canary(spark)
            p = phase(spark, module, seed, segments, state)
            c1 = canary(spark)
    finally:
        spark.stop()
        _stop_jvm()
    p.update(canary_start_s=c0, canary_end_s=c1, peak_pss_mb=mem.peak / 2**20,
             session_start_s=start_s)
    return p


def _stop_jvm() -> None:
    """End the JVM this process started and wait for it: the gateway
    exits when its stdin closes, and it stops the Python workers."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _record(p: dict) -> dict:
    keys = ("layout", "session_start_s", "setup_s", "warmup_s", "warmup", "end_checks_s",
            "canary_start_s", "canary_end_s", "peak_pss_mb", "space_amp", "errors",
            "attempted", "failed")
    rec = {k: p[k] for k in keys}
    rec["segments"] = [
        {"cycles": seg["cycles"], "elapsed_s": seg["elapsed_s"], "summary": _summary(seg),
         "samples": [(s.name, s.cls, round(s.dt, 6), s.ok) for s in seg["samples"]]}
        for seg in p["segments"]]
    return rec


def _timed(module, seed, seconds, state, cores) -> dict:
    p = _session(module, seed, [(Tracer(False), cycles_for(module, seconds))],
                 state, cores)
    s = _summary(p["segments"][0])
    metrics = {
        "setup_s": (p["setup_s"], "s"),
        "ops_per_s": (s["ops_per_s"], "1/s"),
        "read_p50_s": (s["read_p50_s"], "s"),
        "write_p50_s": (s["write_p50_s"], "s"),
        "space_amp": (p["space_amp"], "ratio"),
        "peak_pss_mb": (p["peak_pss_mb"], "MB"),
    }
    return {**_record(p),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def _traced(module, seed, seconds, state, cores) -> dict:
    """One session with Spark's event log on: an untraced half, then a
    traced half (job group per op, spans around layer calls). Their
    ops/s ratio is the overhead of the spans and job groups, together
    with any difference between the cycles each half runs; the event
    log's own cost shows against the timed runs' ``ops_per_s``."""
    from perfbench import geom_micro, trace as tr

    tracer = Tracer(True)
    logs = os.path.join(state, "eventlog")
    half = cycles_for(module, seconds / 2)
    p = _session(module, seed, [(Tracer(False), half), (tracer, half)],
                 state, cores, event_log_dir=logs)
    plain, traced = p["segments"]
    layers = tr.layer_metrics(logs, traced["samples"], tracer)
    layers.update(p["layers"])
    if module.ST_FUNCTIONS:
        layers.update(geom_micro.run(seed))
    s_plain, s_traced = _summary(plain), _summary(traced)
    rt, wt = s_plain["read_tail"] or {}, s_plain["write_tail"] or {}
    layers.update({
        "trace.ops_per_s": s_traced["ops_per_s"],
        "trace.untraced_ops_per_s": s_plain["ops_per_s"],
        "trace.overhead_ratio": s_plain["ops_per_s"] / s_traced["ops_per_s"],
        "e2e.read_tail_s": rt.get("value", 0.0), "e2e.read_tail_pct": rt.get("pct", 0.0),
        "e2e.read_samples": len(_latencies(plain["samples"], "read")),
        "e2e.write_tail_s": wt.get("value", 0.0), "e2e.write_tail_pct": wt.get("pct", 0.0),
        "e2e.write_samples": len(_latencies(plain["samples"], "write")),
        "canary.start_s": p["canary_start_s"], "canary.end_s": p["canary_end_s"],
    })
    return {**_record(p),
            "metrics": {k: {"value": v, "unit": tr.unit(k)}
                        for k, v in tr.complete(layers).items()}}
