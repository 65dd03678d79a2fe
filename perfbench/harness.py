"""One benchmark run: set up, warm up, measure, check, report.

A run is a closed loop with one client: each op starts after the
previous one returned and its output was checked. The run

1. generates the workload's inputs from the seed and computes every
   op's DuckDB twin (both excluded from every metric);
2. sets up: starts a Spark session through ``pig_spark.session`` and
   runs the first, cold pass (``setup_s``);
3. runs ``warm_passes`` untimed passes;
4. measures whole passes until ``seconds`` have passed and at least
   ``min_passes`` passes are done;
5. stops the session and waits for its JVM to exit.

Memory is read after a fixed number of passes, so ``peak_rss_mb`` does
not depend on how many passes fit into ``seconds``.
"""

from __future__ import annotations

import dataclasses
import json
import math
import os
import re
import statistics
import sys
import time
import traceback
import urllib.request
from dataclasses import dataclass, field

from . import datagen, spans
from .workloads import WORKLOADS, Op

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ops_per_s": "1/s",
    "pass_s": "s",
    "ok_frac": "frac",
    "peak_rss_mb": "MB",
}


@dataclass
class PassRecord:
    index: int
    groups: list[str]  # one Spark job group per op
    keys: list[str]
    lat_s: list[float]
    ok: list[bool]
    span_lo: int = 0  # spans[span_lo:span_hi] belong to this pass
    span_hi: int = 0
    exec_stats: dict = field(default_factory=dict)
    files: tuple[int, int] = (0, 0)  # part files and bytes STOREd
    mem: tuple[float, float] = (0.0, 0.0)  # JVM and Python VmHWM after the pass, MB

    @property
    def wall_s(self) -> float:
        return sum(self.lat_s)


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_steal_ticks() -> int:
    """Clock ticks stolen from this machine by the hypervisor since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _percentile(xs: list[float], q: float) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q) - 1] if len(xs) > 1 else xs[0]


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work_dir: str, smoke: bool = False):
        self.name = workload
        wl = WORKLOADS[workload]
        # a smoke run: tiny inputs, no warm-up, one measured pass
        self.workload = dataclasses.replace(wl, warm_passes=0, min_passes=1) if smoke else wl
        self.seed = seed
        self.seconds = seconds
        self.scale = datagen.TINY if smoke else datagen.FULL
        self.work_dir = work_dir
        self.tracer = spans.Tracer(trace)
        self.passes: list[PassRecord] = []
        self.info: dict = {}

    # -- set-up ----------------------------------------------------------
    def prepare(self) -> None:
        t0 = time.perf_counter()
        data_dir = os.path.join(self.work_dir, "data")
        rng = datagen.generate(self.name, self.seed, self.scale, data_dir)
        t1 = time.perf_counter()
        self.schedule, self.op_sequence = self.workload.schedule(rng, data_dir, os.path.join(self.work_dir, "out"))
        self.info["datagen_s"] = t1 - t0
        self.info["oracle_s"] = time.perf_counter() - t1

    def _start_session(self):
        import pig_spark.session as session
        from pyspark import SparkContext

        spark = session.get_spark("perfbench")
        self.jvm = SparkContext._gateway.proc
        self.tracer.count_py4j(SparkContext._gateway._gateway_client)
        return spark

    @staticmethod
    def _stop_session() -> None:
        """Stop Spark and wait for the JVM pyspark launched to exit."""
        import subprocess

        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        gateway = SparkContext._gateway
        if gateway is None:
            return
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        SparkSession._instantiatedSession = SparkSession._activeSession = None
        gateway.proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait(timeout=30)

    # -- passes ------------------------------------------------------------
    def _run_op(self, spark, op: Op, group: str) -> tuple[float, bool]:
        spark.sparkContext.setJobGroup(group, op.key)
        self.tracer.op = group
        t0 = time.perf_counter()
        try:
            with self.tracer.span(op.key, "op"):
                out = op.execute(spark)
            lat = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            return time.perf_counter() - t0, False
        finally:
            self.tracer.op = None
        try:
            ok = op.check(out)
        except Exception:  # noqa: BLE001 — an unreadable output is a mismatch
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            print(f"perfbench: output of {group} ({op.key}) does not match its twin", file=sys.stderr)
        return lat, ok

    def _run_pass(self, spark) -> PassRecord:
        i = len(self.passes)
        ops = self.schedule[i % len(self.schedule)]
        rec = PassRecord(i, [], [], [], [], span_lo=len(self.tracer.spans))
        for j, op in enumerate(ops):
            group = f"p{i}.{j}.{op.label}"
            lat, ok = self._run_op(spark, op, group)
            rec.groups.append(group)
            rec.keys.append(op.key)
            rec.lat_s.append(lat)
            rec.ok.append(ok)
        rec.span_hi = len(self.tracer.spans)
        rec.mem = (_hwm_mb(self.jvm.pid), _hwm_mb("self"))
        self.passes.append(rec)
        return rec

    # -- the run -----------------------------------------------------------
    def execute(self) -> None:
        wl = self.workload
        steal0 = _cpu_steal_ticks()
        self.tracer.install()
        try:
            t0 = time.perf_counter()
            spark = self._start_session()
            self._run_pass(spark)  # the cold pass
            self.setup_s = time.perf_counter() - t0
            for _ in range(wl.warm_passes):
                self._run_pass(spark)
            self.first_measured = len(self.passes)
            t_measure = time.perf_counter()
            while True:
                rec = self._run_pass(spark)
                n = len(self.passes) - self.first_measured
                if n == wl.min_passes:
                    # fixed run length for the high-water marks
                    self.jvm_hwm_mb, self.py_hwm_mb = rec.mem
                if self.tracer.enabled:
                    rec.exec_stats = _exec_stats(spark, rec.groups)
                    rec.files = _files_written(self.schedule[rec.index % len(self.schedule)])
                if n >= wl.min_passes and time.perf_counter() - t_measure >= self.seconds:
                    break
        finally:
            self._stop_session()
            self.tracer.uninstall()
        # diagnostics for noisy runs: CPU time the hypervisor gave to
        # other guests during this run
        self.info["cpu_steal_s"] = (_cpu_steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
        self.info["pass_wall_s"] = [r.wall_s for r in self.passes]
        self.info["pass_mem"] = [r.mem for r in self.passes]
        self.info["op_lat_s"] = [list(zip(r.keys, r.lat_s)) for r in self.passes]

    # -- metrics -----------------------------------------------------------
    def measured(self) -> list[PassRecord]:
        return self.passes[self.first_measured:]

    def end_to_end(self) -> dict[str, float]:
        lat: dict[str, list[float]] = {}
        for rec in self.measured():
            for k, x in zip(rec.keys, rec.lat_s):
                lat.setdefault(k, []).append(x)
        med = {k: statistics.median(v) for k, v in lat.items()}
        # homogeneous ops behind each percentile: the typical op is the
        # geometric mean of per-type medians, the tail is the p90 of
        # every latency relative to its own type's median
        ratios = [x / med[k] for k, v in lat.items() for x in v]
        all_ok = [ok for rec in self.passes for ok in rec.ok]
        typical = _geomean(list(med.values()))
        return {
            "setup_s": self.setup_s,
            "op_p50_s": typical,
            "op_p90_s": typical * _percentile(ratios, 90),
            "ops_per_s": sum(len(v) for v in lat.values()) / sum(sum(v) for v in lat.values()),
            "pass_s": statistics.median(r.wall_s for r in self.measured()),
            "ok_frac": sum(all_ok) / len(all_ok),
            "peak_rss_mb": self.jvm_hwm_mb + self.py_hwm_mb,
        }

    def attempted_failed(self) -> tuple[int, int]:
        all_ok = [ok for rec in self.passes for ok in rec.ok]
        return len(all_ok), all_ok.count(False)


# ----------------------------------------------------------------------
# Spark stage metrics, read from the local UI's REST API
# ----------------------------------------------------------------------
def _rest(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=10) as r:
        return json.load(r)


def _exec_stats(spark, groups: list[str]) -> dict[str, float]:
    """Jobs, stages, tasks and stage metrics of the jobs in ``groups``.

    The UI store is fed by Spark's listener bus asynchronously, so wait
    until every job of these groups has ended before reading it."""
    sc = spark.sparkContext
    port = re.search(r":(\d+)$", sc.uiWebUrl or "")
    if port is None:
        return {}
    base = f"http://127.0.0.1:{port.group(1)}/api/v1/applications/{sc.applicationId}"
    wanted = set(groups)
    deadline = time.monotonic() + 10
    while True:
        jobs = [j for j in _rest(base, "/jobs") if j.get("jobGroup") in wanted]
        if all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = [s for s in _rest(base, "/stages") if s["stageId"] in stage_ids and s["status"] != "SKIPPED"]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["numTasks"] for s in stages),
        "failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "input_mb": sum(s["inputBytes"] for s in stages) / 1e6,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 1e6,
        "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
    }


# ----------------------------------------------------------------------
# per-layer metrics (the traced run)
# ----------------------------------------------------------------------
# per-op breakdown keys printed by every traced run: the ops of the
# workloads BENCHMARK.json lists (a pigmix_batch run adds its pmNN keys)
def short_key(key: str) -> str:
    """pm01_map_flatten_bincond -> pm01; latin templates keep their name."""
    return key.split("_")[0] if re.match(r"(pm|q)\d+_", key) else key


# Every listed metric is measured on every listed workload: a time that
# one workload never exercises (the latin scripts STORE nothing) would
# read 0 on every run, so such figures go to the run record instead
# (``per_layer_detail``).
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "grammar.parse_s": "s",
    "translate.self_s": "s",
    "translate.py4j_calls": "count",
    "sources.load_s": "s",
    "sources.load_calls": "count",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "plan.build_s": "s",
    "plan.py4j_calls": "count",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.failed_tasks": "count",
    "functions.cpu_s_per_mb": "s/MB",
    "mem.jvm_hwm_mb": "MB",
    "mem.py_hwm_mb": "MB",
    "trace.attributed_frac": "frac",
}


def _outer(pass_spans: list[spans.Span], layer: str) -> list[spans.Span]:
    """Spans of ``layer`` not nested in another span of the same layer."""
    by_id = {s.id: s for s in pass_spans}
    return [s for s in pass_spans if s.layer == layer and getattr(by_id.get(s.parent), "layer", None) != layer]


def _files_written(ops: list[Op]) -> tuple[int, int]:
    n = size = 0
    for op in ops:
        if op.out and os.path.isdir(op.out):
            for f in os.listdir(op.out):
                if f.startswith("part-"):
                    n += 1
                    size += os.path.getsize(os.path.join(op.out, f))
    return n, size


def per_layer(run: Run) -> tuple[dict[str, float], dict]:
    """Per-pass layer figures: times are medians over the measured
    passes, counts come from the first measured pass (they repeat
    exactly for one seed). Returns the listed metrics and the run
    record's detail: the store and plan-layer self times and the
    per-op breakdown."""
    allspans = run.tracer.spans
    per_pass: list[dict[str, float]] = []
    for rec in run.measured():
        ps = allspans[rec.span_lo:rec.span_hi]
        self_t = spans.layer_self_times(ps, set(rec.groups))
        ops = [s for s in ps if s.layer == "op"]
        d = {
            "grammar.parse_s": self_t[spans.GRAMMAR],
            "translate.self_s": self_t[spans.TRANSLATE],
            "sources.load_s": sum(s.self_s for s in ps if s.layer == spans.SOURCES and s.name == "load"),
            "sources.store_s": sum(s.self_s for s in ps if s.layer == spans.SOURCES and s.name == "store"),
            "plan.self_s": self_t[spans.PLAN],
            "exec.action_s": self_t[spans.EXEC],
            "trace.attributed_frac": sum(s.child_s for s in ops) / sum(s.dur for s in ops),
            "plan.build_s": 0.0,
        }
        for k in ("input_mb", "shuffle_write_mb", "executor_cpu_s", "gc_s"):
            d[f"exec.{k}"] = rec.exec_stats.get(k, 0.0)
        for op in ops:
            # the op's time outside Spark actions: front end and plan building
            ex = sum(s.self_s for s in ps if s.op == op.op and s.layer == spans.EXEC)
            k = short_key(op.name)
            d["plan.build_s"] += op.dur - ex
            d[f"plan.build_s.{k}"] = d.get(f"plan.build_s.{k}", 0.0) + op.dur - ex
            d[f"exec.action_s.{k}"] = d.get(f"exec.action_s.{k}", 0.0) + ex
        per_pass.append(d)
    med = {k: statistics.median(d.get(k, 0.0) for d in per_pass) for k in per_pass[0]}
    out = {k: med[k] for k in PER_LAYER_UNITS if k in med}
    first = run.measured()[0]
    ps = allspans[first.span_lo:first.span_hi]
    out["translate.py4j_calls"] = sum(s.py4j for s in _outer(ps, spans.TRANSLATE))
    out["plan.py4j_calls"] = sum(s.py4j for s in _outer(ps, spans.PLAN))
    out["sources.load_calls"] = sum(1 for s in ps if s.layer == spans.SOURCES and s.name == "load")
    out["sources.files_written"], out["sources.bytes_written"] = first.files
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        out[f"exec.{k}"] = first.exec_stats.get(k, 0)
    out["functions.cpu_s_per_mb"] = out["exec.executor_cpu_s"] / out["exec.input_mb"] if out["exec.input_mb"] else 0.0
    out["session.start_s"] = sum(s.self_s for s in allspans if s.layer == spans.SESSION)
    out["mem.jvm_hwm_mb"], out["mem.py_hwm_mb"] = run.jvm_hwm_mb, run.py_hwm_mb
    detail = {k: v for k, v in med.items() if k not in PER_LAYER_UNITS}
    return {k: out[k] for k in PER_LAYER_UNITS}, detail
