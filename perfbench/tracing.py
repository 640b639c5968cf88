"""Spans around public calls, and per-layer metrics from Spark's event log.

A traced run tags every Spark job with the group ``layer:phase`` of the
call that launched it.  Spans are kept in memory; the event log (on only
in a traced run) is parsed once, after the session stops, into
per-group stage metrics (run/CPU/GC time, shuffle, spill, input/output
bytes, task-time quantiles) and per-group SQL metrics (broadcast build
time, rows, bytes sent to and returned from Python workers).

Layer self time: a call's wall belongs to the call's layer, except the
parts that prefix probes attribute to other layers.  A probe materialises
an intermediate DataFrame into Spark's ``noop`` sink under the group
``layer:phase#probe``; the increment between consecutive probes of a
fused pipeline is the cost of the layer in between.  Probes are extra
work: their time is excluded from the call's wall and counted in
``trace_overhead_s``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict

PROBE = "#probe"


class Tracer:
    """Span recorder.  With ``enabled`` False it only times calls, so the
    untraced run goes through the same code path minus the tagging."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.calls: list[dict] = []  # top-level timed calls
        self._current: dict | None = None
        self.bookkeeping_s = 0.0
        self.check_s = 0.0

    def _group(self, name: str) -> None:
        if self.enabled:
            t = time.perf_counter()
            self.spark.sparkContext.setJobGroup(name, name)
            self.bookkeeping_s += time.perf_counter() - t

    @contextlib.contextmanager
    def call(self, layer: str, phase: str):
        """Time one public call; yields the span record."""
        span = {"layer": layer, "phase": phase, "probe_s": 0.0, "parts": []}
        self._group(f"{layer}:{phase}")
        self._current = span
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span["wall_s"] = time.perf_counter() - t0 - span["probe_s"]
            self._current = None
            self._group("bench:idle")
        self.calls.append(span)

    def probe(self, layer: str, phase: str, df) -> float:
        """Materialise ``df`` into the noop sink (traced run only) and
        return its wall; 0 when tracing is off."""
        if not self.enabled:
            return 0.0
        outer = self._current
        self._group(f"{layer}:{phase}{PROBE}")
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        if outer is not None:
            outer["probe_s"] += dt
            self._group(f"{outer['layer']}:{outer['phase']}")
        else:
            self._group("bench:idle")
        return dt

    def attribute(self, span: dict, layer: str, seconds: float) -> None:
        """Assign part of ``span``'s wall to another layer."""
        if self.enabled:
            span["parts"].append((layer, seconds))

    def probe_chain(self, span: dict, steps) -> None:
        """Probe ``steps`` = [(layer, phase, dfs), ...], the prefixes of
        one fused pipeline (a prefix's time is the sum over its dfs), and
        attribute each prefix's increment over the previous one to its
        layer.  The chain runs twice and the second run is used: the
        first execution of a plan pays JIT and code generation, which
        would otherwise land on whichever prefix runs first."""
        if not self.enabled:
            return
        for layer, phase, dfs in steps:
            for df in dfs:
                self.probe("bench", f"warm.{layer}.{phase}", df)
        prev = 0.0
        for layer, phase, dfs in steps:
            t = sum(self.probe(layer, phase, df) for df in dfs)
            self.attribute(span, layer, max(t - prev, 0.0))
            prev = t

    @contextlib.contextmanager
    def checking(self):
        """An output check between calls: untimed, tagged ``bench:check``."""
        self._group("bench:check")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0
            self._group("bench:idle")

    def self_times(self) -> dict[str, float]:
        """Per-layer self seconds.  Parts that exceed their call's wall
        are kept as measured, so the excess shows in the unattributed
        remainder (negative) instead of vanishing."""
        out: dict[str, float] = defaultdict(float)
        for c in self.calls:
            rest = c["wall_s"]
            for layer, s in c["parts"]:
                out[layer] += s
                rest -= s
            out[c["layer"]] += max(rest, 0.0)
        return dict(out)

    def probe_s(self) -> float:
        return sum(c["probe_s"] for c in self.calls)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class GroupStats:
    """Stage and SQL metrics of one job group."""

    def __init__(self):
        self.jobs = 0
        self.stage = defaultdict(float)  # internal.metrics.* summed
        self.tasks = 0
        # max/p50 task run time of the stage with the most run time
        self.heaviest_spread = 0.0
        self._heaviest_run = -1.0
        self.sql = defaultdict(float)  # SQL metric name -> total
        self.python_input_rows = 0.0  # rows entering Python UDF nodes

    def s(self, name: str) -> float:
        return self.stage.get(f"internal.metrics.{name}", 0.0)

    @property
    def executor_run_s(self) -> float:
        return self.s("executorRunTime") / 1000.0

    @property
    def gc_s(self) -> float:
        return self.s("jvmGCTime") / 1000.0

    @property
    def shuffle_write_bytes(self) -> float:
        return self.s("shuffle.write.bytesWritten")

    @property
    def spill_bytes(self) -> float:
        return self.s("memoryBytesSpilled") + self.s("diskBytesSpilled")

    @property
    def python_bytes(self) -> float:
        return self.sql["data sent to Python workers"] + self.sql[
            "data returned from Python workers"
        ]


def _is_python_node(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Group name -> GroupStats, from the (stopped) application's log."""
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    if not files:
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    accum_exec: dict[int, int] = {}
    accum_name: dict[int, str] = {}
    python_inputs: set[tuple[int, tuple[int, ...]]] = set()  # (exec, row-count accumulators)
    accum_val: dict[int, float] = defaultdict(float)
    stage_info: dict[int, dict] = {}
    task_runs: dict[int, list[float]] = defaultdict(list)

    def plan(exec_id: int, node: dict) -> None:
        for m in node.get("metrics", []):
            accum_exec[m["accumulatorId"]] = exec_id
            accum_name[m["accumulatorId"]] = m["name"]
        if _is_python_node(node["nodeName"]):
            ins: list[int] = []
            stack = list(node["children"])
            while stack and not ins:  # nearest descendant that counts rows
                c = stack.pop(0)
                ins = [m["accumulatorId"] for m in c["metrics"] if m["name"] == "number of output rows"]
                stack.extend(c["children"])
            python_inputs.add((exec_id, tuple(ins)))
        for c in node.get("children", []):
            plan(exec_id, c)

    for fn in files:
        with open(fn) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or "bench:idle"
                    job_group[e["Job ID"]] = g
                    for sid in e["Stage IDs"]:
                        stage_group[sid] = g
                    if "spark.sql.execution.id" in props:
                        exec_group.setdefault(int(props["spark.sql.execution.id"]), g)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    if "Failure Reason" in info:
                        continue
                    stage_info[info["Stage ID"]] = info
                    for a in info.get("Accumulables", []):
                        accum_val[a["ID"]] = max(accum_val[a["ID"]], _num(a.get("Value")))
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    task_runs[e["Stage ID"]].append(_num(m.get("Executor Run Time")))
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    plan(e["executionId"], e["sparkPlanInfo"])
                elif kind.endswith("DriverAccumUpdates"):
                    for aid, v in e["accumUpdates"]:
                        accum_val[aid] = max(accum_val[aid], _num(v))
                elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
                    for m in e["sqlPlanMetrics"]:
                        accum_exec[m["accumulatorId"]] = e["executionId"]
                        accum_name[m["accumulatorId"]] = m["name"]

    out: dict[str, GroupStats] = defaultdict(GroupStats)
    for jid, g in job_group.items():
        out[g].jobs += 1
    for sid, info in stage_info.items():
        gs = out[stage_group.get(sid, "bench:idle")]
        for a in info.get("Accumulables", []):
            if a["Name"].startswith("internal.metrics."):
                gs.stage[a["Name"]] += _num(a.get("Value"))
        gs.tasks += info.get("Number of Tasks", 0)
        runs = task_runs.get(sid, [])
        if len(runs) > 1:
            spread = max(runs) / max(statistics.median(runs), 1.0)
            run = sum(runs)
            if run > gs._heaviest_run:
                gs._heaviest_run, gs.heaviest_spread = run, spread
    for aid, v in accum_val.items():
        ex = accum_exec.get(aid)
        if ex is not None and ex in exec_group:
            out[exec_group[ex]].sql[accum_name[aid]] += v
    for ex, ins in python_inputs:
        if ex in exec_group:
            out[exec_group[ex]].python_input_rows += sum(accum_val.get(a, 0.0) for a in ins)
    return dict(out)


def select(groups: dict[str, GroupStats], layer: str, phase: str | None = None,
           probes: bool = False) -> GroupStats:
    """Merge the groups of ``layer`` into one GroupStats: one phase, or
    every phase starting with ``phase`` when it ends in "(", or all
    phases; probe groups only when ``probes``."""
    m = GroupStats()
    for g, s in groups.items():
        name, is_probe = (g[: -len(PROBE)], True) if g.endswith(PROBE) else (g, False)
        lay, _, ph = name.partition(":")
        if lay != layer or is_probe != probes:
            continue
        if phase is not None and not (ph == phase or (phase.endswith("(") and ph.startswith(phase))):
            continue
        m.jobs += s.jobs
        m.tasks += s.tasks
        for k, v in s.stage.items():
            m.stage[k] += v
        for k, v in s.sql.items():
            m.sql[k] += v
        m.python_input_rows += s.python_input_rows
        m.heaviest_spread = max(m.heaviest_spread, s.heaviest_spread)
    return m


def totals(groups: dict[str, GroupStats]) -> GroupStats:
    """The groups of the pass's calls merged (no probes, no set-up or
    output checks, which run under ``bench:*`` groups)."""
    m = GroupStats()
    for g, s in groups.items():
        if g.endswith(PROBE) or g.startswith("bench:"):
            continue
        m.jobs += s.jobs
        for k, v in s.stage.items():
            m.stage[k] += v
    return m
