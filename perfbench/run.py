"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload operator_panel --seed 3 --seconds 1 --trace 0

Run from the root of a source checkout.  Inputs are written under
``.bench_out/perfbench/`` from the seed (input set ``seed % 8``; the
outputs of each set are recorded in ``perfbench/expected.json``).  Spark
runs ``local[nproc]`` from this single driver thread, with a driver heap
sized from the host's memory.  ``operator_panel`` runs warm-up passes on
a smaller input set as part of set-up, ``jobs`` none; then one pass is
measured (longer than any ``--seconds`` the benchmark is given).  ``--trace 0`` prints the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones (event log on, calls tagged
``layer:phase``).  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the run's provenance.

``--record A[-B]`` instead records the outputs of input sets A..B (and
of the warm-up set) into expected.json; ``perfbench/crosscheck.py``
checks the recorded values against the repository's independent oracles.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
EXPECTED = os.path.join(HERE, "expected.json")


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def host() -> dict:
    """nproc, memory and the driver heap the benchmark gives Spark."""
    nproc = len(os.sched_getaffinity(0))
    mem_gb = _meminfo_kb("MemTotal") / 2**20
    heap_gb = max(1, min(4, int(mem_gb // 4)))
    return {"nproc": nproc, "mem_total_gb": round(mem_gb, 2), "driver_memory": f"{heap_gb}g"}


def source_id() -> str:
    """git sha of the checkout, or a hash of the engine's sources when
    the checkout is not a git repository."""
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10, check=True,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        import hashlib

        h = hashlib.sha256()
        for d, _, files in sorted(os.walk(os.path.join(ROOT, "lazyosm_spark"))):
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(fh.read())
        return "tree-" + h.hexdigest()[:12]


def start_spark(work: str, cpus: int, driver_memory: str, trace: bool):
    """Session through the engine's own factory; every scratch path the
    JVM and the Python workers use is inside ``work``."""
    from lazyosm_spark import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        # -XX:-UsePerfData: no hsperfdata files outside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log = os.path.join(work, "eventlog")
        os.makedirs(log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log,
            "spark.eventLog.compress": "false",
        })
    return get_spark(app="perfbench", cpus=cpus, driver_memory=driver_memory, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to end.

    ``spark.stop()`` alone leaves the JVM running until it sees this
    process's end (EOF on its stdin), so it would outlive the benchmark.
    """
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the gateway server exits on EOF on its stdin
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _become_subreaper() -> None:
    """Adopt orphaned descendants (the Python workers, once the JVM that
    started them has exited) so that they can be waited for."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _descendants() -> list[int]:
    """Live (not zombie) processes below this one."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the fields after the parenthesised command: state, ppid, ...
                state, ppid = f.read().rpartition(")")[2].split()[:2]
        except (OSError, ValueError):
            continue
        if state != "Z":
            parent[int(d)] = int(ppid)
    found, frontier = [], {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        found += frontier
    return found


def _reap_children() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def stop_descendants(grace_s: float = 15.0) -> None:
    """Wait until every process this one started has ended: the ones
    still running after ``grace_s`` get SIGTERM, after twice that SIGKILL."""
    start = time.monotonic()
    while True:
        _reap_children()
        live = _descendants()
        waited = time.monotonic() - start
        if not live or waited > 3 * grace_s:
            if live:
                print(f"# processes {live} did not end", file=sys.stderr)
            return
        if waited > grace_s:
            sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM
            for pid in live:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def make_workload(name, spark, inputs, input_set, tracer, checker, out, pbf_entities):
    import workloads

    if name == "operator_panel":
        return workloads.Panel(spark, inputs, input_set, tracer, checker)
    if name == "jobs":
        return workloads.Jobs(spark, inputs, tracer, checker, out, pbf_entities)
    raise ValueError(f"unknown workload {name!r}")


# Warm-up passes (on the smaller warm-up set) before the measured pass.
# The panel's calls keep speeding up over their first few executions
# (JIT): after two warm-up passes the measured pass is ~20% faster than
# after one, but a second one does not fit the time budget of a run.
# The jobs run cold, as each job does in production (one session per
# job): a warm-up pass of the three jobs costs more than the measured
# pass.
WARM_UP = {"operator_panel": 1, "jobs": 0}


def inputs_dir(input_set) -> str:
    return os.path.join(ROOT, ".bench_out", "perfbench", "inputs", f"s{input_set}")


def generate(input_set) -> int:
    """Write the inputs of a set, or of the warm-up round for "warmup"."""
    import gen

    if input_set == "warmup":
        return gen.generate(inputs_dir("warmup"), 0, gen.WARMUP)
    return gen.generate(inputs_dir(input_set), input_set)


def end_to_end(walls: list[float], rows: int, setup_s: float) -> dict[str, float]:
    return {"setup_s": setup_s, "wall_s": sum(walls), "rows_per_s": rows / sum(walls)}


def per_layer(wl, tracer, groups, extra: dict) -> dict[str, float]:
    """Every per-layer metric; a layer the workload does not reach reads 0."""
    from tracing import select, totals

    def layer(name):
        """The layer's own calls, or its probes when it has no calls."""
        s = select(groups, name)
        return s if s.jobs else select(groups, name, probes=True)

    walls: dict[str, float] = {}
    stages: dict[str, float] = {}
    for c in tracer.calls:
        walls[f"{c['layer']}:{c['phase']}"] = c["wall_s"]
        for phase, w in c.get("stages", []):
            stages[phase] = stages.get(phase, 0.0) + w
    selfs = tracer.self_times()
    # the pass's elapsed time without output checks and probes: the calls
    # plus the benchmark's bookkeeping between them, which no layer claims
    traced = extra["pass_s"] - tracer.check_s - tracer.probe_s()
    tot = totals(groups)
    sj, knn, ddp, dq = (layer(n) for n in (
        "operators.spatial_join", "operators.knn", "operators.dedup", "plans.driver_queries"))
    skew = select(groups, "operators.spatial_join", "tile_points_shuffle")
    skew16 = select(groups, "operators.spatial_join", "tile_points_shuffle_salt16")
    tp = select(groups, "operators.spatial_join", "tile_points")
    lin_fresh = select(groups, "plans.lineage", "run_stage(")
    osm_call = select(groups, "jobs", "osm_make")
    knn_fresh = walls.get("operators.knn:grid_knn", 0.0)
    knn_repeat = walls.get("operators.knn:grid_knn(points_prepared)", 0.0)
    m = {
        "session.start_s": extra["session_start_s"],
        "session.jvm_peak_rss_mb": extra["jvm_peak_rss_mb"],
        "cache.persistent_rdds_leaked": wl.cache.leaked,
        "cache.memo_scans": wl.cache.dirty_units,
        "spark_jobs": tot.jobs,
        "gc_s": tot.gc_s,
        "spill_bytes": tot.spill_bytes,
        "executor_run_s": tot.executor_run_s,
        "trace_overhead_s": tracer.probe_s() + tracer.bookkeeping_s + extra["parse_s"],
        "traced_wall_s": traced,
        "unattributed_s": traced - sum(selfs.values()),
        "operators.spatial_join.call_s": walls.get("operators.spatial_join:tile_points", 0.0),
        "operators.spatial_join.skew_call_s": walls.get("operators.spatial_join:tile_points_shuffle", 0.0),
        "operators.spatial_join.skew_salted_call_s": walls.get(
            "operators.spatial_join:tile_points_shuffle_salt16", 0.0),
        "operators.spatial_join.jobs": sj.jobs,
        "operators.spatial_join.executor_run_s": sj.executor_run_s,
        "operators.spatial_join.python_bytes": sj.python_bytes,
        "operators.spatial_join.candidates_per_member": (
            tp.python_input_rows / extra["members"] if extra.get("members") else 0.0),
        "operators.spatial_join.skew_task_max_over_p50": skew.heaviest_spread,
        "operators.spatial_join.skew_salted_task_max_over_p50": skew16.heaviest_spread,
        "operators.spatial_join.skew_shuffle_write_bytes": skew.shuffle_write_bytes,
        "operators.spatial_join.skew_salted_shuffle_write_bytes": skew16.shuffle_write_bytes,
        "operators.knn.call_s": knn_fresh,
        "operators.knn.prepare_s": walls.get("operators.knn:prepare_points", 0.0),
        "operators.knn.repeat_s": knn_repeat,
        "operators.knn.repeat_over_fresh": knn_repeat / knn_fresh if knn_fresh else 0.0,
        "operators.knn.jobs": knn.jobs,
        "operators.knn.broadcast_build_s": knn.sql["time to build"] / 1000.0,
        "operators.knn.shuffle_write_bytes": knn.shuffle_write_bytes,
        "operators.knn.executor_run_s": knn.executor_run_s,
        "operators.dedup.call_s": walls.get("operators.dedup:minhash_lsh_pairs", 0.0),
        "operators.dedup.jobs": ddp.jobs,
        "operators.dedup.shuffle_write_bytes": ddp.shuffle_write_bytes,
        "operators.dedup.executor_run_s": ddp.executor_run_s,
        "plans.driver_queries.cosine_topk_s": walls.get("plans.driver_queries:cosine_topk", 0.0),
        "plans.driver_queries.way_node_assembly_s": walls.get(
            "plans.driver_queries:way_node_assembly", 0.0),
        "plans.driver_queries.executor_run_s": dq.executor_run_s,
        "plans.driver_queries.shuffle_write_bytes": dq.shuffle_write_bytes,
        "sources.images.decode_executor_run_s": layer("sources.images").executor_run_s,
        "sources.images.decode_tasks": layer("sources.images").tasks,
        "sources.images.python_bytes": layer("sources.images").python_bytes,
        "plans.lineage.run_stage_s": sum(w for p, w in stages.items() if p.startswith("run_stage(")),
        "plans.lineage.files_written": getattr(wl, "files_written", 0),
        "plans.lineage.bytes_written_per_input_byte": (
            lin_fresh.s("output.bytesWritten") / lin_fresh.s("input.bytesRead")
            if lin_fresh.s("input.bytesRead") else 0.0),
        "sources.pbf.input_bytes_per_file_byte": (
            osm_call.s("input.bytesRead") / wl.pbf_bytes if getattr(wl, "pbf_bytes", 0) else 0.0),
        "sources.pbf.executor_run_s": layer("sources.pbf").executor_run_s,
        "sources.pbf.tasks": layer("sources.pbf").tasks,
        "operators.osm.shuffle_write_bytes": layer("operators.osm").shuffle_write_bytes,
        "sources.geobuf.bytes_per_feature": (
            wl.blob_bytes / wl.features if getattr(wl, "features", 0) else 0.0),
        "operators.tokenize.python_bytes": layer("operators.tokenize").python_bytes,
        "operators.packing.jobs": layer("operators.packing").jobs,
    }
    for stage in ("decode_features", "tile_membership", "tile_rollup", "curate", "tokens", "pack"):
        m[f"plans.lineage.run_stage.{stage}_s"] = stages.get(f"run_stage({stage})", 0.0)
    for name in ("operators.spatial_join", "operators.knn", "operators.dedup",
                 "plans.driver_queries", "sources.images", "plans.lineage", "sources.pbf",
                 "operators.osm", "sources.geobuf", "operators.corpus", "operators.text",
                 "operators.tokenize", "operators.packing", "jobs"):
        m[f"{name}.self_s"] = selfs.get(name, 0.0)
    return m


def result_line(spec: dict, key: str, values: dict, checkers) -> str:
    """The result object, metrics in BENCHMARK.json's order and units."""
    metrics = {}
    for mdef in spec[key]:
        if mdef["name"] not in values:
            raise KeyError(f"metric {mdef['name']} not produced")
        metrics[mdef["name"]] = {"value": float(values[mdef["name"]]), "unit": mdef["unit"]}
    failed = sum(c.failed for c in checkers)
    return json.dumps({
        "correct": failed == 0,
        "attempted": sum(c.attempted for c in checkers),
        "failed": failed,
        "metrics": metrics,
    })


def run(args, spec: dict) -> int:
    import gen
    from tracing import Tracer, parse_event_log
    from workloads import Checker

    h = host()
    input_set = args.seed % gen.N_INPUT_SETS
    t = time.perf_counter()
    warm_up = WARM_UP[args.workload]
    pbf_entities = generate(input_set)
    warm_entities = generate("warmup") if warm_up else 0
    gen_s = time.perf_counter() - t
    with open(EXPECTED) as f:
        recorded = json.load(f).get(args.workload, {})
    for s in (input_set, "warmup") if warm_up else (input_set,):
        if str(s) not in recorded:
            print(f"no recorded outputs for {args.workload} input set {s}", file=sys.stderr)
            return 2
    work = os.path.join(ROOT, ".bench_out", "perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    warm_check = Checker(recorded.get("warmup"), record=False)
    checker = Checker(recorded[str(input_set)], record=False)
    trace_on = bool(args.trace)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, h["nproc"], h["driver_memory"], trace_on)
        spark.sparkContext.setJobGroup("bench:setup", "bench:setup")
        spark.range(1).count()
        session_start_s = time.perf_counter() - t0
        if warm_up:
            # set-up ends with the warm-up passes on the smaller warm-up
            # set: the first executions of each plan pay JIT, code
            # generation and Python worker start; the measured pass not
            spark.sparkContext.setJobGroup("bench:warmup", "bench:warmup")
            warm = make_workload(args.workload, spark, inputs_dir("warmup"), 0, Tracer(spark, False),
                                 warm_check, os.path.join(work, "warmup"), warm_entities)
            for _ in range(warm_up):
                warm.run_pass()
        setup_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=trace_on)
        wl = make_workload(args.workload, spark, inputs_dir(input_set), input_set, tracer, checker,
                           os.path.join(work, "out"), pbf_entities)
        # one measured pass: it lasts longer than run_seconds (1 s), and
        # one pass is what the time budget of a run allows
        t_measure = time.perf_counter()
        wl.run_pass()
        walls = [c["wall_s"] for c in tracer.calls]
        extra = {"session_start_s": session_start_s, "pass_s": time.perf_counter() - t_measure}
        if input_set == 0:
            spark.sparkContext.setJobGroup("bench:check", "bench:check")
            checker.attempted += 1
            try:
                gen.check_bench_parity(spark, inputs_dir(0))
            except AssertionError as e:
                checker.fail(str(e))
        if trace_on:
            extra["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
            extra["members"] = (checker.expected.get("spatial_join") or [0])[0]
        stop_spark(spark)
        spark = None
        if trace_on:
            t = time.perf_counter()
            groups = parse_event_log(os.path.join(work, "eventlog"))
            extra["parse_s"] = time.perf_counter() - t
            values = per_layer(wl, tracer, groups, extra)
            key = "per_layer"
        else:
            values = end_to_end(walls, wl.rows, setup_s)
            key = "end_to_end"
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    import pyarrow
    import pyspark

    for e in warm_check.errors:
        print(f"# warm-up check: {e}", file=sys.stderr)
    for e in checker.errors:
        print(f"# check: {e}", file=sys.stderr)
    for c in tracer.calls:
        print(f"# {c['layer']}:{c['phase']} {c['wall_s']:.3f}s", file=sys.stderr)
    print(json.dumps({"provenance": {
        **h,
        "spark": pyspark.__version__, "python": platform.python_version(),
        "pyarrow": pyarrow.__version__, "source": source_id(),
        "workload": args.workload, "seed": args.seed, "input_set": input_set,
        "inputs": gen.label(), "warmup_inputs": gen.label(gen.WARMUP) if warm_up else None,
        "pbf_entities": pbf_entities, "rows": wl.rows, "generate_s": round(gen_s, 3),
        "session_start_s": round(session_start_s, 3), "calls": len(walls),
        "check_s": round(tracer.check_s, 3),
        "persistent_rdds_leaked": wl.cache.leaked,
    }}))
    print(result_line(spec, key, values, [warm_check, checker]))
    return 0


def record(args) -> int:
    """Record the outputs of the warm-up set and of input sets A..B (one
    pass each; the benchmark's own runs then check every later pass
    against the record)."""
    import gen
    from tracing import Tracer
    from workloads import Checker

    lo, _, hi = args.seed_range.partition("-")
    sets = ["warmup"] if WARM_UP[args.workload] else []
    sets += range(int(lo), int(hi or lo) + 1)
    h = host()
    work = os.path.join(ROOT, ".bench_out", "perfbench", f"record-{os.getpid()}")
    spark = start_spark(work, h["nproc"], h["driver_memory"], False)
    try:
        for s in sets:
            n_ent = generate(s)
            if s == 0:
                gen.check_bench_parity(spark, inputs_dir(0))
            ck = Checker(None, record=True)
            wl = make_workload(args.workload, spark, inputs_dir(s), 0 if s == "warmup" else s,
                               Tracer(spark, False), ck, os.path.join(work, "out"), n_ent)
            wl.run_pass()
            if ck.errors:
                print("\n".join(ck.errors), file=sys.stderr)
                return 1
            with open(EXPECTED) as f:
                exp = json.load(f)
            exp.setdefault(args.workload, {})[str(s)] = ck.observed
            with open(EXPECTED, "w") as f:
                json.dump(exp, f, indent=1, sort_keys=True)
                f.write("\n")
            print(f"recorded {args.workload} input set {s}", file=sys.stderr)
    finally:
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1.0,
                    help="minimum measured time; one pass always takes longer")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", dest="seed_range", default=None,
                    help="record expected outputs for input sets A[-B] instead of measuring")
    args = ap.parse_args()
    for need in ("lazyosm_spark", "jobs", "bench.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"{need} not found under {ROOT}: run from the root of a source checkout",
                  file=sys.stderr)
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # the engine, the jobs and bench.py import from the checkout root; the
    # Python workers Spark starts inherit PYTHONPATH
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    scratch = os.path.join(ROOT, ".bench_out", "perfbench", "tmp")
    os.makedirs(scratch, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["TMPDIR"] = scratch
    # every way out, SIGTERM too, passes the finally below, which waits
    # for the JVM and the Python workers to end
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    _become_subreaper()
    try:
        if args.seed_range is not None:
            return record(args)
        return run(args, spec)
    finally:
        stop_descendants()


if __name__ == "__main__":
    sys.exit(main())
