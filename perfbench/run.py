#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload corpus_prep --seed 1 --seconds 10 --trace 0

``--workload all`` runs every workload one after another.

Generates the workload's inputs from the seed (perfbench/gen.py), starts
the engine through ``session.get_spark`` on ``local[nproc]`` with a
driver heap sized to the machine, stages the inputs into the program,
then runs operations one after another from a single thread until
``--seconds`` of timed work have passed (finishing the current pass).
Every operation's output is checked outside its timed interval.

Lines before the last describe the box, the inputs and every metric with
its unit; the last line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
executes each operation twice, untraced and traced in alternating order,
and reports the tracing overhead from the pair.

Everything the run writes goes under ``.perfbench/`` at the checkout root;
its working files are removed at exit, the span file is kept.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: End-to-end metrics on the last line of an untraced run.
END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s",
              "peak_rss_mb": "MB"}

#: Per-layer metrics on the last line of a traced run.
PER_LAYER = {
    "session.get_spark_s": "s",
    "setup.staging_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_busy_frac": "ratio",
    "spark.job_time_frac": "ratio",
    "spark.shuffle_write_mb_per_op": "MB",
    "spark.gc_ms_per_op": "ms",
    "trace.overhead_frac": "ratio",
}


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("no MemTotal in /proc/meminfo")


def loadavg() -> str:
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def cpu_times() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def own_ticks(jvm_pid: int | None = None) -> int:
    """CPU ticks used so far by this process, its ended children (earlier
    JVMs) and the running JVM, if any."""
    t = os.times()
    ticks = int((t.user + t.system + t.children_user + t.children_system)
                * os.sysconf("SC_CLK_TCK"))
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        ticks += int(fields[11]) + int(fields[12])
    return ticks


def calibration_ms() -> float:
    """Median time of a fixed single-threaded Python loop: a measure of
    the box's speed at the moment, recorded beside the metrics so runs
    made while a shared machine was slower can be told apart."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for k in range(1_000_000):
            acc = (acc + k * k) % 1_000_003
        times.append(time.perf_counter() - t0)
    return round(1000 * statistics.median(times), 2)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(work: str) -> None:
    """Pin the box: every core, a driver heap of a sixteenth of RAM (1-4
    GB), and every scratch file of Spark, Python and the JVM under
    ``work``."""
    heap_mb = max(1024, min(4096, mem_total_kb() // 1024 // 16))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def source_id() -> dict[str, str]:
    """The git commit when the checkout has one, and a digest of the
    program's sources either way."""
    sha = "none"
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            ref = f.read().strip()
        sha = ref
        if ref.startswith("ref: "):
            path = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(path):
                with open(path) as f:
                    sha = f.read().strip()
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "world_cup_duckdb_spark")
    for dirpath, _, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return {"git_sha": sha, "source_sha256": h.hexdigest()[:16]}


def hwm_mb(pid: int) -> float:
    """Peak resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def versions(spark) -> dict[str, str]:
    import duckdb
    import pyspark

    jvm = spark._jvm
    return {"spark": spark.version, "pyspark": pyspark.__version__,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "duckdb": duckdb.__version__,
            "python": sys.version.split()[0]}


def say(key: str, value, unit: str = "") -> None:
    v = f"{value:.6g}" if isinstance(value, float) else value
    print(f"{key:<36} {v} {unit}".rstrip(), flush=True)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import gen
    from spans import Tracer
    from workloads import WORKLOADS

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{workload}-s{seed}-{os.getpid()}")
    box = {"nproc": nproc(), "mem_total_kb": mem_total_kb(),
           "loadavg_before": loadavg(), "seed": seed, "workload": workload,
           **source_id()}
    box["calibration_ms"] = calibration_ms()
    cpu0 = cpu_times(), own_ticks()
    tracer = Tracer(trace)
    try:
        t0 = time.perf_counter()
        sizes = gen.generate(workload, seed, os.path.join(work, "data"))
        say("inputs.files", len(sizes))
        say("inputs.bytes", sum(sizes.values()), "B")
        say("inputs.generate_s", time.perf_counter() - t0, "s")
        pin_env(work)
        wl = WORKLOADS[workload](os.path.join(work, "data"), work, tracer)
        try:
            return _measure(wl, tracer, seconds, box, cpu0)
        finally:
            wl.close()
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        if trace:
            tracer.dump(os.path.join(base, f"trace-{workload}-s{seed}.json"))


def _stop_jvm() -> None:
    """End the Spark JVM this process launched and wait until it exits:
    the gateway server exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None


@dataclass
class Loop:
    """What the closed loop observed."""
    lat: list = field(default_factory=list)         # untraced op seconds
    traced_lat: list = field(default_factory=list)  # traced op seconds
    engine: list = field(default_factory=list)      # counters per traced op
    failures: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    rows: int = 0
    timed: float = 0.0
    check_s: float = 0.0


def _setup(wl, tracer):
    """One cold set-up: a session start, which launches the JVM, plus the
    workload's staging. Returns (spark, session seconds, staging
    seconds)."""
    from world_cup_duckdb_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark()
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    wl.stage(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def _slot(wl, spark, i, traced, record, tracer, counters, loop) -> bool:
    """Run, time and check operation ``i`` once; False when it raised."""
    tracer.active = traced
    tracer.op = i
    group = counters.begin() if counters else None
    loop.attempted += 1
    t0 = time.perf_counter()
    try:
        op = wl.op(spark, i)
    except Exception:  # a failed operation is counted, not fatal
        loop.timed += time.perf_counter() - t0
        loop.failed += 1
        loop.failures.append(f"op {i}: {traceback.format_exc(limit=-2).strip()}")
        return False
    finally:
        tracer.active = False
    if record:
        loop.timed += op.seconds + op.read_s
        loop.rows += op.rows_in
        (loop.traced_lat if traced else loop.lat).append(op.seconds)
        if traced:
            groups = [group] + getattr(wl, "run_ids", [])[-1:]
            loop.engine.append(dict(counters.collect(groups), wall_s=op.seconds))
    c0 = time.perf_counter()
    problem = wl.check(i, op)
    loop.check_s += time.perf_counter() - c0
    if problem:
        loop.failed += 1
        loop.failures.append(f"op {i}: {problem}")
    return True


def _loop(wl, spark, tracer, seconds) -> Loop:
    """The workload's untimed warm-up operations, then whole timed passes
    until ``seconds`` of timed work. A traced run warms up for at least
    one operation, then does every operation twice, untraced and traced
    in alternating order, so the overhead compares warm runs of the same
    operations. A pass in which no operation completed ends the loop:
    failures that take no time must not keep a time-based loop going."""
    from spans import SparkCounters

    loop = Loop()
    counters = SparkCounters(spark) if tracer.enabled else None
    warmup = max(wl.warmup_ops, 1 if tracer.enabled else 0)
    for i in range(warmup):
        _slot(wl, spark, i, False, False, tracer, counters, loop)
    # Traced runs pair at least two operations, so each order occurs.
    least = 2 if tracer.enabled else 1
    modes = [[False]] if not tracer.enabled else [[False, True], [True, False]]
    i = completed = 0
    while not (i % wl.pass_len == 0 and i >= least and loop.timed >= seconds):
        if i % wl.pass_len == 0:
            if i and not completed:
                loop.failures.append(f"stopped before op {i}: no operation of the last pass completed")
                break
            wl.begin_pass(spark)
            completed = 0
        for traced in modes[i % len(modes)]:
            completed += _slot(wl, spark, i, traced, True, tracer, counters, loop)
        i += 1
    return loop


def _engine_metrics(engine: list[dict], cores: int) -> dict[str, float]:
    n = max(1, len(engine))
    wall = max(1e-9, sum(e["wall_s"] for e in engine))
    total = lambda k: sum(e[k] for e in engine)  # noqa: E731
    return {
        "spark.jobs_per_op": total("jobs") / n,
        "spark.stages_per_op": total("stages") / n,
        "spark.tasks_per_op": total("tasks") / n,
        "spark.task_busy_frac": total("run_ms") / 1000 / (wall * cores),
        "spark.job_time_frac": total("job_ms") / 1000 / wall,
        "spark.shuffle_write_mb_per_op": total("shuffle_bytes") / n / 2**20,
        "spark.gc_ms_per_op": total("gc_ms") / n,
    }


def _measure(wl, tracer, seconds, box, cpu0) -> dict:
    from stats import tail

    spark, session_s, staging_s = _setup(wl, tracer)
    box.update(versions(spark))
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    loop0 = time.perf_counter()
    loop = _loop(wl, spark, tracer, seconds)
    loop_s = time.perf_counter() - loop0
    final = wl.finish(spark)
    if final:
        loop.failures.append(f"final: {final}")
    extra = wl.report()
    peak = hwm_mb(os.getpid()) + hwm_mb(jvm_pid)
    spark.stop()
    box["loadavg_after"] = loadavg()
    # Shares of the machine's CPU time while this run was going: taken by
    # the hypervisor for other guests (steal, field 8 of the cpu line),
    # and used by processes outside this run.
    ticks = [b - a for a, b in zip(cpu0[0], cpu_times())]
    total = max(1, sum(ticks))
    busy = total - ticks[3] - ticks[4]
    box["cpu_steal_frac"] = round(ticks[7] / total, 4)
    box["cpu_other_frac"] = round((busy - ticks[7] - (own_ticks(jvm_pid) - cpu0[1])) / total, 4)

    lat = loop.lat
    completed = len(lat) + len(loop.traced_lat)
    metrics = {
        "setup_s": session_s + staging_s,
        "op_p50_ms": 1000 * statistics.median(lat) if lat else 0.0,
        "ops_per_s": completed / loop.timed if loop.timed else 0.0,
        "peak_rss_mb": peak,
    }
    for k, v in box.items():
        say(f"box.{k}", v)
    say("ops.attempted", loop.attempted)
    say("ops.timed_s", loop.timed, "s")
    say("ops.loop_wall_s", loop_s, "s")
    say("ops.check_s", loop.check_s, "s")
    say("ops.each_ms", " ".join(f"{1000 * x:.0f}" for x in lat), "ms")
    for k, v in metrics.items():
        say(k, v, END_TO_END[k])
    t = tail(lat)
    if t:
        say("op_tail_ms", 1000 * t[1], f"ms (p{t[0]:.1f} of n={t[2]})")
    else:
        say("op_tail_ms", "n/a", f"(only n={len(lat)} samples)")
    if loop.rows:
        say("rows_per_s", loop.rows / loop.timed if loop.timed else 0.0, "1/s")
    say("failed_frac", loop.failed / max(1, loop.attempted), "ratio")
    for k, (v, unit) in extra.items():
        say(k, v, unit)
    for f in loop.failures:
        print(f"FAILED {f}", flush=True)
    if not lat:
        raise RuntimeError("no operation completed")

    if tracer.enabled:
        traced = loop.traced_lat
        metrics = {
            "session.get_spark_s": session_s,
            "setup.staging_s": staging_s,
            **_engine_metrics(loop.engine, box["nproc"]),
            "trace.overhead_frac": statistics.median(traced) / statistics.median(lat) - 1
            if traced and lat else 0.0,
        }
        say("trace.op_p50_ms_untraced", 1000 * statistics.median(lat) if lat else 0.0, "ms")
        say("trace.op_p50_ms_traced", 1000 * statistics.median(traced) if traced else 0.0, "ms")
        for k, v in metrics.items():
            say(k, v, PER_LAYER[k])
        for k, (v, unit) in wl.layer_report().items():
            say(k, v, unit)
        for k, v in sorted(tracer.self_times().items()):
            say(f"self_s.{k}", v, "s")

    wanted = PER_LAYER if tracer.enabled else END_TO_END
    return {
        "correct": not loop.failures,
        "attempted": loop.attempted,
        "failed": min(loop.attempted, loop.failed + (1 if final else 0)),
        "metrics": {k: {"value": metrics[k], "unit": unit} for k, unit in wanted.items()},
    }


def run_all(seed: int, seconds: float, trace: int) -> int:
    """Every workload in turn, each in its own process so none inherits
    another's JVM; the last line merges their results, metric names
    prefixed with the workload."""
    import subprocess

    from workloads import WORKLOADS

    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        print(f"== {name}", flush=True)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
            stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            return proc.returncode or 1
        result = json.loads(lines[-1])
        merged["correct"] &= result["correct"]
        merged["attempted"] += result["attempted"]
        merged["failed"] += result["failed"]
        merged["metrics"].update(
            {f"{name}.{k}": v for k, v in result["metrics"].items()})
    print(json.dumps(merged), flush=True)
    return 0


def main() -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    sys.path.insert(0, ROOT)
    try:
        import world_cup_duckdb_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2
    if a.workload == "all":
        return run_all(a.seed, a.seconds, a.trace)
    result = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
