#!/usr/bin/env python3
"""Benchmark of ms_ocr_spark: end-to-end metrics, or per-layer with --trace 1.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Workloads are described in
`perfbench/workloads.py` and named in `BENCHMARK.json`, which also lists
the metrics; the last line of standard output is one JSON object
`{"correct", "attempted", "failed", "metrics"}`, the lines before it a
human-readable report (machine facts, the per-workload metrics
`docs_per_s`, `query_geomean_s` and `failed_ratio`, every unit's wall).

--trace 0 (end to end):
  * set-up, three times: start a SparkSession on local[nproc], bind the
    inputs and fork the Python worker pool; `setup_s` is the median.  The
    first set-up also launches the JVM, the others restart the
    SparkContext in it.
  * measure: the workload's untimed warm units (one pass each over its
    input; the first takes the Python workers' lazy imports and most of
    the JIT compilation), then repeat the unit until `--seconds` of units
    have run, at least three times; `wall_s` is the median unit wall.
  * `cpu_s`: median over units of the CPU seconds this process tree (the
    driver, the JVM and its Python workers, including workers that exited
    during the unit) spent in the unit; steadier than wall time on a
    shared host.  The driver's own share is in the report.
  * `worker_peak_rss_mb`: VmHWM summed over the JVM's Python worker
    processes.  The JVM's own VmHWM is in the report only: G1 sizes the
    heap anywhere from 1.6 to 3.5 GB for identical work, so it cannot
    carry a bound.
  * every unit's output is checked outside the timed window.

--trace 1 (per layer): one set-up and the warm units, then pairs of an
untraced and a traced unit, in the order U T T U U T ..., until
`--seconds` of units have run, at least two pairs.  Traced units record
the benchmark's spans around the calls into the package and read Spark's
SQL metrics from the executed plan of each of the unit's actions
(`perfbench/planmetrics.py`); the job workload then replays its UDF
bodies in this process (`perfbench/replay.py`).  Per-unit metrics are
medians over traced units; a layer a workload does not exercise reads 0.
  * `unattributed_s` = `pipeline.python_total_s` minus the replay's
    estimate of the UDF calls (codec + `decode_image` + Arc90): Python
    worker time spent outside those calls (Arrow/pandas conversion, worker
    boot, waiting on the JVM).
  * `trace_overhead_s` = median over pairs of traced minus untraced wall.
  * `trace.unspanned_s` = traced unit wall minus the layer spans directly
    inside it (the job's `run_with_checkpoints`, quarantine write and
    `extraction_metrics`; the registry's queries).
  * `trace.reconciled` is 1 when `trace.unspanned_s` is at most
    `TRACE_SLACK` of the traced wall, else 0.
  * `plan.counts_repeat` is 1 when the plan's counters (rows, Arrow bytes,
    shuffle records) are identical in every traced unit, as they must be.
  * the report gives the replay's codec, OCR kernel and Arc90 seconds as
    shares of the traced unit wall.

The held-out seed for performance claims is 977; seeds 1-20 were used while
tuning.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3
MIN_UNITS = 3
MIN_PAIRS = 2
# share of the traced unit wall that may lie outside the layer spans for
# the trace to reconcile
TRACE_SLACK = 0.10


def _proc_tree(root_pid: int) -> list[int]:
    """root_pid and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_s(pids: list[int], reaped: bool = True) -> float:
    """CPU seconds of `pids`; with `reaped`, also of their children that
    have exited and been waited for (e.g. Python workers the pyspark
    daemon forked and reaped), so that a process tree's total does not
    drop when a child ends."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])  # utime + stime
        if reaped:
            total += int(fields[13]) + int(fields[14])  # cutime + cstime
    return total / tick


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all cores (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _peak_rss_mb(spark) -> tuple[float, float]:
    """VmHWM of the JVM and summed over its Python worker processes."""
    jvm = _jvm_pid(spark)
    workers = [p for p in _proc_tree(jvm) if p != jvm]
    return _status_kb(jvm, "VmHWM") / 1024.0, sum(_status_kb(p, "VmHWM") for p in workers) / 1024.0


@dataclass
class Unit:
    """One unit's wall, CPU seconds of this process tree (the driver, the
    JVM and its Python workers), the driver's own share of them, outcome
    (None when the unit raised) and, when traced, per-layer values."""

    wall: float
    cpu: float
    driver_cpu: float
    outcome: object
    sample: dict[str, float]


def _unit(wl, spark, traced: bool = False) -> Unit:
    from perfbench.planmetrics import PlanRecorder
    from perfbench.tracing import Spans

    me = os.getpid()
    spans = Spans()
    # registered for traced units only, so untraced ones pay no listener
    recorder = PlanRecorder(spark) if traced else None
    sample: dict[str, float] = {}
    try:
        cpu0, drv0 = _cpu_s(_proc_tree(me)), _cpu_s([me], reaped=False)
        t0 = time.perf_counter()
        try:
            if traced:
                out, sample = wl.traced_unit(spark, spans, recorder.drain)
            else:
                out = wl.unit(spark)
        except Exception as e:  # the unit's operations all fail
            print(f"unit failed: {e!r}", file=sys.stderr)
            out = None
        wall = time.perf_counter() - t0
        cpu = _cpu_s(_proc_tree(me)) - cpu0
        driver_cpu = _cpu_s([me], reaped=False) - drv0
    finally:
        if recorder is not None:
            recorder.close()
    if traced and out is not None:
        # reference work a traced unit does after the unit proper (the
        # job's noop extraction) is not part of its wall
        wall = spans.last("unit")
        sample["trace.unspanned_s"] = wall - spans.children_s("unit")
    return Unit(wall, cpu, driver_cpu, out, sample)


def _failed(wl, spark, units: list[Unit]) -> int:
    return sum(wl.ops() if u.outcome is None else wl.check(spark, u.outcome) for u in units)


def _environment(spark, cores: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": cores,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "master": spark.sparkContext.master,
    }


def _stop_jvm() -> None:
    """End the JVM pyspark launched (it would otherwise exit only after
    this process) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _forget_jvm_udfs() -> None:
    """Drop the JVM function each module-level pandas UDF caches on first
    use: it is bound to the SparkContext it was created in, and after a
    restart would keep sending accumulator updates to the stopped one."""
    from pyspark.sql.udf import UserDefinedFunction

    for name, mod in list(sys.modules.items()):
        if not name.startswith("ms_ocr_spark"):
            continue
        for obj in vars(mod).values():
            udf = getattr(obj, "_unwrapped", None)
            if isinstance(udf, UserDefinedFunction):
                udf._judf_placeholder = None


def run_e2e(wl, seconds: float, spec: dict) -> tuple[dict, dict]:
    setups, spark = [], None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
            _forget_jvm_udfs()
        t0 = time.perf_counter()
        spark = wl.start()
        wl.open(spark)
        wl.warm_up(spark)
        setups.append(time.perf_counter() - t0)
    try:
        # untimed warm units take the bulk of the JIT compilation and the
        # Python workers' lazy imports; their output is still checked
        warm = [_unit(wl, spark) for _ in range(wl.warm_units)]
        steal0, t0 = _steal_s(), time.perf_counter()
        units: list[Unit] = []
        while len(units) < MIN_UNITS or sum(u.wall for u in units) < seconds:
            units.append(_unit(wl, spark))
        stolen = (_steal_s() - steal0) / (time.perf_counter() - t0)
        rss_jvm, rss_workers = _peak_rss_mb(spark)
        t0 = time.perf_counter()
        failed = _failed(wl, spark, [*warm, *units])
        check_s = time.perf_counter() - t0
        env = _environment(spark, wl.cores)
    finally:
        spark.stop()
    wall = statistics.median(u.wall for u in units)
    values = {
        "setup_s": statistics.median(setups),
        "wall_s": wall,
        "cpu_s": statistics.median(u.cpu for u in units),
        "worker_peak_rss_mb": rss_workers,
    }
    attempted = wl.ops() * (len(warm) + len(units))
    report = {
        **env,
        # CPU time the hypervisor gave to other guests while units ran
        "cpu_stolen_cores": round(stolen, 3),
        "workload": wl.name,
        "seed": wl.seed,
        "ops_unit": wl.ops_unit,
        "ops_per_unit": wl.ops(),
        "warm_unit_walls_s": [round(u.wall, 4) for u in warm],
        "unit_walls_s": [round(u.wall, 4) for u in units],
        "unit_cpu_s": [round(u.cpu, 3) for u in units],
        "unit_driver_cpu_s": [round(u.driver_cpu, 3) for u in units],
        "setups_s": [round(s, 4) for s in setups],
        "check_s": round(check_s, 3),
        "peak_rss_jvm_mb": round(rss_jvm, 1),
        "peak_rss_workers_mb": round(rss_workers, 1),
        "failed_ratio": failed / attempted,
    }
    if wl.ops_unit == "docs":
        report["docs_per_s"] = wl.ops() / wall
    if wl.ops_unit == "queries":
        from perfbench.workloads import query_geomean_s

        walls_per_unit = [u.outcome[1] for u in units if u.outcome is not None]
        report["query_geomean_s"] = query_geomean_s(walls_per_unit)
        report["query_walls_s"] = [{n: round(w, 4) for n, w in u.items()} for u in walls_per_unit]
    return _result(spec["end_to_end"], values, attempted, failed), report


def run_trace(wl, seconds: float, spec: dict) -> tuple[dict, dict]:
    from perfbench.planmetrics import counts_repeat
    from perfbench.replay import CODECS

    spark = wl.start()
    try:
        wl.open(spark)
        wl.warm_up(spark)
        # the warm units warm the JIT, as in --trace 0, and are not counted;
        # then pairs of an untraced and a traced unit, run in the order
        # U T, T U, U T, ... so that a steady drift of the unit wall over
        # the run (the JIT still compiling) cancels out of their differences
        warm = [_unit(wl, spark) for _ in range(wl.warm_units)]
        pairs: list[tuple[Unit, Unit]] = []
        while len(pairs) < MIN_PAIRS or sum(p.wall + t.wall for p, t in pairs) < seconds:
            traced_first = len(pairs) % 2 == 1
            first = _unit(wl, spark, traced=traced_first)
            second = _unit(wl, spark, traced=not traced_first)
            pairs.append((second, first) if traced_first else (first, second))
        units = [*warm, *(u for pair in pairs for u in pair)]
        failed = _failed(wl, spark, units)
        env = _environment(spark, wl.cores)
    finally:
        spark.stop()
    plain = [p.wall for p, _ in pairs]
    traced = [t.wall for _, t in pairs]
    samples = [t.sample for _, t in pairs]
    keys = {k for s in samples for k in s}
    values = {k: statistics.median(s.get(k, 0.0) for s in samples) for k in keys}
    values.update(wl.replay())
    values["unattributed_s"] = values.get("pipeline.python_total_s", 0.0) - values.get(
        "replay.udf_s", 0.0
    )
    values["trace_overhead_s"] = statistics.median(t - p for p, t in zip(plain, traced))
    values["plan.counts_repeat"] = 1.0 if counts_repeat(samples) else 0.0
    traced_wall = statistics.median(traced)
    values["trace.reconciled"] = float(
        values.get("trace.unspanned_s", traced_wall) <= TRACE_SLACK * traced_wall
    )
    attempted = wl.ops() * len(units)
    report = {
        **env,
        "workload": wl.name,
        "seed": wl.seed,
        "untraced_walls_s": [round(w, 4) for w in plain],
        "traced_walls_s": [round(w, 4) for w in traced],
        "trace_slack": TRACE_SLACK,
        "failed_ratio": failed / attempted,
    }
    if "codec.images" in values:
        # the replay's seconds in the codecs, the OCR kernel and Arc90 as a
        # share of the traced unit wall: the share of the wall they take
        # when the UDFs run in one task, as in the job, and at most that
        # share times the cores otherwise
        layer_s = {
            "codec": sum(values[f"codec.{c}_s"] for c in CODECS),
            "kernel": values["kernel.decode_image_s"],
            "arc90": values["arc90.s"],
        }
        for layer, v in layer_s.items():
            report[f"{layer}_share_of_wall"] = round(v / traced_wall, 4)
    return _result(spec["per_layer"], values, attempted, failed), report


def _result(declared: list[dict], values: dict, attempted: int, failed: int) -> dict:
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in declared
        },
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    for needed in ("BENCHMARK.json", "ms_ocr_spark/__init__.py", "jobs/extract_job.py"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            print(f"not a checkout of the repository: {needed} is missing", file=sys.stderr)
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, "perfbench", ".work")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Python workers import the package from the checkout; scratch files
    # of Spark, the JVM and tempfile stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # spark-submit's launcher JVM would write an hsperfdata file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload](ROOT, args.seed, cores)
    wl.prepare()
    run = run_trace if args.trace else run_e2e
    try:
        result, report = run(wl, args.seconds, spec)
    finally:
        _stop_jvm()
    print("report " + json.dumps(report))
    for name, m in result["metrics"].items():
        print(f"metric {name} {m['value']:.6g} {m['unit']}")
    for name, unit in (("docs_per_s", "docs/s"), ("query_geomean_s", "s"), ("failed_ratio", "1")):
        if name in report:
            print(f"metric {name} {report[name]:.6g} {unit}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
