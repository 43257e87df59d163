"""filters_spark benchmark: one workload, one Spark session, one JSON line.

    python3 perfbench/run.py --workload suite --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates its inputs from
``--seed``, writes them to parquet under ``.perfbench-work/`` (removed at
exit), sets up a ``local[n]`` session (n <= 4 CPUs), runs one warm-up op
and then ops for ``--seconds``, checking every op's output.  The last
stdout line is ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (a separate run with the event log and the Python-UDF
profiler on, alternating untraced and traced ops).  Earlier stdout lines
give every metric with its unit, each op's time and hypervisor steal,
and, when traced, the per-span self times and per-stage Spark metrics.
See README.md for the workloads and the layer -> metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Spark task slots.  The inputs are small: on a 4-CPU host ops ran no slower
#: with two slots than with four, and spread less, since the JVM's own
#: threads and the Python workers keep CPUs of their own (see README.md)
CPUS = min(2, len(os.sched_getaffinity(0)))
DRIVER_MEMORY = "1g"
SETUP_REPS = 3  # input generation + write repeats; setup_s uses the median
#: steal on a shared host comes in bursts that can double an op's time;
#: timing metrics skip ops that lost more than this share of the CPUs
STEAL_LIMIT = 0.05

END_TO_END = {
    "op_s": "s",
    "rows_per_s": "rows/s",
    "resume_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

#: span name -> per-layer wall-time metric (summed per op)
SPAN_TIMES = {
    "compiler.build": "compiler.build_s",
    "plan.analyze": "plan.analyze_s",
    "plan.optimize": "plan.optimize_s",
    "plan.physical": "plan.physical_s",
    "rowpass": "rowpass.s",
    "verdicts": "verdicts.s",
    "stats": "stats.s",
    "violations": "violations.s",
    "drift.cur": "drift.cur_s",
    "drift.base": "drift.base_s",
    "checkpoint.killed": "checkpoint.killed_s",
    "checkpoint.resume": "checkpoint.resume_s",
    "checkpoint.tail": "checkpoint.tail_s",
}
#: spans whose Spark jobs are reported from the event log
EVENT_SPANS = (
    "rowpass",
    "verdicts",
    "stats",
    "violations",
    "drift.cur",
    "drift.base",
    "checkpoint.killed",
    "checkpoint.resume",
)
EVENT_FIELDS = {
    "jobs": "count",
    "stages": "count",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "executor_cpu_s": "s",
    "gc_s": "s",
}
#: measured inside a traced op (workloads.OpResult.layers) or derived
OTHER_LAYERS = {
    "plan.analyzed_kb": "KB",
    "rowpass.kernel_s": "s",
    "verdicts.shuffle_bytes": "B",
    "violations.rows": "count",
    "drift.baseline_scans": "count",
    "scan.input_scans": "count",
    "checkpoint.group_s": "s",
    "checkpoint.bytes_written": "B/row",
    "checkpoint.rework_ratio": "ratio",
    "trace.layer_sum_ratio": "ratio",
    "trace.overhead": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {m: "s" for m in SPAN_TIMES.values()}
    units.update(OTHER_LAYERS)
    for span in EVENT_SPANS:
        for f, unit in EVENT_FIELDS.items():
            units[f"{span}.{f}"] = unit
    return units


def read_steal_s() -> float:
    """Host-wide hypervisor steal so far, in CPU-seconds."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return float("nan")


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    put the checkout on the Python workers' path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    tempfile.tempdir = None


def start_spark(work: str, trace: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("filters_spark_perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # start at the full heap so that peak RSS does not depend on when
        # the JVM decided to grow it
        .config("spark.driver.extraJavaOptions", f"-Xms{DRIVER_MEMORY}")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.default.parallelism", str(CPUS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + events)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.sql.pyspark.udf.profiler", "perf")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb(spark) -> float:
    """Driver JVM ``VmHWM`` plus driver Python ``ru_maxrss``."""
    pid = spark.sparkContext._gateway.proc.pid
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def unstolen(results: list, limit: float = STEAL_LIMIT) -> list:
    """The ops that lost at most ``limit`` of the host's CPU capacity to
    hypervisor steal during their wall time; all ops if none did."""
    cap = os.cpu_count()
    kept = [r for r in results if r.steal_s <= limit * r.wall_s * cap]
    return kept or results


def tail_percentile(values: list[float]) -> dict:
    """Highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return {"percentile": None, "value": None, "samples": n}
    k = n - 10  # the k-th smallest leaves ten samples above it
    return {"percentile": round(100.0 * k / n, 1), "value": sorted(values)[k - 1], "samples": n}


def layer_metrics(tracer, results, events, untraced) -> tuple[dict, dict]:
    """Per-layer metrics (median over traced ops) and the trace report.
    ``results`` holds ``(op index, OpResult)`` for each traced op that
    completed."""
    from spans import self_times

    selfs = self_times(tracer.spans)
    per_op: list[dict] = []
    report = []
    for op, res in results:
        spans = [s for s in tracer.spans if s.op == op]
        m = {name: 0.0 for name in per_layer_units()}
        for s in spans:
            if s.name in SPAN_TIMES:
                m[SPAN_TIMES[s.name]] += s.duration
            ev = events.get(s.id, {})
            if s.name in EVENT_SPANS:
                for f in EVENT_FIELDS:
                    m[f"{s.name}.{f}"] += ev.get(f, 0)
            if s.name == "verdicts":
                m["verdicts.shuffle_bytes"] += ev.get("shuffle_read_bytes", 0)
            m["scan.input_scans"] += ev.get("input_scans", 0)
            m["drift.baseline_scans"] += ev.get("baseline_scans", 0)
        m.update(res.layers)
        root = next(s for s in spans if s.parent is None)
        if res.resume_s is not None:
            covered = m["checkpoint.resume_s"] + m["checkpoint.tail_s"]
            m["trace.layer_sum_ratio"] = covered / untraced["resume_s"]
        else:
            layer_sum = sum(selfs[s.id] for s in spans if s.parent is not None)
            m["trace.layer_sum_ratio"] = layer_sum / untraced["op_s"]
        m["trace.overhead"] = root.duration / untraced["op_s"] - 1.0
        per_op.append(m)
        report.append(
            {s.name: round(selfs[s.id], 4) for s in spans}
        )
    per_op = per_op or [{k: 0.0 for k in per_layer_units()}]
    med = {k: statistics.median(m[k] for m in per_op) for k in per_layer_units()}
    return med, {"self_s": report}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    import filters_spark  # noqa: F401  (fails fast outside a checkout)
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    t_start = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    configure_env(work)
    spark = None
    try:
        spark = start_spark(work, bool(args.trace))
        session_s = time.perf_counter() - t_start
        w = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        input_s = []
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            w.write_inputs(os.path.join(work, f"setup{i}"))
            input_s.append(time.perf_counter() - t0)
        w.root = os.path.join(work, "setup0")
        w.load()
        warm = getattr(w, "warmup", w.op)()
        setup_s = session_s + statistics.median(input_s) + warm.wall_s

        tracer = Tracer(spark.sparkContext) if args.trace else None
        untraced, traced, problems = [warm], [], list(warm.problems)
        attempted, failed = 1, int(bool(warm.problems))
        t_measure = time.perf_counter()
        while True:
            for kind in ("untraced", "traced") if tracer else ("untraced",):
                attempted += 1
                s0 = read_steal_s()
                try:
                    if kind == "traced":
                        op = tracer.op
                        try:
                            res = w.traced_op(tracer)
                        finally:
                            tracer.op += 1
                        traced.append((op, res))
                    else:
                        res = w.op()
                        untraced.append(res)
                except Exception as e:  # an op that raises counts as failed
                    problems.append(f"{kind} op raised {type(e).__name__}: {e}")
                    failed += 1
                    continue
                res.steal_s = read_steal_s() - s0
                if res.problems:
                    failed += 1
                    problems += res.problems
            if time.perf_counter() - t_measure >= args.seconds:
                break
        measure_s = time.perf_counter() - t_measure
        measured = untraced[1:] or [warm]
        kept = unstolen(measured)
        op_times = [r.wall_s for r in measured]
        op_s = statistics.median(r.wall_s for r in kept)
        resumes = [r.resume_s for r in kept if r.resume_s is not None]
        e2e = {
            "op_s": op_s,
            "rows_per_s": w.input_rows / op_s,
            # without a checkpoint a restart redoes the whole op
            "resume_s": statistics.median(resumes) if resumes else op_s,
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss_mb(spark),
        }
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "host": {"local_cpus": CPUS, "nproc": os.cpu_count(), "driver_memory": DRIVER_MEMORY},
            "session_s": session_s,
            "input_s": input_s,
            "warmup_s": warm.wall_s,
            "op_s_all": op_times,
            "resume_s_all": [r.resume_s for r in measured],
            "traced_op_s_all": [r.wall_s for _, r in traced],
            "op_tail": tail_percentile(op_times),
            "steal_cpu_s_per_op": [round(r.steal_s, 2) for r in measured],
            "kept_op_s": [r.wall_s for r in kept],
            "measure_s": measure_s,
            "fail_rate": failed / attempted,
            "problems": problems[:20],
        }
        if tracer:
            events_dir = os.path.join(work, "events")
            stop_spark(spark)
            spark = None
            import eventlog

            (name,) = os.listdir(events_dir)
            scan_paths = {"input": w.input_dir, "baseline": w.base_dir}
            with open(os.path.join(events_dir, name)) as f:
                parsed = eventlog.parse(f, scan_paths)
            metrics, report = layer_metrics(tracer, traced, parsed["spans"], e2e)
            detail["trace_report"] = {**report, "stages": parsed["stages"]}
            units = per_layer_units()
        else:
            metrics, units = e2e, END_TO_END
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    print("DETAIL " + json.dumps(detail))
    for name in units:
        print(f"{name:32s} {metrics[name]:>16.6g} {units[name]}")
    print(f"{'fail_rate':32s} {detail['fail_rate']:>16.6g} ratio")
    print(f"output check: {'PASS' if not failed else 'FAIL'} ({failed} of {attempted} ops failed)")
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
