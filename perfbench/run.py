"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload live_warehouse --seed 1 \\
        --seconds 20 --trace 0

Run from the root of a checkout: the package under test is imported
from there, and every file the run writes (inputs, the warehouse, Spark
scratch space, the event log) stays under ``.bench_work/``.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace
1`` runs the same workload with Spark's event log on and the
benchmark's spans labelling every job, prints the per-layer metrics,
then measures the same operation again in a fresh session without the
event log to report the tracing overhead. A human-readable summary goes
to stderr; the last line of stdout is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: traced and untraced medians of one operation may differ by this share
#: before the traced run is reported as not reconciling with the untraced;
#: on 4 cores the event log alone costs about 15 % of an increment or a
#: corpus pass, and operations in one session vary by about as much
OVERHEAD_TOLERANCE = 0.35
#: share of the jobs' time the spans may fail to claim
ATTRIBUTION_TOLERANCE = 0.01


def process_start_epoch() -> float:
    """When this process started, on the ``time.time()`` clock."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    now = time.time()
    return now - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def cpu_s(pids: list[int]) -> float:
    """User plus system CPU seconds the processes have used so far."""
    ticks = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    return spark._jvm.ProcessHandle.current().pid()


def start_session(work: str, cores: int, event_log: str | None = None):
    """A session with the package's own defaults on ``local[cores]``.

    ``SPARK_GRAFT_CPUS`` is the package's knob for the local core count
    (it sets the master and the shuffle partitions); the only settings
    added here keep scratch files inside the work directory and, for
    the traced run, turn the event log on or explicitly off.
    """
    from sales_data_warehouse_spark import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "spark.ui.showConsoleProgress": "false",
        # a second session in the same JVM inherits the first one's
        # settings as system properties, the event log included
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            # the default zstd log cannot be read without zstandard
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + event_log,
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    got = spark.sparkContext.getConf().get("spark.eventLog.enabled")
    if got != conf["spark.eventLog.enabled"]:
        raise RuntimeError(f"spark.eventLog.enabled is {got}, "
                           f"wanted {conf['spark.eventLog.enabled']}")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Close the Py4J gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        # the gateway server exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def reconcile(overhead_frac: float, unattributed_frac: float) -> list[str]:
    """Where the traced run fails to reconcile with the untraced one."""
    problems = []
    if abs(overhead_frac) > OVERHEAD_TOLERANCE:
        problems.append(f"traced median differs from untraced by "
                        f"{overhead_frac:+.1%}, over {OVERHEAD_TOLERANCE:.0%}")
    if unattributed_frac > ATTRIBUTION_TOLERANCE:
        problems.append(f"{unattributed_frac:.1%} of job time unattributed, "
                        f"over {ATTRIBUTION_TOLERANCE:.0%}")
    return problems


def loop(wl, spark, tracer, seconds: float):
    """Closed loop: the next operation starts when the last one ends.
    It runs for ``seconds`` and at least the workload's ``min_steps``
    steps, so that a median never rests on one or two operations when
    the host is slow."""
    ops, queries = [], defaultdict(list)
    deadline = time.perf_counter() + seconds
    steps = 0
    while True:
        op, lat = wl.step(spark, tracer)
        steps += 1
        if op is not None:  # None marks a failed operation
            ops.append(op)
        for name, s in lat.items():
            queries[name] += s
        if steps >= wl.min_steps and time.perf_counter() >= deadline:
            return ops, queries


def untraced(wl, work, cores, seconds, t_proc, h_proc):
    from tracing import Tracer, host_ticks, stolen_share
    from workloads import geomean, median

    tracer = Tracer("untraced", host=host_ticks)
    spark = start_session(work, cores)
    pids = [os.getpid(), jvm_pid(spark)]
    tracer.cpu = lambda: cpu_s(pids)
    wl.setup(spark, tracer)
    for _ in range(wl.warmup_steps):  # the first call of a plan is slow
        wl.step(spark, tracer)
    setup_s = time.time() - t_proc
    h_loop = host_ticks()
    setup_stolen = stolen_share(h_proc, h_loop)
    ops, queries = loop(wl, spark, tracer, seconds)
    stolen = (host_ticks()[0] - h_loop[0]) / os.sysconf("SC_CLK_TCK")
    spark.stop()
    info = {"set-up seconds": round(setup_s, 2),
            "share stolen in set-up": round(setup_stolen, 3),
            "CPU seconds stolen by the host while timing": round(stolen, 2),
            "operation seconds": [round(op.wall_s, 3) for op in ops],
            "share stolen": [round(op.stolen_frac, 3) for op in ops],
            "operation CPU seconds": [round(op.cpu_s, 2) for op in ops],
            "query median ms": {
                k: round(median([s.wall_s for s in v]) * 1000)
                for k, v in sorted(queries.items())},
            "query median ms, steal excluded": {
                k: round(median([s.effective_s for s in v]) * 1000)
                for k, v in sorted(queries.items())}}
    return {
        "setup_s": setup_s * (1 - setup_stolen),
        "op_p50_s": median([op.effective_s for op in ops]),
        "query_geomean_ms": geomean(
            [median([s.effective_s for s in v])
             for v in queries.values()]) * 1000,
    }, info


def traced(wl, work, cores, seconds, seed):
    from tracing import (
        Tracer, attribute, host_ticks, read_event_log, unattributed_frac)
    from workloads import median

    elog = os.path.join(work, "eventlog")
    os.makedirs(elog)
    tracer = Tracer(f"{wl.name}-{seed}", host=host_ticks)
    with tracer.span("session.start"):
        spark = start_session(work, cores, event_log=elog)
    pids = [os.getpid(), jvm_pid(spark)]
    tracer.sc = spark.sparkContext
    tracer.cpu = lambda: cpu_s(pids)
    wl.setup(spark, tracer)
    with tracer.span("warmup"):
        for _ in range(wl.warmup_steps):
            wl.step(spark, tracer)
    tracer.start_timing()
    traced_ops, _ = loop(wl, spark, tracer, seconds)
    extra = {}
    if hasattr(wl, "operator_pass"):
        with tracer.span("operators"):
            extra = wl.operator_pass(spark)
    rss = peak_rss_mb(pids)
    app_id = spark.sparkContext.applicationId
    tracer.sc = None
    spark.stop()

    # the same operation without the event log or job labels, in a
    # fresh session of the same JVM
    plain = Tracer("untraced", host=host_ticks)
    spark = start_session(work, cores)
    wl.resume(spark)
    wl.step(spark, plain)
    plain_ops, _ = loop(wl, spark, plain, seconds)
    spark.stop()

    jobs = read_event_log(os.path.join(elog, app_id))
    layers, orphans = attribute(tracer.spans, jobs)
    first = {}
    for s in tracer.spans:
        first.setdefault(s.name, s)
    t_med = median([op.effective_s for op in traced_ops])
    u_med = median([op.effective_s for op in plain_ops])
    overhead = (t_med - u_med) / u_med if u_med else 0.0
    lost = unattributed_frac(jobs, layers, orphans)
    wl.ops.record(reconcile(overhead, lost), "trace reconcile")
    metrics = {
        "session.start_s": first["session.start"].wall_s,
        "setup.generate_s": first["setup.generate"].wall_s,
        "process.peak_rss_mb": rss,
        "spark.failed_tasks": sum(j.totals.failed_tasks for j in jobs),
        "error_rate": wl.ops.failed / max(1, wl.ops.attempted),
        "trace.overhead_ms": (t_med - u_med) * 1000,
        "trace.overhead_frac": overhead,
        "trace.unattributed_frac": lost,
        **wl.layers(tracer, layers, cores),
        **extra,
    }
    with open(os.path.join(ROOT, ".bench_work",
                           f"trace-{wl.name}-{seed}.json"), "w") as fh:
        json.dump({
            "spans": [
                {**vars(s), "self_s": tracer.self_time_s(s),
                 "jobs": len(layers[s.id].jobs) if s.id in layers else 0}
                for s in tracer.spans],
            "orphan_jobs": [j.id for j in orphans],
            "traced_ops_s": [op.wall_s for op in traced_ops],
            "untraced_ops_s": [op.wall_s for op in plain_ops],
        }, fh, indent=1)
    info = {
        "traced ops": len(traced_ops), "untraced ops": len(plain_ops),
        "jobs": len(jobs),
        "tolerances": f"|traced - untraced| / untraced <= "
                      f"{OVERHEAD_TOLERANCE}, unattributed job time <= "
                      f"{ATTRIBUTION_TOLERANCE} of all",
    }
    return metrics, info


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start_epoch()
    from tracing import host_ticks

    h_proc = host_ticks()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the tests shrink inputs)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import workloads  # imports the package under test

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    ops = workloads.Ops()
    wl = workloads.WORKLOADS[args.workload](work, args.seed, args.scale, ops)
    try:
        if args.trace:
            values, info = traced(wl, work, cores, args.seconds, args.seed)
            wanted = spec["per_layer"]
        else:
            values, info = untraced(wl, work, cores, args.seconds, t_proc,
                                    h_proc)
            wanted = spec["end_to_end"]
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    # a layer this workload never enters reads 0 (no jobs, no time)
    metrics = {m["name"]: {"value": values.get(m["name"], 0),
                           "unit": m["unit"]} for m in wanted}
    unknown = set(values) - set(metrics)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {unknown}")

    print(f"{wl.name} seed {args.seed} on local[{cores}], {wl.describe()}",
          file=sys.stderr)
    for k, v in info.items():
        print(f"  {k}: {v}", file=sys.stderr)
    print(f"  attempted {ops.attempted}, failed {ops.failed}, error_rate "
          f"{ops.failed / max(1, ops.attempted)}", file=sys.stderr)
    for name, m in metrics.items():
        print(f"  {name:48s} {m['value']:>16.6g} {m['unit']}",
              file=sys.stderr)
    for p in ops.problems:
        print(f"  FAILED {p}", file=sys.stderr)
    print(json.dumps({
        "correct": ops.attempted > 0 and ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
