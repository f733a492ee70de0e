"""Benchmark of the medallion CDC pipeline and the catalog, run from the
root of a checkout:

    python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 5 --trace 0

One workload per process, one client, ``local[nproc / 2]``. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1``). A run record with the environment,
load average, samples, failed checks and, when traced, every span, goes to
``.perfbench_out/``. Scratch space is ``.perfbench_work/<workload>/``, wiped
before and after the run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

# Below physical RAM on small machines; the engine's own default is 24g.
DRIVER_MEMORY = "3g"
# Half the usable CPUs run Spark tasks; the rest are left to the JIT
# compiler, the garbage collector and the Python process, which otherwise
# compete with the task threads and make run-to-run times spread.
CPUS = max(1, len(os.sched_getaffinity(0)) // 2)
QUIET_WAIT_S = 60


def spark_jvms() -> list[int]:
    """Pids of live Spark JVMs (a pyspark gateway runs SparkSubmit)."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            pids.append(int(entry))
    return pids


def wait_until_quiet() -> list[int]:
    """Wait up to QUIET_WAIT_S for other Spark JVMs to end; returns the
    ones still alive."""
    deadline = time.monotonic() + QUIET_WAIT_S
    while (busy := spark_jvms()) and time.monotonic() < deadline:
        time.sleep(2)
    return busy


def start_spark(work: str, workload: str):
    from aws_glue_cdc_metrics_job_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name=f"perfbench-{workload}",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def jvm_figures(spark) -> dict:
    jvm = spark._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    rss_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                rss_kb = int(line.split()[1])
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    executors = spark.sparkContext._jsc.sc().statusStore().executorList(True)
    mem_used = sum(executors.apply(i).memoryUsed() for i in range(executors.size()))
    return {
        "peak_rss_mb": rss_kb / 1024,
        "gc_s": sum(b.getCollectionTime() for b in beans) / 1e3,
        "mem_used_mb": mem_used / 2**20,
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(SPEC) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, args.workload)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY

    sys.path.insert(1, ROOT)
    try:
        import layers
        import workloads
        from spans import NullTracer, Tracer
    except ImportError as ex:
        print(f"perfbench: the engine is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2
    want = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    have = layers.PER_LAYER if args.trace else layers.END_TO_END
    if want != have:
        print("perfbench: BENCHMARK.json and perfbench/layers.py name different metrics", file=sys.stderr)
        return 2

    busy = wait_until_quiet()
    if busy:
        print(f"perfbench: refusing to run while other Spark JVMs are alive: {busy}", file=sys.stderr)
        return 3
    load_before = os.getloadavg()
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    t_start = time.perf_counter()
    spark = start_spark(work, args.workload)
    session_s = time.perf_counter() - t_start
    run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
    tracer = Tracer(spark, run_id) if args.trace else NullTracer()
    try:
        try:
            out = workloads.WORKLOADS[args.workload](spark, tracer, work, args.seed, args.seconds, t_start)
        finally:
            tracer.unwrap_all()
        jvm = {"session_s": session_s, **jvm_figures(spark)}
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = layers.per_layer(tracer.records(), out, jvm, tracer.overhead_s)
    else:
        metrics = layers.end_to_end(out)
    if not all(math.isfinite(v) for v in metrics.values()):
        print(f"perfbench: non-finite metric in {metrics}", file=sys.stderr)
        return 4

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": {
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(),
        },
        "samples": out.samples,
        "ops": list(zip(out.op_names, out.ops_s)),
        "cycles_s": out.cycles_s,
        "problems": out.problems,
        "metrics": metrics,
        "spans": tracer.records(),
    }
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for p in out.problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed {args.seed}: samples {out.samples},"
        f" load average {load_before[0]:.2f} -> {os.getloadavg()[0]:.2f}",
        file=sys.stderr,
    )
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {want[name]}")
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": {k: {"value": v, "unit": want[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
