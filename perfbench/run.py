"""Benchmark harness for radar_log_parser_spark.

    python3 perfbench/run.py --workload pipeline_checkpointed --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. The seed makes the inputs; the program gets
only the generated files. The inputs and their references are made before
anything is timed. Set-up (session start, config and vocab load, one
checked warm-up operation) is timed once per run as `setup_s`: a cold JVM
start cannot be repeated inside one process. Then `--seconds` ÷ the
workload's nominal operation time operations (at least one) run back to
back, and each timed quantity is reported as its median. `--trace 1` adds
one traced operation and prints the per-layer metrics instead of the
end-to-end ones. Every output is checked against an independent reference
outside the timed windows.

The last stdout line is the result JSON; the line before it holds the host
block, the raw samples, the mismatches and the pipeline's own records.
Everything the run writes stays under perfbench/_run/.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_run")
# driver heap for every session the benchmark starts; pre-sized like
# session.py does by default
HEAP = "3g"
# Spark task threads, at most: the host is shared, and on 4 vCPUs under
# other tenants' load a 2-thread session spread under half as much run to
# run as a 4-thread one (its tasks are small, so it is little slower);
# the JVM's JIT and GC threads and the Python workers keep cores to run on
SPARK_CORES = 2
E2E_METRICS = ("setup_s", "cpu_s", "rows_per_cpu_s", "peak_rss_mb")


def _configure_env(cores: int) -> None:
    """Pin heap, cores and scratch dirs before pyspark is imported."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_DRIVER_MEM=HEAP,
        SPARK_DRIVER_JAVA_OPTS=f"-Xms{HEAP}",
        # every JVM, the spark-submit launcher too: no perf files in /tmp
        # and no crash log in the working directory; JIT compiler threads
        # live as long as the JVM, so tree_cpu_s can leave all their time out
        JAVA_TOOL_OPTIONS=(
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
            f"-XX:ErrorFile={os.path.join(tmp, 'hs_err_pid%p.log')}"
        ),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_GRAFT_CPUS=str(cores),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
    )
    sys.path.insert(0, ROOT)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _host(spark, cpus: int, cores: int) -> dict:
    import pyarrow
    from bench import _micro_calib

    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return {
        "cores": cpus, "spark_cores": cores, "mem_total_kb": mem_kb, "heap": HEAP,
        "spark": spark.version, "pyarrow": pyarrow.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(), "calib": _micro_calib(),
    }


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def declared_metrics() -> dict[str, dict[str, str]]:
    """BENCHMARK.json metric name → its declaration, per kind."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {kind: {m["name"]: m for m in b[kind]} for kind in ("end_to_end", "per_layer")}


def result_metrics(values: dict[str, float], declared: dict[str, dict]) -> dict:
    if set(values) != set(declared):
        raise RuntimeError(
            f"metric names differ from BENCHMARK.json: "
            f"extra {sorted(set(values) - set(declared))}, missing {sorted(set(declared) - set(values))}"
        )
    return {n: {"value": float(values[n]), "unit": declared[n]["unit"]} for n in declared}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cpus = len(os.sched_getaffinity(0))
    cores = min(cpus, SPARK_CORES)
    _configure_env(cores)
    try:
        import __spark_entry__  # noqa: F401
        import bench  # noqa: F401
        import radar_log_parser_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program under test is not importable here: {e}", file=sys.stderr)
        return 2
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, per_layer_names
    from radar_log_parser_spark.session import get_spark

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    declared = declared_metrics()["per_layer" if args.trace else "end_to_end"]
    wl = WORKLOADS[args.workload](WORK, args.seed)
    shutil.rmtree(os.environ["SPARK_LOCAL_DIRS"], ignore_errors=True)

    # inputs and references are made (or found cached) before set-up starts
    wl.prepare()
    t0 = time.monotonic()
    spark = get_spark(
        app=f"perfbench-{wl.name}", master=f"local[{cores}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    try:
        wl.setup(spark)
        wl.attempt(record=False, warm=True)  # JIT, codegen, python workers
        setup_s = time.monotonic() - t0

        # the count is fixed, not timed: the JVM still warms up over these
        # operations, so each run must time the same ones, however fast
        # the host or the commit runs them
        for _ in range(max(1, int(args.seconds // wl.op_s))):
            wl.attempt()
        if not wl.samples:
            raise RuntimeError("every timed operation failed")
        if args.trace:
            tracer = Tracer(spark, f"{wl.name}-{args.seed}")
            wl.samples_traced = wl.attempt(tracer, record=False)
            layers = dict.fromkeys(per_layer_names(), 0.0)
            layers.update(wl.layers(tracer, wl.median("wall_s")))
            layers["harness.wall_s"] = wl.median("wall_s")
            layers.update(tracer.group_counters())
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(os.path.join(WORK, "traces", f"{wl.name}-{args.seed}.json"))
            values = layers
        else:
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            cpu = wl.median("cpu_s")
            values = dict(zip(E2E_METRICS, (
                setup_s, cpu, wl.rows / cpu,
                (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024,
            )))
        detail = {
            "workload": wl.name, "seed": args.seed, "trace": args.trace,
            "host": _host(spark, cpus, cores), "samples": wl.samples,
            "wrong_outputs": len(wl.wrong), "mismatches": wl.wrong[:20],
            "error_rate": wl.failed / wl.attempted, **wl.detail(),
        }
    finally:
        _stop(spark)

    metrics = result_metrics(values, declared)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": not wl.wrong and wl.failed == 0,
        "attempted": wl.attempted, "failed": wl.failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
