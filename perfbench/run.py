"""Benchmark entry point.

    python3 perfbench/run.py --workload search_tail --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds its inputs from ``--seed``, runs one
workload in one process on ``local[<cpus>]``, checks a sample of the
answers against the single-node oracles, and prints one JSON object as
the last line of standard output: the end-to-end metrics, or with
``--trace 1`` the per-layer metrics of a traced run. Every file it writes
goes under ``.perfbench_work/`` in the repository root and is removed at
exit; the Spark JVM is stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = len(os.sched_getaffinity(0))


def process_start() -> float:
    """Wall-clock start of this process (Linux /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def pin_environment(work: str) -> None:
    """Fixed engine environment, set before Spark starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_DRIVER_MEM="3g",
        PGFTS_LOCAL_DIR=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=ROOT,
    )
    os.environ.pop("PGFTS_BUILD_PARTITIONS", None)
    os.environ.pop("PGFTS_MAX_PARTITION_BYTES", None)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) / 1024
    return 0.0


def end_to_end(res: dict, t_start: float, outcomes: list) -> dict:
    lat = [o.seconds * 1000 for o in outcomes if not o.error]
    return {
        "setup_s": (res["setup_done"] - t_start, "s"),
        "query_p50_ms": (statistics.median(lat), "ms"),
        "query_per_s": (len(outcomes) / res["query_wall"], "1/s"),
        "index_bytes_per_input_byte": (res["index_bytes_per_input_byte"], "ratio"),
        "build_docs_per_s": (res["build_docs_per_s"], "1/s"),
        "refresh_docs_per_s": (res["refresh_docs_per_s"], "1/s"),
    }


def main(argv: list[str] | None = None) -> int:
    t_start = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads  # noqa: E402  (needs the paths above)

    run = workloads.WORKLOADS.get(args.workload)
    if run is None:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    pin_environment(work)

    from project_gutenberg_full_text_search_spark.session import get_spark

    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark(app_name="perfbench",
                          extra_conf={"spark.ui.showConsoleProgress": "false",
                                      "spark.driver.extraJavaOptions":
                                      f"-Djava.io.tmpdir={os.environ['TMPDIR']}"})
        session_s = time.perf_counter() - t
        tracer = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark)
            tracer.install()
        env = workloads.Env(spark, work, args.seed, tracer)
        res = run(env, args.seconds)
        jvm = spark.sparkContext._gateway.proc.pid
        res["peak_rss_mb"] = vm_hwm_mb("self") + vm_hwm_mb(jvm)
        outcomes = res["outcomes"]
        if tracer is not None:
            tracer.uninstall()
        failed = sum(1 for o in outcomes if o.error)
        failed += workloads.verify(env, res.get("check", outcomes))
        env.mark("checked")
        if args.trace:
            metrics = tracing.per_layer(tracer, res, session_s)
        else:
            metrics = end_to_end(res, t_start, outcomes)
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(outcomes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    spark.stop()
    gw.shutdown()
    if proc.stdin:
        proc.stdin.close()  # the gateway server exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
