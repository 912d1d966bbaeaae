"""Store benchmark: one closed-loop, single-client workload per run.

    python3 perfbench/run.py --workload {ingest,query} \
        --seed N --seconds S --trace {0,1}

Run it from the root of a checkout of the repository. The last line of
standard output is one JSON object: correct, attempted, failed and the
metrics (the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1). The line before it, prefixed `perfbench:`, records the
environment and the sizes the run used. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _pin_environment(tmp: str) -> None:
    """Everything Spark writes goes under `tmp`; the session is UTC."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = f"{tmp}/spark-local"
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # get_spark reads these; the benchmark passes master and partitions
    # explicitly, so whatever the caller's shell says is overridden
    for k in ("SPARK_MASTER", "SPARK_SQL_SHUFFLE_PARTITIONS"):
        os.environ.pop(k, None)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-Xms2g -XX:+AlwaysPreTouch' "
        "pyspark-shell")
    os.makedirs(f"{tmp}/spark-local", exist_ok=True)


def _stop_spark(spark) -> None:
    """Stop Spark and wait until every process it started has ended.

    The JVM exits when its stdin closes; its Python workers exit once
    the JVM is gone, reparented away from this process, so they are
    listed before the stop and waited for by pid."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants
    started = descendants(os.getpid())
    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    SparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    end = time.time() + 30
    while time.time() < end:
        started = [p for p in started if _alive(p)]
        if not started:
            return
        time.sleep(0.1)
    for p in started:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    """Whether `pid` runs (a zombie has ended; it only awaits reaping)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            st = f.read()
    except OSError:
        return False
    return st[st.rindex(")") + 2] != "Z"


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _steal_pct(t0: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests since t0:
    a high figure marks a run made on a busy shared host."""
    s1, n1 = _cpu_ticks()
    return round(100.0 * (s1 - t0[0]) / max(1, n1 - t0[1]), 2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "columnstore_spark",
                                       "store.py")):
        print("perfbench: columnstore_spark/ not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=work)
    _pin_environment(tmp)
    try:
        result = _run(args, tmp, cores, work)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _run(args, tmp: str, cores: int, work: str) -> dict:
    from perfbench import workloads
    from perfbench.tracing import RssSampler, Tracer

    info = {"workload": args.workload, "seed": args.seed,
            "trace": args.trace, "nproc": cores,
            "master": f"local[{cores}]", "shuffle_partitions": cores,
            "loadavg_1m_start": os.getloadavg()[0]}
    with RssSampler() as rss:
        t = time.perf_counter()
        from columnstore_spark.session import get_spark
        spark = get_spark(app=f"perfbench-{args.workload}",
                          master=f"local[{cores}]",
                          shuffle_partitions=cores)
        spark.sparkContext.setLogLevel("ERROR")
        info["spark_start_s"] = round(time.perf_counter() - t, 3)
        steal0 = _cpu_ticks()
        try:
            tracer = Tracer(spark.sparkContext, bool(args.trace))
            run = workloads.Run(spark, tracer, tmp, args.seed, args.seconds)
            ctx = workloads.WORKLOADS[args.workload](run)
            info["steal_pct"] = _steal_pct(steal0)
            info["details"] = workloads.details(run)
            e2e = workloads.end_to_end(run, rss.peak)
            if args.trace:
                from perfbench import layers
                # the same end-to-end figures with tracing on, to set
                # against an untraced run of the same seed
                info["end_to_end_traced"] = {k: v[0] for k, v in e2e.items()}
                metrics = layers.per_layer(run, ctx, cores, work, args)
            else:
                metrics = e2e
        finally:
            t = time.perf_counter()
            _stop_spark(spark)
            info["stop_s"] = round(time.perf_counter() - t, 3)
    info.update(run.info)
    info["loadavg_1m_end"] = os.getloadavg()[0]
    print("perfbench: " + json.dumps(info), flush=True)
    out = {}
    for name, (value, unit) in metrics.items():
        out[name] = {"value": value, "unit": unit}
    finite = all(isinstance(v["value"], (int, float))
                 and math.isfinite(v["value"]) for v in out.values())
    return {"correct": run.failed == 0 and finite,
            "attempted": run.attempted, "failed": run.failed,
            "metrics": out}


if __name__ == "__main__":
    sys.exit(main())
