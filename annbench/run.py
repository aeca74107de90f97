"""Run one benchmark workload against the engine and print its metrics.

    python3 annbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics
(workloads.METRICS); ``--trace 1`` runs the same work with every engine
call wrapped in a span and prints the per-layer metrics
(spans.metric_units()). Every metric is printed as a ``# name = value
unit`` line; the last line of standard output is one JSON object with
the keys correct, attempted, failed and metrics. All files go under
``.bench_work/`` in the repository root and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("serve", "ingest")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: seconds-long inputs for the self-tests")
    return ap.parse_args(argv)


# ------------------------------------------------------------ processes
def _ppid_and_state(pid: int) -> tuple[int, str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    fields = stat.rsplit(")", 1)[1].split()
    return int(fields[1]), fields[0]


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            info = _ppid_and_state(int(entry))
            if info:
                kids.setdefault(info[0], []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> dict[str, float]:
    """Sum of VmHWM over this driver, the JVM and the Python workers,
    with its parts."""
    workers = descendants(jvm_pid)
    parts = {
        "rss_driver_mb": _hwm_kb(os.getpid()) / 1024.0,
        "rss_jvm_mb": _hwm_kb(jvm_pid) / 1024.0,
        "rss_workers_mb": sum(_hwm_kb(p) for p in workers) / 1024.0,
        "python_workers": float(len(workers)),
    }
    parts["peak_rss_mb"] = parts["rss_driver_mb"] + parts["rss_jvm_mb"] + parts["rss_workers_mb"]
    return parts


def _alive(pid: int) -> bool:
    info = _ppid_and_state(pid)
    return info is not None and info[1] != "Z"


def start_spark(cpus: int, tmp: Path):
    from vectordbindexing_spark.session import get_spark

    # a pre-touched fixed heap keeps the JVM's share of peak_rss_mb steady
    java_opts = f"-Djava.io.tmpdir={tmp} -Xms2g -XX:+AlwaysPreTouch"
    return get_spark(
        app_name="annbench", cpus=cpus,
        extra_conf={"spark.driver.extraJavaOptions": java_opts},
    )


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for its Python workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


# ------------------------------------------------------------------ main
def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # no hsperfdata files in the system temp dir, for any JVM started here
    os.environ["JDK_JAVA_OPTIONS"] = "-XX:-UsePerfData"
    sys.path.insert(0, str(ROOT))
    from annbench import spans, workloads  # imports the engine

    tracer = spans.Tracer(enabled=bool(args.trace))
    size = workloads.SIZES[args.size][args.workload]
    spark = None
    try:
        with tracer.span("session.get_spark"):
            spark = start_spark(args.cpus, work / "tmp")
            tracer.bind(spark)
            spark.range(1).count()  # the session answers a job
        run = workloads.Run(spark, tracer, str(work), args.seed, args.seconds, size)
        metrics = workloads.WORKLOADS[args.workload](run)
        rss = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        metrics["peak_rss_mb"] = rss.pop("peak_rss_mb")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        values, units = tracer.metrics(), spans.metric_units()
    else:
        values, units = metrics, workloads.METRICS
    for name, unit in units.items():
        print(f"# {name} = {values[name]:.6g} {unit}")
    for name, value in {**run.report(), **rss}.items():
        print(f"# {name} = {value:.6g}")
    if args.trace:
        total = time.perf_counter() - t_start
        print(f"# tracing took {tracer.overhead_s:.3f} s of this {total:.1f} s run "
              f"({100 * tracer.overhead_s / total:.2f}%)")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
