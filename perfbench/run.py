"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload graph_mixed_rw --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. Earlier lines carry the resolved Spark settings, the
generated inputs' properties and the raw samples. Everything the run
writes goes under ``.perfbench_work/`` in the checkout and is removed
when it ends.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

CHECKOUT = os.getcwd()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORKLOAD_NAMES = ("analytics_pipeline", "graph_mixed_rw")
HEAP_CAP_MB = 2048
STOP_WAIT_S = 30.0


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def configure_session(work: str) -> dict:
    """Size the Spark session through the knobs ``session.get_spark``
    reads, and keep every file the JVM or Python writes inside ``work``.
    Must run before pyspark starts its JVM."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb = max(1024, min(HEAP_CAP_MB, mem_available_mb() // 4))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:ErrorFile={work}/hs_err_pid%p.log"
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.driver.defaultJavaOptions='{java_opts}' pyspark-shell"
        ),
    }
    os.environ.update(settings)
    return settings


def process_ended(pid: int) -> bool:
    """True once ``pid`` is gone or only a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] in ("Z", "X")
    except OSError:
        return True


def stop_processes() -> None:
    """Stop the Spark JVM and every process under it (the Python workers)
    and wait until each has ended. Left alone, the JVM exits only some
    time after this process does, when it reads EOF on its stdin."""
    from perfbench.trace import tree_pids

    pids = tree_pids(os.getpid())[1:]
    pyspark = sys.modules.get("pyspark")
    gateway = pyspark.SparkContext._gateway if pyspark is not None else None
    if gateway is not None:
        gateway.shutdown()  # py4j stops talking to the JVM; never raises
        gateway.proc.stdin.close()  # the JVM's cue to exit
        try:
            gateway.proc.wait(STOP_WAIT_S)
        except subprocess.TimeoutExpired:
            pass
    for sig in (signal.SIGTERM, signal.SIGKILL):
        live = [p for p in pids if not process_ended(p)]
        for pid in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + STOP_WAIT_S / 2
        while live and time.monotonic() < deadline:
            time.sleep(0.05)
            live = [p for p in live if not process_ended(p)]
        if not live:
            break
    while True:  # reap the children that are now zombies
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                break
        except ChildProcessError:
            break


def exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)  # so the cleanup in main() runs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if importlib.util.find_spec("hgraphstorage_spark") is None:
        print("perfbench: the hgraphstorage_spark package is not in this checkout", file=sys.stderr)
        return 2

    signal.signal(signal.SIGTERM, exit_on_sigterm)
    work = os.path.join(CHECKOUT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        settings = configure_session(work)
        print(json.dumps({"settings": settings, "seed": args.seed, "seconds": args.seconds}), flush=True)
        from perfbench.workloads import WORKLOADS, Bench

        bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
        try:
            result = WORKLOADS[args.workload](bench)
        finally:
            bench.close()
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
