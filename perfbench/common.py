"""Process environment and Spark session helpers shared by the benchmark's
main process and its child processes."""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")  # work dirs, history cache, trace files
NPROC = len(os.sched_getaffinity(0))


def setup_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = ROOT + (
        os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(work: str, extra: dict | None = None):
    """The program's own session on local[nproc], with the JVM's temporary
    files kept inside the work directory."""
    from timberline_spark.session import get_spark

    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp", **(extra or {})}
    return get_spark("perfbench", cores=NPROC, extra_conf=conf)


def peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM (the py4j gateway process execs java)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def fresh_out(paths: dict, out: str) -> None:
    """An output directory in the workload's starting state: empty, or a
    hard-linked copy of the history (the pipeline replaces files, it never
    rewrites one in place, so the links keep the history intact)."""
    shutil.rmtree(out, ignore_errors=True)
    if paths["base"]:
        shutil.copytree(paths["base"], out, copy_function=os.link)
