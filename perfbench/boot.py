"""Process and engine set-up of a benchmark run.

``setup_s`` is measured from process start (``/proc/self/stat``), so
interpreter start and imports count, until ``session.get_spark`` returns
and a first tiny job finishes.
"""

from __future__ import annotations

import os
import sys
import time

DRIVER_MEM = "3g"
# Not engine tuning: keeps stderr free of progress bars.
QUIET_CONF = {"spark.ui.showConsoleProgress": "false"}


def process_age_s() -> float:
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def prepare(work: str) -> str:
    """Point Spark's and Python's scratch space at ``work``; put the
    checkout (the current directory) on the import path. Returns the
    directory used for temp files."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # The engine's heap knob (session.py, default 8g): a fixed, smaller
    # heap keeps peak memory bounded and GC behaviour alike across runs.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, os.getcwd())
    return tmp


def start_spark(tmp: str, extra_conf: dict[str, str] | None = None):
    """Start the engine's session and run one tiny job."""
    from impc_etl_spark.session import get_spark

    conf = dict(QUIET_CONF)
    # The JVM's temp files stay inside the checkout too; -UsePerfData stops
    # it writing /tmp/hsperfdata_<user>. -Xms equal to the heap cap: a heap
    # that grows on demand grows by GC-timing decisions, which moved peak
    # memory by up to 45 % between runs of one workload. The cost: peak
    # memory no longer shows heap use, which is sampled on its own (see
    # run.py, spark_memory_mb).
    conf["spark.driver.extraJavaOptions"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}")
    conf.update(extra_conf or {})
    spark = get_spark("perfbench", master=f"local[{len(os.sched_getaffinity(0))}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(8).selectExpr("sum(id)").collect()
    return spark


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Stop the JVM pyspark launched, and wait until it and every process
    below this one (the Python workers) have exited. The JVM exits when its
    stdin closes; ``SparkSession.stop`` leaves it running."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    from stats import descendants, running

    gateway = SparkContext._gateway
    if gateway is None:
        return
    procs = descendants(os.getpid())
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while any(map(running, procs)) and time.monotonic() < deadline:
        time.sleep(0.05)


def timed_start(tmp: str, extra_conf: dict[str, str] | None = None):
    """(spark, seconds since this process started)."""
    spark = start_spark(tmp, extra_conf)
    return spark, process_age_s()

