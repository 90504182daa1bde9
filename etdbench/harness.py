"""Spark session, environment record and process hygiene for the benchmark.

The session comes from the engine's own ``get_spark`` factory, pinned to the
machine it runs on: ``local[nproc]``, ``nproc`` shuffle partitions, and a
driver heap set through ``SPARK_DRIVER_MEMORY`` well under physical RAM.
Every scratch directory Spark, the JVM and Python use is placed inside the
benchmark's work directory. The young generation is fixed (``-Xmn``) so the
JVM's resident size follows what the program keeps alive rather than the
collector's adaptive sizing, which otherwise moves peak RSS by a fifth from
run to run.
"""

from __future__ import annotations

import os
import subprocess

DRIVER_MEMORY = "3g"
PROGRESS_KEPT = 10000


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_jiffies() -> int:
    """Hypervisor steal time summed over all CPUs (``/proc/stat``, field 8)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def start_spark(workdir: str, ui: bool):
    """A ``get_spark`` session pinned to this machine. ``ui`` turns the web
    UI (and so its status REST API) on; it stays off for untraced runs."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ.setdefault("PYSPARK_PYTHON", "python3")
    from etdtransform_spark.session import get_spark

    cpus = nproc()
    conf = {
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing -Xms{DRIVER_MEMORY} -Xmn512m "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.port": "0",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": str(PROGRESS_KEPT),
    }
    spark = get_spark(
        "etdbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def reset_peak_rss(spark, pid: int) -> bool:
    """Collect the JVM's garbage, then restart the kernel's peak-RSS counter
    of ``pid`` (``clear_refs`` 5), so the peak starts from the live set-up
    state; False when the kernel refuses, in which case the peak covers
    set-up too."""
    spark._jvm.java.lang.System.gc()
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")
        return True
    except OSError:
        return False


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def environment(spark) -> dict:
    return {
        "nproc": nproc(),
        "driver_memory": DRIVER_MEMORY,
        "spark_version": spark.version,
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the Python gateway launched, and wait
    until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
