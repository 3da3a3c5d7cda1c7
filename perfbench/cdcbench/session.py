"""One pinned Spark session per benchmark process, plus host probes.

Every path the session writes (shuffle/spill, warehouse, the JVM's temp
dir) lives under the benchmark's work directory.  The driver heap is
pinned (-Xms = -Xmx) so heap resizing cannot wander between runs: with a
growable heap the JVM's peak RSS spread 1,179-1,352 MB over three
identical runs of one workload.
"""

from __future__ import annotations

import os
import resource
import statistics
import time

#: local[k] cores: at most 4, never more than the host has
CORES = max(1, min(4, os.cpu_count() or 1))
#: driver heap, far below the host's memory and fixed for every run
DRIVER_HEAP = "3g"


def start(work: str):
    from pyspark.sql import SparkSession

    from scylla_cdc_source_connector_spark.tuning import PAYLOAD_SESSION_CONFS

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # the launcher script, the JVMs and Python workers inherit these; no
    # JVM (the launcher's included) writes its perf-data file under /tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    builder = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("cdc-perfbench")
        .config("spark.driver.memory", DRIVER_HEAP)
        .config("spark.driver.extraJavaOptions", f"-Xms{DRIVER_HEAP}")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # keep every job and stage of a run in the status store
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.default.parallelism", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in PAYLOAD_SESSION_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """Memory of the run that follows the engine, in MB: this driver
    process's peak RSS (ru_maxrss) plus the JVM's committed non-heap
    memory (metaspace and code cache: the classes loaded and the code
    compiled).

    The JVM heap is left out because no reading of it was steady.  VmHWM
    reads about the heap size, since G1 cycles young regions through the
    whole heap; VmHWM minus the heap spread 14% over three seeds of one
    workload; and the live set after a full collection read 140-320 MB
    over runs of one `cdc_out` seed, with Python's collector run first,
    the listener bus drained, and soft references cleared."""
    mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    non_heap = mem.getNonHeapMemoryUsage().getCommitted()
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return non_heap / 2**20 + py_kb / 1024.0


def control_ms(spark) -> float:
    """Median wall time of a fixed, engine-independent Spark job.

    Timed just before the measured phase, it tells a slow host phase from
    a regression: the engine cannot move it."""
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 4_000_000, 1, CORES).selectExpr(
            "sum(hash(id, id * 7)) AS s"
        ).collect()
        samples.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(samples)
