"""The benchmark's fixed Spark session: one process, ``local[4]``.

Every setting that changes a measured number is fixed here, so two
checkouts measure with the same session. Scratch space (shuffle files,
JVM temp files, warehouse) stays inside the benchmark's work directory.
"""

from __future__ import annotations

import os
import subprocess

CPUS = 4
DRIVER_MEMORY = "3g"
SHUFFLE_PARTITIONS = 4


def start(work: str):
    """Start the session; scratch directories go under ``work``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = (
        f"-Xms{DRIVER_MEMORY} -XX:+UseParallelGC -XX:ParallelGCThreads={CPUS} -XX:-UsePerfData "
        f"-Djava.io.tmpdir={tmp}"
    )
    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def stop(spark) -> None:
    """Stop the session and wait until the JVM process has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
