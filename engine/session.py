"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> str:
    """Ship the ``engine`` package to executors (the ``spark-submit
    --py-files`` mechanism, done programmatically so any entry point works
    regardless of the driver's cwd). Idempotent per session."""
    if getattr(spark, "_engine_shipped", False):
        return ""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(tempfile.gettempdir(), f"engine-pyfiles-{os.getpid()}.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(zpath)
    spark._engine_shipped = True
    return zpath


def get_spark(
    app: str = "spark-graft-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus * 2, 8)
    return (
        SparkSession.builder.appName(app)
        .master(master)
        # AQE: runtime coalescing + skew-join splitting at any scale
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow everywhere: pandas UDF transfer is columnar, never pickled rows
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
