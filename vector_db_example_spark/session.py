"""SparkSession construction with scale-oriented defaults.

Defaults chosen for correctness at small SF and sanity at cluster scale:
AQE on (runtime coalescing + skew-join splitting), UTC session timezone
(so results compare bit-for-bit against external oracles), Arrow enabled
for the pandas-UDF surface.

Every parquet file the engine writes (index layouts, their side-tables,
crawl verdicts) is zstd-compressed: layout bytes are both storage and
scan I/O, and zstd cuts them by about a fifth against Spark's snappy
default at no measurable CPU cost. Parquet records the codec per column
chunk, so a layout written under another codec needs no migration: its
files read alongside the zstd appends, and its next compaction rewrites
them as zstd.

DataFrame debugging is off (``spark.python.sql.dataFrameDebugging.enabled
=false``). While it is on, PySpark wraps every Column function (``F.col``,
``F.lit``, ``F.when``, ...) so that each call also reads the active
session and a conf value and sets and clears the JVM's
``PySparkCurrentOrigin``: about six extra py4j round trips per Column op,
about half of a keyword or hybrid question's driver↔JVM calls
(tests/test_roundtrips.py).
PySpark documents the flag as the switch to reduce that slowdown. What it
gives up: an analysis error's DataFrame query context no longer names the
Python file and line of the Column call that built the failing
expression; the error class, message and JVM stack trace are unchanged.
PySpark caches the flag at a process's first Column op, so it is set
here, when the session is built.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "vector_db_example_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    On a real cluster ``master`` comes from the environment / spark-submit;
    locally we default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # No Python call site on each Column op (module docstring).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Best-effort only: spark.driver.memory must reach the JVM before
        # it launches, so this applies ONLY when this builder starts the
        # gateway (fresh process, no PYSPARK_SUBMIT_ARGS). Under
        # spark-submit, or if a session already exists, it is a silent
        # no-op — launchers that need a guaranteed heap must pass
        # --driver-memory / PYSPARK_SUBMIT_ARGS themselves.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()
