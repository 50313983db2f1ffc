"""SparkSession factory.

Local test profile = ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the same
confs apply (AQE, ANSI off, UTC). ANSI is disabled because the reference's
semantics (BigQuery SAFE-ish casts, comma-decimal parsing of dirty strings,
see SURVEY.md §7.4) want NULL-on-garbage casts; oracle SQL uses TRY_CAST to
match.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"  # fallback when core count is unparseable


def _default_shuffle_partitions(master: str) -> str:
    """Derive the shuffle-partition default from the master's core count so
    the scaling probe (driver re-runs the bench at a lower
    $SPARK_GRAFT_CPUS) gets a proportionally shaped shuffle, not a 32-task
    plan on an 8-core master (VERDICT r12 #2). Cluster masters (yarn/k8s)
    fall back to the constant — deployments size shuffle partitions via
    SPARK_GRAFT_SHUFFLE_PARTITIONS / their own conf."""
    if master.startswith("local[") and master.endswith("]"):
        inner = master[6:-1]
        if inner == "*":
            return str(os.cpu_count() or int(DEFAULT_SHUFFLE_PARTITIONS))
        if inner.isdigit():
            return inner
    return DEFAULT_SHUFFLE_PARTITIONS


def get_spark(app_name: str = "taico-spark", shuffle_partitions: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    # A stray SPARK_GRAFT_MASTER silently overriding SPARK_GRAFT_CPUS would
    # invalidate the driver's core-scaling measurement — fail loudly when
    # both are set and disagree (VERDICT r12 #2).
    if "SPARK_GRAFT_MASTER" in os.environ and "SPARK_GRAFT_CPUS" in os.environ:
        if master != f"local[{cpus}]":
            raise ValueError(
                f"SPARK_GRAFT_MASTER={master!r} conflicts with "
                f"SPARK_GRAFT_CPUS={cpus!r} (expected local[{cpus}]); "
                "set only one of them"
            )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode runs everything in one JVM whose default 1g heap OOMs
        # on fact-scale shuffles (observed: sf1 lineitem self-join); size it
        # for the machine. Only effective at JVM launch — a pre-existing
        # session keeps its own setting (e.g. the driver gate's).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # AQE: runtime coalescing, skew-join splitting, dynamic broadcast.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            shuffle_partitions
            or os.environ.get(
                "SPARK_GRAFT_SHUFFLE_PARTITIONS", _default_shuffle_partitions(master)
            ),
        )
        # Non-ANSI: cast('garbage' as int) -> NULL, matching the reference's
        # tolerant parsing; oracle SQL mirrors with TRY_CAST.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for the pandas_udf / mapInPandas escape hatches (LLM ops).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # The events fixture carries TIMESTAMP(NANOS) parquet, which Spark's
        # vectorized reader rejects; read as epoch-nanos longs and convert in
        # the catalog (truncating to micros, matching DuckDB's ns->us cast).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # recursive-CTE row budget scales with data (sf1 closure > the 1M
        # default); the 100-level limit remains the runaway guard
        .config("spark.sql.cteRecursionRowLimit", "1000000000")
        # reclaim superseded reliable checkpoints (iterative ops write one
        # per iteration) once their RDDs are garbage-collected
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    return builder.getOrCreate()

