"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` in one JVM; the conf choices below are
the ones that matter identically on a 1000-executor cluster:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing);
  at Spark 4.1 AQE does not coalesce the partitions of a cached plan;
- sane broadcast threshold so dimension tables broadcast (SURVEY.md §2.4 J1);
- shuffle partitions sized for the local fixture scale, overridable via
  ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` (on a real cluster you'd set this to
  2-3x total cores or rely on AQE coalescing);
- UTC session timezone so timestamp semantics match the DuckDB oracle;
- Arrow enabled for the Pandas-UDF slow paths (vectorized transfer).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(app_name: str = "dp1-data-wrangling-spark") -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuning applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle = os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Respect the advisory partition size when coalescing instead of
        # maximizing parallelism — the Spark-documented production setting
        # (avoids many tiny post-shuffle partitions at cluster scale).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Fixture parquet uses TIMESTAMP(NANOS) which Spark rejects; read as
        # int64 ns and convert exactly in tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.createHiveTableByDefault", "false")
    )
    return builder.getOrCreate()


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of the engine tuning to a session
    we did not create (the driver hands us one in ``__spark_entry__``)."""
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # NOTE: parquet timestamps without isAdjustedToUTC infer as TIMESTAMP_NTZ
    # (spark.sql.parquet.inferTimestampNTZ.enabled default) — the canonical
    # type here, matching DuckDB oracle semantics under the UTC session tz.
    # Query code must stay type-agnostic (interval arithmetic, no
    # unix_micros on scanned columns): round-4 regression, pinned by
    # tests/test_streaming.py::test_event_correlation_survives_timestamp_ntz.
    # Arrow must be on for local_df's LocalRelation path (a pandas
    # createDataFrame without Arrow parallelizes literals into an RDD —
    # a full task stage per broadcast build) and for pandas-UDF transfer.
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS),
    )
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    except Exception:  # pragma: no cover - conf may be static on some builds
        pass
    return spark
