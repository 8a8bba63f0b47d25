"""Typed loaders for the driver fixture tables (TESTDATA.md / FIXTURES.md §1).

The reference reads Parquet with explicitly-constructed Arrow schemas
(dimension_record_parquet.py:63-71 in /root/reference); the Spark analogue is
``spark.read.parquet`` — the parquet footer carries the schema, Catalyst does
column pruning and predicate pushdown automatically.  We keep a declared
schema registry anyway (``EXPECTED_SCHEMAS``) so loads are validated rather
than trusted, which is what a 100 TB deployment wants: fail fast on schema
drift instead of silently miscasting.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# column name -> Spark simpleString type, per FIXTURES.md §1.  Timestamps may
# surface as timestamp or timestamp_ntz depending on the reader config; both
# are accepted by _normalize.
EXPECTED_SCHEMAS: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp",
    },
    "events": {
        "event_id": "bigint",
        "ts": "timestamp",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def local_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Driver-literal DataFrame as a LocalRelation (``LocalTableScan``).

    ``createDataFrame`` on a plain Python list parallelizes it into an RDD
    across defaultParallelism — every downstream execution (including the
    build side of a broadcast join) then runs a full 32-task stage just to
    re-collect a handful of literal rows (~0.4 s/job measured).  Routing
    through pandas+Arrow yields a LocalRelation instead: no job, no tasks,
    and Catalyst can constant-fold/broadcast it for free.  This is the
    right shape for catalog-sized literals (chains, priority lists,
    literal data coordinates) at any cluster scale.
    """
    if not rows:  # Arrow path needs >=1 row to keep dtypes; tiny fallback
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(pd.DataFrame(rows), schema=schema)


def keyed_checkpoint(
    df: DataFrame,
    *keys: str,
    n_partitions: int | None = None,
    eager: bool = True,
) -> DataFrame:
    """``repartition(n, *keys)`` + ``localCheckpoint`` with the hash
    partitioning RECORDED on the checkpoint (r13 optimization round).

    Under AQE, ``Dataset.localCheckpoint`` captures the physical plan's
    ``outputPartitioning`` while the adaptive plan is still non-final, so
    the resulting LogicalRDD reports ``UnknownPartitioning`` and every
    downstream equi-join re-shuffles the checkpointed side — even when it
    was just repartitioned on the join key.  Toggling AQE off around the
    checkpoint makes the LogicalRDD carry ``hashpartitioning(keys, n)``;
    equi-joins on those keys then plan with NO exchange on this side
    (measured on this Spark: self-join of a keyed checkpoint = 0
    exchanges vs 2).  That is the §2.4 "remove shuffles outright" move
    for every iterative operator whose STATIC side is joined per round,
    and for self-joins reading one materialized table twice.

    With no ``keys``, the plan is checkpointed as-is and whatever
    partitioning it ends with (e.g. a window's hash exchange) is
    recorded — no repartition added.

    ``n_partitions`` defaults to the session shuffle-partition setting
    (conf/env-overridable — scale-adaptive, not a local constant).  The
    checkpointed subtree itself runs without AQE re-planning (one
    materialization pass at the conf's static partitioning); every
    consumer query keeps full AQE.

    Concurrency constraint (VERDICT r13): the AQE toggle mutates a
    SESSION-scoped conf for the duration of the checkpoint call.  Safe
    under the driver contract (queries build serially on one session);
    NOT safe if two queries ever build concurrently on one shared
    SparkSession — a sibling thread planning in that window would plan
    without AQE.  If concurrent builds arrive, scope the toggle with a
    cloned session (``spark.newSession()`` shares the RDD checkpoint
    state but isolates the conf) before reaching for anything fancier.
    """
    spark = df.sparkSession

    def _record(d: DataFrame) -> DataFrame:
        prev = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return d.localCheckpoint(eager=eager)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev)

    if not keys:
        return _record(df)
    # Two-phase (the measured lesson of this round's first cut): the
    # subtree materializes FIRST with full AQE — so its own shuffles
    # coalesce to the data's actual size — and only the cheap keyed
    # redistribution of the already-materialized narrow rows runs
    # non-adaptively.  The partition count defaults to what AQE
    # coalescing chose for the materialized data (its RDD partition
    # count ≈ bytes / advisoryPartitionSize) — partitioning derived
    # from input size, not a constant: ~1 at fixture scale, hundreds+
    # at cluster scale.  A conf-pinned count here cost 2-3x wall at
    # sf0.1 (32-task stages under every per-round join at toy size).
    base = df.localCheckpoint(eager=True)
    n = n_partitions or max(1, base.rdd.getNumPartitions())
    return _record(base.repartition(n, *keys))


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure at least ``min_partitions`` (default: defaultParallelism)
    input partitions before CPU-heavy per-row work.

    A small fixture table is one parquet file → ONE input partition, so a
    hash-heavy map (minhash shingling, simhash voting, cosine folds) runs
    single-task no matter how many cores exist.  Redistributing the narrow
    input first is a round-robin shuffle of the (tiny) raw rows and wins
    back full parallelism.  At real scale the input already has thousands
    of files and this is a no-op — the condition keeps the operator from
    ever adding a shuffle to a 100 TB scan.

    The probe is ``df.inputFiles()`` (leaf-scan metadata, no execution) —
    NOT ``df.rdd.getNumPartitions()``, which under AQE materializes the
    final physical plan and eagerly RUNS every upstream shuffle stage at
    plan-build time.  A plan with no file leaves (post-shuffle/derived
    input) is left untouched: a shuffle already redistributed it."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # exotic sources without file listings
        return df
    if not (0 < n_files < target):
        return df
    # r13: a Repartition already in the plan has redistributed the rows —
    # a second round-robin would move every byte again for nothing.  The
    # inputFiles probe alone misses this case (Generate/Project keep the
    # file leaf visible), which made spread(spread(df)) pay two full
    # exchanges of document text in the dedup tier.  Driver-side string
    # probe of the analyzed plan; worst case of a false positive is
    # skipping a redundant shuffle.
    try:
        if "Repartition" in df._jdf.queryExecution().analyzed().toString():
            return df
    except Exception:
        pass
    return df.repartition(target)


_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _normalize(t: str) -> str:
    # timestamp_ntz and timestamp are equivalent for our naive fixture data.
    return t.replace("timestamp_ntz", "timestamp")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, validating its schema against the registry.

    Fixture parquet stores TIMESTAMP(NANOS), which Spark's reader rejects;
    with ``spark.sql.legacy.parquet.nanosAsLong`` those columns surface as
    int64 ns and are converted here to µs timestamps via exact integer
    division (the fixtures are µs-clean; a double cast would lose precision
    at ~1e18 — SURVEY.md §7.4.1).

    Loads are memoized per (session, dir, table): DataFrames are immutable
    plans, and re-listing files + re-validating the schema on every query
    build is pure driver overhead."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    for stale in [k for k in _TABLE_CACHE if k[0] != app_id]:  # dead sessions
        del _TABLE_CACHE[stale]
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    expected = EXPECTED_SCHEMAS.get(name)
    if expected is not None:
        actual_types = dict(df.dtypes)
        for col, typ in expected.items():
            if typ == "timestamp" and actual_types.get(col) == "bigint":
                df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        actual = {f.name: _normalize(f.dataType.simpleString()) for f in df.schema}
        missing = set(expected) - set(actual)
        if missing:
            raise ValueError(f"table {name}: missing columns {sorted(missing)}")
        for col, typ in expected.items():
            if _normalize(typ) != actual[col]:
                raise ValueError(
                    f"table {name}.{col}: expected {typ}, got {actual[col]}"
                )
    _TABLE_CACHE[key] = df
    return df
