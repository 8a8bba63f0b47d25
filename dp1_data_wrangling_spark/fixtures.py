"""Derived Butler-model fixtures (FIXTURES.md §2).

The reference engine's five table families (SURVEY.md §1.1) — collections,
collection chains, dimension records, datasets, dataset associations,
datastore records — are derived *deterministically* from the driver fixture
tables so that find-first resolution, association semantics and datastore
priority dedup are testable against the DuckDB oracle.

Every fixture has two implementations that MUST stay in lockstep:

- a Spark builder (``build_*`` below), and
- a DuckDB SQL CTE (``ORACLE_CTES`` below) executed by the oracle.

Derivation rules (fixed; changing any of these breaks oracle parity):

- ``datasets``: one row per ``orders`` row.
  dataset_id = unhex(md5(o_orderkey as string))   (16-byte binary UUID-alike,
  mirrors the reference's binary(16) dataset ids, datasets_parquet.py:96)
  run        = 'run_' || (o_orderkey % 5)
  data ID    = (customer=o_custkey, nation=c_nationkey)
- ``associations``: TAGGED rows where o_orderkey % 7 = 0 (collection
  'tagged_a', null timespan); CALIBRATION rows where o_orderkey % 11 = 0
  (collection 'calib_a', begin_nsec = epoch ns of o_orderdate,
  end_nsec = begin + 86400e9 * (1 + o_orderkey % 3)).  Timespans are int64
  nanoseconds, half-open [begin, end) — the reference's TimespanArrowType
  (datasets_parquet.py:39-49).
- ``datastore_records``: every dataset under 'ds_primary'; the 20% subset
  o_orderkey % 5 = 0 duplicated under 'ds_secondary' (priority-dedup
  fixture, datastore_parquet.py:66-76).  Paths follow the reference's RSP
  layout for o_orderkey % 13 = 0 (absolute file:// URI + '#unzip=1'
  fragment, import_dp1.py:83-95 / generate_dp1_file_tree.py:67-72), else a
  relative 'run_x/HEX.fits'.
- ``collections`` / ``collection_chains``: 5 RUN collections chained under
  'chain_root' (positions 0..4), one TAGGED, one CALIBRATION.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.timespan import epoch_ns  # single home for ns arithmetic
from .tables import load_table, local_df

DAY_NS = 86_400_000_000_000

COLLECTION_ROWS = [
    ("run_0", "RUN"),
    ("run_1", "RUN"),
    ("run_2", "RUN"),
    ("run_3", "RUN"),
    ("run_4", "RUN"),
    ("tagged_a", "TAGGED"),
    ("calib_a", "CALIBRATION"),
    ("chain_root", "CHAINED"),
]

CHAIN_ROWS = [("chain_root", f"run_{i}", i) for i in range(5)]


def _orders_with_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    # customer is dimension-sized -> broadcast (SURVEY.md §2.4 J1 posture).
    return orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)


def _dataset_cols(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("o_orderkey"),
        F.col("o_orderdate"),
        F.unhex(F.md5(F.col("o_orderkey").cast("string").cast("binary"))).alias(
            "dataset_id"
        ),
        F.concat(F.lit("run_"), (F.col("o_orderkey") % 5).cast("string")).alias("run"),
        F.col("o_custkey").alias("customer"),
        F.col("c_nationkey").alias("nation"),
    )


def build_datasets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``datasets`` fixture table (dataset_id, run, customer, nation)."""
    return build_datasets_with_key(spark, sf_dir).select(
        "dataset_id", "run", "customer", "nation"
    )


_BASE_CACHE: dict[tuple[str, str], DataFrame] = {}


def build_datasets_with_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """datasets + the generating o_orderkey/o_orderdate (internal use).

    Memoized AND persisted per (session, sf_dir): every Butler-model
    fixture family (datasets, associations, datastore records) derives
    from this one subtree, so materializing it once is the analogue of the
    reference's registry caching context held for the whole export
    (export_dp1.py:68, SURVEY.md §2.12 G2).  ``persist`` is lazy — the
    first query to execute fills the cache; later queries read the
    in-memory columnar copy instead of re-running the orders⋈customer
    join + md5 projection."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir)
    if key not in _BASE_CACHE:
        # Evict entries from stopped sessions first — their persisted
        # blocks died with the old context, but the dict references (and,
        # for a same-process restart, the entry keys) would otherwise
        # accumulate forever.
        for stale in [k for k in _BASE_CACHE if k[0] != app_id]:
            del _BASE_CACHE[stale]
        # Persist ONE copy; the reference in _BASE_CACHE keeps it alive.
        _BASE_CACHE[key] = _dataset_cols(_orders_with_nation(spark, sf_dir)).persist()
    # Return a FRESHLY BUILT plan (fresh expression ids) every call: Spark's
    # CacheManager substitutes the persisted InMemoryRelation by canonical
    # plan match, so callers still hit the cache — while fixture families
    # joined with each other keep distinct exprIds (sharing one Dataset
    # object would trip the ambiguous-self-join check).
    return _dataset_cols(_orders_with_nation(spark, sf_dir))


def build_associations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAGGED (%7) + CALIBRATION (%11) membership rows.

    Single scan of the base subtree: the two membership families are
    emitted by exploding a per-row array of matching (collection,
    timespan) structs instead of union-ing two filtered branches — the
    union form evaluates the orders⋈customer+md5 base twice (Spark does
    not share subtrees across union branches without caching)."""
    ds = build_datasets_with_key(spark, sf_dir)
    begin = epoch_ns(F.col("o_orderdate"))
    end = begin + F.lit(DAY_NS) * (F.lit(1) + F.col("o_orderkey") % 3)
    null_ns = F.lit(None).cast("long")
    memberships = F.array_compact(
        F.array(
            F.when(
                F.col("o_orderkey") % 7 == 0,
                F.struct(
                    F.lit("tagged_a").alias("collection"),
                    null_ns.alias("begin_nsec"),
                    null_ns.alias("end_nsec"),
                ),
            ),
            F.when(
                F.col("o_orderkey") % 11 == 0,
                F.struct(
                    F.lit("calib_a").alias("collection"),
                    begin.alias("begin_nsec"),
                    end.alias("end_nsec"),
                ),
            ),
        )
    )
    return ds.select(
        "dataset_id",
        "run",
        "customer",
        "nation",
        F.explode(memberships).alias("__m"),
    ).select(
        "dataset_id",
        "run",
        "customer",
        "nation",
        F.col("__m.collection").alias("collection"),
        F.col("__m.begin_nsec").alias("begin_nsec"),
        F.col("__m.end_nsec").alias("end_nsec"),
    )


def build_datastore_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every dataset under ds_primary; the %5 subset also under
    ds_secondary.  Single scan: explode the per-row list of datastore
    names instead of union-ing two branches (same reasoning as
    ``build_associations``)."""
    ds = build_datasets_with_key(spark, sf_dir)
    hex_id = F.hex(F.col("dataset_id"))
    rel_path = F.concat(F.col("run"), F.lit("/"), hex_id, F.lit(".fits"))
    abs_path = F.concat(
        F.lit("file:///sdf/data/rubin/"),
        F.col("run"),
        F.lit("/"),
        hex_id,
        F.lit(".fits#unzip=1"),
    )
    names = F.when(
        F.col("o_orderkey") % 5 == 0,
        F.array(F.lit("ds_primary"), F.lit("ds_secondary")),
    ).otherwise(F.array(F.lit("ds_primary")))
    return ds.select(
        F.explode(names).alias("datastore_name"),
        F.col("dataset_id"),
        F.when(F.col("o_orderkey") % 13 == 0, abs_path)
        .otherwise(rel_path)
        .alias("path"),
        F.lit("lsst.daf.butler.formatters.fits").alias("formatter"),
        F.lit("Exposure").alias("storage_class"),
        F.lit(None).cast("string").alias("component"),
        F.md5(F.concat(hex_id, F.lit("-ck")).cast("binary")).alias("checksum"),
        ((F.col("o_orderkey") % 997) * 1024 + 17).cast("long").alias("file_size"),
    )


def build_collections(spark: SparkSession) -> DataFrame:
    return local_df(spark, COLLECTION_ROWS, "name string, type string")


def build_collection_chains(spark: SparkSession) -> DataFrame:
    return local_df(spark, CHAIN_ROWS, "parent string, child string, position int")


def build_dim_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("c_acctbal").alias("acctbal"),
    )


def build_dim_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nation"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").alias("region"),
    )


# --- DuckDB oracle equivalents -------------------------------------------
# Every oracle query is prefixed with this CTE block, making each oracle
# statement self-contained over the driver's pre-registered base views.
# DuckDB leaves unused CTEs unevaluated, so the constant prefix is free.

_COLLECTIONS_VALUES = ",\n        ".join(
    f"('{n}', '{t}')" for n, t in COLLECTION_ROWS
)
_CHAIN_VALUES = ",\n        ".join(f"('{p}', '{c}', {i})" for p, c, i in CHAIN_ROWS)

ORACLE_CTES = f"""
WITH fx_collections(name, type) AS (
    VALUES {_COLLECTIONS_VALUES}
),
fx_collection_chains(parent, child, position) AS (
    VALUES {_CHAIN_VALUES}
),
fx_ds_base AS (
    SELECT
        o_orderkey,
        o_orderdate,
        unhex(md5(CAST(o_orderkey AS VARCHAR))) AS dataset_id,
        'run_' || CAST(o_orderkey % 5 AS VARCHAR) AS run,
        o_custkey AS customer,
        c_nationkey AS nation
    FROM orders JOIN customer ON o_custkey = c_custkey
),
fx_datasets AS (
    SELECT dataset_id, run, customer, nation FROM fx_ds_base
),
fx_associations AS (
    SELECT dataset_id, run, customer, nation,
           'tagged_a' AS collection,
           CAST(NULL AS BIGINT) AS begin_nsec,
           CAST(NULL AS BIGINT) AS end_nsec
    FROM fx_ds_base WHERE o_orderkey % 7 = 0
    UNION ALL
    SELECT dataset_id, run, customer, nation,
           'calib_a' AS collection,
           epoch_ns(o_orderdate) AS begin_nsec,
           epoch_ns(o_orderdate)
             + 86400000000000 * (1 + o_orderkey % 3) AS end_nsec
    FROM fx_ds_base WHERE o_orderkey % 11 = 0
),
fx_datastore_records AS (
    SELECT 'ds_primary' AS datastore_name, dataset_id,
           CASE WHEN o_orderkey % 13 = 0
                THEN 'file:///sdf/data/rubin/' || run || '/'
                     || hex(dataset_id) || '.fits#unzip=1'
                ELSE run || '/' || hex(dataset_id) || '.fits'
           END AS path,
           'lsst.daf.butler.formatters.fits' AS formatter,
           'Exposure' AS storage_class,
           CAST(NULL AS VARCHAR) AS component,
           md5(hex(dataset_id) || '-ck') AS checksum,
           CAST((o_orderkey % 997) * 1024 + 17 AS BIGINT) AS file_size
    FROM fx_ds_base
    UNION ALL
    SELECT 'ds_secondary' AS datastore_name, dataset_id,
           CASE WHEN o_orderkey % 13 = 0
                THEN 'file:///sdf/data/rubin/' || run || '/'
                     || hex(dataset_id) || '.fits#unzip=1'
                ELSE run || '/' || hex(dataset_id) || '.fits'
           END AS path,
           'lsst.daf.butler.formatters.fits' AS formatter,
           'Exposure' AS storage_class,
           CAST(NULL AS VARCHAR) AS component,
           md5(hex(dataset_id) || '-ck') AS checksum,
           CAST((o_orderkey % 997) * 1024 + 17 AS BIGINT) AS file_size
    FROM fx_ds_base WHERE o_orderkey % 5 = 0
),
fx_dim_customer AS (
    SELECT c_custkey AS customer, c_nationkey AS nation,
           c_mktsegment AS mktsegment, c_acctbal AS acctbal
    FROM customer
),
fx_dim_nation AS (
    SELECT n_nationkey AS nation, n_name AS name, n_regionkey AS region
    FROM nation
)
""".strip()


def oracle(sql: str) -> str:
    """Wrap a SELECT with the fixture CTE prefix for the DuckDB oracle.

    A body that starts with its own WITH clause is spliced into the fixture
    CTE list (a statement can only have one WITH).  A ``WITH RECURSIVE``
    body promotes the merged prefix to ``WITH RECURSIVE`` — stripping the
    keyword would break any CTE that actually self-references (DuckDB
    allows non-recursive CTEs under RECURSIVE, so promotion is safe)."""
    body = sql.strip().rstrip(";")
    if body[:5].upper() == "WITH ":
        rest = body[5:].lstrip()
        prefix = ORACLE_CTES
        if rest[:10].upper() == "RECURSIVE ":
            rest = rest[10:].lstrip()
            prefix = "WITH RECURSIVE" + ORACLE_CTES[len("WITH") :]
        return f"{prefix},\n{rest}"
    return f"{ORACLE_CTES}\n{body}"
