"""Seeded workload inputs, generated from the fixture tables.

The program under test only ever sees what these functions write into the
run's work directory:

- ``migrate``: the Butler-model tables of ``fixtures.py``, derived with its
  DuckDB twin and written as parquet, with the collection chain's run order
  permuted by the seed and the
  calibration intervals made overlap-free (the raw fixture's CALIBRATION rows
  overlap at sf0.1, which ``run_import``'s certify step rightly rejects).
- ``catalog_read``: the ``events`` table split into time-ordered commit
  batches (``ts`` as epoch microseconds), plus a seeded read mix whose
  expected answers are computed here with pyarrow, independently of Spark.
- ``headline``: a copy of the fixture tables; the seed does not change them.
"""

from __future__ import annotations

import random
import shutil
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from dp1_data_wrangling_spark import fixtures as fx
from dp1_data_wrangling_spark.tables import TABLE_NAMES

# --- migrate ------------------------------------------------------------------

def seeded_chain_rows(seed: int) -> list[tuple[str, str, int]]:
    """The fixture's 5-run chain under ``chain_root``, run order permuted."""
    runs = [child for _, child, _ in fx.CHAIN_ROWS]
    random.Random(seed).shuffle(runs)
    return [("chain_root", run, pos) for pos, run in enumerate(runs)]


# Certify rejects overlapping intervals per (collection, data ID); one
# interval per key cannot overlap, so keep each key's earliest.
_MIGRATE_SQL = {
    "datasets": "SELECT * FROM fx_datasets",
    "associations": """
        SELECT * FROM fx_associations WHERE begin_nsec IS NULL
        UNION ALL
        SELECT * FROM fx_associations WHERE begin_nsec IS NOT NULL
        QUALIFY row_number() OVER (PARTITION BY collection, customer, nation
                                   ORDER BY begin_nsec, end_nsec, dataset_id) = 1""",
    "datastore_records": "SELECT * FROM fx_datastore_records",
    "dim_customer": "SELECT * FROM fx_dim_customer",
    "dim_nation": "SELECT * FROM fx_dim_nation",
    "collections": "SELECT * FROM fx_collections",
}


MIGRATE_TABLES = (*_MIGRATE_SQL, "collection_chains")


def write_migrate_inputs(sf_dir: str, out: Path, seed: int) -> None:
    """The fixture's Butler-model tables, derived by its DuckDB twin
    (``fixtures.ORACLE_CTES``) and written as one parquet file each."""
    import duckdb

    con = duckdb.connect()
    try:
        for name in ("orders", "customer", "nation"):
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
        chain = ", ".join(f"('{p}', '{c}', {i})" for p, c, i in seeded_chain_rows(seed))
        queries = {
            **_MIGRATE_SQL,
            "collection_chains":
                f"SELECT * FROM (VALUES {chain}) AS t(parent, child, position)",
        }
        for name, sql in queries.items():
            (out / name).mkdir(parents=True)
            con.sql(f"{fx.ORACLE_CTES}\n{sql}").write_parquet(str(out / name / "part-0.parquet"))
    finally:
        con.close()


def read_migrate_inputs(spark, inputs: Path) -> dict:
    return {name: spark.read.parquet(str(inputs / name)) for name in MIGRATE_TABLES}


def parquet_rows(path: Path) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in path.rglob("*.parquet"))


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file() and not p.is_symlink())


# --- catalog_read -------------------------------------------------------------

EVENT_COMMITS = 8


@dataclass
class Read:
    kind: str
    where: str
    version_commit: int | None  # read as of the version after this commit
    expected: tuple  # fingerprint of the matching rows (pyarrow)


def event_batches(sf_dir: str) -> list[pa.Table]:
    """``events`` sorted by time, ``ts`` as epoch microseconds, cut into
    ``EVENT_COMMITS`` equal batches."""
    t = pq.read_table(f"{sf_dir}/events.parquet")
    ts = pc.cast(pc.cast(t["ts"], pa.timestamp("us")), pa.int64())
    t = t.set_column(t.schema.get_field_index("ts"), "ts", ts)
    t = t.replace_schema_metadata(None).sort_by([("ts", "ascending"), ("event_id", "ascending")])
    cuts = [i * t.num_rows // EVENT_COMMITS for i in range(EVENT_COMMITS + 1)]
    return [t.slice(a, b - a) for a, b in zip(cuts, cuts[1:])]


def write_event_batches(batches: list[pa.Table], out: Path) -> list[Path]:
    out.mkdir(parents=True, exist_ok=True)
    paths = []
    for i, b in enumerate(batches):
        p = out / f"batch_{i:02d}.parquet"
        pq.write_table(b, p)
        paths.append(p)
    return paths


def read_mix(batches: list[pa.Table], seed: int) -> list[Read]:
    """One cycle of the read mix, in seeded order: two reads of each of the
    five read types, equally weighted.  ``ts_range`` is one window inside a
    commit batch and one across a commit boundary; ``time_travel`` is a ts
    window read at an older version; ``user_eq`` and ``user_in`` probe the
    Bloom filter; ``ts_or`` is an OR of two ts windows.  The literals come
    from the seed; the number of commit batches each read can touch, and the
    share of a batch each ts window covers, do not."""
    rng = random.Random(seed)
    allev = pa.concat_tables(batches)
    ts, users = allev["ts"], allev["user_id"]
    offsets = [0]
    for b in batches:
        offsets.append(offsets[-1] + b.num_rows)

    def inner_range(i: int) -> tuple[int, int]:
        """A window over half of batch ``i``'s time span, at a seeded offset."""
        lo, hi = batches[i]["ts"][0].as_py(), batches[i]["ts"][-1].as_py()
        a = rng.randint(lo, lo + (hi - lo) // 2)
        return a, a + (hi - lo) // 2

    def rng_mask(a: int, b: int):
        return pc.and_(pc.greater_equal(ts, a), pc.less(ts, b))

    def some_user() -> int:
        return users[rng.randrange(allev.num_rows)].as_py()

    reads: list[tuple] = []  # (kind, where, version_commit, mask)
    a, b = inner_range(rng.randrange(EVENT_COMMITS))
    reads.append(("ts_range", f"ts >= {a} AND ts < {b}", None, rng_mask(a, b)))
    i = rng.randrange(EVENT_COMMITS - 1)
    a, b = inner_range(i)[0], inner_range(i + 1)[1]
    reads.append(("ts_range", f"ts >= {a} AND ts < {b}", None, rng_mask(a, b)))
    for _ in range(2):
        k = rng.randrange(EVENT_COMMITS // 4, EVENT_COMMITS - 1)
        a, b = inner_range(rng.randrange(k + 1))
        in_version = pc.less(pa.array(range(allev.num_rows)), offsets[k + 1])
        reads.append(("time_travel", f"ts >= {a} AND ts < {b}", k,
                      pc.and_(rng_mask(a, b), in_version)))
        u = some_user()
        reads.append(("user_eq", f"user_id = {u}", None, pc.equal(users, u)))
        us = sorted({some_user() for _ in range(5)})
        reads.append(("user_in", f"user_id IN ({', '.join(map(str, us))})", None,
                      pc.is_in(users, pa.array(us))))
        i, j = sorted(rng.sample(range(EVENT_COMMITS), 2))
        (a1, b1), (a2, b2) = inner_range(i), inner_range(j)
        reads.append(("ts_or", f"(ts >= {a1} AND ts < {b1}) OR (ts >= {a2} AND ts < {b2})",
                      None, pc.or_(rng_mask(a1, b1), rng_mask(a2, b2))))
    rng.shuffle(reads)
    return [Read(kind, where, version, expected_fingerprint(allev.filter(mask)))
            for kind, where, version, mask in reads]


# ts sums overflow a long (ANSI mode raises), so ts is summed modulo this
TS_MOD = 1_000_000_007


def expected_fingerprint(t: pa.Table) -> tuple:
    def s(arr) -> int:
        v = pc.sum(arr).as_py()
        return int(v or 0)

    value = pc.sum(t["value"]).as_py() or 0.0
    # ts >= 0, so truncating division makes this Spark's ts % TS_MOD
    ts_mod = pc.subtract(t["ts"], pc.multiply(pc.divide(t["ts"], TS_MOD), TS_MOD))
    return (t.num_rows, s(t["event_id"]), s(t["user_id"]), s(ts_mod),
            s(pc.utf8_length(t["event_type"])), s(pc.utf8_length(t["props"])), float(value))


def spark_fingerprint(df) -> tuple:
    """The same fingerprint as one Spark aggregate (the read's action)."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)), F.sum("event_id"), F.sum("user_id"), F.sum(F.col("ts") % TS_MOD),
        F.sum(F.length("event_type")), F.sum(F.length("props")), F.sum("value"),
    ).collect()[0]
    return (int(r[0]), *(int(v or 0) for v in r[1:6]), float(r[6] or 0.0))


def fingerprints_match(got: tuple, want: tuple) -> bool:
    # integer parts exact; the double sum depends on summation order
    return got[:6] == want[:6] and abs(got[6] - want[6]) <= 1e-9 * max(1.0, abs(want[6]))


# --- headline -----------------------------------------------------------------

def copy_fixture_tables(sf_dir: str, out: Path) -> None:
    out.mkdir(parents=True, exist_ok=True)
    for name in TABLE_NAMES:
        shutil.copyfile(f"{sf_dir}/{name}.parquet", out / f"{name}.parquet")
