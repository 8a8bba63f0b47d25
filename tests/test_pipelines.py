"""Pipeline tests: export/import round-trip fixpoint, skip_existing
idempotence, certify overlap rejection, atomic publish, symlink farm
(SURVEY.md §5.2.2/§5.2.4)."""

from __future__ import annotations

import os
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from dp1_data_wrangling_spark import fixtures as fx
from dp1_data_wrangling_spark.plans import Catalog, generate_file_tree, run_export, run_import
from dp1_data_wrangling_spark.plans.importer import rsp_mapper, rucio_mapper
from dp1_data_wrangling_spark.schema import fixture_universe

from .conftest import SMOKE_SF


def _table_hash(df) -> tuple[int, int]:
    """Order-insensitive content fingerprint: (row count, xor of row hashes)."""
    hashed = df.select(
        F.hash(*[F.col(c).cast("string") for c in sorted(df.columns)]).alias("h")
    )
    agg = hashed.agg(
        F.count("*").alias("n"),
        F.sum(F.col("h").cast("long")).alias("s"),
    ).collect()[0]
    return agg["n"], agg["s"]


def _do_export(spark, out_root, *, orders_calib=None):
    universe = fixture_universe()
    if orders_calib is None:
        orders_calib = fx.build_datasets(spark, SMOKE_SF)
    return run_export(
        spark,
        out_root,
        universe,
        datasets={
            "orders_raw": fx.build_datasets(spark, SMOKE_SF),
            "orders_calib": orders_calib,
        },
        dimension_records={
            "nation": fx.build_dim_nation(spark, SMOKE_SF),
            "customer": fx.build_dim_customer(spark, SMOKE_SF),
        },
        associations=fx.build_associations(spark, SMOKE_SF),
        datastore_records=fx.build_datastore_records(spark, SMOKE_SF),
        collections=fx.build_collections(spark),
        collection_chains=fx.build_collection_chains(spark),
        root_collection="chain_root",
        datastore_priority=["ds_primary", "ds_secondary"],
    )


@contextmanager
def _job_group(sc, group: str):
    """Tag the jobs the block's thread starts with ``group``."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _group_jobs(sc, group: str) -> dict[int, str]:
    """Job id -> status of every job in ``group``, once the listener bus
    has drained."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return {j: tracker.getJobInfo(j).status for j in tracker.getJobIdsForGroup(group)}


@pytest.fixture(scope="module")
def export_cat(spark, tmp_path_factory):
    return _do_export(spark, str(tmp_path_factory.mktemp("export")))


def test_export_find_first_vs_calibration(spark, export_cat):
    """find_first keeps one dataset per data ID; calibration bypass keeps all
    chain rows (reference exporter.py:81-87)."""
    raw = export_cat.read(spark, "datasets/orders_raw")
    calib = export_cat.read(spark, "datasets/orders_calib")
    data_id_dupes = (
        raw.groupBy("customer", "nation").count().filter(F.col("count") > 1).count()
    )
    assert data_id_dupes == 0
    assert calib.count() > raw.count()


def test_export_dimension_closure(spark, export_cat):
    """Every nation referenced by an exported customer is exported (J1
    dependency-closure expansion)."""
    cust = export_cat.read(spark, "dimensions/customer")
    nat = export_cat.read(spark, "dimensions/nation")
    missing = (
        cust.select(F.col("nation")).distinct()
        .join(nat.select("nation"), "nation", "left_anti")
        .count()
    )
    assert missing == 0
    # keys are unique after the dedup finish pass (A1)
    assert nat.count() == nat.select("nation").distinct().count()


def test_export_associations_semi_filtered(spark, export_cat):
    assoc = export_cat.read(spark, "associations")
    ids = export_cat.read(spark, "datasets/orders_raw").select("dataset_id").union(
        export_cat.read(spark, "datasets/orders_calib").select("dataset_id")
    ).distinct()
    orphans = assoc.join(ids, "dataset_id", "left_anti").count()
    assert orphans == 0


def test_export_datastore_priority_dedup(spark, export_cat):
    rec = export_cat.read(spark, "datastore_records")
    per_id = rec.groupBy("dataset_id").count().filter(F.col("count") > 1).count()
    assert per_id == 0  # first-wins across ds_primary/ds_secondary (W2)
    assert rec.filter(F.col("datastore_name") == "ds_secondary").count() == 0


def test_import_roundtrip_fixpoint(spark, export_cat, tmp_path):
    """export → import → re-read: every table content-identical (§5.2.2)."""
    tgt = run_import(spark, str(export_cat.root), str(tmp_path / "repo"))
    for table in export_cat.tables():
        src_h = _table_hash(export_cat.read(spark, table))
        tgt_h = _table_hash(tgt.read(spark, table))
        assert src_h == tgt_h, f"{table}: {src_h} != {tgt_h}"


def test_import_idempotent(spark, export_cat, tmp_path):
    """Running the import twice changes nothing (skip_existing K7)."""
    root = str(tmp_path / "repo")
    tgt = run_import(spark, str(export_cat.root), root)
    before = {t: _table_hash(tgt.read(spark, t)) for t in tgt.tables()}
    tgt2 = run_import(spark, str(export_cat.root), root)
    after = {t: _table_hash(tgt2.read(spark, t)) for t in tgt2.tables()}
    for t in before:
        assert before[t] == after[t], t


def test_import_unknown_type_rejected(spark, export_cat, tmp_path):
    with pytest.raises(ValueError, match="not in export"):
        run_import(
            spark,
            str(export_cat.root),
            str(tmp_path / "repo"),
            dataset_types=["nope"],
        )


def test_import_certify_rejects_overlap(spark, export_cat, tmp_path):
    """CALIBRATION intervals that overlap per (collection, data ID) abort the
    import — and the abort publishes NOTHING (atomicity G3 + certify K10)."""
    # Clone the export, then append an overlapping calibration interval.
    clone_root = tmp_path / "bad_export"
    bad = run_import(spark, str(export_cat.root), str(clone_root))
    assoc = bad.read(spark, "associations")
    calib_one = assoc.filter(F.col("collection") == "calib_a").limit(1)
    overlap = calib_one.withColumn(
        "begin_nsec", F.col("begin_nsec") + 1
    ).withColumn("dataset_id", F.md5(F.lit("clone")).cast("binary"))
    txn = bad.begin()
    txn.stage("associations", overlap)
    bad.commit(txn)

    target = tmp_path / "repo"
    sc = spark.sparkContext
    group = f"certify-{uuid.uuid4().hex}"
    with _job_group(sc, group), pytest.raises(ValueError, match="overlap"):
        run_import(spark, str(clone_root), str(target))
    assert not (target / "MANIFEST.json").exists() or Catalog(target).tables() == []
    # the writes staged alongside certify were waited for, not left running
    jobs = _group_jobs(sc, group)
    assert jobs and [j for j, status in jobs.items() if status == "RUNNING"] == []


def test_export_failure_publishes_nothing_and_leaves_no_job(spark, tmp_path):
    """One of two dataset types raises while its write runs beside the
    others: ``run_export`` raises that error, the catalog publishes no
    table, no job the export started is still running once it returns,
    and no file appears under the root afterwards."""
    sc = spark.sparkContext
    group = f"export-fails-{uuid.uuid4().hex}"
    calib = fx.build_datasets(spark, SMOKE_SF)
    broken = calib.withColumn(
        "nation",
        F.when(
            F.col("nation").isNotNull(), F.raise_error(F.lit("planted export failure"))
        ).otherwise(F.col("nation")),
    )
    root = tmp_path / "exp"
    with _job_group(sc, group), pytest.raises(Exception, match="planted export failure"):
        _do_export(spark, str(root), orders_calib=broken)
    assert Catalog(root).tables() == []
    jobs = _group_jobs(sc, group)
    assert jobs and [j for j, status in jobs.items() if status == "RUNNING"] == []
    files = set(Path(root).rglob("*"))
    time.sleep(1)
    assert set(Path(root).rglob("*")) == files


def test_export_and_import_jobs_inherit_the_callers_job_group(spark, tmp_path):
    """Every job ``run_export`` and ``run_import`` start, the pooled
    writes' included, carries the caller's job group, so
    ``cancelJobGroup`` reaches them.  Two one-job marker actions in their
    own group bracket the calls; every job id between them must be in the
    caller's group."""
    sc = spark.sparkContext
    group, marker = (f"{k}-{uuid.uuid4().hex}" for k in ("g", "marker"))

    def mark() -> None:
        with _job_group(sc, marker):
            spark.range(1).collect()

    mark()
    with _job_group(sc, group):
        exp = _do_export(spark, str(tmp_path / "exp"))
        run_import(spark, str(exp.root), str(tmp_path / "repo"), path_mapper="rsp")
    mark()
    first, last = sorted(_group_jobs(sc, marker))
    assert last - first > 1
    assert set(range(first + 1, last)) == set(_group_jobs(sc, group))


def test_migration_coalesces_staged_roots_and_caches_nothing(spark, tmp_path):
    """export -> import -> file tree persists no RDD of its own, and AQE
    coalesces each resolved dataset and dimension root of the export into
    one file at this scale.  AQE never coalesces a cached plan: an export
    that caches them writes a file per non-empty shuffle partition."""
    # fx.build_datasets persists its shared base on first use, by design
    fx.build_datasets(spark, SMOKE_SF).count()
    persisted_before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    exp = _do_export(spark, str(tmp_path / "exp"))
    for table in ("datasets/orders_raw", "datasets/orders_calib",
                  "dimensions/customer", "dimensions/nation"):
        (root,) = exp.manifest()["tables"][table]
        files = list((exp.root / root).rglob("*.parquet"))
        assert len(files) == 1, (table, len(files))
    tgt = run_import(spark, str(exp.root), str(tmp_path / "repo"), path_mapper="rsp")
    generate_file_tree(
        tgt.read(spark, "datastore_records"), str(tmp_path / "tree"), "/data/store"
    )
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    assert persisted <= persisted_before


def test_stage_concurrently_records_every_distinct_table(spark, tmp_path):
    """``Transaction.stage`` called from the pool for many distinct tables
    at once, with thread switches forced often, loses none of the
    per-table entries the commit publishes (root, schema, zone map, CHECK
    set): three times as many tables as pool threads, each with its own
    row count."""
    import sys

    from dp1_data_wrangling_spark.plans.catalog import stage_concurrently

    cat = Catalog(tmp_path / "cat")
    n = 3 * spark.sparkContext.defaultParallelism
    tables = [f"t{i}" for i in range(n)]
    for t in tables:
        cat.set_zone_map(t, ["id"])
        cat.set_constraint(t, "nonneg", "id >= 0")
    txn = cat.begin()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with stage_concurrently(spark, txn) as submit:
            staged = [submit(t, spark.range(i + 1)) for i, t in enumerate(tables)]
            counts = [f.result(timeout=300).count() for f in staged]
    finally:
        sys.setswitchinterval(interval)
    assert counts == list(range(1, n + 1))
    cat.commit(txn)
    m = cat.manifest()
    assert sorted(m["tables"]) == sorted(tables)
    for i, t in enumerate(tables):
        (rel,) = m["tables"][t]
        assert m["zones"][t][rel]["id"][:2] == [0, i]
        assert cat.read(spark, t).count() == i + 1


def test_atomic_commit_staging_invisible(spark, export_cat, tmp_path):
    """Staged-but-uncommitted writes are invisible to readers (G3)."""
    cat = Catalog(tmp_path / "cat")
    txn = cat.begin()
    txn.stage("t", export_cat.read(spark, "collections"))
    assert cat.tables() == []  # nothing published before the manifest swap
    cat.commit(txn)
    assert cat.tables() == ["t"]
    assert cat.read(spark, "t").count() > 0


def test_catalog_append_and_overwrite(spark, export_cat, tmp_path):
    cat = Catalog(tmp_path / "cat")
    small = export_cat.read(spark, "collections")
    t1 = cat.begin()
    t1.stage("t", small)
    cat.commit(t1)
    n = cat.read(spark, "t").count()
    t2 = cat.begin()
    t2.stage("t", small, mode="append")
    cat.commit(t2)
    assert cat.read(spark, "t").count() == 2 * n
    t3 = cat.begin()
    t3.stage("t", small, mode="overwrite")
    cat.commit(t3)
    assert cat.read(spark, "t").count() == n


def test_path_mappers(spark, export_cat):
    rec = export_cat.read(spark, "datastore_records")
    rsp = rec.select(rsp_mapper(F.col("path")).alias("p"))
    assert rsp.filter(F.col("p").startswith("file://")).count() == 0
    assert rsp.filter(F.col("p").startswith("external/rubin/")).count() > 0
    rucio = rec.select(rucio_mapper(F.col("path")).alias("p"))
    # fixture absolute paths aren't raw/refcat -> everything gets dp1/ or rule
    assert rucio.filter(~F.col("p").rlike("^(raw/|dp1/)")).count() == 0


def test_file_tree_symlinks(spark, export_cat, tmp_path):
    """K12: symlink farm materializes; re-running is a no-op (idempotent);
    records sharing a (source, link) pair count once; a pre-existing link
    that points elsewhere is an error and is left as it was."""
    rec = export_cat.read(spark, "datastore_records")
    rel = rec.filter(~F.col("path").startswith("file://")).limit(25)
    ab = rec.filter(F.col("path").startswith("file://")).limit(25)
    rec = rel.unionByName(ab)
    tree = tmp_path / "tree"
    n = generate_file_tree(rec, str(tree), "/data/store")
    assert n == 50
    links = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(tree)
        for f in fs
    ]
    assert len(links) == n
    assert all(os.path.islink(p) for p in links)
    # relative fixture paths resolve under the datastore root
    assert any(os.readlink(p).startswith("/data/store/") for p in links)
    # second run: FileExistsError tolerated, same count
    assert generate_file_tree(rec, str(tree), "/data/store") == n
    # every record twice: the pairs are distinct, so each counts once
    twice = rec.withColumn("copy", F.explode(F.array(F.lit(1), F.lit(2)))).drop("copy")
    dup_tree = tmp_path / "dup"
    assert generate_file_tree(twice, str(dup_tree), "/data/store") == n
    assert sum(len(fs) for _, _, fs in os.walk(dup_tree)) == n
    # a conflicting link raises, naming both targets, and is not replaced
    victim = sorted(links)[0]
    want = os.readlink(victim)
    os.remove(victim)
    os.symlink("/elsewhere/file", victim)
    with pytest.raises(FileExistsError) as err:
        generate_file_tree(rec, str(tree), "/data/store")
    assert "/elsewhere/file" in str(err.value) and want in str(err.value)
    assert os.readlink(victim) == "/elsewhere/file"


def test_registry_runtime_struct_types(spark):
    """SURVEY §7.4.5: dataset/dimension schemas are BUILT from the registry
    at runtime and match what the fixtures actually produce."""
    from dp1_data_wrangling_spark.schema import fixture_universe

    u = fixture_universe()
    ds_schema = {
        f.name: f.dataType.simpleString()
        for f in u.dataset_struct_type("orders_raw").fields
    }
    actual = {
        f.name: f.dataType.simpleString()
        for f in fx.build_datasets(spark, SMOKE_SF).schema
    }
    assert ds_schema == actual
    dim = u.dimensions["customer"].struct_type()
    actual_dim = {
        f.name: f.dataType.simpleString()
        for f in fx.build_dim_customer(spark, SMOKE_SF).schema
    }
    assert {f.name: f.dataType.simpleString() for f in dim.fields} == actual_dim


def test_export_rejects_schema_drift(spark, tmp_path):
    """A drifted input table (wrong type for a data-ID column) aborts the
    export before anything is staged."""
    from dp1_data_wrangling_spark.schema import fixture_universe

    bad = fx.build_datasets(spark, SMOKE_SF).withColumn(
        "customer", F.col("customer").cast("string")
    )
    with pytest.raises(ValueError, match="schema drift"):
        run_export(
            spark,
            str(tmp_path / "exp"),
            fixture_universe(),
            datasets={"orders_raw": bad},
            dimension_records={},
            associations=fx.build_associations(spark, SMOKE_SF),
            datastore_records=fx.build_datastore_records(spark, SMOKE_SF),
            collections=fx.build_collections(spark),
            collection_chains=fx.build_collection_chains(spark),
            root_collection="chain_root",
        )


# --- generic file sources (sources/files.py) -------------------------------


def test_file_formats_roundtrip(spark, tmp_path):
    """orders survives CSV / JSONL / ORC round-trips bit-exactly under
    declared schemas (timestamps via explicit format on CSV)."""
    from dp1_data_wrangling_spark.sources import files as fs
    from dp1_data_wrangling_spark.tables import load_table

    orders = load_table(spark, SMOKE_SF, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz"
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    fs.write_csv(orders, str(tmp_path / "csv"), timestampNTZFormat=fmt)
    got_csv = fs.read_csv(spark, str(tmp_path / "csv"), schema, timestampNTZFormat=fmt)
    fs.write_jsonl(orders, str(tmp_path / "jsonl"))
    got_jsonl = fs.read_jsonl(spark, str(tmp_path / "jsonl"), schema)
    fs.write_orc(orders, str(tmp_path / "orc"))
    got_orc = fs.read_orc(spark, str(tmp_path / "orc"), schema)
    for got in (got_csv, got_jsonl, got_orc):
        assert got.schema == orders.schema
        assert got.count() == orders.count()
        assert got.exceptAll(orders).count() == 0
        assert orders.exceptAll(got).count() == 0


def test_csv_quarantine_dead_letter(spark, tmp_path):
    """Malformed CSV rows land in the rescue column instead of failing the
    job (opt-in); FAILFAST raises on the same input."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from dp1_data_wrangling_spark.sources import files as fs

    p = tmp_path / "raw"
    p.mkdir()
    (p / "part.csv").write_text("k,v\n1,10\n2,notanint\n3,30\n")
    schema = "k bigint, v bigint"
    ok = fs.read_csv(spark, str(p), schema, quarantine=True)
    bad = fs.quarantined(ok)
    assert ok.count() == 3
    assert bad.count() == 1
    assert bad.first()["k"] == 2
    strict = fs.read_csv(spark, str(p), schema)
    with pytest.raises((Py4JJavaError, Exception)):
        strict.collect()


def test_catalog_time_travel(spark, tmp_path):
    """Snapshot reads: after an overwrite, the prior version still resolves
    through its retained manifest (immutable data dirs + manifest-v{N})."""
    from dp1_data_wrangling_spark.plans import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    df1 = spark.range(0, 10).withColumnRenamed("id", "v")
    df2 = spark.range(100, 105).withColumnRenamed("id", "v")

    t1 = cat.begin()
    t1.stage("t", df1, mode="overwrite")
    v1 = cat.commit(t1)
    t2 = cat.begin()
    t2.stage("t", df2, mode="overwrite")
    v2 = cat.commit(t2)

    assert cat.history() == [v1, v2]
    assert cat.read(spark, "t").count() == 5
    assert cat.read(spark, "t", version=v1).count() == 10
    assert cat.read(spark, "t", version=v2).count() == 5
    assert sorted(r["v"] for r in cat.read(spark, "t", version=v1).collect()) == list(range(10))
    import pytest as _pytest

    with _pytest.raises(KeyError):
        cat.manifest(version=99)


def test_catalog_read_skips_roots(spark, tmp_path):
    """Zone-map data skipping (round 8): declared min/max stats recorded
    per commit root at stage time; read(where=...) drops whole roots
    whose range excludes the predicate BEFORE any file is opened —
    results identical to a full-scan filter."""
    from dp1_data_wrangling_spark.plans import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    cat.set_zone_map("t", ["ts", "tag"])
    for lo, tag in [(0, "a"), (100, "b"), (200, "c"), (300, "d")]:
        tx = cat.begin()
        tx.stage(
            "t",
            spark.range(lo, lo + 100).select(
                F.col("id").alias("ts"), F.lit(tag).alias("tag")
            ),
        )
        cat.commit(tx)
    rels = cat.manifest()["tables"]["t"]
    assert len(rels) == 4
    # numeric range predicate: only the [200, 300) root survives
    kept = cat.prune_roots("t", "ts >= 200 AND ts < 300")
    assert len(kept) == 1
    got = sorted(
        r["ts"] for r in cat.read(spark, "t", where="ts >= 200 AND ts < 300").collect()
    )
    assert got == list(range(200, 300))
    # string equality prunes on the tag zone
    assert len(cat.prune_roots("t", "tag = 'b'")) == 1
    assert cat.read(spark, "t", where="tag = 'b'").count() == 100
    # every root pruned: empty result, schema intact
    none_df = cat.read(spark, "t", where="ts > 100000")
    assert none_df.count() == 0 and set(none_df.columns) == {"ts", "tag"}
    # ...and no scan job: the optimizer turns the read into an empty
    # LocalRelation
    assert none_df.collect() == [] and none_df.columns == ["ts", "tag"]
    plan = none_df._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "LocalRelation" and plan.data().isEmpty()
    # column names match the way the session resolves them
    # (spark.sql.caseSensitive=false): an upper-case predicate prunes alike
    assert cat.prune_roots("t", "TS >= 200 AND Ts < 300") == kept
    got_upper = cat.read(spark, "t", where="TS >= 200 AND Ts < 300").collect()
    assert sorted(r["ts"] for r in got_upper) == list(range(200, 300))
    assert cat.prune_roots("t", "TAG = 'b'") == cat.prune_roots("t", "tag = 'b'")
    # BETWEEN lowers to >=/<= and prunes like an explicit range (r8)
    assert len(cat.prune_roots("t", "ts BETWEEN 210 AND 250")) == 1
    assert cat.read(spark, "t", where="ts BETWEEN 210 AND 250").count() == 41
    # IN prunes a root only when EVERY value misses its range
    assert len(cat.prune_roots("t", "ts IN (5, 7)")) == 1
    assert len(cat.prune_roots("t", "ts IN (5, 205)")) == 2
    assert cat.read(spark, "t", where="ts IN (5, 205)").count() == 2
    # negated forms never prune (bail-out guard)
    assert len(cat.prune_roots("t", "ts NOT BETWEEN 0 AND 5")) == 4
    # OR keeps a root when either side can match it
    assert len(cat.prune_roots("t", "ts = 5 OR ts = 205")) == 2
    assert cat.read(spark, "t", where="ts = 5 OR ts = 205").count() == 2
    # SOUNDNESS: 'and'/'or'/parens INSIDE string literals must neither
    # synthesize a false comparison nor disable real ones
    # one whole-literal string equality (outside every tag range) — NOT a
    # synthesized ts = 5, which would keep the [0, 100) root
    assert cat.prune_roots("t", "tag = 'x and ts = 5 and y'") == []
    assert cat.read(spark, "t", where="tag = 'x and ts = 5 and y'").count() == 0
    # a quoted '(or)' must not disable the real ts range around it
    w = "tag >= '(or)' AND ts >= 200 AND ts < 300"
    assert len(cat.prune_roots("t", w)) == 1
    assert cat.read(spark, "t", where=w).count() == 100
    # unbalanced quote: no parse, every root kept, no error from pruning
    assert cat.prune_roots("t", "tag = 'unterminated") == rels
    # overwrite resets stats; roots written BEFORE declaration never prune
    tx = cat.begin()
    tx.stage(
        "t",
        spark.range(500, 510).select(
            F.col("id").alias("ts"), F.lit("z").alias("tag")
        ),
        mode="overwrite",
    )
    cat.commit(tx)
    assert len(cat.manifest()["zones"]["t"]) == 1
    assert cat.read(spark, "t", where="ts >= 505").count() == 5
    cat.drop_zone_map("t")
    assert "zones" not in cat.manifest()
    assert len(cat.prune_roots("t", "ts >= 99999")) == 1  # no stats, no prune
    # literals compare in the type Spark compares in: a bigint against a
    # decimal is exact (a float parse would read 2**53 + 1 as 2**53 and
    # prune the 2**53 root), against a double it is cast to double
    cat = Catalog(str(tmp_path / "big"))
    cat.set_zone_map("b", ["x"])
    for v in (9007199254741000, 2**53, 2**53 + 1):
        tx = cat.begin()
        tx.stage("b", spark.range(1).select(F.lit(v).cast("long").alias("x")))
        cat.commit(tx)
        if v == 2**53:
            w = "x < 9007199254740993.0"
            assert cat.read(spark, "b").filter(w).count() == 1
            assert cat.read(spark, "b", where=w).count() == 1
            # IN casts x and every element to one common type: a double
            # element makes it double, where 2**53 + 1 reads as 2**53
            for w in (
                "x IN (0e0, 9007199254740993)",
                "x IN (0e0, 9007199254740993.0)",
            ):
                assert cat.read(spark, "b").filter(w).count() == 1
                assert cat.read(spark, "b", where=w).count() == 1
    w = "x <= 9007199254740992e0"  # matches 2**53 + 1 through the cast
    assert cat.read(spark, "b").filter(w).count() == 2
    assert cat.read(spark, "b", where=w).count() == 2


def test_catalog_bloom_filter_skips_roots(spark, tmp_path):
    """Bloom-filter data skipping (round 8): the equality complement to
    min/max zones — per-root 8192-bit filters prune ``col = literal``
    probes on high-cardinality columns where every root's [min, max]
    range spans the probe.  Pins the cross-engine hash parity (Spark
    md5-of-cast-string at stage time == Python md5-of-str at prune
    time) by asserting the root that DOES hold the value always
    survives."""
    from dp1_data_wrangling_spark.plans import Catalog
    from dp1_data_wrangling_spark.plans.catalog import (
        _bloom_hex,
        _bloom_maybe_contains,
        _bloom_positions,
    )

    # unit: membership after insertion, absence detectable
    h = _bloom_hex(
        [p for v in ("alpha", 42, "beta") for p in _bloom_positions(v)]
    )
    assert _bloom_maybe_contains(h, "alpha") and _bloom_maybe_contains(h, 42)
    assert not _bloom_maybe_contains(h, "definitely-absent-value-xyz")

    cat = Catalog(str(tmp_path / "cat"))
    cat.set_bloom_filter("t", ["tag", "uid"])
    # interleaved ids: every root's [min, max] uid range spans every
    # probe, so min/max zones could never prune — blooms must
    for start, tag in [(0, "a"), (1, "b"), (2, "c"), (3, "d")]:
        tx = cat.begin()
        tx.stage(
            "t",
            spark.range(100).select(
                (F.col("id") * 4 + start).alias("uid"),
                F.concat(F.lit(tag), F.col("id") % 7).alias("tag"),
            ),
        )
        cat.commit(tx)
    assert len(cat.manifest()["tables"]["t"]) == 4
    # uid 202 lives only in the start=2 root (202 % 4 == 2)
    kept = cat.prune_roots("t", "uid = 202")
    assert len(kept) == 1
    got = cat.read(spark, "t", where="uid = 202").collect()
    assert len(got) == 1 and got[0]["uid"] == 202
    # string equality: 'b3' exists only in the second root
    assert len(cat.prune_roots("t", "tag = 'b3'")) == 1
    assert cat.read(spark, "t", where="tag = 'b3'").count() >= 1
    # a value in no root prunes everything, result stays empty+typed
    assert len(cat.prune_roots("t", "uid = 100000")) == 0
    assert cat.read(spark, "t", where="uid = 100000").count() == 0
    # range predicates ignore blooms (min/max territory)
    assert len(cat.prune_roots("t", "uid > 2")) == 4
    # SOUNDNESS (r8 review): a float literal's str() ('202.0') differs
    # from the int column's canonical string ('202') even though Spark's
    # filter matches — the bloom must NOT prune, and the read must still
    # return the row
    assert len(cat.prune_roots("t", "uid = 202.0")) == 4
    assert cat.read(spark, "t", where="uid = 202.0").count() == 1
    # ...same for an int literal probing a string column
    assert len(cat.prune_roots("t", "tag = 5")) == 4
    # IN-lists probe the bloom per value: prunable only when every value
    # is provably absent (uid 202 -> root start=2, uid 303 -> start=3)
    assert len(cat.prune_roots("t", "uid IN (202, 303)")) == 2
    assert cat.read(spark, "t", where="uid IN (202, 303)").count() == 2
    assert len(cat.prune_roots("t", "uid IN (100001, 100002)")) == 0
    # one type-unsound value in the list disables the whole probe
    assert len(cat.prune_roots("t", "uid IN (100001, 100002.0)")) == 4
    cat.drop_bloom_filter("t")
    assert "blooms" not in cat.manifest()
    assert len(cat.prune_roots("t", "uid = 202")) == 4


def test_zone_stats_survive_compact_and_streaming_ingest(spark, tmp_path):
    """Zone/bloom stats flow through every write path that uses
    Transaction.stage: compact's rewrite re-computes stats for the folded
    root, and a streaming ingest (stream_into_catalog) records stats per
    micro-batch commit — so skipping works on streamed tables with no
    extra wiring."""
    from dp1_data_wrangling_spark.plans import Catalog
    from dp1_data_wrangling_spark.streaming.sinks import stream_into_catalog

    cat = Catalog(str(tmp_path / "cat"))
    cat.set_zone_map("t", ["ts"])
    for lo in (0, 100, 200):
        tx = cat.begin()
        tx.stage("t", spark.range(lo, lo + 100).select(F.col("id").alias("ts")))
        cat.commit(tx)
    assert len(cat.prune_roots("t", "ts >= 200")) == 1
    cat.compact(spark, "t")
    roots = cat.manifest()["tables"]["t"]
    assert len(roots) == 1
    # the folded root carries fresh stats spanning the whole range
    assert cat.manifest()["zones"]["t"][roots[0]]["ts"] == [0, 299, 0, 300]
    assert len(cat.prune_roots("t", "ts >= 300")) == 0
    assert cat.read(spark, "t", where="ts >= 250").count() == 50

    # streaming: 4 micro-batches -> 4 roots, each with its own stats
    croot = str(tmp_path / "scat")
    scat = Catalog(croot)
    scat.set_zone_map("ev", ["ts"])
    src = str(tmp_path / "src")
    spark.range(400).select(F.col("id").alias("ts")).repartitionByRange(
        4, "ts"
    ).write.parquet(src)
    stream = (
        spark.readStream.schema("ts long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_into_catalog(
        stream, croot, "ev", checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    assert len(scat.manifest()["tables"]["ev"]) == 4
    kept = scat.prune_roots("ev", "ts >= 300")
    assert len(kept) == 1
    assert scat.read(spark, "ev", where="ts >= 300").count() == 100


def test_backfill_stats_makes_predeclaration_roots_prunable(spark, tmp_path):
    """backfill_stats (round 8): roots written BEFORE the skipping
    declaration gain zone+bloom stats via a manifest-only commit (no
    data rewrite — the data dirs stay byte-identical), after which they
    prune; describe_stats shows exactly what the pruner uses."""
    from dp1_data_wrangling_spark.plans import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    for lo in (0, 100, 200):
        tx = cat.begin()
        tx.stage(
            "t",
            spark.range(lo, lo + 100).select(
                F.col("id").alias("ts"), (F.col("id") % 9).alias("uid")
            ),
        )
        cat.commit(tx)
    # declared AFTER the writes: nothing prunes yet
    cat.set_zone_map("t", ["ts"])
    cat.set_bloom_filter("t", ["ts"])
    assert len(cat.prune_roots("t", "ts >= 200")) == 3
    rels_before = cat.manifest()["tables"]["t"]
    mtimes = {
        rel: sorted(
            p.stat().st_mtime_ns
            for p in (tmp_path / "cat" / rel).rglob("*.parquet")
        )
        for rel in rels_before
    }
    assert cat.backfill_stats(spark, "t") == 3
    assert cat.backfill_stats(spark, "t") == 0  # idempotent
    # same roots, same files — manifest-only update
    assert cat.manifest()["tables"]["t"] == rels_before
    for rel in rels_before:
        assert mtimes[rel] == sorted(
            p.stat().st_mtime_ns
            for p in (tmp_path / "cat" / rel).rglob("*.parquet")
        )
    assert len(cat.prune_roots("t", "ts >= 200")) == 1
    assert len(cat.prune_roots("t", "ts = 42")) == 1  # bloom equality
    assert cat.read(spark, "t", where="ts >= 200").count() == 100
    detail = cat.describe_stats("t")
    assert [d["root"] for d in detail] == rels_before
    assert detail[0]["zones"]["ts"] == [0, 99, 0, 100]
    assert detail[0]["bloom_cols"] == ["ts"]
    # table without declarations: no-op
    tx = cat.begin()
    tx.stage("u", spark.range(5).select(F.col("id").alias("x")))
    cat.commit(tx)
    assert cat.backfill_stats(spark, "u") == 0


def test_catalog_zone_maps_respect_time_travel_and_views(spark, tmp_path):
    """Snapshot manifests carry version-consistent zones, a restore
    brings the restored roots' zones back, and register_views(where=...)
    registers pre-pruned filtered views for SQL sessions."""
    from dp1_data_wrangling_spark.plans import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    cat.set_zone_map("t", ["ts"])
    tx = cat.begin()
    tx.stage("t", spark.range(0, 50).select(F.col("id").alias("ts")))
    v1 = cat.commit(tx)
    tx = cat.begin()
    tx.stage("t", spark.range(50, 100).select(F.col("id").alias("ts")))
    cat.commit(tx)
    assert len(cat.prune_roots("t", "ts < 10")) == 1
    # the v1 snapshot has one root and its own zone entry
    assert len(cat.prune_roots("t", "ts >= 60", version=v1)) == 0
    views = cat.register_views(spark, prefix="zm_", where={"t": "ts >= 75"})
    assert views == {"t": "zm_t"}
    assert spark.sql("SELECT count(*) AS n FROM zm_t").collect()[0]["n"] == 25
    # an overwrite drops the v1 root from the live manifest; restoring to
    # v1 brings its zone stats back with it
    tx = cat.begin()
    tx.stage("t", spark.range(200, 210).select(F.col("id").alias("ts")), mode="overwrite")
    cat.commit(tx)
    cat.restore("t", v1)
    assert cat.prune_roots("t", "ts >= 60") == []
    assert cat.read(spark, "t", where="ts < 10").count() == 10


def test_catalog_vacuum_retention(spark, tmp_path):
    """vacuum(keep_last=1): expired snapshots + their unreferenced data
    dirs + aborted staging dirs are deleted; the live version still reads."""
    from dp1_data_wrangling_spark.plans import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    df1 = spark.range(0, 10).withColumnRenamed("id", "v")
    df2 = spark.range(100, 105).withColumnRenamed("id", "v")
    t1 = cat.begin()
    t1.stage("t", df1, mode="overwrite")
    v1 = cat.commit(t1)
    t2 = cat.begin()
    t2.stage("t", df2, mode="overwrite")
    v2 = cat.commit(t2)
    aborted = cat.begin()  # staged nothing, never committed
    aborted_dir = aborted.txn_id

    # default min_age protects fresh (possibly in-flight) staging dirs
    assert cat.vacuum(keep_last=1) == []
    deleted = cat.vacuum(keep_last=1, min_age_seconds=0)
    assert cat.history() == [v2]
    assert cat.read(spark, "t").count() == 5
    assert t1.txn_id in deleted and aborted_dir in deleted
    with pytest.raises(KeyError):
        cat.manifest(version=v1)


def test_catalog_vacuum_keeps_appended_history(spark, tmp_path):
    """Appended tables reference older txn dirs from the LIVE manifest —
    vacuum must never delete data the current version still reads."""
    from dp1_data_wrangling_spark.plans import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    df = spark.range(0, 10).withColumnRenamed("id", "v")
    t1 = cat.begin()
    t1.stage("t", df)
    cat.commit(t1)
    t2 = cat.begin()
    t2.stage("t", df, mode="append")
    cat.commit(t2)
    cat.vacuum(keep_last=1, min_age_seconds=0)
    assert cat.read(spark, "t").count() == 20  # both append dirs survive


def test_stage_range_layout_disjoint_files(spark, tmp_path):
    """range_by staging: each data file covers a disjoint key range (parquet
    footer min/max), so key predicates prune at row-group level; and
    max_records_per_file bounds file sizes."""
    import pyarrow.parquet as pq

    from dp1_data_wrangling_spark.plans import Catalog
    from dp1_data_wrangling_spark.tables import load_table

    cat = Catalog(str(tmp_path / "cat"))
    orders = load_table(spark, SMOKE_SF, "orders")
    txn = cat.begin()
    txn.stage(
        "orders_ranged", orders, range_by=["o_orderkey"], max_records_per_file=500
    )
    cat.commit(txn)
    assert cat.read(spark, "orders_ranged").count() == orders.count()

    files = sorted((tmp_path / "cat").rglob("*.parquet"))
    assert len(files) >= 2
    ranges = []
    for f in files:
        meta = pq.ParquetFile(str(f)).metadata
        assert all(
            meta.row_group(i).num_rows <= 500 for i in range(meta.num_row_groups)
        ) or meta.num_rows <= 500
        idx = next(
            i for i in range(len(meta.schema))
            if meta.schema.column(i).name == "o_orderkey"
        )
        stats = meta.row_group(0).column(idx).statistics
        last = meta.row_group(meta.num_row_groups - 1).column(idx).statistics
        ranges.append((stats.min, last.max))
    ranges.sort()
    for (a_min, a_max), (b_min, b_max) in zip(ranges, ranges[1:]):
        assert a_max <= b_min, f"overlapping file key ranges: {ranges}"


def test_jsonl_quarantine_dead_letter(spark, tmp_path):
    """Malformed JSONL rows land in the rescue column (same dead-letter
    contract as CSV)."""
    from dp1_data_wrangling_spark.sources import files as fs

    p = tmp_path / "raw"
    p.mkdir()
    (p / "part.jsonl").write_text(
        '{"k": 1, "v": 10}\n{"k": 2, "v": "notanint"}\nnot json at all\n{"k": 3, "v": 30}\n'
    )
    ok = fs.read_jsonl(spark, str(p), "k bigint, v bigint", quarantine=True)
    bad = fs.quarantined(ok)
    assert ok.count() == 4
    assert bad.count() == 2
    assert ok.filter(F.col("v").isNotNull()).count() == 2


def test_resolve_calibrations_matches_asof(spark, export_cat):
    """The importer's calibration-resolution API (routed_lookup over the
    catalog's associations table) returns exactly the plain interval-
    containment join's matches — including NULL-ended (TAGGED-style
    unbounded) intervals taking the conditional-join branch."""
    from dp1_data_wrangling_spark.operators.intervals import asof_lookup
    from dp1_data_wrangling_spark.plans.importer import resolve_calibrations

    base = fx.build_datasets_with_key(spark, SMOKE_SF)
    probes = base.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("probe_orderkey"),
        "customer",
        "nation",
        (fx.epoch_ns(F.col("o_orderdate")) + F.lit(43_200_000_000_000)).alias(
            "probe_nsec"
        ),
    )
    got = resolve_calibrations(
        spark,
        export_cat,
        probes,
        collection="calib_a",
        data_id_keys=["customer", "nation"],
        probe_time="probe_nsec",
    ).select("probe_orderkey", "calib_dataset_id")

    calib = export_cat.read(spark, "associations").filter(
        F.col("collection") == "calib_a"
    )
    want = asof_lookup(
        probes, calib, ["customer", "nation"], probe_time="probe_nsec"
    ).select(
        probes["probe_orderkey"].alias("probe_orderkey"),
        F.hex(calib["dataset_id"]).alias("calib_dataset_id"),
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_run_curation_publishes_atomically_and_deterministically(spark, tmp_path):
    """The curation pipeline publishes the survivor table in one commit,
    matches the registered query's rows exactly, and a re-run over the
    same corpus stages identical content (deterministic end-to-end: the
    split is hash-derived, not rand())."""
    from dp1_data_wrangling_spark.plans.curation import (
        SURVIVORS_TABLE,
        curate_documents,
        run_curation,
    )
    from dp1_data_wrangling_spark.queries_llm import _augment_exact

    docs = _augment_exact(spark, SMOKE_SF)
    root = str(tmp_path / "cat")
    cat = run_curation(spark, docs, root)
    got = cat.read(spark, SURVIVORS_TABLE)
    want = curate_documents(docs)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # survivors are unique and every duplicate group is accounted for
    assert got.select("doc_id").distinct().count() == got.count()
    assert set(r["split"] for r in got.select("split").distinct().collect()) <= {
        "train", "val", "test"
    }
    # commit meta records the draw parameters
    assert cat.meta()["curation"]["salt"] == "curation_v1"
    v1 = cat.history()[-1]
    # re-publish: new version, byte-identical content
    cat2 = run_curation(spark, docs, root)
    assert cat2.history()[-1] > v1
    again = cat2.read(spark, SURVIVORS_TABLE)
    assert again.count() == want.count()
    assert again.exceptAll(want).count() == 0


def test_catalog_append_partitioned_across_commits(spark, tmp_path):
    """Regression: appending a SECOND hive-partitioned write to a table
    must keep it readable.  Each commit's files live under their own txn
    root, so a naive multi-path partitioned read fails partition
    discovery (CONFLICTING_DIRECTORY_STRUCTURES) — the exact shape the
    importer produces on its first non-empty incremental import of
    run-partitioned datasets."""
    from dp1_data_wrangling_spark.plans.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    df1 = spark.range(0, 100).selectExpr("id", "concat('run_', id % 3) as run")
    df2 = spark.range(100, 200).selectExpr("id", "concat('run_', id % 3) as run")
    txn = cat.begin()
    txn.stage("datasets/x", df1, partition_by=["run"])
    cat.commit(txn)
    txn = cat.begin()
    txn.stage("datasets/x", df2, partition_by=["run"])
    cat.commit(txn)
    got = cat.read(spark, "datasets/x")
    assert got.count() == 200
    assert got.select("run").distinct().count() == 3
    assert {r["id"] for r in got.select("id").collect()} == set(range(200))
    # time travel still sees only the first commit's rows
    v1 = cat.history()[0]
    assert cat.read(spark, "datasets/x", version=v1).count() == 100


def test_catalog_compact_folds_appends_to_one_root(spark, tmp_path):
    """Compaction rewrites an appended table to a single txn root with
    identical content; prior versions remain time-travelable until
    vacuumed, and vacuum then reclaims the superseded roots."""
    from dp1_data_wrangling_spark.plans.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    for lo in (0, 100, 200):
        txn = cat.begin()
        txn.stage(
            "datasets/x",
            spark.range(lo, lo + 100).selectExpr(
                "id", "concat('run_', id % 3) as run"
            ),
            partition_by=["run"],
        )
        cat.commit(txn)
    assert len(cat.manifest()["tables"]["datasets/x"]) == 3
    before = {r["id"] for r in cat.read(spark, "datasets/x").collect()}
    v_pre = cat.history()[-1]
    cat.compact(spark, "datasets/x", partition_by=["run"], sort_by=["id"])
    m = cat.manifest()
    assert len(m["tables"]["datasets/x"]) == 1
    after = {r["id"] for r in cat.read(spark, "datasets/x").collect()}
    assert after == before == set(range(300))
    # time travel to the pre-compaction version still works
    assert cat.read(spark, "datasets/x", version=v_pre).count() == 300
    # vacuum reclaims the three superseded roots
    deleted = cat.vacuum(keep_last=1, min_age_seconds=0.0)
    assert len(deleted) == 3
    assert cat.read(spark, "datasets/x").count() == 300


def test_catalog_commit_require_roots_conflict(spark, tmp_path):
    """A commit carrying an optimistic root-list expectation aborts when
    the table changed since the snapshot, leaving the manifest untouched."""
    from dp1_data_wrangling_spark.plans.catalog import Catalog, CommitConflict

    cat = Catalog(str(tmp_path / "cat"))
    txn = cat.begin()
    txn.stage("t", spark.range(10))
    cat.commit(txn)
    roots_v1 = list(cat.manifest()["tables"]["t"])
    # someone appends in between
    txn2 = cat.begin()
    txn2.stage("t", spark.range(10, 20), mode="append")
    cat.commit(txn2)
    # a stale overwrite must be rejected
    stale = cat.begin()
    stale.stage("t", spark.range(5), mode="overwrite")
    before = cat.manifest()
    with pytest.raises(CommitConflict):
        cat.commit(stale, require_roots={"t": roots_v1})
    assert cat.manifest() == before
    assert cat.read(spark, "t").count() == 20


def test_catalog_compact_retries_over_concurrent_append(spark, tmp_path):
    """An append landing between compact's snapshot read and its commit is
    NOT lost: the first commit attempt conflicts, compact re-reads and the
    appended rows survive (the ADVICE r5 lost-update race)."""
    from dp1_data_wrangling_spark.plans import catalog as cat_mod

    cat = cat_mod.Catalog(str(tmp_path / "cat"))
    for lo in (0, 100):
        txn = cat.begin()
        txn.stage("t", spark.range(lo, lo + 100), mode="append")
        cat.commit(txn)

    real_read = cat.read_snapshot
    fired = {"n": 0}

    def racy_read(*args, **kwargs):
        df = real_read(*args, **kwargs)
        if fired["n"] == 0:
            fired["n"] += 1
            # concurrent appender commits AFTER compact snapshotted its roots
            other = cat_mod.Catalog(str(tmp_path / "cat"))
            txn = other.begin()
            txn.stage("t", spark.range(200, 300), mode="append")
            other.commit(txn)
        return df

    cat.read_snapshot = racy_read  # type: ignore[method-assign]
    try:
        cat.compact(spark, "t")
    finally:
        cat.read_snapshot = real_read  # type: ignore[method-assign]
    assert fired["n"] == 1
    got = {r["id"] for r in cat.read(spark, "t").collect()}
    assert got == set(range(300)), "concurrent append was lost by compaction"
    assert len(cat.manifest()["tables"]["t"]) == 1


def _assert_same_table(got, want) -> None:
    """Same column names and types, in order, and the same row multiset."""
    assert got.dtypes == want.dtypes
    assert sorted(got.collect()) == sorted(want.collect())


def test_catalog_multi_root_partition_type_pinned(spark, tmp_path):
    """A hive partition column reads with its written type whatever its
    values: a string ``run`` stays a string across roots whether the
    all-numeric '7' sits in a later root or in the first, and appending
    'run_a' after a first root of '7' passes the schema gate.  ``stage``
    returns its staged root with the written types: flat, partitioned (the
    '7' root keeps ``run`` a string) and empty writes."""
    from dp1_data_wrangling_spark.plans.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    first = spark.range(5).selectExpr("id", "'run_a' as run")
    txn = cat.begin()
    _assert_same_table(txn.stage("t", first, partition_by=["run"]), first)
    cat.commit(txn)
    second = spark.range(5, 10).selectExpr("id", "'7' as run")
    txn = cat.begin()
    staged = txn.stage("t", second, mode="append", partition_by=["run"])
    _assert_same_table(staged, second)
    empty = first.filter("id < 0")
    for name, df, parts in (("flat", first, None), ("empty", empty, None),
                            ("empty_runs", empty, ["run"])):
        _assert_same_table(txn.stage(name, df, partition_by=parts), df)
    cat.commit(txn)
    df = cat.read(spark, "t")
    assert dict(df.dtypes)["run"] == "string"
    assert {r["run"] for r in df.select("run").distinct().collect()} == {"run_a", "7"}
    assert df.count() == 10
    # the all-numeric value in the FIRST root
    txn = cat.begin()
    txn.stage("u", second, partition_by=["run"])
    cat.commit(txn)
    txn = cat.begin()
    txn.stage("u", first, mode="append", partition_by=["run"])
    cat.commit(txn)
    df = cat.read(spark, "u")
    assert dict(df.dtypes)["run"] == "string"
    assert df.count() == 10


def test_catalog_merge_upserts_and_inserts(spark, tmp_path):
    from pyspark.sql import functions as F

    from dp1_data_wrangling_spark.plans.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    txn = cat.begin()
    txn.stage("t", spark.range(100).withColumn("val", F.lit("old")))
    v1 = cat.commit(txn)

    updates = spark.range(90, 110).withColumn("val", F.lit("new"))
    cat.merge(spark, "t", updates, ["id"])

    rows = {r.id: r.val for r in cat.read(spark, "t").collect()}
    assert len(rows) == 110
    assert all(rows[i] == "old" for i in range(90))
    assert all(rows[i] == "new" for i in range(90, 110))
    # pre-merge snapshot intact (time travel)
    old = {r.id: r.val for r in cat.read(spark, "t", version=v1).collect()}
    assert len(old) == 100 and set(old.values()) == {"old"}


def test_catalog_merge_missing_table_is_insert(spark, tmp_path):
    from dp1_data_wrangling_spark.plans.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    cat.merge(spark, "t", spark.range(5), ["id"])
    assert cat.read(spark, "t").count() == 5


def test_catalog_merge_rejects_duplicate_update_keys(spark, tmp_path):
    import pytest as _pytest

    from dp1_data_wrangling_spark.plans.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    dup = spark.range(3).unionAll(spark.range(1))
    with _pytest.raises(ValueError, match="duplicate key"):
        cat.merge(spark, "t", dup, ["id"])


def test_catalog_merge_retries_over_concurrent_append(spark, tmp_path):
    """An append landing between merge's snapshot read and its commit must
    survive: first commit attempt conflicts, merge re-reads, appended rows
    are in the final state (same OCC loop as compact)."""
    from pyspark.sql import functions as F

    from dp1_data_wrangling_spark.plans import catalog as cat_mod

    cat = cat_mod.Catalog(str(tmp_path / "cat"))
    txn = cat.begin()
    txn.stage("t", spark.range(100).withColumn("val", F.lit("old")))
    cat.commit(txn)

    real_read = cat.read_snapshot
    fired = {"n": 0}

    def racy_read(*args, **kwargs):
        df = real_read(*args, **kwargs)
        if fired["n"] == 0:
            fired["n"] += 1
            other = cat_mod.Catalog(str(tmp_path / "cat"))
            t2 = other.begin()
            t2.stage(
                "t",
                spark.range(200, 250).withColumn("val", F.lit("app")),
                mode="append",
            )
            other.commit(t2)
        return df

    cat.read_snapshot = racy_read  # type: ignore[method-assign]
    try:
        cat.merge(
            spark,
            "t",
            spark.range(50, 60).withColumn("val", F.lit("new")),
            ["id"],
        )
    finally:
        cat.read_snapshot = real_read  # type: ignore[method-assign]
    assert fired["n"] == 1
    rows = {r.id: r.val for r in cat.read(spark, "t").collect()}
    assert all(rows[i] == "app" for i in range(200, 250)), "append lost"
    assert all(rows[i] == "new" for i in range(50, 60))
    assert len(rows) == 150


def test_catalog_compact_reclusters_for_data_skipping(spark, tmp_path):
    """Appends arrive unclustered; compact(range_by=...) restores a
    clustered layout where every file covers a disjoint key range
    (footer-stat pruning — the OPTIMIZE/CLUSTER BY maintenance pattern)."""
    import pyarrow.parquet as pq

    from dp1_data_wrangling_spark.plans.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    # two interleaved appends: neither is clustered by id
    for parity in (0, 1):
        txn = cat.begin()
        txn.stage("t", spark.range(2000).where(f"id % 2 = {parity}"))
        cat.commit(txn)

    cat.compact(spark, "t", range_by=["id"], max_records_per_file=500)

    m = cat.manifest()
    [root] = m["tables"]["t"]
    files = sorted((cat.root / root).rglob("*.parquet"))
    assert len(files) >= 2
    ranges = []
    for f in files:
        meta = pq.ParquetFile(str(f)).metadata
        idx = next(
            i for i in range(len(meta.schema)) if meta.schema.column(i).name == "id"
        )
        lo = meta.row_group(0).column(idx).statistics.min
        hi = meta.row_group(meta.num_row_groups - 1).column(idx).statistics.max
        ranges.append((lo, hi))
    ranges.sort()
    for (_, a_max), (b_min, _) in zip(ranges, ranges[1:]):
        assert a_max <= b_min, f"overlapping file key ranges: {ranges}"
    assert {r.id for r in cat.read(spark, "t").collect()} == set(range(2000))


# ---------------------------------------------------------------------------
# Incremental rollup (continuous aggregate)
# ---------------------------------------------------------------------------


def test_rollup_incremental_equals_full_recompute(spark, tmp_path):
    from dp1_data_wrangling_spark.plans.catalog import Catalog
    from dp1_data_wrangling_spark.plans.rollup import refresh_rollup, rollup_partial
    from dp1_data_wrangling_spark.tables import load_table

    events = load_table(spark, str(SMOKE_SF), "events")
    cat = Catalog(tmp_path / "cat")
    # three uneven batches, arriving out of time order (late data)
    for cond in (
        F.col("event_id") % 3 == 2,
        F.col("event_id") % 3 == 0,
        F.col("event_id") % 3 == 1,
    ):
        refresh_rollup(spark, cat, events.where(cond))
    got = {
        (r["bucket_ts"], r["event_type"]): (r["n_events"], r["value_micros"])
        for r in cat.read(spark, "events_rollup").collect()
    }
    want = {
        (r["bucket_ts"], r["event_type"]): (r["n_events"], r["value_micros"])
        for r in rollup_partial(events).collect()
    }
    assert got == want


def test_rollup_refresh_is_idempotent_per_key_replace(spark, tmp_path):
    """Touched buckets are replaced, untouched buckets untouched: folding
    an empty batch changes nothing."""
    from dp1_data_wrangling_spark.plans.catalog import Catalog
    from dp1_data_wrangling_spark.plans.rollup import refresh_rollup
    from dp1_data_wrangling_spark.tables import load_table

    events = load_table(spark, str(SMOKE_SF), "events")
    cat = Catalog(tmp_path / "cat")
    refresh_rollup(spark, cat, events)
    before = sorted(
        map(tuple, cat.read(spark, "events_rollup").collect())
    )
    refresh_rollup(spark, cat, events.where(F.lit(False)))
    after = sorted(map(tuple, cat.read(spark, "events_rollup").collect()))
    assert before == after


# ---------------------------------------------------------------------------
# Z-order clustering
# ---------------------------------------------------------------------------


def test_zorder_key_hand_computed(spark):
    from dp1_data_wrangling_spark.plans.layout import zorder_key

    df = spark.createDataFrame([(0b101, 0b011)], "a int, b int")
    # interleave: a's bit i at position 2i, b's bit i at position 2i+1
    # a=101, b=011 -> positions: a0=1@0, b0=1@1, a1=0@2, b1=1@3, a2=1@4
    want = 0b11011
    got = df.select(zorder_key([F.col("a"), F.col("b")], bits=3).alias("z")).collect()[
        0
    ]["z"]
    assert got == want


def test_compact_zorder_bounds_both_columns(spark, tmp_path):
    """After a zorder compact, parquet files cover small hyper-rectangles:
    the average per-file span of EACH zorder column is a fraction of its
    global span — single-column range clustering can only do this for its
    lead column."""
    from pathlib import Path

    from dp1_data_wrangling_spark.plans.catalog import Catalog
    from dp1_data_wrangling_spark.tables import load_table

    events = load_table(spark, SMOKE_SF, "events").select(
        "event_id", "user_id", "value"
    )
    cat = Catalog(tmp_path / "cat")
    for parity in (0, 1):  # two appends -> multi-root table worth compacting
        txn = cat.begin()
        txn.stage("events", events.where(F.col("event_id") % 2 == parity))
        cat.commit(txn)
    n = events.count()
    # AQE coalesces the tiny fixture into one partition; splitting the
    # z-sorted partition by record count keeps each file a contiguous
    # z-range (exactly how max_records_per_file bounds file size at scale)
    cat.compact(
        spark,
        "events",
        zorder_by=["user_id", "value"],
        max_records_per_file=max(n // 16, 1),
    )

    root = (tmp_path / "cat" / cat.manifest()["tables"]["events"][0])
    files = sorted(str(p) for p in Path(root).rglob("*.parquet"))
    assert len(files) >= 8, files
    spans = {"user_id": [], "value": []}
    glob_span = {}
    for col in spans:
        g = events.agg(
            (F.max(col) - F.min(col)).cast("double").alias("s")
        ).collect()[0]["s"]
        glob_span[col] = g
    for f in files:
        part = spark.read.parquet(f)
        row = part.agg(
            *[
                (F.max(c) - F.min(c)).cast("double").alias(c)
                for c in spans
            ]
        ).collect()[0]
        for c in spans:
            spans[c].append(row[c] / glob_span[c])
    for c, fracs in spans.items():
        avg = sum(fracs) / len(fracs)
        assert avg < 0.6, (c, avg, fracs)

    # layout is invisible to results
    got = cat.read(spark, "events")
    assert got.count() == events.count()
    assert got.exceptAll(events).count() == 0


def test_stage_rejects_range_and_zorder_together(spark, tmp_path):
    from dp1_data_wrangling_spark.plans.catalog import Catalog
    from dp1_data_wrangling_spark.tables import load_table

    events = load_table(spark, SMOKE_SF, "events")
    cat = Catalog(tmp_path / "cat")
    txn = cat.begin()
    with pytest.raises(ValueError):
        txn.stage("events", events, range_by=["ts"], zorder_by=["user_id", "value"])


def test_rollup_refresh_recomputes_on_commit_race(spark, tmp_path):
    """A refresh that loses the MERGE commit race must recompute its
    combine against the fresh rollup state and retry — never re-commit
    the stale combine (double-count) or drop the batch."""
    from dp1_data_wrangling_spark.plans.catalog import Catalog, CommitConflict
    from dp1_data_wrangling_spark.plans.rollup import refresh_rollup, rollup_partial
    from dp1_data_wrangling_spark.tables import load_table

    events = load_table(spark, str(SMOKE_SF), "events")
    a = events.where(F.col("event_id") % 3 == 0)
    b = events.where(F.col("event_id") % 3 == 1)
    both = events.where(F.col("event_id") % 3 != 2)

    root = tmp_path / "cat"
    refresh_rollup(spark, Catalog(root), a)

    class RacingCatalog(Catalog):
        """First merge attempt is preempted by a concurrent refresh of
        batch `a`-state + `b` interleaving — injected by making the first
        attempt fail AFTER another committer changed the table roots."""

        def __init__(self, r):
            super().__init__(r)
            self.raced = False

        def merge(self, spark_, table, updates, key_cols, **kw):
            if not self.raced:
                self.raced = True
                # concurrent committer wins first
                refresh_rollup(spark_, Catalog(self.root), b)
                raise CommitConflict("injected: table roots changed")
            return super().merge(spark_, table, updates, key_cols, **kw)

    racing = RacingCatalog(root)
    # fold the remaining third through the racing path: its first combine
    # is computed against state {a}, invalidated by the racer committing
    # {b}; the retry must recombine against {a, b}
    c = events.where(F.col("event_id") % 3 == 2)
    refresh_rollup(spark, racing, c)
    assert racing.raced

    got = {
        (r["bucket_ts"], r["event_type"]): (r["n_events"], r["value_micros"])
        for r in Catalog(root).read(spark, "events_rollup").collect()
    }
    want = {
        (r["bucket_ts"], r["event_type"]): (r["n_events"], r["value_micros"])
        for r in rollup_partial(events).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Catalog diff (CDC-lite) + fsck
# ---------------------------------------------------------------------------


def test_catalog_diff_append_reads_only_new_roots(spark, tmp_path):
    from dp1_data_wrangling_spark.tables import load_table

    events = load_table(spark, str(SMOKE_SF), "events").select(
        "event_id", "event_type"
    )
    a = events.where(F.col("event_id") % 2 == 0)
    b = events.where(F.col("event_id") % 2 == 1)
    cat = Catalog(tmp_path / "cat")
    t1 = cat.begin(); t1.stage("ev", a); cat.commit(t1)
    v1 = cat.manifest()["version"]
    t2 = cat.begin(); t2.stage("ev", b, mode="append"); cat.commit(t2)
    v2 = cat.manifest()["version"]

    d = cat.diff(spark, "ev", v1, v2)
    # append-only: pure inserts, exactly batch b
    assert d.where(F.col("_change") == "delete").count() == 0
    ins = d.where(F.col("_change") == "insert").drop("_change")
    assert ins.count() == b.count()
    assert ins.exceptAll(b).count() == 0
    # manifest short-circuit: the shared v1 root is excluded before any read
    plan = d._jdf.queryExecution().executedPlan().toString()
    v1_root = cat.manifest(v1)["tables"]["ev"][0]
    assert v1_root.split("/")[1] not in plan, plan


def test_catalog_diff_merge_shows_upsert_as_delete_plus_insert(spark, tmp_path):
    from dp1_data_wrangling_spark.tables import load_table

    events = load_table(spark, str(SMOKE_SF), "events").select(
        "event_id", "event_type"
    )
    base = events.limit(100)
    cat = Catalog(tmp_path / "cat")
    t1 = cat.begin(); t1.stage("ev", base); cat.commit(t1)
    v1 = cat.manifest()["version"]
    updates = base.limit(10).withColumn("event_type", F.lit("patched"))
    cat.merge(spark, "ev", updates, ["event_id"])
    v2 = cat.manifest()["version"]

    d = cat.diff(spark, "ev", v1, v2)
    assert d.where(F.col("_change") == "insert").count() == 10
    assert d.where(F.col("_change") == "delete").count() == 10
    assert (
        d.where((F.col("_change") == "insert") & (F.col("event_type") == "patched"))
        .count() == 10
    )
    # identical-content rewrite portions cancel; re-clustering compaction
    # diffs empty end-to-end
    cat.compact(spark, "ev")
    v3 = cat.manifest()["version"]
    assert cat.diff(spark, "ev", v2, v3).count() == 0


def test_catalog_fsck_reports_missing_and_orphans(spark, tmp_path):
    import shutil

    from dp1_data_wrangling_spark.tables import load_table

    events = load_table(spark, str(SMOKE_SF), "events").select("event_id")
    cat = Catalog(tmp_path / "cat")
    t1 = cat.begin(); t1.stage("ev", events); cat.commit(t1)
    assert cat.fsck() == {"missing_roots": [], "orphan_dirs": []}
    # an aborted (never-committed) txn is an orphan, not a corruption
    cat.begin()
    report = cat.fsck()
    assert report["missing_roots"] == [] and len(report["orphan_dirs"]) == 1
    # deleting a referenced root IS a corruption
    root_rel = cat.manifest()["tables"]["ev"][0]
    shutil.rmtree(tmp_path / "cat" / root_rel)
    report = cat.fsck()
    assert len(report["missing_roots"]) >= 1
    assert any("ev" in m for m in report["missing_roots"])


# ---------------------------------------------------------------------------
# Persisted IVF index
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ivf_index_cat(spark, tmp_path_factory):
    from dp1_data_wrangling_spark.plans.ann_index import build_ivf_index
    from dp1_data_wrangling_spark.tables import load_table

    emb = load_table(spark, SMOKE_SF, "embeddings")
    cat = Catalog(tmp_path_factory.mktemp("ann") / "cat")
    build_ivf_index(spark, cat, emb, n_cells=16, n_iters=4)
    return cat, emb


def test_ivf_index_query_equals_online_trained(spark, ivf_index_cat):
    """The persisted index returns EXACTLY the online ivf_topk_trained
    result (deterministic quantizer + identical re-rank): persistence
    changes the physics, never the answer."""
    from dp1_data_wrangling_spark.operators.similarity import ivf_topk_trained
    from dp1_data_wrangling_spark.plans.ann_index import ivf_query_index

    cat, emb = ivf_index_cat
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    got = ivf_query_index(spark, cat, probes, 5, nprobe=8)
    want = ivf_topk_trained(probes, emb, 5, n_cells=16, nprobe=8, n_iters=4)
    cols = ["probe_id", "neighbor_id", "rank"]
    assert got.select(*cols).exceptAll(want.select(*cols)).count() == 0
    assert want.select(*cols).exceptAll(got.select(*cols)).count() == 0
    assert got.count() == want.count() > 0


def test_ivf_index_query_prunes_partitions(spark, ivf_index_cat):
    """The cell filter must reach the scan as a PARTITION filter (directory
    skip), and the candidate join must broadcast the probe side — the
    corpus stream is never shuffled."""
    from dp1_data_wrangling_spark.plans.ann_index import ivf_query_index

    cat, emb = ivf_index_cat
    probes = emb.filter(F.col("vec_id") == 0)  # one probe -> nprobe cells
    df = ivf_query_index(spark, cat, probes, 5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan, plan
    m = __import__("re").search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan
    assert "BroadcastHashJoin" in plan, plan


def test_ivf_index_rebuild_is_deterministic(spark, ivf_index_cat):
    """Rebuilding from the same corpus reproduces the same index: the
    catalog diff between the two versions is empty."""
    from dp1_data_wrangling_spark.plans.ann_index import CORPUS_TABLE, build_ivf_index

    cat, emb = ivf_index_cat
    v1 = cat.manifest()["version"]
    build_ivf_index(spark, cat, emb, n_cells=16, n_iters=4)
    v2 = cat.manifest()["version"]
    assert v2 > v1
    assert cat.diff(spark, CORPUS_TABLE, v1, v2).count() == 0


def test_catalog_check_constraints_block_violating_stage(spark, tmp_path):
    """Delta-style expectations: a violating batch raises BEFORE any data
    is written; NULL predicates pass (SQL CHECK semantics); dropping the
    constraint re-admits the write."""
    from dp1_data_wrangling_spark.plans.catalog import ConstraintViolation

    cat = Catalog(tmp_path / "cat")
    cat.set_constraint("t", "positive_qty", "qty > 0")
    cat.set_constraint("t", "named", "name IS NOT NULL")
    assert cat.constraints("t") == {
        "positive_qty": "qty > 0",
        "named": "name IS NOT NULL",
    }

    good = spark.createDataFrame(
        [(1, "a"), (2, "b")], "qty long, name string"
    )
    t1 = cat.begin()
    t1.stage("t", good)
    cat.commit(t1)
    assert cat.read(spark, "t").count() == 2

    bad = spark.createDataFrame(
        [(1, "a"), (-3, "b"), (0, None)], "qty long, name string"
    )
    t2 = cat.begin()
    with pytest.raises(ConstraintViolation, match="positive_qty"):
        t2.stage("t", bad)
    cat.commit(t2)  # empty txn commits fine; nothing was staged
    assert cat.read(spark, "t").count() == 2  # violating batch never landed

    # NULL predicate passes: qty IS NULL makes "qty > 0" unknown, not false
    nullish = spark.createDataFrame([(None, "c")], "qty long, name string")
    t3 = cat.begin()
    t3.stage("t", nullish)
    cat.commit(t3)
    assert cat.read(spark, "t").count() == 3

    cat.drop_constraint("t", "positive_qty")
    cat.drop_constraint("t", "named")
    assert cat.constraints("t") == {}
    t4 = cat.begin()
    t4.stage("t", bad)
    cat.commit(t4)
    assert cat.read(spark, "t").count() == 6


def test_catalog_check_constraint_narrow_evolved_append(spark, tmp_path):
    """An evolve_schema=True append that OMITS a constrained column must
    validate with reader semantics (absent column = NULL = CHECK passes),
    not die in analysis; a constraint naming a column unknown to both the
    staged data and the table schema raises ConstraintViolation and
    leaves no staged files behind."""
    from dp1_data_wrangling_spark.plans.catalog import ConstraintViolation

    cat = Catalog(tmp_path / "cat")
    full = spark.createDataFrame([(1, 5, "a")], "id long, qty long, name string")
    t0 = cat.begin()
    t0.stage("t", full)
    cat.commit(t0)
    cat.set_constraint("t", "positive_qty", "qty > 0")

    narrow = spark.createDataFrame([(2, "b")], "id long, name string")
    t1 = cat.begin()
    t1.stage("t", narrow, evolve_schema=True)  # qty absent -> NULL -> passes
    cat.commit(t1)
    assert cat.read(spark, "t").count() == 2

    cat.set_constraint("t", "phantom", "no_such_col > 0")
    t2 = cat.begin()
    with pytest.raises(ConstraintViolation, match="phantom"):
        t2.stage("t", narrow, evolve_schema=True)
    staged_dirs = list((tmp_path / "cat" / "data").glob(f"{t2.txn_id}/*"))
    assert staged_dirs == []  # staging cleaned up on the analysis failure

    # an OVERWRITE that drops the constrained column gets NO NULL
    # backfill: the published table would not carry the column at all,
    # so the constraint must fail loudly (review regression)
    cat.drop_constraint("t", "phantom")
    t3 = cat.begin()
    with pytest.raises(ConstraintViolation, match="positive_qty"):
        t3.stage("t", narrow, mode="overwrite")
    assert list((tmp_path / "cat" / "data").glob(f"{t3.txn_id}/*")) == []


def test_catalog_constraint_ddl_conflicts_with_in_flight_stage(spark, tmp_path):
    """A txn staged against one constraint set must not commit under
    another (its data was never validated against the new rules)."""
    from dp1_data_wrangling_spark.plans.catalog import CommitConflict

    cat = Catalog(tmp_path / "cat")
    df = spark.createDataFrame([(-1,)], "qty long")
    txn = cat.begin()
    txn.stage("t", df)  # no constraints at stage time
    cat.set_constraint("t", "positive_qty", "qty > 0")  # concurrent DDL
    with pytest.raises(CommitConflict, match="constraints changed"):
        cat.commit(txn)
    assert cat.tables() == []  # nothing published
    # re-staging validates against the live set and correctly rejects
    from dp1_data_wrangling_spark.plans.catalog import ConstraintViolation

    txn2 = cat.begin()
    with pytest.raises(ConstraintViolation):
        txn2.stage("t", df)


def test_catalog_delete_where(spark, tmp_path):
    """DELETE WHERE: matching rows go, NULL-predicate rows stay (SQL
    three-valued semantics), time travel still sees the pre-delete state,
    and diff reports the removal."""
    from pyspark.sql import functions as F

    cat = Catalog(tmp_path / "cat")
    txn = cat.begin()
    rows = [(1, 5), (2, -1), (3, None), (4, 9)]
    txn.stage("t", spark.createDataFrame(rows, "id long, qty long"))
    v1 = cat.commit(txn)

    v2 = cat.delete(spark, "t", "qty < 0")
    got = sorted(r["id"] for r in cat.read(spark, "t").collect())
    assert got == [1, 3, 4]  # id=2 deleted; id=3 (NULL qty) kept
    assert sorted(
        r["id"] for r in cat.read(spark, "t", version=v1).collect()
    ) == [1, 2, 3, 4]
    d = cat.diff(spark, "t", v1, v2)
    assert [(r["id"], r["_change"]) for r in d.collect()] == [(2, "delete")]

    with pytest.raises(KeyError):
        cat.delete(spark, "no_such_table", "true")


def test_catalog_delete_retries_over_concurrent_append(spark, tmp_path):
    """An append landing between delete's snapshot read and its commit
    survives: the first attempt conflicts, the rewrite retries and the
    appended rows (which match nothing) are in the final state."""
    from pyspark.sql import functions as F

    from dp1_data_wrangling_spark.plans import catalog as cat_mod

    cat = cat_mod.Catalog(str(tmp_path / "cat"))
    txn = cat.begin()
    txn.stage("t", spark.range(10).withColumn("flag", F.col("id") % 2 == 0))
    cat.commit(txn)

    real_read = cat.read_snapshot
    fired = {"n": 0}

    def racy_read(*args, **kwargs):
        df = real_read(*args, **kwargs)
        if fired["n"] == 0:
            fired["n"] += 1
            other = cat_mod.Catalog(str(tmp_path / "cat"))
            t2 = other.begin()
            t2.stage(
                "t",
                spark.range(100, 105).withColumn("flag", F.lit(False)),
                mode="append",
            )
            other.commit(t2)
        return df

    cat.read_snapshot = racy_read
    cat.delete(spark, "t", "flag")
    ids = sorted(r["id"] for r in cat.read(spark, "t").collect())
    assert ids == [1, 3, 5, 7, 9, 100, 101, 102, 103, 104]
    assert fired["n"] == 1


def test_catalog_update_set_where(spark, tmp_path):
    """UPDATE: assignments see the OLD row (a=b, b=a swaps), NULL
    predicate leaves the row untouched, expressions cast back to the
    column type (schema cannot drift), CHECK constraints still screen
    the rewritten table."""
    from dp1_data_wrangling_spark.plans.catalog import ConstraintViolation

    cat = Catalog(tmp_path / "cat")
    txn = cat.begin()
    rows = [(1, 10, 20), (2, 30, 40), (3, None, 60)]
    txn.stage("t", spark.createDataFrame(rows, "id long, a long, b long"))
    v1 = cat.commit(txn)

    cat.update(spark, "t", "a >= 10", {"a": "b", "b": "a"})
    got = {r["id"]: (r["a"], r["b"]) for r in cat.read(spark, "t").collect()}
    # id 1, 2 swapped; id 3 (NULL a -> predicate unknown) untouched
    assert got == {1: (20, 10), 2: (40, 30), 3: (None, 60)}
    assert {
        r["id"]: r["a"] for r in cat.read(spark, "t", version=v1).collect()
    } == {1: 10, 2: 30, 3: None}

    # type preservation: assigning a double expr to a long column casts
    cat.update(spark, "t", "id = 1", {"a": "a / 4"})
    assert cat.read(spark, "t").filter("id = 1").collect()[0]["a"] == 5
    assert dict(cat.read(spark, "t").dtypes)["a"] == "bigint"

    with pytest.raises(ValueError, match="no such columns"):
        cat.update(spark, "t", "true", {"nope": "1"})
    with pytest.raises(ValueError, match="at least one assignment"):
        cat.update(spark, "t", "true", {})

    # constraints screen the post-update state
    cat.set_constraint("t", "a_nonneg", "a >= 0")
    with pytest.raises(ConstraintViolation, match="a_nonneg"):
        cat.update(spark, "t", "id = 2", {"a": "-1"})
    assert cat.read(spark, "t").filter("id = 2").collect()[0]["a"] == 40


def test_catalog_restore_and_clone_zero_copy(spark, tmp_path):
    """RESTORE re-points at an old snapshot's roots as a new commit
    (history preserved); shallow clone shares immutable roots with no
    data copy and survives the source's later overwrite + vacuum."""
    from pyspark.sql import functions as F

    cat = Catalog(tmp_path / "cat")
    t1 = cat.begin()
    t1.stage("t", spark.range(10).withColumn("tag", F.lit("v1")))
    v1 = cat.commit(t1)
    t2 = cat.begin()
    t2.stage("t", spark.range(5).withColumn("tag", F.lit("v2")), mode="overwrite")
    v2 = cat.commit(t2)
    assert cat.read(spark, "t").count() == 5

    # restore to v1: zero-copy, new version, diff sees it
    v3 = cat.restore("t", v1)
    assert v3 > v2
    assert cat.read(spark, "t").count() == 10
    assert {r["tag"] for r in cat.read(spark, "t").collect()} == {"v1"}
    # the restored-away state is still time-travelable
    assert cat.read(spark, "t", version=v2).count() == 5

    # shallow clone shares roots (no new data dir)
    m_before = cat.manifest()
    cat.clone("t", "t_dev")
    m_after = cat.manifest()
    assert m_after["tables"]["t_dev"] == m_before["tables"]["t"]
    assert cat.read(spark, "t_dev").count() == 10

    with pytest.raises(ValueError, match="already exists"):
        cat.clone("t", "t_dev")
    with pytest.raises(KeyError):
        cat.clone("missing", "x")
    with pytest.raises(KeyError):
        cat.restore("missing", v1)

    # source overwritten + vacuumed: clone's shared roots survive (vacuum
    # references every table of retained manifests)
    t4 = cat.begin()
    t4.stage("t", spark.range(3).withColumn("tag", F.lit("v4")), mode="overwrite")
    cat.commit(t4)
    cat.vacuum(keep_last=1, min_age_seconds=0.0)
    assert cat.read(spark, "t_dev").count() == 10
    assert cat.read(spark, "t").count() == 3

    # restoring to a vacuumed version fails loudly, publishes nothing
    with pytest.raises((FileNotFoundError, KeyError)):
        cat.restore("t", v2)
    assert cat.read(spark, "t").count() == 3


def test_catalog_register_views_sql_surface(spark, tmp_path):
    """spark.sql over catalog temp views: joins work, slashes sanitize,
    and a versioned registration serves a consistent as-of snapshot."""
    from pyspark.sql import functions as F

    cat = Catalog(tmp_path / "cat")
    txn = cat.begin()
    txn.stage("dim/colors", spark.createDataFrame(
        [(1, "red"), (2, "blue")], "id long, color string"))
    txn.stage("facts", spark.createDataFrame(
        [(10, 1), (11, 2), (12, 1)], "fact_id long, color_id long"))
    v1 = cat.commit(txn)

    views = cat.register_views(spark, prefix="cat_")
    assert views == {"dim/colors": "cat_dim_colors", "facts": "cat_facts"}
    got = spark.sql(
        "SELECT c.color, count(*) AS n FROM cat_facts f "
        "JOIN cat_dim_colors c ON c.id = f.color_id "
        "GROUP BY c.color ORDER BY c.color"
    ).collect()
    assert [(r["color"], r["n"]) for r in got] == [("blue", 1), ("red", 2)]

    # mutate, then register the v1 snapshot: SQL sees the old state
    t2 = cat.begin()
    t2.stage("facts", spark.createDataFrame([(13, 2)], "fact_id long, color_id long"),
             mode="append")
    cat.commit(t2)
    cat.register_views(spark, prefix="cur_")
    cat.register_views(spark, prefix="old_", version=v1)
    assert spark.sql("SELECT count(*) AS n FROM cur_facts").collect()[0]["n"] == 4
    assert spark.sql("SELECT count(*) AS n FROM old_facts").collect()[0]["n"] == 3


def test_catalog_append_schema_gate_and_evolution(spark, tmp_path):
    """Mismatched appends fail at WRITE time (not read time); explicit
    evolve_schema=True admits added/dropped columns, absent values read
    as NULL; type changes are always rejected."""
    from pyspark.sql import functions as F

    from dp1_data_wrangling_spark.plans.catalog import SchemaMismatch

    cat = Catalog(tmp_path / "cat")
    t1 = cat.begin()
    t1.stage("t", spark.createDataFrame([(1, "a")], "id long, name string"))
    cat.commit(t1)

    # extra column without opt-in: rejected before any write
    widened = spark.createDataFrame(
        [(2, "b", 7)], "id long, name string, score long"
    )
    t2 = cat.begin()
    with pytest.raises(SchemaMismatch, match="evolve_schema"):
        t2.stage("t", widened)
    assert cat.read(spark, "t").count() == 1  # table unpoisoned

    # type change: rejected even with the opt-in
    retyped = spark.createDataFrame([("x", "c")], "id string, name string")
    t3 = cat.begin()
    with pytest.raises(SchemaMismatch, match="types"):
        t3.stage("t", retyped, evolve_schema=True)

    # opted-in evolution: new column appears, old rows read NULL
    t4 = cat.begin()
    t4.stage("t", widened, evolve_schema=True)
    cat.commit(t4)
    got = {r["id"]: (r["name"], r["score"]) for r in cat.read(spark, "t").collect()}
    assert got == {1: ("a", None), 2: ("b", 7)}

    # dropped column (narrow append) with opt-in: reads NULL for new rows
    t5 = cat.begin()
    t5.stage("t", spark.createDataFrame([(3,)], "id long"), evolve_schema=True)
    cat.commit(t5)
    got = {r["id"]: (r["name"], r["score"]) for r in cat.read(spark, "t").collect()}
    assert got == {1: ("a", None), 2: ("b", 7), 3: (None, None)}

    # a pruned read keeps the table's columns: root 1 {ts}, root 2 {ts, b},
    # and the zone map on ts prunes root 2 for ``ts < 5``
    cat.set_zone_map("z", ["ts"])
    for df in (
        spark.range(10).select(F.col("id").alias("ts")),
        spark.range(10, 20).select(F.col("id").alias("ts"), F.col("id").alias("b")),
    ):
        tx = cat.begin()
        tx.stage("z", df, evolve_schema=True)
        cat.commit(tx)
    assert len(cat.prune_roots("z", "ts < 5")) == 1
    assert cat.read(spark, "z", where="ts < 5").columns == ["ts", "b"]
    assert cat.read(spark, "z", where="ts < 5 and b is null").count() == 5

    # two appends add the same column with different types: both pass the
    # stage-time gate, and the later commit conflicts under the lock
    from dp1_data_wrangling_spark.plans.catalog import CommitConflict

    t6, t7 = cat.begin(), cat.begin()
    for txn, df in (
        (t6, spark.createDataFrame([(30, "x")], "ts long, c string")),
        (t7, spark.createDataFrame([(31, 1)], "ts long, c long")),
    ):
        txn.stage("z", df, evolve_schema=True)
    cat.commit(t6)
    with pytest.raises(CommitConflict, match="types"):
        cat.commit(t7)
    assert dict(cat.read(spark, "z").dtypes)["c"] == "string"


def test_catalog_read_and_append_run_no_schema_jobs(spark, tmp_path):
    """The manifest records every root's schema, so building a read of an
    8-root table (one root schema-evolved, one hive-partitioned) runs no
    Spark job before its action, with or without a pruning ``where``, and
    the 9th append's ``stage`` runs as many jobs as the 1st."""
    sc = spark.sparkContext

    def jobs(fn):
        """(Spark jobs ``fn`` ran, its result), counted in a job group."""
        group = f"schema-jobs-{uuid.uuid4().hex}"
        with _job_group(sc, group):
            out = fn()
        return len(_group_jobs(sc, group)), out

    cat = Catalog(str(tmp_path / "cat"))
    cat.set_zone_map("t", ["ts"])

    def append(lo: int, *, with_b: bool = False, partition_by=None) -> int:
        """Stage and commit one root of 10 rows; the jobs its stage ran."""
        df = spark.range(lo, lo + 10).select(
            F.col("id").alias("ts"), (F.col("id") % 3).cast("string").alias("tag")
        )
        if with_b:
            df = df.withColumn("b", F.col("ts") * 2)
        tx = cat.begin()
        n, _ = jobs(
            lambda: tx.stage("t", df, partition_by=partition_by, evolve_schema=True)
        )
        cat.commit(tx)
        return n

    first = append(0)
    for i in range(1, 8):
        append(10 * i, with_b=i == 5, partition_by=["tag"] if i == 3 else None)
    assert len(cat.manifest()["tables"]["t"]) == 8
    n_read, df = jobs(lambda: cat.read(spark, "t"))
    assert n_read == 0
    n_pruned, pruned = jobs(lambda: cat.read(spark, "t", where="ts < 15"))
    assert n_pruned == 0
    assert df.columns == ["ts", "tag", "b"]
    assert df.count() == 80 and df.filter("b is not null").count() == 10
    assert sorted(r.ts for r in pruned.collect()) == list(range(15))
    # above the discovery threshold Spark lists a scan's paths (and a
    # root's partition directories: the partitioned root has 3) in a job,
    # so no scan of the read may list more roots than the session allows
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    threshold = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        n_capped, capped = jobs(lambda: cat.read(spark, "t"))
    finally:
        spark.conf.set(key, threshold)
    assert n_capped == 0
    assert capped.count() == 80
    assert append(80) == first


def test_catalog_read_one_scan_per_layout_and_delete_scope(spark, tmp_path):
    """A snapshot reads as one Parquet scan per root layout: the flat
    roots a merge-on-read delete is scoped to, the hive-partitioned root,
    and the flat roots appended after the delete (one schema-evolved, one
    empty) scan once each.  The rows equal a union of single-root reads,
    each with its scoped deletes applied, and a partition predicate still
    prunes partitions.  Clone and restore carry each root's layout."""
    import re

    cat = Catalog(str(tmp_path / "cat"))

    def append(lo: int, *, with_b=False, partition_by=None, empty=False) -> None:
        df = spark.range(lo, lo + 10).select(
            F.col("id").alias("ts"), (F.col("id") % 3).cast("string").alias("tag")
        )
        if with_b:
            df = df.withColumn("b", F.col("ts") * 2)
        tx = cat.begin()
        tx.stage("t", df.limit(0) if empty else df, partition_by=partition_by,
                 evolve_schema=True)
        cat.commit(tx)

    append(0)
    append(10)
    cat.delete_merge_on_read("t", "ts % 4 = 0")  # scoped to the first two roots
    append(20, partition_by=["tag"])
    append(30, with_b=True)
    append(40, empty=True)
    append(50)
    m = cat.manifest()
    rels = m["tables"]["t"]
    assert m["parts"]["t"] == {rels[2]: ["tag"]}

    df = cat.read(spark, "t")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 3
    schema = cat.table_schema("t")
    ref = None
    for rel in rels:
        one = spark.read.schema(schema).parquet(str(cat.root / rel)).select(*schema.names)
        for e in m["deletes"]["t"]:
            if rel in e["roots"]:
                one = one.filter(~F.coalesce(F.expr(e["p"]), F.lit(False)))
        ref = one if ref is None else ref.union(one)
    assert df.columns == ["ts", "tag", "b"]
    assert df.count() == ref.count() == 45
    assert df.exceptAll(ref).count() == 0 and ref.exceptAll(df).count() == 0

    tagged = cat.read(spark, "t", where="tag = '1'")
    plan = tagged._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*\(tag#\d+ = 1\)", plan), plan
    assert tagged.count() == ref.filter("tag = '1'").count() == 14

    # clone and restore carry the partitioned root's layout with it
    v = cat.manifest()["version"]
    cat.clone("t", "t2")
    tx = cat.begin()
    tx.stage("t", spark.range(1).select(F.col("id").alias("ts")), mode="overwrite")
    cat.commit(tx)
    assert set(cat.manifest()["parts"]) == {"t2"}
    cat.restore("t", v)
    for name in ("t", "t2"):
        again = cat.read(spark, name)
        assert again.count() == 45 and again.exceptAll(ref).count() == 0


def test_catalog_read_and_views_see_one_snapshot(spark, tmp_path, monkeypatch):
    """``read(where=...)`` and ``register_views()`` load the manifest once:
    an append that commits right after that load reaches neither the read
    nor any view."""
    cat = Catalog(str(tmp_path / "cat"))
    tx = cat.begin()
    tx.stage("t", spark.range(10).withColumnRenamed("id", "ts"))
    tx.stage("u", spark.range(3))
    cat.commit(tx)
    real = Catalog.manifest
    armed: list[bool] = []

    def racing(self, version=None):
        """The manifest, then (once armed) an append to ``t`` commits."""
        m = real(self, version)
        if armed:
            armed.clear()
            tx = self.begin()
            tx.stage("t", spark.range(100, 110).withColumnRenamed("id", "ts"))
            self.commit(tx)
        return m

    monkeypatch.setattr(Catalog, "manifest", racing)
    armed.append(True)
    assert cat.read(spark, "t", where="ts >= 0").count() == 10
    assert cat.read(spark, "t").count() == 20  # the append did commit
    armed.append(True)
    views = cat.register_views(spark, prefix="snap_")
    assert spark.table(views["t"]).count() == 20
    assert spark.table(views["u"]).count() == 3
    assert cat.read(spark, "t").count() == 30


def test_catalog_describe_history(spark, tmp_path):
    """The commit log surfaces per-version changed tables and the meta
    delta (merge/restore/DDL markers), newest first, reading manifests
    only."""
    from pyspark.sql import functions as F

    cat = Catalog(tmp_path / "cat")
    t1 = cat.begin()
    t1.stage("a", spark.range(3))
    v1 = cat.commit(t1)
    t2 = cat.begin()
    t2.stage("b", spark.range(2))
    t2.stage("a", spark.range(1), mode="append")
    v2 = cat.commit(t2, meta={"note": "second"})
    v3 = cat.set_constraint("a", "nonneg", "id >= 0")

    hist = cat.describe_history()
    assert [h["version"] for h in hist] == [v3, v2, v1]
    by_v = {h["version"]: h for h in hist}
    assert by_v[v1]["changed_tables"] == ["a"]
    assert by_v[v2]["changed_tables"] == ["a", "b"]
    assert by_v[v2]["meta_delta"] == {"note": "second"}
    assert by_v[v3]["changed_tables"] == []  # DDL-only commit


def test_source_mix_matches_independent_python_reference(spark):
    """Beyond the DuckDB oracle: replicate the full keep decision in pure
    Python (hashlib md5 + the exact threshold formula) and require
    bit-identical agreement — pins the engine implementation against a
    second independent reference."""
    import hashlib
    import math

    from dp1_data_wrangling_spark.operators.sampling import (
        MIX_BUCKETS,
        source_mix,
    )

    rows = [(i, f"s{i % 4}", 3 + (i * 7) % 40) for i in range(300)]
    weights = {"s0": 5, "s1": 1, "s2": 0, "s3": 10}
    budget = 1500
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    got = {
        r["doc_id"]: r["keep"]
        for r in source_mix(
            df, weights=weights, token_budget=budget, salt="ref_v1"
        ).collect()
    }
    totals: dict[str, int] = {}
    for _, s, t in rows:
        totals[s] = totals.get(s, 0) + t
    sum_w = sum(weights.values())
    thr = {
        s: min(
            MIX_BUCKETS,
            math.floor(MIX_BUCKETS * ((budget * weights.get(s, 0)) / (sum_w * gt))),
        )
        for s, gt in totals.items()
    }
    want = {}
    for i, s, _ in rows:
        h = int(hashlib.md5(f"ref_v1{i}".encode()).hexdigest()[:15], 16)
        want[i] = (h % MIX_BUCKETS) < thr[s]
    assert got == want
    assert any(got.values()) and not all(got.values())


def test_run_training_export_deterministic_atomic_and_packed(spark, tmp_path):
    """The last-mile export: train split only, shards are contiguous
    ranges of the deterministic global shuffle, packing respects the
    token budget within every sequence, the publish is atomic and
    re-running is byte-identical."""
    from dp1_data_wrangling_spark.plans.training_export import (
        PACKED_TRAIN_TABLE,
        run_training_export,
    )
    from dp1_data_wrangling_spark.tables import load_table

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    root = str(tmp_path / "cat")
    cat = run_training_export(
        spark, docs, root, token_budget=256, n_shards=4
    )
    out = cat.read(spark, PACKED_TRAIN_TABLE)
    rows = out.collect()
    assert rows
    # shards partition the position range contiguously
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    positions = sorted(r["position"] for r in rows)
    assert positions == list(range(1, len(rows) + 1))
    assert set(by_shard) <= {0, 1, 2, 3}
    spans = {
        s: (min(r["position"] for r in g), max(r["position"] for r in g))
        for s, g in by_shard.items()
    }
    ordered = sorted(spans.values())
    for (lo1, hi1), (lo2, _) in zip(ordered, ordered[1:]):
        assert hi1 < lo2  # contiguous, non-overlapping
    # every packed sequence fits the budget (single over-budget docs get
    # their own sequence by the packing contract)
    seqs = {}
    for r in rows:
        seqs.setdefault((r["shard"], r["seq_id"]), []).append(r["n_tokens"])
    for toks in seqs.values():
        assert sum(toks) <= 256 or len(toks) == 1
    # deterministic: re-publish produces identical content, new version
    v_before = cat.manifest()["version"]
    cat2 = run_training_export(spark, docs, root, token_budget=256, n_shards=4)
    out2 = {
        (r["doc_id"], r["position"], r["shard"], r["seq_id"])
        for r in cat2.read(spark, PACKED_TRAIN_TABLE).collect()
    }
    assert out2 == {
        (r["doc_id"], r["position"], r["shard"], r["seq_id"]) for r in rows
    }
    assert cat2.manifest()["version"] > v_before


def test_backfill_stats_covers_columns_added_by_redeclaration(spark, tmp_path):
    """A later set_zone_map/set_bloom_filter re-declaration ADDS columns;
    roots statted under the old declaration must gain the new columns on
    the next backfill (per-column granularity — 'root present in the
    stats bag' is not 'root covered'), and repeat calls still converge
    to 0."""
    from dp1_data_wrangling_spark.plans import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    for lo in (0, 100):
        tx = cat.begin()
        tx.stage(
            "t",
            spark.range(lo, lo + 100).select(
                F.col("id").alias("ts"), (F.col("id") + 1000).alias("uid")
            ),
        )
        cat.commit(tx)
    cat.set_zone_map("t", ["ts"])
    assert cat.backfill_stats(spark, "t") == 2
    # re-declare with an extra column: both roots already sit in the
    # zones bag, but neither has 'uid' stats yet
    cat.set_zone_map("t", ["ts", "uid"])
    assert cat.backfill_stats(spark, "t") == 2
    assert cat.backfill_stats(spark, "t") == 0  # converged
    for d in cat.describe_stats("t"):
        assert set(d["zones"]) == {"ts", "uid"}
    assert len(cat.prune_roots("t", "uid >= 1100")) == 1
    # bloom re-declaration follows the same per-column rule
    cat.set_bloom_filter("t", ["ts"])
    assert cat.backfill_stats(spark, "t") == 2
    cat.set_bloom_filter("t", ["ts", "uid"])
    assert cat.backfill_stats(spark, "t") == 2
    assert cat.backfill_stats(spark, "t") == 0
    assert len(cat.prune_roots("t", "uid = 1005")) == 1


@pytest.fixture(scope="module")
def text_index_cat(spark, tmp_path_factory):
    from dp1_data_wrangling_spark.plans.text_index import build_text_index
    from dp1_data_wrangling_spark.tables import load_table

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    cat = Catalog(tmp_path_factory.mktemp("textidx") / "cat")
    build_text_index(spark, cat, docs)
    return cat, docs


def test_text_index_query_equals_online_bm25(spark, text_index_cat):
    """The persisted postings index returns EXACTLY the online bm25_topk
    result (same statistics, same scoring tree, same fold order):
    persistence changes the physics, never the answer."""
    from dp1_data_wrangling_spark.operators.retrieval import bm25_topk
    from dp1_data_wrangling_spark.plans.text_index import bm25_query_index

    cat, docs = text_index_cat
    queries = spark.createDataFrame(
        [(1, "hash join"), (2, "window agg stream"), (3, "slow scan filter")],
        ["query_id", "query_text"],
    )
    got = bm25_query_index(spark, cat, queries, 10)
    want = bm25_topk(docs, queries, k=10)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_text_index_query_prunes_partitions(spark, text_index_cat):
    """The query-term bucket filter must reach the postings scan as a
    PARTITION filter (directory skip) with the term filter pushed, and
    the df join must broadcast."""
    from dp1_data_wrangling_spark.plans.text_index import bm25_query_index

    cat, _ = text_index_cat
    queries = spark.createDataFrame([(1, "hash")], ["query_id", "query_text"])
    df = bm25_query_index(spark, cat, queries, 5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tb" in plan, plan
    m = __import__("re").search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "tb" in m.group(1), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "EvalPython" not in plan, plan


def test_text_index_requires_build(spark, tmp_path):
    from dp1_data_wrangling_spark.plans.text_index import bm25_query_index

    queries = spark.createDataFrame([(1, "x")], ["query_id", "query_text"])
    with pytest.raises(RuntimeError, match="no persisted text index"):
        bm25_query_index(spark, Catalog(tmp_path / "cat"), queries, 5)


def _parquet_files(root) -> set:
    from pathlib import Path

    return {str(p) for p in Path(root).rglob("*.parquet")}


def test_mor_delete_is_metadata_only_and_scoped(spark, tmp_path):
    """delete_merge_on_read: no data files are read or written (pure
    manifest commit); reads apply the predicate with DELETE's
    three-valued semantics; appends AFTER the delete are untouched (the
    root scoping pins 'rows present at delete time')."""
    from dp1_data_wrangling_spark.plans.catalog import Catalog

    cat = Catalog(tmp_path / "cat")
    txn = cat.begin()
    txn.stage(
        "t",
        spark.createDataFrame(
            [(1, 10), (2, None), (3, 30)], "id long, v long"
        ),
        mode="overwrite",
    )
    cat.commit(txn)
    files_before = _parquet_files(cat.root)
    v = cat.delete_merge_on_read("t", "v > 15")
    assert _parquet_files(cat.root) == files_before  # metadata-only
    assert len(cat.pending_deletes("t")) == 1
    # NULL predicate keeps row 2; v=30 deleted
    assert {r.id for r in cat.read(spark, "t").collect()} == {1, 2}
    # where= path composes with the MOR filter
    assert {r.id for r in cat.read(spark, "t", where="id >= 2").collect()} == {2}
    # time travel: the pre-delete version still shows all rows
    assert cat.read(spark, "t", version=v - 1).count() == 3
    # a LATER append matching the predicate survives (scoped delete)
    txn = cat.begin()
    txn.stage(
        "t", spark.createDataFrame([(4, 40)], "id long, v long"), mode="append"
    )
    cat.commit(txn)
    assert {r.id for r in cat.read(spark, "t").collect()} == {1, 2, 4}


def test_catalog_update_rewrites_only_matching_roots(spark, tmp_path):
    """Root-scoped copy-on-write (r10): UPDATE/DELETE rewrite ONLY the
    commit roots the predicate can touch (zone-map pruning); untouched
    roots carry into the new version BY REFERENCE — same root ids, same
    bytes — while results equal the full-rewrite semantics."""
    from dp1_data_wrangling_spark.plans import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    cat.set_zone_map("t", ["ts"])
    for lo in (0, 100, 200, 300):
        tx = cat.begin()
        tx.stage(
            "t",
            spark.range(lo, lo + 100).select(
                F.col("id").alias("ts"), (F.col("id") * 2).alias("v")
            ),
        )
        cat.commit(tx)
    rels_before = list(cat.manifest()["tables"]["t"])
    assert len(rels_before) == 4
    files_before = _parquet_files(cat.root)

    # UPDATE touching only the [200, 300) root
    cat.update(spark, "t", "ts >= 250 AND ts < 260", {"v": "v + 1"})
    m = cat.manifest()
    rels_after = list(m["tables"]["t"])
    carried = [r for r in rels_before if r in rels_after]
    assert len(carried) == 3, "three untouched roots must carry by reference"
    assert rels_before[2] not in rels_after  # the touched root was replaced
    assert len(rels_after) == 4  # 3 carried + 1 rewritten
    # carried roots are BYTE-identical: their files were never rewritten
    assert {
        f for f in files_before if any(r in f for r in carried)
    } <= _parquet_files(cat.root)
    assert m["meta"]["rewritten_roots"] == 1
    assert m["meta"]["carried_roots"] == 3
    # results equal the full-rewrite semantics
    got = {(r.ts, r.v) for r in cat.read(spark, "t").collect()}
    want = {
        (ts, ts * 2 + 1 if 250 <= ts < 260 else ts * 2) for ts in range(400)
    }
    assert got == want
    # zone stats: dropped for the replaced root, present for the new one
    zones = m.get("zones", {}).get("t", {})
    assert rels_before[2] not in zones
    assert all(r in zones for r in rels_after)

    # DELETE touching only the [0, 100) root
    rels_mid = list(cat.manifest()["tables"]["t"])
    cat.delete(spark, "t", "ts < 10")
    m2 = cat.manifest()
    rels_final = list(m2["tables"]["t"])
    assert len([r for r in rels_mid if r in rels_final]) == 3
    assert m2["meta"]["rewritten_roots"] == 1
    assert cat.read(spark, "t").count() == 390
    # predicate NO root can match: pure-manifest commit, zero rewrites
    v_before = len([r for r in rels_final])
    cat.delete(spark, "t", "ts > 100000")
    m3 = cat.manifest()
    assert list(m3["tables"]["t"]) == rels_final
    assert m3["meta"]["rewritten_roots"] == 0
    assert m3["meta"]["carried_roots"] == v_before
    assert cat.read(spark, "t").count() == 390


def test_catalog_scoped_rewrite_preserves_first_seen_type_pin(spark, tmp_path):
    """A root-scoped rewrite of the FIRST root keeps the table's read
    dtypes: the string hive partition column ``w`` ("a" in root 1, the
    all-numeric "10" in root 2) reads as its written ``string`` before
    and after, with the replaced root gone and the carried root kept; and
    the table's column order survives such a rewrite."""
    from pyspark.sql.types import StringType

    from dp1_data_wrangling_spark.plans import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    cat.set_zone_map("t", ["id"])
    # root 1: hive partition value "a"
    tx = cat.begin()
    tx.stage(
        "t",
        spark.range(0, 10).select("id", F.lit("a").alias("w")),
        partition_by=["w"],
    )
    cat.commit(tx)
    # root 2: all-numeric partition value "10"
    tx = cat.begin()
    tx.stage(
        "t",
        spark.range(100, 110).select("id", F.lit("10").alias("w")),
        mode="append",
        partition_by=["w"],
    )
    cat.commit(tx)
    rels_before = list(cat.manifest()["tables"]["t"])
    t_before = {f.name: f.dataType for f in cat.read(spark, "t").schema.fields}
    assert isinstance(t_before["w"], StringType)

    # scoped DELETE touching only the FIRST root (zone maps prune root 2)
    cat.delete(spark, "t", "id = 5")
    m = cat.manifest()
    assert m["meta"]["rewritten_roots"] == 1
    rels_after = list(m["tables"]["t"])
    assert rels_before[0] not in rels_after  # the replaced root is gone
    assert rels_before[1] in rels_after  # the carried root is kept
    t_after = {f.name: f.dataType for f in cat.read(spark, "t").schema.fields}
    assert t_after == t_before, "read dtypes must be stable across a scoped rewrite"
    got = {(r.id, r.w) for r in cat.read(spark, "t").collect()}
    want = {(i, "a") for i in range(10) if i != 5} | {
        (i, "10") for i in range(100, 110)
    }
    assert got == want

    # nor its column order: root 2 wrote {b, ts}, and the rewrite of root 1
    # moves it to the end of the list
    cat.set_zone_map("o", ["ts"])
    for df in (
        spark.range(10).select(F.col("id").alias("ts")),
        spark.range(10, 20).select(F.col("id").alias("b"), F.col("id").alias("ts")),
    ):
        tx = cat.begin()
        tx.stage("o", df, evolve_schema=True)
        cat.commit(tx)
    assert cat.read(spark, "o").columns == ["ts", "b"]
    cat.delete(spark, "o", "ts = 3")
    assert cat.manifest()["meta"]["rewritten_roots"] == 1
    assert cat.read(spark, "o").columns == ["ts", "b"]
    assert cat.read(spark, "o").count() == 19


def test_catalog_scoped_rewrite_respects_mor_scoping(spark, tmp_path):
    """A root-scoped UPDATE materializes pending MOR deletes for the
    rewritten roots ONLY and re-scopes the entries to the carried roots
    — the delete keeps filtering untouched roots, never resurrects, and
    is not double-applied."""
    from dp1_data_wrangling_spark.plans import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    cat.set_zone_map("t", ["ts"])
    for lo in (0, 100):
        tx = cat.begin()
        tx.stage(
            "t",
            spark.range(lo, lo + 100).select(
                F.col("id").alias("ts"), (F.col("id") * 2).alias("v")
            ),
        )
        cat.commit(tx)
    # MOR delete spanning both roots: kills ts in {50, 150}
    cat.delete_merge_on_read("t", "ts % 100 = 50")
    assert cat.read(spark, "t").count() == 198
    # scoped UPDATE touching only the second root
    cat.update(spark, "t", "ts >= 150 AND ts < 160", {"v": "0"})
    m = cat.manifest()
    assert m["meta"]["rewritten_roots"] == 1
    # the entry now scopes ONLY the carried first root
    entries = cat.pending_deletes("t")
    assert len(entries) == 1
    assert len(entries[0]["roots"]) == 1
    got = {(r.ts, r.v) for r in cat.read(spark, "t").collect()}
    want = {
        (ts, 0 if 150 <= ts < 160 else ts * 2)
        for ts in range(200)
        if ts not in (50, 150)
    }
    assert got == want
    # compaction after the scoped ops still converges to the same rows
    cat.compact(spark=spark, table="t")
    assert {(r.ts, r.v) for r in cat.read(spark, "t").collect()} == want


def test_mor_read_pins_types_in_manifest_rel_order(spark, tmp_path):
    """A table reads with the same column types with and without a MOR
    delete: with a hand-built manifest whose delete entry scopes roots 1
    and 3 (interleaving root 2 between them), the string hive partition
    column ``w`` — "a" in root 2, the all-numeric "10" in root 3 — reads
    as its written ``string`` on BOTH paths."""
    from dp1_data_wrangling_spark.plans.catalog import Catalog

    cat = Catalog(tmp_path / "cat")
    txn = cat.begin()
    txn.stage("t", spark.createDataFrame([(1,)], "id long"), mode="overwrite")
    cat.commit(txn)
    # w is a string hive PARTITION column in both appends; root 3's
    # directory value "10" is all-numeric
    txn = cat.begin()
    txn.stage(
        "t",
        spark.createDataFrame([(2, "a")], "id long, w string"),
        mode="append",
        partition_by=["w"],
        evolve_schema=True,
    )
    cat.commit(txn)
    txn = cat.begin()
    txn.stage(
        "t",
        spark.createDataFrame([(3, "10")], "id long, w string"),
        mode="append",
        partition_by=["w"],
    )
    cat.commit(txn)
    m = cat.manifest()
    rels = m["tables"]["t"]
    assert len(rels) == 3
    plain = cat.read_snapshot(spark, m, "t")
    # interleave: the delete scopes roots 1 and 3 only
    m2 = {**m, "deletes": {"t": [{"p": "id = -1", "roots": [rels[0], rels[2]]}]}}
    got = cat.read_snapshot(spark, m2, "t")
    assert got.dtypes == plain.dtypes
    assert dict(got.dtypes)["w"] == "string"
    # and the read itself is sound: nothing matches id = -1
    assert {r.id for r in got.collect()} == {1, 2, 3}


def test_mor_compact_materializes_and_clears(spark, tmp_path):
    """compact after a MOR delete physically removes the rows and clears
    the pending entries; the result is unchanged for readers."""
    from dp1_data_wrangling_spark.plans.catalog import Catalog

    cat = Catalog(tmp_path / "cat")
    txn = cat.begin()
    txn.stage(
        "t",
        spark.createDataFrame([(i, i * 10) for i in range(10)], "id long, v long"),
        mode="overwrite",
    )
    cat.commit(txn)
    cat.delete_merge_on_read("t", "v >= 50")
    before = {r.id for r in cat.read(spark, "t").collect()}
    cat.compact(spark=spark, table="t")
    assert cat.pending_deletes("t") == []
    assert {r.id for r in cat.read(spark, "t").collect()} == before == set(range(5))
    # physically gone: the raw root holds only surviving rows
    raw = spark.read.parquet(
        *[str(cat.root / rel) for rel in cat.manifest()["tables"]["t"]]
    )
    assert raw.count() == 5


def test_mor_merge_update_respect_pending_deletes(spark, tmp_path):
    """A rewrite (merge/update) reads the delete-applied state — deleted
    rows never resurrect — and the rewrite clears the entries."""
    from dp1_data_wrangling_spark.plans.catalog import Catalog

    cat = Catalog(tmp_path / "cat")
    txn = cat.begin()
    txn.stage(
        "t",
        spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "id long, v long"),
        mode="overwrite",
    )
    cat.commit(txn)
    cat.delete_merge_on_read("t", "id = 2")
    cat.merge(
        spark, "t",
        spark.createDataFrame([(3, 99), (4, 40)], "id long, v long"),
        ["id"],
    )
    assert cat.pending_deletes("t") == []
    got = {(r.id, r.v) for r in cat.read(spark, "t").collect()}
    assert got == {(1, 10), (3, 99), (4, 40)}  # id=2 stays dead
    cat.delete_merge_on_read("t", "id = 4")
    cat.update(spark, "t", "id = 1", {"v": "v + 1"})
    assert cat.pending_deletes("t") == []
    got = {(r.id, r.v) for r in cat.read(spark, "t").collect()}
    assert got == {(1, 11), (3, 99)}


def test_mor_diff_sees_delete_only_changes(spark, tmp_path):
    """diff between versions that differ ONLY by a MOR delete reports the
    deleted rows as 'delete' even though no root changed."""
    from dp1_data_wrangling_spark.plans.catalog import Catalog

    cat = Catalog(tmp_path / "cat")
    txn = cat.begin()
    txn.stage(
        "t",
        spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"),
        mode="overwrite",
    )
    v0 = cat.commit(txn)
    v1 = cat.delete_merge_on_read("t", "id = 2")
    rows = cat.diff(spark, "t", v0, v1).collect()
    assert [(r.id, r.v, r._change) for r in rows] == [(2, 20, "delete")]


def test_mor_concurrent_delete_aborts_stale_compact(spark, tmp_path):
    """require_deletes: a compact whose snapshot predates a new MOR
    delete must abort (CommitConflict) instead of clearing the unseen
    delete — simulated by injecting the delete between the compact's
    read and its commit via a monkeypatched begin()."""
    import pytest as _pytest

    from dp1_data_wrangling_spark.plans.catalog import Catalog, CommitConflict

    cat = Catalog(tmp_path / "cat")
    txn = cat.begin()
    txn.stage(
        "t",
        spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"),
        mode="overwrite",
    )
    cat.commit(txn)
    real_begin = cat.begin
    raced = {"done": False}

    def racing_begin():
        if not raced["done"]:
            raced["done"] = True
            Catalog(cat.root).delete_merge_on_read("t", "id = 1")
        return real_begin()

    cat.begin = racing_begin
    # retries re-read the new state, so the compact SUCCEEDS on retry —
    # and must preserve the racing delete's effect
    cat.compact(spark=spark, table="t")
    assert {r.id for r in cat.read(spark, "t").collect()} == {2}
    assert cat.pending_deletes("t") == []
    # with retries exhausted the conflict surfaces
    raced["done"] = False
    cat2 = Catalog(cat.root)
    real2 = cat2.begin

    def always_racing():
        Catalog(cat2.root).delete_merge_on_read(
            "t", f"id = {always_racing.n}"
        )
        always_racing.n -= 1
        return real2()

    always_racing.n = -1
    cat2.begin = always_racing
    with _pytest.raises(CommitConflict):
        cat2.compact(spark=spark, table="t", max_retries=2)


def test_mor_restore_and_clone_carry_delete_state(spark, tmp_path):
    """restore() re-establishes the target version's pending deletes in
    BOTH directions (a restore across a MOR delete neither resurrects
    nor over-deletes), and clone() copies the source's pending entries
    (Delta shallow clones carry deletion vectors the same way)."""
    from dp1_data_wrangling_spark.plans.catalog import Catalog

    cat = Catalog(tmp_path / "cat")
    txn = cat.begin()
    txn.stage(
        "t",
        spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"),
        mode="overwrite",
    )
    v1 = cat.commit(txn)
    v2 = cat.delete_merge_on_read("t", "id = 2")
    # clone AFTER the delete: the clone must see the deleted state
    cat.clone("t", "t2")
    assert {r.id for r in cat.read(spark, "t2").collect()} == {1}
    assert len(cat.pending_deletes("t2")) == 1
    # restore to v1 (pre-delete): full state back, entry cleared
    cat.restore("t", v1)
    assert {r.id for r in cat.read(spark, "t").collect()} == {1, 2}
    assert cat.pending_deletes("t") == []
    # restore forward to v2: the delete's effect returns with its entry
    cat.restore("t", v2)
    assert {r.id for r in cat.read(spark, "t").collect()} == {1}
    assert len(cat.pending_deletes("t")) == 1


def test_mor_read_survives_schema_evolved_predicate(spark, tmp_path):
    """A MOR delete predicate referencing a schema-evolved column must
    read pre-evolution roots as typed NULLs (NULL predicate keeps the
    row — copy-on-write semantics), not blow up unresolved."""
    from dp1_data_wrangling_spark.plans.catalog import Catalog

    cat = Catalog(tmp_path / "cat")
    txn = cat.begin()
    txn.stage(
        "t", spark.createDataFrame([(1, 10)], "id long, v long"),
        mode="overwrite",
    )
    cat.commit(txn)
    txn = cat.begin()
    txn.stage(
        "t",
        spark.createDataFrame([(2, 20, True)], "id long, v long, flag boolean"),
        mode="append",
        evolve_schema=True,
    )
    cat.commit(txn)
    cat.delete_merge_on_read("t", "flag = true")
    got = {(r.id, r.flag) for r in cat.read(spark, "t").collect()}
    assert got == {(1, None)}  # row 2 deleted; row 1 kept via NULL pred


def test_null_count_zone_skipping(spark, tmp_path):
    """NULL-count zone maps (r13): ``IS NULL`` prunes roots with zero
    NULLs, ``IS NOT NULL`` prunes all-NULL roots (which now RECORD
    stats instead of being skipped), legacy 2-element entries never
    prune on NULL evidence, and negated forms never prune — results
    always identical to the full-scan filter."""
    from dp1_data_wrangling_spark.plans import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    cat.set_zone_map("t", ["v"])
    # root 1: no NULLs; root 2: half NULL; root 3: ALL NULL
    frames = [
        spark.range(0, 100).select(F.col("id").alias("ts"), F.col("id").alias("v")),
        spark.range(100, 200).select(
            F.col("id").alias("ts"),
            F.when(F.col("id") % 2 == 0, F.col("id")).alias("v"),
        ),
        spark.range(200, 300).select(
            F.col("id").alias("ts"), F.lit(None).cast("long").alias("v")
        ),
    ]
    for f in frames:
        tx = cat.begin()
        tx.stage("t", f)
        cat.commit(tx)
    rels = cat.manifest()["tables"]["t"]
    zones = cat.manifest()["zones"]["t"]
    assert zones[rels[0]]["v"] == [0, 99, 0, 100]
    assert zones[rels[1]]["v"] == [100, 198, 50, 100]
    # the all-NULL root records count-only stats (range None)
    assert zones[rels[2]]["v"] == [None, None, 100, 100]

    # IS NULL drops the no-NULL root; IS NOT NULL drops the all-NULL one
    assert len(cat.prune_roots("t", "v IS NULL")) == 2
    assert len(cat.prune_roots("t", "v IS NOT NULL")) == 2
    assert cat.prune_roots("t", "v is not null") == rels[:2]
    assert cat.read(spark, "t", where="v IS NULL").count() == 150
    assert cat.read(spark, "t", where="v IS NOT NULL").count() == 150
    # composes with range comparisons: IS NOT NULL + range hits one root
    assert len(cat.prune_roots("t", "v IS NOT NULL AND v >= 100")) == 1
    got = cat.read(spark, "t", where="v IS NOT NULL AND v >= 100")
    assert got.count() == 50
    # negation never prunes (sound: filter-only)
    assert len(cat.prune_roots("t", "NOT (v IS NULL)")) == 3
    assert cat.read(spark, "t", where="NOT (v IS NULL)").count() == 150
    # a quoted literal containing ' is null ' is an equality on an
    # unstatted column, not a v IS NULL that would drop the no-NULL root
    assert len(cat.prune_roots("t", "tag = 'v is null'")) == 3

    # legacy 2-element manifest entries: readable, never NULL-prune
    import json as _json

    mp = tmp_path / "cat" / "MANIFEST.json"
    m = _json.loads(mp.read_text())
    m["zones"]["t"][rels[0]]["v"] = [0, 99]  # simulate a pre-r13 root
    mp.write_text(_json.dumps(m))
    assert len(cat.prune_roots("t", "v IS NULL")) == 3  # no evidence
    assert len(cat.prune_roots("t", "v >= 50")) == 2  # range still prunes


def test_backfill_upgrades_legacy_zone_entries(spark, tmp_path):
    """``backfill_stats`` upgrades pre-r13 [min,max] entries to the
    NULL-count format in place, after which IS NULL pruning engages;
    repeat calls converge to 0 (idempotent)."""
    import json as _json

    from dp1_data_wrangling_spark.plans import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    cat.set_zone_map("t", ["v"])
    tx = cat.begin()
    tx.stage("t", spark.range(50).select(F.col("id").alias("v")))
    cat.commit(tx)
    rel = cat.manifest()["tables"]["t"][0]
    mp = tmp_path / "cat" / "MANIFEST.json"
    m = _json.loads(mp.read_text())
    m["zones"]["t"][rel]["v"] = [0, 49]  # simulate a pre-r13 manifest
    mp.write_text(_json.dumps(m))
    assert len(cat.prune_roots("t", "v IS NULL")) == 1  # no evidence yet
    assert cat.backfill_stats(spark, "t") == 1
    assert cat.manifest()["zones"]["t"][rel]["v"] == [0, 49, 0, 50]
    assert len(cat.prune_roots("t", "v IS NULL")) == 0
    assert cat.backfill_stats(spark, "t") == 0  # converged
