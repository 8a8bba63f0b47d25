"""The workloads.  Each is a pair of functions:

- ``prepare(work, sf_root, seed)`` is the benchmark's own work, run before
  the Spark session starts and not timed: it writes the seeded inputs and
  computes the expected answers;
- ``run(ctx, prepared)`` is one closed-loop client on one session: the
  program's set-up (timed, with ``get_spark``, as ``setup_s``), then a fixed
  pass of operations, made once or repeated while another pass fits in the
  run's seconds, checking every operation's output.

- ``migrate``: an operation is one whole migration (export, import,
  re-import, file tree); a run makes one pass of one migration, in a fresh
  JVM, as the paper's command-line tools do.
- ``catalog_read``: an operation is one ``Catalog.read(where=...)`` plus the
  aggregate that checks its answer; a pass is one cycle of the read mix,
  repeated while another fits in the run's seconds.
- ``headline``: an operation is one headline query, its whole result
  collected to Arrow and checked against the DuckDB oracle's stored
  fingerprint; a pass runs one headliner of each query module, sorted by
  name.  A run makes one pass (about 2.5x a warm pass), in a fresh JVM, as
  a one-off caller of the query registry runs each headliner once.

A workload returns a ``Result``: per-operation latencies, per-pass walls,
the set-up time, failures, and a few workload-specific figures.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F

from dp1_data_wrangling_spark.plans import catalog as catalog_mod
from dp1_data_wrangling_spark.plans import export as export_mod
from dp1_data_wrangling_spark.plans import file_tree as file_tree_mod
from dp1_data_wrangling_spark.plans import importer as importer_mod
from dp1_data_wrangling_spark.schema import fixture_universe

import inputs

# Sizes: at sf0.1 one migrate pass takes about a minute on 4 vCPUs and a
# headliner pass several, too long for one run, so those two use sf0.01.
MIGRATE_SF = "sf0.01"
CATALOG_SF = "sf0.1"
HEADLINE_SF = "sf0.01"


@dataclass
class Result:
    setup_s: float
    op_ms: list[float] = field(default_factory=list)
    pass_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    timed_spans: list[int] = field(default_factory=list)  # tracer indices
    detail: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what[:500])


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: Path
    seconds: float
    session_s: float  # get_spark wall, part of set-up


def table_fingerprints(spark, cat, tables, path_mapper=None) -> dict:
    """Order-insensitive (rows, hash sum) per table, in one Spark action."""
    parts = []
    for t in tables:
        df = cat.read(spark, t)
        if path_mapper is not None and t == "datastore_records":
            df = df.withColumn("path", path_mapper(F.col("path")))
        h = F.hash(*[F.col(c).cast("string") for c in sorted(df.columns)])
        parts.append(df.agg(F.lit(t).alias("t"), F.count(F.lit(1)).alias("n"),
                            F.sum(h.cast("long")).alias("s")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return {r["t"]: (r["n"], r["s"]) for r in out.collect()}


# --- migrate --------------------------------------------------------------------

@dataclass
class MigrateInputs:
    path: Path
    rows: int  # dataset rows, both dataset types
    bytes: int  # parquet bytes of all input tables


def prepare_migrate(work: Path, sf_root: Path, seed: int) -> MigrateInputs:
    inp = work / "inputs"
    inputs.write_migrate_inputs(str(sf_root / MIGRATE_SF), inp, seed)
    return MigrateInputs(inp, 2 * inputs.parquet_rows(inp / "datasets"), inputs.dir_bytes(inp))


def migrate(ctx: Ctx, inp: MigrateInputs) -> Result:
    spark, tr = ctx.spark, ctx.tracer
    input_rows, input_bytes = inp.rows, inp.bytes
    t0 = time.perf_counter()
    with tr.span("bench.setup"):
        tables = inputs.read_migrate_inputs(spark, inp.path)
    res = Result(setup_s=ctx.session_s + time.perf_counter() - t0)
    universe = fixture_universe()
    store = str(ctx.work / "datastore")
    commands = ("export", "import", "reimport", "file_tree")
    per_cmd: dict[str, list[float]] = {c: [] for c in commands}
    ratios, check_s = [], []

    def one_pass(p: int) -> None:
        exp, tgt, tree = (str(ctx.work / f"{k}_{p}") for k in ("export", "target", "tree"))
        walls = {}
        with tr.span("bench.pass") as sp_pass:
            with tr.span("bench.migrate.export") as sp:
                export_mod.run_export(
                    spark, exp, universe,
                    datasets={"orders_raw": tables["datasets"], "orders_calib": tables["datasets"]},
                    dimension_records={"nation": tables["dim_nation"],
                                       "customer": tables["dim_customer"]},
                    associations=tables["associations"],
                    datastore_records=tables["datastore_records"],
                    collections=tables["collections"],
                    collection_chains=tables["collection_chains"],
                    root_collection="chain_root",
                    datastore_priority=["ds_primary", "ds_secondary"],
                )
            walls["export"] = sp
            with tr.span("bench.migrate.import") as sp:
                importer_mod.run_import(spark, exp, tgt, path_mapper="rsp")
            walls["import"] = sp
            with tr.span("bench.migrate.reimport") as sp:
                importer_mod.run_import(spark, exp, tgt, path_mapper="rsp")
            walls["reimport"] = sp
            with tr.span("bench.migrate.file_tree") as sp:
                records = catalog_mod.Catalog(exp).read(spark, "datastore_records")
                links = file_tree_mod.generate_file_tree(records, tree, store)
            walls["file_tree"] = sp
        res.timed_spans.append(sp_pass.idx)
        with tr.span("bench.check") as check:
            error = check_migrate(spark, exp, tgt, tree, store, links)
            if error:
                res.fail(error)
            ratios.append(
                (inputs.dir_bytes(Path(exp)) + inputs.dir_bytes(Path(tgt))) / input_bytes
            )
            shutil.rmtree(tree)
        check_s.append(check.wall_s)
        for c in commands:
            per_cmd[c].append(walls[c].wall_s)
        res.op_ms.append(sp_pass.wall_s * 1e3)
        res.pass_s.append(sp_pass.wall_s)

    run_passes(ctx, res, one_pass, ops_per_pass=1, once=True)
    res.detail = {
        **{f"{c}_s": per_cmd[c] for c in commands},
        "migrate_rows_per_s": [input_rows / s for s in res.pass_s],
        "catalog_bytes_per_input_byte": ratios,
        "check_s": check_s,
        "input_rows": input_rows,
        "input_bytes": input_bytes,
    }
    return res


def check_migrate(spark, exp: str, tgt: str, tree: str, store: str, links: int) -> str | None:
    """The first thing wrong with one migration, or None.  The target must
    fingerprint like the RSP-mapped export after the import and the
    re-import (a re-import that wrote anything would change it); the tree
    must hold one link per distinct mapped path, each pointing at its
    source."""
    src, dst = catalog_mod.Catalog(exp), catalog_mod.Catalog(tgt)
    want = table_fingerprints(spark, src, src.tables(), importer_mod.rsp_mapper)
    got = table_fingerprints(spark, dst, dst.tables())
    if want != got:
        return f"migrate: target fingerprints {got} != export {want}"
    pairs = {
        r["link"]: r["source"]
        for r in file_tree_mod.mapped_paths(src.read(spark, "datastore_records"), store)
        .collect()
    }
    found = 0
    for dirpath, dirnames, filenames in os.walk(tree):
        for name in filenames + dirnames:
            full = os.path.join(dirpath, name)
            if os.path.islink(full):
                found += 1
                rel = os.path.relpath(full, tree)
                if pairs.get(rel) != os.readlink(full):
                    return f"file_tree: {rel} -> {os.readlink(full)}, want {pairs.get(rel)}"
    if not found == links == len(pairs):
        return f"file_tree: {found} links, returned {links}, want {len(pairs)}"
    return None


# --- catalog_read ---------------------------------------------------------------

def prepare_catalog_read(work: Path, sf_root: Path, seed: int):
    """The commit batches' parquet files and one cycle of the read mix."""
    batches = inputs.event_batches(str(sf_root / CATALOG_SF))
    return inputs.write_event_batches(batches, work / "inputs"), inputs.read_mix(batches, seed)


def catalog_read(ctx: Ctx, prepared) -> Result:
    spark, tr = ctx.spark, ctx.tracer
    paths, reads = prepared
    t0 = time.perf_counter()
    with tr.span("bench.setup"):
        cat = catalog_mod.Catalog(ctx.work / "catalog")
        versions = []
        for p in paths:
            txn = cat.begin()
            txn.stage("events", spark.read.parquet(str(p)))
            versions.append(cat.commit(txn))
            if len(versions) == 1:  # declare skipping stats once the table exists
                cat.set_zone_map("events", ["ts", "event_id"])
                cat.set_bloom_filter("events", ["user_id"])
                cat.backfill_stats(spark, "events")
    res = Result(setup_s=ctx.session_s + time.perf_counter() - t0)

    def read_all(batch: list, timed: bool) -> None:
        for r in batch:
            version = None if r.version_commit is None else versions[r.version_commit]
            with tr.span("bench.read", kind=r.kind) as sp:
                df = cat.read(spark, "events", version=version, where=r.where)
                with tr.span("plans.catalog.read.action") as action:
                    got = inputs.spark_fingerprint(df)
                action.attrs["rows"] = got[0]
            res.attempted += 1
            if not inputs.fingerprints_match(got, r.expected):
                res.fail(f"catalog_read {r.kind} {r.where!r} v={version}: "
                         f"{got} != {r.expected}")
            if timed:
                res.op_ms.append(sp.wall_s * 1e3)

    # Untimed warm-up, one read of each type: the first reads after set-up
    # still compile the read and aggregate paths, and would make the cycle
    # time bimodal.
    with tr.span("bench.warmup") as warmup:
        read_all(list({r.kind: r for r in reads}.values()), timed=False)

    def one_pass(p: int) -> None:
        with tr.span("bench.pass") as sp_pass:
            read_all(reads, timed=True)
        res.timed_spans.append(sp_pass.idx)
        res.pass_s.append(sp_pass.wall_s)

    run_passes(ctx, res, one_pass, ops_per_pass=0)
    res.detail = {"reads": [r.kind for r in reads], "versions": versions,
                  "warmup_s": warmup.wall_s}
    return res


# --- headline -------------------------------------------------------------------

# One headliner per query module that holds headliners: each module's
# cheapest headliner at sf0.01 (a warm pass of all 49 takes 55-75 s on
# 4 vCPUs, longer than a run).  Run sorted by name, never in registry order.
HEADLINE_QUERIES = (
    "doc_bm25_topk",  # queries_retrieval
    "doc_bpe_tokens",  # queries_llm
    "doc_exact_dedup",  # queries_dedup
    "doc_global_shuffle",  # queries_curation
    "doc_link_triangles",  # queries_graph
    "event_conversion_paths",  # queries_extended
    "events_diff_in_diff",  # queries_experiments
    "find_first",  # queries_core
    "multi_join_revenue",  # queries_analytics
    "multimodal_png",  # queries_multimodal
    "session_window",  # queries_streaming
    "user_scd2_history",  # queries_events
)


def prepare_headline(work: Path, sf_root: Path, seed: int):
    """A copy of the fixture tables (the seed does not change them) and the
    DuckDB oracle's stored answer fingerprints."""
    import oracle  # noqa: PLC0415

    sf_dir = work / "inputs"
    inputs.copy_fixture_tables(str(sf_root / HEADLINE_SF), sf_dir)
    return sf_dir, oracle.load_fingerprints()


def headline(ctx: Ctx, prepared) -> Result:
    import oracle  # noqa: PLC0415 - pulls in the query registry

    spark, tr = ctx.spark, ctx.tracer
    sf_dir, want = prepared
    t0 = time.perf_counter()
    with tr.span("bench.setup"):
        specs = oracle.headline_specs(HEADLINE_QUERIES)
    res = Result(setup_s=ctx.session_s + time.perf_counter() - t0)

    def one_pass(p: int) -> None:
        answers = {}
        with tr.span("bench.pass") as sp_pass:
            for name, spec in specs.items():
                with tr.span(spec.fn.__module__.rsplit(".", 1)[-1], query=name) as sp:
                    answers[name] = spec.fn(spark, str(sf_dir)).toArrow()
                res.op_ms.append(sp.wall_s * 1e3)
        res.timed_spans.append(sp_pass.idx)
        res.pass_s.append(sp_pass.wall_s)
        with tr.span("bench.check"):
            for name, table in answers.items():
                got = oracle.fingerprint(table)
                if got != want[name]:
                    res.fail(f"headline {name}: fingerprint {got} != oracle {want[name]}")

    run_passes(ctx, res, one_pass, ops_per_pass=len(specs), once=True)
    res.detail = {"queries": list(specs)}
    return res


# --- shared loop ----------------------------------------------------------------

def run_passes(ctx: Ctx, res: Result, one_pass, *, ops_per_pass: int,
               once: bool = False) -> None:
    """Whole passes while another one fits in ``ctx.seconds`` (judged by the
    mean pass so far), at least one; exactly one if ``once``.  A pass that
    raises counts its operations as attempted and failed and ends the timed
    loop."""
    t0 = time.perf_counter()
    p = 0
    while p == 0 or not once and (time.perf_counter() - t0) * (p + 1) / p <= ctx.seconds:
        res.attempted += ops_per_pass
        try:
            one_pass(p)
        except Exception:  # noqa: BLE001 - record, then stop timing this run
            res.failed += max(1, ops_per_pass)
            res.errors.append(traceback.format_exc()[-2000:])
            return
        p += 1


WORKLOADS = {
    "migrate": (prepare_migrate, migrate),
    "catalog_read": (prepare_catalog_read, catalog_read),
    "headline": (prepare_headline, headline),
}
