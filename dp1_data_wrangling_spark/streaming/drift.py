"""Streaming distribution-drift monitor: the binned-KS ingest twin.

``stream_ks_drift`` folds each micro-batch of fresh values into a
catalog-backed drift table against a STATIC reference snapshot, with
exactly-once semantics (per-stream batch-id watermark riding the same
atomic commit — the idempotent-foreachBatch pattern shared with
``stream_sketches``).

Why this is the right streaming shape: the current sample's bin census
is ASSOCIATIVE (per-bin counts add), so the stream maintains one
``<table>_census`` table by per-bin addition and re-derives the full
constant-size drift frame (cumulative CDFs, per-bin KS distance, the
max) per batch via the SAME ``ks_from_censuses`` core the batch
operator uses.  After any prefix of the stream, ``<table>`` equals
``binned_ks_drift(ref, all delivered rows)`` bit-exactly regardless of
micro-batch cuts (the equivalence test drives this).  State is
``n_bins`` rows forever — a drift monitor over years of ingest is a
20-row table.

The reference stats and census are computed ONCE at stream start
(driver-side plan, executed per merge but over the static ref — cheap
because a drift reference is dimension-sized/sampled by the batch
operator's stated contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.stats import ks_census, ks_from_censuses, ks_reference
from ..plans.catalog import Catalog, CommitConflict
from .sinks import batch_meta_key

MERGE_RETRIES = 5


def stream_ks_drift(
    stream_df: DataFrame,
    ref: DataFrame,
    catalog_root: str,
    *,
    checkpoint_dir: str,
    value_col: str,
    n_bins: int = 20,
    quant_scale: int = 1000,
    table: str = "ks_drift",
    trigger_available_now: bool = True,
    stream_name: str | None = None,
) -> StreamingQuery:
    """Start the drift-monitor stream into ``catalog_root``/``table``
    (the incremental current-sample census persists in
    ``<table>_census``)."""
    meta_key = batch_meta_key(f"ksdrift:{table}", checkpoint_dir, stream_name)
    census_table = f"{table}_census"
    # the binning contract (quantize, width, clamp) is the SAME code
    # path the batch operator uses — ks_reference/ks_census — so the
    # twins cannot desynchronize (review fix); knobs validate inside
    stats, rb = ks_reference(
        ref, value_col=value_col, n_bins=n_bins, quant_scale=quant_scale
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        cat = Catalog(catalog_root)
        last = cat.meta().get(meta_key)
        if last is not None and batch_id <= last:
            return  # replayed batch after recovery -> already committed
        spark = batch_df.sparkSession
        b_census = ks_census(
            batch_df, stats, value_col=value_col, out_name="n_cur"
        )
        last_exc: CommitConflict | None = None
        for _ in range(MERGE_RETRIES):
            snapshot = cat.manifest()
            census_roots = list(snapshot["tables"].get(census_table, []))
            merged = (
                cat.read_snapshot(spark, snapshot, census_table)
                .unionByName(b_census)
                .groupBy("bin")
                .agg(F.sum("n_cur").cast("bigint").alias("n_cur"))
                if census_roots
                else b_census
            )
            drift = ks_from_censuses(spark, stats, rb, merged, n_bins=n_bins)
            txn = cat.begin()
            txn.stage(census_table, merged, mode="overwrite")
            txn.stage(table, drift, mode="overwrite")
            try:
                # watermark + census + drift frame: one atomic commit —
                # exactly-once hinges on their inseparability
                cat.commit(
                    txn,
                    meta={meta_key: batch_id},
                    require_roots={census_table: census_roots},
                )
                return
            except CommitConflict as exc:
                last_exc = exc
                continue
        raise CommitConflict(
            f"stream_ks_drift({table!r}): concurrent commits kept winning "
            f"after {MERGE_RETRIES} attempts"
        ) from last_exc

    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_psi(
    spark,
    ref: DataFrame,
    catalog_root: str,
    *,
    value_col: str,
    n_bins: int = 20,
    quant_scale: int = 1000,
    table: str = "ks_drift",
) -> DataFrame:
    """Fold the KS monitor's maintained current-sample census through
    the Population Stability Index (operators/stats.py
    psi_from_censuses) — the one-census-both-metrics payoff: the
    stream already pays for the per-bin census, so the credit-scoring
    drift standard reads it with NO new state and no second pass over
    deliveries.  ``ref`` and the knobs must be the stream's own
    (ks_reference re-derives the identical stamped binning from the
    same reference — the single code path that cannot desync — and
    the fold fail-fasts if n_bins disagrees with the stamp).  A late
    value revises one bin, which moves the current total and
    therefore EVERY bin's share and term — re-derived over n_bins
    rows at read, bit-identical to ``binned_psi(ref, all delivered
    values)``."""
    from ..operators.stats import psi_from_censuses

    stats, rb = ks_reference(
        ref, value_col=value_col, n_bins=n_bins, quant_scale=quant_scale
    )
    cb = Catalog(catalog_root).read(spark, f"{table}_census")
    return psi_from_censuses(spark, stats, rb, cb, n_bins=n_bins)
