"""Streaming sketch maintenance: the KMV/count-min ingest twin.

``stream_sketches`` folds each micro-batch into catalog-backed sketch
tables — a KMV bottom-k cardinality sketch and a count-min frequency
matrix — with exactly-once semantics (the per-stream batch-id watermark
rides the same atomic commit as both tables, the idempotent-foreachBatch
pattern shared with ``stream_rollup`` / ``stream_scd2``).

Why this is the RIGHT streaming shape for sketches: both sketches are
closed under merge (KMV: k-smallest-of-union IS the sketch of the union;
CM: cellwise addition IS the sketch of the concatenation — both laws
property-tested in tests/test_operators.py), so per batch the stream
computes the batch's sketch and merges it into the published state.  The
materialized tables therefore equal the one-shot batch sketches over
every row delivered so far — bit-exactly, regardless of how the stream
was cut into micro-batches (the equivalence test drives this).  State is
bounded by construction: k rows + depth·width cells per group, never the
stream size — a sketch table over a year of 100 TB/day ingest is still
kilobytes per group.

Scale per batch: the batch sketch build (one combinable groupBy each) +
a sketch-sized recombine + one overwrite commit; like ``stream_rollup``
there is no root-list growth to compact (each commit publishes one root
per table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.sketch import (
    cm_merge,
    cm_sketch,
    hdr_merge,
    hdr_sketch,
    hll_merge,
    hll_sketch,
    kmv_merge,
    kmv_sketch,
    sample_merge,
    sample_sketch,
)
from ..plans.catalog import Catalog, CommitConflict
from .sinks import batch_meta_key

MERGE_RETRIES = 5


def stream_sketches(
    stream_df: DataFrame,
    catalog_root: str,
    *,
    checkpoint_dir: str,
    value_col: str,
    group_cols: list[str] | None = None,
    kmv_table: str = "kmv_sketch",
    cm_table: str = "cm_sketch",
    sample_table: str = "sample_sketch",
    sample_id_col: str | None = None,
    sample_keep_cols: list[str] | None = None,
    hdr_col: str | None = None,
    hdr_table: str = "hdr_sketch",
    hdr_precision_bits: int = 4,
    hll_p: int | None = None,
    hll_table: str = "hll_sketch",
    k: int = 64,
    depth: int = 4,
    width: int = 256,
    trigger_available_now: bool = True,
    stream_name: str | None = None,
) -> StreamingQuery:
    """Start the sketch-maintenance stream into ``catalog_root``.

    After the stream drains, ``kmv_table`` / ``cm_table`` hold exactly
    ``kmv_sketch`` / ``cm_sketch`` of every delivered row (the merge
    laws make micro-batch cuts invisible).

    Pass ``sample_id_col`` (a unique row id) to ALSO maintain the
    bottom-k uniform sample sketch in ``sample_table`` under the same
    atomic commit — rolling quantile estimates over an unbounded stream
    with k rows of state per group.  Its merge keys on row IDENTITY, so
    an at-least-once upstream redelivering a row dedups by id instead
    of double-sampling — the sample twin is robust even to duplicate
    deliveries WITHIN a batch, which the batch-id watermark cannot
    see.

    Pass ``hdr_col`` (a non-negative integer column — quantize upstream)
    to ALSO maintain the HDR log-linear histogram in ``hdr_table``:
    bounded-relative-error quantiles over the unbounded stream with
    ~64·2^p cells per group, merged by the cellwise-additive law under
    the same commit.

    Pass ``hll_p`` to ALSO maintain the HyperLogLog register table in
    ``hll_table`` over the same ``value_col``: at most 2^p cells per
    group FOREVER, merged by cellwise max — which is IDEMPOTENT, so
    even duplicate deliveries WITHIN a batch (invisible to the batch-id
    watermark) cannot skew it, the strongest at-least-once posture in
    the sketch family."""
    groups = list(group_cols or [])
    meta_key = batch_meta_key(
        f"sketches:{kmv_table}:{cm_table}", checkpoint_dir, stream_name
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        cat = Catalog(catalog_root)
        last = cat.meta().get(meta_key)
        if last is not None and batch_id <= last:
            return  # replayed batch after recovery -> already committed
        spark = batch_df.sparkSession
        b_kmv = kmv_sketch(
            batch_df, value_col=value_col, group_cols=groups, k=k
        )
        b_cm = cm_sketch(
            batch_df, value_col=value_col, group_cols=groups,
            depth=depth, width=width,
        )
        b_sample = (
            sample_sketch(
                batch_df, id_col=sample_id_col, group_cols=groups, k=k,
                keep_cols=sample_keep_cols,
            )
            if sample_id_col
            else None
        )
        b_hdr = (
            hdr_sketch(
                batch_df, value_col=hdr_col, group_cols=groups,
                precision_bits=hdr_precision_bits,
            )
            if hdr_col
            else None
        )
        b_hll = (
            hll_sketch(
                batch_df, value_col=value_col, group_cols=groups, p=hll_p
            )
            if hll_p is not None
            else None
        )
        last_exc: CommitConflict | None = None
        for _ in range(MERGE_RETRIES):
            snapshot = cat.manifest()
            kmv_roots = list(snapshot["tables"].get(kmv_table, []))
            cm_roots = list(snapshot["tables"].get(cm_table, []))
            new_kmv = (
                kmv_merge(
                    [cat.read_snapshot(spark, snapshot, kmv_table), b_kmv],
                    group_cols=groups, k=k,
                )
                if kmv_roots
                else b_kmv
            )
            new_cm = (
                cm_merge(
                    [cat.read_snapshot(spark, snapshot, cm_table), b_cm],
                    group_cols=groups,
                )
                if cm_roots
                else b_cm
            )
            sample_roots: list[str] = []
            if b_sample is not None:
                sample_roots = list(
                    snapshot["tables"].get(sample_table, [])
                )
                new_sample = (
                    sample_merge(
                        [cat.read_snapshot(spark, snapshot, sample_table), b_sample],
                        id_col=sample_id_col, group_cols=groups, k=k,
                    )
                    if sample_roots
                    else b_sample
                )
            hdr_roots: list[str] = []
            if b_hdr is not None:
                hdr_roots = list(snapshot["tables"].get(hdr_table, []))
                new_hdr = (
                    hdr_merge(
                        [cat.read_snapshot(spark, snapshot, hdr_table), b_hdr],
                        group_cols=groups,
                    )
                    if hdr_roots
                    else b_hdr
                )
            hll_roots: list[str] = []
            if b_hll is not None:
                hll_roots = list(snapshot["tables"].get(hll_table, []))
                new_hll = (
                    hll_merge(
                        [cat.read_snapshot(spark, snapshot, hll_table), b_hll],
                        group_cols=groups,
                    )
                    if hll_roots
                    else b_hll
                )
            txn = cat.begin()
            txn.stage(kmv_table, new_kmv, mode="overwrite")
            txn.stage(cm_table, new_cm, mode="overwrite")
            if b_sample is not None:
                txn.stage(sample_table, new_sample, mode="overwrite")
            if b_hdr is not None:
                txn.stage(hdr_table, new_hdr, mode="overwrite")
            if b_hll is not None:
                txn.stage(hll_table, new_hll, mode="overwrite")
            try:
                # watermark + both sketch tables: one atomic commit —
                # exactly-once hinges on their inseparability; the
                # require_roots pin aborts if a concurrent writer moved
                # the state we merged from (never a lost update)
                cat.commit(
                    txn,
                    meta={meta_key: batch_id},
                    require_roots={
                        kmv_table: kmv_roots,
                        cm_table: cm_roots,
                        **(
                            {sample_table: sample_roots}
                            if b_sample is not None
                            else {}
                        ),
                        **(
                            {hdr_table: hdr_roots}
                            if b_hdr is not None
                            else {}
                        ),
                        **(
                            {hll_table: hll_roots}
                            if b_hll is not None
                            else {}
                        ),
                    },
                )
                return
            except CommitConflict as exc:
                last_exc = exc
                continue
        raise CommitConflict(
            f"stream_sketches({kmv_table!r}): concurrent commits kept "
            f"winning after {MERGE_RETRIES} attempts"
        ) from last_exc

    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
