"""Generic exactly-once keyed-rebuild streaming twin — ONE core for
every batch operator whose output is a pure function of each key's
complete event set.  ``stream_scd2`` and ``stream_funnel`` are thin
wrappers over it (r11 review: three hand-rolled copies of the same
bronze/silver machinery needed every fix applied three times), and
``stream_attribution`` instantiates it for linear multi-touch credit —
with it every verified event-analytics operator family has a twin.

Design (the bronze/silver split ``stream_scd2`` proved):

- bronze ``<table>_obs``: the raw per-key event log, append-only,
  hive-partitioned on a key-hash bucket;
- silver ``<table>``: the operator output, derived — only keys present
  in the batch are REBUILT, from their FULL raw event set (log ∪
  batch), with the SAME batch operator.

Both writes + the batch-id watermark ride ONE atomic commit:
exactly-once, crash-replayed batches skipped, no torn log/silver pair.
Equivalence holds for ANY micro-batch cut in any order because a
touched key is always re-derived from its complete event set.

Bucket-count discipline (r11 review fixes, both raced and legacy):

- the bucket count is PINNED in catalog meta by the commit that
  CREATES the bronze table; every later batch resolves the pin INSIDE
  the OCC retry loop (a losing racer re-reads meta after the conflict,
  re-buckets under the winner's pin, and can never overwrite it with a
  stale modulus) — and the watermark is re-checked there too, so a
  duplicate writer that lost a race cannot double-append the log;
- a bronze table that EXISTS without a pin (written before the pin
  machinery) has an unknown modulus: the bucket screen is DISABLED
  outright (nb = None — new rows carry a NULL bucket, the semi-join
  alone scopes the rebuild, correctness never at risk) and no pin is
  ever written.  Re-enable pruning by compacting the log into a fresh
  pinned table.  The screen is a superset SCAN OPTIMIZATION only.

Per-key purity is the caller's contract: ``rebuild(events)`` must
depend only on the event rows it is given, key by key (funnel chains,
SCD2 histories, attribution splits qualify; anything with CROSS-key
state — a global rank, a corpus census — does not).

Per-batch cost, stated honestly: one filtered append + one
bucket-pruned semi-join of the log against the touched keys + the
rebuild over those keys' events only + the silver replace.  The
replace is an anti-join + union staged as ONE overwrite — it reads and
rewrites the CURRENT silver table per batch (the COMPUTE tracks the
delta; the silver WRITE tracks the silver size).  That is the right
trade while silver ≪ log (the common case — funnel rows per user vs
events per user); when silver itself is huge, the upgrade path is a
bucket-partitioned silver replaced root-scoped via
``Catalog.commit(replace_roots=...)``, the same primitive the
catalog's UPDATE/DELETE uses.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..plans.catalog import Catalog, CommitConflict
from .sinks import batch_meta_key

MERGE_RETRIES = 3


def stream_keyed_rebuild(
    stream_events: DataFrame,
    catalog_root: str,
    *,
    checkpoint_dir: str,
    table: str,
    key_col: str,
    event_cols: list[str],
    rebuild: Callable[[DataFrame], DataFrame],
    out_key_col: str | None = None,
    pre_filter=None,
    meta_prefix: str = "rebuild",
    bucket_col: str = "__rb_kb",
    evolve_schema: bool = False,
    trigger_available_now: bool = True,
    stream_name: str | None = None,
    n_buckets: int = 16,
) -> StreamingQuery:
    """Start a keyed-rebuild maintenance stream into
    ``catalog_root``/``table``.

    ``event_cols`` (which must include ``key_col``) is the bronze
    log's projection; ``pre_filter`` (a boolean Column) screens rows at
    ingest — only relevant event types need to reach the log.
    ``rebuild`` maps a complete per-key event frame to silver rows;
    ``out_key_col`` names the silver column holding the key (defaults
    to ``key_col``).  ``meta_prefix``/``bucket_col`` let the scd2 and
    funnel wrappers keep their historical watermark keys and partition
    column names.  ``evolve_schema`` stays False for new tables (the
    write-time schema gate should hard-fail an event_cols change);
    the scd2/funnel wrappers opt in for their documented legacy-log
    upgrades."""
    if key_col not in event_cols:
        raise ValueError(f"event_cols must include key_col {key_col!r}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    okey = out_key_col or key_col
    meta_key = batch_meta_key(
        f"{meta_prefix}:{table}", checkpoint_dir, stream_name
    )
    bucket_key = f"{meta_prefix}:{table}:n_buckets"
    obs_table = f"{table}_obs"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        cat = Catalog(catalog_root)
        spark = batch_df.sparkSession
        batch = batch_df.select(*event_cols)
        if pre_filter is not None:
            batch = batch.filter(pre_filter)
        touched = batch.select(key_col).distinct()
        last_exc: CommitConflict | None = None
        for _ in range(MERGE_RETRIES):
            # meta re-read EVERY attempt: the watermark may have been
            # committed by a racing replica of this same batch (skip,
            # not double-append), and the bucket pin may have been won
            # by a concurrent first-writer (re-bucket under THEIR pin)
            meta = cat.meta()
            last = meta.get(meta_key)
            if last is not None and batch_id <= last:
                return  # already committed (possibly by a racer)
            snapshot = cat.manifest()
            obs_roots = list(snapshot["tables"].get(obs_table, []))
            silver_roots = list(snapshot["tables"].get(table, []))
            pinned = meta.get(bucket_key)
            if pinned is not None:
                nb = int(pinned)
            elif obs_roots:
                # legacy log, unknown modulus: screen disabled for good
                nb = None
            else:
                nb = int(n_buckets)  # creating the table: we pin
            bucketed = batch.withColumn(
                bucket_col,
                F.pmod(F.xxhash64(F.col(key_col)), F.lit(nb)).cast("int")
                if nb is not None
                else F.lit(None).cast("int"),
            )
            if obs_roots:
                log = cat.read_snapshot(spark, snapshot, obs_table)
                if nb is not None and bucket_col in log.columns:
                    touched_kbs = [
                        r[0]
                        for r in bucketed.select(bucket_col)
                        .distinct()
                        .collect()
                    ]
                    # superset screen, never a correctness dependency;
                    # NULL-safe for roots predating the bucket column
                    log = log.filter(
                        F.col(bucket_col).isNull()
                        | F.col(bucket_col).isin(touched_kbs)
                    )
                prior = log.join(touched, key_col, "semi").select(
                    *event_cols
                )
                events = prior.unionByName(batch)
            else:
                events = batch
            rebuilt = rebuild(events)
            if silver_roots:
                current = cat.read_snapshot(spark, snapshot, table)
                merged = current.join(
                    touched.select(F.col(key_col).alias(okey)),
                    okey,
                    "left_anti",
                ).unionByName(rebuilt.select(*current.columns))
            else:
                merged = rebuilt
            txn = cat.begin()
            txn.stage(
                obs_table,
                bucketed,
                mode="append",
                partition_by=[bucket_col],
                evolve_schema=evolve_schema,
            )
            txn.stage(table, merged, mode="overwrite")
            commit_meta = {meta_key: batch_id}
            if nb is not None:
                commit_meta[bucket_key] = nb
            try:
                # watermark + log append + silver replace: one atomic
                # commit — exactly-once hinges on their inseparability
                cat.commit(
                    txn,
                    meta=commit_meta,
                    require_roots={
                        obs_table: obs_roots, table: silver_roots
                    },
                )
                return
            except CommitConflict as exc:
                last_exc = exc
                continue
        raise CommitConflict(
            f"stream_keyed_rebuild({table!r}): concurrent commits kept "
            f"winning after {MERGE_RETRIES} attempts"
        ) from last_exc

    writer = stream_events.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_attribution(
    stream_events: DataFrame,
    catalog_root: str,
    *,
    checkpoint_dir: str,
    table: str = "attribution",
    conversion_type: str,
    touch_types: list[str],
    within_us: int,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts_us",
    id_col: str = "event_id",
    value_milli_col: str = "value_milli",
    trigger_available_now: bool = True,
    stream_name: str | None = None,
    n_buckets: int = 16,
) -> StreamingQuery:
    """Exactly-once streaming twin of ``linear_attribution`` — per-user
    credit splits are a pure function of the user's own events (a late
    touch re-splits the user's existing conversions; a late conversion
    adds credit rows), the keyed-rebuild shape exactly."""
    from ..operators.funnel import linear_attribution

    relevant = [conversion_type] + list(touch_types)

    def rb(events: DataFrame) -> DataFrame:
        return linear_attribution(
            events,
            conversion_type=conversion_type,
            touch_types=touch_types,
            within_us=within_us,
            user_col=user_col,
            type_col=type_col,
            ts_col=ts_col,
            id_col=id_col,
            value_milli_col=value_milli_col,
        )

    return stream_keyed_rebuild(
        stream_events,
        catalog_root,
        checkpoint_dir=checkpoint_dir,
        table=table,
        key_col=user_col,
        event_cols=[user_col, type_col, ts_col, id_col, value_milli_col],
        rebuild=rb,
        out_key_col=user_col,
        pre_filter=F.col(type_col).isin(relevant),
        trigger_available_now=trigger_available_now,
        stream_name=stream_name,
        n_buckets=n_buckets,
    )


def stream_sessions(
    stream_events: DataFrame,
    catalog_root: str,
    *,
    checkpoint_dir: str,
    table: str = "sessions",
    gap_us: int,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    order_extra: list[str] | None = None,
    trigger_available_now: bool = True,
    stream_name: str | None = None,
    n_buckets: int = 16,
) -> StreamingQuery:
    """Exactly-once streaming twin of gap-rule ``sessionize``.

    Why a rebuild twin and not windowed state: a LATE event that lands
    in the gap BETWEEN two already-materialized sessions can MERGE them
    into one (and re-number every later ``session_idx``) — per-user
    incremental state would have to hold the user's full session list
    and splice it, which is exactly "re-derive from the complete event
    set".  Sessions are a pure per-user function of the user's events,
    so the keyed-rebuild core applies verbatim.
    """
    from ..operators.funnel import sessionize

    def rb(events: DataFrame) -> DataFrame:
        return sessionize(
            events,
            gap_us=gap_us,
            user_col=user_col,
            ts_col=ts_col,
            order_extra=order_extra,
        )

    return stream_keyed_rebuild(
        stream_events,
        catalog_root,
        checkpoint_dir=checkpoint_dir,
        table=table,
        key_col=user_col,
        event_cols=[user_col, ts_col, *(order_extra or [])],
        rebuild=rb,
        out_key_col=user_col,
        trigger_available_now=trigger_available_now,
        stream_name=stream_name,
        n_buckets=n_buckets,
    )


def stream_transitions(
    stream_events: DataFrame,
    catalog_root: str,
    *,
    checkpoint_dir: str,
    table: str = "transitions",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts_us",
    order_extra: list[str] | None = None,
    trigger_available_now: bool = True,
    stream_name: str | None = None,
    n_buckets: int = 16,
) -> StreamingQuery:
    """Exactly-once streaming maintenance of the first-order Markov
    transition matrix — the keyed-rebuild core plus a READ-SIDE
    aggregate.

    The GLOBAL matrix is cross-user state (one late event changes two
    cells that every user's counts feed), so it cannot be the rebuild
    target itself.  But the per-user transition COUNTS are a pure
    per-user function of the user's event set — a late middle event
    rewires that user's A->C pair into A->B + B->C, which only a
    complete-log rebuild expresses — and the global matrix is their
    SUM, a decomposable aggregate.  So silver holds per-user pair
    counts (the keyed-rebuild contract verbatim) and
    :func:`read_transition_matrix` folds them into the matrix +
    exact ``prob_milli`` at read time, over type-pair-sized data.
    """
    from pyspark.sql import Window

    def rb(events: DataFrame) -> DataFrame:
        order = [F.col(ts_col)] + [F.col(c) for c in (order_extra or [])]
        w = Window.partitionBy(user_col).orderBy(*order)
        return (
            events.select(
                F.col(user_col),
                F.lag(F.col(type_col)).over(w).alias("from_type"),
                F.col(type_col).alias("to_type"),
            )
            .filter(F.col("from_type").isNotNull())
            .groupBy(user_col, "from_type", "to_type")
            .agg(F.count(F.lit(1)).alias("n_transitions"))
        )

    return stream_keyed_rebuild(
        stream_events,
        catalog_root,
        checkpoint_dir=checkpoint_dir,
        table=table,
        key_col=user_col,
        event_cols=[user_col, type_col, ts_col, *(order_extra or [])],
        rebuild=rb,
        out_key_col=user_col,
        trigger_available_now=trigger_available_now,
        stream_name=stream_name,
        n_buckets=n_buckets,
    )


def read_transition_matrix(
    spark, catalog_root: str, *, table: str = "transitions"
) -> DataFrame:
    """Fold the silver per-user transition counts into the global
    matrix with exact ``prob_milli`` — bit-identical to batch
    ``transition_matrix`` over the same delivered events (the sum of
    per-user counts IS the global count; the milli division happens
    once, here).  The row-total window runs over type-pair-sized data
    (the matrix), never events."""
    from pyspark.sql import Window

    silver = Catalog(catalog_root).read(spark, table)
    pairs = silver.groupBy("from_type", "to_type").agg(
        F.sum("n_transitions").alias("n_transitions")
    )
    w_tot = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.expr("1000 * n_transitions").cast("bigint").alias("__num"),
        F.sum("n_transitions").over(w_tot).alias("__den"),
    ).select(
        "from_type",
        "to_type",
        "n_transitions",
        F.expr("__num div __den").alias("prob_milli"),
    )


def stream_retention(
    stream_events: DataFrame,
    catalog_root: str,
    *,
    checkpoint_dir: str,
    table: str = "retention",
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    trigger_available_now: bool = True,
    stream_name: str | None = None,
    n_buckets: int = 16,
) -> StreamingQuery:
    """Exactly-once streaming maintenance of weekly cohort retention —
    the read-side-aggregate pattern (see :func:`stream_transitions`).

    A LATE event with an EARLIER timestamp re-cohorts its user (the
    cohort week is the min over the user's events), which moves every
    retention cell that user feeds — cross-cell damage only a per-user
    rebuild expresses.  Silver holds one row per (user, cohort_week,
    week_offset); the retention matrix is their COUNT per cell, folded
    by :func:`read_retention_cohorts` over matrix-sized data.
    """
    WEEK_US = 604_800_000_000

    def rb(events: DataFrame) -> DataFrame:
        first = events.groupBy(user_col).agg(
            F.expr(f"min({ts_col}) div {WEEK_US}").alias("cohort_week")
        )
        active = events.select(
            F.col(user_col),
            F.expr(f"{ts_col} div {WEEK_US}").alias("__aw"),
        ).distinct()
        return (
            active.join(first, user_col)
            .select(
                F.col(user_col),
                "cohort_week",
                (F.col("__aw") - F.col("cohort_week")).alias("week_offset"),
            )
            .distinct()
        )

    return stream_keyed_rebuild(
        stream_events,
        catalog_root,
        checkpoint_dir=checkpoint_dir,
        table=table,
        key_col=user_col,
        event_cols=[user_col, ts_col],
        rebuild=rb,
        out_key_col=user_col,
        trigger_available_now=trigger_available_now,
        stream_name=stream_name,
        n_buckets=n_buckets,
    )


def read_retention_cohorts(
    spark, catalog_root: str, *, table: str = "retention"
) -> DataFrame:
    """Fold the silver per-user retention rows into the cohort matrix —
    bit-identical to batch ``cohort_retention`` over the same delivered
    events (silver holds exactly one row per (user, cohort, offset), so
    the cell count IS the distinct-user count)."""
    silver = Catalog(catalog_root).read(spark, table)
    return silver.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


def stream_cohort_ltv(
    stream_events: DataFrame,
    catalog_root: str,
    *,
    checkpoint_dir: str,
    table: str = "cohort_ltv",
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    value_col: str = "vq",
    trigger_available_now: bool = True,
    stream_name: str | None = None,
    n_buckets: int = 16,
) -> StreamingQuery:
    """Exactly-once streaming maintenance of the weekly cohort LTV
    triangle — the read-side-aggregate pattern (see
    :func:`stream_transitions`).

    A LATE event with an EARLIER timestamp re-cohorts its user (the
    cohort week is a min), shifting EVERY (cohort, age) cell the user
    feeds — and a late revenue event moves one week's revenue, which
    moves every CUMULATIVE cell after it.  Both are cross-cell damage
    only a per-user rebuild expresses.  Silver holds one row per
    (user, cohort_week, week_offset) with that week's revenue; the
    triangle is their count/sum per cell plus the census-sized running
    sum, folded by :func:`read_cohort_ltv` — bit-identical to batch
    ``cohort_ltv`` over the same delivered events.
    """
    WEEK_US = 604_800_000_000

    def rb(events: DataFrame) -> DataFrame:
        first = events.groupBy(user_col).agg(
            F.expr(f"min({ts_col}) div {WEEK_US}").alias("cohort_week")
        )
        weekly = (
            events.select(
                F.col(user_col),
                F.expr(f"{ts_col} div {WEEK_US}").alias("__aw"),
                F.col(value_col).alias("__v"),
            )
            .groupBy(user_col, "__aw")
            .agg(
                F.coalesce(F.sum("__v"), F.lit(0))
                .cast("bigint")
                .alias("revenue_milli")
            )
        )
        return weekly.join(first, user_col).select(
            F.col(user_col),
            "cohort_week",
            (F.col("__aw") - F.col("cohort_week")).alias("week_offset"),
            "revenue_milli",
        )

    return stream_keyed_rebuild(
        stream_events,
        catalog_root,
        checkpoint_dir=checkpoint_dir,
        table=table,
        key_col=user_col,
        event_cols=[user_col, ts_col, value_col],
        rebuild=rb,
        out_key_col=user_col,
        trigger_available_now=trigger_available_now,
        stream_name=stream_name,
        n_buckets=n_buckets,
    )


def read_cohort_ltv(
    spark, catalog_root: str, *, table: str = "cohort_ltv"
) -> DataFrame:
    """Fold the silver per-user LTV rows into the cohort triangle —
    bit-identical to batch ``cohort_ltv`` over the same delivered
    events: silver holds exactly one row per (user, cohort, offset),
    so the cell count IS the distinct-active count, the cell sum IS
    the week revenue, every user carries an offset-0 row (the first
    week is active by construction) so the cohort size is the
    offset-0 count, and the running sum + per-user division replay
    over triangle-sized data."""
    from pyspark.sql import Window

    silver = Catalog(catalog_root).read(spark, table)
    cells = silver.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("active_users"),
        F.sum("revenue_milli").cast("bigint").alias("revenue_milli"),
    )
    sizes = (
        silver.filter(F.col("week_offset") == 0)
        .groupBy("cohort_week")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cohort_users"))
    )
    w_cum = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.withColumn(
            "cum_revenue_milli",
            F.sum("revenue_milli").over(w_cum).cast("bigint"),
        )
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_cohort_users",
            "active_users",
            "revenue_milli",
            "cum_revenue_milli",
            F.expr("cum_revenue_milli div n_cohort_users").alias(
                "ltv_per_user_milli"
            ),
        )
    )
