"""True Structured Streaming tests (availableNow triggers): streaming ==
batch equivalence, stateful incremental find-first, watermark machinery,
exactly-once catalog sink (SURVEY.md §2.10)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from dp1_data_wrangling_spark import fixtures as fx
from dp1_data_wrangling_spark.operators.chains import flatten_chains
from dp1_data_wrangling_spark.operators.find_first import find_first
from dp1_data_wrangling_spark.plans import Catalog
from dp1_data_wrangling_spark.streaming import (
    incremental_find_first,
    stream_into_catalog,
    stream_tumbling_counts,
    to_event_time,
    tumbling_windows_batch,
)
from dp1_data_wrangling_spark.tables import load_table

from .conftest import SMOKE_SF


def _run_to_memory(df, name: str, mode: str) -> None:
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive


def test_streaming_tumbling_equals_batch(spark):
    """The same windowing plan over readStream+watermark reproduces the
    batch result exactly (complete mode, availableNow)."""
    stream = stream_tumbling_counts(spark, SMOKE_SF)
    _run_to_memory(stream, "tumbling_stream", "complete")
    got = spark.sql("select * from tumbling_stream")
    want = tumbling_windows_batch(to_event_time(load_table(spark, SMOKE_SF, "events")))
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_streaming_append_mode_respects_watermark(spark):
    """Append mode only emits windows the 1-hour watermark has closed; the
    max-event-time windows are still open when the stream ends."""
    stream = stream_tumbling_counts(spark, SMOKE_SF)
    _run_to_memory(stream, "tumbling_append", "append")
    got = spark.sql("select * from tumbling_append")
    want = tumbling_windows_batch(to_event_time(load_table(spark, SMOKE_SF, "events")))
    # strictly fewer rows than batch: open windows withheld by the watermark
    assert 0 < got.count() < want.count()
    # everything emitted matches the batch computation
    assert got.exceptAll(want).count() == 0


@pytest.fixture(scope="module")
def dataset_stream_dir(spark, tmp_path_factory):
    """The datasets fixture split into two parquet files with distinct
    mtimes, so the file source delivers two ordered micro-batches."""
    root = tmp_path_factory.mktemp("ds_stream")
    ds = fx.build_datasets(spark, SMOKE_SF).withColumn(
        "dataset_id_hex", F.hex("dataset_id")
    ).drop("dataset_id")
    first = ds.filter(F.col("run") < "run_3")
    second = ds.filter(F.col("run") >= "run_3")
    first.coalesce(1).write.parquet(str(root / "batch1"))
    time.sleep(1.1)  # distinct file mtimes -> deterministic batch order
    second.coalesce(1).write.parquet(str(root / "batch2"))
    return root, ds.schema


def test_incremental_find_first_matches_batch(spark, dataset_stream_dir):
    """Streaming stateful find-first, reduced over its monotone emissions,
    equals the batch find_first result (the §5.2.3 equivalence property)."""
    root, schema = dataset_stream_dir
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/*/")
    )
    chain = {f"run_{i}": i for i in range(5)}
    winners = incremental_find_first(stream, chain, ["customer", "nation"])
    _run_to_memory(winners, "ff_stream", "update")
    emitted = spark.sql("select * from ff_stream")
    # reduce monotone emissions: min (position, dataset_id_hex) per key
    final = (
        emitted.groupBy("customer", "nation")
        .agg(F.min(F.struct("position", "dataset_id_hex")).alias("w"))
        .select("customer", "nation", F.col("w.dataset_id_hex").alias("dataset_id_hex"))
    )
    datasets = fx.build_datasets(spark, SMOKE_SF)
    chain_df = flatten_chains(
        spark, fx.build_collection_chains(spark), fx.build_collections(spark), "chain_root"
    )
    want = find_first(datasets, chain_df, ["customer", "nation"]).select(
        "customer", "nation", F.hex("dataset_id").alias("dataset_id_hex")
    )
    assert final.count() == want.count()
    assert final.exceptAll(want).count() == 0


def test_streaming_correlation_equals_batch(spark):
    """Stream-stream interval join (view→purchase within 30 min per user)
    emits exactly the batch join's rows once the availableNow pass ends."""
    from dp1_data_wrangling_spark.streaming import (
        correlated_events_batch,
        stream_correlated_events,
    )

    stream = stream_correlated_events(spark, SMOKE_SF)
    _run_to_memory(stream, "corr_stream", "append")
    got = spark.sql("select * from corr_stream")
    want = correlated_events_batch(to_event_time(load_table(spark, SMOKE_SF, "events")))
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_streaming_outer_correlation_contract(spark):
    """LEFT OUTER stream-stream interval join, three-sided contract:
    (1) matched rows equal the batch INNER join exactly (matches emit
    eagerly); (2) every emitted NULL extension is a true batch
    non-match (no false drops); (3) every batch non-match old enough
    that the final watermark provably expired it HAS emitted (outer
    completeness up to the documented watermark lag)."""
    from dp1_data_wrangling_spark.streaming import (
        correlated_events_batch,
        stream_correlated_events_outer,
    )
    from dp1_data_wrangling_spark.streaming.events import (
        _CORRELATION_HORIZON_US,
    )

    stream = stream_correlated_events_outer(spark, SMOKE_SF)
    _run_to_memory(stream, "corr_outer_stream", "append")
    got = spark.sql("select * from corr_outer_stream")
    ev = to_event_time(load_table(spark, SMOKE_SF, "events"))
    inner = correlated_events_batch(ev)

    got_matched = got.filter("purchase_id IS NOT NULL")
    assert got_matched.count() == inner.count() > 0
    assert got_matched.exceptAll(inner).count() == 0

    matched_views = {r.view_id for r in inner.select("view_id").collect()}
    got_nulls = {
        r.view_id
        for r in got.filter("purchase_id IS NULL").select("view_id").collect()
    }
    assert got_nulls, "no NULL extensions emitted at all"
    assert not (got_nulls & matched_views)  # (2) no false drops

    # (3): views expired well before the final watermark must have
    # emitted.  watermark = max event time - 2h; a view needs
    # view_ts + horizon < watermark, take an extra hour of slack so the
    # bound is robust to Spark's internal eviction boundary choices.
    import datetime as dt

    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    safe = (
        max_ts
        - dt.timedelta(hours=3)
        - dt.timedelta(microseconds=_CORRELATION_HORIZON_US)
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    expired_unmatched = {
        r.view_id
        for r in views.filter(F.col("view_ts") < F.lit(safe)).collect()
        if r.view_id not in matched_views
    }
    assert expired_unmatched, "fixture left no safely-expired unmatched view"
    missing = expired_unmatched - got_nulls
    assert not missing, f"{len(missing)} expired unmatched views never emitted"


@pytest.fixture(scope="module")
def redelivered_events_dir(spark, tmp_path_factory):
    """events written twice (distinct mtimes) — an at-least-once source."""
    root = tmp_path_factory.mktemp("redelivered")
    ev = load_table(spark, SMOKE_SF, "events")
    ev.coalesce(1).write.parquet(str(root / "delivery1"))
    time.sleep(1.1)
    ev.coalesce(1).write.parquet(str(root / "delivery2"))
    return root, ev


def test_streaming_dedup_within_watermark(spark, redelivered_events_dir):
    """dropDuplicatesWithinWatermark collapses redelivered events: the
    doubled source yields exactly the original row set."""
    from dp1_data_wrangling_spark.streaming import stream_dedup_events

    root, ev = redelivered_events_dir
    src_schema = spark.read.parquet(f"{root}/delivery1").schema
    stream = (
        spark.readStream.schema(src_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/*/")
    )
    deduped = stream_dedup_events(to_event_time(stream).withWatermark("ts", "1 hour"))
    _run_to_memory(deduped, "dedup_stream", "append")
    got = spark.sql("select * from dedup_stream")
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


def test_stream_into_catalog_exactly_once(spark, tmp_path):
    """foreachBatch catalog sink: counts match the source; a second run of
    the same availableNow stream appends nothing new (checkpoint + batch-id
    dedup)."""
    events = load_table(spark, SMOKE_SF, "events")
    src_schema = spark.read.parquet(f"{SMOKE_SF}/events.parquet").schema
    stream = (
        spark.readStream.schema(src_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SMOKE_SF)
    )
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    q = stream_into_catalog(stream, cat_root, "events_raw", checkpoint_dir=ckpt)
    q.awaitTermination(120)
    cat = Catalog(cat_root)
    assert cat.read(spark, "events_raw").count() == events.count()
    # replay: same checkpoint -> no new batches; same batch id -> no-op
    q2 = stream_into_catalog(stream, cat_root, "events_raw", checkpoint_dir=ckpt)
    q2.awaitTermination(120)
    assert cat.read(spark, "events_raw").count() == events.count()


def test_rate_source_windowed_ingestion(spark):
    """Ingestion from the rate source (the brief's readStream smoke path):
    a windowed count over a synthetic event-per-row stream delivers rows
    into a memory sink.  availableNow is unsupported for rate, so we run a
    short processing-time trigger and stop."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .load()
        .withWatermark("timestamp", "0 seconds")
        .groupBy(F.window("timestamp", "1 second").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("start"), "n")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_windows")
        .outputMode("complete")
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql("select * from rate_windows").count() > 0:
                break
            time.sleep(0.5)
        got = spark.sql("select * from rate_windows")
        assert got.count() > 0
        assert got.agg(F.sum("n")).first()[0] > 0
    finally:
        q.stop()


def test_stream_minhash_dedup_equals_batch(spark, tmp_path):
    """Incremental LSH index over two micro-batches finds exactly the
    pairs the batch operator finds on the full corpus (new×new ∪ new×old
    decomposition), and replaying the stream adds nothing (exactly-once)."""
    from dp1_data_wrangling_spark.operators.dedup import minhash_candidate_pairs
    from dp1_data_wrangling_spark.plans import Catalog
    from dp1_data_wrangling_spark.queries_llm import _augment_near
    from dp1_data_wrangling_spark.streaming import stream_minhash_dedup
    from dp1_data_wrangling_spark.streaming.dedup_llm import PAIRS_TABLE

    aug = _augment_near(spark, SMOKE_SF)
    src = tmp_path / "docs_stream"
    # originals first, mutants second -> every mutant pair is cross-batch
    aug.filter(F.col("doc_id") < 1_000_000).coalesce(1).write.parquet(
        str(src / "b1")
    )
    time.sleep(1.1)
    aug.filter(F.col("doc_id") >= 1_000_000).coalesce(1).write.parquet(
        str(src / "b2")
    )
    stream = (
        spark.readStream.schema(aug.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    q = stream_minhash_dedup(stream, cat_root, checkpoint_dir=ckpt)
    q.awaitTermination(180)
    got = Catalog(cat_root).read(spark, PAIRS_TABLE).distinct()
    want = minhash_candidate_pairs(aug, max_bucket_size=None)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # replay: same checkpoint -> no-op
    q2 = stream_minhash_dedup(stream, cat_root, checkpoint_dir=ckpt)
    q2.awaitTermination(180)
    assert Catalog(cat_root).read(spark, PAIRS_TABLE).distinct().count() == want.count()


def test_stream_static_enrich_equals_batch_join(spark):
    """Stream-static broadcast enrichment delivers exactly the batch join's
    rows (per-user segment attached to every event)."""
    from dp1_data_wrangling_spark.streaming import stream_events, stream_static_enrich

    events = load_table(spark, SMOKE_SF, "events")
    dim = events.select("user_id").distinct().withColumn(
        "segment", F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd")
    )
    enriched = stream_static_enrich(
        stream_events(spark, SMOKE_SF).select("event_id", "user_id"), dim
    )
    _run_to_memory(enriched, "enrich_stream", "append")
    got = spark.sql("select * from enrich_stream")
    want = events.select("event_id", "user_id").join(dim, "user_id")
    assert got.count() == want.count() == events.count()
    assert got.exceptAll(want).count() == 0


def test_stream_minhash_dedup_cross_batch_redelivery(spark, tmp_path):
    """A doc redelivered in a LATER batch (at-least-once across batches)
    is dropped by the index anti-join: neither the index nor the pairs
    table grows."""
    from dp1_data_wrangling_spark.plans import Catalog
    from dp1_data_wrangling_spark.queries_llm import _augment_near
    from dp1_data_wrangling_spark.streaming import stream_minhash_dedup
    from dp1_data_wrangling_spark.streaming.dedup_llm import INDEX_TABLE, PAIRS_TABLE

    aug = _augment_near(spark, SMOKE_SF).limit(200)
    src = tmp_path / "docs_stream"
    aug.coalesce(1).write.parquet(str(src / "d1"))
    time.sleep(1.1)
    aug.coalesce(1).write.parquet(str(src / "d2"))  # full redelivery
    stream = (
        spark.readStream.schema(aug.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    q = stream_minhash_dedup(
        stream, cat_root, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)
    cat = Catalog(cat_root)
    n_docs = aug.count()
    assert cat.read(spark, INDEX_TABLE).count() == n_docs * 3  # 3 bands each
    pairs = cat.read(spark, PAIRS_TABLE)
    assert pairs.count() == pairs.distinct().count()


def test_event_correlation_survives_timestamp_ntz(spark):
    """Regression (round 4): parquet timestamps without isAdjustedToUTC infer
    as TIMESTAMP_NTZ when spark.sql.parquet.inferTimestampNTZ.enabled is on
    (a driver-environment default we don't control).  The correlation time
    bound must analyze and produce identical pairs for both timestamp types,
    which the interval-arithmetic form guarantees and unix_micros does not."""
    from dp1_data_wrangling_spark.streaming import correlated_events_batch

    conf_key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(conf_key)
    try:
        spark.conf.set(conf_key, "true")
        ntz_events = spark.read.parquet(f"{SMOKE_SF}/events.parquet")
        assert ntz_events.schema["ts"].dataType.typeName() == "timestamp_ntz"
        got_ntz = correlated_events_batch(ntz_events)
        spark.conf.set(conf_key, "false")
        tz_events = spark.read.parquet(f"{SMOKE_SF}/events.parquet")
        assert tz_events.schema["ts"].dataType.typeName() == "timestamp"
        got_tz = correlated_events_batch(tz_events)
        ntz_ids = got_ntz.select("view_id", "purchase_id")
        tz_ids = got_tz.select("view_id", "purchase_id")
        assert ntz_ids.count() == tz_ids.count() > 0
        assert ntz_ids.exceptAll(tz_ids).count() == 0
    finally:
        spark.conf.set(conf_key, prev)


def test_stream_minhash_dedup_honors_legacy_watermark(spark, tmp_path):
    """Upgrade path: a catalog written before per-stream watermark keys
    carries one fixed ``last_batch_id:minhash_dedup`` meta key.  A restart
    must honor it (skip batches at-or-below it, not replay them) and the
    first new commit must migrate the watermark to the per-stream key."""
    from dp1_data_wrangling_spark.plans import Catalog
    from dp1_data_wrangling_spark.queries_llm import _augment_near
    from dp1_data_wrangling_spark.streaming import stream_minhash_dedup
    from dp1_data_wrangling_spark.streaming.dedup_llm import (
        INDEX_TABLE,
        LEGACY_META_KEY,
    )
    from dp1_data_wrangling_spark.streaming.sinks import batch_meta_key

    aug = _augment_near(spark, SMOKE_SF).limit(100)
    src = tmp_path / "docs_stream"
    aug.coalesce(1).write.parquet(str(src / "b1"))
    time.sleep(1.1)
    aug.coalesce(1).write.parquet(str(src / "b2"))

    # pre-upgrade catalog: legacy fixed watermark says batch 0 is committed
    cat_root = str(tmp_path / "cat")
    cat = Catalog(cat_root)
    cat.commit(cat.begin(), meta={LEGACY_META_KEY: 0})
    assert not cat.exists(INDEX_TABLE)

    stream = (
        spark.readStream.schema(aug.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    ckpt = str(tmp_path / "ckpt")
    q = stream_minhash_dedup(
        stream, cat_root, checkpoint_dir=ckpt, adopt_legacy_watermark=True
    )
    q.awaitTermination(180)

    cat = Catalog(cat_root)
    # batch 0 skipped under the legacy watermark, batch 1 processed: the
    # index holds ONE delivery's band rows (3 bands per doc), not two
    n_docs = aug.count()
    assert cat.read(spark, INDEX_TABLE).count() == n_docs * 3
    # watermark migrated to the per-stream key by the first commit,
    # and the legacy key consumed (one-shot) so no later fresh stream
    # can inherit it
    assert cat.meta()[batch_meta_key("minhash_dedup", ckpt, None)] == 1
    assert LEGACY_META_KEY not in cat.meta()


def test_stream_minhash_dedup_fresh_stream_ignores_legacy_watermark(spark, tmp_path):
    """A genuinely NEW stream (fresh checkpoint) against a catalog that
    still carries the legacy fixed watermark must NOT inherit it — batch
    ids restart at 0 per checkpoint, so inheriting would silently skip all
    of the new stream's first batches (the ADVICE r5 data-loss path)."""
    from dp1_data_wrangling_spark.queries_llm import _augment_near
    from dp1_data_wrangling_spark.streaming import stream_minhash_dedup
    from dp1_data_wrangling_spark.streaming.dedup_llm import (
        INDEX_TABLE,
        LEGACY_META_KEY,
    )

    aug = _augment_near(spark, SMOKE_SF).limit(100)
    src = tmp_path / "docs_stream"
    aug.coalesce(1).write.parquet(str(src / "b1"))

    # upgraded catalog still carrying a stale legacy watermark from some
    # other (long-gone) stream that claimed batches 0..5 as committed
    cat_root = str(tmp_path / "cat")
    cat = Catalog(cat_root)
    cat.commit(cat.begin(), meta={LEGACY_META_KEY: 5})

    stream = spark.readStream.schema(aug.schema).parquet(f"{src}/*/")
    q = stream_minhash_dedup(
        stream, cat_root, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    cat = Catalog(cat_root)
    # without the adopt flag the new stream's batch 0 is processed, not
    # skipped as a phantom replay
    assert cat.read(spark, INDEX_TABLE).count() == aug.count() * 3
    # and the legacy key is left alone for the stream that owns it
    assert cat.meta()[LEGACY_META_KEY] == 5


def test_stream_curation_equals_batch(spark, tmp_path):
    """Incremental curation over two micro-batches publishes exactly the
    batch pipeline's curated corpus — survivors, n_tokens, corpus-total
    n_copies, and split assignments — when arrival order is doc_id-ascending
    (duplicate copies arrive after their originals, the case where batch
    min-id-wins and streaming first-arrival-wins coincide).  Replaying the
    stream from the same checkpoint adds nothing (exactly-once)."""
    from dp1_data_wrangling_spark.plans.curation import curate_documents
    from dp1_data_wrangling_spark.queries_llm import _augment_exact
    from dp1_data_wrangling_spark.streaming import read_curated, stream_curation

    aug = _augment_exact(spark, SMOKE_SF)
    src = tmp_path / "docs_stream"
    # originals first, duplicate mutants second -> cross-batch duplicates
    aug.filter(F.col("doc_id") < 1_000_000).coalesce(1).write.parquet(str(src / "b1"))
    time.sleep(1.1)
    aug.filter(F.col("doc_id") >= 1_000_000).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(aug.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    q = stream_curation(stream, cat_root, checkpoint_dir=ckpt)
    q.awaitTermination(180)

    got = read_curated(spark, cat_root)
    want = curate_documents(aug)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # replay: same checkpoint -> no-op (exactly-once)
    q2 = stream_curation(stream, cat_root, checkpoint_dir=ckpt)
    q2.awaitTermination(180)
    again = read_curated(spark, cat_root)
    assert again.count() == want.count()
    assert again.exceptAll(want).count() == 0


def test_stream_media_decode_equals_batch(spark, tmp_path):
    """The multimodal decode tier streams as-is: decode_stats is a
    stateless row-local mapInPandas, so composing it with the
    exactly-once catalog sink ingests REAL media payloads incrementally
    with results identical to the batch pass — and a checkpoint replay
    adds nothing."""
    from dp1_data_wrangling_spark.operators import multimodal as mm
    from dp1_data_wrangling_spark.plans import Catalog
    from dp1_data_wrangling_spark.streaming import stream_into_catalog

    ids = spark.range(60).select(F.col("id").alias("media_id"))
    media = mm.synthetic_media(ids)
    src = tmp_path / "media_stream"
    media.filter(F.col("media_id") < 30).coalesce(1).write.parquet(str(src / "b1"))
    time.sleep(1.1)
    media.filter(F.col("media_id") >= 30).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(media.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    q = stream_into_catalog(
        mm.decode_stats(stream), cat_root, "media/decode_stats",
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(180)

    cat = Catalog(cat_root)
    got = cat.read(spark, "media/decode_stats")
    want = mm.decode_stats(mm.synthetic_media(ids))
    assert got.count() == want.count() == 60
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # replay: no-op
    q2 = stream_into_catalog(
        mm.decode_stats(stream), cat_root, "media/decode_stats",
        checkpoint_dir=ckpt,
    )
    q2.awaitTermination(180)
    assert cat.read(spark, "media/decode_stats").count() == 60


def test_stream_training_export_snapshot_equals_batch(spark, tmp_path):
    """The streaming training-export twin: incremental curation ingest
    over two micro-batches + an atomic snapshot cut publishes a packed
    train table BYTE-IDENTICAL to the batch run_training_export over the
    union corpus (the two paths share shuffle_shard_pack, so equality
    pins the only thing that differs — survivor accumulation).  A second
    finalize over unchanged state republishes the identical table."""
    from dp1_data_wrangling_spark.plans.training_export import (
        PACKED_TRAIN_TABLE,
        run_training_export,
    )
    from dp1_data_wrangling_spark.queries_llm import _augment_exact
    from dp1_data_wrangling_spark.streaming import (
        finalize_training_export,
        stream_curation,
    )

    aug = _augment_exact(spark, SMOKE_SF)
    want = run_training_export(
        spark, aug, str(tmp_path / "cat_batch"), token_budget=256, n_shards=4
    ).read(spark, PACKED_TRAIN_TABLE)

    src = tmp_path / "docs_stream"
    aug.filter(F.col("doc_id") < 1_000_000).coalesce(1).write.parquet(str(src / "b1"))
    time.sleep(1.1)
    aug.filter(F.col("doc_id") >= 1_000_000).coalesce(1).write.parquet(str(src / "b2"))
    stream = (
        spark.readStream.schema(aug.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat_stream")
    q = stream_curation(stream, cat_root, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    cat = finalize_training_export(
        spark, cat_root, token_budget=256, n_shards=4
    )
    got = cat.read(spark, PACKED_TRAIN_TABLE)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # a second cut over unchanged state is the identical artifact, and
    # its commit meta records the survivor roots it was cut from
    cat2 = finalize_training_export(spark, cat_root, token_budget=256, n_shards=4)
    again = cat2.read(spark, PACKED_TRAIN_TABLE)
    assert again.exceptAll(want).count() == 0
    assert want.exceptAll(again).count() == 0
    meta = cat2.meta()["training_export"]
    assert meta["source"] == "stream_snapshot" and meta["survivor_roots"]

    # cutting a snapshot before any curation batch landed fails fast
    with pytest.raises(RuntimeError, match="stream_curation"):
        finalize_training_export(
            spark, str(tmp_path / "empty_cat"), token_budget=256
        )


def test_stream_decontaminate_equals_batch(spark, tmp_path):
    """Streaming decontamination over two micro-batches publishes exactly
    the batch operator's clean/flagged partition of the corpus (the screen
    is stateless against a static eval set, so equality is exact, no
    first-arrival caveat), and a checkpoint replay adds nothing."""
    from dp1_data_wrangling_spark.operators.decontam import contamination
    from dp1_data_wrangling_spark.operators.sampling import hash_bucket
    from dp1_data_wrangling_spark.streaming.decontam import (
        read_clean,
        read_flagged,
        stream_decontaminate,
    )
    from dp1_data_wrangling_spark.tables import load_table

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    bucket = hash_bucket(F.col("doc_id"), "split_v1")
    train = docs.where(bucket < 90)
    eval_docs = docs.where(bucket >= 95)

    src = tmp_path / "docs_stream"
    train.filter("doc_id % 2 = 0").coalesce(1).write.parquet(str(src / "b1"))
    time.sleep(1.1)
    train.filter("doc_id % 2 = 1").coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(train.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    q = stream_decontaminate(
        stream, eval_docs, cat_root, checkpoint_dir=ckpt, n=4
    )
    q.awaitTermination(180)

    want_flagged = contamination(train, eval_docs, n=4)
    got_flagged = read_flagged(spark, cat_root)
    assert got_flagged.count() == want_flagged.count() > 0
    assert got_flagged.exceptAll(want_flagged).count() == 0

    flagged_ids = {r.doc_id for r in want_flagged.collect()}
    got_clean = {r.doc_id for r in read_clean(spark, cat_root).collect()}
    want_clean = {r.doc_id for r in train.collect()} - flagged_ids
    assert got_clean == want_clean

    # replay: same checkpoint -> no-op (exactly-once)
    q2 = stream_decontaminate(
        stream, eval_docs, cat_root, checkpoint_dir=ckpt, n=4
    )
    q2.awaitTermination(180)
    assert read_clean(spark, cat_root).count() == len(want_clean)


def test_stream_semantic_decontaminate_equals_batch(spark, tmp_path):
    """Streaming semantic decontamination (round 8) over two
    micro-batches publishes exactly the batch operator's clean/flagged
    partition (stateless against a static eval embedding set; no bucket
    here nears the hot-bucket cap, so the documented per-batch-cap
    divergence case does not trigger and equality is exact), and a
    checkpoint replay adds nothing."""
    from dp1_data_wrangling_spark.operators.semantic import (
        semantic_decontaminate,
    )
    from dp1_data_wrangling_spark.plans import Catalog
    from dp1_data_wrangling_spark.queries_llm import (
        MUTANT_OFFSET,
        _augment_embeddings,
    )
    from dp1_data_wrangling_spark.streaming.decontam import (
        SEM_CLEAN_TABLE,
        SEM_FLAGGED_TABLE,
        stream_semantic_decontaminate,
    )
    from dp1_data_wrangling_spark.tables import load_table

    corpus = load_table(spark, SMOKE_SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    eval_set = _augment_embeddings(spark, SMOKE_SF).filter(
        F.col("vec_id") >= MUTANT_OFFSET
    )

    src = tmp_path / "vec_stream"
    corpus.filter("vec_id % 2 = 0").coalesce(1).write.parquet(str(src / "b1"))
    time.sleep(1.1)
    corpus.filter("vec_id % 2 = 1").coalesce(1).write.parquet(str(src / "b2"))
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    q = stream_semantic_decontaminate(
        stream, eval_set, cat_root, checkpoint_dir=ckpt, dim=64
    )
    q.awaitTermination(180)

    cat = Catalog(cat_root)
    want = semantic_decontaminate(corpus, eval_set, dim=64).filter(
        F.col("contaminated")
    )
    got_flagged = cat.read(spark, SEM_FLAGGED_TABLE)
    want_rows = {
        (r["vec_id"], r["n_eval_hits"], r["max_sim"]) for r in want.collect()
    }
    got_rows = {
        (r["vec_id"], r["n_eval_hits"], r["max_sim"])
        for r in got_flagged.collect()
    }
    assert got_rows == want_rows and len(got_rows) > 0
    flagged_ids = {v for v, _, _ in want_rows}
    got_clean = {r["vec_id"] for r in cat.read(spark, SEM_CLEAN_TABLE).collect()}
    assert got_clean == {
        r["vec_id"] for r in corpus.collect()
    } - flagged_ids

    # replay: same checkpoint -> no-op (exactly-once)
    q2 = stream_semantic_decontaminate(
        stream, eval_set, cat_root, checkpoint_dir=ckpt, dim=64
    )
    q2.awaitTermination(180)
    assert cat.read(spark, SEM_CLEAN_TABLE).count() == len(got_clean)


def test_stream_rollup_equals_batch(spark, tmp_path):
    """Streaming the events through the incremental rollup in micro-batches
    materializes exactly the one-shot batch aggregate — including buckets
    revised by late-arriving rows (batch 2 is earlier event-time than
    batch 1).  Replay from the same checkpoint is a no-op (exactly-once:
    the batch-id watermark commits atomically with the MERGE)."""
    from dp1_data_wrangling_spark.plans.rollup import rollup_partial
    from dp1_data_wrangling_spark.streaming import stream_rollup
    from dp1_data_wrangling_spark.tables import load_table

    events = load_table(spark, SMOKE_SF, "events")
    src = tmp_path / "events_stream"
    # late data: the LOW half of event time arrives in the second batch
    # (ts is TIMESTAMP_NTZ under the test session conf — compare as a
    # Python datetime literal, valid for both timestamp flavors)
    ts_sorted = sorted(r["ts"] for r in events.select("ts").collect())
    mid = ts_sorted[len(ts_sorted) // 2]
    events.where(F.col("ts") > mid).coalesce(1).write.parquet(str(src / "b1"))
    time.sleep(1.1)
    events.where(F.col("ts") <= mid).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    stream_rollup(stream, cat_root, checkpoint_dir=ckpt).awaitTermination(180)

    from dp1_data_wrangling_spark.plans.catalog import Catalog

    def snapshot():
        return {
            (r["bucket_ts"], r["event_type"]): (r["n_events"], r["value_micros"])
            for r in Catalog(cat_root).read(spark, "events_rollup").collect()
        }

    want = {
        (r["bucket_ts"], r["event_type"]): (r["n_events"], r["value_micros"])
        for r in rollup_partial(events).collect()
    }
    assert snapshot() == want

    # replay: same checkpoint -> nothing double-counted
    stream_rollup(stream, cat_root, checkpoint_dir=ckpt).awaitTermination(180)
    assert snapshot() == want


def test_stateless_operators_compose_with_streams(spark, tmp_path):
    """Row-local operators (PII scrub here) are plan transformations, so
    they apply to a streaming DataFrame unchanged — the streamed, scrubbed
    corpus through the exactly-once catalog sink equals the batch scrub."""
    from dp1_data_wrangling_spark.operators.text import scrub_pii
    from dp1_data_wrangling_spark.plans.catalog import Catalog
    from dp1_data_wrangling_spark.streaming import stream_into_catalog
    from dp1_data_wrangling_spark.tables import load_table

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    # plant one scrubbable doc so the equality is non-vacuous
    docs = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 50 == 0,
            F.concat(F.col("text"), F.lit(" mail me x@y.io at 10.0.0.7")),
        ).otherwise(F.col("text")),
    )
    src = tmp_path / "docs_stream"
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(str(src / "b1"))
    time.sleep(1.1)
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    q = stream_into_catalog(
        scrub_pii(stream),
        cat_root,
        "docs_clean",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    got = Catalog(cat_root).read(spark, "docs_clean")
    want = scrub_pii(docs)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert want.where(F.col("n_email") > 0).count() > 0


def test_stream_into_catalog_auto_compacts(spark, tmp_path):
    """With auto_compact_roots, a multi-batch stream keeps the table's
    commit-root list bounded while preserving every row and exactly-once
    replay semantics."""
    events = load_table(spark, SMOKE_SF, "events")
    src = tmp_path / "ev_stream"
    for i in range(4):
        events.where(F.col("event_id") % 4 == i).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    q = stream_into_catalog(
        stream, cat_root, "ev", checkpoint_dir=ckpt, auto_compact_roots=2
    )
    q.awaitTermination(180)
    cat = Catalog(cat_root)
    roots = cat.manifest()["tables"]["ev"]
    assert len(roots) <= 2, roots  # 4 appends, compacted along the way
    assert cat.read(spark, "ev").count() == events.count()
    # replay is still a no-op
    q2 = stream_into_catalog(
        stream, cat_root, "ev", checkpoint_dir=ckpt, auto_compact_roots=2
    )
    q2.awaitTermination(180)
    assert cat.read(spark, "ev").count() == events.count()


def test_stream_semantic_dedup_equals_batch(spark, tmp_path):
    """Incremental SRP index over two micro-batches: accumulated pairs
    equal the batch operator's pairs on the union (new×new ∪ new×old
    decomposition), survivors re-derived over them are byte-identical to
    batch semantic_dedup, and replaying the stream adds nothing."""
    from dp1_data_wrangling_spark.operators.semantic import (
        semantic_candidate_pairs,
        semantic_dedup,
    )
    from dp1_data_wrangling_spark.plans import Catalog
    from dp1_data_wrangling_spark.queries_llm import _augment_embeddings
    from dp1_data_wrangling_spark.streaming import (
        read_semantic_survivors,
        stream_semantic_dedup,
    )
    from dp1_data_wrangling_spark.streaming.semantic import SEM_PAIRS_TABLE

    aug = _augment_embeddings(spark, SMOKE_SF)
    src = tmp_path / "vec_stream"
    # originals first, mutants second -> every mutant pair is cross-batch
    aug.filter(F.col("vec_id") < 1_000_000).coalesce(1).write.parquet(
        str(src / "b1")
    )
    time.sleep(1.1)
    aug.filter(F.col("vec_id") >= 1_000_000).coalesce(1).write.parquet(
        str(src / "b2")
    )
    stream = (
        spark.readStream.schema(aug.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    q = stream_semantic_dedup(stream, cat_root, checkpoint_dir=ckpt, dim=64)
    q.awaitTermination(180)

    got_pairs = Catalog(cat_root).read(spark, SEM_PAIRS_TABLE).distinct()
    want_pairs = semantic_candidate_pairs(aug, dim=64)
    assert got_pairs.count() == want_pairs.count() > 0
    assert got_pairs.exceptAll(want_pairs).count() == 0
    assert want_pairs.exceptAll(got_pairs).count() == 0

    got_surv = {
        r["vec_id"]: (r["component"], r["is_survivor"])
        for r in read_semantic_survivors(spark, cat_root).collect()
    }
    want_surv = {
        r["vec_id"]: (r["component"], r["is_survivor"])
        for r in semantic_dedup(aug, dim=64).collect()
    }
    assert got_surv == want_surv

    # replay: same checkpoint -> no-op
    q2 = stream_semantic_dedup(stream, cat_root, checkpoint_dir=ckpt, dim=64)
    q2.awaitTermination(180)
    assert (
        Catalog(cat_root).read(spark, SEM_PAIRS_TABLE).distinct().count()
        == want_pairs.count()
    )


def test_stream_ivf_index_append_equals_online(spark, tmp_path):
    """Vectors appended by the stream answer queries EXACTLY like the
    online IVF with the same centroids over the union corpus (assignment
    is deterministic row-local math — arrival path cannot change any
    answer), replay is a no-op, and a rebuild under the stream is refused."""
    from dp1_data_wrangling_spark.operators.similarity import (
        _local_centroids,
        ivf_topk_with_centroids,
    )
    from dp1_data_wrangling_spark.plans import Catalog
    from dp1_data_wrangling_spark.plans.ann_index import (
        CENTROIDS_TABLE,
        CORPUS_TABLE,
        build_ivf_index,
        ivf_query_index,
    )
    from dp1_data_wrangling_spark.streaming import stream_ivf_index_append

    emb = load_table(spark, SMOKE_SF, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 300)
    late = emb.filter(F.col("vec_id") >= 300)

    cat_root = str(tmp_path / "cat")
    cat = Catalog(cat_root)
    build_ivf_index(spark, cat, base, n_cells=8, n_iters=2)

    src = tmp_path / "vec_stream"
    late.filter(F.col("vec_id") < 400).coalesce(1).write.parquet(str(src / "b1"))
    time.sleep(1.1)
    late.filter(F.col("vec_id") >= 400).coalesce(1).write.parquet(str(src / "b2"))
    stream = (
        spark.readStream.schema(late.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    ckpt = str(tmp_path / "ckpt")
    q = stream_ivf_index_append(stream, cat_root, checkpoint_dir=ckpt)
    q.awaitTermination(180)
    assert cat.read(spark, CORPUS_TABLE).count() == emb.count()

    probes = emb.filter(F.col("vec_id") % 50 == 0)
    got = ivf_query_index(spark, cat, probes, 5, nprobe=4)
    cent_rows = cat.read(spark, CENTROIDS_TABLE).collect()
    cents_df = _local_centroids(
        spark, [(r["cell"], list(r["centroid"])) for r in cent_rows]
    )
    want = ivf_topk_with_centroids(probes, emb, 5, cents_df, nprobe=4)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # replay: no-op
    q2 = stream_ivf_index_append(stream, cat_root, checkpoint_dir=ckpt)
    q2.awaitTermination(180)
    assert cat.read(spark, CORPUS_TABLE).count() == emb.count()

    # rebuild under the stream: the generation pin refuses a NEW batch
    build_ivf_index(spark, cat, emb, n_cells=8, n_iters=2)
    time.sleep(1.1)
    late.limit(1).coalesce(1).write.parquet(str(src / "b3"))
    q3 = stream_ivf_index_append(stream, cat_root, checkpoint_dir=ckpt)
    with pytest.raises(Exception, match="rebuilt"):
        q3.awaitTermination(180)
        raise RuntimeError(
            "stream should have failed on the generation pin"
            if q3.exception() is None
            else q3.exception().desc
        )


def test_stream_ivf_append_refuses_unversioned_index(spark, tmp_path):
    """An index whose ann:build_id meta is missing cannot be protected by
    the generation pin (Catalog.commit treats a None meta value as a
    delete, which would silently erase the pin) — the appender must fail
    fast instead of running unguarded."""
    from dp1_data_wrangling_spark.plans import Catalog
    from dp1_data_wrangling_spark.plans.ann_index import build_ivf_index
    from dp1_data_wrangling_spark.streaming import stream_ivf_index_append

    emb = load_table(spark, SMOKE_SF, "embeddings").select("vec_id", "embedding")
    cat_root = str(tmp_path / "cat")
    cat = Catalog(cat_root)
    build_ivf_index(spark, cat, emb.filter(F.col("vec_id") < 300),
                    n_cells=4, n_iters=1)
    # simulate a legacy/unversioned index: drop the build-id meta
    cat.commit(cat.begin(), meta={"ann:build_id": None})
    assert "ann:build_id" not in cat.meta()

    src = tmp_path / "vec_stream"
    emb.filter(F.col("vec_id") >= 300).limit(5).coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream = spark.readStream.schema(emb.schema).parquet(f"{src}/*/")
    q = stream_ivf_index_append(
        stream, cat_root, checkpoint_dir=str(tmp_path / "ckpt")
    )
    with pytest.raises(Exception, match="ann:build_id"):
        q.awaitTermination(180)
        if q.exception() is not None:
            raise RuntimeError(q.exception().desc)
        raise RuntimeError("stream should have failed fast")


def test_stream_semantic_dedup_auto_compacts(spark, tmp_path):
    """auto_compact_roots folds the per-batch index/pairs roots back to
    one without changing any content."""
    from dp1_data_wrangling_spark.operators.semantic import semantic_dedup
    from dp1_data_wrangling_spark.plans import Catalog
    from dp1_data_wrangling_spark.queries_llm import _augment_embeddings
    from dp1_data_wrangling_spark.streaming import (
        read_semantic_survivors,
        stream_semantic_dedup,
    )
    from dp1_data_wrangling_spark.streaming.semantic import SEM_INDEX_TABLE

    aug = _augment_embeddings(spark, SMOKE_SF)
    src = tmp_path / "vec_stream"
    aug.filter(F.col("vec_id") < 1_000_000).coalesce(1).write.parquet(str(src / "b1"))
    time.sleep(1.1)
    aug.filter(F.col("vec_id") >= 1_000_000).coalesce(1).write.parquet(str(src / "b2"))
    stream = (
        spark.readStream.schema(aug.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    q = stream_semantic_dedup(
        stream,
        cat_root,
        checkpoint_dir=str(tmp_path / "ckpt"),
        dim=64,
        auto_compact_roots=2,
    )
    q.awaitTermination(180)
    cat = Catalog(cat_root)
    assert len(cat.manifest()["tables"][SEM_INDEX_TABLE]) == 1  # compacted
    got = {
        r["vec_id"]: (r["component"], r["is_survivor"])
        for r in read_semantic_survivors(spark, cat_root).collect()
    }
    want = {
        r["vec_id"]: (r["component"], r["is_survivor"])
        for r in semantic_dedup(aug, dim=64).collect()
    }
    assert got == want


def test_stream_scd2_equals_batch_any_order(spark, tmp_path):
    """CDC micro-batches — including a LATE batch whose observations land
    inside already-collapsed history — must materialize exactly
    scd2_build(all observations).  The adversarial case: user's stream
    X@10 X@20 Y@30 arrives first (collapses to X@10, Y@30), then Y@15
    arrives late; the correct history is X@10, Y@15, X@20, Y@30 — the
    no-change X@20 observation becomes a change point again, which only
    a raw-log rebuild can recover.  Replay from the same checkpoint is a
    no-op (watermark + log + history commit atomically)."""
    from dp1_data_wrangling_spark.operators.scd import scd2_build
    from dp1_data_wrangling_spark.streaming import stream_scd2

    cols = ["user_id", "ts_us", "seq", "attr"]
    b1 = spark.createDataFrame(
        [(1, 10, 1, "X"), (1, 20, 2, "X"), (1, 30, 3, "Y"),
         (2, 10, 4, "P")],
        cols,
    )
    b2 = spark.createDataFrame(
        [(1, 15, 5, "Y"),   # late: splits 1's first version, revives X@20
         (3, 5, 6, "N")],   # brand-new key
        cols,
    )
    src = tmp_path / "obs_stream"
    b1.coalesce(1).write.parquet(str(src / "b1"))
    time.sleep(1.1)
    b2.coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    kw = dict(
        checkpoint_dir=ckpt, table="user_attr", key="user_id",
        tracked=["attr"], ts_col="ts_us", order_extra=["seq"],
    )
    stream_scd2(stream, cat_root, **kw).awaitTermination(180)

    def snapshot():
        return sorted(
            map(
                tuple,
                Catalog(cat_root)
                .read(spark, "user_attr")
                .select("user_id", "attr", "version", "valid_from",
                        "valid_to", "is_current")
                .collect(),
            )
        )

    want = sorted(
        map(
            tuple,
            scd2_build(
                b1.union(b2), key="user_id", tracked=["attr"],
                ts_col="ts_us", order_extra=["seq"],
            ).select("user_id", "attr", "version", "valid_from",
                     "valid_to", "is_current").collect(),
        )
    )
    got = snapshot()
    assert got == want
    # the adversarial key really has 4 versions, in order X,Y,X,Y
    k1 = sorted((t for t in got if t[0] == 1), key=lambda t: t[2])
    assert [t[1] for t in k1] == ["X", "Y", "X", "Y"]
    # raw log keeps every observation, including the no-change one
    assert Catalog(cat_root).read(spark, "user_attr_obs").count() == 6

    # replay: same checkpoint -> already-committed batches skipped
    stream_scd2(stream, cat_root, **kw).awaitTermination(180)
    assert snapshot() == want


def test_stream_scd2_bronze_scan_prunes_to_touched_buckets(spark, tmp_path):
    """The r10 bronze bound: the observation log publishes
    hive-partitioned on a key-hash bucket and the rebuild read filters
    to the batch's touched buckets — the parquet source prunes the scan
    to a STRICT SUBSET of bucket directories (PartitionFilters in the
    plan, pushed through the root union) while the history still equals
    the batch scd2_build over all observations."""
    from dp1_data_wrangling_spark.operators.scd import scd2_build
    from dp1_data_wrangling_spark.plans.catalog import Catalog
    from dp1_data_wrangling_spark.streaming import stream_scd2

    cols = ["user_id", "ts_us", "attr"]
    b1 = spark.createDataFrame(
        [(i, 10, f"A{i}") for i in range(40)], cols
    )
    b2 = spark.createDataFrame([(7, 20, "Z")], cols)  # one key, one bucket
    src = tmp_path / "obs_stream"
    b1.coalesce(1).write.parquet(str(src / "b1"))
    time.sleep(1.1)
    b2.coalesce(1).write.parquet(str(src / "b2"))
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    stream_scd2(
        stream, cat_root, checkpoint_dir=str(tmp_path / "ckpt"),
        table="user_attr", key="user_id", tracked=["attr"],
        ts_col="ts_us", n_buckets=8,
    ).awaitTermination(180)

    cat = Catalog(cat_root)
    # bronze is bucket-partitioned on disk
    log = cat.read_snapshot(spark, cat.manifest(), "user_attr_obs")
    assert "__scd_kb" in log.columns
    n_buckets_present = log.select("__scd_kb").distinct().count()
    assert n_buckets_present > 1, "fixture must span multiple buckets"
    # replicate the rebuild read for b2's single touched bucket: the
    # bucket filter must reach the parquet source as a PartitionFilter
    # (pushed through the union over commit roots)
    kb7 = (
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit(7).cast("long")), F.lit(8)).cast("int"))
        .collect()[0][0]
    )
    pruned = log.filter(F.col("__scd_kb").isin([kb7]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    seg = plan[plan.index("PartitionFilters"):]
    assert "__scd_kb" in seg[: seg.index("]")], (
        "bucket filter must prune partitions at the source"
    )
    # strict subset: the pruned read sees exactly the touched bucket
    assert pruned.select("__scd_kb").distinct().count() == 1
    # and the history equals the batch build over ALL observations
    want = sorted(
        map(
            tuple,
            scd2_build(
                b1.union(b2), key="user_id", tracked=["attr"],
                ts_col="ts_us",
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            cat.read(spark, "user_attr")
            .select(*scd2_build(
                b1, key="user_id", tracked=["attr"], ts_col="ts_us"
            ).columns)
            .collect(),
        )
    )
    assert got == want


def test_stream_scd2_upgrades_pre_bucketed_log(spark, tmp_path):
    """Migration (review fix): an obs log written WITHOUT __scd_kb
    (pre-r10 layout) must keep working — the first post-upgrade append
    evolves the schema instead of hard-failing, old rows read the
    bucket as NULL and are NEVER dropped by the bucket filter, so a
    late observation still rebuilds touched keys from their COMPLETE
    history (including pre-upgrade rows)."""
    from dp1_data_wrangling_spark.operators.scd import scd2_build
    from dp1_data_wrangling_spark.plans.catalog import Catalog
    from dp1_data_wrangling_spark.streaming import stream_scd2

    cols = ["user_id", "ts_us", "attr"]
    b1 = spark.createDataFrame(
        [(1, 10, "X"), (1, 20, "X"), (2, 10, "P")], cols
    )
    b2 = spark.createDataFrame([(1, 15, "Y")], cols)  # late: revives X@20
    cat_root = str(tmp_path / "cat")
    # seed the PRE-r10 layout: unbucketed obs log + its history
    cat = Catalog(cat_root)
    txn = cat.begin()
    txn.stage("user_attr_obs", b1, mode="overwrite")
    txn.stage(
        "user_attr",
        scd2_build(b1, key="user_id", tracked=["attr"], ts_col="ts_us"),
        mode="overwrite",
    )
    cat.commit(txn)
    src = tmp_path / "obs_stream"
    b2.coalesce(1).write.parquet(str(src / "b2"))
    stream = (
        spark.readStream.schema(b2.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    stream_scd2(
        stream, cat_root, checkpoint_dir=str(tmp_path / "ckpt"),
        table="user_attr", key="user_id", tracked=["attr"],
        ts_col="ts_us", n_buckets=8,
    ).awaitTermination(180)
    want = sorted(
        map(
            tuple,
            scd2_build(
                b1.union(b2), key="user_id", tracked=["attr"], ts_col="ts_us"
            ).collect(),
        )
    )
    got = sorted(
        map(tuple, Catalog(cat_root).read(spark, "user_attr").collect())
    )
    assert got == want
    # user 1 really has 3 versions: X@10, Y@15, X@20 — the pre-upgrade
    # no-change X@20 row was recovered from the NULL-bucket root
    assert len([t for t in got if t[0] == 1]) == 3


def test_stream_ks_drift_equals_batch(spark, tmp_path):
    """The drift monitor's associative-census fold: after the stream
    drains, the published drift table equals binned_ks_drift(ref, all
    delivered rows) bit-exactly regardless of micro-batch cuts; replay
    from the same checkpoint is a no-op; the persisted census is
    n_bins-bounded state."""
    from dp1_data_wrangling_spark.operators.stats import binned_ks_drift
    from dp1_data_wrangling_spark.plans.catalog import Catalog
    from dp1_data_wrangling_spark.streaming import stream_ks_drift

    ref = spark.createDataFrame(
        [(float(v % 100),) for v in range(400)], "v double"
    )
    cur_rows = [(float((v * 37) % 140),) for v in range(300)]
    b1 = spark.createDataFrame(cur_rows[:180], "v double")
    b2 = spark.createDataFrame(cur_rows[180:], "v double")
    src = tmp_path / "drift_stream"
    b1.coalesce(1).write.parquet(str(src / "b1"))
    time.sleep(1.1)
    b2.coalesce(1).write.parquet(str(src / "b2"))
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    kw = dict(
        checkpoint_dir=str(tmp_path / "ckpt"), value_col="v",
        n_bins=10, quant_scale=1000,
    )
    stream_ks_drift(stream, ref, cat_root, **kw).awaitTermination(180)

    cat = Catalog(cat_root)
    got = sorted(map(tuple, cat.read(spark, "ks_drift").collect()))
    want = sorted(
        map(
            tuple,
            binned_ks_drift(
                ref, b1.union(b2), value_col="v", n_bins=10,
                quant_scale=1000,
            ).collect(),
        )
    )
    assert got == want and len(got) == 10
    assert cat.read(spark, "ks_drift_census").count() <= 10
    # replay: already-committed batches skip
    stream_ks_drift(stream, ref, cat_root, **kw).awaitTermination(180)
    assert sorted(map(tuple, cat.read(spark, "ks_drift").collect())) == want


def test_stream_geofence_equals_batch(spark, tmp_path):
    """Streaming points through the geofence enricher in micro-batches
    materializes EXACTLY the batch point_in_polygon over all rows
    (containment is a pure per-point function of the static fences);
    replay from the same checkpoint is a no-op."""
    from dp1_data_wrangling_spark.operators.spatial import point_in_polygon
    from dp1_data_wrangling_spark.plans.catalog import Catalog
    from dp1_data_wrangling_spark.streaming import stream_geofence

    pts = spark.range(400).select(
        F.col("id").alias("pid"),
        (F.col("id") * 37 % 100).alias("x"),
        (F.col("id") * 61 % 100).alias("y"),
    )
    fences = spark.createDataFrame(
        [
            (1, [(10, 10), (60, 10), (60, 60), (10, 60)]),
            (2, [(50, 0), (99, 50), (50, 99), (0, 50)]),  # diamond
        ],
        "fid long, verts array<struct<x:long,y:long>>",
    )
    src = tmp_path / "pts_stream"
    pts.where("pid % 2 = 0").coalesce(1).write.parquet(str(src / "b1"))
    time.sleep(1.1)
    pts.where("pid % 2 = 1").coalesce(1).write.parquet(str(src / "b2"))

    cat_root = str(tmp_path / "cat")
    kw = dict(
        x_col="x", y_col="y", id_col="pid", poly_id_col="fid",
        vertices_col="verts", cell_size=32,
    )

    def start(ckpt: str):
        stream = (
            spark.readStream.schema(pts.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
        )
        return stream_geofence(
            stream, fences, cat_root, checkpoint_dir=ckpt, **kw
        )

    ckpt = str(tmp_path / "ckpt")
    start(ckpt).awaitTermination(180)

    cat = Catalog(cat_root)
    got = sorted(
        map(tuple, cat.read(spark, "geofence_hits").collect())
    )
    want = sorted(
        map(tuple, point_in_polygon(pts, fences, **kw).collect())
    )
    assert got == want and len(want) > 50

    v_before = cat.manifest()["version"]
    start(ckpt).awaitTermination(180)
    assert Catalog(cat_root).manifest()["version"] == v_before
    assert sorted(
        map(tuple, cat.read(spark, "geofence_hits").collect())
    ) == want


def test_stream_sketches_equals_batch(spark, tmp_path):
    """Streaming events through the sketch maintainer in micro-batches
    materializes EXACTLY the one-shot batch sketches over all rows — the
    KMV, count-min and HLL merge laws make the micro-batch cuts invisible.
    Replay from the same checkpoint is a no-op (batch-id watermark rides
    the same atomic commit as both tables)."""
    from dp1_data_wrangling_spark.operators.sketch import (
        cm_sketch, hll_sketch, kmv_sketch,
    )
    from dp1_data_wrangling_spark.plans.catalog import Catalog
    from dp1_data_wrangling_spark.streaming import stream_sketches
    from dp1_data_wrangling_spark.tables import load_table

    events = load_table(spark, SMOKE_SF, "events")
    src = tmp_path / "events_stream"
    events.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "b1")
    )
    time.sleep(1.1)
    events.where(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b2")
    )

    def start(ckpt: str):
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
        )
        return stream_sketches(
            stream,
            cat_root,
            checkpoint_dir=ckpt,
            value_col="user_id",
            group_cols=["event_type"],
            k=16,
            depth=3,
            width=32,
            hll_p=6,
        )

    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    start(ckpt).awaitTermination(180)

    cat = Catalog(cat_root)
    got_kmv = sorted(
        map(tuple, cat.read(spark, "kmv_sketch").collect())
    )
    got_cm = sorted(map(tuple, cat.read(spark, "cm_sketch").collect()))
    want_kmv = sorted(
        map(
            tuple,
            kmv_sketch(
                events, value_col="user_id", group_cols=["event_type"], k=16
            ).collect(),
        )
    )
    want_cm = sorted(
        map(
            tuple,
            cm_sketch(
                events, value_col="user_id", group_cols=["event_type"],
                depth=3, width=32,
            ).collect(),
        )
    )
    got_hll = sorted(map(tuple, cat.read(spark, "hll_sketch").collect()))
    want_hll = sorted(
        map(
            tuple,
            hll_sketch(
                events, value_col="user_id", group_cols=["event_type"], p=6
            ).collect(),
        )
    )
    assert got_kmv == want_kmv
    assert got_cm == want_cm
    assert got_hll == want_hll

    # replay: same checkpoint, already-committed batches -> tables and
    # catalog version unchanged
    v_before = cat.manifest()["version"]
    start(ckpt).awaitTermination(180)
    assert Catalog(cat_root).manifest()["version"] == v_before
    assert sorted(map(tuple, cat.read(spark, "kmv_sketch").collect())) == want_kmv


def test_stream_sketches_sample_twin_equals_batch(spark, tmp_path):
    """With sample_id_col set, the maintainer also materializes the
    bottom-k uniform sample sketch — exactly the one-shot batch sample
    over all delivered rows (identity-keyed merge law), and quantile
    estimates read off the streamed sketch match the batch ones."""
    from dp1_data_wrangling_spark.operators.sketch import (
        sample_quantiles,
        sample_sketch,
    )
    from dp1_data_wrangling_spark.plans.catalog import Catalog
    from dp1_data_wrangling_spark.streaming import stream_sketches
    from dp1_data_wrangling_spark.tables import load_table

    events = load_table(spark, SMOKE_SF, "events")
    src = tmp_path / "events_stream"
    events.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "b1")
    )
    time.sleep(1.1)
    events.where(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b2")
    )

    cat_root = str(tmp_path / "cat")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    stream_sketches(
        stream,
        cat_root,
        checkpoint_dir=str(tmp_path / "ckpt"),
        value_col="user_id",
        group_cols=["event_type"],
        sample_id_col="event_id",
        sample_keep_cols=["value"],
        k=16,
        depth=3,
        width=32,
    ).awaitTermination(180)

    cat = Catalog(cat_root)
    got = sorted(map(tuple, cat.read(spark, "sample_sketch").collect()))
    want_sketch = sample_sketch(
        events, id_col="event_id", group_cols=["event_type"], k=16,
        keep_cols=["value"],
    )
    want = sorted(map(tuple, want_sketch.collect()))
    assert got == want

    got_q = sorted(
        map(
            tuple,
            sample_quantiles(
                cat.read(spark, "sample_sketch"), value_col="value",
                id_col="event_id", group_cols=["event_type"],
                percents=[50, 90],
            ).collect(),
        )
    )
    want_q = sorted(
        map(
            tuple,
            sample_quantiles(
                want_sketch, value_col="value", id_col="event_id",
                group_cols=["event_type"], percents=[50, 90],
            ).collect(),
        )
    )
    assert got_q == want_q


def test_stream_text_index_equals_batch_build(spark, tmp_path):
    """Postings streamed in micro-batches serve EXACTLY the online
    bm25_topk answer over the accumulated corpus — batch boundaries and
    full-batch redelivery cannot change a score, a rank, or the corpus
    statistics (associative integer sums committed exactly-once)."""
    import time

    from dp1_data_wrangling_spark.operators.retrieval import bm25_topk
    from dp1_data_wrangling_spark.plans import Catalog
    from dp1_data_wrangling_spark.plans.text_index import (
        META_N_DOCS,
        META_SUM_DL,
        bm25_query_index,
        build_text_index,
    )
    from dp1_data_wrangling_spark.streaming import stream_text_index_append

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    seed = docs.filter(F.col("doc_id") % 3 == 0)
    rest = docs.filter(F.col("doc_id") % 3 != 0)
    cat = Catalog(tmp_path / "cat")
    build_text_index(spark, cat, seed)

    src = tmp_path / "docs_stream"
    rest.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.parquet(
        str(src / "b1")
    )
    time.sleep(1.1)
    rest.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.parquet(
        str(src / "b2")
    )
    stream = (
        spark.readStream.schema(rest.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    q = stream_text_index_append(
        stream, str(cat.root), checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    queries = spark.createDataFrame(
        [(1, "hash join"), (2, "window agg stream")],
        ["query_id", "query_text"],
    )
    got = bm25_query_index(spark, cat, queries, 10)
    want = bm25_topk(docs, queries, k=10)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # full redelivery from a FRESH checkpoint: the id anti-join drops
    # every doc, the stats stay exact, the answer is unchanged
    n0, s0 = cat.meta()[META_N_DOCS], cat.meta()[META_SUM_DL]
    q2 = stream_text_index_append(
        stream, str(cat.root), checkpoint_dir=str(tmp_path / "ckpt2")
    )
    q2.awaitTermination(180)
    assert (cat.meta()[META_N_DOCS], cat.meta()[META_SUM_DL]) == (n0, s0)
    got2 = bm25_query_index(spark, cat, queries, 10)
    assert got2.exceptAll(want).count() == 0
    assert want.exceptAll(got2).count() == 0


def test_stream_sketches_hdr_twin_equals_batch(spark, tmp_path):
    """With hdr_col set, the maintainer also materializes the HDR
    log-linear histogram — exactly the one-shot batch sketch over all
    delivered rows (cellwise-additive merge law), under the same atomic
    commit as the KMV/CM tables."""
    from dp1_data_wrangling_spark.operators.changepoint import milli
    from dp1_data_wrangling_spark.operators.sketch import hdr_sketch
    from dp1_data_wrangling_spark.plans.catalog import Catalog
    from dp1_data_wrangling_spark.streaming import stream_sketches
    from dp1_data_wrangling_spark.tables import load_table

    events = load_table(spark, SMOKE_SF, "events").withColumn(
        "v_milli", milli(F.col("value"))
    )
    src = tmp_path / "events_stream"
    events.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "b1")
    )
    time.sleep(1.1)
    events.where(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b2")
    )
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    stream_sketches(
        stream,
        cat_root,
        checkpoint_dir=str(tmp_path / "ckpt"),
        value_col="user_id",
        group_cols=["event_type"],
        hdr_col="v_milli",
        hdr_precision_bits=3,
        k=16,
        depth=3,
        width=32,
    ).awaitTermination(180)
    cat = Catalog(cat_root)
    got = sorted(map(tuple, cat.read(spark, "hdr_sketch").collect()))
    want = sorted(
        map(
            tuple,
            hdr_sketch(
                events, value_col="v_milli", group_cols=["event_type"],
                precision_bits=3,
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_stream_text_index_rebuild_fails_fast(spark, tmp_path):
    """A rebuild under a live appender must abort the stream (generation
    pin), never silently mix postings/statistics across generations."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from dp1_data_wrangling_spark.plans import Catalog
    from dp1_data_wrangling_spark.plans.text_index import build_text_index
    from dp1_data_wrangling_spark.streaming import stream_text_index_append

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    cat = Catalog(tmp_path / "cat")
    build_text_index(spark, cat, docs.filter(F.col("doc_id") % 3 == 0))

    src = tmp_path / "docs_stream"
    docs.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    ckpt = str(tmp_path / "ckpt")
    q = stream_text_index_append(stream, str(cat.root), checkpoint_dir=ckpt)
    q.awaitTermination(180)

    # rebuild: new generation — the next batch from the SAME checkpoint
    # must fail fast instead of appending old-generation postings
    build_text_index(spark, cat, docs.filter(F.col("doc_id") % 3 == 0))
    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.parquet(
        str(src / "b2")
    )
    q2 = stream_text_index_append(stream, str(cat.root), checkpoint_dir=ckpt)
    with pytest.raises(StreamingQueryException, match="rebuilt"):
        q2.awaitTermination(180)


def test_stream_funnel_equals_batch(spark, tmp_path):
    """Funnel micro-batches — including a LATE step-1 event that
    re-anchors an already-converted user's whole chain — must
    materialize exactly funnel_match(all events).  The adversarial
    case: user 1 converts via view@100 -> click@150 -> purchase@200
    (window 100); then view@40 arrives late — the new t1=40 window
    (40, 140] still catches click@150? no: it does NOT (150 > 140), so
    the rebuilt chain stalls at steps_completed=1 — only a raw-log
    rebuild can UN-convert a user.  A brand-new user and a non-step
    event (filtered at ingest) ride the same batch.  Replay from the
    same checkpoint is a no-op."""
    import time as _time

    from dp1_data_wrangling_spark.operators.funnel import funnel_match
    from dp1_data_wrangling_spark.plans import Catalog
    from dp1_data_wrangling_spark.streaming import stream_funnel

    cols = ["user_id", "event_type", "ts_us"]
    b1 = spark.createDataFrame(
        [(1, "view", 100), (1, "click", 150), (1, "purchase", 200),
         (2, "view", 10), (2, "click", 300)],  # stalls: 300 > 10+100
        cols,
    )
    b2 = spark.createDataFrame(
        [(1, "view", 40),        # late: re-anchors t1, UN-converts user 1
         (3, "view", 5), (3, "click", 50), (3, "purchase", 120),
         (3, "signup", 60)],     # non-step type: filtered at ingest
        cols,
    )
    src = tmp_path / "fn_stream"
    b1.coalesce(1).write.parquet(str(src / "b1"))
    _time.sleep(1.1)
    b2.coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    kw = dict(
        checkpoint_dir=ckpt, table="funnel",
        steps=["view", "click", "purchase"], within_us=100,
    )
    stream_funnel(stream, cat_root, **kw).awaitTermination(180)

    out_cols = ["user_id", "t1_us", "t2_us", "t3_us",
                "steps_completed", "converted"]

    def snapshot():
        return sorted(
            map(
                tuple,
                Catalog(cat_root).read(spark, "funnel").select(*out_cols).collect(),
            )
        )

    want = sorted(
        map(
            tuple,
            funnel_match(
                b1.union(b2).filter(
                    F.col("event_type").isin(["view", "click", "purchase"])
                ),
                steps=["view", "click", "purchase"], within_us=100,
            ).select(*out_cols).collect(),
        )
    )
    got = snapshot()
    assert got == want
    by_user = {t[0]: t for t in got}
    # the late view UN-converted user 1: t1 moved to 40 and the chain
    # stalls (click@150 > 140)
    assert by_user[1] == (1, 40, None, None, 1, False)
    assert by_user[2] == (2, 10, None, None, 1, False)
    assert by_user[3] == (3, 5, 50, 120, 3, True)
    # bronze holds ONLY step-type events (the signup filtered at
    # ingest; 5 from b1 + 4 from b2)
    assert Catalog(cat_root).read(spark, "funnel_obs").count() == 9

    # replay: same checkpoint -> already-committed batches skipped
    stream_funnel(stream, cat_root, **kw).awaitTermination(180)
    assert snapshot() == want


def test_stream_funnel_bucket_count_pinned_across_restart(spark, tmp_path):
    """r11 review fix: the bucket count is pinned in the catalog at
    first commit — a restart with a DIFFERENT n_buckets must keep
    rebuilding touched users from their complete log (under the
    mismatched modulus the touched-bucket screen would silently turn
    into a subset screen and drop prior events)."""
    import time as _time

    from dp1_data_wrangling_spark.operators.funnel import funnel_match
    from dp1_data_wrangling_spark.plans import Catalog
    from dp1_data_wrangling_spark.streaming import stream_funnel

    cols = ["user_id", "event_type", "ts_us"]
    b1 = spark.createDataFrame(
        [(u, "view", 100) for u in range(1, 9)]
        + [(u, "click", 150) for u in range(1, 9)],
        cols,
    )
    src = tmp_path / "fp_stream"
    b1.coalesce(1).write.parquet(str(src / "b1"))
    kw = dict(table="funnel", steps=["view", "click", "purchase"],
              within_us=100)
    cat_root = str(tmp_path / "cat")
    stream1 = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1).parquet(f"{src}/*/")
    )
    stream_funnel(
        stream1, cat_root, checkpoint_dir=str(tmp_path / "ck1"),
        n_buckets=16, **kw,
    ).awaitTermination(180)

    # restart with a DIFFERENT n_buckets and a late purchase for every
    # user: each chain must still complete (prior events found)
    b2 = spark.createDataFrame(
        [(u, "purchase", 200) for u in range(1, 9)], cols
    )
    _time.sleep(1.1)
    b2.coalesce(1).write.parquet(str(src / "b2"))
    stream2 = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1).parquet(f"{src}/*/")
    )
    stream_funnel(
        stream2, cat_root, checkpoint_dir=str(tmp_path / "ck2"),
        n_buckets=4, **kw,
    ).awaitTermination(180)

    want = sorted(
        map(
            tuple,
            funnel_match(
                b1.union(b2), steps=["view", "click", "purchase"],
                within_us=100,
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            Catalog(cat_root)
            .read(spark, "funnel")
            .select("user_id", "t1_us", "t2_us", "t3_us",
                    "steps_completed", "converted")
            .collect(),
        )
    )
    assert got == want
    assert all(t[5] for t in got), "every user must have converted"
    # the pin survived: the catalog still records the original count
    assert Catalog(cat_root).meta().get("funnel:funnel:n_buckets") == 16


def test_stream_attribution_equals_batch(spark, tmp_path):
    """The keyed-rebuild attribution twin: any micro-batch cut equals
    linear_attribution(all events).  Adversarial late arrival: user 1
    converts with ONE touch (full credit); a LATE earlier touch lands
    inside the window and the rebuild re-splits the SAME conversion's
    credit across two touches — plus a late conversion for user 2 and
    an irrelevant event type filtered at ingest.  Replay is a no-op."""
    import time as _time

    from dp1_data_wrangling_spark.operators.funnel import linear_attribution
    from dp1_data_wrangling_spark.plans import Catalog
    from dp1_data_wrangling_spark.streaming import stream_attribution

    cols = ["user_id", "event_type", "ts_us", "event_id", "value_milli"]
    b1 = spark.createDataFrame(
        [(1, "click", 100, 11, None),
         (1, "purchase", 200, 12, 9001),
         (2, "click", 50, 21, None),
         (2, "view", 60, 22, None)],
        "user_id long, event_type string, ts_us long, event_id long, "
        "value_milli long",
    )
    b2 = spark.createDataFrame(
        [(1, "view", 90, 13, None),       # late touch: re-splits conv 12
         (2, "purchase", 70, 23, 500),    # late conversion
         (2, "signup", 65, 24, None)],    # irrelevant: filtered at ingest
        b1.schema,
    )
    src = tmp_path / "at_stream"
    b1.coalesce(1).write.parquet(str(src / "b1"))
    _time.sleep(1.1)
    b2.coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    kw = dict(
        checkpoint_dir=str(tmp_path / "ckpt"),
        conversion_type="purchase", touch_types=["view", "click"],
        within_us=1000,
    )
    stream_attribution(stream, cat_root, **kw).awaitTermination(180)

    out_cols = ["conv_id", "touch_id", "user_id", "touch_ts_us",
                "n_touches", "credit_milli"]

    def snapshot():
        return sorted(
            map(
                tuple,
                Catalog(cat_root)
                .read(spark, "attribution").select(*out_cols).collect(),
            )
        )

    want = sorted(
        map(
            tuple,
            linear_attribution(
                b1.union(b2).filter(
                    F.col("event_type").isin(["purchase", "view", "click"])
                ),
                conversion_type="purchase",
                touch_types=["view", "click"], within_us=1000,
            ).select(*out_cols).collect(),
        )
    )
    got = snapshot()
    assert got == want
    # the late touch re-split conv 12: two touches now, 4501 + 4500
    conv12 = sorted(t for t in got if t[0] == 12)
    assert [(t[1], t[4], t[5]) for t in conv12] == [
        (11, 2, 4500), (13, 2, 4501)
    ]
    # bronze filtered the signup at ingest: 6 relevant events total
    assert Catalog(cat_root).read(spark, "attribution_obs").count() == 6
    # replay: no-op
    stream_attribution(stream, cat_root, **kw).awaitTermination(180)
    assert snapshot() == want


def test_keyed_rebuild_legacy_log_disables_screen_and_never_pins(spark, tmp_path):
    """r11 review fix: a bronze log that EXISTS without a bucket pin
    was written under an unknown modulus — the rebuild must disable
    the bucket screen outright (correctness from the semi-join alone)
    and never write a pin, even across restarts with any n_buckets."""
    import time as _time

    from dp1_data_wrangling_spark.operators.funnel import funnel_match
    from dp1_data_wrangling_spark.plans import Catalog
    from dp1_data_wrangling_spark.streaming import stream_funnel

    cols = ["user_id", "event_type", "ts_us"]
    b1 = spark.createDataFrame(
        [(u, "view", 100) for u in range(1, 5)]
        + [(u, "click", 150) for u in range(1, 5)],
        cols,
    )
    cat_root = str(tmp_path / "cat")
    cat = Catalog(cat_root)
    # seed a LEGACY bronze log: bucketed under modulus 32, NO pin in
    # meta (the pre-pin writer), plus its derived silver
    legacy = b1.withColumn(
        "__fn_kb",
        F.pmod(F.xxhash64(F.col("user_id")), F.lit(32)).cast("int"),
    )
    txn = cat.begin()
    txn.stage("funnel_obs", legacy, mode="overwrite",
              partition_by=["__fn_kb"])
    txn.stage(
        "funnel",
        funnel_match(b1, steps=["view", "click", "purchase"],
                     within_us=100),
        mode="overwrite",
    )
    cat.commit(txn)
    assert cat.meta().get("funnel:funnel:n_buckets") is None

    # stream a late purchase for every user with a DIFFERENT modulus:
    # under the old bug touched_kbs (mod 4) would screen out the
    # legacy mod-32 rows; the fix disables the screen for legacy logs
    b2 = spark.createDataFrame(
        [(u, "purchase", 200) for u in range(1, 5)], cols
    )
    src = tmp_path / "lg_stream"
    b2.coalesce(1).write.parquet(str(src / "b2"))
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1).parquet(f"{src}/*/")
    )
    stream_funnel(
        stream, cat_root, checkpoint_dir=str(tmp_path / "ck"),
        table="funnel", steps=["view", "click", "purchase"],
        within_us=100, n_buckets=4,
    ).awaitTermination(180)

    want = sorted(
        map(
            tuple,
            funnel_match(
                b1.union(b2), steps=["view", "click", "purchase"],
                within_us=100,
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            Catalog(cat_root).read(spark, "funnel")
            .select("user_id", "t1_us", "t2_us", "t3_us",
                    "steps_completed", "converted").collect(),
        )
    )
    assert got == want
    assert all(t[5] for t in got), "every legacy chain must complete"
    # no pin was ever written for the unknown-modulus log
    assert Catalog(cat_root).meta().get("funnel:funnel:n_buckets") is None


def test_stream_sessions_equals_batch(spark, tmp_path):
    """Sessionization micro-batches — including a LATE event that lands
    in the gap between two already-materialized sessions and MERGES
    them — must materialize exactly sessionize(all events).  User 1:
    sessions [100,150] and [400,500] under gap 150; the late 280
    bridges both gaps (130 and 120 <= 150) so the rebuilt user has ONE
    session [100,500] with 5 events.  A brand-new two-session user
    rides the same late batch.  Replay from the same checkpoint is a
    no-op."""
    import time as _time

    from dp1_data_wrangling_spark.operators.funnel import sessionize
    from dp1_data_wrangling_spark.plans import Catalog
    from dp1_data_wrangling_spark.streaming import stream_sessions

    cols = ["user_id", "ts_us"]
    b1 = spark.createDataFrame(
        [(1, 100), (1, 150), (1, 400), (1, 500), (2, 10)], cols
    )
    b2 = spark.createDataFrame([(1, 280), (3, 5), (3, 300)], cols)
    src = tmp_path / "ss_stream"
    b1.coalesce(1).write.parquet(str(src / "b1"))
    _time.sleep(1.1)
    b2.coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    kw = dict(checkpoint_dir=str(tmp_path / "ckpt"), table="sessions",
              gap_us=150)
    stream_sessions(stream, cat_root, **kw).awaitTermination(180)

    out_cols = ["user_id", "session_idx", "start_us", "end_us",
                "n_events", "duration_us"]

    def snapshot():
        return sorted(
            map(
                tuple,
                Catalog(cat_root)
                .read(spark, "sessions")
                .select(*out_cols)
                .collect(),
            )
        )

    want = sorted(
        map(
            tuple,
            sessionize(b1.union(b2), gap_us=150).select(*out_cols).collect(),
        )
    )
    got = snapshot()
    assert got == want
    by_user = {}
    for t in got:
        by_user.setdefault(t[0], []).append(t)
    # the late 280 MERGED user 1's two sessions into one
    assert by_user[1] == [(1, 1, 100, 500, 5, 400)]
    assert by_user[3] == [(3, 1, 5, 5, 1, 0), (3, 2, 300, 300, 1, 0)]

    # replay: same checkpoint -> already-committed batches skipped
    stream_sessions(stream, cat_root, **kw).awaitTermination(180)
    assert snapshot() == want


def test_stream_transitions_equals_batch(spark, tmp_path):
    """Transition-matrix micro-batches — including a LATE middle event
    that REWIRES a user's A->C transition into A->B + B->C — must fold
    (via the read-side aggregate) into exactly transition_matrix(all
    events).  Replay from the same checkpoint is a no-op."""
    import time as _time

    from dp1_data_wrangling_spark.operators.funnel import transition_matrix
    from dp1_data_wrangling_spark.streaming import (
        read_transition_matrix,
        stream_transitions,
    )

    cols = ["user_id", "event_type", "ts_us"]
    b1 = spark.createDataFrame(
        [(1, "view", 100), (1, "purchase", 300),
         (2, "view", 10), (2, "click", 20), (2, "view", 40)],
        cols,
    )
    b2 = spark.createDataFrame(
        [(1, "click", 200),      # late: rewires view->purchase
         (3, "signup", 5), (3, "view", 50)],
        cols,
    )
    src = tmp_path / "tm_stream"
    b1.coalesce(1).write.parquet(str(src / "b1"))
    _time.sleep(1.1)
    b2.coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    kw = dict(checkpoint_dir=str(tmp_path / "ckpt"), table="transitions")
    stream_transitions(stream, cat_root, **kw).awaitTermination(180)

    out_cols = ["from_type", "to_type", "n_transitions", "prob_milli"]

    def snapshot():
        return sorted(
            map(
                tuple,
                read_transition_matrix(spark, cat_root)
                .select(*out_cols)
                .collect(),
            )
        )

    want = sorted(
        map(
            tuple,
            transition_matrix(b1.union(b2)).select(*out_cols).collect(),
        )
    )
    got = snapshot()
    assert got == want
    # the late click rewired user 1: no view->purchase cell survives
    assert ("view", "purchase") not in {(t[0], t[1]) for t in got}
    assert ("click", "purchase") in {(t[0], t[1]) for t in got}

    # replay: same checkpoint -> already-committed batches skipped
    stream_transitions(stream, cat_root, **kw).awaitTermination(180)
    assert snapshot() == want


def test_stream_retention_equals_batch(spark, tmp_path):
    """Retention micro-batches — including a LATE event with an EARLIER
    timestamp that RE-COHORTS its user (the cohort week is a min, so
    every cell the user feeds moves) — must fold into exactly
    cohort_retention(all events).  Replay from the same checkpoint is
    a no-op."""
    import time as _time

    from dp1_data_wrangling_spark.operators.funnel import cohort_retention
    from dp1_data_wrangling_spark.streaming import (
        read_retention_cohorts,
        stream_retention,
    )

    WEEK = 604_800_000_000
    cols = ["user_id", "ts_us"]
    b1 = spark.createDataFrame(
        [(1, 5 * WEEK + 10), (1, 6 * WEEK + 10),
         (2, 5 * WEEK + 99), (3, 6 * WEEK)],
        cols,
    )
    b2 = spark.createDataFrame(
        [(1, 3 * WEEK + 1),      # late + earlier: re-cohorts user 1
         (4, 7 * WEEK + 2), (4, 7 * WEEK + 3)],  # same-week dup events
        cols,
    )
    src = tmp_path / "rt_stream"
    b1.coalesce(1).write.parquet(str(src / "b1"))
    _time.sleep(1.1)
    b2.coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    kw = dict(checkpoint_dir=str(tmp_path / "ckpt"), table="retention")
    stream_retention(stream, cat_root, **kw).awaitTermination(180)

    out_cols = ["cohort_week", "week_offset", "n_users"]

    def snapshot():
        return sorted(
            map(
                tuple,
                read_retention_cohorts(spark, cat_root)
                .select(*out_cols)
                .collect(),
            )
        )

    want = sorted(
        map(
            tuple,
            cohort_retention(b1.union(b2)).select(*out_cols).collect(),
        )
    )
    got = snapshot()
    assert got == want
    cells = {(t[0], t[1]): t[2] for t in got}
    # user 1 re-cohorted to week 3: offsets 0, 2, 3 — nothing left at 5
    assert cells[(3, 0)] == 1 and cells[(3, 2)] == 1 and cells[(3, 3)] == 1
    assert cells[(5, 0)] == 1  # only user 2 remains in cohort 5
    assert cells[(7, 0)] == 1  # dup same-week events count once

    # replay: same checkpoint -> already-committed batches skipped
    stream_retention(stream, cat_root, **kw).awaitTermination(180)
    assert snapshot() == want


def test_stream_cohort_ltv_equals_batch(spark, tmp_path):
    """LTV micro-batches — including a LATE event with an EARLIER
    timestamp that RE-COHORTS its user (shifting every cell it feeds
    AND the cohort's size/denominator) and a NULL-revenue activity
    event — must fold into exactly cohort_ltv(all events).  Replay
    from the same checkpoint is a no-op."""
    import time as _time

    from dp1_data_wrangling_spark.operators.funnel import cohort_ltv
    from dp1_data_wrangling_spark.streaming import (
        read_cohort_ltv,
        stream_cohort_ltv,
    )

    WEEK = 604_800_000_000
    cols = "user_id long, ts_us long, vq long"
    b1 = spark.createDataFrame(
        [(1, 5 * WEEK + 10, 500), (1, 6 * WEEK + 10, 250),
         (2, 5 * WEEK + 99, None),          # active, zero revenue
         (3, 6 * WEEK, 1000)],
        cols,
    )
    b2 = spark.createDataFrame(
        [(1, 3 * WEEK + 1, 100),  # late + earlier: re-cohorts user 1
         (4, 7 * WEEK + 2, 40), (4, 7 * WEEK + 3, 60)],  # same week
        cols,
    )
    src = tmp_path / "ltv_stream"
    b1.coalesce(1).write.parquet(str(src / "b1"))
    _time.sleep(1.1)
    b2.coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    kw = dict(checkpoint_dir=str(tmp_path / "ckpt"), table="cohort_ltv")
    stream_cohort_ltv(stream, cat_root, **kw).awaitTermination(180)

    out_cols = [
        "cohort_week", "week_offset", "n_cohort_users", "active_users",
        "revenue_milli", "cum_revenue_milli", "ltv_per_user_milli",
    ]

    def snapshot():
        return sorted(
            map(
                tuple,
                read_cohort_ltv(spark, cat_root)
                .select(*out_cols)
                .collect(),
            )
        )

    want = sorted(
        map(
            tuple,
            cohort_ltv(b1.union(b2)).select(*out_cols).collect(),
        )
    )
    got = snapshot()
    assert got == want
    cells = {(t[0], t[1]): t for t in got}
    # user 1 re-cohorted to week 3: its 500/250 revenue now sits at
    # offsets 2 and 3 of cohort 3, cumulative through offset 3 = 850
    assert cells[(3, 0)][4] == 100 and cells[(3, 2)][4] == 500
    assert cells[(3, 3)][5] == 850
    # cohort 5 kept only user 2 (zero revenue, size 1)
    assert cells[(5, 0)][2] == 1 and cells[(5, 0)][4] == 0
    # user 4's same-week revenue merges into one cell
    assert cells[(7, 0)][4] == 100

    # replay: same checkpoint -> already-committed batches skipped
    stream_cohort_ltv(stream, cat_root, **kw).awaitTermination(180)
    assert snapshot() == want


def test_stream_rank_census_equals_batch(spark, tmp_path):
    """Streaming order values through the census twin in three
    micro-batch cuts: read_rank_tiles == batch rank_tile_summary ==
    the plain NTILE window grouped per tile — invariant to how the
    rows were cut.  Replay from the same checkpoint is a no-op
    (exactly-once: the batch-id watermark commits atomically with the
    census MERGE)."""
    from pyspark.sql import Window

    from dp1_data_wrangling_spark.operators.ranking import rank_tile_summary
    from dp1_data_wrangling_spark.streaming import (
        read_rank_tiles,
        stream_rank_census,
    )

    orders = load_table(spark, SMOKE_SF, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
        "o_orderkey",
    )
    src = tmp_path / "orders_stream"
    for i in range(3):
        orders.where(F.col("o_orderkey") % 3 == i).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    stream_rank_census(
        stream, cat_root, checkpoint_dir=ckpt, metric_col="v"
    ).awaitTermination(180)

    def tiles():
        return {
            r.tier: (r.rank_lo, r.rank_hi, r.n_rows, r.value_lo, r.value_hi)
            for r in read_rank_tiles(spark, cat_root, n_tiles=10).collect()
        }

    got = tiles()

    # batch twin: the same fold over a one-shot census
    census = orders.groupBy(F.col("v").alias("metric_value")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    want = {
        r.tier: (r.rank_lo, r.rank_hi, r.n_rows, r.value_lo, r.value_hi)
        for r in rank_tile_summary(
            census, metric_col="metric_value", count_col="n_rows",
            n_tiles=10,
        ).collect()
    }
    assert got == want

    # ...and the plain SQL window says the same (summary is
    # tie-invariant: any tie column gives these boundaries)
    w = Window.orderBy("v", "o_orderkey")
    want_sql = {
        r.tier: (r.rank_lo, r.rank_hi, r.n_rows, r.value_lo, r.value_hi)
        for r in orders.select(
            "v",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.ntile(10).over(w).alias("tier"),
        )
        .groupBy("tier")
        .agg(
            F.min("rn").alias("rank_lo"),
            F.max("rn").alias("rank_hi"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("v").alias("value_lo"),
            F.max("v").alias("value_hi"),
        )
        .collect()
    }
    assert got == want_sql

    # replay: same checkpoint -> nothing double-counted
    stream_rank_census(
        stream, cat_root, checkpoint_dir=ckpt, metric_col="v"
    ).awaitTermination(180)
    assert tiles() == got


def test_stream_census_cusum_equals_batch(spark, tmp_path):
    """Streaming events through the generic census maintainer in three
    cuts — the THIRD cut delivers LATE events for the earliest days,
    revising already-published period counts (which moves the group
    mean and therefore EVERY position's CUSUM statistic) —
    read_cusum_alarms == the batch detector over the full day census.
    Replay from the same checkpoint is a no-op."""
    from dp1_data_wrangling_spark.operators.changepoint import (
        cusum_changepoints,
    )
    from dp1_data_wrangling_spark.streaming import (
        read_cusum_alarms,
        stream_census,
    )

    DAY_US = 86_400_000_000
    rows = []
    eid = 0
    for day in range(30):
        # planted level shift: ~3 events/day for days 0-14, ~9 for 15-29
        n = 3 if day < 15 else 9
        for j in range(n):
            rows.append(("view", day * DAY_US + j * 1000, eid))
            eid += 1
    events = spark.createDataFrame(rows, "event_type string, ts_us long, event_id long")

    src = tmp_path / "ev_stream"
    # cuts: days 10-29 first (two batches), then the LATE days 0-9
    events.where("ts_us >= 10 * 86400000000 and ts_us < 20 * 86400000000").coalesce(
        1
    ).write.parquet(str(src / "b1"))
    time.sleep(1.1)
    events.where("ts_us >= 20 * 86400000000").coalesce(1).write.parquet(
        str(src / "b2")
    )
    time.sleep(1.1)
    events.where("ts_us < 10 * 86400000000").coalesce(1).write.parquet(
        str(src / "b3")
    )

    keyed = lambda df: df.select(  # noqa: E731 - shared projection
        "event_type", F.expr("ts_us div 86400000000").alias("day")
    )
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    stream_census(
        keyed(stream), cat_root, checkpoint_dir=ckpt,
        table="day_census", key_cols=["event_type", "day"],
    ).awaitTermination(180)

    def alarms():
        return {
            (r.event_type, r.seq, r.direction): (
                r.stat_scaled, r.threshold_scaled
            )
            for r in read_cusum_alarms(
                spark, cat_root, table="day_census",
                group_cols=["event_type"], order_col="day",
                slack_milli=1000, threshold_milli=5000,
            ).collect()
        }

    got = alarms()
    assert got, "the planted volume shift must alarm"

    census = keyed(events).groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    want = {
        (r.event_type, r.seq, r.direction): (r.stat_scaled, r.threshold_scaled)
        for r in cusum_changepoints(
            census, value_col="n_rows", order_cols=["day"],
            group_cols=["event_type"], slack_milli=1000,
            threshold_milli=5000,
        ).collect()
    }
    assert got == want

    # replay: same checkpoint -> nothing double-counted
    stream_census(
        keyed(stream), cat_root, checkpoint_dir=ckpt,
        table="day_census", key_cols=["event_type", "day"],
    ).awaitTermination(180)
    assert alarms() == got


def test_stream_census_grid_hotspots_equals_batch(spark, tmp_path):
    """Streaming points through the census maintainer in three cuts —
    the LAST cut lands points in already-published cells (revising
    those cells AND their eight neighbors' concentration) —
    read_grid_hotspots == the batch grid_hotspots screen over all
    points.  Replay from the same checkpoint is a no-op."""
    from dp1_data_wrangling_spark.operators.spatial import (
        grid_cells,
        grid_hotspots,
    )
    from dp1_data_wrangling_spark.streaming import (
        read_grid_hotspots,
        stream_census,
    )

    rows = []
    pid = 0
    for x in range(-20, 21, 2):
        for y in range(-20, 21, 2):
            # a dense blob near the origin, sparse elsewhere
            reps = 6 if abs(x) + abs(y) <= 6 else 1
            for _ in range(reps):
                rows.append((pid, x, y))
                pid += 1
    pts = spark.createDataFrame(rows, "pid long, x long, y long")

    src = tmp_path / "pts_stream"
    pts.where("pid % 3 = 0").coalesce(1).write.parquet(str(src / "b1"))
    time.sleep(1.1)
    pts.where("pid % 3 = 1").coalesce(1).write.parquet(str(src / "b2"))
    time.sleep(1.1)
    pts.where("pid % 3 = 2").coalesce(1).write.parquet(str(src / "b3"))

    stream = (
        spark.readStream.schema(pts.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    cells = lambda df: grid_cells(df, x_col="x", y_col="y", cell=5)  # noqa: E731
    stream_census(
        cells(stream), cat_root, checkpoint_dir=ckpt,
        table="cell_census", key_cols=["cell_x", "cell_y"],
    ).awaitTermination(180)

    def hot():
        return {
            (r.cell_x, r.cell_y): (r.n, r.n_neigh, r.concentration_milli)
            for r in read_grid_hotspots(
                spark, cat_root, table="cell_census", min_count=2
            ).collect()
        }

    got = hot()
    assert got, "the dense blob must emit hotspot rows"
    want = {
        (r.cell_x, r.cell_y): (r.n, r.n_neigh, r.concentration_milli)
        for r in grid_hotspots(
            pts, x_col="x", y_col="y", cell=5, min_count=2
        ).collect()
    }
    assert got == want

    stream_census(
        cells(stream), cat_root, checkpoint_dir=ckpt,
        table="cell_census", key_cols=["cell_x", "cell_y"],
    ).awaitTermination(180)
    assert hot() == got


def test_stream_census_benford_equals_batch(spark, tmp_path):
    """Streaming amounts through the census maintainer (digit
    projection) in three cuts — the LAST cut delivers LATE amounts
    that revise already-published digit counts (moving each group's
    total and therefore EVERY digit's Pearson term) —
    read_benford == the batch benford_screen over all amounts.
    Replay from the same checkpoint is a no-op."""
    from dp1_data_wrangling_spark.operators.stats import (
        benford_digit_projection,
        benford_screen,
    )
    from dp1_data_wrangling_spark.streaming import (
        read_benford,
        stream_census,
    )

    rows = []
    aid = 0
    for grp in ("ops", "fraud"):
        for i in range(1, 301):
            # ops ~ Benford-ish (geometric spread); fraud = constrained
            # amounts clustered on high first digits
            amt = (i * i * 37 + 11) if grp == "ops" else (80_000 + i * 13)
            rows.append((grp, amt, aid))
            aid += 1
    amounts = spark.createDataFrame(rows, "grp string, amount long, aid long")

    src = tmp_path / "amt_stream"
    amounts.where("aid % 3 = 0").coalesce(1).write.parquet(str(src / "b1"))
    time.sleep(1.1)
    amounts.where("aid % 3 = 1").coalesce(1).write.parquet(str(src / "b2"))
    time.sleep(1.1)
    amounts.where("aid % 3 = 2").coalesce(1).write.parquet(str(src / "b3"))

    stream = (
        spark.readStream.schema(amounts.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    digits = lambda df: benford_digit_projection(  # noqa: E731
        df, value_col="amount", group_cols=["grp"]
    )
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    stream_census(
        digits(stream), cat_root, checkpoint_dir=ckpt,
        table="digit_census", key_cols=["grp", "digit"],
    ).awaitTermination(180)

    def screen():
        return {
            (r.grp, r.digit): (
                r.n_obs, r.n_total, r.exp_ppm, r.contrib_milli, r.chi2_milli
            )
            for r in read_benford(
                spark, cat_root, table="digit_census", group_cols=["grp"]
            ).collect()
        }

    got = screen()
    assert len(got) == 18  # dense nine-digit grid per group
    want = {
        (r.grp, r.digit): (
            r.n_obs, r.n_total, r.exp_ppm, r.contrib_milli, r.chi2_milli
        )
        for r in benford_screen(
            amounts, value_col="amount", group_cols=["grp"]
        ).collect()
    }
    assert got == want
    # the constrained group must read far less conformal
    assert got[("fraud", 8)][4] > got[("ops", 1)][4]

    stream_census(
        digits(stream), cat_root, checkpoint_dir=ckpt,
        table="digit_census", key_cols=["grp", "digit"],
    ).awaitTermination(180)
    assert screen() == got


def test_stream_census_seasonal_equals_batch(spark, tmp_path):
    """Streaming valued events through the weighted census maintainer
    (sum_cols) in three cuts — the LAST cut delivers LATE events that
    revise already-published positions' (count, sum), moving the key
    totals and therefore EVERY position's ratio-to-mean index —
    read_seasonal_profile == the batch seasonal_profile over all
    events.  Replay from the same checkpoint is a no-op."""
    from dp1_data_wrangling_spark.operators.timeseries import (
        seasonal_census_projection,
        seasonal_profile,
    )
    from dp1_data_wrangling_spark.streaming import (
        read_seasonal_profile,
        stream_census,
    )

    HOUR_US = 3_600_000_000
    rows = []
    eid = 0
    for day in range(14):
        for hour in range(24):
            # a daily shape: load peaks mid-day, plus a NULL-value row
            # every 7th slot (mean semantics: must not census)
            v = 10.0 + 8.0 * (1 if 9 <= hour <= 17 else 0) + (day % 3)
            rows.append(("api", (day * 24 + hour) * HOUR_US, v, eid))
            eid += 1
            if (day * 24 + hour) % 7 == 0:
                rows.append(("api", (day * 24 + hour) * HOUR_US + 5, None, eid))
                eid += 1
    events = spark.createDataFrame(
        rows, "svc string, ts_us long, load double, eid long"
    )

    src = tmp_path / "load_stream"
    events.where("eid % 3 = 0").coalesce(1).write.parquet(str(src / "b1"))
    time.sleep(1.1)
    events.where("eid % 3 = 1").coalesce(1).write.parquet(str(src / "b2"))
    time.sleep(1.1)
    events.where("eid % 3 = 2").coalesce(1).write.parquet(str(src / "b3"))

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    proj = lambda df: seasonal_census_projection(  # noqa: E731
        df, ts_col="ts_us", value_col="load", bucket_us=HOUR_US,
        period=24, quant_scale=1000, key_cols=["svc"],
    )
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    stream_census(
        proj(stream), cat_root, checkpoint_dir=ckpt,
        table="pos_census", key_cols=["svc", "__pos"],
        sum_cols={"sum_q": "__vq"},
    ).awaitTermination(180)

    def profile():
        return {
            (r.svc, r.position): (r.n_obs, r.mean_milli, r.index_milli)
            for r in read_seasonal_profile(
                spark, cat_root, table="pos_census", key_cols=["svc"]
            ).collect()
        }

    got = profile()
    assert len(got) == 24
    want = {
        (r.svc, r.position): (r.n_obs, r.mean_milli, r.index_milli)
        for r in seasonal_profile(
            events, ts_col="ts_us", value_col="load", bucket_us=HOUR_US,
            period=24, key_cols=["svc"],
        ).collect()
    }
    assert got == want
    # the mid-day peak must index above 1000 milli, the night below
    assert got[("api", 12)][2] > 1000 > got[("api", 3)][2]

    stream_census(
        proj(stream), cat_root, checkpoint_dir=ckpt,
        table="pos_census", key_cols=["svc", "__pos"],
        sum_cols={"sum_q": "__vq"},
    ).awaitTermination(180)
    assert profile() == got


def test_stream_census_simpson_equals_batch(spark, tmp_path):
    """Streaming categorized rows through the census maintainer in
    three cuts — the LAST cut delivers LATE rows that revise category
    counts (moving N and the whole pair-draw probability) —
    read_simpson == the batch simpson_concentration over all rows.
    Replay from the same checkpoint is a no-op."""
    from dp1_data_wrangling_spark.operators.stats import (
        simpson_concentration,
    )
    from dp1_data_wrangling_spark.streaming import (
        read_simpson,
        stream_census,
    )

    rows = []
    rid = 0
    for src in ("web", "api"):
        for i in range(300):
            # web is concentrated (3 langs, one dominant), api is mixed
            lang = (
                ["en", "en", "en", "de", "fr"][i % 5]
                if src == "web"
                else f"l{i % 20}"
            )
            rows.append((src, lang, rid))
            rid += 1
    docs = spark.createDataFrame(rows, "source string, lang string, rid long")

    src_dir = tmp_path / "docs_stream"
    docs.where("rid % 3 = 0").coalesce(1).write.parquet(str(src_dir / "b1"))
    time.sleep(1.1)
    docs.where("rid % 3 = 1").coalesce(1).write.parquet(str(src_dir / "b2"))
    time.sleep(1.1)
    docs.where("rid % 3 = 2").coalesce(1).write.parquet(str(src_dir / "b3"))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/*/")
    )
    proj = lambda df: df.select("source", "lang")  # noqa: E731
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    stream_census(
        proj(stream), cat_root, checkpoint_dir=ckpt,
        table="lang_census", key_cols=["source", "lang"],
    ).awaitTermination(180)

    def idx():
        return {
            r.source: (r.n_rows, r.n_categories, r.simpson_ppm)
            for r in read_simpson(
                spark, cat_root, table="lang_census", group_cols=["source"]
            ).collect()
        }

    got = idx()
    want = {
        r.source: (r.n_rows, r.n_categories, r.simpson_ppm)
        for r in simpson_concentration(
            docs, item_col="lang", group_cols=["source"]
        ).collect()
    }
    assert got == want
    # the concentrated source must read a higher index than the mixed
    assert got["web"][2] > got["api"][2]

    stream_census(
        proj(stream), cat_root, checkpoint_dir=ckpt,
        table="lang_census", key_cols=["source", "lang"],
    ).awaitTermination(180)
    assert idx() == got


def test_stream_census_classification_equals_batch(spark, tmp_path):
    """Streaming labeled predictions through the census maintainer in
    three cuts, then a LATE cut that revises already-published
    confusion cells (moving tp/fp/fn and every rate derived from
    them) — read_classification_report == the batch report over all
    delivered rows at every point.  Replay is a no-op."""
    from dp1_data_wrangling_spark.operators.agreement import (
        classification_report,
    )
    from dp1_data_wrangling_spark.streaming import (
        read_classification_report,
        stream_census,
    )

    classes = ["view", "click", "buy"]
    rows = []
    for i in range(600):
        actual = classes[i % 3]
        # a deterministic mislabeler: every 5th event reads as "click"
        pred = "click" if i % 5 == 0 else actual
        rows.append(("m1" if i % 2 else "m2", actual, pred, i))
    events = spark.createDataFrame(
        rows, "model string, actual string, predicted string, i long"
    )
    src = tmp_path / "clf_stream"
    events.where("i % 3 = 0").coalesce(1).write.parquet(str(src / "b1"))
    time.sleep(1.1)
    events.where("i % 3 = 1").coalesce(1).write.parquet(str(src / "b2"))

    def run():
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
        )
        stream_census(
            stream.select("model", "actual", "predicted"),
            str(tmp_path / "cat"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            table="confusion_census",
            key_cols=["model", "actual", "predicted"],
        ).awaitTermination(180)

    def report():
        return {
            (r.model, r.label_class): (
                r.tp, r.fp, r.fn, r.support,
                r.precision_ppm, r.recall_ppm, r.f1_ppm,
            )
            for r in read_classification_report(
                spark, str(tmp_path / "cat"),
                table="confusion_census", group_cols=["model"],
            ).collect()
        }

    def batch(pred):
        return {
            (r.model, r.label_class): (
                r.tp, r.fp, r.fn, r.support,
                r.precision_ppm, r.recall_ppm, r.f1_ppm,
            )
            for r in classification_report(
                events.where(pred),
                actual_col="actual",
                predicted_col="predicted",
                group_cols=["model"],
            ).collect()
        }

    run()
    assert report() == batch("i % 3 < 2")
    # the LATE cut revises already-published cells
    time.sleep(1.1)
    events.where("i % 3 = 2").coalesce(1).write.parquet(str(src / "b3"))
    run()
    got = report()
    assert got == batch("true")
    # the planted mislabeler reads through: click precision degraded,
    # other classes' recall at exactly 800k ppm
    assert got[("m2", "view")][5] == 800_000
    assert got[("m2", "click")][4] < 750_000
    run()  # replay no-op
    assert report() == got


def test_stream_census_kappa_equals_batch(spark, tmp_path):
    """Streaming rater pairs through the census maintainer with a LATE
    cut that moves n, both marginal vectors and the chance-expected
    term S — read_cohens_kappa == batch cohens_kappa over all
    delivered ratings, including a worse-than-chance group."""
    from dp1_data_wrangling_spark.operators.agreement import cohens_kappa
    from dp1_data_wrangling_spark.streaming import (
        read_cohens_kappa,
        stream_census,
    )

    rows = []
    for i in range(400):
        a = str(i % 3)
        # "good": 10% disagreement; "adv": avoids agreement 3/4 of the time
        rows.append(("good", a, a if i % 10 else str((i + 1) % 3), i))
        rows.append(("adv", a, str((i + 1 + i % 2) % 3) if i % 4 else a, i))
    ratings = spark.createDataFrame(
        rows, "team string, rater_a string, rater_b string, i long"
    )
    src = tmp_path / "rate_stream"
    ratings.where("i % 2 = 0").coalesce(1).write.parquet(str(src / "b1"))

    def run():
        stream = (
            spark.readStream.schema(ratings.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
        )
        stream_census(
            stream.select("team", "rater_a", "rater_b"),
            str(tmp_path / "cat"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            table="agree_census",
            key_cols=["team", "rater_a", "rater_b"],
        ).awaitTermination(180)

    def agreement():
        return {
            r.team: (r.n_items, r.n_agree, r.po_ppm, r.pe_ppm, r.kappa_ppm)
            for r in read_cohens_kappa(
                spark, str(tmp_path / "cat"),
                table="agree_census", group_cols=["team"],
            ).collect()
        }

    def batch(pred):
        return {
            r.team: (r.n_items, r.n_agree, r.po_ppm, r.pe_ppm, r.kappa_ppm)
            for r in cohens_kappa(
                ratings.where(pred),
                rater_a_col="rater_a",
                rater_b_col="rater_b",
                group_cols=["team"],
            ).collect()
        }

    run()
    assert agreement() == batch("i % 2 = 0")
    time.sleep(1.1)
    ratings.where("i % 2 = 1").coalesce(1).write.parquet(str(src / "b2"))
    run()
    got = agreement()
    assert got == batch("true")
    assert got["adv"][4] < 0 < got["good"][4]
    run()  # replay no-op
    assert agreement() == got


def test_read_heavy_hitters_exact_topk(spark, tmp_path):
    """The maintained key census folds to EXACT top-k heavy hitters —
    equal to the batch groupBy-count ordering at every cut, with the
    k-boundary tie resolved by the stated key order, and a late cut
    re-ranking the board."""
    import pytest as _pt

    from dp1_data_wrangling_spark.streaming import (
        read_heavy_hitters,
        stream_census,
    )

    rows = []
    i = 0
    # skewed key frequencies: key_j appears (20 - j) * 3 times
    for j in range(15):
        for _ in range((20 - j) * 3):
            rows.append((f"k{j:02d}", i))
            i += 1
    events = spark.createDataFrame(rows, "key string, i long")
    src = tmp_path / "hh_stream"
    events.where("i % 2 = 0").coalesce(1).write.parquet(str(src / "b1"))

    def run():
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
        )
        stream_census(
            stream.select("key"),
            str(tmp_path / "cat"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            table="key_census",
            key_cols=["key"],
        ).awaitTermination(180)

    def top(k):
        return [
            (r.key, r.n_rows)
            for r in read_heavy_hitters(
                spark, str(tmp_path / "cat"),
                table="key_census", key_cols=["key"], k=k,
            ).collect()
        ]

    def batch_top(pred, k):
        import collections

        c = collections.Counter(
            key for key, i in rows if eval(pred, {"i": i})
        )
        return sorted(
            c.items(), key=lambda kv: (-kv[1], kv[0])
        )[:k]

    run()
    assert top(5) == batch_top("i % 2 == 0", 5)
    time.sleep(1.1)
    events.where("i % 2 = 1").coalesce(1).write.parquet(str(src / "b2"))
    run()
    assert top(5) == batch_top("True", 5)
    # full depth: ties (none here) would resolve by key order; k past
    # the census size returns the whole census
    assert top(100) == batch_top("True", 100)
    with _pt.raises(ValueError):
        read_heavy_hitters(
            spark, str(tmp_path / "cat"),
            table="key_census", key_cols=["key"], k=0,
        )


def test_stream_census_srm_equals_batch(spark, tmp_path):
    """Streaming assignment units through the census maintainer with a
    LATE cut that pushes a healthy split over the flag line —
    read_srm == batch srm_check over all delivered units at every
    point.  Replay is a no-op."""
    from dp1_data_wrangling_spark.operators.stats import srm_check
    from dp1_data_wrangling_spark.streaming import read_srm, stream_census

    rows = []
    # "ok": clean 50/50.  "drift": the first cut is balanced, the late
    # cut delivers treated-only units (the logging-loss shape).
    for i in range(400):
        rows.append(("ok", i % 2, i))
        rows.append(("drift", i % 2 if i < 200 else 1, i))
    units = spark.createDataFrame(rows, "exp string, arm long, i long")
    src = tmp_path / "srm_stream"
    units.where("i < 200").coalesce(1).write.parquet(str(src / "b1"))

    def run():
        stream = (
            spark.readStream.schema(units.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
        )
        stream_census(
            stream.select("exp", "arm"),
            str(tmp_path / "cat"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            table="assign_census",
            key_cols=["exp", "arm"],
        ).awaitTermination(180)

    def gate():
        return {
            r.exp: (
                r.n_units, r.n_trt, r.n_ctl, r.observed_trt_ppm,
                r.expected_trt_ppm, r.srm_chi2_milli, r.srm_flag,
            )
            for r in read_srm(
                spark, str(tmp_path / "cat"),
                table="assign_census", group_cols=["exp"],
            ).collect()
        }

    def batch(pred):
        return {
            r.exp: (
                r.n_units, r.n_trt, r.n_ctl, r.observed_trt_ppm,
                r.expected_trt_ppm, r.srm_chi2_milli, r.srm_flag,
            )
            for r in srm_check(
                units.where(pred), arm_col="arm", group_cols=["exp"],
            ).collect()
        }

    run()
    first = gate()
    assert first == batch("i < 200")
    assert first["drift"][6] is False  # balanced so far: no alarm
    time.sleep(1.1)
    units.where("i >= 200").coalesce(1).write.parquet(str(src / "b2"))
    run()
    got = gate()
    assert got == batch("true")
    assert got["drift"][6] is True and got["ok"][6] is False
    run()  # replay no-op
    assert gate() == got


def test_stream_census_ohlc_equals_batch(spark, tmp_path):
    """Streaming ticks through the min/max-extended census maintainer:
    a LATE cut delivers an EARLIER tick into an existing bucket
    (revising its OPEN — the case bounded incremental first/last
    state gets wrong) and a new extreme (revising HIGH) —
    read_ohlc == the batch ohlc over all delivered ticks at every
    point.  Replay is a no-op."""
    from dp1_data_wrangling_spark.operators.timeseries import (
        ohlc,
        ohlc_census_projection,
    )
    from dp1_data_wrangling_spark.streaming import read_ohlc, stream_census

    rows = []
    for sym, base in (("AA", 100.0), ("BB", 50.0)):
        for t in range(60):
            # price walks deterministically; tick ids unique per symbol
            rows.append((sym, t * 10, t, base + (t * 7) % 13 - 6))
    ticks = spark.createDataFrame(
        rows, "sym string, ts long, tick_id long, price double"
    )
    src = tmp_path / "tick_stream"
    # first cut: every bucket's EARLIEST ticks withheld (ts%200 >= 100
    # goes first), so the late cut rewrites opens; also withhold the
    # global max price tick
    ticks.where("ts % 200 >= 100").coalesce(1).write.parquet(str(src / "b1"))

    def project(df):
        return ohlc_census_projection(
            df, ts_col="ts", value_col="price", step_us=200,
            key_cols=["sym"], tie_cols=["tick_id"],
        )

    def run():
        stream = (
            spark.readStream.schema(ticks.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
        )
        stream_census(
            project(stream),
            str(tmp_path / "cat"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            table="tick_census",
            key_cols=["sym", "bucket"],
            min_cols={"__lo": "__v", "__first": "__ord"},
            max_cols={"__hi": "__v", "__last": "__ord"},
        ).awaitTermination(180)

    def candles():
        return {
            (r.sym, r.bucket): (r.open, r.high, r.low, r.close, r.n_events)
            for r in read_ohlc(
                spark, str(tmp_path / "cat"),
                table="tick_census", key_cols=["sym"],
            ).collect()
        }

    def batch(pred):
        return {
            (r.sym, r.bucket): (r.open, r.high, r.low, r.close, r.n_events)
            for r in ohlc(
                ticks.where(pred), ts_col="ts", value_col="price",
                step_us=200, key_cols=["sym"], tie_cols=["tick_id"],
            ).collect()
        }

    run()
    first = candles()
    assert first == batch("ts % 200 >= 100")
    time.sleep(1.1)
    ticks.where("ts % 200 < 100").coalesce(1).write.parquet(str(src / "b2"))
    run()
    got = candles()
    assert got == batch("true")
    # the late cut actually REVISED the opens (every bucket's earliest
    # ticks arrived last)
    assert any(got[k][0] != first[k][0] for k in first)
    run()  # replay no-op
    assert candles() == got


def test_stream_census_profile_equals_batch(spark, tmp_path):
    """Streaming rows through the per-column profile census with a LATE
    cut that raises a column's null rate and extends its length extrema
    — read_table_profile == the batch profiler (minus n_distinct, the
    one statistic with no associative form) at every point.  Covers an
    all-NULL string column (n_empty 0, NULL extrema) and a non-string
    column (NULL n_empty/extrema)."""
    from dp1_data_wrangling_spark.operators.profile import (
        profile_census_projection,
        profile_table,
    )
    from dp1_data_wrangling_spark.streaming import (
        read_table_profile,
        stream_census,
    )

    rows = []
    for i in range(300):
        rows.append(
            (
                i,
                None if i % 3 == 0 else ("" if i % 7 == 0 else "x" * (i % 40 + 1)),
                None,  # all-NULL string column
                float(i),
            )
        )
    data = spark.createDataFrame(
        rows, "id long, txt string, dead string, v double"
    )
    str_cols = ["txt", "dead"]
    src = tmp_path / "prof_stream"
    data.where("id % 2 = 0").coalesce(1).write.parquet(str(src / "b1"))

    def run():
        stream = (
            spark.readStream.schema(data.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
        )
        stream_census(
            profile_census_projection(stream),
            str(tmp_path / "cat"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            table="profile_census",
            key_cols=["column_name"],
            sum_cols={"n_nulls": "__null", "n_empty": "__empty"},
            min_cols={"min_len": "__len"},
            max_cols={"max_len": "__len"},
        ).awaitTermination(180)

    cols = ["n_rows", "n_nulls", "n_empty", "min_len", "max_len"]

    def live():
        return {
            r.column_name: tuple(r[c] for c in cols)
            for r in read_table_profile(
                spark, str(tmp_path / "cat"),
                table="profile_census", string_cols=str_cols,
            ).collect()
        }

    def batch(pred):
        return {
            r.column_name: tuple(r[c] for c in cols)
            for r in profile_table(data.where(pred)).collect()
        }

    run()
    first = live()
    assert first == batch("id % 2 = 0")
    time.sleep(1.1)
    data.where("id % 2 = 1").coalesce(1).write.parquet(str(src / "b2"))
    run()
    got = live()
    assert got == batch("true")
    # the late cut revised the profile: more rows, wider extrema
    assert got["txt"][0] == 300 and got["txt"][0] > first["txt"][0]
    assert got["txt"][4] >= first["txt"][4]
    # contracts: all-NULL string col reads 0 empties + NULL extrema;
    # non-string col reads NULL n_empty
    assert got["dead"] == (300, 300, 0, None, None)
    assert got["v"][2] is None
    run()  # replay no-op
    assert live() == got


def test_stream_census_post_strat_equals_batch(spark, tmp_path):
    """Streaming experiment units through the cell-census maintainer:
    the first cut delivers a CONFOUNDED slice (high-baseline stratum
    mostly treated, its control units withheld), the late cut delivers
    the missing controls — read_post_strat_ate == batch post_strat_ate
    over all delivered units at every point, and the late cut visibly
    moves the corrected ATE (cross-stratum damage bounded incremental
    state cannot express).  Replay is a no-op."""
    from dp1_data_wrangling_spark.operators.stats import (
        post_strat_ate,
        post_strat_census_projection,
    )
    from dp1_data_wrangling_spark.streaming import (
        read_post_strat_ate,
        stream_census,
    )

    rows = []
    for i in range(600):
        stratum = ["lo", "hi", "mid"][i % 3]
        arm = 1 if (i // 3) % 4 < (3 if stratum == "hi" else 1) else 0
        base = {"lo": 10.0, "mid": 50.0, "hi": 200.0}[stratum]
        val = None if i % 53 == 0 else base + arm * 5 + (i * 7) % 11
        # withhold hi-stratum CONTROL units from the first cut
        late = stratum == "hi" and arm == 0
        rows.append(("exp1", stratum, arm, val, late))
    units = spark.createDataFrame(
        rows, "g string, stratum string, arm long, val double, late boolean"
    )
    src = tmp_path / "ps_stream"
    units.where("not late").coalesce(1).write.parquet(str(src / "b1"))

    def run():
        stream = (
            spark.readStream.schema(units.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
        )
        stream_census(
            post_strat_census_projection(
                stream,
                arm_col="arm",
                stratum_col="stratum",
                value_col="val",
                group_cols=["g"],
            ),
            str(tmp_path / "cat"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            table="ps_census",
            key_cols=["g", "stratum", "arm"],
            sum_cols={"n_meas": "__meas", "sum_vq": "__vq"},
        ).awaitTermination(180)

    def live():
        return {
            r.g: tuple(r)[1:]
            for r in read_post_strat_ate(
                spark,
                str(tmp_path / "cat"),
                table="ps_census",
                group_cols=["g"],
            ).collect()
        }

    def batch(pred):
        return {
            r.g: tuple(r)[1:]
            for r in post_strat_ate(
                units.where(pred),
                arm_col="arm",
                stratum_col="stratum",
                value_col="val",
                group_cols=["g"],
            ).collect()
        }

    run()
    first = live()
    assert first == batch("not late")
    # hi stratum has no controls yet: excluded from the weighted fold
    assert first["exp1"][1] == 2  # n_strata_used (lo, mid only)
    time.sleep(1.1)
    units.where("late").coalesce(1).write.parquet(str(src / "b2"))
    run()
    got = live()
    assert got == batch("true")
    assert got["exp1"][1] == 3  # the late controls admit the hi stratum
    assert got["exp1"][5] != first["exp1"][5]  # ate_milli revised
    run()  # replay no-op
    assert live() == got


def test_stream_census_cuped_equals_batch(spark, tmp_path):
    """Streaming experiment units through the cross-moment census
    maintainer: the late cut delivers high-covariate units into ONE
    arm, which moves the POOLED theta and therefore the adjustment of
    both arms — read_cuped_ate == batch cuped_adjusted_ate over all
    delivered units at every point.  Replay is a no-op."""
    from dp1_data_wrangling_spark.operators.stats import (
        cuped_adjusted_ate,
        cuped_census_projection,
    )
    from dp1_data_wrangling_spark.streaming import (
        read_cuped_ate,
        stream_census,
    )

    rows = []
    for i in range(500):
        arm = i % 2
        cov = float((i * 13) % 97)
        val = None if i % 61 == 0 else cov * 0.4 + arm * 3 + (i * 5) % 7
        # the late cut: treated-arm units from the top covariate band
        late = arm == 1 and cov > 80
        rows.append(("exp1", arm, val, cov, late))
    units = spark.createDataFrame(
        rows, "g string, arm long, val double, cov double, late boolean"
    )
    src = tmp_path / "cuped_stream"
    units.where("not late").coalesce(1).write.parquet(str(src / "b1"))

    def run():
        stream = (
            spark.readStream.schema(units.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
        )
        stream_census(
            cuped_census_projection(
                stream,
                arm_col="arm",
                value_col="val",
                covariate_col="cov",
                group_cols=["g"],
            ),
            str(tmp_path / "cat"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            table="cuped_census",
            key_cols=["g", "arm"],
            sum_cols={
                "sum_y": "__y",
                "sum_x": "__x",
                "sum_xy": "__xy",
                "sum_xx": "__xx",
            },
        ).awaitTermination(180)

    def live():
        return {
            r.g: tuple(r)[1:]
            for r in read_cuped_ate(
                spark,
                str(tmp_path / "cat"),
                table="cuped_census",
                group_cols=["g"],
            ).collect()
        }

    def batch(pred):
        return {
            r.g: tuple(r)[1:]
            for r in cuped_adjusted_ate(
                units.where(pred),
                arm_col="arm",
                value_col="val",
                covariate_col="cov",
                group_cols=["g"],
            ).collect()
        }

    run()
    first = live()
    assert first == batch("not late")
    time.sleep(1.1)
    units.where("late").coalesce(1).write.parquet(str(src / "b2"))
    run()
    got = live()
    assert got == batch("true")
    # the one-sided late covariate band moved theta AND the adjustment
    assert got["exp1"][3] != first["exp1"][3]  # theta_milli
    assert got["exp1"][5] is not None  # ate_cuped_milli reports
    run()  # replay no-op
    assert live() == got


def test_stream_read_psi_equals_batch(spark, tmp_path):
    """One census, both metrics: after the KS monitor drains, read_psi
    over its maintained census equals binned_psi(ref, all delivered
    rows) bit-exactly — no new state, no second pass.  A second cut
    revises bins and the PSI re-derives."""
    from dp1_data_wrangling_spark.operators.stats import binned_psi
    from dp1_data_wrangling_spark.streaming import read_psi, stream_ks_drift

    ref = spark.createDataFrame(
        [(float(v % 100),) for v in range(400)], "v double"
    )
    cur_rows = [(float((v * 37) % 140),) for v in range(300)]
    b1 = spark.createDataFrame(cur_rows[:180], "v double")
    b2 = spark.createDataFrame(cur_rows[180:], "v double")
    src = tmp_path / "psi_stream"
    b1.coalesce(1).write.parquet(str(src / "b1"))
    cat_root = str(tmp_path / "cat")
    kw = dict(
        checkpoint_dir=str(tmp_path / "ckpt"), value_col="v",
        n_bins=10, quant_scale=1000,
    )

    def run():
        stream = (
            spark.readStream.schema(b1.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
        )
        stream_ks_drift(stream, ref, cat_root, **kw).awaitTermination(180)

    def live():
        return sorted(
            map(
                tuple,
                read_psi(
                    spark, ref, cat_root, value_col="v",
                    n_bins=10, quant_scale=1000,
                ).collect(),
            )
        )

    def batch(cur):
        return sorted(
            map(
                tuple,
                binned_psi(
                    ref, cur, value_col="v", n_bins=10, quant_scale=1000
                ).collect(),
            )
        )

    run()
    first = live()
    assert first == batch(b1) and len(first) == 10
    time.sleep(1.1)
    b2.coalesce(1).write.parquet(str(src / "b2"))
    run()
    got = live()
    assert got == batch(b1.union(b2))
    assert got != first  # the second cut moved the index


def test_stream_census_kruskal_equals_batch(spark, tmp_path):
    """Streaming three-arm metric units through the census maintainer
    in three cuts — the LAST cut delivers LATE units that revise value
    cells (moving every midrank above them, the arm rank sums and the
    tie correction) — read_kruskal_wallis == the batch kruskal_wallis
    over all delivered units.  Replay from the same checkpoint is a
    no-op."""
    import random

    from dp1_data_wrangling_spark.operators.stats import kruskal_wallis
    from dp1_data_wrangling_spark.streaming import (
        read_kruskal_wallis,
        stream_census,
    )

    random.seed(23)
    rows = []
    for rid in range(600):
        g = f"g{rid % 2}"
        arm = ["a", "b", "c"][random.randint(0, 2)]
        v = random.randint(0, 30) + (5 if arm == "b" and g == "g0" else 0)
        rows.append((g, arm, v, rid))
    units = spark.createDataFrame(
        rows, "grp string, arm string, v long, rid long"
    )

    src_dir = tmp_path / "units_stream"
    units.where("rid % 3 = 0").coalesce(1).write.parquet(str(src_dir / "b1"))
    time.sleep(1.1)
    units.where("rid % 3 = 1").coalesce(1).write.parquet(str(src_dir / "b2"))
    time.sleep(1.1)
    units.where("rid % 3 = 2").coalesce(1).write.parquet(str(src_dir / "b3"))

    stream = (
        spark.readStream.schema(units.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/*/")
    )
    proj = lambda df: df.select("grp", "arm", F.col("v").alias("value"))  # noqa: E731
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    stream_census(
        proj(stream), cat_root, checkpoint_dir=ckpt,
        table="kw_census", key_cols=["grp", "arm", "value"],
    ).awaitTermination(180)

    def idx():
        return {
            r.grp: (r.n, r.n_arms, r.t3, r.h_milli, r.h_adj_milli,
                    r.eps2_milli)
            for r in read_kruskal_wallis(
                spark, cat_root, table="kw_census", group_cols=["grp"],
            ).collect()
        }

    got = idx()
    want = {
        r.grp: (r.n, r.n_arms, r.t3, r.h_milli, r.h_adj_milli,
                r.eps2_milli)
        for r in kruskal_wallis(
            units, arm_col="arm", value_col="v", group_cols=["grp"]
        ).collect()
    }
    assert got == want
    # the planted arm shift must carry the signal
    assert got["g0"][4] > got["g1"][4]

    stream_census(
        proj(stream), cat_root, checkpoint_dir=ckpt,
        table="kw_census", key_cols=["grp", "arm", "value"],
    ).awaitTermination(180)
    assert idx() == got


def test_stream_census_nelson_aalen_equals_batch(spark, tmp_path):
    """Streaming resolved subjects through the census maintainer in
    three cuts — a LATE subject with a long duration lifts n_risk for
    every EARLIER duration's already-published term (at-risk counts
    subjects with duration >= t), so the whole curve re-derives —
    read_nelson_aalen == batch nelson_aalen over all delivered
    subjects.  Replay is a no-op."""
    import random

    from dp1_data_wrangling_spark.operators.survival import nelson_aalen
    from dp1_data_wrangling_spark.streaming import (
        read_nelson_aalen,
        stream_census,
    )

    random.seed(29)
    rows = [
        (
            f"c{rid % 2}",
            random.randint(0, 20),
            1 if random.random() < 0.6 else 0,
            rid,
        )
        for rid in range(500)
    ]
    subj = spark.createDataFrame(rows, "cohort string, t long, e int, rid long")

    src_dir = tmp_path / "subj_stream"
    subj.where("rid % 3 = 0").coalesce(1).write.parquet(str(src_dir / "b1"))
    time.sleep(1.1)
    subj.where("rid % 3 = 1").coalesce(1).write.parquet(str(src_dir / "b2"))
    time.sleep(1.1)
    subj.where("rid % 3 = 2").coalesce(1).write.parquet(str(src_dir / "b3"))

    stream = (
        spark.readStream.schema(subj.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/*/")
    )
    proj = lambda df: df.select(  # noqa: E731
        "cohort", F.col("t").alias("duration"), F.col("e").alias("__ev")
    )
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    stream_census(
        proj(stream), cat_root, checkpoint_dir=ckpt,
        table="na_census", key_cols=["cohort", "duration"],
        sum_cols={"n_events": "__ev"},
    ).awaitTermination(180)

    def idx():
        return {
            (r.cohort, r.duration): (
                r.n_risk, r.n_events, r.n_censored, r.cumhaz_scaled
            )
            for r in read_nelson_aalen(
                spark, cat_root, table="na_census", group_cols=["cohort"],
            ).collect()
        }

    got = idx()
    want = {
        (r.cohort, r.duration): (
            r.n_risk, r.n_events, r.n_censored, r.cumhaz_scaled
        )
        for r in nelson_aalen(
            subj, duration_col="t", event_col="e", group_cols=["cohort"]
        ).collect()
    }
    assert got == want

    stream_census(
        proj(stream), cat_root, checkpoint_dir=ckpt,
        table="na_census", key_cols=["cohort", "duration"],
        sum_cols={"n_events": "__ev"},
    ).awaitTermination(180)
    assert idx() == got


def test_stream_census_log_rank_equals_batch(spark, tmp_path):
    """Streaming a two-arm retention experiment through the census
    maintainer in three cuts — the late cut's subjects revise at-risk
    counts across event times — read_log_rank == batch log_rank_test
    over all delivered subjects, including the degenerate one-armed
    group's NULL.  Replay is a no-op."""
    import random

    from dp1_data_wrangling_spark.operators.survival import log_rank_test
    from dp1_data_wrangling_spark.streaming import (
        read_log_rank,
        stream_census,
    )

    random.seed(31)
    rows = []
    for rid in range(500):
        g = f"c{rid % 2}"
        arm = random.randint(0, 1)
        # planted effect in c0: treatment survives longer
        t = random.randint(0, 15) + (6 if arm == 1 and g == "c0" else 0)
        e = 1 if random.random() < 0.7 else 0
        rows.append((g, arm, t, e, rid))
    rows += [("onearm", 0, 3, 1, 9001), ("onearm", 0, 5, 0, 9002)]
    subj = spark.createDataFrame(
        rows, "cohort string, arm int, t long, e int, rid long"
    )

    src_dir = tmp_path / "lr_stream"
    subj.where("rid % 3 = 0").coalesce(1).write.parquet(str(src_dir / "b1"))
    time.sleep(1.1)
    subj.where("rid % 3 = 1").coalesce(1).write.parquet(str(src_dir / "b2"))
    time.sleep(1.1)
    subj.where("rid % 3 = 2").coalesce(1).write.parquet(str(src_dir / "b3"))

    stream = (
        spark.readStream.schema(subj.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/*/")
    )
    proj = lambda df: df.select(  # noqa: E731
        "cohort", F.col("t").alias("duration"), "arm",
        F.col("e").alias("__ev"),
    )
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    stream_census(
        proj(stream), cat_root, checkpoint_dir=ckpt,
        table="lr_census", key_cols=["cohort", "duration", "arm"],
        sum_cols={"n_events": "__ev"},
    ).awaitTermination(180)

    def idx():
        return {
            r.cohort: (r.n_a, r.n_b, r.o_a, r.e_a_ppm, r.v_ppm,
                       r.chi2_milli)
            for r in read_log_rank(
                spark, cat_root, table="lr_census", group_cols=["cohort"],
            ).collect()
        }

    got = idx()
    want = {
        r.cohort: (r.n_a, r.n_b, r.o_a, r.e_a_ppm, r.v_ppm, r.chi2_milli)
        for r in log_rank_test(
            subj, duration_col="t", event_col="e", arm_col="arm",
            group_cols=["cohort"],
        ).collect()
    }
    assert got == want
    assert got["onearm"][5] is None
    # the planted retention effect must carry the signal
    assert got["c0"][5] > got["c1"][5]

    stream_census(
        proj(stream), cat_root, checkpoint_dir=ckpt,
        table="lr_census", key_cols=["cohort", "duration", "arm"],
        sum_cols={"n_events": "__ev"},
    ).awaitTermination(180)
    assert idx() == got


def test_stream_census_cmh_equals_batch(spark, tmp_path):
    """Streaming a confounded stratified conversion experiment through
    the census maintainer in three cuts — the late cut revises 2x2
    cells (moving stratum E/V and the pooled sums) — read_cmh == the
    batch cmh_test over all delivered units.  Replay is a no-op."""
    import random

    from dp1_data_wrangling_spark.operators.stats import cmh_test
    from dp1_data_wrangling_spark.streaming import read_cmh, stream_census

    random.seed(37)
    rows = []
    for rid in range(1200):
        g, st = f"g{rid % 2}", f"s{rid % 3}"
        arm = 1 if random.random() < (0.75 if st == "s0" else 0.25) else 0
        base = 0.5 if st == "s0" else 0.2
        lift = 0.2 if (arm == 1 and g == "g0") else 0.0
        rows.append(
            (g, st, arm, 1 if random.random() < base + lift else 0, rid)
        )
    units = spark.createDataFrame(
        rows, "grp string, stratum string, arm int, y int, rid long"
    )

    src_dir = tmp_path / "cmh_stream"
    units.where("rid % 3 = 0").coalesce(1).write.parquet(str(src_dir / "b1"))
    time.sleep(1.1)
    units.where("rid % 3 = 1").coalesce(1).write.parquet(str(src_dir / "b2"))
    time.sleep(1.1)
    units.where("rid % 3 = 2").coalesce(1).write.parquet(str(src_dir / "b3"))

    stream = (
        spark.readStream.schema(units.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/*/")
    )
    proj = lambda df: df.select(  # noqa: E731
        "grp", "stratum", "arm", F.col("y").alias("__y")
    )
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    stream_census(
        proj(stream), cat_root, checkpoint_dir=ckpt,
        table="cmh_census", key_cols=["grp", "stratum", "arm"],
        sum_cols={"n_conv": "__y"},
    ).awaitTermination(180)

    def idx():
        return {
            r.grp: (r.n_strata, r.n_units, r.o_t, r.e_t_ppm, r.v_ppm,
                    r.chi2_milli, r.or_milli)
            for r in read_cmh(
                spark, cat_root, table="cmh_census", group_cols=["grp"],
            ).collect()
        }

    got = idx()
    want = {
        r.grp: (r.n_strata, r.n_units, r.o_t, r.e_t_ppm, r.v_ppm,
                r.chi2_milli, r.or_milli)
        for r in cmh_test(
            units, arm_col="arm", outcome_col="y", stratum_col="stratum",
            group_cols=["grp"],
        ).collect()
    }
    assert got == want
    assert got["g0"][5] > got["g1"][5]

    stream_census(
        proj(stream), cat_root, checkpoint_dir=ckpt,
        table="cmh_census", key_cols=["grp", "stratum", "arm"],
        sum_cols={"n_conv": "__y"},
    ).awaitTermination(180)
    assert idx() == got


def test_stream_census_anova_equals_batch(spark, tmp_path):
    """Streaming three-arm metric units through the moment-census
    maintainer in three cuts — the late cut revises arm moments
    (moving the grand mean and every between-group term) — read_anova
    == the batch oneway_anova over all delivered units.  Replay is a
    no-op."""
    import random

    from dp1_data_wrangling_spark.operators.stats import oneway_anova
    from dp1_data_wrangling_spark.streaming import read_anova, stream_census

    random.seed(41)
    rows = []
    for rid in range(600):
        g = f"g{rid % 2}"
        arm = ["a", "b", "c"][random.randint(0, 2)]
        v = random.randint(0, 500) + (150 if arm == "c" and g == "g0" else 0)
        rows.append((g, arm, v, rid))
    units = spark.createDataFrame(
        rows, "grp string, arm string, vq long, rid long"
    )

    src_dir = tmp_path / "anova_stream"
    units.where("rid % 3 = 0").coalesce(1).write.parquet(str(src_dir / "b1"))
    time.sleep(1.1)
    units.where("rid % 3 = 1").coalesce(1).write.parquet(str(src_dir / "b2"))
    time.sleep(1.1)
    units.where("rid % 3 = 2").coalesce(1).write.parquet(str(src_dir / "b3"))

    stream = (
        spark.readStream.schema(units.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/*/")
    )
    proj = lambda df: df.filter(F.col("vq").isNotNull()).select(  # noqa: E731
        "grp", "arm", "vq", (F.col("vq") * F.col("vq")).alias("__vq2")
    )
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    stream_census(
        proj(stream), cat_root, checkpoint_dir=ckpt,
        table="anova_census", key_cols=["grp", "arm"],
        sum_cols={"sum_vq": "vq", "sumsq_vq": "__vq2"},
    ).awaitTermination(180)

    def idx():
        return {
            r.grp: (r.n, r.n_arms, r.f_milli, r.eta2_ppm)
            for r in read_anova(
                spark, cat_root, table="anova_census", group_cols=["grp"],
            ).collect()
        }

    got = idx()
    want = {
        r.grp: (r.n, r.n_arms, r.f_milli, r.eta2_ppm)
        for r in oneway_anova(
            units, arm_col="arm", value_col="vq", group_cols=["grp"]
        ).collect()
    }
    assert got == want
    assert got["g0"][2] > got["g1"][2]

    stream_census(
        proj(stream), cat_root, checkpoint_dir=ckpt,
        table="anova_census", key_cols=["grp", "arm"],
        sum_cols={"sum_vq": "vq", "sumsq_vq": "__vq2"},
    ).awaitTermination(180)
    assert idx() == got
