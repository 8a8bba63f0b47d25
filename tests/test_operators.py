"""Operator-semantics unit tests (SURVEY.md §5.2.3 property tests)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dp1_data_wrangling_spark import fixtures as fx
from dp1_data_wrangling_spark.operators.chains import (
    flatten_chain_driver,
    flatten_chains_distributed,
)
from dp1_data_wrangling_spark.operators.dedup import (
    minhash_candidate_pairs,
    simhash_candidate_pairs,
)
from dp1_data_wrangling_spark.operators.find_first import find_first
from dp1_data_wrangling_spark.operators.intervals import (
    check_no_overlaps,
    overlapping_pairs,
)
from dp1_data_wrangling_spark.operators.multimodal import (
    decode_media_stub,
    extract_features,
    media_from_documents,
)
from dp1_data_wrangling_spark.operators.similarity import brute_force_topk, lsh_topk
from dp1_data_wrangling_spark.tables import load_table

from .conftest import SMOKE_SF


# --- chain flattening (J6) -------------------------------------------------


def test_chain_flatten_nested_ordering():
    chains = [
        ("root", "mid", 0),
        ("root", "c", 1),
        ("mid", "b", 1),
        ("mid", "a", 0),
    ]
    types = {"root": "CHAINED", "mid": "CHAINED", "a": "RUN", "b": "RUN", "c": "RUN"}
    assert flatten_chain_driver(chains, types, "root") == ["a", "b", "c"]


def test_chain_flatten_dedups_first_occurrence_wins():
    chains = [("root", "a", 0), ("root", "mid", 1), ("mid", "a", 0), ("mid", "b", 1)]
    types = {"root": "CHAINED", "mid": "CHAINED", "a": "RUN", "b": "RUN"}
    assert flatten_chain_driver(chains, types, "root") == ["a", "b"]


def test_chain_flatten_cycle_raises():
    chains = [("root", "mid", 0), ("mid", "root", 0)]
    types = {"root": "CHAINED", "mid": "CHAINED"}
    with pytest.raises(ValueError, match="cycle"):
        flatten_chain_driver(chains, types, "root")


def test_chain_flatten_distributed_matches_driver(spark):
    chains_df = fx.build_collection_chains(spark)
    out = flatten_chains_distributed(chains_df, "chain_root").collect()
    assert sorted((r["child"], r["position"]) for r in out) == [
        (f"run_{i}", i) for i in range(5)
    ]


def test_chain_flatten_distributed_nested_depth_order(spark):
    """Leaves at unequal depths keep depth-first order (path-vector
    ordering — a scalar parent*K+child encoding misorders these)."""
    rows = [("root", "A", 0), ("root", "X", 1), ("A", "B", 1), ("A", "C", 0)]
    chains_df = spark.createDataFrame(rows, "parent string, child string, position int")
    got = {
        r["child"]: r["position"]
        for r in flatten_chains_distributed(chains_df, "root").collect()
    }
    assert got == {"C": 0, "B": 1, "X": 2}
    # matches the driver recursion on the same input
    types = {"root": "CHAINED", "A": "CHAINED", "B": "RUN", "C": "RUN", "X": "RUN"}
    assert flatten_chain_driver(rows, types, "root") == ["C", "B", "X"]


def test_chain_flatten_distributed_first_occurrence_dedup(spark):
    rows = [("root", "a", 0), ("root", "mid", 1), ("mid", "a", 0), ("mid", "b", 1)]
    chains_df = spark.createDataFrame(rows, "parent string, child string, position int")
    got = {
        r["child"]: r["position"]
        for r in flatten_chains_distributed(chains_df, "root").collect()
    }
    assert got == {"a": 0, "b": 1}


def test_chain_flatten_distributed_cycle_raises(spark):
    rows = [("root", "mid", 0), ("mid", "root", 0)]
    chains_df = spark.createDataFrame(rows, "parent string, child string, position int")
    with pytest.raises(ValueError, match="cycle or depth"):
        flatten_chains_distributed(chains_df, "root", max_depth=8)


# --- find-first invariants (J4/W1) ----------------------------------------


@pytest.fixture(scope="module")
def resolved(spark):
    from dp1_data_wrangling_spark.operators.chains import flatten_chains

    datasets = fx.build_datasets(spark, SMOKE_SF)
    chain = flatten_chains(
        spark, fx.build_collection_chains(spark), fx.build_collections(spark), "chain_root"
    )
    return datasets, find_first(datasets, chain, ["customer", "nation"], collection_col="run")


def test_find_first_one_row_per_data_id(resolved):
    datasets, out = resolved
    dups = out.groupBy("customer", "nation").count().filter(F.col("count") > 1)
    assert dups.isEmpty()
    assert (
        out.select("customer", "nation").distinct().count()
        == datasets.select("customer", "nation").distinct().count()
    )


def test_find_first_result_subset_of_input(resolved):
    datasets, out = resolved
    assert out.join(datasets, "dataset_id", "left_anti").isEmpty()


def test_find_first_calibration_bypass_keeps_all(spark, resolved):
    from dp1_data_wrangling_spark.operators.chains import flatten_chains

    datasets, _ = resolved
    chain = flatten_chains(
        spark, fx.build_collection_chains(spark), fx.build_collections(spark), "chain_root"
    )
    kept = find_first(
        datasets, chain, ["customer", "nation"], collection_col="run", is_calibration=True
    )
    assert kept.count() == datasets.count()


# --- intervals (J7) --------------------------------------------------------


def test_certify_accepts_disjoint_and_rejects_overlap(spark):
    disjoint = spark.createDataFrame(
        [("k", 0, 10), ("k", 10, 20), ("k", 25, 30)],
        "key string, begin_nsec long, end_nsec long",
    )
    check_no_overlaps(disjoint, ["key"])  # no raise: [0,10) then [10,20) touch
    overlapping = spark.createDataFrame(
        [("k", 0, 10), ("k", 9, 20)], "key string, begin_nsec long, end_nsec long"
    )
    with pytest.raises(ValueError, match="overlapping"):
        check_no_overlaps(overlapping, ["key"])


def test_null_bounds_are_unbounded(spark):
    rows = spark.createDataFrame(
        [("k", None, 10), ("k", 20, None)], "key string, begin_nsec long, end_nsec long"
    )
    assert overlapping_pairs(rows, ["key"]).isEmpty()
    rows2 = spark.createDataFrame(
        [("k", None, None), ("k", 5, 6)], "key string, begin_nsec long, end_nsec long"
    )
    assert not overlapping_pairs(rows2, ["key"]).isEmpty()


# --- dedup family ----------------------------------------------------------


def test_minhash_recalls_mutant_pairs(spark):
    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    mutants = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    pairs = minhash_candidate_pairs(docs.unionByName(mutants))
    expected = {r["doc_id"] for r in docs.filter(F.col("doc_id") % 25 == 0).collect()}
    got = {
        r["id_a"]
        for r in pairs.filter(F.col("id_b") == F.col("id_a") + 1_000_000).collect()
    }
    # a ' zz' suffix appended beyond the 200-char normalization prefix can
    # only change signatures of docs shorter than the prefix; recall must
    # still be near-total on this corpus
    assert len(got) >= 0.9 * len(expected)


def test_two_pass_mega_bucket_escape_hatch(spark):
    """pairs_from_band_keys(two_pass=True): result-identical to the
    one-pass form, and the executed plan semi-joins the key stream
    against the distinct-count filter BEFORE the collect_set aggregate —
    so an adversarial mega bucket (here: one band key shared by 5,000
    ids under max_bucket_size=10) is dropped by a count, never buffered
    as a member list."""
    from dp1_data_wrangling_spark.operators.dedup import pairs_from_band_keys

    keys = spark.range(5_000).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band"),
        # ids 0..4999 share one mega band key; ids 0..9 also share a
        # small legitimate bucket in band 1
        F.lit("deadbeef").alias("band_key"),
    ).unionByName(
        spark.range(10).select(
            F.col("id").alias("doc_id"),
            F.lit(1).alias("band"),
            F.lit("cafe").alias("band_key"),
        )
    )
    one = pairs_from_band_keys(keys, max_bucket_size=10)
    two = pairs_from_band_keys(keys, max_bucket_size=10, two_pass=True)
    rows1 = sorted(tuple(r) for r in one.collect())
    rows2 = sorted(tuple(r) for r in two.collect())
    assert rows1 == rows2
    assert len(rows2) == 45  # C(10,2) from the small bucket only
    plan = two._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, "two-pass form must pre-filter via semi-join"
    # the semi-join (reading bottom-up) must occur below the collect_set
    # aggregate: the hot key is eliminated by counts before any member
    # list is buffered
    assert "collect_set" in plan
    assert plan.index("collect_set") < plan.index("LeftSemi"), (
        "semi-join must feed the collect_set aggregate, not follow it"
    )


def test_simhash_two_pass_mega_bucket_escape_hatch(spark):
    """simhash_candidate_pairs(two_pass=True): result-identical to the
    one-pass capped form, and the executed plan semi-joins the key
    stream against the distinct-count filter BEFORE the member-list
    aggregate — the r10 port of the MinHash mega-bucket valve.  Fixture:
    5,000 identical one-word docs all land in the same four chunk
    buckets (way over max_bucket_size=10), plus 10 docs sharing a
    different word that form a legitimate small bucket."""
    from dp1_data_wrangling_spark.operators.dedup import simhash_candidate_pairs

    docs = spark.range(5_000).select(
        F.col("id").alias("doc_id"), F.lit("aaaa bbbb cccc").alias("text")
    ).unionByName(
        spark.range(10_000, 10_010).select(
            F.col("id").alias("doc_id"), F.lit("xxxx yyyy").alias("text")
        )
    )
    one = simhash_candidate_pairs(docs, max_bucket_size=10)
    two = simhash_candidate_pairs(docs, max_bucket_size=10, two_pass=True)
    rows1 = sorted(tuple(r) for r in one.collect())
    rows2 = sorted(tuple(r) for r in two.collect())
    assert rows1 == rows2
    assert len(rows2) == 45  # C(10,2) from the small bucket only
    plan = two._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, "two-pass form must pre-filter via semi-join"
    assert "collect_list" in plan
    # bottom-up plan string: the semi-join must feed the collect_list
    # aggregate (appear AFTER it in the printed top-down tree), so the
    # hot chunk value is eliminated by a count, never buffered
    assert plan.index("collect_list") < plan.index("LeftSemi"), (
        "semi-join must feed the collect_list aggregate, not follow it"
    )
    with pytest.raises(ValueError):
        simhash_candidate_pairs(docs, two_pass=True)


def test_simhash_mutants_have_small_hamming(spark):
    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text").limit(100)
    mutants = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    pairs = simhash_candidate_pairs(docs.unionByName(mutants))
    mutant_pairs = pairs.filter(F.col("id_b") == F.col("id_a") + 1_000_000)
    assert not mutant_pairs.isEmpty()
    assert mutant_pairs.agg(F.max("hamming")).collect()[0][0] <= 8


# --- similarity ------------------------------------------------------------


def test_lsh_recall_vs_brute_force(spark):
    emb = load_table(spark, SMOKE_SF, "embeddings")
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    exact = brute_force_topk(probes, emb, k=5)
    # fixture embeddings are near-orthogonal (random), the hardest case for
    # hyperplane LSH — wide buckets + many tables still must beat the
    # ~25% random-candidate baseline by a clear margin
    approx = lsh_topk(probes, emb, k=5, dim=64, n_planes=4, n_tables=16)
    exact_pairs = {(r["probe_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_pairs = {(r["probe_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_ivf_recall_vs_brute_force(spark):
    from dp1_data_wrangling_spark.operators.similarity import ivf_topk

    emb = load_table(spark, SMOKE_SF, "embeddings")
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    exact = brute_force_topk(probes, emb, k=5)
    # nprobe=8 of 16 cells visits ~half the corpus; near-orthogonal random
    # vectors are the worst case, so the bar is a clear win over the 50%
    # random baseline, not ANN-benchmark recall.
    approx = ivf_topk(probes, emb, k=5, n_cells=16, nprobe=8)
    exact_pairs = {(r["probe_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_pairs = {(r["probe_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_ivf_pq_recall_margin_over_driver_bound(spark):
    """The driver gate asserts recall >= 0.6; this pins the shipped
    config's MARGIN at >= 0.75 on the sf0.01 fixture (measured 0.86 —
    deterministic, so any codebook/quantizer tweak that erodes recall
    fires here long before it can skirt the driver bound; the r9 config
    sat at 0.68 on sf0.1, an 0.08 margin the r9 verdict called too
    thin).  Knob law lives in q_ivf_pq_recall_bound's docstring."""
    from dp1_data_wrangling_spark.operators.similarity import ivf_pq_topk

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    exact = brute_force_topk(probes, emb, k=5)
    n = emb.count()
    approx = ivf_pq_topk(
        probes, emb, k=5, dim=64, n_cells=16, nprobe=12, m=16,
        k_codes=16, shortlist=max(50, -(-n // 12)),
    )
    exact_pairs = {(r["probe_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_pairs = {(r["probe_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.75, f"IVF-PQ margin eroded: {recall}"


def test_ivf_assignment_is_deterministic_partition_invariant(spark):
    """Centroid choice and cell assignment must not depend on input
    partitioning (md5-derived sample, not zipWithIndex/monotonic id)."""
    from dp1_data_wrangling_spark.operators.similarity import ivf_topk

    emb = load_table(spark, SMOKE_SF, "embeddings")
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    a = ivf_topk(probes, emb, k=3, n_cells=8, nprobe=2).collect()
    b = ivf_topk(probes.repartition(7), emb.repartition(13), k=3, n_cells=8, nprobe=2).collect()
    assert sorted(((r["probe_id"], r["rank"], r["neighbor_id"]) for r in a)) == sorted(
        ((r["probe_id"], r["rank"], r["neighbor_id"]) for r in b)
    ), "IVF result depends on partitioning"


def test_cosine_self_similarity(spark):
    emb = load_table(spark, SMOKE_SF, "embeddings").limit(10)
    from dp1_data_wrangling_spark.operators.similarity import cosine

    out = emb.select(
        F.round(cosine(F.col("embedding"), F.col("embedding")), 6).alias("s")
    ).collect()
    assert all(abs(r["s"] - 1.0) < 1e-9 for r in out)


def test_dot_null_on_length_mismatch(spark):
    """dot(a, b) is NULL when size(a) != size(b), in either direction, and
    the exact sum when the sizes match."""
    from dp1_data_wrangling_spark.operators.similarity import dot

    df = spark.createDataFrame(
        [(1, [1.0, 2.0], [3.0, 4.0]), (2, [1.0, 2.0], [3.0]), (3, [1.0], [3.0, 4.0])],
        "k int, a array<double>, b array<double>",
    )
    out = df.select("k", dot(F.col("a"), F.col("b")).alias("d")).collect()
    got = {r["k"]: r["d"] for r in out}
    assert got == {1: 11.0, 2: None, 3: None}


# --- multimodal ------------------------------------------------------------


def test_multimodal_plumbing(spark):
    docs = load_table(spark, SMOKE_SF, "documents")
    feats = extract_features(media_from_documents(docs))
    rows = feats.limit(5).collect()
    assert all(len(r["features"]) == 8 for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r["features"])
    # deterministic: same payload -> same features
    again = extract_features(media_from_documents(docs)).limit(5).collect()
    assert rows == again


def test_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        decode_media_stub(b"bytes", "image/png")


def test_media_codecs_roundtrip():
    """The pure-numpy codecs: encode→decode is the identity for PPM (P6),
    BMP (24-bit, row padding + bottom-up order), and WAV (PCM16, chunk
    walk); compressed magics still route to the honest stub."""
    import numpy as np

    from dp1_data_wrangling_spark.operators import multimodal as mm

    rng = np.random.default_rng(7)
    for h, w in [(1, 1), (5, 7), (12, 19), (16, 4)]:
        arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert (mm.decode_ppm(mm.encode_ppm(arr)) == arr).all()
        # w=7, w=19, w=4 exercise all 4-byte row paddings (21, 57, 12 B rows)
        assert (mm.decode_bmp(mm.encode_bmp(arr)) == arr).all()
    # PPM header grammar: comments + arbitrary whitespace
    p = b"P6\n# a comment\n3 2\n255\n" + bytes(range(18))
    assert mm.decode_ppm(p).shape == (2, 3, 3)
    for n in [1, 10, 443]:
        s = rng.integers(-2048, 2048, n).astype(np.int16)
        rate, out = mm.decode_wav(mm.encode_wav(8000, s))
        assert rate == 8000 and (out == s).all()
    arr = rng.integers(0, 256, (3, 3, 3), dtype=np.uint8)
    assert mm.decode_media(mm.encode_ppm(arr), "x")[0] == "image"
    assert mm.decode_media(mm.encode_bmp(arr), "x")[0] == "image"
    assert mm.decode_media(mm.encode_wav(44100, s), "x")[0] == "audio"
    assert mm.decode_media(mm.encode_png(arr), "x")[0] == "image"
    with pytest.raises(NotImplementedError):  # lossy codecs stay stubbed
        mm.decode_media(b"\xff\xd8\xff\xe0jpeg", "image/jpeg")
    with pytest.raises(NotImplementedError):
        mm.decode_media(None, "image/png")


def test_png_codec_roundtrip_all_filters():
    """stdlib-zlib PNG (round 8): encode→decode is the identity under
    every filter type (None/Sub/Up/Average/Paeth) and mixed per-row
    filters; corrupt CRCs, truncation, and unsupported color types fail
    loudly."""
    import struct

    import numpy as np

    from dp1_data_wrangling_spark.operators import multimodal as mm

    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (5, 7), (12, 19), (3, 40)]:
        arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        for filters in [None, [1], [2], [3], [4], [0, 1, 2, 3, 4]]:
            assert (
                mm.decode_png(mm.encode_png(arr, filters=filters)) == arr
            ).all(), (h, w, filters)
    # gradients favor the predictive filters — exercise Paeth's all-three
    # predictor branches on smooth content too
    g = (
        np.arange(10)[:, None, None] * 3
        + np.arange(20)[None, :, None] * 7
        + np.arange(3)[None, None, :]
    ).astype(np.uint8)
    assert (mm.decode_png(mm.encode_png(g, filters=[4])) == g).all()
    # grayscale (color type 0): roundtrips through every filter and
    # decodes to replicated RGB so downstream stats see one raster shape
    gray = rng.integers(0, 256, (6, 11), dtype=np.uint8)
    for filters in [None, [1], [2], [3], [4], [0, 4, 3, 2, 1]]:
        out = mm.decode_png(mm.encode_png(gray, filters=filters))
        assert out.shape == (6, 11, 3) and (out == gray[:, :, None]).all()
    good = mm.encode_png(g)
    bad = bytearray(good)
    bad[30] ^= 0xFF  # flip a bit inside the IHDR body
    with pytest.raises(ValueError, match="CRC"):
        mm.decode_png(bytes(bad))
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_png(good[:-20])
    # RGBA (color type 6) is rejected descriptively, not mis-decoded
    ihdr = struct.pack(">IIBBBBB", 3, 3, 8, 6, 0, 0, 0)
    rgba = (
        b"\x89PNG\r\n\x1a\n"
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="color type"):
        mm.decode_png(rgba)


def test_decode_wav_rejects_stereo_and_truncation():
    """Malformed WAVs fail loudly like the other codecs: a 2-channel fmt
    (frame slicing would misread interleaved samples as mono time), a
    data chunk whose declared size overruns the buffer, and an odd-sized
    PCM16 data chunk are all descriptive ValueErrors — never a silent
    short decode."""
    import struct

    import numpy as np

    from dp1_data_wrangling_spark.operators import multimodal as mm

    good = mm.encode_wav(8000, np.arange(16, dtype=np.int16))
    # fmt chunk starts at offset 20 (RIFF+size+WAVE+'fmt '+size);
    # channels is the 2nd uint16 of the fmt body.
    stereo = bytearray(good)
    struct.pack_into("<H", stereo, 22, 2)
    with pytest.raises(ValueError, match="mono"):
        mm.decode_wav(bytes(stereo))
    truncated = good[:-4]  # data chunk declares 32 B, buffer holds 28
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_wav(truncated)
    odd = bytearray(good)
    # shrink the declared data size to an odd number (data size field sits
    # 4 bytes before the sample bytes)
    data_pos = good.index(b"data")
    struct.pack_into("<I", odd, data_pos + 4, 31)
    with pytest.raises(ValueError, match="odd|truncated"):
        mm.decode_wav(bytes(odd))


def test_card_pattern_is_plain_regex():
    """CARD_PATTERN works directly with Python re (ADVICE r7: it was
    stored SQL-literal-escaped, matching literal backslashes outside
    Spark's string-literal processing)."""
    import re

    from dp1_data_wrangling_spark.operators import text as tx

    assert re.findall(tx.CARD_PATTERN, "pay 4111111111111111 now") == [
        "4111111111111111"
    ]
    assert re.findall(tx.CARD_PATTERN, "short 123456 run") == []


def test_qoi_codec_roundtrip_and_errors():
    """QOI (round 8): encode→decode identity on random and op-targeted
    content (runs, small diffs for DIFF/LUMA, repeats for INDEX hits);
    truncation, RGBA streams, and missing end markers fail loudly."""
    import numpy as np

    from dp1_data_wrangling_spark.operators import multimodal as mm

    rng = np.random.default_rng(21)
    for h, w in [(1, 1), (5, 7), (12, 19), (3, 100)]:
        arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert (mm.decode_qoi(mm.encode_qoi(arr)) == arr).all()
    # long runs (RUN op incl. the 62-cap), gradients (DIFF/LUMA),
    # alternating repeats (INDEX)
    flat = np.zeros((2, 200, 3), np.uint8) + 7
    assert (mm.decode_qoi(mm.encode_qoi(flat)) == flat).all()
    grad = (
        np.arange(300).reshape(3, 100)[:, :, None] % 256
        + np.arange(3)[None, None, :]
    ).astype(np.uint8)
    assert (mm.decode_qoi(mm.encode_qoi(grad)) == grad).all()
    alt = np.tile(
        np.array([[10, 20, 30], [200, 100, 50]], np.uint8), (30, 1)
    ).reshape(6, 10, 3)
    assert (mm.decode_qoi(mm.encode_qoi(alt)) == alt).all()
    good = mm.encode_qoi(alt)
    assert mm.decode_media(good, "image/qoi")[0] == "image"
    with pytest.raises(ValueError, match="truncated|end marker"):
        mm.decode_qoi(good[:-10])
    with pytest.raises(ValueError, match="not a QOI"):
        mm.decode_qoi(b"nope")


def test_nearest_resize_integer_index_semantics():
    """out[i,j] == src[(i*h)//oh, (j*w)//ow] exactly — the contract the
    SQL oracle replays; fit_dims caps the long side and never upscales."""
    import numpy as np

    from dp1_data_wrangling_spark.operators import multimodal as mm

    rng = np.random.default_rng(3)
    arr = rng.integers(0, 256, (12, 19, 3), dtype=np.uint8)
    ow, oh = mm.fit_dims(19, 12, 8)
    assert ow == 8 and oh == 5  # floor(x+0.5) half-up
    rs = mm.nearest_resize(arr, oh, ow)
    for i in range(oh):
        for j in range(ow):
            assert (rs[i, j] == arr[(i * 12) // oh, (j * 19) // ow]).all()
    assert mm.fit_dims(4, 4, 8) == (4, 4)  # never upscale


def test_decode_stats_runs_real_codecs_in_spark(spark):
    """End-to-end through mapInPandas: synthetic REAL payloads decode to
    the closed-form stats (one image, one audio row checked bit-exactly
    against a local numpy decode of the same bytes)."""
    import numpy as np

    from dp1_data_wrangling_spark.operators import multimodal as mm

    ids = spark.range(9).select(F.col("id").alias("media_id"))
    media = mm.synthetic_media(ids)
    out = {r["media_id"]: r for r in mm.decode_stats(media, max_side=8).collect()}
    assert len(out) == 9
    # id=4 -> PPM image, w=8 h=8: all pixels (4*31 + 7r + 3c + k) % 256
    r_ = np.arange(8)[:, None, None]
    c_ = np.arange(8)[None, :, None]
    k_ = np.arange(3)[None, None, :]
    arr = (4 * 31 + r_ * 7 + c_ * 3 + k_) % 256
    row = out[4]
    assert row["kind"] == "image" and (row["width"], row["height"]) == (8, 8)
    assert row["value_sum"] == int(arr.sum())
    assert (row["out_width"], row["out_height"]) == (8, 8)
    assert row["resized_sum"] == int(arr.sum())  # no downscale at 8x8
    # id=6 -> WAV, n=16 samples
    samples = (6 * 17 + np.arange(16) * 13) % 4096 - 2048
    row = out[6]
    assert row["kind"] == "audio" and row["sample_rate"] == 8000
    assert row["n_values"] == 16 and row["value_sum"] == int(samples.sum())
    # payloads are REAL encodings: pull one and decode locally
    raw = {r["media_id"]: r["payload"] for r in media.collect()}
    assert bytes(raw[4])[:2] == b"P6" and bytes(raw[5])[:2] == b"BM"
    assert bytes(raw[6])[:4] == b"RIFF"
    assert (mm.decode_ppm(bytes(raw[4])) == arr).all()


def test_fuse_stages_matches_operator_composition(spark):
    """r14 fusion helper: chaining the *_batches transforms inside one
    mapInPandas must return exactly the rows of composing the standalone
    operators (same ids, same stats), for both a decode_stats chain and
    a frame fan-out chain."""
    from dp1_data_wrangling_spark.operators import multimodal as mm

    ids = spark.range(13).select(F.col("id").cast("long").alias("media_id"))
    fused = mm.fuse_stages(
        ids,
        [mm.synthetic_png_batches(), mm.decode_stats_batches(max_side=8)],
        mm.DECODE_STATS_SCHEMA,
    )
    composed = mm.decode_stats(mm.synthetic_png(ids), max_side=8)
    key = lambda r: r["media_id"]  # noqa: E731
    assert sorted(fused.collect(), key=key) == sorted(
        composed.collect(), key=key
    )
    # the synthetic_*_batches stages coerce each id with int(): an int or
    # string media_id column fuses to exactly the rows of the long input
    for dtype in ("int", "string"):
        cast_ids = ids.select(F.col("media_id").cast(dtype).alias("media_id"))
        fused_cast = mm.fuse_stages(
            cast_ids,
            [mm.synthetic_png_batches(), mm.decode_stats_batches(max_side=8)],
            mm.DECODE_STATS_SCHEMA,
        )
        assert sorted(fused_cast.collect(), key=key) == sorted(
            fused.collect(), key=key
        )
    fused_fr = mm.fuse_stages(
        ids,
        [mm.synthetic_video_batches(), mm.video_frames_batches()],
        mm.VIDEO_FRAME_SCHEMA,
    )
    composed_fr = mm.sample_video_frames(mm.synthetic_video(ids))
    key2 = lambda r: (r["media_id"], r["frame_no"])  # noqa: E731
    assert sorted(fused_fr.collect(), key=key2) == sorted(
        composed_fr.collect(), key=key2
    )


def test_decode_stats_handles_video_and_degenerate_rasters(spark):
    """Review regressions: decode_stats must handle Y4M payloads (the
    video branch, not the 2-tuple audio unpack), and 0-dimension PPM/BMP
    rasters are rejected descriptively instead of crashing the resampler."""
    import numpy as np

    from dp1_data_wrangling_spark.operators import multimodal as mm

    ids = spark.range(6).select(F.col("id").alias("media_id"))
    out = {
        r["media_id"]: r
        for r in mm.decode_stats(mm.synthetic_video(ids), max_side=8).collect()
    }
    assert len(out) == 6
    for mid, row in out.items():
        w, h, n = mid % 8 + 4, mid % 6 + 4, mid % 4 + 2
        assert row["kind"] == "video"
        assert (row["width"], row["height"]) == (w, h)
        assert row["n_values"] == n * 3 * h * w
        f = np.arange(n)[:, None, None, None]
        p = np.arange(3)[None, :, None, None]
        r_ = np.arange(h)[None, None, :, None]
        c = np.arange(w)[None, None, None, :]
        planes = (mid * 7 + f * 11 + p * 5 + r_ * 3 + c) % 256
        assert row["value_sum"] == int(planes.sum())

    with pytest.raises(ValueError, match="degenerate"):
        mm.decode_ppm(b"P6\n0 0\n255\n")
    with pytest.raises(ValueError, match="degenerate"):
        arr = mm.encode_bmp(
            __import__("numpy").zeros((1, 1, 3), dtype="uint8")
        )
        # corrupt the width field to 0
        mm.decode_bmp(arr[:18] + b"\x00\x00\x00\x00" + arr[22:])


def test_sample_video_frames_decodes_real_y4m(spark):
    """Video frame fan-out through the Y4M codec: frame counts, dims, and
    plane sums match a local numpy decode of the same bytes; audio/image
    payloads are skipped."""
    import numpy as np

    from dp1_data_wrangling_spark.operators import multimodal as mm

    ids = spark.range(8).select(F.col("id").alias("media_id"))
    out = mm.sample_video_frames(mm.synthetic_video(ids)).collect()
    by_id: dict[int, list] = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    assert set(by_id) == set(range(8))
    for mid, frames in by_id.items():
        w, h, n = mid % 8 + 4, mid % 6 + 4, mid % 4 + 2
        f = np.arange(n)[:, None, None, None]
        p = np.arange(3)[None, :, None, None]
        r_ = np.arange(h)[None, None, :, None]
        c = np.arange(w)[None, None, None, :]
        planes = ((mid * 7 + f * 11 + p * 5 + r_ * 3 + c) % 256).astype(np.uint8)
        frames.sort(key=lambda r: r["frame_no"])
        assert len(frames) == n
        for fi, row in enumerate(frames):
            assert (row["width"], row["height"]) == (w, h)
            assert row["n_values"] == 3 * h * w
            assert row["value_sum"] == int(planes[fi].astype("int64").sum())
    # mixed-modality input: only Y4M rows produce frames
    mixed = mm.synthetic_media(ids)  # WAV/PPM/BMP, no Y4M
    assert mm.sample_video_frames(mixed).count() == 0


def test_sample_audio_frames_slices_real_pcm(spark):
    """Audio frame fan-out: non-audio rows are skipped, frames partition
    the sample stream exactly (counts and sums reassemble the full
    waveform), and the last frame is the short one."""
    import numpy as np

    from dp1_data_wrangling_spark.operators import multimodal as mm

    ids = spark.range(12).select(F.col("id").alias("media_id"))
    media = mm.synthetic_media(ids)  # ids 0,3,6,9 are WAV; rest images
    out = mm.sample_audio_frames(media, frame_ms=1).collect()
    by_id: dict[int, list] = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    assert set(by_id) == {0, 3, 6, 9}  # image rows produced nothing
    for mid, frames in by_id.items():
        n = mid % 50 + 10
        samples = (mid * 17 + np.arange(n) * 13) % 4096 - 2048
        frames.sort(key=lambda r: r["frame_no"])
        assert [r["frame_no"] for r in frames] == list(range((n + 7) // 8))
        assert sum(r["n_samples"] for r in frames) == n
        assert sum(r["sample_sum"] for r in frames) == int(samples.sum())
        assert all(r["n_samples"] == 8 for r in frames[:-1])
        assert frames[-1]["n_samples"] == n - (len(frames) - 1) * 8
    with pytest.raises(ValueError):
        mm.sample_audio_frames(media, frame_ms=0)


# --- skew mitigation -------------------------------------------------------


def test_salted_agg_matches_plain_groupby(spark):
    from dp1_data_wrangling_spark.operators.skew import salted_sum_count

    li = load_table(spark, SMOKE_SF, "lineitem")
    salted = salted_sum_count(
        li,
        ["l_returnflag"],
        F.col("l_quantity"),
        salt_source=F.col("l_orderkey") * 8 + F.col("l_linenumber"),
    )
    plain = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("sum_value"), F.count("*").alias("n_rows")
    )
    assert sorted(salted.collect()) == sorted(plain.collect())


def test_salted_join_matches_plain_join(spark):
    from dp1_data_wrangling_spark.operators.skew import salted_broadcast_join

    li = load_table(spark, SMOKE_SF, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber"
    )
    parts = load_table(spark, SMOKE_SF, "part").select("p_partkey", "p_brand")
    salted = salted_broadcast_join(
        li.withColumnRenamed("l_partkey", "p_partkey"),
        parts,
        "p_partkey",
        salt_source=F.col("l_orderkey") * 8 + F.col("l_linenumber"),
    )
    plain = li.join(parts, li.l_partkey == parts.p_partkey)
    assert salted.count() == plain.count()


def test_approx_distinct_error_bound(spark):
    """Raw HLL++ relative error per group, plus the registry query's
    bound-check verdict (the driver-compared form) must be all-true."""
    from dp1_data_wrangling_spark.queries import REGISTRY, APPROX_DISTINCT_RSD

    o = load_table(spark, SMOKE_SF, "orders")
    raw = o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", APPROX_DISTINCT_RSD).alias("approx"),
        F.countDistinct("o_custkey").alias("exact"),
    ).collect()
    for r in raw:
        rel_err = abs(r["approx"] - r["exact"]) / max(r["exact"], 1)
        assert rel_err < 0.1, r
    rows = REGISTRY["approx_distinct"].fn(spark, SMOKE_SF).collect()
    assert rows and all(r["within_bound"] for r in rows), rows


# --- connected components (dedup clustering) -------------------------------


def test_connected_components_multihop_chain(spark):
    from dp1_data_wrangling_spark.operators.components import connected_components

    # chain 1-2-3-4-5 plus disjoint edge 10-11: labels must propagate 4 hops
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (10, 10), (11, 10)}


def test_dedup_survivors_singletons_survive(spark):
    from dp1_data_wrangling_spark.operators.components import dedup_survivors

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(1, 3), (3, 5)], "id_a long, id_b long")
    rows = {r["doc_id"]: (r["component"], r["is_survivor"])
            for r in dedup_survivors(docs, pairs).collect()}
    assert rows == {
        0: (0, True), 1: (1, True), 2: (2, True),
        3: (1, False), 4: (4, True), 5: (1, False),
    }


# --- multimodal resize / frame sampling ------------------------------------


def test_resize_preserves_aspect_and_caps_side(spark):
    from dp1_data_wrangling_spark.operators.multimodal import (
        media_from_documents,
        resize_images,
    )

    docs = load_table(spark, SMOKE_SF, "documents").limit(100)
    media = media_from_documents(docs)
    out = resize_images(media, max_side=64).collect()
    src = {r["media_id"]: (r["width"], r["height"]) for r in media.collect()}
    assert len(out) == 100
    for r in out:
        w0, h0 = src[r["media_id"]]
        assert max(r["width"], r["height"]) <= 64
        if max(w0, h0) <= 64:  # no upscaling
            assert (r["width"], r["height"]) == (w0, h0)
        else:  # aspect preserved within rounding
            assert abs(r["width"] * h0 - r["height"] * w0) <= max(w0, h0)


def test_sample_frames_fanout(spark):
    from dp1_data_wrangling_spark.operators.multimodal import sample_frames

    media = spark.createDataFrame(
        [(1, "video/fake", b"vid", 0, 0, 3500), (2, "video/fake", b"v2", 0, 0, None)],
        "media_id long, media_type string, payload binary, width long, "
        "height long, duration_ms long",
    )
    rows = sample_frames(media, every_ms=1000).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append((r["frame_no"], r["ts_ms"]))
    assert sorted(by_id[1]) == [(0, 0), (1, 1000), (2, 2000)]
    assert by_id[2] == [(0, 0)]  # unknown duration -> one frame


# --- harness/contract invariants ------------------------------------------


def test_entry_module_contract(spark):
    """__spark_entry__: oracle_sql() keys ⊆ queries() keys; every headline
    bench query is registered; names are stable identifiers."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry_contract__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert all(n.replace("_", "").isalnum() for n in qs)
    from dp1_data_wrangling_spark.queries import headline_queries

    assert set(headline_queries()) <= set(qs)


def test_local_df_forms(spark):
    from dp1_data_wrangling_spark.tables import local_df

    df = local_df(spark, [("a", 1), ("b", 2)], "k string, v int")
    assert df.collect() == [("a", 1), ("b", 2)]
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    empty = local_df(spark, [], "k string, v int")
    assert empty.count() == 0
    assert dict(empty.dtypes) == {"k": "string", "v": "int"}


def test_spread_is_noop_on_wide_input(spark):
    from dp1_data_wrangling_spark.tables import spread

    # derived (no file leaves) input: untouched — a shuffle already
    # redistributed it, and probing .rdd would force AQE execution
    wide = spark.range(0, 1000).repartition(64)
    assert spread(wide) is wide
    # single-file scan: redistributed to full parallelism
    narrow = load_table(spark, SMOKE_SF, "documents")
    assert len(narrow.inputFiles()) == 1
    out = spread(narrow)
    assert out.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    assert out.count() == narrow.count()


def test_approx_percentile_error_bound(spark):
    """approx_percentile with accuracy=1000 must land within the GK bound
    (relative rank error 1/accuracy) of the exact percentile — checked on
    the raw sketch values, and via the registry query's bound-check
    verdict (the driver-compared form)."""
    from dp1_data_wrangling_spark.queries import REGISTRY

    li = load_table(spark, SMOKE_SF, "lineitem")
    raw = li.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_quantity, 0.5, 1000)").alias("approx_p50"),
        F.expr("percentile(l_quantity, 0.5)").alias("exact_p50"),
    ).collect()
    assert raw
    for r in raw:
        # l_quantity spans 1..50; rank error 1/1000 of n translates to at
        # most a couple of quantity units on this distribution
        assert abs(r["approx_p50"] - r["exact_p50"]) <= 2.0, r
    rows = REGISTRY["approx_percentile"].fn(spark, SMOKE_SF).collect()
    assert rows and all(r["within_bound"] for r in rows), rows


def test_nested_regroup_array_form(spark):
    """The genuine array<string> regroup (A7): paths sorted within each
    group, n_files == size(paths), and the driver-facing joined form is
    exactly array_join(paths, '|')."""
    from dp1_data_wrangling_spark.queries import nested_regroup_df

    from dp1_data_wrangling_spark.queries import REGISTRY

    df = nested_regroup_df(spark, SMOKE_SF)
    assert dict(df.dtypes)["paths"] == "array<string>"
    bad = df.filter(
        (F.size("paths") != F.col("n_files"))
        | (F.col("paths") != F.sort_array("paths"))
    ).count()
    assert bad == 0
    joined = REGISTRY["nested_regroup"].fn(spark, SMOKE_SF)
    recon = df.select(
        "datastore_name",
        "dataset_id_hex",
        F.array_join("paths", "|").alias("paths_joined"),
        "n_files",
    )
    assert joined.exceptAll(recon).count() == 0
    assert recon.exceptAll(joined).count() == 0


def test_connected_components_raise_on_nonconvergence(spark):
    """Adversarial long-path graph: a 0-1-2-...-40 chain needs 40 one-hop
    propagation rounds (plain) but only O(log n) star rounds.  An exhausted
    iteration budget must raise — silently returning partial labels would
    hand dedup_clusters wrong components (VERDICT r2/r3 item)."""
    import pytest as _pytest

    from dp1_data_wrangling_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    n = 41
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with _pytest.raises(ValueError, match="no fixpoint after 3 rounds"):
        connected_components(path, max_iterations=3).collect()
    with _pytest.raises(ValueError, match="no fixpoint after 1 rounds"):
        connected_components_star(path, max_iterations=1).collect()
    # the same graph converges inside a sane budget: one component, root 0
    # (plain LP's positive path is covered by the hypothesis equivalence
    # property — re-running 40 one-hop rounds here would add ~2 min)
    ok = connected_components_star(path)
    assert {r["component"] for r in ok.collect()} == {0}


def test_stable_sample_partitioning_invariant(spark):
    """The sample keeps the same KEYS regardless of physical layout (the
    property seeded rand() lacks) and its size is near the target rate."""
    from dp1_data_wrangling_spark.operators.sampling import stable_sample

    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    a = {r["k"] for r in stable_sample(df, "k", percent=20, salt="s").collect()}
    b = {
        r["k"]
        for r in stable_sample(df.repartition(13, "k"), "k", percent=20, salt="s").collect()
    }
    assert a == b
    assert 0.17 < len(a) / 10_000 < 0.23  # binomial tolerance at n=10k
    # a different salt draws an (effectively) independent sample
    c = {r["k"] for r in stable_sample(df, "k", percent=20, salt="t").collect()}
    assert c != a
    assert 0.01 < len(a & c) / 10_000 < 0.09  # ~4% expected overlap


def test_split_assign_total_and_disjoint(spark):
    """Every row gets exactly one split; proportions track the weights;
    the same key is assigned identically in a second table (no cross-split
    join leakage)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dp1_data_wrangling_spark.operators.sampling import split_assign

    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    w = {"train": 90, "val": 5, "test": 5}
    got = split_assign(df, "k", weights=w, salt="s")
    counts = {r["split"]: r["n"] for r in got.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 10_000  # total: no NULL split
    assert set(counts) == set(w)
    assert 0.87 < counts["train"] / 10_000 < 0.93
    other = split_assign(
        df.withColumn("extra", F.col("k") * 2), "k", weights=w, salt="s"
    )
    joined = got.alias("a").join(other.alias("b"), "k").where(
        F.col("a.split") != F.col("b.split")
    )
    assert joined.count() == 0
    with _pytest.raises(ValueError, match="sum to 100"):
        split_assign(df, "k", weights={"train": 50, "val": 10}, salt="s")
    # a negative weight passes the sum check but would silently collapse
    # ranges (first-match-wins eats the later splits) — reject it outright
    with _pytest.raises(ValueError, match="positive"):
        split_assign(df, "k", weights={"train": 110, "val": -10}, salt="s")
    with _pytest.raises(ValueError, match="positive"):
        split_assign(df, "k", weights={"train": 100, "val": 0}, salt="s")


def test_pack_sequences_budget_invariants(spark):
    """No multi-doc sequence exceeds the budget; an oversized doc sits
    alone in its own sequence; seq_ids are contiguous from 0 per shard;
    the packing is stable under physical repartitioning."""
    import pytest as _pytest

    from dp1_data_wrangling_spark.operators.packing import (
        pack_sequences,
        with_shards,
    )

    df = with_shards(
        spark.range(0, 300).selectExpr(
            "id as doc_id", "(id * 37) % 700 as n_tokens"  # some docs > budget
        ),
        n_shards=3,
    )
    out = pack_sequences(df, budget=500).cache()
    sums = out.groupBy("shard", "seq_id").agg(
        F.sum("n_tokens").alias("total"), F.count("*").alias("n_docs")
    )
    # multi-doc sequences respect the budget
    assert sums.filter((F.col("n_docs") > 1) & (F.col("total") > 500)).count() == 0
    # oversized docs are alone in their sequence
    fat = out.filter(F.col("n_tokens") > 500).select("shard", "seq_id")
    assert (
        fat.join(sums, ["shard", "seq_id"]).filter(F.col("n_docs") > 1).count() == 0
    )
    # seq_ids contiguous from 0 within each shard
    for r in sums.groupBy("shard").agg(
        F.min("seq_id").alias("lo"),
        F.max("seq_id").alias("hi"),
        F.countDistinct("seq_id").alias("n"),
    ).collect():
        assert r["lo"] == 0 and r["n"] == r["hi"] + 1
    # repartitioning must not change the assignment (order is by doc_id,
    # not arrival)
    again = pack_sequences(df.repartition(17), budget=500)
    assert out.exceptAll(again).count() == 0
    out.unpersist()
    with _pytest.raises(ValueError, match="budget must be positive"):
        pack_sequences(df, budget=0)


def test_pack_sequences_shard_row_cap(spark):
    """One shard = one in-memory pandas frame on one executor: an
    undersized n_shards must fail LOUD with the shard id and remediation,
    not silently OOM at scale.  None disables the valve."""
    import pytest as _pytest

    from dp1_data_wrangling_spark.operators.packing import (
        pack_sequences,
        with_shards,
    )

    df = with_shards(
        spark.range(0, 1000).selectExpr("id as doc_id", "10 as n_tokens"),
        n_shards=2,  # ~500 rows per shard, far over the tiny cap below
    )
    packed = pack_sequences(df, budget=100, max_rows_per_shard=100)
    with _pytest.raises(Exception, match="per-shard cap"):
        packed.count()
    # disabling the valve lets the same sharding through
    assert (
        pack_sequences(df, budget=100, max_rows_per_shard=None).count() == 1000
    )
    with _pytest.raises(ValueError, match="max_rows_per_shard"):
        pack_sequences(df, budget=100, max_rows_per_shard=0)


# ---------------------------------------------------------------------------
# Selection: group quota top-k + importance resampling
# ---------------------------------------------------------------------------


def test_group_topk_shard_count_invariant(spark):
    """Two-stage sharded top-k is lossless: any shard count (including the
    degenerate single-window n_shards=1) selects the identical rows."""
    from dp1_data_wrangling_spark.operators.selection import group_topk

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "source")
    ref = {
        tuple(r)
        for r in group_topk(
            docs, "source", "doc_id", k=7, salt="s", n_shards=1
        ).collect()
    }
    for n_shards in (3, 16):
        got = {
            tuple(r)
            for r in group_topk(
                docs, "source", "doc_id", k=7, salt="s", n_shards=n_shards
            ).collect()
        }
        assert got == ref, f"n_shards={n_shards} diverged"


def test_group_topk_respects_quota_and_rank(spark):
    from dp1_data_wrangling_spark.operators.selection import group_topk

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "source")
    out = group_topk(docs, "source", "doc_id", k=5, salt="q").collect()
    by_group: dict[str, list[int]] = {}
    for r in out:
        by_group.setdefault(r.source, []).append(r.rank)
    for src, ranks in by_group.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), src
        assert len(ranks) <= 5, src


def test_group_topk_partitioning_invariant(spark):
    from dp1_data_wrangling_spark.operators.selection import group_topk

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "source")
    a = {tuple(r) for r in group_topk(docs, "source", "doc_id", k=4).collect()}
    b = {
        tuple(r)
        for r in group_topk(
            docs.repartition(13), "source", "doc_id", k=4
        ).collect()
    }
    assert a == b


def test_importance_resample_integer_weights_exact(spark):
    from dp1_data_wrangling_spark.operators.selection import importance_resample

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id")
    n = docs.count()
    doubled = importance_resample(docs, "doc_id", F.lit(2.0), salt="r")
    assert doubled.count() == 2 * n
    assert doubled.groupBy("doc_id").count().where("count != 2").count() == 0
    dropped = importance_resample(docs, "doc_id", F.lit(0.0), salt="r")
    assert dropped.count() == 0


def test_importance_resample_fractional_is_stochastic_rounding(spark):
    """wt=0.5 keeps exactly the keys whose hash bucket < 50 — one copy
    each, deterministically."""
    from dp1_data_wrangling_spark.operators.sampling import hash_bucket
    from dp1_data_wrangling_spark.operators.selection import importance_resample

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id")
    out = importance_resample(docs, "doc_id", F.lit(0.5), salt="frac")
    kept = {r.doc_id for r in out.collect()}
    expected = {
        r.doc_id
        for r in docs.where(hash_bucket(F.col("doc_id"), "frac") < 50).collect()
    }
    assert kept == expected
    assert out.count() == len(kept)  # exactly one copy per kept key


def test_importance_resample_caps_repeats(spark):
    from dp1_data_wrangling_spark.operators.selection import importance_resample

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id").limit(5)
    out = importance_resample(
        docs, "doc_id", F.lit(99.0), salt="cap", max_repeats=3
    )
    assert out.groupBy("doc_id").count().where("count != 3").count() == 0


def test_importance_resample_has_no_shuffle(spark):
    from dp1_data_wrangling_spark.operators.selection import importance_resample

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id")
    plan = importance_resample(
        docs, "doc_id", F.lit(1.5), salt="p"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# Decontamination
# ---------------------------------------------------------------------------


def test_contamination_flags_planted_overlap(spark):
    from dp1_data_wrangling_spark.operators.decontam import contamination

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),  # shares a 4-gram
            (2, "one two three four five"),  # clean
            (3, "beta gamma delta epsilon zeta"),  # shares the same window
        ],
        ["doc_id", "text"],
    )
    eval_docs = spark.createDataFrame(
        [(100, "xx beta gamma delta epsilon yy")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in contamination(train, eval_docs, n=4).collect()}
    assert set(out) == {1, 3}
    assert out[1].n_shared == 1 and out[1].n_grams == 2
    assert out[3].n_shared == 1


def test_ngram_digests_drops_short_docs_and_dedups(spark):
    from dp1_data_wrangling_spark.operators.decontam import ngram_digests

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b a b a b")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in ngram_digests(df, n=4).collect()}
    assert 1 not in rows  # 3 tokens < n
    # "a b a b a b": windows 'a b a b' and 'b a b a' and 'a b a b' -> 2 distinct
    assert rows[2].n_grams == 2
    assert len(rows[2].digests) == len(set(rows[2].digests)) == 2


def test_contamination_plan_broadcasts_eval_side(spark):
    from dp1_data_wrangling_spark.operators.decontam import contamination
    from dp1_data_wrangling_spark.tables import load_table

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    plan = (
        contamination(docs, docs.limit(20), n=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_repetition_stats_hand_computed(spark):
    from dp1_data_wrangling_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x y z w")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in repetition_stats(df).collect()}
    r1 = rows[1]  # tokens a b a b a
    assert (r1.n_tokens, r1.n_distinct_tokens, r1.top_token_count) == (5, 2, 3)
    # bigrams: 'a b','b a','a b','b a' -> 4 total, 2 distinct
    assert (r1.n_bigrams, r1.n_distinct_bigrams) == (4, 2)
    r2 = rows[2]
    assert (r2.n_tokens, r2.top_token_count, r2.n_distinct_bigrams) == (4, 1, 3)


def test_repetition_stats_has_no_shuffle(spark):
    from dp1_data_wrangling_spark.operators.text import repetition_stats

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    plan = (
        repetition_stats(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_kmeans_centroids_partitioning_invariant(spark):
    """Fixed-point bigint re-centering: trained centroids are bit-identical
    whatever the input partitioning (a double sum would not be)."""
    from dp1_data_wrangling_spark.operators.similarity import kmeans_centroids

    emb = load_table(spark, SMOKE_SF, "embeddings")
    a = kmeans_centroids(emb, 8, n_iters=2)
    b = kmeans_centroids(emb.repartition(17), 8, n_iters=2)
    assert a == b


def test_kmeans_improves_ivf_recall(spark):
    from dp1_data_wrangling_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        ivf_topk_trained,
    )

    emb = load_table(spark, SMOKE_SF, "embeddings")
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    bf = brute_force_topk(probes, emb, k=5).select("probe_id", "neighbor_id")
    n = bf.count()

    def recall(ann):
        return (
            bf.join(
                ann.select("probe_id", "neighbor_id"),
                ["probe_id", "neighbor_id"],
                "left_semi",
            ).count()
            / n
        )

    sampled = recall(ivf_topk(probes, emb, 5, n_cells=16, nprobe=8))
    trained = recall(
        ivf_topk_trained(probes, emb, 5, n_cells=16, nprobe=8, n_iters=4)
    )
    assert trained >= sampled - 1e-9, (sampled, trained)
    assert trained >= 0.7


def test_kmeans_empty_cell_keeps_previous_centroid(spark):
    """Degenerate case: more cells than distinct vectors — emptied cells
    must survive with their previous centroid, never NaN/missing."""
    from dp1_data_wrangling_spark.operators.similarity import kmeans_centroids

    emb = load_table(spark, SMOKE_SF, "embeddings").limit(6)
    cents = kmeans_centroids(emb, 6, n_iters=3)
    assert len(cents) == 6
    assert all(
        len(v) > 0 and all(x == x for x in v) for _, v in cents
    )  # no NaNs


# ---------------------------------------------------------------------------
# PII scrub + chunking
# ---------------------------------------------------------------------------


def test_subword_stats_hand_computed_and_invariants(spark):
    """Frozen-vocab greedy tokenizer: hand-checked pieces, n_pretokens ==
    the regex approximation on ASCII, unknown fallback for uncovered
    chars, empty docs come back zeroed, and results are repartition-proof."""
    from dp1_data_wrangling_spark.operators.text import (
        SUBWORD_VOCAB,
        subword_stats,
    )

    vid = {t: i + 1 for i, t in enumerate(SUBWORD_VOCAB)}
    df = spark.createDataFrame(
        [(1, "the theory"), (2, "Hi @@"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in subword_stats(df).collect()}
    # doc 1: "the" -> [the]; "theory" -> the|or|y (greedy longest from left)
    assert out[1]["n_pretokens"] == 2
    assert out[1]["n_subwords"] == 4
    assert out[1]["n_unknown"] == 0
    assert out[1]["vid_sum"] == vid["the"] * 2 + vid["or"] + vid["y"]
    # doc 2: "Hi" lowercased -> [hi]; '@' twice -> unknown singles
    assert out[2]["n_pretokens"] == 3
    assert out[2]["n_subwords"] == 3
    assert out[2]["n_unknown"] == 2
    assert out[2]["vid_sum"] == vid["hi"]
    assert dict(out[3].asDict()) == dict(
        doc_id=3, n_pretokens=0, n_subwords=0, n_unknown=0, vid_sum=0
    )
    assert out[4]["n_subwords"] == 0  # NULL text behaves like empty

    # ASCII invariance vs the regex approximation + partitioning invariance
    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    from dp1_data_wrangling_spark.operators.text import bpe_token_count

    joined = (
        subword_stats(docs)
        .join(docs.select("doc_id", bpe_token_count(F.col("text")).alias("approx")), "doc_id")
    )
    assert joined.filter(F.col("n_pretokens") != F.col("approx")).count() == 0
    a = {r["doc_id"]: r["vid_sum"] for r in subword_stats(docs).collect()}
    b = {
        r["doc_id"]: r["vid_sum"]
        for r in subword_stats(docs.repartition(13)).collect()
    }
    assert a == b


def test_subword_vocab_is_frozen():
    """The vocab is the versioned artifact: no duplicates, and a pinned
    checksum so an accidental edit fails loudly instead of silently
    changing every token budget downstream."""
    import hashlib

    from dp1_data_wrangling_spark.operators.text import (
        SUBWORD_VOCAB,
        SUBWORD_VOCAB_VERSION,
    )

    assert len(SUBWORD_VOCAB) == len(set(SUBWORD_VOCAB)) == 161
    assert SUBWORD_VOCAB_VERSION == 1
    digest = hashlib.md5("\x00".join(SUBWORD_VOCAB).encode()).hexdigest()
    assert digest == "af2a0e4c87c9915f0c2379a399b4ad19"


def test_card_scan_luhn_validation(spark):
    """Luhn screen: a known-valid test card passes, its off-by-one twin
    is a candidate but not valid, short digit runs and NULL text are
    clean, and 19-digit runs are still in range."""
    from dp1_data_wrangling_spark.operators.text import card_scan

    df = spark.createDataFrame(
        [
            (1, "pay 4532015112830366 now"),   # valid (Visa test number)
            (2, "ref 4532015112830367 x"),      # bad check digit
            (3, "short 123456 and 12345678"),   # too short for a card
            (4, None),
            (5, "two 4532015112830366 4532015112830366"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_candidates"], r["n_valid_cards"], r["has_valid_card"])
        for r in card_scan(df).collect()
    }
    assert out[1] == (1, 1, True)
    assert out[2] == (1, 0, False)
    assert out[3] == (0, 0, False)
    assert out[4] == (0, 0, False)
    assert out[5] == (2, 2, True)


def test_unigram_lm_score_hand_computed_and_frozen(spark):
    """LM quality proxy: hand-checked sums, unknown-token penalty, empty
    docs zeroed, and the frozen table pinned by digest (a silent edit
    would reorder every curation rank downstream)."""
    import hashlib

    from dp1_data_wrangling_spark.operators.text import (
        LM_UNKNOWN_MILLI,
        LM_VOCAB,
        LM_VOCAB_VERSION,
        unigram_lm_score,
    )

    lm = dict(LM_VOCAB)
    df = spark.createDataFrame(
        [(1, "The quick zzz"), (2, ""), (3, None), (4, "the the")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in unigram_lm_score(df).collect()}
    want1 = lm["the"] + LM_UNKNOWN_MILLI * 2  # quick, zzz unknown
    assert out[1]["n_tokens_scored"] == 3
    assert out[1]["milli_logprob_sum"] == want1
    assert out[1]["milli_ppl_proxy"] == want1 // 3
    assert out[2]["n_tokens_scored"] == 0 and out[2]["milli_ppl_proxy"] == 0
    assert out[3]["n_tokens_scored"] == 0
    assert out[4]["milli_logprob_sum"] == 2 * lm["the"]
    assert out[4]["milli_ppl_proxy"] == lm["the"]

    assert LM_VOCAB_VERSION == 1 and len(LM_VOCAB) == 100
    digest = hashlib.md5(
        "\x00".join(f"{w}:{m}" for w, m in LM_VOCAB).encode()
    ).hexdigest()
    assert digest == "f3b4ad7d4d13a03d77694999a4e44143"


def test_bigram_lm_score_hand_computed_and_frozen(spark):
    """Bigram LM proxy (round 8): hand-checked backoff arithmetic (first
    token unigram; table hit pays bigram; miss pays unigram + 916),
    fluent text scores strictly below its own shuffled form, empty/NULL
    docs zeroed, frozen table digest-pinned."""
    import hashlib

    from dp1_data_wrangling_spark.operators.text import (
        BIGRAM_VERSION,
        LM_BACKOFF_MILLI,
        LM_BIGRAMS,
        LM_UNKNOWN_MILLI,
        LM_VOCAB,
        bigram_lm_score,
    )

    uni = dict(LM_VOCAB)
    big = {(v, w): m for v, w, m in LM_BIGRAMS}
    df = spark.createDataFrame(
        [
            (1, "one of the people"),
            (2, "zzz"),
            (3, ""),
            (4, None),
            (5, "people the of one"),  # shuffled form of doc 1
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bigram_lm_score(df).collect()}
    want1 = (
        uni["one"]
        + big[("one", "of")]
        + big[("of", "the")]
        + (uni["people"] + LM_BACKOFF_MILLI)  # ('the','people') not in table
    )
    assert out[1]["n_tokens_scored"] == 4
    assert out[1]["milli_logprob_sum"] == want1
    assert out[1]["milli_ppl_proxy"] == want1 // 4
    assert out[2]["milli_logprob_sum"] == LM_UNKNOWN_MILLI
    assert out[3]["n_tokens_scored"] == 0 and out[3]["milli_ppl_proxy"] == 0
    assert out[4]["n_tokens_scored"] == 0
    # the fluency signal: same words, shuffled -> strictly worse score
    assert out[5]["milli_logprob_sum"] > out[1]["milli_logprob_sum"]

    assert BIGRAM_VERSION == 1 and len(LM_BIGRAMS) == 48
    digest = hashlib.md5(
        "\x00".join(f"{v}:{w}:{m}" for v, w, m in LM_BIGRAMS).encode()
    ).hexdigest()
    assert digest == "c6add19398b102ed38c19669a4384609"


def test_scrub_pii_hand_computed(spark):
    from dp1_data_wrangling_spark.operators.text import scrub_pii

    rows = [
        (1, "mail a.b-c@sub.example.org now"),
        (2, "host 192.168.0.1 and id 123456789 ok"),
        (3, "clean text with short 12345 number"),
        (4, "two mails x@y.io z@w.co and 10.0.0.255"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert out[1]["clean_text"] == "mail [EMAIL] now"
    assert (out[1]["n_email"], out[1]["n_ip"], out[1]["n_idnum"]) == (1, 0, 0)
    assert out[2]["clean_text"] == "host [IP] and id [ID] ok"
    assert (out[2]["n_email"], out[2]["n_ip"], out[2]["n_idnum"]) == (0, 1, 1)
    assert out[3]["clean_text"] == rows[2][1]  # untouched, 5 digits < 9
    assert (out[3]["n_email"], out[3]["n_ip"], out[3]["n_idnum"]) == (0, 0, 0)
    assert out[4]["clean_text"] == "two mails [EMAIL] [EMAIL] and [IP]"
    assert out[4]["n_email"] == 2 and out[4]["n_ip"] == 1


def test_scrub_pii_counts_never_double_count(spark):
    """An email's digits must not also be counted as an id number: counts
    are taken on the post-previous-replacement text."""
    from dp1_data_wrangling_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [(1, "reach 123456789012@example.com please")], "doc_id int, text string"
    )
    r = scrub_pii(df).collect()[0]
    assert r["n_email"] == 1 and r["n_idnum"] == 0
    assert r["clean_text"] == "reach [EMAIL] please"


def test_scrub_pii_has_no_shuffle(spark):
    from dp1_data_wrangling_spark.operators.text import scrub_pii

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    plan = scrub_pii(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_chunk_documents_covers_text_exactly(spark):
    """Concatenating each chunk's non-overlapping prefix (stride chars,
    last chunk in full) reconstructs the document: no gaps, no phantom
    chunks, empty docs emit nothing."""
    from dp1_data_wrangling_spark.operators.text import chunk_documents

    rows = [(1, "a" * 47), (2, "xy" * 180), (3, ""), (4, "b" * 150), (5, "c" * 151)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    chunks = chunk_documents(df, size=200, stride=150).collect()
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by_doc  # empty doc: no chunks
    assert len(by_doc[1]) == 1 and len(by_doc[4]) == 1
    assert len(by_doc[5]) == 2 and len(by_doc[2]) == 3
    for doc_id, text in rows:
        if not text:
            continue
        parts = sorted(by_doc[doc_id], key=lambda r: r["chunk_idx"])
        rebuilt = "".join(
            p["chunk"] if i == len(parts) - 1 else p["chunk"][:150]
            for i, p in enumerate(parts)
        )
        assert rebuilt == text, doc_id
        # neighbours overlap by size - stride chars
        for a, b in zip(parts, parts[1:]):
            assert a["chunk"][150:] == b["chunk"][: len(a["chunk"]) - 150]


def test_chunk_documents_validates_args(spark):
    from dp1_data_wrangling_spark.operators.text import chunk_documents

    df = spark.createDataFrame([(1, "abc")], "doc_id int, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, size=0)
    with pytest.raises(ValueError):
        chunk_documents(df, stride=0)


def test_chunk_documents_has_no_shuffle(spark):
    from dp1_data_wrangling_spark.operators.text import chunk_documents

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    plan = chunk_documents(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# Global shuffle (distributed total-order rank)
# ---------------------------------------------------------------------------


def test_global_shuffle_positions_are_a_permutation(spark):
    from dp1_data_wrangling_spark.operators.sampling import global_shuffle

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id")
    n = docs.count()
    out = global_shuffle(docs, "doc_id", salt="s").collect()
    assert sorted(r["position"] for r in out) == list(range(1, n + 1))


def test_global_shuffle_partitioning_invariant(spark):
    from dp1_data_wrangling_spark.operators.sampling import global_shuffle

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id")
    a = {
        r["doc_id"]: r["position"]
        for r in global_shuffle(docs, "doc_id", salt="s").collect()
    }
    b = {
        r["doc_id"]: r["position"]
        for r in global_shuffle(docs.repartition(7), "doc_id", salt="s").collect()
    }
    assert a == b


def test_global_shuffle_never_single_partition_window(spark):
    """The whole point: no unpartitioned window funneling the corpus
    through one task."""
    from dp1_data_wrangling_spark.operators.sampling import global_shuffle

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id")
    plan = (
        global_shuffle(docs, "doc_id", salt="s")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in plan, plan


def test_global_shuffle_validates_n_buckets(spark):
    from dp1_data_wrangling_spark.operators.sampling import global_shuffle

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id")
    with pytest.raises(ValueError):
        global_shuffle(docs, "doc_id", n_buckets=0)
    with pytest.raises(ValueError):
        global_shuffle(docs, "doc_id", n_buckets=16**9)
    # the old bound admitted driver-OOM-sized bucket spaces (16^8 ~ 4.3B
    # one-row collects); anything past 16^5 is now refused up front
    with pytest.raises(ValueError, match="16\\^5"):
        global_shuffle(docs, "doc_id", n_buckets=16**5 + 1)


def test_global_shuffle_broadcast_offsets_path(spark):
    """With >4096 occupied buckets the offsets ride a broadcast join
    (a literal create_map that size would choke Catalyst).  Positions
    must still be an exact 1..n permutation and the plan must still have
    no corpus-sized SinglePartition stage."""
    from dp1_data_wrangling_spark.operators.sampling import global_shuffle

    df = spark.range(20_000).select(F.col("id").alias("doc_id"))
    out = global_shuffle(df, "doc_id", salt="s", n_buckets=16**4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    pos = [r["position"] for r in out.collect()]
    assert sorted(pos) == list(range(1, 20_001))


# ---------------------------------------------------------------------------
# Corpus-level line dedup (boilerplate removal)
# ---------------------------------------------------------------------------


def test_line_dedup_hand_computed(spark):
    from dp1_data_wrangling_spark.operators.dedup import line_dedup

    rows = [
        (1, "keep me\nCOOKIE BANNER\nunique line one"),
        (2, "COOKIE BANNER\nunique line two"),
        (3, "COOKIE BANNER\nunique line three"),
        (4, "COOKIE BANNER"),  # all-boilerplate doc -> empty survivor
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in line_dedup(df, max_freq=1).collect()}
    assert out[1]["clean_text"] == "keep me\nunique line one"
    assert (out[1]["n_lines"], out[1]["n_kept"], out[1]["n_removed"]) == (3, 2, 1)
    assert out[2]["clean_text"] == "unique line two"
    assert out[4]["clean_text"] == "" and out[4]["n_removed"] == 1
    # order preserved even when an interior line is removed
    assert out[1]["clean_text"].split("\n") == ["keep me", "unique line one"]


def test_line_dedup_respects_max_freq(spark):
    from dp1_data_wrangling_spark.operators.dedup import line_dedup

    rows = [(i, "twice\nthrice") for i in (1, 2)] + [(3, "thrice")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in line_dedup(df, max_freq=2).collect()}
    # "twice" occurs 2x (<= max_freq, kept); "thrice" 3x (removed)
    assert out[1]["clean_text"] == "twice"
    assert out[3]["clean_text"] == ""
    with pytest.raises(ValueError):
        line_dedup(df, max_freq=0)


def test_line_dedup_fixture_actually_removes(spark):
    """The registered query must be non-trivial: the derived multi-line
    fixture corpus contains genuinely repeated lines."""
    from dp1_data_wrangling_spark.operators.dedup import line_dedup

    docs = (
        load_table(spark, SMOKE_SF, "documents")
        .select("doc_id", "text")
        .withColumn("text", F.replace(F.col("text"), F.lit(" merge "), F.lit("\n")))
    )
    agg = line_dedup(docs, max_freq=2).agg(
        F.sum("n_removed").alias("r"), F.sum("n_kept").alias("k")
    ).collect()[0]
    assert agg["r"] > 0 and agg["k"] > 0


def test_top_terms_hand_computed(spark):
    """3 docs, tiny vocab: df('common')=3 -> idf_milli=1000; df('rare')=1
    -> idf_milli=3000.  Doc 1 has rare x1 (3000) > common x2 (2000)."""
    from dp1_data_wrangling_spark.operators.text import top_terms

    rows = [
        (1, "common common rare"),
        (2, "common solo"),
        (3, "common"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = [
        (r["doc_id"], r["rnk"], r["term"], r["score_milli"])
        for r in top_terms(df, k=2).collect()
    ]
    assert (1, 1, "rare", 3000) in out
    assert (1, 2, "common", 2000) in out
    assert (2, 1, "solo", 3000) in out
    assert (3, 1, "common", 1000) in out
    assert len(out) == 5
    with pytest.raises(ValueError):
        top_terms(df, k=0)


# ---------------------------------------------------------------------------
# Duplicated-span detection
# ---------------------------------------------------------------------------


def test_dup_span_stats_hand_computed(spark):
    """Docs 1 and 2 share an 8-token run ('a1..a8') at different offsets;
    doc 3 is clean.  The shared run yields one span of exactly 8 dup
    tokens in each doc — positions inside the span merge, text outside
    stays clean."""
    from dp1_data_wrangling_spark.operators.dedup import dup_span_stats

    shared = " ".join(f"a{i}" for i in range(8))
    rows = [
        (1, f"x1 x2 x3 {shared} y1 y2"),
        (2, f"{shared} z1 z2 z3 z4 z5"),
        (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in dup_span_stats(df, n=8).collect()}
    assert (out[1]["dup_tokens"], out[1]["n_spans"], out[1]["n_hit_grams"]) == (8, 1, 1)
    assert (out[2]["dup_tokens"], out[2]["n_spans"], out[2]["n_hit_grams"]) == (8, 1, 1)
    assert (out[3]["dup_tokens"], out[3]["n_spans"]) == (0, 0)
    assert out[1]["n_tokens"] == 13


def test_dup_span_stats_merges_overlapping_and_splits_distant(spark):
    """Two duplicated runs in one doc: a long run (merged overlapping
    grams) and a second far-away run -> 2 spans; adjacent-gap==n runs
    merge into one."""
    from dp1_data_wrangling_spark.operators.dedup import dup_span_stats

    run1 = " ".join(f"a{i}" for i in range(10))  # 10-token run -> 3 grams, 1 span
    run2 = " ".join(f"b{i}" for i in range(8))
    rows = [
        (1, f"{run1} x1 x2 x3 x4 x5 x6 {run2}"),
        (2, f"p1 {run1} p2 p3 p4 p5 p6 p7 p8 p9 p10 {run2} p11"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in dup_span_stats(df, n=8).collect()}
    for d in (1, 2):
        assert out[d]["dup_tokens"] == 18, out[d]  # 10 + 8
        assert out[d]["n_spans"] == 2, out[d]
    with pytest.raises(ValueError):
        dup_span_stats(df, n=0)


def test_semantic_dedup_clusters_planted_mutants_no_false_merges(spark):
    """Each %10 embedding gets a ~0.9999-cosine mutant; semantic_dedup must
    cluster >=90% of mutants with their source (SRP recall loss only) and
    must NEVER merge two distinct originals (max natural cosine ~0.51,
    far below the 0.95 threshold)."""
    from dp1_data_wrangling_spark.operators.semantic import semantic_dedup
    from dp1_data_wrangling_spark.queries_llm import (
        MUTANT_OFFSET,
        _augment_embeddings,
    )

    aug = _augment_embeddings(spark, SMOKE_SF)
    out = semantic_dedup(aug, dim=64, threshold=0.95, n_planes=8)
    rows = {r["vec_id"]: r for r in out.collect()}
    originals = [v for v in rows if v < MUTANT_OFFSET]
    mutants = [v for v in rows if v >= MUTANT_OFFSET]
    assert len(mutants) == len([v for v in originals if v % 10 == 0])
    caught = sum(
        1 for m in mutants if rows[m]["component"] == m - MUTANT_OFFSET
    )
    assert caught >= 0.9 * len(mutants), f"{caught}/{len(mutants)}"
    # no two ORIGINALS share a component (false semantic merge)
    comp_of = {}
    for v in originals:
        c = rows[v]["component"]
        assert c not in comp_of, f"originals {comp_of[c]} and {v} merged"
        comp_of[c] = v
    # survivors are exactly the min-id representatives
    for v, r in rows.items():
        assert r["is_survivor"] == (v == r["component"])


def test_semantic_decontaminate_flags_planted_leaks_only(spark):
    """semantic_decontaminate (round 8): with the planted mutants as the
    eval set, >=90% of %10 corpus rows flag contaminated (SRP recall
    loss only), NO other corpus row flags (max natural cosine ~0.51 <<
    0.95), clean rows carry NULL max_sim, and the output covers every
    corpus row exactly once."""
    from dp1_data_wrangling_spark.operators.semantic import (
        semantic_decontaminate,
    )
    from dp1_data_wrangling_spark.queries_llm import (
        MUTANT_OFFSET,
        _augment_embeddings,
    )
    from dp1_data_wrangling_spark.tables import load_table

    corpus = load_table(spark, SMOKE_SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    eval_set = _augment_embeddings(spark, SMOKE_SF).filter(
        F.col("vec_id") >= MUTANT_OFFSET
    )
    rows = {
        r["vec_id"]: r
        for r in semantic_decontaminate(
            corpus, eval_set, dim=64, threshold=0.95, n_planes=8
        ).collect()
    }
    n_corpus = corpus.count()
    assert len(rows) == n_corpus
    planted = [v for v in rows if v % 10 == 0]
    flagged = [v for v, r in rows.items() if r["contaminated"]]
    assert set(flagged) <= set(planted), "false contamination flag"
    assert len(flagged) >= 0.9 * len(planted), f"{len(flagged)}/{len(planted)}"
    for v, r in rows.items():
        if r["contaminated"]:
            assert r["max_sim"] is not None and r["max_sim"] >= 0.95
            assert r["n_eval_hits"] >= 1
        else:
            assert r["max_sim"] is None and r["n_eval_hits"] == 0


def test_srp_signature_partitioning_invariant(spark):
    """The integer SRP signature is a pure function of the vector — any
    repartitioning yields byte-identical signatures (the blocking must not
    depend on physical layout)."""
    from dp1_data_wrangling_spark.operators.semantic import srp_signature
    from dp1_data_wrangling_spark.tables import load_table

    emb = load_table(spark, SMOKE_SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    a = srp_signature(emb, dim=64, n_planes=8)
    b = srp_signature(emb.repartition(17, "vec_id"), dim=64, n_planes=8)
    da = {r["vec_id"]: r["srp_sig"] for r in a.collect()}
    db = {r["vec_id"]: r["srp_sig"] for r in b.collect()}
    assert da == db
    assert all(0 <= s < 256 for s in da.values())


def test_semantic_dedup_hot_bucket_cap_drops_degenerate_pileups(spark):
    """A pile of identical vectors larger than max_bucket_size must be
    dropped from pairing (each becomes a singleton survivor), not explode
    into a quadratic bucket — mirroring the MinHash hot-bucket valve."""
    from dp1_data_wrangling_spark.operators.semantic import semantic_dedup

    base = [float(i + 1) for i in range(8)]
    rows = [(i, base) for i in range(12)] + [(100, [1.0] * 8), (101, [1.0] * 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(
        df, dim=8, threshold=0.95, n_planes=2, max_bucket_size=5
    ).collect()
    by_id = {r["vec_id"]: r for r in out}
    # the 12-clone pile exceeded the cap: all singletons, all survive
    assert all(by_id[i]["is_survivor"] for i in range(12))
    # the small duplicate pair still deduped (if bucketed together, which
    # identical vectors always are)
    assert by_id[101]["component"] == 100
    assert not by_id[101]["is_survivor"]


def test_source_mix_clamps_and_subsamples(spark):
    """A source whose tokens fit its target is fully kept (rate clamps at
    1); an over-budget source is subsampled to ~its target; an unlisted
    source is dropped entirely."""
    from dp1_data_wrangling_spark.operators.sampling import source_mix

    rows = (
        [(i, "small", 10) for i in range(20)]  # 200 tokens
        + [(100 + i, "big", 10) for i in range(400)]  # 4000 tokens
        + [(900 + i, "unlisted", 10) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    out = source_mix(
        df, weights={"small": 1, "big": 1}, token_budget=2000
    )  # targets: 1000 tokens each
    kept = out.filter("keep").groupBy("source").sum("n_tokens").collect()
    by_src = {r["source"]: r["sum(n_tokens)"] for r in kept}
    assert by_src.get("small") == 200  # under target -> all kept
    assert "unlisted" not in by_src  # weight 0 -> dropped
    # subsampled to ~1000 of 4000 tokens (hash noise: allow a wide band)
    assert 600 <= by_src.get("big", 0) <= 1400, by_src


def test_source_mix_is_partitioning_invariant_and_validates(spark):
    import pytest as _pytest

    from dp1_data_wrangling_spark.operators.sampling import source_mix

    rows = [(i, f"s{i % 3}", 5 + i % 7) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    w = {"s0": 2, "s1": 1, "s2": 1}
    a = {
        r["doc_id"]: r["keep"]
        for r in source_mix(df, weights=w, token_budget=300).collect()
    }
    b = {
        r["doc_id"]: r["keep"]
        for r in source_mix(
            df.repartition(13, "source"), weights=w, token_budget=300
        ).collect()
    }
    assert a == b and len(a) == 200
    with _pytest.raises(ValueError):
        source_mix(df, weights={"s0": -1, "s1": 2}, token_budget=100)
    with _pytest.raises(ValueError):
        source_mix(df, weights={}, token_budget=100)
    with _pytest.raises(ValueError):
        source_mix(df, weights={"s0": 0}, token_budget=100)
    with _pytest.raises(ValueError):
        source_mix(df, weights=w, token_budget=-5)


def test_quantile_filter_matches_naive_rank_window(spark):
    """The skew-proof histogram decomposition must agree exactly with the
    naive per-group rank cutoff (rank*100 <= n*pct, ties by id), including
    at boundary scores with many ties."""
    import random

    from dp1_data_wrangling_spark.operators.selection import quantile_filter

    rng = random.Random(7)
    rows = [
        (i, f"g{i % 3}", rng.choice([1, 2, 2, 3, 3, 3, 5]))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, grp string, score long")
    for pct in (0, 37, 60, 100):
        got = {
            r["doc_id"]: r["keep"]
            for r in quantile_filter(
                df,
                score_col="score",
                group_col="grp",
                keep_top_percent=pct,
                id_col="doc_id",
            ).collect()
        }
        # naive reference
        want = {}
        for g in ("g0", "g1", "g2"):
            grp = sorted(
                [(s, i) for i, gg, s in rows if gg == g],
                key=lambda t: (-t[0], t[1]),
            )
            n = len(grp)
            for r, (s, i) in enumerate(grp, start=1):
                want[i] = r * 100 <= n * pct
        assert got == want, f"pct={pct}"
    with pytest.raises(ValueError):
        quantile_filter(
            df, score_col="score", group_col="grp",
            keep_top_percent=101, id_col="doc_id",
        )


def test_semantic_multi_table_srp_raises_recall_and_reduces_to_one(spark):
    """n_tables=1 reproduces the single-table pair set exactly (the oracle
    contract); more tables can only ADD candidates (union), and on the
    planted mutants 2 tables recall at least as many pairs as 1."""
    from dp1_data_wrangling_spark.operators.semantic import (
        semantic_candidate_pairs,
    )
    from dp1_data_wrangling_spark.queries_llm import _augment_embeddings

    aug = _augment_embeddings(spark, SMOKE_SF).localCheckpoint(eager=True)
    one = semantic_candidate_pairs(aug, dim=64, n_tables=1)
    two = semantic_candidate_pairs(aug, dim=64, n_tables=2)
    p1 = {(r["id_a"], r["id_b"]) for r in one.collect()}
    p2 = {(r["id_a"], r["id_b"]) for r in two.collect()}
    assert p1 <= p2
    mutant1 = sum(1 for a, b in p1 if b == a + 1_000_000)
    mutant2 = sum(1 for a, b in p2 if b == a + 1_000_000)
    assert mutant2 >= mutant1 > 0
    with pytest.raises(ValueError):
        semantic_candidate_pairs(aug, dim=64, n_tables=0)


def test_source_mix_and_quantile_filter_keep_null_key_rows(spark):
    """Rows with NULL group/score keys must SURVIVE with keep=false —
    an inner join would silently drop them (a row-count change no caller
    expects from a filter-flag operator)."""
    from dp1_data_wrangling_spark.operators.sampling import source_mix
    from dp1_data_wrangling_spark.operators.selection import quantile_filter

    rows = [(1, "a", 10), (2, None, 10), (3, "a", None)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    out = source_mix(df, weights={"a": 1}, token_budget=100).collect()
    assert len(out) == 3
    assert {r["doc_id"]: r["keep"] for r in out}[2] is False

    df2 = spark.createDataFrame(
        [(1, "g", 5), (2, "g", None), (3, None, 5)],
        "doc_id long, grp string, score long",
    )
    out2 = quantile_filter(
        df2, score_col="score", group_col="grp",
        keep_top_percent=100, id_col="doc_id",
    ).collect()
    assert len(out2) == 3
    by = {r["doc_id"]: r["keep"] for r in out2}
    assert by[1] is True and by[2] is False and by[3] is False


def test_source_mix_zero_token_source_needs_positive_weight(spark):
    """A source whose docs total 0 tokens has no budget pressure, but the
    free pass applies only to LISTED (positive-weight) sources — an
    unlisted all-empty source must stay excluded per the docstring."""
    from dp1_data_wrangling_spark.operators.sampling import source_mix

    rows = [(1, "listed", 0), (2, "listed", 0), (3, "ghost", 0), (4, "ghost", 0)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    by = {
        r["doc_id"]: r["keep"]
        for r in source_mix(df, weights={"listed": 1}, token_budget=100).collect()
    }
    assert by[1] is True and by[2] is True
    assert by[3] is False and by[4] is False


def test_quantile_filter_null_scores_do_not_inflate_group_size(spark):
    """NULL-score rows are unrankable: excluded from the histogram (so n
    counts only rankable rows) and never kept.  With one rankable + one
    NULL row, pct=100 keeps the rankable row; pct=50 must NOT (n=1, and
    1*100 <= 1*50 is false) — under the old n=2 accounting it would."""
    from dp1_data_wrangling_spark.operators.selection import quantile_filter

    df = spark.createDataFrame(
        [(1, "g", 5), (2, "g", None)], "doc_id long, grp string, score long"
    )

    def run(pct):
        return {
            r["doc_id"]: r["keep"]
            for r in quantile_filter(
                df, score_col="score", group_col="grp",
                keep_top_percent=pct, id_col="doc_id",
            ).collect()
        }

    assert run(100) == {1: True, 2: False}
    assert run(50) == {1: False, 2: False}


def test_gopher_rules_each_rule_hand_checked(spark):
    """Gopher quality screen: one crafted doc per rule violation, plus a
    clean doc that passes everything — each flag verified independently
    so a threshold edit can't silently flip a different rule."""
    from dp1_data_wrangling_spark.operators.text import gopher_rules

    good = "the quick brown fox jumps over that lazy dog with " * 6  # 60 words
    docs = [
        (1, good),                                    # passes all rules
        (2, "the short doc that ends with this"),     # word_count low
        (3, "a " * 60 + "the that"),                  # mean word len < 3
        (4, ("## " + good).replace("fox", "###")),    # symbol ratio high
        (5, "\n".join("- the bullet that x with y" for _ in range(10)) * 3),
        (6, "\n".join((("the line " * 7) + "that with...") for _ in range(10))),
        (7, "1 2 3 4 5 " * 12 + "the that"),          # alpha fraction low
        (8, "quick brown fox jumps over lazy dog " * 8),  # no stopwords
        (9, None),                                    # NULL text -> reject
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in gopher_rules(df).collect()}

    assert out[1]["keep"] and all(
        out[1][f] for f in (
            "word_count_ok", "mean_wlen_ok", "symbol_ok", "bullet_ok",
            "ellipsis_ok", "alpha_ok", "stopword_ok",
        )
    )
    assert not out[2]["word_count_ok"] and not out[2]["keep"]
    assert not out[3]["mean_wlen_ok"]
    assert not out[4]["symbol_ok"]
    assert not out[5]["bullet_ok"] and out[5]["word_count_ok"]
    assert not out[6]["ellipsis_ok"] and out[6]["word_count_ok"]
    assert not out[7]["alpha_ok"]
    assert not out[8]["stopword_ok"] and out[8]["n_stop_distinct"] == 0
    assert not out[9]["keep"] and out[9]["n_words"] == 0

    # Distinct-stopword counting: repeats of one stopword count once.
    rep = spark.createDataFrame(
        [(1, "the the the the the")], "doc_id long, text string"
    )
    assert gopher_rules(rep).collect()[0]["n_stop_distinct"] == 1


def test_pq_encode_codes_shape_and_sampled_vectors_roundtrip(spark):
    """PQ encoding: every row gets m codes in [0, k_codes); the md5-sampled
    codebook-source vectors encode with an exact reconstruction (their own
    slices ARE codewords), so recon_norm2 equals their true squared norm
    and ADC similarity against themselves is ~1."""
    from dp1_data_wrangling_spark.operators import similarity as sim
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = sim.pq_codebooks(emb, dim=64, m=16, k_codes=16)
    assert cb.count() == 16 * 16
    enc = sim.pq_encode(emb, cb, dim=64, m=16, k_codes=16)
    bad = enc.filter(
        (F.size("codes") != 16)
        | F.exists("codes", lambda c: (c < 0) | (c >= 16))
    ).count()
    assert bad == 0
    # Codebook-source rows reconstruct exactly: recon_norm2 == |v|^2.
    src = enc.withColumn(
        "true_norm2",
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, v: a + v,
        ),
    ).withColumn("err", F.abs(F.col("recon_norm2") - F.col("true_norm2")))
    exact = src.filter(F.col("err") < 1e-9).count()
    assert exact >= 16  # at least the k_codes sampled vectors


def test_pq_codebooks_rejects_underfilled_corpus(spark):
    """Fewer corpus rows than k_codes must fail loudly: an underfilled
    codebook silently breaks the positional slice(__cb, sub*k+1, k)
    lookups in pq_encode (codes would read into the NEXT subspace's
    entries — ADVICE r8)."""
    import pytest as _pytest

    from dp1_data_wrangling_spark.operators import similarity as sim

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(7)
    )
    with _pytest.raises(ValueError, match="k_codes=16 corpus rows"):
        sim.pq_codebooks(emb, dim=64, m=16, k_codes=16)


def test_pq_adc_topk_contract_and_determinism(spark):
    """ADC top-k: k rows per probe, ranks 1..k, no self-matches, exact
    sims in [-1, 1], and bit-identical across runs (md5 codebooks, fold
    sums, id tie-breaks)."""
    from dp1_data_wrangling_spark.operators import similarity as sim
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    out = sim.pq_adc_topk(probes, emb, k=5, dim=64, m=16, k_codes=16, shortlist=25)
    rows = out.collect()
    n_probes = probes.count()
    assert len(rows) == 5 * n_probes
    by_probe = {}
    for r in rows:
        assert r["probe_id"] != r["neighbor_id"]
        assert -1.0 <= r["sim"] <= 1.0
        by_probe.setdefault(r["probe_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_probe.values())
    rows2 = sim.pq_adc_topk(
        probes, emb, k=5, dim=64, m=16, k_codes=16, shortlist=25
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_pq_shortlist_full_corpus_matches_brute_force(spark):
    """With shortlist >= corpus size the ADC stage is pure candidate
    generation and the exact re-rank must reproduce brute-force top-k
    bit-for-bit — the correctness anchor for the LUT/re-rank plumbing."""
    from dp1_data_wrangling_spark.operators import similarity as sim
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    pq = sim.pq_adc_topk(
        probes, emb, k=5, dim=64, m=16, k_codes=16, shortlist=10_000
    ).select("probe_id", "neighbor_id", "sim", "rank")
    bf = sim.brute_force_topk(probes, emb, k=5).select(
        "probe_id", "neighbor_id", "sim", "rank"
    )
    assert sorted(map(tuple, pq.collect())) == sorted(map(tuple, bf.collect()))


def test_ivf_pq_contract_and_determinism(spark):
    """IVF-PQ composed index: k rows per probe with ranks 1..k, no
    self-matches, exact re-ranked sims in [-1, 1], bit-identical across
    runs (md5 coarse quantizer + md5 codebooks + id tie-breaks)."""
    from dp1_data_wrangling_spark.operators import similarity as sim
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    kw = dict(k=5, dim=64, n_cells=16, nprobe=10, m=16, k_codes=16, shortlist=50)
    rows = sim.ivf_pq_topk(probes, emb, **kw).collect()
    assert len(rows) == 5 * probes.count()
    by_probe = {}
    for r in rows:
        assert r["probe_id"] != r["neighbor_id"]
        assert -1.0 <= r["sim"] <= 1.0
        by_probe.setdefault(r["probe_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_probe.values())
    rows2 = sim.ivf_pq_topk(probes, emb, **kw).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_ivf_pq_all_cells_full_shortlist_matches_brute_force(spark):
    """With nprobe == n_cells (every cell visited) and shortlist >= corpus
    size, both approximation levers are disabled and the exact re-rank
    must reproduce brute-force top-k bit-for-bit — the correctness anchor
    for the cell-join + ADC + re-rank composition."""
    from dp1_data_wrangling_spark.operators import similarity as sim
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    ivfpq = sim.ivf_pq_topk(
        probes, emb, k=5, dim=64, n_cells=16, nprobe=16, m=16, k_codes=16,
        shortlist=10_000,
    ).select("probe_id", "neighbor_id", "sim", "rank")
    bf = sim.brute_force_topk(probes, emb, k=5).select(
        "probe_id", "neighbor_id", "sim", "rank"
    )
    assert sorted(map(tuple, ivfpq.collect())) == sorted(map(tuple, bf.collect()))


def test_pagerank_hand_computed_two_node_cycle(spark):
    """a<->b with no dangling mass: symmetric graph must give equal
    ranks, and one exact-integer iteration is hand-checkable:
    r0 = 5e11 each; share = r0; r1 = (15 * 5e11) // 100
    + (85 * (5e11 + 0)) // 100 = 75e9 + 425e9 = 5e11 exactly."""
    from dp1_data_wrangling_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(1,), (2,)], ["node"])
    edges = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    got = {
        r["node"]: r["pr"]
        for r in pagerank(nodes, edges, iterations=3).collect()
    }
    assert got == {1: 500_000_000_000, 2: 500_000_000_000}


def test_pagerank_dangling_mass_and_sink_ordering(spark):
    """1->3, 2->3, 3 dangling: the sink must out-rank its feeders, the
    dangling redistribution must keep total mass near `scale` (only
    truncation loss), and sources with identical in-profiles tie."""
    from dp1_data_wrangling_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(1,), (2,), (3,)], ["node"])
    edges = spark.createDataFrame([(1, 3), (2, 3)], ["src", "dst"])
    got = {
        r["node"]: r["pr"]
        for r in pagerank(nodes, edges, iterations=5).collect()
    }
    assert got[1] == got[2]  # symmetric sources tie exactly
    assert got[3] > got[1]  # the sink accumulates both shares
    total = sum(got.values())
    # mass conserved up to deterministic truncation (a few units per
    # division per node per iteration)
    assert 10**12 * 0.999 <= total <= 10**12


def test_pagerank_parallel_edges_and_self_loops_deterministic(spark):
    """Parallel edges weight double, self-loops are legal, and reruns
    are bit-identical (pure integer arithmetic, order-free sums)."""
    from dp1_data_wrangling_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], ["node"])
    edges = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 3), (2, 2), (3, 4), (4, 1)], ["src", "dst"]
    )
    a = sorted(map(tuple, pagerank(nodes, edges, iterations=4).collect()))
    b = sorted(map(tuple, pagerank(nodes, edges, iterations=4).collect()))
    assert a == b
    got = dict(a)
    # node 2 receives 2/3 of node 1's shares plus its own self-loop: it
    # must out-rank node 3 (1/3 of node 1 only)
    assert got[2] > got[3]


def _ppr_ref(n_nodes, edges, seeds, iters=5, damping=85, scale=10**12):
    """Pure-python replay of the personalized update rule."""
    outdeg = {}
    for a, _ in edges:
        outdeg[a] = outdeg.get(a, 0) + 1
    s = len(seeds)
    seed_tel = (((100 - damping) * scale) // 100) // s
    r = {v: scale // n_nodes for v in range(1, n_nodes + 1)}
    for _ in range(iters):
        dangling = sum(r[v] for v in r if outdeg.get(v, 0) == 0)
        contrib = {}
        for a, b in edges:
            contrib[b] = contrib.get(b, 0) + r[a] // outdeg[a]
        r = {
            v: (seed_tel if v in seeds else 0)
            + (
                damping
                * (contrib.get(v, 0) + (dangling // s if v in seeds else 0))
            )
            // 100
            for v in r
        }
    return r


def test_personalized_pagerank_matches_python_replay(spark):
    """A 6-node graph with a dangling sink and one seed: every exact
    mass matches an independent python replay, and rank decays with
    distance from the seed (the locality property)."""
    from dp1_data_wrangling_spark.operators.graph import (
        personalized_pagerank,
    )

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (2, 1)]
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], ["node"])
    e = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {
        r["node"]: r["pr"]
        for r in personalized_pagerank(nodes, e, seeds).collect()
    }
    assert got == _ppr_ref(6, edges, {1})
    # locality: the chain 3 -> 4 -> 5 decays monotonically away from
    # the seed's neighborhood
    assert got[3] > got[4] > got[5]
    assert got[1] > got[6]


def test_personalized_pagerank_mass_concentrates_on_seed_side(spark):
    """Two disconnected 2-cycles, seed in one of them: the seeded
    component keeps essentially all mass, the other decays toward 0."""
    from dp1_data_wrangling_spark.operators.graph import (
        personalized_pagerank,
    )

    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], ["node"])
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 4), (4, 3)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {
        r["node"]: r["pr"]
        for r in personalized_pagerank(
            nodes, e, seeds, iterations=14
        ).collect()
    }
    # the unseeded cycle gets no teleport, so its mass decays at
    # 0.85^k from its initial 50% share: 0.85^14 * 5e11 ~ 5.2e10
    unseeded = got[3] + got[4]
    seeded = got[1] + got[2]
    assert unseeded < 60_000_000_000
    assert seeded > 10 * unseeded


def test_personalized_pagerank_validation(spark):
    from dp1_data_wrangling_spark.operators.graph import (
        personalized_pagerank,
    )

    nodes = spark.createDataFrame([(1,), (2,)], ["node"])
    e = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError, match="no seed id"):
        personalized_pagerank(
            nodes, e, spark.createDataFrame([(99,)], ["node"])
        )
    with pytest.raises(ValueError, match="iterations"):
        personalized_pagerank(
            nodes, e, spark.createDataFrame([(1,)], ["node"]), iterations=0
        )


def test_weighted_quantiles_hand_computed(spark):
    """Values 10/20/30 with weights 1/1/8 (total 10): the weighted p50
    and p90 are both 30 (cumw hits 5 and 9 only at 30); p10 is 10.
    Zero/NULL weights and NULL values are excluded; an unweighted
    (all-1) run degenerates to the ordinary nearest-rank quantile."""
    from dp1_data_wrangling_spark.operators.stats import weighted_quantiles

    rows = [
        ("g", 10, 1), ("g", 20, 1), ("g", 30, 8),
        ("g", 99, 0), ("g", None, 5), ("g", 7, None),
    ]
    df = spark.createDataFrame(rows, "k string, v long, w long")
    got = weighted_quantiles(
        df, value_col="v", weight_col="w", group_cols=["k"],
        percents=[10, 50, 90],
    ).collect()[0]
    assert (got.total_weight, got.wq_p10, got.wq_p50, got.wq_p90) == (
        10, 10, 30, 30,
    )

    flat = spark.createDataFrame(
        [("u", v, 1) for v in range(1, 101)], "k string, v long, w long"
    )
    g2 = weighted_quantiles(
        flat, value_col="v", weight_col="w", group_cols=["k"],
        percents=[50, 99],
    ).collect()[0]
    assert (g2.wq_p50, g2.wq_p99) == (50, 99)
    with pytest.raises(ValueError, match="percents"):
        weighted_quantiles(
            flat, value_col="v", weight_col="w", percents=[0]
        )


def test_weighted_quantiles_ungrouped_distributed(spark):
    """The ungrouped form (r12: distributed_rank's running weight, no
    single-partition window) == the grouped form on a constant key,
    including duplicate (value, weight) pairs and the empty input's
    one-NULL-row aggregate shape."""
    from dp1_data_wrangling_spark.operators.stats import weighted_quantiles

    rows = [(i, (i * 7) % 13, (i % 4) + 1) for i in range(120)]
    rows += rows[:17]  # duplicate (v, w) pairs
    df = spark.createDataFrame(rows, "id long, v long, w long")
    got = weighted_quantiles(
        df, value_col="v", weight_col="w", percents=[10, 50, 90, 99]
    ).collect()
    want = (
        weighted_quantiles(
            df.withColumn("k", F.lit("x")),
            value_col="v", weight_col="w", group_cols=["k"],
            percents=[10, 50, 90, 99],
        )
        .drop("k")
        .collect()
    )
    assert [r.asDict() for r in got] == [r.asDict() for r in want]

    empty = weighted_quantiles(
        df.filter("v < 0"), value_col="v", weight_col="w", percents=[50]
    ).collect()
    assert len(empty) == 1 and empty[0].total_weight is None


def test_equi_depth_bins_ungrouped_distributed(spark):
    """The ungrouped form (r12: distributed_ntile, no single-partition
    window) == NTILE() OVER (ORDER BY v, id), on doubles with ties."""
    from pyspark.sql import Window

    from dp1_data_wrangling_spark.operators.stats import equi_depth_bins

    rows = [(i, float((i * 5) % 9) / 2.0) for i in range(73)] + [
        (100, None)
    ]
    df = spark.createDataFrame(rows, "id long, v double")
    got = {
        r.id: r.bin
        for r in equi_depth_bins(
            df, value_col="v", id_col="id", n_bins=4
        ).collect()
    }
    want = {
        r.id: r.bin
        for r in df.filter("v is not null")
        .withColumn("bin", F.ntile(4).over(Window.orderBy("v", "id")))
        .collect()
    }
    assert got == want


def test_weighted_quantiles_fractional_weights_excluded(spark):
    """A double weight in (0, 1) truncates to 0 and must be EXCLUDED,
    not counted as weight-0 (review fix: pre-fix it collapsed every
    quantile to the group minimum)."""
    from dp1_data_wrangling_spark.operators.stats import weighted_quantiles

    rows = [("g", 10, 0.5), ("g", 20, 0.5), ("g", 30, 2.7)]
    df = spark.createDataFrame(rows, "k string, v long, w double")
    out = weighted_quantiles(
        df, value_col="v", weight_col="w", group_cols=["k"], percents=[50]
    ).collect()
    assert len(out) == 1
    assert (out[0].total_weight, out[0].wq_p50) == (2, 30)

    all_frac = df.filter("w < 1")
    assert (
        weighted_quantiles(
            all_frac, value_col="v", weight_col="w", group_cols=["k"],
            percents=[50],
        ).count()
        == 0
    )


def test_corr_pairs_hand_computed(spark):
    """Known series: y = 2x (corr exactly 1), z anti-monotone with x
    (corr -1 for the linear case), w constant (NULL — zero variance),
    and a NULL row excluded listwise (n drops for every pair)."""
    import math

    from dp1_data_wrangling_spark.operators.stats import corr_pairs

    rows = [
        (1, 2, 30, 7), (2, 4, 20, 7), (3, 6, 10, 7), (4, 8, 0, 7),
        (5, None, 5, 7),
    ]
    df = spark.createDataFrame(rows, "x long, y long, z long, w long")
    got = {
        (r.col_a, r.col_b): (r.n, r.corr)
        for r in corr_pairs(df, value_cols=["x", "y", "z", "w"]).collect()
    }
    assert len(got) == 6
    assert got[("x", "y")] == (4, 1.0)
    assert got[("x", "z")] == (4, -1.0)
    assert got[("y", "z")] == (4, -1.0)
    assert got[("x", "w")] == (4, None)

    # independent numpy-free replay of a non-trivial pair
    xs, zs = [1, 2, 3, 4], [30, 20, 10, 0]
    n = 4
    num = n * sum(a * b for a, b in zip(xs, zs)) - sum(xs) * sum(zs)
    den = math.sqrt(n * sum(a * a for a in xs) - sum(xs) ** 2) * math.sqrt(
        n * sum(b * b for b in zs) - sum(zs) ** 2
    )
    assert got[("x", "z")][1] == round(num / den, 6)


def test_corr_pairs_grouped_and_validation(spark):
    from dp1_data_wrangling_spark.operators.stats import corr_pairs

    rows = [("a", i, 2 * i) for i in range(5)] + [
        ("b", i, -3 * i) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "k string, x long, y long")
    got = {
        r.k: r.corr
        for r in corr_pairs(
            df, value_cols=["x", "y"], key_cols=["k"]
        ).collect()
    }
    assert got == {"a": 1.0, "b": -1.0}
    with pytest.raises(ValueError, match=">= 2"):
        corr_pairs(df, value_cols=["x"])
    with pytest.raises(ValueError, match="duplicate"):
        corr_pairs(df, value_cols=["x", "x"])


def test_corr_pairs_underscore_names_no_alias_collision(spark):
    """Column sets like ('a','b_c') vs ('a_b','c') must not collide in
    the sufficient-statistic aliases (review fix: positional indices)."""
    from dp1_data_wrangling_spark.operators.stats import corr_pairs

    rows = [(i, 2 * i, 3 * i, 5 - i) for i in range(6)]
    df = spark.createDataFrame(rows, "a long, b_c long, a_b long, c long")
    got = {
        (r.col_a, r.col_b): r.corr
        for r in corr_pairs(
            df, value_cols=["a", "b_c", "a_b", "c"]
        ).collect()
    }
    assert len(got) == 6
    assert got[("a", "b_c")] == 1.0
    assert got[("a", "c")] == -1.0


def test_equi_depth_bins_hand_computed(spark):
    """7 values into 3 bins: ntile gives counts 3/2/2; ties split by id
    deterministically; NULLs excluded; grouped form bins per key."""
    from dp1_data_wrangling_spark.operators.stats import equi_depth_bins

    rows = [("g", i, v) for i, v in enumerate([5, 1, 3, 3, 9, 7, 2])] + [
        ("g", 99, None), ("h", 1, 10), ("h", 2, 20),
    ]
    df = spark.createDataFrame(rows, "k string, id long, v long")
    got = {
        (r.k, r.id): r.bin
        for r in equi_depth_bins(
            df, value_col="v", id_col="id", n_bins=3, key_cols=["k"]
        ).collect()
    }
    # g sorted by (v, id): (1,1)(2,6)(3,2)|(3,3)(5,0)|(7,5)(9,4)
    assert got == {
        ("g", 1): 1, ("g", 6): 1, ("g", 2): 1,
        ("g", 3): 2, ("g", 0): 2,
        ("g", 5): 3, ("g", 4): 3,
        ("h", 1): 1, ("h", 2): 2,
    }
    with pytest.raises(ValueError, match="n_bins"):
        equi_depth_bins(df, value_col="v", id_col="id", n_bins=1)


def test_pagerank_input_validation(spark):
    from dp1_data_wrangling_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(1,)], ["node"])
    edges = spark.createDataFrame([(1, 1)], ["src", "dst"])
    with pytest.raises(ValueError, match="damping_pct"):
        pagerank(nodes, edges, damping_pct=100)
    with pytest.raises(ValueError, match="iterations"):
        pagerank(nodes, edges, iterations=0)
    with pytest.raises(ValueError, match="non-empty"):
        pagerank(nodes.filter("node < 0"), edges)


def test_scd2_build_hand_computed(spark):
    """a: X@10 X@20 Y@30 X@50 -> three versions with closing bounds;
    b: single observation stays current from its first ts."""
    from dp1_data_wrangling_spark.operators.scd import scd2_build

    ev = spark.createDataFrame(
        [
            ("a", 10, 1, "X"), ("a", 20, 2, "X"), ("a", 30, 3, "Y"),
            ("a", 50, 4, "X"), ("b", 15, 5, "Z"),
        ],
        ["k", "ts", "seq", "attr"],
    )
    rows = sorted(
        map(
            tuple,
            scd2_build(
                ev, key="k", tracked=["attr"], ts_col="ts",
                order_extra=["seq"],
            ).select("k", "attr", "version", "valid_from", "valid_to",
                     "last_seen", "is_current").collect(),
        )
    )
    # last_seen = the version's LAST observation (X@20 collapses into
    # version 1 but leaves its ts as the run end)
    assert rows == [
        ("a", "X", 1, 10, 30, 20, False),
        ("a", "X", 3, 50, None, 50, True),
        ("a", "Y", 2, 30, 50, 30, False),
        ("b", "Z", 1, 15, None, 15, True),
    ]


def test_scd2_build_null_transitions_and_multi_tracked(spark):
    """NULL->value and value->NULL are real transitions (null-safe
    compare); a change in EITHER tracked column opens a version."""
    from dp1_data_wrangling_spark.operators.scd import scd2_build

    ev = spark.createDataFrame(
        [
            ("a", 1, 1, None, "p"), ("a", 2, 2, "X", "p"),
            ("a", 3, 3, "X", "q"), ("a", 4, 4, "X", "q"),
            ("a", 5, 5, None, "q"),
        ],
        ["k", "ts", "seq", "attr", "plan"],
    )
    rows = scd2_build(
        ev, key="k", tracked=["attr", "plan"], ts_col="ts",
        order_extra=["seq"],
    ).orderBy("version").collect()
    assert [(r["attr"], r["plan"], r["valid_from"]) for r in rows] == [
        (None, "p", 1), ("X", "p", 2), ("X", "q", 3), (None, "q", 5)
    ]
    assert [r["is_current"] for r in rows] == [False, False, False, True]


def test_scd2_build_all_null_first_observation_kept(spark):
    """A key whose FIRST observation has every tracked column NULL must
    still open version 1 (regression: eqNullSafe(NULL, lag()=NULL) made
    the first row look unchanged and the key vanished from history —
    ADVICE r8 high).  A key that is all-NULL for its entire life must
    produce exactly one version."""
    import pyspark.sql.types as T

    from dp1_data_wrangling_spark.operators.scd import (
        scd2_apply, scd2_build,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("ts", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("attr", T.StringType()),
        ]
    )
    ev = spark.createDataFrame(
        [
            ("a", 1, 1, None), ("a", 2, 2, None), ("a", 3, 3, "X"),
            ("b", 1, 4, None), ("b", 2, 5, None),
        ],
        schema,
    )
    kw = dict(key="k", tracked=["attr"], ts_col="ts", order_extra=["seq"])
    rows = scd2_build(ev, **kw).orderBy("k", "version").collect()
    assert [(r["k"], r["attr"], r["valid_from"], r["version"]) for r in rows] == [
        ("a", None, 1, 1), ("a", "X", 3, 2), ("b", None, 1, 1)
    ]
    # last_seen covers the all-NULL run's final observation
    assert rows[0]["last_seen"] == 2 and rows[2]["last_seen"] == 2
    # scd2_apply's log-less replay round-trips the all-NULL history too
    batch = spark.createDataFrame([("b", 9, 6, "Y")], schema)
    nk = lambda row: tuple((v is None, v) for v in row)  # noqa: E731
    got = sorted(map(tuple, scd2_apply(scd2_build(ev, **kw), batch, **kw).collect()), key=nk)
    want = sorted(map(tuple, scd2_build(ev.union(batch), **kw).collect()), key=nk)
    assert got == want


def test_scd2_apply_incremental_equals_full_rebuild(spark):
    """Folding a batch into an existing history must equal building from
    the full event stream, and keys absent from the batch pass through
    bit-identically (the semi/anti split never touches them)."""
    from dp1_data_wrangling_spark.operators.scd import scd2_apply, scd2_build

    first = spark.createDataFrame(
        [("a", 10, 1, "X"), ("a", 30, 2, "Y"), ("b", 10, 3, "P"),
         ("c", 20, 4, "Q")],
        ["k", "ts", "seq", "attr"],
    )
    batch = spark.createDataFrame(
        [("a", 40, 5, "Z"), ("c", 25, 6, "Q"), ("d", 5, 7, "N")],
        ["k", "ts", "seq", "attr"],
    )
    kw = dict(key="k", tracked=["attr"], ts_col="ts", order_extra=["seq"])
    hist = scd2_build(first, **kw)
    got = sorted(map(tuple, scd2_apply(hist, batch, **kw).collect()))
    want = sorted(map(tuple, scd2_build(first.union(batch), **kw).collect()))
    assert got == want


def test_scd2_build_requires_tracked(spark):
    from dp1_data_wrangling_spark.operators.scd import scd2_build

    ev = spark.createDataFrame([("a", 1, "X")], ["k", "ts", "attr"])
    with pytest.raises(ValueError, match="tracked"):
        scd2_build(ev, key="k", tracked=[], ts_col="ts")


def test_funnel_match_hand_computed(spark):
    """u1 converts (view@10 click@20 buy@30); u2 stalls at click out of
    window; u3 has click before view only (no step 2: strictly after);
    u4 never views (absent from output).  First-touch anchoring: u5's
    early view with no click in window is NOT rescued by a later
    view+click pair."""
    from dp1_data_wrangling_spark.operators.funnel import funnel_match

    rows = [
        (1, "view", 10), (1, "click", 20), (1, "purchase", 30),
        (2, "view", 10), (2, "click", 200),
        (3, "click", 5), (3, "view", 10),
        (4, "click", 10), (4, "purchase", 20),
        (5, "view", 10), (5, "view", 100), (5, "click", 150),
    ]
    e = spark.createDataFrame(rows, ["user_id", "event_type", "ts_us"])
    got = {
        r["user_id"]: (
            r["t1_us"], r["t2_us"], r["t3_us"],
            r["steps_completed"], r["converted"],
        )
        for r in funnel_match(
            e, steps=["view", "click", "purchase"], within_us=50
        ).collect()
    }
    assert got == {
        1: (10, 20, 30, 3, True),
        2: (10, None, None, 1, False),
        3: (10, None, None, 1, False),
        5: (10, None, None, 1, False),
    }


def test_funnel_match_picks_earliest_qualifying_each_step(spark):
    """Two qualifying clicks -> the earlier anchors step 3's window."""
    from dp1_data_wrangling_spark.operators.funnel import funnel_match

    e = spark.createDataFrame(
        [(1, "view", 0), (1, "click", 10), (1, "click", 40),
         (1, "purchase", 55)],
        ["user_id", "event_type", "ts_us"],
    )
    r = funnel_match(
        e, steps=["view", "click", "purchase"], within_us=50
    ).collect()[0]
    # click@10 anchors; purchase@55 is within 10+50 -> converted
    assert (r["t2_us"], r["t3_us"], r["converted"]) == (10, 55, True)


def test_funnel_match_validation(spark):
    from dp1_data_wrangling_spark.operators.funnel import funnel_match

    e = spark.createDataFrame([(1, "view", 0)], ["user_id", "event_type", "ts_us"])
    with pytest.raises(ValueError, match="steps"):
        funnel_match(e, steps=["view"], within_us=10)
    with pytest.raises(ValueError, match="within_us"):
        funnel_match(e, steps=["a", "b"], within_us=0)


def test_cohort_retention_hand_computed(spark):
    """Week length 604800000000 us.  u1 first in week 0, active weeks
    0 and 2; u2 first in week 0, active week 0 only; u3 first in week 2."""
    from dp1_data_wrangling_spark.operators.funnel import (
        WEEK_US,
        cohort_retention,
    )

    e = spark.createDataFrame(
        [
            (1, 5), (1, 2 * WEEK_US + 3), (1, 2 * WEEK_US + 9),
            (2, 10),
            (3, 2 * WEEK_US),
        ],
        ["user_id", "ts_us"],
    )
    got = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in cohort_retention(e).collect()
    }
    assert got == {(0, 0): 2, (0, 2): 1, (2, 0): 1}


def test_transition_matrix_hand_computed(spark):
    """u1: a->b->a; u2: a->b.  Transitions: a->b x2, b->a x1.
    From 'a' total 2: a->b prob 1000; from 'b' total 1: b->a 1000.
    With an extra a->a for u2 the from-a row splits 666/333 floor."""
    from dp1_data_wrangling_spark.operators.funnel import transition_matrix

    e = spark.createDataFrame(
        [(1, 1, 10, "a"), (1, 2, 20, "b"), (1, 3, 30, "a"),
         (2, 4, 10, "a"), (2, 5, 20, "a"), (2, 6, 30, "b")],
        ["user_id", "event_id", "ts_us", "event_type"],
    )
    got = {
        (r["from_type"], r["to_type"]): (r["n_transitions"], r["prob_milli"])
        for r in transition_matrix(e, order_extra=["event_id"]).collect()
    }
    assert got == {
        ("a", "b"): (2, 666),
        ("a", "a"): (1, 333),
        ("b", "a"): (1, 1000),
    }


def test_sessionize_hand_computed(spark):
    """gap=50: u1 events at 10,40,100 -> sessions {10,40} and {100};
    u2 single event; boundary: gap EXACTLY 50 does not split (strict >)."""
    from dp1_data_wrangling_spark.operators.funnel import sessionize

    e = spark.createDataFrame(
        [(1, 10), (1, 40), (1, 100), (2, 7), (3, 0), (3, 50)],
        ["user_id", "ts_us"],
    )
    got = {
        (r["user_id"], r["session_idx"]): (
            r["start_us"], r["end_us"], r["n_events"], r["duration_us"]
        )
        for r in sessionize(e, gap_us=50).collect()
    }
    assert got == {
        (1, 1): (10, 40, 2, 30),
        (1, 2): (100, 100, 1, 0),
        (2, 1): (7, 7, 1, 0),
        (3, 1): (0, 50, 2, 50),
    }


def test_sessionize_validation(spark):
    from dp1_data_wrangling_spark.operators.funnel import sessionize

    e = spark.createDataFrame([(1, 10)], ["user_id", "ts_us"])
    with pytest.raises(ValueError, match="gap_us"):
        sessionize(e, gap_us=0)


def test_gapfill_hand_computed(spark):
    """step=10: key 'a' obs at ts 5(v=1.5), 7(v=2.5) same bucket 0 ->
    rep is LAST (ts 7); next obs at ts 35 (bucket 3, v=9.0).  Grid
    0..3 with buckets 1,2 forward-filled from 2.5.  Key 'b': single
    obs -> single grid row, observed."""
    from dp1_data_wrangling_spark.operators.timeseries import gapfill

    obs = spark.createDataFrame(
        [("a", 5, 1.5), ("a", 7, 2.5), ("a", 35, 9.0), ("b", 11, 4.0)],
        ["key", "ts_us", "value"],
    )
    got = {
        (r["key"], r["bucket_ts_us"]): (r["value_filled"], r["is_observed"])
        for r in gapfill(obs, step_us=10).collect()
    }
    assert got == {
        ("a", 0): (2.5, True),
        ("a", 10): (2.5, False),
        ("a", 20): (2.5, False),
        ("a", 30): (9.0, True),
        ("b", 10): (4.0, True),
    }


def test_gapfill_tie_break_uses_tie_cols(spark):
    """Two obs at the SAME ts in one bucket: the larger tie column wins."""
    from dp1_data_wrangling_spark.operators.timeseries import gapfill

    obs = spark.createDataFrame(
        [("a", 5, 1, 1.0), ("a", 5, 2, 7.0)],
        ["key", "ts_us", "seq", "value"],
    )
    rows = gapfill(obs, step_us=10, tie_cols=["seq"]).collect()
    assert len(rows) == 1 and rows[0]["value_filled"] == 7.0


def test_gapfill_max_buckets_fail_fast(spark):
    """A key spanning more grid cells than max_buckets aborts with a
    descriptive error instead of exploding the grid."""
    from dp1_data_wrangling_spark.operators.timeseries import gapfill

    obs = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 1000, 2.0)], ["key", "ts_us", "value"]
    )
    with pytest.raises(Exception, match="max_buckets"):
        gapfill(obs, step_us=1, max_buckets=50).collect()
    # same data passes under a sufficient cap
    assert gapfill(obs, step_us=1, max_buckets=2000).count() == 1001


def test_gapfill_validation(spark):
    from dp1_data_wrangling_spark.operators.timeseries import gapfill

    obs = spark.createDataFrame([("a", 0, 1.0)], ["key", "ts_us", "value"])
    with pytest.raises(ValueError, match="step_us"):
        gapfill(obs, step_us=0)
    with pytest.raises(ValueError, match="max_buckets"):
        gapfill(obs, step_us=1, max_buckets=0)


def test_profile_table_hand_computed(spark):
    """Nulls, empty strings, and length bounds all counted per column."""
    from dp1_data_wrangling_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "ab"), (2, ""), (2, None), (None, "xyz")],
        ["id", "s"],
    )
    got = {r["column_name"]: r.asDict() for r in profile_table(df).collect()}
    assert got["id"] == {
        "column_name": "id", "n_rows": 4, "n_nulls": 1, "n_distinct": 2,
        "n_empty": None, "min_len": None, "max_len": None,
    }
    assert got["s"] == {
        "column_name": "s", "n_rows": 4, "n_nulls": 1, "n_distinct": 3,
        "n_empty": 1, "min_len": 0, "max_len": 3,
    }


def test_profile_table_approx_mode_within_rsd(spark):
    """HLL++ mode (the 100 TB path, no Expand) lands within 3*rsd of
    exact on a 1000-distinct column."""
    from pyspark.sql import functions as F

    from dp1_data_wrangling_spark.operators.profile import profile_table

    df = spark.range(5000).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("v")
    )
    got = {
        r["column_name"]: r["n_distinct"]
        for r in profile_table(df, exact_distinct=False, rsd=0.05).collect()
    }
    assert abs(got["k"] - 1000) <= 150
    assert abs(got["v"] - 5000) <= 750


def test_profile_table_validation(spark):
    from dp1_data_wrangling_spark.operators.profile import profile_table

    df = spark.createDataFrame([(1,)], ["a"])
    with pytest.raises(ValueError, match="unknown columns"):
        profile_table(df, columns=["nope"])
    with pytest.raises(ValueError, match="at least one"):
        profile_table(df, columns=[])


def test_linear_trend_hand_computed(spark):
    """y = 2x + 1 exactly -> slope_milli 2000; falling y = -3x ->
    -3000 (truncation toward zero on a negative numerator); a
    single-point group has no x-variance -> NULL slope."""
    from dp1_data_wrangling_spark.operators.stats import linear_trend

    df = spark.createDataFrame(
        [("up", 0, 1), ("up", 1, 3), ("up", 2, 5),
         ("down", 0, 0), ("down", 1, -3), ("down", 2, -6),
         ("flat", 7, 9)],
        ["g", "x", "y"],
    )
    got = {
        r["g"]: (r["n"], r["sum_x"], r["sum_y"], r["slope_milli"],
                 r["mean_x_milli"], r["mean_y_milli"])
        for r in linear_trend(
            df, x_col="x", y_col="y", group_cols=["g"]
        ).collect()
    }
    assert got["up"] == (3, 3, 9, 2000, 1000, 3000)
    assert got["down"] == (3, 3, -9, -3000, 1000, -3000)
    assert got["flat"] == (1, 7, 9, None, 7000, 9000)


def test_linear_trend_truncates_toward_zero_like_sql(spark):
    """slope = -1/3 -> milli -333 (NOT floor's -334): pins the
    truncating semantic the DuckDB `//` replay uses."""
    from dp1_data_wrangling_spark.operators.stats import linear_trend

    df = spark.createDataFrame(
        [(0, 1), (3, 0)], ["x", "y"]
    )
    r = linear_trend(df, x_col="x", y_col="y").collect()[0]
    assert r["slope_milli"] == -333


def test_linear_trend_validation(spark):
    from dp1_data_wrangling_spark.operators.stats import linear_trend

    df = spark.createDataFrame([(1, 1)], ["x", "y"])
    with pytest.raises(ValueError, match="scale"):
        linear_trend(df, x_col="x", y_col="y", scale=0)


def test_sequence_match_hand_computed(spark):
    """u1 v->c->p in order (matched); u2 p->c->v reversed (no); u3's
    unmapped 'error' events are excluded from the string; tie at the
    same ts resolved by event_id so the order is total."""
    from dp1_data_wrangling_spark.operators.funnel import sequence_match

    rows = [
        (1, 1, 10, "view"), (1, 2, 20, "click"), (1, 3, 30, "purchase"),
        (2, 4, 10, "purchase"), (2, 5, 20, "click"), (2, 6, 30, "view"),
        (3, 7, 10, "view"), (3, 8, 10, "error"), (3, 9, 10, "click"),
    ]
    e = spark.createDataFrame(rows, ["user_id", "event_id", "ts_us", "event_type"])
    got = {
        r["user_id"]: (r["seq_len"], r["matched"])
        for r in sequence_match(
            e,
            pattern="v.*c.*p",
            type_map={"view": "v", "click": "c", "purchase": "p"},
            tie_cols=["event_id"],
        ).collect()
    }
    assert got == {1: (3, True), 2: (3, False), 3: (2, False)}


def test_sequence_match_validation(spark):
    from dp1_data_wrangling_spark.operators.funnel import sequence_match

    e = spark.createDataFrame([(1, 0, "a")], ["user_id", "ts_us", "event_type"])
    with pytest.raises(ValueError, match="single characters"):
        sequence_match(e, pattern="x", type_map={"a": "ab"})
    with pytest.raises(ValueError, match="empty"):
        sequence_match(e, pattern="x", type_map={})


def test_mad_anomaly_hand_computed(spark):
    """Group g: values 1,2,3,4,100.  median=3 (med2=6); dev2=|2x-6| =
    {4,2,0,2,194}, sorted {0,2,2,4,194}; n=5 odd so both picked middle
    order statistics are the 3rd value 2 -> mad4=4, MAD=1.  Flag
    |x-3| > 3*MAD=3: only x=100 (dev 97)."""
    from dp1_data_wrangling_spark.operators.stats import mad_anomaly

    df = spark.createDataFrame(
        [("g", v) for v in [1, 2, 3, 4, 100]], ["grp", "x"]
    )
    got = {
        r["x"]: (r["med2"], r["mad4"], r["dev2"], r["is_anomaly"])
        for r in mad_anomaly(df, x_col="x", group_cols=["grp"]).collect()
    }
    assert got[3] == (6, 4, 0, False)
    assert got[1] == (6, 4, 4, False)  # dev 2 <= 3*MAD=3 -> not flagged
    assert got[100] == (6, 4, 194, True)
    assert sum(1 for v in got.values() if v[3]) == 1


def test_mad_anomaly_even_count_half_integer_median(spark):
    """Values 1,2,4,8: median 3 (med2=6), dev2={4,2,2,10} sorted ->
    middles 2,4 -> mad4=6 (MAD=1.5).  Flag dev > 3*1.5=4.5: only 8
    (dev 5).  Pins the half-integer median/MAD path."""
    from dp1_data_wrangling_spark.operators.stats import mad_anomaly

    df = spark.createDataFrame([(v,) for v in [1, 2, 4, 8]], ["x"])
    got = {
        r["x"]: (r["med2"], r["mad4"], r["is_anomaly"])
        for r in mad_anomaly(df, x_col="x").collect()
    }
    assert got == {
        1: (6, 6, False), 2: (6, 6, False),
        4: (6, 6, False), 8: (6, 6, True),
    }


def test_mad_anomaly_degenerate_zero_mad(spark):
    """More than half identical -> MAD=0 -> any deviation flags."""
    from dp1_data_wrangling_spark.operators.stats import mad_anomaly

    df = spark.createDataFrame([(v,) for v in [5, 5, 5, 7]], ["x"])
    got = {r["x"]: r["is_anomaly"] for r in mad_anomaly(df, x_col="x").collect()}
    assert got == {5: False, 7: True}


def test_mad_anomaly_validation(spark):
    from dp1_data_wrangling_spark.operators.stats import mad_anomaly

    df = spark.createDataFrame([(1,)], ["x"])
    with pytest.raises(ValueError, match="k_milli"):
        mad_anomaly(df, x_col="x", k_milli=0)


def test_fuzzy_pairs_hand_computed(spark):
    """kitten-family: sitten (1 sub), sittin (2 subs), sitting (3 — out at
    d=2), kitte (1 del), itten (1 del).  Empty key excluded."""
    from dp1_data_wrangling_spark.operators.fuzzy import fuzzy_pairs

    rows = [
        (0, "kitten"), (1, "sitten"), (2, "sittin"),
        (3, "sitting"), (4, ""), (5, "kitte"), (6, "itten"),
    ]
    df = spark.createDataFrame(rows, ["id", "key"])
    got = {
        (r.id_a, r.id_b): r.dist
        for r in fuzzy_pairs(df, key_col="key", id_col="id", max_dist=2).collect()
    }
    assert got == {
        (0, 1): 1, (0, 2): 2, (0, 5): 1, (0, 6): 1,
        (1, 2): 1, (1, 3): 2, (1, 5): 2, (1, 6): 1,
        (2, 3): 1, (2, 6): 2, (5, 6): 2,
    }
    # id 4 (empty key) never appears; sitting vs kitten (dist 3) excluded
    assert not any(4 in p for p in got)


def test_fuzzy_pairs_short_keys_use_empty_segment_block(spark):
    """Keys shorter than d+1 chars have EMPTY segments; d edits can touch
    every non-empty segment, so completeness rides on keeping the empty
    block key (regression: 'a' vs 'b' at d=1 was missed when empty
    segments were filtered)."""
    from dp1_data_wrangling_spark.operators.fuzzy import fuzzy_pairs

    df = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "ab"), (3, "xyz")], ["id", "key"]
    )
    got = {
        (r.id_a, r.id_b): r.dist
        for r in fuzzy_pairs(df, key_col="key", id_col="id", max_dist=1).collect()
    }
    assert got == {(0, 1): 1, (0, 2): 1, (1, 2): 1}


def test_fuzzy_pairs_validation(spark):
    from dp1_data_wrangling_spark.operators.fuzzy import fuzzy_pairs

    df = spark.createDataFrame([(1, "x")], ["id", "key"])
    with pytest.raises(ValueError, match="max_dist"):
        fuzzy_pairs(df, key_col="key", id_col="id", max_dist=0)


def test_ohlc_hand_computed(spark):
    """Key g, bucket width 10: ts 1,5,9 -> bucket 0 with values 3.0 (open),
    9.0 (high), 1.0 (close/low is 1.0? no: values 3,9,1 -> low 1, close 1);
    ts 11 -> bucket 1 single row (all four stats equal)."""
    from dp1_data_wrangling_spark.operators.timeseries import ohlc

    rows = [
        ("g", 1, 1, 3.0), ("g", 5, 2, 9.0), ("g", 9, 3, 1.0),
        ("g", 11, 4, 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts long, eid long, v double")
    got = {
        (r.k, r.bucket): (r.open, r.high, r.low, r.close, r.n_events)
        for r in ohlc(
            df, ts_col="ts", value_col="v", step_us=10,
            key_cols=["k"], tie_cols=["eid"],
        ).collect()
    }
    assert got == {
        ("g", 0): (3.0, 9.0, 1.0, 1.0, 3),
        ("g", 1): (7.0, 7.0, 7.0, 7.0, 1),
    }


def test_ohlc_tie_break_is_deterministic(spark):
    """Two rows share ts=5; open/close must follow the (ts, eid) total
    order, not partition luck: open = eid 1's value, close = eid 2's."""
    from dp1_data_wrangling_spark.operators.timeseries import ohlc

    rows = [("g", 5, 2, 8.0), ("g", 5, 1, 4.0)]
    df = spark.createDataFrame(rows, "k string, ts long, eid long, v double")
    r = ohlc(
        df, ts_col="ts", value_col="v", step_us=100,
        key_cols=["k"], tie_cols=["eid"],
    ).collect()[0]
    assert (r.open, r.close, r.high, r.low) == (4.0, 8.0, 8.0, 4.0)


def test_ohlc_validation(spark):
    from dp1_data_wrangling_spark.operators.timeseries import ohlc

    df = spark.createDataFrame([("g", 1, 1, 1.0)], "k string, ts long, eid long, v double")
    with pytest.raises(ValueError, match="step_us"):
        ohlc(df, ts_col="ts", value_col="v", step_us=0)


def test_triangle_count_hand_computed(spark):
    """K4 on {0,1,2,3} minus edge (2,3): triangles {0,1,2} and {0,1,3} —
    nodes 0,1 in two each, nodes 2,3 in one.  Edge list is dirty on
    purpose: duplicates, both orientations, and a self-loop."""
    from dp1_data_wrangling_spark.operators.graph import triangle_count

    edges = [(0, 1), (1, 0), (0, 2), (1, 2), (0, 3), (3, 0), (1, 3), (2, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_count(df).collect()}
    assert got == {0: 2, 1: 2, 2: 1, 3: 1}


def test_triangle_count_no_triangles(spark):
    from dp1_data_wrangling_spark.operators.graph import triangle_count

    df = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    assert triangle_count(df).count() == 0


def test_scd2_apply_with_observations_places_interleaved_late_event(spark):
    """History [(a,10,X),(a,20,X)] collapses the no-change X@20; a late
    Y@15 can only be placed correctly from the RAW log.  With
    observations= the apply equals the full rebuild: [X@10-15, Y@15-20,
    X@20 current]."""
    from dp1_data_wrangling_spark.operators.scd import scd2_apply, scd2_build

    kw = dict(key="k", tracked=["attr"], ts_col="ts", order_extra=["seq"])
    obs = spark.createDataFrame(
        [("a", 10, 1, "X"), ("a", 20, 2, "X")], ["k", "ts", "seq", "attr"]
    )
    late = spark.createDataFrame([("a", 15, 3, "Y")], ["k", "ts", "seq", "attr"])
    hist = scd2_build(obs, **kw)
    got = sorted(map(tuple, scd2_apply(hist, late, observations=obs, **kw).collect()))
    want = sorted(map(tuple, scd2_build(obs.union(late), **kw).collect()))
    assert got == want
    by_ver = sorted(
        (r.version, r.attr, r.valid_from, r.is_current)
        for r in scd2_apply(hist, late, observations=obs, **kw).collect()
    )
    assert by_ver == [(1, "X", 10, False), (2, "Y", 15, False), (3, "X", 20, True)]


def test_scd2_apply_with_observations_resolves_ts_tie(spark):
    """Batch event ties on ts with an existing version boundary: the raw
    log keeps the real tie-break extras, so incremental == full rebuild
    (the version-replay path would order the NULL-extra replay first)."""
    from dp1_data_wrangling_spark.operators.scd import scd2_apply, scd2_build

    kw = dict(key="k", tracked=["attr"], ts_col="ts", order_extra=["seq"])
    obs = spark.createDataFrame([("a", 10, 2, "X")], ["k", "ts", "seq", "attr"])
    tie = spark.createDataFrame([("a", 10, 1, "Y")], ["k", "ts", "seq", "attr"])
    hist = scd2_build(obs, **kw)
    got = sorted(map(tuple, scd2_apply(hist, tie, observations=obs, **kw).collect()))
    want = sorted(map(tuple, scd2_build(obs.union(tie), **kw).collect()))
    assert got == want  # current must be X (seq 2), not Y


def test_scd2_apply_without_observations_rejects_non_append(spark):
    """The lossy version-replay path fails FAST on any event at or
    before the key's last valid_from instead of silently rewriting
    history from collapsed state."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from dp1_data_wrangling_spark.operators.scd import scd2_apply, scd2_build

    kw = dict(key="k", tracked=["attr"], ts_col="ts", order_extra=["seq"])
    obs = spark.createDataFrame(
        [("a", 10, 1, "X"), ("a", 20, 2, "X")], ["k", "ts", "seq", "attr"]
    )
    hist = scd2_build(obs, **kw)
    # ts=15 is AFTER the last version start (10) but before the collapsed
    # no-change observation at 20 -- only last_seen can catch this
    late = spark.createDataFrame([("a", 15, 3, "Y")], ["k", "ts", "seq", "attr"])
    with pytest.raises(SparkRuntimeException, match="scd2_apply"):
        scd2_apply(hist, late, **kw).collect()


def _kmv_ref_hash(v) -> int:
    import hashlib

    return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)


def test_kmv_sketch_hand_computed(spark):
    """k=3 over 5 distinct values (plus a duplicate and a NULL): the
    sketch is exactly the 3 smallest md5-prefix hashes, the estimate is
    (k-1)*M/h_3; a group with < k distinct values is exact."""
    from dp1_data_wrangling_spark.operators.sketch import (
        KMV_SPACE, kmv_estimate, kmv_sketch,
    )

    rows = [("g", v) for v in [10, 20, 30, 40, 50, 10, None]] + [
        ("h", 1), ("h", 2), ("h", 1),
    ]
    df = spark.createDataFrame(rows, "grp string, v long")
    sk = kmv_sketch(df, value_col="v", group_cols=["grp"], k=3)
    got_g = sorted(r.hv for r in sk.filter("grp = 'g'").collect())
    want_g = sorted(_kmv_ref_hash(v) for v in [10, 20, 30, 40, 50])[:3]
    assert got_g == want_g
    est = {
        r.grp: (r.n_seen, r.kth_hash, r.est_distinct)
        for r in kmv_estimate(sk, group_cols=["grp"], k=3).collect()
    }
    assert est["g"] == (3, want_g[2], round(2.0 * KMV_SPACE / want_g[2], 6))
    assert est["h"] == (2, None, 2.0)  # under-filled -> exact, no kth


def test_kmv_merge_equals_sketch_of_union(spark):
    """The KMV merge law: merging per-part sketches is IDENTICAL to
    sketching the union — the property that makes the sketch
    reaggregatable across partitions/days without raw data."""
    from dp1_data_wrangling_spark.operators.sketch import kmv_merge, kmv_sketch

    a = spark.createDataFrame([(i,) for i in range(40)], "v long")
    b = spark.createDataFrame([(i,) for i in range(25, 70)], "v long")
    sk_a = kmv_sketch(a, value_col="v", k=8)
    sk_b = kmv_sketch(b, value_col="v", k=8)
    merged = sorted(r.hv for r in kmv_merge([sk_a, sk_b], k=8).collect())
    direct = sorted(
        r.hv for r in kmv_sketch(a.union(b), value_col="v", k=8).collect()
    )
    assert merged == direct


def test_kmv_validation(spark):
    from dp1_data_wrangling_spark.operators.sketch import kmv_merge, kmv_sketch

    df = spark.createDataFrame([(1,)], "v long")
    with pytest.raises(ValueError, match="k must be"):
        kmv_sketch(df, value_col="v", k=1)
    with pytest.raises(ValueError, match="non-empty"):
        kmv_merge([])


def test_decay_attribution_hand_computed(spark):
    """One conversion (value 1000) with touches aged 0/1/3 half-lives:
    weights 2^20/2^19/2^17, floors 609/304/152 (sum 1065... compute),
    remainder to the most recent touch; an out-of-window touch and a
    different user's touch are excluded."""
    from dp1_data_wrangling_spark.operators.funnel import decay_attribution

    rows = [
        # user, id, type, ts_us, value_milli
        (1, 100, "buy", 10_000, 1000),
        (1, 1, "ad", 9_999, None),    # age 0 halves  -> w 2^20
        (1, 2, "ad", 8_500, None),    # age 1 half    -> w 2^19
        (1, 3, "ad", 6_500, None),    # age 3 halves  -> w 2^17
        (1, 4, "ad", 10_001, None),   # after conversion -> excluded
        (1, 5, "ad", 1, None),        # outside window  -> excluded
        (2, 6, "ad", 9_999, None),    # other user      -> excluded
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, "
        "ts_us long, value_milli long"
    )
    got = {
        r.touch_id: r
        for r in decay_attribution(
            df, conversion_type="buy", touch_types=["ad"],
            within_us=9_000, half_life_us=1_000,
        ).collect()
    }
    assert set(got) == {1, 2, 3}
    w = {1: 1 << 20, 2: 1 << 19, 3: 1 << 17}
    wsum = sum(w.values())
    fl = {k: 1000 * v // wsum for k, v in w.items()}
    rem = 1000 - sum(fl.values())
    assert {k: r.credit_milli for k, r in got.items()} == {
        1: fl[1] + rem, 2: fl[2], 3: fl[3]
    }
    assert {k: r.weight for k, r in got.items()} == w
    assert all(r.n_touches == 3 for r in got.values())


def test_decay_attribution_credits_sum_exactly(spark):
    """Property over a messy synthetic slice: per conversion, credits
    sum back to the conversion value exactly, and saturated ages (past
    max_age_halves) still carry weight 1, never 0."""
    from dp1_data_wrangling_spark.operators.funnel import decay_attribution

    rows = []
    for u in range(20):
        rows.append((u, 10_000 + u, "buy", 1_000_000, 997 + u * 13))
        for t in range(1 + u % 5):
            rows.append(
                (u, 100 * u + t, "ad", 1_000_000 - 1 - t * 110_000, None)
            )
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, "
        "ts_us long, value_milli long"
    )
    out = decay_attribution(
        df, conversion_type="buy", touch_types=["ad"],
        within_us=900_000, half_life_us=50_000, max_age_halves=8,
    )
    sums = {
        r.conv_id: r.s
        for r in out.groupBy("conv_id")
        .agg(F.sum("credit_milli").alias("s"))
        .collect()
    }
    assert sums == {10_000 + u: 997 + u * 13 for u in range(20)}
    assert out.filter("weight < 1").count() == 0
    assert out.filter("age_halves = 8 AND weight = 1").count() > 0


def test_decay_attribution_same_age_remainder_goes_to_most_recent(spark):
    """Two touches in the SAME age bucket share a weight: the rounding
    remainder must go to the more recent timestamp, not the lower id
    (review fix — weight desc alone cannot order within a bucket)."""
    from dp1_data_wrangling_spark.operators.funnel import decay_attribution

    rows = [
        (1, 100, "buy", 10_000, 1001),
        (1, 5, "ad", 9_000, None),   # same age bucket, OLDER, lower id
        (1, 9, "ad", 9_999, None),   # same age bucket, NEWER
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, "
        "ts_us long, value_milli long"
    )
    got = {
        r.touch_id: r.credit_milli
        for r in decay_attribution(
            df, conversion_type="buy", touch_types=["ad"],
            within_us=9_000, half_life_us=2_000,
        ).collect()
    }
    assert got == {9: 501, 5: 500}


def test_decay_attribution_null_value_conversion_excluded(spark):
    """A conversion with NULL value attributes nothing (and must not
    trip the overflow guard with a NULLed-out message — review fix)."""
    from dp1_data_wrangling_spark.operators.funnel import decay_attribution

    rows = [
        (1, 100, "buy", 10_000, None),
        (1, 1, "ad", 9_000, None),
        (2, 200, "buy", 10_000, 500),
        (2, 2, "ad", 9_000, None),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, "
        "ts_us long, value_milli long"
    )
    got = decay_attribution(
        df, conversion_type="buy", touch_types=["ad"],
        within_us=9_000, half_life_us=2_000,
    ).collect()
    assert [(r.conv_id, r.credit_milli) for r in got] == [(200, 500)]


def test_decay_attribution_validation(spark):
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from dp1_data_wrangling_spark.operators.funnel import decay_attribution

    df = spark.createDataFrame(
        [(1, 1, "buy", 10, -5), (1, 2, "ad", 5, None)],
        "user_id long, event_id long, event_type string, ts_us long, "
        "value_milli long",
    )
    kw = dict(conversion_type="buy", touch_types=["ad"], within_us=100,
              half_life_us=10)
    with pytest.raises(SparkRuntimeException, match="decay_attribution"):
        decay_attribution(df, **kw).collect()
    ok = df.filter("value_milli IS NULL OR value_milli >= 0")
    with pytest.raises(ValueError, match="half_life_us"):
        decay_attribution(ok, conversion_type="buy", touch_types=["ad"],
                          within_us=100, half_life_us=0)
    with pytest.raises(ValueError, match="max_age_halves"):
        decay_attribution(ok, max_age_halves=0, **kw)


def test_entity_resolution_hand_computed(spark):
    """Mini ER: three typo variants of one record + a singleton resolve
    to two golden records with exact member counts and balance rollups
    (multi-hop: variant 1 and 2 are distance 2 apart, linked through
    the base)."""
    from dp1_data_wrangling_spark.operators.components import (
        dedup_survivors,
    )
    from dp1_data_wrangling_spark.operators.fuzzy import fuzzy_pairs

    rows = [
        (1, "abcdef123456", 100),
        (2, "zbcdef123456", 200),   # substitution of char 1
        (3, "abcdef12345", 300),    # truncation
        (9, "ffffff999999", 50),    # unrelated singleton
    ]
    dirty = spark.createDataFrame(rows, "id long, key string, m long")
    pairs = fuzzy_pairs(dirty, key_col="key", id_col="id", max_dist=2)
    got = {
        r.component: (r.n, r.s)
        for r in dedup_survivors(dirty, pairs, id_col="id")
        .join(dirty, "id")
        .groupBy("component")
        .agg(F.count("*").alias("n"), F.sum("m").alias("s"))
        .collect()
    }
    assert got == {1: (3, 600), 9: (1, 50)}


def _holt_ref(xs, s=20):
    """Pure-python replay of the fixed-point Holt recurrence."""
    out = []
    l, b = xs[0] << s, 0
    out.append((l, b))
    for x in xs[1:]:
        nl = ((x << s) + l + b) >> 1
        nb = ((x << s) - l + 3 * b) >> 2
        l, b = nl, nb
        out.append((l, b))
    return out


def test_acf_hand_computed(spark):
    """Series 1,2,3,4,5 (quant_scale=1): mu = 15 div 5 = 3, d = -2,-1,
    0,1,2, den = 10, num_1 = (-2)(-1)+(-1)(0)+(0)(1)+(1)(2) = 4,
    num_2 = (-2)(0)+(-1)(1)+(0)(2) = -1 -> r1 = 0.4, r2 = -0.1; a
    constant series has den 0 -> NULL acf; NULL values are excluded."""
    from dp1_data_wrangling_spark.operators.timeseries import acf

    rows = [("a", t, float(t + 1)) for t in range(5)]
    rows += [("c", t, 7.0) for t in range(3)]
    rows += [("a", 99, None)]
    df = spark.createDataFrame(rows, "g string, t long, v double")
    got = {
        (r.g, r.lag): (r.n, r.num_scaled, r.den_scaled, r.acf)
        for r in acf(
            df, value_col="v", order_cols=["t"], group_cols=["g"],
            max_lag=2, quant_scale=1,
        ).collect()
    }
    assert got[("a", 1)] == (5, 4, 10, 0.4)
    assert got[("a", 2)] == (5, -1, 10, -0.1)
    assert got[("c", 1)] == (3, 0, 0, None)
    assert got[("c", 2)] == (3, 0, 0, None)
    with pytest.raises(ValueError, match="max_lag"):
        acf(df, value_col="v", order_cols=["t"], group_cols=["g"], max_lag=0)


def test_acf_overflow_guard_fires(spark):
    """n * spread^2 beyond 2^62 raises executor-side instead of
    wrapping the lag sums (guard threaded into the consumed deviation
    column); a lag longer than the series yields num 0 / NULL-safe."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from dp1_data_wrangling_spark.operators.timeseries import acf

    # magnitudes chosen so the group sum S still fits int64 (the engine's
    # ANSI overflow would fire first otherwise) while n * spread^2 blows
    # the envelope: x = 4e15 millis, S = 2e16, spread^2 = 1.6e31
    big = spark.createDataFrame(
        [("g", t, 0.0 if t % 2 == 0 else 4.0e12) for t in range(10)],
        "g string, t long, v double",
    )
    out = acf(
        big, value_col="v", order_cols=["t"], group_cols=["g"],
        max_lag=1, quant_scale=1000,
    )
    with pytest.raises(SparkRuntimeException, match="acf"):
        out.collect()
    short = spark.createDataFrame(
        [("g", 0, 1.0), ("g", 1, 2.0)], "g string, t long, v double"
    )
    rows = {
        r.lag: (r.num_scaled, r.acf)
        for r in acf(
            short, value_col="v", order_cols=["t"], group_cols=["g"],
            max_lag=3, quant_scale=1,
        ).collect()
    }
    # n=2: lag 1 has one term, lags 2,3 have none -> num 0
    assert rows[2] == (0, 0.0) and rows[3] == (0, 0.0)


def test_holt_smooth_hand_computed(spark):
    """Every (level_num, trend_num) state matches an independent
    pure-python replay of the fixed-point recurrence, including a
    falling stretch that drives the trend negative (arithmetic-shift
    rounding on negatives)."""
    from dp1_data_wrangling_spark.operators.timeseries import holt_smooth

    xs = [100, 110, 130, 120, 90, 60, 70]
    df = spark.createDataFrame(
        [("a", t, float(v)) for t, v in enumerate(xs, 1)],
        "k string, ts long, v double",
    )
    got = holt_smooth(
        df, ts_col="ts", value_col="v", key_cols=["k"], quant_scale=1,
        frac_bits=20, forecast_steps=2,
    ).orderBy("ts").collect()
    want = _holt_ref(xs)
    assert [(r.level_num, r.trend_num) for r in got] == want
    assert [r.step for r in got] == list(range(1, len(xs) + 1))
    l, b = want[-1]
    assert got[-1].forecast == (l + 2 * b) / float(1 << 20)
    assert any(r.trend_num < 0 for r in got)


def test_holt_smooth_tracks_constant_and_linear(spark):
    """Contraction sanity: a constant series converges to (level=c,
    trend=0); a linear ramp's trend converges to the slope."""
    from dp1_data_wrangling_spark.operators.timeseries import holt_smooth

    rows = [("const", t, 50.0) for t in range(1, 41)] + [
        ("ramp", t, 10.0 + 3.0 * t) for t in range(1, 41)
    ]
    df = spark.createDataFrame(rows, "k string, ts long, v double")
    last = {
        r.k: r
        for r in holt_smooth(
            df, ts_col="ts", value_col="v", key_cols=["k"], quant_scale=1000,
        ).filter("step = 40").collect()
    }
    assert abs(last["const"].level - 50.0) < 1e-3
    assert abs(last["const"].trend) < 1e-3
    assert abs(last["ramp"].trend - 3.0) < 1e-2
    assert abs(last["ramp"].level - 130.0) < 0.1


def test_holt_smooth_drops_null_observations(spark):
    """NULL values are skipped (review fix: the overflow guard must not
    see NULLs — a NULL condition would take the raise branch)."""
    from dp1_data_wrangling_spark.operators.timeseries import holt_smooth

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, None), ("a", 3, 20.0)],
        "k string, ts long, v double",
    )
    got = holt_smooth(
        df, ts_col="ts", value_col="v", key_cols=["k"], quant_scale=1
    ).orderBy("ts").collect()
    assert [(r.ts, r.step) for r in got] == [(1, 1), (3, 2)]


def test_holt_smooth_guards_and_validation(spark):
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from dp1_data_wrangling_spark.operators.timeseries import holt_smooth

    df = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 1, 2.0)], "k string, ts long, v double"
    )
    kw = dict(ts_col="ts", value_col="v", key_cols=["k"])
    with pytest.raises(SparkRuntimeException, match="duplicate timestamps"):
        holt_smooth(df, **kw).collect()
    ok = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 2.0), ("a", 3, 3.0)],
        "k string, ts long, v double",
    )
    with pytest.raises(SparkRuntimeException, match="more than"):
        holt_smooth(ok, max_rows_per_key=2, **kw).collect()
    # inside BIGINT range (so the ANSI cast passes) but above the
    # fixed-point cap — the operator's own guard must fire
    big = spark.createDataFrame([("a", 1, 1e12)], "k string, ts long, v double")
    with pytest.raises(SparkRuntimeException, match="overflow"):
        holt_smooth(big, **kw).collect()
    with pytest.raises(ValueError, match="frac_bits"):
        holt_smooth(ok, frac_bits=2, **kw)
    with pytest.raises(ValueError, match="quant_scale"):
        holt_smooth(ok, quant_scale=0, **kw)
    with pytest.raises(ValueError, match="forecast_steps"):
        holt_smooth(ok, forecast_steps=-1, **kw)


def test_jaccard_threshold_join_hand_computed(spark):
    """Four tiny docs: the >= 0.5 pairs match a hand brute force; an
    empty doc is excluded; reported stats are exact."""
    from dp1_data_wrangling_spark.operators.dedup import (
        jaccard_threshold_join,
    )

    rows = [
        (1, "red green blue yellow"),
        (2, "red green blue purple"),     # J(1,2) = 3/5 = 0.6
        (3, "red cyan"),                  # J(1,3) = 1/5, J(2,3) = 1/5
        (4, "red green blue yellow"),     # J(1,4) = 1.0, J(2,4) = 0.6
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id_a, r.doc_id_b): (r.n_inter, r.n_a, r.n_b, r.jaccard)
        for r in jaccard_threshold_join(df, t_milli=500).collect()
    }
    assert got == {
        (1, 2): (3, 4, 4, 0.6),
        (1, 4): (4, 4, 4, 1.0),
        (2, 4): (3, 4, 4, 0.6),
    }
    with pytest.raises(ValueError, match="t_milli"):
        jaccard_threshold_join(df, t_milli=0)


def test_jaccard_threshold_join_hot_prefix_valve(spark):
    """The r10 max_prefix_df valve on the documented adversarial regime
    (short records, one corpus-wide stop word that lands in EVERY
    prefix): with the cap, the stop-word token is semi-pruned BEFORE
    the candidate self-join — candidate volume collapses from ~n²/2 to
    ~n — while every planted duplicate pair (which shares a RARE token)
    is still found, so the result equals the uncapped join exactly on
    this corpus.  Plan gate: the semi-join feeds the candidate join."""
    from dp1_data_wrangling_spark.operators.dedup import (
        jaccard_threshold_join,
    )

    n = 300
    # doc i: {zz, u<i//2>} — consecutive even/odd docs are identical
    # sets (J=1.0 via the rare u-token); every other pair shares only
    # the stop word (J=1/3 < 0.5)
    rows = [(i, f"zz u{i // 2}") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {
        (r.doc_id_a, r.doc_id_b)
        for r in jaccard_threshold_join(df, t_milli=500).collect()
    }
    capped_df = jaccard_threshold_join(df, t_milli=500, max_prefix_df=100)
    capped = {(r.doc_id_a, r.doc_id_b) for r in capped_df.collect()}
    assert capped == uncapped == {(2 * j, 2 * j + 1) for j in range(n // 2)}
    plan = capped_df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, "valve must pre-prune via semi-join"
    assert "CartesianProduct" not in plan
    with pytest.raises(ValueError, match="max_prefix_df"):
        jaccard_threshold_join(df, t_milli=500, max_prefix_df=1)


def test_jaccard_threshold_join_complete_vs_brute_force(spark):
    """Prefix-filter completeness on 60 md5-ish synthetic docs at two
    thresholds: the join equals an independent pure-python brute force
    exactly (no pair missed by the prefix filter, none invented)."""
    import hashlib

    from dp1_data_wrangling_spark.operators.dedup import (
        jaccard_threshold_join,
    )

    def words(i):
        # overlapping vocab: ~10 words drawn from a 40-word pool, with
        # consecutive ids sharing most of their pool slice
        base = i // 3
        return sorted(
            {
                "w" + hashlib.md5(f"{base}|{j}".encode()).hexdigest()[:4]
                for j in range(10)
            }
            | {"w" + hashlib.md5(f"x|{i}|{j}".encode()).hexdigest()[:4]
               for j in range(i % 3)}
        )

    docs = [(i, " ".join(words(i))) for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for tm in (300, 700):
        got = {
            (r.doc_id_a, r.doc_id_b)
            for r in jaccard_threshold_join(df, t_milli=tm).collect()
        }
        want = set()
        sets = {i: set(words(i)) for i, _ in docs}
        for i in range(60):
            for j in range(i + 1, 60):
                inter = len(sets[i] & sets[j])
                union = len(sets[i] | sets[j])
                if 1000 * inter >= tm * union:
                    want.add((i, j))
        assert got == want and want


def _hll_ref_regs(values, p=6):
    """Pure-python HLL register replay (md5-prefix hash, top-p bucket,
    rho = leading zeros of the remainder + 1)."""
    w = 60 - p
    regs = {}
    for v in values:
        hv = _kmv_ref_hash(v)
        bucket, r = hv >> w, hv & ((1 << w) - 1)
        rho = (w + 1) if r == 0 else (w + 1 - r.bit_length())
        regs[bucket] = max(regs.get(bucket, 0), rho)
    return regs


def test_hll_sketch_hand_computed(spark):
    """Registers over a small multiset (duplicates and a NULL ignored by
    max/filter) match an independent pure-python replay exactly."""
    from dp1_data_wrangling_spark.operators.sketch import hll_sketch

    vals = [10, 20, 30, 40, 50, 10, 20]
    rows = [("g", v) for v in vals] + [("g", None), ("h", 7)]
    df = spark.createDataFrame(rows, "grp string, v long")
    sk = hll_sketch(df, value_col="v", group_cols=["grp"], p=6)
    got_g = {r.bucket: r.reg for r in sk.filter("grp = 'g'").collect()}
    assert got_g == _hll_ref_regs(set(vals))
    got_h = {r.bucket: r.reg for r in sk.filter("grp = 'h'").collect()}
    assert got_h == _hll_ref_regs([7])


def test_hll_merge_equals_sketch_of_union(spark):
    """The HLL merge law: cellwise max of per-part registers IS the
    union's registers — and it is idempotent (merging a sketch with
    itself is a no-op), the at-least-once streaming guarantee."""
    from dp1_data_wrangling_spark.operators.sketch import hll_merge, hll_sketch

    a = spark.createDataFrame([(i,) for i in range(200)], "v long")
    b = spark.createDataFrame([(i,) for i in range(150, 400)], "v long")
    sk_a, sk_b = (
        hll_sketch(x, value_col="v", p=6) for x in (a, b)
    )
    merged = sorted(
        (r.bucket, r.reg) for r in hll_merge([sk_a, sk_b]).collect()
    )
    direct = sorted(
        (r.bucket, r.reg)
        for r in hll_sketch(a.union(b), value_col="v", p=6).collect()
    )
    assert merged == direct
    self_merged = sorted(
        (r.bucket, r.reg) for r in hll_merge([sk_a, sk_a]).collect()
    )
    assert self_merged == sorted((r.bucket, r.reg) for r in sk_a.collect())


def test_hll_estimate_matches_replay_and_tracks_exact(spark):
    """reg_denom replays exactly in python (the estimator is
    deterministic, not just approximately right), and the raw-HLL
    estimate lands within the expected ~1.04/sqrt(64) error band of the
    true cardinality for a 3000-distinct-value stream."""
    from dp1_data_wrangling_spark.operators.sketch import (
        hll_estimate, hll_sketch,
    )

    n = 3000
    df = spark.createDataFrame([(i % n,) for i in range(2 * n)], "v long")
    est = hll_estimate(
        hll_sketch(df, value_col="v", p=6), p=6
    ).collect()[0]
    regs = _hll_ref_regs(range(n))
    denom = sum(1 << (55 - r) for r in regs.values()) + (
        64 - len(regs)
    ) * (1 << 55)
    assert est.reg_denom == denom
    assert est.zero_buckets == 64 - len(regs)
    want = round(709000.0 * 4096.0 * float(1 << 55) / denom / 1e6, 6)
    assert est.est_distinct == pytest.approx(want, abs=1e-6)
    assert abs(est.est_distinct - n) / n < 0.4


def test_hll_estimate_empty_sketch_exact_denominator(spark):
    """A global estimate over an EMPTY sketch keeps the exact-integer
    contract: reg_denom = m * 2^(w+1), never NULL (review fix)."""
    from dp1_data_wrangling_spark.operators.sketch import (
        hll_estimate, hll_sketch,
    )

    empty = spark.createDataFrame([], "v long")
    est = hll_estimate(hll_sketch(empty, value_col="v", p=6), p=6).collect()
    assert len(est) == 1
    assert est[0].zero_buckets == 64
    assert est[0].reg_denom == 64 * (1 << 55)
    assert est[0].est_distinct is not None


def test_hll_rolling_equals_direct_sketch_of_trailing_union(spark):
    """The rolling registers equal hll_sketch over the raw trailing
    union for every anchor — the cellwise-max merge law at window
    scale — and unobserved anchors emit nothing (no phantom buckets)."""
    from dp1_data_wrangling_spark.operators.sketch import (
        hll_estimate, hll_rolling, hll_sketch,
    )

    rows = [
        ("g", d, v)
        for d, vals in [
            (10, range(0, 40)), (11, range(20, 60)), (13, range(50, 90)),
        ]
        for v in vals
    ]
    df = spark.createDataFrame(rows, "k string, day long, v long")
    got = {
        (r.k, r.day): (r.zero_buckets, r.reg_denom, r.est_distinct)
        for r in hll_rolling(
            df, value_col="v", time_col="day", window_size=3,
            group_cols=["k"], p=6,
        ).collect()
    }
    assert set(got) == {("g", 10), ("g", 11), ("g", 13)}  # day 12 absent
    for day, lo in ((10, (10,)), (11, (10, 11)), (13, (11, 13))):
        union = df.filter(
            (F.col("day").isin([d for d in (10, 11, 13) if day - 2 <= d <= day]))
        )
        want = hll_estimate(
            hll_sketch(union, value_col="v", group_cols=["k"], p=6),
            group_cols=["k"], p=6,
        ).collect()[0]
        assert got[("g", day)] == (
            want.zero_buckets, want.reg_denom, want.est_distinct,
        ), day


def test_hll_validation(spark):
    from dp1_data_wrangling_spark.operators.sketch import (
        hll_merge, hll_sketch,
    )

    df = spark.createDataFrame([(1,)], "v long")
    with pytest.raises(ValueError, match="p must be"):
        hll_sketch(df, value_col="v", p=3)
    with pytest.raises(ValueError, match="p must be"):
        hll_sketch(df, value_col="v", p=15)
    with pytest.raises(ValueError, match="non-empty"):
        hll_merge([])


def _pip(spark, pts_rows, poly_rows, cell=8, **kw):
    from dp1_data_wrangling_spark.operators.spatial import point_in_polygon

    pts = spark.createDataFrame(pts_rows, "id long, x long, y long")
    polys = spark.createDataFrame(
        poly_rows, "pid long, verts array<struct<x:long,y:long>>"
    )
    return point_in_polygon(
        pts, polys, x_col="x", y_col="y", id_col="id", poly_id_col="pid",
        vertices_col="verts", cell_size=cell, **kw,
    )


def test_point_in_polygon_hand_computed(spark):
    """Unit square [0,10]^2: interior point contained (not boundary),
    corner / edge / vertex points contained WITH the boundary flag,
    outside points (incl. one sharing the edge line but past the
    segment) absent."""
    pts = [(1, 5, 5), (2, 15, 5), (3, 0, 0), (4, 10, 5), (5, 5, 0),
           (6, 10, 10), (7, -1, 5), (8, 11, 0)]
    square = [(100, [(0, 0), (10, 0), (10, 10), (0, 10)])]
    got = sorted(
        (r.id, r.poly_id, r.on_boundary)
        for r in _pip(spark, pts, square).collect()
    )
    assert got == [(1, 100, False), (3, 100, True), (4, 100, True),
                   (5, 100, True), (6, 100, True)]


def test_point_in_polygon_concave_and_negative_cells(spark):
    """A concave L-shape spanning negative coordinates: the notch point
    is OUT despite being inside the bbox (even-odd parity, not bbox),
    the arm points are in, and bbox-cell blocking with floor-division
    cells stays complete across the origin."""
    lshape = [(7, [(-10, -10), (10, -10), (10, 0), (0, 0), (0, 10),
                   (-10, 10)])]
    pts = [(1, 5, 5),      # inside bbox, inside the notch -> OUT
           (2, -5, 5),     # upper arm -> IN
           (3, 5, -5),     # lower arm -> IN
           (4, -5, -5),    # body -> IN
           (5, 0, 5),      # on the notch's vertical edge -> boundary
           (6, 11, 0)]     # outside -> OUT
    got = sorted(
        (r.id, r.on_boundary) for r in _pip(spark, pts, lshape).collect()
    )
    assert got == [(2, False), (3, False), (4, False), (5, True)]


def test_point_in_polygon_multiple_polygons_overlap(spark):
    """Overlapping fences: a point inside two polygons yields TWO rows
    (a containment relation, not a classification)."""
    polys = [(1, [(0, 0), (10, 0), (10, 10), (0, 10)]),
             (2, [(5, 5), (20, 5), (20, 20), (5, 20)])]
    got = sorted(
        (r.id, r.poly_id)
        for r in _pip(spark, [(9, 7, 7)], polys).collect()
    )
    assert got == [(9, 1), (9, 2)]


def test_point_in_polygon_validation_and_guards(spark):
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    square = [(1, [(0, 0), (10, 0), (10, 10), (0, 10)])]
    with pytest.raises(ValueError, match="cell_size"):
        _pip(spark, [(1, 1, 1)], square, cell=0)
    # the polygon-side guards must actually FIRE (review fix: a guard on
    # a pruned side column is dead code)
    with pytest.raises(SparkRuntimeException, match="2\\^30"):
        _pip(
            spark, [(1, 1, 1)],
            [(1, [(0, 0), (1 << 31, 0), (1 << 31, 1 << 31), (0, 1 << 31)])],
        ).collect()
    with pytest.raises(SparkRuntimeException, match="NULL coordinates"):
        _pip(
            spark, [(1, 1, 1)],
            [(1, [(0, 0), (10, 0), (10, None), (0, 10)])],
        ).collect()
    with pytest.raises(SparkRuntimeException, match=">= 3"):
        _pip(spark, [(1, 1, 1)], [(1, [(0, 0), (1, 1)])]).collect()
    with pytest.raises(SparkRuntimeException, match="2\\^30"):
        _pip(spark, [(1, 1 << 31, 1)], square).collect()
    with pytest.raises(SparkRuntimeException, match="grid cells"):
        _pip(
            spark, [(1, 1, 1)],
            [(1, [(0, 0), (100000, 0), (100000, 100000), (0, 100000)])],
            cell=8, max_cells_per_poly=16,
        ).collect()


def test_within_distance_pairs_hand_computed(spark):
    """Points (0,0),(3,4),(10,0),(9,9),(None,5): radius 5 pairs
    (0,0)-(3,4) at 25 (boundary inclusive) and (3,4)-(10,0)? dist2 =
    49+16 = 65 > 25 no; (10,0)-(9,9) dist2 = 1+81 = 82 no.  Cross-cell
    pair (3,4)-(0,0) spans cells (0,0)x(0,0); (10,0) sits in cell (2,0)
    adjacent to (0,0)? no — blocking must still find nothing for it."""
    from dp1_data_wrangling_spark.operators.spatial import (
        within_distance_pairs,
    )

    rows = [(1, 0, 0), (2, 3, 4), (3, 10, 0), (4, 9, 9), (5, None, 5)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {
        (r.id_a, r.id_b): r.dist2
        for r in within_distance_pairs(
            df, x_col="x", y_col="y", id_col="id", radius=5
        ).collect()
    }
    assert got == {(1, 2): 25}


def test_within_distance_pairs_negative_coords_floor_cells(spark):
    """Negative coordinates: floor division must separate cells -1 and 0
    (truncating div would fold them and still work here, but the floor
    grid keeps the 3x3 neighborhood argument exact).  (-1,-1) and (1,1)
    are within radius 3 across the origin's cell corner."""
    from dp1_data_wrangling_spark.operators.spatial import (
        within_distance_pairs,
    )

    df = spark.createDataFrame(
        [(1, -1, -1), (2, 1, 1), (3, -100, -100)], "id long, x long, y long"
    )
    got = {
        (r.id_a, r.id_b): r.dist2
        for r in within_distance_pairs(
            df, x_col="x", y_col="y", id_col="id", radius=3
        ).collect()
    }
    assert got == {(1, 2): 8}


def test_within_distance_pairs_exact_beyond_double_precision(spark):
    """Cell assignment must be exact past 2^53: with the old
    F.floor(x / r) double division, 2^60 and 2^60+2 can land in
    different cells than their exact quotients say, silently missing a
    qualifying pair (ADVICE r8).  Also pin the int64 extremes: the
    floor-div helper must not underflow near INT64_MIN."""
    from dp1_data_wrangling_spark.operators.spatial import (
        _floor_div, within_distance_pairs,
    )

    big = 1 << 60
    df = spark.createDataFrame(
        [(1, big, big), (2, big + 2, big + 1), (3, -big - 2, -big)],
        "id long, x long, y long",
    )
    got = {
        (r.id_a, r.id_b): r.dist2
        for r in within_distance_pairs(
            df, x_col="x", y_col="y", id_col="id", radius=3
        ).collect()
    }
    assert got == {(1, 2): 5}
    imin = -(1 << 63)
    vals = spark.createDataFrame(
        [(imin,), (imin + 1,), (-7,), (-6,), (6,), (7,)], "v long"
    ).select(_floor_div("v", 3).alias("c")).collect()
    assert [r.c for r in vals] == [
        imin // 3, (imin + 1) // 3, -3, -2, 2, 2
    ]


def test_within_distance_pairs_validation(spark):
    from dp1_data_wrangling_spark.operators.spatial import (
        within_distance_pairs,
    )

    df = spark.createDataFrame([(1, 0, 0)], "id long, x long, y long")
    with pytest.raises(ValueError, match="radius"):
        within_distance_pairs(df, x_col="x", y_col="y", id_col="id", radius=0)


def _cm_ref_cell(row: int, v) -> int:
    import hashlib

    return int(hashlib.md5(f"cm{row}|{v}".encode()).hexdigest()[:15], 16) % 8


def test_cm_sketch_hand_computed(spark):
    """depth=2, width=8 over [a,a,a,b] (+NULL excluded): cell counts per
    row match the hashlib replay; estimates are exact here (no
    collisions at this size) and a never-seen probe estimates 0."""
    from dp1_data_wrangling_spark.operators.sketch import cm_estimate, cm_sketch

    df = spark.createDataFrame(
        [("a",), ("a",), ("a",), ("b",), (None,)], "v string"
    )
    sk = cm_sketch(df, value_col="v", depth=2, width=8)
    got = {(r.row_idx, r.col_idx): r.cnt for r in sk.collect()}
    want: dict[tuple[int, int], int] = {}
    for v, n in (("a", 3), ("b", 1)):
        for row in (0, 1):
            key = (row, _cm_ref_cell(row, v))
            want[key] = want.get(key, 0) + n
    assert got == want
    probes = spark.createDataFrame([("a",), ("b",), ("zzz",)], "v string")
    est = {
        r.v: r.est_cnt
        for r in cm_estimate(sk, probes, value_col="v", depth=2, width=8).collect()
    }
    assert est["a"] == 3 and est["b"] == 1 and est["zzz"] == 0


def test_cm_estimate_never_undercounts(spark):
    """With a deliberately tiny width (forced collisions), every
    estimate is >= the true frequency — the one-sided CM guarantee."""
    from dp1_data_wrangling_spark.operators.sketch import cm_estimate, cm_sketch

    rows = [(f"v{i % 7}",) for i in range(50)]
    df = spark.createDataFrame(rows, "v string")
    sk = cm_sketch(df, value_col="v", depth=2, width=3)
    probes = df.distinct()
    est = {
        r.v: r.est_cnt
        for r in cm_estimate(sk, probes, value_col="v", depth=2, width=3).collect()
    }
    from collections import Counter

    true = Counter(v for (v,) in rows)
    assert all(est[v] >= c for v, c in true.items())


def test_cm_merge_equals_sketch_of_concat(spark):
    """Cellwise addition is exactly the sketch of the concatenated
    streams — the mergeability that makes CM reaggregatable."""
    from dp1_data_wrangling_spark.operators.sketch import cm_merge, cm_sketch

    a = spark.createDataFrame([(f"v{i % 5}",) for i in range(20)], "v string")
    b = spark.createDataFrame([(f"v{i % 9}",) for i in range(30)], "v string")
    merged = sorted(
        map(
            tuple,
            cm_merge(
                [
                    cm_sketch(a, value_col="v", depth=3, width=16),
                    cm_sketch(b, value_col="v", depth=3, width=16),
                ]
            ).collect(),
        )
    )
    direct = sorted(
        map(tuple, cm_sketch(a.union(b), value_col="v", depth=3, width=16).collect())
    )
    assert merged == direct


def test_cm_validation(spark):
    from dp1_data_wrangling_spark.operators.sketch import cm_merge, cm_sketch

    df = spark.createDataFrame([("a",)], "v string")
    with pytest.raises(ValueError, match="depth"):
        cm_sketch(df, value_col="v", depth=0)
    with pytest.raises(ValueError, match="non-empty"):
        cm_merge([])


def test_ewma_half_hand_computed(spark):
    """Values 1, 2, 4 (quant_scale=1): frames grow from one to three
    elements.  Weights double toward the newest element, den = 2^n - 1:
    row 1: num=1, den=1, ewma=1.0
    row 2: num=1*1 + 2*2 = 5, den=3
    row 3: num=1*1 + 2*2 + 4*4 = 21, den=7."""
    from dp1_data_wrangling_spark.operators.timeseries import ewma_half

    df = spark.createDataFrame(
        [("k", 1, 1.0), ("k", 2, 2.0), ("k", 3, 4.0)],
        ["key", "ts", "value"],
    )
    rows = sorted(
        ewma_half(
            df, ts_col="ts", value_col="value", key_cols=["key"],
            horizon=32, quant_scale=1,
        ).collect(),
        key=lambda r: r["ts"],
    )
    assert [(r["ewma_num"], r["ewma_den"], r["n_frame"]) for r in rows] == [
        (1, 1, 1), (5, 3, 2), (21, 7, 3),
    ]
    assert rows[2]["ewma"] == 21.0 / 7.0


def test_ewma_half_horizon_bounds_frame(spark):
    """horizon=2: the oldest of three observations falls out of the
    frame — row 3 sees only values 2 and 4: num = 2 + 4*2 = 10, den=3."""
    from dp1_data_wrangling_spark.operators.timeseries import ewma_half

    df = spark.createDataFrame(
        [("k", 1, 1.0), ("k", 2, 2.0), ("k", 3, 4.0)],
        ["key", "ts", "value"],
    )
    rows = sorted(
        ewma_half(
            df, ts_col="ts", value_col="value", key_cols=["key"],
            horizon=2, quant_scale=1,
        ).collect(),
        key=lambda r: r["ts"],
    )
    assert (rows[2]["ewma_num"], rows[2]["ewma_den"]) == (10, 3)


def test_ewma_half_overflow_fail_fast(spark):
    """A value whose fixed-point magnitude would overflow the 64-bit
    weighted sum aborts with a descriptive error, never wraps."""
    from dp1_data_wrangling_spark.operators.timeseries import ewma_half

    df = spark.createDataFrame([("k", 1, 2.0e12)], ["key", "ts", "value"])
    with pytest.raises(Exception, match="overflow"):
        ewma_half(
            df, ts_col="ts", value_col="value", key_cols=["key"],
            horizon=32, quant_scale=1_000_000,
        ).collect()


def test_ewma_half_validation(spark):
    from dp1_data_wrangling_spark.operators.timeseries import ewma_half

    df = spark.createDataFrame([("k", 1, 1.0)], ["key", "ts", "value"])
    with pytest.raises(ValueError, match="horizon"):
        ewma_half(df, ts_col="ts", value_col="value", horizon=0)
    with pytest.raises(ValueError, match="horizon"):
        ewma_half(df, ts_col="ts", value_col="value", horizon=63)
    with pytest.raises(ValueError, match="quant_scale"):
        ewma_half(df, ts_col="ts", value_col="value", quant_scale=0)


def test_knn_within_hand_computed(spark):
    """Points on a line at x = 0, 3, 4, 100: radius 5, k=2.
    id 0 -> neighbors 1 (d2=9) then 2 (d2=16); id 3 (x=100) isolated."""
    from dp1_data_wrangling_spark.operators.spatial import knn_within

    pts = spark.createDataFrame(
        [(0, 0, 0), (1, 3, 0), (2, 4, 0), (3, 100, 0)], ["id", "x", "y"]
    )
    got = sorted(
        (r["id"], r["rank"], r["neighbor_id"], r["dist2"])
        for r in knn_within(
            pts, x_col="x", y_col="y", id_col="id", radius=5, k=2
        ).collect()
    )
    assert got == [
        (0, 1, 1, 9), (0, 2, 2, 16),
        (1, 1, 2, 1), (1, 2, 0, 9),
        (2, 1, 1, 1), (2, 2, 0, 16),
    ]


def test_knn_within_tie_breaks_on_neighbor_id(spark):
    """Two neighbors at identical distance rank by neighbor id."""
    from dp1_data_wrangling_spark.operators.spatial import knn_within

    pts = spark.createDataFrame(
        [(5, 0, 0), (7, 2, 0), (6, -2, 0)], ["id", "x", "y"]
    )
    got = {
        (r["id"], r["rank"]): r["neighbor_id"]
        for r in knn_within(
            pts, x_col="x", y_col="y", id_col="id", radius=3, k=2
        ).collect()
    }
    assert got[(5, 1)] == 6 and got[(5, 2)] == 7


def test_knn_within_radius_bounds_and_validation(spark):
    from dp1_data_wrangling_spark.operators.spatial import knn_within

    pts = spark.createDataFrame([(0, 0, 0), (1, 10, 0)], ["id", "x", "y"])
    assert (
        knn_within(pts, x_col="x", y_col="y", id_col="id", radius=5, k=3)
        .count() == 0
    )
    with pytest.raises(ValueError, match="radius"):
        knn_within(pts, x_col="x", y_col="y", id_col="id", radius=0, k=1)
    with pytest.raises(ValueError, match="k must"):
        knn_within(pts, x_col="x", y_col="y", id_col="id", radius=5, k=0)


def test_ulaw_expander_matches_ccitt_reference():
    """ulaw_to_linear over all 256 codewords == the scalar CCITT
    formula; extremes hit the standard +/-32124."""
    import numpy as np

    from dp1_data_wrangling_spark.operators.multimodal import ulaw_to_linear

    def ccitt(b: int) -> int:
        b = ~b & 0xFF
        t = (((b & 0x0F) << 3) + 0x84) << ((b & 0x70) >> 4)
        return (0x84 - t) if (b & 0x80) else (t - 0x84)

    got = ulaw_to_linear(np.arange(256, dtype=np.uint8))
    assert got.dtype == np.int16
    assert [int(v) for v in got] == [ccitt(i) for i in range(256)]
    assert int(got.min()) == -32124 and int(got.max()) == 32124


def test_ulaw_wav_roundtrip_and_odd_length():
    """encode_wav_ulaw -> decode_wav expands to the exact linear values;
    odd-length data chunks (8-bit samples) decode fine — the PCM16
    even-size check must not fire for fmt 7."""
    import numpy as np

    from dp1_data_wrangling_spark.operators.multimodal import (
        decode_wav,
        encode_wav_ulaw,
        ulaw_to_linear,
    )

    u = (np.arange(33) * 37 % 256).astype(np.uint8)
    rate, s = decode_wav(encode_wav_ulaw(8000, u))
    assert rate == 8000
    assert np.array_equal(s, ulaw_to_linear(u))


def test_kmv_rolling_equals_direct_sketch_of_trailing_union(spark):
    """The rolling merge (daily sketches -> fan-out -> re-min) must equal
    kmv_sketch + kmv_estimate applied DIRECTLY to each trailing union —
    the merge law at operator level."""
    from dp1_data_wrangling_spark.operators.sketch import (
        kmv_estimate,
        kmv_rolling,
        kmv_sketch,
    )

    rows = [
        ("g", d, f"u{(d * 7 + i) % 23}") for d in range(10) for i in range(9)
    ]
    df = spark.createDataFrame(rows, ["g", "day", "uid"])
    got = {
        (r["g"], r["day"]): (r["n_seen"], r["kth_hash"], r["est_distinct"])
        for r in kmv_rolling(
            df, value_col="uid", time_col="day", window_size=3,
            group_cols=["g"], k=8,
        ).collect()
    }
    assert set(d for (_, d) in got) == set(range(10))
    for day in range(10):
        window_df = df.filter(
            (df.day >= day - 2) & (df.day <= day)
        ).select("g", "uid")
        direct = kmv_estimate(
            kmv_sketch(window_df, value_col="uid", group_cols=["g"], k=8),
            group_cols=["g"], k=8,
        ).collect()[0]
        assert got[("g", day)] == (
            direct["n_seen"], direct["kth_hash"], direct["est_distinct"]
        ), f"day {day}"


def test_kmv_rolling_unsaturated_window_is_exact(spark):
    """A trailing window with fewer than k distinct values reports the
    exact count (est == n_seen, kth_hash NULL)."""
    from dp1_data_wrangling_spark.operators.sketch import kmv_rolling

    df = spark.createDataFrame(
        [("g", 0, "a"), ("g", 0, "b"), ("g", 1, "b"), ("g", 1, "c")],
        ["g", "day", "uid"],
    )
    got = {
        r["day"]: (r["n_seen"], r["kth_hash"], r["est_distinct"])
        for r in kmv_rolling(
            df, value_col="uid", time_col="day", window_size=2,
            group_cols=["g"], k=8,
        ).collect()
    }
    assert got[0] == (2, None, 2.0)
    assert got[1] == (3, None, 3.0)  # union of days 0-1: a, b, c


def test_kmv_rolling_validation(spark):
    from dp1_data_wrangling_spark.operators.sketch import kmv_rolling

    df = spark.createDataFrame([("g", 0, "a")], ["g", "day", "uid"])
    with pytest.raises(ValueError, match="window_size"):
        kmv_rolling(
            df, value_col="uid", time_col="day", window_size=0,
            group_cols=["g"],
        )


def test_association_rules_hand_computed(spark):
    """Four baskets {x,y} {x,y} {x,z} {y}: N=4, n_x=3, n_y=3, n_z=1,
    pair (x,y)=2, (x,z)=1.  Every metric hand-derived with truncating
    div; the confidence filter keeps only the >= 0.5 rules."""
    from dp1_data_wrangling_spark.operators.itemsets import association_rules

    rows = [
        (1, "x"), (1, "y"), (2, "x"), (2, "y"),
        (3, "x"), (3, "z"), (4, "y"),
    ]
    df = spark.createDataFrame(rows, "b long, i string")
    kw = dict(
        basket_col="b", item_col="i", min_item_support=1,
        min_pair_support=1, max_items_per_basket=8,
    )
    got = {
        (r.antecedent, r.consequent): (
            r.n_ab, r.n_a, r.n_b, r.n_baskets,
            r.support_milli, r.confidence_milli, r.lift_milli,
        )
        for r in association_rules(df, **kw).collect()
    }
    assert got == {
        ("x", "y"): (2, 3, 3, 4, 500, 666, 888),
        ("y", "x"): (2, 3, 3, 4, 500, 666, 888),
        ("x", "z"): (1, 3, 1, 4, 250, 333, 1333),
        ("z", "x"): (1, 1, 3, 4, 250, 1000, 1333),
    }
    kept = {
        (r.antecedent, r.consequent)
        for r in association_rules(
            df, min_confidence_milli=500, **kw
        ).collect()
    }
    assert kept == {("x", "y"), ("y", "x"), ("z", "x")}
    with pytest.raises(ValueError, match="min_confidence_milli"):
        association_rules(df, min_confidence_milli=1001, **kw)


def test_frequent_pairs_hand_computed(spark):
    """Baskets: 1={a,b,c}, 2={a,b}, 3={a,b,d}, 4={c,d}.  Item support 2
    keeps a,b,c,d; pair support 2 keeps only (a,b)=3."""
    from dp1_data_wrangling_spark.operators.itemsets import frequent_pairs

    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "b"), (3, "d"),
        (4, "c"), (4, "d"),
    ]
    df = spark.createDataFrame(rows, ["b", "i"])
    got = {
        (r["item_a"], r["item_b"]): r["n_baskets"]
        for r in frequent_pairs(
            df, basket_col="b", item_col="i",
            min_item_support=2, min_pair_support=2,
            max_items_per_basket=10,
        ).collect()
    }
    assert got == {("a", "b"): 3}


def test_frequent_pairs_item_prune_and_duplicates(spark):
    """Duplicate (basket, item) rows count once; an item below the item
    support never reaches a pair even if the pair itself would pass."""
    from dp1_data_wrangling_spark.operators.itemsets import frequent_pairs

    rows = [
        (1, "a"), (1, "a"), (1, "z"),
        (2, "a"), (2, "z"),
        (3, "a"),
    ]
    df = spark.createDataFrame(rows, ["b", "i"])
    # z appears in 2 baskets, a in 3; with item support 3 only a survives
    got = frequent_pairs(
        df, basket_col="b", item_col="i",
        min_item_support=3, min_pair_support=1,
        max_items_per_basket=10,
    ).collect()
    assert got == []


def test_frequent_pairs_cap_is_lexicographic(spark):
    """Cap 2 keeps the lexicographically first two frequent items per
    basket: basket {c, a, b} pairs only (a, b)."""
    from dp1_data_wrangling_spark.operators.itemsets import frequent_pairs

    rows = [(1, "c"), (1, "a"), (1, "b"),
            (2, "a"), (2, "b"), (2, "c")]
    df = spark.createDataFrame(rows, ["b", "i"])
    got = {
        (r["item_a"], r["item_b"]): r["n_baskets"]
        for r in frequent_pairs(
            df, basket_col="b", item_col="i",
            min_item_support=1, min_pair_support=1,
            max_items_per_basket=2,
        ).collect()
    }
    assert got == {("a", "b"): 2}


def test_frequent_pairs_validation(spark):
    from dp1_data_wrangling_spark.operators.itemsets import frequent_pairs

    df = spark.createDataFrame([(1, "a")], ["b", "i"])
    with pytest.raises(ValueError, match="min_item_support"):
        frequent_pairs(
            df, basket_col="b", item_col="i",
            min_item_support=0, min_pair_support=1,
            max_items_per_basket=2,
        )
    with pytest.raises(ValueError, match="max_items_per_basket"):
        frequent_pairs(
            df, basket_col="b", item_col="i",
            min_item_support=1, min_pair_support=1,
            max_items_per_basket=1,
        )


def test_skyline_2d_hand_computed(spark):
    """Points (1,5) (3,3) (5,1) are mutually non-dominated; (2,2) is
    dominated by (3,3); (3,2) dominated by (3,3) via the same-x rule."""
    from dp1_data_wrangling_spark.operators.skyline import skyline_2d

    pts = spark.createDataFrame(
        [(0, 1, 5), (1, 3, 3), (2, 5, 1), (3, 2, 2), (4, 3, 2)],
        ["id", "x", "y"],
    )
    got = sorted(
        r["id"]
        for r in skyline_2d(pts, x_col="x", y_col="y", id_col="id").collect()
    )
    assert got == [0, 1, 2]


def test_skyline_2d_equal_points_both_survive(spark):
    """Two identical points do not dominate each other — both stay (the
    standard strict-in-one-dimension definition)."""
    from dp1_data_wrangling_spark.operators.skyline import skyline_2d

    pts = spark.createDataFrame(
        [(0, 4, 4), (1, 4, 4), (2, 1, 1)], ["id", "x", "y"]
    )
    got = sorted(
        r["id"]
        for r in skyline_2d(pts, x_col="x", y_col="y", id_col="id").collect()
    )
    assert got == [0, 1]


def test_skyline_2d_groups_are_independent(spark):
    """A dominating point in another group must not knock a point out."""
    from dp1_data_wrangling_spark.operators.skyline import skyline_2d

    pts = spark.createDataFrame(
        [("g1", 0, 9, 9), ("g2", 1, 1, 1)], ["g", "id", "x", "y"]
    )
    got = sorted(
        r["id"]
        for r in skyline_2d(
            pts, x_col="x", y_col="y", id_col="id", group_cols=["g"]
        ).collect()
    )
    assert got == [0, 1]


def test_sample_sketch_hand_computed_and_deterministic(spark):
    """The sample is the k rows with smallest md5(salt|id) — cross-check
    the selection against hashlib, and partitioning must not matter."""
    import hashlib

    from dp1_data_wrangling_spark.operators.sketch import sample_sketch

    rows = [("g", i, float(i * 10)) for i in range(20)]
    df = spark.createDataFrame(rows, ["g", "id", "v"])

    def rank(i: int) -> int:
        return int(
            hashlib.md5(f"sample_v1|{i}".encode()).hexdigest()[:15], 16
        )

    expect = sorted(sorted(range(20), key=rank)[:5])
    for parts in (1, 7):
        got = sorted(
            r["id"]
            for r in sample_sketch(
                df.repartition(parts), id_col="id", group_cols=["g"],
                k=5, keep_cols=["v"],
            ).collect()
        )
        assert got == expect, f"parts={parts}"


def test_sample_merge_equals_sketch_of_union(spark):
    """The merge law on row identity: merging per-half samples equals
    sampling the union, including overlapping rows (dedup by id)."""
    from dp1_data_wrangling_spark.operators.sketch import (
        sample_merge,
        sample_sketch,
    )

    rows = [("g", i, float(i)) for i in range(30)]
    a = spark.createDataFrame(rows[:20], ["g", "id", "v"])
    b = spark.createDataFrame(rows[12:], ["g", "id", "v"])  # overlap 12-19
    merged = sorted(
        map(
            tuple,
            sample_merge(
                [
                    sample_sketch(x, id_col="id", group_cols=["g"], k=6,
                                  keep_cols=["v"])
                    for x in (a, b)
                ],
                id_col="id", group_cols=["g"], k=6,
            ).collect(),
        )
    )
    direct = sorted(
        map(
            tuple,
            sample_sketch(
                a.unionByName(b).distinct(), id_col="id", group_cols=["g"],
                k=6, keep_cols=["v"],
            ).collect(),
        )
    )
    assert merged == direct


def test_sample_quantiles_nearest_rank_hand_computed(spark):
    """Sample values 10..50 (n=5): nearest-rank p50 -> ceil(2.5)=3rd
    value (30), p90 -> ceil(4.5)=5th (50), p25 -> ceil(1.25)=2nd (20)."""
    from dp1_data_wrangling_spark.operators.sketch import sample_quantiles

    sk = spark.createDataFrame(
        [("g", 100 + i, i, float(i * 10)) for i in range(1, 6)],
        ["g", "rank_hash", "id", "v"],
    )
    row = sample_quantiles(
        sk, value_col="v", id_col="id", group_cols=["g"],
        percents=[25, 50, 90],
    ).collect()[0]
    assert (row["n_sample"], row["q_p25"], row["q_p50"], row["q_p90"]) == (
        5, 20.0, 30.0, 50.0,
    )


def test_sample_sketch_validation(spark):
    from dp1_data_wrangling_spark.operators.sketch import (
        sample_merge,
        sample_quantiles,
        sample_sketch,
    )

    df = spark.createDataFrame([("g", 1, 1.0)], ["g", "id", "v"])
    with pytest.raises(ValueError, match="k must"):
        sample_sketch(df, id_col="id", k=0)
    with pytest.raises(ValueError, match="non-empty"):
        sample_merge([], id_col="id")
    with pytest.raises(ValueError, match="percents"):
        sample_quantiles(df, value_col="v", id_col="id", percents=[0])


def test_expectation_suite_hand_computed(spark):
    """Every rule kind over a 5-row frame with known violations: metric
    milli-ratios use truncating division; unique counts distinct over
    NON-NULL values; ratio rules measure the non-null population."""
    from dp1_data_wrangling_spark.operators.expectations import (
        expectation_suite,
    )

    df = spark.createDataFrame(
        [
            (1, "aa", 10), (2, "bb", 20), (2, None, 30),
            (3, "zz", -5), (4, "a1", 40),
        ],
        "id long, s string, v long",
    )
    got = {
        (r["rule"], r["column_name"]): (r["metric"], r["threshold"], r["passed"])
        for r in expectation_suite(
            df,
            [
                {"rule": "row_count", "lo": 2, "hi": 10},
                {"rule": "unique", "column": "id"},
                {"rule": "not_null", "column": "s", "min_ratio_milli": 700},
                {"rule": "between", "column": "v", "lo": 0, "hi": 100},
                {"rule": "matches", "column": "s",
                 "pattern": "^[a-z]+$", "min_ratio_milli": 600},
                {"rule": "in_set", "column": "s",
                 "allowed": ["aa", "bb"], "min_ratio_milli": 500},
            ],
        ).collect()
    }
    assert got[("row_count", None)] == (5, 2, True)
    # 4 distinct of 5 non-null ids -> 800, uniqueness always needs 1000
    assert got[("unique", "id")] == (800, 1000, False)
    # 4 non-null of 5 rows -> 800 >= 700
    assert got[("not_null", "s")] == (800, 700, True)
    # v=-5 violates: 4 of 5 non-null in bounds -> 800 < 1000
    assert got[("between", "v")] == (800, 1000, False)
    # 3 of 4 non-null strings are all-lowercase -> 750 >= 600
    assert got[("matches", "s")] == (750, 600, True)
    # 2 of 4 non-null in the set -> 500 >= 500
    assert got[("in_set", "s")] == (500, 500, True)


def test_expectation_suite_vacuous_and_validation(spark):
    """Ratio rules on an all-NULL column pass vacuously with metric
    1000 (emptiness is row_count's job); bad rule specs raise."""
    import pytest as _pytest

    from dp1_data_wrangling_spark.operators.expectations import (
        expectation_suite,
    )

    df = spark.createDataFrame([(1, None), (2, None)], "id long, s string")
    got = {
        r["rule"]: (r["metric"], r["passed"])
        for r in expectation_suite(
            df,
            [
                {"rule": "unique", "column": "s"},
                {"rule": "matches", "column": "s", "pattern": "x"},
                {"rule": "row_count", "hi": 1},
            ],
        ).collect()
    }
    assert got["unique"] == (1000, True)
    assert got["matches"] == (1000, True)
    assert got["row_count"] == (2, False)
    with _pytest.raises(ValueError, match="at least one rule"):
        expectation_suite(df, [])
    with _pytest.raises(ValueError, match="unknown rule"):
        expectation_suite(df, [{"rule": "nope"}])
    with _pytest.raises(ValueError, match="unknown column"):
        expectation_suite(df, [{"rule": "unique", "column": "zz"}])
    with _pytest.raises(ValueError, match="needs a column"):
        expectation_suite(df, [{"rule": "not_null"}])
    with _pytest.raises(ValueError, match="lo and/or hi"):
        expectation_suite(df, [{"rule": "row_count"}])
    with _pytest.raises(ValueError, match="non-empty allowed"):
        expectation_suite(df, [{"rule": "in_set", "column": "s", "allowed": []}])


def test_hdr_bucket_hand_computed(spark):
    """Bucket ids: values < 32 index themselves; larger values keep the
    top 5 bits with per-octave offsets; bucket order is value order;
    bucket_lo is the smallest member of the bucket."""
    from dp1_data_wrangling_spark.operators.sketch import (
        hdr_bucket, hdr_bucket_lo,
    )
    from pyspark.sql import functions as F

    vals = [0, 1, 31, 32, 33, 47, 48, 63, 64, 66, 1000,
            (1 << 60) - 1, 1 << 60]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    rows = df.select(
        "v",
        hdr_bucket("v", 4).alias("b"),
        ).withColumn("lo", hdr_bucket_lo("b", 4)).collect()
    got = {r.v: (r.b, r.lo) for r in rows}

    def py_bucket(v, p=4):
        if v < (1 << (p + 1)):
            return v
        e = v.bit_length() - 1
        return (e - p) * (1 << p) + (v >> (e - p))

    def py_lo(b, p=4):
        if b < (1 << (p + 1)):
            return b
        return (b % (1 << p) + (1 << p)) << (b // (1 << p) - 1)

    for v in vals:
        b = py_bucket(v)
        assert got[v] == (b, py_lo(b)), (v, got[v], b, py_lo(b))
        assert py_lo(b) <= v  # lo really is a lower bound
    # bucket order == value order
    bs = [got[v][0] for v in sorted(vals)]
    assert bs == sorted(bs)


def test_hdr_quantiles_within_relative_error(spark):
    """Every HDR quantile estimate is within 2^-4 relative error below
    the true nearest-rank order statistic (lower-bound estimator)."""
    from dp1_data_wrangling_spark.operators.sketch import (
        hdr_quantiles, hdr_sketch,
    )

    vals = [((i * 7919) % 100003) + 1 for i in range(5000)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    sk = hdr_sketch(df, value_col="v", precision_bits=4)
    row = hdr_quantiles(sk, percents=[50, 90, 99], precision_bits=4).collect()[0]
    assert row["n_values"] == 5000
    svals = sorted(vals)
    import math
    for p in (50, 90, 99):
        true = svals[math.ceil(p / 100 * len(svals)) - 1]
        est = row[f"q_p{p}"]
        assert est <= true and est >= true * (1 - 1 / 16) - 1, (p, est, true)


def test_hdr_merge_equals_sketch_of_union(spark):
    """Cellwise-additive merge law: hdr_merge of two disjoint halves
    equals the sketch of the union, exactly."""
    from dp1_data_wrangling_spark.operators.sketch import (
        hdr_merge, hdr_sketch,
    )

    a = spark.createDataFrame(
        [(("g%d" % (i % 3)), (i * 37) % 5000) for i in range(400)],
        "g string, v long",
    )
    b = spark.createDataFrame(
        [(("g%d" % (i % 3)), (i * 91) % 9000) for i in range(300)],
        "g string, v long",
    )
    kw = dict(value_col="v", group_cols=["g"])
    merged = sorted(
        map(tuple, hdr_merge(
            [hdr_sketch(a, **kw), hdr_sketch(b, **kw)], group_cols=["g"]
        ).collect())
    )
    union = sorted(
        map(tuple, hdr_sketch(a.unionByName(b), **kw).collect())
    )
    assert merged == union


def test_hdr_sketch_rejects_negative_and_bad_precision(spark):
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from dp1_data_wrangling_spark.operators.sketch import hdr_sketch

    df = spark.createDataFrame([(5,), (-1,)], "v long")
    with _pytest.raises(SparkRuntimeException, match="negative value"):
        hdr_sketch(df, value_col="v").collect()
    with _pytest.raises(ValueError, match="precision_bits"):
        hdr_sketch(df, value_col="v", precision_bits=0)


def test_bm25_topk_hand_computed(spark):
    """Tiny corpus vs an independent pure-Python BM25 (k1=1.2, b=0.75,
    Lucene idf): scores match to 1e-6 and ranking matches exactly."""
    import math

    from dp1_data_wrangling_spark.operators.retrieval import bm25_topk

    corpus = {
        1: "spark shuffle join hash",
        2: "hash hash table probe build",
        3: "sort merge join large table",
        4: "broadcast join small table",
        5: "window rank over partition",
    }
    docs = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
    queries = spark.createDataFrame(
        [(1, "hash join"), (2, "window")], ["query_id", "query_text"]
    )
    got = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in bm25_topk(docs, queries, k=3).collect()
    }

    toks = {d: t.split() for d, t in corpus.items()}
    n = len(corpus)
    s = sum(len(t) for t in toks.values())
    df_t = {}
    for t in toks.values():
        for w in set(t):
            df_t[w] = df_t.get(w, 0) + 1

    def score(doc, qwords):
        dl = len(toks[doc])
        tot = 0.0
        for w in sorted(set(qwords)):
            tf = toks[doc].count(w)
            if tf == 0:
                continue
            idf = math.log((2.0 * n + 2.0) / (2.0 * df_t[w] + 1.0))
            tot += idf * ((44 * tf * s) / (20 * tf * s + 6 * s + 18 * dl * n))
        return round(tot, 6)

    for (qid, qwords) in ((1, ["hash", "join"]), (2, ["window"])):
        expected = sorted(
            ((d, score(d, qwords)) for d in corpus if score(d, qwords) > 0),
            key=lambda x: (-x[1], x[0]),
        )[:3]
        for rank, (d, sc) in enumerate(expected, 1):
            gd, gs = got[(qid, rank)]
            assert gd == d and abs(gs - sc) < 1e-6, (qid, rank, (gd, gs), (d, sc))
    # doc 5 shares no term with query 1: never scored
    assert all(d != 5 for (q, _), (d, _) in got.items() if q == 1)


def test_bm25_stop_word_valve_and_validation(spark):
    """max_df_ratio_milli drops query terms above the df ratio; bad
    params raise."""
    import pytest as _pytest

    from dp1_data_wrangling_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(1, "the cat"), (2, "the dog"), (3, "the bird"), (4, "rare cat")],
        ["doc_id", "text"],
    )
    queries = spark.createDataFrame([(1, "the cat")], ["query_id", "query_text"])
    # 'the' appears in 3 of 4 docs (750 milli) — a 500 cap drops it, so
    # only 'cat' scores and doc 2/3 (dog/bird) never match
    rows = bm25_topk(docs, queries, k=10, max_df_ratio_milli=500).collect()
    assert {r.doc_id for r in rows} == {1, 4}
    with _pytest.raises(ValueError, match="k must be"):
        bm25_topk(docs, queries, k=0)
    with _pytest.raises(ValueError, match="max_df_ratio_milli"):
        bm25_topk(docs, queries, max_df_ratio_milli=0)


def test_theta_overlap_unsaturated_is_exact(spark):
    """With k above every set size, theta = M and every estimate is the
    EXACT set-algebra answer over the raw values."""
    from dp1_data_wrangling_spark.operators.sketch import (
        kmv_sketch,
        theta_overlap,
    )

    rows = [("a", v) for v in range(1, 11)] + [("b", v) for v in range(6, 16)]
    df = spark.createDataFrame(rows, ["key", "v"])
    sk = kmv_sketch(df, value_col="v", group_cols=["key"], k=64)
    [r] = theta_overlap(sk, key_col="key", k=64).collect()
    assert (r.key_a, r.key_b) == ("a", "b")
    assert (r.n_a, r.n_b, r.n_inter, r.n_union) == (10, 10, 5, 15)
    assert (r.est_a, r.est_b) == (10.0, 10.0)
    assert (r.est_intersect, r.est_union) == (5.0, 15.0)
    assert (r.est_only_a, r.est_only_b) == (5.0, 5.0)
    assert r.jaccard == round(5 / 15, 6)


def test_theta_overlap_saturated_matches_python_replay(spark):
    """Saturated sketches (k = 8 over 100-element sets): the pair theta,
    survivor counts and every scaled estimate equal an independent pure-
    Python replay of the md5 bottom-k construction."""
    import hashlib

    from dp1_data_wrangling_spark.operators.sketch import (
        KMV_SPACE,
        kmv_sketch,
        theta_overlap,
    )

    k = 8
    sets = {"a": set(range(100)), "b": set(range(50, 150)),
            "c": set(range(200, 210))}  # c is small: unsaturated
    rows = [(key, v) for key, vs in sets.items() for v in vs]
    df = spark.createDataFrame(rows, ["key", "v"])
    sk = kmv_sketch(df, value_col="v", group_cols=["key"], k=k)
    got = {(r.key_a, r.key_b): r
           for r in theta_overlap(sk, key_col="key", k=k).collect()}
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}

    def h(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)

    sk_py = {key: sorted(h(v) for v in vs)[:k] for key, vs in sets.items()}
    theta_py = {key: (s[-1] if len(s) == k else KMV_SPACE)
                for key, s in sk_py.items()}
    for (ka, kb), r in got.items():
        theta = min(theta_py[ka], theta_py[kb])
        a_below = {x for x in sk_py[ka] if x < theta}
        b_below = {x for x in sk_py[kb] if x < theta}
        assert r.theta == theta
        assert (r.n_a, r.n_b) == (len(a_below), len(b_below))
        assert r.n_inter == len(a_below & b_below)
        assert r.n_union == len(a_below) + len(b_below) - len(a_below & b_below)
        assert r.est_intersect == round(
            (float(len(a_below & b_below)) * float(KMV_SPACE)) / theta, 6
        )
    # the saturated a/b pair shares half its elements: the estimate must
    # land in the right ballpark (deterministic, not a flaky bound)
    ab = got[("a", "b")]
    assert 0 < ab.est_intersect < 150
    # c is disjoint from both: zero intersection however theta falls
    assert got[("a", "c")].n_inter == 0 and got[("b", "c")].n_inter == 0


def test_theta_overlap_validation(spark):
    import pytest as _pytest

    from dp1_data_wrangling_spark.operators.sketch import theta_overlap

    df = spark.createDataFrame([("a", 1)], ["key", "hv"])
    with _pytest.raises(ValueError, match="k must be"):
        theta_overlap(df, key_col="key", k=1)


def test_phrase_search_hand_computed(spark):
    """Anchored conjunction semantics: overlapping occurrences count,
    repeated-term phrases need BOTH coordinates, punctuation splits but
    never matches, and non-matching docs emit no row."""
    from dp1_data_wrangling_spark.operators.retrieval import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox, the quick dog"),
            (2, "big big big data"),
            (3, "quick the brown"),
            (4, "Big BIG"),
        ],
        ["doc_id", "text"],
    )
    phrases = spark.createDataFrame(
        [(1, "the quick"), (2, "big big"), (3, "quick brown fox")],
        ["phrase_id", "phrase_text"],
    )
    got = {
        (r.phrase_id, r.doc_id): (r.n_matches, r.first_pos)
        for r in phrase_search(docs, phrases).collect()
    }
    assert got == {
        (1, 1): (2, 0),   # "the quick" at 0 and 4
        (2, 2): (2, 0),   # overlapping "big big" at 0 and 1
        (2, 4): (1, 0),   # case-folded
        (3, 1): (1, 1),   # across the comma boundary of doc 1's tokens
    }


def test_phrase_search_repeated_term_needs_both_positions(spark):
    """A single 'big' must never satisfy the two-coordinate phrase."""
    from dp1_data_wrangling_spark.operators.retrieval import phrase_search

    docs = spark.createDataFrame(
        [(1, "big data big compute"), (2, "big big")], ["doc_id", "text"]
    )
    phrases = spark.createDataFrame([(1, "big big")], ["phrase_id", "phrase_text"])
    rows = phrase_search(docs, phrases).collect()
    assert [(r.doc_id, r.n_matches) for r in rows] == [(2, 1)]


def test_cusum_changepoints_hand_computed(spark):
    """8-point step series (10,10,10,10,20,20,20,20), slack 2, h 8:
    hand-derived n-cleared statistics — upward alarms exactly at seq 7-8
    (post-shift drift accumulates), downward exactly at seq 3-4 (the
    pre-shift region sits below the contaminated mean)."""
    from dp1_data_wrangling_spark.operators.changepoint import (
        cusum_changepoints,
    )

    rows = [("a", i, float(v)) for i, v in enumerate([10, 10, 10, 10, 20, 20, 20, 20])]
    df = spark.createDataFrame(rows, ["g", "t", "v"])
    got = {
        (r.seq, r.direction): (r.stat_scaled, r.threshold_scaled)
        for r in cusum_changepoints(
            df, value_col="v", order_cols=["t"], group_cols=["g"],
            slack_milli=2000, threshold_milli=8000,
        ).collect()
    }
    # d_up = 8v - 120000 - 16000 -> cu: -56,-112,-168,-224,-200,-176,-152,-128 (k)
    # su = cu - min(0, runmin): 0 x4, 24k, 48k, 72k, 96k; thresh = 64k
    # d_dn mirrors -> sd: 24k,48k,72k,96k,56k,0,0,0
    assert got == {
        (7, "up"): (72000, 64000),
        (8, "up"): (96000, 64000),
        (3, "down"): (72000, 64000),
        (4, "down"): (96000, 64000),
    }


def test_cusum_changepoints_stable_series_no_alarms_and_validation(spark):
    """A constant series never alarms (both statistics pin at -n*slack
    drift, floored at 0); invalid knobs raise."""
    import pytest as _pytest

    from dp1_data_wrangling_spark.operators.changepoint import (
        cusum_changepoints,
    )

    df = spark.createDataFrame(
        [("a", i, 5.0) for i in range(50)], ["g", "t", "v"]
    )
    assert (
        cusum_changepoints(
            df, value_col="v", order_cols=["t"], group_cols=["g"],
            slack_milli=0, threshold_milli=1,
        ).count()
        == 0
    )
    with _pytest.raises(ValueError, match="threshold_milli"):
        cusum_changepoints(
            df, value_col="v", order_cols=["t"], group_cols=["g"],
            threshold_milli=0,
        )
    with _pytest.raises(ValueError, match="slack_milli"):
        cusum_changepoints(
            df, value_col="v", order_cols=["t"], group_cols=["g"],
            slack_milli=-1,
        )


def test_cusum_changepoints_overflow_guard_fires(spark):
    """The r10 envelope guard: a group whose n-cleared statistic could
    approach int64 raises executor-side instead of silently wrapping
    (ADVICE r9).  Values of ~4e14 quantize to 4e17 millis; with n=10
    the envelope 2·n·(max|n·v − V| + ...) is ~8e19 > 2^62.  The guard
    is threaded into the consumed value column, so it cannot be pruned."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from dp1_data_wrangling_spark.operators.changepoint import (
        cusum_changepoints,
    )

    df = spark.createDataFrame(
        [("a", i, 0.0 if i % 2 == 0 else 4.0e14) for i in range(10)],
        ["g", "t", "v"],
    )
    out = cusum_changepoints(
        df, value_col="v", order_cols=["t"], group_cols=["g"],
        slack_milli=0, threshold_milli=1000,
    )
    with pytest.raises(SparkRuntimeException, match="envelope"):
        out.collect()
    # a benign sibling series is unaffected by the guard
    ok = spark.createDataFrame(
        [("a", i, float(i)) for i in range(10)], ["g", "t", "v"]
    )
    cusum_changepoints(
        ok, value_col="v", order_cols=["t"], group_cols=["g"],
        slack_milli=0, threshold_milli=1000,
    ).collect()


def test_cusum_changepoints_groups_independent(spark):
    """A shift in one group must not leak alarms into a flat sibling."""
    from dp1_data_wrangling_spark.operators.changepoint import (
        cusum_changepoints,
    )

    rows = [("shifted", i, 10.0 if i < 10 else 50.0) for i in range(20)]
    rows += [("flat", i, 30.0) for i in range(20)]
    df = spark.createDataFrame(rows, ["g", "t", "v"])
    out = cusum_changepoints(
        df, value_col="v", order_cols=["t"], group_cols=["g"],
        slack_milli=5000, threshold_milli=20000,
    )
    assert {r.g for r in out.collect()} == {"shifted"}


def test_mmr_rerank_hand_computed(spark):
    """3-candidate pool, lambda=0.5: the diverse low-relevance candidate
    must beat the redundant near-duplicate at rank 2 (hand-derived
    scores)."""
    from dp1_data_wrangling_spark.operators.retrieval import mmr_rerank

    rows = [
        (1, 1, 0.95, [1.0, 0.0, 0.0]),
        (1, 2, 0.94, [0.999, 0.04, 0.0]),   # near-dup of doc 1
        (1, 3, 0.50, [0.0, 1.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(rows, ["query_id", "doc_id", "rel", "embedding"])
    got = [
        (r.rank, r.doc_id, r.mmr_score_nano)
        for r in mmr_rerank(df, rel_col="rel", k=3, lambda_milli=500)
        .orderBy("rank")
        .collect()
    ]
    # integer nano units (lambda_milli x micros):
    # rank1: doc1, 500*950000; rank2: doc3, 500*500000 - 500*0
    # rank3: doc2, 500*940000 - 500*round(cos(2,1)*1e6) = 470M - 500*999199
    assert got == [
        (1, 1, 475_000_000),
        (2, 3, 250_000_000),
        (3, 2, -29_599_500),
    ]


def test_mmr_rerank_matches_python_greedy_replay(spark):
    """20-candidate deterministic pool vs an independent pure-Python
    greedy MMR (same rounding discipline): selection order and scores
    match exactly for two queries and two lambdas."""
    import hashlib
    import math

    from dp1_data_wrangling_spark.operators.retrieval import mmr_rerank

    def vec(q, i):
        return [
            int(hashlib.md5(f"{q}:{i}:{d}".encode()).hexdigest()[:4], 16)
            / 65535.0
            for d in range(8)
        ]

    rows = []
    for q in (1, 2):
        for i in range(20):
            rows.append((q, i, round(1.0 - i * 0.031, 6), vec(q, i)))
    df = spark.createDataFrame(rows, ["query_id", "doc_id", "rel", "embedding"])

    def cos_u(a, b):
        num = 0.0
        for x, y in zip(a, b):
            num += x * y
        na = nb = 0.0
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        return round(num / (math.sqrt(na) * math.sqrt(nb)) * 1000000.0)

    for lam_m in (700, 300):
        mu_m = 1000 - lam_m
        want = {}
        for q in (1, 2):
            pool = {
                i: (round(round(1.0 - i * 0.031, 6) * 1000000.0), vec(q, i))
                for i in range(20)
            }
            sel = []
            first = max(pool, key=lambda i: (pool[i][0], -i))
            sel.append((first, lam_m * pool[first][0]))
            while len(sel) < 5:
                chosen = {i for i, _ in sel}
                best = None
                for i in sorted(set(pool) - chosen):
                    div = max(cos_u(pool[i][1], pool[s][1]) for s, _ in sel)
                    sc = lam_m * pool[i][0] - mu_m * div
                    if best is None or sc > best[1]:
                        best = (i, sc)
                sel.append(best)
            for rank, (i, sc) in enumerate(sel, 1):
                want[(q, rank)] = (i, sc)
        got = {
            (r.query_id, r.rank): (r.doc_id, r.mmr_score_nano)
            for r in mmr_rerank(
                df, rel_col="rel", k=5, lambda_milli=lam_m
            ).collect()
        }
        assert got == want, (lam_m, got, want)


def test_mmr_rerank_small_pool_and_validation(spark):
    """A pool smaller than k returns the whole pool ranked; bad knobs
    raise."""
    import pytest as _pytest

    from dp1_data_wrangling_spark.operators.retrieval import mmr_rerank

    df = spark.createDataFrame(
        [(1, 1, 0.9, [1.0, 0.0]), (1, 2, 0.8, [0.0, 1.0])],
        ["query_id", "doc_id", "rel", "embedding"],
    )
    rows = mmr_rerank(df, rel_col="rel", k=10).orderBy("rank").collect()
    assert [(r.rank, r.doc_id) for r in rows] == [(1, 1), (2, 2)]
    with _pytest.raises(ValueError, match="k must be"):
        mmr_rerank(df, rel_col="rel", k=0)
    with _pytest.raises(ValueError, match="lambda_milli"):
        mmr_rerank(df, rel_col="rel", lambda_milli=1001)


def test_interpolate_hand_computed(spark):
    """Linear fill between representatives: 10.0 at bucket 0 and 20.0 at
    bucket 4 fills 12500/15000/17500 milli at buckets 1-3; observed
    cells carry their own quantized value."""
    from dp1_data_wrangling_spark.operators.timeseries import interpolate

    step = 100
    rows = [("a", 0, 1, 10.0), ("a", 4 * step, 2, 20.0)]
    df = spark.createDataFrame(rows, ["k", "ts_us", "eid", "v"])
    got = {
        (r.bucket_ts_us // step): (r.value_scaled, r.is_observed)
        for r in interpolate(
            df, step_us=step, key_col="k", ts_col="ts_us", value_col="v",
            tie_cols=["eid"],
        ).collect()
    }
    assert got == {
        0: (10000, True),
        1: (12500, False),
        2: (15000, False),
        3: (17500, False),
        4: (20000, True),
    }


def test_interpolate_negative_slope_floors(spark):
    """A falling, non-divisible segment must FLOOR (not truncate toward
    zero): 10.0 -> 0.0 over 3 buckets gives 6666 and 3333 milli — the
    Spark-div-vs-SQL-floor divergence the positive-remainder clearing
    exists for."""
    from dp1_data_wrangling_spark.operators.timeseries import interpolate

    rows = [("a", 0, 1, 10.0), ("a", 300, 2, 0.0)]
    df = spark.createDataFrame(rows, ["k", "ts_us", "eid", "v"])
    got = {
        r.bucket_ts_us // 100: r.value_scaled
        for r in interpolate(
            df, step_us=100, key_col="k", ts_col="ts_us", value_col="v",
            tie_cols=["eid"],
        ).collect()
    }
    assert got == {0: 10000, 1: 6666, 2: 3333, 3: 0}


def test_interpolate_validation(spark):
    import pytest as _pytest

    from dp1_data_wrangling_spark.operators.timeseries import interpolate

    df = spark.createDataFrame([("a", 0, 1, 1.0)], ["k", "ts_us", "eid", "v"])
    for kwargs, msg in (
        (dict(step_us=0), "step_us"),
        (dict(step_us=1, quant_scale=0), "quant_scale"),
        (dict(step_us=1, max_buckets=0), "max_buckets"),
    ):
        with _pytest.raises(ValueError, match=msg):
            interpolate(
                df, key_col="k", ts_col="ts_us", value_col="v", **kwargs
            )


def test_mmr_rerank_string_ids_and_null_id_raises(spark):
    """String document ids keep their natural type (no silent bigint
    cast to NULL); a NULL id fails fast instead of corrupting the
    selected-set exclusion."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from dp1_data_wrangling_spark.operators.retrieval import mmr_rerank

    df = spark.createDataFrame(
        [
            (1, "doc-a", 0.9, [1.0, 0.0]),
            (1, "doc-b", 0.8, [0.0, 1.0]),
            (1, "doc-c", 0.7, [1.0, 0.01]),
        ],
        ["query_id", "doc_id", "rel", "embedding"],
    )
    rows = mmr_rerank(df, rel_col="rel", k=3, lambda_milli=500).orderBy(
        "rank"
    ).collect()
    assert [(r.rank, r.doc_id) for r in rows] == [
        (1, "doc-a"), (2, "doc-b"), (3, "doc-c"),
    ]
    bad = spark.createDataFrame(
        [(1, None, 0.9, [1.0, 0.0])],
        "query_id int, doc_id string, rel double, embedding array<double>",
    )
    with _pytest.raises(SparkRuntimeException, match="NULL candidate id"):
        mmr_rerank(bad, rel_col="rel", k=2).collect()


def test_label_propagation_hand_computed(spark):
    """Three synchronous rounds on a triangle + a pair + an isolate:
    the triangle converges to community 1 (min id wins the tie chain);
    the 2-node pair OSCILLATES under synchronous updates (the
    documented LPA behavior — round 3 leaves 4<-5, 5<-4); the isolate
    keeps itself.  Hand-derived round by round."""
    from dp1_data_wrangling_spark.operators.graph import label_propagation

    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "node long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (6, 6)], "src long, dst long"
    )  # the 6->6 self-loop must be dropped, leaving 6 isolated
    got = {
        r.node: r.community
        for r in label_propagation(nodes, edges, iterations=3).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 5, 5: 4, 6: 6}
    # one round from scratch: every triangle member adopts its smallest
    # neighbor; direction of input edges must not matter
    rev = spark.createDataFrame(
        [(2, 1), (3, 2), (3, 1), (5, 4), (6, 6)], "src long, dst long"
    )
    one = {
        r.node: r.community
        for r in label_propagation(nodes, rev, iterations=1).collect()
    }
    assert one == {1: 2, 2: 1, 3: 1, 4: 5, 5: 4, 6: 6}
    # STRING node ids (host communities) must work identically — the
    # review found the old tie-break null-cast non-numeric labels into
    # a silent no-op; the lexicographically smallest host wins ties
    snodes = spark.createDataFrame(
        [(f"h{i}",) for i in range(1, 7)], "node string"
    )
    sedges = spark.createDataFrame(
        [("h1", "h2"), ("h2", "h3"), ("h1", "h3"), ("h4", "h5"),
         ("h6", "h6")],
        "src string, dst string",
    )
    sgot = {
        r.node: r.community
        for r in label_propagation(snodes, sedges, iterations=3).collect()
    }
    assert sgot == {
        "h1": "h1", "h2": "h1", "h3": "h1",
        "h4": "h5", "h5": "h4", "h6": "h6",
    }
    with pytest.raises(ValueError, match="iterations"):
        label_propagation(nodes, edges, iterations=0)


def test_kcore_hand_computed(spark):
    """4-clique with a pendant chain: k=3 keeps exactly the clique (each
    member at in-core degree 3); the chain peels in cascade."""
    from dp1_data_wrangling_spark.operators.graph import kcore

    clique = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    chain = [(4, 5), (5, 6), (6, 7)]
    df = spark.createDataFrame(clique + chain, ["src", "dst"])
    got = {r.node: r.core_deg for r in kcore(df, 3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # k=5 exceeds every degree: empty core
    assert kcore(df, 5).count() == 0


def test_kcore_matches_python_peeling(spark):
    """Deterministic pseudo-random graph vs an independent pure-Python
    peeling loop: surviving set and in-core degrees match exactly for
    several k."""
    import hashlib

    from dp1_data_wrangling_spark.operators.graph import kcore

    edges = []
    for i in range(300):
        h = int(hashlib.md5(f"kc{i}".encode()).hexdigest()[:8], 16)
        a, b = h % 60, (h // 60) % 60
        if a != b:
            edges.append((a, b))
    df = spark.createDataFrame(edges, ["src", "dst"])

    und = set()
    for a, b in edges:
        und.add((min(a, b), max(a, b)))
    for k in (2, 4, 6):
        adj = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        alive = set(adj)
        while True:
            bad = {n for n in alive
                   if len(adj[n] & alive) < k}
            if not bad:
                break
            alive -= bad
        want = {n: len(adj[n] & alive) for n in alive}
        got = {r.node: r.core_deg for r in kcore(df, k).collect()}
        assert got == want, (k, got, want)


def test_kcore_validation(spark):
    import pytest as _pytest

    from dp1_data_wrangling_spark.operators.graph import kcore

    df = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with _pytest.raises(ValueError, match="k must be"):
        kcore(df, 0)
    with _pytest.raises(ValueError, match="max_iters"):
        kcore(df, 2, max_iters=0)


def test_abc_classes_hand_computed_boundary_convention(spark):
    """Values 50/30/15/5 (total 100): the 30 item CROSSES the 80%
    boundary (exclusive share 50%) and still tiers A; 15 starts at 80%
    exactly -> B; 5 starts at 95% exactly -> C."""
    from dp1_data_wrangling_spark.operators.pareto import abc_classes

    df = spark.createDataFrame(
        [(1, 50), (2, 30), (3, 15), (4, 5)], ["id", "v"]
    )
    got = [
        (r.id, r.rank, r.cum_value, r.cum_milli, r.abc_class)
        for r in abc_classes(df, value_col="v", id_cols=["id"])
        .orderBy("rank")
        .collect()
    ]
    assert got == [
        (1, 1, 50, 500, "A"),
        (2, 2, 80, 800, "A"),
        (3, 3, 95, 950, "B"),
        (4, 4, 100, 1000, "C"),
    ]


def test_abc_classes_ties_and_validation(spark):
    """Equal values rank deterministically by id; NULL values are
    excluded; invalid thresholds raise."""
    import pytest as _pytest

    from dp1_data_wrangling_spark.operators.pareto import abc_classes

    df = spark.createDataFrame(
        [(1, 10), (2, 10), (3, None)], "id int, v long"
    )
    rows = abc_classes(df, value_col="v", id_cols=["id"]).orderBy("rank").collect()
    assert [(r.id, r.rank) for r in rows] == [(1, 1), (2, 2)]
    with _pytest.raises(ValueError, match="thresholds"):
        abc_classes(df, value_col="v", id_cols=["id"], threshold_a_milli=0)
    with _pytest.raises(ValueError, match="thresholds"):
        abc_classes(
            df, value_col="v", id_cols=["id"],
            threshold_a_milli=900, threshold_b_milli=800,
        )


def test_funnel_latency_query_hand_computed(spark):
    """The funnel-latency composition picks nearest-rank order
    statistics over converted users only (hand check on the registered
    query's building blocks with a tiny synthetic stream)."""
    from dp1_data_wrangling_spark.operators.funnel import funnel_match
    from pyspark.sql import Window

    M = 1_000_000
    rows = []
    # three converters with latencies 10s, 20s, 30s; one stalls at click
    for u, lat in ((1, 10), (2, 20), (3, 30)):
        rows += [(u, "view", 0), (u, "click", 5 * M),
                 (u, "purchase", lat * M)]
    rows += [(4, "view", 0), (4, "click", 5 * M)]
    e = spark.createDataFrame(rows, ["user_id", "event_type", "ts_us"])
    lat = (
        funnel_match(e, steps=["view", "click", "purchase"],
                     within_us=1_800 * M)
        .filter(F.col("converted"))
        .select((F.col("t3_us") - F.col("t1_us")).alias("lat_us"))
    )
    ranked = lat.withColumn(
        "orn", F.row_number().over(Window.orderBy("lat_us"))
    ).withColumn("n", F.count("*").over(Window.partitionBy()))
    [r] = ranked.agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("orn") == F.expr("(50 * n + 99) div 100"),
                     F.col("lat_us"))).alias("p50"),
    ).collect()
    assert (r.n, r.p50) == (3, 20 * M)


def test_linear_attribution_hand_computed_remainder(spark):
    """Value 100 over 3 touches: 34/33/33 with the remainder on the
    EARLIEST touch; a touch outside the window is excluded; a
    no-touch conversion emits nothing."""
    from dp1_data_wrangling_spark.operators.funnel import linear_attribution

    M = 1_000_000
    rows = [
        (1, 10, "view", 0 * M, None),
        (1, 11, "click", 5 * M, None),
        (1, 12, "view", 9 * M, None),
        (1, 13, "purchase", 10 * M, 100),
        (1, 14, "view", 10 * M, None),       # not strictly before: excluded
        (2, 20, "purchase", 50 * M, 70),      # no touches
        (3, 30, "view", 0, None),
        (3, 31, "purchase", 3600 * M, 10),    # touch outside 30min window
    ]
    e = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, "
              "ts_us long, value_milli long"
    )
    got = {
        (r.conv_id, r.touch_id): (r.n_touches, r.credit_milli)
        for r in linear_attribution(
            e, conversion_type="purchase", touch_types=["view", "click"],
            within_us=1800 * M,
        ).collect()
    }
    assert got == {
        (13, 10): (3, 34),
        (13, 11): (3, 33),
        (13, 12): (3, 33),
    }


def test_linear_attribution_credits_sum_to_value(spark):
    """Property at fixture scale: per conversion, credits sum exactly to
    the conversion's milli value (the remainder policy loses nothing)."""
    from dp1_data_wrangling_spark.queries import REGISTRY

    out = REGISTRY["event_attribution"].fn(spark, "/root/testdata/sf0.001")
    e = (
        __import__(
            "dp1_data_wrangling_spark.tables", fromlist=["load_table"]
        ).load_table(spark, "/root/testdata/sf0.001", "events")
        .select(
            F.col("event_id").alias("conv_id"),
            F.floor(F.col("value") * 1000).cast("bigint").alias("vm"),
        )
    )
    sums = out.groupBy("conv_id").agg(F.sum("credit_milli").alias("s"))
    bad = sums.join(e, "conv_id").filter(F.col("s") != F.col("vm"))
    assert bad.count() == 0 and sums.count() > 0


def test_conversion_paths_hand_computed(spark):
    """Hand-derived journeys: u1 converts twice (view>click, then
    view), u2 converts once (click), u3's conversion has no in-window
    touch and contributes nothing; max_touches=1 keeps only the LAST
    touch (recency cut)."""
    from dp1_data_wrangling_spark.operators.funnel import conversion_paths

    rows = [
        ("u1", 1, "view", 10), ("u1", 2, "click", 20),
        ("u1", 3, "buy", 30), ("u1", 4, "view", 40),
        ("u1", 5, "buy", 50),
        ("u2", 6, "click", 10), ("u2", 7, "buy", 15),
        ("u3", 8, "buy", 5),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, event_id int, event_type string, ts_us long"
    )
    kw = dict(
        conversion_type="buy", touch_types=["view", "click"], within_us=25
    )
    got = {
        r.path: r.n_conversions
        for r in conversion_paths(df, **kw).collect()
    }
    assert got == {"view>click": 1, "view": 1, "click": 1}
    last_only = {
        r.path: r.n_conversions
        for r in conversion_paths(df, max_touches=1, **kw).collect()
    }
    assert last_only == {"click": 2, "view": 1}
    assert conversion_paths(df, min_support=2, **kw).count() == 0
    with pytest.raises(ValueError, match="max_touches"):
        conversion_paths(df, max_touches=0, **kw)


def test_linear_attribution_excludes_null_value_conversions(spark):
    """A conversion with a NULL value has no credit to split: it must
    produce NO output rows (ADVICE r9 — previously ``__val div n``
    emitted NULL credit_milli rows, breaking the sum-back invariant),
    while a sibling valued conversion attributes normally."""
    from dp1_data_wrangling_spark.operators.funnel import linear_attribution

    rows = [
        # user u1: touch at t=10, NULL-valued conversion at t=20
        ("u1", 1, "view", 10, None),
        ("u1", 2, "buy", 20, None),
        # user u2: touch at t=10, valued conversion at t=20
        ("u2", 3, "view", 10, None),
        ("u2", 4, "buy", 20, 1000),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, event_id int, event_type string, "
        "ts_us long, value_milli long"
    )
    out = linear_attribution(
        df, conversion_type="buy", touch_types=["view"], within_us=100
    ).collect()
    assert {r.conv_id for r in out} == {4}
    assert all(r.credit_milli is not None for r in out)
    assert sum(r.credit_milli for r in out) == 1000


def test_gini_index_hand_computed(spark):
    """1,2,3 -> G = 4/18; equal values -> 0; one holder of everything
    -> (n-1)/n = 2/3; a zero-sum group yields NULL; a negative value
    raises executor-side."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from dp1_data_wrangling_spark.operators.stats import gini_index

    rows = [
        ("a", 1, 1.0), ("a", 2, 2.0), ("a", 3, 3.0),
        ("b", 1, 5.0), ("b", 2, 5.0),
        ("c", 1, 0.0), ("c", 2, 0.0), ("c", 3, 9.0),
        ("z", 1, 0.0),
    ]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    got = {
        r.g: (r.n, r.sum_scaled, r.gini_num, r.gini_den, r.gini)
        for r in gini_index(
            df, value_col="v", group_cols=["g"], tie_cols=["id"],
            quant_scale=1,
        ).collect()
    }
    assert got["a"] == (3, 6, 4, 18, 4 / 18)
    assert got["b"] == (2, 10, 0, 20, 0.0)
    assert got["c"] == (3, 9, 18, 27, 18 / 27)
    assert got["z"] == (1, 0, 0, 0, None)
    neg = spark.createDataFrame([("a", 1, -1.0)], "g string, id long, v double")
    with pytest.raises(SparkRuntimeException, match="negative"):
        gini_index(
            neg, value_col="v", group_cols=["g"], tie_cols=["id"],
            quant_scale=1,
        ).collect()


def test_rfm_segments_hand_computed(spark):
    """Three customers, two tiers: B ordered last (recency 0) and
    spends most -> r_tier 1 / m_tier 1; A orders most -> f_tier 1;
    C trails everything -> 2/2/2.  ntile(2) puts the first ceil(3/2)=2
    ranked rows in tier 1 — hand-derived per metric."""
    from dp1_data_wrangling_spark.operators.stats import rfm_segments

    rows = [
        ("A", 10, 1.0), ("A", 20, 2.0), ("B", 30, 10.0), ("C", 5, 0.5),
        ("C", None, 9.9),  # NULL ts excluded from aggregates
    ]
    df = spark.createDataFrame(rows, "cust string, ts long, v double")
    got = {
        r.customer: (r.recency, r.n_orders, r.monetary_scaled,
                     r.r_tier, r.f_tier, r.m_tier)
        for r in rfm_segments(
            df, customer_col="cust", ts_col="ts", value_col="v",
            n_tiers=2, quant_scale=1000,
        ).collect()
    }
    # ntile(2) over 3 rows: the first TWO ranked rows share tier 1
    assert got == {
        "A": (10, 2, 3000, 1, 1, 1),
        "B": (0, 1, 10000, 1, 1, 1),
        "C": (25, 1, 500, 2, 2, 2),
    }
    with pytest.raises(ValueError, match="n_tiers"):
        rfm_segments(
            df, customer_col="cust", ts_col="ts", value_col="v", n_tiers=1
        )


def test_winsorize_hand_computed(spark):
    """Values 1..10 at [p20, p80]: lo = value at rank ceil(0.2*10) = 2,
    hi = value at rank 8 -> 1 clips up to 2, 9 and 10 clip down to 8,
    the middle passes through; a NULL value passes with NULL output;
    [p1, p100] clips nothing."""
    from dp1_data_wrangling_spark.operators.stats import winsorize

    rows = [("a", i, float(i)) for i in range(1, 11)] + [("a", 99, None)]
    df = spark.createDataFrame(rows, "g string, event_id long, v double")
    got = {
        r.event_id: (r.clipped_value, r.is_clipped)
        for r in winsorize(
            df, value_col="v", group_cols=["g"], tie_cols=["event_id"],
            p_lo=20, p_hi=80,
        ).collect()
    }
    assert got[1] == (2.0, True)
    assert got[2] == (2.0, False)
    assert got[8] == (8.0, False)
    assert got[9] == (8.0, True)
    assert got[10] == (8.0, True)
    assert got[99] == (None, None)
    wide = winsorize(
        df, value_col="v", group_cols=["g"], tie_cols=["event_id"],
        p_lo=1, p_hi=100,
    )
    assert wide.filter(F.col("is_clipped")).count() == 0
    with pytest.raises(ValueError, match="p_lo"):
        winsorize(
            df, value_col="v", group_cols=["g"], tie_cols=["event_id"],
            p_lo=50, p_hi=10,
        )


def test_quantile_normalize_hand_computed(spark):
    """ref 1..6: group a (3 rows) maps to ref ranks ceil(r*6/3) = 2,4,6;
    a singleton group maps to the ref max (rank 6); normalizing the
    reference onto itself is the identity (rank r*n/n = r)."""
    from dp1_data_wrangling_spark.operators.stats import quantile_normalize

    ref = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 7)], "event_id long, v double"
    )
    src = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0), ("b", 9, 99.0)],
        "g string, event_id long, v double",
    )
    got = {
        (r.g, r.event_id): r.normalized_value
        for r in quantile_normalize(
            src, ref, value_col="v", group_cols=["g"], tie_cols=["event_id"]
        ).collect()
    }
    assert got == {("a", 1): 2.0, ("a", 2): 4.0, ("a", 3): 6.0, ("b", 9): 6.0}
    self_ref = ref.select(F.lit("r").alias("g"), "event_id", "v")
    ident = quantile_normalize(
        self_ref, ref, value_col="v", group_cols=["g"], tie_cols=["event_id"]
    )
    assert ident.filter(F.col("v") != F.col("normalized_value")).count() == 0
    with pytest.raises(ValueError, match="tie_cols"):
        quantile_normalize(
            src, ref, value_col="v", group_cols=["g"], tie_cols=[]
        )


def test_binned_ks_drift_hand_computed(spark):
    """ref 0,5,10,15 / cur 0,1,2,100 at quant 1, 4 bins: w = 15 div 4
    + 1 = 4, ref bins 0,1,2,3 (one each), cur bins 0,0,0 and the
    out-of-range 100 CLAMPS into bin 3; delta = 4*|cum_cur - cum_ref|
    peaks at 8 in bin 0 -> D = 8/16 = 0.5.  Identical samples drift
    zero.  Every number exact."""
    from dp1_data_wrangling_spark.operators.stats import binned_ks_drift

    ref = spark.createDataFrame([(float(v),) for v in (0, 5, 10, 15)], "v double")
    cur = spark.createDataFrame([(float(v),) for v in (0, 1, 2, 100)], "v double")
    got = {
        r.bin: (r.lo_scaled, r.n_ref, r.n_cur, r.cum_ref, r.cum_cur,
                r.delta_scaled, r.ks_scaled)
        for r in binned_ks_drift(
            ref, cur, value_col="v", n_bins=4, quant_scale=1
        ).collect()
    }
    assert got == {
        0: (0, 1, 3, 1, 3, 8, 8),
        1: (4, 1, 0, 2, 3, 4, 8),
        2: (8, 1, 0, 3, 3, 0, 8),
        3: (12, 1, 1, 4, 4, 0, 8),
    }
    same = binned_ks_drift(ref, ref, value_col="v", n_bins=4, quant_scale=1)
    assert same.agg(F.max("ks_scaled")).collect()[0][0] == 0
    with pytest.raises(ValueError, match="n_bins"):
        binned_ks_drift(ref, cur, value_col="v", n_bins=1)


def test_ks_drift_empty_reference_raises(spark):
    """ADVICE r10: an empty (or all-NULL) reference must FAIL FAST, not
    read as ks_scaled = 0 — 'no drift because we compared against
    nothing' is the worst failure mode a drift monitor has.  The guard
    is threaded into __lo, which the spine consumes, so it fires even
    when the current sample is also empty."""
    from dp1_data_wrangling_spark.operators.stats import binned_ks_drift

    cur = spark.createDataFrame([(float(v),) for v in (0, 1, 2)], "v double")
    empty = spark.createDataFrame([], "v double")
    allnull = spark.createDataFrame([(None,), (None,)], "v double")
    # parallel stage materialization can wrap the raise in a
    # multi-failure SparkException — match the message, not the type
    for bad in (empty, allnull):
        with pytest.raises(Exception, match="ks_reference"):
            binned_ks_drift(
                bad, cur, value_col="v", n_bins=4, quant_scale=1
            ).collect()
    # even cur-also-empty raises (the spine still evaluates __lo)
    with pytest.raises(Exception, match="ks_reference"):
        binned_ks_drift(
            empty, empty, value_col="v", n_bins=4, quant_scale=1
        ).collect()
    # non-empty reference against an empty current sample stays legal:
    # every bin reads cum_cur = 0, D = max cum_ref * 0-vs-n delta
    ref = spark.createDataFrame([(float(v),) for v in (0, 5)], "v double")
    ok = binned_ks_drift(ref, empty, value_col="v", n_bins=2, quant_scale=1)
    assert ok.count() == 2


def test_quantile_normalize_empty_reference_raises(spark):
    """ADVICE r10: calibrating against an empty (or all-NULL) reference
    must raise, not silently emit an empty result (every mapped rank
    would be 0 and an inner __rr join would AQE-prune to nothing —
    the guard rides the LEFT join's consumed output column).  An empty
    SOURCE against a good reference stays a legitimate empty output."""
    from dp1_data_wrangling_spark.operators.stats import quantile_normalize

    src = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0)], "g string, event_id long, v double"
    )
    empty = spark.createDataFrame([], "event_id long, v double")
    allnull = spark.createDataFrame(
        [(1, None), (2, None)], "event_id long, v double"
    )
    for bad in (empty, allnull):
        with pytest.raises(Exception, match="quantile_normalize"):
            quantile_normalize(
                src, bad, value_col="v", group_cols=["g"],
                tie_cols=["event_id"],
            ).collect()
    ref = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 4)], "event_id long, v double"
    )
    empty_src = spark.createDataFrame([], "g string, event_id long, v double")
    assert (
        quantile_normalize(
            empty_src, ref, value_col="v", group_cols=["g"],
            tie_cols=["event_id"],
        ).count()
        == 0
    )


def test_weighted_quantiles_overflow_guard_fires(spark):
    """The r10 overflow guard: a group whose total weight exceeds
    (2^63-1) div 100 raises executor-side instead of wrapping the
    100x rank cross-multiply (ADVICE r9); a benign group passes."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from dp1_data_wrangling_spark.operators.stats import weighted_quantiles

    big = ((1 << 63) - 1) // 100
    df = spark.createDataFrame(
        [("g", 1.0, big), ("g", 2.0, 5)], ["k", "v", "w"]
    )
    out = weighted_quantiles(
        df, value_col="v", weight_col="w", group_cols=["k"]
    )
    with pytest.raises(SparkRuntimeException, match="total weight"):
        out.collect()
    ok = spark.createDataFrame(
        [("g", 1.0, 1), ("g", 2.0, 3)], ["k", "v", "w"]
    )
    [r] = weighted_quantiles(
        ok, value_col="v", weight_col="w", group_cols=["k"],
        percents=[50],
    ).collect()
    assert r.total_weight == 4 and r.wq_p50 == 2.0


def test_ndcg_at_k_hand_computed(spark):
    """A perfect ranking scores ndcg 1.0 exactly; swapping the top two
    grades drops it by the hand-computed ratio; unlabeled retrieved docs
    gain 0; a query with no positive labels gets NULL ndcg."""
    import math

    from dp1_data_wrangling_spark.operators.retrieval import ndcg_at_k

    labels = spark.createDataFrame(
        [(1, 10, 3), (1, 11, 1), (1, 12, 0), (2, 10, 0)],
        ["query_id", "doc_id", "rel"],
    )
    perfect = spark.createDataFrame(
        [(1, 1, 10), (1, 2, 11), (1, 3, 12)], ["query_id", "rank", "doc_id"]
    )
    [r] = ndcg_at_k(perfect, labels, k=3).filter("query_id = 1").collect()
    assert r.ndcg == 1.0
    ideal = round(7 / math.log(2) + 1 / math.log(3), 6)
    assert r.idcg_ln == ideal

    swapped = spark.createDataFrame(
        [(1, 1, 11), (1, 2, 10), (1, 3, 99)], ["query_id", "rank", "doc_id"]
    )  # doc 99 unlabeled -> gain 0
    [r2] = ndcg_at_k(swapped, labels, k=3).filter("query_id = 1").collect()
    dcg = round(1 / math.log(2) + 7 / math.log(3), 6)
    assert r2.dcg_ln == dcg
    assert r2.ndcg == round(dcg / ideal, 6) < 1.0

    # query 2 has only rel-0 labels -> no ideal -> NULL ndcg
    rank2 = spark.createDataFrame([(2, 1, 10)], ["query_id", "rank", "doc_id"])
    [r3] = ndcg_at_k(rank2, labels, k=3).collect()
    assert r3.ndcg is None and r3.idcg_ln is None


def test_ndcg_validation(spark):
    import pytest as _pytest

    from dp1_data_wrangling_spark.operators.retrieval import ndcg_at_k

    df = spark.createDataFrame([(1, 1, 10)], ["query_id", "rank", "doc_id"])
    lab = spark.createDataFrame([(1, 10, 1)], ["query_id", "doc_id", "rel"])
    with _pytest.raises(ValueError, match="k must be"):
        ndcg_at_k(df, lab, k=0)


# ---------------------------------------------------------------------------
# distributed ranking (operators/ranking.py)
# ---------------------------------------------------------------------------


def _window_reference(spark, rows, descending, with_cumsum=False):
    """The single-partition SQL-window answer the distributed machinery
    must replicate bit-for-bit."""
    from pyspark.sql import Window

    df = spark.createDataFrame(rows, "id long, m long")
    order = [F.col("m").desc() if descending else F.col("m"), F.col("id")]
    w = Window.orderBy(*order)
    out = df.withColumn("rank", F.row_number().over(w).cast("bigint"))
    if with_cumsum:
        out = out.withColumn(
            "cum",
            F.sum("m").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    return out


def test_distributed_rank_matches_window(spark):
    """Exact-rank decomposition == ROW_NUMBER() OVER (ORDER BY ...) on
    an adversarial mix: a mega-tie value (60% of rows), unique values,
    negative metrics, asc and desc — with tiny buckets so every
    census/offset path is exercised."""
    from dp1_data_wrangling_spark.operators.ranking import distributed_rank

    rows = (
        [(i, 7) for i in range(60)]            # mega-tie
        + [(100 + i, i * 3 - 50) for i in range(30)]  # spread incl. negatives
        + [(200 + i, 7) for i in range(10)]    # more of the tie, higher ids
    )
    df = spark.createDataFrame(rows, "id long, m long")
    for desc in (False, True):
        want = {
            r.id: r.rank
            for r in _window_reference(spark, rows, desc).collect()
        }
        rk = distributed_rank(
            df, metric_col="m", tie_cols=["id"], descending=desc,
            n_value_buckets=4, n_tie_buckets=3,
        )
        got = {r.id: r.rank for r in rk.df.collect()}
        assert got == want, f"descending={desc}"
        assert rk.n_total == len(rows)


def test_distributed_rank_cumsum_matches_window(spark):
    """The census-decomposed running sum == SUM() OVER (ORDER BY ...
    ROWS UNBOUNDED PRECEDING) for non-negative metrics, asc and desc."""
    from dp1_data_wrangling_spark.operators.ranking import distributed_rank

    rows = [(i, (i * 17) % 23) for i in range(80)]  # repeats + spread
    df = spark.createDataFrame(rows, "id long, m long")
    for desc in (False, True):
        want = {
            r.id: (r.rank, r.cum)
            for r in _window_reference(
                spark, rows, desc, with_cumsum=True
            ).collect()
        }
        rk = distributed_rank(
            df, metric_col="m", tie_cols=["id"], descending=desc,
            n_value_buckets=5, n_tie_buckets=4,
            cumsum_col="cum",
        )
        got = {r.id: (r.rank, r.cum) for r in rk.df.collect()}
        assert got == want, f"descending={desc}"
        assert rk.sum_total == sum(m for _, m in rows)


def test_distributed_ntile_matches_sql_ntile(spark):
    """distributed_ntile == NTILE(k) OVER (ORDER BY ...) across k < n,
    k == n, k > n, with ties; string tie keys take the single-tie-bucket
    fallback and still match."""
    from pyspark.sql import Window

    from dp1_data_wrangling_spark.operators.ranking import distributed_ntile

    rows = [(i, (i * 7) % 5) for i in range(23)]
    df = spark.createDataFrame(rows, "id long, m long")
    for k in (2, 4, 5, 23, 40):
        want = {
            r.id: r.t
            for r in df.withColumn(
                "t", F.ntile(k).over(Window.orderBy(F.col("m"), F.col("id")))
            ).collect()
        }
        got = {
            r.id: r.tier
            for r in distributed_ntile(
                df, metric_col="m", tie_cols=["id"], n_tiles=k,
                n_value_buckets=3, n_tie_buckets=2,
            ).collect()
        }
        assert got == want, f"k={k}"
    # string ties: fallback bucketing, same answer
    srows = [(f"u{i:03d}", (i * 3) % 4) for i in range(17)]
    sdf = spark.createDataFrame(srows, "uid string, m long")
    want_s = {
        r.uid: r.t
        for r in sdf.withColumn(
            "t", F.ntile(3).over(Window.orderBy(F.col("m"), F.col("uid")))
        ).collect()
    }
    got_s = {
        r.uid: r.tier
        for r in distributed_ntile(
            sdf, metric_col="m", tie_cols=["uid"], n_tiles=3,
        ).collect()
    }
    assert got_s == want_s


def test_distributed_rank_float_metric_matches_window(spark):
    """The double-metric path (r12 — what quantile_normalize's
    reference ranking rides) == ROW_NUMBER() OVER (ORDER BY v, id) on
    an adversarial mix: a mega-tie double, +-0.0 (order-equal in both
    engines), huge-magnitude values, negatives — asc and desc, tiny
    buckets so the IEEE floor((x-lo)/w) clamp path is exercised."""
    from pyspark.sql import Window

    from dp1_data_wrangling_spark.operators.ranking import distributed_rank

    vals = [2.5] * 40 + [0.0, -0.0, 1e307, -1e307, -3.25, 7.125, 0.5] * 5
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v double")
    for desc in (False, True):
        order = F.col("v").desc() if desc else F.col("v")
        want = {
            r.id: r.r2
            for r in df.withColumn(
                "r2",
                F.row_number().over(Window.orderBy(order, "id")),
            ).collect()
        }
        rk = distributed_rank(
            df, metric_col="v", tie_cols=["id"], descending=desc,
            n_value_buckets=4, n_tie_buckets=3, rank_col="r",
        )
        got = {r.id: r.r for r in rk.df.collect()}
        assert got == want, f"descending={desc}"
        assert rk.n_total == len(rows)


def test_distributed_rank_cumsum_source_matches_window(spark):
    """cumsum_source_col (r12 — running WEIGHT in value order, the
    ungrouped weighted-quantile shape) == SUM(w) OVER (ORDER BY v, id
    ROWS UNBOUNDED PRECEDING), on a double metric."""
    from pyspark.sql import Window

    from dp1_data_wrangling_spark.operators.ranking import distributed_rank

    rows = [(i, float((i * 13) % 7) / 4.0, (i * 5) % 11 + 1) for i in range(90)]
    df = spark.createDataFrame(rows, "id long, v double, w long")
    w_cum = Window.orderBy("v", "id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = {
        r.id: r.cw2
        for r in df.withColumn(
            "cw2", F.sum("w").over(w_cum).cast("bigint")
        ).collect()
    }
    rk = distributed_rank(
        df, metric_col="v", tie_cols=["id"], rank_col="r",
        cumsum_col="cw", cumsum_source_col="w",
        n_value_buckets=5, n_tie_buckets=4,
    )
    got = {r.id: r.cw for r in rk.df.collect()}
    assert got == want
    assert rk.sum_total == sum(w for _, _, w in rows)


def test_rank_tile_summary_hand_computed(spark):
    """Census {v:1 x3, v:2 x1, v:3 x4} into 3 tiles of 8 rows (sizes
    3/3/2): tile 1 = ranks 1-3 all value 1; tile 2 = ranks 4-6
    spanning values 2..3; tile 3 = ranks 7-8 value 3.  Zero-count rows
    ignored; fewer rows than tiles -> only non-empty tiles appear;
    empty census -> empty frame with full schema."""
    from dp1_data_wrangling_spark.operators.ranking import rank_tile_summary

    census = spark.createDataFrame(
        [(1, 3), (2, 1), (3, 4), (9, 0)], "v long, n long"
    )
    got = {
        r.tier: (r.rank_lo, r.rank_hi, r.n_rows, r.value_lo, r.value_hi)
        for r in rank_tile_summary(
            census, metric_col="v", count_col="n", n_tiles=3
        ).collect()
    }
    assert got == {
        1: (1, 3, 3, 1, 1),
        2: (4, 6, 3, 2, 3),
        3: (7, 8, 2, 3, 3),
    }

    tiny = spark.createDataFrame([(5, 1), (7, 1)], "v long, n long")
    got2 = {
        r.tier: (r.rank_lo, r.rank_hi, r.n_rows, r.value_lo, r.value_hi)
        for r in rank_tile_summary(
            tiny, metric_col="v", count_col="n", n_tiles=4
        ).collect()
    }
    assert got2 == {1: (1, 1, 1, 5, 5), 2: (2, 2, 1, 7, 7)}

    empty = rank_tile_summary(
        census.filter("n < 0"), metric_col="v", count_col="n", n_tiles=3
    )
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "tier", "rank_lo", "rank_hi", "n_rows", "value_lo", "value_hi",
    ]
    with pytest.raises(ValueError, match="n_tiles"):
        rank_tile_summary(census, metric_col="v", count_col="n", n_tiles=0)


def test_distributed_rank_guards(spark):
    """NULL/NaN metric and NULL tie raise executor-side; non-numeric
    metric, float running-sum source, reserved output names, span
    overflow, non-finite float bounds and empty tie_cols raise at
    construction; negative metric under cumsum raises; the empty input
    short-circuits with full schema."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from dp1_data_wrangling_spark.operators.ranking import (
        distributed_rank,
        distributed_ntile,
    )

    good = spark.createDataFrame([(1, 5), (2, 3)], "id long, m long")
    with pytest.raises(ValueError, match="tie_cols"):
        distributed_rank(good, metric_col="m", tie_cols=[])
    with pytest.raises(ValueError, match="integer or float"):
        distributed_rank(
            spark.createDataFrame([(1, "x")], "id long, m string"),
            metric_col="m", tie_cols=["id"],
        )
    # the running-sum source must stay exact-integer even on the float
    # metric path (int64 census partials cannot carry floats)
    with pytest.raises(ValueError, match="running-sum source"):
        distributed_rank(
            spark.createDataFrame([(1, 1.5)], "id long, m double"),
            metric_col="m", tie_cols=["id"], cumsum_col="cum",
        )
    with pytest.raises(SparkRuntimeException, match="distributed_rank"):
        distributed_rank(
            spark.createDataFrame(
                [(1, float("nan")), (2, 0.5)], "id long, m double"
            ),
            metric_col="m", tie_cols=["id"],
        ).df.count()
    with pytest.raises(ValueError, match="non-finite"):
        distributed_rank(
            spark.createDataFrame(
                [(1, float("inf")), (2, 0.5)], "id long, m double"
            ),
            metric_col="m", tie_cols=["id"],
        )
    with pytest.raises(ValueError, match="already exists"):
        distributed_rank(good, metric_col="m", tie_cols=["id"], rank_col="m")
    with pytest.raises(ValueError, match="n_tiles"):
        distributed_ntile(good, metric_col="m", tie_cols=["id"], n_tiles=0)
    nulls = spark.createDataFrame([(1, 5), (2, None)], "id long, m long")
    with pytest.raises(SparkRuntimeException, match="distributed_rank"):
        distributed_rank(nulls, metric_col="m", tie_cols=["id"])
    neg = spark.createDataFrame([(1, -5), (2, 3)], "id long, m long")
    with pytest.raises(SparkRuntimeException, match="distributed_rank"):
        distributed_rank(
            neg, metric_col="m", tie_cols=["id"], cumsum_col="cum"
        )
    span = spark.createDataFrame(
        [(1, -(1 << 62)), (2, (1 << 62))], "id long, m long"
    )
    with pytest.raises(ValueError, match="span exceeds int64"):
        distributed_rank(span, metric_col="m", tie_cols=["id"])
    empty = spark.createDataFrame([], "id long, m long")
    rk = distributed_rank(
        empty, metric_col="m", tie_cols=["id"], cumsum_col="cum"
    )
    assert rk.n_total == 0 and rk.sum_total == 0
    assert rk.df.columns == ["id", "m", "rank", "cum"]
    assert rk.df.count() == 0
    assert (
        distributed_ntile(
            empty, metric_col="m", tie_cols=["id"], n_tiles=3
        ).count()
        == 0
    )


def test_distributed_rank_multi_tie_cols(spark):
    """Multiple tie columns: bucketing uses only the FIRST (a monotone
    prefix of the order), ordering uses all — matches the window."""
    from pyspark.sql import Window

    from dp1_data_wrangling_spark.operators.ranking import distributed_rank

    rows = [
        (i % 4, chr(97 + (i * 5) % 7), i, 11) for i in range(40)
    ]  # all metrics tie -> order decided entirely by (t1, t2, t3)
    df = spark.createDataFrame(rows, "t1 long, t2 string, t3 long, m long")
    w = Window.orderBy(F.col("m"), F.col("t1"), F.col("t2"), F.col("t3"))
    want = {
        (r.t1, r.t2, r.t3): r.rk
        for r in df.withColumn("rk", F.row_number().over(w).cast("bigint")).collect()
    }
    rk = distributed_rank(
        df, metric_col="m", tie_cols=["t1", "t2", "t3"],
        n_value_buckets=2, n_tie_buckets=3, rank_col="rk",
    )
    got = {(r.t1, r.t2, r.t3): r.rk for r in rk.df.collect()}
    assert got == want


def test_item_affinity_hand_computed(spark):
    """Four baskets over items a/b/c: n_a=3, n_b=3, n_c=2; pair (a,b)
    co-occurs twice -> affinity = 1e6*4 // 9 = 444444 ppm; (a,c) and
    (b,c) once each -> 1e6 // 6 = 166666.  Thresholds filter exactly;
    invalid knobs raise."""
    from dp1_data_wrangling_spark.operators.itemsets import item_affinity

    rows = [
        (1, "a"), (1, "b"), (2, "a"), (2, "b"),
        (3, "a"), (3, "c"), (4, "b"), (4, "c"),
    ]
    df = spark.createDataFrame(rows, "b long, i string")
    got = {
        (r.item_a, r.item_b): (r.n_ab, r.n_a, r.n_b, r.affinity_ppm)
        for r in item_affinity(
            df, basket_col="b", item_col="i",
            min_item_support=1, min_pair_support=1,
            max_items_per_basket=8,
        ).collect()
    }
    assert got == {
        ("a", "b"): (2, 3, 3, 444444),
        ("a", "c"): (1, 3, 2, 166666),
        ("b", "c"): (1, 3, 2, 166666),
    }
    kept = item_affinity(
        df, basket_col="b", item_col="i",
        min_item_support=1, min_pair_support=1,
        max_items_per_basket=8, min_affinity_ppm=400_000,
    ).collect()
    assert {(r.item_a, r.item_b) for r in kept} == {("a", "b")}
    with pytest.raises(ValueError, match="min_affinity_ppm"):
        item_affinity(
            df, basket_col="b", item_col="i",
            min_item_support=1, min_pair_support=1,
            max_items_per_basket=8, min_affinity_ppm=-1,
        )


def test_seasonal_mase_hand_computed(spark):
    """Series 10,20,10,20,10,20 at period 2: every seasonal error is 0
    while every one-step error is 10000 milli-units -> mase_milli 0.
    The same series at period 1 IS the naive forecast -> 1000.  A
    constant series has zero denominator -> NULL.  A series shorter
    than period+1 scores nothing -> n_scored 0, NULL."""
    from dp1_data_wrangling_spark.operators.timeseries import seasonal_mase

    rows = [("s", t, float(10 if t % 2 == 0 else 20)) for t in range(6)]
    rows += [("c", t, 5.0) for t in range(4)]
    rows += [("short", 0, 1.0), ("short", 1, 2.0)]
    df = spark.createDataFrame(rows, "k string, ts long, v double")
    got = {
        r.k: (r.n_scored, r.sum_abs_err, r.sum_abs_naive, r.mase_milli)
        for r in seasonal_mase(
            df, key_cols=["k"], ts_col="ts", value_col="v",
            period=2, tie_cols=["ts"],
        ).collect()
    }
    assert got["s"] == (4, 0, 40000, 0)
    assert got["c"] == (2, 0, 0, None)
    assert got["short"] == (0, 0, 0, None)
    p1 = {
        r.k: r.mase_milli
        for r in seasonal_mase(
            df.filter("k = 's'"), key_cols=["k"], ts_col="ts",
            value_col="v", period=1, tie_cols=["ts"],
        ).collect()
    }
    assert p1["s"] == 1000
    with pytest.raises(ValueError, match="period"):
        seasonal_mase(
            df, key_cols=["k"], ts_col="ts", value_col="v", period=0
        )
    with pytest.raises(ValueError, match="key_cols"):
        seasonal_mase(
            df, key_cols=[], ts_col="ts", value_col="v", period=1
        )


def test_grid_hotspots_hand_computed(spark):
    """9 points in cell (0,0), 1 in (1,0), 3 in (5,5): cell (0,0)'s
    neighborhood holds 10 -> concentration 9000*9//10 = 8100; (1,0)
    fails min_count; the isolated (5,5) block is its own neighborhood
    -> exactly 9000.  Empty cells never emit; bad knobs raise."""
    from dp1_data_wrangling_spark.operators.spatial import grid_hotspots

    pts = (
        [(i, i) for i in range(9)]          # cell (0,0) with cell=10
        + [(12, 3)]                          # cell (1,0)
        + [(55, 55), (56, 57), (58, 55)]     # cell (5,5), isolated
    )
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r.cell_x, r.cell_y): (r.n, r.n_neigh, r.concentration_milli)
        for r in grid_hotspots(
            df, x_col="x", y_col="y", cell=10, min_count=3
        ).collect()
    }
    assert got == {
        (0, 0): (9, 10, 8100),
        (5, 5): (3, 3, 9000),
    }
    # r11 review fix: TRUE floor division — signed coordinates must not
    # merge the cells either side of the origin (plain div truncates
    # -30 div 50 to 0; floor puts it in cell -1, like SQL //)
    neg = spark.createDataFrame(
        [(-30, 5), (-20, 5), (-10, 5), (30, 5), (20, 5), (10, 5)],
        "x long, y long",
    )
    gneg = {
        (r.cell_x, r.cell_y): r.n
        for r in grid_hotspots(
            neg, x_col="x", y_col="y", cell=50, min_count=1
        ).collect()
    }
    assert gneg == {(-1, 0): 3, (0, 0): 3}
    with pytest.raises(ValueError, match="cell"):
        grid_hotspots(df, x_col="x", y_col="y", cell=0)
    with pytest.raises(ValueError, match="min_count"):
        grid_hotspots(df, x_col="x", y_col="y", cell=10, min_count=0)


def test_ab_contingency_hand_computed(spark):
    """Table a=40,b=60,c=55,d=45 (N=200): chi2 = N(ad-bc)^2/((a+b)(c+d)
    (a+c)(b+d)) = 200*(1800-3300)^2*1000 // (100*100*95*105) =
    4511278 milli... divided: exact Python replay asserted.  Degenerate
    margins yield NULL; a bad arm raises executor-side."""
    from dp1_data_wrangling_spark.operators.stats import ab_contingency

    rows = (
        [("g", 0, True)] * 40 + [("g", 0, False)] * 60
        + [("g", 1, True)] * 55 + [("g", 1, False)] * 45
    )
    df = spark.createDataFrame(rows, "g string, arm int, conv boolean")
    [r] = ab_contingency(
        df, arm_col="arm", outcome_col="conv", group_cols=["g"]
    ).collect()
    a, b, c, d = 40, 60, 55, 45
    want = (1000 * 200 * (a * d - b * c) ** 2) // (
        (a + b) * (c + d) * (a + c) * (b + d)
    )
    assert (r.a, r.b, r.c, r.d) == (a, b, c, d)
    assert r.rate_ctl_milli == 400 and r.rate_trt_milli == 550
    assert r.chi2_milli == want
    # all units in one arm: chi2 NULL, the other rate NULL
    one_arm = spark.createDataFrame(
        [("g", 0, True), ("g", 0, False)], "g string, arm int, conv boolean"
    )
    [r2] = ab_contingency(
        one_arm, arm_col="arm", outcome_col="conv", group_cols=["g"]
    ).collect()
    assert r2.chi2_milli is None and r2.rate_trt_milli is None
    bad = spark.createDataFrame(
        [("g", 2, True)], "g string, arm int, conv boolean"
    )
    with pytest.raises(Exception, match="ab_contingency"):
        ab_contingency(
            bad, arm_col="arm", outcome_col="conv", group_cols=["g"]
        ).collect()
    with pytest.raises(ValueError, match="group_cols"):
        ab_contingency(df, arm_col="arm", outcome_col="conv", group_cols=[])


def test_ab_contingency_envelope_guard_fires(spark):
    """r11 review fix: a table whose chi-square numerator would
    overflow DECIMAL(38,0) raises executor-side instead of silently
    reading NULL (which the contract reserves for degenerate margins).
    12M units split a=d=6M, b=c=0 give 1000*N*(ad)^2 ~ 1.6e37 > 1e37;
    the same shape at 1M units stays inside and computes."""
    from dp1_data_wrangling_spark.operators.stats import ab_contingency

    def units(n):
        return spark.range(n).select(
            F.lit("g").alias("g"),
            (F.col("id") % 2).cast("int").alias("arm"),
            (F.col("id") % 2 == 0).alias("conv"),
        )

    with pytest.raises(Exception, match="ab_contingency"):
        ab_contingency(
            units(12_000_000), arm_col="arm", outcome_col="conv",
            group_cols=["g"],
        ).collect()
    [ok] = ab_contingency(
        units(1_000_000), arm_col="arm", outcome_col="conv",
        group_cols=["g"],
    ).collect()
    a = d = 500_000
    n = 1_000_000
    want = (1000 * n * (a * d) ** 2) // ((a) * (d) * (a) * (d))
    assert ok.chi2_milli == want == 1000 * n


# ---------------------------------------------------------------------------
# Kaplan-Meier survival (operators/survival.py)
# ---------------------------------------------------------------------------


def test_km_survival_hand_computed(spark):
    """Group a: 5 subjects — (1,event),(1,censored),(2,event),
    (3,censored),(3,event).  KM: t=1 nr=5 d=1 s=1e9*4//5=8e8; t=2 nr=3
    d=1 s=8e8*2//3=533333333; t=3 nr=2 d=1 s=//2=266666666 (events
    processed before censorings at the same t).  Group b exercises the
    no-event step (survival unchanged) and duration 0."""
    from dp1_data_wrangling_spark.operators.survival import km_survival

    data = [
        ("a", 1, 1), ("a", 1, 0), ("a", 2, 1), ("a", 3, 0), ("a", 3, 1),
        ("b", 0, 1), ("b", 5, 0),
    ]
    df = spark.createDataFrame(data, "g string, dur int, ev int")
    rows = (
        km_survival(df, duration_col="dur", event_col="ev", group_cols=["g"])
        .orderBy("g", "duration")
        .collect()
    )
    got = [
        (r.g, r.duration, r.n_risk, r.n_events, r.n_censored,
         r.survival_scaled)
        for r in rows
    ]
    assert got == [
        ("a", 1, 5, 1, 1, 800_000_000),
        ("a", 2, 3, 1, 0, 533_333_333),
        ("a", 3, 2, 1, 1, 266_666_666),
        ("b", 0, 2, 1, 0, 500_000_000),
        ("b", 5, 1, 0, 1, 500_000_000),
    ]


def test_km_survival_matches_python_replay(spark):
    """120 deterministic subjects, ungrouped: the operator equals an
    independent pure-Python-int KM fold at every census row, and the
    survival level is monotone nonincreasing."""
    from dp1_data_wrangling_spark.operators.survival import km_survival

    subj = [((7 * i * i + 3) % 17, (i * 5 + 1) % 3 == 0) for i in range(120)]
    df = spark.createDataFrame(
        [(d, int(e)) for d, e in subj], "dur int, ev int"
    )
    rows = (
        km_survival(df, duration_col="dur", event_col="ev")
        .orderBy("duration")
        .collect()
    )
    # independent replay in Python ints
    census: dict[int, list[int]] = {}
    for d, e in subj:
        c = census.setdefault(d, [0, 0])
        c[0] += int(e)
        c[1] += int(not e)
    rem, s, want = len(subj), 10**9, []
    for t in sorted(census):
        d, c = census[t]
        if d > 0:
            s = s * (rem - d) // rem
        want.append((t, rem, d, c, s))
        rem -= d + c
    got = [
        (r.duration, r.n_risk, r.n_events, r.n_censored, r.survival_scaled)
        for r in rows
    ]
    assert got == want
    levels = [r.survival_scaled for r in rows]
    assert levels == sorted(levels, reverse=True)


def test_km_survival_validation_and_guards(spark):
    """Negative durations and non-0/1 event flags raise executor-side;
    scale/group-collision misuse raises at plan time; the scale*n_risk
    overflow guard fires instead of silently wrapping."""
    from dp1_data_wrangling_spark.operators.survival import km_survival

    ok = spark.createDataFrame([(1, 1)], "dur int, ev int")
    with pytest.raises(ValueError, match="scale"):
        km_survival(ok, duration_col="dur", event_col="ev", scale=0)
    with pytest.raises(ValueError, match="group column"):
        km_survival(
            ok, duration_col="dur", event_col="ev", group_cols=["dur"]
        )
    bad_dur = spark.createDataFrame([(-1, 1)], "dur int, ev int")
    with pytest.raises(Exception, match="negative duration"):
        km_survival(bad_dur, duration_col="dur", event_col="ev").collect()
    bad_ev = spark.createDataFrame([(1, 2)], "dur int, ev int")
    with pytest.raises(Exception, match="event flag"):
        km_survival(bad_ev, duration_col="dur", event_col="ev").collect()
    # n_cap = 2^62 // 2^61 = 2: two subjects in one group must raise
    two = spark.createDataFrame([(1, 1), (2, 0)], "dur int, ev int")
    with pytest.raises(Exception, match="overflow"):
        km_survival(
            two, duration_col="dur", event_col="ev", scale=1 << 61
        ).collect()


# ---------------------------------------------------------------------------
# Link prediction (operators/graph.py link_prediction)
# ---------------------------------------------------------------------------


def test_link_prediction_hand_computed(spark):
    """Diamond 1-2, 1-3, 2-3, 2-4, 3-4: the only non-adjacent pair is
    (1,4) with common neighbors {2,3}; N(1)={2,3}=N(4) so Jaccard is
    exactly 1e6 ppm, and both witnesses have degree 3 so the RA index
    is 2 * (1e6 div 3) = 666666 ppm.  Reversed/duplicate/self-loop
    edges canonicalize away first."""
    from dp1_data_wrangling_spark.operators.graph import link_prediction

    edges = spark.createDataFrame(
        [(1, 2), (3, 1), (2, 3), (2, 4), (4, 3), (2, 1), (3, 3)],
        "src int, dst int",
    )
    rows = link_prediction(edges).collect()
    assert [
        (r.a, r.b, r.common_neighbors, r.deg_a, r.deg_b, r.jaccard_ppm,
         r.ra_ppm)
        for r in rows
    ] == [(1, 4, 2, 2, 2, 1_000_000, 666_666)]


def test_link_prediction_hub_valve_removes_hub_edges(spark):
    """A degree-6 hub under max_degree=5 leaves the scored graph
    entirely: pairs whose only common neighbor is the hub vanish, and
    the surviving result equals link_prediction over the hub-stripped
    edge set (degrees consistently recomputed)."""
    from dp1_data_wrangling_spark.operators.graph import link_prediction

    base = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    hub = [(9, n) for n in (1, 2, 3, 4, 5, 6)]
    both = spark.createDataFrame(base + hub, "src int, dst int")
    stripped = spark.createDataFrame(base, "src int, dst int")
    got = sorted(
        tuple(r) for r in link_prediction(both, max_degree=5).collect()
    )
    want = sorted(tuple(r) for r in link_prediction(stripped).collect())
    assert got == want
    # without the valve the hub manufactures pairs like (5, 6)
    unvalved = link_prediction(both)
    assert unvalved.filter("a = 5 and b = 6").count() == 1


def test_link_prediction_min_common_and_validation(spark):
    """min_common prunes single-witness pairs; bad knobs raise."""
    import pytest as _pytest

    from dp1_data_wrangling_spark.operators.graph import link_prediction

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5)],
        "src int, dst int",
    )
    # (2,5)/(3,5) have exactly one common neighbor (4): pruned at 2
    got = {
        (r.a, r.b)
        for r in link_prediction(edges, min_common=2).collect()
    }
    assert got == {(1, 4)}
    with _pytest.raises(ValueError, match="min_common"):
        link_prediction(edges, min_common=0)
    with _pytest.raises(ValueError, match="max_degree"):
        link_prediction(edges, max_degree=0)


# ---------------------------------------------------------------------------
# Difference-in-differences (operators/stats.py diff_in_diff)
# ---------------------------------------------------------------------------


def test_diff_in_diff_hand_computed(spark):
    """Cells ctl_pre={1,2} ctl_post={2,4} trt_pre={1} trt_post={5.5,.5}
    give means 1500/3000/1000/3000 milli and did = (3000-1000) -
    (3000-1500) = 500.  A NULL value rides along and is excluded from
    both the cell count and sum."""
    from dp1_data_wrangling_spark.operators.stats import diff_in_diff

    rows = [
        ("g", 0, 0, 1.0), ("g", 0, 0, 2.0),
        ("g", 0, 1, 2.0), ("g", 0, 1, 4.0),
        ("g", 1, 0, 1.0),
        ("g", 1, 1, 5.5), ("g", 1, 1, 0.5), ("g", 1, 1, None),
    ]
    df = spark.createDataFrame(
        rows, "g string, arm int, period int, v double"
    )
    [r] = diff_in_diff(
        df, arm_col="arm", period_col="period", value_col="v",
        group_cols=["g"],
    ).collect()
    assert (r.n_ctl_pre, r.n_ctl_post, r.n_trt_pre, r.n_trt_post) == (
        2, 2, 1, 2,
    )
    assert (
        r.mean_ctl_pre_milli, r.mean_ctl_post_milli,
        r.mean_trt_pre_milli, r.mean_trt_post_milli,
    ) == (1500, 3000, 1000, 3000)
    assert r.did_milli == 500


def test_diff_in_diff_negative_truncation_and_empty_cell(spark):
    """Negative cell sums truncate toward zero (matching DuckDB `//`):
    vq {-1001, -2000} gives -3001 div 2 = -1500, not floor's -1501.
    An empty cell NULLs its mean and the effect."""
    from dp1_data_wrangling_spark.operators.stats import diff_in_diff

    rows = [
        ("g", 0, 0, -1.0005), ("g", 0, 0, -2.0),
        ("g", 0, 1, 1.0),
        ("g", 1, 1, 2.0),
    ]
    df = spark.createDataFrame(
        rows, "g string, arm int, period int, v double"
    )
    [r] = diff_in_diff(
        df, arm_col="arm", period_col="period", value_col="v",
        group_cols=["g"],
    ).collect()
    assert r.mean_ctl_pre_milli == -1500
    assert r.n_trt_pre == 0
    assert r.mean_trt_pre_milli is None and r.did_milli is None


def test_diff_in_diff_validation_and_guards(spark):
    """Arm/period outside {0,1} or NULL raise executor-side; bad knobs
    raise at plan time; the per-row quantization guard fires on values
    that would wrap 2^62."""
    from dp1_data_wrangling_spark.operators.stats import diff_in_diff

    ok = spark.createDataFrame(
        [("g", 0, 0, 1.0)], "g string, arm int, period int, v double"
    )
    with pytest.raises(ValueError, match="group_cols"):
        diff_in_diff(
            ok, arm_col="arm", period_col="period", value_col="v",
            group_cols=[],
        )
    with pytest.raises(ValueError, match="quant_scale"):
        diff_in_diff(
            ok, arm_col="arm", period_col="period", value_col="v",
            group_cols=["g"], quant_scale=0,
        )
    bad_arm = spark.createDataFrame(
        [("g", 2, 0, 1.0)], "g string, arm int, period int, v double"
    )
    with pytest.raises(Exception, match="diff_in_diff"):
        diff_in_diff(
            bad_arm, arm_col="arm", period_col="period", value_col="v",
            group_cols=["g"],
        ).collect()
    null_per = spark.createDataFrame(
        [("g", 0, None, 1.0)], "g string, arm int, period int, v double"
    )
    with pytest.raises(Exception, match="diff_in_diff"):
        diff_in_diff(
            null_per, arm_col="arm", period_col="period", value_col="v",
            group_cols=["g"],
        ).collect()
    huge = spark.createDataFrame(
        [("g", 0, 0, 1e19)], "g string, arm int, period int, v double"
    )
    with pytest.raises(Exception, match="overflow"):
        diff_in_diff(
            huge, arm_col="arm", period_col="period", value_col="v",
            group_cols=["g"],
        ).collect()


# ---------------------------------------------------------------------------
# RxC chi-square independence (operators/stats.py contingency_chi2)
# ---------------------------------------------------------------------------


def test_contingency_chi2_matches_python_replay(spark):
    """3x2 table with one ZERO-observed cell (z,b): the operator equals
    an independent Python-int replay of the per-cell truncated Pearson
    terms — including the missing cell's contribution, which dropping
    the zero cell would lose."""
    from dp1_data_wrangling_spark.operators.stats import contingency_chi2

    spec = [("x", "a", 5), ("x", "b", 15), ("y", "a", 20), ("y", "b", 10),
            ("z", "a", 8)]
    rows = [("g", r, c) for r, c, n in spec for _ in range(n)]
    df = spark.createDataFrame(rows, "g string, r string, c string")
    [got] = contingency_chi2(
        df, row_col="r", col_col="c", group_cols=["g"]
    ).collect()
    from collections import Counter

    O = Counter((r, c) for _, r, c in rows)
    R, C, N = Counter(), Counter(), 0
    for (r, c), o in O.items():
        R[r] += o
        C[c] += o
        N += o
    want = sum(
        (1000 * (O.get((r, c), 0) * N - R[r] * C[c]) ** 2)
        // (N * R[r] * C[c])
        for r in R
        for c in C
    )
    assert (got.n_row_cats, got.n_col_cats, got.n_units, got.df) == (
        3, 2, N, 2,
    )
    assert got.chi2_milli == want


def test_contingency_chi2_degenerate_and_validation(spark):
    """One column category -> df 0 -> NULL chi2; NULL categories raise
    executor-side; empty group_cols raises at plan time."""
    from dp1_data_wrangling_spark.operators.stats import contingency_chi2

    one_col = spark.createDataFrame(
        [("g", "x", "a"), ("g", "y", "a")], "g string, r string, c string"
    )
    [r] = contingency_chi2(
        one_col, row_col="r", col_col="c", group_cols=["g"]
    ).collect()
    assert r.df == 0 and r.chi2_milli is None
    with pytest.raises(ValueError, match="group_cols"):
        contingency_chi2(one_col, row_col="r", col_col="c", group_cols=[])
    null_cat = spark.createDataFrame(
        [("g", None, "a")], "g string, r string, c string"
    )
    with pytest.raises(Exception, match="contingency_chi2"):
        contingency_chi2(
            null_cat, row_col="r", col_col="c", group_cols=["g"]
        ).collect()


# ---------------------------------------------------------------------------
# Seasonal index profile (operators/timeseries.py seasonal_profile)
# ---------------------------------------------------------------------------


def test_seasonal_profile_hand_computed(spark):
    """Period 3, bucket 10µs: positions cycle 0,1,2.  Values planted so
    pos 0 holds {1.0, 3.0} (mean 2000 milli), pos 1 {2.0} and a NULL
    (excluded), pos 2 unobserved (absent row).  Overall sum 6000 over
    3 obs -> index(pos 0) = (1000*4000*3) div (2*6000) = 1000 exactly;
    index(pos 1) = (1000*2000*3) div (1*6000) = 1000."""
    from dp1_data_wrangling_spark.operators.timeseries import (
        seasonal_profile,
    )

    rows = [
        ("g", 0, 1.0), ("g", 30, 3.0),        # pos 0
        ("g", 10, 2.0), ("g", 40, None),      # pos 1 (+ excluded NULL)
    ]
    df = spark.createDataFrame(rows, "g string, ts_us long, v double")
    got = sorted(
        map(
            tuple,
            seasonal_profile(
                df, ts_col="ts_us", value_col="v", bucket_us=10,
                period=3, key_cols=["g"],
            ).collect(),
        )
    )
    assert got == [
        ("g", 0, 2, 2000, 1000),
        ("g", 1, 1, 2000, 1000),
    ]


def test_seasonal_profile_index_nulls_on_nonpositive_total(spark):
    """A key whose total milli sum is <= 0 gets NULL indices (a
    ratio-to-mean index needs a positive base) while the per-position
    means still report exactly."""
    from dp1_data_wrangling_spark.operators.timeseries import (
        seasonal_profile,
    )

    rows = [("g", 0, 1.0), ("g", 10, -1.0)]
    df = spark.createDataFrame(rows, "g string, ts_us long, v double")
    got = sorted(
        map(
            tuple,
            seasonal_profile(
                df, ts_col="ts_us", value_col="v", bucket_us=10,
                period=2, key_cols=["g"],
            ).collect(),
        )
    )
    assert got == [
        ("g", 0, 1, 1000, None),
        ("g", 1, 1, -1000, None),
    ]


def test_seasonal_profile_validation(spark):
    from dp1_data_wrangling_spark.operators.timeseries import (
        seasonal_profile,
    )

    df = spark.createDataFrame([("g", 0, 1.0)], "g string, ts_us long, v double")
    with pytest.raises(ValueError, match="bucket_us"):
        seasonal_profile(df, ts_col="ts_us", value_col="v", bucket_us=0,
                         period=2)
    with pytest.raises(ValueError, match="period"):
        seasonal_profile(df, ts_col="ts_us", value_col="v", bucket_us=10,
                         period=1)
    with pytest.raises(ValueError, match="quant_scale"):
        seasonal_profile(df, ts_col="ts_us", value_col="v", bucket_us=10,
                         period=2, quant_scale=0)
    huge = spark.createDataFrame([("g", 0, 1e19)], "g string, ts_us long, v double")
    with pytest.raises(Exception, match="overflow"):
        seasonal_profile(huge, ts_col="ts_us", value_col="v",
                         bucket_us=10, period=2).collect()


# ---------------------------------------------------------------------------
# Position-based attribution (operators/funnel.py position_attribution)
# ---------------------------------------------------------------------------


def test_position_attribution_hand_computed(spark):
    """value 1000 over 4 touches: edges get (1000*40) div 100 = 400
    each; pool 200 splits 100/100 across the two middles (no
    remainder).  value 1001 over 3: edges 400, pool 201 all to the one
    middle.  n=2: 500/500 + remainder to the earlier.  n=1: all."""
    from dp1_data_wrangling_spark.operators.funnel import (
        position_attribution,
    )

    rows = [
        # user 1: conversion 100 @ ts 1000 value 1.0, touches at 1..4
        (1, 1, "view", 100), (1, 2, "click", 200),
        (1, 3, "view", 300), (1, 4, "click", 400),
        (1, 100, "purchase", 1000),
        # user 2: 3 touches, value 1.001
        (2, 5, "view", 100), (2, 6, "click", 200), (2, 7, "view", 300),
        (2, 101, "purchase", 1000),
        # user 3: 2 touches, value 1.001 -> 1001 milli: 500 + 501
        (3, 8, "view", 100), (3, 9, "click", 200),
        (3, 102, "purchase", 1000),
        # user 4: 1 touch
        (4, 10, "view", 100), (4, 103, "purchase", 1000),
    ]
    vals = {100: 1000, 101: 1001, 102: 1001, 103: 777}
    df = spark.createDataFrame(
        [(u, i, t, ts, vals.get(i)) for u, i, t, ts in rows],
        "user_id long, event_id long, event_type string, ts_us long, "
        "value_milli long",
    )
    out = position_attribution(
        df, conversion_type="purchase", touch_types=["view", "click"],
        within_us=10_000,
    ).collect()
    got = {
        (r.conv_id, r.position): (r.n_touches, r.credit_milli) for r in out
    }
    assert got[(100, 1)] == (4, 400) and got[(100, 4)] == (4, 400)
    assert got[(100, 2)] == (4, 100) and got[(100, 3)] == (4, 100)
    assert got[(101, 1)] == (3, 400) and got[(101, 3)] == (3, 400)
    assert got[(101, 2)] == (3, 201)
    assert got[(102, 1)] == (2, 501) and got[(102, 2)] == (2, 500)
    assert got[(103, 1)] == (1, 777)


def test_position_attribution_credits_sum_exactly(spark):
    """Property: for 30 planted conversions with 1..9 touches and odd
    values, per-conversion credits sum EXACTLY to the conversion
    value."""
    from dp1_data_wrangling_spark.operators.funnel import (
        position_attribution,
    )

    rows, eid = [], 0
    for u in range(1, 31):
        n = 1 + (u * 7) % 9
        for j in range(n):
            eid += 1
            rows.append((u, eid, "view", 100 + j, None))
        eid += 1
        rows.append((u, eid, "purchase", 5000, 0.001 * ((u * 997) % 5000)))
    df = spark.createDataFrame(
        rows,
        "user_id long, event_id long, event_type string, ts_us long, v double",
    ).withColumn("value_milli", F.floor(F.col("v") * 1000).cast("bigint"))
    out = position_attribution(
        df, conversion_type="purchase", touch_types=["view"],
        within_us=10_000,
    )
    sums = {
        r.conv_id: r.s
        for r in out.groupBy("conv_id")
        .agg(F.sum("credit_milli").alias("s"))
        .collect()
    }
    want = {
        eid: int(0.001 * ((u * 997) % 5000) * 1000 + 1e-9)
        for u, eid in [
            (u, sum(2 + (v * 7) % 9 for v in range(1, u + 1)))
            for u in range(1, 31)
        ]
    }
    # recompute expected ids robustly instead: join via values
    total_out = sorted(sums.values())
    vals = sorted(int(((u * 997) % 5000)) for u in range(1, 31))
    assert total_out == vals


def test_position_attribution_validation(spark):
    from dp1_data_wrangling_spark.operators.funnel import (
        position_attribution,
    )

    df = spark.createDataFrame(
        [(1, 1, "view", 100, 1000)],
        "user_id long, event_id long, event_type string, ts_us long, "
        "value_milli long",
    )
    with pytest.raises(ValueError, match="within_us"):
        position_attribution(df, conversion_type="p", touch_types=["view"],
                             within_us=0)
    with pytest.raises(ValueError, match="touch_types"):
        position_attribution(df, conversion_type="p", touch_types=[],
                             within_us=10)
    with pytest.raises(ValueError, match="edge_pct"):
        position_attribution(df, conversion_type="p", touch_types=["view"],
                             within_us=10, edge_pct=60)
    huge = spark.createDataFrame(
        [(1, 1, "view", 100, 1 << 56), (1, 2, "p", 200, 1 << 56)],
        "user_id long, event_id long, event_type string, ts_us long, "
        "value_milli long",
    )
    with pytest.raises(Exception, match="position_attribution"):
        position_attribution(
            huge, conversion_type="p", touch_types=["view"], within_us=1000
        ).collect()


# ---------------------------------------------------------------------------
# Gap-rule throttling (operators/funnel.py throttle_events)
# ---------------------------------------------------------------------------


def test_throttle_events_hand_computed_and_chained(spark):
    """Key a, gap 100: events {0, 50, 120} chain into one burst (each
    successive gap <= 100, even though 120 - 0 > 100 — the CHAINED
    semantics) and 500 starts a new one.  Key b shows a sub-gap storm
    0,90,180,270 collapsing to one row of burst_len 4."""
    from dp1_data_wrangling_spark.operators.funnel import throttle_events

    rows = [("a", i, t) for i, t in [(1, 0), (2, 50), (3, 120), (4, 500)]]
    rows += [("b", i, t) for i, t in [(5, 0), (6, 90), (7, 180), (8, 270)]]
    df = spark.createDataFrame(rows, "k string, event_id long, ts_us long")
    got = sorted(
        (r.k, r.ts_us, r.burst_len, r.burst_end_us, r.event_id)
        for r in throttle_events(
            df, gap_us=100, key_cols=["k"], order_extra=["event_id"]
        ).collect()
    )
    assert got == [
        ("a", 0, 3, 120, 1),
        ("a", 500, 1, 500, 4),
        ("b", 0, 4, 270, 5),
    ]


def test_throttle_events_duplicate_ts_and_validation(spark):
    """Equal timestamps share a burst and the kept row is pinned by the
    order_extra tie-break; bad knobs raise."""
    from dp1_data_wrangling_spark.operators.funnel import throttle_events

    df = spark.createDataFrame(
        [("a", 9, 100), ("a", 3, 100), ("a", 7, 150)],
        "k string, event_id long, ts_us long",
    )
    [r] = throttle_events(
        df, gap_us=100, key_cols=["k"], order_extra=["event_id"]
    ).collect()
    assert (r.event_id, r.burst_len, r.burst_end_us) == (3, 3, 150)
    with pytest.raises(ValueError, match="key_cols"):
        throttle_events(df, gap_us=100, key_cols=[])
    with pytest.raises(ValueError, match="gap_us"):
        throttle_events(df, gap_us=0, key_cols=["k"])


# ---------------------------------------------------------------------------
# DAU/MAU stickiness (operators/stats.py dau_mau_stickiness)
# ---------------------------------------------------------------------------


def test_dau_mau_stickiness_hand_computed(spark):
    """Window 3 days.  Activity: u1 on days 0,2; u2 on days 0,1; u3 on
    day 2 (two events — census dedups).  dau = {0:2, 1:1, 2:2}.
    mau(0)={u1,u2}=2; mau(1)={u1,u2}=2; mau(2)={u1,u2,u3}=3 (u1's day-0
    activity still serves day 2, u2's day-1 too)."""
    from dp1_data_wrangling_spark.operators.stats import dau_mau_stickiness

    DAY = 86_400_000_000
    rows = [
        (1, 0), (1, 2 * DAY), (2, 10), (2, DAY + 5),
        (3, 2 * DAY + 1), (3, 2 * DAY + 2),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_us long")
    got = sorted(
        (r.day, r.dau, r.mau, r.stickiness_milli)
        for r in dau_mau_stickiness(df, window_days=3).collect()
    )
    assert got == [
        (0, 2, 2, 1000),
        (1, 1, 2, 500),
        (2, 2, 3, 666),
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="window_days"):
        dau_mau_stickiness(df, window_days=0)


def test_rank_sum_matches_python_replay(spark):
    """Mann-Whitney over seeded mixed-tie groups: 2U, AUC and the
    tie-corrected z² all replay an exact Python brute force over pairs
    (2U = Σ pairs [2·(a>b) + (a=b)]); one-armed groups NULL auc/z2,
    all-tied groups NULL z2 at AUC exactly 500, bad arms raise."""
    import random
    from collections import Counter, defaultdict

    from dp1_data_wrangling_spark.operators.stats import rank_sum_test

    random.seed(11)
    rows = []
    for g in ["x", "y", "z", "one_arm", "all_tie"]:
        for _ in range(random.randint(8, 40)):
            arm = 0 if g == "one_arm" else random.randint(0, 1)
            v = 5 if g == "all_tie" else random.randint(-9, 9)
            rows.append((g, arm, v))
    df = spark.createDataFrame(rows, "g string, arm int, v long")
    got = {
        r["g"]: r.asDict()
        for r in rank_sum_test(
            df, arm_col="arm", value_col="v", group_cols=["g"]
        ).collect()
    }
    by_g = defaultdict(list)
    for g, a, v in rows:
        by_g[g].append((a, v))
    assert set(got) == set(by_g)
    for g, obs in by_g.items():
        a_vals = [v for a, v in obs if a == 0]
        b_vals = [v for a, v in obs if a == 1]
        na, nb, n = len(a_vals), len(b_vals), len(obs)
        u2 = sum(
            2 if a > b else (1 if a == b else 0)
            for a in a_vals
            for b in b_vals
        )
        tie = sum(t**3 - t for t in Counter(v for _, v in obs).values())
        r = got[g]
        assert (r["n_a"], r["n_b"], r["u2_a"]) == (na, nb, u2), g
        assert r["auc_milli"] == (
            (1000 * u2) // (2 * na * nb) if na * nb else None
        ), g
        if na * nb and n > 1:
            var2 = (na * nb * ((n + 1) * n * (n - 1) - tie)) // (
                3 * n * (n - 1)
            )
            want_z2 = (
                (1000 * (u2 - na * nb) ** 2) // var2 if var2 > 0 else None
            )
        else:
            want_z2 = None
        assert r["z2_milli"] == want_z2, g
    assert got["all_tie"]["auc_milli"] == 500
    assert got["all_tie"]["z2_milli"] is None
    assert got["one_arm"]["z2_milli"] is None
    bad = spark.createDataFrame([("g", 2, 1)], "g string, arm int, v long")
    with pytest.raises(Exception, match="rank_sum_test"):
        rank_sum_test(
            bad, arm_col="arm", value_col="v", group_cols=["g"]
        ).collect()
    with pytest.raises(ValueError, match="group_cols"):
        rank_sum_test(df, arm_col="arm", value_col="v", group_cols=[])


def test_rank_sum_null_values_unranked(spark):
    """NULL metric values drop before ranking (the documented
    quantize-upstream contract): adding NULL-value rows changes
    nothing."""
    from dp1_data_wrangling_spark.operators.stats import rank_sum_test

    base = [("g", 0, 1), ("g", 0, 3), ("g", 1, 2), ("g", 1, 2)]
    with_nulls = base + [("g", 0, None), ("g", 1, None)]
    a = rank_sum_test(
        spark.createDataFrame(base, "g string, arm int, v long"),
        arm_col="arm", value_col="v", group_cols=["g"],
    ).collect()
    b = rank_sum_test(
        spark.createDataFrame(with_nulls, "g string, arm int, v long"),
        arm_col="arm", value_col="v", group_cols=["g"],
    ).collect()
    assert a == b
    [r] = a
    # ranks: 1, (2,3 tie -> rank2=5), 4 -> 2R_a = 2*1 + 2*4 = 10
    assert (r.n_a, r.n_b, r.u2_a) == (2, 2, 10 - 2 * 3)


def test_cohort_ltv_hand_computed(spark):
    """Two cohorts over three weeks: active counts, weekly revenue,
    running cumulative and per-user LTV all replay a hand computation;
    NULL-value activity marks users active at zero revenue; sparse ages
    are absent."""
    from dp1_data_wrangling_spark.operators.funnel import WEEK_US, cohort_ltv

    W = WEEK_US

    def ev(u, week, vq):
        return (u, week * W + 1000, vq)

    rows = [
        # cohort week 0: users 1, 2
        ev(1, 0, 500), ev(2, 0, None),         # wk0: rev 500, 2 active
        ev(1, 1, 250), ev(1, 1, 250),          # wk1: rev 500, 1 active
        ev(2, 2, 1000),                        # wk2: rev 1000, 1 active
        # cohort week 1: user 3 (gap at offset 1, returns offset 2)
        ev(3, 1, None),                        # wk0: rev 0
        ev(3, 3, 300),                         # offset 2: rev 300
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_us long, vq long")
    got = {
        (r.cohort_week, r.week_offset): r.asDict()
        for r in cohort_ltv(df).collect()
    }
    assert set(got) == {(0, 0), (0, 1), (0, 2), (1, 0), (1, 2)}
    c00, c01, c02 = got[(0, 0)], got[(0, 1)], got[(0, 2)]
    assert (c00["n_cohort_users"], c00["active_users"]) == (2, 2)
    assert (c00["revenue_milli"], c00["cum_revenue_milli"]) == (500, 500)
    assert c00["ltv_per_user_milli"] == 250
    assert (c01["active_users"], c01["revenue_milli"]) == (1, 500)
    assert (c01["cum_revenue_milli"], c01["ltv_per_user_milli"]) == (
        1000, 500,
    )
    assert (c02["revenue_milli"], c02["cum_revenue_milli"]) == (1000, 2000)
    assert c02["ltv_per_user_milli"] == 1000
    c10, c12 = got[(1, 0)], got[(1, 2)]
    assert (c10["n_cohort_users"], c10["revenue_milli"]) == (1, 0)
    assert c10["ltv_per_user_milli"] == 0
    # the gap week is absent; the cumulative at offset 2 includes it
    assert (c12["revenue_milli"], c12["cum_revenue_milli"]) == (300, 300)
    assert c12["ltv_per_user_milli"] == 300


def test_mann_kendall_matches_python_replay(spark):
    """MK S, tie-corrected 18·Var(S), continuity-corrected z² and the
    lower-median Theil-Sen slope all replay an exact Python brute force
    over ordered pairs (truncating per-pair slope division toward zero
    — the verified DuckDB // semantics); flat series read z²=0 at NULL
    slope-variance, single points emit NULL slope, duplicate time
    points raise."""
    import random
    from collections import Counter

    from dp1_data_wrangling_spark.operators.timeseries import mann_kendall

    random.seed(3)
    rows, series = [], {}
    for g in ["up", "down", "flat", "noisy", "single"]:
        n = 1 if g == "single" else random.randint(5, 25)
        ts = sorted(random.sample(range(100), n))
        ys = []
        for t in ts:
            y = {"up": t * 2 + random.randint(0, 1), "down": -3 * t,
                 "flat": 7}.get(g, random.randint(-5, 5))
            rows.append((g, t, y))
            ys.append((t, y))
        series[g] = ys
    df = spark.createDataFrame(rows, "g string, t long, y long")
    got = {
        r["g"]: r.asDict()
        for r in mann_kendall(
            df, key_cols=["g"], t_col="t", y_col="y"
        ).collect()
    }

    def trunc_div(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b > 0) else -q

    for g, ys in series.items():
        n = len(ys)
        pairs = [
            (ys[i], ys[j]) for i in range(n) for j in range(i + 1, n)
        ]
        s = sum(
            (1 if y2 > y1 else (-1 if y2 < y1 else 0))
            for (t1, y1), (t2, y2) in pairs
        )
        tie18 = sum(
            t * (t - 1) * (2 * t + 5)
            for t in Counter(y for _, y in ys).values()
        )
        var18 = n * (n - 1) * (2 * n + 5) - tie18
        slopes = sorted(
            trunc_div(1000 * (y2 - y1), t2 - t1)
            for (t1, y1), (t2, y2) in pairs
        )
        want_slope = slopes[(len(slopes) + 1) // 2 - 1] if slopes else None
        if s == 0:
            want_z2 = 0
        elif var18 > 0:
            want_z2 = (18000 * (abs(s) - 1) ** 2) // var18
        else:
            want_z2 = None
        r = got[g]
        assert (r["n_points"], r["s"], r["var18"]) == (n, s, var18), g
        assert r["slope_milli"] == want_slope, (g, r["slope_milli"])
        assert r["z2_milli"] == want_z2, (g, r["z2_milli"])
    assert got["flat"]["z2_milli"] == 0 and got["flat"]["var18"] == 0
    assert got["single"]["slope_milli"] is None
    dup = spark.createDataFrame(
        [("d", 1, 2), ("d", 1, 3)], "g string, t long, y long"
    )
    with pytest.raises(Exception, match="mann_kendall"):
        mann_kendall(dup, key_cols=["g"], t_col="t", y_col="y").collect()
    with pytest.raises(ValueError, match="key_cols"):
        mann_kendall(df, key_cols=[], t_col="t", y_col="y")


def test_benford_screen_matches_python_replay(spark):
    """Benford digit census, Pearson terms against the truncated
    log10(1+1/d) ppm constants, and the per-group chi² all replay an
    exact Python computation; the nine-digit grid is dense (zero cells
    present); zero/negative amounts raise."""
    import math
    import random
    from collections import Counter, defaultdict

    from dp1_data_wrangling_spark.operators.stats import (
        BENFORD_PPM,
        benford_screen,
    )

    for d, ppm in BENFORD_PPM.items():
        assert ppm == int(1_000_000 * math.log10(1 + 1 / d)), (d, ppm)
    random.seed(5)
    rows = []
    for g in ["natural", "skewed"]:
        for _ in range(300):
            v = (
                int(10 ** random.uniform(0, 5)) + 1
                if g == "natural"
                else random.randint(40_000, 49_999)  # all digit 4
            )
            rows.append((g, v))
    df = spark.createDataFrame(rows, "g string, v long")
    out = benford_screen(df, value_col="v", group_cols=["g"]).collect()
    assert len(out) == 18  # dense grid: 2 groups x 9 digits
    got = defaultdict(dict)
    for r in out:
        got[r["g"]][r["digit"]] = r.asDict()
    by_g = defaultdict(list)
    for g, v in rows:
        by_g[g].append(v)
    for g, vs in by_g.items():
        obs = Counter(int(str(v)[0]) for v in vs)
        n = len(vs)
        chi2 = 0
        for d in range(1, 10):
            ppm = BENFORD_PPM[d]
            dev = 1_000_000 * obs.get(d, 0) - n * ppm
            c = (1000 * dev * dev) // (1_000_000 * n * ppm)
            chi2 += c
            r = got[g][d]
            assert (
                r["n_obs"],
                r["n_total"],
                r["exp_ppm"],
                r["contrib_milli"],
            ) == (obs.get(d, 0), n, ppm, c), (g, d)
        for d in range(1, 10):
            assert got[g][d]["chi2_milli"] == chi2, (g, d)
    # the all-digit-4 group must read far less conformant
    assert (
        got["skewed"][4]["chi2_milli"] > 10 * got["natural"][1]["chi2_milli"]
    )
    bad = spark.createDataFrame([("g", 0)], "g string, v long")
    with pytest.raises(Exception, match="benford"):
        benford_screen(bad, value_col="v", group_cols=["g"]).collect()
    with pytest.raises(ValueError, match="group_cols"):
        benford_screen(df, value_col="v", group_cols=[])


def test_period_momentum_hand_computed(spark):
    """Add-one-smoothed growth ratios replay a hand computation; new
    entrants (n_pre=0) and dead keys (n_post=0) stay finite; the top-k
    cut orders (momentum DESC, key) deterministically; bad periods
    raise."""
    from dp1_data_wrangling_spark.operators.selection import period_momentum

    rows = (
        [("riser", 0)] * 2 + [("riser", 1)] * 11
        + [("flat", 0)] * 5 + [("flat", 1)] * 5
        + [("new", 1)] * 3
        + [("dead", 0)] * 4
    )
    df = spark.createDataFrame(rows, "k string, per int")
    got = {
        r.k: r.asDict()
        for r in period_momentum(
            df, key_cols=["k"], period_col="per"
        ).collect()
    }
    assert got["riser"]["momentum_ppm"] == (1_000_000 * 12) // 3
    assert got["flat"]["momentum_ppm"] == (1_000_000 * 6) // 6
    assert got["new"]["momentum_ppm"] == 1_000_000 * 4  # (3+1)/(0+1)
    assert got["dead"]["momentum_ppm"] == 1_000_000 // 5
    top = period_momentum(
        df, key_cols=["k"], period_col="per", k=2
    ).collect()
    # riser and new TIE at 4_000_000 ppm — the key tie-break decides
    assert [r.k for r in top] == ["new", "riser"]
    bad = spark.createDataFrame([("g", 2)], "k string, per int")
    with pytest.raises(Exception, match="period_momentum"):
        period_momentum(bad, key_cols=["k"], period_col="per").collect()
    with pytest.raises(ValueError, match="k must be"):
        period_momentum(df, key_cols=["k"], period_col="per", k=0)


def test_quality_survivors_hand_computed(spark):
    """Chain component {1,2,3} with qualities 5/9/9: survivor is id 2
    (max quality, min id among the 9-tie) — NOT the min id 1;
    singleton 7 survives; NULL quality raises executor-side."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from dp1_data_wrangling_spark.operators.components import (
        quality_survivors,
    )

    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (7, 1)], "doc_id long, quality long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    got = {
        r.doc_id: (r.component, r.quality, r.is_survivor)
        for r in quality_survivors(docs, pairs).collect()
    }
    assert got == {
        1: (1, 5, False),
        2: (1, 9, True),
        3: (1, 9, False),
        7: (7, 1, True),
    }

    nulls = spark.createDataFrame(
        [(1, None), (2, 9)], "doc_id long, quality long"
    )
    # match on Exception: the executor-side raise surfaces as
    # SparkRuntimeException on a single-task plan but can arrive as a
    # raw Py4JJavaError when sibling tasks are cancelled mid-raise
    with pytest.raises(Exception, match="quality_survivors"):
        quality_survivors(nulls, pairs).collect()


def test_df_drift_hand_computed(spark):
    """Reference 4 docs / current 2 docs: a term in 2 ref docs and 2
    cur docs reads rate ratio (2*4*1e6)//(2*2) = 2_000_000 ppm (the
    current RATE doubled); a cur-only term flags is_new with NULL
    ratio; a ref-only term flags is_gone; min_df prunes; an empty
    reference raises executor-side."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from dp1_data_wrangling_spark.operators.text import df_drift

    ref = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma"), (3, "beta"), (4, "beta")],
        "doc_id long, text string",
    )
    cur = spark.createDataFrame(
        [(10, "alpha newterm"), (11, "alpha newterm")],
        "doc_id long, text string",
    )
    got = {
        r.term: (r.df_ref, r.df_cur, r.rate_ratio_ppm, r.is_new, r.is_gone)
        for r in df_drift(ref, cur, min_df=2).collect()
    }
    assert got == {
        "alpha": (2, 2, 2_000_000, False, False),
        "beta": (3, 0, None, False, True),
        "newterm": (0, 2, None, True, False),
    }  # gamma pruned by min_df=2

    with pytest.raises(SparkRuntimeException, match="df_drift"):
        df_drift(ref.filter("doc_id < 0"), cur, min_df=1).collect()


def test_collocations_hand_computed(spark):
    """Corpus: 'x y' appears 3 times and x/y appear ONLY together (lift
    = n/1 per member product... verified by hand below); 'a b' appears
    3 times but a and b each appear 6 times as members (b a bigrams
    too), so its lift is lower; bigrams never cross documents; min
    support prunes singles."""
    from dp1_data_wrangling_spark.operators.text import collocations

    docs = spark.createDataFrame(
        [
            ("x y",), ("x y",), ("x y",),
            ("a b a b a b",),  # bigrams: ab,ba,ab,ba,ab -> ab x3, ba x2
            ("solo",),
        ],
        "text string",
    )
    got = {
        (r.w1, r.w2): (r.pair_count, r.w1_count, r.w2_count, r.lift_ppm)
        for r in collocations(docs, min_pair_count=3, k=10).collect()
    }
    # censuses: xy:3, ab:3, ba:2 -> N=8; members: x:3, y:3, a:3+2=5,
    # b:3+2=5 -> lift(xy) = 3*8*1e6 // 9 = 2_666_666;
    # lift(ab) = 3*8*1e6 // 25 = 960_000
    assert got == {
        ("x", "y"): (3, 3, 3, 2_666_666),
        ("a", "b"): (3, 5, 5, 960_000),
    }


def test_bounce_rate_hand_computed(spark):
    """User A: events at t=0 ('home'), t=10 ('buy') — one 2-event
    session landing on 'home'; then t=10_000 ('home') alone — a bounce.
    User B: single 'promo' event — a bounce.  Gap rule = 100us."""
    from dp1_data_wrangling_spark.operators.funnel import bounce_rate

    rows = [
        (1, 0, 100, "home"), (1, 10, 101, "buy"), (1, 10_000, 102, "home"),
        (2, 5, 200, "promo"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts_us long, event_id long, event_type string"
    )
    got = {
        r.landing_type: (r.n_sessions, r.n_bounces, r.bounce_ppm)
        for r in bounce_rate(df, gap_us=100).collect()
    }
    assert got == {
        "home": (2, 1, 500_000),
        "promo": (1, 1, 1_000_000),
    }


def test_simpson_concentration_hand_computed(spark):
    """Group g: categories a x3, b x1 (N=4): sum n(n-1) = 6, den = 12
    -> 500_000 ppm.  Group h: one row -> NULL (no pair).  Group u:
    uniform a/b (N=2): 0 ppm.  NULL items excluded."""
    from dp1_data_wrangling_spark.operators.stats import (
        simpson_concentration,
    )

    rows = [
        ("g", "a"), ("g", "a"), ("g", "a"), ("g", "b"), ("g", None),
        ("h", "a"),
        ("u", "a"), ("u", "b"),
    ]
    df = spark.createDataFrame(rows, "k string, item string")
    got = {
        r.k: (r.n_rows, r.n_categories, r.simpson_ppm)
        for r in simpson_concentration(
            df, item_col="item", group_cols=["k"]
        ).collect()
    }
    assert got == {
        "g": (4, 2, 500_000),
        "h": (1, 1, None),
        "u": (2, 2, 0),
    }


def test_corpus_ngram_overlap_hand_computed(spark):
    """ref = one doc 'a b c d e f' (two distinct 5-grams), cur = one
    doc sharing exactly the first window plus one novel window:
    shared = 1, cur grams = 2 -> 500_000 ppm both ways.  Empty cur ->
    NULL cur ratio, 0 shared."""
    from dp1_data_wrangling_spark.operators.decontam import (
        corpus_ngram_overlap,
    )

    ref = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    cur = spark.createDataFrame([(2, "a b c d e zz")], "doc_id long, text string")
    got = corpus_ngram_overlap(ref, cur, n=5).collect()[0]
    assert (
        got.n_ref_grams, got.n_cur_grams, got.n_shared,
        got.cur_in_ref_ppm, got.ref_in_cur_ppm,
    ) == (2, 2, 1, 500_000, 500_000)

    empty = corpus_ngram_overlap(
        ref, cur.filter("doc_id < 0"), n=5
    ).collect()[0]
    assert (empty.n_cur_grams, empty.n_shared, empty.cur_in_ref_ppm) == (
        0, 0, None,
    )
    assert empty.ref_in_cur_ppm == 0


# ---------------------------------------------------------------------------
# Round-13 governance/eval tier
# ---------------------------------------------------------------------------


def test_k_anonymity_census_and_report(spark):
    """Hand-built classes: sizes 1, 3 and 6 under k=5 -> two violating
    classes, 4 rows at risk; l-diversity flags the homogeneous class."""
    from dp1_data_wrangling_spark.operators.privacy import (
        anonymity_report,
        k_anonymity,
    )

    rows = (
        [("10001", "M", i, i % 3) for i in range(6)]       # size 6, 3 tiers
        + [("10002", "F", 100 + i, 7) for i in range(3)]   # size 3, 1 tier
        + [("10003", "M", 999, 1)]                          # size 1
    )
    df = spark.createDataFrame(rows, "zip string, sex string, uid long, tier long")
    census = {
        (r.zip, r.sex): (r.class_size, r.n_sensitive, r.k_violation, r.l_violation)
        for r in k_anonymity(
            df, quasi_cols=["zip", "sex"], sensitive_col="tier",
            k=5, l_div=2,
        ).collect()
    }
    assert census[("10001", "M")] == (6, 3, False, False)
    assert census[("10002", "F")] == (3, 1, True, True)
    assert census[("10003", "M")] == (1, 1, True, True)

    rep = anonymity_report(
        df, quasi_cols=["zip", "sex"], sensitive_col="tier", k=5, l_div=2
    ).collect()[0]
    assert (rep.n_rows, rep.n_classes, rep.min_class_size) == (10, 3, 1)
    assert (rep.n_k_violating_classes, rep.n_rows_at_risk) == (2, 4)
    assert rep.risk_ppm == 400_000
    assert rep.n_l_violating_classes == 2

    # NULL quasi values form their own class (GROUP BY semantics)
    with_null = df.union(
        spark.createDataFrame(
            [(None, "M", 1000, 0)], "zip string, sex string, uid long, tier long"
        )
    )
    c2 = k_anonymity(with_null, quasi_cols=["zip", "sex"], k=5)
    got = {(r.zip, r.sex): r.class_size for r in c2.collect()}
    assert got[(None, "M")] == 1

    import pytest as _pt

    with _pt.raises(ValueError):
        k_anonymity(df, quasi_cols=[], k=5)
    with _pt.raises(ValueError):
        k_anonymity(df, quasi_cols=["zip"], k=5, l_div=2)  # no sensitive


def test_fk_orphan_audit(spark):
    """Planted orphans + NULL FKs: counts and ppm are exact; a complete
    relation reads exactly zero."""
    from dp1_data_wrangling_spark.operators.expectations import (
        fk_orphan_audit,
    )

    dim = spark.createDataFrame([(i,) for i in range(10)], "pk long")
    fact = spark.createDataFrame(
        [(i % 14 if i % 5 else None,) for i in range(20)], "fk long"
    )
    # fks: i%5==0 -> NULL (4 rows: i=0,5,10,15); others i%14 -> orphans
    # where i%14 >= 10
    complete = spark.createDataFrame([(i % 10,) for i in range(20)], "fk long")
    out = {
        r.relation: (r.n_rows, r.n_null_fk, r.n_orphans, r.orphan_ppm)
        for r in fk_orphan_audit(
            [
                ("dirty", fact, "fk", dim, "pk"),
                ("clean", complete, "fk", dim, "pk"),
            ]
        ).collect()
    }
    n_null = sum(1 for i in range(20) if i % 5 == 0)
    orphans = sum(1 for i in range(20) if i % 5 != 0 and i % 14 >= 10)
    assert out["dirty"] == (
        20, n_null, orphans, orphans * 1_000_000 // (20 - n_null)
    )
    assert out["clean"] == (20, 0, 0, 0)

    import pytest as _pt

    with _pt.raises(ValueError):
        fk_orphan_audit([])
    with _pt.raises(ValueError):
        fk_orphan_audit(
            [("x", fact, "fk", dim, "pk"), ("x", fact, "fk", dim, "pk")]
        )


def test_vocab_growth_matches_brute_force(spark):
    """The (term, band) census fold equals the three-pass brute force on
    a corpus with a planted template band (vocabulary saturates)."""
    from dp1_data_wrangling_spark.operators.text import vocab_growth

    import re

    rows = []
    for i in range(200):
        # band-0 docs get rich vocab, later docs repeat a template
        if i % 100 < 10:
            rows.append((i, f"alpha beta w{i} w{i*7%50} gamma delta"))
        else:
            rows.append((i, "the same template text again and again"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.band: (
            r.n_docs, r.n_tokens, r.n_terms,
            r.tokens_growth_ppm, r.terms_growth_ppm, r.terms_per_mtoken,
        )
        for r in vocab_growth(docs, bands=(1, 10, 100)).collect()
    }

    def brute(b):
        sel = [(i, t) for i, t in rows if i % 100 < b]
        toks = [
            w
            for _, t in sel
            for w in re.split(r"\W+", t.lower())
            if w != ""
        ]
        return len(sel), len(toks), len(set(toks))

    prev = None
    for b in (1, 10, 100):
        nd, nt, nv = brute(b)
        exp_tok_g = nt * 1_000_000 // prev[1] if prev else None
        exp_term_g = nv * 1_000_000 // prev[2] if prev else None
        assert got[b] == (
            nd, nt, nv, exp_tok_g, exp_term_g,
            nv * 1_000_000 // nt if nt else None,
        ), f"band {b}"
        prev = (nd, nt, nv)
    # Heaps signature on the template corpus: vocabulary grows far
    # slower than tokens across the last decade
    assert got[100][4] < got[100][3]


def test_roc_curve_matches_sklearn_style_brute_force(spark):
    """Exact ROC points + trapezoid AUC vs a pure-python reference
    (including ties and the midrank identity), plus degenerate groups."""
    from dp1_data_wrangling_spark.operators.stats import roc_curve

    import random

    rng = random.Random(13)
    rows = []
    for i in range(400):
        s = rng.randrange(0, 40)  # heavy ties
        y = 1 if rng.randrange(100) < 20 + s else 0
        rows.append(("m1", s, y))
    rows += [("onepos", 5, 1), ("onepos", 7, 1)]  # N = 0 group
    df = spark.createDataFrame(rows, "model string, score long, label long")
    got = {}
    for r in roc_curve(
        df, score_col="score", label_col="label", group_cols=["model"]
    ).collect():
        got.setdefault(r.model, {})[r.score] = (
            r.cum_tp, r.cum_fp, r.tpr_ppm, r.fpr_ppm, r.auc_ppm
        )

    # brute force for m1
    m1 = [(s, y) for m, s, y in rows if m == "m1"]
    P = sum(y for _, y in m1)
    N = len(m1) - P
    scores = sorted({s for s, _ in m1}, reverse=True)
    cum_tp = cum_fp = 0
    prev_tp = prev_fp = 0
    s2 = 0
    for s in scores:
        cum_tp += sum(1 for sc, y in m1 if sc == s and y == 1)
        cum_fp += sum(1 for sc, y in m1 if sc == s and y == 0)
        s2 += (cum_fp - prev_fp) * (prev_tp + cum_tp)
        exp = (
            cum_tp, cum_fp,
            cum_tp * 1_000_000 // P, cum_fp * 1_000_000 // N, None,
        )
        assert got["m1"][s][:4] == exp[:4], f"score {s}"
        prev_tp, prev_fp = cum_tp, cum_fp
    auc = s2 * 1_000_000 // (2 * P * N)
    assert all(v[4] == auc for v in got["m1"].values())
    # the planted score-correlated labels must read above the diagonal
    assert auc > 500_000
    # midrank identity: trapezoid AUC == Mann-Whitney AUC (brute force)
    pos = [s for s, y in m1 if y == 1]
    neg = [s for s, y in m1 if y == 0]
    u2 = sum(
        2 * (1 if p > n else 0) + (1 if p == n else 0)
        for p in pos
        for n in neg
    )
    assert auc == u2 * 1_000_000 // (2 * P * N)

    # one-class group: NULL fpr/auc, exact tpr
    assert got["onepos"][7] == (1, 0, 500_000, None, None)
    assert got["onepos"][5] == (2, 0, 1_000_000, None, None)

    import pytest as _pt
    from py4j.protocol import Py4JJavaError

    bad = spark.createDataFrame([("m", 1, 2)], "model string, score long, label long")
    with _pt.raises(Exception) as exc:
        roc_curve(
            bad, score_col="score", label_col="label", group_cols=["model"]
        ).collect()
    assert "label must be 0/1" in str(exc.value)


def test_calibration_curve_matches_brute_force(spark):
    """Exact reliability bins + ECE vs a pure-python replay, including
    the well-calibrated and the over-confident group."""
    from dp1_data_wrangling_spark.operators.stats import calibration_curve

    import random

    rng = random.Random(7)
    rows = []
    for i in range(5000):
        pred = rng.randrange(0, 1_000_001)
        draw = rng.randrange(0, 1_000_000)
        # group "good" fires at the stated rate; "over" at half of it
        for grp, rate_div in (("good", 1), ("over", 2)):
            y = 1 if draw < pred // rate_div else 0
            rows.append((grp, pred, y, i))
    df = spark.createDataFrame(rows, "grp string, pred long, y long, i long")
    got = {}
    for r in calibration_curve(
        df, pred_ppm_col="pred", label_col="y", n_bins=10, group_cols=["grp"]
    ).collect():
        got.setdefault(r.grp, {})[r.bin] = (
            r.n, r.observed_ppm, r.predicted_ppm, r.ece_ppm
        )

    import collections

    for grp, rate_div in (("good", 1), ("over", 2)):
        bins = collections.defaultdict(lambda: [0, 0, 0])
        for g, pred, y, _ in rows:
            if g != grp:
                continue
            b = min(pred * 10 // 1_000_000, 9)
            bins[b][0] += 1
            bins[b][1] += y
            bins[b][2] += pred
        n_all = sum(v[0] for v in bins.values())
        dev = 0
        exp = {}
        for b, (n, sy, sp) in bins.items():
            obs = sy * 1_000_000 // n
            prd = sp // n
            exp[b] = (n, obs, prd)
            dev += n * abs(obs - prd)
        ece = dev // n_all
        for b, (n, obs, prd) in exp.items():
            assert got[grp][b] == (n, obs, prd, ece), (grp, b)
    # the over-confident group must carry the larger calibration error:
    # "over" fires at HALF the stated rate, so its true ECE ~ mean(pred)/2
    # ~ 250k ppm; "good" is calibrated up to ~sqrt(pq/500)-scale bin noise
    ece_good = next(iter(got["good"].values()))[3]
    ece_over = next(iter(got["over"].values()))[3]
    assert ece_over > 150_000 > ece_good

    import pytest as _pt

    bad = spark.createDataFrame([("g", 2_000_000, 1)], "grp string, pred long, y long")
    with _pt.raises(Exception) as exc:
        calibration_curve(
            bad, pred_ppm_col="pred", label_col="y", group_cols=["grp"]
        ).collect()
    assert "0..1000000 ppm" in str(exc.value)
    with _pt.raises(ValueError):
        calibration_curve(bad, pred_ppm_col="pred", label_col="y", n_bins=1)


def test_uplift_curve_matches_brute_force(spark):
    """Exact uplift/Qini points vs a pure-python replay — including a
    NEGATIVE-uplift group (truncation toward zero on negative
    numerators is where Spark div and DuckDB // diverge; the operator
    sign-splits) and the leading all-treatment NULL depth."""
    from dp1_data_wrangling_spark.operators.stats import uplift_curve

    import random

    rng = random.Random(23)
    rows = []
    for i in range(3000):
        s = rng.randrange(0, 30)
        a = rng.randrange(2)
        draw = rng.randrange(1000)
        # grp "win": treatment doubles the rate; "lose": halves it
        for grp, mult in (("win", 2), ("lose", 0)):
            rate = (10 + s * 20) * (mult if a else 1)
            rows.append((grp, s, a, 1 if draw < rate else 0))
    # a leading all-treatment score so n_c = 0 at the first depth
    rows.append(("win", 99, 1, 1))
    df = spark.createDataFrame(rows, "grp string, s long, a long, y long")
    got = {}
    for r in uplift_curve(
        df, arm_col="a", score_col="s", label_col="y", group_cols=["grp"]
    ).collect():
        got.setdefault(r.grp, {})[r.score] = (
            r.n_t, r.n_c, r.y_t, r.y_c, r.uplift_ppm, r.qini_inc
        )

    def tdiv(n, d):
        q = abs(n) // abs(d)
        return q if (n >= 0) == (d >= 0) else -q

    for grp in ("win", "lose"):
        pts = sorted(
            {s for g, s, _, _ in rows if g == grp}, reverse=True
        )
        nt = nc = yt = yc = 0
        for s in pts:
            for g, sc, a, y in rows:
                if g != grp or sc != s:
                    continue
                nt += a
                nc += 1 - a
                yt += a * y
                yc += (1 - a) * y
            up = (
                tdiv((yt * nc - yc * nt) * 1_000_000, nt * nc)
                if nt > 0 and nc > 0
                else None
            )
            qi = yt - tdiv(yc * nt, nc) if nc > 0 else None
            assert got[grp][s] == (nt, nc, yt, yc, up, qi), (grp, s)
    # planted effects must read through: positive uplift for "win",
    # negative for "lose", at full depth (score 0 row = all units)
    assert got["win"][0][4] > 100_000
    assert got["lose"][0][4] < -100_000
    # the all-treatment leading depth has no control rate to compare
    assert got["win"][99][4] is None and got["win"][99][5] is None


def test_profile_drift_hand_computed(spark):
    """Added/dropped columns, planted null regression and cardinality
    collapse all read through with exact ppm."""
    from dp1_data_wrangling_spark.operators.profile import profile_drift

    ref = spark.createDataFrame(
        [(i, f"t{i}", "en" if i % 2 else "de") for i in range(100)],
        "id long, txt string, lang string",
    )
    cur = spark.createDataFrame(
        [
            (i, None if i % 4 == 0 else f"t{i}", i % 3)
            for i in range(50)
        ],
        "id long, txt string, tier long",
    )
    got = {
        r.column_name: r.asDict()
        for r in profile_drift(ref, cur).collect()
    }
    assert set(got) == {"id", "txt", "lang", "tier"}
    assert got["lang"]["in_ref"] and not got["lang"]["in_cur"]
    assert not got["tier"]["in_ref"] and got["tier"]["in_cur"]
    assert got["tier"]["null_ppm_ref"] is None
    t = got["txt"]
    assert (t["n_rows_ref"], t["n_rows_cur"]) == (100, 50)
    assert t["null_ppm_ref"] == 0
    assert t["null_ppm_cur"] == 13 * 1_000_000 // 50  # i%4==0 -> 13 of 50
    assert t["null_shift_ppm"] == t["null_ppm_cur"]
    assert t["n_distinct_ref"] == 100 and t["n_distinct_cur"] == 37
    assert t["distinct_ratio_ppm"] == 37 * 1_000_000 // 100
    i = got["id"]
    assert i["distinct_ratio_ppm"] == 500_000


def test_classification_report_matches_brute_force(spark):
    """Per-(group, class) tp/fp/fn and exact ppm rates vs a pure-python
    replay — including a class that is never predicted (precision NULL)
    and a class that only appears as a prediction (recall NULL)."""
    from dp1_data_wrangling_spark.operators.agreement import (
        classification_report,
    )

    import random

    rng = random.Random(7)
    classes = ["a", "b", "c", "d"]
    rows = []
    for g in ("g1", "g2"):
        for _ in range(500):
            actual = classes[rng.randrange(3)]  # 'd' never actual in g1
            pred = classes[rng.randrange(4)] if g == "g2" else (
                # g1: 'a' is never predicted (precision NULL for 'a'),
                # 'd' only ever predicted (recall NULL for 'd')
                classes[1 + rng.randrange(3)]
            )
            rows.append((g, actual, pred))
    df = spark.createDataFrame(rows, "grp string, y string, p string")
    got = {
        (r.grp, r.label_class): (
            r.tp, r.fp, r.fn, r.support,
            r.precision_ppm, r.recall_ppm, r.f1_ppm,
        )
        for r in classification_report(
            df, actual_col="y", predicted_col="p", group_cols=["grp"]
        ).collect()
    }
    for g in ("g1", "g2"):
        sub = [(a, p) for gg, a, p in rows if gg == g]
        cls = sorted({a for a, _ in sub} | {p for _, p in sub})
        for c in cls:
            tp = sum(1 for a, p in sub if a == c and p == c)
            fp = sum(1 for a, p in sub if p == c and a != c)
            fn = sum(1 for a, p in sub if a == c and p != c)
            prec = tp * 1_000_000 // (tp + fp) if tp + fp else None
            rec = tp * 1_000_000 // (tp + fn) if tp + fn else None
            f1 = (
                2 * tp * 1_000_000 // (2 * tp + fp + fn)
                if 2 * tp + fp + fn
                else None
            )
            assert got[(g, c)] == (tp, fp, fn, tp + fn, prec, rec, f1), (
                g, c,
            )
        # exactly the union-of-sides class set, nothing else
        assert {k[1] for k in got if k[0] == g} == set(cls)
    assert got[("g1", "a")][4] is None  # never predicted
    assert got[("g1", "d")][5] is None  # never actual


def test_classification_report_validation(spark):
    from dp1_data_wrangling_spark.operators.agreement import (
        classification_report,
        confusion_census,
    )

    import pytest as _pt

    df = spark.createDataFrame(
        [("g", "a", None)], "grp string, y string, p string"
    )
    with _pt.raises(Exception) as exc:
        classification_report(
            df, actual_col="y", predicted_col="p", group_cols=["grp"]
        ).collect()
    assert "NULL p" in str(exc.value)
    with _pt.raises(ValueError):
        confusion_census(df, actual_col="y", predicted_col="p", group_cols=[])
    with _pt.raises(ValueError):
        confusion_census(
            df, actual_col="y", predicted_col="p", group_cols=["y"]
        )


def test_cohens_kappa_matches_brute_force(spark):
    """Exact kappa vs a pure-python integer replay — including a
    worse-than-chance group (negative kappa: the sign-split division)
    and a degenerate both-raters-constant group (NULL, never faked)."""
    from dp1_data_wrangling_spark.operators.agreement import cohens_kappa

    import random

    rng = random.Random(11)
    rows = []
    for _ in range(600):
        a = rng.randrange(3)
        rows.append(("fair", str(a), str(a if rng.randrange(10) else (a + 1) % 3)))
        # adversarial: b avoids a's tier whenever it can
        rows.append(("bad", str(a), str((a + 1 + rng.randrange(2)) % 3)))
    rows += [("const", "x", "x")] * 50
    df = spark.createDataFrame(rows, "grp string, ra string, rb string")
    got = {
        r.grp: (r.n_items, r.n_agree, r.po_ppm, r.pe_ppm, r.kappa_ppm)
        for r in cohens_kappa(
            df, rater_a_col="ra", rater_b_col="rb", group_cols=["grp"]
        ).collect()
    }
    for g in ("fair", "bad", "const"):
        sub = [(a, b) for gg, a, b in rows if gg == g]
        n = len(sub)
        agree = sum(1 for a, b in sub if a == b)
        cls = {a for a, _ in sub} | {b for _, b in sub}
        s = sum(
            sum(1 for a, _ in sub if a == c) * sum(1 for _, b in sub if b == c)
            for c in cls
        )
        po = agree * 1_000_000 // n
        pe = s * 1_000_000 // (n * n)
        if n * n == s:
            kappa = None
        else:
            num, den = (n * agree - s) * 1_000_000, n * n - s
            kappa = num // den if num >= 0 else -((-num) // den)
        assert got[g] == (n, agree, po, pe, kappa), g
    assert got["bad"][4] < 0  # worse than chance reads negative
    assert got["const"][4] is None  # pe == 1: undefined, never faked


def test_post_strat_ate_hand_computed(spark):
    """Two strata with imbalanced assignment: the naive pooled diff
    mixes the baseline gap into the effect, the post-stratified fold
    removes it — hand numbers.  Empty-arm strata are excluded from the
    ATE (reported via n_strata_used), NULL values from sums and
    counts, and a NULL stratum is a real stratum."""
    from dp1_data_wrangling_spark.operators.stats import post_strat_ate

    rows = []
    # stratum "hi": baseline 100.0, true effect +10, 3:1 treated
    for i in range(40):
        arm = 1 if i % 4 else 0
        rows.append(("g", "hi", arm, 110.0 if arm else 100.0))
    # stratum "lo": baseline 10.0, true effect +10, 1:3 treated
    for i in range(40):
        arm = 0 if i % 4 else 1
        rows.append(("g", "lo", arm, 20.0 if arm else 10.0))
    # a stratum with no control rows: excluded from the ATE fold
    rows += [("g", "only_t", 1, 5.0)] * 3
    # NULL value rows drop from sum AND count; NULL stratum is real
    rows.append(("g", "hi", 1, None))
    rows += [("g", None, 1, 7.0), ("g", None, 0, 3.0)]
    df = spark.createDataFrame(
        rows, "grp string, s string, arm long, v double"
    )
    out = {
        r.grp: r.asDict()
        for r in post_strat_ate(
            df,
            arm_col="arm",
            stratum_col="s",
            value_col="v",
            group_cols=["grp"],
        ).collect()
    }["g"]
    assert out["n_strata"] == 4 and out["n_strata_used"] == 3
    assert out["n_trt"] == 30 + 10 + 3 + 1 and out["n_ctl"] == 10 + 30 + 1
    # per-stratum diffs are all +10000 milli (hi, lo) and +4000 (NULL
    # stratum: 7.0 - 3.0); weights 40, 40, 2
    assert out["ate_milli"] == (
        (40 * 10_000 + 40 * 10_000 + 2 * 4_000) // 82
    )
    # naive pooled: treated mean is dragged toward "hi", control toward
    # "lo" — the confounded readout must differ from the ATE
    s_t = 30 * 110_000 + 10 * 20_000 + 3 * 5_000 + 7_000
    s_c = 10 * 100_000 + 30 * 10_000 + 3_000
    assert out["naive_diff_milli"] == s_t // 44 - s_c // 41
    assert out["naive_diff_milli"] != out["ate_milli"]


def test_post_strat_ate_negative_and_validation(spark):
    """A negative effect truncates toward zero in both engines
    (sign-split), bad arms raise, empty group_cols raise."""
    from dp1_data_wrangling_spark.operators.stats import post_strat_ate

    import pytest as _pt

    rows = [("g", "s1", 1, 1.0)] * 3 + [("g", "s1", 0, 2.0)] * 2
    rows += [("g", "s2", 1, 0.5), ("g", "s2", 0, 0.75)]
    df = spark.createDataFrame(
        rows, "grp string, s string, arm long, v double"
    )
    out = post_strat_ate(
        df, arm_col="arm", stratum_col="s", value_col="v",
        group_cols=["grp"],
    ).collect()[0]
    # s1: diff -1000, w 5; s2: diff -250, w 2 -> -(5500 // 7) = -785
    assert out.ate_milli == -(5500 // 7)
    assert out.n_strata_used == 2

    bad = spark.createDataFrame([("g", "s", 2, 1.0)],
                                "grp string, s string, arm long, v double")
    with _pt.raises(Exception) as exc:
        post_strat_ate(
            bad, arm_col="arm", stratum_col="s", value_col="v",
            group_cols=["grp"],
        ).collect()
    assert "arm must be 0/1" in str(exc.value)
    with _pt.raises(ValueError):
        post_strat_ate(
            bad, arm_col="arm", stratum_col="s", value_col="v",
            group_cols=[],
        )
    with _pt.raises(ValueError):
        post_strat_ate(
            bad, arm_col="arm", stratum_col="s", value_col="v",
            group_cols=["grp"], quant_scale=0,
        )


def test_cuped_adjusted_ate_matches_brute_force(spark):
    """Exact theta / naive / CUPED readouts vs a pure-python integer
    replay — including a negative-effect group (sign-split), a
    constant-covariate group (NULL theta, naive still reports) and a
    one-armed group (both NULL)."""
    from dp1_data_wrangling_spark.operators.stats import cuped_adjusted_ate

    import random

    rng = random.Random(17)
    rows = []
    for i in range(800):
        base = rng.randrange(0, 200)  # the pre-period covariate signal
        arm = rng.randrange(2)
        for grp, eff in (("up", 40), ("down", -40)):
            y = base + (eff if arm else 0) + rng.randrange(0, 20)
            rows.append((grp, arm, float(y), float(base)))
    rows += [("flat", a % 2, float(a), 7.0) for a in range(20)]
    rows += [("onearm", 1, 5.0, 3.0), ("onearm", 1, 6.0, 4.0)]
    # NULL covariate rows drop from the pair population entirely
    rows.append(("up", 1, 9.9, None))
    df = spark.createDataFrame(rows, "grp string, arm long, y double, x double")
    got = {
        r.grp: (
            r.n_pairs, r.n_trt, r.n_ctl,
            r.theta_milli, r.naive_diff_milli, r.ate_cuped_milli,
        )
        for r in cuped_adjusted_ate(
            df, arm_col="arm", value_col="y", covariate_col="x",
            group_cols=["grp"],
        ).collect()
    }

    def tdiv(n, d):
        q = abs(n) // abs(d)
        return q if (n >= 0) == (d >= 0) else -q

    for grp in ("up", "down", "flat", "onearm"):
        pairs = [
            (a, int(round(y * 1000)), int(round(x * 1000)))
            for g, a, y, x in rows
            if g == grp and x is not None
        ]
        n = len(pairs)
        nt = sum(1 for a, _, _ in pairs if a == 1)
        nc = n - nt
        sy = sum(y for _, y, _ in pairs)
        sx = sum(x for _, _, x in pairs)
        sxy = sum(x * y for _, y, x in pairs)
        sxx = sum(x * x for _, _, x in pairs)
        tnum, tden = 1000 * (n * sxy - sx * sy), n * sxx - sx * sx
        theta = tdiv(tnum, tden) if tden > 0 else None
        if nt and nc:
            syt = sum(y for a, y, _ in pairs if a == 1)
            syc = sy - syt
            sxt = sum(x for a, _, x in pairs if a == 1)
            sxc = sx - sxt
            naive = tdiv(syt, nt) - tdiv(syc, nc)
            dx = tdiv(sxt, nt) - tdiv(sxc, nc)
            cuped = (
                naive - tdiv(theta * dx, 1000) if theta is not None else None
            )
        else:
            naive = cuped = None
        assert got[grp] == (n, nt, nc, theta, naive, cuped), grp
    # the planted effects and contracts read through
    assert got["up"][5] is not None and got["up"][5] > 30_000
    assert got["down"][5] < -30_000
    assert got["flat"][3] is None and got["flat"][4] is not None
    assert got["onearm"][4] is None and got["onearm"][5] is None
    # CUPED must not move the point estimate far from naive here
    # (randomized arms): the adjustment corrects finite-sample noise
    assert abs(got["up"][5] - got["up"][4]) < 20_000


def test_cuped_adjusted_ate_validation(spark):
    from dp1_data_wrangling_spark.operators.stats import cuped_adjusted_ate

    import pytest as _pt

    bad = spark.createDataFrame(
        [("g", 2, 1.0, 1.0)], "grp string, arm long, y double, x double"
    )
    with _pt.raises(Exception) as exc:
        cuped_adjusted_ate(
            bad, arm_col="arm", value_col="y", covariate_col="x",
            group_cols=["grp"],
        ).collect()
    assert "arm must be 0/1" in str(exc.value)
    with _pt.raises(ValueError):
        cuped_adjusted_ate(
            bad, arm_col="arm", value_col="y", covariate_col="x",
            group_cols=[],
        )
    with _pt.raises(ValueError):
        cuped_adjusted_ate(
            bad, arm_col="arm", value_col="y", covariate_col="x",
            group_cols=["grp"], quant_scale=0,
        )


def test_srm_check_matches_brute_force(spark):
    """Exact SRM chi-square vs a python-int replay — the collapsed
    two-cell Pearson identity chi2 = d^2/(n*p*q), a planted broken
    stratum flagging and a healthy one not, plus the validation
    contracts."""
    from dp1_data_wrangling_spark.operators.stats import srm_check

    import pytest as _pt

    rows = []
    # healthy: exact 60/40 at the designed 600k ppm; broken: 45/55
    rows += [("ok", 1)] * 600 + [("ok", 0)] * 400
    rows += [("broken", 1)] * 450 + [("broken", 0)] * 550
    df = spark.createDataFrame(rows, "grp string, arm long")
    got = {
        r.grp: (
            r.n_units, r.n_trt, r.n_ctl, r.observed_trt_ppm,
            r.expected_trt_ppm, r.srm_chi2_milli, r.srm_flag,
        )
        for r in srm_check(
            df, arm_col="arm", group_cols=["grp"],
            expected_trt_ppm=600_000,
        ).collect()
    }
    p, q, m = 600_000, 400_000, 1_000_000
    for grp, nt, n in (("ok", 600, 1000), ("broken", 450, 1000)):
        d = nt * m - n * p
        chi2 = (1000 * d * d) // (n * p * q)
        assert got[grp] == (
            n, nt, n - nt, nt * m // n, p, chi2, chi2 > 3841,
        ), grp
    assert got["ok"][6] is False and got["broken"][6] is True
    # classic check: chi2 = n*(obs-p)^2/(p*q) -> 1000*(0.15^2/0.24) ~ 93750
    assert got["broken"][5] == 93_750

    bad = spark.createDataFrame([("g", 2)], "grp string, arm long")
    with _pt.raises(Exception) as exc:
        srm_check(bad, arm_col="arm", group_cols=["grp"]).collect()
    assert "arm must be 0/1" in str(exc.value)
    with _pt.raises(ValueError):
        srm_check(bad, arm_col="arm", group_cols=[])
    with _pt.raises(ValueError):
        srm_check(bad, arm_col="arm", group_cols=["grp"], expected_trt_ppm=0)
    with _pt.raises(ValueError):
        srm_check(
            bad, arm_col="arm", group_cols=["grp"],
            expected_trt_ppm=1_000_000,
        )


def test_rrf_fuse_matches_brute_force(spark):
    """Exact RRF vs a python-int replay over three synthetic ranked
    lists — truncated reciprocals, missing-list convention, fused-score
    ties breaking by id, the top_n cut, and validation raises."""
    from dp1_data_wrangling_spark.operators.retrieval import rrf_fuse

    import pytest as _pt

    lists = [
        [(1, "a", 1), (1, "b", 2), (1, "c", 3), (2, "x", 1)],
        [(1, "b", 1), (1, "d", 2), (2, "x", 1), (2, "y", 2)],
        [(1, "c", 1), (1, "b", 2), (1, "e", 3), (2, "y", 1)],
    ]
    dfs = [
        spark.createDataFrame(rows, "query_id long, doc string, rank long")
        for rows in lists
    ]
    got = {
        (r.query_id, r.doc): (r.fused_rank, r.rrf_ppm, r.n_lists)
        for r in rrf_fuse(
            dfs, query_id_col="query_id", id_col="doc", rrf_k=60, top_n=3
        ).collect()
    }
    # python replay
    from collections import defaultdict

    acc = defaultdict(lambda: [0, 0])
    for rows in lists:
        for q, d, rk in rows:
            acc[(q, d)][0] += 1_000_000 // (60 + rk)
            acc[(q, d)][1] += 1
    want = {}
    for q in (1, 2):
        cands = sorted(
            ((k[1], v[0], v[1]) for k, v in acc.items() if k[0] == q),
            key=lambda t: (-t[1], t[0]),
        )[:3]
        for i, (d, s, n) in enumerate(cands, 1):
            want[(q, d)] = (i, s, n)
    assert got == want
    # 'b' appears on all three lists and must lead query 1
    assert got[(1, "b")][0] == 1 and got[(1, "b")][2] == 3
    with _pt.raises(ValueError):
        rrf_fuse([], query_id_col="query_id", id_col="doc")
    with _pt.raises(ValueError):
        rrf_fuse(dfs, query_id_col="query_id", id_col="doc", rrf_k=0)


def test_coverage_topk_hand_computed(spark):
    """Coverage ranking: distinct-terms-first, then matched tf, then id
    — and only documents sharing a query term are candidates."""
    from dp1_data_wrangling_spark.operators.retrieval import coverage_topk

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha alpha alpha"),
            (3, "beta"),
            (4, "delta only unrelated"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(7, "alpha beta")], "query_id long, query_text string"
    )
    got = [
        (r.rank, r.doc_id, r.n_terms, r.tf_sum)
        for r in coverage_topk(
            docs, queries, text_col="text", id_col="doc_id", k=10
        ).orderBy("rank").collect()
    ]
    # doc 1 covers both terms; doc 2 one term but tf 3; doc 3 one term
    # tf 1; doc 4 never matches (inverted-index prune)
    assert got == [(1, 1, 2, 2), (2, 2, 1, 3), (3, 3, 1, 1)]


def test_mrr_map_at_k_hand_computed(spark):
    """Binary-relevance eval battery against hand arithmetic: a
    mid-list first hit (rr truncation), the min(R, k) AP denominator,
    an R = 0 query (NULL ap/recall, rr 0) and a perfect first-rank
    hit.  Every value is an exact integer both engines would agree on
    by construction."""
    from dp1_data_wrangling_spark.operators.retrieval import mrr_map_at_k

    ranking = spark.createDataFrame(
        # q1: hits at ranks 2 and 4; q2: nothing relevant retrieved,
        # and its only label is zero-grade (R = 0); q3: hit at rank 1
        [(1, r, f"d{r}") for r in range(1, 6)]
        + [(2, r, f"e{r}") for r in range(1, 4)]
        + [(3, r, f"f{r}") for r in range(1, 6)],
        "query_id int, rank int, doc_id string",
    )
    labels = spark.createDataFrame(
        [
            (1, "d2", 1),
            (1, "d4", 2),
            (1, "d9", 1),  # relevant but never retrieved: R = 3
            (2, "e1", 0),  # zero grade only: R = 0
            (3, "f1", 3),  # R = 1 < k exercises min(R, k)
        ],
        "query_id int, doc_id string, rel int",
    )
    got = {
        r.query_id: (
            r.n_rel, r.n_hits, r.first_hit_rank,
            r.rr_ppm, r.ap_ppm, r.p_at_k_ppm, r.recall_ppm,
        )
        for r in mrr_map_at_k(ranking, labels, k=5).collect()
    }
    # q1: ap_sum = (1e6*1) div 2 + (1e6*2) div 4 = 1_000_000;
    #     ap = 1_000_000 div min(3, 5) = 333_333
    assert got[1] == (3, 2, 2, 500_000, 333_333, 400_000, 666_666)
    # q2: nothing to retrieve -> NULL ap/recall, rr reads 0
    assert got[2] == (0, 0, None, 0, None, 0, None)
    # q3: perfect first hit, R = 1 so AP = recall = 1
    assert got[3] == (1, 1, 1, 1_000_000, 1_000_000, 200_000, 1_000_000)


def test_mrr_map_at_k_validation(spark):
    from dp1_data_wrangling_spark.operators.retrieval import mrr_map_at_k

    df = spark.createDataFrame([(1, 1, "d")], "query_id int, rank int, doc_id string")
    lab = spark.createDataFrame([(1, "d", 1)], "query_id int, doc_id string, rel int")
    with pytest.raises(ValueError, match="k must be >= 1"):
        mrr_map_at_k(df, lab, k=0)


def test_degree_assortativity_hand_computed(spark):
    """A star is perfectly disassortative (r = -1) and a cycle is
    degree-regular (NULL) — with self-loops, parallel and reverse
    duplicates thrown in to exercise the canonicalization."""
    from dp1_data_wrangling_spark.operators.graph import degree_assortativity

    star = spark.createDataFrame(
        [("c", "l1"), ("c", "l2"), ("c", "l3"),
         ("l1", "c"),  # reverse duplicate
         ("c", "l1"),  # parallel duplicate
         ("c", "c")],  # self-loop
        "src string, dst string",
    )
    row = degree_assortativity(star).collect()[0]
    assert (row.n_nodes, row.n_edges, row.m_pairs) == (4, 3, 6)
    assert row.assortativity == -1.0
    cycle = spark.createDataFrame(
        [("a", "b"), ("b", "cc"), ("cc", "d"), ("d", "a")],
        "src string, dst string",
    )
    row = degree_assortativity(cycle).collect()[0]
    assert (row.n_nodes, row.n_edges, row.m_pairs) == (4, 4, 8)
    assert row.assortativity is None  # zero degree variance


def test_clustering_coefficient_hand_computed(spark):
    """A triangle with a pendant: the triangle's two pure members read
    cc = 1, the junction (deg 3, one closed pair of three) reads
    333_333 ppm, and the pendant leaf (deg 1) reads NULL."""
    from dp1_data_wrangling_spark.operators.graph import (
        clustering_coefficient,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "cc"), ("cc", "a"), ("a", "p"),
         ("b", "a"),  # reverse duplicate
         ("p", "p")],  # self-loop
        "src string, dst string",
    )
    got = {
        r.node: (r.deg, r.n_triangles, r.cc_ppm)
        for r in clustering_coefficient(edges).collect()
    }
    assert got["a"] == (3, 1, 333_333)
    assert got["b"] == (2, 1, 1_000_000)
    assert got["cc"] == (2, 1, 1_000_000)
    assert got["p"] == (1, 0, None)


def test_woe_iv_hand_computed(spark):
    """Two equal-width bins with hand-checked WOE/IV, a one-sided bin
    carrying NULL woe without contributing, and a one-class group
    reporting NULL everywhere."""
    from dp1_data_wrangling_spark.operators.stats import woe_iv

    rows = [
        # group "m": bin0 = {good 2, bad 1}, bin1 = {good 1, bad 2}
        # woe0 = ln 2, woe1 = -ln 2; iv = 2 * (1/3) * ln 2 = 0.462098
        ("m", 1.0, 1), ("m", 1.5, 1), ("m", 2.0, 0),
        ("m", 9.0, 0), ("m", 9.5, 1), ("m", 10.0, 0),
        # group "s": bin1 has zero bads -> NULL woe, excluded from iv
        ("s", 1.0, 1), ("s", 1.0, 0), ("s", 10.0, 1),
        # group "o": one-class (all good) -> NULL woe and NULL iv
        ("o", 1.0, 1), ("o", 10.0, 1),
    ]
    df = spark.createDataFrame(rows, "grp string, v double, y int")
    out = woe_iv(
        df, label_col="y", value_col="v", group_cols=["grp"],
        n_bins=2, quant_scale=100,
    )
    got = {
        (r.grp, r.bin): (r.lo_scaled, r.n_good, r.n_bad, r.woe, r.iv)
        for r in out.collect()
    }
    assert got[("m", 0)] == (100, 2, 1, 0.693147, 0.462098)
    assert got[("m", 1)] == (551, 1, 2, -0.693147, 0.462098)
    # "s": bin0 woe = ln((1*1)/(1*2)) = -ln 2; bin1 one-sided
    assert got[("s", 0)][3] == -0.693147
    assert got[("s", 1)][3] is None
    # iv only from bin0: (1*1 - 1*2)/(2*1) * -ln2 = 0.346574
    assert got[("s", 0)][4] == 0.346574 == got[("s", 1)][4]
    assert got[("o", 0)][3] is None and got[("o", 0)][4] is None


def test_woe_iv_validation(spark):
    from dp1_data_wrangling_spark.operators.stats import woe_iv

    df = spark.createDataFrame([(1.0, 1)], "v double, y int")
    with pytest.raises(ValueError, match="n_bins"):
        woe_iv(df, label_col="y", value_col="v", n_bins=1)
    with pytest.raises(ValueError, match="quant_scale"):
        woe_iv(df, label_col="y", value_col="v", quant_scale=0)
    bad = spark.createDataFrame([(1.0, 2)], "v double, y int")
    with pytest.raises(Exception, match="label must be 0/1"):
        woe_iv(bad, label_col="y", value_col="v").collect()


def test_binned_psi_hand_computed(spark):
    """Two-bin PSI against hand arithmetic, plus the one-sided-bin
    exclusion and the n_bins stamp fail-fast."""
    import math

    from dp1_data_wrangling_spark.operators.stats import binned_psi

    # ref: 3 low + 1 high; cur: 1 low + 3 high (a clean shift)
    ref = spark.createDataFrame(
        [(0.1,), (0.2,), (0.3,), (9.9,)], "v double"
    )
    cur = spark.createDataFrame(
        [(0.1,), (9.7,), (9.8,), (9.9,)], "v double"
    )
    out = {
        r.bin: (r.n_ref, r.n_cur, r.psi_term, r.n_bins_used, r.psi)
        for r in binned_psi(
            ref, cur, value_col="v", n_bins=2, quant_scale=10
        ).collect()
    }
    # x_ref: 1,2,3,99 -> lo=1, w=(98//2)+1=50; bins: 0,0,0,1
    # x_cur: 1,97,98,99 -> bins: 0,1,1,1
    t0 = (1 * 4 - 3 * 4) / (4 * 4) * math.log((1 * 4) / (3 * 4))
    t1 = (3 * 4 - 1 * 4) / (4 * 4) * math.log((3 * 4) / (1 * 4))
    assert out[0][:2] == (3, 1) and out[1][:2] == (1, 3)
    assert out[0][2] == round(t0, 6) and out[1][2] == round(t1, 6)
    assert out[0][3] == 2
    assert out[0][4] == round(t0 + t1, 6) == out[1][4]

    # a bin empty on one side is excluded, not epsilon-faked
    cur2 = spark.createDataFrame([(0.1,), (0.2,)], "v double")
    out2 = {
        r.bin: (r.psi_term, r.n_bins_used, r.psi)
        for r in binned_psi(
            ref, cur2, value_col="v", n_bins=2, quant_scale=10
        ).collect()
    }
    assert out2[1][0] is None and out2[0][1] == 1
    # psi = only bin0's term: (2*4 - 3*2)/(4*2) * ln((2*4)/(3*2))
    t = (2 * 4 - 3 * 2) / (4 * 2) * math.log((2 * 4) / (3 * 2))
    assert out2[0][2] == round(t, 6)


def test_nelson_aalen_hand_computed(spark):
    """Four-subject NA curve against hand arithmetic: per-duration term
    is (scale*d) div n_risk, cumulative in duration order; a
    censoring-only duration moves n_risk but adds a zero term."""
    from dp1_data_wrangling_spark.operators.survival import nelson_aalen

    df = spark.createDataFrame(
        [(1, 1), (1, 0), (2, 1), (3, 0)], "t long, e int"
    )
    out = {
        r.duration: (r.n_risk, r.n_events, r.n_censored, r.cumhaz_scaled)
        for r in nelson_aalen(df, duration_col="t", event_col="e").collect()
    }
    # t=1: 1e9*1//4 = 250_000_000; t=2: +1e9*1//2; t=3: censor only
    assert out[1] == (4, 1, 1, 250_000_000)
    assert out[2] == (2, 1, 0, 750_000_000)
    assert out[3] == (1, 0, 1, 750_000_000)


def test_nelson_aalen_validation(spark):
    from dp1_data_wrangling_spark.operators.survival import nelson_aalen

    neg = spark.createDataFrame([(-1, 1)], "t long, e int")
    with pytest.raises(Exception, match="negative duration"):
        nelson_aalen(neg, duration_col="t", event_col="e").collect()
    bad = spark.createDataFrame([(1, 2)], "t long, e int")
    with pytest.raises(Exception, match="event flag must be 0/1"):
        nelson_aalen(bad, duration_col="t", event_col="e").collect()
    with pytest.raises(ValueError, match="scale"):
        nelson_aalen(bad, duration_col="t", event_col="e", scale=0)


def test_log_rank_hand_computed(spark):
    """Two-arm four-subject case against hand ppm arithmetic, plus the
    degenerate one-armed and all-censored groups emitting NULL chi2."""
    from dp1_data_wrangling_spark.operators.survival import log_rank_test

    rows = [
        # group "g": arm0 {(1,ev),(3,cens)}, arm1 {(1,ev),(2,ev)}
        ("g", 0, 1, 1), ("g", 0, 3, 0), ("g", 1, 1, 1), ("g", 1, 2, 1),
        # group "one": single arm -> V=0 -> NULL
        ("one", 0, 1, 1), ("one", 0, 2, 1),
        # group "cens": both arms, no events -> V=0 -> NULL
        ("cens", 0, 5, 0), ("cens", 1, 7, 0),
    ]
    df = spark.createDataFrame(rows, "grp string, arm int, t long, e int")
    out = {
        r.grp: (r.n_a, r.n_b, r.o_a, r.e_a_ppm, r.v_ppm, r.chi2_milli)
        for r in log_rank_test(
            df, duration_col="t", event_col="e", arm_col="arm",
            group_cols=["grp"],
        ).collect()
    }
    # t=1: d=2,n=4: e=(1e6*2*2)//4=1_000_000, v=(1e6*2*2*2*2)//48=333_333
    # t=2: d=1,n=2: e=(1e6*1*1)//2=500_000,   v=(1e6*1*1*1*1)//4=250_000
    # S = 1e6*1 - 1_500_000 = -500_000
    # chi2 = (1000*S^2) // (1e6*583_333) = 25e13 // 583_333_000_000 = 428
    assert out["g"] == (2, 2, 1, 1_500_000, 583_333, 428)
    assert out["one"][5] is None
    assert out["cens"] == (1, 1, 0, 0, 0, None)


def test_log_rank_validation(spark):
    from dp1_data_wrangling_spark.operators.survival import log_rank_test

    bad = spark.createDataFrame([(2, 1, 1)], "arm int, t long, e int")
    with pytest.raises(Exception, match="arm must be 0/1"):
        log_rank_test(
            bad, duration_col="t", event_col="e", arm_col="arm",
            group_cols=[],
        ).collect()


def test_kruskal_wallis_matches_brute_force(spark):
    """Randomized three-arm case vs an independent Python midrank
    replay of all three stated truncations, plus the all-tied group
    (NULL tie-corrected H) and a single-arm group (H = 0)."""
    import random

    from dp1_data_wrangling_spark.operators.stats import kruskal_wallis

    random.seed(11)
    rows = [
        (
            f"g{i % 2}",
            ["a", "b", "c"][random.randint(0, 2)],
            random.randint(0, 40),
        )
        for i in range(600)
    ]
    # planted shift so g0 carries signal
    rows = [
        (g, a, v + (6 if a == "c" and g == "g0" else 0)) for g, a, v in rows
    ]
    rows += [("tied", "a", 5), ("tied", "b", 5), ("tied", "c", 5)]
    rows += [("mono", "a", 1), ("mono", "a", 2), ("mono", "a", 3)]
    df = spark.createDataFrame(rows, "grp string, arm string, v long")
    got = {
        r.grp: (r.n, r.n_arms, r.t3, r.h_milli, r.h_adj_milli, r.eps2_milli)
        for r in kruskal_wallis(
            df, arm_col="arm", value_col="v", group_cols=["grp"]
        ).collect()
    }

    def brute(g):
        sub = [(a, v) for gg, a, v in rows if gg == g]
        n = len(sub)
        cum, rank2, tmap = 0, {}, {}
        for v in sorted(set(v for _, v in sub)):
            t = sum(1 for _, vv in sub if vv == v)
            rank2[v], tmap[v] = 2 * cum + t + 1, t
            cum += t
        arms = sorted(set(a for a, _ in sub))
        s = 0
        for a in arms:
            nj = sum(1 for aa, _ in sub if aa == a)
            r2 = sum(rank2[v] for aa, v in sub if aa == a)
            s += (r2 * r2) // nj
        T = sum(t**3 - t for t in tmap.values())
        h = (1000 * max(0, 3 * s - 3 * n * (n + 1) * (n + 1))) // (
            n * (n + 1)
        )
        n3 = n**3 - n
        h_adj = (h * n3) // (n3 - T) if n3 - T > 0 else None
        k = len(arms)
        eps = None
        if n > k and h_adj is not None:
            en = h_adj - 1000 * (k - 1)
            eps = en // (n - k) if en >= 0 else -((-en) // (n - k))
        return (n, k, T, h, h_adj, eps)

    for g in ("g0", "g1", "tied", "mono"):
        assert got[g] == brute(g), g
    # the planted shift must dominate: g0's H well above g1's null H
    assert got["g0"][4] > 2 * got["g1"][4]
    assert got["tied"][4] is None  # all-tied: tie term kills the df
    assert got["mono"][3] == 0  # one arm: H is exactly 0


def test_kruskal_wallis_validation(spark):
    from dp1_data_wrangling_spark.operators.stats import kruskal_wallis

    with pytest.raises(ValueError, match="group_cols"):
        kruskal_wallis(
            spark.range(1), arm_col="id", value_col="id", group_cols=[]
        )
    bad = spark.createDataFrame(
        [("g", None, 1)], "grp string, arm string, v long"
    )
    with pytest.raises(Exception, match="arm must be non-NULL"):
        kruskal_wallis(
            bad, arm_col="arm", value_col="v", group_cols=["grp"]
        ).collect()


def test_spearman_hand_computed(spark):
    """Perfect monotone (rho=1 despite nonlinearity), perfect inverse
    (rho=-1), a tied-midrank case against pandas' average-rank Pearson,
    a constant column (NULL), and listwise NULL exclusion."""
    import pandas as pd

    from dp1_data_wrangling_spark.operators.stats import spearman_corr

    rows = (
        [("up", x, x * x * x) for x in range(1, 8)]
        + [("down", x, -3 * x + 100) for x in range(1, 8)]
        + [("flat", x, 7) for x in range(1, 8)]
        + [("ties", x, y) for x, y in
           [(1, 3), (1, 5), (2, 3), (2, 9), (5, 5), (5, 5), (6, 1)]]
        + [("nulls", 1, 10), ("nulls", 2, 20), ("nulls", 3, None),
           ("nulls", None, 40), ("nulls", 4, 40)]
    )
    df = spark.createDataFrame(rows, "grp string, x long, y long")
    got = {
        r.grp: (r.n, r.spearman)
        for r in spearman_corr(
            df, x_col="x", y_col="y", group_cols=["grp"]
        ).collect()
    }
    assert got["up"] == (7, 1.0)
    assert got["down"] == (7, -1.0)
    assert got["flat"][1] is None
    pdf = pd.DataFrame(
        [(x, y) for g, x, y in rows if g == "ties"], columns=["x", "y"]
    )
    exp = pdf["x"].rank(method="average").corr(pdf["y"].rank(method="average"))
    assert got["ties"] == (7, round(exp, 6))
    # NULL-bearing rows excluded BEFORE ranking: only the 3 complete rows
    assert got["nulls"][0] == 3


def test_cramers_v_hand_computed(spark):
    """Perfect 2x2 association gives V = 1.0; independence gives
    V = 0.0; a one-column-category group gives NULL (df = 0)."""
    from dp1_data_wrangling_spark.operators.stats import cramers_v

    rows = (
        # perfect: a<->x, b<->y (2 each)
        [("p", "a", "x")] * 2 + [("p", "b", "y")] * 2
        # independent 2x2 with equal cells
        + [("i", r, c) for r in ("a", "b") for c in ("x", "y")]
        # degenerate: one column category
        + [("d", "a", "x"), ("d", "b", "x")]
    )
    df = spark.createDataFrame(rows, "grp string, r string, c string")
    got = {
        r.grp: (r.chi2_milli, r.cramers_v)
        for r in cramers_v(
            df, row_col="r", col_col="c", group_cols=["grp"]
        ).collect()
    }
    assert got["p"] == (4000, 1.0)
    assert got["i"] == (0, 0.0)
    assert got["d"] == (None, None)


def test_readability_hand_computed(spark):
    """Hand-counted Flesch / FK-grade on two tiny corpora, the
    zero-sentence group emitting NULL scores, and NULL-text
    exclusion."""
    from dp1_data_wrangling_spark.operators.text import readability

    rows = [
        # "a": "The cat sat." -> w=3, s=1, y: e,a,a -> 3
        #      "It ran away!!" -> w=3, s=1 (one !! run), y: i,a,a,ay -> 4
        ("a", "The cat sat."),
        ("a", "It ran away!!"),
        # "b": no sentence punctuation at all -> NULL scores
        ("b", "just words no stops"),
        ("b", None),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {
        r.source: (
            r.n_docs, r.n_words, r.n_sentences, r.n_syllables,
            r.flesch_milli, r.fk_grade_milli,
        )
        for r in readability(df, group_cols=["source"]).collect()
    }
    w, s, y = 6, 2, 7
    flesch = 206835 - (1015 * w) // s - (84600 * y) // w
    grade = (390 * w) // s + (11800 * y) // w - 15590
    assert got["a"] == (2, w, s, y, flesch, grade)
    assert got["b"][0] == 1  # NULL text excluded from the census
    assert got["b"][4] is None and got["b"][5] is None


def test_cmh_test_matches_brute_force(spark):
    """Confounded stratified 2x2 design vs an independent Python replay
    of every ppm truncation: the stratum-baseline confounding that
    inflates a pooled naive rate gap must NOT inflate CMH, the null
    group's pooled odds ratio must read ~1, and single-arm strata
    contribute zero evidence."""
    import random

    from dp1_data_wrangling_spark.operators.stats import cmh_test

    random.seed(5)
    rows = []
    for i in range(2000):
        g, st = f"g{i % 2}", f"s{i % 4}"
        arm = 1 if random.random() < (0.8 if st in ("s0", "s1") else 0.2) else 0
        base = 0.6 if st in ("s0", "s1") else 0.2
        lift = 0.15 if (arm == 1 and g == "g0") else 0.0
        rows.append((g, st, arm, 1 if random.random() < base + lift else 0))
    # a one-armed stratum: v = 0, drops out of the evidence
    rows += [("g0", "solo", 1, 1), ("g0", "solo", 1, 0)]
    df = spark.createDataFrame(rows, "grp string, st string, arm int, y int")
    got = {
        r.grp: (r.n_strata, r.n_units, r.o_t, r.e_t_ppm, r.v_ppm,
                r.chi2_milli, r.or_milli)
        for r in cmh_test(
            df, arm_col="arm", outcome_col="y", stratum_col="st",
            group_cols=["grp"],
        ).collect()
    }

    def brute(g):
        from collections import defaultdict

        cells = defaultdict(lambda: [0, 0, 0, 0])
        for gg, st, arm, y in rows:
            if gg != g:
                continue
            i = 0 if (arm and y) else 1 if arm else 2 if y else 3
            cells[st][i] += 1
        oa = se = sv = sr = ss = nu = 0
        for a, b, c, d in cells.values():
            n = a + b + c + d
            nu += n
            oa += a
            if n > 0:
                se += (10**6 * (a + b) * (a + c)) // n
                sr += (10**6 * a * d) // n
                ss += (10**6 * b * c) // n
            if n > 1:
                sv += (10**6 * (a + b) * (c + d) * (a + c) * (b + d)) // (
                    n * n * (n - 1)
                )
        S = 10**6 * oa - se
        return (
            len(cells), nu, oa, se, sv,
            (1000 * S * S) // (10**6 * sv) if sv > 0 else None,
            (1000 * sr) // ss if ss > 0 else None,
        )

    for g in ("g0", "g1"):
        assert got[g] == brute(g), g
    # the planted lift carries the signal; the null group's OR ~ 1
    assert got["g0"][5] > 5 * got["g1"][5]
    assert abs(got["g1"][6] - 1000) < 400


def test_cmh_test_validation(spark):
    from dp1_data_wrangling_spark.operators.stats import cmh_test

    with pytest.raises(ValueError, match="group_cols"):
        cmh_test(
            spark.range(1), arm_col="id", outcome_col="id",
            stratum_col="id", group_cols=[],
        )
    bad = spark.createDataFrame(
        [("g", "s", 2, 1)], "grp string, st string, arm int, y int"
    )
    with pytest.raises(Exception, match="arm must be 0/1"):
        cmh_test(
            bad, arm_col="arm", outcome_col="y", stratum_col="st",
            group_cols=["grp"],
        ).collect()
    bad2 = spark.createDataFrame(
        [("g", "s", 1, 5)], "grp string, st string, arm int, y int"
    )
    with pytest.raises(Exception, match="outcome must be 0/1"):
        cmh_test(
            bad2, arm_col="arm", outcome_col="y", stratum_col="st",
            group_cols=["grp"],
        ).collect()


def test_oneway_anova_matches_brute_force(spark):
    """Randomized three-arm case vs an independent integer replay of
    the ppm truncations AND the classic float F formula (within 1e-2),
    plus the degenerate groups: all-constant (NULL F, NULL eta²) and
    one-armed (NULL F, eta² = 0)."""
    import random

    from dp1_data_wrangling_spark.operators.stats import oneway_anova

    random.seed(9)
    rows = []
    for i in range(900):
        g, arm = f"g{i % 2}", ["a", "b", "c"][i % 3]
        v = random.randint(0, 1000) + (300 if arm == "b" and g == "g0" else 0)
        rows.append((g, arm, v))
    rows += [("const", "a", 5), ("const", "a", 5), ("const", "b", 5)]
    rows += [("one", "a", 3), ("one", "a", 9)]
    df = spark.createDataFrame(rows, "grp string, arm string, v long")
    got = {
        r.grp: (r.n, r.n_arms, r.f_milli, r.eta2_ppm)
        for r in oneway_anova(
            df, arm_col="arm", value_col="v", group_cols=["grp"]
        ).collect()
    }

    def brute(g):
        sub = [(a, v) for gg, a, v in rows if gg == g]
        arms = sorted(set(a for a, _ in sub))
        k, n = len(arms), len(sub)
        S = sum(v for _, v in sub)
        SS = sum(v * v for _, v in sub)
        sq = 0
        for a in arms:
            vs = [v for aa, v in sub if aa == a]
            sq += (10**6 * sum(vs) * sum(vs)) // len(vs)
        ssb = max(0, sq - (10**6 * S * S) // n)
        ssw = 10**6 * SS - sq
        f = (
            (1000 * ssb * (n - k)) // (ssw * (k - 1))
            if k > 1 and n > k and ssw > 0
            else None
        )
        eta = (10**6 * ssb) // (ssb + ssw) if ssb + ssw > 0 else None
        return (n, k, f, eta)

    for g in ("g0", "g1", "const", "one"):
        assert got[g] == brute(g), g
    assert got["const"] == (3, 2, None, None)
    assert got["one"] == (2, 1, None, 0)
    # float cross-check: the exact-milli F within 1e-2 of textbook F
    for g in ("g0", "g1"):
        sub = [(a, v) for gg, a, v in rows if gg == g]
        arms = sorted(set(a for a, _ in sub))
        k, n = len(arms), len(sub)
        gm = sum(v for _, v in sub) / n
        means = {
            a: sum(v for aa, v in sub if aa == a)
            / len([v for aa, v in sub if aa == a])
            for a in arms
        }
        ssb = sum(
            len([v for aa, v in sub if aa == a]) * (means[a] - gm) ** 2
            for a in arms
        )
        ssw = sum((v - means[a]) ** 2 for a, v in sub)
        f_float = (ssb / (k - 1)) / (ssw / (n - k))
        assert abs(got[g][2] / 1000 - f_float) < 1e-2, g
    # the planted mean shift carries the signal
    assert got["g0"][2] > 10 * got["g1"][2]


def test_oneway_anova_validation(spark):
    from dp1_data_wrangling_spark.operators.stats import oneway_anova

    with pytest.raises(ValueError, match="group_cols"):
        oneway_anova(
            spark.range(1), arm_col="id", value_col="id", group_cols=[]
        )
    bad = spark.createDataFrame(
        [("g", None, 1)], "grp string, arm string, v long"
    )
    with pytest.raises(Exception, match="arm must be non-NULL"):
        oneway_anova(
            bad, arm_col="arm", value_col="v", group_cols=["grp"]
        ).collect()


def test_char_entropy_hand_computed(spark):
    """Entropy against math.log arithmetic on a hand-counted census,
    the uniform-alphabet efficiency = 1 case, the single-symbol group
    (entropy 0, NULL efficiency), and NULL-text exclusion."""
    import math

    from dp1_data_wrangling_spark.operators.text import char_entropy

    rows = [
        ("m", "aab"),        # census a:2, b:1
        ("u", "abcd"),       # uniform 4-symbol -> efficiency 1.0
        ("one", "aaaa"),     # single symbol -> H=0, efficiency NULL
        ("one", None),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {
        r.source: (r.n_chars, r.n_distinct_chars, r.entropy, r.efficiency)
        for r in char_entropy(df, group_cols=["source"]).collect()
    }
    # "m": H = ln3 - (2ln2 + 1ln1)/3
    h = math.log(3) - (2 * math.log(2)) / 3
    assert got["m"] == (3, 2, round(h, 6), round(h / math.log(2), 6))
    assert got["u"] == (4, 4, round(math.log(4), 6), 1.0)
    assert got["one"] == (4, 1, 0.0, None)


def test_vocab_gini_hand_computed(spark):
    """Gini against hand arithmetic: a perfectly uniform vocabulary
    reads 0, a concentrated one reads high, the single-term group
    reads NULL, and the tie-break ordering does not move the sum."""
    from dp1_data_wrangling_spark.operators.text import vocab_gini

    rows = [
        # "uni": a b c once each -> gini 0
        ("uni", "a b c"),
        # "conc": a x9, b c d once -> f sorted [1,1,1,9]
        ("conc", "a a a a a a a a a b c d"),
        # "one": single term
        ("one", "x x x"),
        ("one", None),
        # "tie": two terms with equal f -> sum invariant to their order
        ("tie", "p q p q"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {
        r.source: (r.n_terms, r.n_tokens, r.gini_ppm)
        for r in vocab_gini(df, group_cols=["source"]).collect()
    }
    assert got["uni"] == (3, 3, 0)
    # conc: V=4, T=12, s2if = 2*(1*1+2*1+3*1+4*9) = 84
    # gini = 1e6*(84 - 5*12) // (4*12) = 1e6*24 // 48 = 500000
    assert got["conc"] == (4, 12, 500_000)
    assert got["one"] == (1, 3, None)
    assert got["tie"] == (2, 4, 0)
