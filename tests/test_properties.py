"""Property-based tests (hypothesis) for the signature semantics
(SURVEY.md §5.2.3): find-first invariants and interval-overlap algebra on
*generated* inputs, not just the fixtures."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors.exceptions.captured import SparkRuntimeException
from pyspark.sql import functions as F

from dp1_data_wrangling_spark.operators.find_first import find_first
from dp1_data_wrangling_spark.operators.intervals import overlapping_pairs

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# (data_id, collection, tie) rows; collections run_0..run_3, chain holds 0..2
dataset_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),
        st.integers(min_value=0, max_value=3),
        st.integers(min_value=0, max_value=10_000),
    ),
    min_size=1,
    max_size=40,
)


@given(rows=dataset_rows)
@SETTINGS
def test_find_first_invariants(spark, rows):
    df = spark.createDataFrame(
        [(d, f"run_{c}", str(t)) for d, c, t in rows],
        "data_id int, run string, dataset_id string",
    )
    chain = spark.createDataFrame(
        [(f"run_{i}", i) for i in range(3)], "child string, position int"
    )
    out = find_first(df, chain, ["data_id"], collection_col="run").collect()

    in_chain = [(d, c, t) for d, c, t in rows if c < 3]
    # one row per data ID present in chain collections
    assert {r["data_id"] for r in out} == {d for d, _, _ in in_chain}
    assert len(out) == len({d for d, _, _ in in_chain})
    # each winner is the min (position, tie) row for its data ID, and a
    # genuine input row (result ⊆ input)
    for r in out:
        cands = [(c, str(t)) for d, c, t in in_chain if d == r["data_id"]]
        best = min(cands)
        assert (int(r["run"].removeprefix("run_")), r["dataset_id"]) == best
        assert (r["data_id"], int(r["run"].removeprefix("run_")), int(r["dataset_id"])) in rows


@given(rows=dataset_rows)
@SETTINGS
def test_find_first_calibration_bypass_keeps_chain_rows(spark, rows):
    df = spark.createDataFrame(
        [(d, f"run_{c}", str(t)) for d, c, t in rows],
        "data_id int, run string, dataset_id string",
    )
    chain = spark.createDataFrame(
        [(f"run_{i}", i) for i in range(3)], "child string, position int"
    )
    out = find_first(
        df, chain, ["data_id"], collection_col="run", is_calibration=True
    )
    assert out.count() == sum(1 for _, c, _ in rows if c < 3)


interval_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # key
        st.integers(min_value=0, max_value=50),  # begin
        st.integers(min_value=1, max_value=20),  # length
    ),
    min_size=1,
    max_size=25,
)


@given(rows=interval_rows)
@SETTINGS
def test_overlap_check_equals_brute_force(spark, rows):
    """The sort-based neighbor check finds an overlap iff the O(n²)
    definition does, per key (half-open [begin, end))."""
    df = spark.createDataFrame(
        [(k, b, b + ln) for k, b, ln in rows],
        "key int, begin_nsec long, end_nsec long",
    )
    found = overlapping_pairs(df, ["key"], tie_breaker=F.col("end_nsec")).count() > 0
    brute = False
    ivs = [(k, b, b + ln) for k, b, ln in rows]
    for i in range(len(ivs)):
        for j in range(i + 1, len(ivs)):
            a, b_ = ivs[i], ivs[j]
            if a[0] == b_[0] and a[1] < b_[2] and b_[1] < a[2]:
                brute = True
    assert found == brute


# --- dedup family properties ----------------------------------------------

doc_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1_000),  # doc_id
        st.text(
            alphabet="ab c", min_size=0, max_size=12
        ),  # tiny alphabet -> natural duplicate groups
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda r: r[0],
)


@given(rows=doc_rows)
@SETTINGS
def test_exact_dedup_group_invariants(spark, rows):
    """Every digest group keeps its min id, copy counts sum to the input
    size, and the operator is idempotent on its survivor set."""
    from dp1_data_wrangling_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = exact_dedup(df).collect()
    by_text: dict[str, list[int]] = {}
    for i, t in rows:
        by_text.setdefault(t, []).append(i)
    assert len(out) == len(by_text)
    assert sum(r["n_copies"] for r in out) == len(rows)
    keepers = sorted(r["keep_id"] for r in out)
    assert keepers == sorted(min(ids) for ids in by_text.values())
    survivors = df.join(
        spark.createDataFrame([(k,) for k in keepers], "doc_id long"), "doc_id"
    )
    again = exact_dedup(survivors).collect()
    assert sorted(r["keep_id"] for r in again) == keepers
    assert all(r["n_copies"] == 1 for r in again)


record_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),  # dataset key
        st.integers(min_value=0, max_value=2),  # datastore index
        st.integers(min_value=0, max_value=99),  # path discriminator
    ),
    min_size=1,
    max_size=30,
)


@given(rows=record_rows)
@SETTINGS
def test_priority_dedup_invariants(spark, rows):
    """One survivor per key; the survivor's datastore priority is minimal
    among that key's rows; ties within a datastore break on path."""
    from dp1_data_wrangling_spark.operators.priority_dedup import (
        priority_dedup,
        priority_map,
    )

    names = ["ds_a", "ds_b", "ds_c"]
    df = spark.createDataFrame(
        [(k, names[d], f"p{p:02d}") for k, d, p in rows],
        "dataset_id int, datastore_name string, path string",
    )
    out = priority_dedup(df, priority_map(spark, names)).collect()
    assert len(out) == len({k for k, _, _ in rows})
    for r in out:
        cands = [(d, f"p{p:02d}") for k, d, p in rows if k == r["dataset_id"]]
        best = min(cands)
        assert (names.index(r["datastore_name"]), r["path"]) == best


path_rows = st.lists(
    st.text(alphabet="abc/#_.:", min_size=0, max_size=20), min_size=1, max_size=20
)


@given(paths=path_rows)
@SETTINGS
def test_strip_fragment_idempotent_and_prefix_safe(spark, paths):
    """C6: fragment stripping is idempotent and always returns a prefix of
    the input with no '#' remaining."""
    from dp1_data_wrangling_spark.functions.paths import strip_fragment

    df = spark.createDataFrame([(p,) for p in paths], "path string")
    once = df.select(
        "path", strip_fragment(F.col("path")).alias("s1")
    ).withColumn("s2", strip_fragment(F.col("s1")))
    for r in once.collect():
        assert r["s1"] == r["s2"]
        assert "#" not in r["s1"]
        assert r["path"].startswith(r["s1"])


pair_graph = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ),
    min_size=1,
    max_size=40,
)


@given(edges=pair_graph)
@SETTINGS
def test_star_components_equal_label_propagation(spark, edges):
    """large-star/small-star CC == label-propagation CC == brute-force
    union-find, on arbitrary small graphs (incl. self-loops/dups)."""
    from dp1_data_wrangling_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    df = spark.createDataFrame(
        [(a, b) for a, b in edges], "id_a long, id_b long"
    )
    # brute force union-find
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {
        n: min(m for m in parent if find(m) == find(n))
        for n in parent
    }
    # nodes with only self-loop edges never appear in operator output
    nodes_with_real_edge = {x for a, b in edges if a != b for x in (a, b)}
    want_map = {n: want[n] for n in nodes_with_real_edge}

    got_star = {
        r["node"]: r["component"]
        for r in connected_components_star(df).collect()
    }
    got_lp = {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }
    # full-map equality, roots included (star unions (min, min) back)
    assert got_star == want_map, (got_star, want_map)
    assert got_lp == want_map, (got_lp, want_map)


# --- interval routing (bucketized vs conditional, NULL bounds) -------------

nullable_interval_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # key
        st.one_of(st.none(), st.integers(min_value=0, max_value=50)),  # begin
        st.integers(min_value=1, max_value=25),  # length (ignored if open end)
        st.booleans(),  # end is NULL (unbounded)
    ),
    min_size=1,
    max_size=15,
)

probe_time_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # key
        st.integers(min_value=0, max_value=80),  # probe time
    ),
    min_size=1,
    max_size=15,
)


@given(ivs=nullable_interval_rows, probes=probe_time_rows)
@SETTINGS
def test_routed_lookup_equals_asof_with_null_bounds(spark, ivs, probes):
    """routed_lookup (bounded -> bucketized equi-join, NULL-bounded ->
    conditional join) must return exactly asof_lookup's match set on any
    mix of bounded / half-open / fully-open intervals.  bucket_ns=7 makes
    intervals span multiple buckets so the explode path is exercised."""
    from dp1_data_wrangling_spark.operators.intervals import (
        asof_lookup,
        routed_lookup,
    )

    iv_rows = [
        (i, k, b, None if open_end else ((b if b is not None else 0) + ln))
        for i, (k, b, ln, open_end) in enumerate(ivs)
    ]
    pr_rows = [(j, k, t) for j, (k, t) in enumerate(probes)]
    iv_df = spark.createDataFrame(
        iv_rows, "iv_id int, key int, begin_nsec long, end_nsec long"
    )
    pr_df = spark.createDataFrame(pr_rows, "pid int, key int, t long")

    def matches(df):
        return {(r["pid"], r["iv_id"]) for r in df.select("pid", "iv_id").collect()}

    base = matches(
        asof_lookup(pr_df, iv_df, ["key"], probe_time="t")
    )
    routed = matches(
        routed_lookup(pr_df, iv_df, ["key"], probe_time="t", bucket_ns=7)
    )
    assert routed == base
    # cross-check one case against the plain definition
    brute = {
        (j, i)
        for (j, pk, t) in pr_rows
        for (i, ik, b, e) in iv_rows
        if pk == ik and (b is None or t >= b) and (e is None or t < e)
    }
    assert base == brute


def test_routed_lookup_exact_bucket_boundaries(spark):
    """Deterministic corner sweep the hypothesis generator only hits by
    luck: probe times EXACTLY on bucket boundaries, and intervals whose
    begin/end are exact bucket multiples.  Half-open semantics must hold:
    a probe at t == end_nsec matches nothing; a probe at t == begin_nsec
    matches; an interval ending exactly at a bucket edge must not claim
    the next bucket's boundary probe."""
    from dp1_data_wrangling_spark.operators.intervals import (
        asof_lookup,
        routed_lookup,
    )

    B = 10  # bucket_ns
    iv_rows = [
        # (iv_id, key, begin, end) — all bounds on exact bucket edges
        (0, 0, 0, 10),     # one whole bucket
        (1, 0, 10, 30),    # two buckets, starts where iv 0 ends
        (2, 0, 30, 31),    # minimal interval starting on an edge
        (3, 0, None, 20),  # open begin, ends on an edge
        (4, 0, 20, None),  # open end, begins on an edge
        (5, 0, 9, 11),     # straddles the 10-edge by 1 ns each side
    ]
    pr_rows = [(j, 0, t) for j, t in enumerate([0, 9, 10, 11, 19, 20, 29, 30, 31, 40])]
    iv_df = spark.createDataFrame(
        iv_rows, "iv_id int, key int, begin_nsec long, end_nsec long"
    )
    pr_df = spark.createDataFrame(pr_rows, "pid int, key int, t long")

    def matches(df):
        return {(r["pid"], r["iv_id"]) for r in df.select("pid", "iv_id").collect()}

    base = matches(asof_lookup(pr_df, iv_df, ["key"], probe_time="t"))
    routed = matches(routed_lookup(pr_df, iv_df, ["key"], probe_time="t", bucket_ns=B))
    assert routed == base
    # spot-check the half-open edges against the written-down expectation
    t10_pid = 2  # probe at t=10
    hits_at_10 = {iv for (pid, iv) in base if pid == t10_pid}
    assert hits_at_10 == {1, 3, 5}, hits_at_10  # NOT iv 0 (ends at 10)


def test_bucketize_width_guard_raises_on_malformed_interval(spark):
    """A malformed (e.g. million-year) interval must raise with the
    offending width, not explode the executor: sequence() hard-caps at
    2^31 elements and a silent hundred-million-row fan-out is an OOM.
    Legitimate multi-bucket intervals still pass."""
    import pytest as _pytest

    from dp1_data_wrangling_spark.operators.intervals import bucketize_intervals

    day = 86_400_000_000_000
    ok = spark.createDataFrame(
        [(0, 0, 400 * day)], "iv_id int, begin_nsec long, end_nsec long"
    )
    # 400 days at day buckets = 400 buckets — fine
    assert bucketize_intervals(ok, day).count() == 400
    bad = spark.createDataFrame(
        # ~285 millennia: 9e18 ns / day-buckets = ~104k buckets, over the cap
        [(1, 0, 9_000_000_000_000_000_000)],
        "iv_id int, begin_nsec long, end_nsec long",
    )
    with _pytest.raises(Exception, match="bucket cap"):
        bucketize_intervals(bad, day).count()
    # a tighter explicit cap applies too
    with _pytest.raises(Exception, match="bucket cap"):
        bucketize_intervals(ok, day, max_buckets_per_interval=100).count()


# ---------------------------------------------------------------------------
# Round-6 operators: chunking reconstruction, dup-span interval algebra
# ---------------------------------------------------------------------------

chunk_docs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=300,
        ),
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda t: t[0],
)
chunk_geometry = st.tuples(
    st.integers(min_value=1, max_value=60),  # stride
    st.integers(min_value=0, max_value=60),  # extra overlap (size = stride+x)
)


@given(docs=chunk_docs, geom=chunk_geometry)
@SETTINGS
def test_chunk_documents_reconstructs_any_text(spark, docs, geom):
    """For ANY text and any size >= stride: concatenating each chunk's
    stride-prefix (last chunk whole) rebuilds the document exactly, and
    consecutive chunks overlap by size - stride chars."""
    from dp1_data_wrangling_spark.operators.text import chunk_documents

    stride, extra = geom
    size = stride + extra
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = chunk_documents(df, size=size, stride=stride).collect()
    by_doc: dict[int, list] = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, text in docs:
        parts = sorted(by_doc.get(doc_id, []), key=lambda r: r["chunk_idx"])
        if not text:
            assert not parts
            continue
        rebuilt = "".join(
            p["chunk"] if i == len(parts) - 1 else p["chunk"][:stride]
            for i, p in enumerate(parts)
        )
        assert rebuilt == text, (doc_id, size, stride)


token_docs = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
        min_size=0,
        max_size=25,
    ),
    min_size=1,
    max_size=8,
)


@given(docs=token_docs)
@SETTINGS
def test_dup_span_stats_equals_brute_force(spark, docs):
    """dup_tokens/n_spans/n_hit_grams match a brute-force python
    reference (explicit gram census + interval union) on arbitrary token
    corpora — the tiny alphabet forces plenty of natural duplication."""
    from dp1_data_wrangling_spark.operators.dedup import dup_span_stats

    n = 3
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r for r in dup_span_stats(df, n=n).collect()}

    census: dict[tuple, int] = {}
    for toks in docs:
        for i in range(len(toks) - n + 1):
            g = tuple(toks[i : i + n])
            census[g] = census.get(g, 0) + 1
    for doc_id, toks in enumerate(docs):
        hits = [
            i
            for i in range(len(toks) - n + 1)
            if census[tuple(toks[i : i + n])] > 1
        ]
        covered = set()
        for i in hits:
            covered.update(range(i, i + n))
        spans = 0
        prev_in = False
        for p in sorted(covered):
            if not prev_in or p - 1 not in covered:
                spans += 1
            prev_in = True
        r = got[doc_id]
        assert r["n_hit_grams"] == len(hits), (doc_id, toks)
        assert r["dup_tokens"] == len(covered), (doc_id, toks)
        assert r["n_spans"] == spans, (doc_id, toks)
        assert r["n_tokens"] == len(toks)


@given(
    st.integers(1, 24),
    st.integers(1, 24),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_media_codec_roundtrip_property(h, w, seed):
    """PPM and BMP encode→decode is the identity for EVERY image shape
    (BMP row padding covers all four w%4 classes by construction), and
    nearest_resize output dims always match fit_dims."""
    import numpy as np

    from dp1_data_wrangling_spark.operators import multimodal as mm

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert (mm.decode_ppm(mm.encode_ppm(arr)) == arr).all()
    assert (mm.decode_bmp(mm.encode_bmp(arr)) == arr).all()
    ow, oh = mm.fit_dims(w, h, 8)
    assert 1 <= ow <= min(w, 8) + 1 and 1 <= oh <= min(h, 8) + 1
    rs = mm.nearest_resize(arr, oh, ow)
    assert rs.shape == (oh, ow, 3)
    # every output pixel is an actual source pixel at the contract index
    for i in (0, oh - 1):
        for j in (0, ow - 1):
            assert (rs[i, j] == arr[(i * h) // oh, (j * w) // ow]).all()


@given(st.integers(0, 2**31 - 1), st.integers(1, 600))
@settings(max_examples=40, deadline=None)
def test_wav_codec_roundtrip_property(seed, n):
    import numpy as np

    from dp1_data_wrangling_spark.operators import multimodal as mm

    rng = np.random.default_rng(seed)
    s = rng.integers(-(2**15), 2**15, n).astype(np.int16)
    rate, out = mm.decode_wav(mm.encode_wav(16_000, s))
    assert rate == 16_000 and (out == s).all()


@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=200))
@settings(max_examples=60, deadline=None)
def test_subword_tokenizer_partitions_pretokens(text):
    """Pure-python invariants of the greedy tokenizer semantics (the same
    algorithm subword_stats ships executor-side): matched piece lengths +
    unknown singles partition every pretoken exactly; n_subwords >=
    n_pretokens; a vocab-covered ASCII pretoken produces zero unknowns."""
    import re

    from dp1_data_wrangling_spark.operators.text import (
        BPE_ISH_PATTERN,
        SUBWORD_VOCAB,
    )

    vid = {t: i + 1 for i, t in enumerate(SUBWORD_VOCAB)}
    mx = max(map(len, SUBWORD_VOCAB))
    n_pt = n_sub = n_unk = 0
    consumed = 0
    total = 0
    for pt in re.findall(BPE_ISH_PATTERN, text):
        pt = pt.lower()
        n_pt += 1
        total += len(pt)
        pos, n = 0, len(pt)
        while pos < n:
            for length in range(min(mx, n - pos), 0, -1):
                if pt[pos : pos + length] in vid:
                    pos += length
                    consumed += length
                    break
            else:
                n_unk += 1
                pos += 1
                consumed += 1
            n_sub += 1
    assert consumed == total  # pieces partition the pretoken chars exactly
    assert n_sub >= n_pt or n_pt == 0
    if text and re.fullmatch(r"[A-Za-z0-9 ]+", text):
        assert n_unk == 0  # letters/digits are single-char covered


@given(
    st.integers(0, 4),
    st.integers(1, 10),
    st.integers(1, 10),
    st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_y4m_codec_roundtrip_property(n, h, w, seed):
    import numpy as np

    from dp1_data_wrangling_spark.operators import multimodal as mm

    rng = np.random.default_rng(seed)
    a = rng.integers(0, 256, (n, 3, h, w), dtype=np.uint8)
    ww, hh, back = mm.decode_y4m(mm.encode_y4m(a))
    assert (ww, hh) == (w, h)
    assert back.shape == a.shape and (back == a).all()


# --- zone/bloom pruning soundness (round 8) --------------------------------
# The one failure mode a data-skipping layer must never have is a missing
# row: for ANY predicate, read(where=...) must equal the full-scan filter.
# Generate predicates over comparisons (a literal on the left never
# prunes, but must stay sound), BETWEEN, IN and IS [NOT] NULL, nested
# under AND, OR, NOT and parentheses, with adversarial string literals
# ('and'/'or'/parens/keywords inside quotes) and integer, decimal and
# double literals near 2**53, where a bigint compared in the wrong type
# rounds.

_INT_LIT = st.one_of(
    st.integers(-50, 350).map(str),
    st.integers(-50, 350).map(lambda v: f"{v}.0"),
)
_BIG_NUM = st.one_of(
    st.integers(2**53 - 120, 2**53 + 170),
    # the second root ends at 2**53 + 48, which 2**53 + 48.5 and
    # 2**53 + 49 round onto as doubles
    st.sampled_from([2**53 + 49, 2**53 + 48, 2**53 + 1, 2**53 - 1]),
)
_BIG_LIT = st.tuples(_BIG_NUM, st.sampled_from(["", ".0", ".5", "e0"])).map(
    lambda t: f"{t[0]}{t[1]}"
)
_STR_LIT = st.sampled_from(
    ["a0", "b3", "zq", "x and y", "(or)", "not this", "in between", ""]
).map(lambda s: f"'{s}'")
_CMP_OP = st.sampled_from(["<", "<=", ">", ">=", "="])


def _col_atoms(col, lit):
    return [
        st.tuples(st.just(col), _CMP_OP, lit).map(" ".join),
        st.tuples(lit, _CMP_OP, st.just(col)).map(" ".join),
        st.tuples(lit, lit).map(lambda t: f"{col} BETWEEN {t[0]} AND {t[1]}"),
        st.lists(lit, min_size=1, max_size=4).map(
            lambda vs: f"{col} IN ({', '.join(vs)})"
        ),
        st.sampled_from([f"{col} IS NULL", f"{col} IS NOT NULL"]),
    ]


_ATOM = st.one_of(
    *_col_atoms("ts", _INT_LIT),
    *_col_atoms("tag", _STR_LIT),
    *_col_atoms("big", _BIG_LIT),
    # one double element makes Spark compare the whole IN list in double
    _BIG_LIT.map(lambda v: f"big IN ({v}, 0e0)"),
)
_PREDICATE = st.recursive(
    _ATOM,
    lambda inner: st.one_of(
        st.tuples(inner, st.sampled_from(["AND", "OR"]), inner).map(" ".join),
        inner.map(lambda p: f"({p})"),
        inner.map(lambda p: f"NOT ({p})"),
    ),
    max_leaves=4,
)

_PRUNE_CAT = {}


def _pruning_catalog(spark, tmp_path_factory):
    if "cat" not in _PRUNE_CAT:
        from pyspark.sql import functions as F

        from dp1_data_wrangling_spark.plans import Catalog

        root = tmp_path_factory.mktemp("prune_prop") / "cat"
        cat = Catalog(str(root))
        cat.set_zone_map("t", ["ts", "tag", "big"])
        cat.set_bloom_filter("t", ["ts", "tag", "big"])
        # big straddles 2**53 (the second root holds 2**53 - 1 ..
        # 2**53 + 48) and is NULL on some rows of the first root, none
        # of the second and all of the third
        for lo, tag, null in [
            (0, "a", F.col("id") % 5 == 0),
            (100, "b", F.lit(False)),
            (200, "c", F.lit(True)),
        ]:
            tx = cat.begin()
            tx.stage(
                "t",
                spark.range(lo, lo + 50).select(
                    F.col("id").alias("ts"),
                    F.concat(F.lit(tag), F.col("id") % 7).alias("tag"),
                    F.when(~null, F.lit(2**53 - 101) + F.col("id")).alias("big"),
                ),
            )
            cat.commit(tx)
        _PRUNE_CAT["cat"] = cat
    return _PRUNE_CAT["cat"]


@given(where=_PREDICATE)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_zone_bloom_pruned_read_equals_full_scan(
    spark, tmp_path_factory, where
):
    cat = _pruning_catalog(spark, tmp_path_factory)
    full = sorted(
        tuple(r) for r in cat.read(spark, "t").filter(where).collect()
    )
    pruned = sorted(
        tuple(r) for r in cat.read(spark, "t", where=where).collect()
    )
    assert pruned == full, f"pruning dropped rows for {where!r}"


@given(
    st.integers(1, 12),
    st.integers(1, 12),
    st.integers(0, 2**31 - 1),
    st.sampled_from(["random", "runs", "gradient", "palette"]),
)
@settings(max_examples=40, deadline=None)
def test_qoi_codec_roundtrip_property(h, w, seed, shape):
    """QOI encode→decode is the identity across content classes that
    bias toward each op family (random→RGB, runs→RUN, gradient→
    DIFF/LUMA, palette→INDEX)."""
    import numpy as np

    from dp1_data_wrangling_spark.operators import multimodal as mm

    rng = np.random.default_rng(seed)
    if shape == "random":
        a = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    elif shape == "runs":
        a = np.repeat(
            rng.integers(0, 256, (h, 1, 3), dtype=np.uint8), w, axis=1
        )
    elif shape == "gradient":
        base = rng.integers(0, 256)
        a = (
            (base + np.arange(h)[:, None, None] * 2
             + np.arange(w)[None, :, None] * 3
             + np.arange(3)[None, None, :]) % 256
        ).astype(np.uint8)
    else:  # palette: few distinct colors -> INDEX hits
        colors = rng.integers(0, 256, (4, 3), dtype=np.uint8)
        a = colors[rng.integers(0, 4, (h, w))]
    assert (mm.decode_qoi(mm.encode_qoi(a)) == a).all()


# --- fuzzy edit-distance join ----------------------------------------------

def _lev(a: str, b: str) -> int:
    m, n = len(a), len(b)
    dp = list(range(n + 1))
    for i in range(1, m + 1):
        prev, dp[0] = dp[0], i
        for j in range(1, n + 1):
            cur = dp[j]
            dp[j] = min(dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
            prev = cur
    return dp[n]


fuzzy_keys = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=9),  # tiny alphabet ->
    min_size=2,                                        # dense near-pairs,
    max_size=18,                                       # incl. len <= d keys
)


@given(keys=fuzzy_keys, d=st.integers(min_value=1, max_value=3))
@SETTINGS
def test_fuzzy_pairs_equals_brute_force(spark, keys, d):
    """PassJoin segment blocking is COMPLETE and the verify filter is
    exact: the blocked join returns precisely the brute-force O(n²)
    within-threshold pair set, for any corpus (including keys shorter
    than d+1 chars, whose pigeonhole match is an empty segment)."""
    from dp1_data_wrangling_spark.operators.fuzzy import fuzzy_pairs

    rows = list(enumerate(keys))
    expect = sorted(
        (i, j, _lev(a, b))
        for x, (i, a) in enumerate(rows)
        for j, b in rows[x + 1:]
        if a and b and _lev(a, b) <= d
    )
    df = spark.createDataFrame(rows, "id int, key string")
    got = sorted(
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_pairs(df, key_col="key", id_col="id", max_dist=d).collect()
    )
    assert got == expect


# --- triangle counting ------------------------------------------------------

tri_edges = st.lists(
    st.tuples(st.integers(min_value=0, max_value=9), st.integers(min_value=0, max_value=9)),
    min_size=1,
    max_size=40,
)


@given(edges=tri_edges)
@SETTINGS
def test_triangle_count_equals_brute_force(spark, edges):
    """Degree-ordered wedge enumeration returns exactly the brute-force
    per-node triangle counts for any dirty edge list (duplicates, both
    orientations, self-loops)."""
    import itertools
    from collections import Counter

    from dp1_data_wrangling_spark.operators.graph import triangle_count

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    expect = Counter()
    nodes = sorted({n for e in und for n in e})
    for x, y, z in itertools.combinations(nodes, 3):
        if (x, y) in und and (x, z) in und and (y, z) in und:
            expect[x] += 1
            expect[y] += 1
            expect[z] += 1
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_count(df).collect()}
    assert got == dict(expect)


# --- SCD2 incremental apply -------------------------------------------------

scd_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),   # key
        st.integers(min_value=0, max_value=20),  # ts
        st.sampled_from("XYZ"),                  # attr
    ),
    min_size=2,
    max_size=24,
)


@given(events=scd_events, split=st.integers(min_value=0, max_value=20))
@SETTINGS
def test_scd2_apply_equals_full_rebuild(spark, events, split):
    """Both apply modes must equal scd2_build over everything: the
    observation-log mode for ANY time split, and the log-less mode for
    the append-only split it accepts (batch strictly after every
    observed ts)."""
    from dp1_data_wrangling_spark.operators.scd import scd2_apply, scd2_build

    rows = [(k, ts, i, a) for i, (k, ts, a) in enumerate(events)]
    init = [r for r in rows if r[1] <= split]
    batch = [r for r in rows if r[1] > split]
    if not init or not batch:
        return
    kw = dict(key="k", tracked=["attr"], ts_col="ts", order_extra=["seq"])
    schema = "k int, ts int, seq int, attr string"
    df_init = spark.createDataFrame(init, schema)
    df_batch = spark.createDataFrame(batch, schema)
    hist = scd2_build(df_init, **kw)
    want = sorted(map(tuple, scd2_build(df_init.union(df_batch), **kw).collect()))
    with_log = sorted(
        map(tuple, scd2_apply(hist, df_batch, observations=df_init, **kw).collect())
    )
    assert with_log == want
    try:
        logless = sorted(map(tuple, scd2_apply(hist, df_batch, **kw).collect()))
    except SparkRuntimeException as e:
        # the log-less mode may refuse: its replay is ambiguous when an
        # original ts tie straddles a version boundary.  Verify the
        # refusal is justified by that exact condition, never spurious.
        assert "scd2_apply" in str(e)
        by_key: dict[int, list] = {}
        for r in hist.collect():
            by_key.setdefault(r["k"], []).append(r)
        assert any(
            vs[i + 1]["valid_from"] == vs[i]["last_seen"]
            for vs in (
                sorted(v, key=lambda r: r["version"]) for v in by_key.values()
            )
            for i in range(len(vs) - 1)
        )
    else:
        assert logless == want


# --- spatial distance join --------------------------------------------------

sp_points = st.lists(
    st.tuples(
        st.integers(min_value=-15, max_value=15),
        st.integers(min_value=-15, max_value=15),
    ),
    min_size=2,
    max_size=25,
)


@given(pts=sp_points, r=st.integers(min_value=1, max_value=6))
@SETTINGS
def test_within_distance_pairs_equals_brute_force(spark, pts, r):
    """Grid blocking is COMPLETE (same-or-adjacent cells cover every
    within-radius pair, including across negative/positive cell
    boundaries) and emits each pair exactly once."""
    from dp1_data_wrangling_spark.operators.spatial import (
        within_distance_pairs,
    )

    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    expect = sorted(
        (a[0], b[0], (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2)
        for i, a in enumerate(rows)
        for b in rows[i + 1:]
        if (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= r * r
    )
    df = spark.createDataFrame(rows, "id int, x long, y long")
    got = sorted(
        (p.id_a, p.id_b, p.dist2)
        for p in within_distance_pairs(
            df, x_col="x", y_col="y", id_col="id", radius=r
        ).collect()
    )
    assert got == expect


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    coords=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=40,
    )
)
def test_skyline_2d_equals_brute_force(spark, coords):
    """The one-sort window skyline == the O(n²) dominance definition."""
    from dp1_data_wrangling_spark.operators.skyline import skyline_2d

    pts = [(i, x, y) for i, (x, y) in enumerate(coords)]

    def dominated(i):
        xi, yi = coords[i]
        return any(
            (xb >= xi and yb >= yi and (xb > xi or yb > yi))
            for j, (xb, yb) in enumerate(coords)
            if j != i
        )

    expect = sorted(i for i in range(len(coords)) if not dominated(i))
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    got = sorted(
        r["id"]
        for r in skyline_2d(df, x_col="x", y_col="y", id_col="id").collect()
    )
    assert got == expect


# (tie_key, metric) rows — duplicates of tie are dropped so the total
# order is well-defined (the operator's documented uniqueness contract);
# metric range is tiny ON PURPOSE so mega-ties hammer the tie-bucket
# level, and negatives exercise the descending negation path
rank_rows = st.lists(
    st.tuples(
        st.integers(min_value=-1000, max_value=1000),
        st.integers(min_value=-5, max_value=5),
    ),
    min_size=1,
    max_size=60,
)


@given(rows=rank_rows, desc=st.booleans(), k=st.integers(min_value=1, max_value=7))
@SETTINGS
def test_distributed_rank_and_ntile_equal_window(spark, rows, desc, k):
    """distributed_rank / distributed_ntile == the naive single-
    partition ROW_NUMBER / running SUM / NTILE windows on ANY input —
    generated metrics with heavy ties, negatives, asc/desc, and every
    tile count, at adversarially small bucket counts."""
    from pyspark.sql import Window

    from dp1_data_wrangling_spark.operators.ranking import (
        distributed_ntile,
        distributed_rank,
    )

    uniq = {t: m for t, m in rows}
    data = [(t, m, abs(m)) for t, m in uniq.items()]
    df = spark.createDataFrame(data, "tie long, m long, mabs long")
    order = [F.col("m").desc() if desc else F.col("m"), F.col("tie")]
    w = Window.orderBy(*order)
    want = {
        r.tie: (r.rk, r.cum, r.tile)
        for r in df.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .withColumn(
            "cum",
            F.sum("mabs").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("tile", F.ntile(k).over(w))
        .collect()
    }
    # cumsum requires non-negative metrics -> rank over m, sum over mabs
    # would break the shared order; instead rank/cumsum BOTH over mabs
    # when checking the sum, and rank-only over the signed metric
    rk = distributed_rank(
        df, metric_col="m", tie_cols=["tie"], descending=desc,
        n_value_buckets=3, n_tie_buckets=2, rank_col="rk",
    )
    got_rk = {r.tie: r.rk for r in rk.df.collect()}
    assert got_rk == {t: v[0] for t, v in want.items()}
    nt = distributed_ntile(
        df, metric_col="m", tie_cols=["tie"], n_tiles=k, descending=desc,
        n_value_buckets=3, n_tie_buckets=2, out_col="tile",
    )
    got_nt = {r.tie: r.tile for r in nt.collect()}
    assert got_nt == {t: v[2] for t, v in want.items()}
    # running sum: non-negative metric required -> compare on mabs
    worder = [F.col("mabs").desc() if desc else F.col("mabs"), F.col("tie")]
    wa = Window.orderBy(*worder)
    want_cum = {
        r.tie: (r.rk, r.cum)
        for r in df.withColumn("rk", F.row_number().over(wa).cast("bigint"))
        .withColumn(
            "cum",
            F.sum("mabs").over(wa.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .collect()
    }
    rs = distributed_rank(
        df, metric_col="mabs", tie_cols=["tie"], descending=desc,
        n_value_buckets=3, n_tie_buckets=2, rank_col="rk", cumsum_col="cum",
    )
    got_cum = {r.tie: (r.rk, r.cum) for r in rs.df.collect()}
    assert got_cum == want_cum
    assert rs.sum_total == sum(d[2] for d in data)


km_subjects = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),   # duration
        st.booleans(),                            # event observed
    ),
    min_size=1,
    max_size=60,
)


@given(subj=km_subjects)
@SETTINGS
def test_km_survival_equals_python_fold(spark, subj):
    """Kaplan-Meier on generated subjects equals the independent
    Python-int stepwise fold at every census row, and the survival
    level is monotone nonincreasing with every n_risk consistent with
    the census."""
    from dp1_data_wrangling_spark.operators.survival import km_survival

    df = spark.createDataFrame(
        [(d, int(e)) for d, e in subj], "dur int, ev int"
    )
    rows = (
        km_survival(df, duration_col="dur", event_col="ev")
        .orderBy("duration")
        .collect()
    )
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


chi2_cells = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # row category
        st.integers(min_value=0, max_value=3),    # col category
    ),
    min_size=1,
    max_size=80,
)


@given(cells=chi2_cells)
@SETTINGS
def test_contingency_chi2_equals_python_replay(spark, cells):
    """RxC chi-square on generated categorical pairs equals the
    Python-int replay over the FULL grid (zero cells included); df
    matches the category counts."""
    from collections import Counter

    from dp1_data_wrangling_spark.operators.stats import contingency_chi2

    df = spark.createDataFrame(
        [("g", f"r{r}", f"c{c}") for r, c in cells],
        "g string, r string, c string",
    )
    [got] = contingency_chi2(
        df, row_col="r", col_col="c", group_cols=["g"]
    ).collect()
    O = Counter((f"r{r}", f"c{c}") for r, c in cells)
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
    df_want = (len(R) - 1) * (len(C) - 1)
    assert (got.n_row_cats, got.n_col_cats, got.n_units) == (
        len(R), len(C), N,
    )
    assert got.df == df_want
    if df_want > 0:
        assert got.chi2_milli == want
    else:
        assert got.chi2_milli is None


rank_sum_obs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),    # arm
        st.integers(min_value=-5, max_value=5),   # quantized metric
    ),
    min_size=1,
    max_size=80,
)


@given(obs=rank_sum_obs)
@SETTINGS
def test_rank_sum_equals_pairwise_brute_force(spark, obs):
    """Mann-Whitney on generated (arm, value) units equals the exact
    pairwise brute force (2U = Σ pairs [2·(a>b) + (a=b)]) with the
    tie-corrected Var(2U) replayed in Python ints — degenerate
    one-armed / all-tied inputs yield NULLs, never fake significance."""
    from collections import Counter

    from dp1_data_wrangling_spark.operators.stats import rank_sum_test

    df = spark.createDataFrame(
        [("g", a, v) for a, v in obs], "g string, arm int, v long"
    )
    [got] = rank_sum_test(
        df, arm_col="arm", value_col="v", group_cols=["g"]
    ).collect()
    a_vals = [v for a, v in obs if a == 0]
    b_vals = [v for a, v in obs if a == 1]
    na, nb, n = len(a_vals), len(b_vals), len(obs)
    u2 = sum(
        2 if a > b else (1 if a == b else 0)
        for a in a_vals
        for b in b_vals
    )
    assert (got.n_a, got.n_b, got.u2_a) == (na, nb, u2)
    assert got.auc_milli == (
        (1000 * u2) // (2 * na * nb) if na * nb else None
    )
    tie = sum(t**3 - t for t in Counter(v for _, v in obs).values())
    if na * nb and n > 1:
        var2 = (na * nb * ((n + 1) * n * (n - 1) - tie)) // (
            3 * n * (n - 1)
        )
        want_z2 = (1000 * (u2 - na * nb) ** 2) // var2 if var2 > 0 else None
    else:
        want_z2 = None
    assert got.z2_milli == want_z2


# (value, count) census rows for the tile-summary invariants; counts
# include zeros (ignored by contract) and values collide on purpose
tile_census_rows = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=50),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=0,
    max_size=40,
)


@given(rows=tile_census_rows, k=st.integers(min_value=1, max_value=8))
@SETTINGS
def test_rank_tile_summary_invariants(spark, rows, k):
    """For ANY census and tile count: the emitted tiles partition
    [1, N] (rank ranges are contiguous, disjoint, SQL-standard sized),
    per-tile n_rows equals the rank-range width AND sums to N, value
    boundaries are non-decreasing across tiles, and every boundary is
    an actual census value whose rank interval contains the tile's
    boundary rank — replayed against a pure-Python fold."""
    from dp1_data_wrangling_spark.operators.ranking import rank_tile_summary

    # collapse duplicate values (the one-row-per-value contract)
    agg: dict[int, int] = {}
    for v, n in rows:
        agg[v] = agg.get(v, 0) + n
    agg = {v: n for v, n in agg.items() if n > 0}
    census = spark.createDataFrame(
        [(v, n) for v, n in agg.items()] or [(0, 0)], "v long, n long"
    )
    got = sorted(
        (
            (r.tier, r.rank_lo, r.rank_hi, r.n_rows, r.value_lo, r.value_hi)
            for r in rank_tile_summary(
                census, metric_col="v", count_col="n", n_tiles=k
            ).collect()
        )
    )
    n_total = sum(agg.values())
    if n_total == 0:
        assert got == []
        return
    # pure-Python replay: expand the census into the sorted value run
    values = [v for v in sorted(agg) for _ in range(agg[v])]
    q, rem = divmod(n_total, k)
    expect = []
    lo = 1
    for t in range(1, k + 1):
        size = q + (1 if t <= rem else 0)
        if size == 0:
            continue
        hi = lo + size - 1
        expect.append(
            (t, lo, hi, size, values[lo - 1], values[hi - 1])
        )
        lo = hi + 1
    assert got == expect


woe_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),      # group
        st.integers(min_value=-50, max_value=50),   # value (pre-scale)
        st.integers(min_value=0, max_value=1),      # label
    ),
    min_size=1,
    max_size=60,
)


@given(rows=woe_rows)
@SETTINGS
def test_woe_iv_matches_python_replay(spark, rows):
    """woe_iv == a direct python float replay of its stated contract
    (equal-width integer bins, one double division + ln + round(6),
    bin-ordered IV fold with the ROUNDED woe) on generated inputs —
    including one-class groups, one-sided bins and constant values."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from dp1_data_wrangling_spark.operators.stats import woe_iv

    def r6(x):
        # Spark's round() goes through BigDecimal.valueOf(double) —
        # shortest decimal repr, then HALF_UP (DuckDB agrees: 13 rounds
        # of parity evidence); python's round() rounds the TRUE binary
        # value and disagrees exactly on repr-halfway cases like
        # 0.3465735 (= 0.34657349999999997...), so the replay must
        # emulate the engines, not the stdlib
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    n_bins, qs = 3, 10
    df = spark.createDataFrame(
        [(f"g{g}", v / 2.0, y) for g, v, y in rows],
        "grp string, v double, y int",
    )
    got = {
        (r.grp, r.bin): (r.lo_scaled, r.n_good, r.n_bad, r.woe, r.iv)
        for r in woe_iv(
            df, label_col="y", value_col="v", group_cols=["grp"],
            n_bins=n_bins, quant_scale=qs,
        ).collect()
    }
    # python replay
    by_g: dict = {}
    for g, v, y in rows:
        by_g.setdefault(f"g{g}", []).append((math.floor(v / 2.0 * qs), y))
    expect = {}
    for gname, pts in by_g.items():
        lo = min(x for x, _ in pts)
        w = (max(x for x, _ in pts) - lo) // n_bins + 1
        G = sum(y for _, y in pts)
        B = sum(1 - y for _, y in pts)
        bins = {}
        for x, y in pts:
            b = min(n_bins - 1, max(0, (x - lo) // w))
            ng, nb = bins.get(b, (0, 0))
            bins[b] = (ng + y, nb + (1 - y))
        iv = 0.0
        rows_out = {}
        for b in range(n_bins):
            ng, nb = bins.get(b, (0, 0))
            woe = (
                r6(math.log((ng * B) / (nb * G)))
                if ng > 0 and nb > 0 and G > 0 and B > 0
                else None
            )
            if woe is not None:
                iv += (ng * B - nb * G) / (G * B) * woe
            rows_out[b] = (lo + b * w, ng, nb, woe)
        iv_out = r6(iv) if G > 0 and B > 0 else None
        for b, (los, ng, nb, woe) in rows_out.items():
            expect[(gname, b)] = (los, ng, nb, woe, iv_out)
    assert got == expect
