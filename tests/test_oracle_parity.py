"""Every oracle-checked query must hash-match DuckDB at sf0.001 (the
driver runs the same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from dp1_data_wrangling_spark.queries import REGISTRY

from .conftest import SMOKE_SF
from .oracle_harness import compare, duckdb_con

ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle)
ROWS_ONLY_QUERIES = sorted(n for n, s in REGISTRY.items() if not s.oracle)


@pytest.fixture(scope="module")
def con():
    c = duckdb_con(SMOKE_SF)
    yield c
    c.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, con, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, SMOKE_SF)
    compare(df, con, spec.oracle, name)


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_runs(spark, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, SMOKE_SF)
    assert df.count() >= 0 and len(df.schema) > 0


def test_entry_smoke(spark):
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "__spark_entry__.py"
    mod_spec = importlib.util.spec_from_file_location("__spark_entry__", path)
    mod = importlib.util.module_from_spec(mod_spec)
    mod_spec.loader.exec_module(mod)
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert mod.queries().keys() >= mod.oracle_sql().keys()


def test_driver_window_covers_flagship_surface():
    """The driver's correctness run caps at the first 50 registry entries:
    the flagship LLM/streaming surface must sit inside that window, no
    query may be lost by the reorder, and every window entry must be
    oracle-backed (the ANN top-k forms carry full signature/quantizer
    replay oracles)."""
    from dp1_data_wrangling_spark.queries import DRIVER_WINDOW

    names = list(REGISTRY)
    assert names[:50] == DRIVER_WINDOW
    assert len(names) == len(set(names))
    # Window occupants and the audit rotation that put them there are
    # logged round by round in BASELINE.md.
    flagship = {
        "corpus_ngram_overlap", "corpus_heaps_law", "brand_momentum",
        "events_ab_experiment", "events_grid_hotspots", "orders_benford",
        "events_trend_test", "event_session_funnel", "events_stickiness",
        "events_classification_report", "events_calibration_curve",
        "orders_rollup_report", "events_rater_agreement",
        "documents_profile_drift", "customer_k_anonymity",
        "doc_quality_survivors", "events_kmv_distinct", "doc_link_ppr",
        "customer_entity_resolution", "events_roc_curve",
        "events_cuped_ate", "lineitem_corr_matrix", "events_post_strat_ate",
        "doc_source_lang_simpson", "doc_link_communities",
        "order_brand_rules", "events_uplift_curve",
        "events_seasonal_profile", "bm25_ndcg_eval", "order_item_affinity",
        "warehouse_fk_orphans", "user_churn_survival",
        "doc_link_prediction", "doc_bm25_topk", "simhash_pairs",
        "minhash_pairs", "doc_fuzzy_pairs", "dedup_clusters",
        "doc_exact_dedup", "doc_link_pagerank", "doc_link_triangles",
        "embedding_semantic_dedup", "cosine_topk", "doc_semantic_decontam",
        "events_geofence", "certify_probe", "multimodal_decode",
        "multimodal_png",
    }
    assert flagship <= set(names[:50])
    # No exemptions: every window entry is oracle-backed (the multimodal
    # queries carry md5-replay oracles — a stale whitelist here would let
    # a dropped oracle pass silently).
    for n in names[:50]:
        assert REGISTRY[n].oracle, f"{n} in driver window without oracle"


@pytest.mark.parametrize(
    "name", list(__import__("dp1_data_wrangling_spark.queries", fromlist=["DRIVER_WINDOW"]).DRIVER_WINDOW)
)
def test_driver_window_schema_is_canonicalizer_safe(spark, name):
    """Every driver-window query must emit only scalar columns — the driver's
    value-hash canonicalizer is undefined for Array/Map/Binary/Struct (the
    failure class that cost rounds 1 and 2).  Guarded at runtime by
    __spark_entry__.queries() via registry.assert_driver_safe_schema; this
    test pins the guard over the full window at fixture scale."""
    from dp1_data_wrangling_spark.registry import assert_driver_safe_schema

    df = REGISTRY[name].fn(spark, SMOKE_SF)
    assert_driver_safe_schema(df.schema, name)


def test_canonicalizer_guard_rejects_complex_types(spark):
    from pyspark.sql import functions as F

    from dp1_data_wrangling_spark.registry import assert_driver_safe_schema

    bad = spark.range(1).select(F.array(F.lit(1)).alias("xs"))
    with pytest.raises(TypeError, match="non-scalar column 'xs'"):
        assert_driver_safe_schema(bad.schema, "bad_query")
    also_bad = spark.range(1).select(F.struct(F.lit(1).alias("a")).alias("s"))
    with pytest.raises(TypeError, match="non-scalar column 's'"):
        assert_driver_safe_schema(also_bad.schema, "bad_query")
    ok = spark.range(1).select(F.lit("x").alias("s"), F.lit(1.5).alias("d"))
    assert_driver_safe_schema(ok.schema, "ok_query")


def test_oracle_output_types_are_driver_safe(con):
    """Every oracle's DuckDB output must stick to types the DRIVER's
    canonicalizer normalizes identically to Spark's (BIGINT/INTEGER/
    VARCHAR/BOOLEAN/DOUBLE/DATE/TIMESTAMP).  HUGEINT in particular is
    forbidden: DuckDB silently widens SUM(BIGINT) -> HUGEINT, the
    in-repo Arrow harness normalizes it to int (green), but the driver
    does not (the one red row in CORRECTNESS_r08, doc_link_pagerank).
    Wrap aggregate finals in CAST(... AS BIGINT)."""
    allowed = {
        "BIGINT", "INTEGER", "SMALLINT", "TINYINT", "VARCHAR",
        "BOOLEAN", "DOUBLE", "FLOAT", "DATE", "TIMESTAMP",
    }
    offenders = []
    for name, spec in REGISTRY.items():
        if not spec.oracle:
            continue
        rel = con.sql(spec.oracle)
        odd = [
            (c, str(t))
            for c, t in zip(rel.columns, rel.types)
            if str(t) not in allowed
        ]
        if odd:
            offenders.append((name, odd))
    assert not offenders, f"oracles with driver-unsafe output types: {offenders}"
