"""bench.py's printed line and its scaling table (no Spark session)."""

from __future__ import annotations

import json

import bench

# The keys of the scaling block in the committed sf0.1 record, in order.
SCALING_KEYS = [
    "sched_floor",
    "machine_ref",
    "certify_probe",
    "priority_dedup",
    "doc_line_dedup",
    "certify_probe_2x_same_sf",
    "embedding_semantic_dedup_synth",
    "ivf_topk_synth",
    "ivf_pq_topk_synth",
    "ivf_query_index_synth",
    "minhash_pairs_synth",
    "simhash_pairs_synth",
    "simhash_pairs_capped_synth",
    "bm25_topk_synth",
    "jaccard_join_synth",
    "jaccard_join_capped_worstcase_synth",
    "fuzzy_pairs_synth",
    "spatial_pairs_synth",
    "geofence_synth",
    "pagerank_synth",
    "link_prediction_synth",
    "distributed_ntile_synth",
    "catalog_zone_map_probe",
    "zorder_layout_probe",
]

SCALING = {
    **{k: {"n_rows": [5000, 50000], "ratio_10x_rows": 2.5} for k in SCALING_KEYS},
    "sched_floor": {"noop_sql_ms": 23.4, "tiny_1task_ms": 44.3},
    "machine_ref": {"cpu_md5_200mb_sec": 0.318, "jvm_range_sum_sec": 0.089},
    "certify_probe": {"small_sf_sec": 0.349, "sec": 0.968, "ratio_10x_rows": 2.78},
    "certify_probe_2x_same_sf": {"base_sec": 1.187, "ratio_2x_rows": 1.92},
    "link_prediction_synth": {
        "n_rows": [20000, 200000],
        "ratio_10x_rows": 2.7,
        "pairs": [69952, 699960],
    },
    "catalog_zone_map_probe": {"roots_scanned": 1, "speedup": 13.02},
    "zorder_layout_probe": {"plain_sec": 0.117, "zorder_vs_plain": 1.05},
}

STREAMING = {
    "stream_into_catalog": {"wall_sec": 4.031, "rows_per_sec": 24810},
    "stream_curation": {"wall_sec": 14.351, "rows_per_sec": 348},
}


def _record(n_queries: int, **extra) -> dict:
    queries = {f"headline_query_{i:02d}": 1.234 for i in range(n_queries)}
    return {
        "metric": "headline_queries_total_wall",
        "value": round(1.234 * n_queries, 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "scaling": SCALING,
        "ambient_normalized_total_est_sec": 12.5,
        "streaming": STREAMING,
        **extra,
    }


def test_probe_table_covers_the_scaling_block():
    assert ["sched_floor", "machine_ref", *bench.PROBES] == SCALING_KEYS


def test_compact_line_keeps_driver_keys_and_one_scalar_per_block():
    record = _record(5)
    line = bench.compact_line(record)
    assert "\n" not in line and len(line) < 2000
    out = json.loads(line)
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert out[k] == record[k]
    assert out["scaling"] == {
        **{k: 2.5 for k in SCALING_KEYS},
        "sched_floor": None,
        "machine_ref": 0.089,
        "certify_probe": 2.78,
        "certify_probe_2x_same_sf": 1.92,
        "link_prediction_synth": 2.7,
        "catalog_zone_map_probe": 13.02,
        "zorder_layout_probe": 1.05,
    }
    assert out["stream_rps"] == {"stream_into_catalog": 24810, "stream_curation": 348}
    assert "errors" not in out and "partial_total" not in out


def test_compact_line_sheds_stream_rps_then_scaling_to_fit_the_tail():
    kept = {}
    for n in range(1, 50):  # up to the 49 headliners
        line = bench.compact_line(_record(n))
        assert len(line) < 2000
        out = json.loads(line)
        assert len(out["queries"]) == n
        kept.setdefault(tuple(k for k in ("stream_rps", "scaling") if k in out), n)
    # as the query map grows, stream_rps goes first, then scaling
    assert list(kept) == [("stream_rps", "scaling"), ("scaling",), ()]


def test_compact_line_reports_null_value_when_a_query_failed():
    errors = {"headline_query_03": "AnalysisException: [UNRESOLVED_COLUMN]"}
    record = _record(5, errors=errors, partial_total=4.936)
    record["value"] = None
    out = json.loads(bench.compact_line(record))
    assert out["value"] is None
    assert out["errors"] == errors and out["partial_total"] == 4.936
    assert out["metric"] == "headline_queries_total_wall"
