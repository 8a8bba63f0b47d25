"""Retrieval query catalog (split from queries_llm.py in round 12 —
zero behavior change, same @register calls).

BM25 top-k, phrase search, the persisted term-bucketed text index
round trip, MMR re-ranking and NDCG evaluation over the documents /
embeddings fixtures, with frozen probe-query sets so the DuckDB
oracles replay byte-identical rankings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries_llm import _md5mod
from .registry import register
from .tables import load_table, local_df, spread


# ---------------------------------------------------------------------------
# BM25 retrieval (operators/retrieval.py)
# ---------------------------------------------------------------------------

#: Frozen probe queries for the retrieval tier — version the set, not
#: the code (same discipline as SUBWORD_VOCAB / LM_VOCAB).
BM25_QUERIES: list[tuple[int, str]] = [
    (1, "hash join"),
    (2, "window agg stream"),
    (3, "slow scan filter"),
    (4, "vector merge customer"),
]

_BM25_CTES = """bm_q AS (
        SELECT * FROM (VALUES (1, 'hash join'), (2, 'window agg stream'),
                              (3, 'slow scan filter'),
                              (4, 'vector merge customer'))
               AS q(query_id, query_text)
    ),
    bm_toks AS (
        SELECT doc_id,
               unnest(list_filter(
                   regexp_split_to_array(lower(text), '\\W+'),
                   x -> x != '')) AS term
        FROM documents
    ),
    bm_post AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM bm_toks GROUP BY doc_id, term
    ),
    bm_dl AS (
        SELECT doc_id, term, tf,
               CAST(sum(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl
        FROM bm_post
    ),
    bm_stats AS (
        SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n,
               CAST(sum(tf) AS BIGINT) AS s
        FROM bm_post
    ),
    bm_df AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM bm_post GROUP BY term
    ),
    bm_qt AS (
        SELECT DISTINCT query_id,
               unnest(list_filter(
                   regexp_split_to_array(lower(query_text), '\\W+'),
                   x -> x != '')) AS term
        FROM bm_q
    ),
    bm_w AS (
        SELECT qt.query_id, p.doc_id, p.term,
               ln((2.0 * st.n + 2.0) / (2.0 * d.df + 1.0))
               * ((44 * p.tf * st.s)
                  / (20 * p.tf * st.s + 6 * st.s + 18 * p.dl * st.n)) AS w
        FROM bm_dl p
        JOIN bm_qt qt USING (term)
        JOIN bm_df d ON d.term = p.term
        CROSS JOIN bm_stats st
    ),
    bm_sc AS (
        SELECT query_id, doc_id,
               round(list_reduce(list(w ORDER BY term), (a, b) -> a + b), 6)
                   AS score
        FROM bm_w GROUP BY query_id, doc_id
    ),
    bm_rank AS (
        SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score FROM (
            SELECT query_id, doc_id, score,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY score DESC, doc_id) AS rank
            FROM bm_sc
        ) bm_rk_i WHERE rank <= 10
    )"""

_BM25_ORACLE = f"""
    WITH {_BM25_CTES}
    SELECT query_id, rank, doc_id, score FROM bm_rank
    """


@register("doc_bm25_topk", _BM25_ORACLE, headline=True)
def q_doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval over the corpus for the frozen probe-query
    set (operators/retrieval.py bm25_topk — the Lucene ranking function,
    k1=1.2 b=0.75): the postings DataFrame is the inverted index, a
    broadcast join with the query terms plays the posting-list lookup,
    per-document accumulation is an ordered row-local fold (Spark
    ``aggregate`` == DuckDB ``list_reduce`` on the same term order), and
    tf saturation is one IEEE-identical division of exact BIGINTs (the
    k1=6/5, b=3/4 rational clearing).  The one transcendental (ln of an
    exactly-computed argument) sits behind the engine-wide
    ``round(score, 6)`` grid.

    Scale shape: corpus tokenized once; only documents sharing a query
    term are ever scored (inverted-index pruning via the broadcast
    semi-style join); the top-k window ranks (query, doc) scores, never
    |queries| x |corpus|."""
    from .operators.retrieval import bm25_topk

    docs = spread(load_table(spark, sf_dir, "documents"))
    queries = local_df(spark, BM25_QUERIES, "query_id long, query_text string")
    return bm25_topk(
        docs, queries, text_col="text", id_col="doc_id", k=10
    )


#: Frozen probe phrases for the positional index tier — "big big"
#: exercises the repeated-term distinct-offset logic externally.
PHRASE_QUERIES: list[tuple[int, str]] = [
    (1, "table part"),
    (2, "fast table value"),
    (3, "window data"),
    (4, "big big"),
]

_PHRASE_ORACLE = """
    WITH ph_q AS (
        SELECT * FROM (VALUES (1, 'table part'), (2, 'fast table value'),
                              (3, 'window data'), (4, 'big big'))
               AS q(phrase_id, phrase_text)
    ),
    ph_arr AS (
        SELECT phrase_id,
               list_filter(regexp_split_to_array(lower(phrase_text),
                                                 '\\W+'),
                           x -> x != '') AS arr
        FROM ph_q
    ),
    ph_pos AS (
        SELECT phrase_id, unnest(generate_series(1, len(arr))) AS i, arr
        FROM ph_arr
    ),
    ph_t AS (
        SELECT phrase_id, i - 1 AS off, arr[i] AS term FROM ph_pos
    ),
    ph_m AS (
        SELECT phrase_id, CAST(count(*) AS BIGINT) AS m
        FROM ph_t GROUP BY phrase_id
    ),
    phd_arr AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\\W+'),
                           x -> x != '') AS arr
        FROM documents
    ),
    phd_pos AS (
        SELECT doc_id, unnest(generate_series(1, len(arr))) AS i, arr
        FROM phd_arr
    ),
    phd_t AS (
        SELECT doc_id, i - 1 AS pos, arr[i] AS term FROM phd_pos
    ),
    ph_anch AS (
        SELECT p.phrase_id, d.doc_id, d.pos - p.off AS anchor, p.off
        FROM phd_t d JOIN ph_t p USING (term)
        WHERE d.pos - p.off >= 0
    ),
    ph_hit AS (
        SELECT phrase_id, doc_id, anchor,
               count(DISTINCT off) AS k
        FROM ph_anch GROUP BY 1, 2, 3
    )
    SELECT CAST(h.phrase_id AS BIGINT) AS phrase_id, h.doc_id,
           CAST(count(*) AS BIGINT) AS n_matches,
           CAST(min(h.anchor) AS BIGINT) AS first_pos
    FROM ph_hit h JOIN ph_m m USING (phrase_id)
    WHERE h.k = m.m
    GROUP BY 1, 2
    """


@register("doc_phrase_search", _PHRASE_ORACLE)
def q_doc_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over the corpus for the frozen probe phrases
    (operators/retrieval.py phrase_search — Lucene PhraseQuery slop-0
    semantics as positional-postings algebra): a phrase matches at
    anchor p iff every term t_i sits at position p+i, turned into one
    map-side-combinable count aggregate by the anchor = pos - offset
    trick.  Pure integer positions and counts — the oracle replays the
    positional index and the anchor conjunction verbatim."""
    from .operators.retrieval import phrase_search

    docs = spread(load_table(spark, sf_dir, "documents"))
    phrases = local_df(spark, PHRASE_QUERIES, "phrase_id long, phrase_text string")
    out = phrase_search(
        docs, phrases, text_col="text", id_col="doc_id"
    )
    return out.select(
        "phrase_id",
        "doc_id",
        "n_matches",
        F.col("first_pos").cast("bigint").alias("first_pos"),
    )


@register("bm25_index_topk", _BM25_ORACLE)
def q_bm25_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 through the PERSISTED text index (plans/text_index.py):
    postings built once and published term-bucketed through the catalog,
    query served with directory-level partition pruning on the term
    buckets and exact manifest-pinned corpus statistics.  Byte-identical
    to the online doc_bm25_topk (equality pipeline-tested), so the same
    oracle verifies the whole build->publish->query round trip."""
    import tempfile

    from .plans.catalog import Catalog
    from .plans.text_index import bm25_query_index, build_text_index

    cat = Catalog(tempfile.mkdtemp(prefix="textidx_q_"))
    docs = spread(load_table(spark, sf_dir, "documents"))
    build_text_index(spark, cat, docs.select("doc_id", "text"))
    queries = local_df(spark, BM25_QUERIES, "query_id long, query_text string")
    return bm25_query_index(spark, cat, queries, 10)


_MMR_ORACLE = """
    WITH RECURSIVE mr_p AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings WHERE vec_id % 100 = 0
    ),
    mr_c AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    mr_cand AS (
        SELECT probe_id, neighbor_id,
               CAST(round(sim * 1000000.0, 0) AS BIGINT) AS rel_u,
               emb
        FROM (
            SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                   round(list_cosine_similarity(p.emb, c.emb), 6) AS sim,
                   c.emb AS emb,
                   row_number() OVER (
                       PARTITION BY p.vec_id
                       ORDER BY round(list_cosine_similarity(p.emb, c.emb), 6)
                                DESC, c.vec_id) AS rn
            FROM mr_p p JOIN mr_c c ON p.vec_id != c.vec_id
        ) mr_i WHERE rn <= 20
    ),
    mr_sel AS (
        SELECT probe_id, 1 AS rank, neighbor_id,
               CAST(700 * rel_u AS BIGINT) AS mmr_score_nano,
               [neighbor_id] AS sel
        FROM (
            SELECT probe_id, neighbor_id, rel_u,
                   row_number() OVER (
                       PARTITION BY probe_id
                       ORDER BY rel_u DESC, neighbor_id) AS rn
            FROM mr_cand
        ) mr_f WHERE rn = 1
        UNION ALL
        SELECT r.probe_id, r.rank + 1, pick.neighbor_id, pick.score,
               list_append(r.sel, pick.neighbor_id)
        FROM mr_sel r, LATERAL (
            SELECT c.neighbor_id,
                   CAST(700 * c.rel_u - 300 * (
                       SELECT max(CAST(round(
                           list_cosine_similarity(c.emb, s.emb)
                           * 1000000.0, 0) AS BIGINT))
                       FROM mr_cand s
                       WHERE s.probe_id = r.probe_id
                         AND list_contains(r.sel, s.neighbor_id)
                   ) AS BIGINT) AS score
            FROM mr_cand c
            WHERE c.probe_id = r.probe_id
              AND NOT list_contains(r.sel, c.neighbor_id)
            ORDER BY score DESC, c.neighbor_id
            LIMIT 1
        ) pick
        WHERE r.rank < 5
    )
    SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
           mmr_score_nano
    FROM mr_sel
    """


@register("embedding_mmr_rerank", _MMR_ORACLE)
def q_embedding_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-rank over ANN candidates
    (operators/retrieval.py mmr_rerank — Carbonell-Goldstein maximal
    marginal relevance, lambda = 0.7): brute-force cosine top-20 per
    probe is the first-stage pool; the greedy 5-step selection runs
    ROW-LOCALLY via JVM higher-order folds (no driver loop, no per-step
    shuffle).  Every relevance and pairwise cosine is rounded to 6
    snapped to exact integer micros before any argmax (integer nano-unit
    scores, no float comparison anywhere), so the greedy trajectory —
    and therefore rank order and scores — replays exactly in the
    oracle's recursive CTE."""
    from .operators.retrieval import mmr_rerank
    from .operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    cand = brute_force_topk(probes, emb, k=20).join(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("__emb"),
        ),
        "neighbor_id",
    )
    return mmr_rerank(
        cand,
        query_id_col="probe_id",
        id_col="neighbor_id",
        rel_col="sim",
        vec_col="__emb",
        k=5,
        lambda_milli=700,
    ).select(
        "probe_id",
        F.col("rank").cast("bigint").alias("rank"),
        "neighbor_id",
        "mmr_score_nano",
    )


_NDCG_ORACLE = f"""
    WITH {_BM25_CTES},
    ng_lab AS (
        SELECT q.query_id, d.doc_id,
               CAST(('0x' || substr(md5('rel|' || CAST(q.query_id AS VARCHAR)
                     || '|' || CAST(d.doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % 4 AS rel
        FROM (SELECT DISTINCT query_id FROM bm_q) q
        CROSS JOIN (SELECT doc_id FROM documents) d
    ),
    ng_got AS (
        SELECT r.query_id,
               round(list_reduce(
                   list(((CAST(1 AS BIGINT) << CAST(coalesce(l.rel, 0)
                                                    AS INT)) - 1)
                        / ln(r.rank + 1.0) ORDER BY r.rank),
                   (a, b) -> a + b), 6) AS dcg_ln
        FROM bm_rank r
        LEFT JOIN ng_lab l
          ON l.query_id = r.query_id AND l.doc_id = r.doc_id
        GROUP BY r.query_id
    ),
    ng_ideal AS (
        SELECT query_id,
               round(list_reduce(
                   list(((CAST(1 AS BIGINT) << CAST(rel AS INT)) - 1)
                        / ln(irank + 1.0) ORDER BY irank),
                   (a, b) -> a + b), 6) AS idcg_ln
        FROM (
            SELECT query_id, rel,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY rel DESC, doc_id) AS irank
            FROM ng_lab
        ) ng_i WHERE irank <= 10 AND rel > 0
        GROUP BY query_id
    )
    SELECT g.query_id, g.dcg_ln, i.idcg_ln,
           CASE WHEN i.idcg_ln > 0
                THEN round(g.dcg_ln / i.idcg_ln, 6) END AS ndcg
    FROM ng_got g LEFT JOIN ng_ideal i USING (query_id)
    """


@register("bm25_ndcg_eval", _NDCG_ORACLE)
def q_bm25_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the BM25 retriever against md5-derived graded
    relevance labels (operators/retrieval.py ndcg_at_k — the
    Järvelin-Kekäläinen cumulated-gain metric, ln-discount form whose
    base constant cancels in the ratio): the retrieval tier measuring
    itself.  Labels grade every (query, doc) pair 0-3 deterministically;
    the ideal ranking cuts the WHOLE labeled corpus to k, not the
    retrieved subset.  Exponential gains are exact integer shifts; both
    DCG folds replay as list_reduce in rank order."""
    from .operators.retrieval import bm25_topk, ndcg_at_k

    docs = spread(load_table(spark, sf_dir, "documents"))
    queries = local_df(spark, BM25_QUERIES, "query_id long, query_text string")
    ranking = bm25_topk(docs, queries, text_col="text", id_col="doc_id", k=10)
    labels = (
        queries.select("query_id")
        .crossJoin(docs.select("doc_id"))
        .select(
            "query_id",
            "doc_id",
            _md5mod(
                [
                    F.lit("rel|"),
                    F.col("query_id").cast("string"),
                    F.lit("|"),
                    F.col("doc_id").cast("string"),
                ],
                4,
            ).alias("rel"),
        )
    )
    return ndcg_at_k(ranking, labels, k=10)


_RRF_ORACLE = f"""
    WITH {_BM25_CTES},
    cov_m AS (
        SELECT qt.query_id, p.doc_id,
               CAST(count(DISTINCT p.term) AS BIGINT) AS n_terms,
               CAST(sum(p.tf) AS BIGINT) AS tf_sum
        FROM bm_post p JOIN bm_qt qt USING (term)
        GROUP BY 1, 2
    ),
    cov_rank AS (
        SELECT query_id, doc_id, CAST(rn AS BIGINT) AS rank FROM (
            SELECT query_id, doc_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY n_terms DESC, tf_sum DESC, doc_id) AS rn
            FROM cov_m) cov_rk_i WHERE rn <= 10
    ),
    rrf_u AS (
        SELECT query_id, doc_id, rank FROM bm_rank
        UNION ALL
        SELECT query_id, doc_id, rank FROM cov_rank
    ),
    rrf_s AS (
        SELECT query_id, doc_id,
               CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm,
               CAST(count(*) AS BIGINT) AS n_lists
        FROM rrf_u GROUP BY 1, 2
    ),
    rrf_r AS (
        SELECT query_id,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY rrf_ppm DESC, doc_id) AS BIGINT) AS fused_rank,
               doc_id, rrf_ppm, n_lists
        FROM rrf_s
    )
    SELECT query_id, fused_rank, doc_id, rrf_ppm, n_lists
    FROM rrf_r WHERE fused_rank <= 10
    """


@register("doc_rrf_fusion", _RRF_ORACLE)
def q_doc_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two rankers over the frozen probe-query
    set (operators/retrieval.py rrf_fuse — Cormack/Clarke/Buettcher
    SIGIR'09): BM25 top-10 fused with the boolean-coverage top-10
    (distinct query terms matched, then matched tf — the
    weight-model-free complement).  Each reciprocal 1e6 div (60+rank)
    is TRUNCATED to an integer so the fused score is exact and
    order-free — the float-sum pitfall of naive RRF is gone by
    construction; docs on only one list contribute one term and
    ``n_lists`` rides as the agreement diagnostic.  Both input lists
    are already bounded top-10s, so the fusion is a union + ONE
    combinable groupBy + a per-query window over <= 20 candidates."""
    from .operators.retrieval import bm25_topk, coverage_topk, rrf_fuse

    docs = spread(load_table(spark, sf_dir, "documents"))
    queries = local_df(spark, BM25_QUERIES, "query_id long, query_text string")
    bm = bm25_topk(
        docs, queries, text_col="text", id_col="doc_id", k=10
    ).select("query_id", "rank", "doc_id")
    cov = coverage_topk(
        docs, queries, text_col="text", id_col="doc_id", k=10
    ).select("query_id", "rank", "doc_id")
    return rrf_fuse(
        [bm, cov],
        query_id_col="query_id",
        id_col="doc_id",
        rrf_k=60,
        top_n=10,
    )


_MRR_MAP_ORACLE = f"""
    WITH {_BM25_CTES},
    mm_lab AS (
        SELECT q.query_id, d.doc_id,
               CASE WHEN CAST(('0x' || substr(md5('mrel|'
                         || CAST(q.query_id AS VARCHAR) || '|'
                         || CAST(d.doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 10 = 0
                    THEN 1 ELSE 0 END AS rel
        FROM (SELECT DISTINCT query_id FROM bm_q) q
        CROSS JOIN (SELECT doc_id FROM documents) d
    ),
    mm_got AS (
        SELECT r.query_id, r.rank, coalesce(l.rel, 0) > 0 AS hit
        FROM bm_rank r LEFT JOIN mm_lab l
          ON l.query_id = r.query_id AND l.doc_id = r.doc_id
    ),
    mm_hits AS (
        SELECT query_id, rank,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY rank) AS BIGINT) AS j
        FROM mm_got WHERE hit
    ),
    mm_per AS (
        SELECT query_id,
               CAST(count(*) FILTER (WHERE hit) AS BIGINT) AS n_hits,
               CAST(min(rank) FILTER (WHERE hit) AS BIGINT)
                   AS first_hit_rank
        FROM mm_got GROUP BY query_id
    ),
    mm_ap AS (
        SELECT query_id,
               CAST(sum((1000000 * j) // rank) AS BIGINT) AS ap_sum
        FROM mm_hits GROUP BY query_id
    ),
    mm_r AS (
        SELECT query_id,
               CAST(count(*) FILTER (WHERE rel > 0) AS BIGINT) AS n_rel
        FROM mm_lab GROUP BY query_id
    )
    SELECT p.query_id,
           coalesce(r.n_rel, 0) AS n_rel,
           p.n_hits,
           p.first_hit_rank,
           CAST(coalesce(1000000 // p.first_hit_rank, 0) AS BIGINT)
               AS rr_ppm,
           CAST(CASE WHEN coalesce(r.n_rel, 0) > 0
                THEN coalesce(a.ap_sum, 0) // least(r.n_rel, 10)
                END AS BIGINT) AS ap_ppm,
           CAST((1000000 * p.n_hits) // 10 AS BIGINT) AS p_at_k_ppm,
           CAST(CASE WHEN coalesce(r.n_rel, 0) > 0
                THEN (1000000 * p.n_hits) // r.n_rel
                END AS BIGINT) AS recall_ppm
    FROM mm_per p
    LEFT JOIN mm_ap a USING (query_id)
    LEFT JOIN mm_r r USING (query_id)
    """


@register("bm25_mrr_map_eval", _MRR_MAP_ORACLE)
def q_bm25_mrr_map_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@10 / AP@10 / P@10 / recall@10 of the BM25 retriever against
    md5-derived BINARY relevance labels (operators/retrieval.py
    mrr_map_at_k — the Voorhees/TREC binary-relevance battery next to
    the graded NDCG): ~10% of the corpus is relevant per query
    (md5 % 10 = 0 — sparse enough that the metrics discriminate).
    Every precision term is truncated to ppm before the mean (the
    rrf_fuse exact-integer stance), so both engines sum identical
    integers in any order."""
    from .operators.retrieval import bm25_topk, mrr_map_at_k

    docs = spread(load_table(spark, sf_dir, "documents"))
    queries = local_df(spark, BM25_QUERIES, "query_id long, query_text string")
    ranking = bm25_topk(docs, queries, text_col="text", id_col="doc_id", k=10)
    labels = (
        queries.select("query_id")
        .crossJoin(docs.select("doc_id"))
        .select(
            "query_id",
            "doc_id",
            (
                _md5mod(
                    [
                        F.lit("mrel|"),
                        F.col("query_id").cast("string"),
                        F.lit("|"),
                        F.col("doc_id").cast("string"),
                    ],
                    10,
                )
                == 0
            )
            .cast("int")
            .alias("rel"),
        )
    )
    return mrr_map_at_k(ranking, labels, k=10)
