"""Market-basket association rules: frequent co-occurring item pairs
with support / confidence / lift.

The classic A-Priori observation does the heavy lifting for scale: a
pair can only be frequent if both items are, so each basket's item array
is pruned to the frequent-item vocabulary BEFORE pair generation. At
100 TB that prefilter is the difference between pairing every hub item
(deg^2 candidates from items in millions of baskets) and pairing only
the frequent-item vocabulary. Pair generation is in-row (no basket
self-join shuffle at all), and the pair aggregation map-side-combines
down to the frequent pair vocabulary.

The vocabulary is only as bounded as ``min_item_support`` makes it: at
low support it approaches ALL distinct items, where the default
broadcast-array prune (single collected row + per-basket
``array_intersect`` paying O(|vocab|)) stops being viable — pass
``prune="join"`` there; it keeps the same semantics through an exploded
semi-join that AQE broadcasts only when the vocabulary actually is
small.

All counts are exact int64; confidence and lift each perform exactly one
IEEE division on already-identical integers (the engine's cross-engine
float rule), so a DuckDB oracle matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def association_rules(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_item_support: int = 2,
    min_pair_support: int = 1,
    top_k: int | None = None,
    prune: str = "broadcast",
) -> DataFrame:
    """Frequent item pairs with association metrics.

    Output: ``item_a, item_b (item_a < item_b), pair_count, supp_a,
    supp_b, n_baskets (int64), confidence, lift (double)`` where
    ``confidence = P(b | a) = pair/supp_a`` and
    ``lift = P(a,b) / (P(a)P(b)) = pair * n / (supp_a * supp_b)``.

    ``top_k`` bounds the output by (pair_count DESC, item_a, item_b) —
    a total order, so it plans as TakeOrderedAndProject.

    ``prune`` selects the A-Priori prefilter shape: ``"broadcast"``
    (default) collects the frequent vocabulary into one broadcast array —
    cheapest while the vocabulary is genuinely bounded; ``"join"`` prunes
    via an exploded semi-join + regroup, which never materializes the
    vocabulary in one row and is the right choice when low
    ``min_item_support`` makes it corpus-sized. Identical output either
    way.
    """
    if prune not in ("broadcast", "join"):
        raise ValueError(f"prune must be 'broadcast' or 'join', got {prune!r}")
    # ONE scan of the transaction input: group straight to per-basket
    # sorted item sets (collect_set dedups within the basket, so no
    # separate distinct shuffle). supp, the basket total, and the pairs
    # all derive from this grouped frame.
    # r13: `items` feeds THREE consumers (basket total, item supports,
    # pair generation) and `supp` another three (the prune vocabulary +
    # both metric joins) — six declared re-derivations of the grouped
    # basket pipeline whose deduplication previously depended on runtime
    # exchange reuse firing (bimodal — the lsh_ingest lesson). One eager
    # checkpoint each pins the basket table (one shuffle, scanned three
    # times) and the vocabulary-sized support table.
    items = (
        baskets.select(
            F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
        )
        .groupBy("basket")
        .agg(F.array_sort(F.collect_set("item")).alias("__items"))
        .localCheckpoint(eager=True)
    )
    # Single-row basket total: broadcast into every output row instead of
    # collecting it to the driver: the items/supp checkpoints are the
    # operator's only eager jobs.
    n_b = items.agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
    supp = (
        items.select(F.explode("__items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("supp"))
        .where(F.col("supp") >= min_item_support)
        .localCheckpoint(eager=True)
    )
    # A-Priori prune BEFORE pair generation: drop every infrequent item
    # from each basket so a hub basket of m items emits C(m',2) pairs for
    # the pruned m' — not C(m,2). The support joins below then only
    # re-attach counts (every surviving pair already has two frequent
    # members).
    if prune == "broadcast":
        # Vocabulary collapses to a single-row sorted array and
        # broadcasts; array_intersect prunes map-side with zero extra
        # shuffle. lambda-free set op keeps the prune inside whole-stage
        # codegen (the lang_id CSE lesson). Only viable while the
        # vocabulary is bounded — see the module docstring.
        freq = supp.agg(F.array_sort(F.collect_list("item")).alias("__freq"))
        items_pruned = items.crossJoin(F.broadcast(freq)).select(
            "basket",
            F.array_intersect(F.col("__items"), F.col("__freq"))
            .alias("__items"),
        )
    else:
        # Exploded semi-join prune: never materializes the vocabulary in
        # one row. Costs one extra shuffle (the regroup), but AQE still
        # broadcasts the supp side whenever it is actually small, and a
        # corpus-sized vocabulary degrades to a plain shuffle join
        # instead of an un-broadcastable array. collect_set + array_sort
        # restores the exact per-basket array the in-row pair generator
        # expects.
        items_pruned = (
            items.select("basket", F.explode("__items").alias("item"))
            .join(supp.select("item"), "item", "left_semi")
            .groupBy("basket")
            .agg(F.array_sort(F.collect_set("item")).alias("__items"))
        )
    # Pairs form IN-ROW per basket (the LSH bucket-combinatorics pattern):
    # nested transform+flatten emits each basket's ordered pairs locally —
    # per-basket pair counts are bounded by (pruned) basket size, never
    # corpus size.

    def _pairs_of(arr):
        def outer(x, i):
            def inner(y):
                return F.struct(x.alias("item_a"), y.alias("item_b"))

            return F.transform(
                F.slice(arr, i + 2, F.size(arr)), inner
            )

        return F.flatten(F.transform(arr, outer))

    pairs = (
        items_pruned.select(F.explode(_pairs_of(F.col("__items"))).alias("__p"))
        .groupBy(
            F.col("__p.item_a").alias("item_a"),
            F.col("__p.item_b").alias("item_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("pair_count"))
        .where(F.col("pair_count") >= min_pair_support)
    )
    out = (
        pairs.join(
            supp.select(F.col("item").alias("item_a"),
                        F.col("supp").alias("supp_a")),
            "item_a",
        )
        .join(
            supp.select(F.col("item").alias("item_b"),
                        F.col("supp").alias("supp_b")),
            "item_b",
        )
        .crossJoin(F.broadcast(n_b))
        .select(
            "item_a",
            "item_b",
            "pair_count",
            "supp_a",
            "supp_b",
            "n_baskets",
            (F.col("pair_count").cast("double")
             / F.col("supp_a").cast("double")).alias("confidence"),
            ((F.col("pair_count") * F.col("n_baskets")).cast("double")
             / (F.col("supp_a") * F.col("supp_b")).cast("double"))
            .alias("lift"),
        )
    )
    if top_k is not None:
        out = out.orderBy(
            F.col("pair_count").desc(), "item_a", "item_b"
        ).limit(top_k)
    return out
