"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints TWO JSON lines — the full registry
sweep first, then the compact headline line LAST so a bounded tail
capture always retains it:
{"metric": "registry_sweep_runtimes", "sweep": {...}, "sf": ...}
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized via the no-op sink (executes the whole
plan executor-side, no driver collect). Each tier is first run once at
$SPARK_GRAFT_WARM_DIR (sf0.001) so the timed runs measure execution, not
codegen compile; the session is ``simple_anonymizer_spark.session.get_spark``.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

from simple_anonymizer_spark.queries import QUERIES
from simple_anonymizer_spark.session import best_of, get_spark, noop

HEADLINE = [
    "anon_customer_pii",
    "spec_subset_chain",
    "selfref_closure",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "window_top_orders",
    "agg_segment_stats",
    "events_tumbling",
    "events_sessionize",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_stats",
    "lang_id",
    "doc_fingerprint",
    "embedding_topk",
    "multimodal_meta",
    # Round-2/3 heavy operators — benched so a scale regression in them is
    # caught by the committed artifact, not a manual sweep. (Keeps the
    # original 18 above unchanged for round-over-round comparability.)
    "simjoin_exact_jaccard",
    "embedding_kmeans",
    "cms_sketch_tokens",
    "zorder_orders",
    "equidepth_order_prices",
    "pack_sequences_docs",
    # Round-4 operators: the heaviest of the TPC-H extension block plus
    # the new retrieval/sequence/graph operators.
    "q9_product_profit",
    "q21_waiting_suppliers",
    "pagerank_trade",
    "bm25_docs",
    "bigram_lm_docs",
    "markov_event_transitions",
    # Round-4 late additions: the explode/join-heavy new operators (span
    # scrubbing, within-cell semantic dedup, basket pairing, calendar
    # expansion) — the cheap ones (triangles, DP counts, generalization)
    # ride the oracle gate only.
    "scrub_dup_spans",
    "semantic_dedup_embeddings",
    "assoc_brand_pairs",
    "ts_daily_interpolate",
    "doc_surprisal_corpus",
    "dedup_golden_records",
    "pipeline_release_orders",
    "bpe_encode_docs",
    # The pair-Jaccard single-task serialization caught by the sf0.1 sweep
    # (fixed via ensure_parallelism) — benched so it can't silently recur.
    "ngram_jaccard_adjacent",
    # Round-4 session additions: the token-budget prefix-sum selection is
    # the only one with a two-job structure worth watching at scale.
    "token_budget_corpus",
    # Round-11 de-vacuization made the release composite do real work
    # (grouped split + 5-gram decontamination explode, ~6.9 s standalone
    # at sf0.1) — benched so a regression in the release path shows in
    # artifact-to-artifact comparisons (round-11 ask #6).
    "pipeline_release_corpus",
]

# Everything NOT in HEADLINE rides the sweep tier: one warm timed pass per
# query (vs best-of-2 for headliners), so the committed artifact carries a
# round-over-round number for the WHOLE registry — graph, privacy, GDPR,
# remix, PQ/recall included — without doubling the bench wall time.
SWEEP = [n for n in QUERIES if n not in HEADLINE]


def time_tier(
    spark: SparkSession,
    names: list[str],
    sf_dir: str,
    warm_dir: str,
    reps: int,
    errors: dict[str, str],
) -> dict[str, float]:
    """Warm every query of a tier at ``warm_dir``, then time each one
    best-of-``reps`` at ``sf_dir``, fully materialized into the no-op sink.

    The whole tier is warmed before any of it is timed (the first run of a
    big expression pays seconds of codegen compile, whose cache keys are
    scale-independent); a warm-up failure is left for the timed run to
    report. A query that THROWS while timed is recorded in ``errors`` (its
    exception class) instead of killing the bench: round 2 produced no
    number at all because one AnalysisException crashed the whole run, and
    a partial measurement always beats none.
    """
    for name in names:
        try:
            noop(QUERIES[name](spark, warm_dir))
        except Exception:  # noqa: BLE001 - the timed run reports it
            pass
    timings: dict[str, float] = {}
    for name in names:
        try:
            best, _ = best_of(lambda: noop(QUERIES[name](spark, sf_dir)), reps)
        except Exception as exc:  # noqa: BLE001 - record and continue
            errors[name] = type(exc).__name__
            continue
        timings[name] = round(best, 3)
    return timings


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("simple-anonymizer-spark-bench")

    # HEADLINE first, warmed and timed before the sweep is even warmed:
    # round 6 proved that warming the whole registry (231 plans) before
    # timing the headline tier contaminates the committed artifact —
    # accumulated JVM/session state inflated doc_surprisal_corpus to
    # 10.62 s in BENCH_r06 vs 2.02 s standalone best-of-3 (same box, same
    # config), manufacturing phantom regressions that grow with registry
    # size. The headline tier is the round-over-round comparability record
    # (best-of-2); the sweep tier gets one timed pass per query.
    errors: dict[str, str] = {}
    timings = time_tier(spark, HEADLINE, sf_dir, warm_dir, 2, errors)
    sweep = time_tier(spark, SWEEP, sf_dir, warm_dir, 1, errors)

    total = round(sum(timings.values()), 3)
    # Two lines, sweep FIRST and the compact headline LAST: the driver's
    # tail capture is bounded, and round 5 proved a single giant line gets
    # its head (the headline section) truncated away ("parsed": null in
    # BENCH_r05). The last line is small and self-contained, so any
    # bounded tail always retains a parseable headline.
    sweep_out = {
        "metric": "registry_sweep_runtimes",
        "unit": "sec",
        "sweep": sweep,
        "sf": sf,
    }
    print(json.dumps(sweep_out))
    out = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sweep_total": round(sum(sweep.values()), 3),
        "registry_covered": len(timings) + len(sweep),
        "sf": sf,
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
