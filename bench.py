"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion (count() materializes the full plan;
results are never collected to the driver).

NOTE: no `from __future__ import annotations` here — pandas_udf resolves
type hints at decoration time and string annotations break it."""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from meds_polars_functions_spark.session import get_spark

#: Headline queries: the engine's spine (scan/agg/join/window/sort), the
#: MEDS operator chain, and the scale-path extras.
HEADLINE = [
    "pricing_summary",
    "revenue_by_nation",
    "top_orders_per_customer",
    "agg_code_metadata",
    "normalization",
    "occlude_outliers",
    "filter_patients_min_events",
    "dedup_keep_first",
    "tokenize_event_seqs",
    "hourly_event_counts",
    "sessionize",
    "text_quality",
    "language_id",
    "doc_fingerprint",
    "minhash_near_dup",
    "embedding_topk",
    "embedding_topk_vectorized",
    # round 2 additions (BENCH_r01 never produced a number, so r02 is the
    # first baseline — widen the suite to the temporal-join and
    # decontamination families before the baseline freezes). pagerank is
    # deliberately NOT here: its per-iteration scheduling+checkpoint floor
    # (~10 s regardless of sf) would swamp the suite signal.
    "asof_purchase_click",
    "decontaminate",
]

#: Longitudinal (non-headline) timings: iterative / UDF-heavy paths whose
#: absolute numbers are noisy but whose round-over-round trend matters.
#: Kept OUT of the headline total so the frozen 19-key baseline from
#: BENCH_r02 stays comparable.
TRACKED = [
    "repeated_spans",
    "pagerank_trade",
    # round-3 additions (not in the frozen headline baseline)
    "bigram_lm",
    "dsir_weights",
    "bpe_pair_counts",
    "pq_topk",
    # round 9: the registered two-stage shortlist -> exact-cosine re-rank
    "pq_topk_rerank",
    # round 10: the registered hybrid BM25+cosine RRF retrieval, tracked
    # from birth (VERDICT r9 item 3)
    "hybrid_search",
    # round 10 (mid-round amendment): the registered MMR diversified
    # top-k, tracked from birth
    "mmr_topk",
    # round 11: the registered behavioral-analytics pair, tracked from
    # birth (VERDICT r10 item 3)
    "window_funnel",
    "monthly_retention",
    # round 12: the registered sessionized-analytics pair, tracked from
    # birth (the standing rule)
    "touch_attribution",
    "session_paths",
    # round 13: the registered profile/bitemporal pair, tracked from
    # birth (the standing rule)
    "approx_percentile_profile",
    "bitemporal_asof",
    # round 14: the six round-13 staged registrations plus the two
    # streaming twins, all tracked from birth (the standing rule)
    "audience_overlap",
    "hll_user_overlap",
    "stratified_sample",
    "weighted_group_sample",
    "kcore_trade",
    "stress_centrality",
    "streaming_hll_overlap",
    "streaming_percentile_profile",
    "winnow_pairs",
    "jaccard_prefix",
    "span_dedup",
    "label_propagation",
    "binned_quantiles",
    "embedding_dim_stats",
    "temperature_mixture",
    # round 4: the end-to-end curation composition (quality gate →
    # span dedup → temperature mixture → per-lang totals) — the number
    # a real corpus-curation user cares about (VERDICT r3 item 9)
    "curation_v2",
    # round 16: the seven queries the full-registry sweep found slow and
    # round 16 fixed, tracked so they cannot regress unseen again
    "bloom_semi_filter",
    "simhash_buckets",
    "simhash_near_dup",
    "blocklist",
    "logreg_step",
    "embedding_near_dup",
    "triangles",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    queries = entry_mod.queries()

    # warm the JVM/codegen/file-index paths so the first timed query does
    # not absorb session startup
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    entry_mod._t(spark, sf_dir, "lineitem").count()
    # ... and the reusable Python worker pool (one process per slot, each
    # importing pandas/numpy), so the first Arrow-UDF query doesn't absorb
    # 32 interpreter startups either
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _noop(s: pd.Series) -> pd.Series:
        return s

    par = spark.sparkContext.defaultParallelism
    spark.range(0, 10 * par, 1, par).select(_noop("id")).count()
    # ... and whole-stage-codegen + Arrow struct paths for the heaviest
    # operator shape (minhash: exchange→ArrowEvalPython→posexplode→
    # hash-agg→joins) on a 64-doc sample, so the timed run measures
    # steady-state throughput, not first-compile of the plan shape
    from meds_polars_functions_spark.operators.dedup import minhash_dedup_pairs

    sample = entry_mod._t(spark, sf_dir, "documents").limit(64)
    minhash_dedup_pairs(sample, "text", "doc_id", threshold=0.5).count()

    def run(names: list[str]) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in names:
            fn = queries[name]
            # round 15: several operators persist compact intermediates
            # (one-pass signature/feature tables). CacheManager matches
            # canonically-equal plans session-wide, so clear before each
            # query: every timed run computes from the parquet inputs
            # alone, never from a cache a previous query (or the
            # warm-up) left behind. No current queries share subplans —
            # this is a guard, not a behavior change; timings remain
            # comparable to prior rounds.
            spark.catalog.clearCache()
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.count()
            out[name] = round(time.time() - t0, 3)
        return out

    timings = run(HEADLINE)
    tracked = run(TRACKED)

    # Honest re-measurement of the projection-only headline queries:
    # count() lets Catalyst eliminate cardinality-preserving projections,
    # so for these three the frozen headline number times little more
    # than the scan. Reported SEPARATELY (noop sink evaluates every
    # output column) so the frozen 19-key baseline stays comparable.
    forced = {}
    for name in ["text_quality", "language_id", "doc_fingerprint"]:
        fn = queries[name]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        forced[name] = round(time.time() - t0, 3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "tracked": tracked,
                "forced": forced,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                # Solo-number provenance (VERDICT r6 item 1): wall-clock
                # on this shared box swings +-40% round-to-round on
                # bit-identical code (SCALE.md METHOD; r6's +74% was
                # host load — the interleaved A/B showed -1.5%). Compare
                # rounds ONLY via scripts/ab.py interleaved tables in
                # SCALE.md, not via this solo number.
                "note": "solo wall-clock; host-load sensitive - see SCALE.md METHOD + per-round interleaved A/B",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
