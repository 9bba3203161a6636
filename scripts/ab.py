"""First-class interleaved same-session A/B harness (VERDICT r4 item 8 —
the generalization of round 4's one-off A/B). Any perf claim in SCALE.md should
ship with a table produced by this script: solo before/after runs on this
shared box are dominated by host load (the round-2..4 lesson; see
SCALE.md METHOD), while interleaving reference and current code inside
ONE warm Spark session removes the host from the comparison.

Usage:
    python scripts/ab.py <ref-rev-or-tree> [--out PATH] [query ...]

    <ref-rev-or-tree>  a git rev (a worktree is created under /tmp) or a
                       path to an existing checkout of the reference code
    --out PATH         where to write the raw-sample JSON record; default
                       records/ab_<ref>_vs_<head>.json IN THE REPO
                       (VERDICT r7 item 4: the per-round samples behind
                       every SCALE.md median must be auditable after the
                       fact — the round-7 contamination incident is why)
    [query ...]        registered query names; default = the 19 frozen
                       headline keys from the round-4 experiment

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     AB_ROUNDS (default 3).

Output: one JSON line per (tree, round) with per-query seconds, then a
per-query median-delta summary — negative delta_pct = current is faster.
The full record (env, revs, every per-round sample, summary) also lands
at --out.
"""

import json
import os
import statistics
import subprocess
import sys
import time

CUR_TREE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_ROUNDS = int(os.environ.get("AB_ROUNDS", "3"))

DEFAULT_QUERIES = [
    "pricing_summary", "revenue_by_nation", "top_orders_per_customer",
    "agg_code_metadata", "normalization", "occlude_outliers",
    "filter_patients_min_events", "dedup_keep_first", "tokenize_event_seqs",
    "hourly_event_counts", "sessionize", "text_quality", "language_id",
    "doc_fingerprint", "minhash_near_dup", "embedding_topk",
    "embedding_topk_vectorized", "asof_purchase_click", "decontaminate",
    # round-6 additions (VERDICT r5 item 5): the solo movers that were
    # never in the interleaved set, + one iterative representative
    "curation_v2", "temperature_mixture", "dsir_weights", "pagerank_trade",
    # round-7 additions: the similarity training paths touched this
    # round, + semantic_dedup as the connected-components canary (the
    # heaviest registered query never previously tracked: ~10 s at
    # sf0.1, dominated by iterative CC scheduler overhead in local mode)
    "kmeans_cells", "pq_topk", "ivf_topk", "semantic_dedup",
    # round-9 addition (VERDICT r8 item 5): the newly registered
    # two-stage ANN hot path, tracked in the A/B from birth
    "pq_topk_rerank",
    # round-10 addition (VERDICT r9 item 3): the newly registered hybrid
    # BM25+cosine RRF retrieval, tracked in the A/B from birth
    "hybrid_search",
    # round-10 amendment: the newly registered MMR diversified top-k,
    # tracked in the A/B from birth
    "mmr_topk",
    # round-11 additions (VERDICT r10 item 3): the newly registered
    # behavioral-analytics pair, tracked in the A/B from birth
    "window_funnel",
    "monthly_retention",
    # round-12 additions: the newly registered sessionized-analytics
    # pair, tracked in the A/B from birth
    "touch_attribution",
    "session_paths",
    # round-13 additions: the newly registered profile/bitemporal
    # pair, tracked in the A/B from birth
    "approx_percentile_profile",
    "bitemporal_asof",
    # round-14 additions: the six round-13 staged registrations plus
    # the two streaming twins, tracked in the A/B from birth
    "audience_overlap",
    "hll_user_overlap",
    "stratified_sample",
    "weighted_group_sample",
    "kcore_trade",
    "stress_centrality",
    "streaming_hll_overlap",
    "streaming_percentile_profile",
]


def resolve_ref_tree(ref: str) -> str:
    """A path is used as-is; a git rev gets a throwaway worktree."""
    if os.path.isdir(ref):
        return os.path.abspath(ref)
    sha = subprocess.run(
        ["git", "-C", CUR_TREE, "rev-parse", "--short", ref],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    tree = f"/tmp/ab_ref_{sha}"
    if not os.path.isdir(tree):
        subprocess.run(
            ["git", "-C", CUR_TREE, "worktree", "add", "--detach", tree, sha],
            check=True,
        )
    return tree


def load_tree(tree: str, other: str):
    """Swap the engine implementation under the shared Spark session."""
    for mod in list(sys.modules):
        if mod == "__spark_entry__" or mod.startswith("meds_polars_functions_spark"):
            del sys.modules[mod]
    sys.path[:] = [p for p in sys.path if p not in (tree, other)]
    sys.path.insert(0, tree)
    import __spark_entry__ as em  # noqa: PLC0415

    return em


def run_suite(spark, em, names: list[str], label: str) -> dict[str, float]:
    queries = em.queries()
    out: dict[str, float] = {}
    for name in names:
        if name not in queries:  # rev predates the query: report, don't die
            print(json.dumps({"tree": label, "missing": name}), flush=True)
            continue
        # round 15: operators persist compact intermediates and the
        # CacheManager matches canonically-equal plans session-wide —
        # clear between queries so no invocation (and no tree) ever
        # reads a cache built by a previous one; every sample
        # recomputes from parquet, like the driver's fresh-process
        # bench.
        spark.catalog.clearCache()
        t0 = time.time()
        queries[name](spark, SF_DIR).count()  # frozen BENCH methodology
        out[name] = round(time.time() - t0, 3)
    print(json.dumps({"tree": label, "total": round(sum(out.values()), 3),
                      "queries": out}), flush=True)
    return out


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    args = sys.argv[1:]
    out_path = None
    if "--out" in args:
        i = args.index("--out")
        if i + 1 >= len(args):
            sys.exit("ab.py: --out requires a PATH value")
        out_path = args[i + 1]
        del args[i : i + 2]
    ref_tree = resolve_ref_tree(args[0])
    names = args[1:] or DEFAULT_QUERIES

    head_sha = subprocess.run(
        ["git", "-C", CUR_TREE, "rev-parse", "--short", "HEAD"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    ref_label = os.path.basename(ref_tree).replace("ab_ref_", "")
    if out_path is None:
        out_path = os.path.join(
            CUR_TREE, "records", f"ab_{ref_label}_vs_{head_sha}.json"
        )
    record: dict = {
        "ref": ref_label, "head": head_sha, "sf_dir": SF_DIR,
        "n_rounds": N_ROUNDS, "queries": names, "samples": [],
    }

    sys.path.insert(0, CUR_TREE)
    from meds_polars_functions_spark.session import get_spark

    spark = get_spark("ab")
    # warm exactly like bench.py: JVM, scan, Python worker pool
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    load_tree(CUR_TREE, ref_tree)._t(spark, SF_DIR, "lineitem").count()
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _noop(s: pd.Series) -> pd.Series:
        return s

    par = spark.sparkContext.defaultParallelism
    spark.range(0, 10 * par, 1, par).select(_noop("id")).count()
    # one throwaway suite per tree so codegen caches are warm for BOTH
    run_suite(spark, load_tree(ref_tree, CUR_TREE), names, "warmup-ref")
    run_suite(spark, load_tree(CUR_TREE, ref_tree), names, "warmup-cur")

    ref_runs, cur_runs = [], []
    for rnd in range(N_ROUNDS):
        ref_runs.append(run_suite(spark, load_tree(ref_tree, CUR_TREE), names, "ref"))
        cur_runs.append(run_suite(spark, load_tree(CUR_TREE, ref_tree), names, "cur"))
        record["samples"].append({"round": rnd, "ref": ref_runs[-1], "cur": cur_runs[-1]})

    summary = {}
    names = [n for n in names if all(n in r for r in ref_runs + cur_runs)]
    for name in names:
        mr = statistics.median(r[name] for r in ref_runs)
        mc = statistics.median(r[name] for r in cur_runs)
        summary[name] = {"ref_med": mr, "cur_med": mc,
                         "delta_pct": round(100.0 * (mc - mr) / mr, 1)}
    tr = round(sum(v["ref_med"] for v in summary.values()), 3)
    tc = round(sum(v["cur_med"] for v in summary.values()), 3)
    record["summary"] = summary
    record["ref_total_med"], record["cur_total_med"] = tr, tc
    record["total_delta_pct"] = round(100.0 * (tc - tr) / tr, 1)
    print(json.dumps({"summary": summary, "ref_total_med": tr,
                      "cur_total_med": tc,
                      "total_delta_pct": record["total_delta_pct"]}),
          flush=True)
    if os.path.dirname(out_path):  # bare filename: cwd, nothing to create
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as fh:
        json.dump(record, fh, indent=1)
    print(f"raw samples -> {out_path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
