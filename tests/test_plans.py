"""Physical-plan property tests: the scale claims in SCALE.md, executable.

These assert the *shape* of the plan Catalyst produces — filters pushed
to the parquet scan, dimension joins broadcast (never sort-merge),
aggregations partial+final, no superfluous exchanges — so a regression
that silently de-optimizes a plan fails CI, not a 100 TB run."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def entry_mod():
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as em

    return em


def test_filter_pushdown_reaches_scan(spark, entry_mod):
    plan = plan_of(entry_mod.queries()["forecast_revenue"](spark, SF))
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan


def test_column_pruning(spark, entry_mod):
    plan = plan_of(entry_mod.queries()["pricing_summary"](spark, SF))
    # ReadSchema must not include unused lineitem columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_partial_aggregation(spark, entry_mod):
    plan = plan_of(entry_mod.queries()["agg_code_metadata"](spark, SF))
    assert "partial_" in plan  # map-side combine before the exchange


def test_dimension_joins_broadcast_not_sortmerge(spark, entry_mod):
    for q in ["revenue_by_nation", "normalization", "filter_measurements",
              "occlude_outliers"]:
        plan = plan_of(entry_mod.queries()[q](spark, SF))
        assert "BroadcastHashJoin" in plan, q
        assert "SortMergeJoin" not in plan, q


def test_semi_join_for_measurement_filter(spark, entry_mod):
    plan = plan_of(entry_mod.queries()["filter_measurements"](spark, SF))
    assert "LeftSemi" in plan  # filter never widens the fact table


def test_single_exchange_for_flat_agg(spark, entry_mod):
    import re

    plan = plan_of(entry_mod.queries()["pricing_summary"](spark, SF))
    # one Exchange node (formatted output lists each node twice: tree+detail)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_canonical_sort_is_not_global(spark, entry_mod):
    from meds_polars_functions_spark.operators.merge_sort import canonical_sort

    entry_mod._prep(spark)
    meds = entry_mod._meds(spark, SF).drop("event_id")
    plan = plan_of(canonical_sort(meds))
    # hash repartition + per-partition sort; no range exchange (global sort)
    assert "rangepartitioning" not in plan.lower()
    assert "hashpartitioning(patient_id" in plan
    # Sort node args: [keys...], global(=false), offset — formatted output
    # renders the global flag positionally
    sort_args = [
        l for l in plan.splitlines() if l.strip().startswith("Arguments: [patient_id")
    ]
    assert sort_args and ", false, " in sort_args[0]

def test_minhash_candidates_single_bucket_exchange(spark, entry_mod):
    """LSH candidate generation: banding groups through ONE hash exchange
    with a partial collect_set below it, pair expansion is bucket-local,
    plus the final pair-dedup exchange and (small single-file input) the
    conditional spread exchange below the signature UDF. A self-join
    formulation (two shuffles of the banded table) must not sneak back
    in, and the UDF must appear exactly once — not duplicated below the
    spread exchange by ExtractPythonUDFs."""
    from meds_polars_functions_spark.operators.dedup import minhash_lsh_candidates

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    import re

    plan = plan_of(minhash_lsh_candidates(docs, "text", "doc_id"))
    # formatted output lists each node twice (tree + detail)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 3
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "partial_collect_set" in plan
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1


def _object_plan_counts(df):
    """Count (ReusedExchangeExec, ArrowEvalPythonExec) nodes by walking
    the executed plan OBJECT tree — descending through the adaptive root
    (finalPhysicalPlan) and into materialized query-stage subtrees
    (QueryStageExec.plan), which children() does not expose. Unlike the
    toString() text this cannot be hidden by the AQE printer collapsing
    an already-materialized subtree (the ~1/20 round-10 artifact)."""
    counts = {"ReusedExchangeExec": 0, "ArrowEvalPythonExec": 0}

    def walk(node):
        name = node.getClass().getSimpleName()
        if name in counts:
            counts[name] += 1
        if name == "AdaptiveSparkPlanExec":
            walk(node.finalPhysicalPlan())
            return
        if "QueryStage" in name:
            try:
                walk(node.plan())
                return
            except Exception:
                pass  # non-materialized stage: fall through to children
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    return (counts["ReusedExchangeExec"], counts["ArrowEvalPythonExec"])


def _object_node_count(df, simple_name: str) -> int:
    """Count nodes of one class in the executed plan by the same
    adaptive-aware object walk as _object_plan_counts (the printed final
    plan collapses materialized query stages, so text counts undercount)."""
    n = 0

    def walk(node):
        nonlocal n
        name = node.getClass().getSimpleName()
        if name == simple_name:
            n += 1
        if name == "AdaptiveSparkPlanExec":
            walk(node.finalPhysicalPlan())
            return
        if "QueryStage" in name:
            try:
                walk(node.plan())
                return
            except Exception:
                pass
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    return n


def _executed_plan_counts(build, expected, attempts=3):
    """Execute the plan and count (ReusedExchange, ArrowEvalPython)
    nodes. Primary signal (ADVICE r11): the printer-independent OBJECT
    walk above. The plan TEXT is cross-checked as a diagnostic; a
    TEXT-side mismatch (the documented AQE printer artifact, which
    HIDES nodes from the string while the object tree is unchanged —
    observed ~1/20 in rounds 10-12) triggers a re-execute, and when
    the OBJECT tree matches ``expected`` on every attempt the object
    tree is trusted (a toString rendering bug is not a plan property).

    Round-13 revision: an object-tree MISMATCH now also retries
    instead of failing the first read. Evidence: in one of three
    round-13 full-suite runs the object walk read ONE ArrowEvalPython
    under a long-lived session (an AQE stage-materialization state the
    walk's QueryStage descent missed), while the same test passed 3/3
    in isolation and in both other full runs — the object tree is
    *nearly* artifact-free, not perfectly so. Detection is preserved:
    a REAL plan regression (an extra corpus pass, a duplicated UDF
    stage) is deterministic, mismatches on EVERY attempt, and still
    fails; only state-dependent single-read artifacts are absorbed."""
    got = None
    for _ in range(attempts):
        out = build()
        out.collect()
        got = _object_plan_counts(out)
        if got != expected:
            continue  # artifact or regression: re-execute decides
        executed = out._jdf.queryExecution().executedPlan().toString()
        final = executed.split("+- == Initial Plan ==")[0]
        text = (final.count("ReusedExchange"), final.count("ArrowEvalPython"))
        if text == expected:
            return got
    # Either the object tree mismatched on every attempt (report the
    # last read — a real regression fails here), or it matched on every
    # attempt and only the printed string disagreed (trust the object
    # tree: ``got`` equals ``expected`` in that branch).
    return got


def test_minhash_verify_one_signature_pass(spark, entry_mod):
    """minhash_dedup_pairs computes signatures in ONE corpus pass: the
    struct UDF output sits behind a lazy localCheckpoint (round 15), so
    the banding branch and both verification join sides read the same
    checkpointed RDD and the FINAL executed plan contains ZERO
    ArrowEvalPython nodes — the signature UDF only ever runs inside the
    single shared map stage that materializes the checkpoint. (The
    previous shared-exchange/ReusedExchange mechanism was defeated by
    Spark 4.1 per-branch struct-field pruning: the executed plan re-ran
    the UDF, a second full corpus pass at scale; a plan-keyed persist
    fixed that but paid an extra columnar copy — the RDD checkpoint
    measured faster and is session-cache-clean.) The RDDScanExec count
    pins the three consumers actually reading the checkpoint."""
    from meds_polars_functions_spark.operators.dedup import minhash_dedup_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # both hash modes (crc32 default, portable md5) must keep the shape —
    # the driver's oracle query runs the portable mode
    for portable in (False, True):
        out = minhash_dedup_pairs(
            docs, "text", "doc_id", threshold=0.5, portable=portable
        )
        out.collect()
        counts = _object_plan_counts(out)
        assert counts == (0, 0), f"portable={portable}: {counts}"
        n_rdd_scans = _object_node_count(out, "RDDScanExec")
        assert n_rdd_scans >= 3, f"portable={portable}: {n_rdd_scans}"


def test_pack_sequences_window_is_sharded(spark, entry_mod):
    """The packing cumsum window partitions by shard — a global-order
    window (Exchange SinglePartition) must never sneak in."""
    from meds_polars_functions_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(pack_sequences(docs, "text", "doc_id"))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(shard" in plan


def test_mixture_sample_is_map_side(spark, entry_mod):
    """Mixture re-weighting is a pure filter over the scan: no exchange,
    no join, no aggregation anywhere in the plan."""
    import re

    from meds_polars_functions_spark.operators.packing import mixture_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(mixture_sample(docs, "source", "doc_id", {"src0": 0.5}))
    assert not re.search(r"\(\d+\) Exchange", plan)
    assert "Join" not in plan and "Aggregate" not in plan


def test_lm_score_truncated_vocab_broadcasts(spark, entry_mod):
    """With top_k set, the posting->prob lookup must be a broadcast hash
    join (the top-k table is bounded regardless of corpus size) — never a
    shuffle of the posting list against the full count table."""
    from meds_polars_functions_spark.operators.text import unigram_lm_score

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(unigram_lm_score(docs, "text", "doc_id", top_k=1000))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semantic_dedup_pairs_is_hash_join_on_cell(spark, entry_mod):
    """The within-cell pair expansion must plan as an equi-join on the
    cell id (hash-partitionable, AQE-skew-splittable) — never a nested
    loop / cartesian plan; centroid assignment folds map-side (no join
    before the self-join)."""
    from meds_polars_functions_spark.operators.dedup import semantic_dedup_pairs
    from meds_polars_functions_spark.operators.similarity import (
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    cents = train_ivf_centroids(
        emb, "embedding", n_centroids=4, sample_fraction=1.0, order_col="vec_id"
    )
    # reference (expression-join) path: an equi-join on cell, never a
    # cartesian/nested-loop plan
    plan = plan_of(
        semantic_dedup_pairs(emb, "embedding", "vec_id", cents, 0.5, vectorized=False)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Join") >= 1
    # default (vectorized) path: ONE exchange on the cell id feeding an
    # Arrow-grouped matmul kernel — no join, no cartesian anything
    vplan = plan_of(semantic_dedup_pairs(emb, "embedding", "vec_id", cents, 0.5))
    assert "FlatMapGroupsInPandas" in vplan
    assert "CartesianProduct" not in vplan
    assert "Join" not in vplan
    import re

    assert len(re.findall(r"\(\d+\) Exchange", vplan)) == 1


def test_clf_score_is_single_scan_zero_shuffle(spark, entry_mod):
    """The hashed linear classifier must score the corpus in one scan:
    no Exchange of any kind, no join, no Python boundary — the weight
    vector is a plan literal."""
    import re

    plan = plan_of(entry_mod.queries()["clf_score"](spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0
    assert "BroadcastExchange" not in plan
    assert "Join" not in plan
    assert "Python" not in plan  # no ArrowEvalPython / FlatMap* stages
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_bigram_lm_topk_mode_is_broadcast_only(spark):
    """With top_k set, both pruned count tables broadcast — the scoring
    pass must contain no sort-merge join (the 100 TB shape)."""
    from meds_polars_functions_spark.operators.text import bigram_lm_score

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(bigram_lm_score(docs, "text", "doc_id", top_k=500))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_bm25_filters_postings_before_shuffle(spark):
    """The query-term filter must sit below the (doc, term) aggregation
    exchange — the posting shuffle carries only matching tokens — and
    the df/stats sides must broadcast, never sort-merge against tf."""
    from meds_polars_functions_spark.operators.text import bm25_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(bm25_scores(docs, ["spark", "window"], "text", "doc_id"))
    assert "array_contains" in plan  # term filter present map-side
    assert "SortMergeJoin" not in plan or "BroadcastHashJoin" in plan


def test_pq_adc_scan_is_single_corpus_pass_broadcast_only(spark):
    """PQ ADC: the corpus must be scanned ONCE (encode is map-side
    literal algebra), the query/LUT side must broadcast (never
    sort-merge), and the only shuffle is the final per-query top-k
    window exchange."""
    import re

    from meds_polars_functions_spark.operators.similarity import (
        pq_topk,
        train_pq_codebooks,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    books = train_pq_codebooks(
        emb, "embedding", dim=64, m_subspaces=8, n_centroids=8,
        sample_fraction=1.0, order_col="vec_id",
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = plan_of(pq_topk(emb, queries, books, k=5, tie_round=6))
    assert "SortMergeJoin" not in plan
    # corpus pass + (tiny, filter-pushed) query-side pass of the same file
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    # exactly one non-broadcast exchange: the final top-k window shuffle
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "BroadcastExchange" in plan


def test_span_dedup_no_sortmerge_and_text_scanned_not_shuffle_exploded(spark, entry_mod):
    """Winner election shuffles hashes only; the document text is re-read
    from the scan for reassembly (2 scans) rather than exploded through
    an exchange; partial agg applies to the hash election."""
    import re

    plan = plan_of(entry_mod.queries()["span_dedup"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "partial_" in plan
    # formatted plans print each node in tree AND detail section; count
    # the detail headers only
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 2


def test_temperature_mixture_rates_broadcast(spark, entry_mod):
    """The per-source rate dim reaches the corpus via broadcast — the
    corpus side is never shuffled for the keep decision."""
    plan = plan_of(entry_mod.queries()["temperature_mixture"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_binned_quantiles_single_histogram_pass(spark, entry_mod):
    """One scan of lineitem feeds a partial+final agg; quantiles come
    from the cell table (window over bins), never a second data pass."""
    import re

    plan = plan_of(entry_mod.queries()["binned_quantiles"](spark, SF))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert "partial_" in plan
    assert "SortMergeJoin" not in plan


def test_embedding_dim_stats_exchange_is_row_count_independent(spark, entry_mod):
    """The only exchanges carry the per-partition (dim, n, s, ss)
    partials — two exchanges max (partial reduce + AQE final), with the
    vectors folded inside an Arrow mapInPandas before any shuffle."""
    plan = plan_of(entry_mod.queries()["embedding_dim_stats"](spark, SF))
    assert plan.count("Exchange") <= 2
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower()
    assert "partial_" in plan


def test_sufficient_statistic_ops_single_scan_partial_agg(spark, entry_mod):
    """OLS trend and Welch t reduce to one scan + partial/final agg —
    no joins, no second data pass."""
    import re

    for q in ["code_value_trend", "welch_ttest"]:
        plan = plan_of(entry_mod.queries()[q](spark, SF))
        assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, q
        assert "partial_" in plan, q
        assert "Join" not in plan, q


def test_code_pmi_marginals_broadcast_no_basket_self_join(spark, entry_mod):
    """Pairs are generated map-side inside baskets; the only joins are
    broadcast marginal lookups — never a shuffle self-join of baskets."""
    plan = plan_of(entry_mod.queries()["code_pmi"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_decontaminate_is_one_corpus_pass_broadcast_only(spark, entry_mod):
    # round-4 rewrite: the corpus shingle pipeline must be evaluated ONCE
    # (one Arrow UDF stage for the corpus side, one for the broadcast
    # benchmark side) and the benchmark join must be a broadcast hash
    # join — a regression back to semi-join + separate size scan would
    # show a third Python stage / a sort-merge join.
    import re

    plan = plan_of(entry_mod.queries()["decontaminate"](spark, SF))
    # formatted output lists each node once in the tree and once in the
    # details section — count detail headers "(n) ArrowEvalPython"
    n_python_stages = len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M))
    assert n_python_stages == 2, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_containment_minhash_one_signature_pass(spark, entry_mod):
    """containment_pairs_minhash inherits minhash_dedup_pairs' one-pass
    checkpointed-signature shape (round 15): ZERO ArrowEvalPython in the
    final executed plan (the UDF runs only in the checkpoint's shared map
    stage) and the banding branch plus both verify join sides read the
    checkpointed RDD — the whole point of the composed scale path is that
    it does NOT re-run the signature UDF or re-shuffle text per branch."""
    from meds_polars_functions_spark.operators.dedup import containment_pairs_minhash

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for portable in (False, True):
        out = containment_pairs_minhash(
            docs, "text", "doc_id", threshold=0.5, portable=portable
        )
        out.collect()
        counts = _object_plan_counts(out)
        assert counts == (0, 0), f"portable={portable}: {counts}"
        n_rdd_scans = _object_node_count(out, "RDDScanExec")
        assert n_rdd_scans >= 3, f"portable={portable}: {n_rdd_scans}"


def test_kneser_ney_topk_mode_is_broadcast_only(spark):
    """With top_k set, the pruned bigram table and both derived model
    tables broadcast — the scoring pass must contain no sort-merge join
    (the 100 TB shape, same contract as bigram_lm's top_k mode)."""
    from meds_polars_functions_spark.operators.text import kneser_ney_lm_score

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(kneser_ney_lm_score(docs, "text", "doc_id", top_k=500))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_bm25_topk_term_prune_is_broadcast_semi_before_shuffle(spark):
    """bm25_topk (the staged hybrid_search's lexical stage): the corpus
    explode must be pruned by a BROADCAST left-semi join on the query
    term set BEFORE the (doc, term) tf exchange — at 100 TB the only
    corpus-sized shuffle carries matching tokens, never the vocabulary.
    Round 16 checkpoints the tf table (one corpus pass serves dfreq and
    the scorer), which hides that subtree behind a LogicalRDD in the
    final explain — so the prune shape is pinned on the _bm25_tf seam
    (the exact expression bm25_topk checkpoints), and the final plan is
    pinned join-strategy-clean: every remaining join must broadcast; the
    single nested-loop join allowed is the one-row stats crossJoin."""
    from meds_polars_functions_spark.functions.tokenize import TEXT
    from meds_polars_functions_spark.operators.retrieval import (
        _bm25_tf,
        bm25_topk,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = spark.createDataFrame(
        [(0, ["spark", "window"]), (1, ["merge", "sort"])],
        "query_id long, terms array<string>",
    )
    # the seam: corpus tokens semi-pruned by the broadcast term set
    # BEFORE the (id, t) exchange
    words = docs.select(F.col("doc_id").alias("id"), TEXT.words(F.col("text")).alias("ws"))
    term_set = q.select(F.explode("terms").alias("t")).distinct()
    tf_plan = plan_of(_bm25_tf(words, term_set))
    assert "BroadcastHashJoin" in tf_plan and "LeftSemi" in tf_plan
    # the semi prune must sit BELOW the tf aggregation's exchange (the
    # formatted tree prints parents first, so the semi-join line comes
    # AFTER the Exchange line that consumes it)
    tree = tf_plan.split("\n\n", 1)[0].splitlines()
    exch_at = next(i for i, ln in enumerate(tree) if "Exchange" in ln)
    semi_at = next(i for i, ln in enumerate(tree) if "LeftSemi" in ln or "BroadcastHashJoin" in ln)
    assert exch_at < semi_at, "semi prune must execute before the tf exchange"
    assert "SortMergeJoin" not in tf_plan and "ShuffledHashJoin" not in tf_plan

    plan = plan_of(bm25_topk(docs, q, k=5))
    assert "BroadcastHashJoin" in plan  # dfreq / qterms scoring joins
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # one-row stats side: broadcast nested loop is fine, a shuffled one is not
    assert "ShuffledHashJoin" not in plan


def test_rrf_fuse_never_touches_the_corpus(spark):
    """rrf_fuse consumes per-query top-k frames: its plan is one bounded
    union + hash aggregate + per-query window — no join back to any
    corpus table, no sort-merge, no broadcast needed at all."""
    from meds_polars_functions_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 2)], "query_id long, doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(0, 2, 1), (0, 3, 2)], "query_id long, doc_id long, rank int"
    )
    plan = plan_of(rrf_fuse([a, b], k=5))
    assert "Union" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    # exactly two exchanges (agg + window partitioning; formatted output
    # lists each node once in the tree and once as a "(N) Exchange"
    # detail header — count the headers) and the rank cut is pushed
    # below the final sort as a group-limit
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2
    assert "WindowGroupLimit" in plan


def test_pq_rerank_pushes_shortlist_ids_into_raw_scan(spark):
    """pq_topk(rerank=): the bounded shortlist's id set must reach the
    raw-embedding parquet scan as an In() pushed filter (row-group
    pruning — at 100 TB the re-rank reads only shortlisted vectors,
    never streams the raw table), and the raw side must join against a
    broadcast literal pair frame, never sort-merge."""
    from meds_polars_functions_spark.operators.similarity import (
        pq_topk,
        train_pq_codebooks,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    books = train_pq_codebooks(
        emb, "embedding", dim=64, m_subspaces=8, n_centroids=16,
        sample_fraction=1.0, order_col="vec_id",
    )
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = plan_of(pq_topk(emb, q, books, k=3, tie_round=6, rerank=10))
    assert "In(vec_id, [" in plan  # shortlist ids pushed to the raw scan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_pq_rerank_isin_threshold_falls_back_to_broadcast_join(
    spark, monkeypatch
):
    """Above MAX_ISIN_PUSHDOWN_IDS distinct shortlist ids (ADVICE r10:
    ~100k literals in one In() predicate is a Catalyst plan-size /
    codegen footgun), the rerank must SKIP the isin literal fold and
    rely on the broadcast shortlist join alone — same rows out, no
    In(vec_id, …) in the raw scan, still never sort-merge."""
    from meds_polars_functions_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    books = sim.train_pq_codebooks(
        emb, "embedding", dim=64, m_subspaces=8, n_centroids=16,
        sample_fraction=1.0, order_col="vec_id",
    )
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    def rows_of(df):
        return sorted(map(tuple, df.collect()))

    with_isin = rows_of(
        sim.pq_topk(emb, q, books, k=3, tie_round=6, rerank=10)
    )
    monkeypatch.setattr(sim, "MAX_ISIN_PUSHDOWN_IDS", 3)
    fallback = sim.pq_topk(emb, q, books, k=3, tie_round=6, rerank=10)
    plan = plan_of(fallback)
    assert "In(vec_id, [" not in plan  # literal fold skipped
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # the pruning strategy changed, the result must not
    assert rows_of(fallback) == with_isin


def test_mmr_corpus_join_broadcast_single_pandas_stage(spark):
    """mmr_rerank (round-10 staged): the bounded candidate set must
    BROADCAST into the corpus-embedding join (the raw table is read
    once, never shuffled or sort-merged), the candidate pair self-join
    must broadcast too, and the greedy stage must be exactly ONE
    Arrow-batched FlatMapGroupsInPandas — a second Pandas stage would
    mean the pair rows took an extra Python round-trip."""
    from meds_polars_functions_spark.operators.retrieval import mmr_rerank

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    cand = spark.createDataFrame(
        [(q, d, 1.0 / (d + 1)) for q in range(2) for d in range(10)],
        "query_id long, doc_id long, score double",
    )
    import re

    plan = plan_of(mmr_rerank(cand, emb, k=5, lam=0.7))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # formatted output lists each node once in the tree and once as a
    # "(N) <Node>" detail header — count the headers
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1  # the groupBy only
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1  # ONE corpus read


def test_audience_overlap_bitmap_join_no_pairs_no_python(spark, entry_mod):
    """Round-13 staged grouped-sketch join, the 100 TB pin: the tagged
    union flows into FILTER-ed bitmap aggregates — the only Join
    anywhere is the broadcast of the 1-row window-bounds aggregate
    (BroadcastNestedLoopJoin of a single row), never a SortMergeJoin or
    a key-pair expansion; both aggregate stages carry partials
    map-side; zero Python nodes."""
    plan = plan_of(entry_mod._registry()["audience_overlap"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "Python" not in plan
    assert "bitmap_construct_agg" in plan
    assert "partial_" in plan


def test_hll_user_overlap_sketch_join_is_metadata_sized(spark, entry_mod):
    """The HLL sketch-join path: per-side sketches reduce each corpus
    to one row per group BEFORE any join, so every Join node in the
    plan is a broadcast (sketch tables + the 1-row bounds + the 5-row
    exact recompute); zero SortMergeJoin, zero Python."""
    plan = plan_of(entry_mod._registry()["hll_user_overlap"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "Python" not in plan
    assert "hll_sketch_agg" in plan


def test_stratified_sample_targets_broadcast_one_corpus_exchange(spark, entry_mod):
    """Round-13 staged sampling pair: the per-stratum target table
    (|strata| rows) joins by BROADCAST; the corpus moves through
    exactly one hash exchange on the strata key for the rank window —
    no SortMergeJoin, no Python."""
    plan = plan_of(entry_mod._registry()["stratified_sample"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan


def test_weighted_group_sample_key_is_map_side_no_join(spark, entry_mod):
    """The race key is a pure map-side expression: zero Join nodes of
    any kind, zero Python; one corpus exchange on the group key feeds
    the rank window."""
    plan = plan_of(entry_mod._registry()["weighted_group_sample"](spark, SF))
    assert "Join" not in plan
    assert "Python" not in plan


def test_windowed_set_retention_no_join_no_python_metadata_stack(spark, entry_mod):
    """Round-14 staged windowed-state family, the 100 TB pin: the exact
    retention plan has ZERO Join nodes of any kind and zero Python —
    window-over-window comparison is a pure projection STACK of the
    localCheckpoint-ed cell table (the checkpoint also means the
    visible plan starts at the materialized cells: the one corpus
    exchange happened exactly once, behind the lineage cut), closed by
    FILTER-ed bitmap aggregates with map-side partials."""
    from meds_polars_functions_spark.functions.sketches import (
        windowed_set_retention,
    )

    ev = entry_mod._t(spark, SF, "events")
    plan = plan_of(
        windowed_set_retention(ev, "ts", ["event_type"], "user_id", "1 day")
    )
    assert "Join" not in plan
    assert "Python" not in plan
    assert "bitmap_or_agg" in plan
    assert "partial_" in plan
    # the corpus was consumed before the checkpoint: no parquet scan
    # (and hence no second corpus pass) appears in the close plan
    assert "Scan parquet" not in plan


def test_windowed_sketch_retention_close_no_join_no_python(spark, entry_mod):
    """The HLL windowed-state close: FILTER-ed hll_union_agg over the
    sketch-cell stack — zero Join, zero Python, same lineage-cut
    contract as the bitmap twin."""
    from meds_polars_functions_spark.functions.sketches import (
        windowed_sketch_retention,
    )

    ev = entry_mod._t(spark, SF, "events")
    plan = plan_of(
        windowed_sketch_retention(ev, "ts", ["event_type"], "user_id", "1 day")
    )
    assert "Join" not in plan
    assert "Python" not in plan
    assert "hll_union_agg" in plan
    assert "Scan parquet" not in plan
