"""Oracle-grade local proof for the round-6 registrations (formerly the
round-5 STAGED pair) plus the staging plumbing.

The registry freeze lifted in round 6 (COVERAGE.md round-6 ledger):
kneser_ney_lm and kmeans_cells are now registered with window slots, and
kmeans_cells was upgraded from the rows-only contract to an INVARIANT
oracle (VERDICT r5 item 3). These tests hold both to the same strict
comparator the round-window sweep uses (scripts/compare_oracle._normalize
— int 1 != float 1.0, the round-4 red-row class), plus the dtype-parity
scan, ahead of the driver run.

STANDING STAGING RULE (promoted from the round-10 near-miss, VERDICT
r10 item 4): every staging starts from the `_registry()` listing —
``__spark_entry__`` binds registry entries to module-level ``q_*``
functions, so a duplicate ``def q_<name>`` SHADOWS the registered one
and silently turns its driver row red (the round-10 Markov-transition
candidate duplicated the long-registered `event_transitions` this way).
Names within edit distance 2 of a registered query need an explicit
differentiation note in the staged docstring (precedent:
retention_cohorts -> monthly_retention, one letter from the registered
daily retention_cohort). The no-double-booking assert in
test_staging_area_contents_and_promotions is the enforcement.
"""

from __future__ import annotations

import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry
from scripts.compare_oracle import _normalize

SF_DIR = "/root/testdata/sf0.001"

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def test_staging_area_contents_and_promotions():
    # Round 6: the freeze lifted; the round-5 staged pair registered.
    # Round 9: the round-8 staged pq_topk_rerank registered. Round 10:
    # the round-9 staged hybrid_search registered with window slot 1
    # (COVERAGE.md round-10 ledger); mmr_topk staged in its place, then
    # ALSO registered by explicit mid-round ledger amendment after its
    # oracle held at registration grade at three scale factors. Session
    # 2 then staged the behavioral-analytics pair (window_funnel +
    # monthly_retention) for round 11 — monthly_retention renamed from
    # its working name after the registry-hygiene audit (the registered
    # daily retention_cohort is one letter away; see COVERAGE.md).
    # Round 11: BOTH registered with window slots 1-2 (COVERAGE.md
    # round-11 ledger, registry 170 -> 172); staging is empty. Every
    # staged query must come WITH its oracle — a staged entry the
    # comparator cannot check verifies nothing.
    # Round 11 staged the sessionized-analytics pair (the r10 session-2
    # two-staging precedent, COVERAGE.md addendum): touch_attribution
    # (first/last-touch conversion credit) and session_paths (top-k
    # session journeys), both in operators/attribution.py and both
    # registry-audited per the standing rule (see their docstrings).
    # Round 12: BOTH registered with window slots 1-2 (COVERAGE.md
    # round-12 ledger, registry 172 -> 174). Round 12 stages the
    # approx-percentile profile family (VERDICT r11 item 4's named
    # candidate): the native mergeable-sketch quantile path with an
    # invariant oracle (operators/profiles.py), registry-audited per
    # the standing rule (nearest names value_percentiles/group_median
    # are EXACT sort-based percentiles, binned_quantiles is a
    # fixed-bin histogram, profile_events has no quantiles).
    # Second round-12 staging (the r10/r11 two-staging cadence):
    # bitemporal_asof — the point-in-time audit join (two time axes:
    # business validity + knowledge). Registry audit: nearest names
    # asof_purchase_click (1-D as-of, no knowledge axis),
    # scd2_priority (interval BUILD, no audit probe),
    # stream_interval_join/range_join_events (bounded pair joins).
    # Round 13: BOTH registered with window slots 1-2 (COVERAGE.md
    # round-13 ledger, registry 174 -> 176). Round 13 stages the
    # grouped-sketch-join pair: audience_overlap (exact bitmap set
    # overlap, strict SQL oracle) + hll_user_overlap (HLL sketch join,
    # invariant oracle). Registry audit in their docstrings (nearest
    # concepts: bitmap_distinct_users/code_patients_hll are
    # single-population counts; ngram_jaccard/jaccard_prefix are
    # document similarity; retention_cohort/monthly_retention are
    # cohort activity matrices — none computes a grouped set
    # intersection between two corpora).
    # Round 13 also stages the second family VERDICT r12 item 3 named
    # (the r10-session-2 double-staging precedent): the deterministic
    # sampling pair stratified_sample (proportional per-stratum md5
    # rank; class_balanced is the fixed-n flattening allocation,
    # mixture_sample is Bernoulli/inexact, hash_split is partition
    # assignment) + weighted_group_sample (per-group E-S race;
    # weighted_sample is the GLOBAL race).
    # Third round-13 staging (graph axis): kcore_trade — exact k-core
    # decomposition with a FULL-VALUE unrolled-CTE oracle (the
    # label_propagation precedent). Registry audit: pagerank_trade is
    # float importance, label_propagation is argmax communities,
    # triangles is closed-triple counting, dedup_clusters/semantic_dedup
    # are connected components (connectivity, not density tiers).
    # Fourth round-13 staging (centrality member of the graph axis):
    # stress_centrality — integer-credit sampled-Brandes, full-value
    # unrolled oracle. Registry audit: pagerank_trade float importance,
    # kcore_trade density tiers, label_propagation communities,
    # triangles local clustering — none counts paths THROUGH a node.
    # Round 14: the ENTIRE round-13 staged queue registered with window
    # slots 1-6 (COVERAGE.md round-14 ledger, registry 176 -> 182),
    # plus the streaming twins streaming_hll_overlap +
    # streaming_percentile_profile built AND registered per the
    # ledger's conditional clause (slots 7-8, 182 -> 184; VERDICT r13
    # item 4 — registry audit in their docstrings: the nearest names
    # hll_user_overlap / approx_percentile_profile are the BATCH rows;
    # the twins prove the STREAMING execution of the same aggregates
    # over a real multi-micro-batch file-source replay).
    # Round 14 stages the ONE family its ledger names (watermarked
    # windowed grouped sketch state, §2.10): windowed_user_retention
    # (exact bitmap day-over-day audience retention, strict SQL
    # oracle) + windowed_hll_retention (the HLL state path sharing its
    # per-window sketch table and close with the watermarked streaming
    # builder). Registry audit in their docstrings (nearest concepts:
    # monthly_retention/retention_cohort are FIRST-ACTIVITY cohort
    # matrices, audience_overlap/hll_user_overlap are a fixed two-
    # window pair, sliding_window_counts has no set algebra,
    # user_streaks is per-user gaps-and-islands).
    staged = entry.staged_queries()
    assert set(staged) == {
        "windowed_user_retention", "windowed_hll_retention",
    }
    assert set(entry.staged_oracle_sql()) == set(staged)
    registered = entry.queries()
    oracles = entry.oracle_sql()
    for name in (
        "kneser_ney_lm", "kmeans_cells", "pq_topk_rerank", "hybrid_search",
        "mmr_topk", "window_funnel", "monthly_retention",
        "touch_attribution", "session_paths",
        "approx_percentile_profile", "bitemporal_asof",
        "audience_overlap", "hll_user_overlap",
        "stratified_sample", "weighted_group_sample",
        "kcore_trade", "stress_centrality",
        "streaming_hll_overlap", "streaming_percentile_profile",
    ):
        assert name in registered
        assert name in oracles
    assert not set(staged) & set(registered)  # no double-booking


def test_hybrid_search_matches_oracle_strict(spark, con):
    """Round-9 staged, round-10 registered: BM25 top-20 + exact-cosine
    top-20 fused by reciprocal rank (1/(60+rank), round 9) -> top-10
    per query, vs the full DuckDB replay (same tokenizer, same
    ::DOUBLE float ops, same tie grids and rank orders on both stages
    and the fusion)."""
    _strict_compare(spark, con, "hybrid_search")


def test_hybrid_fusion_differs_from_both_single_modalities(spark):
    """The fusion must be a real combination, not a pass-through: the
    fused top-10 order disagrees with the lexical-only order AND with
    the semantic-only order for at least one (query, rank) slot — if it
    never did, the staged query would silently re-prove one input."""
    from meds_polars_functions_spark.operators.retrieval import bm25_topk, rrf_fuse
    from meds_polars_functions_spark.operators.similarity import brute_force_topk
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"[^a-z0-9']+"), lambda w: w != ""
    )
    qt = docs.filter(F.col("doc_id") < 4).select(
        F.col("doc_id").alias("query_id"), F.slice(toks, 1, 6).alias("terms")
    )
    lex = bm25_topk(docs, qt, k=20, tie_round=6)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    qv = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    sem = brute_force_topk(emb, qv, k=20, tie_round=9).select(
        "query_id", F.col("vec_id").alias("doc_id"), "rank"
    )
    fused = {
        (r["query_id"], r["rank"]): r["doc_id"]
        for r in entry.queries()["hybrid_search"](spark, SF_DIR).collect()
    }
    for single in (lex, sem):
        order = {
            (r["query_id"], r["rank"]): r["doc_id"]
            for r in single.filter(F.col("rank") <= 10).collect()
        }
        assert any(
            fused.get(key) != order.get(key) for key in fused
        ), "fusion is a pass-through of one modality"


def _strict_compare(spark, con, name):
    sdf = entry.queries()[name](spark, SF_DIR).toPandas()
    odf = con.execute(entry.oracle_sql()[name]).fetchdf()
    scols, srows = _normalize(sdf)
    ocols, orows = _normalize(odf)
    assert scols == ocols
    assert len(srows) == len(orows) > 0
    assert srows == orows
    # dtype parity (the round-4 red-row class): no int-vs-float skew
    assert [str(t) for t in sdf[sorted(sdf.columns)].dtypes] == [
        str(t) for t in odf[sorted(odf.columns)].dtypes
    ]


def test_pq_topk_rerank_matches_oracle_strict(spark, con):
    """Round-8 staged, round-9 registered: PQ-ADC shortlist (rank <= 20
    on the rounded approx distance) -> exact-cosine re-rank -> top-5, vs
    the full DuckDB replay (same codebook recompute, same tie grids,
    same rank orders). The registered oracle_sql() entry is built at the
    sf0.01 driver default; this local proof rebuilds it at sf0.001 so
    the codebook replay reads the same parquet the comparison does."""
    sdf = entry.queries()["pq_topk_rerank"](spark, SF_DIR).toPandas()
    odf = con.execute(entry._pq_topk_rerank_oracle_sql(sf_dir=SF_DIR)).fetchdf()
    scols, srows = _normalize(sdf)
    ocols, orows = _normalize(odf)
    assert scols == ocols
    assert len(srows) == len(orows) > 0
    assert srows == orows
    assert [str(t) for t in sdf[sorted(sdf.columns)].dtypes] == [
        str(t) for t in odf[sorted(odf.columns)].dtypes
    ]


def test_staged_rerank_differs_from_plain_adc_somewhere(spark):
    """The re-rank must be a real second stage, not a no-op: on sf0.001
    the exact-cosine order inside the 20-candidate shortlist disagrees
    with the raw ADC order for at least one (query, rank) slot — if it
    never did, the staged query would silently re-prove pq_topk."""
    plain = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in entry.queries()["pq_topk"](spark, SF_DIR).collect()
    }
    rer = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in entry.queries()["pq_topk_rerank"](spark, SF_DIR).collect()
    }
    assert set(plain) == set(rer)  # same (query, rank) grid
    assert any(plain[key] != rer[key] for key in plain)


def test_kneser_ney_lm_matches_oracle_strict(spark, con):
    _strict_compare(spark, con, "kneser_ney_lm")


def test_kmeans_cells_invariant_oracle_strict(spark, con):
    # the invariant oracle (VERDICT r5 item 3): argmin replay, coverage,
    # Lloyd monotonicity (incl. one extra update step), finite centroids
    # — all hash-compared against pinned values + the recomputed count
    _strict_compare(spark, con, "kmeans_cells")


def test_kmeans_cells_deterministic_rows(spark):
    rows1 = entry.queries()["kmeans_cells"](spark, SF_DIR).collect()
    rows2 = entry.queries()["kmeans_cells"](spark, SF_DIR).collect()
    assert rows1 == rows2  # seeded init + tolerance-guarded invariants


def test_kmeans_cells_oracle_is_falsifiable(spark):
    # the invariant computation must be able to fail: a corrupted model
    # (NaN centroid) flips centroids_finite, and a deliberately wrong
    # assignment flips all_nearest_frac below 1.0
    from pyspark.sql import functions as F

    from meds_polars_functions_spark.operators.similarity import (
        _cell_distances,
        kmeans_train_distributed,
    )

    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    cents, _ = kmeans_train_distributed(
        emb, "v", k=4, n_iters=3, seed=42, id_col="vec_id"
    )
    bad = [c[:] for c in cents]
    bad[0][0] = float("nan")
    assert not all(all(x == x for x in c) for c in bad)
    # wrong assignment: force everything into cell 0 and replay the check
    ds = _cell_distances("v", cents)
    frac = (
        emb.select(
            F.when(
                F.element_at(ds, F.lit(1)) <= F.array_min(ds) + F.lit(1e-9),
                F.lit(1.0),
            )
            .otherwise(F.lit(0.0))
            .alias("ok")
        )
        .agg(F.avg("ok"))
        .collect()[0][0]
    )
    assert frac < 1.0


def _dtype_key(t) -> str:
    # datetime64 RESOLUTION (Spark toPandas ns vs DuckDB fetchdf us) is
    # a pandas transport artifact, not a dtype class: the comparator
    # isoformats timestamp values, and raw-timestamp outputs are
    # driver-green (sessionize, r8). Only the unit is collapsed;
    # int-vs-float (the round-4 red-row class) still fails.
    s = str(t)
    return "datetime64" if s.startswith("datetime64") else s


def _strict_compare_staged(spark, con, name):
    # Every staged query's oracle test goes through this helper; a name
    # keeps using it after promotion (round-14 registration emptied the
    # staging area), so resolution falls back to the full registry.
    qs = {**entry._registry(), **entry.staged_queries()}
    os_ = {**entry.oracle_sql(), **entry.staged_oracle_sql()}
    sdf = qs[name](spark, SF_DIR).toPandas()
    odf = con.execute(os_[name]).fetchdf()
    scols, srows = _normalize(sdf)
    ocols, orows = _normalize(odf)
    assert scols == ocols
    assert len(srows) == len(orows) > 0
    assert srows == orows
    assert [_dtype_key(t) for t in sdf[sorted(sdf.columns)].dtypes] == [
        _dtype_key(t) for t in odf[sorted(odf.columns)].dtypes
    ]


def test_mmr_topk_matches_oracle_strict(spark, con):
    """Round-10 staged, round-10 registered (mid-round ledger
    amendment): exact-cosine top-20 candidates (round-9 rel grid)
    diversified by greedy MMR (lambda=0.7, k=5) vs the DuckDB replay
    whose greedy selection is UNROLLED as 5 chained CTEs — same
    already-rounded inputs, same round(lam*rel - (1-lam)*maxsim, 9)
    step arithmetic, same (mmr desc, doc_id) pick order."""
    _strict_compare(spark, con, "mmr_topk")


def test_mmr_diversifies_vs_pure_relevance(spark):
    """Falsifiability: the registered query's top-5 must differ from the
    pure-relevance top-5 (same candidates, lam=1.0 ordering) for at
    least one (query, rank) slot — if it never did, MMR would silently
    re-prove embedding_topk and register nothing new."""
    from pyspark.sql import functions as F

    from meds_polars_functions_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    qv = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rel_order = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in brute_force_topk(emb, qv, k=5, tie_round=9).collect()
    }
    mmr_order = {
        (r["query_id"], r["rank"]): r["doc_id"]
        for r in entry.queries()["mmr_topk"](spark, SF_DIR).collect()
    }
    assert set(rel_order) == set(mmr_order)  # same (query, rank) grid
    assert any(mmr_order[key] != rel_order[key] for key in mmr_order), (
        "MMR top-5 is a pass-through of the relevance order"
    )

def test_window_funnel_matches_oracle_strict(spark, con):
    """Round-10 (session 2) staged, round-11 REGISTERED (window slot 1):
    per-user windowed funnel view -> click -> purchase (strictly
    increasing ts, span <= 6 h) reduced to users-reaching-step counts,
    vs the DEFINITIONAL DuckDB replay (existence of a chain expressed as
    1/2/3-way self-joins on epoch_us — the same µs truncation the Spark
    side applies)."""
    _strict_compare(spark, con, "window_funnel")


def test_funnel_window_and_order_both_bind(spark):
    """Falsifiability: the 6 h window must actually constrain the result
    (an unwindowed funnel reports strictly more converting users), and
    the ordered-chain requirement must bite (type-set membership alone
    would over-count) — otherwise the staged query would silently
    re-prove a plain groupBy count."""
    from pyspark.sql import functions as F

    from meds_polars_functions_spark.operators.funnel import (
        funnel_counts,
        window_funnel,
    )

    steps = ["view", "click", "purchase"]
    ev = entry._t(spark, SF_DIR, "events")
    windowed = {
        r["step"]: r["users"]
        for r in entry.queries()["window_funnel"](spark, SF_DIR).collect()
    }
    # (a) window binds: a 30-day window admits strictly more users at
    # the deepest step
    wide = funnel_counts(
        window_funnel(ev, steps, window=30 * 24 * 3600 * 1_000_000), steps
    )
    wide_users = {r["step"]: r["users"] for r in wide.collect()}
    assert wide_users[3] > windowed[3]
    # (b) order binds even unwindowed: users owning all three types
    # outnumber (or at least differ from) windowed level-3 users
    have_all = (
        ev.filter(F.col("event_type").isin(steps))
        .groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("nt"))
        .filter(F.col("nt") == 3)
        .count()
    )
    assert have_all > windowed[3]

def test_monthly_retention_matches_oracle_strict(spark, con):
    """Round-10 (session 2) staged, round-11 REGISTERED (window slot
    2): monthly retention-cohort matrix over orders (first-order month
    per customer, counted once per active month at each month offset)
    vs the definitional DuckDB replay — pure integer year*12+month
    arithmetic on both sides."""
    _strict_compare(spark, con, "monthly_retention")


def test_touch_attribution_matches_oracle_strict(spark, con):
    """Round-11 staged, round-12 REGISTERED (window slot 1):
    gap-sessionized (6 h, (ts, event_id) tie order) first/last-touch
    conversion attribution vs the definitional DuckDB replay —
    identical gaps-and-islands session ids, identical first-conversion
    position, identical rn=1 / rn=fprn-1 touch picks. Integer-only
    logic on both sides; the oracle's channel join is NULL-safe
    (IS NOT DISTINCT FROM, ADVICE r12 item 3)."""
    _strict_compare(spark, con, "touch_attribution")


def test_attribution_gap_and_touch_choice_both_bind(spark):
    """Falsifiability: (a) the session gap must actually constrain the
    result — a 30-day gap merges each user into one session and changes
    the credit table; (b) the first-vs-last touch choice must matter —
    the two credit columns differ for at least one channel (if they
    never did, the staged query would silently re-prove a single
    channel count); (c) each credit column partitions the converting
    sessions exactly once."""
    from meds_polars_functions_spark.operators.attribution import (
        touch_attribution,
    )

    ev = entry._t(spark, SF_DIR, "events")
    rows = entry.queries()["touch_attribution"](spark, SF_DIR).collect()
    got = {
        r["channel"]: (r["first_touch_conversions"], r["last_touch_conversions"])
        for r in rows
    }
    # (a) gap binds
    wide = {
        r["channel"]: (r["first_touch_conversions"], r["last_touch_conversions"])
        for r in touch_attribution(
            ev, gap=30 * 24 * 3600 * 1_000_000
        ).collect()
    }
    assert wide != got
    # (b) touch choice binds
    assert any(f != l for f, l in got.values())
    # (c) both columns total the converting-session count
    n_first = sum(f for f, _ in got.values())
    n_last = sum(l for _, l in got.values())
    assert n_first == n_last > 0


def test_session_paths_matches_oracle_strict(spark, con):
    """Round-11 staged (addendum), round-12 REGISTERED (window slot 2):
    top-20 session journeys — the same 6 h gaps-and-islands
    sessionization as touch_attribution, each session's first 5 event
    types joined in (ts, event_id) order, counted with the
    (sessions DESC, path) tie order, vs the definitional DuckDB replay
    (ordered string_agg, same cap, same LIMIT). Integer/string-only
    logic on both sides."""
    _strict_compare(spark, con, "session_paths")


def test_session_paths_order_and_cap_both_bind(spark):
    """Falsifiability: (a) path ORDER binds — the sf0.001 top-20
    contains at least one pair of paths that are permutations of the
    same type multiset (a sorted-multiset grouping would merge them);
    (b) the 5-step cap binds — an uncapped run changes the table; (c)
    counts are a partition of sessions: the top-1 path count is bounded
    by the total session count."""
    from meds_polars_functions_spark.operators.attribution import (
        assign_sessions,
        session_paths,
    )

    ev = entry._t(spark, SF_DIR, "events")
    rows = entry.queries()["session_paths"](spark, SF_DIR).collect()
    got = {r["path"]: r["sessions"] for r in rows}
    # (a) order binds
    perms = [
        (a, b)
        for a in got
        for b in got
        if a < b and sorted(a.split(">")) == sorted(b.split(">"))
    ]
    assert perms, "no permutation pair in the top-20: order is vacuous"
    # (b) cap binds — on the FULL path table (sf0.001 has 8 sessions
    # longer than 5 events, but their truncated paths are each rare, so
    # the top-20 itself is cap-stable; asserting there would be vacuous)
    # and, for a cap below the typical session length, on the top-20 too
    full = lambda ms: {  # noqa: E731
        r["path"]: r["sessions"]
        for r in session_paths(
            ev, gap=6 * 3600 * 1_000_000, max_steps=ms, top_k=100_000
        ).collect()
    }
    assert full(1000) != full(5)
    two = {
        r["path"]: r["sessions"]
        for r in session_paths(
            ev, gap=6 * 3600 * 1_000_000, max_steps=2, top_k=20
        ).collect()
    }
    assert two != got
    # (c) counts bounded by the session universe
    from pyspark.sql import functions as F

    n_sessions = (
        assign_sessions(ev, 6 * 3600 * 1_000_000)
        .select("user_id", "__sid")
        .distinct()
        .count()
    )
    assert 0 < max(got.values()) <= n_sessions
    assert sum(got.values()) <= n_sessions


def test_retention_matrix_is_nontrivial(spark):
    """Falsifiability: the matrix must have real cohort structure —
    many distinct cohorts, retention decay (some cohort retains fewer
    users at a later offset than its size), and a min-vs-max cohort
    confusion must change the result (the last cohort can't equal the
    first)."""
    rows = entry.queries()["monthly_retention"](spark, SF_DIR).collect()
    m = {(r["cohort"], r["period_offset"]): r["users"] for r in rows}
    cohorts = {c for c, _ in m}
    assert len(cohorts) > 10
    assert any(
        m[(c, o)] < m[(c, 0)] for c, o in m if o > 0 and (c, 0) in m
    ), "no retention decay anywhere: the offset dimension is vacuous"
    # offset-0 cohort sizes sum to the customer universe exactly once
    import duckdb as _d

    n_cust = _d.connect().execute(
        f"SELECT count(DISTINCT o_custkey) FROM '{SF_DIR}/orders.parquet'"
    ).fetchone()[0]
    assert sum(m[(c, 0)] for c in cohorts) == n_cust


def _strict_compare_registered_unitsafe(spark, con, name):
    # The registered-path twin of _strict_compare_staged: same strict
    # value/row/column compare, dtype parity through _dtype_key (the
    # datetime64 ns/us pandas-transport collapse — raw-timestamp
    # outputs are driver-green, sessionize r8 precedent).
    sdf = entry.queries()[name](spark, SF_DIR).toPandas()
    odf = con.execute(entry.oracle_sql()[name]).fetchdf()
    scols, srows = _normalize(sdf)
    ocols, orows = _normalize(odf)
    assert scols == ocols
    assert len(srows) == len(orows) > 0
    assert srows == orows
    assert [_dtype_key(t) for t in sdf[sorted(sdf.columns)].dtypes] == [
        _dtype_key(t) for t in odf[sorted(odf.columns)].dtypes
    ]


def test_approx_percentile_profile_matches_oracle_strict(spark, con):
    """Round-12 staged, round-13 registered (window slot 1): the
    GK-sketch percentile profile's INVARIANT rows (n / p0 / p100
    data-derived, rank_ok_* pinned at 1.0 — the kmeans_cells oracle
    style) vs the DuckDB recompute. A sketch that loses extremes,
    miscounts coverage, or answers outside its rank-guarantee window
    flips a row and fails the hash compare; the window's bindingness
    is proven in tests/test_profiles.py (swapped-answer test)."""
    _strict_compare_registered_unitsafe(spark, con, "approx_percentile_profile")


def test_bitemporal_asof_matches_oracle_strict(spark, con):
    """Round-12 staged, round-13 registered (window slot 2): the
    bitemporal audit join — synthetic orders dimension (valid_from =
    order date, recorded_at = order date + orderkey%30 days), probed by
    the orders as facts at audit instant K=1999-01-01 — vs the
    definitional DuckDB replay (same knowledge cut, same greatest-(vf,
    ra, ver) pick via ordered LATERAL LIMIT 1). Timestamp/integer/
    double-only; known_ver ::DOUBLE on both sides (nullable through the
    left join, the asof_purchase_click precedent)."""
    _strict_compare_registered_unitsafe(spark, con, "bitemporal_asof")


def test_staged_audience_overlap_matches_oracle_strict(spark, con):
    """Round-13 staged query: the exact grouped audience-overlap join
    (FILTER-ed bitmap aggregates, inclusion-exclusion) vs the
    definitional DuckDB replay (same integer-µs first/last edge-window
    flags — lo+W / hi-W, no division — same per-(type,user) membership
    fold). BIGINT counts + round-9 jaccard on both sides."""
    _strict_compare_staged(spark, con, "audience_overlap")


def test_staged_audience_overlap_windows_and_groups_bind(spark):
    """Falsifiability: (i) EVERY group sits in the interesting regime
    (0 < n_inter < n_union) — the reason the staging uses 2-day edge
    windows instead of the jaccard-degenerate half split, so a broken
    intersection (always 0 / always union) flips every row; (ii) the
    window width binds — 1-day windows give a different answer on at
    least one group; (iii) inclusion-exclusion identity and the
    intersection bound hold row-wise."""
    from pyspark.sql import functions as F

    from meds_polars_functions_spark.functions.sketches import bitmap_overlap

    rows = entry._registry()["audience_overlap"](spark, SF_DIR).collect()
    assert rows and all(0 < r["n_inter"] < r["n_union"] for r in rows)
    for r in rows:
        assert r["n_inter"] == r["n_early"] + r["n_late"] - r["n_union"]
        assert 0 <= r["n_inter"] <= min(r["n_early"], r["n_late"])

    ev = entry._t(spark, SF_DIR, "events").select(
        "event_type", "user_id", F.unix_micros(F.col("ts")).alias("__us__")
    )
    bounds = ev.agg(
        F.min("__us__").alias("__lo__"), F.max("__us__").alias("__hi__")
    )
    day = F.lit(86_400_000_000)
    tagged = ev.crossJoin(F.broadcast(bounds))
    alt = {
        r["event_type"]: (r["n_a"], r["n_b"], r["n_inter"])
        for r in bitmap_overlap(
            tagged.filter(F.col("__us__") < F.col("__lo__") + day),
            tagged.filter(F.col("__us__") >= F.col("__hi__") - day),
            ["event_type"],
            "user_id",
        ).collect()
    }
    staged = {
        r["event_type"]: (r["n_early"], r["n_late"], r["n_inter"]) for r in rows
    }
    assert alt != staged, "1-day windows give the same answer: width is vacuous"


def test_staged_hll_user_overlap_matches_oracle_strict(spark, con):
    """Round-13 staged query (second staging): the HLL sketch-join
    invariants — four exact overlap counts (data-derived) + the
    est_within_tol / inter_bounded flags pinned at 1.0 — vs the DuckDB
    recompute. A broken sketch build/union/estimate flips a flag row;
    the flag's bindingness is proven in test_sketches.py
    (degraded-lgK test)."""
    _strict_compare_staged(spark, con, "hll_user_overlap")


def test_staged_stratified_sample_matches_oracle_strict(spark, con):
    """Round-13 staged (second family): proportional stratified
    sampling vs the definitional DuckDB replay — same per-stratum
    ceil(fraction*n) floor-at-min target, same md5(id||salt) rank,
    same id tiebreak."""
    _strict_compare_staged(spark, con, "stratified_sample")


def test_staged_stratified_sample_proportionality_binds(spark):
    """Falsifiability vs the registered class_balanced allocation: the
    per-stratum sample sizes must EQUAL the proportional targets
    computed from the true stratum sizes (not a constant), and the
    fraction binds — doubling it changes the sample."""
    import math

    from pyspark.sql import functions as F

    from meds_polars_functions_spark.operators.packing import stratified_sample

    ev = entry._t(spark, SF_DIR, "events")
    sizes = {r["event_type"]: r["n"] for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    rows = entry._registry()["stratified_sample"](spark, SF_DIR).collect()
    got = {}
    for r in rows:
        got[r["event_type"]] = got.get(r["event_type"], 0) + 1
    want = {
        t: max(math.ceil(n * entry._STRATIFIED_FRACTION), min(n, entry._STRATIFIED_MIN))
        for t, n in sizes.items()
    }
    assert got == want
    bigger = stratified_sample(
        ev, ["event_type"], "event_id", entry._STRATIFIED_FRACTION * 2,
        salt=entry._STRATIFIED_SALT, min_per_stratum=entry._STRATIFIED_MIN,
    ).count()
    assert bigger > len(rows), "fraction is vacuous"


def test_staged_weighted_group_sample_matches_oracle_strict(spark, con):
    """Round-13 staged (second family, second member): the per-group
    E-S exponential race vs the DuckDB replay (weighted_sample's
    oracle idiom partitioned by event_type)."""
    _strict_compare_staged(spark, con, "weighted_group_sample")


def test_staged_weighted_group_race_is_per_group_not_global(spark):
    """Falsifiability vs the registered weighted_sample: the grouped
    winners must NOT equal the global race's winners restricted to
    each group (same key arithmetic, same salt) — if they always did,
    the partitioned race would re-prove the global query. Also pins
    k-per-group exactness and the w<=0 exclusion."""
    from pyspark.sql import functions as F

    from meds_polars_functions_spark.operators.packing import (
        weighted_group_sample,
        weighted_sample,
    )

    ev = entry._t(spark, SF_DIR, "events")
    grouped = entry._registry()["weighted_group_sample"](spark, SF_DIR)
    per_group = {}
    for r in grouped.collect():
        per_group.setdefault(r["event_type"], set()).add(r["event_id"])
    n_types = len(per_group)
    assert all(len(v) == entry._WGS_K for v in per_group.values())
    # global race, same salt/key arithmetic, same TOTAL budget
    glob = weighted_sample(
        ev, "event_id", "value", k=entry._WGS_K * n_types, salt=entry._WGS_SALT
    )
    glob_by_type = {}
    for r in glob.select("event_id", "event_type").collect():
        glob_by_type.setdefault(r["event_type"], set()).add(r["event_id"])
    assert glob_by_type != per_group, (
        "global and grouped races picked identical winners: partitioning vacuous"
    )
    # zero/negative weights never win
    assert grouped.filter(F.col("value") <= 0).count() == 0


def test_stratified_sample_shard_merge_law(spark):
    """The distributed-reservoir property that makes the md5 rank a
    MERGEABLE per-stratum state: with the per-stratum targets k_s fixed
    from GLOBAL counts, pruning each shard to its local bottom-k_s (by
    the same md5 order) and re-ranking the union of the prunes yields
    EXACTLY the direct sample — any row a shard-local prune drops is
    provably outside the global bottom-k_s. This is the map-side /
    incremental-shard form at 100 TB (new shard arrives -> prune it,
    merge rank with the kept state; no global re-scan)."""
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from meds_polars_functions_spark.operators.packing import stratified_sample

    ev = entry._t(spark, SF_DIR, "events").select(
        "event_id", "event_type", "user_id"
    )
    frac, mn, salt = 0.07, 2, "mrg"
    direct = stratified_sample(
        ev, ["event_type"], "event_id", frac, salt=salt, min_per_stratum=mn
    )
    want = sorted((r["event_type"], r["event_id"]) for r in direct.collect())

    # global targets once
    sizes = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    ks = {t: max(math.ceil(n * frac), min(n, mn)) for t, n in sizes.items()}
    kmax = max(ks.values())
    order = F.md5(F.concat(F.col("event_id").cast("string"), F.lit(salt)))
    w = Window.partitionBy("event_type").orderBy(order, "event_id")
    pruned = []
    for i in range(3):  # three disjoint shards
        shard = ev.filter(F.col("event_id") % 3 == i)
        pruned.append(
            shard.withColumn("__r__", F.row_number().over(w))
            .filter(F.col("__r__") <= kmax)  # local prune at max target
            .drop("__r__")
        )
    merged = pruned[0].unionByName(pruned[1]).unionByName(pruned[2])
    refinal = merged.withColumn("__r__", F.row_number().over(w))
    got = sorted(
        (r["event_type"], r["event_id"])
        for r in refinal.collect()
        if r["__r__"] <= ks[r["event_type"]]
    )
    assert got == want


def test_weighted_group_sample_shard_merge_law(spark):
    """Same merge law for the per-group E-S race: per-shard bottom-k by
    the race key, merged and re-ranked, equals the direct grouped
    sample — the race key is a pure row property, so the winner set is
    shard-decomposable (the classic distributed weighted reservoir)."""
    from pyspark.sql import functions as F

    from meds_polars_functions_spark.operators.packing import (
        weighted_group_sample,
    )

    ev = entry._t(spark, SF_DIR, "events").select(
        "event_id", "event_type", "value"
    )
    k, salt = 7, "mrg2"
    direct = weighted_group_sample(
        ev, ["event_type"], "event_id", "value", k=k, salt=salt
    )
    want = sorted((r["event_type"], r["event_id"]) for r in direct.collect())
    shards = [
        weighted_group_sample(
            ev.filter(F.col("event_id") % 3 == i),
            ["event_type"], "event_id", "value", k=k, salt=salt,
        )
        for i in range(3)
    ]
    merged = shards[0].unionByName(shards[1]).unionByName(shards[2])
    refinal = weighted_group_sample(
        merged, ["event_type"], "event_id", "value", k=k, salt=salt
    )
    got = sorted((r["event_type"], r["event_id"]) for r in refinal.collect())
    assert got == want


def test_staged_kcore_trade_matches_oracle_strict(spark, con):
    """Round-13 staged (third family, graph axis): exact coreness per
    trade-graph node vs the 10-round unrolled H-iteration DuckDB
    replay. Full-value strict compare — the fixpoint is idempotent, so
    any >=depth unroll equals the early-stopped Spark fixpoint."""
    _strict_compare_staged(spark, con, "kcore_trade")


def test_staged_kcore_iteration_binds(spark):
    """Falsifiability: the fixpoint differs from both the degree init
    and the single-H-pass table on this graph — the iteration (not
    just the init) determines the answer; plus coreness <= degree
    everywhere and the max-core tier is non-trivial (>= 2)."""
    from pyspark.sql import functions as F

    from meds_polars_functions_spark.operators.graph import k_core_decomposition

    li = entry._t(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey")
    o = entry._t(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            (F.col("o_custkey") + 10_000_000).alias("dst"),
        )
        .distinct()
    )
    fix = {r["node"]: r["coreness"] for r in k_core_decomposition(edges).collect()}
    und = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    deg = {
        r["node"]: r["d"]
        for r in und.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("d"))
        .collect()
    }
    assert fix != deg, "fixpoint equals degree init: iteration vacuous"
    assert all(fix[n] <= deg[n] for n in fix)
    assert max(fix.values()) >= 2
    # The trade graph at sf0.001 converges in ONE changing round (3 at
    # sf0.01, 5 at sf0.1 — the oracle's 10-round unroll note), so the
    # multi-round bindingness is pinned on a path graph, where the
    # H-iteration provably needs ~len/2 rounds (coreness-1 information
    # walks inward one hop per round). A run cut short raises instead of
    # returning its partial table, so "one H pass is not the fixpoint"
    # reads as: the second round still changes the table, i.e. a
    # two-round run does not converge.
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["src", "dst"]
    )
    fix_p = {
        r["node"]: r["coreness"] for r in k_core_decomposition(path).collect()
    }
    assert all(v == 1 for v in fix_p.values())  # a path is pure 1-core
    with pytest.raises(RuntimeError, match="did not converge"):
        k_core_decomposition(path, max_iter=2)


def test_staged_stress_centrality_matches_oracle_strict(spark, con):
    """Round-13 staged (fourth family): sampled stress centrality vs
    the unrolled sampled-Brandes DuckDB replay — integer-exact both
    sides (sigma path counts, h continuation counts), full-value
    strict compare."""
    _strict_compare_staged(spark, con, "stress_centrality")


def test_staged_stress_sources_and_sample_bind(spark):
    """Falsifiability: a different source salt changes the answer (the
    sample binds), and the answer is non-trivial (some node has
    stress > 0; sources themselves can carry interior credit from
    OTHER sources' paths)."""
    from pyspark.sql import functions as F

    from meds_polars_functions_spark.operators.graph import stress_centrality

    li = entry._t(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey")
    o = entry._t(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            (F.col("o_custkey") + 10_000_000).alias("dst"),
        )
        .distinct()
    )
    base = {
        r["node"]: r["stress"]
        for r in entry._registry()["stress_centrality"](
            spark, SF_DIR
        ).collect()
    }
    assert any(v > 0 for v in base.values())
    other = {
        r["node"]: r["stress"]
        for r in stress_centrality(
            edges,
            n_sources=entry._STRESS_N_SOURCES,
            salt="other-salt",
            max_depth=entry._STRESS_DEPTH,
        ).collect()
    }
    assert other != base, "source sample is vacuous: salt changed nothing"


def test_sampling_ops_reject_reserved_columns(spark):
    """Reserved temp columns already present in the input must raise
    (ADVICE r12 collision-guard class, applied proactively): the rank
    and race-key temps would silently overwrite user data."""
    from pyspark.sql import functions as F

    from meds_polars_functions_spark.operators.packing import (
        stratified_sample,
        weighted_group_sample,
    )

    df = spark.createDataFrame([(1, "a", 2.0)], "id long, g string, w double")
    with pytest.raises(ValueError, match="reserved column"):
        stratified_sample(df.withColumn("__rn__", F.lit(1)), ["g"], "id", 0.5)
    with pytest.raises(ValueError, match="reserved column"):
        stratified_sample(df.withColumn("__k__", F.lit(1)), ["g"], "id", 0.5)
    with pytest.raises(ValueError, match="reserved column"):
        weighted_group_sample(
            df.withColumn("__sk__", F.lit(1.0)), ["g"], "id", "w", 1
        )
    # clean inputs still work
    assert stratified_sample(df, ["g"], "id", 1.0).count() == 1
    assert weighted_group_sample(df, ["g"], "id", "w", 1).count() == 1


def test_weighted_group_sample_excludes_nan_weights(spark):
    """ADVICE r13 item 4: a NaN weight must be excluded like w <= 0 on
    BOTH engines. Without the explicit guard the NaN row raced with a
    NaN key (which sorts last, so it surfaced only in groups with fewer
    than k positive-weight rows — exactly the case pinned here) and
    DuckDB's NaN ordering diverges from Spark's."""
    from meds_polars_functions_spark.operators.packing import (
        weighted_group_sample,
    )

    df = spark.createDataFrame(
        [(1, "a", 2.0), (2, "a", float("nan")), (3, "a", -1.0)],
        "id long, g string, w double",
    )
    got = weighted_group_sample(df, ["g"], "id", "w", 3).collect()
    assert [r["id"] for r in got] == [1], "NaN/negative weights must never win"


# ---------------------------------------------------------------------------
# Round-14 staged family: watermarked windowed grouped sketch state —
# the day-over-day audience-retention pair.
# ---------------------------------------------------------------------------


def test_staged_windowed_user_retention_matches_oracle_strict(spark, con):
    """Round-14 staged query: exact window-over-window retention
    (bitmap cells, window-shift stack, bitmap_or_agg union) vs the
    definitional DuckDB replay (distinct per-day memberships,
    consecutive-day inner pairing, membership-join intersection).
    BIGINT counts + round-9 retention on both sides."""
    _strict_compare_staged(spark, con, "windowed_user_retention")


def test_staged_windowed_hll_retention_matches_oracle_strict(spark, con):
    """Round-14 staged query: the HLL windowed-state path vs the
    invariant oracle (exact counts recomputed definitionally, both
    flags at 1.0)."""
    _strict_compare_staged(spark, con, "windowed_hll_retention")


def test_staged_windowed_retention_regime_binds(spark):
    """Falsifiability of the staged regime at sf0.001:

    (i) a strictly-partial pair (0 < n_inter < min(n_prev, n_cur))
        exists for EVERY event type — the daily window choice is not
        the saturated weekly regime where a broken intersection could
        hide behind inter == min(side);
    (ii) no emitted window lacks a predecessor (the first day of the
        series never appears — the prev-shift phantom and the
        first-window are both filtered by the both-sides-populated
        contract);
    (iii) retention is n_inter/n_prev exactly (recomputed row-wise)."""
    rows = entry.staged_queries()["windowed_user_retention"](
        spark, SF_DIR
    ).collect()
    assert rows
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
        assert r["n_inter"] <= min(r["n_prev"], r["n_cur"])
        assert r["n_union"] == r["n_prev"] + r["n_cur"] - r["n_inter"]
        assert abs(r["retention"] - round(r["n_inter"] / r["n_prev"], 9)) < 1e-12
    mins = {t: min(r["window_start"] for r in rs) for t, rs in by_type.items()}
    import duckdb as _d

    lo = _d.sql(
        f"SELECT min(ts) FROM '{SF_DIR}/events.parquet'"
    ).fetchone()[0]
    for t, rs in by_type.items():
        assert any(
            0 < r["n_inter"] < min(r["n_prev"], r["n_cur"]) for r in rs
        ), f"{t}: no strictly-partial pair — degenerate regime"
        assert mins[t].date() > lo.date(), f"{t}: first window emitted"


def test_staged_windowed_hll_flags_flip_on_degraded_sketch(spark):
    """Falsifiability of the sketch path's tolerance flags: the same
    est-vs-exact predicate computed from a deliberately-degraded lgK-4
    windowed sketch (~26% std error) on a 50k-cardinality two-window
    corpus must flip somewhere — the 5% tolerance BINDS."""
    from pyspark.sql import functions as F

    from meds_polars_functions_spark.functions.sketches import (
        windowed_set_retention,
        windowed_sketch_retention,
    )

    n = 50_000
    df = spark.range(2 * n).select(
        F.lit("g").alias("g"),
        (F.col("id") % n).alias("k"),
        F.when(F.col("id") < n, F.lit("2024-01-01 12:00:00"))
        .otherwise(F.lit("2024-01-02 12:00:00"))
        .cast("timestamp")
        .alias("ts"),
    )
    exact = {
        (r["g"], r["window_start"]): r
        for r in windowed_set_retention(df, "ts", ["g"], "k").collect()
    }
    bad = windowed_sketch_retention(df, "ts", ["g"], "k", lgk=4).collect()
    assert exact and bad
    tol = entry._HLL_OVERLAP_TOL
    flipped = [
        r
        for r in bad
        for x in [exact[(r["g"], r["window_start"])]]
        if (
            abs(r["n_prev"] - x["n_prev"]) > tol * x["n_prev"]
            or abs(r["n_cur"] - x["n_cur"]) > tol * x["n_cur"]
            or abs(r["n_union"] - x["n_union"]) > tol * x["n_union"]
        )
    ]
    assert flipped, "lgK-4 estimates stayed within the 5% tolerance"
