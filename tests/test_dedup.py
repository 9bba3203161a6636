"""Dedup operator tests: exact, shingles, candidate generation,
clustering."""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest

from meds_polars_functions_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    exact_dup_groups,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    word_shingles,
)


def test_word_shingles(spark):
    df = spark.createDataFrame([("The quick brown fox jumps",), ("one two",)], "t string")
    rows = df.select(word_shingles("t", 3).alias("s")).collect()
    assert rows[0]["s"] == ["the quick brown", "quick brown fox", "brown fox jumps"]
    assert rows[1]["s"] == ["one two"]  # short doc: single joined shingle


def test_exact_dedup_and_groups(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")], "id long, t string"
    )
    kept = {r["id"] for r in exact_dedup(df, "t", "id").collect()}
    assert kept == {1, 2}
    groups = exact_dup_groups(df, "t", "id").collect()
    assert len(groups) == 1
    assert groups[0]["n_dups"] == 3 and groups[0]["canonical_id"] == 1


def test_connected_components(spark):
    # two components: {1,2,3,7} via chain, {5,9}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (5, 9)], "id_a long, id_b long"
    )
    out = {r["id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 1, 5: 5, 9: 5}


def test_connected_components_chain_bounded_plan(spark):
    # 17-node chain: diameter 16 forces many label-propagation rounds.
    # With checkpoint_every=2 the plan must stay bounded — lineage is cut
    # every other round — while still converging to one component.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 17)], "id_a long, id_b long"
    )
    labels = connected_components(pairs, max_iterations=25, checkpoint_every=2)
    out = {r["id"]: r["cluster_id"] for r in labels.collect()}
    assert out == {i: 1 for i in range(1, 18)}
    # Plan-depth bound: after the final checkpoint at most checkpoint_every
    # rounds of joins sit on top of a LogicalRDD scan, so the analyzed plan
    # stays small no matter how many rounds ran before it.
    plan = labels._jdf.queryExecution().analyzed().toString()
    assert len(plan.splitlines()) < 60, f"unbounded lineage: {len(plan.splitlines())} lines"


@pytest.mark.slow
def test_connected_components_star_matches_min_label(spark):
    from meds_polars_functions_spark.operators.dedup import connected_components_star

    # mixed shapes: chain, triangle w/ bridge, pair, plus high-id star
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (5, 9), (10, 11), (11, 12), (10, 12),
         (12, 20), (100, 42), (100, 77), (100, 88)],
        "id_a long, id_b long",
    )
    ml = {r["id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    st = {r["id"]: r["cluster_id"] for r in connected_components_star(pairs).collect()}
    assert st == ml


@pytest.mark.slow
def test_connected_components_star_deep_chain_logn_rounds(spark):
    from meds_polars_functions_spark.operators.dedup import connected_components_star

    # 65-node chain, diameter 64: min-label would need ~64 rounds; star
    # contraction must finish inside 12 (O(log n) independent of diameter)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 65)], "id_a long, id_b long"
    )
    labels = connected_components_star(pairs, max_iterations=12, checkpoint_every=3)
    out = {r["id"]: r["cluster_id"] for r in labels.collect()}
    assert out == {i: 1 for i in range(1, 66)}


def test_simhash_table_matches_expression_form(spark):
    """Round-16 rewrite pin: simhash_table (explode + map-side bit sums)
    must emit byte-identical signatures to the per-bit lambda expression
    it replaced, in both hash modes, including the empty/null-text
    all-zero fallback (xxhash64 hashes NULL to the seed — the table form
    null-guards it)."""
    from meds_polars_functions_spark.operators.dedup import simhash, simhash_table

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs"),
        (3, None),
        (4, ""),
        (5, "   "),
        (6, "one"),
        (7, "repeat repeat repeat repeat distinct"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for portable, bits in [(True, 60), (False, 64), (False, 32)]:
        old = df.select(
            F.col("doc_id").alias("id"), simhash("text", bits, portable).alias("sig")
        )
        new = simhash_table(df, "text", "doc_id", bits, portable)
        got = {r["id"]: r["sig"] for r in new.collect()}
        want = {r["id"]: r["sig"] for r in old.collect()}
        assert got == want, (portable, bits)


def test_hamming_and_simhash_banding(spark):
    from meds_polars_functions_spark.operators.dedup import (
        hamming_distance,
        simhash_near_dup_pairs,
    )

    df = spark.createDataFrame([("110010", "100110")], "a string, b string")
    assert df.select(hamming_distance(F.col("a"), F.col("b")).alias("h")).first()["h"] == 2

    texts = [
        (1, "the quick brown fox jumps over the lazy dog today ok then"),
        (2, "the quick brown fox jumps over the lazy dog today ok now"),
        (3, "completely different text about catalyst and tungsten engines"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_near_dup_pairs(docs, "text", "doc_id", max_hamming=16).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 16
    assert all(3 not in p for p in pairs)
    # tighter threshold excludes the near pair too (its distance is ~7)
    tight = simhash_near_dup_pairs(docs, "text", "doc_id", max_hamming=2).collect()
    assert all((r["id_a"], r["id_b"]) != (1, 2) or r["hamming"] <= 2 for r in tight)


def test_multiprobe_lsh_recall_not_worse(spark):
    from meds_polars_functions_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dim = len(emb.first()["embedding"])
    exact = {(r["query_id"], r["vec_id"]) for r in brute_force_topk(emb, q, k=5, tie_round=9).collect()}
    one = {(r["query_id"], r["vec_id"]) for r in lsh_topk(emb, q, dim, k=5, n_planes=8, n_probes=1).collect()}
    multi = {(r["query_id"], r["vec_id"]) for r in lsh_topk(emb, q, dim, k=5, n_planes=8, n_probes=4).collect()}
    assert len(exact & multi) >= len(exact & one)  # probing never hurts recall
    for qid in [r["query_id"] for r in q.collect()]:
        assert (qid, qid) in multi


def test_minhash_pairs_subset_of_exact(spark):
    texts = [
        (1, "the quick brown fox jumps over the lazy dog and then naps"),
        (2, "the quick brown fox jumps over the lazy dog and then sleeps"),
        (3, "entirely unrelated words about spark catalyst optimizer rules"),
        (4, "entirely unrelated words about spark catalyst optimizer rules"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.5).collect()
    }
    mh = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_pairs(df, "text", "doc_id", threshold=0.5).collect()
    }
    # identical docs must always survive both paths
    assert (3, 4) in exact and (3, 4) in mh
    # minhash verified pairs are exact-Jaccard-thresholded -> subset of exact
    assert mh <= exact


def test_overfrequent_shingle_capping(spark):
    """Boilerplate shingles shared by every doc are detected and excluded
    from candidate generation; genuinely similar pairs still surface.

    Fixture is probability-safe: 50 words of shared boilerplate put
    uncapped unrelated-pair Jaccard ~0.86 (band collision ~1 - 2e-6
    missing), while after capping the unrelated docs share zero shingles
    (collision needs a 4-hash band to match on disjoint sets)."""
    from meds_polars_functions_spark.operators.dedup import (
        minhash_dedup_pairs,
        minhash_lsh_candidates,
        overfrequent_shingle_hashes,
    )

    boiler = " ".join(f"term{i}" for i in range(50))
    uniq = [
        "quantum ducks migrate across frozen lakes every year",
        "gardening tips for arid climates and sandy soil",
        "recipe for sourdough bread with rye flour blend",
        "notes on vintage synthesizer restoration and repair",
        "trail map updates for the northern ridge loop",
        "trail map updates for the northern ridge walk",  # near-dup of ^
    ]
    rows = [(i, f"{boiler} {u}") for i, u in enumerate(uniq)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    banned = overfrequent_shingle_hashes(docs, "text", shingle_n=3, max_doc_ratio=0.9)
    assert len(banned) >= 40  # the 48 boiler-internal shingles

    uncapped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(docs, "text", "doc_id").collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            docs, "text", "doc_id", max_shingle_doc_ratio=0.9
        ).collect()
    }
    assert capped <= uncapped
    assert (0, 1) in uncapped  # boilerplate alone made these candidates
    unrelated = {(a, b) for a in range(4) for b in range(4) if a < b}
    assert not (capped & unrelated)  # capping removed boilerplate pairs
    assert (4, 5) in capped  # the true near-dup pair survives capping

    # verification Jaccard stays ground-truth (full shingle sets): with
    # boilerplate included the near-dup pair is far above 0.5
    verified = minhash_dedup_pairs(
        docs, "text", "doc_id", threshold=0.5, max_shingle_doc_ratio=0.9
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in verified} >= {(4, 5)}


def test_max_bucket_size_prunes_degenerate_buckets(spark):
    from meds_polars_functions_spark.operators.dedup import minhash_lsh_candidates

    # 20 identical docs -> one degenerate bucket of 20 -> 190 pairs
    docs = spark.createDataFrame(
        [(i, "the same exact boilerplate text repeated everywhere") for i in range(20)],
        "doc_id long, text string",
    )
    full = minhash_lsh_candidates(docs, "text", "doc_id").count()
    assert full == 190
    pruned = minhash_lsh_candidates(
        docs, "text", "doc_id", max_bucket_size=10
    ).count()
    assert pruned == 0


@pytest.mark.slow
def test_embedding_near_dup_lsh_matches_brute_force(spark):
    """LSH-bucketed embedding near-dup: exact-verified subset of the
    brute-force pairs, with all planted near-identical pairs recovered
    (recall at cosine>=0.995 with 8 planes x 8 tables is 1 - ~7e-6)."""
    import numpy as np

    from meds_polars_functions_spark.operators.dedup import (
        embedding_near_dup_lsh,
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(7)
    dim = 16
    base = rng.standard_normal((30, dim))
    rows = [(i, base[i].tolist()) for i in range(30)]
    # plant near-dups: 100/101 of 0/1 with tiny perturbations
    for twin, src in [(100, 0), (101, 1)]:
        v = base[src] + 0.01 * rng.standard_normal(dim)
        rows.append((twin, v.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    brute = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, "embedding", "vec_id", threshold=0.99
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_lsh(
            df, "embedding", "vec_id", dim=dim, threshold=0.99
        ).collect()
    }
    assert lsh <= brute
    assert {(0, 100), (1, 101)} <= lsh


def test_pack_sequences_invariants(spark):
    """Packing: bins fill contiguously per shard — every doc's bin equals
    floor(exclusive-cumsum/budget) in id order, assignment is independent
    of input partitioning, and no bin except possibly the last per shard
    is left underfull by more than one document's spillover."""
    from pyspark.sql import functions as F

    from meds_polars_functions_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [(i, "tok " * (17 + (i * 13) % 91)) for i in range(400)],
        "doc_id long, text string",
    )
    a = pack_sequences(docs, "text", "doc_id", max_tokens=128, n_shards=4)
    b = pack_sequences(
        docs.repartition(7), "text", "doc_id", max_tokens=128, n_shards=4
    )
    assert a.exceptAll(b).count() == 0
    rows = a.orderBy("shard", "id").collect()
    cum: dict[int, int] = {}
    for r in rows:
        expected = cum.get(r["shard"], 0) // 128
        assert r["bin"] == expected, (r, expected)
        cum[r["shard"]] = cum.get(r["shard"], 0) + r["n_tokens"]


@pytest.mark.slow
def test_fuzzy_pairs_ed1_exact_vs_bruteforce(spark):
    from meds_polars_functions_spark.operators.dedup import fuzzy_pairs_ed1

    rows = [
        (1, "abc"), (2, "abxc"),   # insertion
        (3, "ab"),                  # deletion from abc
        (4, "aXc"),                 # substitution of abc
        (5, "abc"),                 # exact duplicate of 1
        (6, "zzz"),                 # unrelated
        (7, "abcd"), (8, "bcda"),  # shared 1-deletion but distance 2
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    got = sorted(
        (r["id_a"], r["id_b"], r["dist"])
        for r in fuzzy_pairs_ed1(df, "name", "id").collect()
    )
    a = df.selectExpr("id AS ia", "name AS na")
    brute = sorted(
        (r["ia"], r["ib"], r["d"])
        for r in a.crossJoin(df.selectExpr("id AS ib", "name AS nb"))
        .filter("ia < ib AND levenshtein(na, nb) <= 1")
        .selectExpr("ia", "ib", "levenshtein(na, nb) AS d")
        .collect()
    )
    assert got == brute
    assert (7, 8, 2) not in [(x, y, d) for x, y, d in got]


def test_decontaminate_drops_benchmark_overlap(spark):
    from meds_polars_functions_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a completely unrelated document about spark plans"),
            (3, "quick brown fox jumps over everything else entirely today"),  # partial overlap
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),],
        "bid long, text string",
    )
    clean = decontaminate(
        corpus, bench, "text", "doc_id", max_contaminated_ratio=0.3
    )
    kept = {r["doc_id"] for r in clean.collect()}
    # doc 1 is the benchmark text itself (ratio 1.0) -> dropped;
    # doc 2 shares nothing -> kept; doc 3 shares 3 of its 8 trigram
    # shingles (0.375 > 0.3) -> dropped
    assert kept == {2}
    report = {
        r["doc_id"]: (r["contaminated_ratio"], r["contaminated"])
        for r in decontaminate(
            corpus, bench, "text", "doc_id",
            max_contaminated_ratio=0.3, keep_report=True,
        ).collect()
    }
    assert report[1] == (1.0, True)
    assert report[2] == (0.0, False)
    assert report[3][1] is True and 0.3 < report[3][0] < 0.5
    # corpus text must not shuffle: benchmark shingles are the broadcast
    # side of a semi join
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        clean.explain("formatted")
    assert "BroadcastHashJoin" in buf.getvalue()


def test_repeated_substring_spans(spark):
    from meds_polars_functions_spark.operators.dedup import repeated_substring_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {shared} trailing one"),
            (2, f"{shared} completely different ending text"),
            (3, "no overlap with anything else at all in this document text"),
        ],
        "doc_id long, text string",
    )
    out = repeated_substring_spans(docs, "text", "doc_id", window_words=10).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append((r["start_word"], r["end_word"], r["n_docs"]))
    # the shared 10-word run starts at word 3 in doc 1 and word 0 in doc 2
    assert (3, 13, 2) in by_doc[1]
    assert (0, 10, 2) in by_doc[2]
    assert 3 not in by_doc  # unique doc contributes no repeated span
    # windows fully inside unique text never appear
    assert all(s == 3 for s, _, _ in by_doc[1]) and all(s == 0 for s, _, _ in by_doc[2])


def test_winnow_guarantee_shared_run_yields_shared_fingerprint(spark):
    """Winnowing's coverage guarantee (Schleimer et al. 2003, thm 2):
    any shared run of >= window + k - 1 words produces at least one
    shared selected fingerprint; disjoint texts share none."""
    from meds_polars_functions_spark.operators.dedup import winnow_overlap_pairs

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words = 5+4-1
    df = spark.createDataFrame(
        [
            (1, f"unrelated prefix one {shared} suffix words here"),
            (2, f"totally different start {shared} and another ending"),
            (3, "nothing in common with the others at all whatsoever today"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in winnow_overlap_pairs(
            df, "text", "doc_id", k=4, window=5, min_shared=1
        ).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_winnow_fingerprints_deterministic_and_sparse(spark):
    """Selection must be reproducible run-to-run (rightmost-min is a
    pure tie rule) and much sparser than the full gram set (expected
    density 2/(window+1))."""
    from meds_polars_functions_spark.operators.dedup import winnow_fingerprints

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {
        tuple(r)
        for r in winnow_fingerprints(docs, "text", "doc_id", k=4, window=5)
        .select("id", "fp_hash", "pos").collect()
    }
    b = {
        tuple(r)
        for r in winnow_fingerprints(docs, "text", "doc_id", k=4, window=5)
        .select("id", "fp_hash", "pos").collect()
    }
    assert a == b and len(a) > 0
    n_words = docs.select(
        F.sum(F.size(F.split(F.lower("text"), r"[^a-z0-9]+"))).alias("n")
    ).first()["n"]
    # winnowing density ~ 2/(w+1) of grams; allow generous slack
    assert len(a) < 0.6 * n_words


def test_winnow_max_docs_per_fp_guard(spark):
    """The boilerplate guard must drop pairs that exist only through a
    fingerprint shared by too many documents."""
    from meds_polars_functions_spark.operators.dedup import winnow_overlap_pairs

    boiler = "this footer text repeats on every single page of the site"
    rows = [(i, f"document number {i} body content {boiler}") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    unguarded = winnow_overlap_pairs(df, "text", "doc_id", min_shared=1).count()
    guarded = winnow_overlap_pairs(
        df, "text", "doc_id", min_shared=1, max_docs_per_fp=3
    ).count()
    assert unguarded > 0
    assert guarded < unguarded


def test_cdc_chunks_partition_and_insertion_stability(spark):
    """Chunks must tile the document exactly (contiguous, complete),
    and — the point of CONTENT-defined boundaries — inserting words at
    the head of a document must leave the downstream chunk hashes
    intact (fixed-width chunking would shift every one)."""
    from meds_polars_functions_spark.operators.dedup import cdc_chunks

    base = " ".join(f"word{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, base), (2, "inserted prefix tokens " + base)],
        "doc_id long, text string",
    )
    rows = cdc_chunks(df, "text", "doc_id", divisor=8).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["id"], []).append(r)
    for doc, ch in by_doc.items():
        ch.sort(key=lambda r: r["chunk_idx"])
        pos = 0
        for i, r in enumerate(ch):
            assert r["chunk_idx"] == i and r["start_word"] == pos
            pos += r["n_words"]
    h1 = [r["chunk_hash"] for r in sorted(by_doc[1], key=lambda r: r["chunk_idx"])]
    h2 = [r["chunk_hash"] for r in sorted(by_doc[2], key=lambda r: r["chunk_idx"])]
    # all but the perturbed head chunks are shared, in order
    shared = set(h1) & set(h2)
    assert len(shared) >= len(h1) - 2
    # and the shared suffix is identical as a sequence
    tail = min(len(h1), len(h2)) - 2
    assert h1[-tail:] == h2[-tail:]


def test_cdc_shared_chunks_counts(spark):
    from meds_polars_functions_spark.operators.dedup import cdc_shared_chunks

    common = " ".join(f"shared{i}" for i in range(60))
    df = spark.createDataFrame(
        [
            (1, common + " unique one tail"),
            (2, common + " another different ending"),
            (3, "completely unrelated text with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    out = cdc_shared_chunks(df, "text", "doc_id", divisor=8, min_docs=2).collect()
    assert len(out) >= 1
    assert all(r["n_docs"] >= 2 and r["n_total"] >= r["n_docs"] for r in out)


def test_containment_asymmetric_excerpt(spark):
    """An excerpt wholly contained in a larger doc must score
    containment ~1.0 in the excerpt->article direction but far below in
    the reverse — the case symmetric Jaccard misses."""
    from meds_polars_functions_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    article = " ".join(f"w{i}" for i in range(300))
    excerpt = " ".join(f"w{i}" for i in range(40, 70))
    df = spark.createDataFrame(
        [(1, article), (2, excerpt), (3, "totally unrelated words entirely")],
        "doc_id long, text string",
    )
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, "text", "doc_id", threshold=0.5).collect()
    }
    assert cont.get((2, 1), 0) == 1.0          # excerpt fully inside article
    assert (1, 2) not in cont                   # article not inside excerpt
    assert not any(3 in k for k in cont)
    # and Jaccard at the same 0.5 bar misses the excerpt entirely
    jac = ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.5).collect()
    assert not any({r["id_a"], r["id_b"]} == {1, 2} for r in jac)


def test_incremental_dedup_matches_full_run_cross_pairs(spark):
    """Incremental (new batch vs index) must find exactly the
    cross-split subset of a full-corpus run at the same threshold, and
    must emit no history×history or new×new pairs."""
    from meds_polars_functions_spark.operators.dedup import (
        minhash_dedup_against_index,
        minhash_dedup_pairs,
        minhash_signature_table,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    split = 40
    old = docs.filter(F.col("doc_id") < split)
    new = docs.filter(F.col("doc_id") >= split)
    inc = {
        (r["old_id"], r["new_id"])
        for r in minhash_dedup_against_index(
            minhash_signature_table(new, "text", "doc_id"),
            minhash_signature_table(old, "text", "doc_id"),
            threshold=0.5,
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    }
    cross_full = {(a, b) for a, b in full if a < split <= b}
    assert inc == cross_full
    assert all(o < split <= n for o, n in inc)


def test_incremental_dedup_index_plan_broadcasts_new_side(spark):
    """The history index must never shuffle for candidates: the banded
    join must be a BroadcastHashJoin with the NEW side broadcast."""
    import io
    from contextlib import redirect_stdout

    from meds_polars_functions_spark.operators.dedup import (
        minhash_dedup_against_index,
        minhash_signature_table,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs_old = minhash_signature_table(
        docs.filter(F.col("doc_id") < 40), "text", "doc_id"
    )
    sigs_new = minhash_signature_table(
        docs.filter(F.col("doc_id") >= 40), "text", "doc_id"
    )
    out = minhash_dedup_against_index(sigs_new, sigs_old)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan


def test_prefix_filtered_jaccard_equals_baseline(spark):
    """Prefix filtering is exact by theorem: identical (pair, jaccard)
    output to the full posting-join baseline at several thresholds, and
    the prefix posting table is strictly smaller than the full one."""
    from meds_polars_functions_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
        shingle_table,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for t in (0.3, 0.5, 0.8):
        base = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in ngram_jaccard_pairs(docs, "text", "doc_id", threshold=t).collect()
        }
        pref = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in ngram_jaccard_pairs_prefix(
                docs, "text", "doc_id", threshold=t
            ).collect()
        }
        assert pref == base, f"threshold {t}"
    full_posts = shingle_table(docs, "text", "doc_id", out_col="sh").select(
        F.explode("sh")
    ).count()
    # at t=0.8 the prefix keeps ~|S|/5 of each doc's shingles
    sh = shingle_table(docs, "text", "doc_id", out_col="sh")
    n_prefix = sh.select(
        (F.size("sh") - F.ceil(F.lit(0.8) * F.size("sh")) + 1).alias("p")
    ).agg(F.sum("p")).first()[0]
    assert n_prefix < 0.4 * full_posts


def test_span_dedup_removes_repeated_spans(spark):
    from meds_polars_functions_spark.operators.dedup import span_dedup

    boiler = " ".join(f"b{i}" for i in range(20))
    novel1 = " ".join(f"x{i}" for i in range(20))
    novel2 = " ".join(f"y{i}" for i in range(20))
    rows = [
        (1, boiler + " " + novel1),
        (2, boiler + " " + novel2),  # boilerplate span drops, novel kept
        (3, boiler),                 # fully duplicated -> doc dropped
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["text"] for r in span_dedup(df, "text", "doc_id", 20).collect()}
    assert got[1] == boiler + " " + novel1
    assert got[2] == novel2
    assert 3 not in got


def test_span_dedup_partial_tail_span_and_empty(spark):
    from meds_polars_functions_spark.operators.dedup import span_dedup

    # 25 words -> spans of 20 + 5; tail spans differ so both docs survive
    t1 = " ".join(f"w{i}" for i in range(20)) + " tail one two three four"
    t2 = " ".join(f"w{i}" for i in range(20)) + " tail five six seven eight"
    df = spark.createDataFrame(
        [(1, t1), (2, t2), (3, "")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["text"] for r in span_dedup(df, "text", "doc_id", 20).collect()}
    assert got[1] == t1
    # doc 2 loses its first span (dup of doc 1's) but keeps the tail
    assert got[2] == "tail five six seven eight"
    assert 3 not in got  # empty doc: no spans, dropped


def test_span_dedup_keeps_other_columns(spark):
    from meds_polars_functions_spark.operators.dedup import span_dedup

    df = spark.createDataFrame(
        [(1, "a b c", "s0"), (2, "a b c d", "s1")], ["doc_id", "text", "src"]
    )
    out = span_dedup(df, "text", "doc_id", span_words=2)
    rows = {r["doc_id"]: (r["text"], r["src"]) for r in out.collect()}
    # doc2: spans "a b" (dup, drops), "c d" (unique, kept)
    assert rows[1] == ("a b c", "s0")
    assert rows[2] == ("c d", "s1")


def test_novelty_scores_first_doc_fully_novel(spark):
    from meds_polars_functions_spark.operators.dedup import novelty_scores

    d1 = "alpha beta gamma delta epsilon zeta"          # all 5-grams novel
    d2 = "alpha beta gamma delta epsilon eta"           # shares 1 of 2 5-grams
    d3 = "alpha beta gamma delta epsilon zeta"          # exact dup of d1
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], ["doc_id", "text"]
    )
    got = {r["id"]: r for r in novelty_scores(df, "text", "doc_id", 5).collect()}
    assert got[1]["novelty"] == 1.0
    assert got[2]["n_shingles"] == 2 and got[2]["novel"] == 1
    assert got[3]["novelty"] == 0.0


def test_span_dedup_input_with_id_column(spark):
    # ADVICE r3: internal alias 'id' collided with an input column named
    # 'id' (AMBIGUOUS_REFERENCE) — including span_dedup(df, 'text', 'id').
    from meds_polars_functions_spark.operators.dedup import span_dedup

    df = spark.createDataFrame(
        [(1, "a b c", 9), (2, "a b c d", 8)], ["id", "text", "other"]
    )
    rows = {r["id"]: (r["text"], r["other"])
            for r in span_dedup(df, "text", "id", span_words=2).collect()}
    assert rows == {1: ("a b c", 9), 2: ("c d", 8)}
    # and a non-id key with a bystander 'id' column also survives
    df2 = spark.createDataFrame(
        [(1, "a b c", 7), (2, "a b c d", 6)], ["doc_id", "text", "id"]
    )
    rows2 = {r["doc_id"]: (r["text"], r["id"])
             for r in span_dedup(df2, "text", "doc_id", span_words=2).collect()}
    assert rows2 == {1: ("a b c", 7), 2: ("c d", 6)}


def test_span_dedup_drop_empty_false_keeps_all_loser_docs(spark):
    # ADVICE r3: with an inner join, docs whose every span lost (and empty
    # docs) could never be kept regardless of drop_empty. LEFT join +
    # empty keep-list honors the contract.
    from meds_polars_functions_spark.operators.dedup import span_dedup

    boiler = " ".join(f"b{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, boiler), (2, boiler), (3, "")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["text"]
           for r in span_dedup(df, "text", "doc_id", 20, drop_empty=False).collect()}
    assert got == {1: boiler, 2: "", 3: ""}
    # drop_empty=True still drops them
    got_t = {r["doc_id"]: r["text"]
             for r in span_dedup(df, "text", "doc_id", 20, drop_empty=True).collect()}
    assert got_t == {1: boiler}


def test_shingle_udf_matches_expression_form(spark):
    # the vectorized Arrow path must be bit-identical to the HOF
    # expression form it replaced (same tokenizer regex, first-occurrence
    # distinct, <n-words whole-text fallback) — incl. edge shapes:
    # punctuation runs, repeated n-grams, short docs, empty, null, digits
    from pyspark.sql import functions as F

    from meds_polars_functions_spark.functions.tokenize import DEDUP
    from meds_polars_functions_spark.operators.dedup import (
        _ngrams_from_words,
        shingle_table,
    )

    rows = [
        (1, "The quick brown fox -- jumps! Over the LAZY dog."),
        (2, "a b c a b c a b c"),          # repeated shingles -> distinct
        (3, "one two"),                     # < n words -> whole-text join
        (4, ""),                            # empty -> [""]
        (5, None),                          # null -> [""]
        (6, "123 456 789 123 456"),         # digits survive the tokenizer
        (7, "word"),                        # single word
        (8, "  padded   spacing\tand\nnewlines here  "),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    udf_out = {
        r["id"]: r["sh"]
        for r in shingle_table(df, "text", "id", 3, out_col="sh").collect()
    }
    expr_out = {
        r["id"]: r["sh"]
        for r in df.select("id", DEDUP.words(F.col("text")).alias("__w__"))
        .select("id", _ngrams_from_words(F.col("__w__"), 3).alias("sh"))
        .collect()
    }
    assert udf_out == expr_out


def test_containment_prefix_equals_baseline(spark):
    # one-sided prefix filter (PPJoin overlap bound): identical DIRECTED
    # output to the quadratic baseline at several thresholds, including
    # the excerpt case the measure exists for
    from pyspark.sql import functions as F

    from meds_polars_functions_spark.operators.dedup import (
        containment_pairs,
        containment_pairs_prefix,
        shingle_table,
    )

    big = " ".join(f"w{i}" for i in range(60))
    excerpt = " ".join(f"w{i}" for i in range(20, 33))  # fully inside big
    rows = [
        (1, big),
        (2, excerpt),
        (3, big + " extra tail words here beyond the original body"),
        (4, "completely different content about other topics entirely now"),
        (5, " ".join(f"w{i}" for i in range(30)) + " plus unrelated suffix terms"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for t in (0.5, 0.8, 0.95):
        base = sorted(
            map(tuple, containment_pairs(df, "text", "doc_id", threshold=t).collect())
        )
        pref = sorted(
            map(tuple, containment_pairs_prefix(df, "text", "doc_id", threshold=t).collect())
        )
        assert pref == base, (t, base, pref)
    # the excerpt is contained in both big docs at t=0.95
    got = {(a, b) for a, b, _ in
           containment_pairs_prefix(df, "text", "doc_id", threshold=0.95).collect()}
    assert (2, 1) in got and (2, 3) in got
    # prefix side indexes strictly fewer postings than the full table
    sh = shingle_table(df, "text", "doc_id", 3, out_col="sh")
    full_posts = sh.select(F.explode_outer("sh")).count()
    n_prefix = sh.select(
        (F.size("sh") - F.ceil(F.lit(0.8) * F.size("sh")) + 1).alias("p")
    ).agg(F.sum("p")).first()[0]
    assert n_prefix < 0.4 * full_posts


def test_prefix_ceil_boundary_threshold_times_n_rounds_up(spark):
    """ADVICE r4 regression: when threshold*n is mathematically an exact
    integer m but the double product rounds epsilon ABOVE m (0.28*25 =
    7.000000000000001), a naive ceil yields m+1, the prefix shrinks by
    one, and a pair whose similarity EQUALS the threshold is silently
    dropped — contradicting the documented identical-output guarantee.
    Both cases are crafted so the shared shingles (global freq 2) rank
    LAST in the ascending-frequency prefix order and the first shared
    rank is exactly the one the buggy prefix cuts off: without the
    -1e-9 epsilon the prefix variants return NO pair at all here.
    """
    from meds_polars_functions_spark.operators.dedup import (
        containment_pairs,
        containment_pairs_prefix,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    # --- jaccard at exactly t=0.28: B (9 words -> 7 3-gram shingles) is
    # a subset of A (27 words -> 25 shingles); j = 7/25 = 0.28 exactly.
    # A's buggy prefix = 25-ceil(7.000000000000001)+1 = 18 ranks, but the
    # 7 shared shingles occupy ranks 19-25.
    b_words = [f"s{i}" for i in range(9)]
    a_words = b_words + [f"x{i}" for i in range(18)]
    df = spark.createDataFrame(
        [(1, " ".join(a_words)), (2, " ".join(b_words))], ["doc_id", "text"]
    )
    base = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.28).collect()
    }
    pref = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs_prefix(df, "text", "doc_id", threshold=0.28).collect()
    }
    assert base == {(1, 2, 0.28)}
    assert pref == base

    # --- directed containment at exactly t=0.28: A has 25 shingles, 7 of
    # them shared (run s0..s8 inside a larger B); containment(A->B) =
    # 7/25 = 0.28 exactly, shared ranks 19-25, buggy prefix keeps 18.
    a2 = [f"a{i}" for i in range(18)] + [f"s{i}" for i in range(9)]
    b2 = [f"b{i}" for i in range(10)] + [f"s{i}" for i in range(9)] + [f"c{i}" for i in range(5)]
    df2 = spark.createDataFrame(
        [(1, " ".join(a2)), (2, " ".join(b2))], ["doc_id", "text"]
    )
    base2 = sorted(
        map(tuple, containment_pairs(df2, "text", "doc_id", threshold=0.28).collect())
    )
    pref2 = sorted(
        map(tuple, containment_pairs_prefix(df2, "text", "doc_id", threshold=0.28).collect())
    )
    assert any(a == 1 and b == 2 and abs(c - 0.28) < 1e-9 for a, b, c in base2), base2
    assert pref2 == base2


@pytest.mark.slow
def test_containment_minhash_matches_duckdb_replay(spark):
    """containment_pairs_minhash (the composed scale path, VERDICT r4
    item 5) in portable mode must emit exactly the directed containment
    pairs that a DuckDB replay of the same pipeline emits: portable
    minhash candidates (shared _minhash_pairs_cte) -> containment over
    the hashed shingle sets, both directions, at t=0.5 and t=0.8."""
    import sys

    import duckdb

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry_mod

    from meds_polars_functions_spark.operators.dedup import containment_pairs_minhash

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    cte = entry_mod._minhash_pairs_cte()
    for t in (0.5, 0.8):
        got = {
            (r["id_a"], r["id_b"], round(r["containment"], 9))
            for r in containment_pairs_minhash(
                docs, "text", "doc_id", threshold=t, portable=True
            ).collect()
        }
        want = {
            (r[0], r[1], round(r[2], 9))
            for r in con.execute(f"""
WITH {cte},
c AS (
  SELECT id_a, id_b,
    len(list_distinct(list_intersect(ha.h, hb.h))) AS ni,
    len(list_distinct(ha.h)) AS na,
    len(list_distinct(hb.h)) AS nb
  FROM cand JOIN hs ha ON cand.id_a = ha.doc_id
            JOIN hs hb ON cand.id_b = hb.doc_id)
SELECT id_a, id_b, ni::DOUBLE / na AS containment FROM c
  WHERE ni::DOUBLE / na >= {t}
UNION ALL
SELECT id_b AS id_a, id_a AS id_b, ni::DOUBLE / nb AS containment FROM c
  WHERE ni::DOUBLE / nb >= {t}
""").fetchall()
        }
        assert got == want, (t, len(got), len(want))
    # directed-measure sanity on a crafted excerpt pair: the small doc is
    # fully contained (containment 1.0) and the candidate survives LSH
    # because the pair's jaccard is also high
    big = " ".join(f"w{i}" for i in range(30))
    sub = " ".join(f"w{i}" for i in range(28))  # 26 of 28 shingles shared
    df2 = spark.createDataFrame([(1, big), (2, sub)], ["doc_id", "text"])
    rows = {
        (r["id_a"], r["id_b"]): round(r["containment"], 6)
        for r in containment_pairs_minhash(
            df2, "text", "doc_id", threshold=0.5
        ).collect()
    }
    assert rows[(2, 1)] == 1.0
    assert rows[(1, 2)] == round(26 / 28, 6)


def test_length_filter_keeps_exact_threshold_boundary_pair(spark):
    """The length filters prune on size ratio (a theorem) — this pins the
    boundary case they must NOT prune: |A|=4, |B|=2, t=0.5 puts the pair
    exactly at min == t*max AND jaccard == t (and containment(A in B)
    == t with B the superset direction at 1.0). A float-epsilon slip in
    the filter arithmetic would drop it."""
    from meds_polars_functions_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    df = spark.createDataFrame(
        [(1, "w1 w2 w3 w4"), (2, "w1 w2")], "doc_id long, text string"
    )
    # shingle_n=1 -> shingle sets are exactly the word sets
    base = ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.5, shingle_n=1).collect()
    pref = ngram_jaccard_pairs_prefix(df, "text", "doc_id", threshold=0.5, shingle_n=1).collect()
    assert len(base) == 1 and abs(base[0]["jaccard"] - 0.5) < 1e-12
    assert sorted(map(tuple, pref)) == sorted(map(tuple, base))
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, "text", "doc_id", threshold=0.5, shingle_n=1).collect()
    }
    # A-in-B direction sits exactly at t; B-in-A is full containment
    assert abs(cont[(1, 2)] - 0.5) < 1e-12
    assert cont[(2, 1)] == 1.0


def test_relative_slack_covers_large_n_boundary(spark):
    """ADVICE r5 item 3: the absolute -1e-9 epsilon stops covering the
    double product's rounding error once t*n grows past ~1e7. Concrete
    failure (found by exact-Fraction search): t=0.07, n=3e8 — t*n is
    exactly 21,000,000 in decimal arithmetic, but the double product is
    21000000.0000000037 (error 3.7e-9 > 1e-9), so the OLD expression
    ceil(t*n - 1e-9) = 21,000,001 shrank the prefix by one rank — the
    boundary-pair drop the round-5 fix was supposed to exclude, back at
    large n. The relative-slack form _t_times_n recovers exactly m at
    every magnitude (and stays exact at small n: t=0.28, n=25, the
    round-5 boundary case)."""
    from meds_polars_functions_spark.operators.dedup import _t_times_n

    # per-row thresholds: evaluate each case with its own literal t
    cases = [
        (300_000_000, 0.07, 21_000_000, True),   # old absolute form FAILS
        (3_000_000_000, 0.07, 210_000_000, True),
        (25, 0.28, 7, False),                     # round-5 small-n boundary
        (10_000_000, 0.7, 7_000_000, False),
    ]
    for n, t, expect_m, old_fails in cases:
        one = spark.createDataFrame([(n,)], "n long")
        got = one.select(F.ceil(_t_times_n(t, F.col("n"))).alias("m")).collect()[0]["m"]
        assert got == expect_m, (n, t, got, expect_m)
        old = one.select(
            F.ceil(F.lit(t) * F.col("n") - F.lit(1e-9)).alias("m")
        ).collect()[0]["m"]
        assert old == expect_m + (1 if old_fails else 0), (n, t, old)


def test_shingle_expansion_diagnostic_hand_computed(spark):
    """Σf / Σf² verified against a hand-built posting table: 3 docs,
    1-gram shingles, known frequencies."""
    from meds_polars_functions_spark.operators.dedup import (
        shingle_expansion_diagnostic,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c"),   # shingles {a,b,c}
            (2, "a b d"),   # {a,b,d}
            (3, "a e f"),   # {a,e,f}
        ],
        "doc_id long, text string",
    )
    d = shingle_expansion_diagnostic(df, "text", "doc_id", shingle_n=1)
    # f: a=3, b=2, c=1, d=1, e=1, f=1 -> Σf=9, Σf²=9+4+1+1+1+1=17
    assert d["postings"] == 9
    assert d["sum_p2"] == 17
    assert abs(d["expansion_ratio"] - 17 / 9) < 1e-12


@pytest.mark.slow
def test_auto_dispatch_identical_to_both_variants(spark):
    """The auto dispatchers are output-identical to whichever branch
    they pick — both branches forced via the cutover knob, plus the
    diagnostic-reuse argument."""
    from meds_polars_functions_spark.operators.dedup import (
        containment_pairs_auto,
        ngram_jaccard_pairs_auto,
        shingle_expansion_diagnostic,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    diag = shingle_expansion_diagnostic(docs, "text", "doc_id")
    assert diag["expansion_ratio"] > 1.0  # any real corpus
    ref_j = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs_auto(
            docs, "text", "doc_id", threshold=0.5,
            sump2_cutover=float("inf"), diagnostic=diag
        ).collect()  # forced baseline
    }
    forced_prefix = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs_auto(
            docs, "text", "doc_id", threshold=0.5,
            sump2_cutover=0.0, min_ratio=0.0, diagnostic=diag
        ).collect()  # forced prefix
    }
    assert ref_j == forced_prefix
    ref_c = {
        (r["id_a"], r["id_b"], round(r["containment"], 9))
        for r in containment_pairs_auto(
            docs, "text", "doc_id", threshold=0.8, cutover=float("inf"), diagnostic=diag
        ).collect()
    }
    forced_c = {
        (r["id_a"], r["id_b"], round(r["containment"], 9))
        for r in containment_pairs_auto(
            docs, "text", "doc_id", threshold=0.8, cutover=0.0, diagnostic=diag
        ).collect()
    }
    assert ref_c == forced_c
