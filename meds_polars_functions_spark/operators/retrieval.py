"""Hybrid retrieval: multi-query lexical BM25 top-k and reciprocal-rank
fusion — the standard two-tower production search shape (lexical recall
+ semantic recall, fused by rank). BEYOND-REFERENCE: the reference
(MEDS_polars_functions) has no retrieval surface; the scorers follow
public formulations — Okapi BM25 per Robertson & Zaragoza 2009 (the
Lucene idf form, matching ``text.bm25_scores``), RRF per Cormack,
Clarke & Buettcher, SIGIR 2009 (score = Σ 1/(k + rank)).

Scale shape (100 TB corpus, human-scale query set):

- ``bm25_topk``: the query table is tiny and BROADCAST twice (term
  semi-join, per-query scoring join); the corpus explode is map-side
  and the broadcast LEFT SEMI join prunes it to matching tokens BEFORE
  the only corpus-sized shuffle (the (doc, term) tf aggregation). The
  df/N/avg_dl statistics are small aggregates broadcast back. Nothing
  corpus-sized is ever collected or broadcast.
- ``rrf_fuse``: inputs are already per-query top-k (≤ |Q|·k rows each)
  — the union + groupBy is a bounded shuffle keyed (query, doc); the
  corpus is never touched.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.tokenize import TEXT
from .dedup import _spread


def _bm25_tf(words: DataFrame, term_set: DataFrame) -> DataFrame:
    """(id, t, tf, dl) over matching tokens only — bm25_topk's corpus
    pass. The corpus explode is pruned by a BROADCAST left-semi join on
    the query term set BEFORE the (id, t) aggregation exchange, so the
    only corpus-sized shuffle carries matching tokens, never the
    vocabulary. dl rides through the tf aggregation (one long per
    exploded token, collapsed map-side to one value per (id, t) group by
    the partial agg) — every row of a group carries the same size(ws),
    so first(dl) is deterministic and the corpus-sized lens join the
    scorer previously paid (two exchanges + a join keyed on id) is gone
    (round 15, guide §2.4). Named at module level so the plan test can
    pin this shape: bm25_topk checkpoints the result, which hides the
    subtree behind a LogicalRDD in the final explain."""
    return (
        words.select("id", F.size("ws").alias("dl"), F.explode("ws").alias("t"))
        .join(F.broadcast(term_set), "t", "left_semi")
        .groupBy("id", "t")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    tie_round: int | None = 6,
) -> DataFrame:
    """Okapi BM25 top-k per query, for a DataFrame of term-bag queries.

    ``queries`` is (query_id, terms: array<string>) — human-scale, so
    both derived query tables are broadcast. Duplicate terms within one
    query's bag are DISTINCT-ed (a term contributes once, exactly like
    ``text.bm25_scores``' list-literal term set). Scoring matches
    ``bm25_scores`` term-for-term: Lucene idf ln(1 + (N-df+.5)/(df+.5)),
    tf saturation with k1/b length normalization over the corpus-wide
    avg length. The per-(query, doc) score is the sum over matched
    terms, rounded to ``tie_round`` before the rank window so near-tie
    ordering is reproducible across engines (the embedding_topk
    convention); ties break on ascending doc id.

    Output: (query_id, <id_col>, bm25, rank <= k); only documents
    containing at least one of the query's terms appear.
    """
    # lazy localCheckpoint (round 16): qterms feeds the term semi-join's
    # build side AND the per-query scoring join — two separate broadcast
    # subqueries that each re-ran the caller's query-derivation subtree
    # (profiled at ~2 s apiece on the bench corpus: the dominant residual
    # after the words/tf cuts below). The table is |Q|·|terms| rows.
    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(terms_col).alias("t"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    term_set = qterms.select("t").distinct()

    # spread + lazy localCheckpoint (round 16, guide §2.4/§4 — the same
    # one-pass shingle-table pattern as dedup): `words` feeds the
    # corpus-stats aggregate AND the tf pipeline, and the stats/dfreq
    # BROADCAST subqueries each re-ran the whole scan+tokenize as a
    # SINGLE-TASK job (the bench corpus is one file; profiled at 4 ×
    # ~2.4 s single-task broadcast stages = the operator's entire local
    # cost). One parallelized tokenize pass now serves every consumer;
    # on a pre-split cluster corpus _spread is a no-op and the win is
    # one corpus scan instead of three.
    words = (
        _spread(docs, None)
        .select(F.col(id_col).alias("id"), TEXT.words(F.col(text_col)).alias("ws"))
        .localCheckpoint(eager=False)
    )
    lens = words.select("id", F.size("ws").alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("N"), F.avg("dl").alias("avg_dl")
    )  # one row

    # The (id, t, tf, dl) table is tiny (matched terms only) and feeds
    # BOTH the dfreq broadcast subquery and the scoring join — the lazy
    # checkpoint stops the dfreq broadcast job from re-running the
    # explode + semi-join subtree. The checkpoint hides that subtree
    # behind a LogicalRDD in the final explain, so its scale-critical
    # shape (broadcast semi prune BEFORE the only corpus-sized exchange)
    # is built by the named _bm25_tf seam below, which the plan test
    # pins directly.
    tf = _bm25_tf(words, term_set).localCheckpoint(eager=False)
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        tf.join(F.broadcast(dfreq), "t")
        .crossJoin(F.broadcast(stats))
        .select(
            "id",
            "t",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("N") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avg_dl"))
                )
            ).alias("s"),
        )
    )
    per_query = (
        scored.join(F.broadcast(qterms), "t")
        .groupBy("query_id", "id")
        .agg(F.sum("s").alias("bm25"))
    )
    if tie_round is not None:
        per_query = per_query.select(
            "query_id", "id", F.round("bm25", tie_round).alias("bm25")
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc("id"))
    return (
        per_query.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("id").alias(id_col), "bm25", "rank")
    )


def rrf_fuse(
    ranked: list[DataFrame],
    k: int = 10,
    rrf_k: int = 60,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    tie_round: int | None = 9,
) -> DataFrame:
    """Reciprocal-rank fusion of N per-query ranked lists (Cormack et
    al. 2009): score(q, d) = Σ_lists 1/(rrf_k + rank_list(q, d)), a
    document absent from a list simply contributes nothing (the union
    realizes the full-outer semantics without a join). Re-ranked by
    (score desc, doc id asc), cut at ``k``.

    Determinism: each contribution 1/(rrf_k + rank) is one exact double
    division, identical on any engine; with TWO lists the sum is a
    single commutative addition, so the fused score is bit-reproducible
    — with three or more lists the aggregation order varies, which
    ``tie_round`` absorbs (contributions differ at the 1e-2 scale, far
    above the default 1e-9 grid).

    Output: (query_id, <id_col>, rrf, rank <= k).
    """
    if not ranked:
        raise ValueError("rrf_fuse: need at least one ranked list")
    parts = [
        df.select(
            F.col(query_col).alias("query_id"),
            F.col(id_col).alias("__id__"),
            (
                F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(rank_col).cast("double"))
            ).alias("__c__"),
        )
        for df in ranked
    ]
    u = reduce(DataFrame.unionByName, parts)
    fused = u.groupBy("query_id", "__id__").agg(F.sum("__c__").alias("rrf"))
    if tie_round is not None:
        fused = fused.select(
            "query_id", "__id__", F.round("rrf", tie_round).alias("rrf")
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("__id__"))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("__id__").alias(id_col), "rrf", "rank")
    )



def mmr_rerank(
    candidates: DataFrame,
    embeddings: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    score_col: str = "score",
    emb_id_col: str = "vec_id",
    emb_col: str = "embedding",
    tie_round: int = 9,
) -> DataFrame:
    """Maximal-marginal-relevance diversification of per-query ranked
    candidates (Carbonell & Goldstein, SIGIR 1998): greedily select k
    documents maximizing ``lam * rel(c) - (1 - lam) * max_{s in S}
    sim(c, s)`` — relevance traded against redundancy with the
    already-selected set S (empty-S penalty is 0, so the first pick is
    the relevance argmax). ``sim`` is embedding cosine. BEYOND-REFERENCE
    (no retrieval surface in the reference); composes with bm25_topk /
    rrf_fuse / the ANN top-k family, whose bounded per-query outputs are
    exactly the candidate shape this consumes.

    Scale shape (100 TB corpus, human-scale query set): ``candidates``
    is |Q| x n_cand rows BY CONSTRUCTION (a retriever's top-n), so it is
    BROADCAST into the corpus-embedding join — the raw table is read
    ONCE and never shuffled; everything after that join is bounded. The
    greedy argmax loop is genuinely iterative (each pick changes the
    next penalty), so pairwise sims + selection run per query group in
    ONE Arrow-batched ``applyInPandas`` (n_cand^2 dot products in a
    single numpy matmul) — the only exchange in the whole plan is the
    bounded groupBy(query_id). Fully lazy: nothing is collected at
    construction time (contrast pq_topk's eager rerank).

    Determinism: candidate ids are processed in ascending order, sims
    are ``np.round(mat @ mat.T / outer(norms), tie_round)`` — the same
    numpy float64 matmul + round-9 grid as the driver-proven
    ``brute_force_topk_vectorized`` / DuckDB list_sum parity — and every
    greedy step compares ``np.round(lam*rel - (1-lam)*penalty,
    tie_round)`` with argmax-first = ascending-id tiebreak, so the
    selection is engine-reproducible. Candidates without an embedding
    row are dropped (inner join) — a similarity penalty cannot be
    computed for them; (query, doc) candidate rows are assumed unique
    (every retriever top-n in this package emits them unique).

    Output: (query_id, <id_col>, mmr, rank <= k).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cand = candidates.select(
        F.col(query_col).alias("query_id"),
        F.col(id_col).alias("__id__"),
        F.col(score_col).cast("double").alias("__rel__"),
    )
    emb = embeddings.select(
        F.col(emb_id_col).alias("__id__"), F.col(emb_col).alias("__v__")
    )
    # candidate side is bounded -> broadcast; the corpus-sized embedding
    # table streams through ONE broadcast hash join (no corpus shuffle,
    # no second read — the pairwise sims are computed inside the Arrow
    # stage, not by a self-join that would re-scan the corpus).
    ce = F.broadcast(cand).join(emb, "__id__").select(
        "query_id", "__id__", "__rel__", "__v__"
    )

    out_schema = T.StructType(
        [
            T.StructField("query_id", ce.schema["query_id"].dataType),
            T.StructField("__id__", ce.schema["__id__"].dataType),
            T.StructField("mmr", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )
    pen_w = 1.0 - lam

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf["query_id"].iloc[0]
        order = pdf["__id__"].argsort(kind="stable").to_numpy()
        ids = pdf["__id__"].to_numpy()[order]
        rel = pdf["__rel__"].to_numpy()[order]
        mat = np.array(list(pdf["__v__"]), dtype=np.float64)[order]
        norms = np.linalg.norm(mat, axis=1)
        sim = np.round(mat @ mat.T / np.outer(norms, norms), tie_round)
        n = len(ids)
        taken = np.zeros(n, dtype=bool)
        penalty = np.zeros(n)
        out = {"query_id": [], "__id__": [], "mmr": [], "rank": []}
        for rank in range(1, min(k, n) + 1):
            m = np.round(lam * rel - pen_w * penalty, tie_round)
            m[taken] = -np.inf
            best = int(np.argmax(m))  # first max = ascending-id tiebreak
            out["query_id"].append(qid)
            out["__id__"].append(ids[best])
            out["mmr"].append(float(m[best]))
            out["rank"].append(rank)
            taken[best] = True
            np.maximum(penalty, sim[:, best], out=penalty)
        return pd.DataFrame(out)

    return (
        ce.groupBy("query_id")
        .applyInPandas(greedy, schema=out_schema)
        .select("query_id", F.col("__id__").alias(id_col), "mmr", "rank")
    )
