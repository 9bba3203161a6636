"""Distributed BPE tokenizer training.

Beyond-reference training-data operator: learn byte-pair-encoding merges
from a corpus, Spark-first. The classic scalable formulation (Sennrich et
al. 2016 operate on a word-frequency dictionary, not the raw corpus):

1. ONE corpus-sized shuffle builds the word-frequency table — its row
   count is the number of *distinct* words, which is corpus-sublinear
   (zipfian: ~10-100 M rows at 100 TB, trivially partitionable).
2. Every merge iteration then runs over that small table only: adjacent
   symbol-pair counts are a map-side explode + vocabulary-bounded
   groupBy, the argmax pair is a 1-row collect, and applying the merge
   is a per-row native `aggregate` fold (no Python, no shuffle).

The iteration-state lineage is cut with ``localCheckpoint`` every
``checkpoint_every`` merges — the same guard the connected-components
loop uses — so a 32k-merge vocabulary doesn't build a 32k-deep plan.

Greedy leftmost-first, non-overlapping merge semantics match the
published BPE algorithm: merging ``(a, a)`` over ``a a a`` yields
``[aa, a]``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenize import TEXT


def word_freq_table(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq): the one corpus-sized aggregation. Everything after
    BPE setup runs on this table, never the corpus."""
    return (
        df.select(F.explode(TEXT.words(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def init_symbol_table(words: DataFrame) -> DataFrame:
    """(word, freq, syms): seed each word as its character sequence.
    ``split(w, '')`` emits no empty trailing element in Spark; the filter
    guards engine differences anyway."""
    return words.select(
        "word",
        "freq",
        F.array_remove(F.split("word", ""), "").alias("syms"),
    )


def pair_counts(symtab: DataFrame) -> DataFrame:
    """(a, b, cnt): frequency-weighted adjacent symbol-pair counts.
    Map-side explode of zip(syms[:-1], syms[1:]); the groupBy output is
    bounded by the (current) symbol vocabulary squared — in practice the
    zipfian head, far smaller than the word table."""
    n1 = F.size("syms") - 1
    pairs = symtab.filter(F.size("syms") >= 2).select(
        "freq",
        F.explode(
            F.arrays_zip(
                F.slice("syms", 1, n1).alias("a"), F.slice("syms", 2, n1).alias("b")
            )
        ).alias("pr"),
    )
    return (
        pairs.groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
        .agg(F.sum("freq").alias("cnt"))
    )


def top_pair(symtab: DataFrame) -> tuple[str, str, int] | None:
    """Deterministic argmax pair: count desc, then (a, b) asc. 1-row
    collect — the only driver round-trip per merge."""
    best = top_pairs(symtab, 1)
    return best[0] if best else None


def top_pairs(
    symtab: DataFrame, k: int, overscan: int = 4
) -> list[tuple[str, str, int]]:
    """Up to ``k`` CONFLICT-FREE merge pairs from ONE driver round-trip:
    rank pairs (count desc, then (a, b) asc — the sequential tie rule),
    collect the top ``k * overscan`` candidates, and greedily keep pairs
    whose symbol sets are disjoint from every pair already kept.

    Why disjoint-symbols is the right batching rule: merging (a, b)
    changes only counts of pairs that touch ``a`` or ``b`` (it consumes
    (x,a)/(b,y) adjacencies and creates (x,ab)/(ab,y) ones). A pair
    (c, d) with {c,d} ∩ {a,b} = ∅ has an IDENTICAL count before and
    after the merge, so every kept pair is applied at exactly the count
    it was ranked with. The conflict set also includes each kept pair's
    MERGED STRING ``a+b``: that makes the batch order-independent (no
    kept pair can consume another's output, even via a pre-existing
    symbol that spells the same string), so ``apply_merges`` may apply
    the whole batch in ONE fold pass with sequential semantics. The
    only divergence from strict sequential BPE is that a pair *created*
    by an earlier in-batch merge (e.g. (x, ab)) cannot be chosen until
    the next pass — the standard distributed-BPE approximation (k=1
    degenerates to exact sequential order).
    """
    rows = (
        pair_counts(symtab)
        .filter(F.col("cnt") >= 2)
        .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(max(k * overscan, k))
        .collect()
    )
    chosen: list[tuple[str, str, int]] = []
    used: set[str] = set()
    for r in rows:
        if len(chosen) >= k:
            break
        if r["a"] in used or r["b"] in used or (r["a"] + r["b"]) in used:
            continue
        chosen.append((r["a"], r["b"], r["cnt"]))
        used.update((r["a"], r["b"], r["a"] + r["b"]))
    return chosen


def apply_merge(symtab: DataFrame, a: str, b: str) -> DataFrame:
    """Replace every adjacent, non-overlapping, leftmost-first (a, b)
    occurrence in each word's symbol array with the merged symbol a+b.
    Single-pair case of ``apply_merges``."""
    return apply_merges(symtab, [(a, b)])


#: pair-key separator inside the fold's isin test; NUL cannot occur in a
#: symbol because symbols descend from word characters (the tokenizer
#: regex never emits it)
_SEP = "\x00"


def apply_merges(symtab: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """Apply a CONFLICT-FREE batch of merges (as selected by
    ``top_pairs``: pairwise-disjoint symbol sets, merged strings
    included) in ONE fold pass over the symbol table.

    A native `aggregate` fold with state (out, pending): each incoming
    symbol either completes a merge with the pending one (the pair key
    ``pend + NUL + s`` hits the batch's literal key list, emitting
    ``concat(pend, s)``), flushes it, or becomes the new pending symbol.
    Greedy leftmost-first, non-overlapping — identical to applying the
    batch members sequentially, which conflict-freedom makes
    order-independent. No Python, no shuffle, and — the batching point —
    ONE traversal of every word regardless of batch size, where chained
    single-pair folds would re-traverse per pair (k× the work for an
    interpreted higher-order expression)."""
    if not pairs:
        return symtab
    # The in-repo tokenizer can never emit NUL inside a symbol, but this
    # entry point accepts arbitrary caller-supplied merge lists, where a
    # symbol containing _SEP (e.g. a='x', b='\x00y' colliding with the
    # key of pair ('x\x00', 'y')) would alias a different pair's key and
    # merge the wrong symbols. Reject rather than silently corrupt.
    # (ADVICE r4.)
    bad = [(a, b) for a, b in pairs if _SEP in a or _SEP in b]
    if bad:
        raise ValueError(
            f"merge symbols must not contain the reserved separator "
            f"{_SEP!r}: {bad[:3]}"
        )
    keys = [a + _SEP + b for a, b in pairs]
    state = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )
    fold = F.aggregate(
        "syms",
        state,
        lambda acc, s: F.when(
            acc["pend"].isNull(), F.struct(acc["out"].alias("out"), s.alias("pend"))
        )
        .when(
            F.concat(acc["pend"], F.lit(_SEP), s).isin(*keys),
            F.struct(
                F.concat(acc["out"], F.array(F.concat(acc["pend"], s))).alias("out"),
                F.lit(None).cast("string").alias("pend"),
            ),
        )
        .otherwise(
            F.struct(
                F.concat(acc["out"], F.array(acc["pend"])).alias("out"),
                s.alias("pend"),
            )
        ),
        lambda acc: F.when(
            acc["pend"].isNull(), acc["out"]
        ).otherwise(F.concat(acc["out"], F.array(acc["pend"]))),
    )
    return symtab.select("word", "freq", fold.alias("syms"))


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    checkpoint_every: int = 8,
    batch_size: int = 1,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``n_merges`` BPE merges; returns (merge list in order, final
    symbol table). Stops early when no pair repeats.

    ``batch_size=1`` (default) is EXACT sequential Sennrich BPE — one
    argmax collect per merge, fine for small vocabularies and for
    oracle replay. ``batch_size=k`` is the scale path for real vocab
    sizes: each pass does ONE driver round-trip (`top_pairs`) and ONE
    fold traversal (`apply_merges`) for up to ``k`` conflict-free
    merges — a 32k-merge train becomes ~32k/k Spark jobs AND ~32k/k
    word-table traversals instead of 32k of each (the round-3 scale
    caveat). The table localCheckpoints every ``checkpoint_every``
    merge PASSES so plan depth stays bounded."""
    symtab = init_symbol_table(word_freq_table(df, text_col))
    symtab = symtab.localCheckpoint()  # corpus scan happens exactly once
    merges: list[tuple[str, str]] = []
    passes = 0
    while len(merges) < n_merges:
        k = min(batch_size, n_merges - len(merges))
        batch = top_pairs(symtab, k)
        if not batch:
            break
        pairs = [(a, b) for a, b, _ in batch]
        merges.extend(pairs)
        symtab = apply_merges(symtab, pairs)
        passes += 1
        if passes % checkpoint_every == 0:
            symtab = symtab.localCheckpoint()
    return merges, symtab


def bpe_encode(df: DataFrame, text_col: str, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply a learned merge list to new text: per-word char split, then
    each merge in training order (the standard BPE inference rule).
    Implemented over a distinct-word table, then joined back — encoding
    cost scales with distinct words, not corpus rows.

    Consecutive merges are greedily grouped into conflict-free runs
    (same used-set rule as ``top_pairs``: a group member's symbols and
    merged string may not appear in any earlier member's) and each run
    is applied in ONE ``apply_merges`` fold pass. Unlike training-time
    batching this is EXACT, not an approximation: within a run no merge
    can consume another's output or input, so batch application equals
    the sequential order — a 32k-merge vocabulary encodes in far fewer
    table traversals than 32k."""
    words = df.select(F.explode(TEXT.words(F.col(text_col))).alias("word")).distinct()
    tab = words.select(
        "word",
        F.lit(1).alias("freq"),
        F.array_remove(F.split("word", ""), "").alias("syms"),
    )
    groups: list[list[tuple[str, str]]] = []
    cur: list[tuple[str, str]] = []
    used: set[str] = set()
    for a, b in merges:
        if a in used or b in used or (a + b) in used:
            groups.append(cur)
            cur, used = [], set()
        cur.append((a, b))
        used.update((a, b, a + b))
    if cur:
        groups.append(cur)
    for i, g in enumerate(groups):
        tab = apply_merges(tab, g)
        if (i + 1) % 8 == 0:
            tab = tab.localCheckpoint()
    return tab.select("word", "syms")
