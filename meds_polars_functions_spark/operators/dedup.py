"""Deduplication suite for large-scale training-data pipelines.

Beyond-reference operators (the reference is EHR-only; these are the
dedup primitives a 100 TB text corpus needs). All hot paths are native
Catalyst expressions — hashing, shingling, minhashing and banding run
JVM-side inside whole-stage codegen; **no Python UDFs**.

Scale design:
- exact dedup: one shuffle on the content hash (not the content itself —
  64-bit key exchange, not document bodies).
- MinHash-LSH: per-doc signatures are computed map-side; only
  (band_hash, doc_id) pairs shuffle — |bands| × |docs| small rows. The
  candidate self-join joins on band buckets, so comparisons are local to
  a bucket, never all-pairs. Verification re-computes exact Jaccard only
  on candidates.
- SimHash: signature map-side; near-dup = equal signature buckets (or
  banded sub-signatures for Hamming tolerance).
"""

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.tokenize import DEDUP

# Mersenne prime 2^31-1: modulus for the universal-hash family
# h_j(x) = (a_j * x + b_j) mod P — the standard minhash construction.
# 31-bit values keep a_j * h < 2^62, safely inside signed-64 arithmetic.
_MERSENNE_P = (1 << 31) - 1


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def _t_times_n(threshold: float, n) -> "F.Column":
    """``threshold * n`` with RELATIVE ``(1 - 1e-12)`` slack, for the
    never-over-prune side of length/prefix filters (ADVICE r5 item 3).

    The double product's rounding error grows like ``t*n*2^-52`` — an
    ABSOLUTE epsilon (the previous ``- 1e-9``) stops covering it around
    ``n ~ 1e7`` shingles at high thresholds, where the exact-threshold
    boundary guarantee could fail again. A relative ``1e-12`` slack is
    ~4500x the worst-case relative rounding error at any magnitude, yet
    small enough that for every exact integer ``m = t*n`` with
    ``m < ~1e11`` the slackened product still lands strictly inside
    ``(m-1, m]`` — so ``ceil`` recovers exactly ``m`` and comparisons
    never drop a boundary pair. Loosening only ever ADMITS extra
    candidates; the exact downstream verify removes them.
    Regression-tested at n=1e9 in tests/test_dedup.py."""
    return F.lit(threshold) * n * F.lit(1.0 - 1e-12)


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep one row (the min id) per exact content value.

    Hash-groupBy on a 256-bit content digest, so the shuffle key is a
    fixed-width hash, not the (potentially megabyte) content.
    """
    w = Window.partitionBy(F.sha2(F.col(content_col).cast("string"), 256)).orderBy(id_col)
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def exact_dup_groups(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Duplicate-cluster summary: one row per content value appearing >1
    time, with member count and canonical (min) id."""
    return (
        df.groupBy(F.sha2(F.col(content_col).cast("string"), 256).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("canonical_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# Shingling + MinHash + LSH banding
# ---------------------------------------------------------------------------


def _ngrams_from_words(words: F.Column, n: int) -> F.Column:
    """Distinct sliding word n-grams over an ALREADY-BOUND words column.

    `words` must be a plain column reference (attribute), not a compound
    expression: higher-order functions are interpreted (CodegenFallback)
    and `F.slice` with a lambda-variable start re-evaluates its source
    expression once per outer element — O(len²) per row when the source
    is the split/filter pipeline (measured 9× slower on 300-char docs).
    """
    return F.when(
        F.size(words) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", words)))


def word_shingles(text_col: str, n: int = 3) -> F.Column:
    """Distinct word n-grams of a text column as ONE expression.

    Convenience form for small/one-off frames; on the hot path use
    `shingle_table`, which binds the words array as a real column first —
    this inline form pays the quadratic slice-source re-evaluation
    described in `_ngrams_from_words`."""
    return _ngrams_from_words(DEDUP.words(F.col(text_col)), n)


def _shingles_udf(n: int):
    """Arrow-batched pandas UDF: text -> array<string> of DISTINCT word
    n-grams, first-occurrence order — bit-identical output to the
    ``array_distinct(transform(...))`` expression form (same tokenizer
    dialect, ``tokenize.DEDUP``, same <n-words fallback to the whole-word
    join), but vectorized: the expression form is CodegenFallback
    (interpreted per element) and measured ~8× slower at sf0.1 — the
    same finding that motivated ``_band_hash_udf``.

    Invariant consumers rely on: the output array is NEVER null or
    empty (the <n-words fallback emits ``[""]``), so downstream
    explodes use ``explode_outer`` — identical rows, but no implicit
    non-empty filter for Catalyst to push below the Arrow stage, which
    would DUPLICATE this UDF's evaluation (observed: 2 ArrowEvalPython
    stages per side before the switch; plan test pins 1)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    token_re = DEDUP.regex

    @pandas_udf("array<string>")
    def sh(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            words = [w for w in token_re.split((t or "").lower()) if w]
            if len(words) >= n:
                grams = list(
                    dict.fromkeys(
                        " ".join(words[i : i + n])
                        for i in range(len(words) - n + 1)
                    )
                )
            else:
                grams = [" ".join(words)]
            out.append(grams)
        return pd.Series(out)

    return sh


def shingle_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    out_col: str = "shingles",
) -> DataFrame:
    """(id, shingles): one Arrow pass over the text (``_shingles_udf``).
    The expression form survives as ``word_shingles`` for inline use on
    small frames; this table form is the hot path shared by the exact
    Jaccard / containment / decontamination / novelty families."""
    return df.select(
        F.col(id_col).alias("id"),
        _shingles_udf(n)(F.col(text_col)).alias(out_col),
    )


def overfrequent_shingle_hashes(
    df: DataFrame,
    text_col: str,
    shingle_n: int = 3,
    max_doc_ratio: float = 0.5,
) -> frozenset[int]:
    """Hashes of shingles appearing in more than ``max_doc_ratio`` of docs.

    Boilerplate shingles (site chrome, license headers, template spam) are
    the classic LSH failure: they dominate every minhash signature, every
    doc lands in the same band buckets, and candidate generation goes
    O(n²). Doc-frequency capping removes them BEFORE signatures are
    computed. The result is driver-collected but bounded by construction:
    at most ``1/max_doc_ratio`` shingles can each appear in more than that
    fraction of documents... per distinct shingle value the bound is loose,
    but in practice the over-frequent set is tiny; pass a higher ratio if
    a corpus proves otherwise. Hash space matches _band_hash_udf
    (crc32 % P) so the UDF can filter by hash without re-materializing
    strings.
    """
    from zlib import crc32

    n_docs = df.count()
    cap = int(n_docs * max_doc_ratio)
    wdf = df.select(DEDUP.words(F.col(text_col)).alias("__w__"))
    posts = wdf.select(
        F.explode(_ngrams_from_words(F.col("__w__"), shingle_n)).alias("g")
    )
    # ngrams are per-doc distinct, so count(g) IS document frequency
    freq = posts.groupBy("g").count().filter(F.col("count") > cap)
    return frozenset(
        crc32(r["g"].encode()) % _MERSENNE_P for r in freq.collect()
    )


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash family."""
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE_P, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE_P, size=num_hashes, dtype=np.int64)
    return list(zip(a.tolist(), b.tolist()))


def minhash_signature(
    shingles: F.Column, num_hashes: int = 64, seed: int = 42
) -> F.Column:
    """array<long> minhash signature: for each hash j,
    min over shingles of (a_j * xxhash64(s) + b_j) mod 2^31-1.

    Expressed as ONE nested higher-order function — the hash-function loop
    runs inside the expression (coefficients are literal arrays indexed by
    j), not unrolled into num_hashes separate expression trees. Unrolling
    makes the plan tree O(num_hashes × |shingle expr|) and breaks codegen;
    this form stays compact at any num_hashes.
    """
    params = _hash_params(num_hashes, seed)
    a_arr = F.array(*[F.lit(a) for a, _ in params])
    b_arr = F.array(*[F.lit(b) for _, b in params])
    base = F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_P)))
    return F.transform(
        F.sequence(F.lit(1), F.lit(num_hashes)),
        lambda j: F.array_min(
            F.transform(
                base,
                lambda h: (F.element_at(a_arr, j) * h + F.element_at(b_arr, j))
                % F.lit(_MERSENNE_P),
            )
        ),
    )


def _band_hash_udf(
    shingle_n: int,
    num_hashes: int,
    bands: int,
    seed: int,
    banned: frozenset[int] = frozenset(),
    with_shingles: bool = False,
    portable: bool = False,
):
    """Arrow-batched pandas UDF: text -> array<long> of LSH band hashes,
    or (with_shingles) -> struct<bands: array<long>, sh: array<long>>
    where ``sh`` is the doc's hashed shingle set (for downstream exact
    Jaccard without re-shingling the text).

    Why a UDF here: Spark's higher-order array functions are
    CodegenFallback (interpreted per element), and minhash needs
    num_hashes × |shingles| lambda evaluations per row — measured ~35×
    slower than this vectorized path at 50k docs. Inside the UDF the hash
    matrix is one numpy broadcast: (a[:,None] * h[None,:] + b[:,None]) % P,
    min over shingles. Shingle hashing is zlib.crc32 — C-speed and
    process-stable (unlike Python's salted str hash)."""
    from zlib import crc32

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if portable:
        # Engine-portable shingle hash: 60-bit md5 prefix mod P, exactly
        # reproducible in SQL as ('0x'||substr(md5(s),1,15))::BIGINT % P.
        # ~3× slower than crc32 per shingle — verification mode, not the
        # production default. Band bucketing stays crc32 (bucket key choice
        # is invisible in the verified output). NOTE: incompatible with the
        # `banned` set, which lives in crc32 hash space.
        from hashlib import md5 as _md5

        def shingle_hash(s: str) -> int:
            return int(_md5(s.encode()).hexdigest()[:15], 16) % _MERSENNE_P

    else:

        def shingle_hash(s: str) -> int:
            return crc32(s.encode()) % _MERSENNE_P

    r = num_hashes // bands
    params = _hash_params(num_hashes, seed)
    a = np.array([p[0] for p in params], dtype=np.int64)[:, None]
    b = np.array([p[1] for p in params], dtype=np.int64)[:, None]
    token_re = DEDUP.regex
    banned_arr = np.fromiter(banned, dtype=np.int64, count=len(banned))

    def doc_rows(texts):
        for t in texts:
            words = [w for w in token_re.split((t or "").lower()) if w]
            if len(words) >= shingle_n:
                shingles = {
                    " ".join(words[i : i + shingle_n])
                    for i in range(len(words) - shingle_n + 1)
                }
            else:
                shingles = {" ".join(words)}
            h = np.fromiter(
                (shingle_hash(s) for s in shingles),
                dtype=np.int64,
                count=len(shingles),
            )
            if banned_arr.size:
                h = h[~np.isin(h, banned_arr)]
            if h.size == 0:
                # every shingle was boilerplate: emit NO bands — such a
                # doc forms candidates with nothing (its content carries
                # no signal); exact dedup catches byte-identical copies
                yield [], h
                continue
            sig = ((a * h[None, :] + b) % _MERSENNE_P).min(axis=1)
            # sh is a hashed SET: the shingle strings are distinct by
            # construction, but a crc32 collision (p ~ |shingles|²/2³¹)
            # could duplicate a hash value — np.unique (after the sig,
            # which is collision-insensitive: min over a multiset) makes
            # the distinct-array contract of jaccard_similarity's
            # |A|+|B|−|A∩B| union identity unconditional (ADVICE r15).
            yield [
                crc32(sig[i * r : (i + 1) * r].tobytes()) for i in range(bands)
            ], np.unique(h)

    if with_shingles:

        @pandas_udf("bands array<long>, sh array<long>")
        def band_and_shingle_hashes(texts: pd.Series) -> pd.DataFrame:
            rows = list(doc_rows(texts))
            return pd.DataFrame(
                {"bands": [r[0] for r in rows], "sh": [r[1] for r in rows]}
            )

        return band_and_shingle_hashes

    @pandas_udf("array<long>")
    def band_hashes(texts: pd.Series) -> pd.Series:
        return pd.Series([r[0] for r in doc_rows(texts)])

    return band_hashes


def _spread(df: DataFrame, min_parallelism: int | None) -> DataFrame:
    """Repartition ONLY when the input has fewer partitions than the
    cluster has slots (None = default parallelism). A big corpus arrives
    pre-split by the file scanner (maxPartitionBytes) and skips the
    exchange entirely; a small/single-file input would otherwise pin the
    per-doc signature UDF to one core while the rest of the cluster
    idles — measured 13× on the bench corpus (1 file, 32 slots)."""
    target = (
        df.sparkSession.sparkContext.defaultParallelism
        if min_parallelism is None
        else min_parallelism
    )
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_bucket_size: int | None = None,
    max_shingle_doc_ratio: float | None = None,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) sharing >=1 identical band.

    rows_per_band = num_hashes // bands; similarity threshold ~
    (1/bands)^(1/rows_per_band). Signatures are computed map-side
    (vectorized Arrow UDF, see _band_hash_udf); only (band_idx, band_hash,
    id) rows shuffle — ONE exchange into per-bucket id lists, then pairs
    are expanded bucket-locally from the bound array (no self-join: the
    join formulation shuffles the banded table twice and was measured 2×
    slower, and its bucket-size blowup is invisible until the join runs).

    `max_bucket_size` drops buckets with more members than the cap before
    pair expansion. A degenerate bucket (boilerplate text, template spam)
    otherwise expands to O(b²) pairs and dominates the stage at scale;
    members of an over-cap bucket are near-identical to each other anyway,
    so downstream clustering loses little. None = no cap (exact banding).

    `max_shingle_doc_ratio` attacks the same failure one stage earlier:
    shingles present in more than that fraction of documents are excluded
    from signatures (see overfrequent_shingle_hashes), so boilerplate
    never inflates bucket sizes in the first place. Costs one extra
    DF-counting pass over the corpus. None = no capping.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    banned = (
        overfrequent_shingle_hashes(df, text_col, shingle_n, max_shingle_doc_ratio)
        if max_shingle_doc_ratio is not None
        else frozenset()
    )
    # asNondeterministic: the UDF is pure, but the conservative marking
    # stops ExtractPythonUDFs from DUPLICATING it below the _spread
    # exchange (where it would run once per scan split — single-core on a
    # small input — and then AGAIN above), and keeps branch plans
    # byte-identical for exchange reuse (see minhash_dedup_pairs).
    udf = _band_hash_udf(shingle_n, num_hashes, bands, seed, banned).asNondeterministic()
    df = _spread(df, None)
    banded = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(udf(F.col(text_col))).alias("band_idx", "band_hash"),
    )
    return _bucket_pairs(banded, ["band_idx", "band_hash"], max_bucket_size)


def _bucket_pairs(
    banded: DataFrame,
    bucket_cols: list[str],
    max_bucket_size: int | None = None,
    id_col: str = "id",
) -> DataFrame:
    """(id_a < id_b) pairs co-located in any bucket: ONE exchange into
    per-bucket sorted id lists (partial collect_set map-side), bucket-local
    pair expansion, distinct. Shared by every LSH family here (minhash
    bands, simhash chunks, hyperplane tables)."""
    buckets = (
        banded.groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    # ids is a bound attribute after the aggregation, so the variable-start
    # slice reads the array instead of recomputing it (see _ngrams_from_words)
    return (
        buckets.select(F.posexplode("ids").alias("i", "id_a"), "ids")
        .select(
            "id_a",
            F.explode(F.slice(F.col("ids"), F.col("i") + 2, F.size("ids"))).alias(
                "id_b"
            ),
        )
        .distinct()
    )


def jaccard_similarity(shingles_a: F.Column, shingles_b: F.Column) -> F.Column:
    """Exact Jaccard over two DISTINCT-element arrays — native set ops.

    |A∪B| is derived as |A| + |B| − |A∩B| (exact for distinct-element
    arrays, the contract of every caller here): one hash-set build per
    pair instead of two, and no union array is ever materialized — the
    measured halving of the verify stage on the prefix-join path (round
    15). The division consumes the same integers as the array_union
    form, so the double is bit-identical."""
    inter = F.size(F.array_intersect(shingles_a, shingles_b))
    union = F.size(shingles_a) + F.size(shingles_b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_bucket_size: int | None = None,
    max_shingle_doc_ratio: float | None = None,
    portable: bool = False,
) -> DataFrame:
    """Verified near-duplicate pairs: LSH candidates filtered by exact
    Jaccard >= threshold. Output: (id_a, id_b, jaccard).

    Capping options shape CANDIDATE generation only; the verification
    Jaccard is always computed on full (hashed) shingle sets, so reported
    similarities stay ground-truth regardless of capping. (Jaccard is over
    crc32-hashed shingles, not strings — collision probability per pair is
    ~|shingles|²/2³¹, vanishing.)

    Plan shape: ONE corpus pass. The signature UDF emits
    struct<bands, sh> under a repartition("id") and the result is
    PERSISTED (compact hashed longs, ~KB/doc — raw text never leaves the
    scan): the banding branch and both verification join sides read the
    same materialized rows. (The earlier shared-exchange/ReusedExchange
    formulation was defeated by Spark 4.1 per-branch struct-field
    pruning — the executed plan ran the UDF twice; the plan pin now
    asserts ONE ArrowEvalPython.) Verification Jaccard
    is native codegen set ops (array_intersect/array_union on longs), not
    interpreted string re-shingling. No manual broadcast hints —
    measured slower than letting AQE pick build sides here."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    banned = (
        overfrequent_shingle_hashes(df, text_col, shingle_n, max_shingle_doc_ratio)
        if max_shingle_doc_ratio is not None
        else frozenset()
    )
    # asNondeterministic (UDF is pure): without it, ExtractPythonUDFs
    # duplicates the UDF below the spread exchange (single-core eval on a
    # 1-split scan) and per-branch struct-field pruning rewrites the
    # shared subtree so the three consumers no longer match — killing the
    # ReusedExchange this whole plan shape is built around. Verified in
    # the executed plan: with the marking, ONE ArrowEvalPython stage and
    # TWO ReusedExchange nodes.
    if portable and banned:
        raise ValueError(
            "portable mode is incompatible with max_shingle_doc_ratio: the "
            "banned set lives in crc32 hash space"
        )
    udf = _band_hash_udf(
        shingle_n, num_hashes, bands, seed, banned, with_shingles=True,
        portable=portable,
    ).asNondeterministic()
    # persist the compact signature table (hashed longs, ~KB/doc — the
    # raw text never leaves the scan): the banding branch and both
    # verification join sides read the SAME materialized rows, so the
    # signature UDF runs exactly ONE corpus pass. The previous
    # shared-exchange formulation (repartition above the struct UDF +
    # ReusedExchange) was defeated by per-branch struct-field pruning in
    # Spark 4.1 — the bands branch and the sh branches pushed different
    # projections BELOW the exchange, and the executed plan re-ran the
    # UDF (2 ArrowEvalPython stages, the old plan pin). The id
    # partitioning is established before the persist so both
    # verification joins reuse it from the cache.
    sigs = (
        _spread(df, None)
        .select(F.col(id_col).alias("id"), udf(F.col(text_col)).alias("s"))
        .repartition("id")
        .localCheckpoint(eager=False)
    )
    banded = sigs.select(
        "id", F.posexplode(F.col("s.bands")).alias("band_idx", "band_hash")
    )
    cands = _bucket_pairs(banded, ["band_idx", "band_hash"], max_bucket_size)
    # spread the CPU-bound verify across the cluster (round 15, same
    # rationale as ngram_jaccard_pairs_prefix: AQE's byte-based
    # coalescing squeezes the small id-pair table onto few tasks while
    # the per-pair set ops dominate).
    cands = cands.repartition(cands.sparkSession.sparkContext.defaultParallelism)
    sh_a = sigs.select(F.col("id").alias("id_a"), F.col("s.sh").alias("__sa__"))
    sh_b = sigs.select(F.col("id").alias("id_b"), F.col("s.sh").alias("__sb__"))
    return (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            jaccard_similarity(F.col("__sa__"), F.col("__sb__")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard over *all* pairs sharing at least one shingle.

    Explode-join formulation: |intersection| via groupBy on (id_a, id_b)
    over the shingle posting lists, |union| from per-doc set sizes. This
    is the exact (non-probabilistic) baseline; prefer minhash_dedup_pairs
    at scale — this one's shuffle is the posting-list join.
    """
    # spread + lazy localCheckpoint (round 15 persist → round 16
    # checkpoint, ADVICE r15 cache-lifetime class): the shingle table is
    # read by the self-joined postings AND both size lookups — one Arrow
    # shingling pass instead of four, parallelized across the cluster
    # instead of pinned to the input's file-split count (every downstream
    # quantity is an integer or int/int ratio, so partitioning is
    # result-neutral), with no CacheManager entry left behind.
    sh = shingle_table(_spread(df, None), text_col, id_col, shingle_n, out_col="sh").localCheckpoint(eager=False)
    sizes = sh.select("id", F.size("sh").alias("n"))
    # sizes ride with the postings (one long per row) for the length
    # filter: J(A,B) >= t bounds the size ratio (min >= t*max, a
    # theorem), so mismatched-length pairs are cut BEFORE the pair-count
    # exchange. Relative slack (_t_times_n) never over-prunes; the jaccard >= t filter
    # stays the exact gate.
    posts = sh.select("id", F.size("sh").alias("n"), F.explode_outer("sh").alias("g"))
    inter = (
        posts.alias("a")
        .join(
            posts.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("b.n") >= _t_times_n(threshold, F.col("a.n")))
            & (F.col("a.n") >= _t_times_n(threshold, F.col("b.n"))),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(text_col: str, bits: int = 64, portable: bool = False) -> F.Column:
    """Native simhash as a bit-string signature: per-word xxhash64; bit i
    is '1' iff the sum over words of (±1 per hash-bit i) is positive.

    One nested higher-order expression (bit loop inside, not unrolled) —
    compact plan tree, pure JVM execution. Bit-strings group/join exactly
    like integer signatures and avoid 64-bit sign gymnastics.

    ``portable=True`` swaps xxhash64 for a 60-bit md5-prefix word hash
    (``conv(substr(md5(w),1,15),16,10)``) that any engine with md5 can
    reproduce bit-for-bit — DuckDB: ``('0x'||substr(md5(w),1,15))::BIGINT``.
    Same signature quality (md5 bits are uniform); ~2× slower per word than
    xxhash64, so the default stays non-portable for production dedup and
    portable mode serves cross-engine verification. Requires ``bits<=60``."""
    if bits > 64:
        raise ValueError("simhash supports at most 64 bits")
    if portable and bits > 60:
        raise ValueError("portable simhash supports at most 60 bits")
    words = DEDUP.words(F.col(text_col))
    if portable:
        hashes = F.transform(
            words, lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")
        )
    else:
        hashes = F.transform(words, lambda w: F.xxhash64(w))
    # literal bit masks; entry 64 is the sign bit (-2^63 as signed long)
    masks = F.array(
        *[F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long") for i in range(bits)]
    )
    return F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(bits)),
            lambda i: F.when(
                F.aggregate(
                    hashes,
                    F.lit(0).cast("long"),
                    lambda acc, h: acc
                    + F.when(
                        h.bitwiseAND(F.element_at(masks, i)) != 0, F.lit(1)
                    ).otherwise(F.lit(-1)),
                )
                > 0,
                F.lit("1"),
            ).otherwise(F.lit("0")),
        ),
        "",
    )


def simhash_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """(id, sig) simhash signature table — bit-identical to
    ``df.select(id, simhash(...))`` but executed as explode + ONE
    map-side aggregation instead of nested higher-order lambdas.

    Precondition: ``id_col`` is unique. The per-bit sums group by id, so
    rows sharing an id are merged into ONE signature over their pooled
    words (the expression form returns one row per input row). Not
    checked here: a uniqueness check would cost an extra job.

    Why (round 16, guide §4.1): the expression form's per-bit
    ``aggregate`` lambda is CodegenFallback AND re-evaluates its input
    array per bit, so every word is re-hashed ``bits`` times interpreted
    — measured 18.7 s single-task for 5000 docs × 55 words × 60 bits at
    sf0.1. Here each word is hashed ONCE by a codegen expression after an
    explode, and the per-bit majority is ``bits`` conditional ±1 sums in
    one hash aggregation (partial map-side, so the exchange carries one
    row per doc). Signature equality is exact: the same ±1 multiset is
    summed per bit (integer sum, order-free), ties and the empty/null-text
    fallbacks produce the same all-zero string (explode_outer emits one
    null-hash row whose CASE yields −1 per bit, matching the expression
    form's empty-aggregate 0 → both compare ``> 0`` false). Measured
    19.3 → 0.9 s on simhash_buckets (interleaved A/B).
    """
    if bits > 64:
        raise ValueError("simhash supports at most 64 bits")
    if portable and bits > 60:
        raise ValueError("portable simhash supports at most 60 bits")
    w = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(DEDUP.words(F.col(text_col))).alias("__w__"),
    )
    if portable:
        h = F.conv(F.substring(F.md5(F.col("__w__")), 1, 15), 16, 10).cast("long")
    else:
        # xxhash64 hashes a NULL input to the seed (it never returns
        # null), but the explode_outer fallback row for empty/null text
        # must contribute −1 on every bit like the expression form's
        # empty aggregate — null-guard so the CASE below sees null
        h = F.when(F.col("__w__").isNotNull(), F.xxhash64(F.col("__w__")))
    hc = w.select("id", h.alias("__h__"))
    masks = [(1 << i) if i < 63 else -(1 << 63) for i in range(bits)]
    sums = [
        F.sum(
            F.when(
                F.col("__h__").bitwiseAND(F.lit(m).cast("long")) != 0, F.lit(1)
            ).otherwise(F.lit(-1))
        ).alias(f"__b{i}__")
        for i, m in enumerate(masks)
    ]
    per_bit = hc.groupBy("id").agg(*sums)
    sig = F.concat(
        *[
            F.when(F.col(f"__b{i}__") > 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(bits)
        ]
    )
    return per_bit.select("id", sig.alias("sig"))


def hamming_distance(sig_a: F.Column, sig_b: F.Column) -> F.Column:
    """Hamming distance between two equal-length bit-strings — native:
    count positions where the characters differ."""
    return F.size(
        F.filter(
            F.zip_with(
                F.split(sig_a, ""),
                F.split(sig_b, ""),
                lambda a, b: a != b,
            ),
            lambda x: x,
        )
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """Near-duplicate pairs within Hamming distance ``max_hamming`` of
    each other's simhash, via the standard banding index: split the
    signature into ``max_hamming + 1`` chunks — any pair within distance
    k must agree exactly on at least one chunk (pigeonhole) — bucket-join
    on (chunk_idx, chunk), then verify exact Hamming distance on the
    candidates only. Shuffle = (chunk, id) pairs; comparisons are
    bucket-local, never all-pairs.
    """
    n_chunks = max_hamming + 1
    chunk_len = bits // n_chunks
    # lazy localCheckpoint, not persist (round 16): computed once for the
    # chunk index and both verify sides, with no CacheManager entry left
    # behind for the session to accumulate (ADVICE r15 cache-lifetime
    # class; same trade as winnow_overlap_pairs' fp table). Signatures
    # come from simhash_table (explode + map-side bit sums), not the
    # per-bit interpreted lambda expression — same strings, ~20× less
    # signature CPU (see simhash_table's docstring).
    sigs = simhash_table(df, text_col, id_col, bits, portable).localCheckpoint(
        eager=False
    )
    chunked = sigs.select(
        "id",
        "sig",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_chunks - 1)),
                lambda c: F.substring(
                    F.col("sig"), c * chunk_len + 1, chunk_len
                ),
            )
        ).alias("chunk_idx", "chunk"),
    )
    l, r = chunked.alias("l"), chunked.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.chunk_idx") == F.col("r.chunk_idx"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.sig").alias("__sig_a__"),
            F.col("r.sig").alias("__sig_b__"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cands.withColumn(
            "hamming", hamming_distance(F.col("__sig_a__"), F.col("__sig_b__"))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_dup_buckets(
    df: DataFrame, text_col: str, id_col: str, bits: int = 64, portable: bool = False
) -> DataFrame:
    """Docs sharing an identical simhash signature (Hamming distance 0
    buckets). For distance-k tolerance, band the signature into k+1
    chunks and union the bucket joins (standard simhash indexing)."""
    sigs = simhash_table(df, text_col, id_col, bits, portable).withColumnRenamed(
        "sig", "simhash"
    )
    return (
        sigs.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("id").alias("canonical_id"))
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# Duplicate clustering: connected components over near-dup pairs
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Cluster near-duplicate pairs into components: (id, cluster_id)
    with cluster_id = min id reachable in the pair graph.

    Iterative min-label propagation — each round joins labels across
    edges and keeps the per-node min; stops when a round changes nothing.
    Rounds needed = graph diameter (dup clusters are shallow, typically
    2-4). Each round is one shuffle on node id; the label table is
    (node, long) — tiny relative to the corpus. This is the standard
    final step of a dedup pipeline: pick min-id per cluster as canonical,
    drop the rest.

    Lineage discipline (same as pagerank/k-core, graph.py): every round
    the label table gets a LAZY ``localCheckpoint`` that the convergence
    probe's own aggregation job materializes, so plan depth stays O(1)
    per round instead of growing by two joins per iteration — without
    the cut, a deep-diameter graph at 100 TB re-analyzes an ever-growing
    tree and eventually stalls the driver. ``checkpoint_every`` is
    retained for API compatibility but no longer used (the cadence is
    every round, paid for by the probe job that runs anyway). For corpora whose dup graph has genuinely
    long chains (boilerplate threads), the upgrade path is the
    large-star/small-star algorithm (Kiveris et al., "Connected Components
    in MapReduce and Beyond"), which converges in O(log n) rounds
    independent of diameter; min-label is kept here because dup clusters
    are near-cliques from banding, so diameter is small and each round is
    one cheap shuffle.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .persist()
    )
    # LAZY |nodes|-sized checkpoint per round, materialized BY the
    # convergence probe (round 16 — the kcore/pagerank pattern): the
    # label table is referenced twice per round (neighbor_min + the left
    # join), so a per-round lineage cut is required; the probe's
    # full-table aggregation computes every partition, completing the
    # cut in the SAME job. Replaces the round-15 persist/eager-cut/
    # unpersist bookkeeping — one driver action per round instead of
    # two-plus, and the returned frame is a materialized checkpoint, not
    # a leaked CacheManager entry.
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
        .localCheckpoint(eager=False)
    )
    # convergence probe: per-node labels only ever DECREASE under
    # min-label propagation, so the label sum is strictly monotone until
    # the fixpoint — sum unchanged ⟺ no label changed. One partial-agg
    # job per round instead of the labels⋈labels diff join it replaces
    # (that join was ~half the per-round job count on small graphs).
    # decimal(38,0) keeps the sum exact far past long overflow.
    def _label_sum(l: DataFrame):
        return l.agg(F.sum(F.col("cluster_id").cast("decimal(38,0)"))).first()[0]

    prev_sum = _label_sum(labels)
    converged = False
    for it in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nbr_label"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        ).localCheckpoint(eager=False)
        s = _label_sum(new_labels)  # materializes the lazy checkpoint
        labels = new_labels
        if s == prev_sum:
            converged = True
            break
        prev_sum = s
    edges.unpersist()
    if not converged:
        # silent partial convergence would hand back one component under
        # several cluster ids — dedup would keep multiple "canonical" copies
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (pair-graph diameter exceeds it); raise max_iterations"
        )
    return labels


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014): the deep-diameter scale path for ``connected_components``.

    Min-label propagation needs rounds = graph diameter; a 100 TB corpus
    whose dup graph contains long boilerplate chains (quote threads,
    templated mirrors) can have diameter in the thousands. Star contraction
    converges in O(log n) rounds *independent of diameter*: each round,
    large-star hangs every higher-id neighbor off the neighborhood min
    (keeping the graph connected while strictly shrinking star depth), and
    small-star re-points every lower-or-equal neighbor at that min. At
    fixpoint the edge set IS the component map (every node points at its
    component's min id).

    Cost per round: two groupBy shuffles on node id over the (shrinking)
    edge table plus one exceptAll convergence probe — same order as one
    min-label round. Same output contract as ``connected_components``:
    (id, cluster_id = min reachable id), only nodes appearing in ``pairs``.
    Same lineage discipline: localCheckpoint every ``checkpoint_every``
    rounds keeps plan depth O(1).
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    all_nodes = (
        edges.select(F.col("u").alias("id"))
        .unionByName(edges.select(F.col("v").alias("id")))
        .distinct()
        .persist()
    )

    def large_star(e: DataFrame) -> DataFrame:
        # symmetric adjacency; for each u: m = min(N(u) ∪ {u}); emit
        # (v, m) for every strictly-larger neighbor v
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("mn"), F.col("u"))
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient (big -> small); for each u: m = min(N(u) ∪ {u}); emit
        # (x, m) for x in N(u) ∪ {u}, x != m
        o = e.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        )
        mins = o.groupBy("u").agg(F.min("v").alias("mn"))
        re_pointed = (
            o.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        centers = mins.select("u", F.col("mn").alias("v"))
        return re_pointed.unionByName(centers).distinct()

    # order-insensitive set signature (count, sum of per-edge hashes):
    # equal signatures on two DISTINCT edge sets mean set equality up to a
    # ~2^-64 per-round hash-collision chance — the probe is one partial-agg
    # job instead of the two exceptAll shuffle joins it replaces (those
    # dominated wall-clock: ~2 extra jobs x O(log n) rounds over a table
    # that is tiny by then)
    def _sig(e: DataFrame) -> tuple:
        r = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).first()
        return (r["n"], r["h"])

    prev_sig = _sig(edges)
    converged = False
    for it in range(max_iterations):
        # LAZY per-round cut materialized BY the signature probe (round
        # 16, the connected_components/kcore pattern): the probe's
        # full-table aggregation computes every partition, completing
        # the lineage cut in the same job — replaces the per-round
        # persist/eager-cut/unpersist bookkeeping (one driver action per
        # round instead of two-plus). ``checkpoint_every`` is retained
        # for API compatibility; the effective cadence is every round.
        new_edges = small_star(large_star(edges)).localCheckpoint(eager=False)
        sig = _sig(new_edges)  # materializes the lazy checkpoint
        if it == 0:
            edges.unpersist()  # the initial persisted edge table
        edges = new_edges
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        edges.unpersist()
        all_nodes.unpersist()
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iterations} "
            "iterations; raise max_iterations"
        )
    # at fixpoint every edge is (node -> component min); component mins
    # themselves have no outgoing edge, so re-attach them labeling self
    labels = edges.groupBy("u").agg(F.min("v").alias("cluster_id"))
    out = (
        all_nodes.join(labels, all_nodes["id"] == labels["u"], "left")
        .select("id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id"))
    )
    out = out.localCheckpoint(eager=True)
    edges.unpersist()
    all_nodes.unpersist()
    return out


# ---------------------------------------------------------------------------
# Embedding near-dup (cosine)
# ---------------------------------------------------------------------------


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold.

    Brute-force all-pairs — correct baseline, O(n²) compare but the dot
    product is a native `aggregate(zip_with(...))`, no Python. At scale,
    pre-bucket with `similarity.hyperplane_lsh_buckets` and run this
    per-bucket. Vector math is shared with operators/similarity (one
    cosine implementation to fix, not two); norms are precomputed per
    side rather than per pair."""
    from .similarity import _dot, _norm

    # _spread (round 16): the non-equi pair join is a broadcast nested
    # loop whose parallelism equals the LEFT side's partition count — a
    # single-file corpus pinned the whole interpreted-dot pair sweep to
    # one core (measured 5.8 s single-task at sf0.1; 0.6 s spread). On a
    # pre-split cluster corpus _spread is a no-op.
    vecs = _spread(df, None).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("n"),
    )
    a, b = vecs.alias("a"), vecs.alias("b")
    dot = _dot(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (dot / (F.col("a.n") * F.col("b.n"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    threshold: float = 0.9,
    vectorized: bool = True,
    block_rows: int = 2048,
) -> DataFrame:
    """SemDeDup candidate structure (Abbas et al. 2023): assign every
    embedding to its nearest k-means centroid, then compare pairs ONLY
    within a cell — cosine >= threshold marks semantic duplicates.

    This is the piece that makes embedding dedup tractable at 100 TB:
    the all-pairs O(n²) comparison becomes Σ|cell|² with k chosen so
    cells fit comfortably in a partition (k ≈ n / target_cell_size —
    scale k WITH the corpus, a fixed k degrades quadratically).
    Centroid literals fold into the plan map-side (no join for
    assignment); training is the shared deterministic
    ``similarity.train_ivf_centroids``.

    ``vectorized`` (default): the within-cell compare runs as one
    Arrow-batched ``applyInPandas`` per cell doing blockwise float64
    matmul — Σ|cell|² multiply-adds through BLAS instead of Spark's
    interpreted per-pair array fold (the 16× stress run measured the
    fold path ~10× slower end-to-end). ``block_rows`` bounds each
    score-matrix block to block_rows × |cell| so memory stays flat for
    big cells. The expression-join path remains as the
    ``vectorized=False`` reference; both emit identical pairs (float64
    sum-order differences only matter for a cosine within ~1e-14 of the
    threshold)."""
    from .similarity import _dot, _norm, ivf_assign

    vecs = ivf_assign(df, vec_col, centroids).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("n"),
        "ivf_cell",
    )
    if not vectorized:
        a, b = vecs.alias("a"), vecs.alias("b")
        dot = _dot(F.col("a.v"), F.col("b.v"))
        return (
            a.join(b, (F.col("a.ivf_cell") == F.col("b.ivf_cell")) & (F.col("a.id") < F.col("b.id")))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                (dot / (F.col("a.n") * F.col("b.n"))).alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
        )

    import numpy as np
    import pandas as pd

    id_dt = vecs.schema["id"].dataType.simpleString()
    thr = float(threshold)

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id", kind="mergesort")
        ids = pdf["id"].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {"id_a": ids[:0], "id_b": ids[:0], "cosine": np.array([], dtype=np.float64)}
            )
        M = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        nrm = np.sqrt(np.einsum("ij,ij->i", M, M))
        a_out, b_out, c_out = [], [], []
        col_idx = np.arange(n)
        for s in range(0, n, block_rows):
            e = min(s + block_rows, n)
            S = (M[s:e] @ M.T) / np.outer(nrm[s:e], nrm)
            mask = (S >= thr) & (col_idx[None, :] > np.arange(s, e)[:, None])
            r, c = np.nonzero(mask)
            a_out.append(ids[r + s])
            b_out.append(ids[c])
            c_out.append(S[r, c])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(a_out),
                "id_b": np.concatenate(b_out),
                "cosine": np.concatenate(c_out),
            }
        )

    return vecs.select("id", "v", "ivf_cell").groupBy("ivf_cell").applyInPandas(
        cell_pairs, f"id_a {id_dt}, id_b {id_dt}, cosine double"
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    threshold: float = 0.9,
    vectorized: bool = True,
) -> DataFrame:
    """Full SemDeDup: within-cell cosine pairs -> connected components ->
    keep each cluster's min-id member plus everything unpaired. Returns
    the deduplicated rows of ``df``. Note the cluster step runs on the
    PAIR table (tiny), not the corpus."""
    pairs = semantic_dedup_pairs(
        df, vec_col, id_col, centroids, threshold, vectorized=vectorized
    )
    return near_dedup_keep_canonical(df, pairs, id_col)


def embedding_near_dup_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold, at-scale path:
    multi-table random-hyperplane LSH candidates + exact cosine verify.

    Each of ``n_tables`` independent hyperplane sets (seed+t) maps every
    vector to a sign-bit bucket, map-side (plane literals folded into the
    plan, no Python). Candidates = pairs sharing a bucket in ANY table —
    one exchange into per-(table, bucket) id lists via _bucket_pairs, so
    the O(n²) brute-force compare becomes O(sum of bucket²). Verification
    computes exact cosine on candidates only; output is therefore a
    SUBSET of embedding_near_dup_pairs (same threshold) with recall
    1-(1-p^planes)^tables, p = 1 - angle/pi — near 1 for the
    near-duplicate angles this is for.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from .similarity import _dot, _norm, _seeded_hyperplanes

    # all tables' sign bits in ONE BLAS matmul per Arrow batch — the
    # n_tables × n_planes interpreted-HOF dot products were measured ~8×
    # slower; asNondeterministic pins a single evaluation (see
    # minhash_dedup_pairs)
    planes = np.concatenate(
        [
            np.array(_seeded_hyperplanes(dim, n_planes, seed + t))
            for t in range(n_tables)
        ]
    )
    pow2 = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("array<long>")
    def table_buckets(vecs: pd.Series) -> pd.Series:
        m = np.array(list(vecs), dtype=np.float64)
        if m.size == 0:
            return pd.Series([])
        bits = (m @ planes.T > 0).reshape(len(m), n_tables, n_planes)
        buckets = (bits * pow2).sum(axis=2)
        return pd.Series(list(buckets))

    banded = _spread(df, None).select(
        F.col(id_col).alias("id"),
        F.posexplode(
            table_buckets.asNondeterministic()(F.col(vec_col))
        ).alias("table_idx", "bucket"),
    )
    cands = _bucket_pairs(banded, ["table_idx", "bucket"], max_bucket_size)
    vecs = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("n"),
    )
    a = vecs.select(
        F.col("id").alias("id_a"), F.col("v").alias("__va__"), F.col("n").alias("__na__")
    )
    b = vecs.select(
        F.col("id").alias("id_b"), F.col("v").alias("__vb__"), F.col("n").alias("__nb__")
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                _dot(F.col("__va__"), F.col("__vb__"))
                / (F.col("__na__") * F.col("__nb__"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def near_dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """The deduped corpus itself: given near-duplicate pairs (from any
    detector here — minhash, simhash, n-gram, embedding), cluster them by
    connected components and keep only each cluster's canonical (min-id)
    member plus every unpaired document. The final materializing step of
    a dedup pipeline: pairs → clusters → one survivor per cluster.

    Shuffle profile: the label-propagation rounds touch only the pair
    graph (near-dup-sized, tiny next to the corpus); the corpus itself is
    filtered with ONE broadcast-able anti-join against the non-canonical
    id set."""
    labels = connected_components(pairs, id_a, id_b)
    doomed = labels.filter(F.col("id") != F.col("cluster_id")).select("id")
    return df.join(doomed, df[id_col] == doomed["id"], "left_anti")


def _deletion_variants(col: str) -> F.Column:
    """All strings obtained by deleting exactly one character, plus the
    string itself — the SymSpell 1-deletion neighborhood."""
    s = F.col(col)
    dels = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.concat(
            F.substring(s, F.lit(1), i - 1),
            s.substr(i + 1, F.length(s)),
        ),
    )
    return F.array_distinct(F.array_union(F.array(s), dels))


def fuzzy_pairs_ed1(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """EXACT pairs with Levenshtein distance ≤ 1, without the O(n²)
    cross-join: two strings are within one edit iff their 1-deletion
    neighborhoods intersect (substitution → delete the differing char
    from both; insertion/deletion → the shorter string is itself in the
    longer's neighborhood). Each row explodes to |s|+1 variant keys, the
    shared ``_bucket_pairs`` machinery emits co-bucketed id pairs from
    ONE exchange, and a native ``levenshtein`` check removes the
    neighborhood's only false-positive class (two deletions at different
    positions). At scale this is |corpus|·avg_len small rows instead of
    |corpus|² comparisons; ``max_bucket_size`` guards degenerate variant
    buckets exactly like the LSH families above.

    Returns (id_a, id_b, dist) with id_a < id_b.

    Exact duplicates are collapsed FIRST: the neighborhood explode, the
    bucket join and every levenshtein run on DISTINCT strings only, and
    id pairs re-expand from the per-string id groups afterwards. With
    duplication factor d this cuts candidate work by d² (the 16×-copy
    stress run's quadratic blow-up disappears); the re-expansion is
    output-bounded, which no exact algorithm can avoid.
    """
    groups = df.groupBy(F.col(text_col).alias("__txt__")).agg(
        F.array_sort(F.collect_set(id_col)).alias("__ids__")
    )
    # (a) distance-0 pairs: all id pairs within one string's group
    dup_pairs = (
        groups.filter(F.size("__ids__") > 1)
        .select(F.posexplode("__ids__").alias("__i__", "id_a"), "__ids__")
        .select(
            "id_a",
            F.explode(
                F.slice(F.col("__ids__"), F.col("__i__") + 2, F.size("__ids__"))
            ).alias("id_b"),
        )
        .withColumn("dist", F.lit(0))
    )
    # (b) distance-1 pairs: neighborhood join over DISTINCT strings,
    # min id of each group standing in as the representative id
    reps = groups.select(
        F.element_at("__ids__", 1).alias("id"), "__txt__", "__ids__"
    )
    variants = reps.select(
        "id", F.explode(_deletion_variants("__txt__")).alias("__var__")
    )
    cands = _bucket_pairs(variants, ["__var__"], max_bucket_size)
    ra = reps.select(
        F.col("id").alias("id_a"),
        F.col("__txt__").alias("__ta__"),
        F.col("__ids__").alias("__arr_a__"),
    )
    rb = reps.select(
        F.col("id").alias("id_b"),
        F.col("__txt__").alias("__tb__"),
        F.col("__ids__").alias("__arr_b__"),
    )
    cross_pairs = (
        cands.join(ra, "id_a")
        .join(rb, "id_b")
        .withColumn("dist", F.levenshtein("__ta__", "__tb__"))
        .filter(F.col("dist") <= 1)
        .select(
            F.explode("__arr_a__").alias("__x__"), "__arr_b__", "dist"
        )
        .select(
            "__x__", F.explode("__arr_b__").alias("__y__"), "dist"
        )
        .select(
            F.least("__x__", "__y__").alias("id_a"),
            F.greatest("__x__", "__y__").alias("id_b"),
            "dist",
        )
    )
    return dup_pairs.unionByName(cross_pairs)


# ---------------------------------------------------------------------------
# Benchmark decontamination: drop training docs overlapping an eval set
# ---------------------------------------------------------------------------


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    benchmark_text_col: str | None = None,
    shingle_n: int = 3,
    max_contaminated_ratio: float = 0.1,
    keep_report: bool = False,
) -> DataFrame:
    """Remove training documents contaminated by a held-out benchmark set.

    Standard LLM-corpus hygiene: any training doc sharing more than
    ``max_contaminated_ratio`` of its word ``shingle_n``-grams with ANY
    benchmark document is dropped (n-gram containment — the usual
    decontamination test, robust to the benchmark text being embedded
    inside a larger page).

    Scale design: the benchmark side is eval-suite-scale (thousands of
    docs), the corpus is the 100 TB side. The benchmark's DISTINCT
    shingle set is therefore the broadcast build side of one hash
    semi-join against the corpus's exploded shingle postings; the corpus
    shuffles only (doc_id) counts, never text. Contaminated ratio =
    |doc shingles ∩ benchmark shingles| / |doc shingles| — computed from
    one aggregation over the semi-joined postings.

    ``keep_report=True`` returns every doc with its ratio and a
    ``contaminated`` flag instead of filtering (for auditing thresholds);
    default returns the clean corpus rows unchanged.
    """
    bt = benchmark_text_col or text_col
    bench_shingles = (
        shingle_table(benchmark, bt, bt, shingle_n, out_col="sh")
        .select(F.explode_outer("sh").alias("g"))
        .distinct()
        .withColumn("__b__", F.lit(1))
    )
    # ONE corpus shingle pass: a broadcast LEFT join marks benchmark hits
    # and a single aggregation yields both |doc shingles| (count of
    # postings — shingle arrays are per-doc distinct and never empty, the
    # <n-words fallback emits one whole-text shingle) and the hit count
    # (count of the non-null marker). The previous semi-join + separate
    # size scan evaluated the interpreted shingle pipeline twice.
    posts = shingle_table(corpus, text_col, id_col, shingle_n, out_col="sh").select(
        "id", F.explode_outer("sh").alias("g")
    )
    ratios = (
        posts.join(F.broadcast(bench_shingles), "g", "left")
        .groupBy("id")
        .agg(
            (F.count("__b__") / F.count(F.lit(1))).alias("contaminated_ratio")
        )
    )
    if keep_report:
        return ratios.select(
            F.col("id").alias(id_col),
            F.round("contaminated_ratio", 6).alias("contaminated_ratio"),
            (F.col("contaminated_ratio") > max_contaminated_ratio).alias("contaminated"),
        )
    clean_ids = ratios.filter(
        F.col("contaminated_ratio") <= max_contaminated_ratio
    ).select(F.col("id").alias(id_col))
    return corpus.join(clean_ids, id_col, "left_semi")


# ---------------------------------------------------------------------------
# Cross-document repeated-substring spans (Lee et al. 2022 approximation)
# ---------------------------------------------------------------------------


def repeated_substring_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_words: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-span detection — the window-hash
    approximation of suffix-array substring dedup ("Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022):
    any ``window_words``-word window whose portable hash occurs in at
    least ``min_docs`` DISTINCT documents marks a repeated span.

    Output: one row per (doc, repeated window) —
    ``(id, start_word, end_word, window_hash, n_docs)`` — the span list a
    rewriting pass would cut (exact suffix arrays find arbitrary-length
    repeats; fixed windows find every repeat of length >= window_words,
    the practically-relevant ones, at a fraction of the machinery).

    Scale design: windows are hashed MAP-SIDE to 60-bit md5 prefixes
    (engine-portable, same construction as the portable simhash/minhash
    modes), so the only shuffle is (hash, id, position) tuples — never
    text. The duplicate-hash set is found with one partial-aggregated
    groupBy; the per-doc span recovery is a semi-join of the posting
    table against it. O(words) rows shuffled per doc, constant per-row
    payload.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # Window hashing is an Arrow UDF, not a higher-order expression: the
    # per-window concat+md5 chain is interpreted (CodegenFallback) inside
    # F.transform and measured ~8× slower at sf0.1 (9.9 s vs 1.2 s) than
    # this vectorized path. Hash values are IDENTICAL to the portable
    # ('0x'||substr(md5(win),1,15))::BIGINT DuckDB replay.
    from hashlib import md5 as _md5

    token_re = DEDUP.regex

    @pandas_udf("array<long>")
    def window_hashes(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            words = [w for w in token_re.split((t or "").lower()) if w]
            if len(words) < window_words:
                out.append([])
                continue
            out.append(
                [
                    int(
                        _md5(" ".join(words[i : i + window_words]).encode())
                        .hexdigest()[:15],
                        16,
                    )
                    for i in range(len(words) - window_words + 1)
                ]
            )
        return pd.Series(out)

    # lazy localCheckpoint (round 15 persist → round 16 checkpoint): the
    # posting table feeds the duplicate-hash agg AND the recovery join —
    # without the cut, the window-hash UDF ran a second full corpus pass
    # for the join side. An RDD checkpoint instead of a persist leaves no
    # CacheManager entry behind (ADVICE r15 cache-lifetime class) and the
    # winnow micro-A/B read the checkpoint at parity-or-better.
    wdf = _spread(df, None).select(
        F.col(id_col).alias("id"),
        window_hashes.asNondeterministic()(F.col(text_col)).alias("__wh__"),
    ).localCheckpoint(eager=False)
    posts = wdf.select(
        "id", F.posexplode("__wh__").alias("start_word", "window_hash")
    )
    dup_hashes = (
        posts.groupBy("window_hash")
        .agg(F.countDistinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    return (
        posts.join(dup_hashes, "window_hash")
        .select(
            F.col("id"),
            "start_word",
            (F.col("start_word") + window_words).alias("end_word"),
            "window_hash",
            "n_docs",
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 4,
    window: int = 5,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003
    — the MOSS local fingerprinting scheme): hash every ``k``-word gram,
    slide a ``window``-hash window, and keep the RIGHTMOST minimal hash
    of each window. Winnowing guarantees any shared run of at least
    ``window + k - 1`` words between two documents yields at least one
    shared fingerprint, while selecting only ~2/(window+1) of all gram
    hashes — a density-bounded sketch with a positional guarantee that
    minhash (a global sample) cannot give.

    Output: one row per selected ``(id, fp_hash, pos)`` — distinct per
    (hash, position); a hash picked by several overlapping windows
    appears once.

    Scale design: selection is a single Arrow-batched map-side pass
    (numpy sliding-window argmin over the reversed window gives the
    rightmost-min tie rule without a Python inner loop); only the
    selected ~2N/(window+1) (hash, id, pos) tuples ever leave the
    scan — never text. Hashes are the engine-portable 60-bit md5 prefix,
    so DuckDB replays selection exactly (rightmost-min = ``b.h <= a.h``
    left-fold).
    """
    from hashlib import md5 as _md5

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    token_re = DEDUP.regex

    @pandas_udf("array<struct<h: long, pos: int>>")
    def winnow(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            words = [w for w in token_re.split((t or "").lower()) if w]
            if len(words) < k:
                out.append([])
                continue
            h = np.fromiter(
                (
                    int(_md5(" ".join(words[i : i + k]).encode()).hexdigest()[:15], 16)
                    for i in range(len(words) - k + 1)
                ),
                dtype=np.int64,
            )
            if len(h) <= window:
                # fewer hashes than one full window: single window, all
                pos = int(len(h) - 1 - h[::-1].argmin())
                out.append([(int(h[pos]), pos)])
                continue
            wins = np.lib.stride_tricks.sliding_window_view(h, window)
            # rightmost minimum: argmin over the reversed window
            am = wins[:, ::-1].argmin(axis=1)
            pos = np.arange(len(wins)) + (window - 1 - am)
            sel = {(int(h[p]), int(p)) for p in pos}
            out.append(sorted(sel))
        return pd.Series(out)

    return (
        _spread(df, None)
        .select(
            F.col(id_col).alias("id"),
            F.explode(winnow.asNondeterministic()(F.col(text_col))).alias("__fp__"),
        )
        .select("id", F.col("__fp__.h").alias("fp_hash"), F.col("__fp__.pos").alias("pos"))
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 4,
    window: int = 5,
    min_shared: int = 2,
    max_docs_per_fp: int | None = None,
) -> DataFrame:
    """Cross-document overlap via shared winnowing fingerprints: the
    MOSS match step. Documents sharing >= ``min_shared`` distinct
    selected hashes are emitted as ``(id_a, id_b, n_shared)``.

    The join shuffles only (hash, id) postings (the winnowed ~2/(w+1)
    subset of grams); pair expansion is bucket-local per hash.
    ``max_docs_per_fp`` drops degenerate fingerprints shared by more
    than that many documents (boilerplate guard, same role as
    minhash's max_bucket_size) — off by default so the exact oracle
    replays verbatim."""
    # lazy localCheckpoint (round 15): fp is both sides of the overlap
    # self-join (and the optional frequency gate) — one winnowing pass,
    # not two/three. An RDD checkpoint, not a persist: the micro-A/B
    # read persist at +10% over this (columnar cache write) while the
    # checkpoint matched the no-cut form locally AND guarantees the
    # one-pass property that the no-cut form only gets when runtime
    # ReusedExchange happens to fire.
    fp = winnow_fingerprints(df, text_col, id_col, k, window).select(
        "id", "fp_hash"
    ).distinct().localCheckpoint(eager=False)
    if max_docs_per_fp is not None:
        freq = fp.groupBy("fp_hash").agg(F.count(F.lit(1)).alias("__n__"))
        fp = fp.join(
            freq.filter(F.col("__n__") <= max_docs_per_fp).select("fp_hash"), "fp_hash"
        )
    a = fp.select(F.col("id").alias("id_a"), "fp_hash")
    b = fp.select(F.col("id").alias("id_b"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    divisor: int = 16,
) -> DataFrame:
    """Content-defined chunking at word granularity (the LBFS/FastCDC
    boundary idea, word-level so every engine can replay it): a chunk
    boundary falls AFTER word ``i`` whenever that word's portable
    60-bit md5 hash is 0 mod ``divisor`` — so boundaries move with the
    content, not with offsets, and an insertion near the head of a
    document re-chunks only its local neighborhood instead of shifting
    every downstream chunk the way fixed-width chunking does. Expected
    chunk length = ``divisor`` words.

    Output: one row per ``(id, chunk_idx, start_word, n_words,
    chunk_hash)`` — chunk_hash is the portable md5-60bit of the chunk's
    space-joined words, so identical chunks hash identically across
    documents AND engines.

    Production chunkers add min/max chunk-size clamps; this operator is
    the pure positional form (boundaries a function of word hashes
    alone), which keeps the cross-engine oracle an exact window-sum
    replay. Scale: one Arrow-batched map-side pass; only (id, chunk
    metadata, hash) rows leave the scan — never text.
    """
    from hashlib import md5 as _md5

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    token_re = DEDUP.regex

    def h60(s: str) -> int:
        return int(_md5(s.encode()).hexdigest()[:15], 16)

    @pandas_udf("array<struct<chunk_idx:int, start_word:int, n_words:int, chunk_hash:long>>")
    def chunk(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            words = [w for w in token_re.split((t or "").lower()) if w]
            if not words:
                out.append([])
                continue
            chunks = []
            start = 0
            for i, w in enumerate(words):
                if h60(w) % divisor == 0:
                    chunks.append((start, i + 1))
                    start = i + 1
            if start < len(words):
                chunks.append((start, len(words)))
            out.append(
                [
                    (idx, s, e - s, h60(" ".join(words[s:e])))
                    for idx, (s, e) in enumerate(chunks)
                ]
            )
        return pd.Series(out)

    return (
        _spread(df, None)
        .select(
            F.col(id_col).alias("id"),
            F.explode(chunk.asNondeterministic()(F.col(text_col))).alias("__c__"),
        )
        .select("id", "__c__.chunk_idx", "__c__.start_word", "__c__.n_words", "__c__.chunk_hash")
    )


def cdc_shared_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    divisor: int = 16,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document shared-chunk detection over CDC chunks: which
    content blocks recur, in how many documents, how often. The
    aggregation shuffles only (chunk_hash, id) — partial map-side
    combine applies; text never leaves the scan."""
    ch = cdc_chunks(df, text_col, id_col, divisor)
    return (
        ch.groupBy("chunk_hash")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_total"),
            F.max("n_words").alias("n_words"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    min_shingles: int = 1,
) -> DataFrame:
    """ASYMMETRIC near-duplicate detection by shingle containment
    (Broder 1997's second resemblance measure): ``|A ∩ B| / |A|`` —
    how much of document A is inside document B. Jaccard misses the
    excerpt/quote case (a 50-word snippet of a 5000-word article has
    tiny Jaccard but containment ≈ 1); containment is the right gate
    for dropping documents that are substantially CONTAINED in another.

    Output: DIRECTED pairs ``(id_a, id_b, containment)`` with
    containment(A in B) >= threshold, both directions considered, a != b.
    Same posting-join shape as ngram_jaccard_pairs — exact baseline;
    at scale seed candidates from minhash buckets first and verify
    containment only on candidates.

    .. warning:: Low thresholds on boilerplate-heavy corpora are an
       OUTPUT-SIZE problem no plan can fix: on a corpus where many
       documents share template text, most document pairs genuinely
       satisfy containment >= t at low t, so the result itself is
       Θ(n²) (SCALE.md round-7 measured 2.56M real pairs from a
       20k-doc/25-template corpus at t=0.5 — every plan must emit
       them). Pre-strip boilerplate (span_dedup / repeated_spans) or
       keep t >= 0.65; the plan choice (baseline vs prefix, see
       containment_pairs_auto) only changes the cost of finding the
       pairs, never their number."""
    # spread + lazy localCheckpoint (round 15 persist → round 16
    # checkpoint, ADVICE r15 cache-lifetime class): one Arrow shingling
    # pass feeds the self-joined postings and the size lookup
    # (integer-only downstream, partitioning result-neutral), with no
    # CacheManager entry left behind.
    sh = shingle_table(_spread(df, None), text_col, id_col, shingle_n, out_col="sh")
    sh = sh.filter(F.size("sh") >= min_shingles).localCheckpoint(eager=False)
    sizes = sh.select("id", F.size("sh").alias("n"))
    # shingle arrays are already distinct (_ngrams_from_words), so the
    # posting table needs no extra dedup exchange. Sizes ride with the
    # postings (one long per row) to power the length filter below.
    posts = sh.select("id", F.size("sh").alias("n"), F.explode_outer("sh").alias("g"))
    inter = (
        posts.alias("a")
        .join(
            posts.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.id") != F.col("b.id"))
            # one-sided LENGTH filter, a theorem: containment(A in B) >= t
            # needs |A∩B| >= t*|A| and |A∩B| <= |B|, so |B| >= t*|A| —
            # short-B directed pairs are cut BEFORE the pair-count
            # exchange. Relative slack (_t_times_n) never over-prunes; the final
            # containment >= t filter stays the exact gate.
            & (F.col("b.n") >= _t_times_n(threshold, F.col("a.n"))),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
        .select(
            "id_a",
            "id_b",
            (F.col("n_inter") / F.col("n_a")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def minhash_signature_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """The persistable minhash INDEX of a corpus: ``(id, bands, sh)`` —
    band hashes for LSH bucketing plus the hashed shingle set for exact
    Jaccard verification (~KB/doc). Write this once per corpus snapshot
    (ideally bucketed on a band column); incremental dedup of every
    later batch then reads the index instead of re-hashing 100 TB of
    history. Same UDF/seed family as minhash_dedup_pairs, so indexes
    and ad-hoc runs are interchangeable."""
    udf = _band_hash_udf(
        shingle_n, num_hashes, bands, seed, frozenset(), with_shingles=True,
        portable=portable,
    ).asNondeterministic()
    return (
        _spread(df, None)
        .select(F.col(id_col).alias("id"), udf(F.col(text_col)).alias("s"))
        .select("id", F.col("s.bands").alias("bands"), F.col("s.sh").alias("sh"))
    )


def minhash_dedup_against_index(
    new_sigs: DataFrame,
    index_sigs: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup: verified (new_id, old_id, jaccard) pairs of
    a NEW batch against an EXISTING signature index — the daily-crawl
    case. Candidate generation joins banded-new against banded-index on
    (band_idx, band_hash) with the new side BROADCAST, so the history
    index is never shuffled and never rescanned as text; history×history
    pairs are never formed (they were settled when the index was built).
    Verification pulls hashed shingle sets only for candidate old ids
    (the candidate join acts as the semi-filter) and computes exact
    Jaccard with native set ops."""
    bn = new_sigs.select(
        F.col("id").alias("new_id"),
        F.posexplode("bands").alias("band_idx", "band_hash"),
    )
    bo = index_sigs.select(
        F.col("id").alias("old_id"),
        F.posexplode("bands").alias("band_idx", "band_hash"),
    )
    cands = (
        bo.join(F.broadcast(bn), ["band_idx", "band_hash"])
        .select("new_id", "old_id")
        .distinct()
    )
    sh_new = new_sigs.select(F.col("id").alias("new_id"), F.col("sh").alias("__sn__"))
    sh_old = index_sigs.select(F.col("id").alias("old_id"), F.col("sh").alias("__so__"))
    return (
        cands.join(sh_old, "old_id")
        .join(F.broadcast(sh_new), "new_id")
        .select(
            "new_id",
            "old_id",
            jaccard_similarity(F.col("__sn__"), F.col("__so__")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact Jaccard threshold join with PREFIX FILTERING (AllPairs /
    PPJoin, Bayardo et al. 2007 / Xiao et al. 2008) — identical output
    to ``ngram_jaccard_pairs``, asymptotically smaller join.

    Under any consistent global order of shingles, two sets with
    J(A,B) >= t MUST share an element within each one's first
    |S| - ceil(t*|S|) + 1 shingles (else their intersection fits in a
    suffix smaller than t*|S| <= |A∩B|). Ordering by ASCENDING global
    frequency makes those prefixes the RAREST shingles, so the posting
    join indexes only rare tokens: the frequent-shingle postings that
    dominate the quadratic baseline never enter the join. Candidates
    are then verified with native set ops on the full arrays —
    exactness is a theorem, not a heuristic.

    Shuffle ledger: one shingle-frequency agg, one rank window per doc
    (keyed by id), the prefix posting join, one verify join keyed by id.
    """
    # spread + lazy localCheckpoint (round 15 persist → round 16
    # checkpoint, ADVICE r15 cache-lifetime class): sh feeds the posting
    # pipeline (which itself branches into the frequency agg and the
    # ranked join) plus both verify sides — one Arrow shingling pass
    # instead of four, and the single-file bench corpus shingles on every
    # core instead of one (measured: three concurrent single-task 7-8 s
    # shingling stages before; all downstream values are
    # integers/int-ratios, so the partitioning is result-neutral), with
    # no CacheManager entry left behind.
    sh = shingle_table(_spread(df, None), text_col, id_col, shingle_n, out_col="sh").localCheckpoint(eager=False)
    posts = sh.select("id", F.size("sh").alias("n"), F.explode_outer("sh").alias("g"))
    freq = posts.groupBy("g").agg(F.count(F.lit(1)).alias("__f__"))
    ranked = posts.join(freq, "g").withColumn(
        "__r__",
        F.row_number().over(
            Window.partitionBy("id").orderBy(F.asc("__f__"), F.asc("g"))
        ),
    )
    # prefix length |S| - ceil(t|S|) + 1
    prefix = ranked.filter(
        # relative slack before ceil: when threshold*n is mathematically
        # an exact integer m but the double product rounds epsilon ABOVE
        # m, ceil would yield m+1 and shrink the prefix by one — dropping
        # a pair whose similarity equals the threshold exactly. A longer
        # prefix is always safe (superset of candidates); the exact
        # verify downstream removes extras. (ADVICE r4; slack made
        # relative so it scales with n — ADVICE r5 item 3.)
        F.col("__r__") <= F.col("n") - F.ceil(_t_times_n(threshold, F.col("n"))) + 1
    ).select("id", "n", "g").localCheckpoint(eager=False)
    # ^ lazy localCheckpoint (round 16): prefix is BOTH sides of the
    # candidate self-join below, and without the cut the whole
    # frequency-agg + rank-window subtree is planned (and, when the
    # planner broadcasts one side, executed) twice — the r16 before-plan
    # shows the Window/Sort/posting-join tree duplicated under the
    # self-join. One computation, both sides read the stored RDD.
    # AllPairs LENGTH filter, also a theorem: J(A,B) >= t implies
    # |A∩B| >= t*|A∪B| >= t*max(|A|,|B|) and |A∩B| <= min(|A|,|B|), so
    # min >= t*max — sets whose sizes differ by more than 1/t can never
    # qualify. Evaluated inside the posting join (sizes ride with the
    # prefix rows), so mismatched-length candidates are cut BEFORE the
    # distinct + verify exchanges. Relative slack = never over-prunes; the
    # exact verify removes any extras.
    cands = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("b.n") >= _t_times_n(threshold, F.col("a.n")))
            & (F.col("a.n") >= _t_times_n(threshold, F.col("b.n")))
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # spread the candidate pairs before the verify (round 15): the
    # verify stage is CPU-bound (per-pair set intersection), but its
    # input is a byte-small id-pair table that AQE's size-based
    # coalescing squeezes onto a handful of tasks (measured 5 tasks /
    # 10 s each at sf0.1). An explicit round-robin of two-id rows is
    # ~free and lets the verify use every core; per-pair results are
    # partitioning-independent. (Unconditional repartition — probing
    # getNumPartitions on a derived frame would force AQE to execute
    # the candidate pipeline at plan-build time.)
    cands = cands.repartition(cands.sparkSession.sparkContext.defaultParallelism)
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("__sa__"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("__sb__"))
    return (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            jaccard_similarity(F.col("__sa__"), F.col("__sb__")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs_prefix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    min_shingles: int = 1,
) -> DataFrame:
    """``containment_pairs`` with a ONE-SIDED prefix filter — identical
    output, asymptotically smaller join. This (not minhash seeding) is
    the honest scale path for containment: symmetric minhash-LSH
    recalls high-JACCARD pairs and systematically misses the
    excerpt-in-big-doc case (tiny Jaccard, containment ≈ 1) that the
    measure exists for.

    Theorem (PPJoin overlap bound, Xiao et al. 2008, specialized):
    containment(A in B) ≥ t means |A∩B| ≥ ⌈t·|A|⌉. Under any global
    total order of shingles, if B contains none of A's first
    |A| − ⌈t·|A|⌉ + 1 elements, every shared element sits in A's
    remaining ⌈t·|A|⌉ − 1 positions — too few. So candidate pairs are
    prefix(A) ⋈ FULL postings(B): only the A side is pruned (the
    directed measure is one-sided, B must stay fully indexed), ordered
    by ascending global frequency so prefixes hold the RAREST shingles
    and the frequent-posting blowup never probes. Candidates verify
    exactly via native array_intersect on the full (already-distinct)
    shingle arrays.

    Shuffle ledger: one frequency agg, one per-doc rank window, the
    prefix×full posting join, one verify join keyed by id — the same
    shape as ``ngram_jaccard_pairs_prefix`` with an asymmetric probe.
    """
    # spread + lazy localCheckpoint (round 15 persist → round 16
    # checkpoint, ADVICE r15 cache-lifetime class): one Arrow shingling
    # pass feeds the frequency agg, the ranked-prefix join, the full
    # posting side and the verify join (integer-only downstream,
    # partitioning result-neutral), no CacheManager entry left behind.
    sh = shingle_table(_spread(df, None), text_col, id_col, shingle_n, out_col="sh").filter(
        F.size("sh") >= min_shingles
    ).localCheckpoint(eager=False)
    posts = sh.select("id", F.size("sh").alias("n"), F.explode_outer("sh").alias("g"))
    freq = posts.groupBy("g").agg(F.count(F.lit(1)).alias("__f__"))
    ranked = posts.join(freq, "g").withColumn(
        "__r__",
        F.row_number().over(
            Window.partitionBy("id").orderBy(F.asc("__f__"), F.asc("g"))
        ),
    )
    prefix = ranked.filter(
        # relative slack before ceil: when threshold*n is mathematically
        # an exact integer m but the double product rounds epsilon ABOVE
        # m, ceil would yield m+1 and shrink the prefix by one — dropping
        # a pair whose similarity equals the threshold exactly. A longer
        # prefix is always safe (superset of candidates); the exact
        # verify downstream removes extras. (ADVICE r4; slack made
        # relative so it scales with n — ADVICE r5 item 3.)
        F.col("__r__") <= F.col("n") - F.ceil(_t_times_n(threshold, F.col("n"))) + 1
    ).select("id", "n", "g")
    # ONE-SIDED length filter, also a theorem: containment(A in B) >= t
    # means |A∩B| >= t*|A| and |A∩B| <= |B|, so |B| >= t*|A|. No upper
    # bound on |B| — the excerpt-in-big-doc case is the measure's point.
    # Relative slack never over-prunes; exact verify removes extras.
    cands = (
        prefix.alias("a")
        .join(
            posts.select("id", "n", "g").alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.id") != F.col("b.id"))
            & (F.col("b.n") >= _t_times_n(threshold, F.col("a.n"))),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # spread the CPU-bound verify across the cluster (round 15, same
    # rationale as ngram_jaccard_pairs_prefix).
    cands = cands.repartition(cands.sparkSession.sparkContext.defaultParallelism)
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("__sa__"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("__sb__"))
    return (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("__sa__", "__sb__"))
                / F.size("__sa__")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def shingle_expansion_diagnostic(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
) -> dict:
    """Pair-expansion diagnostic for the exact threshold-join family —
    ONE shingle pass + one two-level agg, three scalars to the driver.

    ``postings`` = Σf (total posting rows), ``sum_p2`` = Σf² over
    per-shingle frequencies f. The baseline posting self-join generates
    ~Σf²/2 candidate rows while any formulation must carry the Σf
    posting rows, so ``expansion_ratio`` = Σf²/Σf is the per-posting
    pair amplification: near-uniform corpora sit at 2-5× (the posting
    join is near-linear — the prefix path's extra rank window cannot
    pay for itself), boilerplate-heavy corpora at 30×+ (a few
    shared-header shingles go quadratic — exactly what rarest-first
    prefix filtering provably never joins). Measured crossover table:
    SCALE.md "Round 7: prefix-filter crossover"."""
    posts = shingle_table(df, text_col, id_col, shingle_n, out_col="sh").select(
        F.explode_outer("sh").alias("g")
    )
    row = (
        posts.groupBy("g")
        .agg(F.count(F.lit(1)).alias("f"))
        .agg(
            F.sum("f").alias("postings"),
            F.sum(F.col("f") * F.col("f")).alias("sum_p2"),
        )
        .collect()[0]
    )
    postings = int(row["postings"] or 0)
    sum_p2 = int(row["sum_p2"] or 0)
    return {
        "postings": postings,
        "sum_p2": sum_p2,
        "expansion_ratio": (sum_p2 / postings) if postings else 0.0,
    }


#: Jaccard dispatch constants, RE-CALIBRATED round 8 (SCALE.md "Round 8:
#: dispatch-boundary scale validation"; raw samples records/dispatch_*).
#: The r7 ratio-only cutover (28, from 10k-30k-doc corpora) turned out to
#: be volume-blind: at 30k docs baseline wins at ratio 9.9 (+40%) AND
#: 30.3 (+27%), while at 480k docs prefix wins at ratio 11.8 (−22%),
#: 17.5 (−58%), and 37.9 (−62..−67%) — the same ratio flips winner with
#: volume. The physical model says why: the baseline posting join's
#: extra cost is ~Σf²/2 CANDIDATE ROWS (absolute volume), while the
#: prefix path's extra cost is the rank window over Σf posting rows plus
#: near-constant plan overhead — at small Σf² the window overhead
#: dominates, at large Σf² the candidate volume does. So the dispatch
#: signal is the diagnostic's ABSOLUTE sum_p2: prefix iff
#: sum_p2 >= AUTO_PREFIX_SUMP2_CUTOVER, guarded by
#: expansion_ratio >= AUTO_PREFIX_MIN_RATIO to exclude the near-uniform
#: regime (ratio ~2: Σf² ≈ 2Σf crosses any absolute cutover on a big
#: enough corpus, but then candidates ≈ postings — the posting join is
#: near-linear and the window can never pay). Round-9 SHAPE
#: RE-CALIBRATION (3.6e8 → 6.8e8): the r8 midpoint's provenance was
#: entirely the Zipfian generator; two NON-Zipfian cells (uniform_docs:
#: flat bimodal shingle frequencies, 120k docs, ratio 27-56 — SCALE.md
#: round 9, records/dispatch_scale_ju_*.json) bracketed the boundary
#: and the lower one misclassified under 3.6e8: baseline wins all 4
#: samples at Σf² 5.19e8 (+11/+17%), prefix wins at 1.06e9 (−34/−15%).
#: The shape-robust bracketing across BOTH generators is therefore
#: baseline-wins max 5.19e8 [ju_lo] / prefix-wins min 8.96e8 [j10
#: 16x-vs: t=0.5 prefix 4/4 rounds at −18..−22%; its t=0.8 corner is a
#: measured 2-2 noisy split — a documented threshold-split boundary
#: residual] -> geometric midpoint ~6.8e8. The rule classifies all
#: 20 measured jaccard cells (18 Zipfian r7/r8 + 2 uniform r9)
#: correctly, counting the genuinely neutral boiler 10k/50 cell
#: (1.18e8, +2.3/−4.1%) as either-way. The guard's boundary is
#: MEASURED at its worst case (j5 cell, ratio 4.89 / Σf² 3.7e8 at 480k
#: docs — now also below the volume cutover): the winner is
#: threshold-split there — baseline +35% better at t=0.8 (all rounds),
#: prefix ~13% better at t=0.5 (2 of 3 noisy rounds) — so the worst
#: measured mis-pick near the boundary is a bounded ~13-17% (j5 t=0.5,
#: ju_lo t=0.8), against the 2-3x baseline blowup the rule prevents.
AUTO_PREFIX_SUMP2_CUTOVER = 6.8e8
AUTO_PREFIX_MIN_RATIO = 8.0

#: Containment dispatch constants (see containment_pairs_auto): the
#: threshold regime boundary and its ratio cutover. Calibrated on the
#: measured table (SCALE.md rounds 7-9; an earlier −65% diverse low-t
#: cell was concurrent-load contamination, re-measured +8.2%); the
#: ratio separates diverse (1.9, baseline at every t) from bench
#: (10.7) and boilerplate (74/295) corpora, where prefix wins at high t.
#: Round-9 RE-CALIBRATION (5.0 → 8.0): thickening the thinnest round-8
#: cell (c5 16x-vs, ratio 6.72) from 2 to 4 recorded rounds exposed the
#: published −60% as the round-0 GC outlier itself — the three clean
#: rounds read −7.3/+4.6/+19.5% (median +4.6%, NEUTRAL), so ratio 6.72
#: is AT the boundary, not decisively prefix. The measured t=0.8 table:
#: baseline wins ≤ 4.9 (+9.7% at 30k/4.78, +21.5% at 480k/4.89, 4 clean
#: rounds), neutral at 6.72, prefix wins ≥ 10.7 (−32% at 480k/12.4,
#: −53..−55% boilerplate). Cutover 8.0 = geometric midpoint of the
#: bracketing cells (6.72 neutral / 10.7 prefix); worst measured
#: mis-pick at the boundary is the 6.72 cell's ±5% noise. Containment
#: remains volume-stable (ratio-dispatched) because its high-t prefix
#: is SHORT ((1-t)|A|+1 ≈ 20% of each doc at t=0.8): the rank-window
#: overhead scales with the baseline's savings instead of amortizing
#: against them, so the crossover is a corpus-shape property — both
#: 480k cells straddling the cutover agree with their 30k analogues.
#: KNOWN RESIDUAL (round-9 uniform-shape cells, SCALE.md round-9
#: addendum): on flat bimodal-frequency corpora the rule mis-picks at
#: ratio 11.8 (cu_hi: baseline wins all 4 rounds, +5-17%) — bounded,
#: and no single second signal (volume, max_f) separates the measured
#: table without breaking a template cell; revisit only with 2-3 more
#: f-axis cells if a flat-shape profile matters in production.
#: Raw samples: records/dispatch_scale_c*.json (c5_16x_vs and cu_hi
#: carry session-tagged multi-session thickening).
CONTAINMENT_T_SPLIT = 0.65
CONTAINMENT_RATIO_CUTOVER = 8.0


def ngram_jaccard_pairs_auto(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    sump2_cutover: float = AUTO_PREFIX_SUMP2_CUTOVER,
    min_ratio: float = AUTO_PREFIX_MIN_RATIO,
    diagnostic: dict | None = None,
) -> DataFrame:
    """Exact Jaccard threshold join that PICKS ITS OWN PLAN: measures
    the corpus' pair expansion (``shingle_expansion_diagnostic``, one
    cheap agg) and dispatches to the AllPairs prefix path when the
    ABSOLUTE candidate volume Σf² crosses ``sump2_cutover`` (and the
    expansion ratio clears ``min_ratio`` — the near-uniform guard), the
    posting-join baseline otherwise. Round-8 re-calibration: the
    crossover is a volume property, not a ratio property — see the
    constants' provenance note above and SCALE.md round 8. Output is
    identical either way (theorem-equal operators); only wall-clock
    changes. Pass ``diagnostic`` to reuse an already-computed dict
    (e.g. when running several thresholds over one corpus). Force a
    branch with ``sump2_cutover=0.0, min_ratio=0.0`` (prefix) or
    ``sump2_cutover=float("inf")`` (baseline)."""
    d = diagnostic or shingle_expansion_diagnostic(df, text_col, id_col, shingle_n)
    if d["sum_p2"] >= sump2_cutover and d["expansion_ratio"] >= min_ratio:
        return ngram_jaccard_pairs_prefix(df, text_col, id_col, threshold, shingle_n)
    return ngram_jaccard_pairs(df, text_col, id_col, threshold, shingle_n)


def containment_pairs_auto(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    min_shingles: int = 1,
    cutover: float = CONTAINMENT_RATIO_CUTOVER,
    t_split: float = CONTAINMENT_T_SPLIT,
    diagnostic: dict | None = None,
) -> DataFrame:
    """Directed-containment threshold join that picks its own plan:
    PREFIX only when BOTH the threshold is high (>= ``t_split``) and the
    corpus is expansion-heavy (ratio >= ``cutover``); BASELINE otherwise.
    Calibrated 8/8 on the clean measured cells (SCALE.md round-7 table):

    - High t, heavy corpus -> PREFIX: heavy shared shingles make the
      posting join quadratic on SPURIOUS pairs (a 30-word boilerplate
      block rarely reaches t=0.8 of a whole doc), the high-t prefix is
      short, and rarest-first indexing provably never joins the heavy
      shingles (boilerplate corpora: -53..-55%).
    - High t, light corpus -> BASELINE: the posting join is near-linear
      and the strong high-t one-sided length filter already prunes; the
      prefix freq-agg + rank window is pure overhead (diverse: +15%).
    - Low t (any ratio) -> BASELINE: the prefix |A|-ceil(t|A|)+1 is
      about half of every doc — the posting reduction mostly vanishes
      while the window cost stays (diverse +8%, bench +30%); on heavy
      corpora the low-t expansion is additionally GENUINE output
      (shared blocks ARE containment at low t) that no candidate
      pruning can avoid emitting (boilerplate +9..38%).

    .. warning:: The low-t/heavy regime's output is itself Θ(n²) — see
       the ``containment_pairs`` warning (2.56M real pairs on the
       20k-doc/25-template corpus at t=0.5). The dispatcher picks the
       cheapest plan for finding those pairs, but cannot shrink the
       answer; pre-strip boilerplate or keep t >= 0.65 on template-heavy
       corpora.
    """
    d = diagnostic or shingle_expansion_diagnostic(df, text_col, id_col, shingle_n)
    use_prefix = threshold >= t_split and d["expansion_ratio"] >= cutover
    if use_prefix:
        return containment_pairs_prefix(
            df, text_col, id_col, threshold, shingle_n, min_shingles
        )
    return containment_pairs(
        df, text_col, id_col, threshold, shingle_n, min_shingles
    )


def containment_pairs_minhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_bucket_size: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """The SCALE path for directed containment (VERDICT r4 item 5):
    minhash-LSH candidate generation -> exact containment verify, i.e.
    ``minhash_dedup_pairs``'s candidate machinery composed with
    ``containment_pairs``'s measure. Output: DIRECTED pairs
    ``(id_a, id_b, containment)`` with ``|A ∩ B| / |A| >= threshold``,
    both directions of every candidate pair considered.

    Where the exact ``containment_pairs`` posting join is quadratic in
    bucket co-occurrence (142 s at sf0.1×16 — SCALE.md), this runs ONE
    corpus pass: the signature UDF emits struct<bands, sh> under a
    repartition("id") so the banding branch and both verify sides read
    the same shuffle files (ReusedExchange, same plan shape as
    minhash_dedup_pairs), and only (~KB/doc) hashed signatures cross the
    wire — never text, never a full posting table.

    Semantics note (documented, not hidden): candidate RECALL is
    governed by LSH on JACCARD, so an extreme excerpt pair (tiny doc
    fully contained in a huge one, jaccard << threshold) can be missed;
    this composition is the scale path when high containment comes with
    non-negligible jaccard (similar-size near-dups, partial overlaps).
    For the asymmetric excerpt case use ``containment_pairs_prefix``
    (one-sided PPJoin) or the exact baseline. Verification containment
    is computed over the HASHED shingle sets (same 2^-31-collision
    argument as minhash_dedup_pairs' verify jaccard), with native
    array_intersect/size codegen — no Python in the verify.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    udf = _band_hash_udf(
        shingle_n, num_hashes, bands, seed, frozenset(), with_shingles=True,
        portable=portable,
    ).asNondeterministic()
    # persisted one-pass signature table — same round-15 fix as
    # minhash_dedup_pairs (struct-field pruning defeated the shared
    # exchange, so the UDF ran one extra corpus pass); see the comment
    # there.
    sigs = (
        _spread(df, None)
        .select(F.col(id_col).alias("id"), udf(F.col(text_col)).alias("s"))
        .repartition("id")
        .localCheckpoint(eager=False)
    )
    banded = sigs.select(
        "id", F.posexplode(F.col("s.bands")).alias("band_idx", "band_hash")
    )
    cands = _bucket_pairs(banded, ["band_idx", "band_hash"], max_bucket_size)
    # spread the CPU-bound verify across the cluster (round 15, same
    # rationale as ngram_jaccard_pairs_prefix: AQE's byte-based
    # coalescing squeezes the small id-pair table onto few tasks while
    # the per-pair set ops dominate).
    cands = cands.repartition(cands.sparkSession.sparkContext.defaultParallelism)
    sh_a = sigs.select(F.col("id").alias("id_a"), F.col("s.sh").alias("__sa__"))
    sh_b = sigs.select(F.col("id").alias("id_b"), F.col("s.sh").alias("__sb__"))
    # one joined row per UNDIRECTED candidate; both directed measures
    # derive from the same intersection size, so the (potentially heavy)
    # set intersection is computed once per pair, not once per direction.
    # The two directions are emitted MAP-SIDE from that single row via a
    # 2-element explode_outer — a union of two selects over `joined`
    # would instead duplicate the verify joins (measured: 5 ReusedExchange
    # nodes = joins executed twice; the plan test pins 2).
    joined = (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            # sh arrays are distinct at the source (_band_hash_udf
            # np.unique — round 16), so plain sizes ARE the distinct
            # counts; the per-pair array_distinct this previously paid
            # is gone.
            F.size(F.array_intersect("__sa__", "__sb__")).alias("__ni__"),
            F.size("__sa__").alias("__na__"),
            F.size("__sb__").alias("__nb__"),
        )
    )
    both = F.array(
        F.struct(
            F.col("id_a").alias("id_a"),
            F.col("id_b").alias("id_b"),
            (F.col("__ni__") / F.col("__na__")).alias("containment"),
        ),
        F.struct(
            F.col("id_b").alias("id_a"),
            F.col("id_a").alias("id_b"),
            (F.col("__ni__") / F.col("__nb__")).alias("containment"),
        ),
    )
    return (
        joined.select(F.explode_outer(both).alias("__p__"))
        .select("__p__.*")
        .filter(F.col("containment") >= threshold)
    )


def span_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_words: int = 20,
    drop_empty: bool = True,
) -> DataFrame:
    """Corpus-wide exact SPAN dedup: tile every document into consecutive
    ``span_words``-word windows, keep only the FIRST occurrence (by
    ``(doc_id, span_idx)``) of each distinct span across the whole
    corpus, and reassemble documents from their surviving spans.

    This is the span-granular exact-substring dedup of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better", ~50-token
    spans) / C4's line-level dedup (Raffel et al. 2020), restated for a
    distributed engine: boilerplate paragraphs repeated across millions
    of pages are removed from every copy but one, without dropping the
    surrounding novel text. Reference parity note: the reference's
    dedup is whole-row only (filter_measurements.py /
    aggregate_code_metadata.py); span granularity is a beyond-reference
    LLM-pipeline operator.

    Scale design — the span TEXT crosses the wire at most once:
      1. a light table ``(hash, id, idx)`` (hashes only, no text) is
         aggregated per hash to elect the keep-first winner
         ``min(struct(id, idx))`` — map-side partial agg applies;
      2. winners collapse to one row per doc ``(id, sorted surviving
         idx array)`` — second light shuffle, |docs| rows out;
      3. the full text joins that per-doc keep-list hash-partitioned on
         ``id`` and spans are re-derived + filtered MAP-SIDE with a
         positional lambda, so document bodies are shuffled exactly
         once (for the join on ``id``) and never exploded through an
         exchange.
    Documents whose every span lost (pure duplicates of earlier docs)
    are dropped when ``drop_empty`` (C4 behavior); with
    ``drop_empty=False`` they are genuinely kept with empty text (LEFT
    join + empty keep-list — an inner join could never honor that
    contract, since all-loser docs have no keep_per_doc row at all).
    Internal columns use collision-safe ``__sd_*__`` names so inputs
    that already carry an ``id`` column work unchanged.
    """
    idc = F.col(id_col)
    words = F.split(F.col(text_col), " ")
    n_spans = F.ceil(F.size(words) / F.lit(span_words)).cast("int")
    span_at = lambda i: F.concat_ws(  # noqa: E731 — words[i*k : (i+1)*k]
        " ", F.slice(words, i * span_words + 1, span_words)
    )
    # sequence(0, -1) is DESCENDING [0, -1]; guard the empty-document case
    # explicitly (the repetition_stats nb==1 bug class)
    spans = F.when(
        n_spans > 0, F.transform(F.sequence(F.lit(0), n_spans - 1), span_at)
    ).otherwise(F.array().cast("array<string>"))
    light = df.select(
        idc.alias("__sd_id__"),
        F.posexplode(spans).alias("__sd_idx__", "__sp__"),
    ).select("__sd_id__", "__sd_idx__", F.sha2(F.col("__sp__"), 256).alias("h"))
    winners = light.groupBy("h").agg(
        F.min(F.struct(F.col("__sd_id__"), F.col("__sd_idx__"))).alias("w")
    )
    keep_per_doc = (
        winners.select(
            F.col("w.__sd_id__").alias("__sd_id__"),
            F.col("w.__sd_idx__").alias("__sd_idx__"),
        )
        .groupBy("__sd_id__")
        .agg(F.array_sort(F.collect_list("__sd_idx__")).alias("__keep__"))
    )
    # coalesce to an empty keep-list: docs with no winning span (or empty
    # docs) have no keep_per_doc row, and a NULL array would null out the
    # filter predicate instead of cleanly keeping zero spans.
    keep = F.coalesce(F.col("__keep__"), F.array().cast("array<int>"))
    kept_spans = F.filter(spans, lambda s, i: F.array_contains(keep, i))
    out = (
        df.join(keep_per_doc, idc == F.col("__sd_id__"), "left")
        .withColumn(text_col, F.concat_ws(" ", kept_spans))
        .drop("__sd_id__", "__keep__")
    )
    if drop_empty:
        out = out.filter(F.length(text_col) > 0)
    return out


def novelty_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Per-document NOVELTY: the fraction of a doc's distinct word
    ``shingle_n``-grams that no earlier document (smaller id) contains —
    the corpus-level memorization-risk / freshness signal (1.0 = fully
    novel, 0.0 = every n-gram already seen upstream). The complement of
    span_dedup's keep decision, reported as a score instead of a rewrite.

    Scale design: one shingle pass; the exchange carries ``(hash, id)``
    pairs only (never text). First-owner election is a min agg per hash
    (map-side partial), the per-doc fraction one count agg keyed by id.
    Returns (id, n_shingles, novel, novelty).

    ``_spread`` (round 16): the Arrow shingling pass runs in the scan
    stage — a single-file corpus pinned it to one core (measured 2.0 s
    single-task at sf0.1); no-op on a pre-split cluster corpus.
    """
    sh = shingle_table(_spread(df, None), text_col, id_col, shingle_n, out_col="sh")
    # lazy localCheckpoint (round 16): posts feeds BOTH the first-owner
    # agg and the ownership join, and per-branch column pruning defeats
    # ReusedExchange — without the cut the scan + Arrow shingling pass
    # executed twice (profiled: two UDF stages, two spread exchanges).
    # The stored table is (id, hash) longs only.
    posts = (
        sh.select("id", F.explode_outer(F.array_distinct("sh")).alias("g"))
        .select("id", F.xxhash64("g").alias("h"))  # 64-bit: birthday-safe where 32-bit murmur is not
        .localCheckpoint(eager=False)
    )
    first = posts.groupBy("h").agg(F.min("id").alias("__first__"))
    return (
        posts.join(first, "h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("id") == F.col("__first__"), 1).otherwise(0)
            ).alias("novel"),
        )
        .select(
            "id",
            "n_shingles",
            "novel",
            F.round(F.col("novel") / F.col("n_shingles"), round_to).alias("novelty"),
        )
    )
