"""Iterative graph algorithms on DataFrames.

Companion to the connected-components clustering in dedup.py (which
drives near-dedup); PageRank is the canonical "importance over a link
graph" signal used to weight training corpora (e.g. page quality from a
hyperlink graph).

Scale design: the rank vector and edge list stay DataFrames end to end —
each iteration is one shuffle-join on ``src`` plus one aggregation on
``dst``. Edges are the big side and their partitioning on ``src`` is
REUSED every iteration (persisted once, repartitioned on the join key up
front); ranks are |nodes|-sized. The dangling-node mass and the global
rank sum are one-row aggregates cross-joined back (broadcast), never
driver round-trips. Lineage is cut with localCheckpoint every few
iterations so the plan doesn't grow unboundedly with iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list.

    Returns (node, rank); ranks sum to 1. Dangling nodes (no out-edges)
    redistribute their mass uniformly — the standard stochastic-matrix
    completion, so results match the textbook formulation exactly.

    ``checkpoint_every`` is retained for API compatibility but no longer
    used: the rank vector is |nodes|-sized, so it is localCheckpoint-ed
    EVERY iteration (see the loop comment for the measured blowup the
    deferred cadence caused).
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .persist()  # read by nodes, out_deg and e_deg — scan the input once
    )
    nodes0 = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    # fold the degree into the edge table ONCE, pre-partitioned on the
    # per-iteration join key — the loop then never touches out_deg again
    # (the old shape re-ran the degree agg twice per iteration)
    e_deg = (
        e.join(out_deg.withColumnRenamed("node", "src"), "src")
        .repartition("src")
        .persist()
    )
    # dangling membership is STATIC (no out-edges) — fold it into the
    # node table as a boolean ONCE (optimization round 16, guide §2.4):
    # the per-iteration dangling mass is then a filter+sum over the rank
    # vector instead of a |nodes|⋈|dangling| semi-join per round (the
    # join was a second exchange of the rank table at scale; the flag
    # column is one boolean riding on rows the update reads anyway).
    nodes = nodes0.join(
        out_deg.select("node", F.lit(True).alias("__nd__")), "node", "left"
    ).select(
        "node", F.coalesce(F.col("__nd__"), F.lit(False)).alias("__has_out__")
    ).persist()  # re-joined every iteration — never re-derive the distinct
    n_nodes = nodes.count()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))

    for it in range(n_iter):
        # mass sitting on dangling nodes this round (one-row broadcast);
        # sum-over-filter on the carried flag — no join (round 16)
        dangling = ranks.filter(~F.col("__has_out__")).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dangling__")
        )
        contrib = (
            ranks.join(e_deg, ranks.node == e_deg.src)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("__c__"),
            )
            .groupBy("node")
            .agg(F.sum("__c__").alias("__in__"))
        )
        new_ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "__has_out__",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__in__"), F.lit(0.0))
                        + F.col("__dangling__") / n_nodes
                    )
                ).alias("rank"),
            )
        )
        # LAZY |nodes|-sized cut EVERY iteration (round 16; the kcore
        # probe-materializes pattern): ranks is referenced twice per
        # round (contrib + the dangling mass), so a per-round checkpoint
        # is required — round 15 measured the deferred cadence at 2^k
        # subtree recompute (83 jobs, e_deg ×3). But the cut need not be
        # EAGER: the NEXT round's dangling-mass broadcast is a full
        # aggregation over this table, so its collect job computes every
        # partition and completes the lineage cut — one driver job per
        # round instead of checkpoint-job + broadcast-job. Same
        # expressions, same exchanges, bit-identical ranks.
        ranks = new_ranks.localCheckpoint(eager=False)
    # drop the carried dangling flag and materialize BEFORE releasing the
    # caches (the stress_centrality discipline): the last iteration's
    # lazy chain still reads the nodes/e_deg caches, so unpersisting
    # first would force a cache-less recompute on the caller's action —
    # and returning without unpersisting would leak cache entries across
    # calls (ADVICE r13 item 5 lifetime class). |nodes|-sized checkpoint.
    final = ranks.select("node", "rank").localCheckpoint(eager=True)
    e.unpersist()
    e_deg.unpersist()
    nodes.unpersist()
    return final


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Global triangle count by degree-oriented edge iteration (the
    Cohen / Suri-Vassilvitskii orientation + the edge-iterator counting
    of Chiba-Nishizeki): undirected edges are first ORIENTED from the
    lower-(degree, id) endpoint to the higher one, making the oriented
    graph a DAG where every triangle {u,v,w} is counted exactly once —
    at its apex edge (u,v), as an element of N⁺(u) ∩ N⁺(v).

    Why orientation is THE scale move: per-node triangle work grows with
    out-degree², and orientation caps every out-degree at O(√|E|)
    regardless of how skewed the raw degree distribution is — the
    celebrity node with 10⁸ followers contributes nothing because all
    its edges point INTO it. Shuffles: one degree agg, one
    broadcast-or-hash join to orient, one adjacency groupBy, two
    equi-joins on node keys.

    Returns a 1-row DataFrame ``(n_triangles)``."""
    # Lazy localCheckpoints (round 16, guide §2.4/§5): `e` is read by the
    # degree agg (twice, via the union) and the orient join, and
    # `oriented` by the edge probe and the adjacency build — without the
    # cuts, per-branch column pruning defeats ReusedExchange and the
    # ENTIRE upstream pipeline (including the caller's edge derivation,
    # often itself a join) replays once per reference (measured on the
    # co-supplier bench graph: 94 Exchange / 60 parquet-scan nodes in the
    # pre-cut plan). Lazy = materialized by the caller's own action; no
    # CacheManager entry, nothing eager at construction time.
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("u").alias("n")).unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    withdeg = (
        e.join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
    )
    oriented = withdeg.select(
        F.when(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
            F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
        )
        .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
        .alias("e")
    ).select(F.col("e.s").alias("s"), F.col("e.t").alias("t")).localCheckpoint(
        eager=False
    )
    # Edge-iterator counting (round 16, guide §2.3 "shuffle keys and
    # metadata instead of payloads"): the classic wedge JOIN materializes
    # and shuffles Σ d⁺(v)² two-long rows — 1.7×10⁸ rows on the dense
    # co-supplier bench graph — then probes them against the edge list.
    # Packing each node's oriented out-neighborhood into ONE array row
    # moves the same longs in |E| rows instead, and the per-edge overlap
    # |N⁺(s) ∩ N⁺(t)| is a native long-array intersect evaluated inside
    # one codegen stage (no 10⁸-row exchange, no join-side hash table of
    # wedges). Triangle u→v,u→w,v→w is counted exactly once, at its
    # wedge apex edge pair (u,v): w ∈ N⁺(u) ∩ N⁺(v) — the same counting
    # set as the wedge join, so the result is identical by construction
    # (verified value-identical at sf0.1: 124,470,598 both ways).
    # Orientation still caps |N⁺| at O(√E), which bounds both the array
    # length and the intersect cost per edge. Measured 20.0 → 2.9 s
    # (−85.6%, interleaved A/B, records/ab_r16_triangles.json); plan
    # 94 Exchange / 60 scans → 8 / 0. Edges whose t has no out-neighbors
    # contribute nothing (inner join drops them) — N⁺(t) is empty there,
    # exactly the wedge join's behavior.
    adj = oriented.groupBy("s").agg(F.collect_list("t").alias("nb")).localCheckpoint(
        eager=False
    )
    return (
        oriented.join(
            adj.select(F.col("s").alias("__sa__"), F.col("nb").alias("__na__")),
            F.col("s") == F.col("__sa__"),
        )
        .join(
            adj.select(F.col("s").alias("__sb__"), F.col("nb").alias("__nb__")),
            F.col("t") == F.col("__sb__"),
        )
        .agg(
            F.coalesce(
                F.sum(F.size(F.array_intersect("__na__", "__nb__"))), F.lit(0)
            ).alias("n_triangles")
        )
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007) with a DETERMINISTIC update rule: each round, every node adopts
    the label that is most frequent among its neighbors, ties broken by
    the smallest label; isolated nodes keep their label. Labels start as
    the node id. Deterministic LPA is the standard cheap community signal
    for near-dup cluster grouping / domain clustering of a link graph.
    Node ids may be any orderable type (numeric, string, …) — the
    tie-break is ``min_by(label, struct(-cnt, label))``, i.e. min over
    (−count, label), which negates only the count (always numeric), not
    the label, so string ids stay deterministic too.

    Scale design (mirrors pagerank above): the undirected edge table is
    built once, pre-partitioned on the neighbor-side join key — each
    iteration is one join (labels are |nodes|-sized, edges reuse their
    exchange via ReusedExchange) + one (node, label) count agg + one
    argmax agg. ``min_by`` is a declarative aggregate, so it resolves
    map-side as a partial aggregate — no window, no sort.
    Lineage is cut with localCheckpoint like the other iterative ops.
    """
    e0 = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .filter(F.col("s") != F.col("d"))
    )
    # Round-15 postscript: per-iteration lineage cuts were TRIED here —
    # eager localCheckpoints measured +85% on the interleaved A/B and
    # lazy RDD checkpoints +88% — and REVERTED. Mechanism: a LogicalRDD
    # erases the partitioning metadata that the `und` frame carries, so
    # every iteration re-exchanged the edge table (and the eager form
    # additionally paid one sequential driver job per round). The lazy
    # composed plan grows 2^k subtree copies on paper (163 Exchange nodes
    # at n_iter=3), but the runtime deduplicates them via ReusedExchange
    # into the SAME work as the checkpointed form, in ONE job, with
    # `und`'s exchange reused every round. The every-4th eager checkpoint
    # below still bounds plan growth for deep loops.
    #
    # Round-16 postscript: the r15 shape also PERSISTED `und` and the
    # initial label table, which leaked two CacheManager entries per call
    # (lazy return = no unpersist point; the ADVICE r13 item 5 class). A
    # final eager checkpoint + unpersist was tried and measured +158%
    # (records/ab_r16_lpa.json): eager materialization computes every
    # column of the full label chain, while the caller's action benefits
    # from Catalyst pruning through the composed plan. Since ReusedExchange
    # already deduplicates the und/label subtrees WITHIN the one composed
    # job, the persists bought nothing there — dropping them fixes the
    # leak without touching the execution shape (A/B parity, same plan
    # modulo InMemoryTableScan wrappers).
    und = (
        e0.union(e0.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .repartition("d")
    )
    labels = (
        und.select(F.col("s").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    for it in range(n_iter):
        nbr = und.join(
            labels.select(F.col("node").alias("d"), "label"), "d"
        ).select(F.col("s").alias("node"), "label")
        counts = nbr.groupBy("node", "label").agg(F.count(F.lit(1)).alias("__c__"))
        new = counts.groupBy("node").agg(
            F.min_by(
                F.col("label"),
                F.struct((-F.col("__c__")).alias("__nc__"), F.col("label")),
            ).alias("label")
        )
        # isolated nodes (none here by construction of `und`, but keep the
        # rule total) retain their previous label
        prev = labels
        labels = (
            prev.select("node", F.col("label").alias("__old__"))
            .join(new, "node", "left")
            .select("node", F.coalesce("label", "__old__").alias("label"))
        )
        if (it + 1) % checkpoint_every == 0:
            labels = labels.localCheckpoint(eager=True)
    return labels


def k_core_decomposition(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Exact k-core decomposition (coreness per node) by the distributed
    H-index fixpoint iteration (Lü/Chen/Ren/Zhang/Zhou/Stanley 2016:
    the H-operator ``c(v) <- H({c(u): u in N(v)})`` started from
    ``c = degree`` converges monotonically DOWN to the coreness —
    no peeling, no global ordering, pure neighbor propagation).

    Returns ``(node, coreness)`` over the undirected simple graph
    (direction and self-loops dropped). Isolated nodes never appear in
    the edge list and are out of scope, like label_propagation above.

    Scale design (the LPA skeleton): the undirected edge table is
    materialized once, pre-partitioned on the neighbor-side join key
    and persisted; each iteration is ONE join (coreness is
    |nodes|-sized, edges reuse their exchange) + one per-node H-index.
    ``checkpoint_every`` is retained for API compatibility but no longer
    used (the pagerank note applies verbatim): every round's
    |nodes|-sized state is checkpointed, materialized by the convergence
    probe's own job.

    The H-index avoids any collect AND any edge-sized exchange: neighbor
    values are first counted per (node, value) — a map-side partial
    aggregate, so only (node, distinct value, count) rows shuffle — and
    ``H = max(min(cumulative_count, value))`` over the value-descending
    count table (provably equal to the per-element
    ``max(min(rank, value))`` form; see the loop comment). The update is
    monotone non-increasing and integer-valued, so the fixpoint check
    is exact: the loop stops the first round NOTHING changes (one
    O(1)-rows sum probe per iteration — the same driver round-trip
    class as the kmeans trainer's convergence test), with ``max_iter``
    as a backstop (convergence is typically O(graph "depth"), tens of
    rounds on real graphs). Reaching ``max_iter`` without a round that
    changes nothing raises ``RuntimeError``, like
    ``connected_components``. Lineage cut with localCheckpoint every
    iteration (|nodes|-sized).
    """
    from pyspark.sql import Window

    e0 = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .filter(F.col("s") != F.col("d"))
    )
    und = (
        e0.union(e0.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .repartition("d")
        .persist()
    )
    # LAZY |nodes|-sized checkpoint + sum probe in ONE action (round 16,
    # VERDICT r15 item 2): the convergence probe's aggregation job is
    # what materializes the checkpoint (a full-table sum computes every
    # partition, so the lineage cut is complete), replacing the round-15
    # eager-checkpoint-then-collect pair — one driver action per round
    # instead of two. The degree init doubles as iteration-0 state and
    # its materialization fills the edge cache before the loop's stages
    # can race on it.
    cores = (
        und.groupBy(F.col("s").alias("node"))
        .agg(F.count(F.lit(1)).alias("coreness"))
        .localCheckpoint(eager=False)
    )
    # Convergence probe (optimization round 15): the H-update is monotone
    # NON-INCREASING and integer-valued per node, so the table is
    # unchanged iff sum(coreness) is unchanged — one scalar aggregate
    # over the freshly materialized |nodes| table replaces the old
    # new⋈old inequality join (a full extra join + exchange per round).
    # Same fixpoint, same number of H-rounds executed, identical output.
    prev_sum = cores.agg(F.sum("coreness")).collect()[0][0]
    # H-index from value COUNTS (optimization round 15, guide §2.3
    # "aggregate before you shuffle"): with per-node neighbor values
    # grouped as (value v_i, count c_i) sorted by v desc and cumulative
    # count C_i, the classic per-element form H = max_r min(r, val_r)
    # collapses to H = max_i min(C_i, v_i) — within a value group,
    # min(r, v_i) is increasing in r, so the group's max sits at its
    # last position r = C_i. Integer-exact, same H, same fixpoint
    # trajectory. The win: groupBy(node, value) partial-aggregates
    # MAP-SIDE, so the per-iteration exchange carries one row per
    # (node, distinct neighbor value) instead of one row per directed
    # edge (measured 12 MB -> ~1 MB per round at sf0.1), and the window
    # then sorts the compact count table, not the edge-sized one.
    w = Window.partitionBy("node").orderBy(F.col("__nc__").desc())
    converged = False
    for it in range(max_iter):
        nbr = und.join(
            cores.select(F.col("node").alias("d"), F.col("coreness").alias("__nc__")),
            "d",
        ).select(F.col("s").alias("node"), "__nc__")
        counts = nbr.groupBy("node", "__nc__").agg(
            F.count(F.lit(1)).alias("__cnt__")
        )
        new = (
            counts.select(
                "node",
                F.least(
                    F.col("__nc__"),
                    F.sum("__cnt__").over(
                        w.rowsBetween(Window.unboundedPreceding, 0)
                    ),
                ).alias("__h__"),
            )
            .groupBy("node")
            .agg(F.max("__h__").alias("coreness"))
        )
        # lazy per-round cut, materialized BY the convergence probe
        # (round 16): the sum computes every partition of the checkpoint
        # RDD, so the next round reads stored blocks and lineage stays
        # linear — one job per round instead of checkpoint-job + probe-job
        new = new.localCheckpoint(eager=False)
        new_sum = new.agg(F.sum("coreness")).collect()[0][0]
        cores = new
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    # the returned frame is already a materialized checkpoint; the edge
    # cache can be released without any recompute hazard (ADVICE r13
    # item 5 lifetime class).
    und.unpersist()
    if not converged:
        # a partial fixpoint over-reports coreness (the H-update only
        # lowers it), so handing it back would be silently wrong
        raise RuntimeError(
            f"k_core_decomposition did not converge in {max_iter} "
            "iterations; raise max_iter"
        )
    return cores


def verify_k_core(edges: DataFrame, cores: DataFrame) -> DataFrame:
    """Adversarial fixpoint check of a coreness table against the raw
    edges, for the invariant-oracle style: one more H-pass over the
    graph plus the core property, emitted as per-node booleans:

    - ``fixpoint_ok``: ``coreness(v) == H({coreness(u): u in N(v)})`` —
      coreness is the unique degree-initialized fixpoint of the
      H-operator, so ANY perturbation of a correct table flips this
      somewhere (pinned by the corruption test).
    - ``core_prop_ok``: v has >= coreness(v) neighbors with coreness >=
      coreness(v) (the defining k-core membership property).
    """
    from pyspark.sql import Window

    e0 = edges.select(F.col(edges.columns[0]).alias("s"), F.col(edges.columns[1]).alias("d")).filter(
        F.col("s") != F.col("d")
    )
    und = e0.union(e0.select(F.col("d").alias("s"), F.col("s").alias("d"))).distinct()
    nbr = und.join(
        cores.select(F.col("node").alias("d"), F.col("coreness").alias("__nc__")), "d"
    ).select(F.col("s").alias("node"), F.col("d").alias("__nbr__"), "__nc__")
    w = Window.partitionBy("node").orderBy(F.col("__nc__").desc(), F.col("__nbr__"))
    h = (
        nbr.select("node", F.least(F.col("__nc__"), F.row_number().over(w)).alias("__h__"))
        .groupBy("node")
        .agg(F.max("__h__").alias("__hidx__"))
    )
    ge = nbr.join(cores, "node").filter(F.col("__nc__") >= F.col("coreness")).groupBy(
        "node"
    ).agg(F.count(F.lit(1)).alias("__ge__"))
    return (
        cores.join(h, "node", "left")
        .join(ge, "node", "left")
        .select(
            "node",
            "coreness",
            (F.coalesce("__hidx__", F.lit(0)) == F.col("coreness")).alias("fixpoint_ok"),
            (F.coalesce("__ge__", F.lit(0)) >= F.col("coreness")).alias("core_prop_ok"),
        )
    )


def stress_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_sources: int = 4,
    salt: str = "",
    max_depth: int = 6,
) -> DataFrame:
    """Sampled stress centrality (Shimbel): for each node v, the NUMBER
    of shortest paths (from a deterministic sample of source nodes to
    anywhere) that pass THROUGH v — the integer-credit sibling of
    betweenness (betweenness divides each s→t credit by σ_st; stress
    counts raw paths), which is why it admits an EXACT engine-portable
    oracle: every quantity here is an integer (σ path counts, h(v)
    continuation counts), no fractional accumulation anywhere.

    Sampling: the ``n_sources`` nodes first in md5(node||salt) order —
    the hash_split/stratified_sample replay discipline, so the sample
    (and therefore the whole answer) is deterministic on any engine.

    Algorithm (Brandes-style, all sources batched in ONE state table):

    - Forward BFS by layers over the undirected simple graph: the
      (source, node) frontier joins the d-partitioned persisted edge
      table once per layer, σ accumulates by integer sum, an anti-join
      against the visited set keeps first discoveries only. All
      sampled sources advance together — state is |reached| x
      n_sources rows, NOT a per-source loop of jobs.
    - Backward by layers: h(v) = 1 + Σ h(w) over v's successors on the
      shortest-path DAG (neighbors one layer deeper); then the through
      count is τ_s(v) = σ_s(v) · (h(v) − 1) for v ≠ s (the −1 drops
      paths ENDING at v; d > 0 drops v = s), summed over sources.
    - Layer count is the sampled eccentricity (measured 3-4 on the
      trade graph at every SF); ``max_depth`` bounds the unroll and
      the loop early-stops on an empty frontier.

    Returns ``(node, stress)`` for EVERY node of the graph (unreached
    nodes get 0). Edges are undirected/simple like the other ops here.
    """
    e0 = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    und = (
        e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .repartition("u")
        .persist()
    )
    nodes = und.select(F.col("u").alias("node")).distinct().persist()
    srcs = (
        nodes.orderBy(
            F.md5(F.concat(F.col("node").cast("string"), F.lit(salt))), "node"
        )
        .limit(int(n_sources))
        .select(F.col("node").alias("s"))
    )
    # every layer is localCheckpoint-ed: the visited set is a union of
    # ALL prior layers and each new layer references it, so without
    # lineage cuts the plan tree grows exponentially with depth (the
    # pagerank/kcore lesson, but per-layer here because the dependency
    # is cumulative, not just sequential)
    layer = srcs.select(
        "s", F.col("s").alias("node"), F.lit(1).cast("long").alias("sigma")
    ).localCheckpoint(eager=True)
    layers = [layer]  # index = depth
    visited = layer.select("s", "node").localCheckpoint(eager=True)
    for _ in range(int(max_depth)):
        cand = (
            layers[-1]
            .join(und.withColumnRenamed("u", "node"), "node")
            .groupBy("s", F.col("v").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        # lazy checkpoint materialized BY the empty-frontier probe (round
        # 16): the full count computes every partition (completing the
        # lineage cut) and answers the termination test in the SAME job —
        # the round-15 form paid an eager-checkpoint job AND a
        # limit(1).count() job per layer.
        nxt = cand.join(visited, ["s", "node"], "left_anti").localCheckpoint(
            eager=False
        )
        if nxt.count() == 0:
            break
        layers.append(nxt)
        # LAZY checkpoint (round 15): the visited union is consumed by
        # the next layer's anti-join, inside whose job it materializes —
        # an eager cut here added one sequential driver-side job per
        # layer for no lineage benefit (the RDD cut is identical).
        visited = visited.union(nxt.select("s", "node")).localCheckpoint(
            eager=False
        )
    # backward: h per layer, deepest first
    hs: list[DataFrame] = [None] * len(layers)
    hs[-1] = layers[-1].select("s", "node", F.lit(1).cast("long").alias("h"))
    for d in range(len(layers) - 2, -1, -1):
        # successors of v at depth d are exactly the (s, w) rows of the
        # d+1 h-table reachable over one edge. `und` is symmetric (both
        # directions present), so probing the h-table on the u SIDE and
        # re-keying by v is the same neighbor relation — and it reuses
        # the cached hashpartitioning(u) of the edge table instead of
        # re-exchanging the whole edge list on v once per layer (the
        # round-15 profile caught that exchange executing once per
        # backward layer, ~9 MB × depth of redundant shuffle writes).
        succ_h = und.join(
            hs[d + 1].select(
                "s", F.col("node").alias("u"), F.col("h").alias("__hn__")
            ),
            "u",
        ).select("s", F.col("v").alias("node"), "__hn__")
        agg = succ_h.groupBy("s", "node").agg(F.sum("__hn__").alias("__sh__"))
        hs[d] = (
            layers[d]
            .join(agg, ["s", "node"], "left")
            .select(
                "s",
                "node",
                (F.lit(1) + F.coalesce("__sh__", F.lit(0))).cast("long").alias("h"),
            )
            # LAZY per-layer cut (round 15): hs[d] is read TWICE (by tau
            # at depth d and by hs[d-1]), so a checkpoint is required —
            # without one the lazy backward chain doubles per layer. But
            # it need not be EAGER: every consumer lives in the single
            # final aggregation job, where the shared RDD is one shared
            # stage (the DAG scheduler dedups stages within a job), so
            # the whole backward pass collapses from one sequential
            # driver job per layer into that one job. |layer|-sized.
            .localCheckpoint(eager=False)
        )
    # tau over interior occurrences (d > 0), summed across sources
    tau = None
    for d in range(1, len(layers)):
        t = layers[d].join(hs[d], ["s", "node"]).select(
            "node", (F.col("sigma") * (F.col("h") - F.lit(1))).alias("__t__")
        )
        tau = t if tau is None else tau.unionByName(t)
    if tau is None:
        out = nodes.select("node", F.lit(0).cast("long").alias("stress"))
    else:
        agg_t = tau.groupBy("node").agg(F.sum("__t__").cast("long").alias("stress"))
        out = nodes.join(agg_t, "node", "left").select(
            "node", F.coalesce("stress", F.lit(0).cast("long")).alias("stress")
        )
    # Materialize before releasing the caches (ADVICE r13 item 5): the
    # lazy hs/tau chain re-reads `und` once per layer, so unpersisting
    # without the eager cut would re-derive the edge exchange that many
    # times on first evaluation; and returning without unpersisting
    # accumulated cached RDDs across calls. |nodes|-sized checkpoint.
    final = out.localCheckpoint(eager=True)
    und.unpersist()
    nodes.unpersist()
    return final
