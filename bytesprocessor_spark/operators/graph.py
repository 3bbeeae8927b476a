"""Connected components — the missing step between near-dup PAIRS and
near-dup CLUSTERS.

Pairwise similarity (MinHash-LSH, exact Jaccard, embedding cosine) yields
edges; deduplication must then keep ONE document per *transitive*
cluster (A~B, B~C => drop two of {A,B,C} even if A!~C directly).
Treating pairs as independent under-deduplicates: the canonical-per-
pair rule keeps both B-cluster survivors when the cluster is a chain.

Algorithm: iterative minimum-label propagation (the HashToMin family,
Rastogi et al., ICDE'13): every node starts labeled with itself; each
round, a node adopts the minimum label in its closed neighborhood.
Converges in O(diameter) rounds — near-dup graphs are unions of small
cliques/chains, so a handful of rounds in practice.  Each round is one
shuffle (join + min-aggregate); lineage is cut with localCheckpoint so
the plan doesn't grow with iterations (the classic iterative-Spark
trap).  At 100 TB scale the same loop runs with the edge list
partitioned by node id; rounds are edge-linear.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``, where
    ``component`` is the minimum node id reachable from it.  Raises if
    not converged within ``max_iter`` rounds (diameter bound)."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    labels = (
        sym.select(F.col("a").alias("node")).distinct().withColumn("label", F.col("node"))
    ).localCheckpoint()
    sym = sym.localCheckpoint()

    for _ in range(max_iter):
        # neighbor labels + own label -> per-node minimum
        msgs = sym.join(labels, sym.a == labels.node).select(
            F.col("b").alias("node"), "label"
        )
        new_labels = (
            msgs.unionByName(labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select("node", F.col("label").alias("component"))
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def cluster_keep(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Near-dup dedup with transitive closure: every doc in a pairwise-
    similarity cluster collapses to the cluster's minimum id; docs in
    no pair survive as their own cluster.  Returns (doc_id, component,
    is_kept) for every input doc."""
    comp = connected_components(pairs, src=pair_a, dst=pair_b)
    out = docs.select(F.col(id_col).alias("doc_id")).join(
        comp, F.col("doc_id") == comp.node, "left"
    )
    return out.select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("component"),
    ).withColumn("is_kept", F.col("doc_id") == F.col("component"))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 2,
    damping_micro: int = 850_000,
) -> DataFrame:
    """(node, p): fixed-point PageRank power iterations over a
    directed edge table.

    Exactness: scores live in integer micro-units (p0 = 1e6 per
    node); each contribution is ``p div outdeg`` (integer floor
    division) and the damped update ``150000 + (850000 * s) div 1e6``
    — every step is exact 64-bit integer math, so the result is
    bit-identical in any engine and under any reduction order (float
    PageRank diverges across engines in final ulps and reduction
    orders).  The floor-div mass leak per node is < 1 micro-unit per
    iteration — irrelevant for ranking, essential for determinism.

    Plan shape: the degree annotation joins the edge list ONCE before
    the loop (persisted); each iteration is then one score join onto
    the degree-annotated edges plus one contribution shuffle on dst,
    and the damped update is a map over the node list — the standard
    scalable PageRank: cost = n_iter * (one edge-table shuffle).
    Dangling nodes (no out-edges) contribute nothing; nodes with no
    in-edges keep the teleport mass.

    Range: a node's incoming sum is bounded by the conserved total
    mass N * 1e6, and the update multiplies it by 850000 — int64-safe
    to N ~ 1e7 nodes.  Beyond that, lower the per-node scale (1e4
    keeps 1e9 nodes exact) or swap the micro-unit constants for a
    decimal(38) column; the plan shape is unchanged.
    """
    from bytesprocessor_spark.operators.caching import persist_intermediate

    e = persist_intermediate(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    )
    deg = e.groupBy("u").agg(F.count("*").alias("outdeg"))
    # the degree annotation is static across iterations — join it onto
    # the edge list ONCE and persist, so each iteration is one join
    # (scores) + one agg instead of two joins
    e_deg = persist_intermediate(e.join(deg, "u"))
    nodes = persist_intermediate(
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )
    teleport = 1_000_000 - damping_micro
    p = nodes.withColumn("p", F.lit(1_000_000).cast("long"))
    for it in range(n_iter):
        if it == 0:
            # r11: p0 is the constant 1e6 for every node, so the first
            # contribution pass needs no score join — c = 1e6 div
            # outdeg straight off the degree-annotated edges (values
            # identical; one edge-table join removed)
            c = e_deg.select(
                F.col("v").alias("node"),
                F.expr("1000000 div outdeg").cast("long").alias("c"),
            )
        else:
            c = (
                e_deg.join(p.withColumnRenamed("node", "u"), "u")
                .select(F.col("v").alias("node"), F.expr("p div outdeg").alias("c"))
            )
        s = c.groupBy("node").agg(F.sum("c").alias("s"))
        p = nodes.join(s, "node", "left").select(
            "node",
            (
                F.lit(teleport)
                + F.expr(f"({damping_micro} * coalesce(s, 0L)) div 1000000")
            ).cast("long").alias("p"),
        )
    return p


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "seed",
    max_depth: int = 3,
) -> DataFrame:
    """(seed, node, dist): minimum hop count from each seed to every
    node reachable within ``max_depth`` hops — multi-source BFS, the
    traversal primitive behind "blast radius" / n-degree-reach
    questions over an entity graph.

    Exactness: hop counts are integers; no floats anywhere, so the
    result is engine-independent by construction (the oracle is a
    recursive-CTE closure over the same edge table).

    Plan shape: the frontier-expansion loop is the standard scalable
    BFS — each level is ONE join of the current frontier against the
    (persisted) edge list keyed on src plus one min-aggregate to drop
    already-visited nodes; lineage is cut per level with
    localCheckpoint so the plan stays flat across iterations.  Cost
    per level is bounded by edges incident to the frontier; the seed
    dimension rides along as a second shuffle-key column, so k seeds
    cost one traversal, not k.  At 100 TB the edge list partitions on
    src and each level is edge-linear — same contract as
    connected_components/pagerank above.
    """
    from bytesprocessor_spark.operators.caching import persist_intermediate

    e = persist_intermediate(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    )
    dist = (
        seeds.select(F.col(seed_col).alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("node"), F.lit(0).cast("int").alias("dist"))
    ).localCheckpoint()
    for level in range(1, max_depth + 1):
        frontier = dist.where(F.col("dist") == level - 1)
        # early exit: an empty frontier cannot add nodes at any later
        # level, so the remaining rounds would only pay job/checkpoint
        # overhead for identical results (the existence probe runs on
        # the already-checkpointed dist table — one cheap local scan)
        if frontier.isEmpty():
            break
        expanded = frontier.join(e, frontier.node == e.u).select(
            "seed", F.col("v").alias("node"), F.lit(level).cast("int").alias("dist")
        )
        dist = (
            dist.unionByName(expanded)
            .groupBy("seed", "node")
            .agg(F.min("dist").alias("dist"))
        ).localCheckpoint()
    return dist


def trade_pairs_packed(spark, sf_dir: str) -> DataFrame:
    """Session-memoized distinct (c, s) trading-pair table of the
    bipartite customer-supplier graph, nodes packed into longs
    (c = o_custkey*2, s = l_suppkey*2+1) — the base edge table of the
    trade-graph family: GR2 PageRank, GR4 BFS reach, GR5 degree
    histogram, GR17 double-sweep diameter, GR18 harmonic centrality.

    r11 optimization: each of those five entries used to run the
    corpus-scale lineitem ⋈ orders DISTINCT itself, so one session
    paid the same first shuffle five times.  At the design point the
    edge list is an ingest artifact persisted beside the corpus and
    read by every graph consumer; the memo reproduces that at-rest
    shape in-session (the supplier_pair_weights / shared_pairs_05
    device), so the build is paid once and every consumer starts from
    the checkpointed pair table."""
    from bytesprocessor_spark.operators.caching import memo
    from bytesprocessor_spark.sources.tables import load_table

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .select(
                (F.col("o_custkey") * 2).alias("c"),
                (F.col("l_suppkey") * 2 + 1).alias("s"),
            )
            .distinct()
        )

    return memo(spark, ("trade_pairs_packed", sf_dir), build)


def trade_edges_symmetric(spark, sf_dir: str) -> DataFrame:
    """Symmetrized (src, dst) edge view over :func:`trade_pairs_packed`
    — the traversal-ready form (both directions) the BFS/PageRank
    consumers join on; a cheap union of two selects over the
    checkpointed pair table."""
    eb = trade_pairs_packed(spark, sf_dir)
    return eb.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        eb.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


def supplier_pair_weights(spark, sf_dir: str) -> DataFrame:
    """Session-memoized supplier co-occurrence pair weights
    (a < b, w = co-order count) — the base table of the supplier-graph
    family (GR10 clustering coefficient, GR12 Jaccard link scores).
    At the design point this table is computed once at ingest and
    read by every graph consumer; the memo reproduces that at-rest
    shape in-session (the dedup family's shared_pairs_05 device),
    so the ~|orders|·k² enumeration is paid once, not per query."""
    from bytesprocessor_spark.operators.caching import memo
    from bytesprocessor_spark.sources.tables import load_table

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        os_ = li.select(
            F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
        ).distinct()
        a, b = os_.alias("a"), os_.alias("b")
        return (
            a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.s") < F.col("b.s")))
            .groupBy(F.col("a.s").alias("a"), F.col("b.s").alias("b"))
            .agg(F.count(F.lit(1)).cast("long").alias("w"))
        )

    return memo(spark, ("supplier_pair_weights", sf_dir), build)


def supplier_pair_ranks(spark, sf_dir: str) -> DataFrame:
    """Session-memoized (a, b, rk, n) weight-rank annotation of the
    supplier co-occurrence pair table, under the unique
    (w desc, a, b) order of the DISTRIBUTED rank device — the shared
    substrate BEHIND every rank-cut edge rule.  GR10's clustering
    coefficient cuts at ``rk * 10 <= n`` while the GR12 family cuts at
    ``rk <= greatest(n div 10, 10)``; memoizing the RANKED table (not
    a particular cut) lets each consumer apply its exact cut
    bit-identically while the 453k-row rank pass is paid once per
    session (r11: it billed ~2.5 s per consumer)."""
    from bytesprocessor_spark.operators.caching import memo
    from bytesprocessor_spark.operators.ranking import distributed_rank

    def build() -> DataFrame:
        pw = supplier_pair_weights(spark, sf_dir)
        return distributed_rank(
            pw,
            [F.col("w").desc(), F.col("a").asc(), F.col("b").asc()],
            rank_col="rk",
            total_col="n",
        ).select("a", "b", "rk", "n")

    return memo(spark, ("supplier_pair_ranks", sf_dir), build)


def supplier_strong_edges(spark, sf_dir: str) -> DataFrame:
    """Session-memoized strong-edge cut of the supplier co-occurrence
    graph: the top 10% of pairs by co-order weight (floor 10 edges),
    ranked by the DISTRIBUTED rank device over the unique
    (w desc, a, b) order — the GR12 edge discipline shared verbatim by
    graph_jaccard_linkpred, graph_rich_club and graph_ktruss.  Like
    the pair-weight substrate it sits on, the at-rest design-point
    shape is compute-once-at-ingest; the memo pays the rank cut once
    per session instead of once per consumer (r11: the cut billed
    ~2.5 s per entry on 453k pairs).  The cut is a filter over the
    shared :func:`supplier_pair_ranks` table, so GR10's different cut
    rule reuses the same rank pass."""
    from bytesprocessor_spark.operators.caching import memo

    def build() -> DataFrame:
        rkd = supplier_pair_ranks(spark, sf_dir)
        return rkd.where(
            F.col("rk") <= F.greatest(F.expr("n div 10"), F.lit(10))
        ).select("a", "b")

    return memo(spark, ("supplier_strong_edges", sf_dir), build)
