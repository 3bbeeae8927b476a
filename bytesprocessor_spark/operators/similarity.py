"""Similarity search over embedding columns (SURVEY §2.11 L3).

One top-k per index kind, each ending in the same per-query rank step
(:func:`operators.topk.top_k_per_group` over (sim DESC, vec_id)):

* :func:`brute_force_topk` — exact: broadcast the query batch against
  the corpus, self-norms computed once per row below the join.
* :func:`srp_topk_q` — SRP-LSH: integer-quantized random-hyperplane
  tags, candidates are the same-(table, bucket) pairs, exact
  fixed-point cosine per distinct pair.
* :func:`ivf_topk` — IVF: sampled-centroid Voronoi cells, probe the
  ``nprobe`` nearest per query; :func:`ivf_index_topk` probes the same
  index persisted hive-partitioned by cell.
* PQ-ADC lives in ``operators/pq.py`` (:func:`pq_adc_topk`).

The approximate kinds trade recall for a smaller scored pair space;
the quantized modes score on 1e-6 fixed-point vectors, so every sim is
bit-identical to the DuckDB oracle replay.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bytesprocessor_spark.functions.vectors import (
    cosine_pairs_udf,
    cosine_similarity,
    dot_product,
)
from bytesprocessor_spark.operators.topk import top_k_per_group


def _rank_topk(scored: DataFrame, k: int, keep_rank: bool = True) -> DataFrame:
    """The k best (query_id, vec_id, sim) per query by (sim DESC,
    vec_id), with the 1-based ``rank`` when ``keep_rank``."""
    out = top_k_per_group(
        scored, ["query_id"], k, F.col("sim").desc(), F.col("vec_id"),
        rank_col="rank", keep_rank=keep_rank,
    )
    return out.select("query_id", "vec_id", "sim", *(["rank"] if keep_rank else []))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbours per query.

    Plan: broadcast the (small) query set against the corpus — a
    broadcast nested-loop join whose pair projection computes only the
    dot product; each self-norm ``sqrt(dot(v, v))`` is computed once
    per corpus row and once per query, below the join (bit-identical
    to ``l2_norm``: the same double products, summed left to right).
    Per-query top-k by window rank.  The corpus is never shuffled, so
    this scales to any corpus size as long as the query batch fits in
    a broadcast (use :func:`srp_topk_q` or :func:`ivf_topk` otherwise).
    Output: (query_id, vec_id, sim, rank).
    """
    def normed(df: DataFrame, i: str, v: str, i_as: str, v_as: str) -> DataFrame:
        return df.select(F.col(i).alias(i_as), F.col(v).alias(v_as)).withColumn(
            v_as + "n", F.sqrt(dot_product(F.col(v_as), F.col(v_as)))
        )

    q = F.broadcast(normed(queries, query_id_col, query_vec_col, "query_id", "__qv"))
    c = normed(corpus, id_col, vec_col, "vec_id", "__cv")
    dot = dot_product(F.col("__qv"), F.col("__cv"))
    scored = (
        c.crossJoin(q)
        .where(F.col("query_id") != F.col("vec_id"))
        .withColumn("sim", dot / (F.col("__qvn") * F.col("__cvn")))
    )
    return _rank_topk(scored, k)


def sample_centroids(
    corpus: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: bool = False,
) -> list[list[float]]:
    """Deterministic sampled-centroid coarse quantizer for IVF: the
    ``n_cells`` lowest-id corpus vectors become the cell centroids
    (sampled centroids are a standard k-means-free coarse quantizer /
    k-means init; determinism keeps the index reproducible and
    oracle-checkable).  Only n_cells * dim floats ever reach the
    driver — the index itself (cell assignment) stays distributed."""
    v = F.col(vec_col)
    if quantize:
        v = F.transform(v, lambda x: F.round(x.cast("double") * 1000000.0))
    rows = (
        corpus.select(F.col(id_col).alias("id"), v.alias("v"))
        .orderBy("id")
        .limit(n_cells)
        .collect()
    )
    return [list(r["v"]) for r in rows]


def _cell_sims(vec_col, centroids: list[list[float]]):
    """array<double> of cosine(vec, centroid_i) — centroids are plan
    literals, so assignment is pure codegen: no join, no shuffle."""
    cents = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )
    return F.transform(cents, lambda c: cosine_similarity(vec_col, c))


def ivf_assign(vec_col, centroids: list[list[float]]):
    """1-based cell id = argmax cosine over the centroid list (ties ->
    lowest cell, matching ORDER BY sim DESC, cell ASC)."""
    sims = _cell_sims(vec_col, centroids)
    return F.array_position(sims, F.array_max(sims)).cast("int")


def ivf_assign_udf(centroids: list[list[float]], quantize: bool = False):
    """Vectorized IVF cell assignment: ONE Arrow-batched numpy GEMM
    against the [n_cells, dim] centroid matrix per row batch, then
    argmax cosine (numpy's first-max tie rule == the expression form's
    ORDER BY sim DESC, cell ASC).

    This is the corpus-side hot path: the expression form
    (:func:`ivf_assign`) folds 2*n_cells interpreted array HOFs per
    row, which dominates ivf_topk's runtime at n_cells=16/dim=64.
    With fixed-point inputs the GEMM is bit-identical to the
    expression/DuckDB form — every product and partial sum is an exact
    integer in float64 (so summation order can't matter) and the final
    sqrt/multiply/divide are single correctly-rounded IEEE ops."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from bytesprocessor_spark.functions.vectors import to_matrix

    # empty centroid list (empty corpus at sampling time): keep the
    # matrix 2-D so construction succeeds; the UDF then only ever sees
    # empty batches, which return before touching C
    C = np.array([[float(x) for x in c] for c in centroids], dtype=np.float64).reshape(
        len(centroids), len(centroids[0]) if centroids else 0
    )
    nC = np.sqrt(np.einsum("ij,ij->i", C, C))

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        import numpy as np

        if len(v) == 0:
            return pd.Series([], dtype="int32")
        V = to_matrix(v, quantize)
        nV = np.sqrt(np.einsum("ij,ij->i", V, V))
        S = (V @ C.T) / (nV[:, None] * nC[None, :])
        return pd.Series((S.argmax(axis=1) + 1).astype("int32"))

    return _assign


def ivf_probe_cells(vec_col, centroids: list[list[float]], nprobe: int):
    """The ``nprobe`` nearest cells for a query vector, as an
    array<int> — array_sort on (-sim, cell) structs then slice, all
    JVM-side (sorting
    n_cells elements per query row, no shuffle)."""
    sims = _cell_sims(vec_col, centroids)
    ranked = F.array_sort(
        F.zip_with(
            sims,
            F.sequence(F.lit(1), F.lit(len(centroids))),
            lambda s, i: F.struct((-s).alias("neg"), i.cast("int").alias("cell")),
        )
    )
    return F.transform(F.slice(ranked, 1, nprobe), lambda p: p["cell"])


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    quantize: bool = False,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    ``n_cells`` Voronoi cells around sampled centroids, probe only the
    ``nprobe`` nearest cells per query, rank exact cosine within the
    probed subset.

    Plan shape at scale: cell assignment is map-only (one Arrow GEMM
    per batch, :func:`ivf_assign_udf`); the probe is an equi-join on
    the int cell id — so the corpus shuffles once on a low-cardinality
    key whose fan-out nprobe/n_cells bounds the scored fraction.  In a
    persisted deployment the assignment is computed once at ingest and
    the corpus is bucketed/partitioned BY cell, making the probe a
    pruned scan with no shuffle at all (:func:`ivf_index_topk`).

    ``quantize`` fixed-points the vectors (1e-6) so every score is
    bit-identical across engines — the oracle-gate mode.  The corpus
    side is quantized INSIDE the Arrow batches (``ivf_assign_udf``'s
    GEMM and the per-side flag of ``cosine_pairs_udf``), never via an
    interpreted ``F.transform`` over every corpus row — the r11
    optimization that removed the corpus-wide higher-order function
    from the hot path (guide §4.2); only the k-row query side keeps
    the expression form, which ``ivf_probe_cells`` needs.  Rounding is
    identical in both forms, so scores are bit-for-bit unchanged.
    Pass ``centroids`` (matching the quantize mode) to skip the
    sampling job on repeated calls against the same corpus.
    Output: (query_id, vec_id, sim, rank).
    """
    qv = F.col(query_vec_col)
    if quantize:
        qv = F.transform(qv, lambda x: F.round(x.cast("double") * 1000000.0))
    if centroids is None:
        centroids = sample_centroids(
            corpus, n_cells, id_col=id_col, vec_col=vec_col, quantize=quantize
        )
    # corpus vectors stay RAW in the plan; the assignment GEMM and the
    # pair cosine quantize them batch-wise when quantize=True.  __qv is
    # already in final form, so its side must not re-quantize.
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("__cv"),
    ).withColumn("cell", ivf_assign_udf(centroids, quantize=quantize)(F.col("__cv")))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        qv.alias("__qv"),
    ).withColumn(
        "cell", F.explode(ivf_probe_cells(F.col("__qv"), centroids, nprobe))
    )
    cand = c.join(F.broadcast(q), "cell").where(F.col("query_id") != F.col("vec_id"))
    scored = cand.withColumn(
        "sim",
        cosine_pairs_udf(False, quantize)(F.col("__qv"), F.col("__cv")),
    )
    return _rank_topk(scored, k)


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane from a counter
    hash, computed on the driver (:func:`srp_planes_q` fixed-points
    it)."""
    import hashlib

    vals = []
    for j in range(dim):
        h = hashlib.md5(f"{seed}:{j}".encode()).hexdigest()
        vals.append((int(h[:8], 16) / 0x7FFFFFFF) - 1.0)
    return vals


def srp_planes_q(dim: int, n_planes: int, n_tables: int, seed: int = 42) -> list[list[list[int]]]:
    """Integer-quantized (x1e6) SRP hyperplanes, indexed [table][plane].

    Integer components are the cross-engine determinism trick: with
    vectors also quantized to exact-integer doubles, every dot-product
    term (<2^40) and partial sum (<2^53) is exactly representable, so
    the SIGN of the projection — hence the bucket id — is bit-identical
    in any engine that evaluates the same literals (the DuckDB oracle
    re-derives the planes from this same function)."""
    return [
        [
            [int(round(v * 1e6)) for v in _hyperplane(dim, seed * 1_000_000 + t * 1000 + p)]
            for p in range(n_planes)
        ]
        for t in range(n_tables)
    ]


def srp_candidate_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 10,
    seed: int = 42,
) -> DataFrame:
    """SRP-LSH candidate-pair proposal for near-dup dedup: the scale
    path that replaces the O(n²) pair scan with a bucket equi-join.

    Each row is tagged with ``n_tables`` (table, bucket) keys — bucket =
    sign bits of ``n_planes`` integer-quantized hyperplane projections
    (:func:`srp_planes_q`) — then same-key rows self-join.  One shuffle
    on (tbl, bkt); candidate count shrinks ~2**n_planes-fold per table;
    recall follows 1-(1-p^planes)^tables with p = 1 - theta/pi, so it
    is high precisely in the regime dedup cares about (true duplicates,
    cosine >= ~0.8) and the parameters trade it against candidate
    volume for borderline pairs.

    All bucket math is one Arrow-batched integer GEMM per row batch —
    exact-integer arithmetic, so the candidate set — hence anything
    verified from it — is deterministic and engine-independent.
    Returns distinct (id_a, id_b), id_a < id_b.
    """
    tagged = srp_tag_table(df, id_col, vec_col, dim, n_planes, n_tables, seed)
    a = tagged.select(F.col("id").alias("id_a"), "tbl", "bkt")
    b = tagged.select(F.col("id").alias("id_b"), "tbl", "bkt")
    return (
        a.join(b, ["tbl", "bkt"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def srp_tag_table(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int,
) -> DataFrame:
    """(id, tbl, bkt) tag table: one row per (vector, hash table),
    bucket = packed sign bits of the integer-quantized hyperplane
    projections.  One Arrow-batched GEMM against the
    [tables*planes, dim] plane matrix computes every sign bit at once.
    (Expression-tree forms — one giant array-of-structs or per-table
    unrolled scalar chains — were measured to blow up Janino
    compilation at dim 64.)  Exact-integer arithmetic keeps the tags
    engine-independent (the DuckDB oracles re-derive the same planes
    via :func:`srp_planes_q`)."""
    from pyspark.sql.functions import pandas_udf

    from bytesprocessor_spark.functions.vectors import to_matrix

    planes = srp_planes_q(dim, n_planes, n_tables, seed)

    @pandas_udf("array<long>")
    def _tags(v: pd.Series) -> pd.Series:
        import numpy as np

        if len(v) == 0:
            return pd.Series([], dtype="object")
        P = np.array(planes, dtype=np.float64)  # [T, PL, D], exact ints
        Q = to_matrix(v, quantize=True)  # [n, D], exact ints
        dots = np.einsum("nd,tpd->ntp", Q, P)  # exact-integer doubles
        bkts = ((dots > 0).astype(np.int64) * (1 << np.arange(P.shape[1]))).sum(axis=2)
        return pd.Series(list(bkts))

    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_tags(F.col(vec_col))).alias("tbl", "bkt"),
    )


def srp_topk_q(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Quantized-SRP approximate top-k: both sides are tagged with the
    same integer hyperplanes (:func:`srp_tag_table`), candidates are
    the same-(table, bucket) pairs, scored ONCE per distinct pair with
    the exact fixed-point cosine — fully deterministic and
    engine-independent, so the DuckDB oracle replays it exactly.

    One shuffle on (tbl, bkt), one on the distinct pair key; the pair
    space shrinks ~2**n_planes-fold per table.  Both sides stay RAW in
    the plan: the tag GEMM and the pair cosine each quantize inside
    their Arrow batches, with no per-row higher-order function.  Output:
    (query_id, vec_id, sim) — sim on 1e-6 fixed-point vectors."""
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__cv"))
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("__qv"))
    ctag = srp_tag_table(corpus, id_col, vec_col, dim, n_planes, n_tables, seed)
    qtag = srp_tag_table(queries, query_id_col, query_vec_col, dim, n_planes, n_tables, seed)
    cand = (
        ctag.select(F.col("id").alias("vec_id"), "tbl", "bkt")
        .join(qtag.select(F.col("id").alias("query_id"), "tbl", "bkt"), ["tbl", "bkt"])
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    paired = cand.join(c, "vec_id").join(q, "query_id")
    scored = paired.withColumn(
        "sim", cosine_pairs_udf(True)(F.col("__qv"), F.col("__cv"))
    )
    return _rank_topk(scored, k, keep_rank=False)


# ---------------------------------------------------------------------------
# Persisted IVF index: the at-rest layout ivf_topk's docstring promises
# ---------------------------------------------------------------------------

def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
    quantize: bool = False,
) -> list[list[float]]:
    """Materialize an IVF index on disk: the corpus written
    hive-partitioned BY Voronoi cell (`cell=<i>/` directories), plus
    the centroid table under the underscore-prefixed `_centroids`
    subdirectory (invisible to plain parquet readers of ``path``).

    Assignment is computed ONCE here, at ingest; every subsequent probe
    is a partition-PRUNED scan — the nprobe/n_cells fraction of the
    corpus is the only data that leaves storage, with no shuffle and no
    per-query assignment work.  At 100 TB, size n_cells so one cell is
    a few hundred MB (sqrt(N) cells is the classic heuristic) and this
    layout turns ANN search into ordinary pruned columnar scans.
    Returns the centroids (also persisted).

    ``quantize`` stores the vectors 1e-6 fixed-pointed (and samples
    quantized centroids) so every probe score is exact-integer
    arithmetic — the oracle-checkable index mode (cosine is scale
    invariant, so ranking is unchanged up to the quantization step).
    """
    if quantize:
        corpus = corpus.withColumn(
            vec_col, F.transform(vec_col, lambda x: F.round(x.cast("double") * 1000000.0))
        )
    centroids = sample_centroids(corpus, n_cells, id_col=id_col, vec_col=vec_col)
    assigned = corpus.withColumn("cell", ivf_assign_udf(centroids)(F.col(vec_col)))
    # cluster rows by cell before the partitioned write: without this
    # every write task emits a file into every cell directory
    # (tasks x cells tiny files — slow to write, slower to probe).
    # Hash-repartitioning on the partition column gives one file per
    # cell here; at real scale raise the factor (repartition(N, cell))
    # so each cell gets a few hundred-MB files.
    assigned.repartition(n_cells, "cell").write.mode(mode).partitionBy("cell").parquet(path)
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], "cell int, centroid array<double>"
    ).coalesce(1).write.mode(mode).parquet(f"{path}/_centroids")
    return centroids


def load_ivf_centroids(spark, path: str) -> list[list[float]]:
    rows = spark.read.parquet(f"{path}/_centroids").collect()
    return [r.centroid for r in sorted(rows, key=lambda r: r.cell)]


def ivf_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    quantize: bool = False,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Probe a persisted IVF index.  The probed cell ids are collected
    first (bounded by n_cells — a handful of ints, never the data) and
    pushed as a STATIC `cell IN (...)` partition filter, so the scan
    reads only the probed directories (`PartitionFilters` in the plan —
    gated by tests/test_similarity.py); the per-cell candidate join is
    then a broadcast of the query batch, corpus never shuffles.

    ``quantize`` must match the flag the index was built with: the
    stored vectors/centroids are already fixed-pointed, so only the
    query side is quantized here.

    ``centroids``: pass the handle ``build_ivf_index`` returned (or a
    prior ``load_ivf_centroids``) to skip the per-probe sidecar read —
    the serving shape, where the index handle is opened once and
    probed many times (VERDICT r6 #3)."""
    if centroids is None:
        centroids = load_ivf_centroids(spark, path)
    qv = F.col(query_vec_col)
    if quantize:
        qv = F.transform(qv, lambda x: F.round(x.cast("double") * 1000000.0))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), qv.alias("__qv")
    ).withColumn("cell", F.explode(ivf_probe_cells(F.col("__qv"), centroids, nprobe)))
    probe_cells = sorted({r.cell for r in q.select("cell").distinct().collect()})
    corpus = (
        spark.read.parquet(path)
        .where(F.col("cell").isin(probe_cells))
        .select("cell", F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__cv"))
    )
    cand = corpus.join(F.broadcast(q), "cell").where(F.col("query_id") != F.col("vec_id"))
    scored = cand.withColumn(
        "sim", cosine_pairs_udf(False)(F.col("__qv"), F.col("__cv"))
    )
    return _rank_topk(scored, k)


def ivf_index_add(
    delta: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: bool = False,
) -> DataFrame:
    """Admit a delta batch into a persisted IVF index WITHOUT a
    rebuild — the index-maintenance sibling of the near-dup admission
    gate (a 100 TB index is built once at ingest; every subsequent
    batch appends).

    The stored `_centroids` table (driver-side KBs) defines the
    Voronoi geometry; delta vectors are assigned with the same
    argmax-cosine rule the build used and APPENDED into the existing
    `cell=<i>/` directories (partitioned append — only the touched
    cell directories gain files; resident data is never rewritten,
    probes keep pruning on the same partition filter and see old and
    new rows alike).  Returns the per-cell admission audit
    (cell, n_added) so the operator's cost and balance are observable.

    ``quantize`` must match the build flag.  Centroids are NOT
    updated — standard IVF practice (the geometry drifts only when the
    distribution does, at which point you re-train; admission is the
    hot path)."""
    spark = delta.sparkSession
    if quantize:
        delta = delta.withColumn(
            vec_col, F.transform(vec_col, lambda x: F.round(x.cast("double") * 1000000.0))
        )
    centroids = load_ivf_centroids(spark, path)
    assigned = delta.withColumn("cell", ivf_assign_udf(centroids)(F.col(vec_col)))
    n_cells = len(centroids)
    (
        assigned.repartition(n_cells, "cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(path)
    )
    return (
        assigned.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_added"))
        .orderBy("cell")
    )
