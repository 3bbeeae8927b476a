"""Product quantization ANN (Jégou/Douze/Schmid, TPAMI 2011) —
PQ encode + asymmetric distance computation (ADC) top-k as DataFrame
ops with exact integer arithmetic.

The memory story: a d-dim float32 vector (256 B at d=64) compresses to
m sub-codes (m=8 bytes here) — the difference between an ANN index
that fits executor RAM at 100 TB corpus scale and one that doesn't.

  * Codebook: per subspace, the sub-vectors of the ``k_c`` lowest
    vec_ids (deterministic sampling init — the same policy as the IVF
    coarse quantizer; `embedding_kmeans` is the refinement trainer
    when codebook quality matters).
  * Encode: per (vector, subspace) argmin over the k_c centroids of
    the exact integer squared distance, one Arrow-batched numpy pass
    per row batch against the k_c-row codebook sample
    (:func:`pq_encode_udf`); nothing about the corpus shuffles.
    :func:`pq_encode` computes the same argmin as a broadcast-codebook
    expression — the SQL-replayable reference.
  * ADC query: each query precomputes its m x k_c distance table
    (tiny: queries x m x k_c rows, broadcast), the corpus codes join
    it on (subspace, code), and one partial-agg shuffle sums the m
    lookups into the approximate distance; top-k per query by
    (distance, vec_id).

Everything quantizes to integer micro-units first: squared distances
are exact 64-bit sums, so encode and ranking are bit-identical in any
engine and under any reduction order (the DuckDB oracle replays the
identical algorithm).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bytesprocessor_spark.functions.vectors import (
    quantize_micro as _quant,
    sq_dist_q as _sq_dist,
    to_matrix,
)
from bytesprocessor_spark.operators.topk import top_k_per_group


def pq_codebook(emb: DataFrame, m: int, k_c: int, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """One row per subspace j: an ordered array of the k_c centroid
    sub-vectors (quantized).  Deterministic: centroids come from the
    k_c lowest ids, ordered by id."""
    from bytesprocessor_spark.operators.ranking import bounded_single_group

    base = bounded_single_group(
        emb.orderBy(id_col)
        .limit(k_c)
        .select(F.col(id_col).alias("_cid_src"), _quant(F.col(vec_col)).alias("v"))
    )  # LIMIT-bounded (k_c rows)
    w = Window.partitionBy("__opid").orderBy("_cid_src")
    numbered = base.select((F.row_number().over(w) - 1).alias("c"), "v")
    dim_per = F.floor(F.size("v") / m).cast("int")
    sub = numbered.select(
        "c",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.struct(
                    j.alias("j"),
                    F.slice("v", j * dim_per + 1, dim_per).alias("cv"),
                ),
            )
        ).alias("s"),
    ).select(F.col("s.j").alias("j"), "c", F.col("s.cv").alias("cv"))
    return sub.groupBy("j").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("c", "cv"))), lambda st: st["cv"]
        ).alias("cents")
    )


def _subvectors(df: DataFrame, m: int, id_alias: str, id_col: str,
                vec_col: str) -> DataFrame:
    """(id, j, sv): the m quantized sub-vectors of each vector."""
    v = _quant(F.col(vec_col))
    dim_per = F.floor(F.size(v) / m).cast("int")
    return df.select(
        F.col(id_col).alias(id_alias),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.struct(
                    j.alias("j"), F.slice(v, j * dim_per + 1, dim_per).alias("sv")
                ),
            )
        ).alias("s"),
    ).select(id_alias, F.col("s.j").alias("j"), F.col("s.sv").alias("sv"))


def pq_encode(emb: DataFrame, codebook: DataFrame, m: int,
              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(vec_id, j, code): nearest-centroid sub-code per subspace.
    Codebook broadcasts; the argmin is a single array expression —
    encoding never shuffles the corpus."""
    sub = _subvectors(emb, m, id_col, id_col, vec_col)
    joined = sub.join(F.broadcast(codebook), "j")
    # argmin over the centroid array: fold to struct(best_dist, code)
    best = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.size("cents") - 1),
            lambda c: F.struct(
                _sq_dist(F.col("sv"), F.element_at("cents", c + 1)).alias("d"),
                c.alias("c"),
            ),
        ),
        F.struct(
            F.lit(None).cast("long").alias("d"), F.lit(-1).cast("int").alias("c")
        ),
        lambda acc, x: F.when(
            acc["d"].isNull() | (x["d"] < acc["d"]), x
        ).otherwise(acc),
    )
    return joined.select(id_col, "j", best["c"].alias("code"))


def pq_codebook_arrays(emb: DataFrame, m: int, k_c: int,
                       id_col: str = "vec_id", vec_col: str = "embedding"):
    """The codebook as a numpy [m, k_c, dim/m] int64 array — from a
    BOUNDED collect of the k_c sampled base vectors (k_c rows; same
    budget as the IVF centroid sidecar)."""
    import numpy as np

    rows = (
        emb.orderBy(id_col)
        .limit(k_c)
        .select(_quant(F.col(vec_col)).alias("v"))
        .collect()
    )
    base = np.array([r["v"] for r in rows], dtype=np.int64)  # [k_c, dim]
    dim = base.shape[1]
    if dim % m != 0:
        raise ValueError(
            f"PQ requires dim divisible by m: dim={dim}, m={m} "
            f"(the expression path would silently drop {dim % m} trailing dims)"
        )
    dp = dim // m
    # [m, k_c, dp]: subspace j holds every centroid's j-th sub-vector
    return np.stack([base[:, j * dp : (j + 1) * dp] for j in range(m)])


def pq_encode_udf(emb: DataFrame, cb_arrays, m: int,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(vec_id, j, code) via ONE Arrow-batched numpy pass: per batch,
    squared distances to all m*k_c centroids in one einsum each — the
    corpus-side hot path (the expression form folds m*k_c interpreted
    array HOFs per row; same bit-identical-integer argument as
    similarity.ivf_assign_udf, and numpy argmin's first-min tie rule
    == the expression fold's strict-< keep-first)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = cb_arrays.astype(np.float64)  # [m, k_c, dp]; ints exact in f64

    @pandas_udf("array<int>")
    def _codes(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        # round-half-away (to_matrix), NOT np.round: numpy's
        # half-to-even would diverge from F.round/DuckDB on exact .5
        # products (e.g. 0.0078125 * 1e6)
        Vq = to_matrix(v, quantize=True)
        n, dim = Vq.shape
        m_, k_c, dp = C.shape
        S = Vq.reshape(n, m_, dp)  # [n, m, dp]
        # dists[n, m, k_c] = sum_dp (S - C)^2 — every term/partial sum
        # an exact integer below 2^53
        d = (
            np.einsum("nmd,nmd->nm", S, S)[:, :, None]
            - 2.0 * np.einsum("nmd,mkd->nmk", S, C)
            + np.einsum("mkd,mkd->mk", C, C)[None, :, :]
        )
        codes = d.argmin(axis=2).astype("int32")  # first-min == lowest c
        return pd.Series(list(codes))

    coded = emb.select(F.col(id_col), _codes(F.col(vec_col)).alias("codes"))
    return coded.select(id_col, F.posexplode("codes").alias("j", "code"))


def pq_adc_topk(emb: DataFrame, queries: DataFrame, m: int = 8, k_c: int = 16,
                k: int = 5, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """(query_id, vec_id, adist, rank): approximate k nearest
    neighbors of each query by PQ-ADC squared distance (exact integer
    micro-units²).  Self-matches are excluded.  The corpus is encoded
    by the numpy pass (:func:`pq_encode_udf`; :func:`pq_encode` is its
    bit-identical SQL-replayable reference)."""
    cb = pq_codebook(emb, m, k_c, id_col, vec_col)
    # pq_codebook_arrays validates dim % m == 0 (free: it already
    # collects the bounded codebook sample)
    codes = pq_encode_udf(
        emb, pq_codebook_arrays(emb, m, k_c, id_col, vec_col), m, id_col, vec_col
    )
    qsub = _subvectors(queries, m, "query_id", id_col, vec_col)
    dtab = (
        qsub.join(F.broadcast(cb), "j")
        .select(
            "query_id",
            "j",
            F.posexplode(
                F.transform(
                    "cents", lambda cv: _sq_dist(F.col("sv"), cv)
                )
            ).alias("c", "d"),
        )
    )
    scored = (
        codes.join(
            F.broadcast(dtab),
            (codes["j"] == dtab["j"]) & (codes["code"] == dtab["c"]),
        )
        .groupBy("query_id", id_col)
        .agg(F.sum("d").alias("adist"))
        .where(F.col("query_id") != F.col(id_col))
    )
    return top_k_per_group(
        scored, ["query_id"], k, F.col("adist"), F.col(id_col),
        rank_col="rank", keep_rank=True,
    ).select("query_id", id_col, "adist", "rank")
