"""Similarity-search operators (SURVEY §2.11 L3): brute-force exactness
on a constructed geometry + IVF and SRP-LSH recall against brute force
on real embeddings."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bytesprocessor_spark.operators.similarity import brute_force_topk
from tests.conftest import SF_DIR

VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.0]),   # closest to 0
    (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
    (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
    (4, [0.7, 0.7, 0.0, 0.0]),   # between 0 and 2
]


@pytest.fixture(scope="module")
def vecs_df(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def test_brute_force_topk_geometry(vecs_df):
    q = vecs_df.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(vecs_df, q, k=4).orderBy("rank").collect()
    assert [r.vec_id for r in out] == [1, 4, 2, 3]
    assert out[0].sim == pytest.approx(0.9 / math.sqrt(0.81 + 0.01), rel=1e-6)
    assert out[2].sim == pytest.approx(0.0, abs=1e-9)
    assert out[3].sim == pytest.approx(-1.0, rel=1e-6)


def test_ivf_topk_geometry(vecs_df):
    """With 2 cells seeded from ids {0,1} (both near +x), every +x-side
    vector lands in a probed cell; probing both cells makes IVF exact."""
    from bytesprocessor_spark.operators.similarity import ivf_topk

    q = vecs_df.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(vecs_df, q, n_cells=2, nprobe=2, k=4).orderBy("rank").collect()
    exact = brute_force_topk(vecs_df, q, k=4).orderBy("rank").collect()
    assert [r.vec_id for r in out] == [r.vec_id for r in exact]
    assert out[0].sim == pytest.approx(exact[0].sim, rel=1e-9)


def test_ivf_results_come_from_probed_cells(spark):
    """Every IVF hit must be assigned to one of its query's probed
    cells — the defining invariant of the inverted-file index."""
    from bytesprocessor_spark.operators.similarity import (
        ivf_assign, ivf_probe_cells, ivf_topk, sample_centroids,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = sample_centroids(emb, 16)
    hits = ivf_topk(emb, q, n_cells=16, nprobe=4, k=5).collect()
    assert {r.query_id for r in hits} == set(range(10))
    cell_of = {
        r.vec_id: r.cell
        for r in emb.select("vec_id", ivf_assign(F.col("embedding"), cents).alias("cell")).collect()
    }
    probes = {
        r.query_id: set(r.cells)
        for r in q.select(
            "query_id", ivf_probe_cells(F.col("embedding"), cents, 4).alias("cells")
        ).collect()
    }
    for r in hits:
        assert cell_of[r.vec_id] in probes[r.query_id]


def test_ivf_recall_vs_brute_force(spark):
    """Probing 4/16 cells of near-orthogonal data is a weak filter, but
    recall must still beat the 25% random-subset floor."""
    from bytesprocessor_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r.query_id, r.vec_id) for r in brute_force_topk(emb, q, k=5).collect()}
    approx = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb, q, n_cells=16, nprobe=4, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.25, f"IVF recall below random-subset floor: {recall}"


def test_persisted_ivf_index_prunes_partitions(spark, tmp_path):
    """build_ivf_index -> hive-partitioned-by-cell layout; probing it
    returns exactly the in-memory ivf_topk results AND the scan reads
    only the probed cell directories (static partition pruning)."""
    from bytesprocessor_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_topk,
        ivf_topk,
    )
    from bytesprocessor_spark.plans.explain import executed_plan
    from bytesprocessor_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding").limit(5)
    path = str(tmp_path / "ivf_idx")
    build_ivf_index(emb, path, n_cells=8)

    got = ivf_index_topk(spark, path, queries, nprobe=3, k=5)
    expected = ivf_topk(emb, queries, n_cells=8, nprobe=3, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))

    plan = executed_plan(got)
    assert "PartitionFilters" in plan and "cell" in plan
    # the index directory really is hive-partitioned by cell
    import os

    cells = [d for d in os.listdir(path) if d.startswith("cell=")]
    assert 1 < len(cells) <= 8


def test_srp_topk_q_recall_and_exact_sims(spark):
    """The quantized (oracle-checkable) SRP top-k: recall vs brute
    force meets the >= 0.5 floor (4 planes x 8 tables, a 2^8-bucket
    split of 500 vectors), and every reported sim equals the
    brute-force cosine on the same quantized vectors (the prefilter
    only restricts candidates — it never perturbs scores)."""
    from bytesprocessor_spark.operators.similarity import srp_topk_q

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    quant = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: F.round(x.cast("double") * 1000000.0)).alias(
            "embedding"
        ),
    )
    q = emb.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("query_id"), "embedding")
    qq = quant.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id): r.sim
        for r in brute_force_topk(quant, qq, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id): r.sim
        for r in srp_topk_q(emb, q, dim=64, k=5, n_planes=4, n_tables=8).collect()
    }
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.5, f"quantized SRP recall too low: {recall}"
    for pair in set(exact) & set(approx):
        assert abs(exact[pair] - approx[pair]) < 1e-9


def test_ivf_index_add_appends_without_rebuild(spark, tmp_path):
    """Incremental index admission: delta rows land in the correct
    cell directories under the FROZEN centroid geometry, resident
    rows are untouched, and a probe finds an added exact-duplicate
    vector as its query's top hit."""
    from pyspark.sql import functions as F

    from bytesprocessor_spark.operators.similarity import (
        ivf_assign_udf,
        ivf_index_add,
        ivf_index_topk,
        build_ivf_index,
        load_ivf_centroids,
    )
    from bytesprocessor_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.where(F.col("vec_id") % 2 == 0)
    delta = emb.where(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, path, n_cells=8)
    n_base_files = {
        r.vec_id for r in spark.read.parquet(path).select("vec_id").collect()
    }

    audit = ivf_index_add(delta, path).collect()
    assert sum(r.n_added for r in audit) == delta.count()

    # every row (resident + admitted) sits in the cell the frozen
    # centroids assign it to
    cents = load_ivf_centroids(spark, path)
    stored = spark.read.parquet(path)
    expected = delta.unionByName(base).withColumn(
        "want_cell", ivf_assign_udf(cents)(F.col("embedding"))
    )
    j = stored.join(expected.select("vec_id", "want_cell"), "vec_id")
    assert j.where(F.col("cell") != F.col("want_cell")).count() == 0
    assert stored.count() == emb.count()
    assert n_base_files <= {r.vec_id for r in stored.select("vec_id").collect()}

    # probe sees the admitted rows: an odd vec is its own duplicate --
    # query with a delta vector's embedding, expect itself as top hit
    q = delta.where(F.col("vec_id") == 1).select(
        F.lit(-1).cast("long").alias("query_id"), "embedding"
    )
    top = ivf_index_topk(spark, path, q, nprobe=2, k=1).collect()
    assert top and top[0].vec_id == 1 and top[0].sim > 0.999999


def test_whiten_embeddings_identity_covariance(spark):
    """The algebraic contract: the whitened corpus has (near-)identity
    covariance and exactly preserved row count/width."""
    import numpy as np
    from pyspark.sql import functions as F

    from bytesprocessor_spark.functions.vectors import whiten_embeddings
    from bytesprocessor_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").limit(300)
    out = whiten_embeddings(emb)
    mat = np.vstack([r.embedding for r in out.select("embedding").collect()])
    assert mat.shape == (300, 64)
    cov = np.cov(mat, rowvar=False, bias=True)
    # eps regularization keeps eigenvalues just below 1; everything
    # off-diagonal collapses
    assert np.abs(cov - np.eye(64)).max() < 0.05
    assert np.abs(np.diag(cov) - 1.0).max() < 0.05
