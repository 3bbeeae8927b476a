"""Focused twins for the round-12 optimization internals.

Same contract as tests/test_r11_opt.py: every optimization claims
BIT-IDENTICAL results to the shape it replaced; the oracle runs prove
that end-to-end, these tests pin the equivalence at the operator
level:

* graph_k_core's fixpoint exit must return exactly the table the
  full fixed-round peel returns (an unchanged edge count means an
  unchanged edge set, so remaining rounds are the identity);
* the session-memoized BPE trainer loop must return exactly what a
  fresh collect+loop returns, and learn/encode must share one memo
  (the memo's applicationId scoping is pinned in tests/test_caching.py).
"""

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_kcore_fixpoint_exit_equals_full_rounds(spark):
    # the registry module wires the cross-module import order; load it
    # first so importing queries_scale directly cannot go circular
    from bytesprocessor_spark.queries import _t  # noqa: F401  (ordering)
    from bytesprocessor_spark.operators.graph import supplier_pair_weights
    from bytesprocessor_spark.queries_scale import (
        _KCORE_K,
        _KCORE_ROUNDS,
        graph_k_core,
    )

    # inline full peel: ALL rounds, no early exit
    e = (
        supplier_pair_weights(spark, SF_DIR)
        .where(F.col("w") >= 2)
        .select("a", "b")
    ).localCheckpoint()
    for _ in range(_KCORE_ROUNDS):
        deg = (
            e.select(F.col("a").alias("z"))
            .unionAll(e.select(F.col("b").alias("z")))
            .groupBy("z")
            .agg(F.count("*").alias("d"))
        )
        alive = deg.where(F.col("d") >= _KCORE_K).select("z")
        e = (
            e.join(alive.withColumnRenamed("z", "a"), "a", "left_semi")
            .join(alive.withColumnRenamed("z", "b"), "b", "left_semi")
            .select("a", "b")
        ).localCheckpoint()
    full = (
        e.select(F.col("a").alias("z"))
        .unionAll(e.select(F.col("b").alias("z")))
        .groupBy("z")
        .agg(F.count("*").cast("long").alias("core_degree"))
        .where(F.col("core_degree") >= _KCORE_K)
        .select(F.col("z").alias("node"), "core_degree")
    )
    assert _rows(graph_k_core(spark, SF_DIR), ["node", "core_degree"]) == _rows(
        full, ["node", "core_degree"]
    )


def test_bpe_memoized_loop_equals_fresh_loop(spark):
    from bytesprocessor_spark.operators.bpe import (
        _bpe_local_loop,
        _bpe_loop_memoized,
    )
    from bytesprocessor_spark.queries import _t

    docs = _t(spark, SF_DIR, "documents")
    fresh = _bpe_local_loop(docs, 6, "text")
    via_memo = _bpe_loop_memoized(docs, 6, "text", (SF_DIR,))
    assert via_memo == fresh
    # learn and encode share ONE memo entry: the second call must
    # return the identical object, not a recomputation
    assert _bpe_loop_memoized(docs, 6, "text", (SF_DIR,)) is via_memo
    # memo_key=None keeps the per-call behavior
    assert _bpe_local_loop(docs, 6, "text") == fresh
