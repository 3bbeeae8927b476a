"""Focused twins for the round-11 optimization internals.

Each optimization this round claims BIT-IDENTICAL results to the
shape it replaced; the oracle runs prove that end-to-end, and these
tests pin the equivalence at the operator level so a future
refactor of the internals cannot silently drift:

* the session-memoized ``supplier_pair_ranks`` table must reproduce
  BOTH consumer cut rules exactly as an inline distributed rank
  would (GR10's ``rk*10 <= n`` has no floor; the GR12 family floors
  at 10 edges);
* the max-of-struct argmax that replaced similarity_reciprocal_nn's
  row_number window must pick exactly the (sim DESC, nbr ASC)
  rank-1 row, ties and all;
* the memoized eval-audit substrates must equal the operator plans
  they snapshot (exact top-k, ranked SRP top-k, kNN propagation);
* ``spread_scan`` must be a value-level identity (a pure exchange)
  and a plan-level no-op when the source is already wide;
* the unrolled 5-class when-chains in eval_topk_accuracy /
  eval_mcc_multiclass must reproduce the interpreted higher-order
  forms they replaced, hash for hash, tie for tie.
"""

from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_supplier_pair_ranks_reproduces_both_cut_rules(spark):
    from bytesprocessor_spark.operators.graph import (
        supplier_pair_ranks,
        supplier_pair_weights,
        supplier_strong_edges,
    )
    from bytesprocessor_spark.operators.ranking import distributed_rank

    inline = distributed_rank(
        supplier_pair_weights(spark, SF_DIR),
        [F.col("w").desc(), F.col("a").asc(), F.col("b").asc()],
        rank_col="rk",
        total_col="n",
    )
    memo = supplier_pair_ranks(spark, SF_DIR)

    # GR12 family cut (floor 10) — via the memoized strong-edge table
    inline_strong = inline.where(
        F.col("rk") <= F.greatest(F.expr("n div 10"), F.lit(10))
    )
    assert _rows(supplier_strong_edges(spark, SF_DIR), ["a", "b"]) == _rows(
        inline_strong, ["a", "b"]
    )

    # GR10 cut (no floor) — applied by the consumer on the memo
    assert _rows(memo.where(F.col("rk") * 10 <= F.col("n")), ["a", "b"]) == _rows(
        inline.where(F.col("rk") * 10 <= F.col("n")), ["a", "b"]
    )


def test_max_struct_argmax_equals_window_rank1(spark):
    # ties on sim MUST resolve to the smallest neighbor id, exactly as
    # row_number over (sim DESC, nbr ASC) did
    rows = [
        (1, 10, 0.5),
        (1, 7, 0.5),   # tie on sim -> nbr 7 wins
        (1, 3, 0.4),
        (2, 9, -1.0),
        (2, 4, -0.5),  # single max
        (3, 8, 0.0),   # lone row
    ]
    sym = spark.createDataFrame(rows, "id long, nbr long, sim double")
    w = Window.partitionBy("id").orderBy(F.col("sim").desc(), F.col("nbr"))
    via_window = (
        sym.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("id", "nbr", "sim")
    )
    via_agg = (
        sym.groupBy("id")
        .agg(F.max(F.struct(F.col("sim"), (-F.col("nbr")).alias("mnbr"))).alias("m"))
        .select("id", (-F.col("m.mnbr")).alias("nbr"), F.col("m.sim").alias("sim"))
    )
    assert _rows(via_agg, ["id", "nbr", "sim"]) == _rows(
        via_window, ["id", "nbr", "sim"]
    )


def test_eval_memo_tables_equal_operator_plans(spark):
    # the registry module wires the cross-module import order; load it
    # first so importing queries_eval directly cannot go circular
    from bytesprocessor_spark.queries import _t  # noqa: F401  (ordering)
    from bytesprocessor_spark.queries_eval import (
        _exact_topk_table,
        _srp_topk_table,
        eval_knn_label_prop,
    )
    from bytesprocessor_spark.operators.caching import memo
    from bytesprocessor_spark.operators.similarity import srp_topk_q
    from bytesprocessor_spark.queries_llm import _SRP_TOPK, similarity_topk

    assert _rows(
        _exact_topk_table(spark, SF_DIR), ["query_id", "vec_id", "sim"]
    ) == _rows(similarity_topk(spark, SF_DIR), ["query_id", "vec_id", "sim"])

    emb = _t(spark, SF_DIR, "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "vec_id")
    inline_srp = (
        srp_topk_q(emb, q, k=5, **_SRP_TOPK)
        .withColumn("rk", F.row_number().over(wq))
        .select("query_id", "vec_id", "rk")
    )
    assert _rows(
        _srp_topk_table(spark, SF_DIR), ["query_id", "vec_id", "rk"]
    ) == _rows(inline_srp, ["query_id", "vec_id", "rk"])

    prop_memo = memo(
        spark, ("eval_knn_prop", SF_DIR), lambda: eval_knn_label_prop(spark, SF_DIR)
    )
    cols = ["vec_id", "pred_label", "votes", "n_neighbors", "true_label", "is_correct"]
    assert _rows(prop_memo, cols) == _rows(eval_knn_label_prop(spark, SF_DIR), cols)


def test_lpa_label_memo_equals_inline_trajectory(spark):
    # the memoized (z, lbl) assignment must equal a from-scratch
    # 3-round synchronous LPA over the same edge table, tie-break and
    # all — the equivalence graph_lpa_communities/graph_modularity
    # now both depend on
    from bytesprocessor_spark.queries_r7 import _LPA_ITERS, lpa_edges, lpa_run

    e0 = lpa_edges(spark, SF_DIR)
    labels = (
        e0.select(F.col("a").alias("z"))
        .union(e0.select(F.col("b").alias("z")))
        .distinct()
        .select("z", F.col("z").alias("lbl"))
    )
    for _ in range(_LPA_ITERS):
        nbr = (
            e0.join(labels.withColumnRenamed("z", "b"), "b")
            .select(F.col("a").alias("z"), "lbl")
            .union(
                e0.join(labels.withColumnRenamed("z", "a"), "a").select(
                    F.col("b").alias("z"), "lbl"
                )
            )
        )
        counts = nbr.groupBy("z", "lbl").agg(F.count(F.lit(1)).alias("cnt"))
        labels = counts.groupBy("z").agg(
            F.expr("min_by(lbl, named_struct('nc', -cnt, 'lbl', lbl))").alias("lbl")
        )
    _, memo_labels = lpa_run(spark, SF_DIR)
    assert _rows(memo_labels, ["z", "lbl"]) == _rows(labels, ["z", "lbl"])


def test_spread_scan_values_and_wide_noop(spark):
    from bytesprocessor_spark.queries import _t
    from bytesprocessor_spark.sources.tables import spread_scan

    docs = _t(spark, SF_DIR, "documents")
    spread = spread_scan(docs, "doc_id")
    # pure exchange: every row survives unchanged
    assert _rows(spread, ["doc_id", "source"]) == _rows(docs, ["doc_id", "source"])
    dp = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < dp:
        # ADVICE r11: the narrow-fixture case must assert the
        # repartition actually happened — a spread_scan regressed to
        # returning its input unchanged would fail here
        assert spread.rdd.getNumPartitions() == dp
    else:
        assert spread is docs
    # already-wide source: identical object back, no exchange added
    wide = docs.repartition(dp + 1, "doc_id")
    assert spread_scan(wide, "doc_id") is wide


def test_topk_unroll_matches_interpreted_hof(spark):
    from bytesprocessor_spark.queries import _t
    from bytesprocessor_spark.queries_r9 import _TOPK_BOOST, _TOPK_CLASSES, _h60

    ev = _t(spark, SF_DIR, "events")
    classes = F.array(*[F.lit(c) for c in _TOPK_CLASSES])

    def score(cls_col):
        return (
            _h60(
                F.concat(
                    F.lit("cls:"),
                    F.col("event_id").cast("string"),
                    F.lit(":"),
                    cls_col,
                )
            )
            % 1000000
        )

    true_score = score(F.col("event_type")) + _TOPK_BOOST
    hof_rnk = F.lit(1) + F.size(
        F.filter(
            classes,
            lambda c: (c != F.col("event_type"))
            & (
                (score(c) > true_score)
                | ((score(c) == true_score) & (c < F.col("event_type")))
            ),
        )
    )
    base = ev.select(
        "event_id",
        "event_type",
        *[score(F.lit(c)).alias(f"s{i}") for i, c in enumerate(_TOPK_CLASSES)],
        (score(F.col("event_type")) + _TOPK_BOOST).alias("ts"),
    )
    ind = [
        F.when(
            (F.lit(c) != F.col("event_type"))
            & (
                (F.col(f"s{i}") > F.col("ts"))
                | (
                    (F.col(f"s{i}") == F.col("ts"))
                    & (F.lit(c) < F.col("event_type"))
                )
            ),
            1,
        ).otherwise(0)
        for i, c in enumerate(_TOPK_CLASSES)
    ]
    unrolled = base.select("event_id", (F.lit(1) + sum(ind[1:], ind[0])).alias("rnk"))
    hof = ev.select("event_id", hof_rnk.alias("rnk"))
    assert _rows(unrolled, ["event_id", "rnk"]) == _rows(hof, ["event_id", "rnk"])


def test_mcc_argmax_unroll_matches_array_position(spark):
    from bytesprocessor_spark.queries import _t
    from bytesprocessor_spark.queries_r9b import _MCC_BOOST, _MCC_CLASSES, _h60

    ev = _t(spark, SF_DIR, "events")
    classes = F.array(*[F.lit(c) for c in _MCC_CLASSES])

    def eff(cls_col):
        return (
            _h60(
                F.concat(
                    F.lit("cls:"),
                    F.col("event_id").cast("string"),
                    F.lit(":"),
                    cls_col,
                )
            )
            % 1000000
            + F.when(cls_col == F.col("event_type"), _MCC_BOOST).otherwise(0)
        )

    scores = F.transform(classes, lambda c: eff(c))
    hof_yhat = F.element_at(
        classes, F.array_position(scores, F.array_max(scores)).cast("int")
    )

    # r12 form: ONE greatest() over (score, -index) structs — ties on
    # score resolve to the largest -i == the smallest index == the
    # first ascending class at the max, exactly as array_position of
    # array_max over the ascending class array
    cols = [eff(F.lit(c)).alias(f"e{i}") for i, c in enumerate(_MCC_CLASSES)]
    base = ev.select("event_id", "event_type", *cols)
    m = F.greatest(
        *[
            F.struct(F.col(f"e{i}").alias("s"), F.lit(-i).alias("ni"))
            for i in range(len(_MCC_CLASSES))
        ]
    )
    struct_yhat = F.element_at(
        F.array(*[F.lit(c) for c in _MCC_CLASSES]),
        (F.lit(1) - m["ni"]).cast("int"),
    )

    assert _rows(
        base.select("event_id", struct_yhat.alias("y")), ["event_id", "y"]
    ) == _rows(ev.select("event_id", hof_yhat.alias("y")), ["event_id", "y"])
