"""Hand-computed + property tests for the eval-metrics batch
(queries_eval.py) and the leakage-safe split; exact fixture values are
pinned by the DuckDB oracle rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from bytesprocessor_spark.queries import QUERIES
from bytesprocessor_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def _auc_of(rows):
    """Pairwise O(P*N) AUC reference for the hand-checked case."""
    pos = sorted(s for y, s in rows if y == 1)
    neg = sorted(s for y, s in rows if y == 0)
    two_u = 0
    for p in pos:
        for n in neg:
            if p > n:
                two_u += 2
            elif p == n:
                two_u += 1
    return two_u, len(pos), len(neg)


def test_auc_identity_matches_pairwise_definition(spark):
    """The rank-sum identity equals the O(P*N) pairwise definition on
    the real fixture scores (sampled to keep the quadratic check
    cheap), ties included."""
    emb = load_table(spark, SF_DIR, "embeddings").where(F.col("vec_id") < 120)
    q = lambda i: F.round(  # noqa: E731
        F.element_at("embedding", i).cast("double") * 1_000_000
    ).cast("long")
    rows = [
        (r.y, r.score)
        for r in emb.select(
            (F.col("label") % 2).alias("y"), (q(1) + q(2)).alias("score")
        ).collect()
    ]
    two_u, n_pos, n_neg = _auc_of(rows)

    # same identity, full-corpus operator: recompute on the sample via
    # the same score-grouped formula the operator uses
    by_score: dict = {}
    for y, s in rows:
        p, n = by_score.get(s, (0, 0))
        by_score[s] = (p + y, n + (1 - y))
    cum = 0
    got = 0
    for s in sorted(by_score):
        p, n = by_score[s]
        got += p * (2 * cum + n)
        cum += n
    assert got == two_u
    assert n_pos > 0 and n_neg > 0


def test_eval_auc_bounds_and_consistency(spark):
    r = QUERIES["eval_auc"](spark, SF_DIR).collect()[0]
    assert 0 <= r.auc_micro <= 1_000_000
    assert r.two_u <= 2 * r.n_pos * r.n_neg
    n = load_table(spark, SF_DIR, "embeddings").count()
    assert r.n_pos + r.n_neg == n


def test_pr_curve_monotone_and_endpoints(spark):
    rows = QUERIES["eval_pr_curve"](spark, SF_DIR).collect()
    assert len(rows) == 11
    assert [r.threshold_micro for r in rows] == [i * 100000 for i in range(11)]
    # recall is non-increasing as the threshold rises; tp+fn constant
    recalls = [r.recall_ppm for r in rows]
    assert recalls == sorted(recalls, reverse=True)
    assert len({r.tp + r.fn for r in rows}) == 1
    # threshold 0 admits everything: recall = 1 (floor-div ppm)
    assert rows[0].recall_ppm == 1_000_000
    assert rows[0].fn == 0


def test_calibration_bins_partition_the_corpus(spark):
    rows = QUERIES["eval_calibration"](spark, SF_DIR).collect()
    n = load_table(spark, SF_DIR, "embeddings").count()
    assert sum(r.n for r in rows) == n
    for r in rows:
        assert 0 <= r.mean_pred_micro <= 1_000_000
        assert 0 <= r.frac_pos_micro <= 1_000_000
        assert r.gap_micro == abs(r.mean_pred_micro - r.frac_pos_micro)
        # bin b holds pm in [b*1e5, (b+1)*1e5) (top bin closed): the
        # bin mean must sit inside its own bin bounds
        assert r.bin * 100000 <= r.mean_pred_micro <= (r.bin + 1) * 100000


def test_group_kfold_no_user_spans_folds(spark):
    """The defining GroupKFold property: fold is a function of
    user_id, so the distinct (user, fold) count equals the distinct
    user count."""
    from bytesprocessor_spark.queries_curation import _h60

    ev = load_table(spark, SF_DIR, "events")
    assign = ev.select(
        "user_id", (_h60(F.col("user_id").cast("string")) % 5).alias("fold")
    )
    assert (
        assign.distinct().count()
        == assign.select("user_id").distinct().count()
    )
    rows = QUERIES["events_group_kfold"](spark, SF_DIR).collect()
    assert sum(r.n for r in rows) == ev.count()
    for r in rows:
        assert 0 <= r.fold < 5
        assert abs(r.share_ppm - r.global_share_ppm) == r.skew_ppm


def test_leakage_safe_split_never_separates_near_dups(spark):
    """Every near-dup pair (the edges the split is built from) lands
    on ONE side — the property a doc-hash split violates."""
    from bytesprocessor_spark.operators.dedup import exact_jaccard_pairs
    from bytesprocessor_spark.queries_llm import _word3_hashed_tokens

    docs = load_table(spark, SF_DIR, "documents")
    split = QUERIES["corpus_leakage_safe_split"](spark, SF_DIR)
    side = {r.doc_id: r.split for r in split.collect()}
    pairs = exact_jaccard_pairs(_word3_hashed_tokens(docs), threshold=0.5).collect()
    assert pairs, "fixture has near-dup pairs"
    for p in pairs:
        assert side[p.id_a] == side[p.id_b]
    # and the split is a real 8/1/1-ish partition of all docs
    assert set(side.values()) == {"train", "val", "test"}
    assert len(side) == docs.count()
    n_train = sum(1 for v in side.values() if v == "train")
    assert n_train > len(side) // 2


def test_dedup_threshold_sweep_monotone(spark):
    rows = QUERIES["dedup_threshold_sweep"](spark, SF_DIR).collect()
    assert [r.threshold_micro for r in rows] == [500000, 700000, 800000, 900000]
    pairs = [r.n_pairs for r in rows]
    dropped = [r.n_dropped for r in rows]
    yields = [r.yield_ppm for r in rows]
    # stricter threshold => fewer qualifying pairs, fewer drops, more yield
    assert pairs == sorted(pairs, reverse=True)
    assert dropped == sorted(dropped, reverse=True)
    assert yields == sorted(yields)
    for r in rows:
        assert r.n_dropped <= r.n_pairs or r.n_pairs == 0
        assert r.yield_ppm == (r.n_docs - r.n_dropped) * 1_000_000 // r.n_docs


def test_ann_recall_bounds_and_floor(spark):
    rows = QUERIES["eval_ann_recall"](spark, SF_DIR).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0 <= r.hits <= 5
        assert r.recall_ppm == r.hits * 1_000_000 // 5
    # the 8-table 4-plane SRP geometry should recover most of the
    # exact top-5 on the fixture corpus (recall floor pinned loosely;
    # exact values are pinned by the oracle row)
    mean_hits = sum(r.hits for r in rows) / len(rows)
    assert mean_hits >= 2.5


def test_knn_label_prop_covers_holdout_and_votes_bound(spark):
    rows = QUERIES["eval_knn_label_prop"](spark, SF_DIR).collect()
    emb = load_table(spark, SF_DIR, "embeddings")
    n_holdout = emb.where(F.col("vec_id") % 5 == 0).count()
    # the 8-table SRP geometry finds neighbors for every held-out
    # vector on the fixture corpus
    assert len(rows) == n_holdout
    for r in rows:
        assert r.vec_id % 5 == 0
        assert 1 <= r.votes <= r.n_neighbors <= 5
        assert r.is_correct == (r.pred_label == r.true_label)


def test_embedding_dim_stats_exact_variance(spark):
    """Integer variance identity matches a float recompute within
    quantization error, and bounds hold."""
    rows = QUERIES["embedding_dim_stats"](spark, SF_DIR).collect()
    assert len(rows) == 64
    emb = load_table(spark, SF_DIR, "embeddings")
    import numpy as np

    mat = np.array([r.embedding for r in emb.select("embedding").collect()], dtype=np.float64)
    for r in rows[:8]:
        col = np.round(mat[:, r.pos - 1] * 1e6)
        assert r.min_micro == int(col.min())
        assert r.max_micro == int(col.max())
        assert abs(r.mean_micro - col.mean()) <= 1
        assert abs(r.var_microsq - col.var()) <= 2
        assert r.is_low_variance == (r.var_microsq < 1_000_000)


def _mk_scored(spark, rows):
    return spark.createDataFrame(rows, "y long, score long")


def test_auc_library_single_class_is_null_not_crash(spark):
    from bytesprocessor_spark.operators.evalmetrics import auc

    r = auc(_mk_scored(spark, [(1, 10), (1, 20), (1, 30)])).collect()[0]
    assert r.n_pos == 3 and r.n_neg == 0
    assert r.auc_micro is None
    r = auc(_mk_scored(spark, [(0, 10), (0, 20)])).collect()[0]
    assert r.auc_micro is None


def test_auc_library_hand_computed(spark):
    from bytesprocessor_spark.operators.evalmetrics import auc

    # perfect separation -> 1.0; ties at the boundary -> 0.5 credit
    r = auc(_mk_scored(spark, [(0, 1), (0, 2), (1, 3), (1, 4)])).collect()[0]
    assert r.auc_micro == 1_000_000
    r = auc(_mk_scored(spark, [(0, 5), (1, 5)])).collect()[0]
    assert r.auc_micro == 500_000
    # one inversion among 2x2 pairs -> 3.5/4
    r = auc(_mk_scored(spark, [(0, 1), (1, 2), (0, 3), (1, 4)])).collect()[0]
    assert r.auc_micro == 750_000


def test_normalize_micro_constant_scores_guarded(spark):
    from bytesprocessor_spark.operators.evalmetrics import normalize_micro

    rows = normalize_micro(_mk_scored(spark, [(0, 7), (1, 7), (1, 7)])).collect()
    assert [r.pm for r in rows] == [0, 0, 0]


def test_pr_curve_library_empty_prediction_convention(spark):
    from bytesprocessor_spark.operators.evalmetrics import normalize_micro, pr_curve

    # all mass lands at pm=0 (constant scores): every threshold > 0
    # predicts nothing -> precision pinned to 1.0, recall 0
    pm = normalize_micro(_mk_scored(spark, [(1, 7), (0, 7)]))
    rows = pr_curve(pm).collect()
    for r in rows[1:]:
        assert r.tp == 0 and r.fp == 0
        assert r.precision_ppm == 1_000_000
        assert r.recall_ppm == 0 and r.f1_ppm == 0
    assert rows[0].recall_ppm == 1_000_000


def test_calibration_library_weights_sum_to_million(spark):
    from bytesprocessor_spark.operators.evalmetrics import calibration, normalize_micro

    pm = normalize_micro(
        _mk_scored(spark, [(0, 0), (1, 10), (0, 20), (1, 30), (1, 40)])
    )
    rows = calibration(pm).collect()
    assert sum(r.n for r in rows) == 5
    # integer-floor weights sum to <= 1e6 and within rounding slack
    total_w = sum(r.weight_ppm for r in rows)
    assert 1_000_000 - len(rows) <= total_w <= 1_000_000


def test_ndcg_bounds_and_consistency_with_recall(spark):
    ndcg = {r.query_id: r for r in QUERIES["eval_ndcg"](spark, SF_DIR).collect()}
    recall = {r.query_id: r for r in QUERIES["eval_ann_recall"](spark, SF_DIR).collect()}
    assert set(ndcg) == set(recall)
    for qid, r in ndcg.items():
        assert 0 <= r.ndcg_ppm <= 1_000_000
        # zero hits <=> zero ndcg; full recall in exact order <=> 1.0
        if recall[qid].hits == 0:
            assert r.ndcg_ppm == 0
        if recall[qid].hits == 5 and r.ndcg_ppm == 1_000_000:
            pass  # perfect; nothing further to assert
        # dcg can never exceed the ideal sum
        assert r.dcg_micro <= 2_948_460


def test_confusion_matrix_totals_match_propagation(spark):
    cm = QUERIES["eval_confusion_matrix"](spark, SF_DIR).collect()
    prop = QUERIES["eval_knn_label_prop"](spark, SF_DIR).collect()
    assert sum(r.n for r in cm) == len(prop)
    diag = sum(r.n for r in cm if r.true_label == r.pred_label)
    assert diag == sum(1 for r in prop if r.is_correct)


def test_auc_library_randomized_against_pairwise(spark):
    """20 seeded random (y, score) datasets with heavy ties: the
    distributed rank-sum identity must equal the O(P*N) pairwise
    definition exactly, every time."""
    import random

    from bytesprocessor_spark.operators.evalmetrics import auc

    rng = random.Random(420)
    for trial in range(20):
        n = rng.randint(2, 60)
        # small score domain forces tie handling to matter
        rows = [(rng.randint(0, 1), rng.randint(-5, 5)) for _ in range(n)]
        got = auc(_mk_scored(spark, rows)).collect()[0]
        two_u, n_pos, n_neg = _auc_of(rows)
        assert (got.n_pos, got.n_neg, got.two_u) == (n_pos, n_neg, two_u), (
            trial,
            rows,
        )
        if n_pos and n_neg:
            assert got.auc_micro == (two_u * 1_000_000) // (2 * n_pos * n_neg)
        else:
            assert got.auc_micro is None


def test_pr_curve_library_custom_grid(spark):
    from bytesprocessor_spark.operators.evalmetrics import normalize_micro, pr_curve

    pm = normalize_micro(
        _mk_scored(spark, [(0, 0), (0, 1), (1, 2), (1, 3), (1, 4)])
    )
    rows = pr_curve(pm, n_thresholds=5).collect()
    assert [r.threshold_micro for r in rows] == [0, 250000, 500000, 750000, 1000000]
    assert rows[0].recall_ppm == 1_000_000
    recalls = [r.recall_ppm for r in rows]
    assert recalls == sorted(recalls, reverse=True)
