"""Tests for the round-3 curation extensions (queries_curation.py):
repeated-span detection, distributed k-means, DSIR weights, MAD
outliers, deterministic splits — semantics on constructed inputs plus
the plan-shape gates that hold at 100 TB."""

from __future__ import annotations

from pyspark.sql import functions as F

from bytesprocessor_spark.plans.explain import (
    assert_plan,
    executed_plan,
    shuffle_count,
)
from bytesprocessor_spark.queries import QUERIES
from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# dedup_span_ngrams
# ---------------------------------------------------------------------------

def _span_summary(spark, rows):
    """Run the span scan on constructed documents via a temp parquet."""
    import tempfile

    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    d = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return QUERIES["dedup_span_ngrams"](spark, d)


def test_span_ngrams_detects_copied_span(spark):
    # doc 1 and 2 share an exact 8-word run; doc 3 is unrelated.
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        (1, f"one two {shared} end", "en", "s", 0),
        (2, f"{shared} tail words here", "en", "s", 0),
        (3, "a completely different text with eight tokens only", "en", "s", 0),
    ]
    out = {r["doc_id"]: r for r in _span_summary(spark, rows).collect()}
    # the shared span occurs in both docs -> both get >= 1 dup span
    assert out[1]["n_dup_spans"] >= 1
    assert out[2]["n_dup_spans"] >= 1
    assert out[3]["n_dup_spans"] == 0
    # doc 3 has exactly 8 tokens -> exactly one span
    assert out[3]["n_spans"] == 1


def test_span_ngrams_intra_doc_repeat_counts(spark):
    # the same 8-token span twice WITHIN one doc is also a duplicate
    s = "a1 a2 a3 a4 a5 a6 a7 a8"
    rows = [(1, f"{s} zz {s}", "en", "s", 0)]
    out = _span_summary(spark, rows).collect()[0]
    assert out["n_dup_spans"] >= 2  # both instances of the repeated span


def test_span_ngrams_short_docs_dropped(spark):
    rows = [(1, "only seven tokens in this one here", "en", "s", 0)]
    assert _span_summary(spark, rows).count() == 0


def test_span_ngrams_plan_partial_agg(spark):
    """The span-count aggregate must partial-aggregate map-side: the
    exploded span stream is ~tokens-per-doc x corpus and may never
    shuffle raw."""
    df = QUERIES["dedup_span_ngrams"](spark, SF_DIR)
    plan = executed_plan(df)
    assert plan.count("HashAggregate") >= 4  # partial+final for both aggs
    # shuffles are keyed on the 60-bit hash / doc_id, not the span text
    assert "hashpartitioning(key" in plan
    assert "hashpartitioning(doc_id" in plan


# ---------------------------------------------------------------------------
# embedding_kmeans
# ---------------------------------------------------------------------------

def test_kmeans_separates_two_blobs(spark):
    import tempfile

    # two tight blobs far apart; k=8 with only these points -> every
    # centroid lands inside one blob, so within-cluster spread is tiny.
    rows = []
    for i in range(20):
        rows.append((i, [10.0 + (i % 3) * 0.01] * 64, 0))
    for i in range(20, 40):
        rows.append((i, [-10.0 - (i % 3) * 0.01] * 64, 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = QUERIES["embedding_kmeans"](spark, d).collect()
    # scalar rows: one per (cluster, pos); pos 1 carries the lead coord
    lead = [r for r in out if r["pos"] == 1]
    assert sum(r["n_vectors"] for r in lead) == 40
    for r in lead:
        c0 = r["c_micro"] / 1_000_000.0
        assert abs(abs(c0) - 10.0) < 0.1  # centroid sits in a blob, not between


def test_kmeans_broadcasts_centroids(spark):
    """Assignment must broadcast the k-row centroid table; a shuffle
    join (or cartesian spill) there would move the full vector table
    k times at 100 TB."""
    df = QUERIES["embedding_kmeans"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# corpus_dsir_weights
# ---------------------------------------------------------------------------

def test_dsir_upweights_target_like_docs(spark):
    import tempfile

    # target domain uses a distinct vocabulary; one raw doc mimics it
    # and must rank first among raw docs.
    rows = []
    for i in range(10):
        rows.append((i, "quantum flux lattice boson quantum flux", "en", "src0", 0))
    rows.append((100, "quantum flux lattice boson entangle", "en", "srcX", 0))
    for i in range(101, 120):
        rows.append((i, "cats dogs weather sports news cats dogs", "en", "srcX", 0))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    d = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = QUERIES["corpus_dsir_weights"](spark, d).collect()
    assert out[0]["doc_id"] == 100
    assert out[0]["rank"] == 1
    assert out[0]["log_weight"] > out[-1]["log_weight"]


def test_dsir_plan_broadcasts_weight_table(spark):
    """The 4096-bucket lambda table must broadcast back onto the
    feature stream (it is bounded by construction), and the selection
    must be a TakeOrdered, not a global sort."""
    df = QUERIES["corpus_dsir_weights"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# events_mad_outliers
# ---------------------------------------------------------------------------

def test_mad_flags_only_planted_outlier(spark):
    import tempfile

    rows = [(i, None, 1, "t", 50.0 + (i % 5) * 0.1, "{}") for i in range(50)]
    rows.append((999, None, 1, "t", 5000.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    d = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = QUERIES["events_mad_outliers"](spark, d).collect()[0]
    assert out["n_outliers"] == 1
    assert out["outlier_value_cents"] == 500000
    assert abs(out["med"] - 50.2) < 0.3


def test_mad_broadcast_stats_no_global_sort(spark):
    df = QUERIES["events_mad_outliers"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# dedup_containment_pairs
# ---------------------------------------------------------------------------

def test_containment_catches_excerpt_jaccard_misses(spark):
    """A short doc quoted inside a long one: containment = 1.0 while
    Jaccard is far below any dedup threshold."""
    from bytesprocessor_spark.operators.dedup import (
        containment_pairs,
        exact_jaccard_pairs,
    )
    from bytesprocessor_spark.queries_llm import _word3_hashed_tokens

    quote = "the quick brown fox jumps over the lazy dog again and again"
    filler = " ".join(f"filler{i} word{i} pad{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, quote), (2, f"{filler} {quote} {filler}")],
        "doc_id long, text string",
    )
    toks = _word3_hashed_tokens(docs)
    cont = containment_pairs(toks, threshold=0.9).collect()
    assert len(cont) == 1
    assert cont[0]["containment"] == 1.0  # every quote shingle is inside doc 2
    jac = exact_jaccard_pairs(toks, threshold=0.5).collect()
    assert jac == []  # union-normalized similarity misses the excerpt


def test_containment_shuffles_on_shingles_not_pairs(spark):
    from bytesprocessor_spark.queries import QUERIES

    df = QUERIES["dedup_containment_pairs"](spark, SF_DIR)
    plan = executed_plan(df)
    # inverted-index equi-join on the shingle hash: shuffled on h at
    # scale, broadcast when AQE sees a small side — never a cartesian
    assert ("hashpartitioning(h" in plan) or ("BroadcastHashJoin" in plan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# similarity_pq_topk
# ---------------------------------------------------------------------------

def test_pq_arrow_and_expression_encode_agree(spark):
    """The numpy encode fast path must produce bit-identical codes to
    the SQL-replayable expression form (same exact-integer argument as
    the IVF GEMM assignment)."""
    from bytesprocessor_spark.operators.pq import (
        pq_codebook,
        pq_codebook_arrays,
        pq_encode,
        pq_encode_udf,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    m, k_c = 8, 16
    cb = pq_codebook(emb, m, k_c)
    expr = {(r["vec_id"], r["j"]): r["code"] for r in pq_encode(emb, cb, m).collect()}
    arrow = {
        (r["vec_id"], r["j"]): r["code"]
        for r in pq_encode_udf(emb, pq_codebook_arrays(emb, m, k_c), m).collect()
    }
    assert expr == arrow


def test_pq_finds_blob_neighbors(spark):
    import tempfile

    # two separated blobs interleaved by id parity, so the
    # lowest-16-ids codebook represents BOTH (a codebook sampled from
    # one distribution aliases the other onto it — real PQ behavior)
    rows = []
    for i in range(60):
        sign = 1.0 if i % 2 == 0 else -1.0
        rows.append((i, [sign * (5.0 + (i % 7) * 0.05)] * 64, i % 2))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    from bytesprocessor_spark.queries import QUERIES

    out = QUERIES["similarity_pq_topk"](spark, d).collect()
    assert len(out) > 0
    for r in out:
        # neighbors must come from the query's own blob (same parity)
        assert r["vec_id"] % 2 == r["query_id"] % 2


def test_pq_encode_map_only_and_adc_broadcast(spark):
    """Encoding must not shuffle the corpus (Arrow batch + posexplode
    only); the ADC lookup join must broadcast the distance table."""
    from bytesprocessor_spark.queries import QUERIES

    df = QUERIES["similarity_pq_topk"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "ArrowEvalPython" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# text_bpe_learn
# ---------------------------------------------------------------------------

def test_bpe_learns_classic_merges(spark):
    """The BPE-paper corpus {low:5, lower:2, newest:6, widest:3}:
    first merges are (e,s):9, (es,t):9, then (l,o):7 beating (o,w):7
    on the lexicographic tie-break."""
    from bytesprocessor_spark.operators.bpe import learn_bpe_merges

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    merges = [(r["a"], r["b"], r["cnt"]) for r in learn_bpe_merges(docs, 3).collect()]
    assert merges == [("e", "s", 9), ("es", "t", 9), ("l", "o", 7)]


def test_bpe_back_to_back_and_run_merging(spark):
    """'abab' must merge BOTH ab occurrences in one pass; 'aaa' must
    merge only the leftmost pair (left-to-right non-overlap)."""
    from bytesprocessor_spark.operators.bpe import (
        bpe_apply_merge,
        bpe_top_pair,
        bpe_word_table,
    )

    docs = spark.createDataFrame(
        [(1, "abab abab abab aaa")], "doc_id long, text string"
    )
    words = bpe_word_table(docs)
    top = bpe_top_pair(words)
    r = top.collect()[0]
    assert (r["a"], r["b"]) == ("a", "b")  # ab occurs 6x weighted
    merged = {
        w["word"]: w["s"] for w in bpe_apply_merge(words, top).collect()
    }
    assert merged["abab"] == "  ab  ab  "   # both pairs merged
    assert merged["aaa"] == "  a  a  a  "   # (a,b) merge leaves aaa alone
    # now merge (a,a): only the leftmost pair of the run merges
    top_aa = spark.createDataFrame([("a", "a", 1)], "a string, b string, cnt long")
    merged2 = {
        w["word"]: w["s"] for w in bpe_apply_merge(words, top_aa).collect()
    }
    assert merged2["aaa"] == "  aa  a  "


def test_bpe_encode_compresses(spark):
    """After merges, every doc's BPE token count is <= its character
    count, and words containing learned merges actually shrink."""
    from bytesprocessor_spark.operators.bpe import bpe_encode_words

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    v = {r["word"]: r["n_bpe"] for r in bpe_encode_words(docs, 3).collect()}
    # merges (e,s), (es,t), (l,o): newest = n e w est -> 4, low = lo w -> 2
    assert v["newest"] == 4
    assert v["low"] == 2
    assert v["widest"] == 4
    from bytesprocessor_spark.queries import QUERIES

    out = QUERIES["text_bpe_encode"](spark, SF_DIR).collect()
    assert all(r["n_bpe_tokens"] <= r["n_char_tokens"] for r in out)
    assert all(r["compression"] <= 1.0 for r in out)


def test_bpe_exhausted_merges_pass_words_through(spark):
    """When fewer merges exist than requested, the word table must
    survive (left-join passthrough), not annihilate via the empty
    winner; n_merges=0 returns an empty merge table."""
    from bytesprocessor_spark.operators.bpe import (
        bpe_encode_words,
        learn_bpe_merges,
    )

    docs = spark.createDataFrame(
        [(1, "ab ab ab")], "doc_id long, text string"
    )  # one learnable merge, then dry
    merges = learn_bpe_merges(docs, 5).collect()
    assert len(merges) == 1 and (merges[0]["a"], merges[0]["b"]) == ("a", "b")
    v = bpe_encode_words(docs, 5).collect()
    assert len(v) == 1 and v[0]["n_bpe"] == 1  # 'ab' fully merged, kept
    assert learn_bpe_merges(docs, 0).count() == 0


def test_pagerank_damping_parameter_conserves_mass(spark):
    """teleport must be 1e6 - damping (was hardcoded to the 0.85
    default): at any damping the total mass stays <= N * 1e6."""
    from bytesprocessor_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    for d in (500_000, 850_000):
        p = {r["node"]: r["p"] for r in pagerank(edges, n_iter=3, damping_micro=d).collect()}
        # symmetric ring: every node keeps exactly 1e6 (full conservation)
        assert all(v == 1_000_000 for v in p.values()), (d, p)


def test_pq_rejects_indivisible_dim(spark):
    import pytest as _pytest

    from bytesprocessor_spark.operators.pq import pq_adc_topk

    emb = spark.createDataFrame(
        [(i, [float(i)] * 60, 0) for i in range(20)],
        "vec_id long, embedding array<float>, label int",
    )
    q = emb.where(F.col("vec_id") < 2)
    with _pytest.raises(ValueError, match="divisible"):
        pq_adc_topk(emb, q, m=8, k_c=4).collect()


def test_bpe_merge_is_broadcast_map_only(spark):
    """The merge step must broadcast the 1-row winner onto the word
    table — a shuffle join there would move the vocabulary every
    iteration."""
    from bytesprocessor_spark.operators.bpe import (
        bpe_apply_merge,
        bpe_top_pair,
        bpe_word_table,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    words = bpe_word_table(docs)
    out = bpe_apply_merge(words, bpe_top_pair(words))
    plan = executed_plan(out)
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# graph_pagerank
# ---------------------------------------------------------------------------

def test_pagerank_star_center_wins(spark):
    """In a star graph the hub receives every spoke's full mass: hub
    rank must dominate, and the exact fixed-point scores are
    hand-computable."""
    from bytesprocessor_spark.operators.graph import pagerank

    spokes = [(f"s{i}", "hub") for i in range(10)]
    back = [("hub", f"s{i}") for i in range(10)]
    edges = spark.createDataFrame(spokes + back, "src string, dst string")
    p = {r["node"]: r["p"] for r in pagerank(edges, n_iter=2).collect()}
    # iter1: hub = 150000 + 85% of 10e6 = 8650000; spoke = 150000 +
    # 85% of (hub 1e6 / 10) = 235000.  iter2: hub = 150000 + 85% of
    # 10*235000 = 2147500; spoke = 150000 + 85% of 8650000//10 = 885250.
    assert p["hub"] == 2_147_500
    assert all(p[f"s{i}"] == 885_250 for i in range(10))
    # mass conservation (up to floor-div leak): total <= N * 1e6
    assert sum(p.values()) <= 11 * 1_000_000


def test_pagerank_mass_and_determinism(spark):
    from bytesprocessor_spark.queries import QUERIES

    a = QUERIES["graph_pagerank"](spark, SF_DIR).collect()
    b = QUERIES["graph_pagerank"](spark, SF_DIR).collect()
    assert a == b
    assert [r["rank"] for r in a] == list(range(1, len(a) + 1))
    # scores strictly ordered (desc) with node tiebreak
    scores = [r["pagerank_micro"] for r in a]
    assert scores == sorted(scores, reverse=True)


# ---------------------------------------------------------------------------
# events_markov_transitions / snapshot_diff_orders
# ---------------------------------------------------------------------------

def test_markov_rows_normalize_and_count_known_chain(spark):
    import tempfile
    from datetime import datetime

    rows = []
    seq = ["a", "b", "a", "b", "c"]  # transitions: a->b x2, b->a, b->c
    for i, et in enumerate(seq):
        rows.append((i, datetime(2024, 1, 1, 0, i), 1, et, 0.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    d = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    from bytesprocessor_spark.queries import QUERIES

    out = {(r["prev"], r["next"]): r for r in QUERIES["events_markov_transitions"](spark, d).collect()}
    assert out[("a", "b")]["n"] == 2 and out[("a", "b")]["p_micro"] == 1_000_000
    assert out[("b", "a")]["p_micro"] == 500_000
    assert out[("b", "c")]["p_micro"] == 500_000


def test_markov_row_probabilities_sum_to_one(spark):
    from bytesprocessor_spark.queries import QUERIES

    rows = QUERIES["events_markov_transitions"](spark, SF_DIR).collect()
    by_prev = {}
    for r in rows:
        by_prev.setdefault(r["prev"], []).append(r["p_micro"])
    for prev, ps in by_prev.items():
        # floor division: sum in (1e6 - n_states, 1e6]
        assert 1_000_000 - len(ps) < sum(ps) <= 1_000_000, (prev, sum(ps))


def test_snapshot_diff_partitions_every_key_once(spark):
    from bytesprocessor_spark.queries import QUERIES

    out = {r["change"]: r for r in QUERIES["snapshot_diff_orders"](spark, SF_DIR).collect()}
    assert set(out) == {"added", "removed", "changed", "unchanged"}
    docs = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    # every old-snapshot key lands in exactly one of removed/changed/unchanged
    from pyspark.sql import functions as _F

    n_old = docs.where(_F.col("o_orderdate") < _F.lit("1996-01-01").cast("date")).count()
    assert (
        out["removed"]["n_rows"] + out["changed"]["n_rows"] + out["unchanged"]["n_rows"]
        == n_old
    )


# ---------------------------------------------------------------------------
# corpus_mixture_sample
# ---------------------------------------------------------------------------

def test_mixture_sample_meets_quota_and_is_stable(spark):
    from bytesprocessor_spark.queries import QUERIES

    a = QUERIES["corpus_mixture_sample"](spark, SF_DIR).collect()
    b = QUERIES["corpus_mixture_sample"](spark, SF_DIR).collect()
    assert a == b  # hash-ranked pick is deterministic
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    per_source = {r["source"]: r["cnt"] for r in docs.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    for r in a:
        assert 0 < r["n_sampled"] <= per_source[r["source"]]
    # total sampled stays within the 200-doc budget (floor-div quotas)
    assert sum(r["n_sampled"] for r in a) <= 200


# ---------------------------------------------------------------------------
# agg_weighted_median / orders_market_basket
# ---------------------------------------------------------------------------

def test_weighted_median_weights_cheap_bulk_lines(spark):
    """Price 10 with weight 8 vs price 100 with weight 2: half the
    volume trades at 10, so the weighted median is 10 (the unweighted
    median of {10, 100} would sit between)."""
    import tempfile

    rows = [
        (1, 1, "A", 10.0, 8.0),
        (2, 1, "A", 100.0, 2.0),
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber long, l_returnflag string, "
        "l_extendedprice double, l_quantity double",
    )
    d = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    from bytesprocessor_spark.queries import QUERIES

    out = QUERIES["agg_weighted_median"](spark, d).collect()
    assert out[0]["weighted_median_price"] == 10.0


def test_market_basket_scores_planted_pair(spark):
    """Parts 1 and 2 co-occur in every order; part 3 appears alone —
    the (1,2) rule dominates with confidence 1.0 and lift n/
    (n_a*n_b)*n = maximal."""
    import tempfile

    rows = []
    ln = 0
    for o in range(1, 7):
        for p in (1, 2):
            rows.append((o, ln, "A", 1.0, 1.0, p))
            ln += 1
    rows.append((7, ln, "A", 1.0, 1.0, 3))
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber long, l_returnflag string, "
        "l_extendedprice double, l_quantity double, l_partkey long",
    )
    d = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    from bytesprocessor_spark.queries import QUERIES

    out = QUERIES["orders_market_basket"](spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["p_a"], r["p_b"], r["both_c"]) == (1, 2, 6)
    assert r["confidence_a_to_b"] == 1.0
    # lift = P(ab)/(P(a)P(b)) = (6/7)/((6/7)*(6/7)) = 7/6
    assert abs(r["lift"] - 7 / 6) < 1e-6


# ---------------------------------------------------------------------------
# events_cusum
# ---------------------------------------------------------------------------

def test_cusum_finds_planted_level_shift(spark):
    """Value 50 for days 1-10 then 80 for days 11-20: the CUSUM peak
    lands exactly on the last pre-shift day with |peak| = 10 * 15."""
    import tempfile
    from datetime import datetime

    rows = []
    eid = 0
    for day in range(1, 21):
        level = 50.0 if day <= 10 else 80.0
        for _ in range(3):
            rows.append((eid, datetime(2024, 1, day), 1, "t", level, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    d = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    from bytesprocessor_spark.queries import QUERIES

    out = QUERIES["events_cusum"](spark, d).collect()[0]
    assert out["changepoint_day"] == "2024-01-10"
    assert out["max_cusum_dollars"] == 150.0


# ---------------------------------------------------------------------------
# events_ab_test
# ---------------------------------------------------------------------------

def test_ab_test_null_split_is_calm_and_planted_lift_is_loud(spark):
    """A/A property on a null split: |t| stays small; a planted group
    shift produces a large |t| with the correct sign."""
    import tempfile
    from datetime import datetime

    import hashlib

    def grp(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:15], 16) % 2

    rows = []
    eid = 0
    for uid in range(200):
        for j in range(5):
            # null metric: identical distribution in both groups
            rows.append((eid, datetime(2024, 1, 1), uid, "aa", 50.0 + (eid % 7), "{}"))
            eid += 1
            # planted: group 0 gets +10
            lift = 10.0 if grp(uid) == 0 else 0.0
            rows.append((eid, datetime(2024, 1, 1), uid, "ab", 50.0 + (eid % 7) + lift, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    d = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    from bytesprocessor_spark.queries import QUERIES

    out = {r["event_type"]: r for r in QUERIES["events_ab_test"](spark, d).collect()}
    assert abs(out["aa"]["welch_t"]) < 3.0
    assert out["ab"]["welch_t"] > 20.0
    assert out["ab"]["mean_a_dollars"] > out["ab"]["mean_b_dollars"]


# ---------------------------------------------------------------------------
# events_attribution
# ---------------------------------------------------------------------------

def test_attribution_credits_only_window_views(spark):
    """Views inside the hour before a purchase share its value evenly;
    views after it or beyond the window get nothing."""
    import tempfile
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # two in-window views, one stale view (2h before), one after
        (1, base - timedelta(minutes=30), 7, "view", 0.0, "{}"),
        (2, base - timedelta(minutes=10), 7, "view", 0.0, "{}"),
        (3, base - timedelta(hours=2), 7, "view", 0.0, "{}"),
        (4, base + timedelta(minutes=1), 7, "view", 0.0, "{}"),
        (5, base, 7, "purchase", 10.0, "{}"),
        # another user's view must not leak in
        (6, base - timedelta(minutes=5), 8, "view", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    d = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    from bytesprocessor_spark.queries import QUERIES

    out = QUERIES["events_attribution"](spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["purchase_id"] == 5 and r["n_touches"] == 2
    assert (r["first_touch_id"], r["last_touch_id"]) == (1, 2)
    assert r["credit_per_touch_millicents"] == 500_000  # $10 / 2 views


# ---------------------------------------------------------------------------
# events_linear_trend
# ---------------------------------------------------------------------------

def test_linear_trend_recovers_planted_slope(spark):
    """Perfectly linear data: value = 10 + 2 * minute must give slope
    exactly 2 $/min = 288000 cents/day and intercept exactly 10."""
    import tempfile
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    rows = [
        (i, base + timedelta(minutes=i), 1, "t", 10.0 + 2.0 * i, "{}")
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    d = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    from bytesprocessor_spark.queries import QUERIES

    out = QUERIES["events_linear_trend"](spark, d).collect()[0]
    assert out["slope_cents_per_day"] == 288000.0
    assert out["intercept_dollars"] == 10.0


# ---------------------------------------------------------------------------
# plan gates: snapshot diff / mixture sample
# ---------------------------------------------------------------------------

def test_snapshot_diff_prunes_and_single_join(spark):
    """The diff must read only the 4 referenced order columns and use
    ONE shuffle join on the key — full rows never move."""
    from bytesprocessor_spark.plans.explain import scan_columns
    from bytesprocessor_spark.queries import QUERIES

    df = QUERIES["snapshot_diff_orders"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert all(len(c) <= 4 for c in scan_columns(df))
    # exactly one join operator (the full-outer key join)
    assert plan.count("Join") == 1
    # exchanges: two join inputs + the 4-row rollup + its presentation
    # sort — anything more means hashed rows started moving twice
    assert shuffle_count(df) <= 4


def test_mixture_sample_broadcasts_quota(spark):
    from bytesprocessor_spark.queries import QUERIES

    df = QUERIES["corpus_mixture_sample"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# empty-input degradation (the late-round batch)
# ---------------------------------------------------------------------------

def test_curation_operators_handle_empty_input(spark):
    """Empty partitions are routine at scale: every late-round
    operator must degrade to empty output, not throw."""
    from bytesprocessor_spark.operators.bpe import (
        bpe_encode_words,
        learn_bpe_merges,
    )
    from bytesprocessor_spark.operators.dedup import containment_pairs
    from bytesprocessor_spark.operators.graph import pagerank
    from bytesprocessor_spark.operators.pq import pq_adc_topk

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert learn_bpe_merges(empty_docs, 3).count() == 0
    assert bpe_encode_words(empty_docs, 3).count() == 0

    empty_tokens = spark.createDataFrame([], "id long, h long")
    assert containment_pairs(empty_tokens).count() == 0

    empty_edges = spark.createDataFrame([], "src string, dst string")
    assert pagerank(empty_edges, n_iter=2).count() == 0

    emb = spark.createDataFrame(
        [(i, [float(i)] * 16, 0) for i in range(4)],
        "vec_id long, embedding array<float>, label int",
    )
    empty_q = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    assert pq_adc_topk(emb, empty_q, m=4, k_c=4).count() == 0


# ---------------------------------------------------------------------------
# corpus_split_assign
# ---------------------------------------------------------------------------

def test_split_deterministic_and_complete(spark):
    a = QUERIES["corpus_split_assign"](spark, SF_DIR).collect()
    b = QUERIES["corpus_split_assign"](spark, SF_DIR).collect()
    assert a == b  # stable across runs
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    total = docs.count()
    assert sum(r["n_train"] + r["n_val"] + r["n_test"] for r in a) == total


def test_split_single_shuffle(spark):
    df = QUERIES["corpus_split_assign"](spark, SF_DIR)
    # bucketing is map-only: one agg shuffle + the tiny presentation sort
    assert shuffle_count(df) <= 2
    assert "hashpartitioning(source" in executed_plan(df)
