"""Plan-quality regression tests (SURVEY §4): the 100 TB failure mode
is a silent extra shuffle or a lost pushdown, so the physical-plan
properties of the headline queries are pinned here."""

from __future__ import annotations

from pyspark.sql import functions as F

from bytesprocessor_spark.plans.explain import (
    assert_plan,
    executed_plan,
    pushed_filters,
    scan_columns,
    shuffle_count,
)
from bytesprocessor_spark.queries import QUERIES
from tests.conftest import SF_DIR


def test_q1_single_shuffle_with_pushdown(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    assert shuffle_count(df) == 1  # partial+final agg only
    assert any("LessThanOrEqual(l_shipdate" in p for p in pushed_filters(df))


def test_q3_broadcasts_and_prunes(spark):
    df = QUERIES["q3_shipping_priority"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    cols = scan_columns(df)
    assert all(len(c) <= 4 for c in cols)  # no scan reads full tables


def test_asof_join_single_shuffle(spark):
    df = QUERIES["asof_join_events"](spark, SF_DIR)
    assert shuffle_count(df) <= 1  # union + one window partitioning


def test_range_join_broadcasts(spark):
    df = QUERIES["range_join_tiers"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True)


def test_label_parity_no_join_no_shuffle_before_agg(spark):
    """Labeling is a pure expression — exactly the aggregation shuffle,
    no join operator in the plan."""
    df = QUERIES["label_attacks_parity"](spark, SF_DIR)
    assert shuffle_count(df) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_extract_ranges_pushdown_on_parquet(spark):
    df = QUERIES["extract_ranges_parity"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # disjunctive between-filter exists pre-scan (computed column, so
    # it is a post-scan filter here, but only over projected columns)
    assert "Filter" in plan
    assert all(len(c) <= 3 for c in scan_columns(df))

def test_ivf_broadcast_and_no_cartesian(spark):
    """IVF probe must be an equi-join on the int cell id with the
    (small) query side broadcast — never a cartesian: the whole point
    of the index is that the corpus is NOT cross-joined."""
    from bytesprocessor_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(emb, q, n_cells=16, nprobe=4, k=5)
    assert_plan(out, requires_broadcast=True, forbid_cartesian=True)
    # cell assignment is a map-side expression: the corpus reaches the
    # join without any exchange of its own (window shuffle comes after)
    plan = executed_plan(out)
    assert "BroadcastHashJoin" in plan


def test_minhash_partial_aggregation(spark):
    """The signature aggregate must run partial (map-side) before its
    shuffle — at 100 TB the exploded token table is ~100x the corpus
    and must collapse to n_docs rows per partition before exchange."""
    from bytesprocessor_spark.operators.dedup import (
        hashed_shingle_tokens, minhash_signature_table,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sig = minhash_signature_table(hashed_shingle_tokens(docs), 32)
    plan = executed_plan(sig)
    # partial_min before the exchange, min after: two HashAggregate
    # levels around one Exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_min" in plan


def test_embedding_pairs_block_gemm_no_nested_loop(spark):
    """Exact embedding all-pairs must be the block-partitioned cogroup
    GEMM: no BroadcastNestedLoopJoin / CartesianProduct over
    corpus x corpus — at 100 TB a nested loop is a single-task scan of
    the full pair space, the one plan shape this operator exists to
    avoid."""
    df = QUERIES["dedup_embedding_pairs"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapCoGroupsInPandas" in plan


def test_embedding_lsh_bucket_equijoin_only(spark):
    """The SRP-LSH scale path joins on (table, bucket) keys and pair
    ids only — equi-joins all the way down."""
    df = QUERIES["dedup_embedding_lsh"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_exact_dedup_single_shuffle(spark):
    """exact_dedup must cost exactly one exchange (hash-partition by
    content hash for the row_number window) — the groupBy+semi-join
    formulation costs two, which at 100 TB doubles the dominant I/O."""
    from bytesprocessor_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = exact_dedup(docs, text_col="text", id_col="doc_id")
    assert shuffle_count(out) == 1


def test_port_filter_pushdown(spark, tmp_path):
    """port_filter's IN/OR predicate must reach the parquet scan
    (PushedFilters) so port-sparse row groups are pruned at 100 TB."""
    from bytesprocessor_spark.operators.labeling import port_filter

    p = str(tmp_path / "pkts.parquet")
    spark.createDataFrame(
        [(i, 80 if i % 3 == 0 else 9000 + i % 7, 443 if i % 5 == 0 else 10000 + i % 7)
         for i in range(200)],
        "pkt_id long, src_port int, dst_port int",
    ).write.parquet(p)
    df = port_filter(spark.read.parquet(p), [80, 443], side="both")
    pushed = " ".join(pushed_filters(df))
    assert "src_port" in pushed and "dst_port" in pushed
    assert df.count() == sum(1 for i in range(200) if i % 3 == 0 or i % 5 == 0)
    # src-only / dst-only variants
    assert port_filter(spark.read.parquet(p), [80], side="src").count() == sum(
        1 for i in range(200) if i % 3 == 0
    )
    assert port_filter(spark.read.parquet(p), [], side="both").count() == 200


def test_bucketed_join_elides_shuffles(spark, tmp_path):
    """Two tables bucketed on the join key by write_bucketed join with
    ZERO exchanges (and pre-sorted buckets need no Sort either) — the
    co-located layout a 100 TB fact⋈fact join depends on."""
    from bytesprocessor_spark.sources.tables import load_table, write_bucketed

    orders = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    write_bucketed(
        orders, "b_orders", ["o_orderkey"], 4,
        sort_cols=["o_orderkey"], path=str(tmp_path / "b_orders"),
    )
    write_bucketed(
        li, "b_lineitem", ["l_orderkey"], 4,
        sort_cols=["l_orderkey"], path=str(tmp_path / "b_lineitem"),
    )
    try:
        bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
        # force the sort-merge path so the absent Exchange is provably
        # bucketing (a broadcast join would hide it)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = bl.join(bo, bl.l_orderkey == bo.o_orderkey).groupBy("o_orderstatus").count()
            assert j.count() > 0
            plan = executed_plan(j)
            assert "SortMergeJoin" in plan
            # exactly one exchange: the final groupBy; the join itself
            # is co-located so neither input shuffles
            assert shuffle_count(j) == 1, plan
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        # unbucketed twin: same join plans two extra shuffles
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            uj = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy("o_orderstatus").count()
            assert shuffle_count(uj) >= 3
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_pack_sequences_single_shuffle(spark):
    """L6 packing is one (stratum, shard) shuffle — no global sort."""
    df = QUERIES["pack_sequences"](spark, SF_DIR)
    assert shuffle_count(df) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" not in plan


def test_session_sequences_single_shuffle(spark):
    """Sessionize + assemble reuses one user_id partitioning for both
    windows and the aggregation."""
    df = QUERIES["session_sequences"](spark, SF_DIR)
    assert shuffle_count(df) == 1


def test_contamination_probe_broadcasts(spark):
    """The probe side broadcasts; the corpus grams never shuffle for
    the join (only the probe-dedup agg exchanges)."""
    df = QUERIES["text_contamination"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)


def test_stratified_sample_window_group_limit(spark):
    """rank<=k is pushed map-side (WindowGroupLimit partial mode) —
    each task keeps 100 rows per stratum before the shuffle."""
    df = QUERIES["sample_stratified"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert shuffle_count(df) == 1


def test_corpus_curation_two_exchanges(spark):
    """Dedup window + final source agg: exactly two exchanges, no
    extra materialization between the fused filter stages."""
    df = QUERIES["corpus_curation"](spark, SF_DIR)
    assert shuffle_count(df) == 2


def test_q6_full_pushdown_no_join(spark):
    """Q6 is the pure scan query: every predicate reaches parquet and
    the plan has no join and exactly the one agg exchange."""
    df = QUERIES["q6_forecast_revenue"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert shuffle_count(df) == 1
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed and "l_quantity" in pushed


def test_q10_broadcasts_dims(spark):
    df = QUERIES["q10_returned_items"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    pushed = " ".join(pushed_filters(df))
    assert "o_orderdate" in pushed and "l_returnflag" in pushed


def test_q14_broadcast_and_month_pushdown(spark):
    df = QUERIES["q14_promo_revenue"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    assert any("l_shipdate" in p for p in pushed_filters(df))


def test_q18_single_join_shuffle_topk(spark):
    df = QUERIES["q18_large_orders"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_q7_broadcasts_dims_one_fact_shuffle(spark):
    """Q7's only big shuffle is lineitem ⋈ orders; customer/supplier/
    nation-role dims all broadcast and the date filter reaches parquet."""
    df = QUERIES["q7_volume_shipping"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    assert any("l_shipdate" in p for p in pushed_filters(df))


def test_q8_star_join_all_dims_broadcast(spark):
    df = QUERIES["q8_market_share"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    pushed = " ".join(pushed_filters(df))
    assert "o_orderdate" in pushed and "p_type" in pushed


def test_q15_no_extra_fact_scan_shuffles(spark):
    """Q15 reuses the same supplier-revenue aggregate for the max and
    the final join: the lineitem date filter pushes down, dims
    broadcast, and no cartesian appears for the scalar-max compare."""
    df = QUERIES["q15_top_supplier"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    assert any("l_shipdate" in p for p in pushed_filters(df))


def test_q17_fact_never_shuffles(spark):
    """Q17's decorrelated per-part aggregate is small enough to
    broadcast back onto the fact, so the only data shuffles are the
    per-part agg itself and the final single-partition agg — the
    lineitem fact rows are never hash-exchanged."""
    df = QUERIES["q17_small_quantity_revenue"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    plan = executed_plan(df)
    data_exchanges = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert data_exchanges <= 2


def test_q22_anti_join_no_cartesian(spark):
    """The broadcast scalar (avg balance) must not plan as a cartesian
    nested loop; the NOT EXISTS becomes a plain anti join."""
    df = QUERIES["q22_dormant_customers"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_q9_single_fact_shuffle(spark):
    """Q9's star join: part/supplier/nation broadcast; the only data
    shuffles are lineitem ⋈ orders and the final group agg."""
    df = QUERIES["q9_product_profit"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    assert any("p_type" in p for p in pushed_filters(df))


def test_q11_shared_partkey_agg(spark):
    """Q11's per-part value aggregate feeds both the global-total
    scalar and the filter — the partkey shuffle must appear once, the
    total as a broadcast, never a cartesian."""
    df = QUERIES["q11_important_parts"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q21_semi_and_anti_on_one_key(spark):
    """Q21's EXISTS/NOT EXISTS pair must decorrelate to a semi and an
    anti join on l_orderkey — no correlated re-execution."""
    df = QUERIES["q21_waiting_suppliers"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_fused_pcap_single_python_op(spark, tmp_path):
    """The fused pcap read (features=True) must plan exactly ONE
    Python operator (the parse worker's mapInArrow computes features
    on its own Arrow batch) and zero exchanges — a second Python node
    in the stage is the chained-runner stall this design exists to
    avoid."""
    import struct as _s

    from bytesprocessor_spark.sources.pcap import read_pcap, write_pcap

    payload = bytes(range(64))
    l4 = _s.pack(">HHIIBBHHH", 1024, 443, 0, 0, 0x50, 0x18, 8192, 0, 0) + payload
    hdr = _s.pack(
        ">BBHHHBBH4s4s", 0x45, 0, 20 + len(l4), 1, 0, 64, 6, 0,
        bytes([10, 0, 0, 1]), bytes([10, 0, 0, 2]),
    )
    eth = b"\x02" * 6 + b"\x01" * 6 + _s.pack(">H", 0x0800)
    p = str(tmp_path / "one.pcap")
    write_pcap(p, [(1000.0 + i, eth + hdr + l4) for i in range(50)])

    df = read_pcap(spark, p, features=True, ranges=((1000.0, 2000.0),))
    plan = executed_plan(df)
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert shuffle_count(df) == 0
    rows = df.select("features").limit(1).collect()
    assert len(rows[0][0]) == 1525


def test_funnel_shares_user_partitioning(spark):
    """All three funnel stages key on user_id; the chain must not plan
    a cartesian, and the final 1-row count joins must be broadcasts,
    not shuffles of the per-user state."""
    df = QUERIES["events_funnel"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan


def test_centroids_partial_aggregate_before_shuffle(spark):
    """The (label, dim) sums must partial-aggregate map-side: the
    exploded vector rows are dims× the corpus and must collapse before
    the exchange."""
    df = QUERIES["embedding_centroids"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "partial_sum" in plan


def test_semantic_dedup_cell_equijoin_only(spark):
    """SemDeDup's pair scan must be the cell equi-join — no nested-loop
    or cartesian over corpus x corpus (that would be the O(n^2) plan
    the cluster bound exists to avoid); assignment stays a map-side
    Arrow eval, never a join against a centroid table."""
    df = QUERIES["dedup_semantic_pairs"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # hash equi-join on the cell key (broadcast at fixture scale; a
    # shuffle join at corpus scale — both are the bounded-pair shape)
    assert "Join [cell" in plan or "Join cell" in plan or "HashJoin [cell" in plan or "BroadcastHashJoin [cell" in plan


def test_tfidf_idf_broadcasts_onto_tf(spark):
    """The vocabulary-sized idf table must broadcast onto the (doc,
    token) tf stream — shuffling the corpus-sized tf side on token to
    meet a tiny dimension is the classic scale regression."""
    df = QUERIES["text_tfidf_topterms"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)


def test_surprisal_lp_broadcasts_onto_token_stream(spark):
    """Unigram surprisal joins the vocabulary-sized lp table back onto
    the exploded token stream as a broadcast; per-doc sums are integer
    (order-independent) so partial aggregation is safe and expected."""
    df = QUERIES["text_unigram_surprisal"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)


def test_verify_cosine_single_python_eval(spark):
    """The pair-verify cosine must be evaluated ONCE: the
    withColumn+filter shape otherwise compiles to two ArrowEvalPython
    nodes (one feeding the Filter, one recomputing the projection),
    doubling the Python-worker cost of every verify join.  Pinned via
    the nondeterministic flag on cosine_pairs_udf."""
    for name in ("dedup_semantic_pairs", "dedup_embedding_lsh"):
        plan = executed_plan(QUERIES[name](spark, SF_DIR))
        assert plan.count("_cos(") == 1, f"{name}: {plan.count('_cos(')} evals"


def test_ewma_single_window_exchange(spark):
    """The EWMA feature costs exactly one exchange (hash-partition by
    user for the bounded-frame window) — a second shuffle would mean
    the weighted fold left the window operator."""
    df = QUERIES["events_ewma"](spark, SF_DIR)
    assert shuffle_count(df) <= 1
    assert "Window" in executed_plan(df)


def test_incremental_dedup_never_shuffles_text(spark):
    """Ingest dedup exchanges only 32-byte hashes (+ the id): the text
    column must not appear in any Exchange input schema."""
    from bytesprocessor_spark.operators.dedup import incremental_exact_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    delta = docs.where(F.col("doc_id") % 2 == 1)
    out = incremental_exact_dedup(delta, corpus).select("doc_id")
    plan = executed_plan(out)
    assert "Exchange" in plan
    for frag in plan.split("Exchange")[1:]:
        # the partitioning expression list ends at the first ']'
        assert "text" not in frag.split("]")[0], frag.split("]")[0]


def test_length_batches_no_full_data_single_partition(spark):
    """Distributed global rank: the full-data row_number window must be
    partitioned (by the range-partition id), and the plan has NO
    single-partition exchange at all — the #partitions-sized offsets
    table runs its cumulative window coalesced with an explicit
    single-group column (the naive global Window.orderBy plan funnels
    every row through one task)."""
    df = QUERIES["pack_length_batches"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "windowspecdefinition(__pid" in plan
    assert "Exchange SinglePartition" not in plan


def test_simhash_sketch_partial_aggregation(spark):
    """The aggregated sketch path must run its bit-sums partial
    (map-side) before the doc-id shuffle — the exploded shingle table
    is ~text-size and must collapse to n_docs rows per partition first;
    the pair join stays equi-join-only."""
    from bytesprocessor_spark.operators.dedup import (
        simhash_near_dup_pairs,
        simhash_sketch_table,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sk = simhash_sketch_table(docs, hash_mode="md5")
    plan = executed_plan(sk)
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan

    pairs = simhash_near_dup_pairs(docs, hash_mode="md5")
    pplan = executed_plan(pairs)
    assert "CartesianProduct" not in pplan
    assert "BroadcastNestedLoopJoin" not in pplan


def test_scd2_reuses_one_custkey_partitioning(spark):
    """SCD2's lag window, run-collapse groupBy, and range-closing lead
    window all key on custkey — the plan must not re-shuffle between
    them (plus the final presentation sort)."""
    df = QUERIES["scd2_order_priority"](spark, SF_DIR)
    # one hash partitioning on custkey + the output range sort
    assert shuffle_count(df) <= 3
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # gaps-and-islands, never a self-join


def test_audit_ri_child_rows_never_shuffle(spark):
    """Every FK edge joins a broadcast DISTINCT parent key set: no
    Exchange may carry child-table rows (the only shuffles allowed are
    the tiny distinct-parent and final one-row aggregations)."""
    df = QUERIES["audit_referential_integrity"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


def test_gap_fill_fact_scanned_not_per_cell(spark):
    """The spine is generated (sequence/explode), the events table
    appears as scans — bounds + distinct types + the filtered
    aggregate — not once per spine cell, and the spine join must not
    be a cartesian."""
    df = QUERIES["events_gap_fill"](spark, SF_DIR)
    assert_plan(df, forbid_cartesian=False)  # the 5-type x 1-row bounds cross is fine
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 3


def test_profile_card_two_scans(spark):
    """The six-column stats card reads orders exactly twice — one
    hash-buffered distinct-count pass and one min/max/null fold (the
    oracle's UNION ALL shape scans six times; a fused single aggregate
    demotes to a SortAggregate that sorts the 7x-expanded scan,
    measured 3.3 s vs 0.9 s at sf0.1 — see the query docstring)."""
    df = QUERIES["profile_orders_card"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2


def test_classifier_single_agg_shuffle(spark):
    """Hash/weight/score are scan-projection expressions: the plan has
    no join and only the doc/source aggregation exchanges."""
    df = QUERIES["text_classifier_score"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_prefix_rerank_no_cartesian_beyond_broadcast(spark):
    """Stage 1 is a broadcast nested loop over the tiny query set;
    stage 2 re-fetch must be an equi-join (broadcast under AQE), never
    a second cartesian over the corpus."""
    df = QUERIES["similarity_prefix_rerank"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly one nested-loop (the deliberate stage-1 broadcast cross)
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_hard_negatives_windowgrouplimit_and_broadcast(spark):
    """The mining batch must broadcast onto the corpus scan (no corpus
    shuffle for scoring), and the per-query top-k filter must push
    down as WindowGroupLimit so each partition pre-trims to k rows
    before the window exchange — the difference between shuffling
    ~k·corpus rows and ~k·partitions rows at 100 TB."""
    df = QUERIES["similarity_hard_negatives"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert_plan(df, requires_broadcast=True)


def test_embedding_outliers_broadcasts_centroids(spark):
    """Distance scoring must broadcast the labels x dims centroid table
    onto the exploded vector feed — a sort-merge join there would
    shuffle the corpus-sized explode by (label, pos)."""
    df = QUERIES["embedding_outliers"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_incremental_minhash_no_text_in_bucket_join(spark):
    """The delta-vs-corpus candidate join must pair on (band, bh)
    longs — broadcast of the (small) delta band table, or a (band,
    bh)-keyed shuffle when the delta outgrows broadcast; document
    text stays in the map stage either way (every exchange is keyed
    on the doc id or the band hash, mirroring the exact-hash
    incremental row's plan gate)."""
    df = QUERIES["dedup_minhash_incremental"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan or "hashpartitioning(band" in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(text" not in plan


def test_runtime_bloom_filter_prunes_shuffle_join_fact_side(spark):
    """100 TB posture pin: with runtime bloom filters enabled, a
    selective dim filter injects a bloom_filter_agg on the dim side
    and a might_contain predicate into the FACT scan stage of a
    shuffle join — rows that can't match are dropped before the
    exchange instead of shuffling 100 TB to be discarded by the join.
    At real scale the default thresholds (10 GB application-side scan)
    fire on their own; the test lowers them to make the optimization
    observable on the fixture."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        part = spark.read.parquet(f"{SF_DIR}/part.parquet").where(
            F.col("p_brand") == "Brand#3"
        )
        j = (
            li.join(part, li.l_partkey == part.p_partkey)
            .groupBy("p_brand")
            .count()
        )
        plan = executed_plan(j)
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """100 TB posture pin: a fact table partitioned on the join key
    must get a dynamicpruningexpression in its PartitionFilters when
    joined to a filtered dim — the scan reads only the partitions the
    dim's surviving keys name, instead of all of them.  This is the
    at-rest layout contract for date-partitioned event/order lakes
    (partition by day, join to a filtered calendar/dim)."""
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").withColumn(
        "o_year", F.year("o_orderdate")
    )
    part_dir = str(tmp_path / "orders_part")
    o.write.partitionBy("o_year").mode("overwrite").parquet(part_dir)
    fact = spark.read.parquet(part_dir)
    dim = spark.createDataFrame(
        [(1995, "keep"), (1996, "keep"), (1997, "drop")], "y int, tag string"
    ).where(F.col("tag") == "keep")
    j = fact.join(dim, fact.o_year == dim.y).groupBy("y").count()
    plan = executed_plan(j)
    assert "dynamicpruning" in plan.lower()
    assert j.count() > 0


def test_static_partition_pruning_on_partition_value_filter(spark, tmp_path):
    """S17 plan gate: a literal filter on the hive partition column
    must land in the scan's PartitionFilters (directory-level pruning
    — unmatched partitions are never listed), not as a post-scan
    Filter.  This is the property that makes partitioned_table_prune's
    layout pay off at 100 TB: reading one partition costs one
    partition."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    part_dir = str(tmp_path / "events_part")
    ev.select("event_id", "event_type").write.partitionBy(
        "event_type"
    ).parquet(part_dir)
    pruned = spark.read.parquet(part_dir).where(
        F.col("event_type").isin("view", "purchase")
    )
    plan = executed_plan(pruned)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan
    assert pruned.count() > 0


def test_corpus_wide_plan_audit_clean(spark):
    """The whole-registry generalization of the gates above: EXPLAIN
    every non-eager entry and assert no un-allowlisted cartesian /
    nested-loop / row-at-a-time-Python operator anywhere (allowlist
    with per-entry reasons in tools/plan_audit.py).  ~90 s of pure
    planning — the price of making the 100 TB posture a property of
    the REGISTRY, not just of the entries someone remembered to gate."""
    from tools.plan_audit import audit

    assert audit(spark, SF_DIR) == []


def test_plan_audit_flags_injected_global_ntile(spark):
    """The single-partition detector itself: a deliberately-injected
    global ntile over lineitem (the exact shape the r8 verdict called
    the last structural scale-killer) must be flagged; the same window
    over a bounded aggregate and over a LIMIT output must not."""
    from pyspark.sql import Window

    from tools.plan_audit import unbounded_single_partition

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    bad = li.select(
        F.ntile(10)
        .over(Window.orderBy("l_extendedprice", "l_orderkey"))
        .alias("d")
    )
    assert unbounded_single_partition(executed_plan(bad))
    agg = li.groupBy("l_returnflag").agg(F.count("*").alias("n"))
    # a bare global window over an aggregate ALSO flags — group count
    # is not boundedness (per-entity keys are corpus-sized; this is
    # the RFM/surprisal shape)
    bad2 = agg.select(F.sum("n").over(Window.orderBy("l_returnflag")).alias("c"))
    assert unbounded_single_partition(executed_plan(bad2))
    # the blessed bounded form removes the SinglePartition entirely
    from bytesprocessor_spark.operators.ranking import bounded_single_group

    okb = bounded_single_group(agg).select(
        F.sum("n").over(Window.partitionBy("__opid").orderBy("l_returnflag")).alias("c")
    )
    assert not unbounded_single_partition(executed_plan(okb))
    # a global (no-groupBy) aggregate's merge exchange stays fine
    ok_agg = li.agg(F.count("*").alias("n"))
    assert not unbounded_single_partition(executed_plan(ok_agg))
    ok2 = (
        li.orderBy("l_extendedprice", "l_orderkey")
        .limit(100)
        .select(
            F.row_number()
            .over(Window.orderBy("l_extendedprice", "l_orderkey"))
            .alias("r")
        )
    )
    assert not unbounded_single_partition(executed_plan(ok2))


def test_eval_auc_partial_agg_then_bounded_window(spark):
    """The corpus-sized stage is ONE partial+final hash aggregate on
    the quantized score; the single-partition window runs over the
    distinct-score table (bounded by the score domain), never over
    corpus rows — and nothing Python touches the plan."""
    df = QUERIES["eval_auc"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # one score grouping (partial+final), then the scalar finish: the
    # plan never exchanges more than those two aggregate boundaries
    assert plan.count("Exchange") <= 3


def test_eval_pr_curve_single_corpus_aggregate(spark):
    """Min-max bounds and positives-total are 1-row broadcast scalar
    aggregates; the corpus collapses in ONE bucket histogram partial
    agg; all threshold math runs on the 11-row grid."""
    df = QUERIES["eval_pr_curve"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # embeddings feeds the pm normalization + the two scalar aggs
    assert plan.count("Scan parquet") <= 3
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_group_kfold_map_side_fold_hash(spark):
    """Fold assignment is a projection (md5 in codegen) — the only
    corpus-sized exchange is the (fold, type) partial aggregate; the
    fold/type/global totals re-aggregate the tiny cell table and come
    back as broadcasts."""
    df = QUERIES["events_group_kfold"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "SortMergeJoin" not in plan  # totals must broadcast, never SMJ


def test_knn_label_prop_no_all_pairs(spark):
    """Neighbor candidates come from the SRP (tbl, bkt) equi-join —
    the plan must not contain a cartesian between corpus-sized sides;
    the only per-pair work is the bounded candidate list."""
    df = QUERIES["eval_knn_label_prop"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_leakage_split_text_never_in_exchange(spark):
    """The split shuffles shingle hashes and component labels — raw
    document text must stay out of every exchange (the incremental-
    dedup invariant, extended to the split pipeline)."""
    df = QUERIES["corpus_leakage_safe_split"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text" not in m.group(0), m.group(0)


# ---------------------------------------------------------------------------
# Round-5 continuation batch: retrieval / linkage / traversal /
# forecast / privacy / dimension time travel
# ---------------------------------------------------------------------------

def test_bm25_prunes_scan_and_broadcasts_stats(spark):
    """The corpus scan reads only (doc_id, text); document frequency
    (3 rows) and corpus totals (1 row) broadcast onto the postings —
    the corpus-scale shuffles are the doc_id aggregates only."""
    df = QUERIES["text_bm25_topk"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_linkage_blocked_join_is_equi_not_cartesian(spark):
    """Blocking must turn the fuzzy match into an equi-join: no
    cartesian and no nested-loop pair enumeration anywhere — this IS
    the scale contract vs F10's declared cross join."""
    df = QUERIES["linkage_blocked_fuzzy"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_asof_lookup_broadcasts_dimension(spark):
    """The fact side never shuffles for the lookup: the SCD2 ranges
    broadcast, and the only exchanges are the dimension build's
    custkey window plus the final small aggregate."""
    df = QUERIES["scd2_asof_lookup"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan  # equi on custkey, range as residual


def test_holt_forecast_two_aggregation_shuffles(spark):
    """Holt reduces map-side to (type, day) partials, then collects
    per-type series: two exchanges, nothing proportional to events."""
    df = QUERIES["events_holt_forecast"](spark, SF_DIR)
    assert shuffle_count(df) <= 3  # day agg + type collect (+AQE read)
    assert all(len(c) <= 3 for c in scan_columns(df))


def test_k_anonymity_single_pass(spark):
    """One hash aggregate over the quasi-identifier tuple; the total
    is a 1-row broadcast back onto the 4-bucket result."""
    df = QUERIES["privacy_k_anonymity"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True)
    assert all(len(c) <= 3 for c in scan_columns(df))


def test_doremi_scan_pruned_and_stats_broadcast(spark):
    """The corpus is tokenized once from a (source, text) scan; the
    vocab lp table and the 1-row totals/normalizer frames broadcast —
    the corpus-scale shuffles are the token and source aggregates."""
    df = QUERIES["corpus_doremi_mixture"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_source_matrix_no_pair_enumeration(spark):
    """The contamination matrix rides the inverted-index pair scan:
    no cartesian and no nested-loop anywhere — shuffle keys are
    shingle hashes, then source pairs."""
    df = QUERIES["dedup_source_matrix"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_distinctive_terms_broadcasts_vocab_stats(spark):
    """One (source, tok) hash agg over the token explode; the token
    totals / source totals / corpus total all broadcast back."""
    df = QUERIES["text_distinctive_terms"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_quantile_bins_no_raw_row_window(spark):
    """The cumulative window runs over the BOUNDED band histogram and
    bin assignment is a broadcast sorted-cutpoint array in codegen —
    the raw value stream is never globally sorted or windowed."""
    df = QUERIES["orders_quantile_bins"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    plan = executed_plan(df)
    # every Window in the plan sits downstream of the band HashAggregate,
    # never over the orders scan: the scan feeds exactly 2 columns
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_rolling_robust_single_user_exchange(spark):
    """One shuffle on user_id (plus AQE reads); the purchase filter
    reaches the parquet scan."""
    df = QUERIES["events_rolling_robust"](spark, SF_DIR)
    assert shuffle_count(df) <= 2
    assert any("event_type" in p for p in pushed_filters(df))


def test_kmv_bottom_k_is_take_ordered(spark):
    """The bottom-k is TakeOrdered (per-partition k then a k-row
    merge), the DISTINCT shuffle carries 8-byte hash longs only, and
    the scan reads the single key column."""
    df = QUERIES["agg_kmv_distinct"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert all(len(c) <= 1 for c in scan_columns(df))


def test_abc_pareto_window_over_entity_table(spark):
    """The cumulative window input is the per-customer aggregate (one
    hash agg absorbs the orders scan); the total is a 1-row
    broadcast."""
    df = QUERIES["orders_abc_pareto"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_l_diversity_single_qi_aggregate(spark):
    """One (QI, sensitive) aggregate pass (Spark expands the distinct
    count into two key-bounded partials); 1-row total broadcast back
    onto the 3-bucket readout."""
    df = QUERIES["privacy_l_diversity"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    assert all(len(c) <= 3 for c in scan_columns(df))


def test_acf_collapses_before_type_window(spark):
    """The (type, day) partial agg absorbs the event scan; the lag
    window partitions by type over day-bounded series; per-type stats
    and the 3-row lag literal broadcast."""
    df = QUERIES["events_acf"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    assert all(len(c) <= 3 for c in scan_columns(df))


def test_ks_drift_window_over_band_histogram(spark):
    """One band-histogram agg absorbs the scan; the ECDF window runs
    over the bounded band table; totals broadcast; 1-row readout."""
    df = QUERIES["drift_ks_orders"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_gini_rank_over_entity_table(spark):
    """The rank window input is the per-customer aggregate; one 1-row
    reduction after it — the orders scan feeds exactly 2 columns."""
    df = QUERIES["orders_gini"](spark, SF_DIR)
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_jsd_grid_is_vocab_bounded(spark):
    """The evaluation grid is sources x vocabulary — built from the
    two AGGREGATED tables; the corpus-scale shuffle is the (source,
    tok) count only, and the scan reads (source, text)."""
    df = QUERIES["text_jsd_sources"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True)
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_rrf_fusion_branches_stay_bounded(spark):
    """The BM25 branch keeps its L4p shape (broadcast stats, pruned
    scan); the cosine branch is a 1-row broadcast probe; the fusion
    join itself is over two <=20-row lists."""
    df = QUERIES["retrieval_rrf_fusion"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_bot_score_no_array_collection(spark):
    """The rank-median is fully distributed: every shuffle keys on
    user_id, and no collect_list/ObjectHashAggregate materializes a
    per-user gap array (the skew hazard the design avoids)."""
    df = QUERIES["events_bot_score"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "collect_list" not in plan
    assert all(len(c) <= 3 for c in scan_columns(df))


def test_entropy_profile_prunes_each_union_branch(spark):
    """Each unpivot branch scans only its own column (plus the shared
    date column for the year branch) — no branch reads the table wide."""
    df = QUERIES["profile_entropy_orders"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    assert all(len(c) <= 1 for c in scan_columns(df))


def test_kmv_set_ops_sketch_only_movement(spark):
    """Both sketches are TakeOrdered bottom-k over distinct-hash
    partials; everything downstream is k-row arithmetic (the exact
    audit column is the only key-level join)."""
    df = QUERIES["agg_kmv_set_ops"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert all(len(c) <= 1 for c in scan_columns(df))


def test_markov_stationary_is_localized_literal(spark):
    """r11: the corpus-scale work (A15's lag window + pair agg) runs
    once at construction against the session-memoized transition
    matrix; the power iteration walks the LOCALIZED K²-row matrix in
    exact int arithmetic and the returned plan is a pure JVM literal
    frame — no parquet scan, no join, no corpus shuffle left in the
    timed plan."""
    df = QUERIES["events_markov_stationary"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "Scan parquet" not in plan
    assert "Join" not in plan
    assert scan_columns(df) == []
    # trajectory equality: the literal values match the Spark
    # broadcast-iteration the entry previously planned, recomputed
    # here from the same matrix
    from bytesprocessor_spark.queries_curation import (
        _markov_p,
        _markov_pi_rows,
    )

    rows = {r["state"]: r["pi_ppm"] for r in df.collect()}
    expect = dict(_markov_pi_rows(_markov_p(spark, SF_DIR).collect()))
    assert rows == expect


def test_kaplan_meier_windows_over_calendar_table(spark):
    """The latency histogram absorbs the subjects; both windows run
    over the calendar-bounded step table; the subject total is a 1-row
    broadcast."""
    df = QUERIES["orders_kaplan_meier"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_zipf_fit_single_token_aggregate(spark):
    """One token-count agg absorbs the explode; the spectrum window
    and the moment reduction run over <=500 rows; scan reads text only."""
    df = QUERIES["text_zipf_fit"](spark, SF_DIR)
    assert all(len(c) <= 1 for c in scan_columns(df))


def test_readability_counts_in_scan_projection(spark):
    """Per-doc regex counting happens in the projection (no explode);
    one source hash agg; the scan reads (source, text) only."""
    df = QUERIES["text_readability"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "Generate" not in plan  # no explode anywhere
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_entropy_rate_k_row_composition(spark):
    """A15's corpus-scale plan plus broadcast K-row iterations; the
    entropy weighting itself is K-row arithmetic."""
    df = QUERIES["events_entropy_rate"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    assert all(len(c) <= 4 for c in scan_columns(df))


def test_degree_histogram_three_aggregates_only(spark):
    """Edge distinct -> degree agg -> histogram agg: strictly cheaper
    than any traversal; no window, no nested loop."""
    df = QUERIES["graph_degree_histogram"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_sprt_window_over_day_table(spark):
    """One day hash agg absorbs the scan; the cumulative LLR window
    runs over the calendar-bounded day table."""
    df = QUERIES["events_sprt"](spark, SF_DIR)
    assert all(len(c) <= 2 for c in scan_columns(df))
    assert shuffle_count(df) <= 3


def test_isotonic_bounded_minimax_joins(spark):
    """The corpus collapses to <=10 bins in one partial agg; the
    interval grid and minimax joins are bin-bounded broadcasts."""
    df = QUERIES["eval_isotonic_calibration"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    assert all(len(c) <= 3 for c in scan_columns(df))


def test_negative_sampling_vocab_bounded(spark):
    """One token agg absorbs the explode; smoothing is a map
    expression on the vocab table; 1-row totals broadcast."""
    df = QUERIES["corpus_negative_sampling"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    assert all(len(c) <= 1 for c in scan_columns(df))


def test_rake_shuffles_keyed_by_doc_word_phrase(spark):
    """Phrase build windows/aggs key on doc; word scores on the
    vocab-bounded word table (broadcast back); final agg on phrase.
    No pairing, no nested loop."""
    df = QUERIES["text_rake_keyphrases"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_dim_date_no_table_scan(spark):
    """A generated spine: the plan contains no parquet scan at all."""
    df = QUERIES["dim_date_build"](spark, SF_DIR)
    assert scan_columns(df) == []


def test_theil_sen_pair_join_calendar_bounded(spark):
    """The pair join runs over the (type, day) AGGREGATE, keyed on
    event_type — corpus rows never pair; the median is a rank window
    over the pair table."""
    df = QUERIES["events_theil_sen"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert all(len(c) <= 3 for c in scan_columns(df))


def test_cv_auc_fold_partitioned_window(spark):
    """The corpus collapses to the (fold, score) table map-side; the
    prefix window partitions by fold (never single-partition over
    corpus rows)."""
    df = QUERIES["eval_cv_auc"](spark, SF_DIR)
    assert all(len(c) <= 3 for c in scan_columns(df))
    assert shuffle_count(df) <= 3


def test_mann_whitney_value_domain_bounded(spark):
    """One (type, value) partial agg bounded by the quantized value
    domain; the prefix window partitions by type."""
    df = QUERIES["events_mann_whitney"](spark, SF_DIR)
    assert all(len(c) <= 3 for c in scan_columns(df))
    assert shuffle_count(df) <= 3


def test_chi_square_contingency_collapse(spark):
    """The corpus collapses to the 2K-cell contingency table in one
    hash agg; marginals broadcast back; 1-row readout."""
    df = QUERIES["events_chi_square"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_dau_growth_distinct_then_bounded(spark):
    """One (user, day) distinct is the only corpus-scale shuffle; the
    x7 WAU expansion is map-side before its day-keyed agg; the only
    window is the calendar-bounded cumulative sum."""
    df = QUERIES["events_dau_growth"](spark, SF_DIR)
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_cohort_ltv_windows_over_curve_table(spark):
    """One custkey agg + join back + one (cohort, age) agg; the
    cumulative window runs over the years x years curve table."""
    df = QUERIES["orders_cohort_ltv"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    assert all(len(c) <= 3 for c in scan_columns(df))


def test_audience_overlap_user_keyed_self_join(spark):
    """The self-join keys on user_id (bounded <=K fan-out per user,
    not a cartesian); sizes broadcast back onto the K^2 pair table."""
    df = QUERIES["events_audience_overlap"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_power_analysis_single_moment_pass(spark):
    """One partial agg to K moment rows; K-row arithmetic after."""
    df = QUERIES["events_power_analysis"](spark, SF_DIR)
    assert shuffle_count(df) <= 2
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_t_closeness_cell_agg_absorbs_scan(spark):
    """One (QI, sensitive) hash agg absorbs the customer scan; group
    and global distributions re-aggregate the cell table; totals and
    the 5-row global side broadcast back."""
    df = QUERIES["privacy_t_closeness"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    assert all(len(c) <= 3 for c in scan_columns(df))


def test_did_single_moment_pass(spark):
    """The 2x2 cell moments collapse in ONE map-side-combined hash
    aggregate on event_type — no join, no window; the DiD/SE double
    tree runs on K rows."""
    df = QUERIES["events_did"](spark, SF_DIR)
    assert shuffle_count(df) <= 2
    plan = executed_plan(df)
    assert "Join" not in plan  # pure aggregate, nothing to join
    assert all(len(c) <= 4 for c in scan_columns(df))


def test_adamic_adar_no_cartesian_and_pruned_scan(spark):
    """Wedges come from an equi-join on the centre node over the
    decile-pruned edge list — never a cartesian; the lineitem scan
    reads exactly the two graph columns."""
    df = QUERIES["graph_adamic_adar"](spark, SF_DIR)
    assert_plan(df, forbid_cartesian=True)
    # the only nested loop is the 1-row threshold frame broadcast onto
    # the pair-weight table (allowlisted in tools/plan_audit.py); the
    # wedge join itself must be a hash join on the centre node
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_temperature_sample_metadata_query(spark):
    """One partial agg to K language rows absorbs the scan; every
    exchange after it (global totals, final K-row sort) moves a
    language-count-sized table — a metadata query at any SF."""
    df = QUERIES["corpus_temperature_sample"](spark, SF_DIR)
    assert shuffle_count(df) <= 5
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_growth_accounting_single_corpus_shuffle(spark):
    """The (user, week) distinct is the only corpus-scale exchange;
    lag runs user-partitioned; the wk-1 self join moves week-count
    tables and broadcasts."""
    df = QUERIES["events_growth_accounting"](spark, SF_DIR)
    assert_plan(df, requires_broadcast=True, forbid_cartesian=True)
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_forecast_baselines_one_window_pass(spark):
    """Both lag offsets ride ONE type-partitioned window pass over the
    (type, day) aggregate; the model union doubles day-count rows."""
    df = QUERIES["events_forecast_baselines"](spark, SF_DIR)
    plan = executed_plan(df)
    assert plan.count("WindowExec") <= 1 or plan.count("Window") <= 2
    assert all(len(c) <= 3 for c in scan_columns(df))


def test_skyline_windows_over_domain_bounded_cells(spark):
    """The part scan collapses to distinct (price, size) cells first;
    both windows run over cell tables bounded by the price domain,
    and the scan reads only the three skyline columns."""
    df = QUERIES["part_skyline"](spark, SF_DIR)
    assert_plan(df, forbid_cartesian=True)
    assert all(len(c) <= 3 for c in scan_columns(df))


def test_quality_sweep_histogram_sized_windows(spark):
    """One tokenize+bucket agg absorbs the scan; every window after
    runs over the 10-row bucket histogram."""
    df = QUERIES["text_quality_sweep"](spark, SF_DIR)
    assert shuffle_count(df) <= 4
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_range_join_binned_is_pure_equi_join(spark):
    """J6b: the bucketed range join plans as an equi join on the grid
    bucket — no nested-loop operator anywhere — and reproduces the
    broadcast nested-loop form's result exactly (same tiers, same
    aggregate)."""
    df = QUERIES["range_join_binned"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    from pyspark.sql import functions as F

    from bytesprocessor_spark.operators.joins import range_join
    from bytesprocessor_spark.sources.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    tiers = spark.createDataFrame(
        [("small", 0.0, 9.99), ("medium", 10.0, 49.99), ("large", 50.0, 1000.0)],
        "tier string, lo double, hi double",
    )
    nl = (
        range_join(ev, tiers, fact_key="value", dim_lo="lo", dim_hi="hi")
        .groupBy("tier")
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100.0)
            .alias("total_value"),
        )
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, nl.collect()))


# --- round-8 entries ---


def test_welch_ttest_single_moment_pass(spark):
    """A81: the six int64 moments collapse in ONE map-side-combined
    global aggregate — no join, no window; the t/df double trees run
    on one row."""
    df = QUERIES["events_welch_ttest"](spark, SF_DIR)
    assert shuffle_count(df) <= 1
    plan = executed_plan(df)
    assert "Join" not in plan
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_feature_hashing_map_only_then_bounded_aggs(spark):
    """FE5: the encoder is a map-side hash on the scan; the only
    exchanges move the 64-bucket table and its histogram — no join,
    and the part scan reads exactly the three feature columns."""
    df = QUERIES["feature_hashing_trick"](spark, SF_DIR)
    # 4 exchanges: bucket agg, the two-phase distinct inside it, the
    # histogram agg, the readout sort — all over <= 64-row tables
    assert shuffle_count(df) <= 4
    plan = executed_plan(df)
    assert "Join" not in plan
    assert all(len(c) <= 3 for c in scan_columns(df))


def test_conversion_latency_user_keyed_window_no_join(spark):
    """A84: the last-view carry is ONE user-partitioned window — no
    join anywhere; the readout aggregate runs over the purchase rows."""
    df = QUERIES["events_conversion_latency"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "Join" not in plan
    assert all(len(c) <= 4 for c in scan_columns(df))


def test_changepoint_windows_over_daily_aggregate(spark):
    """A86: the corpus collapses to (type, day) counts first; every
    window and the argmax run over the calendar-bounded daily table,
    and the scan reads exactly the two columns."""
    df = QUERIES["events_changepoint"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "Join" not in plan
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_woe_category_aggregate_plus_total_broadcast(spark):
    """FE6: one category aggregate absorbs the scan; the only
    nested-loop is the allowlisted 1-row totals frame broadcast onto
    the bounded category table (FE2/FE4 discipline)."""
    df = QUERIES["orders_woe_encoding"](spark, SF_DIR)
    assert_plan(df, forbid_cartesian=True)
    # 5 exchanges, but only the category agg's partial sees corpus
    # rows — totals, the broadcast prep, and the readout sort all move
    # the <= |categories|-row table
    assert shuffle_count(df) <= 5
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_vocab_coverage_takeordered_prefix(spark):
    """L26 (r9 rewrite): one bigram-keyed aggregate absorbs the
    corpus; only the TakeOrdered top-max(k) prefix and a 1-row totals
    broadcast survive it — the rank/cumsum windows run over the
    bounded prefix, never a vocab-sized single-partition sort; the
    documents scan reads only the text column."""
    from tools.plan_audit import unbounded_single_partition

    df = QUERIES["vocab_coverage_curve"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    # the only SinglePartition exchange left is the benign 1-row
    # totals-aggregate merge (parent-aware detector passes it)
    assert not unbounded_single_partition(plan)
    assert "SortMergeJoin" not in plan  # totals frame must broadcast
    assert all(len(c) <= 1 for c in scan_columns(df))


def test_clustering_coeff_equi_joins_only(spark):
    """GR10: the rank cut, triangle enumeration, and per-node rollup
    plan as hash/sort-merge equi joins — no cartesian, no nested loop
    — and the lineitem scan reads exactly the two graph columns."""
    df = QUERIES["graph_clustering_coeff"](spark, SF_DIR)
    assert_plan(df, forbid_cartesian=True)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert all(len(c) <= 2 for c in scan_columns(df))


# --- round-8 second batch (experimentation/eval stats) ---


def test_kruskal_wallis_single_scan_bounded_windows(spark):
    """A85: ONE events scan feeds the (group, value) aggregate; the
    tie/cum windows and the global-total window all run over tables
    bounded by value cardinality or group count — no join, no second
    scan of the corpus."""
    df = QUERIES["events_kruskal_wallis"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_mcnemar_single_moment_pass(spark):
    """EV22: the five paired counters collapse in one map-side-combined
    global aggregate — the A81 single-pass shape."""
    df = QUERIES["eval_mcnemar"](spark, SF_DIR)
    assert shuffle_count(df) <= 1
    plan = executed_plan(df)
    assert "Join" not in plan
    assert all(len(c) <= 3 for c in scan_columns(df))


def test_cohens_kappa_marginal_aggregates_only(spark):
    """EV23: both marginal tables are label-keyed hash aggregates; the
    join and the totals window run over k-row tables."""
    df = QUERIES["eval_cohens_kappa"](spark, SF_DIR)
    assert_plan(df, forbid_cartesian=True)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_logrank_one_orderkey_join_then_daily_table(spark):
    """A86: the only corpus-sized operation is the orders⋈lineitem
    equi-join (Q3's shuffle); risk sets, arm totals, and the O/E/V
    readout all run over the calendar-bounded per-day table."""
    df = QUERIES["orders_logrank"](spark, SF_DIR)
    assert_plan(df, forbid_cartesian=True)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert all(len(c) <= 3 for c in scan_columns(df))


def test_ips_policy_value_context_keyed_aggs(spark):
    """EV24: both splits collapse to (ctx, action) hash aggregates;
    the policy table broadcast and the totals window run over
    context-bounded tables."""
    df = QUERIES["eval_ips_policy_value"](spark, SF_DIR)
    assert_plan(df, forbid_cartesian=True)
    plan = executed_plan(df)
    assert all(len(c) <= 4 for c in scan_columns(df))


def test_hits_equi_joins_and_persisted_edges(spark):
    """GR11: each half-round is an edge-table equi-join + hash
    aggregate (GR2's shape); no cartesian, no nested loop; scans read
    only the two join columns per table."""
    df = QUERIES["graph_hits"](spark, SF_DIR)
    assert_plan(df, forbid_cartesian=True)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_croston_weekly_aggregate_then_demand_point_windows(spark):
    """A89: one (part, week) hash aggregate absorbs the corpus; lag /
    list windows run over the sparse demand-point table; the final
    join is part-keyed; the lineitem scan reads exactly the three
    needed columns."""
    df = QUERIES["part_croston_demand"](spark, SF_DIR)
    assert_plan(df, forbid_cartesian=True)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert all(len(c) <= 3 for c in scan_columns(df))


def test_fdr_single_cell_aggregate_then_tiny_windows(spark):
    """A90: one (type, weekday) aggregate absorbs the corpus; the
    marginal/rank/step-up/q-value windows all run over the 35-row test
    table; no join; scan reads two columns."""
    df = QUERIES["events_fdr_bh"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "Join" not in plan
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_textrank_vocabulary_graph_iterations(spark):
    """L27: the corpus is touched once (map-only pair transforms on
    the text scan); the graph collapses to DISTINCT edges and each
    PageRank iteration is an equi-join + agg over the vocabulary
    graph — no cartesian, no nested loop."""
    df = QUERIES["text_textrank_keywords"](spark, SF_DIR)
    assert_plan(df, forbid_cartesian=True)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert all(len(c) <= 1 for c in scan_columns(df))


def test_cochran_armitage_one_aggregate_seven_rows(spark):
    """A91: one weekday-keyed aggregate absorbs the corpus; moment
    windows run over 7 rows; no join."""
    df = QUERIES["events_cochran_armitage"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "Join" not in plan
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_brown_forsythe_median_broadcast(spark):
    """A92: the k-row median table broadcasts back onto the scan (no
    shuffle of the fact table for the join); moment windows run over
    k rows."""
    df = QUERIES["events_brown_forsythe"](spark, SF_DIR)
    assert_plan(df, forbid_cartesian=True)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_qini_decile_assignment_then_ten_rows(spark):
    """EV25: decile assignment is the distributed-ntile device (range
    exchange + broadcast offsets — NO single-partition exchange);
    after it every aggregate and cumsum runs over 10 rows."""
    df = QUERIES["eval_qini_uplift"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "Exchange SinglePartition" not in plan
    assert "SortMergeJoin" not in plan  # offsets join must broadcast
    assert all(len(c) <= 4 for c in scan_columns(df))


def test_krippendorff_hash_aggs_only(spark):
    """EV26: rater fan-out is an array explode on the scan; unit and
    label rollups are hash aggregates; the only join keys on unit."""
    df = QUERIES["eval_krippendorff_alpha"](spark, SF_DIR)
    assert_plan(df, forbid_cartesian=True)
    plan = executed_plan(df)
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_panel_within_single_user_aggregate(spark):
    """A93: one user-keyed hash aggregate absorbs the corpus; both
    betas come from one global rollup of the entity-bounded term
    table; no join."""
    df = QUERIES["events_panel_within"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "Join" not in plan
    assert all(len(c) <= 3 for c in scan_columns(df))


def test_burstiness_vocab_rollup_takeordered(spark):
    """L28: (doc, term) aggregate then a vocabulary-bounded term
    rollup; top-k plans as TakeOrderedAndProject; no join; only the
    two needed columns scanned."""
    df = QUERIES["text_burstiness"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_tokenizer_audit_map_only_counters(spark):
    """L29: token counting is map-only on the scan (token strings
    never shuffle); one source-keyed aggregate; no join."""
    df = QUERIES["corpus_tokenizer_audit"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "Join" not in plan
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_weibull_orderkey_join_then_moments(spark):
    """A94: the orderkey equi-join is the only corpus-sized op; the
    rank window and moment aggregate run over the duration column."""
    df = QUERIES["orders_weibull_fit"](spark, SF_DIR)
    assert_plan(df, forbid_cartesian=True)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_capture_recapture_two_aggregates(spark):
    """A95: one user-keyed rollup (map-side-combinable MAX flags) +
    one 4-counter global rollup; no join."""
    df = QUERIES["events_capture_recapture"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "Join" not in plan
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_bradley_terry_bounded_duel_iterations(spark):
    """EV27: the daily aggregate absorbs the corpus; the duel build is
    a day-keyed equi self-join bounded by items-per-day; each MM
    iteration joins the k^2 pair table to the k-row strength table —
    no cartesian, no nested loop."""
    df = QUERIES["eval_bradley_terry"](spark, SF_DIR)
    assert_plan(df, forbid_cartesian=True)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert all(len(c) <= 3 for c in scan_columns(df))


def test_gumbel_calendar_max_then_rollup(spark):
    """A96: one calendar-keyed MAX aggregate absorbs the corpus; the
    moment rollup runs over the daily table; no join."""
    df = QUERIES["events_extreme_gumbel"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "Join" not in plan
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_pot_threshold_broadcast_then_tail_rank(spark):
    """A97: the exact-p95 threshold is a 1-row broadcast onto the
    scan (allowlisted non-equi filter); the rank window runs over the
    ~5% tail only."""
    df = QUERIES["events_peaks_over_threshold"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_eb_shrinkage_user_rollup_then_prior_broadcast(spark):
    """A98: one user-keyed aggregate absorbs the corpus; the 1-row
    MoM prior broadcasts onto the entity-bounded rate table
    (allowlisted); the decile readout runs over users, not events."""
    df = QUERIES["events_eb_shrinkage"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_burst_kleinberg_bounded_grid_arrow_replay(spark):
    """A99: volume work is the (type, day) aggregate; the grid and
    emissions are calendar-bounded; the sequential Viterbi runs as an
    ordered per-type Arrow replay (A71's posture) — no cartesian
    blowup beyond the types x days grid."""
    df = QUERIES["events_burst_kleinberg"](spark, SF_DIR)
    plan = executed_plan(df)
    # the only nested-loop is the allowlisted k-types x days calendar
    # grid (bounded by construction); the corpus never cross-joins
    assert "FlatMapGroupsInPandas" in plan
    assert all(len(c) <= 2 for c in scan_columns(df))


def test_hill_tail_rank_window_then_k_bounded_sums(spark):
    """A100: one rank window over the value column; the only
    nested-loop is the allowlisted 3-row k-grid broadcast; every sum
    runs over <= k+1 rows."""
    df = QUERIES["orders_hill_tail"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert all(len(c) <= 2 for c in scan_columns(df))
