"""Structured Streaming operators (SURVEY §2.9 ST1-ST6): the streaming
module's helpers driven end-to-end with file sources and memory sinks
(processAllAvailable makes the micro-batch loop synchronous), plus the
pcap pipeline in streaming mode — the reference's chunk loop
(BytesProcessor.py:62-94) replaced by real micro-batches.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bytesprocessor_spark.operators.labeling import AttackSpec
from bytesprocessor_spark.streaming.windows import (
    session_agg,
    sliding_agg,
    stream_dedup,
    tumbling_agg,
)
from bytesprocessor_spark.sources.pcapng import write_pcapng
from bytesprocessor_spark.streaming.pcap_stream import stream_pcap_directory
from tests.test_pcap import ATTACKS, RANGES, make_fixture_pcap

EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _write_events(spark, path):
    rows = [
        (1, "2024-01-01 00:01:00", 1, "click", 1.0),
        (2, "2024-01-01 00:02:00", 1, "click", 2.0),
        (3, "2024-01-01 00:14:00", 1, "view", 3.0),
        (4, "2024-01-01 00:31:00", 2, "click", 4.0),
        (5, "2024-01-01 01:05:00", 2, "click", 5.0),
        (3, "2024-01-01 00:14:00", 1, "view", 3.0),  # duplicate event_id
    ]
    df = spark.createDataFrame(
        [(i, ts, u, e, v) for i, ts, u, e, v in rows],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(path)
    return df


def _run_stream(spark, path, build, name):
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    out = build(src)
    q = (
        out.writeStream.outputMode("append" if out.isStreaming else "complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_agg_stream(spark, tmp_path):
    path = str(tmp_path / "ev")
    _write_events(spark, path)
    res = _run_stream(
        spark,
        path,
        lambda s: tumbling_agg(
            s, "ts", "10 minutes", watermark="1 minute",
            aggs=[F.count("*").alias("n"), F.sum("value").alias("v")],
        ),
        "t_tumbling",
    ).collect()
    got = {(str(r.win_start), r.n) for r in res}
    assert ("2024-01-01 00:00:00", 2) in got
    assert ("2024-01-01 00:10:00", 2) in got  # includes the duplicate row
    assert ("2024-01-01 00:30:00", 1) in got


def test_sliding_agg_stream(spark, tmp_path):
    path = str(tmp_path / "ev2")
    _write_events(spark, path)
    res = _run_stream(
        spark,
        path,
        lambda s: sliding_agg(
            s, "ts", "20 minutes", "10 minutes", watermark="1 minute",
            aggs=[F.count("*").alias("n")],
        ),
        "t_sliding",
    ).collect()
    got = {(str(r.win_start), r.n) for r in res}
    assert ("2024-01-01 00:00:00", 4) in got    # 00:00-00:20 -> events 1,2,3 + dup
    assert ("2023-12-31 23:50:00", 2) in got    # 23:50-00:10 -> events 1,2


def test_session_agg_stream(spark, tmp_path):
    path = str(tmp_path / "ev3")
    _write_events(spark, path)
    res = _run_stream(
        spark,
        path,
        lambda s: session_agg(
            s, "ts", gap="10 minutes", keys=["user_id"], watermark="1 minute",
            aggs=[F.count("*").alias("n")],
        ),
        "t_session",
    ).collect()
    # user 1: events at 00:01,00:02 (one session), 00:14 x2 (second);
    # user 2: 00:31 closed, but the 01:05 session is still OPEN at the
    # watermark (max_ts - 1m < session end), so append mode correctly
    # withholds it — watermark semantics, not data loss.
    got = sorted((r.user_id, r.n) for r in res)
    assert got == [(1, 2), (1, 2), (2, 1)]


def test_stream_dedup(spark, tmp_path):
    path = str(tmp_path / "ev4")
    _write_events(spark, path)
    res = _run_stream(
        spark,
        path,
        lambda s: stream_dedup(s, keys=["event_id"], ts_col="ts", watermark="1 hour"),
        "t_dedup",
    ).collect()
    ids = sorted(r.event_id for r in res)
    assert ids == [1, 2, 3, 4, 5]  # duplicate event 3 dropped exactly once


def test_pcap_streaming_pipeline(spark, tmp_path):
    """ST end-to-end: a landing directory of capture files processed as a
    stream (the reference's chunk loop, as actual micro-batches)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    pkts = make_fixture_pcap(str(landing / "a.pcap"))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q = stream_pcap_directory(
        spark, str(landing), out, ckpt, attacks=ATTACKS, ranges=RANGES, feature_width=32
    )
    q.processAllAvailable()
    first = spark.read.parquet(out)
    n_first = first.count()
    assert n_first == 8
    assert first.where(F.col("is_forward")).count() == 3

    # drop the pcapng twin of the first file into the landing dir ->
    # next micro-batch (the stream reads both capture formats)
    write_pcapng(str(landing / "b.pcapng"), pkts)
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(out).count() == 2 * n_first


def test_topk_per_key_transform_with_state(spark, tmp_path):
    """ST6 (modern transformWithStateInPandas form): per-key running
    top-k across two micro-batches — state carries between batches and
    stays bounded at k values."""
    # the TWS control channel is protobuf-encoded; skip where absent
    pytest.importorskip("google.protobuf.descriptor")
    from bytesprocessor_spark.streaming.stateful import topk_per_key

    path = str(tmp_path / "ev_tws")
    _write_events(spark, path)
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    out = topk_per_key(src, keys=("user_id",), value_col="value", k=2)
    # transformWithState requires the RocksDB state store provider
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName("t_tws_topk")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    res = spark.sql(
        "SELECT user_id, topk FROM t_tws_topk"
    ).collect()
    latest = {r.user_id: list(r.topk) for r in res}  # last emission wins per key
    assert latest[1] == [3.0, 3.0]  # duplicate event 3 -> two 3.0 values beat 2.0
    assert latest[2] == [5.0, 4.0]


def test_merge_topk_pure():
    from bytesprocessor_spark.streaming.stateful import merge_topk

    assert merge_topk([], [3.0, 1.0, 2.0], 2) == [3.0, 2.0]
    assert merge_topk([3.0, 2.0], [2.5, 0.1], 2) == [3.0, 2.5]
    assert merge_topk([5.0], [], 3) == [5.0]
    # associativity across batch boundaries
    a = merge_topk(merge_topk([], [1.0, 9.0], 2), [4.0, 7.0], 2)
    b = merge_topk([], [1.0, 9.0, 4.0, 7.0], 2)
    assert a == b == [9.0, 7.0]


def test_stream_static_enrichment(spark, tmp_path):
    from bytesprocessor_spark.streaming.joins import stream_static_enrich

    path = str(tmp_path / "ev_enr")
    _write_events(spark, path)
    dim = spark.createDataFrame([(1, "gold"), (2, "silver")], "user_id long, tier string")
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    out = stream_static_enrich(src, dim, "user_id")
    q = (
        out.writeStream.outputMode("append")
        .format("memory").queryName("t_enrich")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT event_id, tier FROM t_enrich").collect()
    tiers = {r.event_id: r.tier for r in rows}
    assert tiers[1] == "gold" and tiers[4] == "silver"
    assert len(rows) == 6


def test_stream_stream_interval_join(spark, tmp_path):
    """Impressions joined to conversions within [0, 10m] per user —
    both sides unbounded, state bounded by watermark + interval."""
    from bytesprocessor_spark.streaming.joins import interval_join

    imp_path, conv_path = str(tmp_path / "imp"), str(tmp_path / "conv")
    imps = [
        (10, "2024-01-01 00:00:00", 1),
        (11, "2024-01-01 00:20:00", 1),
        (12, "2024-01-01 00:00:00", 2),
    ]
    convs = [
        (90, "2024-01-01 00:05:00", 1),   # matches imp 10 (within 10m)
        (91, "2024-01-01 00:25:00", 1),   # matches imp 11
        (92, "2024-01-01 00:30:00", 2),   # 30m after imp 12 -> no match
    ]
    spark.createDataFrame(
        [(i, ts, u) for i, ts, u in imps], "imp_id long, ts string, user_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode("overwrite").parquet(imp_path)
    spark.createDataFrame(
        [(c, ts, u) for c, ts, u in convs], "conv_id long, cts string, user_id long"
    ).withColumn("cts", F.col("cts").cast("timestamp")).write.mode("overwrite").parquet(conv_path)

    left = spark.readStream.schema("imp_id long, ts timestamp, user_id long").parquet(imp_path)
    right = spark.readStream.schema("conv_id long, cts timestamp, user_id long").parquet(conv_path)
    joined = interval_join(
        left, right, key="user_id", left_ts="ts", right_ts="cts",
        lower="0 seconds", upper="10 minutes", watermark="1 minute",
    ).select("imp_id", "conv_id")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory").queryName("t_sjoin")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted((r.imp_id, r.conv_id) for r in spark.sql("SELECT * FROM t_sjoin").collect())
    assert got == [(10, 90), (11, 91)]


def test_cdc_stream_apply(spark, tmp_path):
    """ST9: a change stream folds into a materialized parquet table via
    foreachBatch + merge_upsert; replayed changes apply idempotently."""
    from bytesprocessor_spark.streaming.cdc import (
        apply_cdc_stream,
        init_cdc_table,
        read_cdc_table,
    )

    table = str(tmp_path / "tbl")
    changes_dir = str(tmp_path / "changes")
    ckpt = str(tmp_path / "ckpt")
    init_cdc_table(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)], "id long, name string, v double"
        ),
        table,
    )
    ch_schema = "id long, name string, v double, is_delete boolean, version long"
    batch1 = spark.createDataFrame(
        [
            (2, "b2", 21.0, False, 1),          # update id=2
            (3, "c", 30.0, False, 1),           # insert id=3
            (3, "c-old", 29.0, False, 0),       # stale version, must lose
        ],
        ch_schema,
    )
    batch2 = spark.createDataFrame(
        [
            (1, None, None, True, 2),           # delete id=1
            (2, "b2", 21.0, False, 1),          # replayed change: no-op
        ],
        ch_schema,
    )
    batch1.coalesce(1).write.mode("append").parquet(changes_dir)
    batch2.coalesce(1).write.mode("append").parquet(changes_dir)

    stream = spark.readStream.schema(ch_schema).parquet(changes_dir)
    q = apply_cdc_stream(
        stream, table, keys=["id"], checkpoint=ckpt, available_now=True
    )
    q.awaitTermination(120)

    got = sorted(
        (r.id, r.name, r.v) for r in read_cdc_table(spark, table).collect()
    )
    assert got == [(2, "b2", 21.0), (3, "c", 30.0)]


def test_transform_with_state_running_totals(spark, tmp_path):
    """ST6 (modern API): transformWithStateInPandas accumulates per-key
    state on the RocksDB store and matches the applyInPandasWithState
    twin's semantics.  The state-server protocol needs protobuf, which
    this container lacks — skip there, run anywhere it exists."""
    pytest.importorskip("google.protobuf.descriptor")

    from bytesprocessor_spark.streaming.stateful import running_totals_tws

    src_dir = str(tmp_path / "src")
    schema = "user_id long, value double"
    spark.createDataFrame([(1, 1.0), (1, 2.0), (2, 5.0)], schema).write.mode(
        "overwrite"
    ).parquet(src_dir)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = spark.readStream.schema(schema).parquet(src_dir)
        out = running_totals_tws(stream, keys=("user_id",), value_col="value")
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName("tws_totals")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            r.user_id: (r.n_events, r.total)
            for r in spark.sql("SELECT * FROM tws_totals").collect()
        }
        assert got == {1: (2, 3.0), 2: (1, 5.0)}
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_cdc_tombstone_blocks_stale_resurrection(spark, tmp_path):
    """A deleted key must STAY deleted when a stale change replays
    after the delete (foreachBatch gives no cross-batch order
    guarantee): the versioned tombstone rejects the resurrection."""
    from bytesprocessor_spark.operators.merge import merge_upsert
    from bytesprocessor_spark.streaming.cdc import (
        _TOMBSTONE,
        init_cdc_table,
        read_cdc_table,
    )

    path = str(tmp_path / "tbl")
    initial = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    init_cdc_table(initial, path, version_col="version")
    snap = spark.read.parquet(f"{path}/gen-0")
    assert _TOMBSTONE in snap.columns and "version" in snap.columns

    # batch with the DELETE (version 2) applies first
    delete = spark.createDataFrame(
        [(1, "a", 2, True)], "id long, v string, version long, is_delete boolean"
    )
    gen1 = merge_upsert(snap, delete, ["id"], delete_col="is_delete",
                        version_col="version", soft_delete_col=_TOMBSTONE)
    gen1.write.parquet(f"{path}/gen-1")
    with open(f"{path}/_CURRENT", "w") as f:
        f.write("gen-1")
    # the stale UPDATE (version 1) replays afterwards
    stale = spark.createDataFrame(
        [(1, "resurrected", 1, False)], "id long, v string, version long, is_delete boolean"
    )
    snap1 = spark.read.parquet(f"{path}/gen-1")
    gen2 = merge_upsert(snap1, stale, ["id"], delete_col="is_delete",
                        version_col="version", soft_delete_col=_TOMBSTONE)
    gen2.write.parquet(f"{path}/gen-2")
    with open(f"{path}/_CURRENT", "w") as f:
        f.write("gen-2")

    final = {r.id: r.v for r in read_cdc_table(spark, path).collect()}
    assert final == {2: "b"}, f"deleted key resurrected: {final}"


def test_stream_drift_monitor_matches_batch_psi(spark):
    """ST13 replay validity: the streamed PSI decomposition equals a
    pure-batch recompute of the same math (stateless bucket rule +
    associative counts), and the PSI identities hold per bucket."""
    import math

    from bytesprocessor_spark.queries import QUERIES, cents
    from pyspark.sql import functions as F
    from tests.conftest import SF_DIR
    from bytesprocessor_spark.sources.tables import load_table

    rows = QUERIES["stream_drift_monitor"](spark, SF_DIR).collect()
    ev = load_table(spark, SF_DIR, "events")
    batch = (
        ev.select(
            (cents(F.col("value")) / 5000).cast("long").alias("bucket"),
            (F.col("event_id") % 2).alias("era"),
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("era") == 0, 1).otherwise(0)).alias("n_ref"),
            F.sum(F.when(F.col("era") == 1, 1).otherwise(0)).alias("n_live"),
        )
        .collect()
    )
    want = {r.bucket: (r.n_ref, r.n_live) for r in batch}
    got = {r.bucket: (r.n_ref, r.n_live) for r in rows}
    assert got == want
    tb = sum(n + 1 for n, _ in want.values())
    td = sum(n + 1 for _, n in want.values())
    for r in rows:
        pm = max((r.n_ref + 1) * 1_000_000 // tb, 1)
        qm = max((r.n_live + 1) * 1_000_000 // td, 1)
        assert (r.pm, r.qm) == (pm, qm)
        assert r.contrib_pico == (pm - qm) * round(math.log(pm / qm) * 1_000_000)


def test_shared_landing_dir_lives_under_session_root(spark):
    """The memoized read-only landing is made under the session's
    SparkFiles root, which Spark deletes when the context stops — so
    an entry evicted on an applicationId change leaves no /tmp copy."""
    import os

    from pyspark import SparkFiles

    from bytesprocessor_spark.queries_streaming import _landing_dir_shared
    from tests.conftest import SF_DIR

    land, _ = _landing_dir_shared(spark, SF_DIR, "events")
    root = os.path.realpath(SparkFiles.getRootDirectory())
    assert os.path.commonpath([os.path.realpath(land), root]) == root
    assert os.path.isdir(os.path.join(land, "events"))
    # the same session gets the same directory back
    assert _landing_dir_shared(spark, SF_DIR, "events")[0] == land
