"""Batch-equivalent oracle rows for the streaming operators (SURVEY
§2.9 ST7 stream-static enrich, ST8 stream-stream interval join, ST9
streaming CDC apply).

The streaming operators themselves live in ``streaming/`` and are
exercised end-to-end by tests/test_streaming.py; what these rows add is
the HARD cross-engine signal: each entry drives real Structured
Streaming (parquet file source -> micro-batches -> sink) with
``trigger(availableNow=True)`` so the stream drains and stops, then
returns a bounded deterministic result that DuckDB can replay with
plain batch SQL.  The replay is valid because the drained final state
is input-order independent: enrich and the interval join are per-row /
per-pair (batch row set == streamed row set), and CDC apply is
version-guarded (max-version-wins against a version PERSISTED in the
snapshot), so any micro-batch partitioning and ordering of the change
files converges to the same table (parity with the reference's
replay-consistency contract, BytesProcessor.py:56-120 operator
surface; semantics only — the execution model here is Spark's).

Scale note: the enrich plan is map-only on the stream side (broadcast
dim, no stream shuffle); the interval join's state is bounded by
watermark + interval; CDC apply's per-batch cost is one equi-join on
the merge key against the current snapshot — at 100 TB the snapshot is
partitioned by key range and only touched partitions rewrite
(streaming/cdc.py module docstring).

Mechanics shared by the rows (helpers below): the fixture table is
first re-materialized through ``load_table`` into a temp landing
directory — streaming the RAW fixture file with the batch-normalized
schema crashes on nanos-timestamp fixtures (the file stream source
does not apply the nanosAsLong normalization) — and each row's final
(small) result is localized onto the driver so the memory-sink view
and every temp directory can be dropped before returning; without
that, each invocation leaks a view pinning the full sink row set plus
a directory tree for the session's lifetime.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bytesprocessor_spark.queries import _t, cents, query


def _landing_dir(spark: SparkSession, sf_dir: str, table: str) -> tuple[str, DataFrame]:
    """Materialize the fixture table (batch-normalized by load_table:
    nanos handling, NTZ, ...) into a fresh landing directory and return
    (dir, normalized_batch_df) — the directory is what readStream
    watches, the batch df supplies the schema."""
    land = tempfile.mkdtemp(prefix="bp_stream_src_")
    batch = _t(spark, sf_dir, table)
    batch.write.mode("overwrite").parquet(os.path.join(land, table))
    return land, batch


def _landing_dir_shared(spark: SparkSession, sf_dir: str, table: str) -> tuple[str, DataFrame]:
    """Session-memoized landing directory for READ-ONLY stream
    sources (r12).  At the design point the landing directory IS the
    at-rest stream source — it exists once and queries attach readers
    to it; re-materializing a private copy per query invocation is
    fixture work, not query work (~1 s per drain entry, measured).
    The directory is memoized per (table, sf_dir) through the
    session-scoped memo (operators/caching.py:memo, keyed by the live
    applicationId, so a fresh process always rewrites it from parquet),
    and its build time lands in the bench sidecar's memo attribution
    map.  It is made under SparkFiles.getRootDirectory(), which Spark
    deletes when the context stops, so the copy dies with its session.

    ONLY for entries that never write into the landing after setup —
    entries that APPEND mid-drain to simulate late arrivals
    (stream_dedup, stream_first_touch) and the restart drains that
    stage their own multi-file landings keep the private
    :func:`_landing_dir`.  Callers must NOT delete the returned
    directory; it lives for the session."""
    from bytesprocessor_spark.operators.caching import memo

    def build() -> str:
        land = tempfile.mkdtemp(
            prefix="bp_stream_land_", dir=SparkFiles.getRootDirectory()
        )
        _t(spark, sf_dir, table).write.mode("overwrite").parquet(
            os.path.join(land, table)
        )
        return land

    land = memo(spark, (f"landing_{table}", sf_dir), build)
    return land, _t(spark, sf_dir, table)


from contextlib import contextmanager


@contextmanager
def _state_partitions(spark: SparkSession, n: int = 4):
    """Pin spark.sql.shuffle.partitions (which fixes a stateful
    streaming query's STATE partition count at first checkpoint) to a
    fixture-sized value for the duration of a drain, restoring after.

    Rationale: every stateful operator materializes one state-store
    instance per shuffle partition per micro-batch — at local[32]'s
    default 32 partitions the fixture drains spend most of their time
    opening/committing near-empty state files (measured on
    stream_interval_join_outer at sf0.1: 19.4 s steady at 32
    partitions -> 11.3 s at 8; session windows 6.7 s at 8 -> 5.7 s at
    4, flat below that — the remainder is checkpoint-restart floor,
    not state files).  This is the knob a real deployment sizes to
    key cardinality x executor count; the fixture value only needs
    enough parallelism to keep the state tasks off the critical
    path."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _drain_and_localize(out: DataFrame, finish, output_mode: str = "append") -> DataFrame:
    """Drain ``out`` (availableNow) into a memory sink, apply
    ``finish`` (sink_df -> small result df), then pull the small result
    onto the driver as a local-backed DataFrame so the sink view can be
    dropped immediately (the driver consumes the returned frame lazily,
    after this function exits).  ``output_mode="complete"`` is the
    aggregated-stream drain: the final trigger rewrites the whole
    (small) aggregate state, so no watermark is needed to flush the
    tail windows that append mode would hold back."""
    spark = out.sparkSession
    sink = f"bp_sink_{uuid.uuid4().hex[:12]}"
    with _state_partitions(spark):
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    result = finish(spark.table(sink))
    local = spark.createDataFrame(result.collect(), result.schema)
    spark.catalog.dropTempView(sink)
    return local


@query(
    "stream_static_enrich",
    """
    SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_value
    FROM events e
    LEFT JOIN (SELECT c_custkey, c_mktsegment FROM customer
               WHERE c_custkey < 100) c
      ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def stream_static_enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7: stream the events table through a broadcast dimension
    enrichment (left join against a customer-segment snapshot, with
    part of the user space deliberately outside the dim so the
    unmatched branch is exercised), drain with availableNow into a
    memory sink, and aggregate the enriched rows per segment.

    The join itself runs INSIDE the micro-batch loop — map-only on the
    stream (broadcast dim, no stream-side shuffle), the shape that
    holds at any stream rate."""
    from bytesprocessor_spark.streaming.joins import stream_static_enrich

    land, batch = _landing_dir_shared(spark, sf_dir, "events")
    try:
        stream = spark.readStream.schema(batch.schema).parquet(os.path.join(land, "events"))
        dim = (
            _t(spark, sf_dir, "customer")
            .where(F.col("c_custkey") < 100)
            .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
        )
        enriched = stream_static_enrich(stream, dim, on="user_id", how="left")
        return _drain_and_localize(
            enriched,
            lambda sink_df: sink_df.groupBy(
                F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment")
            ).agg(
                F.count("*").alias("n_events"),
                (F.sum(cents(F.col("value"))).cast("double") / 100.0).alias("total_value"),
            ),
        )
    finally:
        pass  # shared landing: lives for the session (r12)


@query(
    "stream_interval_join",
    """
    SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           CAST(ROUND(p.value * 100) AS BIGINT) AS purchase_cents
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR
    """,
)
def stream_interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST8: stream-stream interval join — view→purchase attribution
    (purchase by the same user within 2 hours of a view), both sides
    unbounded streams over the events fixture, drained with
    availableNow into a memory sink.

    The time-interval condition + watermarks are what BOUND the join
    state at scale: a buffered view is evictable once the purchase-side
    watermark passes view.ts + 2h.  Draining the full fixture in order
    means no matches are watermark-dropped, so the batch SQL replay is
    exact — equality IS the state-eviction-correctness signal (an
    over-eager eviction would lose pairs)."""
    from bytesprocessor_spark.streaming.joins import interval_join

    land, batch = _landing_dir_shared(spark, sf_dir, "events")
    try:
        def side(event_type: str, prefix: str) -> DataFrame:
            return (
                spark.readStream.schema(batch.schema)
                .parquet(os.path.join(land, "events"))
                .where(F.col("event_type") == event_type)
                .select(
                    F.col("event_id").alias(f"{prefix}_id"),
                    F.col("user_id"),
                    F.col("ts").alias(f"{prefix}_ts"),
                    F.col("value").alias(f"{prefix}_value"),
                )
            )

        views = side("view", "view").drop("view_value")
        purchases = side("purchase", "purchase")
        joined = interval_join(
            views,
            purchases,
            key="user_id",
            left_ts="view_ts",
            right_ts="purchase_ts",
            lower="0 seconds",
            upper="2 hours",
            watermark="1 minute",
        )
        out = joined.select(
            F.col("view_id"),
            F.col("purchase_id"),
            cents(F.col("purchase_value")).alias("purchase_cents"),
        )
        return _drain_and_localize(out, lambda sink_df: sink_df)
    finally:
        pass  # shared landing: lives for the session (r12)


_CDC_CHANGE_COLS = (
    "o_custkey, o_orderdate, o_orderpriority"  # carried through unchanged
)

_CDC_SQL = f"""
    WITH initial AS (SELECT * FROM orders WHERE o_orderkey % 10 < 5),
    chg AS (
      SELECT o_orderkey, {_CDC_CHANGE_COLS}, 'U1' AS o_orderstatus,
             o_totalprice + 1 AS o_totalprice, 1 AS version, FALSE AS is_delete
      FROM orders WHERE o_orderkey % 10 IN (3, 4)
      UNION ALL
      SELECT o_orderkey, {_CDC_CHANGE_COLS}, 'U2', o_totalprice + 2, 2, FALSE
      FROM orders WHERE o_orderkey % 10 = 4
      UNION ALL
      SELECT o_orderkey, {_CDC_CHANGE_COLS}, 'N', o_totalprice, 1, FALSE
      FROM orders WHERE o_orderkey % 10 IN (5, 6)
      UNION ALL
      SELECT o_orderkey, {_CDC_CHANGE_COLS}, o_orderstatus, o_totalprice, 1, TRUE
      FROM orders WHERE o_orderkey % 10 = 2
    ),
    latest AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                     ORDER BY version DESC) AS rn
        FROM chg) WHERE rn = 1
    ),
    merged AS (
      SELECT i.o_orderstatus, i.o_totalprice FROM initial i
      WHERE NOT EXISTS (SELECT 1 FROM latest l
                        WHERE l.o_orderkey = i.o_orderkey)
      UNION ALL
      SELECT o_orderstatus, o_totalprice FROM latest WHERE NOT is_delete
    )
    SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_price
    FROM merged GROUP BY 1
"""


@query("stream_cdc_apply", _CDC_SQL)
def stream_cdc_apply_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST9: maintain a materialized orders table from a CDC change
    stream and aggregate the drained final snapshot.

    The change feed is derived deterministically from the orders
    fixture so every MERGE branch fires: updates (key%10 in {3,4},
    with TWO versions for %10==4 so max-version-wins is observable),
    inserts (%10 in {5,6}), deletes (%10==2), untouched target rows
    (%10 in {0,1}).  The changes land as MULTIPLE files consumed one
    per micro-batch (maxFilesPerTrigger=1) in whatever order the source
    lists them — convergence relies on the version PERSISTED in the
    snapshot (init_cdc_table(version_col=...) + merge_upsert's >=
    guard), not on delivery order.  The DuckDB oracle replays the same
    merge as batch SQL — equality IS the idempotent, order-independent
    apply guarantee."""
    from bytesprocessor_spark.streaming.cdc import (
        apply_cdc_stream,
        init_cdc_table,
        read_cdc_table,
    )

    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey") % 10
    initial = orders.where(k < 5)
    passthrough = ["o_custkey", "o_orderdate", "o_orderpriority"]

    def change(rows: DataFrame, status, price, version: int, delete: bool) -> DataFrame:
        return rows.select(
            "o_orderkey",
            *passthrough,
            status.alias("o_orderstatus"),
            price.alias("o_totalprice"),
            F.lit(version).alias("version"),
            F.lit(delete).alias("is_delete"),
        )

    p = F.col("o_totalprice")
    changes = (
        change(orders.where(k.isin(3, 4)), F.lit("U1"), p + 1, 1, False)
        .unionByName(change(orders.where(k == 4), F.lit("U2"), p + 2, 2, False))
        .unionByName(change(orders.where(k.isin(5, 6)), F.lit("N"), p, 1, False))
        .unionByName(change(orders.where(k == 2), F.col("o_orderstatus"), p, 1, True))
    )

    workdir = tempfile.mkdtemp(prefix="bp_cdc_")
    try:
        chg_dir = os.path.join(workdir, "changes")
        tbl_dir = os.path.join(workdir, "table")
        ckpt_dir = os.path.join(workdir, "ckpt")
        # several change files, one per micro-batch, arbitrary order —
        # the persisted-version guard is what makes the result converge
        changes.repartition(3).write.mode("overwrite").parquet(chg_dir)
        init_cdc_table(initial, tbl_dir, version_col="version")
        stream = (
            spark.readStream.schema(changes.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(chg_dir)
        )
        q = apply_cdc_stream(
            stream,
            tbl_dir,
            keys=["o_orderkey"],
            delete_col="is_delete",
            version_col="version",
            checkpoint=ckpt_dir,
            available_now=True,
        )
        q.awaitTermination()
        final = read_cdc_table(spark, tbl_dir)
        agg = final.groupBy(F.col("o_orderstatus").alias("status")).agg(
            F.count("*").alias("n_orders"),
            (F.sum(cents(F.col("o_totalprice"))).cast("double") / 100.0).alias("total_price"),
        )
        return spark.createDataFrame(agg.collect(), agg.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "stream_quality_gate",
    """
    WITH d AS (
      SELECT source, n_chars,
             len([x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+')
                  if len(x) > 0]) AS n_tokens,
             len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / len(text)
               AS alpha_ratio
      FROM documents)
    SELECT source,
           COUNT(*) AS n_in,
           CAST(SUM(CASE WHEN n_tokens >= 20 AND alpha_ratio >= 0.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
           CAST(SUM(CASE WHEN n_tokens >= 20 AND alpha_ratio >= 0.5
                         THEN n_chars ELSE 0 END) AS BIGINT) AS chars_admitted
    FROM d GROUP BY source ORDER BY source
    """,
)
def stream_quality_gate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST10: the streaming half of corpus curation — documents arrive
    as a file stream and pass a per-row quality gate (token floor +
    alphabetic-ratio floor, pure codegen expressions inside the
    micro-batch) with admit/reject accounting per source.

    Replay-valid for the batch oracle because the gate is stateless
    per-row (streamed row set == batch row set regardless of
    micro-batch partitioning).  At scale this is the ingest-time shape:
    the gate runs map-only on the stream; only the per-source counters
    shuffle (tiny), so the stream never bottlenecks on state."""
    from bytesprocessor_spark.functions.text import alpha_ratio, token_count

    land, batch = _landing_dir_shared(spark, sf_dir, "documents")
    try:
        stream = spark.readStream.schema(batch.schema).parquet(
            os.path.join(land, "documents")
        )
        gated = stream.select(
            "source",
            "n_chars",
            (
                (token_count(F.col("text")) >= 20)
                & (alpha_ratio(F.col("text")) >= 0.5)
            ).alias("admitted"),
        )
        return _drain_and_localize(
            gated,
            lambda sink_df: sink_df.groupBy("source")
            .agg(
                F.count("*").alias("n_in"),
                F.sum(F.when(F.col("admitted"), 1).otherwise(0)).alias("n_admitted"),
                F.sum(F.when(F.col("admitted"), F.col("n_chars")).otherwise(0)).alias(
                    "chars_admitted"
                ),
            )
            .orderBy("source"),
        )
    finally:
        pass  # shared landing: lives for the session (r12)


@query(
    "stream_trending_topk",
    """
    WITH w AS (
      SELECT event_type,
             make_timestamp(((epoch_us(ts) // 10800000000) - k) * 10800000000)
               AS win_start
      FROM events, (SELECT UNNEST([0, 1]) AS k)
      WHERE epoch_us(ts)
              - ((epoch_us(ts) // 10800000000) - k) * 10800000000
            < 21600000000
        AND ((epoch_us(ts) // 10800000000) - k) >= 0
    ),
    c AS (SELECT win_start, event_type, COUNT(*) AS n FROM w GROUP BY 1, 2),
    r AS (SELECT *, ROW_NUMBER() OVER
            (PARTITION BY win_start ORDER BY n DESC, event_type) AS rk
          FROM c)
    SELECT STRFTIME(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, n, rk AS rank
    FROM r WHERE rk <= 3
    ORDER BY win_start, rank
    """,
)
def stream_trending_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST11 streaming trending detector: sliding-window (6h window, 3h
    slide) per-type counts maintained by Structured Streaming, drained
    in COMPLETE output mode (the aggregated-stream drain — the final
    trigger rewrites the whole aggregate, so the tail windows that
    append-mode watermarking would hold back are all present), then
    ranked to the top-3 types per window.

    Replay-valid: windowed counting is order-independent, so the
    drained final state equals the batch replay regardless of
    micro-batch boundaries.  Scale shape: the stream side is one
    windowed hash aggregation (each event updates exactly 2 window
    panes); the rank runs on the materialized O(windows x types)
    result, never on the stream.  Complete mode is affordable
    precisely because the aggregate itself is tiny — the 100 TB
    variant switches to append + watermark and accepts tail latency,
    same plan otherwise."""
    land, batch = _landing_dir_shared(spark, sf_dir, "events")
    try:
        stream = spark.readStream.schema(batch.schema).parquet(
            os.path.join(land, "events")
        )
        counts = stream.groupBy(
            F.window("ts", "6 hours", "3 hours").alias("win"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n"))
        from pyspark.sql import Window as W

        def finish(sink_df: DataFrame) -> DataFrame:
            rk = F.row_number().over(
                W.partitionBy("win_start").orderBy(F.col("n").desc(), "event_type")
            )
            return (
                sink_df.select(
                    F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
                    "event_type",
                    "n",
                )
                .withColumn("rank", rk)
                .where(F.col("rank") <= 3)
            )

        return _drain_and_localize(counts, finish, output_mode="complete")
    finally:
        pass  # shared landing: lives for the session (r12)


@query(
    "stream_dedup",
    """
    WITH d AS (SELECT DISTINCT event_id, user_id, event_type,
                      CAST(ROUND(value * 100) AS BIGINT) AS vc
               FROM events)
    SELECT event_type, COUNT(*) AS n_unique,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(vc) AS DOUBLE) / 100.0 AS total_value
    FROM d GROUP BY event_type ORDER BY event_type
    """,
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5 stateful streaming dedup with the hard oracle: the landing
    directory receives TWO copies of every event file (at-least-once
    delivery simulated at the source), the stream drops duplicates on
    event_id within a watermark that covers the fixture span, and the
    drained per-type aggregate must equal batch DISTINCT over single
    events — i.e. redelivery is invisible downstream.

    Replay-valid because the watermark delay exceeds the event-time
    span, so no dedup state evicts before its duplicate arrives —
    every redelivered id meets its state regardless of micro-batch
    assignment.  At 100 TB the watermark shrinks to the real
    redelivery horizon and state becomes bounded (RocksDB-backed);
    the eviction that this fixture avoids is exactly the product
    trade-off the watermark parameter expresses."""
    from bytesprocessor_spark.streaming.windows import stream_dedup

    land, batch = _landing_dir(spark, sf_dir, "events")
    try:
        # second delivery of the same rows, as distinct files
        batch.write.mode("append").parquet(os.path.join(land, "events"))
        stream = spark.readStream.schema(batch.schema).parquet(
            os.path.join(land, "events")
        )
        deduped = stream_dedup(
            stream, keys=["event_id"], ts_col="ts", watermark="60 days"
        )
        return _drain_and_localize(
            deduped,
            lambda sink_df: sink_df.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n_unique"),
                F.countDistinct("user_id").alias("n_users"),
                (F.sum(cents(F.col("value"))).cast("double") / 100.0).alias(
                    "total_value"
                ),
            ),
        )
    finally:
        shutil.rmtree(land, ignore_errors=True)


@query(
    "stream_running_totals",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def stream_running_totals_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6 arbitrary stateful streaming with the hard oracle: the
    applyInPandasWithState running-totals operator (per-event-type
    cumulative count + sum in checkpointed state, one update row
    emitted per key per micro-batch) is drained and its FINAL state
    per key must equal the batch aggregate.

    Replay-valid because the value column is pre-quantized to cents:
    every state update adds integers (exact in a double far below
    2^53), so the accumulated total is micro-batch-order independent —
    the float-summation hazard that would make this row flaky is
    engineered out the same way the relational corpus does it.  The
    final state per key is recovered as max_by(total, n_events) over
    the emitted update rows — the row from the last micro-batch that
    touched the key (n_events strictly grows), correct for any value
    sign.

    Scale: state is O(keys); each micro-batch shuffles only its own
    rows to their key's state partition — the streaming twin of a
    partial-aggregate merge."""
    from bytesprocessor_spark.streaming.stateful import running_totals

    land, batch = _landing_dir_shared(spark, sf_dir, "events")
    try:
        stream = (
            spark.readStream.schema(batch.schema)
            # several micro-batches so state genuinely carries across
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(land, "events"))
            .withColumn("vc", cents(F.col("value")))
        )
        totals = running_totals(stream, keys=("event_type",), value_col="vc")
        return _drain_and_localize(
            totals,
            lambda sink_df: sink_df.groupBy("event_type").agg(
                F.max("n_events").alias("n_events"),
                # last update row per key = the one with the highest
                # event count — sign-agnostic, unlike MAX(total) which
                # is only right while values are non-negative
                (
                    F.expr("max_by(total, n_events)").cast("long").cast("double")
                    / 100.0
                ).alias("total_value"),
            ),
            output_mode="update",
        )
    finally:
        pass  # shared landing: lives for the session (r12)


@query(
    "stream_neardup_admission",
    """
    WITH d AS (SELECT doc_id, source, lower(text) AS t FROM documents),
    sh AS (SELECT doc_id,
                  list_distinct([t[i:i+4] for i in range(1, greatest(len(t) - 4, 1) + 1)]) AS s
           FROM d),
    t2 AS (SELECT doc_id, unnest(s) AS g FROM sh),
    sz AS (SELECT doc_id, len(s) AS n FROM sh),
    i  AS (SELECT a.doc_id AS cid, b.doc_id AS did, COUNT(*) AS c
           FROM t2 a JOIN t2 b ON a.g = b.g
           WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
           GROUP BY 1, 2),
    dup AS (SELECT DISTINCT did
            FROM i JOIN sz x ON cid = x.doc_id JOIN sz y ON did = y.doc_id
            WHERE c * 1.0 / (x.n + y.n - c) >= 0.9)
    SELECT source, COUNT(*) AS n_in,
           CAST(SUM(CASE WHEN did IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           CAST(SUM(CASE WHEN did IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
    FROM d LEFT JOIN dup ON d.doc_id = dup.did
    WHERE d.doc_id % 2 = 1
    GROUP BY source ORDER BY source
    """,
)
def stream_neardup_admission_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST12 streaming ingest dedup gate against the PERSISTED near-dup
    index (operators/dedup.py:write_neardup_index): the standing
    corpus (even doc_ids) is indexed ONCE — band table + shingle sets,
    fixed-width longs — then the delta stream (odd doc_ids, several
    micro-batches) is admitted per batch via foreachBatch running
    ``neardup_admit_against_index``: shingle/sign only the batch, join
    its bands against the stored buckets, verify colliding pairs
    exactly.  Decisions land in an append sink; per-source
    admitted/rejected counts must equal the batch oracle (exact
    cross-set Jaccard — LSH miss probability ~1.3e-7 at 21x6, the
    dedup_minhash_verified argument).

    Deterministic under ANY micro-batch split: each doc's verdict
    depends only on (doc, index), never on batch co-membership.  At
    100 TB this is the ingest-time near-dup firewall: the index is
    ~1-2% of corpus bytes, a batch admit is O(batch) + one bucket
    join, and the corpus text is never re-read (plan-pinned in
    tests/test_training.py)."""
    from bytesprocessor_spark.operators.dedup import (
        neardup_admit_against_index,
        write_neardup_index,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    delta = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "source", "text")
    workdir = tempfile.mkdtemp(prefix="bp_neardup_admit_")
    idx_dir = os.path.join(workdir, "index")
    land_dir = os.path.join(workdir, "delta")
    out_dir = os.path.join(workdir, "decisions")
    ckpt_dir = os.path.join(workdir, "ckpt")
    try:
        write_neardup_index(corpus, idx_dir)
        # two files -> two micro-batches under maxFilesPerTrigger=1
        delta.repartition(2).write.mode("overwrite").parquet(land_dir)
        stream = (
            spark.readStream.schema(delta.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(land_dir)
        )

        def admit(batch_df: DataFrame, batch_id: int) -> None:
            pairs = neardup_admit_against_index(spark, idx_dir, batch_df)
            dup_ids = pairs.select(F.col("delta_id").alias("doc_id")).distinct()
            (
                batch_df.select("doc_id", "source")
                .join(dup_ids.withColumn("__dup", F.lit(True)), "doc_id", "left")
                .select(
                    "doc_id",
                    "source",
                    F.coalesce(F.col("__dup"), F.lit(False)).alias("is_dup"),
                )
                .write.mode("append")
                .parquet(out_dir)
            )

        q = (
            stream.writeStream.foreachBatch(admit)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        agg = (
            spark.read.parquet(out_dir)
            .groupBy("source")
            .agg(
                F.count("*").alias("n_in"),
                F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("n_dup"),
                F.sum(F.when(F.col("is_dup"), 0).otherwise(1)).alias("n_clean"),
            )
            .orderBy("source")
        )
        return spark.createDataFrame(agg.collect(), agg.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# ST13: streaming distribution-drift monitor (PSI at ingest)
# ---------------------------------------------------------------------------

_SD_BUCKET_C = 5_000  # $50 buckets over exact value-cents


@query(
    "stream_drift_monitor",
    f"""
    WITH b AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) // {_SD_BUCKET_C} AS bucket,
             event_id % 2 AS era
      FROM events
    ),
    c AS (
      SELECT bucket,
             1 + COUNT(CASE WHEN era = 0 THEN 1 END) AS nb,
             1 + COUNT(CASE WHEN era = 1 THEN 1 END) AS nd
      FROM b GROUP BY bucket
    ),
    tot AS (SELECT SUM(nb) AS tb, SUM(nd) AS td FROM c),
    p AS (
      SELECT bucket, CAST(nb - 1 AS BIGINT) AS n_ref, CAST(nd - 1 AS BIGINT) AS n_live,
             GREATEST(CAST((nb * 1000000) // tb AS BIGINT), 1) AS pm,
             GREATEST(CAST((nd * 1000000) // td AS BIGINT), 1) AS qm
      FROM c, tot
    )
    SELECT bucket, n_ref, n_live, pm, qm,
           CAST((pm - qm)
                * CAST(ROUND(LN(CAST(pm AS DOUBLE) / qm) * 1000000) AS BIGINT)
                AS BIGINT) AS contrib_pico
    FROM p
    ORDER BY bucket
    """,
)
def stream_drift_monitor_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST13: the streaming twin of Q8's PSI drift monitor — the live
    event stream (odd event_ids) is bucketed AT INGEST against the
    reference distribution (even event_ids, the 'training era'), and
    the per-bucket PSI decomposition is the alarm a platform pages on
    when production data stops looking like training data.

    Replay-valid for the batch oracle because bucket assignment is
    stateless per-row (exact cents // fixed width — the drift_psi
    idiom) and both eras' counts are associative aggregates: any
    micro-batch split converges to the batch answer.  The streamed
    side is map-only until the tiny per-bucket counter shuffle; the
    reference counts come from ONE batch aggregate of the standing
    corpus, joined on the bounded bucket table.  All PSI arithmetic is
    the established exact-integer form (add-1 smoothing, micro
    proportions with GREATEST floors, 1e-6-quantized ln), so stream
    and oracle are bit-identical."""
    land, batch = _landing_dir_shared(spark, sf_dir, "events")
    try:
        bucket = (cents(F.col("value")) / _SD_BUCKET_C).cast("long").alias("bucket")
        ref = (
            batch.where(F.col("event_id") % 2 == 0)
            .select(bucket)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_ref"))
        )
        stream = spark.readStream.schema(batch.schema).parquet(
            os.path.join(land, "events")
        )
        live = stream.where(F.col("event_id") % 2 == 1).select(bucket)

        def finish(sink_df: DataFrame) -> DataFrame:
            from bytesprocessor_spark.operators.ranking import bounded_single_group

            obs = sink_df.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_live"))
            c = bounded_single_group(  # bucket-domain-bounded table
                ref.join(obs, "bucket", "full")
                .select(
                    "bucket",
                    F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
                    F.coalesce("n_live", F.lit(0)).alias("n_live"),
                )
            )
            p = c.select(
                "bucket",
                "n_ref",
                "n_live",
                F.greatest(
                    F.expr(
                        "((n_ref + 1) * 1000000)"
                        " div sum(n_ref + 1) over (PARTITION BY __opid)"
                    ),
                    F.lit(1),
                ).alias("pm"),
                F.greatest(
                    F.expr(
                        "((n_live + 1) * 1000000)"
                        " div sum(n_live + 1) over (PARTITION BY __opid)"
                    ),
                    F.lit(1),
                ).alias("qm"),
            )
            return p.select(
                "bucket",
                "n_ref",
                "n_live",
                "pm",
                "qm",
                (
                    (F.col("pm") - F.col("qm"))
                    * F.round(
                        F.log(F.col("pm").cast("double") / F.col("qm")) * 1_000_000
                    ).cast("long")
                ).cast("long").alias("contrib_pico"),
            ).orderBy("bucket")

        return _drain_and_localize(live, finish)
    finally:
        pass  # shared landing: lives for the session (r12)


# ---------------------------------------------------------------------------
# ST14: streaming SPRT (sequential test deployed as a stream)
# ---------------------------------------------------------------------------

@query(
    "stream_sprt",
    # identical semantics to the batch events_sprt row — the streaming
    # aggregation must converge to the same per-day cumulative LLR
    """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             COUNT(*) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    c AS (
      SELECT day, n, x,
             x * CAST(ROUND(LN(0.05 / 0.04) * 1000000) AS BIGINT)
             + (n - x) * CAST(ROUND(LN((1 - 0.05) / (1 - 0.04))
                                    * 1000000) AS BIGINT) AS llr_day
      FROM d
    ),
    s AS (
      SELECT day, n, x,
             CAST(SUM(llr_day) OVER (ORDER BY day
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS llr_micro
      FROM c
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, CAST(n AS BIGINT) AS n_events,
           x AS n_conversions, llr_micro,
           CASE WHEN llr_micro >= CAST(ROUND(LN(19.0) * 1000000) AS BIGINT)
                  THEN 'accept_h1'
                WHEN llr_micro <= CAST(ROUND(LN(1.0 / 19.0) * 1000000) AS BIGINT)
                  THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM s ORDER BY day
    """,
)
def stream_sprt_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST14 streaming SPRT: the A38 Wald sequential test deployed the
    way it is meant to run — as a STREAM, accumulating per-day
    (trials, conversions) in streaming aggregation state across
    micro-batches and reading the cumulative log-likelihood ratio
    against the Wald boundaries after every update.  The drained final
    state must reproduce the batch row exactly (the per-observation
    LLR increments are integer constants, so the cumulative sum is
    micro-batch-order independent — the same replay-validity argument
    as the running-totals row).

    Scale: state is O(days) (calendar-bounded); each micro-batch
    shuffles only its own rows to their day's state partition."""
    land, batch = _landing_dir_shared(spark, sf_dir, "events")
    try:
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(land, "events"))
        )
        daily = stream.groupBy(F.col("ts").cast("date").alias("day")).agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("x"),
        )

        def finish(sink_df: DataFrame) -> DataFrame:
            from pyspark.sql import Window

            c1 = "CAST(ROUND(LN(0.05 / 0.04) * 1000000) AS BIGINT)"
            c2 = "CAST(ROUND(LN((1 - 0.05) / (1 - 0.04)) * 1000000) AS BIGINT)"
            from bytesprocessor_spark.operators.ranking import bounded_single_group

            c = bounded_single_group(
                sink_df.withColumn("llr_day", F.expr(f"x * {c1} + (n - x) * {c2}"))
            )  # calendar-bounded day table
            wc = (
                Window.partitionBy("__opid")
                .orderBy("day")
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            s = c.withColumn("llr_micro", F.sum("llr_day").over(wc).cast("long"))
            ub = "CAST(ROUND(LN(19.0) * 1000000) AS BIGINT)"
            lb = "CAST(ROUND(LN(1.0 / 19.0) * 1000000) AS BIGINT)"
            return s.select(
                F.date_format("day", "yyyy-MM-dd").alias("day"),
                F.col("n").cast("long").alias("n_events"),
                F.col("x").alias("n_conversions"),
                "llr_micro",
                F.expr(
                    f"CASE WHEN llr_micro >= {ub} THEN 'accept_h1'"
                    f" WHEN llr_micro <= {lb} THEN 'accept_h0'"
                    " ELSE 'continue' END"
                ).alias("decision"),
            ).orderBy("day")

        return _drain_and_localize(daily, finish, output_mode="complete")
    finally:
        pass  # shared landing: lives for the session (r12)


# ---------------------------------------------------------------------------
# ST16: streaming SRM monitor (the A53 guardrail as a stream)
# ---------------------------------------------------------------------------

@query(
    "stream_srm_monitor",
    """
    WITH a AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 2 AS arm
      FROM events
    ),
    d AS (
      SELECT day,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      FROM a GROUP BY day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n0, n1,
           CAST(ROUND(CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1) * 1000000)
                AS BIGINT) AS chi2_micro,
           CAST(ROUND(CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1) * 1000000)
                AS BIGINT) >= 3841459 AS srm_flag
    FROM d ORDER BY day
    """,
)
def stream_srm_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST16 streaming SRM monitor: A53's sample-ratio-mismatch
    guardrail deployed where it actually earns its keep — ON the
    ingest stream, so a broken assignment/logging path pages someone
    the day it breaks instead of voiding a week of experiment readouts
    post hoc.  Per-day per-arm counts accumulate in streaming
    aggregation state across micro-batches (complete-mode drain); the
    chi-square readout is computed over the drained state and must
    reproduce the batch row exactly (arm counts are order-independent
    sums — the replay-validity argument of the running-totals family).

    Scale: state is O(days x 2) integers; each micro-batch shuffles
    only its own rows to their day's state partition."""
    land, batch = _landing_dir_shared(spark, sf_dir, "events")
    try:
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(land, "events"))
        )
        arm = (
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
            .cast("long")
            % 2
        )
        daily = stream.groupBy(F.col("ts").cast("date").alias("day")).agg(
            F.sum(F.when(arm == 0, 1).otherwise(0)).cast("long").alias("n0"),
            F.sum(F.when(arm == 1, 1).otherwise(0)).cast("long").alias("n1"),
        )

        def finish(sink_df: DataFrame) -> DataFrame:
            chi2 = F.round(
                ((F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n1"))).cast(
                    "double"
                )
                / (F.col("n0") + F.col("n1"))
                * 1000000
            ).cast("long")
            return sink_df.select(
                F.date_format("day", "yyyy-MM-dd").alias("day"),
                "n0",
                "n1",
                chi2.alias("chi2_micro"),
                (chi2 >= 3841459).alias("srm_flag"),
            ).orderBy("day")

        return _drain_and_localize(daily, finish, output_mode="complete")
    finally:
        pass  # shared landing: lives for the session (r12)


# ---------------------------------------------------------------------------
# ST17: streaming SLO burn monitor (Q19 deployed where it pages)
# ---------------------------------------------------------------------------

@query(
    "stream_slo_burn",
    """
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
               AS errs
      FROM events GROUP BY 1
    ),
    b AS (
      SELECT day, n, errs,
             CAST(errs * 1000000 // n AS BIGINT) AS err_ppm,
             CAST(errs * 1000000000 // (n * 250000) AS BIGINT) AS burn_milli
      FROM d
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n, errs, err_ppm, burn_milli,
           burn_milli >= 2000 AS page_fast_burn
    FROM b ORDER BY day
    """,
)
def stream_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST17 streaming SLO burn monitor: Q19's error-budget burn rate
    running ON the ingest stream — the deployment where a fast-burn
    condition pages within a micro-batch instead of appearing in
    tomorrow's batch report.  Per-day (total, error) counts accumulate
    in streaming aggregation state (complete-mode drain); burn
    multiples are computed over the drained state and reproduce the
    batch row exactly (order-independent sums, the ST16 argument).

    Scale: state is O(days x 2) integers; each micro-batch shuffles
    only its own rows."""
    land, batch = _landing_dir_shared(spark, sf_dir, "events")
    try:
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(land, "events"))
        )
        daily = stream.groupBy(F.col("ts").cast("date").alias("day")).agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("errs"),
        )

        def finish(sink_df: DataFrame) -> DataFrame:
            b = sink_df.select(
                F.date_format("day", "yyyy-MM-dd").alias("day"),
                "n",
                "errs",
                F.expr("CAST(errs * 1000000 div n AS BIGINT)").alias("err_ppm"),
                F.expr(
                    "CAST(errs * 1000000000 div (n * 250000) AS BIGINT)"
                ).alias("burn_milli"),
            )
            return b.select(
                "day", "n", "errs", "err_ppm", "burn_milli",
                (F.col("burn_milli") >= 2000).alias("page_fast_burn"),
            ).orderBy("day")

        return _drain_and_localize(daily, finish, output_mode="complete")
    finally:
        pass  # shared landing: lives for the session (r12)


@query(
    "stream_lateness_audit",
    """
    WITH e AS (SELECT event_id, ts FROM events),
    lt AS (SELECT *, (event_id % 7 = 0 AND ts < TIMESTAMP '2024-01-10')
                       AS is_replay FROM e),
    a AS (SELECT ts FROM lt WHERE ts < TIMESTAMP '2024-01-25' AND NOT is_replay),
    b AS (SELECT ts FROM lt WHERE ts >= TIMESTAMP '2024-01-25' OR is_replay),
    wm AS (SELECT (SELECT MAX(ts) FROM a) - INTERVAL 6 HOUR AS w1,
                  (SELECT MAX(ts) FROM b) - INTERVAL 6 HOUR AS w2),
    adm AS (SELECT b.ts FROM b, wm
            WHERE make_timestamp(((epoch_us(b.ts) // 3600000000) + 1)
                                 * 3600000000) > wm.w1),
    fl AS (SELECT ts FROM a UNION ALL SELECT ts FROM adm),
    win AS (SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)
                     AS ws,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM fl GROUP BY 1),
    cls AS (SELECT STRFTIME(win.ws, '%Y-%m-%d %H:%M:%S') AS win_start,
                   win.n,
                   CASE WHEN win.ws + INTERVAL 1 HOUR <= wm.w2
                        THEN 'emitted' ELSE 'held_at_close' END AS phase
            FROM win, wm),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM e)
    SELECT win_start, n, phase FROM cls
    UNION ALL
    SELECT '_DROPPED_LATE',
           CAST(t.total - COALESCE((SELECT SUM(n) FROM cls), 0) AS BIGINT),
           'dropped'
    FROM t
    ORDER BY win_start
    """,
)
def stream_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4 watermark late-data accounting as an ORACLE row (VERDICT r5
    #7 — previously pytest-only mechanics): tumbling 1-hour counts
    under ``withWatermark("ts", "6 hours")`` in APPEND mode, driven as
    TWO deterministic micro-batch drains over ONE checkpoint (memory
    sinks cannot recover a checkpoint, so the sink is parquet; each
    slice is written coalesce(1); the watermark only advances BETWEEN
    micro-batches — the determinism device that makes streaming
    semantics SQL-modelable, not a scale posture):

      drain 1: the on-time slice (ts < Jan 25, minus a designated
        replay subset) — establishes watermark W1 = max(ts) - 6 h;
      drain 2 (one micro-batch, two appended files — VERDICT r7 #5
        collapsed the former drains 2+3 into one checkpoint restart):
        the tail slice (ts >= Jan 25) PLUS the replay subset (every
        7th event from before Jan 10) arriving >15 days late, PLUS
        one sentinel row far past the fixture.  Every row in the
        batch is gated against W1 (the watermark committed by
        drain 1): replay windows ended long before W1, so their rows
        are DROPPED; the sentinel then advances the watermark beyond
        every real window, and the drain's trailing no-data
        micro-batch flushes the held tail (the sentinel's own window
        is excluded from the readout).  W2 — the watermark the stream
        would have reached at the last REAL event — is computed
        batch-side for the phase readout below.

    After drain 2 the sink holds exactly the ADMITTED windows, so
    every audit quantity is pure input accounting with engine
    evidence: per-window counts from the sink, phase = 'emitted' if
    the window end cleared the pre-sentinel watermark W2 (it would
    have been delivered by stream end) else 'held_at_close' (the rows
    a 6-hour delay budget holds back), and '_DROPPED_LATE' = input
    total minus sink total.  Deliberately NOT based on the
    numRowsDroppedByWatermark metric, which counts post-partial-agg
    state rows and is partition-dependent.

    Output is calendar-bounded (<= 720 windows for the 30-day
    fixture), never volume-bounded.

    Scale shape: the stream side is one windowed hash aggregation
    with watermark-bounded state (open windows only).  This is the
    watermark-design read an ingest pipeline runs before choosing its
    delay budget (compare events_lateness_histogram, the batch-side
    design twin)."""
    land = tempfile.mkdtemp(prefix="bp_wm_src_")
    ckpt = tempfile.mkdtemp(prefix="bp_wm_ckpt_")
    outd = tempfile.mkdtemp(prefix="bp_wm_out_")
    try:
        ev = _t(spark, sf_dir, "events").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        is_replay = (F.col("event_id") % 7 == 0) & (
            F.col("ts") < F.lit("2024-01-10")
        )
        on_time = ev.where((F.col("ts") < F.lit("2024-01-25")) & ~is_replay)
        tail = ev.where((F.col("ts") >= F.lit("2024-01-25")) | is_replay)
        src = os.path.join(land, "ev")
        schema = on_time.schema
        w2 = tail.agg(
            (F.max("ts") - F.expr("INTERVAL 6 HOURS")).alias("w")
        ).first()["w"]

        def drain() -> None:
            stream = spark.readStream.schema(schema).parquet(src)
            agg = (
                stream.withWatermark("ts", "6 hours")
                .groupBy(F.window("ts", "1 hour").alias("win"))
                .agg(F.count(F.lit(1)).alias("n"))
                .select(
                    F.col("win.start").alias("ws"),
                    F.col("win.end").alias("we"),
                    "n",
                )
            )
            with _state_partitions(spark):
                q = (
                    agg.writeStream.format("parquet")
                    .option("path", os.path.join(outd, "sink"))
                    .option("checkpointLocation", ckpt)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()

        on_time.coalesce(1).write.parquet(src)
        drain()
        # tail + sentinel land BEFORE the second restart: one
        # micro-batch gates them all against W1 (watermark updates
        # only between batches), then the trailing no-data batch
        # flushes the held windows — one restart instead of two
        tail.coalesce(1).write.mode("append").parquet(src)
        sentinel = spark.createDataFrame(
            [(int(-1), "2024-06-01 00:00:00", int(-1), "_sentinel", 0.0, "{}")],
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        sentinel.coalesce(1).write.mode("append").parquet(src)
        drain()

        sink = spark.read.parquet(os.path.join(outd, "sink")).where(
            F.col("ws") < F.lit("2024-03-01")  # exclude the sentinel window
        )
        # bounded localize: <= calendar-hours rows (720 for the fixture)
        rows = sink.select(
            F.date_format("ws", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            F.col("n").cast("long").alias("n"),
            F.when(F.col("we") <= F.lit(w2), F.lit("emitted"))
            .otherwise(F.lit("held_at_close"))
            .alias("phase"),
        ).collect()
        n_total = ev.count()
        n_admitted = sum(r.n for r in rows)
        audit = [("_DROPPED_LATE", n_total - n_admitted, "dropped")]
        local = spark.createDataFrame(
            [(r.win_start, r.n, r.phase) for r in rows] + audit,
            "win_start string, n long, phase string",
        )
        return local.orderBy("win_start")
    finally:
        shutil.rmtree(land, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(outd, ignore_errors=True)


@query(
    "stream_interval_join_outer",
    """
    WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
               FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
                 CAST(ROUND(value * 100) AS BIGINT) AS purchase_c
          FROM events WHERE event_type = 'purchase'),
    j AS (SELECT v.user_id, v.view_id, p.purchase_id, p.purchase_c
          FROM v LEFT JOIN p
            ON v.user_id = p.user_id
           AND p.purchase_ts >= v.view_ts
           AND p.purchase_ts <= v.view_ts + INTERVAL 2 HOUR)
    SELECT CAST(user_id % 50 AS BIGINT) AS user_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN purchase_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unmatched,
           CAST(COALESCE(SUM(purchase_c), 0) AS BIGINT) AS sum_purchase_c
    FROM j GROUP BY 1 ORDER BY 1
    """,
)
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST19 stream-stream LEFT OUTER interval join — the semantics
    ST8's inner join defers: an unmatched left row (a view with no
    purchase inside its 2-hour window) must STILL be emitted, null-
    padded, and Structured Streaming can only do that once the
    watermark proves no future match can arrive.  Driven as ONE
    checkpointed availableNow drain: the real events plus ONE
    far-future sentinel row on BOTH sides (so both state stores'
    watermarks advance at batch end); the drain's trailing no-data
    micro-batch flushes every real view's unmatched verdict before
    the readout (collapsed from two sentinel generations in r6, then
    from two restarts to one in r8 — no row here is gated against an
    intermediate watermark, so the split bought nothing).  Sentinels
    are excluded from the result by user_id sign.

    The oracle is the plain batch LEFT JOIN with the identical
    interval condition — equality proves both match completeness
    (state never evicted early) AND unmatched-emission completeness
    (every flushed view accounted, none emitted twice).

    Determinism: matches are order-independent; unmatched emission is
    forced by the sentinel watermark; integer counts/cents rollup per
    user bucket.

    Scale shape: the join state is watermark + interval bounded
    (a buffered view is droppable once the purchase watermark passes
    view_ts + 2h); the readout is a 50-row bucket aggregate."""
    from bytesprocessor_spark.streaming.joins import interval_join

    land = tempfile.mkdtemp(prefix="bp_oj_src_")
    ckpt = tempfile.mkdtemp(prefix="bp_oj_ckpt_")
    outd = tempfile.mkdtemp(prefix="bp_oj_out_")
    try:
        ev = _t(spark, sf_dir, "events").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        src = os.path.join(land, "ev")
        schema = ev.schema

        def drain() -> None:
            stream = spark.readStream.schema(schema).parquet(src)
            views = stream.where(F.col("event_type") == "view").select(
                "user_id",
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("view_ts"),
            )
            purch = stream.where(F.col("event_type") == "purchase").select(
                "user_id",
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
                F.col("value").alias("purchase_value"),
            )
            joined = interval_join(
                views,
                purch,
                key="user_id",
                left_ts="view_ts",
                right_ts="purchase_ts",
                lower="0 seconds",
                upper="2 hours",
                watermark="1 hour",
                how="left_outer",
            )
            with _state_partitions(spark):
                q = (
                    joined.writeStream.format("parquet")
                    .option("path", os.path.join(outd, "sink"))
                    .option("checkpointLocation", ckpt)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()

        # ONE drain suffices (VERDICT r6 #2 collapsed two sentinel
        # generations to one; VERDICT r7 #5 collapses the remaining two
        # RESTARTS to one): nothing in this query is gated against an
        # intermediate watermark — matches are found within the batch,
        # and the far-future sentinels (landed with the real events)
        # advance the watermark past max(view_ts) + 2h + delay at batch
        # end, so the engine's trailing no-data micro-batch (within the
        # same availableNow drain) evicts + null-pads every unmatched
        # buffered view.  Restart recovery is exercised by the lateness
        # audit's two-restart protocol and the txnlog pytest suite.
        ev.coalesce(1).write.parquet(src)
        sent = spark.createDataFrame(
            [
                (-1, "2024-07-01", -1, "view", 0.0, "{}"),
                (-100, "2024-07-01", -1, "purchase", 0.0, "{}"),
            ],
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        sent.coalesce(1).write.mode("append").parquet(src)
        drain()

        sink = spark.read.parquet(os.path.join(outd, "sink")).where(
            F.col("user_id") >= 0
        )
        out = (
            sink.groupBy((F.col("user_id") % 50).alias("user_bucket"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(
                    F.when(F.col("purchase_id").isNotNull(), 1).otherwise(0)
                )
                .cast("long")
                .alias("n_matched"),
                F.sum(F.when(F.col("purchase_id").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_unmatched"),
                F.coalesce(F.sum(cents(F.col("purchase_value"))), F.lit(0))
                .cast("long")
                .alias("sum_purchase_c"),
            )
            .orderBy("user_bucket")
        )
        # bounded localize (<= 50 rows) so the temp dirs can drop
        local = spark.createDataFrame(out.collect(), out.schema)
        return local
    finally:
        shutil.rmtree(land, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(outd, ignore_errors=True)


@query(
    "stream_session_windows",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts)
                       - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)
                       > 1800000000
                    OR LAG(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    ),
    sess AS (
      SELECT user_id, sid,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS span_us
      FROM s GROUP BY user_id, sid
    )
    SELECT CAST(user_id % 50 AS BIGINT) AS user_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(span_us) AS BIGINT) AS sum_span_us,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events
    FROM sess GROUP BY 1 ORDER BY 1
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST21 — session windows ON THE STREAM (the batch twin is ST3's
    window_session): per-user 30-minute-gap sessions via
    ``session_window`` under a watermark in APPEND mode, driven as ONE
    checkpointed availableNow drain — the real events plus one
    far-future sentinel row whose batch-end watermark advance lets the
    trailing no-data micro-batch flush every real session (the
    sentinel's own still-open session is never emitted and is
    excluded by user sign anyway; no row here is late, so a second
    restart added nothing — VERDICT r7 #5).

    The oracle is the classic gaps-and-islands rewrite; equality
    proves Spark's incremental session-merge state machine (sessions
    extend/merge as events arrive across micro-batches) converges to
    exactly the batch islands — per session, not just in total: the
    per-bucket readout sums session COUNTS, event counts, and
    min-to-max spans, all of which differ the moment a session is
    split or merged wrongly.

    Scale shape: session state is per-key and watermark-bounded (a
    closed session leaves the store on emission); the readout is a
    50-row bucket rollup.  Determinism: µs-integer spans; the 30-min
    merge boundary (diff <= gap merges) maps to the strict
    ``> 1800000000`` µs island rule exactly."""
    land = tempfile.mkdtemp(prefix="bp_sess_src_")
    ckpt = tempfile.mkdtemp(prefix="bp_sess_ckpt_")
    outd = tempfile.mkdtemp(prefix="bp_sess_out_")
    try:
        ev = _t(spark, sf_dir, "events").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        src = os.path.join(land, "ev")
        schema = ev.schema

        def drain() -> None:
            stream = spark.readStream.schema(schema).parquet(src)
            agg = (
                stream.withWatermark("ts", "1 hour")
                .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
                .agg(F.count(F.lit(1)).alias("n_events"))
                .select(
                    "user_id",
                    F.col("sw.start").alias("s_start"),
                    F.col("sw.end").alias("s_end"),
                    "n_events",
                )
            )
            with _state_partitions(spark):
                q = (
                    agg.writeStream.format("parquet")
                    .option("path", os.path.join(outd, "sink"))
                    .option("checkpointLocation", ckpt)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()

        # ONE drain (VERDICT r7 #5): no row is late here, so the
        # sentinel can land with the real events — sessions merge
        # within the batch, the watermark advances at batch end, and
        # the trailing no-data micro-batch flushes every closed real
        # session.  The incremental cross-batch merge machinery is
        # still exercised: state is built, closed, and evicted through
        # the checkpointed store, just without a second restart.
        ev.coalesce(1).write.parquet(src)
        sentinel = spark.createDataFrame(
            [(int(-1), "2024-07-01 00:00:00", int(-1), "_sentinel", 0.0, "{}")],
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        sentinel.coalesce(1).write.mode("append").parquet(src)
        drain()

        sink = spark.read.parquet(os.path.join(outd, "sink")).where(
            F.col("user_id") >= 0
        )
        out = (
            sink.groupBy((F.col("user_id") % 50).alias("user_bucket"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_sessions"),
                F.sum("n_events").cast("long").alias("n_events"),
                # session_window.end = last_ts + gap, so the min-to-max
                # span is (end - start) - gap, summed in exact µs
                F.sum(
                    F.unix_micros("s_end")
                    - F.unix_micros("s_start")
                    - F.lit(1800000000)
                )
                .cast("long")
                .alias("sum_span_us"),
                F.max("n_events").cast("long").alias("max_session_events"),
            )
            .orderBy("user_bucket")
        )
        # bounded localize (<= 50 rows) so the temp dirs can drop
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(land, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(outd, ignore_errors=True)


@query(
    "stream_first_touch",
    """
    WITH f AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_first_touch
    FROM f GROUP BY event_type ORDER BY event_type
    """,
)
def stream_first_touch_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST23 keyed first-touch dedup via dropDuplicatesWithinWatermark:
    the state-TTL dedup primitive (ST5's dropDuplicates keeps state
    keyed on event ids forever within the watermark; THIS keys state
    on (user, type) and evicts it once the watermark passes — the
    operator behind first-touch attribution and once-per-user-per-
    campaign triggers at unbounded key cardinality).  The landing
    directory again receives TWO copies of every file (at-least-once
    delivery), so the state machine must absorb both redelivery and
    in-key duplicates.

    The hard oracle: per type, the surviving-row count must equal
    batch COUNT(DISTINCT user) — valid regardless of WHICH duplicate
    survives (survivor choice is micro-batch-order dependent; every
    readout column is key-derived, so the choice is invisible — the
    same determinism-by-construction discipline as ST5's pre-
    quantized totals).

    Scale: state is O(live keys within the watermark horizon), not
    O(events) — the eviction bound is the entire point of the
    WithinWatermark variant."""
    land, batch = _landing_dir(spark, sf_dir, "events")
    try:
        batch.write.mode("append").parquet(os.path.join(land, "events"))
        stream = spark.readStream.schema(batch.schema).parquet(
            os.path.join(land, "events")
        )
        # ORACLE DEPENDENCY (ADVICE r9): per-type survivors ==
        # COUNT(DISTINCT user_id) holds only while NO (user, type)
        # state is evicted during the replay — an evicted key would
        # admit a second survivor if the drain ever splits into
        # multiple micro-batches (maxFilesPerTrigger, file-count
        # growth).  The delay is therefore pinned WIDER than any
        # fixture's event-time span (events span 30 days at every SF;
        # 3650 days gives 120x headroom), so watermark < min(ts) and
        # eviction cannot fire regardless of batch split.  The state-
        # TTL semantics under eviction are pinned separately by the
        # pytest streaming twin.
        deduped = stream.withWatermark(
            "ts", "3650 days"
        ).dropDuplicatesWithinWatermark(["user_id", "event_type"])
        return _drain_and_localize(
            deduped,
            lambda sink_df: sink_df.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_first_touch"))
            .orderBy("event_type"),
        )
    finally:
        shutil.rmtree(land, ignore_errors=True)
