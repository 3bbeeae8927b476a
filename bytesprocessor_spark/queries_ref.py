"""Reference-surface parity queries (SURVEY §2 J1, P3, Q1) checked on
the driver's tables.

The pcap pipeline itself is exercised by unit/golden tests (the driver
tables carry no packets), but its two load-bearing operators — the
attack labeling theta-join (BytesProcessor.py:288-337) and the
disjunctive range filter (BytesProcessor.py:339-354) — are pure
relational semantics, so they are oracle-checked here against a
packets-shaped projection of the events table (epoch-seconds double
timestamp + entity ids standing in for IPs, exactly the columns
label_attack_data needs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bytesprocessor_spark.queries import query, _t
from bytesprocessor_spark.operators.labeling import AttackSpec, extract_ranges, label_attacks

# Attack windows over the events table's January-2024 span.  'beta'
# overlaps 'alpha' and comes later in the list, so overlapping rows
# must take 'beta' (last-wins precedence, BytesProcessor.py:326-327);
# 'gamma' is victim-only and must contribute no forward packets
# (fixed semantics for the reference's KeyError, SURVEY §3.4.2).
_SEC = lambda d, h=0: d * 86400 + h * 3600  # noqa: E731
_T0 = 1704067200  # 2024-01-01 00:00:00 UTC

ATTACKS = (
    AttackSpec(_T0 + _SEC(4), _T0 + _SEC(9), "alpha", attacker_ips=("u3", "u7"), victim_ips=("u1", "u2")),
    AttackSpec(_T0 + _SEC(7), _T0 + _SEC(11), "beta", attacker_ips=("u3",)),
    AttackSpec(_T0 + _SEC(19), _T0 + _SEC(24), "gamma", victim_ips=("u5",)),
)

RANGES = ((_T0 + _SEC(2), _T0 + _SEC(6)), (_T0 + _SEC(14), _T0 + _SEC(19)))


def _packets_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> packets shape: double epoch timestamp + src/dst ids."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        (F.unix_micros("ts") / F.lit(1000000.0)).alias("timestamp"),
        F.concat(F.lit("u"), (F.col("user_id") % 10).cast("string")).alias("src_ip"),
        F.concat(F.lit("u"), (F.col("event_id") % 10).cast("string")).alias("dst_ip"),
    )


_PACKETS_SQL = """
      SELECT event_id,
             epoch_us(ts) / 1000000.0 AS timestamp,
             'u' || CAST(user_id % 10 AS VARCHAR) AS src_ip,
             'u' || CAST(event_id % 10 AS VARCHAR) AS dst_ip
      FROM events
"""


@query(
    "label_attacks_parity",
    f"""
    WITH packets AS ({_PACKETS_SQL}),
    labeled AS (
      SELECT *,
        -- reversed spec order == last-matching-attack-wins
        CASE
          WHEN timestamp BETWEEN {ATTACKS[2].ts_start} AND {ATTACKS[2].ts_end}
               AND dst_ip IN ('u5') THEN 'gamma'
          WHEN timestamp BETWEEN {ATTACKS[1].ts_start} AND {ATTACKS[1].ts_end}
               AND src_ip IN ('u3') THEN 'beta'
          WHEN timestamp BETWEEN {ATTACKS[0].ts_start} AND {ATTACKS[0].ts_end}
               AND ((src_ip IN ('u3','u7') AND dst_ip IN ('u1','u2'))
                 OR (dst_ip IN ('u3','u7') AND src_ip IN ('u1','u2'))) THEN 'alpha'
          ELSE 'benign' END AS label,
        ((timestamp BETWEEN {ATTACKS[0].ts_start} AND {ATTACKS[0].ts_end} AND src_ip IN ('u3','u7'))
         OR (timestamp BETWEEN {ATTACKS[1].ts_start} AND {ATTACKS[1].ts_end} AND src_ip IN ('u3')))
          AS is_forward
      FROM packets
    )
    SELECT label, is_forward, COUNT(*) AS n, MIN(event_id) AS min_event_id
    FROM labeled GROUP BY label, is_forward
    """,
)
def label_attacks_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: the labeling theta-join as a when()-chain expression —
    bidirectional, src-only and dst-only rules, last-wins precedence,
    victim-only specs yielding no forward rows."""
    packets = _packets_view(spark, sf_dir)
    labeled = label_attacks(packets, ATTACKS)
    return labeled.groupBy("label", "is_forward").agg(
        F.count("*").alias("n"), F.min("event_id").alias("min_event_id")
    )


@query(
    "extract_ranges_parity",
    f"""
    WITH packets AS ({_PACKETS_SQL})
    SELECT src_ip, COUNT(*) AS n,
           MIN(timestamp) AS min_ts, MAX(timestamp) AS max_ts
    FROM packets
    WHERE timestamp BETWEEN {RANGES[0][0]} AND {RANGES[0][1]}
       OR timestamp BETWEEN {RANGES[1][0]} AND {RANGES[1][1]}
    GROUP BY src_ip
    """,
)
def extract_ranges_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: disjunctive inclusive between-filter, pushed into the scan."""
    packets = _packets_view(spark, sf_dir)
    filtered = extract_ranges(packets, RANGES)
    return filtered.groupBy("src_ip").agg(
        F.count("*").alias("n"),
        F.min("timestamp").alias("min_ts"),
        F.max("timestamp").alias("max_ts"),
    )


@query(
    "quality_no_nulls",
    """
    SELECT
      CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_keys,
      CAST(SUM(CASE WHEN l_quantity IS NULL OR isnan(l_quantity) THEN 1 ELSE 0 END) AS BIGINT) AS bad_qty,
      CAST(SUM(CASE WHEN l_extendedprice IS NULL OR isnan(l_extendedprice) THEN 1 ELSE 0 END) AS BIGINT) AS bad_price
    FROM lineitem
    """,
)
def quality_no_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1: the reference's no-NaN invariant (BytesProcessor.py:168,180)
    as a single-pass violation count instead of a driver-side assert."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0)).alias("null_keys"),
        F.sum(
            F.when(F.col("l_quantity").isNull() | F.isnan("l_quantity"), 1).otherwise(0)
        ).alias("bad_qty"),
        F.sum(
            F.when(F.col("l_extendedprice").isNull() | F.isnan("l_extendedprice"), 1).otherwise(0)
        ).alias("bad_price"),
    )


_PORTED_SQL = """
      SELECT event_id,
             CASE WHEN user_id % 3 = 0 THEN 80
                  WHEN user_id % 3 = 1 THEN 443 ELSE 8080 END AS src_port,
             CASE WHEN event_id % 4 = 0 THEN 22
                  WHEN event_id % 4 = 1 THEN 443 ELSE 9000 END AS dst_port
      FROM events
"""


@query(
    "port_filter_parity",
    f"""
    WITH p AS ({_PORTED_SQL})
    SELECT src_port, dst_port, COUNT(*) AS n, CAST(MIN(event_id) AS BIGINT) AS min_event_id
    FROM p
    WHERE src_port IN (80, 443) OR dst_port IN (80, 443)
    GROUP BY src_port, dst_port
    """,
)
def port_filter_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Port filtering (reference roadmap, CONTRIBUTING.md) as a
    pushable IN/OR predicate, checked on a ports-shaped projection of
    events.  Pushdown onto real parquet port columns is asserted in
    tests/test_plans.py."""
    from bytesprocessor_spark.operators.labeling import port_filter

    ev = _t(spark, sf_dir, "events")
    p = ev.select(
        "event_id",
        F.when(F.col("user_id") % 3 == 0, 80)
        .when(F.col("user_id") % 3 == 1, 443)
        .otherwise(8080)
        .alias("src_port"),
        F.when(F.col("event_id") % 4 == 0, 22)
        .when(F.col("event_id") % 4 == 1, 443)
        .otherwise(9000)
        .alias("dst_port"),
    )
    return (
        port_filter(p, [80, 443], side="both")
        .groupBy("src_port", "dst_port")
        .agg(F.count("*").alias("n"), F.min("event_id").alias("min_event_id"))
    )


@query(
    "agg_salted",
    """
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qc,
           CAST(MIN(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS min_qc,
           CAST(MAX(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS max_qc,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE)
             / COUNT(l_quantity) AS avg_qc,
           string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation (operators/skew.py): groupBy
    (keys + salt) partials, then merge — must equal the plain one-stage
    groupBy, which is exactly what the oracle computes."""
    from bytesprocessor_spark.operators.skew import salted_aggregate
    from bytesprocessor_spark.queries import cents

    li = _t(spark, sf_dir, "lineitem").withColumn("qc", cents(F.col("l_quantity")))
    out = salted_aggregate(
        li,
        ["l_returnflag"],
        [
            ("qc", "count", "n"),
            ("qc", "sum", "sum_qc"),
            ("qc", "min", "min_qc"),
            ("qc", "max", "max_qc"),
            ("qc", "avg", "avg_qc"),
            ("l_linestatus", "collect_set", "statuses"),
        ],
        n_salts=8,
    )
    return out.withColumn("statuses", F.array_join("statuses", ","))


@query(
    "join_salted",
    """
    SELECT n_name, COUNT(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted equi-join (operators/skew.py): big side salted,
    small side replicated, joined on (key, salt) — row-identical to the
    plain join the oracle runs."""
    from bytesprocessor_spark.operators.skew import salted_join

    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        salted_join(cust, nation, "c_nationkey", "n_nationkey", n_salts=8)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "quality_expectations",
    """
    SELECT 'not_null' AS expectation, 'o_custkey' AS target,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'in_range', 'o_totalprice[0.0,100000.0]',
           CAST(SUM(CASE WHEN o_totalprice NOT BETWEEN 0.0 AND 100000.0
                          OR o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'in_set', 'o_orderstatus',
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O') OR o_orderstatus IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'matches', 'o_orderpriority',
           CAST(SUM(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-')
                          OR o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'unique', 'o_orderkey',
           CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'unique', 'o_custkey',
           CAST(COUNT(o_custkey) - COUNT(DISTINCT o_custkey) AS BIGINT)
    FROM orders
    """,
)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation suite (operators/quality.py) — one
    aggregation pass produces the per-rule violation report; mixes
    clean rules (0 violations) with deliberately violated ones
    (in_set missing 'P', duplicate o_custkey) so both signs are
    checked."""
    from bytesprocessor_spark.operators.quality import expectation_report

    orders = _t(spark, sf_dir, "orders")
    return expectation_report(
        orders,
        not_null=["o_custkey"],
        unique=["o_orderkey", "o_custkey"],
        in_range={"o_totalprice": (0.0, 100000.0)},
        in_set={"o_orderstatus": ["F", "O"]},
        matches={"o_orderpriority": "^[1-5]-"},
    )


@query(
    "merge_upsert_orders",
    """
    WITH t AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders
    ),
    s AS (
      SELECT o_orderkey, 'U' AS o_orderstatus, CAST(ROUND(o_totalprice * 100) AS BIGINT) * 2 AS price_c,
             o_orderkey % 11 = 0 AS is_delete
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 100000000, 'N', CAST(ROUND(o_totalprice * 100) AS BIGINT),
             FALSE
      FROM orders WHERE o_orderkey % 13 = 0
    ),
    m AS (
      SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
             CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
             CASE WHEN s.o_orderkey IS NOT NULL THEN s.price_c ELSE t.price_c END AS price_c
      FROM t FULL JOIN s ON t.o_orderkey = s.o_orderkey
      WHERE NOT (s.o_orderkey IS NOT NULL AND s.is_delete)
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
           CAST(SUM(CASE WHEN o_orderstatus = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
           CAST(SUM(price_c) AS BIGINT) AS total_price_c
    FROM m
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE semantics (operators/merge.py) applied to a deterministic
    CDC batch derived from orders itself: every 7th key updated (price
    doubled, status 'U'), every 11th of those deleted, every 13th key
    re-inserted under a shifted id.  The oracle runs the equivalent
    FULL JOIN formulation; aggregate output pins row counts per merge
    action plus the exact total."""
    from bytesprocessor_spark.operators.merge import merge_upsert
    from bytesprocessor_spark.queries import cents

    orders = _t(spark, sf_dir, "orders")
    target = orders.select(
        "o_orderkey", "o_orderstatus", cents(F.col("o_totalprice")).alias("price_c")
    )
    updates = (
        orders.where(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            (cents(F.col("o_totalprice")) * 2).alias("price_c"),
            (F.col("o_orderkey") % 11 == 0).alias("is_delete"),
        )
    )
    inserts = (
        orders.where(F.col("o_orderkey") % 13 == 0)
        .select(
            (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            cents(F.col("o_totalprice")).alias("price_c"),
            F.lit(False).alias("is_delete"),
        )
    )
    merged = merge_upsert(
        target, updates.unionByName(inserts), ["o_orderkey"], delete_col="is_delete"
    )
    return merged.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("o_orderstatus") == "U", 1).otherwise(0)).alias("n_updated"),
        F.sum(F.when(F.col("o_orderstatus") == "N", 1).otherwise(0)).alias("n_inserted"),
        F.sum("price_c").alias("total_price_c"),
    )


@query(
    "packets_portscan",
    f"""
    WITH packets AS (
      SELECT event_id,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             'u' || CAST(user_id % 10 AS VARCHAR) AS src_ip,
             'u' || CAST(event_id % 10 AS VARCHAR) AS dst_ip,
             CAST(event_id % 1024 AS BIGINT) AS dst_port
      FROM events
    ),
    s AS (
      SELECT src_ip, day,
             CAST(COUNT(*) AS BIGINT) AS n_packets,
             CAST(COUNT(DISTINCT dst_port) AS BIGINT) AS n_ports,
             CAST(COUNT(DISTINCT dst_ip) AS BIGINT) AS n_dsts
      FROM packets GROUP BY 1, 2
    )
    SELECT src_ip,
           COUNT(*) AS n_days,
           CAST(SUM(n_packets) AS BIGINT) AS n_packets,
           CAST(MAX(n_ports) AS BIGINT) AS max_ports_per_day,
           CAST(MAX(n_dsts) AS BIGINT) AS max_dsts_per_day,
           CAST(SUM(CASE WHEN n_ports >= 64 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_scan_days
    FROM s GROUP BY src_ip ORDER BY src_ip
    """,
)
def packets_portscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NIDS detection analytic on the packets shape (the reference's
    own domain, BytesProcessor.py's CICIDS2017 target): per source and
    day, the distinct destination-port and destination-host fan-out,
    rolled up to a per-source scan profile with the classic horizontal
    port-scan flag (>= 64 distinct ports from one source in one day).
    This is the query an analyst runs OVER the pipeline's labeled
    parquet output — the flow aggregation (A9) builds conversations,
    this screens for reconnaissance.

    Determinism: integer distinct counts over synthesized ids (the
    parity-view idiom of label_attacks_parity).

    Plan shape: one (src, day) aggregate with two count-distincts
    (expand strategy) absorbs the scan; the per-source rollup is
    bounded by the address space."""
    ev = _t(spark, sf_dir, "events")
    packets = ev.select(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.concat(F.lit("u"), (F.col("user_id") % 10).cast("string")).alias("src_ip"),
        F.concat(F.lit("u"), (F.col("event_id") % 10).cast("string")).alias("dst_ip"),
        (F.col("event_id") % 1024).cast("long").alias("dst_port"),
    )
    s = packets.groupBy("src_ip", "day").agg(
        F.count("*").cast("long").alias("n_packets"),
        F.countDistinct("dst_port").cast("long").alias("n_ports"),
        F.countDistinct("dst_ip").cast("long").alias("n_dsts"),
    )
    return (
        s.groupBy("src_ip")
        .agg(
            F.count("*").alias("n_days"),
            F.sum("n_packets").cast("long").alias("n_packets"),
            F.max("n_ports").cast("long").alias("max_ports_per_day"),
            F.max("n_dsts").cast("long").alias("max_dsts_per_day"),
            F.sum(F.when(F.col("n_ports") >= 64, 1).otherwise(0))
            .cast("long")
            .alias("n_scan_days"),
        )
        .orderBy("src_ip")
    )


@query(
    "packets_ddos_fanin",
    """
    WITH packets AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             'u' || CAST(user_id % 10 AS VARCHAR) AS src_ip,
             'u' || CAST(event_id % 10 AS VARCHAR) AS dst_ip
      FROM events
    ),
    d AS (
      SELECT dst_ip, day,
             CAST(COUNT(*) AS BIGINT) AS n_packets,
             CAST(COUNT(DISTINCT src_ip) AS BIGINT) AS fan_in
      FROM packets GROUP BY 1, 2
    ),
    m AS (
      SELECT dst_ip,
             list_sort(list(n_packets))[(COUNT(*) + 1) // 2] AS med_packets
      FROM d GROUP BY dst_ip
    )
    SELECT d.dst_ip, strftime(d.day, '%Y-%m-%d') AS day,
           d.n_packets, d.fan_in, m.med_packets,
           d.n_packets * 10 >= m.med_packets * 15 AS surge_flag
    FROM d JOIN m ON d.dst_ip = m.dst_ip
    ORDER BY d.dst_ip, d.day
    """,
)
def packets_ddos_fanin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NIDS volumetric screen, the mirror of packets_portscan: per
    destination and day, packet volume and source fan-in, flagged
    against the destination's OWN median daily volume (surge = >= 1.5x
    median) — baseline-relative, so a busy server isn't 'attacked'
    every day and a quiet one's flood isn't missed.  Together the pair
    covers both reconnaissance (out-bound port fan-out) and volumetric
    attack (in-bound source fan-in) over the pipeline's labeled
    parquet.

    Determinism: integer counts, lower median of an integer list,
    the surge comparison as cross-multiplied integers (n*10 >= med*15
    avoids any ratio float).

    Plan shape: one (dst, day) aggregate absorbs the scan; the per-dst
    median folds <=31 integers; the flag join is address-space
    bounded."""
    ev = _t(spark, sf_dir, "events")
    packets = ev.select(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.concat(F.lit("u"), (F.col("user_id") % 10).cast("string")).alias("src_ip"),
        F.concat(F.lit("u"), (F.col("event_id") % 10).cast("string")).alias("dst_ip"),
    )
    d = packets.groupBy("dst_ip", "day").agg(
        F.count("*").cast("long").alias("n_packets"),
        F.countDistinct("src_ip").cast("long").alias("fan_in"),
    )
    m = d.groupBy("dst_ip").agg(
        F.element_at(
            F.array_sort(F.collect_list("n_packets")),
            ((F.count("*") + 1) / 2).cast("int"),
        ).alias("med_packets")
    )
    return (
        d.join(F.broadcast(m), "dst_ip")
        .select(
            "dst_ip",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_packets",
            "fan_in",
            "med_packets",
            (F.col("n_packets") * 10 >= F.col("med_packets") * 15).alias(
                "surge_flag"
            ),
        )
        .orderBy("dst_ip", "day")
    )


@query(
    "flow_aggregate",
    """
    WITH p AS (
      SELECT epoch_us(ts) // 1000000 AS ts_s,
             'u' || CAST(user_id % 10 AS VARCHAR) AS src_ip,
             'u' || CAST(event_id % 5 AS VARCHAR) AS dst_ip,
             CAST(1024 + event_id % 8 AS BIGINT) AS src_port,
             CAST(event_id % 4 AS BIGINT) AS dst_port,
             CAST(CASE WHEN event_id % 2 = 0 THEN 6 ELSE 17 END AS BIGINT)
               AS protocol,
             CAST(length(substr(props, 1, CAST(1 + event_id % 40 AS INT)))
                  AS BIGINT) AS plen
      FROM events
    ),
    b AS (
      SELECT *, CASE WHEN ts_s - LAG(ts_s) OVER
                  (PARTITION BY src_ip, dst_ip, src_port, dst_port, protocol
                   ORDER BY ts_s) > 1800 THEN 1 ELSE 0 END AS brk
      FROM p
    ),
    g AS (
      SELECT *, SUM(brk) OVER
                  (PARTITION BY src_ip, dst_ip, src_port, dst_port, protocol
                   ORDER BY ts_s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM b
    ),
    f AS (
      SELECT src_ip, dst_ip, src_port, dst_port, protocol, sess,
             CAST(COUNT(*) AS BIGINT) AS n_packets,
             CAST(SUM(plen) AS BIGINT) AS n_bytes,
             MIN(ts_s) AS t_first, MAX(ts_s) AS t_last,
             MAX(ts_s) - MIN(ts_s) AS duration
      FROM g GROUP BY 1, 2, 3, 4, 5, 6
    )
    SELECT src_ip, dst_ip, protocol,
           CAST(COUNT(*) AS BIGINT) AS n_flows,
           CAST(SUM(n_packets) AS BIGINT) AS n_packets,
           CAST(SUM(n_bytes) AS BIGINT) AS n_bytes,
           CAST(MAX(duration) AS BIGINT) AS max_duration_s,
           CAST(MIN(t_first) AS BIGINT) AS t_first_s,
           CAST(MAX(t_last) AS BIGINT) AS t_last_s
    FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def flow_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 flow aggregation, oracle-checked (VERDICT r5 #4): netflow
    records from operators/flows.py:flow_stats over the parity-view
    packet shape (the synthesized-ids idiom of packets_portscan), with
    the idle-gap session split exercised for real — gap 1800.5 s over
    integer-second timestamps, so Spark's session_window semantics
    (merge iff diff <= 1800 s) and the oracle's island rule
    (break iff diff > 1800 s) are provably identical with no boundary
    ambiguity.  The per-flow records roll up to a bounded
    (src, dst, protocol) conversation profile — every flow counter
    (packet count, payload bytes, first/last/duration from the
    session split) feeds the checked output, so a wrong session
    assignment or counter shows up in the hash.

    Determinism: integer epoch seconds (unix_micros // 1e6 both
    engines), integer counters, no floats anywhere.

    Plan shape: flow_stats is ONE hash aggregation keyed on
    (session_window, 5-tuple) — partial + final, no window sort; the
    rollup is address-space bounded (100 rows).  The oracle's
    lag-window formulation is the SQL-semantics twin of the same
    split."""
    from bytesprocessor_spark.operators.flows import flow_stats

    ev = _t(spark, sf_dir, "events")
    packets = ev.select(
        F.expr("unix_micros(ts) div 1000000").alias("timestamp"),
        F.concat(F.lit("u"), (F.col("user_id") % 10).cast("string")).alias("src_ip"),
        F.concat(F.lit("u"), (F.col("event_id") % 5).cast("string")).alias("dst_ip"),
        (F.lit(1024) + F.col("event_id") % 8).cast("long").alias("src_port"),
        (F.col("event_id") % 4).cast("long").alias("dst_port"),
        F.when(F.col("event_id") % 2 == 0, F.lit(6))
        .otherwise(F.lit(17))
        .cast("long")
        .alias("protocol"),
        F.substring(F.col("props"), 1, (F.lit(1) + F.col("event_id") % 40).cast("int"))
        .alias("payload"),
    )
    flows = flow_stats(packets, gap_seconds=1800.5)
    return (
        flows.groupBy("src_ip", "dst_ip", "protocol")
        .agg(
            F.count("*").cast("long").alias("n_flows"),
            F.sum("n_packets").cast("long").alias("n_packets"),
            F.sum("n_bytes").cast("long").alias("n_bytes"),
            F.max("duration").cast("long").alias("max_duration_s"),
            F.min("t_first").cast("long").alias("t_first_s"),
            F.max("t_last").cast("long").alias("t_last_s"),
        )
        .orderBy("src_ip", "dst_ip", "protocol")
    )


@query(
    "biflow_aggregate",
    """
    WITH p AS (
      SELECT epoch_us(ts) // 1000000 AS ts_s,
             'u' || CAST(user_id % 10 AS VARCHAR) AS src_ip,
             'u' || CAST(event_id % 5 AS VARCHAR) AS dst_ip,
             CAST(1024 + event_id % 8 AS BIGINT) AS src_port,
             CAST(event_id % 4 AS BIGINT) AS dst_port,
             CAST(CASE WHEN event_id % 2 = 0 THEN 6 ELSE 17 END AS BIGINT)
               AS protocol,
             CAST(length(substr(props, 1, CAST(1 + event_id % 40 AS INT)))
                  AS BIGINT) AS plen
      FROM events
    ),
    o AS (
      SELECT CASE WHEN src_ip < dst_ip OR (src_ip = dst_ip AND src_port <= dst_port)
                  THEN src_ip ELSE dst_ip END AS ip_a,
             CASE WHEN src_ip < dst_ip OR (src_ip = dst_ip AND src_port <= dst_port)
                  THEN dst_ip ELSE src_ip END AS ip_b,
             CASE WHEN src_ip < dst_ip OR (src_ip = dst_ip AND src_port <= dst_port)
                  THEN src_port ELSE dst_port END AS port_a,
             CASE WHEN src_ip < dst_ip OR (src_ip = dst_ip AND src_port <= dst_port)
                  THEN dst_port ELSE src_port END AS port_b,
             protocol,
             (src_ip < dst_ip OR (src_ip = dst_ip AND src_port <= dst_port))
               AS is_fwd,
             ts_s, plen
      FROM p
    ),
    b AS (
      SELECT *, CASE WHEN ts_s - LAG(ts_s) OVER
                  (PARTITION BY ip_a, ip_b, port_a, port_b, protocol
                   ORDER BY ts_s) > 1800 THEN 1 ELSE 0 END AS brk
      FROM o
    ),
    g AS (
      SELECT *, SUM(brk) OVER
                  (PARTITION BY ip_a, ip_b, port_a, port_b, protocol
                   ORDER BY ts_s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM b
    ),
    f AS (
      SELECT ip_a, ip_b, port_a, port_b, protocol, sess,
             CAST(COUNT(*) AS BIGINT) AS n_packets,
             CAST(SUM(CASE WHEN is_fwd THEN 1 ELSE 0 END) AS BIGINT) AS n_fwd,
             CAST(SUM(CASE WHEN is_fwd THEN 0 ELSE 1 END) AS BIGINT) AS n_rev,
             CAST(SUM(plen) AS BIGINT) AS n_bytes,
             CAST(SUM(CASE WHEN is_fwd THEN plen ELSE 0 END) AS BIGINT)
               AS bytes_fwd,
             CAST(SUM(CASE WHEN is_fwd THEN 0 ELSE plen END) AS BIGINT)
               AS bytes_rev,
             MIN(ts_s) AS t_first, MAX(ts_s) AS t_last
      FROM g GROUP BY 1, 2, 3, 4, 5, 6
    )
    SELECT ip_a, ip_b, protocol,
           CAST(COUNT(*) AS BIGINT) AS n_convs,
           CAST(SUM(n_packets) AS BIGINT) AS n_packets,
           CAST(SUM(n_fwd) AS BIGINT) AS n_fwd,
           CAST(SUM(n_rev) AS BIGINT) AS n_rev,
           CAST(SUM(bytes_fwd) AS BIGINT) AS bytes_fwd,
           CAST(SUM(bytes_rev) AS BIGINT) AS bytes_rev,
           CAST(MIN(t_first) AS BIGINT) AS t_first_s,
           CAST(MAX(t_last) AS BIGINT) AS t_last_s
    FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def biflow_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 biflow aggregation, oracle-checked: bidirectional
    conversation records from operators/flows.py:biflow_stats — the
    endpoint canonicalization ((ip, port) lexicographic min first),
    per-direction packet/byte counters, and the same unambiguous
    1800.5 s session split as flow_aggregate, rolled up to a bounded
    (ip_a, ip_b, protocol) profile.  The oracle repeats the
    orientation CASE and the island split in SQL, so the canonical
    key, the fwd/rev attribution, and the session assembly are all
    value-checked.

    Determinism / plan shape: as flow_aggregate — one session-window
    hash aggregation on the canonical key (both directions hash to
    the same reducer), bounded rollup on top."""
    from bytesprocessor_spark.operators.flows import biflow_stats

    ev = _t(spark, sf_dir, "events")
    packets = ev.select(
        F.expr("unix_micros(ts) div 1000000").alias("timestamp"),
        F.concat(F.lit("u"), (F.col("user_id") % 10).cast("string")).alias("src_ip"),
        F.concat(F.lit("u"), (F.col("event_id") % 5).cast("string")).alias("dst_ip"),
        (F.lit(1024) + F.col("event_id") % 8).cast("long").alias("src_port"),
        (F.col("event_id") % 4).cast("long").alias("dst_port"),
        F.when(F.col("event_id") % 2 == 0, F.lit(6))
        .otherwise(F.lit(17))
        .cast("long")
        .alias("protocol"),
        F.substring(F.col("props"), 1, (F.lit(1) + F.col("event_id") % 40).cast("int"))
        .alias("payload"),
    )
    biflows = biflow_stats(packets, gap_seconds=1800.5)
    return (
        biflows.groupBy("ip_a", "ip_b", "protocol")
        .agg(
            F.count("*").cast("long").alias("n_convs"),
            F.sum("n_packets").cast("long").alias("n_packets"),
            F.sum("n_fwd").cast("long").alias("n_fwd"),
            F.sum("n_rev").cast("long").alias("n_rev"),
            F.sum("bytes_fwd").cast("long").alias("bytes_fwd"),
            F.sum("bytes_rev").cast("long").alias("bytes_rev"),
            F.min("t_first").cast("long").alias("t_first_s"),
            F.max("t_last").cast("long").alias("t_last_s"),
        )
        .orderBy("ip_a", "ip_b", "protocol")
    )


# ---------------------------------------------------------------------------
# S1/S1b — mixed pcap + pcapng capture directory, ONE read path (VERDICT r6 #6)
# ---------------------------------------------------------------------------

_MIX_T0 = _T0  # 2024-01-01 00:00:00 UTC
_MIX_ALPHA = (_MIX_T0, _MIX_T0 + _SEC(9))       # Jan 1 .. Jan 10
_MIX_BETA = (_MIX_T0 + _SEC(5), _MIX_T0 + _SEC(19))  # Jan 6 .. Jan 20 (overlaps; last-wins)


def _mix_frame(event_id: int, user_id: int) -> bytes:
    """One deterministic ethernet frame per event row: IPv4, TCP for
    even event ids / UDP for odd, ports and payload length derived from
    the ids the oracle SQL can reproduce."""
    import struct as _s

    src = bytes((10, 0, 0, user_id % 10))
    dst = bytes((10, 0, 1, event_id % 10))
    sport = 1024 + event_id % 1000
    dport = (22, 443, 9000, 9000)[event_id % 4]
    payload = bytes((event_id % 251,)) * (20 + event_id % 32)
    if event_id % 2 == 0:
        l4 = _s.pack(">HHIIBBHHH", sport, dport, 0, 0, 0x50, 0x18, 8192, 0xCAFE, 0) + payload
        proto = 6
    else:
        l4 = _s.pack(">HHHH", sport, dport, 8 + len(payload), 0) + payload
        proto = 17
    ip = _s.pack(
        ">BBHHHBBH4s4s", 0x45, 0, 20 + len(l4), 1, 0, 64, proto, 0xBEEF, src, dst
    )
    return b"\x02" * 6 + b"\x01" * 6 + _s.pack(">H", 0x0800) + ip + l4


@query(
    "packets_mixed_capture",
    f"""
    WITH e AS (
      SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec
      FROM events WHERE event_id < 2000
    ),
    p AS (
      -- protocol is the reference's string-number quirk (str(ip.p));
      -- payload is the anonymized FULL IP packet (sources/pcap.py:205):
      -- 20 IP + (20 TCP | 8 UDP) + app payload (20 + event_id % 32)
      SELECT sec,
             '10.0.0.' || CAST(user_id % 10 AS VARCHAR) AS src_ip,
             '10.0.1.' || CAST(event_id % 10 AS VARCHAR) AS dst_ip,
             CASE WHEN event_id % 2 = 0 THEN '6' ELSE '17' END AS protocol,
             CASE WHEN event_id % 2 = 0 THEN 60 ELSE 48 END
               + event_id % 32 AS payload_len
      FROM e
    ),
    labeled AS (
      SELECT *,
        CASE
          WHEN sec BETWEEN {_MIX_BETA[0]} AND {_MIX_BETA[1]}
               AND src_ip = '10.0.0.3' THEN 'beta'
          WHEN sec BETWEEN {_MIX_ALPHA[0]} AND {_MIX_ALPHA[1]}
               AND ((src_ip IN ('10.0.0.3','10.0.0.7') AND dst_ip IN ('10.0.1.1','10.0.1.2'))
                 OR (dst_ip IN ('10.0.0.3','10.0.0.7') AND src_ip IN ('10.0.1.1','10.0.1.2')))
               THEN 'alpha'
          ELSE 'benign' END AS label,
        ((sec BETWEEN {_MIX_ALPHA[0]} AND {_MIX_ALPHA[1]}
            AND src_ip IN ('10.0.0.3','10.0.0.7'))
         OR (sec BETWEEN {_MIX_BETA[0]} AND {_MIX_BETA[1]}
            AND src_ip = '10.0.0.3')) AS is_forward
      FROM p
    )
    SELECT label, protocol,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN is_forward THEN 1 ELSE 0 END) AS BIGINT) AS n_fwd,
           CAST(COUNT(DISTINCT src_ip) AS BIGINT) AS n_src,
           CAST(SUM(payload_len) AS BIGINT) AS payload_bytes,
           CAST(MIN(sec) AS BIGINT) AS min_sec,
           CAST(MAX(sec) AS BIGINT) AS max_sec
    FROM labeled GROUP BY label, protocol ORDER BY label, protocol
    """,
)
def packets_mixed_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S1b end-to-end through ONE read path (VERDICT r6 #6): a
    bounded event slice (event_id < 2000) is synthesized into REAL
    ethernet frames and written as a MIXED capture directory — two
    classic pcap files (event_id % 3 in (0, 1)) and one pcapng file
    (% 3 == 2, µs if_tsresol) — then read back by a single
    ``read_pcap`` call whose per-file magic dispatch
    (sources/pcap.py ``index_capture_chunks``, the reference's
    CONTRIBUTING.md:25 roadmap item) parses both formats in the same mapInArrow stage.  The
    parsed packets run the real ``label_attacks`` operator
    (BytesProcessor.py:288-337 semantics: bidirectional alpha spec,
    src-only beta spec, last-wins overlap) and roll up per
    (label, protocol).

    The oracle recomputes the identical aggregate straight from the
    events arithmetic — equality proves byte-level round-trip fidelity
    (timestamps, IPs, ports, protocol, payload lengths) ACROSS both
    container formats and the shared read contract, not just each
    parser alone (which pytest already pins separately).

    EAGER_QUERIES member: collects the bounded slice and writes the
    capture files at construction.  Readout is <= 6 rows (3 labels x
    2 protocols); capture synthesis is the test harness, not the scale
    path — at the design point the files already exist on the lake."""
    import os
    import shutil
    import tempfile

    from bytesprocessor_spark.sources.pcap import read_pcap, write_pcap
    from bytesprocessor_spark.sources.pcapng import write_pcapng

    ev = _t(spark, sf_dir, "events")
    rows = (
        ev.where(F.col("event_id") < 2000)
        .select(
            "event_id",
            "user_id",
            F.expr("unix_micros(ts) div 1000000").alias("sec"),
        )
        .collect()
    )
    shards: dict[int, list] = {0: [], 1: [], 2: []}
    for r in sorted(rows, key=lambda r: r.event_id):
        shards[r.event_id % 3].append(
            (float(r.sec), _mix_frame(r.event_id, r.user_id))
        )
    land = tempfile.mkdtemp(prefix="bp_mixed_cap_")
    try:
        write_pcap(os.path.join(land, "a.pcap"), shards[0])
        write_pcap(os.path.join(land, "b.pcap"), shards[1])
        write_pcapng(os.path.join(land, "c.pcapng"), shards[2], tsresol=6)

        packets = read_pcap(spark, land)
        labeled = label_attacks(
            packets,
            (
                AttackSpec(
                    _MIX_ALPHA[0],
                    _MIX_ALPHA[1],
                    "alpha",
                    attacker_ips=("10.0.0.3", "10.0.0.7"),
                    victim_ips=("10.0.1.1", "10.0.1.2"),
                ),
                AttackSpec(
                    _MIX_BETA[0], _MIX_BETA[1], "beta", attacker_ips=("10.0.0.3",)
                ),
            ),
        )
        out = (
            labeled.groupBy("label", "protocol")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum(F.col("is_forward").cast("int")).cast("long").alias("n_fwd"),
                F.countDistinct("src_ip").cast("long").alias("n_src"),
                F.sum(F.length("payload")).cast("long").alias("payload_bytes"),
                F.min("timestamp").cast("long").alias("min_sec"),
                F.max("timestamp").cast("long").alias("max_sec"),
            )
            .orderBy("label", "protocol")
        )
        # bounded localize (<= 6 rows) so the capture dir can drop
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(land, ignore_errors=True)
