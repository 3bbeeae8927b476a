"""Warehouse-maintenance and data-management operators (round 4).

The lakehouse operations a 100 TB training-data platform runs daily
around the analytics themselves: slowly-changing-dimension history
builds, calendar gap-fill with observation carry-forward, one-pass
table profiling, referential-integrity audits, incremental rollup
maintenance, and model-inference-as-expressions scoring.

The reference (BytesProcessor.py) has none of this surface — it is a
single-shot ETL (BytesProcessor.py:48-108) — but an engine that
replaces it in production needs the maintenance loop around the data
it lands.  All rows follow the corpus determinism contract
(queries.py module docstring): exact integer money math, unique
tiebreak keys, timestamps emitted as formatted strings.

Round-5 additions: FE1 histogram quantile binning, A32 KMV bottom-k
distinct sketch + A36 sketch set operations, A33 ABC/Pareto classes +
A35 Gini concentration, A34 exact-integer autocorrelation, Q11
two-sample KS drift, Q13 categorical-entropy profile, and A37
Kaplan-Meier survival with right-censoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bytesprocessor_spark.operators.ranking import bounded_single_group
from bytesprocessor_spark.queries import _t, cents, query
from bytesprocessor_spark.queries_llm import _DUCK_TOKS
from bytesprocessor_spark.queries_curation import _h60 as _h60_local

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"

# The open-ended "current" sentinel for SCD2 validity ranges.
_SCD2_EOT = "9999-12-31 00:00:00"


# ---------------------------------------------------------------------------
# J10: SCD Type-2 dimension build
# ---------------------------------------------------------------------------

@query(
    "scd2_order_priority",
    f"""
    WITH seq AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
             LAG(o_orderpriority) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_p
      FROM orders WHERE o_custkey <= 300
    ),
    v AS (
      SELECT *,
             SUM(CASE WHEN prev_p IS NULL OR prev_p <> o_orderpriority
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS UNBOUNDED PRECEDING) AS version
      FROM seq
    ),
    g AS (
      SELECT o_custkey AS custkey, version,
             MIN(o_orderdate) AS vf,
             MIN(o_orderpriority) AS priority,
             COUNT(*) AS n_orders
      FROM v GROUP BY o_custkey, version
    )
    SELECT custkey, CAST(version AS BIGINT) AS version, priority, n_orders,
           STRFTIME(vf, '{_TS_FMT_DUCK}') AS valid_from,
           COALESCE(STRFTIME(LEAD(vf) OVER (PARTITION BY custkey ORDER BY version),
                             '{_TS_FMT_DUCK}'),
                    '{_SCD2_EOT}') AS valid_to,
           LEAD(vf) OVER (PARTITION BY custkey ORDER BY version) IS NULL AS is_current
    FROM g
    ORDER BY custkey, version
    """,
)
def scd2_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 SCD Type-2 history build: collapse each customer's ordered
    priority sequence into validity ranges [valid_from, valid_to) with
    an is_current flag — the standard warehouse dimension-history shape
    (Kimball SCD2), derived here from the orders change stream.

    Plan: one shuffle on the business key serves everything — the
    lag/running-sum windows, the per-(key, version) collapse, and the
    lead() that closes each range all partition by custkey, so Catalyst
    reuses a single hash partitioning end-to-end.  No self-join: the
    run-collapse is the classic gaps-and-islands running sum of
    change flags, O(1) state per row.  At 100 TB the dimension key
    count bounds the shuffle, never the fact volume.
    """
    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") <= 300)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority",
        F.lag("o_orderpriority").over(w).alias("prev_p"),
    )
    chg = F.when(
        F.col("prev_p").isNull() | (F.col("prev_p") != F.col("o_orderpriority")), 1
    ).otherwise(0)
    v = seq.withColumn(
        "version", F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    g = v.groupBy(F.col("o_custkey").alias("custkey"), "version").agg(
        F.min("o_orderdate").alias("vf"),
        F.min("o_orderpriority").alias("priority"),
        F.count("*").alias("n_orders"),
    )
    w2 = Window.partitionBy("custkey").orderBy("version")
    nxt = F.lead("vf").over(w2)
    return (
        g.select(
            "custkey", "version", "priority", "n_orders",
            F.date_format("vf", _TS_FMT_SPARK).alias("valid_from"),
            F.coalesce(
                F.date_format(nxt, _TS_FMT_SPARK), F.lit(_SCD2_EOT)
            ).alias("valid_to"),
            nxt.isNull().alias("is_current"),
        )
        .orderBy("custkey", "version")
    )


# ---------------------------------------------------------------------------
# W11: calendar-spine gap fill + last-observation-carried-forward
# ---------------------------------------------------------------------------

@query(
    "events_gap_fill",
    """
    WITH f AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             COUNT(*) AS n,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sum_cents
      FROM events WHERE value > 100 GROUP BY 1, 2
    ),
    b AS (SELECT date_trunc('hour', MIN(ts)) AS lo,
                 date_trunc('hour', MAX(ts)) AS hi FROM events),
    t AS (SELECT DISTINCT event_type FROM events),
    spine AS (
      SELECT event_type, UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      FROM t, b
    ),
    j AS (
      SELECT s.event_type, s.h, f.n, f.sum_cents
      FROM spine s LEFT JOIN f ON s.event_type = f.event_type AND s.h = f.h
    )
    SELECT STRFTIME(h, '%Y-%m-%d %H:%M:%S') AS hr, event_type,
           COALESCE(n, 0) AS n_events,
           CAST(COALESCE(LAST_VALUE(sum_cents IGNORE NULLS) OVER
                      (PARTITION BY event_type ORDER BY h ROWS UNBOUNDED PRECEDING),
                    0) AS BIGINT) AS carried_cents
    FROM j
    ORDER BY event_type, hr
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11 time-series regularization: hourly calendar spine per event
    type (sequence + explode — generated, not scanned), left-joined
    onto the sparse hourly aggregate (value > 100 keeps ~30% of cells
    occupied), empty hours filled with count 0 and the last observed
    hourly sum carried forward (LOCF via last(ignorenulls) over an
    unbounded-preceding frame).

    Scale shape: the spine is O(types x hours) — generated rows, no
    per-cell scan; the fact table is touched three times, all cheap
    and column-pruned — the filtered hourly aggregate (map-side
    partial), the 2-value bounds agg, and the DISTINCT type list
    (at scale the latter two come from table metadata / a tiny dim
    instead).  The LOCF window partitions by type, the same key the
    join shuffles on.  Gap-filling 100 TB of events costs one
    aggregation of the matching rows, never a scan per spine cell.
    """
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.where(F.col("value") > 100)
        .groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count("*").alias("n"), F.sum(cents(F.col("value"))).alias("sum_cents"))
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    j = spine.join(hourly, ["event_type", "h"], "left")
    w = Window.partitionBy("event_type").orderBy("h").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        j.select(
            F.date_format("h", _TS_FMT_SPARK).alias("hr"),
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.coalesce(
                F.last("sum_cents", ignorenulls=True).over(w), F.lit(0)
            ).alias("carried_cents"),
        )
        .orderBy("event_type", "hr")
    )


# ---------------------------------------------------------------------------
# Q5: one-pass table profile (dataset statistics card)
# ---------------------------------------------------------------------------

@query(
    "profile_orders_card",
    f"""
    SELECT 'o_custkey' AS col_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_custkey) AS n_nulls,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_repr,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_repr
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', COUNT(*), COUNT(*) - COUNT(o_orderdate),
           COUNT(DISTINCT o_orderdate),
           STRFTIME(MIN(o_orderdate), '{_TS_FMT_DUCK}'),
           STRFTIME(MAX(o_orderdate), '{_TS_FMT_DUCK}')
    FROM orders
    UNION ALL
    SELECT 'o_orderkey', COUNT(*), COUNT(*) - COUNT(o_orderkey),
           COUNT(DISTINCT o_orderkey),
           CAST(MIN(o_orderkey) AS VARCHAR), CAST(MAX(o_orderkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice_cents', COUNT(*),
           COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT CAST(ROUND(o_totalprice * 100) AS BIGINT)),
           CAST(MIN(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS VARCHAR),
           CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS VARCHAR)
    FROM orders
    ORDER BY col_name
    """,
)
def profile_orders_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 dataset statistics card: per-column null count, exact
    distinct count, and min/max (rendered to engine-stable strings:
    integers and cents as decimal strings, timestamps formatted) for
    every column of orders — computed in ONE pass over the table.

    The oracle burns six scans (UNION ALL per column, the naive
    profiling shape); the Spark side uses two map-side-combined
    aggregates over the table and unpivots the joined 1x1 result with
    stack().  Two, not one, deliberately: the count-distincts plan as
    an Expand (one replica per distinct column) feeding a grouped
    aggregate, and putting the string-buffered min/max in the SAME
    aggregate demotes it to a SortAggregate that sorts the whole
     7x-expanded scan (measured 3.3 s vs 0.9 s at sf0.1).  Split, the
    distinct pass keeps all-long hash buffers and the min/max/null
    pass is a plain fold — both partial-aggregated, so what shuffles
    is O(columns) partials, never the table.
    """
    o = _t(spark, sf_dir, "orders")
    price_cents = cents(F.col("o_totalprice"))
    nn = lambda c: F.count(F.lit(1)) - F.count(c)  # noqa: E731
    distinct_a = o.agg(
        F.countDistinct("o_custkey").alias("nd_ck"),
        F.countDistinct("o_orderdate").alias("nd_od"),
        F.countDistinct("o_orderkey").alias("nd_ok"),
        F.countDistinct("o_orderpriority").alias("nd_op"),
        F.countDistinct("o_orderstatus").alias("nd_os"),
        F.countDistinct(price_cents).alias("nd_tp"),
    )
    minmax_a = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        # o_custkey
        nn("o_custkey").alias("nn_ck"),
        F.min("o_custkey").cast("string").alias("mn_ck"),
        F.max("o_custkey").cast("string").alias("mx_ck"),
        # o_orderdate
        nn("o_orderdate").alias("nn_od"),
        F.date_format(F.min("o_orderdate"), _TS_FMT_SPARK).alias("mn_od"),
        F.date_format(F.max("o_orderdate"), _TS_FMT_SPARK).alias("mx_od"),
        # o_orderkey
        nn("o_orderkey").alias("nn_ok"),
        F.min("o_orderkey").cast("string").alias("mn_ok"),
        F.max("o_orderkey").cast("string").alias("mx_ok"),
        # o_orderpriority
        nn("o_orderpriority").alias("nn_op"),
        F.min("o_orderpriority").alias("mn_op"),
        F.max("o_orderpriority").alias("mx_op"),
        # o_orderstatus
        nn("o_orderstatus").alias("nn_os"),
        F.min("o_orderstatus").alias("mn_os"),
        F.max("o_orderstatus").alias("mx_os"),
        # o_totalprice (profiled in exact cents)
        nn("o_totalprice").alias("nn_tp"),
        F.min(price_cents).cast("string").alias("mn_tp"),
        F.max(price_cents).cast("string").alias("mx_tp"),
    )
    a = distinct_a.crossJoin(minmax_a)
    return a.selectExpr(
        """stack(6,
             'o_custkey',          n_rows, nn_ck, nd_ck, mn_ck, mx_ck,
             'o_orderdate',        n_rows, nn_od, nd_od, mn_od, mx_od,
             'o_orderkey',         n_rows, nn_ok, nd_ok, mn_ok, mx_ok,
             'o_orderpriority',    n_rows, nn_op, nd_op, mn_op, mx_op,
             'o_orderstatus',      n_rows, nn_os, nd_os, mn_os, mx_os,
             'o_totalprice_cents', n_rows, nn_tp, nd_tp, mn_tp, mx_tp
           ) AS (col_name, n_rows, n_nulls, n_distinct, min_repr, max_repr)"""
    ).orderBy("col_name")


# ---------------------------------------------------------------------------
# Q6: referential-integrity audit across the star schema
# ---------------------------------------------------------------------------

_FK_EDGES = [
    # (edge name, child table, child key, parent table, parent key)
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
]


def _fk_edge_sql(edge, child, ckey, parent, pkey) -> str:
    return f"""
    SELECT '{edge}' AS edge, COUNT(*) AS n_child,
           COUNT(CASE WHEN c.k IS NOT NULL AND p.k IS NULL THEN 1 END) AS n_orphan_rows,
           COUNT(DISTINCT CASE WHEN c.k IS NOT NULL AND p.k IS NULL THEN c.k END) AS n_orphan_keys
    FROM (SELECT {ckey} AS k FROM {child}) c
    LEFT JOIN (SELECT DISTINCT {pkey} AS k FROM {parent}) p ON c.k = p.k
    """


@query(
    "audit_referential_integrity",
    "\nUNION ALL\n".join(_fk_edge_sql(*e) for e in _FK_EDGES) + "\nORDER BY edge",
)
def audit_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 foreign-key audit: for every FK edge of the star schema,
    count child rows whose key has no parent (orphans), as rows and as
    distinct keys.  NULL child keys are NOT violations (SQL FK
    semantics) — the guard matters because a tolerant ingest (S6) can
    land NULL keys that a naive anti-join would miscount.

    Plan per edge: the DISTINCT parent key set broadcasts (dimension
    keys are small even when facts are 100 TB — orders' key set is the
    largest and still orders of magnitude below the fact payload), the
    child is scanned once with a broadcast left join, and the orphan
    counts come from one aggregate — no shuffle of child rows at all.
    The seven edges are independent single-scan jobs unioned into one
    report frame.
    """
    frames = []
    for edge, child, ckey, parent, pkey in _FK_EDGES:
        c = _t(spark, sf_dir, child).select(F.col(ckey).alias("k"))
        p = (
            _t(spark, sf_dir, parent)
            .select(F.col(pkey).alias("k"))
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
        orphan = F.col("k").isNotNull() & F.col("__hit").isNull()
        frames.append(
            c.join(F.broadcast(p), "k", "left").agg(
                F.lit(edge).alias("edge"),
                F.count(F.lit(1)).alias("n_child"),
                F.count(F.when(orphan, 1)).alias("n_orphan_rows"),
                F.countDistinct(F.when(orphan, F.col("k"))).alias("n_orphan_keys"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("edge")


# ---------------------------------------------------------------------------
# A28: incremental rollup maintenance (partial-aggregate merge)
# ---------------------------------------------------------------------------

_ROLLUP_SPLIT = "1998-06-15"


@query(
    "orders_incremental_rollup",
    """
    SELECT STRFTIME(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS revenue
    FROM orders
    GROUP BY 1
    ORDER BY month
    """,
)
def orders_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A28 incremental aggregate maintenance: the monthly revenue
    rollup is maintained as mergeable partial aggregates — a "base"
    state (orders before 1998-06-15, standing in for the persisted
    rollup table) merged with a "delta" batch (orders on/after) by
    re-aggregating the union of partials.  The split lands mid-month
    so June 1998 genuinely exercises the merge path (two partials, one
    output row).  The oracle recomputes the rollup from scratch —
    equality IS the correctness statement: incremental maintenance
    must be indistinguishable from recomputation.

    Count and exact-cents sum are both decomposable aggregates, so
    the merge is a second tiny aggregation over O(months) partial
    rows, not a second scan.  At 100 TB this is the difference
    between touching one day of new data and re-reading the lake;
    non-decomposable metrics ride along as sketches (A11 HLL).
    """
    o = _t(spark, sf_dir, "orders")
    month = F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(month.alias("month")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents(F.col("o_totalprice"))).alias("rev_cents"),
        )

    base = partial(o.where(F.col("o_orderdate") < _ROLLUP_SPLIT))
    delta = partial(o.where(F.col("o_orderdate") >= _ROLLUP_SPLIT))
    return (
        base.unionByName(delta)
        .groupBy("month")
        .agg(
            F.sum("n").alias("n_orders"),
            (F.sum("rev_cents").cast("double") / 100.0).alias("revenue"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# L4n: hashing-trick linear classifier inference as pure expressions
# ---------------------------------------------------------------------------

_CLS_BUCKETS = 512
_CLS_SPAN = 2001  # weights span [-1000, +1000] micro-units


@query(
    "text_classifier_score",
    f"""
    WITH tok AS (
      SELECT doc_id, source, UNNEST({_DUCK_TOKS}) AS token
      FROM documents
    ),
    w AS (
      SELECT doc_id, source,
             (CAST('0x' || substr(md5(CAST(
                 CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) % {_CLS_BUCKETS}
               AS VARCHAR)), 1, 15) AS BIGINT) % {_CLS_SPAN}) - 1000 AS wt
      FROM tok
    ),
    s AS (
      SELECT doc_id, MIN(source) AS source, CAST(SUM(wt) AS BIGINT) AS score_micro
      FROM w GROUP BY doc_id
    )
    SELECT source, COUNT(*) AS n_docs,
           COUNT(CASE WHEN score_micro > 0 THEN 1 END) AS n_positive,
           CAST(SUM(score_micro) AS BIGINT) AS sum_score_micro,
           MIN(score_micro) AS min_score_micro,
           MAX(score_micro) AS max_score_micro
    FROM s GROUP BY source ORDER BY source
    """,
)
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4n model inference as a map-only expression chain: a
    hashing-trick linear text classifier (Weinberger et al., ICML'09
    feature hashing) scored without any UDF or model runtime.  Each
    token hashes to one of 512 buckets; the bucket's weight is itself
    hash-derived (a stand-in for trained weights — the *execution
    shape* is what's demonstrated: at scale the weight table is a
    broadcast join instead of an expression, same plan class); a
    document's score is the exact-integer sum of its tokens' weights.

    Plan: tokenize -> bucket -> weight are all codegen expressions in
    the scan projection; the only shuffle is the per-doc/per-source
    aggregation of integer partial sums.  This is the fastText-style
    quality-classifier pass every pretraining corpus gets, costing one
    map-side-combined aggregation over 100 TB.
    """
    from bytesprocessor_spark.functions.text import tokenize
    from bytesprocessor_spark.queries_curation import _h60 as h60

    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.explode(tokenize(F.col("text"))).alias("token")
    )
    bucket = h60(F.col("token")) % _CLS_BUCKETS
    wt = (h60(bucket.cast("string")) % _CLS_SPAN) - 1000
    per_doc = (
        tok.select("doc_id", "source", wt.alias("wt"))
        .groupBy("doc_id")
        .agg(F.min("source").alias("source"), F.sum("wt").alias("score_micro"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("score_micro") > 0, 1)).alias("n_positive"),
            F.sum("score_micro").alias("sum_score_micro"),
            F.min("score_micro").alias("min_score_micro"),
            F.max("score_micro").alias("max_score_micro"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# GR3: triangle counting on the supplier co-occurrence graph
# ---------------------------------------------------------------------------

_TRI_SUPPORT = 20  # min co-orders for an edge (prunes the noise tail)


@query(
    "graph_triangles",
    f"""
    WITH os AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
    pairs AS (
      SELECT a.s AS a, b.s AS b
      FROM os a JOIN os b ON a.o = b.o AND a.s < b.s
    ),
    e AS (SELECT a, b FROM pairs GROUP BY a, b HAVING COUNT(*) >= {_TRI_SUPPORT}),
    deg AS (
      SELECT v, COUNT(*) AS d
      FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
      GROUP BY v
    ),
    tri AS (
      SELECT COUNT(*) AS t
      FROM e e1
      JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
           (SELECT t FROM tri) AS n_triangles
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GR3 triangle counting (the clustering-structure primitive) on
    the supplier co-occurrence graph: an edge joins two suppliers that
    co-supplied >= {support} orders; triangles are counted by the
    oriented two-join enumeration, wedges (open triads) from the
    degree table — together they give the global clustering
    coefficient 3T/W without a float in sight.

    Scale shape: ID-orientation (a < b) means every triangle is
    enumerated exactly once and the path join fans out only over each
    node's HIGHER-id neighbours (half the degree on average; at scale,
    orient by degree instead — same plan, better skew bound).  The
    support floor turns the quadratic per-order pair explosion into a
    pruned edge list BEFORE the triangle joins, the same
    prune-before-join discipline as the Jaccard pair scan's length
    filter and decontamination.  Shuffles:
    one on the pair key for edge support, two equi-joins on node ids
    for the enumeration — never a cross join.
    """
    from bytesprocessor_spark.operators.graph import supplier_pair_weights

    # r11: the pair-weight build is the session-memoized at-rest table
    # shared with GR6/GR7/GR8 and kin (guide §2.4 — one corpus pass)
    e = (
        supplier_pair_weights(spark, sf_dir)
        .where(F.col("w") >= _TRI_SUPPORT)
        .select("a", "b")
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .agg(F.count(F.lit(1)).alias("t"))
    )
    nodes = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) / 2")).cast("long").alias("n_wedges"),
    )
    edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        nodes.crossJoin(edges)
        .crossJoin(tri)
        .select("n_nodes", "n_edges", "n_wedges", F.col("t").alias("n_triangles"))
    )


# ---------------------------------------------------------------------------
# L3h: staged ANN — coarse prefix-dimension filter, exact full rerank
# ---------------------------------------------------------------------------

_RERANK_PREFIX = 16  # stage-1 dims
_RERANK_POOL = 50  # stage-1 candidates per query
_RERANK_K = 10


@query(
    "similarity_prefix_rerank",
    f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    coarse AS (
      SELECT query_id, e.vec_id,
             list_dot_product(qv[1:{_RERANK_PREFIX}], v[1:{_RERANK_PREFIX}]) AS cd
      FROM q CROSS JOIN e
      WHERE e.vec_id <> query_id
    ),
    cand AS (
      SELECT query_id, vec_id
      FROM (SELECT *, ROW_NUMBER() OVER
              (PARTITION BY query_id ORDER BY cd DESC, vec_id) AS rk
            FROM coarse)
      WHERE rk <= {_RERANK_POOL}
    ),
    rr AS (
      SELECT c.query_id, c.vec_id,
             CAST(list_dot_product(q.qv, e.v) AS BIGINT) AS dot
      FROM cand c JOIN q ON q.query_id = c.query_id JOIN e ON e.vec_id = c.vec_id
    )
    SELECT query_id, vec_id, dot, rk AS rank
    FROM (SELECT *, ROW_NUMBER() OVER
            (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS rk
          FROM rr)
    WHERE rk <= {_RERANK_K}
    ORDER BY query_id, rank
    """,
)
def similarity_prefix_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3h two-stage retrieval: stage 1 scores every corpus vector on
    only the first {prefix} dimensions (the cheap coarse signal — at
    rest this is a skinny prefix index / matryoshka head that costs
    prefix/D of the scan bytes), keeps a {pool}-candidate pool per
    query; stage 2 re-fetches ONLY the candidates and reranks by the
    exact full-dimension dot product.  Every distance is an integer
    dot over 1e6-quantized vectors, so both stages are
    bit-deterministic across engines.

    Plan: queries broadcast over the corpus scan (stage 1 is map-only
    + a TakeOrdered-class window per query); the candidate set —
    O(queries x pool) ids — joins back to the corpus, which AQE plans
    as a broadcast join of the candidates, i.e. a second *pruned*
    fetch, not a second full scan.  This is the standard
    retrieve-then-rerank shape that keeps full-precision vectors out
    of the hot loop at 100 TB.
    """
    from bytesprocessor_spark.functions.vectors import dot_product

    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000000.0)
        ).alias("v"),
    )
    q = F.broadcast(
        e.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
    )
    coarse = (
        e.crossJoin(q)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            dot_product(
                F.slice("qv", 1, _RERANK_PREFIX), F.slice("v", 1, _RERANK_PREFIX)
            ).alias("cd"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(F.col("cd").desc(), F.col("vec_id"))
    cand = (
        coarse.withColumn("rk", F.row_number().over(w1))
        .where(F.col("rk") <= _RERANK_POOL)
        .select("query_id", "vec_id")
    )
    rr = (
        cand.join(e, "vec_id")
        .join(q, "query_id")
        .select(
            "query_id",
            "vec_id",
            dot_product(F.col("qv"), F.col("v")).cast("long").alias("dot"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("vec_id"))
    return (
        rr.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= _RERANK_K)
        .select("query_id", "vec_id", "dot", "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# A24: approximate percentile with a verified accuracy bound
# ---------------------------------------------------------------------------

@query(
    "agg_approx_percentile",
    """
    WITH r AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN rn = (n + 1) // 2 OR rn = n // 2 + 1 THEN c END) *
                (CASE WHEN MIN(n) % 2 = 0 THEN 1 ELSE 2 END) AS BIGINT)
             AS p50_cents_x2,
           MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT) THEN c END) AS p95_cents,
           TRUE AS approx_within_1pct
    FROM r
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A24 sketched quantiles with a checked accuracy contract (the
    agg_hll_sketch pattern): exact per-group p50/p95 are computed by
    rank selection over cents integers (median as the x2 integer so an
    even-count midpoint never touches floats; p95 as the
    ceil(0.95n)-th order statistic — both engines agree exactly), and
    Spark's percentile_approx (Greenwald-Khanna) estimate must land
    within 1% of the exact p95.  The oracle pins the exact order
    statistics; the sketch side of the contract is the boolean.

    At 100 TB the rank-selection form is the expensive one (a
    per-group sort); percentile_approx is the production path — a
    mergeable one-pass sketch whose partials combine associatively,
    exactly like the HLL rollup.  The checked bound is what makes the
    cheap path trustworthy.
    """
    li = _t(spark, sf_dir, "lineitem")
    c = cents(F.col("l_extendedprice"))
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wn = Window.partitionBy("l_returnflag")
    r = li.select(
        "l_returnflag",
        c.alias("c"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    exact = r.groupBy("l_returnflag").agg(
        (
            F.sum(
                F.when(
                    (F.col("rn") == F.floor((F.col("n") + 1) / 2))
                    | (F.col("rn") == F.floor(F.col("n") / 2) + 1),
                    F.col("c"),
                )
            )
            * F.when(F.min("n") % 2 == 0, 1).otherwise(2)
        )
        .cast("long")
        .alias("p50_cents_x2"),
        F.max(
            F.when(F.col("rn") == F.ceil(0.95 * F.col("n")), F.col("c"))
        ).alias("p95_cents"),
    )
    approx = li.groupBy("l_returnflag").agg(
        F.percentile_approx(c, 0.95, 10000).alias("ap95")
    )
    return (
        exact.join(F.broadcast(approx), "l_returnflag")
        .select(
            "l_returnflag",
            "p50_cents_x2",
            "p95_cents",
            (
                F.abs(F.col("ap95") - F.col("p95_cents"))
                <= 0.01 * F.col("p95_cents")
            ).alias("approx_within_1pct"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# O7b: temporal train/test split with embargo (anti-leakage)
# ---------------------------------------------------------------------------

_SPLIT_T = "2024-01-20 00:00:00"
_SPLIT_EMBARGO = "2024-01-19 00:00:00"  # T - 1 day
_SPLIT_TEST_END = "2024-01-27 00:00:00"  # T + 7 days


@query(
    "events_time_split",
    f"""
    WITH b AS (
      SELECT CASE WHEN ts < TIMESTAMP '{_SPLIT_EMBARGO}' THEN 'train'
                  WHEN ts < TIMESTAMP '{_SPLIT_T}' THEN 'embargo'
                  WHEN ts < TIMESTAMP '{_SPLIT_TEST_END}' THEN 'test'
                  ELSE 'future' END AS split,
             user_id, ts
      FROM events
    )
    SELECT split, COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
           STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
    FROM b GROUP BY split ORDER BY split
    """,
)
def events_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7b temporal split with embargo (the anti-leakage twin of O7's
    hash split, per the purged-CV discipline of de Prado, *Advances in
    Financial ML* ch.7): train strictly before T minus a 1-day embargo
    gap, test in [T, T+7d), the embargo band and post-test tail
    excluded and reported.  Feature pipelines with lookback windows
    (EWMA, sessionization) bleed future information across a naive
    boundary — the embargo absorbs the longest lookback.

    Membership is a pure timestamp predicate: any engine, any run, any
    partitioning re-derives the same split (auditable, like the hash
    split), and at rest the predicate prunes date-partitioned lakes to
    the matching partitions.  One map-only bucket tag + one aggregate.
    """
    ev = _t(spark, sf_dir, "events")
    split = (
        F.when(F.col("ts") < F.lit(_SPLIT_EMBARGO).cast("timestamp"), "train")
        .when(F.col("ts") < F.lit(_SPLIT_T).cast("timestamp"), "embargo")
        .when(F.col("ts") < F.lit(_SPLIT_TEST_END).cast("timestamp"), "test")
        .otherwise("future")
    )
    return (
        ev.select(split.alias("split"), "user_id", "ts")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("first_ts"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# A25: heavy hitters with a verified Count-Min accuracy contract
# ---------------------------------------------------------------------------

_CMS_EPS = 0.001
_CMS_CONF = 0.99
# CMS geometry from the standard guarantees (Cormode & Muthukrishnan
# '05): width w = ceil(e / eps) buckets per row bounds the overcount by
# eps*N with probability 1 - (1/e)^d; depth d = ceil(ln(1/(1-conf))).
_CMS_WIDTH = 2719   # ceil(e / 0.001)
_CMS_DEPTH = 5      # ceil(ln(1 / 0.01))


@query(
    "agg_heavy_hitters",
    """
    WITH c AS (
      SELECT l_partkey, COUNT(*) AS exact_count
      FROM lineitem GROUP BY l_partkey
      ORDER BY exact_count DESC, l_partkey LIMIT 10
    )
    SELECT ROW_NUMBER() OVER (ORDER BY exact_count DESC, l_partkey) AS rank,
           l_partkey, exact_count,
           TRUE AS cms_ge_exact, TRUE AS cms_within_eps
    FROM c
    ORDER BY rank
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A25 heavy hitters with the sketch accuracy contract (the
    agg_hll_sketch pattern, for frequencies): the exact top-10 keys by
    count are pinned by the oracle, and a Count-Min sketch (Cormode &
    Muthukrishnan '05) built in ONE pass must bound every one of them
    — estimate >= exact (structural: CMS never undercounts) and
    estimate <= exact + eps*N (the epsilon guarantee).

    The sketch is DECLARATIVE DataFrame ops, not the JVM
    CountMinSketch aggregate (which forced this entry to execute at
    construction and deserialize sketch bytes through the py4j
    gateway — the round-5 'eager + classic-session-only' wart): each
    input row projects its d = 5 (row, xxhash64(key, row) % w) counter
    coordinates through one exploded literal array — no join, no
    extra scan — and the (row, bucket) hash aggregate IS the sketch:
    map-side partials collapse every task to <= d*w rows, and partial
    merge by counter addition is exactly CMS sketch merging, so the
    shuffle carries at most d*w = 13,595 longs per task regardless of
    input volume.  Estimates for the candidate keys probe the counter
    table with a broadcast 10*d-row frame and take min over rows.
    Fully lazy: plan-auditable, Connect-compatible, one logical scan
    for sketch + N + exact top-10 (Catalyst reuses the exchange).

    At 100 TB this is how per-source frequency monitoring rides the
    ingest: persist per-batch (row, bucket, c) counter tables, merge
    by SUM on demand, never re-scan (same rollup story as the HLL
    row)."""
    li = _t(spark, sf_dir, "lineitem")
    rows_lit = F.array(*[F.lit(i) for i in range(_CMS_DEPTH)])

    def coords(df: DataFrame) -> DataFrame:
        e = df.select("*", F.explode(rows_lit).alias("i"))
        return e.withColumn(
            "bucket", F.pmod(F.xxhash64(F.col("l_partkey"), F.col("i")), F.lit(_CMS_WIDTH))
        )

    counters = (
        coords(li.select("l_partkey"))
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = li.agg(F.count(F.lit(1)).alias("n_total")).withColumn("k", F.lit(1))
    w10 = Window.partitionBy("__opid").orderBy(
        F.col("exact_count").desc(), "l_partkey"
    )
    top = (
        bounded_single_group(
            li.groupBy("l_partkey")
            .agg(F.count(F.lit(1)).alias("exact_count"))
            .orderBy(F.col("exact_count").desc(), "l_partkey")
            .limit(10)
        )
        .withColumn("rank", F.row_number().over(w10))
        .drop("__opid")
    )
    est = (
        coords(top)
        .join(counters, ["i", "bucket"], "left")
        .groupBy("rank", "l_partkey", "exact_count")
        .agg(F.min(F.coalesce("c", F.lit(0))).alias("cms_est"))
    )
    return (
        est.withColumn("k", F.lit(1))
        .join(F.broadcast(total), "k")
        .select(
            "rank",
            "l_partkey",
            "exact_count",
            (F.col("cms_est") >= F.col("exact_count")).alias("cms_ge_exact"),
            (
                F.col("cms_est")
                <= F.col("exact_count") + F.lit(_CMS_EPS) * F.col("n_total")
            ).alias("cms_within_eps"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Q8: distribution drift monitor (Population Stability Index)
# ---------------------------------------------------------------------------

_PSI_SPLIT = "1998-01-01 00:00:00"
_PSI_BUCKET_C = 2_500_000  # $25,000 buckets over exact cents


@query(
    "drift_psi_orders",
    f"""
    WITH b AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) // {_PSI_BUCKET_C} AS bucket,
             CASE WHEN o_orderdate < TIMESTAMP '{_PSI_SPLIT}' THEN 0 ELSE 1 END AS era
      FROM orders
    ),
    c AS (
      SELECT bucket,
             1 + COUNT(CASE WHEN era = 0 THEN 1 END) AS nb,
             1 + COUNT(CASE WHEN era = 1 THEN 1 END) AS nd
      FROM b GROUP BY bucket
    ),
    tot AS (SELECT SUM(nb) AS tb, SUM(nd) AS td FROM c),
    p AS (
      SELECT bucket, CAST(nb - 1 AS BIGINT) AS n_base, CAST(nd - 1 AS BIGINT) AS n_delta,
             GREATEST(CAST((nb * 1000000) // tb AS BIGINT), 1) AS pm,
             GREATEST(CAST((nd * 1000000) // td AS BIGINT), 1) AS qm
      FROM c, tot
    )
    SELECT bucket, n_base, n_delta, pm, qm,
           CAST((pm - qm)
                * CAST(ROUND(LN(CAST(pm AS DOUBLE) / qm) * 1000000) AS BIGINT)
                AS BIGINT) AS contrib_pico
    FROM p
    ORDER BY bucket
    """,
)
def drift_psi_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 distribution-drift monitor: the Population Stability Index
    decomposed per bucket between two eras of the order-value
    distribution (pre/post 1998) — the standard production alarm for
    'the data feeding this model no longer looks like the training
    data'.  PSI = sum over buckets of (p-q)·ln(p/q); here p/q are
    exact integer micro-proportions (add-1 smoothed so empty buckets
    are defined), ln quantized to 1e-6 (the corpus surprisal idiom),
    so every contribution is exact integer arithmetic — cross-engine
    bit-identical, unlike a float PSI whose reduction order drifts.

    Plan: bucket id is integer division on the scan (map-only), one
    (bucket, era) hash aggregate, the two totals broadcast back onto
    the 20-row bucket table.  At 100 TB the monitored table is read
    once; the PSI itself computes on O(buckets) rows.
    """
    o = _t(spark, sf_dir, "orders")
    era = F.when(
        F.col("o_orderdate") < F.lit(_PSI_SPLIT).cast("timestamp"), 0
    ).otherwise(1)
    b = o.select(
        (cents(F.col("o_totalprice")) / _PSI_BUCKET_C).cast("long").alias("bucket"),
        era.alias("era"),
    )
    c = b.groupBy("bucket").agg(
        (F.count(F.when(F.col("era") == 0, 1)) + 1).alias("nb"),
        (F.count(F.when(F.col("era") == 1, 1)) + 1).alias("nd"),
    )
    tot = c.agg(F.sum("nb").alias("tb"), F.sum("nd").alias("td"))
    p = c.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (F.col("nb") - 1).alias("n_base"),
        (F.col("nd") - 1).alias("n_delta"),
        # exact integer division (not double floor): beyond ~1e6 rows a
        # double quotient can floor one off from the integer // the
        # oracle computes; the GREATEST floor keeps ln() defined when a
        # 1-count bucket's proportion truncates to 0 micro-units
        F.greatest(F.expr("nb * 1000000 div tb"), F.lit(1)).alias("pm"),
        F.greatest(F.expr("nd * 1000000 div td"), F.lit(1)).alias("qm"),
    )
    lnq = F.round(
        F.log(F.col("pm").cast("double") / F.col("qm")) * 1000000.0
    ).cast("long")
    return (
        p.select(
            "bucket", "n_base", "n_delta", "pm", "qm",
            ((F.col("pm") - F.col("qm")) * lnq).alias("contrib_pico"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# L3i: distributed Gram matrix (PCA / whitening prep)
# ---------------------------------------------------------------------------

_GRAM_DIMS = 64
_GRAM_SCALE = 1000.0  # |x| < 1 -> products bounded, sums int64-safe


@query(
    "embedding_gram_matrix",
    f"""
    WITH e AS (
      SELECT list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      FROM embeddings
    ),
    a AS (SELECT v, UNNEST(generate_series(1, {_GRAM_DIMS})) AS i FROM e),
    t AS (SELECT i, v[i] AS vi, v,
                 UNNEST(generate_series(i, {_GRAM_DIMS})) AS j
          FROM a)
    SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
           CAST(SUM(vi * v[j]) AS BIGINT) AS gram
    FROM t GROUP BY i, j
    ORDER BY i, j
    """,
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3i distributed linear algebra: the d x d second-moment (Gram)
    matrix of the embedding corpus — the one-pass distributed half of
    PCA / whitening / covariance estimation (the d x d eigensolve then
    runs driver-side on this tiny exact matrix; d=64 here).  Vectors
    are 1e3-quantized so every product and sum is exact int64 (bound:
    |v_i| <= 1000, 5e8 rows before overflow risk), upper triangle only
    (the matrix is symmetric).

    Plan: the per-vector outer-product terms are generated by nested
    sequence/transform INSIDE codegen (no UDF, no join), one explode,
    then a (i, j)-keyed hash aggregate whose map-side partials reduce
    d(d+1)/2 running sums per partition — the classic
    'partial Gram per partition, add partials' shape; at real scale
    swap the explode for an Arrow-batched numpy einsum per batch
    feeding the same final aggregate (bit-identical: integer sums).
    100 TB of vectors never shuffles — only the 2,080 partial cells do.
    """
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * _GRAM_SCALE)
    )
    terms = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(_GRAM_DIMS)),
            lambda i: F.transform(
                F.sequence(i, F.lit(_GRAM_DIMS)),
                lambda j: F.struct(
                    i.alias("i"),
                    j.alias("j"),
                    (F.element_at(F.col("__v"), i) * F.element_at(F.col("__v"), j)).alias("p"),
                ),
            ),
        )
    )
    return (
        emb.select(v.alias("__v"))
        .select(F.explode(terms).alias("t"))
        .groupBy(F.col("t.i").alias("i"), F.col("t.j").alias("j"))
        .agg(F.sum("t.p").cast("long").alias("gram"))
        .orderBy("i", "j")
    )


# ---------------------------------------------------------------------------
# A29: winsorized (percentile-clipped) robust statistics
# ---------------------------------------------------------------------------

@query(
    "agg_winsorized_stats",
    """
    WITH r AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ),
    th AS (
      SELECT l_returnflag,
             MAX(CASE WHEN rn = CAST(CEIL(0.05 * n) AS BIGINT) THEN c END) AS lo,
             MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT) THEN c END) AS hi
      FROM r GROUP BY l_returnflag
    )
    SELECT r.l_returnflag,
           COUNT(*) AS n,
           COUNT(CASE WHEN c < lo THEN 1 END) AS n_clipped_low,
           COUNT(CASE WHEN c > hi THEN 1 END) AS n_clipped_high,
           CAST(SUM(LEAST(GREATEST(c, lo), hi)) AS DOUBLE) / 100.0 / COUNT(*)
             AS winsorized_mean,
           CAST(SUM(c) AS DOUBLE) / 100.0 / COUNT(*) AS raw_mean
    FROM r JOIN th ON r.l_returnflag = th.l_returnflag
    GROUP BY r.l_returnflag
    ORDER BY r.l_returnflag
    """,
)
def agg_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A29 winsorization: per-group robust mean with values clipped at
    the exact p5/p95 order statistics (rank selection over cents —
    the A24 idiom), plus clip-count accounting.  The standard
    outlier-tamed feature prep whose result, unlike a plain mean, a
    single corrupt million-dollar row cannot move.

    Plan: one rank window per group computes both order statistics
    and feeds the clipped aggregation in the same partitioning — the
    thresholds join back on the group key (tiny, broadcast).  At
    scale the exact rank window is the expensive path by design;
    production swaps in the A24-bounded percentile_approx thresholds
    with the identical clip/aggregate tail.
    """
    li = _t(spark, sf_dir, "lineitem")
    c = cents(F.col("l_extendedprice"))
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wn = Window.partitionBy("l_returnflag")
    r = li.select(
        "l_returnflag",
        c.alias("c"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    th = r.groupBy("l_returnflag").agg(
        F.max(F.when(F.col("rn") == F.ceil(0.05 * F.col("n")), F.col("c"))).alias("lo"),
        F.max(F.when(F.col("rn") == F.ceil(0.95 * F.col("n")), F.col("c"))).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("c"), F.col("lo")), F.col("hi"))
    return (
        r.join(F.broadcast(th), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("c") < F.col("lo"), 1)).alias("n_clipped_low"),
            F.count(F.when(F.col("c") > F.col("hi"), 1)).alias("n_clipped_high"),
            (F.sum(clipped).cast("double") / 100.0 / F.count(F.lit(1))).alias(
                "winsorized_mean"
            ),
            (F.sum("c").cast("double") / 100.0 / F.count(F.lit(1))).alias("raw_mean"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# L4o: vocabulary growth (Heaps' law) readout
# ---------------------------------------------------------------------------

@query(
    "text_vocab_growth",
    f"""
    WITH firsts AS (
      SELECT token, MIN(doc_id) AS first_doc
      FROM (SELECT doc_id, UNNEST(list_distinct({_DUCK_TOKS})) AS token
            FROM documents) t
      GROUP BY token
    ),
    ck AS (SELECT UNNEST([50, 100, 200, 300, 400, 500]) AS k)
    SELECT k AS docs_seen,
           COUNT(CASE WHEN first_doc < k THEN 1 END) AS vocab_size
    FROM ck, firsts
    GROUP BY k ORDER BY k
    """,
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4o vocabulary growth curve (Heaps' law readout): distinct
    vocabulary size after ingesting the first k documents (doc_id
    order — the deterministic corpus order), at fixed checkpoints.
    The curve's flattening rate is the standard estimate of how much
    NEW vocabulary (and by proxy, novel content) further crawling buys
    — the marginal-value signal corpus planners act on.

    Plan: one token explode -> (token, MIN(doc_id)) hash aggregate —
    the same inverted-index shuffle family (L4c) — then the checkpoint
    counting collapses on the vocabulary-sized table crossed with the
    6-row checkpoint list.  Documents are read once; text never
    shuffles (only distinct (doc, token) pairs do).
    """
    from bytesprocessor_spark.functions.text import tokenize

    d = _t(spark, sf_dir, "documents")
    firsts = (
        d.select(
            "doc_id",
            F.explode(F.array_distinct(tokenize(F.col("text")))).alias("token"),
        )
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    ck = F.broadcast(
        spark.createDataFrame([(k,) for k in (50, 100, 200, 300, 400, 500)], "k long")
    )
    return (
        firsts.crossJoin(ck)
        .groupBy(F.col("k").alias("docs_seen"))
        .agg(F.count(F.when(F.col("first_doc") < F.col("k"), 1)).alias("vocab_size"))
        .orderBy("docs_seen")
    )


# ---------------------------------------------------------------------------
# A30: CUPED variance-reduced experiment readout
# ---------------------------------------------------------------------------

_CUPED_SPLIT = "2024-01-16 00:00:00"  # pre-period | post-period boundary


@query(
    "events_cuped",
    f"""
    WITH u AS (
      SELECT user_id,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 2
               AS grp,
             SUM(CASE WHEN ts <  TIMESTAMP '{_CUPED_SPLIT}'
                      THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS x,
             SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}'
                      THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS y
      FROM events GROUP BY user_id
    ),
    pool AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM u
    ),
    g AS (
      SELECT grp, COUNT(*) AS n_users, SUM(x) AS gx, SUM(y) AS gy
      FROM u GROUP BY grp
    )
    SELECT grp, n_users,
           CAST(gx AS BIGINT) AS sum_pre_cents, CAST(gy AS BIGINT) AS sum_post_cents,
           (CAST(gy AS DOUBLE) / n_users) / 100.0 AS mean_post,
           ((CAST(gy AS DOUBLE) / n_users)
             - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
               * ((CAST(gx AS DOUBLE) / n_users) - (CAST(sx AS DOUBLE) / n)))
             / 100.0 AS cuped_adjusted_post
    FROM g, pool
    ORDER BY grp
    """,
)
def events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A30 CUPED (Controlled-experiment Using Pre-Experiment Data,
    Deng et al. WSDM'13): the variance-reduced A/B readout — each
    user's post-period metric is adjusted by theta times their
    pre-period deviation, theta = cov(x,y)/var(x) pooled across arms.
    The de-facto standard at experimentation platforms because it
    cuts metric variance by rho^2 without touching the treatment
    effect (E[x] is identical across arms by randomization).

    Determinism: the hash split is the A18 assignment; all five
    pooled moments (n, Σx, Σy, Σxy, Σx²) and per-arm sums accumulate
    as EXACT integers (cents; Σx² bounded well inside int64 for
    per-user cent totals < ~3e9); theta and the adjusted means are a
    FIXED tree of IEEE-double ops over those exact integers —
    bit-identical across engines because no float ever enters a
    reduction.

    Plan: one partial-agg shuffle on user_id builds the per-user
    (x, y) pairs; the pooled moments and per-arm sums are two tiny
    aggregates over that table (shared scan); everything after runs
    on 2 + 1 rows.  At 100 TB: one shuffle of user partials, full stop.
    """
    ev = _t(spark, sf_dir, "events")
    split_ts = F.lit(_CUPED_SPLIT).cast("timestamp")
    c = cents(F.col("value"))
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split_ts, c).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("ts") >= split_ts, c).otherwise(0)).alias("y"),
    ).select(
        (_h60_local(F.col("user_id").cast("string")) % 2).alias("grp"), "x", "y"
    )
    pool = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    g = u.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").alias("gx"),
        F.sum("y").alias("gy"),
    )
    # products formed in DOUBLE, not int64: sx*sy grows quadratically
    # with volume (~6e18 at sf1) and non-ANSI Spark would silently wrap
    # where the oracle raises; the long->double casts and the op tree
    # are identical on both engines, so the readout stays bit-identical
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxyd, sxxd = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    theta = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    mean_post = F.col("gy").cast("double") / F.col("n_users")
    mean_pre_g = F.col("gx").cast("double") / F.col("n_users")
    mean_pre_all = F.col("sx").cast("double") / F.col("n")
    return (
        g.crossJoin(F.broadcast(pool))
        .select(
            "grp",
            "n_users",
            F.col("gx").alias("sum_pre_cents"),
            F.col("gy").alias("sum_post_cents"),
            (mean_post / 100.0).alias("mean_post"),
            ((mean_post - theta * (mean_pre_g - mean_pre_all)) / 100.0).alias(
                "cuped_adjusted_post"
            ),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# A31: Holt double-exponential-smoothing forecast
# ---------------------------------------------------------------------------

@query(
    "events_holt_forecast",
    """
    WITH RECURSIVE d AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS yc
      FROM events GROUP BY 1, 2
    ),
    o AS (
      SELECT event_type, yc,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM d
    ),
    r AS (
      SELECT o1.event_type, 1 AS t,
             CAST(o1.yc AS DOUBLE) AS l,
             CAST(o2.yc AS DOUBLE) - CAST(o1.yc AS DOUBLE) AS b
      FROM o o1 JOIN o o2
        ON o1.event_type = o2.event_type AND o1.rn = 1 AND o2.rn = 2
      UNION ALL
      SELECT r.event_type, r.t + 1,
             (CAST(o.yc AS DOUBLE) + (r.l + r.b)) * 0.5,
             ((((CAST(o.yc AS DOUBLE) + (r.l + r.b)) * 0.5) - r.l) + r.b) * 0.5
      FROM r JOIN o ON o.event_type = r.event_type AND o.rn = r.t + 1
    ),
    mx AS (SELECT event_type, MAX(rn) AS n FROM o GROUP BY 1)
    SELECT r.event_type, CAST(r.t AS BIGINT) AS n_days,
           CAST(ROUND(r.l * 1000) AS BIGINT) AS level_mc,
           CAST(ROUND(r.b * 1000) AS BIGINT) AS trend_mc,
           CAST(ROUND((r.l + r.b * 1) * 1000) AS BIGINT) AS fc1_mc,
           CAST(ROUND((r.l + r.b * 2) * 1000) AS BIGINT) AS fc2_mc,
           CAST(ROUND((r.l + r.b * 3) * 1000) AS BIGINT) AS fc3_mc
    FROM r JOIN mx ON r.event_type = mx.event_type AND r.t = mx.n
    ORDER BY r.event_type
    """,
)
def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A31 Holt linear-trend exponential smoothing (alpha=beta=1/2)
    over each event type's daily value series, with 1/2/3-step-ahead
    forecasts — the classic capacity-planning readout one step beyond
    W8's EWMA (which tracks level only; Holt also carries trend).

    Determinism: daily totals are exact cents integers; the recurrence
    l' = (y + (l+b))/2, b' = ((l'-l) + b)/2 is written as the
    IDENTICAL IEEE expression tree on both engines and folded in the
    same strictly-sequential order (Spark: F.aggregate over the
    day-sorted array; DuckDB: a recursive CTE stepping rn), so every
    intermediate double is bit-identical; outputs quantize to
    milli-cent integers only after the fold.

    Plan shape: one shuffle for the per-(type, day) aggregate, one for
    the per-type collect.  State per series is O(days) — bounded by
    the calendar, not the event volume, so at 100 TB the heavy scan
    reduces map-side into <= types x days rows and the fold is
    driver-free constant work per series."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(cents(F.col("value"))).alias("yc"))
    arr = d.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "yc"))).alias("pts")
    )
    ys = F.transform(F.col("pts"), lambda p: p.getField("yc").cast("double"))
    a = arr.select("event_type", ys.alias("ys"))
    init = F.struct(
        F.element_at(F.col("ys"), 1).alias("l"),
        (F.element_at(F.col("ys"), 2) - F.element_at(F.col("ys"), 1)).alias("b"),
    )
    rest = F.slice(F.col("ys"), 2, F.size(F.col("ys")) - 1)
    state = F.aggregate(
        rest,
        init,
        lambda acc, y: F.struct(
            ((y + (acc.getField("l") + acc.getField("b"))) * 0.5).alias("l"),
            (
                (
                    ((y + (acc.getField("l") + acc.getField("b"))) * 0.5)
                    - acc.getField("l")
                    + acc.getField("b")
                )
                * 0.5
            ).alias("b"),
        ),
    )
    s = a.select(
        "event_type", F.size("ys").cast("long").alias("n_days"), state.alias("st")
    )
    l, b = F.col("st.l"), F.col("st.b")
    return s.select(
        "event_type",
        "n_days",
        F.round(l * 1000).cast("long").alias("level_mc"),
        F.round(b * 1000).cast("long").alias("trend_mc"),
        F.round((l + b * 1) * 1000).cast("long").alias("fc1_mc"),
        F.round((l + b * 2) * 1000).cast("long").alias("fc2_mc"),
        F.round((l + b * 3) * 1000).cast("long").alias("fc3_mc"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# J11: SCD2 as-of fact enrichment (dimension time travel)
# ---------------------------------------------------------------------------

@query(
    "scd2_asof_lookup",
    """
    WITH seq AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
             LAG(o_orderpriority) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_p
      FROM orders WHERE o_custkey <= 300
    ),
    v AS (
      SELECT *,
             SUM(CASE WHEN prev_p IS NULL OR prev_p <> o_orderpriority
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS UNBOUNDED PRECEDING) AS version
      FROM seq
    ),
    g AS (
      SELECT o_custkey AS custkey, version,
             MIN(o_orderdate) AS vf,
             MIN(o_orderpriority) AS priority
      FROM v GROUP BY o_custkey, version
    ),
    dim AS (
      SELECT custkey, version, priority, vf,
             LEAD(vf) OVER (PARTITION BY custkey ORDER BY version) AS vt
      FROM g
    ),
    f AS (
      SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate AS ship,
             o.o_custkey AS custkey, o.o_orderpriority AS prio_at_order
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_custkey <= 300
    ),
    j AS (
      SELECT f.l_orderkey, f.prio_at_order,
             COALESCE(d.priority, 'PRE-HISTORY') AS prio_at_ship,
             COALESCE(d.version, 0) AS version
      FROM f LEFT JOIN dim d
        ON f.custkey = d.custkey
       AND f.ship >= d.vf AND (d.vt IS NULL OR f.ship < d.vt)
    )
    SELECT prio_at_ship, COUNT(*) AS n_facts,
           CAST(SUM(CASE WHEN prio_at_ship <> prio_at_order
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_drifted,
           CAST(SUM(version) AS BIGINT) AS version_mass,
           CAST(SUM(l_orderkey) AS BIGINT) AS fact_checksum
    FROM j GROUP BY 1 ORDER BY 1
    """,
)
def scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 dimension time travel: every lineitem fact of the tracked
    customers is enriched with the SCD2 priority that was valid AT
    SHIP TIME (J10's history build consumed as a lookup side), next to
    the priority on the fact's own order — n_drifted counts facts
    whose dimension attribute changed between order and ship.  Facts
    shipped before the customer's first tracked version surface as
    'PRE-HISTORY' instead of silently dropping (the synthetic fixture
    ships ~half its lines before the order date).

    Plan shape: the dimension build is J10's single custkey shuffle;
    the validity ranges per customer are disjoint, so the as-of join
    matches at most one version per fact.  The dim side is key-bounded
    (<= versions per tracked customer) and broadcast onto the fact
    scan — at 100 TB the fact table never shuffles for the lookup,
    which is the entire point of consuming SCD2 ranges instead of
    re-sorting facts."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") <= 300)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority",
        F.lag("o_orderpriority").over(w).alias("prev_p"),
    )
    chg = F.when(
        F.col("prev_p").isNull() | (F.col("prev_p") != F.col("o_orderpriority")), 1
    ).otherwise(0)
    v = seq.withColumn(
        "version", F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    g = v.groupBy(F.col("o_custkey").alias("custkey"), "version").agg(
        F.min("o_orderdate").alias("vf"),
        F.min("o_orderpriority").alias("priority"),
    )
    w2 = Window.partitionBy("custkey").orderBy("version")
    dim = g.select(
        "custkey", "version", "priority", "vf", F.lead("vf").over(w2).alias("vt")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_shipdate").alias("ship")
    )
    facts = li.join(
        _t(spark, sf_dir, "orders")
        .where(F.col("o_custkey") <= 300)
        .select("o_orderkey", "o_custkey", "o_orderpriority"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        F.col("o_custkey").alias("custkey"),
        "ship",
        F.col("o_orderpriority").alias("prio_at_order"),
    )
    d = F.broadcast(dim).alias("d")
    j = facts.alias("f").join(
        d,
        (F.col("f.custkey") == F.col("d.custkey"))
        & (F.col("f.ship") >= F.col("d.vf"))
        & (F.col("d.vt").isNull() | (F.col("f.ship") < F.col("d.vt"))),
        "left",
    )
    out = j.select(
        "f.l_orderkey",
        "f.prio_at_order",
        F.coalesce(F.col("d.priority"), F.lit("PRE-HISTORY")).alias("prio_at_ship"),
        F.coalesce(F.col("d.version"), F.lit(0)).alias("version"),
    )
    return (
        out.groupBy("prio_at_ship")
        .agg(
            F.count("*").alias("n_facts"),
            F.sum(
                F.when(F.col("prio_at_ship") != F.col("prio_at_order"), 1).otherwise(0)
            ).cast("long").alias("n_drifted"),
            F.sum("version").cast("long").alias("version_mass"),
            F.sum("l_orderkey").cast("long").alias("fact_checksum"),
        )
        .orderBy("prio_at_ship")
    )


# ---------------------------------------------------------------------------
# FE1: histogram-based equi-depth quantile binning (feature discretizer)
# ---------------------------------------------------------------------------

@query(
    "orders_quantile_bins",
    """
    WITH v AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) // 10000 AS band
      FROM orders
    ),
    h AS (SELECT band, COUNT(*) AS cnt FROM v GROUP BY band),
    c AS (
      SELECT band, cnt,
             SUM(cnt) OVER (ORDER BY band
                            ROWS UNBOUNDED PRECEDING) AS cum,
             CAST((SELECT SUM(cnt) FROM h) AS BIGINT) AS n
      FROM h
    ),
    cuts AS (
      SELECT k, MIN(band) AS cut_band
      FROM c CROSS JOIN (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS k)
      WHERE cum * 10 >= k * n
      GROUP BY k
    ),
    a AS (
      SELECT v.o_orderkey, v.cents,
             1 + COUNT(cuts.k) AS bin
      FROM v LEFT JOIN cuts ON v.band > cuts.cut_band
      GROUP BY v.o_orderkey, v.cents
    )
    SELECT bin, COUNT(*) AS n_rows,
           CAST(MIN(cents) AS BIGINT) AS min_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM a GROUP BY bin ORDER BY bin
    """,
)
def orders_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FE1 equi-depth quantile binning (the Bucketizer/discretizer of
    classic feature engineering): order values are bucketed into ~10
    equal-population bins whose cutpoints come from a $100-band
    histogram — the production-scale formulation (Spark ML's own
    QuantileDiscretizer is histogram/sketch-based for the same
    reason): cutpoints live at band granularity, so the bin populations
    are equi-depth up to band ties while cutpoint selection is a
    window over the BOUNDED band table, never a global sort of raw
    rows.

    Plan shape: one hash agg to the band histogram (map-side partials
    absorb the scan), a cumulative window over <= bands rows, the
    9-row cutpoint table broadcast back onto the value stream for
    assignment, one final per-bin agg.  All arithmetic is exact cents
    integers; the cut rule ``cum*10 >= k*n`` is integer math on both
    engines."""
    o = _t(spark, sf_dir, "orders")
    v = o.select(
        "o_orderkey",
        cents(F.col("o_totalprice")).alias("cents"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT) div 10000").alias("band"),
    )
    h = v.groupBy("band").agg(F.count("*").alias("cnt"))
    n = h.agg(F.sum("cnt").cast("long").alias("n"))
    h = bounded_single_group(h)  # band-domain-bounded table
    wc = (
        Window.partitionBy("__opid")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = h.select("band", F.sum("cnt").over(wc).alias("cum")).crossJoin(F.broadcast(n))
    ks = spark.range(1, 10).select(F.col("id").alias("k"))
    cuts = (
        c.join(F.broadcast(ks), F.col("cum") * 10 >= F.col("k") * F.col("n"))
        .groupBy("k")
        .agg(F.min("band").alias("cut_band"))
    )
    # assignment is map-only: the <=9 cutpoints collapse to ONE sorted
    # array broadcast onto the value stream; bin = 1 + #cuts below the
    # band, computed in codegen — no per-row join, no row-key shuffle
    cut_arr = cuts.agg(F.array_sort(F.collect_list("cut_band")).alias("cbs"))
    a = v.crossJoin(F.broadcast(cut_arr)).select(
        "cents",
        (
            F.lit(1)
            + F.size(F.filter(F.col("cbs"), lambda x: F.col("band") > x))
        ).cast("long").alias("bin"),
    )
    return (
        a.groupBy("bin")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("cents").cast("long").alias("min_cents"),
            F.max("cents").cast("long").alias("max_cents"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# A32: KMV (bottom-k) distinct sketch with exact-error readout
# ---------------------------------------------------------------------------

# 52-bit hash space: (k-1) * 2^52 stays far inside int64 for any
# practical k, so the estimator is exact integer division end-to-end
# (the 60-bit idiom would overflow (k-1) << 60 at k = 64).
_KMV_K = 64
_KMV_SCALE = 1 << 52


@query(
    "agg_kmv_distinct",
    f"""
    WITH h AS (
      SELECT DISTINCT
             CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 13) AS BIGINT) AS hv
      FROM lineitem
    ),
    b AS (SELECT hv FROM h ORDER BY hv LIMIT {_KMV_K}),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_k,
                 CAST(MAX(hv) AS BIGINT) AS kth_hash
          FROM b),
    x AS (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
          FROM lineitem)
    SELECT n_k, kth_hash,
           CAST((n_k - 1) * {_KMV_SCALE} // kth_hash AS BIGINT) AS est_distinct,
           exact_distinct,
           CAST(abs((n_k - 1) * {_KMV_SCALE} // kth_hash - exact_distinct)
                * 1000000 // exact_distinct AS BIGINT) AS err_ppm
    FROM s CROSS JOIN x
    """,
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A32 KMV / bottom-k distinct sketch (Bar-Yossef et al. 2002;
    Beyer et al. SIGMOD'07 unbiased estimator (k-1)/h_(k)): keep the k
    smallest 52-bit hash values of the key stream; the k-th smallest
    estimates the distinct count.  Unlike HLL (A11) the sketch is a
    plain sorted list of longs — trivially mergeable by union+re-trim
    (pinned by pytest), supports set operations on sketches, and both
    engines compute it EXACTLY (same md5-derived hashes, same bottom-k,
    same integer-division estimator), so the oracle row hash-checks the
    full sketch semantics, not a tolerance band.

    The exact distinct count and err_ppm ride along as the audit
    readout (KMV relative error ~ 1/sqrt(k-1) ~ 12.7% at k=64).

    Plan shape: map-side hash projection collapses duplicates in the
    partial DISTINCT aggregate (the shuffle carries distinct 8-byte
    longs, never raw keys); the bottom-k is TakeOrdered (per-partition
    k then a k-row merge at the driver stage); the exact count is one
    more partial agg over the same pruned scan.  Nothing proportional
    to row count crosses the wire."""
    li = _t(spark, sf_dir, "lineitem")
    h = li.select(
        F.conv(F.substring(F.md5(F.col("l_partkey").cast("string")), 1, 13), 16, 10)
        .cast("long")
        .alias("hv")
    ).distinct()
    b = h.orderBy("hv").limit(_KMV_K)
    s = b.agg(
        F.count("*").cast("long").alias("n_k"),
        F.max("hv").cast("long").alias("kth_hash"),
    )
    x = li.agg(F.countDistinct("l_partkey").cast("long").alias("exact_distinct"))
    return s.crossJoin(F.broadcast(x)).select(
        "n_k",
        "kth_hash",
        F.expr(f"CAST((n_k - 1) * {_KMV_SCALE} div kth_hash AS LONG)").alias(
            "est_distinct"
        ),
        "exact_distinct",
        F.expr(
            f"CAST(abs((n_k - 1) * {_KMV_SCALE} div kth_hash - exact_distinct)"
            " * 1000000 div exact_distinct AS LONG)"
        ).alias("err_ppm"),
    )


# ---------------------------------------------------------------------------
# A33: ABC / Pareto revenue classification
# ---------------------------------------------------------------------------

@query(
    "orders_abc_pareto",
    """
    WITH r AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY o_custkey
    ),
    t AS (SELECT CAST(SUM(rev) AS BIGINT) AS total FROM r),
    c AS (
      SELECT o_custkey, rev,
             SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM r
    ),
    cl AS (
      SELECT o_custkey, rev,
             CASE WHEN cum * 1000000 // t.total <= 800000 THEN 'A'
                  WHEN cum * 1000000 // t.total <= 950000 THEN 'B'
                  ELSE 'C' END AS abc_class,
             cum * 1000000 // t.total AS cum_ppm
      FROM c CROSS JOIN t
    )
    SELECT abc_class,
           COUNT(*) AS n_customers,
           CAST(SUM(rev) AS BIGINT) AS revenue_cents,
           CAST(MAX(cum_ppm) AS BIGINT) AS max_cum_ppm
    FROM cl GROUP BY abc_class ORDER BY abc_class
    """,
)
def orders_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A33 ABC / Pareto classification: customers ranked by revenue,
    class A = the head that carries the first 80% of cumulative
    revenue, B = to 95%, C = the long tail — the 80/20 readout behind
    inventory policy, account tiering, and (in a training-data
    pipeline) the source-weighting decision of which corpora carry the
    token mass.

    Determinism: exact cents, the cumulative share is integer ppm
    floor division (never a double compare at the 80%/95% boundary),
    and the running sum orders by (rev DESC, custkey) so revenue ties
    are deterministic.

    Plan shape: one hash agg to the per-customer revenue table, then
    the DISTRIBUTED prefix-sum device over it
    (operators/ranking.py:distributed_cumsum — the customer table is
    billions of rows at 100x, so no single-partition window: each
    range slice cumsums locally and per-slice totals broadcast back),
    a 1-row total broadcast, and a 3-row final agg."""
    from bytesprocessor_spark.operators.ranking import distributed_cumsum

    o = _t(spark, sf_dir, "orders")
    r = o.groupBy("o_custkey").agg(
        F.sum(cents(F.col("o_totalprice"))).cast("long").alias("rev")
    )
    t = r.agg(F.sum("rev").cast("long").alias("total"))
    c = distributed_cumsum(
        r, [F.col("rev").desc(), F.col("o_custkey").asc()], "rev", cum_col="cum"
    )
    cl = c.crossJoin(F.broadcast(t)).select(
        "rev",
        F.expr("cum * 1000000 div total").alias("cum_ppm"),
    )
    abc = (
        F.when(F.col("cum_ppm") <= 800000, "A")
        .when(F.col("cum_ppm") <= 950000, "B")
        .otherwise("C")
    )
    return (
        cl.groupBy(abc.alias("abc_class"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("rev").cast("long").alias("revenue_cents"),
            F.max("cum_ppm").cast("long").alias("max_cum_ppm"),
        )
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------------------
# A34: autocorrelation function (ACF) of the daily series
# ---------------------------------------------------------------------------

@query(
    "events_acf",
    """
    WITH s AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) // 100 AS v
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS s1
      FROM s GROUP BY 1
    ),
    j AS (
      SELECT s.event_type, s.v, st.n, st.s1,
             LAG(v, 1) OVER w AS v1,
             LAG(v, 2) OVER w AS v2,
             LAG(v, 3) OVER w AS v3
      FROM s JOIN st USING (event_type)
      WINDOW w AS (PARTITION BY s.event_type ORDER BY s.d)
    ),
    jd AS (
      SELECT *, CAST(n AS HUGEINT) * v - s1 AS dh FROM j
    ),
    a AS (
      SELECT event_type, MAX(n) AS n_days,
             SUM(dh * dh) AS den,
             SUM(CASE WHEN v1 IS NULL THEN 0
                      ELSE dh * (CAST(n AS HUGEINT)*v1 - s1) END) AS num1,
             SUM(CASE WHEN v2 IS NULL THEN 0
                      ELSE dh * (CAST(n AS HUGEINT)*v2 - s1) END) AS num2,
             SUM(CASE WHEN v3 IS NULL THEN 0
                      ELSE dh * (CAST(n AS HUGEINT)*v3 - s1) END) AS num3
      FROM jd GROUP BY event_type
    )
    SELECT event_type, lag,
           CAST(n_days AS BIGINT) AS n_days,
           CASE WHEN ABS(num) <= 1000000000000000000000000000000
                 AND den <= 1000000000000000000000000000000
                THEN CAST(num * 1000000 // GREATEST(den, 1) AS BIGINT)
           END AS acf_ppm
    FROM a, (VALUES (1), (2), (3)) AS lags(lag),
         LATERAL (SELECT CASE lag WHEN 1 THEN num1 WHEN 2 THEN num2
                                  ELSE num3 END AS num) x
    ORDER BY event_type, lag
    """,
)
def events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A34 autocorrelation function: ACF at lags 1-3 of each event
    type's daily revenue series — the diagnostic read before picking a
    seasonal window (A19) or trusting a trend fit (A16/A31); ACF(1)
    near zero says the daily series is white noise, persistent
    positive lags say momentum.

    Exactness: with S = sum(v) and n days, n^2 * (v_t - mean) =
    n*(n*v_t - S)/1, so num_l = sum((n*v_t - S)(n*v_{t-l} - S)) and
    den = sum((n*v_t - S)^2) carry the n^2 factor IDENTICALLY and it
    cancels in the ratio — the ppm ACF is exact integer arithmetic,
    no float mean anywhere.  Deviation products accumulate in exact
    128-bit (decimal(38,0) <-> HUGEINT), so the old int64 sf~30 bound
    is gone; an exact integer guard NULLs acf_ppm LOUDLY on both
    engines past Σ = 1e30 (where the x1e6 ppm scaling would leave
    decimal(38)) — no silent-overflow path (VERDICT r9 #3).

    Plan shape: one (type, day) partial agg absorbs the scan; the
    per-type stats join back broadcast (types are K-bounded); the lag
    window partitions BY TYPE over day-count-bounded series; the
    3-lag unpivot is a 4-row literal stack.  Nothing past the first
    agg scales with event volume."""
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.expr("CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) div 100").alias("v"))
    )
    st = s.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"), F.sum("v").cast("long").alias("s1")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    j = s.join(F.broadcast(st), "event_type").select(
        "event_type",
        "v",
        "n",
        "s1",
        F.lag("v", 1).over(w).alias("v1"),
        F.lag("v", 2).over(w).alias("v2"),
        F.lag("v", 3).over(w).alias("v3"),
    )
    # exact 128-bit deviation products (decimal(38,0) <-> the oracle's
    # HUGEINT): the old int64 Σdev² bound (~sf30) is replaced by an
    # exact-integer guard that NULLs acf_ppm LOUDLY past 1e30 —
    # no silent wrap (VERDICT r9 #3)
    dev = (F.col("n").cast("decimal(19,0)") * F.col("v") - F.col("s1")).cast(
        "decimal(19,0)"
    )
    term = lambda c: F.sum(  # noqa: E731
        F.when(F.col(c).isNull(), F.lit(0).cast("decimal(38,0)")).otherwise(
            dev
            * (F.col("n").cast("decimal(19,0)") * F.col(c) - F.col("s1")).cast(
                "decimal(19,0)"
            )
        )
    )
    a = j.groupBy("event_type").agg(
        F.max("n").alias("n_days"),
        F.sum(dev * dev).alias("den"),
        term("v1").alias("num1"),
        term("v2").alias("num2"),
        term("v3").alias("num3"),
    )
    lags = spark.range(1, 4).select(F.col("id").cast("int").alias("lag"))
    num = (
        F.when(F.col("lag") == 1, F.col("num1"))
        .when(F.col("lag") == 2, F.col("num2"))
        .otherwise(F.col("num3"))
    )
    return (
        a.crossJoin(F.broadcast(lags))
        .select(
            "event_type",
            "lag",
            F.col("n_days").cast("long").alias("n_days"),
            F.expr(
                "CASE WHEN abs(CASE lag WHEN 1 THEN num1 WHEN 2 THEN num2"
                " ELSE num3 END) <= CAST('1000000000000000000000000000000'"
                " AS DECIMAL(38,0))"
                " AND den <= CAST('1000000000000000000000000000000'"
                " AS DECIMAL(38,0))"
                " THEN CAST((CASE lag WHEN 1 THEN num1 WHEN 2 THEN num2"
                " ELSE num3 END)"
                " * 1000000 div GREATEST(den, 1) AS LONG) END"
            ).alias("acf_ppm"),
        )
        .orderBy("event_type", "lag")
    )


# ---------------------------------------------------------------------------
# Q11: two-sample Kolmogorov-Smirnov drift test
# ---------------------------------------------------------------------------

_KS_BAND_C = 1_000_000  # $10,000 ECDF bands over exact cents


@query(
    "drift_ks_orders",
    f"""
    WITH b AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) // {_KS_BAND_C} AS band,
             CASE WHEN o_orderdate < TIMESTAMP '{_PSI_SPLIT}' THEN 0 ELSE 1 END AS era
      FROM orders
    ),
    h AS (
      SELECT band,
             COUNT(CASE WHEN era = 0 THEN 1 END) AS ca,
             COUNT(CASE WHEN era = 1 THEN 1 END) AS cb
      FROM b GROUP BY band
    ),
    c AS (
      SELECT band,
             SUM(ca) OVER (ORDER BY band ROWS UNBOUNDED PRECEDING) AS cum_a,
             SUM(cb) OVER (ORDER BY band ROWS UNBOUNDED PRECEDING) AS cum_b,
             CAST((SELECT SUM(ca) FROM h) AS BIGINT) AS na,
             CAST((SELECT SUM(cb) FROM h) AS BIGINT) AS nb
      FROM h
    ),
    d AS (
      SELECT band, na, nb,
             abs(CAST(cum_a * 1000000 // na AS BIGINT)
                 - CAST(cum_b * 1000000 // nb AS BIGINT)) AS gap_ppm
      FROM c
    )
    SELECT CAST(MAX(na) AS BIGINT) AS n_base,
           CAST(MAX(nb) AS BIGINT) AS n_delta,
           CAST(MAX(gap_ppm) AS BIGINT) AS d_ppm,
           CAST(MIN(CASE WHEN gap_ppm = (SELECT MAX(gap_ppm) FROM d)
                         THEN band END) AS BIGINT) AS argmax_band
    FROM d
    """,
)
def drift_ks_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 two-sample Kolmogorov-Smirnov drift test: D = max ECDF gap
    between the pre/post-1998 order-value distributions — the
    nonparametric sibling of Q8's PSI (PSI weights every bucket; KS
    reads the single worst point of the CDF, catching localized shift
    PSI smooths away).  D is exact integer ppm: both ECDFs are
    cumulative counts x 1e6 // n at $10,000 band edges (the ECDF at
    band granularity IS the KS statistic of the banded distribution —
    no float compare anywhere), argmax band rides along with a MIN
    tiebreak.

    Plan shape: one hash agg to the band histogram absorbs the scan;
    the cumulative window runs over the BOUNDED band table (the FE1
    posture); the final readout is a 1-row aggregate.  Nothing past
    the histogram scales with row count."""
    o = _t(spark, sf_dir, "orders")
    b = o.select(
        F.expr(f"CAST(ROUND(o_totalprice * 100) AS BIGINT) div {_KS_BAND_C}").alias(
            "band"
        ),
        F.when(
            F.col("o_orderdate") < F.lit(_PSI_SPLIT).cast("timestamp"), 0
        ).otherwise(1).alias("era"),
    )
    h = b.groupBy("band").agg(
        F.count(F.when(F.col("era") == 0, 1)).alias("ca"),
        F.count(F.when(F.col("era") == 1, 1)).alias("cb"),
    )
    tot = h.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    h = bounded_single_group(h)  # band-domain-bounded table
    wc = (
        Window.partitionBy("__opid")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = h.select(
        "band",
        F.sum("ca").over(wc).alias("cum_a"),
        F.sum("cb").over(wc).alias("cum_b"),
    ).crossJoin(F.broadcast(tot))
    d = c.select(
        "band",
        "na",
        "nb",
        F.abs(
            F.expr("CAST(cum_a * 1000000 div na AS BIGINT)")
            - F.expr("CAST(cum_b * 1000000 div nb AS BIGINT)")
        ).alias("gap_ppm"),
    )
    return d.agg(
        F.max("na").cast("long").alias("n_base"),
        F.max("nb").cast("long").alias("n_delta"),
        F.max("gap_ppm").cast("long").alias("d_ppm"),
        F.expr("CAST(min_by(band, struct(-gap_ppm, band)) AS BIGINT)").alias(
            "argmax_band"
        ),
    )


# ---------------------------------------------------------------------------
# A35: Gini coefficient / Lorenz concentration
# ---------------------------------------------------------------------------

@query(
    "orders_gini",
    """
    WITH r AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY o_custkey
    ),
    k AS (
      SELECT rev,
             ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS i
      FROM r
    ),
    a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rev) AS BIGINT) AS s,
             CAST(SUM(i * rev) AS BIGINT) AS si
      FROM k
    )
    SELECT n AS n_customers, s AS total_cents,
           CAST(ROUND(CAST(2 * si - (n + 1) * s AS DOUBLE)
                      / CAST(n AS DOUBLE) / CAST(s AS DOUBLE)
                      * 1000000) AS BIGINT) AS gini_ppm
    FROM a
    """,
)
def orders_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A35 Gini coefficient: revenue concentration across customers
    via the discrete Lorenz formula G = (2*sum(i*x_(i)) - (n+1)*S) /
    (n*S) over the ascending-sorted revenue sequence — the scalar
    summary behind A33's ABC classes (ABC says WHERE the 80% cut
    falls; Gini says HOW concentrated the whole curve is; 0 = uniform,
    ->1 = one customer is the revenue).

    Determinism: sum(i*x_i) and S are exact int64 (rank ties broken by
    custkey); the final ratio is two IEEE double divisions of exact
    integer operands in a pinned order — identical on both engines
    (the q1 'final division back to double' idiom) — then ppm
    quantized.

    Plan shape: one custkey hash agg, then the DISTRIBUTED rank
    device over the per-customer revenue table
    (operators/ranking.py — billions of customers at 100x, so no
    single-partition window), one 1-row reduction."""
    from bytesprocessor_spark.operators.ranking import distributed_rank

    o = _t(spark, sf_dir, "orders")
    r = o.groupBy("o_custkey").agg(
        F.sum(cents(F.col("o_totalprice"))).cast("long").alias("rev")
    )
    k = distributed_rank(
        r, [F.col("rev").asc(), F.col("o_custkey").asc()], rank_col="i"
    ).select("rev", "i")
    return (
        k.agg(
            F.count("*").cast("long").alias("n"),
            F.sum("rev").cast("long").alias("s"),
            F.sum(F.col("i") * F.col("rev")).cast("long").alias("si"),
        )
        .select(
            F.col("n").alias("n_customers"),
            F.col("s").alias("total_cents"),
            F.round(
                (2 * F.col("si") - (F.col("n") + 1) * F.col("s")).cast("double")
                / F.col("n").cast("double")
                / F.col("s").cast("double")
                * 1000000
            )
            .cast("long")
            .alias("gini_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Q13: categorical-entropy profile (column diversity audit)
# ---------------------------------------------------------------------------

@query(
    "profile_entropy_orders",
    """
    WITH u AS (
      SELECT 'o_orderstatus' AS col, o_orderstatus AS val FROM orders
      UNION ALL
      SELECT 'o_orderpriority', o_orderpriority FROM orders
      UNION ALL
      SELECT 'order_year', CAST(YEAR(o_orderdate) AS VARCHAR) FROM orders
    ),
    c AS (SELECT col, val, COUNT(*) AS cnt FROM u GROUP BY 1, 2),
    t AS (SELECT col, CAST(SUM(cnt) AS BIGINT) AS n,
                 COUNT(*) AS n_distinct FROM c GROUP BY col),
    p AS (
      SELECT c.col, t.n_distinct,
             GREATEST(CAST(cnt * 1000000 // t.n AS BIGINT), 1) AS pm
      FROM c JOIN t USING (col)
    )
    SELECT col, CAST(MAX(n_distinct) AS BIGINT) AS n_distinct,
           CAST(-SUM(pm * CAST(ROUND(LN(CAST(pm AS DOUBLE) / 1000000)
                                     * 1000000) AS BIGINT)) // 1000000 AS BIGINT)
             AS entropy_micronats,
           CAST((-SUM(pm * CAST(ROUND(LN(CAST(pm AS DOUBLE) / 1000000)
                                      * 1000000) AS BIGINT)) // 1000000)
                * 1000000
                // GREATEST(CAST(ROUND(LN(CAST(MAX(n_distinct) AS DOUBLE))
                                       * 1000000) AS BIGINT), 1) AS BIGINT)
             AS norm_entropy_ppm
    FROM p GROUP BY col ORDER BY col
    """,
)
def profile_entropy_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 categorical-entropy profile: Shannon entropy (micro-nats)
    and its ln(n_distinct)-normalized form for each audited
    categorical column — the diversity row the one-pass profile card
    (Q5) lacks: near-zero normalized entropy flags a column that is
    practically constant (drop it from features / stratification
    keys), near-1e6 ppm flags uniform spread.

    Determinism: the PSI idiom — proportions as floored integer
    micro-units (GREATEST 1), ln quantized to micro-nats before the
    p*ln products, pico sums scaled back by integer division; the
    normalizer ln(n_distinct) is itself micro-quantized.

    Plan shape: the 3-column unpivot is a same-scan union (one table
    pass per column expression, Catalyst prunes each branch to its
    column); one (col, val) hash agg bounded by the columns'
    cardinality; per-column totals broadcast back; K-row readout."""
    o = _t(spark, sf_dir, "orders")
    u = (
        o.select(F.lit("o_orderstatus").alias("col"), F.col("o_orderstatus").alias("val"))
        .unionAll(
            o.select(F.lit("o_orderpriority"), F.col("o_orderpriority"))
        )
        .unionAll(
            o.select(F.lit("order_year"), F.year("o_orderdate").cast("string"))
        )
    )
    c = u.groupBy("col", "val").agg(F.count("*").alias("cnt"))
    t = c.groupBy("col").agg(
        F.sum("cnt").cast("long").alias("n"), F.count("*").alias("n_distinct")
    )
    p = c.join(F.broadcast(t), "col").select(
        "col",
        "n_distinct",
        F.greatest(F.expr("cnt * 1000000 div n"), F.lit(1)).alias("pm"),
    )
    ent = F.expr(
        "-SUM(pm * CAST(ROUND(LN(CAST(pm AS DOUBLE) / 1000000) * 1000000) AS BIGINT))"
        " div 1000000"
    )
    return (
        p.groupBy("col")
        .agg(
            F.max("n_distinct").cast("long").alias("n_distinct"),
            ent.cast("long").alias("entropy_micronats"),
            F.expr(
                "CAST((-SUM(pm * CAST(ROUND(LN(CAST(pm AS DOUBLE) / 1000000)"
                " * 1000000) AS BIGINT)) div 1000000) * 1000000"
                " div GREATEST(CAST(ROUND(LN(CAST(MAX(n_distinct) AS DOUBLE))"
                " * 1000000) AS BIGINT), 1) AS BIGINT)"
            ).alias("norm_entropy_ppm"),
        )
        .orderBy("col")
    )


# ---------------------------------------------------------------------------
# A36: KMV sketch set operations (union / intersection estimation)
# ---------------------------------------------------------------------------

@query(
    "agg_kmv_set_ops",
    f"""
    WITH ha AS (
      SELECT DISTINCT
             CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13) AS BIGINT) AS hv
      FROM orders
    ),
    hb AS (
      SELECT DISTINCT
             CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 13) AS BIGINT) AS hv
      FROM customer
    ),
    sa AS (SELECT hv FROM ha ORDER BY hv LIMIT {_KMV_K}),
    sb AS (SELECT hv FROM hb ORDER BY hv LIMIT {_KMV_K}),
    su AS (SELECT hv FROM (SELECT hv FROM sa UNION SELECT hv FROM sb)
           ORDER BY hv LIMIT {_KMV_K}),
    stats AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sa) AS ka,
             (SELECT CAST(MAX(hv) AS BIGINT) FROM sa) AS ma,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM sb) AS kb,
             (SELECT CAST(MAX(hv) AS BIGINT) FROM sb) AS mb,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM su) AS ku,
             (SELECT CAST(MAX(hv) AS BIGINT) FROM su) AS mu,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM su
              WHERE hv IN (SELECT hv FROM sa)
                AND hv IN (SELECT hv FROM sb)) AS matches,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM
                (SELECT o_custkey FROM orders INTERSECT
                 SELECT c_custkey FROM customer)) AS exact_intersection
    )
    SELECT ka AS k, matches, exact_intersection,
           CAST((ka - 1) * {_KMV_SCALE} // ma AS BIGINT) AS est_a,
           CAST((kb - 1) * {_KMV_SCALE} // mb AS BIGINT) AS est_b,
           CAST((ku - 1) * {_KMV_SCALE} // mu AS BIGINT) AS est_union,
           CAST(matches * ((ku - 1) * {_KMV_SCALE} // mu) // ku AS BIGINT)
             AS est_intersection
    FROM stats
    """,
)
def agg_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A36 KMV sketch SET OPERATIONS — the property A32 exists for:
    two independently-built bottom-k sketches (ordering customers vs
    the customer dimension) answer |A|, |B|, |A UNION B| and
    |A INTERSECT B| WITHOUT rescanning either table.  Union = re-trim
    of the sketch union (exactly the shard-merge path); intersection
    via the Beyer et al. ratio estimator: the fraction of the union's
    bottom-k present in BOTH sketches estimates Jaccard, scaled by the
    union estimate.  The exact intersection rides along as the audit
    column.

    Both engines compute identical sketches (md5-derived 52-bit
    hashes), so every estimate is hash-checked exactly — including the
    deliberately-biased small-k behavior.

    Plan shape: two distinct-hash partial aggs (8-byte longs on the
    wire), two TakeOrdered bottom-k's, then pure k-row arithmetic; the
    exact-intersection audit is one more key-level join.  At 100 TB
    the sketches are the only thing that moves after the scans."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")

    def sketch(df: DataFrame, col: str) -> DataFrame:
        return (
            df.select(
                F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 13), 16, 10)
                .cast("long")
                .alias("hv")
            )
            .distinct()
            .orderBy("hv")
            .limit(_KMV_K)
        )

    sa = sketch(orders, "o_custkey").cache()
    sb = sketch(cust, "c_custkey").cache()
    su = sa.union(sb).distinct().orderBy("hv").limit(_KMV_K)
    in_both = (
        su.join(sa.withColumnRenamed("hv", "ha"), F.col("hv") == F.col("ha"), "left_semi")
        .join(sb.withColumnRenamed("hv", "hb"), F.col("hv") == F.col("hb"), "left_semi")
    )
    stats_a = sa.agg(F.count("*").cast("long").alias("ka"), F.max("hv").cast("long").alias("ma"))
    stats_b = sb.agg(F.count("*").cast("long").alias("kb"), F.max("hv").cast("long").alias("mb"))
    stats_u = su.agg(F.count("*").cast("long").alias("ku"), F.max("hv").cast("long").alias("mu"))
    matches = in_both.agg(F.count("*").cast("long").alias("matches"))
    exact = (
        orders.select(F.col("o_custkey").alias("k"))
        .intersect(cust.select(F.col("c_custkey").alias("k")))
        .agg(F.count("*").cast("long").alias("exact_intersection"))
    )
    return (
        stats_a.crossJoin(F.broadcast(stats_b))
        .crossJoin(F.broadcast(stats_u))
        .crossJoin(F.broadcast(matches))
        .crossJoin(F.broadcast(exact))
        .select(
            F.col("ka").alias("k"),
            "matches",
            "exact_intersection",
            F.expr(f"CAST((ka - 1) * {_KMV_SCALE} div ma AS LONG)").alias("est_a"),
            F.expr(f"CAST((kb - 1) * {_KMV_SCALE} div mb AS LONG)").alias("est_b"),
            F.expr(f"CAST((ku - 1) * {_KMV_SCALE} div mu AS LONG)").alias("est_union"),
            F.expr(
                f"CAST(matches * ((ku - 1) * {_KMV_SCALE} div mu) div ku AS LONG)"
            ).alias("est_intersection"),
        )
    )


# ---------------------------------------------------------------------------
# A37: Kaplan-Meier survival curve (order -> first-ship latency)
# ---------------------------------------------------------------------------

_KM_CUTOFF = "1995-07-01 00:00:00"   # administrative censoring date


@query(
    "orders_kaplan_meier",
    f"""
    WITH fs AS (
      SELECT l_orderkey, MIN(l_shipdate) AS first_ship
      FROM lineitem GROUP BY l_orderkey
    ),
    obs AS (
      SELECT CASE WHEN fs.first_ship <= TIMESTAMP '{_KM_CUTOFF}'
                  THEN date_diff('day', o.o_orderdate, fs.first_ship)
                  ELSE date_diff('day', o.o_orderdate, TIMESTAMP '{_KM_CUTOFF}')
             END AS t,
             CASE WHEN fs.first_ship <= TIMESTAMP '{_KM_CUTOFF}'
                  THEN 1 ELSE 0 END AS ev
      FROM orders o JOIN fs ON o.o_orderkey = fs.l_orderkey
      WHERE o.o_orderdate < TIMESTAMP '{_KM_CUTOFF}'
    ),
    h AS (
      SELECT t, COUNT(*) AS m, CAST(SUM(ev) AS BIGINT) AS d
      FROM obs GROUP BY t
    ),
    r AS (
      SELECT t, d,
             CAST((SELECT COUNT(*) FROM obs) AS BIGINT)
               - COALESCE(SUM(m) OVER (ORDER BY t
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS n_risk
      FROM h
    ),
    steps AS (
      SELECT t, d, n_risk,
             CAST(ROUND(LN(CAST((n_risk - d) * 1000000 // n_risk AS DOUBLE)
                           / 1000000) * 1000000) AS BIGINT) AS lnf
      FROM r WHERE d > 0
    )
    SELECT CAST(t AS BIGINT) AS t_day, CAST(n_risk AS BIGINT) AS n_risk,
           d AS n_events,
           CAST(ROUND(EXP(CAST(SUM(lnf) OVER (ORDER BY t
                                              ROWS UNBOUNDED PRECEDING)
                               AS DOUBLE) / 1000000) * 1000000) AS BIGINT)
             AS surv_ppm
    FROM steps ORDER BY t_day
    """,
)
def orders_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A37 Kaplan-Meier estimator — the survival-analysis family:
    S(t) = product over event times <= t of (1 - d_i/n_i) for the
    order -> first-ship latency, with orders still unshipped at the
    pinned cutoff RIGHT-CENSORED rather than dropped (the mistake
    naive latency histograms make: throwing away censored subjects
    biases the curve optimistic).  The same operator reads churn,
    time-to-conversion, or job-completion curves.

    Determinism: the per-step factor is first floored to integer ppm,
    its ln quantized to micro-nats, and the running PRODUCT becomes a
    running SUM in log space (order-free, exact int64) — one final
    exp per emitted row, an identical IEEE op on both engines.

    Plan shape: one orderkey agg (first ship) + one broadcast-scale
    join back to orders, a histogram agg to <= max-latency-days rows,
    then windows over that CALENDAR-BOUNDED step table.  Nothing past
    the histogram scales with order count."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cutoff = F.lit(_KM_CUTOFF).cast("timestamp")
    fs = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("first_ship"))
    obs = (
        o.where(F.col("o_orderdate") < cutoff)
        .join(fs, o["o_orderkey"] == fs["l_orderkey"])
        .select(
            F.when(
                F.col("first_ship") <= cutoff,
                F.datediff(F.col("first_ship"), F.col("o_orderdate")),
            )
            .otherwise(F.datediff(cutoff, F.col("o_orderdate")))
            .alias("t"),
            F.when(F.col("first_ship") <= cutoff, 1).otherwise(0).alias("ev"),
        )
    )
    h = obs.groupBy("t").agg(
        F.count("*").alias("m"), F.sum("ev").cast("long").alias("d")
    )
    n_total = obs.agg(F.count("*").cast("long").alias("n_total"))
    h = bounded_single_group(h)  # duration-domain-bounded table
    wprev = (
        Window.partitionBy("__opid")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = h.crossJoin(F.broadcast(n_total)).select(
        "t",
        "d",
        (
            F.col("n_total") - F.coalesce(F.sum("m").over(wprev), F.lit(0))
        ).alias("n_risk"),
    )
    steps = r.where(F.col("d") > 0).select(
        "t",
        "d",
        "n_risk",
        F.round(
            F.log(
                F.expr("CAST((n_risk - d) * 1000000 div n_risk AS DOUBLE)") / 1000000
            )
            * 1000000
        )
        .cast("long")
        .alias("lnf"),
    )
    steps = bounded_single_group(steps, col_name="__opid2")
    wcum = (
        Window.partitionBy("__opid2")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return steps.select(
        F.col("t").cast("long").alias("t_day"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").alias("n_events"),
        F.round(F.exp(F.sum("lnf").over(wcum).cast("double") / 1000000) * 1000000)
        .cast("long")
        .alias("surv_ppm"),
    ).orderBy("t_day")


# ---------------------------------------------------------------------------
# D1: date-dimension build (calendar spine generator)
# ---------------------------------------------------------------------------

_DIM_DATE_START, _DIM_DATE_END = "1992-01-01", "1998-12-31"


@query(
    "dim_date_build",
    f"""
    WITH s AS (
      SELECT unnest(generate_series(DATE '{_DIM_DATE_START}',
                                    DATE '{_DIM_DATE_END}',
                                    INTERVAL 1 DAY)) AS d
    )
    SELECT strftime(d, '%Y-%m-%d') AS d,
           CAST(YEAR(d) AS BIGINT) AS year,
           CAST(QUARTER(d) AS BIGINT) AS quarter,
           CAST(MONTH(d) AS BIGINT) AS month,
           CAST(DAY(d) AS BIGINT) AS dom,
           CAST(ISODOW(d) AS BIGINT) AS dow_iso,
           CAST(WEEK(d) AS BIGINT) AS iso_week,
           ISODOW(d) >= 6 AS is_weekend,
           d = last_day(d) AS is_month_end
    FROM s ORDER BY d
    """,
)
def dim_date_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 date-dimension generator: the calendar spine every
    warehouse joins facts against (the star-schema dimension the
    TPC-H queries fake with inline date arithmetic), covering the
    fixture date range with year/quarter/month/ISO-week/ISO-weekday,
    weekend and month-end flags — extend with fiscal calendars or
    holiday tables by joining onto this spine.

    Determinism: pure calendar arithmetic on generated dates — both
    engines implement ISO 8601 week/weekday identically; dates are
    emitted as formatted strings per the corpus contract.

    Plan shape: a generated sequence (no table scan at all), exploded
    and mapped in codegen — embarrassingly parallel at any range
    length; the W11 gap-fill row already demonstrates joining facts
    against exactly this spine shape."""
    return (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.lit(_DIM_DATE_START).cast("date"),
                    F.lit(_DIM_DATE_END).cast("date"),
                    F.expr("interval 1 day"),
                )
            ).alias("dt")
        )
        .select(
            F.date_format("dt", "yyyy-MM-dd").alias("d"),
            F.year("dt").cast("long").alias("year"),
            F.quarter("dt").cast("long").alias("quarter"),
            F.month("dt").cast("long").alias("month"),
            F.dayofmonth("dt").cast("long").alias("dom"),
            (F.weekday("dt") + 1).cast("long").alias("dow_iso"),
            F.weekofyear("dt").cast("long").alias("iso_week"),
            (F.weekday("dt") + 1 >= 6).alias("is_weekend"),
            (F.col("dt") == F.last_day("dt")).alias("is_month_end"),
        )
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# A39: Theil-Sen robust trend (median of pairwise slopes)
# ---------------------------------------------------------------------------

@query(
    "events_theil_sen",
    """
    WITH s AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) // 100 AS v
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT a.event_type,
             CAST(((b.v - a.v) * 1000000)
                  // date_diff('day', a.d, b.d) AS BIGINT) AS slope_micro,
             a.d AS da, b.d AS db
      FROM s a JOIN s b
        ON a.event_type = b.event_type AND a.d < b.d
    ),
    r AS (
      SELECT event_type, slope_micro,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY slope_micro, da, db) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n_pairs
      FROM p
    ),
    n AS (SELECT event_type, COUNT(*) AS n_days FROM s GROUP BY event_type)
    SELECT r.event_type, CAST(n.n_days AS BIGINT) AS n_days,
           CAST(r.n_pairs AS BIGINT) AS n_pairs,
           r.slope_micro AS ts_slope_micro
    FROM r JOIN n ON r.event_type = n.event_type
    WHERE r.rn = (r.n_pairs + 1) // 2
    ORDER BY r.event_type
    """,
)
def events_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A39 Theil-Sen robust trend: the median of all pairwise slopes
    of each event type's daily revenue series — the robust sibling of
    A16's least-squares fit (one corrupted day can drag an OLS slope
    arbitrarily; Theil-Sen tolerates ~29% outliers), completing the
    robust family (A14 global MAD, W12 rolling MAD) on the TREND axis.

    Determinism: each pairwise slope is the exact integer
    (dy*1e6) div dx (whole dollars over whole days); the median is the
    LOWER median selected BY RANK with (slope, day-pair) tiebreaks —
    no floats anywhere.

    Plan shape: the corpus collapses to the (type, day) table in one
    partial agg; the pair join is CALENDAR-BOUNDED (days^2 per type,
    ~2k pairs per type-month-range, never corpus rows) and keyed on
    event_type; the median is one rank window over the pair table."""
    ev = _t(spark, sf_dir, "events")
    s = ev.groupBy("event_type", F.col("ts").cast("date").alias("d")).agg(
        F.expr(
            "CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) div 100"
        ).alias("v")
    )
    a = s.select(
        F.col("event_type"), F.col("d").alias("da"), F.col("v").alias("va")
    )
    b = s.select(
        F.col("event_type").alias("et_b"), F.col("d").alias("db"), F.col("v").alias("vb")
    )
    p = a.join(
        b, (F.col("event_type") == F.col("et_b")) & (F.col("da") < F.col("db"))
    ).select(
        "event_type",
        F.expr(
            "CAST(((vb - va) * 1000000) div datediff(db, da) AS BIGINT)"
        ).alias("slope_micro"),
        "da",
        "db",
    )
    wr = Window.partitionBy("event_type").orderBy("slope_micro", "da", "db")
    wn = Window.partitionBy("event_type")
    r = p.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n_pairs", F.count("*").over(wn)
    )
    n = s.groupBy("event_type").agg(F.count("*").alias("n_days"))
    return (
        r.where(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .join(F.broadcast(n), "event_type")
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("slope_micro").alias("ts_slope_micro"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# A42: cohort LTV curve (cumulative revenue per acquisition cohort)
# ---------------------------------------------------------------------------

@query(
    "orders_cohort_ltv",
    """
    WITH fo AS (
      SELECT o_custkey,
             MIN(CAST(strftime(o_orderdate, '%Y') AS BIGINT)) AS cohort_year
      FROM orders GROUP BY o_custkey
    ),
    r AS (
      SELECT fo.cohort_year,
             CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) - fo.cohort_year AS age,
             o.o_custkey,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN fo ON o.o_custkey = fo.o_custkey
    ),
    cs AS (SELECT cohort_year, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM fo
           GROUP BY cohort_year),
    a AS (
      SELECT cohort_year, age,
             CAST(SUM(cents) AS BIGINT) AS rev_cents,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS active_customers
      FROM r GROUP BY cohort_year, age
    )
    SELECT a.cohort_year, a.age, cs.cohort_size, a.active_customers,
           a.rev_cents,
           CAST(SUM(a.rev_cents) OVER (PARTITION BY a.cohort_year ORDER BY a.age
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_rev_cents,
           CAST(SUM(a.rev_cents) OVER (PARTITION BY a.cohort_year ORDER BY a.age
                                       ROWS UNBOUNDED PRECEDING)
                * 100 // cs.cohort_size AS BIGINT) AS ltv_per_customer_centicents
    FROM a JOIN cs ON a.cohort_year = cs.cohort_year
    ORDER BY a.cohort_year, a.age
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A42 cohort lifetime-value curve: customers grouped by
    acquisition year (first order), revenue accumulated by cohort age
    — the curve that answers 'how much is a year-N customer worth by
    year N+k', the forward-looking twin of W9's cohort RETENTION
    (retention counts who comes back; LTV counts what they spend).
    ltv_per_customer divides by the FULL cohort size, not just active
    customers — the standard convention so churn shows up as curve
    flattening.

    Determinism: exact cents, integer year arithmetic, cumulative
    window partitioned by cohort over the year-bounded age axis, and
    the per-customer LTV is integer centi-cents floor division.

    Plan shape: one custkey agg (first year), a broadcast-scale join
    back, one (cohort, age) agg with a distinct-customer count, and
    windows over the years x years bounded curve table."""
    o = _t(spark, sf_dir, "orders")
    fo = o.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate").cast("long")).alias("cohort_year")
    )
    r = o.join(fo, "o_custkey").select(
        "cohort_year",
        (F.year("o_orderdate").cast("long") - F.col("cohort_year")).alias("age"),
        "o_custkey",
        cents(F.col("o_totalprice")).alias("cents"),
    )
    cs = fo.groupBy("cohort_year").agg(F.count("*").cast("long").alias("cohort_size"))
    a = r.groupBy("cohort_year", "age").agg(
        F.sum("cents").cast("long").alias("rev_cents"),
        F.countDistinct("o_custkey").cast("long").alias("active_customers"),
    )
    wc = Window.partitionBy("cohort_year").orderBy("age").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        a.join(F.broadcast(cs), "cohort_year")
        .select(
            "cohort_year",
            "age",
            "cohort_size",
            "active_customers",
            "rev_cents",
            F.sum("rev_cents").over(wc).cast("long").alias("cum_rev_cents"),
        )
        .withColumn(
            "ltv_per_customer_centicents",
            F.expr("CAST(cum_rev_cents * 100 div cohort_size AS BIGINT)"),
        )
        .orderBy("cohort_year", "age")
    )


# ---------------------------------------------------------------------------
# A44: difference-in-differences estimator
# ---------------------------------------------------------------------------

@query(
    "events_did",
    f"""
    WITH m AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN grp = 1 AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
             CAST(SUM(CASE WHEN grp = 1 AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_tq,
             CAST(SUM(CASE WHEN grp = 0 AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_cp,
             CAST(SUM(CASE WHEN grp = 0 AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_cq,
             CAST(SUM(CASE WHEN grp = 1 AND post THEN c ELSE 0 END) AS BIGINT) AS s_tp,
             CAST(SUM(CASE WHEN grp = 1 AND NOT post THEN c ELSE 0 END) AS BIGINT) AS s_tq,
             CAST(SUM(CASE WHEN grp = 0 AND post THEN c ELSE 0 END) AS BIGINT) AS s_cp,
             CAST(SUM(CASE WHEN grp = 0 AND NOT post THEN c ELSE 0 END) AS BIGINT) AS s_cq,
             CAST(SUM(CASE WHEN grp = 1 AND post THEN c * c ELSE 0 END) AS BIGINT) AS q_tp,
             CAST(SUM(CASE WHEN grp = 1 AND NOT post THEN c * c ELSE 0 END) AS BIGINT) AS q_tq,
             CAST(SUM(CASE WHEN grp = 0 AND post THEN c * c ELSE 0 END) AS BIGINT) AS q_cp,
             CAST(SUM(CASE WHEN grp = 0 AND NOT post THEN c * c ELSE 0 END) AS BIGINT) AS q_cq
      FROM (
        SELECT event_type,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 AS grp,
               ts >= TIMESTAMP '{{split}}' AS post,
               CAST(ROUND(value * 100) AS BIGINT) AS c
        FROM events
      ) GROUP BY event_type
    )
    SELECT event_type, n_tp AS n_treat_post, n_tq AS n_treat_pre,
           n_cp AS n_ctrl_post, n_cq AS n_ctrl_pre,
           CAST(ROUND(((CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE)
                        - CAST(s_tq AS DOUBLE) / CAST(n_tq AS DOUBLE))
                       - (CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE)
                          - CAST(s_cq AS DOUBLE) / CAST(n_cq AS DOUBLE))) * 1000)
                AS BIGINT) AS did_millicents,
           CAST(ROUND(SQRT(
               ((CAST(n_tp AS DOUBLE) * CAST(q_tp AS DOUBLE) - CAST(s_tp AS DOUBLE) * CAST(s_tp AS DOUBLE))
                / (CAST(n_tp AS DOUBLE) * (CAST(n_tp AS DOUBLE) - 1.0))) / CAST(n_tp AS DOUBLE)
             + ((CAST(n_tq AS DOUBLE) * CAST(q_tq AS DOUBLE) - CAST(s_tq AS DOUBLE) * CAST(s_tq AS DOUBLE))
                / (CAST(n_tq AS DOUBLE) * (CAST(n_tq AS DOUBLE) - 1.0))) / CAST(n_tq AS DOUBLE)
             + ((CAST(n_cp AS DOUBLE) * CAST(q_cp AS DOUBLE) - CAST(s_cp AS DOUBLE) * CAST(s_cp AS DOUBLE))
                / (CAST(n_cp AS DOUBLE) * (CAST(n_cp AS DOUBLE) - 1.0))) / CAST(n_cp AS DOUBLE)
             + ((CAST(n_cq AS DOUBLE) * CAST(q_cq AS DOUBLE) - CAST(s_cq AS DOUBLE) * CAST(s_cq AS DOUBLE))
                / (CAST(n_cq AS DOUBLE) * (CAST(n_cq AS DOUBLE) - 1.0))) / CAST(n_cq AS DOUBLE)
           ) * 1000) AS BIGINT) AS se_millicents
    FROM m ORDER BY event_type
    """.replace("{split}", _CUPED_SPLIT),
)
def events_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A44 difference-in-differences: the quasi-experimental estimator
    for when randomization is impossible — compare the treated arm's
    pre-to-post change against the control arm's, so any shared time
    trend (seasonality, platform drift) cancels and what remains is
    the treatment effect under the parallel-trends assumption.
    Completes the causal toolkit: A18 Welch reads a randomized test,
    A30 CUPED shrinks its variance, A38 SPRT sequences it, A43 sizes
    it — this row covers the launch that SHIPPED to everyone at a
    known date (the A30 split reused as the event date, its hash
    assignment reused as the cohort).

    Determinism: the 2x2 cell moments (n, sum-cents, sum-cents^2) are
    exact int64 conditional aggregates in ONE pass; the DiD estimate
    and its standard error (per-cell Bessel variance over n, summed,
    rooted) are a FIXED IEEE-double tree over those integers,
    milli-cent quantized.  Sum-of-squares stays inside int64 to
    ~1e15 cent-events (documented bound, the Gram-matrix policy).

    Plan shape: one map-side-combined hash aggregate on event_type
    (grp/post/cents are scan-time expressions — no join, no window);
    the double tree runs on K rows.  At 100 TB: one partial-agg
    shuffle of K x 12 longs, full stop."""
    ev = _t(spark, sf_dir, "events")
    split_ts = F.lit(_CUPED_SPLIT).cast("timestamp")
    base = ev.select(
        "event_type",
        (_h60_local(F.col("user_id").cast("string")) % 2).alias("grp"),
        (F.col("ts") >= split_ts).alias("post"),
        cents(F.col("value")).alias("c"),
    )

    def _cell(g: int, p: bool, col, zero=0):
        cond = (F.col("grp") == g) & (F.col("post") if p else ~F.col("post"))
        return F.sum(F.when(cond, col).otherwise(F.lit(zero))).cast("long")

    cc = F.col("c")
    m = base.groupBy("event_type").agg(
        _cell(1, True, F.lit(1)).alias("n_tp"),
        _cell(1, False, F.lit(1)).alias("n_tq"),
        _cell(0, True, F.lit(1)).alias("n_cp"),
        _cell(0, False, F.lit(1)).alias("n_cq"),
        _cell(1, True, cc).alias("s_tp"),
        _cell(1, False, cc).alias("s_tq"),
        _cell(0, True, cc).alias("s_cp"),
        _cell(0, False, cc).alias("s_cq"),
        _cell(1, True, cc * cc).alias("q_tp"),
        _cell(1, False, cc * cc).alias("q_tq"),
        _cell(0, True, cc * cc).alias("q_cp"),
        _cell(0, False, cc * cc).alias("q_cq"),
    )

    def _d(name: str):
        return F.col(name).cast("double")

    def _mean(s: str, n: str):
        return _d(s) / _d(n)

    def _vn(n: str, s: str, q: str):
        # Bessel cell variance over its n: ((n*q - s*s) / (n*(n-1))) / n
        return ((_d(n) * _d(q) - _d(s) * _d(s)) / (_d(n) * (_d(n) - 1.0))) / _d(n)

    did = (_mean("s_tp", "n_tp") - _mean("s_tq", "n_tq")) - (
        _mean("s_cp", "n_cp") - _mean("s_cq", "n_cq")
    )
    se = F.sqrt(
        _vn("n_tp", "s_tp", "q_tp")
        + _vn("n_tq", "s_tq", "q_tq")
        + _vn("n_cp", "s_cp", "q_cp")
        + _vn("n_cq", "s_cq", "q_cq")
    )
    return m.select(
        "event_type",
        F.col("n_tp").alias("n_treat_post"),
        F.col("n_tq").alias("n_treat_pre"),
        F.col("n_cp").alias("n_ctrl_post"),
        F.col("n_cq").alias("n_ctrl_pre"),
        F.round(did * 1000).cast("long").alias("did_millicents"),
        F.round(se * 1000).cast("long").alias("se_millicents"),
    ).orderBy("event_type")

# ---------------------------------------------------------------------------
# GR6: Adamic-Adar link prediction on the supplier co-occurrence graph
# ---------------------------------------------------------------------------

_AA_TOPK = 20


@query(
    "graph_adamic_adar",
    f"""
    WITH os AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
    pairs AS (
      SELECT a.s AS a, b.s AS b
      FROM os a JOIN os b ON a.o = b.o AND a.s < b.s
    ),
    pw AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS w
      FROM pairs GROUP BY a, b HAVING COUNT(*) >= 2
    ),
    hist AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM pw GROUP BY w),
    cum AS (
      SELECT w,
             SUM(c) OVER (ORDER BY w DESC) AS n_ge,
             SUM(c) OVER () AS n
      FROM hist
    ),
    thr AS (
      SELECT COALESCE(MIN(CASE WHEN n_ge <= GREATEST(n // 10, 1)
                                THEN w END),
                      MAX(w)) AS t
      FROM cum
    ),
    e AS (SELECT a, b FROM pw CROSS JOIN thr WHERE pw.w >= thr.t),
    n AS (SELECT a AS z, b AS v FROM e UNION ALL SELECT b AS z, a AS v FROM e),
    degw AS (
      SELECT z, CAST(ROUND(1000000.0 / LN(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)
               AS w_micro
      FROM n GROUP BY z HAVING COUNT(*) >= 2
    ),
    wedge AS (
      SELECT n1.v AS a, n2.v AS b, MAX(degw.w_micro) AS w_micro, n1.z AS z
      FROM n n1
      JOIN n n2 ON n1.z = n2.z AND n1.v < n2.v
      JOIN degw ON degw.z = n1.z
      GROUP BY n1.v, n2.v, n1.z
    ),
    aa AS (
      SELECT w.a, w.b,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(w.w_micro) AS BIGINT) AS aa_micro
      FROM wedge w
      LEFT JOIN e ON e.a = w.a AND e.b = w.b
      WHERE e.a IS NULL
      GROUP BY w.a, w.b
    )
    SELECT a AS supp_a, b AS supp_b, n_common, aa_micro
    FROM aa ORDER BY aa_micro DESC, a, b LIMIT {_AA_TOPK}
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GR6 Adamic-Adar link prediction: score every NON-adjacent
    supplier pair by sum over common neighbours z of 1/ln(deg(z)) —
    a shared rare partner is strong evidence the pair belongs
    together, a shared hub is weak (Adamic & Adar 2003) — and return
    the top-{topk} predicted edges of the supplier co-occurrence
    graph.  The candidate-generation primitive behind "suppliers you
    should also source from" and blocking for entity linkage.

    Edge support is SCALE-ADAPTIVE: an edge is a top-decile
    co-occurrence pair — the threshold is read off an integer weight
    histogram (distinct co-order counts, a few dozen rows at any
    scale), picking the smallest weight whose >=-weight pair count
    fits in N//10 (falls back to the max weight when the top class
    alone exceeds a decile).  A fixed absolute support either empties
    the graph when volume grows 10x or goes complete when it shrinks
    10x; a decile rule survives both.

    Determinism: the threshold is exact integer logic over exact
    counts; each neighbour's contribution 1/ln(deg) is micro-quantized
    to int64 BEFORE any reduction (deg is an exact integer, so the
    per-node double tree is fixed); the pair score is an exact integer
    SUM; ties break on (a, b).

    Plan shape: singleton pairs drop BEFORE the histogram (the GR3
    prune-before-join discipline); the decile threshold costs one
    aggregate over the pair table plus a window over the ~40-row
    histogram (the single-partition window is histogram-sized, never
    data-sized); wedges are one self-equi-join of the neighbour table
    on the centre node — fan-out bounded by the pruned degree, never a
    cross join (at scale, orient by degree to cap hub fan-out, the
    GR3 note); existing edges drop via one anti join; the final agg
    keys on the candidate pair; TakeOrdered keeps the top-k without a
    total sort."""
    from bytesprocessor_spark.operators.graph import supplier_pair_weights

    # r11: the pair-weight build is the session-memoized at-rest table
    # shared with GR3/GR7/GR8 and kin (guide §2.4 — one corpus pass)
    pw = supplier_pair_weights(spark, sf_dir).where(F.col("w") >= 2)
    hist = bounded_single_group(
        pw.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    )  # weight-domain-bounded histogram
    w_desc = (
        Window.partitionBy("__opid")
        .orderBy(F.desc("w"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "w",
        F.sum("c").over(w_desc).alias("n_ge"),
        F.sum("c").over(Window.partitionBy("__opid")).alias("n"),
    )
    thr = cum.agg(
        F.coalesce(
            F.min(
                F.when(
                    F.col("n_ge") <= F.greatest(F.expr("n div 10"), F.lit(1)),
                    F.col("w"),
                )
            ),
            F.max("w"),
        ).alias("t")
    )
    e = pw.crossJoin(F.broadcast(thr)).where(F.col("w") >= F.col("t")).select(
        "a", "b"
    )
    n = e.select(F.col("a").alias("z"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("z"), F.col("a").alias("v"))
    )
    degw = (
        n.groupBy("z")
        .agg(F.count(F.lit(1)).alias("d"))
        .where(F.col("d") >= 2)
        .select(
            "z",
            F.round(1000000.0 / F.log(F.col("d").cast("double")))
            .cast("long")
            .alias("w_micro"),
        )
    )
    n1 = n.select(F.col("z").alias("zc"), F.col("v").alias("va"))
    n2 = n.select(F.col("z").alias("z2"), F.col("v").alias("vb"))
    wedge = (
        n1.join(n2, (F.col("zc") == F.col("z2")) & (F.col("va") < F.col("vb")))
        .join(degw, F.col("zc") == degw["z"])
        .groupBy(F.col("va").alias("a"), F.col("vb").alias("b"), F.col("zc"))
        .agg(F.max("w_micro").alias("w_micro"))
    )
    aa = (
        wedge.join(e, ["a", "b"], "left_anti")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum("w_micro").cast("long").alias("aa_micro"),
        )
    )
    return (
        aa.select(
            F.col("a").alias("supp_a"),
            F.col("b").alias("supp_b"),
            "n_common",
            "aa_micro",
        )
        .orderBy(F.desc("aa_micro"), "supp_a", "supp_b")
        .limit(_AA_TOPK)
    )


# ---------------------------------------------------------------------------
# A45: forecast baseline backtest (naive / seasonal-naive)
# ---------------------------------------------------------------------------

@query(
    "events_forecast_baselines",
    """
    WITH d AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS yc
      FROM events GROUP BY 1, 2
    ),
    o AS (
      SELECT event_type, yc,
             LAG(yc, 1) OVER (PARTITION BY event_type ORDER BY day) AS f1,
             LAG(yc, 7) OVER (PARTITION BY event_type ORDER BY day) AS f7
      FROM d
    ),
    u AS (
      SELECT event_type, 'naive' AS model, yc, f1 AS f FROM o WHERE f1 IS NOT NULL
      UNION ALL
      SELECT event_type, 'snaive' AS model, yc, f7 AS f FROM o WHERE f7 IS NOT NULL
    )
    SELECT event_type, model,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(ABS(yc - f)) // COUNT(*) AS BIGINT) AS mae_cents,
           CAST(SUM(2000000 * ABS(yc - f) // GREATEST(ABS(yc) + ABS(f), 1))
                // COUNT(*) AS BIGINT) AS smape_ppm
    FROM u GROUP BY 1, 2 ORDER BY event_type, model
    """,
)
def events_forecast_baselines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A45 forecast baseline backtest: the two baselines every
    forecasting system must beat before it ships — naive (tomorrow =
    today) and seasonal naive (tomorrow = same weekday last week) —
    scored in-sample per event type as MAE and sMAPE over the daily
    revenue series.  A31's Holt forecast gives a number; this row
    gives the yardstick that says whether the number is worth
    anything (a model whose sMAPE beats snaive is learning signal,
    one that doesn't is fitting noise).  Assumes the daily series is
    dense (fixture series are; gap-fill first with W11 when not).

    Determinism: daily totals are exact cents; per-day absolute
    errors are exact integers; sMAPE quantizes each day's
    2|f-y|/(|f|+|y|) ratio to ppm by integer floor division BEFORE
    the mean (GREATEST guards the zero-denominator day), so both
    metrics are exact integer arithmetic end-to-end.

    Plan shape: one (type, day) partial agg absorbs the scan; the
    lags run type-partitioned over each type's day rows (two offsets
    in ONE window pass); the model union doubles a day-count-sized
    table, final agg is 2K rows."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(cents(F.col("value"))).cast("long").alias("yc"))
    wd = Window.partitionBy("event_type").orderBy("day")
    o = d.select(
        "event_type",
        "yc",
        F.lag("yc", 1).over(wd).alias("f1"),
        F.lag("yc", 7).over(wd).alias("f7"),
    )
    u = (
        o.where(F.col("f1").isNotNull())
        .select("event_type", F.lit("naive").alias("model"), "yc", F.col("f1").alias("f"))
        .unionAll(
            o.where(F.col("f7").isNotNull()).select(
                "event_type", F.lit("snaive").alias("model"), "yc", F.col("f7").alias("f")
            )
        )
    )
    return (
        u.groupBy("event_type", "model")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.expr("CAST(SUM(ABS(yc - f)) div COUNT(*) AS BIGINT)").alias(
                "mae_cents"
            ),
            F.expr(
                "CAST(SUM(2000000 * ABS(yc - f) div GREATEST(ABS(yc) + ABS(f), 1))"
                " div COUNT(*) AS BIGINT)"
            ).alias("smape_ppm"),
        )
        .orderBy("event_type", "model")
    )


# ---------------------------------------------------------------------------
# O8: skyline (Pareto-optimal preference query)
# ---------------------------------------------------------------------------

@query(
    "part_skyline",
    """
    WITH p AS (
      SELECT CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_c,
             CAST(p_size AS BIGINT) AS size,
             CAST(COUNT(*) AS BIGINT) AS n_parts,
             CAST(MIN(p_partkey) AS BIGINT) AS min_partkey
      FROM part GROUP BY 1, 2
    ),
    best AS (
      SELECT price_c, size, n_parts, min_partkey,
             MAX(size) OVER (PARTITION BY price_c) AS max_at_price
      FROM p
    ),
    kept AS (
      SELECT price_c, size, n_parts, min_partkey,
             MAX(size) OVER (ORDER BY price_c
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS staircase
      FROM best WHERE size = max_at_price
    )
    SELECT price_c, size, n_parts, min_partkey
    FROM kept
    WHERE staircase IS NULL OR size > staircase
    ORDER BY price_c
    """,
)
def part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8 skyline / Pareto-optimal preference query (Borzsony et al.
    ICDE'01): the parts no other part dominates on (price down, size
    up) — a part is OFF the skyline iff some part is at most as
    expensive AND at least as large with one strict.  The
    multi-objective shortlist primitive ("cheapest for its size
    class") that top-k by a single weighted score cannot express.

    Algorithm: collapse to distinct (price, size) cells with counts
    (exact duplicates are co-skyline by definition); per price keep
    only the max size (cheaper-or-equal larger-size kills the rest);
    then one staircase sweep in price order — a point survives iff
    its size strictly exceeds every strictly-cheaper point's
    (ROWS ... 1 PRECEDING excludes the current price's own row
    because the per-price max already ran).  Pure exact integers.

    Plan shape: one (price, size) hash agg absorbs the part scan; the
    per-price window shuffles price-keyed cells; the ordered staircase
    window runs over ONE row per distinct price — bounded by the
    PRICE DOMAIN (cents), not the row count, which is what makes the
    single-partition sweep safe at 100 TB (same argument as GR6's
    weight histogram).  Verified against a quadratic NOT-EXISTS
    dominance recompute in pytest."""
    part = _t(spark, sf_dir, "part")
    p = part.groupBy(
        F.expr("CAST(ROUND(p_retailprice * 100) AS BIGINT)").alias("price_c"),
        F.col("p_size").cast("long").alias("size"),
    ).agg(
        F.count("*").cast("long").alias("n_parts"),
        F.min("p_partkey").cast("long").alias("min_partkey"),
    )
    best = bounded_single_group(  # one row per distinct price (domain-bounded)
        p.withColumn(
            "max_at_price", F.max("size").over(Window.partitionBy("price_c"))
        ).where(F.col("size") == F.col("max_at_price"))
    )
    stair = (
        Window.partitionBy("__opid")
        .orderBy("price_c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    kept = best.withColumn("staircase", F.max("size").over(stair))
    return (
        kept.where(F.col("staircase").isNull() | (F.col("size") > F.col("staircase")))
        .select("price_c", "size", "n_parts", "min_partkey")
        .orderBy("price_c")
    )
