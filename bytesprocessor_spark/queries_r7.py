"""Round-7 analytics batch: feature-engineering, lakehouse-evolution,
and rank/dispersion statistics rows extending SURVEY §2.

- FE2 orders_target_encoding: leave-one-out target encoding — THE
  standard categorical encoder for gradient-boosted models.  The
  100 TB shape matters: the naive window-over-category plan shuffles
  every row by a 5-value key (maximum skew); the right plan is a
  5-row aggregate BROADCAST back onto the scan, so the fact table
  never shuffles.
- S16 schema_evolution_read: two parquet batches with different
  schemas under one table root, read through mergeSchema — the
  lakehouse column-add contract (old files yield NULLs, new files
  carry the column; no rewrite).
- A73 part_kendall_tau: Kendall tau-a rank concordance per bounded
  group via an equi-join pair enumeration (<= C(50,2) pairs per
  brand), the ordinal complement of A66's Spearman.
- A79 events_overdispersion: variance-to-mean ratio (index of
  dispersion) of daily counts per event type — the Poisson-ness
  screen run before choosing a count model; exact-integer VMR via
  the n*Σx²-(Σx)² identity.
- J14 orders_interval_overlap: interval x interval OVERLAP join via
  month-bin blocking (explode each interval to the calendar bins it
  touches, equi-join on bin, dedup, verify exactly) — the scale form
  of a predicate no sort-merge join can run; J6's range join covers
  point-in-interval, this covers interval-vs-interval.

Reference scope note: the reference engine ends at the labeled packet
table (BytesProcessor.py:121-187); these are EXT rows of the analytics
surface SURVEY §2 declares on top of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bytesprocessor_spark.queries import _t, cents, query


# ---------------------------------------------------------------------------
# FE2: leave-one-out target encoding
# ---------------------------------------------------------------------------

@query(
    "orders_target_encoding",
    """
    WITH y AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y_c
      FROM orders
    ),
    cat AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_cat,
             CAST(SUM(y_c) AS BIGINT) AS sum_c
      FROM y GROUP BY o_orderpriority
    ),
    enc AS (
      SELECT y.o_orderkey, y.o_orderpriority,
             (cat.sum_c - y.y_c) * 100 // (cat.n_cat - 1) AS enc_cc
      FROM y JOIN cat USING (o_orderpriority)
      WHERE cat.n_cat > 1
    )
    SELECT o_orderpriority,
           CAST(o_orderkey % 8 AS BIGINT) AS key_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(enc_cc) AS BIGINT) AS min_enc_cc,
           CAST(MAX(enc_cc) AS BIGINT) AS max_enc_cc,
           CAST(SUM(enc_cc) AS BIGINT) AS sum_enc_cc
    FROM enc GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def orders_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FE2 leave-one-out target encoding: each row's category encode is
    the mean target of every OTHER row in its category,
    (sum_cat - y_i) / (n_cat - 1) — the leakage-safe form (plain mean
    encoding leaks the row's own label into its feature).

    Exact arithmetic: targets in cents, encode in centi-cents via
    truncating integer division (both engines truncate toward zero).

    Scale shape: the category table is a 5-row aggregate BROADCAST
    onto the fact scan — the fact table never shuffles (the window
    formulation would hash-partition 100 TB by a 5-value key, the
    worst skew possible).  Readout is a bounded
    (category x key-bucket) rollup."""
    y = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        cents(F.col("o_totalprice")).alias("y_c"),
    )
    cat = y.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_cat"),
        F.sum("y_c").cast("long").alias("sum_c"),
    )
    enc = (
        y.join(F.broadcast(cat), "o_orderpriority")
        .where(F.col("n_cat") > 1)
        .select(
            "o_orderpriority",
            (F.col("o_orderkey") % 8).cast("long").alias("key_bucket"),
            F.expr("(sum_c - y_c) * 100 div (n_cat - 1)").alias("enc_cc"),
        )
    )
    return (
        enc.groupBy("o_orderpriority", "key_bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("enc_cc").cast("long").alias("min_enc_cc"),
            F.max("enc_cc").cast("long").alias("max_enc_cc"),
            F.sum("enc_cc").cast("long").alias("sum_enc_cc"),
        )
        .orderBy("o_orderpriority", "key_bucket")
    )


# ---------------------------------------------------------------------------
# S16: schema-evolution read (mergeSchema column add)
# ---------------------------------------------------------------------------

@query(
    "schema_evolution_read",
    """
    WITH e AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 2 = 1
                  THEN CAST(ROUND(value * 100) AS BIGINT) END AS value_c
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN value_c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pre_evolution,
           CAST(COALESCE(SUM(value_c), 0) AS BIGINT) AS sum_value_c,
           CAST(MIN(event_id) AS BIGINT) AS min_event_id
    FROM e GROUP BY event_type ORDER BY event_type
    """,
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16 schema evolution: a table root holding files written BEFORE
    and AFTER a column add, read as one relation.  Batch 1 (even
    event_ids) lands without ``value_c``; batch 2 (odd) lands with it;
    ``mergeSchema`` unions the file schemas so batch-1 rows surface
    NULL — the lakehouse additive-evolution contract (no rewrite of
    old files, exactly how Delta/Iceberg add columns).

    The oracle recomputes the union semantics from the events
    arithmetic: equality proves old-file rows survive with NULLs (not
    dropped, not defaulted) and new-file values round-trip.

    EAGER_QUERIES member: writes the two-schema fixture at
    construction.  Scale shape: mergeSchema costs one footer read per
    FILE (not per row) at planning time; the scan itself is ordinary
    columnar pruning — missing columns materialize as null vectors,
    no data movement."""
    import os
    import shutil
    import tempfile

    ev = _t(spark, sf_dir, "events")
    land = tempfile.mkdtemp(prefix="bp_schevo_")
    try:
        root = os.path.join(land, "tbl")
        ev.where(F.col("event_id") % 2 == 0).select(
            "event_id", "event_type"
        ).write.parquet(root)
        ev.where(F.col("event_id") % 2 == 1).select(
            "event_id",
            "event_type",
            cents(F.col("value")).alias("value_c"),
        ).write.mode("append").parquet(root)

        merged = spark.read.option("mergeSchema", "true").parquet(root)
        out = (
            merged.groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum(F.when(F.col("value_c").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_pre_evolution"),
                F.coalesce(F.sum("value_c"), F.lit(0))
                .cast("long")
                .alias("sum_value_c"),
                F.min("event_id").cast("long").alias("min_event_id"),
            )
            .orderBy("event_type")
        )
        # bounded localize (one row per event type) so the fixture drops
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(land, ignore_errors=True)


# ---------------------------------------------------------------------------
# A73: Kendall tau-a rank concordance per bounded group
# ---------------------------------------------------------------------------

@query(
    "part_kendall_tau",
    """
    WITH m AS (
      SELECT p_brand, p_size,
             CAST(SUM(CAST(ROUND(p_retailprice * 100) AS BIGINT)) AS BIGINT)
               AS metric_c
      FROM part GROUP BY p_brand, p_size
    ),
    pairs AS (
      SELECT a.p_brand,
             CASE WHEN (b.metric_c - a.metric_c) > 0 THEN 1 ELSE 0 END AS conc,
             CASE WHEN (b.metric_c - a.metric_c) < 0 THEN 1 ELSE 0 END AS disc
      FROM m a JOIN m b
        ON a.p_brand = b.p_brand AND a.p_size < b.p_size
    )
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(conc) AS BIGINT) AS n_conc,
           CAST(SUM(disc) AS BIGINT) AS n_disc,
           CAST((SUM(conc) - SUM(disc)) * 1000000 // COUNT(*) AS BIGINT)
             AS tau_ppm
    FROM pairs GROUP BY p_brand ORDER BY p_brand
    """,
)
def part_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A73 Kendall tau-a: per brand, rank concordance between part size
    and total retail value — does bigger consistently mean pricier?
    Pairs ordered by size (a.size < b.size) are concordant when the
    metric also rises, discordant when it falls; tau-a = (C - D) /
    n_pairs (ties count neither).  The ordinal complement of A66's
    Spearman (which correlates rank VALUES; tau counts pair
    inversions and is the statistic behind tau distance / sort
    quality measures).

    Exact arithmetic: integer cents metric, ppm tau via truncating
    division (matches DuckDB // on negative numerators).

    Scale shape: pair enumeration is an EQUI-join on brand over the
    (brand, size) AGGREGATE (<= 50 rows per brand -> <= C(50,2) pairs
    per group, millions of raw parts never pair) — per-group-bounded
    quadratic work after a linear aggregate, the same contract as the
    SemDeDup cell bound."""
    m = (
        _t(spark, sf_dir, "part")
        .groupBy("p_brand", "p_size")
        .agg(F.sum(cents(F.col("p_retailprice"))).cast("long").alias("metric_c"))
    )
    a, b = m.alias("a"), m.alias("b")
    pairs = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_size") < F.col("b.p_size")),
    ).select(
        F.col("a.p_brand").alias("p_brand"),
        (F.col("b.metric_c") > F.col("a.metric_c")).cast("int").alias("conc"),
        (F.col("b.metric_c") < F.col("a.metric_c")).cast("int").alias("disc"),
    )
    return (
        pairs.groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("conc").cast("long").alias("n_conc"),
            F.sum("disc").cast("long").alias("n_disc"),
        )
        .select(
            "p_brand",
            "n_pairs",
            "n_conc",
            "n_disc",
            F.expr("(n_conc - n_disc) * 1000000 div n_pairs").alias("tau_ppm"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# A79: overdispersion screen (variance-to-mean ratio of daily counts)
# ---------------------------------------------------------------------------

@query(
    "events_overdispersion",
    """
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(x) AS BIGINT) AS sum_x,
             CAST(SUM(x * x) AS BIGINT) AS sum_x2
      FROM d GROUP BY event_type
    )
    SELECT event_type, n_days, sum_x, sum_x2,
           CAST((n_days * sum_x2 - sum_x * sum_x) * 1000000
                // ((n_days - 1) * sum_x) AS BIGINT) AS vmr_ppm,
           (n_days * sum_x2 - sum_x * sum_x) * 1000000
             // ((n_days - 1) * sum_x) > 1500000 AS overdispersed
    FROM s WHERE n_days > 1 AND sum_x > 0
    ORDER BY event_type
    """,
)
def events_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A79 index of dispersion: per event type, the variance-to-mean
    ratio of DAILY event counts.  Poisson arrivals give VMR = 1;
    VMR >> 1 (bursty users, campaigns, incidents) means a Poisson
    count model will wildly understate tail probabilities — the screen
    run before choosing negative-binomial over Poisson, and a cheap
    burstiness monitor for ingest volumes.

    Exact arithmetic: VMR = sample_var / mean simplifies to
    (n·Σx² − (Σx)²) / ((n−1)·Σx) — all-integer, one truncating
    division at ppm scale; flag threshold 1.5 chosen so both verdicts
    occur on the fixture.

    Scale shape: two cascaded hash aggregates (events → day cells →
    per-type moment sums); the day-cell table is calendar-bounded, the
    moment identity needs no second pass and no centered data."""
    d = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(F.count("*").cast("long").alias("x"))
    )
    s = d.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_x2"),
    )
    return (
        s.where((F.col("n_days") > 1) & (F.col("sum_x") > 0))
        .select(
            "event_type",
            "n_days",
            "sum_x",
            "sum_x2",
            F.expr(
                "(n_days * sum_x2 - sum_x * sum_x) * 1000000"
                " div ((n_days - 1) * sum_x)"
            ).alias("vmr_ppm"),
        )
        .withColumn("overdispersed", F.col("vmr_ppm") > 1500000)
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# J14: interval x interval overlap join via calendar-bin blocking
# ---------------------------------------------------------------------------

@query(
    "orders_interval_overlap",
    """
    WITH iv AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE)
               + CAST(1 + o_orderkey % 21 AS INTEGER) AS e
      FROM orders WHERE o_custkey % 50 = 7
    ),
    l AS (SELECT * FROM iv WHERE o_orderstatus = 'O'),
    r AS (SELECT * FROM iv WHERE o_orderstatus = 'F'),
    p AS (
      SELECT l.o_orderkey AS l_key, r.o_orderkey AS r_key,
             GREATEST(l.s, r.s) AS os, LEAST(l.e, r.e) AS oe
      FROM l JOIN r
        ON l.o_custkey % 10 = r.o_custkey % 10
       AND l.s <= r.e AND r.s <= l.e
    )
    SELECT CAST(YEAR(os) * 12 + MONTH(os) - 1 AS BIGINT) AS month_idx,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(oe - os + 1) AS BIGINT) AS sum_overlap_days,
           CAST(MIN(l_key) AS BIGINT) AS min_l_key,
           CAST(MAX(r_key) AS BIGINT) AS max_r_key
    FROM p GROUP BY 1 ORDER BY 1
    """,
)
def orders_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J14 interval x interval overlap join: every (open-order,
    finished-order) pair of the same customer block whose validity
    windows intersect — the predicate behind double-booking detection,
    concurrent-session attribution, and temporal FK checks.  J6's
    range join places a POINT in an interval; overlap is
    interval-vs-interval, where the naive theta join is quadratic.

    Scale pattern (the bucketed-range-join idea applied twice): each
    interval EXPLODES to the calendar months it touches (<= 2 bins for
    these <= 22-day windows), the join runs as an EQUI-join on
    (customer block, month bin) — overlapping intervals share a
    calendar day, hence a month, so blocking loses nothing — and
    pairs straddling a month boundary are deduplicated by keeping the
    bin of the overlap start.  The exact predicate then verifies each
    bounded candidate list.  No CartesianProduct, no
    BroadcastNestedLoopJoin anywhere in the plan.

    Determinism: pure integer date arithmetic (day-granularity
    intervals, inclusive ends)."""
    iv = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_custkey") % 50 == 7)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.col("o_orderdate").cast("date").alias("s"),
            F.expr(
                "date_add(CAST(o_orderdate AS DATE),"
                " CAST(1 + o_orderkey % 21 AS INT))"
            ).alias("e"),
        )
    )
    mi = lambda c: F.year(c) * 12 + F.month(c) - 1  # noqa: E731
    binned = iv.withColumn(
        "bin", F.explode(F.sequence(mi(F.col("s")), mi(F.col("e"))))
    ).withColumn("blk", F.col("o_custkey") % 10)
    l = binned.where(F.col("o_orderstatus") == "O").select(
        F.col("o_orderkey").alias("l_key"),
        F.col("s").alias("l_s"),
        F.col("e").alias("l_e"),
        "blk",
        "bin",
    )
    r = binned.where(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("r_key"),
        F.col("s").alias("r_s"),
        F.col("e").alias("r_e"),
        "blk",
        "bin",
    )
    pairs = (
        l.join(r, ["blk", "bin"])
        .where((F.col("l_s") <= F.col("r_e")) & (F.col("r_s") <= F.col("l_e")))
        .withColumn("os", F.greatest("l_s", "r_s"))
        .withColumn("oe", F.least("l_e", "r_e"))
        # a pair straddling a month boundary appears once per shared
        # bin: keep only the overlap-start bin (no distinct needed)
        .where(F.col("bin") == mi(F.col("os")))
    )
    return (
        pairs.groupBy(mi(F.col("os")).cast("long").alias("month_idx"))
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(F.datediff("oe", "os") + 1).cast("long").alias(
                "sum_overlap_days"
            ),
            F.min("l_key").cast("long").alias("min_l_key"),
            F.max("r_key").cast("long").alias("max_r_key"),
        )
        .orderBy("month_idx")
    )


# ---------------------------------------------------------------------------
# GR9: label-propagation community detection (synchronous LPA)
# ---------------------------------------------------------------------------

_LPA_ITERS = 3


def lpa_edges_cte() -> str:
    """The WITH head that builds GR9's nation-blocked co-supplier
    edge set (``os`` + ``e0``) — the shared graph substrate for GR9's
    LPA, GR13's modularity and GR14's Katz centrality oracles."""
    return """
    WITH os AS MATERIALIZED (
      SELECT DISTINCT l.l_orderkey AS o, l.l_suppkey AS s, su.s_nationkey AS nk
      FROM lineitem l JOIN supplier su ON l.l_suppkey = su.s_suppkey
    ),
    e0 AS MATERIALIZED (
      SELECT a.s AS a, b.s AS b
      FROM os a JOIN os b ON a.o = b.o AND a.nk = b.nk AND a.s < b.s
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )"""


def lpa_cte_chain() -> str:
    """The WITH chain that replays GR9's deterministic 3-round LPA in
    SQL — reusable prefix: callers append their own readout CTEs
    (starting with a comma) against ``e0`` (edges) and
    ``l{_LPA_ITERS}`` (final node→label).  Factored out so GR13's
    modularity oracle replays the exact trajectory the GR9 oracle
    pins."""
    parts = [
        lpa_edges_cte()
        + """,
    l0 AS MATERIALIZED (
      SELECT z, z AS lbl
      FROM (SELECT a AS z FROM e0 UNION SELECT b AS z FROM e0)
    )"""
    ]
    for i in range(1, _LPA_ITERS + 1):
        p = i - 1
        parts.append(f"""
    c{i} AS MATERIALIZED (
      SELECT z, lbl, COUNT(*) AS cnt FROM (
        SELECT e.a AS z, l.lbl FROM e0 e JOIN l{p} l ON e.b = l.z
        UNION ALL
        SELECT e.b AS z, l.lbl FROM e0 e JOIN l{p} l ON e.a = l.z
      ) GROUP BY z, lbl),
    l{i} AS MATERIALIZED (
      SELECT z, lbl FROM (
        SELECT z, lbl,
               ROW_NUMBER() OVER (PARTITION BY z
                                  ORDER BY cnt DESC, lbl) AS rn
        FROM c{i}
      ) WHERE rn = 1)""")
    return ",".join(parts)


def _lpa_oracle_sql() -> str:
    return lpa_cte_chain() + f""",
    comm AS (
      SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM l{_LPA_ITERS} GROUP BY lbl
    )
    SELECT n_members AS community_size,
           CAST(COUNT(*) AS BIGINT) AS n_communities,
           CAST(SUM(n_members) AS BIGINT) AS n_nodes,
           CAST(MIN(lbl) AS BIGINT) AS min_label
    FROM comm GROUP BY 1 ORDER BY 1
    """


@query("graph_lpa_communities", _lpa_oracle_sql())
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GR9 community detection by synchronous label propagation
    (Raghavan et al. 2007, arXiv:0709.2938) over the NATION-blocked
    co-supplier graph (same-nation suppliers sharing >= 2 orders — the
    GR7 edge rule restricted to regional networks, which keeps the
    community structure non-trivial; the unblocked graph is so dense
    one label floods everything in 3 rounds): every
    node starts as its own label; each round it adopts the most
    frequent label among its neighbors (ties -> smallest label), run
    for a FIXED 3 synchronized rounds so the trajectory — normally
    update-order-dependent, the reason LPA results are hard to
    reproduce — is bit-deterministic and SQL-replayable (the oracle
    chains one CTE per round).

    Readout: the community-size histogram (how many communities of
    each size, total membership, smallest label as a spot check) —
    bounded by the distinct-size count.

    Scale shape: per round, one union of two equi-joins
    (edges x labels) + one (node, label) count + one per-node argmax
    aggregate — all shuffles keyed on node ids, labels are longs, the
    argmax is min_by over a (-count, label) struct (a pure aggregate,
    no per-node sort); lineage is cut per round with localCheckpoint
    like GR2's power iteration."""
    e0, labels = lpa_run(spark, sf_dir)
    comm = labels.groupBy("lbl").agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    return (
        comm.groupBy(F.col("n_members").alias("community_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_communities"),
            F.sum("n_members").cast("long").alias("n_nodes"),
            F.min("lbl").cast("long").alias("min_label"),
        )
        .orderBy("community_size")
    )


def lpa_run(spark: SparkSession, sf_dir: str):
    """Build the GR9 nation-blocked co-supplier edge set and run the
    deterministic 3-round synchronous LPA.  Returns ``(e0, labels)``:
    the (a, b) edge table and the final (z, lbl) node→community
    assignment — the shared substrate for GR9's size histogram and
    GR13's modularity readout.

    r11: the final label assignment is SESSION-MEMOIZED
    (operators/caching.py:memo) — GR9 and GR13 each re-ran the
    identical 3-round trajectory inline, ~2.5-3 s apiece at sf0.1.  At the design point the community assignment is computed
    once per corpus release and persisted next to the edge table;
    the memo reproduces that at-rest shape in-session.  The
    trajectory itself is unchanged (same edges, same per-round
    argmax), so both consumers read bit-identical labels."""
    from bytesprocessor_spark.operators.caching import memo

    e0 = lpa_edges(spark, sf_dir)

    def build_labels():
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
                F.expr("min_by(lbl, named_struct('nc', -cnt, 'lbl', lbl))").alias(
                    "lbl"
                )
            ).localCheckpoint(eager=False)
        return labels

    labels = memo(spark, ("lpa_labels", sf_dir), build_labels)
    return e0, labels


def lpa_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GR9 nation-blocked co-supplier edge table (a < b, >=2
    shared orders) — the Python twin of :func:`lpa_edges_cte`."""
    from bytesprocessor_spark.operators.caching import memo
    from bytesprocessor_spark.operators.graph import supplier_pair_weights

    # r11: derive from the session-memoized pair-weight table (guide
    # §2.4) — the co-order count of an (a, b) pair is independent of
    # the nation-block predicate, so filtering the shared table by
    # weight and endpoint-nation equality reproduces the blocked join
    # exactly, for two broadcast joins instead of a corpus self-join.
    # The filtered edge table is itself memoized (GR9, GR13 and GR14
    # each re-built it per call, one localCheckpoint job apiece).
    def build() -> DataFrame:
        su = _t(spark, sf_dir, "supplier").select(
            F.col("s_suppkey").alias("s"), F.col("s_nationkey").alias("nk")
        )
        return (
            supplier_pair_weights(spark, sf_dir)
            .where(F.col("w") >= 2)
            .join(
                F.broadcast(
                    su.select(F.col("s").alias("a"), F.col("nk").alias("nka"))
                ),
                "a",
            )
            .join(
                F.broadcast(
                    su.select(F.col("s").alias("b"), F.col("nk").alias("nkb"))
                ),
                "b",
            )
            .where(F.col("nka") == F.col("nkb"))
            .select("a", "b")
        )

    return memo(spark, ("lpa_edges", sf_dir), build)


# ---------------------------------------------------------------------------
# EV21: regression error metrics per segment (exact-integer SSE/SAE/R2)
# ---------------------------------------------------------------------------

@query(
    "eval_regression_metrics",
    """
    WITH y AS (
      SELECT o_orderkey, o_orderpriority, o_orderstatus,
             CAST(ROUND(o_totalprice) AS BIGINT) AS y_d
      FROM orders
    ),
    cat AS (
      SELECT o_orderpriority,
             CAST(SUM(y_d) // COUNT(*) AS BIGINT) AS pred_d
      FROM y GROUP BY o_orderpriority
    ),
    r AS (
      SELECT y.o_orderstatus AS segment, y.y_d, cat.pred_d,
             y.y_d - cat.pred_d AS res
      FROM y JOIN cat USING (o_orderpriority)
    ),
    s AS (
      SELECT segment,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(res AS HUGEINT) * res) AS sse_h,
             SUM(CAST(ABS(res) AS HUGEINT)) AS sae_h,
             SUM(CAST(y_d AS HUGEINT)) AS sum_y,
             SUM(CAST(y_d AS HUGEINT) * y_d) AS sum_y2
      FROM r GROUP BY segment
    )
    SELECT segment, n,
           CASE WHEN sse_h <= 9223372036854775807
                THEN CAST(sse_h AS BIGINT) END AS sse_dd,
           CASE WHEN sae_h <= 9223372036854775807
                THEN CAST(sae_h AS BIGINT) END AS sae_d,
           CAST(sae_h // n AS BIGINT) AS mae_d,
           CAST(1000000 - sse_h //
                ((sum_y2 - sum_y * (sum_y // n)) // 1000000 + 1)
                AS BIGINT) AS r2_ppm
    FROM s ORDER BY segment
    """,
)
def eval_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV21 regression error metrics: residual profile of the FE2
    category-mean predictor (the baseline every regression model must
    beat), per order-status segment — n, SSE, SAE, MAE, and R^2 (one
    minus SSE over the segment's centered total sum of squares), the
    readout a model-eval pipeline runs per slice to find segments
    where the model underperforms.

    Exact arithmetic: WHOLE-DOLLAR targets, integer predictor
    (truncating mean); SSE/SAE/SST accumulate exact 128-bit
    (decimal(38,0) <-> HUGEINT) so the old ~sf20 int64 envelope is
    gone — the raw sse_dd/sae_d readouts go NULL LOUDLY (both
    engines) if a segment's sum ever exceeds int64, while MAE/R^2
    keep computing from the wide values (VERDICT r9 #3); R^2 at
    ppm scale divides SSE by SST pre-scaled down by 1e6 (+1 floor
    guard) — every op a truncating integer div identical across
    engines; SST uses the truncated mean (sum_y2 - sum_y*(sum_y div
    n)), a deterministic definition documented here.

    Scale shape: the predictor table (5 rows) broadcasts onto the
    fact scan; everything else is one hash aggregate on the segment
    key — two passes total, no window, no sort."""
    y = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_orderstatus",
        F.round(F.col("o_totalprice")).cast("long").alias("y_d"),
    )
    cat = y.groupBy("o_orderpriority").agg(
        F.expr("sum(y_d) div count(*)").alias("pred_d")
    )
    r = y.join(F.broadcast(cat), "o_orderpriority").select(
        F.col("o_orderstatus").alias("segment"),
        "y_d",
        (F.col("y_d") - F.col("pred_d")).alias("res"),
    )
    # exact 128-bit SSE/SST (decimal <-> HUGEINT): squared-residual
    # sums left int64 around sf20; the metric trees run in 128-bit on
    # both engines (every op still a truncating integer div), and only
    # the RAW sum readouts are guarded — NULL when they exceed int64
    # instead of silently wrapping (VERDICT r9 #3)
    s = r.groupBy("segment").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("res").cast("decimal(19,0)") * F.col("res")).alias("sse_h"),
        F.sum(F.abs(F.col("res")).cast("decimal(38,0)")).alias("sae_h"),
        F.sum(F.col("y_d").cast("decimal(38,0)")).alias("sum_y"),
        F.sum(F.col("y_d").cast("decimal(19,0)") * F.col("y_d")).alias("sum_y2"),
    )
    _i64 = "9223372036854775807"
    return s.select(
        "segment",
        "n",
        F.expr(
            f"CASE WHEN sse_h <= {_i64} THEN CAST(sse_h AS BIGINT) END"
        ).alias("sse_dd"),
        F.expr(
            f"CASE WHEN sae_h <= {_i64} THEN CAST(sae_h AS BIGINT) END"
        ).alias("sae_d"),
        F.expr("CAST(sae_h div n AS BIGINT)").alias("mae_d"),
        F.expr(
            "CAST(1000000 - sse_h div"
            " ((sum_y2 - sum_y * (sum_y div n)) div 1000000 + 1) AS BIGINT)"
        ).alias("r2_ppm"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# FE4: frequency encoding with rare-category collapse
# ---------------------------------------------------------------------------

@query(
    "part_frequency_encoding",
    """
    WITH f AS (
      SELECT p_type,
             CAST(COUNT(*) AS BIGINT) AS n_cat,
             CAST(COUNT(*) * 1000000 // (SELECT COUNT(*) FROM part) AS BIGINT)
               AS freq_ppm
      FROM part GROUP BY p_type
    ),
    enc AS (
      SELECT CASE WHEN freq_ppm < 5000 THEN '__OTHER__' ELSE p_type END
               AS bucket,
             n_cat, freq_ppm
      FROM f
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_categories,
           CAST(SUM(n_cat) AS BIGINT) AS n_rows,
           CAST(MIN(freq_ppm) AS BIGINT) AS min_freq_ppm,
           CAST(MAX(freq_ppm) AS BIGINT) AS max_freq_ppm
    FROM enc GROUP BY bucket ORDER BY bucket
    """,
)
def part_frequency_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FE4 frequency encoding + rare-category collapse: each category's
    encode is its corpus frequency (ppm), and categories below 0.5%
    fold into ``__OTHER__`` — the standard high-cardinality-categorical
    treatment (rare levels carry no signal individually but their
    union does, and unseen-at-serving levels get the OTHER encode for
    free).

    Scale shape: one hash aggregate builds the frequency table; the
    corpus total rides in as a 1-row broadcast (scalar subquery), and
    at serving time the bounded (category -> bucket, freq) map
    broadcasts onto the scan exactly like FE2.  Readout is the
    bounded encoded-bucket profile.

    Determinism: ppm frequencies by truncating division."""
    p = _t(spark, sf_dir, "part")
    total = p.select(F.count("*").alias("__total"))
    f = (
        p.groupBy("p_type")
        .agg(F.count("*").cast("long").alias("n_cat"))
        .crossJoin(F.broadcast(total))
        .select(
            "p_type",
            "n_cat",
            F.expr("n_cat * 1000000 div __total").alias("freq_ppm"),
        )
    )
    enc = f.select(
        F.when(F.col("freq_ppm") < 5000, F.lit("__OTHER__"))
        .otherwise(F.col("p_type"))
        .alias("bucket"),
        "n_cat",
        "freq_ppm",
    )
    return (
        enc.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_categories"),
            F.sum("n_cat").cast("long").alias("n_rows"),
            F.min("freq_ppm").cast("long").alias("min_freq_ppm"),
            F.max("freq_ppm").cast("long").alias("max_freq_ppm"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# A80: Cramér's V categorical association
# ---------------------------------------------------------------------------

@query(
    "orders_cramers_v",
    """
    WITH o AS (
      SELECT o_orderpriority AS a, o_orderstatus AS b,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM orders GROUP BY 1, 2
    ),
    ra AS (SELECT a, CAST(SUM(obs) AS BIGINT) AS rt FROM o GROUP BY a),
    cb AS (SELECT b, CAST(SUM(obs) AS BIGINT) AS ct FROM o GROUP BY b),
    t AS (SELECT CAST(SUM(obs) AS BIGINT) AS n,
                 CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
                 CAST(COUNT(DISTINCT b) AS BIGINT) AS c
          FROM o),
    cell AS (
      SELECT CAST(ROUND(
               CAST((o.obs * t.n - ra.rt * cb.ct) AS DOUBLE)
               * CAST((o.obs * t.n - ra.rt * cb.ct) AS DOUBLE)
               / (CAST(ra.rt AS DOUBLE) * CAST(cb.ct AS DOUBLE)
                  * CAST(t.n AS DOUBLE)) * 1000000) AS BIGINT) AS chi_micro
      FROM o JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN t
    )
    SELECT t.n, t.r, t.c,
           CAST(SUM(cell.chi_micro) AS BIGINT) AS chi2_micro,
           CAST(ROUND(SQRT(CAST(SUM(cell.chi_micro) AS DOUBLE) / 1000000.0
                / (CAST(t.n AS DOUBLE)
                   * CAST(LEAST(t.r - 1, t.c - 1) AS DOUBLE))) * 1000000)
             AS BIGINT) AS cramers_v_ppm
    FROM cell CROSS JOIN t
    GROUP BY t.n, t.r, t.c
    """,
)
def orders_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A80 Cramér's V: the [0,1]-normalized strength of association
    between two categoricals (here order priority x order status) —
    the effect-size companion to A41's chi-square test (which only
    says WHETHER they associate, not how strongly), and the statistic
    a feature-selection pass computes pairwise over categorical
    columns before model training.

    Determinism (the CUPED/OLS pattern): each cell's chi-square term
    (obs*n - rowtot*coltot)^2 / (rowtot*coltot*n) is one FIXED tree of
    IEEE-double ops over exact int64 inputs — bit-identical across
    engines — quantized to integer micro BEFORE the cross-cell sum so
    summation order cannot matter; V adds one correctly-rounded sqrt
    on an engine-identical double.

    Scale shape: one contingency aggregate (bounded r x c cells), two
    bounded marginal rollups broadcast back — the fact table is
    touched once."""
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("a"),
            F.col("o_orderstatus").alias("b"),
        )
        .agg(F.count("*").cast("long").alias("obs"))
    )
    ra = o.groupBy("a").agg(F.sum("obs").cast("long").alias("rt"))
    cb = o.groupBy("b").agg(F.sum("obs").cast("long").alias("ct"))
    t = o.agg(
        F.sum("obs").cast("long").alias("n"),
        F.countDistinct("a").cast("long").alias("r"),
        F.countDistinct("b").cast("long").alias("c"),
    )
    cell = (
        o.join(F.broadcast(ra), "a")
        .join(F.broadcast(cb), "b")
        .crossJoin(F.broadcast(t))
        .select(
            "n",
            "r",
            "c",
            F.expr(
                "CAST(ROUND("
                " CAST((obs * n - rt * ct) AS DOUBLE)"
                " * CAST((obs * n - rt * ct) AS DOUBLE)"
                " / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)"
                "    * CAST(n AS DOUBLE)) * 1000000) AS BIGINT)"
            ).alias("chi_micro"),
        )
    )
    return cell.groupBy("n", "r", "c").agg(
        F.sum("chi_micro").cast("long").alias("chi2_micro"),
    ).select(
        "n",
        "r",
        "c",
        "chi2_micro",
        F.expr(
            "CAST(ROUND(SQRT(CAST(chi2_micro AS DOUBLE) / 1000000.0"
            " / (CAST(n AS DOUBLE) * CAST(LEAST(r - 1, c - 1) AS DOUBLE)))"
            " * 1000000) AS BIGINT)"
        ).alias("cramers_v_ppm"),
    )


# ---------------------------------------------------------------------------
# S17: hive-partitioned rewrite + partition-pruned read
# ---------------------------------------------------------------------------

@query(
    "partitioned_table_prune",
    """
    WITH e AS (
      SELECT event_id, user_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS value_c
      FROM events WHERE event_type IN ('view', 'purchase')
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(value_c) AS BIGINT) AS sum_value_c,
           CAST(MIN(event_id) AS BIGINT) AS min_event_id,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id
    FROM e GROUP BY event_type ORDER BY event_type
    """,
)
def partitioned_table_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17 hive-partitioned layout round-trip: the events table is
    rewritten ``partitionBy("event_type")`` (the standard lake layout
    for a low-cardinality filter column), then read back with a
    partition-value filter and aggregated.  The oracle recomputes from
    the flat table — equality proves the partition column survives the
    directory-encoding round trip (values become path segments and are
    re-inferred on read; a type/escaping bug here silently corrupts
    the column) and that the pruned read loses no rows.

    The plan-level guarantee (only the two matching ``event_type=...``
    directories are LISTED, not filtered post-scan) is asserted by the
    PartitionFilters gate in tests/test_plans.py — the property that
    makes a 100 TB scan of one partition cost one partition.

    EAGER_QUERIES member: writes the partitioned fixture at
    construction."""
    import os
    import shutil
    import tempfile

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", cents(F.col("value")).alias("value_c")
    )
    land = tempfile.mkdtemp(prefix="bp_hivepart_")
    try:
        root = os.path.join(land, "tbl")
        # cluster rows by the partition column before the partitioned
        # write (one file per partition here; at scale repartition(N,
        # col) for a few hundred MB per file) — same rationale as the
        # IVF index build
        ev.repartition("event_type").write.partitionBy("event_type").parquet(root)
        out = (
            spark.read.parquet(root)
            .where(F.col("event_type").isin("view", "purchase"))
            .groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.countDistinct("user_id").cast("long").alias("n_users"),
                F.sum("value_c").cast("long").alias("sum_value_c"),
                F.min("event_id").cast("long").alias("min_event_id"),
                F.max("event_id").cast("long").alias("max_event_id"),
            )
            .orderBy("event_type")
        )
        # bounded localize (2 rows) so the fixture dir can drop
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(land, ignore_errors=True)


# ---------------------------------------------------------------------------
# L33: MinHash estimator calibration (estimated vs exact Jaccard)
# ---------------------------------------------------------------------------

_CAL_HASHES = 24
_CAL_MOD = (1 << 31) - 1


def _cal_family() -> list[tuple[int, int]]:
    from bytesprocessor_spark.operators.dedup import _hash_family

    return _hash_family(_CAL_HASHES)


def _cal_oracle_sql() -> str:
    fam = _cal_family()
    mins = ",\n             ".join(
        f"MIN(({a} * h31 + {b}) % {_CAL_MOD}) AS m{i}"
        for i, (a, b) in enumerate(fam)
    )
    matches = " + ".join(
        f"CASE WHEN x.m{i} = y.m{i} THEN 1 ELSE 0 END" for i in range(_CAL_HASHES)
    )
    return f"""
    WITH d AS (SELECT doc_id, lower(text) AS t FROM documents
               WHERE doc_id % 20 = 0),
    sh AS (SELECT doc_id,
                  list_distinct([t[i:i+4]
                                 for i in range(1, greatest(len(t) - 4, 1) + 1)]) AS s
           FROM d),
    t2 AS (SELECT doc_id,
                  CAST('0x' || substr(md5(unnest(s)), 1, 15) AS BIGINT)
                    % {_CAL_MOD} AS h31
           FROM sh),
    tu AS (SELECT DISTINCT doc_id, h31 FROM t2),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tu GROUP BY doc_id),
    sig AS (SELECT doc_id,
             {mins}
            FROM tu GROUP BY doc_id),
    i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM tu a JOIN tu b ON a.h31 = b.h31 AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
    p AS (
      SELECT i.id_a, i.id_b,
             c * 1000000 // (sa.n + sb.n - c) AS exact_ppm,
             ({matches}) * 1000000 // {_CAL_HASHES} AS est_ppm
      FROM i
      JOIN sz sa ON i.id_a = sa.doc_id
      JOIN sz sb ON i.id_b = sb.doc_id
      JOIN sig x ON i.id_a = x.doc_id
      JOIN sig y ON i.id_b = y.doc_id
    )
    SELECT CAST(exact_ppm // 100000 AS BIGINT) AS exact_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(ABS(est_ppm - exact_ppm)) // COUNT(*) AS BIGINT)
             AS mean_abs_err_ppm,
           CAST(MAX(ABS(est_ppm - exact_ppm)) AS BIGINT) AS max_abs_err_ppm
    FROM p GROUP BY 1 ORDER BY 1
    """


@query("dedup_minhash_calibration", _cal_oracle_sql())
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L33 estimator-quality audit for the near-dup family: MinHash's
    ESTIMATED Jaccard (matching signature slots / {k} hashes) compared
    against the EXACT shingle Jaccard, per exact-similarity decile,
    over every co-candidate pair (docs sharing >= 1 shingle) of a 5%
    document sample — the calibration read a dedup pipeline runs
    before trusting a signature-only threshold (EV5 audits ANN recall
    the same way; this audits the dedup estimator).  A deliberately
    coarse {k}-hash signature makes the error structure visible.

    Determinism: the md5-mode 60-bit shingle hash (bit-identical
    cross-engine, the SimHash idiom) feeds the affine min-hash family
    (exact int64 ops mod 2^31-1, the same `_hash_family` constants on
    both sides), so estimated AND exact ppm values are integers that
    match exactly.

    Scale shape: signature build is one hash aggregate over the token
    table; the pair enumeration is the shared-shingle equi-join
    bounded by the sample (at production scale the candidate source
    is the banded LSH table, same join key discipline)."""
    fam = _cal_family()
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 20 == 0)
    t = F.lower(F.col("text"))
    tokens = (
        docs.select(F.col("doc_id").alias("id"), t.alias("__t"))
        .select(
            "id",
            "__t",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("__t") - 4, F.lit(1)))
            ).alias("__i"),
        )
        .select(
            "id",
            F.expr(
                "CAST(conv(substring(md5(substring(__t, __i, 5)), 1, 15),"
                f" 16, 10) AS BIGINT) % {_CAL_MOD}"
            ).alias("h31"),
        )
        .distinct()
        .persist()
    )
    # r11: set size and signature mins in ONE aggregation pass (they
    # shared the key and the feed; guide §2.4); persisted because the
    # calibration join references it four times (na/nb/x/y)
    from bytesprocessor_spark.operators.caching import persist_intermediate

    prof = persist_intermediate(tokens.groupBy("id").agg(
        F.count("*").cast("long").alias("n"),
        *[
            F.min((F.lit(a) * F.col("h31") + F.lit(b)) % _CAL_MOD).alias(f"m{i}")
            for i, (a, b) in enumerate(fam)
        ],
    ))
    sz = prof.select("id", "n")
    sig = prof.drop("n")
    a_, b_ = tokens.alias("a"), tokens.alias("b")
    inter = (
        a_.join(
            b_,
            (F.col("a.h31") == F.col("b.h31")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    matches = None
    for i in range(_CAL_HASHES):
        term = F.when(F.col(f"x.m{i}") == F.col(f"y.m{i}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    p = (
        inter.join(sz.select(F.col("id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sz.select(F.col("id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .join(sig.alias("x"), F.col("id_a") == F.col("x.id"))
        .join(sig.alias("y"), F.col("id_b") == F.col("y.id"))
        .select(
            F.expr("c * 1000000 div (na + nb - c)").alias("exact_ppm"),
            (matches.cast("long") * F.lit(1000000)).alias("__mm"),
        )
        .select(
            "exact_ppm",
            F.expr(f"__mm div {_CAL_HASHES}").alias("est_ppm"),
        )
    )
    out = (
        p.groupBy(F.expr("exact_ppm div 100000").alias("exact_decile"))
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr(
                "sum(abs(est_ppm - exact_ppm)) div count(*)"
            ).alias("mean_abs_err_ppm"),
            F.max(F.abs(F.col("est_ppm") - F.col("exact_ppm")))
            .cast("long")
            .alias("max_abs_err_ppm"),
        )
        .orderBy("exact_decile")
    )
    # ADVICE r7: localize the bounded result (<= 11 decile rows) so the
    # persisted token table can be released NOW — a lazy return would
    # leave one cached copy per bench invocation until LRU eviction.
    try:
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        tokens.unpersist()
