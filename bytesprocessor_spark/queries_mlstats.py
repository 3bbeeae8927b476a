"""Round-6 analytics batch: distributed model-fitting / stateful-scan
operators that round out the §2 analytics surface.

- A70 events_ols: multi-feature ordinary least squares fitted in ONE
  aggregation pass via the normal equations — the canonical "learn a
  linear model over 100 TB without a training loop" shape.  The Gram
  sums are exact int64 (quantized features), the 3x3 Cramer solve is a
  FIXED tree of IEEE-double ops over those exact integers (the CUPED
  determinism pattern, queries_warehouse.py:events_cuped) — so the
  micro-unit coefficients are bit-identical across engines.

- U6 orders_clamped_balance: per-key CLAMPED running balance (stock
  can't go negative) — the classic non-window-expressible per-key
  state machine: c_t = max(0, c_{t-1} + delta_t) has no closed
  prefix-sum form, so it runs as an ordered Arrow scan per key
  (applyInPandas), value-checked against a DuckDB recursive CTE that
  replays the same recurrence in SQL.

Reference scope note: the reference engine ends at the labeled packet
table (BytesProcessor.py:121-187); these are EXT rows of the analytics
surface SURVEY §2 declares on top of it.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bytesprocessor_spark.queries import _t, cents, query

# ---------------------------------------------------------------------------
# A70: multi-feature OLS via one-pass normal equations
# ---------------------------------------------------------------------------
#
# y = value in exact cents; features h = hour-of-day (0-23) and
# d = epoch-day mod 7 (the engine-neutral dow origin used repo-wide).
# Normal equations  [n  sh  sd ] [b0]   [sy ]
#                   [sh shh shd] [b1] = [shy]
#                   [sd shd sdd] [b2]   [sdy]
# solved by Cramer's rule.  int64 bounds for the SUMS at sf1: h<=23,
# d<=6, y<=56,021 cents -> shy <= 23*56021*1e6 ~ 1.3e12.  The
# DETERMINANT products (three-sum products ~ 2e18 at sf0.1, ~2e21 at
# sf1) would overflow int64, so they are formed in double from the
# exact integer sums — the documented CUPED convention.

_OLS_DET = """
    CAST({a} AS DOUBLE) * (CAST({e} AS DOUBLE) * CAST({i} AS DOUBLE)
                           - CAST({f} AS DOUBLE) * CAST({h} AS DOUBLE))
  - CAST({b} AS DOUBLE) * (CAST({d} AS DOUBLE) * CAST({i} AS DOUBLE)
                           - CAST({f} AS DOUBLE) * CAST({g} AS DOUBLE))
  + CAST({c} AS DOUBLE) * (CAST({d} AS DOUBLE) * CAST({h} AS DOUBLE)
                           - CAST({e} AS DOUBLE) * CAST({g} AS DOUBLE))
"""


def _det(a, b, c, d, e, f, g, h, i) -> str:
    return _OLS_DET.format(a=a, b=b, c=c, d=d, e=e, f=f, g=g, h=h, i=i)


_OLS_D = _det("n", "sh", "sd", "sh", "shh", "shd", "sd", "shd", "sdd")
_OLS_D0 = _det("sy", "sh", "sd", "shy", "shh", "shd", "sdy", "shd", "sdd")
_OLS_D1 = _det("n", "sy", "sd", "sh", "shy", "shd", "sd", "sdy", "sdd")
_OLS_D2 = _det("n", "sh", "sy", "sh", "shh", "shy", "sd", "shd", "sdy")

# R^2 via the normal-equations identity SSE = Syy - b.[sy, shy, sdy]
# (exact when b solves the normal equations); SST = Syy - sy^2/n.
# Same fixed double tree on both engines.
_OLS_SSE = f"""(CAST(syy AS DOUBLE)
  - ((({_OLS_D0}) / ({_OLS_D})) * CAST(sy AS DOUBLE)
     + (({_OLS_D1}) / ({_OLS_D})) * CAST(shy AS DOUBLE)
     + (({_OLS_D2}) / ({_OLS_D})) * CAST(sdy AS DOUBLE)))"""
_OLS_SST = ("(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
            " / CAST(n AS DOUBLE))")
_OLS_R2 = (f"CAST(ROUND((1.0 - ({_OLS_SSE}) / ({_OLS_SST})) * 1000000.0)"
           " AS BIGINT)")


@query(
    "events_ols",
    f"""
    WITH f AS (
      SELECT (epoch_us(ts) // 3600000000) % 24 AS h,
             (epoch_us(ts) // 86400000000) % 7 AS d,
             CAST(ROUND(value * 100) AS BIGINT) AS y
      FROM events
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(h) AS BIGINT) AS sh, CAST(SUM(d) AS BIGINT) AS sd,
             CAST(SUM(h * h) AS BIGINT) AS shh,
             CAST(SUM(h * d) AS BIGINT) AS shd,
             CAST(SUM(d * d) AS BIGINT) AS sdd,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(h * y) AS BIGINT) AS shy,
             CAST(SUM(d * y) AS BIGINT) AS sdy,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM f
    )
    SELECT n, sy,
           CAST(ROUND(({_OLS_D0}) / ({_OLS_D}) * 10000.0) AS BIGINT)
             AS b0_cb,
           CAST(ROUND(({_OLS_D1}) / ({_OLS_D}) * 10000.0) AS BIGINT)
             AS b1_cb,
           CAST(ROUND(({_OLS_D2}) / ({_OLS_D}) * 10000.0) AS BIGINT)
             AS b2_cb,
           {_OLS_R2} AS r2_ppm
    FROM g
    """,
)
def events_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A70 one-pass multi-feature OLS: fit value_cents ~ b0 + b1*hour
    + b2*dow over the whole event stream with the normal equations —
    ONE partial-aggregated scan accumulates the 9 Gram/moment sums
    (exact int64: quantized features, cent-quantized target), the 3x3
    Cramer solve runs on the single result row.  This is regression
    at the 100 TB design point: no gradient loop, no per-row model
    state, the shuffle carries 9 longs total.  Coefficients in
    centi-bp (1e-4 cents) from a FIXED double expression tree over
    the exact sums — bit-identical across engines (CUPED pattern).

    hour/dow come from integer epoch arithmetic (epoch_us // 3600e6 %
    24, // 86400e6 % 7) — the engine-neutral origin used repo-wide.

    Plan shape: Project -> partial hash agg (9 sums, map-side
    combined) -> single-row final agg -> scalar projection.  Nothing
    scales past the scan."""
    ev = _t(spark, sf_dir, "events")
    f = ev.select(
        F.expr("unix_micros(ts) div 3600000000 % 24").alias("h"),
        F.expr("unix_micros(ts) div 86400000000 % 7").alias("d"),
        cents(F.col("value")).alias("y"),
    )
    g = f.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("h").cast("long").alias("sh"),
        F.sum("d").cast("long").alias("sd"),
        F.sum(F.col("h") * F.col("h")).cast("long").alias("shh"),
        F.sum(F.col("h") * F.col("d")).cast("long").alias("shd"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sdd"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("h") * F.col("y")).cast("long").alias("shy"),
        F.sum(F.col("d") * F.col("y")).cast("long").alias("sdy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    return g.selectExpr(
        "n",
        "sy",
        f"CAST(ROUND(({_OLS_D0}) / ({_OLS_D}) * 10000.0) AS BIGINT) AS b0_cb",
        f"CAST(ROUND(({_OLS_D1}) / ({_OLS_D}) * 10000.0) AS BIGINT) AS b1_cb",
        f"CAST(ROUND(({_OLS_D2}) / ({_OLS_D}) * 10000.0) AS BIGINT) AS b2_cb",
        f"{_OLS_R2} AS r2_ppm",
    )


# ---------------------------------------------------------------------------
# U6: clamped running balance (per-key state machine)
# ---------------------------------------------------------------------------
#
# Daily net stock movement per part bucket: order-line quantities drain
# stock, a deterministic subset (every 3rd line) counts as restock.
# The balance recurrence c_t = max(0, c_{t-1} + delta_t) is NOT a
# prefix sum (the clamp makes it non-associative), so no window frame
# expresses it — the textbook case for an ordered per-key Arrow scan.


@query(
    "orders_clamped_balance",
    """
    WITH RECURSIVE d AS MATERIALIZED (
      SELECT l_partkey % 100 AS part_bucket,
             epoch_us(l_shipdate) // 86400000000 AS day,
             CAST(SUM(CASE WHEN l_linenumber % 3 = 0 THEN CAST(l_quantity AS BIGINT)
                           ELSE -CAST(l_quantity AS BIGINT) END) AS BIGINT) AS delta
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1, 2
    ),
    r AS MATERIALIZED (
      SELECT *, ROW_NUMBER() OVER
        (PARTITION BY part_bucket ORDER BY day) AS rn FROM d
    ),
    bal(part_bucket, day, rn, c, n_clamped) AS (
      SELECT part_bucket, day, rn, GREATEST(delta, 0),
             CASE WHEN delta < 0 THEN 1 ELSE 0 END
      FROM r WHERE rn = 1
      UNION ALL
      SELECT x.part_bucket, x.day, x.rn,
             GREATEST(b.c + x.delta, 0),
             b.n_clamped + CASE WHEN b.c + x.delta < 0 THEN 1 ELSE 0 END
      FROM bal b
      JOIN r x
        ON x.part_bucket = b.part_bucket AND x.rn = b.rn + 1
    ),
    last AS (
      SELECT part_bucket, MAX(rn) AS max_rn, CAST(COUNT(*) AS BIGINT) AS n_days
      FROM bal GROUP BY 1
    )
    SELECT b.part_bucket, l.n_days,
           CAST(b.c AS BIGINT) AS final_balance,
           CAST(b.n_clamped AS BIGINT) AS n_clamped
    FROM bal b JOIN last l
      ON b.part_bucket = l.part_bucket AND b.rn = l.max_rn
    ORDER BY b.part_bucket
    """,
)
def orders_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 clamped running balance: per part bucket, replay the daily
    net stock movement with a floor at zero (c_t = max(0, c_{t-1} +
    delta_t)) and report the final balance plus how many days the
    clamp fired (each clamp day = unmet demand — the stockout count).
    The clamp makes the recurrence non-associative, so it cannot be a
    window prefix sum; it runs as an ordered per-key Arrow scan
    (applyInPandas over the DAILY deltas, never raw lines), and the
    oracle replays the identical recurrence with a recursive CTE —
    iterative per-key state semantics value-checked against SQL.

    Determinism: integer quantities, integer epoch days, per-key
    ordered scan on a unique (bucket, day) key.

    Plan shape: the volume work is the (bucket, day) delta aggregate
    — one map-side-combined shuffle of the scan; the stateful replay
    touches only the K x days table (calendar-bounded, ~100 x 2500
    rows at sf1).  At 100 TB the same split holds: aggregate first,
    iterate on the bounded daily series."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    d = (
        li.select(
            (F.col("l_partkey") % 100).alias("part_bucket"),
            F.expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000").alias("day"),
            F.when(
                F.col("l_linenumber") % 3 == 0, F.col("l_quantity").cast("long")
            )
            .otherwise(-F.col("l_quantity").cast("long"))
            .alias("q"),
        )
        .groupBy("part_bucket", "day")
        .agg(F.sum("q").cast("long").alias("delta"))
    )

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        c = 0
        n_clamped = 0
        for delta in pdf["delta"]:
            c += int(delta)
            if c < 0:
                c = 0
                n_clamped += 1
        return pd.DataFrame(
            {
                "part_bucket": [int(pdf["part_bucket"].iloc[0])],
                "n_days": [len(pdf)],
                "final_balance": [c],
                "n_clamped": [n_clamped],
            }
        )

    out = d.groupBy("part_bucket").applyInPandas(
        replay,
        "part_bucket long, n_days long, final_balance long, n_clamped long",
    )
    return out.orderBy("part_bucket")


# ---------------------------------------------------------------------------
# L4z: lexical diversity profile (TTR + corpus hapax)
# ---------------------------------------------------------------------------


@query(
    "text_lexical_diversity",
    """
    WITH t AS (
      SELECT doc_id, unnest([x for x in
               regexp_split_to_array(lower(text), '[^a-z0-9]+')
               if len(x) > 0]) AS tok
      FROM documents
    ),
    d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                 CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_types
          FROM t GROUP BY 1),
    c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
    h AS (SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hapax
          FROM t JOIN c ON t.tok = c.tok WHERE c.cnt = 1 GROUP BY 1)
    SELECT d.doc_id, d.n_tokens, d.n_types,
           CAST(d.n_types * 1000000 // d.n_tokens AS BIGINT) AS ttr_ppm,
           CAST(COALESCE(h.n_hapax, 0) AS BIGINT) AS n_corpus_hapax
    FROM d LEFT JOIN h ON d.doc_id = h.doc_id
    ORDER BY d.doc_id
    """,
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4z lexical diversity: per-document type-token ratio (the
    classic repetitiveness screen — low TTR = template/boilerplate
    text even when Gopher's line-level rules pass) plus the document's
    count of CORPUS hapax legomena (tokens occurring exactly once in
    the whole corpus — the vocabulary a doc uniquely contributes;
    docs with zero corpus-hapax add no new lexical mass and are
    prime dedup/downsample candidates).

    Determinism: integer counts, floor-division ppm.

    Plan shape: one token explode feeds (a) the per-doc aggregate
    (doc-keyed shuffle) and (b) the corpus token counts (token-keyed
    shuffle, map-side combined); the hapax set joins back ON THE
    TOKEN KEY — no broadcast of an unbounded vocabulary, no pair
    blowup.  At 100 TB both shuffles carry (key, count) partials
    only."""
    from bytesprocessor_spark.functions.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("tok")
    )
    d = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("tok").cast("long").alias("n_types"),
    )
    c = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    h = (
        toks.join(c.where(F.col("cnt") == 1), "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hapax"))
    )
    return (
        d.join(h, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            F.expr("n_types * 1000000 div n_tokens").alias("ttr_ppm"),
            F.coalesce("n_hapax", F.lit(0)).cast("long").alias("n_corpus_hapax"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# L2h: marginal novelty gain (arrival-order shingle novelty)
# ---------------------------------------------------------------------------


@query(
    "text_novelty_gain",
    """
    WITH w3 AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in range(1, greatest(len(toks) - 2, 1) + 1)])
               AS shingles
      FROM (SELECT doc_id, [x for x in
              regexp_split_to_array(lower(text), '[^a-z0-9]+')
              if len(x) > 0] AS toks FROM documents)
    ),
    t AS (SELECT doc_id, unnest(shingles) AS g FROM w3),
    m AS (SELECT g, MIN(doc_id) AS first_doc FROM t GROUP BY g),
    d AS (SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
                 CAST(SUM(CASE WHEN m.first_doc = t.doc_id THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_novel
          FROM t JOIN m ON t.g = m.g GROUP BY t.doc_id)
    SELECT doc_id, n_shingles, n_novel,
           CAST(n_novel * 1000000 // n_shingles AS BIGINT) AS novelty_ppm
    FROM d ORDER BY doc_id
    """,
)
def text_novelty_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2h marginal novelty: per document in arrival (doc_id) order,
    the fraction of its distinct word-3-gram shingles never seen in
    any EARLIER document — the marginal-utility telemetry behind
    greedy corpus selection (a doc whose shingles are all owned by
    earlier docs contributes nothing the dedup pass hasn't already
    kept; novelty_ppm is the per-doc data-value curve that threshold
    sweeps read).  First-occurrence attribution = MIN(doc_id) per
    shingle, so the whole computation is shingle-keyed.

    Determinism: integer counts over distinct shingle sets, floor ppm.

    Plan shape: one distinct-shingle explode; MIN(doc_id) per shingle
    is a map-side-combined aggregate on the shingle key; attribution
    joins back ON THE SHINGLE KEY (inverted-index style, never pairs);
    the per-doc rollup is doc-keyed.  Two bounded shuffles at any
    scale — the same shingle-keyed posture as the count-join pair scan
    (dedup_jaccard_pairs), without its per-pair rows."""
    from bytesprocessor_spark.queries_llm import _word3_hashed_tokens

    docs = _t(spark, sf_dir, "documents")
    t = _word3_hashed_tokens(docs).select(
        F.col("id").alias("doc_id"), F.col("h").alias("g")
    ).distinct()
    m = t.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    d = (
        t.join(m, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    return d.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        F.expr("n_novel * 1000000 div n_shingles").alias("novelty_ppm"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# A71: Holt-Winters triple exponential smoothing (integer recurrences)
# ---------------------------------------------------------------------------
#
# Additive Holt-Winters over each event type's daily revenue with a
# 7-observation season, alpha/beta/gamma = 0.3/0.1/0.2 in micro-units.
# ALL state (level l, trend b, seasonal s) lives in milli-cent ints and
# every smoothing step is  (coef * x + (M - coef) * prev) / M  integer
# division with TRUNCATION toward zero — DuckDB's // truncates on
# negatives (verified: -7 // 2 = -3) while Python's // floors, so the
# replay uses a sign-adjusted truncating div (tdiv below).  Any new
# integer-recurrence entry in this file MUST do the same.  int64 bound: coef(1e6) x state(y_cents x 1e3) stays under
# 2^63 through sf~10 daily volumes (documented next to the ACF/Gram
# bound convention).

_HW_A, _HW_B, _HW_G = 300_000, 100_000, 200_000
_HW_M, _HW_SC = 1_000_000, 1_000


@query(
    "events_holt_winters",
    f"""
    WITH RECURSIVE d AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    r AS (SELECT *, ROW_NUMBER() OVER
            (PARTITION BY event_type ORDER BY day) AS rn FROM d),
    hw(event_type, rn, l, b, s_list) AS (
      SELECT event_type, rn, y * {_HW_SC}, CAST(0 AS BIGINT),
             [CAST(0 AS BIGINT)]
      FROM r WHERE rn = 1
      UNION ALL
      SELECT x.event_type, x.rn,
             ({_HW_A} * (x.y * {_HW_SC}
                - CASE WHEN x.rn > 7 THEN hw.s_list[x.rn - 7] ELSE 0 END)
              + ({_HW_M} - {_HW_A}) * (hw.l + hw.b)) // {_HW_M},
             ({_HW_B} * ((({_HW_A} * (x.y * {_HW_SC}
                - CASE WHEN x.rn > 7 THEN hw.s_list[x.rn - 7] ELSE 0 END)
                + ({_HW_M} - {_HW_A}) * (hw.l + hw.b)) // {_HW_M}) - hw.l)
              + ({_HW_M} - {_HW_B}) * hw.b) // {_HW_M},
             list_append(hw.s_list,
               ({_HW_G} * (x.y * {_HW_SC}
                  - (({_HW_A} * (x.y * {_HW_SC}
                      - CASE WHEN x.rn > 7 THEN hw.s_list[x.rn - 7] ELSE 0 END)
                      + ({_HW_M} - {_HW_A}) * (hw.l + hw.b)) // {_HW_M}))
                + ({_HW_M} - {_HW_G})
                  * CASE WHEN x.rn > 7 THEN hw.s_list[x.rn - 7] ELSE 0 END)
               // {_HW_M})
      FROM hw JOIN r x
        ON x.event_type = hw.event_type AND x.rn = hw.rn + 1
    ),
    last AS (SELECT event_type, MAX(rn) AS n FROM hw GROUP BY 1),
    fin AS (SELECT hw.*, last.n FROM hw
            JOIN last ON hw.event_type = last.event_type AND hw.rn = last.n)
    SELECT f.event_type, CAST(h.h AS BIGINT) AS h,
           CAST((f.l + h.h * f.b
                 + CASE WHEN f.n - 7 + h.h >= 1
                        THEN f.s_list[f.n - 7 + h.h] ELSE 0 END)
                // {_HW_SC} AS BIGINT) AS forecast_c
    FROM fin f, (SELECT UNNEST(range(1, 8)) AS h) h
    ORDER BY 1, 2
    """,
)
def events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A71 Holt-Winters forecast: additive triple exponential
    smoothing (level + trend + 7-slot season) over each event type's
    daily revenue, forecasting the next 7 horizons — the seasonal
    upgrade of A31's Holt linear trend and the model-based counterpart
    of A45's naive baselines.  The smoothing recurrence is sequential
    and non-associative, so like U6 it runs as an ordered per-key
    Arrow replay over the DAILY aggregate (calendar-bounded, <= 31
    rows per series at every sf), and the oracle replays the identical
    integer recurrence with a recursive CTE carrying the seasonal
    state as a list column.

    Determinism: all state in milli-cent ints, every step a fixed
    (coef * x + (M - coef) * prev) / M integer division with
    TRUNCATION toward zero — DuckDB's // truncates on negatives
    (unlike Python's floor //), so the replay uses a sign-adjusted
    truncating div.  No float anywhere.

    Plan shape: volume work = one (type, day) map-side-combined
    aggregate; the replay touches K x days rows.  At 100 TB the same
    split: aggregate first, iterate the bounded series."""
    ev = _t(spark, sf_dir, "events")
    d = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            cents(F.col("value")).alias("yc"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("yc").cast("long").alias("y"))
    )

    A, B, G, M, SC = _HW_A, _HW_B, _HW_G, _HW_M, _HW_SC

    def tdiv(a: int, m: int) -> int:
        # truncation toward zero, matching DuckDB's integer //
        q = abs(a) // m
        return q if a >= 0 else -q

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        ys = [int(v) for v in pdf["y"]]
        l = ys[0] * SC
        b = 0
        s = [0]
        for i in range(2, len(ys) + 1):
            y = ys[i - 1]
            sprev = s[i - 7 - 1] if i > 7 else 0
            l_new = tdiv(A * (y * SC - sprev) + (M - A) * (l + b), M)
            b = tdiv(B * (l_new - l) + (M - B) * b, M)
            s.append(tdiv(G * (y * SC - l_new) + (M - G) * sprev, M))
            l = l_new
        n = len(ys)
        et = pdf["event_type"].iloc[0]
        return pd.DataFrame(
            {
                "event_type": [et] * 7,
                "h": list(range(1, 8)),
                "forecast_c": [
                    # series shorter than the season fall back to a 0
                    # seasonal term — mirrors the oracle's NULL-guard
                    # CASE (Python negative indexing would WRAP here)
                    tdiv(
                        l + h * b
                        + (s[n - 7 + h - 1] if n - 7 + h - 1 >= 0 else 0),
                        SC,
                    )
                    for h in range(1, 8)
                ],
            }
        )

    out = d.groupBy("event_type").applyInPandas(
        replay, "event_type string, h long, forecast_c long"
    )
    return out.orderBy("event_type", "h")


# ---------------------------------------------------------------------------
# L3n: Johnson-Lindenstrauss projection + distortion audit
# ---------------------------------------------------------------------------
#
# A fixed 16x64 Rademacher (+-1) projection matrix, generated once at
# authoring time from md5 digests (deterministic, engine-independent —
# the matrix is embedded as a LITERAL in both the Spark plan and the
# oracle SQL, so no cross-engine hash parity is ever needed).  For
# +-1 entries E[||Pq||^2] = k * ||q||^2, so ratio_ppm ~ 1e6 with JL
# concentration — the audit histograms the per-vector distortion.

import hashlib as _hashlib

_JL_K, _JL_D = 16, 64
_JL_P = [
    [
        1 if _hashlib.md5(f"jl_{j}_{i}".encode()).digest()[0] % 2 == 0 else -1
        for i in range(_JL_D)
    ]
    for j in range(_JL_K)
]


def _jl_proj_sql(vec: str, base: int) -> list[str]:
    """One sum-of-signed-terms expression per projected coordinate.
    Identical arithmetic structure for both engines; only the bracket
    base differs (Spark SQL arr[i] is 0-based, DuckDB 1-based)."""
    outs = []
    for j in range(_JL_K):
        terms = [
            ("+ " if s > 0 else "- ") + f"{vec}[{i + base}]"
            for i, s in enumerate(_JL_P[j])
        ]
        outs.append("(" + " ".join(terms).lstrip("+ ") + ")")
    return outs


_JL_COORDS_SPARK = _jl_proj_sql("q", 0)
_JL_COORDS_DUCK = _jl_proj_sql("q", 1)
_JL_PROJ_N2 = " + ".join(f"p{j} * p{j}" for j in range(_JL_K))
_JL_COORD_SELECT = ", ".join(
    f"{c} AS p{j}" for j, c in enumerate(_JL_COORDS_DUCK)
)


@query(
    "embedding_jl_distortion",
    f"""
    WITH q AS (
      SELECT vec_id,
             [CAST(ROUND(x * 1000) AS BIGINT) for x in embedding] AS q
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, q,
             list_sum([x * x for x in q]) AS orig_n2
      FROM q
    ),
    p AS (
      SELECT vec_id, orig_n2, {_JL_COORD_SELECT}
      FROM n WHERE orig_n2 > 0
    ),
    r AS (
      SELECT vec_id,
             CAST(({_JL_PROJ_N2}) * 1000000 // ({_JL_K} * orig_n2) AS BIGINT)
               AS ratio_ppm
      FROM p
    )
    SELECT CAST(ratio_ppm // 100000 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(MIN(ratio_ppm) AS BIGINT) AS min_ppm,
           CAST(MAX(ratio_ppm) AS BIGINT) AS max_ppm
    FROM r GROUP BY 1 ORDER BY 1
    """,
)
def embedding_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3n Johnson-Lindenstrauss audit: project every embedding from
    64 to 16 dims with a fixed Rademacher matrix and histogram the
    norm distortion ratio ||Pq||^2 / (k ||q||^2) — the measurement a
    pipeline runs before switching its ANN index to the projected
    space (JL says the buckets concentrate near 1e6 ppm; heavy tails
    mean 16 dims is too aggressive for this corpus).  The projection
    itself is the scale artifact: 16 signed-sum expressions in one
    whole-stage-codegen projection, no shuffle, no UDF — the same
    map-only shape that would feed a projected IVF build at 100 TB.

    Determinism: the +-1 matrix is a module literal (md5-seeded at
    authoring time) embedded in BOTH plans; quantized int vectors,
    integer norms, floor-div ppm.

    Plan shape: scan -> project (codegen) -> K-bucket aggregate."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")
        ).alias("q"),
    )
    n = q.select(
        "vec_id",
        "q",
        F.aggregate(
            "q", F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).alias("orig_n2"),
    ).where(F.col("orig_n2") > 0)
    p = n.selectExpr("vec_id", "orig_n2", *[
        f"{c} AS p{j}" for j, c in enumerate(_JL_COORDS_SPARK)
    ])
    r = p.selectExpr(
        "vec_id",
        f"CAST(({_JL_PROJ_N2}) * 1000000 div ({_JL_K} * orig_n2) AS BIGINT)"
        " AS ratio_ppm",
    )
    return (
        r.groupBy(F.expr("ratio_ppm div 100000").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.min("ratio_ppm").cast("long").alias("min_ppm"),
            F.max("ratio_ppm").cast("long").alias("max_ppm"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Q20: cross-field conditional-rule audit (data contracts)
# ---------------------------------------------------------------------------


@query(
    "quality_cross_field_rules",
    """
    WITH j AS (
      SELECT o.o_orderstatus, o.o_orderdate, o.o_totalprice,
             l.l_linestatus, l.l_shipdate, l.l_discount, l.l_quantity
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    c AS (
      SELECT
        CAST(COUNT(*) AS BIGINT) AS n_lines,
        CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_f_lines,
        CAST(SUM(CASE WHEN o_orderstatus = 'F' AND l_linestatus <> 'F'
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_status,
        CAST(SUM(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END)
             AS BIGINT) AS v_ship,
        CAST(SUM(CASE WHEN CAST(ROUND(l_discount * 10000) AS BIGINT)
                           NOT BETWEEN 0 AND 1000
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
        CAST(SUM(CASE WHEN CAST(ROUND(l_quantity * 100) AS BIGINT)
                           NOT BETWEEN 100 AND 5000
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_qty
      FROM j
    ),
    o2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS v_price
      FROM orders
    ),
    rules AS (
      SELECT 'closed_order_lines_closed' AS rule, n_f_lines AS n_checked,
             v_status AS n_violations FROM c
      UNION ALL
      SELECT 'ship_on_or_after_order', n_lines, v_ship FROM c
      UNION ALL
      SELECT 'discount_in_0_10pct', n_lines, v_disc FROM c
      UNION ALL
      SELECT 'quantity_in_1_50', n_lines, v_qty FROM c
      UNION ALL
      SELECT 'order_price_positive', n_orders, v_price FROM o2
    )
    SELECT rule, n_checked, n_violations,
           CAST(CASE WHEN n_checked = 0 THEN 0
                     ELSE n_violations * 1000000 // n_checked END AS BIGINT)
             AS violation_ppm
    FROM rules ORDER BY rule
    """,
)
def quality_cross_field_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 cross-field data-contract audit: conditional rules that
    relate COLUMNS TO EACH OTHER (closed orders must have closed
    lines; lines ship on/after their order date; discount and
    quantity inside their business domains; prices positive) — the
    referential step past Q1's per-column null checks and Q2's
    per-row expectations, and the batch twin of what a CDC apply
    (J9/ST9) should assert before merging.  One fact-dimension join
    feeds ALL line-level rules in a single conditional aggregate;
    the order-level rule is a second scan-free aggregate; output is
    one row per rule with its violation ppm.

    Determinism: integer counts; domain compares on cent/bp
    quantized values; floor-div ppm.

    Plan shape: one orderkey-keyed join (the honest cost; at scale
    both sides co-partition/bucket on the key) + two conditional
    aggregates; the rule stack is a 5-row literal union."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    j = li.join(
        orders,
        li["l_orderkey"] == orders["o_orderkey"],
    ).select(
        "o_orderstatus", "o_orderdate", "o_totalprice",
        "l_linestatus", "l_shipdate", "l_discount", "l_quantity",
    )
    one = F.lit(1)
    zero = F.lit(0)
    c = j.agg(
        F.count(one).cast("long").alias("n_lines"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("n_f_lines"),
        F.sum(
            F.when(
                (F.col("o_orderstatus") == "F")
                & (F.col("l_linestatus") != "F"),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("v_status"),
        F.sum(
            F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1).otherwise(0)
        )
        .cast("long")
        .alias("v_ship"),
        F.sum(
            F.when(
                ~F.round(F.col("l_discount") * 10000)
                .cast("long")
                .between(0, 1000),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("v_disc"),
        F.sum(
            F.when(
                ~F.round(F.col("l_quantity") * 100)
                .cast("long")
                .between(100, 5000),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("v_qty"),
    )
    o2 = orders.agg(
        F.count(one).cast("long").alias("n_orders"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("v_price"),
    )
    rules = (
        c.selectExpr(
            "'closed_order_lines_closed' AS rule",
            "n_f_lines AS n_checked",
            "v_status AS n_violations",
        )
        .unionByName(
            c.selectExpr(
                "'ship_on_or_after_order' AS rule",
                "n_lines AS n_checked",
                "v_ship AS n_violations",
            )
        )
        .unionByName(
            c.selectExpr(
                "'discount_in_0_10pct' AS rule",
                "n_lines AS n_checked",
                "v_disc AS n_violations",
            )
        )
        .unionByName(
            c.selectExpr(
                "'quantity_in_1_50' AS rule",
                "n_lines AS n_checked",
                "v_qty AS n_violations",
            )
        )
        .unionByName(
            o2.selectExpr(
                "'order_price_positive' AS rule",
                "n_orders AS n_checked",
                "v_price AS n_violations",
            )
        )
    )
    return rules.select(
        "rule",
        "n_checked",
        "n_violations",
        F.expr(
            "CAST(CASE WHEN n_checked = 0 THEN 0"
            " ELSE n_violations * 1000000 div n_checked END AS BIGINT)"
        ).alias("violation_ppm"),
    ).orderBy("rule")


# ---------------------------------------------------------------------------
# J13: incremental join view maintenance (delta decomposition)
# ---------------------------------------------------------------------------


@query(
    "orders_join_ivm",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_c
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
)
def orders_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13 incremental view maintenance for a JOIN: maintain the
    materialized lineitem-orders join under deltas to BOTH sides with
    the standard decomposition

        (L0 + dL) x (O0 + dO)
          = L0xO0  +  dL x O0  +  L0 x dO  +  dL x dO

    — the identity every streaming/batch IVM engine (and ST9's CDC
    apply) rests on.  The fixture is split deterministically into
    base and delta partitions (orders by key % 10, lineitem by key %
    7), the FOUR delta terms are computed and unioned, and the
    readout aggregates the UNION.  The oracle aggregates the plain
    full join — equality proves the decomposition loses and
    duplicates nothing across all four quadrants.

    Determinism: partition by key arithmetic; integer cents.

    Plan shape: at 100 TB only the three delta terms run per batch
    (L0xO0 is the standing materialization — here it is recomputed
    because the fixture has no persisted state); each term is an
    orderkey-equi join, co-partitionable/bucketable on the key, and
    the delta sides are small by construction, so dLxO0 / L0xdO
    broadcast their delta side."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    l0 = li.where(F.col("l_orderkey") % 7 != 0)
    dl = li.where(F.col("l_orderkey") % 7 == 0)
    o0 = orders.where(F.col("o_orderkey") % 10 != 0)
    do = orders.where(F.col("o_orderkey") % 10 == 0)

    def j(left: DataFrame, right: DataFrame) -> DataFrame:
        return left.join(right, left["l_orderkey"] == right["o_orderkey"]).select(
            "o_orderpriority", "l_extendedprice"
        )

    maintained = (
        j(l0, o0)
        .unionByName(j(dl, o0))
        .unionByName(j(l0, do))
        .unionByName(j(dl, do))
    )
    from bytesprocessor_spark.queries import cents as _cents

    return (
        maintained.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(_cents(F.col("l_extendedprice"))).cast("long").alias("revenue_c"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# S15 oracle row: transaction-log snapshot + time-travel read
# ---------------------------------------------------------------------------


@query(
    "txnlog_snapshot_read",
    """
    WITH base AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 0),
    agg AS (
      SELECT 'v0' AS snapshot, o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_c
      FROM base GROUP BY 2
      UNION ALL
      SELECT 'latest', o_orderpriority,
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      FROM orders GROUP BY 2
    )
    SELECT snapshot, o_orderpriority, n_orders, revenue_c
    FROM agg ORDER BY snapshot, o_orderpriority
    """,
)
def txnlog_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 as an ORACLE row (previously pytest-only): commit the
    orders table to a transaction-log table in two versions (v0 =
    orderkey % 10 != 0, v1 = append the rest), then aggregate BOTH
    the time-travel read of v0 and the latest snapshot.  The oracle
    recomputes the same aggregates from the plain table with the
    version predicates — equality proves the manifest chain loses and
    duplicates no files across commits, and that time travel
    reconstructs the exact historical file set.

    EAGER: writes a temp txnlog table at construction (like the
    streaming drains); the table is removed before returning — the
    result is localized (calendar-of-priorities bounded, 10 rows).

    Scale shape: commits are O(1) manifest writes; the snapshot reads
    scan exactly the manifest's file list (no directory listing); the
    readout is a 5-priority aggregate per snapshot."""
    import shutil as _shutil
    import tempfile as _tempfile

    from bytesprocessor_spark.sources.txnlog import txn_read, txn_write

    orders = _t(spark, sf_dir, "orders")
    tdir = _tempfile.mkdtemp(prefix="bp_txn_tbl_")
    try:
        txn_write(orders.where(F.col("o_orderkey") % 10 != 0), tdir, mode="append")
        txn_write(orders.where(F.col("o_orderkey") % 10 == 0), tdir, mode="append")

        def agg(df: DataFrame, tag: str) -> DataFrame:
            return df.groupBy("o_orderpriority").agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum(cents(F.col("o_totalprice"))).cast("long").alias("revenue_c"),
            ).select(F.lit(tag).alias("snapshot"), "o_orderpriority", "n_orders", "revenue_c")

        out = agg(txn_read(spark, tdir, version=0), "v0").unionByName(
            agg(txn_read(spark, tdir), "latest")
        ).orderBy("snapshot", "o_orderpriority")
        # localize before the temp table is deleted (bounded rows)
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        _shutil.rmtree(tdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# A72: part-sourcing concentration risk
# ---------------------------------------------------------------------------


@query(
    "part_sourcing_risk",
    """
    WITH s AS (
      SELECT l_partkey % 200 AS part_bucket, l_suppkey,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY 1, 2
    ),
    t AS (
      SELECT part_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             CAST(SUM(n_lines) AS BIGINT) AS total_lines
      FROM s GROUP BY 1
    ),
    h AS (
      SELECT s.part_bucket,
             CAST(SUM(((s.n_lines * 10000) // t.total_lines)
                      * ((s.n_lines * 10000) // t.total_lines)) AS BIGINT)
               AS hhi_e8
      FROM s JOIN t ON s.part_bucket = t.part_bucket
      GROUP BY 1
    )
    SELECT t.part_bucket, t.n_suppliers, t.total_lines, h.hhi_e8,
           t.n_suppliers = 1 AS single_sourced,
           h.hhi_e8 >= 25000000 AS concentrated
    FROM t JOIN h ON t.part_bucket = h.part_bucket
    ORDER BY t.part_bucket
    """,
)
def part_sourcing_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A72 sourcing-concentration risk: per part bucket, the distinct
    supplier count and the Herfindahl index of supplier line shares —
    the procurement-risk screen (single-sourced parts and HHI >= 0.25
    'concentrated' buckets are the supply-chain fragility list; the
    per-part view A62's firm-level HHI aggregates away).  Shares in
    basis points with floor division, so the squared-share sum is
    exact int64 on both engines.

    Plan shape: one (bucket, supplier) map-side-combined aggregate
    absorbs the scan; the per-bucket rollup and the HHI join run on
    the bounded bucket x supplier table.  At 100 TB: one shuffle of
    (bucket, supplier) partials, everything after is key-space
    bounded."""
    li = _t(spark, sf_dir, "lineitem")
    s = (
        li.select((F.col("l_partkey") % 200).alias("part_bucket"), "l_suppkey")
        .groupBy("part_bucket", "l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_lines"))
    )
    t = s.groupBy("part_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("n_lines").cast("long").alias("total_lines"),
    )
    share = F.expr("n_lines * 10000 div total_lines")
    h = (
        s.join(t, "part_bucket")
        .select("part_bucket", (share * share).alias("sq"))
        .groupBy("part_bucket")
        .agg(F.sum("sq").cast("long").alias("hhi_e8"))
    )
    return (
        t.join(h, "part_bucket")
        .select(
            "part_bucket",
            "n_suppliers",
            "total_lines",
            "hhi_e8",
            (F.col("n_suppliers") == 1).alias("single_sourced"),
            (F.col("hhi_e8") >= 25_000_000).alias("concentrated"),
        )
        .orderBy("part_bucket")
    )


# ---------------------------------------------------------------------------
# W20: ratio-to-report (windowed share-of-total + rank)
# ---------------------------------------------------------------------------


@query(
    "orders_ratio_to_report",
    """
    WITH a AS (
      SELECT CAST(epoch_us(o_orderdate) // 86400000000 // 365 AS BIGINT)
               AS year_idx,
             o_orderpriority,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_c
      FROM orders GROUP BY 1, 2
    )
    SELECT year_idx, o_orderpriority, revenue_c,
           CAST((revenue_c * 1000000)
                // SUM(revenue_c) OVER (PARTITION BY year_idx) AS BIGINT)
             AS share_ppm,
           CAST(RANK() OVER (PARTITION BY year_idx
                             ORDER BY revenue_c DESC, o_orderpriority)
                AS BIGINT) AS rnk
    FROM a ORDER BY year_idx, rnk
    """,
)
def orders_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W20 ratio-to-report: each priority's share of its epoch-year's
    revenue plus its within-year rank — the classic report analytic
    (Oracle's RATIO_TO_REPORT) expressed as a window over the
    GROUPED table, not the fact table: the share denominator is a
    full-partition window sum over <= 5 rows per year, so the window
    never sees event volume.  Epoch-year index keeps the bucket
    engine-neutral (no calendar-year extraction differences).

    Determinism: integer cents, floor-div ppm, rank tie-broken on the
    priority string.

    Plan shape: one (year, priority) map-combined aggregate absorbs
    the scan; the window runs on the K-row result."""
    orders = _t(spark, sf_dir, "orders")
    a = (
        orders.select(
            F.expr(
                "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP))"
                " div 86400000000 div 365 AS BIGINT)"
            ).alias("year_idx"),
            "o_orderpriority",
            cents(F.col("o_totalprice")).alias("c"),
        )
        .groupBy("year_idx", "o_orderpriority")
        .agg(F.sum("c").cast("long").alias("revenue_c"))
    )
    w = Window.partitionBy("year_idx")
    wr = Window.partitionBy("year_idx").orderBy(
        F.col("revenue_c").desc(), "o_orderpriority"
    )
    return a.select(
        "year_idx",
        "o_orderpriority",
        "revenue_c",
        F.expr(
            "CAST(revenue_c * 1000000 AS BIGINT)"
        ).alias("__num"),
        F.sum("revenue_c").over(w).alias("__den"),
        F.rank().over(wr).cast("long").alias("rnk"),
    ).select(
        "year_idx",
        "o_orderpriority",
        "revenue_c",
        F.expr("__num div __den").alias("share_ppm"),
        "rnk",
    ).orderBy("year_idx", "rnk")
