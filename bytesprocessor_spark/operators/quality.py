"""Data-quality asserts (SURVEY §2.8 Q1).

The reference hard-asserts no-NaN at four points of its pipeline
(BytesProcessor.py:168,180,192,328) and exits the job on violation.
Here the invariant is one distributed aggregation — a single pass that
counts violations per column — instead of a driver-side materialize;
pipelines that write from their own Arrow task count per batch
(:func:`batch_null_counts`) and check the totals on the driver.
"""

from __future__ import annotations

import pyarrow.compute as pc
import pyarrow.types as pat
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType


class DataQualityError(AssertionError):
    pass


def batch_null_counts(batch) -> dict[str, int]:
    """NULL/NaN count per scalar column of one ``pyarrow.RecordBatch``,
    in schema order.  Nested columns (the
    ``features`` array) are skipped, as the pipeline's check skips
    ``array`` columns."""
    counts = {}
    for field, col in zip(batch.schema, batch.columns):
        if pat.is_nested(field.type):
            continue
        n = col.null_count
        if pat.is_floating(field.type):
            n += pc.sum(pc.is_nan(col)).as_py() or 0
        counts[field.name] = n
    return counts


def expectation_report(
    df: DataFrame,
    not_null: list[str] = (),
    unique: list[list[str] | str] = (),
    in_range: dict[str, tuple[float, float]] | None = None,
    in_set: dict[str, list] | None = None,
    matches: dict[str, str] | None = None,
) -> DataFrame:
    """Declarative expectation suite over one table -> one report row
    per expectation: (expectation, target, n_violations).

    Everything is computed in a SINGLE aggregation pass (one scan, one
    reduce — the only shape that holds at 100 TB): row-level rules sum
    a violation predicate; uniqueness counts duplicates as
    ``count(col) - approx-free countDistinct(col)``.  The report is a
    DataFrame, so it can be sunk next to the data it describes; use
    :func:`assert_expectations` for the reference-style hard stop
    (BytesProcessor.py:168).
    """
    in_range = in_range or {}
    in_set = in_set or {}
    matches = matches or {}
    by_type = dict(df.dtypes)

    aggs: list[F.Column] = []
    labels: list[tuple[str, str]] = []

    def add(kind: str, target: str, cond: F.Column) -> None:
        aggs.append(F.sum(cond.cast("long")).alias(f"__e{len(aggs)}"))
        labels.append((kind, target))

    for c in not_null:
        cond = F.col(c).isNull()
        if by_type.get(c) in ("double", "float"):
            cond = cond | F.isnan(F.col(c))
        add("not_null", c, cond)
    for c, (lo, hi) in in_range.items():
        add("in_range", f"{c}[{lo},{hi}]", ~F.col(c).between(lo, hi) | F.col(c).isNull())
    for c, values in in_set.items():
        add("in_set", c, ~F.col(c).isin(*values) | F.col(c).isNull())
    for c, pattern in matches.items():
        add("matches", c, ~F.col(c).rlike(pattern) | F.col(c).isNull())
    for cols in unique:
        cols = [cols] if isinstance(cols, str) else list(cols)
        key = F.struct(*cols) if len(cols) > 1 else F.col(cols[0])
        aggs.append((F.count(key) - F.countDistinct(key)).alias(f"__e{len(aggs)}"))
        labels.append(("unique", ",".join(cols)))

    row = df.agg(*aggs)
    report = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(kind).alias("expectation"),
                    F.lit(target).alias("target"),
                    F.coalesce(F.col(f"__e{i}"), F.lit(0)).alias("n_violations"),
                )
                for i, (kind, target) in enumerate(labels)
            ]
        )
    )
    return row.select(report.alias("r")).select("r.expectation", "r.target", "r.n_violations")


def assert_expectations(df: DataFrame, context: str = "", **kwargs) -> DataFrame:
    """Hard-stop form of :func:`expectation_report` — raise on the
    first report row with violations, else return the input for
    pipeline chaining."""
    bad = [
        (r.expectation, r.target, r.n_violations)
        for r in expectation_report(df, **kwargs).collect()
        if r.n_violations > 0
    ]
    if bad:
        raise DataQualityError(
            f"expectations failed{f' ({context})' if context else ''}: {bad}"
        )
    return df


def nan_free_floats(df: DataFrame) -> DataFrame:
    """Streaming-friendly variant: a filter that drops NaN rows instead
    of failing — for pipelines where a hard stop is not acceptable."""
    float_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, (DoubleType, FloatType))]
    out = df
    for c in float_cols:
        out = out.where(~F.isnan(F.col(c)) | F.col(c).isNull())
    return out


def observe_quality(
    df: DataFrame,
    name: str = "quality",
    not_null: list[str] = (),
    stats: list[str] = (),
):
    """In-flight quality metrics via Spark's Observation API: attach
    null-violation counters and min/max/count stats to the plan so they
    are computed DURING whatever action the caller already runs — zero
    extra scan, unlike :func:`expectation_report` which costs its own pass.
    The 100 TB posture for continuous monitoring: the metrics ride the
    production write.

    Returns ``(df_with_observation, observation)``; read
    ``observation.get`` (a dict) AFTER the first action on the
    returned frame.  Works on batch frames; for streams use
    ``df.observe(name, ...)`` + a QueryListener instead.
    """
    from pyspark.sql import Observation

    by_type = dict(df.dtypes)
    metrics: list[F.Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in not_null:
        cond = F.col(c).isNull()
        if by_type.get(c) in ("double", "float"):
            cond = cond | F.isnan(F.col(c))
        metrics.append(F.sum(cond.cast("long")).alias(f"null_{c}"))
    for c in stats:
        metrics.append(F.min(c).alias(f"min_{c}"))
        metrics.append(F.max(c).alias(f"max_{c}"))
    obs = Observation(name)
    return df.observe(obs, *metrics), obs
