"""Attack labeling and range extraction (SURVEY §2 J1, P3).

The reference labels packets by looping over an attack list and
overwriting a pandas label column with boolean masks
(BytesProcessor.py:288-337); time-range extraction is an OR-reduce of
``between`` masks (BytesProcessor.py:339-354).  Semantically the
labeling step is a broadcast theta-join of a fact table against a tiny
attack dimension: ``ts BETWEEN lo AND hi AND <ip predicate>``, with
*last matching attack wins* precedence (BytesProcessor.py:326-327).

Spark-first expression: a single ``when()`` chain evaluated inside
whole-stage codegen.  The attack spec is driver-side constant data, so
folding it into the expression tree is strictly better than a join —
zero shuffle, zero broadcast, pipelined with the scan.  Precedence is
made explicit by evaluating attacks in REVERSE list order inside the
chain (first match of the reversed chain == last match of the list),
deterministic under any parallelism (SURVEY §3.4.1).

:func:`label_batch` is the same rule set over one Arrow
``RecordBatch`` (pyarrow.compute, list-order overwrite), for pipelines
that label inside their own Python task; ``label_attacks`` is the
DataFrame form and the reference it is tested against.

Fixed (non-replicated) reference bugs, per SURVEY §3.4:
  * victim-only attacks raised KeyError on the forward mask
    (BytesProcessor.py:318) — here they contribute no forward packets;
  * an empty attack list crashed ``functools.reduce``
    (BytesProcessor.py:331,352) — here it is a benign no-op.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from operator import or_
from typing import Sequence

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class AttackSpec:
    """One attack window (cf. attack_details, BytesProcessor.py:22-33)."""

    ts_start: float
    ts_end: float
    label: str
    attacker_ips: tuple[str, ...] = field(default=())
    victim_ips: tuple[str, ...] = field(default=())

    def match_cond(
        self,
        ts: Column,
        src: Column,
        dst: Column,
    ) -> Column | None:
        """Membership predicate, mirroring BytesProcessor.py:298-315:
        bidirectional when both IP lists given, src-only / dst-only
        otherwise, skip when neither."""
        in_window = ts.between(F.lit(float(self.ts_start)), F.lit(float(self.ts_end)))
        if self.attacker_ips and self.victim_ips:
            ip_cond = (src.isin(*self.attacker_ips) & dst.isin(*self.victim_ips)) | (
                dst.isin(*self.attacker_ips) & src.isin(*self.victim_ips)
            )
        elif self.attacker_ips:
            ip_cond = src.isin(*self.attacker_ips)
        elif self.victim_ips:
            ip_cond = dst.isin(*self.victim_ips)
        else:
            return None
        return in_window & ip_cond

    def forward_cond(self, ts: Column, src: Column) -> Column | None:
        """Forward (attacker-sourced) predicate, BytesProcessor.py:318 —
        tolerating victim-only specs instead of raising."""
        if not self.attacker_ips:
            return None
        in_window = ts.between(F.lit(float(self.ts_start)), F.lit(float(self.ts_end)))
        return in_window & src.isin(*self.attacker_ips)


def label_attacks(
    df: DataFrame,
    attacks: Sequence[AttackSpec],
    ts_col: str = "timestamp",
    src_col: str = "src_ip",
    dst_col: str = "dst_ip",
    label_col: str = "label",
    forward_col: str = "is_forward",
    default_label: str = "benign",
) -> DataFrame:
    """Add ``label`` (last matching attack wins) and ``is_forward``
    columns.  Pure expression — no shuffle, no UDF, survives any scale.
    """
    ts, src, dst = F.col(ts_col), F.col(src_col), F.col(dst_col)

    label_expr = F.lit(default_label)
    if label_col in df.columns:
        label_expr = F.col(label_col)
    # Reverse order => the LAST list entry that matches takes priority,
    # matching the reference's sequential overwrite (BytesProcessor.py:326-327).
    chain = None
    for atk in reversed(list(attacks)):
        cond = atk.match_cond(ts, src, dst)
        if cond is None:
            continue
        chain = (chain.when(cond, F.lit(atk.label)) if chain is not None
                 else F.when(cond, F.lit(atk.label)))
    label_out = chain.otherwise(label_expr) if chain is not None else label_expr

    fwd_conds = [c for c in (a.forward_cond(ts, src) for a in attacks) if c is not None]
    forward_out = reduce(or_, fwd_conds) if fwd_conds else F.lit(False)

    return df.withColumn(label_col, label_out).withColumn(forward_col, forward_out)


def _between(ts, lo: float, hi: float):
    """Spark's inclusive ``between`` under three-valued logic."""
    return pc.and_kleene(pc.greater_equal(ts, lo), pc.less_equal(ts, hi))


def _isin(col, values):
    """Spark's ``isin``: a NULL input gives NULL, not False."""
    hit = pc.is_in(col, value_set=pa.array(values, col.type))
    return pc.if_else(pc.is_valid(col), hit, pa.scalar(None, pa.bool_())) if col.null_count else hit


def label_batch(batch: pa.RecordBatch, attacks: Sequence[AttackSpec]) -> pa.RecordBatch:
    """:func:`label_attacks` with its default columns for one
    ``pyarrow.RecordBatch``: the same ``label`` / ``is_forward``
    columns, placed where ``withColumn`` puts them.  Attacks apply in list order, each match overwriting the
    label (the reference's sequential overwrite, BytesProcessor.py:
    326-327), and ``is_forward`` ORs the forward conditions; both keep
    Spark's NULL semantics."""
    ts, src, dst = (batch.column(c) for c in ("timestamp", "src_ip", "dst_ip"))
    n = batch.num_rows
    label = batch.column("label") if "label" in batch.schema.names else pa.repeat("benign", n)
    forward = pa.repeat(False, n)
    for atk in attacks:
        a, v = atk.attacker_ips, atk.victim_ips
        if not (a or v):
            continue  # neither IP list: matches nothing (match_cond)
        in_window = _between(ts, float(atk.ts_start), float(atk.ts_end))
        if a and v:
            ip_hit = pc.or_kleene(
                pc.and_kleene(_isin(src, a), _isin(dst, v)),
                pc.and_kleene(_isin(dst, a), _isin(src, v)),
            )
        else:
            ip_hit = _isin(src, a) if a else _isin(dst, v)
        hit = pc.fill_null(pc.and_kleene(in_window, ip_hit), False)
        label = pc.if_else(hit, atk.label, label)
        if a:
            forward = pc.or_kleene(forward, pc.and_kleene(in_window, _isin(src, a)))

    for name, arr in (("label", label), ("is_forward", forward)):
        i = batch.schema.get_field_index(name)
        batch = batch.set_column(i, name, arr) if i >= 0 else batch.append_column(name, arr)
    return batch


def attacks_to_df(spark, attacks: Sequence[AttackSpec]) -> DataFrame:
    """The attack spec as a proper dimension table (attack_idx carries
    list order for last-wins precedence) — the join-based alternative to
    the ``when()`` chain, for specs too large to fold into expressions."""
    rows = [
        (i, float(a.ts_start), float(a.ts_end), list(a.attacker_ips), list(a.victim_ips), a.label)
        for i, a in enumerate(attacks)
    ]
    return spark.createDataFrame(
        rows,
        "attack_idx int, ts_start double, ts_end double, "
        "attacker_ips array<string>, victim_ips array<string>, label string",
    )


def label_attacks_join(
    df: DataFrame,
    attacks_df: DataFrame,
    ts_col: str = "timestamp",
    src_col: str = "src_ip",
    dst_col: str = "dst_ip",
    label_col: str = "label",
    forward_col: str = "is_forward",
    default_label: str = "benign",
) -> DataFrame:
    """Join-based labeling for large attack dimensions: broadcast
    non-equi join + max(attack_idx) pick for deterministic last-wins.

    Scale posture: the dimension is broadcast (it is small by
    construction); the fact side never shuffles.  The aggregation
    re-groups on the fact row id — at 100 TB prefer the ``when()``
    chain unless the spec genuinely cannot fold into an expression.
    """
    fact = df.withColumn("__row_id", F.monotonically_increasing_id())
    a = attacks_df.alias("a")
    ts, src, dst = F.col(ts_col), F.col(src_col), F.col(dst_col)

    both = (F.size("a.attacker_ips") > 0) & (F.size("a.victim_ips") > 0)
    ip_cond = (
        F.when(
            both,
            (F.array_contains("a.attacker_ips", src) & F.array_contains("a.victim_ips", dst))
            | (F.array_contains("a.attacker_ips", dst) & F.array_contains("a.victim_ips", src)),
        )
        .when(F.size("a.attacker_ips") > 0, F.array_contains("a.attacker_ips", src))
        .when(F.size("a.victim_ips") > 0, F.array_contains("a.victim_ips", dst))
        .otherwise(F.lit(False))
    )
    cond = ts.between(F.col("a.ts_start"), F.col("a.ts_end")) & ip_cond
    fwd = (
        ts.between(F.col("a.ts_start"), F.col("a.ts_end"))
        & (F.size("a.attacker_ips") > 0)
        & F.array_contains("a.attacker_ips", src)
    )

    joined = fact.join(F.broadcast(a), cond | fwd, "left")
    # last-wins == max attack_idx among *label* matches; forward is an OR.
    # Single-branch plan: every fact column rides through the
    # aggregation (first() per group — all rows of a group carry the
    # same fact values), instead of re-joining `picked` back onto a
    # second evaluation of `fact`.  monotonically_increasing_id is
    # partition-layout-dependent, so re-deriving it in a separate plan
    # branch could mispair labels under task retries/speculation; here
    # the id exists in exactly one lineage (and one join disappears
    # from the plan).
    carried = [F.first(F.col(c)).alias(c) for c in df.columns if c != label_col]
    picked = joined.groupBy("__row_id").agg(
        *carried,
        F.max(F.when(cond, F.struct(F.col("a.attack_idx"), F.col("a.label")))).alias("__m"),
        F.max(F.when(fwd, F.lit(True)).otherwise(F.lit(False))).alias("__fwd"),
    )
    label_out = F.coalesce(F.col("__m.label"), F.lit(default_label)).alias(label_col)
    out_cols = [label_out if c == label_col else F.col(c) for c in df.columns]
    if label_col not in df.columns:
        out_cols.append(label_out)
    out_cols.append(F.coalesce(F.col("__fwd"), F.lit(False)).alias(forward_col))
    return picked.select(*out_cols)


def port_filter(
    df: DataFrame,
    ports: Sequence[int],
    side: str = "both",
    src_port_col: str = "src_port",
    dst_port_col: str = "dst_port",
) -> DataFrame:
    """Port-based packet filter — the reference's own roadmap item
    (/root/reference/CONTRIBUTING.md: "port filtering"), parity-plus.

    A pure IN predicate (optionally OR of both sides), so Catalyst
    pushes it into the parquet scan: row groups whose port min/max
    stats exclude every requested port are never read.  Empty ``ports``
    is a no-op (consistent with the empty-spec semantics of
    :func:`extract_ranges`).

    side: ``src`` | ``dst`` | ``both`` (either side matches).
    """
    ports = [int(p) for p in ports]
    if not ports:
        return df
    src_c = F.col(src_port_col).isin(ports)
    dst_c = F.col(dst_port_col).isin(ports)
    if side == "src":
        cond = src_c
    elif side == "dst":
        cond = dst_c
    elif side == "both":
        cond = src_c | dst_c
    else:
        raise ValueError(f"side must be src|dst|both, got {side!r}")
    return df.filter(cond)


def extract_ranges(
    df: DataFrame,
    ranges: Sequence[tuple[float, float]],
    ts_col: str = "timestamp",
) -> DataFrame:
    """Disjunctive inclusive time-range filter (BytesProcessor.py:339-354).

    Expressed as one OR-of-between predicate so Catalyst pushes it into
    the scan (min/max row-group pruning on parquet) — the reference
    applies it early by hand for the same reason (BytesProcessor.py:144).
    Empty range list => no-op (reference crashed, SURVEY §3.4.3).
    """
    if not ranges:
        return df
    ts = F.col(ts_col).cast("double")
    cond = reduce(
        or_,
        [ts.between(F.lit(float(lo)), F.lit(float(hi))) for lo, hi in ranges],
    )
    return df.filter(cond)
