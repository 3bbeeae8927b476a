"""Labeling operator semantics (SURVEY §3.4: precedence, direction
rules, fixed reference bugs) + the join-based variant's equivalence.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bytesprocessor_spark.operators.labeling import (
    AttackSpec,
    attacks_to_df,
    extract_ranges,
    label_attacks,
    label_attacks_join,
    label_batch,
)

PACKETS = [
    # (ts, src, dst) — designed around two overlapping windows
    (100.0, "a1", "v1"),   # alpha window, attacker->victim
    (100.0, "v1", "a1"),   # alpha window, reverse (bidirectional rule)
    (150.0, "a1", "x1"),   # alpha+beta overlap, src-only beta wins (later in list)
    (150.0, "a2", "v1"),   # overlap, matches alpha only (a2 not beta attacker)
    (210.0, "x1", "v9"),   # gamma window, victim-only rule
    (210.0, "v9", "x1"),   # gamma window, wrong direction (dst!=v9)
    (300.0, "a1", "v1"),   # outside all windows
    (100.0, "x1", "x2"),   # in-window bystander
]

ATTACKS = (
    AttackSpec(50.0, 180.0, "alpha", attacker_ips=("a1", "a2"), victim_ips=("v1",)),
    AttackSpec(140.0, 180.0, "beta", attacker_ips=("a1",)),
    AttackSpec(200.0, 250.0, "gamma", victim_ips=("v9",)),
)


@pytest.fixture(scope="module")
def packets_df(spark):
    return spark.createDataFrame(
        PACKETS, "timestamp double, src_ip string, dst_ip string"
    )


def expected_labels():
    return [
        ("a1", "v1", 100.0, "alpha", True),
        ("v1", "a1", 100.0, "alpha", False),
        ("a1", "x1", 150.0, "beta", True),   # last-wins over alpha? (alpha needs dst v1 — only beta matches)
        ("a2", "v1", 150.0, "alpha", True),  # beta window but a2 not beta attacker; fwd via alpha
        ("x1", "v9", 210.0, "gamma", False),  # victim-only labels, NO forward (fixed KeyError)
        ("v9", "x1", 210.0, "benign", False),
        ("a1", "v1", 300.0, "benign", False),
        ("x1", "x2", 100.0, "benign", False),
    ]


def test_label_attacks_semantics(packets_df):
    out = label_attacks(packets_df, ATTACKS).collect()
    got = {(r.src_ip, r.dst_ip, r.timestamp): (r.label, r.is_forward) for r in out}
    for src, dst, ts, label, fwd in expected_labels():
        assert got[(src, dst, ts)] == (label, fwd), (src, dst, ts)


def test_last_wins_precedence(spark):
    """Overlapping attacks: the LAST list entry must win
    (BytesProcessor.py:326-327)."""
    df = spark.createDataFrame([(10.0, "a", "v")], "timestamp double, src_ip string, dst_ip string")
    attacks = (
        AttackSpec(0.0, 20.0, "first", attacker_ips=("a",), victim_ips=("v",)),
        AttackSpec(5.0, 15.0, "second", attacker_ips=("a",), victim_ips=("v",)),
    )
    assert label_attacks(df, attacks).first().label == "second"
    # and in reverse declaration order
    assert label_attacks(df, attacks[::-1]).first().label == "first"


def test_empty_attack_list_is_noop(packets_df):
    out = label_attacks(packets_df, ()).collect()
    assert all(r.label == "benign" and r.is_forward is False for r in out)


def test_boundaries_inclusive(spark):
    """between() is inclusive at both ends (BytesProcessor.py:298,349)."""
    df = spark.createDataFrame(
        [(50.0, "a1", "v1"), (180.0, "a1", "v1"), (180.0000001, "a1", "v1")],
        "timestamp double, src_ip string, dst_ip string",
    )
    out = label_attacks(df, ATTACKS[:1]).orderBy("timestamp").collect()
    assert [r.label for r in out] == ["alpha", "alpha", "benign"]


def test_join_variant_matches_expression_variant(spark, packets_df):
    """label_attacks_join (broadcast non-equi join + max-idx pick) must
    agree with the when-chain on every row, including precedence."""
    expr_out = label_attacks(packets_df, ATTACKS)
    join_out = label_attacks_join(packets_df, attacks_to_df(spark, ATTACKS))
    cols = ["timestamp", "src_ip", "dst_ip", "label", "is_forward"]
    assert sorted(map(tuple, expr_out.select(cols).collect())) == sorted(
        map(tuple, join_out.select(cols).collect())
    )


def test_extract_ranges(spark):
    df = spark.createDataFrame([(float(t),) for t in range(0, 100, 10)], "timestamp double")
    out = extract_ranges(df, [(10, 30), (70, 80)])
    assert sorted(r.timestamp for r in out.collect()) == [10.0, 20.0, 30.0, 70.0, 80.0]
    # empty ranges -> no-op (reference crashed, SURVEY §3.4.3)
    assert extract_ranges(df, []).count() == 10


def test_extract_ranges_pushdown(spark, tmp_path):
    """The OR-of-between predicate must reach the parquet scan."""
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([(float(t),) for t in range(100)], "timestamp double").write.parquet(p)
    plan = extract_ranges(spark.read.parquet(p), [(10, 20)])._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual(timestamp,10.0)" in plan


# label_batch vs label_attacks: every rule on one frame.
BATCH_ATTACKS = ATTACKS + (
    AttackSpec(90.0, 110.0, "delta", attacker_ips=("v1",), victim_ips=("a1",)),  # overlaps alpha
    AttackSpec(0.0, 1000.0, "noise"),  # neither IP list: ignored
)
BATCH_PACKETS = PACKETS + [
    (150.0, "a1", "v1"),     # alpha and beta both match
    (50.0, "a1", "v1"),      # exactly alpha's ts_start
    (180.0, "a1", "x1"),     # exactly alpha/beta's ts_end
    (49.9999, "a1", "v1"),   # just outside
    (200.0, "x2", "v9"),     # exactly gamma's ts_start, victim-only
    (250.0, "x2", "v9"),     # exactly gamma's ts_end
    (250.0001, "x2", "v9"),  # just outside
]
BATCH_SPECS = {
    "all": BATCH_ATTACKS,
    "reversed": BATCH_ATTACKS[::-1],
    "empty": (),
    "victim_only": (ATTACKS[2],),
    "attacker_only": (ATTACKS[1],),
}


def test_label_batch_matches_label_attacks(spark):
    """The Arrow labeler agrees with the Catalyst when-chain row for row:
    last-wins overlaps (both orders), attacker-only / victim-only /
    neither IP list / no attacks, inclusive window ends, both traffic
    directions, and no forward rows from a victim-only spec."""
    import pyarrow as pa

    from functools import reduce

    import pyarrow as pa
    from pyspark.sql import DataFrame

    # Rows whose id is not a multiple of 3 carry a prior label, which an
    # unmatched row keeps.
    rows = [(i, ts, src, dst, "prior" if i % 3 else "benign") for i, (ts, src, dst) in enumerate(BATCH_PACKETS)]
    df = spark.createDataFrame(rows, "id int, timestamp double, src_ip string, dst_ip string, label string")
    batch = pa.RecordBatch.from_pylist(
        [dict(zip(["id", "timestamp", "src_ip", "dst_ip", "label"], r)) for r in rows],
        schema=pa.schema([("id", pa.int32()), ("timestamp", pa.float64()), ("src_ip", pa.string()),
                          ("dst_ip", pa.string()), ("label", pa.string())]),
    )
    labeled = {k: label_attacks(df, spec).withColumn("spec", F.lit(k)) for k, spec in BATCH_SPECS.items()}
    want = sorted(map(tuple, reduce(DataFrame.unionByName, labeled.values()).collect()))

    got = []
    for k, spec in BATCH_SPECS.items():
        out = label_batch(batch, spec)
        assert out.schema.names + ["spec"] == labeled[k].columns
        got += [r + (k,) for r in zip(*(c.to_pylist() for c in out.columns))]
    assert sorted(got) == want

    names = labeled["all"].columns
    at = {(r[-1],) + tuple(r[1:4]): dict(zip(names, r)) for r in want}
    assert at[("all", 150.0, "a1", "v1")]["label"] == "beta"  # alpha then beta: last wins
    assert at[("reversed", 150.0, "a1", "v1")]["label"] == "alpha"
    assert at[("all", 100.0, "a1", "v1")]["label"] == "delta"  # delta's reverse direction
    assert at[("reversed", 100.0, "a1", "v1")]["label"] == "alpha"
    assert at[("all", 50.0, "a1", "v1")]["label"] == "alpha" and at[("all", 180.0, "a1", "x1")]["is_forward"]
    assert at[("victim_only", 200.0, "x2", "v9")]["label"] == "gamma"
    assert at[("victim_only", 250.0001, "x2", "v9")]["label"] == "prior"  # just outside: keeps its prior label
    assert not any(r["is_forward"] for r in at.values() if r["spec"] == "victim_only")
