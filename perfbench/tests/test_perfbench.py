"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import fixtures  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402


def _sha(path: Path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


def test_capture_is_a_function_of_the_seed(tmp_path):
    a = fixtures.make_capture(str(tmp_path / "a.pcap"), seed=7, n_packets=3000)
    b = fixtures.make_capture(str(tmp_path / "b.pcap"), seed=7, n_packets=3000)
    c = fixtures.make_capture(str(tmp_path / "c.pcap"), seed=8, n_packets=3000)
    assert a.manifest.sha256 == _sha(tmp_path / "a.pcap")
    assert a.manifest.sha256 == b.manifest.sha256
    assert a.manifest.sha256 != c.manifest.sha256


def test_lake_is_a_function_of_the_seed(tmp_path):
    tables = ("orders", "documents", "embeddings")
    fixtures.make_lake(str(tmp_path / "a"), 7, tables, scale=0.02)
    fixtures.make_lake(str(tmp_path / "b"), 7, tables, scale=0.02)
    fixtures.make_lake(str(tmp_path / "c"), 8, tables, scale=0.02)
    for t in tables:
        name = f"{t}.parquet"
        assert _sha(tmp_path / "a" / name) == _sha(tmp_path / "b" / name)
        assert _sha(tmp_path / "a" / name) != _sha(tmp_path / "c" / name)


@pytest.mark.parametrize("seed", [1, 2])
def test_manifest_matches_an_independent_recount(tmp_path, seed):
    from bytesprocessor_spark.sources.pcap import iter_pcap_records, parse_frame

    cap = fixtures.make_capture(str(tmp_path / "c.pcap"), seed=seed, n_packets=5000)
    m = cap.manifest
    records = parsed = in_range = attack = forward = 0
    for ts, frame in iter_pcap_records((tmp_path / "c.pcap").read_bytes()):
        records += 1
        row = parse_frame(ts, frame)
        if row is None:
            continue
        parsed += 1
        if not m.range_start <= row["timestamp"] <= m.range_end:
            continue
        in_range += 1
        if m.attack_start <= row["timestamp"] <= m.attack_end:
            pair = {row["src_ip"], row["dst_ip"]} == {fixtures.ATTACKER, fixtures.VICTIM}
            attack += pair
            forward += pair and row["src_ip"] == fixtures.ATTACKER
    assert records == m.records
    assert parsed == m.parsed_rows
    assert records - parsed == m.drop_non_ip + m.drop_icmp + m.drop_trunc_tcp
    assert m.drop_share == pytest.approx(
        fixtures.SHARE_NON_IP + fixtures.SHARE_ICMP + fixtures.SHARE_TRUNC_TCP, abs=0
    )
    assert in_range == m.in_range_rows
    assert parsed - in_range == m.out_of_range
    assert attack == m.attack_rows and attack > 0
    assert forward == m.forward_rows and forward > 0


def test_char5_pairs_equal_the_duckdb_oracle(tmp_path):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bytesprocessor_spark.queries import ORACLE
    from workloads import char5_jaccard_pairs

    docs = fixtures.lake_tables(3, scale=0.06)["documents"].select(["doc_id", "text"]).to_pandas()
    # edge cases: shorter than one 5-gram, case, a pair at exactly 0.9
    extra = ["abc", "ABC", "abcdefghijklmn", "abcdefghijklmnX"]
    extra_ids = range(len(docs) + 10, len(docs) + 10 + len(extra))
    docs = docs._append([{"doc_id": i, "text": t} for i, t in zip(extra_ids, extra)], ignore_index=True)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path / 'documents.parquet'}')")
    want = set(con.execute(ORACLE["dedup_minhash_verified"]).fetchall())
    got = set(map(tuple, char5_jaccard_pairs(docs, 0.9).itertuples(index=False)))
    assert got == want
    assert len(want) > 10 and (extra_ids[0], extra_ids[1]) in want and (extra_ids[2], extra_ids[3]) in want


def test_expected_features_match_the_engine_kernel():
    import pandas as pd

    from bytesprocessor_spark.functions.bytes import features_matrix

    rng = np.random.default_rng(0)
    payloads = [rng.bytes(n) for n in (0, 1, 40, 1524, 1525, 1526, 3000)]
    got = features_matrix(pd.Series(payloads))
    for p, row in zip(payloads, got):
        assert np.array_equal(row, fixtures.expected_features(p))


def test_metric_names_equal_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    out = run._result(3, 0, dict.fromkeys(run.END_TO_END, 1.0), run.END_TO_END)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert set(out["metrics"]) == set(run.END_TO_END)


def test_workloads_in_benchmark_json_exist():
    from workloads import WORKLOADS

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    value, pct, n = harness.tail(xs)
    assert (pct, n) == (90, 100)
    assert sum(x > value for x in xs) == 10
    assert harness.tail([3.0, 1.0, 2.0]) == (2.0, 50, 3)


def test_tracer_self_time_subtracts_children():
    tr = harness.Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    tr.spans[0].start, tr.spans[0].end = 0.0, 10.0
    tr.spans[1].start, tr.spans[1].end = 2.0, 5.0
    assert tr.self_times() == {"outer": 7.0, "inner": 3.0}
