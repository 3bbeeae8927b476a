"""Pcap source + pipeline tests (SURVEY §5.2: golden fixtures built
with our writer; expected values hand-derived from the wire format, so
parse/anonymize/featurize parity is pinned without a packet library).

Fixture coverage mirrors FIXTURES.md §C: TCP, UDP, a non-IP frame, a
non-TCP/UDP IP packet, a malformed/truncated packet, payloads shorter
and longer than the 1525-byte feature width, packets inside/outside
attack windows in both directions.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from bytesprocessor_spark.functions.bytes import FEATURE_WIDTH, bytes_to_features
from bytesprocessor_spark.operators.labeling import AttackSpec
from bytesprocessor_spark.pipeline import process_pcap, with_features
from bytesprocessor_spark.sources.pcap import (
    PACKET_SCHEMA,
    iter_pcap_records,
    parse_frame,
    parse_pcap_bytes,
    read_pcap,
    write_pcap,
)
from pyspark.sql import functions as F


def eth(dst=b"\x02" * 6, src=b"\x01" * 6, eth_type=0x0800, payload=b""):
    return dst + src + struct.pack(">H", eth_type) + payload


def ipv4(src: str, dst: str, proto: int, l4: bytes, ttl=64, ident=1, frag=0):
    total = 20 + len(l4)
    hdr = struct.pack(
        ">BBHHHBBH4s4s",
        0x45,
        0,
        total,
        ident,
        frag,
        ttl,
        proto,
        0xBEEF,  # deliberate non-zero (stale) checksum — must survive anonymization
        bytes(int(x) for x in src.split(".")),
        bytes(int(x) for x in dst.split(".")),
    )
    return hdr + l4


def tcp(sport, dport, data=b""):
    return struct.pack(">HHIIBBHHH", sport, dport, 0, 0, 0x50, 0x18, 8192, 0xCAFE, 0) + data


def udp(sport, dport, data=b""):
    return struct.pack(">HHHH", sport, dport, 8 + len(data), 0xFACE) + data


def make_fixture_pcap(path: str):
    """12 packets: indices/roles documented inline."""
    pkts = [
        # 0: TCP attacker->victim inside window  (ts 1000.5)
        (1000.5, eth(payload=ipv4("10.0.0.1", "10.0.0.2", 6, tcp(1234, 80, b"AAA")))),
        # 1: TCP victim->attacker inside window (reverse direction)
        (1001.0, eth(payload=ipv4("10.0.0.2", "10.0.0.1", 6, tcp(80, 1234, b"BBB")))),
        # 2: UDP bystander inside window
        (1002.0, eth(payload=ipv4("10.0.0.9", "10.0.0.8", 17, udp(53, 5353, b"q")))),
        # 3: TCP outside every extraction range (dropped by P3)
        (5000.0, eth(payload=ipv4("10.0.0.1", "10.0.0.2", 6, tcp(1234, 80)))),
        # 4: non-IP frame (ARP) — dropped by parse
        (1003.0, eth(eth_type=0x0806, payload=b"\x00" * 28)),
        # 5: ICMP (non-TCP/UDP) — dropped by parse
        (1004.0, eth(payload=ipv4("10.0.0.1", "10.0.0.2", 1, b"\x08\x00\x00\x00"))),
        # 6: malformed (truncated IP header) — skipped
        (1005.0, eth(payload=b"\x45\x00\x00")),
        # 7: oversize payload (> FEATURE_WIDTH) — truncated by F1
        (1006.0, eth(payload=ipv4("10.0.0.5", "10.0.0.6", 6, tcp(1, 2, b"Z" * 2000)))),
        # 8: empty-payload UDP
        (1007.0, eth(payload=ipv4("10.0.0.5", "10.0.0.6", 17, udp(9, 10)))),
        # 9: VLAN-tagged TCP inside window
        (
            1008.0,
            eth(eth_type=0x8100)
            + struct.pack(">HH", 5, 0x0800)
            + ipv4("10.0.0.3", "10.0.0.2", 6, tcp(1111, 443, b"V")),
        ),
        # 10: second attack window, attacker2 -> victim2
        (2000.0, eth(payload=ipv4("10.0.1.1", "10.0.1.2", 6, tcp(4444, 22, b"ssh")))),
        # 11: in-window TCP from attacker to NON-victim (src-only fwd)
        (1009.0, eth(payload=ipv4("10.0.0.1", "10.0.0.9", 6, tcp(1234, 81, b"X")))),
    ]
    write_pcap(path, pkts)
    return pkts


ATTACKS = (
    AttackSpec(900.0, 1500.0, "bruteforce", attacker_ips=("10.0.0.1",), victim_ips=("10.0.0.2",)),
    AttackSpec(1900.0, 2100.0, "infiltration", attacker_ips=("10.0.1.1",), victim_ips=("10.0.1.2",)),
)
RANGES = ((900.0, 1500.0), (1900.0, 2100.0))


def reference_rows(path: str) -> list[tuple]:
    """The driver-side pure-Python parse of a whole capture, as sorted
    PACKET_SCHEMA tuples: the oracle the Spark readers are held to."""
    cols = [f.name for f in PACKET_SCHEMA.fields]
    with open(path, "rb") as f:
        return sorted(tuple(r[c] for c in cols) for r in parse_pcap_bytes(f.read()))


def reference_features(payload: bytes, width: int) -> np.ndarray:
    """Per-row numpy pad/truncate/scale (BytesProcessor.py:270-286)."""
    row = np.zeros(width, dtype=np.uint8)
    a = np.frombuffer(payload, dtype=np.uint8)[:width]
    row[: len(a)] = a
    return row / np.float32(255)


def test_iter_pcap_records_roundtrip(tmp_path):
    p = str(tmp_path / "x.pcap")
    pkts = make_fixture_pcap(p)
    got = list(iter_pcap_records(open(p, "rb").read()))
    assert len(got) == len(pkts)
    assert got[0][0] == pytest.approx(1000.5, abs=1e-6)
    assert got[0][1] == pkts[0][1]


def test_iter_pcap_truncated_tail(tmp_path):
    p = str(tmp_path / "t.pcap")
    make_fixture_pcap(p)
    data = open(p, "rb").read()
    got = list(iter_pcap_records(data[:-10]))  # cut into the last record
    assert len(got) == 11  # tail record dropped, no exception (BP:96-104)


def test_parse_frame_fields():
    frame = eth(payload=ipv4("10.0.0.1", "10.0.0.2", 6, tcp(1234, 80, b"AAA")))
    row = parse_frame(1000.5, frame)
    assert row["src_ip"] == "10.0.0.1" and row["dst_ip"] == "10.0.0.2"
    assert row["src_port"] == 1234 and row["dst_port"] == 80
    assert row["protocol"] == "6" and row["label"] == "benign"
    # anonymization: addresses + ports zeroed IN the bytes, stale
    # checksum (0xBEEF) preserved, payload data intact (BP:258-268)
    pl = row["payload"]
    assert pl[12:20] == b"\x00" * 8
    assert pl[20:24] == b"\x00" * 4
    assert pl[10:12] == b"\xbe\xef"
    assert pl.endswith(b"AAA")
    assert len(pl) == 20 + 20 + 3


def test_parse_frame_drops():
    assert parse_frame(0, eth(eth_type=0x0806, payload=b"\x00" * 28)) is None  # ARP
    assert parse_frame(0, eth(payload=ipv4("1.2.3.4", "5.6.7.8", 1, b"\x00" * 4))) is None  # ICMP
    assert parse_frame(0, eth(payload=b"\x45\x00\x00")) is None  # truncated
    assert parse_frame(0, b"\x00" * 5) is None  # runt frame


def test_parse_frame_vlan():
    frame = (
        eth(eth_type=0x8100)
        + struct.pack(">HH", 5, 0x0800)
        + ipv4("10.0.0.3", "10.0.0.2", 6, tcp(1111, 443, b"V"))
    )
    row = parse_frame(0, frame)
    assert row is not None and row["src_ip"] == "10.0.0.3" and row["dst_port"] == 443


def test_read_pcap_spark(spark, tmp_path):
    p = str(tmp_path / "f.pcap")
    make_fixture_pcap(p)
    df = read_pcap(spark, p)
    rows = df.collect()
    # 12 packets - ARP - ICMP - malformed = 9 parsed
    assert len(rows) == 9
    assert df.columns == [
        "timestamp", "src_ip", "dst_ip", "src_port", "dst_port", "protocol", "payload", "label",
    ]
    protos = {r.protocol for r in rows}
    assert protos == {"6", "17"}


def test_read_pcap_split_matches_whole_file(spark, tmp_path):
    """The record-offset split reader must produce exactly the rows of
    a driver-side whole-file parse (and no sub-chunk duplication — the
    reference bug at BytesProcessor.py:196-205 that SURVEY §3.4.4
    bans)."""
    from bytesprocessor_spark.sources.pcap import index_pcap_chunks, read_pcap_split

    p = str(tmp_path / "s.pcap")
    make_fixture_pcap(p)
    whole = reference_rows(p)
    split = sorted(map(tuple, read_pcap_split(spark, p, split_packets=4).collect()))
    assert split == whole and len(split) == 9
    chunks = list(index_pcap_chunks(p, 4))
    assert len(chunks) == 3  # 12 records / 4 per chunk
    assert sum(c[2] for c in chunks) + 24 == (tmp_path / "s.pcap").stat().st_size


def test_with_features_pad_truncate_scale(spark):
    df = spark.createDataFrame(
        [(b"\x00\xff\x80",), (b"",), (b"Z" * 2000,)], "payload binary"
    )
    out = with_features(df, width=10).collect()
    a0 = out[0].features
    assert len(a0) == 10
    assert a0[0] == 0.0 and a0[1] == 1.0
    assert a0[2] == np.float32(0x80) / np.float32(255)
    assert a0[3:] == [0.0] * 7
    assert out[1].features == [0.0] * 10
    a2 = out[2].features
    assert len(a2) == 10 and all(v == np.float32(ord("Z")) / np.float32(255) for v in a2)


def test_sql_features_match_numpy(spark):
    """The pure-SQL F1 expression and the Arrow/numpy path must agree
    for every possible byte value."""
    data = bytes(range(256))
    df = spark.createDataFrame([(data,)], "payload binary")
    sql_row = df.select(bytes_to_features(F.col("payload"), 300).alias("f")).collect()[0]
    np_row = with_features(df, width=300).collect()[0]
    expected = np.zeros(300, dtype=np.uint8)
    expected[:256] = np.frombuffer(data, dtype=np.uint8)
    expected = expected / np.float32(255)
    assert np.allclose(sql_row.f, expected, atol=0)
    assert np.allclose(np_row.features, expected, atol=0)


def test_process_pcap_end_to_end(spark, tmp_path):
    pcap = str(tmp_path / "cap.pcap")
    make_fixture_pcap(pcap)
    out = str(tmp_path / "out")
    data_dir, adv_dir = process_pcap(
        spark, pcap, out, attacks=ATTACKS, ranges=RANGES, feature_width=64
    )
    data = spark.read.parquet(data_dir).orderBy("timestamp").collect()
    # in-range parsed packets: 0,1,2,7(no:1006 in 900-1500 yes),8,9,11 in range1; 10 in range2
    assert [round(r.timestamp, 1) for r in data] == [
        1000.5, 1001.0, 1002.0, 1006.0, 1007.0, 1008.0, 1009.0, 2000.0,
    ]
    by_ts = {round(r.timestamp, 1): r for r in data}
    assert by_ts[1000.5].label == "bruteforce" and by_ts[1000.5].is_forward
    assert by_ts[1001.0].label == "bruteforce" and not by_ts[1001.0].is_forward  # reverse dir
    assert by_ts[1002.0].label == "benign" and not by_ts[1002.0].is_forward
    assert by_ts[1009.0].label == "benign" and by_ts[1009.0].is_forward  # fwd w/o victim dst
    assert by_ts[2000.0].label == "infiltration" and by_ts[2000.0].is_forward
    assert all(len(r.features) == 64 for r in data)

    adv = spark.read.parquet(adv_dir).collect()
    assert sorted(round(r.timestamp, 1) for r in adv) == [1000.5, 1009.0, 2000.0]


def test_process_pcap_widen(spark, tmp_path):
    pcap = str(tmp_path / "w.pcap")
    make_fixture_pcap(pcap)
    out = str(tmp_path / "wide")
    data_dir, _ = process_pcap(
        spark, pcap, out, attacks=ATTACKS, ranges=RANGES, feature_width=32, widen=True
    )
    df = spark.read.parquet(data_dir)
    assert "byte(0)" in df.columns and "byte(31)" in df.columns
    assert "features" not in df.columns
    row = df.where(F.col("is_forward")).orderBy("timestamp").first()
    assert row["byte(0)"] == np.float32(0x45) / np.float32(255)  # IP version/IHL byte


def test_empty_attacks_and_ranges_noop(spark, tmp_path):
    """Fixed semantics (SURVEY §3.4.3): empty specs are no-ops, not
    crashes like the reference's empty reduce (BP:331,352)."""
    pcap = str(tmp_path / "e.pcap")
    make_fixture_pcap(pcap)
    out = str(tmp_path / "eo")
    data_dir, adv_dir = process_pcap(spark, pcap, out, attacks=(), ranges=(), feature_width=16)
    data = spark.read.parquet(data_dir)
    assert data.count() == 9  # all parsed packets kept
    assert data.where(F.col("label") != "benign").count() == 0
    assert spark.read.parquet(adv_dir).count() == 0


def test_fragment_and_truncated_l4_dropped():
    """dpkt parity: non-first fragments (MF flag or offset bits set)
    keep ip.data as raw bytes in dpkt, and truncated TCP/UDP headers
    raise NeedData — the reference drops both (BP:238, BP:251-253).
    Misreading a fragment's first 4 payload bytes as ports would
    fabricate flows on real captures."""
    ok = parse_frame(1.0, eth(payload=ipv4("10.0.0.1", "10.0.0.2", 6, tcp(1234, 80))))
    assert ok is not None and ok["src_port"] == 1234

    # more-fragments flag set (first fragment)
    assert parse_frame(1.0, eth(payload=ipv4("10.0.0.1", "10.0.0.2", 6, tcp(1234, 80), frag=0x2000))) is None
    # non-first fragment (offset 8*185) whose payload starts with junk
    assert parse_frame(1.0, eth(payload=ipv4("10.0.0.1", "10.0.0.2", 6, b"\x04\xd2\x00\x50rest", frag=0x00B9))) is None
    # TCP header truncated below 20 bytes
    assert parse_frame(1.0, eth(payload=ipv4("10.0.0.1", "10.0.0.2", 6, tcp(1234, 80)[:10]))) is None
    # TCP data-offset promises options beyond the capture
    short_opts = bytearray(tcp(1234, 80))
    short_opts[12] = 0x70  # doff = 28 bytes, only 20 captured
    assert parse_frame(1.0, eth(payload=ipv4("10.0.0.1", "10.0.0.2", 6, bytes(short_opts)))) is None
    # UDP header truncated below 8 bytes
    assert parse_frame(1.0, eth(payload=ipv4("10.0.0.1", "10.0.0.2", 17, udp(53, 53)[:6]))) is None
    # UDP exactly 8 bytes still parses
    u = parse_frame(1.0, eth(payload=ipv4("10.0.0.1", "10.0.0.2", 17, udp(53, 53))))
    assert u is not None and u["dst_port"] == 53


def test_pcap_datasource_matches_readers(spark, tmp_path):
    """The Python DataSource must produce exactly the rows of a
    driver-side whole-file parse (same split-parity contract as
    read_pcap_split), honoring the split_packets option."""
    from bytesprocessor_spark.sources.pcap_datasource import PcapDataSource

    p = str(tmp_path / "ds.pcap")
    make_fixture_pcap(p)
    spark.dataSource.register(PcapDataSource)
    via_ds = sorted(
        map(tuple, spark.read.format("pcap").option("split_packets", 4).load(p).collect())
    )
    whole = reference_rows(p)
    assert via_ds == whole and len(via_ds) == 9

    # empty capture -> zero rows, no failure
    empty = str(tmp_path / "empty.pcap")
    write_pcap(empty, [])
    assert spark.read.format("pcap").load(empty).count() == 0


def test_feature_kernel_matches_per_row_reference():
    """features_array (the readers' flat-buffer column) and
    features_matrix (its row view) equal the per-row numpy reference
    exactly, on both sides of each width."""
    import pyarrow as pa

    from bytesprocessor_spark.functions.bytes import features_array, features_matrix

    rng = np.random.default_rng(7)
    payloads = [rng.bytes(n) for n in (0, 1, 1524, 1525, 1526, 3000)]
    for width in (1525, 10):
        arr = features_array(payloads, width)
        assert arr.type == pa.list_(pa.float32()) and arr.offsets.type == pa.int32()
        rows = features_matrix(payloads, width)
        for p, got, row in zip(payloads, arr.to_pylist(), rows):
            want = reference_features(p, width)
            assert np.array_equal(np.array(got, dtype=np.float32), want)
            assert row.dtype == np.float32 and np.array_equal(row, want)


def test_builder_batches_at_most_batch_size(tmp_path):
    """The builder flushes every batch_size rows, also across split
    boundaries, and the batches concatenate to one unbatched build."""
    import pyarrow as pa

    from bytesprocessor_spark.sources.pcap import chunk_batches, index_capture_chunks, packet_batches

    p = str(tmp_path / "b.pcap")
    make_fixture_pcap(p)
    batches = [
        b
        for chunk in index_capture_chunks(p, 4)
        for b in chunk_batches(chunk, features=True, feature_width=16, batch_size=3)
    ]
    assert batches and all(b.num_rows <= 3 for b in batches)
    with open(p, "rb") as f:
        whole = list(
            packet_batches(iter_pcap_records(f.read()), features=True, feature_width=16, batch_size=10**6)
        )
    assert len(whole) == 1 and whole[0].num_rows == 9
    assert pa.Table.from_batches(batches).equals(pa.Table.from_batches(whole))


def test_readers_emit_exact_features(spark, tmp_path):
    """Every reader path's features equal the per-row numpy reference
    bit for bit — payloads around both widths, classic pcap and
    pcapng, 1 / 4 / more-than-all records per split — in one job."""
    import functools
    from collections import Counter

    from bytesprocessor_spark.sources.pcapng import write_pcapng
    from pyspark.sql import DataFrame

    body = bytes(range(1, 256)) * 12
    # UDP data lengths; the payload column is the 28-byte IP+UDP header
    # plus the data, so 1496-1498 put it at 1524-1526.
    pkts = [
        (1000.0 + i, eth(payload=ipv4("10.0.0.1", "10.0.0.2", 17, udp(53, 54, body[:n]))))
        for i, n in enumerate((0, 1, 1496, 1497, 1498, 1524, 1525, 1526, 3000))
    ]
    pcap, ng = str(tmp_path / "f.pcap"), str(tmp_path / "f.pcapng")
    write_pcap(pcap, pkts)
    write_pcapng(ng, pkts)
    parts = [
        read_pcap(spark, path, split_packets=sp, features=True, feature_width=w).select(
            F.lit(f"{path}|{sp}|{w}").alias("tag"), "payload", "features"
        )
        for path in (pcap, ng)
        for sp in (1, 4, 100)
        for w in (1525, 10)
    ]
    rows = functools.reduce(DataFrame.unionByName, parts).collect()
    assert set(Counter(r.tag for r in rows).values()) == {len(pkts)} and len(rows) == 12 * len(pkts)
    for r in rows:
        want = reference_features(bytes(r.payload), int(r.tag.rsplit("|", 1)[1]))
        assert np.array_equal(np.array(r.features, dtype=np.float32), want)
    assert {1524, 1525, 1526} <= {len(r.payload) for r in rows}


# ---------------------------------------------------------------------------
# Extended protocol support (reference roadmap, CONTRIBUTING.md:27):
# opt-in ICMP/ICMPv6/SCTP/IPv6; default mode keeps the dpkt drop set.
# ---------------------------------------------------------------------------

def _ip6(src: bytes, dst: bytes, nxt: int, payload: bytes, hops=64):
    return struct.pack(">IHBB", 0x60000000, len(payload), nxt, hops) + src + dst + payload


def test_extended_mode_parses_icmp_v4():
    frame = eth(payload=ipv4("10.0.0.1", "10.0.0.2", 1, b"\x08\x00\x12\x34"))
    assert parse_frame(1.0, frame) is None  # parity mode drops (BP:238)
    row = parse_frame(1.0, frame, extended=True)
    assert row is not None
    assert (row["protocol"], row["src_port"], row["dst_port"]) == ("1", 8, 0)
    # anonymization zeroes addresses but NOT the ICMP type/code bytes
    assert row["payload"][12:20] == b"\x00" * 8
    assert row["payload"][20:22] == b"\x08\x00"


def test_extended_mode_parses_sctp_v4():
    sctp = struct.pack(">HHII", 5000, 80, 0xDEADBEEF, 0) + b"\x00" * 8
    frame = eth(payload=ipv4("10.0.0.3", "10.0.0.4", 132, sctp))
    assert parse_frame(1.0, frame) is None
    row = parse_frame(1.0, frame, extended=True)
    assert (row["protocol"], row["src_port"], row["dst_port"]) == ("132", 5000, 80)
    assert row["payload"][20:24] == b"\x00" * 4  # ports anonymized


def test_extended_mode_parses_ipv6_tcp_with_ext_header():
    src = bytes(range(16))
    dst = bytes(range(16, 32))
    # hop-by-hop ext header (nxt=TCP, hel=0 -> 8 bytes) then TCP
    hbh = struct.pack(">BB6x", 6, 0)
    frame = eth(eth_type=0x86DD, payload=_ip6(src, dst, 0, hbh + tcp(443, 9999, b"x")))
    assert parse_frame(1.0, frame) is None  # v4-only parity mode
    row = parse_frame(1.0, frame, extended=True)
    assert row["protocol"] == "6"
    assert (row["src_port"], row["dst_port"]) == (443, 9999)
    assert row["src_ip"] == "1:203:405:607:809:a0b:c0d:e0f"
    assert row["dst_ip"] == "1011:1213:1415:1617:1819:1a1b:1c1d:1e1f"
    # addresses zeroed, TCP ports zeroed (past the 8-byte ext header)
    assert row["payload"][8:40] == b"\x00" * 32
    assert row["payload"][48:52] == b"\x00" * 4


def test_extended_mode_icmp6_and_fragment_drop():
    src, dst = b"\x20" * 16, b"\x30" * 16
    row = parse_frame(
        1.0,
        eth(eth_type=0x86DD, payload=_ip6(src, dst, 58, b"\x80\x00\x00\x00")),
        extended=True,
    )
    assert (row["protocol"], row["src_port"], row["dst_port"]) == ("58", 128, 0)
    # non-first fragment (offset != 0): dropped
    frag = struct.pack(">BBHI", 6, 0, 0x0008, 1) + tcp(1, 2)
    assert parse_frame(1.0, eth(eth_type=0x86DD, payload=_ip6(src, dst, 44, frag)), extended=True) is None
    # first fragment (offset 0): parsed
    frag0 = struct.pack(">BBHI", 6, 0, 0x0001, 1) + tcp(7, 8)
    row0 = parse_frame(1.0, eth(eth_type=0x86DD, payload=_ip6(src, dst, 44, frag0)), extended=True)
    assert (row0["src_port"], row0["dst_port"]) == (7, 8)


def test_extended_mode_end_to_end(spark, tmp_path):
    """extended=True through read_pcap + the DataSource option."""
    p = str(tmp_path / "ext.pcap")
    pkts = [
        (1.0, eth(payload=ipv4("10.0.0.1", "10.0.0.2", 6, tcp(1, 2, b"t")))),
        (2.0, eth(payload=ipv4("10.0.0.1", "10.0.0.2", 1, b"\x08\x00\x00\x00"))),
        (3.0, eth(eth_type=0x86DD, payload=_ip6(b"\x01" * 16, b"\x02" * 16, 17, udp(53, 54, b"d")))),
    ]
    write_pcap(p, pkts)
    assert read_pcap(spark, p).count() == 1
    ext = read_pcap(spark, p, extended=True)
    assert sorted(r.protocol for r in ext.collect()) == ["1", "17", "6"]

    from bytesprocessor_spark.sources.pcap_datasource import PcapDataSource

    spark.dataSource.register(PcapDataSource)
    via_ds = (
        spark.read.format("pcap")
        .option("split_packets", 2)
        .option("extended", "true")
        .load(p)
    )
    assert sorted(r.protocol for r in via_ds.collect()) == ["1", "17", "6"]
