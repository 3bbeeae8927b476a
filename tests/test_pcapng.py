"""Pcapng container tests (reference roadmap item CONTRIBUTING.md:25,
never implemented there — BytesProcessor.py:18 is pcap-only).

The contract under test: a pcapng capture of the same frames parses to
EXACTLY the rows of its classic-pcap twin, through every read path
(whole-file, record-offset splits, the Python DataSource), for both
endiannesses, µs/ns/2^-n timestamp resolutions, multiple interfaces,
mid-section interface definitions, and truncated tails.
"""

from __future__ import annotations

import struct

import pytest

from bytesprocessor_spark.sources.pcap import (
    index_capture_chunks,
    iter_chunk_records,
    iter_pcap_records,
    parse_pcap_bytes,
    read_pcap,
    read_pcap_split,
    write_pcap,
)
from bytesprocessor_spark.sources import pcapng
from bytesprocessor_spark.sources.pcapng import (
    BT_EPB,
    BT_IDB,
    BT_SPB,
    iter_pcapng_records,
    write_pcapng,
)

from tests.test_pcap import make_fixture_pcap, reference_rows  # reuse the 12-packet corpus


def _fixture_packets(tmp_path):
    p = str(tmp_path / "twin.pcap")
    return make_fixture_pcap(p), p


def test_pcapng_matches_pcap_rows(tmp_path):
    pkts, pcap_path = _fixture_packets(tmp_path)
    ng_path = str(tmp_path / "x.pcapng")
    write_pcapng(ng_path, pkts)
    pcap_rows = list(parse_pcap_bytes(open(pcap_path, "rb").read()))
    ng_rows = list(parse_pcap_bytes(open(ng_path, "rb").read()))
    assert ng_rows == pcap_rows and len(ng_rows) == 9


@pytest.mark.parametrize("endian", ["<", ">"])
@pytest.mark.parametrize("tsresol", [None, 6, 9, 0x83])  # default/µs/ns/2^-3
def test_pcapng_endianness_and_tsresol(tmp_path, endian, tsresol):
    pkts = [(1000.5, b"\xaa" * 40), (1001.25, b"\xbb" * 64)]
    p = str(tmp_path / "e.pcapng")
    write_pcapng(p, pkts, endian=endian, tsresol=tsresol)
    got = list(iter_pcapng_records(open(p, "rb").read()))
    assert [g[1] for g in got] == [b"\xaa" * 40, b"\xbb" * 64]
    # 2^-3 ticks cannot represent .5/.25 worse than exactly; µs/ns exact.
    assert got[0][0] == pytest.approx(1000.5, abs=1e-6)
    assert got[1][0] == pytest.approx(1001.25, abs=1e-6)


def test_pcapng_multi_interface_resolutions(tmp_path):
    # iface 0 at µs, iface 1 at ns: same instant encodes differently.
    pkts = [(10.000001, b"A" * 20, 0), (10.000000001, b"B" * 20, 1)]
    p = str(tmp_path / "m.pcapng")
    write_pcapng(p, pkts, n_interfaces=2, iface_tsresol=[6, 9])
    got = list(iter_pcapng_records(open(p, "rb").read()))
    assert got[0][0] == pytest.approx(10.000001, abs=1e-7)
    assert got[1][0] == pytest.approx(10.000000001, abs=1e-9)


def test_pcapng_simple_packet_block_and_unknown_block(tmp_path):
    # Hand-build: SHB, IDB, unknown block (skipped), SPB (t=0.0).
    e = "<"
    frame = b"\xcc" * 32
    blocks = [
        pcapng._block(e, 0x0A0D0D0A, struct.pack(e + "IHHq", 0x1A2B3C4D, 1, 0, -1)),
        pcapng._block(e, BT_IDB, struct.pack(e + "HHI", 1, 0, 0)),
        pcapng._block(e, 0x0BAD, b"\x00" * 8),  # custom/unknown: skip
        pcapng._block(e, BT_SPB, struct.pack(e + "I", len(frame)) + frame),
    ]
    data = b"".join(blocks)
    got = list(iter_pcapng_records(data))
    assert got == [(0.0, frame)]


def test_pcapng_mid_section_idb(tmp_path):
    """An interface defined between packet blocks gets its own tsresol,
    and chunked parses replay that state change identically."""
    e = "<"
    shb = pcapng._block(e, 0x0A0D0D0A, struct.pack(e + "IHHq", 0x1A2B3C4D, 1, 0, -1))
    idb_us = pcapng._block(
        e, BT_IDB, struct.pack(e + "HHI", 1, 0, 0) + pcapng._opt(e, 9, b"\x06") + pcapng._opt(e, 0, b"")
    )
    idb_ns = pcapng._block(
        e, BT_IDB, struct.pack(e + "HHI", 1, 0, 0) + pcapng._opt(e, 9, b"\x09") + pcapng._opt(e, 0, b"")
    )

    def epb(iface, ticks, frame):
        body = struct.pack(
            e + "IIIII", iface, ticks >> 32, ticks & 0xFFFFFFFF, len(frame), len(frame)
        ) + frame
        return pcapng._block(e, BT_EPB, body)

    data = (
        shb
        + idb_us
        + epb(0, 2_500_000, b"P" * 24)          # 2.5 s at µs
        + idb_ns
        + epb(1, 3_000_000_000, b"Q" * 24)      # 3.0 s at ns
    )
    path = str(tmp_path / "mid.pcapng")
    with open(path, "wb") as f:
        f.write(data)

    whole = list(iter_pcapng_records(data))
    assert [(round(t, 9)) for t, _ in whole] == [2.5, 3.0]

    # Chunk at 1 packet per chunk: second chunk starts after the first
    # EPB, BEFORE idb_ns — its starting state has one interface, and
    # the in-chunk walker must append iface 1 when it meets idb_ns.
    chunks = list(index_capture_chunks(path, 1))
    assert len(chunks) == 2
    rows = []
    for _p, off, length, endian, frac_div, meta in chunks:
        assert meta.startswith("ng:")
        rows += list(iter_chunk_records(data[off : off + length], endian, frac_div, meta))
    assert rows == whole


def test_pcapng_truncated_tail(tmp_path):
    pkts, _ = _fixture_packets(tmp_path)
    p = str(tmp_path / "t.pcapng")
    write_pcapng(p, pkts)
    data = open(p, "rb").read()
    got = list(iter_pcapng_records(data[:-10]))  # cut into the final EPB
    assert len(got) == len(pkts) - 1


def test_pcapng_chunk_split_parity_pure(tmp_path):
    """index_capture_chunks + iter_chunk_records == whole-file stream,
    chunk sizes 1..5 (no Spark; exhaustive boundary coverage)."""
    pkts, _ = _fixture_packets(tmp_path)
    p = str(tmp_path / "s.pcapng")
    write_pcapng(p, pkts, tsresol=9)
    data = open(p, "rb").read()
    whole = list(iter_pcap_records(data))
    assert len(whole) == len(pkts)
    for split in range(1, 6):
        chunks = list(index_capture_chunks(p, split))
        rows = []
        for _pp, off, length, endian, frac_div, meta in chunks:
            rows += list(iter_chunk_records(data[off : off + length], endian, frac_div, meta))
        assert rows == whole, f"split={split}"
    # chunk ranges tile the packet region exactly (no gaps/overlap)
    chunks = list(index_capture_chunks(p, 3))
    for a, b in zip(chunks, chunks[1:]):
        assert a[1] + a[2] == b[1]


def test_pcapng_spark_read_paths(spark, tmp_path):
    """The whole-file read, the split reader, and the DataSource all
    agree on a pcapng input — and agree with a driver-side parse of
    the classic-pcap twin."""
    pkts, pcap_path = _fixture_packets(tmp_path)
    ng_path = str(tmp_path / "r.pcapng")
    write_pcapng(ng_path, pkts)

    twin = reference_rows(pcap_path)
    whole = sorted(map(tuple, read_pcap(spark, ng_path).collect()))
    split = sorted(map(tuple, read_pcap_split(spark, ng_path, split_packets=4).collect()))
    assert whole == twin and split == twin and len(twin) == 9

    from bytesprocessor_spark.sources.pcap_datasource import PcapDataSource

    spark.dataSource.register(PcapDataSource)
    via_ds = sorted(
        map(
            tuple,
            spark.read.format("pcap").option("split_packets", 4).load(ng_path).collect(),
        )
    )
    assert via_ds == twin
