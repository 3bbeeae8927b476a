"""Pcap source (SURVEY §2.1 S1-S2, §2.2 P1-P2).

A self-contained libpcap/pcapng reader + Ethernet/IPv4/TCP/UDP
decoder (the runtime has no packet library).  Every pcap path —
:func:`read_pcap`, the ``pcap`` DataSource, the streaming pipeline and
``pipeline.process_pcap`` — parses through one batch builder,
:func:`packet_batches`, which decodes a whole chunk columnarly: the
record walker runs once to a table of record offsets, every header
field is a bounds-checked numpy gather over the chunk's buffer, every
keep/drop decision is a mask, and the anonymized payloads are cut from
the buffer by one Arrow ``take``.  It emits ``pyarrow.RecordBatch``
directly: typed column arrays plus, when asked, the ``features``
column wrapped around one flat float32 buffer
(``functions.bytes.features_array``).  :func:`parse_frame` (one dict
per frame) stays as the per-frame reference the builder is tested
against; of the program, only :func:`parse_pcap_bytes` calls it.

Parity with the reference parser (BytesProcessor.py:211-268):
  * non-IP frames dropped (BP:222-223), non-TCP/UDP dropped
    (BP:238-239), malformed packets skipped per-row (BP:251-253);
  * ``protocol`` is the string "6"/"17" (BP:229,234), timestamp a
    float-seconds double (BP:227,345), label starts "benign" (BP:249);
  * anonymization zeroes ip.src/ip.dst and the TCP/UDP ports in the
    serialized IP layer and keeps the original (now stale) checksums —
    byte-for-byte what dpkt emits when fields are reassigned and the
    stored checksum is non-zero (BP:258-268).

Each container format has one record walker over a buffer
(:func:`walk_pcap`, ``pcapng.walk_pcapng``), picked by the file magic
in one place (:func:`_start`).  Scale posture: the driver runs the
walker over a read-only ``mmap`` of each capture and cuts it into
byte-range chunks of whole records, each carrying the walker state at
its start; each task range-reads its chunks and resumes the same
walker there.  The driver releases each chunk's pages once it is
walked, so nothing ever holds a whole file in memory, a single huge
capture spreads over every core, and every file of a many-file lake
is at least one chunk.
"""

from __future__ import annotations

import functools
import mmap
import os
import struct
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from bytesprocessor_spark.functions.bytes import FEATURE_WIDTH, features_array
from bytesprocessor_spark.sources.pcapng import BT_SHB, walk_pcapng

# Output schema of the parse step (SURVEY §1.2).
PACKET_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.DoubleType(), False),
        T.StructField("src_ip", T.StringType(), False),
        T.StructField("dst_ip", T.StringType(), False),
        T.StructField("src_port", T.IntegerType(), False),
        T.StructField("dst_port", T.IntegerType(), False),
        T.StructField("protocol", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("label", T.StringType(), False),
    ]
)

_MAGIC_US_LE = 0xA1B2C3D4
# Classic-pcap magic as read little-endian -> (struct endianness,
# fractional-part divisor): µs and ns magics, both byte orders.
_PCAP_MAGICS = {
    _MAGIC_US_LE: ("<", 1e6),
    0xD4C3B2A1: (">", 1e6),
    0xA1B23C4D: ("<", 1e9),
    0x4D3CB2A1: (">", 1e9),
}

ETH_TYPE_IP = 0x0800
ETH_TYPE_IP6 = 0x86DD
ETH_TYPE_VLAN = 0x8100
PROTO_ICMP = 1
PROTO_TCP = 6
PROTO_UDP = 17
PROTO_ICMP6 = 58
PROTO_SCTP = 132
# IPv6 extension headers walked (not terminal): hop-by-hop, routing,
# destination options, mobility.  Fragment (44) is handled specially.
_IP6_EXT = frozenset({0, 43, 60, 135})
_IP6_FRAG = 44


def walk_pcap(buf, off: int, state: tuple) -> Iterator[tuple[float, int, int, int, tuple]]:
    """The classic-pcap record walker: from record boundary ``off`` of
    ``buf`` (``bytes`` or ``mmap``) with ``state`` = (endian,
    fractional-part divisor), yield (timestamp_seconds, frame_start,
    frame_end, next_offset, state) for every complete record.  A
    truncated trailing record ends the walk silently (the reference
    flushes on EOFError the same way, BytesProcessor.py:96-104)."""
    endian, frac_div = state
    rec_hdr = struct.Struct(endian + "IIII")
    n = len(buf)
    while off + 16 <= n:
        ts_sec, ts_frac, incl_len, _orig_len = rec_hdr.unpack_from(buf, off)
        start = off + 16
        off = start + incl_len
        if off > n:
            return
        yield ts_sec + ts_frac / frac_div, start, off, off, state


def _start(head) -> tuple[Callable, int, tuple]:
    """(walker, first record offset, walker state) for a capture whose
    first bytes are ``head`` — the one place the format magic is read.
    Classic pcap (both endiannesses, µs/ns magics) and pcapng
    (dispatched on the Section Header Block magic, the format the
    reference's roadmap asks for, CONTRIBUTING.md:25, but never got)."""
    (magic,) = struct.unpack_from("<I", head, 0)
    if magic == BT_SHB:  # same bytes either endianness
        return walk_pcapng, 0, (None, ())
    if magic not in _PCAP_MAGICS:
        raise ValueError(f"not a capture file (magic {magic:#x} is neither pcap nor pcapng)")
    return walk_pcap, 24, _PCAP_MAGICS[magic]


def iter_pcap_records(data: bytes) -> Iterator[tuple[float, bytes]]:
    """Yield (timestamp_seconds, frame_bytes) from a whole capture's
    raw bytes, classic pcap or pcapng."""
    if len(data) < 24:
        return
    walk, off, state = _start(data)
    for ts, start, end, _, _ in walk(data, off, state):
        yield ts, data[start:end]


def write_pcap(path: str, packets: Iterable[tuple[float, bytes]]) -> None:
    """Write a µs-precision little-endian pcap (test fixtures, bench
    data generation)."""
    with open(path, "wb") as f:
        f.write(struct.pack("<IHHiIII", _MAGIC_US_LE, 2, 4, 0, 0, 65535, 1))
        for ts, buf in packets:
            sec = int(ts)
            usec = int(round((ts - sec) * 1e6))
            if usec >= 1_000_000:  # fraction rounded up to a full second
                sec, usec = sec + 1, 0
            f.write(struct.pack("<IIII", sec, usec, len(buf), len(buf)))
            f.write(buf)


def parse_frame(ts: float, frame: bytes, extended: bool = False) -> dict | None:
    """Ethernet -> IPv4 -> TCP/UDP decode of one frame; None for frames
    the reference drops (non-IP, non-TCP/UDP) and for every malformed
    frame — where the reference catches dpkt's per-packet exception
    (BP:251-253), every length this decode indexes is checked first,
    so it never raises.  The per-frame reference for the columnar
    decode in :func:`packet_batches`, which must emit exactly its rows.

    ``extended=True`` opts into the reference roadmap's "Extended
    Protocol Support" (CONTRIBUTING.md:27): IPv6 frames (with
    extension-header walk), ICMP/ICMPv6 (type/code carried in
    src_port/dst_port — documented encoding; there are no ports), and
    SCTP.  Default False == exact dpkt-parity drop set.
    """
    if len(frame) < 14:
        return None
    eth_type = (frame[12] << 8) | frame[13]
    l3_off = 14
    while eth_type == ETH_TYPE_VLAN:  # 802.1Q tag(s)
        if len(frame) < l3_off + 4:
            return None
        eth_type = (frame[l3_off + 2] << 8) | frame[l3_off + 3]
        l3_off += 4
    if eth_type == ETH_TYPE_IP6:
        return _parse_ip6(ts, frame[l3_off:]) if extended else None
    if eth_type != ETH_TYPE_IP:
        return None  # not IPv4 (BP:222-223; dpkt.ip.IP is v4-only)

    ip = frame[l3_off:]
    if len(ip) < 20 or (ip[0] >> 4) != 4:
        return None
    ihl = (ip[0] & 0x0F) * 4
    if ihl < 20 or len(ip) < ihl:
        return None
    total_len = (ip[2] << 8) | ip[3]
    # dpkt trusts total_length when the capture is complete; clamp to
    # what was actually captured so truncated snaplens still parse.
    total_len = min(total_len, len(ip)) if total_len >= ihl else len(ip)
    ip = ip[:total_len]
    proto = ip[9]
    if proto not in (PROTO_TCP, PROTO_UDP) and not (
        extended and proto in (PROTO_ICMP, PROTO_SCTP)
    ):
        return None  # BP:238-239
    # dpkt parity: for fragmented packets (MF flag or non-zero offset)
    # dpkt leaves ip.data as raw bytes, so the reference's
    # isinstance(ip.data, TCP/UDP) check (BP:238) drops them — a
    # non-first fragment's first 4 payload bytes are NOT ports.
    frag = (ip[6] << 8) | ip[7]
    if frag & 0x3FFF:  # MF | fragment-offset bits
        return None
    src_ip = ".".join(str(b) for b in ip[12:16])
    dst_ip = ".".join(str(b) for b in ip[16:20])
    l4 = ip[ihl:]
    # dpkt parity: TCP/UDP unpack needs the full fixed header (20/8
    # bytes; TCP also its options per data-offset) or dpkt raises
    # NeedData and the reference's per-packet except drops the row.
    if proto == PROTO_TCP:
        if len(l4) < 20:
            return None
        doff = (l4[12] >> 4) * 4
        if doff < 20 or len(l4) < doff:
            return None
    elif proto == PROTO_UDP:
        if len(l4) < 8:
            return None
    elif proto == PROTO_ICMP:
        if len(l4) < 4:
            return None
    elif proto == PROTO_SCTP:
        if len(l4) < 12:
            return None
    if proto == PROTO_ICMP:
        src_port, dst_port = l4[0], l4[1]  # type, code — no ports in ICMP
    else:
        src_port = (l4[0] << 8) | l4[1]
        dst_port = (l4[2] << 8) | l4[3]

    # Anonymize IN the serialized bytes (BP:258-268): zero addresses
    # and ports, keep stale checksums.  Documented divergence: when a
    # capture stores a checksum of 0 (checksum offload), dpkt
    # RE-COMPUTES it on re-serialize while we keep the 0 — affects
    # only those bytes of such packets, never the parsed columns
    # (see SURVEY §3.4).
    anon = bytearray(ip)
    anon[12:20] = b"\x00" * 8
    if proto != PROTO_ICMP:  # ICMP has no ports; keep type/code bytes
        anon[ihl : ihl + 4] = b"\x00" * 4

    return {
        "timestamp": float(ts),
        "src_ip": src_ip,
        "dst_ip": dst_ip,
        "src_port": src_port,
        "dst_port": dst_port,
        "protocol": str(proto),
        "payload": bytes(anon),
        "label": "benign",
    }


def _ip6_str(b: bytes) -> str:
    """16 address bytes -> full (uncompressed) lowercase colon-hex —
    deterministic across engines, no zero-run compression ambiguity."""
    return ":".join(f"{(b[i] << 8) | b[i + 1]:x}" for i in range(0, 16, 2))


def _parse_ip6(ts: float, ip6: bytes) -> dict | None:
    """IPv6 decode for extended mode: fixed header + extension-header
    walk to a terminal TCP/UDP/SCTP/ICMPv6; non-first fragments are
    dropped (their L4 slice has no transport header)."""
    if len(ip6) < 40 or (ip6[0] >> 4) != 6:
        return None
    nxt = ip6[6]
    src_ip = _ip6_str(ip6[8:24])
    dst_ip = _ip6_str(ip6[24:40])
    payload_len = (ip6[4] << 8) | ip6[5]
    end = min(40 + payload_len, len(ip6))
    off = 40
    while True:
        if nxt in _IP6_EXT:
            if off + 8 > end:
                return None
            nxt, hel = ip6[off], ip6[off + 1]
            off += (hel + 1) * 8
        elif nxt == _IP6_FRAG:
            if off + 8 > end:
                return None
            frag_off_flags = (ip6[off + 2] << 8) | ip6[off + 3]
            if frag_off_flags & 0xFFF8:  # non-first fragment: no L4 header
                return None
            nxt = ip6[off]
            off += 8
        else:
            break
    l4 = ip6[off:end]
    if nxt == PROTO_TCP:
        if len(l4) < 20 or (l4[12] >> 4) * 4 < 20 or len(l4) < (l4[12] >> 4) * 4:
            return None
        src_port, dst_port = (l4[0] << 8) | l4[1], (l4[2] << 8) | l4[3]
    elif nxt == PROTO_UDP:
        if len(l4) < 8:
            return None
        src_port, dst_port = (l4[0] << 8) | l4[1], (l4[2] << 8) | l4[3]
    elif nxt == PROTO_SCTP:
        if len(l4) < 12:
            return None
        src_port, dst_port = (l4[0] << 8) | l4[1], (l4[2] << 8) | l4[3]
    elif nxt == PROTO_ICMP6:
        if len(l4) < 4:
            return None
        src_port, dst_port = l4[0], l4[1]  # type, code
    else:
        return None

    anon = bytearray(ip6[:end])
    anon[8:40] = b"\x00" * 32
    if nxt != PROTO_ICMP6:
        anon[off : off + 4] = b"\x00" * 4
    return {
        "timestamp": float(ts),
        "src_ip": src_ip,
        "dst_ip": dst_ip,
        "src_port": src_port,
        "dst_port": dst_port,
        "protocol": str(nxt),
        "payload": bytes(anon),
        "label": "benign",
    }


def parse_pcap_bytes(data: bytes, extended: bool = False) -> Iterator[dict]:
    """All parsed packet dicts from one capture file's bytes; frames
    :func:`parse_frame` rejects are skipped (BP:251-253)."""
    for ts, frame in iter_pcap_records(data):
        row = parse_frame(ts, frame, extended)
        if row is not None:
            yield row


# PACKET_SCHEMA + the fused feature vector (read_pcap(features=True)).
FEATURED_SCHEMA = T.StructType(
    list(PACKET_SCHEMA.fields)
    + [T.StructField("features", T.ArrayType(T.FloatType()), True)]
)

# Arrow types of PACKET_SCHEMA's columns, in order.
_ARROW_COLS = [
    ("timestamp", pa.float64()),
    ("src_ip", pa.string()),
    ("dst_ip", pa.string()),
    ("src_port", pa.int32()),
    ("dst_port", pa.int32()),
    ("protocol", pa.string()),
    ("payload", pa.binary()),
    ("label", pa.string()),
]

DEFAULT_SPLIT_PACKETS = 100_000

# Minimum L4 header bytes per terminal protocol a mode keeps
# (parse_frame's checks); no other protocol reaches that check.
_L4_MIN = np.zeros(256, dtype=np.int64)
_L4_MIN[[PROTO_TCP, PROTO_UDP, PROTO_ICMP, PROTO_ICMP6, PROTO_SCTP]] = [20, 8, 4, 4, 12]
_IP6_WALK = np.array(sorted(_IP6_EXT | {_IP6_FRAG}))


def empty_batch(features: bool) -> pa.RecordBatch:
    """The zero-row batch of :func:`packet_batches`' schema."""
    cols = _ARROW_COLS + ([("features", pa.list_(pa.float32()))] if features else [])
    return pa.RecordBatch.from_pylist([], schema=pa.schema(cols))


def _be16(u8: np.ndarray, pos: np.ndarray) -> np.ndarray:
    return (u8[pos].astype(np.int64) << 8) | u8[pos + 1]


def _record_table(buf, walk: Callable, off: int, state: tuple):
    """Run the walker once: (ts[], frame_start[], frame_end[])."""
    ts, start, end = [], [], []
    for t, s, e, _, _ in walk(buf, off, state):
        ts.append(t)
        start.append(s)
        end.append(e)
    return np.array(ts, np.float64), np.array(start, np.int64), np.array(end, np.int64)


def _decode(u8: np.ndarray, start: np.ndarray, end: np.ndarray, extended: bool):
    """:func:`parse_frame` over a whole record table at once.  Returns
    the keep mask and, valid where it is set, the IP layer's
    [ip_start, ip_end), the L4 header's offset, the protocol (IPv4) or
    terminal next header (IPv6) and an IPv6 flag.

    Every check of the per-frame decode is a mask, and every gather
    reads only rows whose lengths were checked first.  The 802.1Q tag
    stack and the IPv6 extension-header chain are loops over the rows
    still inside them."""
    n = len(start)
    ip_start = start + 14
    ip_end = np.zeros(n, np.int64)
    l4 = np.zeros(n, np.int64)
    proto = np.zeros(n, np.int64)
    etype = np.full(n, -1, np.int64)
    i = np.flatnonzero(end - start >= 14)
    etype[i] = _be16(u8, start[i] + 12)
    i = i[etype[i] == ETH_TYPE_VLAN]
    while i.size:  # a row too short for its tag stays VLAN-typed: dropped
        i = i[end[i] >= ip_start[i] + 4]
        etype[i] = _be16(u8, ip_start[i] + 2)
        ip_start[i] += 4
        i = i[etype[i] == ETH_TYPE_VLAN]

    # IPv4: version, IHL, total length clamped to the capture, fragments
    i = np.flatnonzero(etype == ETH_TYPE_IP)
    i = i[end[i] - ip_start[i] >= 20]
    i = i[u8[ip_start[i]] >> 4 == 4]
    ihl = (u8[ip_start[i]] & 0x0F).astype(np.int64) * 4
    cap = end[i] - ip_start[i]
    ok = (ihl >= 20) & (cap >= ihl)
    i, ihl, cap = i[ok], ihl[ok], cap[ok]
    total = _be16(u8, ip_start[i] + 2)
    ip_end[i] = ip_start[i] + np.where(total >= ihl, np.minimum(total, cap), cap)
    l4[i] = ip_start[i] + ihl
    proto[i] = u8[ip_start[i] + 9]
    protos = (PROTO_TCP, PROTO_UDP, PROTO_ICMP, PROTO_SCTP) if extended else (PROTO_TCP, PROTO_UDP)
    ip = i[np.isin(proto[i], protos) & (_be16(u8, ip_start[i] + 6) & 0x3FFF == 0)]

    # IPv6 (extended only): payload length clamped to the capture, then
    # the extension-header walk; a row that stops on an extension
    # header (too short, or a non-first fragment) is dropped by the
    # terminal-protocol test after the loop.
    v6 = np.zeros(n, bool)
    if extended:
        j = np.flatnonzero(etype == ETH_TYPE_IP6)
        j = j[end[j] - ip_start[j] >= 40]
        j = j[u8[ip_start[j]] >> 4 == 6]
        ip_end[j] = ip_start[j] + np.minimum(40 + _be16(u8, ip_start[j] + 4), end[j] - ip_start[j])
        l4[j] = ip_start[j] + 40
        proto[j] = u8[ip_start[j] + 6]
        w = j[np.isin(proto[j], _IP6_WALK)]
        while w.size:
            w = w[l4[w] + 8 <= ip_end[w]]
            frag = proto[w] == _IP6_FRAG
            first = ~frag | (_be16(u8, l4[w] + 2) & 0xFFF8 == 0)
            w, frag = w[first], frag[first]
            step = np.where(frag, 8, (u8[l4[w] + 1].astype(np.int64) + 1) * 8)
            proto[w] = u8[l4[w]]
            l4[w] += step
            w = w[np.isin(proto[w], _IP6_WALK)]
        j = j[np.isin(proto[j], (PROTO_TCP, PROTO_UDP, PROTO_SCTP, PROTO_ICMP6))]
        v6[j] = True
        ip = np.concatenate([ip, j])

    # L4 fixed header (TCP: also its data offset), as dpkt unpacks it
    room = ip_end[ip] - l4[ip]
    ok = room >= _L4_MIN[proto[ip]]
    tcp = np.flatnonzero(ok & (proto[ip] == PROTO_TCP))
    doff = (u8[l4[ip[tcp]] + 12] >> 4).astype(np.int64) * 4
    ok[tcp] = (doff >= 20) & (room[tcp] >= doff)
    keep = np.zeros(n, bool)
    keep[ip[ok]] = True
    return keep, ip_start, ip_end, l4, proto, v6


def _payloads(u8: np.ndarray, ip_start, ip_end, l4, v6, icmp) -> pa.Array:
    """The anonymized IP layers [ip_start, ip_end) of one batch as an
    Arrow binary array: one copy of the buffer span they lie in, the
    addresses and the TCP/UDP/SCTP ports zeroed there (BP:258-268;
    ICMP type/code bytes stay), then Arrow's ``take`` of every other
    tile of the span cut at the range bounds (the ranges increase and
    do not overlap, as the frames do not)."""
    if not len(ip_start):
        return pa.array([], pa.binary())
    base = ip_start[0]
    span = u8[base : ip_end[-1]].copy()
    at = ip_start - base
    _zero(span, at[~v6], 12, 20)
    _zero(span, at[v6], 8, 40)
    _zero(span, (l4 - base)[~icmp], 0, 4)
    bounds = np.empty(2 * len(at), np.int64)
    bounds[0::2], bounds[1::2] = at, ip_end - base
    tiles = pa.Array.from_buffers(
        pa.large_binary(), len(bounds) - 1, [None, pa.py_buffer(bounds), pa.py_buffer(span)]
    )
    return tiles.take(pa.array(np.arange(0, len(bounds), 2))).cast(pa.binary())


def _zero(data: np.ndarray, at: np.ndarray, lo: int, hi: int) -> None:
    data[at[:, None] + np.arange(lo, hi)] = 0


def _ip_text(u8: np.ndarray, ip_start: np.ndarray, v6: np.ndarray, v4_off: int, v6_off: int) -> pa.Array:
    """Dotted-quad text of the 4 bytes at ``ip_start + v4_off``; for
    IPv6 rows, full lowercase colon-hex of the 16 bytes at
    ``ip_start + v6_off`` (:func:`_ip6_str`)."""
    quads = [pc.cast(pa.array(u8[ip_start + v4_off + k]), pa.string()) for k in range(4)]
    text = pc.binary_join_element_wise(*quads, ".")
    if v6.any():
        at = np.where(v6, ip_start + v6_off, 0)
        hex16 = _hex16()
        groups = [hex16.take(pa.array(_be16(u8, at + 2 * k))) for k in range(8)]
        text = pc.if_else(pa.array(v6), pc.binary_join_element_wise(*groups, ":"), text)
    return text


@functools.cache
def _hex16() -> pa.Array:
    return pa.array([f"{v:x}" for v in range(1 << 16)])


def _batch(u8, ts, ip_start, ip_end, l4, proto, v6, features: bool, width: int) -> pa.RecordBatch:
    """One batch of decoded rows -> its ``PACKET_SCHEMA`` (with
    ``features``: ``FEATURED_SCHEMA``) record batch.  The payload is the
    anonymized IP layer (its captured, length-clamped extent,
    :func:`_payloads`); ICMP rows carry type/code as their ports."""
    icmp = (proto == PROTO_ICMP) | (proto == PROTO_ICMP6)
    src_port = np.where(icmp, u8[l4], _be16(u8, l4)).astype(np.int32)
    dst_port = np.where(icmp, u8[l4 + 1], _be16(u8, l4 + 2)).astype(np.int32)
    payload = _payloads(u8, ip_start, ip_end, l4, v6, icmp)
    arrays = [
        pa.array(ts),
        _ip_text(u8, ip_start, v6, 12, 8),
        _ip_text(u8, ip_start, v6, 16, 24),
        pa.array(src_port),
        pa.array(dst_port),
        pc.cast(pa.array(proto.astype(np.uint8)), pa.string()),
        payload,
        pa.repeat("benign", len(ts)),
    ]
    names = [name for name, _ in _ARROW_COLS]
    if features:
        arrays.append(features_array(payload, width))
        names.append("features")
    return pa.RecordBatch.from_arrays(arrays, names=names)


def packet_batches(
    buf,
    walk: Callable,
    off: int,
    state: tuple,
    extended: bool = False,
    ranges=None,
    features: bool = False,
    feature_width: int = FEATURE_WIDTH,
    batch_size: int = 4096,
) -> Iterator[pa.RecordBatch]:
    """The one pcap batch builder: decode the records of ``buf`` (a
    chunk's bytes or a whole capture's buffer) that ``walk`` finds from
    ``(off, state)`` — the triple :func:`_start` and the chunk index
    give — and yield ``PACKET_SCHEMA`` (``FEATURED_SCHEMA`` with
    ``features``) record batches of at most ``batch_size`` rows.

    The decode is columnar (:func:`_decode`): the walker runs once to a
    record table, and every header field is a numpy gather over
    ``buf``.  Rows are exactly :func:`parse_frame`'s, which is kept as
    the per-frame reference; frames it rejects are skipped
    (BP:251-253).  ``ranges`` drops out-of-range packets (inclusive
    bounds, the reference's "filter before payload work", BP:144-145)
    as one more mask, and the 1525-wide float vector is computed from
    each batch's payload buffer — one Python crossing for the whole
    parse→filter→featurize pipeline.  ``batch_size`` bounds both the
    features buffer and its int32 list offsets."""
    ts, start, end = _record_table(buf, walk, off, state)
    u8 = np.frombuffer(buf, np.uint8)
    keep, ip_start, ip_end, l4, proto, v6 = _decode(u8, start, end, extended)
    if ranges:
        keep &= np.logical_or.reduce([(ts >= float(lo)) & (ts <= float(hi)) for lo, hi in ranges])
    rows = np.flatnonzero(keep)
    step = max(batch_size, 1)
    for lo in range(0, len(rows), step):
        r = rows[lo : lo + step]
        yield _batch(u8, ts[r], ip_start[r], ip_end[r], l4[r], proto[r], v6[r], features, feature_width)


def index_capture_chunks(path: str, split_packets: int) -> Iterator[tuple[str, int, int, Callable, tuple]]:
    """Walk one capture's records over a read-only ``mmap`` (the same
    walker the tasks parse with; payloads are never copied) and emit a
    (path, offset, length, walker, state) chunk descriptor for every
    ``split_packets`` whole records: a task resumes the walk at byte 0
    of ``[offset, offset + length)`` with ``state``.  The pages behind
    each finished chunk are released (``MADV_DONTNEED``), so the driver
    holds at most about one chunk of the file at a time."""
    if os.path.getsize(path) < 24:  # also: mmap rejects an empty file
        return
    with open(path, "rb") as f, mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ) as buf:
        walk, off, state = _start(buf)
        start, start_state, n, released = off, state, 0, 0
        for _ts, _s, _e, off, state in walk(buf, off, state):
            n += 1
            if n == split_packets:
                yield path, start, off - start, walk, start_state
                start, start_state, n = off, state, 0
                page = off - off % mmap.PAGESIZE
                buf.madvise(mmap.MADV_DONTNEED, released, page - released)
                released = page
        if n:
            yield path, start, off - start, walk, start_state


def plan_chunks(path: str, split_packets: int) -> list[tuple[str, int, int, Callable, tuple]]:
    """Chunk descriptors for every capture a path, glob, or directory
    (its *.pcap and *.pcapng files) resolves to."""
    import glob

    if os.path.isdir(path):
        paths = glob.glob(os.path.join(path, "*.pcap")) + glob.glob(os.path.join(path, "*.pcapng"))
    else:
        paths = glob.glob(path) or [path]
    return [c for p in sorted(paths) for c in index_capture_chunks(p, split_packets)]


def chunk_batches(chunk, **build) -> Iterator[pa.RecordBatch]:
    """Range-read one chunk descriptor, walk its records from byte 0
    with the descriptor's state and run :func:`packet_batches` over
    them (``build`` = the builder's keyword options).  The bounded read
    is the single seam to replace with an object-store ranged GET
    (fsspec: ``fs.cat_file(path, offset, offset+length)``)."""
    path, offset, length, walk, state = chunk
    with open(path, "rb") as f:
        f.seek(offset)
        data = f.read(length)
    return packet_batches(data, walk, 0, state, **build)


def map_chunks(
    spark: SparkSession,
    path: str,
    split_packets: int | None,
    fn: Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]],
    schema,
    parallelism: int | None = None,
    **build,
) -> DataFrame:
    """One ``mapInArrow`` over the chunks of ``path``: the driver plans
    the chunk index (:func:`plan_chunks`, default ``split_packets``
    100k), ``spark.range`` deals the chunk ids to ``parallelism`` tasks
    (default: the session's) with no shuffle, and each task hands
    ``fn`` the packet batches of its chunks (:func:`chunk_batches` with
    ``build``); ``fn`` yields batches of ``schema``."""
    chunks = plan_chunks(path, split_packets or DEFAULT_SPLIT_PACKETS)

    def run(id_batches):
        return fn(
            batch
            for ids in id_batches
            for i in ids.column(0).to_pylist()
            for batch in chunk_batches(chunks[i], **build)
        )

    n_parts = parallelism or spark.sparkContext.defaultParallelism
    return spark.range(len(chunks), numPartitions=n_parts).mapInArrow(run, schema)


def read_pcap(
    spark: SparkSession,
    path: str,
    batch_size: int = 4096,
    split_packets: int | None = None,
    parallelism: int | None = None,
    extended: bool = False,
    ranges=None,
    features: bool = False,
    feature_width: int = FEATURE_WIDTH,
) -> DataFrame:
    """Pcap scan (S1) of a capture file, glob or directory.

    The driver indexes every capture into byte-range chunks of
    ``split_packets`` whole records (default 100k: one chunk per
    typical file); ``parallelism`` tasks (default: the session's)
    range-read their chunks and parse them with :func:`packet_batches`
    in one ``mapInArrow`` — the scalable replacement for the
    reference's serial chunk loop (BytesProcessor.py:62-65) AND its
    duplicate-emitting sub-chunk splitter (BP:196-205, SURVEY §3.4.4).
    No shuffle: chunk ids come from ``spark.range``.

    ``ranges``/``features``: source-fused filter + featurize (see
    :func:`packet_batches`).  One Python crossing for the whole
    parse→filter→featurize pipeline; chaining a second Python operator
    in the same stage measurably stalls on the double JVM↔worker hop.
    """
    return map_chunks(
        spark, path, split_packets, lambda batches: batches,
        FEATURED_SCHEMA if features else PACKET_SCHEMA, parallelism,
        extended=extended, ranges=ranges, features=features,
        feature_width=feature_width, batch_size=batch_size,
    )
