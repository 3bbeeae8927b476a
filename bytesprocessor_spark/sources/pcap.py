"""Pcap source (SURVEY §2.1 S1-S2, §2.2 P1-P2).

A self-contained libpcap/pcapng reader + Ethernet/IPv4/TCP/UDP
decoder (plain ``struct``; the runtime has no packet library).  Every
pcap path — :func:`read_pcap`, the ``pcap`` DataSource and the
streaming pipeline — parses through one batch builder,
:func:`packet_batches`, which emits ``pyarrow.RecordBatch`` directly:
typed column arrays plus, when asked, the ``features`` column wrapped
around one flat float32 buffer (``functions.bytes.features_array``).

Parity with the reference parser (BytesProcessor.py:211-268):
  * non-IP frames dropped (BP:222-223), non-TCP/UDP dropped
    (BP:238-239), malformed packets skipped per-row (BP:251-253);
  * ``protocol`` is the string "6"/"17" (BP:229,234), timestamp a
    float-seconds double (BP:227,345), label starts "benign" (BP:249);
  * anonymization zeroes ip.src/ip.dst and the TCP/UDP ports in the
    serialized IP layer and keeps the original (now stale) checksums —
    byte-for-byte what dpkt emits when fields are reassigned and the
    stored checksum is non-zero (BP:258-268).

Scale posture: the driver header-walks each capture into byte-range
chunks of whole records (16 bytes read + one seek per record, no
payload loaded); each task range-reads its chunks and parses them.
Nothing ever holds a whole file in memory, a single huge capture
spreads over every core, and every file of a many-file lake is at
least one chunk.
"""

from __future__ import annotations

import struct
from collections.abc import Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from bytesprocessor_spark.functions.bytes import FEATURE_WIDTH, features_array

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
_MAGIC_US_BE = 0xD4C3B2A1
_MAGIC_NS_LE = 0xA1B23C4D
_MAGIC_NS_BE = 0x4D3CB2A1

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


def _pcap_format(magic: int) -> tuple[str, float]:
    """(struct endianness, fractional-part divisor) for a pcap magic."""
    if magic in (_MAGIC_US_LE, _MAGIC_NS_LE):
        return "<", 1e6 if magic == _MAGIC_US_LE else 1e9
    if magic in (_MAGIC_US_BE, _MAGIC_NS_BE):
        return ">", 1e6 if magic == _MAGIC_US_BE else 1e9
    raise ValueError(f"not a capture file (magic {magic:#x} is neither pcap nor pcapng)")


def _iter_records(data: bytes, off: int, endian: str, frac_div: float) -> Iterator[tuple[float, bytes]]:
    """Walk packet records in ``data`` starting at ``off``; a truncated
    trailing record ends iteration silently (the reference flushes on
    EOFError the same way, BytesProcessor.py:96-104)."""
    rec_hdr = struct.Struct(endian + "IIII")
    n = len(data)
    while off + 16 <= n:
        ts_sec, ts_frac, incl_len, _orig_len = rec_hdr.unpack_from(data, off)
        off += 16
        if off + incl_len > n:
            return
        yield ts_sec + ts_frac / frac_div, data[off : off + incl_len]
        off += incl_len


_PCAPNG_MAGIC = 0x0A0D0D0A  # SHB block type; same bytes either endianness


def iter_pcap_records(data: bytes) -> Iterator[tuple[float, bytes]]:
    """Yield (timestamp_seconds, frame_bytes) from raw capture bytes.
    Handles classic pcap (both endiannesses, µs/ns magics) and pcapng
    (dispatched on the Section Header Block magic) — the format the
    reference's roadmap asks for (CONTRIBUTING.md:25) but never got."""
    if len(data) < 24:
        return
    (magic,) = struct.unpack_from("<I", data, 0)
    if magic == _PCAPNG_MAGIC:
        from bytesprocessor_spark.sources.pcapng import iter_pcapng_records

        yield from iter_pcapng_records(data)
        return
    endian, frac_div = _pcap_format(magic)
    yield from _iter_records(data, 24, endian, frac_div)


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
    the reference drops (non-IP, non-TCP/UDP) and for malformed input
    (caller wraps in try/except for full parity with BP:251-253).

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
    """All parsed packet dicts from one pcap file's bytes; per-packet
    errors are swallowed (BP:251-253)."""
    for ts, frame in iter_pcap_records(data):
        try:
            row = parse_frame(ts, frame, extended)
        except Exception:
            continue
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


def _range_predicate(ranges):
    """Python-side mirror of extract_ranges' inclusive OR-of-between
    (labeling.py / BP:339-354) so the source can drop out-of-range
    packets before they ever cross the Arrow boundary."""
    if not ranges:
        return None
    rs = [(float(lo), float(hi)) for lo, hi in ranges]
    return lambda ts: any(lo <= ts <= hi for lo, hi in rs)


def _record_batch(rows: list[dict], features: bool, width: int) -> pa.RecordBatch:
    cols = {name: [r[name] for r in rows] for name, _ in _ARROW_COLS}
    arrays = [pa.array(cols[name], typ) for name, typ in _ARROW_COLS]
    names = [name for name, _ in _ARROW_COLS]
    if features:
        arrays.append(features_array(cols["payload"], width))
        names.append("features")
    return pa.RecordBatch.from_arrays(arrays, names=names)


def packet_batches(
    records: Iterable[tuple[float, bytes]],
    extended: bool = False,
    ranges=None,
    features: bool = False,
    feature_width: int = FEATURE_WIDTH,
    batch_size: int = 4096,
) -> Iterator[pa.RecordBatch]:
    """The one pcap batch builder: parse (timestamp, frame) records and
    yield ``PACKET_SCHEMA`` (``FEATURED_SCHEMA`` with ``features``)
    record batches of at most ``batch_size`` rows.

    Per-packet errors are skipped (BP:251-253).  ``ranges`` drops
    out-of-range packets inside the parse (the reference's "filter
    before payload work", BP:144-145), and the 1525-wide float vector
    is computed on the same batch — one Python crossing for the whole
    parse→filter→featurize pipeline.  ``batch_size`` bounds both the
    features buffer and its int32 list offsets."""
    in_range = _range_predicate(ranges)
    rows: list[dict] = []
    for ts, frame in records:
        try:
            row = parse_frame(ts, frame, extended)
        except Exception:
            continue
        if row is None or (in_range is not None and not in_range(row["timestamp"])):
            continue
        rows.append(row)
        if len(rows) >= batch_size:
            yield _record_batch(rows, features, feature_width)
            rows = []
    if rows:
        yield _record_batch(rows, features, feature_width)


def index_capture_chunks(
    path: str, split_packets: int
) -> Iterator[tuple[str, int, int, str, float, str]]:
    """Format-dispatching chunk indexer: classic pcap gets record-offset
    chunks (meta=""), pcapng gets block-boundary chunks whose meta
    carries the section state (see pcapng.index_pcapng_chunks)."""
    with open(path, "rb") as f:
        head = f.read(4)
    if len(head) < 4:
        return
    (magic,) = struct.unpack_from("<I", head, 0)
    if magic == _PCAPNG_MAGIC:
        from bytesprocessor_spark.sources.pcapng import index_pcapng_chunks

        yield from index_pcapng_chunks(path, split_packets)
        return
    yield from index_pcap_chunks(path, split_packets)


def index_pcap_chunks(path: str, split_packets: int) -> Iterator[tuple[str, int, int, str, float, str]]:
    """Stream-walk one pcap's record headers (seek past payloads, read
    16 bytes per record) and emit (path, offset, length, endian,
    frac_div) byte-range chunks of ``split_packets`` records each.
    Never materializes the file — the index pass is pure I/O."""
    with open(path, "rb") as f:
        head = f.read(24)
        if len(head) < 24:
            return
        (magic,) = struct.unpack_from("<I", head, 0)
        endian, frac_div = _pcap_format(magic)
        rec_hdr = struct.Struct(endian + "IIII")
        chunk_start = 24
        n_in_chunk = 0
        off = 24
        while True:
            hdr = f.read(16)
            if len(hdr) < 16:
                break
            _sec, _frac, incl_len, _orig = rec_hdr.unpack(hdr)
            nxt = off + 16 + incl_len
            f.seek(incl_len, 1)
            off = nxt
            n_in_chunk += 1
            if n_in_chunk >= split_packets:
                yield (path, chunk_start, off - chunk_start, endian, frac_div, "")
                chunk_start = off
                n_in_chunk = 0
        if n_in_chunk > 0:
            yield (path, chunk_start, off - chunk_start, endian, frac_div, "")


def plan_chunks(path: str, split_packets: int) -> list[tuple[str, int, int, str, float, str]]:
    """Chunk descriptors for every capture a path, glob, or directory
    (its *.pcap and *.pcapng files) resolves to."""
    import glob
    import os

    if os.path.isdir(path):
        paths = glob.glob(os.path.join(path, "*.pcap")) + glob.glob(os.path.join(path, "*.pcapng"))
    else:
        paths = glob.glob(path) or [path]
    return [c for p in sorted(paths) for c in index_capture_chunks(p, split_packets)]


def chunk_batches(chunk, **build) -> Iterator[pa.RecordBatch]:
    """Range-read one chunk descriptor and run :func:`packet_batches`
    over its records (``build`` = the builder's keyword options).  The
    bounded read is the single seam to replace with an object-store
    ranged GET (fsspec: ``fs.cat_file(path, offset, offset+length)``)."""
    path, offset, length, endian, frac_div, meta = chunk
    if length <= 0:
        return iter(())
    with open(path, "rb") as f:
        f.seek(offset)
        data = f.read(length)
    return packet_batches(iter_chunk_records(data, endian, frac_div, meta), **build)


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
    chunks = plan_chunks(path, split_packets or DEFAULT_SPLIT_PACKETS)
    n_parts = parallelism or spark.sparkContext.defaultParallelism
    build = dict(
        extended=extended, ranges=ranges, features=features,
        feature_width=feature_width, batch_size=batch_size,
    )

    def parse_chunks(batches):
        for ids in batches:
            for i in ids.column(0).to_pylist():
                yield from chunk_batches(chunks[i], **build)

    return spark.range(len(chunks), numPartitions=n_parts).mapInArrow(
        parse_chunks, FEATURED_SCHEMA if features else PACKET_SCHEMA
    )


def read_pcap_split(
    spark: SparkSession,
    path: str,
    split_packets: int = DEFAULT_SPLIT_PACKETS,
    parallelism: int | None = None,
    extended: bool = False,
    ranges=None,
    features: bool = False,
    feature_width: int = FEATURE_WIDTH,
) -> DataFrame:
    """:func:`read_pcap` with an explicit ``split_packets``."""
    return read_pcap(
        spark, path, split_packets=split_packets, parallelism=parallelism, extended=extended,
        ranges=ranges, features=features, feature_width=feature_width,
    )


def iter_chunk_records(
    data: bytes, endian: str, frac_div: float, meta: str
) -> Iterator[tuple[float, bytes]]:
    """Record stream for one indexed chunk's bytes; ``meta`` selects the
    container format (classic pcap: "", pcapng: "ng:<divisors>")."""
    if meta.startswith("ng:"):
        from bytesprocessor_spark.sources.pcapng import iter_ng_records

        divisors = [float(x) for x in meta[3:].split(",") if x]
        yield from iter_ng_records(data, 0, endian, divisors)
        return
    yield from _iter_records(data, 0, endian, frac_div)
