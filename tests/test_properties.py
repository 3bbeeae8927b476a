"""Property-based tests (SURVEY §5.2) over the pure-Python surfaces —
no SparkSession, so hypothesis can run hundreds of examples: the pcap
writer/reader roundtrip, frame parsing + anonymization invariants, the
pcapng container, winnowing, and the streaming top-k merge."""

from __future__ import annotations

import struct

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from bytesprocessor_spark.sources.pcap import (
    PROTO_TCP,
    PROTO_UDP,
    empty_batch,
    iter_pcap_records,
    packet_batches,
    parse_frame,
    walk_pcap,
    write_pcap,
)
from bytesprocessor_spark.sources.pcapng import write_pcapng
from bytesprocessor_spark.streaming.stateful import merge_topk

# --- strategies -------------------------------------------------------------

ts_strategy = st.floats(
    min_value=0.0, max_value=4_000_000_000.0, allow_nan=False, allow_infinity=False
)
payload = st.binary(min_size=0, max_size=200)
port = st.integers(min_value=0, max_value=65535)
ip = st.tuples(*[st.integers(0, 255)] * 4).map(lambda t: ".".join(map(str, t)))


@st.composite
def tcp_udp_frame(draw):
    proto = draw(st.sampled_from([PROTO_TCP, PROTO_UDP]))
    src, dst = draw(ip), draw(ip)
    sport, dport = draw(port), draw(port)
    data = draw(payload)
    if proto == PROTO_TCP:
        l4 = struct.pack(">HHIIBBHHH", sport, dport, 0, 0, 0x50, 0x18, 8192, 0xCAFE, 0) + data
    else:
        l4 = struct.pack(">HHHH", sport, dport, 8 + len(data), 0xFACE) + data
    total = 20 + len(l4)
    hdr = struct.pack(
        ">BBHHHBBH4s4s", 0x45, 0, total, 1, 0, 64, proto, 0xBEEF,
        bytes(int(x) for x in src.split(".")),
        bytes(int(x) for x in dst.split(".")),
    )
    eth = b"\x02" * 6 + b"\x01" * 6 + struct.pack(">H", 0x0800)
    return (src, dst, sport, dport, proto), eth + hdr + l4


# --- pcap/pcapng roundtrip --------------------------------------------------

@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(ts_strategy, st.binary(min_size=0, max_size=300)), max_size=20))
def test_pcap_roundtrip_any_bytes(tmp_path_factory, pkts):
    """write_pcap -> iter_pcap_records preserves count, µs-rounded
    timestamps, and exact frame bytes for ARBITRARY frame payloads."""
    p = str(tmp_path_factory.mktemp("prop") / "r.pcap")
    write_pcap(p, pkts)
    got = list(iter_pcap_records(open(p, "rb").read()))
    assert len(got) == len(pkts)
    for (ts, buf), (gts, gbuf) in zip(pkts, got):
        assert gbuf == buf
        assert abs(gts - ts) <= 5e-7 + 1e-9 * ts  # µs quantization


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(ts_strategy, st.binary(min_size=0, max_size=300)), max_size=20))
def test_pcapng_matches_pcap_for_any_frames(tmp_path_factory, pkts):
    """The pcapng writer/reader agrees with the classic-pcap pair on
    arbitrary frames (same count, same bytes, ns-exact timestamps)."""
    d = tmp_path_factory.mktemp("prop")
    write_pcapng(str(d / "x.pcapng"), pkts, tsresol=6)
    ng = list(iter_pcap_records(open(str(d / "x.pcapng"), "rb").read()))
    write_pcap(str(d / "x.pcap"), pkts)
    classic = list(iter_pcap_records(open(str(d / "x.pcap"), "rb").read()))
    assert [b for _, b in ng] == [b for _, b in classic]
    for (t1, _), (t2, _) in zip(ng, classic):
        assert abs(t1 - t2) <= 1e-6


# --- parse/anonymize invariants --------------------------------------------

@settings(max_examples=120, deadline=None)
@given(tcp_udp_frame(), st.floats(0, 2e9, allow_nan=False))
def test_parse_frame_fields_and_anonymization(frame_spec, ts):
    (src, dst, sport, dport, proto), frame = frame_spec
    row = parse_frame(ts, frame)
    assert row is not None
    assert (row["src_ip"], row["dst_ip"]) == (src, dst)
    assert (row["src_port"], row["dst_port"]) == (sport, dport)
    assert row["protocol"] == str(proto)
    # anonymization: addresses + ports zeroed IN the bytes, everything
    # else byte-identical to the original IP layer
    orig_ip = frame[14:]
    anon = row["payload"]
    assert len(anon) == len(orig_ip)
    assert anon[12:20] == b"\x00" * 8
    assert anon[20:24] == b"\x00" * 4
    assert anon[:12] == orig_ip[:12]
    assert anon[24:] == orig_ip[24:]


@st.composite
def l3_header(draw):
    """An IPv4 or IPv6 header (plus junk after it) with random length,
    protocol, next-header and fragment fields: inputs that get past the
    parser's first length checks and exercise the deeper ones."""
    junk = draw(st.binary(max_size=80))
    if draw(st.booleans()):
        return 0x0800, struct.pack(
            ">BBHHHBBH8s",
            (4 << 4) | draw(st.integers(0, 15)),  # version 4, any IHL
            0,
            draw(st.integers(0, 0xFFFF)),  # total length
            1,
            draw(st.integers(0, 0xFFFF)),  # flags + fragment offset
            64,
            draw(st.sampled_from([1, 6, 17, 132, draw(st.integers(0, 255))])),
            0xBEEF,
            b"\x0a" * 8,
        ) + junk
    return 0x86DD, struct.pack(
        ">IHBB32s",
        6 << 28,
        draw(st.integers(0, 0xFFFF)),  # payload length
        draw(st.sampled_from([0, 6, 17, 43, 44, 58, 60, 132, 135, draw(st.integers(0, 255))])),
        64,
        b"\x0a" * 32,
    ) + junk


@settings(max_examples=120, deadline=None)
@given(
    st.binary(min_size=0, max_size=120),
    l3_header(),
    st.integers(0, 2),
    st.booleans(),
    st.floats(0, 2e9, allow_nan=False),
)
def test_parse_frame_never_raises_on_garbage(junk, header, vlans, extended, ts):
    """The per-row error contract (BP:251-253): arbitrary bytes either
    parse or return None — no exception escapes, for raw junk and for
    structured IPv4/IPv6 headers behind 0-2 802.1Q tags, in both the
    dpkt-parity and the extended mode.  The readers rely on it: they
    call parse_frame with no try/except."""
    macs = b"\x02" * 6 + b"\x01" * 6
    eth_type, l3 = header
    tags = struct.pack(">HH", 0x8100, 5) * vlans
    for frame in (
        junk,
        macs + struct.pack(">H", 0x0800) + junk,
        macs + struct.pack(">H", 0x86DD) + junk,
        macs + struct.pack(">H", 0x8100) + junk,
        macs + tags + struct.pack(">H", eth_type) + l3,
    ):
        row = parse_frame(ts, frame, extended)
        assert row is None or isinstance(row, dict)


MACS = b"\x02" * 6 + b"\x01" * 6


@st.composite
def any_frame(draw):
    """One frame of the shapes above — a TCP/UDP frame over IPv4 or
    IPv6, a structured IPv4/IPv6 header, raw junk behind an IP/VLAN
    ethertype or alone — behind 0-2 802.1Q tags, possibly cut short."""
    tags = struct.pack(">HH", 0x8100, 5) * draw(st.integers(0, 2))
    kind = draw(st.sampled_from(["tcp_udp", "tcp_udp6", "l3", "junk", "raw"]))
    if kind in ("tcp_udp", "tcp_udp6"):
        (*_, proto), v4 = draw(tcp_udp_frame())
        ip, l4 = bytearray(v4[14:34]), bytearray(v4[34:])
        if proto == PROTO_TCP:  # any data offset, most often the plain 5 words
            l4[12] = draw(st.sampled_from([5, 5, 0, 4, 6, 15])) << 4
        if kind == "tcp_udp":  # flags + fragment offset: none, DF, MF, an offset
            ip[6:8] = struct.pack(">H", draw(st.sampled_from([0, 0, 0x4000, 0x2000, 0x00B9])))
            frame = MACS + tags + v4[12:14] + ip + l4
        else:  # the same L4 over IPv6, maybe behind a hop-by-hop or fragment header
            ext, nxt = draw(st.sampled_from([
                (b"", proto),
                (struct.pack(">BB6x", proto, 0), 0),
                (struct.pack(">BxHI", proto, draw(st.sampled_from([0, 1, 8])), 7), 44),
            ]))
            addrs = draw(st.binary(min_size=32, max_size=32))
            ip6 = struct.pack(">IHBB", 6 << 28, len(ext) + len(l4), nxt, 64) + addrs + ext + l4
            frame = MACS + tags + struct.pack(">H", 0x86DD) + ip6
    elif kind == "l3":
        eth_type, l3 = draw(l3_header())
        frame = MACS + tags + struct.pack(">H", eth_type) + l3
    elif kind == "junk":
        eth_type = draw(st.sampled_from([0x0800, 0x86DD, 0x8100]))
        frame = MACS + tags + struct.pack(">H", eth_type) + draw(st.binary(max_size=120))
    else:
        frame = draw(st.binary(max_size=120))
    if draw(st.integers(0, 3)) == 0:
        frame = frame[: draw(st.integers(0, len(frame)))]
    return frame


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 9), st.integers(0, 999_999), any_frame()), min_size=1, max_size=12),
    st.binary(max_size=30),
    st.integers(1, 5),
    st.one_of(st.none(), st.tuples(st.floats(0, 10), st.floats(0, 10)).map(lambda r: (tuple(sorted(r)),))),
)
def test_builder_rows_equal_parse_frame(records, tail, batch_size, ranges):
    """The columnar builder emits exactly parse_frame's rows (and the
    readers' features), record for record, in both parse modes — over
    every frame shape above, with a trailing record cut short, a range
    filter or none, and batches of at most ``batch_size`` rows."""
    buf = b"".join(struct.pack("<IIII", sec, usec, len(f), len(f)) + f for sec, usec, f in records)
    buf += struct.pack("<IIII", 0, 0, len(tail) + 1, len(tail) + 1) + tail  # cut short
    state = ("<", 1e6)
    width = 24
    for extended in (False, True):
        want = [
            row
            for ts, s, e, _, _ in walk_pcap(buf, 0, state)
            if (row := parse_frame(ts, buf[s:e], extended)) is not None
            and (ranges is None or ranges[0][0] <= row["timestamp"] <= ranges[0][1])
        ]
        batches = list(
            packet_batches(buf, walk_pcap, 0, state, extended, ranges, True, width, batch_size)
        )
        assert all(0 < b.num_rows <= batch_size for b in batches)
        assert all(b.schema == empty_batch(True).schema for b in batches)
        got = [row for b in batches for row in b.to_pylist()]
        for row in got:
            feats = row.pop("features")
            padded = (row["payload"] + bytes(width))[:width]
            assert feats == [v / np.float32(255) for v in np.frombuffer(padded, np.uint8)]
        assert got == want


# --- streaming top-k merge ---------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.floats(allow_nan=False, allow_infinity=False, width=32), max_size=30),
    st.lists(st.floats(allow_nan=False, allow_infinity=False, width=32), max_size=30),
    st.integers(1, 10),
)
def test_merge_topk_equals_global_topk(a, b, k):
    """Merging batch-by-batch equals the global top-k — the property
    that makes per-micro-batch state updates correct."""
    incremental = merge_topk(merge_topk([], a, k), b, k)
    assert incremental == sorted(a + b, reverse=True)[:k]


rgb_strategy = st.integers(1, 12).flatmap(
    lambda h: st.integers(1, 12).flatmap(
        lambda w: st.lists(
            st.integers(0, 255), min_size=h * w * 3, max_size=h * w * 3
        ).map(lambda px: (h, w, px))
    )
)


@settings(max_examples=40, deadline=None)
@given(rgb_strategy)
def test_png_bmp_roundtrip_any_pixels(dims):
    """Built-in image codecs: encode -> decode is exact for ANY RGB
    content at any small dimension (both PNG with its filter/zlib layer
    and bottom-up-row BMP)."""
    import numpy as np

    from bytesprocessor_spark.functions.imagecodec import (
        decode_image_builtin, encode_bmp, encode_png,
    )

    h, w, px = dims
    rgb = np.array(px, dtype=np.uint8).reshape(h, w, 3)
    assert np.array_equal(decode_image_builtin(encode_png(rgb)), rgb)
    assert np.array_equal(decode_image_builtin(encode_bmp(rgb)), rgb)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.integers(-32768, 32767), min_size=1, max_size=500),
    st.sampled_from([8000, 16000, 44100]),
)
def test_wav_decode_any_pcm16(samples, sr):
    """decode_audio_wav: rate/sample-count exact, amplitude features
    finite and bounded for any PCM-16 content."""
    import io
    import math
    import wave

    import numpy as np

    from bytesprocessor_spark.functions.multimodal import decode_audio_wav

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sr)
        wf.writeframes(np.array(samples, dtype="<i2").tobytes())
    rate, n, feats = decode_audio_wav(buf.getvalue())
    assert rate == sr and n == len(samples)
    assert len(feats) == 8 and all(math.isfinite(f) for f in feats)
    rms, mean_abs, peak, zcr = feats[:4]
    assert abs(peak - max(abs(s) for s in samples) / 32768.0) < 1e-12
    assert 0.0 <= rms <= abs(peak) + 1e-12 >= mean_abs >= 0.0
    assert 0.0 <= zcr <= 1.0
    assert abs(sum(feats[4:]) - 1.0) < 1e-9  # histogram fractions sum to 1


# --- BPE double-space replace representation --------------------------------

def _ref_bpe_merge(syms, a, b):
    """Reference left-to-right non-overlapping pair merge."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


_sym = st.text(alphabet="abcdef", min_size=1, max_size=3)


@settings(max_examples=300, deadline=None)
@given(st.lists(_sym, min_size=1, max_size=12), _sym, _sym)
def test_bpe_replace_representation_is_exact(syms, a, b):
    """The operators/bpe.py trick — symbols joined with double spaces,
    merge = literal replace of ' a  b ' with ' ab ' — must equal the
    reference pair-merge for ANY symbol sequence and pair, including
    back-to-back occurrences and same-symbol runs.  Python
    str.replace shares the left-to-right non-overlapping semantics of
    Spark's UTF8String.replace and DuckDB's replace(), so this pins
    the representation for all three engines."""
    s = "  " + "  ".join(syms) + "  "
    s2 = s.replace(f" {a}  {b} ", f" {a}{b} ")
    parsed = [x for x in s2.split("  ") if x]
    assert parsed == _ref_bpe_merge(syms, a, b)


# --- PQ exact-integer distance identity -------------------------------------

@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(-2_000_000, 2_000_000), min_size=1, max_size=16),
    st.data(),
)
def test_pq_einsum_distance_identity_is_exact(xs, data):
    """operators/pq.py computes ||x-c||^2 as |x|^2 - 2<x,c> + |c|^2 in
    float64 — for micro-quantized inputs every term and partial sum is
    an exact integer below 2^53, so the identity matches arbitrary-
    precision integer arithmetic bit-for-bit."""
    import numpy as np

    cs = data.draw(
        st.lists(
            st.integers(-2_000_000, 2_000_000), min_size=len(xs), max_size=len(xs)
        )
    )
    x = np.array(xs, dtype=np.float64)
    c = np.array(cs, dtype=np.float64)
    d_f64 = float(x @ x) - 2.0 * float(x @ c) + float(c @ c)
    d_int = sum((a - b) * (a - b) for a, b in zip(xs, cs))  # Python bigints
    assert d_f64 == d_int


# --- WebDataset member explode ----------------------------------------------

@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcdefghij0123456789_-", min_size=1, max_size=12),
            st.sampled_from(["txt", "bin", "json", ""]),
            st.binary(min_size=0, max_size=256),
        ),
        min_size=0,
        max_size=12,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_tar_member_explode_roundtrip(members):
    """sources/webdataset._explode_members recovers every (key, ext,
    payload) from an arbitrary tar, including extension-less names and
    empty payloads."""
    import io
    import tarfile

    import pandas as pd

    from bytesprocessor_spark.sources.webdataset import _explode_members

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for key, ext, payload in members:
            name = f"{key}.{ext}" if ext else key
            info = tarfile.TarInfo(name=name)
            info.size = len(payload)
            tf.addfile(info, io.BytesIO(payload))
    pdf = pd.DataFrame({"path": ["/x/shard-0.tar"], "content": [buf.getvalue()]})
    out = pd.concat(list(_explode_members([pdf]))) if members else None
    got = (
        {(r.key, r.ext): bytes(r.payload) for r in out.itertuples()}
        if out is not None
        else {}
    )
    want = {(k, e): p for k, e, p in members}
    assert got == want
