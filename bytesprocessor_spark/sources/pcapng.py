"""Pcapng (next-generation capture) support — the reference's own
roadmap item (/root/reference/CONTRIBUTING.md:25: "Support for
pcapng"), which BytesProcessor itself never implemented
(BytesProcessor.py:18 declares pcap-only).

Self-contained block walker for the pcapng container format
(IETF draft-ietf-opsawg-pcapng): a file is a sequence of
length-delimited blocks —

    Section Header Block  (0x0A0D0D0A): byte-order magic -> endianness,
                                        resets the interface table
    Interface Description (0x00000001): link type + options, notably
                                        if_tsresol (code 9) giving the
                                        timestamp unit as 10^-v or 2^-v
    Enhanced Packet Block (0x00000006): interface id + 64-bit timestamp
                                        in that interface's unit + frame
    Simple Packet Block   (0x00000003): frame only (no timestamp/iface)
    obsolete Packet Block (0x00000002): 16-bit iface + 64-bit timestamp

Everything else (name resolution, statistics, custom blocks) is
skipped by total-length arithmetic — the property that makes the
format chunkable: ANY block boundary is a valid split point as long
as the section state (endianness + interface timestamp divisors)
established before that point travels with the chunk.
:func:`walk_pcapng` yields that state with every record, so the
driver's chunk index and each task's parse run this one walker, the
same way they run the classic-pcap walker (``sources.pcap``).

The walker yields (timestamp_seconds, frame_start, frame_end, ...) —
the same contract as the classic walker — so the entire downstream
pipeline (the columnar decode, anonymization, labeling, featurize) is
format-agnostic.  Simple Packet Blocks carry no timestamp and are emitted at
t=0.0 (documented; a range filter naturally excludes them).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

BT_SHB = 0x0A0D0D0A
BT_IDB = 0x00000001
BT_PB = 0x00000002  # obsolete Packet Block
BT_SPB = 0x00000003
BT_EPB = 0x00000006
_BOM = 0x1A2B3C4D

_DEFAULT_DIV = 1e6  # if_tsresol absent -> microseconds


def _pad4(n: int) -> int:
    return (n + 3) & ~3


def _tsresol_divisor(v: int) -> float:
    """if_tsresol option byte -> ticks-per-second divisor: MSB clear
    means 10^-v seconds per tick, MSB set means 2^-(v&0x7f)."""
    if v & 0x80:
        return float(2 ** (v & 0x7F))
    return float(10**v)


def _idb_divisor(body: bytes, endian: str) -> float:
    """Parse an IDB body's option list for if_tsresol (code 9)."""
    # linktype(2) reserved(2) snaplen(4), then options
    off = 8
    n = len(body)
    while off + 4 <= n:
        code, length = struct.unpack_from(endian + "HH", body, off)
        off += 4
        if code == 0:  # opt_endofopt
            break
        if code == 9 and length >= 1:
            return _tsresol_divisor(body[off])
        off += _pad4(length)
    return _DEFAULT_DIV


def walk_pcapng(buf, off: int, state: tuple) -> Iterator[tuple[float, int, int, int, tuple]]:
    """The pcapng record walker: from block boundary ``off`` of ``buf``
    (``bytes`` or ``mmap``) with section ``state`` = (endian,
    per-interface timestamp divisors), yield (timestamp_seconds,
    frame_start, frame_end, next_offset, state) for every packet block.

    SHB blocks set the endianness (``state`` may carry ``None`` when
    ``off`` is a Section Header Block) and reset the interface table;
    IDB blocks append a divisor.  A walk resumed at any yielded
    (next_offset, state) therefore continues bit-identically.  A
    malformed or truncated block ends the walk silently, mirroring the
    classic reader's EOF tolerance (BytesProcessor.py:96-104)."""
    endian = state[0]
    n = len(buf)
    while off + 12 <= n:
        (btype,) = struct.unpack_from("<I", buf, off)
        if btype == BT_SHB:
            # Byte-order magic sits after type(4)+total_len(4).
            (bom,) = struct.unpack_from("<I", buf, off + 8)
            if bom == _BOM:
                endian = "<"
            elif struct.unpack_from(">I", buf, off + 8)[0] == _BOM:
                endian = ">"
            else:
                return
            state = (endian, ())
        elif endian is None:
            return  # can't interpret lengths before the first SHB
        if endian == ">":
            (btype,) = struct.unpack_from(">I", buf, off)
        (total_len,) = struct.unpack_from(endian + "I", buf, off + 4)
        if total_len < 12 or total_len % 4 or off + total_len > n:
            return
        boff, blen = off + 8, total_len - 12
        off += total_len
        if btype == BT_IDB:
            state = (endian, state[1] + (_idb_divisor(buf[boff : boff + blen], endian),))
        elif btype in (BT_EPB, BT_PB):
            if blen < 20:
                continue
            if btype == BT_EPB:
                iface, ts_hi, ts_lo, cap_len = struct.unpack_from(endian + "IIII", buf, boff)
            else:
                iface, _drops, ts_hi, ts_lo, cap_len = struct.unpack_from(endian + "HHIII", buf, boff)
            if blen < 20 + cap_len:
                continue
            divisors = state[1]
            div = divisors[iface] if iface < len(divisors) else _DEFAULT_DIV
            yield ((ts_hi << 32) | ts_lo) / div, boff + 20, boff + 20 + cap_len, off, state
        elif btype == BT_SPB:
            if blen < 4:
                continue
            (orig_len,) = struct.unpack_from(endian + "I", buf, boff)
            # No timestamp in an SPB -> t=0.0 (documented contract).
            yield 0.0, boff + 4, boff + 4 + min(orig_len, blen - 4), off, state


# ---------------------------------------------------------------------------
# Writer (test fixtures / bench data) — EPB-per-packet, one section.
# ---------------------------------------------------------------------------

def _block(endian: str, btype: int, body: bytes) -> bytes:
    body = body + b"\x00" * (_pad4(len(body)) - len(body))
    total = len(body) + 12
    return struct.pack(endian + "II", btype, total) + body + struct.pack(endian + "I", total)


def _opt(endian: str, code: int, value: bytes) -> bytes:
    return (
        struct.pack(endian + "HH", code, len(value))
        + value
        + b"\x00" * (_pad4(len(value)) - len(value))
    )


def write_pcapng(
    path: str,
    packets,
    endian: str = "<",
    tsresol: int | None = None,
    n_interfaces: int = 1,
    iface_tsresol: list[int | None] | None = None,
) -> None:
    """Write a single-section pcapng: SHB, ``n_interfaces`` IDBs, then
    one EPB per (ts, frame[, iface]) tuple.  ``tsresol`` is the raw
    if_tsresol byte (e.g. 6=µs, 9=ns, 0x83=2^-3); None omits the
    option (readers default to µs)."""
    if iface_tsresol is None:
        iface_tsresol = [tsresol] * n_interfaces
    shb_body = struct.pack(endian + "IHHq", _BOM, 1, 0, -1)
    out = [_block(endian, BT_SHB, shb_body)]
    for res in iface_tsresol:
        idb = struct.pack(endian + "HHI", 1, 0, 0)  # linktype=EN10MB, snaplen=0
        if res is not None:
            idb += _opt(endian, 9, bytes([res])) + _opt(endian, 0, b"")
        out.append(_block(endian, BT_IDB, idb))
    for pkt in packets:
        ts, buf = pkt[0], pkt[1]
        iface = pkt[2] if len(pkt) > 2 else 0
        res = iface_tsresol[iface]
        div = _tsresol_divisor(res) if res is not None else _DEFAULT_DIV
        # Split-then-scale (not round(ts*div)): for large ts the float
        # product loses sub-tick precision, diverging from write_pcap's
        # sec/frac quantization by a whole tick.  int(div) is exact for
        # every legal tsresol (10^k or 2^k ticks/sec).
        sec = int(ts)
        frac = int(round((ts - sec) * div))
        if frac >= int(div):
            sec, frac = sec + 1, 0
        ticks = sec * int(div) + frac
        body = (
            struct.pack(endian + "IIIII", iface, ticks >> 32, ticks & 0xFFFFFFFF, len(buf), len(buf))
            + buf
        )
        out.append(_block(endian, BT_EPB, body))
    with open(path, "wb") as f:
        f.write(b"".join(out))
