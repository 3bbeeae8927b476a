"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical files.  The engine only ever sees the files.

* :func:`make_capture` writes a classic pcap with a known mix of frames
  and returns a manifest of the counts the pipeline must reproduce.
* :func:`make_lake` writes the parquet tables the registry queries read,
  with the schemas and value domains of the repository's own fixtures.
"""

from __future__ import annotations

import hashlib
import struct
from dataclasses import asdict, dataclass

import numpy as np

# --------------------------------------------------------------------------
# pcap_etl capture
# --------------------------------------------------------------------------

FEATURE_WIDTH = 1525
CAPTURE_BASE = 1_700_000_000.0
TICK = 0.001  # one packet per millisecond: timestamps are exact on the µs grid

ATTACKER = "10.9.0.1"
VICTIM = "10.9.0.2"

# Fixed shares of the frames the reference parser drops, and of packets
# whose timestamp falls outside the extraction range.
SHARE_NON_IP = 0.03
SHARE_ICMP = 0.03
SHARE_TRUNC_TCP = 0.02
SHARE_OUT_OF_RANGE = 0.10  # half before the range, half after
SHARE_ATTACK_WINDOW = 0.30  # middle share of the range that the attack covers
SHARE_ATTACK_TRAFFIC = 0.20  # of window packets: attacker<->victim, both ways


@dataclass(frozen=True)
class CaptureManifest:
    """Expected counts for one generated capture."""

    records: int
    drop_non_ip: int
    drop_icmp: int
    drop_trunc_tcp: int
    parsed_rows: int
    out_of_range: int
    in_range_rows: int
    attack_rows: int
    forward_rows: int
    range_start: float
    range_end: float
    attack_start: float
    attack_end: float
    capture_bytes: int
    sha256: str

    @property
    def drop_share(self) -> float:
        return (self.records - self.parsed_rows) / self.records

    def to_dict(self) -> dict:
        return asdict(self)


@dataclass(frozen=True)
class Capture:
    """A generated capture: its manifest plus the per-packet truth the
    output checks need (timestamps, kinds, anonymized IP-layer bytes)."""

    path: str
    manifest: CaptureManifest
    ts: np.ndarray  # float64 seconds per record
    kind: np.ndarray  # 0 tcp, 1 udp, 2 non-ip, 3 icmp, 4 truncated tcp
    anon: list  # anonymized IP-layer bytes of parseable records, else None


def _ip_bytes(host: int) -> bytes:
    return bytes((10, 0, (host >> 8) & 0xFF, host & 0xFF))


_ETH_IP = b"\x02" * 6 + b"\x04" * 6 + b"\x08\x00"
_ETH_ARP = b"\xff" * 6 + b"\x04" * 6 + b"\x08\x06"


def _payload(rng: np.random.Generator, size: int, high_entropy: bool) -> bytes:
    if high_entropy:
        return rng.bytes(size)
    # low entropy: a short repeated motif over a run of zero padding
    motif = rng.integers(0x20, 0x7F, size=int(rng.integers(1, 9)), dtype=np.uint8).tobytes()
    body = (motif * (size // len(motif) + 1))[: size // 2]
    return body + b"\x00" * (size - len(body))


def make_capture(path: str, seed: int, n_packets: int = 100_000) -> Capture:
    """Write a seeded classic pcap of ``n_packets`` records to ``path``.

    Mix: TCP and UDP carrying 40-1400-byte payloads, half high-entropy
    (random bytes) and half low-entropy (a repeated motif then zeros),
    plus exact shares of frames the reference drops (non-IP, ICMP,
    truncated TCP headers) and of timestamps outside the one extraction
    range.  One attack window sits inside the range; inside it a fixed
    share of packets flows attacker->victim or victim->attacker.
    """
    from bytesprocessor_spark.sources.pcap import write_pcap

    rng = np.random.default_rng([seed, 0x9CA9])
    n = n_packets
    ts = CAPTURE_BASE + np.arange(n, dtype=np.float64) * TICK

    n_out = int(round(n * SHARE_OUT_OF_RANGE))
    lo_i, hi_i = n_out // 2, n - (n_out - n_out // 2)  # in-range index span [lo_i, hi_i)
    # half-tick bounds: no timestamp ever sits on a boundary
    range_start = CAPTURE_BASE + (lo_i - 0.5) * TICK
    range_end = CAPTURE_BASE + (hi_i - 0.5) * TICK
    span = hi_i - lo_i
    w_lo = lo_i + int(span * (1 - SHARE_ATTACK_WINDOW) / 2)
    w_hi = w_lo + int(span * SHARE_ATTACK_WINDOW)
    attack_start = CAPTURE_BASE + (w_lo - 0.5) * TICK
    attack_end = CAPTURE_BASE + (w_hi - 0.5) * TICK

    kind = np.zeros(n, dtype=np.int8)
    kind[rng.random(n) < 0.3] = 1  # UDP
    order = rng.permutation(n)
    n_non_ip = int(round(n * SHARE_NON_IP))
    n_icmp = int(round(n * SHARE_ICMP))
    n_trunc = int(round(n * SHARE_TRUNC_TCP))
    kind[order[:n_non_ip]] = 2
    kind[order[n_non_ip : n_non_ip + n_icmp]] = 3
    kind[order[n_non_ip + n_icmp : n_non_ip + n_icmp + n_trunc]] = 4

    in_window = np.zeros(n, dtype=bool)
    in_window[w_lo:w_hi] = True
    attack = in_window & (rng.random(n) < SHARE_ATTACK_TRAFFIC)
    forward = attack & (rng.random(n) < 0.5)  # attacker -> victim
    sizes = rng.integers(40, 1401, size=n)
    entropy = rng.random(n) < 0.5
    hosts = rng.integers(1, 4096, size=(n, 2))
    ports = rng.integers(1024, 65536, size=(n, 2))

    records: list[tuple[float, bytes]] = []
    anon: list = [None] * n
    for i in range(n):
        k = int(kind[i])
        if k == 2:  # ARP-typed frame: dropped as non-IP
            records.append((float(ts[i]), _ETH_ARP + rng.bytes(28)))
            continue
        if attack[i]:
            a, v = bytes((10, 9, 0, 1)), bytes((10, 9, 0, 2))
            src, dst = (a, v) if forward[i] else (v, a)
        else:
            src, dst = _ip_bytes(int(hosts[i, 0])), _ip_bytes(int(hosts[i, 1]))
        sport, dport = int(ports[i, 0]), int(ports[i, 1])
        if k == 3:  # ICMP echo: dropped (neither TCP nor UDP)
            proto, l4 = 1, struct.pack(">BBHHH", 8, 0, 0, 1, i & 0xFFFF) + rng.bytes(32)
        elif k == 4:  # TCP header cut to 12 bytes: dropped as malformed
            proto, l4 = 6, struct.pack(">HHII", sport, dport, i, 0)
        else:
            body = _payload(rng, int(sizes[i]), bool(entropy[i]))
            if k == 0:
                proto = 6
                l4 = struct.pack(">HHIIBBHHH", sport, dport, i, 0, 0x50, 0x18, 8192, 0xCAFE, 0) + body
            else:
                proto = 17
                l4 = struct.pack(">HHHH", sport, dport, 8 + len(body), 0xBEEF) + body
        ip_hdr = struct.pack(">BBHHHBBH4s4s", 0x45, 0, 20 + len(l4), i & 0xFFFF, 0, 64, proto, 0xBEEF, src, dst)
        records.append((float(ts[i]), _ETH_IP + ip_hdr + l4))
        if k in (0, 1):
            a_ip = bytearray(ip_hdr + l4)
            a_ip[12:20] = bytes(8)
            a_ip[20:24] = bytes(4)
            anon[i] = bytes(a_ip)
    write_pcap(path, records)

    with open(path, "rb") as f:
        blob = f.read()
    parsed = (kind == 0) | (kind == 1)
    in_range = np.zeros(n, dtype=bool)
    in_range[lo_i:hi_i] = True
    manifest = CaptureManifest(
        records=n,
        drop_non_ip=n_non_ip,
        drop_icmp=n_icmp,
        drop_trunc_tcp=n_trunc,
        parsed_rows=int(parsed.sum()),
        out_of_range=int((parsed & ~in_range).sum()),
        in_range_rows=int((parsed & in_range).sum()),
        attack_rows=int((parsed & attack).sum()),
        forward_rows=int((parsed & forward).sum()),
        range_start=range_start,
        range_end=range_end,
        attack_start=attack_start,
        attack_end=attack_end,
        capture_bytes=len(blob),
        sha256=hashlib.sha256(blob).hexdigest(),
    )
    return Capture(path=path, manifest=manifest, ts=ts, kind=kind, anon=anon)


def expected_features(anon_ip: bytes, width: int = FEATURE_WIDTH) -> np.ndarray:
    """The reference's feature vector: bytes / 255 as float32, zero-padded
    or truncated to ``width``."""
    out = np.zeros(width, dtype=np.float32)
    a = np.frombuffer(anon_ip, dtype=np.uint8)[:width]
    out[: len(a)] = a.astype(np.float32) / np.float32(255)
    return out


# --------------------------------------------------------------------------
# lake tables (lake_sql, llm_curation)
# --------------------------------------------------------------------------

LAKE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_LANGS = ["en", "de", "fr", "es", "zh"]
_EPOCH_1995 = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - _EPOCH_1995).astype(np.int64))

# The documents corpus has the shape of the repository's sf0.1 fixture
# (TESTDATA.md): 10-100 words drawn uniformly from the same 30-word
# vocabulary, so word 3-grams and char 5-grams are shared across many
# documents and the shingle-key self-joins are as wide as there; and 5%
# of documents replaced by a copy of another document with " dup"
# appended, the near-duplicates every dedup entry finds.
VOCABULARY = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
DOC_WORDS = (10, 100)
SHARE_NEAR_DUP = 0.05
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _money(rng: np.random.Generator, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    return rng.integers(lo_cents, hi_cents + 1, size=n) / 100.0


def _days(d: np.ndarray):
    return (_EPOCH_1995 + d.astype("timedelta64[D]")).astype("datetime64[us]")


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    vocab = np.array(VOCABULARY)
    lengths = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, size=n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=k)]) for k in lengths]
    n_dup = int(round(n * SHARE_NEAR_DUP))
    copies = rng.choice(n, size=n_dup, replace=False)
    sources = rng.integers(0, n, size=n_dup)
    originals = list(texts)
    for i, src in zip(copies, sources):
        texts[i] = originals[src] + " dup"
    return texts


def lake_tables(seed: int, scale: float = 1.0) -> dict:
    """The lake as pyarrow tables: TPC-H-shaped relational tables plus
    the documents / embeddings corpus, at ``scale`` x the row counts in
    :data:`LAKE_ROWS` (dimension tables keep their size)."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 0x1A4E])
    rows = {k: (v if k in ("region", "nation") else max(10, int(v * scale))) for k, v in LAKE_ROWS.items()}
    n_cust, n_supp, n_ord, n_li = rows["customer"], rows["supplier"], rows["orders"], rows["lineitem"]
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -99_999, 999_999, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, size=n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -99_999, 999_999, n_supp),
    })
    o_days = rng.integers(0, _ORDER_DAYS + 1, size=n_ord)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, size=n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, size=n_ord)],
        "o_totalprice": _money(rng, 100_000, 50_000_000, n_ord),
        "o_orderdate": _days(o_days),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, size=n_ord)],
    })
    l_order = rng.integers(0, n_ord, size=n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, 20_000, size=n_li),
        "l_suppkey": rng.integers(0, n_supp, size=n_li),
        "l_linenumber": rng.integers(1, 8, size=n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 90_000, 10_500_000, n_li),
        "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, size=n_li)],
        "l_shipdate": _days(o_days[l_order] + rng.integers(1, 122, size=n_li)),
    })
    n_docs = rows["documents"]
    texts = _documents(rng, n_docs)
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(len(_LANGS), size=n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n_emb = rows["embeddings"]
    # unit-norm Gaussian vectors with uniform labels, as in the sf0.1 fixture
    vecs = rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, 10, size=n_emb)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def make_lake(directory: str, seed: int, tables=None, scale: float = 1.0) -> dict[str, int]:
    """Write the seeded lake tables as ``<directory>/<name>.parquet``
    (one snappy row group each, like the repository's fixtures).
    Returns each written file's size in bytes."""
    import os

    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    sizes = {}
    for name, tbl in lake_tables(seed, scale).items():
        if tables is not None and name not in tables:
            continue
        path = os.path.join(directory, f"{name}.parquet")
        pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))
        sizes[name] = os.path.getsize(path)
    return sizes
