"""Fixed-width byte-feature functions (SURVEY §2.7 F1-F2).

The reference pads/truncates each payload to 1525 bytes and scales by
1/255 into a float32 matrix (BytesProcessor.py:270-286), then widens to
1525 ``byte(i)`` columns (BytesProcessor.py:182-184).

One route computes it: the numpy kernel :func:`_feature_matrix`.  The
pcap readers build their ``features`` column with
:func:`features_array` inside their own Arrow batch, and
``pipeline.with_features`` runs the same function as an Arrow UDF for
any frame with a binary column.  The vector stays one
``array<float>`` column; the pcap pipeline widens it to columns only
at its own sink, in Arrow, when a consumer needs output parity
(``process_pcap(widen=True)``; 1525 top-level columns is hostile to
the planner, SURVEY §4.2).
"""

from __future__ import annotations

# 1525-byte feature width per arXiv:2305.11039 (BytesProcessor.py:172).
FEATURE_WIDTH = 1525


def _feature_matrix(payloads, width: int = FEATURE_WIDTH):
    """The shared numpy kernel for BytesProcessor.py:270-286: pad/
    truncate each payload to ``width`` bytes into one ``(n, width)``
    uint8 matrix and scale by 1/255 into float32 (uint8 /
    np.float32(255) keeps the reference's exact value-based
    promotion).  A per-row fill: a vectorized scatter over the Arrow
    binary buffers gives the same values but measured 4.5x slower."""
    import numpy as np

    mat = np.zeros((len(payloads), width), dtype=np.uint8)
    for i, p in enumerate(payloads):
        if p:
            a = np.frombuffer(p, dtype=np.uint8)[:width]
            mat[i, : len(a)] = a
    return mat / np.float32(255)


def features_matrix(payloads, width: int = FEATURE_WIDTH):
    """:func:`_feature_matrix` as a list of 1-D float32 rows (views of
    the one matrix)."""
    return list(_feature_matrix(payloads, width))


def features_array(payloads, width: int = FEATURE_WIDTH):
    """:func:`_feature_matrix` as an Arrow ``list<float>`` array wrapped
    around the matrix's flat buffer (int32 offsets, no per-row
    objects) — the column every pcap reader emits.  Int32 offsets cap
    one array at 2^31 / ``width`` rows; callers batch below that."""
    import numpy as np
    import pyarrow as pa

    flat = _feature_matrix(payloads, width).ravel()
    offsets = np.arange(len(payloads) + 1, dtype=np.int64) * width
    if offsets[-1] >= 2**31:
        raise ValueError(f"{len(payloads)} rows x {width} floats overflow int32 list offsets")
    return pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), pa.array(flat))
