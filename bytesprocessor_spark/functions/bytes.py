"""Fixed-width byte-feature functions (SURVEY §2.7 F1-F2).

The reference pads/truncates each payload to 1525 bytes and scales by
1/255 into a float32 matrix (BytesProcessor.py:270-286), then widens to
1525 ``byte(i)`` columns (BytesProcessor.py:182-184).

One route computes it: the numpy kernel :func:`_feature_matrix`, which
reads an Arrow binary array's data buffer and offsets directly — no
Python object per payload.  The pcap readers build their ``features``
column with :func:`features_array` from the payload column of their own
Arrow batch, and ``pipeline.with_features`` passes its Arrow UDF input
straight to the same function.  :func:`features_matrix` and
:func:`features_array` also take a plain sequence of ``bytes`` (wrapped
into a binary array first).  The vector stays one ``array<float>``
column; the pcap pipeline widens it to columns only at its own sink, in
Arrow, when a consumer needs output parity (``process_pcap(widen=True)``;
1525 top-level columns is hostile to the planner, SURVEY §4.2).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from numpy.lib.stride_tricks import sliding_window_view

# 1525-byte feature width per arXiv:2305.11039 (BytesProcessor.py:172).
FEATURE_WIDTH = 1525


def _binary(payloads) -> pa.Array:
    """``payloads`` as an Arrow binary array (a sequence of bytes-like
    values or NULLs is wrapped; an Arrow array passes through)."""
    return payloads if isinstance(payloads, pa.Array) else pa.array(payloads, pa.binary())


def _feature_matrix(payloads: pa.Array, width: int = FEATURE_WIDTH) -> np.ndarray:
    """The shared numpy kernel for BytesProcessor.py:270-286 over an
    Arrow binary array: pad/truncate each payload to ``width`` bytes
    into one ``(n, width)`` uint8 matrix and scale by 1/255 into
    float32 (uint8 / np.float32(255) keeps the reference's exact
    value-based promotion).  NULL payloads give zero rows.

    Each row is a ``width``-byte window of the data buffer (zero-padded
    at its end) taken at the row's offset, multiplied by a window of
    ``width`` ones then ``width`` zeros taken at ``width - length``,
    which clears the bytes past a short payload's own end."""
    n = len(payloads)
    if n == 0:
        return np.zeros((0, width), dtype=np.float32)
    _, offsets_buf, data_buf = payloads.buffers()
    dtype = np.int64 if pa.types.is_large_binary(payloads.type) else np.int32
    offsets = np.frombuffer(offsets_buf, dtype, n + 1, payloads.offset * np.dtype(dtype).itemsize)
    lens = np.diff(offsets)
    if payloads.null_count:
        lens = np.where(payloads.is_null().to_numpy(zero_copy_only=False), 0, lens)
    base, stop = int(offsets[0]), int(offsets[-1])
    padded = np.zeros(stop - base + width, dtype=np.uint8)
    if stop > base:
        padded[: stop - base] = np.frombuffer(data_buf, np.uint8, stop - base, base)
    mat = sliding_window_view(padded, width)[offsets[:-1] - base]
    ones_then_zeros = np.repeat(np.array([1, 0], dtype=np.uint8), width)
    mat *= sliding_window_view(ones_then_zeros, width)[width - np.minimum(lens, width)]
    return mat / np.float32(255)


def features_matrix(payloads, width: int = FEATURE_WIDTH):
    """:func:`_feature_matrix` as a list of 1-D float32 rows (views of
    the one matrix)."""
    return list(_feature_matrix(_binary(payloads), width))


def features_array(payloads, width: int = FEATURE_WIDTH):
    """:func:`_feature_matrix` as an Arrow ``list<float>`` array wrapped
    around the matrix's flat buffer (int32 offsets, no per-row
    objects) — the column every pcap reader emits.  Int32 offsets cap
    one array at 2^31 / ``width`` rows; callers batch below that."""
    payloads = _binary(payloads)
    flat = _feature_matrix(payloads, width).ravel()
    offsets = np.arange(len(payloads) + 1, dtype=np.int64) * width
    if offsets[-1] >= 2**31:
        raise ValueError(f"{len(payloads)} rows x {width} floats overflow int32 list offsets")
    return pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), pa.array(flat))
