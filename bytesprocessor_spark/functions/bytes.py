"""Fixed-width byte-feature functions (SURVEY §2.7 F1-F2).

The reference pads/truncates each payload to 1525 bytes and scales by
1/255 into a float32 matrix (BytesProcessor.py:270-286), then widens to
1525 ``byte(i)`` columns (BytesProcessor.py:182-184).

Spark-first expression: keep the vector an ``array<float>`` column —
one Catalyst expression, whole-stage codegen, no Python — and widen to
columns only at the final sink if a consumer needs output parity
(1525 top-level columns is hostile to the planner; SURVEY §4.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

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


def bytes_to_features(payload: Column, width: int = FEATURE_WIDTH) -> Column:
    """binary -> array<float> of exactly ``width``: unpack bytes,
    truncate, zero-pad, scale by 1/255 like the reference
    (uint8 / np.float32(255) -> float32, BytesProcessor.py:284).

    Pure built-ins, no Python: bytes are addressed through the hex
    encoding (2 chars per byte; ``conv`` base-16 decode) over a
    generated index sequence, which keeps the whole unpack inside
    whole-stage codegen.  The pcap readers compute features with
    :func:`features_array` inside their own Arrow batch (zero extra
    Python crossings); this expression is the composable SQL form for
    tables that already carry binary columns.
    """
    hx = F.hex(payload)
    n = F.length(payload)
    idx = F.sequence(F.lit(0), F.lit(width - 1))
    b = F.transform(
        idx,
        lambda i: F.when(
            i < n, F.conv(hx.substr(i * 2 + 1, F.lit(2)), 16, 10).cast("int")
        ).otherwise(F.lit(0)),
    )
    return F.transform(b, lambda x: (x.cast("float") / F.lit(255.0).cast("float")))


def pad_normalize(arr: Column, width: int = FEATURE_WIDTH, scale: float = 255.0) -> Column:
    """Generic fixed-width pad+truncate+scale over an existing numeric
    array column (the array-typed analogue of BytesProcessor.py:277-284):
    ``slice(concat(arr, zeros), 1, width) / scale``."""
    padded = F.slice(
        F.concat(arr, F.array_repeat(F.lit(0.0).cast("float"), width)), 1, width
    )
    return F.transform(padded, lambda x: (x.cast("double") / F.lit(float(scale))))


def widen_features(
    df: DataFrame,
    arr_col: str = "features",
    width: int = FEATURE_WIDTH,
    name_fmt: str = "byte({i})",
) -> DataFrame:
    """Widen array<float> to ``width`` top-level float columns named
    ``byte(0)..byte(N)`` for output parity with BytesProcessor.py:183-184.

    Generated through selectExpr (one parsed projection) rather than
    thousands of Python Column objects — planner cost stays linear.
    Use only at the sink; keep the array form internally (SURVEY §4.2).
    """
    keep = [f"`{c}`" for c in df.columns if c != arr_col]
    wide = [
        f"element_at(`{arr_col}`, {i + 1}) AS `{name_fmt.format(i=i)}`" for i in range(width)
    ]
    return df.selectExpr(*keep, *wide)
