"""The end-to-end pcap -> labeled-feature-Parquet pipeline — the
Spark-first re-expression of ``BytesProcessor.process_pcap``
(BytesProcessor.py:48-108).

Reference dataflow and its mapping (SURVEY §3.1):

    open + dpkt reader + chunk loop (BP:56-104)  -> read_pcap (driver chunk index + mapInArrow)
    spawn-pool sub-chunk parse (BP:121-158)      -> executor task parallelism
    _extract_ranges (BP:145,339-354)             -> range filter fused into the parse,
                                                    then extract_ranges (pushable OR-of-between)
    label_attack_data (BP:167,288-337)           -> label_attacks (codegen when-chain)
    np.frombuffer + pad/normalize (BP:173-184)   -> features_array, fused into the parse
                                                    (flat float32 buffer -> Arrow list<float>)
    data_<N>/adversarial_<N>.parquet (BP:110-119)-> dual parquet sinks

No shuffle anywhere: parse, filter, label, featurize and write pipeline
within one stage per input split, which is exactly the property that
makes this run at 100 TB — every pcap file is an independent unit of
work.  The adversarial sink re-reads the primary output with an
``is_forward`` pushdown filter instead of caching the whole labeled
set (BP holds it in RAM, BP:160-194).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bytesprocessor_spark.functions.bytes import FEATURE_WIDTH, features_array, widen_features
from bytesprocessor_spark.operators.labeling import AttackSpec, extract_ranges, label_attacks
from bytesprocessor_spark.operators.quality import assert_no_nulls
from bytesprocessor_spark.sources.pcap import read_pcap


def with_features(
    df: DataFrame,
    payload_col: str = "payload",
    out_col: str = "features",
    width: int = FEATURE_WIDTH,
) -> DataFrame:
    """Pad/truncate payload bytes to ``width`` and scale to [0,1]
    float32 (BytesProcessor.py:270-286) for any frame with a binary
    column: an Arrow UDF over the pcap readers' own flat-buffer kernel
    (:func:`features_array`)."""

    @F.arrow_udf(T.ArrayType(T.FloatType()))
    def featurize(payloads: pa.Array) -> pa.Array:
        return features_array(payloads.to_pylist(), width)

    return df.withColumn(out_col, featurize(F.col(payload_col)))


def process_pcap(
    spark: SparkSession,
    pcap_path: str,
    output_dir: str,
    attacks: Sequence[AttackSpec] = (),
    ranges: Sequence[tuple[float, float]] = (),
    feature_width: int = FEATURE_WIDTH,
    widen: bool = False,
    check_quality: bool = True,
    mode: str = "overwrite",
    split_packets: int | None = None,
    partition_by: Sequence[str] = (),
) -> tuple[str, str]:
    """Run the full pipeline; returns (data_dir, adversarial_dir).

    ``widen=True`` reproduces the reference's 1525 ``byte(i)`` output
    columns (BP:183-184) — applied only at the sink; the plan carries
    one array column (SURVEY §4.2).

    The range filter and the featurize kernel run inside the parse's
    own Arrow batch (one Python crossing for the whole stage — the
    reference's chunk-local dataflow, BP:121-187).
    """
    data_dir = f"{output_dir}/data"
    adv_dir = f"{output_dir}/adversarial"

    packets = read_pcap(
        spark,
        pcap_path,
        split_packets=split_packets,
        ranges=ranges,
        features=True,
        feature_width=feature_width,
    )
    in_range = extract_ranges(packets, ranges)
    feats = label_attacks(in_range, attacks).drop("payload")
    out = widen_features(feats, "features", feature_width) if widen else feats

    # partition_by=("label",) hive-partitions the sink so downstream
    # training jobs that read one class (the common access pattern for
    # the adversarial/benign split) get partition pruning instead of a
    # full scan — the 100 TB layout. Default off for reference parity.
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_dir)
    written = spark.read.parquet(data_dir)

    if check_quality:
        # Q1 invariant (BP:168,180,192): fail the job on null/NaN in
        # any scalar output column.  Checked on the *written* output so
        # the (expensive) parse+featurize plan runs exactly once.
        scalar_cols = [
            f.name for f in written.schema.fields if not isinstance(f.dataType, T.ArrayType)
        ]
        assert_no_nulls(written, scalar_cols, context="pcap pipeline output")

    # Secondary filtered sink (BP:115-118): pushdown re-read of the
    # primary output — no cache, no second parse.
    written.filter(F.col("is_forward")).write.mode(mode).parquet(adv_dir)
    return data_dir, adv_dir


def label_attack_data(
    df: DataFrame,
    attacks: Sequence[AttackSpec],
) -> DataFrame:
    """Standalone labeling entry point mirroring the reference's public
    ``label_attack_data`` (BytesProcessor.py:288-337): adds ``label``
    (last matching attack wins) and ``is_forward`` to any frame with
    timestamp/src_ip/dst_ip columns."""
    return label_attacks(df, attacks)
