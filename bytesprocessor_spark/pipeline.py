"""The end-to-end pcap -> labeled-feature-Parquet pipeline — the
Spark-first re-expression of ``BytesProcessor.process_pcap``
(BytesProcessor.py:48-108).

Reference dataflow and its mapping (SURVEY §3.1):

    open + dpkt reader + chunk loop (BP:56-104)  -> plan_chunks (driver chunk index)
    spawn-pool sub-chunk parse (BP:121-158)      -> executor task parallelism
    _extract_ranges (BP:145,339-354)             -> range filter fused into the parse
    label_attack_data (BP:167,288-337)           -> label_batch (pyarrow.compute twin of
                                                    label_attacks' when-chain)
    np.frombuffer + pad/normalize (BP:173-184)   -> features_array, fused into the parse
                                                    (flat float32 buffer -> Arrow list<float>)
    data_<N>/adversarial_<N>.parquet (BP:110-119)-> two ParquetWriters per task, published
                                                    as a pair by the driver (commit_sinks)

One Spark job of one stage, no shuffle: every task parses, filters,
featurizes, labels and writes its chunks one Arrow batch at a time —
the reference's worker shape, which writes ``data_<N>`` and
``adversarial_<N>`` from the frame it holds (BP:110-119,160-194) —
and only a small manifest row per task crosses into the JVM.  The
features never do, and the adversarial rows are written from the same
batch instead of re-read from the primary output.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence
from urllib.parse import urlparse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from bytesprocessor_spark.functions.bytes import FEATURE_WIDTH, features_array
from bytesprocessor_spark.operators.labeling import AttackSpec, label_attacks, label_batch
from bytesprocessor_spark.operators.quality import DataQualityError, batch_null_counts
from bytesprocessor_spark.sources.pcap import empty_batch, map_chunks


def with_features(
    df: DataFrame,
    payload_col: str = "payload",
    out_col: str = "features",
    width: int = FEATURE_WIDTH,
) -> DataFrame:
    """Pad/truncate payload bytes to ``width`` and scale to [0,1]
    float32 (BytesProcessor.py:270-286) for any frame with a binary
    column: an Arrow UDF that hands its binary array straight to the
    pcap readers' own buffer kernel (:func:`features_array`)."""

    @F.arrow_udf(T.ArrayType(T.FloatType()))
    def featurize(payloads: pa.Array) -> pa.Array:
        return features_array(payloads, width)

    return df.withColumn(out_col, featurize(F.col(payload_col)))


# One row per task: the part files it wrote (NULL when none) and, when
# the job checks quality, the NULL/NaN count of every scalar output
# column in schema order.
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("data_file", T.StringType()),
        T.StructField("adv_file", T.StringType()),
        T.StructField("null_counts", T.ArrayType(T.LongType())),
    ]
)

# Sink directory name -> its manifest column.
_SINKS = {"data": "data_file", "adversarial": "adv_file"}


def sink_batch(
    batch: pa.RecordBatch,
    attacks: Sequence[AttackSpec],
    width: int = FEATURE_WIDTH,
    widen: bool = False,
) -> pa.RecordBatch:
    """One featured packet batch -> the data sink's batch: label it,
    drop ``payload``, and with ``widen`` split the features matrix into
    the reference's ``byte(i)`` float columns (BP:183-184)."""
    out = label_batch(batch.drop_columns(["payload"]), attacks)
    if not widen:
        return out
    mat = out.column("features").flatten().to_numpy().reshape(-1, width)
    keep = out.drop_columns(["features"])
    return pa.RecordBatch.from_arrays(
        keep.columns + [pa.array(col) for col in np.ascontiguousarray(mat.T)],
        names=keep.schema.names + [f"byte({i})" for i in range(width)],
    )


def _local_path(path: str) -> str:
    """``path`` as a local filesystem path: ``file:`` URIs lose their
    scheme; other URIs (hdfs://, s3a://, ...) are rejected, since the
    sinks are written with local file operations."""
    url = urlparse(path)
    if not url.scheme:
        return path
    if url.scheme == "file" and not url.netloc:
        return url.path
    raise ValueError(f"output_dir must be a local path or file: URI, got {path!r}")


def _part_name(tag: str, codec: str) -> str:
    return f"part-{tag}{'' if codec == 'none' else '.' + codec}.parquet"


def _parquet_codec(spark: SparkSession) -> str:
    """The session's parquet codec, named as pyarrow names it."""
    codec = spark.conf.get("spark.sql.parquet.compression.codec").lower()
    return {"uncompressed": "none", "lz4_raw": "lz4"}.get(codec, codec)


def commit_sinks(
    output_dir: str,
    staging: str,
    manifests,
    schema: pa.Schema,
    codec: str = "snappy",
    check_quality: bool = True,
) -> tuple[str, str]:
    """Publish the part files named in ``manifests`` from
    ``staging/{data,adversarial}`` as ``output_dir/{data,adversarial}``
    and remove ``staging``, whatever happens.

    With ``check_quality`` any NULL/NaN in a scalar column raises
    :class:`DataQualityError` first (the reference's hard stop,
    BP:168,180,192).  Files of failed or retried task attempts are
    never named in a manifest, so they are never published.  A sink
    with no rows gets one empty file carrying ``schema``.

    Any failure leaves the previous ``data/`` and ``adversarial/`` in
    place.  The one non-atomic window left is the final renames that
    move the previous pair aside and the new pair in: a crash inside
    it can leave one sink new and one old, or a previous sink parked
    under ``staging/previous``.
    """
    try:
        if check_quality:
            cols = [f.name for f in schema if not pa.types.is_nested(f.type)]
            totals = [0] * len(cols)
            for m in manifests:
                if m["null_counts"]:
                    totals = [t + n for t, n in zip(totals, m["null_counts"])]
            bad = {c: n for c, n in zip(cols, totals) if n > 0}
            if bad:
                raise DataQualityError(f"nulls detected (pcap pipeline output): {bad}")

        ready, aside = os.path.join(staging, "ready"), os.path.join(staging, "previous")
        for sink, key in _SINKS.items():
            dst = os.path.join(ready, sink)
            os.makedirs(dst)
            names = [m[key] for m in manifests if m[key]]
            for name in names:
                os.rename(os.path.join(staging, sink, name), os.path.join(dst, name))
            if not names:
                pq.write_table(schema.empty_table(), os.path.join(dst, _part_name("empty", codec)),
                               compression=codec)
            open(os.path.join(dst, "_SUCCESS"), "wb").close()

        os.makedirs(aside)
        placed = []
        try:
            for sink in _SINKS:
                if os.path.lexists(os.path.join(output_dir, sink)):
                    os.rename(os.path.join(output_dir, sink), os.path.join(aside, sink))
            for sink in _SINKS:
                os.rename(os.path.join(ready, sink), os.path.join(output_dir, sink))
                placed.append(sink)
        except BaseException:
            for sink in placed:
                shutil.rmtree(os.path.join(output_dir, sink))
            for sink in os.listdir(aside):
                os.rename(os.path.join(aside, sink), os.path.join(output_dir, sink))
            raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return os.path.join(output_dir, "data"), os.path.join(output_dir, "adversarial")


def process_pcap(
    spark: SparkSession,
    pcap_path: str,
    output_dir: str,
    attacks: Sequence[AttackSpec] = (),
    ranges: Sequence[tuple[float, float]] = (),
    feature_width: int = FEATURE_WIDTH,
    widen: bool = False,
    check_quality: bool = True,
    split_packets: int | None = None,
) -> tuple[str, str]:
    """Run the full pipeline; returns (data_dir, adversarial_dir),
    replacing any previous output.

    One ``mapInArrow`` over the driver-planned chunk ids: each task
    parses its chunks with the range filter and featurize fused in
    (:func:`chunk_batches`), labels each batch (:func:`label_batch`),
    appends it to its data part file and its ``is_forward`` rows to
    its adversarial part file, flushing a row group per batch, and
    yields one manifest row.  Tasks write under
    ``output_dir/_staging-<uuid>/``; :func:`commit_sinks` checks the
    manifests' NULL/NaN counts and publishes the two sinks as a pair.
    Part files use the session's ``spark.sql.parquet.compression.codec``.

    ``widen=True`` reproduces the reference's 1525 ``byte(i)`` output
    columns (BP:183-184), split from the features matrix inside the
    task.  For a label-partitioned layout, write the output on with
    ``sources.tables.write_parquet(..., partition_by=)``.

    Output paths are local (or shared-mount) filesystem paths, like
    the capture's own range reads: a ``file:`` URI is taken as its
    path, and any other URI scheme raises ``ValueError``.
    """
    output_dir = _local_path(output_dir)
    attacks = tuple(attacks)
    codec = _parquet_codec(spark)
    job = uuid.uuid4().hex
    staging = os.path.abspath(os.path.join(output_dir, f"_staging-{job}"))
    schema = sink_batch(empty_batch(True), attacks, feature_width, widen).schema
    manifest_schema = to_arrow_schema(MANIFEST_SCHEMA)

    def write_parts(batches):
        ctx = TaskContext.get()
        name = _part_name(f"{ctx.partitionId():05d}-{ctx.attemptNumber()}-{job}", codec)
        writers, nulls = {}, None

        def append(sink, out):
            if sink not in writers:
                os.makedirs(os.path.join(staging, sink), exist_ok=True)
                writers[sink] = pq.ParquetWriter(
                    os.path.join(staging, sink, name), out.schema, compression=codec
                )
            writers[sink].write_batch(out)

        try:
            for batch in batches:
                out = sink_batch(batch, attacks, feature_width, widen)
                if check_quality:
                    counts = list(batch_null_counts(out).values())
                    nulls = counts if nulls is None else [a + b for a, b in zip(nulls, counts)]
                append("data", out)
                fwd = out.filter(out.column("is_forward"))
                if fwd.num_rows:
                    append("adversarial", fwd)
        finally:
            for w in writers.values():
                w.close()
        yield pa.RecordBatch.from_pydict(
            {
                "data_file": [name if "data" in writers else None],
                "adv_file": [name if "adversarial" in writers else None],
                "null_counts": [nulls],
            },
            schema=manifest_schema,
        )

    job_df = map_chunks(
        spark, pcap_path, split_packets, write_parts, MANIFEST_SCHEMA,
        ranges=ranges, features=True, feature_width=feature_width,
    )
    os.makedirs(staging)
    try:
        manifests = job_df.collect()
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    return commit_sinks(output_dir, staging, manifests, schema, codec, check_quality)


def label_attack_data(
    df: DataFrame,
    attacks: Sequence[AttackSpec],
) -> DataFrame:
    """Standalone labeling entry point mirroring the reference's public
    ``label_attack_data`` (BytesProcessor.py:288-337): adds ``label``
    (last matching attack wins) and ``is_forward`` to any frame with
    timestamp/src_ip/dst_ip columns."""
    return label_attacks(df, attacks)
