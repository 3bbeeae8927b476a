"""The pcap pipeline as a Structured Streaming job (SURVEY §2.9).

The reference's hand-rolled micro-batch executor — accumulate
chunk_size packets, process, write ``data_<N>.parquet``, reset state
(BytesProcessor.py:62-94) — is exactly Structured Streaming's
micro-batch model.  Here a landing directory of capture files
(classic pcap and pcapng) is the stream: each newly arrived file
becomes (part of) a micro-batch, runs through the batch reader's own
builder (``sources.pcap.packet_batches``: parse, range filter and
featurize in one ``mapInArrow``, decoding straight from the file's
Arrow ``content`` buffer), is labeled, and is appended to the
output with exactly-once file-sink semantics (checkpointed — the
reference restarts from scratch on failure).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from bytesprocessor_spark.functions.bytes import FEATURE_WIDTH
from bytesprocessor_spark.operators.labeling import AttackSpec, label_attacks
from bytesprocessor_spark.sources.pcap import FEATURED_SCHEMA, _start, packet_batches


def stream_pcap_directory(
    spark: SparkSession,
    landing_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    attacks: Sequence[AttackSpec] = (),
    ranges: Sequence[tuple[float, float]] = (),
    feature_width: int = FEATURE_WIDTH,
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    """Start the streaming pipeline; returns the StreamingQuery.

    ``maxFilesPerTrigger`` bounds micro-batch size the way chunk_size
    bounds the reference's loop (BytesProcessor.py:39) — backpressure
    by construction.
    """
    files = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", "*.{pcap,pcapng}")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(landing_dir)
    )

    def parse_files(batches):
        for files_batch in batches:
            for content in files_batch.column(0):
                buf = memoryview(content.as_buffer())  # the Arrow bytes, not a copy
                if len(buf) >= 24:
                    yield from packet_batches(
                        buf, *_start(buf), ranges=ranges, features=True, feature_width=feature_width
                    )

    packets = files.select("content").mapInArrow(parse_files, FEATURED_SCHEMA)
    feats = label_attacks(packets, attacks).drop("payload")

    return (
        feats.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )
