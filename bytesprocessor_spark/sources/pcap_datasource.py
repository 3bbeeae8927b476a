"""Spark 4 Python DataSource for pcap files (SURVEY §7 step 8).

Makes the record-offset split reader a first-class source:

    spark.dataSource.register(PcapDataSource)
    df = spark.read.format("pcap").option("split_packets", 50000).load(path)

Planning and parsing are :func:`bytesprocessor_spark.sources.pcap.read_pcap`'s:

  * ``partitions()`` (driver): ``plan_chunks`` header-walks each file's
    record index — 16 bytes read + one seek per record, no payload ever
    loaded — into one InputPartition per ~``split_packets``-record
    byte range.
  * ``read(partition)`` (executor): ``chunk_batches`` range-reads
    [offset, offset+length) and yields the shared builder's Arrow
    record batches.

Object-storage posture: both the header walk and the range read only
need ``open() -> seek/read`` semantics, i.e. exactly what an S3-style
ranged GET provides.  Partitions are (path, offset, length) triples, so
executors issue one bounded GET per chunk and never hold a whole
capture in memory; the seam is ``sources.pcap.chunk_batches``.

The reference reads captures serially in chunked batches
(BytesProcessor.py:62-81, 196-205); this source is the distributed
equivalent with no duplicate-tail bug (SURVEY §3.4.4).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pyarrow as pa
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from bytesprocessor_spark.sources.pcap import (
    DEFAULT_SPLIT_PACKETS,
    PACKET_SCHEMA,
    chunk_batches,
    plan_chunks,
)


class PcapChunk(InputPartition):
    """One byte-range of whole capture records (classic pcap or pcapng
    blocks): the unit of parallelism."""

    def __init__(self, chunk: tuple[str, int, int, str, float, str]):
        self.chunk = chunk


class PcapReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pcap source requires a path: .load('/data/*.pcap')")
        self.split_packets = int(options.get("split_packets", DEFAULT_SPLIT_PACKETS))
        # opt-in extended protocol parse (ICMP/ICMPv6/SCTP/IPv6)
        self.extended = str(options.get("extended", "false")).lower() == "true"

    def partitions(self) -> Sequence[PcapChunk]:
        parts = [PcapChunk(c) for c in plan_chunks(self.path, self.split_packets)]
        # Spark requires >= 1 partition; an empty capture yields no rows.
        return parts or [PcapChunk((self.path, 0, 0, "<", 1e6, ""))]

    def read(self, partition: PcapChunk) -> Iterator[pa.RecordBatch]:
        return chunk_batches(partition.chunk, extended=self.extended)


class PcapDataSource(DataSource):
    """``spark.read.format("pcap")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "pcap"

    def schema(self):
        return PACKET_SCHEMA

    def reader(self, schema) -> PcapReader:
        return PcapReader(self.options)
