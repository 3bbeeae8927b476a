from bytesprocessor_spark.sources.tables import (
    TABLES,
    compact_parquet,
    load_table,
    load_tables,
    read_csv_tolerant,
    read_json_tolerant,
    register_views,
    write_bucketed,
)
from bytesprocessor_spark.sources.layout import quantize, zorder_write, zvalue
from bytesprocessor_spark.sources.pcap import read_pcap, write_pcap
from bytesprocessor_spark.sources.pcapng import write_pcapng
from bytesprocessor_spark.sources.txnlog import (
    TxnConflict,
    txn_changes,
    txn_compact,
    txn_exactly_once_sink,
    txn_read,
    txn_vacuum,
    txn_write,
)

__all__ = [
    "TxnConflict",
    "txn_changes",
    "txn_compact",
    "txn_exactly_once_sink",
    "txn_read",
    "txn_vacuum",
    "txn_write",
    "quantize",
    "zorder_write",
    "zvalue",
    "TABLES",
    "compact_parquet",
    "load_table",
    "load_tables",
    "read_csv_tolerant",
    "read_json_tolerant",
    "register_views",
    "write_bucketed",
    "read_pcap",
    "write_pcap",
    "write_pcapng",
]
