from .ingest import (
    ingest_append_stream,
    ingest_available_now,
    stream_dedup,
    txn_last_epoch,
    windowed_counts,
)
from .table_sink import LakehouseSinkDataSource
from .table_source import LakehouseStreamDataSource

__all__ = [
    "LakehouseSinkDataSource",
    "LakehouseStreamDataSource",
    "ingest_append_stream",
    "ingest_available_now",
    "stream_dedup",
    "txn_last_epoch",
    "windowed_counts",
]
