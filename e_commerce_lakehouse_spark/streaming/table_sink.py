"""The lakehouse table as a native Structured Streaming SINK.

``df.writeStream.format("lakehouse_sink").option("path", root)`` — the
counterpart of ``table_source.py``, via PySpark 4's Python Data Source
API (``DataSourceStreamWriter``). The existing ``foreachBatch`` ingest
paths (``streaming/ingest.py``) stay the right tool for MERGE upserts;
this sink is the APPEND fast path with the protocol doing the work:

- ``write()`` runs per partition on executors: rows are batched into
  ONE zstd parquet file under ``data/stream-sink-…`` (Arrow, no Spark
  job inside the sink), and the file's footer stats are computed
  in-place (``_footer_stats`` — import-light, executor-safe) so the
  driver never re-reads what executors just wrote;
- ``commit()`` runs once per epoch on the driver: the collected file
  messages become ONE atomic append commit carrying Delta-style
  ``(txn_app, txn_epoch)`` markers, so a re-delivered epoch (streaming
  checkpoint crashed after the table commit) is detected via
  ``txn_last_epoch`` and SKIPPED — exactly-once end to end, with the
  skipped epoch's orphan files left to the age-bounded GC;
- ``abort()`` deletes the epoch's written files.

Scale shape: no driver data path at all — executors write, the driver
commits O(files) metadata. One file per input partition per epoch;
compaction owns final file sizing (as everywhere in this engine).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    WriterCommitMessage,
)

#: rows buffered per Arrow write chunk inside one task
_CHUNK_ROWS = 65_536


@dataclass
class _FileMessage(WriterCommitMessage):
    path: str = ""
    rows: int = 0
    bytes: int = 0
    stats: dict = field(default_factory=dict)
    blooms: dict | None = None
    nulls: dict | None = None


class LakehouseStreamWriter(DataSourceStreamWriter):
    def __init__(self, options: dict, schema):
        self._root = options["path"]
        self._app = options.get(
            "app_id",
            "sink-" + __import__("hashlib").md5(
                os.path.abspath(self._root).encode()
            ).hexdigest()[:12],
        )
        stat_cols = options.get("stat_columns", "conv_id,ts")
        self._stat_columns = tuple(c for c in stat_cols.split(",") if c)
        # bloom spec resolved DRIVER-side at sink construction (the
        # executor write task must stay session- and metadata-free)
        from ..table.meta import Table

        t = Table.load(self._root)
        self._bloom_spec = t.bloom_spec()
        # write-schema version captured at STREAM START: entries commit
        # with this sv, so files written here bind their column names
        # correctly even if an evolution lands mid-stream
        self._sv = t.schema_version_count() or None
        from ..table.scan import resolve_schema

        expected = {f.name for f in resolve_schema(t).fields}
        got = [f.name for f in schema.fields]
        unknown = sorted(set(got) - expected)
        if unknown:
            # by-name binding makes column ORDER and missing nullable
            # columns (a schema-lagged producer, like the batch append
            # path accepts) both safe — only names the current schema
            # does not know are refusable: after a rename they would
            # land unreadable (the old name is burned, never re-bound)
            raise ValueError(
                f"lakehouse_sink stream columns {unknown} are not in the "
                f"table's current schema {sorted(expected)} — align the "
                f"stream (after a rename, produce the NEW column name)"
            )
        self._schema = schema
        self._run = uuid.uuid4().hex[:12]

    # ---- executor side ----

    def write(self, iterator: Iterator) -> _FileMessage:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from .._footer_stats import file_stats_dict

        arrow_schema = to_arrow_schema(self._schema)
        names = arrow_schema.names
        chunks = []
        buf: list[tuple] = []

        def _flush():
            if buf:
                cols = list(zip(*buf))
                arrs = [
                    pa.array(cols[i], type=arrow_schema.field(i).type)
                    for i in range(len(names))
                ]
                chunks.append(pa.record_batch(arrs, schema=arrow_schema))
                buf.clear()

        for row in iterator:
            buf.append(tuple(row))
            if len(buf) >= _CHUNK_ROWS:
                _flush()
        _flush()
        if not chunks:
            return _FileMessage()  # empty partition: no file
        tbl = pa.Table.from_batches(chunks, schema=arrow_schema)
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        out_dir = os.path.join(self._root, "data", f"stream-sink-{self._run}")
        os.makedirs(out_dir, exist_ok=True)
        abs_path = os.path.join(out_dir, f"part-{pid:05d}-{uuid.uuid4().hex[:8]}.parquet")
        pq.write_table(tbl, abs_path, compression="zstd",
                       coerce_timestamps="us", allow_truncated_timestamps=True)
        d = file_stats_dict(abs_path, self._root, self._stat_columns,
                            bloom_spec=self._bloom_spec)
        return _FileMessage(path=d["path"], rows=d["rows"],
                            bytes=d["bytes"], stats=d["stats"],
                            blooms=d.get("blooms"), nulls=d.get("nulls"))

    # ---- driver side ----

    def commit(self, messages, batchId: int) -> None:
        from ..table.meta import DataFileEntry, Table
        from .ingest import txn_last_epoch

        entries = [
            DataFileEntry(path=m.path, rows=m.rows, bytes=m.bytes, stats=m.stats,
                          blooms=getattr(m, "blooms", None), sv=self._sv,
                          nulls=getattr(m, "nulls", None))
            for m in messages
            if m is not None and m.rows > 0
        ]
        table = Table.load(self._root)
        last = txn_last_epoch(table, self._app)
        if last is not None and batchId <= last:
            # re-delivered epoch after a checkpoint crash: the table
            # already holds this batch — drop the duplicate files now
            # (best effort; GC covers a crash in between)
            for e in entries:
                try:
                    os.unlink(os.path.join(self._root, e.path))
                except OSError:
                    pass
            return
        if not entries:
            return
        # table CHECK constraints hold on EVERY append path in this
        # engine. The Python Data Source commit() hook runs in a worker
        # process with NO SparkSession (getActiveSession() is None), so
        # the sink cannot evaluate SQL predicates here — rather than let
        # unvalidated rows land, it REFUSES the epoch on constrained
        # tables and points at the enforcing ingest paths. The invariant
        # (nothing unvalidated ever commits) stays intact.
        if table.constraints():
            self.abort(messages, batchId)
            raise ValueError(
                "lakehouse_sink cannot enforce CHECK constraints "
                f"({sorted(table.constraints())}) — use "
                "streaming.ingest.ingest_append_stream or a foreachBatch "
                "MERGE, which validate every micro-batch"
            )
        table.commit_append(
            entries,
            {"op": "stream-append", "txn_app": self._app, "txn_epoch": batchId},
        )

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and m.path:
                try:
                    os.unlink(os.path.join(self._root, m.path))
                except OSError:
                    pass


class LakehouseSinkDataSource(DataSource):
    """``df.writeStream.format("lakehouse_sink").option("path", root)``
    after ``spark.dataSource.register(LakehouseSinkDataSource)``.

    Options: ``path`` (existing table root), ``app_id`` (transaction
    stream id; default derived from the root — one logical stream per
    table unless overridden), ``stat_columns`` (comma-separated pruning
    stat columns; default ``conv_id,ts``)."""

    @classmethod
    def name(cls) -> str:
        return "lakehouse_sink"

    def schema(self):  # sink: schema comes from the written frame
        raise NotImplementedError("lakehouse_sink infers schema from the stream")

    def streamWriter(self, schema, overwrite: bool) -> LakehouseStreamWriter:
        if overwrite:
            raise ValueError("lakehouse_sink is append-only (complete/update "
                             "modes unsupported); use foreachBatch MERGE for upserts")
        return LakehouseStreamWriter(self.options, schema)
