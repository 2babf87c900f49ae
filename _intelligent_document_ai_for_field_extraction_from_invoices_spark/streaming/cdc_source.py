"""Structured Streaming source over the catalog's commit log.

`spark.readStream.format("catalog_cdc")` turns any catalog table into a
CDC feed: each micro-batch is exactly the rows appended by the commits
between two snapshot versions (the same delta semantics as
`Catalog.read_incremental`), tagged with `_commit_version`/`_commit_txn`.
Offsets ARE snapshot versions, so Structured Streaming's checkpointing
gives exactly-once delivery for free: a restarted query resumes from the
last committed version, never re-reading or skipping a commit.

Built on PySpark 4's Python DataSource API (pyspark.sql.datasource — a
public, documented extension point). Batches are yielded as Arrow
RecordBatches, so rows never materialize through Python objects.

Semantics (one rule shared with read_incremental, `Catalog._commit_delta`):
- `append` commits contribute the data files they added (data files are
  diffed against the parent, so a manifest merge never re-delivers rows).
- `compact` commits are logically no-ops and contribute nothing.
- `overwrite`/`rollback` REMOVE rows — the stream fails loudly instead
  of silently missing deletions (restart with a fresh `sinceversion`
  after a table replace).
- An initial `overwrite` (table creation) before the stream's start
  offset is never read; start the stream with `sinceversion=0` to
  consume a table from its creation.

Options: `path` (catalog root), `table`, `sinceversion` (start version,
default = the CURRENT version at stream start, i.e. only NEW commits).

Scale shape: offset math is metadata-only; each file is one input
partition, so read parallelism equals the delta's file count and a
1000-executor cluster fans the backlog out naturally. Streaming-source
progress (rows/batch, backlog versions) surfaces through the normal
StreamingQuery progress events.
"""

from __future__ import annotations

import json

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import IntegerType, StringType, StructType

from ..sources.tables import Catalog

FORMAT_NAME = "catalog_cdc"
META_COLS = ("_commit_version", "_commit_txn")


class _FileSlice(InputPartition):
    def __init__(self, path: str, version: int, txn: str | None):
        self.path = path
        self.version = version
        self.txn = txn


def _base_schema(root: str, table: str) -> StructType:
    cat = Catalog(root)
    snap = cat._read_current(table)
    if snap is None:
        raise ValueError(f"catalog_cdc: table not found: {table!r} "
                         f"(root {root!r})")
    if not snap.get("schema"):
        raise ValueError(
            f"catalog_cdc: table {table!r} predates recorded schemas — "
            "rewrite it (overwrite/compact) once to record one")
    return StructType.fromJson(json.loads(snap["schema"]))


class CatalogCdcStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self._root = options["path"]
        self._table = options["table"]
        self._schema = schema
        since = options.get("sinceversion")
        if since is not None:
            self._start = int(since)
        else:
            self._start = Catalog(self._root)._current_version(self._table)

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        return {"version":
                Catalog(self._root)._current_version(self._table)}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        delta = Catalog(self._root)._commit_delta(
            self._table, int(start["version"]), int(end["version"]))
        return [_FileSlice(path, v, txn) for path, v, txn in delta]

    def read(self, partition: _FileSlice):
        # executor-side: one parquet file -> Arrow batches + commit tags;
        # columns align to the STREAM schema (a pre-evolution file
        # surfaces null for columns it predates — same contract as
        # Catalog.read)
        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.parquet as pq  # noqa: PLC0415

        from pyspark.sql.pandas.types import (  # noqa: PLC0415
            to_arrow_schema,
        )

        tbl = pq.read_table(partition.path)
        n = tbl.num_rows
        want = to_arrow_schema(self._schema)
        cols = []
        for field in want:
            if field.name == "_commit_version":
                cols.append(pa.array([partition.version] * n,
                                     type=field.type))
            elif field.name == "_commit_txn":
                cols.append(pa.array([partition.txn] * n,
                                     type=field.type))
            elif field.name in tbl.column_names:
                cols.append(tbl.column(field.name).cast(field.type)
                            .combine_chunks())
            else:
                cols.append(pa.nulls(n, type=field.type))
        aligned = pa.table(cols, schema=want)
        yield from aligned.to_batches()

    def commit(self, end: dict) -> None:
        pass  # versions are durable snapshots; nothing to clean up


class CatalogCdcDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        st = _base_schema(self.options["path"], self.options["table"])
        return (st.add("_commit_version", IntegerType())
                .add("_commit_txn", StringType()))

    def streamReader(self, schema: StructType) -> CatalogCdcStreamReader:
        return CatalogCdcStreamReader(schema, self.options)


def register_cdc_source(spark) -> None:
    """Idempotently register the catalog_cdc streaming format on a
    session; after this, `spark.readStream.format("catalog_cdc")
    .option("path", root).option("table", t).load()` works."""
    spark.dataSource.register(CatalogCdcDataSource)
