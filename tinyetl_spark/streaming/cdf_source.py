"""The lake table as a Structured Streaming SOURCE — streaming
change-data-feed via the PySpark 4 Python Data Source API.

``spark.readStream.format("tinyetl_cdf").option("path", table_path)``
tails the table's merge commits: each micro-batch delivers the change
rows the commits in its offset range wrote (same semantics as
``LakeTable.read_changes`` — exact for copy-on-write commits;
merge-on-read commits emit the batch's winners like a real binlog, so
consumers LWW-apply on (warc_ts, event_seq); maintenance commits emit
nothing), with ``_change_type`` / ``_commit_version`` / ``_batch_id``
columns appended. Offsets are snapshot versions, so the
checkpoint makes the feed resumable and exactly-once like any file
source.

Scale design: offset discovery reads only the O(1) metadata JSON on the
driver; the actual change files are read executor-side (one input
partition per file, pyarrow) — the driver never touches data. This is
the "binlog out" half of the CDC engine: downstream consumers chain
engines (table -> feed -> table) without re-reading state.

Reference tie-in: TinyETL has no incremental output at all (every run
re-copies, README.md:29); this is the Spark-native capability that
replaces scheduled full re-copies downstream.
"""

from __future__ import annotations

import json
import os
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                    InputPartition)
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

FORMAT_NAME = "tinyetl_cdf"


def _read_meta(path: str, version: int | None = None) -> tuple[dict, int]:
    meta = os.path.join(path, "metadata")
    if version is None:
        with open(os.path.join(meta, "VERSION")) as f:
            version = int(f.read().strip())
    with open(os.path.join(meta, f"v{version}.json")) as f:
        return json.load(f), version


def _current_schema(snap: dict) -> StructType:
    return StructType.fromJson(
        json.loads(snap["schemas"][str(snap["schema_version"])]))


class CdfPartition(InputPartition):
    def __init__(self, file_path: str, version: int, batch_id: int):
        self.file_path = file_path
        self.version = version
        self.batch_id = batch_id


class CdfStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self.path = options["path"]
        self.start = int(options.get("startversion", 0))
        self.out_schema = schema
        # the output schema is pinned for the stream's lifetime; remember
        # WHICH table schema version it came from so evolution mid-stream
        # fails loudly instead of silently dropping new columns.
        snap, _ = _read_meta(self.path)
        self.pinned_schema_version = snap["schema_version"]

    def initialOffset(self) -> dict:
        return {"version": self.start}

    def latestOffset(self) -> dict:
        snap, v = _read_meta(self.path)
        if snap["schema_version"] != self.pinned_schema_version:
            # Delta CDF behavior: a streaming source cannot widen its
            # output schema mid-query — restart picks up the new one.
            raise RuntimeError(
                f"source table schema evolved mid-stream (schema v"
                f"{self.pinned_schema_version} -> v{snap['schema_version']}"
                "): restart the stream (same checkpoint) to pick up the "
                "new columns")
        return {"version": v}

    def partitions(self, start: dict, end: dict) -> list[CdfPartition]:
        from tinyetl_spark.lake.table import walk_merge_commits
        try:
            return [CdfPartition(f["path"], v, bid)
                    for v, bid, files in walk_merge_commits(
                        lambda v: _read_meta(self.path, v)[0],
                        start["version"], end["version"])
                    for f in files]
        except FileNotFoundError as e:
            raise ValueError(
                f"change feed offset v{start['version']} is gone: the "
                "snapshot was expired (expire_snapshots bounds CDF "
                "retention) — re-seed the consumer from a full read and "
                "restart the stream with a fresh checkpoint") from e

    def read(self, partition: CdfPartition):
        # executor-side: read ONE change file with pyarrow, keep the
        # _src=1 rows (the rows this commit wrote), emit as arrow
        # RecordBatches in the declared output column order — columns a
        # file's (older) schema version lacks come out as nulls, and no
        # row ever passes through per-row Python (the Data Source API
        # accepts yielded pyarrow.RecordBatch objects directly).
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        tbl = pq.read_table(partition.file_path)
        if "_src" in tbl.column_names:
            tbl = tbl.filter(pc.equal(tbl["_src"], 1))
        n = tbl.num_rows
        if "_deleted" in tbl.column_names:
            deleted = pc.fill_null(tbl["_deleted"], False)
            change = pc.if_else(deleted, pa.scalar("delete"),
                                pa.scalar("upsert"))
        else:
            change = pa.array(["upsert"] * n)
        cols, names = [], []
        from pyspark.sql.pandas.types import to_arrow_type
        for f in self.out_schema.fields:
            names.append(f.name)
            at = to_arrow_type(f.dataType)
            if f.name == "_change_type":
                cols.append(change.cast(at))
            elif f.name == "_commit_version":
                cols.append(pa.array([partition.version] * n, type=at))
            elif f.name == "_batch_id":
                cols.append(pa.array([partition.batch_id] * n, type=at))
            elif f.name in tbl.column_names:
                cols.append(tbl[f.name].cast(at))
            else:   # older schema version lacks the column
                cols.append(pa.nulls(n, type=at))
        out = pa.table(cols, names=names)
        yield from out.to_batches()

    def commit(self, end: dict) -> None:
        pass


class CdfDataSource(DataSource):
    """format("tinyetl_cdf"): streaming CDF over a LakeTable path."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        snap, _ = _read_meta(self.options["path"])
        return StructType(
            _current_schema(snap).fields
            + [StructField("_change_type", StringType(), False),
               StructField("_commit_version", LongType(), False),
               StructField("_batch_id", LongType(), False)])

    def streamReader(self, schema: StructType) -> CdfStreamReader:
        return CdfStreamReader(schema, self.options)


def register_cdf_source(spark) -> None:
    """Idempotently register the format with this session."""
    spark.dataSource.register(CdfDataSource)


def stream_change_events(spark, table_path: str):
    """Tail ``table_path``'s change feed as change events: the table's
    columns plus ``op`` (a ``delete`` change → delete, every other change
    → update — a feed cannot tell a create from an update and LWW apply
    does not need to), without the feed's bookkeeping columns. The shape
    ``replicate`` merges and ``publish_changes`` serialises."""
    register_cdf_source(spark)
    feed = (spark.readStream.format(FORMAT_NAME)
            .option("path", table_path).load())
    return (feed.withColumn("op", F.when(F.col("_change_type") == "delete",
                                         F.lit("delete"))
                                   .otherwise(F.lit("update")))
            .drop("_change_type", "_commit_version", "_batch_id",
                  "_deleted"))
