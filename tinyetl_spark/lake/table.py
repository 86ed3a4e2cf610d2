"""LakeTable — a minimal Iceberg-style ACID table over parquet.

Why this exists: the north rule requires an Iceberg sink with atomic
snapshot-per-commit, snapshot summaries (for epoch fencing), schema
evolution, and time travel — but the sandbox has no iceberg-spark-runtime
jar and no network. This module implements those *semantics* from scratch
following the publicly documented Iceberg table-spec concepts (snapshot
metadata files + a version pointer + manifest-listed data files). The
engine talks only to this interface, so a real Iceberg catalog can be
substituted on a cluster by reimplementing these ~6 methods with
``spark.sql("MERGE INTO ...")`` etc.

Layout on disk::

    <root>/metadata/v<N>.json     # immutable snapshot metadata
    <root>/metadata/VERSION       # current version pointer (atomic rename)
    <root>/data/snap-<N>-<id>/part-<slot>-*.parquet

Every data file is written by ``LakeTable.write_routed``: the writer's
rows arrive routed by ``repartitionById(slots, "_slot")`` over a chosen
slot map (``slot_column``), so shuffle partition k holds exactly slot k,
and partition k becomes ``part-<k>-*``. A file's manifest entry takes its
bucket set from that routing and its row count and ``warc_ts`` bounds
from the parquet footer the write just closed. Each row also carries its
bucket in a ``_bucket`` column (the residual filter for multi-bucket
files); there are no Hive ``_bucket=<k>/`` directories.

Concurrency: a commit creates ``v<N>.json`` with O_EXCL — two writers
racing on the same version deterministically leaves exactly one winner
(optimistic concurrency, same as Iceberg's atomic swap). The streaming
engine is single-writer per table, so retries simply re-run the idempotent
MERGE and fence on the snapshot summary.

Scale notes (100 TB): data is hash-bucketed on the merge key (default
``url``) into ``num_buckets`` directories — the analogue of Iceberg's
``bucket(N, url)`` partition transform. MERGE only reads & rewrites the
buckets touched by a micro-batch (partition pruning via the manifest), so
copy-on-write cost is proportional to touched data, not table size. At
100 TB you would set num_buckets ~4096 so a bucket is a few tens of GB;
tests use 8-32.
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import dataclass, field
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import (IntegerType, LongType, StringType,
                               StructField, StructType)

VERSION_FILE = "VERSION"
# floor on a bloom filter's expected key count: a filter sized for 1000
# keys is ~2 KB, and an estimate that comes in short (a first batch has no
# previous batch size to go by) would otherwise saturate it
BLOOM_MIN_NDV = 1000


def walk_merge_commits(get_snapshot, start: int, end: int):
    """Yield ``(version, batch_id, new_files)`` for each MERGE commit in
    ``(start, end]`` — the files the commit added (path diff against the
    previous snapshot), with maintenance commits (compact/overwrite —
    they move bytes, not state) skipped. The ONE definition of the
    commit-walk rules, shared by ``LakeTable.read_changes`` and the
    spark-free streaming CDF source (``streaming/cdf_source.py``) so
    batch and streaming feeds cannot diverge. ``get_snapshot(v)`` may
    return a ``Snapshot`` or its raw metadata dict."""
    def _files(s):
        return s["files"] if isinstance(s, dict) else s.files

    def _summary(s):
        return s["summary"] if isinstance(s, dict) else s.summary

    prev = {f["path"] for f in _files(get_snapshot(start))}
    for v in range(start + 1, end + 1):
        s = get_snapshot(v)
        new = [f for f in _files(s) if f["path"] not in prev]
        prev = {f["path"] for f in _files(s)}
        if _summary(s).get("operation") != "merge" or not new:
            continue
        yield v, int(_summary(s).get("batch_id", -1)), new


class ConcurrentCommitError(RuntimeError):
    """Another writer committed between this writer's snapshot read and its
    commit — the Iceberg validated-swap failure. The caller must re-read
    the table and re-plan (or re-run the idempotent merge)."""

# Allowed type widenings (Iceberg-spec compatible promotions).
_WIDEN_OK = {
    ("integer", "long"), ("integer", "double"), ("long", "double"),
    ("float", "double"), ("date", "timestamp"),
}


@dataclass
class Snapshot:
    version: int
    schema_version: int
    schemas: dict[str, str]            # schema_version(str) -> StructType.json()
    num_buckets: int
    key_col: str
    # manifest: {path, buckets, rows, schema_version[, ts_range][, delta]}
    # — buckets from the write's routing, rows and ts_range (warc_ts
    # bounds, epoch µs) from the file's parquet footer
    files: list[dict[str, Any]]
    summary: dict[str, Any]            # per-commit info (batch_id, stats, ...)
    properties: dict[str, Any]         # carried forward (stream fences, ...)
    parent: int | None = None
    timestamp_ms: int = 0
    lineage: list[dict[str, Any]] = field(default_factory=list)  # per-partition metrics of this commit

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.schemas[str(self.schema_version)]))

    def schema_at(self, sv: int) -> StructType:
        return StructType.fromJson(json.loads(self.schemas[str(sv)]))

    def to_json(self) -> str:
        return json.dumps({
            "version": self.version, "schema_version": self.schema_version,
            "schemas": self.schemas, "num_buckets": self.num_buckets,
            "key_col": self.key_col, "files": self.files, "summary": self.summary,
            "properties": self.properties, "parent": self.parent,
            "timestamp_ms": self.timestamp_ms, "lineage": self.lineage,
        })

    @staticmethod
    def from_json(s: str) -> "Snapshot":
        return Snapshot(**json.loads(s))


def conform(df: DataFrame, schema: StructType) -> DataFrame:
    """Project ``df`` to ``schema``: missing columns → typed nulls, extra
    columns dropped, every column cast — the union-by-name evolution path."""
    have = {f.name for f in df.schema.fields}
    cols = []
    for f in schema.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


# (num_ids, assignment, splits, key_col, id_col) -> the _slot Column. A
# steady-state stream re-derives the SAME routing every dense batch;
# building the int[] literal costs ~0.5 s of py4j transfer at
# num_buckets=4096, so the Column (an unbound expression, safe to reuse
# across DataFrames) is cached. Bounded: sparse batches with changing
# touched-sets evict oldest.
_SLOT_CACHE: dict[tuple, Any] = {}


def slot_column(num_ids: int, id_slot: dict[int, int],
                splits: dict[int, list[int]] | None = None,
                key_col: str | None = None, id_col: str = "_bucket"):
    """Column holding each row's chosen write slot, for
    ``repartitionById(slots, "_slot")``: id i goes to slot ``id_slot[i]``.
    A chosen map, not a hash of the id: hashing B ids into B partitions
    is balls-in-bins, leaving ~1/e of them empty and piling 2-3 ids onto
    others, so the straggler task idles the stage tail. The column is
    element_at over an int[] literal of slot ids (ONE Literal node — a
    python-list literal becomes a num_ids-child array() constructor
    costing ~2.3 s of per-batch plan analysis at 4096 buckets).

    ``splits`` spreads a HOT id over several slots: its rows are salted
    by ``pmod(xxhash64(key, 1), nsplit)`` onto the id's slot list. The
    salt is a pure function of the KEY, so every key's rows still land
    in exactly one sort partition — the merge's LWW window needs no
    cross-split resolution and its hot path stays one job. The salt hash
    is SEEDED (extra lit(1) column) to decorrelate it from the bucket id
    ``pmod(xxhash64(key), num_buckets)``: with the unseeded hash, any
    nsplit dividing num_buckets (2/4/8/16 against power-of-two bucket
    counts) makes the salt CONSTANT within a bucket — hash % nsplit is
    fully determined by hash % num_buckets — and the skew split silently
    routes every row back to one partition."""
    splits = splits or {}
    ck = (num_ids, tuple(sorted(id_slot.items())),
          tuple(sorted((b, tuple(sl)) for b, sl in splits.items())), key_col,
          id_col)
    col = _SLOT_CACHE.get(ck)
    if col is None:
        import numpy as np
        slot_arr = np.zeros(num_ids, dtype=np.int32)
        for i, s in id_slot.items():
            slot_arr[i] = s
        col = F.element_at(F.lit(slot_arr), (F.col(id_col) + 1).cast("int"))
        for i, slot_list in sorted(splits.items()):
            sub = (F.pmod(F.xxhash64(F.col(key_col), F.lit(1)),
                          F.lit(len(slot_list))) + 1).cast("int")
            col = F.when(F.col(id_col) == F.lit(i),
                         F.element_at(F.lit(np.array(slot_list,
                                                     dtype=np.int32)), sub)
                         ).otherwise(col)
        if len(_SLOT_CACHE) >= 8:
            _SLOT_CACHE.pop(next(iter(_SLOT_CACHE)))
        _SLOT_CACHE[ck] = col
    return col


def bucket_column(key, num_buckets: int):
    """The partition transform, ``pmod(xxhash64(key), num_buckets)`` —
    the one definition every writer, pruner and reader routes by.
    ``key`` is a column name or a Column."""
    c = F.col(key) if isinstance(key, str) else key
    return F.pmod(F.xxhash64(c), F.lit(num_buckets))


def bucket_closure(files: list[dict[str, Any]], buckets: set[int]) -> set[int]:
    """``buckets`` grown until no manifest file straddles its edge: a data
    file may hold more than one bucket, so rewriting bucket 5 out of a
    {5, 9} file means rewriting bucket 9 too, else 9's rows would survive
    in both the old and the new file. Driver-side fixpoint."""
    closed = set(buckets)
    while True:
        grown = set(closed)
        for f in files:
            bs = set(f["buckets"])
            if bs & grown:
                grown |= bs
        if grown == closed:
            return closed
        closed = grown


def _footer_ts_range(md) -> list[int] | None:
    """[min, max] of ``warc_ts`` in epoch µs from a parquet footer's
    column statistics (INT64 micros; see ``write_routed``), or None when
    the file has no such column or no row group recorded bounds."""
    lo = hi = None
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            col = rg.column(c)
            if col.path_in_schema != "warc_ts":
                continue
            st = col.statistics
            if (col.physical_type == "INT64" and st is not None
                    and st.has_min_max):
                lo = st.min_raw if lo is None else min(lo, st.min_raw)
                hi = st.max_raw if hi is None else max(hi, st.max_raw)
    return None if lo is None else [lo, hi]


class LakeTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self.meta_dir = os.path.join(self.root, "metadata")
        self.data_dir = os.path.join(self.root, "data")

    # ------------------------------------------------------------------ DDL
    @classmethod
    def create(cls, spark: SparkSession, root: str, schema: StructType,
               key_col: str = "url", num_buckets: int = 16,
               properties: dict[str, Any] | None = None) -> "LakeTable":
        t = cls(spark, root)
        if t.exists():
            raise ValueError(f"table already exists at {root}")
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        snap = Snapshot(
            version=0, schema_version=0, schemas={"0": schema.json()},
            num_buckets=num_buckets, key_col=key_col, files=[],
            summary={"operation": "create"}, properties=properties or {},
            parent=None, timestamp_ms=int(time.time() * 1000),
        )
        t._write_snapshot(snap)
        return t

    @classmethod
    def create_if_not_exists(cls, spark, root, schema, **kw) -> "LakeTable":
        t = cls(spark, root)
        return t if t.exists() else cls.create(spark, root, schema, **kw)

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.meta_dir, VERSION_FILE))

    # ------------------------------------------------------------- snapshots
    def current_version(self) -> int:
        with open(os.path.join(self.meta_dir, VERSION_FILE)) as f:
            return int(f.read().strip())

    def snapshot(self, version: int | None = None) -> Snapshot:
        v = self.current_version() if version is None else version
        with open(os.path.join(self.meta_dir, f"v{v}.json")) as f:
            return Snapshot.from_json(f.read())

    def oldest_version(self) -> int:
        """Oldest snapshot still on disk (older ones were expired)."""
        versions = [int(fn[1:-5]) for fn in os.listdir(self.meta_dir)
                    if fn.startswith("v") and fn.endswith(".json")
                    and fn[1:-5].isdigit()]
        return min(versions) if versions else 0

    def versions(self) -> range:
        """Iterable of LIVE snapshot versions (post-expiry safe)."""
        return range(self.oldest_version(), self.current_version() + 1)

    def history(self) -> list[dict[str, Any]]:
        out = []
        for v in self.versions():
            s = self.snapshot(v)
            out.append({"version": v, "timestamp_ms": s.timestamp_ms,
                        "summary": s.summary})
        return out

    def _write_snapshot(self, snap: Snapshot) -> None:
        """Atomic optimistic commit: O_EXCL on the snapshot file is the
        swap; the VERSION pointer is then advanced via rename (readers that
        race see the previous committed version — snapshot isolation)."""
        path = os.path.join(self.meta_dir, f"v{snap.version}.json")
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            os.write(fd, snap.to_json().encode())
            os.fsync(fd)
        finally:
            os.close(fd)
        tmp = os.path.join(self.meta_dir, f".VERSION.{snap.version}.tmp")
        with open(tmp, "w") as f:
            f.write(str(snap.version))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.meta_dir, VERSION_FILE))

    def commit(self, files: list[dict[str, Any]], summary: dict[str, Any],
               schema_version: int | None = None,
               new_schema: StructType | None = None,
               properties: dict[str, Any] | None = None,
               lineage: list[dict[str, Any]] | None = None,
               expected_base: int | None = None,
               num_buckets: int | None = None) -> Snapshot:
        base = self.snapshot()
        # Validated swap: ``files`` was computed against ``expected_base``;
        # if someone committed in between, blindly committing would silently
        # drop their files from the manifest — fail instead (caller retries
        # against the fresh snapshot). O_EXCL alone only catches two writers
        # racing on the SAME version number.
        if expected_base is not None and base.version != expected_base:
            raise ConcurrentCommitError(
                f"table advanced to v{base.version} (expected v{expected_base}) "
                f"between plan and commit; re-read and retry")
        schemas = dict(base.schemas)
        sv = base.schema_version if schema_version is None else schema_version
        if new_schema is not None:
            sv = max(int(k) for k in schemas) + 1
            schemas[str(sv)] = new_schema.json()
        props = dict(base.properties)
        props.update(properties or {})
        snap = Snapshot(
            version=base.version + 1, schema_version=sv, schemas=schemas,
            num_buckets=num_buckets or base.num_buckets,
            key_col=base.key_col, files=files,
            summary=summary, properties=props, parent=base.version,
            timestamp_ms=int(time.time() * 1000), lineage=lineage or [],
        )
        self._write_snapshot(snap)
        return snap

    # ---------------------------------------------------------------- reads
    def bucket_expr(self, col=None, num_buckets: int | None = None):
        """``bucket_column`` over the current snapshot's key (or ``col``)
        and bucket count (or ``num_buckets``)."""
        snap = self.snapshot()
        return bucket_column(snap.key_col if col is None else col,
                             num_buckets or snap.num_buckets)

    def lookup(self, key, version: int | None = None) -> DataFrame:
        """Point read of one key: the key's bucket is computed DRIVER-
        side (pure-Python replica of pmod(xxhash64(key), N) —
        partitioning.bucket_of), so the scan touches only that bucket's
        files via manifest pruning, and the pushed equality predicate
        lets the key bloom filter that ``write_routed`` puts in every data
        file skip row groups inside them. O(one bucket) IO on a 10^10-row
        table, no job to plan the pruning."""
        from tinyetl_spark.partitioning import bucket_of
        snap = self.snapshot(version)
        b = bucket_of(key, snap.num_buckets)
        return (self.read(version=version, buckets={b})
                .filter(F.col(snap.key_col) == F.lit(key)))

    def read(self, version: int | None = None, buckets: set[int] | None = None,
             include_tombstones: bool = False, resolve: bool = True,
             ts_range: tuple | None = None) -> DataFrame:
        """Snapshot read with manifest-level bucket pruning and
        union-by-name schema conformance across file schema versions.

        Pruning is two-level: (1) skip files whose manifest bucket-set
        does not intersect ``buckets`` (file pruning — no IO at all);
        (2) a residual row filter on the stored ``_bucket`` column for
        files that hold more than one bucket.

        ``ts_range=(lo, hi)`` (inclusive; either side None = open)
        additionally prunes whole files via the manifest's per-file
        ``warc_ts`` zone map (Iceberg column-stats analogue) and applies
        the residual row filter — a time-window scan over a 100 TB table
        touches only the files whose range intersects. Files without
        recorded stats are never pruned. When merge-on-read deltas are
        present, only CLEAN base files are zone-pruned: a delta version
        outside the window can shadow an in-window base row, so the
        LWW-resolving union must see every version of the dirty buckets
        (the residual filter still applies after resolution).

        If the snapshot carries merge-on-read *delta* files, the read
        resolves last-writer-wins across base+delta per key (one window
        on (warc_ts DESC, event_seq DESC)) BEFORE the tombstone filter —
        resolving after filtering would resurrect rows an in-delta delete
        shadows. ``resolve=False`` returns the raw union (the merge path
        does its own fused LWW and must see every version)."""
        snap = self.snapshot(version)
        files = snap.files
        if buckets is not None:
            files = [f for f in files if set(f["buckets"]) & buckets]
        cur = snap.schema
        names = {f.name for f in cur.fields}

        def _to_us(v):
            import datetime as _dt
            if isinstance(v, _dt.datetime):
                if v.tzinfo is None:
                    v = v.replace(tzinfo=_dt.timezone.utc)
                return int(v.timestamp() * 1_000_000)
            return int(v)

        def _ts_overlaps(f):
            tr = f.get("ts_range")
            if tr is None or ts_range is None:
                return True
            lo, hi = ts_range
            if lo is not None and tr[1] < _to_us(lo):
                return False
            if hi is not None and tr[0] > _to_us(hi):
                return False
            return True

        def read_files(fs):
            if not fs:
                return self.spark.createDataFrame([], cur)
            groups: dict[int, list[str]] = {}
            for f in fs:
                groups.setdefault(f["schema_version"], []).append(f["path"])
            parts = []
            for sv, paths in sorted(groups.items()):
                # read each file group with the exact schema it was written
                # with (+ the physical _bucket column), then conform —
                # avoids depending on reader-side parquet type promotion.
                sv_schema = StructType(
                    snap.schema_at(sv).fields
                    + [StructField("_bucket", LongType(), True)])
                part = self.spark.read.schema(sv_schema).parquet(*paths)
                if buckets is not None:
                    part = part.filter(F.col("_bucket").isin(*buckets))
                parts.append(conform(part, cur))
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            return df

        delta_files = [f for f in files if f.get("delta")]
        if resolve and delta_files:
            if not {"warc_ts", "event_seq"} <= names:
                raise ValueError(
                    "delta files present but table lacks the LWW ordering "
                    "columns (warc_ts, event_seq)")
            # LWW resolution shuffles only the DELTA-TOUCHED buckets: base
            # files whose bucket-sets no delta overlaps cannot be shadowed
            # and bypass the window entirely — read cost stays O(delta-
            # touched data), not O(table).
            delta_buckets: set[int] = set()
            for f in delta_files:
                delta_buckets |= set(f["buckets"])
            clean = [f for f in files
                     if not f.get("delta")
                     and not (set(f["buckets"]) & delta_buckets)]
            dirty = [f for f in files if f not in clean]
            if ts_range is not None:      # zone-prune CLEAN base files only
                clean = [f for f in clean if _ts_overlaps(f)]
            w = Window.partitionBy(snap.key_col).orderBy(
                F.col("warc_ts").desc(), F.col("event_seq").desc())
            resolved = (read_files(dirty)
                        .withColumn("_rn", F.row_number().over(w))
                        .filter(F.col("_rn") == 1).drop("_rn"))
            df = read_files(clean).unionByName(resolved) if clean else resolved
        else:
            if ts_range is not None:
                files = [f for f in files if _ts_overlaps(f)]
            df = read_files(files)
        if not include_tombstones and "_deleted" in names:
            df = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
        if ts_range is not None and "warc_ts" in names:
            # normalize like the pruner's _to_us: int bounds are epoch-µs
            # (a raw int literal against a TIMESTAMP column is an
            # AnalysisException — pruning accepting ints while the
            # residual filter crashed on them was a round-5 advice fix)
            def _ts_lit(v):
                return (F.timestamp_micros(F.lit(_to_us(v)))
                        if not hasattr(v, "timestamp") else F.lit(v))
            lo, hi = ts_range
            if lo is not None:
                df = df.filter(F.col("warc_ts") >= _ts_lit(lo))
            if hi is not None:
                df = df.filter(F.col("warc_ts") <= _ts_lit(hi))
        return df

    def read_changes(self, start_version: int,
                     end_version: int | None = None) -> DataFrame:
        """Change-data-feed read (Iceberg/Delta CDF analogue): the change
        rows each MERGE commit in ``(start_version, end_version]`` applied,
        tagged ``_change_type`` ('upsert' | 'delete'), ``_commit_version``
        and ``_batch_id`` — so a downstream consumer tails the table
        incrementally ("binlog out") instead of re-reading it.

        Exact for copy-on-write commits by construction: merge-written
        files persist the ``_src`` marker, so a commit's change rows are
        precisely its files' rows with ``_src = 1`` — a batch event that
        lost last-writer-wins against the live table produced no change
        and is absent. Merge-on-read commits write the batch's winners
        WITHOUT consulting the base (that is the point of MOR), so their
        change rows may include events an existing base row supersedes —
        like any real binlog, the feed must be consumed with
        LWW-apply-if-newer on (warc_ts, event_seq) (``replicate`` does
        exactly that, and tests prove convergence). Maintenance commits
        (compact/overwrite) move bytes, not state, and are skipped.
        Bounded by snapshot retention (``expire_snapshots``) like any
        CDF."""
        current = self.current_version()
        end = current if end_version is None else end_version
        if end > current:
            raise ValueError(
                f"end_version v{end} does not exist (current is "
                f"v{current})")
        oldest = self.oldest_version()
        if start_version >= end:      # empty window — touch no snapshots
            cur = self.snapshot(min(end, current)).schema \
                if end >= oldest else self.snapshot().schema
            return self._empty_changes(cur)
        if start_version < oldest:
            raise ValueError(
                f"change feed from v{start_version} is gone: snapshots "
                f"before v{oldest} were expired (expire_snapshots bounds "
                "CDF retention) — re-seed the consumer from a full read, "
                f"then tail from v{end}")
        cur = self.snapshot(end).schema
        has_deleted = any(f.name == "_deleted" for f in cur.fields)
        parts = []
        for v, batch_id, new_files in walk_merge_commits(
                lambda v: self.snapshot(v), start_version, end):
            snap = self.snapshot(v)
            groups: dict[int, list[str]] = {}
            for f in new_files:
                groups.setdefault(f["schema_version"], []).append(f["path"])
            for sv, paths in sorted(groups.items()):
                sv_schema = StructType(
                    snap.schema_at(sv).fields
                    + [StructField("_src", IntegerType(), True),
                       StructField("_bucket", LongType(), True)])
                part = (self.spark.read.schema(sv_schema).parquet(*paths)
                        .filter(F.col("_src") == 1))
                change = (F.when(F.coalesce(F.col("_deleted"),
                                            F.lit(False)), F.lit("delete"))
                           .otherwise(F.lit("upsert"))
                          if has_deleted else F.lit("upsert"))
                parts.append(
                    conform(part, cur)
                    .withColumn("_change_type", change)
                    .withColumn("_commit_version", F.lit(v).cast("long"))
                    .withColumn("_batch_id",
                                F.lit(batch_id).cast("long")))
        if not parts:
            return self._empty_changes(cur)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def _empty_changes(self, cur: StructType) -> DataFrame:
        empty = StructType(
            cur.fields
            + [StructField("_change_type", StringType(), False),
               StructField("_commit_version", LongType(), False),
               StructField("_batch_id", LongType(), False)])
        return self.spark.createDataFrame([], empty)

    # ------------------------------------------------------------ evolution
    def evolve_schema(self, new_schema: StructType) -> Snapshot:
        """Add-column / widen-type evolution (Iceberg UpdateSchema analogue).

        Old data files are NOT rewritten; reads conform them to the new
        schema (missing → null, widened → cast). Drops and narrowings are
        rejected — same safety rules as Iceberg.
        """
        snap = self.snapshot()
        old = {f.name: f for f in snap.schema.fields}
        new = {f.name: f for f in new_schema.fields}
        for name, f_old in old.items():
            if name not in new:
                raise ValueError(f"column drop not allowed: {name}")
            f_new = new[name]
            if f_old.dataType != f_new.dataType:
                pair = (f_old.dataType.typeName(), f_new.dataType.typeName())
                if pair not in _WIDEN_OK:
                    raise ValueError(f"illegal type change {name}: {pair[0]} -> {pair[1]}")
        return self.commit(files=snap.files,
                           summary={"operation": "evolve-schema"},
                           new_schema=new_schema)

    # ---------------------------------------------------------- maintenance
    def new_data_dir(self, snap_version: int) -> str:
        """Unique directory per write job (part-file numbering restarts at
        0 for every job, so two writes must never share a directory)."""
        import uuid as _uuid
        return os.path.join(self.data_dir,
                            f"snap-{snap_version}-{_uuid.uuid4().hex[:8]}")

    def write_routed(self, routed: DataFrame, snap: Snapshot, out_dir: str,
                     buckets_of, rows_per_file: float, delta: bool = False
                     ) -> list[dict[str, Any]]:
        """THE writer of table data; returns the manifest entries of the
        files it wrote into ``out_dir`` for the commit on top of ``snap``
        (a write that produced no rows leaves no directory behind).
        ``routed`` (table columns + ``_bucket``) is already routed by
        ``repartitionById`` over a chosen slot map (``slot_column``), so
        shuffle partition k holds exactly slot k's rows. The plain parquet
        write (no Hive partitionBy — measured ~10x the cost of the write
        itself for many small partitions) turns partition k into
        ``part-<k>-*.parquet``, and ``buckets_of(k)``, called after the
        write, names the buckets in it. The rest of each entry comes from
        the footer of the file just closed, as Iceberg fills a data file's
        record count and bounds: ``rows`` from its row count and
        ``ts_range`` from the ``warc_ts`` min/max statistics (the
        file-level zone map ``read(ts_range=...)`` prunes on).

        The write sets two confs in the plan's own session (a foreachBatch
        DataFrame belongs to the stream's cloned session, which
        ``self.spark``'s conf does not reach):

        - AQE off: the routing fixes the partition count, AQE's per-stage
          re-planning only adds latency (with it on, each shuffle map
          stage runs as a job of its own), and partition coalescing would
          break part-k == slot k;
        - INT64 microsecond timestamps: parquet records no statistics for
          Spark's default INT96, so the footer would hold no zone map.

        Every file gets a bloom filter on the key column, sized to
        ``rows_per_file``: within a bucket, files are time-ordered, not
        key-sorted, so row-group min/max stats cannot prune a point
        lookup — the bloom can (``lookup``)."""
        import shutil

        import pyarrow.parquet as pq
        key = snap.key_col
        sess = routed.sparkSession
        confs = {"spark.sql.adaptive.enabled": "false",
                 "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}
        before = {k: sess.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                sess.conf.set(k, v)
            (routed.write.mode("append")
                .option(f"parquet.bloom.filter.enabled#{key}", "true")
                .option(f"parquet.bloom.filter.expected.ndv#{key}",
                        str(max(int(rows_per_file), BLOOM_MIN_NDV)))
                .parquet(out_dir))
        finally:
            for k, v in before.items():
                if v is None:
                    sess.conf.unset(k)
                else:
                    sess.conf.set(k, v)
        entries = []
        for fn in sorted(os.listdir(out_dir)):
            m = re.match(r"part-(\d+)-.*\.parquet$", fn)
            if not m:
                continue
            path = os.path.join(out_dir, fn)
            md = pq.read_metadata(path)
            if md.num_rows == 0:   # an all-empty job still writes one file
                continue
            entry = {"path": path, "buckets": sorted(buckets_of(int(m[1]))),
                     "rows": md.num_rows,
                     "schema_version": snap.schema_version}
            ts_range = _footer_ts_range(md)
            if ts_range is not None:
                entry["ts_range"] = ts_range
            if delta:
                entry["delta"] = True
            entries.append(entry)
        if not entries:
            shutil.rmtree(out_dir, ignore_errors=True)
        return entries

    def _rewrite(self, df: DataFrame, snap: Snapshot, version: int,
                 buckets: set[int] | None = None,
                 num_buckets: int | None = None, cluster_by_ts: bool = False,
                 files_per_bucket: int = 1) -> list[dict[str, Any]]:
        """Write ``df`` (current schema, no ``_bucket``), a rewrite of
        ``snap``'s data, as the files of snapshot ``version``: one file per
        (bucket, slice), the copy-on-write layout every rewrite shares.
        ``buckets`` (default: all ``num_buckets``) are the buckets ``df``
        can hold; each gets its own slot, so the layout is a function of
        the data, never of the cluster size. ``cluster_by_ts`` sorts each
        file by ``warc_ts`` and splits each bucket into
        ``files_per_bucket`` time-ranged slices (ntile over ``warc_ts``),
        so the files' zone maps are disjoint."""
        nb = num_buckets or snap.num_buckets
        order = sorted(buckets) if buckets is not None else list(range(nb))
        k = max(int(files_per_bucket), 1) if cluster_by_ts else 1
        cid = F.col("_bucket")
        if k > 1:
            w = Window.partitionBy("_bucket").orderBy("warc_ts")
            cid = cid * k + F.ntile(k).over(w) - 1
        slots = max(len(order) * k, 1)
        # composite (bucket b, slice j) id b*k+j -> slot rank(b)*k+j
        cid_slot = {b * k + j: r * k + j
                    for r, b in enumerate(order) for j in range(k)}
        routed = (df.withColumn("_bucket", bucket_column(snap.key_col, nb))
                    .withColumn("_cid", cid)
                    .withColumn("_slot", slot_column(nb * k, cid_slot,
                                                     id_col="_cid"))
                    .repartitionById(slots, "_slot"))
        if cluster_by_ts:
            routed = routed.sortWithinPartitions("warc_ts")
        est_rows = sum(int(f.get("rows") or 0) for f in snap.files
                       if buckets is None or set(f["buckets"]) & buckets)
        return self.write_routed(
            routed.drop("_cid", "_slot"), snap,
            self.new_data_dir(version), lambda s: [order[s // k]],
            est_rows / slots)

    def _commit_rewrite(self, snap: Snapshot, carried: list[dict[str, Any]],
                        entries: list[dict[str, Any]],
                        summary: dict[str, Any],
                        num_buckets: int | None = None) -> Snapshot:
        """Commit a rewrite against ``snap``. Carries the steady-state
        signals (active_buckets, total_rows) so an out-of-band maintenance
        pass doesn't knock the next merge's auto strategy back to the
        sparse probe path; epoch-fence properties carry through ``commit``
        so replay protection survives maintenance."""
        summary = {**summary, "total_rows": sum(
            int(f.get("rows") or 0) for f in carried + entries)}
        summary.setdefault("active_buckets",
                           snap.summary.get("active_buckets", 0))
        return self.commit(files=carried + entries, summary=summary,
                           expected_base=snap.version,
                           num_buckets=num_buckets)

    def write_data(self, df: DataFrame, snap_version: int
                   ) -> list[dict[str, Any]]:
        """Write df (already in current schema, WITHOUT bucket col) as data
        files for snapshot ``snap_version``, one file per bucket; returns
        their manifest entries."""
        return self._rewrite(df, self.snapshot(), snap_version)

    def overwrite(self, df: DataFrame, summary: dict[str, Any] | None = None) -> Snapshot:
        """Full-table replace (used for initial loads / compaction)."""
        snap = self.snapshot()
        entries = self.write_data(conform(df, snap.schema), snap.version + 1)
        return self._commit_rewrite(
            snap, [], entries, {"operation": "overwrite", **(summary or {})})

    def expire_snapshots(self, keep_last: int = 10) -> dict[str, int]:
        """Retire old snapshots and delete data files no LIVE snapshot
        references (Iceberg expire_snapshots analogue). Bounds metadata
        and storage growth from one-snapshot-per-micro-batch; time travel
        remains available for the kept window only.

        Safe ordering: collect the live file set FIRST, delete orphan data
        files, then delete the expired metadata — a crash in between only
        leaves harmless extra files/metadata, never a broken snapshot.
        """
        current = self.current_version()
        cutoff = max(current - keep_last + 1, 0)
        live_files: set[str] = set()
        for v in range(cutoff, current + 1):
            for f in self.snapshot(v).files:
                live_files.add(f["path"])
        removed_files = 0
        for dirpath, _dirnames, filenames in os.walk(self.data_dir):
            for fn in filenames:
                p = os.path.join(dirpath, fn)
                if fn.endswith(".parquet") and p not in live_files:
                    os.remove(p)
                    removed_files += 1
        removed_snaps = 0
        for v in range(cutoff):
            mp = os.path.join(self.meta_dir, f"v{v}.json")
            if os.path.exists(mp):
                os.remove(mp)
                removed_snaps += 1
        return {"expired_snapshots": removed_snaps,
                "deleted_files": removed_files,
                "oldest_kept": cutoff}

    def compact(self, cluster_by_ts: bool = False,
                files_per_bucket: int = 1) -> Snapshot:
        """Rewrite all live data one file per bucket — bounds small-file
        accumulation from many micro-batch commits (Iceberg
        rewrite_data_files analogue). Run out-of-band, not on the
        streaming hot path.

        ``cluster_by_ts`` time-clusters the rewrite (Iceberg sort-order
        rewrite analogue): rows are sorted by ``warc_ts`` within each
        output file, so parquet row-group min/max stats let a pushed time
        predicate skip row groups inside big files. With
        ``files_per_bucket`` > 1 each bucket is additionally split into
        that many TIME-RANGED files (ntile over warc_ts within the
        bucket), giving the manifest's file-level zone maps
        (``ts_range``) disjoint ranges to prune on — a time-window read
        after compaction touches ~1/files_per_bucket of each bucket's
        data instead of all of it. Every output file covers exactly one
        bucket and, clustered, one contiguous time range."""
        snap = self.snapshot()
        df = self.read(version=snap.version, include_tombstones=True)
        cluster = cluster_by_ts and "warc_ts" in df.columns
        entries = self._rewrite(df, snap, snap.version + 1,
                                cluster_by_ts=cluster,
                                files_per_bucket=files_per_bucket)
        summary: dict[str, Any] = {"operation": "compact"}
        if cluster:
            summary.update(clustered_by="warc_ts",
                           files_per_bucket=max(int(files_per_bucket), 1))
        return self._commit_rewrite(snap, [], entries, summary)

    def rescale_buckets(self, new_num_buckets: int) -> Snapshot:
        """Bucket-count evolution (Iceberg partition-spec evolution +
        full rewrite). A bucket count chosen at table creation cannot
        survive 1000x growth: at 10^10 rows a 16-bucket table puts
        ~6×10^8 rows behind every merge sort partition — the stage tail
        IS the pipeline. Rescaling rewrites the resolved table state
        (LWW winners + live tombstones) under
        ``pmod(xxhash64(key), new_n)`` in ONE exact-routed job and
        commits the new count atomically with the new file set, so
        every later reader/writer/pruner derives the same routing from
        the snapshot it reads — there is never a moment when data files
        and bucket spec disagree.

        O(table) and out-of-band by design (like ``compact``): the CDC
        stream keeps merging against the old spec until the commit
        lands, then the next batch picks up the new spec from its fresh
        snapshot read. Epoch fences live in table properties and carry
        through, so exactly-once replay protection survives the
        rescale; lineage resets (it is per-spec by construction) and the
        skew detector re-learns from the next commit's lineage."""
        snap = self.snapshot()
        new_n = int(new_num_buckets)
        if new_n < 1:
            raise ValueError(f"num_buckets must be >= 1, got {new_n}")
        if new_n == snap.num_buckets:
            return snap
        entries = self._rewrite(
            self.read(version=snap.version, include_tombstones=True),
            snap, snap.version + 1, num_buckets=new_n)
        return self._commit_rewrite(
            snap, [], entries,
            {"operation": "rescale", "from_buckets": snap.num_buckets,
             "to_buckets": new_n,
             "active_buckets": len({b for e in entries
                                    for b in e["buckets"]})},
            num_buckets=new_n)

    def compact_deltas(self) -> Snapshot:
        """Absorb merge-on-read delta debt by rewriting ONLY the
        delta-touched buckets (Iceberg ``rewrite_data_files`` with a
        filter): read + write cost is O(delta-touched data), never
        O(table) — at 100 TB the routine maintenance pass a uniform CDC
        stream needs, where ``compact()``'s full rewrite is a rare
        binpack. Clean base files carry over untouched; the rewritten
        buckets come back one file per bucket, LWW resolved, tombstones
        preserved."""
        snap = self.snapshot()
        delta_files = [f for f in snap.files if f.get("delta")]
        if not delta_files:
            return snap
        rewrite = bucket_closure(
            snap.files, {b for f in delta_files for b in f["buckets"]})
        carried = [f for f in snap.files
                   if not (set(f["buckets"]) & rewrite)]
        entries = self._rewrite(
            self.read(version=snap.version, buckets=rewrite,
                      include_tombstones=True),
            snap, snap.version + 1, buckets=rewrite)
        return self._commit_rewrite(
            snap, carried, entries,
            {"operation": "compact_deltas",
             "rewritten_buckets": len(rewrite)})
