"""MERGE-apply: idempotent, epoch-fenced upsert of a change-event batch.

Semantics (north rule): Trafodion-style last-writer-wins keyed on the url,
ordered by (warc_ts DESC, event_seq DESC); ``op='delete'`` events win like
any other event and leave a tombstone row (``_deleted=true``) so that a
*late* (out-of-order) upsert older than the delete cannot resurrect the row
— replay from any point reconverges to the same final state.

Equivalent Iceberg SQL (what this compiles to on a real catalog)::

    MERGE INTO pages t USING batch_winners s ON t.url = s.url
    WHEN MATCHED AND (s.warc_ts, s.event_seq) >= (t.warc_ts, t.event_seq)
        THEN UPDATE SET *          -- including _deleted for tombstones
    WHEN NOT MATCHED THEN INSERT *

Two write strategies, chosen per batch (``mode='auto'``):

- **copy-on-write** (sparse batches): read ONLY the buckets the batch's
  urls hash into (manifest pruning), merge, rewrite those buckets. Cost is
  O(touched data), so a batch that hits 3 of 4096 buckets rewrites ~0.07%
  of a 100 TB table.
- **merge-on-read** (dense batches into a large table): the batch's LWW
  winners are appended as *delta* files (Iceberg MOR analogue); the base
  is untouched — write cost is O(batch), never O(table). Readers resolve
  LWW across base+delta (one window); ``compact()`` / the next COW merge
  absorbs the deltas. Without this, a uniform CDC stream at 10^10 events
  rewrites the whole table every micro-batch (copy-on-write amplification).

The hot path is tuned to exactly ONE Spark job per dense MOR micro-batch
— the streaming steady state — whether the batch comes straight from a
caller or from a ``foreachBatch`` stream, because the write turns AQE off
in the session that owns the plan (with AQE on, the shuffle map stage
runs as a job of its own). Driver fixed costs and job-submission latency
are the scaling ceiling of a streaming pipeline (measured 1-2 s/batch of
serial section at round 1, capping N->4N core-scaling efficiency at
0.52). A dense COPY-ON-WRITE batch (the periodic delta-absorbing rewrite)
into a table larger than the previous batch adds one limit-1 ``isEmpty``
guard job so an empty micro-batch can never trigger a full-table rewrite:

- the old per-batch histogram/count probe job is gone on the dense path
  (touch-all is assumed; it is a superset and always correct);
- the single linear pipeline: union(current rows of touched buckets,
  batch) -> ONE shuffle on the bucket -> sort within partitions (_bucket,
  url ASC, warc_ts DESC, event_seq DESC) -> LWW dedup as a JVM lag()
  window whose (partition, order) spec matches the shuffle+sort exactly
  (Catalyst adds no exchange and no sort; verified in the plan) -> ONLY
  the winners cross into a pandas pass (stats + vectorized text
  extraction for winning batch rows) -> plain parquet write with no
  second exchange (no Hive partitionBy — measured ~10x the write cost
  for many small partitions). Deduping JVM-side instead of in pandas
  cuts the Arrow JVM<->Python traffic ~3.6x — on a shared-memory host
  that traffic is the scaling-limiting resource;
- ``events_in`` rides the scan as an observed metric (df.observe), so
  even the batch-size count costs no job;
- the old read-back job is gone: merge stats and per-bucket lineage ride
  a per-slot accumulator SNAPSHOT (the fused pass registers its slot's
  stats once; a retried task *replaces* its slot entry instead of adding,
  so stats stay exact under retries), and the file->buckets manifest is
  computed arithmetically — each bucket is ROUTED to a chosen partition
  via an inverse-murmur3 key (a driver-side bit-exact replica of Spark's
  HashPartitioning picks the key; see tests/test_merge.py::
  test_slot_mapping_matches_files), so partitions are evenly loaded (COW:
  one bucket = one partition = one file) instead of balls-in-bins.

Untouched buckets' files carry over into the new snapshot unchanged.
The atomic snapshot commit carries the (stream_id -> batch_id) epoch fence
and the lineage rows.

Exactly-once: if foreachBatch retries a batch, either the fence shows it
committed (skip), or the merge re-runs — and re-running is a no-op because
LWW over (warc_ts, event_seq) is idempotent.
"""

from __future__ import annotations

import math
import os
import re
import time
from dataclasses import dataclass, asdict
from typing import Any

import pyspark.sql.functions as F
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from tinyetl_spark.lake.table import LakeTable, conform
from tinyetl_spark.partitioning import inverse_slot_keys


@dataclass
class MergeStats:
    batch_id: int
    events_in: int
    dedup_drops: int
    upserts: int
    deletes: int
    touched_buckets: int
    total_buckets: int
    skew_ratio: float
    fenced: bool = False
    snapshot_version: int | None = None
    strategy: str = "cow"
    # set by the pipeline's dead-letter split (streaming/quarantine.py),
    # not by merge_apply itself: rows diverted BEFORE the merge saw them
    events_quarantined: int = 0

    def to_dict(self) -> dict[str, Any]:
        return asdict(self)


FENCE_PREFIX = "fence."
LAST_IN_PROP = "last_events_in"

# segment durations of the most recent timed merge_apply in this process
# ({label: seconds}; populated when TINYETL_MERGE_TIMING=1) — lets the
# bench read commit/bookkeeping cost without parsing stdout
LAST_TIMING: dict[str, float] | None = None


class _SlotStatsParam(AccumulatorParam):
    """{slot -> {bucket -> [rows_out, batch_events, deletes]}}.

    addInPlace REPLACES per-slot entries (each task reports its whole
    slot exactly once), so a retried/speculative task cannot double-count."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        a.update(b)
        return a


# (num_b, slots, assignment, splits) -> the _slotkey Column. A
# steady-state stream re-derives the SAME routing every dense batch;
# building the long[] literal costs ~0.5 s of py4j transfer at
# num_buckets=4096, so the Column (an unbound expression, safe to reuse
# across DataFrames) is cached. Bounded: sparse batches with changing
# touched-sets evict oldest.
_SLOTKEY_CACHE: dict[tuple, Any] = {}


def _slotkey_column(num_b: int, slots: int, bucket_slot: dict[int, int],
                    splits: dict[int, list[int]] | None = None,
                    key_col: str | None = None):
    """Column routing each _bucket to its chosen shuffle partition:
    element_at over a long[] literal of inverse-murmur3 keys (ONE Literal
    node — a python-list literal becomes a num_b-child array() constructor
    costing ~2.3 s of per-batch plan analysis at 4096 buckets).

    ``splits`` spreads a HOT bucket over several partitions: its rows are
    salted by ``pmod(xxhash64(key, 1), nsplit)`` onto the bucket's slot
    list. The salt is a pure function of the KEY, so every key's rows
    still land in exactly one sort partition — the LWW window needs no
    cross-split resolution and the hot path stays one job. The salt hash
    is SEEDED (extra lit(1) column) to decorrelate it from the bucket id
    ``pmod(xxhash64(key), num_buckets)``: with the unseeded hash, any
    nsplit dividing num_buckets (2/4/8/16 against power-of-two bucket
    counts) makes the salt CONSTANT within a bucket — hash % nsplit is
    fully determined by hash % num_buckets — and the skew split silently
    routes every row back to one partition."""
    splits = splits or {}
    ck = (num_b, slots, tuple(sorted(bucket_slot.items())),
          tuple(sorted((b, tuple(sl)) for b, sl in splits.items())), key_col)
    col = _SLOTKEY_CACHE.get(ck)
    if col is None:
        import numpy as np
        slot_keys = inverse_slot_keys(slots)
        key_arr = np.zeros(num_b, dtype=np.int64)
        for bkt, s in bucket_slot.items():
            key_arr[bkt] = slot_keys[s]
        col = (F.element_at(F.lit(key_arr), (F.col("_bucket") + 1).cast("int"))
                .cast("long"))  # murmur3 hashLong, not hashInt
        for bkt, slot_list in sorted(splits.items()):
            sub_keys = np.array([slot_keys[s] for s in slot_list],
                                dtype=np.int64)
            sub = (F.pmod(F.xxhash64(F.col(key_col), F.lit(1)),
                          F.lit(len(slot_list))) + 1).cast("int")
            col = F.when(F.col("_bucket") == F.lit(bkt),
                         F.element_at(F.lit(sub_keys), sub).cast("long")
                         ).otherwise(col)
        if len(_SLOTKEY_CACHE) >= 8:
            _SLOTKEY_CACHE.pop(next(iter(_SLOTKEY_CACHE)))
        _SLOTKEY_CACHE[ck] = col
    return col


def _skew_splits(snap, touched: set[int], threshold: float,
                 cap: int) -> dict[int, int]:
    """bucket -> split count, from the PREVIOUS commit's lineage (zero
    jobs — the skew signal is already on the driver). A bucket whose last
    written-ROW share was >= ``threshold`` x the mean over this batch's
    touched set gets ceil(share/mean) partitions, capped. Rows ~ url
    cardinality, which is exactly the skew component a url-salt can
    spread (a single hot URL's events must stay in one partition for LWW
    locality regardless). One hot domain funnelled into one bucket
    otherwise serializes that bucket's whole sort+window+extract on a
    single core — the stage tail at 100x scale."""
    ev = {int(r["bucket"]): int(r.get("rows") or 0) for r in snap.lineage}
    total = sum(ev.values())
    if not total or not touched:
        return {}
    # mean over the lineage's OWN bucket set: dividing by the CURRENT
    # batch's touched-bucket count skews the signal whenever the two
    # sets differ (a sparse batch inflates the mean and suppresses
    # legitimate splits; a batch touching more buckets than the lineage
    # wrote would over-split)
    mean = total / len(ev)
    out = {}
    for b in touched:
        e = ev.get(b, 0)
        if e >= threshold * mean:
            n = min(math.ceil(e / mean), cap)
            if n > 1:
                out[b] = int(n)
    return out


def last_committed_batch(table: LakeTable, stream_id: str) -> int:
    return int(table.snapshot().properties.get(FENCE_PREFIX + stream_id, -1))


def dedup_batch(batch: DataFrame, key: str = "url") -> DataFrame:
    """Last-writer-wins winner per key within a batch (stand-alone use;
    merge_apply folds this into its single fused pass)."""
    w = Window.partitionBy(key).orderBy(
        F.col("warc_ts").desc(), F.col("event_seq").desc())
    return (batch.withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") == 1).drop("_rn"))


def _commit_zero_event(table: LakeTable, snap, stream_id: str, batch_id: int,
                       prev_active: int, table_rows: int,
                       strategy: str) -> MergeStats:
    """Fence-only commit for an empty micro-batch: carry every file over
    unchanged, advance the epoch fence, write no data."""
    committed = table.commit(
        files=snap.files,
        summary={"operation": "merge", "stream_id": stream_id,
                 "batch_id": batch_id, "events_in": 0,
                 "active_buckets": prev_active, "total_rows": table_rows},
        properties={FENCE_PREFIX + stream_id: batch_id, LAST_IN_PROP: 0},
        expected_base=snap.version)
    return MergeStats(batch_id, 0, 0, 0, 0, 0, snap.num_buckets, 0.0,
                      snapshot_version=committed.version, strategy=strategy)


def merge_apply(table: LakeTable, batch: DataFrame, batch_id: int,
                stream_id: str = "default",
                extract: bool = True, transform_fn=None,
                mode: str = "auto",
                mor_table_batch_ratio: float = 4.0,
                max_delta_files: int | None = None,
                skew_split_threshold: float = 2.0,
                skew_split_cap: int = 16) -> MergeStats:
    """Apply one micro-batch of change events to the table.

    ``batch`` columns: event_seq, url, warc_ts, op, html, lang (+ extras
    that exist in the table schema).

    ``extract=True`` derives ``text`` from ``html`` for winning batch rows
    inside the fused merge pass (vectorized pandas, byte-identical to the
    reference extractor). ``transform_fn(df) -> df`` is an optional
    df-level hook applied to the batch BEFORE merging (custom stages).

    ``mode``: 'cow' | 'mor' | 'auto'. Auto picks merge-on-read when the
    batch is dense (previous merge touched most buckets) AND the table is
    >= ``mor_table_batch_ratio`` x the previous batch size (rewriting it
    would dwarf the batch), AND the accumulated delta-file debt is below
    ``max_delta_files`` (default 4*num_buckets) — past that the next merge
    does copy-on-write, which absorbs all deltas of the touched buckets.

    ``skew_split_threshold`` / ``skew_split_cap``: a bucket whose
    written-row share in the PREVIOUS commit's lineage was >= threshold x
    the mean is spread over up to ``cap`` sort partitions, salted by
    ``pmod(xxhash64(key), nsplit)`` — key -> partition stays functional,
    so LWW winner locality (and the one-job plan) is unchanged while a
    hot domain's bucket no longer serializes on one core. 0 disables.
    """
    timing = os.environ.get("TINYETL_MERGE_TIMING") == "1"
    tmarks = [("start", time.time())]

    def mark(label):
        if timing:
            tmarks.append((label, time.time()))

    snap = table.snapshot()
    key = snap.key_col
    num_b = snap.num_buckets
    mark("snapshot")

    # ---- epoch fence: skip replayed batches that already committed
    if batch_id <= last_committed_batch(table, stream_id):
        return MergeStats(batch_id, 0, 0, 0, 0, 0, num_b, 0.0,
                          fenced=True, snapshot_version=snap.version)

    if transform_fn is not None:
        batch = transform_fn(batch)

    # ---- strategy choice (all driver-side, zero jobs)
    prev_active = int(snap.summary.get("active_buckets", 0))
    dense = prev_active > 0.5 * num_b
    table_rows = int(snap.summary.get("total_rows", 0))
    prev_in = int(snap.properties.get(LAST_IN_PROP, 0))
    delta_debt = sum(1 for f in snap.files if f.get("delta"))
    debt_cap = max_delta_files if max_delta_files is not None else 4 * num_b
    if mode == "mor":
        use_mor = True
    elif mode == "auto":
        use_mor = (dense and delta_debt < debt_cap
                   and table_rows > mor_table_batch_ratio * max(prev_in, 1))
    else:
        use_mor = False

    events_in: int | None = None
    table_empty = not snap.files
    if use_mor or dense or table_empty:
        # touch-all is a correct superset; skipping the histogram probe
        # saves one Spark job per batch (the probe only pays off when the
        # batch is SPARSE and copy-on-write can prune most of the table —
        # an EMPTY table has nothing to prune, so its first batch skips
        # the probe too; the file count stays O(touched buckets) because
        # empty shuffle partitions write no file).
        touched = set(range(num_b))
        if not use_mor and dense and table_rows > max(prev_in, 1) \
                and batch.isEmpty():
            # dense copy-on-write would union-and-rewrite EVERY bucket; a
            # limit-1 scan (one cheap job, stops at the first row) guards
            # the full-table rewrite on an empty micro-batch. MOR needs no
            # guard: its single job scans only the (empty) batch and the
            # empty delta is discarded after the job, below.
            #
            # The guard itself is SIZE-GATED (round 6): the limit-1 job
            # costs ~1 s of per-batch serial floor on a multi-executor
            # cluster (scheduling + planning latency, measured via
            # TINYETL_MERGE_TIMING on local-cluster[4,2,2048]) — pure
            # dead weight on every steady-state batch of the 2-batch
            # replay shape. When the table holds fewer rows than the
            # previous batch delivered, the rewrite the guard prevents
            # is CHEAPER than the guard job, so the rare empty batch is
            # allowed to take the (correct, idempotent) rewrite path and
            # every non-empty batch saves the job. A large table —
            # the only case where the guarded rewrite would actually
            # hurt, including every idle-stream scenario (prev_in
            # resets to 0 after any zero-event commit) — still runs the
            # guard on every batch.
            mark("job_empty_guard")
            return _commit_zero_event(table, snap, stream_id, batch_id,
                                      prev_active, table_rows, "cow")
    else:
        pre = (batch.groupBy(table.bucket_expr().alias("b")).count().collect())
        events_in = sum(int(r["count"]) for r in pre)
        touched = {int(r["b"]) for r in pre}
        mark("job1_probe")
        if events_in == 0:
            return _commit_zero_event(table, snap, stream_id, batch_id,
                                      prev_active, table_rows, "cow")

    if not use_mor:
        # touch-closure: a data file may hold >1 bucket (slot collisions);
        # rewriting bucket 5 out of a {5,9} file requires rewriting bucket
        # 9 too, else 9's rows would survive in both old and new files.
        # Fixpoint over the manifest's bucket-sets (driver-side, tiny).
        while True:
            grown = set(touched)
            for f in snap.files:
                bs = set(f["buckets"])
                if bs & grown:
                    grown |= bs
            if grown == touched:
                break
            touched = grown

    # ---- THE job (ONE linear pipeline, ONE shuffle, no caching):
    # [current(touched) ∪] batch -> repartition by bucket -> sort within
    # partitions by (url ASC, warc_ts DESC, event_seq DESC, _src ASC) ->
    # LWW dedup as a JVM lag() window over that same order -> one
    # vectorized mapInPandas pass over the winners only (text extraction
    # for winning batch rows + per-bucket stats) -> parquet write with NO
    # second shuffle.
    #
    # Design note: expressing LWW as Window.partitionBy(url) forces a
    # second exchange (Catalyst can't prove hash(bucket(url)) clusters
    # url), and a separate ArrowEvalPython stage doubles the Python
    # round-trips — fused, the merge is scan -> shuffle -> pandas -> write.
    schema_cols = [f.name for f in snap.schema.fields]
    b = (conform(batch.withColumn("_deleted", F.col("op") == F.lit("delete")),
                 snap.schema)
         .withColumn("_src", F.lit(1)))
    if use_mor:
        unioned_src = b
    else:
        cur = (table.read(buckets=touched, include_tombstones=True,
                          resolve=False)
                    .withColumn("_src", F.lit(0)))
        unioned_src = cur.unionByName(b)
    # one write slot per touched bucket: file layout (and therefore all
    # future read/list work) is a function of the DATA, never of the
    # cluster size — otherwise a bigger cluster writes more, smaller
    # files per batch and pays for it on every later read.
    # MOR deltas size their slot count to the BATCH instead (one file per
    # ~250k winner rows, estimated from the previous batch): a small delta
    # must not fan out into num_buckets tiny files per micro-batch.
    #
    # Skew-aware splitting: a bucket the previous commit's lineage marks
    # hot (>= skew_split_threshold x the mean row share) is spread over
    # ceil(share/mean) partitions via a key-salted second routing key —
    # url -> (bucket, salt) -> slot stays functional, so LWW locality is
    # preserved and the plan shape (1 shuffle, 1 sort, 1 job) unchanged.
    nsplit = _skew_splits(snap, touched, skew_split_threshold,
                          skew_split_cap) if skew_split_threshold else {}
    if use_mor:
        slots = max(1, min(num_b, (max(prev_in, 1) + 249_999) // 250_000))
        nsplit = {b: min(n, slots) for b, n in nsplit.items()
                  if min(n, slots) > 1}
        pairs = [(b, j) for b in sorted(touched)
                 for j in range(nsplit.get(b, 1))]
    else:
        pairs = [(b, j) for b in sorted(touched)
                 for j in range(nsplit.get(b, 1))]
        slots = max(len(pairs), 1)
    # (bucket, split) -> shuffle partition is a CHOSEN even assignment,
    # never balls-in-bins: repartition(slots, "_bucket") hashes B bucket
    # ids into B partitions, leaving ~B/e partitions EMPTY and piling 2-3
    # buckets onto others (measured at B=32: 12 empty, max 3) — the 2-3x
    # straggler task then idles the whole stage tail at every micro-batch
    # (the single biggest scaling loss found by profiling: reduce-stage
    # max task 10.3s vs p50 3.6s at 8 cores). _slotkey carries an
    # inverse-murmur3 key that routes bucket b to partition
    # bucket_slot[b] EXACTLY: COW gets a bijection (one bucket = one
    # partition = one file, so the touch-closure stays trivial; a SPLIT
    # hot bucket writes nsplit files, each still holding only that
    # bucket), MOR round-robins its buckets over the batch-sized slot
    # count (partition loads within one bucket of even).
    pair_slot = {p: i % slots for i, p in enumerate(pairs)}
    bucket_slot = {b: pair_slot[(b, 0)] for b in touched}
    splits = {b: [pair_slot[(b, j)] for j in range(n)]
              for b, n in nsplit.items()}
    from pyspark.sql import Observation
    obs = Observation()
    # events_in rides the scan as an observed metric — no counting job.
    unioned = (unioned_src
               .withColumn("_bucket", table.bucket_expr())
               .withColumn("_slotkey", _slotkey_column(num_b, slots,
                                                       bucket_slot,
                                                       splits, key))
               .observe(obs, F.sum("_src").cast("long").alias("events_in"))
               .repartition(slots, "_slotkey")
               .sortWithinPartitions(F.col("_slotkey").asc(),
                                     F.col("_bucket").asc(),
                                     F.col(key).asc(),
                                     F.col("warc_ts").desc(),
                                     F.col("event_seq").desc(),
                                     F.col("_src").asc()))
    # LWW dedup stays JVM-side: a lag() window whose (partition, order)
    # spec exactly matches the shuffle partitioning + sort above, so
    # Catalyst adds NO extra exchange and NO extra sort — the winner per
    # url is simply the first row of its run. Only WINNERS cross into
    # Python (for text extraction + stats): ~3-4x less Arrow traffic than
    # deduping in pandas, and the JVM window is Tungsten-tight. On this
    # host that traffic is the scaling-limiting shared resource (measured:
    # identical work costs +17% core-seconds at 8 threads, +28% at 16).
    # partitionBy(_slotkey) is safe for LWW: url -> bucket -> slotkey is
    # functional, so every row of a url lands in one window partition and
    # the (…, url ASC, warc_ts DESC, event_seq DESC, _src ASC) order keeps
    # each url's rows contiguous with its winner first, exactly as before.
    w = Window.partitionBy("_slotkey").orderBy(
        F.col("_bucket").asc(),
        F.col(key).asc(), F.col("warc_ts").desc(),
        F.col("event_seq").desc(), F.col("_src").asc())
    winners = (unioned
               .withColumn("_prev", F.lag(key).over(w))
               .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col(key)))
               .drop("_prev"))
    out_cols = schema_cols + ["_src", "_bucket"]
    do_extract = extract is not False and "text" in schema_cols \
        and "html" in schema_cols
    out_schema = StructType(
        snap.schema.fields
        + [StructField("_src", IntegerType(), False),
           StructField("_bucket", LongType(), False)])

    acc = table.spark.sparkContext.accumulator({}, _SlotStatsParam())

    has_ts = "warc_ts" in schema_cols

    def stats_extract(batches):
        import pandas as pd
        from pyspark import TaskContext
        from tinyetl_spark.extract import extract_series
        stats: dict[int, list] = {}

        def bucket_stats(bkt):
            # rows, events, deletes, ts_min_us, ts_max_us (zone map)
            return stats.setdefault(int(bkt), [0, 0, 0, None, None])

        for keep in batches:
            if len(keep) == 0:
                continue
            if do_extract:
                mask = (keep["_src"] == 1) & keep["html"].notna()
                if mask.any():
                    keep = keep.copy()
                    keep.loc[mask, "text"] = extract_series(keep.loc[mask, "html"])
            kb = keep["_src"] == 1
            kd = kb & keep["_deleted"].fillna(False).astype(bool)
            grp = keep.groupby("_bucket", sort=False)
            for bkt, idx in grp.indices.items():
                s = bucket_stats(bkt)
                s[0] += len(idx)
                s[1] += int(kb.iloc[idx].sum())
                s[2] += int(kd.iloc[idx].sum())
                if has_ts:
                    tsv = keep["warc_ts"].iloc[idx]
                    mn, mx = tsv.min(), tsv.max()
                    if pd.notna(mn):
                        mni = int(pd.Timestamp(mn).value // 1000)
                        mxi = int(pd.Timestamp(mx).value // 1000)
                        s[3] = mni if s[3] is None else min(s[3], mni)
                        s[4] = mxi if s[4] is None else max(s[4], mxi)
            yield keep[out_cols]
        tc = TaskContext.get()
        acc.add({int(tc.partitionId()): stats})

    out = winners.select(*out_cols).mapInPandas(stats_extract, schema=out_schema)
    out_dir = table.new_data_dir(snap.version + 1)
    mark("plan_built")
    # toggle AQE in the plan's own session: a foreachBatch DataFrame
    # belongs to the stream's cloned session, which table.spark's conf
    # does not reach
    sess = out.sparkSession
    aqe_before = sess.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        # fixed-shape query (explicit repartition, fixed slot count): AQE
        # cannot improve it, its per-stage re-planning adds latency to
        # every micro-batch, and partition coalescing would break the
        # slot->file index arithmetic below.
        sess.conf.set("spark.sql.adaptive.enabled", "false")
        out.write.mode("append").parquet(out_dir)
    finally:
        sess.conf.set("spark.sql.adaptive.enabled", aqe_before)
    mark("job_write")

    # ---- driver-side bookkeeping: NO extra Spark job.
    slot_stats: dict[int, dict[int, list]] = dict(acc.value)
    per_bucket: dict[int, list] = {}
    for st in slot_stats.values():
        for bkt, s in st.items():
            agg = per_bucket.setdefault(bkt, [0, 0, 0, None, None])
            for i in range(3):
                agg[i] += s[i]
            if len(s) > 3 and s[3] is not None:
                agg[3] = s[3] if agg[3] is None else min(agg[3], s[3])
                agg[4] = s[4] if agg[4] is None else max(agg[4], s[4])
    # slot_stats empty <=> the write job ran ZERO tasks (a zero-partition
    # micro-batch: availableNow + maxFilesPerTrigger can deliver a log
    # segment holding no rows). With no task, the Observation never
    # receives its metrics row and obs.get dies inside toPyRow — so only
    # consult it when at least one task reported in. (COW batches always
    # have tasks — they scan the base table — this is the MOR-empty case.)
    observed = obs.get.get("events_in") if slot_stats else 0
    if events_in is None:
        events_in = int(observed or 0)
    if use_mor and events_in == 0:
        # the single job scanned only the (empty) batch; drop the empty
        # delta files instead of committing read-amplifying delta debt
        import shutil
        shutil.rmtree(out_dir, ignore_errors=True)
        return _commit_zero_event(table, snap, stream_id, batch_id,
                                  prev_active, table_rows, "mor")
    applied = sum(s[1] for s in per_bucket.values())
    deletes = sum(s[2] for s in per_bucket.values())
    written_rows = sum(s[0] for s in per_bucket.values())

    # manifest entries: part-file index == shuffle partition index (plain
    # parquet write, one file per non-empty partition), and the buckets of
    # slot k are exactly those routed there: bucket_slot[bkt] == k.
    new_entries = []
    for fn in sorted(os.listdir(out_dir)):
        if not fn.endswith(".parquet"):
            continue
        m = re.match(r"part-(\d+)-", fn)
        if not m:
            continue
        k = int(m.group(1))
        st = slot_stats.get(k)
        ts_range = None
        if st is not None:
            bs = sorted(bkt for bkt, s in st.items() if s[0] > 0)
            rows = sum(s[0] for s in st.values())
            los = [s[3] for s in st.values() if len(s) > 3 and s[3] is not None]
            his = [s[4] for s in st.values() if len(s) > 3 and s[4] is not None]
            if los:
                ts_range = [min(los), max(his)]
        else:  # accumulator lost (shouldn't happen) -> correct superset
            bs = sorted(bkt for bkt in touched
                        if any(pair_slot[(bkt, j)] == k
                               for j in range(nsplit.get(bkt, 1))))
            rows = 0
        entry = {"path": os.path.join(out_dir, fn), "buckets": bs,
                 "rows": rows, "schema_version": snap.schema_version}
        if ts_range is not None:
            # file-level zone map (epoch µs): readers prune whole files on
            # warc_ts predicates without any IO — Iceberg column-stats
            # analogue, maintained for free by the stats pass
            entry["ts_range"] = ts_range
        if use_mor:
            entry["delta"] = True
        new_entries.append(entry)

    if use_mor:
        carried = list(snap.files)
        # total_rows is the PHYSICAL row count across live files: a delta
        # row that shadows a base-row version still counts until
        # compaction absorbs it (exact resolved counts would need a
        # base-side probe — rejected to keep the one-job hot path). The
        # auto heuristic and reporting only need this physical figure;
        # COW and compact_deltas commits restore exactness.
        total_rows = table_rows + written_rows
    else:
        carried = [f for f in snap.files if not (set(f["buckets"]) & touched)]
        total_rows = (sum(int(f.get("rows") or 0) for f in carried)
                      + written_rows)
    batch_counts = [s[1] for s in per_bucket.values() if s[1]]
    skew = (max(batch_counts) / (sum(batch_counts) / len(batch_counts))
            if batch_counts else 0.0)
    lineage = [{"bucket": bkt, "rows": s[0], "events": s[1]}
               for bkt, s in sorted(per_bucket.items())]
    active_buckets = sum(1 for s in per_bucket.values() if s[1])

    stats = MergeStats(
        batch_id=batch_id, events_in=events_in,
        dedup_drops=events_in - applied, upserts=applied - deletes,
        deletes=deletes, touched_buckets=len(touched),
        total_buckets=num_b, skew_ratio=round(skew, 3),
        strategy="mor" if use_mor else "cow")
    committed = table.commit(
        files=carried + new_entries,
        summary={"operation": "merge", "stream_id": stream_id,
                 "active_buckets": active_buckets, "total_rows": total_rows,
                 **stats.to_dict()},
        properties={FENCE_PREFIX + stream_id: batch_id,
                    LAST_IN_PROP: events_in},
        lineage=lineage, expected_base=snap.version)
    stats.snapshot_version = committed.version
    mark("commit")
    if timing:
        global LAST_TIMING
        LAST_TIMING = {lbl: round(t1 - t0, 3) for (_, t0), (lbl, t1)
                       in zip(tmarks, tmarks[1:])}
        segs = ", ".join(f"{lbl}={v:.2f}s" for lbl, v in LAST_TIMING.items())
        print(f"[merge-timing] batch={batch_id} strategy={stats.strategy} {segs}",
              flush=True)
    return stats
