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
  batch) -> ONE shuffle on the bucket's slot -> sort within partitions
  (_slot, _bucket, url ASC, warc_ts DESC, event_seq DESC) -> LWW dedup
  as a JVM lag() window whose (partition, order) spec matches the
  shuffle+sort exactly (Catalyst adds no exchange and no sort; pinned by
  tests/test_merge.py::test_merge_plan_is_one_exchange_one_sort) -> ONLY
  the winners cross into a pandas pass (stats + vectorized text
  extraction for winning batch rows) -> plain parquet write with no
  second exchange (no Hive partitionBy — measured ~10x the write cost
  for many small partitions). Deduping JVM-side instead of in pandas
  cuts the Arrow JVM<->Python traffic ~3.6x — on a shared-memory host
  that traffic is the scaling-limiting resource;
- ``events_in`` rides the scan as an observed metric (df.observe), so
  even the batch-size count costs no job;
- no read-back job: merge stats and per-bucket lineage ride a per-slot
  accumulator SNAPSHOT (the fused pass registers its slot's
  ``[rows, events, deletes]`` per bucket once; a retried task *replaces*
  its slot entry instead of adding, so stats stay exact under retries).
  Each bucket is ROUTED to a chosen slot by ``repartitionById`` over a
  driver-built slot map (``table.slot_column``), so partitions are evenly
  loaded (COW: one bucket = one partition = one file) instead of
  balls-in-bins. The write goes through ``LakeTable.write_routed``, the
  one writer of table data: a file's manifest entry lists the buckets
  routed to its slot that the stats pass saw rows for, and takes its row
  count and ``warc_ts`` zone map from the parquet footer (see
  tests/test_merge.py::test_slot_mapping_matches_files). Every file carries a key bloom
  filter, so ``lookup`` skips row groups of merge-written files too.

Every call records its driver-side segment marks (``snapshot``,
``plan_built``, ``job_write``, ``commit``, and ``job1_probe`` /
``job_empty_guard`` when those jobs run) in ``MergeStats.profile``; the
commit summary carries the marks taken before the commit.

Untouched buckets' files carry over into the new snapshot unchanged.
The atomic snapshot commit carries the (stream_id -> batch_id) epoch fence
and the lineage rows.

Exactly-once: if foreachBatch retries a batch, either the fence shows it
committed (skip), or the merge re-runs — and re-running is a no-op because
LWW over (warc_ts, event_seq) is idempotent.
"""

from __future__ import annotations

import math
import time
from dataclasses import asdict, dataclass, field
from typing import Any

import pyspark.sql.functions as F
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from tinyetl_spark.lake.table import (LakeTable, bucket_closure,
                                     bucket_column, conform, slot_column)


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
    # driver-side segment durations of this call, {label: seconds}
    profile: dict[str, float] = field(default_factory=dict)

    def to_dict(self) -> dict[str, Any]:
        return asdict(self)


FENCE_PREFIX = "fence."
LAST_IN_PROP = "last_events_in"
# auto mode picks merge-on-read only while the table holds at least this
# many times the previous batch's events (rewriting it would dwarf the
# batch) and the table has fewer than this many delta files per bucket
MOR_TABLE_BATCH_RATIO = 4.0
MAX_DELTA_FILES_PER_BUCKET = 4
# a bucket whose written-row share in the previous commit's lineage is at
# least this many times the mean is split over up to SKEW_SPLIT_CAP slots
SKEW_SPLIT_THRESHOLD = 2.0
SKEW_SPLIT_CAP = 16


class _SlotStatsParam(AccumulatorParam):
    """{slot -> {bucket -> [rows_out, batch_events, deletes]}}.

    addInPlace REPLACES per-slot entries (each task reports its whole
    slot exactly once), so a retried/speculative task cannot double-count."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        a.update(b)
        return a


def _skew_splits(snap, touched: set[int]) -> dict[int, int]:
    """bucket -> split count, from the PREVIOUS commit's lineage (zero
    jobs — the skew signal is already on the driver). A bucket whose last
    written-ROW share was >= ``SKEW_SPLIT_THRESHOLD`` x the mean over the
    lineage's buckets gets ceil(share/mean) partitions, capped at
    ``SKEW_SPLIT_CAP``. Rows ~ url cardinality, which is exactly the skew
    component a url-salt can spread (a single hot URL's events must stay
    in one partition for LWW locality regardless). One hot domain
    funnelled into one bucket otherwise serializes that bucket's whole
    sort+window+extract on a single core — the stage tail at 100x
    scale."""
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
        if e >= SKEW_SPLIT_THRESHOLD * mean:
            n = min(math.ceil(e / mean), SKEW_SPLIT_CAP)
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
                       strategy: str, profile: dict[str, float]) -> MergeStats:
    """Fence-only commit for an empty micro-batch: carry every file over
    unchanged, advance the epoch fence, write no data."""
    committed = table.commit(
        files=snap.files,
        summary={"operation": "merge", "stream_id": stream_id,
                 "batch_id": batch_id, "events_in": 0,
                 "active_buckets": prev_active, "total_rows": table_rows,
                 "profile": dict(profile)},
        properties={FENCE_PREFIX + stream_id: batch_id, LAST_IN_PROP: 0},
        expected_base=snap.version)
    return MergeStats(batch_id, 0, 0, 0, 0, 0, snap.num_buckets, 0.0,
                      snapshot_version=committed.version, strategy=strategy,
                      profile=profile)


def merge_apply(table: LakeTable, batch: DataFrame, batch_id: int,
                stream_id: str = "default",
                extract: bool = True, transform_fn=None,
                mode: str = "auto") -> MergeStats:
    """Apply one micro-batch of change events to the table.

    ``batch`` columns: event_seq, url, warc_ts, op, html, lang (+ extras
    that exist in the table schema).

    ``extract=True`` derives ``text`` from ``html`` for winning batch rows
    inside the fused merge pass (vectorized pandas, byte-identical to the
    reference extractor). ``transform_fn(df) -> df`` is an optional
    df-level hook applied to the batch BEFORE merging (custom stages).

    ``mode``: 'cow' | 'mor' | 'auto'. Auto picks merge-on-read when the
    batch is dense (previous merge touched most buckets) AND the table is
    >= ``MOR_TABLE_BATCH_RATIO`` x the previous batch size (rewriting it
    would dwarf the batch), AND the accumulated delta-file debt is below
    ``MAX_DELTA_FILES_PER_BUCKET`` x num_buckets — past that the next
    merge does copy-on-write, which absorbs all deltas of the touched
    buckets.

    A bucket whose written-row share in the PREVIOUS commit's lineage was
    >= ``SKEW_SPLIT_THRESHOLD`` x the mean is spread over up to
    ``SKEW_SPLIT_CAP`` sort partitions, salted by
    ``pmod(xxhash64(key, 1), nsplit)`` — key -> partition stays
    functional, so LWW winner locality (and the one-job plan) is
    unchanged while a hot domain's bucket no longer serializes on one
    core.
    """
    profile: dict[str, float] = {}
    t_last = [time.time()]

    def mark(label):
        now = time.time()
        profile[label] = round(now - t_last[0], 3)
        t_last[0] = now

    # ONE snapshot read plans the whole merge (fence, strategy, bucket
    # transform, base read); the commit's validated swap is the only other
    # read of the version pointer
    snap = table.snapshot()
    key = snap.key_col
    num_b = snap.num_buckets
    bucket = bucket_column(key, num_b)
    mark("snapshot")

    # ---- epoch fence: skip replayed batches that already committed
    if batch_id <= int(snap.properties.get(FENCE_PREFIX + stream_id, -1)):
        return MergeStats(batch_id, 0, 0, 0, 0, 0, num_b, 0.0,
                          fenced=True, snapshot_version=snap.version,
                          profile=profile)

    if transform_fn is not None:
        batch = transform_fn(batch)

    # ---- strategy choice (all driver-side, zero jobs)
    prev_active = int(snap.summary.get("active_buckets", 0))
    dense = prev_active > 0.5 * num_b
    table_rows = int(snap.summary.get("total_rows", 0))
    prev_in = int(snap.properties.get(LAST_IN_PROP, 0))
    delta_debt = sum(1 for f in snap.files if f.get("delta"))
    if mode == "mor":
        use_mor = True
    elif mode == "auto":
        use_mor = (dense
                   and delta_debt < MAX_DELTA_FILES_PER_BUCKET * num_b
                   and table_rows > MOR_TABLE_BATCH_RATIO * max(prev_in, 1))
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
            # cluster (scheduling + planning latency, measured via the
            # merge's segment marks on local-cluster[4,2,2048]) — pure
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
            stats = _commit_zero_event(table, snap, stream_id, batch_id,
                                       prev_active, table_rows, "cow",
                                       profile)
            mark("commit")
            return stats
    else:
        pre = batch.groupBy(bucket.alias("b")).count().collect()
        events_in = sum(int(r["count"]) for r in pre)
        touched = {int(r["b"]) for r in pre}
        mark("job1_probe")
        if events_in == 0:
            stats = _commit_zero_event(table, snap, stream_id, batch_id,
                                       prev_active, table_rows, "cow",
                                       profile)
            mark("commit")
            return stats

    if not use_mor:
        # a MOR delta may hold several buckets: rewriting one of them
        # rewrites the file's others too
        touched = bucket_closure(snap.files, touched)

    # ---- THE job (ONE linear pipeline, ONE shuffle, no caching):
    # [current(touched) ∪] batch -> route each bucket to its slot -> sort
    # within partitions by (_slot, _bucket, url ASC, warc_ts DESC,
    # event_seq DESC, _src ASC) -> LWW dedup as a JVM lag() window over
    # that same order -> one vectorized mapInPandas pass over the winners
    # only (text extraction for winning batch rows + per-bucket stats) ->
    # parquet write with NO second shuffle.
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
        cur = (table.read(version=snap.version, buckets=touched,
                          include_tombstones=True, resolve=False)
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
    # hot (>= SKEW_SPLIT_THRESHOLD x the mean row share) is spread over
    # ceil(share/mean) partitions by a key salt — url -> (bucket, salt) ->
    # slot stays functional, so LWW locality is preserved and the plan
    # shape (1 shuffle, 1 sort, 1 job) unchanged.
    nsplit = _skew_splits(snap, touched)
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
    # never balls-in-bins (see slot_column; at B=32 hashing left 12
    # partitions empty and the reduce-stage max task ran 10.3s vs p50 3.6s
    # at 8 cores). repartitionById sends a row to partition _slot itself:
    # COW gets a bijection (one bucket = one partition = one file, so the
    # touch-closure stays trivial; a SPLIT hot bucket writes nsplit files,
    # each still holding only that bucket), MOR round-robins its buckets
    # over the batch-sized slot count (partition loads within one bucket
    # of even).
    pair_slot = {p: i % slots for i, p in enumerate(pairs)}
    bucket_slot = {b: pair_slot[(b, 0)] for b in touched}
    splits = {b: [pair_slot[(b, j)] for j in range(n)]
              for b, n in nsplit.items()}
    from pyspark.sql import Observation
    obs = Observation()
    # events_in rides the scan as an observed metric — no counting job.
    unioned = (unioned_src
               .withColumn("_bucket", bucket)
               .withColumn("_slot", slot_column(num_b, bucket_slot, splits,
                                                key))
               .observe(obs, F.sum("_src").cast("long").alias("events_in"))
               .repartitionById(slots, "_slot")
               .sortWithinPartitions(F.col("_slot").asc(),
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
    # partitionBy(_slot) is safe for LWW: url -> bucket -> slot is
    # functional, so every row of a url lands in one window partition and
    # the (…, url ASC, warc_ts DESC, event_seq DESC, _src ASC) order keeps
    # each url's rows contiguous with its winner first.
    w = Window.partitionBy("_slot").orderBy(
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

    def stats_extract(batches):
        from pyspark import TaskContext
        from tinyetl_spark.extract import extract_series
        stats: dict[int, list] = {}
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
                s = stats.setdefault(int(bkt), [0, 0, 0])
                s[0] += len(idx)
                s[1] += int(kb.iloc[idx].sum())
                s[2] += int(kd.iloc[idx].sum())
            yield keep[out_cols]
        tc = TaskContext.get()
        acc.add({int(tc.partitionId()): stats})

    out = winners.select(*out_cols).mapInPandas(stats_extract, schema=out_schema)
    # expected rows per file, for the bloom filters: the batch plus, under
    # copy-on-write, the touched buckets' current rows
    est_rows = (events_in or prev_in) + (0 if use_mor else sum(
        int(f.get("rows") or 0) for f in snap.files
        if set(f["buckets"]) & touched))
    mark("plan_built")
    # a file's buckets: those the stats pass saw rows of in its slot
    new_entries = table.write_routed(
        out, snap, table.new_data_dir(snap.version + 1),
        lambda k: list(acc.value[k]), est_rows / slots, delta=use_mor)
    mark("job_write")

    # ---- driver-side bookkeeping: NO extra Spark job.
    slot_stats: dict[int, dict[int, list]] = dict(acc.value)
    per_bucket: dict[int, list] = {}
    for st in slot_stats.values():
        for bkt, s in st.items():
            agg = per_bucket.setdefault(bkt, [0, 0, 0])
            for i in range(3):
                agg[i] += s[i]
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
        # the single job scanned only the (empty) batch and wrote no delta
        stats = _commit_zero_event(table, snap, stream_id, batch_id,
                                   prev_active, table_rows, "mor", profile)
        mark("commit")
        return stats
    applied = sum(s[1] for s in per_bucket.values())
    deletes = sum(s[2] for s in per_bucket.values())
    written_rows = sum(s[0] for s in per_bucket.values())

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
        strategy="mor" if use_mor else "cow", profile=profile)
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
    return stats
