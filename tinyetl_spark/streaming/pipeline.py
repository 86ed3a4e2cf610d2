"""The streaming CDC pipeline: event-log tail → dedup → MERGE-apply.

Wiring::

    stream_event_log(...)                    # checkpointed offsets
      [.withWatermark("warc_ts", ...)        # optional in-stream guard
       .dropDuplicatesWithinWatermark(...)]
      → _start_stream(events, apply_batch, ...)  # per-batch sink,
                                                 # checkpointLocation,
                                                 # availableNow | processingTime

``run_pipeline``, ``replicate`` and ``run_fanout_pipeline`` differ only
in their source and their per-batch ``apply_batch`` (an idempotent,
epoch-fenced merge); all three start through ``_start_stream``.

Exactly-once story (north rule):
- offsets: the file source checkpoint pins which log segments belong to
  each batchId; a restarted query replays the same slice.
- sink: ``merge_apply`` is idempotent (LWW on (warc_ts, event_seq)) AND
  epoch-fenced (snapshot property ``fence.<stream_id>`` = last committed
  batchId) — a replayed batch either fences out or re-merges to the same
  state. One lake snapshot per micro-batch = Iceberg's
  snapshot-per-commit.
- stream incarnation: ``stream_id`` is minted once per checkpoint dir and
  stored there. Wiping the checkpoint starts a new incarnation whose
  batchIds restart at 0 — the new id gets a fresh fence namespace, and
  full replay reconverges via idempotency instead of being wrongly fenced.

The watermark guard (``dedup_within_watermark=...``) drops exact
(url, event_seq) duplicates *in-stream* before they reach the merge —
cheap state-store dedup for at-least-once upstream agents. It is an
optimization, not a correctness requirement: merge is idempotent anyway.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from tinyetl_spark.lake import LakeTable, merge_apply
from tinyetl_spark.lake.merge import MergeStats
from tinyetl_spark.sources.eventlog import stream_event_log

STREAM_ID_FILE = "tinyetl_stream_id"


def _stream_incarnation(checkpoint_dir: str) -> str:
    os.makedirs(checkpoint_dir, exist_ok=True)
    p = os.path.join(checkpoint_dir, STREAM_ID_FILE)
    if os.path.exists(p):
        with open(p) as f:
            return f.read().strip()
    sid = uuid.uuid4().hex[:16]
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        f.write(sid)
    os.replace(tmp, p)
    return sid


# ``auto_rescale_rows_per_bucket`` doubles the bucket count up to this cap
AUTO_RESCALE_MAX_BUCKETS = 1 << 16


@dataclass
class PipelineRun:
    query: StreamingQuery | None
    stream_id: str
    stats: list[MergeStats] = field(default_factory=list)

    def await_termination(self, timeout: int | None = None):
        return self.query.awaitTermination(timeout)

    def busy_seconds(self) -> float:
        """Sustained busy time: the sum of ``triggerExecution`` over the
        batches that read input — every batch's full cost (planning, the
        merge job, offset/commit bookkeeping) without the query's one-time
        start and stop. Spark keeps only the last
        ``spark.sql.streaming.numRecentProgressUpdates`` progress updates;
        if a batch this run applied is no longer among them the sum would
        undercount, so this raises instead."""
        progress = self.query.recentProgress
        runs = (self.stats.values() if isinstance(self.stats, dict)
                else [self.stats])
        missing = ({s.batch_id for stats in runs for s in stats}
                   - {p.batchId for p in progress})
        if missing:
            raise RuntimeError(
                f"streaming progress of batches {sorted(missing)} is no "
                "longer retained (spark.sql.streaming."
                "numRecentProgressUpdates); busy time would undercount")
        return sum(p.durationMs.get("triggerExecution", 0)
                   for p in progress if (p.numInputRows or 0) > 0) / 1000.0


def _start_stream(events: DataFrame, apply_batch, checkpoint_dir: str,
                  query_name: str, processing_time: str | None = None
                  ) -> StreamingQuery:
    """THE stream launcher: ``apply_batch`` per micro-batch, offsets in
    ``checkpoint_dir``; drains what is available and stops (availableNow)
    unless ``processing_time`` asks for a standing trigger."""
    trigger = ({"availableNow": True} if processing_time is None
               else {"processingTime": processing_time})
    return (events.writeStream.queryName(query_name)
            .foreachBatch(apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**trigger).start())


def run_pipeline(
    spark: SparkSession,
    log_dir: str,
    table_path: str,
    checkpoint_dir: str,
    processing_time: str | None = None,
    max_files_per_trigger: int | None = None,
    dedup_within_watermark: str | None = None,
    query_name: str = "tinyetl-cdc",
    transform_fn=None,
    merge_mode: str = "auto",
    auto_compact_debt: int | None = 32,
    expire_every: int | None = None,
    expire_keep_last: int = 10,
    quarantine_dir: str | None = None,
    auto_rescale_rows_per_bucket: int | None = None,
    matview_dirs: list[str] | None = None,
    source_format: str = "eventlog",
) -> PipelineRun:
    """Start the CDC stream into an existing LakeTable at ``table_path``.

    The trigger is availableNow (drain the log, then stop) unless
    ``processing_time`` (e.g. ``"10 seconds"``) asks for a standing one.

    ``source_format`` selects the landing-zone dialect: ``eventlog``
    (native parquet segments) or an envelope dialect of
    ``sources.debezium.DIALECTS`` (json-lines via ``stream_envelopes`` —
    same checkpointed file-source offsets, so resume/replay semantics are
    identical).

    Maintenance runs inline on a cadence so long streams stay healthy
    without an operator:

    - ``auto_compact_debt``: when the table's merge-on-read delta-file
      count crosses this threshold after a batch, ``compact_deltas()``
      fires (O(delta-touched buckets) rewrite) — read amplification stays
      bounded instead of growing with every MOR batch. None disables.
    - ``expire_every``/``expire_keep_last``: every N batches, expire
      snapshots beyond the last K — bounds the one-snapshot-per-micro-
      batch metadata growth over a long stream's lifetime (the CDF
      retention window shrinks accordingly). None disables (default:
      callers that time-travel or tail the CDF manage retention
      themselves).
    - ``quarantine_dir``: dead-letter queue. Structurally invalid events
      (null/empty url, null event_seq/warc_ts, unknown op, payloadless
      non-delete, html over quarantine.DEFAULT_MAX_HTML_BYTES — see
      streaming/quarantine.py) are diverted there per batch with
      machine-readable reasons instead of poisoning the merge or being
      dropped silently; the write is replay-idempotent (per-batch
      overwrite), so exactly-once survives. None disables (default:
      trusted-log deployments pay zero cost).
    - ``auto_rescale_rows_per_bucket``: bucket-count evolution on a
      signal the merge already computes. When the table's mean rows per
      bucket (total_rows / num_buckets, both from the committed
      snapshot summary — zero extra jobs) crosses this threshold after
      a batch, the bucket count DOUBLES via ``rescale_buckets`` (full
      rewrite, O(table) — it stalls that one micro-batch, the price of
      never letting per-bucket row counts grow unboundedly as the
      stream runs from 10^6 toward 10^10 rows). Doubling halves the
      mean, so the trigger naturally fires ~once per table doubling;
      ``AUTO_RESCALE_MAX_BUCKETS`` caps runaway growth. None disables.
    - ``matview_dirs``: incremental materialized views
      (streaming/matview.py) refreshed inline after every batch. Each is
      a lake table created via ``matview.create_view``; refresh is
      exactly-once in its own right (fenced on the source snapshot
      version), so a crashed-and-replayed batch refreshes once. None
      disables.
    """
    table = LakeTable(spark, table_path)
    if not table.exists():
        raise ValueError(f"target table does not exist: {table_path}")
    stream_id = _stream_incarnation(checkpoint_dir)

    if source_format == "eventlog":
        events = stream_event_log(spark, log_dir, max_files_per_trigger)
    else:
        from tinyetl_spark.sources.debezium import stream_envelopes
        # with a DLQ configured, garbage envelopes pass through with
        # null fields (+ the raw string) so the quarantine rules divert
        # them with reasons instead of the parser dropping them blind
        events = stream_envelopes(
            spark, log_dir, source_format, max_files_per_trigger,
            drop_invalid=quarantine_dir is None,
            raw_col="_raw_envelope" if quarantine_dir is not None else None)
    if dedup_within_watermark:
        events = (events.withWatermark("warc_ts", dedup_within_watermark)
                        .dropDuplicatesWithinWatermark(["url", "event_seq"]))

    run = PipelineRun(query=None, stream_id=stream_id)

    def apply_batch(batch_df, batch_id: int):
        # fresh handle per batch: a batch may run on a recovered query
        t = LakeTable(spark, table_path)
        n_quarantined = 0
        if quarantine_dir is not None:
            from tinyetl_spark.streaming.quarantine import (
                split_quarantine, write_quarantine)
            batch_df, rejects = split_quarantine(batch_df)
            n_quarantined = write_quarantine(rejects, quarantine_dir,
                                             batch_id)
            if "_raw_envelope" in batch_df.columns:
                # DLQ keeps the original wire bytes; the merge does not
                batch_df = batch_df.drop("_raw_envelope")
        stats = merge_apply(t, batch_df, batch_id, stream_id=stream_id,
                            transform_fn=transform_fn, mode=merge_mode)
        stats.events_quarantined = n_quarantined
        run.stats.append(stats)
        if not stats.fenced and (auto_compact_debt is not None
                                 or auto_rescale_rows_per_bucket is not None):
            # one snapshot read serves both checks; compaction hands back
            # the snapshot it committed
            snap = t.snapshot()
            if (auto_compact_debt is not None
                    and sum(1 for f in snap.files if f.get("delta"))
                    >= auto_compact_debt):
                snap = t.compact_deltas()
            if (auto_rescale_rows_per_bucket is not None
                    and snap.num_buckets < AUTO_RESCALE_MAX_BUCKETS
                    and int(snap.summary.get("total_rows") or 0)
                    / snap.num_buckets >= auto_rescale_rows_per_bucket):
                t.rescale_buckets(min(snap.num_buckets * 2,
                                      AUTO_RESCALE_MAX_BUCKETS))
        if matview_dirs:
            from tinyetl_spark.streaming.matview import refresh_view
            for mv in matview_dirs:
                refresh_view(spark, t, LakeTable(spark, mv))
        if expire_every and (batch_id + 1) % expire_every == 0:
            t.expire_snapshots(keep_last=expire_keep_last)

    run.query = _start_stream(events, apply_batch, checkpoint_dir,
                              query_name, processing_time)
    return run


def run_to_completion(spark: SparkSession, log_dir: str, table_path: str,
                      checkpoint_dir: str, **kw) -> list[MergeStats]:
    """availableNow run: drain everything currently in the log, then stop."""
    run = run_pipeline(spark, log_dir, table_path, checkpoint_dir, **kw)
    run.await_termination()
    return run.stats


def replicate(spark: SparkSession, src_table: str, dst_table: str,
              checkpoint_dir: str, query_name: str = "tinyetl-replicate",
              ) -> list[MergeStats]:
    """Table replication by chaining engines: tail ``src_table``'s
    change-data-feed (the ``tinyetl_cdf`` streaming source) and MERGE
    each micro-batch into ``dst_table`` — an incremental mirror that
    never re-reads source state (the reference's only equivalent is a
    scheduled full re-copy). Checkpointed offsets (snapshot versions)
    plus the destination's own epoch fence give exactly-once end to end;
    the change rows carry (warc_ts, event_seq), so replay reconverges by
    LWW idempotency like any other event stream. Change rows already
    hold extracted text — the merge runs with extract=False and the
    mirror is byte-identical."""
    from tinyetl_spark.streaming.cdf_source import stream_change_events
    dst = LakeTable(spark, dst_table)
    if not dst.exists():
        raise ValueError(f"target table does not exist: {dst_table}")
    stream_id = _stream_incarnation(checkpoint_dir)
    run_stats: list[MergeStats] = []
    events = stream_change_events(spark, src_table)
    # source schema evolution propagates: columns the feed carries that
    # the mirror lacks would otherwise be conform-DROPPED silently, and a
    # feed column WIDER than the mirror's (int→long upstream) would be
    # conform-NARROWED — overflow values silently wrap. Evolve the mirror
    # first: add new columns, widen dtypes along _WIDEN_OK (same rules as
    # the source's own evolution); the merge then conforms normally. The
    # feed pins its schema for the query's lifetime (the source refuses
    # to run on past a mid-stream evolution), so once per run suffices.
    from tinyetl_spark.lake.table import _WIDEN_OK
    mirror = {f.name: f for f in dst.snapshot().schema.fields}
    extra, widened = [], False
    for f in events.schema.fields:
        if f.name == "op":
            continue
        cur = mirror.get(f.name)
        if cur is None:
            extra.append(f)
        elif (cur.dataType != f.dataType
              and (cur.dataType.typeName(),
                   f.dataType.typeName()) in _WIDEN_OK):
            mirror[f.name] = cur.__class__(f.name, f.dataType,
                                           cur.nullable, cur.metadata)
            widened = True
    if extra or widened:
        from pyspark.sql.types import StructType as _ST
        dst.evolve_schema(_ST(list(mirror.values()) + extra))

    def apply_batch(batch, batch_id: int):
        run_stats.append(merge_apply(dst, batch, batch_id,
                                     stream_id=stream_id, extract=False))

    _start_stream(events, apply_batch, checkpoint_dir,
                  query_name).awaitTermination()
    return run_stats


def bootstrap_snapshot(table: LakeTable, snapshot, batch_id: int = 0,
                       stream_id: str = "bootstrap",
                       seq_col: str | None = None,
                       op_col: str | None = None,
                       extract: bool = True, transform_fn=None,
                       mode: str = "auto") -> MergeStats:
    """Initial-load half of the snapshot-then-stream CDC contract
    (Debezium's snapshot mode; the reference's closest analogue is the
    one-shot batch copy, /root/reference/src/transfer.rs — but with no
    way to switch to incremental afterwards).

    ``snapshot`` is a consistent read of the SOURCE table at some cut
    point T: plain rows (url, warc_ts, html/lang/extras...), no ``op``
    column. Each row becomes an ``update`` change event and the whole
    snapshot is merge-applied as one bulk batch under the ``stream_id``
    fence namespace — re-running the bootstrap (same batch_id) fences to
    a no-op, so a crashed initial load is safely retried.

    Reconvergence with the tail stream: start the log stream from any
    WAL position at or before T (its own checkpoint dir mints a separate
    incarnation, so its fences are independent). Replayed pre-snapshot
    events LOSE last-writer-wins against the snapshot row (their
    (warc_ts, event_seq) is at most the snapshot row's) or tie-reapply
    the identical state; post-snapshot events win. The only contract the
    caller owes is the standard CDC one: the log must retain events back
    to the snapshot cut, else the gap is unrecoverable by any engine.

    ``seq_col`` names a snapshot column carrying the source's last
    applied WAL position per row — pass it when the source exposes one
    (exact LWW ties). Without it the bootstrap stamps event_seq=0:
    a replayed event with the same warc_ts then wins the tie, which is
    convergent anyway — an event carrying the same timestamp as the
    snapshot row IS the write that produced it, so reapplying it yields
    byte-identical state.

    ``op_col`` names a snapshot column carrying 'update'/'delete' per
    row, for snapshots that include TOMBSTONES (recently-deleted keys
    with their deletion (warc_ts, seq) — e.g. another instance of this
    engine, or a log-compacted topic that retains tombstones). Why it
    matters: under (warc_ts, event_seq) LWW with out-of-order
    timestamps, a key deleted BEFORE the tail's start position but with
    a deletion warc_ts NEWER than some stale event the tail replays is
    invisible to a rows-only snapshot — the stale event would resurrect
    it. Tombstones in the snapshot close that gap exactly (the merge
    writes them as _deleted rows that win LWW). Without ``op_col``,
    exact reconvergence still holds whenever warc_ts is monotone with
    WAL position (in-order streams), or when the tail starts at the
    snapshot cut AND every post-cut event carries a post-cut timestamp.
    """
    cols = [
        (F.col(seq_col) if seq_col else F.lit(0)).cast("long")
        .alias("event_seq"),
        F.col("url"), F.col("warc_ts"),
        (F.col(op_col) if op_col else F.lit("update")).alias("op"),
    ]
    passthrough = [c for c in snapshot.columns
                   if c not in ("url", "warc_ts", "op", "event_seq")
                   and c not in (seq_col, op_col)]
    ev = snapshot.select(*cols, *[F.col(c) for c in passthrough])
    return merge_apply(table, ev, batch_id, stream_id=stream_id,
                       extract=extract, transform_fn=transform_fn,
                       mode=mode)


@dataclass
class FanoutRun(PipelineRun):
    # route -> MergeStats per batch, appended in batch order
    stats: dict[str, list[MergeStats]] = field(default_factory=dict)
    unrouted_events: int = 0


def run_fanout_pipeline(
    spark: SparkSession,
    log_dir: str,
    tables: dict[str, str],
    checkpoint_dir: str,
    route_col: str = "route",
    unknown_route_dir: str | None = None,
    query_name: str = "tinyetl-cdc-fanout",
) -> FanoutRun:
    """One CDC stream fanned out to MANY tables — the multi-table shape
    every real binlog tail has (a Debezium connector emits every table
    of the source database into one stream; the reference moves exactly
    one table per job, src/config.rs job = source->target pair). The
    trigger is availableNow and each table's merge runs in auto mode.

    The log carries a ``route_col`` string next to the change-event
    columns; each micro-batch is split by route and merge-applied to the
    matching table in ``tables`` (route value -> table path).

    Exactly-once per TABLE, not per batch-group: every table keeps its
    own epoch fence under this stream's incarnation, so a crash after
    table A committed batch 7 but before table B did replays batch 7
    into A as a fenced no-op and into B as a normal merge. No cross-
    table transaction is needed — idempotence per sink composes.

    Events whose route has no table entry go to ``unknown_route_dir``
    as parquet under batch_id=N subdirs (overwrite per batch =>
    replay-idempotent), or are counted and dropped when None — never
    merged into a wrong table, never able to poison the stream.

    Scale shape: ONE persisted pass over the batch, then K route-pruned
    merges (each shuffles only its slice); route cardinality is the
    table count (tens), not the key count, so the split adds no shuffle
    of its own.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    from tinyetl_spark.schema import EVENTS_SCHEMA
    routes = dict(tables)
    for route, path in routes.items():
        if not LakeTable(spark, path).exists():
            raise ValueError(
                f"fan-out target for route {route!r} does not exist: {path}")
    stream_id = _stream_incarnation(checkpoint_dir)
    # copy — StructType.add would mutate the shared EVENTS_SCHEMA
    schema = StructType(list(EVENTS_SCHEMA.fields)
                        + [StructField(route_col, StringType(), False)])
    events = stream_event_log(spark, log_dir, schema=schema)

    run = FanoutRun(query=None, stream_id=stream_id,
                    stats={r: [] for r in routes})

    def apply_batch(batch_df, batch_id: int):
        batch_df = batch_df.persist()
        try:
            for route, path in routes.items():
                slice_df = (batch_df
                            .filter(F.col(route_col) == F.lit(route))
                            .drop(route_col))
                t = LakeTable(spark, path)
                run.stats[route].append(
                    merge_apply(t, slice_df, batch_id, stream_id=stream_id))
            strays = batch_df.filter(
                ~F.col(route_col).isin(*routes) | F.col(route_col).isNull())
            n = strays.count()
            if n and unknown_route_dir is not None:
                # per-batch overwrite => replaying the batch rewrites the
                # same stray slice instead of duplicating it
                strays.write.mode("overwrite").parquet(
                    os.path.join(unknown_route_dir, f"batch_id={batch_id}"))
            run.unrouted_events += n
        finally:
            batch_df.unpersist()

    run.query = _start_stream(events, apply_batch, checkpoint_dir, query_name)
    return run


def progress_summary(run: PipelineRun) -> dict[str, Any]:
    s = run.stats
    return {
        "batches": len(s),
        "events_in": sum(x.events_in for x in s),
        "upserts": sum(x.upserts for x in s),
        "deletes": sum(x.deletes for x in s),
        "dedup_drops": sum(x.dedup_drops for x in s),
        "fenced_batches": sum(1 for x in s if x.fenced),
        "events_quarantined": sum(x.events_quarantined for x in s),
        "max_skew_ratio": max((x.skew_ratio for x in s), default=0.0),
    }
