"""Streaming CDC: checkpointed resume, exactly-once under replay,
full-replay reconvergence, in-stream watermark dedup."""

import shutil

import pyspark.sql.functions as F
import pytest

from tinyetl_spark import datagen
from tinyetl_spark.lake import LakeTable
from tinyetl_spark.schema import PAGES_SCHEMA
from tinyetl_spark.sources.eventlog import append_events, read_event_log
from tinyetl_spark.streaming.pipeline import (run_pipeline,
                                              run_to_completion)
from tests.test_merge import brute_force_state


def setup(spark, root, n_events=1200, n_urls=150, seed=42):
    log = f"{root}/log"
    table = f"{root}/table"
    ckpt = f"{root}/ckpt"
    LakeTable.create(spark, table, PAGES_SCHEMA, key_col="url", num_buckets=8)
    ev = datagen.change_events(spark, n_events, n_urls, seed=seed)
    return log, table, ckpt, ev


def state(spark, table_path):
    return sorted((r["url"], r["event_seq"])
                  for r in LakeTable(spark, table_path).read().collect())


def oracle_state(ev):
    return sorted((r["url"], r["event_seq"]) for r in brute_force_state(ev).collect())


def test_stream_drains_log_and_matches_oracle(spark, tmpdir_path):
    log, table, ckpt, ev = setup(spark, tmpdir_path)
    append_events(ev, log, segment_partitions=4)
    stats = run_to_completion(spark, log, table, ckpt)
    assert sum(s.events_in for s in stats) == 1200
    assert state(spark, table) == oracle_state(ev)


def test_stream_resumes_from_checkpoint(spark, tmpdir_path):
    """New segments after a completed run are picked up incrementally —
    already-processed segments are not re-read."""
    log, table, ckpt, ev = setup(spark, tmpdir_path)
    first = ev.filter("event_seq < 600")
    second = ev.filter("event_seq >= 600")
    append_events(first, log, segment_partitions=3)
    run_to_completion(spark, log, table, ckpt)
    append_events(second, log, segment_partitions=3)
    stats2 = run_to_completion(spark, log, table, ckpt)
    assert sum(s.events_in for s in stats2) == 600    # only the new slice
    assert state(spark, table) == oracle_state(ev)


def test_full_replay_fresh_checkpoint_reconverges(spark, tmpdir_path):
    """Wiping the checkpoint replays the WHOLE log into the existing table
    under a new stream incarnation; idempotent LWW must reconverge to the
    identical final state (north rule: replay from any checkpoint)."""
    log, table, ckpt, ev = setup(spark, tmpdir_path)
    append_events(ev, log, segment_partitions=5)
    run_to_completion(spark, log, table, ckpt)
    before = state(spark, table)
    shutil.rmtree(ckpt)                                # lose all offsets
    stats = run_to_completion(spark, log, table, ckpt)
    assert sum(s.events_in for s in stats) == 1200     # fully replayed
    assert not any(s.fenced for s in stats)            # new incarnation
    assert state(spark, table) == before


def test_processing_time_trigger_drains_log(spark, tmpdir_path):
    """A standing processingTime trigger (instead of availableNow) merges
    a 2-segment log to the same state as the drained run."""
    log, table, ckpt, ev = setup(spark, tmpdir_path)
    append_events(ev, log, segment_partitions=2)
    run = run_pipeline(spark, log, table, ckpt, processing_time="1 second")
    try:
        run.query.processAllAvailable()
    finally:
        run.query.stop()
    assert sum(s.events_in for s in run.stats) == 1200
    assert state(spark, table) == oracle_state(ev)


def test_busy_seconds_refuses_truncated_progress(spark, tmpdir_path):
    """busy_seconds sums triggerExecution over the batches that read
    input; when Spark's progress retention has dropped a batch the run
    applied, it raises instead of undercounting."""
    log, table, ckpt, ev = setup(spark, tmpdir_path, n_events=300, n_urls=40)
    append_events(ev, log, segment_partitions=3)
    run = run_pipeline(spark, log, table, ckpt, max_files_per_trigger=1)
    run.await_termination()
    assert [s.batch_id for s in run.stats] == [0, 1, 2]
    assert run.busy_seconds() == sum(
        p.durationMs["triggerExecution"] for p in run.query.recentProgress
        if p.numInputRows > 0) / 1000.0 > 0

    retention = "spark.sql.streaming.numRecentProgressUpdates"
    LakeTable.create(spark, f"{tmpdir_path}/t2", PAGES_SCHEMA,
                     key_col="url", num_buckets=8)
    spark.conf.set(retention, "1")
    try:
        short = run_pipeline(spark, log, f"{tmpdir_path}/t2",
                             f"{tmpdir_path}/ck2", max_files_per_trigger=1)
        short.await_termination()
    finally:
        spark.conf.unset(retention)
    assert len(short.stats) == 3
    with pytest.raises(RuntimeError, match="undercount"):
        short.busy_seconds()


def test_interrupted_run_resumes_exactly_once(spark, tmpdir_path):
    """Simulate a crash between sink-commit and source-checkpoint: run one
    availableNow pass, then replay the same log slice with the SAME
    stream_id and batch ids — the epoch fence must skip them."""
    log, table, ckpt, ev = setup(spark, tmpdir_path, n_events=600, n_urls=80)
    append_events(ev, log, segment_partitions=2)
    stats1 = run_to_completion(spark, log, table, ckpt, max_files_per_trigger=1)
    n_batches = len([s for s in stats1 if s.events_in > 0])
    assert n_batches >= 2
    # crash simulation: wipe ONLY the source offsets, keep the stream_id →
    # the rerun replays old batch ids under the same fence namespace.
    import os
    sid_file = os.path.join(ckpt, "tinyetl_stream_id")
    with open(sid_file) as f:
        sid = f.read()
    for sub in ("offsets", "commits", "sources", "metadata"):
        shutil.rmtree(os.path.join(ckpt, sub), ignore_errors=True)
    with open(sid_file, "w") as f:
        f.write(sid)
    before = state(spark, table)
    v_before = LakeTable(spark, table).current_version()
    stats2 = run_to_completion(spark, log, table, ckpt, max_files_per_trigger=1)
    assert all(s.fenced for s in stats2)               # every batch skipped
    assert state(spark, table) == before
    assert LakeTable(spark, table).current_version() == v_before


def test_in_stream_watermark_dedup(spark, tmpdir_path):
    """Duplicated events from an at-least-once agent are dropped in-stream
    by dropDuplicatesWithinWatermark before reaching the merge."""
    log, table, ckpt, ev = setup(spark, tmpdir_path, n_events=400, n_urls=60)
    append_events(ev, log)
    append_events(ev, log)                              # exact duplicates
    stats = run_to_completion(spark, log, table, ckpt,
                              dedup_within_watermark="1 hour")
    assert sum(s.events_in for s in stats) == 400       # dupes gone pre-merge
    assert state(spark, table) == oracle_state(ev)


def test_stream_mode_applies_transform(spark, tmpdir_path):
    """ADVICE fix: configured transform used to be silently ignored in
    stream mode — it must run against every micro-batch before the MERGE."""
    log, table, ckpt, ev = setup(spark, tmpdir_path, n_events=300, n_urls=40)
    append_events(ev, log, segment_partitions=2)
    run_to_completion(spark, log, table, ckpt,
                      transform_fn=lambda df: df.withColumn(
                          "lang", F.upper("lang")))
    langs = {r["lang"] for r in LakeTable(spark, table).read()
             .select("lang").distinct().collect()}
    assert langs and all(v == v.upper() for v in langs)


def test_cli_stream_mode_plumbs_transform(spark, tmpdir_path):
    """End-to-end through the CLI config path (cmd_run -> _transform_fn ->
    run_to_completion)."""
    from tinyetl_spark.cli import cmd_run
    from tinyetl_spark.config import Endpoint, JobConfig
    log, table, ckpt, ev = setup(spark, tmpdir_path, n_events=200, n_urls=30)
    append_events(ev, log, segment_partitions=2)
    cfg = JobConfig(source=Endpoint(uri=log), target=Endpoint(uri=table),
                    transform="lang = upper(lang)")
    cfg.mode = "stream"
    cfg.checkpoint_dir = ckpt
    rc = cmd_run(cfg)
    assert rc == 0
    langs = {r["lang"] for r in LakeTable(spark, table).read()
             .select("lang").distinct().collect()}
    assert langs and all(v == v.upper() for v in langs)


def test_stateful_url_stats_converges_to_batch(spark, tmpdir_path):
    """applyInPandasWithState custom stateful operator: the converged
    streaming profile must equal the batch groupBy over the same log —
    including across a resume (state restored from the checkpoint)."""
    from tinyetl_spark.streaming.stateful import (batch_url_stats,
                                                  run_url_stats_to_completion)
    log, _, ckpt, ev = setup(spark, tmpdir_path, n_events=600, n_urls=80)
    first = ev.filter("event_seq < 300")
    second = ev.filter("event_seq >= 300")
    append_events(first, log, segment_partitions=2)
    got1 = run_url_stats_to_completion(spark, log, ckpt, query_name="us1")
    append_events(second, log, segment_partitions=2)
    got2 = run_url_stats_to_completion(spark, log, ckpt, query_name="us2")
    # update mode emits only keys with new data per run; the converged
    # view is the latest (max n_events — monotone) row per key across runs
    from pyspark.sql import Window
    w = Window.partitionBy("url").orderBy(F.desc("n_events"))
    got = (got1.unionByName(got2)
               .withColumn("_rn", F.row_number().over(w))
               .filter("_rn = 1").drop("_rn"))
    want = batch_url_stats(read_event_log(spark, log))
    g = sorted((r["url"], r["n_events"], r["n_deletes"], r["last_warc_us"])
               for r in got.collect())
    w = sorted((r["url"], r["n_events"], r["n_deletes"], r["last_warc_us"])
               for r in want.collect())
    assert g == w


def test_streaming_cdf_source_tails_and_resumes(spark, tmpdir_path):
    """The table is a streaming SOURCE (Python Data Source API): a first
    availableNow run delivers exactly read_changes(0); after MORE merges,
    resuming from the same checkpoint delivers ONLY the new commits'
    changes (offset = snapshot version)."""
    import uuid

    from tests.test_merge import make_table
    from tinyetl_spark import datagen
    from tinyetl_spark.lake import merge_apply
    from tinyetl_spark.streaming.cdf_source import register_cdf_source

    register_cdf_source(spark)
    path = f"{tmpdir_path}/src"
    t = make_table(spark, path, buckets=4)
    ev = datagen.change_events(spark, 900, 120, seed=31)
    s0 = merge_apply(t, ev.filter("event_seq < 300"), 0)
    s1 = merge_apply(t, ev.filter("event_seq >= 300 and event_seq < 600"), 1,
                     mode="mor")
    t.compact_deltas()                     # must emit nothing

    ck = f"{tmpdir_path}/ck"
    out = f"{tmpdir_path}/out"

    def drain():
        q = (spark.readStream.format("tinyetl_cdf").option("path", path)
             .load()
             .writeStream.format("parquet").option("path", out)
             .outputMode("append")
             .option("checkpointLocation", ck)
             .queryName("cdf_" + uuid.uuid4().hex[:8])
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return spark.read.parquet(out)

    got = drain()
    assert got.count() == (s0.upserts + s0.deletes + s1.upserts + s1.deletes)
    expect = t.read_changes(0, s1.snapshot_version) \
              .select("url", "event_seq", "_change_type")
    assert got.select("url", "event_seq", "_change_type") \
              .exceptAll(expect).count() == 0
    assert expect.exceptAll(
        got.select("url", "event_seq", "_change_type")).count() == 0

    # more commits -> resume from checkpoint delivers ONLY the delta
    s2 = merge_apply(t, ev.filter("event_seq >= 600"), 2)
    got2 = drain()   # parquet sink accumulates across runs
    new_rows = got2.filter(f"_commit_version = {s2.snapshot_version}")
    assert new_rows.count() == s2.upserts + s2.deletes
    assert got2.count() == got.count() + new_rows.count()


def test_table_replication_via_cdf_stream(spark, tmpdir_path):
    """Chained engines: src merges -> CDF stream -> dst merges. The
    mirror matches the source byte-for-byte (including extracted text),
    an incremental second replication ships only new commits, and a
    replayed replication run fully fences out."""
    from tests.test_merge import make_table
    from tinyetl_spark.streaming.pipeline import replicate

    src = f"{tmpdir_path}/src"
    dst = f"{tmpdir_path}/dst"
    ck = f"{tmpdir_path}/repl_ck"
    t_src = make_table(spark, src, buckets=8)
    t_dst = make_table(spark, dst, buckets=4)      # layout may differ
    ev = datagen.change_events(spark, 900, 120, seed=8)
    from tinyetl_spark.lake import merge_apply
    merge_apply(t_src, ev.filter("event_seq < 300"), 0)
    merge_apply(t_src, ev.filter("event_seq >= 300 and event_seq < 600"), 1,
                mode="mor")

    stats1 = replicate(spark, src, dst, ck)
    assert sum(s.events_in for s in stats1) > 0

    def full_state(path):
        return sorted(
            (r["url"], r["event_seq"], r["text"])
            for r in LakeTable(spark, path).read()
            .select("url", "event_seq", "text").collect())

    assert full_state(src) == full_state(dst)

    # incremental: one more source commit, replicate again from checkpoint
    merge_apply(t_src, ev.filter("event_seq >= 600"), 2)
    stats2 = replicate(spark, src, dst, ck)
    applied = [s for s in stats2 if not s.fenced and s.events_in > 0]
    assert applied                                  # only the new slice
    assert full_state(src) == full_state(dst)

    # replay with no new source commits: nothing applied, state stable
    stats3 = replicate(spark, src, dst, ck)
    assert all(s.events_in == 0 or s.fenced for s in stats3)
    assert full_state(src) == full_state(dst)

    # source schema evolution propagates to the mirror: add a column,
    # merge a batch carrying it, replicate — the mirror must evolve
    # instead of conform-dropping the new column silently
    from pyspark.sql.types import LongType, StructField, StructType
    t_src = LakeTable(spark, src)
    t_src.evolve_schema(StructType(
        t_src.snapshot().schema.fields
        + [StructField("quality", LongType(), True)]))
    # shift timestamps a year forward so these events WIN last-writer-
    # wins against the existing rows (otherwise zero changes flow and
    # the evolution assertions below would pass vacuously)
    extra = (datagen.change_events(spark, 100, 30, seed=99)
             .withColumn("event_seq", F.col("event_seq") + 10_000)
             .withColumn("warc_ts",
                         F.col("warc_ts") + F.expr("interval 365 days"))
             .withColumn("quality", F.col("event_seq") % 10))
    merge_apply(t_src, extra, 3)
    replicate(spark, src, dst, ck)
    dst_t = LakeTable(spark, dst)
    assert "quality" in {f.name for f in dst_t.snapshot().schema.fields}
    s_q = sorted((r["url"], r["event_seq"], r["quality"]) for r in
                 LakeTable(spark, src).read()
                 .select("url", "event_seq", "quality").collect())
    d_q = sorted((r["url"], r["event_seq"], r["quality"]) for r in
                 dst_t.read().select("url", "event_seq", "quality")
                 .collect())
    assert s_q == d_q

    # a full-history CDF read mixes schema versions: pre-evolution
    # commits conform with NULL quality, post-evolution rows carry it
    ch_all = LakeTable(spark, src).read_changes(0)
    assert "quality" in ch_all.columns
    pre = ch_all.filter("_batch_id <= 2")
    post = ch_all.filter("_batch_id = 3")
    assert pre.count() > 0 and post.count() > 0
    assert pre.filter("quality is not null").count() == 0
    assert post.filter("quality is null").count() == 0


def test_replication_propagates_type_widen(spark, tmpdir_path):
    """Source widens a column (long -> double) between replications; the
    mirror must widen too instead of conform-narrowing the feed (silent
    value corruption), and values must match end to end."""
    from datetime import datetime

    from pyspark.sql.types import (BooleanType, DoubleType, LongType,
                                   StringType, StructField, StructType,
                                   TimestampType)

    from tinyetl_spark.lake import merge_apply
    from tinyetl_spark.streaming.pipeline import replicate

    schema = StructType([
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("event_seq", LongType(), False),
        StructField("_deleted", BooleanType(), False),
        StructField("size", LongType(), True),
    ])
    src, dst, ck = (f"{tmpdir_path}/wsrc", f"{tmpdir_path}/wdst",
                    f"{tmpdir_path}/wck")
    t_src = LakeTable.create(spark, src, schema, key_col="url", num_buckets=2)
    LakeTable.create(spark, dst, schema, key_col="url", num_buckets=2)

    mk = "event_seq long, url string, warc_ts timestamp, op string, size long"
    df1 = spark.createDataFrame(
        [(1, "u1", datetime(2025, 1, 1, 0, 0, 1), "update", 10),
         (2, "u2", datetime(2025, 1, 1, 0, 0, 2), "update", 20)], mk)
    merge_apply(t_src, df1, 0, extract=False)
    replicate(spark, src, dst, ck)
    assert dict(LakeTable(spark, dst).read().dtypes)["size"] == "bigint"

    widened = StructType([f if f.name != "size" else
                          StructField("size", DoubleType(), True)
                          for f in schema.fields])
    t_src.evolve_schema(widened)
    df2 = spark.createDataFrame(
        [(3, "u3", datetime(2025, 1, 1, 0, 0, 3), "update", 30.5),
         (4, "u1", datetime(2026, 1, 1, 0, 0, 4), "update", 11.5)],
        "event_seq long, url string, warc_ts timestamp, op string, size double")
    merge_apply(t_src, df2, 1, extract=False)
    replicate(spark, src, dst, ck)

    d = LakeTable(spark, dst)
    assert dict(d.read().dtypes)["size"] == "double"
    got = {r["url"]: (r["event_seq"], r["size"]) for r in d.read().collect()}
    assert got == {"u1": (4, 11.5), "u2": (2, 20.0), "u3": (3, 30.5)}


def test_replicate_reads_version_pointer_twice(spark, tmpdir_path,
                                               monkeypatch):
    """A replicated batch reads the mirror's VERSION pointer only as
    often as a plain merge does (plan + validated swap): the mirror's
    schema evolution runs once before the stream starts, not per batch."""
    from tests.test_merge import make_table
    from tinyetl_spark.lake import merge_apply
    from tinyetl_spark.streaming import pipeline

    src, dst = f"{tmpdir_path}/src", f"{tmpdir_path}/dst"
    t_src = make_table(spark, src, buckets=4)
    make_table(spark, dst, buckets=4)
    ev = datagen.change_events(spark, 600, 80, seed=8)
    merge_apply(t_src, ev.filter("event_seq < 300"), 0)
    merge_apply(t_src, ev.filter("event_seq >= 300"), 1)

    reads, per_batch = [], []
    current_version = LakeTable.current_version

    def counted(self):
        if self.root == dst:
            reads.append(self.root)
        return current_version(self)
    start_stream = pipeline._start_stream

    def counting_start(events, apply_batch, *a, **kw):
        def apply_counted(batch, batch_id):
            n0 = len(reads)
            apply_batch(batch, batch_id)
            per_batch.append(len(reads) - n0)
        return start_stream(events, apply_counted, *a, **kw)
    monkeypatch.setattr(LakeTable, "current_version", counted)
    monkeypatch.setattr(pipeline, "_start_stream", counting_start)
    stats = pipeline.replicate(spark, src, dst, f"{tmpdir_path}/ck")
    monkeypatch.undo()
    assert stats and all(s.events_in > 0 for s in stats)
    assert per_batch == [2] * len(stats)
    assert state(spark, src) == state(spark, dst)


def test_stateful_run_output_pruning(spark, tmpdir_path):
    """Old runs' update-output dirs are pruned at run start (keep the
    most recent prior run for the caller's still-lazy DataFrame)."""
    import os

    from tinyetl_spark.streaming.stateful import run_url_stats_to_completion
    log, _, ckpt, ev = setup(spark, tmpdir_path, n_events=300, n_urls=40)
    root = os.path.join(ckpt, "url_stats_updates")

    append_events(ev.filter("event_seq < 100"), log)
    run_url_stats_to_completion(spark, log, ckpt, query_name="pr1")
    assert len(os.listdir(root)) == 1
    first_run_dir = os.listdir(root)[0]

    append_events(ev.filter("event_seq >= 100 and event_seq < 200"), log)
    got2 = run_url_stats_to_completion(spark, log, ckpt, query_name="pr2")
    assert len(os.listdir(root)) == 2          # run1 kept for lazy readers

    append_events(ev.filter("event_seq >= 200"), log)
    run_url_stats_to_completion(spark, log, ckpt, query_name="pr3")
    dirs = os.listdir(root)
    assert len(dirs) == 2 and first_run_dir not in dirs
    got2.count()                               # run2's frame still readable
