"""MERGE-apply semantics: LWW convergence vs brute-force oracle,
idempotency, epoch fencing, tombstones vs late data, datagen determinism."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from tinyetl_spark import datagen
from tinyetl_spark.lake import LakeTable, merge_apply
from tinyetl_spark.schema import PAGES_SCHEMA


def brute_force_state(ev):
    """Independent oracle: winning event per url over the WHOLE stream,
    deletes removed."""
    w = Window.partitionBy("url").orderBy(F.desc("warc_ts"), F.desc("event_seq"))
    return (ev.withColumn("rn", F.row_number().over(w))
              .filter("rn = 1 and op <> 'delete'")
              .select("url", "event_seq"))


def assert_state_equal(table, ev):
    final = table.read().select("url", "event_seq")
    oracle = brute_force_state(ev)
    assert final.exceptAll(oracle).count() == 0
    assert oracle.exceptAll(final).count() == 0


def make_table(spark, path, buckets=8):
    return LakeTable.create(spark, path, PAGES_SCHEMA, key_col="url",
                            num_buckets=buckets)


def test_datagen_deterministic(spark):
    a = datagen.change_events(spark, 500, 100, seed=42, num_partitions=2)
    b = datagen.change_events(spark, 500, 100, seed=42, num_partitions=8)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    c = datagen.change_events(spark, 500, 100, seed=43)
    assert c.exceptAll(a).count() > 0


def test_merge_converges_to_oracle(spark, tmpdir_path):
    t = make_table(spark, f"{tmpdir_path}/t")
    ev = datagen.change_events(spark, 3000, 400, seed=42)
    for i, (lo, hi) in enumerate([(0, 1000), (1000, 2000), (2000, 3000)]):
        merge_apply(t, ev.filter(f"event_seq >= {lo} and event_seq < {hi}"), i,
                    )
    assert_state_equal(t, ev)


def test_merge_idempotent_reapply(spark, tmpdir_path):
    """Re-applying an already-applied batch under a NEW batch_id (fence
    passes) must not change state — LWW on (warc_ts, event_seq) is the
    idempotency guarantee."""
    t = make_table(spark, f"{tmpdir_path}/t")
    ev = datagen.change_events(spark, 1000, 200, seed=42)
    merge_apply(t, ev, 0)
    before = sorted((r["url"], r["event_seq"]) for r in t.read().collect())
    merge_apply(t, ev, 1)  # replay, new epoch
    after = sorted((r["url"], r["event_seq"]) for r in t.read().collect())
    assert before == after


def test_epoch_fence_skips_replayed_batch(spark, tmpdir_path):
    t = make_table(spark, f"{tmpdir_path}/t")
    ev = datagen.change_events(spark, 500, 100, seed=42)
    s0 = merge_apply(t, ev, 5)
    assert not s0.fenced
    v = t.current_version()
    s1 = merge_apply(t, ev, 5)      # same batch_id → fenced, no commit
    assert s1.fenced
    assert t.current_version() == v
    s2 = merge_apply(t, ev, 3)      # older batch_id → also fenced
    assert s2.fenced


def test_fences_are_per_stream(spark, tmpdir_path):
    t = make_table(spark, f"{tmpdir_path}/t")
    ev = datagen.change_events(spark, 200, 50, seed=42)
    merge_apply(t, ev, 0, stream_id="s1")
    s = merge_apply(t, ev, 0, stream_id="s2")
    assert not s.fenced
    assert merge_apply(t, ev, 0, stream_id="s1").fenced


def test_tombstone_blocks_late_resurrection(spark, tmpdir_path):
    """A delete wins LWW; an out-of-order upsert with an OLDER (warc_ts,
    event_seq) arriving in a later batch must NOT resurrect the row."""
    t = make_table(spark, f"{tmpdir_path}/t", buckets=2)
    from datetime import datetime
    ts = lambda s: datetime(2025, 1, 1, 0, 0, s)
    rows = [
        (10, "https://x/1", ts(10), "delete", None, "en"),
        (5, "https://x/1", ts(5), "update", b"<p>old</p>", "en"),
        (7, "https://x/2", ts(7), "insert", b"<p>keep</p>", "en"),
    ]
    df = spark.createDataFrame(
        rows, "event_seq long, url string, warc_ts timestamp, op string, html binary, lang string")
    merge_apply(t, df.filter("event_seq = 10"), 0)            # delete first
    merge_apply(t, df.filter("event_seq in (5, 7)"), 1)       # late upsert after
    urls = {r["url"] for r in t.read().select("url").collect()}
    assert urls == {"https://x/2"}
    # tombstone row still present internally
    tomb = t.read(include_tombstones=True).filter("_deleted").count()
    assert tomb == 1


def test_delete_then_newer_insert_resurrects(spark, tmpdir_path):
    t = make_table(spark, f"{tmpdir_path}/t", buckets=2)
    from datetime import datetime
    ts = lambda s: datetime(2025, 1, 1, 0, 0, s)
    df = spark.createDataFrame(
        [(1, "https://x/1", ts(1), "delete", None, "en"),
         (2, "https://x/1", ts(2), "insert", b"<p>new</p>", "en")],
        "event_seq long, url string, warc_ts timestamp, op string, html binary, lang string")
    merge_apply(t, df.filter("event_seq = 1"), 0)
    merge_apply(t, df.filter("event_seq = 2"), 1)
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0]["event_seq"] == 2


def test_batch_split_invariance(spark, tmpdir_path):
    """Final state must not depend on how the stream is chopped into
    micro-batches."""
    ev = datagen.change_events(spark, 1200, 150, seed=9)
    t1 = make_table(spark, f"{tmpdir_path}/one")
    merge_apply(t1, ev, 0)
    t2 = make_table(spark, f"{tmpdir_path}/many")
    for i in range(6):
        merge_apply(t2, ev.filter(f"event_seq % 6 = {i}"), i)  # arbitrary interleave
    a = sorted((r["url"], r["event_seq"]) for r in t1.read().collect())
    b = sorted((r["url"], r["event_seq"]) for r in t2.read().collect())
    assert a == b


def test_merge_stats_and_lineage(spark, tmpdir_path):
    t = make_table(spark, f"{tmpdir_path}/t")
    ev = datagen.change_events(spark, 1000, 100, seed=42, hot_fraction=0.3)
    s = merge_apply(t, ev, 0)
    assert s.events_in == 1000
    assert s.upserts + s.deletes + s.dedup_drops == 1000
    assert s.skew_ratio >= 1.0
    snap = t.snapshot()
    assert snap.summary["events_in"] == 1000
    assert sum(e["events"] for e in snap.lineage) == s.upserts + s.deletes


def assert_manifest_matches_files(spark, snap):
    """Every manifest entry's bucket set, ``rows`` and ``ts_range`` equal a
    Spark recount of its file (groupBy(input_file_name(), _bucket)), and
    every non-empty data file the commit wrote is listed."""
    import os

    import pyarrow.parquet as pq
    paths = [f["path"] for f in snap.files]
    got: dict[str, dict] = {}
    for r in (spark.read.schema("_bucket long, warc_ts timestamp")
              .parquet(*paths)
              .groupBy(F.input_file_name().alias("file"), "_bucket")
              .agg(F.count("*").alias("rows"),
                   F.min(F.unix_micros("warc_ts")).alias("lo"),
                   F.max(F.unix_micros("warc_ts")).alias("hi"))
              .collect()):
        path = r["file"][7:] if r["file"].startswith("file://") \
            else r["file"]
        g = got.setdefault(path, {"buckets": [], "rows": 0, "lo": [],
                                  "hi": []})
        g["buckets"].append(r["_bucket"])
        g["rows"] += r["rows"]
        g["lo"].append(r["lo"])
        g["hi"].append(r["hi"])
    assert sorted(got) == sorted(paths)
    for entry in snap.files:
        g = got[entry["path"]]
        assert sorted(g["buckets"]) == entry["buckets"], entry["path"]
        assert g["rows"] == entry["rows"], entry["path"]
        assert [min(g["lo"]), max(g["hi"])] == entry["ts_range"], \
            entry["path"]
    # the directories this commit wrote (the writer names them after the
    # snapshot version) hold no data file the manifest misses
    for d in {os.path.dirname(p) for p in paths}:
        if not os.path.basename(d).startswith(f"snap-{snap.version}-"):
            continue
        on_disk = {os.path.join(d, fn) for fn in os.listdir(d)
                   if fn.endswith(".parquet")
                   and pq.read_metadata(os.path.join(d, fn)).num_rows}
        assert on_disk <= set(paths), f"unlisted data file in {d}"


def _hot_bucket_batches(spark, num_buckets=4):
    """One hot domain funnelled into one bucket: returns (hot_bucket,
    {bucket: urls}, mk) where ``mk(seq0)`` builds a batch of 8 events per
    hot url and 1 per cold url."""
    from datetime import datetime, timedelta
    cand = (spark.range(0, 400)
            .select(F.concat(F.lit("https://hot.example.com/p/"),
                             F.col("id")).alias("url"))
            .withColumn("b", F.pmod(F.xxhash64("url"),
                                    F.lit(num_buckets))))
    by_bucket: dict[int, list[str]] = {}
    for r in cand.collect():
        by_bucket.setdefault(int(r["b"]), []).append(r["url"])
    hot_bucket, hot_urls = max(by_bucket.items(), key=lambda kv: len(kv[1]))
    hot_urls = hot_urls[:90]
    cold_urls = [u for b, us in by_bucket.items() if b != hot_bucket
                 for u in us[:10]]
    base = datetime(2025, 1, 1)
    sch = ("event_seq long, url string, warc_ts timestamp, op string, "
           "html binary, lang string")

    def mk(seq0):
        rows, s = [], seq0
        for u in hot_urls:                     # 8 events per hot url
            for _ in range(8):
                rows.append((s, u, base + timedelta(seconds=s), "update",
                             b"<p>hot page</p>", "en"))
                s += 1
        for u in cold_urls:                    # 1 event per cold url
            rows.append((s, u, base + timedelta(seconds=s), "update",
                         b"<p>cold page</p>", "en"))
            s += 1
        return spark.createDataFrame(rows, sch)

    return hot_bucket, by_bucket, mk


def test_slot_mapping_matches_files(spark, tmpdir_path):
    """Every writer's manifest — merge copy-on-write, merge-on-read and a
    skew-split merge, compact (plain and time-clustered), compact_deltas,
    rescale_buckets and overwrite — equals what is physically in each
    file. Buckets come from the routing (each bucket ROUTED to a chosen
    partition by repartitionById over its slot id), rows and ts_range
    from the parquet footer."""
    t = make_table(spark, f"{tmpdir_path}/t", buckets=8)
    ev = datagen.change_events(spark, 3000, 300, seed=11)
    merge_apply(t, ev.filter("event_seq < 2000"), 0)
    snap = t.snapshot()
    assert_manifest_matches_files(spark, snap)
    for entry in snap.files:
        # COW bijection: one bucket = one partition = one file, and the
        # seed merge routes bucket b to partition index b
        assert len(entry["buckets"]) == 1
        k = int(entry["path"].rsplit("/", 1)[1].split("-")[1])
        assert entry["buckets"] == [k]

    merge_apply(t, ev.filter("event_seq >= 2000 and event_seq < 2500"), 1,
                mode="cow")
    assert_manifest_matches_files(spark, t.snapshot())
    merge_apply(t, ev.filter("event_seq >= 2500"), 2, mode="mor")
    snap = t.snapshot()
    assert any(f.get("delta") for f in snap.files)
    assert_manifest_matches_files(spark, snap)
    for rewrite in (t.compact_deltas, t.compact,
                    lambda: t.compact(cluster_by_ts=True, files_per_bucket=2),
                    lambda: t.rescale_buckets(16),
                    lambda: t.overwrite(t.read(include_tombstones=True))):
        snap = rewrite()
        assert not any(f.get("delta") for f in snap.files)
        assert all(len(f["buckets"]) == 1 for f in snap.files)
        assert_manifest_matches_files(spark, snap)
    assert_state_equal(t, ev)

    # skew split: the hot bucket's rows are spread over several files
    t2 = make_table(spark, f"{tmpdir_path}/t2", buckets=4)
    hot_bucket, _, mk = _hot_bucket_batches(spark)
    merge_apply(t2, mk(0), 0)
    merge_apply(t2, mk(1_000_000), 1)
    snap = t2.snapshot()
    assert len([f for f in snap.files if hot_bucket in f["buckets"]]) >= 2
    assert_manifest_matches_files(spark, snap)


def test_stats_without_probe_or_readback(spark, tmpdir_path):
    """Dense batches stay within the documented job budget (merge job plus
    the limit-1 empty-batch guard on copy-on-write; no histogram probe, no
    stats read-back job); stats still exact."""
    t = make_table(spark, f"{tmpdir_path}/t", buckets=4)
    ev = datagen.change_events(spark, 1000, 100, seed=42, hot_fraction=0.3)
    s0 = merge_apply(t, ev.filter("event_seq < 500"), 0)
    assert s0.events_in == 500
    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup(None) or [])
    s1 = merge_apply(t, ev.filter("event_seq >= 500"), 1)   # dense now
    jobs_after = set(tracker.getJobIdsForGroup(None) or [])
    assert len(jobs_after - jobs_before) <= 2   # isEmpty guard + THE merge job
    assert s1.strategy == "cow"
    assert s1.events_in == 500
    assert s1.upserts + s1.deletes + s1.dedup_drops == 500
    assert_state_equal(t, ev)
    snap = t.snapshot()
    assert snap.summary["total_rows"] == t.read(include_tombstones=True).count()


def test_merge_profile_always_recorded(spark, tmpdir_path):
    """Every merge records its driver-side segment marks in
    MergeStats.profile; the commit summary carries the marks taken before
    the commit, and the segments sum to at most the call's wall time."""
    import time
    t = make_table(spark, f"{tmpdir_path}/t", buckets=4)
    ev = datagen.change_events(spark, 600, 80, seed=3)
    t0 = time.time()
    s = merge_apply(t, ev, 0)
    wall = time.time() - t0
    assert list(s.profile) == ["snapshot", "plan_built", "job_write",
                               "commit"]
    assert sum(s.profile.values()) <= wall + 0.005    # 3-decimal rounding
    assert t.snapshot().summary["profile"] == {
        k: v for k, v in s.profile.items() if k != "commit"}
    replay = merge_apply(t, ev, 0)
    assert replay.fenced and list(replay.profile) == ["snapshot"]


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_merge_reads_version_pointer_twice(spark, tmpdir_path, monkeypatch,
                                           mode):
    """A merge plans against ONE snapshot: the table's VERSION pointer is
    read once to plan (fence, strategy, bucket transform, base read) and
    once in the commit's validated swap — for copy-on-write and
    merge-on-read alike."""
    t = make_table(spark, f"{tmpdir_path}/t")
    ev = datagen.change_events(spark, 1500, 200, seed=11)
    merge_apply(t, ev.filter("event_seq < 750"), 0)
    reads = []
    current_version = LakeTable.current_version

    def counted(self):
        reads.append(self.root)
        return current_version(self)
    monkeypatch.setattr(LakeTable, "current_version", counted)
    s = merge_apply(t, ev.filter("event_seq >= 750"), 1, mode=mode)
    assert s.strategy == mode and not s.fenced and s.events_in == 750
    assert len(reads) == 2
    monkeypatch.undo()
    assert_state_equal(t, ev)


def _job_ids(spark):
    """Ids of every job the context retains, whatever its job group."""
    jvm = spark.sparkContext._jvm
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(
        jvm.java.util.ArrayList())
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def test_mor_batch_is_exactly_one_job(spark, tmpdir_path):
    """The streaming steady state (dense MOR micro-batch) runs exactly ONE
    Spark job: no probe, no empty-guard, no read-back — both for a batch
    handed in directly and for one delivered by a foreachBatch stream,
    whose DataFrame lives in the stream's own session."""
    from tinyetl_spark.sources.eventlog import append_events, \
        stream_event_log
    t = make_table(spark, f"{tmpdir_path}/t", buckets=4)
    ev = datagen.change_events(spark, 1500, 150, seed=5, hot_fraction=0.3)
    merge_apply(t, ev.filter("event_seq < 500"), 0)
    jobs_before = _job_ids(spark)
    s = merge_apply(t, ev.filter("event_seq >= 500 and event_seq < 1000"),
                    1, mode="mor")
    jobs_after = _job_ids(spark)
    assert s.strategy == "mor" and s.events_in == 500
    assert len(jobs_after - jobs_before) == 1

    append_events(ev.filter("event_seq >= 1000"), f"{tmpdir_path}/log")
    streamed = []

    def apply_batch(batch_df, batch_id):
        before = _job_ids(spark)
        st = merge_apply(LakeTable(spark, t.root), batch_df, batch_id,
                         stream_id="streamed", mode="mor")
        streamed.append((st, len(_job_ids(spark) - before)))

    (stream_event_log(spark, f"{tmpdir_path}/log").writeStream
     .foreachBatch(apply_batch)
     .option("checkpointLocation", f"{tmpdir_path}/ck")
     .trigger(availableNow=True).start().awaitTermination())
    [(st, n_jobs)] = streamed
    assert st.strategy == "mor" and st.events_in == 500
    assert n_jobs == 1
    assert_state_equal(t, ev)


@pytest.mark.parametrize("case", ["cow", "mor", "skew_split"])
def test_merge_plan_is_one_exchange_one_sort(spark, tmpdir_path,
                                             monkeypatch, case):
    """The merge's plan has ONE shuffle (repartitionById on the slot) and
    ONE sort: the LWW lag() window, partitioned by the slot and ordered
    like the sort, adds neither — for copy-on-write, merge-on-read and a
    copy-on-write merge that splits a hot bucket over several slots."""
    import re
    if case == "skew_split":
        t = make_table(spark, f"{tmpdir_path}/t", buckets=4)
        hot_bucket, _, mk = _hot_bucket_batches(spark)
        merge_apply(t, mk(0), 0)
        batch, mode = mk(1_000_000), "cow"
    else:
        t = make_table(spark, f"{tmpdir_path}/t", buckets=8)
        ev = datagen.change_events(spark, 1500, 200, seed=11)
        merge_apply(t, ev.filter("event_seq < 750"), 0)
        batch, mode = ev.filter("event_seq >= 750"), case
    plans = []
    write_routed = LakeTable.write_routed

    def captured(self, routed, *a, **kw):
        plans.append(routed._jdf.queryExecution().executedPlan().toString())
        return write_routed(self, routed, *a, **kw)
    monkeypatch.setattr(LakeTable, "write_routed", captured)
    s = merge_apply(t, batch, 1, mode=mode)
    monkeypatch.undo()
    assert s.strategy == mode
    if case == "skew_split":
        assert len([f for f in t.snapshot().files
                    if hot_bucket in f["buckets"]]) >= 2
    [plan] = plans
    nodes = re.findall(r"^[\s:|+-]*(Exchange|Sort|Window) ", plan, re.M)
    assert nodes == ["Window", "Sort", "Exchange"], plan


def test_empty_batch_is_a_noop_commit(spark, tmpdir_path):
    """An empty micro-batch into a table LARGER than the previous batch
    never rewrites a data file (the size-gated dense COW guard runs) and
    never commits delta debt (MOR post-job discard) — it advances the
    epoch fence and nothing else."""
    from tinyetl_spark.lake.merge import last_committed_batch
    t = make_table(spark, f"{tmpdir_path}/t", buckets=4)
    ev = datagen.change_events(spark, 1000, 100, seed=7, hot_fraction=0.3)
    merge_apply(t, ev.filter("event_seq < 950"), 0)   # table is dense now
    # a SMALL second batch so table_rows > prev_in: the empty-batch guard
    # is size-gated (it only pays its limit-1 job when the rewrite it
    # prevents is bigger than the job)
    merge_apply(t, ev.filter("event_seq >= 950"), 1)
    assert int(t.snapshot().summary["total_rows"]) > 50
    files_before = {f["path"] for f in t.snapshot().files}
    empty = ev.filter("event_seq < 0")
    s1 = merge_apply(t, empty, 2)               # auto -> dense COW guard
    assert s1.events_in == 0 and s1.upserts == 0 and s1.deletes == 0
    assert {f["path"] for f in t.snapshot().files} == files_before
    s2 = merge_apply(t, empty, 3, mode="mor")   # MOR post-job discard
    assert s2.events_in == 0 and s2.strategy == "mor"
    assert {f["path"] for f in t.snapshot().files} == files_before
    assert not any(f.get("delta") for f in t.snapshot().files)
    assert last_committed_batch(t, "default") == 3
    assert_state_equal(t, ev)


def test_empty_batch_small_table_skips_guard_but_converges(spark,
                                                           tmpdir_path):
    """Size-gated guard, the other regime (round 6): when the table holds
    fewer rows than the previous batch delivered, the dense-COW empty
    guard job is SKIPPED — an empty batch may then take the ordinary
    rewrite path, which must still produce byte-identical state, zero
    event counts, an advanced fence, and a prev_in reset to 0 so the NEXT
    empty batch is guard-protected again."""
    from tinyetl_spark.lake.merge import LAST_IN_PROP, last_committed_batch
    t = make_table(spark, f"{tmpdir_path}/t", buckets=4)
    ev = datagen.change_events(spark, 1000, 100, seed=7, hot_fraction=0.3)
    merge_apply(t, ev, 0)          # dense; table_rows (~250) < prev_in 1000
    state_before = t.read().orderBy("url").collect()
    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup(None) or [])
    s = merge_apply(t, ev.filter("event_seq < 0"), 1)
    jobs_after = set(tracker.getJobIdsForGroup(None) or [])
    # ONE merge job, no separate limit-1 guard job
    assert len(jobs_after - jobs_before) == 1
    assert s.events_in == 0 and s.upserts == 0 and s.deletes == 0
    assert s.strategy == "cow"
    assert last_committed_batch(t, "default") == 1
    assert int(t.snapshot().properties[LAST_IN_PROP]) == 0
    assert t.read().orderBy("url").collect() == state_before
    assert_state_equal(t, ev)


def test_mor_writes_o_batch_not_o_table(spark, tmpdir_path):
    """VERDICT item: a dense batch into a big table must write O(batch),
    not rewrite the table (copy-on-write amplification)."""
    t = make_table(spark, f"{tmpdir_path}/t", buckets=8)
    ev = datagen.change_events(spark, 16000, 8000, seed=13)
    merge_apply(t, ev.filter("event_seq < 15000"), 0)           # big base (cow)
    base_files = {f["path"] for f in t.snapshot().files}
    base_rows = int(t.snapshot().summary["total_rows"])
    s = merge_apply(t, ev.filter("event_seq >= 15000"), 1, mode="mor")
    assert s.strategy == "mor"
    snap = t.snapshot()
    new = [f for f in snap.files if f["path"] not in base_files]
    old = [f for f in snap.files if f["path"] in base_files]
    assert len(old) == len(base_files)               # base untouched
    assert all(f.get("delta") for f in new)
    assert sum(f["rows"] for f in new) <= 1000       # O(batch), not O(16k base)
    assert base_rows > 4 * sum(f["rows"] for f in new)
    # reads resolve LWW across base+delta: final state == oracle
    assert_state_equal(t, ev)


def test_mor_tombstones_and_late_data(spark, tmpdir_path):
    """Delta-file deletes shadow base rows; later late (older) upserts in
    further deltas cannot resurrect them."""
    from datetime import datetime
    ts = lambda s: datetime(2025, 1, 1, 0, 0, s)
    t = make_table(spark, f"{tmpdir_path}/t", buckets=2)
    schema = ("event_seq long, url string, warc_ts timestamp, op string, "
              "html binary, lang string")
    base = spark.createDataFrame(
        [(1, "https://x/1", ts(1), "insert", b"<p>a</p>", "en"),
         (2, "https://x/2", ts(2), "insert", b"<p>b</p>", "en")], schema)
    merge_apply(t, base, 0)
    merge_apply(t, spark.createDataFrame(
        [(10, "https://x/1", ts(10), "delete", None, "en")], schema),
        1, mode="mor")
    assert {r["url"] for r in t.read().collect()} == {"https://x/2"}
    merge_apply(t, spark.createDataFrame(
        [(5, "https://x/1", ts(5), "update", b"<p>late</p>", "en")], schema),
        2, mode="mor")
    assert {r["url"] for r in t.read().collect()} == {"https://x/2"}
    # compaction absorbs the deltas; state unchanged, no delta files left
    t.compact()
    assert not any(f.get("delta") for f in t.snapshot().files)
    assert {r["url"] for r in t.read().collect()} == {"https://x/2"}
    assert t.read(include_tombstones=True).filter("_deleted").count() == 1


def test_auto_mode_picks_mor_for_dense_small_batches(spark, tmpdir_path):
    t = make_table(spark, f"{tmpdir_path}/t", buckets=4)
    ev = datagen.change_events(spark, 20000, 10000, seed=17)
    s0 = merge_apply(t, ev.filter("event_seq < 19000"), 0)      # initial load
    assert s0.strategy == "cow"
    s1 = merge_apply(t, ev.filter("event_seq >= 19000 and event_seq < 19500"), 1)
    s2 = merge_apply(t, ev.filter("event_seq >= 19500"), 2)
    # with a 10k-row table and ~500-event batches, auto must flip to MOR
    assert s2.strategy == "mor"
    assert_state_equal(t, ev)


def test_mor_read_resolves_only_delta_touched_buckets(spark, tmpdir_path):
    """LWW resolution must not shuffle buckets no delta can shadow: the
    read plan unions a window-free scan of clean buckets with a windowed
    scan of delta-touched ones."""
    import pyspark.sql.functions as F2
    t = make_table(spark, f"{tmpdir_path}/t", buckets=4)
    ev = datagen.change_events(spark, 4000, 800, seed=21)
    merge_apply(t, ev.filter("event_seq < 3800"), 0)          # base, all buckets
    # a delta confined to ONE bucket: pick urls of bucket 0 only
    tail = ev.filter("event_seq >= 3800")
    one_bucket = tail.filter(t.bucket_expr(F2.col("url")) == 0)
    assert one_bucket.count() > 0
    s = merge_apply(t, one_bucket, 1, mode="mor")
    assert s.strategy == "mor"
    deltas = [f for f in t.snapshot().files if f.get("delta")]
    assert deltas and all(set(f["buckets"]) <= {0} for f in deltas)
    df = t.read()
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    window_nodes = [l for l in plan.splitlines()
                    if l.lstrip(" :+-").startswith("Window ")]
    assert "Union" in plan and len(window_nodes) == 1
    # and the state is still exactly the LWW oracle over everything merged
    merged = ev.filter("event_seq < 3800").unionByName(one_bucket)
    final = sorted((r["url"], r["event_seq"]) for r in df.collect())
    oracle = sorted((r["url"], r["event_seq"])
                    for r in brute_force_state(merged).collect())
    assert final == oracle


def test_schema_evolution_then_mor_delta(spark, tmpdir_path):
    """Add-column evolution followed by merge-on-read deltas: old base
    files conform (null new column), delta rows carry it, reads resolve
    across schema versions."""
    from pyspark.sql.types import StringType, StructField, StructType
    t = make_table(spark, f"{tmpdir_path}/t", buckets=4)
    ev = datagen.change_events(spark, 2000, 400, seed=23)
    merge_apply(t, ev.filter("event_seq < 1800"), 0)
    new_schema = StructType(list(PAGES_SCHEMA.fields)
                            + [StructField("source", StringType(), True)])
    t.evolve_schema(new_schema)
    tail = ev.filter("event_seq >= 1800").withColumn("source", F.lit("crawl-2"))
    s = merge_apply(t, tail, 1, mode="mor")
    assert s.strategy == "mor"
    df = t.read()
    assert "source" in df.columns
    by_src = {r["source"]: r for r in
              df.select("source").distinct().collect()}
    assert None in by_src and "crawl-2" in by_src
    assert_state_equal(t, ev)


def test_merge_property_random_splits_and_replays(spark, tmpdir_path):
    """Property check (hypothesis): for RANDOM batch boundaries, random
    strategy choices, and random replays of already-committed batches,
    the table always converges to the brute-force LWW oracle and
    total_rows bookkeeping stays exact. One Spark round-trip per example,
    so the example budget is small but each covers a full pipeline."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    ev = datagen.change_events(spark, 400, 60, seed=77,
                               hot_fraction=0.2).cache()
    ev.count()

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(data=st.data())
    def run(data):
        n_batches = data.draw(st.integers(2, 4), label="n_batches")
        cuts = sorted(data.draw(
            st.lists(st.integers(1, 399), min_size=n_batches - 1,
                     max_size=n_batches - 1, unique=True), label="cuts"))
        bounds = [0, *cuts, 400]
        modes = data.draw(st.lists(st.sampled_from(["auto", "cow", "mor"]),
                                   min_size=n_batches, max_size=n_batches),
                          label="modes")
        replay_at = data.draw(st.integers(0, n_batches - 1), label="replay")
        import uuid
        path = f"{tmpdir_path}/t_{uuid.uuid4().hex[:8]}"
        t = make_table(spark, path, buckets=8)
        for i in range(n_batches):
            b = ev.filter(f"event_seq >= {bounds[i]} and "
                          f"event_seq < {bounds[i+1]}")
            merge_apply(t, b, i, mode=modes[i])
            if i == replay_at:   # replay the SAME batch id: must fence
                s = merge_apply(t, b, i, mode=modes[i])
                assert s.fenced
        assert_state_equal(t, ev)
        snap = t.snapshot()
        # total_rows is the PHYSICAL live-file row count (MOR deltas
        # count shadowed versions until compaction absorbs them)
        physical = t.read(include_tombstones=True, resolve=False).count()
        assert snap.summary["total_rows"] == physical
        t.compact_deltas()
        assert t.snapshot().summary["total_rows"] == t.read(
            include_tombstones=True).count()   # exact again post-compact

    run()
    ev.unpersist()


def test_hot_bucket_skew_split(spark, tmpdir_path):
    """One hot domain funnelled into one bucket (30%+ of events) must not
    serialize that bucket's sort+window+extract on one core: the NEXT
    merge, seeing the skew in the previous commit's lineage, splits the
    hot bucket across several url-salted sort partitions. Asserts the
    split fired (multiple files, all holding only the hot bucket), the
    splits are balanced, and LWW state still equals the brute-force
    oracle (url -> salt is functional, so winner locality is preserved)."""
    t = make_table(spark, f"{tmpdir_path}/t", buckets=4)
    hot_bucket, by_bucket, mk = _hot_bucket_batches(spark)
    b0, b1 = mk(0), mk(1_000_000)
    merge_apply(t, b0, 0)                      # records the skewed lineage
    lin = {r["bucket"]: r["rows"] for r in t.snapshot().lineage}
    assert lin[hot_bucket] >= 2 * (sum(lin.values()) / 4)

    merge_apply(t, b1, 1)                      # split fires off lineage
    snap = t.snapshot()
    hot_files = [f for f in snap.files if hot_bucket in f["buckets"]]
    # the hot bucket was split: several files, each holding ONLY it
    assert len(hot_files) >= 2
    assert all(f["buckets"] == [hot_bucket] for f in hot_files)
    rows_per_split = [f["rows"] for f in hot_files]
    assert max(rows_per_split) <= 3 * min(rows_per_split)
    # cold buckets stay one file each (the bijection is undisturbed)
    for b in by_bucket:
        if b != hot_bucket:
            assert len([f for f in snap.files if b in f["buckets"]]) == 1
    assert_state_equal(t, b0.union(b1))

    # a forced-MOR follow-up caps splits at the delta slot count and
    # stays oracle-exact
    b2 = mk(2_000_000)
    merge_apply(t, b2, 2, mode="mor")
    assert_state_equal(t, b0.union(b1).union(b2))


def test_hot_bucket_skew_split_power_of_two(spark, tmpdir_path):
    """Regression (round-5 advice): when nsplit DIVIDES num_buckets —
    the common case, since bucket counts are powers of two — an
    UNSEEDED salt hash is fully correlated with the bucket id
    (hash % nsplit is determined by hash % num_buckets), every hot-bucket
    row gets the same salt, and the split is a silent no-op producing one
    file. Crafts nsplit=2 against 4 buckets and asserts the hot bucket
    really lands in >= 2 non-empty, balanced files, with LWW state still
    oracle-exact (the seeded salt is still a pure function of the url)."""
    from datetime import datetime, timedelta

    t = make_table(spark, f"{tmpdir_path}/t", buckets=4)
    cand = (spark.range(0, 800)
            .select(F.concat(F.lit("https://two.example.com/p/"),
                             F.col("id")).alias("url"))
            .withColumn("b", F.pmod(F.xxhash64("url"), F.lit(4))))
    by_bucket: dict[int, list[str]] = {}
    for r in cand.collect():
        by_bucket.setdefault(int(r["b"]), []).append(r["url"])
    hot_bucket, hot_urls = max(by_bucket.items(), key=lambda kv: len(kv[1]))
    # winners: hot == sum(cold) => hot = 2 x mean-over-4-buckets =>
    # nsplit = ceil(2) = 2, which divides 4
    hot_urls = hot_urls[:60]
    cold_urls = [u for b, us in by_bucket.items() if b != hot_bucket
                 for u in us[:20]]
    assert len(cold_urls) == 60
    base = datetime(2025, 1, 1)
    sch = ("event_seq long, url string, warc_ts timestamp, op string, "
           "html binary, lang string")

    def mk(seq0):
        rows, s = [], seq0
        for u in hot_urls:
            for _ in range(4):
                rows.append((s, u, base + timedelta(seconds=s), "update",
                             b"<p>hot page</p>", "en"))
                s += 1
        for u in cold_urls:
            rows.append((s, u, base + timedelta(seconds=s), "update",
                         b"<p>cold page</p>", "en"))
            s += 1
        return spark.createDataFrame(rows, sch)

    b0, b1 = mk(0), mk(1_000_000)
    merge_apply(t, b0, 0)                      # records the skewed lineage
    lin = {r["bucket"]: r["rows"] for r in t.snapshot().lineage}
    mean = sum(lin.values()) / len(lin)
    assert lin[hot_bucket] == 2 * mean         # forces nsplit exactly 2

    merge_apply(t, b1, 1)                      # split fires off lineage
    snap = t.snapshot()
    hot_files = [f for f in snap.files if hot_bucket in f["buckets"]]
    assert len(hot_files) >= 2                 # the no-op produces 1
    assert all(f["buckets"] == [hot_bucket] for f in hot_files)
    rows_per_split = [f["rows"] for f in hot_files]
    assert max(rows_per_split) <= 3 * min(rows_per_split)
    assert_state_equal(t, b0.union(b1))


def test_multi_stream_fan_in_fences_independently(spark, tmpdir_path):
    """Two change streams (two WAL shards) merging into ONE table: the
    epoch fence is per-stream (fence.<stream_id>), so shard A's batch 1
    does not fence shard B's batch 1, replays fence within their own
    shard only, and the table converges to LWW over the union."""
    ev = datagen.change_events(spark, 800, 120, seed=55)
    a = ev.filter("event_seq % 2 = 0")
    b = ev.filter("event_seq % 2 = 1")
    t = make_table(spark, f"{tmpdir_path}/t", buckets=8)
    for i in range(2):
        ba = a.filter(f"event_seq >= {i * 400} and event_seq < {(i+1) * 400}")
        bb = b.filter(f"event_seq >= {i * 400} and event_seq < {(i+1) * 400}")
        sa = merge_apply(t, ba, i, stream_id="shard_a")
        sb = merge_apply(t, bb, i, stream_id="shard_b")   # same batch id!
        assert not sa.fenced and not sb.fenced
        # replaying shard A's batch fences A but must NOT have consumed
        # B's number, and vice versa
        assert merge_apply(t, ba, i, stream_id="shard_a").fenced
        assert merge_apply(t, bb, i, stream_id="shard_b").fenced
    assert_state_equal(t, ev)
    props = t.snapshot().properties
    assert int(props["fence.shard_a"]) == 1
    assert int(props["fence.shard_b"]) == 1
