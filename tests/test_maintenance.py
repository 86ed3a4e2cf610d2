"""Snapshot expiry: metadata + orphan-file GC keeps the live window
readable and bounds storage growth from snapshot-per-micro-batch."""

import os

from tinyetl_spark import datagen
from tinyetl_spark.lake import LakeTable, merge_apply
from tinyetl_spark.schema import PAGES_SCHEMA


def count_parquet(root):
    return sum(1 for dp, _, fns in os.walk(root) for f in fns
               if f.endswith(".parquet"))


def test_expire_snapshots(spark, tmpdir_path):
    t = LakeTable.create(spark, f"{tmpdir_path}/t", PAGES_SCHEMA,
                         key_col="url", num_buckets=4)
    ev = datagen.change_events(spark, 800, 100, seed=3)
    for i in range(4):
        merge_apply(t, ev.filter(f"event_seq % 4 = {i}"), i)
    before_state = sorted((r["url"], r["event_seq"]) for r in t.read().collect())
    files_before = count_parquet(t.data_dir)
    v = t.current_version()

    out = t.expire_snapshots(keep_last=2)
    assert out["expired_snapshots"] > 0
    assert out["deleted_files"] > 0
    assert count_parquet(t.data_dir) < files_before

    # current state intact, kept window still time-travelable
    after_state = sorted((r["url"], r["event_seq"]) for r in t.read().collect())
    assert after_state == before_state
    assert t.read(version=v - 1).count() > 0
    # expired version gone
    assert not os.path.exists(os.path.join(t.meta_dir, "v0.json"))

    # merging continues to work after expiry
    s = merge_apply(t, ev.filter("event_seq % 4 = 0"), 99)
    assert s.snapshot_version == v + 1


def test_metrics_and_history_survive_expiry(spark, tmpdir_path):
    """ADVICE fix: merge_metrics/bucket_lineage/history used to open every
    v<N>.json from 0 and crashed with FileNotFoundError after expiry."""
    from tinyetl_spark.lineage import bucket_lineage, merge_metrics
    t = LakeTable.create(spark, f"{tmpdir_path}/t", PAGES_SCHEMA,
                         key_col="url", num_buckets=4)
    ev = datagen.change_events(spark, 400, 50, seed=5)
    for i in range(4):
        merge_apply(t, ev.filter(f"event_seq % 4 = {i}"), i)
    t.expire_snapshots(keep_last=2)
    assert t.oldest_version() > 0
    m = merge_metrics(t)
    assert m.count() >= 1                      # only live merge commits
    assert bucket_lineage(t).count() >= 1
    assert len(t.history()) == 2


def test_concurrent_commit_detected(spark, tmpdir_path):
    """ADVICE fix: a compaction racing a merge must fail the validated
    swap instead of silently dropping the other writer's files."""
    import pytest as _pytest
    from tinyetl_spark.lake.table import ConcurrentCommitError
    t = LakeTable.create(spark, f"{tmpdir_path}/t", PAGES_SCHEMA,
                         key_col="url", num_buckets=4)
    ev = datagen.change_events(spark, 200, 40, seed=6)
    merge_apply(t, ev, 0)
    base_v = t.current_version()
    snap = t.snapshot()
    # another writer commits in between (simulated merge)
    t.commit(files=snap.files, summary={"operation": "merge"},
             expected_base=base_v)
    # the first writer's planned commit must now be rejected
    with _pytest.raises(ConcurrentCommitError):
        t.commit(files=snap.files, summary={"operation": "compact"},
                 expected_base=base_v)


def test_compact_deltas_absorbs_debt_only_touching_dirty_buckets(
        spark, tmpdir_path):
    """Targeted compaction rewrites ONLY delta-touched buckets: the final
    state is unchanged, no delta files remain, clean base files carry
    over by identity (same paths — zero IO on them), and the rewritten
    buckets come back one file per bucket."""
    from tests.test_merge import assert_state_equal

    import pyspark.sql.functions as F

    t = LakeTable.create(spark, f"{tmpdir_path}/t", PAGES_SCHEMA,
                         key_col="url", num_buckets=16)
    ev = datagen.change_events(spark, 2000, 300, seed=21)
    merge_apply(t, ev.filter("event_seq < 1000"), 0)           # seed COW
    # a bucket-restricted MOR batch leaves delta files over a SUBSET
    sub = ev.filter("event_seq >= 1000").filter(
        F.pmod(F.xxhash64("url"), F.lit(16)).isin(0, 1))
    merge_apply(t, sub, 1, mode="mor")
    snap = t.snapshot()
    deltas = [f for f in snap.files if f.get("delta")]
    assert deltas
    delta_buckets = {b for f in deltas for b in f["buckets"]}
    assert len(delta_buckets) < 16       # genuinely partial
    clean_paths = {f["path"] for f in snap.files
                   if not f.get("delta")
                   and not (set(f["buckets"]) & delta_buckets)}
    assert clean_paths                   # some buckets untouched by deltas

    out = t.compact_deltas()
    assert out.summary["operation"] == "compact_deltas"
    assert not any(f.get("delta") for f in out.files)
    # clean files carried by identity
    assert clean_paths <= {f["path"] for f in out.files}
    # rewritten buckets: one file per bucket (exact routing)
    new_files = [f for f in out.files if f["path"] not in clean_paths]
    for f in new_files:
        assert len(f["buckets"]) == 1
    assert {b for f in new_files for b in f["buckets"]} == delta_buckets
    # state identical to applying both batches
    applied = ev.filter("event_seq < 1000").unionByName(sub)
    assert_state_equal(t, applied)
    assert out.summary["total_rows"] == t.read(
        include_tombstones=True).count()


def _jobs(spark):
    """{job id: job name (its call site)} for every job the context
    retains."""
    jvm = spark.sparkContext._jvm
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(
        jvm.java.util.ArrayList())
    return {jobs.apply(i).jobId(): jobs.apply(i).name()
            for i in range(jobs.size())}


def test_compact_deltas_job_budget(spark, tmpdir_path):
    """compact_deltas is one read-resolve-route-write pass: at most 2
    Spark jobs and no collect() read-back of the files it wrote (the
    manifest comes from their footers)."""
    t = LakeTable.create(spark, f"{tmpdir_path}/t", PAGES_SCHEMA,
                         key_col="url", num_buckets=8)
    ev = datagen.change_events(spark, 1200, 200, seed=17)
    merge_apply(t, ev.filter("event_seq < 600"), 0)
    merge_apply(t, ev.filter("event_seq >= 600"), 1, mode="mor")
    assert any(f.get("delta") for f in t.snapshot().files)
    before = _jobs(spark)
    t.compact_deltas()
    new = {j: n for j, n in _jobs(spark).items() if j not in before}
    assert 1 <= len(new) <= 2, new
    assert not any(n.startswith("collect") for n in new.values()), new
    assert not any(f.get("delta") for f in t.snapshot().files)


def test_compact_deltas_noop_and_fence_survival(spark, tmpdir_path):
    """No deltas -> no new snapshot; and the epoch fence survives the
    maintenance commit so a replayed batch still fences out."""
    t = LakeTable.create(spark, f"{tmpdir_path}/t", PAGES_SCHEMA,
                         key_col="url", num_buckets=8)
    ev = datagen.change_events(spark, 800, 120, seed=5)
    merge_apply(t, ev.filter("event_seq < 400"), 0, stream_id="s1")
    v_before = t.current_version()
    assert t.compact_deltas().version == v_before     # no deltas: no-op

    merge_apply(t, ev.filter("event_seq >= 400"), 1, stream_id="s1",
                mode="mor")
    out = t.compact_deltas()
    assert out.version == v_before + 2
    assert out.properties.get("fence.s1") == 1        # fence carried
    replay = merge_apply(t, ev.filter("event_seq >= 400"), 1,
                         stream_id="s1")
    assert replay.fenced                              # still fenced


def test_cli_replicate_and_cdf_retention_guard(spark, tmpdir_path):
    """`cli replicate` mirrors a table (auto-creating the target), and a
    change-feed read whose start precedes the expired-snapshot window
    fails with a clear retention error instead of a FileNotFoundError."""
    import pytest

    from tinyetl_spark.cli import main

    src = f"{tmpdir_path}/src"
    t = LakeTable.create(spark, src, PAGES_SCHEMA, key_col="url",
                         num_buckets=4)
    ev = datagen.change_events(spark, 600, 90, seed=44)
    for i in range(3):
        merge_apply(t, ev.filter(f"event_seq % 3 = {i}"), i)

    dst = f"{tmpdir_path}/dst"
    rc = main(["replicate", src, dst, "--checkpoint", f"{tmpdir_path}/ck"])
    assert rc == 0
    a = sorted((r["url"], r["event_seq"]) for r in t.read().collect())
    b = sorted((r["url"], r["event_seq"])
               for r in LakeTable(spark, dst).read().collect())
    assert a == b

    # expire history, then ask for the feed from before the window
    t.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="expire_snapshots"):
        t.read_changes(0)
    # an in-window (no-op) read still works
    assert t.read_changes(t.current_version()).count() == 0
    # empty windows never open expired snapshots; absent ends are clear
    assert t.read_changes(0, 0).count() == 0
    with pytest.raises(ValueError, match="does not exist"):
        t.read_changes(0, t.current_version() + 5)
    # the STREAMING source surfaces the same retention error instead of
    # a bare FileNotFoundError when its checkpointed offset was expired
    from tinyetl_spark.streaming.cdf_source import CdfStreamReader
    rdr = CdfStreamReader(None, {"path": src})
    with pytest.raises(ValueError, match="expire_snapshots"):
        rdr.partitions({"version": 0},
                       {"version": t.current_version()})


def test_pipeline_auto_compaction_and_expiry_cadence(spark, tmpdir_path):
    """Forced-MOR streaming with auto_compact_debt=1: every batch's delta
    debt is absorbed inline, final counts stay exact, and the snapshot
    expiry cadence bounds metadata growth."""
    from tests.test_merge import brute_force_state
    from tinyetl_spark.sources.eventlog import append_events
    from tinyetl_spark.streaming.pipeline import run_to_completion

    log, table, ck = (f"{tmpdir_path}/log", f"{tmpdir_path}/t",
                      f"{tmpdir_path}/ck")
    t = LakeTable.create(spark, table, PAGES_SCHEMA, key_col="url",
                         num_buckets=4)
    ev = datagen.change_events(spark, 1200, 150, seed=31)
    merge_apply(t, ev.filter("event_seq < 400"), 10**6, stream_id="seed")

    for lo, hi in [(400, 600), (600, 800), (800, 1200)]:
        append_events(ev.filter(f"event_seq >= {lo} and event_seq < {hi}"),
                      log)
    stats = run_to_completion(spark, log, table, ck, merge_mode="mor",
                              max_files_per_trigger=1, auto_compact_debt=1,
                              expire_every=2, expire_keep_last=3)
    assert len(stats) >= 3
    assert any(s.strategy == "mor" for s in stats)

    t2 = LakeTable(spark, table)
    # compaction fired: no outstanding delta debt after the drain
    assert not any(f.get("delta") for f in t2.snapshot().files)
    # state is exact despite inline maintenance
    oracle = brute_force_state(ev)
    got = t2.read().select("url", "event_seq")
    assert got.exceptAll(oracle).count() == 0
    assert oracle.exceptAll(got).count() == 0
    # the expiry cadence removed early snapshots (v0 is gone) and the
    # metadata dir holds fewer versions than were ever committed
    metas = [f for f in os.listdir(os.path.join(table, "metadata"))
             if f.startswith("v") and f.endswith(".json")]
    assert not os.path.exists(os.path.join(table, "metadata", "v0.json"))
    assert len(metas) < t2.current_version() + 1


def test_cdf_stream_fails_loudly_on_mid_stream_evolution(spark, tmpdir_path):
    """The CDF stream pins its output schema at start; a schema_version
    bump mid-stream must error with restart guidance, not silently drop
    the new column (Delta CDF behavior)."""
    import pytest
    from pyspark.sql.types import DoubleType, StructField, StructType

    from tinyetl_spark.streaming.cdf_source import CdfStreamReader

    table = f"{tmpdir_path}/t"
    t = LakeTable.create(spark, table, PAGES_SCHEMA, key_col="url",
                         num_buckets=2)
    ev = datagen.change_events(spark, 200, 40, seed=7)
    merge_apply(t, ev, 0)

    reader = CdfStreamReader(PAGES_SCHEMA, {"path": table})
    assert reader.latestOffset()["version"] >= 1

    t.evolve_schema(StructType(t.snapshot().schema.fields
                               + [StructField("quality", DoubleType(), True)]))
    with pytest.raises(RuntimeError, match="restart the stream"):
        reader.latestOffset()
