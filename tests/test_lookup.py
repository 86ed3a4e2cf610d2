"""Point lookups: driver-side bucket arithmetic + manifest pruning
(+ key bloom filters in the files for row-group skipping)."""

import pyspark.sql.functions as F

from tinyetl_spark import datagen
from tinyetl_spark.lake import LakeTable, merge_apply
from tinyetl_spark.partitioning import bucket_of
from tinyetl_spark.schema import PAGES_SCHEMA


def test_bucket_of_matches_spark_transform(spark):
    urls = [f"https://site-{i}.example/p/{i * 7}" for i in range(50)]
    for nb in (8, 16, 4096):
        got = {r["u"]: r["b"] for r in
               spark.createDataFrame([(u,) for u in urls], "u string")
               .select("u", F.pmod(F.xxhash64("u"), F.lit(nb)).alias("b"))
               .collect()}
        for u in urls:
            assert bucket_of(u, nb) == got[u], (u, nb)


def test_lookup_equals_full_filter_and_prunes_files(spark, tmpdir_path):
    t = LakeTable.create(spark, f"{tmpdir_path}/t", PAGES_SCHEMA,
                         key_col="url", num_buckets=16)
    ev = datagen.change_events(spark, 2000, 300, seed=23)
    merge_apply(t, ev.filter("event_seq < 1000"), 0)
    merge_apply(t, ev.filter("event_seq >= 1000"), 1)

    some = [r["url"] for r in t.read().select("url").limit(5).collect()]
    all_files = set(t.read().inputFiles())
    for u in some:
        got = t.lookup(u).collect()
        want = t.read().filter(F.col("url") == u).collect()
        assert [r["url"] for r in got] == [u]
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
        # manifest pruning: the point read opens a strict subset of files
        assert set(t.lookup(u).inputFiles()) < all_files

    assert t.lookup("https://nowhere.example/absent").count() == 0


def _input_records(spark):
    """{stage id: records read from storage} for every stage the status
    store retains."""
    sc = spark.sparkContext
    jvm = sc._jvm
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
    return {stages.apply(i).stageId(): stages.apply(i).inputRecords()
            for i in range(stages.size())}


def test_lookup_bloom_skips_merge_written_files(spark, tmpdir_path):
    """After copy-on-write merges only, a lookup of an absent key that
    sorts INSIDE its bucket file's url min/max reads no records: row-group
    min/max cannot rule the key out, the key bloom filter the merge wrote
    does."""
    t = LakeTable.create(spark, f"{tmpdir_path}/t", PAGES_SCHEMA,
                         key_col="url", num_buckets=4)
    ev = datagen.change_events(spark, 2000, 300, seed=23)
    merge_apply(t, ev.filter("event_seq < 1000"), 0, mode="cow")
    merge_apply(t, ev.filter("event_seq >= 1000"), 1, mode="cow")
    snap = t.snapshot()
    assert not any(f.get("delta") for f in snap.files)
    f = snap.files[0]
    (b,) = f["buckets"]
    rows = spark.read.parquet(f["path"]).select("url", "_deleted").collect()
    urls = sorted(r["url"] for r in rows)
    absent = next(c for c in (f"{urls[0]}-absent-{i}" for i in range(1000))
                  if bucket_of(c, 4) == b and c < urls[-1])
    assert absent not in urls

    before = _input_records(spark)
    assert t.lookup(absent).collect() == []
    after = _input_records(spark)
    new = {sid: n for sid, n in after.items() if sid not in before}
    assert new                               # the lookup did scan
    assert sum(new.values()) == 0
    # a live key in the same file is still found
    live = next(r["url"] for r in rows if not r["_deleted"])
    assert [r["url"] for r in t.lookup(live).collect()] == [live]


def test_lookup_resolves_mor_deltas(spark, tmpdir_path):
    """A key whose newest version lives in a merge-on-read delta file
    must come back resolved, not as the stale base row."""
    t = LakeTable.create(spark, f"{tmpdir_path}/t", PAGES_SCHEMA,
                         key_col="url", num_buckets=4)
    ev = datagen.change_events(spark, 600, 80, seed=29)
    merge_apply(t, ev, 0)
    victim = t.read().select("url", "event_seq").limit(1).collect()[0]
    newer = spark.createDataFrame(
        [(victim["event_seq"] + 10_000, victim["url"],
          None, "update", bytearray(b"<p>fresh</p>"), "en")],
        "event_seq long, url string, warc_ts timestamp, op string, "
        "html binary, lang string").withColumn(
            "warc_ts", F.lit("2031-01-01 00:00:00").cast("timestamp"))
    merge_apply(t, newer, 1, mode="mor")
    assert any(f.get("delta") for f in t.snapshot().files)
    row = t.lookup(victim["url"]).collect()
    assert len(row) == 1 and row[0]["event_seq"] == \
        victim["event_seq"] + 10_000


def test_cli_lookup(spark, tmpdir_path, capsys):
    from tinyetl_spark.cli import main
    t = LakeTable.create(spark, f"{tmpdir_path}/t", PAGES_SCHEMA,
                         key_col="url", num_buckets=4)
    merge_apply(t, datagen.change_events(spark, 400, 60, seed=31), 0)
    u = t.read().select("url").limit(1).collect()[0]["url"]
    assert main(["lookup", f"{tmpdir_path}/t", u]) == 0
    out = capsys.readouterr().out
    assert u[:15] in out          # data_grid truncates cells to 15 chars
    assert main(["lookup", f"{tmpdir_path}/t", "https://no.example/x"]) == 1
    assert "not found" in capsys.readouterr().out
