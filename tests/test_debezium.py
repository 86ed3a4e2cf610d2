"""Debezium envelope adapter: wire-format parse, op mapping, tombstone
handling, roundtrip identity, and the streaming landing-zone path into
the fenced MERGE."""

import datetime
import json

import pyspark.sql.functions as F
import pytest

from tinyetl_spark.lake import LakeTable
from tinyetl_spark.schema import EVENTS_SCHEMA, PAGES_SCHEMA
from tinyetl_spark.lake.merge import merge_apply
from tinyetl_spark.sources.debezium import (DIALECTS, parse_debezium,
                                            stream_envelopes, to_debezium)

UTC = datetime.timezone.utc


def _events(spark):
    rows = [
        (0, "https://a.example/1", datetime.datetime(2024, 1, 1, 0, 0, 1),
         "insert", b"<p>one</p>", "en"),
        (1, "https://a.example/1", datetime.datetime(2024, 1, 1, 0, 0, 2),
         "update", b'<p>{"k": 1}\\u2603</p>', "en"),
        (2, "https://a.example/2", datetime.datetime(2024, 1, 1, 0, 0, 3),
         "insert", b"<p>two</p>", "de"),
        (3, "https://a.example/1", datetime.datetime(2024, 1, 1, 0, 0, 4),
         "delete", None, "en"),
    ]
    return spark.createDataFrame(rows, EVENTS_SCHEMA)


def _collect_events(df):
    return sorted(
        (r.event_seq, r.url, r.warc_ts, r.op, bytes(r.html) if r.html
         is not None else None, r.lang)
        for r in df.collect())


@pytest.mark.parametrize("wrapped", [True, False])
def test_roundtrip_identity(spark, wrapped):
    """to_debezium ∘ parse_debezium is the identity on the change-event
    shape — including binary html with JSON-hostile bytes and deletes
    whose image rides in `before`."""
    ev = _events(spark)
    back = parse_debezium(to_debezium(ev, wrapped=wrapped),
                          wrapped=wrapped)
    assert [(f.name, f.dataType) for f in back.schema.fields] == \
        [(f.name, f.dataType) for f in EVENTS_SCHEMA.fields]
    assert _collect_events(back) == _collect_events(ev)


def test_hand_built_envelope_fields(spark):
    """A hand-written envelope (not produced by to_debezium) parses to
    exactly the documented mapping: lsn → event_seq, µs → timestamp,
    base64 → bytes, r → insert."""
    import base64
    env = json.dumps({"payload": {
        "before": None,
        "after": {"url": "https://x.example/", "warc_ts": 1704067201000000,
                  "html": base64.b64encode(b"<p>snap</p>").decode(),
                  "lang": "en"},
        "op": "r", "ts_ms": 1704067201000, "source": {"lsn": 77}}})
    out = parse_debezium(
        spark.createDataFrame([(env,)], "value string")).collect()
    assert len(out) == 1
    r = out[0]
    assert r.event_seq == 77
    assert r.op == "insert"
    assert r.url == "https://x.example/"
    assert bytes(r.html) == b"<p>snap</p>"
    assert r.warc_ts == datetime.datetime(2024, 1, 1, 0, 0, 1)


def test_tombstones_truncates_and_lsn_fallback(spark):
    """Kafka tombstones (null/empty payload) and op codes that carry no
    row change (t = truncate) are dropped; an envelope without
    source.lsn falls back to ts_ms for event_seq."""
    envs = [
        ("",),                                     # empty tombstone
        ("null",),
        (json.dumps({"payload": None}),),
        (json.dumps({"payload": {"op": "t", "ts_ms": 5,
                                 "source": {"lsn": 1}}}),),
        (json.dumps({"payload": {
            "after": {"url": "u", "warc_ts": 1_000_000,
                      "html": None, "lang": None},
            "op": "c", "ts_ms": 42}}),),           # no source.lsn
    ]
    out = parse_debezium(
        spark.createDataFrame(envs, "value string")).collect()
    assert len(out) == 1
    assert out[0].event_seq == 42          # ts_ms fallback
    assert out[0].op == "insert"
    assert out[0].html is None


def test_stream_landing_zone_to_merge(spark, tmpdir_path):
    """json-lines landing zone → stream_envelopes → fenced MERGE: final
    state equals a direct batch merge of the same events (the adapter
    changes the wire format, not the state machine)."""
    ev = _events(spark)
    (to_debezium(ev).coalesce(1)
     .write.mode("overwrite").text(f"{tmpdir_path}/dbz"))

    table = LakeTable.create(spark, f"{tmpdir_path}/t", PAGES_SCHEMA,
                             key_col="url", num_buckets=4)
    stream = stream_envelopes(spark, f"{tmpdir_path}/dbz", "debezium")
    assert stream.isStreaming

    def apply_batch(batch, batch_id):
        merge_apply(table, batch, batch_id, stream_id="dbz")

    (stream.writeStream.foreachBatch(apply_batch)
     .option("checkpointLocation", f"{tmpdir_path}/ck")
     .trigger(availableNow=True).start().awaitTermination())

    got = sorted((r.url, r.event_seq, r.lang)
                 for r in table.read().collect())
    # url 1: delete (seq 3) wins; url 2: insert survives
    assert got == [("https://a.example/2", 2, "de")]

    # direct batch merge of the same events reconverges identically
    t2 = LakeTable.create(spark, f"{tmpdir_path}/t2", PAGES_SCHEMA,
                          key_col="url", num_buckets=4)
    merge_apply(t2, ev, 0, stream_id="direct")
    assert sorted((r.url, r.event_seq, r.lang)
                  for r in t2.read().collect()) == got


def test_publish_changes_mirror(spark, tmpdir_path):
    """Outbound: publish a table's change feed as Debezium envelopes,
    re-ingest through the inbound adapter into a mirror — the mirror
    reconverges to the source state over the wire dialect, and a second
    publish with the same checkpoint ships nothing new (checkpointed
    snapshot-version offsets)."""
    from tinyetl_spark.sources.debezium import publish_changes

    src = LakeTable.create(spark, f"{tmpdir_path}/src", PAGES_SCHEMA,
                           key_col="url", num_buckets=4)
    ev = _events(spark)
    merge_apply(src, ev.filter("event_seq < 2"), 0, stream_id="s")
    merge_apply(src, ev.filter("event_seq >= 2"), 1, stream_id="s")

    out, ck = f"{tmpdir_path}/feed", f"{tmpdir_path}/pub_ck"
    publish_changes(spark, f"{tmpdir_path}/src", out, ck)
    n_first = spark.read.text(out).count()
    assert n_first > 0

    # idempotent re-publish: no new commits -> no new envelope lines
    publish_changes(spark, f"{tmpdir_path}/src", out, ck)
    assert spark.read.text(out).count() == n_first

    mirror = LakeTable.create(spark, f"{tmpdir_path}/dst", PAGES_SCHEMA,
                              key_col="url", num_buckets=4)
    merge_apply(mirror, parse_debezium(spark.read.text(out)), 0,
                stream_id="m")

    def state(t):
        return sorted((r.url, r.event_seq, r.warc_ts, r.text, r.lang)
                      for r in t.read().collect())
    assert state(mirror) == state(src)

    # incremental: one more source commit, publish ships only its rows,
    # and the mirror catches up through the dialect
    late = spark.createDataFrame(
        [(9, "https://a.example/2",
          datetime.datetime(2024, 1, 1, 0, 0, 9), "update",
          b"<p>late</p>", "fr")], EVENTS_SCHEMA)
    merge_apply(src, late, 2, stream_id="s")
    publish_changes(spark, f"{tmpdir_path}/src", out, ck)
    new_lines = spark.read.text(out).count() - n_first
    assert new_lines == 1
    merge_apply(mirror, parse_debezium(spark.read.text(out)), 1,
                stream_id="m")
    assert state(mirror) == state(src)


def test_garbage_envelopes_to_quarantine(spark, tmpdir_path):
    """An untrusted landing zone mixing clean envelopes, garbage
    (unparseable JSON, unknown op, missing ordering key) and protocol
    rows (tombstones, truncates): with a DLQ configured the pipeline
    merges the clean rows, diverts every garbage row to quarantine with
    reasons AND its original wire bytes for replay, and drops protocol
    rows silently — the stream never stops."""
    from tinyetl_spark.streaming.pipeline import run_to_completion

    good = to_debezium(_events(spark)).collect()
    lines = [r.value for r in good] + [
        "{definitely not json",                              # garbage
        json.dumps({"payload": {"op": "x", "ts_ms": 1,      # unknown op
                    "source": {"lsn": 50}}}),
        json.dumps({"payload": {"op": "c",                   # no seq key
                    "after": {"url": "u", "warc_ts": 1_000_000,
                              "html": "aGk=", "lang": "en"}}}),
        "",                                                  # tombstone
        "null",                                              # tombstone
        json.dumps({"payload": None}),                       # tombstone
        json.dumps({"payload": {"op": "t", "ts_ms": 2,      # truncate
                    "source": {"lsn": 51}}}),
    ]
    with open(f"{tmpdir_path}/seg.json", "w") as f:
        f.write("\n".join(lines))
    landing = f"{tmpdir_path}/landing"
    import os
    os.makedirs(landing)
    os.rename(f"{tmpdir_path}/seg.json", f"{landing}/seg.json")

    LakeTable.create(spark, f"{tmpdir_path}/t", PAGES_SCHEMA,
                     key_col="url", num_buckets=4)
    stats = run_to_completion(
        spark, landing, f"{tmpdir_path}/t", f"{tmpdir_path}/ck",
        source_format="debezium", quarantine_dir=f"{tmpdir_path}/dlq")
    assert sum(s.events_quarantined for s in stats) == 3

    t = LakeTable(spark, f"{tmpdir_path}/t")
    assert sorted((r.url, r.event_seq) for r in t.read().collect()) == \
        [("https://a.example/2", 2)]

    dlq = spark.read.parquet(f"{tmpdir_path}/dlq")
    rows = {r._raw_envelope: list(r._reject_reasons)
            for r in dlq.collect()}
    assert len(rows) == 3
    assert "{definitely not json" in rows
    assert any("bad_op" in v for v in rows.values())
    assert any("null_event_seq" in v for v in rows.values())


def test_maxwell_roundtrip_and_bootstrap(spark):
    """Maxwell dialect: to_maxwell ∘ parse_maxwell is the identity on
    the change-event shape (µs datetime text, base64 blob, xid→seq);
    bootstrap-insert maps to insert, bootstrap-start/complete drop."""
    from tinyetl_spark.sources.debezium import parse_maxwell, to_maxwell

    ev = _events(spark)
    back = parse_maxwell(to_maxwell(ev))
    assert _collect_events(back) == _collect_events(ev)

    envs = [
        (json.dumps({"database": "d", "table": "t",
                     "type": "bootstrap-insert", "ts": 9, "xid": 4,
                     "data": {"url": "u",
                              "warc_ts": "2024-01-01 00:00:01.500000",
                              "html": None, "lang": "en"}}),),
        (json.dumps({"database": "d", "table": "t",
                     "type": "bootstrap-start", "ts": 9, "xid": 5}),),
        (json.dumps({"database": "d", "table": "t",
                     "type": "bootstrap-complete", "ts": 9, "xid": 6}),),
    ]
    out = parse_maxwell(
        spark.createDataFrame(envs, "value string")).collect()
    assert len(out) == 1
    assert out[0].op == "insert" and out[0].event_seq == 4
    assert out[0].warc_ts == datetime.datetime(2024, 1, 1, 0, 0, 1,
                                               500000)


def test_roundtrip_property_adversarial_strings(spark):
    """Property check (hypothesis): BOTH dialects are the identity on
    change events whose url/lang carry JSON-hostile text (quotes,
    backslashes, control chars, non-BMP unicode) and whose html is
    arbitrary bytes — the to_json/from_json escaping claim, not just
    the happy path."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tinyetl_spark.sources.debezium import parse_maxwell, to_maxwell

    txt = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)),
        min_size=1, max_size=24)

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(rows=st.lists(
        st.tuples(txt, txt, st.one_of(st.none(), st.binary(max_size=48)),
                  st.sampled_from(["insert", "update", "delete"])),
        min_size=1, max_size=5))
    def check(rows):
        data = [
            (i, url, datetime.datetime(2024, 1, 1, 0, 0, i % 60),
             op, html, lang)
            for i, (url, lang, html, op) in enumerate(rows)]
        ev = spark.createDataFrame(data, EVENTS_SCHEMA)
        for enc, dec in [(to_debezium, parse_debezium),
                         (to_maxwell, parse_maxwell)]:
            assert _collect_events(dec(enc(ev))) == _collect_events(ev)
        # canal: identity modulo the documented seq embedding (×4096)
        from tinyetl_spark.sources.debezium import parse_canal, to_canal
        assert _collect_events(parse_canal(to_canal(ev))) == sorted(
            (seq * 4096, url, ts, op, html, lang)
            for seq, url, ts, op, html, lang in _collect_events(ev))

    check()


def test_publish_streaming_consumer_chain(spark, tmpdir_path):
    """The docstring's exactly-once consumer claim, exercised for real:
    a STREAMING consumer (stream_envelopes with its own checkpoint) over
    a publish_changes output dir respects the file-sink manifest —
    each change consumed exactly once across two publish/consume
    cycles, mirror converges. Also covers the maxwell publish dialect
    via parse parity."""
    from tinyetl_spark.sources.debezium import (parse_maxwell,
                                                publish_changes)

    src = LakeTable.create(spark, f"{tmpdir_path}/src", PAGES_SCHEMA,
                           key_col="url", num_buckets=4)
    ev = _events(spark)
    merge_apply(src, ev.filter("event_seq < 2"), 0, stream_id="s")
    out, pck = f"{tmpdir_path}/feed", f"{tmpdir_path}/pub_ck"
    publish_changes(spark, f"{tmpdir_path}/src", out, pck)

    mirror = LakeTable.create(spark, f"{tmpdir_path}/dst", PAGES_SCHEMA,
                              key_col="url", num_buckets=4)

    def consume():
        (stream_envelopes(spark, out, "debezium").writeStream
         .foreachBatch(lambda b, i: merge_apply(
             mirror, b, i, stream_id="c"))
         .option("checkpointLocation", f"{tmpdir_path}/con_ck")
         .trigger(availableNow=True).start().awaitTermination())

    consume()

    def state(t):
        return sorted((r.url, r.event_seq, r.text)
                      for r in t.read().collect())
    assert state(mirror) == state(src)

    # second cycle: new source commits -> publish -> streaming consumer
    # picks up ONLY the new segments (its checkpoint pins the old ones)
    merge_apply(src, ev.filter("event_seq >= 2"), 1, stream_id="s")
    publish_changes(spark, f"{tmpdir_path}/src", out, pck)
    consume()
    assert state(mirror) == state(src)

    # maxwell publish dialect: same feed content through the other wire
    out2 = f"{tmpdir_path}/feed_mx"
    publish_changes(spark, f"{tmpdir_path}/src", out2,
                    f"{tmpdir_path}/pub_ck2", dialect="maxwell")
    mx = parse_maxwell(spark.read.text(out2))
    m2 = LakeTable.create(spark, f"{tmpdir_path}/dst2", PAGES_SCHEMA,
                          key_col="url", num_buckets=4)
    merge_apply(m2, mx, 0, stream_id="m2")
    assert state(m2) == state(src)


def test_parse_is_python_free(spark):
    """The adapters must fuse into the scan: no Python eval nodes, no
    exchanges in the parse projection (Canal adds a Generate for the
    batched data array — still JVM-side, still shuffle-free)."""
    from tinyetl_spark.sources.debezium import parse_canal, to_canal
    ev = _events(spark)
    for enc, dec in [(to_debezium, parse_debezium),
                     (to_canal, parse_canal)]:
        plan = dec(enc(ev))._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Python" not in plan
        assert "Exchange" not in plan


def test_canal_roundtrip_and_batched_envelopes(spark):
    """Canal dialect: parse_canal ∘ to_canal maps each event's ordering
    key through the documented monotone embedding (id*4096 + pos) and
    is the identity on every other field; a hand-built BATCHED envelope
    (the shape the one-row dialects never produce) explodes to one
    event per image with binlog order preserved in the key."""
    from tinyetl_spark.sources.debezium import parse_canal, to_canal

    ev = _events(spark)
    back = parse_canal(to_canal(ev))
    assert [(f.name, f.dataType) for f in back.schema.fields] == \
        [(f.name, f.dataType) for f in EVENTS_SCHEMA.fields]
    assert _collect_events(back) == sorted(
        (seq * 4096, url, ts, op, html, lang)
        for seq, url, ts, op, html, lang in _collect_events(ev))

    # one envelope, three row images: seq = id*4096 + position
    import base64
    env = json.dumps({
        "id": 7, "database": "d", "table": "t", "pkNames": ["url"],
        "isDdl": False, "type": "UPDATE",
        "es": 1704067200123, "ts": 1704067200456,
        "data": [
            {"url": "u0", "warc_ts": "2024-01-01 00:00:01.250000",
             "html": base64.b64encode(b"<p>a</p>").decode(), "lang": "en"},
            {"url": "u1", "warc_ts": "2024-01-01 00:00:02",
             "html": None, "lang": "de"},
            {"url": "u0", "warc_ts": "2024-01-01 00:00:01.250000",
             "html": base64.b64encode(b"<p>b</p>").decode(), "lang": "en"},
        ],
        "old": [{"lang": "fr"}, None, {"lang": "en"}]})
    rows = parse_canal(
        spark.createDataFrame([(env,)], "value string")).collect()
    assert [(r.event_seq, r.url, r.op) for r in rows] == \
        [(7 * 4096, "u0", "update"), (7 * 4096 + 1, "u1", "update"),
         (7 * 4096 + 2, "u0", "update")]
    assert bytes(rows[0].html) == b"<p>a</p>"
    assert rows[0].warc_ts == datetime.datetime(2024, 1, 1, 0, 0, 1,
                                                250000)
    # same-url pair inside the batch: binlog order survives in the key
    assert rows[2].event_seq > rows[0].event_seq

    # protocol rows drop in both modes: DDL, statement types, blanks;
    # `id` missing falls back to es for the envelope component
    envs = [
        (json.dumps({"database": "d", "table": "t", "isDdl": True,
                     "type": "ALTER", "es": 1, "ts": 1, "data": None}),),
        (json.dumps({"database": "d", "table": "t", "isDdl": False,
                     "type": "QUERY", "es": 2, "ts": 2, "data": None}),),
        ("",),
        (json.dumps({"database": "d", "table": "t", "isDdl": False,
                     "type": "DELETE", "es": 5, "ts": 5,
                     "data": [{"url": "gone",
                               "warc_ts": "2024-01-02 03:04:05",
                               "html": None, "lang": "en"}]}),),
    ]
    out = parse_canal(
        spark.createDataFrame(envs, "value string")).collect()
    assert len(out) == 1
    assert (out[0].op, out[0].url, out[0].event_seq) == \
        ("delete", "gone", 5 * 4096)


def test_canal_garbage_vs_protocol_quarantine_mode(spark):
    """drop_invalid=False: garbage (unparseable JSON, unknown type)
    passes through with null op + the raw envelope for the DLQ, while
    protocol rows (DDL/QUERY/blank) still drop silently — only real
    garbage reaches the quarantine."""
    from tinyetl_spark.sources.debezium import parse_canal

    envs = [
        ("this is not json",),
        (json.dumps({"id": 1, "type": "WEIRD", "isDdl": False,
                     "es": 1, "ts": 1,
                     "data": [{"url": "u", "warc_ts": None,
                               "html": None, "lang": None}]}),),
        (json.dumps({"type": "ALTER", "isDdl": True, "es": 2,
                     "ts": 2}),),
        ("",),
        (json.dumps({"id": 3, "type": "INSERT", "isDdl": False,
                     "es": 3, "ts": 3,
                     "data": [{"url": "ok",
                               "warc_ts": "2024-01-01 00:00:01",
                               "html": None, "lang": "en"}]}),),
    ]
    out = parse_canal(spark.createDataFrame(envs, "value string"),
                      drop_invalid=False, raw_col="_raw").collect()
    by_op = {}
    for r in out:
        by_op.setdefault(r.op, []).append(r)
    # the good row
    assert [r.url for r in by_op.get("insert", [])] == ["ok"]
    # exactly the two garbage rows, raw envelope intact
    bad = by_op.get(None, [])
    assert sorted(r._raw for r in bad) == \
        sorted([envs[0][0], envs[1][0]])


def test_schema_evolution_over_the_wire(spark, tmpdir_path):
    """An upgraded agent starts emitting a new image field: parsing
    with an extended image schema projects it through verbatim; once the
    table is evolved to carry the column (the merge conforms to the
    current schema and would drop it otherwise), the fenced MERGE stores
    it and pre-evolution rows conform to null. Covers the Debezium leg
    end-to-end and the Canal leg's extra-field roundtrip."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    from tinyetl_spark.sources.debezium import (CANAL_IMAGE_SCHEMA,
                                                PAGE_IMAGE_SCHEMA,
                                                parse_canal, to_canal)

    ev = _events(spark)
    t = LakeTable.create(spark, f"{tmpdir_path}/t", PAGES_SCHEMA,
                         key_col="url", num_buckets=4)
    # pre-evolution batch: url/2 lands without the new column
    merge_apply(t, parse_debezium(to_debezium(ev.filter("event_seq = 2"))),
                0, stream_id="w")

    # agent upgrade: image gains `quality`; table evolves to match
    ext_img = StructType(PAGE_IMAGE_SCHEMA.fields
                         + [StructField("quality", DoubleType(), True)])
    t.evolve_schema(StructType(PAGES_SCHEMA.fields
                               + [StructField("quality", DoubleType(),
                                              True)]))
    late = (ev.filter("event_seq <> 2")
              .withColumn("quality", F.col("event_seq") / 10.0))
    parsed = parse_debezium(to_debezium(late, extra_cols=["quality"]),
                            image_schema=ext_img)
    assert parsed.columns[-1] == "quality"
    assert dict(parsed.dtypes)["quality"] == "double"
    merge_apply(t, parsed, 1, stream_id="w")

    rows = {r.url: r for r in t.read().collect()}
    # url/1: insert+update+delete all post-evolution -> gone
    assert set(rows) == {"https://a.example/2"}
    # pre-evolution row conformed to null quality
    assert rows["https://a.example/2"].quality is None

    # canal leg: the extra field rides the batched array roundtrip too
    ext_canal = StructType(CANAL_IMAGE_SCHEMA.fields
                           + [StructField("quality", DoubleType(), True)])
    back = parse_canal(to_canal(late, extra_cols=["quality"]),
                       image_schema=ext_canal)
    got = sorted((r.event_seq, r.quality) for r in back.collect())
    assert got == [(s * 4096, s / 10.0)
                   for s in sorted(r.event_seq for r in late.collect())]


def test_maxwell_garbage_vs_protocol_quarantine_mode(spark):
    """Maxwell now has the same DLQ contract as the other dialects:
    drop_invalid=False passes garbage through with null op + the raw
    envelope, while bootstrap/ddl protocol rows still drop silently."""
    from tinyetl_spark.sources.debezium import parse_maxwell

    envs = [
        ("not json at all",),
        (json.dumps({"database": "d", "table": "t", "type": "mystery",
                     "ts": 1, "xid": 1}),),
        (json.dumps({"database": "d", "table": "t",
                     "type": "bootstrap-start", "ts": 2, "xid": 2}),),
        (json.dumps({"database": "d", "table": "t",
                     "type": "table-create", "ts": 3, "xid": 3}),),
        ("",),
        (json.dumps({"database": "d", "table": "t", "type": "insert",
                     "ts": 4, "xid": 4,
                     "data": {"url": "ok",
                              "warc_ts": "2024-01-01 00:00:01",
                              "html": None, "lang": "en"}}),),
    ]
    df = spark.createDataFrame(envs, "value string")
    # drop mode: only the good row survives
    strict = parse_maxwell(df).collect()
    assert [(r.url, r.op) for r in strict] == [("ok", "insert")]
    # quarantine mode: good row + exactly the two garbage rows
    out = parse_maxwell(df, drop_invalid=False, raw_col="_raw").collect()
    good = [r for r in out if r.op is not None]
    bad = [r for r in out if r.op is None]
    assert [(r.url, r.op) for r in good] == [("ok", "insert")]
    assert sorted(r._raw for r in bad) == sorted([envs[0][0], envs[1][0]])


def test_canal_batched_property_vs_reference(spark):
    """Property check (hypothesis): rows chunked into random-size Canal
    envelopes parse to exactly the flat reference mapping — every row
    present once, keys embedding (envelope id, intra-batch position),
    independent of how the binlog batched them."""
    import base64

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tinyetl_spark.sources.debezium import parse_canal

    @settings(max_examples=6, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.lists(st.tuples(st.text(min_size=1, max_size=8),
                              st.sampled_from(["INSERT", "UPDATE",
                                               "DELETE"])),
                    min_size=1, max_size=12),
           st.integers(min_value=1, max_value=5))
    def check(rows, chunk):
        envs, expected = [], []
        for env_i, start in enumerate(range(0, len(rows), chunk)):
            batch = rows[start:start + chunk]
            envs.append((json.dumps({
                "id": 100 + env_i, "database": "d", "table": "t",
                "isDdl": False, "type": batch[0][1],
                "es": 1704067200000, "ts": 1704067200000,
                "data": [{"url": u, "warc_ts": "2024-01-01 00:00:01",
                          "html": base64.b64encode(
                              u.encode()).decode(),
                          "lang": "en"} for u, _ in batch]}),))
            expected += [((100 + env_i) * 4096 + pos, u,
                          batch[0][1].lower(), u.encode())
                         for pos, (u, _) in enumerate(batch)]
        got = sorted(
            (r.event_seq, r.url, r.op, bytes(r.html))
            for r in parse_canal(
                spark.createDataFrame(envs, "value string")).collect())
        assert got == sorted(expected)

    check()


@pytest.mark.parametrize("dialect", sorted(DIALECTS))
def test_cli_stream_envelope_source(spark, tmpdir_path, capsys, dialect):
    """YAML job with options.source_format: <dialect> — the CLI runs the
    full pipeline off that dialect's landing zone and resumes
    exactly-once from the same checkpoint."""
    from tinyetl_spark.cli import main

    _, to_fn = DIALECTS[dialect]
    (to_fn(_events(spark)).coalesce(1)
     .write.mode("overwrite").text(f"{tmpdir_path}/landing"))
    job = f"{tmpdir_path}/job.yaml"
    with open(job, "w") as f:
        f.write(f"""\
version: 1
source:
  uri: {tmpdir_path}/landing
target:
  uri: {tmpdir_path}/lake/pages
options:
  mode: stream
  source_format: {dialect}
  checkpoint_dir: {tmpdir_path}/ck
  key_col: url
  num_buckets: 4
""")
    assert main(["run", job]) == 0
    assert "applied 4 events" in capsys.readouterr().out
    t = LakeTable(spark, f"{tmpdir_path}/lake/pages")
    # url 1 deleted (seq 3 wins), url 2 alive; canal embeds the ordering
    # key as seq * 4096, which LWW reconverges over all the same
    seq_scale = 4096 if dialect == "canal" else 1
    assert sorted((r.url, r.event_seq) for r in t.read().collect()) == \
        [("https://a.example/2", 2 * seq_scale)]
    # exactly-once: re-run from the same checkpoint applies nothing
    assert main(["run", job]) == 0
    assert "applied 0 events" in capsys.readouterr().out
