"""Debezium CDC envelope adapter — the wire format a real binlog/WAL
tail delivers.

The engine's native event log (sources/eventlog.py) is the landing-zone
contract: *some agent* writes change events as parquet segments. In
production that agent is almost always Debezium (or a Debezium-shaped
shipper: DMS, Maxwell, Canal), and what it actually emits is JSON
envelopes::

    {"payload": {"before": <row-image|null>, "after": <row-image|null>,
                 "op": "c"|"u"|"d"|"r", "ts_ms": <epoch-millis>,
                 "source": {"lsn": <WAL position>, ...}}}

This module turns a DataFrame of those envelope strings into the
engine's change-event shape (schema.EVENTS_SCHEMA) with ONE pure-
Catalyst projection — `from_json` against an explicit schema, never
schema inference (inference is a full extra scan and non-deterministic
under drift), never per-row Python.

Mapping (Debezium semantics, verbatim):
- ``op``: c (create) and r (snapshot read) → insert; u → update;
  d → delete. Anything else (t = truncate, m = message) does not carry
  a row change for this table shape and is dropped.
- row image: ``after`` for c/u/r; ``before`` for d (Debezium sets
  ``after`` null on deletes — the before-image carries the key).
- ``event_seq``: ``source.lsn`` — the WAL position, exactly what the
  LWW order and the idempotent MERGE key need; falls back to ``ts_ms``
  for agents that do not ship a position.
- ``warc_ts``: Debezium encodes TIMESTAMP columns as epoch-micros
  (io.debezium.time.MicroTimestamp) → `timestamp_micros`.
- ``html``: Debezium's JSON converter encodes BYTES as base64 →
  `unbase64`.
- tombstones (null value / null payload — Kafka compaction markers)
  parse to a null payload struct and are dropped with the same filter.

Reference analogue: TinyETL has no log-tail at all — its closest shape
is the one-shot keyset cursor (/root/reference/src/connectors/
odbc.rs:233-256). This adapter is the piece that makes the engine's
streaming ingest speak the ecosystem's actual CDC dialect.

Scale: the projection fuses into the scan (zero shuffle, zero Python);
a 10^10-event Debezium topic lands as json-lines segments and every
executor parses its own split. Envelope parse failures surface as null
payloads — route them through streaming/quarantine.py rather than
silently dropping when the upstream agent is untrusted.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

# Row image of the north-rule pages stream as Debezium's JSON converter
# ships it: timestamps as epoch-µs longs, bytes as base64 strings.
PAGE_IMAGE_SCHEMA = StructType([
    StructField("url", StringType(), True),
    StructField("warc_ts", LongType(), True),
    StructField("html", StringType(), True),     # base64
    StructField("lang", StringType(), True),
])

_SOURCE_SCHEMA = StructType([
    StructField("lsn", LongType(), True),
])

# the event-shape columns every dialect maps explicitly; any OTHER field
# in a caller-supplied image schema is schema evolution arriving over
# the wire (an upgraded agent emitting a new column) and is projected
# through verbatim. The merge does not widen the table: it conforms each
# batch to the table's current schema and drops columns the table lacks,
# so evolve the table first (LakeTable.evolve_schema) to keep them
_STD_IMAGE_FIELDS = ("url", "warc_ts", "html", "lang")


def _extra_image_cols(image_schema: StructType, img) -> list:
    return [img[f.name].alias(f.name) for f in image_schema.fields
            if f.name not in _STD_IMAGE_FIELDS]


def envelope_schema(image_schema: StructType = PAGE_IMAGE_SCHEMA,
                    wrapped: bool = True) -> StructType:
    """Explicit envelope schema for `from_json`. ``wrapped`` is the
    schemas-enabled converter layout ({"payload": {...}}); the
    schemas-disabled converter emits the payload fields at top level."""
    payload = StructType([
        StructField("before", image_schema, True),
        StructField("after", image_schema, True),
        StructField("op", StringType(), True),
        StructField("ts_ms", LongType(), True),
        StructField("source", _SOURCE_SCHEMA, True),
    ])
    if wrapped:
        return StructType([StructField("payload", payload, True)])
    return payload


def parse_debezium(df: DataFrame, value_col: str = "value",
                   image_schema: StructType = PAGE_IMAGE_SCHEMA,
                   wrapped: bool = True, drop_invalid: bool = True,
                   raw_col: str | None = None) -> DataFrame:
    """Envelope strings → EVENTS_SCHEMA-shaped change events.

    One `from_json` + one projection. Output columns: event_seq, url,
    warc_ts, op, html, lang — byte-compatible with
    sources/eventlog.py's native shape, so everything downstream
    (dedup, merge_apply, fan-out routing) is unchanged.

    Three kinds of non-event input, handled distinctly:
    - PROTOCOL rows — Kafka tombstones (null/empty value, null payload)
      and op codes that carry no row change for this table (t =
      truncate, m = message): always dropped silently; they are the
      format working as designed.
    - GARBAGE — unparseable JSON, unknown op codes, envelopes missing
      the ordering key: with ``drop_invalid=True`` (default, trusted
      agent) they are filtered; with ``drop_invalid=False`` they pass
      through with null fields so the pipeline's quarantine rules
      (null_url / null_event_seq / bad_op) divert them to the
      dead-letter queue instead of losing them silently. ``raw_col``
      additionally carries the original envelope string — a DLQ entry
      an operator can actually replay after the upstream fix.
    """
    # PERMISSIVE from_json yields the same all-null struct for malformed
    # JSON and for a genuine {"payload": null} tombstone; the corrupt-
    # record column is the only way to tell garbage from protocol
    sch = envelope_schema(image_schema, wrapped)
    sch = StructType(sch.fields
                     + [StructField("_corrupt", StringType(), True)])
    parsed = df.withColumn(
        "_env", F.from_json(F.col(value_col), sch,
                            {"columnNameOfCorruptRecord": "_corrupt",
                             "mode": "PERMISSIVE"}))
    p = F.col("_env.payload") if wrapped else F.col("_env")
    img = F.when(p["op"] == "d", p["before"]).otherwise(p["after"])
    trimmed = F.trim(F.col(value_col))
    corrupt = F.col("_env")["_corrupt"].isNotNull()
    tombstone = (F.col(value_col).isNull()
                 | trimmed.isin("", "null")
                 | (~corrupt & (p.isNull() if wrapped else F.lit(False))))
    non_row = p["op"].isin("t", "m")
    cols = [
        F.coalesce(p["source"]["lsn"], p["ts_ms"])
         .cast("long").alias("event_seq"),
        img["url"].alias("url"),
        F.timestamp_micros(img["warc_ts"]).alias("warc_ts"),
        F.when(p["op"].isin("c", "r"), F.lit("insert"))
         .when(p["op"] == "u", F.lit("update"))
         .when(p["op"] == "d", F.lit("delete"))
         .alias("op"),
        F.unbase64(img["html"]).alias("html"),
        img["lang"].alias("lang"),
    ]
    cols += _extra_image_cols(image_schema, img)
    if raw_col:
        cols.append(F.col(value_col).alias(raw_col))
    out = (parsed
           .filter(~tombstone & ~F.coalesce(non_row, F.lit(False)))
           .select(*cols))
    if drop_invalid:
        out = out.filter(F.col("op").isNotNull()
                         & F.col("event_seq").isNotNull())
    return out


def to_debezium(events: DataFrame, wrapped: bool = True,
                extra_cols: list[str] | None = None) -> DataFrame:
    """Change events → envelope strings (column ``value``): the test/
    bench stand-in for the Debezium agent, and the outbound shape for
    publishing this engine's change feed to a Debezium-speaking
    consumer. `to_json` handles escaping and encodes the binary html
    field as base64 — exactly the converter's BYTES encoding; struct
    fields that are null are omitted, which `from_json` reads back as
    null (the converter's own optional-field behavior). ``extra_cols``
    ride in the image verbatim — the outbound half of over-the-wire
    schema evolution (parse with an extended image schema to read them
    back)."""
    img = F.struct(
        F.col("url"),
        F.unix_micros(F.col("warc_ts").cast("timestamp")).alias("warc_ts"),
        F.col("html"),
        F.col("lang"),
        *[F.col(c) for c in (extra_cols or [])])
    payload = F.struct(
        F.when(F.col("op") == "delete", img).alias("before"),
        F.when(F.col("op") != "delete", img).alias("after"),
        F.when(F.col("op") == "insert", F.lit("c"))
         .when(F.col("op") == "update", F.lit("u"))
         .when(F.col("op") == "delete", F.lit("d")).alias("op"),
        (F.unix_micros(F.col("warc_ts").cast("timestamp")) / 1000)
        .cast("long").alias("ts_ms"),
        F.struct(F.col("event_seq").alias("lsn")).alias("source"))
    env = F.struct(payload.alias("payload")) if wrapped else payload
    return events.select(F.to_json(env).alias("value"))


MAXWELL_IMAGE_SCHEMA = StructType([
    StructField("url", StringType(), True),
    StructField("warc_ts", StringType(), True),   # MySQL datetime text
    StructField("html", StringType(), True),      # base64 (blob/varbinary)
    StructField("lang", StringType(), True),
])


def maxwell_schema(image_schema: StructType = MAXWELL_IMAGE_SCHEMA
                   ) -> StructType:
    """Maxwell's flat envelope (Zendesk's MySQL binlog tailer — the
    other common binlog-JSON dialect): no payload wrapper, the FULL row
    image in ``data`` for every op (deletes included), changed-column
    preimages in ``old``."""
    return StructType([
        StructField("database", StringType(), True),
        StructField("table", StringType(), True),
        StructField("type", StringType(), True),
        StructField("ts", LongType(), True),          # epoch SECONDS
        StructField("xid", LongType(), True),
        StructField("data", image_schema, True),
        StructField("old", image_schema, True),
    ])


def parse_maxwell(df: DataFrame, value_col: str = "value",
                  image_schema: StructType = MAXWELL_IMAGE_SCHEMA,
                  drop_invalid: bool = True,
                  raw_col: str | None = None) -> DataFrame:
    """Maxwell envelope strings → EVENTS_SCHEMA-shaped change events.

    Differences from Debezium, handled here: flat layout (no payload),
    row image always in ``data`` (no before/after routing),
    ``bootstrap-insert`` is Maxwell's snapshot-load op (→ insert),
    ``bootstrap-start``/``bootstrap-complete`` carry no row and drop,
    ``ts`` is epoch SECONDS, datetimes are MySQL text
    ('yyyy-MM-dd HH:mm:ss[.ffffff]'), and the best available ordering
    key is ``xid`` (transaction id; falls back to ts) — a WAL position
    per-row like Debezium's lsn is not in the format.

    ``drop_invalid=False`` + ``raw_col`` give garbage envelopes
    (unparseable JSON, unknown types) the same DLQ pass-through
    contract as the other two dialects; protocol rows (bootstrap
    markers, ddl output types, blank lines) still drop silently in
    both modes."""
    parsed = df.withColumn(
        "_env", F.from_json(F.col(value_col), maxwell_schema(image_schema)))
    p = F.col("_env")
    img = p["data"]
    protocol = (p["type"].isin("bootstrap-start", "bootstrap-complete",
                               "table-create", "table-alter",
                               "table-drop", "database-create",
                               "database-alter", "database-drop", "ddl")
                | F.col(value_col).isNull()
                | F.trim(F.col(value_col)).isin("", "null"))
    op = (F.when(p["type"].isin("insert", "bootstrap-insert"),
                 F.lit("insert"))
           .when(p["type"] == "update", F.lit("update"))
           .when(p["type"] == "delete", F.lit("delete")))
    keep = (op.isNotNull() if drop_invalid
            else ~F.coalesce(protocol, F.lit(False)))
    cols = [
        F.coalesce(p["xid"], p["ts"]).cast("long").alias("event_seq"),
        img["url"].alias("url"),
        img["warc_ts"].cast("timestamp").alias("warc_ts"),
        op.alias("op"),
        F.unbase64(img["html"]).alias("html"),
        img["lang"].alias("lang"),
    ]
    cols += _extra_image_cols(image_schema, img)
    if raw_col:
        cols.append(F.col(value_col).alias(raw_col))
    out = parsed.filter(keep).select(*cols)
    if drop_invalid:
        out = out.filter(F.col("event_seq").isNotNull())
    return out


def to_maxwell(events: DataFrame, database: str = "crawl",
               table: str = "pages",
               extra_cols: list[str] | None = None) -> DataFrame:
    """Change events → Maxwell envelope strings (the agent stand-in /
    outbound shape). Datetimes serialize as MySQL text with µs, binary
    as base64 via to_json's BYTES encoding; ``extra_cols`` ride in the
    image verbatim (over-the-wire schema evolution)."""
    img = F.struct(
        F.col("url"),
        F.date_format(F.col("warc_ts").cast("timestamp"),
                      "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("warc_ts"),
        F.col("html"),
        F.col("lang"),
        *[F.col(c) for c in (extra_cols or [])])
    env = F.struct(
        F.lit(database).alias("database"),
        F.lit(table).alias("table"),
        F.when(F.col("op") == "insert", F.lit("insert"))
         .when(F.col("op") == "update", F.lit("update"))
         .when(F.col("op") == "delete", F.lit("delete")).alias("type"),
        (F.unix_micros(F.col("warc_ts").cast("timestamp")) / 1_000_000)
        .cast("long").alias("ts"),
        F.col("event_seq").alias("xid"),
        img.alias("data"))
    return events.select(F.to_json(env).alias("value"))


# Canal's flatMessage serializes EVERY column value as a JSON string
# (numbers, datetimes, blobs alike) — hence the all-string image.
CANAL_IMAGE_SCHEMA = StructType([
    StructField("url", StringType(), True),
    StructField("warc_ts", StringType(), True),   # MySQL datetime text
    StructField("html", StringType(), True),      # base64 (blob/varbinary)
    StructField("lang", StringType(), True),
])

# One Canal envelope carries a BATCH of row images; 4096 bounds the
# intra-envelope position in the ordering-key embedding (Canal's
# default fetch batch is far smaller).
_CANAL_BATCH_CAP = 4096


def canal_schema(image_schema: StructType = CANAL_IMAGE_SCHEMA
                 ) -> StructType:
    """Alibaba Canal's flatMessage envelope — the third common
    binlog-JSON dialect, and the one that is NOT one-row-per-envelope:
    ``data`` is an ARRAY of row images (a whole binlog event's rows per
    envelope), ``old`` the parallel array of changed-column preimages,
    ``type`` is UPPERCASE, ``es`` is the source binlog time and ``ts``
    the processing time (both epoch-millis), ``id`` the tailer's
    monotone batch id, DDL statements ride the same stream flagged
    ``isDdl``."""
    from pyspark.sql.types import ArrayType, BooleanType
    return StructType([
        StructField("id", LongType(), True),
        StructField("database", StringType(), True),
        StructField("table", StringType(), True),
        StructField("pkNames", ArrayType(StringType()), True),
        StructField("isDdl", BooleanType(), True),
        StructField("type", StringType(), True),
        StructField("es", LongType(), True),          # epoch MILLIS
        StructField("ts", LongType(), True),          # epoch MILLIS
        StructField("data", ArrayType(image_schema), True),
        StructField("old", ArrayType(image_schema), True),
    ])


def parse_canal(df: DataFrame, value_col: str = "value",
                image_schema: StructType = CANAL_IMAGE_SCHEMA,
                drop_invalid: bool = True,
                raw_col: str | None = None) -> DataFrame:
    """Canal envelope strings → EVENTS_SCHEMA-shaped change events.

    One `from_json` + one generator (posexplode) + one projection —
    still zero shuffle, zero Python; the explode is the only structural
    difference from the one-row dialects and it fuses into the scan.

    Ordering key: Canal ships no per-row WAL position in this format,
    so the key is the documented monotone embedding
    ``coalesce(id, es) * 4096 + pos`` — envelope order (batch id,
    falling back to binlog time) then intra-envelope position. Two
    updates to the same url inside one batched envelope therefore keep
    their binlog order under the LWW (warc_ts, event_seq) tiebreak,
    which a bare ``coalesce(id, es)`` would lose.

    Op mapping: INSERT → insert, UPDATE → update, DELETE → delete
    (Canal puts the deleted row image in ``data``, not ``old``);
    ``isDdl`` rows and non-row types (CREATE/ALTER/QUERY/ERASE) carry
    no image for this table shape and drop. With ``drop_invalid=False``
    garbage envelopes keep flowing with null fields (``posexplode_outer``
    keeps rows whose ``data`` failed to parse) so the pipeline's
    quarantine rules can divert them; ``raw_col`` carries the original
    envelope string for the dead-letter queue, same contract as
    parse_debezium."""
    parsed = df.withColumn(
        "_env", F.from_json(F.col(value_col), canal_schema(image_schema)))
    p = F.col("_env")
    row_change = (~F.coalesce(p["isDdl"], F.lit(False))
                  & p["type"].isin("INSERT", "UPDATE", "DELETE"))
    # PROTOCOL rows — DDL / statement / transaction-marker envelopes and
    # blank lines: the format working as designed, dropped silently in
    # BOTH modes (only genuine garbage belongs in the DLQ)
    protocol = (F.coalesce(p["isDdl"], F.lit(False))
                | p["type"].isin("CREATE", "ALTER", "ERASE", "QUERY",
                                 "TRUNCATE", "CINDEX", "DINDEX", "GTID",
                                 "XACOMMIT", "XAROLLBACK", "MHEARTBEAT")
                | F.col(value_col).isNull()
                | F.trim(F.col(value_col)).isin("", "null"))
    # null-safe: garbage has null type, so isin() is null — coalesce it
    # or the ~protocol filter would silently drop the garbage too
    keep = (row_change if drop_invalid
            else ~F.coalesce(protocol, F.lit(False)))
    # garbage must survive the generator when quarantining: outer keeps
    # rows whose data array is null (unparseable envelopes)
    gen = parsed.filter(keep).select(
        "*", F.posexplode_outer(p["data"]).alias("_pos", "_img"))
    img = F.col("_img")
    cols = [
        (F.coalesce(p["id"], p["es"]) * _CANAL_BATCH_CAP
         + F.coalesce(F.col("_pos"), F.lit(0)))
        .cast("long").alias("event_seq"),
        img["url"].alias("url"),
        img["warc_ts"].cast("timestamp").alias("warc_ts"),
        F.when(p["type"] == "INSERT", F.lit("insert"))
         .when(p["type"] == "UPDATE", F.lit("update"))
         .when(p["type"] == "DELETE", F.lit("delete"))
         .alias("op"),
        F.unbase64(img["html"]).alias("html"),
        img["lang"].alias("lang"),
    ]
    cols += _extra_image_cols(image_schema, img)
    if raw_col:
        cols.append(F.col(value_col).alias(raw_col))
    out = gen.select(*cols)
    if drop_invalid:
        # url too: posexplode_OUTER manufactures a null image for a
        # row-typed envelope whose data array failed to parse — garbage,
        # not a row change
        out = out.filter(F.col("op").isNotNull()
                         & F.col("event_seq").isNotNull()
                         & F.col("url").isNotNull())
    return out


def to_canal(events: DataFrame, database: str = "crawl",
             table: str = "pages",
             extra_cols: list[str] | None = None) -> DataFrame:
    """Change events → Canal flatMessage strings (the agent stand-in /
    outbound shape): one single-row ``data`` array per envelope with
    ``id`` = the event's ordering key, so parse_canal's embedding maps
    it to ``event_seq * 4096`` — monotone and order-preserving, the
    adapter's documented contract (Canal has no per-row WAL position to
    round-trip a key through verbatim)."""
    img = F.struct(
        F.col("url"),
        F.date_format(F.col("warc_ts").cast("timestamp"),
                      "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("warc_ts"),
        F.col("html"),
        F.col("lang"),
        *[F.col(c) for c in (extra_cols or [])])
    ms = (F.unix_micros(F.col("warc_ts").cast("timestamp")) / 1000
          ).cast("long")
    env = F.struct(
        F.col("event_seq").alias("id"),
        F.lit(database).alias("database"),
        F.lit(table).alias("table"),
        F.array(F.lit("url")).alias("pkNames"),
        F.lit(False).alias("isDdl"),
        F.when(F.col("op") == "insert", F.lit("INSERT"))
         .when(F.col("op") == "update", F.lit("UPDATE"))
         .when(F.col("op") == "delete", F.lit("DELETE")).alias("type"),
        ms.alias("es"),
        ms.alias("ts"),
        F.array(img).alias("data"))
    return events.select(F.to_json(env).alias("value"))


# envelope dialect -> (parse_fn, to_fn): the inbound parser (envelope
# strings in column ``value`` -> change events) and its outbound inverse
DIALECTS = {
    "debezium": (parse_debezium, to_debezium),
    "maxwell": (parse_maxwell, to_maxwell),
    "canal": (parse_canal, to_canal),
}


def dialect_codec(name: str):
    """``(parse_fn, to_fn)`` of the envelope dialect ``name``."""
    try:
        return DIALECTS[name]
    except KeyError:
        raise ValueError(f"unknown dialect: {name!r} "
                         f"({' | '.join(DIALECTS)})") from None


def publish_changes(spark: SparkSession, src_table: str, out_dir: str,
                    checkpoint_dir: str, dialect: str = "debezium") -> None:
    """Publish a lake table's change-data-feed as envelopes of
    ``dialect`` (Debezium by default) — the outbound half of the
    dialect: this engine as the CDC *producer* a downstream consumer
    speaking that dialect (another instance of this engine included)
    can tail.

    Wiring: the ``tinyetl_cdf`` streaming source tails the table's
    commits with checkpointed snapshot-version offsets; change rows map
    onto the event shape (delete → delete, everything else → update —
    a binlog-out cannot distinguish create from update and does not
    need to: LWW apply is the consumer contract either way) and land as
    json-lines segments through Spark's file sink, whose _spark_metadata
    manifest commits files atomically per batch — a crashed invocation
    re-emits its uncommitted batch, and any manifest-respecting reader
    (Spark's batch or streaming text source — stream_envelopes
    included) sees each
    change exactly once. The image carries the EVENT columns (url,
    warc_ts, html, lang); derived text is the consumer's to re-extract,
    same as the inbound path.

    End-to-end: publish_changes → stream_envelopes → merge_apply is a
    mirror over the wire dialect — reconverges to the source state by
    the same LWW idempotency as replicate() (which chains the engines
    directly, without the serialization)."""
    from tinyetl_spark.streaming.cdf_source import stream_change_events
    _, to_fn = dialect_codec(dialect)
    events = stream_change_events(spark, src_table).select(
        "event_seq", "url", "warc_ts", "op", "html", "lang")
    (to_fn(events).writeStream.format("text").option("path", out_dir)
     .option("checkpointLocation", checkpoint_dir)
     .trigger(availableNow=True).start().awaitTermination())


def stream_envelopes(spark: SparkSession, dir_path: str, dialect: str,
                     max_files_per_trigger: int | None = None,
                     drop_invalid: bool = True,
                     raw_col: str | None = None) -> DataFrame:
    """Streaming tail of a json-lines landing zone of ``dialect``
    envelopes with checkpointed file-source offsets — drop-in for
    eventlog.stream_event_log when the agent ships envelopes instead of
    parquet. Same offsets/replay semantics (the file source checkpoints
    which segments belong to each batch). ``drop_invalid=False`` +
    ``raw_col`` feed garbage envelopes to the pipeline's quarantine
    instead of dropping them (see parse_debezium)."""
    parse_fn, _ = dialect_codec(dialect)
    reader = spark.readStream
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return parse_fn(reader.text(dir_path), "value",
                    drop_invalid=drop_invalid, raw_col=raw_col)
