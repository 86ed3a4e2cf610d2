#!/bin/bash
# The BATCHED binlog-JSON dialect (Alibaba Canal flatMessage): (1)
# inbound — a Canal landing zone (row-image ARRAYS per envelope,
# UPPERCASE ops) streams through parse_canal's posexplode into the
# fenced LWW MERGE, ordering keys carried by the documented monotone
# embedding id*4096+pos; (2) outbound — the table's change feed
# publishes back out as Canal envelopes and a mirror built only from
# the wire format reconverges (modulo one more key embedding).
source "$(dirname "$0")/../_common.sh"

python - <<'EOF'
import json

import pyspark.sql.functions as F
from pyspark.sql import Window
from tinyetl_spark import datagen
from tinyetl_spark.lake import LakeTable
from tinyetl_spark.lake.merge import merge_apply
from tinyetl_spark.schema import PAGES_SCHEMA
from tinyetl_spark.sources.debezium import (parse_canal, publish_changes,
                                            stream_envelopes, to_canal)
from tinyetl_spark.session import get_spark

spark = get_spark(cores=4)
spark.sparkContext.setLogLevel("ERROR")

# a Canal tailer's landing zone: change events as flatMessage JSON —
# plus protocol rows (a DDL statement) the parser must drop silently
ev = datagen.change_events(spark, 3000, 400, seed=21)
to_canal(ev).repartition(4).write.mode("overwrite").text("landing")
ddl = json.dumps({"id": 0, "database": "crawl", "table": "pages",
                  "isDdl": True, "type": "ALTER", "es": 1, "ts": 1,
                  "sql": "ALTER TABLE pages ADD COLUMN x INT"})
spark.createDataFrame([(ddl,)], "value string") \
     .write.mode("append").text("landing")

# inbound: batched-envelope tail -> fenced MERGE
src = LakeTable.create(spark, "lake/src", PAGES_SCHEMA,
                       key_col="url", num_buckets=8)
(stream_envelopes(spark, "landing", "canal")
 .writeStream
 .foreachBatch(lambda b, i: merge_apply(src, b, i, stream_id="in"))
 .option("checkpointLocation", "ck_in")
 .trigger(availableNow=True).start().awaitTermination())

# LWW oracle over the embedded keys: the embedding is monotone, so the
# winners are the same rows, with event_seq scaled by 4096
w = Window.partitionBy("url").orderBy(F.desc("warc_ts"), F.desc("event_seq"))
oracle = (ev.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1 and op <> 'delete'")
            .select("url", (F.col("event_seq") * 4096).alias("event_seq")))
got = src.read().select("url", "event_seq")
assert got.exceptAll(oracle).count() == 0
assert oracle.exceptAll(got).count() == 0
print("inbound converged:", got.count(), "urls")

# outbound: change feed -> Canal envelopes (exactly-once file sink)
publish_changes(spark, "lake/src", "feed", "ck_out", dialect="canal")

# a second engine instance mirrors the source from the wire format
# only; the republish embeds the key once more (src seq -> seq*4096)
dst = LakeTable.create(spark, "lake/dst", PAGES_SCHEMA,
                       key_col="url", num_buckets=8)
merge_apply(dst, parse_canal(spark.read.text("feed")), 0,
            stream_id="mirror")
a = src.read().select("url", "event_seq", "text").orderBy("url")
b = dst.read().select(
    "url", (F.col("event_seq") / 4096).cast("long").alias("event_seq"),
    "text").orderBy("url")
assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
print("mirror over the wire dialect converged:", b.count(), "urls")
EOF
echo "=== 21_canal_dialect PASSED ==="
