#!/bin/bash
# The engine speaking the ecosystem's CDC dialect, both directions:
# (1) inbound — a Debezium json-lines landing zone streams through
# parse_debezium into the fenced LWW MERGE; (2) outbound — the table's
# change feed publishes back out as Debezium envelopes; (3) a mirror
# built ONLY from the published envelopes equals the source table.
source "$(dirname "$0")/../_common.sh"

python - <<'EOF'
import pyspark.sql.functions as F
from pyspark.sql import Window
from tinyetl_spark import datagen
from tinyetl_spark.lake import LakeTable
from tinyetl_spark.lake.merge import merge_apply
from tinyetl_spark.schema import PAGES_SCHEMA
from tinyetl_spark.sources.debezium import (parse_debezium,
                                            publish_changes,
                                            stream_envelopes, to_debezium)
from tinyetl_spark.session import get_spark

spark = get_spark(cores=4)
spark.sparkContext.setLogLevel("ERROR")

# a Debezium agent's landing zone: change events as JSON envelopes
ev = datagen.change_events(spark, 3000, 400, seed=20)
to_debezium(ev).repartition(4).write.mode("overwrite").text("landing")

# inbound: envelope tail -> fenced MERGE
src = LakeTable.create(spark, "lake/src", PAGES_SCHEMA,
                       key_col="url", num_buckets=8)
(stream_envelopes(spark, "landing", "debezium")
 .writeStream
 .foreachBatch(lambda b, i: merge_apply(src, b, i, stream_id="in"))
 .option("checkpointLocation", "ck_in")
 .trigger(availableNow=True).start().awaitTermination())

w = Window.partitionBy("url").orderBy(F.desc("warc_ts"), F.desc("event_seq"))
oracle = (ev.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1 and op <> 'delete'").select("url", "event_seq"))
got = src.read().select("url", "event_seq")
assert got.exceptAll(oracle).count() == 0
assert oracle.exceptAll(got).count() == 0
print("inbound converged:", got.count(), "urls")

# outbound: change feed -> Debezium envelopes (exactly-once file sink)
publish_changes(spark, "lake/src", "feed", "ck_out")

# a second engine instance mirrors the source from the wire format only
dst = LakeTable.create(spark, "lake/dst", PAGES_SCHEMA,
                       key_col="url", num_buckets=8)
merge_apply(dst, parse_debezium(spark.read.text("feed")), 0,
            stream_id="mirror")
a = src.read().select("url", "event_seq", "text").orderBy("url")
b = dst.read().select("url", "event_seq", "text").orderBy("url")
assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
print("mirror over the wire dialect converged:", b.count(), "urls")
EOF
echo "=== 20_debezium_dialect PASSED ==="
