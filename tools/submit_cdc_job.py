#!/usr/bin/env python3
"""CDC ingest job for `spark-submit --py-files dist/tinyetl_spark.zip`.

The deployable form of the engine's flagship pipeline (north rule: "run
via spark-submit --py-files on a multi-executor cluster"): tail a CDC
event log -> LWW dedup -> vectorized text extract -> epoch-fenced MERGE
into the lake table, exactly the code path bench.py measures, but driven
through a real submitted driver so the master (local-cluster[N,C,M],
yarn, k8s, ...) comes from the submit command, the engine package
travels as a --py-files zip, and every executor's python workers import
it off the distributed archive.

    spark-submit --master 'local-cluster[2,2,2048]' \
        --py-files dist/tinyetl_spark.zip \
        tools/submit_cdc_job.py --gen-events 400000 --work /tmp/w

Prints ONE JSON line: events applied, wall seconds, events/sec,
final table rows, micro-batches, each batch's merge segment profile,
executor count, default parallelism.
With --log the job replays a pre-generated log (the bench protocol's
deterministic one) instead of generating its own.

``events_per_sec`` uses the SAME definition as the primary protocol
(bench.py `_cdc_round`): SUSTAINED rate = events over
``PipelineRun.busy_seconds()``, the sum of per-batch
``triggerExecution`` durations — every batch's full cost
(incremental planning, dedup+extract+MERGE job, offset/commit
bookkeeping) counts; the one-time stream init/teardown of this replay
harness does not, because a production stream pays it once per deploy,
not per batch. Whole-wall rate stays visible as ``events_per_sec_wall``.
Applied symmetrically at every level, so the N vs 4N comparison is
apples-to-apples with BENCH/history.jsonl.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time


def _executor_count(spark) -> int:
    """Number of executor JVMs (driver excluded on cluster masters)."""
    try:
        infos = spark._jsc.sc().statusTracker().getExecutorInfos()
        hosts = [i.host() for i in infos]
        return max(len(hosts) - 1, 1) if len(hosts) > 1 else 1
    except Exception:
        return 1


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--log", help="pre-generated event log dir (parquet)")
    ap.add_argument("--work", required=True,
                    help="work dir for table + checkpoint (cleared)")
    ap.add_argument("--gen-events", type=int, default=400_000,
                    help="events to generate when --log is absent")
    ap.add_argument("--gen-urls", type=int, default=0,
                    help="distinct urls (default events/20)")
    ap.add_argument("--num-buckets", type=int, default=64,
                    help="target-table bucket count. Sized by the engine's "
                         "own rows-per-bucket rule (lake/merge.py MOR slots "
                         "target ~250k winner rows per sort task; "
                         "auto_rescale doubles buckets when they overfill): "
                         "a 16M-event micro-batch over 32 buckets forces "
                         "~500k-event sorts per task, which spill through a "
                         "2 GB executor; 64 keeps per-task sort state within "
                         "execution memory. File layout stays a function of "
                         "the data (64 buckets for ~760k final rows), never "
                         "of the cluster size")
    ap.add_argument("--max-files-per-trigger", type=int, default=128,
                    help="segments per micro-batch. Default = one 16M-event "
                         "batch over the bench log: a production 10^10-event "
                         "stream runs ~10^8-event micro-batches, so LARGE "
                         "batches are the realistic shape (same argument as "
                         "bench.py run_cdc_ingest), and the per-batch serial "
                         "floor (trigger planning + offset/commit bookkeeping "
                         "+ foreachBatch driver work, ~2-3 s on a multi-"
                         "executor master) amortizes over 2x the events")
    ap.add_argument("--keep-work", action="store_true")
    ap.add_argument("--warmup", action="store_true",
                    help="run a small end-to-end pipeline first so the "
                         "measured window excludes cluster startup costs "
                         "(python worker pools, codegen, offset-log init)")
    args = ap.parse_args()

    from tinyetl_spark.lake import LakeTable
    from tinyetl_spark.schema import PAGES_SCHEMA
    from tinyetl_spark.session import get_spark
    from tinyetl_spark.sources.eventlog import append_events
    from tinyetl_spark.streaming.pipeline import (run_pipeline,
                                                  run_to_completion)

    # Config parity with the primary protocol's _cdc_session (bench.py),
    # applied SYMMETRICALLY at every level so the N vs 4N ratio stays
    # honest — these are the same knobs a real deployment sets, sized to
    # its own hardware:
    # - spark.local.dir: shuffle/spill on the fast local medium. This
    #   host's /tmp is a virtual disk whose writeback contends across
    #   concurrent writers (see BENCH/BASELINE.md history); a real
    #   cluster points this at local NVMe. Overridable via
    #   SPARK_GRAFT_LOCAL_DIR; falls back to Spark's default when no
    #   fast tmp exists.
    # - spark.sql.files.maxPartitionBytes: 1 log segment (~11 MB) = 1
    #   scan split, so scan tasks pack into even waves at any core count
    #   instead of 128 MB splits leaving idle cores behind one straggler
    #   (same knob, same value and same reasoning as the primary
    #   protocol; on a real cluster it is sized to the agent's segment
    #   roll size). Overridable via SPARK_GRAFT_MAX_PARTITION_BYTES.
    # - executor JVMs pre-touch their (protocol-fixed) heap at startup:
    #   this host's worst pathology is hypervisor first-touch page
    #   provisioning collapsing ~1000x, and lazy heap growth would pay
    #   it INSIDE the measured window (the driver-side equivalent has
    #   been in _cdc_session since round 4).
    extra = {}
    fast_tmp = os.environ.get(
        "SPARK_GRAFT_LOCAL_DIR",
        "/dev/shm/spark-local-submit" if os.path.isdir("/dev/shm") else "")
    if fast_tmp:
        extra["spark.local.dir"] = fast_tmp
    extra["spark.sql.files.maxPartitionBytes"] = os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", str(16 * 1024 * 1024))
    # local-cluster[N,C,M] allocates M MB to each WORKER, but the
    # executor JVM inside it still launches with the spark.executor.memory
    # DEFAULT of 1g (verified in the worker launch command: -Xmx1024M) —
    # half the protocol's per-executor allotment was never reaching the
    # executor heap, and the reduce stage spilled ~900 MB/batch through
    # a 1 GB heap as a result. Claim the full allotment explicitly; the
    # pre-touch Xms MUST match it (Xms > Xmx aborts the executor and the
    # worker relaunches it forever).
    # Default = the WORKER's own allotment parsed from a
    # local-cluster[N,C,M] master (claim the full per-executor budget —
    # the whole point of the round-6 fix; a worker cannot launch an
    # executor asking for more than M, so the claim must match M).
    # Fallback 3072 MB elsewhere: profiled at both levels in one clean
    # host window — the batch's ~250k-row sort tasks are marginal in a
    # 2 GB heap (0-18 MB spill, reduce-stage GC 5.4 s) and clean in 3 GB
    # (spill 0, GC 2.1 s, reduce task-seconds 143->130, +4% events/s at
    # n4, +3.5% at n1). Sized to the TASK (guide §5), applied
    # symmetrically at every level; SPARK_GRAFT_SUBMIT_MEM overrides.
    import re as _re
    _mm = _re.match(r"local-cluster\[\s*\d+\s*,\s*\d+\s*,\s*(\d+)\s*\]",
                    os.environ.get("MASTER", ""))  # exported by spark-submit
    exec_mem = os.environ.get("SPARK_GRAFT_SUBMIT_MEM",
                              _mm.group(1) if _mm else "3072")
    extra["spark.executor.memory"] = f"{exec_mem}m"
    extra["spark.executor.extraJavaOptions"] = (
        f"-Xms{exec_mem}m -XX:+AlwaysPreTouch")
    # This job's tasks hold large sort/window buffers and almost no user
    # memory, so give the unified pool a bigger share (guide §5): at the
    # default 0.6 the reduce stage still spilled 250-400 MB/batch through
    # a 2 GB executor; at 0.75 spill measures ~0 (profile_submit runs).
    extra["spark.memory.fraction"] = os.environ.get(
        "SPARK_GRAFT_MEMORY_FRACTION", "0.75")
    # multi-executor levels fetch ~3/4 of the shuffle remotely; double
    # the in-flight fetch window so the reduce stage streams instead of
    # round-tripping (guide §2.2; no-op for the single-executor level,
    # which reads its shuffle locally)
    extra["spark.reducer.maxSizeInFlight"] = "96m"
    spark = get_spark(app_name="tinyetl-cdc-submit", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")

    work = args.work
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work, exist_ok=True)
    log_dir = args.log
    if not log_dir:
        from tinyetl_spark import datagen
        n = args.gen_events
        ev = datagen.change_events(
            spark, n, args.gen_urls or max(n // 20, 100), seed=42,
            hot_fraction=0.05,
            num_partitions=max(spark.sparkContext.defaultParallelism, 8))
        log_dir = f"{work}/log"
        append_events(ev, log_dir, segment_partitions=32)

    if args.warmup:
        from tinyetl_spark import datagen
        wdir = f"{work}/warm"
        wev = datagen.change_events(
            spark, 50_000, 5_000, seed=7,
            num_partitions=max(spark.sparkContext.defaultParallelism, 8))
        append_events(wev, f"{wdir}/log", segment_partitions=8)
        LakeTable.create(spark, f"{wdir}/table", PAGES_SCHEMA,
                         key_col="url", num_buckets=args.num_buckets)
        run_to_completion(spark, f"{wdir}/log", f"{wdir}/table",
                          f"{wdir}/ckpt", max_files_per_trigger=4,
                          query_name="warmup")
        shutil.rmtree(wdir, ignore_errors=True)

    LakeTable.create(spark, f"{work}/table", PAGES_SCHEMA,
                     key_col="url", num_buckets=args.num_buckets)
    t0 = time.time()
    run = run_pipeline(
        spark, log_dir, f"{work}/table", f"{work}/ckpt",
        max_files_per_trigger=args.max_files_per_trigger,
        query_name="tinyetl-cdc-submit")
    run.await_termination()
    stats = run.stats
    elapsed = time.time() - t0
    total = sum(s.events_in for s in stats)
    # sustained window: PipelineRun.busy_seconds (see module docstring)
    # — the same definition as bench.py's primary protocol
    busy_s = run.busy_seconds() or elapsed
    final_rows = LakeTable(spark, f"{work}/table").read().count()
    out = {
        "events": total,
        "seconds": round(elapsed, 2),
        "seconds_busy": round(busy_s, 2),
        "events_per_sec": round(total / busy_s, 1) if busy_s else None,
        "events_per_sec_wall": round(total / elapsed, 1) if elapsed else None,
        "final_rows": final_rows,
        "batches": len(stats),
        "merge_profiles": [s.profile for s in stats],
        "executors": _executor_count(spark),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
    }
    spark.stop()
    if not args.keep_work:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    sys.exit(main())
