"""Traced runs: spans recorded around the engine's public calls, Spark's
own job and stage records, and the per-layer table built from both.

Spans are kept in memory and written to one JSON file when the run ends.
They come from wrappers installed only for a traced run (the untraced run
that yields the end-to-end metrics calls the engine unwrapped):

- ``streaming.pipeline``: the function handed to ``foreachBatch`` (one
  span per micro-batch, batch id from its argument);
- ``lake.merge``: ``tinyetl_spark.streaming.pipeline.merge_apply``;
- ``lake.table``: ``LakeTable.commit``, ``snapshot``, ``compact_deltas``
  and ``expire_snapshots``;
- reads: the benchmark's own lookup and scan calls.

Job and stage metrics come from the in-process status store
(``sc._jsc.sc().statusStore()``), read once after the measured window and
attributed to a span by job submission time: the loop is closed, so no
two spans of one thread overlap in time.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from perfbench.harness import median


class Tracer:
    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[dict] = []
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str, batch: int | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if batch is None and parent is not None:
            batch = self.spans[parent]["batch"]
        rec = {"name": name, "layer": layer, "start": time.time(),
               "end": None, "parent": parent, "workload": self.workload,
               "batch": batch}
        self.spans.append(rec)
        stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    # ---------------------------------------------------------- wrappers
    def _patch(self, owner, attr, wrapper):
        self._restore.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        import tinyetl_spark.streaming.pipeline as pipeline
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from tinyetl_spark.lake.table import LakeTable
        tracer = self

        orig_fb = DataStreamWriter.foreachBatch

        def foreach_batch(writer, func):
            def traced(batch_df, batch_id):
                with tracer.span("foreach_batch", "streaming.pipeline",
                                 batch=int(batch_id)):
                    return func(batch_df, batch_id)
            return orig_fb(writer, traced)
        self._patch(DataStreamWriter, "foreachBatch", foreach_batch)

        orig_merge = pipeline.merge_apply

        def merge_apply(table, batch, batch_id, *a, **kw):
            with tracer.span("merge_apply", "lake.merge",
                             batch=int(batch_id)) as rec:
                stats = orig_merge(table, batch, batch_id, *a, **kw)
                rec["stats"] = stats.to_dict()
            rec["delta_debt"] = _delta_debt(table.meta_dir)
            return stats
        self._patch(pipeline, "merge_apply", merge_apply)

        for name in ("commit", "snapshot", "compact_deltas",
                     "expire_snapshots"):
            orig = LakeTable.__dict__[name]

            def wrapped(self_, *a, _orig=orig, _name=name, **kw):
                with tracer.span(_name, "lake.table") as rec:
                    if _name == "commit":
                        rec["rows_written"] = sum(
                            int(x.get("rows") or 0)
                            for x in kw.get("lineage") or [])
                        rec["operation"] = (kw.get("summary") or {}).get(
                            "operation")
                    return _orig(self_, *a, **kw)
            self._patch(LakeTable, name, wrapped)

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str, report: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "spans": self.spans,
                       "report": report}, f, indent=1, default=str)


def _delta_debt(meta_dir: str) -> int:
    """Delta files in the current manifest, read from disk directly so the
    count adds no ``LakeTable.snapshot`` call to the trace."""
    with open(os.path.join(meta_dir, "VERSION")) as f:
        v = f.read().strip()
    with open(os.path.join(meta_dir, f"v{v}.json")) as f:
        snap = json.load(f)
    return sum(1 for x in snap["files"] if x.get("delta"))


# ------------------------------------------------------------ status store
def _opt_ms(opt):
    return opt.get().getTime() if opt.isDefined() else None


def read_status_store(spark) -> tuple[list[dict], dict[int, dict]]:
    """All jobs and stages the context still retains."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jobs_seq = store.jobsList(jvm.java.util.ArrayList())
    jobs = []
    for i in range(jobs_seq.size()):
        j = jobs_seq.apply(i)
        sids = j.stageIds()
        jobs.append({"id": j.jobId(), "name": j.name(),
                     "submit": _opt_ms(j.submissionTime()),
                     "end": _opt_ms(j.completionTime()),
                     "stages": [sids.apply(k) for k in range(sids.size())]})
    stage_seq = store.stageList(jvm.java.util.ArrayList(), False, False,
                                sc._gateway.new_array(jvm.double, 0),
                                jvm.java.util.ArrayList())
    stages = {}
    for i in range(stage_seq.size()):
        s = stage_seq.apply(i)
        sub, end = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
        if sub is None or end is None:
            continue            # skipped or still running
        stages[s.stageId()] = {
            "tasks": s.numTasks(), "wall_ms": end - sub,
            "run_ms": s.executorRunTime(),
            "cpu_ms": s.executorCpuTime() / 1e6,
            "gc_ms": s.jvmGcTime(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "input_bytes": s.inputBytes(),
            "shuffle_read": s.shuffleReadBytes(),
            "shuffle_write": s.shuffleWriteBytes()}
    return jobs, stages


def _jobs_in(span: dict, jobs: list[dict]) -> list[dict]:
    lo, hi = span["start"] * 1000 - 1, span["end"] * 1000 + 1
    return [j for j in jobs if j["submit"] is not None
            and lo <= j["submit"] <= hi]


def _covered_ms(span: dict, jobs: list[dict]) -> float:
    """Part of the span's interval that its jobs' run intervals cover."""
    lo, hi = span["start"] * 1000, span["end"] * 1000
    ivs = sorted((max(j["submit"], lo), min(j["end"] or hi, hi))
                 for j in jobs)
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return covered


def _self_s(spans: list[dict], i: int) -> float:
    s = spans[i]
    kids = sum(c["end"] - c["start"] for c in spans if c["parent"] == i)
    return (s["end"] - s["start"]) - kids


# ------------------------------------------------------------- the report
def layer_report(tracer: Tracer, spark, batches: list[dict], n_cores: int,
                 read_spans: dict[str, list[dict]], table_info: dict,
                 extract_us_per_row: float) -> tuple[dict, list[dict]]:
    """Per-layer metrics (name -> value) and one row per micro-batch.

    ``batches`` rows carry the streaming progress of each batch:
    batch, rows, trigger_ms, add_batch_ms, latest_offset_ms, get_batch_ms.
    """
    jobs, stages = read_status_store(spark)
    spans = tracer.spans
    by_batch: dict[int, dict[str, list[int]]] = {}
    for i, s in enumerate(spans):
        if s["batch"] is not None:
            by_batch.setdefault(s["batch"], {}).setdefault(
                s["name"], []).append(i)

    rows = []
    for b in batches:
        idx = by_batch.get(b["batch"], {})
        merge_i = idx["merge_apply"][0]
        merge = spans[merge_i]
        stats = merge["stats"]
        mjobs = _jobs_in(merge, jobs)
        mstages = [stages[sid] for j in mjobs for sid in j["stages"]
                   if sid in stages]
        mapst = [s for s in mstages if s["shuffle_write"] > 0]
        red = [s for s in mstages if s["shuffle_read"] > 0]
        fb = spans[idx["foreach_batch"][0]]
        table_self = sum(_self_s(spans, i) for n in ("commit", "snapshot",
                         "compact_deltas", "expire_snapshots")
                         for i in idx.get(n, []))
        maint = sum(spans[i]["end"] - spans[i]["start"]
                    for n in ("compact_deltas", "expire_snapshots")
                    for i in idx.get(n, []))
        wall = b["trigger_ms"] / 1000.0
        eventlog = (b["latest_offset_ms"] + b["get_batch_ms"]) / 1000.0
        merge_self = _self_s(spans, merge_i)
        red_run = sum(s["run_ms"] for s in red)
        commit_ms = [(spans[i]["end"] - spans[i]["start"]) * 1000
                     for i in idx.get("commit", [])
                     if spans[i].get("operation") == "merge"]
        rows.append({
            "batch": b["batch"], "events": stats["events_in"],
            "strategy": stats["strategy"], "wall_s": wall,
            "self_s": {"sources.eventlog": eventlog,
                       "lake.merge": merge_self,
                       "lake.table": table_self,
                       "streaming.pipeline":
                           wall - eventlog - merge_self - table_self},
            "foreach_batch_s": fb["end"] - fb["start"],
            "merge_apply_s": merge["end"] - merge["start"],
            "merge_driver_s": (merge["end"] - merge["start"])
                              - _covered_ms(merge, mjobs) / 1000.0,
            "merge_job_count": len(mjobs),
            "merge_jobs": [{"id": j["id"], "name": j["name"],
                            "stages": j["stages"]} for j in mjobs],
            "map_stage_s": sum(s["wall_ms"] for s in mapst) / 1000.0,
            "reduce_stage_s": sum(s["wall_ms"] for s in red) / 1000.0,
            "reduce_tasks": sum(s["tasks"] for s in red),
            "reduce_run_s": red_run / 1000.0,
            "reduce_cpu_s": sum(s["cpu_ms"] for s in red) / 1000.0,
            "reduce_core_util": (red_run / (n_cores * sum(
                s["wall_ms"] for s in red))) if red else 0.0,
            "shuffle_bytes": sum(s["shuffle_write"] for s in mstages),
            "spill_bytes": sum(s["spill_bytes"] for s in mstages),
            "gc_s": sum(s["gc_ms"] for s in mstages) / 1000.0,
            "cpu_s": sum(s["cpu_ms"] for s in mstages) / 1000.0,
            "maintenance_s": maint,
            "commit_ms": commit_ms[0] if commit_ms else 0.0,
            "snapshot_reads": len(idx.get("snapshot", [])),
            "rows_written": sum(spans[i].get("rows_written", 0)
                                for i in idx.get("commit", [])
                                if spans[i].get("operation") == "merge"),
            "delta_debt": merge["delta_debt"],
            "rows_in": b["rows"], "latest_offset_ms": b["latest_offset_ms"],
            "overhead_ms": b["trigger_ms"] - b["add_batch_ms"],
            "upserts": stats["upserts"], "deletes": stats["deletes"],
            "dedup_drops": stats["dedup_drops"],
        })

    events = sum(r["events"] for r in rows) or 1
    applied = sum(r["upserts"] + r["deletes"] for r in rows) or 1
    wall_sum = sum(r["wall_s"] for r in rows) or 1.0
    red_run_sum = sum(r["reduce_run_s"] for r in rows)
    extract_rows = sum(r["upserts"] for r in rows)
    m = {
        "eventlog.latest_offset_ms": median(r["latest_offset_ms"] for r in rows),
        "eventlog.rows_per_batch": median(r["rows_in"] for r in rows),
        "pipeline.trigger_overhead_ms": median(r["overhead_ms"] for r in rows),
        "pipeline.maintenance_s": sum(r["maintenance_s"] for r in rows),
        "merge.apply_s": median(r["merge_apply_s"] for r in rows),
        "merge.driver_s": median(r["merge_driver_s"] for r in rows),
        "merge.jobs_per_batch": median(r["merge_job_count"] for r in rows),
        "merge.map_stage_s": median(r["map_stage_s"] for r in rows),
        "merge.shuffle_bytes_per_event":
            sum(r["shuffle_bytes"] for r in rows) / events,
        "merge.spill_bytes": sum(r["spill_bytes"] for r in rows),
        "merge.gc_s": sum(r["gc_s"] for r in rows),
        "merge.cpu_us_per_event": sum(r["cpu_s"] for r in rows) * 1e6 / events,
        "merge.reduce_stage_s": median(r["reduce_stage_s"] for r in rows),
        "merge.reduce_tasks": median(r["reduce_tasks"] for r in rows),
        "merge.reduce_core_util": median(r["reduce_core_util"] for r in rows),
        "merge.reduce_nonjvm_share":
            (red_run_sum - sum(r["reduce_cpu_s"] for r in rows))
            / red_run_sum if red_run_sum else 0.0,
        "merge.cow_batches": sum(r["strategy"] == "cow" for r in rows),
        "merge.mor_batches": sum(r["strategy"] == "mor" for r in rows),
        "merge.write_amplification":
            sum(r["rows_written"] for r in rows) / applied,
        "merge.dedup_drop_ratio": sum(r["dedup_drops"] for r in rows) / events,
        "extract.us_per_row": extract_us_per_row,
        "extract.rows": extract_rows,
        # base: executor run time of the merge reduce stages, where the
        # Python pass runs
        "extract.est_share": (extract_us_per_row * extract_rows
                              / (red_run_sum * 1e6)) if red_run_sum else 0.0,
        "table.commit_ms": median(r["commit_ms"] for r in rows),
        "table.snapshot_reads_per_batch":
            median(r["snapshot_reads"] for r in rows),
        "table.manifest_bytes": table_info["manifest_bytes"],
        "table.compact_deltas_s": sum(
            spans[i]["end"] - spans[i]["start"]
            for i, s in enumerate(spans) if s["name"] == "compact_deltas"),
        "table.expire_s": sum(
            spans[i]["end"] - spans[i]["start"]
            for i, s in enumerate(spans) if s["name"] == "expire_snapshots"),
        "table.delta_debt_max": max(r["delta_debt"] for r in rows),
    }
    for layer, short in (("sources.eventlog", "eventlog"),
                         ("streaming.pipeline", "pipeline"),
                         ("lake.merge", "merge"), ("lake.table", "table")):
        tot = sum(r["self_s"][layer] for r in rows)
        m[f"{short}.self_share"] = tot / wall_sum
        m[f"{short}.self_us_per_event"] = tot * 1e6 / events

    def read_jobs(kind):
        out = []
        for s in read_spans[kind]:
            js = _jobs_in(s, jobs)
            out.append((len(js), sum(stages[sid]["input_bytes"]
                                     for j in js for sid in j["stages"]
                                     if sid in stages)))
        return out
    lk, sc_ = read_jobs("lookup"), read_jobs("scan")
    m["table.lookup_jobs"] = median(n for n, _ in lk)
    m["table.lookup_input_bytes"] = median(b for _, b in lk)
    m["table.scan_input_bytes"] = median(b for _, b in sc_)
    m["table.scan_files"] = table_info["files"]
    m["table.bytes_per_live_row"] = table_info["bytes_per_live_row"]
    return m, rows


UNITS = {
    "host.probe_s": "s",
    "trace.run_wall_s": "s",
    "eventlog.latest_offset_ms": "ms",
    "eventlog.rows_per_batch": "rows",
    "eventlog.self_share": "ratio",
    "eventlog.self_us_per_event": "us/event",
    "pipeline.trigger_overhead_ms": "ms",
    "pipeline.maintenance_s": "s",
    "pipeline.self_share": "ratio",
    "pipeline.self_us_per_event": "us/event",
    "merge.apply_s": "s",
    "merge.driver_s": "s",
    "merge.jobs_per_batch": "count",
    "merge.map_stage_s": "s",
    "merge.shuffle_bytes_per_event": "bytes/event",
    "merge.spill_bytes": "bytes",
    "merge.gc_s": "s",
    "merge.cpu_us_per_event": "us/event",
    "merge.reduce_stage_s": "s",
    "merge.reduce_tasks": "count",
    "merge.reduce_core_util": "ratio",
    "merge.reduce_nonjvm_share": "ratio",
    "merge.cow_batches": "count",
    "merge.mor_batches": "count",
    "merge.write_amplification": "rows/event",
    "merge.dedup_drop_ratio": "ratio",
    "merge.self_share": "ratio",
    "merge.self_us_per_event": "us/event",
    "extract.us_per_row": "us/row",
    "extract.rows": "count",
    "extract.est_share": "ratio",
    "table.commit_ms": "ms",
    "table.snapshot_reads_per_batch": "count",
    "table.manifest_bytes": "bytes",
    "table.compact_deltas_s": "s",
    "table.expire_s": "s",
    "table.delta_debt_max": "count",
    "table.lookup_jobs": "count",
    "table.lookup_input_bytes": "bytes",
    "table.scan_input_bytes": "bytes",
    "table.scan_files": "count",
    "table.bytes_per_live_row": "bytes/row",
    "table.self_share": "ratio",
    "table.self_us_per_event": "us/event",
}
