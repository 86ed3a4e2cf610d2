#!/usr/bin/env python3
"""Profile one submit-protocol round (local-cluster[N,2,2048]) with the
Spark event log enabled, then summarize where the core-seconds went:
per-stage task time, fetch wait, shuffle bytes, GC, task-time skew.

Usage:
    python tools/profile_submit.py --execs 4 [--conf k=v ...] [--keep]

Writes nothing to BENCH/ — this is a diagnosis tool (guide §1/§7), not a
protocol run. Prints the job JSON line plus a stage table.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
import bench  # noqa: E402


def summarize(evlog_dir: str) -> None:
    files = []
    for root, _dirs, fns in os.walk(evlog_dir):
        for fn in fns:
            if fn.startswith(".") or "appstatus" in fn or fn.endswith(".zstd"):
                continue
            files.append(os.path.join(root, fn))
    stages: dict[tuple, dict] = defaultdict(lambda: {
        "tasks": 0, "task_ms": 0, "gc_ms": 0, "fetch_wait_ms": 0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
        "input_mb": 0.0, "max_task_ms": 0, "name": "", "submit": None,
        "complete": None, "ser_ms": 0, "deser_ms": 0,
        "sched_delay_ms": 0, "task_times": []})
    for path in files:
        with open(path) as f:
            for ln in f:
                try:
                    ev = json.loads(ln)
                except ValueError:
                    continue
                et = ev.get("Event")
                if et == "SparkListenerStageSubmitted":
                    si = ev["Stage Info"]
                    key = (si["Stage ID"], si["Stage Attempt ID"])
                    stages[key]["name"] = si.get("Stage Name", "")[:60]
                    stages[key]["submit"] = si.get("Submission Time")
                elif et == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    key = (si["Stage ID"], si["Stage Attempt ID"])
                    stages[key]["name"] = si.get("Stage Name", "")[:60]
                    stages[key]["submit"] = si.get("Submission Time")
                    stages[key]["complete"] = si.get("Completion Time")
                elif et == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    s = stages[key]
                    tm = ev.get("Task Metrics") or {}
                    ti = ev.get("Task Info") or {}
                    run_ms = (tm.get("Executor Run Time") or 0)
                    s["tasks"] += 1
                    s["task_ms"] += run_ms
                    s["task_times"].append(run_ms)
                    s["max_task_ms"] = max(s["max_task_ms"], run_ms)
                    s["gc_ms"] += tm.get("JVM GC Time") or 0
                    s["ser_ms"] += tm.get("Result Serialization Time") or 0
                    s["deser_ms"] += tm.get("Executor Deserialize Time") or 0
                    launch, finish = ti.get("Launch Time"), ti.get("Finish Time")
                    if launch and finish:
                        s["sched_delay_ms"] += max(
                            0, (finish - launch) - run_ms
                            - (tm.get("Executor Deserialize Time") or 0)
                            - (tm.get("Result Serialization Time") or 0))
                    s["spill_mb"] = s.get("spill_mb", 0) + (
                        tm.get("Disk Bytes Spilled") or 0) / 1e6
                    srm = tm.get("Shuffle Read Metrics") or {}
                    s["fetch_wait_ms"] += srm.get("Fetch Wait Time") or 0
                    s["remote_read_mb"] = s.get("remote_read_mb", 0) + (
                        srm.get("Remote Bytes Read") or 0) / 1e6
                    s["shuffle_read_mb"] += ((srm.get("Remote Bytes Read") or 0)
                                             + (srm.get("Local Bytes Read") or 0)) / 1e6
                    swm = tm.get("Shuffle Write Metrics") or {}
                    s["shuffle_write_mb"] += (swm.get("Shuffle Bytes Written") or 0) / 1e6
                    im = tm.get("Input Metrics") or {}
                    s["input_mb"] += (im.get("Bytes Read") or 0) / 1e6

    total_task_s = sum(s["task_ms"] for s in stages.values()) / 1000
    print(f"\n== stage summary (total task time {total_task_s:.1f}s) ==")
    hdr = (f"{'stage':>5} {'tasks':>5} {'wall_s':>7} {'task_s':>7} "
           f"{'max_t':>6} {'med_t':>6} {'fetchW':>7} {'gc_s':>5} "
           f"{'sched':>6} {'shR_MB':>7} {'shW_MB':>7} {'in_MB':>7} "
           f"{'spill':>7}  name")
    print(hdr)
    for key in sorted(stages, key=lambda k: k[0]):
        s = stages[key]
        if not s["tasks"]:
            continue
        tt = sorted(s["task_times"])
        med = tt[len(tt) // 2] / 1000 if tt else 0
        wall = ((s["complete"] - s["submit"]) / 1000
                if s["complete"] and s["submit"] else -1)
        print(f"{key[0]:>5} {s['tasks']:>5} {wall:>7.1f} "
              f"{s['task_ms']/1000:>7.1f} {s['max_task_ms']/1000:>6.1f} "
              f"{med:>6.1f} {s['fetch_wait_ms']/1000:>7.1f} "
              f"{s['gc_ms']/1000:>5.1f} {s['sched_delay_ms']/1000:>6.1f} "
              f"{s['shuffle_read_mb']:>7.0f}"
              f"/{s.get('remote_read_mb', 0):>4.0f} {s['shuffle_write_mb']:>7.0f} "
              f"{s['input_mb']:>7.0f} {s.get('spill_mb', 0):>7.0f}  {s['name']}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--execs", type=int, default=4)
    ap.add_argument("--cores-per", type=int, default=2)
    ap.add_argument("--mem", type=int, default=2048)
    ap.add_argument("--conf", action="append", default=[])
    ap.add_argument("--cpuset", default=None)
    ap.add_argument("--keep", action="store_true")
    args = ap.parse_args()

    submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    from tools.make_pyfiles import build
    zip_path = build(os.path.join(REPO, "dist", "tinyetl_spark.zip"))
    log_dir = bench._resolve_saved_log()
    if not log_dir:
        sys.exit("no saved log (run bench.py --gen-log first)")
    work_root = bench._fast_tmp() or tempfile.gettempdir()
    work = tempfile.mkdtemp(prefix="tinyetl_prof_", dir=work_root)
    evlog = tempfile.mkdtemp(prefix="tinyetl_evlog_", dir=work_root)
    master = f"local-cluster[{args.execs},{args.cores_per},{args.mem}]"
    cmd = []
    if args.cpuset:
        cmd += ["taskset", "-c", args.cpuset]
    cmd += [submit, "--master", master,
            "--py-files", zip_path,
            "--conf", "spark.network.timeout=7200s",
            "--conf", "spark.executor.heartbeatInterval=60s",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{evlog}"]
    for c in args.conf:
        cmd += ["--conf", c]
    cmd += [os.path.join(REPO, "tools", "submit_cdc_job.py"),
            "--work", work, "--warmup", "--log", log_dir]
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    import resource
    r0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    p = subprocess.run(cmd, capture_output=True, text=True, env=env, cwd=REPO)
    r1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    cpu = (r1.ru_utime - r0.ru_utime) + (r1.ru_stime - r0.ru_stime)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        print(p.stderr[-3000:], file=sys.stderr)
        sys.exit(f"submit failed rc={p.returncode}")
    res = json.loads(lines[-1])
    res["tree_cpu_seconds"] = round(cpu, 1)
    print(json.dumps(res))
    summarize(evlog)
    if not args.keep:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(evlog, ignore_errors=True)


if __name__ == "__main__":
    main()
