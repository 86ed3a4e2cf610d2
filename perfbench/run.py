#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 15 --trace 0

Prints progress lines, then as its last line one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` wraps the engine's calls,
reports the per-layer metrics and writes the spans to
``.perfbench_work/traces/<workload>-seed<seed>.json``. See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
EXTRACT_SAMPLE = 2000


def _table_info(table_path: str, live_rows: int) -> dict:
    meta = os.path.join(table_path, "metadata")
    with open(os.path.join(meta, "VERSION")) as f:
        manifest = os.path.join(meta, f"v{f.read().strip()}.json")
    with open(manifest) as f:
        files = json.load(f)["files"]
    data_bytes = sum(os.path.getsize(x["path"]) for x in files)
    return {"manifest_bytes": os.path.getsize(manifest), "files": len(files),
            "bytes_per_live_row": data_bytes / max(live_rows, 1)}


def _extract_us_per_row(input_dir: str) -> float:
    """Time the engine's extract_series in this process on the first html
    values of the workload's log."""
    import pyarrow.parquet as pq

    from perfbench import harness
    from tinyetl_spark.extract import extract_series
    log = os.path.join(input_dir, "log")
    first = sorted(f for f in os.listdir(log) if f.endswith(".parquet"))[0]
    html = (pq.read_table(os.path.join(log, first), columns=["html"])
            .column("html").to_pandas().dropna().iloc[:EXTRACT_SAMPLE])
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        extract_series(html)
        times.append(time.perf_counter() - t0)
    return harness.median(times) * 1e6 / len(html)


def _generate(wl, seed: int, cache_root: str) -> None:
    """Generate missing inputs (this runs in a child process, so the
    measured process's memory peak never includes the generator's)."""
    from perfbench import inputs
    for name, s, sizes in (("warmup", 0, inputs.WARMUP),
                           (wl.name, seed, wl.sizes)):
        if not inputs.cached(cache_root, name, s, sizes, ROOT):
            inputs.generate(cache_root, name, s, sizes, ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15,
                    help="nominal window; the work per run is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--generate-only", action="store_true",
                    help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tinyetl_spark", "__init__.py")):
        print(f"perfbench: no tinyetl_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness, inputs
    from perfbench import workloads as wls
    if args.workload not in wls.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(wls.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = wls.WORKLOADS[args.workload]
    cache_root = os.path.join(WORK, "cache")
    if args.generate_only:
        _generate(wl, args.seed, cache_root)
        return 0

    probe_s = harness.host_probe()
    t0 = time.perf_counter()
    hit = (inputs.cached(cache_root, wl.name, args.seed, wl.sizes, ROOT)
           and inputs.cached(cache_root, "warmup", 0, inputs.WARMUP, ROOT))
    if not hit:
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--workload", wl.name, "--seed", str(args.seed),
                        "--generate-only"], check=True)
    gen_s = time.perf_counter() - t0
    print(json.dumps({"input_cache": "hit" if hit else "miss",
                      "generate_s": round(gen_s, 3)}), flush=True)
    input_dir = inputs.cache_dir(cache_root, wl.name, args.seed)
    oracle = inputs.load_oracle(cache_root, wl.name, args.seed)

    n_cores = harness.cores()
    run_dir = os.path.join(WORK, "runs", f"{wl.name}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    t_session = time.perf_counter()
    spark = harness.start_session(run_dir, n_cores, f"perfbench-{wl.name}")
    tracer = None
    try:
        t_build = time.perf_counter()
        table = wls.build_table(
            spark, wl, input_dir, run_dir,
            os.path.join(inputs.cache_dir(cache_root, "warmup", 0), "log"),
            n_cores)
        table_path = table.root
        if args.trace:
            from perfbench.tracing import Tracer
            tracer = Tracer(wl.name)
        run = wls.Run(wl, run_dir, tracer)
        t_win = time.perf_counter()
        setup_s = t_win - T_START - probe_s - gen_s
        setup_parts = {"session_s": t_build - t_session,
                       "build_s": t_win - t_build}
        if tracer:
            tracer.install()
        try:
            wls.stream(spark, run, input_dir, table_path)
            wls.reads(run, table, oracle)
        finally:
            if tracer:
                tracer.uninstall()
        window_s = time.perf_counter() - t_win
        rss_mb = harness.peak_rss_mb()

        problems = wls.gate(run, table, oracle)
        e2e, info = wls.metrics(run, setup_s, window_s, rss_mb,
                                oracle["rows"])
        if tracer:
            from perfbench import tracing
            per_layer, rows = tracing.layer_report(
                tracer, spark, run.batches, n_cores, run.read_spans,
                _table_info(table_path, oracle["rows"]),
                _extract_us_per_row(input_dir))
            per_layer["host.probe_s"] = probe_s
            per_layer["trace.run_wall_s"] = window_s
            trace_path = os.path.join(WORK, "traces",
                                      f"{wl.name}-seed{args.seed}.json")
            fits = all(r["self_s"]["streaming.pipeline"] >= 0 for r in rows)
            tracer.dump(trace_path, {"per_layer": per_layer, "batches": rows,
                                     "self_times_fit_wall": fits})
            for k in sorted(per_layer):
                print(f"# {k:36s} {per_layer[k]:.6g}")
            print(f"# layer self times fit every batch wall: {fits}")
            print(f"# trace written to {os.path.relpath(trace_path, ROOT)}")
            out = {k: {"value": v, "unit": tracing.UNITS[k]}
                   for k, v in per_layer.items()}
        else:
            out = e2e
    finally:
        harness.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"workload": wl.name, "seed": args.seed,
                      "trace": args.trace, "cores": n_cores,
                      "host.probe_s": round(probe_s, 4),
                      "peak_rss_mb": round(rss_mb, 1),
                      "failed_ops_share": run.failed / run.attempted,
                      "problems": problems[:10], **info,
                      **{k: round(v, 3) for k, v in setup_parts.items()}}),
          flush=True)
    print(json.dumps({"correct": not problems, "attempted": run.attempted,
                      "failed": run.failed, "metrics": out}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
