"""The workloads: a measured write stream, then a measured read phase on
the table it left, then the correctness gate.

Each workload is one closed loop with one consumer: the stream starts a
micro-batch only after the previous one committed, and the read client
sends its next lookup or scan only after the previous one returned.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import time
from dataclasses import dataclass

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException

from perfbench import harness
from perfbench.inputs import (ABSENT_URL, FILES_PER_BATCH, Sizes, checksum,
                              py_rows)

LOOKUPS_PER_ROUND = 2
# untimed read rounds in set-up: over a run's first ~6 lookups and ~3
# scans, latencies fall by about half as the JVM compiles the read path
WARM_READ_ROUNDS = 2
SPARK_ERRORS = (Py4JError, PySparkException)


@dataclass(frozen=True)
class Workload:
    name: str
    sizes: Sizes
    auto_compact_debt: int | None = 32
    expire_every: int | None = None


WORKLOADS = {
    # COW data path: a fresh table drains two large batches; every url
    # recurs ~10 times per batch, so scan, shuffle, sort + LWW window,
    # Python extract and write do nearly all the work.
    "bulk_replay": Workload(
        "bulk_replay",
        Sizes(n_urls=4_000, batch_events=40_000, log_batches=2)),
    # MOR steady state: small batches into a seeded table, with inline
    # compact_deltas and snapshot expiry firing inside the window.
    "steady_mor": Workload(
        "steady_mor",
        Sizes(n_urls=20_000, batch_events=3_000, log_batches=5,
              seed_batches=6),
        auto_compact_debt=4, expire_every=2),
}


class Run:
    """Everything one invocation measures; filled in as the run goes."""

    def __init__(self, wl: Workload, work: str, tracer=None):
        self.wl, self.work, self.tracer = wl, work, tracer
        self.batches: list[dict] = []
        self.stats = []
        self.lookup_s: list[float] = []
        self.scan_s: list[float] = []
        self.window_scan_s: list[float] = []
        self.read_spans: dict[str, list[dict]] = {"lookup": [], "scan": []}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    def span(self, name: str):
        """A read-side span when tracing, a no-op otherwise."""
        if self.tracer is None:
            return contextlib.nullcontext({})
        return self.tracer.span(name, "lake.table.read")


# ------------------------------------------------------------------ set-up
def warm_up(spark, log_dir: str, table_path: str, ckpt: str,
            mode: str = "auto") -> None:
    """A mini-stream of the merge shape: first-run costs (query start,
    codegen, a Python worker per core, Arrow buffers) land in set-up, not
    in the first measured batch."""
    from tinyetl_spark.streaming.pipeline import run_pipeline
    run = run_pipeline(spark, log_dir, table_path, ckpt, merge_mode=mode,
                       query_name="perfbench-setup")
    run.await_termination()


def warm_reads(table) -> None:
    """Untimed reads of each kind the read phase makes (a live and an
    absent key, a full scan, a window scan), so the timed ones run on a
    compiled read path."""
    from tinyetl_spark.datagen import BASE_EPOCH
    live = table.read().select("url").limit(1).collect()[0]["url"]
    for _ in range(WARM_READ_ROUNDS):
        for key in (live, ABSENT_URL + "warm-up"):
            py_rows(table.lookup(key).toArrow())
        _scan(table.read())
        _scan(table.read(ts_range=(BASE_EPOCH * 1_000_000,
                                   (BASE_EPOCH + 3600) * 1_000_000)))


def build_table(spark, wl: Workload, input_dir: str, work: str,
                warmup_log: str, n_cores: int):
    """Set-up through the program. A replay gets an empty table, after a
    warm-up mini-stream into a scratch table with one bucket per core (so
    every core starts a Python worker without paying for 32 buckets'
    tasks). A seeded stream gets one bulk COW merge of the seed slice,
    then a one-batch MOR mini-stream of the seed's last batch: that warms
    the streaming path and leaves the table in the auto strategy's
    merge-on-read steady state (the previous batch small and dense).
    Either way, untimed reads on the warmed table follow."""
    from tinyetl_spark.lake import LakeTable, merge_apply
    from tinyetl_spark.schema import EVENTS_SCHEMA, PAGES_SCHEMA
    table_path = os.path.join(work, "table")
    t = LakeTable.create(spark, table_path, PAGES_SCHEMA,
                         num_buckets=wl.sizes.num_buckets)
    if not wl.sizes.seed_batches:
        scratch = os.path.join(work, "warmup")
        LakeTable.create(spark, f"{scratch}/table", PAGES_SCHEMA,
                         num_buckets=n_cores)
        warm_up(spark, warmup_log, f"{scratch}/table", f"{scratch}/ckpt")
        warm_reads(LakeTable(spark, f"{scratch}/table"))
        return t
    seed = spark.read.schema(EVENTS_SCHEMA).parquet(
        os.path.join(input_dir, "seed"))
    merge_apply(t, seed, 0, stream_id="seed", mode="cow")
    warm_up(spark, os.path.join(input_dir, "seed_stream"), table_path,
            os.path.join(work, "seed_ckpt"), mode="mor")
    warm_reads(t)
    return t


# ---------------------------------------------------------- measured window
def stream(spark, run: Run, input_dir: str, table_path: str) -> None:
    from tinyetl_spark.streaming.pipeline import run_pipeline
    wl = run.wl
    pipe = run_pipeline(spark, os.path.join(input_dir, "log"), table_path,
                      os.path.join(run.work, "ckpt"),
                      max_files_per_trigger=FILES_PER_BATCH,
                      auto_compact_debt=wl.auto_compact_debt,
                      expire_every=wl.expire_every,
                      query_name=f"perfbench-{wl.name}")
    pipe.await_termination()
    run.stats = list(pipe.stats)
    seen = {}
    for p in pipe.query.recentProgress:
        d = p.durationMs
        if "addBatch" in d:
            seen[p.batchId] = {
                "batch": p.batchId, "rows": p.numInputRows,
                "trigger_ms": d.get("triggerExecution", 0),
                "add_batch_ms": d.get("addBatch", 0),
                "latest_offset_ms": d.get("latestOffset", 0),
                "get_batch_ms": d.get("getBatch", 0)}
    run.batches = [seen[k] for k in sorted(seen)]
    if len(run.batches) != len(run.stats):
        raise RuntimeError(f"captured progress for {len(run.batches)} "
                           f"batches, the run applied {len(run.stats)}")
    expected = wl.sizes.log_batches
    if len(run.stats) != expected:
        raise RuntimeError(f"expected {expected} batches, "
                           f"ran {len(run.stats)}")
    run.attempted += len(run.stats)


def _lookup_answer(rows: list[dict], expect: dict | None) -> str | None:
    """None when a lookup's rows match the oracle's answer."""
    if expect is None:
        return None if not rows else f"{len(rows)} rows for a dead key"
    if len(rows) != 1:
        return f"{len(rows)} rows for a live key"
    r = rows[0]
    got = {**r, "html_sha1": hashlib.sha1(r["html"] or b"").hexdigest()}
    bad = [k for k, v in expect.items() if got.get(k) != v]
    return f"mismatch on {bad}" if bad else None


def _op(run: Run, name: str, samples: list[float], fn, check) -> None:
    """One timed read op: its latency joins ``samples``; an error or a
    wrong answer fails it."""
    run.attempted += 1
    with run.span(name) as rec:
        t0 = time.perf_counter()
        try:
            result = fn()
        except SPARK_ERRORS as e:
            run.fail(f"{name}: {e}")
            return
        samples.append(time.perf_counter() - t0)
    if run.tracer is not None and name in run.read_spans:
        run.read_spans[name].append(rec)
    bad = check(result)
    if bad:
        run.fail(f"{name}: {bad}")


def _scan(df):
    import pyspark.sql.functions as F
    return df.agg(F.count("*").alias("n"),
                  F.sum(F.length("text")).alias("chars")).collect()[0]


def reads(run: Run, table, oracle: dict) -> None:
    """Rounds of ``LOOKUPS_PER_ROUND`` point lookups over the oracle's
    live, deleted and absent keys, each round closed by one full
    LWW-resolving scan and one warc_ts-window scan, until every key was
    asked once. The round count is fixed: read latencies keep falling over a run's
    first rounds as the JVM compiles the read path, so a time-bounded
    phase would report lower latencies whenever the stream before it ran
    faster."""
    lookups = oracle["lookups"]
    lo, hi = oracle["window"]
    ts_range = (lo * 1_000_000, hi * 1_000_000)

    def expect_rows(n):
        return lambda r: (None if r["n"] == n
                          else f"{r['n']} rows, oracle {n}")

    for i in range(0, len(lookups), LOOKUPS_PER_ROUND):
        for item in lookups[i:i + LOOKUPS_PER_ROUND]:
            _op(run, "lookup", run.lookup_s,
                lambda: py_rows(table.lookup(item["key"]).toArrow()),
                lambda rows: _lookup_answer(rows, item["expect"]))
        _op(run, "scan", run.scan_s, lambda: _scan(table.read()),
            expect_rows(oracle["rows"]))
        _op(run, "window_scan", run.window_scan_s,
            lambda: _scan(table.read(ts_range=ts_range)),
            expect_rows(oracle["window_rows"]))


# ------------------------------------------------------------------- gate
def gate(run: Run, table, oracle: dict) -> list[str]:
    """Check the final table; output that fails the oracle fails every op
    of the run. Returns every problem the run found."""
    try:
        problems = check_table(table, oracle)
    except SPARK_ERRORS as e:
        problems = [f"reading the final table failed: {e}"]
    if problems:
        run.failed = run.attempted
    return run.problems + problems


def check_table(table, oracle: dict) -> list[str]:
    """The final table against the oracle: row count, order-independent
    checksum, and every row's extracted text byte for byte against the
    reference extractor."""
    from tinyetl_spark.extract import reference_extract_text
    problems = []
    tbl = (table.read().select("url", "warc_ts", "event_seq", "lang", "html",
                               "text").toArrow())
    rows, csum = checksum(tbl)
    if rows != oracle["rows"]:
        problems.append(f"table has {rows} rows, oracle {oracle['rows']}")
    if csum != oracle["checksum"]:
        problems.append("table checksum differs from the oracle")
    bad = sum(reference_extract_text(h) != t for h, t in
              zip(tbl["html"].to_pylist(), tbl["text"].to_pylist()))
    if bad:
        problems.append(f"text differs from the reference extractor "
                        f"on {bad} rows")
    return problems


def metrics(run: Run, setup_s: float, window_s: float, rss_mb: float,
            live_rows: int) -> tuple[dict, dict]:
    """End-to-end metrics and the sample counts behind them. No tail
    percentile is reported: the highest one with ten samples beyond it
    needs at least 21 samples, and a run has fewer batches and lookups."""
    trig = [b["trigger_ms"] / 1000.0 for b in run.batches]
    events = sum(s.events_in for s in run.stats)
    m = {
        "setup_s": (setup_s, "s"),
        "apply_events_per_s": (events / sum(trig), "events/s"),
        "run_wall_s": (window_s, "s"),
        "batch_latency_p50_s": (harness.median(trig), "s"),
        "lookup_p50_ms": (harness.median(run.lookup_s) * 1000.0, "ms"),
        "scan_rows_per_s": (live_rows / harness.median(run.scan_s), "rows/s"),
        "window_scan_s": (harness.median(run.window_scan_s), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    info = {"batches": len(trig), "events": events,
            "lookups": len(run.lookup_s), "scans": len(run.scan_s),
            "window_scans": len(run.window_scan_s),
            "strategies": sorted({s.strategy for s in run.stats})}
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, info
