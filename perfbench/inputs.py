"""Seeded workload inputs and their oracle, cached per seed.

Every workload reads a pre-published change-event log (the shape
``tinyetl_spark.datagen.change_events`` emits, drawn here with numpy and
written with pyarrow, so no Spark session is started to make it) and, for
``steady_mor``, a seed slice applied before the measured window. The log
and the oracle summary are generated once per (workload, seed, sizes) and
reused only when the ``_PARAMS.json`` stamp written at generation time
matches, so a later run never measures against stale inputs.

Log layout: each micro-batch is ``FILES_PER_BATCH`` parquet segments
holding contiguous ``event_seq`` ranges, with strictly increasing mtimes,
so the file source (oldest first, ``maxFilesPerTrigger``) cuts exactly
the same batches on every run of a seed.

The oracle is per-url last-writer-wins over seed + log, ordered by
``(warc_ts, event_seq)`` descending, deletes removed — computed here with
pandas over the log files, never with the engine's merge code.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import asdict, dataclass

FILES_PER_BATCH = 4
N_LOOKUP_EACH = 2          # live, deleted and absent keys each
ABSENT_URL = "https://absent.example.invalid/page/"


@dataclass(frozen=True)
class Sizes:
    """Input shape of one workload. ``seed_batches`` > 0 puts the first
    batches of the generated stream into the seed slice (applied in set-up)
    instead of the measured log: all but the last under ``seed/``, the
    last under ``seed_stream/``."""
    n_urls: int
    batch_events: int
    log_batches: int
    seed_batches: int = 0
    num_buckets: int = 32

    @property
    def total_events(self) -> int:
        return self.batch_events * (self.log_batches + self.seed_batches)


WARMUP = Sizes(n_urls=500, batch_events=2_000, log_batches=1)


def _source_digest(repo_root: str) -> str:
    """The generator lives in the program and the oracle in this file: a
    change to either invalidates the cache."""
    h = hashlib.sha1()
    for rel in ("tinyetl_spark/datagen.py", "tinyetl_spark/schema.py",
                "perfbench/inputs.py"):
        with open(os.path.join(repo_root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _stamp(workload: str, seed: int, sizes: Sizes, repo_root: str) -> dict:
    return {"workload": workload, "seed": seed, "sizes": asdict(sizes),
            "source": _source_digest(repo_root)}


def _html(url: str, version: int, token: int) -> bytes:
    """The page body ``datagen.change_events`` builds for (url, version):
    title, style and script blocks extraction must drop, entities, and
    eight paragraphs."""
    para = (f"<p>Content of {url} rev {version} \u2014 token_"
            f"{(token + version) % 99991} lorem &amp; ipsum &lt;dolor&gt; "
            f"sit amet.</p>\n")
    return (f"<html><head><title>Page {url}</title>"
            f"<style>body{{color:#000}}</style>"
            f"<script>var x=1;</script></head><body>\n"
            f"<h1>Revision {version}</h1>\n{para * 8}</body></html>"
            ).encode()


def _events(seed: int, sizes: Sizes):
    """The change events of a workload as one Arrow table, in the shape and
    proportions of ``datagen.change_events`` (5% hot-domain urls, 5%
    deletes, 40/60 inserts/updates, 10% late by up to an hour), drawn
    with numpy from ``seed`` without a Spark session. A url's domain,
    language and token depend on its id only, as in datagen."""
    import numpy as np
    import pyarrow as pa

    from tinyetl_spark.datagen import (BASE_EPOCH, DOMAINS, HOT_DOMAIN,
                                       LANGS)
    per_url = np.random.default_rng(0)
    n_urls = sizes.n_urls
    hot = per_url.random(n_urls) < 0.05
    dom = np.where(hot, HOT_DOMAIN, np.array(DOMAINS)[
        per_url.integers(0, len(DOMAINS), n_urls)])
    urls = [f"https://{d}/page/{i}" for i, d in enumerate(dom)]
    langs = np.array(LANGS)[per_url.integers(0, len(LANGS), n_urls)]
    tokens = per_url.integers(0, 99991, n_urls)

    r = np.random.default_rng(seed)
    n = sizes.total_events
    seq = np.arange(n, dtype=np.int64)
    url_id = r.integers(0, n_urls, n)
    late = r.random(n) < 0.10
    ts = BASE_EPOCH + seq - np.where(late, r.integers(0, 3600, n), 0)
    delete = r.random(n) < 0.05
    op = np.where(delete, "delete",
                  np.where(r.random(n) < 0.40, "insert", "update"))
    version = r.integers(0, 1000, n)
    html = [None if d else _html(urls[u], v, tokens[u])
            for d, u, v in zip(delete.tolist(), url_id.tolist(),
                               version.tolist())]
    return pa.table({
        "event_seq": pa.array(seq, pa.int64()),
        "url": pa.array([urls[u] for u in url_id.tolist()], pa.string()),
        "warc_ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
        "op": pa.array(op, pa.string()),
        "html": pa.array(html, pa.binary()),
        "lang": pa.array(langs[url_id], pa.string()),
    })


def _write_log(d: str, seed: int, sizes: Sizes) -> list[str]:
    """Write the events as per-batch segments of ``FILES_PER_BATCH``
    contiguous ``event_seq`` ranges; return them in log order."""
    import pyarrow.parquet as pq
    events = _events(seed, sizes)
    n_files = (sizes.log_batches + sizes.seed_batches) * FILES_PER_BATCH
    per_file = sizes.total_events // n_files
    n_seed_files = sizes.seed_batches * FILES_PER_BATCH
    base_mtime = int(time.time()) - n_files
    files = []
    for i in range(n_files):
        # the seed's last batch is streamed in set-up, the rest bulk-merged
        dst = os.path.join(d, "log" if i >= n_seed_files else "seed_stream"
                           if i >= n_seed_files - FILES_PER_BATCH else "seed")
        os.makedirs(dst, exist_ok=True)
        p = os.path.join(dst, f"part-{i:05d}.parquet")
        rows = per_file if i < n_files - 1 else None
        pq.write_table(events.slice(i * per_file, rows), p,
                       compression="snappy")
        os.utime(p, (base_mtime + i, base_mtime + i))
        files.append(p)
    return files


def _oracle(files: list[str], seed: int, sizes: Sizes) -> dict:
    """Per-url LWW winners over every event, in pandas over the log files:
    the live row count and checksum, the window-scan row count, and the
    expected answer of every lookup."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tinyetl_spark.extract import reference_extract_text

    events = pa.concat_tables([pq.read_table(f) for f in files])
    keys = pd.DataFrame({"url": events["url"].to_numpy(zero_copy_only=False),
                         "ts": ts_us(events["warc_ts"]),
                         "seq": events["event_seq"].to_numpy(),
                         "op": events["op"].to_numpy(zero_copy_only=False)})
    winners = (keys.sort_values(["url", "ts", "seq"],
                                ascending=[True, False, False])
               .drop_duplicates("url"))
    live_keys = winners[winners["op"] != "delete"]
    live = events.take(pa.array(live_keys.index.to_numpy()))
    rows, csum = checksum(live)
    # the window scan's warc_ts range (epoch seconds, inclusive) holds the
    # middle fifth of the live rows, whatever the workload's shape
    lo, hi = (int(q) // 1_000_000
              for q in live_keys["ts"].quantile([0.4, 0.6]))
    window_rows = int(live_keys["ts"].between(lo * 1_000_000,
                                              hi * 1_000_000).sum())

    def pick(urls, n):
        return sorted(urls, key=lambda u: hashlib.sha1(
            f"{seed}:{u}".encode()).hexdigest())[:n]

    chosen = pick(live_keys["url"].tolist(), N_LOOKUP_EACH)
    lookups = [{"key": r["url"], "expect": {
                    "url": r["url"], "warc_ts_us": r["warc_ts_us"],
                    "event_seq": r["event_seq"], "lang": r["lang"],
                    "html_sha1": hashlib.sha1(r["html"]).hexdigest(),
                    "text": reference_extract_text(r["html"])}}
               for r in py_rows(live.filter(pc.is_in(
                   live["url"], value_set=pa.array(chosen))))]
    deleted = winners.loc[winners["op"] == "delete", "url"].tolist()
    lookups += [{"key": u, "expect": None}
                for u in pick(deleted, N_LOOKUP_EACH)]
    lookups += [{"key": f"{ABSENT_URL}{seed}-{i}", "expect": None}
                for i in range(N_LOOKUP_EACH)]
    # interleave kinds in a seeded order so no kind runs first every time
    lookups.sort(key=lambda x: hashlib.sha1(
        f"{seed}:{x['key']}".encode()).hexdigest())
    return {"rows": rows, "checksum": csum, "window": [lo, hi],
            "window_rows": window_rows, "lookups": lookups,
            "seed_events": sizes.seed_batches * sizes.batch_events,
            "log_events": sizes.log_batches * sizes.batch_events}


def ts_us(col):
    """A timestamp column as int64 epoch microseconds (UTC)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    if col.type.unit != "us":
        col = pc.cast(col, pa.timestamp("us", tz=col.type.tz))
    return pc.cast(col, pa.int64()).to_numpy(zero_copy_only=False)


def py_rows(tbl) -> list[dict]:
    """Rows of an Arrow table as dicts, warc_ts as ``warc_ts_us``."""
    cols = {n: tbl[n].to_pylist() for n in tbl.column_names
            if n != "warc_ts"}
    cols["warc_ts_us"] = [int(x) for x in ts_us(tbl["warc_ts"])]
    return [dict(zip(cols, vals)) for vals in zip(*cols.values())]


def checksum(tbl) -> tuple[int, str]:
    """(rows, order-independent checksum) over (url, warc_ts, event_seq,
    lang, hash(html)) of an Arrow table: a sum mod 2^64 of per-row
    digests."""
    total = 0
    for r in py_rows(tbl.select(["url", "warc_ts", "event_seq", "lang",
                                 "html"])):
        h = hashlib.sha1(f"{r['url']}\x1f{r['warc_ts_us']}\x1f"
                         f"{r['event_seq']}\x1f{r['lang']}\x1f".encode())
        h.update(hashlib.sha1(r["html"] or b"").digest())
        total += int.from_bytes(h.digest()[:8], "big")
    return tbl.num_rows, str(total % (1 << 64))


def cache_dir(cache_root: str, workload: str, seed: int) -> str:
    return os.path.join(cache_root, f"{workload}-seed{seed}")


def cached(cache_root: str, workload: str, seed: int, sizes: Sizes,
           repo_root: str) -> bool:
    """True when the inputs on disk were generated with these parameters."""
    path = os.path.join(cache_dir(cache_root, workload, seed), "_PARAMS.json")
    try:
        with open(path) as f:
            return json.load(f) == _stamp(workload, seed, sizes, repo_root)
    except (OSError, ValueError):
        return False


def generate(cache_root: str, workload: str, seed: int, sizes: Sizes,
             repo_root: str) -> None:
    d = cache_dir(cache_root, workload, seed)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    oracle = _oracle(_write_log(d, seed, sizes), seed, sizes)
    with open(os.path.join(d, "oracle.json"), "w") as f:
        json.dump(oracle, f)
    # the stamp goes last: a cache cut short by a crash never matches
    with open(os.path.join(d, "_PARAMS.json"), "w") as f:
        json.dump(_stamp(workload, seed, sizes, repo_root), f)


def load_oracle(cache_root: str, workload: str, seed: int) -> dict:
    with open(os.path.join(cache_dir(cache_root, workload, seed),
                           "oracle.json")) as f:
        return json.load(f)
