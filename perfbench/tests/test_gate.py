"""Self-test of the benchmark's correctness gate: a corrupted row in a
finished table and a corrupted lookup answer must each fail the gate and
raise the failed-ops share above zero.

Run from the checkout root (starts one local Spark session, ~1 minute):

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import copy
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import harness, inputs
from perfbench import workloads as wls

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
TINY = wls.Workload("tiny", inputs.Sizes(n_urls=300, batch_events=1_000,
                                         log_batches=2, num_buckets=4))


@pytest.fixture(scope="module")
def finished():
    """A tiny workload streamed to completion, its reads run, ungated."""
    work = os.path.join(ROOT, ".perfbench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    spark = harness.start_session(work, 2, "perfbench-selftest")
    try:
        cache = os.path.join(work, "cache")
        inputs.generate(cache, TINY.name, 1, TINY.sizes, ROOT)
        input_dir = inputs.cache_dir(cache, TINY.name, 1)
        oracle = inputs.load_oracle(cache, TINY.name, 1)
        table = wls.build_table(spark, TINY, input_dir, work,
                                os.path.join(input_dir, "log"), 2)
        run = wls.Run(TINY, work)
        wls.stream(spark, run, input_dir, table.root)
        wls.reads(run, table, oracle)
        yield spark, table, oracle, run
    finally:
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def test_clean_run_passes(finished):
    _, table, oracle, run = finished
    assert wls.gate(run, table, oracle) == []
    assert run.attempted > 0 and run.failed == 0


def test_corrupted_lookup_answer_fails(finished):
    _, table, oracle, _ = finished
    bad = copy.deepcopy(oracle)
    live = next(x for x in bad["lookups"] if x["expect"] is not None)
    live["expect"]["lang"] = "xx"
    run = wls.Run(TINY, "unused")
    wls.reads(run, table, bad)
    assert run.failed == 1
    assert run.failed / run.attempted > 0
    assert "mismatch on ['lang']" in run.problems[0]


def test_corrupted_table_row_fails_every_op(finished):
    _, table, oracle, run = finished
    meta = os.path.join(table.root, "metadata")
    with open(os.path.join(meta, "VERSION")) as f:
        with open(os.path.join(meta, f"v{f.read().strip()}.json")) as g:
            path = json.load(g)["files"][0]["path"]
    data = pq.read_table(path)
    lang = data["lang"].to_pylist()
    lang[0] = "xx"
    data = data.set_column(data.schema.get_field_index("lang"), "lang",
                           pa.array(lang, pa.string()))
    pq.write_table(data, path, use_deprecated_int96_timestamps=True)
    # drop the stale checksum sidecar: the row is wrong, not the bytes
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    problems = wls.gate(run, table, oracle)
    assert "table checksum differs from the oracle" in problems
    assert run.failed == run.attempted > 0
