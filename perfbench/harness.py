"""Process-level plumbing: session sizing, host control probe, peak RSS,
medians and shutdown. Nothing here measures the engine itself."""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import time

# A fixed, pre-touched driver heap: page provisioning and heap growth are
# paid once in set-up instead of at random points of the measured window,
# and the resident set no longer depends on when the heap happened to grow.
DRIVER_MEMORY = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def host_probe() -> float:
    """Spark-free fixed work (memory streaming plus a hash loop): its wall
    time moves only with the host, so a slow probe flags a noisy window."""
    import numpy as np
    t0 = time.perf_counter()
    a = np.zeros(4 * 1024 * 1024)
    for _ in range(8):
        a += 1.5
    h = b"probe" * 16
    for _ in range(60_000):
        h = hashlib.md5(h).digest() + h[:48]
    return time.perf_counter() - t0


def start_session(work: str, n_cores: int, app_name: str):
    """local[N] with an explicit driver heap, scratch space and temp files
    inside ``work``, and every streaming progress update retained."""
    from tinyetl_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # the JVM and its python workers inherit these; SPARK_LOCAL_DIRS would
    # otherwise override spark.local.dir with a directory outside ``work``
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    spark = get_spark(app_name=app_name, cores=n_cores, extra_conf={
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
        "spark.local.dir": local,
        # recentProgress keeps 100 updates by default; a run must see all
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "10000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for both it and
    the Python workers it spawned to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()     # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")
                 and _state(p) not in ("Z", None)]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _state(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return None


def descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def peak_rss_mb() -> float:
    """Sum of per-process peak RSS (VmHWM) over this process, the driver
    JVM and its Python workers: an upper bound on their joint peak."""
    total_kb = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def median(xs) -> float:
    return float(statistics.median(xs))
