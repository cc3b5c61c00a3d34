"""Run context shared by the workloads: working directory, Spark session,
correctness tally, peak memory and the open-loop generator."""

from __future__ import annotations

import gc
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
DRIVER_MEMORY = "2g"
# index layout of every build: the corpus is ~1,000 pages
N_BUCKETS = 4
N_SHARDS = 2
# the headline __spark_entry__ gates, in suite order
HEADLINE_GATES = (
    "bm25_single", "bm25_conj", "match_and", "term_stats_top100",
    "fingerprints", "quality_scores", "minhash_signatures", "knn_all",
    "latest_dedup", "fusion_confidence",
)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`, and
    let Spark's Python workers import the package (they do not inherit
    sys.path, only PYTHONPATH)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")


def start_spark(work: str):
    from honeywell_search_engine_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cores=cores(),
        shuffle_partitions=cores(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
            + os.path.join(work, "tmp"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


_T0 = time.monotonic()


def log(*a) -> None:
    print(f"[perfbench {time.monotonic() - _T0:6.1f}s]", *a, file=sys.stderr, flush=True)


class Run:
    """One benchmark run: its inputs, its tally and its metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 tracer, counters):
        self.workload = workload
        self.traced = traced
        self.seed = seed
        self.seconds = seconds
        self.tr = tracer
        self.jobs = counters
        self.dir = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def tally(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if self.failed <= 5:
                log(f"FAILED: {what}")

    def result(self) -> dict:
        metrics = self.layer if self.traced else self.e2e
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())
            },
        }

    def close(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


def settle_heap() -> None:
    """Move everything allocated so far (corpus frames, oracle postings:
    millions of small objects) out of the cyclic collector's reach, so its
    full collections do not pause the timed phases that follow."""
    gc.collect()
    gc.freeze()


def timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t0


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every live
    descendant: the JVM, Spark's Python daemon and its workers."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces: ppid follows its ')'
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    me = os.getpid()
    tree, frontier = {me}, [me]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    kb = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def index_bytes_and_postings(index_dir: str) -> tuple[int, int]:
    """On-disk segment bytes and posting count of a built index."""
    import pyarrow.parquet as pq

    seg = os.path.join(index_dir, "segments")
    size = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(seg)
        for f in fs
        if f.endswith(".parquet")
    )
    n = pq.read_table(seg, columns=["n"]).column("n").to_numpy().sum()
    return size, int(n)


def phase1_seconds(index_dir: str) -> float:
    with open(os.path.join(index_dir, "manifests", "phase1.json")) as f:
        return float(json.load(f)["elapsed_sec"])


def open_loop(requests, rate: float, serve, clock=time.perf_counter,
              sleep=time.sleep):
    """Send `requests` on a fixed schedule (request i is due at
    start + i / rate) whatever the system's state, one at a time in this
    process. Latency runs from the due time to completion, so a stall is
    charged to every request queued behind it. Returns
    (latencies, lateness): lateness is how far after its due time each
    request was actually sent."""
    lat, late = [], []
    t0 = clock()
    for i, req in enumerate(requests):
        due = t0 + i / rate
        now = clock()
        if now < due:
            sleep(due - now)
            now = clock()
        serve(req)
        lat.append(clock() - due)
        late.append(max(0.0, now - due))
    return lat, late


def build_index(spark, pages_path: str, out: str) -> tuple[float, int]:
    """build_segments over a pages parquet; returns (seconds, docs indexed)."""
    from honeywell_search_engine_spark.index.corpus import docs_from_pages, tokenized_docs
    from honeywell_search_engine_spark.index.segments import build_segments
    from honeywell_search_engine_spark.sources.pages import read_pages

    t0 = time.perf_counter()
    build_segments(
        tokenized_docs(docs_from_pages(read_pages(spark, pages_path))),
        out, pages_path,
        n_buckets=N_BUCKETS, n_shards=N_SHARDS, buckets_per_job=N_BUCKETS,
    )
    secs = time.perf_counter() - t0
    with open(os.path.join(out, "stats.json")) as f:
        return secs, int(json.load(f)["n_docs"])


def record_build(run, index_dir: str, secs: float, n_docs: int) -> None:
    """Build figures every workload reports (it builds its index)."""
    size, postings = index_bytes_and_postings(index_dir)
    p1 = phase1_seconds(index_dir)
    run.e2e["build_docs_per_s"] = (n_docs / secs, "1/s")
    run.e2e["index_bytes_per_posting"] = (size / postings, "B")
    run.layer["build.phase1_s"] = (p1, "s")
    run.layer["build.phase2_s"] = (secs - p1, "s")
    run.layer["segments.bytes"] = (float(size), "B")
    run.layer["segments.postings"] = (float(postings), "count")
