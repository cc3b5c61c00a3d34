"""Workload `spark`: the headline gates and the Spark query path.

1. Build an index over the seeded corpus (``build_segments``).
2. Open ``index.segments.SegmentIndex`` several times. ``setup_s`` is
   page generation + build + the median open.
3. The ten headline ``__spark_entry__`` gates over seeded tables with the
   shape of the sf0.01 testdata, each checked against its DuckDB
   ``oracle_sql`` mirror. They also warm the JVM's SQL and Python-worker
   paths for the timed queries that follow.
4. One closed-loop client sends point queries from one seeded Zipf stream
   (``bm25_topk_wand`` and/or, ``bm25_topk_websearch``,
   ``bm25_topk_phrase``), each planned (the call that returns the
   DataFrame) and executed (``collect``) in turn.
5. ``bm25_topk_wand_batch`` batches drawn from the same stream, AND and OR
   in turn.

Every query result is checked against ``OracleIndex``.
"""

from __future__ import annotations

import os
import random
import time

from perfbench import stats
from perfbench.common import HEADLINE_GATES, build_index, log, record_build, settle_heap, timed
from perfbench.inputs import (
    POINT_MIX,
    QueryGen,
    indexed_docs,
    pages_frame,
    vocabulary_by_df,
    write_gate_tables,
    write_pages,
)
from perfbench.oracles import K, Expected, gate_expected, gate_matches

BASE_DOCS = 1000
SETUP_REPS = 3
WARM_QUERY = ("and", "data search")
# The tail of 30 queries is p67 (ten samples beyond it). p90 needs ~100
# queries, ~40 s more per run at ~0.5 s each, which the run budget lacks.
POINT_QUERIES = 30
BATCHES = ("and", "or", "and", "or")
BATCH_SIZE = 50


def plan(idx, kind: str, q: str):
    from honeywell_search_engine_spark.query import wand as W

    if kind in ("and", "or"):
        return W.bm25_topk_wand(idx, q, k=K, mode=kind)
    if kind == "websearch":
        return W.bm25_topk_websearch(idx, q, k=K)
    if kind == "phrase":
        return W.bm25_topk_phrase(idx, q, k=K, slop=0)
    raise ValueError(f"unknown query kind {kind!r}")


def ranked(rows) -> list[tuple[int, float]]:
    return sorted(((int(r["docid"]), float(r["score"])) for r in rows),
                  key=lambda x: (-x[1], x[0]))


def point_query(run, idx, kind: str, q: str):
    """Returns (seconds, answer or exception)."""
    tr = run.tr
    with run.jobs.group("point"):
        t0 = time.perf_counter()
        with tr.span("req"):
            try:
                with tr.span("wand.plan"):
                    df = plan(idx, kind, q)
                with tr.span("wand.exec"):
                    got = ranked(df.collect())
            except Exception as ex:  # a failed query is counted, not fatal
                got = ex
        secs = time.perf_counter() - t0
    return secs, got


def batch_query(run, idx, mode: str, queries: dict[str, str]):
    from honeywell_search_engine_spark.query.wand import bm25_topk_wand_batch

    tr = run.tr
    with run.jobs.group("batch"):
        t0 = time.perf_counter()
        with tr.span("req"):
            try:
                with tr.span("wand.batch_plan"):
                    df = bm25_topk_wand_batch(idx, queries, k=K, mode=mode)
                with tr.span("wand.batch_exec"):
                    rows = df.collect()
                got = {qid: [] for qid in queries}
                for r in rows:
                    got[r["qid"]].append(r)
                got = {qid: ranked(rs) for qid, rs in got.items()}
            except Exception as ex:
                got = ex
        secs = time.perf_counter() - t0
    return secs, got


def run_spark(run, spark) -> None:
    import __spark_entry__ as E
    from honeywell_search_engine_spark.index.segments import SegmentIndex

    tr = run.tr
    rng = random.Random(run.seed)
    gate_dir = run.path("gates")
    os.makedirs(gate_dir)
    write_gate_tables(run.seed, gate_dir)
    gates_expected = gate_expected(gate_dir, HEADLINE_GATES)

    t0 = time.perf_counter()
    pdf = pages_frame(run.seed, 0, BASE_DOCS)
    pages = run.path("pages.parquet")
    write_pages(pdf, pages)
    t_pages = time.perf_counter() - t0
    docs = indexed_docs(pdf)

    idx_dir = run.path("index")
    tr.phase = "build"
    with run.jobs.group("build"):
        secs, n_docs = build_index(spark, pages, idx_dir)
    record_build(run, idx_dir, secs, n_docs)
    log(f"pages {t_pages:.1f}s, build {secs:.1f}s, {n_docs} docs")
    expected = Expected(docs)
    settle_heap()

    opens = []
    for _ in range(SETUP_REPS):
        idx, t = timed(SegmentIndex, spark, idx_dir)
        opens.append(t)
    run.e2e["setup_s"] = (t_pages + secs + stats.median(opens), "s")

    tr.phase = "gates"
    queries = E.queries()
    suite = 0.0
    for name in HEADLINE_GATES:
        with run.jobs.group("gate"):
            t0 = time.perf_counter()
            with tr.span("req"):
                try:
                    got = queries[name](spark, gate_dir).toPandas()
                except Exception as ex:
                    got = ex
            secs = time.perf_counter() - t0
        suite += secs
        run.layer[f"gate.{name}_s"] = (secs, "s")
        ok = not isinstance(got, Exception) and gate_matches(got, gates_expected[name])
        run.tally(ok, f"gate {name}" + (f" raised {got!r}" if isinstance(got, Exception) else ""))
    run.layer["gates.suite_s"] = (suite, "s")
    log(f"gates suite {suite:.2f}s")

    gen = QueryGen(rng, vocabulary_by_df(expected.oracle), docs, zipf=True)

    def check(kind, q, got):
        if isinstance(got, Exception):
            run.tally(False, f"{kind} {q!r} raised {got!r}")
        else:
            run.tally(got == expected(kind, q), f"{kind} {q!r}")

    tr.phase = "warm"
    check(*WARM_QUERY, point_query(run, idx, *WARM_QUERY)[1])

    tr.phase = "point"
    lat = []
    for kind, q in gen.stream(POINT_MIX, POINT_QUERIES):
        secs, got = point_query(run, idx, kind, q)
        lat.append(secs)
        check(kind, q, got)
    p50 = stats.median(lat)
    tail, pct, n = stats.tail(lat)
    run.e2e["query_p50_ms"] = (p50 * 1e3, "ms")
    run.e2e["query_tail_ms"] = (tail * 1e3, "ms")
    log(f"point queries p50 {p50 * 1e3:.0f} ms, p{pct:.1f} {tail * 1e3:.0f} ms (n={n})")

    tr.phase = "batch"
    total_s, total_q = 0.0, 0
    for mode in BATCHES:
        qs = {f"q{i}": gen.query(mode)[1] for i in range(BATCH_SIZE)}
        secs, got = batch_query(run, idx, mode, qs)
        total_s += secs
        total_q += len(qs)
        for qid, q in qs.items():
            check(mode, q, got if isinstance(got, Exception) else got[qid])
    run.e2e["throughput_qps"] = (total_q / total_s, "1/s")
    log(f"batches {total_q / total_s:.1f} q/s")

