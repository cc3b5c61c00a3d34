"""Workload `serve`: the Spark-free serving node, then the LSM ingest path
under it.

1. Build a base index over the seeded corpus (Spark, ``build_segments``).
2. Open ``query.local.ServingIndex`` and attach the text store, several
   times. ``setup_s`` is page generation + build + the median open.
3. A pool of distinct queries, Zipf over the corpus vocabulary, mixing
   AND, OR, websearch, phrase, ordered and unordered NEAR, 10% full
   ``search_response`` rows and a few all-stopword queries. One warm-up
   pass over the pool, then ROUNDS rounds of a closed-loop window (one
   client, back to back: capacity and per-request latency) and an
   open-loop window at 30% of that capacity (latency timed from each
   request's due time). Each figure is the median over the rounds, so a
   stall of a shared machine moves one round only, and the offered load
   follows the machine's state. The end-to-end latency figures are the
   closed-loop ones: open-loop latency also charges every request queued
   behind a burst of CPU steal or a late timer wake-up on a shared host,
   which moved its tail by 2x from run to run, so it is reported per
   layer.
4. Ingest (traced run only): build a delta generation over new documents
   and serve base+delta through ``query.generations.GenerationSet``; fold
   it in with ``promote_generation``; tombstone 5% of the documents and
   ``compact``; ``ServingIndex.reload()``; then a first-touch stream,
   uniform over the vocabulary, so nearly every (term, shard) lookup is an
   Arrow read plus a decode.

Every query result is checked against ``OracleIndex`` over the corpus the
index holds at that point.
"""

from __future__ import annotations

import os
import random
import time

from perfbench import stats
from perfbench.common import (
    build_index,
    log,
    open_loop,
    record_build,
    settle_heap,
    timed,
)
from perfbench.inputs import (
    POINT_MIX,
    SERVE_MIX,
    QueryGen,
    indexed_docs,
    pages_frame,
    vocabulary_by_df,
    write_docs_store,
    write_pages,
)
from perfbench.oracles import K, Expected

BASE_DOCS = 1000
DELTA_DOCS = 100
SETUP_REPS = 5
POOL_QUERIES = 1000  # the warm node's query stream, replayed by the rounds
CLOSED_SHARE = 0.5  # closed-loop time, as a share of the open-loop time
OPEN_LOAD = 0.3  # open-loop rate, as a share of the closed-loop capacity
ROUNDS = 5  # each figure is the median over this many rounds
GEN_QUERIES = 30
FIRST_TOUCH_QUERIES = 100
TOMBSTONE_EVERY = 20
FIRST_TOUCH_MIX = {k: v for k, v in SERVE_MIX.items() if k != "stopwords"}


def call(sv, kind: str, q: str):
    if kind in ("and", "stopwords"):
        return sv.search(q, k=K)
    if kind == "or":
        return sv.search(q, k=K, mode="or")
    if kind == "websearch":
        return sv.search_websearch(q, k=K)
    if kind == "phrase":
        return sv.search_phrase(q, k=K, slop=0)
    if kind == "near":
        return sv.search_phrase(q, k=K, slop=2)
    if kind == "near_unordered":
        return sv.search_near_unordered(q, k=K, dist=3)
    if kind == "response":
        return [(r[1], r[2]) for r in sv.search_response(q, k=K)]
    raise ValueError(f"unknown query kind {kind!r}")


class Client:
    """Sends queries to one node, keeps each answer (or the exception) for
    the check after the timed phase."""

    def __init__(self, run, node):
        self.run = run
        self.node = node
        self.answers: list = []

    def __call__(self, req) -> None:
        kind, q = req
        with self.run.tr.span("req"):
            try:
                got = call(self.node, kind, q)
            except Exception as ex:  # a failed request is counted, not fatal
                got = ex
        self.answers.append((kind, q, got))

    def check(self, expected: Expected) -> None:
        for kind, q, got in self.answers:
            if isinstance(got, Exception):
                self.run.tally(False, f"{kind} {q!r} raised {got!r}")
            else:
                self.run.tally(got == expected(kind, q), f"{kind} {q!r}")
        self.answers.clear()


def closed_window(client, pool, start: int, seconds: float):
    """Requests from `pool` (from index `start`, wrapping) back to back for
    `seconds`; returns (per-request latencies, completed requests per
    second, next index)."""
    lat = []
    t0 = time.perf_counter()
    end = t0 + seconds
    i = start
    while True:
        s = time.perf_counter()
        client(pool[i % len(pool)])
        now = time.perf_counter()
        lat.append(now - s)
        i += 1
        if now >= end:
            return lat, (i - start) / (now - t0), i


def serve_rounds(client, pool, seconds: float) -> dict:
    """ROUNDS rounds of a closed-loop window followed by an open-loop
    window at OPEN_LOAD of the capacity the closed window just measured.
    Every figure is the median over the rounds of that round's figure."""
    per: dict[str, list] = {k: [] for k in (
        "capacity", "p50", "tail", "open_p50", "open_tail", "late")}
    pos = 0
    for _ in range(ROUNDS):
        lat, cap, pos = closed_window(client, pool, pos, CLOSED_SHARE * seconds / ROUNDS)
        rate = OPEN_LOAD * cap
        n = int(rate * seconds / ROUNDS)
        olat, late = open_loop([pool[(pos + i) % len(pool)] for i in range(n)], rate, client)
        pos += n
        per["capacity"].append(cap)
        per["p50"].append(stats.median(lat))
        per["tail"].append(stats.tail(lat)[0])
        per["open_p50"].append(stats.median(olat))
        per["open_tail"].append(stats.tail(olat)[0])
        per["late"].append(stats.tail(late)[0])
    out = {k: stats.median(v) for k, v in per.items()}
    out["tail_pct"], out["tail_n"] = stats.tail(lat)[1], len(lat)
    out["open_tail_pct"], out["open_tail_n"] = stats.tail(olat)[1], len(olat)
    return out


def timed_each(client, stream) -> list[float]:
    lat = []
    for req in stream:
        s = time.perf_counter()
        client(req)
        lat.append(time.perf_counter() - s)
    return lat


def run_serve(run, spark) -> None:
    from honeywell_search_engine_spark.query.local import ServingIndex

    tr = run.tr
    rng = random.Random(run.seed)

    # ---- set-up: pages and text store, build, open -----------------------
    t0 = time.perf_counter()
    base_pdf = pages_frame(run.seed, 0, BASE_DOCS)
    base_pages = run.path("base.parquet")
    write_pages(base_pdf, base_pages)
    base_docs = indexed_docs(base_pdf)
    store = run.path("docs_store.parquet")
    write_docs_store(base_docs, store)
    t_pages = time.perf_counter() - t0

    idx = run.path("index")
    tr.phase = "build"
    with run.jobs.group("build"):
        secs, n_docs = build_index(spark, base_pages, idx)
    record_build(run, idx, secs, n_docs)
    log(f"pages {t_pages:.1f}s, base build {secs:.1f}s, {n_docs} docs")
    expected = Expected(base_docs)
    settle_heap()

    def open_node():
        sv = ServingIndex(idx)
        sv.attach_docs(store)
        return sv

    opens = []
    for _ in range(SETUP_REPS):
        sv, t = timed(open_node)
        opens.append(t)
    run.e2e["setup_s"] = (t_pages + secs + stats.median(opens), "s")

    # ---- warm node: rounds of closed and open loop ---------------------
    gen = QueryGen(rng, vocabulary_by_df(expected.oracle), base_docs, zipf=True)
    client = Client(run, sv)
    pool = gen.stream(SERVE_MIX, POOL_QUERIES)
    tr.phase = "warm"  # one pass: every (term, shard) of the pool decoded
    for req in pool:
        client(req)
    tr.phase = "serve"
    got = serve_rounds(client, pool, run.seconds)
    client.check(expected)
    run.e2e["throughput_qps"] = (got["capacity"], "1/s")
    run.e2e["query_p50_ms"] = (got["p50"] * 1e3, "ms")
    run.e2e["query_tail_ms"] = (got["tail"] * 1e3, "ms")
    run.layer["serve.open_p50_ms"] = (got["open_p50"] * 1e3, "ms")
    run.layer["serve.open_tail_ms"] = (got["open_tail"] * 1e3, "ms")
    run.layer["serve.late_ms"] = (got["late"] * 1e3, "ms")
    run.layer["local.lru_bytes"] = (float(sv._dec_bytes), "B")
    log(f"closed loop: {got['capacity']:.0f} q/s, p50 {got['p50'] * 1e3:.2f} ms, "
        f"p{got['tail_pct']:.1f} {got['tail'] * 1e3:.2f} ms (n={got['tail_n']}); "
        f"open loop at {OPEN_LOAD:.0%}: p50 {got['open_p50'] * 1e3:.2f} ms, "
        f"p{got['open_tail_pct']:.1f} {got['open_tail'] * 1e3:.2f} ms "
        f"(n={got['open_tail_n']}); medians over {ROUNDS} rounds")

    # Every figure of the ingest path is per-layer, so only the traced run
    # pays its ~25 s of Spark jobs (the untraced runs must fit the budget).
    if run.traced:
        ingest(run, spark, idx, sv, gen, base_docs)


def ingest(run, spark, idx: str, sv, gen: QueryGen, base_docs) -> None:
    """Generation build + GenerationSet, promote, tombstones + compact,
    reload, then the first-touch stream."""
    from honeywell_search_engine_spark.index.maintenance import compact, delete_docs
    from honeywell_search_engine_spark.index.promote import (
        build_generation,
        promote_generation,
    )
    from honeywell_search_engine_spark.query.generations import GenerationSet

    tr, jobs = run.tr, run.jobs
    delta_pdf = pages_frame(run.seed, 1, DELTA_DOCS)
    delta_pages = run.path("delta.parquet")
    write_pages(delta_pdf, delta_pages)
    delta_docs = indexed_docs(delta_pdf)

    gen_dir = run.path("generation")
    tr.phase = "fresh"
    _, t_gen = timed(build_generation, spark, delta_pages, gen_dir, idx)
    gset, t_open = timed(GenerationSet, [idx, gen_dir])
    run.layer["fresh.docs_per_s"] = (len(delta_docs) / (t_gen + t_open), "1/s")
    run.layer["generations.open_ms"] = (t_open * 1e3, "ms")
    expected_all = Expected(base_docs + delta_docs)
    settle_heap()
    gclient = Client(run, gset)
    glat = timed_each(gclient, gen.stream(POINT_MIX, GEN_QUERIES))
    gclient.check(expected_all)
    run.layer["generations.query_p50_ms"] = (stats.median(glat) * 1e3, "ms")
    del gset, gclient

    before = segment_blocks(idx)
    for key, blocks in segment_blocks(gen_dir).items():
        before.setdefault(key, []).extend(blocks)
    tr.phase = "promote"
    with jobs.group("promote"):
        summary, t_promote = timed(promote_generation, spark, idx, gen_dir)
    kept, total = passed_through(before, segment_blocks(idx))
    run.layer["promote.s"] = (t_promote, "s")
    run.layer["promote.docs_per_s"] = (summary["docs_added"] / t_promote, "1/s")
    run.layer["promote.reencoded_postings"] = (float(total - kept), "count")
    run.layer["promote.passthrough_frac"] = (kept / total, "ratio")

    import pyarrow.parquet as pq

    live = pq.read_table(os.path.join(idx, "docmap"), columns=["docid"])
    docids = sorted(live.column("docid").to_pylist())
    victims = docids[::TOMBSTONE_EVERY]
    delete_docs(idx, victims, reason="benchmark")
    tr.phase = "compact"
    t0 = time.time()
    with jobs.group("compact"):
        _, t_compact = timed(compact, spark, idx)
    run.layer["compact.s"] = (t_compact, "s")
    run.layer["compact.docs_per_s"] = (len(docids) / t_compact, "1/s")
    run.layer["compact.bytes_rewritten"] = (float(_bytes_written_since(idx, t0)), "B")
    log(f"generation {t_gen:.1f}s + open {t_open * 1e3:.0f} ms, promote "
        f"{t_promote:.1f}s, compact {t_compact:.1f}s")

    _, t_reload = timed(sv.reload)
    run.layer["local.reload_ms"] = (t_reload * 1e3, "ms")
    gone = set(victims)
    expected_now = Expected([d for d in base_docs + delta_docs if d[0] not in gone])
    cold = QueryGen(gen.rng, vocabulary_by_df(expected_now.oracle), base_docs, zipf=False)
    settle_heap()
    client = Client(run, sv)
    tr.phase = "first_touch"
    flat = timed_each(client, cold.stream(FIRST_TOUCH_MIX, FIRST_TOUCH_QUERIES))
    client.check(expected_now)
    run.layer["ingest.query_p50_ms"] = (stats.median(flat) * 1e3, "ms")
    run.layer["ingest.query_tail_ms"] = (stats.tail(flat)[0] * 1e3, "ms")


def segment_blocks(index_dir: str) -> dict:
    """(term, shard) -> row_blocks of each of an index's segment rows."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(index_dir, "segments"),
        columns=["term", "shard", "n", "d_off", "t_off", "l_off", "p_off",
                 "deltas", "tfs", "doclens", "positions"],
    )
    return {(r["term"], r["shard"]): row_blocks(r) for r in t.to_pylist()}


def row_blocks(r) -> list[tuple[tuple, int]]:
    """[(block bytes, postings)] of one encoded posting list. A block's
    bytes are its slices of every encoded stream (deltas, tfs, doclens and
    positions)."""
    from honeywell_search_engine_spark.index.codec import BLOCK

    streams = [(r["deltas"], r["d_off"]), (r["tfs"], r["t_off"]),
               (r["doclens"], r["l_off"])]
    if r["p_off"] is not None:
        streams.append((r["positions"], r["p_off"]))
    nb = len(r["d_off"])
    return [
        (
            tuple(s[o[b]:o[b + 1] if b + 1 < nb else len(s)] for s, o in streams),
            min(BLOCK, r["n"] - b * BLOCK),
        )
        for b in range(nb)
    ]


def passed_through(before: dict, after: dict) -> tuple[int, int]:
    """(postings in blocks of `after` whose bytes equal a block that
    `before` holds for the same (term, shard), all postings of `after`)."""
    kept = total = 0
    for key, blocks in after.items():
        old = {b for b, _ in before.get(key, ())}
        for b, n in blocks:
            total += n
            if b in old:
                kept += n
    return kept, total


def _bytes_written_since(root: str, t0: float) -> int:
    return sum(
        os.path.getsize(p)
        for r, _, fs in os.walk(root)
        for f in fs
        if os.path.getmtime(p := os.path.join(r, f)) >= t0
    )
