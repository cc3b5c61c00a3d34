"""Tests of the benchmark's own arithmetic and inputs.

    python -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.common import open_loop  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def sleep(self, dt):
        self.t += dt


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = list(range(100))
    value, pct, n = stats.tail(xs)
    assert (value, pct, n) == (89.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10
    value, pct, n = stats.tail(list(range(11)))
    assert (value, n) == (0.0, 11)
    with pytest.raises(ValueError):
        stats.tail(list(range(10)))


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 9.0, 3.0] * 5
    assert stats.tail(xs) == stats.tail(sorted(xs))


def test_span_self_times_subtract_children():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    tr.phase = "p"
    with tr.span("req"):
        clock.t += 1
        with tr.span("a"):
            clock.t += 2
            with tr.span("b"):
                clock.t += 3
            clock.t += 1
        with tr.span("b"):
            clock.t += 4
        clock.t += 0.5
    selfs = dict(zip(range(4), tr.self_times()))
    assert selfs == {0: 1.5, 1: 3.0, 2: 3.0, 3: 4.0}
    s = tr.phase_summary("p")
    assert s["requests"] == 1 and s["wall"] == 11.5
    assert s["self"] == {"req": 1.5, "a": 3.0, "b": 7.0}
    # self times of one request add up to its wall time
    assert sum(s["self"].values()) == s["wall"]
    assert set(tr.rids) == {0}


def test_spans_of_separate_requests_get_separate_ids_and_phases():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    tr.phase = "x"
    with tr.span("req"):
        with tr.span("a"):
            clock.t += 1
    tr.phase = "y"
    with tr.span("req"):
        clock.t += 2
    assert tr.rids == [0, 0, 1]
    assert tr.phase_of == {0: "x", 1: "y"}
    assert tr.phase_summary("y") == {
        "requests": 1, "wall": 2.0, "self": {"req": 2.0}, "spans": {"req": 1}
    }


def test_open_loop_charges_queueing_from_due_time():
    clock = FakeClock()
    cost = {0: 3.0, 1: 0.5, 2: 0.5, 3: 0.5, 4: 0.5}

    def serve(i):
        clock.t += cost[i]

    lat, late = open_loop(range(5), rate=1.0, serve=serve, clock=clock, sleep=clock.sleep)
    # due at 0,1,2,3,4; request 0 stalls until 3, so the rest queue behind
    # it and each is charged its wait: sent at 3, 3.5, 4, 4.5
    assert lat == [3.0, 2.5, 2.0, 1.5, 1.0]
    assert late == [0.0, 2.0, 1.5, 1.0, 0.5]


def test_open_loop_waits_for_due_time_when_idle():
    clock = FakeClock()
    lat, late = open_loop(range(3), rate=2.0, serve=lambda i: None,
                          clock=clock, sleep=clock.sleep)
    assert lat == [0.0, 0.0, 0.0] and late == [0.0, 0.0, 0.0]
    assert clock.t == 1.0


def test_seeds_vary_corpus_text_and_repeat_exactly():
    from perfbench.inputs import doc_ids, pages_frame

    a1, a2, b = pages_frame(1, 0, 20), pages_frame(1, 0, 20), pages_frame(2, 0, 20)
    assert list(a1.text) == list(a2.text)
    assert list(a1.url) == list(a2.url)
    assert not set(a1.text) & set(b.text)
    # base and delta slots of one seed are disjoint id ranges
    assert not set(doc_ids(1, 0, 100)) & set(doc_ids(1, 1, 100))


def test_query_streams_repeat_for_a_seed():
    import random

    from perfbench.inputs import SERVE_MIX, QueryGen

    terms = [f"term{i:03d}" for i in range(50)]
    docs = [(1, "alpha beta gamma delta"), (2, "beta gamma")]
    s1 = QueryGen(random.Random(7), terms, docs, zipf=True).stream(SERVE_MIX, 200)
    s2 = QueryGen(random.Random(7), terms, docs, zipf=True).stream(SERVE_MIX, 200)
    assert s1 == s2
    assert {k for k, _ in s1} == set(SERVE_MIX)


def _spliced_blocks(n_base, n_delta):
    """Blocks of a base list, a delta list and their promote splice."""
    import dataclasses

    import numpy as np

    from honeywell_search_engine_spark.index import codec
    from honeywell_search_engine_spark.index.promote import splice_encoded
    from perfbench.serve import row_blocks

    def enc(docids):
        d = np.asarray(docids, dtype=np.uint64)
        ones = np.ones(d.size, dtype=np.uint64)
        return codec.encode_postings(d, ones, ones * 7, 7.0)

    base = enc(np.arange(1, n_base + 1) * 3)
    delta = enc(np.arange(n_delta) * 2)
    out = splice_encoded(base, delta, lid_offset=3 * n_base + 10)
    return [row_blocks(dataclasses.asdict(e)) for e in (base, delta, out)]


def test_promote_passthrough_general_seam():
    from honeywell_search_engine_spark.index.codec import BLOCK
    from perfbench.serve import passed_through

    # the base's trailing partial block and the whole delta re-encode
    base, delta, out = _spliced_blocks(BLOCK + 5, 20)
    before = {("t", 0): base + delta}
    assert passed_through(before, {("t", 0): out}) == (BLOCK, BLOCK + 25)


def test_promote_passthrough_seam_free():
    from honeywell_search_engine_spark.index.codec import BLOCK
    from perfbench.serve import passed_through

    # base ends on a block boundary: only the delta's block 0 re-encodes
    base, delta, out = _spliced_blocks(2 * BLOCK, BLOCK + 3)
    before = {("t", 0): base + delta}
    assert passed_through(before, {("t", 0): out}) == (2 * BLOCK + 3, 3 * BLOCK + 3)
    # a list the promote did not touch passes through whole
    assert passed_through({("u", 1): base}, {("u", 1): base}) == (2 * BLOCK, 2 * BLOCK)


def test_websearch_parse_is_an_analyzer_span_inside_requests_only():
    from honeywell_search_engine_spark.functions import analyzer as A
    from perfbench.instrument import install

    tr = Tracer()
    orig = A.parse_websearch_query
    uninstall = install(tr)
    try:
        A.parse_websearch_query("alpha -beta")  # outside a request
        with tr.span("req"):
            A.parse_websearch_query('"alpha beta" or gamma')
    finally:
        uninstall()
    assert A.parse_websearch_query is orig
    assert tr.names == ["req", "analyzer"]
    assert tr.parents == [-1, 0]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.common import prepare_env, start_spark, stop_spark

    work = str(tmp_path_factory.mktemp("work"))
    prepare_env(work)
    s = start_spark(work)
    yield s
    stop_spark(s)


def test_job_counters_see_the_jobs_of_a_collect(spark):
    from pyspark.sql import functions as F

    from perfbench.sparkjobs import JobCounters

    jc = JobCounters(spark)
    with jc.group("probe"):
        spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 3).alias("k")).count().collect()
    got = jc.per_op("probe")
    assert got["jobs"] >= 1
    assert got["stages"] >= 1 and got["tasks"] >= 1
    assert got["shuffle_bytes"] > 0
    with jc.group("probe"):
        pass  # an operation that runs no job
    assert jc.totals["probe"][0] == 2
    assert jc.per_op("probe")["jobs"] == got["jobs"] / 2


def test_benchmark_json_lists_every_reported_metric():
    import json

    from perfbench.run import END_TO_END, PER_LAYER

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"serve", "spark"}
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
