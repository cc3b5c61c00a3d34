"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve,spark} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run records spans and Spark job counters and reports the per-layer ones
(see README.md). Progress goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    HEADLINE_GATES, WORK, Run, log, peak_rss_mb, prepare_env, start_spark, stop_spark,
)

WORKLOADS = ("serve", "spark")
SPARK_KINDS = ("point", "batch", "build", "gate", "promote", "compact")
SPARK_FIELDS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("task_ms", "ms"), ("input_bytes", "B"), ("shuffle_bytes", "B"),
)

END_TO_END = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "query_tail_ms": "ms",
    "throughput_qps": "1/s",
    "build_docs_per_s": "1/s",
    "index_bytes_per_posting": "B",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "analyzer.ms": "ms",
    "local.kernel_ms": "ms",
    "local.read_ms": "ms",
    "local.read_bytes": "B",
    "local.decode_per_lookup": "ratio",
    "local.lru_bytes": "B",
    "local.reload_ms": "ms",
    "codec.decode_ms": "ms",
    "codec.decode_postings": "count",
    "respond.ms": "ms",
    "wand.plan_ms": "ms",
    "wand.exec_ms": "ms",
    "wand.batch_plan_ms": "ms",
    "wand.batch_exec_ms": "ms",
    "segments.idf_ms": "ms",
    "build.phase1_s": "s",
    "build.phase2_s": "s",
    "segments.bytes": "B",
    "segments.postings": "count",
    **{
        f"spark.{kind}.{field}_per_op": unit
        for kind in SPARK_KINDS
        for field, unit in SPARK_FIELDS
    },
    "generations.open_ms": "ms",
    "generations.query_p50_ms": "ms",
    "fresh.docs_per_s": "1/s",
    "promote.s": "s",
    "promote.docs_per_s": "1/s",
    "promote.reencoded_postings": "count",
    "promote.passthrough_frac": "ratio",
    "compact.s": "s",
    "compact.docs_per_s": "1/s",
    "compact.bytes_rewritten": "B",
    "ingest.query_p50_ms": "ms",
    "ingest.query_tail_ms": "ms",
    **{f"gate.{g}_s": "s" for g in HEADLINE_GATES},
    "gates.suite_s": "s",
    "serve.open_p50_ms": "ms",
    "serve.open_tail_ms": "ms",
    "serve.late_ms": "ms",
    "trace.query_p50_ms": "ms",
    "trace.unattributed_pct": "%",
    "trace.overhead_pct": "%",
}

# the phase whose requests the end-to-end latency is taken over
MAIN_PHASE = {"serve": "serve", "spark": "point"}


def layer_metrics(run, workload: str, tracer, counters) -> None:
    """Derive the per-layer figures from the spans and counters."""
    from perfbench.spans import span_cost

    phases = {p: tracer.phase_summary(p) for p in ("serve", "first_touch", "point", "batch")}

    def per_req(phase, name, spans=None):
        """Self time of span `name` in ms per request of `phase` (or per
        span named `spans`)."""
        s = phases[phase]
        n = s["spans"].get(spans, 0) if spans else s["requests"]
        return s["self"].get(name, 0.0) / n * 1e3 if n else 0.0

    def count(phase, name):
        n = phases[phase]["requests"]
        return tracer.counts.get((phase, name), 0.0) / n if n else 0.0

    L = run.layer
    L["analyzer.ms"] = (per_req("serve", "analyzer"), "ms")
    L["local.kernel_ms"] = (per_req("serve", "local.search"), "ms")
    L["respond.ms"] = (per_req("serve", "respond", spans="respond"), "ms")
    lookups = count("serve", "local.lookups")
    L["local.decode_per_lookup"] = (count("serve", "codec.decodes") / lookups if lookups else 0.0, "ratio")
    L["local.read_ms"] = (per_req("first_touch", "local.read"), "ms")
    L["local.read_bytes"] = (count("first_touch", "local.read_bytes"), "B")
    L["codec.decode_ms"] = (per_req("first_touch", "codec.decode"), "ms")
    L["codec.decode_postings"] = (count("first_touch", "codec.decode_postings"), "count")
    L["wand.plan_ms"] = (per_req("point", "wand.plan"), "ms")
    L["wand.exec_ms"] = (per_req("point", "wand.exec"), "ms")
    L["segments.idf_ms"] = (per_req("point", "segments.idf"), "ms")
    L["wand.batch_plan_ms"] = (per_req("batch", "wand.batch_plan"), "ms")
    L["wand.batch_exec_ms"] = (per_req("batch", "wand.batch_exec"), "ms")
    for kind in SPARK_KINDS:
        got = counters.per_op(kind)
        for field, unit in SPARK_FIELDS:
            L[f"spark.{kind}.{field}_per_op"] = (got[field], unit)

    main = phases[MAIN_PHASE[workload]]
    wall = main["wall"]
    root_self = main["self"].get("req", 0.0)
    n_spans = sum(main["spans"].values())
    L["trace.query_p50_ms"] = (run.e2e["query_p50_ms"][0], "ms")
    L["trace.unattributed_pct"] = (100.0 * root_self / wall if wall else 0.0, "%")
    L["trace.overhead_pct"] = (100.0 * n_spans * span_cost() / wall if wall else 0.0, "%")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    try:
        import honeywell_search_engine_spark  # noqa: F401
    except ImportError as ex:
        log(f"the engine package is not importable from the checkout: {ex}")
        return 2

    os.makedirs(WORK, exist_ok=True)
    prepare_env(WORK)
    from perfbench.sparkjobs import JobCounters, NoCounters
    from perfbench.spans import NullTracer, Tracer

    traced = bool(args.trace)
    tracer = Tracer() if traced else NullTracer()
    spark = start_spark(WORK)
    log("spark session up")
    uninstall = None
    run = None
    try:
        counters = JobCounters(spark) if traced else NoCounters()
        run = Run(args.workload, args.seed, args.seconds, traced, tracer, counters)
        if traced:
            from perfbench.instrument import install

            uninstall = install(tracer)
        if args.workload == "serve":
            from perfbench.serve import run_serve

            run_serve(run, spark)
        else:
            from perfbench.sparkq import run_spark

            run_spark(run, spark)
        run.e2e["peak_rss_mb"] = (peak_rss_mb(), "MB")
        if traced:
            uninstall()
            uninstall = None
            layer_metrics(run, args.workload, tracer, counters)
            for name, unit in PER_LAYER.items():
                run.layer.setdefault(name, (0.0, unit))
            out = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
            tracer.dump(out)
            log(f"spans written to {out}")
        missing = set(END_TO_END) - set(run.e2e)
        if missing:
            raise RuntimeError(f"metrics not measured: {sorted(missing)}")
        result = run.result()
    finally:
        if uninstall is not None:
            uninstall()
        stop_spark(spark)
        if run is not None:
            run.close()
        shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)
    log("done")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
