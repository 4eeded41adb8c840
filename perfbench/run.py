#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload lake_sql --seed 7 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, sets the engine up, runs
the workload as a closed loop for ``--seconds``, checks the outputs, and
prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
workload again with spans and counters at every layer boundary and reports
the per-layer metrics, including the tracing overhead against the untraced
loop of the same process. The line before the last holds the details
(host, sample counts, tail percentiles, failures); spans and details are
also written under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402


# Set-ups per run, each from a fresh session after one cold start. The
# first set-up in a JVM runs its code paths for the first time and reads
# 1.5-4x slower than the next, so the median of two holds one cold and one
# warm set-up. Two keep a whole run near a minute, inside the time budget.
SETUP_REPS = {"lake_sql": 2, "quote_ingest": 2}

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
}
PER_LAYER = {
    "session.peak_rss_mb": "MiB",
    "session.start_s": "s",
    "session.warm_s": "s",
    "catalog.layouts_s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "queries.py4j_calls": "count",
    "queries.py4j_unrepeated": "count",
    "plan.s": "s",
    "plan.exchanges": "count",
    "plan.broadcasts": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.cpu_s": "s",
    "exec.spill_bytes": "bytes",
    "exec.gc_s": "s",
    "exec.busy_ratio": "ratio",
    "sources.latest_offset_ms": "ms",
    "streaming.plan_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.rows_per_s": "1/s",
    "streaming.first_commit_s": "s",
    "streaming.speedup_vs_1core": "x",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.late_rows_dropped": "count",
    "sink.files": "count",
    "sink.bytes": "bytes",
    "sink.useful_ratio": "ratio",
    "trace.overhead_ratio": "x",
}


class Run:
    """State of one benchmark run: the session, the tracer, the tallies."""

    def __init__(self, args):
        self.args = args
        self.cores = harness.host_cpus()
        self.tracer = harness.Tracer(
            f"{args.workload}-s{args.seed}-{os.getpid()}", bool(args.trace)
        )
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.layers: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.detail: dict = {}
        self.scratch: list[str] = []  # inputs and outputs removed at exit

    def start_session(self) -> float:
        from fineventstream_spark.session import get_spark

        with self.tracer.span("session.start") as s:
            self.spark = get_spark(app_name="perfbench", extra_conf=harness.spark_conf())
            self.spark.sparkContext.setLogLevel("ERROR")
        return s.seconds

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self, prepare, body) -> None:
        """Start the JVM and warm it once, then set up ``SETUP_REPS`` times,
        each from a fresh session on the running JVM; the median is
        ``setup_s``.
        ``prepare`` runs untimed with no session open; ``body`` does the
        workload's own set-up and returns its per-layer seconds."""
        with self.tracer.span("cold_start") as c:
            self.start_session()
            harness.warm_jvm(self.spark)
        self.detail["cold_start_s"] = c.seconds
        totals, parts = [], []
        for rep in range(SETUP_REPS[self.args.workload]):
            self.stop_session()
            prepare()
            with self.tracer.span("setup", rep=rep) as s:
                layer = {"session.start_s": self.start_session()}
                with self.tracer.span("session.warm") as w:
                    harness.warm_jvm(self.spark)
                layer["session.warm_s"] = w.seconds
                layer.update(body())
            totals.append(s.seconds)
            parts.append(layer)
        for k in parts[0]:
            self.layers[k] = statistics.median(p[k] for p in parts)
        self.detail["setup_reps_s"] = totals
        self.e2e["setup_s"] = statistics.median(totals)
        self.detail["host"] = harness.host_record(self.spark)

    def latency(self, lat: dict) -> None:
        """Operation latency goes to the details, not the gated metrics: at
        the sample counts a run affords here, the median drifts with the
        host more than a bound can allow, and the ten-beyond rule puts the
        tail next to the median."""
        self.e2e["op_p50_ms"] = lat["p50"]
        self.e2e["op_tail_ms"] = lat["tail"]
        self.detail["op_tail_pct"] = lat["tail_pct"]
        self.detail["op_samples"] = lat["n"]

    def result(self) -> dict:
        self.layers["session.peak_rss_mb"] = harness.jvm_peak_rss_mb(self.spark)
        wanted = PER_LAYER if self.args.trace else END_TO_END
        source = self.layers if self.args.trace else self.e2e
        # The result must name every metric of its kind; one that does not
        # apply to this workload reads 0 and is listed in the details.
        metrics = {k: harness.metric(source.get(k, 0.0), unit) for k, unit in wanted.items()}
        self.detail["not_applicable"] = sorted(k for k in wanted if k not in source)
        self.detail.update(
            workload=self.args.workload,
            seed=self.args.seed,
            trace=self.args.trace,
            end_to_end=self.e2e,
            failures=self.failures,
        )
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": metrics,
        }


# ------------------------------------------------------------------ lake_sql


def run_lake(run: Run) -> None:
    from fineventstream_spark.registry import all_queries

    from perfbench import lake

    args = run.args
    sf_dir = os.path.join(harness.WORK, "inputs", lake.fixture_name(args.seed))
    run.scratch += [sf_dir, lake.derivative_dir(sf_dir)]
    with run.tracer.span("generate") as g:
        lake.generate(args.seed, sf_dir)
    run.detail["generate_s"] = g.seconds
    registry = all_queries()
    run.setup(
        lambda: lake.clear_derivatives(sf_dir),
        lambda: lake.setup_once(run.spark, sf_dir, registry, run.tracer),
    )
    spark = run.spark

    def tally(loop):
        run.attempted += sum(len(v) for v in loop["samples"].values()) + len(loop["failed"])
        run.failures += loop["failed"]

    with run.tracer.span("check") as ck:
        problems = lake.check(spark, sf_dir, registry)
    run.detail["check_s"] = ck.seconds
    run.attempted += len(lake.QUERIES)
    run.failures += problems
    # One untimed pass of the production forms: a query's first executions
    # compile its generated code and warm the JIT, a once-per-process cost
    # that is neither set-up nor query work (timed first passes read ~30%
    # slower without it).
    with run.tracer.span("warmup_pass") as wp:
        for name in lake.QUERIES:
            lake.materialize(registry[name].fn(spark, sf_dir))
            spark.catalog.clearCache()
    run.detail["warmup_pass_s"] = wp.seconds

    plain = lake.timed_loop(spark, sf_dir, registry, args.seconds, args.seed)
    tally(plain)
    fig = lake.loop_figures(plain)
    run.latency(fig["latency_ms"])
    run.e2e["wall_s"] = fig["wall_s"]
    run.detail["passes"] = fig["passes"]
    run.detail["per_query_ms"] = {
        q: [round(x * 1000.0, 1) for x in v] for q, v in plain["samples"].items()
    }

    if args.trace:
        probe = lake.Probe(spark, sf_dir, registry, run.tracer)
        try:
            traced = lake.timed_loop(spark, sf_dir, registry, args.seconds, args.seed, probe)
            tally(traced)
            run.layers.update(probe.layers(run.cores))
            differ = probe.py4j_repeat()
        finally:
            probe.py4j.close()
        run.layers["queries.py4j_unrepeated"] = len(differ)
        run.detail["py4j_unrepeated"] = differ
        tfig = lake.loop_figures(traced)
        run.layers["trace.overhead_ratio"] = tfig["latency_ms"]["p50"] / fig["latency_ms"]["p50"]


# -------------------------------------------------------------- quote_ingest


def run_quote(run: Run) -> None:
    from perfbench import quote

    args = run.args
    backlog = os.path.join(harness.WORK, "inputs", f"perfbench-quotes-s{args.seed}")
    runs_dir = os.path.join(harness.WORK, "runs", f"quote-s{args.seed}")
    run.scratch += [backlog, runs_dir]

    def generate():
        t0 = time.perf_counter()
        models = quote.generate(args.seed, backlog)
        return models, t0, time.perf_counter()

    def body():
        construct_s, first_s = quote.first_commit_s(
            run.spark, backlog, os.path.join(runs_dir, "setup")
        )
        return {"queries.construct_s": construct_s, "streaming.first_commit_s": first_s}

    # The backlog is written while the JVM cold-starts; each set-up waits
    # for it untimed, so generation stays out of setup_s.
    with ThreadPoolExecutor(1) as pool:
        pending = pool.submit(generate)
        run.setup(pending.result, body)
    models, g0, g1 = pending.result()
    run.tracer.add("generate", g0, g1, None)
    run.detail["generate_s"] = g1 - g0

    def one_drain(name: str, status=None) -> dict:
        """Drain the backlog once and check the sink. With a status reader,
        also take the status-store counters of the drain alone, read before
        the check's own jobs run."""
        run_dir = os.path.join(runs_dir, name)
        if status is not None:
            before, jobs_before = status.stages(), status.job_count()
        with run.tracer.span("drain", label=name) as d:
            res = quote.drain(run.spark, backlog, run_dir, args.seconds)
        stats = quote.batch_stats(res["progress"])
        if status is not None:
            stats["exec"] = harness.stage_delta(before, status.stages())
            stats["exec"]["jobs"] = status.job_count() - jobs_before
        problems, rows_out = quote.check(run.spark, run_dir, models, res["progress"])
        run.attempted += stats["batches"] + 1
        run.failures += [f"{name}: {p}" for p in problems]
        stats["sink"] = quote.sink_layers(run_dir, res["progress"], rows_out)
        stats["progress"] = res["progress"]
        stats["plan"] = res["plan"]
        stats["span"] = d
        return stats

    # The traced run instruments the same drain: its spans come afterwards
    # from the progress reports, and the status store is read only before
    # and after the drain, so tracing adds no work inside the stream.
    plain = one_drain("plain", harness.StatusReader(run.spark) if args.trace else None)
    run.latency(plain["latency_ms"])
    run.e2e["wall_s"] = plain["wall_s"]
    run.detail["rows_per_s"] = plain["rows_per_s"]
    run.detail["batch_ms"] = {
        p["batchId"]: p["durationMs"] for p in plain["progress"]
    }

    if args.trace:
        delta = plain["exec"]
        exchanges, broadcasts = harness.plan_shape(plain["plan"])
        n = len(plain["progress"])
        quote.batch_spans(run.tracer, plain["span"].id, plain["progress"])
        run.layers.update(plain["layers"])
        run.layers.update(plain["sink"])
        run.layers.update(
            {
                "exec.s": statistics.median(
                    p["durationMs"]["addBatch"] for p in plain["progress"]
                ) / 1000.0,
                "exec.jobs": delta["jobs"] / n,
                "exec.stages": delta["stages"] / n,
                "exec.tasks": delta["tasks"] / n,
                "exec.shuffle_write_bytes": delta["shuffle_write_bytes"] / n,
                "exec.input_bytes": delta["input_bytes"] / n,
                "exec.cpu_s": delta["cpu_s"] / n,
                "exec.spill_bytes": delta["spill_bytes"] / n,
                "exec.gc_s": delta["gc_s"] / n,
                "exec.busy_ratio": delta["run_s"] / (plain["span"].seconds * run.cores),
                "plan.s": plain["layers"]["streaming.plan_ms"] / 1000.0,
                "plan.exchanges": exchanges,
                "plan.broadcasts": broadcasts,
                "trace.overhead_ratio": 1.0,
            }
        )
        counter = harness.Py4jCounter(run.spark)
        try:
            counts = []
            for _ in range(2):
                counter.count, counter.active = 0, True
                quote.build_stream(run.spark, backlog)
                counter.active = False
                counts.append(counter.count)
        finally:
            counter.close()
        run.layers["queries.py4j_calls"] = counts[-1]
        run.layers["queries.py4j_unrepeated"] = int(counts[0] != counts[1])
        # single-threaded baseline of the same drain
        run.stop_session()
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        run.start_session()
        single = one_drain("one-core")
        run.layers["streaming.speedup_vs_1core"] = plain["rows_per_s"] / single["rows_per_s"]
        run.detail["rows_per_s_1core"] = single["rows_per_s"]


WORKLOADS = {"lake_sql": run_lake, "quote_ingest": run_quote}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # A terminated run unwinds through the same clean-up as a finished one.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    harness.pin_environment()
    os.environ["SPARK_GRAFT_AUDIT"] = "off"
    try:
        import fineventstream_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    run = Run(args)
    t0 = time.perf_counter()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    try:
        WORKLOADS[args.workload](run)
        result = run.result()
    finally:
        try:
            run.stop_session()
        finally:
            harness.stop_engine()
        for path in run.scratch:
            shutil.rmtree(path, ignore_errors=True)
    if args.trace:
        run.tracer.write(os.path.join(harness.WORK, "traces", f"{tag}.json"))
    run.detail["run_s"] = time.perf_counter() - t0
    os.makedirs(os.path.join(harness.WORK, "results"), exist_ok=True)
    with open(os.path.join(harness.WORK, "results", f"{tag}.json"), "w") as fh:
        json.dump({"result": result, "detail": run.detail}, fh, indent=1, default=str)
    print(json.dumps({"detail": run.detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
