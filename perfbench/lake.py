"""lake_sql: a pinned mix of the [P] relational and time-series queries over
a generated TPC-H-shaped fixture, run as a closed loop from one process.

The mix is pinned here, not read from ``bench.HEADLINE``, so an edit to the
bench's headline list cannot silently change the workload. It keeps the
heavy and layout-dependent members of the headline set: the construction-
heavy aggregates, the bucketed TPC-H reports, the as-of join, windows, the
rolling z-score and the Python heavy-hitter pass.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import math
import os
import random
import shutil
import statistics
import sys
import time

from perfbench import harness

SF = 0.01
QUERIES = (
    "q_agg_stats",
    "q_agg_kll_quantile_rollup",
    "q_event_rolling_zscore",
    "q_report_shipping_priority",
    "q_report_pricing_summary",
    "q_join_asof",
    "q_win_rank",
)
# Derivatives none of the pinned queries read; the rest are built in set-up.
PREWARM_SKIP = (
    "events_jsonl",
    "events_partitioned",
    "documents_drift",
    "events_nested",
    "events_shredded",
    "partkey_layouts",
    "q5_prejoin_layout",
    "sink",
    "orders_csv",
    "lineitem_orc",
)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


def fixture_name(seed: int) -> str:
    """Benchmark-owned directory name; the engine keys its derivative cache
    on it (``.cache/<name>``), so it never meets the tests' or bench's."""
    return f"perfbench-lake-s{seed}"


def generate(seed: int, out: str) -> None:
    sys.path.insert(0, os.path.join(harness.ROOT, "scripts"))
    import gen_sf

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    with contextlib.redirect_stdout(io.StringIO()):
        gen_sf.generate(SF, tmp, seed=seed, tables=set(TABLES))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def derivative_dir(sf_dir: str) -> str:
    return os.path.join(harness.ROOT, ".cache", os.path.basename(sf_dir))


def clear_derivatives(sf_dir: str) -> None:
    shutil.rmtree(derivative_dir(sf_dir), ignore_errors=True)


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def setup_once(spark, sf_dir: str, registry, tracer) -> dict:
    """Layouts plus one construction-only call per query (which builds any
    lazy on-disk derivative). Returns the seconds of each part."""
    from fineventstream_spark.queries.scans import prewarm_derivatives

    os.environ["SPARK_GRAFT_PREWARM_SKIP"] = ",".join(PREWARM_SKIP)
    with tracer.span("catalog.layouts") as lay:
        prewarm_derivatives(spark, sf_dir)
    with tracer.span("queries.construct_all") as con:
        for name in QUERIES:
            with tracer.span("construct", query=name):
                registry[name].fn(spark, sf_dir)
            spark.catalog.clearCache()
    return {"catalog.layouts_s": lay.seconds, "queries.construct_s": con.seconds}


def pass_order(seed: int, n_pass: int) -> list[str]:
    order = list(QUERIES)
    random.Random(seed * 1000 + n_pass).shuffle(order)
    return order


def timed_loop(spark, sf_dir, registry, seconds, seed, probe=None) -> dict:
    """Closed loop over the mix, each pass in its own seeded order, until
    ``seconds`` have passed and at least one pass is whole. ``probe``
    (traced runs) replaces the plain construct-and-execute step with the
    instrumented one."""
    samples: dict[str, list[float]] = {q: [] for q in QUERIES}
    passes, failed = [], []
    deadline = time.perf_counter() + seconds
    n = 0
    while n == 0 or time.perf_counter() < deadline:
        p0 = time.perf_counter()
        for name in pass_order(seed, n):
            if passes and time.perf_counter() >= deadline:
                break
            t0 = time.perf_counter()
            try:
                if probe is None:
                    materialize(registry[name].fn(spark, sf_dir))
                else:
                    probe(name)
            except Exception as exc:  # noqa: BLE001 — a failed query is a counted failure
                failed.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
                print(f"# {name} FAILED: {exc}", file=sys.stderr)
            else:
                samples[name].append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        else:
            passes.append(time.perf_counter() - p0)
        n += 1
    return {"samples": samples, "passes": passes, "failed": failed}


def loop_figures(loop: dict) -> dict:
    """Latency over every sample; a pass of the mix as the sum of each
    query's median, which uses the partial last pass too."""
    lat = harness.latency_summary(
        [s * 1000.0 for v in loop["samples"].values() for s in v]
    )
    wall = sum(statistics.median(v) for v in loop["samples"].values() if v)
    return {"latency_ms": lat, "wall_s": wall, "passes": len(loop["passes"])}


# ------------------------------------------------------------------ traced


class Probe:
    """Construct, plan and execute one query with a span and counters at
    each boundary."""

    def __init__(self, spark, sf_dir, registry, tracer):
        self.spark, self.sf_dir, self.registry, self.tracer = spark, sf_dir, registry, tracer
        self.status = harness.StatusReader(spark)
        self.py4j = harness.Py4jCounter(spark)
        self.records: dict[str, list[dict]] = {q: [] for q in QUERIES}

    def __call__(self, name: str) -> None:
        sc = self.spark.sparkContext
        rec = {}
        with self.tracer.span("query", query=name):
            group = f"perfbench-{name}-{len(self.records[name])}"
            sc.setJobGroup(group + "-c", name)
            self.py4j.count, self.py4j.active = 0, True
            with self.tracer.span("construct") as c:
                df = self.registry[name].fn(self.spark, self.sf_dir)
            self.py4j.active = False
            rec["py4j_calls"] = self.py4j.count
            with self.tracer.span("plan") as p:
                plan = df._jdf.queryExecution().executedPlan()
            rec["exchanges"], rec["broadcasts"] = harness.plan_shape(plan.toString())
            stages1 = self.status.stages()
            sc.setJobGroup(group + "-x", name)
            with self.tracer.span("execute") as x:
                materialize(df)
            stages2 = self.status.stages()
            tracker = sc.statusTracker()
            rec["construct_jobs"] = len(tracker.getJobIdsForGroup(group + "-c"))
            rec["exec_jobs"] = len(tracker.getJobIdsForGroup(group + "-x"))
            rec.update(construct_s=c.seconds, plan_s=p.seconds, exec_s=x.seconds)
            rec["exec_stages"] = harness.stage_delta(stages1, stages2)
            sc.setJobGroup("", "")
        self.records[name].append(rec)

    def py4j_repeat(self) -> dict[str, list[int]]:
        """Construct each query twice more, counting py4j calls each time;
        returns the queries whose two counts differ."""
        differ = {}
        for name in QUERIES:
            counts = []
            for _ in range(2):
                self.py4j.count, self.py4j.active = 0, True
                self.registry[name].fn(self.spark, self.sf_dir)
                self.py4j.active = False
                counts.append(self.py4j.count)
                self.spark.catalog.clearCache()
            if counts[0] != counts[1]:
                differ[name] = counts
        return differ

    def layers(self, cores: int) -> dict:
        """Per-pass figures: each query's median over its traced samples,
        summed over the mix."""

        def per_pass(get):
            return sum(statistics.median([get(r) for r in recs]) for recs in self.records.values() if recs)

        exec_s = per_pass(lambda r: r["exec_s"])
        run_s = per_pass(lambda r: r["exec_stages"]["run_s"])
        return {
            "queries.construct_s": per_pass(lambda r: r["construct_s"]),
            "queries.construct_jobs": per_pass(lambda r: r["construct_jobs"]),
            "queries.py4j_calls": per_pass(lambda r: r["py4j_calls"]),
            "plan.s": per_pass(lambda r: r["plan_s"]),
            "plan.exchanges": per_pass(lambda r: r["exchanges"]),
            "plan.broadcasts": per_pass(lambda r: r["broadcasts"]),
            "exec.s": exec_s,
            "exec.jobs": per_pass(lambda r: r["exec_jobs"]),
            "exec.stages": per_pass(lambda r: r["exec_stages"]["stages"]),
            "exec.tasks": per_pass(lambda r: r["exec_stages"]["tasks"]),
            "exec.shuffle_write_bytes": per_pass(lambda r: r["exec_stages"]["shuffle_write_bytes"]),
            "exec.input_bytes": per_pass(lambda r: r["exec_stages"]["input_bytes"]),
            "exec.cpu_s": per_pass(lambda r: r["exec_stages"]["cpu_s"]),
            "exec.spill_bytes": per_pass(lambda r: r["exec_stages"]["spill_bytes"]),
            "exec.gc_s": per_pass(lambda r: r["exec_stages"]["gc_s"]),
            "exec.busy_ratio": run_s / (exec_s * cores) if exec_s else 0.0,
        }


# ------------------------------------------------------------------- check


def _norm(v):
    import datetime as dt
    import decimal

    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        # + 0.0 folds -0.0 into 0.0, which compare equal but print apart
        return "NaN" if math.isnan(v) else round(v, 6) + 0.0
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return _norm(tuple(v))
    return v


def answer_digest(columns: list[str], rows: list) -> tuple[list[str], int, str]:
    """(lower-cased sorted column names, row count, order-insensitive value
    hash) of a result, with columns aligned by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    canon = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256("\n".join(canon).encode()).hexdigest()
    return sorted(c.lower() for c in columns), len(rows), h


def check(spark, sf_dir: str, registry) -> list[str]:
    """Run each query's audited form once and compare it with its DuckDB
    oracle on the same generated files."""
    import duckdb

    problems = []
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        os.environ["SPARK_GRAFT_AUDIT"] = "on"
        for name in QUERIES:
            q = registry[name]
            try:
                sdf = q.fn(spark, sf_dir)
                got = answer_digest(sdf.columns, sdf.collect())
                rel = con.execute(q.oracle)
                want = answer_digest([d[0] for d in rel.description], rel.fetchall())
            except Exception as exc:  # noqa: BLE001 — an error is a failed check
                problems.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
                continue
            finally:
                spark.catalog.clearCache()
            if got != want:
                problems.append(f"{name}: spark {got[:2]} {got[2][:12]} != oracle {want[:2]} {want[2][:12]}")
    finally:
        os.environ["SPARK_GRAFT_AUDIT"] = "off"
        con.close()
    return problems
