"""Unit tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness, lake, quote  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_same_seed_same_quote_backlog(tmp_path):
    a = quote.generate(5, str(tmp_path / "a"), n_files=4)
    b = quote.generate(5, str(tmp_path / "b"), n_files=4)
    assert a == b
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    quote.generate(6, str(tmp_path / "c"), n_files=4)
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_same_seed_same_lake_fixture(tmp_path):
    lake.generate(5, str(tmp_path / "a"))
    lake.generate(5, str(tmp_path / "b"))
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))


def test_quote_backlog_model_shape():
    import numpy as np

    rng = np.random.default_rng(1)
    lines0, m0 = quote.make_file(rng, 0, [])
    lines2, m2 = quote.make_file(rng, 2, m0["on_time"])
    assert len(lines2) == quote.ROWS_PER_FILE
    keys = [(s, t) for s, t, _ in m2["on_time"]]
    assert len(set(keys)) == len(keys), "on-time keys must be unique"
    assert m0["late"] == 0 and m2["late"] == quote.ROWS_PER_FILE // 100
    t_f = quote.T0 + 2 * quote.FILE_SPAN_S
    assert all(t_f <= t < t_f + quote.FILE_SPAN_S for _, t in keys)


def test_metric_names_are_well_formed():
    for name, unit in {**END_TO_END, **PER_LAYER}.items():
        assert harness.METRIC_NAME.match(name), name
        assert unit and len(unit) <= 16, unit
    assert "setup_s" in END_TO_END
    assert not set(END_TO_END) & set(PER_LAYER)


def test_metric_lists_match_benchmark_json():
    import json

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


def test_tail_percentile_rule():
    # the p-th percentile must leave at least ten samples beyond it
    assert harness.tail_percentile(19) is None
    assert harness.tail_percentile(20) == 50
    assert harness.tail_percentile(40) == 75
    assert harness.tail_percentile(100) == 90
    assert harness.tail_percentile(1000) == 99
    for n in range(20, 400):
        p = harness.tail_percentile(n)
        rank = -(-p * n // 100)
        assert n - rank >= 10
        assert p == 99 or n - (-(-(p + 1) * n // 100)) < 10


def test_latency_summary_falls_back_to_max():
    s = harness.latency_summary([float(i) for i in range(1, 12)])
    assert s["tail_pct"] == 100 and s["tail"] == 11.0 and s["p50"] == 6.0
    s = harness.latency_summary([float(i) for i in range(1, 41)])
    assert s["tail_pct"] == 75 and s["tail"] == 30.0


def test_span_self_time_subtracts_children():
    spans = [
        harness.Span(0, None, "query", 0.0, 10.0),
        harness.Span(1, 0, "construct", 1.0, 3.0),
        harness.Span(2, 0, "plan", 2.5, 4.0),  # overlaps construct
        harness.Span(3, 0, "execute", 9.0, 12.0),  # runs past the parent
        harness.Span(4, 3, "job", 9.5, 10.0),
    ]
    selfs = harness.self_times(spans)
    assert selfs[0] == 10.0 - (4.0 - 1.0) - (10.0 - 9.0)
    assert selfs[1] == 2.0
    assert selfs[3] == 3.0 - 0.5
    assert selfs[4] == 0.5


def test_tracer_records_parents_only_when_enabled(tmp_path):
    t = harness.Tracer("r1", enabled=True)
    with t.span("a"):
        with t.span("b"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("a", None), ("b", 0)]
    t.write(str(tmp_path / "spans.json"))
    off = harness.Tracer("r2", enabled=False)
    with off.span("a") as s:
        pass
    assert off.spans == [] and s.seconds >= 0


def test_plan_shape_counts_exchanges():
    plan = (
        "AdaptiveSparkPlan\n+- HashAggregate\n   +- Exchange hashpartitioning(k, 4)\n"
        "      +- BroadcastHashJoin\n         :- Scan\n"
        "         +- BroadcastExchange HashedRelationBroadcastMode\n"
    )
    assert harness.plan_shape(plan) == (1, 1)


def test_answer_digest_ignores_row_and_column_order():
    a = lake.answer_digest(["x", "Y"], [(1, 2.0000001), (3, 4.0)])
    b = lake.answer_digest(["y", "x"], [(4.0, 3), (2.0, 1)])
    assert a == b
    assert lake.answer_digest(["x"], [(1,)]) != lake.answer_digest(["x"], [(2,)])
    assert lake.answer_digest(["z"], [(-0.0,)]) == lake.answer_digest(["z"], [(0.0,)])


def _progress(n_batches: int) -> list[dict]:
    """Synthetic progress reports of a drain of ``n_batches`` files whose
    state grows by one file's keys a batch, as the quote dedup state does."""
    out = []
    for b in range(n_batches):
        out.append({
            "batchId": b,
            "timestamp": f"2026-01-01T00:00:{2 * b:02d}.000Z",
            "numInputRows": quote.ROWS_PER_FILE,
            "durationMs": {"triggerExecution": 1900 + 10 * b, "addBatch": 1700},
            "stateOperators": [{
                "numRowsTotal": 19_000 * (b + 1),
                "memoryUsedBytes": 4_000_000 * (b + 1),
                "commitTimeMs": 50,
                "numRowsDroppedByWatermark": 200 if b >= 2 else 0,
            }],
        })
    return out


def test_quote_layer_figures_do_not_grow_with_drain_length():
    short = quote.batch_stats(_progress(quote.STATE_AT_BATCH + 2))["layers"]
    long = quote.batch_stats(_progress(3 * quote.STATE_AT_BATCH))["layers"]
    for name in ("state.rows_total", "state.memory_bytes", "state.late_rows_dropped"):
        assert short[name] == long[name], name
    assert short["state.rows_total"] == 19_000 * (quote.STATE_AT_BATCH + 1)


def test_descendants_lists_a_running_child_only_until_it_ends():
    import subprocess

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in harness.descendants(os.getpid())
    finally:
        child.kill()
        child.wait()
    assert child.pid not in harness.descendants(os.getpid())
