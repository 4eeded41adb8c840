"""quote_ingest: drain a seeded backlog of Kinesis-envelope JSONL files
through the engine's [R] ingest path, one file per trigger.

Path under test (the composition of ``scripts/stream_bench.quote_stream``,
on a file source instead of a rate source):

    sources.connector.read_envelope_stream("json", maxFilesPerTrigger=1)
    → streaming.pipelines.quote_pipeline_batch
    → 30 s watermark + dropDuplicates(symbol, t)
    → streaming.sink.write_partitioned_stream(trigger_seconds=0)

The backlog is written before the stream starts, so the stream always has
a next file and runs flat out (a closed loop of one file per trigger).
"""

from __future__ import annotations

import base64
import json
import os
import shutil
import statistics
import time

import numpy as np

from perfbench import harness

N_SYMBOLS = 200
ZIPF_S = 1.1
# Rows per file (= per micro-batch): the size of the ingest probe in the
# benchmark's design (60 files x 20k rows, batch p50 1.7-2.0 s on 4 cores,
# ~90% of it addBatch), so row processing, not the fixed per-trigger
# commits, makes up most of each batch.
ROWS_PER_FILE = 20_000
N_FILES = 32  # a drain reads ~8 on 4 cores; the rest is headroom
T0 = 1_700_000_000  # event-time anchor (epoch seconds)
FILE_SPAN_S = 300  # event time covered by one file: ~64 distinct symbols a second
LATE_BY_S = 600  # late rows sit this far behind their file's window
WATERMARK = "30 seconds"
WARMUP_BATCHES = 1  # state-store and codegen start-up, left out of the figures
# State size is read at this batch id, so it does not grow with the number
# of batches a drain gets through; every drain runs at least this far.
STATE_AT_BATCH = 4


# ----------------------------------------------------------------- backlog


_WEIGHTS = 1.0 / np.arange(1, N_SYMBOLS + 1) ** ZIPF_S
_WEIGHTS /= _WEIGHTS.sum()


def _payload(sym: str, t: int, c: float, with_price: bool = True) -> str:
    price = f'"c": {c}, ' if with_price else ""
    return (
        f'{{{price}"d": {c - 100.0:.2f}, "dp": 0.5, "h": {c + 1.0:.2f}, '
        f'"l": {c - 1.0:.2f}, "o": {c}, "pc": {c}, "t": {t}, "symbol": "{sym}"}}'
    )


def _envelope(sym: str, payload: str) -> str:
    data = base64.b64encode(payload.encode()).decode()
    return f'{{"partition_key": "{sym}", "data": "{data}"}}'


def make_file(rng: np.random.Generator, f: int, prev_tail: list[tuple]) -> tuple[list[str], dict]:
    """One backlog file: its JSONL lines and the model of what it holds.

    - on-time rows: unique (symbol, t) inside [T_f, T_f + FILE_SPAN_S), Zipf symbols;
    - ~2% duplicate deliveries: exact copies of on-time rows of this file or
      of the last 15 s of the previous one (still inside the watermark, so
      the state store, not the late filter, must catch them);
    - ~0.5% malformed payloads: bad base64, broken JSON, or no price;
    - ~1% late rows (from the third file on): ``LATE_BY_S`` behind the
      file's window, far past any watermark the engine can hold by then.
    """
    n_dup, n_bad = ROWS_PER_FILE // 50, ROWS_PER_FILE // 200
    n_late = ROWS_PER_FILE // 100 if f >= 2 else 0
    n_on = ROWS_PER_FILE - n_dup - n_bad - n_late
    t_f = T0 + FILE_SPAN_S * f

    # k distinct Zipf-weighted symbols per second: the top k of
    # log(weight) + Gumbel noise is a weighted draw without replacement
    per_sec = np.full(FILE_SPAN_S, n_on // FILE_SPAN_S)
    per_sec[: n_on % FILE_SPAN_S] += 1
    keys = np.log(_WEIGHTS) + rng.gumbel(size=(FILE_SPAN_S, N_SYMBOLS))
    ranked = np.argsort(-keys, axis=1)
    prices = np.round(100.0 + rng.normal(0, 5, n_on), 2)
    on_time = []
    for s, k in enumerate(per_sec):
        for sym in ranked[s, :k]:
            on_time.append((f"S{sym:03d}", t_f + s, float(prices[len(on_time)])))

    pool_prev = [r for r in prev_tail if r[1] >= t_f - 15]
    picks = rng.random(n_dup)
    dups = []
    for i in range(n_dup):
        src = pool_prev if (i % 2 and pool_prev) else on_time
        dups.append(src[int(picks[i] * len(src))])

    late_syms = rng.choice(N_SYMBOLS, size=n_late, p=_WEIGHTS)
    late_t = t_f - LATE_BY_S - rng.integers(0, FILE_SPAN_S, n_late)
    late_c = np.round(100.0 + rng.normal(0, 5, n_late), 2)
    late = [(f"S{s:03d}", int(t), float(c)) for s, t, c in zip(late_syms, late_t, late_c)]

    lines = [_envelope(s, _payload(s, t, c)) for s, t, c in on_time + dups + late]
    for i, sym in enumerate(rng.integers(0, N_SYMBOLS, n_bad)):
        sym = f"S{sym:03d}"
        if i % 3 == 0:
            lines.append(f'{{"partition_key": "{sym}", "data": "%%not-base64%%"}}')
        elif i % 3 == 1:
            lines.append(_envelope(sym, '{"c": 101.5, "t": ' + str(t_f)))
        else:
            lines.append(_envelope(sym, _payload(sym, t_f, 100.0, with_price=False)))
    order = rng.permutation(len(lines))
    model = {"on_time": on_time, "late": len(late)}
    return [lines[i] for i in order], model


def generate(seed: int, out: str, n_files: int = N_FILES) -> list[dict]:
    """Write the backlog for ``seed`` to ``out``; return the per-file model.

    File modification times ascend with the file index: the file source
    takes files oldest first, so they pin the order the event times assume.
    """
    rng = np.random.default_rng(seed)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    models, prev = [], []
    for f in range(n_files):
        lines, model = make_file(rng, f, prev)
        prev = model["on_time"]
        path = os.path.join(tmp, f"quotes-{f:05d}.jsonl")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(path, (T0 + f, T0 + f))
        models.append(model)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return models


# ------------------------------------------------------------------ drain


def build_stream(spark, backlog: str):
    from fineventstream_spark.sources.connector import read_envelope_stream
    from fineventstream_spark.streaming.pipelines import quote_pipeline_batch

    envelopes = read_envelope_stream(
        spark, "json", {"path": backlog, "maxFilesPerTrigger": "1"}
    )
    return (
        quote_pipeline_batch(envelopes)
        .withWatermark("quote_timestamp_utc", WATERMARK)
        .dropDuplicates(["symbol", "quote_timestamp_unix"])
    )


def start(spark, backlog: str, run_dir: str):
    from fineventstream_spark.streaming.sink import write_partitioned_stream

    shutil.rmtree(run_dir, ignore_errors=True)
    t0 = time.perf_counter()
    df = build_stream(spark, backlog)
    construct_s = time.perf_counter() - t0
    q = write_partitioned_stream(
        df, os.path.join(run_dir, "sink"), os.path.join(run_dir, "ckpt"), trigger_seconds=0
    )
    return q, construct_s


def _committed(q) -> int:
    last = q.lastProgress
    return last["batchId"] if last is not None else -1


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def run_until(q, predicate, timeout_s: float) -> None:
    deadline = time.perf_counter() + timeout_s
    while time.perf_counter() < deadline and q.isActive and not predicate():
        time.sleep(0.05)
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")


def first_commit_s(spark, backlog: str, run_dir: str) -> tuple[float, float]:
    """Start the stream and wait for its first committed batch; returns
    (construction seconds, seconds from start to first commit)."""
    t0 = time.perf_counter()
    q, construct_s = start(spark, backlog, run_dir)
    try:
        run_until(q, lambda: q.lastProgress is not None, 120)
        if q.lastProgress is None:
            raise RuntimeError("no micro-batch committed within 120 s")
        return construct_s, time.perf_counter() - t0
    finally:
        q.stop()


def drain(spark, backlog: str, run_dir: str, seconds: float) -> dict:
    """Run the stream for ``seconds`` (after its warm-up batches, and at
    least until batch ``STATE_AT_BATCH`` commits) and return its progress
    reports."""
    q, construct_s = start(spark, backlog, run_dir)
    try:
        run_until(q, lambda: len(q.recentProgress) >= WARMUP_BATCHES, 120)
        t0 = time.perf_counter()
        run_until(q, lambda: False, seconds)
        run_until(q, lambda: _committed(q) >= STATE_AT_BATCH, 120)
        wall = time.perf_counter() - t0
        plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    finally:
        q.stop()
    progress = [p for p in _progress(q) if p.get("numInputRows", 0) > 0]
    return {"progress": progress, "construct_s": construct_s, "wall_s": wall, "plan": plan}


def batch_stats(progress: list[dict]) -> dict:
    """End-to-end and per-layer figures from the progress of one drain."""
    timed = progress[WARMUP_BATCHES:]
    if len(timed) < 2:
        raise RuntimeError(f"only {len(timed)} timed micro-batches")
    trig = [p["durationMs"]["triggerExecution"] for p in timed]
    starts = [_epoch(p["timestamp"]) for p in timed]
    ends = [s + d / 1000.0 for s, d in zip(starts, trig)]
    rows = sum(p["numInputRows"] for p in timed)
    span_s = ends[-1] - starts[0]

    def med(key):
        return statistics.median(p["durationMs"].get(key, 0) for p in timed)

    ops = [p["stateOperators"][0] for p in timed]
    at = next(p["stateOperators"][0] for p in progress if p["batchId"] == STATE_AT_BATCH)
    lat = harness.latency_summary(trig)
    return {
        "latency_ms": lat,
        # a "pass" is ten files: ten micro-batches at the median batch time
        "wall_s": statistics.median(trig) * 10 / 1000.0,
        "rows_per_s": rows / span_s,
        "batches": len(timed),
        "layers": {
            "sources.latest_offset_ms": med("latestOffset"),
            "streaming.plan_ms": med("queryPlanning"),
            "streaming.add_batch_ms": med("addBatch"),
            "streaming.wal_commit_ms": med("walCommit"),
            "streaming.commit_offsets_ms": med("commitOffsets"),
            "state.rows_total": at["numRowsTotal"],
            "state.memory_bytes": at["memoryUsedBytes"],
            "state.commit_ms": statistics.median(o["commitTimeMs"] for o in ops),
            "state.late_rows_dropped": statistics.median(
                o["numRowsDroppedByWatermark"] for o in ops
            ),
            "streaming.rows_per_s": rows / span_s,
        },
    }


def batch_spans(tracer, parent: int | None, progress: list[dict]) -> None:
    """One span per micro-batch from its progress report, with the
    reported phase durations laid out in the order the engine runs them."""
    for p in progress:
        start = tracer.from_epoch(_epoch(p["timestamp"]))
        d = p["durationMs"]
        bid = tracer.add(
            "streaming.batch", start, start + d["triggerExecution"] / 1000.0, parent,
            batch=p["batchId"], rows=p["numInputRows"],
        )
        t = start
        for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"):
            ms = d.get(phase, 0)
            tracer.add(f"streaming.{phase}", t, t + ms / 1000.0, bid)
            t += ms / 1000.0


def _epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# ------------------------------------------------------------------ check


def _log_entries(log_dir: str) -> list[dict]:
    out = []
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            lines = fh.read().splitlines()[1:]  # first line is the log version
        out += [json.loads(x) for x in lines if x.strip()]
    return out


def _last_batch(log_dir: str) -> int:
    ids = [
        int(n.split(".")[0])
        for n in os.listdir(log_dir)
        if not n.startswith(".") and n.split(".")[0].isdigit()
    ]
    return max(ids, default=-1)


def check(spark, run_dir: str, models: list[dict], progress: list[dict]) -> tuple[list[str], int]:
    """Compare the sink with the model of the files the stream consumed.

    The sink's own commit log says which batches it holds; the source log
    of the checkpoint says which files each batch read. Late drops are
    checked on the batches that reported progress."""
    sink = os.path.join(run_dir, "sink")
    last = _last_batch(os.path.join(sink, "_spark_metadata"))
    by_batch: dict[int, set[int]] = {}
    # a compacted log file repeats every entry before it, hence the sets
    for e in _log_entries(os.path.join(run_dir, "ckpt", "sources", "0")):
        f = int(os.path.basename(e["path"]).split("-")[1].split(".")[0])
        by_batch.setdefault(e["batchId"], set()).add(f)
    files = sorted(f for b, fs in by_batch.items() if b <= last for f in fs)
    problems = []
    if files != list(range(len(files))):
        problems.append(f"sink batches read files out of order: {files[:5]}...")
    expected = sorted((s, t, c) for f in files for s, t, c in models[f]["on_time"])

    rows = spark.read.parquet(sink).select(
        "symbol", "quote_timestamp_unix", "current_price", "quote_timestamp_utc"
    ).collect()
    valid = [r for r in rows if None not in tuple(r)]
    if len(valid) != len(rows):
        problems.append(f"{len(rows) - len(valid)} invalid rows in sink")
    got = sorted((r[0], r[1], r[2]) for r in valid)
    keys = [(s, t) for s, t, _ in got]
    if len(set(keys)) != len(keys):
        problems.append(f"{len(keys) - len(set(keys))} duplicate (symbol, t) in sink")
    if got != expected:
        problems.append(f"sink holds {len(got)} rows, model predicts {len(expected)}")

    reported = {p["batchId"] for p in progress}
    want_late = sum(models[f]["late"] for b in reported for f in by_batch.get(b, ()))
    got_late = sum(p["stateOperators"][0]["numRowsDroppedByWatermark"] for p in progress)
    if got_late != want_late:
        problems.append(f"late drops {got_late}, model predicts {want_late}")
    return problems, len(rows)


def sink_layers(run_dir: str, progress: list[dict], rows_out: int) -> dict:
    """Sink files and bytes per committed batch (warm-up batch included),
    and the share of input rows that reached the sink."""
    sink = os.path.join(run_dir, "sink")
    batches = _last_batch(os.path.join(sink, "_spark_metadata")) + 1
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(sink)
        if "_spark_metadata" not in d
        for f in fs
        if f.endswith(".parquet")
    ]
    rows_in = sum(p["numInputRows"] for p in progress)
    return {
        "sink.files": len(files) / batches,
        "sink.bytes": sum(os.path.getsize(f) for f in files) / batches,
        "sink.useful_ratio": rows_out / rows_in if rows_in else 0.0,
    }
