"""stream_tasks: the scheduler's cron as repeated AvailableNow passes of
the streaming pipeline on one checkpoint, with no transform.

A tick stages that tick's task files, then runs one pass
(`run_pipeline_available_now`) to completion; the next tick starts when
the pass ends. Set-up runs tick 0, which stages the history rows as one
file: its pass creates the output table in the sink's default layout and
warms the streaming path. Measured ticks follow on the same checkpoint
and the same, growing table until the measured seconds are spent. Each
tick stages more files than MAX_FILES_PER_TRIGGER, so a pass runs several
epochs, each one manifest commit.
"""

from __future__ import annotations

import glob
import json
import os
import time
from statistics import median

from . import gen

# The epoch shape is the reference's (BASELINE.md): its ingestion worker
# dequeues 100 messages at a time (BATCH_SIZE). A staged file holds one
# dequeue batch and a trigger reads one file, so every epoch is one dequeue
# batch and one manifest commit. The reference gives no figure for the
# tasks per tick or the table's size; TASKS_PER_TICK and HISTORY_ROWS are
# assumptions sized to the benchmark's time budget (README.md).
TASKS_PER_TICK = 200
TASKS_PER_FILE = 100
FILES_PER_TICK = TASKS_PER_TICK // TASKS_PER_FILE
MAX_FILES_PER_TRIGGER = 1
MIN_TICKS = 1
HISTORY_ROWS = 10_000
SETUP_REPS = 3
# The sink the registered stream queries select (streaming_roundtrip*).
TABLE_FORMAT = "manifest"


def install_wrappers(tr) -> None:
    """Traced runs: the sink calls the stream makes per epoch get spans."""
    from trail_condition_etl_spark.sinks import manifest, upsert

    tr.wrap(manifest, "manifest_upsert", "sinks.manifest")
    tr.wrap(upsert, "append_dlq", "sinks.upsert")


def _progress(q) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in q.recentProgress]


def _log_entries(d: str):
    """(batch id, lines) of a metadata log directory, including the
    `<id>.compact` files a file source log rolls its entries into."""
    for path in glob.glob(os.path.join(d, "*")):
        name = os.path.basename(path).removesuffix(".compact")
        if name.isdigit():
            with open(path) as f:
                yield int(name), f.read().splitlines()


def file_batches(ckpt: str) -> dict[str, int]:
    """Staged file -> the micro-batch that read it, from the checkpoint:
    each entry of the file source's log carries the source offset that
    added the file, and the query's offset log maps each micro-batch to
    the source offset it ended at."""
    offset_batch: dict[int, int] = {}
    for b, lines in _log_entries(os.path.join(ckpt, "offsets")):
        off = json.loads(lines[-1])["logOffset"]
        offset_batch[off] = min(b, offset_batch.get(off, b))
    out = {}
    for _, lines in _log_entries(os.path.join(ckpt, "sources", "0")):
        for line in lines[1:]:
            entry = json.loads(line)
            out[entry["path"].removeprefix("file://")] = offset_batch[entry["batchId"]]
    return out


def freshness(staged_at: dict[str, float], file_batch: dict[str, int],
              batch_version: dict[int, int], committed_at: dict[int, float]) -> list[float]:
    """Per staged file: commit time of the first table version holding its
    tasks minus the time the generator finished staging it."""
    return [
        committed_at[batch_version[file_batch[path]]] - t
        for path, t in staged_at.items()
    ]


class Stream:
    """One run's staging directory, output table, DLQ and checkpoint."""

    def __init__(self, root: str):
        self.staging = os.path.join(root, "staging")
        self.out = os.path.join(root, "out")
        self.dlq = os.path.join(root, "dlq")
        self.ckpt = os.path.join(root, "ckpt")


def stage(st: Stream, tk) -> dict[str, float]:
    """Write the tick's files; returns file -> time its staging ended."""
    staged_at = {}
    for j, rows in enumerate(tk.files):
        path = os.path.join(st.staging, f"t{tk.tick:03d}-f{j:02d}.parquet")
        gen.stage_file(rows, path)
        staged_at[path] = time.time()
    return staged_at


def run_pass(spark, tr, st: Stream, tk) -> tuple[float, list[dict]]:
    """One tick's pass; returns its wall time and progress reports."""
    from pyspark.sql import functions as F

    from trail_condition_etl_spark.streaming.pipeline import run_pipeline_available_now

    tr.iteration = tk.tick
    t = time.perf_counter()
    with tr.span("streaming.pipeline", f"pass_t{tk.tick}") as rec:
        q = run_pipeline_available_now(
            spark, st.staging, st.out, st.dlq, st.ckpt,
            now=F.lit(tk.now),
            max_files_per_trigger=MAX_FILES_PER_TRIGGER,
            table_format=TABLE_FORMAT,
        )
        q.awaitTermination()
    pass_s = time.perf_counter() - t
    if q.exception() is not None:
        raise RuntimeError(f"tick {tk.tick}: pass failed: {q.exception()}")
    prog = _progress(q)
    if rec is not None:  # rows the pass handed to its sinks
        rec["rows_out"] = sum(p["numInputRows"] for p in prog) - sum(
            op.get("numRowsDroppedByWatermark", 0)
            + int(op.get("customMetrics", {}).get("numDroppedDuplicateRows", 0))
            for p in prog for op in p.get("stateOperators", [])
        )
    return pass_s, prog


def check(spark, ticks, out: str, dlq: str, dup: int, late: int) -> list[str]:
    """Every staged task is accounted for exactly once: in the table, in the
    DLQ under its route, or in Spark's duplicate / late-drop counts."""
    from pyspark.sql import functions as F

    from trail_condition_etl_spark.sinks import manifest

    fresh = set().union(*(t.fresh for t in ticks))
    poison = set().union(*(t.poison for t in ticks))
    expired = set().union(*(t.expired for t in ticks))
    staged = sum(t.n_rows for t in ticks)
    redelivered = sum(t.redelivered for t in ticks)
    table = {
        r[0]
        for r in manifest.read_manifest_table(spark, out)
        .filter(~F.col("task_id").startswith("h-"))
        .select("task_id")
        .collect()
    }
    routed = spark.read.parquet(dlq).select("task_id", "error.exception_type").collect()
    dlq_poison = [r[0] for r in routed if r[1] == "dlq_poison"]
    dlq_expired = [r[0] for r in routed if r[1] == "dlq_expired"]
    failures = []
    if table != fresh:
        failures.append(f"table holds {len(table)} new tasks, expected {len(fresh)}")
    if sorted(dlq_poison) != sorted(poison):
        failures.append(f"DLQ poison {len(dlq_poison)} != staged poison {len(poison)}")
    if not set(dlq_expired) <= expired or len(set(dlq_expired)) != len(dlq_expired):
        failures.append("DLQ expired rows are not distinct staged expired tasks")
    if len(expired) - len(dlq_expired) != late:
        failures.append(
            f"expired {len(expired)} - DLQ expired {len(dlq_expired)} != late-dropped {late}"
        )
    if dup != redelivered:
        failures.append(f"duplicates dropped {dup} != redelivered {redelivered}")
    if len(table) + len(routed) + dup + late != staged:
        failures.append(
            f"table {len(table)} + DLQ {len(routed)} + dup {dup} + late {late} != staged {staged}"
        )
    return failures


def _count(spark, tr, progress: list[dict], out: str, dlq: str, base: int, dup: int, late: int):
    from .checks import disk_bytes_per_live_byte, manifest_history

    data = [p for p in progress if p["numInputRows"] > 0]
    d = [p["durationMs"] for p in progress]
    tr.add("streaming.pipeline.epochs", len(data))
    tr.samples.setdefault("epoch_s", []).extend(
        p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in data
    )
    tr.add("streaming.pipeline.add_batch_s", sum(x.get("addBatch", 0) for x in d) / 1000.0)
    tr.add("streaming.pipeline.planning_s", sum(x.get("queryPlanning", 0) for x in d) / 1000.0)
    tr.add(
        "streaming.pipeline.log_commit_s",
        sum(x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d) / 1000.0,
    )
    last_ops = progress[-1].get("stateOperators", []) if progress else []
    tr.add("streaming.pipeline.state_rows", sum(op.get("numRowsTotal", 0) for op in last_ops))
    tr.add("streaming.pipeline.dup_dropped", dup)
    tr.add("streaming.pipeline.late_dropped", late)
    tr.add("sinks.upsert.dlq_rows", spark.read.parquet(dlq).count())
    for key, val in manifest_history(spark, out, base).items():
        tr.add(f"manifest.{key}", val)
    tr.counts["sinks.manifest.disk_bytes_per_live_byte"] = disk_bytes_per_live_byte(spark, out)


def run(spark, tr, seed: int, seconds: float, work: str, result) -> None:
    from .checks import commit_times, latest_version
    from .common import percentile

    # Repeatable set-up: generating the history rows, SETUP_REPS times (the
    # median counts); then once: tick 0, which commits them.
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        history = gen.stream_history(seed, HISTORY_ROWS)
        result.setup_once(time.perf_counter() - t0)
    st = Stream(work)
    t0 = time.perf_counter()
    stage(st, history)
    run_pass(spark, tr, st, history)
    result.setup_fixed(time.perf_counter() - t0)
    base = latest_version(st.out)
    tr.reset()
    result.sizes.update(
        tasks_per_tick=TASKS_PER_TICK,
        tasks_per_file=TASKS_PER_FILE,
        files_per_tick=FILES_PER_TICK,
        max_files_per_trigger=MAX_FILES_PER_TRIGGER,
        history_rows=HISTORY_ROWS,
    )
    ticks, staged_at, progress = [], {}, []
    pass_s, rate, start_stop = [], [], []
    source = gen.stream_ticks(seed, history, TASKS_PER_TICK, FILES_PER_TICK)
    deadline = time.perf_counter() + seconds
    while len(ticks) < MIN_TICKS or time.perf_counter() < deadline:
        tk = next(source)
        staged_at.update(stage(st, tk))
        wall, prog = run_pass(spark, tr, st, tk)
        ticks.append(tk)
        progress += prog
        result.attempted += tk.n_rows
        pass_s.append(wall)
        rate.append(tk.n_rows / wall)
        start_stop.append(
            wall - sum(p["durationMs"].get("triggerExecution", 0) for p in prog) / 1000.0
        )
    result.iterations = len(ticks)
    # ---- outside the timed region: freshness and the accounting check ----
    committed = commit_times(st.out, base)
    data_batches = sorted(p["batchId"] for p in progress if p["numInputRows"] > 0)
    versions = sorted(committed)
    fresh: list[float] = []
    if len(versions) != len(data_batches):
        result.fail(f"{len(data_batches)} data epochs but {len(versions)} commits")
    else:
        fresh = freshness(
            staged_at, file_batches(st.ckpt), dict(zip(data_batches, versions)), committed
        )
    ops = [op for p in progress for op in p.get("stateOperators", [])]
    dup = sum(int(op.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)) for op in ops)
    late = sum(int(op.get("numRowsDroppedByWatermark", 0)) for op in ops)
    for msg in check(spark, ticks, st.out, st.dlq, dup, late):
        result.fail(msg)
    if tr.enabled:
        _count(spark, tr, progress, st.out, st.dlq, base, dup, late)
    tr.samples["start_stop_s"] = start_stop
    result.metric("pass_s", median(pass_s), "s", pass_s)
    result.metric("throughput_per_s", median(rate), "1/s", rate)
    result.report("stream_tasks_per_s", median(rate), "1/s", len(rate))
    if fresh:
        result.latency(fresh)
        for q in (50, 90):
            result.report(f"freshness_s_p{q}", percentile(fresh, q), "s", len(fresh))


def layer_specific(spark, tr, result) -> dict:
    from .common import sink_metrics

    out = sink_metrics(tr)
    for key in ("streaming.pipeline.epochs", "streaming.pipeline.add_batch_s",
                "streaming.pipeline.planning_s", "streaming.pipeline.log_commit_s",
                "streaming.pipeline.state_rows", "streaming.pipeline.dup_dropped",
                "streaming.pipeline.late_dropped", "sinks.upsert.dlq_rows"):
        out[key] = tr.counts.get(key, 0)
    epoch_s = tr.samples.get("epoch_s", [])
    out["streaming.pipeline.epoch_s_p50"] = median(epoch_s) if epoch_s else 0.0
    out["streaming.pipeline.start_stop_s"] = sum(tr.samples.get("start_stop_s", []))
    return out
