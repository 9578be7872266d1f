"""The benchmark's own tests.

    python -m pytest perfbench/test_perfbench.py -q

The repeatability test runs each measured workload twice, traced, in child
processes (about five minutes on four cores).
"""

from __future__ import annotations

import filecmp
import itertools
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402


def _same_files(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_files(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_seed_reproduces_identical_inputs(tmp_path):
    a, b, c = (str(tmp_path / d) for d in ("a", "b", "c"))
    gen.batch_inputs(3, a, 40)
    gen.batch_inputs(3, b, 40)
    gen.batch_inputs(4, c, 40)
    assert _same_files(a, b)
    assert not _same_files(a, c)

    gen.suite_tables(5, str(tmp_path / "s1"))
    gen.suite_tables(5, str(tmp_path / "s2"))
    assert _same_files(str(tmp_path / "s1"), str(tmp_path / "s2"))

    def ticks(seed):
        history = gen.stream_history(seed, 50)
        return [history] + list(itertools.islice(gen.stream_ticks(seed, history, 300, 3), 2))

    t1, t2 = ticks(7), ticks(7)
    assert [t.files for t in t1] == [t.files for t in t2]
    assert [t.files for t in ticks(8)] != [t.files for t in t1]
    gen.stage_file(t1[0].files[0], str(tmp_path / "f1.parquet"))
    gen.stage_file(t2[0].files[0], str(tmp_path / "f2.parquet"))
    assert filecmp.cmp(tmp_path / "f1.parquet", tmp_path / "f2.parquet", shallow=False)


def test_stream_ticks_carry_the_stated_shares():
    tk = next(gen.stream_ticks(1, gen.stream_history(1, 50), 1000, 4))
    assert tk.n_rows == 1000 and len(tk.files) == 4
    assert len(tk.poison) == 30 and len(tk.expired) == 30 and tk.redelivered == 100
    assert all(r[3] > 6 for f in tk.files for r in f if r[0] in tk.poison)
    now_us = tk.now.timestamp() * 1e6
    assert all(now_us - r[2] > 24 * 3600e6 for f in tk.files for r in f if r[0] in tk.expired)


@pytest.fixture(scope="module")
def spark():
    from perfbench import common

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    s, _ = common.start_session(False, "")
    yield s
    common.stop_session(s)


def test_freshness_on_a_three_version_table(spark, tmp_path):
    """Three commits; four staged files read by three micro-batches, the
    middle batch reading two files. Each file's freshness is the commit
    time of its batch's version minus its staging time."""
    from trail_condition_etl_spark.sinks import manifest

    from perfbench import stream
    from perfbench.checks import commit_times

    table = str(tmp_path / "t")
    for v in range(3):
        rows = spark.createDataFrame([(f"k{v}", v)], "task_id string, v int")
        manifest.manifest_upsert(spark, table, rows, ["task_id"], n_buckets=2)
    committed = commit_times(table, 0)
    assert sorted(committed) == [1, 2, 3]
    history = manifest.describe_history(spark, table).selectExpr(
        "version", "unix_micros(committed_at) AS t"
    )
    for r in history.filter("version > 0").collect():
        assert committed[r["version"]] == pytest.approx(r["t"] / 1e6)
    staged = {"a": 100.0, "b": 101.0, "c": 101.5, "d": 102.0}
    file_batch = {"a": 0, "b": 1, "c": 1, "d": 2}
    batch_version = {0: 1, 1: 2, 2: 3}
    got = stream.freshness(staged, file_batch, batch_version, committed)
    assert got == [
        committed[1] - 100.0,
        committed[2] - 101.0,
        committed[2] - 101.5,
        committed[3] - 102.0,
    ]


COUNTERS = {
    "pipeline_batch": [
        "operators.pipeline.rows_out", "operators.ingestion.rows_out",
        "operators.weather.rows_out", "operators.ingestion.jobs",
        "operators.weather.jobs", "sinks.manifest.jobs",
        "operators.ingestion.shuffle_bytes", "operators.weather.shuffle_bytes",
        "sinks.manifest.commits", "sinks.manifest.rows_rewritten_per_row_in",
        "sinks.upsert.dlq_rows", "streaming.cdc.change_rows",
    ],
    "stream_tasks": [
        "streaming.pipeline.epochs", "sinks.manifest.commits",
        "sinks.manifest.rows_rewritten_per_row_in", "sinks.upsert.dlq_rows",
        "streaming.pipeline.dup_dropped", "streaming.pipeline.late_dropped",
        "streaming.pipeline.state_rows",
    ],
}


def _traced(workload: str) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "11", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert last["correct"] and last["failed"] == 0
    return last["metrics"]


@pytest.mark.parametrize("workload", sorted(COUNTERS))
def test_traced_counters_repeat_and_wall_time_differs(workload):
    a, b = _traced(workload), _traced(workload)
    for name in COUNTERS[workload]:
        assert a[name]["value"] == b[name]["value"], name
        assert a[name]["value"] > 0, name
    walls = [k for k in a if k.endswith(".busy_s") and a[k]["value"] > 0]
    assert walls and any(a[k]["value"] != b[k]["value"] for k in walls)
