"""Output comparison and the manifest-table probes of the traced run."""

from __future__ import annotations

import datetime as dt
import functools
import importlib.util
import os

from .common import ROOT


@functools.cache
def _conftest():
    """The repository's test comparison (tests/conftest.py), loaded by
    path so the benchmark uses exactly the rule the test suite uses."""
    path = os.path.join(ROOT, "tests", "conftest.py")
    spec = importlib.util.spec_from_file_location("perfbench_conftest", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Collected:
    """A frame's columns and rows, collected once, in the shape
    tests/conftest.py's comparison reads (`columns`, `collect()`)."""

    def __init__(self, df):
        self.columns = df.columns
        self.rows = df.collect()

    def collect(self) -> list:
        return self.rows


def rows_equal(spark_df, rows, cols) -> str | None:
    """None when the frame equals (rows, cols) order-insensitively under
    tests/conftest.py's comparison, else the mismatch message."""
    try:
        _conftest().assert_frames_match(spark_df, rows, cols)
    except AssertionError as ex:
        return str(ex)[:300]
    return None


def frames_equal(got, want) -> str | None:
    return rows_equal(got, want.collect(), want.columns)


def manifest_history(spark, table: str, after_version: int) -> dict[str, int]:
    """Sums over the commits after `after_version`, from describe_history."""
    from trail_condition_etl_spark.sinks import manifest

    h = (
        manifest.describe_history(spark, table)
        .filter(f"version > {after_version}")
        .selectExpr(
            "count(*) AS commits",
            "coalesce(sum(rows_written), 0) AS rows_written",
            "coalesce(sum(buckets_written), 0) AS buckets_written",
            "coalesce(sum(buckets_carried), 0) AS buckets_carried",
        )
        .collect()[0]
    )
    return {k: int(h[k]) for k in ("commits", "rows_written", "buckets_written", "buckets_carried")}


def commit_times(table: str, after_version: int) -> dict[int, float]:
    """version -> committed_at (epoch seconds) of the versions after
    `after_version`: the commit times describe_history reports, read from
    the table's manifests without a Spark job."""
    from trail_condition_etl_spark.sinks import manifest

    return {
        v: dt.datetime.fromisoformat(
            manifest.read_manifest(table, v, buckets=[])["committed_at"]
        ).timestamp()
        for v in manifest.list_versions(table)
        if v > after_version
    }


def latest_version(table: str) -> int:
    from trail_condition_etl_spark.sinks import manifest

    versions = manifest.list_versions(table)
    return versions[-1] if versions else 0


def disk_bytes_per_live_byte(spark, table: str) -> float:
    """Bytes under the table directory over the bytes of the data files
    its latest version references."""
    from trail_condition_etl_spark.sinks import manifest

    disk = 0
    for d, _, files in os.walk(table):
        disk += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    live = 0
    for f in manifest.read_manifest_table(spark, table).inputFiles():
        live += os.path.getsize(f.removeprefix("file:"))
    return disk / live if live else 0.0
