"""The read-side workloads: registered queries over generated tables.

query_suite runs the 53 headline queries of bench.py. HEADLINE is a copy
of bench.py's list (not an import), so the benchmark does not move when
bench.py does; QUERY_LAYER names the package module each query exercises.
query_layers runs LAYER_PROBES, one headline query per read-side layer
that the pipeline workloads do not reach: the same layers at a cost that
fits one benchmark run.

Set-up generates the ten tables from the seed. A cold pass runs every
query once, which pays every artifact and fixture build, and collects
each query's rows; each query with an oracle
is compared with `registry.oracle_sql()` run by DuckDB on the same files,
outside the timing. query_suite runs the cold pass in set-up, as bench.py
does, and measures passes over the built artifacts: each query once, in
an order the seed sets, forced with a noop write, clearing cached frames
after each; a query that raises in a timed pass is counted as failed.
query_layers measures the cold pass itself, in LAYER_PROBES order, after
a generic warm-up query: a session's first run of each read-side layer,
builds included. One cold pass costs less than the
cold pass plus a warm one, which the benchmark's run budget needs.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import time
from statistics import median

from . import gen

HEADLINE = [
    "trail_classifier", "pricing_summary", "shipping_priority", "region_volume",
    "order_priority", "moving_avg", "sessionize", "task_dedup", "quality_score",
    "minhash_near_dup", "cosine_topk", "pq_topk", "price_histogram",
    "conversion_funnel", "scd2_build", "gap_fill", "ohlc_bars", "revenue_share",
    "canonical_docs", "ewma_daily", "scd2_lookup", "hybrid_retrieval",
    "cms_estimate", "ivf_pq_topk", "minhash_near_dup_x64", "ivf_pq_index_probe",
    "semantic_dedup", "embedding_near_dup", "paragraph_dedup", "pii_scrub",
    "curated_snapshot", "split_leakage", "manifest_merge", "wav_roundtrip",
    "manifest_skip_scan", "manifest_lookup", "cdc_incremental",
    "zorder_skip_scan", "manifest_mor_delete", "stateful_sessions",
    "retention_cohorts", "decontaminate", "ann_recall_report",
    "incremental_near_dup", "colocated_join", "manifest_clone",
    "merge_by_source", "bloom_skip_scan", "sidecar_metadata",
    "incremental_compaction", "clone_metadata", "restore_metadata",
    "commit_delta_metadata",
]

_BY_LAYER = {
    "operators.weather": ["trail_classifier"],
    "operators.pipeline": ["task_dedup"],
    "operators.relational": [
        "pricing_summary", "shipping_priority", "region_volume", "order_priority",
        "moving_avg", "sessionize", "revenue_share",
    ],
    "operators.text": ["quality_score", "pii_scrub"],
    "operators.dedup": [
        "minhash_near_dup", "canonical_docs", "minhash_near_dup_x64",
        "paragraph_dedup", "incremental_near_dup",
    ],
    "operators.similarity": [
        "cosine_topk", "pq_topk", "ivf_pq_topk", "ivf_pq_index_probe",
        "semantic_dedup", "embedding_near_dup", "ann_recall_report",
    ],
    "operators.warehouse": ["price_histogram", "scd2_build", "scd2_lookup"],
    "operators.behavior": ["conversion_funnel", "gap_fill", "retention_cohorts"],
    "operators.timeseries": ["ohlc_bars", "ewma_daily"],
    "operators.search": ["hybrid_retrieval"],
    "operators.sketches": ["cms_estimate"],
    "operators.curation": ["curated_snapshot", "split_leakage", "decontaminate"],
    "operators.multimodal": ["wav_roundtrip"],
    "streaming.stateful": ["stateful_sessions"],
    "streaming.cdc": ["cdc_incremental"],
    # the manifest read probes: their fixtures are built in the cold pass
    "sinks.manifest": [
        "manifest_merge", "manifest_skip_scan", "manifest_lookup",
        "zorder_skip_scan", "manifest_mor_delete", "colocated_join",
        "manifest_clone", "merge_by_source", "bloom_skip_scan",
        "sidecar_metadata", "incremental_compaction", "clone_metadata",
        "restore_metadata", "commit_delta_metadata",
    ],
}
QUERY_LAYER = {q: layer for layer, qs in _BY_LAYER.items() for q in qs}
LAYER_PROBES = [
    "pricing_summary", "cosine_topk", "paragraph_dedup", "scd2_build",
    "conversion_funnel", "split_leakage", "pii_scrub", "ohlc_bars",
    "hybrid_retrieval", "cms_estimate", "wav_roundtrip", "stateful_sessions",
]
SETUP_REPS = 3
MIN_PASSES = 1


def install_wrappers(tr) -> None:
    """Every query is one span from the benchmark's own loop; nothing to wrap."""


def _pass(spark, tr, qs, order, sf_dir: str, result, times: dict) -> float:
    from trail_condition_etl_spark.operators import artifacts

    t_pass = time.perf_counter()
    for name in order:
        t = time.perf_counter()
        result.attempted += 1
        try:
            with tr.span(QUERY_LAYER[name], name):
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as ex:  # counted and reported, never hidden
            result.fail(f"{name}: {ex!r}"[:300])
        times.setdefault(name, []).append(time.perf_counter() - t)
        artifacts.clear_caches(spark)
    return time.perf_counter() - t_pass


def cold_pass(spark, tr, qs, order: list[str], sf_dir: str, result, times: dict) -> float:
    """Run every query once, the first time in the session, which pays its
    artifact and fixture builds, collecting its rows; outside the timing,
    compare each query that has an oracle with `registry.oracle_sql()` run
    by DuckDB on the same files. Returns the seconds the queries took."""
    import duckdb

    from trail_condition_etl_spark import registry
    from trail_condition_etl_spark.catalog import TABLE_NAMES
    from trail_condition_etl_spark.operators import artifacts

    from .checks import Collected, rows_equal

    oracles = registry.oracle_sql()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')"
        )
    spent = 0.0
    for name in order:
        result.attempted += 1
        t = time.perf_counter()
        try:
            with tr.span(QUERY_LAYER[name], name):
                got = Collected(qs[name](spark, sf_dir))
            err = None
        except Exception as ex:  # a crashing query is a failed check
            err = f"raised {ex!r}"[:300]
        times.setdefault(name, []).append(time.perf_counter() - t)
        spent += times[name][-1]
        artifacts.clear_caches(spark)
        if err is None and name in oracles:
            try:
                res = con.execute(oracles[name])
                err = rows_equal(got, res.fetchall(), [d[0] for d in res.description])
            except duckdb.Error as ex:
                err = f"oracle failed: {ex!r}"[:300]
        if err:
            result.fail(f"{name}: {err}")
    con.close()
    return spent


def warm_up(spark, sf_dir: str) -> None:
    """One generic scan, join and aggregate, so the session's first-query
    codegen and JIT are not charged to whichever query runs first."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    od = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    li.join(od, li.l_orderkey == od.o_orderkey).groupBy("o_orderpriority").agg(
        F.sum("l_quantity")
    ).collect()


def run(spark, tr, seed: int, seconds: float, work: str, result, names: list[str],
        warm: bool) -> None:
    """With `warm`, set-up runs the cold pass and the measurement is passes
    over built artifacts until `seconds` have passed; otherwise set-up only
    warms the session and the measurement is the cold pass."""
    from trail_condition_etl_spark import registry

    qs = registry.queries()
    shutil.rmtree(work, ignore_errors=True)
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        sf_dir = os.path.join(work, f"tables{rep}")
        sizes = gen.suite_tables(seed, sf_dir)
        result.setup_once(time.perf_counter() - t0)
    result.sizes.update(sizes)
    order = list(names)
    if warm:  # a cold pass charges shared first-use costs to the first
        # query that needs them, so its order stays fixed across seeds
        random.Random(seed).shuffle(order)
    times: dict[str, list] = {}
    if warm:
        cold_s = cold_pass(spark, tr, qs, order, sf_dir, result, {})
        result.setup_fixed(cold_s)
        result.report("cold_pass_s", cold_s, "s", 1)
        tr.reset()
        passes = []
        deadline = time.perf_counter() + seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
            passes.append(_pass(spark, tr, qs, order, sf_dir, result, times))
    else:
        t0 = time.perf_counter()
        warm_up(spark, sf_dir)
        result.setup_fixed(time.perf_counter() - t0)
        tr.reset()
        passes = [cold_pass(spark, tr, qs, order, sf_dir, result, times)]
    result.iterations = len(passes)
    m = median(passes)
    per_query = [t for ts in times.values() for t in ts]
    result.metric("pass_s", m, "s", passes)
    result.metric("throughput_per_s", len(names) / m, "1/s", [len(names) / p for p in passes])
    result.latency(per_query)
    result.report("suite_s" if warm else "cold_pass_s", m, "s", len(passes))
    result.report("queries", len(names), "count", 1)


run_query_suite = functools.partial(run, names=HEADLINE, warm=True)
run_query_layers = functools.partial(run, names=LAYER_PROBES, warm=False)


def layer_specific(spark, tr, result) -> dict:
    return {}
