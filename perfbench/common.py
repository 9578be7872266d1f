"""Shared harness pieces: the Spark session, the span tracer, the
event-log reader that turns spans into per-layer counters, statistics and
the provenance every result carries."""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import subprocess
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

#: Core count the bounds in BENCHMARK.json were measured at. Results from a
#: session with another core count are marked not comparable.
REFERENCE_CPUS = 4

PIPELINE_LAYERS = (
    "operators.pipeline",
    "operators.ingestion",
    "operators.weather",
    "sinks.manifest",
    "sinks.upsert",
    "streaming.pipeline",
    "streaming.cdc",
)
SUITE_LAYERS = (
    "operators.relational",
    "operators.similarity",
    "operators.dedup",
    "operators.warehouse",
    "operators.behavior",
    "operators.curation",
    "operators.text",
    "operators.timeseries",
    "operators.search",
    "operators.sketches",
    "operators.multimodal",
    "streaming.stateful",
)
LAYERS = PIPELINE_LAYERS + SUITE_LAYERS
LAYER_SPECIFIC = {
    "session.start_s": "s",
    "operators.ingestion.reject_ratio": "ratio",
    "sinks.manifest.commits": "count",
    "sinks.manifest.commit_s_p50": "s",
    "sinks.manifest.rows_rewritten_per_row_in": "ratio",
    "sinks.manifest.buckets_carried_ratio": "ratio",
    "sinks.manifest.disk_bytes_per_live_byte": "ratio",
    "sinks.upsert.dlq_rows": "count",
    "streaming.cdc.change_rows": "count",
    "streaming.pipeline.epochs": "count",
    "streaming.pipeline.epoch_s_p50": "s",
    "streaming.pipeline.add_batch_s": "s",
    "streaming.pipeline.planning_s": "s",
    "streaming.pipeline.log_commit_s": "s",
    "streaming.pipeline.start_stop_s": "s",
    "streaming.pipeline.state_rows": "count",
    "streaming.pipeline.dup_dropped": "count",
    "streaming.pipeline.late_dropped": "count",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units: dict[str, str] = {}
    for layer in LAYERS:
        units[f"{layer}.busy_s"] = "s"
        units[f"{layer}.driver_s"] = "s"
        units[f"{layer}.executor_cpu_s"] = "s"
        units[f"{layer}.shuffle_bytes"] = "bytes"
        if layer in PIPELINE_LAYERS:
            units[f"{layer}.jobs"] = "count"
            units[f"{layer}.rows_out"] = "count"
    units.update(LAYER_SPECIFIC)
    return units


def cpus() -> int:
    """Spark's local[N]: SPARK_GRAFT_CPUS if set, else the usable cores,
    never more than REFERENCE_CPUS."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env and env.isdigit():
        return int(env)
    return min(len(os.sched_getaffinity(0)), REFERENCE_CPUS)


def start_session(trace: bool, event_dir: str):
    """Start the package's session (`session.get_spark`) with the
    benchmark's settings; returns (spark, seconds taken)."""
    sub = [
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.local.dir={os.path.join(WORK, 'spark-local')}",
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    ]
    if trace:
        os.makedirs(event_dir, exist_ok=True)
        sub += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{event_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(sub + ["pyspark-shell"])
    from trail_condition_etl_spark.session import ensure_engine_conf, get_spark

    t0 = time.perf_counter()
    spark = ensure_engine_conf(get_spark("perfbench"))
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit: the gateway
    process ends when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans around calls into the package's layers, kept in memory.

    Each span sets a Spark job group `pb<id>` for its duration, so the
    event log attributes the jobs it starts; the previous group is
    restored on exit. A disabled tracer records nothing and sets nothing.
    """

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self.iteration = 0
        self._stack: list[int] = []
        self._next_id = 0

    def reset(self) -> None:
        """Drop what set-up recorded; span ids keep counting, so set-up
        jobs never match a measured span's job group."""
        self.spans.clear()
        self.counts.clear()
        self.samples.clear()

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        sid = self._next_id
        self._next_id += 1
        rec = {
            "id": sid,
            "layer": layer,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "iteration": self.iteration,
            "start": time.time(),
            "end": None,
            "rows_out": 0,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(f"pb{sid}", f"{layer}:{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.sc.setLocalProperty("spark.job.description", prev_desc)

    def materialize(self, rec, df):
        """In a traced run, compute `df` inside the span that produced it
        and keep it cached, so the next layer's span holds only its own
        work; records the row count. Untraced, returns `df` unchanged."""
        if rec is None:
            return df
        df = df.persist()
        rec["rows_out"] += df.count()
        return df

    def add(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def wrap(self, module, attr: str, layer: str) -> None:
        """Route calls the package makes to `module.attr(spark, path, df,
        ...)` through a span (traced runs only). The rows of `df` are
        counted before the call, outside the span, as the span's rows_out
        and the layer's rows_in."""
        if not self.enabled:
            return
        fn = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            n = args[2].count()
            tracer.add(f"{layer}.rows_in", n)
            with tracer.span(layer, attr) as rec:
                rec["rows_out"] = n
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts, "samples": self.samples}, f)


# ---------------------------------------------------------------------------
# event log -> per-layer counters
# ---------------------------------------------------------------------------


def read_event_log(event_dir: str) -> tuple[dict, dict]:
    """Parse the (stopped) session's event log into
    jobs: {job_id: {start, end, group, batch}} (times in epoch seconds;
    group = the job group, batch = the streaming micro-batch id) and
    work: {job_id: {cpu_s, shuffle_bytes}} summed over the job's tasks."""
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        glob.glob(os.path.join(event_dir, "*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    work: dict[int, dict] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "batch": props.get("streaming.sql.batchId"),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                    work[jid] = {"cpu_s": 0.0, "shuffle_bytes": 0}
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics") or {}
                    if jid is None:
                        continue
                    work[jid]["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    sw = tm.get("Shuffle Write Metrics") or {}
                    work[jid]["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return jobs, work


def _subtract(intervals: list[tuple], cuts: list[tuple]) -> float:
    """Total length of `intervals` not covered by any of `cuts`."""
    total = 0.0
    cuts = sorted(cuts)
    for a, b in intervals:
        pos, covered = a, 0.0
        for c, d in cuts:
            if d <= pos or c >= b:
                continue
            lo, hi = max(c, pos), min(d, b)
            if hi > lo:
                covered += hi - lo
                pos = hi
        total += (b - a) - covered
    return total


def attribute(spans: list[dict], jobs: dict, work: dict) -> dict[str, dict]:
    """Per-layer busy/driver/cpu/shuffle/jobs/rows_out from spans + jobs.

    A job belongs to the span whose job group it carries. A job without
    one belongs to the innermost span open at its submission time; when it
    carries a streaming batch id (the stream's own work between sink
    calls), only `streaming.pipeline` spans are candidates."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    owner: dict[int, int] = {}
    for jid, j in jobs.items():
        g = j["group"] or ""
        if g.startswith("pb") and g[2:].isdigit() and int(g[2:]) in by_id:
            owner[jid] = int(g[2:])
            continue
        best = None
        for s in spans:
            if j["batch"] is not None and s["layer"] != "streaming.pipeline":
                continue
            if s["start"] <= j["start"] <= (s["end"] or s["start"]):
                if best is None or s["start"] >= best["start"]:
                    best = s
        if best is not None:
            owner[jid] = best["id"]
    job_iv = [(j["start"], j["end"] or j["start"]) for j in jobs.values()]
    out: dict[str, dict] = {}
    for s in spans:
        lay = out.setdefault(
            s["layer"],
            {"busy_s": 0.0, "driver_s": 0.0, "executor_cpu_s": 0.0,
             "shuffle_bytes": 0, "jobs": 0, "rows_out": 0},
        )
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        self_iv = []
        pos = s["start"]
        for a, b in sorted(kids):
            if a > pos:
                self_iv.append((pos, a))
            pos = max(pos, b)
        if s["end"] > pos:
            self_iv.append((pos, s["end"]))
        lay["busy_s"] += sum(b - a for a, b in self_iv)
        lay["driver_s"] += _subtract(self_iv, job_iv)
        lay["rows_out"] += s["rows_out"]
    for jid, sid in owner.items():
        lay = out[by_id[sid]["layer"]]
        lay["jobs"] += 1
        lay["executor_cpu_s"] += work[jid]["cpu_s"]
        lay["shuffle_bytes"] += work[jid]["shuffle_bytes"]
    return out


def sink_metrics(tr: Tracer) -> dict[str, float]:
    """sinks.manifest commit counters from the traced run's spans and the
    describe_history sums the workload added under `manifest.*`."""
    c = tr.counts
    commit_s = [
        s["end"] - s["start"]
        for s in tr.spans
        if s["layer"] == "sinks.manifest" and s["name"] == "manifest_upsert"
    ]
    touched = c.get("manifest.buckets_written", 0) + c.get("manifest.buckets_carried", 0)
    rows_in = c.get("sinks.manifest.rows_in", 0)
    return {
        "sinks.manifest.commits": c.get("manifest.commits", 0),
        "sinks.manifest.commit_s_p50": median(commit_s) if commit_s else 0.0,
        "sinks.manifest.rows_rewritten_per_row_in": (
            c.get("manifest.rows_written", 0) / rows_in if rows_in else 0.0
        ),
        "sinks.manifest.buckets_carried_ratio": (
            c.get("manifest.buckets_carried", 0) / touched if touched else 0.0
        ),
        "sinks.manifest.disk_bytes_per_live_byte": c.get(
            "sinks.manifest.disk_bytes_per_live_byte", 0.0
        ),
    }


#: per-layer metrics that are ratios or percentiles, not per-iteration sums
NOT_SUMMED = {
    "session.start_s",
    "operators.ingestion.reject_ratio",
    "sinks.manifest.commit_s_p50",
    "sinks.manifest.rows_rewritten_per_row_in",
    "sinks.manifest.buckets_carried_ratio",
    "sinks.manifest.disk_bytes_per_live_byte",
    "streaming.pipeline.epoch_s_p50",
}


def layer_metrics(layers: dict[str, dict], specific: dict[str, float], n_iter: int) -> dict:
    """Every per-layer metric in the result format (0 where the workload
    does not reach a layer). Sums are reported per iteration (per batch
    iteration, stream tick or query pass), so they do not depend on how
    many iterations fit in the measured seconds."""
    metrics = {}
    for name, unit in per_layer_units().items():
        if name in LAYER_SPECIFIC:
            value = specific.get(name, 0)
        else:
            layer, key = name.rsplit(".", 1)
            value = layers.get(layer, {}).get(key, 0)
        if name not in NOT_SUMMED:
            value = value / n_iter
        metrics[name] = {"value": round(value, 6) if isinstance(value, float) else value, "unit": unit}
    return metrics


# ---------------------------------------------------------------------------
# statistics and provenance
# ---------------------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    vs = sorted(values)
    if not vs:
        raise ValueError("percentile of no values")
    k = (len(vs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(vs) - 1)
    return vs[lo] + (vs[hi] - vs[lo]) * (k - lo)


def source_digest() -> str:
    """sha256 over the package sources: identifies the code measured when
    the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "trail_condition_etl_spark")
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def provenance(seed: int, workload: str, sizes: dict) -> dict:
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True
        )
        commit = r.stdout.strip() or None
    n = cpus()
    return {
        "workload": workload,
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "local_cpus": n,
        "pyspark": pyspark.__version__,
        "git_commit": commit,
        "source_sha256": source_digest(),
        "input_sizes": sizes,
        "comparable": n == REFERENCE_CPUS,
        "incomparable_cpus": n != REFERENCE_CPUS,
    }
