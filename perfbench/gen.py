"""Deterministic input generators for the benchmark workloads.

Every generator takes the workload seed and writes only the program's
inputs (parquet files the package reads); the expectations the output
checks need are returned to the caller and never written where the
program could see them. The same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = dt.timezone.utc

# pipeline_batch: the day the timed iteration runs for, the days of daily
# history the classifier reads, and the onecall forecast length.
BATCH_DAY = dt.datetime(2024, 3, 10, tzinfo=UTC)
HISTORY_DAYS = 7
HOURS = 48

# Shares of bad and partial payloads in pipeline_batch. The variants are
# the ones FIXTURES.md names for the day_summary (F2) and onecall (F3)
# payloads. ITEM_NO_RAIN follows the reference's onecall fixture, whose
# rain is null on every other hour (FIXTURES.md F3). The reference
# publishes no error rates (BASELINE.md), so the other shares are
# assumptions, listed as such in README.md.
DAILY_MALFORMED = 0.02  # unparseable JSON -> DLQ
DAILY_NO_TMAX = 0.02  # missing required temperature.max -> DLQ
DAILY_NO_WIND = 0.10  # missing optional wind -> 0.0
DAILY_NO_PRECIP = 0.10  # missing optional precipitation -> 0.0
ONECALL_MALFORMED = 0.01  # unparseable JSON -> DLQ
ITEM_NO_TEMP = 0.005  # hourly item missing required temp -> DLQ
ITEM_NO_RAIN = 0.50  # optional rain null -> 0.0
ITEM_NO_WIND = 0.05  # optional wind_speed absent -> 0.0

# stream_tasks: the reference's routing thresholds (BASELINE.md): a task
# delivered more than MAX_DELIVERIES times is poison, one enqueued more
# than EXPIRY_H hours before the pass is expired.
MAX_DELIVERIES = 6
EXPIRY_H = 24
# Shares of the staged task rows. The reference publishes none, so these
# are assumptions, listed as such in README.md.
REDELIVERED = 0.10  # byte-identical copy of an earlier task
POISON = 0.03  # delivered MAX_DELIVERIES + 1 to + 3 times -> DLQ dlq_poison
EXPIRED = 0.03  # enqueued 1-6 h past EXPIRY_H before the pass -> DLQ or late drop
STREAM_T0 = dt.datetime(2024, 6, 1, tzinfo=UTC)


def write_table(table: pa.Table, path: str) -> None:
    """Write atomically: the file appears under its name complete."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


# ---------------------------------------------------------------------------
# pipeline_batch
# ---------------------------------------------------------------------------


def customers(rng: np.random.Generator, n: int) -> pa.Table:
    """Customer-shaped city rows (the package derives cities from them)."""
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(_round2(rng.uniform(-999.99, 9999.99, n))),
            "c_mktsegment": pa.array(segs[rng.integers(0, 5, n)]),
        }
    )


def _daily_day(rng, n: int, day: dt.datetime, climate: np.ndarray):
    """One day_summary payload per city. Returns (payload rows, valid
    facts, expected rejects)."""
    date = day.strftime("%Y-%m-%d")
    u = rng.random((n, 4))
    tmax = _round2(climate + rng.normal(0.0, 6.0, n))
    rain = _round2(rng.exponential(2.5, n))
    wind = _round2(rng.uniform(0.0, 15.0, n))
    payloads, facts, rejects = [], [], []
    ts = day.replace(tzinfo=None)
    for c in range(n):
        if u[c, 0] < DAILY_MALFORMED:
            payloads.append((c, '{"lat": ' + date))
            rejects.append((c, "MalformedPayloadError"))
            continue
        doc = {"lat": 0.0, "lon": 0.0, "tz": "+00:00", "date": date, "units": "metric"}
        temp = {"min": float(tmax[c] - 8.0), "afternoon": float(tmax[c] - 1.0)}
        if u[c, 1] >= DAILY_NO_TMAX:
            temp["max"] = float(tmax[c])
        doc["temperature"] = temp
        has_wind = u[c, 2] >= DAILY_NO_WIND
        has_rain = u[c, 3] >= DAILY_NO_PRECIP
        if has_wind:
            doc["wind"] = {"max": {"speed": float(wind[c])}, "direction": 180}
        if has_rain:
            doc["precipitation"] = {"total": float(rain[c])}
        payloads.append((c, json.dumps(doc)))
        if "max" not in temp:
            rejects.append((c, "MissingRequiredFieldError"))
            continue
        facts.append(
            (
                c,
                ts,
                float(tmax[c]),
                float(rain[c]) if has_rain else 0.0,
                float(wind[c]) if has_wind else 0.0,
                "HISTORICAL",
            )
        )
    return payloads, facts, rejects


def _onecall_day(rng, n: int, day: dt.datetime, climate: np.ndarray):
    """One onecall payload per city with HOURS hourly items starting at
    `day` 00:00 UTC. Returns (payload rows, valid facts, expected rejects)."""
    t0 = int(day.timestamp())
    hours = np.arange(HOURS)
    diurnal = 4.0 * np.sin((hours - 9) * np.pi / 12.0)
    u_pay = rng.random(n)
    u = rng.random((n, HOURS, 3))
    temps = _round2(climate[:, None] + diurnal[None, :] + rng.normal(0.0, 2.0, (n, HOURS)))
    rains = _round2(rng.exponential(0.6, (n, HOURS)))
    winds = _round2(rng.uniform(0.0, 12.0, (n, HOURS)))
    payloads, facts, rejects = [], [], []
    for c in range(n):
        if u_pay[c] < ONECALL_MALFORMED:
            payloads.append((c, '{"lat": 1.0, "hourly": [{"dt": '))
            rejects.append((c, "MalformedPayloadError"))
            continue
        items = []
        for h in range(HOURS):
            item = {"dt": t0 + 3600 * h}
            ok = u[c, h, 0] >= ITEM_NO_TEMP
            has_rain = u[c, h, 1] >= ITEM_NO_RAIN
            has_wind = u[c, h, 2] >= ITEM_NO_WIND
            if ok:
                item["temp"] = float(temps[c, h])
            if has_wind:
                item["wind_speed"] = float(winds[c, h])
            item["rain"] = {"1h": float(rains[c, h])} if has_rain else None
            items.append(item)
            if not ok:
                rejects.append((c, "MissingRequiredFieldError"))
                continue
            facts.append(
                (
                    c,
                    dt.datetime.fromtimestamp(t0 + 3600 * h, UTC).replace(tzinfo=None),
                    float(temps[c, h]),
                    float(rains[c, h]) if has_rain else 0.0,
                    float(winds[c, h]) if has_wind else 0.0,
                    "FORECAST",
                )
            )
        doc = {"lat": 0.0, "lon": 0.0, "timezone": "UTC", "timezone_offset": 0, "hourly": items}
        payloads.append((c, json.dumps(doc)))
    return payloads, facts, rejects


def _payload_table(rows) -> pa.Table:
    return pa.table(
        {
            "city_id": pa.array([r[0] for r in rows], pa.int32()),
            "payload": pa.array([r[1] for r in rows], pa.string()),
        }
    )


class BatchInputs:
    """What the generator knows about the pipeline_batch inputs it wrote."""

    def __init__(self, n_cities: int):
        self.n_cities = n_cities
        self.prev_facts: list[tuple] = []  # valid facts of the previous day's run
        self.prev_rejects: list[tuple] = []  # (city_id, exception_type) of that run
        self.facts: list[tuple] = []  # valid facts of the timed day
        self.rejects: list[tuple] = []  # (city_id, exception_type) of the timed day
        self.daily_rows = 0
        self.hourly_rows = 0

    @property
    def input_rows(self) -> int:
        """Payload rows of one timed iteration: daily payloads plus hourly
        items (a malformed onecall counts as one row)."""
        return self.daily_rows + self.hourly_rows


def batch_inputs(seed: int, root: str, n_cities: int) -> BatchInputs:
    """Write the pipeline_batch inputs under `root`:

    * `customer.parquet` — the city source;
    * `prev/daily.parquet`, `prev/onecall.parquet` — the scheduled run of
      BATCH_DAY - 1, which backfills the day_summary payloads of the
      HISTORY_DAYS days before it and fetches a 48 h onecall from
      BATCH_DAY - 1 00:00;
    * `day/daily.parquet`, `day/onecall.parquet` — the timed run of
      BATCH_DAY: yesterday's day_summary and a 48 h onecall from
      BATCH_DAY 00:00, overlapping the stored forecast by 24 h.
    """
    rng = np.random.default_rng(seed)
    out = BatchInputs(n_cities)
    write_table(customers(rng, n_cities), os.path.join(root, "customer.parquet"))
    climate = rng.uniform(-8.0, 30.0, n_cities)
    one_day = dt.timedelta(days=1)
    for sub, day in (("prev", BATCH_DAY - one_day), ("day", BATCH_DAY)):
        backfill = HISTORY_DAYS if sub == "prev" else 1
        daily, facts, rejects = [], [], []
        for k in range(backfill, 0, -1):
            p, f, r = _daily_day(rng, n_cities, day - k * one_day, climate)
            daily, facts, rejects = daily + p, facts + f, rejects + r
        op, of, orj = _onecall_day(rng, n_cities, day, climate)
        write_table(_payload_table(daily), os.path.join(root, sub, "daily.parquet"))
        write_table(_payload_table(op), os.path.join(root, sub, "onecall.parquet"))
        if sub == "prev":
            out.prev_facts, out.prev_rejects = facts + of, rejects + orj
        else:
            out.facts, out.rejects = facts + of, rejects + orj
            out.daily_rows = len(daily)
            bad = sum(1 for _, e in orj if e == "MalformedPayloadError")
            out.hourly_rows = (len(op) - bad) * HOURS + bad
    return out


def facts_table(facts: list[tuple]) -> pa.Table:
    """Weather facts (city_id, timestamp_utc, temperature_deg_c,
    rain_fall_total_mm, wind_speed_mps, data_source) as a table with the
    types the ingestion layer produces; naive timestamps are UTC."""
    cols = list(zip(*facts)) if facts else [()] * 6
    return pa.table(
        {
            "city_id": pa.array(cols[0], pa.int32()),
            "timestamp_utc": pa.array(cols[1], pa.timestamp("us", tz="UTC")),
            "temperature_deg_c": pa.array(cols[2], pa.float64()),
            "rain_fall_total_mm": pa.array(cols[3], pa.float64()),
            "wind_speed_mps": pa.array(cols[4], pa.float64()),
            "data_source": pa.array(cols[5], pa.string()),
        }
    )


def expected_window(facts: list[tuple], anchor: dt.datetime) -> list[tuple]:
    """The classification window the weather table should hold after the
    runs that wrote `facts` (in run order), computed from the generator's
    valid facts alone: upsert semantics keyed by (city, timestamp,
    source), then historical rows of the last HISTORY_DAYS days before
    `anchor` and forecast rows from `anchor` on."""
    table: dict[tuple, tuple] = {}
    for f in facts:
        table[(f[0], f[1], f[5])] = f
    lo = (anchor - dt.timedelta(days=HISTORY_DAYS)).replace(tzinfo=None)
    a = anchor.replace(tzinfo=None)
    return sorted(
        f
        for f in table.values()
        if (f[5] == "HISTORICAL" and lo <= f[1] < a)
        or (f[5] == "FORECAST" and f[1] >= a)
    )


# ---------------------------------------------------------------------------
# stream_tasks
# ---------------------------------------------------------------------------

ENVELOPE = pa.schema(
    [
        ("task_id", pa.string()),
        ("city_id", pa.int32()),
        ("_enqueued_ts", pa.timestamp("us", tz="UTC")),
        ("_delivery_count", pa.int32()),
    ]
)


class StreamTick:
    """One tick's staged task rows, split into files, with the generator's
    ground truth for the accounting check. Tick t's pass runs at
    STREAM_T0 + t hours; tick 0 stages the history."""

    def __init__(self, tick: int):
        self.tick = tick
        self.now = STREAM_T0 + dt.timedelta(hours=tick)
        self.files: list[list[tuple]] = []
        self.fresh: set[str] = set()
        self.poison: set[str] = set()
        self.expired: set[str] = set()
        self.redelivered = 0

    @property
    def n_rows(self) -> int:
        return sum(len(f) for f in self.files)


def _enqueued_before(rng, now_us: int, lo_s: int, hi_s: int) -> int:
    return now_us - int(rng.integers(lo_s * 1_000_000, hi_s * 1_000_000))


def stream_ticks(seed: int, history: StreamTick, tasks_per_tick: int, files_per_tick: int):
    """Yield the task rows of scheduler ticks 1, 2, ... after `history`
    (tick 0). Fresh tasks of a tick are enqueued within the hour before its
    pass; redeliveries are byte-identical copies of a fresh task of this or
    an earlier tick, the history included; poison tasks were delivered
    more than MAX_DELIVERIES times; expired tasks were enqueued 1-6 h past
    EXPIRY_H before the pass."""
    rng = np.random.default_rng([seed, 2])
    expired_lo_s = (EXPIRY_H + 1) * 3600
    pool = [r for f in history.files for r in f]  # redelivery sources
    t = 0
    while True:
        t += 1
        tk = StreamTick(t)
        now_us = int(tk.now.timestamp() * 1e6)
        n_red = int(tasks_per_tick * REDELIVERED)
        n_poison = int(tasks_per_tick * POISON)
        n_exp = int(tasks_per_tick * EXPIRED)
        n_fresh = tasks_per_tick - n_red - n_poison - n_exp
        rows = []
        for kind, n, ids in (("f", n_fresh, tk.fresh), ("p", n_poison, tk.poison),
                             ("x", n_exp, tk.expired)):
            for i in range(n):
                if kind == "x":
                    enq = _enqueued_before(rng, now_us, expired_lo_s, expired_lo_s + 5 * 3600)
                else:
                    enq = _enqueued_before(rng, now_us, 1, 3600)
                deliveries = (
                    rng.integers(MAX_DELIVERIES + 1, MAX_DELIVERIES + 4)
                    if kind == "p"
                    else rng.integers(1, 4)
                )
                r = (f"t{t}-{kind}{i:06d}", int(rng.integers(0, 10_000)), enq, int(deliveries))
                rows.append(r)
                ids.add(r[0])
        pool += rows[:n_fresh]
        rows += [pool[j] for j in rng.integers(0, len(pool), n_red)]
        tk.redelivered = n_red
        rows = [rows[j] for j in rng.permutation(len(rows))]
        per = -(-len(rows) // files_per_tick)
        tk.files = [rows[k : k + per] for k in range(0, len(rows), per)]
        yield tk


def envelope_table(rows: list[tuple]) -> pa.Table:
    return pa.table(
        {
            "task_id": pa.array([r[0] for r in rows], pa.string()),
            "city_id": pa.array([r[1] for r in rows], pa.int32()),
            "_enqueued_ts": pa.array([r[2] for r in rows], pa.timestamp("us", tz="UTC")),
            "_delivery_count": pa.array([r[3] for r in rows], pa.int32()),
        },
        schema=ENVELOPE,
    )


def stage_file(rows: list[tuple], path: str) -> None:
    write_table(envelope_table(rows), path)


def stream_history(seed: int, n_rows: int) -> StreamTick:
    """Tick 0: fresh tasks, enqueued within the hour before STREAM_T0, that
    the output table holds before the first measured tick; one file."""
    rng = np.random.default_rng([seed, 1])
    tk = StreamTick(0)
    now_us = int(tk.now.timestamp() * 1e6)
    rows = [
        (f"h-{i:07d}", int(rng.integers(0, 10_000)), _enqueued_before(rng, now_us, 1, 3600),
         int(rng.integers(1, 4)))
        for i in range(n_rows)
    ]
    tk.files = [rows]
    tk.fresh = {r[0] for r in rows}
    return tk


# ---------------------------------------------------------------------------
# query_layers, query_suite: TPC-H-like star schema + events/documents/
# embeddings, with the column names and types the package's catalog reads
# ---------------------------------------------------------------------------

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query big stream order "
    "group filter vector"
).split()
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]


def suite_tables(seed: int, root: str, scale: float = 0.001) -> dict[str, int]:
    """Write the ten query-suite tables under `root`; return row counts.
    Sizes follow the TPC-H ratios at `scale` (documents, embeddings and
    the 150 event users are fixed-size, as in the repository's test data)."""
    rng = np.random.default_rng([seed, 7])
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_doc = n_emb = 500
    tabs: dict[str, pa.Table] = {}
    tabs["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tabs["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    tabs["customer"] = customers(rng, n_cust)
    tabs["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_round2(rng.uniform(-999.99, 9999.99, n_supp))),
        }
    )
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    tabs["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pa.array(types[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
        }
    )
    day0 = np.datetime64("1995-01-01", "us")
    span_days = 2404
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tabs["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_round2(rng.uniform(1000.0, 500_000.0, n_ord))),
            "o_orderdate": pa.array(
                day0 + rng.integers(0, span_days, n_ord) * np.timedelta64(1, "D")
            ),
            "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)]),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tabs["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(_round2(qty * rng.uniform(900.0, 2100.0, n_line))),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
            "l_shipdate": pa.array(
                day0 + rng.integers(1, span_days + 3, n_line) * np.timedelta64(1, "D")
            ),
        }
    )
    ev_t0 = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.integers(1, int(30 * 86_400e6 / n_ev) * 2, n_ev)
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    tabs["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ev_t0 + np.cumsum(gaps).astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 150, n_ev).astype(np.int64)),
            "event_type": pa.array(etypes[rng.integers(0, 5, n_ev)]),
            "value": pa.array(_round2(rng.exponential(30.0, n_ev))),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.15:  # near-duplicate of an earlier doc
            base = texts[int(rng.integers(0, len(texts)))].split()
            j = int(rng.integers(0, len(base)))
            base[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(base))
        else:
            n_w = int(rng.integers(8, 80))
            texts.append(" ".join(_WORDS[k] for k in rng.integers(0, len(_WORDS), n_w)))
    langs = np.array(["de", "en", "en", "en", "es", "fr", "zh"])
    tabs["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
            "text": texts,
            "lang": pa.array(langs[rng.integers(0, len(langs), n_doc)]),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tabs["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    for name, tab in tabs.items():
        write_table(tab, os.path.join(root, f"{name}.parquet"))
    return {name: tab.num_rows for name, tab in tabs.items()}
