"""Workload ``log_api_reads``: the portal and dashboard read traffic.

Set-up generates a one-month delivery log shaped like the reference metrics
bench (chain lengths 84/9/4/3 %, 0.5 % permanent failures, 3 topics, 500
destinations) with Zipf-skewed tenants, writes it through
``insert_many(storage="txn")`` in :data:`COMMITS` commits, and reads it back
through ``load_table``.  Closed-loop clients then issue a seeded mix of list
pages, metrics calls and point lookups; every call reloads the table
snapshot, as a server answering from a live log does.

Every answer is checked after the timed region: metrics against DuckDB over
the generated parquet files, list pages against the generated rows in
keyset order, lookups against the generated row (or ``None``).

The traced run also streams a burst of new events through the delivery
pipeline (:mod:`perfbench.delivery`) into the same log before the reads, so
routing, delivery, retry and alert layers are measured.  The untraced run
leaves it out: a cold JVM spends about half a minute on the burst's two
micro-batches, more than the run budget allows.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.common import latency_summary

N_EVENTS = 40_000
N_TENANTS = 100
N_DESTINATIONS = 500
COMMITS = 1  # each commit covers consecutive days of the month
SETUP_REPS = 3
CLIENTS = 2
WARMUP_S = 15.0
PAGE_LIMIT = 100
MAX_PAGES = 3  # a list walk follows ``next`` for this many pages
TOPICS = ("order.created", "order.updated", "payment.received")
JAN = datetime(2000, 1, 1, tzinfo=timezone.utc)
FEB = datetime(2000, 2, 1, tzinfo=timezone.utc)
# one cycle of ten calls: 4 list walks, 3 metrics calls, 3 lookups.  The
# order is fixed so that every seed runs the same mix in the same order.
CYCLE = ("list", "metrics", "lookup", "list", "metrics", "list", "lookup", "metrics", "list", "lookup")

_US = 1_000_000


# ---- input generation --------------------------------------------------------


def generate(seed: int, n_events: int = N_EVENTS) -> pd.DataFrame:
    """The denormalized attempt log (one row per attempt), from ``seed`` only."""
    rng = np.random.default_rng([seed, 1])
    token = f"{rng.integers(16**8):08x}"
    weights = 1.0 / np.arange(1, N_TENANTS + 1) ** 1.2
    tenant = rng.choice(N_TENANTS, n_events, p=weights / weights.sum())
    dest = rng.integers(N_DESTINATIONS, size=n_events)
    topic = rng.integers(len(TOPICS), size=n_events)
    span_us = int((FEB - JAN).total_seconds()) * _US
    ev_us = rng.integers(0, span_us, size=n_events)
    chain = np.searchsorted(np.cumsum([0.84, 0.09, 0.04, 0.03]), rng.random(n_events), side="right") + 1
    chain = np.minimum(chain, 4)
    permanent = rng.random(n_events) < 0.005
    manual_event = rng.random(n_events) < 0.01

    idx = np.repeat(np.arange(n_events), chain)
    attempt = np.concatenate([np.arange(1, c + 1) for c in chain]) if n_events else np.array([], int)
    last = attempt == chain[idx]
    ok = last & ~permanent[idx]
    base = pd.Timestamp(JAN)
    ev_ids = np.char.add(f"evt_{token}_", np.char.zfill(np.arange(n_events).astype(str), 7))
    return pd.DataFrame(
        {
            "attempt_id": np.char.add(np.char.add(ev_ids[idx], "_"), attempt.astype(str)),
            "event_id": ev_ids[idx],
            "tenant_id": np.char.add("tenant_", np.char.zfill(tenant[idx].astype(str), 2)),
            "destination_id": np.char.add("dest_", dest[idx].astype(str)),
            "topic": np.array(TOPICS)[topic[idx]],
            "eligible_for_retry": True,
            "event_time": base + pd.to_timedelta(ev_us[idx], unit="us"),
            "metadata": [[("source", "perfbench")]] * len(idx),
            "data": np.char.add('{"n": ', np.char.add(idx.astype(str), "}")),
            "status": np.where(ok, "success", "failed"),
            "attempt_time": base + pd.to_timedelta(ev_us[idx] + (attempt - 1) * 30 * _US, unit="us"),
            "code": np.where(ok, "200", "500"),
            "response_data": "",
            "manual": (attempt > 1) & manual_event[idx],
            "attempt_number": attempt.astype("int32"),
        }
    )


ARROW_SCHEMA = pa.schema(
    [
        ("attempt_id", pa.string()),
        ("event_id", pa.string()),
        ("tenant_id", pa.string()),
        ("destination_id", pa.string()),
        ("topic", pa.string()),
        ("eligible_for_retry", pa.bool_()),
        ("event_time", pa.timestamp("us", tz="UTC")),
        ("metadata", pa.map_(pa.string(), pa.string())),
        ("data", pa.string()),
        ("status", pa.string()),
        ("attempt_time", pa.timestamp("us", tz="UTC")),
        ("code", pa.string()),
        ("response_data", pa.string()),
        ("manual", pa.bool_()),
        ("attempt_number", pa.int32()),
    ]
)


def write_commit_files(att: pd.DataFrame, gen_dir: str) -> list[str]:
    """One parquet file per commit, split on the event's day of month."""
    os.makedirs(gen_dir, exist_ok=True)
    day = (att["event_time"] - pd.Timestamp(JAN)).dt.days.to_numpy()
    bounds = np.linspace(0, 31, COMMITS + 1)
    paths = []
    for k in range(COMMITS):
        part = att[(day >= bounds[k]) & (day < bounds[k + 1])]
        path = os.path.join(gen_dir, f"commit-{k:02d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, schema=ARROW_SCHEMA, preserve_index=False), path)
        paths.append(path)
    return paths


def build_log(spark, commit_files: list[str], log_dir: str, tracer) -> tuple[str, str]:
    """Write the log through ``insert_many`` (one txn commit per file)."""
    from outpost_spark.logstore.insert import insert_many

    events_path, attempts_path = os.path.join(log_dir, "events"), os.path.join(log_dir, "attempts")
    for path in commit_files:
        entries = spark.read.parquet(path)
        before = log_files(spark, events_path, attempts_path) if tracer.enabled else 0
        with tracer.span("logstore.insert") as sp:
            insert_many(entries, events_path, attempts_path, storage="txn")
        if tracer.enabled:
            sp.add(rows_written=entries.count(), files_written=log_files(spark, events_path, attempts_path) - before)
    return events_path, attempts_path


def log_files(spark, *paths) -> int:
    """Live data files in the txn tables at ``paths`` (0 for a missing one)."""
    from outpost_spark.logstore.txntable import TxnTable

    return sum(len(TxnTable(spark, p).files()) for p in paths if TxnTable.is_txn_table(p, spark))


# ---- the request mix ---------------------------------------------------------


@dataclass
class Shape:
    name: str
    events: bool
    measures: tuple
    range_: tuple
    granularity: str | None = None
    dimensions: tuple = ()
    filters: tuple = ()  # ((key, (values...)), ...)

    def request(self):
        from outpost_spark.logstore.metrics import MetricsRequest, TimeRange

        return MetricsRequest(
            TimeRange(*self.range_),
            list(self.measures),
            granularity=self.granularity,
            dimensions=list(self.dimensions),
            filters={k: list(v) for k, v in self.filters},
        )


def metric_shapes(rng, tenants_by_size: list[str]) -> list[Shape]:
    """Sixteen of the ``bench_scale.bench_requests`` shapes (exact
    distinct) and event-metrics twins, in a fixed order that alternates
    cheap and costly ones; the seed picks the days, topic, destination and
    tenants they filter on."""
    month = (JAN, FEB)
    d = int(rng.integers(1, 29))
    day = (JAN + timedelta(days=d), JAN + timedelta(days=d + 1))
    week = (JAN + timedelta(days=d - 1), JAN + timedelta(days=d + 6))
    topic = TOPICS[int(rng.integers(len(TOPICS)))]
    dest = f"dest_{int(rng.integers(N_DESTINATIONS))}"
    small = tenants_by_size[len(tenants_by_size) // 2 + int(rng.integers(len(tenants_by_size) // 2))]
    big = tenants_by_size[int(rng.integers(3))]
    S = Shape
    return [
        S("CountAll", False, ("count",), month),
        S("CountByTopic", False, ("count",), month, dimensions=("topic",)),
        S("Hourly_1Day", False, ("count",), day, granularity="1h"),
        S("EventsByTopic", True, ("count", "rate"), month, dimensions=("topic",)),
        S("CountByDestination", False, ("count",), month, dimensions=("destination_id",)),
        S("Weekly_1Month", False, ("count",), month, granularity="1w"),
        S("CountAndRate", False, ("count", "rate", "error_rate"), month),
        S("CountByAttemptNumber", False, ("count",), month, dimensions=("attempt_number",)),
        S("RateHourly_1Day", False, ("rate", "error_rate"), day, granularity="1h"),
        S("EventsDailyTenant", True, ("count",), month, granularity="1d", filters=(("tenant_id", (big,)),)),
        S("FilterByTopic", False, ("count",), month, filters=(("topic", (topic,)),)),
        S(
            "SmallTenant", False, ("count",), month, granularity="1d",
            filters=(("tenant_id", (small,)), ("status", ("failed",))),
        ),
        S("CountByStatus", False, ("count",), week, dimensions=("status",)),
        S("Monthly_1Month", False, ("count",), month, granularity="1M"),
        S("FilterByDestination", False, ("count",), month, filters=(("destination_id", (dest,)),)),
        S("RetryMix", False, ("first_attempt_count", "retry_count", "manual_retry_count", "avg_attempt_number"), month),
    ]


def canonical_metrics(points, shape: Shape) -> list:
    """Order-free, float-rounded form of a metrics answer."""
    out = []
    for p in points:
        dims = tuple(p["dimensions"][d] for d in shape.dimensions)
        vals = tuple(_round(p["metrics"][m]) for m in shape.measures)
        out.append((p.get("time_bucket"), dims, vals))
    return sorted(out, key=repr)


def _round(v):
    return float(f"{v:.9g}") if isinstance(v, float) else v


class LogApi:
    """The read API over one log: every call reloads the snapshot."""

    def __init__(self, spark, events_path: str, attempts_path: str, tracer):
        self.spark, self.paths, self.tracer = spark, {True: events_path, False: attempts_path}, tracer

    def _load(self, events: bool, rid: str):
        from outpost_spark.logstore.txntable import load_table

        with self.tracer.span("logstore.load", rid):
            return load_table(self.spark, self.paths[events])

    def metrics(self, shape: Shape, rid: str):
        from outpost_spark.logstore.metrics import run_attempt_metrics, run_event_metrics

        df = self._load(shape.events, rid)
        run = run_event_metrics if shape.events else run_attempt_metrics
        with self.tracer.span("logstore.metrics", rid):
            resp = run(df, shape.request())
        return canonical_metrics(resp.data, shape)

    def list_page(self, events: bool, tenant: str, lo, hi, cursor: str, rid: str):
        from outpost_spark.logstore.lists import ListRequest, list_attempts, list_events

        df = self._load(events, rid)
        req = ListRequest(tenant_ids=[tenant], time_gte=lo, time_lt=hi, limit=PAGE_LIMIT, next=cursor)
        with self.tracer.span("logstore.lists", rid) as sp:
            page = (list_events if events else list_attempts)(df, req)
        sp.add(rows_out=len(page.items))
        key = "event_id" if events else "attempt_id"
        return [r[key] for r in page.items], page.next

    def lookup(self, events: bool, item_id: str, rid: str):
        from outpost_spark.logstore.lists import retrieve_attempt, retrieve_event

        df = self._load(events, rid)
        with self.tracer.span("logstore.lookup", rid):
            row = (retrieve_event if events else retrieve_attempt)(df, item_id)
        return None if row is None else lookup_fields(row.asDict(), events)


def epoch_us(t) -> int:
    """Exact epoch microseconds of a pandas or (naive UTC) datetime value."""
    if isinstance(t, pd.Timestamp):
        return t.value // 1000
    if t.tzinfo is not None:
        t = t.astimezone(timezone.utc).replace(tzinfo=None)
    return (t - datetime(1970, 1, 1)) // timedelta(microseconds=1)


def lookup_fields(row: dict, events: bool) -> tuple:
    us = epoch_us(row["event_time" if events else "attempt_time"])
    if events:
        return (row["event_id"], row["tenant_id"], row["destination_id"], row["topic"], us)
    return (row["attempt_id"], row["event_id"], row["status"], int(row["attempt_number"]), row["code"], us)


class Client(threading.Thread):
    """One closed-loop client: issues its next call when the last returns."""

    def __init__(self, api: LogApi, plan, deadline: float, cid: int):
        super().__init__(name=f"client-{cid}", daemon=True)
        self.api, self.plan, self.deadline, self.cid = api, plan, deadline, cid
        self.samples: list[tuple[str, float]] = []  # (kind, seconds)
        self.records: list[tuple] = []  # (kind, request, answer or exception)

    def run(self) -> None:
        n = 0
        while time.perf_counter() < self.deadline:
            op = self.plan.next_op()
            if op[0] == "list":
                _, events, tenant, lo, hi = op
                cursor = ""
                for page in range(MAX_PAGES):
                    if time.perf_counter() >= self.deadline:
                        break
                    ans = self._call("list", f"c{self.cid}-{n}", self.api.list_page, events, tenant, lo, hi, cursor)
                    self.records.append(("list", (events, tenant, lo, hi, page), ans))
                    n += 1
                    if isinstance(ans, Exception) or not ans[1]:
                        break
                    cursor = ans[1]
            else:
                fn = self.api.metrics if op[0] == "metrics" else self.api.lookup
                ans = self._call(op[0], f"c{self.cid}-{n}", fn, *op[1:])
                self.records.append((op[0], op[1:], ans))
                n += 1

    def _call(self, kind, rid, fn, *args):
        t0 = time.perf_counter()
        try:
            ans = fn(*args, rid)
        except Exception as e:  # a raised call counts as failed
            ans = e
        self.samples.append((kind, time.perf_counter() - t0))
        return ans


def list_windows(att: pd.DataFrame, tenants_by_size: list[str], rng, n: int = 32) -> list[tuple]:
    """``n`` seeded (events, tenant, lo, hi) list targets, each with more
    rows than ``MAX_PAGES - 1`` pages hold, so every walk reads
    :data:`MAX_PAGES` full-cost pages whatever the seed."""
    tables = {True: (att[att["attempt_number"] == 1], "event_time"), False: (att, "attempt_time")}
    out = []
    while len(out) < n:
        events = bool(rng.random() < 0.5)
        tenant = tenants_by_size[int(rng.integers(4))]
        lo = JAN + timedelta(days=int(rng.integers(0, 24)))
        hi = lo + timedelta(days=int(rng.integers(1, 8)))
        df, col = tables[events]
        if ((df["tenant_id"] == tenant) & (df[col] >= lo) & (df[col] < hi)).sum() > (MAX_PAGES - 1) * PAGE_LIMIT:
            out.append((events, tenant, lo, hi))
    return out


class Plan:
    """Seeded request generator for one client."""

    def __init__(self, rng, shapes, att: pd.DataFrame, windows: list[tuple], offset: int):
        self.rng, self.shapes, self.att, self.windows = rng, shapes, att, windows
        self.token = att["event_id"].iat[0].split("_")[1]
        self._n = offset
        self._shape_i = offset
        self._lookups = 0

    def next_op(self):
        """The next call: kinds in :data:`CYCLE` order from this client's
        offset, metrics shapes in their fixed order, list walks over the
        seeded windows, and every tenth lookup for an id that does not
        exist."""
        rng = self.rng
        kind = CYCLE[self._n % len(CYCLE)]
        self._n += 1
        if kind == "metrics":
            self._shape_i += 1
            return ("metrics", self.shapes[self._shape_i % len(self.shapes)])
        if kind == "list":
            return ("list", *self.windows[int(rng.integers(len(self.windows)))])
        events = bool(rng.random() < 0.5)
        self._lookups += 1
        if self._lookups % 10 == 0:  # an id that does not exist
            bogus = f"evt_{self.token}_9{int(rng.integers(10**7)):07d}"
            return ("lookup", events, bogus if events else bogus + "_1")
        row = self.att.iloc[int(rng.integers(len(self.att)))]
        return ("lookup", events, row["event_id"] if events else row["attempt_id"])


# ---- answer checks -----------------------------------------------------------


class Oracle:
    """Expected answers from the generated rows (DuckDB for metrics)."""

    def __init__(self, att: pd.DataFrame, commit_files: list[str]):
        import duckdb

        self.att = att
        self.ev = att[att["attempt_number"] == 1]
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        files = ", ".join(f"'{p}'" for p in commit_files)
        self.con.execute(f"CREATE VIEW attempts AS SELECT * FROM read_parquet([{files}])")
        self.con.execute("CREATE VIEW events AS SELECT * FROM attempts WHERE attempt_number <= 1")
        self._metrics: dict[str, list] = {}
        self._pages: dict[tuple, list] = {}
        self._by_id = {
            True: self.ev.set_index("event_id"),
            False: att.set_index("attempt_id"),
        }

    def metrics(self, shape: Shape) -> list:
        if shape.name not in self._metrics:
            self._metrics[shape.name] = duck_metrics(self.con, shape)
        return self._metrics[shape.name]

    def walk(self, events: bool, tenant: str, lo, hi) -> list[str]:
        key = (events, tenant, lo, hi)
        if key not in self._pages:
            df = self.ev if events else self.att
            tcol, icol = ("event_time", "event_id") if events else ("attempt_time", "attempt_id")
            sel = df[(df["tenant_id"] == tenant) & (df[tcol] >= lo) & (df[tcol] < hi)]
            ms = sel[tcol].astype("int64").to_numpy() // 1_000_000
            order = pd.DataFrame({"ms": ms, "id": sel[icol].to_numpy()})
            self._pages[key] = order.sort_values(["ms", "id"], ascending=False)["id"].tolist()
        return self._pages[key]

    def page(self, events, tenant, lo, hi, page: int) -> list[str]:
        return self.walk(events, tenant, lo, hi)[page * PAGE_LIMIT : (page + 1) * PAGE_LIMIT]

    def lookup(self, events: bool, item_id: str):
        df = self._by_id[events]
        if item_id not in df.index:
            return None
        row = df.loc[item_id].to_dict()
        row["event_id" if events else "attempt_id"] = item_id
        return lookup_fields(row, events)


def _bucket_sql(col: str, gran: str) -> str:
    n, unit = int(gran[:-1]), gran[-1]
    ep = f"epoch({col})"
    if unit in "smh":
        step = n * {"s": 1, "m": 60, "h": 3600}[unit]
        return f"CAST(floor({ep} / {step}) * {step} AS BIGINT)"
    days = f"floor({ep} / 86400)"
    if unit == "d":
        return f"CAST(floor({days} / {n}) * {n} * 86400 AS BIGINT)"
    if unit == "w":
        return f"CAST((floor(({days} - 3) / {7 * n}) * {7 * n} + 3) * 86400 AS BIGINT)"
    b = f"floor(((year({col}) - 1970) * 12 + month({col}) - 1) / {n}) * {n}"
    return (
        f"CAST(epoch(make_timestamp(CAST(1970 + floor(({b}) / 12) AS BIGINT), "
        f"CAST(({b}) % 12 + 1 AS BIGINT), 1, 0, 0, 0)) AS BIGINT)"
    )


def _slots(lo: datetime, hi: datetime, gran: str) -> list[tuple[int, float]]:
    """Aligned bucket starts covering [lo, hi) with each bucket's seconds."""
    n, unit = int(gran[:-1]), gran[-1]

    def month_start(m):
        return datetime(1970 + m // 12, m % 12 + 1, 1, tzinfo=timezone.utc)

    out = []
    if unit == "M":
        m = ((lo.year - 1970) * 12 + lo.month - 1) // n * n
        while month_start(m) < hi:
            out.append((int(month_start(m).timestamp()), (month_start(m + n) - month_start(m)).total_seconds()))
            m += n
        return out
    step = n * {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 7 * 86400}[unit]
    anchor = 3 * 86400 if unit == "w" else 0
    cur = (int(lo.timestamp()) - anchor) // step * step + anchor
    while cur < hi.timestamp():
        out.append((cur, float(step)))
        cur += step
    return out


_COUNT_SQL = {
    "count": "count(DISTINCT {id})",
    "successful_count": "count(DISTINCT CASE WHEN status = 'success' THEN {id} END)",
    "failed_count": "count(DISTINCT CASE WHEN status = 'failed' THEN {id} END)",
    "first_attempt_count": "count(DISTINCT CASE WHEN attempt_number = 1 AND NOT manual THEN {id} END)",
    "retry_count": "count(DISTINCT CASE WHEN attempt_number > 1 THEN {id} END)",
    "manual_retry_count": "count(DISTINCT CASE WHEN manual THEN {id} END)",
    "avg_attempt_number": "avg(attempt_number)",
}
_RATE_DEP = {"rate": "count", "successful_rate": "successful_count", "failed_rate": "failed_count"}


def duck_metrics(con, shape: Shape) -> list:
    """The shape's answer computed by DuckDB, gap-filled in Python."""
    table, tcol, icol = ("events", "event_time", "event_id") if shape.events else ("attempts", "attempt_time", "attempt_id")
    needed = set()
    for m in shape.measures:
        needed.add(_RATE_DEP.get(m, m))
        if m == "error_rate":
            needed |= {"count", "failed_count"}
    needed.discard("error_rate")
    aggs = sorted(needed)
    keys = (["time_bucket"] if shape.granularity else []) + list(shape.dimensions)
    select = ([f"{_bucket_sql(tcol, shape.granularity)} AS time_bucket"] if shape.granularity else []) + list(
        shape.dimensions
    )
    where = [f"{tcol} >= ?", f"{tcol} < ?"]
    params: list = [shape.range_[0], shape.range_[1]]
    for k, vals in shape.filters:
        where.append(f"{k} IN ({', '.join('?' for _ in vals)})")
        params += list(vals)
    sql = (
        f"SELECT {', '.join(select + [_COUNT_SQL[a].format(id=icol) + f' AS {a}' for a in aggs])}, count(*) "
        f"FROM {table} WHERE {' AND '.join(where)}"
        + (f" GROUP BY {', '.join(keys)}" if keys else "")
    )
    rows = {}
    for r in con.execute(sql, params).fetchall():
        if r[-1]:  # HAVING count() > 0
            rows[tuple(r[: len(keys)])] = dict(zip(aggs, r[len(keys) : -1]))
    if shape.granularity:
        combos = sorted({k[1:] for k in rows}, key=repr) if shape.dimensions else [()]
        slots = _slots(*shape.range_, shape.granularity)
        grid = [((s,) + c, dur) for s, dur in slots for c in combos]
    else:
        dur = (shape.range_[1] - shape.range_[0]).total_seconds()
        grid = [(k, dur) for k in rows]
    out = []
    for key, dur in grid:
        agg = rows.get(key)
        vals = []
        for m in shape.measures:
            if m in _RATE_DEP:
                vals.append(_round((agg or {}).get(_RATE_DEP[m], 0) / dur))
            elif m == "error_rate":
                vals.append(_round(agg["failed_count"] / agg["count"]) if agg else 0.0)
            elif m == "avg_attempt_number":
                vals.append(_round(float(agg[m])) if agg else 0.0)
            else:
                vals.append(agg[m] if agg else 0)
        bucket = key[0] if shape.granularity else None
        dims = key[1:] if shape.granularity else key
        out.append((bucket, tuple(dims), tuple(vals)))
    return sorted(out, key=repr)


def check(records, oracle: Oracle) -> list[bool]:
    """One verdict per recorded call: True when the answer is right."""
    verdicts = []
    for kind, req, ans in records:
        if isinstance(ans, Exception):
            verdicts.append(False)
        elif kind == "metrics":
            verdicts.append(ans == oracle.metrics(req[0]))
        elif kind == "list":
            verdicts.append(ans[0] == oracle.page(*req))
        else:
            verdicts.append(ans == oracle.lookup(*req))
    return verdicts


def full_walk(api: LogApi, events: bool, tenant: str, lo, hi) -> list[str]:
    ids, cursor = [], ""
    for _ in range(10_000):
        page, cursor = api.list_page(events, tenant, lo, hi, cursor, "walk")
        ids += page
        if not cursor:
            return ids
    raise RuntimeError("page walk did not terminate")


def walk_targets(oracle: Oracle, rng) -> list[tuple]:
    """Two (kind, tenant, window) walks of 2 to 6 pages each."""
    out = []
    for events in (True, False):
        for _ in range(200):
            tenant = f"tenant_{int(rng.integers(N_TENANTS)):02d}"
            lo = JAN + timedelta(days=int(rng.integers(0, 24)))
            hi = lo + timedelta(days=int(rng.integers(1, 8)))
            if 1.5 * PAGE_LIMIT < len(oracle.walk(events, tenant, lo, hi)) <= 6 * PAGE_LIMIT:
                out.append((events, tenant, lo, hi))
                break
    return out


# ---- the workload ------------------------------------------------------------


def setup(spark, seed: int, work: str, rep: int, tracer) -> dict:
    """Generate the month log and write it through ``insert_many``."""
    att = generate(seed)
    files = write_commit_files(att, os.path.join(work, f"gen{rep}"))
    events_path, attempts_path = build_log(spark, files, os.path.join(work, f"log{rep}"), tracer)
    return {"att": att, "files": files, "events_path": events_path, "attempts_path": attempts_path}


class Reads:
    """The closed-loop read traffic over one set-up log."""

    def __init__(self, spark, seed: int, log: dict, tracer):
        self.seed, self.log, self.tracer = seed, log, tracer
        att = log["att"]
        tenants = att[att["attempt_number"] == 1]["tenant_id"].value_counts().index.tolist()
        self.shapes = metric_shapes(np.random.default_rng([seed, 2]), tenants)
        self.windows = list_windows(att, tenants, np.random.default_rng([seed, 5]))
        self.api = LogApi(spark, log["events_path"], log["attempts_path"], tracer)

    def plan(self, k: int) -> Plan:
        offset = k * len(self.shapes) // CLIENTS
        return Plan(np.random.default_rng([self.seed, 3, k]), self.shapes, self.log["att"], self.windows, offset)

    def clients(self, n: int, seconds: float) -> tuple[list, float]:
        """``n`` closed-loop clients for ``seconds``; (clients, wall time).
        Client ``k`` always replays the same seeded plan."""
        t0 = time.perf_counter()
        clients = [Client(self.api, self.plan(k), t0 + seconds, k) for k in range(n)]
        for c in clients:
            c.start()
        for c in clients:
            c.join(timeout=seconds + 170)
        return clients, time.perf_counter() - t0

    def warm_up(self, seconds: float) -> None:
        """Replay the start of the timed plans, untimed, so the timed calls
        run on a warm JVM and meet query shapes it has compiled before."""
        self.clients(CLIENTS, seconds)

    def run(self, seconds: float, trace: bool) -> dict:
        """Closed-loop clients for ``seconds``, then every answer checked.
        Traced: one client, an untraced half then a traced half."""
        tracer, phases = self.tracer, []
        for traced in [False, True] if trace else [False]:
            tracer.enabled = traced
            phases.append(self.clients(1 if trace else CLIENTS, seconds / 2 if trace else seconds))
        tracer.enabled = False

        clients, wall = phases[-1]
        oracle = Oracle(self.log["att"], self.log["files"])
        verdicts = check([r for c in clients for r in c.records], oracle)
        walks = walk_targets(oracle, np.random.default_rng([self.seed, 4]))
        for w in walks:
            try:
                verdicts.append(full_walk(self.api, *w) == oracle.walk(*w))
            except Exception:
                verdicts.append(False)
        samples = [s for c in clients for s in c.samples]
        lat = [s for _, s in samples]
        api_lat = latency_summary(lat, 1000.0)
        detail = {
            "api_ops_per_s": {"value": len(lat) / wall, "unit": "1/s", "n": len(lat)},
            "api_p50_ms": {"value": api_lat["p50"], "unit": "ms", "n": api_lat["n"]},
            "api_tail_ms": {"value": api_lat["tail"], "unit": "ms", "p": api_lat["tail_p"], "n": api_lat["n"]},
            "page_walks_checked": {"value": len(walks), "unit": "count"},
            "log_rows": {"value": len(self.log["att"]), "unit": "attempts", "events": int((self.log["att"]["attempt_number"] == 1).sum())},
        }
        for kind, name in (("metrics", "metrics"), ("list", "list_page"), ("lookup", "lookup")):
            xs = [s for k, s in samples if k == kind]
            detail[f"{name}_p50_ms"] = {"value": latency_summary(xs, 1000.0)["p50"], "unit": "ms", "n": len(xs)}
        out = {"verdicts": verdicts, "p50_ms": api_lat["p50"], "ops_per_s": len(lat) / wall, "detail": detail}
        if trace:
            untraced = latency_summary([s for c in phases[0][0] for _, s in c.samples])["p50"]
            out["overhead_pct"] = 100.0 * (latency_summary(lat)["p50"] - untraced) / untraced
        return out


def run(spark, seed: int, seconds: float, work: str, tracer) -> dict:
    from perfbench import delivery

    trace = tracer.enabled
    setup_times = []
    for rep in range(1 if trace else SETUP_REPS):  # setup_s is not reported when tracing
        t0 = time.perf_counter()
        log = setup(spark, seed, work, rep, tracer)
        setup_times.append(time.perf_counter() - t0)
    tracer.enabled = False
    write = None
    if trace:
        dests, dests_df = delivery.setup(spark, seed)
        log_paths = (log["events_path"], log["attempts_path"])
        write = delivery.write_phase(spark, seed, dests, dests_df, log_paths, work, tracer)
    reads = Reads(spark, seed, log, tracer)
    # the traced run's delivery burst has already warmed the JVM
    reads.warm_up(WARMUP_S / 3 if trace else WARMUP_S)
    read = reads.run(seconds, trace)
    verdicts = read["verdicts"] + (write["verdicts"] if write else [])
    out = {
        "attempted": len(verdicts),
        "failed": verdicts.count(False),
        "setup_s": float(np.median(setup_times)),
        "throughput_per_s": read["ops_per_s"],
        "latency_p50_ms": read["p50_ms"],
        "detail": {**read["detail"], **(write["detail"] if write else {})},
    }
    if trace:
        out["layers"] = {**write["layers"], "trace.latency_overhead_pct": read["overhead_pct"]}
    return out
