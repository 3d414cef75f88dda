"""The delivery pipeline: route, deliver, log and retry a burst of events.

A Structured Streaming file-source query runs a ``foreachBatch`` written
here.  Each micro-batch runs, in order: ``match_pairs`` (compiled_static, as
``make_routing_sink`` does), ``format_webhook``, ``deliver_http`` against an
in-process receiver, ``attempt_records``, ``insert_many(storage="txn")``,
``RetryStateTable.apply_outcomes`` and ``AlertStateTable.apply_attempts``.
Retries fired in one batch are re-delivered in the next.

The receiver answers 503 to a seeded ~30 % of first attempts and to every
attempt sent to a few dead destinations, so retries run, run out, and
alerts fire.  A burst is one file of :data:`BATCH_EVENTS` events plus one
empty file per retry round, read with ``availableNow`` one file per batch.
Each event is stamped when its file is staged; its latency runs to the end
of the batch in which the last of its (event, destination) pairs reached
its final outcome.

Checks: routed pairs equal an independent evaluation of the generated
subscriptions, every pair ends as success (live destination) or exhausted
(dead one), and the attempt log equals the POSTs the receiver saw.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import threading
import time
from datetime import datetime
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.common import latency_summary, nproc, percentile

N_TENANTS = 1000
TOPICS = ("order.created", "order.updated", "payment.received", "user.signup")
BATCH_EVENTS = 1000
RETRY_LIMIT = 1  # retries after the first attempt; a dead destination exhausts at attempt 2
FIRST_FAIL_PCT = 30
DEAD_DESTINATIONS = 5
SECRET = "whsec_perfbench"
DISABLED_AT = datetime(2000, 1, 1)
EVENT_TIME_US = 978_307_200_000_000  # 2001-01-01T00:00:00Z, after the month the reads query
KEY_SEP = "~"  # delivery key = event_id ~ destination_id

EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.string()),
        ("tenant_id", pa.string()),
        ("topic", pa.string()),
        ("event_time", pa.timestamp("us", tz="UTC")),
        ("metadata", pa.map_(pa.string(), pa.string())),
        ("data", pa.string()),
        ("eligible_for_retry", pa.bool_()),
        ("created_at", pa.float64()),
    ]
)
SPARK_EVENT_SCHEMA = (
    "event_id string, tenant_id string, topic string, event_time timestamp, "
    "metadata map<string,string>, data string, eligible_for_retry boolean, "
    "created_at double"
)


# ---- inputs ------------------------------------------------------------------


def generate_destinations(seed: int) -> list[dict]:
    """About two destinations per tenant: ``*``, exact-topic and glob
    subscriptions, a fifth with a JSON filter, 5 % disabled."""
    rng = np.random.default_rng([seed, 11])
    dests = []
    for t in range(N_TENANTS):
        tenant = f"tn_{t:04d}"
        for k in range(1 + int(rng.integers(3))):
            kind = rng.choice(["all", "exact", "glob"], p=[0.4, 0.35, 0.25])
            if kind == "all":
                topics = ["*"]
            elif kind == "exact":
                topics = sorted(rng.choice(TOPICS, size=1 + int(rng.integers(2)), replace=False).tolist())
            else:
                topics = [rng.choice(["order.*", "*.created", "pay*"])]
            filt = None
            if rng.random() < 0.2:
                # a few shared filter templates, as tenants of one product use
                filt = (
                    {"data": {"amount": {"$gte": int(rng.choice([25, 50, 75]))}}}
                    if rng.random() < 0.5
                    else {"data": {"region": str(rng.choice(["eu", "us", "ap"]))}}
                )
            dests.append(
                {
                    "id": f"dst_{t:04d}_{k}",
                    "tenant_id": tenant,
                    "type": "webhook",
                    "topics": topics,
                    "filter": json.dumps(filt) if filt else None,
                    "disabled": bool(rng.random() < 0.05),
                }
            )
    return dests


def tenant_weights() -> np.ndarray:
    w = 1.0 / np.arange(1, N_TENANTS + 1) ** 1.1
    return w / w.sum()


def dead_destinations(dests: list[dict]) -> set[str]:
    """A few enabled destinations of the busiest tenants that always 503."""
    live = [d["id"] for d in dests if not d["disabled"] and d["topics"] == ["*"] and d["filter"] is None]
    return set(live[:DEAD_DESTINATIONS])


def event_rows(rng, token: str, seq0: int, n: int) -> dict:
    """``n`` events of Zipf-skewed tenants (no ``created_at`` yet)."""
    tenants = rng.choice(N_TENANTS, n, p=tenant_weights())
    amounts = rng.integers(0, 100, size=n)
    regions = rng.choice(["eu", "us", "ap"], size=n)
    return {
        "event_id": [f"ev_{token}_{seq0 + i:07d}" for i in range(n)],
        "tenant_id": [f"tn_{t:04d}" for t in tenants],
        "topic": rng.choice(TOPICS, size=n).tolist(),
        "event_time": [EVENT_TIME_US + (seq0 + i) * 1_000_000 for i in range(n)],
        "metadata": [[("source", "perfbench")]] * n,
        "data": [json.dumps({"amount": int(a), "region": str(r)}) for a, r in zip(amounts, regions)],
        "eligible_for_retry": [True] * n,
    }


def write_events(path: str, cols: dict) -> None:
    """Write one source file atomically (rename into the watched dir)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    cols = dict(cols)
    cols["event_time"] = pa.array(cols["event_time"], pa.timestamp("us", tz="UTC"))
    tmp = os.path.join(os.path.dirname(os.path.dirname(path)), "." + os.path.basename(path))
    pq.write_table(pa.table(cols, schema=EVENT_SCHEMA), tmp)
    os.replace(tmp, path)


def _glob_match(pattern: str, topic: str) -> bool:
    return re.fullmatch(".*".join(re.escape(p) for p in pattern.split("*")), topic) is not None


def expected_pairs(events: list[dict], dests: list[dict]) -> set[tuple[str, str]]:
    """Routing evaluated independently in Python: same tenant, enabled,
    topic in the subscription (``*`` and globs), filter satisfied."""
    by_tenant: dict[str, list[dict]] = {}
    for d in dests:
        if not d["disabled"]:
            by_tenant.setdefault(d["tenant_id"], []).append(d)
    out = set()
    for e in events:
        data = json.loads(e["data"])
        for d in by_tenant.get(e["tenant_id"], ()):
            if not any(_glob_match(p, e["topic"]) for p in d["topics"]):
                continue
            if d["filter"]:
                f = json.loads(d["filter"])["data"]
                if "amount" in f and not data["amount"] >= f["amount"]["$gte"]:
                    continue
                if "region" in f and data["region"] != f["region"]:
                    continue
            out.add((e["event_id"], d["id"]))
    return out


def fails_first(seed: int, key: str) -> bool:
    return int(hashlib.md5(f"{seed}:{key}".encode()).hexdigest()[:8], 16) % 100 < FIRST_FAIL_PCT


# ---- the receiver ------------------------------------------------------------


class Receiver:
    """In-process webhook endpoint; records every POST it answers."""

    def __init__(self, seed: int, dead: set[str]):
        self.seed, self.dead = seed, dead
        self.posts: dict[str, list[int]] = {}
        self.lock = threading.Lock()
        recv = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"
            # headers and body go out in two writes: without TCP_NODELAY,
            # Nagle's algorithm holds the body for the client's delayed ACK
            disable_nagle_algorithm = True

            def log_message(self, *a):
                pass

            def do_POST(self):
                self.rfile.read(int(self.headers.get("Content-Length", 0)))
                key = self.headers.get("x-outpost-event-id", "")
                with recv.lock:
                    seen = recv.posts.setdefault(key, [])
                    dest = key.split(KEY_SEP, 1)[-1]
                    code = 503 if dest in recv.dead or (not seen and fails_first(recv.seed, key)) else 200
                    seen.append(code)
                body = b'{"ok":true}' if code == 200 else b'{"error":"unavailable"}'
                self.send_response(code)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self.thread = threading.Thread(target=self.server.serve_forever, name="receiver", daemon=True)
        self.thread.start()
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}/hook"

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=10)


# ---- the micro-batch ---------------------------------------------------------


class Pipeline:
    """The ``foreachBatch`` body plus the driver-side outcome ledger."""

    def __init__(self, spark, dests_df, url: str, root: str, log_paths: tuple[str, str], tracer, cpus: int):
        from outpost_spark.functions.backoff import ConstantBackoff
        from outpost_spark.streaming.alerts import AlertStateMachine, AlertStateTable
        from outpost_spark.streaming.retry import RetryStateTable

        self.spark, self.dests, self.url, self.tracer, self.cpus = spark, dests_df, url, tracer, cpus
        self.events_path, self.attempts_path = log_paths
        self.app_id = f"perfbench-{os.path.basename(root)}"  # one writer per phase
        self.retry = RetryStateTable(
            spark, os.path.join(root, "retry"), backoff=ConstantBackoff(interval=0.0),
            retry_max_limit=RETRY_LIMIT, max_receive_count=5, keep_versions=3,
        )
        self.alerts = AlertStateTable(
            spark, os.path.join(root, "alerts"), machine=AlertStateMachine(retry_max_limit=RETRY_LIMIT)
        )
        self.pending = None  # fired retries awaiting re-delivery, with their payload
        self.pending_n = 0
        self.final: dict[tuple[str, str], tuple[str, float]] = {}  # pair -> (outcome, time)
        self.routed: set[tuple[str, str]] = set()
        self.batches: list[tuple[float, int]] = []  # (start, deliveries)

    def __call__(self, batch_df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from outpost_spark.logstore.insert import insert_many
        from outpost_spark.routing.delivery import attempt_records, deliver_http
        from outpost_spark.routing.match import match_pairs
        from outpost_spark.routing.sinkformats import format_webhook

        tr = self.tracer
        start = time.time()
        with tr.span("streaming.trigger", f"b{batch_id}"):
            events = batch_df.drop("created_at")
            with tr.span("routing.match") as sp:
                pairs = match_pairs(events, self.dests, filter_mode="compiled_static").withColumn(
                    "attempt_number", F.lit(1)
                )
                if tr.enabled:
                    pairs = pairs.localCheckpoint(eager=True)
                    sp.add(rows_in=events.count(), rows_out=pairs.count())
            todo = pairs if self.pending is None else pairs.unionByName(self.pending)
            todo = todo.withColumn("key", F.concat_ws(KEY_SEP, "event_id", "destination_id"))
            with tr.span("routing.sinkformats") as sp:
                frame = format_webhook(
                    todo.select(F.col("key").alias("event_id"), "topic", "metadata", "data"),
                    url=self.url, ts=F.current_timestamp(), secrets=[SECRET],
                )
                if tr.enabled:
                    frame = frame.localCheckpoint(eager=True)
                    sp.add(rows_out=frame.count())
            with tr.span("routing.delivery") as sp:
                results = deliver_http(
                    frame.repartition(1), timeout=10.0, max_concurrency=self.cpus, pool_per_host=self.cpus
                ).select(F.col("event_id").alias("key"), "status", "response_code", "response_data")
                done = todo.join(results, "key").localCheckpoint(eager=True)
                attempts = attempt_records(done)
                ledger = done.select("event_id", "destination_id", "attempt_number", "status", "response_code").collect()
                sp.add(
                    requests=len(ledger),
                    non2xx=sum(1 for r in ledger if r["response_code"] and not 200 <= r["response_code"] < 300),
                    transport_errors=sum(1 for r in ledger if not r["response_code"]),
                )
            with tr.span("logstore.insert") as sp:
                insert_many(
                    attempts, self.events_path, self.attempts_path, storage="txn", app_txn=(self.app_id, batch_id)
                )
                sp.add(rows_written=len(ledger))
            failed = [r for r in ledger if r["status"] != "success"]
            with tr.span("streaming.retry") as sp:
                fired = self.retry.apply_outcomes(
                    attempts.select("event_id", "destination_id", "tenant_id", "status", "attempt_number", "eligible_for_retry"),
                    batch_id,
                    now=float(batch_id),
                )
                fired_rows = fired.select("event_id", "destination_id", "dlq").collect()
                if tr.enabled:
                    sp.add(
                        outcomes_in=len(ledger),
                        scheduled=sum(1 for r in failed if r["attempt_number"] <= RETRY_LIMIT),
                        fired=len(fired_rows),
                        exhausted=sum(1 for r in failed if r["attempt_number"] > RETRY_LIMIT),
                        dlq=sum(1 for r in fired_rows if r["dlq"]),
                        state_rows=self.retry.state_before(batch_id + 1).count(),
                    )
            with tr.span("streaming.alerts") as sp:
                signals = self.alerts.apply_attempts(
                    attempts.withColumn("seq", F.col("attempt_number")), batch_id, now=time.time()
                )
                if tr.enabled:
                    sp.add(
                        attempts_in=len(ledger),
                        signals=signals.count(),
                        state_rows=self.alerts.state_before(batch_id + 1).count(),
                    )
            self.pending_n = sum(1 for r in fired_rows if not r["dlq"])
            self.pending = None
            if self.pending_n:
                payload = done.where(F.col("status") != "success").drop(
                    "key", "status", "response_code", "response_data", "attempt_number"
                )
                self.pending = payload.join(
                    fired.where(~F.col("dlq")).select("event_id", "destination_id", "attempt_number"),
                    ["event_id", "destination_id"],
                ).localCheckpoint(eager=True)
            now = time.time()
            for r in ledger:
                pair = (r["event_id"], r["destination_id"])
                if r["attempt_number"] == 1:
                    self.routed.add(pair)
                if r["status"] == "success":
                    self.final[pair] = ("success", now)
                elif r["attempt_number"] > RETRY_LIMIT:
                    self.final[pair] = ("exhausted", now)
            for r in fired_rows:
                if r["dlq"]:
                    self.final[(r["event_id"], r["destination_id"])] = ("dlq", now)
            self.batches.append((start, len(ledger)))


# ---- a burst -----------------------------------------------------------------


def burst(spark, dests_df, receiver: Receiver, root: str, log_paths, tracer, cpus: int, cols: dict):
    """Stage one file of events plus one empty file per retry round, read
    them with ``availableNow`` one file per batch; returns (pipeline,
    staging time)."""
    src = os.path.join(root, "src")
    os.makedirs(src)
    pipe = Pipeline(spark, dests_df, receiver.url, root, log_paths, tracer, cpus)
    empty = {f.name: [] for f in EVENT_SCHEMA}
    t0 = time.time()
    write_events(os.path.join(src, "part-0.parquet"), {**cols, "created_at": [t0] * len(cols["event_id"])})
    for k in range(RETRY_LIMIT):
        write_events(os.path.join(src, f"part-{k + 1}.parquet"), empty)
    query = (
        spark.readStream.schema(SPARK_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(pipe)
        .option("checkpointLocation", os.path.join(root, "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination(timeout=150)
    finally:
        query.stop()
    return pipe, t0


def account(expected: set, routed: set, final: dict, dead: set, posts: dict, log_rows: dict) -> dict:
    """One verdict per expected (event, destination) pair, plus the count
    of routed pairs and POSTs that no expected pair explains.

    ``final`` maps pair -> (outcome, time); ``posts`` maps delivery key ->
    the receiver's status codes in arrival order; ``log_rows`` maps pair ->
    the logged (attempt_number, code) rows.  A pair fails when it was not
    routed, has no final outcome (lost), ends in the wrong outcome, or its
    logged attempts differ from the POSTs the receiver answered."""
    verdicts, lost = {}, 0
    for pair in expected:
        want = "exhausted" if pair[1] in dead else "success"
        got = final.get(pair, (None,))[0]
        logged = [str(code) for _, code in sorted(log_rows.get(pair, []))]
        seen = [str(c) for c in posts.get(KEY_SEP.join(pair), [])]
        verdicts[pair] = pair in routed and got == want and logged == seen
        lost += got is None
    unexplained = len(routed - expected) + sum(1 for k in posts if tuple(k.split(KEY_SEP, 1)) not in expected)
    return {"verdicts": verdicts, "lost": lost, "unexplained": unexplained}


def setup(spark, seed: int):
    """The destinations table (cached, as the routing join broadcasts it)."""
    dests = generate_destinations(seed)
    dests_df = spark.createDataFrame(
        [
            (d["id"], d["tenant_id"], d["type"], d["topics"], d["filter"], DISABLED_AT if d["disabled"] else None)
            for d in dests
        ],
        "id string, tenant_id string, type string, topics array<string>, filter string, disabled_at timestamp",
    ).localCheckpoint(eager=True)
    return dests, dests_df


def write_phase(spark, seed: int, dests, dests_df, log_paths, work: str, tracer) -> dict:
    """One traced burst appended to the log at ``log_paths``, every pair of
    it checked.  Its rate and event latencies are printed as detail; they
    include the tracing and the JVM's first run of the pipeline."""
    from pyspark.sql import functions as F

    from outpost_spark.logstore.txntable import load_table

    dead = dead_destinations(dests)
    rng = np.random.default_rng([seed, 12])
    token = f"{rng.integers(16**8):08x}"
    cols = event_rows(rng, token, 0, BATCH_EVENTS)

    receiver = Receiver(seed, dead)
    try:
        tracer.enabled = True
        pipe, t0 = burst(spark, dests_df, receiver, os.path.join(work, "burst"), log_paths, tracer, nproc(), cols)
        tracer.enabled = False
        logged: dict = {}
        rows = load_table(spark, log_paths[1]).where(F.col("event_id").startswith(f"ev_{token}_"))
        for r in rows.select("event_id", "destination_id", "attempt_number", "code").collect():
            logged.setdefault((r["event_id"], r["destination_id"]), []).append((r["attempt_number"], r["code"]))
    finally:
        receiver.close()

    events = [
        {"event_id": e, "tenant_id": t, "topic": tp, "data": d}
        for e, t, tp, d in zip(cols["event_id"], cols["tenant_id"], cols["topic"], cols["data"])
    ]
    expected = expected_pairs(events, dests)
    acct = account(expected, pipe.routed, pipe.final, dead, receiver.posts, logged)
    verdicts = list(acct["verdicts"].values())
    by_event: dict[str, list] = {}
    for pair in expected:
        by_event.setdefault(pair[0], []).append(pipe.final.get(pair, (None, None))[1])
    done = [max(ts) - t0 for ts in by_event.values() if None not in ts]
    lat = latency_summary(done)
    rows = [n for _, n in pipe.batches]
    return {
        "verdicts": verdicts + [False] * acct["unexplained"],
        "detail": {
            "pipeline_events_per_s": {"value": len(done) / max(done), "unit": "1/s", "n": len(done), "traced": True},
            "event_latency_p50_s": {"value": lat["p50"], "unit": "s", "n": lat["n"], "traced": True},
            "event_latency_tail_s": {"value": lat["tail"], "unit": "s", "p": lat["tail_p"], "n": lat["n"], "traced": True},
            "deliveries": {"value": sum(rows), "unit": "count"},
            "pairs": {"value": len(verdicts), "unit": "count", "lost": acct["lost"], "unexplained": acct["unexplained"]},
        },
        "layers": {
            "streaming.trigger.batches": len(rows),
            "streaming.trigger.batch_rows_p50": percentile(rows, 50),
            # the whole burst waits for the first batch
            "streaming.trigger.queue_wait_s": pipe.batches[0][0] - t0,
        },
    }
