"""Seeded benchmark of outpost_spark's three user-facing jobs.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json for why each exists):

- ``log_api_reads``: list pages, metrics calls and point lookups against a
  delivery log written through the txn log store (:mod:`perfbench.log_api`);
  its traced run also streams events through the delivery pipeline
  (:mod:`perfbench.delivery`) into that log;
- ``corpus_curation``: repeated ``curate_corpus_v3`` passes over a planted
  corpus (:mod:`perfbench.curation`).

Inputs come from ``--seed`` only.  Outputs are checked outside the timed
region.  The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics (``perfbench/layers.json``) with
``--trace 1``.  The line before it names every workload-specific figure
with its unit and sample count.  Exits 1 when an output check fails and 2
when the program under test cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = {"log_api_reads": "log_api", "corpus_curation": "curation"}
END_TO_END = (
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("latency_p50_ms", "ms"),
    ("peak_rss_mb", "MB"),
)


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric in ``layers.json``."""
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as f:
        layers = json.load(f)
    return [(f"{lay['layer']}.{name}", unit, better) for lay in layers for name, unit, better in lay["metrics"]]


def layer_metrics(tracer, result: dict) -> dict:
    """Every per-layer metric; 0 for a layer this run does not exercise."""
    totals = tracer.layer_totals()
    totals["spark"] = tracer.run_layer()
    for name, value in result.get("layers", {}).items():
        layer, metric = name.rsplit(".", 1)
        totals.setdefault(layer, {})[metric] = value
    out = {}
    for name, unit, _ in per_layer_metrics():
        layer, metric = name.rsplit(".", 1)
        out[name] = {"value": float(totals.get(layer, {}).get(metric, 0)), "unit": unit}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import outpost_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program under test is missing: {e}", file=sys.stderr)
        return 2
    os.environ["TZ"] = "UTC"  # collected timestamps are naive UTC
    time.tzset()

    import importlib

    from perfbench.common import WORK_DIR, RssSampler, Tracer, start_spark, stop_spark

    module = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}")
    work = os.path.join(ROOT, WORK_DIR, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rss = RssSampler().start()
    t0 = time.perf_counter()
    spark = start_spark(work)
    spark_start_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        result = module.run(spark, args.seed, args.seconds, work, tracer)
        if args.trace:
            metrics = layer_metrics(tracer, result)
            tracer.dump(os.path.join(work, "spans.json"))
    finally:
        stop_spark(spark)
        peak_rss_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    correct = result["failed"] == 0
    detail = dict(result["detail"])
    detail["spark_start_s"] = {"value": spark_start_s, "unit": "s"}
    detail["failed_frac"] = {"value": result["failed"] / result["attempted"], "unit": "ratio", "n": result["attempted"]}
    if not args.trace:
        result["peak_rss_mb"] = peak_rss_mb
        metrics = {name: {"value": float(result[name]), "unit": unit} for name, unit in END_TO_END}
        detail.update(metrics)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace, "detail": detail}))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": int(result["attempted"]),
                "failed": int(result["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
