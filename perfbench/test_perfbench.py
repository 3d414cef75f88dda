"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import curation, delivery, log_api
from perfbench.common import _covered, percentile, tail_percentile
from perfbench.run import ROOT, per_layer_metrics


def test_log_inputs_depend_only_on_the_seed():
    a, b, c = log_api.generate(7, 2000), log_api.generate(7, 2000), log_api.generate(8, 2000)
    assert a.equals(b)
    assert set(a["event_id"]).isdisjoint(set(c["event_id"]))


def test_delivery_inputs_depend_only_on_the_seed():
    assert delivery.generate_destinations(3) == delivery.generate_destinations(3)
    assert delivery.generate_destinations(3) != delivery.generate_destinations(4)
    import numpy as np

    def events(seed):
        rng = np.random.default_rng([seed, 12])
        return delivery.event_rows(rng, f"{rng.integers(16**8):08x}", 0, 50)

    assert events(1) == events(1)
    assert set(events(1)["event_id"]).isdisjoint(events(2)["event_id"])


def test_corpus_depends_only_on_the_seed_and_plants_its_expectation():
    (cols, kept), (cols2, kept2) = curation.generate(5), curation.generate(5)
    assert cols == cols2 and kept == kept2
    other, _ = curation.generate(6)
    assert other["text"] != cols["text"]
    assert len(kept) == curation.N_DOCS - sum(curation.PLANTED.values())


@pytest.mark.parametrize(
    "n, want",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_is_the_highest_percentile_with_ten_samples_beyond(n, want):
    got = tail_percentile(list(range(n)))
    assert (got and got[0]) == want
    if got:
        p, value = got
        assert sum(1 for x in range(n) if x > value) >= 10
        assert value == percentile(list(range(n)), p)


def test_accounting_flags_a_planted_lost_event():
    pairs = {("e1", "d1"), ("e2", "d1"), ("e3", "dead")}
    posts = {"e1~d1": [200], "e2~d1": [503, 200], "e3~dead": [503, 503]}
    logged = {("e1", "d1"): [(1, "200")], ("e2", "d1"): [(1, "503"), (2, "200")], ("e3", "dead"): [(1, "503"), (2, "503")]}
    final = {("e1", "d1"): ("success", 1.0), ("e2", "d1"): ("success", 2.0), ("e3", "dead"): ("exhausted", 2.0)}
    ok = delivery.account(pairs, set(pairs), final, {"dead"}, posts, logged)
    assert all(ok["verdicts"].values()) and ok["lost"] == 0 and ok["unexplained"] == 0

    del final[("e2", "d1")]  # the engine dropped e2's outcome
    lost = delivery.account(pairs, set(pairs), final, {"dead"}, posts, logged)
    assert lost["lost"] == 1 and not lost["verdicts"][("e2", "d1")]
    assert sum(lost["verdicts"].values()) == 2


def test_accounting_flags_a_log_row_the_receiver_never_answered():
    pairs = {("e1", "d1")}
    got = delivery.account(pairs, pairs, {("e1", "d1"): ("success", 1.0)}, set(), {"e1~d1": [200]},
                           {("e1", "d1"): [(1, "503"), (2, "200")]})
    assert not got["verdicts"][("e1", "d1")]


def test_expected_routing_honours_globs_filters_and_disabled_destinations():
    dests = [
        {"id": "all", "tenant_id": "t", "topics": ["*"], "filter": None, "disabled": False},
        {"id": "glob", "tenant_id": "t", "topics": ["order.*"], "filter": None, "disabled": False},
        {"id": "rich", "tenant_id": "t", "topics": ["*"], "filter": json.dumps({"data": {"amount": {"$gte": 50}}}), "disabled": False},
        {"id": "off", "tenant_id": "t", "topics": ["*"], "filter": None, "disabled": True},
        {"id": "other", "tenant_id": "u", "topics": ["*"], "filter": None, "disabled": False},
    ]
    events = [
        {"event_id": "a", "tenant_id": "t", "topic": "order.created", "data": json.dumps({"amount": 10, "region": "eu"})},
        {"event_id": "b", "tenant_id": "t", "topic": "user.signup", "data": json.dumps({"amount": 60, "region": "us"})},
    ]
    assert delivery.expected_pairs(events, dests) == {("a", "all"), ("a", "glob"), ("b", "all"), ("b", "rich")}


def test_covered_merges_overlapping_intervals_inside_the_window():
    assert _covered(0.0, 10.0, [(1, 3), (2, 4), (8, 12), (-5, -1)]) == pytest.approx(5.0)


def test_benchmark_json_lists_every_per_layer_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    listed = [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]]
    assert listed == per_layer_metrics()
