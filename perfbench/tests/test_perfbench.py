"""Tests of the benchmark's own code.

    python -m pytest perfbench/tests -q

The smoke test starts a local Spark session and runs each workload at
toy size (the sf0.001 tables and their 4x replica, a two-group world),
so it takes a few minutes; the other tests need no Spark.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run as bench_run  # noqa: E402
from perfbench import transit  # noqa: E402
from perfbench.transit import Route, predicted_trip_ids  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_world_is_deterministic_per_seed():
    a, b = transit.generate_world(7, n_groups=4), transit.generate_world(7, n_groups=4)
    assert a.routes_doc == b.routes_doc
    assert a.schedules == b.schedules
    assert a.responses == b.responses and a.way_json == b.way_json
    c = transit.generate_world(8, n_groups=4)
    assert c.routes_doc != a.routes_doc
    assert c.way_json != a.way_json


def test_world_shares_stops_between_directions():
    w = transit.generate_world(3, n_groups=2)
    fetch = transit.make_fetch(w)
    stops = []
    for r in w.routes[:2]:  # K1, both directions
        rel = fetch(f"[out:json];relation({r.relation_id});out body;")[0]
        stops.append([m["ref"] for m in rel["members"]
                      if m["type"] == "node" and m["role"] in transit.STOP_ROLES])
    assert stops[1] == stops[0][::-1]


def test_world_routes_have_reference_size():
    # reference feed: 8,172 trips and 70,332 shape points over 126
    # route-directions, i.e. ~65 trips and ~558 points each
    w = transit.generate_world(11, n_groups=10)
    bus = [r for r in w.routes if r.mode == "angkot"]
    assert sum(r.trips for r in bus) / len(bus) == pytest.approx(65, abs=1)
    vertices = {}
    for r in bus:
        rel = json.loads(w.responses[f"[out:json];relation({r.relation_id});out body;"])[0]
        ways = [json.loads(w.way_json[m["ref"]]) for m in rel["members"]
                if m["type"] == "way"]
        # consecutive ways share their joining vertex
        vertices[r.group] = sum(len(x["geometry"]) for x in ways) - len(ways) + 1
    assert sum(vertices.values()) / len(vertices) == pytest.approx(560, abs=10)


def test_trip_id_collision_predictor_hand_built():
    routes = [
        Route("AK", "K1", 0, "1", "angkot", True, trips=11),
        Route("AK", "K1", 0, "2", "angkot", True, trips=2),   # numbers 12, 13
        Route("AK", "K10", 1, "3", "angkot", True, trips=3),  # t-AKK1011..13
        Route("AK", "KX", 0, "4", "angkot", False, trips=5),  # not fixed
        Route("KCI", "L1", 0, "5", "train", True),
        Route("KCI", "L1", 1, "6", "train", True),
    ]
    train_rows = [("L1", 0, "5", "101"), ("L1", 1, "6", "101"),
                  ("L1", 1, "6", "102")]
    ids = predicted_trip_ids(routes, train_rows)
    assert len(ids) == 11 + 2 + 3 + 3
    assert ids[:2] == ["t-AKK101", "t-AKK102"]
    assert ids[11:13] == ["t-AKK1012", "t-AKK1013"]
    assert ids[13:16] == ["t-AKK1011", "t-AKK1012", "t-AKK1013"]
    # K1/0/11..13 spell the same ids as K10/1/1..3; the two trains share 101
    assert len(ids) - len(set(ids)) == 3 + 1


def test_metric_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == bench_run.E2E_UNITS
    assert layer == {n: bench_run.per_layer_unit(n) for n in bench_run.per_layer_names()}
    names = list(e2e) + list(layer)
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64, n
    assert {w["name"] for w in spec["workloads"]} <= set(bench_run.WORKLOADS)


def test_missing_and_raised_queries_fail_the_check():
    from perfbench.sweep import check_results

    errors = check_results({"q_a": "ValueError: boom"},
                           {"q_a": None, "q_b": None}, {})
    assert errors == ["q_a: raised ValueError: boom", "q_b: no result"]


def test_a_raised_pass_fails_every_operation(tmp_path, monkeypatch):
    def boom(self, spark, rec):
        raise RuntimeError("boom")

    monkeypatch.setattr(bench_run.QuerySweep, "run_pass", boom)
    res = _smoke(tmp_path, "queries_sf0.1", 0, scale="sf0.001")
    assert (res["correct"], res["attempted"], res["failed"]) == (False, 21, 21)


def _smoke(tmp_path, workload, trace, **opts):
    args = argparse.Namespace(workload=workload, seed=5, seconds=0.1, trace=trace)
    work = str(tmp_path / ".bench_work" / workload)
    bench_run._prepare_env(work)
    return bench_run.run(args, work, **opts)


@pytest.mark.parametrize("workload,trace,opts", [
    ("queries_sf0.1", 0, {"scale": "sf0.001"}),
    ("queries_sf0.1x4", 1, {"scale": "sf0.001"}),
    ("transit_feed", 1, {"transit_groups": 2}),
])
def test_smoke_run(tmp_path, workload, trace, opts):
    res = _smoke(tmp_path, workload, trace, **opts)
    assert res["correct"] and res["failed"] == 0
    assert res["attempted"] == (1 if workload == "transit_feed" else 21)
    want = (bench_run.per_layer_names() if trace else list(bench_run.E2E_UNITS))
    assert list(res["metrics"]) == want
    for m in res["metrics"].values():
        assert isinstance(m["value"], (int, float)) and m["unit"]
    if workload == "transit_feed":
        assert res["metrics"]["pipeline.feed_check.jobs"]["value"] > 0
    elif trace:
        assert res["metrics"]["queries.plan_s"]["value"] > 0
    else:
        assert res["metrics"]["pass_s"]["value"] > 0


_STOP_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark import SparkContext
from tegallega_spark.session import get_spark
from perfbench import run
spark = get_spark("stop-test", cpus=2)
jvm = SparkContext._gateway.proc.pid
pids = [jvm] + run._descendants(jvm)
spark.stop()
run.stop_processes()
print(len(pids), sum(map(run._alive, pids)))
"""


def test_stop_processes_ends_the_jvm_and_its_workers(tmp_path):
    import subprocess

    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run([sys.executable, "-c", _STOP_SCRIPT, ROOT], env=env,
                         capture_output=True, text=True, timeout=170, check=True)
    started, alive = map(int, out.stdout.split()[-2:])
    assert started >= 2 and alive == 0  # the JVM and at least its worker daemon
