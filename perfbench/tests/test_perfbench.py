"""Tests of the benchmark itself; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import eventlog  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog.jsonl")


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_input_hash_follows_the_seed(tmp_path, workload):
    a = inputs.write_inputs(workload, 7, str(tmp_path / "a"))
    b = inputs.write_inputs(workload, 7, str(tmp_path / "b"))
    c = inputs.write_inputs(workload, 8, str(tmp_path / "c"))
    assert a["hash"] == b["hash"]
    assert a["hash"] != c["hash"]
    assert a["sizes"] == c["sizes"]


def test_replicas_share_no_words():
    docs = inputs.docs_table(3, replicas=2)
    texts = docs.column("text").to_pylist()
    half = len(texts) // 2
    words = [set(" ".join(texts[:half]).split()), set(" ".join(texts[half:]).split())]
    # single letters may collide by chance; longer words map one to one
    assert not {w for w in words[0] & words[1] if len(w) > 2}


def test_parser_on_captured_log():
    log = eventlog.parse(LOG)
    jobs = log["jobs"]
    groups = sorted(j["group"] for j in jobs.values())
    assert groups == ["demo.other#1", "demo.square#0"]
    square = [j for j in jobs.values() if j["group"] == "demo.square#0"]
    assert sum(j["failed_tasks"] for j in jobs.values()) == 0
    assert sum(j["python_s"] for j in square) == pytest.approx(KNOWN["python_s"], abs=1e-9)
    assert sum(j["exec_cpu_s"] for j in jobs.values()) == pytest.approx(
        KNOWN["exec_cpu_s"], abs=1e-9)
    assert sum(j["shuffle_bytes"] for j in jobs.values()) == KNOWN["shuffle_bytes"]
    assert sum(j["arrow_bytes"] for j in jobs.values()) == KNOWN["arrow_bytes"]
    assert log["persisted_peak_bytes"] == KNOWN["persisted_peak_bytes"]


def test_layer_metrics_on_captured_log():
    log = eventlog.parse(LOG)
    calls = []
    for group in ("demo.square#0", "demo.other#1"):
        jobs = [j for j in log["jobs"].values() if j["group"] == group]
        start = min(j["submit"] for j in jobs) - 0.5     # 0.5 s of driver work first
        end = max(j["end"] for j in jobs)
        calls.append({"site": group.split("#")[0], "phase": 1, "group": group,
                      "start": start, "end": end, "pass_start": start, "pass_end": end})
    sites, per_pass = eventlog.layer_metrics(log, calls, {1: 1})
    assert sites["demo.square"]["jobs"] == 1
    assert sites["demo.other"]["jobs"] == 1
    for s in sites.values():
        assert s["driver_s"] == pytest.approx(0.5, abs=0.2)
        assert 0.0 <= s["driver_s"] <= s["wall_s"]
    assert per_pass["persisted_bytes"] == KNOWN["persisted_peak_bytes"]
    assert per_pass["failed_tasks"] == 0
    sanity = eventlog.sanity(calls, sites, cores=2)
    assert sanity["wall_cover_ok"] and not sanity["cpu_over_cores"]


def test_busy_time_is_the_union_of_job_intervals():
    assert eventlog._busy([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert eventlog._busy([(1, 3), (2, 4)], 2.5, 3.5) == 1


def test_printed_metrics_are_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.declared_metrics(0)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.declared_metrics(1)
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(workloads.WORKLOADS)
    assert len(workloads.ALL_SITES) == 19


class _Fake:
    """A one-phase workload whose output changes on every call."""
    name = "fake"
    phases = {1: ("items", ("fake.op",))}

    def __init__(self):
        self.counter = itertools.count()

    def run_phase(self, n, call):
        call("fake.op", lambda: next(self.counter))

    def check(self, first):
        return set()


def test_a_forced_mismatch_fails_the_run():
    rec = run.Recorder()
    wl = _Fake()
    rec.warmup(wl)
    rec.measure(wl, seconds=0)
    bad = rec.check(wl)
    assert bad == {"fake.op"}
    attempted, failed = rec.tally(bad)
    assert (attempted, failed) == (2, 2)


def test_steady_outputs_pass():
    rec = run.Recorder()
    wl = _Fake()
    wl.counter = itertools.repeat(5)
    rec.warmup(wl)
    rec.measure(wl, seconds=0)
    assert rec.check(wl) == set()
    assert rec.tally(set()) == (2, 0)


def test_clusters_match_union_find():
    pairs = pd.DataFrame({"doc_a": [1, 2, 10], "doc_b": [2, 3, 11]})
    good = pd.DataFrame({"doc_id": [1, 2, 3, 10, 11], "cluster_id": [1, 1, 1, 10, 10],
                         "cluster_size": [3, 3, 3, 2, 2]})
    assert workloads.clusters_match(pairs, good)
    bad = good.assign(cluster_id=[1, 1, 2, 10, 10])
    assert not workloads.clusters_match(pairs, bad)


def test_tail_needs_ten_samples_beyond_it():
    assert run.tail([1.0] * 19)["tail_s"] is None
    t = run.tail([float(i) for i in range(40)])
    assert t["tail_pct"] == 75.0 and t["tail_s"] == 29.0 and t["n"] == 40


def test_a_checkout_without_the_engine_is_refused(tmp_path, capsys):
    lone = tmp_path / "perfbench"
    lone.mkdir()
    for name in os.listdir(BENCH):
        if name.endswith(".py"):
            (lone / name).write_text(open(os.path.join(BENCH, name)).read())
    sys.path.insert(0, str(lone))
    try:
        import importlib.util
        spec = importlib.util.spec_from_file_location("lone_run", lone / "run.py")
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        assert mod.main(["--workload", "docs", "--seed", "1", "--seconds", "1"]) != 0
    finally:
        sys.path.remove(str(lone))
    assert capsys.readouterr().out == ""


# numbers read off the captured log once; it never changes
KNOWN = {"python_s": 4.236, "exec_cpu_s": 0.956896501, "shuffle_bytes": 387,
         "arrow_bytes": 16960, "persisted_peak_bytes": 1536}
