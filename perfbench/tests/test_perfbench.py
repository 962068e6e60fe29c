"""Tests of the crawl benchmark itself.

    python3 -m pytest perfbench/tests -q

The generator and trace arithmetic tests are fast. The end-to-end tests
run the benchmark command on a tiny corpus of each workload's shape in
a fresh process (one local Spark session each, about a minute apiece).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, REPO]

import corpus as gen  # noqa: E402
from spans import Span, Tracer, union_s  # noqa: E402
from workloads import WORKLOADS, expected, tiny  # noqa: E402

with open(os.path.join(BENCH, "spec.json")) as _f:
    SPEC = json.load(_f)
with open(os.path.join(REPO, "BENCHMARK.json")) as _f:
    CONTRACT = json.load(_f)


# ------------------------------------------------------------ generator


@pytest.mark.parametrize("seed", [0, 3, 11])
def test_golden_text_is_what_the_engine_extracts(seed):
    from sharepointcrawler_spark.extraction.htmlwords import extract_links
    from sharepointcrawler_spark.extraction.udfs import _extract_one

    c = gen.build(tiny(WORKLOADS["hot_host_budget"]).shape, seed)
    for i in range(c.n):
        if i in c.empty:
            assert c.html[i] == b""
            continue
        assert _extract_one(c.html[i], c.urls[i]) == c.text[i]
        want = [c.urls[j] for j in c.children[i]] + ([c.urls[0]] if i else [])
        assert extract_links(c.html[i], c.urls[i]) == want


def test_seed_fixes_the_corpus():
    shape = tiny(WORKLOADS["wide_ingest"]).shape
    assert gen.build(shape, 5).digest() == gen.build(shape, 5).digest()
    assert gen.build(shape, 5).digest() != gen.build(shape, 6).digest()


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_recorded_input_digest(name):
    assert gen.build(WORKLOADS[name].shape, SPEC["digest_seed"]).digest() == SPEC["input_digests"][name]


def test_hot_shape():
    wl = WORKLOADS["hot_host_budget"]
    c = gen.build(wl.shape, 1)
    hot = [h == gen.HOT_HOST for h in c.hosts]
    assert sum(hot) == round(c.n * wl.shape.hot_share)
    assert len(c.empty) == wl.shape.n_empty
    assert all(d <= 1 for d in c.depth)  # every page is a seed
    want = expected(wl, c)
    # the budget lets half of the hot host through, every cold page goes
    assert sum(1 for i in range(c.n) if hot[i] and want.scheduled[i]) == wl.budget == (sum(hot) + 1) // 2
    assert all(want.scheduled[i] for i in range(c.n) if not hot[i])
    # the empty pages fail in the wave and are queued for a retry
    assert all(want.scheduled[i] and want.errors[i] == 1 and want.state[i] == "pending"
               for i in c.empty)


def test_wide_shape():
    wl = WORKLOADS["wide_ingest"]
    c = gen.build(wl.shape, 1)
    want = expected(wl, c)
    # the root and its hubs are fetched, each hub's page is discovered
    assert [i for i in range(c.n) if want.state[i] == "fetched"] == [i for i in range(c.n) if c.depth[i] <= 1]
    assert all(want.state[i] == "pending" for i in range(c.n) if c.depth[i] == 2)
    assert len(set(c.hosts)) == wl.shape.n_hosts


def test_dfs_order_is_preorder():
    c = gen.build(gen.Shape((2, 2), 2), 0)
    assert c.children[0] == [1, 2]
    assert c.dfs_order() == [0, 1, 3, 4, 2, 5, 6]


# ---------------------------------------------------------------- spans


def test_union_of_overlapping_intervals():
    assert union_s([]) == 0
    assert union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_s([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_the_union_of_children():
    t = Tracer(spark=None, enabled=True)
    t.spans = [
        Span(0, "run_crawl", "crawl", 0.0, 10.0, None, "main"),
        Span(1, "write", "snapshot", 1.0, 4.0, 0, "pool-1"),
        Span(2, "write", "snapshot", 2.0, 5.0, 0, "pool-2"),
        Span(3, "expand_wave", "frontier", 6.0, 7.0, 0, "main"),
    ]
    self_s = t.self_times()
    assert self_s["crawl"] == pytest.approx(10 - 4 - 1)
    assert self_s["snapshot"] == pytest.approx(6)
    assert self_s["frontier"] == pytest.approx(1)


# ------------------------------------------------------------ end to end


def _run(args, cwd=REPO):
    proc = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)
    return proc.returncode, proc.stdout.strip().splitlines()


def _result(lines):
    return json.loads(lines[-1])


def _assert_metrics(result, entries):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in entries}
    for m in entries:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(result["metrics"][m["name"]]["value"], float)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_tiny_run_prints_every_end_to_end_metric(name):
    rc, lines = _run(["--workload", name, "--seed", "4", "--seconds", "1", "--trace", "0", "--tiny"])
    assert rc == 0, lines[-5:]
    result = _result(lines)
    _assert_metrics(result, CONTRACT["end_to_end"])
    assert result["correct"] and result["failed"] == 0
    assert all(result["metrics"][m["name"]]["value"] > 0 for m in CONTRACT["end_to_end"])


@pytest.mark.parametrize("name,corrupt", [("wide_ingest", "text"), ("hot_host_budget", "fetch")])
def test_traced_run_prints_per_layer_metrics_and_catches_a_corrupt_output(name, corrupt):
    rc, lines = _run(["--workload", name, "--seed", "5", "--seconds", "1", "--trace", "1", "--tiny",
                      "--corrupt", corrupt])
    assert rc == 0, lines[-5:]
    result = _result(lines)
    _assert_metrics(result, CONTRACT["per_layer"])
    assert not result["correct"]
    assert 0 < result["failed"] <= result["attempted"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    for path in CONTRACT["paths"]:
        shutil.copytree(os.path.join(REPO, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = _run(["--workload", "wide_ingest", "--seed", "1", "--seconds", "1", "--trace", "0"],
                     cwd=tmp_path)
    assert rc != 0
    assert not any(line.startswith("{") for line in lines)
