"""The benchmark's own tests: deterministic inputs, checks that catch a
corrupted output, a well-formed span tree, and a BENCHMARK.json that
names exactly the metrics the runner prints. No Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import csv
import datetime as dt
import filecmp
import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402
from spans import Tracer, check_tree  # noqa: E402

SMALL = {"n_cases": 600, "n_days": 12, "n_drops": 3, "drop_cases": 40}


def _files(root):
    return sorted(os.path.relpath(os.path.join(r, f), root) for r, _d, fs in os.walk(root) for f in fs)


def test_reference_inputs_are_deterministic_per_seed(tmp_path):
    a = gen.write_reference_inputs(str(tmp_path / "a"), 5, **SMALL)
    b = gen.write_reference_inputs(str(tmp_path / "b"), 5, **SMALL)
    c = gen.write_reference_inputs(str(tmp_path / "c"), 6, **SMALL)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    for f in _files(tmp_path / "a"):
        assert filecmp.cmp(tmp_path / "a" / f, tmp_path / "b" / f, shallow=False), f
    strip = lambda e: {k: v for k, v in e.items() if not k.endswith(("_csv", "_json", "_dir"))}  # noqa: E731
    assert strip(a) == strip(b)
    assert strip(a) != strip(c)


def test_reference_inputs_have_the_fixture_shape(tmp_path):
    e = gen.write_reference_inputs(str(tmp_path), 5, **SMALL)
    lines = open(e["cases_csv"]).read().splitlines()
    assert len(lines) == SMALL["n_cases"]
    dim = json.load(open(e["counties_json"]))
    assert len(dim) == 67 and not set(gen.MISSING_COUNTIES) & {d["county"] for d in dim}
    assert len(e["refresh"]["predicted"]) == 14
    # Each drop re-delivers half the previous day's cases, the first
    # half the refresh's last day.
    days = [dt.datetime.strptime(r[8], "%m/%d/%y") for r in csv.reader(open(e["cases_csv"]))]
    last_day = days.count(max(days))
    assert e["increments"]["rows_arrived"] == SMALL["n_drops"] * SMALL["drop_cases"] + last_day // 2 + (
        SMALL["n_drops"] - 1) * (SMALL["drop_cases"] // 2)
    assert e["increments"]["rows"] == SMALL["n_cases"] + SMALL["n_drops"] * SMALL["drop_cases"]


def test_corpus_is_deterministic_per_seed(tmp_path):
    pq = pytest.importorskip("pyarrow.parquet")
    gen.write_corpus(str(tmp_path / "a"), 3, 0.0005)
    gen.write_corpus(str(tmp_path / "b"), 3, 0.0005)
    for f in _files(tmp_path / "a"):
        assert pq.read_table(tmp_path / "a" / f).equals(pq.read_table(tmp_path / "b" / f)), f


def _perfect_summary(e, n_drops):
    r, i = e["refresh"], e["increments"]
    return {
        "refresh": {k: copy.deepcopy(r[k]) for k in ("florida_rows", "actual", "predicted", "top5")},
        "increments": {"rows": i["rows"], "distinct": i["rows"], "key_sum": i["key_sum"],
                       "travel_groups": dict(i["travel_groups"]),
                       "append_batches": n_drops, "merge_batches": n_drops},
    }


def _corrupt(summary, how):
    s = copy.deepcopy(summary)
    if how == "lost_row":
        s["refresh"]["florida_rows"] -= 1
    elif how == "actual":
        d, c = s["refresh"]["actual"][3]
        s["refresh"]["actual"][3] = (d, c + 1)
    elif how == "predicted":
        s["refresh"]["predicted"] = s["refresh"]["predicted"][:-1]
    elif how == "top5":
        county = next(iter(s["refresh"]["top5"]))
        s["refresh"]["top5"][county]["final_per_capita"] += 0.02
    elif how == "duplicate":
        s["increments"]["rows"] += 1
    elif how == "cohort":
        k = next(k for k in s["increments"]["travel_groups"] if k.startswith("cohort:"))
        n, t = s["increments"]["travel_groups"][k]
        s["increments"]["travel_groups"][k] = (n - 1, t)
    elif how == "batches":
        s["increments"]["merge_batches"] -= 1
    return s


@pytest.mark.parametrize("how,op", [
    ("lost_row", "csv_ingest"), ("actual", "stats"), ("predicted", "stats"),
    ("top5", "county_stats"), ("duplicate", "append"), ("cohort", "merge"), ("batches", "merge"),
])
def test_corrupted_daily_output_fails_its_check(tmp_path, how, op):
    e = gen.write_reference_inputs(str(tmp_path), 9, **SMALL)
    good = _perfect_summary(e, SMALL["n_drops"])
    assert W.check_daily(good, e) == []
    assert op in [o for o, _ in W.check_daily(_corrupt(good, how), e)]


def test_corrupted_query_result_fails_its_check():
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 1.25), (3, None)]
    exp = W.canonical_rows(cols, list(reversed(rows)))
    assert W.check_query(W.canonical_rows(cols, rows), exp) is None
    assert W.check_query(W.canonical_rows(cols, [(1, 0.5), (2, 1.26), (3, None)]), exp)
    assert W.check_query(W.canonical_rows(cols, rows[:2]), exp)
    assert W.check_query(W.canonical_rows(["k", "w"], rows), exp)


def test_span_tree_is_well_formed():
    tr = Tracer(None, enabled=False)
    with tr.span("pass"):
        for _ in range(2):
            with tr.span("query"):
                with tr.span("build"):
                    time.sleep(0.002)
                with tr.span("materialize"):
                    time.sleep(0.003)
    tree = tr.dump()
    assert check_tree(tree) == []
    assert len(tree) == 7 and all(s["self_s"] >= 0 for s in tree)
    root = next(s for s in tree if s["parent"] is None)
    queries = [s for s in tree if s["name"] == "query"]
    assert root["self_s"] == pytest.approx(root["end"] - root["start"] - sum(q["end"] - q["start"] for q in queries))
    bad = copy.deepcopy(tree)
    child = next(s for s in bad if s["name"] == "build")
    child["end"] = root["end"] + 1
    assert check_tree(bad)


def test_benchmark_json_names_what_the_runner_prints():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in bench["per_layer"]] == run.per_layer_names()
    assert all(m["unit"] == run.unit_of(m["name"]) for m in bench["per_layer"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_typical_pass_takes_each_operation_median():
    passes = [{"a": 1.0, "b": 2.0}, {"a": 1.1, "b": 2.1}, {"a": 5.0, "b": 1.9}]
    totals = [3.1, 3.3, 7.0]
    assert run.typical_pass_s(passes, totals) == pytest.approx(1.1 + 2.0 + 0.1)
