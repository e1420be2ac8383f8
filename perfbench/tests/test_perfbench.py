"""The benchmark's own tests: seeded inputs are deterministic, the
metric names BENCHMARK.json declares are the ones the runner prints,
and the runner refuses to run without the package.

    python3 -m pytest perfbench/tests -q

The last three tests start Spark (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.gen import (  # noqa: E402
    Fetcher,
    Market,
    business_days,
    catalog_tables,
    zipf_picks,
)
from perfbench.trace import LAYER_METRICS, Tracer  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _rows(seed: int) -> list:
    f = Fetcher(Market(seed, 5, 40), 30)
    out = []
    for ex in ("NYSE", "NASDAQ"):
        out += f("market", ex, "1990-01-01")
    for t in f.market.tickers:
        out += f("stock", t, "2021-01-20")
    return out


def test_fetcher_is_deterministic_per_seed():
    assert _rows(7) == _rows(7)
    assert _rows(7) != _rows(8)
    assert zipf_picks(7, ["A", "B", "C"], 50) == zipf_picks(7, ["A", "B", "C"], 50)
    assert zipf_picks(7, ["A", "B", "C"], 50) != zipf_picks(8, ["A", "B", "C"], 50)
    assert catalog_tables(7, 30, 50, 20) == catalog_tables(7, 30, 50, 20)
    assert catalog_tables(7, 30, 50, 20) != catalog_tables(8, 30, 50, 20)


def test_fetcher_serves_only_visible_days_from_the_bound():
    m = Market(3, 4, 20)
    f = Fetcher(m, 10)
    t = m.tickers[0]
    assert [r["date"] for r in f("stock", t, "1990-01-01")] == m.dates[:10]
    assert [r["date"] for r in f("stock", t, m.dates[8])] == m.dates[8:10]
    f.visible_days += 1
    assert [r["date"] for r in f("stock", t, m.dates[10])] == [m.dates[10]]
    f.overlap_days = 1
    assert [r["date"] for r in f("stock", t, m.dates[10])] == m.dates[9:11]
    assert [r["date"] for r in f("stock", t, "1990-01-01")] == m.dates[:11]
    listed = [r["Code"] for ex in ("NYSE", "NASDAQ") for r in f("market", ex, "")
              if r["Type"] == "Common Stock"]
    assert sorted(listed) == sorted(m.tickers)


def test_business_days_skip_weekends():
    days = business_days(10)
    assert len(days) == 10 and days[0] == "2021-01-04" and "2021-01-09" not in days


def test_zipf_mix_is_skewed_and_has_its_scans():
    mix = zipf_picks(1, [f"T{i}" for i in range(200)], 10_000)
    assert sum(op == "scan" for op, _ in mix) == 1000
    top = max(set(t for _, t in mix), key=[t for _, t in mix].count)
    assert [t for _, t in mix].count(top) > 10_000 / 200 * 5


def test_catalog_tables_have_near_duplicates_and_every_event_type():
    t = catalog_tables(2, 200, 500, 50)
    words = [set(x.split(" ")) for x in t["documents"].column("text").to_pylist()]
    near = sum(1 for i, a in enumerate(words) for b in words[:i]
               if len(a & b) / len(a | b) > 0.8)
    assert near >= 5
    assert set(t["events"].column("event_type").to_pylist()) == {
        "click", "view", "purchase", "error", "signup"}
    assert t["embeddings"].num_rows == 200


def test_layer_measures_are_per_call_and_calls_per_op():
    tracer = object.__new__(Tracer)  # no Spark: only the report is tested
    tracer.overhead_s = 0.5
    tracer.stats = {"pipeline.get_last_price":
                    {"calls": 4.0, "plan_s": 2.0, "exec_s": 8.0, "jobs": 12.0}}
    out = tracer.metrics(n_ops=5, setup={"session.get_spark": 7.0},
                         op_p50_ms=1.0, op_cpu_ms=2.0)
    assert out["pipeline.get_last_price.calls"]["value"] == 4.0 / 5
    assert out["pipeline.get_last_price.exec_s"]["value"] == 8.0 / 4
    assert out["pipeline.get_last_price.jobs"]["value"] == 12.0 / 4
    assert out["session.get_spark.s"]["value"] == 7.0
    assert out["trace.overhead_ms"]["value"] == 100.0
    assert out["sources.lake.write_stocks.files"]["value"] == 0.0


def test_benchmark_json_declares_the_layer_metrics_trace_prints():
    declared = [(m["name"], m["unit"]) for m in _bench()["per_layer"]]
    assert declared == list(LAYER_METRICS)


def test_benchmark_json_declares_the_end_to_end_metrics_run_prints():
    pytest.importorskip("pyspark")
    from perfbench.workloads import END_TO_END, WORKLOADS

    bench = _bench()
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(END_TO_END)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "price_lookup",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout == ""


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace,section", [
    ("price_lookup", 0, "end_to_end"),
    ("etl_incremental", 1, "per_layer"),
    ("curation_batch", 1, "per_layer"),
])
def test_run_prints_exactly_the_declared_metrics(workload, trace, section):
    out = _run(workload, trace)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in _bench()[section]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared
