"""Tests of the benchmark itself: its output contract, its measurement
helpers and the pin release it performs between queries.

Run from the repository root with ``python3 -m pytest perfbench -q``.
The contract tests start the benchmark in subprocesses and take a few
minutes.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys

import pandas as pd
import pytest

from perfbench import inputs, run, trace
from perfbench.workloads import WORKLOADS, digest

ROOT = run.ROOT
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def test_names_match_benchmark_json():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert SPEC["paths"] == ["perfbench"]


def test_uncovered_counts_time_outside_stages():
    assert trace.uncovered(0.0, 10.0, []) == 10.0
    assert trace.uncovered(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]) == pytest.approx(6.0)


def test_self_times_sum_to_root_duration():
    t = trace.Tracer(enabled=True)
    with t.span("pass") as root:
        for _ in range(3):
            with t.span("query"):
                with t.span("action"):
                    sum(range(20_000))
    st = t.self_times()
    assert sum(st.values()) == pytest.approx(root.end - root.start)
    assert all(v >= 0 for v in st.values())


def test_disabled_tracer_records_nothing():
    t = trace.Tracer(enabled=False)
    with t.span("pass") as s:
        assert s is None
    assert t.spans == []


def test_digest_is_order_insensitive_and_bit_exact():
    a = pd.DataFrame({"b": [1, 2, 3], "a": [0.5, 0.25, 0.125]})
    shuffled = a.iloc[[2, 0, 1]][["a", "b"]]
    assert digest(a) == digest(shuffled)
    nudged = a.assign(a=[0.5, 0.25, math.nextafter(0.125, 1.0)])
    assert digest(a) != digest(nudged)


def test_graph_inputs_keep_content_and_vary_layout(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    inputs._write_graph(str(a / "x"), seed=1)
    inputs._write_graph(str(b / "x"), seed=2)
    ta = pd.read_parquet(a / "x" / "lineitem.parquet")
    tb = pd.read_parquet(b / "x" / "lineitem.parquet")
    assert not ta.equals(tb)  # another row order and file split
    key = list(ta.columns)
    pd.testing.assert_frame_equal(
        ta.sort_values(key).reset_index(drop=True), tb.sort_values(key).reset_index(drop=True)
    )


def test_taxi_inputs_are_seeded(tmp_path):
    for name in ("a", "b", "c"):
        (tmp_path / name).mkdir()
    inputs._write_taxi(str(tmp_path / "a"), seed=5)
    inputs._write_taxi(str(tmp_path / "b"), seed=5)
    inputs._write_taxi(str(tmp_path / "c"), seed=6)
    first = sorted(p.name for p in (tmp_path / "a").iterdir())
    assert len(first) == inputs.TAXI_FILES
    same = all((tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes() for f in first)
    other = any((tmp_path / "a" / f).read_bytes() != (tmp_path / "c" / f).read_bytes() for f in first)
    assert same and other


@pytest.fixture(scope="module")
def spark():
    run.isolate_env()
    s, _, _ = run.start_session()
    yield s
    run.stop_session(s)


def test_release_lets_an_identical_plan_cache_again(spark):
    assert run.release_keeps_caching(spark)


def test_raw_rdd_purge_leaves_identical_plan_uncached(spark):
    """Why :func:`run.release` goes through the cache manager: purging
    only the persisted RDDs keeps the cached-plan entry, and the next
    persist of the same plan stores nothing."""
    def frame():
        return spark.range(10_000).selectExpr("id % 5 AS k").groupBy("k").count()

    frame().persist().count()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    frame().persist().count()
    stored = sum(i.numCachedPartitions() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())
    run.release(spark)
    assert stored == 0


def _bench(workload: str, traced: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(traced)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_end_to_end_output_contract(workload):
    out = _bench(workload, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_contract():
    out = _bench("taxi_scan", 1)
    assert out["correct"] is True
    metrics = {k: v["value"] for k, v in out["metrics"].items()}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.PER_LAYER
    assert metrics["sources.scan_amplification"] == pytest.approx(2.0, abs=0.05)
    assert metrics["pins.left"] == 0
    assert metrics["sinks.files_written"] == inputs.TAXI_FILES

    with open(os.path.join(run.OUT_ROOT, "trace-taxi_scan-3.json")) as fh:
        spans = json.load(fh)["spans"]
    passes = [s for s in spans if s["name"] == "pass" and s["parent"] is None]
    by_parent: dict = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)

    def subtree_self(s):
        return s["self_s"] + sum(subtree_self(c) for c in by_parent.get(s["id"], []))

    overhead = abs(metrics["trace.overhead_s"])
    for p in passes:
        wall = p["end"] - p["start"]
        assert abs(subtree_self(p) - wall) <= max(overhead, 1e-6)
    layer_s = [sum(c["self_s"] for q in by_parent[p["id"]] for c in by_parent[q["id"]]) for p in passes]
    assert statistics.median(layer_s) > 0
