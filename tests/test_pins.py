"""Pin release: operators persist loop state, adjacencies and
checkpoints for the duration of the caller's action, and
``session.release_pins`` is the one way to free them."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F

from durablefunctions_mapreduce_dotnet_spark.operators import graph
from durablefunctions_mapreduce_dotnet_spark.operators.analytics import (
    global_interval_concurrency,
)
from durablefunctions_mapreduce_dotnet_spark.operators.timeseries import gap_fill
from durablefunctions_mapreduce_dotnet_spark.operators.windows import global_distribution_rank
from durablefunctions_mapreduce_dotnet_spark.session import release_pins
from durablefunctions_mapreduce_dotnet_spark.sources.layout import grid_layout_audit

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "durablefunctions_mapreduce_dotnet_spark"

#: name -> (builder over a tiny (edges, events) pair, frames left pinned
#: after the result is consumed, persist_only).  A persist-only result
#: recomputes after release; triangle_counts reads an eager local
#: checkpoint, which cannot.
OPERATORS = {
    # edge/degree, nodes, dangling nodes + iters - 1 rounds
    "pagerank": (lambda g, ev: graph.pagerank(g, iters=2), 4, True),
    # canonical edges + the oriented-edge checkpoint
    "triangle_counts": (lambda g, ev: graph.triangle_counts(g, "src", "dst"), 2, False),
    "label_propagation": (lambda g, ev: graph.label_propagation(g, 2, "src", "dst"), 1, True),
    # adjacency + one persisted frame per round
    "landmark_bfs": (
        lambda g, ev: graph.landmark_bfs(g, g.selectExpr("1 AS lm").limit(1), max_depth=3),
        4,
        True,
    ),
    "sssp_bounded": (lambda g, ev: graph.sssp_bounded(g, 1, rounds=2), 3, True),
    "gap_fill": (lambda g, ev: gap_fill(ev, "event_type", "ts", "value", 900), 1, True),
    "global_distribution_rank": (
        lambda g, ev: global_distribution_rank(ev, ["value", "event_id"]),
        1,
        True,
    ),
    "global_interval_concurrency": (
        lambda g, ev: global_interval_concurrency(ev, F.col("t"), F.col("t") + 900),
        1,
        True,
    ),
    # the coded rows; the projected base is released inside the audit
    "grid_layout_audit": (
        lambda g, ev: grid_layout_audit(ev, ["t", "value"], "event_id", bits=3, n_files=4),
        1,
        True,
    ),
}


def _cached(spark) -> list:
    """Storage info of every persisted RDD holding cached blocks."""
    return list(spark.sparkContext._jsc.sc().getRDDStorageInfo())


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_release_pins_frees_operator_pins(spark, name):
    """Each pinning operator leaves its pinned frames cached after its
    result is consumed, and ``release_pins`` frees all of them."""
    build, pins, persist_only = OPERATORS[name]
    edges = spark.createDataFrame(
        [(1, 2, 10), (2, 3, 1), (3, 1, 1), (2, 1, 1), (3, 4, 1), (8, 9, 1)],
        "src bigint, dst bigint, w bigint",
    )
    events = spark.range(200).selectExpr(
        "id AS event_id",
        "CAST(id % 3 AS STRING) AS event_type",
        "id * 97 % 5000 AS t",
        "timestamp_seconds(id * 97 % 5000) AS ts",
        "CAST(id * 37 % 101 AS DOUBLE) AS value",
    )
    release_pins(spark)
    out = build(edges, events)
    rows = out.count()
    assert rows > 0
    assert len(_cached(spark)) == pins
    release_pins(spark)
    assert _cached(spark) == []
    if persist_only:
        assert out.count() == rows  # plan still valid, just uncached


def test_release_keeps_caching(spark):
    """After a release, persisting a plan identical to a released one
    stores blocks again: the cache manager's entry went with the RDD."""

    def frame():
        return spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count()

    release_pins(spark)
    frame().persist().count()
    release_pins(spark)
    frame().persist().count()
    try:
        assert sum(i.numCachedPartitions() for i in _cached(spark)) > 0
    finally:
        release_pins(spark)


def _trees(*tops: str):
    """Yield (repo-relative path, parsed module) for each Python file
    under ``tops``."""
    for top in tops:
        full = os.path.join(ROOT, top)
        paths = [full] if top.endswith(".py") else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs if f.endswith(".py")
        )
        for path in paths:
            with open(path) as fh:
                yield os.path.relpath(path, ROOT), ast.parse(fh.read())


def _functions(tree: ast.AST):
    return [n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]


def _sweeps(node: ast.AST) -> int:
    return sum(
        isinstance(n, ast.Attribute) and n.attr == "getPersistentRDDs" for n in ast.walk(node)
    )


def test_persistent_rdd_sweep_only_in_release_pins():
    """The raw persisted-RDD sweep bypasses the cache manager unless it
    follows ``catalog.clearCache``; only ``release_pins`` may run it."""
    trees = list(_trees(PACKAGE, "bench.py", "tests"))
    assert sum(_sweeps(t) for _, t in trees) == 1
    users = {(p, f.name) for p, t in trees for f in _functions(t) if _sweeps(f)}
    assert users == {(f"{PACKAGE}/session.py", "release_pins")}


def test_no_function_takes_a_pinned_parameter():
    """Pins are released through ``release_pins``, not handed back to
    callers through a per-operator list."""
    offenders = [
        f"{p}:{f.lineno}"
        for p, t in _trees(PACKAGE)
        for f in _functions(t)
        if "pinned" in [a.arg for a in f.args.posonlyargs + f.args.args + f.args.kwonlyargs]
    ]
    assert offenders == []
