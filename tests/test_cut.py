"""Lineage cuts: ``session.cut`` is the one place that cuts lineage.  It
cuts reliably (``df.checkpoint``) when the context has a checkpoint dir
and locally (``df.localCheckpoint``) otherwise, and no operator takes a
per-call checkpoint function."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys

from .conftest import SF_DIR
from .test_pins import PACKAGE, ROOT, _functions, _trees

#: Runs in a fresh JVM: Spark cannot unset a checkpoint dir, and the
#: shared ``spark`` fixture must keep cutting locally.  Each operator runs
#: once with local cuts, then once under its own checkpoint dir.  Prints
#: one JSON line: the rows of each run, the files under each operator's
#: checkpoint dir, and the partitions left cached.
_RELIABLE_RUN = r"""
import json, os, sys
from durablefunctions_mapreduce_dotnet_spark.operators.dedup import minhash_near_dup_pairs
from durablefunctions_mapreduce_dotnet_spark.operators.graph import connected_components, kcore
from durablefunctions_mapreduce_dotnet_spark.session import get_spark, release_pins
from durablefunctions_mapreduce_dotnet_spark.sources.readers import read_table

sf_dir, ckpt = sys.argv[1], sys.argv[2]
spark = get_spark("reliable-cut", cpus=2)
pairs = spark.createDataFrame(
    [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a bigint, id_b bigint"
)
k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
edges = spark.createDataFrame(k4 + [(4, 5), (5, 6)], "id_a bigint, id_b bigint")
docs = read_table(spark, sf_dir, "documents")
ops = {
    "cc": lambda: connected_components(pairs, small_graph_threshold=0),
    "kcore": lambda: kcore(edges, k=3),
    "minhash": lambda: minhash_near_dup_pairs(docs, threshold=0.6).select("id_a", "id_b"),
}


def rows(df):
    return sorted(list(r) for r in df.collect())


local = {name: rows(op()) for name, op in ops.items()}
release_pins(spark)
reliable, files = {}, {}
for name, op in ops.items():
    d = os.path.join(ckpt, name)
    spark.sparkContext.setCheckpointDir(d)
    reliable[name] = rows(op())
    files[name] = sum(len(fs) for _, _, fs in os.walk(d))
cached = sum(
    i.numCachedPartitions() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
)
print(json.dumps({"local": local, "reliable": reliable, "files": files, "cached": cached}))
spark.stop()
"""


def run_reliable_cuts(ckpt: str) -> dict:
    """Run :data:`_RELIABLE_RUN` against checkpoint root ``ckpt`` and
    return its JSON record.  The ``reliable_cuts`` fixture in
    ``conftest.py`` calls this once per session."""
    env = dict(os.environ, PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", _RELIABLE_RUN, SF_DIR, ckpt],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_reliable_cut_matches_local_rows(reliable_cuts):
    """With a checkpoint dir set, every cut is a reliable checkpoint:
    the rows equal the local run's, the cuts write files under the dir,
    and none of them leaves a cached partition behind."""
    got = reliable_cuts
    assert got["local"]["kcore"] == [[1, 3], [2, 3], [3, 3], [4, 3]]
    assert got["reliable"] == got["local"]
    assert all(n > 0 for n in got["files"].values())
    assert got["cached"] == 0


def _cut_calls(node: ast.AST) -> int:
    return sum(
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in ("localCheckpoint", "checkpoint")
        for n in ast.walk(node)
    )


def test_lineage_cuts_only_in_session_cut():
    """Every lineage cut goes through ``session.cut``, so whether cuts
    are reliable is decided in one place."""
    trees = list(_trees(PACKAGE, "bench.py", "tests"))
    assert sum(_cut_calls(t) for _, t in trees) == 2
    users = {(p, f.name) for p, t in trees for f in _functions(t) if _cut_calls(f)}
    assert users == {(f"{PACKAGE}/session.py", "cut")}


def test_no_function_takes_a_checkpoint_parameter():
    """Cuts are configured once per context (its checkpoint dir), not
    handed to each operator."""
    offenders = [
        f"{p}:{f.lineno}"
        for p, t in _trees(PACKAGE, "bench.py")
        for f in _functions(t)
        if "checkpoint" in [a.arg for a in f.args.posonlyargs + f.args.args + f.args.kwonlyargs]
    ]
    assert offenders == []
