"""Registry of driver-checkable queries.

Each area module exports ``QUERIES: dict[name, fn(spark, sf_dir) -> DataFrame]``
and ``ORACLES: dict[name, sql]`` (DuckDB ANSI SQL over the pre-registered
views).  Keys without an oracle get the driver's weaker rows-only check —
reserved for genuinely non-SQL-expressible ops (LSH, streaming state).

Contract (``/root/repo/__spark_entry__.py``): column names must match the
oracle exactly (the driver sorts columns by name before value-hashing),
and float outputs must be deterministic — see ``functions.numeric``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..session import tune

QueryFn = Callable[[SparkSession, str], DataFrame]


def _wrap(fn: QueryFn) -> QueryFn:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        tune(spark)  # UTC tz + AQE even on a session we didn't build
        return fn(spark, sf_dir)

    run.__name__ = fn.__name__
    run.__doc__ = fn.__doc__
    return run


def all_queries() -> dict[str, QueryFn]:
    flat: dict[str, QueryFn] = {}
    for mod in _modules():
        for name, fn in mod.QUERIES.items():
            assert name not in flat, f"duplicate query name {name}"
            flat[name] = _wrap(fn)
    missing = [n for n in _WINDOW_FIRST if n not in flat]
    assert not missing, f"_WINDOW_FIRST names not registered: {missing}"
    out = {name: flat[name] for name in _WINDOW_FIRST}
    out.update(flat)
    return out


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _modules():
        out.update(getattr(mod, "ORACLES", {}))
    return out


# ---------------------------------------------------------------------------
# Driver-window rotation contract
# ---------------------------------------------------------------------------
# The external correctness harness hashes a PREFIX of this registry
# (50 rows per round).  The registry holds far more than 50 queries
# (run ``len(all_queries())`` for the live count), so the modules are
# split into two halves that alternate facing the driver; whichever half
# is NOT in the window rests on the local oracle mirror
# (tests/test_oracle_parity.py — the same DuckDB side-by-side check over
# every registered query, run in pytest each round).
#
#   HALF_A (relational core + flagship + raw-SQL face):
#       sql_q, joins_q, windows_q, aggregates_q, relational_q,
#       subquery_q, arrays_q, flagship_q
#   HALF_B (LLM-pipeline surface, 65 queries):
#       similarity_q, dedup_q, curation_q, text_q, multimodal_q,
#       streaming_q, timeseries_q, udf_q, analytics_q, linkage_q,
#       graph_q
#
# The per-round rotation log is in git history.
#
# To rotate: swap the two tuples in _ROTATION and say so in the commit
# message.  Rotate every round UNLESS a query in the out-half had a
# behavior-touching fix since its last driver row — then keep that half in
# (or interleave) until it re-earns a driver-green row.
_HALF_A = (
    "sql_q",
    "joins_q",
    "windows_q",
    "aggregates_q",
    "relational_q",
    "subquery_q",
    "arrays_q",
    "flagship_q",
)
_HALF_B = (
    "similarity_q",
    "dedup_q",
    "curation_q",
    "text_q",
    "multimodal_q",
    "streaming_q",
    "timeseries_q",
    "udf_q",
    "analytics_q",
    "linkage_q",
    "graph_q",
)
_ROTATION = _HALF_B + _HALF_A

# Queries awaiting their FIRST driver-green CORRECTNESS row, pinned to the
# front of the registry so the driver's 50-row window is guaranteed to cover
# them regardless of module sizes (a half holds more than 50 queries, so
# module order alone cannot).  Maintain per round:
# once a name earns its driver row, drop it from this tuple; newly added
# queries join it.
_WINDOW_FIRST: tuple[str, ...] = ()

#: Names RE-pinned after a behavior-touching change invalidated their old
#: driver row: name -> round of the re-pin.  The window tripwire
#: (tests/test_window_contract.py) normally flags any pin that is already
#: green in a committed correctness file; a re-pinned name is exempt until
#: a committed green row from a round >= the re-pin round exists (the fix
#: has then re-earned its row and the pin must be dropped as usual).
_REPINNED: dict[str, int] = {}


def _modules():
    return [
        __import__(f"{__name__}.{name}", fromlist=[name]) for name in _ROTATION
    ]
