"""Benchmark of the engine's public query functions, checked against DuckDB.

Run from the repository root::

    python3 perfbench/run.py --workload taxi_scan --seed 1 --seconds 10 --trace 0

One process drives one closed loop: each query is issued after the
previous one returns, on ``session.get_spark()`` with its defaults
(``local[<cpus>]``, no ``SPARK_GRAFT_*`` setting).  A run

1. generates the seeded inputs and computes every query's expected
   answer with DuckDB, in a child process;
2. measures set-up (engine import plus ``get_spark``, JVM start
   included) in ``SETUP_PROBES`` fresh child processes and in this one;
3. runs one cold pass over the workload, then ``WARM_UP`` more untimed
   passes: the JIT keeps speeding passes up for several passes;
4. runs warm passes until ``--seconds`` have passed (at least
   ``MIN_PASSES``), checking every result outside the timed region.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run,
whose warm passes alternate untraced and traced so that the tracing
overhead is measured in the same process.  Spans of the traced run are
written to ``perfbench/.out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_ROOT = os.path.join(HERE, ".out")
sys.path.insert(0, ROOT)

from perfbench import trace  # noqa: E402
from perfbench.inputs import dir_stats  # noqa: E402
from perfbench.workloads import WORKLOADS, Query, digest  # noqa: E402

ENGINE = "durablefunctions_mapreduce_dotnet_spark"
MIN_PASSES = 2
WARM_UP = 3
#: fresh-process set-ups per end-to-end run besides the run's own
SETUP_PROBES = 2

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "pass_tail_s": "s",
    "input_mb_per_s": "MB/s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.skipped_stages": "count",
    "exec.tasks": "count",
    "exec.driver_gap_s": "s",
    "operators.executor_run_ms": "ms",
    "operators.executor_cpu_ms": "ms",
    "operators.gc_ms": "ms",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "sources.input_bytes": "bytes",
    "sources.input_records": "count",
    "sources.scan_tasks": "count",
    "sources.scan_amplification": "ratio",
    "sinks.write_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "pins.left": "count",
    "pins.bytes_left": "bytes",
    "plans.analyzed_nodes": "count",
    "proc.jvm_cpu_s": "s",
    "proc.python_cpu_s": "s",
    "proc.peak_rss_mb": "MB",
    "harness.release_s": "s",
    "harness.passes": "count",
    "harness.failed_frac": "ratio",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def isolate_env() -> None:
    """Engine defaults only, scratch space inside the checkout, and the
    repository importable by the Python workers Spark forks."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(OUT_ROOT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM, the launcher spark-submit starts first included;
    # PerfDisableSharedMem: a JVM would otherwise keep its perf-data file
    # under /tmp whatever java.io.tmpdir says
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem".strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def child(*args: str) -> dict:
    """Run this script in a child mode and return the JSON it prints."""
    proc = subprocess.run([sys.executable, os.path.abspath(__file__), *args],
                          capture_output=True, text=True, timeout=150)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"child {args[:2]} exited with {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def start_session():
    """Import the engine and start its session; returns the session, the
    whole set-up time and the ``get_spark`` part of it."""
    t0 = time.perf_counter()
    from durablefunctions_mapreduce_dotnet_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark()
    t2 = time.perf_counter()
    return spark, t2 - t0, t2 - t1


def stop_session(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


def release(spark) -> None:
    """Drop everything the last query left cached: through the cache
    manager first, so a later identical plan can cache again, then any
    RDD still persisted (local checkpoints, raw ``persist`` calls)."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def release_keeps_caching(spark) -> bool:
    """After :func:`release`, persisting a plan identical to one released
    must store blocks again (a raw-RDD purge alone leaves the cache
    manager's entry behind, and the next persist stores nothing)."""

    def frame():
        return spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count()

    first = frame().persist()
    first.count()
    release(spark)
    again = frame().persist()
    again.count()
    stored = sum(i.numCachedPartitions() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())
    release(spark)
    return stored > 0


class Runner:
    def __init__(self, spark, workload: str, prep: dict, out_dir: str) -> None:
        self.spark = spark
        self.queries: tuple[Query, ...] = WORKLOADS[workload]
        self.prep = prep
        self.out_dir = out_dir
        self.tracer = trace.Tracer(enabled=False)
        self.counters = trace.StageCounters(spark)
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        self.attempted = 0
        self.failed = 0

    # -- one query ---------------------------------------------------------
    def _query(self, q: Query, traced: bool, tag: str) -> dict:
        rec: dict = {"query": q.name, "error": None, "result": None}
        span = self.tracer.span
        try:
            with span("construct") as sc:
                if traced:
                    self.counters.start(f"{tag}.c")
                df = q.build(self.spark, self.prep["input_dir"], self.out_dir)
            if traced:
                rec["construct"] = self.counters.collect(f"{tag}.c")
                rec["analyzed_nodes"] = trace.analyzed_nodes(df)
                self.counters.start(f"{tag}.a")
            with span("action") as sa:
                if q.write:
                    sink = q.write(df, self.out_dir)
                else:
                    rec["result"] = df.toPandas()
            if traced:
                rec["action"] = self.counters.collect(f"{tag}.a")
                rec["construct_s"] = sc.end - sc.start
                rec["action_s"] = sa.end - sa.start
                rec["driver_gap_s"] = trace.uncovered(sa.start, sa.end, rec["action"]["intervals"])
                rec["pins"] = trace.pins(self.spark)
                if q.write:
                    rec["sink"] = dir_stats(sink)
        except Exception as e:  # a failing query is counted, and the loop goes on
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        finally:
            with span("release") as sr:
                release(self.spark)
            if traced:
                rec["release_s"] = sr.end - sr.start
        return rec

    # -- one pass ----------------------------------------------------------
    def run_pass(self, traced: bool = False, label: str = "pass") -> tuple[float, list[dict]]:
        """Run every query once; returns the pass wall time and the
        per-query records (results verified, outside the timed region)."""
        self.tracer.enabled = traced
        cpu0 = (trace.cpu_s(self.jvm_pid), trace.python_workers_cpu_s(self.jvm_pid)) if traced else None
        recs = []
        with self.tracer.span("pass", label=label):
            t0 = time.perf_counter()
            for i, q in enumerate(self.queries):
                with self.tracer.span("query", query=q.name) as qs:
                    recs.append(self._query(q, traced, f"{label}.{i}"))
                if traced:
                    qs.attrs.update(_span_attrs(recs[-1]))
            wall = time.perf_counter() - t0
        if traced:
            recs[0]["cpu"] = (trace.cpu_s(self.jvm_pid) - cpu0[0],
                              trace.python_workers_cpu_s(self.jvm_pid) - cpu0[1])
        with self.tracer.span("verify", label=label):
            for q, rec in zip(self.queries, recs):
                self._verify(q, rec)
        self.tracer.enabled = False
        return wall, recs

    def _verify(self, q: Query, rec: dict) -> None:
        self.attempted += 1
        if rec["error"] is None:
            try:
                got = q.check(self.out_dir) if q.write else digest(rec["result"])
                if got != self.prep["expected"][q.name]:
                    rec["error"] = f"result {got} != expected {self.prep['expected'][q.name]}"
            except Exception as e:  # an unreadable result is a wrong result
                rec["error"] = f"verify {type(e).__name__}: {e}"[:500]
        rec.pop("result", None)
        if rec["error"] is not None:
            self.failed += 1
            log(f"FAILED {q.name}: {rec['error']}")

    # -- per-layer view of one traced pass ---------------------------------
    def layers(self, recs: list[dict]) -> dict[str, float]:
        m = dict.fromkeys(PER_LAYER, 0.0)
        amp = []
        for q, r in zip(self.queries, recs):
            if r["error"] is not None or "action" not in r:
                continue
            c, a = r["construct"], r["action"]
            m["queries.construct_s"] += r["construct_s"]
            m["queries.construct_jobs"] += c["jobs"]
            m["exec.action_s"] += r["action_s"]
            m["exec.jobs"] += a["jobs"]
            m["exec.stages"] += a["stages"]
            m["exec.skipped_stages"] += a["skipped_stages"]
            m["exec.tasks"] += a["tasks"]
            m["exec.driver_gap_s"] += r["driver_gap_s"]
            for k in ("executor_run_ms", "executor_cpu_ms", "gc_ms", "shuffle_read_bytes",
                      "shuffle_write_bytes", "spill_bytes"):
                m[f"operators.{k}"] += c[k] + a[k]
            for k in ("input_bytes", "input_records", "scan_tasks"):
                m[f"sources.{k}"] += c[k] + a[k]
            on_disk = self._source_bytes(q)
            amp.append((c["input_bytes"] + a["input_bytes"]) / on_disk)
            if q.write:
                m["sinks.write_s"] += r["action_s"]
                m["sinks.files_written"] += r["sink"][0]
                m["sinks.bytes_written"] += r["sink"][1]
            m["pins.left"] += r["pins"][0]
            m["pins.bytes_left"] += r["pins"][1]
            m["plans.analyzed_nodes"] += r["analyzed_nodes"]
            m["harness.release_s"] += r["release_s"]
        # worst query: bytes the scans read over the bytes its inputs hold
        m["sources.scan_amplification"] = max(amp, default=0.0)
        m["proc.jvm_cpu_s"], m["proc.python_cpu_s"] = recs[0]["cpu"]
        return m

    def _source_bytes(self, q: Query) -> float:
        if q.reads_sink:
            return float(dir_stats(os.path.join(self.out_dir, q.reads_sink))[1])
        return self.prep["input_mb"] * 1e6


def _span_attrs(rec: dict) -> dict:
    """The per-query layer record, as kept in the trace file."""
    out = {k: v for k, v in rec.items() if k not in ("query", "result", "construct", "action")}
    for phase in ("construct", "action"):
        if phase in rec:
            out[f"{phase}_counters"] = {k: v for k, v in rec[phase].items() if k != "intervals"}
    return out


def run(args) -> dict:
    isolate_env()
    if importlib.util.find_spec(ENGINE) is None:
        raise SystemExit(f"engine package {ENGINE!r} not found under {ROOT}")
    prep = child("--child", "prepare", "--workload", args.workload, "--seed", str(args.seed))
    log(f"inputs {prep['input_dir']}: {prep['input_mb']:.1f} MB in {prep['input_files']} files")
    setups = [] if args.trace else [child("--child", "setup")["setup_s"] for _ in range(SETUP_PROBES)]
    spark, setup_s, get_spark_s = start_session()
    setups.append(setup_s)
    out_dir = os.path.join(OUT_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(out_dir)
    try:
        runner = Runner(spark, args.workload, prep, out_dir)
        first_pass_s, _ = runner.run_pass(label="cold")
        caching_ok = release_keeps_caching(spark)
        for i in range(WARM_UP):
            runner.run_pass(label=f"warm{i}")
        walls, traced_walls, traced_layers = [], [], []
        t_end = time.perf_counter() + args.seconds
        n = 0
        while time.perf_counter() < t_end or n < MIN_PASSES:
            traced = bool(args.trace) and n % 2 == 1
            wall, recs = runner.run_pass(traced=traced, label=f"p{n}")
            if traced:
                traced_walls.append(wall)
                traced_layers.append(runner.layers(recs))
            else:
                walls.append(wall)
            n += 1
        peak_rss = trace.peak_rss_mb(os.getpid())
    finally:
        stop_session(spark)
        shutil.rmtree(out_dir, ignore_errors=True)

    log(f"setups {[round(s, 3) for s in setups]} first {first_pass_s:.3f} passes {[round(w, 3) for w in walls]}")
    result = {
        "correct": runner.failed == 0 and caching_ok,
        "attempted": runner.attempted,
        "failed": runner.failed,
    }
    if not caching_ok:
        log("FAILED self-test: a persist after release stored no blocks")
    if args.trace:
        layers = {k: statistics.median(m[k] for m in traced_layers) for k in PER_LAYER}
        layers["session.get_spark_s"] = get_spark_s
        layers["harness.passes"] = len(traced_walls)
        layers["harness.failed_frac"] = runner.failed / runner.attempted
        layers["proc.peak_rss_mb"] = peak_rss
        layers["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(walls)
        result["metrics"] = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        write_trace(args, runner.tracer)
    else:
        pass_s = statistics.median(walls)
        # A run holds about 5 to 12 timed passes, too few for a percentile
        # with ten samples beyond it, so the tail is the slowest pass.
        log(f"pass_tail_s is the slowest of {len(walls)} passes")
        values = {
            "setup_s": statistics.median(setups),
            "first_pass_s": first_pass_s,
            "pass_s": pass_s,
            "pass_tail_s": max(walls),
            "input_mb_per_s": prep["input_mb"] / pass_s,
        }
        result["metrics"] = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    return result


def write_trace(args, tracer: trace.Tracer) -> None:
    path = os.path.join(OUT_ROOT, f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "spans": tracer.to_json()}, fh)
    log(f"spans written to {path}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--child", choices=("prepare", "setup"), help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if args.child == "prepare":
        from perfbench.workloads import prepare

        print(json.dumps(prepare(args.workload, args.seed)))
        return 0
    if args.child == "setup":
        spark, setup_s, _ = start_session()
        stop_session(spark)
        print(json.dumps({"setup_s": setup_s}))
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
