"""Workload benchmark for sql_engine_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload adhoc_sql --seed 1 --seconds 12 --trace 0

Runs one workload in this process against a ``local[N]`` session with
one closed-loop client, then checks every result against DuckDB. The
last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics. Progress and details go to
standard error. Inputs and Spark's working files live in a temporary
directory under ``.bench_build/`` that is removed at exit; the traced
run also writes its spans to ``.bench_build/perfbench-traces/``.

Exit codes: 0 when every result checked out, 1 when any operation
failed or returned a wrong result, 2 when the program under test or an
input cannot be found.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Set-ups per run; setup_s is their median.
SETUPS = 3
# Measured units per run at least, whatever --seconds says: a median
# over two curation cycles, and one traced and one untraced unit.
MIN_UNITS = 2

_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# perfbench {time.perf_counter() - _T0:7.2f}s: {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work_dir: str) -> None:
    """Keep Spark's, the JVMs' and Python's temporary files inside the
    work dir."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # Every JVM, the spark-submit launcher too: no /tmp/hsperfdata files.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait until the JVM has exited
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def run_unit(wl, tr, i: int, unit) -> tuple[float, list[dict]]:
    """Run one unit; returns its wall time and one record per op."""
    wl.before_unit(i)
    recs = []
    tu = time.perf_counter()
    for name, fn, info in unit:
        with tr.op(name) as span:
            t = time.perf_counter()
            try:
                result, error = fn(), None
            except Exception as exc:  # noqa: BLE001 - counted, reported, run goes on
                result, error = None, repr(exc)
            wall = time.perf_counter() - t
        rec = {"name": name, "wall": wall, "unit": i, "span": span, "result": result, **info}
        if error:
            rec["error"] = error
        wl.after_op(rec)
        recs.append(rec)
    wall = time.perf_counter() - tu
    wl.after_unit(i, tr.active)
    return wall, recs


def measure(wl, tr, seconds: float, trace: bool) -> list[float]:
    """Run the workload's ``warm_units`` unmeasured units, then units
    until ``seconds`` have passed and at least ``MIN_UNITS`` have run
    (a started unit always finishes); returns the wall time of each
    measured unit. In a traced run even-numbered units run untraced
    and odd ones traced."""
    units = wl.units()
    tr.active = False
    for _ in range(wl.warm_units):
        run_unit(wl, tr, -1, next(units))
    walls = []
    t0 = time.perf_counter()
    for i, unit in enumerate(units):
        if i >= MIN_UNITS and time.perf_counter() - t0 >= seconds:
            break
        tr.active = trace and i % 2 == 1
        wall, recs = run_unit(wl, tr, i, unit)
        walls.append(wall)
        wl.records += recs
    tr.active = trace
    return walls


def end_to_end(wl, setups: list[float], unit_walls: list[float]) -> dict:
    from perfbench.stats import summary

    lat = unit_walls if wl.request == "unit" else [r["wall"] for r in wl.records]
    # Latency percentiles go to the log only: the median query latency
    # of adhoc_sql spread past a 25% bound between runs of the same code,
    # and no run has enough samples for a p90 with ten beyond it.
    log(f"latency summary {summary(lat)}")
    return {
        "setup_s": {"value": statistics.median(setups), "unit": "s"},
        "ops_per_s": {"value": len(lat) / sum(unit_walls), "unit": "1/s"},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sql_engine_spark", "__init__.py")):
        print(f"perfbench: program sql_engine_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.layers import per_layer
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(base, exist_ok=True)
    work_dir = tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-", dir=base)
    _environment(work_dir)
    tr = Tracer(enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](work_dir, args.seed, tr)
    try:
        t = time.perf_counter()
        wl.generate()
        log(f"inputs {json.dumps(wl.inputs)} generated in {time.perf_counter() - t:.2f}s")
        log("setting up")
        setups = [wl.setup() for _ in range(SETUPS)]
        log(f"set-ups {[round(s, 3) for s in setups]}")
        wl.start()
        unit_walls = measure(wl, tr, args.seconds, bool(args.trace))
        log(f"measured {len(wl.records)} ops in units of {[round(w, 3) for w in unit_walls]}s")
        by_name: dict[str, list[float]] = {}
        for r in wl.records:
            by_name.setdefault(r["name"], []).append(r["wall"])
        for name, walls in sorted(by_name.items()):
            log(f"  {name}: n={len(walls)} median={statistics.median(walls):.4f}s max={max(walls):.4f}s")
        t = time.perf_counter()
        wl.check()
        log(f"checked in {time.perf_counter() - t:.2f}s")
        failed = sum(1 for r in wl.records if "error" in r)
        for r in wl.records:
            if "error" in r:
                log(f"FAILED {r['name']} (unit {r['unit']}): {r['error'][:300]}")
        if args.trace:
            metrics = per_layer(wl, tr, unit_walls)
            trace_dir = os.path.join(ROOT, ".bench_build", "perfbench-traces")
            os.makedirs(trace_dir, exist_ok=True)
            tr.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = end_to_end(wl, setups, unit_walls)
        for name, m in metrics.items():
            log(f"{name} = {m['value']:.6g} {m['unit']}")
    finally:
        wl.stop()
        _stop_jvm()
        shutil.rmtree(work_dir, ignore_errors=True)
        log("stopped")
    result = {"correct": failed == 0, "attempted": len(wl.records), "failed": failed, "metrics": metrics}
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
