"""The repository's benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload headline_queries --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout.  It generates the workload's inputs
from the seed under ``.perfbench/`` (nothing outside the checkout is
read or written), starts the session on ``local[nproc]``, warms up while
checking outputs, then repeats timed passes, one operation at a time,
for ``--seconds``.  The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
with ``--trace 1``).  The line before it, prefixed ``perfbench:``, holds
the details: the workload's own metric names, the tail percentile with
its sample count, host core count and load averages, and, when traced,
the tracing overhead and the span file.

The traced run alternates untraced passes with passes that record spans
around every call into the program's layers, so the difference between
the two is the tracing overhead.  On the order workload it also drains the
backlog on ``local[1]`` (one untimed drain, then the median of timed
ones), the single-core baseline.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("headline_queries", "orders_microbatch")
#: Session set-ups per run; the first starts the JVM, the rest restart
#: the SparkContext inside it.  setup_s is their median.
SETUPS = 7
#: Timed passes per run, at least; more while --seconds have not passed.
MIN_PASSES = 3
#: A tail percentile needs this many samples beyond it.
TAIL_BEYOND = 10


def _configure_env(work: Path) -> int:
    """Size the session for this host through the package's own knobs and
    keep every temporary file inside the checkout.  Returns nproc."""
    nproc = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # Python workers import the package when a plan runs its Python code.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # -UsePerfData: no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return nproc


def tail(values: list[float]) -> dict | None:
    """The highest percentile with at least TAIL_BEYOND samples beyond it."""
    n = len(values)
    if n <= TAIL_BEYOND:
        return None
    ordered = sorted(values)
    return {"value": ordered[n - TAIL_BEYOND - 1],
            "percentile": round(100.0 * (n - TAIL_BEYOND) / n, 1), "samples": n}


def end_to_end(setup_s: float, summary: dict) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": summary["pass_s"], "unit": "s"},
        "op_p50_ms": {"value": statistics.median(summary["ops_ms"]), "unit": "ms"},
        "op_geomean_ms": {"value": summary["op_geomean_ms"], "unit": "ms"},
    }


def per_layer(units: dict[str, str], values: dict[str, float]) -> dict:
    """Every per-layer metric of BENCHMARK.json; a layer the workload
    does not exercise reads 0."""
    unknown = set(values) - set(units)
    if unknown:
        raise ValueError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in units.items()}


def _median_layers(passes: list[dict]) -> dict:
    keys = {k for p in passes for k in p["layers"]}
    return {k: statistics.median(p["layers"][k] for p in passes if k in p["layers"]) for k in keys}


class Session:
    """The benchmark's Spark session; ``stop`` also waits for the JVM."""

    def __init__(self):
        self.spark = None

    def start(self, **kw):
        from kafka_avro_order_processing_spark import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name="perfbench", **kw)
        return self.spark

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def measure(wl, spark, tracers: list, seconds: float) -> list[list[dict]]:
    """Timed passes until ``seconds`` have elapsed, at least MIN_PASSES
    with each tracer.  The tracers take turns in ABBA order, so traced and
    untraced passes see the same JVM warm-up on average."""
    passes: list[list[dict]] = [[] for _ in tracers]
    t0 = time.perf_counter()
    while len(passes[-1]) < MIN_PASSES or time.perf_counter() - t0 < seconds:
        turn = list(zip(tracers, passes))
        for tracer, out in turn if len(passes[0]) % 2 == 0 else turn[::-1]:
            out.append(wl.timed_pass(spark, tracer))
    return passes


def run(args, work: Path, out_dir: Path) -> tuple[dict, dict]:
    nproc = _configure_env(work)
    details = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "nproc": nproc, "loadavg_start": os.getloadavg()}

    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    import workloads
    from tracing import Tracer, persisted_state

    t_gen = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](args.seed, work / "inputs")
    details["inputs_s"] = time.perf_counter() - t_gen

    session = Session()
    try:
        setups, get_spark_spans = [], []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            spark = session.start()
            t1 = time.perf_counter()
            spark.range(1_000_000).selectExpr("sum(id)").collect()
            setups.append(time.perf_counter() - t0)
            get_spark_spans.append((t0, t1))
        setup_s = statistics.median(setups)
        details["setups_s"] = setups

        attempted, failed, errors = wl.warm_up(spark)
        tracer = Tracer(spark, bool(args.trace))
        for i, (t0, t1) in enumerate(get_spark_spans):
            tracer.record("session.get_spark", t0, t1, cold=i == 0)
        runs = measure(wl, spark, [Tracer(spark, False)] + ([tracer] if tracer.enabled else []),
                       args.seconds)
        for p in (p for passes in runs for p in passes):
            attempted, failed, errors = attempted + p["attempted"], failed + p["failed"], errors + p["errors"]
        passes = runs[0]
        summary = wl.summarize(passes)
        metrics = end_to_end(setup_s, summary)
        retained_rdds, retained_mb = persisted_state(spark)
        details["metrics"] = _workload_metrics(wl, summary, setup_s, attempted, failed, retained_mb)
        details["retained_persisted_rdds"] = retained_rdds
        details["passes"] = len(passes)

        if args.trace:
            traced = runs[1]
            layers = _median_layers(traced)
            t0, t1 = get_spark_spans[0]
            layers["session.start_s"] = t1 - t0
            traced_pass_s = wl.summarize(traced)["pass_s"]
            details["trace_overhead"] = {
                "untraced_pass_s": summary["pass_s"], "traced_pass_s": traced_pass_s,
                "overhead_frac": traced_pass_s / summary["pass_s"] - 1.0,
            }
            span_file = out_dir / f"{args.workload}-seed{args.seed}-spans.jsonl"
            tracer.dump(span_file)
            details["span_file"] = str(span_file.relative_to(ROOT))
            if isinstance(wl, workloads.OrdersMicrobatch):
                layers["operators.single_core_orders_per_s"] = wl.single_core_orders_per_s(
                    session.start(master="local[1]"), MIN_PASSES)
            bench_def = json.loads((ROOT / "BENCHMARK.json").read_text())
            units = {m["name"]: m["unit"] for m in bench_def["per_layer"]}
            metrics = per_layer(units, layers)
            details["layers"] = layers
    finally:
        session.stop()

    details["errors"] = errors[:20]
    details["loadavg_end"] = os.getloadavg()
    result = {"correct": failed == 0 and not errors, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return result, details


def _workload_metrics(wl, summary: dict, setup_s: float, attempted: int, failed: int,
                      retained_mb: float) -> dict:
    """The workload's metrics under its own names, with the tail."""
    t = tail(summary["ops_ms"])
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        **wl.named_metrics(summary),
        wl.op_name + "_tail_ms": dict(t, unit="ms") if t else {
            "value": None, "unit": "ms", "samples": len(summary["ops_ms"]),
            "note": f"needs more than {TAIL_BEYOND} samples"},
        "retained_storage_mb": {"value": retained_mb, "unit": "MB"},
        "ops_failed_frac": {"value": failed / attempted, "unit": "ratio"},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "kafka_avro_order_processing_spark" / "__init__.py").is_file():
        print(f"perfbench: the program is not in {ROOT}", file=sys.stderr)
        return 2
    base = ROOT / ".perfbench"
    work = base / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = base / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    try:
        result, details = run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps({"result": result, "details": details}, indent=1)
    )
    print("perfbench: " + json.dumps(details), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
