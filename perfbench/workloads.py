"""The benchmark's workloads.  Each runs one operation at a time in the
benchmark's single Spark session and reports, per timed pass, the pass
time, every operation's latency, how many operations it attempted and
how many failed (raised or produced wrong output).

- ``headline_queries``: the 19 ``bench.py`` queries, through the query
  registry, on seeded tables shaped like the sf0.01 test data.  At this
  size per-query overhead dominates (plan build, Catalyst, scheduling,
  result transfer); a few queries also shuffle.  Each pass runs the
  queries in a seed-permuted order.
- ``orders_microbatch``: JSON wire orders (what the reference producer
  sends) from the 10-product catalog, staged as many small epochs on a
  3-partition topic and drained through the order pipeline.  Per-epoch
  fixed cost dominates: the epoch body's persist and three sink writes,
  the offset log and job scheduling.
"""

from __future__ import annotations

import random
import shutil
import statistics
import time
from pathlib import Path

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from kafka_avro_order_processing_spark.operators.aggregate import error_stats
from kafka_avro_order_processing_spark.operators.validate import dlq_envelope, split_valid_invalid
from kafka_avro_order_processing_spark.plans.registry import QUERIES
from kafka_avro_order_processing_spark.sources.serde import orders_from_json
from kafka_avro_order_processing_spark.streaming.pipeline import (
    read_aggregated_snapshot,
    start_order_pipeline,
)
from kafka_avro_order_processing_spark.streaming.retry import RetryHandler

from bench import BENCH_QUERIES

import checks
import inputs
from tracing import Tracer, catalyst_phases, persisted_state

STREAM_DURATIONS = {
    "addBatch": "streaming.add_batch_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "latestOffset": "streaming.latest_offset_ms",
    "queryPlanning": "streaming.query_planning_ms",
}


def _sum_counts(tracer: Tracer, rec: dict) -> dict:
    """Counts of ``rec`` and every span under it."""
    out: dict[str, float] = {}
    for s in tracer.subtree(rec):
        for k, v in s.get("counts", {}).items():
            out[k] = out.get(k, 0) + v
    return out


def _operator_metrics(c: dict) -> dict:
    return {
        "sources.input_rows": c.get("input_rows", 0),
        "sources.input_bytes": c.get("input_bytes", 0),
        "operators.jobs": c.get("jobs", 0),
        "operators.stages": c.get("stages", 0),
        "operators.tasks": c.get("tasks", 0),
        "operators.exec_ms": c.get("exec_ms", 0),
        "operators.task_run_ms": c.get("task_run_ms", 0),
        "operators.task_cpu_ms": c.get("task_cpu_ms", 0.0),
        "operators.busy_cores": c.get("task_run_ms", 0) / c["exec_ms"] if c.get("exec_ms") else 0.0,
        "operators.shuffle_write_bytes": c.get("shuffle_write_bytes", 0),
        "operators.spill_bytes": c.get("spill_bytes", 0),
    }


def _ms(t0: float, t1: float) -> float:
    return (t1 - t0) * 1000.0


class HeadlineQueries:
    name = "headline_queries"

    def __init__(self, seed: int, work: Path):
        self.seed = seed
        self.tables = inputs.write_tables(seed, work / "tables")
        con = duckdb.connect()
        try:
            for t in inputs.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.tables}/{t}.parquet')")
            self.oracle = {q: con.execute(QUERIES[q].oracle).df() for q in BENCH_QUERIES}
        finally:
            con.close()
        self.passes = 0

    def warm_up(self, spark) -> tuple[int, int, list[str]]:
        """One untimed pass that checks every query's rows against its
        DuckDB oracle."""
        errs = []
        for q in BENCH_QUERIES:
            try:
                got = QUERIES[q].fn(spark, str(self.tables)).toPandas()
                errs += checks.compare_query(q, got, self.oracle[q])
            except Exception as exc:  # noqa: BLE001 — a failing query is a failed operation
                errs.append(f"{q}: {type(exc).__name__}: {exc}"[:300])
            spark.catalog.clearCache()
        return len(BENCH_QUERIES), len(errs), errs

    def timed_pass(self, spark, tracer: Tracer) -> dict:
        order = list(BENCH_QUERIES)
        random.Random(self.seed * 1009 + self.passes).shuffle(order)
        self.passes += 1
        lat, errs, layer = {}, [], {}
        t_start = time.perf_counter()
        with tracer.span("headline_pass") as root, tracer.wrap_package_function(
            "kafka_avro_order_processing_spark.sources.tables", "load_table", "sources.load_table",
        ):
            for q in order:
                t0 = time.perf_counter()
                try:
                    with tracer.span("query", query=q) as qrec:
                        with tracer.span("plans.build"):
                            df = QUERIES[q].fn(spark, str(self.tables))
                        with tracer.span("collect") as crec:
                            rows = df.collect()
                        if qrec is not None:
                            qrec["attrs"].update(catalyst_phases(df), rows=len(rows))
                            crec["attrs"]["rows"] = len(rows)
                    if len(rows) != len(self.oracle[q]):
                        errs.append(f"{q}: {len(rows)} rows, oracle {len(self.oracle[q])}")
                except Exception as exc:  # noqa: BLE001
                    errs.append(f"{q}: {type(exc).__name__}: {exc}"[:300])
                lat[q] = _ms(t0, time.perf_counter())
                if qrec is not None:
                    qrec["attrs"]["persisted_before_clear"] = persisted_state(spark)
                spark.catalog.clearCache()
        pass_s = time.perf_counter() - t_start
        if root is not None:
            layer = self._layers(spark, tracer, root)
        return {"pass_s": pass_s, "latency_ms": lat, "attempted": len(order),
                "failed": len(errs), "errors": errs, "layers": layer}

    def _layers(self, spark, tracer: Tracer, root: dict) -> dict:
        tree = tracer.subtree(root)
        tracer.resolve(tree)
        queries = [s for s in tree if s["name"] == "query"]
        builds = [s for s in tree if s["name"] == "plans.build"]
        loads = [s for s in tree if s["name"] == "sources.load_table"]
        collects = [s for s in tree if s["name"] == "collect"]
        c = _sum_counts(tracer, root)
        rdds, mb = persisted_state(spark)
        out = _operator_metrics(c)
        out.update({
            "sources.load_table_ms": sum(_ms(s["start"], s["end"]) for s in loads),
            "plans.build_ms": sum(_ms(s["start"], s["end"]) for s in builds),
            "plans.analysis_ms": sum(s["attrs"].get("analysis", 0.0) for s in queries),
            "plans.optimization_ms": sum(s["attrs"].get("optimization", 0.0) for s in queries),
            "plans.planning_ms": sum(s["attrs"].get("planning", 0.0) for s in queries),
            "operators.persisted_rdds_left": rdds,
            "operators.storage_mb_left": mb,
            "collect.transfer_ms": sum(
                _ms(s["start"], s["end"]) - s["counts"]["exec_ms"] for s in collects
            ),
            "collect.rows": sum(s["attrs"].get("rows", 0) for s in collects),
        })
        return out

    op_name = "query"

    @staticmethod
    def named_metrics(summary: dict) -> dict:
        return {
            "queries_total_s": {"value": summary["pass_s"], "unit": "s"},
            "query_geomean_ms": {"value": summary["op_geomean_ms"], "unit": "ms"},
        }

    @staticmethod
    def summarize(passes: list[dict]) -> dict:
        """pass_s: sum over queries of each query's median latency across
        the timed passes; op_geomean_ms: geometric mean of those medians;
        op_p50_ms and the tail: over every timed query execution.  The
        JIT is still warming over these passes, so the best pass would
        move with how many passes fit in the run; the median moves less."""
        med = {q: statistics.median(p["latency_ms"][q] for p in passes) for q in passes[0]["latency_ms"]}
        return {
            "pass_s": sum(med.values()) / 1000.0,
            "op_geomean_ms": statistics.geometric_mean(med.values()),
            "ops_ms": [v for p in passes for v in p["latency_ms"].values()],
        }


WIRE_SCHEMA = "key string, value string, partition int, offset long"


class OrdersMicrobatch:
    """A staged order backlog drained through ``start_order_pipeline``
    (with a ``RetryHandler`` and the aggregated sink), then
    ``read_aggregated_snapshot`` and ``error_stats`` over the DLQ."""

    name = "orders_microbatch"
    spec = inputs.OrderSpec(epochs=6, records_per_epoch=3000, invalid_share=0.03)

    def __init__(self, seed: int, work: Path):
        self.work = work
        self.topic = work / "topic"
        self.records = inputs.stage_orders(seed, self.spec, self.topic)
        self.expected = inputs.expected_outputs(self.records)
        self.input_bytes = sum(f.stat().st_size for f in self.topic.iterdir())
        self.drains = 0
        self.retries = 0

    def _sleep(self, seconds: float) -> None:
        self.retries += 1
        time.sleep(seconds)

    @staticmethod
    def _decode(df):
        return orders_from_json(df).drop("corrupt_record")

    def _read_epoch(self, spark):
        """The first staged epoch as a batch DataFrame."""
        return spark.read.schema(WIRE_SCHEMA).parquet(str(self.topic / "epoch-00000-*.parquet"))

    def drain(self, spark, tracer: Tracer) -> dict:
        """Drain the whole staged backlog into fresh sinks, then read the
        snapshot and the DLQ error stats; check them outside the timing."""
        epochs = self.spec.epochs
        out = self.work / f"drain-{self.drains}"
        self.drains += 1
        retries_before = self.retries
        sinks = {k: str(out / k) for k in ("valid", "dlq", "agg", "chk")}
        errs: list[str] = []
        q = None
        t0 = time.perf_counter()
        with tracer.span("drain") as root:
            try:
                with tracer.span("sources.build"):
                    src = (
                        spark.readStream.schema(WIRE_SCHEMA)
                        .option("maxFilesPerTrigger", self.spec.partitions)
                        .parquet(str(self.topic))
                    )
                    decoded = self._decode(src)
                with tracer.span("streaming.pipeline") as srec:
                    q = start_order_pipeline(
                        decoded, sinks["valid"], sinks["dlq"], sinks["chk"],
                        retry_handler=RetryHandler(sleep=self._sleep),
                        aggregated_sink=sinks["agg"],
                    )
                    q.awaitTermination()
                tracer.add_jobs(srec, str(q.runId))
                with tracer.span("operators.aggregate.snapshot") as snap_rec:
                    snap_df = read_aggregated_snapshot(spark, sinks["agg"])
                    snap_rows = snap_df.collect()
                with tracer.span("operators.aggregate.error_stats") as err_rec:
                    err_df = error_stats(
                        spark.read.parquet(sinks["dlq"]), product=F.col("original_value.product")
                    )
                    err_rows = err_df.collect()
            except Exception as exc:  # noqa: BLE001 — a failed drain fails its epochs
                errs.append(f"drain: {type(exc).__name__}: {exc}"[:300])
        drain_s = time.perf_counter() - t0
        progress = [p for p in (q.recentProgress if q is not None else []) if p["numInputRows"] > 0]
        if not errs:
            if len(progress) != epochs:
                errs.append(f"drained in {len(progress)} epochs, staged {epochs}")
            errs += checks.check_drain(
                self.expected,
                pd.DataFrame([r.asDict() for r in snap_rows]),
                pd.DataFrame([r.asDict() for r in err_rows]),
                spark.read.parquet(sinks["valid"]).count(),
                spark.read.parquet(sinks["dlq"]).count(),
            )
        layer = {}
        if root is not None and not errs:
            snap_rec["attrs"].update(catalyst_phases(snap_df), rows=len(snap_rows))
            err_rec["attrs"].update(catalyst_phases(err_df), rows=len(err_rows))
            layer = self._layers(spark, tracer, root, progress, out, sinks["agg"])
            layer["streaming.epochs_retried"] = self.retries - retries_before
        shutil.rmtree(out, ignore_errors=True)
        return {
            "pass_s": drain_s,
            "epoch_ms": [float(p["durationMs"]["triggerExecution"]) for p in progress],
            "attempted": epochs,
            "failed": epochs if errs else 0,
            "errors": errs,
            "layers": layer,
        }

    def _layers(self, spark, tracer, root, progress, out: Path, agg: str) -> dict:
        tree = tracer.subtree(root)
        tracer.resolve(tree)
        by = {s["name"]: s for s in tree}
        c = _sum_counts(tracer, root)
        batch_queries = [by["operators.aggregate.snapshot"], by["operators.aggregate.error_stats"]]
        sink_files = [f for k in ("valid", "dlq", "agg") for f in (out / k).rglob("*.parquet")]
        metrics = _operator_metrics(c)
        metrics.update({
            "plans.analysis_ms": sum(s["attrs"]["analysis"] for s in batch_queries),
            "plans.optimization_ms": sum(s["attrs"]["optimization"] for s in batch_queries),
            "plans.planning_ms": sum(s["attrs"]["planning"] for s in batch_queries),
            "operators.aggregate.snapshot_ms": _ms(by["operators.aggregate.snapshot"]["start"],
                                                   by["operators.aggregate.snapshot"]["end"]),
            "operators.aggregate.error_stats_ms": _ms(by["operators.aggregate.error_stats"]["start"],
                                                      by["operators.aggregate.error_stats"]["end"]),
            "operators.aggregate.changelog_rows": spark.read.parquet(agg).count(),
            "collect.transfer_ms": sum(
                _ms(s["start"], s["end"]) - s["counts"]["exec_ms"] for s in batch_queries
            ),
            "collect.rows": sum(s["attrs"]["rows"] for s in batch_queries),
            "streaming.jobs_per_epoch": by["streaming.pipeline"]["counts"]["jobs"] / max(len(progress), 1),
            "streaming.sink_files": len(sink_files),
            "streaming.sink_bytes_per_input_byte": sum(f.stat().st_size for f in sink_files) / self.input_bytes,
        })
        for key, name in STREAM_DURATIONS.items():
            metrics[name] = statistics.median(float(p["durationMs"].get(key, 0)) for p in progress)
        return metrics

    def warm_up(self, spark) -> tuple[int, int, list[str]]:
        """Two checked, untimed drains.  The first pays for the cold JVM;
        the drain time still falls by about a fifth over the next four
        drains while the JIT warms, so a second one moves the timed drains
        onto the flatter part of that curve."""
        attempted, failed, errors = 0, 0, []
        for _ in range(2):
            r = self.drain(spark, Tracer(spark, False))
            attempted, failed, errors = attempted + r["attempted"], failed + r["failed"], errors + r["errors"]
        return attempted, failed, errors

    def timed_pass(self, spark, tracer: Tracer) -> dict:
        r = self.drain(spark, tracer)
        if tracer.enabled and not r["errors"]:
            r["layers"].update(self.probes(spark, tracer))
        return r

    def probes(self, spark, tracer: Tracer) -> dict:
        """Per-record cost of the source and validate layers over one
        staged epoch, each written to the ``noop`` sink."""
        n = int((self.records["epoch"] == 0).sum())
        with tracer.span("sources.decode") as dec:
            self._decode(self._read_epoch(spark)).write.format("noop").mode("overwrite").save()
        decoded_dir = str(self.work / "decoded")
        self._decode(self._read_epoch(spark)).write.mode("overwrite").parquet(decoded_dir)
        with tracer.span("operators.validate.split") as split:
            valid, invalid = split_valid_invalid(spark.read.parquet(decoded_dir))
            valid.write.format("noop").mode("overwrite").save()
            dlq_envelope(invalid).write.format("noop").mode("overwrite").save()
        return {
            "sources.decode_ms_per_1k": _ms(dec["start"], dec["end"]) * 1000.0 / n,
            "operators.validate.split_ms_per_1k": _ms(split["start"], split["end"]) * 1000.0 / n,
        }

    def single_core_orders_per_s(self, spark, drains: int) -> float:
        """The stream-processing baseline: the same drain, given a
        session on local[1]; one untimed drain, then the median of
        ``drains`` timed ones, as on local[nproc]."""
        times = []
        for _ in range(drains + 1):
            r = self.drain(spark, Tracer(spark, False))
            if r["errors"]:
                raise RuntimeError(f"single-core drain failed: {r['errors']}")
            times.append(r["pass_s"])
        return len(self.records) / statistics.median(times[1:])

    op_name = "epoch"

    def named_metrics(self, summary: dict) -> dict:
        return {
            "orders_per_s": {"value": len(self.records) / summary["pass_s"], "unit": "records/s"},
            "epoch_p50_ms": {"value": statistics.median(summary["ops_ms"]), "unit": "ms"},
        }

    @staticmethod
    def summarize(passes: list[dict]) -> dict:
        """pass_s: median drain time; op_*: over every timed epoch."""
        epochs = [v for p in passes for v in p["epoch_ms"]]
        return {
            "pass_s": statistics.median(p["pass_s"] for p in passes),
            "op_geomean_ms": statistics.geometric_mean(epochs),
            "ops_ms": epochs,
        }


WORKLOADS = {w.name: w for w in (HeadlineQueries, OrdersMicrobatch)}
