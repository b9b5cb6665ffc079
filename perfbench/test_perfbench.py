"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq
import pytest

import checks
import inputs
import run
import workloads

BENCHMARK = json.loads((Path(__file__).resolve().parents[1] / "BENCHMARK.json").read_text())
SMALL = inputs.OrderSpec(epochs=2, records_per_epoch=400, invalid_share=0.2)


def _staged(tmp_path: Path, seed: int, spec, name: str) -> dict[str, pd.DataFrame]:
    topic = tmp_path / name
    inputs.stage_orders(seed, spec, topic)
    return {f.name: pq.read_table(f).to_pandas() for f in sorted(topic.iterdir())}


def test_orders_are_deterministic_per_seed(tmp_path):
    a = _staged(tmp_path, 5, SMALL, "a")
    b = _staged(tmp_path, 5, SMALL, "b")
    c = _staged(tmp_path, 6, SMALL, "c")
    assert a.keys() == b.keys() == c.keys()
    assert len(a) == SMALL.epochs * SMALL.partitions
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert any(not a[n]["value"].equals(c[n]["value"]) for n in a)


def test_tables_are_deterministic_per_seed():
    a, b, c = inputs.table_arrays(3), inputs.table_arrays(3), inputs.table_arrays(4)
    assert a.keys() == set(inputs.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_events_ts_is_stored_like_the_test_data(tmp_path):
    """INT64 TIMESTAMP(MICROS), not adjusted to UTC, as in the repository's
    test tables, so ``load_table`` plans events the same way on both."""
    inputs.write_tables(1, tmp_path)
    col = pq.ParquetFile(tmp_path / "events.parquet").schema.column(1)
    assert col.name == "ts" and col.physical_type == "INT64"
    logical = json.loads(col.logical_type.to_json())
    assert (logical["Type"], logical["isAdjustedToUTC"], logical["timeUnit"]) == (
        "Timestamp", False, "microseconds")


def test_documents_hold_near_copies_but_no_exact_ones():
    docs = inputs.table_arrays(2)["documents"].column("text").to_pylist()
    assert len(set(docs)) == len(docs)
    copies = [d for d in docs if d.endswith(" dup")]
    assert len(copies) == len(docs) // 20
    assert all(d[: -len(" dup")] in docs for d in copies)


def test_json_wire_carries_each_damage_kind():
    assert json.loads(inputs.json_message("o", "p", 1.5, 7, "")) == {
        "orderId": "o", "product": "p", "price": 1.5, "timestamp": 7}
    assert "product" not in json.loads(inputs.json_message("o", "p", 1.5, 7, "no_product"))
    assert "orderId" not in json.loads(inputs.json_message("o", "p", 1.5, 7, "no_order_id"))
    with pytest.raises(json.JSONDecodeError):
        json.loads(inputs.json_message("o", "p", 1.5, 7, "undecodable"))


def test_expected_outputs_cover_every_record():
    pdf = inputs.order_records(1, SMALL)
    exp = inputs.expected_outputs(pdf)
    assert exp["valid"] + exp["dlq"] == len(pdf)
    assert exp["snapshot"]["order_count"].sum() == exp["valid"]
    assert exp["error_stats"]["error_count"].sum() == exp["dlq"]
    assert "UNKNOWN" in set(exp["error_stats"]["product"])  # missing product / undecodable


def _correct_drain():
    exp = inputs.expected_outputs(inputs.order_records(1, SMALL))
    return exp, exp["snapshot"].copy(), exp["error_stats"].copy()


def test_drain_check_accepts_the_expected_result():
    exp, snap, errs = _correct_drain()
    assert checks.check_drain(exp, snap.sample(frac=1.0, random_state=0), errs, exp["valid"], exp["dlq"]) == []


@pytest.mark.parametrize("corrupt", [
    lambda s, e: s.assign(price_sum=s["price_sum"].where(s.index != 0, s["price_sum"] + 0.01)),
    lambda s, e: s.assign(order_count=s["order_count"].where(s.index != 1, s["order_count"] + 1)),
    lambda s, e: s.assign(minimum_price=s["minimum_price"].where(s.index != 2, -1.0)),
    lambda s, e: s.iloc[1:],
    lambda s, e: e.iloc[1:],
    lambda s, e: e.assign(product=e["product"].where(e.index != 0, "Nothing")),
], ids=["sum", "count", "min", "missing_product", "missing_error_row", "error_key"])
def test_drain_check_rejects_a_corrupted_result(corrupt):
    exp, snap, errs = _correct_drain()
    bad = corrupt(snap, errs)
    if "error_count" in bad.columns:
        errs = bad
    else:
        snap = bad
    assert checks.check_drain(exp, snap, errs, exp["valid"], exp["dlq"])


def test_drain_check_rejects_wrong_sink_counts():
    exp, snap, errs = _correct_drain()
    assert checks.check_drain(exp, snap, errs, exp["valid"] + 1, exp["dlq"])
    assert checks.check_drain(exp, snap, errs, exp["valid"], exp["dlq"] - 1)


def test_query_check_rejects_a_corrupted_result():
    oracle = pd.DataFrame({"k": ["a", "b"], "n": [1, 2]})
    assert checks.compare_query("q", oracle.iloc[::-1], oracle) == []
    assert checks.compare_query("q", oracle.assign(n=[1, 3]), oracle)
    assert checks.compare_query("q", oracle.iloc[:1], oracle)
    assert checks.compare_query("q", oracle.rename(columns={"n": "m"}), oracle)


def test_printed_metric_names_equal_benchmark_json():
    assert set(run.WORKLOADS) == set(workloads.WORKLOADS) == {w["name"] for w in BENCHMARK["workloads"]}
    summary = {"pass_s": 1.0, "op_geomean_ms": 2.0, "ops_ms": [1.0, 2.0, 3.0]}
    assert set(run.end_to_end(0.5, summary)) == {m["name"] for m in BENCHMARK["end_to_end"]}
    units = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert run.per_layer(units, {}).keys() == units.keys()
    with pytest.raises(ValueError):
        run.per_layer(units, {"not.a.metric": 1.0})


def test_tail_needs_ten_samples_beyond_it():
    assert run.tail([1.0] * 10) is None
    t = run.tail([float(i) for i in range(100)])
    assert t == {"value": 89.0, "percentile": 90.0, "samples": 100}
