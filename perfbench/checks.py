"""Output checks.  Each returns a list of mismatch descriptions; an empty
list means the output is correct."""

from __future__ import annotations

import math
import sys
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))
from drive_parity import _canon_pdf  # noqa: E402


def compare_query(name: str, got: pd.DataFrame, oracle: pd.DataFrame) -> list[str]:
    """Rows and column names of a query result against its DuckDB oracle,
    through ``scripts/drive_parity.py``'s pandas canonicalization."""
    gcols, grows = _canon_pdf(got)
    ocols, orows = _canon_pdf(oracle)
    if gcols != ocols:
        return [f"{name}: columns {gcols} != oracle {ocols}"]
    if grows != orows:
        diff = next(
            (f"got {a} oracle {b}" for a, b in zip(grows, orows) if a != b),
            f"{len(grows)} rows, oracle {len(orows)}",
        )
        return [f"{name}: {diff[:300]}"]
    return []


def _rows(df: pd.DataFrame, key: list[str]) -> dict:
    return {
        tuple(rec[k] for k in key): rec
        for rec in df.to_dict("records")
    }


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def compare_keyed(what: str, got: pd.DataFrame, want: pd.DataFrame, key: list[str]) -> list[str]:
    """Exact per-key comparison of every column of ``want`` (floats by
    value: the pipeline's sums are exact decimals cast once to double)."""
    missing = [c for c in want.columns if c not in got.columns]
    if missing:
        return [f"{what}: missing columns {missing}"]
    g, w = _rows(got, key), _rows(want, key)
    errs = []
    if g.keys() != w.keys():
        errs.append(f"{what}: keys differ: {len(g.keys() - w.keys())} extra, {len(w.keys() - g.keys())} missing")
    for k in sorted(w.keys() & g.keys(), key=str):
        for c in want.columns:
            if not _same(g[k][c], w[k][c]):
                errs.append(f"{what}: {k} {c} = {g[k][c]!r}, expected {w[k][c]!r}")
                break
        if len(errs) >= 5:
            break
    return errs


def check_drain(expected: dict, snapshot: pd.DataFrame, errors: pd.DataFrame,
                n_valid: int, n_dlq: int) -> list[str]:
    """A drained order pipeline against the generator's expected outputs."""
    errs = []
    if n_valid != expected["valid"]:
        errs.append(f"valid sink holds {n_valid} rows, expected {expected['valid']}")
    if n_dlq != expected["dlq"]:
        errs.append(f"DLQ sink holds {n_dlq} rows, expected {expected['dlq']}")
    errs += compare_keyed("snapshot", snapshot, expected["snapshot"], ["product"])
    errs += compare_keyed("error_stats", errors, expected["error_stats"], ["error_type", "product"])
    return errs
