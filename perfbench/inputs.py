"""Benchmark inputs and their expected outputs.

The inputs are the repository's fixed, read-only synthetic test tables
(seed 42, see TESTDATA.md), committed byte for byte under
`perfbench/tables/sf<scale>/`. The expected row count and value hash of
every catalog entry come from the repo's PARITY.json record for the same
scale, and outputs are hashed with the rendering of `tests/parity.py`,
the rendering that produced PARITY.json.
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
TABLES = HERE / "tables"


def value_hash(pdf: pd.DataFrame) -> dict:
    from tests.parity import _canon_order, _render

    rendered = _render(pdf.loc[_canon_order(pdf)].reset_index(drop=True))
    digest = hashlib.md5(rendered.to_csv(index=False).encode()).hexdigest()
    return {"rows": int(len(pdf)), "value_hash": digest}


def matches(got: dict, want: dict) -> bool:
    """PARITY.json's rows-only entries (oracle=false) carry no hash."""
    if got["rows"] != want["rows"]:
        return False
    return "value_hash" not in want or got["value_hash"] == want["value_hash"]


def parquet_frame(path: str) -> pd.DataFrame:
    """A runner output directory read back the way Spark's toPandas
    renders it: timestamps as naive UTC."""
    pdf = pq.read_table(path).to_pandas()
    for c in pdf.columns:
        if isinstance(pdf[c].dtype, pd.DatetimeTZDtype):
            pdf[c] = pdf[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return pdf


def load(root: Path, scale: str, entries: list[str]) -> dict:
    """{sf_dir, rows, expected} for the tables of `scale` (e.g. "sf0.01")
    and the PARITY.json record of every entry in `entries`."""
    sf_dir = TABLES / scale
    rows = {
        p.stem: pq.read_metadata(p).num_rows for p in sorted(sf_dir.glob("*.parquet"))
    }
    scales = json.loads((root / "PARITY.json").read_text())["scales"]
    recorded = next(
        v["entries"] for k, v in scales.items() if os.path.basename(k) == scale
    )
    expected = {
        e: {k: recorded[e][k] for k in ("rows", "value_hash") if k in recorded[e]}
        for e in entries
    }
    return {"sf_dir": str(sf_dir), "rows": rows, "expected": expected}
