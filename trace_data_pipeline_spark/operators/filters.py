"""Audited filters & the config switchboard (SURVEY.md §2.2).

Every reference filter runs through `filter_with_log`
(`stage0/create_daily_enhanced_trace.py:76-83`), appending
(stage, rows_before, rows_after) to a global audit ledger. Spark
equivalent: `df.observe()` metrics — zero extra actions, counts
materialize with whatever action the caller eventually runs. An
explicit eager mode exists for tests/reports.

Null semantics are load-bearing (SURVEY §7 watch list): F5 keeps nulls
explicitly, F10/F11 rely on pandas `na=False` / string-coerced NaNs.
Each helper takes a decided null branch.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

@dataclass
class AuditLedger:
    """Append-only filter audit (reference's global record lists,
    `create_daily_enhanced_trace.py:42-107`). Lazy: uses Observation,
    so counts appear only after an action runs on the final frame."""

    observations: list[tuple[str, Observation]] = field(default_factory=list)

    def collect(self) -> list[dict]:
        rows, prev = [], None
        for stage, obs in self.observations:
            got = obs.get
            after = got["rows_after"]
            rows.append(
                {
                    "stage": stage,
                    "rows_before": prev if prev is not None else got.get("rows_before"),
                    "rows_after": after,
                }
            )
            prev = after
        return rows


def filter_with_log(
    df: DataFrame,
    pred: Column,
    stage: str,
    ledger: AuditLedger | None = None,
) -> DataFrame:
    """`df.filter(pred)` + an observed row count named after the stage."""
    out = df.filter(pred)
    if ledger is not None:
        obs = Observation(stage)
        out = out.observe(obs, F.count(F.lit(1)).alias("rows_after"))
        ledger.observations.append((stage, obs))
    return out


def null_keeping_neq(a: Column | str, b: Column | str) -> Column:
    """F5: keep rows where a != b OR b IS NULL — the reference encodes
    the null-keep explicitly (`create_daily_enhanced_trace.py:683-687`)
    because SQL 3-valued logic would otherwise drop null rows."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return (ca != cb) | cb.isNull()


def isin_keep_null(col: Column | str, values: Sequence, keep_null: bool = True) -> Column:
    """F11: membership with an explicit null branch (the reference
    string-coerces NaN to 'None' first, `:1523-1558`)."""
    c = F.col(col) if isinstance(col, str) else col
    pred = c.isin(list(values))
    return (pred | c.isNull()) if keep_null else (pred & c.isNotNull())


def time_window_filter(
    df: DataFrame,
    seconds: Column,
    start_hhmmss: str | None,
    end_hhmmss: str | None,
    keep_missing: bool = True,
) -> DataFrame:
    """F8: inclusive intraday window with wrap-around support
    (`create_daily_enhanced_trace.py:1322-1375`): end < start means the
    window crosses midnight → t >= start OR t <= end. Invalid/missing
    bounds → no-op, matching the reference. Bounds parse with the same
    _hms_to_seconds semantics as the row values (float seconds allowed,
    strict < 60) — pass `hms_to_seconds_checked(...)` as `seconds` for
    full reference parity on string times."""

    def parse(s: str | None) -> float | None:
        if not s or not str(s).strip():
            return None
        try:
            h_s, m_s, sec_s = str(s).strip().split(":")
            h, m, sec = int(h_s), int(m_s), float(sec_s)
        except ValueError:
            return None
        if not (0 <= h <= 23 and 0 <= m <= 59 and 0.0 <= sec < 60.0):
            return None
        return h * 3600 + m * 60 + sec

    lo, hi = parse(start_hhmmss), parse(end_hhmmss)
    if lo is None or hi is None:
        return df
    if lo <= hi:
        in_window = (seconds >= lo) & (seconds <= hi)
    else:  # wrap-around past midnight
        in_window = (seconds >= lo) | (seconds <= hi)
    if keep_missing:
        in_window = in_window | seconds.isNull()
    return df.filter(in_window)


def volume_filter(
    df: DataFrame,
    price_col: str,
    qty_col: str,
    kind: str = "dollar",
    threshold: float = 0.0,
    par: float = 100.0,
) -> DataFrame:
    """F3+F4: derived dollar volume + config-driven dollar-or-par filter
    (`create_daily_enhanced_trace.py:620-634`, normalizer `:109-126`)."""
    out = df.withColumn("dollar_vol", F.col(price_col) * F.col(qty_col) / F.lit(par))
    if kind == "dollar":
        return out.filter(F.col("dollar_vol") >= threshold)
    if kind == "par":
        return out.filter(F.col(qty_col) >= threshold)
    raise ValueError(f"unknown volume filter kind {kind!r}")
