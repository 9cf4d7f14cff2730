"""Bid/ask daily panels (SURVEY.md §2.4 A3, §2.3 J9).

The reference splits each (cusip, day) into value-weighted bid and ask
prices and merges the two side panels with an outer join
(`stage0/create_daily_enhanced_trace.py:283-391`). The A1+A2 price
panel is one hash aggregate written inline by `plans/relational.py::
a1_daily_panel`; this module holds the A3 split that `a3_bid_ask`
composes.

Scale notes: each side is a single groupBy on (id, date) — one shuffle,
AQE-coalesced; the two filtered aggregations merge with an outer join
on the same keys, reusing the shuffle partitioning of the aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def value_weighted_side_panel(
    trades: DataFrame,
    side_pred: Column,
    out_price: str,
    out_count: str,
    id_col: str = "cusip_id",
    date_col: str = "trd_exctn_dt",
    price_col: str = "rptd_pr",
    qty_col: str = "entrd_vol_qt",
    par: float = 100.0,
) -> DataFrame:
    """One side of A3 (bid or ask): value-weighted price over the rows
    matching `side_pred`. The reference materializes per-group weight
    denominators via transform('sum') (`:283,318`); algebraically
    Σ(p·dv)/Σ(dv) is identical and needs no window — a single aggregate.
    """
    p = F.col(price_col)
    dv = p * F.col(qty_col) / F.lit(par)
    return (
        trades.where(side_pred)
        .groupBy(F.col(id_col), F.col(date_col))
        .agg(
            (F.sum(p * dv) / F.nullif(F.sum(dv), F.lit(0.0))).alias(out_price),
            F.count(p).alias(out_count),
        )
    )


def bid_ask_panel(
    trades: DataFrame,
    bid_pred: Column,
    ask_pred: Column,
    id_col: str = "cusip_id",
    date_col: str = "trd_exctn_dt",
    price_col: str = "rptd_pr",
    qty_col: str = "entrd_vol_qt",
) -> DataFrame:
    """A3 + J9: bid and ask value-weighted panels, full-outer merged on
    (id, date) like the reference's reduce(pd.merge(outer))
    (`create_daily_enhanced_trace.py:373-391`)."""
    bid = value_weighted_side_panel(
        trades, bid_pred, "prc_bid", "bid_count", id_col, date_col, price_col, qty_col
    )
    ask = value_weighted_side_panel(
        trades, ask_pred, "prc_ask", "ask_count", id_col, date_col, price_col, qty_col
    )
    return bid.join(ask, [id_col, date_col], "outer")
