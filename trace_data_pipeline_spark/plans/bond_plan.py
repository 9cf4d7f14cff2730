"""W10 bond-analytics plan: synthetic level-coupon bonds derived from
orders, priced → ytm/duration/convexity via the closed-form engine.

Oracle strategy: the engine is a FIXED arithmetic sequence (25 Newton
steps from y₀=0.03, clamped, sequential term accumulation), so DuckDB
replays it with a recursive CTE + list_transform sums. The iteration
converges to machine precision, which erases libm pow() ulp differences
between engines, and outputs are rounded at 6dp — flip risk ~1e-14 per
row.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from trace_data_pipeline_spark.operators.bond_math import bond_analytics
from trace_data_pipeline_spark.plans.catalog import register
from trace_data_pipeline_spark.sources import load_table
from trace_data_pipeline_spark.operators.parallelism import ensure_min_parallelism


def _orders(spark, sf_dir):
    """orders scan widened before the Arrow-batched Newton solve — a
    single compressed parquet split would serialize the whole numeric
    kernel on one core (the same rationale as datapipe._docs)."""
    return ensure_min_parallelism(load_table(spark, sf_dir, "orders"))

_CF = "(CASE WHEN t = n THEN c * 100 + 100 ELSE c * 100 END)"

_W10_ORACLE = rf"""
WITH RECURSIVE bonds AS (
  SELECT o_orderkey,
         CAST(1 + o_orderkey % 20 AS INT) AS n,
         CAST(2 + o_orderkey % 7 AS DOUBLE) / 200.0 AS c,
         60.0 + CAST(o_orderkey * 37 % 800 AS DOUBLE) / 10.0 AS p
  FROM orders
),
it AS (
  -- seed must be DOUBLE: a bare 0.03 literal is DECIMAL(3,2) in DuckDB
  -- and the recursive union would quantize y to 2 decimals
  SELECT o_orderkey, n, c, p, 0 AS k, CAST(0.03 AS DOUBLE) AS y FROM bonds
  UNION ALL
  SELECT o_orderkey, n, c, p, k + 1,
         least(greatest(
           y - (list_sum(list_transform(range(1, n + 1),
                  t -> {_CF} * power(1.0 / (1.0 + y), t))) - p)
             / list_sum(list_transform(range(1, n + 1),
                  t -> -t * {_CF} * power(1.0 / (1.0 + y), t + 1))),
           -0.9), 10.0) AS y
  FROM it WHERE k < 25
),
fin AS (
  SELECT o_orderkey, n, c, p, y,
         list_sum(list_transform(range(1, n + 1),
            t -> {_CF} * power(1.0 / (1.0 + y), t))) AS pv,
         list_sum(list_transform(range(1, n + 1),
            t -> t * {_CF} * power(1.0 / (1.0 + y), t))) AS wsum,
         list_sum(list_transform(range(1, n + 1),
            t -> t * (t + 1) * {_CF} * power(1.0 / (1.0 + y), t))) AS csum
  FROM it WHERE k = 25
)
SELECT o_orderkey,
       ROUND(y * 2.0, 6) + 0.0 AS ytm,
       ROUND(wsum / pv / 2.0, 6) AS mac_dur,
       ROUND(wsum / pv / 2.0 / (1.0 + y), 6) AS mod_dur,
       ROUND(csum * (1.0 / (1.0 + y)) * (1.0 / (1.0 + y)) / pv / 4.0, 6)
         AS convexity,
       ROUND(pv - p, 6) + 0.0 AS pv_residual
FROM fin
"""


@register("w10_bond_analytics", oracle=_W10_ORACLE)
def w10_bond_analytics(spark, sf_dir):
    """W10: price → yield/duration/convexity for synthetic level-coupon
    bonds (1–20 semiannual periods, 1–4% per-period coupons, prices
    60–139.9), via the Arrow-batched closed-form engine. Value-hash
    checked against a DuckDB recursive-CTE replay of the same Newton
    iteration."""
    orders = _orders(spark, sf_dir)
    bonds = orders.select(
        "o_orderkey",
        (1 + F.col("o_orderkey") % 20).cast("int").alias("n"),
        ((2 + F.col("o_orderkey") % 7) / 200.0).alias("c"),
        (60.0 + (F.col("o_orderkey") * 37 % 800).cast("double") / 10.0).alias("p"),
    )
    out = bonds.withColumn("r", bond_analytics(F.col("p"), F.col("c"), F.col("n")))
    # `+ 0.0` maps IEEE -0.0 → +0.0 so value hashes agree across engines
    return out.select(
        "o_orderkey",
        (F.round(F.col("r.ytm"), 6) + 0.0).alias("ytm"),
        F.round(F.col("r.mac_dur"), 6).alias("mac_dur"),
        F.round(F.col("r.mod_dur"), 6).alias("mod_dur"),
        F.round(F.col("r.convexity"), 6).alias("convexity"),
        (F.round(F.col("r.pv_residual"), 6) + 0.0).alias("pv_residual"),
    )


_W10C_ORACLE = rf"""
WITH RECURSIVE bonds AS (
  SELECT o_orderkey,
         CAST(CASE o_orderkey % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
                                  WHEN 2 THEN 4 ELSE 12 END AS INT) AS m,
         CAST((1 + o_orderkey % 10)
              * (CASE o_orderkey % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
                                     WHEN 2 THEN 4 ELSE 12 END) AS INT) AS n,
         CASE WHEN o_orderkey % 5 = 0 THEN CAST(0.0 AS DOUBLE)
              ELSE CAST(2 + o_orderkey % 7 AS DOUBLE)
                   / (100.0 * (CASE o_orderkey % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
                                                   WHEN 2 THEN 4 ELSE 12 END))
         END AS c,
         60.0 + CAST(o_orderkey * 37 % 800 AS DOUBLE) / 10.0 AS p
  FROM orders
),
it AS (
  SELECT o_orderkey, m, n, c, p, 0 AS k, CAST(0.03 AS DOUBLE) AS y FROM bonds
  UNION ALL
  SELECT o_orderkey, m, n, c, p, k + 1,
         least(greatest(
           y - (list_sum(list_transform(range(1, n + 1),
                  t -> {_CF} * power(1.0 / (1.0 + y), t))) - p)
             / list_sum(list_transform(range(1, n + 1),
                  t -> -t * {_CF} * power(1.0 / (1.0 + y), t + 1))),
           -0.9), 10.0) AS y
  FROM it WHERE k < 25
),
fin AS (
  SELECT o_orderkey, m, n, c, p, y,
         list_sum(list_transform(range(1, n + 1),
            t -> {_CF} * power(1.0 / (1.0 + y), t))) AS pv,
         list_sum(list_transform(range(1, n + 1),
            t -> t * {_CF} * power(1.0 / (1.0 + y), t))) AS wsum,
         list_sum(list_transform(range(1, n + 1),
            t -> t * (t + 1) * {_CF} * power(1.0 / (1.0 + y), t))) AS csum
  FROM it WHERE k = 25
)
SELECT o_orderkey, m,
       ROUND(y * m, 6) + 0.0 AS ytm,
       ROUND(wsum / pv / m, 6) AS mac_dur,
       ROUND(wsum / pv / m / (1.0 + y), 6) AS mod_dur,
       ROUND(csum * (1.0 / (1.0 + y)) * (1.0 / (1.0 + y)) / pv / (m * m), 6)
         AS convexity,
       ROUND(pv - p, 6) + 0.0 AS pv_residual
FROM fin
"""


@register("w10c_bond_freqs", oracle=_W10C_ORACLE)
def w10c_bond_freqs(spark, sf_dir):
    """W10 depth: the reference's interest_frequency surface — annual /
    semiannual / quarterly / monthly compounding plus zero-coupon rows
    (c = 0, the {0,99} codes), solved by the same engine with per-row
    frequency annualization. Same recursive-CTE oracle, parametrized
    by m."""
    from trace_data_pipeline_spark.operators.bond_math import bond_analytics_freq

    orders = _orders(spark, sf_dir)
    m = (
        F.when(F.col("o_orderkey") % 4 == 0, 1)
        .when(F.col("o_orderkey") % 4 == 1, 2)
        .when(F.col("o_orderkey") % 4 == 2, 4)
        .otherwise(12)
        .cast("int")
    )
    bonds = orders.select(
        "o_orderkey",
        m.alias("m"),
        ((1 + F.col("o_orderkey") % 10) * m).cast("int").alias("n"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(0.0))
        .otherwise((2 + F.col("o_orderkey") % 7).cast("double") / (100.0 * m))
        .alias("c"),
        (60.0 + (F.col("o_orderkey") * 37 % 800).cast("double") / 10.0).alias("p"),
    )
    out = bonds.withColumn(
        "r", bond_analytics_freq(F.col("p"), F.col("c"), F.col("n"), F.col("m"))
    )
    return out.select(
        "o_orderkey",
        "m",
        (F.round(F.col("r.ytm"), 6) + 0.0).alias("ytm"),
        F.round(F.col("r.mac_dur"), 6).alias("mac_dur"),
        F.round(F.col("r.mod_dur"), 6).alias("mod_dur"),
        F.round(F.col("r.convexity"), 6).alias("convexity"),
        (F.round(F.col("r.pv_residual"), 6) + 0.0).alias("pv_residual"),
    )


def _dcf_sql(d1: str, d2: str) -> str:
    """DuckDB day-count fraction routed by the `dcb` column — mirrors
    `functions/daycount.py:dcf_by_basis` branch for branch."""
    return f"""CASE dcb
      WHEN '30/360' THEN
        CAST(360 * (year({d2}) - year({d1}))
             + 30 * (month({d2}) - month({d1}))
             + (CASE WHEN day({d2}) = 31
                          AND least(day({d1}), 30) = 30 THEN 30
                     ELSE day({d2}) END
                - least(day({d1}), 30)) AS DOUBLE) / 360.0
      WHEN 'ACT/ACT' THEN
        list_sum(list_transform(
          range(year({d1}), year({d2}) + 1),
          y -> CAST(greatest(0, date_diff('day',
                 greatest({d1}, make_date(y, 1, 1)),
                 least({d2}, make_date(y + 1, 1, 1)))) AS DOUBLE)
               / (CASE WHEN (y % 4 = 0 AND y % 100 != 0) OR y % 400 = 0
                       THEN 366.0 ELSE 365.0 END)))
      WHEN 'ACT/360' THEN
        CAST(date_diff('day', {d1}, {d2}) AS DOUBLE) / 360.0
      ELSE
        CAST(date_diff('day', {d1}, {d2}) AS DOUBLE) / 365.0
    END"""


_BD1 = (
    "CASE WHEN isodow(trade_d + 1) = 6 THEN trade_d + 3 "
    "WHEN isodow(trade_d + 1) = 7 THEN trade_d + 2 ELSE trade_d + 1 END"
)

def _nyse_hols_sql(start_year: int = 2002, end_year: int = 2060) -> str:
    """The NYSE closure list as a DuckDB DATE[] literal — the SAME
    rule-derived list the engine binds (`functions/nyse_calendar.py`),
    so oracle and engine adjust every date identically."""
    from trace_data_pipeline_spark.functions.nyse_calendar import (
        nyse_holidays,
    )

    ds = ", ".join(
        f"DATE '{d.isoformat()}'"
        for d in nyse_holidays(start_year, end_year)
    )
    return f"[{ds}]"


def _bd_sql(x: str) -> str:
    """DuckDB twin of bond_schedule.NpCalendar.is_session: weekday (isodow 1-5)
    and not in the `hol` array carried through the oracle CTEs."""
    return f"(isodow({x}) <= 5 AND NOT list_contains(hol, {x}))"


def _roll_fwd_sql(d: str, steps: int = 6) -> str:
    """First session >= d (NpCalendar.roll_fwd twin): a lazily
    evaluated CASE probe, one holiday lookup on the common weekday."""
    parts = [f"WHEN {_bd_sql(d)} THEN ({d})"]
    for k in range(1, steps + 1):
        parts.append(f"WHEN {_bd_sql(f'({d} + {k})')} THEN ({d} + {k})")
    return "CASE " + " ".join(parts) + f" ELSE ({d} + {steps + 1}) END"


def _roll_bwd_sql(d: str, steps: int = 6) -> str:
    parts = [f"WHEN {_bd_sql(d)} THEN ({d})"]
    for k in range(1, steps + 1):
        parts.append(f"WHEN {_bd_sql(f'({d} - {k})')} THEN ({d} - {k})")
    return "CASE " + " ".join(parts) + f" ELSE ({d} - {steps + 1}) END"


def _adjust_mf_sql(d: str) -> str:
    """ModifiedFollowing (NpCalendar.adjust_mf twin)."""
    fwd = _roll_fwd_sql(d)
    bwd = _roll_bwd_sql(d)
    return (
        f"CASE WHEN month({fwd}) = month({d}) THEN ({fwd})"
        f" ELSE ({bwd}) END"
    )


def _adv_bd_sql(d: str, n: int = 2) -> str:
    """n next-session steps (NpCalendar.advance_bd twin)."""
    out = f"({d})"
    for _ in range(n):
        out = f"({_roll_fwd_sql(f'({out} + 1)')})"
    return out


def _dcf_signed_sql(d1: str, d2: str) -> str:
    """bond_schedule.dcf_basis signed-span twin: ACT/ACT antisymmetric
    extension for reversed spans; the other bases are naturally
    signed."""
    swapped = _dcf_sql(d2, d1)
    return (
        f"CASE WHEN dcb = 'ACT/ACT' AND {d2} < {d1}"
        f" THEN -({swapped}) ELSE ({_dcf_sql(d1, d2)}) END"
    )


def _record_oracle_tail() -> str:
    """Shared solver tail for the quantlib-model record oracles
    (w10e grid-regular, w10j dated-schedule): per-period steps,
    accrued/paid, remaining-flow times/amounts, the 25-step
    recursive Newton, and the gated 9-output select. Consumes a
    CTE chain ending in `dd` with columns (o_orderkey, p, c_pct,
    dcb, maturity, settle, valid, is_zero, m, hol, nn, D)."""
    return rf"""stp AS MATERIALIZED (
  SELECT *,
    CASE WHEN nn >= 1 THEN
      list_transform(range(1, nn + 1), i -> ({_dcf_sql('D[i]', 'D[i+1]')}))
    END AS sl
  FROM dd
),
cn AS MATERIALIZED (
  SELECT *,
    CASE WHEN D IS NOT NULL
         THEN len(list_filter(D, d -> d <= settle)) END AS cnt
  FROM stp
),
af AS MATERIALIZED (
  SELECT *, greatest(cnt, 1) AS cntc,
    CASE WHEN cnt IS NOT NULL THEN
      ({_dcf_signed_sql('D[greatest(cnt, 1)]', 'settle')})
    END AS accfrac
  FROM cn
),
acc AS MATERIALIZED (
  SELECT *,
    CASE WHEN is_zero THEN CAST(0.0 AS DOUBLE)
         ELSE c_pct * greatest(accfrac, 0.0) END AS acclast_r,
    CASE WHEN is_zero THEN CAST(0.0 AS DOUBLE)
         ELSE c_pct * coalesce(
           list_sum(list_slice(sl, 1, greatest(cnt - 1, 0))), 0.0)
         END AS accpmt_r,
    CASE WHEN nn IS NOT NULL THEN nn - cntc + 1 END AS rr
  FROM af
),
rem AS MATERIALIZED (
  SELECT *,
    CASE WHEN rr >= 1 THEN list_slice(sl, cntc, nn) END AS remst,
    CASE WHEN is_zero THEN ({_adjust_mf_sql('maturity')}) END AS z_pay
  FROM acc
),
arr AS MATERIALIZED (
  SELECT *,
    CASE WHEN valid AND is_zero AND z_pay > settle
           THEN [CAST(({_dcf_sql('settle', 'z_pay')}) AS DOUBLE)]
         WHEN valid AND NOT is_zero AND rr >= 1 THEN
           list_transform(range(1, rr + 1),
             j -> list_sum(list_slice(remst, 1, j)) - accfrac)
    END AS ts,
    CASE WHEN valid AND is_zero AND z_pay > settle
           THEN [CAST(100.0 AS DOUBLE)]
         WHEN valid AND NOT is_zero AND rr >= 1 THEN
           list_transform(range(1, rr + 1),
             j -> c_pct * remst[j]
                  + (CASE WHEN j = rr THEN 100.0 ELSE 0.0 END))
    END AS cfs,
    p + acclast_r AS pd
  FROM rem
),
it AS (
  SELECT o_orderkey, m, pd, ts, cfs, len(ts) AS n, 0 AS k,
         CAST(0.06 AS DOUBLE) / m AS x
  FROM arr WHERE ts IS NOT NULL AND len(ts) >= 1
  UNION ALL
  SELECT o_orderkey, m, pd, ts, cfs, n, k + 1,
         least(greatest(
           x - (list_sum(list_transform(range(1, n + 1),
                  i -> cfs[i] * power(1.0 + x, -(ts[i] * m)))) - pd)
             / list_sum(list_transform(range(1, n + 1),
                  i -> -(ts[i] * m) * cfs[i]
                       * power(1.0 + x, -(ts[i] * m) - 1.0))),
           -0.9), 10.0) AS x
  FROM it WHERE k < 25
),
fin AS (
  SELECT o_orderkey, m, n, pd, ts, cfs, x,
         list_sum(list_transform(range(1, n + 1),
            i -> cfs[i] * power(1.0 + x, -(ts[i] * m)))) AS pv,
         list_sum(list_transform(range(1, n + 1),
            i -> ts[i] * cfs[i] * power(1.0 + x, -(ts[i] * m)))) AS wsum,
         list_sum(list_transform(range(1, n + 1),
            i -> ts[i] * (ts[i] + 1.0 / m) * cfs[i]
                 * power(1.0 + x, -(ts[i] * m)))) AS csum
  FROM it WHERE k = 25
),
conv AS (
  -- the reference's try/except RuntimeError -> all-NaN contract: a
  -- row whose Newton fit did not converge yields NULL analytics
  SELECT *, (abs(pv - pd) <= 1e-6) AS ok FROM fin
)
SELECT a.o_orderkey,
       CASE WHEN f.ok THEN ROUND(f.x * f.m, 6) + 0.0 END AS ytm,
       CASE WHEN f.ok
            THEN ROUND(a.pd + (f.pv - a.pd) - a.acclast_r, 6) END
         AS prclean,
       CASE WHEN f.ok THEN ROUND(a.pd + (f.pv - a.pd), 6) END AS prfull,
       CASE WHEN f.ok THEN ROUND(a.acclast_r, 6) END AS acclast,
       CASE WHEN f.ok THEN ROUND(a.accpmt_r, 6) END AS accpmt,
       CASE WHEN f.ok THEN ROUND(a.acclast_r + a.accpmt_r, 6) END
         AS accall,
       CASE WHEN f.ok THEN ROUND(f.wsum / f.pv, 6) END AS mac_dur,
       CASE WHEN f.ok THEN ROUND(f.wsum / f.pv / (1.0 + f.x), 6) END
         AS mod_dur,
       CASE WHEN f.ok
            THEN ROUND(f.csum / ((1.0 + f.x) * (1.0 + f.x)) / f.pv, 6)
         END AS convexity
FROM arr a
LEFT JOIN conv f ON a.o_orderkey = f.o_orderkey
"""


def _w10e_oracle() -> str:
    """DuckDB replay of the r16 quantlib-model attach_full_record:
    NYSE-calendar T+2 settlement, ModifiedFollowing-adjusted backward
    schedule, per-flow rate*dcf coupon amounts, stepwise per-flow
    times, and the identical fixed 25-step Newton (list algebra, same
    t-sequential accumulation as the Arrow solver). Every chain CTE is
    AS MATERIALIZED: DuckDB 1.0's optimizer inlines plain CTEs into
    the recursive member and blows up on the deeply nested calendar
    CASE trees (minutes of planning for 50 rows); materialization
    plans in 0.3 s with identical results."""
    grid = (
        "CAST(maturity - INTERVAL 1 MONTH * (pm * (nn - j)) AS DATE)"
    )
    return rf"""
WITH RECURSIVE base AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 7 = 0 THEN 'Z' ELSE 'F' END AS ctype,
    CASE o_orderkey % 6 WHEN 0 THEN '1' WHEN 1 THEN '2' WHEN 2 THEN '4'
                        WHEN 3 THEN '12' WHEN 4 THEN '0' ELSE '99' END AS ifreq,
    CASE WHEN o_orderkey % 7 = 0 THEN CAST(0.0 AS DOUBLE)
         WHEN o_orderkey % 6 IN (4, 5) AND o_orderkey % 13 = 0
           THEN CAST(0.0 AS DOUBLE)
         WHEN o_orderkey % 11 = 5 THEN CAST(NULL AS DOUBLE)
         ELSE CAST(2 + o_orderkey % 7 AS DOUBLE) END AS c_pct,
    CASE o_orderkey % 4 WHEN 0 THEN '30/360' WHEN 1 THEN 'ACT/ACT'
                        WHEN 2 THEN 'ACT/360' ELSE 'ACT/365' END AS dcb,
    CAST(DATE '2030-06-15'
         + INTERVAL 1 MONTH * CAST(o_orderkey % 120 AS INTEGER) AS DATE)
      AS maturity,
    CAST(84 + 12 * (o_orderkey % 10) AS INTEGER) AS hist_m,
    DATE '2024-01-01' + CAST(o_orderkey % 365 AS INTEGER) AS trade_d,
    60.0 + CAST(o_orderkey * 37 % 800 AS DOUBLE) / 10.0 AS p,
    {_nyse_hols_sql()}::DATE[] AS hol
  FROM orders
),
st AS MATERIALIZED (SELECT *, ({_adv_bd_sql('trade_d', 2)}) AS settle FROM base),
cls AS MATERIALIZED (
  SELECT *,
    -- missing coupon takes the zero branch below par, exactly like
    -- coupon == 0 (GetNewVarsPy: `x.coupon == 0 or np.isnan(x.coupon)`)
    (ctype = 'Z' OR (ctype = 'F' AND (c_pct = 0.0 OR c_pct IS NULL)
                     AND p < 100.0)) AS is_zero,
    CASE ifreq WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '4' THEN 4
               WHEN '12' THEN 12
               ELSE (CASE WHEN c_pct > 0 THEN 2 ELSE NULL END) END AS m_c
  FROM st
),
par0 AS MATERIALIZED (
  SELECT *,
    (dcb IN ('30/360', '', 'ACT/ACT', 'ACT/360', 'ACT/365', 'ACT/366')
     AND settle < maturity
     AND (is_zero OR (ctype = 'F' AND c_pct > 0 AND m_c IS NOT NULL)))
      AS valid,
    CASE WHEN is_zero THEN 1 ELSE m_c END AS m,
    CASE WHEN is_zero THEN NULL ELSE 12 // m_c END AS pm
  FROM cls
),
nsch AS MATERIALIZED (
  SELECT *,
    CASE WHEN valid AND NOT is_zero THEN hist_m // pm END AS nn
  FROM par0
),
dd AS MATERIALIZED (
  SELECT *,
    CASE WHEN nn IS NOT NULL THEN
      list_transform(range(0, nn + 1), j -> {_adjust_mf_sql(grid)})
    END AS D
  FROM nsch
),
""" + _record_oracle_tail()


_W10E_ORACLE = _w10e_oracle()


def _w10j_oracle() -> str:
    """DuckDB replay of the dated-schedule quantlib record: backward
    generation from the REAL dated date (J by candidate probe off the
    calendar month distance), short-first-stub prepend with the
    ModifiedFollowing-collapse dedupe, then the shared solver tail."""
    gridj = (
        "CAST(maturity - INTERVAL 1 MONTH * (pm * (jj - j)) AS DATE)"
    )
    return rf"""
WITH RECURSIVE base AS MATERIALIZED (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 13 = 0 THEN 'Z' ELSE 'F' END AS ctype,
    CASE o_orderkey % 4 WHEN 0 THEN '2' WHEN 1 THEN '4'
                        WHEN 2 THEN '12' ELSE '1' END AS ifreq,
    CASE o_orderkey % 4 WHEN 0 THEN 6 WHEN 1 THEN 3
                        WHEN 2 THEN 1 ELSE 12 END AS pm0,
    CASE WHEN o_orderkey % 13 = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE CAST(2 + o_orderkey % 7 AS DOUBLE) END AS c_pct,
    CASE CAST(o_orderkey // 4 AS INTEGER) % 4
         WHEN 0 THEN '30/360' WHEN 1 THEN 'ACT/ACT'
         WHEN 2 THEN 'ACT/360' ELSE 'ACT/365' END AS dcb,
    CAST(DATE '2027-02-10'
         + INTERVAL 1 MONTH * CAST(o_orderkey % 96 AS INTEGER) AS DATE)
      AS maturity,
    CAST(3 + o_orderkey % 10 AS INTEGER) AS n_per,
    60.0 + CAST(o_orderkey * 37 % 797 AS DOUBLE) / 10.0 AS p,
    {_nyse_hols_sql()}::DATE[] AS hol
  FROM orders
),
dt0 AS MATERIALIZED (
  SELECT *,
    CAST(CAST(maturity - INTERVAL 1 MONTH * (pm0 * n_per) AS DATE)
         - CAST(o_orderkey * 13 % 71 AS INTEGER) AS DATE) AS dated
  FROM base
),
tr AS MATERIALIZED (
  SELECT *,
    dated + CAST(o_orderkey * 17 %
      greatest(date_diff('day', dated, maturity) - 10, 5) AS INTEGER)
      AS trade_d
  FROM dt0
),
st AS MATERIALIZED (SELECT *, ({_adv_bd_sql('trade_d', 2)}) AS settle FROM tr),
cls AS MATERIALIZED (
  SELECT *,
    (ctype = 'Z' OR (ctype = 'F' AND (c_pct = 0.0 OR c_pct IS NULL)
                     AND p < 100.0)) AS is_zero,
    CASE ifreq WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '4' THEN 4
               WHEN '12' THEN 12
               ELSE (CASE WHEN c_pct > 0 THEN 2 ELSE NULL END) END AS m_c
  FROM st
),
par0 AS MATERIALIZED (
  SELECT *,
    (dcb IN ('30/360', '', 'ACT/ACT', 'ACT/360', 'ACT/365', 'ACT/366')
     AND settle < maturity
     AND (is_zero OR (ctype = 'F' AND c_pct > 0 AND m_c IS NOT NULL)))
      AS valid,
    CASE WHEN is_zero THEN 1 ELSE m_c END AS m,
    CASE WHEN is_zero THEN NULL ELSE 12 // m_c END AS pm
  FROM cls
),
nsch0 AS MATERIALIZED (
  SELECT *,
    (year(maturity) * 12 + month(maturity))
      - (year(dated) * 12 + month(dated)) AS mm
  FROM par0
),
nsch AS MATERIALIZED (
  SELECT *,
    CASE WHEN valid AND NOT is_zero THEN
      list_max(list_filter(
        [greatest(mm // pm - 1, 0), greatest(mm // pm, 0), mm // pm + 1],
        j -> CAST(maturity - INTERVAL 1 MONTH * (pm * j) AS DATE)
             >= dated))
    END AS jj
  FROM nsch0
),
dd1 AS MATERIALIZED (
  SELECT *,
    CASE WHEN jj IS NOT NULL THEN
      list_transform(range(0, jj + 1), j -> {_adjust_mf_sql(gridj)})
    END AS grid,
    CASE WHEN jj IS NOT NULL THEN
      (CAST(maturity - INTERVAL 1 MONTH * (pm * jj) AS DATE) = dated)
    END AS on_grid,
    CASE WHEN jj IS NOT NULL THEN ({_adjust_mf_sql('dated')}) END
      AS adj_dated
  FROM nsch
),
dd AS MATERIALIZED (
  SELECT * EXCLUDE (grid, on_grid, adj_dated),
    CASE WHEN jj IS NULL THEN NULL
         WHEN on_grid OR adj_dated = grid[1] THEN grid
         ELSE list_prepend(adj_dated, grid) END AS D,
    CAST(CASE WHEN jj IS NULL THEN NULL
              WHEN on_grid OR adj_dated = grid[1] THEN jj
              ELSE jj + 1 END AS INTEGER) AS nn
  FROM dd1
),
""" + _record_oracle_tail()


_W10J_ORACLE = _w10j_oracle()


@register("w10j_dated_schedule_record", oracle=_W10J_ORACLE)
def w10j_dated_schedule_record(spark, sf_dir):
    """W10 with the reference's REAL schedule contract (r16): the
    record parameterized by an actual DATED DATE — `ql.Schedule(dated,
    maturity, Period(freq), NYSE, ModifiedFollowing, ModifiedFollowing,
    Backward, False)` (`stage1/helper_functions.py:125-152`) — instead
    of a grid-regular history length. Most grid rows put the dated
    date OFF the coupon grid (random day offsets up to 70 days), so
    the backward generation prepends a SHORT FIRST STUB whose coupon
    pays rate*dcf(dated, first_cpn); the per-flow amounts model prices
    it natively (the stub is just the first period's day-count step),
    with the same NYSE-calendar settlement and per-date
    ModifiedFollowing adjustment as w10e. Zero-coupon rows (k%13)
    exercise the Z branch through the same chain.

    This is the column surface a FISD row actually carries — a user
    can feed (dated_date, maturity, coupon, basis, frequency, price,
    trade date) straight from the reference's step-4 output. Exact vs
    the QuantLib contract on all 9 outputs including stubs x holidays
    x all four bases (test_reference_differential.py::
    test_w10_dated_schedule_matches_contract). Plan shape identical
    to w10e: one scan, zero key shuffles, zero joins."""
    from trace_data_pipeline_spark.operators.bond_record import (
        RECORD_COLS,
        attach_full_record,
    )

    orders = _orders(spark, sf_dir)
    k = F.col("o_orderkey")
    pm0 = (
        F.when(k % 4 == 0, 6)
        .when(k % 4 == 1, 3)
        .when(k % 4 == 2, 1)
        .otherwise(12)
        .cast("int")
    )
    base = orders.select(
        "o_orderkey",
        F.when(k % 13 == 0, "Z").otherwise("F").alias("ctype"),
        F.when(k % 4 == 0, "2")
        .when(k % 4 == 1, "4")
        .when(k % 4 == 2, "12")
        .otherwise("1")
        .alias("ifreq"),
        F.when(k % 13 == 0, F.lit(0.0))
        .otherwise((2 + k % 7).cast("double"))
        .alias("c_pct"),
        F.when(F.floor(k / 4) % 4 == 0, "30/360")
        .when(F.floor(k / 4) % 4 == 1, "ACT/ACT")
        .when(F.floor(k / 4) % 4 == 2, "ACT/360")
        .otherwise("ACT/365")
        .alias("dcb"),
        F.add_months(
            F.lit("2027-02-10").cast("date"), (k % 96).cast("int")
        ).alias("maturity"),
        (3 + k % 10).cast("int").alias("n_per"),
        pm0.alias("pm0"),
        (60.0 + (k * 37 % 797).cast("double") / 10.0).alias("p"),
    )
    dd = base.withColumn(
        "dated",
        F.date_sub(
            F.add_months(
                "maturity", (-F.col("pm0") * F.col("n_per")).cast("int")
            ),
            (k * 13 % 71).cast("int"),
        ),
    )
    tr = dd.withColumn(
        "trade_d",
        F.date_add(
            "dated",
            (
                k * 17
                % F.greatest(
                    F.datediff("maturity", "dated") - 10, F.lit(5)
                )
            ).cast("int"),
        ),
    )
    return attach_full_record(tr, dated="dated").select(
        "o_orderkey", *RECORD_COLS
    )



@register("w10e_full_record", oracle=_W10E_ORACLE)
def w10e_full_record(spark, sf_dir):
    """W10 unified: the reference's full 9-output analytics record
    (`stage1/helper_functions.py:44-255` GetNewVarsPy) in ONE call —
    ytm, prclean, prfull, acclast, accpmt, accall, mac_dur, mod_dur,
    convexity — with per-row day_count_basis routing (30/360, ACT/ACT,
    ACT/360, ACT/365), per-row interest_frequency (1/2/4/12, plus the
    0/99 missing codes defaulting to semiannual when coupon > 0),
    coupon_type Z / zero-eligible-F zero-coupon handling (annual
    compounding, single flow), and the bond-None → all-null contract
    for F bonds with no coupon priced at/above par.

    r16: the default model is QuantLib-faithful end to end — T+2
    settlement advanced over the NYSE HOLIDAY calendar
    (ql.UnitedStates(NYSE).advance, helper_functions.py:74), every
    schedule date ModifiedFollowing-adjusted against it (:125-152),
    per-flow rate*dcf coupon amounts (FixedRateLeg — not the uniform
    rate/m quote convention), stepwise per-flow discount times.
    Contract-exact on all 9 outputs across all four bases including
    holiday-moved dates (tests/test_reference_differential.py).

    Spark shape: the whole schedule — calendar adjustment, per-period
    day-count steps, prefix-sum times — is array column algebra over
    one projection (the holiday list is a literal array bound once,
    never a join); the solver is one Arrow-batched pandas UDF over the
    per-flow (times, amounts) arrays. One scan, zero KEY shuffles,
    zero joins (plan-guarded; the only exchange ever present is
    _orders' small-file round-robin widening, a no-op on a
    production-width scan). The oracle replays the identical
    arithmetic in DuckDB (recursive-CTE Newton, list-algebra
    schedule, same holiday literal)."""
    from trace_data_pipeline_spark.operators.bond_record import (
        RECORD_COLS,
        attach_full_record,
    )

    orders = _orders(spark, sf_dir)
    k = F.col("o_orderkey")
    base = orders.select(
        "o_orderkey",
        F.when(k % 7 == 0, "Z").otherwise("F").alias("ctype"),
        F.when(k % 6 == 0, "1")
        .when(k % 6 == 1, "2")
        .when(k % 6 == 2, "4")
        .when(k % 6 == 3, "12")
        .when(k % 6 == 4, "0")
        .otherwise("99")
        .alias("ifreq"),
        F.when(k % 7 == 0, F.lit(0.0))
        .when((k % 6).isin(4, 5) & (k % 13 == 0), F.lit(0.0))
        # r15: MISSING coupons exercise the reference's np.isnan branch
        # (below par -> zero-coupon bond; at/above par -> all-null)
        .when(k % 11 == 5, F.lit(None).cast("double"))
        .otherwise((2 + k % 7).cast("double"))
        .alias("c_pct"),
        F.when(k % 4 == 0, "30/360")
        .when(k % 4 == 1, "ACT/ACT")
        .when(k % 4 == 2, "ACT/360")
        .otherwise("ACT/365")
        .alias("dcb"),
        F.add_months(
            F.lit("2030-06-15").cast("date"), (k % 120).cast("int")
        ).alias("maturity"),
        (84 + 12 * (k % 10)).cast("int").alias("hist_m"),
        F.date_add(
            F.lit("2024-01-01").cast("date"), (k % 365).cast("int")
        ).alias("trade_d"),
        (60.0 + (k * 37 % 800).cast("double") / 10.0).alias("p"),
    )
    return attach_full_record(base).select("o_orderkey", *RECORD_COLS)


_CFR = "(CASE WHEN t = nn THEN c * 100 + red ELSE c * 100 END)"

_W10F_ORACLE = rf"""
WITH RECURSIVE bonds AS (
  SELECT o_orderkey,
         CAST(1 + o_orderkey % 20 AS INT) AS n,
         CAST(2 + o_orderkey % 7 AS DOUBLE) / 200.0 AS c,
         60.0 + CAST(o_orderkey * 37 % 800 AS DOUBLE) / 10.0 AS p,
         (o_orderkey % 3 = 0 AND 1 + o_orderkey % 20 >= 4) AS is_call,
         CAST((1 + o_orderkey % 20) // 2 AS INT) AS n_call,
         CAST(100.0 + (o_orderkey % 5) * 0.5 AS DOUBLE) AS call_p
  FROM orders
),
legs AS (
  SELECT o_orderkey, 'M' AS leg, n AS nn, c, p,
         CAST(100.0 AS DOUBLE) AS red
  FROM bonds
  UNION ALL
  SELECT o_orderkey, 'C', n_call, c, p, call_p FROM bonds WHERE is_call
),
it AS (
  SELECT o_orderkey, leg, nn, c, p, red, 0 AS k, CAST(0.03 AS DOUBLE) AS y
  FROM legs
  UNION ALL
  SELECT o_orderkey, leg, nn, c, p, red, k + 1,
         least(greatest(
           y - (list_sum(list_transform(range(1, nn + 1),
                  t -> {_CFR} * power(1.0 / (1.0 + y), t))) - p)
             / list_sum(list_transform(range(1, nn + 1),
                  t -> -t * {_CFR} * power(1.0 / (1.0 + y), t + 1))),
           -0.9), 10.0) AS y
  FROM it WHERE k < 25
),
fin AS (
  SELECT o_orderkey, leg, y,
         list_sum(list_transform(range(1, nn + 1),
            t -> {_CFR} * power(1.0 / (1.0 + y), t))) - p AS resid
  FROM it WHERE k = 25
),
piv AS (
  SELECT b.o_orderkey, b.is_call,
         m.y * 2.0 AS ytm_r,
         cl.y * 2.0 AS ytc_r,
         b.is_call AND abs(cl.resid) <= 1e-6 AS v_call
  FROM bonds b
  JOIN fin m  ON m.o_orderkey = b.o_orderkey AND m.leg = 'M'
  LEFT JOIN fin cl ON cl.o_orderkey = b.o_orderkey AND cl.leg = 'C'
)
SELECT o_orderkey,
       CAST(is_call AS INT) AS is_callable,
       ROUND(ytm_r, 6) + 0.0 AS ytm,
       CASE WHEN v_call THEN ROUND(ytc_r, 6) + 0.0 END AS ytc,
       ROUND(CASE WHEN v_call THEN least(ytm_r, ytc_r) ELSE ytm_r END, 6)
         + 0.0 AS ytw
FROM piv
"""


@register("w10f_yield_to_worst", oracle=_W10F_ORACLE)
def w10f_yield_to_worst(spark, sf_dir):
    """W10 callable-schedule corner: yield-to-worst from a call
    schedule, not just the `callable` flag. The reference downloads
    `fisd.fisd_mergedredemption` but consumes only `callable = 'Y'`
    (`stage1/stage1_pipeline.py:806-812`, merged at `:904-921`); a
    user pricing callables needs the schedule itself. Here each
    callable bond carries its next call (period n_call, call price
    call_p); yield-to-call reuses the SAME Newton engine with the
    redemption amount swapped from par to the call price and the
    schedule truncated at the call period, and
    ytw = min(ytm, ytc) — the standard to-worst convention over a
    single next-call exercise date.

    Economics the goldens pin: a premium callable (price > call
    price) has ytc < ytm → ytw = ytc; a discount callable has
    ytc > ytm → ytw = ytm.

    Spark shape: one scan, one projection, two Arrow-batched solver
    calls (maturity leg + call leg) — zero shuffles, zero joins;
    pipelines with any input partitioning at 100 TB. The oracle
    replays both legs in one recursive CTE (a leg = (nn, red) pair)
    and pivots."""
    from trace_data_pipeline_spark.operators.bond_math import (
        bond_analytics,
        bond_analytics_red,
    )

    orders = _orders(spark, sf_dir)
    k = F.col("o_orderkey")
    n = (1 + k % 20).cast("int")
    bonds = orders.select(
        "o_orderkey",
        n.alias("n"),
        ((2 + k % 7) / 200.0).alias("c"),
        (60.0 + (k * 37 % 800).cast("double") / 10.0).alias("p"),
        ((k % 3 == 0) & (n >= 4)).alias("is_call"),
        (n / 2).cast("int").alias("n_call"),
        (100.0 + (k % 5) * 0.5).alias("call_p"),
    )
    solved = bonds.withColumn(
        "rm", bond_analytics(F.col("p"), F.col("c"), F.col("n"))
    ).withColumn(
        "rc",
        bond_analytics_red(
            F.col("p"),
            F.col("c"),
            # n_call = 0 on non-callable rows -> solver NaN row, masked
            # below; keeps the call-leg UDF one unconditional batch
            F.when(F.col("is_call"), F.col("n_call")).otherwise(F.lit(0)),
            F.col("call_p"),
        ),
    )
    v_call = F.col("is_call") & (F.abs(F.col("rc.pv_residual")) <= 1e-6)
    return solved.select(
        "o_orderkey",
        F.col("is_call").cast("int").alias("is_callable"),
        (F.round(F.col("rm.ytm"), 6) + 0.0).alias("ytm"),
        F.when(v_call, F.round(F.col("rc.ytm"), 6) + 0.0).alias("ytc"),
        (
            F.round(
                F.when(v_call, F.least(F.col("rm.ytm"), F.col("rc.ytm")))
                .otherwise(F.col("rm.ytm")),
                6,
            )
            + 0.0
        ).alias("ytw"),
    )


_W10G_ORACLE = rf"""
WITH RECURSIVE bonds AS (
  SELECT o_orderkey,
         CAST(1 + o_orderkey % 20 AS INT) AS n,
         CAST(2 + o_orderkey % 7 AS DOUBLE) / 200.0 AS c,
         60.0 + CAST(o_orderkey * 37 % 800 AS DOUBLE) / 10.0 AS p,
         CASE WHEN 1 + o_orderkey % 20 >= 4
              THEN CAST(o_orderkey % 3 AS INT) ELSE 0 END AS n_calls
  FROM orders
),
legs AS (
  SELECT o_orderkey, 'M' AS leg, n AS nn, c, p,
         CAST(100.0 AS DOUBLE) AS red
  FROM bonds
  UNION ALL
  SELECT o_orderkey, 'C1', CAST(greatest(1, n // (n_calls + 1)) AS INT),
         c, p, CAST(100.0 + ((o_orderkey + 1) % 5) * 0.5 AS DOUBLE)
  FROM bonds WHERE n_calls >= 1
  UNION ALL
  SELECT o_orderkey, 'C2', CAST(greatest(1, (2 * n) // (n_calls + 1)) AS INT),
         c, p, CAST(100.0 + ((o_orderkey + 2) % 5) * 0.5 AS DOUBLE)
  FROM bonds WHERE n_calls >= 2
),
it AS (
  SELECT o_orderkey, leg, nn, c, p, red, 0 AS k, CAST(0.03 AS DOUBLE) AS y
  FROM legs
  UNION ALL
  SELECT o_orderkey, leg, nn, c, p, red, k + 1,
         least(greatest(
           y - (list_sum(list_transform(range(1, nn + 1),
                  t -> {_CFR} * power(1.0 / (1.0 + y), t))) - p)
             / list_sum(list_transform(range(1, nn + 1),
                  t -> -t * {_CFR} * power(1.0 / (1.0 + y), t + 1))),
           -0.9), 10.0) AS y
  FROM it WHERE k < 25
),
fin AS (
  SELECT o_orderkey, leg, y * 2.0 AS yld,
         abs(list_sum(list_transform(range(1, nn + 1),
            t -> {_CFR} * power(1.0 / (1.0 + y), t))) - p) <= 1e-6 AS ok
  FROM it WHERE k = 25
),
grp AS (
  SELECT f.o_orderkey, b.n_calls,
         MAX(CASE WHEN f.leg = 'M' THEN f.yld END) AS ytm_r,
         MIN(CASE WHEN f.ok THEN f.yld END) AS ytw_r,
         MIN(CASE WHEN f.ok AND f.leg <> 'M' THEN f.yld END) AS ytc_r
  FROM fin f JOIN bonds b USING (o_orderkey)
  GROUP BY 1, 2
)
SELECT o_orderkey, n_calls,
       ROUND(ytm_r, 6) + 0.0 AS ytm,
       CASE WHEN n_calls >= 1 THEN ROUND(ytc_r, 6) + 0.0 END AS ytc_worst,
       ROUND(ytw_r, 6) + 0.0 AS ytw,
       CAST(CASE WHEN n_calls >= 1 AND ytc_r < ytm_r THEN 1 ELSE 0 END
            AS INTEGER) AS worst_is_call
FROM grp
"""


@register("w10g_yield_to_worst_schedule", oracle=_W10G_ORACLE)
def w10g_yield_to_worst_schedule(spark, sf_dir):
    """W10 schedule completion: yield-to-worst over a VARIABLE-LENGTH
    call schedule — the full `fisd_mergedredemption` semantics (a bond
    carries 0..N future calls, each a (date, price) row; the reference
    consumes only the `callable` flag, `stage1_pipeline.py:806-812`).
    w10f is the bounded single-next-call case and stays columnar
    (zero shuffles); THIS is the general shape for schedules whose
    width is data-dependent:

        legs = explode(maturity leg + one leg per future call)
        -> ONE Arrow-batched Newton solve over the legs frame
        -> hash re-group on the bond key: ytm (maturity leg),
           ytc_worst (min over converged call legs), ytw (min over
           all converged legs), worst_is_call.

    One legs-sized shuffle total (<= (N+1) x fact rows), solver runs
    once over everything, aggregates are numeric min/max — no
    SortAggregate, no join back. At 100 TB the explode inherits the
    scan partitioning and the regroup is the only exchange.

    Schedule synthesis: bonds with >= 4 periods carry key-derived 0/1/2
    calls at periods i*n//(n_calls+1), call prices 100 + 0-2 points.
    Non-convergent legs are excluded from the min per the reference's
    per-bond NaN contract."""
    from trace_data_pipeline_spark.operators.bond_math import bond_analytics_red

    orders = _orders(spark, sf_dir)
    k = F.col("o_orderkey")
    n = (1 + k % 20).cast("int")
    n_calls = F.when(n >= 4, (k % 3).cast("int")).otherwise(F.lit(0))
    leg = lambda nn, red, tag, cond: F.when(  # noqa: E731
        cond,
        F.struct(
            nn.cast("int").alias("nn"),
            red.alias("red"),
            F.lit(tag).alias("leg"),
        ),
    )
    bonds = orders.select(
        "o_orderkey",
        n.alias("n"),
        n_calls.alias("n_calls"),
        ((2 + k % 7) / 200.0).alias("c"),
        (60.0 + (k * 37 % 800).cast("double") / 10.0).alias("p"),
        F.filter(
            F.array(
                leg(n, F.lit(100.0), "M", F.lit(True)),
                leg(
                    F.greatest(F.lit(1), (n / (n_calls + 1)).cast("int")),
                    100.0 + ((k + 1) % 5) * 0.5,
                    "C1",
                    n_calls >= 1,
                ),
                leg(
                    F.greatest(F.lit(1), (2 * n / (n_calls + 1)).cast("int")),
                    100.0 + ((k + 2) % 5) * 0.5,
                    "C2",
                    n_calls >= 2,
                ),
            ),
            lambda x: x.isNotNull(),
        ).alias("legs"),
    )
    legs = bonds.select(
        "o_orderkey", "n_calls", "c", "p", F.explode("legs").alias("lg")
    )
    solved = legs.withColumn(
        "r",
        bond_analytics_red(
            F.col("p"), F.col("c"), F.col("lg.nn"), F.col("lg.red")
        ),
    )
    ok = F.abs(F.col("r.pv_residual")) <= 1e-6
    grp = solved.groupBy("o_orderkey").agg(
        F.max("n_calls").alias("n_calls"),
        F.max(F.when(F.col("lg.leg") == "M", F.col("r.ytm"))).alias("ytm_r"),
        F.min(F.when(ok, F.col("r.ytm"))).alias("ytw_r"),
        F.min(
            F.when(ok & (F.col("lg.leg") != "M"), F.col("r.ytm"))
        ).alias("ytc_r"),
    )
    nc = F.col("n_calls")
    return grp.select(
        "o_orderkey",
        nc.alias("n_calls"),
        (F.round("ytm_r", 6) + 0.0).alias("ytm"),
        F.when(nc >= 1, F.round("ytc_r", 6) + 0.0).alias("ytc_worst"),
        (F.round("ytw_r", 6) + 0.0).alias("ytw"),
        F.when(
            (nc >= 1) & (F.col("ytc_r") < F.col("ytm_r")), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("worst_is_call"),
    )


# Symmetric with the engine's _sums kernel (np.where(t == n, coup +
# red, ...)): redemption at t = n even when n = 1 (a single-flow bond
# pays cf1 + 100). Unreachable today — the synthesis pins n = n_hist +
# 1 >= 3 — but the oracle fragment must not diverge if reused (r10
# ADVICE).
_CFH = (
    "(CASE WHEN t = n THEN (CASE WHEN t = 1 THEN cf1 ELSE c * 100 END) + 100"
    " WHEN t = 1 THEN cf1 ELSE c * 100 END)"
)

_W10H_ORACLE = rf"""
WITH RECURSIVE base AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 2 = 0 THEN 2 ELSE 4 END AS m,
    CASE WHEN o_orderkey % 2 = 0 THEN 6 ELSE 3 END AS pm,
    CAST(2 + o_orderkey % 7 AS DOUBLE) AS c_pct,
    CASE o_orderkey % 4 WHEN 0 THEN '30/360' WHEN 1 THEN 'ACT/ACT'
                        WHEN 2 THEN 'ACT/360' ELSE 'ACT/365' END AS dcb,
    CAST(2 + o_orderkey % 8 AS INTEGER) AS n_hist,
    CAST(DATE '2032-06-15'
         + INTERVAL 1 MONTH * CAST(o_orderkey % 48 AS INTEGER) AS DATE)
      AS maturity,
    CASE WHEN o_orderkey % 11 = 0 THEN 0
         ELSE CAST(1 + o_orderkey % 80 AS INTEGER) END AS d_off,
    60.0 + CAST(o_orderkey * 37 % 800 AS DOUBLE) / 10.0 AS p
  FROM orders
),
grid AS (
  SELECT *,
    CAST(maturity - INTERVAL 1 MONTH * (pm * n_hist) AS DATE) AS first_cpn,
    CAST(maturity - INTERVAL 1 MONTH * (pm * (n_hist + 1)) AS DATE)
      AS prev_grid
  FROM base
),
dd AS (
  SELECT *, prev_grid + d_off AS dated FROM grid
),
ss AS (
  SELECT *,
    dated + CAST(((o_orderkey % 7)
                  * date_diff('day', dated, first_cpn)) // 8
                 AS INTEGER) AS settle
  FROM dd
),
par AS (
  SELECT o_orderkey, m, p,
    CAST(n_hist + 1 AS INTEGER) AS n,
    c_pct / (100.0 * m) AS c,
    c_pct * ({_dcf_sql('dated', 'first_cpn')}) AS cf1,
    c_pct * ({_dcf_sql('dated', 'settle')}) AS acclast_r,
    (({_dcf_sql('dated', 'first_cpn')}) - ({_dcf_sql('dated', 'settle')}))
      / ({_dcf_sql('prev_grid', 'first_cpn')}) AS q,
    ({_dcf_sql('dated', 'first_cpn')})
      / ({_dcf_sql('prev_grid', 'first_cpn')}) AS stub_frac_r
  FROM ss
),
parf AS (
  SELECT *, p + acclast_r AS pd FROM par
),
it AS (
  SELECT o_orderkey, m, n, c, cf1, q, pd, 0 AS k,
         CAST(0.06 AS DOUBLE) / m AS y
  FROM parf
  UNION ALL
  SELECT o_orderkey, m, n, c, cf1, q, pd, k + 1,
         least(greatest(
           y - (list_sum(list_transform(range(1, n + 1),
                  t -> {_CFH} * power(1.0 / (1.0 + y),
                                      CAST(t AS DOUBLE) - 1.0 + q))) - pd)
             / list_sum(list_transform(range(1, n + 1),
                  t -> -(CAST(t AS DOUBLE) - 1.0 + q) * {_CFH}
                       * power(1.0 / (1.0 + y), CAST(t AS DOUBLE) + q))),
           -0.9), 10.0) AS y
  FROM it WHERE k < 25
),
fin AS (
  SELECT o_orderkey, m, q, pd, y,
         list_sum(list_transform(range(1, n + 1),
            t -> {_CFH} * power(1.0 / (1.0 + y),
                                CAST(t AS DOUBLE) - 1.0 + q))) AS pv,
         list_sum(list_transform(range(1, n + 1),
            t -> (CAST(t AS DOUBLE) - 1.0 + q) * {_CFH}
                 * power(1.0 / (1.0 + y),
                         CAST(t AS DOUBLE) - 1.0 + q))) AS wsum,
         list_sum(list_transform(range(1, n + 1),
            t -> (CAST(t AS DOUBLE) - 1.0 + q) * (CAST(t AS DOUBLE) + q)
                 * {_CFH}
                 * power(1.0 / (1.0 + y),
                         CAST(t AS DOUBLE) - 1.0 + q))) AS csum
  FROM it WHERE k = 25
),
conv AS (SELECT *, (abs(pv - pd) <= 1e-6) AS ok FROM fin)
SELECT pf.o_orderkey,
       ROUND(pf.stub_frac_r, 6) AS stub_frac,
       CASE WHEN f.ok THEN ROUND(f.y * f.m, 6) + 0.0 END AS ytm,
       CASE WHEN f.ok THEN ROUND(pf.acclast_r, 6) + 0.0 END AS acclast,
       CASE WHEN f.ok THEN ROUND(f.pd + (f.pv - f.pd), 6) END AS prfull,
       CASE WHEN f.ok THEN ROUND(f.wsum / f.pv / f.m, 6) END AS mac_dur,
       CASE WHEN f.ok THEN ROUND(f.wsum / f.pv / f.m / (1.0 + f.y), 6) END
         AS mod_dur,
       CASE WHEN f.ok
            THEN ROUND(f.csum * (1.0 / (1.0 + f.y)) * (1.0 / (1.0 + f.y))
                       / f.pv / (f.m * f.m), 6) END AS convexity
FROM parf pf LEFT JOIN conv f USING (o_orderkey)
"""


@register("w10h_odd_first_coupon", oracle=_W10H_ORACLE)
def w10h_odd_first_coupon(spark, sf_dir):
    """W10 odd-first-coupon fidelity (the last QuantLib-schedule corner;
    reference: backward `ql.Schedule` in
    `stage1/helper_functions.py:125-152` produces a short first coupon
    whenever maturity - dated_date is not an integer period count):
    synthetic bonds whose dated date sits 0-80 days past the backward
    grid point, settled INSIDE the irregular first period.

    Convention (documented, symmetric with the oracle): the odd first
    coupon pays coupon_rate x dcf(dated, first_cpn) per 100 under the
    bond's day-count basis (regular periods pay rate/m); accrued at
    settlement runs from the DATED date, not a virtual grid coupon;
    discounting keeps the regular period grid with the stub entering as
    the fractional offset q = (dcf(dated, first_cpn) -
    dcf(dated, settle)) / dcf(regular
    period). Rows with d_off = 0 (k % 11 == 0) are deliberately
    ON-grid: under 30/360 the record then degenerates exactly to the
    regular bond_analytics_frac path (golden-pinned in
    tests/test_bond_math.py).

    Spark shape: the entire schedule derivation (grid, stub, day-count
    routing, accrued) is codegen'd column algebra on one projection;
    the only Python is the same Arrow-batched Newton solve with the
    first-flow override. One scan, zero KEY shuffles, zero joins — the
    only exchange ever present is _orders' small-file round-robin
    widening, a no-op on a production-width scan."""
    from trace_data_pipeline_spark.functions.daycount import dcf_by_basis
    from trace_data_pipeline_spark.operators.bond_math import (
        bond_analytics_stub,
    )

    orders = _orders(spark, sf_dir)
    k = F.col("o_orderkey")
    m = F.when(k % 2 == 0, 2).otherwise(4).cast("int")
    pm = F.when(k % 2 == 0, 6).otherwise(3).cast("int")
    base = orders.select(
        "o_orderkey",
        m.alias("m"),
        pm.alias("pm"),
        (2 + k % 7).cast("double").alias("c_pct"),
        F.when(k % 4 == 0, "30/360")
        .when(k % 4 == 1, "ACT/ACT")
        .when(k % 4 == 2, "ACT/360")
        .otherwise("ACT/365")
        .alias("dcb"),
        (2 + k % 8).cast("int").alias("n_hist"),
        F.add_months(
            F.lit("2032-06-15").cast("date"), (k % 48).cast("int")
        ).alias("maturity"),
        F.when(k % 11 == 0, 0)
        .otherwise((1 + k % 80).cast("int"))
        .alias("d_off"),
        (60.0 + (k * 37 % 800).cast("double") / 10.0).alias("p"),
    )
    grid = base.withColumn(
        "first_cpn",
        F.add_months("maturity", -(F.col("pm") * F.col("n_hist"))),
    ).withColumn(
        "prev_grid",
        F.add_months("maturity", -(F.col("pm") * (F.col("n_hist") + 1))),
    )
    dd = grid.withColumn("dated", F.date_add("prev_grid", F.col("d_off")))
    ss = dd.withColumn(
        "settle",
        F.date_add(
            "dated",
            F.floor(
                (F.col("o_orderkey") % 7)
                * F.datediff("first_cpn", "dated")
                / 8
            ).cast("int"),
        ),
    )
    basis = F.col("dcb")
    par = (
        ss.withColumn("n", (F.col("n_hist") + 1).cast("int"))
        .withColumn("c", F.col("c_pct") / (100.0 * F.col("m")))
        .withColumn(
            "cf1",
            F.col("c_pct")
            * dcf_by_basis(basis, F.col("dated"), F.col("first_cpn")),
        )
        .withColumn(
            "acclast_r",
            F.col("c_pct")
            * dcf_by_basis(basis, F.col("dated"), F.col("settle")),
        )
        .withColumn(
            # QuantLib stepwise first-flow time: dcf(dated, first_cpn)
            # - dcf(dated, settle) (the complement form; NOT
            # dcf(settle, first_cpn), which deviates under 30/360 when
            # settlement lands on day 29-31 — r15 contract differential)
            "q",
            (
                dcf_by_basis(basis, F.col("dated"), F.col("first_cpn"))
                - dcf_by_basis(basis, F.col("dated"), F.col("settle"))
            )
            / dcf_by_basis(basis, F.col("prev_grid"), F.col("first_cpn")),
        )
        .withColumn(
            "stub_frac_r",
            dcf_by_basis(basis, F.col("dated"), F.col("first_cpn"))
            / dcf_by_basis(basis, F.col("prev_grid"), F.col("first_cpn")),
        )
        .withColumn("pd", F.col("p") + F.col("acclast_r"))
    )
    solved = par.withColumn(
        "r",
        bond_analytics_stub(
            F.col("pd"),
            F.col("c"),
            F.col("n"),
            F.col("m"),
            F.col("q"),
            F.col("cf1"),
        ),
    )
    ok = F.abs(F.col("r.pv_residual")) <= 1e-6
    return solved.select(
        "o_orderkey",
        F.round("stub_frac_r", 6).alias("stub_frac"),
        F.when(ok, F.round(F.col("r.ytm"), 6) + 0.0).alias("ytm"),
        F.when(ok, F.round(F.col("acclast_r"), 6) + 0.0).alias("acclast"),
        F.when(
            ok, F.round(F.col("pd") + F.col("r.pv_residual"), 6)
        ).alias("prfull"),
        F.when(ok, F.round(F.col("r.mac_dur"), 6)).alias("mac_dur"),
        F.when(ok, F.round(F.col("r.mod_dur"), 6)).alias("mod_dur"),
        F.when(ok, F.round(F.col("r.convexity"), 6)).alias("convexity"),
    )


_W10I_ORACLE = rf"""
WITH RECURSIVE base AS (
  SELECT o_orderkey,
    CASE o_orderkey % 3 WHEN 0 THEN 6 WHEN 1 THEN 3 ELSE 1 END AS pm,
    CASE o_orderkey % 3 WHEN 0 THEN 2 WHEN 1 THEN 4 ELSE 12 END AS m,
    CAST(4 + o_orderkey % 20 AS INTEGER) AS n_hist,
    CASE CAST(o_orderkey // 3 AS INTEGER) % 3
         WHEN 0 THEN 'ACT/ACT' WHEN 1 THEN 'ACT/360'
         ELSE 'ACT/365' END AS dcb,
    CAST(2 + o_orderkey % 7 AS DOUBLE) AS c_pct,
    CAST(DATE '2024-01-15'
         + INTERVAL 1 MONTH * CAST(o_orderkey % 24 AS INTEGER) AS DATE)
      AS dated,
    60.0 + CAST(o_orderkey * 37 % 800 AS DOUBLE) / 10.0 AS p
  FROM orders
),
mat AS (
  SELECT *,
    CAST(dated + INTERVAL 1 MONTH * (pm * n_hist) AS DATE) AS maturity,
    dated + CAST(o_orderkey * 13 % (pm * n_hist * 28) AS INTEGER)
      AS trade_d
  FROM base
),
st0 AS (SELECT *, ({_BD1}) AS s1 FROM mat),
st AS (
  SELECT * EXCLUDE (s1),
         CASE WHEN isodow(s1 + 1) = 6 THEN s1 + 3
              WHEN isodow(s1 + 1) = 7 THEN s1 + 2 ELSE s1 + 1 END AS settle
  FROM st0
),
sched AS (
  SELECT *,
    list_max(list_filter(
      list_transform(range(0, 251),
        j -> CAST(maturity - INTERVAL 1 MONTH * (pm * j) AS DATE)),
      d -> d <= settle)) AS last_cpn,
    list_min(list_filter(
      list_transform(range(0, 251),
        j -> CAST(maturity - INTERVAL 1 MONTH * (pm * j) AS DATE)),
      d -> d > settle)) AS next_cpn
  FROM st
),
par AS (
  SELECT *,
    ((year(maturity) - year(last_cpn)) * 12
      + (month(maturity) - month(last_cpn))) // pm AS n,
    ({_dcf_sql('last_cpn', 'next_cpn')})
      - ({_dcf_sql('last_cpn', 'settle')}) AS t1,
    c_pct * ({_dcf_sql('last_cpn', 'settle')}) AS acclast_r,
    c_pct * ({_dcf_sql('dated', 'last_cpn')}) AS accpmt_r
  FROM sched
),
arr AS (
  SELECT o_orderkey, m, n, p, acclast_r, accpmt_r,
         p + acclast_r AS pd,
         CASE WHEN n >= 1 THEN list_transform(range(1, n + 1),
           i -> t1 + ({_dcf_sql('next_cpn',
             "CAST(maturity - INTERVAL 1 MONTH * (pm * (n - i)) AS DATE)")}))
         END AS ts,
         CASE WHEN n >= 1 THEN list_transform(range(1, n + 1),
           i -> c_pct * ({_dcf_sql(
             "CAST(maturity - INTERVAL 1 MONTH * (pm * (n - i + 1)) AS DATE)",
             "CAST(maturity - INTERVAL 1 MONTH * (pm * (n - i)) AS DATE)")})
                + (CASE WHEN i = n THEN 100.0 ELSE 0.0 END))
         END AS cfs
  FROM par
),
it AS (
  SELECT o_orderkey, m, n, pd, ts, cfs, 0 AS k,
         CAST(0.06 AS DOUBLE) / m AS x
  FROM arr WHERE n >= 1
  UNION ALL
  SELECT o_orderkey, m, n, pd, ts, cfs, k + 1,
         least(greatest(
           x - (list_sum(list_transform(range(1, n + 1),
                  i -> cfs[i] * power(1.0 + x, -(ts[i] * m)))) - pd)
             / list_sum(list_transform(range(1, n + 1),
                  i -> -(ts[i] * m) * cfs[i]
                       * power(1.0 + x, -(ts[i] * m) - 1.0))),
           -0.9), 10.0) AS x
  FROM it WHERE k < 25
),
fin AS (
  SELECT o_orderkey, m, n, pd, x,
         list_sum(list_transform(range(1, n + 1),
            i -> cfs[i] * power(1.0 + x, -(ts[i] * m)))) AS pv,
         list_sum(list_transform(range(1, n + 1),
            i -> ts[i] * cfs[i] * power(1.0 + x, -(ts[i] * m)))) AS wsum,
         list_sum(list_transform(range(1, n + 1),
            i -> ts[i] * (ts[i] + 1.0 / m) * cfs[i]
                 * power(1.0 + x, -(ts[i] * m)))) AS csum
  FROM it WHERE k = 25
),
conv AS (SELECT *, (abs(pv - pd) <= 1e-6) AS ok FROM fin)
SELECT a.o_orderkey,
       CASE WHEN f.ok THEN ROUND(f.x * f.m, 6) + 0.0 END AS ytm,
       CASE WHEN f.ok
            THEN ROUND(f.pd + (f.pv - f.pd) - a.acclast_r, 6) END AS prclean,
       CASE WHEN f.ok THEN ROUND(f.pd + (f.pv - f.pd), 6) END AS prfull,
       CASE WHEN f.ok THEN ROUND(a.acclast_r, 6) END AS acclast,
       CASE WHEN f.ok THEN ROUND(a.accpmt_r, 6) END AS accpmt,
       CASE WHEN f.ok THEN ROUND(a.acclast_r + a.accpmt_r, 6) END AS accall,
       CASE WHEN f.ok THEN ROUND(f.wsum / f.pv, 6) END AS mac_dur,
       CASE WHEN f.ok THEN ROUND(f.wsum / f.pv / (1.0 + f.x), 6) END
         AS mod_dur,
       CASE WHEN f.ok
            THEN ROUND(f.csum / ((1.0 + f.x) * (1.0 + f.x)) / f.pv, 6) END
         AS convexity
FROM arr a
LEFT JOIN conv f USING (o_orderkey)
"""


@register("w10i_act_exact_record", oracle=_W10I_ORACLE)
def w10i_act_exact_record(spark, sf_dir):
    """W10 ACT-exact record (r15): the QuantLib-faithful pricing model
    for ACT day-count bases — per-flow coupon amounts rate x
    dcf(accrual start, end) (QuantLib's FixedRateLeg under ACT/ACT
    ISDA / ACT/360 / ACT/365, NOT the uniform rate/m quote convention
    of w10e) and per-flow stepwise times, closed-form under ACT
    additivity: t_i = [dcf(last, next) - dcf(last, settle)] +
    dcf(next, d_i). Closes the ACT gap the r15 contract differential
    measured on w10e (|Δytm| up to 1e-2 there; EXACT here, pinned by
    test_reference_differential.py::test_w10i_act_exact_matches_
    quantlib_contract). r16 scope note: w10e's default model now
    subsumes this fidelity AND adds the NYSE holiday calendar; w10i
    stays on the weekend-roll contract its differential pins — it
    exists to prove the CLOSED-FORM ACT-additive schedule algebra
    (no per-row date array), the plan you'd pick at 100 TB when the
    basis is known ACT. Reference: `stage1/helper_functions.py:44-255`
    builds exactly these legs via ql.FixedRateBond.

    Spark shape: the whole schedule — bracket probe, per-flow date
    grid, day-count arrays — is codegen'd column algebra (nested
    higher-order functions); one Arrow-batched Newton solve over the
    (times, amounts) arrays; one scan, zero key shuffles, zero joins.
    The DuckDB oracle replays the identical list algebra."""
    from trace_data_pipeline_spark.functions.daycount import (
        add_business_days,
        coupon_bracket,
        dcf_by_basis,
    )
    from trace_data_pipeline_spark.operators.bond_math import (
        bond_analytics_times,
    )

    orders = _orders(spark, sf_dir)
    k = F.col("o_orderkey")
    pm = (
        F.when(k % 3 == 0, 6).when(k % 3 == 1, 3).otherwise(1).cast("int")
    )
    m = (
        F.when(k % 3 == 0, 2).when(k % 3 == 1, 4).otherwise(12).cast("int")
    )
    base = orders.select(
        "o_orderkey",
        pm.alias("pm"),
        m.alias("m"),
        (4 + k % 20).cast("int").alias("n_hist"),
        F.when(F.floor(k / 3) % 3 == 0, "ACT/ACT")
        .when(F.floor(k / 3) % 3 == 1, "ACT/360")
        .otherwise("ACT/365")
        .alias("dcb"),
        (2 + k % 7).cast("double").alias("c_pct"),
        F.add_months(
            F.lit("2024-01-15").cast("date"), (k % 24).cast("int")
        ).alias("dated"),
        (60.0 + (k * 37 % 800).cast("double") / 10.0).alias("p"),
    )
    mat = base.withColumn(
        "maturity", F.add_months("dated", F.col("pm") * F.col("n_hist"))
    ).withColumn(
        "trade_d",
        F.date_add(
            "dated",
            (k * 13 % (F.col("pm") * F.col("n_hist") * 28)).cast("int"),
        ),
    )
    st = mat.withColumn("settle", add_business_days(F.col("trade_d"), 2))
    last_cpn, next_cpn = coupon_bracket(
        F.col("settle"), F.col("maturity"), F.col("pm"), max_periods=250
    )
    basis = F.col("dcb")
    sched = st.withColumn("last_cpn", last_cpn).withColumn(
        "next_cpn", next_cpn
    )
    months_left = (F.year("maturity") - F.year("last_cpn")) * 12 + (
        F.month("maturity") - F.month("last_cpn")
    )
    par = (
        sched.withColumn("n", (months_left / F.col("pm")).cast("int"))
        .withColumn(
            "t1",
            dcf_by_basis(basis, F.col("last_cpn"), F.col("next_cpn"))
            - dcf_by_basis(basis, F.col("last_cpn"), F.col("settle")),
        )
        .withColumn(
            "acclast_r",
            F.col("c_pct")
            * dcf_by_basis(basis, F.col("last_cpn"), F.col("settle")),
        )
        .withColumn(
            "accpmt_r",
            F.col("c_pct")
            * dcf_by_basis(basis, F.col("dated"), F.col("last_cpn")),
        )
        .withColumn("pd", F.col("p") + F.col("acclast_r"))
    )

    def _grid_date(i):
        return F.add_months(
            F.col("maturity"), -(F.col("pm") * (F.col("n") - i))
        )

    arr = par.withColumn(
        "ts",
        F.when(
            F.col("n") >= 1,
            F.transform(
                F.sequence(F.lit(1), F.col("n")),
                lambda i: F.col("t1")
                + dcf_by_basis(basis, F.col("next_cpn"), _grid_date(i)),
            ),
        ),
    ).withColumn(
        "cfs",
        F.when(
            F.col("n") >= 1,
            F.transform(
                F.sequence(F.lit(1), F.col("n")),
                lambda i: F.col("c_pct")
                * dcf_by_basis(basis, _grid_date(i - 1), _grid_date(i))
                + F.when(i == F.col("n"), F.lit(100.0)).otherwise(0.0),
            ),
        ),
    )
    solved = arr.withColumn(
        "r",
        bond_analytics_times(
            F.col("pd"), F.col("m"), F.col("ts"), F.col("cfs")
        ),
    )
    ok = (F.col("n") >= 1) & (F.abs(F.col("r.pv_residual")) <= 1e-6)
    return solved.select(
        "o_orderkey",
        F.when(ok, F.round(F.col("r.ytm"), 6) + 0.0).alias("ytm"),
        F.when(
            ok,
            F.round(
                F.col("pd") + F.col("r.pv_residual") - F.col("acclast_r"), 6
            ),
        ).alias("prclean"),
        F.when(ok, F.round(F.col("pd") + F.col("r.pv_residual"), 6)).alias(
            "prfull"
        ),
        F.when(ok, F.round(F.col("acclast_r"), 6)).alias("acclast"),
        F.when(ok, F.round(F.col("accpmt_r"), 6)).alias("accpmt"),
        F.when(
            ok, F.round(F.col("acclast_r") + F.col("accpmt_r"), 6)
        ).alias("accall"),
        F.when(ok, F.round(F.col("r.mac_dur"), 6)).alias("mac_dur"),
        F.when(ok, F.round(F.col("r.mod_dur"), 6)).alias("mod_dur"),
        F.when(ok, F.round(F.col("r.convexity"), 6)).alias("convexity"),
    )
