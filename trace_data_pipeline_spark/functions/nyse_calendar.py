"""NYSE trading calendar from the published holiday rules — any year
range (the 2002 → 2030 defaults mirror the reference's TRACE sample
span, not a data limit; `w11b_modified_following` oracle-pins a
2029–2032 grid).

The reference resolves sessions with `pandas_market_calendars`' NYSE
calendar (`stage0/create_daily_enhanced_trace.py:1397-1456`). That
package isn't available here, and a 100 TB engine shouldn't need it:
the NYSE full-day closure schedule is public and rule-based, so this
module derives it from the rules plus the short list of ad-hoc
closures (funerals, Hurricane Sandy) — no dependency, no data file.

Rules (NYSE rule 7.2 holiday schedule, public knowledge):
- New Year's Day Jan 1 (Sun → observed Mon; Sat → NOT observed — the
  exchange does not move it to the prior Friday, e.g. 2022);
- Martin Luther King Jr. Day: 3rd Monday of January;
- Washington's Birthday: 3rd Monday of February;
- Good Friday: 2 days before Easter Sunday (Gregorian computus);
- Memorial Day: last Monday of May;
- Juneteenth June 19, observed by NYSE from 2022 (Sat → Fri, Sun → Mon);
- Independence Day July 4 (Sat → Fri, Sun → Mon);
- Labor Day: 1st Monday of September;
- Thanksgiving: 4th Thursday of November;
- Christmas Dec 25 (Sat → Fri, Sun → Mon).

Sessions = weekdays minus holidays minus special closures. Everything
is driver-side date arithmetic over a bounded range (a few thousand
dates), surfaced to Spark as a literal-backed DataFrame that joins
broadcast-side — the calendar is a dimension, never a fact.
"""

from __future__ import annotations

import datetime as dt

# Ad-hoc full-day closures since 2002 (public record): presidential
# funerals (Reagan, Ford, G.H.W. Bush, Carter) and Hurricane Sandy.
SPECIAL_CLOSURES: frozenset[dt.date] = frozenset(
    {
        dt.date(2004, 6, 11),
        dt.date(2007, 1, 2),
        dt.date(2012, 10, 29),
        dt.date(2012, 10, 30),
        dt.date(2018, 12, 5),
        dt.date(2025, 1, 9),
    }
)


def easter_sunday(year: int) -> dt.date:
    """Gregorian Easter (anonymous/Meeus computus — pure arithmetic)."""
    a = year % 19
    b, c = divmod(year, 100)
    d, e = divmod(b, 4)
    f = (b + 8) // 25
    g = (b - f + 1) // 3
    h = (19 * a + b - d - g + 15) % 30
    i, k = divmod(c, 4)
    l = (32 + 2 * e + 2 * i - h - k) % 7
    m = (a + 11 * h + 22 * l) // 451
    month, day = divmod(h + l - 7 * m + 114, 31)
    return dt.date(year, month, day + 1)


def _nth_weekday(year: int, month: int, weekday: int, n: int) -> dt.date:
    """n-th (1-based) given weekday (Mon=0) of a month."""
    first = dt.date(year, month, 1)
    offset = (weekday - first.weekday()) % 7
    return first + dt.timedelta(days=offset + 7 * (n - 1))


def _last_weekday(year: int, month: int, weekday: int) -> dt.date:
    nxt = dt.date(year + (month == 12), month % 12 + 1, 1)
    last = nxt - dt.timedelta(days=1)
    return last - dt.timedelta(days=(last.weekday() - weekday) % 7)


def _observed(d: dt.date, saturday_to_friday: bool = True) -> dt.date | None:
    """Weekend-observation shift; None = not observed that year."""
    if d.weekday() == 5:  # Saturday
        return d - dt.timedelta(days=1) if saturday_to_friday else None
    if d.weekday() == 6:  # Sunday
        return d + dt.timedelta(days=1)
    return d


def nyse_holidays(start_year: int = 2002, end_year: int = 2030) -> list[dt.date]:
    """Sorted full-day NYSE closures (rule holidays + special closures)
    for the inclusive year range."""
    out: set[dt.date] = set()
    for y in range(start_year, end_year + 1):
        # New Year's: Saturday -> not observed at all
        ny = _observed(dt.date(y, 1, 1), saturday_to_friday=False)
        if ny is not None:
            out.add(ny)
        out.add(_nth_weekday(y, 1, 0, 3))  # MLK (3rd Mon Jan)
        out.add(_nth_weekday(y, 2, 0, 3))  # Washington (3rd Mon Feb)
        out.add(easter_sunday(y) - dt.timedelta(days=2))  # Good Friday
        out.add(_last_weekday(y, 5, 0))  # Memorial (last Mon May)
        if y >= 2022:
            jt = _observed(dt.date(y, 6, 19))
            if jt is not None:
                out.add(jt)
        jul4 = _observed(dt.date(y, 7, 4))
        if jul4 is not None:
            out.add(jul4)
        out.add(_nth_weekday(y, 9, 0, 1))  # Labor (1st Mon Sep)
        out.add(_nth_weekday(y, 11, 3, 4))  # Thanksgiving (4th Thu Nov)
        xmas = _observed(dt.date(y, 12, 25))
        if xmas is not None:
            out.add(xmas)
    out |= {
        d for d in SPECIAL_CLOSURES if start_year <= d.year <= end_year
    }
    return sorted(out)


def nyse_sessions(start: dt.date, end: dt.date) -> list[dt.date]:
    """Trading sessions (weekdays minus closures) in [start, end]."""
    hols = set(nyse_holidays(start.year, end.year))
    d, out = start, []
    while d <= end:
        if d.weekday() < 5 and d not in hols:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def nyse_sessions_df(spark, start: dt.date, end: dt.date):
    """Session calendar as a Spark DataFrame (session_date date) built
    JVM-side: one sequence expansion filtered by weekday and the
    literal holiday list. Dimension-sized — made to sit on the
    broadcast side of F9 semi-joins / w11 settlement interval joins."""
    from pyspark.sql import functions as F

    hols = [
        d.isoformat() for d in nyse_holidays(start.year, end.year)
        if start <= d <= end
    ]
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start.isoformat()).cast("date"),
                F.lit(end.isoformat()).cast("date"),
            )
        ).alias("session_date")
    )
    out = days.filter(~F.dayofweek("session_date").isin(1, 7))
    if hols:
        out = out.filter(~F.col("session_date").isin(hols))
    return out


def business_days_per_month_from_bounds(bounds, lo: str = "lo", hi: str = "hi"):
    """Weekday (Mon–Fri) count per calendar month over [lo, hi] — the
    quality report's expected-sessions denominator
    (`stage1/helper_functions.py:1783-1812`,
    compute_business_days_per_month). The reference counts
    pd.bdate_range(freq='B') days: PLAIN weekdays, no holiday calendar
    — deliberately distinct from nyse_sessions. The span comes from a
    1-ROW DataFrame of (lo, hi) dates, not driver-side literals: the
    sequence expands distributively off the aggregate, so callers need
    no `.collect()` round-trip for the bounds (r14 verdict item 8: the
    r10 bounds collect re-scanned the fact table at 100 TB). Bounded by
    the date span, never by data size."""
    from pyspark.sql import functions as F

    days = bounds.select(
        F.explode(F.sequence(F.col(lo), F.col(hi))).alias("d")
    )
    wd = F.dayofweek("d")
    return (
        days.filter((wd >= 2) & (wd <= 6))
        .groupBy(F.date_format("d", "yyyy-MM").alias("year_month"))
        .agg(F.count(F.lit(1)).alias("business_days"))
    )
