"""Skew-mitigation operators: salted aggregation and hot/cold split joins.

At 100 TB a handful of hot keys (a benchmark CUSIP, an empty-string
id) can pin one reducer while the rest of the cluster idles. AQE's
skew-join handling covers sort-merge joins; these helpers cover the
two cases it doesn't: a skewed AGGREGATION key, and a skewed join
whose hot keys fit in a broadcast slice of the small side.

Both are semantics-preserving rewrites:
- salted_aggregate: pre-aggregate on (keys, salt) — splitting each hot
  key across `salts` reducers — then finish on keys. Valid for any
  algebraic aggregate (sum/count/min/max).
- skewed_key_split_join: hot-key rows join a broadcast slice of the
  small side, the long tail takes the normal shuffle join.

Salts are derived from row content (hash), never rand() — task retries
must produce identical salts or shuffle replay breaks.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, salts: int, from_cols: Sequence[str] | None = None) -> DataFrame:
    """Deterministic salt column in [0, salts): hash of the given (or
    all) columns — stable under task retry, unlike rand().

    Limit of content-derived salts (round-12 review): FULL-DUPLICATE
    rows hash identically and land in ONE salt bucket, so a hot key
    whose rows are byte-identical copies stays pinned to a single
    reducer. When rows can duplicate, include a unique discriminator
    (an event id, a file offset) in `from_cols`; a rand() salt is NOT
    the fix — shuffle replay after a task retry would re-salt rows
    differently and double-count/drop them."""
    cols = [F.col(c) for c in (from_cols or df.columns)]
    return df.withColumn("__salt", F.pmod(F.hash(*cols), F.lit(salts)))


# Spark accepts several aliases per join type; normalize before
# checking big-side preservation ('semi' and 'left_semi' are the same
# join and must both pass the guard).
_BIG_SIDE_PRESERVING = {"inner", "left", "leftouter", "semi", "leftsemi", "anti", "leftanti"}


def _is_big_side_preserving(how: str) -> bool:
    return how.lower().replace("_", "") in _BIG_SIDE_PRESERVING


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    salts: int = 16,
) -> DataFrame:
    """Two-stage skew-proof aggregation. `aggs` maps output column →
    (input column, fn) with fn in {sum, count, min, max}.

    count re-aggregates as sum in the final stage; the others are
    idempotent under re-aggregation."""
    partial_exprs = []
    final_exprs = []
    for out, (col, fn) in aggs.items():
        if fn == "count":
            partial_exprs.append(F.count(F.col(col)).alias(out))
            final_exprs.append(F.sum(F.col(out)).alias(out))
        elif fn in ("sum", "min", "max"):
            partial_exprs.append(getattr(F, fn)(F.col(col)).alias(out))
            final_exprs.append(getattr(F, fn)(F.col(out)).alias(out))
        else:
            raise ValueError(f"non-algebraic aggregate {fn!r} cannot be salted")
    salted = with_salt(df, salts)
    partial = salted.groupBy(*keys, "__salt").agg(*partial_exprs)
    return partial.groupBy(*keys).agg(*final_exprs)


def top_frequent_keys(
    df: DataFrame, keys: Sequence[str], top_n: int = 10
) -> DataFrame:
    """Diagnostic: the heaviest key groups — what you check before
    deciding to salt (or to isolate hot keys into a broadcast path)."""
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    return counts.orderBy(F.col("n_rows").desc()).limit(top_n)


def skewed_key_split_join(
    big: DataFrame,
    small: DataFrame,
    keys: Sequence[str],
    hot_keys: DataFrame,
    how: str = "inner",
) -> DataFrame:
    """Hot/cold split: rows with hot keys join against a broadcast
    slice of the small side; the long tail takes the normal shuffle
    join. Union of the two legs ≡ the plain join — ONLY for
    big-side-preserving joins, hence the guard (round-12 review):
    under 'right'/'full' a small-side row whose hot key matches the big
    side would ALSO surface null-extended from the cold leg, and an
    unmatched hot-key small row would surface from both legs."""
    if not _is_big_side_preserving(how):
        raise ValueError(
            f"skewed_key_split_join cannot preserve the small side: "
            f"how={how!r} would emit small-side rows from both legs; "
            f"use one of {sorted(_BIG_SIDE_PRESERVING)} (Spark aliases "
            "of these, e.g. 'left_semi', are accepted too)"
        )
    key_list = list(keys)
    big_hot = big.join(F.broadcast(hot_keys), key_list, "left_semi")
    big_cold = big.join(F.broadcast(hot_keys), key_list, "left_anti")
    small_hot = small.join(F.broadcast(hot_keys), key_list, "left_semi")
    hot = big_hot.join(F.broadcast(small_hot), key_list, how)
    cold = big_cold.join(small, key_list, how)
    return hot.unionByName(cold)
