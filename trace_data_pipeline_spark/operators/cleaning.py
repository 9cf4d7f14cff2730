"""Dick-Nielsen style cleaning joins (SURVEY.md §2.3 J1–J7).

The reference removes cancelled/corrected/reversed trade reports with
composite-key anti-joins built from concatenated strings
(`stage0/create_daily_enhanced_trace.py:1661-1741`) and SAS-style
sequence matching (`:1912-2057`). Spark expresses all of them as
first-class multi-column left_anti / left_semi joins — no string
concatenation (which would defeat column statistics and waste memory)
— plus row_number windows for the sequence matches.

Scale notes: the removal side (cancels/corrections/reversals) is a few
percent of trades; Catalyst/AQE broadcasts it when small. The keys all
contain the entity id, so pre-partitioning by id co-locates every
cleaning join in one shuffle.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.errors import AnalysisException, PySparkAttributeError
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from trace_data_pipeline_spark.operators.caching import tracked_persist

# Conservative cap for the conditional broadcast of j4's removal-target
# key set: well under Spark's 8 GB broadcast hard limit and a typical
# executor heap, far above any per-chunk corrections volume the
# reference processes (its W frames are a few %% of one day-chunk).
TARGETS_BROADCAST_CAP_BYTES = 256 << 20


def _estimated_bytes(df: DataFrame) -> int | None:
    """The optimizer's plan-statistics size estimate for `df`, or None
    when unavailable. Only meaningful for scan-rooted frames (file
    statistics); derived joins/aggregates inflate multiplicatively and
    must not be fed here. Classic-mode JVM introspection — under Spark
    Connect (no _jdf) and on streaming plans (no batch statistics)
    callers degrade to AQE's runtime join selection rather than failing."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except (AnalysisException, PySparkAttributeError):
        return None


def anti_join_keys(
    df: DataFrame,
    removals: DataFrame,
    keys: Sequence[str] | Mapping[str, str],
    null_safe: bool = True,
) -> DataFrame:
    """J1/J3: drop rows of `df` whose composite key appears in
    `removals`. `keys` may be a mapping {df_col: removals_col} for the
    asymmetric variants (J2: survivors' msg_seq_nb = reversals'
    orig_msg_seq_nb). Null-safe equality mirrors the reference's
    string-concat keys, where NaN became the literal 'nan' and thus
    *did* match.

    The removal side is renamed into reserved columns before the join,
    so self-derived frames (cancels filtered from the same scan) don't
    trip ambiguous-attribute resolution."""
    key_map = {k: k for k in keys} if not isinstance(keys, Mapping) else dict(keys)
    rhs = removals.select(
        *[F.col(rk).alias(f"__rm_{lk}") for lk, rk in key_map.items()]
    ).dropDuplicates()
    op = "eqNullSafe" if null_safe else "__eq__"
    cond = None
    for lk in key_map:
        c = getattr(F.col(lk), op)(F.col(f"__rm_{lk}"))
        cond = c if cond is None else (cond & c)
    return df.join(rhs, cond, "left_anti")


def add_seq(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    seq_col: str = "seq",
    null_keys_null_seq: bool = False,
) -> DataFrame:
    """W5: SAS BY-group sequence number — cumcount+1 per key group
    (`create_daily_standard_trace.py:109-117`). A total `order_by` makes
    it deterministic under shuffle.

    null_keys_null_seq mirrors pandas groupby(dropna=True).cumcount():
    a row with ANY null group key is excluded from every group and its
    sequence is NaN (not a number within the all-nulls partition, which
    is what a plain Spark window would assign)."""
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        *[F.col(c) if isinstance(c, str) else c for c in order_by]
    )
    seq: Column = F.row_number().over(w)
    if null_keys_null_seq:
        import functools
        import operator

        any_null = functools.reduce(
            operator.or_, [F.col(k).isNull() for k in keys]
        )
        seq = F.when(any_null, F.lit(None)).otherwise(seq)
    return df.withColumn(seq_col, seq)


def semi_join_keys(
    df: DataFrame,
    keepers: DataFrame,
    keys: Sequence[str],
    null_safe: bool = True,
) -> DataFrame:
    """Null-safe left_semi twin of anti_join_keys: keep rows of `df`
    whose composite key appears in `keepers` — pd.MultiIndex.isin
    semantics, where a null component matches a null component."""
    rhs = keepers.select(
        *[F.col(k).alias(f"__kp_{k}") for k in keys]
    ).dropDuplicates()
    op = "eqNullSafe" if null_safe else "__eq__"
    cond = None
    for k in keys:
        c = getattr(F.col(k), op)(F.col(f"__kp_{k}"))
        cond = c if cond is None else (cond & c)
    return df.join(rhs, cond, "left_semi")


def sequence_match_removal(
    trades: DataFrame,
    reversals: DataFrame,
    keys: Sequence[str],
    trade_order: Sequence[Column | str],
    reversal_order: Sequence[Column | str],
) -> DataFrame:
    """J5/J6: pair the i-th reversal with the i-th matching trade under
    the composite key, and remove exactly the paired trades
    (`create_daily_enhanced_trace.py:1912-2057`). Both sides get a
    within-group sequence; matched (keys, seq) pairs are removed with a
    left_anti join."""
    t_seq = add_seq(trades, keys, trade_order, "__seq")
    r_seq = add_seq(reversals, keys, reversal_order, "__seq").select(
        *[F.col(k) for k in keys], F.col("__seq")
    )
    survivors = t_seq.join(r_seq, [*keys, "__seq"], "left_anti")
    return survivors.drop("__seq")


def standard_reversal_removal(
    df: DataFrame,
    group_keys: Sequence[str],
    time_col: str,
    msg_col: str,
    join_keys: Sequence[str],
    reversal_pred: Column,
    drop_pred: Column,
) -> DataFrame:
    """J6 for TRACE *Standard* (`create_daily_standard_trace.py:138-268`,
    clean_reversal — SAS steps 4+5): build per-row HEADERS, sequence-
    match the i-th header against the i-th reversal within `group_keys`
    (headers ordered by time then msg, reversals by time), keep the
    DISTINCT `join_keys` of surviving headers, SEMI-JOIN the body back
    on those keys, then full-row DISTINCT.

    This differs from per-row sequence removal exactly when keys
    duplicate: if ANY header of a duplicated join-key survives, EVERY
    body row with that key survives the semi-join (the reference's
    isin-mask readmits them), and literal full-row duplicates then
    collapse to one via the trailing DISTINCT (SAS SELECT DISTINCT).

    NULL keys follow the reference exactly: pandas cumcount gives a
    null-keyed row a NaN sequence (add_seq null_keys_null_seq), the
    header-reversal merge matches NaN==NaN (null-safe anti-join — so a
    null-keyed header IS removed when a null-keyed reversal aligns),
    and the final MultiIndex.isin readmission matches NaN tuples
    (null-safe semi-join — a plain equi-join silently dropped every
    null-keyed body row).

    Scale: both windows and both joins key on `group_keys`/`join_keys`
    (all containing the entity id) — one shuffle partitioning reused;
    the reversal side is small and broadcasts.
    """
    gk = list(group_keys)
    rev = (
        add_seq(
            df.filter(reversal_pred), gk, [time_col], "__seq",
            null_keys_null_seq=True,
        )
        .select(*[F.col(c) for c in gk], F.col("__seq"))
    )
    body = df.filter(~F.coalesce(drop_pred, F.lit(False)))
    header_cols = list(dict.fromkeys([*gk, *join_keys, time_col, msg_col]))
    hdr = add_seq(
        body.select(*header_cols), gk, [time_col, msg_col], "__seq",
        null_keys_null_seq=True,
    )
    surviving = (
        anti_join_keys(hdr, rev, [*gk, "__seq"], null_safe=True)
        .select(*[F.col(c) for c in join_keys])
        .dropDuplicates()
    )
    return semi_join_keys(body, surviving, list(join_keys)).dropDuplicates()


def agency_dedup(
    trades: DataFrame,
    customer_pred: Column,
    sell_pred: Column,
    buy_pred: Column,
    match_keys: Sequence[str],
    aggressive: bool = False,
) -> DataFrame:
    """J7: inter-dealer double-count removal
    (`create_daily_enhanced_trace.py:2061-2229`). Keep customer trades
    and dealer-sells; drop dealer-buys that match a sell on the key set
    (time deliberately excluded from keys). Aggressive mode drops all
    dealer-buys.

    NULL-SAFE: the reference matches via pd.merge (`:2203-2209`), and
    pd.merge DOES treat NaN keys as equal (a NaN-priced buy merges
    'both' against a NaN-priced sell) — null keys ARE reachable here
    because agency cleaning runs before the price screens (`:523` vs
    `:608`), so a dealer-buy with a null price/volume IS dropped when a
    sell shares the null. Pinned by test_j7's deterministic NaN-match
    rows."""
    customer = trades.filter(customer_pred)
    sells = trades.filter(sell_pred)
    buys = trades.filter(buy_pred)
    if aggressive:
        return customer.unionByName(sells)
    unmatched_buys = anti_join_keys(buys, sells, list(match_keys), null_safe=True)
    return customer.unionByName(sells).unionByName(unmatched_buys)


def correction_chain_resolution(
    trades: DataFrame,
    corrections: DataFrame,
    keys: Sequence[str],
    msg_col: str = "msg_seq_nb",
    orig_col: str = "orig_msg_seq_nb",
    pair_keys: Sequence[str] | None = None,
    npair_keys: Sequence[str] | None = None,
    dedup_cols: Sequence[str] | None = None,
) -> DataFrame:
    """J4 (pre-2012 'W' records): resolve chains of corrections where a
    W record may correct another W, replacing matched trades with their
    corrected W rows (`create_daily_enhanced_trace.py:1811-1907`) —
    the reference's napp/ntype/npair procedure, reproduced exactly,
    including its THREE distinct key sets:

    1. unpivot each W into its (msg) and (omsg) roles; count
       appearances napp and distinct roles ntype per sequence number
       within `pair_keys` (the reference's 5-key groupby: cusip,
       bond_sym, date, time, nb). pandas groupby(dropna=True) silently
       drops rows with ANY null group key — reproduced by filtering the
       unpivoted frame to non-null pair keys and nb;
    2. keep numbers with napp==1 OR (napp>1 AND ntype==1) — a number
       seen as BOTH someone's msg and someone's omsg is a chain middle
       and drops out, which is what collapses same-group W→W chains to
       their head;
    3. npair = kept rows per `npair_keys` group / 2 — the reference
       counts WITHOUT bond_sym (cusip, date, time only; `:1857`).
       npair==1 groups pivot BY `pair_keys` to one (msg, omsg) pair
       (so a (cusip,date,time) group spanning two bond_syms pivots to
       TWO rows, each with one null side); npair>1 groups fall back to
       each kept msg's own (msg, orig) pair, re-joined to the W frame
       on `npair_keys` + msg (`:1868-1873` — again no bond_sym, so a
       msg duplicated across bond_syms fans out);
    4. the pairs re-join the W frame for full rows on `npair_keys` +
       msg (`w_clean` drops bond_sym before the merge, `:1879-1883`),
       with pd.merge null-key semantics (null msg matches null msg);
    5. remove trades whose string correction key (keys + msg, where a
       null msg renders as the literal 'nan' and MATCHES, while a null
       in `keys` collapses the whole key to null — which matches other
       null keys via isin) equals some pair row's (keys + orig) key;
       substitute the pair rows whose key matched a trade, deduped on
       `dedup_cols` before the concat.

    `npair_keys` defaults to `pair_keys` (right for callers with no
    bond_sym-like extra pair column); both must contain `keys`, and
    `npair_keys` ⊆ `pair_keys`.

    Deviations from bug-for-bug parity, both order-dependent in the
    reference and not reproducible distributively without an explicit
    order column: (a) the npair==1 pivot uses aggfunc='first' — first
    in W-frame order — reproduced as MIN(nb) per role (identical unless
    two kept numbers share (pair_keys, role) in an npair==1 group AND
    arrive out of ascending order); (b) the final drop_duplicates keeps
    the first duplicate in frame order — reproduced as the row minimal
    on the remaining columns.

    NOTE the reference quirk this reproduces: a W→W chain across two
    DIFFERENT pair groups (e.g. the second W reported at another
    execution time) is NOT collapsed — each W pairs within its own
    group, the trade matches the FIRST W's orig, and the substituted
    row is that intermediate W, while the head W (whose orig points at
    the other W, not at any trade) is dropped as unmatched.

    Scale: three aggregates and four joins, all keyed on subsets of
    (entity, date) — one shuffle partitioning reused throughout; the
    corrections side is small and broadcasts.
    """
    import functools
    import operator

    pk_names = list(pair_keys if pair_keys is not None else keys)
    nk_names = list(npair_keys if npair_keys is not None else pk_names)
    assert set(nk_names) <= set(pk_names), "npair_keys must be ⊆ pair_keys"
    assert set(keys) <= set(nk_names), "keys must be ⊆ npair_keys"
    pk = [F.col(c) for c in pk_names]
    nk = [F.col(c) for c in nk_names]

    msg_side = corrections.select(
        *pk, F.col(msg_col).alias("__nb"), F.lit("msg").alias("__role")
    )
    orig_side = corrections.select(
        *pk, F.col(orig_col).alias("__nb"), F.lit("omsg").alias("__role")
    )
    # pandas groupby(dropna=True): any null group key drops the row
    all_nonnull = functools.reduce(
        operator.and_,
        [F.col(c).isNotNull() for c in pk_names],
        F.col("__nb").isNotNull(),
    )
    combined = msg_side.unionByName(orig_side).filter(all_nonnull)
    counts = combined.groupBy(*pk, F.col("__nb")).agg(
        F.count(F.lit(1)).alias("__napp"),
        F.countDistinct("__role").alias("__ntype"),
    )
    kept_nb = counts.filter(
        (F.col("__napp") == 1) | ((F.col("__napp") > 1) & (F.col("__ntype") == 1))
    ).select(*pk, "__nb")
    # no nulls remain in the keys, so the plain equi-joins below are
    # exactly pd.merge (which matches null keys — unreachable here)
    kept = combined.join(kept_nb, [*pk_names, "__nb"], "inner")
    # npair counts kept rows (both roles) per npair_keys group, halved
    # (`:1857` — WITHOUT the bond_sym-like extra pair columns).
    # (Not persisted: AQE already reuses the aggregation exchange for
    # the two pair branches — measured no gain from materializing it.)
    w_pair = Window.partitionBy(*nk)
    kept = kept.withColumn("__npair", F.count(F.lit(1)).over(w_pair) / F.lit(2))
    # npair == 1: the group collapses to ONE (msg, omsg) pair per
    # pair_keys pivot cell — possibly a row per bond_sym with one null
    # side when the npair group spans several
    pairs1 = (
        kept.filter(F.col("__npair") == 1)
        .groupBy(*pk)
        .agg(
            F.min(F.when(F.col("__role") == "msg", F.col("__nb"))).alias("__pmsg"),
            F.min(F.when(F.col("__role") == "omsg", F.col("__nb"))).alias("__pomsg"),
        )
    )
    # npair > 1: every kept msg-role number keeps its OWN W's orig —
    # re-joined on npair_keys + msg (no bond_sym; duplicate msgs fan out
    # like the reference's pd.merge)
    pairs2 = (
        kept.filter((F.col("__npair") > 1) & (F.col("__role") == "msg"))
        .select(*nk, F.col("__nb").alias("__pmsg"))
        .join(
            corrections.select(
                *nk, F.col(msg_col).alias("__pmsg"), F.col(orig_col).alias("__pomsg")
            ),
            [*nk_names, "__pmsg"],
            "left",
        )
    )
    pairs = pairs1.select(*nk, "__pmsg", "__pomsg").unionByName(
        pairs2.select(*nk, "__pmsg", "__pomsg")
    )
    # full W rows for each pair's msg, joined on npair_keys + msg with
    # pd.merge null semantics (a null pmsg from a bond_sym-split pivot
    # cell matches a null-msg W row). The pair's omsg becomes the
    # substituted row's orig pointer. PERSISTED: w_full feeds THREE
    # consumers (removal targets, the matched-key probe, and the
    # substitution rows) — without materialization each one re-scans
    # the corrections source and recomputes the napp/ntype aggregation
    # chain (8 scans in the j4 plan). At sf0.1 an A/B measured a wash
    # (scans are cheap locally); the persist is kept for the 100 TB
    # posture, where re-deriving corrections from the fact table three
    # times dominates. w_full is |pairs| rows — the corrections' scale,
    # a few % of trades — the smallest frame cutting all three.
    payload = corrections.drop(orig_col)
    rhs = payload.select(
        *[F.col(c).alias(f"__r_{c}") for c in nk_names],
        F.col(msg_col).alias("__r_pmsg"),
        *[F.col(c) for c in payload.columns if c not in {*nk_names, msg_col}],
    )
    join_cond = functools.reduce(
        operator.and_,
        [F.col(c) == F.col(f"__r_{c}") for c in nk_names],
        F.col("__pmsg").eqNullSafe(F.col("__r_pmsg")),
    )
    w_full = tracked_persist(
        pairs.join(rhs, join_cond, "left").drop(
            "__r_pmsg", *[f"__r_{c}" for c in nk_names]
        )
    )

    # the reference's string correction key (`:1885-1893`): cusip + '_'
    # + date + '_' + str(msg). A null msg renders as the literal 'nan'
    # (matches other null msgs); a null cusip/date propagates NaN
    # through the concat, collapsing the WHOLE key to null — and
    # .isin() matches NaN against NaN, so null keys match EACH OTHER
    # regardless of the other components. Reproduced as a single key
    # expression matched with eqNullSafe.
    #
    # Documented deviation (r14 ADVICE item 2, unreachable for the
    # numeric msg ids this key ever carries): pandas renders a NaN msg
    # as the string 'nan' and a None msg as 'None', so in the reference
    # a LITERAL string msg 'nan'/'None' would collide with a null one,
    # and a None-vs-NaN pair renders to two DIFFERENT strings; here the
    # '\x00nan' sentinel keeps literal strings distinct and folds
    # None/NaN together.
    def ckey(msg_expr: Column) -> Column:
        any_null = functools.reduce(
            operator.or_, [F.col(c).isNull() for c in keys]
        )
        return F.when(any_null, F.lit(None).cast("string")).otherwise(
            F.concat_ws(
                "\x1f",
                *[F.col(c).cast("string") for c in keys],
                F.coalesce(msg_expr.cast("string"), F.lit("\x00nan")),
            )
        )

    # targets is a dedup'd key set at the corrections' scale — WITHOUT
    # the hint the planner can't size the post-persist aggregate and
    # falls back to a SortMergeJoin that sort-exchanges the FULL trades
    # side (r14 verdict: j4's only non-broadcast join; the hint removes
    # the one big exchange in this stage). The hint is CONDITIONAL on
    # the optimizer's size estimate for the corrections source (r15
    # ADVICE): targets grows linearly with corrections volume, and an
    # unconditional hint bypasses autoBroadcastJoinThreshold — at the
    # 100 TB design point a TB-scale corrections side would blow the
    # driver / the 8 GB broadcast hard limit. Estimate ≤ cap → hint
    # (local runs and any production slice where corrections stay a
    # few %% of a bounded day-chunk); unknown or above cap → leave the
    # choice to AQE's runtime join selection over the persisted size.
    # The gate reads the CORRECTIONS SOURCE's scan estimate — targets
    # is a deduped single-key projection of it, so source bytes bound
    # target bytes; the derived frame's own estimate is join-inflated
    # garbage (10^2 over-estimates even at test scale).
    corr_bytes = _estimated_bytes(corrections)
    targets = w_full.select(ckey(F.col("__pomsg")).alias("__rmkey")).dropDuplicates()
    if corr_bytes is not None and corr_bytes <= TARGETS_BROADCAST_CAP_BYTES:
        targets = F.broadcast(targets)
    survivors = trades.join(
        targets,
        ckey(F.col(msg_col)).eqNullSafe(F.col("__rmkey")),
        "left_anti",
    )
    # t_keys dedups the TRADES side — trades-scale, never broadcast; the
    # left-semi probe (w_full) is the small side and shuffles cheaply
    t_keys = trades.select(ckey(F.col(msg_col)).alias("__tkey")).dropDuplicates()
    w_to_add = (
        w_full.join(
            t_keys, ckey(F.col("__pomsg")).eqNullSafe(F.col("__tkey")), "left_semi"
        )
        .withColumnRenamed("__pmsg", msg_col)
        .withColumn(orig_col, F.col("__pomsg"))
    )
    if dedup_cols:
        # deterministic stand-in for pandas keep='first': the row
        # minimal on the remaining columns (see docstring deviations)
        others = [c for c in w_to_add.columns if c not in set(dedup_cols)]
        w_dd = Window.partitionBy(*[F.col(c) for c in dedup_cols]).orderBy(
            *[F.col(c).asc_nulls_first() for c in others]
        )
        w_to_add = (
            w_to_add.withColumn("__rn", F.row_number().over(w_dd))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    return survivors.unionByName(w_to_add.select(*trades.columns))
