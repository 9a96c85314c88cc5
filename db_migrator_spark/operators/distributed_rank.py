"""Distributed exact global rank / running sum — the scale-safe
replacement for a partitionless ``Window.orderBy(...)``.

A window with an empty partition spec funnels its WHOLE input through one
task (Spark logs ``WindowExec: No Partition Defined``); fine on a
dimension-bounded frame, a silent scale-killer on anything data-sized.
This module packages the pattern proven in
``relational3.q_ntile_buckets`` (driver-green since round 5) for reuse:

1. bin rows into ordered ranges by ``approxQuantile`` cut-points on the
   primary order column — driver-side literals, ONE action; quantile
   error only skews bin sizes, never correctness, because the rank
   arithmetic uses the EXACT per-bin counts,
2. rank inside each bin with a bin-partitioned window (the parallel
   unit — every bin sorts independently),
3. shift by each bin's exact cumulative offset, computed in-plan from
   the (eagerly materialized) per-bin counts with a broadcast cross-join
   aggregate over at most ``(n_bins + 1)^2`` rows (never an
   unpartitioned window, never a driver-side collect),
4. optionally carry exact DECIMAL(38,0) running sums the same way.

Equal key values always land in ONE bin (strict ``>`` against each cut),
so tie-breaking stays within a bin and the global rank is exact. No
single-partition window or sort exists anywhere in the produced plan.

Cost model: one extra pass over the input relation for the quantile
cut-points (for an aggregate input that means re-running the aggregate —
still fully parallel, and at 100 TB a recompute beats persisting a
data-sized intermediate), then exactly one shuffle (the bin
partitioning) per ranked relation.

Several orderings of one relation (RFM's three dimensions, Spearman's
two ranks) take one pass, never nested levels: :func:`with_global_ranks`
stacks one row per (input row, ordering), ranks the stack with ONE
quantile action and ONE ``with_global_rank`` keyed by the ordering tag,
and folds the ranks back to one row per input row.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegralType
from pyspark.sql.window import Window as W

_PID = "__dr_pid"
_TAG, _KEY, _NULL = "__dr_tag", "__dr_key", "__dr_null"
_LONG_MAX = 2**63 - 1


def quantile_cuts(
    df: DataFrame, cols: Sequence[str], n_bins: int = 32
) -> dict[str, list[float]]:
    """approxQuantile cut-points for each column — ONE action for all.

    Returns ``{col: sorted-unique interior cut points}`` (at most
    ``n_bins - 1`` per column; fewer when the distribution is lumpy).
    ``n_bins < 2`` means a single bin: no cut points, no quantile action
    — correct but degenerate (equivalent to the plain keyed window).
    """
    if n_bins < 2:
        return {c: [] for c in cols}
    probs = [i / n_bins for i in range(1, n_bins)]
    res = df.approxQuantile(list(cols), probs, 0.001)
    return {c: sorted(set(v)) for c, v in zip(cols, res)}


def with_global_rank(
    df: DataFrame,
    value_col: str,
    tiebreaks: Sequence[str],
    *,
    cuts: Sequence[float],
    descending: bool = False,
    rank_col: str = "rn",
    total_col: str = "n_total",
    cum_cols: Sequence[str] = (),
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """Append the exact 1-based row number ``rank_col`` over
    ``(value_col [DESC], *tiebreaks ASC)`` plus the ranked relation's
    row count ``total_col`` — and, for each name in ``cum_cols``, the
    exact DECIMAL(38,0) running sum ``cum_<name>`` over the same total
    order — without any single-partition window or global sort.

    With ``partition_by``, rank/total/running sums are computed WITHIN
    each key group (the keyed-window case whose groups grow linearly
    with data — e.g. per-nation customer tiles): the parallel unit
    becomes ``(*partition_by, bin)``, and the offset aggregate joins
    bins per key instead of cross-joining globally. The same global
    ``cuts`` subdivide every group (bin-size skew across groups only
    affects balance, never correctness).

    Each ``cum_cols`` entry also yields ``tot_<name>`` — the exact
    DECIMAL(38,0) group total (the fold computes it for free), saving
    callers a second aggregation pass for share-of-total arithmetic.

    ``tiebreaks`` must make the ordering total (unique) within a
    partition, or ranks and running sums are nondeterministic. ``cuts``
    comes from :func:`quantile_cuts` on the same relation.

    The per-bin offsets are computed in-plan: the tiny bin-count
    aggregate is materialized (one bounded job), then a broadcast
    cross-join (global) or null-safe keyed join (``partition_by``)
    folds it into each bin's exact offset — no driver-side collect.
    ``partition_by`` must be dimension-bounded (nations, priorities,
    langs — never a data-sized key), which is also the only regime
    where a keyed CLOSED-FORM tile is the right tool; for per-entity
    ranks use an ordinary keyed window, already parallel at that grain.
    """
    keys = list(partition_by)
    # One SQL expression, not a Column chain: building the n_bins-term
    # sum one F.col/F.lit/>/cast/+ at a time costs ~1,000 py4j round
    # trips (250-380 ms) per call; parsing it costs under 1 ms. Double
    # literals keep the comparison a double comparison, as F.lit(float)
    # made it.
    v = "`" + value_col.replace("`", "``") + "`"
    bins = " + ".join(
        ["0", *(f"CAST({v} > {_double_sql(b)} AS INT)" for b in cuts)]
    )
    # NULL values get their own bin -1 so they are neither dropped by
    # the offsets equi-join nor mis-binned (NULL > cut is NULL): bin -1
    # is FIRST in ascending order and LAST in descending — exactly
    # Spark's window defaults (ASC NULLS FIRST / DESC NULLS LAST), so
    # rank parity with the window form holds on nullable values too.
    bin_expr = F.expr(f"CASE WHEN {v} IS NULL THEN -1 ELSE {bins} END")
    # coalesce marks the bin NON-NULLABLE (the when-chain already never
    # returns NULL, but Catalyst can't see that): without it the offsets
    # equi-join infers isnotnull(_PID), the pushdown inlines the FULL
    # n_bins-term bin expression into a Filter at every scan of df's
    # lineage, and that filter evaluates interpreted per row — measured
    # r15 at sf1 (q_winsorize rank pass): 17.9s -> 3.2s from this line
    # alone. Values are untouched (coalesce of a never-null expression).
    bin_expr = F.coalesce(bin_expr, F.lit(-1))
    parts = df.withColumn(_PID, bin_expr)

    aggs = [F.count(F.lit(1)).alias("__dr_cnt")]
    for c in cum_cols:
        aggs.append(
            F.sum(F.col(c).cast("decimal(38,0)")).alias(f"__dr_sum_{c}")
        )
    counts = parts.groupBy(*keys, _PID).agg(*aggs)

    # Eagerly materialize the tiny bin-count aggregate (<= 34 rows
    # global, |key domain| x 34 keyed — dimension-bounded by the
    # caller's contract): the offsets side otherwise carries df's full
    # lineage TWICE more (counts + its self-joined copy), so every
    # AQE stage of the offsets side re-ran the input scan. One extra
    # bounded job; the final plan scans df once. Measured r15 at sf1
    # (q_winsorize rank pass, on top of the non-nullable bin fix):
    # 3.2s -> 1.5s. Execution-only — values are the same aggregate.
    counts = counts.localCheckpoint()
    c2 = counts.select(
        *[F.col(k).alias(f"__dr_k2_{k}") for k in keys],
        F.col(_PID).alias("__dr_pid2"),
        F.col("__dr_cnt").alias("__dr_cnt2"),
        *[
            F.col(f"__dr_sum_{c}").alias(f"__dr_sum2_{c}")
            for c in cum_cols
        ],
    )
    # "Earlier in the order" = smaller bin id ascending, larger
    # descending (bins count strictly-greater cuts, so high values
    # sit in high bin ids).
    earlier = (
        F.col("__dr_pid2") > F.col(_PID)
        if descending
        else F.col("__dr_pid2") < F.col(_PID)
    )
    offset_aggs = [
        F.coalesce(F.sum(F.when(earlier, F.col("__dr_cnt2"))), F.lit(0))
        .cast("long")
        .alias("__dr_off"),
        F.sum("__dr_cnt2").cast("long").alias(total_col),
    ]
    for c in cum_cols:
        offset_aggs.append(
            F.coalesce(
                F.sum(F.when(earlier, F.col(f"__dr_sum2_{c}"))),
                F.lit(0).cast("decimal(38,0)"),
            )
            .cast("decimal(38,0)")
            .alias(f"__dr_soff_{c}")
        )
        offset_aggs.append(
            F.sum(F.col(f"__dr_sum2_{c}"))
            .cast("decimal(38,0)")
            .alias(f"tot_{c}")
        )
    if keys:
        # Null-safe key equality: a NULL partition key is a real group
        # under a keyed window (NULLs group together), so the bin-pair
        # join must not drop it the way plain `=` would (r10 ADVICE).
        # No explicit broadcast hint here or on the final offsets
        # join: with keys the relation is |key domain| x bins rows —
        # bounded only by the CALLER's contract, which the helper
        # cannot verify without an extra action. AQE's runtime size
        # check makes the broadcast decision instead (it still
        # broadcasts the few-KB dimension case, and refuses — with a
        # plannable fallback rather than a driver OOM — if a caller
        # ever passes a data-sized key; r10 ADVICE).
        cond = F.lit(True)
        for k in keys:
            cond = cond & F.col(k).eqNullSafe(F.col(f"__dr_k2_{k}"))
        paired = counts.join(c2, cond).drop(
            *[f"__dr_k2_{k}" for k in keys]
        )
    else:
        paired = counts.crossJoin(F.broadcast(c2))
    offsets = paired.groupBy(*keys, _PID).agg(*offset_aggs)

    order = [F.desc(value_col) if descending else F.asc(value_col)]
    order += [F.asc(t) for t in tiebreaks]
    wp = W.partitionBy(*keys, _PID).orderBy(*order)
    frame = wp.rowsBetween(W.unboundedPreceding, W.currentRow)
    if keys:
        # Null-safe on the keys (NULL-key groups must keep their offsets)
        # and hint-free (AQE sizes the keyed relation at runtime) — same
        # reasoning as the bin-pair join above.
        off2 = offsets.select(
            *[F.col(k).alias(f"__dr_ko_{k}") for k in keys],
            F.col(_PID).alias("__dr_pido"),
            *[c for c in offsets.columns if c not in (*keys, _PID)],
        )
        cond = F.col(_PID) == F.col("__dr_pido")
        for k in keys:
            cond = cond & F.col(k).eqNullSafe(F.col(f"__dr_ko_{k}"))
        joined = parts.join(off2, cond).drop(
            "__dr_pido", *[f"__dr_ko_{k}" for k in keys]
        )
    else:
        joined = parts.join(F.broadcast(offsets), [_PID])
    out = joined.withColumn(
        rank_col, F.row_number().over(wp) + F.col("__dr_off")
    )
    for c in cum_cols:
        out = out.withColumn(
            f"cum_{c}",
            F.sum(F.col(c).cast("decimal(38,0)")).over(frame)
            + F.col(f"__dr_soff_{c}"),
        )
    return out.drop(
        _PID, "__dr_off", *[f"__dr_soff_{c}" for c in cum_cols]
    )


def with_global_ranks(
    df: DataFrame,
    orderings: Sequence[tuple[str, bool, str, str]],
    tiebreaks: Sequence[str],
    *,
    partition_by: Sequence[str],
) -> DataFrame:
    """Rank several orderings of one relation in one pass: for each
    ``(col, descending, rank_col, total_col)`` in ``orderings``, append
    the exact 1-based row number ``rank_col`` over ``(col [DESC],
    *tiebreaks ASC)`` within ``partition_by`` plus the group's row count
    ``total_col`` — the ranks ``with_global_rank`` gives one ordering at
    a time, and ``ROW_NUMBER() OVER (PARTITION BY keys ORDER BY col
    [DESC], tiebreaks)`` gives under Spark's defaults (ASC NULLS FIRST,
    DESC NULLS LAST).

    1. Stack one row per (input row, ordering), tagged with the
       ordering's index. The stacked key is the value cast to bigint;
       a descending ordering uses ``bitwise_not(v)``, which reverses the
       order and, unlike ``-v`` at ``Long.MIN``, cannot overflow. Its
       NULLs take ``Long.MAX`` with a NULL flag that sorts them after
       the real ``Long.MIN`` (whose key is also ``Long.MAX``), so they
       rank after every real value; ascending NULLs keep a NULL key,
       bin -1, first.
    2. Take ONE ``quantile_cuts`` action on the stacked key.
    3. Rank the stack with ONE ``with_global_rank`` keyed by
       ``partition_by + [tag]``: the tag is a dimension key (one value
       per ordering), so the keyed contract holds.
    4. Fold the ranks back to one row per input row, grouped by
       ``partition_by + tiebreaks``.

    ``tiebreaks`` must identify a row within a ``partition_by`` group
    (the fold groups on them). Every ordering column must be integral;
    anything else raises ``TypeError``.
    """
    types = {f.name: f.dataType for f in df.schema.fields}
    for col, *_ in orderings:
        if not isinstance(types[col], IntegralType):
            raise TypeError(
                f"with_global_ranks orders integral columns only; "
                f"{col} is {types[col].simpleString()}"
            )
    keys, ids = list(partition_by), [*partition_by, *tiebreaks]
    legs = []
    for i, (col, descending, _, _) in enumerate(orderings):
        v = F.col(col).cast("bigint")
        key = v
        if descending:
            key = F.coalesce(F.bitwise_not(v), F.lit(_LONG_MAX))
        legs.append(
            F.struct(
                F.lit(i).alias(_TAG), key.alias(_KEY), v.isNull().alias(_NULL)
            )
        )
    stacked = df.select(
        *df.columns, F.explode(F.array(*legs)).alias("__dr_leg")
    ).select(*df.columns, "__dr_leg.*")
    cuts = quantile_cuts(stacked, [_KEY])[_KEY]
    ranked = with_global_rank(
        stacked, _KEY, [_NULL, *tiebreaks], cuts=cuts,
        rank_col="__dr_rn", total_col="__dr_n", partition_by=[*keys, _TAG],
    )
    picks = []
    for i, (_, _, rank_col, total_col) in enumerate(orderings):
        mine = F.col(_TAG) == i
        picks += [
            F.max(F.when(mine, F.col("__dr_rn"))).alias(rank_col),
            F.max(F.when(mine, F.col("__dr_n"))).alias(total_col),
        ]
    carried = [F.first(c).alias(c) for c in df.columns if c not in ids]
    folded = ranked.groupBy(*ids).agg(*carried, *picks)
    return folded.select(
        *df.columns, *[c for _, _, r, t in orderings for c in (r, t)]
    )


def _double_sql(x: float) -> str:
    """A Spark SQL double literal for ``x``."""
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    return "CAST('{}' AS DOUBLE)".format(
        "NaN" if math.isnan(x) else ("-Infinity" if x < 0 else "Infinity")
    )


def ntile_expr(rank_col: str, total_col: str, n: int):
    """Closed-form ``NTILE(n)`` from an exact (rank, total) pair: the
    first ``total % n`` buckets hold ``total div n + 1`` rows, the rest
    ``total div n`` — the SQL-standard split, bit-identical to
    ``NTILE(n) OVER (ORDER BY ...)`` on the same total order. All
    integer arithmetic (``div``), exact at any relation size; the ELSE
    branch's divisor is only zero when total < n, in which case every
    rank satisfies the WHEN branch and the ELSE is never evaluated.
    """
    r, t = rank_col, total_col
    return F.expr(
        f"CAST(CASE WHEN {r} <= ({t} % {n}) * ({t} div {n} + 1)"
        f" THEN ({r} - 1) div ({t} div {n} + 1) + 1"
        f" ELSE {t} % {n}"
        f" + ({r} - ({t} % {n}) * ({t} div {n} + 1) - 1) div ({t} div {n})"
        f" + 1 END AS INT)"
    )
