"""As-of join: each left row matched to the latest right row at-or-before
its timestamp, per key. Spark has no native as-of join for DataFrames.

Implementation — the union-merge trick, NOT a range join:
tag both sides, union by name, and per key take
``last(right_cols, ignorenulls=True)`` over a window ordered by
(time, side) with rows unbounded-preceding..current; keep left rows.

Scale rationale (100 TB): a naive ``left.join(right, key AND r.ts <=
l.ts)`` is many-to-many (every left row pairs with ALL earlier right
rows) — quadratic per key. The union-merge is one shuffle per side on
the key, a per-partition sort, and a running ``last`` — linear, skew
behaves like any window op (salt hot keys upstream if needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

#: helper columns the union-merge adds; left schemas must not use them
_RESERVED = ("_k", "_t", "_side", "_rt", "_ord")


def _check_left_schema(left: DataFrame) -> None:
    clash = [c for c in left.columns if c in _RESERVED]
    if clash:
        raise ValueError(
            f"left columns {clash} collide with the as-of join's "
            f"reserved helper names {_RESERVED}; rename them first"
        )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_time: str,
    right_time: str,
    right_values: list[str],
    *,
    strict: bool = False,
    right_order: str | None = None,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """As-of join: latest right at-or-before (``direction="backward"``,
    default) or earliest right at-or-after (``"forward"``) the left
    row's time, per key.

    Args:
        right_values: right columns to carry onto matched left rows
            (returned with the same names; NULL when no match exists).
        strict: if True, match strictly-before/-after instead of
            inclusive.
        right_order: tiebreak column for DUPLICATE right rows at the
            same (key, time): backward keeps the MAX-tiebreak row,
            forward the MIN (the row nearest the left row in the merge
            order; its values must be non-null). This folds the right-
            side dedup into the merge window's sort — one fewer
            shuffle than a separate groupBy/max_by pass.
        tolerance_seconds: maximum staleness (merge_asof ``tolerance``
            semantics): a match farther than this from the left row's
            time — behind it for backward, ahead for forward — has its
            ``right_values`` nulled, exactly as if no match existed.
            The bound is evaluated on the matched right TIME carried
            through the merge, so it adds no join or shuffle. Seconds
            for timestamp axes, axis units for numeric axes;
            unsupported for ``direction="nearest"``.

    Both directions are the same union-merge plan; forward flips the
    window frame (current..unbounded-following, running ``first``) and
    the equal-time side order.

    ``direction="nearest"`` matches whichever right row is temporally
    closer (ties -> backward), computing BOTH running frames over the
    SAME partitioning and sort — one union, one exchange, two window
    frames — instead of two full as-of passes. Inclusive only
    (``strict`` unsupported); duplicate right rows at one (key, time)
    resolve to the max-``right_order`` row backward and the
    min-``right_order`` row forward (one sort serves both).

    Reserved names: the merge adds helper columns ``_k/_t/_side/_rt/
    _ord`` — a left schema using any of them raises. A left column
    named like a ``right_values`` entry is REPLACED by the matched
    value (merge-asof semantics, same as ``pd.merge_asof`` suffixless
    overwrite).
    """
    _check_left_schema(left)
    if direction == "nearest":
        if strict:
            raise ValueError("strict is unsupported for direction='nearest'")
        if tolerance_seconds is not None:
            raise ValueError(
                "tolerance_seconds is unsupported for direction='nearest'"
            )
        return _asof_nearest(
            left, right, left_key, right_key, left_time, right_time,
            right_values, right_order=right_order,
        )
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    fwd = direction == "forward"
    # side marker: for backward <=, right rows sort BEFORE left rows at
    # equal time so the running last() sees a same-timestamp right row;
    # for forward <=, right rows sort AFTER left rows so the running
    # first() ahead of the left row includes them. strict reverses.
    if fwd:
        right_side, left_side = (0, 1) if strict else (1, 0)
    else:
        right_side, left_side = (1, 0) if strict else (0, 1)

    lt = left.withColumn("_k", F.col(left_key)).withColumn(
        "_t", F.col(left_time)
    ).withColumn("_side", F.lit(left_side))
    with_tol = tolerance_seconds is not None
    rt = right.select(
        F.col(right_key).alias("_k"),
        F.col(right_time).alias("_t"),
        F.lit(right_side).alias("_side"),
        *[F.col(c) for c in right_values],
        *([F.col(right_order).alias("_ord")] if right_order else []),
        *([F.col(right_time).alias("_rt")] if with_tol else []),
    )
    for c in right_values:
        lt = lt.withColumn(c, F.lit(None).cast(dict(rt.dtypes)[c]))
    # allowMissingColumns fills the left side's absent _ord with NULL;
    # _ord only orders rows WITHIN the right side at one (_t, _side),
    # so the running `last` picks the max-tiebreak duplicate.
    unioned = lt.unionByName(rt, allowMissingColumns=True)

    order_cols = ["_t", "_side"] + (["_ord"] if right_order else [])
    if fwd:
        w = (
            W.partitionBy("_k")
            .orderBy(*order_cols)
            .rowsBetween(W.currentRow, W.unboundedFollowing)
        )
        pick = lambda c: F.first(c, ignorenulls=True).over(w)  # noqa: E731
    else:
        w = (
            W.partitionBy("_k")
            .orderBy(*order_cols)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        pick = lambda c: F.last(c, ignorenulls=True).over(w)  # noqa: E731
    picked = list(right_values) + (["_rt"] if with_tol else [])
    filled = unioned.select(
        *[c for c in unioned.columns if c not in picked],
        *[pick(c).alias(c) for c in picked],
    )
    out = filled.filter(F.col("_side") == left_side)
    if with_tol:
        t_dtype = dict(unioned.dtypes)["_t"]
        if t_dtype.startswith("timestamp") or t_dtype == "date":
            # cast normalizes TIMESTAMP_NTZ (session TZ is pinned UTC)
            # and lifts DATE to midnight-UTC seconds — a bare
            # date.cast("double") fails at analysis (r4 latent bug)
            lt_num = (
                F.unix_micros(F.col("_t").cast("timestamp")).cast("double")
                / 1e6
            )
            rt_num = (
                F.unix_micros(F.col("_rt").cast("timestamp")).cast("double")
                / 1e6
            )
        elif t_dtype in ("tinyint", "smallint", "int", "bigint",
                         "float", "double") or t_dtype.startswith(
            "decimal"
        ):
            # exact names, not startswith("int"): "interval day to
            # second" etc. must fall through to the typed error below,
            # not slip into the numeric cast (ADVICE r5)
            lt_num = F.col("_t").cast("double")
            rt_num = F.col("_rt").cast("double")
        else:
            raise ValueError(
                f"unsupported as-of time-axis dtype {t_dtype!r} for "
                "tolerance_seconds: expected a timestamp, date, or "
                "numeric column"
            )
        staleness = (rt_num - lt_num) if fwd else (lt_num - rt_num)
        ok = F.col("_rt").isNotNull() & (
            staleness <= F.lit(float(tolerance_seconds))
        )
        out = out.select(
            *[c for c in out.columns if c not in picked],
            *[F.when(ok, F.col(c)).alias(c) for c in right_values],
        )
    return out.drop("_k", "_t", "_side", "_ord", "_rt")


def _asof_nearest(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_time: str,
    right_time: str,
    right_values: list[str],
    *,
    right_order: str | None = None,
) -> DataFrame:
    """Nearest-match as-of: one union-merge pass evaluating the
    backward candidate (running ``last`` over preceding) AND the
    forward candidate (running ``first`` over following) on the same
    exchange, then picking per row by absolute time distance
    (tie -> backward). Right rows sort BEFORE left rows at equal time,
    so an exact-time match lands in the backward frame at distance 0
    and wins the tie by construction."""
    lt = (
        left.withColumn("_k", F.col(left_key))
        .withColumn("_t", F.col(left_time))
        .withColumn("_side", F.lit(1))
        .withColumn("_rt", F.lit(None).cast(dict(right.dtypes)[right_time]))
    )
    rt = right.select(
        F.col(right_key).alias("_k"),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_side"),
        F.col(right_time).alias("_rt"),
        *[F.col(c) for c in right_values],
        *([F.col(right_order).alias("_ord")] if right_order else []),
    )
    for c in right_values:
        lt = lt.withColumn(c, F.lit(None).cast(dict(rt.dtypes)[c]))
    unioned = lt.unionByName(rt, allowMissingColumns=True)

    order_cols = ["_t", "_side"] + (["_ord"] if right_order else [])
    spec = W.partitionBy("_k").orderBy(*order_cols)
    wb = spec.rowsBetween(W.unboundedPreceding, W.currentRow)
    wf = spec.rowsBetween(W.currentRow, W.unboundedFollowing)
    picked = ["_rt", *right_values]
    back = {c: F.last(c, ignorenulls=True).over(wb) for c in picked}
    fwd = {c: F.first(c, ignorenulls=True).over(wf) for c in picked}

    # numeric time axis for the distance compare; TIMESTAMP_NTZ and
    # DATE have no direct double cast, so route them through the
    # session-TZ timestamp type first (the session is pinned UTC by
    # catalog.load). Anything non-temporal/non-numeric (e.g. a string
    # axis) fails HERE with a clear message instead of at analysis.
    def as_num(col, dtype):
        if dtype.startswith("timestamp") or dtype == "date":
            return col.cast("timestamp").cast("double")
        if dtype.startswith(
            ("tinyint", "smallint", "int", "bigint", "float", "double",
             "decimal")
        ):
            return col.cast("double")
        raise ValueError(
            f"unsupported as-of time-axis dtype {dtype!r}: expected a "
            "timestamp, date, or numeric column"
        )

    t_dtype = dict(unioned.dtypes)["_t"]
    rt_dtype = dict(unioned.dtypes)["_rt"]
    tnum = as_num(F.col("_t"), t_dtype)
    use_b = back["_rt"].isNotNull() & (
        fwd["_rt"].isNull()
        | (
            (tnum - as_num(back["_rt"], rt_dtype))
            <= (as_num(fwd["_rt"], rt_dtype) - tnum)
        )
    )
    filled = unioned.select(
        *[c for c in unioned.columns if c not in right_values],
        *[
            F.when(use_b, back[c]).otherwise(fwd[c]).alias(c)
            for c in right_values
        ],
    )
    return filled.filter(F.col("_side") == 1).drop(
        "_k", "_t", "_side", "_rt", "_ord"
    )

