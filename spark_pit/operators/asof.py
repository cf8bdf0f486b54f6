"""Point-in-time (as-of) join — the engine's core operator.

Spark has no SQL ASOF JOIN. The backward join is ``asof_join_window``
(oracle'd against DuckDB ASOF JOIN), a pure JVM path: tag + union +
``last(ignorenulls)`` over a (key, ts, tag) window. One shuffle, whole-stage
codegen, no Python: at 100 TB it is a single sort-based exchange that AQE
can skew-split, and the `bytes` payload column (if any) must be projected
away by the caller before it (SURVEY.md §7 hard-point 3). The fused PIT
kernel (operators/pit.py) does its own as-of match inside the one pass
that computes every other feature.

Tie semantics (SURVEY.md §7 hard-point 1): ``strict=True`` (default) matches
only snapshots with ``snapshot_ts`` **strictly before** ``event_ts`` — the
zero-temporal-leakage choice when snapshots derive from the same stream.
``strict=False`` gives at-or-before. Among equal right timestamps the one
latest in ``right_order`` wins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_TAG = "__pit_tag"
_SEQ = "__pit_seq"


def asof_join_window(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    strict: bool = True,
    prefix: str = "asof_",
    right_order: str | None = None,
) -> DataFrame:
    """As-of join via union + last-ignore-nulls window. Returns all left rows
    + columns ``{prefix}{c}`` for c in value_cols and ``{prefix}ts``."""
    left_tag, right_tag = (0, 1) if strict else (1, 0)
    carried = [f"{prefix}{c}" for c in value_cols]

    lhs = left.withColumn(_TAG, F.lit(left_tag)).withColumn(_SEQ, F.lit(0))
    for c in value_cols:
        lhs = lhs.withColumn(f"{prefix}{c}", F.lit(None).cast(right.schema[c].dataType))
    lhs = lhs.withColumn(f"{prefix}ts", F.lit(None).cast(right.schema[right_ts].dataType))

    rhs = right.select(
        *on,
        F.col(right_ts).alias(left_ts),
        F.lit(right_tag).alias(_TAG),
        (F.col(right_order) if right_order else F.lit(0)).cast("long").alias(_SEQ),
        *[F.col(c).alias(f"{prefix}{c}") for c in value_cols],
        F.col(right_ts).alias(f"{prefix}ts"),
    )
    for f in left.schema.fields:
        if f.name not in on and f.name != left_ts:
            rhs = rhs.withColumn(f.name, F.lit(None).cast(f.dataType))
    rhs = rhs.select(*lhs.columns)

    w = (
        Window.partitionBy(*on)
        .orderBy(F.col(left_ts).asc(), F.col(_TAG).asc(), F.col(_SEQ).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned = lhs.unionByName(rhs)
    for c in [*carried, f"{prefix}ts"]:
        unioned = unioned.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return unioned.where(F.col(_TAG) == left_tag).drop(_TAG, _SEQ)


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    tolerance_us: int,
    prefix: str = "asof_",
    right_order: str | None = None,
) -> DataFrame:
    """Nearest-snapshot as-of join — ``pd.merge_asof(direction='nearest',
    tolerance=...)`` semantics, the third PIT mode alongside strict-before
    and at-or-before: each left row matches the right row minimizing
    ``|right_ts − left_ts|`` among rows within ``tolerance_us``
    microseconds; an equidistant past/future tie prefers the PAST (the
    leakage-lenient mode is for label/feature alignment where both
    directions are legal — sensor fusion, nearest-calibration lookup — so
    the tie rule mirrors the backward-looking default).

    Snapshots are first deduped to one row per ``(key, right_ts)`` instant
    (the ``right_order``-max row wins, matching the other modes' "latest
    in right_order" rule) so both directions arbitrate over the same
    candidate. Plan: one partial-agg shuffle on the (small) snapshot side,
    then ONE union + ONE (key, ts) sort under a single Window exchange
    carrying a backward struct (``last ignorenulls``, frame up-to-current)
    and a forward struct (``first ignorenulls``, frame after-current —
    right rows at the exact left instant sort before the left row, so the
    forward frame is strictly-after by construction); arbitration is a
    columnar CASE over the two carried structs. No Python, no second
    shuffle of the event stream.

    Returns all left rows + ``{prefix}{c}``, ``{prefix}ts``,
    ``{prefix}diff_us`` (unsigned distance) and ``{prefix}dir``
    ('backward' / 'forward', null when unmatched)."""
    right_tag, left_tag = 0, 1
    seq = (F.col(right_order) if right_order else F.lit(0)).cast("long")
    payload = F.struct(
        F.col(right_ts).alias("__rts"),
        *[F.col(c).alias(c) for c in value_cols],
    )
    # one snapshot per (key, instant): right_order-max row wins
    rdedup = (
        right.groupBy(*on, right_ts)
        .agg(F.max(F.struct(seq.alias("__seq"), payload.alias("p"))).alias("m"))
        .select(*on, F.col(right_ts), F.col("m.p").alias("__p"))
    )

    lhs = left.withColumn("__tag", F.lit(left_tag)).withColumn(
        "__p", F.lit(None).cast(rdedup.schema["__p"].dataType)
    )
    rhs = rdedup.select(
        *on,
        F.col(right_ts).alias(left_ts),
        F.lit(right_tag).alias("__tag"),
        "__p",
    )
    for f in left.schema.fields:
        if f.name not in on and f.name != left_ts:
            rhs = rhs.withColumn(f.name, F.lit(None).cast(f.dataType))
    rhs = rhs.select(*lhs.columns)

    order = [F.col(left_ts).asc(), F.col("__tag").asc()]
    wb = Window.partitionBy(*on).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wf = Window.partitionBy(*on).orderBy(*order).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    u = (
        lhs.unionByName(rhs)
        .withColumn("__b", F.last("__p", ignorenulls=True).over(wb))
        .withColumn("__f", F.first("__p", ignorenulls=True).over(wf))
        .where(F.col("__tag") == left_tag)
    )
    from spark_pit.util import ts_us as _us

    lus = _us(F.col(left_ts))
    bdiff = lus - _us(F.col("__b.__rts"))
    fdiff = _us(F.col("__f.__rts")) - lus
    b_ok = F.col("__b").isNotNull() & (bdiff <= F.lit(tolerance_us))
    f_ok = F.col("__f").isNotNull() & (fdiff <= F.lit(tolerance_us))
    pick_b = b_ok & (~f_ok | (bdiff <= fdiff))
    chosen = F.when(pick_b, F.col("__b")).when(f_ok, F.col("__f"))
    out = (
        u.withColumn("__c", chosen)
        .withColumn(
            f"{prefix}dir",
            F.when(pick_b, F.lit("backward")).when(f_ok, F.lit("forward")),
        )
        .withColumn(
            f"{prefix}diff_us",
            F.when(pick_b, bdiff).when(f_ok, fdiff).cast("long"),
        )
    )
    for c in value_cols:
        out = out.withColumn(f"{prefix}{c}", F.col(f"__c.{c}"))
    return out.withColumn(f"{prefix}ts", F.col("__c.__rts")).drop(
        "__tag", "__p", "__b", "__f", "__c"
    )


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    strict: bool = True,
    prefix: str = "next_",
    right_order: str | None = None,
) -> DataFrame:
    """Forward (lookahead) as-of join — each left row matches the EARLIEST
    right row with ``right_ts > left_ts`` (strict, default) or ``>=``.
    This is the LABEL-generation mirror of the backward PIT join:
    "time-to-next-purchase", "next snapshot after the event" targets —
    kept as a separate operator (never fused into the feature path) so
    the leakage direction of every column is explicit in the plan.

    Same single union + (key, ts) sort shape as ``asof_join_window``:
    the match is ``first(ignorenulls)`` over the after-current frame. At
    equal timestamps the right row sorts before (strict) or after
    (non-strict) the left row, which is exactly what ex/includes the
    same-instant snapshot from the following frame. Among equal right
    timestamps the EARLIEST in ``right_order`` wins (mirror of the
    backward rule). Returns all left rows + ``{prefix}{c}`` and
    ``{prefix}ts``."""
    left_tag, right_tag = (1, 0) if strict else (0, 1)
    carried = [f"{prefix}{c}" for c in value_cols]

    lhs = left.withColumn(_TAG, F.lit(left_tag)).withColumn(_SEQ, F.lit(0))
    for c in value_cols:
        lhs = lhs.withColumn(f"{prefix}{c}", F.lit(None).cast(right.schema[c].dataType))
    lhs = lhs.withColumn(f"{prefix}ts", F.lit(None).cast(right.schema[right_ts].dataType))

    rhs = right.select(
        *on,
        F.col(right_ts).alias(left_ts),
        F.lit(right_tag).alias(_TAG),
        (F.col(right_order) if right_order else F.lit(0)).cast("long").alias(_SEQ),
        *[F.col(c).alias(f"{prefix}{c}") for c in value_cols],
        F.col(right_ts).alias(f"{prefix}ts"),
    )
    for f in left.schema.fields:
        if f.name not in on and f.name != left_ts:
            rhs = rhs.withColumn(f.name, F.lit(None).cast(f.dataType))
    rhs = rhs.select(*lhs.columns)

    w = (
        Window.partitionBy(*on)
        .orderBy(F.col(left_ts).asc(), F.col(_TAG).asc(), F.col(_SEQ).asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    unioned = lhs.unionByName(rhs)
    for c in [*carried, f"{prefix}ts"]:
        unioned = unioned.withColumn(c, F.first(c, ignorenulls=True).over(w))
    return unioned.where(F.col(_TAG) == left_tag).drop(_TAG, _SEQ)


def asof_join_multi(
    left: DataFrame,
    rights: list[tuple],
    on: list[str],
    left_ts: str,
    strict: bool = True,
) -> DataFrame:
    """FEATURE-STORE point-in-time join: one event stream against K
    snapshot feature groups in a SINGLE window pass. ``rights`` is a list
    of (group_name, df, right_ts, value_cols[, order_col]); each event
    row gets every group's most recent strictly-before (or at-or-before)
    values as ``{group}_{col}`` + ``{group}_ts``; among equal snapshot
    timestamps within a group the order_col-latest row wins (REQUIRED
    whenever a group can hold duplicate (key, ts) rows — without it the
    pick among exact ties is partition-order dependent).

    This is the one-shuffle generalization of asof_join_window: all K
    snapshot streams are tagged and unioned with the events, and ONE
    (key, ts, tag, seq) sort exchange carries K independent
    last-ignore-nulls column families (each group's carried columns are
    null on every other group's rows, so the window states never
    interact). K separate as-of joins would pay K sort shuffles of the
    full event stream — the dominant cost at 10^12 events; this pays
    exactly one, and AQE can still skew-split the single exchange.
    Same tie semantics as asof_join_window (strict ⇒ zero temporal
    leakage; right_order-latest wins among equal snapshot timestamps).
    """
    left_tag, right_tag = (0, 1) if strict else (1, 0)
    norm = [(r[0], r[1], r[2], list(r[3]), (r[4] if len(r) > 4 else None))
            for r in rights]
    names = [g for g, *_ in norm]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate group names in rights: {names}")
    taken = set(left.columns)
    for g, _, _, vcols, _ in norm:
        for gen in [f"{g}_{c}" for c in vcols] + [f"{g}_ts"]:
            if gen in taken:
                raise ValueError(
                    f"generated column {gen!r} collides with an existing "
                    "column; rename the group or the left column"
                )
            taken.add(gen)
    carried: list[str] = []
    lhs = left.withColumn(_TAG, F.lit(left_tag)).withColumn(_SEQ, F.lit(0))
    for g, rdf, rts, vcols, _ in norm:
        for c in vcols:
            lhs = lhs.withColumn(
                f"{g}_{c}", F.lit(None).cast(rdf.schema[c].dataType)
            )
            carried.append(f"{g}_{c}")
        lhs = lhs.withColumn(
            f"{g}_ts", F.lit(None).cast(rdf.schema[rts].dataType)
        )
        carried.append(f"{g}_ts")
    parts = [lhs]
    for g, rdf, rts, vcols, order_col in norm:
        rhs = rdf.select(
            *on,
            F.col(rts).alias(left_ts),
            F.lit(right_tag).alias(_TAG),
            (F.col(order_col) if order_col else F.lit(0))
            .cast("long").alias(_SEQ),
            *[F.col(c).alias(f"{g}_{c}") for c in vcols],
            F.col(rts).alias(f"{g}_ts"),
        )
        for col in lhs.columns:
            if col not in rhs.columns:
                rhs = rhs.withColumn(col, F.lit(None).cast(lhs.schema[col].dataType))
        parts.append(rhs.select(*lhs.columns))
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col(left_ts).asc(), F.col(_TAG).asc(), F.col(_SEQ).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    for c in carried:
        unioned = unioned.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return unioned.where(F.col(_TAG) == left_tag).drop(_TAG, _SEQ)
