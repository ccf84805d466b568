"""Point-in-time (as-of) join — the engine's core join operator.

Spark has no native as-of join; two implementations with different
scale profiles:

- :func:`asof_join` — sorted-merge shaped union-tag algorithm: ONE
  shuffle of (left ∪ right) on the entity key, one window sort, no
  row explosion. This is the 100 TB path: cost is a single exchange +
  sort per side, identical to what a native sort-merge as-of join would
  do, and AQE skew handling applies to the exchange.
- :func:`asof_join_broadcast` — for small right sides (fitted state,
  snapshot statistics): broadcast hash join on the entity key, then a
  window picks the latest right row per left anchor. Row explosion is
  bounded by rows-per-entity on the right, so only use when the right
  side is genuinely small.

Tie semantics (north-rule hard part): ``right.ts == left.ts`` IS
matched (``<=``, not ``<``) — the union sorts right rows before left
anchors at equal timestamps via a tag column. The point-in-time
default is direction 'backward' only; :func:`asof_join_directed`
adds pandas ``merge_asof`` 'forward'/'nearest' parity behind the
explicit ``allow_future=True`` leak gate (label construction, not
features).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from feature_engineering_tk_spark.functions.timeutil import epoch_micros, epoch_seconds
from feature_engineering_tk_spark.operators.window_features import require_future


def asof_join(
    left: DataFrame,
    right: DataFrame,
    entity: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
    tolerance_seconds: float | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """Attach, to every left row, the latest right row with
    ``right.ts <= left.ts`` for the same entity.

    Union-tag algorithm: stack both sides, sort each entity partition by
    (ts, tag) — right rows (tag 0) before left anchors (tag 1) at equal
    ts — then ``last(value, ignorenulls=True)`` over an unbounded-
    preceding frame carries the most recent right value onto each left
    anchor. One shuffle, no row explosion, no driver round-trip.

    If multiple right rows share (entity, ts) the one latest in the
    (right_ts, input order) sort wins — pre-aggregate the right side if
    a specific tie-break is required.

    ``tolerance_seconds``: matches older than the tolerance are nulled
    (pandas ``merge_asof(tolerance=...)`` parity). Timestamps are
    carried as integer epoch-microseconds and the tolerance compared in
    integer µs — subtracting two ~1.7e9 epoch-second doubles loses
    ~2.4e-7 s to cancellation, enough to flip a match exactly at the
    tolerance boundary.
    """
    value_cols = value_cols or [
        c for c in right.columns if c not in (entity, right_ts)
    ]
    left_cols = left.columns

    l_tag = left.select(
        F.col(entity).alias("_e"),
        epoch_micros(F.col(left_ts)).alias("_t"),
        F.lit(1).alias("_tag"),
        *[F.col(c) for c in left_cols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_rv_{c}") for c in value_cols],
        F.lit(None).cast("long").alias("_rt"),
    )
    r_tag = right.select(
        F.col(entity).alias("_e"),
        epoch_micros(F.col(right_ts)).alias("_t"),
        F.lit(0).alias("_tag"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols],
        *[F.col(c).alias(f"_rv_{c}") for c in value_cols],
        epoch_micros(F.col(right_ts)).alias("_rt"),
    )

    unioned = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy("_e")
        .orderBy("_t", "_tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.withColumns(
        {f"_c_{c}": F.last(f"_rv_{c}", ignorenulls=True).over(w) for c in value_cols}
        | {"_c_rt": F.last("_rt", ignorenulls=True).over(w)}
    )
    out = carried.filter(F.col("_tag") == 1)

    if tolerance_seconds is not None:
        tolerance_us = int(round(float(tolerance_seconds) * 1_000_000))
        in_tol = (F.col("_t") - F.col("_c_rt")) <= F.lit(tolerance_us)
        sel = [
            F.when(in_tol, F.col(f"_c_{c}")).otherwise(F.lit(None)).alias(f"{c}{suffix}")
            for c in value_cols
        ]
    else:
        sel = [F.col(f"_c_{c}").alias(f"{c}{suffix}") for c in value_cols]

    return out.select(*[F.col(c) for c in left_cols], *sel)


def asof_join_directed(
    left: DataFrame,
    right: DataFrame,
    entity: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
    tolerance_seconds: float | None = None,
    suffix: str = "_asof",
    direction: str = "backward",
    allow_future: bool = False,
) -> DataFrame:
    """As-of join with pandas ``merge_asof`` direction parity:
    ``'backward'`` (delegates to :func:`asof_join`), ``'forward'``
    (earliest right row with ``right.ts >= left.ts``), ``'nearest'``
    (closest in absolute integer-µs distance; the BACKWARD row wins
    equidistant ties, pandas rule).

    ``'forward'`` and ``'nearest'`` read rows later than the anchor —
    label construction (next tool result, time-to-next-purchase), not
    features — so they require the explicit ``allow_future=True``
    opt-in, same contract as ``with_lead``/``backward_fill``. The
    point-in-time pipeline default stays leak-proof.

    Scale shape: the same single union-tag exchange as
    :func:`asof_join`; ``'forward'`` is one window sort (ties ordered
    left-anchor-before-right so equal timestamps match, mirroring the
    backward tag order), ``'nearest'`` is two sorts over the ONE
    exchange (backward + forward carries, then a row-local pick).
    ``tolerance_seconds`` bounds the match distance per direction in
    integer µs, exactly as in :func:`asof_join`.
    """
    if direction == "backward":
        return asof_join(
            left, right, entity, left_ts, right_ts, value_cols,
            tolerance_seconds, suffix,
        )
    if direction not in ("forward", "nearest"):
        raise ValueError(
            f"direction must be backward/forward/nearest, got {direction!r}"
        )
    require_future(
        allow_future,
        f"asof_join_directed(direction={direction!r}) reads rows after the anchor timestamp",
    )
    value_cols = value_cols or [
        c for c in right.columns if c not in (entity, right_ts)
    ]
    left_cols = left.columns

    l_tag = left.select(
        F.col(entity).alias("_e"),
        epoch_micros(F.col(left_ts)).alias("_t"),
        F.lit(1).alias("_tag"),
        *[F.col(c) for c in left_cols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_rv_{c}") for c in value_cols],
        F.lit(None).cast("long").alias("_rt"),
    )
    r_tag = right.select(
        F.col(entity).alias("_e"),
        epoch_micros(F.col(right_ts)).alias("_t"),
        F.lit(0).alias("_tag"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols],
        *[F.col(c).alias(f"_rv_{c}") for c in value_cols],
        epoch_micros(F.col(right_ts)).alias("_rt"),
    )
    unioned = l_tag.unionByName(r_tag)
    tol_us = (
        None
        if tolerance_seconds is None
        else int(round(float(tolerance_seconds) * 1_000_000))
    )

    # forward sort: at equal ts the left anchor (tag 1) precedes right
    # rows (tag 0), so the (currentRow, unboundedFollowing) frame below
    # includes exact-timestamp matches — mirror image of the backward
    # tag order
    w_f = (
        Window.partitionBy("_e")
        .orderBy("_t", F.desc("_tag"))
        .rowsBetween(0, Window.unboundedFollowing)
    )
    carries = {
        f"_f_{c}": F.first(f"_rv_{c}", ignorenulls=True).over(w_f)
        for c in value_cols
    } | {"_f_rt": F.first("_rt", ignorenulls=True).over(w_f)}
    if direction == "nearest":
        w_b = (
            Window.partitionBy("_e")
            .orderBy("_t", "_tag")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        carries |= {
            f"_b_{c}": F.last(f"_rv_{c}", ignorenulls=True).over(w_b)
            for c in value_cols
        } | {"_b_rt": F.last("_rt", ignorenulls=True).over(w_b)}

    out = unioned.withColumns(carries).filter(F.col("_tag") == 1)

    d_f = F.col("_f_rt") - F.col("_t")
    f_ok = F.col("_f_rt").isNotNull() & (
        F.lit(True) if tol_us is None else (d_f <= F.lit(tol_us))
    )
    if direction == "forward":
        sel = [
            F.when(f_ok, F.col(f"_f_{c}")).alias(f"{c}{suffix}")
            for c in value_cols
        ]
    else:
        d_b = F.col("_t") - F.col("_b_rt")
        b_ok = F.col("_b_rt").isNotNull() & (
            F.lit(True) if tol_us is None else (d_b <= F.lit(tol_us))
        )
        # backward wins equidistant ties (pandas merge_asof rule)
        choose_b = b_ok & (~f_ok | (d_b <= d_f))
        sel = [
            F.when(choose_b, F.col(f"_b_{c}"))
            .when(f_ok, F.col(f"_f_{c}"))
            .alias(f"{c}{suffix}")
            for c in value_cols
        ]
    return out.select(*[F.col(c) for c in left_cols], *sel)


def asof_join_broadcast(
    left: DataFrame,
    right: DataFrame,
    entity: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """As-of join for SMALL right sides (snapshot stats, vocabularies):
    broadcast equi-join on entity with ``right.ts <= left.ts``, then
    ``row_number`` keeps the latest right row per left anchor.

    No shuffle of the big left side beyond the window partitioning; the
    right side ships to every executor. Row explosion bounded by
    right-rows-per-entity — keep the right side aggregated.
    """
    value_cols = value_cols or [c for c in right.columns if c not in (entity, right_ts)]
    left_cols = left.columns

    lid = left.withColumn("_lid", F.monotonically_increasing_id())
    r = right.select(
        F.col(entity).alias("_re"),
        epoch_micros(F.col(right_ts)).alias("_rt"),
        *[F.col(c).alias(f"_rv_{c}") for c in value_cols],
    )
    joined = lid.join(
        F.broadcast(r),
        (lid[entity] == r["_re"]) & (r["_rt"] <= epoch_micros(F.col(left_ts))),
        "left",
    )
    w = Window.partitionBy("_lid").orderBy(F.col("_rt").desc_nulls_last())
    picked = joined.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return picked.select(
        *[F.col(c) for c in left_cols],
        *[F.col(f"_rv_{c}").alias(f"{c}{suffix}") for c in value_cols],
    )


def asof_join_packed(
    left: DataFrame,
    right: DataFrame,
    entity: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
    tolerance_seconds: float | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """As-of join that NEVER re-shuffles a pre-partitioned left side —
    the pipeline fast path.

    :func:`asof_join`'s union-tag plan is optimal for two cold tables,
    but a union can never reuse an existing partitioning, so dropping
    it at the end of a window-feature stack re-shuffles the entire
    feature table a second time (at 10^12 turns, that second exchange
    IS the job cost — plan-audited: the union path moves ~2.3x the
    bytes of this one on the benchmark pipeline).

    Algorithm: pack the right side to ONE row per entity — a sorted
    array of (ts, values) structs built by ``groupBy(entity)`` with
    map-side partial aggregation — then equi-join on the entity key
    and binary-pick the last packed element with ``ts <= left.ts``
    (row-local array expressions). The join requires clustering and
    ordering BY THE ENTITY PREFIX only, which a window-feature left
    side already satisfies, so Catalyst reuses the existing exchange
    and sort: the big side moves ZERO additional bytes; only the
    entity-sized packed table shuffles.

    Contract: right rows per entity must be bounded (tool calls, state
    changes, dimension updates — not another event stream); the packed
    array lives in one aggregation buffer. For dense right sides use
    :func:`asof_join`; for tiny ones :func:`asof_join_broadcast`.

    Tie semantics match :func:`asof_join` (``<=``); when several right
    rows share (entity, ts) the row greatest in (ts, values) order
    wins — and unlike the union-tag path, which carries each value
    column's last non-null independently, this picks WHOLE ROWS
    (pandas ``merge_asof`` parity). Tolerance in integer µs as in
    :func:`asof_join`.
    """
    value_cols = value_cols or [
        c for c in right.columns if c not in (entity, right_ts)
    ]
    left_cols = left.columns

    r_sel = right.select(
        F.col(entity).alias("_e"),
        F.struct(
            epoch_micros(F.col(right_ts)).alias("_t"),
            *[F.col(c).alias(f"_v_{c}") for c in value_cols],
        ).alias("_s"),
    )
    packed = (
        r_sel.filter(F.col("_e").isNotNull())
        .groupBy("_e")
        .agg(F.sort_array(F.collect_list("_s")).alias("_pk"))
    )
    # NULL-entity parity with asof_join: its Window.partitionBy groups
    # NULL-keyed rows into one partition and matches them to each
    # other, while a plain == join would null out every NULL-keyed
    # anchor. eqNullSafe would fix that but partitions the join on
    # (coalesce(key), isnull(key)) — which does NOT match the window
    # stack's hashpartitioning(key), so sort-merge would RE-SHUFFLE the
    # entire left side: the exact exchange this operator exists to
    # avoid. Instead the null group (at most ONE packed row) rides a
    # broadcast nested-loop join gated on `entity IS NULL` — row-local,
    # partitioning-preserving, and the extra right scan is pruned to
    # nothing by parquet null-count statistics when no nulls exist.
    packed_null = (
        r_sel.filter(F.col("_e").isNull())
        .groupBy()
        .agg(F.sort_array(F.collect_list("_s")).alias("_pk0"))
        .filter(F.size("_pk0") > 0)
    )

    lt = epoch_micros(F.col(left_ts))
    joined = (
        left.join(packed, left[entity] == packed["_e"], "left")
        .drop("_e")
        .join(F.broadcast(packed_null), F.col(entity).isNull(), "left")
    )
    hits = F.filter(F.coalesce(F.col("_pk"), F.col("_pk0")), lambda s: s["_t"] <= lt)
    # ANSI-safe: null when no match / entity absent from the right side
    pick = F.try_element_at(hits, F.lit(-1))
    if tolerance_seconds is not None:
        tolerance_us = int(round(float(tolerance_seconds) * 1_000_000))
        pick = F.when((lt - pick["_t"]) <= F.lit(tolerance_us), pick)
    return joined.select(
        *[F.col(c) for c in left_cols],
        *[pick[f"_v_{c}"].alias(f"{c}{suffix}") for c in value_cols],
    )


def range_join_agg(
    left: DataFrame,
    right: DataFrame,
    entity: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    window_seconds: float = 3600.0,
    value_col: str = "value",
    funcs: tuple[str, ...] = ("count", "sum"),
    prefix: str | None = None,
) -> DataFrame:
    """Time-range join: for every left anchor, aggregate right rows with
    ``left.ts - window <= right.ts <= left.ts`` for the same entity
    (both bounds inclusive). Past-only ⇒ leakage-free.

    Scale path — NO unbounded inequality join: both sides are bucketed
    by ``floor(ts / window)``; each right row is replicated to its own
    bucket and the next (the only two buckets whose anchors can match),
    the join is a plain equi-join on (entity, bucket), and the exact
    range predicate filters the at-most-2x candidates. Cost: one 2x
    duplication of the (projected) right side + one shuffle join +
    one partial-aggregatable groupBy, instead of a per-entity cross
    product.
    """
    _aggs = {
        "count": lambda c: F.count(c),
        "sum": lambda c: F.sum(c),
        "mean": lambda c: F.avg(c),
        "min": lambda c: F.min(c),
        "max": lambda c: F.max(c),
    }
    unknown = set(funcs) - set(_aggs)
    if unknown:
        raise ValueError(f"unsupported range aggs: {sorted(unknown)}")
    prefix = prefix if prefix is not None else f"{value_col}_range"
    # Integer-µs arithmetic end to end: the boundary predicate
    # ``rt >= lt - win`` on ~1.7e9 epoch-second doubles can flip at
    # exactly the window edge (half-ulp ≈ 2.4e-7 s); bigint µs cannot.
    win_us = int(round(float(window_seconds) * 1_000_000))
    left_cols = left.columns

    lid = left.withColumn("_aid", F.monotonically_increasing_id()).withColumn(
        "_lt", epoch_micros(F.col(left_ts))
    )
    lk = lid.withColumn("_bkt", F.floor(F.col("_lt") / F.lit(win_us)))

    r = right.select(
        F.col(entity).alias("_re"),
        epoch_micros(F.col(right_ts)).alias("_rt"),
        F.col(value_col).alias("_rv"),
    )
    rk = r.withColumn(
        "_bkt", F.explode(F.array(F.floor(F.col("_rt") / F.lit(win_us)), F.floor(F.col("_rt") / F.lit(win_us)) + 1))
    )

    j = lk.join(
        rk,
        (lk[entity] == rk["_re"]) & (lk["_bkt"] == rk["_bkt"]),
        "left",
    )
    in_range = (F.col("_rt") >= F.col("_lt") - F.lit(win_us)) & (F.col("_rt") <= F.col("_lt"))
    matched = F.when(in_range, F.col("_rv"))

    out = j.groupBy("_aid").agg(
        *[F.first(c).alias(c) for c in left_cols],
        *[_aggs[f](matched).alias(f"{prefix}_{f}") for f in funcs],
    )
    # count over an all-null group yields 0 (SQL), matching "no rows in range"
    return out.select(
        *left_cols, *[F.col(f"{prefix}_{f}") for f in funcs]
    )
