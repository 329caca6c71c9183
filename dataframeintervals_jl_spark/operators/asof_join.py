"""As-of (nearest-event) join — engine extension beyond the reference.

The reference has no as-of join (SURVEY.md §2.C: interval overlap is its
only join); a training-data pipeline needs one constantly (attach the
latest state/annotation at-or-before each sample's timestamp).

Spark-first execution: the classic union+window rewrite instead of a
range join.  Tag both inputs, union them, and carry the most recent
right row forward with ``last(..., ignorenulls=True)`` over a window
partitioned by the ``by`` keys and ordered by (time, tag).  Cost: ONE
shuffle on the ``by`` keys (the same shuffle a groupBy would do) —
horizontally scalable at 100 TB, with no nested-loop join and no
per-key skew beyond what the key distribution itself has.  A range-join
formulation would be O(n·m) per key; this is O((n+m) log(n+m)) per
partition (the window sort), and the sort is spillable.

With NO ``by`` keys a keyless window would collapse to one task, so the
global case range-buckets rows by time instead (:mod:`.range_buckets`).

Right rows sort BEFORE left rows at equal timestamps, so an exact
timestamp tie matches (``t_right <= t_left``), exactly like DuckDB's
``ASOF JOIN`` (the correctness oracle).
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .range_buckets import BUCKET, attach, bucketize, summarize

_TAG = "__dfi_asof_tag"
_CARRY = "__dfi_asof_carry"
_RTIME = "__dfi_asof_rtime"


def _bucketed_global_fill(unioned, left_cols, left_on, direction):
    """Scalable carry-forward for the GLOBAL (no ``by`` keys) as-of case.

    ``Window.partitionBy()`` with no keys funnels the whole dataset
    through one task, so instead: range-bucket rows by time (see
    :mod:`.range_buckets`), run the carry window inside each bucket in
    parallel, and fix bucket boundaries by prefix-carrying each bucket's
    last right row across buckets."""
    asc = direction == "backward"
    u = bucketize(unioned, F.col(left_on))
    # per-bucket boundary: the last right row of each bucket in scan
    # order (max/min rtime; payload via max_by — ties at equal rtime are
    # resolved arbitrarily, same contract as the window carry itself)
    summ = summarize(
        u,
        F.max_by(F.col(_CARRY), F.col(_RTIME) if asc else -F.col(_RTIME)).alias("bc"),
        (F.max(_RTIME) if asc else F.min(_RTIME)).alias("br"),
    )
    inc_rows, last = [], (None, None)
    for r in summ if asc else reversed(summ):
        inc_rows.append((r[BUCKET], *last))
        if r["br"] is not None:
            last = (r["bc"], r["br"])

    order = [
        F.col(left_on).asc() if asc else F.col(left_on).desc(),
        F.col(_TAG).asc(),
    ]
    w = Window.partitionBy(BUCKET).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    within = u.select(
        *[F.col(c) for c in left_cols],
        F.col(_TAG),
        F.col(BUCKET),
        F.last(_CARRY, ignorenulls=True).over(w).alias(_CARRY),
        F.last(_RTIME, ignorenulls=True).over(w).alias(_RTIME),
    ).filter(F.col(_TAG) == 1)
    carry_type = unioned.schema[_CARRY].dataType
    return attach(
        within, inc_rows, {"__inc_c": carry_type, "__inc_r": "long"}
    ).select(
        *[F.col(c) for c in left_cols],
        F.col(_TAG),
        F.coalesce(F.col(_CARRY), F.col("__inc_c")).alias(_CARRY),
        F.coalesce(F.col(_RTIME), F.col("__inc_r")).alias(_RTIME),
    )


def _bucketed_global_fill_nearest(unioned, left_cols, left_on):
    """Keyless NEAREST: the same range-bucket structure as
    :func:`_bucketed_global_fill`, but carrying BOTH directions in one
    ascending pass — backward via last-over-preceding, forward via
    first-over-following — with two boundary maps (prefix of each
    bucket's last right row, suffix of each bucket's first right row)
    folded from ONE per-bucket summary."""
    u = bucketize(unioned, F.col(left_on))
    summ = summarize(
        u,
        F.max_by(F.col(_CARRY), F.col(_RTIME)).alias("lc"),
        F.max(_RTIME).alias("lr"),
        F.min_by(F.col(_CARRY), F.col(_RTIME)).alias("fc"),
        F.min(_RTIME).alias("fr"),
    )
    inc, last = {}, (None, None)
    for r in summ:  # prefix: last right row BEFORE this bucket
        inc[r[BUCKET]] = last
        if r["lr"] is not None:
            last = (r["lc"], r["lr"])
    rows, nxt = [], (None, None)
    for r in reversed(summ):  # suffix: first right row AFTER
        rows.append((r[BUCKET], *inc[r[BUCKET]], *nxt))
        if r["fr"] is not None:
            nxt = (r["fc"], r["fr"])

    w = Window.partitionBy(BUCKET).orderBy(F.col(left_on).asc(), F.col(_TAG).asc())
    wb = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    within = u.select(
        *[F.col(c) for c in left_cols],
        F.col(_TAG),
        F.col(BUCKET),
        F.last(_CARRY, ignorenulls=True).over(wb).alias("__bc"),
        F.last(_RTIME, ignorenulls=True).over(wb).alias("__br"),
        F.first(_CARRY, ignorenulls=True).over(wf).alias("__fc"),
        F.first(_RTIME, ignorenulls=True).over(wf).alias("__fr"),
    ).filter(F.col(_TAG) == 1)
    ct = unioned.schema[_CARRY].dataType
    cols = {"__inc_c": ct, "__inc_r": "long", "__nxt_c": ct, "__nxt_r": "long"}
    return attach(within, rows, cols).select(
        *[F.col(c) for c in left_cols],
        F.col(_TAG),
        *[
            F.coalesce(F.col(c), F.col(b)).alias(c)
            for c, b in zip(("__bc", "__br", "__fc", "__fr"), cols)
        ],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Union[str, tuple] = "ts",
    by: Union[str, Sequence[str], None] = None,
    direction: str = "backward",
    tolerance: Optional[int] = None,
    suffix: str = "_right",
) -> DataFrame:
    """For each left row, attach the single nearest right row.

    ``direction='backward'`` (default): latest right row with
    ``r.on <= l.on``; ``'forward'``: earliest right row with
    ``r.on >= l.on``; ``'nearest'``: whichever of those two is closer
    in time (exact distance ties go to the backward row — pandas
    ``merge_asof``'s direction set, same semantics).  ``by`` equi-keys
    restrict matches (e.g. per user).  ``tolerance`` (same unit as
    ``on``, typically ns) nulls the match when the time gap (absolute,
    for nearest) exceeds it.

    Output: all left columns, then each right payload column renamed
    with ``suffix`` (the right ``on`` column becomes ``on + suffix``
    too, holding the matched timestamp).  Unmatched left rows keep
    nulls — left-outer semantics, one output row per left row (ties on
    the right side resolved by the later row in input order being
    carried; pre-aggregate the right side if you need a different rule).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            "direction must be 'backward', 'forward' or 'nearest', "
            f"got {direction!r}"
        )
    left_on, right_on = (on, on) if isinstance(on, str) else on
    by_cols = [by] if isinstance(by, str) else list(by or [])
    for c in [left_on] + by_cols:
        if c not in left.columns:
            raise ValueError(f"column {c!r} not found in left table")
    for c in [right_on] + by_cols:
        if c not in right.columns:
            raise ValueError(f"column {c!r} not found in right table")

    # generic domains (same contract as the interval joins): date /
    # timestamp on-columns compute on exact integer ordinals (days /
    # epoch-µs) and the two output time columns restore each side's
    # domain.  Without this, a date column would fail the tagged union
    # and a timestamp would be cast to lossy SECONDS.
    def _dom_of(df, c):
        t = df.schema[c].dataType.simpleString()
        return t if t in ("date", "timestamp", "timestamp_ntz") else None

    dom_l, dom_r = _dom_of(left, left_on), _dom_of(right, right_on)
    if (dom_l is None) != (dom_r is None) or (
        dom_l is not None and (dom_l == "date") != (dom_r == "date")
    ):
        raise ValueError(
            f"asof_join `on` domains do not match: left is "
            f"{dom_l or 'numeric'}, right is {dom_r or 'numeric'}"
        )
    if dom_l is not None:
        import datetime as _dt

        from ..functions.spans import endpoint_to_ordinal as _conv

        left = left.withColumn(left_on, _conv(F.col(left_on), dom_l))
        right = right.withColumn(right_on, _conv(F.col(right_on), dom_r))
        if isinstance(tolerance, _dt.timedelta):
            if dom_l == "date":
                if tolerance % _dt.timedelta(days=1):
                    raise ValueError(
                        f"tolerance {tolerance!r} is not a whole number "
                        "of days — the date domain counts day ordinals, "
                        "so sub-day components would be silently dropped"
                    )
                tolerance = tolerance.days
            else:
                tolerance = tolerance // _dt.timedelta(microseconds=1)
        elif tolerance is not None:
            # a bare integer would silently change units by domain (ns
            # for numeric on-columns, days for date, µs for timestamp)
            # — a ns-thinking caller against a timestamp column would
            # get a 1000×-too-large window with no error
            raise TypeError(
                f"tolerance for a {dom_l} `on` column must be a "
                f"datetime.timedelta (got {type(tolerance).__name__}); "
                "bare integers are only accepted for numeric epoch-ns "
                "columns"
            )

    right_payload = [c for c in right.columns if c != right_on and c not in by_cols]
    out_right_names = {c: f"{c}{suffix}" for c in right_payload}
    clash = [n for n in out_right_names.values() if n in left.columns]
    clash += [f"{left_on}{suffix}"] if f"{left_on}{suffix}" in left.columns else []
    if clash:
        raise ValueError(f"suffixed right columns clash with left columns: {clash}")

    # Tagged union: right rows carry their payload in ONE struct column
    # (so a legitimately-null payload field is still carried — carrying
    # fields separately with ignorenulls would resurrect older values).
    l_tagged = left.select(
        *[F.col(c) for c in left.columns],
        F.lit(1).alias(_TAG),
        F.lit(None).cast("struct<" + ",".join(
            f"`{c}`: {right.schema[c].dataType.simpleString()}" for c in right_payload
        ) + ">" if right_payload else "struct<__dummy: int>").alias(_CARRY),
        F.lit(None).cast("long").alias(_RTIME),
    )
    r_tagged = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in by_cols and c != left_on],
        *[F.col(c) for c in by_cols],
        F.col(right_on).cast("long").alias(left_on),
        F.lit(0).alias(_TAG),
        (F.struct(*[F.col(c) for c in right_payload]) if right_payload
         else F.struct(F.lit(0).alias("__dummy"))).alias(_CARRY),
        F.col(right_on).cast("long").alias(_RTIME),
    ).select(*l_tagged.columns)  # align column order

    unioned = l_tagged.unionByName(r_tagged)

    if direction == "nearest":
        # both carries in ONE ascending sort: backward = last right row
        # at-or-before (equal timestamps land here — right sorts before
        # left at ties), forward = first right row strictly after; the
        # closer one wins, exact ties go backward (the earlier row).
        if by_cols:
            order = [F.col(left_on).asc(), F.col(_TAG).asc()]
            wb = (
                Window.partitionBy(*by_cols)
                .orderBy(*order)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            wf = (
                Window.partitionBy(*by_cols)
                .orderBy(*order)
                .rowsBetween(Window.currentRow, Window.unboundedFollowing)
            )
            filled = unioned.select(
                *[F.col(c) for c in left.columns],
                F.col(_TAG),
                F.last(_CARRY, ignorenulls=True).over(wb).alias("__bc"),
                F.last(_RTIME, ignorenulls=True).over(wb).alias("__br"),
                F.first(_CARRY, ignorenulls=True).over(wf).alias("__fc"),
                F.first(_RTIME, ignorenulls=True).over(wf).alias("__fr"),
            ).filter(F.col(_TAG) == 1)
        else:
            filled = _bucketed_global_fill_nearest(
                unioned, left.columns, left_on
            )
        lts = F.col(left_on).cast("long")
        bgap, fgap = lts - F.col("__br"), F.col("__fr") - lts
        use_f = F.col("__fr").isNotNull() & (
            F.col("__br").isNull() | (fgap < bgap)
        )
        filled = filled.select(
            *[F.col(c) for c in left.columns],
            F.col(_TAG),
            F.when(use_f, F.col("__fc")).otherwise(F.col("__bc")).alias(_CARRY),
            F.when(use_f, F.col("__fr")).otherwise(F.col("__br")).alias(_RTIME),
        )
    elif by_cols:
        if direction == "backward":
            order = [F.col(left_on).asc(), F.col(_TAG).asc()]
        else:
            order = [F.col(left_on).desc(), F.col(_TAG).asc()]
        w = (
            Window.partitionBy(*by_cols)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = unioned.select(
            *[F.col(c) for c in left.columns],
            F.col(_TAG),
            F.last(_CARRY, ignorenulls=True).over(w).alias(_CARRY),
            F.last(_RTIME, ignorenulls=True).over(w).alias(_RTIME),
        ).filter(F.col(_TAG) == 1)
    else:
        # no keys: a keyless window would collapse to ONE task — use the
        # range-bucketed two-pass carry instead (parallel at any scale)
        filled = _bucketed_global_fill(unioned, left.columns, left_on, direction)

    # a NULL left time matches nothing (as in SQL ASOF JOIN); the keyed
    # windows sort it beside the NULL-time right rows, whose carried
    # payload would otherwise pair with another row's time
    matched = F.col(_RTIME).isNotNull() & F.col(left_on).isNotNull()
    if tolerance is not None:
        if direction == "backward":
            gap = F.col(left_on).cast("long") - F.col(_RTIME)
        elif direction == "forward":
            gap = F.col(_RTIME) - F.col(left_on).cast("long")
        else:
            gap = F.abs(F.col(_RTIME) - F.col(left_on).cast("long"))
        matched = matched & (gap <= F.lit(int(tolerance)))

    from ..functions.spans import ordinal_to_endpoint as _back

    out = [
        _back(F.col(c), dom_l).alias(c)
        if (c == left_on and dom_l is not None)
        else F.col(c)
        for c in left.columns
    ]
    rt = F.when(matched, F.col(_RTIME))
    if dom_r is not None:
        rt = _back(rt, dom_r)
    out.append(rt.alias(f"{left_on}{suffix}"))
    for c in right_payload:
        out.append(
            F.when(matched, F.col(_CARRY).getField(c)).alias(out_right_names[c])
        )
    return filled.select(*out)


def funnel_counts(
    events: DataFrame,
    steps: Sequence[str],
    within: int,
    ts_col: str = "ts",
    type_col: str = "event_type",
    by: str = "user_id",
) -> DataFrame:
    """Ordered-funnel analysis: per funnel stage, how many distinct
    ``by`` keys complete steps ``1..i`` IN ORDER with every later step
    strictly after the previous one and the whole chain within
    ``within`` (same unit as ``ts_col``) of its step-1 anchor — the
    conversion-funnel primitive (ClickHouse ``windowFunnel`` shape).

    Semantics (pinned for the oracle): EVERY step-1 event is an
    anchor; from an anchor the chain extends greedily to the EARLIEST
    step-i event strictly after the previous step's match; a key
    reaches stage ``i`` when any of its anchors does.  Greedy-earliest
    is optimal for a fixed anchor, and all anchors are enumerated, so
    the result is exact, not a heuristic.

    Built from the engine's own as-of machinery: stage ``i`` is a
    FORWARD :func:`asof_join` from the surviving anchors onto the
    step-``i`` events (strictness via a +1 ordinal shift on the
    anchor's probe time) followed by the window filter — so each stage
    is one per-key merge whose left side only ever SHRINKS.  Output:
    ``(stage, step, n_keys)``, one row per stage.

    Scale shape: s-1 as-of joins (each the bucketed per-key merge the
    as-of family already plans) + s tiny count-distinct aggregates;
    nothing driver-side grows with data volume.

    .. versionchanged:: round 8
       For DATE/TIMESTAMP ``ts_col`` the unit of ``within`` is now the
       exact ordinal unit (days for date, epoch-µs for timestamp/ntz)
       instead of the old raw long cast's epoch-SECONDS.  Callers who
       calibrated ``within`` against the previous seconds scale on a
       timestamp column must multiply by 1_000_000."""
    steps = list(steps)
    if len(steps) < 2:
        raise ValueError(f"need at least 2 steps, got {steps!r}")
    if int(within) <= 0:
        raise ValueError(f"within must be positive, got {within}")
    # Date/timestamp ts_col goes through the exact ordinal adapters
    # (days / epoch-µs), NOT a raw long cast — a raw cast on TIMESTAMP
    # yields epoch SECONDS, silently mismatching a µs-scale `within`.
    # `within` is therefore in ordinal units: days for date, µs for
    # timestamp/ntz, the column's own unit for numerics.
    from ..functions.spans import _DOMAIN_ORDINALS, endpoint_to_ordinal

    ts_type = events.schema[ts_col].dataType
    domain = next(
        (d for d, tp in _DOMAIN_ORDINALS.items() if isinstance(ts_type, tp)),
        None,
    )
    if domain is not None:
        ts_expr = endpoint_to_ordinal(F.col(ts_col), domain)
    elif isinstance(ts_type, (T.NumericType,)):
        ts_expr = F.col(ts_col).cast("long")
    else:
        raise TypeError(
            f"funnel_counts: ts_col {ts_col!r} must be numeric, date, or "
            f"timestamp; got {ts_type.simpleString()}"
        )
    ev = events.select(F.col(by), F.col(type_col), ts_expr.alias("__ts"))
    cur = ev.filter(F.col(type_col) == steps[0]).select(
        by, F.col("__ts").alias("__t1"), F.col("__ts").alias("__prev")
    )
    counts = []

    def _stage_count(df, i, name):
        return df.agg(
            F.lit(i).alias("stage"),
            F.lit(name).alias("step"),
            F.count_distinct(F.col(by)).alias("n_keys"),
        )

    counts.append(_stage_count(cur, 1, steps[0]))
    for i, st in enumerate(steps[1:], start=2):
        nxt = ev.filter(F.col(type_col) == st).select(
            by, F.col("__ts").alias("__on")
        )
        probe = cur.withColumn("__on", F.col("__prev") + F.lit(1))
        j = asof_join(
            probe, nxt, on="__on", by=by, direction="forward", suffix="_s"
        )
        cur = (
            j.filter(
                F.col("__on_s").isNotNull()
                & (F.col("__on_s") <= F.col("__t1") + F.lit(int(within)))
            )
            .select(by, "__t1", F.col("__on_s").alias("__prev"))
        )
        counts.append(_stage_count(cur, i, st))
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def attribution_weights(
    events: DataFrame,
    conversion_type: str,
    touch_types: Sequence[str],
    within: int,
    model: str = "last_touch",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    by: str = "user_id",
) -> DataFrame:
    """Multi-touch attribution: distribute each conversion's credit
    over the same-user touch events in its lookback window
    ``[conv_ts - within, conv_ts)`` — the companion of
    :func:`funnel_counts` on the measurement side of the event family
    (the reference has no event layer; SURVEY.md §2.C).

    Models (pinned for the oracle; ties inside a window break by
    ``(ts, id_col)`` total order):

    - ``'last_touch'`` — the latest touch gets weight 1;
    - ``'first_touch'`` — the earliest touch gets weight 1;
    - ``'linear'`` — every touch gets ``1/n`` (exact DOUBLE ``1.0/n``,
      reproducible cross-engine).

    Conversions with no in-window touch are unattributed and absent.
    Output: one row per (conversion, credited touch) —
    ``by``, ``conv_id``, ``conv_ts``, ``touch_id``, ``touch_type``,
    ``touch_ts``, ``weight`` — aggregate per ``touch_type``/campaign
    downstream.

    Scale shape: the candidate join is the engine's own keyed interval
    join (touches as width-1 point spans × conversion lookback
    windows, co-partitioned on ``by`` — only same-user pairs
    materialize), then one window over each conversion's own touches
    (bounded by touches-per-window).  Same domain contract as
    :func:`funnel_counts`: date/timestamp ``ts_col`` adapts to exact
    ordinals (``within`` is then days / µs); numeric stays as-is."""
    from ..functions.spans import _DOMAIN_ORDINALS, endpoint_to_ordinal
    from ..functions.spans import make_span
    from .interval_join import interval_join_by

    models = ("last_touch", "first_touch", "linear")
    if model not in models:
        raise ValueError(f"model must be one of {models}, got {model!r}")
    touch_types = list(touch_types)
    if not touch_types:
        raise ValueError("touch_types must be non-empty")
    if int(within) <= 0:
        raise ValueError(f"within must be positive, got {within}")
    ts_type = events.schema[ts_col].dataType
    domain = next(
        (d for d, tp in _DOMAIN_ORDINALS.items() if isinstance(ts_type, tp)),
        None,
    )
    if domain is not None:
        ts_expr = endpoint_to_ordinal(F.col(ts_col), domain)
    elif isinstance(ts_type, (T.NumericType,)):
        ts_expr = F.col(ts_col).cast("long")
    else:
        raise TypeError(
            f"attribution_weights: ts_col {ts_col!r} must be numeric, "
            f"date, or timestamp; got {ts_type.simpleString()}"
        )
    ev = events.select(
        F.col(by), F.col(type_col), F.col(id_col), ts_expr.alias("__ts")
    )
    conv = ev.filter(F.col(type_col) == conversion_type).select(
        by,
        F.col(id_col).alias("conv_id"),
        F.col("__ts").alias("conv_ts"),
        make_span(
            F.col("__ts") - F.lit(int(within)), F.col("__ts")
        ).alias("span"),
    )
    touch = ev.filter(F.col(type_col).isin(*touch_types)).select(
        by,
        F.col(id_col).alias("touch_id"),
        F.col(type_col).alias("touch_type"),
        F.col("__ts").alias("touch_ts"),
        make_span(F.col("__ts"), F.col("__ts") + F.lit(1)).alias("span"),
    )
    pairs = interval_join_by(
        touch, conv, by=by, validate="skip"
    ).select(
        by, "conv_id", "conv_ts", "touch_id", "touch_type", "touch_ts"
    )
    w = Window.partitionBy("conv_id")
    if model == "linear":
        weight = F.lit(1.0) / F.count(F.lit(1)).over(w)
        credited = pairs.select("*", weight.alias("weight"))
    else:
        order = (
            [F.col("touch_ts").desc(), F.col("touch_id").desc()]
            if model == "last_touch"
            else [F.col("touch_ts").asc(), F.col("touch_id").asc()]
        )
        rn = F.row_number().over(w.orderBy(*order))
        credited = (
            pairs.select("*", rn.alias("__rn"))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .withColumn("weight", F.lit(1.0))
        )
    return credited.select(
        by, "conv_id", "conv_ts", "touch_id", "touch_type", "touch_ts",
        "weight",
    )


def markov_transitions(
    events: DataFrame,
    by: str = "user_id",
    type_col: str = "event_type",
    order_cols: Sequence[str] = ("ts", "event_id"),
) -> DataFrame:
    """First-order Markov transition matrix over per-key event
    sequences: for every ordered pair of consecutive events of the
    same ``by`` key, count ``(from_type -> to_type)`` and report the
    empirical transition probability in exact ppm — the
    next-event-prediction / behavioral-flow primitive (the shape of
    ClickHouse ``sequenceCount`` / product-analytics "flows").

    Semantics (pinned for the oracle): events of a key are ordered by
    ``order_cols`` (the trailing column must be a unique tie-break —
    default ``event_id`` — so the sequence is deterministic); the
    successor is the next event of the SAME key; rows whose type or
    successor type is NULL are dropped; ``prob_ppm`` is the truncating
    integer ``n * 1_000_000 DIV n_from`` so the matrix is exact (no
    distributed double sums).

    Scale shape: one window over the high-cardinality ``by`` key (the
    same single shuffle a groupBy would do, spillable sort) + one
    partial-agged groupBy bounded by ``|types|^2`` rows + a broadcast
    join of the per-from totals (bounded by ``|types|``).  Nothing
    driver-side; no cartesian.

    Output: ``(from_type, to_type, n, n_from, prob_ppm)``.
    """
    ordering = [F.col(c) for c in order_cols]
    w = Window.partitionBy(by).orderBy(*ordering)
    seq = events.select(
        F.col(type_col).alias("from_type"),
        F.lead(F.col(type_col)).over(w).alias("to_type"),
    ).filter(F.col("from_type").isNotNull() & F.col("to_type").isNotNull())
    c = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    # The totals branch would otherwise REPLAY the scan + window +
    # pair-count subtree (Spark plans the DAG as a tree) — at scale
    # that doubles the one wide shuffle.  The pair table is bounded by
    # |types|^2 rows, so an eager localCheckpoint is free and both
    # consumers read the materialized counts.
    c = c.localCheckpoint(eager=True)
    totals = c.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (
        c.join(F.broadcast(totals), "from_type")
        .withColumn(
            "prob_ppm", F.expr("(n * 1000000L) div n_from")
        )
        .select("from_type", "to_type", "n", "n_from", "prob_ppm")
    )


def event_path_counts(
    events: DataFrame,
    by: str = "user_id",
    type_col: str = "event_type",
    order_cols: Sequence[str] = ("ts", "event_id"),
    depth: int = 3,
    min_count: int = 1,
) -> DataFrame:
    """N-step path mining over per-key event sequences: count every
    run of ``depth`` consecutive events of the same key — the
    product-analytics "top paths" view (:func:`markov_transitions` is
    the ``depth=2`` transition special case with probabilities).

    Semantics (pinned for the oracle): the sequence order is
    ``order_cols`` (trailing unique tie-break); a path must be fully
    inside one key's sequence; any NULL step drops the path; paths
    with fewer than ``min_count`` occurrences are filtered.

    Scale shape: ONE window pass (all ``depth-1`` leads share the
    same window spec, so Catalyst evaluates them in a single Window
    node over one keyed shuffle) + a partial-agged groupBy bounded by
    ``|types|^depth``.  No Python.

    Output: ``(step_1 .. step_{depth}, n)``.
    """
    if depth < 2:
        raise ValueError(f"depth must be >= 2, got {depth}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    ordering = [F.col(c) for c in order_cols]
    w = Window.partitionBy(by).orderBy(*ordering)
    steps = [F.col(type_col).alias("step_1")] + [
        F.lead(F.col(type_col), i).over(w).alias(f"step_{i + 1}")
        for i in range(1, depth)
    ]
    names = [f"step_{i + 1}" for i in range(depth)]
    seq = events.select(*steps)
    cond = None
    for nm in names:
        c = F.col(nm).isNotNull()
        cond = c if cond is None else (cond & c)
    out = (
        seq.filter(cond)
        .groupBy(*names)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if min_count > 1:
        out = out.filter(F.col("n") >= min_count)
    return out
