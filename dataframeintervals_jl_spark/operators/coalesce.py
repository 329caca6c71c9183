"""Interval-set operators: coalesce (union), gaps, coverage,
complement, difference, and the sweep-line overlap profile.

Engine extension beyond the reference (its only set-ish operation is
the covering span, ``dfspan`` — src/DataFrameIntervals.jl:380-387):
training-data pipelines constantly merge annotation/event spans into
islands ("any coverage" regions), measure covered time, and find the
uncovered gaps.

Execution is the classic gaps-and-islands rewrite, Spark-first:

- keyed (``by`` given): ONE shuffle on the keys; a running ``max(stop)``
  window finds island breaks, a running sum numbers islands, and a
  groupBy collapses them.  O((n log n)/partition), spillable, no UDFs.
- global (``by=None``): a keyless window would collapse to one task, so
  rows are range-bucketed by start time and island breaks/numbers are
  carried across buckets (:mod:`.range_buckets`) — the distributed plan
  contains no single-partition exchange.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import driver_row
from ..functions.spans import (
    make_span,
    py_endpoint_to_ordinal,
    span_endpoint_domain,
    span_from_ordinal,
    span_to_ordinal,
)
from .interval_join import _register_persisted
from .range_buckets import BUCKET, attach, bucketize, summarize

_PMAX = "__dfi_mrg_pmax"
_BRK = "__dfi_mrg_brk"
_ISL = "__dfi_mrg_isl"


def _by_cols(by) -> list:
    return [by] if isinstance(by, str) else list(by or [])


def _to_ordinal(df: DataFrame, spancol: str):
    """Entry adapter for the generic-endpoint-domain contract (same as
    interval_join's): date/timestamp span columns compute on exact
    integer ordinals; ``None`` domain = numeric no-op."""
    from ..functions.spans import normalize_span_field_order

    df = normalize_span_field_order(df, spancol)
    dom = span_endpoint_domain(df.schema[spancol].dataType)
    if dom is None:
        return df, None
    return df.withColumn(spancol, span_to_ordinal(F.col(spancol), dom)), dom


def _restore_ordinal(df: DataFrame, spancol: str, dom):
    if dom is None:
        return df
    return df.withColumn(spancol, span_from_ordinal(F.col(spancol), dom))


def merge_spans(
    df: DataFrame,
    spancol: str = "span",
    by: Union[str, Sequence[str], None] = None,
    merge_touching: bool = True,
) -> DataFrame:
    """Coalesce overlapping spans into maximal islands.

    Output: ``by`` columns + ``spancol`` (the island) + ``n_spans``
    (inputs merged into it).  ``merge_touching=True`` (default) also
    merges exactly-adjacent spans ``[a,b) + [b,c) -> [a,c)``;
    ``False`` keeps them separate (strict-overlap islands).  Spans with
    a NULL start have no place in the order and are dropped.

    Generic over endpoint domains: date/timestamp span columns merge on
    exact integer ordinals and return islands in the input domain.

    Cache note: the keyless path (``by=None``, also under
    :func:`span_gaps`, :func:`span_complement` and
    :func:`span_difference`) persists its island-flagged rows, which
    the lazy result keeps reading.  After materializing the result,
    call :func:`~.interval_join.release_join_caches` to free them.
    """
    df, _dom = _to_ordinal(df, spancol)
    if _dom is not None:
        return _restore_ordinal(
            merge_spans(df, spancol, by, merge_touching), spancol, _dom
        )
    by_cols = _by_cols(by)
    start = F.col(spancol).getField("start")
    stop = F.col(spancol).getField("stop")
    df = df.filter(start.isNotNull())

    if by_cols:
        w = Window.partitionBy(*by_cols).orderBy(start, stop)
        pmax = F.max(stop).over(w.rowsBetween(Window.unboundedPreceding, -1))
        brk = _break_expr(start, pmax, merge_touching)
        isl = F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        flagged = df.select(*by_cols, F.col(spancol), isl.alias(_ISL))
        return (
            flagged.groupBy(*by_cols, _ISL)
            .agg(
                F.min(F.col(spancol).getField("start")).alias("__s"),
                F.max(F.col(spancol).getField("stop")).alias("__e"),
                F.count(F.lit(1)).alias("n_spans"),
            )
            .select(
                *by_cols,
                make_span(F.col("__s"), F.col("__e")).alias(spancol),
                "n_spans",
            )
        )
    return _merge_spans_global(df, spancol, merge_touching)


def _break_expr(start, pmax, merge_touching: bool):
    new = start > pmax if merge_touching else start >= pmax
    return F.when(pmax.isNull() | new, F.lit(1)).otherwise(F.lit(0))


def _merge_spans_global(
    df: DataFrame, spancol: str, merge_touching: bool
) -> DataFrame:
    """Global (keyless) coalesce via range buckets + driver boundary fix.

    Three tiny driver jobs (min/max, per-bucket max-stop, per-bucket
    corrected break counts) buy a fully parallel main pass; every
    summary is O(buckets)."""
    start = F.col(spancol).getField("start")
    stop = F.col(spancol).getField("stop")
    u = bucketize(df.select(F.col(spancol)), start)

    # pass 1: incoming running-max(stop) per bucket
    inc_rows, running = [], None
    for r in summarize(u, F.max(stop).alias("mx")):
        inc_rows.append((r[BUCKET], running))
        running = r["mx"] if running is None else max(running, r["mx"])

    w = Window.partitionBy(BUCKET).orderBy(start, stop)
    local_pmax = F.max(stop).over(w.rowsBetween(Window.unboundedPreceding, -1))
    eff_pmax = F.greatest(  # greatest skips nulls; all-null stays null
        local_pmax, F.col("__inc_max")
    )
    brk = _break_expr(start, eff_pmax, merge_touching)
    flagged = attach(u, inc_rows, {"__inc_max": "long"}).select(
        F.col(spancol),
        F.col(BUCKET),
        brk.alias(_BRK),
        F.sum(brk)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias(_ISL),
    )
    # persisted: the offsets pass and the final grouping both read it;
    # freed by release_join_caches()
    flagged = _register_persisted(flagged.persist())

    # pass 2: island-number offsets = prefix sums of per-bucket breaks
    off_rows, acc = [], 0
    for r in summarize(flagged, F.sum(_BRK).alias("c")):
        off_rows.append((r[BUCKET], acc))
        acc += int(r["c"] or 0)

    return (
        attach(flagged, off_rows, {"__off": "long"})
        .withColumn(_ISL, F.col(_ISL) + F.col("__off"))
        .groupBy(_ISL)
        .agg(
            F.min(start).alias("__s"),
            F.max(stop).alias("__e"),
            F.count(F.lit(1)).alias("n_spans"),
        )
        .select(make_span(F.col("__s"), F.col("__e")).alias(spancol), "n_spans")
    )


def span_gaps(
    df: DataFrame,
    spancol: str = "span",
    by: Union[str, Sequence[str], None] = None,
) -> DataFrame:
    """The uncovered gaps between a table's coalesced islands, per key:
    one row per gap ``[island_i.stop, island_{i+1}.start)``.  Touching
    islands produce no gap (merged away by :func:`merge_spans`).
    Generic over endpoint domains like :func:`merge_spans`."""
    df, _dom = _to_ordinal(df, spancol)
    if _dom is not None:
        return _restore_ordinal(span_gaps(df, spancol, by), spancol, _dom)
    by_cols = _by_cols(by)
    merged = merge_spans(df, spancol, by, merge_touching=True)
    start = F.col(spancol).getField("start")
    stop = F.col(spancol).getField("stop")
    if by_cols:
        w = Window.partitionBy(*by_cols).orderBy(start)
        nxt = F.lead(start).over(w)
        out = merged.select(*by_cols, F.col(spancol), nxt.alias("__next"))
    else:
        # keyless lead() would collapse to one task; islands are
        # disjoint, so bucket them by start and fix each bucket's last
        # island with the next bucket's first start (O(buckets) driver
        # summary — worst case islands are O(input), so this must stay
        # parallel just like the merge itself)
        out = _global_next_start(merged, spancol)
    return (
        out.filter(F.col("__next").isNotNull() & (F.col("__next") > stop))
        .select(*by_cols, make_span(stop, F.col("__next")).alias(spancol))
    )


def _global_next_start(merged: DataFrame, spancol: str) -> DataFrame:
    start = F.col(spancol).getField("start")
    u = bucketize(merged, start)
    nxt_rows, nxt = [], None
    for r in reversed(summarize(u, F.min(start).alias("mn"))):
        nxt_rows.append((r[BUCKET], nxt))
        nxt = r["mn"]
    w = Window.partitionBy(BUCKET).orderBy(start)
    return attach(u, nxt_rows, {"__bnext": "long"}).select(
        F.col(spancol),
        F.coalesce(F.lead(start).over(w), F.col("__bnext")).alias("__next"),
    )


def overlap_profile(
    df: DataFrame,
    spancol: str = "span",
    by: Union[str, Sequence[str], None] = None,
) -> DataFrame:
    """Sweep-line concurrency profile: disjoint segments ``[seg_start,
    seg_stop)`` with ``depth`` = number of input spans covering every
    point of the segment (per key).  Only covered segments (depth >= 1)
    are emitted — the depth-0 regions are :func:`span_gaps`.  Spans
    with a NULL start or stop cover nothing and are dropped.

    Execution: each span contributes boundary events ``(start, +1)``
    and ``(stop, -1)``; a groupBy collapses coincident boundaries
    (partial-aggregated map-side, so heavy ties never skew a task), and
    a per-key running sum turns deltas into depths, ``lead`` into
    segments.  Keyed: one shuffle pattern on the keys.  Global: the
    keyless running sum would collapse to one task, so positions are
    range-bucketed (:mod:`.range_buckets`).
    """
    df, _dom = _to_ordinal(df, spancol)
    if _dom is not None:
        return _restore_ordinal(
            overlap_profile(df, spancol, by), spancol, _dom
        )
    by_cols = _by_cols(by)
    start = F.col(spancol).getField("start")
    stop = F.col(spancol).getField("stop")
    pts = df.filter(start.isNotNull() & stop.isNotNull()).select(
        *by_cols,
        F.explode(
            F.array(
                F.struct(start.alias("pos"), F.lit(1).alias("d")),
                F.struct(stop.alias("pos"), F.lit(-1).alias("d")),
            )
        ).alias("__pt"),
    ).select(*by_cols, F.col("__pt.pos").alias("__pos"), F.col("__pt.d").alias("__d"))
    agg = pts.groupBy(*by_cols, "__pos").agg(F.sum("__d").alias("__delta"))

    if by_cols:
        w = Window.partitionBy(*by_cols).orderBy("__pos")
        prof = agg.select(
            *by_cols,
            F.col("__pos"),
            F.sum("__delta")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("__depth"),
            F.lead("__pos").over(w).alias("__nxt"),
        )
    else:
        prof = _global_running_profile(agg)

    return prof.filter(
        F.col("__nxt").isNotNull() & (F.col("__depth") > 0)
    ).select(
        *by_cols,
        make_span(F.col("__pos"), F.col("__nxt")).alias(spancol),
        F.col("__depth").cast("long").alias("depth"),
    )


def _global_running_profile(agg: DataFrame) -> DataFrame:
    """Keyless running sum + lead over (pos, delta) rows: per-bucket
    window, corrected by the prefix sum of per-bucket delta totals and,
    for each bucket's last ``lead``, the next bucket's first pos — both
    folded from ONE O(buckets) summary."""
    u = bucketize(agg, F.col("__pos"))
    summ = summarize(
        u, F.sum("__delta").alias("dsum"), F.min("__pos").alias("first_pos")
    )
    offs, acc = {}, 0
    for r in summ:
        offs[r[BUCKET]] = acc
        acc += int(r["dsum"] or 0)
    rows, nxt = [], None
    for r in reversed(summ):
        rows.append((r[BUCKET], offs[r[BUCKET]], nxt))
        nxt = r["first_pos"]

    w = Window.partitionBy(BUCKET).orderBy("__pos")
    return attach(u, rows, {"__off": "long", "__bnext": "long"}).select(
        "__pos",
        (
            F.sum("__delta").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            + F.col("__off")
        ).alias("__depth"),
        F.coalesce(F.lead("__pos").over(w), F.col("__bnext")).alias("__nxt"),
    )


def span_complement(
    right: DataFrame,
    lo: int,
    hi: int,
    spancol: str = "span",
    by: Union[str, Sequence[str], None] = None,
) -> DataFrame:
    """Complement of the span-set union within ``[lo, hi)``, per key:
    the regions NOT covered by any right span.  Built from
    :func:`merge_spans` islands — head ``[lo, first_start)``, the gaps,
    tail ``[last_stop, hi)``; zero-width pieces dropped.  Keys absent
    from ``right`` produce no rows (callers handle passthrough).
    Generic over endpoint domains: with a date/timestamp span column,
    pass ``lo`` / ``hi`` as python ``date`` / ``datetime`` values.
    """
    right, _dom = _to_ordinal(right, spancol)
    if _dom is not None:
        lo_v, dom_lo = py_endpoint_to_ordinal(lo)
        hi_v, dom_hi = py_endpoint_to_ordinal(hi)

        def _compat(d):
            # ints pass through (caller supplies the ordinal); datetime
            # bounds are valid for BOTH timestamp and timestamp_ntz
            # columns (same epoch-µs ordinal under the UTC session)
            return d is None or (d == "date") == (_dom == "date")

        if not (_compat(dom_lo) and _compat(dom_hi)):
            raise ValueError(
                f"span_complement bounds {lo!r}..{hi!r} do not match the "
                f"{_dom} span column"
            )
        return _restore_ordinal(
            span_complement(right, lo_v, hi_v, spancol, by), spancol, _dom
        )
    by_cols = _by_cols(by)
    # The island table feeds BOTH the head branch and the mid/tail
    # branch — without materialization the whole merge_spans subtree
    # (two Window passes + shuffles) is replayed once per reference in
    # the final plan (observed 4x in the masked-TWA composition).
    # Keyless: _global_next_start's driver summary forces an evaluation
    # immediately anyway, so an EAGER localCheckpoint is free and
    # collapses every downstream reference to a Scan ExistingRDD.
    # Keyed: stay lazy with persist (cache-manager reuse across the two
    # branches).  Islands are the COALESCED right side — never more
    # rows than right, typically a mask/dimension table — and both
    # storage paths spill to disk gracefully on a huge one.
    isl = merge_spans(right, spancol, by)
    isl = isl.persist() if by_cols else isl.localCheckpoint(eager=True)
    start = F.col(spancol).getField("start")
    stop = F.col(spancol).getField("stop")
    if by_cols:
        w = Window.partitionBy(*by_cols).orderBy(start)
        mid_tail = isl.select(
            *by_cols,
            stop.alias("__cs"),
            F.coalesce(F.lead(start).over(w), F.lit(hi)).alias("__ce"),
        )
        head = isl.groupBy(*by_cols).agg(F.min(start).alias("__ce")).select(
            *by_cols, F.lit(lo).cast("long").alias("__cs"), "__ce"
        )
    else:
        with_next = _global_next_start(isl, spancol)
        mid_tail = with_next.select(
            F.col(spancol).getField("stop").alias("__cs"),
            F.coalesce(F.col("__next"), F.lit(hi)).alias("__ce"),
        )
        # empty right → complement is the whole [lo, hi)
        head = isl.agg(
            F.coalesce(F.min(start), F.lit(hi)).alias("__ce")
        ).select(F.lit(lo).cast("long").alias("__cs"), "__ce")
    comp = head.unionByName(mid_tail).filter(F.col("__cs") < F.col("__ce"))
    return comp.select(
        *by_cols, make_span(F.col("__cs"), F.col("__ce")).alias(spancol)
    )


def span_difference(
    left: DataFrame,
    right: DataFrame,
    spancol: str = "span",
    by: Union[str, Sequence[str], None] = None,
    right_spancol: Optional[str] = None,
) -> DataFrame:
    """Interval subtraction: each left row minus the union of right
    spans (per key).  A left row yields 0+ fragment rows — its other
    columns duplicated, ``spancol`` replaced by the uncovered fragment;
    rows fully covered by right vanish.  Closed-open semantics.

    Scale design: NO per-row state or collected ids — the subtraction
    is rewritten as ``left ∩ complement(right)``.  The complement (one
    row per island boundary, bounded to left's observed value range so
    no sentinel span ever explodes a binned join) comes from
    :func:`merge_spans` (one shuffle).  Keyed: complement join is a
    plain key-equi hash join (one shuffle each side).  Global: the
    overlap join goes through :func:`~..operators.interval_join
    .interval_join`'s stats-driven auto strategy (broadcast when the
    complement is small, binned otherwise).  Keys present only in
    ``left`` pass through via a broadcast-friendly anti join on the
    (tiny, distinct-key) island table.
    """
    from .interval_join import interval_join  # local: avoid import cycle

    rcol0 = right_spancol or spancol
    left, _dl = _to_ordinal(left, spancol)
    right, _dr = _to_ordinal(right, rcol0)
    if _dl is not None or _dr is not None:
        # same policy as the join family: a numeric side mixed with a
        # domain side is always a unit error — reject instead of
        # producing ns-reinterpreted-as-days garbage
        if (_dl is None) != (_dr is None) or (_dl == "date") != (
            _dr == "date"
        ):
            raise ValueError(
                "span_difference: left and right span domains do not "
                f"share an ordinal unit ({_dl or 'numeric'} vs "
                f"{_dr or 'numeric'}); convert one side first "
                "(span_to_ordinal / span_from_ordinal)"
            )
        return _restore_ordinal(
            span_difference(left, right, spancol, by, right_spancol),
            spancol,
            _dl,  # output fragments live in LEFT's domain
        )

    by_cols = _by_cols(by)
    rcol = right_spancol or spancol
    lstart = F.col(spancol).getField("start")
    lstop = F.col(spancol).getField("stop")

    if by_cols:
        # keyed: the complement joins through a key-equi HASH join, so
        # arbitrarily wide head/tail sentinels are harmless (no binning)
        # — constant sentinels save a full left scan for the bounds agg
        lo, hi = -(1 << 63), (1 << 63) - 1
    else:
        # global: the overlap join may take the binned path, where a
        # sentinel span would explode into range/width bins — clip the
        # complement to left's observed value range (one tiny agg; the
        # row count rides the same action and gates the tiny-left fast
        # path below)
        bounds = driver_row(
            left.agg(
                F.min(lstart.cast("long")).alias("lo"),
                F.max(lstop.cast("long")).alias("hi"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        if bounds is None or bounds["lo"] is None:
            return left.limit(0)
        lo, hi = int(bounds["lo"]), int(bounds["hi"])
        if int(bounds["n"]) <= _TINY_LEFT_ROWS:
            return _span_difference_tiny_left(left, right, spancol, rcol)

    comp = span_complement(right, lo, hi, rcol, by)
    left_cols = left.columns

    if by_cols:
        cs = F.col("__cs")
        ce = F.col("__ce")
        comp_flat = comp.select(
            *[F.col(c).alias(f"__k_{c}") for c in by_cols],
            F.col(rcol).getField("start").alias("__cs"),
            F.col(rcol).getField("stop").alias("__ce"),
        )
        key_eq = [F.col(c) == F.col(f"__k_{c}") for c in by_cols]
        overlap = (cs < lstop) & (lstart < ce)
        frag = make_span(F.greatest(lstart, cs), F.least(lstop, ce))
        joined = left.join(
            comp_flat, reduce_and(key_eq + [overlap]), "inner"
        ).select(
            *[frag.alias(spancol) if c == spancol else F.col(c) for c in left_cols]
        )
        # keys with no right rows at all: left rows pass through whole
        # (no broadcast hint — key cardinality is unbounded; Catalyst/
        # AQE broadcasts the distinct-key table when it is small)
        keys_in_right = comp.select(*by_cols).distinct()
        passthrough = left.join(keys_in_right, by_cols, "left_anti")
        return joined.unionByName(passthrough.select(*left_cols))

    comp_only = comp.select(F.col(rcol).alias(spancol))
    j = interval_join(
        left,
        comp_only,
        on=spancol,
        renameon=("_left", "_right"),
        validate="skip",
    )
    # intersection column (named spancol) IS the fragment
    return j.select(
        *[F.col(c) if c != spancol else F.col(spancol) for c in left_cols]
    )


_TINY_LEFT_ROWS = 4096


def _span_difference_tiny_left(
    left: DataFrame, right: DataFrame, spancol: str, rcol: str
) -> DataFrame:
    """Keyless difference with a BROADCAST-TINY left (≤ 4096 rows, e.g.
    a windows table minus a large mask set).  The general global path
    builds the right side's complement with range buckets + O(buckets)
    driver summaries (~10 tiny driver jobs — correct at any right size,
    but pure latency when the left is dimension-sized).  Here instead:
    tag each right span with every left row it overlaps via ONE
    broadcast join, clip to the left span, coalesce per left-row id
    with the KEYED merge (pure window functions, zero driver jobs), and
    emit each row's uncovered pieces with one more window pass — the
    piece BEFORE each island ``[coalesce(lag(stop), l.start),
    isl.start)`` plus one tail piece ``[max(stop), l.stop)``.  Rows
    fully covered emit nothing; rows overlapping no right span pass
    through whole via an anti-join on the (tiny) island id set.

    Scale shape: the right side is scanned once and shuffled once on
    the left-row id; per-id groups hold ~right/n_left rows — n_left-way
    parallelism, the natural bound for a difference against n_left
    targets.  Ids come from ``monotonically_increasing_id`` over an
    eager localCheckpoint (tiny by precondition) so they are stable
    across the fragment and passthrough branches."""
    left_cols = left.columns
    _ID = "__dfi_sd_id"
    # parity with the general path: there the fragments come from an
    # INNER overlap join against the complement, so zero-width and
    # NULL left spans produce no output — without this filter the
    # passthrough anti-join would resurrect them
    lspan0 = F.col(spancol)
    lid = left.filter(
        lspan0.isNotNull()
        & (lspan0.getField("start") < lspan0.getField("stop"))
    ).withColumn(_ID, F.monotonically_increasing_id())
    lid = lid.localCheckpoint(eager=True)
    lspan = F.col(f"__dfi_sd_l.{spancol}")
    rspan = F.col(f"__dfi_sd_r.{rcol}")
    clipped = (
        right.alias("__dfi_sd_r")
        .join(
            F.broadcast(
                lid.select(_ID, spancol).alias("__dfi_sd_l")
            ),
            (rspan.getField("start") < lspan.getField("stop"))
            & (lspan.getField("start") < rspan.getField("stop")),
            "inner",
        )
        .select(
            F.col(f"__dfi_sd_l.{_ID}").alias(_ID),
            make_span(
                F.greatest(
                    rspan.getField("start"), lspan.getField("start")
                ),
                F.least(rspan.getField("stop"), lspan.getField("stop")),
            ).alias("__dfi_sd_c"),
        )
    )
    # islands feed three branches (before-pieces, tail pieces, the
    # passthrough anti-join) — persist so the right-side scan + keyed
    # merge run once; the island table is the coalesced overlap set
    isl = merge_spans(clipped, "__dfi_sd_c", by=_ID).persist()
    cspan = F.col("__dfi_sd_c")
    isl2 = isl.join(
        F.broadcast(lid.select(_ID, F.col(spancol).alias("__dfi_sd_lsp"))),
        _ID,
    )
    w_ord = Window.partitionBy(_ID).orderBy(cspan.getField("start"))
    piece_start = F.coalesce(
        F.lag(cspan.getField("stop")).over(w_ord),
        F.col("__dfi_sd_lsp").getField("start"),
    )
    before = isl2.select(
        _ID, make_span(piece_start, cspan.getField("start")).alias("__dfi_sd_f")
    )
    tail = (
        isl2.groupBy(_ID)
        .agg(
            F.max(cspan.getField("stop")).alias("__ps"),
            F.min(F.col("__dfi_sd_lsp").getField("stop")).alias("__pe"),
        )
        .select(
            _ID, make_span(F.col("__ps"), F.col("__pe")).alias("__dfi_sd_f")
        )
    )
    fspan = F.col("__dfi_sd_f")
    pieces = before.unionByName(tail).filter(
        fspan.getField("start") < fspan.getField("stop")
    )
    frag_rows = pieces.join(F.broadcast(lid), _ID).select(
        *[
            fspan.alias(spancol) if c == spancol else F.col(c)
            for c in left_cols
        ]
    )
    passthrough = lid.join(
        isl.select(_ID).distinct(), _ID, "left_anti"
    ).select(*left_cols)
    return frag_rows.unionByName(passthrough)


def reduce_and(conds):
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def span_coverage(
    df: DataFrame,
    spancol: str = "span",
    by: Union[str, Sequence[str], None] = None,
) -> DataFrame:
    """Total covered duration per key (overlaps counted ONCE — the
    measure of the span-set union, not the sum of raw durations).
    Domain spans report in ordinal units (days for date, µs for
    timestamps)."""
    df, _ = _to_ordinal(df, spancol)  # duration needs arithmetic units
    by_cols = _by_cols(by)
    merged = merge_spans(df, spancol, by, merge_touching=True)
    dur = F.col(spancol).getField("stop") - F.col(spancol).getField("start")
    if by_cols:
        return merged.groupBy(*by_cols).agg(
            F.sum(dur).alias("covered"),
            F.count(F.lit(1)).alias("n_islands"),
        )
    return merged.agg(
        F.sum(dur).alias("covered"), F.count(F.lit(1)).alias("n_islands")
    )


def interval_agreement(
    left: DataFrame,
    right: DataFrame,
    lo: int,
    hi: int,
    spancol: str = "span",
    by: Union[str, Sequence[str], None] = None,
) -> DataFrame:
    """Inter-annotator agreement over interval sets — Cohen's kappa on
    time, the reference's home-domain question ("how well do two
    annotators' artifact/seizure markings agree?", reference README:5's
    annotation tables): per key, the time-confusion durations over a
    shared domain ``[lo, hi)`` and the chance-corrected agreement.

    Both sides clamp to the domain, coalesce into disjoint islands
    (:func:`merge_spans`), and decompose exactly:
    ``t11 = Σ|A∩B|`` (pairwise overlap of the DISJOINT islands counts
    each instant once), ``t10 = |A| − t11``, ``t01 = |B| − t11``,
    ``t00 = (hi−lo) − |A| − |B| + t11`` — all exact ns integers.
    ``kappa = (po − pe) / (1 − pe)`` with ``po = (t11+t00)/T``,
    ``pe = pA·pB + (1−pA)·(1−pB)`` in one fixed-order double formula
    (round 6), NULL when ``pe = 1`` (both sides empty or both full —
    chance agreement is total, kappa undefined).  Keys present on one
    side only still report (their missing side contributes 0 ns).

    Scale shape: two keyed island merges (one shuffle each); the
    intersection measure goes through :func:`~.interval_join.
    interval_join_by` with strategy selection from exact per-key pair
    work, one aggregate — a raw key-equi join with the overlap as a
    residual filter would be quadratic in islands-per-key (m·n pairs
    per key before the filter); the auto planner keeps 'hash' only
    while the same-key pair work stays bounded and switches to the
    (keys, bin) composite join otherwise.  Partial-agged sums; nothing
    driver-side."""
    if not lo < hi:
        raise ValueError(f"need lo < hi, got [{lo}, {hi})")
    keys = _by_cols(by)
    if not keys:
        raise ValueError("interval_agreement: by key(s) required")

    def _clamped_islands(df: DataFrame) -> DataFrame:
        s = F.greatest(F.col(spancol).getField("start"), F.lit(lo))
        e = F.least(F.col(spancol).getField("stop"), F.lit(hi))
        c = df.select(*keys, make_span(s, e).alias(spancol)).filter(
            F.col(spancol).getField("start")
            < F.col(spancol).getField("stop")
        )
        return merge_spans(c, spancol=spancol, by=keys).select(
            *keys, spancol
        )

    from .interval_join import interval_join_by

    ia, ib = _clamped_islands(left), _clamped_islands(right)

    def _dur(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy(*keys).agg(
            F.sum(
                F.col(spancol).getField("stop")
                - F.col(spancol).getField("start")
            ).alias(name)
        )

    da, db = _dur(ia, "dur_a"), _dur(ib, "dur_b")
    j = interval_join_by(
        ia, ib, by=keys, on=spancol, validate="skip", strategy="auto"
    )
    inter = j.groupBy(*keys).agg(
        F.sum(
            F.col(spancol).getField("stop")
            - F.col(spancol).getField("start")
        ).alias("t11")
    )
    t = hi - lo
    j = (
        da.join(db, keys, "full")
        .join(inter, keys, "left")
        .select(
            *keys,
            F.coalesce("dur_a", F.lit(0)).alias("dur_a"),
            F.coalesce("dur_b", F.lit(0)).alias("dur_b"),
            F.coalesce("t11", F.lit(0)).alias("t11"),
        )
    )
    out = j.select(
        *keys,
        "t11",
        (F.col("dur_a") - F.col("t11")).alias("t10"),
        (F.col("dur_b") - F.col("t11")).alias("t01"),
        (F.lit(t) - F.col("dur_a") - F.col("dur_b") + F.col("t11")).alias(
            "t00"
        ),
        "dur_a",
        "dur_b",
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    td = F.lit(float(t))
    po = (d("t11") + d("t00")) / td
    pa = d("dur_a") / td
    pb = d("dur_b") / td
    pe = pa * pb + (F.lit(1.0) - pa) * (F.lit(1.0) - pb)
    kappa = F.when(
        pe != F.lit(1.0), (po - pe) / (F.lit(1.0) - pe)
    )
    return out.select(
        *keys, "t11", "t10", "t01", "t00",
        F.round(kappa, 6).alias("kappa"),
    )


def suppress_dominated_spans(
    df: DataFrame,
    score_col: str,
    id_col: str,
    by=None,
    on: str = "span",
    bounds: str = "[)",
    strategy: str = "auto",
) -> DataFrame:
    """Non-maximum suppression over interval sets: keep every span NOT
    overlapped by a strictly-stronger span of the same ``by`` key —
    the single-pass dominance filter annotation/labeling pipelines run
    to collapse overlapping detections (the interval analogue of
    vision NMS, restricted to pairwise dominance so it stays a pure
    join, not a sequential greedy loop).

    Dominance (pinned for the oracle): span *b* dominates span *a*
    when they overlap under ``bounds`` and ``b.score > a.score``, or
    scores tie exactly and ``b.id < a.id`` (the unique ``id_col``
    makes the tie-break total, so exactly one member of every
    mutually-overlapping tie group survives it).  NULL scores drop up
    front.  A span overlapped only by weaker spans survives even when
    those weaker spans are themselves dominated — one pass, no
    cascade.

    Scale shape: the candidate pairs route through the engine's own
    keyed interval join (``strategy='auto'``: hash/binned/broadcast
    selection from exact per-key pair work, same-key co-partitioning — no
    all-pairs), dominated ids collapse via partial-agged distinct, and
    survivors come from one LEFT ANTI equi-join on (keys, id).
    Nothing driver-side; no cartesian.
    """
    from .interval_join import interval_join, interval_join_by

    keys = _by_cols(by)
    base = df.filter(F.col(score_col).isNotNull())
    left = base.select(
        *keys,
        F.col(id_col).alias("__nms_id"),
        F.col(score_col).alias("__nms_score"),
        F.col(on),
    )
    right = base.select(
        *keys,
        F.col(id_col).alias("__nms_rid"),
        F.col(score_col).alias("__nms_rscore"),
        F.col(on),
    )
    if keys:
        pairs = interval_join_by(
            left, right, by=keys, on=on, bounds=bounds, strategy=strategy
        )
    else:
        pairs = interval_join(
            left, right, on=on, bounds=bounds, strategy=strategy
        )
    dominated = (
        pairs.filter(
            (F.col("__nms_rscore") > F.col("__nms_score"))
            | (
                (F.col("__nms_rscore") == F.col("__nms_score"))
                & (F.col("__nms_rid") < F.col("__nms_id"))
            )
        )
        .select(*keys, F.col("__nms_id").alias(id_col))
        .distinct()
    )
    return base.join(dominated, on=[*keys, id_col], how="left_anti").select(
        *df.columns  # the equi-join moves its keys first; restore order
    )
