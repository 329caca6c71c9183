"""Regular-grid time-series operators — engine extensions beyond the
reference (SURVEY.md §2.C: the reference joins *irregular* intervals;
pipelines also need the regular-grid shapes below).

- :func:`time_grid`: per-key regular timestamp grid spanning each key's
  observed range (the skeleton for resampling);
- :func:`resample_locf`: downsample/regularize a point-event table onto
  that grid with last-observation-carried-forward semantics (the as-of
  join against the grid);
- :func:`sliding_window_agg`: hopping-window aggregation (window length
  L, hop S, L % S == 0) as a batch operator.

Scale design (100 TB): everything here is built-in expressions plus at
most one shuffle per operator on the natural grouping key.  The grid is
*generated*, never materialized wider than (key, lo, hi) before the
explode; the sliding window amplifies rows by L/S map-side but partial
aggregation collapses them to one row per (window, key) per partition
before the exchange.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import driver_row
from .asof_join import asof_join
from .range_buckets import BUCKET, attach, bucketize, summarize

Key = Union[str, Sequence[str], None]


def _by_cols(by: Key) -> list[str]:
    return [by] if isinstance(by, str) else list(by or [])


def _keyed_scan_source(
    df: DataFrame, keys: Sequence[str], order: Sequence[str], cols: Sequence[str]
) -> DataFrame:
    """Layout prep for single-pass keyed sequential scans (ewma/cusum):
    hash-partition on the key (every key's rows land whole in one
    partition; keyless input collapses to one partition exactly like
    ``groupBy()`` would) and sort within partitions by (keys, order)
    so each key's series is contiguous and time-ordered.

    The consumer is a ``mapInPandas`` scan that carries its recursion
    state across Arrow-batch boundaries — ONE Python invocation per
    ~10k-row batch instead of the one-per-key cost of
    ``groupBy(...).applyInPandas`` (same single Exchange, same JVM
    sort; the per-group pandas plumbing was the dominant cost: the
    same table through the pure-expression hampel operator runs ~8x
    faster than the per-group form of this scan at sf0.1's ~1.5k
    keys — guide §4's "aggregate the Python-call count, not just the
    bytes")."""
    src = df.select(*dict.fromkeys([*keys, *cols, *order]))
    if keys:
        src = src.repartition(*[F.col(k) for k in keys])
    else:
        src = src.coalesce(1)
    return src.sortWithinPartitions(*keys, *order)


def time_grid(
    df: DataFrame,
    on: str = "ts",
    step: int = 3_600_000_000_000,
    by: Key = None,
) -> DataFrame:
    """Per-key regular grid: timestamps ``lo_k, lo_k+step, ..., <= hi_k``
    where ``lo_k``/``hi_k`` are each key's min/max of ``on`` floored to
    the step.  Keyless: one global grid row set.

    One partial-aggregated shuffle computes (key, lo, hi); the grid
    itself is ``sequence()`` + ``explode`` — generated at the consumer,
    never shuffled at full width.  Grid density is bounded by
    ``span/step`` per key, independent of the event count, so the output
    is usually far SMALLER than the input (that is the point of
    resampling at 100 TB)."""
    if step <= 0:
        raise ValueError(f"step must be positive, got {step}")
    keys = _by_cols(by)
    bounds = df.groupBy(*keys).agg(
        F.min(on).alias("__lo"), F.max(on).alias("__hi")
    )
    floor = lambda c: F.col(c) - F.pmod(F.col(c), F.lit(step))  # noqa: E731
    return bounds.select(
        *keys,
        F.explode(
            F.sequence(floor("__lo"), floor("__hi"), F.lit(step))
        ).alias(on),
    )


def resample_locf(
    df: DataFrame,
    on: str = "ts",
    step: int = 3_600_000_000_000,
    by: Key = None,
    tolerance: Optional[int] = None,
) -> DataFrame:
    """Regularize a point-event table onto a ``step``-spaced grid,
    carrying the last observation at-or-before each grid point forward
    (LOCF).  Grid points before a key's first observation keep nulls.

    Output: grid keys + ``on`` (the grid timestamp), then every payload
    column of ``df`` suffixed ``_right`` exactly as :func:`asof_join`
    emits them (``on + '_right'`` is the matched observation time).
    ``tolerance`` (same unit as ``on``) nulls matches older than the
    gap — the standard guard against carrying a stale reading across a
    long outage.

    Composition: :func:`time_grid` (one partial-agg shuffle) +
    :func:`asof_join` (one union+window shuffle on the key) — both
    per-key parallel; the keyless case inherits the as-of join's
    range-bucketed global path (no single-partition exchange)."""
    grid = time_grid(df, on=on, step=step, by=by)
    return asof_join(
        grid, df, on=on, by=by, direction="backward", tolerance=tolerance
    )


def sliding_window_agg(
    df: DataFrame,
    aggs: Sequence,
    on: str = "ts",
    length: int = 86_400_000_000_000,
    slide: int = 21_600_000_000_000,
    by: Key = None,
) -> DataFrame:
    """Hopping-window aggregation: every row lands in the
    ``length/slide`` windows ``[w_start, w_start+length)`` whose starts
    are slide-aligned and satisfy ``w_start <= ts < w_start + length``.
    ``length % slide == 0`` required; ``length == slide`` degenerates to
    a tumbling window.

    Output: ``w_start``, ``w_end``, the ``by`` keys, then ``aggs``.
    Windows are epoch-aligned (start ≡ 0 mod slide) — the same alignment
    Structured Streaming's ``F.window(length, slide)`` uses, kept in the
    ``on`` column's integer unit (ns) instead of SQL timestamps so span
    arithmetic stays in long math end-to-end.

    Scale: the explode amplifies rows ×(length/slide) map-side, but
    partial aggregation collapses to one row per (window, key) per
    partition before the single shuffle, so exchanged bytes scale with
    the number of *windows*, not events.  No Python, no window function,
    no sort — plain hash aggregation."""
    if length <= 0 or slide <= 0 or length % slide != 0:
        raise ValueError(
            f"need length % slide == 0 with both positive, got {length=} {slide=}"
        )
    k = length // slide
    keys = _by_cols(by)
    ws = (
        F.col(on)
        - F.pmod(F.col(on), F.lit(slide))
        - F.col("__dfi_k") * F.lit(slide)
    )
    exploded = df.withColumn(
        "__dfi_k", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
    ).withColumn("w_start", ws)
    agged = exploded.groupBy("w_start", *keys).agg(*aggs)
    val_cols = [c for c in agged.columns if c not in {"w_start", *keys}]
    return agged.select(
        "w_start",
        (F.col("w_start") + F.lit(length)).alias("w_end"),
        *keys,
        *val_cols,
    )


def validity_intervals(
    df: DataFrame,
    attrs: Sequence[str],
    on: str = "ts",
    by: Key = None,
    order: Sequence[str] = (),
) -> DataFrame:
    """SCD2 (slowly-changing-dimension type 2) construction: collapse a
    per-key change-event stream into validity intervals — one row per
    RUN of unchanged ``attrs``, valid ``[valid_from, valid_to)`` with
    the current run left open (``valid_to`` null).

    ``order`` supplies deterministic tie-break columns after ``on``
    (e.g. an event id) so equal-timestamp rows have a total order.
    Null-safe attribute comparison: a null attribute value is a value,
    not a wildcard.

    Scale shape: one shuffle on the key, two window passes over the
    same per-key sort (Spark reuses the sort), no joins — the standard
    temporal-table build at any key cardinality.  With NO key a naive
    keyless window would funnel the whole stream through one task, so
    the global case range-buckets rows by time
    (:mod:`.range_buckets`) — every heavy stage stays parallel.

    Events with a NULL ``on`` have no place in time and are dropped."""
    df = df.filter(F.col(on).isNotNull())
    keys = _by_cols(by)
    if not keys:
        return _validity_intervals_global(df, attrs, on, order)
    w = Window.partitionBy(*keys).orderBy(on, *order)
    cur = F.struct(*[F.col(a) for a in attrs])
    prev = F.lag(cur).over(w)
    changed = prev.isNull() | ~prev.eqNullSafe(cur)
    runs = df.withColumn("__dfi_chg", changed).filter(
        F.col("__dfi_chg")
    ).drop("__dfi_chg")
    w2 = Window.partitionBy(*keys).orderBy(on, *order)
    return runs.select(
        *keys,
        *attrs,
        F.col(on).alias("valid_from"),
        F.lead(F.col(on)).over(w2).alias("valid_to"),
    )


def _validity_intervals_global(
    df: DataFrame, attrs: Sequence[str], on: str, order: Sequence[str]
) -> DataFrame:
    """Keyless SCD2 without a single-partition window.

    Range-bucket rows by ``on`` (:mod:`.range_buckets`), then:

    1. change detection — ``lag`` runs inside each bucket; the first
       row of a bucket compares against the LAST attrs of the previous
       non-empty bucket (per-bucket ``max_by`` summary);
    2. ``valid_to`` — ``lead`` over run starts inside each bucket; the
       last run of a bucket closes at the FIRST run start of the next
       bucket that has one (second summary, folded in descending
       bucket order).

    The run-start table is localCheckpoint'ed between the two passes so
    the change-detection join is not recomputed for the summary.  The
    bucket id derives from ``on`` alone, so equal timestamps always
    share a bucket and the tie-break ``order`` never crosses a
    boundary."""
    # bucket ids need integer arithmetic; derive the ordinal by DOMAIN
    # (date would fail a bare long cast, timestamp would truncate to
    # SECONDS — fine for a monotonic bucket id but NOT for ordering)
    on_dt = df.schema[on].dataType.simpleString()
    if on_dt in ("date", "timestamp", "timestamp_ntz"):
        from ..functions.spans import endpoint_to_ordinal

        u = bucketize(df, endpoint_to_ordinal(F.col(on), on_dt))
    else:
        u = bucketize(df, F.col(on))

    cur = F.struct(*[F.col(a) for a in attrs])
    # order by the RAW on column (exact — the ordinal may be coarser,
    # e.g. µs for ns-resolution longs would never be, but a timestamp's
    # long-cast is seconds), tiebroken exactly like the window sort
    scan_pos = F.struct(F.col(on), *[F.col(c) for c in order])
    inc_rows, prev_attrs = [], None
    for r in summarize(u, F.max_by(cur, scan_pos).alias("__last_attrs")):
        inc_rows.append((r[BUCKET], prev_attrs))
        prev_attrs = r["__last_attrs"]
    attrs_type = df.select(cur.alias("s")).schema["s"].dataType

    wb = Window.partitionBy(BUCKET).orderBy(on, *order)
    prev_any = F.coalesce(F.lag(cur).over(wb), F.col("__inc"))
    changed = prev_any.isNull() | ~prev_any.eqNullSafe(cur)
    runs = (
        attach(u, inc_rows, {"__inc": attrs_type})
        .withColumn("__dfi_chg", changed)
        .filter(F.col("__dfi_chg"))
        .select(BUCKET, *attrs, F.col(on).alias("valid_from"), *order)
        .localCheckpoint()  # reused by the summary AND the final pass
    )

    nxt_rows, nxt_vf = [], None
    for r in reversed(summarize(runs, F.min("valid_from").alias("__first_vf"))):
        nxt_rows.append((r[BUCKET], nxt_vf))
        nxt_vf = r["__first_vf"]

    wl = Window.partitionBy(BUCKET).orderBy("valid_from", *order)
    on_type = runs.schema["valid_from"].dataType
    return attach(runs, nxt_rows, {"__nxt": on_type}).select(
        *attrs,
        "valid_from",
        F.coalesce(F.lead("valid_from").over(wl), F.col("__nxt")).alias("valid_to"),
    )


def hampel_despike(
    df: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    by: Key = None,
    half_window: int = 3,
    k_num: int = 44478,
    k_den: int = 10000,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Hampel spike filter over a fixed-point signal: flag (and repair)
    samples further than ``k·MAD`` from their rolling median — the
    standard biosignal despiking step (the reference's home domain),
    robust where a mean±σ z-score is dragged by the spike itself.

    ``value_col`` must be a BIGINT fixed-point signal (scale floats
    first: ``round(value·1e6)``).  Rolling frame is ``2·half_window+1``
    rows per key ordered by ``ts_col``; median and MAD are the LOWER
    order statistics (index ``(n-1)//2``, exact, no midpoint
    averaging), and the spike test ``|x−med|·k_den > k_num·mad`` is
    pure bigint — the default ``k_num/k_den = 4.4478`` is the classic
    3·1.4826 Gaussian-consistency threshold.  A flat frame (MAD = 0)
    flags any deviation, Hampel's documented behavior.

    Output: key cols, ``ts_col``, ``value_col``, ``med``, ``mad``,
    ``is_spike``, ``cleaned`` (spikes replaced by the rolling median).

    Scale shape: ONE shuffle on the key, one per-key sort, and two
    codegen'd array expressions over the 2w+1-row frame — no Python,
    no second Exchange, no self-join.  Frame sizes shrink at series
    edges (true windowed statistics, not null-padded).  Pass
    ``order_tiebreak`` (a unique column) when ``ts_col`` can repeat
    within a key — a ROWS frame needs a total order to be
    deterministic."""
    if half_window < 1:
        raise ValueError(f"half_window must be >= 1, got {half_window}")
    keys = _by_cols(by)
    order_cols = [ts_col] + (
        [] if not order_tiebreak else [order_tiebreak]
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_cols)
        .rowsBetween(-half_window, half_window)
    )
    x = F.col(value_col)

    def lower_median(arr):
        # 1-based element (n+1) DIV 2; n ≤ 2w+1 so the double
        # intermediate of the division is exact
        return F.element_at(
            arr, F.floor((F.size(arr) + F.lit(1)) / 2).cast("int")
        )

    # the frame is collected ONCE; median and MAD are pure array
    # expressions over it — one Window operator, one per-key sort
    out = df.withColumn(
        "__vals", F.sort_array(F.collect_list(x).over(w))
    ).withColumn("med", lower_median(F.col("__vals")))
    devs = F.sort_array(
        F.transform(F.col("__vals"), lambda v: F.abs(v - F.col("med")))
    )
    out = out.withColumn("mad", lower_median(devs))
    is_spike = (
        F.abs(x - F.col("med")) * F.lit(int(k_den))
        > F.lit(int(k_num)) * F.col("mad")
    )
    return out.select(
        *keys,
        ts_col,
        value_col,
        "med",
        "mad",
        is_spike.alias("is_spike"),
        F.when(is_spike, F.col("med")).otherwise(x).alias("cleaned"),
    )


def ewma(
    df: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    by: Key = None,
    alpha_num: int = 1,
    alpha_den: int = 8,
    order_tiebreak: str | None = None,
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially weighted moving average over a fixed-point bigint
    signal, per key in time order — the streaming-friendly smoother
    (Hampel repairs spikes; EWMA tracks the baseline).

    Exact integer recursion: ``e_0 = x_0``, ``e_i = e_{i-1} +
    floor((x_i − e_{i-1}) · alpha_num / alpha_den)`` with FLOOR (not
    truncating) division so negative deltas round identically in every
    engine — the DuckDB oracle replays the recursion with a recursive
    CTE bit-for-bit.

    A scan with a per-step floor cannot be expressed as a window
    aggregate (the rounding makes it non-linear), so this is one of
    the engine's few sanctioned Arrow-batched operators: one shuffle
    on the key, each key's series scanned once inside its worker — the
    natural layout for time series, where a key's history must be
    ordered anyway.  Output: key cols, ``ts_col``, ``value_col``,
    ``out_col``."""

    if alpha_den <= 0 or not (0 < alpha_num <= alpha_den):
        raise ValueError(
            f"need 0 < alpha_num <= alpha_den, got {alpha_num}/{alpha_den}"
        )
    keys = _by_cols(by)
    order = [ts_col] + ([order_tiebreak] if order_tiebreak else [])
    fields = keys + [ts_col, value_col]
    schema = ", ".join(
        f"{c} {t}"
        for c, t in zip(
            fields + [out_col],
            [dict(df.dtypes)[c] for c in fields] + ["bigint"],
        )
    )
    num, den = int(alpha_num), int(alpha_den)

    def smooth_iter(batches):
        # carry = (key tuple of the in-progress series, its last ewma);
        # rows of a key are contiguous across batches (see
        # _keyed_scan_source), so one pair of carried values suffices
        prev_key: object = object()  # matches no real key tuple
        cur = 0
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            kcols = [pdf[k].tolist() for k in keys]
            xs = pdf[value_col].tolist()
            es: list[int] = []
            for i in range(n):
                kt = tuple(c[i] for c in kcols)
                x = int(xs[i])
                if kt != prev_key:
                    prev_key, cur = kt, x
                else:
                    cur = cur + ((x - cur) * num) // den
                es.append(cur)
            out = pdf[fields].copy()
            out[out_col] = es
            yield out

    return _keyed_scan_source(df, keys, order, fields).mapInPandas(
        smooth_iter, schema
    )


def resample_interp(
    df: DataFrame,
    value_col: str,
    on: str = "ts",
    step: int = 3_600_000_000_000,
    by: Key = None,
    ratio_scale: int = 1000,
) -> DataFrame:
    """Linear-interpolation resampling onto a ``step``-spaced grid —
    the between-samples counterpart of :func:`resample_locf` (LOCF
    holds the last reading; interpolation splits the difference, the
    usual choice for slowly-varying biosignals).

    ``value_col`` must be bigint fixed-point.  Grid points strictly
    outside a key's observed support are null; a grid point ON an
    observation reproduces it exactly.  The blend is exact integer
    arithmetic: ``r = (t − t_prev)·ratio_scale DIV (t_next − t_prev)``
    (nonneg), then ``x_prev + fld(Δx·r, ratio_scale)`` with a true
    FLOOR for negative slopes — deterministic to the bit on any
    engine, at 1/ratio_scale blend resolution.  Overflow envelope:
    ``(t_next − t_prev)·ratio_scale`` must stay below 2^63 — at the
    default 1000 that allows ~107-day gaps in ns.

    Observations tied on (key, timestamp) reduce to ``max`` first
    (one deterministic reading per instant — same rule as the LOCF
    oracle).

    Composition: :func:`time_grid` + backward :func:`asof_join` +
    forward :func:`asof_join` + one grid-keyed equi-join — every stage
    keyed and parallel, the keyless case inheriting the as-of join's
    range-bucketed global path.  Output: keys, ``on``, ``t_prev``,
    ``t_next``, ``interp``.
    """
    keys = _by_cols(by)
    obs = df.groupBy(*keys, on).agg(F.max(value_col).alias("__x"))
    grid = time_grid(obs, on=on, step=step, by=by)
    b = asof_join(grid, obs, on=on, by=by, direction="backward").select(
        *keys,
        on,
        F.col(f"{on}_right").alias("t_prev"),
        F.col("__x_right").alias("__xp"),
    )
    f = asof_join(grid, obs, on=on, by=by, direction="forward").select(
        *keys,
        on,
        F.col(f"{on}_right").alias("t_next"),
        F.col("__x_right").alias("__xn"),
    )
    sc = int(ratio_scale)
    j = (
        b.join(f, [*keys, on])
        .withColumn(
            "__r",
            # ANSI mode: DIV by zero errors, so the degenerate cases
            # (outside support / grid point on an observation) short-
            # circuit to 0 before the division is ever evaluated
            F.expr(
                "CASE WHEN t_prev IS NULL OR t_next IS NULL "
                "OR t_next = t_prev THEN 0L "
                f"ELSE (({on} - t_prev) * {sc}L) DIV (t_next - t_prev) END"
            ),
        )
        .withColumn("__prod", (F.col("__xn") - F.col("__xp")) * F.col("__r"))
    )
    tp, tn, xp = F.col("t_prev"), F.col("t_next"), F.col("__xp")
    # floor (not truncating) division: pmod makes the numerator
    # divisible, so DIV is exact floor even for negative slopes
    fld = F.expr(f"(__prod - pmod(__prod, {sc}L)) DIV {sc}L")
    interp = (
        F.when(tp.isNull() | tn.isNull(), F.lit(None).cast("long"))
        .when(tn == tp, xp)
        .otherwise(xp + fld)
    )
    return j.select(*keys, on, "t_prev", "t_next", interp.alias("interp"))


def cusum_changepoints(
    df: DataFrame,
    value_col: str,
    target: int,
    slack: int,
    threshold: int,
    ts_col: str = "ts",
    by: Key = None,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Two-sided CUSUM change detection over a fixed-point bigint
    signal (Page 1954): per key in time order,

        ``s_hi = max(0, s_hi + (x − target − slack))``
        ``s_lo = max(0, s_lo + (target − x − slack))``

    with an ``alarm`` when either statistic crosses ``threshold``
    (both reset to 0 after an alarm — restart detection).  The
    standard drift/level-shift detector for sensor streams: EWMA
    tracks the baseline, Hampel repairs spikes, CUSUM finds sustained
    shifts.  ``target``/``slack``/``threshold`` share ``value_col``'s
    fixed-point scale.

    Pure integer recursion with resets — not a window aggregate — so
    like :func:`ewma` it is a sanctioned Arrow-batched per-key scan
    (one shuffle on the key), replayed exactly by a recursive-CTE
    oracle.  Output: key cols, ``ts_col``, ``value_col``, ``s_hi``,
    ``s_lo``, ``alarm``."""

    if threshold <= 0 or slack < 0:
        raise ValueError(
            f"need threshold > 0 and slack >= 0, got {threshold=} {slack=}"
        )
    keys = _by_cols(by)
    order = [ts_col] + ([order_tiebreak] if order_tiebreak else [])
    fields = keys + [ts_col, value_col]
    schema = ", ".join(
        f"{c} {t}"
        for c, t in zip(
            fields + ["s_hi", "s_lo", "alarm"],
            [dict(df.dtypes)[c] for c in fields]
            + ["bigint", "bigint", "boolean"],
        )
    )
    tgt, k, h = int(target), int(slack), int(threshold)

    def scan_iter(batches):
        # carry = (key tuple of the in-progress series, its running
        # statistics); per-key rows are contiguous across batches
        # (see _keyed_scan_source)
        prev_key: object = object()
        hi = lo = 0
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            kcols = [pdf[c].tolist() for c in keys]
            xs = pdf[value_col].tolist()
            his, los, alarms = [], [], []
            for i in range(n):
                kt = tuple(c[i] for c in kcols)
                if kt != prev_key:
                    prev_key = kt
                    hi = lo = 0
                x = int(xs[i])
                hi = max(0, hi + (x - tgt - k))
                lo = max(0, lo + (tgt - x - k))
                alarm = hi > h or lo > h
                his.append(hi)
                los.append(lo)
                alarms.append(alarm)
                if alarm:
                    hi = lo = 0
            out = pdf[fields].copy()
            out["s_hi"], out["s_lo"], out["alarm"] = his, los, alarms
            yield out

    return _keyed_scan_source(df, keys, order, fields).mapInPandas(
        scan_iter, schema
    )


def rolling_median(
    df: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    by: Key = None,
    half_window: int = 3,
    out_col: str = "med",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Rolling LOWER median over a ``2·half_window+1``-row frame per
    key — the robust baseline tracker on its own (the statistic
    :func:`hampel_despike` builds its spike test on; exposed because
    "smooth this signal robustly" is its own ask).  Exact order
    statistic, bigint in/bigint out, one shuffle on the key, one
    codegen'd array expression — no Python.  Output: ``df`` plus
    ``out_col``."""
    if half_window < 1:
        raise ValueError(f"half_window must be >= 1, got {half_window}")
    keys = _by_cols(by)
    order_cols = [ts_col] + ([order_tiebreak] if order_tiebreak else [])
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_cols)
        .rowsBetween(-half_window, half_window)
    )
    vals = F.sort_array(F.collect_list(F.col(value_col)).over(w))
    med = F.element_at(
        vals, F.floor((F.size(vals) + F.lit(1)) / 2).cast("int")
    )
    return df.withColumn(out_col, med)


def multi_resolution_rollup(
    df: DataFrame,
    ts_col: str,
    resolutions,
    by: Key = None,
    aggs: Optional[Sequence] = None,
) -> DataFrame:
    """Hypertable-style MULTI-RESOLUTION time rollup in ONE shuffle:
    every ``(by, bucket_r)`` aggregation for every resolution ``r``
    comes out of a single ``GROUP BY GROUPING SETS`` pass instead of
    one groupBy job per resolution — the continuous-aggregate
    maintenance shape.  At 100 TB the scan and the map-side partial
    aggregation (the expensive parts) are shared across resolutions;
    each extra resolution adds only its own (small) grouped output to
    the exchange, not another pass over the data.

    ``resolutions`` maps label -> bucket width in the units of
    ``ts_col`` (e.g. ``{"hour": HOUR_NS, "day": DAY_NS}``; insertion
    order is the output CASE order).  ``aggs`` are the aggregate
    Columns (default: ``count(1) AS n``).  Output:
    ``(*by, resolution, bucket_start, <aggs>)`` — ``bucket_start`` is
    the floor-aligned bucket in ``ts_col`` units, exact pmod/floor
    bigint arithmetic (negative timestamps floor correctly).
    """
    if not resolutions:
        raise ValueError("resolutions must be a non-empty mapping")
    by_cols = (
        [] if by is None else ([by] if isinstance(by, str) else list(by))
    )
    labels = list(resolutions)
    t = F.col(ts_col)
    bcols = {
        lab: (t - F.pmod(t, F.lit(int(res)))).alias(f"__b_{lab}")
        for lab, res in resolutions.items()
    }
    base = df.select(*df.columns, *bcols.values())
    sets = [
        [F.col(c) for c in (*by_cols, f"__b_{lab}")] for lab in labels
    ]
    all_cols = [*by_cols, *[f"__b_{lab}" for lab in labels]]
    if aggs is None:
        aggs = [F.count(F.lit(1)).alias("n")]
    # which set a row came from: grouping() on the bucket column (a
    # NULL bucket value can also come from a NULL timestamp, so the
    # indicator — not coalesce — is the reliable discriminator);
    # grouping() is only legal inside the agg, so emit indicators there
    inds = [
        F.grouping(f"__b_{lab}").cast("int").alias(f"__g_{lab}")
        for lab in labels
    ]
    g = base.groupingSets(sets, *[F.col(c) for c in all_cols]).agg(
        *inds, *aggs
    )
    res_expr = F.lit(None).cast("string")
    bucket_expr = F.lit(None).cast("long")
    for lab in reversed(labels):
        ind = F.col(f"__g_{lab}") == 0
        res_expr = F.when(ind, F.lit(lab)).otherwise(res_expr)
        bucket_expr = F.when(ind, F.col(f"__b_{lab}")).otherwise(bucket_expr)
    agg_names = [
        c
        for c in g.columns
        if c not in set(all_cols) and not c.startswith("__g_")
    ]
    return g.select(
        *by_cols,
        res_expr.alias("resolution"),
        bucket_expr.alias("bucket_start"),
        *agg_names,
    )


def spark_range_1(df: DataFrame, value: int) -> DataFrame:
    """One-row ``(__whi: long)`` frame carrying a literal horizon —
    the broadcastable stand-in for the windows-max-stop aggregate when
    :func:`time_weighted_avg` is given an explicit ``clamp_at``."""
    return df.sparkSession.range(1).select(
        F.lit(int(value)).cast("long").alias("__whi")
    )


def time_weighted_avg(
    samples: DataFrame,
    windows: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    by: Key = None,
    order: Sequence[str] = (),
    window_span_col: str = "span",
    strategy: str = "auto",
    method: str = "locf",
    clamp_at: Optional[int] = None,
) -> DataFrame:
    """Time-weighted average per window — the hypertable
    ``time_weight('LOCF' | 'Linear')`` aggregate (TimescaleDB toolkit
    shape).  ``method='locf'`` (default): each sample's value HOLDS
    until the next sample, with the open last run CLAMPED to the
    windows' max stop.  ``method='linear'``: the value interpolates
    linearly between consecutive samples (trapezoid weighting); the
    series ENDS at its last sample — no extrapolation past it, the
    TimescaleDB ``'Linear'`` convention (so on a piecewise-constant
    series the two methods agree exactly wherever both are defined;
    pytest property).

    Linear exact-integer contract: per (segment ∩ window) piece the
    boundary values interpolate with TRUNCATED division
    (``v(x) = v0 + dv·(x-t0) DIV D``); the piece's UN-halved trapezoid
    numerator ``(B-A)·(v(a)+v(b))`` is accumulated exactly in
    DECIMAL(38,0) and the group divides ONCE:
    ``twa = Σnum DIV (2·Σdur)`` — a deterministic, cross-engine
    bit-replayable fixed-point rule (one truncation per piece, one per
    group) that is EXACT whenever ``dv == 0``, where each piece
    reduces to the LOCF rectangle ``2·v0·(B-A)``.  Intermediates stay
    under ~|v|·range·width ≈ 1e33 for ns timestamps (never the
    squared-range products of the naive integral formula), inside
    DECIMAL(38,0).

    LOCF path (original contract, unchanged):
    built entirely from the engine's own primitives: each sample's
    value HOLDS until the next sample (:func:`validity_intervals`
    collapses unchanged runs), validity spans overlap-join the windows
    (:func:`~.interval_join.interval_join` — the windows side is
    dimension-sized, so auto strategy broadcasts it), and each
    window's average weights the value by exactly the duration it was
    held inside the window.

    Exact-integer contract: ``value_col`` must be integral (fixed-point
    doubles first — the engine's ``v_fx`` pattern); the weighted mean
    is ``Σ(v·dur) DIV Σ(dur)`` with the products accumulated in
    DECIMAL(38,0) (value·duration exceeds int64 at ns durations), so
    the result is bit-replayable cross-engine.  Open (current) runs
    and runs extending past the window range are CLAMPED to the
    windows' max stop via a broadcast 1-row aggregate — lazy, no
    driver action, and it keeps the binned join strategy usable
    (an unclamped +inf stop would explode the bin fan-out).  Windows
    never covered by any sample (all-LOCF-gap) emit no row — the
    ``time_weight`` convention.

    Output: ``by`` keys + every non-span windows column +
    ``covered_dur`` (ns actually covered) + ``twa`` (weighted mean
    with the quotient TRUNCATED TOWARD ZERO — Spark's ``DIV`` and
    DuckDB's ``//`` both truncate, so a negative fixed-point mean
    rounds toward zero, not down; exact either way for the
    cross-engine replay).  Scale shape: one per-key sort for the
    validity build, one broadcast overlap join, one partial-agged
    group — nothing driver-side."""
    from ..functions.spans import make_span
    from .interval_join import interval_join

    keys = _by_cols(by)
    label_cols = [c for c in windows.columns if c != window_span_col]
    if not label_cols:
        raise ValueError(
            "time_weighted_avg: windows must carry at least one label "
            "column besides the span"
        )
    if method not in ("locf", "linear"):
        raise ValueError(
            f"time_weighted_avg: method must be 'locf' or 'linear', "
            f"got {method!r}"
        )
    if method == "linear":
        w = Window.partitionBy(*keys).orderBy(ts_col, *order)
        t = F.col(ts_col).cast("long")
        v_ = F.col(value_col).cast("long")
        seg = (
            samples.select(
                *keys,
                t.alias("__t0"),
                v_.alias("__v0"),
                F.lead(t).over(w).alias("__t1"),
                F.lead(v_).over(w).alias("__v1"),
            )
            .filter(F.col("__t1").isNotNull() & (F.col("__t1") > F.col("__t0")))
            .select(
                *keys,
                "__v0",
                (F.col("__v1") - F.col("__v0")).alias("__dv"),
                "__t0",
                (F.col("__t1") - F.col("__t0")).alias("__d"),
                make_span(F.col("__t0"), F.col("__t1")).alias("span"),
            )
        ).persist()  # strategy stats probe + join both scan this
        j = interval_join(
            seg,
            windows.withColumnRenamed(window_span_col, "span")
            if window_span_col != "span"
            else windows,
            validate="skip",
            strategy=strategy,
        )
        # Spark's DIV always RETURNS BIGINT, so per-piece quantities
        # must stay value-scale: the interpolated boundary values va/vb
        # are (long-range) fine, but the trapezoid area is not — so
        # accumulate the UN-halved numerator dur·(va+vb) exactly in
        # DECIMAL(38,0) and divide ONCE at the end by 2·Σdur.  One
        # truncation per piece (the interpolation) + one per group
        # (the final quotient); no intermediate ever exceeds
        # |v|·range·width ≈ 1e33 at ns scales.
        dec = "DECIMAL(38,0)"
        va = (
            f"(__v0 + CAST(__dv AS {dec})"
            f" * CAST(span.start - __t0 AS {dec}) DIV __d)"
        )
        vb = (
            f"(__v0 + CAST(__dv AS {dec})"
            f" * CAST(span.stop - __t0 AS {dec}) DIV __d)"
        )
        dur_sql = "(span.stop - span.start)"
        num = f"(CAST({dur_sql} AS {dec}) * CAST({va} + {vb} AS {dec}))"
        return j.groupBy(*keys, *label_cols).agg(
            F.expr(f"CAST(sum({dur_sql}) AS BIGINT)").alias("covered_dur"),
            F.expr(
                f"CAST(sum({num})"
                f" DIV (2 * sum(CAST({dur_sql} AS {dec}))) AS BIGINT)"
            ).alias("twa"),
        )
    v = validity_intervals(
        samples.select(*keys, ts_col, value_col, *order),
        attrs=[value_col],
        on=ts_col,
        by=by,
        order=order,
    )
    # clamp horizon for open (current) runs: the windows' max stop by
    # default, or the caller's explicit ``clamp_at`` — needed whenever
    # the windows table is itself a derived FRAGMENT set (e.g.
    # span_difference output under artifact masks) whose max stop
    # shifts with the masking, while the intended horizon is the
    # original range's end.  Accepts an int (driver-known horizon) or
    # a lazily-computed 1-row, 1-column DataFrame (no driver action).
    if clamp_at is None:
        whi = windows.agg(
            F.max(F.col(f"{window_span_col}.stop")).alias("__whi")
        )
    elif isinstance(clamp_at, DataFrame):
        c0 = clamp_at.columns
        if len(c0) != 1:
            raise ValueError(
                "time_weighted_avg: clamp_at DataFrame must have "
                f"exactly one column, got {c0}"
            )
        # backtick-quote: agg outputs are named like `max(span.stop)`
        # and a bare F.col would parse the dot as field access
        whi = clamp_at.select(
            F.col(f"`{c0[0]}`").cast("long").alias("__whi")
        )
    else:
        whi = spark_range_1(windows, int(clamp_at))
    stop = F.least(
        F.coalesce(F.col("valid_to"), F.col("__whi")), F.col("__whi")
    )
    # persist: the auto/binned strategy's stats probe is a driver agg
    # action over THIS table — without a cache the whole validity
    # pipeline (scan + key shuffle + two window passes) runs once for
    # the probe and again inside the join.  One materialization
    # (MEMORY_AND_DISK, spills) always beats two full recomputes; for
    # explicit broadcast strategies the persist is lazy and just rides
    # the single evaluation.
    vs = (
        v.crossJoin(F.broadcast(whi))
        .filter(F.col("valid_from") < stop)
        .select(
            *keys,
            value_col,
            make_span(F.col("valid_from"), stop).alias("span"),
        )
    ).persist()
    j = interval_join(
        vs,
        windows.withColumnRenamed(window_span_col, "span")
        if window_span_col != "span"
        else windows,
        validate="skip",
        strategy=strategy,
    )
    dec = "DECIMAL(38,0)"
    dur_sql = "(span.stop - span.start)"
    return j.groupBy(*keys, *label_cols).agg(
        F.expr(f"CAST(sum({dur_sql}) AS BIGINT)").alias("covered_dur"),
        F.expr(
            f"CAST(sum(CAST({value_col} AS {dec}) * CAST({dur_sql} AS {dec}))"
            f" DIV sum(CAST({dur_sql} AS {dec})) AS BIGINT)"
        ).alias("twa"),
    )


def duration_in_state(
    samples: DataFrame,
    windows: DataFrame,
    state_col: str,
    ts_col: str = "ts",
    by: Key = None,
    order: Sequence[str] = (),
    window_span_col: str = "span",
    strategy: str = "auto",
) -> DataFrame:
    """Time spent in each STATE per window — the hypertable
    ``state_agg``/``duration_in`` aggregate: the categorical twin of
    :func:`time_weighted_avg` (same validity-build → clamp → overlap
    join machinery; the aggregate is a plain duration sum per
    (window, state) instead of a weighted mean, so it is exact for
    any state type).  States hold LOCF-style until the next sample;
    open runs clamp to the windows' max stop; windows before the
    first sample emit nothing.

    Output: ``by`` keys + non-span windows columns + ``state_col`` +
    ``dur_ns``.  Per (key, window), the ``dur_ns`` values partition
    the window's covered time — Σ dur_ns == time_weighted_avg's
    covered_dur (asserted in pytest)."""
    from ..functions.spans import make_span
    from .interval_join import interval_join

    keys = _by_cols(by)
    label_cols = [c for c in windows.columns if c != window_span_col]
    if not label_cols:
        raise ValueError(
            "duration_in_state: windows must carry at least one label "
            "column besides the span"
        )
    v = validity_intervals(
        samples.select(*keys, ts_col, state_col, *order),
        attrs=[state_col],
        on=ts_col,
        by=by,
        order=order,
    )
    whi = windows.agg(
        F.max(F.col(f"{window_span_col}.stop")).alias("__whi")
    )
    stop = F.least(
        F.coalesce(F.col("valid_to"), F.col("__whi")), F.col("__whi")
    )
    # persist: same rationale as time_weighted_avg — the strategy
    # stats probe would otherwise replay the validity build
    vs = (
        v.crossJoin(F.broadcast(whi))
        .filter(F.col("valid_from") < stop)
        .select(
            *keys,
            state_col,
            make_span(F.col("valid_from"), stop).alias("span"),
        )
    ).persist()
    j = interval_join(
        vs,
        windows.withColumnRenamed(window_span_col, "span")
        if window_span_col != "span"
        else windows,
        validate="skip",
        strategy=strategy,
    )
    return j.groupBy(*keys, *label_cols, state_col).agg(
        F.expr("CAST(sum(span.stop - span.start) AS BIGINT)").alias(
            "dur_ns"
        )
    )


def counter_total(
    df: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    by: Key = None,
    order: Sequence[str] = (),
) -> DataFrame:
    """Monotonic-counter rollup with RESET handling — the hypertable
    ``counter_agg``/``delta`` aggregate: per key, the total counter
    increase across the series where a DECREASE between consecutive
    samples is a counter reset (the new reading counts whole, the
    standard Prometheus/TimescaleDB rule), plus the reset count and
    the observed sample count.  One per-key window pass + one
    partial-agged group; exact integer arithmetic.

    Output: keys + ``total_delta`` + ``n_resets`` + ``n_samples``."""
    keys = _by_cols(by)
    if not keys:
        raise ValueError("counter_total: by key(s) required")
    w = Window.partitionBy(*keys).orderBy(ts_col, *order)
    v = F.col(value_col).cast("long")
    delta = v - F.lag(v).over(w)
    step = (
        F.when(delta.isNull(), F.lit(0))
        .when(delta < 0, v)
        .otherwise(delta)
    )
    reset = F.when(delta < 0, F.lit(1)).otherwise(F.lit(0))
    return (
        df.select(*keys, step.alias("__st"), reset.alias("__rs"))
        .groupBy(*keys)
        .agg(
            F.sum("__st").alias("total_delta"),
            F.sum("__rs").alias("n_resets"),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )


#: fixed-point scale of :func:`counter_windows`' per-second rate —
#: ``rate_fp6 = floor(delta / seconds * 10^6)``
RATE_FP_SCALE = 1_000_000


def counter_windows(
    samples: DataFrame,
    windows: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    by: Key = None,
    order: Sequence[str] = (),
    window_span_col: str = "span",
    strategy: str = "auto",
) -> DataFrame:
    """Counter delta + rate PER WINDOW with reset handling — the
    hypertable ``counter_agg(ts, value) → delta/rate`` over
    ``time_bucket`` shape, the windowed companion of
    :func:`counter_total` (same per-key lag pass and reset rule: a
    decrease between consecutive samples is a counter reset and the
    new reading counts whole).

    Attribution contract: every consecutive-sample increase is
    OBSERVED at the later sample's timestamp and credited to the
    window(s) containing that instant (a stabbing join via
    :func:`~.interval_join.point_in_span_join`, inheriting the full
    broadcast/binned/auto strategy machinery).  When the windows tile
    the observed range, window deltas therefore PARTITION the series
    total exactly: ``Σ delta == counter_total(...).total_delta`` and
    ``Σ n_resets == counter_total(...).n_resets`` (asserted in
    pytest) — no cross-boundary increase is lost the way per-bucket
    first/last re-aggregation loses it (TimescaleDB needs
    ``interpolated_delta`` to repair that; here the observation rule
    makes the invariant hold by construction).

    Exact-integer contract: ``value_col`` must be integral
    (fixed-point doubles first — the ``v_fx`` pattern).  ``rate_fp6``
    is the per-second rate in 1e-6 units, truncated toward zero
    (Spark ``DIV`` == DuckDB ``//`` semantics; negative deltas from
    negative counter readings truncate, not floor):
    ``delta * 1e15 DIV covered_dur`` with DECIMAL(38,0) accumulation
    (``1e15 = ns/s × RATE_FP_SCALE``), NULL when the window's observed
    duration is zero (single-instant duplicates).  Windows containing
    no observation emit no row (first samples of a series anchor the
    lag but are not themselves observations).

    Output: ``by`` keys + every non-span windows column + ``delta`` +
    ``n_resets`` + ``n_obs`` + ``covered_dur`` (ns between the
    consecutive samples observed in the window) + ``rate_fp6``.
    Scale shape: one per-key sort, one stabbing join against a
    dimension-sized windows table (auto → broadcast), one
    partial-agged group — nothing driver-side."""
    from .interval_join import point_in_span_join

    keys = _by_cols(by)
    if not keys:
        raise ValueError("counter_windows: by key(s) required")
    label_cols = [c for c in windows.columns if c != window_span_col]
    if not label_cols:
        raise ValueError(
            "counter_windows: windows must carry at least one label "
            "column besides the span"
        )
    w = Window.partitionBy(*keys).orderBy(ts_col, *order)
    v = F.col(value_col).cast("long")
    delta = v - F.lag(v).over(w)
    step = F.when(delta < 0, v).otherwise(delta)
    reset = F.when(delta < 0, F.lit(1)).otherwise(F.lit(0))
    obs = (
        samples.select(
            *keys,
            F.col(ts_col),
            step.alias("__st"),
            reset.alias("__rs"),
            (F.col(ts_col).cast("long") - F.lag(
                F.col(ts_col).cast("long")
            ).over(w)).alias("__dur"),
        )
        .filter(F.col("__st").isNotNull())
    )
    j = point_in_span_join(
        obs,
        windows.withColumnRenamed(window_span_col, "span")
        if window_span_col != "span"
        else windows,
        ts_col=ts_col,
        validate="skip",
        strategy=strategy,
    )
    dec = "DECIMAL(38,0)"
    return j.groupBy(*keys, *label_cols).agg(
        F.expr("CAST(sum(__st) AS BIGINT)").alias("delta"),
        F.expr("CAST(sum(__rs) AS BIGINT)").alias("n_resets"),
        F.count(F.lit(1)).alias("n_obs"),
        F.expr("CAST(sum(__dur) AS BIGINT)").alias("covered_dur"),
        F.expr(
            f"CAST(sum(CAST(__st AS {dec})) * CAST({10**9 * RATE_FP_SCALE}"
            f" AS {dec}) DIV nullif(sum(CAST(__dur AS {dec})), 0)"
            " AS BIGINT)"
        ).alias("rate_fp6"),
    )


def gauge_windows(
    samples: DataFrame,
    windows: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    by: Key = None,
    order: Sequence[str] = (),
    window_span_col: str = "span",
    strategy: str = "auto",
) -> DataFrame:
    """Gauge ``delta``/``idelta``/``rate``/``irate`` per window — the
    TimescaleDB gauge_agg / Prometheus gauge convenience family and
    the signed companion of :func:`counter_windows` (same lag pass,
    same observation-instant attribution through the stabbing join,
    same tiling invariant — window deltas sum to the series
    last-minus-first), but NO reset rule: a gauge goes down for real,
    so the raw signed difference is the step.

    Per (key, window): ``delta`` (Σ signed consecutive differences
    observed in the window), ``n_obs``, ``covered_dur`` (ns between
    the observed consecutive samples), ``rate_fp6``
    (``Σdelta·1e15 DIV Σdur`` — mean slope per second in 1e-6 units,
    truncated toward zero), ``idelta`` (the LAST observation's signed
    difference — Prometheus ``idelta``), and ``irate_fp6`` (the last
    observation's instantaneous slope — Prometheus ``irate``).  The
    "last" observation is picked by ``max_by`` over
    ``struct(ts, *order)`` — a partial-aggregable pick, no window
    sort over the joined stream.  Exact-integer contract as
    :func:`counter_windows` (integral ``value_col``, DECIMAL(38,0)
    accumulation, DIV truncation).

    Scale shape: one per-key sort, one broadcast stabbing join, one
    partial-agged group — nothing driver-side."""
    from .interval_join import point_in_span_join

    keys = _by_cols(by)
    if not keys:
        raise ValueError("gauge_windows: by key(s) required")
    label_cols = [c for c in windows.columns if c != window_span_col]
    if not label_cols:
        raise ValueError(
            "gauge_windows: windows must carry at least one label "
            "column besides the span"
        )
    order = list(order)
    w = Window.partitionBy(*keys).orderBy(ts_col, *order)
    v = F.col(value_col).cast("long")
    obs = (
        samples.select(
            *keys,
            F.col(ts_col),
            *order,
            (v - F.lag(v).over(w)).alias("__d"),
            (F.col(ts_col).cast("long") - F.lag(
                F.col(ts_col).cast("long")
            ).over(w)).alias("__dur"),
        )
        .filter(F.col("__d").isNotNull())
    )
    j = point_in_span_join(
        obs,
        windows.withColumnRenamed(window_span_col, "span")
        if window_span_col != "span"
        else windows,
        ts_col=ts_col,
        validate="skip",
        strategy=strategy,
    )
    dec = "DECIMAL(38,0)"
    scale = 10**9 * RATE_FP_SCALE
    ord_sql = ", ".join([ts_col, *order])
    g = j.groupBy(*keys, *label_cols).agg(
        F.expr("CAST(sum(__d) AS BIGINT)").alias("delta"),
        F.count(F.lit(1)).alias("n_obs"),
        F.expr("CAST(sum(__dur) AS BIGINT)").alias("covered_dur"),
        F.expr(
            f"CAST(sum(CAST(__d AS {dec})) * CAST({scale} AS {dec})"
            f" DIV nullif(sum(CAST(__dur AS {dec})), 0) AS BIGINT)"
        ).alias("rate_fp6"),
        F.expr(
            f"max_by(struct(__d, __dur), struct({ord_sql}))"
        ).alias("__last"),
    )
    return g.select(
        *keys,
        *label_cols,
        "delta",
        "n_obs",
        "covered_dur",
        "rate_fp6",
        F.col("__last.__d").alias("idelta"),
        F.expr(
            f"CAST(CAST(__last.__d AS {dec}) * CAST({scale} AS {dec})"
            f" DIV nullif(CAST(__last.__dur AS {dec}), 0) AS BIGINT)"
        ).alias("irate_fp6"),
    )


def ohlc_windows(
    samples: DataFrame,
    windows: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    by: Key = None,
    order: Sequence[str] = (),
    window_span_col: str = "span",
    strategy: str = "auto",
) -> DataFrame:
    """Candlestick (OHLC) rollup per window — the hypertable
    ``candlestick_agg`` shape, which is also exactly the **M4
    downsampling** kernel (per-bucket first/last/min/max preserves the
    visual envelope of a series at any zoom): per (key, window), the
    first and last sample values by ``(ts, *order)`` plus the min/max,
    over the RAW samples stabbed into their windows (no lag pass —
    samples, not observations, so a window's candle is exactly its
    contained points).

    Open/close are partial-aggregable ``min_by``/``max_by`` picks over
    ``struct(ts, *order)`` — never a per-(key, window) sort.  Output:
    keys + window labels + ``open`` + ``high`` + ``low`` + ``close`` +
    ``n_samples`` + ``first_ts`` + ``last_ts``.  Works for any
    orderable integral ``value_col`` (the fixed-point contract);
    windows with no sample emit no row.

    Scale shape: one broadcast stabbing join + one partial-agged
    group — no per-key sort at all (cheaper than every other
    aggregate in this family)."""
    from .interval_join import point_in_span_join

    keys = _by_cols(by)
    label_cols = [c for c in windows.columns if c != window_span_col]
    if not label_cols:
        raise ValueError(
            "ohlc_windows: windows must carry at least one label "
            "column besides the span"
        )
    order = list(order)
    pts = samples.select(
        *keys, ts_col, *order, F.col(value_col).cast("long").alias("__v")
    )
    j = point_in_span_join(
        pts,
        windows.withColumnRenamed(window_span_col, "span")
        if window_span_col != "span"
        else windows,
        ts_col=ts_col,
        validate="skip",
        strategy=strategy,
    )
    ord_sql = ", ".join([ts_col, *order])
    return j.groupBy(*keys, *label_cols).agg(
        F.expr(f"min_by(__v, struct({ord_sql}))").alias("open"),
        F.expr("max(__v)").alias("high"),
        F.expr("min(__v)").alias("low"),
        F.expr(f"max_by(__v, struct({ord_sql}))").alias("close"),
        F.count(F.lit(1)).alias("n_samples"),
        F.expr(f"CAST(min({ts_col}) AS BIGINT)").alias("first_ts"),
        F.expr(f"CAST(max({ts_col}) AS BIGINT)").alias("last_ts"),
    )


def heartbeat_windows(
    beats: DataFrame,
    windows: DataFrame,
    liveness_ns: int,
    ts_col: str = "ts",
    by: Key = None,
    window_span_col: str = "span",
    strategy: str = "auto",
) -> DataFrame:
    """Liveness/uptime per window from a heartbeat stream — the
    hypertable ``heartbeat_agg``/``uptime`` shape: each heartbeat at
    ``t`` asserts the instance alive over ``[t, t + liveness_ns)``;
    per (key, window) the UNION of those assertions (merged islands,
    so overlapping heartbeats never double-count) is clamped to the
    window and summed.

    Composed from the engine's own primitives: one
    :func:`~.coalesce.merge_spans` pass collapses the per-key
    assertion spans into maximal live islands (per-key sort + running
    max, the island-detection shuffle), then ONE overlap join against
    the dimension-sized windows and a duration sum — the exact
    skeleton of :func:`duration_in_state`, with the islands playing
    the validity runs.  Output: keys + window labels + ``live_ns``
    (ns alive inside the window) + ``n_islands`` (distinct live
    stretches intersecting it).  Downtime is
    ``window_width - live_ns`` at the caller (windows with zero
    coverage emit no row, the family convention)."""
    from ..functions.spans import make_span
    from .coalesce import merge_spans
    from .interval_join import interval_join

    if liveness_ns <= 0:
        raise ValueError(
            f"liveness_ns must be positive, got {liveness_ns}"
        )
    keys = _by_cols(by)
    label_cols = [c for c in windows.columns if c != window_span_col]
    if not label_cols:
        raise ValueError(
            "heartbeat_windows: windows must carry at least one label "
            "column besides the span"
        )
    t = F.col(ts_col).cast("long")
    spans = beats.select(
        *keys, make_span(t, t + F.lit(int(liveness_ns))).alias("span")
    )
    # persist: the auto-strategy stats probe is an agg action over the
    # island table — uncached it would replay the merge (shuffle + two
    # window passes) once for the probe and again inside the join
    islands = merge_spans(spans, by=by).drop("n_spans").persist()
    j = interval_join(
        islands,
        windows.withColumnRenamed(window_span_col, "span")
        if window_span_col != "span"
        else windows,
        validate="skip",
        strategy=strategy,
    )
    return j.groupBy(*keys, *label_cols).agg(
        F.expr("CAST(sum(span.stop - span.start) AS BIGINT)").alias(
            "live_ns"
        ),
        F.count(F.lit(1)).alias("n_islands"),
    )


def lttb_downsample(
    samples: DataFrame,
    n_out: int,
    value_col: str,
    ts_col: str = "ts",
    by: Key = None,
    order: Sequence[str] = (),
    mode: str = "parallel",
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling to ~``n_out``
    points per key — the visualization-grade decimation aggregate
    (Steinarsson 2013; the TimescaleDB toolkit ``lttb`` shape): first
    and last points always survive; the interior splits into
    ``n_out - 2`` equal-count buckets and each bucket keeps the point
    forming the largest triangle with its neighbor anchors.

    Two modes, one shared fixed-point contract (anchors that are
    bucket averages use TRUNCATED integer division, keeping every
    area term within ~|x_range|·|y| magnitudes — exactly replayable
    cross-engine, no doubles anywhere):

    - ``mode='parallel'`` (default, the 100 TB path): the left anchor
      is the PREVIOUS BUCKET'S truncated average (the first point for
      bucket 0) instead of the previously selected point, making
      every bucket independent — pure window + groupBy + join +
      ``max_by`` argmax, no sequential scan.  This is the documented
      engine variant (the same relaxation MapD/heavy.ai and most
      parallel LTTB implementations make); selected points differ
      from classic LTTB only where a bucket's winner was dragged by
      its neighbor's selection.
    - ``mode='classic'``: the textbook sequential rule (left anchor =
      previously SELECTED point) per key inside ``applyInPandas`` —
      the sanctioned per-group kernel; per-key state is O(1), cost
      O(N) per key.  Property-tested against a pure-Python reference.

    Ties break to the EARLIEST point (max score, then min rank).
    Keys with ``N <= n_out`` pass through complete.  Output: keys +
    ``ts_col`` + ``value_col`` (both BIGINT) + ``bucket`` (-1 for the
    endpoints).  ``n_out >= 3`` required; ``by`` key(s) required
    (downsampling interleaved keys together is never what a chart
    wants)."""
    keys = _by_cols(by)
    if not keys:
        raise ValueError("lttb_downsample: by key(s) required")
    if n_out < 3:
        raise ValueError(f"n_out must be >= 3, got {n_out}")
    if mode not in ("parallel", "classic"):
        raise ValueError(
            f"mode must be 'parallel' or 'classic', got {mode!r}"
        )
    nb = n_out - 2
    w = Window.partitionBy(*keys).orderBy(ts_col, *order)
    wk = Window.partitionBy(*keys)
    pts = samples.select(
        *keys,
        F.col(ts_col).cast("long").alias("x"),
        F.col(value_col).cast("long").alias("y"),
        (F.row_number().over(w) - 1).alias("r"),
        F.count(F.lit(1)).over(wk).alias("n"),
    )
    if mode == "classic":
        return _lttb_classic(pts, keys, n_out, ts_col, value_col)

    small = pts.filter(F.col("n") <= n_out).select(
        *keys,
        F.col("x").alias(ts_col),
        F.col("y").alias(value_col),
        F.lit(-1).alias("bucket"),
    )
    big = pts.filter(F.col("n") > n_out)
    ends = big.filter(
        (F.col("r") == 0) | (F.col("r") == F.col("n") - 1)
    ).select(
        *keys,
        F.col("x").alias(ts_col),
        F.col("y").alias(value_col),
        F.lit(-1).alias("bucket"),
    )
    interior = big.filter(
        (F.col("r") >= 1) & (F.col("r") <= F.col("n") - 2)
    ).withColumn(
        "b",
        F.expr(f"CAST(((r - 1) * {nb}) DIV (n - 2) AS BIGINT)"),
    )
    firsts = big.filter(F.col("r") == 0).select(
        *keys, F.col("x").alias("fx"), F.col("y").alias("fy")
    )
    lasts = big.filter(F.col("r") == F.col("n") - 1).select(
        *keys, F.col("x").alias("lx"), F.col("y").alias("ly")
    )
    # sums of epoch-ns overflow int64 over a bucket — accumulate in
    # DECIMAL(38,0) and truncate the average (the shared anchor rule)
    stats = interior.groupBy(*keys, "b").agg(
        F.expr(
            "CAST(sum(CAST(x AS DECIMAL(38,0))) DIV count(1) AS BIGINT)"
        ).alias("ax"),
        F.expr(
            "CAST(sum(CAST(y AS DECIMAL(38,0))) DIV count(1) AS BIGINT)"
        ).alias("ay"),
    )
    wb = Window.partitionBy(*keys).orderBy("b")
    anchors = (
        stats.select(
            *keys,
            "b",
            F.lag("ax").over(wb).alias("px"),
            F.lag("ay").over(wb).alias("py"),
            F.lead("ax").over(wb).alias("nx"),
            F.lead("ay").over(wb).alias("ny"),
        )
        .join(firsts, keys)
        .join(lasts, keys)
        .select(
            *keys,
            "b",
            F.coalesce("px", "fx").alias("px"),
            F.coalesce("py", "fy").alias("py"),
            F.coalesce("nx", "lx").alias("nx"),
            F.coalesce("ny", "ly").alias("ny"),
        )
    )
    dec = "DECIMAL(38,0)"
    score = (
        f"abs(CAST(px - nx AS {dec}) * CAST(y - py AS {dec})"
        f" - CAST(px - x AS {dec}) * CAST(ny - py AS {dec}))"
    )
    winners = (
        interior.join(anchors, [*keys, "b"])
        .withColumn("__s", F.expr(score))
        .groupBy(*keys, "b")
        .agg(
            F.expr("max_by(struct(x, y), struct(__s, -r))").alias("__w")
        )
        .select(
            *keys,
            F.col("__w.x").alias(ts_col),
            F.col("__w.y").alias(value_col),
            F.col("b").cast("int").alias("bucket"),
        )
    )
    return small.unionByName(ends).unionByName(winners)


def _lttb_classic(pts, keys, n_out, ts_col, value_col):
    """Sequential textbook LTTB per key (``applyInPandas``): the left
    anchor is the previously SELECTED point; the right anchor is the
    next bucket's TRUNCATED average (the engine's shared fixed-point
    rule; the last interior bucket anchors on the final point)."""
    import numpy as np
    import pandas as pd

    nb = n_out - 2
    schema = ", ".join(
        [f"`{k}` {t}" for k, t in zip(
            keys, [pts.schema[k].dataType.simpleString() for k in keys]
        )]
        + [f"`{ts_col}` bigint", f"`{value_col}` bigint", "bucket int"]
    )

    def one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("r", kind="mergesort")
        x = pdf["x"].to_numpy(dtype=object)
        y = pdf["y"].to_numpy(dtype=object)
        n = len(pdf)
        kv = [pdf[k].iloc[0] for k in keys]
        if n <= n_out:
            rows = [
                (*kv, int(x[i]), int(y[i]), -1) for i in range(n)
            ]
            return pd.DataFrame(rows, columns=[*keys, ts_col, value_col, "bucket"])
        # bucket boundaries of the interior ranks 1..n-2 (same floor
        # rule as the parallel mode)
        members: list[list[int]] = [[] for _ in range(nb)]
        for r in range(1, n - 1):
            members[((r - 1) * nb) // (n - 2)].append(r)
        rows = [(*kv, int(x[0]), int(y[0]), -1)]
        ax_, ay_ = int(x[0]), int(y[0])  # previously selected point
        for b in range(nb):
            idx = members[b]
            if not idx:
                continue
            if b + 1 < nb and members[b + 1]:
                nxt = members[b + 1]

                # TRUNCATE toward zero (Python // floors) — the shared
                # fixed-point anchor rule of the parallel mode
                def tdiv(a, d):
                    q = abs(a) // d
                    return q if a >= 0 else -q

                cx = tdiv(sum(int(x[i]) for i in nxt), len(nxt))
                cy = tdiv(sum(int(y[i]) for i in nxt), len(nxt))
            else:
                cx, cy = int(x[n - 1]), int(y[n - 1])
            best, best_s = None, -1
            for i in idx:
                s = abs(
                    (ax_ - cx) * (int(y[i]) - ay_)
                    - (ax_ - int(x[i])) * (cy - ay_)
                )
                if s > best_s:
                    best, best_s = i, s
            rows.append((*kv, int(x[best]), int(y[best]), b))
            ax_, ay_ = int(x[best]), int(y[best])
        rows.append((*kv, int(x[n - 1]), int(y[n - 1]), -1))
        return pd.DataFrame(rows, columns=[*keys, ts_col, value_col, "bucket"])

    return pts.groupBy(*keys).applyInPandas(one, schema)


def stats2d_windows(
    samples: DataFrame,
    windows: DataFrame,
    x_col: str,
    y_col: str,
    ts_col: str = "ts",
    by: Key = None,
    order: Sequence[str] = (),
    window_span_col: str = "span",
    strategy: str = "auto",
) -> DataFrame:
    """Two-dimensional statistical rollup per window — the hypertable
    ``stats_agg(x, y)`` shape: per (key, window), the EXACT integer
    moment sums of the contained samples' ``(x, y)`` pairs —
    ``n, sum_x, sum_y, sum_xx, sum_xy, sum_yy`` — from which every
    downstream 2-D statistic (covariance, correlation, OLS
    slope/intercept, R²) is one float expression at the caller
    (:func:`corr_from_stats2d` provides the standard derivations).

    Why moment sums and not the statistics: the sums are EXACT and
    order-independent under DECIMAL(38,0) accumulation, hence
    bit-replayable cross-engine AND mergeable — two windows' (or two
    partitions') sums add, which is what makes this the rollup/
    continuous-aggregate building block (TimescaleDB's ``rollup`` over
    ``stats_agg`` works the same way).  A float corr is neither.
    The sums are returned as STRINGS (the engine's gated-query rule:
    DECIMAL canonicalization differs across engines' hashers).

    ``x_col``/``y_col`` must be integral fixed-point values (the
    ``v_fx`` pattern); with \\|x\\|,\\|y\\| ≤ ~1e12 and ≤ ~1e13 samples per
    (key, window), every sum stays inside DECIMAL(38,0) — raw epoch-ns
    inputs would not; pass relative/µs-scaled times if regressing
    against time.  Scale shape: one broadcast stabbing join + one
    partial-agged group."""
    from .interval_join import point_in_span_join

    keys = _by_cols(by)
    label_cols = [c for c in windows.columns if c != window_span_col]
    if not label_cols:
        raise ValueError(
            "stats2d_windows: windows must carry at least one label "
            "column besides the span"
        )
    pts = samples.select(
        *keys,
        ts_col,
        *order,
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
    )
    j = point_in_span_join(
        pts,
        windows.withColumnRenamed(window_span_col, "span")
        if window_span_col != "span"
        else windows,
        ts_col=ts_col,
        validate="skip",
        strategy=strategy,
    )
    dec = "DECIMAL(38,0)"
    x, y = f"CAST(__x AS {dec})", f"CAST(__y AS {dec})"
    return j.groupBy(*keys, *label_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"CAST(sum({x}) AS STRING)").alias("sum_x"),
        F.expr(f"CAST(sum({y}) AS STRING)").alias("sum_y"),
        F.expr(f"CAST(sum({x} * {x}) AS STRING)").alias("sum_xx"),
        F.expr(f"CAST(sum({x} * {y}) AS STRING)").alias("sum_xy"),
        F.expr(f"CAST(sum({y} * {y}) AS STRING)").alias("sum_yy"),
    )


def corr_from_stats2d(df: DataFrame) -> DataFrame:
    """Float derivations over :func:`stats2d_windows` output: appends
    ``covar_pop``, ``corr``, ``slope`` (OLS y-on-x), ``intercept``.
    One row-local expression pass — the exact sums stay available for
    further rollup; NULL where undefined (n < 2 or zero variance).
    Floats are for consumption, not for the hash gate (pytest checks
    them against numpy; the gated query hashes the exact sums)."""
    n = F.col("n").cast("double")
    sx = F.col("sum_x").cast("double")
    sy = F.col("sum_y").cast("double")
    sxx = F.col("sum_xx").cast("double")
    sxy = F.col("sum_xy").cast("double")
    syy = F.col("sum_yy").cast("double")
    cov_n = sxy - sx * sy / n
    var_x = sxx - sx * sx / n
    var_y = syy - sy * sy / n
    nz = (F.col("n") >= 2) & (var_x > 0)
    covar = F.when(F.col("n") >= 2, cov_n / n)
    corr = F.when(
        nz & (var_y > 0), cov_n / F.sqrt(var_x * var_y)
    )
    slope = F.when(nz, cov_n / var_x)
    intercept = F.when(nz, (sy - (cov_n / var_x) * sx) / n)
    return (
        df.withColumn("covar_pop", covar)
        .withColumn("corr", corr)
        .withColumn("slope", slope)
        .withColumn("intercept", intercept)
    )


def gapfill_windows(
    samples: DataFrame,
    windows: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    by: Key = None,
    order: Sequence[str] = (),
    window_span_col: str = "span",
    tolerance: Optional[int] = None,
    method: str = "locf",
) -> DataFrame:
    """Gap-filled boundary snapshots — the hypertable
    ``time_bucket_gapfill(...) + locf()/interpolate()`` shape: EVERY
    (key, window) pair is emitted (unlike the coverage-gated
    aggregates in this family, which skip empty windows).

    ``method='locf'`` (default): the value the series held AT the
    window's start — the latest sample at-or-before it; output adds
    ``sample_ts``.  ``method='linear'``: the boundary value
    interpolates exactly between the neighboring samples
    (``v0 + dv·(t-t0) DIV D``, the engine's truncated fixed-point
    rule; exact ON a sample; NULL outside the observed range — the
    TimescaleDB ``interpolate()`` convention); output adds
    ``prev_ts``/``next_ts`` and costs ONE extra as-of pass.

    LOCF detail: the value held is the latest sample at-or-before it,
    NULL before the key's first sample or when ``tolerance`` (ns)
    expires the carried reading across a long outage.

    Composition: the key dimension (one distinct pass over
    ``samples``) cross-joins the dimension-sized windows table —
    both tiny, so the grid is broadcast-built — then one
    :func:`~.asof_join.asof_join` backward pass attaches the boundary
    reading.  Output: keys + every non-span windows column +
    ``w_start`` + ``<value_col>`` (the held value) + ``sample_ts``
    (when it was observed).  Dense by construction: rows ==
    |keys| × |windows| — callers chart it directly.

    Scale shape: one distinct-keys agg, one broadcast cross join
    (grid ≈ keys × windows, dimension-sized), one as-of join (union +
    per-key window pass).  ``order`` tie-breaks equal-timestamp
    samples; the LAST by the tie-break wins (asof_join contract)."""
    keys = _by_cols(by)
    if not keys:
        raise ValueError("gapfill_windows: by key(s) required")
    if method not in ("locf", "linear"):
        raise ValueError(
            f"gapfill_windows: method must be 'locf' or 'linear', "
            f"got {method!r}"
        )
    label_cols = [c for c in windows.columns if c != window_span_col]
    if not label_cols:
        raise ValueError(
            "gapfill_windows: windows must carry at least one label "
            "column besides the span"
        )
    kdim = samples.select(*keys).distinct()
    grid = kdim.crossJoin(
        F.broadcast(
            windows.select(
                *label_cols,
                F.col(f"{window_span_col}.start").alias("w_start"),
            )
        )
    )
    # equal-timestamp samples reduce FIRST (one partial-agged pass) so
    # the as-of pick is deterministic: the LAST by ``order`` wins, or
    # the max value when no tie-break is given
    pick = (
        F.expr(
            f"max_by({value_col}, struct({', '.join(order)}))"
        )
        if order
        else F.max(value_col)
    )
    obs = (
        samples.select(
            *keys,
            F.col(ts_col).cast("long").alias("w_start"),
            F.col(value_col),
            *order,
        )
        .groupBy(*keys, "w_start")
        .agg(pick.alias(value_col))
    )
    out = asof_join(
        grid, obs, on="w_start", by=keys, direction="backward",
        tolerance=tolerance,
    )
    if method == "locf":
        return out.select(
            *keys,
            *label_cols,
            "w_start",
            F.col(f"{value_col}_right").alias(value_col),
            F.col("w_start_right").alias("sample_ts"),
        )
    # linear: a second (forward) as-of pass finds the NEXT sample and
    # the boundary interpolates exactly between the two readings with
    # the engine's truncated fixed-point rule (v0 + dv·(t-t0) DIV D).
    # A boundary ON a sample is exact; before the first or after the
    # last sample there is nothing to interpolate against -> NULL
    # (TimescaleDB's interpolate() convention, unlike locf's carry).
    back = out.select(
        *keys,
        *label_cols,
        "w_start",
        F.col(f"{value_col}_right").alias("__v0"),
        F.col("w_start_right").alias("__t0"),
    )
    fwd = asof_join(
        back, obs, on="w_start", by=keys, direction="forward",
        tolerance=tolerance,
    ).select(
        *keys,
        *label_cols,
        "w_start",
        "__v0",
        "__t0",
        F.col(f"{value_col}_right").alias("__v1"),
        F.col("w_start_right").alias("__t1"),
    )
    dec = "DECIMAL(38,0)"
    lerp = F.expr(
        f"CAST(__v0 + CAST(__v1 - __v0 AS {dec})"
        f" * CAST(w_start - __t0 AS {dec})"
        f" DIV nullif(__t1 - __t0, 0) AS BIGINT)"
    )
    filled = (
        F.when(F.col("__t0") == F.col("w_start"), F.col("__v0"))
        .when(
            F.col("__t0").isNotNull() & F.col("__t1").isNotNull(), lerp
        )
    )
    return fwd.select(
        *keys,
        *label_cols,
        "w_start",
        filled.alias(value_col),
        F.col("__t0").alias("prev_ts"),
        F.col("__t1").alias("next_ts"),
    )


def topn_windows(
    samples: DataFrame,
    windows: DataFrame,
    key_col: str,
    n: int,
    ts_col: str = "ts",
    window_span_col: str = "span",
    strategy: str = "auto",
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Top-N keys per window — the "top users per hour" staple: stab
    each sample into its window(s), count (or sum ``weight_col``) per
    (window, key), and keep each window's N heaviest keys with a
    deterministic total order (count DESC, key ASC — ties never
    depend on partitioning).

    Scale shape: one broadcast stabbing join, one partial-agged count
    (the exchange carries (window, key) pairs, not samples), then a
    rank window per window label whose plan is WindowGroupLimit-
    pruned — each task keeps at most N rows per window BEFORE the
    final shuffle, so output state is O(windows · N) everywhere.
    Output: window labels + ``key_col`` + ``cnt`` + ``rank``."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    label_cols = [c for c in windows.columns if c != window_span_col]
    if not label_cols:
        raise ValueError(
            "topn_windows: windows must carry at least one label "
            "column besides the span"
        )
    from .interval_join import point_in_span_join

    j = point_in_span_join(
        samples.select(key_col, ts_col, *(
            [weight_col] if weight_col else []
        )),
        windows.withColumnRenamed(window_span_col, "span")
        if window_span_col != "span"
        else windows,
        ts_col=ts_col,
        validate="skip",
        strategy=strategy,
    )
    agg = (
        F.expr(f"CAST(sum({weight_col}) AS BIGINT)")
        if weight_col
        else F.count(F.lit(1))
    )
    counts = j.groupBy(*label_cols, key_col).agg(agg.alias("cnt"))
    w = Window.partitionBy(*label_cols).orderBy(
        F.desc("cnt"), F.asc(key_col)
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
    )


def histogram_windows(
    samples: DataFrame,
    windows: DataFrame,
    value_col: str,
    lo: int,
    hi: int,
    nbuckets: int,
    ts_col: str = "ts",
    by: Key = None,
    window_span_col: str = "span",
    strategy: str = "auto",
) -> DataFrame:
    """Equi-width histogram per window — the TimescaleDB
    ``histogram(value, lo, hi, nbuckets)`` aggregate re-expressed over
    the stabbing join: stab each sample into its window(s), assign an
    integer bucket, and count per (key, window, bucket).

    Bucket layout follows the TimescaleDB convention of ``nbuckets + 2``
    slots: bucket ``0`` is the underflow bin (``value < lo``), bucket
    ``nbuckets + 1`` the overflow bin (``value >= hi``), and bucket
    ``1 + (value - lo) * nbuckets DIV (hi - lo)`` the equi-width
    interior.  ``value_col`` must be integral (the fixed-point contract
    shared with :func:`counter_windows`); the bucket index is exact
    integer arithmetic — the product is taken in DECIMAL(38,0) so a
    wide fixed-point domain times a large ``nbuckets`` cannot wrap —
    so partial-aggregation order can never perturb the result.

    Output is SPARSE (empty buckets are absent): at 100 TB a dense
    (window × key × bucket) grid is exactly the cartesian blow-up the
    gapfill plan lock forbids; densify at read time against a
    ``spark.range(nbuckets + 2)`` broadcast if a client needs zeros.

    Scale shape: one projection (bucket expression, JVM codegen), one
    broadcast stabbing join, one partial-agged count — the exchange
    carries (key, window, bucket) triples, not samples.  Nothing
    driver-side."""
    if nbuckets < 1:
        raise ValueError(f"nbuckets must be >= 1, got {nbuckets}")
    if not lo < hi:
        raise ValueError(f"need lo < hi, got [{lo}, {hi})")
    keys = _by_cols(by)
    label_cols = [c for c in windows.columns if c != window_span_col]
    if not label_cols:
        raise ValueError(
            "histogram_windows: windows must carry at least one label "
            "column besides the span"
        )
    from .interval_join import point_in_span_join

    obs = samples.select(
        *keys,
        F.col(ts_col),
        F.expr(histogram_bucket_expr(value_col, lo, hi, nbuckets)).alias(
            "bucket"
        ),
    )
    j = point_in_span_join(
        obs,
        windows.withColumnRenamed(window_span_col, "span")
        if window_span_col != "span"
        else windows,
        ts_col=ts_col,
        validate="skip",
        strategy=strategy,
    )
    return j.groupBy(*keys, *label_cols, "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )


def autocorrelation(
    samples: DataFrame,
    value_col: str,
    max_lag: int,
    ts_col: str = "ts",
    by: Key = None,
    order: Sequence[str] = (),
    chunk_ns: Optional[int] = None,
) -> DataFrame:
    """Row-lag sample autocorrelation — ACF(1..max_lag) per key: the
    Pearson correlation between the (ts, *order)-ordered series and
    its k-row-lagged self over the observed pairs, for every lag k in
    ``1..max_lag``.  The pair-wise Pearson variant (per-lag means),
    the standard cross-correlogram for irregular event series; for a
    regularly-gridded ACF feed :func:`resample_locf` output in.

    ``value_col`` must be integral (the fixed-point contract shared
    with :func:`counter_windows`).  Per (key, lag) the moments
    (n, Σx, Σy, Σxy, Σx², Σy²) accumulate EXACTLY in DECIMAL(38,0) —
    partial-aggregation order cannot perturb them and epoch-scale
    fixed-point values cannot wrap — and combine into the correlation
    in one fixed-order double formula, rounded to 6 places.

    Output: key cols + ``lag`` + ``n`` (pair count) + ``acf``
    (NULL when either side is constant).

    Scale shape — two modes, bit-identical results:

    * ``chunk_ns=None`` (default): ONE per-key sort window evaluates
      all ``max_lag`` lag columns (a single Window operator — Spark
      batches same-frame lags), the explode amplifies rows map-side,
      and the moment aggregation partial-aggregates around one
      exchange.  PARALLELISM IS #KEYS: a Window partitioned by the
      key puts each key's whole series in one task — right for
      high-cardinality keys, a straggler (measured 26.7x wall at 10x
      data on a 5-key fixture) and ultimately an OOM for a few huge
      series.
    * ``chunk_ns=N``: the distributed-rank path for low-cardinality
      keys — the same prefix-offset decomposition as
      operators/ranking.py.  Rows chunk by ``ts DIV N``; a window
      partitioned by (key, chunk) assigns LOCAL row numbers
      (parallelism = #chunks); per-chunk counts cumsum into chunk
      offsets over a chunk-level table (#key·#chunk rows — the only
      per-key window, dimension-sized); global rank = offset + local
      rn, exact because equal-ts rows share a chunk and chunks are
      ts-ordered.  Pairs come from a hash-parallel self-join on
      (key, rank - k) — every stage scales with hash partitions,
      never with #keys."""
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    keys = _by_cols(by)
    if not keys:
        raise ValueError("autocorrelation: by key(s) required")
    order = list(order)
    v = F.col(value_col).cast("long")
    if chunk_ns is not None:
        if chunk_ns <= 0:
            raise ValueError(f"chunk_ns must be positive, got {chunk_ns}")
        t = f"CAST({ts_col} AS BIGINT)"
        fdiv = (
            f"(({t} - pmod({t}, {chunk_ns})) DIV {chunk_ns})"
        )  # floor for negative epochs
        wloc = Window.partitionBy(*keys, "__c").orderBy(ts_col, *order)
        loc = samples.select(
            *keys, F.col(ts_col), *order,
            F.expr(fdiv).alias("__c"), v.alias("__x"),
        ).select(
            *keys, "__c", "__x",
            F.row_number().over(wloc).alias("__rn"),
        )
        cnts = loc.groupBy(*keys, "__c").agg(F.count(F.lit(1)).alias("__n"))
        woff = (
            Window.partitionBy(*keys)
            .orderBy("__c")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offs = cnts.select(
            *keys, "__c",
            F.coalesce(F.sum("__n").over(woff), F.lit(0)).alias("__off"),
        )
        ranked = loc.join(offs, [*keys, "__c"]).select(
            *keys, (F.col("__off") + F.col("__rn")).alias("__r"), "__x"
        )
        probes = F.array(*[
            F.struct(
                F.lit(k).cast("long").alias("lag"),
                (F.col("__r") - k).alias("__ry"),
            )
            for k in range(1, max_lag + 1)
        ])
        left = ranked.select(
            *keys, F.col("__x").alias("x"), F.explode(probes).alias("p")
        ).select(*keys, "x", "p.lag", "p.__ry")
        right = ranked.select(
            *keys, F.col("__r").alias("__ry"), F.col("__x").alias("y")
        )
        ex = left.join(right, [*keys, "__ry"]).select(
            *keys, "lag", "x", "y"
        )
    else:
        w = Window.partitionBy(*keys).orderBy(ts_col, *order)
        # window expressions are illegal inside a generator: evaluate
        # all max_lag lag columns in one Window pass first, THEN explode
        lagged = samples.select(
            *keys,
            v.alias("__x"),
            *[
                F.lag(v, k).over(w).alias(f"__y{k}")
                for k in range(1, max_lag + 1)
            ],
        )
        pairs = F.array(*[
            F.struct(
                F.lit(k).cast("long").alias("lag"),
                F.col("__x").alias("x"),
                F.col(f"__y{k}").alias("y"),
            )
            for k in range(1, max_lag + 1)
        ])
        ex = (
            lagged.select(*keys, F.explode(pairs).alias("p"))
            .select(*keys, "p.lag", "p.x", "p.y")
            .filter(F.col("y").isNotNull())
        )
    dec = "DECIMAL(38,0)"
    s = ex.groupBy(*keys, "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"sum(CAST(x AS {dec}))").alias("sx"),
        F.expr(f"sum(CAST(y AS {dec}))").alias("sy"),
        F.expr(f"sum(CAST(x AS {dec}) * CAST(y AS {dec}))").alias("sxy"),
        F.expr(f"sum(CAST(x AS {dec}) * CAST(x AS {dec}))").alias("sx2"),
        F.expr(f"sum(CAST(y AS {dec}) * CAST(y AS {dec}))").alias("sy2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    den = F.sqrt(
        (d("n") * d("sx2") - d("sx") * d("sx"))
        * (d("n") * d("sy2") - d("sy") * d("sy"))
    )
    # ANSI mode raises DIVIDE_BY_ZERO even for doubles: a constant
    # side (zero variance) must yield NULL, not an error
    corr = F.when(
        den != F.lit(0.0),
        (d("n") * d("sxy") - d("sx") * d("sy")) / den,
    )
    return s.select(
        *keys, "lag", "n", F.round(corr, 6).alias("acf")
    )


def histogram_bucket_expr(
    value_col: str, lo: int, hi: int, nbuckets: int
) -> str:
    """The exact-integer TimescaleDB bucket formula shared by
    :func:`histogram_windows`, :func:`~.profile.psi_drift` and the
    streaming twin: 0 = underflow, ``nbuckets + 1`` = overflow,
    interior ``1 + (v - lo) * nbuckets DIV (hi - lo)``.

    The interior branch only sees ``lo <= v < hi``, so the product is
    bounded by ``(hi - lo) * nbuckets`` — a PLAN-TIME constant: when
    it fits int64 the expression stays in plain long arithmetic
    (whole-stage-codegen primitive ops); only a genuinely wide
    fixed-point domain pays the DECIMAL(38,0) row cost.  Both paths
    are bit-identical."""
    v = f"CAST({value_col} AS BIGINT)"
    if (hi - lo) * nbuckets < 2**63:
        interior = (
            f"CAST(1 + (({v} - {lo}) * {nbuckets}) DIV {hi - lo} "
            f"AS BIGINT)"
        )
    else:
        dec = "DECIMAL(38,0)"
        interior = (
            f"CAST(1 + CAST(({v} - {lo}) AS {dec}) "
            f"* CAST({nbuckets} AS {dec}) DIV CAST({hi - lo} AS {dec}) "
            f"AS BIGINT)"
        )
    return (
        f"CASE WHEN {v} < {lo} THEN CAST(0 AS BIGINT) "
        f"WHEN {v} >= {hi} THEN CAST({nbuckets + 1} AS BIGINT) "
        f"ELSE {interior} END"
    )


def seasonal_anomaly_counts(
    samples: DataFrame,
    value_col: str,
    period_ns: int,
    bucket_ns: int,
    ts_col: str = "ts",
    by: Key = None,
    z: int = 2,
) -> DataFrame:
    """Seasonal-baseline anomaly detection — the time-of-day /
    day-of-week profile staple: fold timestamps onto a repeating
    period (``season = (ts DIV bucket_ns) mod (period_ns DIV
    bucket_ns)``, e.g. hour-of-day for period=24h bucket=1h), build
    the per-(key, season) baseline, and count the samples more than
    ``z`` standard deviations from THEIR season's mean.

    ENTIRELY exact integer arithmetic — no doubles anywhere: with
    per-group moments (n, Σx, Σx²) the z-test
    ``(x − μ)² > z²·σ²`` multiplies through by ``n²`` into
    ``(n·x − Σx)² > z²·(n·Σx² − (Σx)²)``, evaluated in DECIMAL(38,0)
    so web-scale group counts cannot wrap.  ``value_col`` must be
    integral (the shared fixed-point contract).  Negative timestamps
    fold correctly (floor-div via the pmod trick, then pmod season).

    Output per (key, season): ``n``, ``mu_fp6`` (``Σx·1e6 DIV n`` —
    exact truncated fixed-point mean), ``n_anomalies``.

    Scale shape: one partial-agged stats shuffle (groups are
    (key, season) — bounded by keys × period/bucket), a broadcast
    join of the tiny stats table back onto the samples, and a second
    partial-agged count.  Nothing driver-side."""
    if bucket_ns <= 0 or period_ns <= 0 or period_ns % bucket_ns:
        raise ValueError(
            f"period_ns ({period_ns}) must be a positive multiple of "
            f"bucket_ns ({bucket_ns})"
        )
    keys = _by_cols(by)
    nseasons = period_ns // bucket_ns
    t = f"CAST({ts_col} AS BIGINT)"
    # floor division for possibly-negative epochs: subtract the
    # nonnegative pmod first (Spark DIV truncates toward zero)
    fdiv = f"(({t} - pmod({t}, {bucket_ns})) DIV {bucket_ns})"
    season = f"CAST(pmod({fdiv}, {nseasons}) AS BIGINT)"
    dec = "DECIMAL(38,0)"
    obs = samples.select(
        *keys,
        F.expr(season).alias("season"),
        F.col(value_col).cast("long").alias("__x"),
    )
    s = obs.groupBy(*keys, "season").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"sum(CAST(__x AS {dec}))").alias("sx"),
        F.expr(f"sum(CAST(__x AS {dec}) * CAST(__x AS {dec}))").alias("sx2"),
    )
    j = obs.join(F.broadcast(s), [*keys, "season"])
    dev = f"(CAST(n AS {dec}) * CAST(__x AS {dec}) - sx)"
    var_n2 = f"(CAST(n AS {dec}) * sx2 - sx * sx)"
    flag = F.expr(f"{dev} * {dev} > {z * z} * {var_n2}")
    return (
        j.groupBy(*keys, "season")
        .agg(
            F.max("n").alias("n"),
            F.expr(
                f"CAST(max(sx) * 1000000 DIV max(CAST(n AS {dec})) "
                "AS BIGINT)"
            ).alias("mu_fp6"),
            F.sum(flag.cast("long")).alias("n_anomalies"),
        )
    )


def cross_correlation(
    a: DataFrame,
    b: DataFrame,
    bucket_ns: int,
    max_lag: int,
    ts_col: str = "ts",
    a_value: Optional[str] = None,
    b_value: Optional[str] = None,
) -> DataFrame:
    """Cross-correlogram CCF(−max_lag..max_lag) between two event
    streams on a shared regular grid — "does series B lead or lag
    series A, and by how much": both inputs aggregate to per-bucket
    totals (``count(*)``, or ``sum(a_value)``/``sum(b_value)`` for
    integral fixed-point value columns), the grid densifies with
    ZEROS over the union span (a quiet bucket is a real observation —
    skipping empties biases the correlogram toward bursts), and
    ``ccf(k) = pearson(x_t, y_{t+k})`` over the grid positions where
    both sides exist.  Positive k means B LAGS A by k buckets.

    Moments (n, Σx, Σy, Σxy, Σx², Σy²) accumulate exactly in
    DECIMAL(38,0) and combine in one fixed-order double formula
    (round 6), NULL when either side is constant over the overlap —
    the shared hash contract.

    Output: ``lag`` + ``n`` (grid pairs) + ``ccf``.

    Scale shape: one partial-agged count shuffle per input (the only
    stages that see sample volume); everything downstream runs on the
    DIMENSION-SIZED bucket grid (timeline / bucket_ns rows): a
    broadcast zero-fill join against ``spark.range``, a 2·max_lag+1
    map-side explode, and a hash join on shifted bucket ids.  The
    span probe is one bounded 1-row driver action (the dfspan
    pattern)."""
    if max_lag < 0:
        raise ValueError(f"max_lag must be >= 0, got {max_lag}")
    if bucket_ns <= 0:
        raise ValueError(f"bucket_ns must be positive, got {bucket_ns}")

    def _series(df: DataFrame, value: Optional[str]) -> DataFrame:
        t = f"CAST({ts_col} AS BIGINT)"
        bucket = f"(({t} - pmod({t}, {bucket_ns})) DIV {bucket_ns})"
        agg = (
            F.count(F.lit(1)).cast("long")
            if value is None
            else F.sum(F.col(value).cast("long"))
        )
        return (
            df.select(F.expr(bucket).alias("bucket"))
            if value is None
            else df.select(F.expr(bucket).alias("bucket"), value)
        ).groupBy("bucket").agg(agg.alias("v"))

    sa, sb = _series(a, a_value), _series(b, b_value)
    spark = a.sparkSession
    span = driver_row(
        sa.select("bucket")
        .unionByName(sb.select("bucket"))
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    )
    if span["lo"] is None:
        return spark.createDataFrame(
            [], "lag long, n long, ccf double"
        )
    lo, hi = int(span["lo"]), int(span["hi"])
    grid = spark.range(hi - lo + 1).select(
        (F.col("id") + lo).alias("bucket")
    )
    gx = grid.join(F.broadcast(sa), "bucket", "left").select(
        "bucket", F.coalesce("v", F.lit(0)).alias("x")
    )
    gy = grid.join(F.broadcast(sb), "bucket", "left").select(
        "bucket", F.coalesce("v", F.lit(0)).alias("y")
    )
    probes = F.array(*[
        F.struct(
            F.lit(k).cast("long").alias("lag"),
            (F.col("bucket") + k).alias("__yb"),
        )
        for k in range(-max_lag, max_lag + 1)
    ])
    left = gx.select(
        "x", F.explode(probes).alias("p")
    ).select("x", "p.lag", "p.__yb")
    ex = left.join(
        gy.select(F.col("bucket").alias("__yb"), "y"), "__yb"
    ).select("lag", "x", "y")
    dec = "DECIMAL(38,0)"
    s = ex.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"sum(CAST(x AS {dec}))").alias("sx"),
        F.expr(f"sum(CAST(y AS {dec}))").alias("sy"),
        F.expr(f"sum(CAST(x AS {dec}) * CAST(y AS {dec}))").alias("sxy"),
        F.expr(f"sum(CAST(x AS {dec}) * CAST(x AS {dec}))").alias("sx2"),
        F.expr(f"sum(CAST(y AS {dec}) * CAST(y AS {dec}))").alias("sy2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    den = F.sqrt(
        (d("n") * d("sx2") - d("sx") * d("sx"))
        * (d("n") * d("sy2") - d("sy") * d("sy"))
    )
    corr = F.when(
        den != F.lit(0.0),
        (d("n") * d("sxy") - d("sx") * d("sy")) / den,
    )
    return s.select("lag", "n", F.round(corr, 6).alias("ccf"))


def entropy_windows(
    samples: DataFrame,
    windows: DataFrame,
    label_col: str,
    labels: Sequence[str],
    ts_col: str = "ts",
    by: Key = None,
    window_span_col: str = "span",
    strategy: str = "auto",
) -> DataFrame:
    """Shannon entropy of a label distribution per window — the
    diversity monitor ("did one event type swallow the mix this
    hour?"): stab samples into windows, pivot the label counts into
    integer columns over the EXPLICIT ``labels`` list (the engine's
    pivot rule — no distinct-values pre-scan; labels outside the list
    count toward ``n`` and the ``other`` column), and emit
    ``H = −Σ p_i·ln(p_i)`` in nats as ONE fixed-order double
    expression over the exact counts (empty labels contribute 0 by
    the ``p·ln p → 0`` convention, handled with a guard, not
    smoothing).  Also emits ``norm_entropy = H / ln(k)`` (k = number
    of possible labels incl. other) for a 0–1 balance score.

    Output per (key, window): window labels + key cols + ``n`` +
    one count column per label + ``other`` + ``entropy`` +
    ``norm_entropy`` (round 6).

    Scale shape: one broadcast stabbing join, one partial-agged pivot
    group (the exchange carries (key, window, counts) rows), one
    final projection.  Nothing driver-side."""
    labels = list(labels)
    if not labels:
        raise ValueError("entropy_windows: labels list required")
    if len(set(labels)) != len(labels):
        raise ValueError("entropy_windows: duplicate labels")
    keys = _by_cols(by)
    label_cols = [c for c in windows.columns if c != window_span_col]
    if not label_cols:
        raise ValueError(
            "entropy_windows: windows must carry at least one label "
            "column besides the span"
        )
    from .interval_join import point_in_span_join

    j = point_in_span_join(
        samples.select(*keys, F.col(ts_col), F.col(label_col)),
        windows.withColumnRenamed(window_span_col, "span")
        if window_span_col != "span"
        else windows,
        ts_col=ts_col,
        validate="skip",
        strategy=strategy,
    )
    cnt_cols = [
        F.sum(
            F.when(F.col(label_col) == lab, F.lit(1)).otherwise(F.lit(0))
        ).alias(f"n_{i}")
        for i, lab in enumerate(labels)
    ]
    other = F.sum(
        F.when(
            ~F.col(label_col).isin(labels) | F.col(label_col).isNull(),
            F.lit(1),
        ).otherwise(F.lit(0))
    ).alias("other")
    g = j.groupBy(*keys, *label_cols).agg(
        F.count(F.lit(1)).alias("n"), *cnt_cols, other
    )
    k = len(labels) + 1
    nd = F.col("n").cast("double")

    def _term(col):
        p = F.col(col).cast("double") / nd
        return F.when(F.col(col) > 0, -p * F.log(p)).otherwise(F.lit(0.0))

    ent = None
    for i in range(len(labels)):
        t = _term(f"n_{i}")
        ent = t if ent is None else ent + t
    ent = ent + _term("other")
    import math

    return g.select(
        *keys,
        *label_cols,
        "n",
        *[F.col(f"n_{i}").alias(f"n_{lab}") for i, lab in enumerate(labels)],
        "other",
        F.round(ent, 6).alias("entropy"),
        F.round(ent / F.lit(math.log(k)), 6).alias("norm_entropy"),
    )


def max_drawdown(
    df: DataFrame,
    value_col: str,
    by: Key = "user_id",
    order_cols: Sequence[str] = ("ts", "event_id"),
) -> DataFrame:
    """Per-key maximum drawdown: the largest decline of ``value_col``
    below its running peak along the key's (deterministically ordered)
    series — the classic risk / degradation-monitoring statistic.

    Semantics (pinned for the oracle): NULL values drop; the running
    peak uses an explicit ``ROWS UNBOUNDED PRECEDING`` frame over
    ``order_cols`` (trailing unique tie-break); ``max_drawdown`` is
    ``max(peak_so_far - value)`` (absolute units) and
    ``max_drawdown_rel`` is ``max((peak_so_far - value)/peak_so_far)``
    over rows whose peak is strictly positive (NULL when none are).
    Every double op is a per-row subtraction/division followed by
    MAX — comparison-based and order-independent, so the result is
    bit-identical cross-engine with no distributed double sums.

    Scale shape: one shuffle on ``by`` for the window sort; the
    following groupBy reuses the SAME hash partitioning (no second
    exchange) with map-side partial max.  No Python, no cartesian.

    Output: ``(by, peak, max_drawdown, max_drawdown_rel)``.
    """
    keys = _by_cols(by)
    if not keys:
        raise ValueError("max_drawdown: a grouping key is required")
    w = (
        Window.partitionBy(*keys)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    v = F.col(value_col)
    s = (
        df.filter(v.isNotNull())
        .select(*keys, *order_cols, v.alias("__v"))
        .withColumn("__runmax", F.max("__v").over(w))
    )
    dd = F.col("__runmax") - F.col("__v")
    return s.groupBy(*keys).agg(
        F.max("__runmax").alias("peak"),
        F.max(dd).alias("max_drawdown"),
        F.max(
            F.when(F.col("__runmax") > 0, dd / F.col("__runmax"))
        ).alias("max_drawdown_rel"),
    )


def interarrival_histogram(
    df: DataFrame,
    by: Key = "user_id",
    ts_col: str = "ts",
    order_cols: Sequence[str] = ("ts", "event_id"),
) -> DataFrame:
    """Arrival-process profile: histogram of the gaps between a key's
    consecutive events, bucketed by DECIMAL DECADE — the
    latency-distribution shape every event pipeline publishes.

    Semantics (pinned for the oracle): gaps are ``next_ts - ts`` along
    the key's (ts, tie-break) order, the last event of a key emits
    nothing, and the decade of a positive gap is
    ``length(CAST(gap AS STRING)) - 1`` — exactly
    ``floor(log10(gap))``, computed on INTEGERS so there is no
    float-log boundary drift between engines.  Non-positive gaps
    (exact-timestamp ties) land in decade -1.  Per decade: count and
    the exact min/max gap.

    Scale shape: one keyed window shuffle + a partial-agged groupBy
    bounded by ~19 decades.  No Python.
    """
    keys = _by_cols(by)
    if not keys:
        raise ValueError("interarrival_histogram: a grouping key is required")
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order_cols])
    cols = list(dict.fromkeys([*keys, *order_cols, ts_col]))
    g = (
        df.select(*cols)
        .withColumn("__gap", F.lead(F.col(ts_col)).over(w) - F.col(ts_col))
        .filter(F.col("__gap").isNotNull())
    )
    decade = F.when(F.col("__gap") <= 0, F.lit(-1)).otherwise(
        F.length(F.col("__gap").cast("string")) - 1
    )
    return (
        g.select(decade.cast("long").alias("decade"), "__gap")
        .groupBy("decade")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("__gap").alias("min_gap"),
            F.max("__gap").alias("max_gap"),
        )
    )


def survival_curve(
    df: DataFrame,
    by: Key = "user_id",
    ts_col: str = "ts",
    unit_ns: int = 86_400_000_000_000,
) -> DataFrame:
    """Duration / survival analysis over per-key lifetimes: for every
    distinct lifetime length, how many keys end there, how many were
    still "at risk", the exact survival probability, and the discrete
    hazard — the churn / session-length / study-retention curve.

    Semantics (pinned for the oracle): a key's lifetime is
    ``(max(ts) - min(ts)) DIV unit_ns`` whole units (default days —
    single-event keys live 0 units); with every lifetime fully
    observed (no censoring) the Kaplan-Meier estimator reduces to the
    empirical survivor function, so ``survival_ppm = #{lifetime > d}
    * 1e6 DIV n_total`` and ``hazard_ppm = n_end * 1e6 DIV
    n_at_risk`` are EXACT integers — no cumulative float product
    anywhere.  (Censored data needs the KM product; deliberately out
    of scope so the result stays bit-exact cross-engine.)

    Scale shape: one partial-agged groupBy per key, one groupBy on the
    unit-granular duration, then a cumulative window over the
    DIMENSION-sized distinct-duration table (bounded by the corpus
    time range in units — thousands of rows, not data-sized; coarsen
    ``unit_ns`` if your range isn't).  No Python.

    Output: ``(duration, n_end, n_at_risk, survival_ppm, hazard_ppm)``.
    """
    keys = _by_cols(by)
    if not keys:
        raise ValueError("survival_curve: a grouping key is required")
    if unit_ns <= 0:
        raise ValueError(f"unit_ns must be positive, got {unit_ns}")
    per = df.groupBy(*keys).agg(
        F.expr(
            f"(max(CAST({ts_col} AS BIGINT))"
            f" - min(CAST({ts_col} AS BIGINT))) div {unit_ns}"
        ).alias("duration")
    )
    g = per.groupBy("duration").agg(F.count(F.lit(1)).alias("n_end"))
    w = (
        Window.orderBy("duration")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tw = Window.partitionBy()
    g = g.withColumn("__cum", F.sum("n_end").over(w)).withColumn(
        "__tot", F.sum("n_end").over(tw)
    )
    return g.select(
        "duration",
        "n_end",
        (F.col("__tot") - F.col("__cum") + F.col("n_end")).alias("n_at_risk"),
        F.expr("((__tot - __cum) * 1000000L) div __tot").alias(
            "survival_ppm"
        ),
        F.expr(
            "(n_end * 1000000L) div (__tot - __cum + n_end)"
        ).alias("hazard_ppm"),
    )
