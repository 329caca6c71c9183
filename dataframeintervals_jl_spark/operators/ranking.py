"""Distributed global frequency ranking — no single-partition window.

The tokenizer-vocabulary queries need a TOTAL 0-based rank of every
term by ``(count DESC, term ASC)``.  The naive ``row_number() OVER
(ORDER BY count DESC, term)`` funnels the whole distinct-term table
through ONE task (``WindowExec: No Partition Defined``) — at web-corpus
scale the vocabulary is hundreds of millions of rows (typos, URLs,
code), so that window is the straggler that kills the job.

This module decomposes the rank into three fully parallel pieces,
built on the bucket prefix offsets of :mod:`.range_buckets`:

``rank(t) = base(count_t) + prefix(count_t, bucket_t) + rn(t) - 1``

1. **base(c)** — number of terms with count > c.  Group terms per
   distinct count, log2-bucket the counts, cumsum inside each bucket,
   and correct buckets by a <=64-row driver-collected prefix.  Log
   bucketing is the skew answer: a value-range bucket over Zipfian
   counts puts nearly every distinct count in the lowest bucket,
   while bucket ``[2^b, 2^(b+1))`` holds at most
   ``min(2^b, |{terms with count >= 2^b}|)`` rows — bounded by
   ~sqrt(vocabulary) under any heavy-tailed count distribution.
2. **prefix(c, p)** — among terms of count c, how many sort before
   bucket p, where p is the term's 2-char prefix.  One aggregate per
   (count, prefix) plus a window PARTITIONED BY count over that tiny
   table (<= |prefixes| rows per count value).
3. **rn(t)** — ``row_number()`` partitioned by (count, prefix).  The
   largest partition is the hapax-legomena terms sharing one 2-char
   prefix — a vanishing fraction of the vocabulary, spillable.

A string prefix is order-consistent with full-string comparison (the
first differing position between two strings with different 2-char
prefixes lies within those prefixes), so the decomposed rank equals the
single-window rank exactly, ties and all.

Engine extension beyond the reference surface (the reference,
/root/reference/src/DataFrameIntervals.jl, has no ranking operator);
part of the LLM-pipeline layer (SURVEY.md §7.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import driver_count, driver_row
from .range_buckets import BUCKET, attach, bucket_count, bucketize, summarize

_PB = "__dfi_rank_pb"  # tie-column 2-char prefix bucket


def frequency_rank(
    df: DataFrame,
    count_col: str = "count",
    tie_col: str = "term",
    rank_col: str = "rank",
    materialize_input: bool = True,
) -> DataFrame:
    """Append ``rank_col``: the 0-based position of each row under
    ``ORDER BY count_col DESC, tie_col ASC`` — exactly
    ``row_number() - 1`` over that global order, computed with no
    single-partition exchange.

    Requirements: ``count_col`` >= 1 (a groupBy-count is), ``tie_col``
    non-null and unique per row (a distinct-term table is).

    The decomposition reads ``df`` three times (base offsets, prefix
    offsets, final join) plus one driver-side bucket collect; with
    ``materialize_input=True`` (default) the input is materialized ONCE
    via an eager ``localCheckpoint`` so upstream lineage (tokenize +
    explode + count at web scale) is not recomputed per pass — measured
    7x on an inflated 3.5M-term vocabulary (24s -> 3.7s at sf0.1).
    Skipped automatically when the caller already persisted ``df``.
    Local checkpoints are cleaned by Spark's ContextCleaner when the
    plan is garbage-collected — no explicit release needed (trade-off:
    a lost executor forces a recompute from source on a real cluster).
    """
    if rank_col in df.columns:
        raise ValueError(
            f"rank_col {rank_col!r} already exists in the input"
        )
    if materialize_input and df.storageLevel.useMemory is False and (
        df.storageLevel.useDisk is False
    ):
        df = df.localCheckpoint(eager=True)
    cnt = F.col(count_col).cast("long")

    # -- base(c): terms in strictly-greater count groups -----------------
    g = df.groupBy(count_col).agg(F.count(F.lit(1)).alias("__gn"))
    g = g.withColumn(BUCKET, F.floor(F.log2(cnt)).cast("long"))
    rows, acc = [], 0
    for r in reversed(summarize(g, F.sum("__gn").alias("__bt"))):
        rows.append((r[BUCKET], acc))
        acc += int(r["__bt"])
    wb = (
        Window.partitionBy(BUCKET)
        .orderBy(cnt.desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = attach(g, rows, {"__boff": "long"}).select(
        count_col,
        (F.sum("__gn").over(wb) - F.col("__gn") + F.col("__boff")).alias(
            "__base"
        ),
    )

    # -- prefix(c, p): same-count terms in lexically-earlier buckets -----
    t = df.withColumn(_PB, F.substring(F.col(tie_col), 1, 2))
    cp = t.groupBy(count_col, _PB).agg(F.count(F.lit(1)).alias("__pn"))
    wp = (
        Window.partitionBy(count_col)
        .orderBy(F.col(_PB).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    poff = cp.select(
        count_col,
        _PB,
        (F.sum("__pn").over(wp) - F.col("__pn")).alias("__poff"),
    )

    # -- rn(t): row_number within (count, prefix) ------------------------
    wr = Window.partitionBy(count_col, _PB).orderBy(F.col(tie_col).asc())
    return (
        t.join(poff, [count_col, _PB])
        .join(base, count_col)
        .select(
            *[F.col(c) for c in df.columns],
            (
                F.col("__base")
                + F.col("__poff")
                + F.row_number().over(wr)
                - 1
            )
            .cast("long")
            .alias(rank_col),
        )
    )


def global_order_rank(
    df: DataFrame,
    value_col: str,
    tie_col: str,
    rank_col: str = "rank",
    descending: bool = False,
    strategy: str = "range",
) -> DataFrame:
    """Append ``rank_col``: the 0-based position of every row under
    ``ORDER BY value_col [DESC], tie_col ASC`` — exactly
    ``row_number() - 1`` over the global numeric order, computed with
    NO single-partition window (the numeric companion to
    :func:`frequency_rank`'s string machinery; a bare
    ``row_number() OVER (ORDER BY v)`` funnels the whole table
    through one task).

    Decomposition: value-range buckets from one min/max aggregate
    (equal values always share a bucket, so cross-bucket order is
    total), per-bucket counts collected to the driver (O(buckets)
    rows) become prefix offsets, and the within-bucket
    ``row_number()`` is a window PARTITIONED by bucket — every stage
    parallel, the sort spillable per bucket.

    Requirements: ``value_col`` numeric, ``tie_col`` unique per row.
    A NULL ``value_col`` gets a NULL rank and takes no place in the
    order (NULL bucket, under either strategy).  ``strategy``:

    - ``'range'`` (default): equal-WIDTH buckets from one min/max agg
      — one pass, but a skewed value distribution concentrates rows
      in few buckets (a constant column collapses to one task).
    - ``'equidepth'``: bucket boundaries are exact order statistics
      from :func:`~.quantile_windows.exact_quantile_longs` (4-6 extra
      column-pruned scans), so buckets are balanced under ANY value
      distribution; a row's bucket is the count of boundaries
      strictly below its value (O(buckets) vectorized JVM compare —
      equal values still share a bucket, keeping the cross-bucket
      order total, so only massive exact-value ties can skew, which
      no rank decomposition avoids).
    """
    if rank_col in df.columns:
        raise ValueError(f"rank_col {rank_col!r} already exists")
    v = F.col(value_col).cast("long")
    if strategy == "range":
        b = bucketize(df, v)
    elif strategy == "equidepth":
        from .quantile_windows import exact_quantile_longs

        rng = driver_row(df.agg(F.min(v).alias("lo"), F.max(v).alias("hi")))
        total = driver_count(df.filter(v.isNotNull()))
        nb = bucket_count(df.sparkSession)
        ranks = sorted({max(1, (j * total) // nb) for j in range(1, nb)})
        bounds = sorted(
            set(
                exact_quantile_longs(
                    df.select(v.alias(value_col)),
                    value_col,
                    ranks if total else [],
                    rng["lo"],
                    rng["hi"],
                    total,
                )
            )
        )
        # bucket = #boundaries strictly below v: equal values always
        # agree, so cross-bucket order stays total.  Plain additive
        # CASE chain (a higher-order aggregate() lambda here trips a
        # Catalyst binding error once the column flows through the
        # offsets join).
        terms = [F.when(F.lit(bv) < v, 1).otherwise(0) for bv in bounds]
        b = df.withColumn(
            BUCKET, F.when(v.isNotNull(), sum(terms, F.lit(0))).cast("long")
        )
    else:
        raise ValueError(
            f"strategy must be 'range' or 'equidepth', got {strategy!r}"
        )
    offs, acc = [], 0
    summ = summarize(b, F.count(F.lit(1)).alias("__n"))
    for r in reversed(summ) if descending else summ:
        offs.append((r[BUCKET], acc))
        acc += int(r["__n"])
    order = [
        F.col(value_col).desc() if descending else F.col(value_col).asc(),
        F.col(tie_col).asc(),
    ]
    w = Window.partitionBy(BUCKET).orderBy(*order)
    return (
        attach(b, offs, {"__gor_off": "long"})
        .withColumn(
            rank_col,
            (F.row_number().over(w) - 1 + F.col("__gor_off")).cast("long"),
        )
        .drop(BUCKET, "__gor_off")
    )


def gini_coefficient(
    df: DataFrame,
    value_col: str,
    tie_col: str,
) -> DataFrame:
    """Gini concentration index of a non-negative integer measure —
    the "how concentrated is revenue/traffic/token mass" audit number.

    Formula (public, rank-based): with values sorted ascending and
    1-indexed ranks i, ``G = (2·Σ(i·x_i)) / (n·Σx) − (n+1)/n``.  The
    rank comes from :func:`global_order_rank` (no single-partition
    window), both Σ run in decimal(38,0) (rank·value reaches ~1e15·n —
    far past int64), and G is ONE fixed-order double formula over the
    two exact decimal sums and n, round 6.

    Output: one row ``(n, sum_v, weighted_sum, gini)`` with the sums
    as decimal strings (the repo's cross-engine decimal idiom).
    """
    ranked = global_order_rank(
        df.select(F.col(value_col), F.col(tie_col)), value_col, tie_col
    )
    g = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(value_col).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("__sv"),
        F.sum(
            ((F.col("rank") + 1).cast("decimal(38,0)"))
            * F.col(value_col).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("__ws"),
    )
    return g.select(
        "n",
        F.col("__sv").cast("string").alias("sum_v"),
        F.col("__ws").cast("string").alias("weighted_sum"),
        F.expr(
            "round((2.0 * CAST(__ws AS DOUBLE))"
            " / (CAST(n AS DOUBLE) * CAST(__sv AS DOUBLE))"
            " - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6)"
        ).alias("gini"),
    )


def spearman_rho(
    df: DataFrame,
    col_a: str,
    col_b: str,
    tie_col: str,
) -> DataFrame:
    """Exact Spearman rank correlation between two numeric columns —
    the robust monotone-association audit (price vs quantity, quality
    vs length): Pearson on ranks, which with the ``tie_col``-broken
    TOTAL order reduces to the classic ``ρ = 1 − 6·Σd² / (n·(n²−1))``
    (ranks are exact permutations, so the closed form is exact — the
    deliberate contract; statistical mid-ranking of ties is traded
    for bit-exactness, and the tie-break is part of the pinned
    semantics).

    Both rank passes use :func:`global_order_rank` (no
    single-partition window); ``Σd²`` runs in decimal(38,0) (d² alone
    reaches n², the sum n³); ρ is ONE fixed-order double formula.

    Output: one row ``(n, sum_d2, rho)`` with ``sum_d2`` as a decimal
    string (the cross-engine decimal idiom); ``rho`` NULL when n < 2.
    """
    ra = global_order_rank(
        df.select(F.col(col_a), F.col(col_b), F.col(tie_col)),
        col_a,
        tie_col,
        rank_col="__ra",
    )
    # the second rank pass runs TWO driver actions (min/max range, the
    # bucket-count collect) plus the caller's final aggregation over
    # `ra` — without a materialization boundary each of the three
    # evaluates the first pass's full shuffle+window pipeline again
    # (guide §1.2 "don't compute things you throw away").  The
    # checkpointed table is 3 narrow columns + the rank.
    ra = ra.localCheckpoint(eager=True)
    rb = global_order_rank(ra, col_b, tie_col, rank_col="__rb")
    d = (F.col("__ra") - F.col("__rb")).cast("decimal(38,0)")
    g = rb.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d * d).cast("decimal(38,0)").alias("__sd2"),
    )
    return g.select(
        "n",
        F.col("__sd2").cast("string").alias("sum_d2"),
        F.expr(
            "CASE WHEN n >= 2 THEN round(1.0 - (6.0 * CAST(__sd2 AS DOUBLE))"
            " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
            " - 1.0)), 6) END"
        ).alias("rho"),
    )
