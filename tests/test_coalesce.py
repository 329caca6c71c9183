"""Interval-set operators (merge_spans / span_gaps / span_coverage) vs
a brute-force Python oracle, keyed and global (bucketed) paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataframeintervals_jl_spark.operators.coalesce import (
    merge_spans,
    span_coverage,
    span_gaps,
)

from .conftest import make_span_df


def brute_merge(rows, merge_touching=True):
    """Coalesce (start, stop) pairs into islands; returns [(s, e, n)]."""
    out = []
    for s, e in sorted(rows):
        joins = out and (s <= out[-1][1] if merge_touching else s < out[-1][1])
        if joins:
            ps, pe, n = out[-1]
            out[-1] = (ps, max(pe, e), n + 1)
        else:
            out.append((s, e, 1))
    return out


def _spans(i):
    base = (i * 37) % 900
    return (base, base + 5 + (i * 13) % 60)


ROWS = [_spans(i) for i in range(150)]


@pytest.mark.parametrize("merge_touching", [True, False])
def test_keyed_merge_matches_brute_force(spark, merge_touching):
    rows = [(s, e, i % 3) for i, (s, e) in enumerate(ROWS)]
    from pyspark.sql.types import LongType

    df = make_span_df(spark, rows, extra=[("k", LongType())])
    got = {
        (r["k"], r["span"]["start"], r["span"]["stop"], r["n_spans"])
        for r in merge_spans(df, by="k", merge_touching=merge_touching).collect()
    }
    expect = set()
    for k in (0, 1, 2):
        sub = [(s, e) for i, (s, e) in enumerate(ROWS) if i % 3 == k]
        expect |= {(k, s, e, n) for s, e, n in brute_merge(sub, merge_touching)}
    assert got == expect


@pytest.mark.parametrize("merge_touching", [True, False])
def test_global_merge_matches_brute_force(spark, merge_touching):
    # spans with a NULL start are dropped — they must not disturb the
    # other islands, and keyless must equal keyed on one constant key
    df = make_span_df(spark, ROWS + [(None, None), (None, 450)]).repartition(8)

    def islands(out):
        return {
            (r["span"]["start"], r["span"]["stop"], r["n_spans"])
            for r in out.collect()
        }

    got = islands(merge_spans(df, merge_touching=merge_touching))
    assert got == set(brute_merge(ROWS, merge_touching))
    keyed = merge_spans(
        df.withColumn("k", F.lit(0)), by="k", merge_touching=merge_touching
    )
    assert islands(keyed) == got


def test_global_merge_single_giant_island(spark):
    """Cascading boundary merges: every bucket chains into one island."""
    rows = [(i * 10, i * 10 + 15) for i in range(500)]  # each overlaps next
    df = make_span_df(spark, rows).repartition(16)
    out = merge_spans(df).collect()
    assert len(out) == 1
    assert (out[0]["span"]["start"], out[0]["span"]["stop"]) == (0, 5005)
    assert out[0]["n_spans"] == 500


def test_global_merge_cache_freed_by_release(spark):
    """Keyless merge_spans persists its flagged rows; release_join_caches
    frees them, so no cached RDD outlives the materialized result."""
    from dataframeintervals_jl_spark import release_join_caches

    def cached():
        jsc = spark.sparkContext._jsc.sc()
        return {r.id() for r in jsc.getRDDStorageInfo()}

    release_join_caches(blocking=True)
    before = cached()
    assert len(merge_spans(make_span_df(spark, ROWS)).collect()) > 0
    assert cached() - before
    release_join_caches(blocking=True)
    assert cached() - before == set()


def test_global_merge_no_single_partition_exchange(spark):
    from dataframeintervals_jl_spark.plans import simple_plan

    df = make_span_df(spark, ROWS)
    assert "Exchange SinglePartition" not in simple_plan(merge_spans(df))


def test_gaps_keyed_and_global(spark):
    rows = [(0, 10), (5, 20), (30, 40), (40, 45), (60, 70)]
    df = make_span_df(spark, rows)
    gaps = sorted(
        (r["span"]["start"], r["span"]["stop"]) for r in span_gaps(df).collect()
    )
    assert gaps == [(20, 30), (45, 60)]
    from pyspark.sql.types import LongType

    keyed = make_span_df(
        spark, [(s, e, 7) for s, e in rows], extra=[("k", LongType())]
    )
    kg = sorted(
        (r["k"], r["span"]["start"], r["span"]["stop"])
        for r in span_gaps(keyed, by="k").collect()
    )
    assert kg == [(7, 20, 30), (7, 45, 60)]


def test_coverage_counts_overlap_once(spark):
    rows = [(0, 10), (5, 20), (30, 40)]
    df = make_span_df(spark, rows)
    r = span_coverage(df).first()
    assert (r["covered"], r["n_islands"]) == (30, 2)  # not 10+15+10=35
    from pyspark.sql.types import LongType

    keyed = make_span_df(
        spark,
        [(0, 10, 1), (5, 20, 1), (0, 4, 2)],
        extra=[("k", LongType())],
    )
    got = {
        r["k"]: (r["covered"], r["n_islands"])
        for r in span_coverage(keyed, by="k").collect()
    }
    assert got == {1: (20, 1), 2: (4, 1)}


def test_merge_empty_input(spark):
    df = make_span_df(spark, [])
    assert merge_spans(df).count() == 0
    assert merge_spans(df, by=None).columns == ["span", "n_spans"]


# ---------------------------------------------------------------------------
# span_difference / span_complement
# ---------------------------------------------------------------------------


def brute_difference(left_rows, right_rows):
    """left/right = [(start, stop, key)]; returns sorted fragments."""
    out = []
    for a, b, k in left_rows:
        cur = a
        frags = []
        for s, e in sorted((s, e) for s, e, kk in right_rows if kk == k):
            if e <= cur or s >= b:
                continue
            if s > cur:
                frags.append((cur, min(s, b)))
            cur = max(cur, e)
            if cur >= b:
                break
        if cur < b:
            frags.append((cur, b))
        out.extend((k, f) for f in frags)
    return sorted(out)


def _collect_diff(df, key="k"):
    return sorted(
        (r[key], (r["span"]["start"], r["span"]["stop"])) for r in df.collect()
    )


@pytest.mark.parametrize("seed", [3, 17])
def test_span_difference_matches_brute_force(spark, seed):
    import random

    from dataframeintervals_jl_spark import span_difference
    from pyspark.sql.types import LongType

    rng = random.Random(seed)
    left = [
        (s, s + rng.randrange(1, 40), k)
        for k in range(4)
        for s in (rng.randrange(0, 300) for _ in range(50))
    ]
    # key 3 deliberately absent from right → full passthrough
    right = [
        (s, s + rng.randrange(1, 25), k)
        for k in range(3)
        for s in (rng.randrange(0, 300) for _ in range(20))
    ]
    ldf = make_span_df(spark, left, extra=[("k", LongType())])
    rdf = make_span_df(spark, right, extra=[("k", LongType())])

    got = _collect_diff(span_difference(ldf, rdf, by="k"))
    assert got == brute_difference(left, right)

    # global: treat every right span as covering regardless of key
    got_g = _collect_diff(span_difference(ldf, rdf))
    flat_right = [(s, e, kk) for s, e, _ in right for kk in range(4)]
    assert got_g == brute_difference(left, flat_right)


def test_span_difference_edges(spark):
    from dataframeintervals_jl_spark import span_difference
    from pyspark.sql.types import LongType

    ldf = make_span_df(spark, [(0, 100, 1), (10, 20, 2)], extra=[("k", LongType())])
    # empty right → identity (both keyed and global)
    empty = make_span_df(spark, [], extra=[("k", LongType())])
    assert _collect_diff(span_difference(ldf, empty, by="k")) == [
        (1, (0, 100)),
        (2, (10, 20)),
    ]
    assert _collect_diff(span_difference(ldf, empty)) == [(1, (0, 100)), (2, (10, 20))]
    # right fully covers a row → it vanishes
    rdf = make_span_df(spark, [(5, 25, 2)], extra=[("k", LongType())])
    assert _collect_diff(span_difference(ldf, rdf, by="k")) == [(1, (0, 100))]
    # empty left
    assert span_difference(ldf.limit(0), rdf, by="k").count() == 0


def test_span_complement_global(spark):
    from dataframeintervals_jl_spark import span_complement

    rdf = make_span_df(spark, [(10, 20), (15, 30), (50, 60)])
    comp = sorted(
        (r["span"]["start"], r["span"]["stop"])
        for r in span_complement(rdf, 0, 100).collect()
    )
    assert comp == [(0, 10), (30, 50), (60, 100)]
    # empty right → whole range
    comp_e = [
        (r["span"]["start"], r["span"]["stop"])
        for r in span_complement(rdf.limit(0), 0, 100).collect()
    ]
    assert comp_e == [(0, 100)]


# ---------------------------------------------------------------------------
# overlap_profile
# ---------------------------------------------------------------------------


def brute_profile(rows):
    """rows = [(start, stop)]; segments between consecutive distinct
    boundary positions with depth > 0 (zero-width spans still cut)."""
    pts = sorted({p for s, e in rows for p in (s, e)})
    out = []
    for a, b in zip(pts, pts[1:]):
        depth = sum(1 for s, e in rows if s <= a and b <= e)
        if depth > 0:
            out.append((a, b, depth))
    return out


@pytest.mark.parametrize("seed", [11, 29])
def test_overlap_profile_matches_brute_force(spark, seed):
    import random

    from dataframeintervals_jl_spark import overlap_profile
    from pyspark.sql.types import LongType

    rng = random.Random(seed)
    rows = [
        (s, s + rng.randrange(1, 60), k)
        for k in range(3)
        for s in (rng.randrange(0, 500) for _ in range(40))
    ]
    # spans with a NULL endpoint cover nothing: dropped in both paths
    df = make_span_df(
        spark,
        rows + [(None, 15, 0), (30, None, 1), (None, None, 2)],
        extra=[("k", LongType())],
    )

    got = sorted(
        (r["k"], r["span"]["start"], r["span"]["stop"], r["depth"])
        for r in overlap_profile(df, by="k").collect()
    )
    exp = sorted(
        (k, a, b, d)
        for k in range(3)
        for a, b, d in brute_profile([(s, e) for s, e, kk in rows if kk == k])
    )
    assert got == exp

    got_g = sorted(
        (r["span"]["start"], r["span"]["stop"], r["depth"])
        for r in overlap_profile(df).collect()
    )
    assert got_g == brute_profile([(s, e) for s, e, _ in rows])
    one_key = overlap_profile(df.withColumn("k", F.lit(0)), by="k")
    assert sorted(
        (r["span"]["start"], r["span"]["stop"], r["depth"])
        for r in one_key.collect()
    ) == got_g


def test_overlap_profile_depth_conservation(spark):
    """Integral of depth over segments == total span duration."""
    from dataframeintervals_jl_spark import overlap_profile

    rows = [(0, 100), (50, 150), (50, 150), (200, 300)]
    df = make_span_df(spark, rows)
    prof = overlap_profile(df).collect()
    integral = sum((r["span"]["stop"] - r["span"]["start"]) * r["depth"] for r in prof)
    assert integral == sum(e - s for s, e in rows)
    # depth really reaches 3 where the three spans stack
    assert max(r["depth"] for r in prof) == 3


def test_overlap_profile_empty(spark):
    from dataframeintervals_jl_spark import overlap_profile

    df = make_span_df(spark, [])
    assert overlap_profile(df).count() == 0
    assert overlap_profile(df, by=None).columns == ["span", "depth"]


def test_daily_coverage_partitions_total_coverage(spark):
    """Per-day clipped coverage pieces sum to the user's total covered
    duration, and an island crossing a day boundary splits exactly."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.coalesce import (
        merge_spans,
        span_coverage,
    )
    from tests.conftest import make_span_df

    DAY = 100
    rows = [
        (95, 130, 1),    # crosses one boundary: 5 in day 0, 30 in day 1
        (120, 140, 1),   # overlaps the previous island's day-1 part
        (250, 260, 1),   # isolated, day 2
        (40, 60, 2),     # single day
    ]
    from pyspark.sql import types as T

    df = make_span_df(
        spark, rows, extra=[("user_id", T.LongType())]
    )
    isl = merge_spans(df, by="user_id")
    s, e = F.col("span.start"), F.col("span.stop")
    ex = isl.select(
        "user_id",
        "span",
        F.explode(
            F.sequence(
                F.expr(f"span.start DIV {DAY}"),
                F.expr(f"(span.stop - 1) DIV {DAY}"),
            )
        ).alias("d"),
    )
    piece = F.least(e, (F.col("d") + 1) * DAY) - F.greatest(s, F.col("d") * DAY)
    daily = (
        ex.select("user_id", (F.col("d") * DAY).alias("day_start"),
                  piece.alias("p"))
        .groupBy("user_id", "day_start")
        .agg(F.sum("p").alias("covered"))
    )
    got = {(r["user_id"], r["day_start"]): r["covered"] for r in daily.collect()}
    # user 1: [95,140) crosses day 0->1 (5 + 40), [250,260) in day 2
    assert got == {(1, 0): 5, (1, 100): 40, (1, 200): 10, (2, 0): 20}
    totals = {
        r["user_id"]: r["covered"] for r in span_coverage(df, by="user_id").collect()
    }
    by_user = {}
    for (u, _), c in got.items():
        by_user[u] = by_user.get(u, 0) + c
    assert by_user == totals


def test_span_difference_tiny_left_degenerate_rows(spark):
    """The tiny-left fast path must match the general path on
    degenerate left rows: zero-width and NULL spans vanish (in the
    general path they come from an INNER overlap join and never
    match), valid non-overlapped rows pass through whole, covered
    rows vanish, partially-masked rows fragment."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.functions.spans import make_span
    from dataframeintervals_jl_spark.operators.coalesce import (
        span_difference,
    )

    left = spark.createDataFrame(
        [
            (1, 0, 100),     # partially masked -> fragments
            (2, 500, 600),   # untouched -> passthrough whole
            (3, 40, 40),     # zero-width -> vanishes
            (4, None, None), # NULL span -> vanishes
            (5, 20, 60),     # fully covered -> vanishes
        ],
        "id long, lo long, hi long",
    ).select(
        "id",
        F.when(
            F.col("lo").isNotNull(),
            make_span(F.col("lo"), F.col("hi")),
        ).alias("span"),
    )
    right = spark.createDataFrame(
        [(10, 80)], "lo long, hi long"
    ).select(make_span(F.col("lo"), F.col("hi")).alias("span"))
    got = {
        (r["id"], r["span"]["start"], r["span"]["stop"])
        for r in span_difference(left, right).collect()
    }
    assert got == {(1, 0, 10), (1, 80, 100), (2, 500, 600)}


@pytest.mark.parametrize("seed", [7])
def test_span_difference_global_paths_agree(spark, seed, monkeypatch):
    """The tiny-left fast path (broadcast tag + keyed merge) and the
    general global path (range-bucketed complement) must produce the
    same fragment multiset.  The unit tests' lefts are all under the
    4096-row threshold, so the general path is pinned here by forcing
    the threshold to 0."""
    import random

    from dataframeintervals_jl_spark import span_difference
    from dataframeintervals_jl_spark.operators import coalesce as C

    rng = random.Random(seed)
    left = [(s, s + rng.randrange(1, 60)) for s in
            (rng.randrange(0, 500) for _ in range(120))]
    right = [(s, s + rng.randrange(1, 30)) for s in
             (rng.randrange(0, 500) for _ in range(40))]
    ldf = make_span_df(spark, left)
    rdf = make_span_df(spark, right)

    def frags(df):
        return sorted(
            (r["span"]["start"], r["span"]["stop"]) for r in df.collect()
        )

    fast = frags(span_difference(ldf, rdf))
    monkeypatch.setattr(C, "_TINY_LEFT_ROWS", 0)
    general = frags(span_difference(ldf, rdf))
    assert fast == general


def test_interval_agreement_hand_values(spark):
    """Known-kappa quadrants over T=100: half-shifted halves give
    kappa=0 (agreement = chance), identical sets give 1, a
    complementary split gives -1, one empty side gives 0, both empty
    gives NULL (pe=1); overlapping raw spans merge before measuring,
    and out-of-domain span parts clamp away."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.functions.spans import make_span
    from dataframeintervals_jl_spark.operators.coalesce import (
        interval_agreement,
    )
    import pytest

    def spans(rows):
        return spark.createDataFrame(
            rows, "k string, s long, e long"
        ).select(
            "k", make_span(F.col("s"), F.col("e")).alias("span")
        )

    # k1: A=[0,50) B=[25,75) -> all quadrants 25, kappa 0
    # k2: A=B=[0,50) (A given as two overlapping pieces -> merge first)
    # k3: A=[0,50) B=[50,100) -> complementary, kappa -1
    # k4: A=[0,50) B absent -> kappa 0
    # k5: both absent -> absent key (no rows at all)
    # k6: A=[-10,10) clamps to [0,10); B=[0,10) -> kappa 1 needs t00=90
    a = spans([("k1", 0, 50), ("k2", 0, 30), ("k2", 20, 50),
               ("k3", 0, 50), ("k4", 0, 50), ("k6", -10, 10)])
    b = spans([("k1", 25, 75), ("k2", 0, 50), ("k3", 50, 100),
               ("k6", 0, 10)])
    out = {
        r["k"]: (r["t11"], r["t10"], r["t01"], r["t00"], r["kappa"])
        for r in interval_agreement(a, b, 0, 100, by="k").collect()
    }
    assert out["k1"] == (25, 25, 25, 25, 0.0)
    assert out["k2"] == (50, 0, 0, 50, 1.0)
    assert out["k3"] == (0, 50, 50, 0, -1.0)
    assert out["k4"] == (0, 50, 0, 50, 0.0)
    assert "k5" not in out
    assert out["k6"] == (10, 0, 0, 90, 1.0)

    with pytest.raises(ValueError, match="lo < hi"):
        interval_agreement(a, b, 5, 5, by="k")
    with pytest.raises(ValueError, match="by key"):
        interval_agreement(a, b, 0, 100)


def test_suppress_dominated_spans_hand_values(spark):
    """Pinned NMS semantics: strictly-higher score dominates on
    overlap; exact ties fall to the lower id; dominance is PAIRWISE
    (a dominated span still dominates its own weaker overlaps — in a
    mutually-overlapping chain only the top survives, unlike
    sequential greedy NMS where suppressed boxes stop suppressing);
    NULL scores drop; keys never cross."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.functions.spans import make_span
    from dataframeintervals_jl_spark.operators.coalesce import (
        suppress_dominated_spans,
    )

    rows = [
        # key 1: A[0,10) s5 < B[5,15) s7; C[12,20) s6 < B; D isolated
        (1, 1, 5.0, 0, 10), (2, 1, 7.0, 5, 15),
        (3, 1, 6.0, 12, 20), (4, 1, 1.0, 30, 40),
        # key 2: exact tie -> lower id (5) survives, 6 falls; the
        # same spans under key 2 never see key 1's scores
        (5, 2, 3.0, 0, 10), (6, 2, 3.0, 5, 15),
        # NULL score: dropped, dominates nothing
        (7, 2, None, 0, 100),
        # key 3: chain w3 < w2 < w1 all mutually overlapping: only
        # the top survives (pairwise dominance, not sequential NMS)
        (8, 3, 1.0, 0, 10), (9, 3, 2.0, 1, 11), (10, 3, 3.0, 2, 12),
    ]
    df = spark.createDataFrame(
        rows, "id long, k long, score double, s long, e long"
    ).select(
        "id", "k", "score",
        make_span(F.col("s"), F.col("e")).alias("span"),
    )
    out = suppress_dominated_spans(df, "score", "id", by="k")
    assert sorted(r["id"] for r in out.collect()) == [2, 4, 5, 10]
    # survivors keep their original columns + span intact
    cols = out.columns
    assert cols == ["id", "k", "score", "span"]

    # bounds="[]" makes the touching pair [0,10]/[10,20] overlap
    touch = spark.createDataFrame(
        [(1, 1, 1.0, 0, 10), (2, 1, 2.0, 10, 20)],
        "id long, k long, score double, s long, e long",
    ).select(
        "id", "k", "score", make_span(F.col("s"), F.col("e")).alias("span")
    )
    assert sorted(
        r["id"] for r in suppress_dominated_spans(
            touch, "score", "id", by="k"
        ).collect()
    ) == [1, 2]
    assert sorted(
        r["id"] for r in suppress_dominated_spans(
            touch, "score", "id", by="k", bounds="[]"
        ).collect()
    ) == [2]
