"""Salted-join: result parity with the plain join + the salted
shuffle mechanism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataframeintervals_jl_spark import salted_join


@pytest.fixture()
def skewed(spark):
    # 500 rows on hot key 0, a trickle elsewhere, key 7 unmatched-left
    rows = [(0, i) for i in range(500)] + [(k, k) for k in range(1, 8)]
    left = spark.createDataFrame(rows, "k long, v long")
    right = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(7)], "k long, name string"
    )
    return left, right


def _multiset(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_inner_matches_plain(spark, skewed):
    left, right = skewed
    plain = left.join(right, "k")
    salted = salted_join(left, right, "k", n_salt=4)
    assert sorted(salted.columns) == sorted(plain.columns)
    assert _multiset(salted.select(*plain.columns)) == _multiset(plain)


def test_salted_left_keeps_unmatched_once(spark, skewed):
    left, right = skewed
    plain = left.join(right, "k", "left")
    salted = salted_join(left, right, "k", n_salt=4, how="left")
    assert _multiset(salted.select(*plain.columns)) == _multiset(plain)
    # the unmatched key appears exactly once, not once per salt
    assert salted.filter(F.col("k") == 7).count() == 1


def test_salted_join_shuffles_on_salt(spark, skewed):
    """With broadcast disabled (the regime salting exists for), the
    exchange must hash on (k, salt) — the hot key provably spreads."""
    left, right = skewed
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            salted_join(left, right, "k", n_salt=4)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "__salt" in plan.split("Exchange hashpartitioning", 1)[1][:120]


def test_salted_join_rejects_bad_args(spark, skewed):
    left, right = skewed
    with pytest.raises(ValueError):
        salted_join(left, right, "k", n_salt=1)
    with pytest.raises(ValueError):
        salted_join(left, right, "k", how="full")


def test_key_skew_report_exact_small(spark):
    """Known zipf-ish key distribution: summary columns exact; sketch
    quantiles equal exact type-1 quantiles when k covers all keys."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.skew import key_skew_report

    # key i in 0..29 appears (i+1) times; key 99 is hot with 400 rows
    df = spark.range(30).select(
        F.explode(F.expr("array_repeat(id, int(id + 1))")).alias("k")
    ).unionByName(
        spark.range(400).select(F.lit(99).alias("k"))
    )
    rows = key_skew_report(
        df, "k", probs_ppm=[0, 500_000, 1_000_000], k=1024
    ).collect()
    got = {r["prob_ppm"]: r for r in rows}
    n_keys, total = 31, sum(range(1, 31)) + 400
    cnts = sorted(list(range(1, 31)) + [400])
    for ppm in (0, 500_000, 1_000_000):
        r = got[ppm]
        assert (r["n_keys"], r["max_cnt"], r["total_rows"]) == (
            n_keys, 400, total)
        assert r["mean_cnt"] == total // n_keys
        assert r["cnt_quantile"] == cnts[ppm * (n_keys - 1) // 1_000_000]
        assert r["n_sample"] == n_keys


def _spans_df(spark, rows):
    """rows: (key, start, stop, id)"""
    return spark.createDataFrame(
        [(k, {"start": a, "stop": b}, i) for i, (k, a, b) in enumerate(rows)],
        "k long, span struct<start: long, stop: long>, rid long",
    )


def test_keyed_join_profile_uniform_and_skewed(spark):
    """The planner profile: J is the true same-key pair count,
    pair_key_factor recovers ~K for uniform keys and collapses under
    skew, hot_share flags the dominant key."""
    from dataframeintervals_jl_spark.plans.planner import (
        KeyedJoinProfile,
        choose_keyed_strategy,
        keyed_join_profile,
        warn_if_hot_key,
    )

    # uniform: 50 keys x 4 rows per side -> J_true = 50*16 = 800
    uni = spark.createDataFrame(
        [(k, r) for k in range(50) for r in range(4)], "k long, r long"
    )
    p = keyed_join_profile(uni, uni, ["k"], ["k"])
    assert p.n_left == p.n_right == 200
    assert 800 <= p.join_rows_est <= 1200  # overestimate-only, small bias
    assert 30 <= p.pair_key_factor <= 50   # ~K, never above it
    assert p.hot_share < 0.2

    # skewed: one key holds half the rows -> J dominated by it
    skew_rows = [(0, r) for r in range(100)] + [
        (k, r) for k in range(1, 101) for r in range(1)
    ]
    sk = spark.createDataFrame(skew_rows, "k long, r long")
    ps = keyed_join_profile(sk, sk, ["k"], ["k"])
    true_j = 100 * 100 + 100 * 1
    assert true_j <= ps.join_rows_est <= true_j * 1.5
    assert ps.hot_share > 0.8
    # effective cardinality collapses: 200*200/10100 ~ 4 << 101 keys
    assert ps.pair_key_factor < 10

    # strategy rule + warning thresholds (pure dataclass logic)
    heavy = KeyedJoinProfile(
        n_left=10_000, n_right=10_000,
        join_rows_est=10_000_000, heavy_pair_est=9_000_000,
    )
    light = KeyedJoinProfile(
        n_left=10_000, n_right=10_000,
        join_rows_est=40_000, heavy_pair_est=100,
    )
    assert choose_keyed_strategy(heavy) == "binned"
    assert choose_keyed_strategy(light) == "hash"
    import warnings as _w

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        assert warn_if_hot_key(heavy, "test") is True
        assert warn_if_hot_key(light, "test") is False
    assert len(rec) == 1 and "pair evaluations" in str(rec[0].message)


def test_keyed_join_profile_matches_brute_force(spark):
    """J, H, the non-NULL-key counts and both sides' span stats equal a
    Python count over a two-column key with NULL keys (left out of J, H
    and n_left/n_right, counted in the side stats) and a NULL span."""
    from collections import Counter

    from dataframeintervals_jl_spark.plans.planner import keyed_join_profile

    schema = "a long, b string, sp struct<start: long, stop: long>"
    lrows = [(k % 3, "xy"[k % 2], (10 * k, 10 * k + k % 7)) for k in range(40)]
    lrows += [(None, "x", (5, 9)), (1, None, (-20, 3)), (2, "y", None)]
    rrows = [(0, "x", (k, k + 3)) for k in range(25)]
    rrows += [(k % 4, "y", (100 + k, 130 + 2 * k)) for k in range(30)]
    rrows += [(None, None, (0, 1000))]

    def frame(rows):
        return spark.createDataFrame(
            [(a, b, None if sp is None else {"start": sp[0], "stop": sp[1]})
             for a, b, sp in rows],
            schema,
        )

    p = keyed_join_profile(
        frame(lrows), frame(rrows).withColumnRenamed("sp", "sp_r"),
        ["a", "b"], ["a", "b"], spans=("sp", "sp_r"),
    )

    def keyed(rows):
        return Counter((a, b) for a, b, _ in rows if None not in (a, b))

    cl, cr = keyed(lrows), keyed(rrows)
    pairs = [cl[k] * cr[k] for k in cl]
    assert (p.n_left, p.n_right) == (sum(cl.values()), sum(cr.values()))
    assert (p.join_rows_est, p.heavy_pair_est) == (sum(pairs), max(pairs))
    for got, rows in ((p.left, lrows), (p.right, rrows)):
        spans = [sp for _, _, sp in rows if sp is not None]
        assert got.n == len(rows)
        assert got.dur == pytest.approx(
            sum(e - s for s, e in spans) / len(spans))
        assert (got.lo, got.hi) == (min(s for s, _ in spans),
                                    max(e for _, e in spans))


def test_interval_join_by_auto_strategy(spark):
    """strategy='auto' end-to-end: a tiny side broadcasts; a
    high-cardinality join stays hash; a low-cardinality heavy join
    goes binned with the J-informed width — and ALL paths return the
    same rows as the explicit strategies."""
    from dataframeintervals_jl_spark import interval_join_by
    from dataframeintervals_jl_spark.plans import join_strategies

    # high-cardinality: 300 keys x 4 spans -> hash (pair work small)
    hi = _spans_df(
        spark,
        [(k, 10 * r, 10 * r + 15) for k in range(300) for r in range(4)],
    )
    hi2 = hi.withColumnRenamed("rid", "rid_r")
    ref = sorted(
        map(tuple, interval_join_by(
            hi, hi2, by="k", strategy="hash", validate="skip"
        ).collect())
    )
    got = interval_join_by(hi, hi2, by="k", strategy="auto", validate="skip")
    assert sorted(map(tuple, got.collect())) == ref

    # tiny right side -> broadcast join in the plan
    tiny = _spans_df(spark, [(k, 0, 100) for k in range(5)]).withColumnRenamed(
        "rid", "rid_r"
    )
    j = interval_join_by(hi, tiny, by="k", strategy="auto", validate="skip")
    assert "BroadcastHashJoin" in join_strategies(j)
    assert sorted(map(tuple, j.collect())) == sorted(
        map(tuple, interval_join_by(
            hi, tiny, by="k", strategy="broadcast_right", validate="skip"
        ).collect())
    )


def _jobs_run(spark, build):
    """(result of ``build()``, Spark jobs it ran before returning)."""
    sc = spark.sparkContext
    group = "dfi-test-planner-jobs"
    sc.setJobGroup(group, "planner job count")
    try:
        before = len(sc.statusTracker().getJobIdsForGroup(group))
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group)) - before


def test_interval_join_by_auto_cms_branch(spark, monkeypatch):
    """Force the planner branch (broadcast thresholds patched to
    0/tiny) and check both outcomes of the pair-work rule:
    high-cardinality keys resolve to 'hash' (no bin column in the
    plan), low-cardinality heavy keys resolve to 'binned' (bin equi-key
    present), and both return exactly the explicit-strategy rows.
    Planning two large sides runs 3 jobs (two counts, one profile
    aggregate that also feeds the bin width); a small side, 2."""
    from dataframeintervals_jl_spark import interval_join_by
    from dataframeintervals_jl_spark.operators import interval_join as ij
    from dataframeintervals_jl_spark.plans import simple_plan

    monkeypatch.setattr(ij, "AUTO_BROADCAST_BYTES", 0)
    monkeypatch.setattr(ij, "AUTO_BROADCAST_ROWS", 4)

    # 300 keys x 4 spans: J ~ 300*16 = 4800 < 16*(2400) -> hash
    hi = _spans_df(
        spark,
        [(k, 10 * r, 10 * r + 15) for k in range(300) for r in range(4)],
    )
    hi2 = hi.withColumnRenamed("rid", "rid_r")
    auto_hi, jobs = _jobs_run(spark, lambda: interval_join_by(
        hi, hi2, by="k", strategy="auto", validate="skip"
    ))
    assert jobs == 3
    assert "__dfi_bin" not in simple_plan(auto_hi)
    assert sorted(map(tuple, auto_hi.collect())) == sorted(
        map(tuple, interval_join_by(
            hi, hi2, by="k", strategy="hash", validate="skip"
        ).collect())
    )

    # 2 keys x 600 spans: J ~ 2*600^2 = 720k > 16*2400 -> binned
    lo = _spans_df(
        spark,
        [(k, 10 * r, 10 * r + 15) for k in range(2) for r in range(600)],
    )
    lo2 = lo.withColumnRenamed("rid", "rid_r")
    auto_lo, jobs = _jobs_run(spark, lambda: interval_join_by(
        lo, lo2, by="k", strategy="auto", validate="skip"
    ))
    assert jobs == 3
    assert "__dfi_bin" in simple_plan(auto_lo)
    assert sorted(map(tuple, auto_lo.collect())) == sorted(
        map(tuple, interval_join_by(
            lo, lo2, by="k", strategy="hash", validate="skip"
        ).collect())
    )

    monkeypatch.setattr(ij, "AUTO_BROADCAST_ROWS", 100_000)
    small, jobs = _jobs_run(spark, lambda: interval_join_by(
        hi, lo2, by="k", strategy="auto", validate="skip"
    ))
    assert jobs == 2
    assert "Broadcast" in simple_plan(small)
