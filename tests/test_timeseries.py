"""time_grid / resample_locf / sliding_window_agg / decontaminate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataframeintervals_jl_spark.operators.dedup import decontaminate
from dataframeintervals_jl_spark.operators.timeseries import (
    resample_locf,
    sliding_window_agg,
    time_grid,
)


def _obs(spark):
    # two keys; key 1 spans [100, 370], key 2 a single point
    rows = [
        (1, 100, 1.0),
        (1, 250, 2.0),
        (1, 370, 3.0),
        (2, 1000, 9.0),
    ]
    return spark.createDataFrame(rows, "k int, ts long, v double")


def test_time_grid_keyed(spark):
    g = time_grid(_obs(spark), on="ts", step=100, by="k")
    got = {(r["k"], r["ts"]) for r in g.collect()}
    assert got == {(1, 100), (1, 200), (1, 300), (2, 1000)}


def test_time_grid_keyless_and_validation(spark):
    g = time_grid(_obs(spark), on="ts", step=500)
    assert {r["ts"] for r in g.collect()} == {0, 500, 1000}
    with pytest.raises(ValueError, match="step"):
        time_grid(_obs(spark), on="ts", step=0)


def test_resample_locf_carries_and_nulls(spark):
    out = resample_locf(_obs(spark), on="ts", step=100, by="k")
    got = {
        (r["k"], r["ts"]): (r["ts_right"], r["v_right"]) for r in out.collect()
    }
    assert got == {
        (1, 100): (100, 1.0),
        (1, 200): (100, 1.0),  # carried forward
        (1, 300): (250, 2.0),
        (2, 1000): (1000, 9.0),
    }


def test_resample_locf_tolerance(spark):
    out = resample_locf(_obs(spark), on="ts", step=100, by="k", tolerance=50)
    got = {
        (r["k"], r["ts"]): (r["ts_right"], r["v_right"]) for r in out.collect()
    }
    # grid 200 is 100ns after obs@100 -> outside tolerance, nulled
    assert got[(1, 200)] == (None, None)
    assert got[(1, 100)] == (100, 1.0)


def test_sliding_window_membership(spark):
    df = spark.createDataFrame([(0, 10.0), (25, 20.0), (99, 30.0)], "ts long, v double")
    out = sliding_window_agg(
        df,
        aggs=[F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")],
        on="ts",
        length=40,
        slide=10,
    )
    got = {r["w_start"]: (r["w_end"], r["n"], r["s"]) for r in out.collect()}
    # each event appears in exactly length/slide = 4 windows
    assert sum(n for (_, n, _) in got.values()) == 12
    # ts=0 lands in starts {-30,-20,-10,0}; ts=25 in {-10,0,10,20}
    assert got[0] == (40, 2, 30.0)
    assert got[-10] == (30, 2, 30.0)
    assert got[20] == (60, 1, 20.0)
    # every window satisfies w_start <= ts < w_end for its members
    assert all(we == ws + 40 for ws, (we, _, _) in got.items())


def test_sliding_window_tumbling_degenerate_and_errors(spark):
    df = spark.createDataFrame([(5, 1.0), (15, 2.0)], "ts long, v double")
    out = sliding_window_agg(
        df, aggs=[F.count(F.lit(1)).alias("n")], on="ts", length=10, slide=10
    )
    got = {r["w_start"]: r["n"] for r in out.collect()}
    assert got == {0: 1, 10: 1}
    with pytest.raises(ValueError, match="length % slide"):
        sliding_window_agg(df, aggs=[F.count(F.lit(1)).alias("n")], length=25, slide=10)


def test_sliding_window_keyed(spark):
    df = spark.createDataFrame(
        [(0, "a"), (5, "b"), (12, "a")], "ts long, g string"
    )
    out = sliding_window_agg(
        df,
        aggs=[F.count(F.lit(1)).alias("n")],
        on="ts",
        length=20,
        slide=10,
        by="g",
    )
    got = {(r["g"], r["w_start"]): r["n"] for r in out.collect()}
    assert got == {
        ("a", -10): 1,
        ("a", 0): 2,
        ("a", 10): 1,
        ("b", -10): 1,
        ("b", 0): 1,
    }


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("portable", [False, True])
def test_decontaminate(spark, portable):
    corpus = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon"),  # shares 3-gram runs
            (2, "zeta eta theta iota"),  # clean
            (3, "alpha beta gamma zeta"),  # shares exactly one 3-gram
        ],
    )
    eval_df = _docs(spark, [(100, "alpha beta gamma delta phi")])
    out = decontaminate(
        corpus, eval_df, shingle_k=3, min_overlap=2, portable=portable
    )
    got = {r["doc_id"]: (r["n_overlap"], r["contaminated"]) for r in out.collect()}
    # doc 1 shares "alpha beta gamma" + "beta gamma delta"; doc 3 one
    assert got == {1: (2, True), 2: (0, False), 3: (1, False)}


def test_decontaminate_short_doc_whole_text_shingle(spark):
    # docs shorter than k collapse to one whole-text shingle
    corpus = _docs(spark, [(1, "tiny doc"), (2, "other words")])
    eval_df = _docs(spark, [(9, "tiny doc")])
    out = decontaminate(corpus, eval_df, shingle_k=5, min_overlap=1)
    got = {r["doc_id"]: r["contaminated"] for r in out.collect()}
    assert got == {1: True, 2: False}


@pytest.mark.parametrize("portable", [False, True])
def test_bloom_decontaminate_no_false_negatives(spark, portable):
    from dataframeintervals_jl_spark.operators.dedup import bloom_decontaminate

    corpus = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "zeta eta theta iota"),
            (3, "alpha beta gamma zeta"),
        ],
    )
    eval_df = _docs(spark, [(100, "alpha beta gamma delta phi")])
    exact = {
        r["doc_id"]: (r["n_overlap"], r["contaminated"])
        for r in decontaminate(
            corpus, eval_df, shingle_k=3, min_overlap=2, portable=portable
        ).collect()
    }
    bloom = {
        r["doc_id"]: (r["n_bloom"], r["contaminated"])
        for r in bloom_decontaminate(
            corpus, eval_df, shingle_k=3, min_overlap=2, portable=portable
        ).collect()
    }
    assert set(bloom) == set(exact)
    for d, (n_exact, flagged_exact) in exact.items():
        n_bloom, flagged_bloom = bloom[d]
        # one-sided error: bloom count >= exact count, so a truly
        # contaminated doc can never be missed
        assert n_bloom >= n_exact
        assert not flagged_exact or flagged_bloom
    # at 2^20 bits over a handful of shingles the filter is exact
    assert bloom == exact
    # determinism: identical output on re-evaluation
    again = {
        r["doc_id"]: (r["n_bloom"], r["contaminated"])
        for r in bloom_decontaminate(
            corpus, eval_df, shingle_k=3, min_overlap=2, portable=portable
        ).collect()
    }
    assert again == bloom


def test_bloom_decontaminate_validation(spark):
    from dataframeintervals_jl_spark.operators.dedup import bloom_decontaminate

    corpus = _docs(spark, [(1, "a b c")])
    with pytest.raises(ValueError, match="n_bits"):
        bloom_decontaminate(corpus, corpus, n_bits=1000)
    with pytest.raises(ValueError, match="n_hashes"):
        bloom_decontaminate(corpus, corpus, n_hashes=0)


def test_bm25_topk_hand_example(spark):
    from dataframeintervals_jl_spark.operators.tfidf import bm25_topk

    docs = _docs(
        spark, [(1, "cat dog"), (2, "cat cat fish"), (3, "bird")]
    )
    qdf = spark.createDataFrame(
        [("q1", "cat")], "query_id string, query_text string"
    )
    out = bm25_topk(docs, qdf, k=5)
    rows = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in out.collect()
    )
    # N=3, total=6, df(cat)=2 -> idf=(3*1000)//2=1500
    # d1: tf=1, dl=2 -> (1500*1*22*6)//((13)*6+9*2*3)=198000//132=1500
    # d2: tf=2, dl=3 -> (1500*2*22*6)//((23)*6+9*3*3)=396000//219=1808
    assert rows == [("q1", 1, 2, 1808), ("q1", 2, 1, 1500)]


def test_bm25_multi_term_sums_and_ignores_oov(spark):
    from dataframeintervals_jl_spark.operators.tfidf import bm25_topk

    docs = _docs(spark, [(1, "cat dog"), (2, "dog dog")])
    qdf = spark.createDataFrame(
        [("q1", "cat dog unicorn")], "query_id string, query_text string"
    )
    out = {r["doc_id"]: r["score"] for r in bm25_topk(docs, qdf, k=5).collect()}
    # OOV 'unicorn' contributes nothing; doc 1 scores cat+dog terms
    # N=2, total=4; idf(cat)=(2000)//1=2000, idf(dog)=2000//2=1000
    # d1 cat: (2000*22*4)//(13*4+9*2*2)=176000//88=2000
    # d1 dog: (1000*22*4)//88=1000 ; total 3000
    # d2 dog: tf=2 -> (1000*2*22*4)//(23*4+9*2*2)=176000//128=1375
    assert out == {1: 3000, 2: 1375}


@pytest.mark.parametrize("portable", [False, True])
def test_shared_shingle_pairs(spark, portable):
    from dataframeintervals_jl_spark.operators.dedup import shared_shingle_pairs

    docs = _docs(
        spark,
        [
            (1, "a b c d e f"),
            (2, "a b c d e g"),  # shares 3-grams "a b c","b c d","c d e" with 1
            (3, "x y z w v u"),
        ],
    )
    out = shared_shingle_pairs(
        docs, shingle_k=3, min_shared=2, portable=portable
    )
    got = {(r["id_a"], r["id_b"]): r["n_shared"] for r in out.collect()}
    assert got == {(1, 2): 3}


def test_shared_shingle_pairs_stop_shingle_guard(spark):
    from dataframeintervals_jl_spark.operators.dedup import shared_shingle_pairs

    # a boilerplate shingle in every doc is dropped by max_df, so no
    # pair survives on its account
    docs = _docs(
        spark,
        [(i, f"common prefix here tail{i}") for i in range(5)],
    )
    out = shared_shingle_pairs(docs, shingle_k=3, min_shared=1, max_df=3)
    assert out.count() == 0


def _brute_pagerank(edges, iters, scale=1_000_000_000_000):
    und = set()
    for a, b in edges:
        und.add((a, b))
        und.add((b, a))
    nodes = sorted({u for u, _ in und})
    deg = {u: sum(1 for x, _ in und if x == u) for u in nodes}
    n = len(nodes)
    tele = (scale - (scale * 17) // 20) // n
    r = {u: scale // n for u in nodes}
    for _ in range(iters):
        incoming = {u: 0 for u in nodes}
        for u, v in und:
            incoming[v] += r[u] // deg[u]
        r = {v: tele + (incoming[v] * 17) // 20 for v in nodes}
    return r


def test_pagerank_matches_integer_reference(spark):
    from dataframeintervals_jl_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (1, 3), (3, 4)]  # triangle + pendant
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["v"]: r["rank_fx"] for r in pagerank(df, iterations=5).collect()}
    assert got == _brute_pagerank(edges, 5)
    # hub (3) outranks the pendant (4)
    assert got[3] > got[4]
    # determinism across runs
    again = {r["v"]: r["rank_fx"] for r in pagerank(df, iterations=5).collect()}
    assert again == got


def test_pagerank_empty_and_zero_iters(spark):
    from dataframeintervals_jl_spark.operators.graph import PR_SCALE, pagerank

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert pagerank(empty, iterations=3).count() == 0
    df = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got = {r["v"]: r["rank_fx"] for r in pagerank(df, iterations=0).collect()}
    assert got == {1: PR_SCALE // 2, 2: PR_SCALE // 2}


def test_validity_intervals_scd2(spark):
    from dataframeintervals_jl_spark.operators.timeseries import (
        validity_intervals,
    )

    rows = [
        # user 1: a a b a  -> runs a@[1,3), b@[3,4), a@[4,None)
        (1, 1, "a", 10),
        (1, 2, "a", 11),
        (1, 3, "b", 12),
        (1, 4, "a", 13),
        # user 2: single row -> open run
        (2, 5, "x", 14),
    ]
    df = spark.createDataFrame(rows, "k long, ts long, attr string, eid long")
    out = validity_intervals(
        df, attrs=["attr"], on="ts", by="k", order=["eid"]
    )
    got = {
        (r["k"], r["valid_from"]): (r["attr"], r["valid_to"])
        for r in out.collect()
    }
    assert got == {
        (1, 1): ("a", 3),
        (1, 3): ("b", 4),
        (1, 4): ("a", None),
        (2, 5): ("x", None),
    }


def test_validity_intervals_null_attr_is_a_value(spark):
    from dataframeintervals_jl_spark.operators.timeseries import (
        validity_intervals,
    )

    rows = [(1, 1, "a"), (1, 2, None), (1, 3, None), (1, 4, "a")]
    df = spark.createDataFrame(rows, "k long, ts long, attr string")
    out = validity_intervals(df, attrs=["attr"], on="ts", by="k")
    vals = sorted(
        (r["valid_from"], r["attr"]) for r in out.collect()
    )
    # null run collapses to ONE interval [2,4), not two
    assert vals == [(1, "a"), (2, None), (4, "a")]


def test_validity_intervals_global_matches_keyed_single_stream(spark):
    """Keyless (bucketed) path == naive global window semantics: run it
    on a stream long enough to span many buckets and compare against
    the keyed path over a constant key (same total order).  An event
    with a NULL time is dropped by both paths."""
    import random

    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.timeseries import (
        validity_intervals,
    )

    rng = random.Random(11)
    rows = []
    for i in range(2000):
        # irregular timestamps incl. exact ties (order broken by eid)
        rows.append((i // 3 * 7, rng.choice("abc"), i))
    rows.append((None, "z", 2000))
    df = spark.createDataFrame(rows, "ts long, attr string, eid long")
    out = validity_intervals(
        df, attrs=["attr"], on="ts", by=None, order=["eid"]
    )
    ref = validity_intervals(
        df.withColumn("k", F.lit(1)),
        attrs=["attr"],
        on="ts",
        by="k",
        order=["eid"],
    ).drop("k")
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, ref.collect()))
    assert got == want and len(got) > 100


def test_validity_intervals_global_no_single_partition(spark):
    from dataframeintervals_jl_spark.operators.timeseries import (
        validity_intervals,
    )

    rows = [(i * 5, "ab"[i % 2], i) for i in range(200)]
    df = spark.createDataFrame(rows, "ts long, attr string, eid long")
    out = validity_intervals(
        df, attrs=["attr"], on="ts", by=None, order=["eid"]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_validity_intervals_global_empty(spark):
    from dataframeintervals_jl_spark.operators.timeseries import (
        validity_intervals,
    )

    df = spark.createDataFrame([], "ts long, attr string")
    out = validity_intervals(df, attrs=["attr"], on="ts", by=None)
    assert out.count() == 0
    assert out.columns == ["attr", "valid_from", "valid_to"]


def test_hampel_despike_flags_and_repairs_spike(spark):
    from dataframeintervals_jl_spark.operators.timeseries import (
        hampel_despike,
    )

    # flat signal at 100 with one spike at t=5
    rows = [(1, t, 100 if t != 5 else 9000) for t in range(11)]
    df = spark.createDataFrame(rows, "k long, ts long, x long")
    out = {r["ts"]: r for r in hampel_despike(df, "x", "ts", by="k").collect()}
    assert out[5]["is_spike"] and out[5]["cleaned"] == 100
    assert not out[0]["is_spike"] and out[0]["cleaned"] == 100
    # neighbors of the spike are NOT flagged (median robustness)
    assert not out[4]["is_spike"] and not out[6]["is_spike"]

    # plan: one exchange, no python
    plan = (
        hampel_despike(df, "x", "ts", by="k")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan


def test_hampel_lower_median_even_frames_at_edges(spark):
    """At series edges the frame is smaller and even-sized: lower
    median semantics, exact."""
    from dataframeintervals_jl_spark.operators.timeseries import (
        hampel_despike,
    )

    rows = [(1, t, v) for t, v in enumerate([10, 20, 30, 40])]
    df = spark.createDataFrame(rows, "k long, ts long, x long")
    out = {r["ts"]: r["med"] for r in hampel_despike(df, "x", "ts", by="k", half_window=2).collect()}
    # t=0 frame [10,20,30] -> 20 ; t=1 frame [10,20,30,40] -> lower med 20
    assert out[0] == 20 and out[1] == 20


def test_ewma_integer_floor_recursion(spark):
    """Hand recursion with negative deltas: floor (not truncation)
    rounding, per key, order by ts."""
    from dataframeintervals_jl_spark.operators.timeseries import ewma

    xs = [100, 0, 50, -100, 7]
    rows = [(1, t, x) for t, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "k long, ts long, x long")
    got = {
        r["ts"]: r["ewma"]
        for r in ewma(df, "x", "ts", by="k", alpha_num=1, alpha_den=8).collect()
    }
    cur, want = None, {}
    for t, x in enumerate(xs):
        cur = x if t == 0 else cur + ((x - cur) * 1) // 8  # python // floors
        want[t] = cur
    assert got == want
    # floor vs truncate actually differs here (negative delta)
    assert want[1] == 100 + (-100 // 8) == 100 - 13

    with pytest.raises(ValueError):
        ewma(df, "x", "ts", by="k", alpha_num=9, alpha_den=8)


def test_resample_interp_hand_values(spark):
    """Grid at step 10 over observations (0,100), (25,300), (30,0):
    exact hits reproduce observations; between-points blends with
    floor; outside-support grid points are null."""
    from dataframeintervals_jl_spark.operators.timeseries import (
        resample_interp,
    )

    rows = [(1, 0, 100), (1, 25, 300), (1, 30, 0)]
    df = spark.createDataFrame(rows, "k long, ts long, x long")
    out = {
        r["ts"]: r["interp"]
        for r in resample_interp(df, "x", "ts", step=10, by="k").collect()
    }
    # t=0 exact hit; t=10: r=(10*1000)//25=400 -> 100+floor(200*400/1000)=180
    # t=20: r=800 -> 100+160=260; t=30 exact hit (t_prev==t_next==30)
    assert out == {0: 100, 10: 180, 20: 260, 30: 0}

    # negative slope floors toward -inf, not toward zero
    rows2 = [(2, 0, 0), (2, 3, -100)]
    df2 = spark.createDataFrame(rows2, "k long, ts long, x long")
    out2 = {
        r["ts"]: r["interp"]
        for r in resample_interp(df2, "x", "ts", step=1, by="k").collect()
    }
    # t=1: r=333 -> 0 + floor(-100*333/1000) = floor(-33.3) = -34
    assert out2[1] == -34 and out2[2] == -67 and out2[0] == 0 and out2[3] == -100


def test_cusum_detects_shift_and_resets(spark):
    from dataframeintervals_jl_spark.operators.timeseries import (
        cusum_changepoints,
    )

    # baseline 100 then a sustained shift to 160 (target 100, slack 20,
    # threshold 100): s_hi accumulates 40/step, alarms at step 3 of the
    # shift, then resets and alarms again
    xs = [100, 100, 100, 160, 160, 160, 160, 160, 160, 100]
    rows = [(1, t, x) for t, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "k long, ts long, x long")
    out = {
        r["ts"]: (r["s_hi"], r["alarm"])
        for r in cusum_changepoints(
            df, "x", target=100, slack=20, threshold=100, ts_col="ts", by="k"
        ).collect()
    }
    assert out[0] == (0, False) and out[2] == (0, False)
    assert out[3] == (40, False) and out[4] == (80, False)
    assert out[5] == (120, True)  # crossed
    assert out[6] == (40, False)  # reset restarted accumulation
    assert out[8] == (120, True)  # second alarm after re-accumulating
    with pytest.raises(ValueError):
        cusum_changepoints(df, "x", target=0, slack=-1, threshold=10, by="k")


def test_rolling_median_tracks_baseline(spark):
    from dataframeintervals_jl_spark import rolling_median

    rows = [(1, t, 100 if t != 4 else 5000) for t in range(9)]
    df = spark.createDataFrame(rows, "k long, ts long, x long")
    out = {r["ts"]: r["med"] for r in rolling_median(df, "x", "ts", by="k").collect()}
    assert all(v == 100 for v in out.values())  # spike never moves the median


def test_multi_resolution_rollup_hand_values_and_plan(spark):
    """Two resolutions in one pass: per-bucket sums match hand math,
    every resolution's buckets partition the data, and the physical
    plan has exactly ONE Expand and ONE Exchange (the whole point —
    no per-resolution re-aggregation)."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.timeseries import (
        multi_resolution_rollup,
    )

    rows = [("a", i * 600, i) for i in range(20)] + [
        ("b", i * 900, i) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "k string, ts long, v long")
    out = multi_resolution_rollup(
        df,
        "ts",
        {"h1": 3600, "h2": 7200},
        by="k",
        aggs=[F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")],
    )
    got = {
        (r["k"], r["resolution"], r["bucket_start"]): (r["n"], r["s"])
        for r in out.collect()
    }
    # hand check: key a, h1 bucket 0 covers ts 0..3000 (v 0..5)
    assert got[("a", "h1", 0)] == (6, 15)
    assert got[("a", "h2", 0)] == (12, 66)
    assert got[("b", "h2", 7200)] == (2, 17)
    # each resolution independently partitions all 30 rows
    for lab in ("h1", "h2"):
        assert sum(n for (k, r, b), (n, s) in got.items() if r == lab) == 30
    plan = out._jdf.queryExecution().executedPlan().toString()
    # AQE prints final + initial plan; count nodes in the final section
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Expand") == 1
    assert plan.count("Exchange") == 1

    import pytest as _pytest

    with _pytest.raises(ValueError, match="resolutions"):
        multi_resolution_rollup(df, "ts", {})


def test_time_weighted_avg_hand_computed(spark):
    """LOCF weighting on a hand-checkable stream: value 10 holds for
    [0, 40), 30 for [40, 100), open run clamped at the windows' max
    stop; window [0, 50) averages (10*40 + 30*10)/50 = 14, window
    [50, 100) is pure 30; a window entirely before the first sample
    emits NO row; negative values floor-divide consistently."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.functions.spans import make_span
    from dataframeintervals_jl_spark.operators.timeseries import (
        time_weighted_avg,
    )

    samples = spark.createDataFrame(
        [("k", 10, 10, 1), ("k", 40, 30, 2), ("k", 200, 7, 3),
         ("n", 60, -9, 4)],
        "key string, ts long, v long, eid long",
    )
    # shift k's first sample to 0 so window 1 is fully covered
    samples = samples.withColumn(
        "ts", F.when(F.col("eid") == 1, F.lit(0)).otherwise(F.col("ts"))
    )
    windows = spark.createDataFrame(
        [(-100, -50, 0), (0, 50, 1), (50, 100, 2)],
        "a long, b long, widx int",
    ).select(make_span(F.col("a"), F.col("b")).alias("span"), "widx")

    out = {
        (r["key"], r["widx"]): (r["covered_dur"], r["twa"])
        for r in time_weighted_avg(
            samples, windows, "v", ts_col="ts", by="key", order=["eid"]
        ).collect()
    }
    # window 0 precedes every sample: no rows at all for it
    assert not any(w == 0 for (_, w) in out)
    assert out[("k", 1)] == (50, (10 * 40 + 30 * 10) // 50)
    assert out[("k", 2)] == (50, 30)
    # key n: value -9 from ts=60, clamped at 100 -> window 2 covers 40
    assert out[("n", 2)] == (40, -9)
    assert ("n", 1) not in out

    import pytest as _pytest
    with _pytest.raises(ValueError, match="label"):
        time_weighted_avg(samples, windows.select("span"), "v", by="key")


def test_duration_in_state_partitions_covered_time(spark):
    """Per (key-less) window, Σ dur_ns across states == the window's
    covered time, and a hand-checked stream distributes correctly."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.functions.spans import make_span
    from dataframeintervals_jl_spark.operators.timeseries import (
        duration_in_state,
    )

    samples = spark.createDataFrame(
        [(0, "up", 1), (30, "down", 2), (70, "up", 3)],
        "ts long, st string, eid long",
    )
    windows = spark.createDataFrame(
        [(0, 50, 1), (50, 100, 2)], "a long, b long, widx int"
    ).select(make_span(F.col("a"), F.col("b")).alias("span"), "widx")
    out = {
        (r["widx"], r["st"]): r["dur_ns"]
        for r in duration_in_state(
            samples, windows, "st", ts_col="ts", order=["eid"]
        ).collect()
    }
    # [0,30) up, [30,70) down, [70,100) up (open, clamped at 100)
    assert out == {
        (1, "up"): 30,
        (1, "down"): 20,
        (2, "down"): 20,
        (2, "up"): 30,
    }


def test_counter_total_resets(spark):
    from dataframeintervals_jl_spark.operators.timeseries import (
        counter_total,
    )

    df = spark.createDataFrame(
        [("a", 1, 10, 1), ("a", 2, 25, 2), ("a", 3, 5, 3), ("a", 4, 9, 4),
         ("b", 1, 7, 5)],
        "k string, ts long, v long, eid long",
    )
    got = {
        r["k"]: (r["total_delta"], r["n_resets"], r["n_samples"])
        for r in counter_total(df, "v", by="k", order=["eid"]).collect()
    }
    # a: +15, reset->5 counts whole, +4 => 24; one reset
    assert got["a"] == (24, 1, 4)
    # single sample: no deltas, no resets
    assert got["b"] == (0, 0, 1)

    import pytest as _pytest
    with _pytest.raises(ValueError):
        counter_total(df, "v", by=None)


def test_counter_windows_hand_values_and_tiling_invariant(spark):
    """Hand-checked windowed counter deltas, plus the partition
    invariant: when the windows tile the observed range, window deltas
    and resets sum EXACTLY to counter_total's series totals (each
    observation instant lies in exactly one window — no cross-boundary
    increase is lost)."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.functions.spans import make_span
    from dataframeintervals_jl_spark.operators.timeseries import (
        RATE_FP_SCALE,
        counter_total,
        counter_windows,
    )

    df = spark.createDataFrame(
        [("a", 10, 10, 1), ("a", 40, 25, 2), ("a", 60, 5, 3),
         ("a", 140, 9, 4), ("b", 30, 7, 5), ("b", 130, 507, 6)],
        "k string, ts long, v long, eid long",
    )
    windows = spark.createDataFrame(
        [(0, 100, 1), (100, 200, 2)], "lo long, hi long, widx int"
    ).select(make_span(F.col("lo"), F.col("hi")).alias("span"), "widx")

    out = {
        (r["k"], r["widx"]): (
            r["delta"], r["n_resets"], r["n_obs"],
            r["covered_dur"], r["rate_fp6"],
        )
        for r in counter_windows(
            df, windows, "v", ts_col="ts", by="k", order=["eid"]
        ).collect()
    }
    # a, window 1: obs at t=40 (+15, dur 30) and t=60 (reset->5, dur 20)
    assert out[("a", 1)] == (
        20, 1, 2, 50, 20 * 10**9 * RATE_FP_SCALE // 50
    )
    # a, window 2: obs at t=140 (+4 over dur 80)
    assert out[("a", 2)] == (4, 0, 1, 80, 4 * 10**9 * RATE_FP_SCALE // 80)
    # b: first sample at t=30 anchors only; obs at t=130 in window 2
    assert ("b", 1) not in out
    assert out[("b", 2)] == (
        500, 0, 1, 100, 500 * 10**9 * RATE_FP_SCALE // 100
    )

    # tiling invariant against counter_total
    tot = {
        r["k"]: (r["total_delta"], r["n_resets"])
        for r in counter_total(df, "v", by="k", order=["eid"]).collect()
    }
    per_window = (
        counter_windows(df, windows, "v", ts_col="ts", by="k", order=["eid"])
        .groupBy("k")
        .agg(F.sum("delta").alias("d"), F.sum("n_resets").alias("r"))
        .collect()
    )
    for row in per_window:
        assert (row["d"], row["r"]) == tot[row["k"]]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="by key"):
        counter_windows(df, windows, "v", by=None)
    with _pytest.raises(ValueError, match="label"):
        counter_windows(df, windows.select("span"), "v", by="k")


def test_time_weighted_linear_hand_values(spark):
    """Trapezoid weighting on a hand-checkable ramp: 10 -> 30 over
    [0, 100); window [0,50) averages the 10..20 ramp (15), window
    [50,100) the 20..30 ramp (25).  No extrapolation past the last
    sample: a window beyond it emits nothing."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.functions.spans import make_span
    from dataframeintervals_jl_spark.operators.timeseries import (
        time_weighted_avg,
    )

    samples = spark.createDataFrame(
        [("k", 0, 10, 1), ("k", 100, 30, 2)],
        "key string, ts long, v long, eid long",
    )
    windows = spark.createDataFrame(
        [(0, 50, 1), (50, 100, 2), (100, 150, 3)],
        "a long, b long, widx int",
    ).select(make_span(F.col("a"), F.col("b")).alias("span"), "widx")
    out = {
        (r["key"], r["widx"]): (r["covered_dur"], r["twa"])
        for r in time_weighted_avg(
            samples, windows, "v", ts_col="ts", by="key", order=["eid"],
            method="linear",
        ).collect()
    }
    assert out == {("k", 1): (50, 15), ("k", 2): (50, 25)}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="method"):
        time_weighted_avg(samples, windows, "v", by="key", method="nope")


def test_time_weighted_linear_equals_locf_on_constant_segments(spark):
    """Property: whenever every consecutive-sample segment is flat
    (dv == 0 — per-key constant series here, irregular sample times,
    negative values included) and the last sample sits at the windows'
    max stop (so the LOCF clamp adds nothing), linear == LOCF exactly:
    each trapezoid piece reduces to the LOCF rectangle v0*(B-A) with
    zero truncation error.  (On a step series the two methods
    genuinely differ across the change segments — linear ramps where
    LOCF holds — so dv == 0 is the sharp boundary of the exact
    reduction, matching the TimescaleDB semantics.)"""
    import random

    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.functions.spans import make_span
    from dataframeintervals_jl_spark.operators.timeseries import (
        time_weighted_avg,
    )

    rng = random.Random(7)
    rows, eid = [], 0
    for key, val in (("a", 17), ("b", -43), ("c", 0), ("d", 999_999)):
        ts = rng.randrange(0, 80)
        while ts < 1000:
            eid += 1
            rows.append((key, ts, val, eid))
            ts += rng.randrange(10, 120)
        eid += 1
        rows.append((key, 1000, val, eid))  # pin last sample at max stop
    samples = spark.createDataFrame(
        rows, "key string, ts long, v long, eid long"
    )
    windows = spark.createDataFrame(
        [(i * 125, (i + 1) * 125, i + 1) for i in range(8)],
        "a long, b long, widx int",
    ).select(make_span(F.col("a"), F.col("b")).alias("span"), "widx")

    def run(method):
        return {
            (r["key"], r["widx"]): (r["covered_dur"], r["twa"])
            for r in time_weighted_avg(
                samples, windows, "v", ts_col="ts", by="key",
                order=["eid"], method=method,
            ).collect()
        }

    assert run("linear") == run("locf")


def test_gauge_windows_hand_values_and_tiling_invariant(spark):
    """Signed deltas (no reset rule), Prometheus idelta/irate picks,
    and the tiling invariant: window deltas sum to last-minus-first
    per key when the windows tile the observed range."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.functions.spans import make_span
    from dataframeintervals_jl_spark.operators.timeseries import (
        RATE_FP_SCALE,
        gauge_windows,
    )

    df = spark.createDataFrame(
        [("a", 10, 10, 1), ("a", 40, 25, 2), ("a", 60, 5, 3),
         ("a", 140, 9, 4), ("b", 30, 7, 5), ("b", 130, -13, 6)],
        "k string, ts long, v long, eid long",
    )
    windows = spark.createDataFrame(
        [(0, 100, 1), (100, 200, 2)], "lo long, hi long, widx int"
    ).select(make_span(F.col("lo"), F.col("hi")).alias("span"), "widx")

    out = {
        (r["k"], r["widx"]): (
            r["delta"], r["n_obs"], r["covered_dur"], r["rate_fp6"],
            r["idelta"], r["irate_fp6"],
        )
        for r in gauge_windows(
            df, windows, "v", ts_col="ts", by="k", order=["eid"]
        ).collect()
    }
    s = 10**9 * RATE_FP_SCALE
    # a, window 1: +15 over 30 at t=40, -20 over 20 at t=60 (signed!);
    # idelta/irate from the LAST obs (t=60). Note -5*s DIV 50 and
    # -20*s DIV 20 truncate toward zero (exact here).
    assert out[("a", 1)] == (-5, 2, 50, -5 * s // 50, -20, -20 * s // 20)
    # a, window 2: +4 over 80 at t=140 — single obs, rate == irate
    assert out[("a", 2)] == (4, 1, 80, 4 * s // 80, 4, 4 * s // 80)
    # b: -20 over 100 at t=130 (negative gauge value is fine)
    assert out[("b", 2)] == (
        -20, 1, 100, -20 * s // 100, -20, -20 * s // 100
    )
    assert ("b", 1) not in out  # anchor-only first sample

    # tiling invariant: sum of window deltas == last - first per key
    per_key = {
        r["k"]: r["d"]
        for r in gauge_windows(
            df, windows, "v", ts_col="ts", by="k", order=["eid"]
        ).groupBy("k").agg(F.sum("delta").alias("d")).collect()
    }
    assert per_key == {"a": 9 - 10, "b": -13 - 7}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="by key"):
        gauge_windows(df, windows, "v", by=None)


def test_ohlc_windows_hand_values(spark):
    """Open/close by (ts, eid) order, high/low over contained samples;
    ts ties broken by the order column."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.functions.spans import make_span
    from dataframeintervals_jl_spark.operators.timeseries import (
        ohlc_windows,
    )

    df = spark.createDataFrame(
        [("a", 0, 10, 1), ("a", 40, 25, 2), ("a", 60, 5, 3),
         ("a", 140, 9, 4), ("b", 70, -3, 5), ("b", 70, 8, 6)],
        "k string, ts long, v long, eid long",
    )
    windows = spark.createDataFrame(
        [(0, 100, 1), (100, 200, 2)], "lo long, hi long, widx int"
    ).select(make_span(F.col("lo"), F.col("hi")).alias("span"), "widx")
    out = {
        (r["k"], r["widx"]): (
            r["open"], r["high"], r["low"], r["close"],
            r["n_samples"], r["first_ts"], r["last_ts"],
        )
        for r in ohlc_windows(
            df, windows, "v", ts_col="ts", by="k", order=["eid"]
        ).collect()
    }
    assert out[("a", 1)] == (10, 25, 5, 5, 3, 0, 60)
    assert out[("a", 2)] == (9, 9, 9, 9, 1, 140, 140)
    # tied timestamps: eid orders the candle (open eid=5, close eid=6)
    assert out[("b", 1)] == (-3, 8, -3, 8, 2, 70, 70)
    assert ("b", 2) not in out

    import pytest as _pytest
    with _pytest.raises(ValueError, match="label"):
        ohlc_windows(df, windows.select("span"), "v", by="k")


def test_heartbeat_windows_hand_values(spark):
    """Overlapping heartbeats merge into one island (no double count),
    gaps break islands, islands clamp at window edges."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.functions.spans import make_span
    from dataframeintervals_jl_spark.operators.timeseries import (
        heartbeat_windows,
    )

    df = spark.createDataFrame(
        [("a", 0), ("a", 10), ("a", 60), ("b", 95)],
        "k string, ts long",
    )
    windows = spark.createDataFrame(
        [(0, 50, 1), (50, 100, 2)], "lo long, hi long, widx int"
    ).select(make_span(F.col("lo"), F.col("hi")).alias("span"), "widx")
    out = {
        (r["k"], r["widx"]): (r["live_ns"], r["n_islands"])
        for r in heartbeat_windows(
            df, windows, 20, ts_col="ts", by="k"
        ).collect()
    }
    # a: beats 0+10 merge -> [0,30); beat 60 -> [60,80)
    assert out[("a", 1)] == (30, 1)
    assert out[("a", 2)] == (20, 1)
    # b: [95,115) clamps at the window edge 100
    assert out[("b", 2)] == (5, 1)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="liveness"):
        heartbeat_windows(df, windows, 0, by="k")


def test_lttb_downsample_modes(spark):
    """Endpoints always survive, each bucket keeps its decisive spike
    (classic == parallel when winners are unambiguous), N <= n_out
    passes through complete, and invalid args fail loudly."""
    import pytest as _pytest

    from dataframeintervals_jl_spark.operators.timeseries import (
        lttb_downsample,
    )

    # 20 points: flat baseline with one huge spike per interior third
    rows = []
    for i in range(20):
        v = 0
        if i == 4:
            v = 1000
        elif i == 10:
            v = -800
        elif i == 16:
            v = 900
        rows.append(("k", i * 10, v, i))
    df = spark.createDataFrame(rows, "k string, ts long, v long, eid long")

    def run(mode):
        return sorted(
            (r["ts"], r["v_fx"] if "v_fx" in r else r["v"], r["bucket"])
            for r in lttb_downsample(
                df, 5, "v", ts_col="ts", by="k", order=["eid"], mode=mode
            ).collect()
        )

    par, cla = run("parallel"), run("classic")
    # endpoints + one winner per bucket; the spikes dominate any anchor
    ts_par = {t for t, _, _ in par}
    assert {0, 190} <= ts_par
    assert {40, 100, 160} <= ts_par, f"spikes must win: {par}"
    assert len(par) == 5
    assert par == cla

    # passthrough below n_out
    tiny = spark.createDataFrame(
        rows[:4], "k string, ts long, v long, eid long"
    )
    out = lttb_downsample(tiny, 5, "v", ts_col="ts", by="k", order=["eid"])
    assert sorted(r["ts"] for r in out.collect()) == [0, 10, 20, 30]
    out_c = lttb_downsample(
        tiny, 5, "v", ts_col="ts", by="k", order=["eid"], mode="classic"
    )
    assert sorted(r["ts"] for r in out_c.collect()) == [0, 10, 20, 30]

    with _pytest.raises(ValueError, match="n_out"):
        lttb_downsample(df, 2, "v", by="k")
    with _pytest.raises(ValueError, match="mode"):
        lttb_downsample(df, 5, "v", by="k", mode="x")
    with _pytest.raises(ValueError, match="by key"):
        lttb_downsample(df, 5, "v")


def test_stats2d_windows_exact_sums_and_numpy_derivations(spark):
    """Moment sums are exact and mergeable; corr_from_stats2d's float
    derivations match numpy on the same points; degenerate groups
    (n < 2, zero variance) yield NULLs."""
    import numpy as np
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.functions.spans import make_span
    from dataframeintervals_jl_spark.operators.timeseries import (
        corr_from_stats2d,
        stats2d_windows,
    )

    pts = [
        ("a", 10, 3, 9), ("a", 20, -1, 2), ("a", 30, 4, 15),
        ("a", 40, 2, 5),
        ("a", 140, 7, 7),            # n=1 window
        ("b", 10, 5, 1), ("b", 60, 5, 8),  # zero x-variance
    ]
    df = spark.createDataFrame(
        [(k, t, x, y, i) for i, (k, t, x, y) in enumerate(pts)],
        "k string, ts long, x long, y long, eid long",
    )
    windows = spark.createDataFrame(
        [(0, 100, 1), (100, 200, 2)], "lo long, hi long, widx int"
    ).select(make_span(F.col("lo"), F.col("hi")).alias("span"), "widx")
    s = stats2d_windows(df, windows, "x", "y", ts_col="ts", by="k")
    out = {
        (r["k"], r["widx"]): r.asDict() for r in corr_from_stats2d(s).collect()
    }

    a1 = out[("a", 1)]
    xs = np.array([3, -1, 4, 2], dtype=float)
    ys = np.array([9, 2, 15, 5], dtype=float)
    assert (a1["n"], a1["sum_x"], a1["sum_y"]) == (4, "8", "31")
    assert a1["sum_xx"] == str(int((xs * xs).sum()))
    assert a1["sum_xy"] == str(int((xs * ys).sum()))
    assert abs(a1["corr"] - np.corrcoef(xs, ys)[0, 1]) < 1e-12
    slope, intercept = np.polyfit(xs, ys, 1)
    assert abs(a1["slope"] - slope) < 1e-9
    assert abs(a1["intercept"] - intercept) < 1e-9
    assert abs(a1["covar_pop"] - np.cov(xs, ys, bias=True)[0, 1]) < 1e-12

    # mergeability: whole-range sums == sum of per-window sums
    whole = spark.createDataFrame(
        [(0, 200, 9)], "lo long, hi long, widx int"
    ).select(make_span(F.col("lo"), F.col("hi")).alias("span"), "widx")
    w_all = {
        r["k"]: int(r["sum_xy"])
        for r in stats2d_windows(
            df, whole, "x", "y", ts_col="ts", by="k"
        ).collect()
    }
    per = {}
    for (k, _), r in out.items():
        per[k] = per.get(k, 0) + int(r["sum_xy"])
    assert per == w_all

    # degenerate: n=1 window -> corr/slope NULL; zero x-variance too
    assert out[("a", 2)]["corr"] is None
    assert out[("a", 2)]["slope"] is None
    assert out[("b", 1)]["corr"] is None and out[("b", 1)]["slope"] is None


def test_masked_twa_composition_hand_values(spark):
    """span_difference fragments + time_weighted_avg(clamp_at=)
    compose into artifact-masked TWA: masked time is excluded from
    both the weights and the coverage; same-label fragments aggregate
    back together; clamp_at pins the open-run horizon even when a
    mask covers the windows' tail."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.functions.spans import make_span
    from dataframeintervals_jl_spark.operators.coalesce import (
        span_difference,
    )
    from dataframeintervals_jl_spark.operators.timeseries import (
        time_weighted_avg,
    )

    samples = spark.createDataFrame(
        [("k", 0, 10, 1), ("k", 40, 30, 2)],
        "key string, ts long, v long, eid long",
    )
    windows = spark.createDataFrame(
        [(0, 50, 1), (50, 100, 2)], "a long, b long, widx int"
    ).select(make_span(F.col("a"), F.col("b")).alias("span"), "widx")
    # masks: [20, 30) inside window 1; [90, 110) covering the tail
    masks = spark.createDataFrame(
        [(20, 30), (90, 110)], "a long, b long"
    ).select(make_span(F.col("a"), F.col("b")).alias("span"))
    frags = span_difference(windows, masks)
    out = {
        (r["key"], r["widx"]): (r["covered_dur"], r["twa"])
        for r in time_weighted_avg(
            samples, frags, "v", ts_col="ts", by="key", order=["eid"],
            clamp_at=100,
        ).collect()
    }
    # window 1 unmasked time: [0,20)+[30,50) = 40ns; value 10 holds
    # [0,40) -> covers [0,20)+[30,40) = 30; value 30 holds [40,100)
    # -> covers [40,50) = 10.  twa = (10*30 + 30*10) // 40 = 15
    assert out[("k", 1)] == (40, 15)
    # window 2 unmasked: [50,90) = 40ns, all value 30 (clamped at 100,
    # NOT at the fragment max stop 90 — same result here but the
    # horizon matters when the tail mask ends before the window stop)
    assert out[("k", 2)] == (40, 30)

    # DataFrame clamp_at: same result via the lazy 1-row horizon
    horizon = windows.agg(F.max("span.stop"))
    out2 = {
        (r["key"], r["widx"]): (r["covered_dur"], r["twa"])
        for r in time_weighted_avg(
            samples, frags, "v", ts_col="ts", by="key", order=["eid"],
            clamp_at=horizon,
        ).collect()
    }
    assert out2 == out

    import pytest as _pytest
    with _pytest.raises(ValueError, match="one column"):
        time_weighted_avg(
            samples, frags, "v", by="key",
            clamp_at=windows.select("span", "widx"),
        )


def test_gapfill_windows_dense_and_locf(spark):
    """Every (key, window) pair emits: NULL before the first sample,
    the held value at each boundary after, tolerance expiry nulls a
    stale carry, equal-ts ties go to the order column's max."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.functions.spans import make_span
    from dataframeintervals_jl_spark.operators.timeseries import (
        gapfill_windows,
    )

    samples = spark.createDataFrame(
        [("a", 25, 7, 1), ("a", 25, 9, 2), ("a", 130, 4, 3),
         ("b", 310, 1, 4)],
        "k string, ts long, v long, eid long",
    )
    windows = spark.createDataFrame(
        [(i * 100, (i + 1) * 100, i + 1) for i in range(4)],
        "lo long, hi long, widx int",
    ).select(make_span(F.col("lo"), F.col("hi")).alias("span"), "widx")
    out = {
        (r["k"], r["widx"]): (r["v"], r["sample_ts"])
        for r in gapfill_windows(
            samples, windows, "v", ts_col="ts", by="k", order=["eid"]
        ).collect()
    }
    # dense: 2 keys x 4 windows
    assert len(out) == 8
    # a: boundary 0 precedes the first sample; 100 holds the eid-2
    # tie-winner (9); 200/300 hold the later 4
    assert out[("a", 1)] == (None, None)
    assert out[("a", 2)] == (9, 25)
    assert out[("a", 3)] == (4, 130) and out[("a", 4)] == (4, 130)
    # b: nothing until the 300 boundary... which is still before 310
    assert all(out[("b", i)] == (None, None) for i in (1, 2, 3, 4))

    # tolerance: a 50ns carry limit expires the 25->200 boundary gap
    out_tol = {
        (r["k"], r["widx"]): r["v"]
        for r in gapfill_windows(
            samples, windows, "v", ts_col="ts", by="k", order=["eid"],
            tolerance=80,
        ).collect()
    }
    assert out_tol[("a", 2)] == 9      # gap 75 <= 80
    assert out_tol[("a", 3)] == 4      # gap 70 <= 80
    assert out_tol[("b", 4)] is None

    with _pytest.raises(ValueError, match="by key"):
        gapfill_windows(samples, windows, "v")


def test_gapfill_windows_linear_interpolation(spark):
    """Linear gapfill: boundary values lerp exactly between neighbor
    samples, exact on a sample, NULL outside the observed range —
    unlike locf's carry."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.functions.spans import make_span
    from dataframeintervals_jl_spark.operators.timeseries import (
        gapfill_windows,
    )

    samples = spark.createDataFrame(
        [("a", 100, 10, 1), ("a", 300, 50, 2)],
        "k string, ts long, v long, eid long",
    )
    windows = spark.createDataFrame(
        [(i * 100, (i + 1) * 100, i + 1) for i in range(5)],
        "lo long, hi long, widx int",
    ).select(make_span(F.col("lo"), F.col("hi")).alias("span"), "widx")
    out = {
        r["widx"]: (r["v"], r["prev_ts"], r["next_ts"])
        for r in gapfill_windows(
            samples, windows, "v", ts_col="ts", by="k", order=["eid"],
            method="linear",
        ).collect()
    }
    assert len(out) == 5
    assert out[1][0] is None               # boundary 0: before range
    assert out[2] == (10, 100, 100)        # exactly on the sample
    assert out[3][0] == 10 + 40 * 100 // 200  # lerp at 200 -> 30
    assert out[4] == (50, 300, 300)        # on the last sample
    assert out[5][0] is None               # boundary 400: after range

    with _pytest.raises(ValueError, match="method"):
        gapfill_windows(samples, windows, "v", by="k", method="x")


def test_histogram_windows_hand_values_and_edges(spark):
    """Hand-checked equi-width histogram with the TimescaleDB
    nbuckets+2 layout: underflow (v < lo) -> bucket 0, overflow
    (v >= hi) -> nbuckets+1, interior exact-integer width, and the
    lo / hi-epsilon boundary samples landing in buckets 1 and
    nbuckets.  Tiling invariant: per-key bucket counts sum to the
    number of stabbed samples."""
    import pytest
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.functions.spans import make_span
    from dataframeintervals_jl_spark.operators.timeseries import (
        histogram_windows,
    )

    # lo=0 hi=100 nb=10 -> interior buckets 1..10 of width 10
    df = spark.createDataFrame(
        [("a", 10, -5), ("a", 20, 0), ("a", 30, 9), ("a", 40, 10),
         ("a", 50, 99), ("a", 60, 100), ("a", 70, 250),
         ("b", 110, 55)],
        "k string, ts long, v long",
    )
    windows = spark.createDataFrame(
        [(0, 100, 1), (100, 200, 2)], "lo long, hi long, widx int"
    ).select(make_span(F.col("lo"), F.col("hi")).alias("span"), "widx")

    out = {
        (r["k"], r["widx"], r["bucket"]): r["n"]
        for r in histogram_windows(
            df, windows, "v", 0, 100, 10, ts_col="ts", by="k"
        ).collect()
    }
    assert out == {
        ("a", 1, 0): 1,   # -5 underflow
        ("a", 1, 1): 2,   # 0, 9
        ("a", 1, 2): 1,   # 10
        ("a", 1, 10): 1,  # 99 (hi - 1 lands in the LAST interior bucket)
        ("a", 1, 11): 2,  # 100, 250 overflow
        ("b", 2, 6): 1,   # 55
    }
    # tiling: every stabbed sample counted exactly once
    assert sum(n for (k, _, _), n in out.items() if k == "a") == 7

    # global (by=None) variant: keys collapse
    g = {
        (r["widx"], r["bucket"]): r["n"]
        for r in histogram_windows(
            df, windows, "v", 0, 100, 10, ts_col="ts"
        ).collect()
    }
    assert g[(1, 1)] == 2 and g[(2, 6)] == 1

    with pytest.raises(ValueError, match="nbuckets"):
        histogram_windows(df, windows, "v", 0, 100, 0, ts_col="ts")
    with pytest.raises(ValueError, match="lo < hi"):
        histogram_windows(df, windows, "v", 100, 100, 4, ts_col="ts")
    with pytest.raises(ValueError, match="label"):
        histogram_windows(
            df, windows.select("span"), "v", 0, 100, 4, ts_col="ts"
        )


def test_autocorrelation_hand_values(spark):
    """A perfectly alternating series has pair-Pearson ACF(1) = -1 and
    ACF(2) = +1; a strictly linear ramp has ACF(k) = +1 for every k.
    Pair counts shrink by k per lag, and a constant series yields NULL
    (zero variance)."""
    import pytest

    from dataframeintervals_jl_spark.operators.timeseries import (
        autocorrelation,
    )

    rows = [("alt", t, 0, 1 if t % 2 == 0 else -1) for t in range(8)]
    rows += [("ramp", t, 0, 10 * t + 3) for t in range(6)]
    rows += [("const", t, 0, 7) for t in range(5)]
    df = spark.createDataFrame(rows, "k string, ts long, eid long, v long")
    out = {
        (r["k"], r["lag"]): (r["n"], r["acf"])
        for r in autocorrelation(
            df, "v", 2, ts_col="ts", by="k", order=["eid"]
        ).collect()
    }
    assert out[("alt", 1)] == (7, -1.0)
    assert out[("alt", 2)] == (6, 1.0)
    assert out[("ramp", 1)] == (5, 1.0)
    assert out[("ramp", 2)] == (4, 1.0)
    assert out[("const", 1)][1] is None or out[("const", 1)][1] != out[
        ("const", 1)
    ][1]  # NULL or NaN: zero variance has no correlation

    with pytest.raises(ValueError, match="max_lag"):
        autocorrelation(df, "v", 0, ts_col="ts", by="k")
    with pytest.raises(ValueError, match="by key"):
        autocorrelation(df, "v", 2, ts_col="ts")


def test_seasonal_anomaly_hand_values(spark):
    """Hour-of-day fold + exact integer z-test: a group of nine 10s
    and one 100 at the same season flags exactly the 100 at z=2
    ((n·x−Σx)² > 4·(n·Σx²−Σx²)); a constant season flags nothing
    (zero variance); the season index folds across periods (t and
    t + period share a season) and negative timestamps fold via
    floor-division."""
    import pytest

    from dataframeintervals_jl_spark.operators.timeseries import (
        seasonal_anomaly_counts,
    )

    B, P = 10, 40  # 4 seasons of width 10
    rows = [("a", 5 + 40 * i, 10) for i in range(9)] + [("a", 365, 100)]
    rows += [("a", 15, 7), ("a", 55, 7)]        # season 1: constant
    rows += [("b", -5, 3)]                      # season: floor(-5/10)=-1 -> pmod 3
    df = spark.createDataFrame(rows, "k string, ts long, v long")
    out = {
        (r["k"], r["season"]): (r["n"], r["mu_fp6"], r["n_anomalies"])
        for r in seasonal_anomaly_counts(
            df, "v", P, B, ts_col="ts", by="k", z=2
        ).collect()
    }
    # season 0 of key a: nine 10s + one 100 -> mean 19, only 100 flagged
    assert out[("a", 0)] == (10, 19_000_000, 1)
    assert out[("a", 1)] == (2, 7_000_000, 0)
    assert out[("b", 3)] == (1, 3_000_000, 0)

    with pytest.raises(ValueError, match="multiple"):
        seasonal_anomaly_counts(df, "v", 25, 10, ts_col="ts", by="k")


def test_autocorrelation_chunked_parity(spark):
    """chunk_ns path == single-window path exactly, on a fixture built
    to stress it: chunks with fewer rows than max_lag, EMPTY chunks
    (pairs spanning 3+ chunk boundaries), equal-ts ties broken by the
    order column, negative timestamps, and a key whose whole series
    fits one chunk."""
    import random

    from dataframeintervals_jl_spark.operators.timeseries import (
        autocorrelation,
    )

    rng = random.Random(411)
    rows = []
    # key a: 60 samples scattered over [-100, 500) with duplicate ts
    ts_pool = [rng.randrange(-100, 500) for _ in range(50)] + [7] * 10
    for i, t in enumerate(ts_pool):
        rows.append(("a", t, i, rng.randrange(-50, 50)))
    # key b: 3 sparse samples 300 apart (every pair crosses many
    # empty 100-wide chunks)
    rows += [("b", 0, 0, 5), ("b", 300, 1, 9), ("b", 600, 2, 1)]
    # key c: all in one chunk
    rows += [("c", 10, i, i * 3 - 7) for i in range(8)]
    df = spark.createDataFrame(rows, "k string, ts long, eid long, v long")

    kw = dict(ts_col="ts", by="k", order=["eid"])
    base = {
        (r["k"], r["lag"]): (r["n"], r["acf"])
        for r in autocorrelation(df, "v", 5, **kw).collect()
    }
    chunked = {
        (r["k"], r["lag"]): (r["n"], r["acf"])
        for r in autocorrelation(df, "v", 5, chunk_ns=100, **kw).collect()
    }
    assert chunked == base
    assert base[("b", 1)][0] == 2  # sanity: sparse pairs exist


def test_psi_drift_hand_values(spark):
    """A segment distributed identically to the corpus scores ~0; a
    segment concentrated in a bucket the rest never touches scores
    high; PSI is invariant to segment size for identical shapes, and
    smoothing keeps empty buckets finite."""
    import math

    import pytest

    from dataframeintervals_jl_spark.operators.profile import psi_drift

    # corpus: s1 and s2 identical shape (uniform over buckets 1..4),
    # s3 all mass in bucket 10
    rows = []
    for s, reps in (("s1", 2), ("s2", 6)):
        for r in range(reps):
            rows += [(s, v) for v in (5, 15, 25, 35)]
    rows += [("s3", 95)] * 8
    df = spark.createDataFrame(rows, "src string, x long")
    out = {
        r["src"]: (r["n"], r["psi"])
        for r in psi_drift(df, "x", 0, 100, 10, "src").collect()
    }
    assert out["s1"][0] == 8 and out["s2"][0] == 24 and out["s3"][0] == 8
    # identical-shape segments: small PSI, equal-ish (size-dependent
    # only through smoothing); the divergent segment dominates
    assert out["s3"][1] > 1.0
    assert out["s1"][1] < 0.6 and out["s2"][1] < 0.6
    assert out["s3"][1] > 2 * max(out["s1"][1], out["s2"][1])
    for _, psi in out.values():
        assert psi is not None and math.isfinite(psi)

    # replicating a segment's rows leaves its shape (and the corpus
    # shape) proportionally scaled -> PSI ordering stable
    with pytest.raises(ValueError, match="nbuckets"):
        psi_drift(df, "x", 0, 100, 0, "src")
    with pytest.raises(ValueError, match="lo < hi"):
        psi_drift(df, "x", 5, 5, 4, "src")


def test_cross_correlation_hand_values(spark):
    """B = A shifted by exactly 2 buckets gives CCF(+2) = 1 (B lags A);
    every other lag correlates the same impulse against flat zeros ->
    NULL only when a side is constant, small otherwise; n shrinks by
    |lag| at the grid edges; empty input yields an empty frame."""
    import pytest

    from dataframeintervals_jl_spark.operators.timeseries import (
        cross_correlation,
    )

    # A: impulse pattern over buckets 0..9 (ts = bucket * 10)
    pat = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3]
    a_rows = [(b * 10 + j) for b, cnt in enumerate(pat) for j in range(cnt)]
    b_rows = [((b + 2) * 10 + j) for b, cnt in enumerate(pat) for j in range(cnt)]
    a = spark.createDataFrame([(t,) for t in a_rows], "ts long")
    b = spark.createDataFrame([(t,) for t in b_rows], "ts long")
    out = {
        r["lag"]: (r["n"], r["ccf"])
        for r in cross_correlation(a, b, 10, 3, ts_col="ts").collect()
    }
    assert set(out) == set(range(-3, 4))
    # grid = buckets 0..11 (12 buckets); lag k pairs n = 12 - |k|
    assert out[2][0] == 10 and out[2][1] == 1.0
    assert out[0][0] == 12 and out[0][1] != 1.0
    assert out[-3][0] == 9

    empty = spark.createDataFrame([], "ts long")
    assert cross_correlation(empty, empty, 10, 2).count() == 0

    with pytest.raises(ValueError, match="max_lag"):
        cross_correlation(a, b, 10, -1)
    with pytest.raises(ValueError, match="bucket_ns"):
        cross_correlation(a, b, 0, 2)


def test_psi_timeline_hand_values(spark):
    """Identical consecutive periods score ~0 (exactly 0 when counts
    match bucket-for-bucket); a shifted distribution scores high; a
    period with no predecessor (timeline gap) emits nothing."""
    from dataframeintervals_jl_spark.operators.profile import psi_timeline

    rows = []
    # periods 0 and 1: identical distributions
    for p in (0, 1):
        rows += [(p * 100 + j, v) for j, v in enumerate([5, 15, 15, 25])]
    # period 2: all mass moved high
    rows += [(200 + j, 95) for j in range(4)]
    # period 4 (gap at 3): anything
    rows += [(400, 50)]
    df = spark.createDataFrame(rows, "ts long, v long")
    out = {
        r["period"]: (r["n"], r["n_prev"], r["psi"])
        for r in psi_timeline(df, "v", 0, 100, 10, 100, ts_col="ts").collect()
    }
    assert set(out) == {1, 2}  # period 0 has no prev; 4's prev (3) is a gap
    assert out[1] == (4, 4, 0.0)
    # add-one smoothing over 12 buckets damps a 4-row period's PSI;
    # 0.63 still clears the conventional "major drift" 0.25 bar
    assert out[2][2] > 0.25


def test_entropy_windows_hand_values(spark):
    """A uniform 2-label window has H = ln 2; a single-label window
    has H = 0; unknown labels fold into `other`; norm_entropy hits 1
    only when all k slots (labels + other) are uniform."""
    import math

    import pytest
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.functions.spans import make_span
    from dataframeintervals_jl_spark.operators.timeseries import (
        entropy_windows,
    )

    rows = [("a", 10), ("b", 20), ("a", 30), ("b", 40),   # w1 uniform a/b
            ("a", 110), ("a", 120),                        # w2 pure a
            ("a", 210), ("b", 220), ("zz", 230)]           # w3 a/b/other
    df = spark.createDataFrame(rows, "lab string, ts long")
    windows = spark.createDataFrame(
        [(0, 100, 1), (100, 200, 2), (200, 300, 3)],
        "lo long, hi long, widx int",
    ).select(make_span(F.col("lo"), F.col("hi")).alias("span"), "widx")

    out = {
        r["widx"]: (r["n"], r["n_a"], r["n_b"], r["other"],
                    r["entropy"], r["norm_entropy"])
        for r in entropy_windows(
            df, windows, "lab", ["a", "b"], ts_col="ts"
        ).collect()
    }
    assert out[1][:4] == (4, 2, 2, 0)
    assert out[1][4] == pytest.approx(round(math.log(2), 6), abs=1e-6)
    assert out[2] == (2, 2, 0, 0, 0.0, 0.0)
    assert out[3][:4] == (3, 1, 1, 1)
    assert out[3][4] == pytest.approx(round(math.log(3), 6), abs=1e-6)
    assert out[3][5] == pytest.approx(1.0, abs=1e-6)  # all 3 slots uniform

    with pytest.raises(ValueError, match="labels"):
        entropy_windows(df, windows, "lab", [], ts_col="ts")
    with pytest.raises(ValueError, match="duplicate"):
        entropy_windows(df, windows, "lab", ["a", "a"], ts_col="ts")


def test_max_drawdown_hand_values(spark):
    """Pinned drawdown semantics: running peak over (ts, id) with an
    explicit ROWS frame, absolute max decline, relative decline only
    where the peak is strictly positive (NULL when never positive),
    NULL values dropped."""
    from dataframeintervals_jl_spark.operators.timeseries import (
        max_drawdown,
    )

    rows = [
        # key 1: 10 -> 4 (dd 6, rel .6) -> 12 -> 6 (dd 6, rel .5):
        # absolute ties at 6, relative max is the FIRST dip's .6
        (1, 1, 10.0, 0), (2, 1, 4.0, 1), (3, 1, 12.0, 2), (4, 1, 6.0, 3),
        # key 2: all negative peaks -> rel is NULL, abs still works
        (5, 2, -5.0, 0), (6, 2, -9.0, 1),
        # key 3: NULL value dropped; monotone rise -> zero drawdown
        (7, 3, 1.0, 0), (8, 3, None, 1), (9, 3, 2.0, 2),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, value double, ts long"
    )
    out = {
        r["user_id"]: (
            r["peak"], r["max_drawdown"], r["max_drawdown_rel"]
        )
        for r in max_drawdown(ev, "value", by="user_id").collect()
    }
    assert out[1] == (12.0, 6.0, 0.6)
    assert out[2] == (-5.0, 4.0, None)
    assert out[3] == (2.0, 0.0, 0.0)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="grouping key"):
        max_drawdown(ev, "value", by=None)


def test_rfm_segments_hand_values(spark):
    """Pinned RFM semantics on a 5-customer table (n=5: boundary
    ranks ceil(j*5/5)=j, so the boundaries are the 1st..4th order
    statistics and every distinct metric value lands in its own
    bucket): exact cents via floor(x*100+0.5), corpus-max recency
    anchor, ties share a bucket, lower recency scores HIGHER."""
    import datetime as dt

    from dataframeintervals_jl_spark.operators.profile import (
        rfm_segments,
    )

    D = dt.datetime
    rows = [
        # cust 1: latest day, 3 orders, biggest spend -> r5 f5 m5
        (1, D(2020, 1, 10), 100.005),   # rounds to 10001 cents
        (1, D(2020, 1, 9), 100.0),
        (1, D(2020, 1, 8), 100.0),
        # cust 2: 2 orders
        (2, D(2020, 1, 7), 50.0), (2, D(2020, 1, 6), 50.0),
        # cust 3..5: one order each, decreasing recency/spend
        (3, D(2020, 1, 5), 30.0),
        (4, D(2020, 1, 4), 20.0),
        (5, D(2020, 1, 3), 10.0),
    ]
    od = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate timestamp, o_totalprice double"
    )
    out = {
        r["o_custkey"]: r.asDict() for r in rfm_segments(od).collect()
    }
    assert out[1]["recency_days"] == 0
    assert out[1]["monetary_cents"] == 30001  # half-up, not truncation
    assert out[5]["recency_days"] == 7
    # n=5 -> boundaries are the four extreme order statistics; the
    # frequency tie (custs 3,4,5 all at 1 order) shares bucket 1
    assert [out[k]["rfm"] for k in (1, 2, 3, 4, 5)] == [
        555, 444, 313, 212, 111
    ]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_buckets"):
        rfm_segments(od, n_buckets=1)


def test_benford_digits_hand_values(spark):
    """Pinned Benford semantics: integer-part first digit, sub-unit /
    zero / NULL / negative-magnitude-below-1 rows drop, abs() applies,
    truncating obs ppm, expected ppm matches log10(1+1/d)."""
    import math

    from dataframeintervals_jl_spark.operators.profile import (
        benford_digits,
    )

    rows = [
        (123.4,), (19.0,), (1.0,), (-250.0,),  # digits 1,1,1,2
        (0.7,), (0.0,), (None,), (-0.5,),      # all drop
    ]
    df = spark.createDataFrame(rows, "v double")
    out = {r["digit"]: r.asDict() for r in benford_digits(df, "v").collect()}
    assert set(out) == {1, 2}
    assert out[1]["n"] == 3 and out[2]["n"] == 1
    assert out[1]["obs_ppm"] == 750000
    assert out[2]["obs_ppm"] == 250000
    exp1 = round(math.log10(2.0) * 1e6, 6)
    assert abs(out[1]["expected_ppm"] - exp1) < 0.01
    # chi2 term recomputes exactly from the pinned formula
    e = 4 * math.log10(2.0)
    assert abs(out[1]["chi2_term"] - round((3 - e) ** 2 / e, 6)) < 1e-6


def test_interarrival_histogram_hand_values(spark):
    """Pinned decade semantics: string-length decades (9 -> 0,
    10 -> 1, 999 -> 2), exact ties in decade -1, last event per key
    emits nothing, keys never cross."""
    from dataframeintervals_jl_spark.operators.timeseries import (
        interarrival_histogram,
    )

    rows = [
        (1, 1, 0), (2, 1, 9), (3, 1, 19), (4, 1, 1018),  # gaps 9,10,999
        (5, 2, 5), (6, 2, 5),                            # tie -> -1
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts long")
    out = {
        r["decade"]: (r["n"], r["min_gap"], r["max_gap"])
        for r in interarrival_histogram(ev).collect()
    }
    assert out == {
        -1: (1, 0, 0),
        0: (1, 9, 9),
        1: (1, 10, 10),
        2: (1, 999, 999),
    }


def test_cohort_ltv_hand_values(spark):
    """Pinned cohort-LTV semantics: 30-day periods from epoch days,
    cohort = first period, half-up cents, distinct keys per cell."""
    import datetime as dt

    from dataframeintervals_jl_spark.operators.profile import cohort_ltv

    D = dt.datetime
    rows = [
        # cust 1: period p0 (1970-01-05) and p2 (+62d): ages 0 and 2
        (1, D(1970, 1, 5), 10.005),
        (1, D(1970, 3, 8), 20.0),
        # cust 2: same cohort p0, age 0 twice (summed, 1 distinct key)
        (2, D(1970, 1, 10), 1.0),
        (2, D(1970, 1, 20), 2.0),
    ]
    od = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate timestamp, o_totalprice double"
    )
    out = {
        (r["cohort"], r["age"]): (r["ltv_cents"], r["n_keys"])
        for r in cohort_ltv(od).collect()
    }
    assert out == {
        (0, 0): (1001 + 100 + 200, 2),  # 10.005 -> 1001 half-up
        (0, 2): (2000, 1),
    }

    import pytest as _pytest

    with _pytest.raises(ValueError, match="period_days"):
        cohort_ltv(od, period_days=0)


def test_survival_curve_hand_values(spark):
    """Pinned survival semantics: day-floored lifetimes, risk set
    counts keys with duration >= d, survivor ppm is the strictly-
    greater fraction, hazard is n_end over the risk set."""
    from dataframeintervals_jl_spark.operators.timeseries import (
        survival_curve,
    )

    D = 86_400_000_000_000
    rows = [
        # user 1: lifetime 0 (single event)
        (1, 0),
        # user 2: lifetime 1 day (floor of 1.5 days)
        (2, 0), (2, D + D // 2),
        # users 3,4: lifetime 3 days
        (3, 0), (3, 3 * D),
        (4, D), (4, 4 * D),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts long")
    out = {
        r["duration"]: (
            r["n_end"], r["n_at_risk"], r["survival_ppm"], r["hazard_ppm"]
        )
        for r in survival_curve(ev).collect()
    }
    assert out == {
        0: (1, 4, 750000, 250000),
        1: (1, 3, 500000, 333333),
        3: (2, 2, 0, 1000000),
    }


def test_item_cooccurrence_hand_values(spark):
    """Pinned basket semantics: per-basket DISTINCT (duplicates never
    inflate), ordered pairs once, cosine over basket counts,
    min_pairs filter."""
    from dataframeintervals_jl_spark.operators.profile import (
        item_cooccurrence,
    )

    rows = [
        (1, "x"), (1, "y"), (1, "y"),   # dup y collapses
        (2, "x"), (2, "y"),
        (3, "x"), (3, "z"),
    ]
    df = spark.createDataFrame(rows, "b long, i string")
    out = {
        (r["item_a"], r["item_b"]): (
            r["n_ab"], r["n_a"], r["n_b"], r["cosine"]
        )
        for r in item_cooccurrence(df, "b", "i", min_pairs=1).collect()
    }
    assert out[("x", "y")] == (2, 3, 2, round(2 / (6 ** 0.5), 6))
    assert out[("x", "z")] == (1, 3, 1, round(1 / (3 ** 0.5), 6))
    assert ("y", "z") not in out
    assert (
        item_cooccurrence(df, "b", "i", min_pairs=2).count() == 1
    )
