"""pack_sequences / stratified_sample / topk_per_group — semantics,
determinism, and the no-single-partition scale contract for the global
packing path."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dataframeintervals_jl_spark.operators.packing import (
    pack_sequences,
    pack_sequences_greedy,
    pack_stats,
)
from dataframeintervals_jl_spark.operators.sampling import (
    stratified_sample,
    topk_per_group,
)


@pytest.fixture()
def docs(spark):
    rows = [(i, ["en", "fr", "de"][i % 3], 10 + (i * 7) % 50) for i in range(60)]
    return spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")


def _expected_layout(rows, budget):
    """Reference packing: exclusive cumsum over doc_id order."""
    out, s = {}, 0
    for doc_id, _, n in sorted(rows, key=lambda r: r[0]):
        out[doc_id] = (s // budget, s % budget)
        s += n
    return out


def test_pack_sequences_global_matches_reference(spark, docs):
    rows = [(r.doc_id, r.lang, r.n_tokens) for r in docs.collect()]
    exp = _expected_layout(rows, 100)
    # a NULL order key is not placed and must not shift the layout of
    # the other documents; keyless must equal keyed on one constant key
    null_doc = spark.createDataFrame([(None, "en", 7)], docs.schema)
    df = docs.unionByName(null_doc)

    def layout(out):
        return {
            r["doc_id"]: (r["chunk_id"], r["chunk_offset"]) for r in out.collect()
        }

    got = layout(pack_sequences(df, budget=100))
    assert got == {**exp, None: (None, None)}
    keyed = pack_sequences(df.withColumn("k", F.lit(0)), budget=100, by="k")
    assert layout(keyed) == got


def test_pack_sequences_keyed_matches_per_key_reference(spark, docs):
    rows = [(r.doc_id, r.lang, r.n_tokens) for r in docs.collect()]
    exp = {}
    for lang in ("en", "fr", "de"):
        exp.update(
            _expected_layout([r for r in rows if r[1] == lang], 100)
        )
    got = {
        r["doc_id"]: (r["chunk_id"], r["chunk_offset"])
        for r in pack_sequences(docs, budget=100, by="lang").collect()
    }
    assert got == exp


def test_pack_sequences_oversized_doc_spans_chunks(spark):
    df = spark.createDataFrame(
        [(1, 50), (2, 300), (3, 10)], "doc_id long, n_tokens long"
    )
    got = {
        r["doc_id"]: (r["chunk_id"], r["chunk_offset"])
        for r in pack_sequences(df, budget=100).collect()
    }
    # doc 2 starts in chunk 0 at offset 50 and spills; doc 3 starts at
    # token 350 -> chunk 3
    assert got == {1: (0, 0), 2: (0, 50), 3: (3, 50)}


def test_pack_sequences_global_no_single_partition(spark, docs):
    from dataframeintervals_jl_spark.plans import physical_plan

    plan = physical_plan(pack_sequences(docs, budget=100))
    assert "SinglePartition" not in plan


def test_pack_sequences_rejects_bad_budget(spark, docs):
    with pytest.raises(ValueError, match="budget"):
        pack_sequences(docs, budget=0)


def test_pack_stats_fill(spark):
    df = spark.createDataFrame(
        [(1, 60), (2, 60), (3, 30)], "doc_id long, n_tokens long"
    )
    packed = pack_sequences(df, budget=100)
    stats = {
        r["chunk_id"]: (r["n_docs"], r["n_tokens"])
        for r in pack_stats(packed, budget=100).collect()
    }
    # doc1 at 0, doc2 at 60 (chunk 0), doc3 at 120 (chunk 1)
    assert stats == {0: (2, 120), 1: (1, 30)}


def test_stratified_sample_deterministic_and_subset(spark, docs):
    kept1 = stratified_sample(
        docs, "lang", {"en": 0.4}, "doc_id", default_rate=1.0
    )
    kept2 = stratified_sample(
        docs, "lang", {"en": 0.4}, "doc_id", default_rate=1.0
    )
    ids1 = {r["doc_id"] for r in kept1.collect()}
    ids2 = {r["doc_id"] for r in kept2.collect()}
    assert ids1 == ids2  # content-hash membership, not partition-seeded
    # non-en strata pass through whole
    non_en = {r["doc_id"] for r in docs.filter("lang != 'en'").collect()}
    assert non_en <= ids1
    # a lower rate keeps a subset of a higher rate (same salt+key)
    fewer = {
        r["doc_id"]
        for r in stratified_sample(
            docs, "lang", {"en": 0.1}, "doc_id", default_rate=1.0
        ).collect()
    }
    assert fewer <= ids1


def test_stratified_sample_rejects_bad_rate(spark, docs):
    with pytest.raises(ValueError, match="rate"):
        stratified_sample(docs, "lang", {"en": 1.5}, "doc_id")


def _mix_df(spark, sizes):
    """One group per key, `sizes[g]` rows, unique bigint keys."""
    rows, nxt = [], 0
    for g, n in sorted(sizes.items()):
        for _ in range(n):
            rows.append((nxt, g))
            nxt += 1
    return spark.createDataFrame(rows, "id long, grp string")


def test_mixture_sample_semantics(spark):
    """Pinned mixture_sample behavior: natural distribution is a no-op
    at T=1/no-weights; uniform (T=inf) downsamples only the dominant
    group; explicit weights hit their target within ppm tolerance;
    exact=True realizes the target ratio; absent-from-weights groups
    drop; determinism and subset structure hold; bad args raise."""
    from dataframeintervals_jl_spark.operators.sampling import (
        mixture_sample,
    )

    sizes = {"big": 4000, "mid": 1000, "small": 200}
    df = _mix_df(spark, sizes)

    # no weights, T=1: every threshold saturates -> no row dropped
    assert mixture_sample(df, "grp", "id").count() == sum(sizes.values())

    # uniform via T=inf: per-group share ~ min group count (cap mode
    # keeps everything at/below the uniform share)
    uni = {
        r["grp"]: r["n"]
        for r in mixture_sample(df, "grp", "id", temperature=float("inf"))
        .groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    target = sum(sizes.values()) / 3  # ~1733
    assert uni["small"] == 200   # below share -> untouched
    assert uni["mid"] == 1000    # also below the uniform share
    assert abs(uni["big"] - target) / target < 0.15

    # explicit weights, cap mode: big downsampled toward 1/6 share,
    # small (weight-absent) dropped entirely
    wtd = {
        r["grp"]: r["n"]
        for r in mixture_sample(
            df, "grp", "id", weights={"big": 1, "mid": 5}
        ).groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert "small" not in wtd
    assert wtd["mid"] == 1000  # 5/6 share of N=5200 > 1000 -> cap
    exp_big = 5200 / 6
    assert abs(wtd["big"] - exp_big) / exp_big < 0.15

    # exact mode: realized big:mid ratio matches weights 1:5 scaled to
    # the binding group (mid at share 5/6 binds: K = 1200, big -> 200)
    ex = {
        r["grp"]: r["n"]
        for r in mixture_sample(
            df, "grp", "id", weights={"big": 1, "mid": 5}, exact=True
        ).groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert ex["mid"] == 1000
    assert abs(ex["big"] - 200) / 200 < 0.25

    # temperature between 1 and inf lands between natural and uniform
    t2 = {
        r["grp"]: r["n"]
        for r in mixture_sample(df, "grp", "id", temperature=2.0)
        .groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert uni["big"] <= t2["big"] <= sizes["big"]

    # deterministic + subset-of-input (content-keyed, not seeded)
    a = {r["id"] for r in mixture_sample(
        df, "grp", "id", weights={"big": 1, "mid": 5}).collect()}
    b = {r["id"] for r in mixture_sample(
        df, "grp", "id", weights={"big": 1, "mid": 5}).collect()}
    assert a == b

    with pytest.raises(ValueError, match="temperature"):
        mixture_sample(df, "grp", "id", temperature=0)
    with pytest.raises(ValueError, match="weight"):
        mixture_sample(df, "grp", "id", weights={"big": -1})
    # empty input returns empty, no division by zero
    assert mixture_sample(
        df.filter(F.lit(False)), "grp", "id"
    ).count() == 0


def test_topk_per_group(spark, docs):
    out = topk_per_group(
        docs, "lang", [F.col("n_tokens").desc(), F.col("doc_id")], k=2
    ).collect()
    assert len(out) == 6  # 3 langs x 2
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    all_rows = docs.collect()
    for lang, rows in by_lang.items():
        ranked = sorted(rows, key=lambda r: r["rank"])
        expect = sorted(
            [r for r in all_rows if r["lang"] == lang],
            key=lambda r: (-r["n_tokens"], r["doc_id"]),
        )[:2]
        assert [r["doc_id"] for r in ranked] == [r["doc_id"] for r in expect]


def test_topk_per_group_rejects_bad_k(spark, docs):
    with pytest.raises(ValueError, match="k must be"):
        topk_per_group(docs, "lang", [F.col("n_tokens")], k=0)


def test_pack_greedy_no_split_invariant(spark):
    rows = [(i, "k", [60, 50, 30, 200, 90, 10][i]) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")
    got = {
        r["doc_id"]: r["chunk_id"]
        for r in pack_sequences_greedy(df, budget=100, by="lang").collect()
    }
    # 60 | 50+30 | 200 (oversized, alone) | 90+10
    assert got == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3, 5: 3}
    # invariant: chunk token sums within budget unless a single oversized doc
    sums: dict[int, list[int]] = {}
    for i, (_, _, t) in enumerate(rows):
        sums.setdefault(got[i], []).append(t)
    for members in sums.values():
        assert sum(members) <= 100 or len(members) == 1


def test_pack_greedy_requires_by(spark):
    df = spark.createDataFrame([(1, 5)], "doc_id long, n_tokens long")
    with pytest.raises(ValueError, match="requires `by`"):
        pack_sequences_greedy(df, budget=100)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    toks=st.lists(
        st.integers(min_value=0, max_value=500), min_size=1, max_size=40
    ),
    budget=st.integers(min_value=1, max_value=300),
)
def test_pack_sequences_properties(spark, toks, budget):
    """Invariants for random corpora: offsets in [0, budget); chunk ids
    match the reference exclusive cumsum; global == keyed-with-one-key;
    every input row survives exactly once."""
    rows = [(i, "k", t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")
    exp = _expected_layout(rows, budget)

    got_global = {
        r["doc_id"]: (r["chunk_id"], r["chunk_offset"])
        for r in pack_sequences(df, budget=budget).collect()
    }
    got_keyed = {
        r["doc_id"]: (r["chunk_id"], r["chunk_offset"])
        for r in pack_sequences(df, budget=budget, by="lang").collect()
    }
    assert got_global == exp
    assert got_keyed == exp
    assert len(got_global) == len(rows)
    assert all(0 <= off < budget for _, off in got_global.values())


def test_chunk_documents_overlap_and_tail(spark):
    from dataframeintervals_jl_spark.operators.packing import chunk_documents

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x"), (3, "")], "doc_id long, text string"
    )
    out = chunk_documents(docs, chunk_tokens=3, stride=2)
    got = {
        (r["doc_id"], r["chunk_id"]): (
            r["chunk_start"], r["n_tokens"], r["chunk_text"]
        )
        for r in out.collect()
    }
    assert got == {
        (1, 0): (0, 3, "a b c"),
        (1, 1): (2, 3, "c d e"),
        (1, 2): (4, 1, "e"),  # short tail kept
        (2, 0): (0, 1, "x"),
    }  # empty doc 3 emits nothing


def test_chunk_documents_nonoverlapping_default_and_errors(spark):
    import pytest

    from dataframeintervals_jl_spark.operators.packing import chunk_documents

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    out = chunk_documents(docs, chunk_tokens=2)
    assert [
        (r["chunk_start"], r["chunk_text"])
        for r in out.orderBy("chunk_id").collect()
    ] == [(0, "a b"), (2, "c d")]
    with pytest.raises(ValueError, match="stride"):
        chunk_documents(docs, chunk_tokens=2, stride=3)
    with pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(docs, chunk_tokens=0)


def test_weighted_sample_rates_and_determinism(spark):
    from dataframeintervals_jl_spark.operators.sampling import weighted_sample
    from pyspark.sql import functions as F

    df = spark.range(20_000).select(
        F.col("id"), (F.col("id") % 2 == 0).alias("even")
    )
    # rate 1.0 for even ids, 0.1 for odd
    rate = F.when(F.col("even"), F.lit(1.0)).otherwise(F.lit(0.1))
    out = weighted_sample(df, "id", rate)
    rows = out.collect()
    evens = sum(1 for r in rows if r["even"])
    odds = len(rows) - evens
    assert evens == 10_000  # rate 1.0 keeps everything
    assert 700 <= odds <= 1300  # ~10% of 10k
    # determinism: identical keep-set on re-evaluation
    again = {r["id"] for r in weighted_sample(df, "id", rate).collect()}
    assert again == {r["id"] for r in rows}


def test_kmv_distinct_accuracy_and_exact_smallgroups(spark):
    import pytest
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.sampling import kmv_distinct

    # one group with 5000 distinct values, one with 10 (< k -> exact)
    df = spark.range(5000).select(
        F.lit("big").alias("g"), F.col("id").alias("v")
    ).unionByName(
        spark.range(10).select(F.lit("small").alias("g"), F.col("id").alias("v"))
    )
    out = {r["g"]: (r["n_distinct_est"], r["n_hashes"]) for r in
           kmv_distinct(df, "v", k=64, by="g").collect()}
    est, nh = out["big"]
    assert nh == 64
    assert abs(est - 5000) / 5000 < 0.35  # k=64 -> ~12.5% std error
    assert out["small"] == (10, 10)
    # duplicates do not inflate the estimate
    dup = df.unionByName(df)
    out2 = {r["g"]: r["n_distinct_est"] for r in
            kmv_distinct(dup, "v", k=64, by="g").collect()}
    assert out2["big"] == est and out2["small"] == 10
    with pytest.raises(ValueError, match="k must be"):
        kmv_distinct(df, "v", k=1)


def test_hll_distinct_accuracy_partition_invariance(spark):
    import pytest
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.sampling import hll_distinct

    df = spark.range(8000).select(
        F.lit("big").alias("g"), F.concat(F.lit("u"), F.col("id")).alias("v")
    ).unionByName(
        spark.range(40).select(
            F.lit("small").alias("g"), F.concat(F.lit("u"), F.col("id")).alias("v")
        )
    )
    out = {r["g"]: (r["hll_est"], r["v_zero"]) for r in
           hll_distinct(df, "v", p=8, by="g").collect()}
    est_big, _ = out["big"]
    assert abs(est_big - 8000) / 8000 < 0.20  # ~6.5% std error at m=256
    est_small, v_small = out["small"]
    # linear-counting regime: most registers untouched, estimate close
    assert v_small > 200 and abs(est_small - 40) <= 8
    # duplicates absorbed by register max; partitioning irrelevant
    noisy = df.unionByName(df).repartition(17)
    out2 = {r["g"]: r["hll_est"] for r in
            hll_distinct(noisy, "v", p=8, by="g").collect()}
    assert out2 == {g: e for g, (e, _) in out.items()}
    with pytest.raises(ValueError, match="p must be"):
        hll_distinct(df, "v", p=2)


def test_hll_registers_merge_equals_whole(spark):
    """Sketch mergeability: per-slice register tables union+re-max to
    the whole input's registers — the persistable incremental shape."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.sampling import (
        hll_distinct,
        hll_from_registers,
        hll_merge_registers,
        hll_registers,
    )

    df = spark.range(6000).select(
        (F.col("id") % 3).alias("g"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    whole = {r["g"]: (r["hll_est"], r["v_zero"]) for r in
             hll_distinct(df, "v", p=6, by="g").collect()}
    slices = [df.filter(F.pmod(F.xxhash64("v"), F.lit(3)) == i) for i in range(3)]
    regs = [hll_registers(s, "v", p=6, by="g") for s in slices]
    merged = hll_merge_registers(*regs, by="g")
    got = {r["g"]: (r["hll_est"], r["v_zero"]) for r in
           hll_from_registers(merged, p=6, by="g").collect()}
    assert got == whole


def test_hll_registers_streaming_update_mode(spark, tmp_path):
    """hll_registers is a plain update-mode streaming aggregation; the
    final register states finalize to the batch answer."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.sampling import (
        hll_distinct,
        hll_from_registers,
    )
    from dataframeintervals_jl_spark.operators.sampling import hll_registers

    df = spark.range(4000).select(
        F.concat(F.lit("u"), F.col("id")).alias("v")
    )
    d = str(tmp_path / "hll_in")
    df.filter("id % 2 = 0").coalesce(1).write.parquet(d + "/f1")
    df.filter("id % 2 = 1").coalesce(1).write.parquet(d + "/f2")
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    regs = hll_registers(stream, "v", p=6)
    assert regs.isStreaming
    q = (
        regs.writeStream.format("memory")
        .queryName("hllregs")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "hll_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode re-emits a register row per refinement; re-max gives
    # the final state
    final = (
        spark.sql("SELECT * FROM hllregs")
        .groupBy("__idx")
        .agg(F.max("__rho").alias("__rho"))
    )
    got = hll_from_registers(final, p=6).collect()[0]
    want = hll_distinct(df, "v", p=6).collect()[0]
    assert (got["hll_est"], got["v_zero"]) == (want["hll_est"], want["v_zero"])


def test_sample_per_group_bounded_and_deterministic(spark):
    from dataframeintervals_jl_spark import sample_per_group

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(300)], "k long, g string"
    )
    a = sample_per_group(df, "g", "k", k=7)
    sizes = {
        r["g"]: r["n"]
        for r in a.groupBy("g").agg(F.count("*").alias("n")).collect()
    }
    assert sizes == {"g0": 7, "g1": 7, "g2": 7}
    # deterministic: identical selection on a different partitioning
    b = sample_per_group(df.repartition(13), "g", "k", k=7)
    assert sorted(r["k"] for r in a.collect()) == sorted(
        r["k"] for r in b.collect()
    )
    # a group smaller than k returns whole group
    tiny = spark.createDataFrame([(1, "x"), (2, "x")], "k long, g string")
    assert sample_per_group(tiny, "g", "k", k=7).count() == 2


def test_heavy_hitters_exact_threshold(spark):
    from dataframeintervals_jl_spark import heavy_hitters

    rows = [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 19 + [("d",)] * 1
    df = spark.createDataFrame(rows, "v string")
    out = {
        r["value"]: (r["count"], r["share_ppm"])
        for r in heavy_hitters(df, "v", min_share_ppm=200_000).collect()
    }
    # threshold 20%: a (50%) and b (30%) qualify; c (19%) and d don't
    assert out == {"a": (50, 500_000), "b": (30, 300_000)}
    with pytest.raises(ValueError):
        heavy_hitters(df, "v", min_share_ppm=0)


def test_kmv_overlap_estimate_accuracy(spark):
    """Known overlap: |A|=4000, |B|=3000, |A∩B|=2000, |A∪B|=5000,
    J=0.4 — estimates land within ~15% with k=256; disjoint sets give
    zero intersection; small sets are exact."""
    from dataframeintervals_jl_spark import kmv_overlap_estimate

    a = spark.range(0, 4000).selectExpr("id AS k")
    b = spark.range(2000, 5000).selectExpr("id AS k")
    (r,) = kmv_overlap_estimate(a, b, "k", k=256).collect()
    assert abs(r["union_est"] - 5000) / 5000 < 0.15
    assert abs(r["jaccard_ppm"] - 400_000) / 400_000 < 0.2
    assert abs(r["intersect_est"] - 2000) / 2000 < 0.25

    dj = spark.range(90000, 93000).selectExpr("id AS k")
    (r2,) = kmv_overlap_estimate(a, dj, "k", k=256).collect()
    assert r2["jaccard_ppm"] == 0 and r2["intersect_est"] == 0

    sa = spark.range(0, 50).selectExpr("id AS k")
    sb = spark.range(25, 75).selectExpr("id AS k")
    (r3,) = kmv_overlap_estimate(sa, sb, "k", k=256).collect()
    # below k: everything exact
    assert r3["n_bottom"] == 75 and r3["union_est"] == 75
    assert r3["jaccard_ppm"] == (25 * 1_000_000) // 75


def test_greedy_coverage_select_bruteforce(spark):
    """Greedy selection matches a pure-Python greedy over the same
    shingle sets; gains are non-increasing; k too large raises."""
    from dataframeintervals_jl_spark.operators.sampling import (
        greedy_coverage_select,
    )

    texts = [
        "alpha beta gamma delta epsilon zeta",
        "alpha beta gamma delta epsilon eta",   # mostly redundant with 0
        "one two three four five six seven",     # disjoint
        "one two three eight nine ten",          # partly redundant with 2
        "alpha beta",                             # tiny
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r["sel_rank"], r["doc_id"], r["gain"])
        for r in greedy_coverage_select(docs, k=4)
        .orderBy("sel_rank")
        .collect()
    ]

    def sh(t):
        w = t.split()
        if len(w) < 3:
            return {" ".join(w)}
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sets = {i: sh(t) for i, t in enumerate(texts)}
    covered, want = set(), []
    for r in range(1, 5):
        gains = {i: len(s - covered) for i, s in sets.items()}
        doc = min(gains, key=lambda i: (-gains[i], i))
        want.append((r, doc, gains[doc]))
        covered |= sets[doc]
    assert got == want
    assert all(a[2] >= b[2] for a, b in zip(want, want[1:]))

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        greedy_coverage_select(docs, k=6)  # only 5 docs of coverage


def test_cms_overestimates_and_exact_when_wide(spark):
    """Count-Min never underestimates; with width >> distinct items the
    estimate is exact.  Partitioning never changes the registers."""
    import pytest
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.sampling import (
        cms_estimate,
        cms_params,
        cms_registers,
    )

    # zipf-ish: item i appears (50 - i) times, i in 0..49
    df = spark.range(50).select(
        F.explode(F.expr("array_repeat(id, int(50 - id))")).alias("x")
    ).select(F.concat(F.lit("w"), F.col("x")).alias("w"))
    exact = {r["w"]: r["n"] for r in
             df.groupBy("w").agg(F.count("*").alias("n")).collect()}
    items = df.select("w").distinct()
    for width in (8, 2048):
        regs = cms_registers(df, "w", width=width, depth=4)
        got = {r["w"]: r["cms_est"] for r in
               cms_estimate(regs, items, "w", width=width, depth=4).collect()}
        assert all(got[w] >= n for w, n in exact.items())
        if width == 2048:
            assert got == exact
    # registers are partition-invariant (pure groupBy-sum)
    a = sorted(map(tuple, cms_registers(df, "w", 64, 3).collect()))
    b = sorted(map(tuple, cms_registers(df.repartition(13), "w", 64, 3).collect()))
    assert a == b
    # unseen probes may collide but never go negative
    ghost = spark.createDataFrame([("zzz-unseen",)], "w string")
    est = cms_estimate(cms_registers(df, "w", 2048, 4), ghost, "w", 2048, 4)
    assert est.collect()[0]["cms_est"] >= 0
    with pytest.raises(ValueError, match="width"):
        cms_params(1, 0)


def test_cms_registers_merge_equals_whole(spark):
    """Per-slice register tables union+re-sum to the whole input's
    registers, grouped and weighted."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.sampling import (
        cms_merge_registers,
        cms_registers,
    )

    df = spark.range(3000).select(
        (F.col("id") % 2).alias("g"),
        F.concat(F.lit("t"), F.col("id") % 40).alias("w"),
        (F.col("id") % 5 + 1).alias("wt"),
    )
    whole = sorted(map(tuple, cms_registers(
        df, "w", 32, 3, weight_col="wt", by="g").collect()))
    slices = [df.filter(F.col("id") % 3 == i) for i in range(3)]
    merged = cms_merge_registers(
        *[cms_registers(s, "w", 32, 3, weight_col="wt", by="g") for s in slices],
        by="g",
    )
    assert sorted(map(tuple, merged.collect())) == whole


def test_cms_registers_streaming_update_mode(spark, tmp_path):
    """cms_registers is a plain update-mode streaming aggregation; the
    final register states re-sum...  no: update mode re-emits the row's
    RUNNING total per refinement, so re-MAX per (row, bucket) recovers
    the final state, which must equal the batch registers."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.sampling import cms_registers

    df = spark.range(2000).select(
        F.concat(F.lit("s"), F.col("id") % 30).alias("w")
    )
    d = str(tmp_path / "cms_in")
    df.filter("id % 2 = 0").coalesce(1).write.parquet(d + "/f1")
    df.filter("id % 2 = 1").coalesce(1).write.parquet(d + "/f2")
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    regs = cms_registers(stream, "w", width=64, depth=3)
    assert regs.isStreaming
    q = (
        regs.writeStream.format("memory")
        .queryName("cmsregs")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cms_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = (
        spark.sql("SELECT * FROM cmsregs")
        .groupBy("__row", "__bkt")
        .agg(F.max("__cnt").alias("__cnt"))
    )
    want = sorted(map(tuple, cms_registers(df, "w", 64, 3).collect()))
    assert sorted(map(tuple, final.collect())) == want


def test_qsk_exact_when_k_covers_input(spark):
    """With k >= n the sample IS the input, so qsk_quantiles must equal
    the exact type-1 quantiles; registers are partition-invariant."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.sampling import (
        qsk_quantiles,
        qsk_registers,
    )

    df = spark.range(200).select(
        (F.col("id") % 2).alias("g"),
        F.col("id").alias("rid"),
        (F.col("id") * 7 % 101).alias("v"),
    )
    regs = qsk_registers(df, "v", "rid", k=256, by="g")
    got = {
        (r["g"], r["prob_ppm"]): (r["q_val"], r["n_sample"])
        for r in qsk_quantiles(
            regs, [0, 250_000, 500_000, 1_000_000], by="g"
        ).collect()
    }
    rows = df.collect()
    for g in (0, 1):
        vs = sorted(r["v"] for r in rows if r["g"] == g)
        n = len(vs)
        for ppm in (0, 250_000, 500_000, 1_000_000):
            assert got[(g, ppm)] == (vs[ppm * (n - 1) // 1_000_000], n)
    a = sorted(map(tuple, regs.collect()))
    b = sorted(
        map(tuple, qsk_registers(df.repartition(13), "v", "rid", k=256, by="g").collect())
    )
    assert a == b


def test_qsk_registers_merge_equals_whole(spark):
    """Per-slice register tables union + re-bottom-k to exactly the
    whole input's registers (grouped), and the k<n sketch median lands
    within binomial sampling error of the true median."""
    import pytest
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.sampling import (
        qsk_merge_registers,
        qsk_quantiles,
        qsk_registers,
    )

    df = spark.range(6000).select(
        (F.col("id") % 3).alias("g"),
        F.col("id").alias("rid"),
        F.col("id").alias("v"),
    )
    whole = sorted(map(tuple, qsk_registers(df, "v", "rid", k=64, by="g").collect()))
    slices = [df.filter(F.col("id") % 4 == i) for i in range(4)]
    merged = qsk_merge_registers(
        *[qsk_registers(s, "v", "rid", k=64, by="g") for s in slices],
        k=64,
        by="g",
    )
    assert sorted(map(tuple, merged.collect())) == whole
    # error-bound sanity: true per-group median is ~3000; with k=64 the
    # rank error is ~sqrt(.25/64)=6.25%, allow 4 sigma (25% of range)
    med = {
        r["g"]: r["q_val"]
        for r in qsk_quantiles(
            qsk_registers(df, "v", "rid", k=64, by="g"), [500_000], by="g"
        ).collect()
    }
    for g in (0, 1, 2):
        assert abs(med[g] - 3000) < 1500
    with pytest.raises(ValueError, match="k must be"):
        qsk_registers(df, "v", "rid", k=4)
    with pytest.raises(ValueError, match="probs_ppm"):
        qsk_quantiles(qsk_registers(df, "v", "rid", k=64), [2_000_000])


def test_profile_table_exact_stats(spark):
    """profile_table: exact null/row counts and integral min/max/sum;
    KMV distinct exact below k; non-integral columns carry null
    numeric stats; all-null columns report 0 distinct."""
    import pytest
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", 10.5, None), (2, "b", None, None), (3, None, 2.0, None), (None, "a", 3.0, None)],
        "id bigint, s string, d double, z string",
    )
    got = {r["col_name"]: r for r in profile_table(df, k=64).collect()}
    assert set(got) == {"id", "s", "d", "z"}
    for r in got.values():
        assert r["n_rows"] == 4
    assert got["id"]["n_nulls"] == 1 and got["s"]["n_nulls"] == 1
    assert got["z"]["n_nulls"] == 4 and got["z"]["n_distinct_est"] == 0
    assert got["id"]["n_distinct_est"] == 3  # exact below k
    assert got["s"]["n_distinct_est"] == 2
    assert (got["id"]["min_v"], got["id"]["max_v"], got["id"]["sum_v"]) == (1, 3, 6)
    # non-integral: numeric stats null, distinct still estimated
    assert got["d"]["min_v"] is None and got["d"]["sum_v"] is None
    assert got["d"]["n_distinct_est"] == 3
    # string length stats: s has 'a','b','a' non-null -> min/max/sum 1/1/3
    assert (got["s"]["len_min"], got["s"]["len_max"], got["s"]["len_sum"]) == (1, 1, 3)
    assert got["id"]["len_min"] is None and got["d"]["len_sum"] is None
    assert got["z"]["len_min"] is None  # all-null string column
    with pytest.raises(ValueError, match="columns"):
        profile_table(df, columns=["nope"])


def test_profile_table_nan_inf_distinct(spark):
    """NaN/±Inf doubles must each count as ONE distinct value in the
    KMV sketch (sentinel strings), not silently vanish as nulls from
    the quantizing long cast while still counting as non-null."""
    from dataframeintervals_jl_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [
            (float("nan"),), (float("nan"),),
            (float("inf"),), (float("-inf"),),
            (1.5,), (None,),
        ],
        "d double",
    )
    r = profile_table(df, k=64).collect()[0]
    assert r["n_rows"] == 6 and r["n_nulls"] == 1
    # distinct stream: nan, inf, -inf, 1.5 -> 4 (exact below k)
    assert r["n_distinct_est"] == 4


def test_mixture_sample_property(spark):
    """Hypothesis property: for random group sizes and random integer
    weights at T=1, cap mode keeps EXACTLY the rows whose ppm bucket
    clears min(1e6, floor(w_g·N·1e6 / (W·n_g))) — replayed in pure
    Python from the same portable hash — so proportions follow and
    the sample is deterministic and content-keyed by construction."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dataframeintervals_jl_spark.operators.sampling import (
        BUCKETS,
        mixture_sample,
    )

    sizes_weights = st.lists(
        st.tuples(st.integers(1, 40), st.integers(0, 5)),
        min_size=1,
        max_size=4,
    )

    def py_bucket(key: int) -> int:
        import hashlib

        h = hashlib.md5(f"mix|{key}".encode()).hexdigest()
        return int(h[:15], 16) % BUCKETS

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(sizes_weights)
    def run(sw):
        sizes = {f"g{i}": n for i, (n, _) in enumerate(sw)}
        weights = {f"g{i}": w for i, (_, w) in enumerate(sw)}
        df = _mix_df(spark, sizes)
        got = {
            r["id"]
            for r in mixture_sample(
                df, "grp", "id", weights=weights
            ).collect()
        }
        # pure-Python replay of the threshold filter
        total = sum(sizes.values())
        wsum = sum(weights.values())
        rows, nxt = {}, 0
        for g, n in sorted(sizes.items()):
            for _ in range(n):
                rows[nxt] = g
                nxt += 1
        want = set()
        if wsum:
            thr = {
                g: min(
                    BUCKETS,
                    (weights[g] * total * BUCKETS) // (wsum * sizes[g]),
                )
                for g in sizes
            }
            want = {k for k, g in rows.items() if py_bucket(k) < thr[g]}
        assert got == want

    run()


def test_kmv_overlap_matrix_exact_below_k_and_pair_parity(spark):
    """Below-k the matrix is exact (known synthetic overlaps); each
    matrix row must equal kmv_overlap_estimate run on that pair alone
    (same estimator, same k); group-count gate raises."""
    import pytest
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.sampling import (
        kmv_overlap_estimate,
        kmv_overlap_matrix,
    )

    rows = (
        [("x", i) for i in range(100)]
        + [("y", i) for i in range(50, 150)]
        + [("z", i) for i in range(200, 250)]
    )
    df = spark.createDataFrame(rows, "g string, v bigint")
    got = {
        (r["group_a"], r["group_b"]): r
        for r in kmv_overlap_matrix(df, "v", by="g", k=512).collect()
    }
    xy = got[("x", "y")]
    assert (xy["n_bottom"], xy["union_est"]) == (150, 150)
    assert xy["jaccard_ppm"] == 50 * 1_000_000 // 150
    assert xy["intersect_est"] == 150 * xy["jaccard_ppm"] // 1_000_000
    assert (xy["n_a_est"], xy["n_b_est"]) == (100, 100)
    # containment derives from the (ppm-floored) intersect estimate:
    # 150 * (50e6//150) // 1e6 = 49, so 490000 ppm — the floor chain
    # is the estimator's own arithmetic, replayed by the oracle
    assert xy["containment_a_ppm"] == xy["intersect_est"] * 1_000_000 // 100
    assert xy["containment_b_ppm"] == xy["containment_a_ppm"]
    xz = got[("x", "z")]
    assert xz["jaccard_ppm"] == 0 and xz["intersect_est"] == 0
    assert xz["union_est"] == 150
    assert xz["containment_a_ppm"] == 0 and xz["containment_b_ppm"] == 0

    # estimation regime: every pair row == the two-table estimator
    mat64 = {
        (r["group_a"], r["group_b"]): r
        for r in kmv_overlap_matrix(df, "v", by="g", k=64).collect()
    }
    for (a, b), r in mat64.items():
        solo = kmv_overlap_estimate(
            df.filter(F.col("g") == a), df.filter(F.col("g") == b), "v", k=64
        ).collect()[0]
        assert (
            r["n_bottom"], r["union_est"], r["jaccard_ppm"], r["intersect_est"]
        ) == (
            solo["n_bottom"], solo["union_est"],
            solo["jaccard_ppm"], solo["intersect_est"],
        ), (a, b)
    with pytest.raises(ValueError, match="max_groups"):
        kmv_overlap_matrix(df, "v", by="g", k=16, max_groups=2)


def test_cms_join_size_exact_wide_overestimate_narrow(spark):
    """The CMS inner product: exact when width >> distinct keys, never
    an underestimate when narrow, 0 for disjoint key sets (including
    the all-rows-vanish inner-join edge), grouped variant agrees."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.sampling import (
        cms_join_size,
        cms_registers,
    )

    # a: key i appears i+1 times (i in 0..19); b: key i appears 2 times
    # for even i only -> true join rows = sum over even i of (i+1)*2
    a = spark.range(20).select(
        F.explode(F.expr("array_repeat(id, int(id + 1))")).alias("k")
    )
    b = spark.range(20).filter("id % 2 = 0").select(
        F.explode(F.expr("array_repeat(id, 2)")).alias("k")
    )
    truth = sum((i + 1) * 2 for i in range(0, 20, 2))
    for width, check in ((2048, "exact"), (8, "over")):
        est = cms_join_size(
            cms_registers(a, "k", width, 4),
            cms_registers(b, "k", width, 4),
            width,
            4,
        ).collect()[0]["join_rows_est"]
        assert est == truth if check == "exact" else est >= truth
    # disjoint key sets
    c = spark.range(100, 120).select(F.col("id").alias("k"))
    zero = cms_join_size(
        cms_registers(a, "k", 2048, 4),
        cms_registers(c, "k", 2048, 4),
        2048,
        4,
    ).collect()[0]["join_rows_est"]
    assert zero == 0
    # grouped: two independent groups, each exact at wide width
    ag = a.withColumn("g", F.lit("x")).unionByName(
        c.withColumn("g", F.lit("y"))
    )
    bg = b.withColumn("g", F.lit("x")).unionByName(
        c.withColumn("g", F.lit("y"))
    )
    got = {
        r["g"]: r["join_rows_est"]
        for r in cms_join_size(
            cms_registers(ag, "k", 2048, 4, by="g"),
            cms_registers(bg, "k", 2048, 4, by="g"),
            2048,
            4,
            by="g",
        ).collect()
    }
    assert got == {"x": truth, "y": 20}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=80
    ),
    n_slices=st.integers(min_value=1, max_value=5),
    k=st.sampled_from([8, 16, 64]),
    data=st.data(),
)
def test_qsk_merge_property_random(spark, vals, n_slices, k, data):
    """For ANY values, ANY slicing into disjoint parts, and ANY k:
    per-slice registers merge to exactly the whole input's registers,
    and quantiles from the merged sketch equal whole-input quantiles."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.sampling import (
        qsk_merge_registers,
        qsk_quantiles,
        qsk_registers,
    )

    assign = [
        data.draw(st.integers(min_value=0, max_value=n_slices - 1))
        for _ in vals
    ]
    rows = [(i, int(v), a) for i, (v, a) in enumerate(zip(vals, assign))]
    df = spark.createDataFrame(rows, "rid long, v long, slice int")
    whole = sorted(
        map(tuple, qsk_registers(df, "v", "rid", k=k).collect())
    )
    parts = [
        qsk_registers(df.filter(F.col("slice") == s), "v", "rid", k=k)
        for s in range(n_slices)
    ]
    merged = qsk_merge_registers(*parts, k=k)
    assert sorted(map(tuple, merged.collect())) == whole
    probs = [0, 333_333, 500_000, 1_000_000]
    mq = sorted(map(tuple, qsk_quantiles(merged, probs).collect()))
    wq = sorted(
        map(tuple, qsk_quantiles(qsk_registers(df, "v", "rid", k=k), probs).collect())
    )
    assert mq == wq


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ka=st.lists(st.integers(min_value=0, max_value=30), min_size=0, max_size=60),
    kb=st.lists(st.integers(min_value=0, max_value=30), min_size=0, max_size=60),
    width=st.sampled_from([8, 64, 1024]),
)
def test_cms_join_size_never_underestimates_random(spark, ka, kb, width):
    """For ANY multisets of keys and ANY width, the inner-product
    estimate is >= the true equi-join size, and == it when width is
    collision-free for the key domain."""
    from dataframeintervals_jl_spark.operators.sampling import (
        cms_join_size,
        cms_registers,
    )

    from collections import Counter

    truth = sum(ca * Counter(kb)[x] for x, ca in Counter(ka).items())
    a = spark.createDataFrame([(int(x),) for x in ka] or [(None,)], "k long")
    b = spark.createDataFrame([(int(x),) for x in kb] or [(None,)], "k long")
    if not ka or not kb:
        return  # empty side: registers empty, estimate vacuous
    est = cms_join_size(
        cms_registers(a, "k", width, 4),
        cms_registers(b, "k", width, 4),
        width,
        4,
    ).collect()[0]["join_rows_est"]
    # overestimate-only is the guarantee; exactness at wide width is
    # covered deterministically in test_cms_join_size_exact_wide_*
    # (asserting it here would be ~5%-flaky: with 31 possible keys even
    # 1024 buckets collide in all 4 rows for some key multisets)
    assert est >= truth


def test_qsk_null_values_excluded(spark):
    """NULL values must not consume sample budget or desync the
    quantile index math: quantiles over a column with nulls equal
    quantiles over the pre-filtered column."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.sampling import (
        qsk_quantiles,
        qsk_registers,
    )

    df = spark.range(100).select(
        F.col("id").alias("rid"),
        F.when(F.col("id") % 3 == 0, None).otherwise(F.col("id")).alias("v"),
    )
    probs = [0, 500_000, 1_000_000]
    with_nulls = sorted(map(tuple, qsk_quantiles(
        qsk_registers(df, "v", "rid", k=256), probs).collect()))
    clean = sorted(map(tuple, qsk_quantiles(
        qsk_registers(df.filter("v IS NOT NULL"), "v", "rid", k=256),
        probs).collect()))
    assert with_nulls == clean
    n = with_nulls[0][2]  # n_sample column
    assert n == 66  # 100 minus the 34 nulls
    assert all(q is not None for _, q, _ in with_nulls)


def test_cms_join_size_grouped_disjoint_group_reports_zero(spark):
    """A group whose two sketches share no buckets (disjoint keys at
    wide width, or present on one side only) must report 0, not vanish."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.sampling import (
        cms_join_size,
        cms_registers,
    )

    a = spark.createDataFrame(
        [("x", 1), ("x", 2), ("y", 100), ("only_a", 7)], "g string, k long"
    )
    b = spark.createDataFrame(
        [("x", 1), ("y", 999)], "g string, k long"
    )
    got = {
        r["g"]: r["join_rows_est"]
        for r in cms_join_size(
            cms_registers(a, "k", 2048, 4, by="g"),
            cms_registers(b, "k", 2048, 4, by="g"),
            2048,
            4,
            by="g",
        ).collect()
    }
    assert got["x"] == 1
    assert got["y"] == 0  # disjoint keys
    assert got["only_a"] == 0  # absent from b entirely


def test_profile_table_empty_and_bad_args(spark):
    """Empty table: n_rows=0 and n_nulls=0 (not NULL); columns=[] must
    raise, not silently profile everything."""
    import pytest

    from dataframeintervals_jl_spark.operators.profile import profile_table

    df = spark.createDataFrame([], "id bigint, s string")
    got = {r["col_name"]: r for r in profile_table(df, k=64).collect()}
    assert set(got) == {"id", "s"}
    for r in got.values():
        assert (r["n_rows"], r["n_nulls"], r["n_distinct_est"]) == (0, 0, 0)
    with pytest.raises(ValueError, match="columns"):
        profile_table(df, columns=[])


def test_importance_resample_proportional_and_deterministic(spark):
    """Keep rates scale linearly with weight (ppm tolerance on a large
    sample), max-weight rows keep at max_keep_ppm, NULL/zero weights
    drop, and the decision is reproducible."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.sampling import (
        importance_resample,
    )

    n = 4000
    rows = [(i, [250_000, 500_000, 1_000_000][i % 3]) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    kept = importance_resample(df, "w", "doc_id").collect()
    by_w = {}
    for r in kept:
        by_w[r["w"]] = by_w.get(r["w"], 0) + 1
    # expected keep fraction = w / w_max; each stratum has n/3 rows
    for w, frac in ((250_000, 0.25), (500_000, 0.5), (1_000_000, 1.0)):
        got = by_w.get(w, 0) / (n / 3)
        assert abs(got - frac) < 0.06, (w, got)
    # max-weight rows ALL survive (thr == BUCKETS)
    assert by_w[1_000_000] == n // 3
    again = importance_resample(df, "w", "doc_id").collect()
    assert sorted(r["doc_id"] for r in again) == sorted(
        r["doc_id"] for r in kept
    )
    # NULL and zero weights never survive
    z = spark.createDataFrame(
        [(1, 0), (2, None), (3, 10)], "doc_id long, w long"
    )
    assert sorted(
        r["doc_id"] for r in importance_resample(z, "w", "doc_id").collect()
    ) == [3]
    # all-null / non-positive weights -> empty
    e = spark.createDataFrame([(1, 0), (2, None)], "doc_id long, w long")
    assert importance_resample(e, "w", "doc_id").count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_keep_ppm"):
        importance_resample(df, "w", "doc_id", max_keep_ppm=0)


def test_winsorize_hand_case(spark):
    """With k >= group size the sketch is the full sample, so the
    bounds are exact type-1 quantiles: values clip to [p25, p75] by
    hand, NULLs pass through NULL (never become the lower bound), and
    keyless mode clips against the global bounds."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.sampling import winsorize

    rows = [(i, "a", v) for i, v in enumerate([0, 10, 20, 30, 40, 1000])]
    rows += [(100, "a", None), (200, "b", 7)]
    df = spark.createDataFrame(rows, "id long, g string, v long")
    out = {
        r["id"]: r["v_w"]
        for r in winsorize(
            df, "v", "id", lo_ppm=250_000, hi_ppm=750_000, by="g"
        ).collect()
    }
    # group a sample sorted: [0,10,20,30,40,1000], n=6
    # lo idx = 250000*5//1e6 = 1 -> 10; hi idx = 750000*5//1e6 = 3 -> 30
    assert out[0] == 10 and out[1] == 10
    assert out[2] == 20 and out[3] == 30
    assert out[4] == 30 and out[5] == 30
    assert out[100] is None
    assert out[200] == 7  # single-value group: lo == hi == 7
    # keyless: global bounds
    gout = winsorize(df.filter("v is not null"), "v", "id",
                     lo_ppm=0, hi_ppm=1_000_000)
    vals = {r["id"]: r["v_w"] for r in gout.collect()}
    assert vals[0] == 0 and vals[5] == 1000  # full range = no clipping

    import pytest as _pytest

    with _pytest.raises(ValueError, match="lo_ppm"):
        winsorize(df, "v", "id", lo_ppm=900_000, hi_ppm=100_000)


def test_leakage_safe_split_guarantees(spark):
    """No near-dup pair straddles splits; unclustered rows match plain
    hash_split; a cluster's split equals the plain split of its MIN
    member (so discovering more duplicates never moves a document)."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.sampling import (
        hash_split,
        leakage_safe_split,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(300)], "doc_id long"
    )
    # chain clusters {0,1,2}, {10,11}, and a big star at 100
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)] + [(100, 100 + i) for i in range(1, 9)],
        "id_a long, id_b long",
    )
    out = leakage_safe_split(docs, pairs, "doc_id", (0.8, 0.1, 0.1))
    got = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(got) == 300  # left join never drops or duplicates rows

    plain = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs, "doc_id", (0.8, 0.1, 0.1)).collect()
    }
    clustered = {0, 1, 2, 10, 11} | {100 + i for i in range(9)}
    # same-cluster rows share a split, equal to the min member's plain
    assert got[0] == got[1] == got[2] == plain[0]
    assert got[10] == got[11] == plain[10]
    assert len({got[100 + i] for i in range(9)}) == 1
    assert got[100] == plain[100]
    # unclustered rows are exactly the plain hash_split
    for i in set(range(300)) - clustered:
        assert got[i] == plain[i]


def test_chunk_by_sentences_greedy_rules(spark):
    """chunk_by_sentences: greedy fill to max_chars with joining
    spaces counted, an oversized single sentence still gets its own
    chunk (never split mid-sentence), empty docs emit nothing, chunk
    text order is positional (no collect_list)."""
    from dataframeintervals_jl_spark.operators.packing import (
        chunk_by_sentences,
    )

    t = ("One short. Another sentence here! A third one? This "
         "sentence is deliberately quite a bit longer than the "
         "others. Tail.")
    df = spark.createDataFrame(
        [(1, t), (2, ""), (3, "SingleOversizedSentenceNoBoundaries")],
        "doc_id long, text string",
    )
    got = [
        (r["doc_id"], r["chunk_idx"], r["n_sentences"], r["chunk_text"])
        for r in chunk_by_sentences(df, "text", max_chars=40)
        .orderBy("doc_id", "chunk_idx")
        .collect()
    ]
    assert got == [
        (1, 0, 2, "One short. Another sentence here!"),
        (1, 1, 1, "A third one?"),
        (1, 2, 1,
         "This sentence is deliberately quite a bit longer than "
         "the others."),
        (1, 3, 1, "Tail."),
        (3, 0, 1, "SingleOversizedSentenceNoBoundaries"),
    ]
    # plan: pure narrow expressions + the explode — zero exchanges
    from dataframeintervals_jl_spark.plans import (
        assert_max_exchanges,
        assert_no_python_row_udf,
    )

    out = chunk_by_sentences(df, "text", max_chars=40)
    assert_max_exchanges(out, 0)
    assert_no_python_row_udf(out)


def test_chunk_by_sentences_reconstruction_property(spark):
    """Invariants on randomized docs: chunks concatenate back to the
    sentence stream (nothing lost or reordered), per-doc n_sentences
    sums to the segmentation's count, and every chunk either fits
    max_chars or is a single oversized sentence."""
    import random

    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.functions.text import (
        split_sentences,
    )
    from dataframeintervals_jl_spark.operators.packing import (
        chunk_by_sentences,
    )

    rng = random.Random(11)
    words = ["alpha", "beta", "gamma", "delta", "omega", "Dr."]
    docs = []
    for i in range(30):
        parts = []
        for _ in range(rng.randrange(0, 12)):
            n = rng.randrange(1, 9)
            body = " ".join(rng.choice(words) for _ in range(n))
            parts.append("X" + body + rng.choice(". ! ? .".split()))
        docs.append((i, " ".join(parts)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    mx = 48
    chunks = (
        chunk_by_sentences(df, "text", max_chars=mx)
        .orderBy("doc_id", "chunk_idx")
        .collect()
    )
    sents = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", split_sentences(F.col("text")).alias("s")
        ).collect()
    }
    from collections import defaultdict

    per_doc = defaultdict(list)
    for r in chunks:
        per_doc[r["doc_id"]].append(r)
    for d, sl in sents.items():
        rows = per_doc.get(d, [])
        assert sum(r["n_sentences"] for r in rows) == len(sl)
        assert " ".join(r["chunk_text"] for r in rows) == " ".join(sl)
        for r in rows:
            assert len(r["chunk_text"]) <= mx or r["n_sentences"] == 1


def test_temporal_split_embargo_and_labels(spark):
    """Boundary semantics: segment i is [b_{i-1}, b_i); rows in the
    embargo_ns window BEFORE each boundary are dropped (the boundary
    row itself survives into the next segment); validation errors."""
    import pytest

    from dataframeintervals_jl_spark.operators.sampling import (
        temporal_split,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            [0, 50, 89, 90, 99, 100, 150, 189, 190, 200, 250]
        )],
        "id long, ts long",
    )
    out = {
        r["ts"]: r["split"]
        for r in temporal_split(
            df, [100, 200], embargo_ns=10, ts_col="ts"
        ).collect()
    }
    # embargo zones [90,100) and [190,200) dropped
    assert 90 not in out and 99 not in out and 190 not in out
    assert out[89] == "train" and out[0] == "train"
    assert out[100] == "val" and out[189] == "val"
    assert out[200] == "test" and out[250] == "test"

    # zero embargo keeps everything
    full = temporal_split(df, [100, 200], ts_col="ts")
    assert full.count() == 11

    with pytest.raises(ValueError, match="boundaries"):
        temporal_split(df, [100], labels=("a", "b", "c"), ts_col="ts")
    with pytest.raises(ValueError, match="increasing"):
        temporal_split(df, [200, 100], ts_col="ts")
    with pytest.raises(ValueError, match="embargo"):
        temporal_split(df, [100, 200], embargo_ns=-1, ts_col="ts")
