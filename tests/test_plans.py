"""Physical-plan regression tests — the scale contract.

These lock in the plans the engine promises at cluster scale (SURVEY.md
§4.2): pushdown reaching the parquet scan, the broadcast path for
small-side interval joins, the binned rewrite shuffling on the bin key
(never a nested loop over two large sides), and no row-at-a-time
Python evaluation anywhere in the hot paths.  A change that silently
de-optimizes any of these fails here instead of on a 1000-executor run.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dataframeintervals_jl_spark.operators.groupby_interval_join import (
    groupby_interval_join,
)
from dataframeintervals_jl_spark.operators.interval_join import interval_join
from dataframeintervals_jl_spark.operators.quantile_windows import quantile_windows
from dataframeintervals_jl_spark.plans import (
    assert_join_strategy,
    assert_max_exchanges,
    assert_no_python_row_udf,
    assert_pushed_filter,
    assert_reads_only,
    count_broadcast_exchanges,
    count_exchanges,
    join_strategies,
    pushed_filters,
    scan_read_schema,
    whole_stage_codegen_ids,
)
from dataframeintervals_jl_spark.sources import event_spans, read_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def es(spark):
    return event_spans(spark, SF_DIR)


def test_filter_pushdown_reaches_parquet_scan(spark):
    ev = read_table(spark, SF_DIR, "events").filter(F.col("event_type") == "view")
    assert any("event_type" in f for f in pushed_filters(ev))


def test_column_pruning_projects_only_selected(spark):
    ev = read_table(spark, SF_DIR, "events").select("event_id", "user_id")
    assert set(scan_read_schema(ev)) == {"event_id", "user_id"}


def test_pruning_through_interval_join(spark, es):
    """Column pruning must survive the rename/join pipeline: projecting
    two payload columns from the join output prunes the events scan down
    to what the spans + those columns need."""
    w = quantile_windows(spark, 4, es)
    j = interval_join(es, w, validate="skip", strategy="broadcast_right")
    out = j.select("event_id", "index")
    cols = set(scan_read_schema(out))
    assert "value" not in cols and "event_type" not in cols


def test_broadcast_path_is_broadcast_nested_loop(spark, es):
    w = quantile_windows(spark, 4, es)
    j = interval_join(es, w, validate="skip", strategy="broadcast_right")
    assert_join_strategy(j, "BroadcastNestedLoopJoin")
    # the theta-join itself must not shuffle either side
    assert_max_exchanges(j, 1)  # lead() over user windows needs one
    assert_no_python_row_udf(j)


def test_binned_path_shuffles_on_bin_never_nested_loop(spark, es):
    w = quantile_windows(spark, 64, es)
    j = interval_join(
        es, w, validate="skip", strategy="binned", bin_width=3_600_000_000_000
    )
    strategies = join_strategies(j)
    assert "BroadcastNestedLoopJoin" not in strategies
    assert strategies and strategies[0] in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    assert_no_python_row_udf(j)


def test_binned_outer_recovers_unmatched_without_nested_loop(spark, es):
    w = quantile_windows(spark, 8, es)
    j = interval_join(
        es,
        w,
        keepleft=True,
        keepright=True,
        validate="skip",
        strategy="binned",
        bin_width=3_600_000_000_000,
    )
    assert "BroadcastNestedLoopJoin" not in join_strategies(j)


def test_groupby_interval_join_pipelines_partial_agg(spark, es):
    """Join → agg must keep map-side partial aggregation: two
    HashAggregate levels around a single grouping shuffle, never a
    shuffle of raw join output followed by one big agg."""
    w = quantile_windows(spark, 4, es, label="quarter")
    g = groupby_interval_join(
        es, w, groups=["quarter", "event_type"], validate="skip",
        strategy="broadcast_right",
    )
    out = g.agg(F.count(F.lit(1)).alias("n"))
    from dataframeintervals_jl_spark.plans import simple_plan

    plan = simple_plan(out)
    assert plan.count("HashAggregate") >= 2
    # lead() window + final grouping = 2 shuffles; the join adds none
    assert_max_exchanges(out, 2)


def test_windows_side_is_broadcast_exchange(spark, es):
    w = quantile_windows(spark, 4, es)
    j = interval_join(es, w, validate="skip", strategy="broadcast_right")
    assert count_broadcast_exchanges(j) == 1


def test_hot_expressions_stay_in_codegen(spark, es):
    """The intersection column + overlap predicate are pure expressions:
    the plan must contain WholeStageCodegen spans and no Python eval."""
    # AQE defers codegen annotation until runtime re-planning; turn it
    # off so the static explain shows the *(n) codegen spans
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        w = quantile_windows(spark, 4, es)
        j = interval_join(es, w, validate="skip", strategy="broadcast_right")
        assert whole_stage_codegen_ids(j)
        assert_no_python_row_udf(j)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_scan_level_filter_composes_with_join(spark, es):
    """A user filter on the left table must reach the parquet scan even
    through span derivation + rename + join."""
    from dataframeintervals_jl_spark.sources import event_spans as mk

    ev = read_table(spark, SF_DIR, "events").filter(F.col("user_id") < 100)
    assert_pushed_filter(ev, "user_id")


def test_exact_dedup_is_single_shuffle(spark):
    from dataframeintervals_jl_spark.functions.text import content_hash

    docs = read_table(spark, SF_DIR, "documents")
    out = docs.groupBy(content_hash(F.col("text")).alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    assert_max_exchanges(out, 1)
    assert_no_python_row_udf(out)


def test_auto_strategy_plan_stats_fast_path(spark, es):
    """With validate='skip', a tiny side is broadcast from Catalyst's
    plan-size estimate alone — strategy selection must not execute jobs
    over the inputs."""
    from dataframeintervals_jl_spark.operators.interval_join import (
        _plan_size_bytes,
        interval_join,
    )

    w = quantile_windows(spark, 4, es)
    assert _plan_size_bytes(w) is not None
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    j = interval_join(es, w, validate="skip", strategy="auto")
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert list(before) == list(after), "auto selection ran Spark jobs"
    assert_join_strategy(j, "BroadcastNestedLoopJoin")


def test_simhash_pairs_no_dedup_shuffle(spark):
    """The lowest-agreeing-block emit-once guard replaces the trailing
    .distinct(): the pair plan must contain only the self-join's two
    exchanges, never a third dedup shuffle."""
    from dataframeintervals_jl_spark.operators.dedup import simhash_near_pairs

    from dataframeintervals_jl_spark.plans import simple_plan

    docs = read_table(spark, SF_DIR, "documents")
    pairs = simhash_near_pairs(docs, max_hamming=8, blocks=4)
    assert_max_exchanges(pairs, 2)
    assert "HashAggregate" not in simple_plan(pairs)


# ---------------------------------------------------------------------------
# round-2 operators: plan shapes that must survive a 100x scale-up
# ---------------------------------------------------------------------------


def test_interval_join_by_hash_plan(spark, es):
    """Keyed join: equi join on the key (sort-merge or shuffled-hash,
    never a nested loop), overlap as residual, no Python eval."""
    from dataframeintervals_jl_spark import interval_join_by

    clicks = es.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "span"
    )
    views = es.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("v_event"), "span"
    )
    j = interval_join_by(clicks, views, by="user_id", validate="skip")
    strategies = join_strategies(j)
    assert strategies, "expected a join in the plan"
    assert not any("NestedLoop" in s for s in strategies), strategies
    assert_no_python_row_udf(j)


def test_semi_anti_broadcast_plan(spark, es):
    """Broadcast semi/anti: ONE BroadcastExchange, BNLJ LeftSemi/Anti,
    zero shuffles of the big side."""
    from dataframeintervals_jl_spark import interval_anti_join, interval_semi_join
    from dataframeintervals_jl_spark.operators.quantile_windows import (
        quantile_windows as qw,
    )

    w = qw(spark, 8, es).filter(F.col("index").isin(3, 6)).select("span")
    from dataframeintervals_jl_spark.plans import physical_plan

    semi = interval_semi_join(es, w, strategy="broadcast_right")
    anti = interval_anti_join(es, w, strategy="broadcast_right")
    for df, frag in ((semi, "LeftSemi"), (anti, "LeftAnti")):
        assert count_broadcast_exchanges(df) == 1
        assert count_exchanges(df) == 1  # only the broadcast itself
        plan = physical_plan(df)
        assert "BroadcastNestedLoopJoin" in plan and frag in plan, plan
        assert_no_python_row_udf(df)


def test_overlap_profile_global_no_single_partition(spark, es):
    """The keyless profile must not collapse to one task."""
    from dataframeintervals_jl_spark import overlap_profile
    from dataframeintervals_jl_spark.plans import physical_plan

    prof = overlap_profile(es.select("span"))
    assert "SinglePartition" not in physical_plan(prof)
    assert_no_python_row_udf(prof)


def test_span_difference_keyed_plan(spark, es):
    """Keyed subtraction: key-equi joins only (hash side), no nested
    loop, no Python eval, no single-partition exchange."""
    from dataframeintervals_jl_spark import span_difference
    from dataframeintervals_jl_spark.plans import physical_plan

    clicks = es.filter(F.col("event_type") == "click").select("user_id", "span")
    diff = span_difference(
        es.select("event_id", "user_id", "span"), clicks, by="user_id"
    )
    plan = physical_plan(diff)
    assert "SinglePartition" not in plan
    assert not any(
        "NestedLoop" in s for s in join_strategies(diff)
    ), join_strategies(diff)
    assert_no_python_row_udf(diff)


def test_data_quantile_windows_pass_plan(spark):
    """Each refinement pass is a column-pruned scan + tiny aggregate:
    the histogram job must read only the value column."""
    from dataframeintervals_jl_spark import data_quantile_windows

    ev = read_table(spark, SF_DIR, "events").select(F.col("ts").alias("v"))
    win = data_quantile_windows(ev, 4, "v")
    # the returned windows table is literal rows — no scan at all
    assert win.count() == 4
    # pass-shape proxy: the pruned source projects only v
    assert_reads_only(ev, {"ts"})


def test_ensure_parallelism_derived_input_warns_no_jobs(spark):
    """A derived (non-bare-scan) input cannot have its partition count
    inspected without executing upstream stages: the call must pass the
    plan through IDENTICALLY (same JVM DataFrame — zero jobs run) and
    warn once per process so the caller knows the floor is unenforced."""
    import warnings

    import dataframeintervals_jl_spark.sources as src

    ev = read_table(spark, SF_DIR, "events")
    derived = ev.groupBy("user_id").count()
    src._warned_derived_passthrough = False
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        out = src.ensure_parallelism(derived)
    assert out is derived  # untouched object => no extra jobs ran
    assert any("derived plan" in str(w.message) for w in rec)
    # second call: silent (once-per-process)
    with warnings.catch_warnings(record=True) as rec2:
        warnings.simplefilter("always")
        src.ensure_parallelism(derived)
    assert not any("derived plan" in str(w.message) for w in rec2)


def test_decontaminate_eval_side_broadcast(spark):
    """The eval shingle table must reach the hit join as a broadcast —
    the corpus-side pass stays map-only (SURVEY.md §4.2: never shuffle
    the 100 TB side against a KB-scale dimension)."""
    from dataframeintervals_jl_spark.operators.dedup import decontaminate

    docs = read_table(spark, SF_DIR, "documents")
    is_eval = F.pmod(F.col("doc_id"), F.lit(23)) == 0
    out = decontaminate(docs.filter(~is_eval), docs.filter(is_eval), shingle_k=4)
    assert count_broadcast_exchanges(out) >= 1
    assert_no_python_row_udf(out)


def test_lsh_rerank_candidate_join_is_narrow_and_broadcast(spark):
    """lsh_rerank_topk's scale contract: the probe side, the candidate
    ids, and the query vectors all reach their joins as broadcasts (the
    corpus is never shuffled), and the candidate bucket join carries
    only (tbl, bucket, id) — the vector column must NOT appear in any
    Exchange, that narrowness being what pays for the extra tables."""
    from dataframeintervals_jl_spark.operators.similarity import (
        lsh_rerank_topk,
    )

    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = lsh_rerank_topk(emb, queries, dim=64, k=3, n_tables=2)
    assert count_broadcast_exchanges(out) >= 3
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line and "Broadcast" not in line:
            assert "cv#" not in line and " v#" not in line, (
                "vector column shuffled in candidate generation:\n" + line
            )


def test_filtered_ann_pushes_label_predicate(spark):
    """Pre-filtered IVF: the label predicate must reach the parquet
    scan as a pushed filter — at 100 TB only matching row groups are
    decoded before any vector math runs."""
    from dataframeintervals_jl_spark.operators.similarity import ivf_topk

    emb = read_table(spark, SF_DIR, "embeddings")
    corpus = emb.filter(F.pmod(F.col("label"), F.lit(3)) == 1)
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivf_topk(corpus, queries, n_centroids=4, n_probe=2, k=3)
    assert any("label" in f for f in pushed_filters(out))


def test_bloom_decontaminate_broadcast_map_only(spark):
    """The bloom words table must broadcast for every probe join; no
    row-at-a-time Python anywhere."""
    from dataframeintervals_jl_spark.operators.dedup import bloom_decontaminate

    docs = read_table(spark, SF_DIR, "documents")
    is_eval = F.pmod(F.col("doc_id"), F.lit(23)) == 0
    out = bloom_decontaminate(
        docs.filter(~is_eval), docs.filter(is_eval), shingle_k=4, n_hashes=4
    )
    assert count_broadcast_exchanges(out) >= 4
    assert_no_python_row_udf(out)


def test_sliding_window_partial_agg_single_shuffle(spark):
    """The explode amplifies rows map-side, but the aggregation must
    stay partial/final around ONE exchange — shuffled bytes scale with
    distinct (window, key) pairs, not events."""
    from dataframeintervals_jl_spark.operators.timeseries import sliding_window_agg

    ev = read_table(spark, SF_DIR, "events")
    out = sliding_window_agg(
        ev,
        aggs=[F.count(F.lit(1)).alias("n")],
        on="ts",
        length=24 * 3_600 * 10**9,
        slide=6 * 3_600 * 10**9,
        by="event_type",
    )
    assert_max_exchanges(out, 1)
    assert_no_python_row_udf(out)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2, "partial aggregation missing"


def test_resample_locf_keyed_no_single_partition(spark):
    """Keyed resampling must shuffle only on the key — a keyless window
    (Exchange SinglePartition) anywhere would serialize the pipeline."""
    from dataframeintervals_jl_spark.operators.timeseries import resample_locf

    ev = read_table(spark, SF_DIR, "events").select("user_id", "ts", "value")
    out = resample_locf(ev, on="ts", step=12 * 3_600 * 10**9, by="user_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert_no_python_row_udf(out)


# ---------------------------------------------------------------------------
# driver-gate ordering (coverage-aware, round-6)
# ---------------------------------------------------------------------------


def test_gate_order_puts_never_verified_first():
    from dataframeintervals_jl_spark.queries import _gate_order

    catalog = {f"q{i}": i for i in range(8)}
    pinned = ["q3", "q0", "q_missing"]
    verified = {"q1", "q2", "q5"}
    out = list(_gate_order(catalog, pinned, verified))
    # pinned first (missing names skipped), then never-verified in catalog
    # order, then verified remainder in catalog order; nothing dropped.
    assert out == ["q3", "q0", "q4", "q6", "q7", "q1", "q2", "q5"]
    assert _gate_order(catalog, pinned, verified) == {
        n: catalog[n] for n in out
    }


def test_gate_order_stalest_verified_first():
    """Round 10+: the verified remainder is ordered by last-gated round
    ascending (oldest first), catalog position as tiebreak — so the
    driver's free window slots always contain the globally stalest
    verified entries, and worst-case staleness is bounded by
    ceil(len(verified)/free) rounds.  Pins and never-verified stay in
    front; ordering never drops or duplicates entries."""
    from dataframeintervals_jl_spark.queries import _gate_order

    catalog = {f"q{i}": i for i in range(20)}
    pinned = ["q0", "q1"]
    # q0/q1 pinned; rest verified with assorted last-gated rounds
    ages = {f"q{i}": 9 - (i % 4) for i in range(2, 20)}
    window = 8  # free slots = 8 - 2 pins - 0 never = 6
    out = list(_gate_order(catalog, pinned, ages, window))
    assert out[:2] == ["q0", "q1"]
    # the window's free slots hold the globally stalest entries
    stalest = sorted(ages, key=lambda n: (ages[n], int(n[1:])))[:6]
    assert out[2:8] == stalest
    # age ascending across the whole remainder; permutation preserved
    rest_ages = [ages[n] for n in out[2:]]
    assert rest_ages == sorted(rest_ages)
    assert sorted(out) == sorted(catalog)
    # never-verified entries always outrank even the stalest verified
    ages2 = dict(ages)
    del ages2["q9"]
    out2 = list(_gate_order(catalog, pinned, ages2, window))
    assert out2[2] == "q9"


def test_gate_order_self_advances_when_gated():
    """Simulate the driver loop: gating the window bumps those entries'
    ages to the current round, so consecutive rounds sweep the entire
    verified set — the worst-case staleness bound, not just average."""
    from dataframeintervals_jl_spark.queries import _gate_order

    catalog = {f"q{i}": i for i in range(20)}
    ages = {n: 1 for n in catalog}  # all verified, all equally stale
    window, rnd = 6, 1
    gated_per_round = []
    for _ in range(4):  # ceil(20/6) = 4 rounds must cover everything
        rnd += 1
        win = list(_gate_order(catalog, [], ages, window))[:window]
        gated_per_round.append(win)
        for n in win:
            ages[n] = rnd
    covered = set().union(*map(set, gated_per_round))
    assert covered == set(catalog)
    # and the stalest entry globally is always inside the next window
    stalest = min(ages, key=lambda n: (ages[n], catalog[n]))
    assert stalest in list(_gate_order(catalog, [], ages, window))[:window]


def test_gate_order_fails_safe_without_correctness_files(tmp_path):
    """No CORRECTNESS files (driver renamed/pruned them) -> empty verified
    set -> order degrades to pinned + catalog order, never an exception."""
    from dataframeintervals_jl_spark.queries import (
        _driver_verified_rounds,
        _gate_order,
    )

    assert _driver_verified_rounds(str(tmp_path)) == {}
    catalog = {"a": 1, "b": 2, "c": 3}
    assert list(_gate_order(catalog, ["b"], {})) == ["b", "a", "c"]
    # a plain set still works (all-same-age degradation)
    assert list(_gate_order(catalog, ["b"], {"a", "c"})) == ["b", "a", "c"]


def test_driver_verified_rounds_reads_green_rows(tmp_path):
    import json

    from dataframeintervals_jl_spark.queries import _driver_verified_rounds

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "q_green": {
                    "rows_match": True,
                    "schema_match": True,
                    "hash_match": True,
                },
                "q_rows_only": {
                    "rows_match": True,
                    "schema_match": True,
                    "hash_match": None,
                },
                "q_red": {
                    "rows_match": False,
                    "schema_match": True,
                    "hash_match": False,
                },
                "q_hash_miss": {
                    "rows_match": True,
                    "schema_match": True,
                    "hash_match": False,
                },
            }
        )
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text("not json {")
    # a later round re-gating q_green must bump its age to that round
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps(
            {
                "q_green": {
                    "rows_match": True,
                    "schema_match": True,
                    "hash_match": True,
                }
            }
        )
    )
    got = _driver_verified_rounds(str(tmp_path))
    assert got == {"q_green": 3, "q_rows_only": 1}


def test_gate_live_catalog_covers_never_verified():
    """On the live repo state: every never-driver-verified catalog entry
    must sit inside the 50-entry driver gate window."""
    from dataframeintervals_jl_spark.queries import (
        QUERIES,
        _GATE_PINNED,
        _verified_ages,
    )

    from dataframeintervals_jl_spark.queries import _GATE_WINDOW

    # the EFFECTIVE ages (with the _CHANGED_SEMANTICS exclusion) — the
    # same table _gate_order ran on, not the raw driver rounds
    verified = _verified_ages
    names = list(QUERIES)
    never = [n for n in names if n not in verified]
    gate = set(names[:_GATE_WINDOW])
    missing = [n for n in never if n not in gate]
    assert not missing, f"never-verified entries outside the gate: {missing}"
    # the effective pinned prefix: tail-trimmed so never-verified fit
    pin = [n for n in _GATE_PINNED if n in QUERIES]
    n_never = sum(1 for n in never if n not in set(pin))
    if len(pin) + n_never > _GATE_WINDOW:
        pin = pin[: max(0, _GATE_WINDOW - n_never)]
    assert pin == names[: len(pin)]
    # the top-priority tripwire is never trimmed in practice
    assert names[0] == "q_interval_join_inner" or not pin


def test_qsk_registers_window_group_limit(spark):
    """The quantile sketch's bottom-k must plan as WindowGroupLimit —
    each task keeps k rows per group BEFORE the shuffle, so shuffle
    volume is O(tasks·groups·k), independent of row count."""
    from dataframeintervals_jl_spark.operators.sampling import qsk_registers

    docs = read_table(spark, SF_DIR, "documents")
    regs = qsk_registers(docs, "n_chars", "doc_id", k=64, by="lang")
    plan = regs._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, "bottom-k pruning missing"
    assert_no_python_row_udf(regs)


def test_profile_table_plan_bounded(spark):
    """profile_table: the KMV pass must carry WindowGroupLimit pruning
    and nothing in the profile may fall back to row-at-a-time Python;
    the composite stats pass partial-aggregates around one exchange."""
    from dataframeintervals_jl_spark.operators.profile import profile_table

    docs = read_table(spark, SF_DIR, "documents")
    out = profile_table(docs, k=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, "KMV bottom-k pruning missing"
    assert_no_python_row_udf(out)
    assert plan.count("HashAggregate") >= 2, "partial aggregation missing"


def test_pq_rerank_candidates_broadcast(spark):
    """Two-stage re-rank: the query LUTs, the shortlist candidate ids,
    and the raw query vectors must ALL broadcast — the corpus is never
    shuffled for either stage (SURVEY.md §4.2)."""
    from dataframeintervals_jl_spark.operators.similarity import pq_rerank_topk

    emb = read_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    out = pq_rerank_topk(emb, q, m_sub=8, ks=16, k=3, shortlist=6)
    assert count_broadcast_exchanges(out) >= 3
    assert_no_python_row_udf(out)


def test_kmv_overlap_matrix_window_group_limit(spark):
    """The overlap matrix's only data-sized stage is the per-group
    bottom-k — WindowGroupLimit must prune it task-side; everything
    after runs on the sketch table with the pair list broadcast."""
    from dataframeintervals_jl_spark.operators.sampling import (
        kmv_overlap_matrix,
    )

    ev = read_table(spark, SF_DIR, "events")
    out = kmv_overlap_matrix(ev, "user_id", by="event_type", k=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, "bottom-k pruning missing"
    assert count_broadcast_exchanges(out) >= 2  # both pair-side joins
    assert_no_python_row_udf(out)


def test_cms_join_size_partial_aggregation(spark):
    """cms_join_size must partial-aggregate the register builds
    map-side (shuffle bounded at depth*width rows per side per task)
    and stay free of row-at-a-time Python."""
    from dataframeintervals_jl_spark.operators.sampling import (
        cms_join_size,
        cms_registers,
    )

    ev = read_table(spark, SF_DIR, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    out = cms_join_size(
        cms_registers(a, "user_id", 64, 3),
        cms_registers(b, "user_id", 64, 3),
        64,
        3,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 4, "partial aggregation missing"
    assert_no_python_row_udf(out)


def test_key_skew_report_bounded_state(spark):
    """The skew diagnostic must not undo what it diagnoses: per-key
    counts partial-aggregate map-side, the quantile pass carries
    WindowGroupLimit pruning, and nothing is row-at-a-time Python."""
    from dataframeintervals_jl_spark.operators.skew import key_skew_report

    ev = read_table(spark, SF_DIR, "events")
    out = key_skew_report(ev, "user_id", k=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # KEYLESS bottom-k plans as TakeOrderedAndProject (distributed
    # partial top-k) — never an empty-partition rank window
    assert "TakeOrderedAndProject" in plan, "distributed top-k missing"
    assert "WindowGroupLimit" not in plan and "Window " not in plan
    assert plan.count("HashAggregate") >= 4, "partial aggregation missing"
    assert_no_python_row_udf(out)


def test_no_duplicate_catalog_names_in_source():
    """Python dict literals and module-level defs silently keep the
    LAST duplicate — a re-used query name would shadow an existing
    catalog entry without any error (it happened once: a new retention
    variant reused q_retention_cohorts).  Scan the source."""
    import re
    from collections import Counter

    import dataframeintervals_jl_spark.queries as qmod

    src = open(qmod.__file__.replace(".pyc", ".py")).read()
    for pat, what in [
        (r'^\s+"(q_\w+)": \(', "registry key"),
        (r"^def (q_\w+)", "query def"),
        (r"^def (_sql_\w+)", "oracle def"),
        (r"^(_SQL_\w+) =", "oracle constant"),
    ]:
        names = re.findall(pat, src, re.M)
        dups = [n for n, c in Counter(names).items() if c > 1]
        assert not dups, f"duplicate {what}(s): {dups}"
    # Belt-and-braces (round 10): the IMPORTED catalog size must match
    # the committed constant — a silently-shadowing duplicate key drops
    # an entry from the dict even when the source scan is skipped, and
    # a stale constant catches forgotten bookkeeping on additions.
    registry_keys = re.findall(r'^\s+"(q_\w+)": \(', src, re.M)
    assert len(qmod.QUERIES) == qmod.EXPECTED_CATALOG_SIZE, (
        f"len(QUERIES)={len(qmod.QUERIES)} != "
        f"EXPECTED_CATALOG_SIZE={qmod.EXPECTED_CATALOG_SIZE} — bump the "
        "constant on addition; a mismatch without an addition means a "
        "shadowed duplicate key"
    )
    assert len(registry_keys) == qmod.EXPECTED_CATALOG_SIZE


def test_package_compiles_without_warnings():
    """Every module compiles with SyntaxWarning / DeprecationWarning
    raised as errors — an invalid escape such as ``'\\.'`` in a plain
    or f-string is a warning today and an error in later Pythons."""
    import pathlib
    import warnings

    import dataframeintervals_jl_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    paths = sorted(root.rglob("*.py"))
    assert len(paths) > 20
    for path in paths:
        with warnings.catch_warnings():
            warnings.simplefilter("error", SyntaxWarning)
            warnings.simplefilter("error", DeprecationWarning)
            compile(path.read_text(), str(path), "exec")


def test_driver_rows_keeps_aqe_conf_under_threads(spark):
    """driver_rows flips AQE off for its one action; probes from two
    threads at once must still leave the session conf as they found
    it (an unserialized flip can restore another thread's "false")."""
    from concurrent.futures import ThreadPoolExecutor

    from dataframeintervals_jl_spark.session import driver_rows

    key = "spark.sql.adaptive.enabled"
    found = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        df = spark.range(10).agg(F.sum("id"))

        def probe(_):
            return [driver_rows(df)[0][0] for _ in range(20)]

        with ThreadPoolExecutor(2) as pool:
            assert list(pool.map(probe, range(2))) == [[45] * 20] * 2
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, found)


def test_auto_broadcast_pair_budget_guard(spark, monkeypatch):
    """Auto strategy must not hand two non-tiny sides to a
    BroadcastNestedLoopJoin just because the smaller one fits in
    memory: above the pair budget the binned rewrite is forced (the
    98k x 100k selective case measured 70s BNLJ vs 4s binned).  A
    truly tiny side still broadcasts unconditionally."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark import interval_join
    from dataframeintervals_jl_spark.operators import interval_join as ij
    from dataframeintervals_jl_spark.plans import simple_plan

    monkeypatch.setattr(ij, "AUTO_BNL_PAIR_BUDGET", 1_000)
    monkeypatch.setattr(ij, "BROADCAST_TINY_ROWS", 4)

    def spans(n, ri=False):
        col = "ri" if ri else "li"
        return spark.createDataFrame(
            [(i, {"start": 7 * i, "stop": 7 * i + 10}) for i in range(n)],
            f"{col} long, span struct<start: long, stop: long>",
        )

    big_l, big_r = spans(100), spans(100, ri=True)
    auto = interval_join(big_l, big_r, strategy="auto", validate="skip")
    assert "BroadcastNestedLoopJoin" not in simple_plan(auto)
    ref = interval_join(
        big_l, big_r, strategy="broadcast_right", validate="skip"
    )
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, ref.collect())
    )

    tiny_r = spans(3, ri=True)
    auto_tiny = interval_join(big_l, tiny_r, strategy="auto", validate="skip")
    assert "BroadcastNestedLoopJoin" in simple_plan(auto_tiny)


def test_duplicate_spans_plan_shape(spark):
    """duplicate_spans plan locks: the duplicated-gram count side is
    FILTERED (n_docs_sharing >= min_docs) before the probe join — the
    join's build side is the duplicated fraction, not every distinct
    gram; no cartesian product, no Python eval anywhere."""
    from dataframeintervals_jl_spark.operators.dedup import duplicate_spans
    from dataframeintervals_jl_spark.plans import (
        join_strategies,
        simple_plan,
        uses_python_eval,
    )
    from dataframeintervals_jl_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    out = duplicate_spans(docs, shingle_k=4, min_docs=2, portable=True)
    plan = simple_plan(out)
    assert not uses_python_eval(out)
    assert "CartesianProduct" not in join_strategies(out)
    # the >= filter must sit on the aggregated count, pre-join
    assert "n_docs_sharing" in plan and ">= 2" in plan


def test_excise_token_spans_plan_shape(spark):
    """excise_token_spans plan locks: the excision is pure expression
    (no Python eval), the only join is the per-doc span-array equi-join
    on the id, and the corpus is never exploded (no Generate over the
    docs side)."""
    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.dedup import (
        excise_token_spans,
    )
    from dataframeintervals_jl_spark.plans import (
        join_strategies,
        simple_plan,
        uses_python_eval,
    )
    from dataframeintervals_jl_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    spans = spark.createDataFrame(
        [(1, {"start": 0, "stop": 2})],
        "doc_id long, span struct<start: long, stop: long>",
    )
    out = excise_token_spans(docs, spans)
    assert not uses_python_eval(out)
    strategies = join_strategies(out)
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in strategies
    assert "Generate" not in simple_plan(out)  # corpus never explodes


def test_incremental_duplicate_spans_plan_shape(spark, tmp_path):
    """Incremental gram-index probe plan locks: the history index scans
    IN PLACE (bucketed file scan — no Exchange of the index side), the
    increment broadcasts, and the only shuffles are hit-sized (the
    per-position segment sum and the per-doc island merge)."""
    import os

    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.dedup import (
        incremental_duplicate_spans,
        write_gram_index,
    )
    from dataframeintervals_jl_spark.plans import (
        count_exchanges,
        simple_plan,
        uses_python_eval,
    )
    from dataframeintervals_jl_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    third = F.pmod(F.col("doc_id"), F.lit(3))
    tbl = f"gram_idx_planlock_{os.getpid()}"
    write_gram_index(
        docs.filter(third != 0), tbl, n_buckets=8,
        path=str(tmp_path / "gidx"), shingle_k=4, portable=True,
    )
    out = incremental_duplicate_spans(
        docs.filter(third == 0), spark.table(tbl), shingle_k=4,
        portable=True,
    )
    plan = simple_plan(out)
    assert "Bucketed: true" in plan          # index read in place
    assert "BroadcastHashJoin" in plan       # increment broadcasts
    assert count_exchanges(out) <= 2         # hit-sized shuffles only
    assert not uses_python_eval(out)


def test_dsir_weights_plan_contract(spark):
    """The num_buckets-row ratio table must broadcast onto the gram
    stream (never shuffle it), and the whole operator stays
    expression-only — no Python UDF, no cartesian product.  Also pins
    the driver-side action count during construction: ONE fused totals
    collect (both persisted count tables materialize inside it), not
    the two sequential per-side totals collects."""
    from dataframeintervals_jl_spark.operators.tfidf import dsir_weights

    corpus = spark.createDataFrame(
        [(i, f"tok{i} tok{i + 1} tok{i + 2}") for i in range(50)],
        "doc_id long, text string",
    )
    target = corpus.filter("doc_id < 10")
    collects = []
    # patch the CONCRETE class (pyspark 4: sql.classic.dataframe), not
    # the abstract pyspark.sql.dataframe base the classic one overrides
    cls = type(corpus)
    orig_collect = cls.collect
    cls.collect = lambda self: (collects.append(1), orig_collect(self))[1]
    try:
        out = dsir_weights(corpus, target, num_buckets=128)
    finally:
        cls.collect = orig_collect
    assert len(collects) == 1, f"dsir construction ran {len(collects)} collects"
    # round 11: the operator eagerly materializes its document-sized
    # weight table (consumers like importance_resample evaluate it
    # twice — max-weight aggregate + filter — and would otherwise
    # replay the gram join per evaluation), so the returned plan is
    # the checkpoint scan and downstream evaluations replay nothing
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, "expected the checkpointed weights"
    assert plan.count("Exchange") == 0, "no shuffle may survive the checkpoint"
    assert "BatchEvalPython" not in plan


def test_k_core_plan_contract(spark, monkeypatch):
    """Every peel is semi-join + partial-agg shaped: no cartesian
    products, no Python UDFs, no non-semi row-multiplying joins in the
    final core's plan.  The driver fast path is disabled so the
    DISTRIBUTED loop (the 100 TB route) is what is plan-checked."""
    import dataframeintervals_jl_spark.operators.graph as G
    from dataframeintervals_jl_spark.operators.graph import k_core

    monkeypatch.setattr(G, "DRIVER_EDGE_THRESHOLD", -1)
    edges = [(i % 13, (i * 7) % 13) for i in range(60)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = k_core(df, k=2, rounds=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan


def test_keep_best_per_cluster_plan_contract(spark):
    """The winner-selection path is one partial-aggregated struct-max
    plus id-keyed joins — no cartesian product, no Python UDF, no
    window sort."""
    from dataframeintervals_jl_spark.operators.dedup import (
        keep_best_per_cluster,
    )

    docs = spark.createDataFrame(
        [(i, f"t{i}", i % 7) for i in range(60)],
        "doc_id long, text string, q long",
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "id_a long, id_b long"
    )
    out = keep_best_per_cluster(docs, pairs, F.col("q"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "Window" not in plan


def test_domain_curation_plan_contract(spark):
    """URL extraction is a pure narrow projection (zero exchanges);
    domain_caps evaluates the cap inside the window stage
    (WindowGroupLimit below the sort); blocklist_filter is a broadcast
    LEFT ANTI join — the corpus never shuffles for the filter."""
    from dataframeintervals_jl_spark.operators.curation import (
        blocklist_filter,
        domain_caps,
        extract_url_parts,
    )

    docs = spark.createDataFrame(
        [(i, f"https://www.s{i % 5}.com/p/{i}", i % 17) for i in range(60)],
        "doc_id long, url string, n_chars long",
    )
    parts = extract_url_parts(docs)
    assert count_exchanges(parts) == 0
    assert_no_python_row_udf(parts)

    capped = domain_caps(parts, 3, [F.col("n_chars").desc(), F.col("doc_id")])
    plan = capped._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "WindowGroupLimit" in plan
    assert count_exchanges(capped) == 1  # the one domain-key shuffle

    kept = blocklist_filter(parts, ["s1.com", "s3.com"])
    plan = kept._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_domain_curation_semantics(spark):
    from dataframeintervals_jl_spark.operators.curation import (
        blocklist_filter,
        domain_caps,
        extract_url_parts,
        registered_domain,
    )

    docs = spark.createDataFrame(
        [
            (1, "https://www.blog.example.com/a", 10),
            (2, "https://example.com:8080/b?q=1", 20),
            (3, "https://cdn.other.org/c", 30),
            (4, "https://other.org/d", 40),
            (5, "https://other.org/e", 50),
            (6, "not a url", 60),
        ],
        "doc_id long, url string, n_chars long",
    )
    parts = extract_url_parts(docs)
    got = {r["doc_id"]: (r["host"], r["domain"]) for r in parts.collect()}
    assert got[1] == ("www.blog.example.com", "example.com")
    assert got[2] == ("example.com", "example.com")  # port stripped
    assert got[3] == ("cdn.other.org", "other.org")
    assert got[6] == (None, None)  # malformed URL -> nulls propagate

    # cap at 1 per domain preferring longest: other.org keeps doc 5;
    # malformed-URL rows form one NULL-domain group, itself capped
    # (WindowGroupLimit bounds it map-side, so it cannot skew a task)
    capped = domain_caps(parts, 1, [F.col("n_chars").desc(), F.col("doc_id")])
    assert {r["doc_id"] for r in capped.collect()} == {2, 5, 6}

    # blocklist as python iterable and as 1-column DataFrame agree
    kept1 = {r["doc_id"] for r in blocklist_filter(parts, ["other.org"]).collect()}
    bl = spark.createDataFrame([("other.org",)], "d string")
    kept2 = {r["doc_id"] for r in blocklist_filter(parts, bl).collect()}
    assert kept1 == kept2 == {1, 2, 6}

    # single-label host passes through whole at any n_labels
    one = spark.createDataFrame([("x",)], "h string")
    assert one.select(registered_domain("h", 3).alias("d")).first()["d"] == "x"

    import pytest as _pytest
    with _pytest.raises(ValueError):
        registered_domain("h", 0)
    with _pytest.raises(ValueError):
        blocklist_filter(parts, docs)  # 3-column blocklist rejected


def test_corruption_transforms_plan_and_semantics(spark):
    """span_corrupt / fim_split are single narrow projections: zero
    exchanges, no Python eval — and the fold semantics match a
    hand-checked example (overlapping spans merge into one sentinel,
    sentinel ids count left-to-right, targets carry the masked spans,
    FIM pieces reassemble the document)."""
    from dataframeintervals_jl_spark.operators.corruption import (
        fim_split,
        span_corrupt,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(8)]
        + [(100, ""), (101, "solo")],
        "doc_id long, text string",
    )
    out = span_corrupt(docs, start_ppm=400_000, max_span=2)
    assert count_exchanges(out) == 0
    assert_no_python_row_udf(out)
    rows = {r["doc_id"]: r for r in out.collect()}

    # empty doc: empty strings, zero counts
    assert rows[100]["corrupted"] == "" and rows[100]["targets"] == ""
    assert rows[100]["n_spans"] == 0 and rows[100]["n_masked"] == 0

    # reconstruction invariant: replacing each sentinel in `corrupted`
    # by its span from `targets` restores the original text
    import re

    for doc_id, r in rows.items():
        orig = {**{i: "alpha beta gamma delta epsilon zeta" for i in range(8)},
                100: "", 101: "solo"}[doc_id]
        tgt = r["targets"]
        spans = {}
        if tgt:
            parts = re.split(r"<extra_id_(\d+)> ?", tgt)
            # parts = ['', k0, span0, k1, span1, ...]
            for k, sp in zip(parts[1::2], parts[2::2]):
                spans[int(k)] = sp.strip()
        rebuilt = r["corrupted"]
        for k, sp in spans.items():
            rebuilt = rebuilt.replace(f"<extra_id_{k}>", sp)
        assert " ".join(rebuilt.split()) == orig, doc_id
        # counts consistent: n_masked tokens across n_spans runs
        assert r["n_spans"] == len(spans)
        assert r["n_masked"] == sum(len(s.split()) for s in spans.values())
        # sentinel ids are 0..n_spans-1 in order of appearance
        seen = [int(m) for m in re.findall(r"<extra_id_(\d+)>", r["corrupted"])]
        assert seen == sorted(seen) == list(range(r["n_spans"]))

    fim = fim_split(docs)
    assert count_exchanges(fim) == 0
    assert_no_python_row_udf(fim)
    for r in fim.collect():
        orig = {**{i: "alpha beta gamma delta epsilon zeta" for i in range(8)},
                100: "", 101: "solo"}[r["doc_id"]]
        pieces = " ".join(
            p for p in (r["prefix"], r["middle"], r["suffix"]) if p
        )
        assert pieces == orig
        assert r["psm"] == (
            f"<PRE>{r['prefix']}<SUF>{r['suffix']}<MID>{r['middle']}"
        )

    import pytest as _pytest
    with _pytest.raises(ValueError):
        span_corrupt(docs, start_ppm=0)
    with _pytest.raises(ValueError):
        span_corrupt(docs, max_span=0)


def test_domain_quota_sample_contract(spark):
    """Quota sampling: broadcast rate join + row-local hash filter (no
    window, no sort), rates are exact integer ppm, NULL domains form
    their own group, and full-quota domains keep everything."""
    from dataframeintervals_jl_spark.operators.curation import (
        domain_quota_sample,
    )
    from dataframeintervals_jl_spark.operators.sampling import (
        BUCKETS,
        _bucket,
    )

    docs = spark.createDataFrame(
        [(i, "big.com" if i < 400 else ("small.org" if i < 404 else None))
         for i in range(408)],
        "doc_id long, domain string",
    )
    out = domain_quota_sample(docs, quota=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan and "Window" not in plan
    assert "SortMergeJoin" not in plan

    rows = out.collect()
    by_dom = {}
    for r in rows:
        by_dom.setdefault(r["domain"], set()).add(r["doc_id"])
    # small.org (4 docs <= quota) keeps everything
    assert by_dom.get("small.org") == {400, 401, 402, 403}
    # NULL domain (4 docs <= quota) keeps everything too
    assert by_dom.get(None) == {404, 405, 406, 407}
    # big.com kept set == the exact hash-threshold replay
    rppm = min(BUCKETS, (8 * BUCKETS) // 400)
    want = {
        r["doc_id"]
        for r in docs.filter(F.col("domain") == "big.com")
        .filter(_bucket(F.col("doc_id"), "domquota") < F.lit(rppm))
        .collect()
    }
    assert by_dom.get("big.com", set()) == want
    # determinism: second run identical
    again = {r["doc_id"] for r in domain_quota_sample(docs, quota=8).collect()}
    assert again == {r["doc_id"] for r in rows}

    import pytest as _pytest
    with _pytest.raises(ValueError):
        domain_quota_sample(docs, quota=0)


def test_clean_text_semantics(spark):
    from dataframeintervals_jl_spark.functions.text import clean_text

    rows = [
        ("\t hello \x07world\x1b  now\r\n", "hello world now"),
        ("already clean", "already clean"),
        ("", ""),
        ("\x00\x01\x02", ""),
        ("a\n\nb\tc", "a b c"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], "t string")
    got = [r["c"] for r in df.select(clean_text("t").alias("c")).collect()]
    assert got == [w for _, w in rows]


def test_url_host_matches_oracle_regex(spark):
    """The domain-curation oracles replay host extraction with HOST_RE
    while the engine uses try_parse_url — this pins their equivalence
    on the synthetic URL grammar (and documents where they diverge:
    userinfo, which the grammar never produces)."""
    from dataframeintervals_jl_spark.operators.curation import (
        HOST_RE,
        url_host,
    )

    urls = [
        "https://www.src1.example.com/p/123",
        "http://cdn.src2.org:8080/a/b?q=1#f",
        "https://src3.net/",
        "https://a.b.c.d.com/x",
        "https://host.com",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        url_host(F.col("url")).alias("h"),
        F.regexp_extract("url", HOST_RE, 1).alias("rx"),
    ).collect()
    for r in rows:
        assert r["h"] == r["rx"], (r["h"], r["rx"])


def test_bpe_tokenize_plan_contract(spark):
    """The Arrow tokenizer is the sanctioned batched path: exactly one
    ArrowEvalPython stage (never row-at-a-time BatchEvalPython), no
    shuffle for tokenization itself, and the downstream histogram
    keeps map-side partial aggregation around one exchange."""
    from dataframeintervals_jl_spark.operators.bpe import (
        bpe_tokenize,
        synthetic_merges,
    )
    from dataframeintervals_jl_spark.plans import simple_plan

    docs = spark.createDataFrame(
        [(i, f"alpha beta g{i}") for i in range(40)],
        "doc_id long, text string",
    )
    toks = bpe_tokenize(docs, synthetic_merges(64))
    plan = toks._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    assert count_exchanges(toks) == 0

    hist = (
        toks.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    hp = simple_plan(hist)
    assert hp.count("HashAggregate") >= 2
    assert_max_exchanges(hist, 1)


def test_hypertable_aggregates_plan_shape(spark):
    """The hypertable family's scale contract: windows are a broadcast
    side (never a shuffled or nested-loop large-large join), nothing
    falls back to row-at-a-time Python, and the final rollup partial-
    aggregates map-side (HashAggregate pairs around one exchange)."""
    from dataframeintervals_jl_spark.operators.quantile_windows import (
        quantile_windows,
    )
    from dataframeintervals_jl_spark.operators.timeseries import (
        counter_windows,
        duration_in_state,
        gauge_windows,
        heartbeat_windows,
        ohlc_windows,
        time_weighted_avg,
    )

    ev = read_table(spark, SF_DIR, "events").select(
        "user_id", "event_type", "ts", "event_id",
        F.round(F.col("value") * 1_000_000).cast("long").alias("v_fx"),
    )
    es = event_spans(spark, SF_DIR)
    w = quantile_windows(spark, 8, es, label="widx")

    outs = {
        "twa_locf": time_weighted_avg(
            ev, w, "v_fx", ts_col="ts", by="event_type", order=["event_id"]
        ),
        "twa_linear": time_weighted_avg(
            ev, w, "v_fx", ts_col="ts", by="event_type",
            order=["event_id"], method="linear",
        ),
        "duration_in_state": duration_in_state(
            ev, w, "event_type", ts_col="ts", order=["event_id"]
        ),
        "counter_windows": counter_windows(
            ev, w, "v_fx", ts_col="ts", by="user_id", order=["event_id"]
        ),
        "gauge_windows": gauge_windows(
            ev, w, "v_fx", ts_col="ts", by="user_id", order=["event_id"]
        ),
        "ohlc_windows": ohlc_windows(
            ev, w, "v_fx", ts_col="ts", by="user_id", order=["event_id"]
        ),
        "heartbeat_windows": heartbeat_windows(
            ev, w, 3_600_000_000_000, ts_col="ts", by="user_id"
        ),
    }
    for name, out in outs.items():
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert_no_python_row_udf(out)
        assert "CartesianProduct" not in plan, name
        assert count_broadcast_exchanges(out) >= 1, (
            f"{name}: windows side must broadcast"
        )
        # min_by/max_by over a struct ordinal buffer is not hash-
        # aggregable: gauge/ohlc plan as a SortAggregate PAIR — still
        # map-side partial (partial_sum/partial_max_by before the
        # exchange), which is the property under test
        n_agg = plan.count("HashAggregate") + plan.count("SortAggregate")
        assert n_agg >= 2 and "partial_" in plan, (
            f"{name}: partial aggregation missing"
        )


def test_domain_quota_sample_null_domain_group(spark):
    """NULL domains (malformed URLs) form their own quota group — the
    eqNullSafe join must keep them, matching the oracle's
    IS NOT DISTINCT FROM replay (ADVICE r9: a plain USING join would
    silently drop every malformed-URL row)."""
    from dataframeintervals_jl_spark.operators.curation import (
        domain_quota_sample,
    )

    rows = [(i, "ok.example") for i in range(4)] + [
        (100 + i, None) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    kept = domain_quota_sample(df, quota=10)  # rate 1e6: keep all
    got = {(r["doc_id"], r["domain"]) for r in kept.collect()}
    assert got == set(rows), "NULL-domain rows must survive the join"


def test_topn_windows_window_group_limit(spark):
    """topn_windows' rank must plan as WindowGroupLimit — each task
    keeps at most N rows per window BEFORE the final shuffle — with
    the windows side broadcast and no Python anywhere."""
    from dataframeintervals_jl_spark.operators.quantile_windows import (
        quantile_windows,
    )
    from dataframeintervals_jl_spark.operators.timeseries import (
        topn_windows,
    )

    ev = read_table(spark, SF_DIR, "events").select("user_id", "ts")
    es = event_spans(spark, SF_DIR)
    w = quantile_windows(spark, 8, es, label="widx")
    out = topn_windows(ev, w, "user_id", 5, ts_col="ts")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, "top-k pruning missing"
    assert count_broadcast_exchanges(out) >= 1
    assert_no_python_row_udf(out)


def test_masked_twa_plan_shape(spark):
    """VERDICT r10 #1: the masked-TWA composition must derive its
    run/island machinery ONCE.  The round-10 plan replayed the
    fragment pipeline per reference — 11 Window passes, 10
    BroadcastExchanges, 148 plan lines; after the tiny-left
    span_difference fast path + eager fragment materialization the
    executed plan holds ≤5 Windows and ≤4 broadcasts.  A regression
    that re-inlines the island derivation fails here."""
    import re

    from dataframeintervals_jl_spark.queries import QUERIES

    out = QUERIES["q_masked_twa"][0](spark, SF_DIR)
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_win = len(re.findall(r"\bWindow\b", plan))
    assert n_win <= 5, f"masked TWA window passes regressed: {n_win}"
    n_bc = plan.count("BroadcastExchange")
    assert n_bc <= 4, f"masked TWA broadcast count regressed: {n_bc}"
    assert "CartesianProduct" not in plan
    assert_no_python_row_udf(out)


def test_gapfill_plan_no_cartesian_grid(spark):
    """The gapfill grid (every key x window pair) must come from a
    DISTINCT-keys table crossed with the broadcast-tiny windows side —
    never a CartesianProduct over the full samples table."""
    from dataframeintervals_jl_spark.queries import QUERIES

    for qname in ("q_gapfill_locf", "q_gapfill_interp"):
        out = QUERIES[qname][0](spark, SF_DIR)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, qname
        assert count_broadcast_exchanges(out) >= 1, qname
        assert_no_python_row_udf(out)


def test_hll_windows_plan_register_bound(spark):
    """hll_windows must aggregate map-side into per-(key, window)
    register rows — partial aggregation before the one shuffle, no
    per-event register explosion surviving past it, windows broadcast."""
    from dataframeintervals_jl_spark.queries import QUERIES

    out = QUERIES["q_hll_windows"][0](spark, SF_DIR)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_" in plan, "map-side partial aggregation missing"
    assert "CartesianProduct" not in plan
    assert count_broadcast_exchanges(out) >= 1
    assert_no_python_row_udf(out)


def test_expression_stage_queries_no_shuffle(spark):
    """The round-11 expression-only stages (html extraction, sentence
    segmentation) must stay pure narrow projections — ZERO exchanges,
    no Python — and the canonicalization dedup must be exactly one
    partial-aggregated shuffle on the canonical key."""
    from dataframeintervals_jl_spark.queries import QUERIES

    for qname in ("q_html_extract", "q_sentence_stats"):
        out = QUERIES[qname][0](spark, SF_DIR)
        assert_max_exchanges(out, 0)
        assert_no_python_row_udf(out)

    out = QUERIES["q_url_canonical_dedup"][0](spark, SF_DIR)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert_max_exchanges(out, 1)
    assert "partial_" in plan, "dedup groupBy must partial-aggregate"
    assert_no_python_row_udf(out)


def test_histogram_windows_plan_shape(spark):
    """histogram_windows: bucket expression stays JVM codegen (no
    Python), the windows side broadcasts, and the count
    partial-aggregates around ONE exchange — shuffled bytes scale with
    (key, window, bucket) triples, not samples."""
    from dataframeintervals_jl_spark.operators.quantile_windows import (
        quantile_windows,
    )
    from dataframeintervals_jl_spark.operators.timeseries import (
        histogram_windows,
    )
    from pyspark.sql import functions as F

    ev = read_table(spark, SF_DIR, "events").select(
        "event_type", "ts",
        F.round(F.col("value") * 1_000).cast("long").alias("v_fx"),
    )
    es = event_spans(spark, SF_DIR)
    w = quantile_windows(spark, 8, es, label="widx")
    out = histogram_windows(
        ev, w, "v_fx", 0, 100_000, 10, ts_col="ts", by="event_type"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2, "partial aggregation missing"
    assert count_broadcast_exchanges(out) >= 1
    assert_no_python_row_udf(out)


def test_autocorrelation_single_window_pass(spark):
    """autocorrelation: all max_lag lag columns must evaluate in ONE
    Window operator (one per-key sort), the explode amplifies map-side,
    and the moment aggregation partial-aggregates around one exchange."""
    import re

    from dataframeintervals_jl_spark.operators.timeseries import (
        autocorrelation,
    )
    from pyspark.sql import functions as F

    ev = read_table(spark, SF_DIR, "events").select(
        "event_type", "ts", "event_id",
        F.round(F.col("value") * 1_000).cast("long").alias("v_fx"),
    )
    out = autocorrelation(
        ev, "v_fx", 4, ts_col="ts", by="event_type", order=["event_id"]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bWindow\b", plan)) == 1, plan
    assert plan.count("HashAggregate") >= 2, "partial aggregation missing"
    assert_no_python_row_udf(out)


def test_seasonal_anomaly_plan_shape(spark):
    """seasonal_anomaly_counts: the stats table must BROADCAST back
    onto the samples (groups are keys x period/bucket — dimension-
    sized), both aggregations partial-aggregate, and no Python
    anywhere."""
    from dataframeintervals_jl_spark.operators.timeseries import (
        seasonal_anomaly_counts,
    )
    from pyspark.sql import functions as F

    ev = read_table(spark, SF_DIR, "events").select(
        "event_type", "ts",
        F.round(F.col("value") * 1_000).cast("long").alias("v_fx"),
    )
    hour = 3_600 * 10**9
    out = seasonal_anomaly_counts(
        ev, "v_fx", 24 * hour, hour, ts_col="ts", by="event_type", z=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert count_broadcast_exchanges(out) >= 1, "stats join not broadcast"
    assert plan.count("HashAggregate") >= 2, "partial aggregation missing"
    assert_no_python_row_udf(out)


def test_psi_drift_plan_shape(spark):
    """psi_drift: ONE partial-agged shuffle carries (split, B counts)
    pivot rows; the corpus baseline broadcasts back; no Python, no
    per-bucket join against sample rows."""
    from dataframeintervals_jl_spark.operators.profile import psi_drift
    from pyspark.sql import functions as F

    docs = read_table(spark, SF_DIR, "documents").select(
        "source", F.col("n_chars").cast("long").alias("x")
    )
    out = psi_drift(docs, "x", 0, 600, 12, "source")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2, "partial aggregation missing"
    assert count_broadcast_exchanges(out) >= 1, "baseline join not broadcast"
    assert_no_python_row_udf(out)


def test_cross_correlation_plan_shape(spark):
    """cross_correlation: the only stages that see sample volume are
    the two partial-agged count shuffles; the zero-fill grid joins
    BROADCAST (dimension-sized series); no Python."""
    from dataframeintervals_jl_spark.operators.timeseries import (
        cross_correlation,
    )
    from pyspark.sql import functions as F

    ev = read_table(spark, SF_DIR, "events")
    out = cross_correlation(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "error"),
        3_600 * 10**9,
        6,
        ts_col="ts",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 4, "partial aggregation missing"
    assert count_broadcast_exchanges(out) >= 2, "grid fill not broadcast"
    assert_no_python_row_udf(out)


def test_pmi_collocations_plan_shape(spark):
    """pmi_collocations: bigram/unigram counts partial-aggregate (the
    exchanges carry token pairs, never text), the scalar totals
    BROADCAST, and no Python anywhere."""
    from dataframeintervals_jl_spark.operators.tfidf import (
        pmi_collocations,
    )

    docs = read_table(spark, SF_DIR, "documents")
    out = pmi_collocations(docs, min_count=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 4, "partial aggregation missing"
    assert count_broadcast_exchanges(out) >= 1, "totals not broadcast"
    assert_no_python_row_udf(out)


def test_round11_late_expression_plan_shapes(spark):
    """Shared plan lock for the round-11 continuation operators:
    entropy_windows (broadcast stab + ONE partial-agged pivot),
    psi_timeline (pivot shuffle + dimension self-join, no sample-level
    join), gram_novelty (both count tables partial-agged, no text in
    the exchanges), temporal_split (embargo filter pushes to the
    scan).  No Python anywhere."""
    import re

    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark.operators.dedup import gram_novelty
    from dataframeintervals_jl_spark.operators.profile import psi_timeline
    from dataframeintervals_jl_spark.operators.quantile_windows import (
        quantile_windows,
    )
    from dataframeintervals_jl_spark.operators.sampling import temporal_split
    from dataframeintervals_jl_spark.operators.timeseries import (
        entropy_windows,
    )

    ev = read_table(spark, SF_DIR, "events")
    es = event_spans(spark, SF_DIR)
    w = quantile_windows(spark, 8, es, label="widx")

    ent = entropy_windows(
        ev.select("event_type", "ts"), w, "event_type",
        ["click", "view"], ts_col="ts",
    )
    plan = ent._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2
    assert count_broadcast_exchanges(ent) >= 1
    assert_no_python_row_udf(ent)

    hour = 3_600 * 10**9
    psi = psi_timeline(
        ev.select("ts", F.round(F.col("value") * 1000).cast("long")
                  .alias("v")),
        "v", 0, 100_000, 10, 24 * hour, ts_col="ts",
    )
    plan = psi._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2
    assert_no_python_row_udf(psi)

    docs = read_table(spark, SF_DIR, "documents")
    nov = gram_novelty(docs, shingle_k=5)
    plan = nov._jdf.queryExecution().executedPlan().toString()
    # round 11: gram_novelty eagerly materializes its document-sized
    # result (the shared (doc, gram-hash) table is persisted for the
    # df + join-back branches, then released behind a checkpoint) —
    # the returned plan is the checkpoint scan, so downstream
    # consumers replay NO part of the tokenize+hash+agg pipeline
    assert "Scan ExistingRDD" in plan, "expected the checkpointed result"
    assert plan.count("Exchange") == 0, "no shuffle may survive the checkpoint"
    assert_no_python_row_udf(nov)

    ts = temporal_split(
        ev.select("event_id", "ts"), [1_704_931_200 * 10**9],
        embargo_ns=hour, labels=("train", "test"), ts_col="ts",
    )
    plan = ts._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange\b", plan)) == 0, (
        "temporal_split must stay shuffle-free"
    )
    assert "PushedFilters: [" in plan, "embargo filter must reach the scan"
    assert_no_python_row_udf(ts)


def test_markov_transitions_plan_shape(spark):
    """markov_transitions: ONE wide shuffle (the user-keyed window
    sort), partial-agged pair counts, and the per-from totals joined
    by BROADCAST (never a second wide shuffle on from_type).  No
    Python anywhere."""
    from dataframeintervals_jl_spark.operators.asof_join import (
        markov_transitions,
    )

    ev = read_table(spark, SF_DIR, "events")
    out = markov_transitions(ev)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re as _re
    # The window + pair-count subtree runs ONCE inside the eager
    # localCheckpoint; the final plan must read the materialized pair
    # table in BOTH branches -- zero Window nodes here means the wide
    # shuffle cannot be replayed by the totals branch.
    n_win = len(_re.findall(r"\bWindow\b", plan))
    assert n_win == 0, f"pair subtree replayed: {n_win} window passes"
    assert "ExistingRDD" in plan, "pair table not materialized"
    assert plan.count("HashAggregate") >= 2, "partial totals agg missing"
    assert count_broadcast_exchanges(out) >= 1, "totals not broadcast"
    assert_no_python_row_udf(out)


def test_max_drawdown_plan_shape(spark):
    """max_drawdown: the groupBy must REUSE the window's user_id hash
    partitioning — exactly one exchange in the whole plan, one window
    pass, no Python."""
    import re as _re

    from dataframeintervals_jl_spark.operators.timeseries import (
        max_drawdown,
    )

    ev = read_table(spark, SF_DIR, "events")
    out = max_drawdown(ev, "value")
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_ex = plan.count("Exchange hashpartitioning")
    assert n_ex == 1, f"partitioning not reused: {n_ex} exchanges"
    n_win = len(_re.findall(r"\bWindow\b", plan))
    assert n_win == 1, f"expected one window pass, got {n_win}"
    assert_no_python_row_udf(out)


def test_nms_spans_plan_shape(spark):
    """suppress_dominated_spans: candidate pairs go through the keyed
    interval join (co-partitioned equi-join — no cartesian, no
    BroadcastNestedLoop on the big sides), dominated ids collapse via
    partial-agged distinct, survivors via LEFT ANTI.  No Python."""
    from dataframeintervals_jl_spark.queries import QUERIES

    out = QUERIES["q_nms_spans"][0](spark, SF_DIR)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan, "survivor anti-join missing"
    assert plan.count("HashAggregate") >= 2, "distinct not partial-agged"
    assert_no_python_row_udf(out)


def test_rfm_plan_shape(spark):
    """rfm_segments: the per-customer table materializes once
    (ExistingRDD in the final plan — the boundary scans must not
    replay the orders shuffle) and scores are pure broadcast-literal
    expressions: NO exchange, window, or join downstream of the
    materialized table.  No Python."""
    from dataframeintervals_jl_spark.operators.profile import (
        rfm_segments,
    )

    od = read_table(spark, SF_DIR, "orders")
    out = rfm_segments(od)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, "per-customer table not materialized"
    for bad in ("Exchange", "Window", "Join", "CartesianProduct"):
        assert bad not in plan, f"unexpected {bad} after materialization"
    assert_no_python_row_udf(out)


def test_session2_light_operator_plan_shapes(spark):
    """Shared plan lock for the continuation-session light operators:
    benford_digits (partial-agged 9-row pivot, no join), cohort_ltv
    (two partial-agged passes + ONE equi-join, no window),
    interarrival_histogram (one keyed window + bounded agg).  No
    Python anywhere."""
    import re as _re

    from dataframeintervals_jl_spark.operators.profile import (
        benford_digits, cohort_ltv,
    )
    from dataframeintervals_jl_spark.operators.timeseries import (
        interarrival_histogram,
    )

    li = read_table(spark, SF_DIR, "lineitem")
    b = benford_digits(li, "l_extendedprice")
    pb = b._jdf.queryExecution().executedPlan().toString()
    assert pb.count("HashAggregate") >= 2, "digit counts not partial-agged"
    assert "Join" not in pb and "CartesianProduct" not in pb
    assert_no_python_row_udf(b)

    od = read_table(spark, SF_DIR, "orders")
    c = cohort_ltv(od)
    pc = c._jdf.queryExecution().executedPlan().toString()
    assert len(_re.findall(r"\bWindow\b", pc)) == 0
    assert pc.count("HashAggregate") >= 4, "cohort passes not partial-agged"
    assert_no_python_row_udf(c)

    ev = read_table(spark, SF_DIR, "events")
    ia = interarrival_histogram(ev)
    pi = ia._jdf.queryExecution().executedPlan().toString()
    assert len(_re.findall(r"\bWindow\b", pi)) == 1
    assert pi.count("HashAggregate") >= 2
    assert_no_python_row_udf(ia)


def test_item_cooccurrence_plan_shape(spark):
    """item_cooccurrence: the distinct (basket, item) table
    materializes ONCE (three consumers — totals + both join sides must
    read the checkpoint, not replay the scan+distinct), the pair
    count partial-aggregates, no cartesian, no Python."""
    from dataframeintervals_jl_spark.operators.profile import (
        item_cooccurrence,
    )

    li = read_table(spark, SF_DIR, "lineitem")
    out = item_cooccurrence(li, "l_orderkey", "l_partkey", min_pairs=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, "basket table not materialized"
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2, "pair counts not partial-agged"
    assert_no_python_row_udf(out)


def test_session2_final_operator_plan_shapes(spark):
    """Shared plan lock for the last continuation-session operators:
    readability and code_detect are PURE EXPRESSIONS (zero exchanges,
    zero joins); ab_test is one partial-agged pivot pass; survival's
    only windows run over the dimension-sized distinct-duration table
    AFTER two partial-agged reductions.  No Python anywhere."""
    from dataframeintervals_jl_spark.queries import QUERIES

    for name in ("q_readability", "q_code_detect"):
        out = QUERIES[name][0](spark, SF_DIR)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"{name}: unexpected shuffle"
        assert "Join" not in plan, f"{name}: unexpected join"
        assert_no_python_row_udf(out)

    ab = QUERIES["q_ab_test"][0](spark, SF_DIR)
    pab = ab._jdf.queryExecution().executedPlan().toString()
    assert pab.count("HashAggregate") >= 2, "pivot not partial-agged"
    assert "Join" not in pab
    assert_no_python_row_udf(ab)

    sv = QUERIES["q_survival_curve"][0](spark, SF_DIR)
    psv = sv._jdf.queryExecution().executedPlan().toString()
    assert psv.count("HashAggregate") >= 4, "reductions not partial-agged"
    assert_no_python_row_udf(sv)
