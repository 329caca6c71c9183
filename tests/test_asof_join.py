"""asof_join semantics: backward/forward, inclusive ties, tolerance,
per-key isolation, null-payload carrying, clash errors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataframeintervals_jl_spark import asof_join


def _left(spark):
    return spark.createDataFrame(
        [(1, "u", 100), (2, "u", 200), (3, "u", 300), (4, "v", 150), (5, "v", 50)],
        "id long, k string, ts long",
    )


def _right(spark):
    return spark.createDataFrame(
        [("u", 90, 9.0), ("u", 200, 20.0), ("u", 250, 25.0), ("v", 60, 6.0)],
        "k string, ts long, val double",
    )


def _rows(df):
    return {r["id"]: (r["ts_right"], r["val_right"]) for r in df.collect()}


def test_backward_inclusive(spark):
    out = asof_join(_left(spark), _right(spark), on="ts", by="k")
    assert out.count() == 5  # one row per left row
    got = _rows(out)
    assert got[1] == (90, 9.0)  # latest at-or-before 100
    assert got[2] == (200, 20.0)  # exact tie matches (<=)
    assert got[3] == (250, 25.0)
    assert got[4] == (60, 6.0)  # per-key isolation
    assert got[5] == (None, None)  # nothing before 50 for v


def test_forward(spark):
    out = asof_join(_left(spark), _right(spark), on="ts", by="k", direction="forward")
    got = _rows(out)
    assert got[1] == (200, 20.0)  # earliest at-or-after 100
    assert got[2] == (200, 20.0)  # tie matches
    assert got[3] == (None, None)  # nothing after 300
    assert got[5] == (60, 6.0)


def test_tolerance(spark):
    out = asof_join(_left(spark), _right(spark), on="ts", by="k", tolerance=10)
    got = _rows(out)
    assert got[1] == (90, 9.0)  # gap 10 <= 10
    assert got[2] == (200, 20.0)  # gap 0
    assert got[3] == (None, None)  # gap 50 > 10
    assert got[4] == (None, None)  # gap 90 > 10


def test_no_by_keys(spark):
    left = spark.createDataFrame([(1, 100), (2, 10)], "id long, ts long")
    right = spark.createDataFrame([(50, 5.0)], "ts long, val double")
    got = _rows(asof_join(left, right, on="ts"))
    assert got == {1: (50, 5.0), 2: (None, None)}


def test_null_payload_value_not_skipped(spark):
    """A legitimately-null right value must NOT be replaced by an older
    non-null one (struct-carry vs per-column ignorenulls)."""
    left = spark.createDataFrame([(1, 100)], "id long, ts long")
    right = spark.createDataFrame(
        [(10, 1.0), (90, None)], "ts long, val double"
    )
    got = _rows(asof_join(left, right, on="ts"))
    assert got == {1: (90, None)}


def test_different_on_names_and_suffix(spark):
    left = spark.createDataFrame([(1, 100)], "id long, t long")
    right = spark.createDataFrame([(42, 7.0)], "rt long, val double")
    out = asof_join(left, right, on=("t", "rt"), suffix="_matched")
    assert out.columns == ["id", "t", "t_matched", "val_matched"]


def test_errors(spark):
    left = _left(spark)
    right = _right(spark)
    with pytest.raises(ValueError, match="direction"):
        asof_join(left, right, on="ts", by="k", direction="sideways")
    with pytest.raises(ValueError, match="not found in left"):
        asof_join(left, right, on="nope", by="k")
    with pytest.raises(ValueError, match="clash"):
        asof_join(
            left.withColumn("val_right", F.lit(1)), right, on="ts", by="k"
        )


def test_one_row_per_left_even_with_right_dupes(spark):
    """Duplicate right timestamps: still exactly one output row per left
    row (the carry keeps the last-in-order one)."""
    left = spark.createDataFrame([(1, 100)], "id long, ts long")
    right = spark.createDataFrame(
        [(90, 1.0), (90, 2.0)], "ts long, val double"
    )
    out = asof_join(left, right, on="ts")
    assert out.count() == 1


def _brute_asof(lefts, rights, direction="backward", tolerance=None):
    """Reference: for each left ts, nearest right (ts, val); a NULL ts
    on either side matches nothing."""
    out = {}
    rights = [r for r in rights if r[0] is not None]
    for i, lt in lefts:
        if lt is None:
            best = None
        elif direction == "backward":
            cand = [r for r in rights if r[0] <= lt]
            best = max(cand, key=lambda r: r[0]) if cand else None
        elif direction == "forward":
            cand = [r for r in rights if r[0] >= lt]
            best = min(cand, key=lambda r: r[0]) if cand else None
        else:  # nearest: min |gap|, exact ties -> the backward row
            best = (
                min(rights, key=lambda r: (abs(r[0] - lt), r[0] > lt))
                if rights
                else None
            )
        if best is not None and tolerance is not None:
            gap = (
                lt - best[0]
                if direction == "backward"
                else best[0] - lt
                if direction == "forward"
                else abs(best[0] - lt)
            )
            if gap > tolerance:
                best = None
        out[i] = best if best else (None, None)
    return out


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_global_asof_bucketed_matches_brute_force(spark, direction):
    """The no-`by` path (range-bucketed two-pass carry) must agree with
    brute force across many bucket boundaries, including buckets with no
    right rows (carry must cross several empty buckets), and with the
    keyed path on one constant key — NULL times on both sides included
    (they land in the NULL bucket and match nothing)."""
    lefts = [(i, i * 97 % 5000) for i in range(400)] + [(400, None)]
    rights = [(j * 61 % 5000, float(j)) for j in range(0, 120)]
    rights = [r for r in rights if r[0] % 7 != 0]  # gaps
    rights.append((None, -1.0))
    left = spark.createDataFrame(lefts, "id long, ts long").repartition(8)
    right = spark.createDataFrame(rights, "ts long, val double").repartition(8)
    got = _rows(asof_join(left, right, on="ts", direction=direction))
    assert got == _brute_asof(lefts, rights, direction)
    one_key = F.lit(0).alias("k")
    keyed = asof_join(
        left.select("*", one_key), right.select("*", one_key),
        on="ts", by="k", direction=direction,
    )
    assert _rows(keyed) == got


def test_global_asof_tolerance(spark):
    lefts = [(i, i * 13 % 997) for i in range(200)]
    rights = [(j * 29 % 997, float(j)) for j in range(60)]
    left = spark.createDataFrame(lefts, "id long, ts long")
    right = spark.createDataFrame(rights, "ts long, val double")
    got = _rows(asof_join(left, right, on="ts", tolerance=15))
    assert got == _brute_asof(lefts, rights, tolerance=15)


def test_global_asof_no_single_partition_exchange(spark):
    """The no-`by` plan must not funnel the main data path through a
    single-partition exchange (the old keyless-window collapse)."""
    from dataframeintervals_jl_spark.plans import simple_plan

    left = spark.range(1000).select(
        F.col("id"), (F.col("id") * 37 % 10000).alias("ts")
    )
    right = spark.range(100).select(
        (F.col("id") * 101 % 10000).alias("ts"), F.col("id").alias("val")
    )
    out = asof_join(left, right, on="ts")
    assert "Exchange SinglePartition" not in simple_plan(out)


def test_global_asof_empty_inputs(spark):
    left = spark.createDataFrame([], "id long, ts long")
    right = spark.createDataFrame([], "ts long, val double")
    assert asof_join(left, right, on="ts").count() == 0


def test_nearest_keyed(spark):
    out = asof_join(
        _left(spark), _right(spark), on="ts", by="k", direction="nearest"
    )
    got = _rows(out)
    assert got[1] == (90, 9.0)  # gap 10 back vs 100 forward
    assert got[2] == (200, 20.0)  # exact match
    assert got[3] == (250, 25.0)  # only backward exists
    assert got[4] == (60, 6.0)  # only backward exists
    assert got[5] == (60, 6.0)  # only forward exists


def test_nearest_tie_prefers_backward(spark):
    left = spark.createDataFrame([(1, "u", 100)], "id long, k string, ts long")
    right = spark.createDataFrame(
        [("u", 90, 1.0), ("u", 110, 2.0)], "k string, ts long, val double"
    )
    got = _rows(asof_join(left, right, on="ts", by="k", direction="nearest"))
    assert got[1] == (90, 1.0)


def test_nearest_tolerance_absolute(spark):
    left = spark.createDataFrame([(1, "u", 150)], "id long, k string, ts long")
    right = spark.createDataFrame(
        [("u", 90, 1.0), ("u", 200, 2.0)], "k string, ts long, val double"
    )
    got = _rows(
        asof_join(
            left, right, on="ts", by="k", direction="nearest", tolerance=40
        )
    )
    assert got[1] == (None, None)  # nearest gap 50 > 40
    got = _rows(
        asof_join(
            left, right, on="ts", by="k", direction="nearest", tolerance=50
        )
    )
    assert got[1] == (200, 2.0)


def test_asof_join_date_and_timestamp_domains(spark):
    """Date/timestamp on-columns: exact ordinal as-of semantics, both
    output time columns restored to their side's domain, timedelta
    tolerance honored; mismatched domains rejected."""
    import datetime as dt

    import pytest
    from pyspark.sql import types as T

    from dataframeintervals_jl_spark import asof_join

    D = dt.date
    left = spark.createDataFrame(
        [(D(2024, 1, 10), 0), (D(2024, 1, 2), 1), (D(2023, 12, 1), 2)],
        "ts date, lid long",
    )
    right = spark.createDataFrame(
        [(D(2024, 1, 1), "a"), (D(2024, 1, 10), "b")],
        "ts date, tag string",
    )
    j = asof_join(left, right, on="ts", direction="backward")
    got = {r["lid"]: (r["ts_right"], r["tag_right"]) for r in j.collect()}
    assert got == {
        0: (D(2024, 1, 10), "b"),  # exact tie matches backward
        1: (D(2024, 1, 1), "a"),
        2: (None, None),  # before every right row
    }
    assert isinstance(j.schema["ts"].dataType, T.DateType)
    assert isinstance(j.schema["ts_right"].dataType, T.DateType)
    # timedelta tolerance in days
    jt = asof_join(
        left, right, on="ts", direction="backward",
        tolerance=dt.timedelta(days=3),
    )
    gt = {r["lid"]: r["tag_right"] for r in jt.collect()}
    assert gt == {0: "b", 1: "a", 2: None}
    # timestamps: µs-exact nearest
    ts0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    lts = spark.createDataFrame(
        [(ts0 + dt.timedelta(microseconds=7), 0)], "ts timestamp, lid long"
    )
    rts = spark.createDataFrame(
        [(ts0, "lo"), (ts0 + dt.timedelta(microseconds=20), "hi")],
        "ts timestamp, tag string",
    )
    jn = asof_join(lts, rts, on="ts", direction="nearest")
    assert jn.first()["tag_right"] == "lo"  # 7µs < 13µs
    with pytest.raises(ValueError, match="domains do not match"):
        asof_join(left, rts, on="ts")


def test_integer_tolerance_rejected_for_domain_on_columns(spark):
    """A bare-int tolerance silently changes units by domain (ns for
    numeric, days for date, µs for timestamp) — domain on-columns must
    require a datetime.timedelta."""
    import datetime as dt

    D = dt.date
    left = spark.createDataFrame([(D(2024, 1, 10), 0)], "ts date, lid long")
    right = spark.createDataFrame([(D(2024, 1, 1), "a")], "ts date, tag string")
    with pytest.raises(TypeError, match="timedelta"):
        asof_join(left, right, on="ts", tolerance=3)
    ts0 = dt.datetime(2024, 1, 1)
    lts = spark.createDataFrame([(ts0, 0)], "ts timestamp, lid long")
    rts = spark.createDataFrame([(ts0, "a")], "ts timestamp, tag string")
    with pytest.raises(TypeError, match="timedelta"):
        asof_join(lts, rts, on="ts", tolerance=10**9)
    # numeric on-columns keep accepting bare ints (epoch-ns)
    jn = asof_join(_left(spark), _right(spark), by="k", tolerance=60)
    assert jn.count() == 5


def test_funnel_counts_exact_semantics(spark):
    """Pinned funnel semantics: anchors at EVERY step-1 event, greedy-
    earliest strictly-later chain, window measured from the anchor.
    User 1 converts only via its SECOND anchor (the first anchor's
    chain exceeds the window) — anchor enumeration is what makes the
    result exact."""
    from dataframeintervals_jl_spark.operators.asof_join import (
        funnel_counts,
    )

    rows = [
        # user 1: anchor A at t=0 -> click at 100 -> purchase at 2000
        # (outside within=1000 from t=0); anchor B at t=1500 -> click
        # 1600 -> purchase 2000 (inside): reaches stage 3 only via B
        (1, "view", 0), (1, "click", 100), (1, "view", 1500),
        (1, "click", 1600), (1, "purchase", 2000),
        # user 2: click BEFORE view only -> stage 1 (order matters)
        (2, "click", 50), (2, "view", 60), (2, "purchase", 61),
        # wait - purchase after view but no click after view: the
        # chain needs view < click < purchase; user 2 stops at stage 1
        # user 3: simultaneous view/click (strictness: click at the
        # SAME ts as view does not count) -> stage 1
        (3, "view", 10), (3, "click", 10),
        # user 4: never views
        (4, "click", 5), (4, "purchase", 6),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts long"
    )
    out = {
        (r["stage"], r["step"]): r["n_keys"]
        for r in funnel_counts(
            ev, ["view", "click", "purchase"], within=1000
        ).collect()
    }
    assert out == {
        (1, "view"): 3,      # users 1, 2, 3 have a view
        (2, "click"): 1,     # only user 1 (strictly-later click in window)
        (3, "purchase"): 1,  # user 1 via anchor B
    }

    import pytest as _pytest

    with _pytest.raises(ValueError, match="steps"):
        funnel_counts(ev, ["view"], within=10)
    with _pytest.raises(ValueError, match="within"):
        funnel_counts(ev, ["view", "click"], within=0)


def test_funnel_counts_timestamp_domain(spark):
    """A TIMESTAMP ts_col must go through the exact µs ordinal, not a
    raw long cast (which yields SECONDS): the same event stream as the
    long-domain test, encoded as timestamps at µs granularity, with
    `within` in µs, must reproduce the long-domain answer.  A plain
    .cast('long') would divide every gap by 1e6 and match everything."""
    from dataframeintervals_jl_spark.operators.asof_join import (
        funnel_counts,
    )

    rows = [
        (1, "view", 0), (1, "click", 100), (1, "view", 1500),
        (1, "click", 1600), (1, "purchase", 2000),
        (2, "click", 50), (2, "view", 60), (2, "purchase", 61),
        (3, "view", 10), (3, "click", 10),
        (4, "click", 5), (4, "purchase", 6),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts long"
    ).withColumn("ts", F.timestamp_micros(F.col("ts")))
    out = {
        (r["stage"], r["step"]): r["n_keys"]
        for r in funnel_counts(
            ev, ["view", "click", "purchase"], within=1000
        ).collect()
    }
    assert out == {(1, "view"): 3, (2, "click"): 1, (3, "purchase"): 1}

    import pytest as _pytest

    with _pytest.raises(TypeError, match="ts_col"):
        funnel_counts(
            ev.withColumn("ts", F.col("ts").cast("string")),
            ["view", "click"],
            within=10,
        )


def test_funnel_counts_property(spark):
    """Property check vs a pure-Python reference: random event streams,
    random window — anchor enumeration + greedy strictly-later chains
    must match exactly."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dataframeintervals_jl_spark.operators.asof_join import (
        funnel_counts,
    )

    STEPS = ["a", "b", "c"]
    event = st.tuples(
        st.integers(min_value=1, max_value=3),      # user
        st.sampled_from(["a", "b", "c", "x"]),      # type (x = noise)
        st.integers(min_value=0, max_value=30),     # ts
    )
    cases = st.tuples(
        st.lists(event, min_size=1, max_size=25),
        st.integers(min_value=1, max_value=15),     # within
    )

    def ref(rows, within):
        by_user = {}
        for u, t, ts in rows:
            by_user.setdefault(u, []).append((ts, t))
        reach = {}
        for u, evs in by_user.items():
            evs.sort()
            best = 0
            anchors = [ts for ts, t in evs if t == STEPS[0]]
            if anchors:
                best = 1
            for t1 in anchors:
                prev, stage = t1, 1
                for step in STEPS[1:]:
                    nxt = min(
                        (ts for ts, t in evs if t == step and ts > prev),
                        default=None,
                    )
                    if nxt is None or nxt > t1 + within:
                        break
                    prev, stage = nxt, stage + 1
                best = max(best, stage)
            reach[u] = best
        return {
            i: sum(1 for b in reach.values() if b >= i)
            for i in range(1, len(STEPS) + 1)
            if sum(1 for b in reach.values() if b >= i)
        }

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(cases)
    def run(case):
        rows, within = case
        ev = spark.createDataFrame(
            rows, "user_id long, event_type string, ts long"
        )
        got = {
            r["stage"]: r["n_keys"]
            for r in funnel_counts(ev, STEPS, within=within).collect()
            if r["n_keys"] > 0
        }
        assert got == ref(rows, within)

    run()


def test_attribution_weights_pinned_semantics(spark):
    """Pinned attribution semantics: half-open lookback window (a
    touch AT the conversion instant never counts), per-user isolation,
    one conversion crediting multiple touches (linear 1/n), a touch
    crediting multiple conversions, deterministic last/first picks
    with id tiebreaks, argument validation."""
    import pytest

    from dataframeintervals_jl_spark.operators.asof_join import (
        attribution_weights,
    )

    rows = [
        (1, "ad", 100, 10), (1, "email", 101, 20), (1, "purchase", 102, 25),
        (1, "ad", 103, 25),          # at conv_ts -> excluded
        (2, "ad", 200, 1), (2, "purchase", 201, 50),   # outside window
        (3, "ad", 300, 5), (3, "purchase", 301, 8),
        (3, "purchase", 302, 9),     # same touch credits both convs
        (4, "ad", 400, 7), (4, "ad", 401, 7),          # ts tie -> id pick
        (4, "purchase", 402, 10),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, event_id long, ts long"
    )

    def got(model):
        return {
            (r["conv_id"], r["touch_id"], r["weight"])
            for r in attribution_weights(
                ev, "purchase", ["ad", "email"], within=20, model=model
            ).collect()
        }

    assert got("last_touch") == {
        (102, 101, 1.0), (301, 300, 1.0), (302, 300, 1.0), (402, 401, 1.0),
    }
    assert got("first_touch") == {
        (102, 100, 1.0), (301, 300, 1.0), (302, 300, 1.0), (402, 400, 1.0),
    }
    assert got("linear") == {
        (102, 100, 0.5), (102, 101, 0.5),
        (301, 300, 1.0), (302, 300, 1.0),
        (402, 400, 0.5), (402, 401, 0.5),
    }

    with pytest.raises(ValueError, match="model"):
        attribution_weights(ev, "purchase", ["ad"], 20, model="u_shaped")
    with pytest.raises(ValueError, match="touch_types"):
        attribution_weights(ev, "purchase", [], 20)
    with pytest.raises(ValueError, match="within"):
        attribution_weights(ev, "purchase", ["ad"], 0)
    with pytest.raises(TypeError, match="ts_col"):
        attribution_weights(
            ev.withColumn("ts", F.col("ts").cast("string")),
            "purchase", ["ad"], 20,
        )


def test_markov_transitions_hand_values(spark):
    """Pinned Markov semantics: per-key sequences ordered by
    (ts, event_id) with the event_id tie-break deciding equal
    timestamps, successors never cross keys, NULL types drop, and
    prob_ppm is the truncating integer division."""
    from dataframeintervals_jl_spark.operators.asof_join import (
        markov_transitions,
    )

    rows = [
        # user 1: a -> b -> a   (ties at ts=10 broken by event_id)
        (1, 1, "a", 0), (2, 1, "b", 10), (3, 1, "a", 10),
        # user 2: a -> a        (no cross-user successor from user 1)
        (4, 2, "a", 0), (5, 2, "a", 5),
        # user 3: a NULL type BREAKS the chain (lead runs before the
        # null filter, so b -> NULL and NULL -> b both drop): no pairs
        (6, 3, "b", 0), (7, 3, None, 1), (8, 3, "b", 2),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts long"
    )
    out = {
        (r["from_type"], r["to_type"]): (r["n"], r["n_from"], r["prob_ppm"])
        for r in markov_transitions(
            ev, order_cols=("ts", "event_id")
        ).collect()
    }
    assert out == {
        ("a", "b"): (1, 2, 500000),
        ("a", "a"): (1, 2, 500000),
        ("b", "a"): (1, 1, 1000000),
    }


def test_event_path_counts_hand_values(spark):
    """Pinned path semantics: depth-3 runs stay inside one key, NULL
    steps drop the run, min_count filters, ties break on event_id."""
    from dataframeintervals_jl_spark.operators.asof_join import (
        event_path_counts,
    )

    rows = [
        (1, 1, "a", 0), (2, 1, "b", 1), (3, 1, "c", 2), (4, 1, "a", 3),
        # user 2 contributes abc once more
        (5, 2, "a", 0), (6, 2, "b", 1), (7, 2, "c", 2),
        # user 3: too short for depth 3
        (8, 3, "a", 0), (9, 3, "b", 1),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts long"
    )
    out = {
        (r["step_1"], r["step_2"], r["step_3"]): r["n"]
        for r in event_path_counts(ev, depth=3).collect()
    }
    assert out == {("a", "b", "c"): 2, ("b", "c", "a"): 1}
    assert event_path_counts(ev, depth=3, min_count=2).count() == 1

    import pytest as _pytest

    with _pytest.raises(ValueError, match="depth"):
        event_path_counts(ev, depth=1)
