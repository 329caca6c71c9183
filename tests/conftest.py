"""Shared fixtures: one session-scoped SparkSession + the seeded
synthetic span tables mirroring the reference's test fixture
(/root/reference/test/runtests.jl:15-20 — Gamma(3,2)-second
inter-arrival durations, cumsum, adjacent nanosecond spans, payload
label in 'a'..'d' and x ~ U(0,1))."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataframeintervals_jl_spark.functions.spans import SPAN_TYPE

EPOCH0 = 1_700_000_000_000_000_000  # fixed ns origin for synthetic spans

SPAN_SCHEMA = T.StructType(
    [
        T.StructField("label", T.StringType(), True),
        T.StructField("x", T.DoubleType(), True),
        T.StructField("span", SPAN_TYPE, True),
    ]
)


@pytest.fixture(scope="session")
def spark():
    from dataframeintervals_jl_spark import get_spark

    import os as _os

    # Test-session latency tuning (round 12).  The suite runs ~15k tiny
    # actions over row counts in the hundreds; two knobs dominate wall
    # time and were A/B-measured per config (fixed hypothesis seed):
    # AQE off (each exchange otherwise materializes as its own job —
    # pure scheduler latency at test scale) and shuffle.partitions=2
    # (8 static reduce tasks per tiny shuffle cost 2-4x on the
    # streaming/foreachBatch parity tests once AQE no longer coalesces
    # them).  Heaviest-pair timings: 220s (AQE off, sp=8) -> 90s (AQE
    # off, sp=2); streaming trio: 80s -> 51s.  cpus=8 beat 4 and 16.
    # AQE stays ON in every production session (get_spark default) —
    # tests that pin AQE-specific plan shapes toggle it locally (see
    # test_plans.py).  DFI_TEST_AQE=1 / DFI_TEST_CPUS / DFI_TEST_SP
    # override for A/Bs.
    s = get_spark(
        app_name="dfi_tests",
        cpus=int(_os.environ.get("DFI_TEST_CPUS", "8")),
    )
    s.conf.set(
        "spark.sql.shuffle.partitions",
        _os.environ.get("DFI_TEST_SP", "2"),
    )
    if not _os.environ.get("DFI_TEST_AQE"):
        s.conf.set("spark.sql.adaptive.enabled", "false")
    yield s
    s.stop()


def synthetic_spans_pdf(n: int = 100, seed: int = 20220601) -> pd.DataFrame:
    """Adjacent (contiguous, non-overlapping) spans per the reference
    recipe: durations ~ Gamma(3, 2) seconds -> cumsum -> [t_i, t_{i+1})."""
    rng = np.random.default_rng(seed)
    durs_ns = (rng.gamma(3.0, 2.0, size=n) * 1e9).astype(np.int64)
    stops = EPOCH0 + np.cumsum(durs_ns)
    starts = np.concatenate(([EPOCH0], stops[:-1]))
    return pd.DataFrame(
        {
            "label": rng.choice(list("abcd"), size=n),
            "x": rng.uniform(size=n),
            "span": [
                {"start": int(s), "stop": int(e)} for s, e in zip(starts, stops)
            ],
        }
    )


@pytest.fixture(scope="session")
def spans_pdf():
    return synthetic_spans_pdf()


@pytest.fixture(scope="session")
def spans_df(spark, spans_pdf):
    return spark.createDataFrame(spans_pdf, schema=SPAN_SCHEMA).cache()


def make_span_df(spark, rows, extra=()):
    """Tiny literal span table: rows = [(start, stop, *extra_vals)].
    ``(None, None)`` is a NULL span; one None endpoint is a NULL field."""
    fields = [T.StructField("span", SPAN_TYPE, True)] + [
        T.StructField(name, dtype, True) for name, dtype in extra
    ]

    def _end(x):
        return None if x is None else int(x)

    data = [
        tuple(
            [
                None
                if r[0] is None and r[1] is None
                else {"start": _end(r[0]), "stop": _end(r[1])}
            ]
            + list(r[2:])
        )
        for r in rows
    ]
    return spark.createDataFrame(data, schema=T.StructType(fields))


def collect_sorted(df):
    """Order-insensitive canonical rows (tuples sorted by repr)."""
    rows = [tuple(r) for r in df.collect()]
    return sorted(rows, key=repr)


def overlap(a, b, bounds="[)"):
    lo = max(a[0], b[0])
    hi = min(a[1], b[1])
    return lo < hi if bounds == "[)" else lo <= hi
