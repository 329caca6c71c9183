"""Range buckets: the shared scaffold of the keyless prefix scans.

A window with no partition key (``Window.orderBy(...)``) funnels the
whole table through one task.  The keyless operators — global
``merge_spans`` / ``span_gaps`` / ``overlap_profile``, keyless
``asof_join``, ``pack_sequences``, ``validity_intervals``,
``global_order_rank`` and ``frequency_rank`` — instead split the order
key's range into buckets, run their window inside each bucket in
parallel, and carry state across bucket boundaries through an
O(buckets) summary that is folded on the driver and broadcast back::

    u = bucketize(df, key)                        # 1 min/max probe
    rows = summarize(u, F.sum(x).alias("tot"))    # 1 tiny collect
    offs, acc = [], 0
    for r in rows:                                # the caller's fold
        offs.append((r[BUCKET], acc))
        acc += r["tot"]
    out = attach(u, offs, {"__off": "long"})      # broadcast left join

Equal keys always share a bucket, so a per-bucket window sees every
tie.  Rows whose key is NULL land in the NULL bucket, which the summary
leaves out: they get no carried value, only their within-bucket result.
Each caller gives a NULL key one meaning (row dropped, or a NULL
result) and applies it in its keyed path too, so keyless and keyed
agree on one constant key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import driver_row, driver_rows

BUCKET = "__dfi_bucket"


def bucket_count(spark) -> int:
    """Number of range buckets: enough for every core to get several
    (skew headroom), while the driver summary stays O(buckets) rows."""
    return max(int(spark.sparkContext.defaultParallelism) * 4, 32)


def bucketize(df: DataFrame, key) -> DataFrame:
    """Add ``BUCKET = (key - lo) DIV width`` for the long-valued column
    expression ``key``, with ``lo``/``hi`` from ONE driver probe and
    :func:`bucket_count` equal-width buckets.  Long arithmetic only —
    epoch-ns keys never pass through doubles.  Empty input uses
    ``lo = 0``, so the caller's pipeline yields zero rows with its
    normal schema."""
    key = key.cast("long")
    b = driver_row(df.agg(F.min(key).alias("lo"), F.max(key).alias("hi")))
    lo, hi = int(b["lo"] or 0), int(b["hi"] or 0)
    width = max((hi - lo) // bucket_count(df.sparkSession) + 1, 1)
    return df.withColumn(
        BUCKET, F.call_function("div", key - F.lit(lo), F.lit(width))
    )


def summarize(df: DataFrame, *aggs) -> list:
    """Per-bucket ``aggs`` of a bucketed ``df`` collected to the driver,
    sorted by bucket, NULL bucket excluded."""
    rows = driver_rows(df.groupBy(BUCKET).agg(*aggs))
    return sorted((r for r in rows if r[BUCKET] is not None), key=lambda r: r[BUCKET])


def attach(df: DataFrame, rows, cols: dict) -> DataFrame:
    """Broadcast-left-join the folded ``rows`` — tuples ``(bucket,
    *values)`` — back onto ``df`` by bucket.  ``cols`` maps each value
    column name to its type (a ``DataType`` or a DDL type string)."""
    schema = T.StructType(
        [T.StructField(BUCKET, T.LongType())]
        + [
            T.StructField(n, t if isinstance(t, T.DataType) else T.DataType.fromDDL(t))
            for n, t in cols.items()
        ]
    )
    table = df.sparkSession.createDataFrame(rows, schema)
    return df.join(F.broadcast(table), BUCKET, "left")
