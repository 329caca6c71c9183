"""The benchmark's workloads: inputs, one round of public calls, and the
DuckDB oracle that every query result is checked against.

A round is a list of steps.  A step makes one public call of the engine
(its ``call`` time, up to the return of a lazy DataFrame) and, for a
query, forces the result to the ``noop`` sink (its ``exec`` time).  The
sink carries an ``observe`` of order-insensitive checksums (row count,
sums of ids, keys and durations), so every execution is checked against
the oracle without an extra Spark action.

The steps come in four query groups.  Each workload runs two of them,
paired so that every mechanism is exercised by one workload and
bypassed by the other (see ``predictions.json``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import dataframeintervals_jl_spark as dfi
import numpy as np
import pyarrow as pa
from dataframeintervals_jl_spark.functions.spans import make_span
from dataframeintervals_jl_spark.operators.interval_join import release_join_caches
from dataframeintervals_jl_spark.sources import read_table
from pyspark.sql import functions as F

from gen import TableSpec

DEC = "decimal(38,0)"  # sums of epoch-ns overflow a long
WINDOWS = 500


@dataclass
class Step:
    label: str  # metric prefix: the public function, or its query
    fn: Callable[[dict], object]  # env -> lazy DataFrame (used only if checked)
    input_rows: int = 0  # base-table rows the query consumes
    checks: Callable[[], list] | None = None  # observe exprs; None = no sink


@dataclass
class Group:
    """One query family of the engine, with its inputs and oracle."""

    tables: dict[str, TableSpec]
    steps: Callable[[dict], list[Step]]  # env -> steps
    oracle: Callable[[object, str], dict[str, dict]]  # (duckdb, data dir)


@dataclass
class Workload:
    name: str
    groups: list[Group]

    @property
    def tables(self) -> dict[str, TableSpec]:
        return {k: v for g in self.groups for k, v in g.tables.items()}

    def steps(self, env: dict) -> list[Step]:
        read = Step("read_table", lambda e: _read(e, *sorted(self.tables)))
        return [read] + [st for g in self.groups for st in g.steps(env)]

    def oracle(self, con, data: str) -> dict[str, dict]:
        return {k: v for g in self.groups for k, v in g.oracle(con, data).items()}


def _read(env: dict, *names: str) -> None:
    """``read_table`` every input and add its span column."""
    for n in names:
        env[n] = read_table(env["spark"], env["data"], n).withColumn(
            "span", make_span(F.col("start"), F.col("stop"))
        )


def _dur(c: str = "span"):
    return F.col(f"{c}.stop") - F.col(f"{c}.start")


def _sum(col):
    return F.sum(col.cast(DEC))


def _nrows():
    return F.count(F.lit(1)).alias("nrows")


def _pair_checks(keyed: bool = False, outer: bool = False):
    def checks():
        out = [
            _nrows(),
            _sum(F.col("aid")).alias("aid"),
            _sum(F.col("bid")).alias("bid"),
            _sum(_dur()).alias("dur"),
        ]
        if keyed:
            out.append(_sum(F.col("recording_id")).alias("rid"))
        if outer:
            out += [F.count("aid").alias("n_aid"), F.count("bid").alias("n_bid")]
        return out

    return checks


def _q(con, sql: str) -> dict:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return {k: int(v or 0) for k, v in zip(names, cur.fetchone())}


def _views(con, data: str, *names: str) -> None:
    for name in names:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{data}/{name}.parquet/*.parquet')"
        )


_PAIRS = """
CREATE OR REPLACE TEMP TABLE p AS
SELECT {key} a.id AS aid, b.id AS bid,
       least(a.stop, b.stop) - greatest(a.start, b.start) AS d
FROM {a} a JOIN {b} b ON a.start < b.stop AND b.start < a.stop
"""


# -- overlap_join: unkeyed large x large, binned rewrite and outer recovery --


def _overlap_steps(env: dict) -> list[Step]:
    n = env["rows"]["a"] + env["rows"]["b"]

    def sides():
        return (
            env["a"].select(F.col("id").alias("aid"), "span"),
            env["b"].select(F.col("id").alias("bid"), "span"),
        )

    return [
        Step("interval_join", lambda e: dfi.interval_join(*sides()), n,
             _pair_checks()),
        Step("interval_join_outer",
             lambda e: dfi.interval_join(*sides(), keepleft=True, keepright=True),
             n, _pair_checks(outer=True)),
        Step("release_join_caches", lambda e: release_join_caches()),
    ]


def _overlap_oracle(con, data: str) -> dict:
    _views(con, data, "a", "b")
    con.execute(_PAIRS.format(key="", a="a", b="b"))
    inner = _q(con, "SELECT count(*) nrows, sum(aid) aid, sum(bid) bid, "
                    "sum(d) dur FROM p")
    m = _q(con, "SELECT count(DISTINCT aid) na, sum(DISTINCT aid) sa, "
                "count(DISTINCT bid) nb, sum(DISTINCT bid) sb FROM p")
    ta = _q(con, "SELECT count(*) n, sum(id) s FROM a")
    tb = _q(con, "SELECT count(*) n, sum(id) s FROM b")
    lone_a, lone_b = ta["n"] - m["na"], tb["n"] - m["nb"]
    outer = {
        "nrows": inner["nrows"] + lone_a + lone_b,
        "aid": inner["aid"] + ta["s"] - m["sa"],
        "bid": inner["bid"] + tb["s"] - m["sb"],
        "dur": inner["dur"],
        "n_aid": inner["nrows"] + lone_a,
        "n_bid": inner["nrows"] + lone_b,
    }
    return {"interval_join": inner, "interval_join_outer": outer}


# -- keyed_skew: per-key join of Zipf keys, planned by Count-Min probes ------


def _keyed_steps(env: dict) -> list[Step]:
    def join(e):
        return dfi.interval_join_by(
            e["ka"].select("recording_id", F.col("id").alias("aid"), "span"),
            e["kb"].select("recording_id", F.col("id").alias("bid"), "span"),
            "recording_id",
            strategy="auto",
        )

    return [Step("interval_join_by", join, env["rows"]["ka"] + env["rows"]["kb"],
                 _pair_checks(keyed=True))]


def _keyed_oracle(con, data: str) -> dict:
    _views(con, data, "ka", "kb")
    # range join first, key filter after: a key-hash plan would enumerate
    # the hot key's whole cross product
    con.execute(_PAIRS.format(key="a.recording_id AS ra, b.recording_id AS rb,",
                              a="ka", b="kb"))
    return {"interval_join_by": _q(con, """
        SELECT count(*) nrows, sum(aid) aid, sum(bid) bid, sum(d) dur,
               sum(ra) rid
        FROM p WHERE ra = rb""")}


# -- epoch_rollup: windows x spans on the broadcast path, grouped ------------


def _rollup_steps(env: dict) -> list[Step]:
    def windows(e):
        e["windows"] = dfi.quantile_windows(
            e["spark"], WINDOWS, e["s"].select("label", "span")
        )

    def rollup(e):
        return dfi.groupby_interval_join(
            e["s"].select("label", "span"), e["windows"],
            groups=["index", "label"],
        ).agg(F.count(F.lit(1)).alias("n"), F.sum(_dur()).alias("dur"))

    def checks():
        lab = F.substring("label", 2, 8).cast("long")
        return [
            _nrows(),
            _sum(F.col("n")).alias("n"),
            _sum(F.col("dur")).alias("dur"),
            _sum(F.col("index") * F.col("n")).alias("idx"),
            _sum(lab * F.col("n")).alias("lab"),
        ]

    return [
        Step("quantile_windows", windows),
        Step("groupby_interval_join", rollup, env["rows"]["s"], checks),
    ]


def _rollup_oracle(con, data: str) -> dict:
    _views(con, data, "s")
    b = _q(con, "SELECT min(start) lo, max(stop) hi FROM s")
    q, r = divmod(b["hi"] - b["lo"], WINDOWS)
    edges = [b["lo"] + i * q + (i * r) // WINDOWS for i in range(WINDOWS + 1)]
    con.register("w", pa.table({
        "idx": np.arange(1, WINDOWS + 1, dtype=np.int64),
        "ws": np.array(edges[:-1], dtype=np.int64),
        "we": np.array(edges[1:], dtype=np.int64),
    }))
    return {"groupby_interval_join": _q(con, """
        WITH g AS (
          SELECT w.idx, s.label, count(*) n,
                 sum(least(s.stop, w.we) - greatest(s.start, w.ws)) dur
          FROM s JOIN w ON s.start < w.we AND w.ws < s.stop
          GROUP BY w.idx, s.label)
        SELECT count(*) nrows, sum(n) n, sum(dur) dur, sum(idx * n) idx,
               sum(CAST(substr(label, 2) AS BIGINT) * n) lab
        FROM g""")}


# -- timeline: keyless bucketed prefix scans ---------------------------------


def _timeline_steps(env: dict) -> list[Step]:
    n = env["rows"]["s"]

    def span_checks(*extra):
        def checks():
            return [
                _nrows(),
                _sum(_dur()).alias("len"),
                _sum(F.col("span.start")).alias("starts"),
                *[f() for f in extra],
            ]

        return checks

    def asof(e):
        return dfi.asof_join(
            e["s"].select(F.col("id").alias("aid"), F.col("start").alias("ts")),
            e["s"].select(F.col("stop").alias("ts"), F.col("id").alias("eid")),
            on="ts",
        )

    def asof_checks():
        return [
            _nrows(),
            F.count("ts_right").alias("matched"),
            _sum(F.col("ts_right")).alias("ts_right"),
            _sum(F.col("aid")).alias("aid"),
        ]

    return [
        Step("merge_spans", lambda e: dfi.merge_spans(e["s"].select("span")), n,
             span_checks(lambda: _sum(F.col("n_spans")).alias("n_spans"))),
        Step("asof_join", asof, 2 * n, asof_checks),
    ]


def _timeline_oracle(con, data: str) -> dict:
    _views(con, data, "s")
    con.execute("""
        CREATE OR REPLACE TEMP TABLE isl AS
        WITH f AS (
          SELECT start, stop,
                 max(stop) OVER (ORDER BY start, stop ROWS BETWEEN
                                 UNBOUNDED PRECEDING AND 1 PRECEDING) pmax
          FROM s),
        g AS (
          SELECT start, stop,
                 sum(CASE WHEN pmax IS NULL OR start > pmax THEN 1 ELSE 0 END)
                   OVER (ORDER BY start, stop ROWS UNBOUNDED PRECEDING) isl
          FROM f)
        SELECT min(start) lo, max(stop) hi, count(*) n FROM g GROUP BY isl""")
    merge = _q(con, "SELECT count(*) nrows, sum(hi - lo) len, sum(lo) starts, "
                    "sum(n) n_spans FROM isl")
    gaps = _q(con, """
        WITH x AS (SELECT hi AS gs, lead(lo) OVER (ORDER BY lo) AS ge FROM isl)
        SELECT count(*) nrows, sum(ge - gs) len, sum(gs) starts
        FROM x WHERE ge IS NOT NULL AND ge > gs""")
    profile = _q(con, """
        WITH ev AS (
          SELECT pos, sum(d) delta FROM (
            SELECT start pos, 1 d FROM s UNION ALL SELECT stop, -1 FROM s)
          GROUP BY pos),
        run AS (
          SELECT pos, sum(delta) OVER (ORDER BY pos) depth,
                 lead(pos) OVER (ORDER BY pos) nxt
          FROM ev)
        SELECT count(*) nrows, sum(nxt - pos) len, sum(pos) starts,
               sum(depth) depth, sum((nxt - pos) * depth) covered
        FROM run WHERE nxt IS NOT NULL AND depth > 0""")
    asof = _q(con, """
        WITH l AS (SELECT id aid, start ts FROM s),
             r AS (SELECT stop ts FROM s)
        SELECT count(*) nrows, count(r.ts) matched, sum(r.ts) ts_right,
               sum(l.aid) aid
        FROM l ASOF LEFT JOIN r ON l.ts >= r.ts""")
    return {"merge_spans": merge, "span_gaps": gaps,
            "overlap_profile": profile, "asof_join": asof}


SINGLE = {"s": TableSpec(15_000)}

WORKLOADS = {
    w.name: w
    for w in (
        Workload("overlap_keyed", [
            Group({"a": TableSpec(20_000), "b": TableSpec(20_000)},
                  _overlap_steps, _overlap_oracle),
            Group({"ka": TableSpec(110_000, zipf=1.3),
                   "kb": TableSpec(105_000, zipf=1.3)},
                  _keyed_steps, _keyed_oracle),
        ]),
        Workload("rollup_timeline", [
            Group(SINGLE, _rollup_steps, _rollup_oracle),
            Group(SINGLE, _timeline_steps, _timeline_oracle),
        ]),
    )
}
