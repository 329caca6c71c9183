"""Keyed join planning from exact per-key pair work, one aggregate.

The keyed interval join has three physical shapes (hash co-partition,
broadcast, composite (key, bin) equi-join), and the right pick depends
on quantities plain side-stats cannot see:

- the PAIR WORK ``J = Σ_k n_l(k) · n_r(k)``: the same-key pairs the
  hash path's per-key nested loop evaluates.  Two million-row sides
  are trivial at a million keys (J ≈ 1M), catastrophic at ten (1e11);
- the HOT-PAIR share ``H / J``, ``H = max_k n_l(k) · n_r(k)``: whether
  one key owns most of that work — skew the (key, bin) shuffle spreads
  only by narrowing bins, the sort-merge path only by AQE's skew split
  or salting.

Both come exactly from ONE driver action: the union of the two sides
grouped by key (map-side partial-aggregated, one shuffled row per key
per task) and reduced to one row, which also carries each side's
count, mean duration and covering range for the binned width model.

The reference has no planner at all (eager operator-at-a-time Julia,
SURVEY.md §3); this module is engine-original.
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass
from typing import Any, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import driver_row

#: A key whose pair share exceeds this fraction of J gets the skew
#: warning (one shuffle partition will carry most of the join).
HOT_PAIR_WARN_SHARE = 0.5

#: The hash path is preferred until predicted pair evaluations exceed
#: this multiple of the rows shuffled — below it, the per-key nested
#: loop is cheaper than the binned path's explode + double shuffle.
PAIR_WORK_FACTOR = 16


@dataclass
class SpanStats:
    """One side's inputs to the binned width model: rows (NULL keys
    included), mean span duration and covering range ``[lo, hi]``."""

    n: int
    dur: float  #: 1.0 when no span has a duration
    lo: Any  #: None when unknown or empty
    hi: Any


@dataclass
class KeyedJoinProfile:
    """Driver-side planning profile of one keyed join.  Counts and pair
    work cover non-NULL keys only — equi-joins never match a NULL."""

    n_left: int
    n_right: int
    join_rows_est: int  #: J = Σ_k n_l(k)·n_r(k), exact
    heavy_pair_est: int  #: H = max_k n_l(k)·n_r(k), exact
    left: Optional[SpanStats] = None
    right: Optional[SpanStats] = None

    @property
    def pair_key_factor(self) -> float:
        """Effective key cardinality ``n_l·n_r / J`` for the binned
        width model: K for uniform keys, SMALLER under skew — a hot key
        narrows the bins, the salting a (key, bin) shuffle admits."""
        if self.join_rows_est <= 0:
            return 1.0
        return max(1.0, (self.n_left * self.n_right) / self.join_rows_est)

    @property
    def hot_share(self) -> float:
        """Fraction of pair work owed to the single hottest key (H/J)."""
        if self.join_rows_est <= 0:
            return 0.0
        return min(1.0, self.heavy_pair_est / self.join_rows_est)


def keyed_join_profile(
    left: DataFrame,
    right: DataFrame,
    left_keys: Sequence[str],
    right_keys: Sequence[str],
    spans: Optional[Tuple[str, str]] = None,
) -> KeyedJoinProfile:
    """Exact J and H of a keyed join and, when ``spans`` names the two
    arithmetic span columns, each side's :class:`SpanStats`: ONE driver
    action groups the union of both sides by key and reduces it to one
    row.  Products are ``decimal(38,0)``: no ANSI long overflow."""
    pk = [f"__dfi_pk{i}" for i in range(len(left_keys))]
    sides = []
    for t, df, keys in ((0, left, left_keys), (1, right, right_keys)):
        lo, hi = (
            F.col(spans[t]).getField(f) if spans
            else F.lit(None).cast("double")
            for f in ("start", "stop")
        )
        sides.append(df.select(
            *[F.col(k).alias(p) for k, p in zip(keys, pk)],
            F.lit(t).alias("__side"),
            (hi.cast("double") - lo.cast("double")).alias("__dur"),
            lo.alias("__lo"), hi.alias("__hi"),
        ))
    keyed = F.lit(True)
    for p in pk:
        keyed &= F.col(p).isNotNull()
    per_key, total = [], []
    for t in (0, 1):
        on = F.col("__side") == t
        for name, per_key_agg, total_agg, c in (
            ("n", F.count, F.sum, F.lit(1)),
            ("ds", F.sum, F.sum, F.col("__dur")),
            ("dn", F.count, F.sum, F.col("__dur")),
            ("lo", F.min, F.min, F.col("__lo")),
            ("hi", F.max, F.max, F.col("__hi")),
        ):
            per_key.append(per_key_agg(F.when(on, c)).alias(f"{name}{t}"))
            total.append(total_agg(f"{name}{t}").alias(f"{name}{t}"))
        total.append(F.sum(F.when(keyed, F.col(f"n{t}"))).alias(f"k{t}"))
    dec = "decimal(38,0)"
    pairs = F.col("n0").cast(dec) * F.col("n1").cast(dec)
    # the per-key table is bounded by the key cardinality; one row out
    r = driver_row(
        sides[0].unionByName(sides[1]).groupBy(*pk).agg(*per_key).agg(
            F.sum(F.when(keyed, pairs)).alias("j"),
            F.max(F.when(keyed, pairs)).alias("h"),
            *total,
        )
    )
    left_s, right_s = (
        SpanStats(int(r[f"n{t}"] or 0),
                  r[f"ds{t}"] / r[f"dn{t}"] if r[f"dn{t}"] else 1.0,
                  r[f"lo{t}"], r[f"hi{t}"])
        for t in (0, 1)
    )
    return KeyedJoinProfile(
        int(r["k0"] or 0), int(r["k1"] or 0), int(r["j"] or 0),
        int(r["h"] or 0), left_s, right_s,
    )


def choose_keyed_strategy(profile: KeyedJoinProfile) -> str:
    """'hash' vs 'binned' from pair work: the hash path evaluates every
    same-key pair (J); once J exceeds ``PAIR_WORK_FACTOR · (n_l + n_r)``
    the per-key nested loops dominate and the composite (key, bin)
    rewrite, which meets only same-bin pairs, wins despite its explode
    and second shuffle.  High-cardinality keys stay on the hash path."""
    scan_work = profile.n_left + profile.n_right
    if profile.join_rows_est > PAIR_WORK_FACTOR * max(scan_work, 1):
        return "binned"
    return "hash"


def warn_if_hot_key(profile: KeyedJoinProfile, where: str) -> bool:
    """Emit the salt-or-warn advisory when one key owns
    ``>= HOT_PAIR_WARN_SHARE`` of the pair work and that work exceeds
    what one task absorbs.  Returns whether it fired."""
    if (
        profile.hot_share >= HOT_PAIR_WARN_SHARE
        and profile.heavy_pair_est > 1_000_000
    ):
        warnings.warn(
            f"{where}: a single join key contributes "
            f"{profile.hot_share:.0%} of {profile.join_rows_est:,} "
            "same-key pair evaluations. The binned rewrite narrows bins "
            "to spread it; for the hash path enable AQE skew join "
            "(spark.sql.adaptive.skewJoin.enabled) or pre-split the key "
            "(salted_join) — see key_skew_report for the distribution.",
            stacklevel=3,
        )
        return True
    return False
