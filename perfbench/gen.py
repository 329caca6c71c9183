"""Seeded input generator: span tables written as parquet directories.

Each table has the columns ``id`` (row number), ``recording_id``,
``label``, ``start``/``stop`` (epoch-ns, half-open, never empty) and
``value``.  The same ``(seed, table)`` always yields the same rows.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_NS = 1_700_000_000_000_000_000
HORIZON_NS = 30 * 86_400 * 10**9  # starts are uniform over 30 days
DUR_MEDIAN_S, DUR_SIGMA = 4.0, 1.5  # lognormal durations
KEYS = 200  # distinct recording ids
LABELS = tuple(f"L{i}" for i in range(8))
# several files per table, so a scan runs several tasks as it would on
# real data; fixed (not the core count) so the inputs do not depend on
# the host
PARTS = 4


@dataclass(frozen=True)
class TableSpec:
    rows: int
    zipf: float | None = None  # Zipf exponent over the keys; None = uniform


def make_table(seed: int, name: str, spec: TableSpec) -> pa.Table:
    rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
    n = spec.rows
    if spec.zipf is None:
        rec = rng.integers(0, KEYS, n)
    else:
        p = np.arange(1, KEYS + 1, dtype=np.float64) ** -spec.zipf
        rec = rng.choice(KEYS, size=n, p=p / p.sum())
    start = T0_NS + rng.integers(0, HORIZON_NS, n)
    dur = rng.lognormal(np.log(DUR_MEDIAN_S * 1e9), DUR_SIGMA, n)
    stop = start + np.maximum(np.ceil(dur), 1).astype(np.int64)
    return pa.table(
        {
            "id": np.arange(n, dtype=np.int64),
            "recording_id": rec.astype(np.int64),
            "label": pa.DictionaryArray.from_arrays(
                rng.integers(0, len(LABELS), n).astype(np.int32), list(LABELS)
            ).cast(pa.string()),
            "start": start.astype(np.int64),
            "stop": stop,
            "value": rng.lognormal(0.0, 1.0, n),
        }
    )


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // PARTS)
    for i in range(PARTS):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet")
        )


def describe(table: pa.Table) -> dict:
    """Row count, key skew and duration spread of a generated table."""
    rec = table.column("recording_id").to_numpy()
    dur = table.column("stop").to_numpy() - table.column("start").to_numpy()
    counts = np.bincount(rec)
    return {
        "rows": table.num_rows,
        "keys": int((counts > 0).sum()),
        "top_key_share": round(float(counts.max() / table.num_rows), 4),
        "dur_median_s": round(float(np.median(dur)) / 1e9, 3),
        "dur_p99_s": round(float(np.quantile(dur, 0.99)) / 1e9, 1),
    }
