"""Seeded input generators for the feature-store round.

Everything is produced with NumPy + PyArrow (no Spark), so generation time
is set-up cost that does not depend on the engine. The same seed always
gives byte-identical parquet files. The query keys read a fixed copy of
the engine's sf0.01 test tables instead (``perfbench/data/sf0.01``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000  # microseconds per second
DAY_S = 86_400
EPOCH_2024 = 1_704_067_200  # 2024-01-01 UTC
HISTORY_DAYS = 10
CATEGORIES = np.array(["a", "b", "c", "d", "e", "f"])


def _ts(seconds: np.ndarray) -> pa.Array:
    """Epoch seconds (int or float) → timestamp[us] without a zone, the
    layout the engine's source reader normalizes to UTC."""
    return pa.array((np.asarray(seconds, dtype=np.float64) * US).astype(np.int64), pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def zipf_ids(rng: np.random.Generator, n_ids: int, size: int, s: float = 1.1) -> np.ndarray:
    """``size`` ids in [0, n_ids) drawn Zipf(s) by rank; the rank → id map
    is a seeded permutation so hot ids are spread over the id space."""
    p = 1.0 / np.arange(1, n_ids + 1, dtype=np.float64) ** s
    p /= p.sum()
    ranks = rng.choice(n_ids, size=size, p=p)
    return rng.permutation(n_ids)[ranks].astype(np.int64)


def stream_block(seed: int, k: int, users: int, rows: int, span_s: int,
                 late_frac: float, late_max_s: int, payload: int) -> pa.Table:
    """Block ``k`` of a seeded event stream of Zipf-skewed users.

    Block 0 is the history, HISTORY_DAYS long. Block k > 0 lands next and
    covers the following ``span_s`` seconds, with ``late_frac`` of its rows
    out of order, stamped up to ``late_max_s`` before the block start
    (inside the source's watermark delay, so none is dropped). Event ids
    are unique across blocks and (user_id, ts) is unique within a block.
    Each row carries ``payload`` incompressible double features."""
    rng = np.random.default_rng([seed, k])
    hist_span = HISTORY_DAYS * DAY_S
    lo, hi = (0, hist_span) if k == 0 else (hist_span + (k - 1) * span_s, hist_span + k * span_s)
    t = np.sort(rng.uniform(lo, hi, size=rows))
    if k:
        late = rng.random(rows) < late_frac
        t[late] = lo - rng.uniform(1, late_max_s, size=int(late.sum()))
    ms = np.round(t * 1e3).astype(np.int64)
    uid = zipf_ids(rng, users, rows)
    keep = np.sort(np.unique(uid * (1 << 40) + ms, return_index=True)[1])
    ms, uid = ms[keep], uid[keep]
    n = len(uid)
    first = 0 if k == 0 else (1 << 32) * k
    return pa.table({
        "event_id": pa.array(np.arange(first, first + n, dtype=np.int64)),
        "ts": _ts(ms / 1e3 + EPOCH_2024),
        "user_id": pa.array(uid, pa.int64()),
        "value_cents": pa.array(rng.integers(1, 100_000, size=n), pa.int64()),
        "category": pa.array(CATEGORIES[rng.integers(0, len(CATEGORIES), size=n)]),
        **{f"f_x{i}": pa.array(rng.standard_normal(n)) for i in range(1, 1 + payload)},
    })


def write_batch(table: pa.Table, src_dir: str, k: int) -> int:
    return _write(table, os.path.join(src_dir, f"batch-{k:05d}.parquet"))


def training_inputs(root: str, seed: int, history: pa.Table, users: int, spine_rows: int,
                    regions: int, region_snaps: int, spine_days: tuple[int, int]) -> dict:
    """A region dimension of ``regions`` × ``region_snaps`` timestamped
    rows, and a spine of Zipf-drawn users whose timestamps lie in
    ``spine_days`` of the history. A fifth of the spine lands exactly on a
    history event of its user (the inclusive as-of bound)."""
    rng = np.random.default_rng([seed, 1 << 20])
    span = HISTORY_DAYS * DAY_S
    region_of_user = rng.integers(0, regions, size=users)
    r_id = np.repeat(np.arange(regions, dtype=np.int64), region_snaps)
    r_ts = rng.integers(-30 * DAY_S, span, size=len(r_id)) + EPOCH_2024
    rk = np.unique(r_id * (span + 31 * DAY_S + EPOCH_2024) + r_ts, return_index=True)[1]
    region = pa.table({
        "region_id": pa.array(r_id[rk], pa.int64()),
        "r_ts": _ts(r_ts[rk]),
        "f_region_score": pa.array(np.round(rng.uniform(0, 100, size=len(rk)), 3)),
    })
    lo_s, hi_s = (d * DAY_S + EPOCH_2024 for d in spine_days)
    s_uid = zipf_ids(rng, users, spine_rows)
    s_us = rng.integers(lo_s * US, hi_s * US, size=spine_rows)
    h_uid = history.column("user_id").to_numpy()
    h_us = history.column("ts").cast(pa.int64()).to_numpy()
    inside = np.flatnonzero((h_us >= lo_s * US) & (h_us < hi_s * US))
    exact = rng.random(spine_rows) < 0.2
    pick = inside[rng.integers(0, len(inside), size=int(exact.sum()))]
    s_uid[exact], s_us[exact] = h_uid[pick], h_us[pick]
    spine = pa.table({
        "sid": pa.array(np.arange(spine_rows, dtype=np.int64)),
        "user_id": pa.array(s_uid, pa.int64()),
        "region_id": pa.array(region_of_user[s_uid], pa.int64()),
        "ts": pa.array(s_us, pa.timestamp("us")),
        "label": pa.array((rng.random(spine_rows) < 0.3).astype(np.int32)),
    })
    paths = {k: os.path.join(root, k, "part-0.parquet") for k in ("region", "spine")}
    size = _write(region, paths["region"]) + _write(spine, paths["spine"])
    return {"paths": {k: os.path.dirname(v) for k, v in paths.items()}, "input_bytes": size}
