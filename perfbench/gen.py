"""Seeded input generators for the fleet and stream workloads.

Both produce a dense sensor fleet: units report once a second, and each
unit's ``value`` follows a regime-switching process (normal, elevated,
alarm) so that thresholds, timers, windowed
aggregates and sequences all find incidents. The same seed always gives
the same rows.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

EPOCH_MS = int(np.datetime64("2024-01-01T00:00:00", "ms").astype(np.int64))

# regimes: 0 normal, 1 elevated, 2 alarm. Each unit walks a fixed cycle
# from a random phase with dwell times uniform in [0.5, 1.5] x the mean,
# so the time spent in each regime (and with it the work a pattern set
# does) varies little from seed to seed.
MEANS = np.array([50.0, 110.0, 170.0])
SDS = np.array([10.0, 15.0, 8.0])
CYCLE = (0, 1, 2, 1, 0, 1)
FLEET_DWELL_S = (600.0, 300.0, 60.0)
STREAM_DWELL_S = (900.0, 720.0, 120.0)
ERROR_RATE = 0.002


def regime_values(rng: np.random.Generator, n: int, dwell_s) -> np.ndarray:
    """``n`` one-second readings of one unit."""
    regime = np.empty(n, np.int8)
    i, k = 0, int(rng.integers(0, len(CYCLE)))
    while i < n:
        r = CYCLE[k % len(CYCLE)]
        dwell = int(dwell_s[r] * rng.uniform(0.5, 1.5)) + 1
        regime[i : i + dwell] = r
        i += dwell
        k += 1
    return np.round(rng.normal(MEANS[regime], SDS[regime]), 2)


def fleet_events(seed: int, units: int, hours: float) -> pa.Table:
    """The fleet as an ``events`` table (the schema of the gated
    testdata), ordered by time. Each unit has one 1-30 min gap every two
    hours and rare ``error`` events."""
    rng = np.random.default_rng(seed)
    n = int(hours * 3600)
    ts, uid, kind, val = [], [], [], []
    for unit in range(1, units + 1):
        values = regime_values(rng, n, FLEET_DWELL_S)
        keep = np.ones(n, bool)
        for _ in range(int(hours // 2)):
            start = int(rng.integers(0, n))
            keep[start : start + int(rng.integers(60, 1800))] = False
        offset = int(rng.integers(0, 1000))
        ms = EPOCH_MS + offset + 1000 * np.arange(n, dtype=np.int64)
        errors = rng.random(n) < ERROR_RATE
        ts.append(ms[keep])
        uid.append(np.full(int(keep.sum()), unit, np.int64))
        kind.append(np.where(errors, "error", "ok")[keep])
        val.append(values[keep])
    ms = np.concatenate(ts)
    order = np.argsort(ms, kind="stable")
    rows = len(ms)
    return pa.table({
        "event_id": np.arange(rows, dtype=np.int64),
        "ts": pa.array(ms[order] * 1000, pa.timestamp("us")),
        "user_id": np.concatenate(uid)[order],
        "event_type": np.concatenate(kind)[order],
        "value": np.concatenate(val)[order],
        "props": pa.array(["{}"] * rows),
    })


STREAM_SCHEMA = pa.schema([
    ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
])


def _stream_table(ms, uid, kind, val) -> pa.Table:
    return pa.table(
        [pa.array(ms * 1000, STREAM_SCHEMA.field("ts").type), uid, kind, val],
        schema=STREAM_SCHEMA,
    )


def stream_drops(
    seed: int, units: int, drop_s: int, drops: int
) -> tuple[list[pa.Table], pa.Table]:
    """The fleet cut into chronological drops of ``drop_s`` seconds (all
    units), plus a flush drop one day later that closes every unit's open
    series without matching any pattern."""
    rng = np.random.default_rng(seed)
    n = drop_s * drops
    series = []
    for _unit in range(units):
        values = regime_values(rng, n, STREAM_DWELL_S)
        offset = int(rng.integers(0, 1000))
        errors = rng.random(n) < ERROR_RATE
        series.append((values, offset, errors))
    out = []
    for d in range(drops):
        sec = np.arange(d * drop_s, (d + 1) * drop_s, dtype=np.int64)
        out.append(_stream_table(
            np.concatenate([EPOCH_MS + off + 1000 * sec for _, off, _ in series]),
            np.repeat(np.arange(1, units + 1, dtype=np.int64), drop_s),
            np.concatenate([np.where(e[sec], "error", "ok") for _, _, e in series]),
            np.concatenate([v[sec] for v, _, _ in series]),
        ))
    flush_ms = EPOCH_MS + 1000 * (n + 86_400)
    flush = _stream_table(
        np.full(units, flush_ms, np.int64),
        np.arange(1, units + 1, dtype=np.int64),
        np.array(["ok"] * units),
        np.zeros(units),
    )
    return out, flush
