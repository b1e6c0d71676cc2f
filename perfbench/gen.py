"""Seeded input generators: every input the benchmark feeds the engine is
a pure function of the workload seed, so two runs with one seed see
byte-identical files.

Tick lines use the reference format ``yyyymmdd hhmmss uuuuuuu;bid;ask;
last;volume``. Prices follow a bounded random walk in [40000, 43000] with
out-of-range spikes (the hold-last path), +-75 jumps (the jump guard),
volumes 1-5 and a few empty or malformed lines (the skip path).
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np

WALK_LO, WALK_HI = 40000, 43000
SPIKE_PRICES = (30000, 99999)  # outside the engine's [36600, 43300] range
SPIKE_SHARE = 0.004
JUMP_SHARE = 0.01
JUMP = 75
MALFORMED_SHARE = 0.002
MALFORMED = ("", "   ", "20250319 093000 0000000;41999;42001;42000",
             "20250319 093000 0000000;41999;42001;4200x;2", "not a tick")


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def tick_lines(seed: int, n: int, *, stream: int = 0, start: int = 0,
               price0: int | None = None) -> tuple[list[str], int]:
    """``n`` tick lines of one stream, the ``start``-th onward, plus the
    walk's last price (to continue the stream in a later call). Each
    (seed, stream, start) triple draws its own numbers, so a stream can
    be produced in segments. Malformed lines are inserted on top of the
    ``n`` well-formed ones."""
    rng = _rng(seed, stream, start)
    p = int(rng.integers(41000, 42000)) if price0 is None else price0
    steps = rng.integers(-2, 3, n)
    jumps = rng.random(n) < JUMP_SHARE
    steps[jumps] = np.where(rng.random(int(jumps.sum())) < 0.5, -JUMP, JUMP)
    walk = np.empty(n, dtype=np.int64)
    for i, s in enumerate(steps.tolist()):
        p += s
        if p < WALK_LO or p > WALK_HI:  # reflect at the bounds
            p -= 2 * s
        walk[i] = p
    last = walk.copy()
    spikes = rng.random(n) < SPIKE_SHARE
    last[spikes] = rng.choice(SPIKE_PRICES, int(spikes.sum()))
    spread = rng.integers(1, 3, n)
    vol = rng.integers(1, 6, n)
    bad = rng.random(n) < MALFORMED_SHARE
    bad_pick = rng.integers(0, len(MALFORMED), n)
    out: list[str] = []
    for i in range(n):
        k = start + i
        day, sec = divmod(k, 23400)  # 6.5 h sessions, one tick a second
        hh, rem = divmod(34200 + sec, 3600)
        ts = f"{20250319 + day:08d} {hh:02d}{rem // 60:02d}{rem % 60:02d} {(k * 7919) % 10_000_000:07d}"
        if bad[i]:
            out.append(MALFORMED[bad_pick[i]])
        li, sp = int(last[i]), int(spread[i])
        out.append(f"{ts};{li - sp};{li + sp};{li};{int(vol[i])}")
    return out, int(walk[-1]) if n else p


def write_tick_file(path: str | Path, lines: list[str]) -> None:
    Path(path).write_text("\n".join(lines) + "\n")


def drop_files(directory: str | Path, files: dict[str, list[str]], stamp: float) -> None:
    """Publish live files: write each under a hidden temp name and stamp
    its mtime with the scheduled arrival, then rename them all into the
    watched directory, so the file source never sees a half-written file
    and sees the files of one round together."""
    d = Path(directory)
    for name, lines in files.items():
        write_tick_file(d / f".{name}.tmp", lines)
        os.utime(d / f".{name}.tmp", (stamp, stamp))
    for name in files:
        os.replace(d / f".{name}.tmp", d / name)


def events_table(seed: int, n: int):
    """``events.parquet`` rows for the analytics queries: contiguous
    0-based ``event_id`` (the tick derivation's density contract) and a
    seeded ``value`` column, in the schema of the repository's events test tables."""
    import pyarrow as pa

    rng = _rng(seed, 1 << 20)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(
        rng.integers(1, 2_000_000, n)).astype("timedelta64[us]")
    kinds = np.array(["view", "click", "purchase", "error"])
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 500, n, dtype=np.int64)),
        "event_type": pa.array(kinds[rng.integers(0, len(kinds), n)]),
        "value": pa.array(np.round(rng.gamma(2.0, 10.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()]),
    })


def write_events(directory: str | Path, seed: int, n: int) -> None:
    import pyarrow.parquet as pq

    Path(directory).mkdir(parents=True, exist_ok=True)
    pq.write_table(events_table(seed, n), str(Path(directory) / "events.parquet"))
