"""Durable micro-batch state for the streaming runner.

Spark's own checkpoint tracks WHICH files each batch contained, but the
engine's continuation seeds (StreamState / BarSeed) live on the driver.
This module makes them durable: after every completed batch the runner
writes one JSON snapshot (atomic tmp+rename), tagged with the batch id;
on restart the snapshot is restored and any batch the file source
REPLAYS (its id <= the snapshot's) is skipped, which upgrades
foreachBatch's at-least-once delivery to exactly-once state evolution.

State is one map per stage keyed by stream (``states``/``bar_states``);
a single stream sits under the constant key state.ONE_KEY. The snapshot
is O(streams) scalars — the same cardinality the reference
keeps in memory per stream (one TickHotLoopState + BarProcessorState),
so at thousands of streams this is a few hundred KB of JSON.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict


def _encode_state(st) -> dict:
    return {"tick0": st.tick0, "prev_last": st.prev_last, "hot": asdict(st.hot)}


def _decode_state(d: dict):
    from tickdatapipeline_spark.operators.hotloop import HotLoopSeed
    from tickdatapipeline_spark.streaming.state import StreamState

    return StreamState(
        tick0=d["tick0"], prev_last=d["prev_last"], hot=HotLoopSeed(**d["hot"])
    )


def _encode_bars(bs) -> dict:
    d = asdict(bs)
    d["tail_prices0"] = [list(t) for t in bs.tail_prices0]
    return d


def _decode_bars(d: dict):
    from tickdatapipeline_spark.operators.bars import BarSeed

    d = dict(d)
    d["tail_prices0"] = tuple(tuple(t) for t in d["tail_prices0"])
    return BarSeed(**d)


def save_snapshot(path: str, *, batch_id: int, states: dict, bar_states: dict,
                  ticks_processed: int) -> None:
    """Atomic, durable post-batch snapshot: write a temp file, fsync
    it, rename it over, fsync the directory. Without the first fsync an
    OS crash can leave the rename on disk ahead of the data, i.e. an
    empty snapshot; without the second it can lose the rename, and the
    runner would resume from the previous batch's state after Spark has
    committed this batch."""
    doc = {
        "batch_id": batch_id,
        "ticks_processed": ticks_processed,
        "states": {k: _encode_state(v) for k, v in states.items()},
        "bar_states": {k: _encode_bars(v) for k, v in bar_states.items()},
    }
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    dir_fd = os.open(os.path.dirname(os.path.abspath(path)), os.O_RDONLY)
    try:
        os.fsync(dir_fd)
    finally:
        os.close(dir_fd)


def load_snapshot(path: str):
    """Returns (batch_id, states, bar_states, ticks_processed) or None if
    no snapshot exists.

    Snapshots from before the single stream became the one-key case kept
    it in separate ``single``/``single_bars`` fields; a stream that had
    progressed there is folded into the constant key, so it resumes."""
    from tickdatapipeline_spark.streaming.state import ONE_KEY

    if not os.path.exists(path):
        return None
    with open(path) as f:
        doc = json.load(f)
    states = {k: _decode_state(v) for k, v in doc["states"].items()}
    bar_states = {k: _decode_bars(v) for k, v in doc["bar_states"].items()}
    if "single" in doc and doc["single"]["tick0"] > 0:
        states[ONE_KEY] = _decode_state(doc["single"])
        bar_states[ONE_KEY] = _decode_bars(doc["single_bars"])
    return doc["batch_id"], states, bar_states, doc["ticks_processed"]
