"""StreamingTickPipeline over multi-file micro-batches, consumer failure
and restart: the live path must equal the batch plan per stream with one
broadcast per micro-batch, replay a batch whose PRIORITY delivery failed,
and resume from snapshots in the layout older releases wrote."""

from __future__ import annotations

import json
import os

import pytest

from tests.conftest import make_ticks_raw
from tests.test_streaming import TS, tick_rows
from tickdatapipeline_spark.config import BarProcessingConfig, SignalProcessingConfig
from tickdatapipeline_spark.operators.bars import bar_aggregate, enrich_ticks_with_bars
from tickdatapipeline_spark.operators.expansion import expand_volume
from tickdatapipeline_spark.operators.hotloop import hot_loop
from tickdatapipeline_spark.streaming import (
    OUT_COLS,
    ConsumerType,
    StreamingTickPipeline,
    TripleSplitManager,
)

CFG = SignalProcessingConfig(encoder_type="derivative")
BP = BarProcessingConfig(enabled=True, ticks_per_bar=5, bar_method="boxcar",
                         normalization_window_bars=2)


def write_files(in_dir, chunks):
    """chunks: [(file name, rows, arrival)]; files sharing an arrival
    stamp share an mtime, which the file source admits in one batch."""
    in_dir.mkdir(exist_ok=True)
    for fname, rows, arrival in chunks:
        with open(in_dir / fname, "w") as f:
            for _, ts, price, vol in rows:
                f.write(f"{ts};{price - 1};{price + 1};{price};{vol}\n")
        os.utime(in_dir / fname, (1700000000 + arrival, 1700000000 + arrival))


def run_pipe(spark, tmp_path, mgr, **kw):
    pipe = StreamingTickPipeline(
        spark, str(tmp_path / "in"), CFG, mgr, checkpoint_dir=str(tmp_path / "ckpt"), **kw
    )
    pipe.start()
    try:
        pipe.await_idle()
    finally:
        pipe.stop()
    return pipe


def batch_plan(spark, rows):
    """(enriched ticks, bars) of the batch plan over one whole stream."""
    ticks = hot_loop(expand_volume(make_ticks_raw(spark, rows)), CFG).select(*OUT_COLS)
    bars = bar_aggregate(ticks, BP)
    return (enrich_ticks_with_bars(ticks, bars).orderBy("tick_idx").collect(),
            bars.orderBy("bar_idx").collect())


def assert_rows_equal(got, want, what):
    assert len(got) == len(want), what
    for g, w in zip(got, want):
        for c in w.asDict():
            assert g[c] == w[c], f"{what}: {c} {g[c]} != {w[c]}"


def persistent_rdds(spark) -> set:
    """Ids of the cached RDDs. Ids only grow, so a frame a pipeline left
    cached shows as an id missing from the set taken before it ran
    (unrelated frames the cleaner frees meanwhile only shrink the set)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_runner_multifile_microbatch_single_stream(spark, tmp_path):
    """stream_key=None with two files per micro-batch: each batch is one
    union ordered by (file name, line), broadcast once, and the output —
    with no key column — equals the batch plan, bars included."""
    rows = tick_rows(30)
    write_files(tmp_path / "in", [("t-000.txt", rows[:8], 0), ("t-001.txt", rows[8:13], 0),
                                  ("t-002.txt", rows[13:22], 1), ("t-003.txt", rows[22:], 1)])
    ticks, bars = [], []
    mgr = TripleSplitManager()
    mgr.subscribe("cap", ConsumerType.PRIORITY, lambda df, bid: ticks.extend(df.collect()))
    cached = persistent_rdds(spark)
    pipe = run_pipe(spark, tmp_path, mgr, max_files_per_trigger=2, bar_cfg=BP, enrich=True,
                    bar_sink=lambda df, bid: bars.extend(df.collect()))

    assert len(pipe.metrics.latencies_us) == 2
    assert mgr.total_broadcasts == pipe.metrics.broadcasts_sent == 2
    assert persistent_rdds(spark) <= cached
    assert "stream" not in ticks[0].asDict() and "stream" not in bars[0].asDict()
    want_ticks, want_bars = batch_plan(spark, rows)
    assert_rows_equal(sorted(ticks, key=lambda r: r.tick_idx), want_ticks, "ticks")
    assert_rows_equal(sorted(bars, key=lambda r: r.bar_idx), want_bars, "bars")
    assert pipe.ticks_processed == len(want_ticks)


def test_runner_multifile_microbatch_keyed(spark, tmp_path):
    """A keyed micro-batch holding two files of symA and one of symB,
    then a batch of symB alone: per stream, the output equals that
    stream's batch plan, with one broadcast per micro-batch."""
    rows_a = tick_rows(20)
    rows_b = [(i + 1, TS, 42100 + (i * 5) % 13, 1 + i % 2) for i in range(16)]
    write_files(tmp_path / "in", [("000-symA.txt", rows_a[:9], 0), ("001-symB.txt", rows_b[:7], 0),
                                  ("002-symA.txt", rows_a[9:], 0), ("003-symB.txt", rows_b[7:], 1)])
    ticks, bars = [], []
    mgr = TripleSplitManager()
    mgr.subscribe("cap", ConsumerType.PRIORITY, lambda df, bid: ticks.extend(df.collect()))
    cached = persistent_rdds(spark)
    pipe = run_pipe(spark, tmp_path, mgr, max_files_per_trigger=3, bar_cfg=BP, enrich=True,
                    stream_key=lambda p: p.rsplit("-", 1)[-1],
                    bar_sink=lambda df, bid: bars.extend(df.collect()))

    assert len(pipe.metrics.latencies_us) == 2
    assert mgr.total_broadcasts == pipe.metrics.broadcasts_sent == 2
    assert persistent_rdds(spark) <= cached
    for key, rows in [("symA.txt", rows_a), ("symB.txt", rows_b)]:
        want_ticks, want_bars = batch_plan(spark, rows)
        got_ticks = sorted((r for r in ticks if r.stream == key), key=lambda r: r.tick_idx)
        got_bars = sorted((r for r in bars if r.stream == key), key=lambda r: r.bar_idx)
        assert_rows_equal(got_ticks, want_ticks, f"{key} ticks")
        assert_rows_equal(got_bars, want_bars, f"{key} bars")
    assert pipe.ticks_processed == sum(v for *_, v in rows_a + rows_b)


def test_fanout_priority_failure_raises_monitoring_failure_counted(spark):
    """A PRIORITY consumer's failure propagates out of the broadcast; a
    MONITORING consumer's failure is counted as an unsuccessful delivery."""
    def fail(df, bid):
        raise RuntimeError("sink down")

    batch = spark.range(3).withColumnRenamed("id", "tick_idx")
    mgr = TripleSplitManager()
    mgr.subscribe("m", ConsumerType.MONITORING, fail)
    mgr.subscribe("a", ConsumerType.ANALYTICS, lambda df, bid: None)
    assert mgr.broadcast_batch(batch, 0) == (2, 1, 0)
    mgr.subscribe("p", ConsumerType.PRIORITY, fail)
    with pytest.raises(RuntimeError, match="sink down"):
        mgr.broadcast_batch(batch, 1)
    assert (mgr.total_broadcasts, mgr.successful_broadcasts) == (2, 0)


def test_fanout_priority_failure_precedes_other_consumers(spark):
    """A PRIORITY failure aborts the batch before a consumer subscribed
    ahead of it is fed, so the replayed batch reaches that consumer once."""
    seen = []
    attempts = []

    def flaky(df, bid):
        attempts.append(bid)
        if len(attempts) == 1:
            raise RuntimeError("sink down")

    batch = spark.range(3).withColumnRenamed("id", "tick_idx")
    mgr = TripleSplitManager()
    mgr.subscribe("m", ConsumerType.MONITORING, lambda df, bid: seen.append(bid),
                  buffer_size=10)
    mgr.subscribe("p", ConsumerType.PRIORITY, flaky)
    with pytest.raises(RuntimeError, match="sink down"):
        mgr.broadcast_batch(batch, 0)
    assert seen == [] and mgr.stats()["m"]["messages_sent"] == 0
    assert mgr.broadcast_batch(batch, 0) == (2, 2, 0)
    assert seen == [0] and mgr.stats()["m"]["messages_sent"] == 3
    assert (mgr.total_broadcasts, mgr.successful_broadcasts) == (2, 1)


def test_runner_priority_failure_replays_batch(spark, tmp_path):
    """A PRIORITY sink that fails once on batch 1 fails that batch before
    any state is committed; a new pipeline on the same checkpoint and
    state_path replays it, so PRIORITY rows equal the generated ticks with
    a dense tick_idx. A failing MONITORING consumer is only counted."""
    rows = tick_rows(24)
    write_files(tmp_path / "in", [("t-000.txt", rows[:13], 0), ("t-001.txt", rows[13:], 1)])
    state_path = str(tmp_path / "state.json")
    delivered, failed = [], []

    def priority(df, bid):
        if bid == 1 and not failed:
            failed.append(bid)
            raise RuntimeError("priority sink down")
        delivered.extend(df.collect())

    def monitoring(df, bid):
        raise RuntimeError("monitor down")

    def manager():
        mgr = TripleSplitManager()
        mgr.subscribe("p", ConsumerType.PRIORITY, priority)
        mgr.subscribe("m", ConsumerType.MONITORING, monitoring)
        return mgr

    cached = persistent_rdds(spark)
    first = StreamingTickPipeline(spark, str(tmp_path / "in"), CFG, manager(),
                                  checkpoint_dir=str(tmp_path / "ckpt"), state_path=state_path,
                                  bar_cfg=BP, enrich=True)
    first.start()
    try:
        with pytest.raises(Exception, match="priority sink down"):
            first.await_idle()
    finally:
        first.stop()
    assert failed == [1]
    assert first.metrics.errors == 1 and len(first.metrics.latencies_us) == 1
    assert first.ticks_processed == sum(v for *_, v in rows[:13])
    assert json.loads((tmp_path / "state.json").read_text())["batch_id"] == 0
    assert persistent_rdds(spark) <= cached

    second = run_pipe(spark, tmp_path, manager(), state_path=state_path, bar_cfg=BP,
                      enrich=True)
    assert second.metrics.errors == 1
    want, _ = batch_plan(spark, rows)
    got = sorted(delivered, key=lambda r: r.tick_idx)
    assert [r.tick_idx for r in got] == list(range(1, len(want) + 1))
    assert_rows_equal(got, want, "ticks")
    assert persistent_rdds(spark) <= cached


# A snapshot in the layout written before the single stream became the
# one-key case, as that release wrote it after t-000.txt
# (tick_rows(24)[:12]) with boxcar bars of 5 ticks: the stream sits in
# separate single/single_bars fields, mid-bar and mid-stats-bar.
LEGACY_SNAPSHOT = (
    '{"batch_id": 0, "ticks_processed": 24, "single": {"tick0": 24, "prev_last": 41965, '
    '"hot": {"n_valid0": 24, "core_seq0": 23, "sum_bmin0": 0, "sum_bmax0": 0, '
    '"partial_cnt0": 23, "partial_min0": -5, "partial_max0": 5, "inv_q16_0": 7559, '
    '"cpm_theta0": 0, "amc_n0": 24, "last_core_ratio0": 0.0}}, "single_bars": '
    '{"partial_cnt0": 4, "partial_open0": 41970, "partial_high0": 41970, '
    '"partial_low0": 41965, "bars_done0": 4, "prev_avg0": 41970, "sum_high0": 167881, '
    '"sum_low0": 167866, "norm0": 3.75, "tail_prices0": []}, "states": {}, '
    '"bar_states": {}}'
)


def test_runner_resumes_legacy_snapshot_layout(spark, tmp_path):
    """A stream checkpointed in the old single/single_bars layout resumes
    under the constant key: the replayed batch 0 is skipped and the next
    file continues the batch plan's tail, bars included."""
    rows = tick_rows(24)
    write_files(tmp_path / "in", [("t-000.txt", rows[:12], 0), ("t-001.txt", rows[12:], 1)])
    state_path = tmp_path / "state.json"
    state_path.write_text(LEGACY_SNAPSHOT)
    ticks, bars = [], []
    mgr = TripleSplitManager()
    mgr.subscribe("cap", ConsumerType.PRIORITY, lambda df, bid: ticks.extend(df.collect()))
    pipe = run_pipe(spark, tmp_path, mgr, state_path=str(state_path), bar_cfg=BP, enrich=True,
                    bar_sink=lambda df, bid: bars.extend(df.collect()))

    want_ticks, want_bars = batch_plan(spark, rows)
    assert_rows_equal(sorted(ticks, key=lambda r: r.tick_idx), want_ticks[24:], "ticks")
    assert_rows_equal(sorted(bars, key=lambda r: r.bar_idx), want_bars[4:], "bars")
    assert pipe.ticks_processed == len(want_ticks)
    assert "single" not in json.loads(state_path.read_text())
