"""StreamingTickPipeline over multi-file micro-batches, consumer failure
and restart: the live path must equal the batch plan per stream with one
broadcast per micro-batch, replay a batch whose PRIORITY delivery failed,
and resume from snapshots in the layout older releases wrote."""

from __future__ import annotations

import json
import os
from dataclasses import replace

import pytest

from tests.conftest import make_ticks_raw
from tests.test_sources import write_file
from tests.test_streaming import TS, tick_rows
from tickdatapipeline_spark.config import BarProcessingConfig, SignalProcessingConfig
from tickdatapipeline_spark.operators.bars import BarSeed, bar_aggregate, enrich_ticks_with_bars
from tickdatapipeline_spark.operators.expansion import expand_volume
from tickdatapipeline_spark.operators.hotloop import HotLoopSeed, hot_loop
from tickdatapipeline_spark.streaming import (
    OUT_COLS,
    ConsumerType,
    StreamingTickPipeline,
    StreamState,
    TripleSplitManager,
)

CFG = SignalProcessingConfig(encoder_type="derivative")
BP = BarProcessingConfig(enabled=True, ticks_per_bar=5, bar_method="boxcar",
                         normalization_window_bars=2)


ROWS_B = [(i + 1, TS, 42100 + (i * 5) % 13, 1 + i % 2) for i in range(16)]


def sym_key(path):
    """Stream key of the keyed tests' files: the name after the last '-'."""
    return path.rsplit("-", 1)[-1]


def write_files(in_dir, chunks, junk=False):
    """chunks: [(file name, rows, arrival)]; files sharing an arrival
    stamp share an mtime, which the file source admits in one batch.
    ``junk`` ends each file with blank and malformed lines, which every
    tick-file reader drops."""
    in_dir.mkdir(parents=True, exist_ok=True)
    for fname, rows, arrival in chunks:
        write_file(in_dir / fname, [(ts, price, vol) for _, ts, price, vol in rows], junk)
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
    """stream_key=None with two files per micro-batch, blank and
    malformed lines included: each batch is one scan ordered by (file
    name, line), broadcast once, and the output — with no key column —
    equals the batch plan over the parsed lines, bars included."""
    rows = tick_rows(30)
    write_files(tmp_path / "in", [("t-000.txt", rows[:8], 0), ("t-001.txt", rows[8:13], 0),
                                  ("t-002.txt", rows[13:22], 1), ("t-003.txt", rows[22:], 1)],
                junk=True)
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
    then a batch of symB alone, then symA resuming after sitting that
    batch out: per stream, the output equals that stream's batch plan
    over the parsed lines, with one broadcast per micro-batch. Blank and
    malformed lines are dropped as read_tick_file drops them, and a file
    name that needs URI escaping is read once, in the batch's own scan."""
    rows_a, rows_b = tick_rows(28), ROWS_B
    write_files(tmp_path / "in", [("000-symA.txt", rows_a[:9], 0), ("001-symB.txt", rows_b[:7], 0),
                                  ("002 t%41-symA.txt", rows_a[9:20], 0),
                                  # three files fill the second batch with symB alone
                                  ("003-symB.txt", rows_b[7:10], 1),
                                  ("004-symB.txt", rows_b[10:13], 1),
                                  ("005-symB.txt", rows_b[13:], 1),
                                  ("006-symA.txt", rows_a[20:], 2)], junk=True)
    ticks, bars = [], []
    mgr = TripleSplitManager()
    mgr.subscribe("cap", ConsumerType.PRIORITY, lambda df, bid: ticks.extend(df.collect()))
    cached = persistent_rdds(spark)
    pipe = run_pipe(spark, tmp_path, mgr, max_files_per_trigger=3, bar_cfg=BP, enrich=True,
                    stream_key=sym_key, bar_sink=lambda df, bid: bars.extend(df.collect()))

    assert len(pipe.metrics.latencies_us) == 3
    assert mgr.total_broadcasts == pipe.metrics.broadcasts_sent == 3
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
    assert mgr.broadcast_batch(batch, 0, 3) == (2, 1, 0)
    mgr.subscribe("p", ConsumerType.PRIORITY, fail)
    with pytest.raises(RuntimeError, match="sink down"):
        mgr.broadcast_batch(batch, 1, 3)
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
        mgr.broadcast_batch(batch, 0, 3)
    assert seen == [] and mgr.stats()["m"]["messages_sent"] == 0
    assert mgr.broadcast_batch(batch, 0, 3) == (2, 2, 0)
    assert seen == [0] and mgr.stats()["m"]["messages_sent"] == 3
    assert (mgr.total_broadcasts, mgr.successful_broadcasts) == (2, 1)


# Two micro-batches of the fault-injection tests: (stream key, stream rows,
# files as write_files takes them, max_files_per_trigger). One stream of
# one file per batch, or two keyed streams, each batch holding both.
ROWS_A = tick_rows(24)
ONE_STREAM = (None, {"": ROWS_A},
              [("t-000.txt", ROWS_A[:13], 0), ("t-001.txt", ROWS_A[13:], 1)], 1)
TWO_STREAMS = (sym_key, {"symA.txt": ROWS_A, "symB.txt": ROWS_B},
               [("000-symA.txt", ROWS_A[:13], 0), ("000-symB.txt", ROWS_B[:7], 0),
                ("001-symA.txt", ROWS_A[13:], 1), ("001-symB.txt", ROWS_B[7:], 1)], 2)


def first_batch_ticks(feed):
    return sum(v for _, rows, arrival in feed[2] if arrival == 0 for *_, v in rows)


def assert_streams_equal_batch_plan(spark, feed, delivered):
    """Per stream, the delivered ticks equal the batch plan over the
    stream's rows, with a dense tick_idx."""
    key, streams = feed[0], feed[1]
    for name, rows in streams.items():
        want, _ = batch_plan(spark, rows)
        got = sorted((r for r in delivered if key is None or r.stream == name),
                     key=lambda r: r.tick_idx)
        assert [r.tick_idx for r in got] == list(range(1, len(want) + 1)), name
        assert_rows_equal(got, want, f"{name} ticks")


@pytest.mark.parametrize("feed", [ONE_STREAM, TWO_STREAMS], ids=["one-stream", "two-streams"])
def test_runner_priority_failure_replays_batch(spark, tmp_path, feed):
    """A PRIORITY sink that fails once on batch 1 fails that batch before
    any state is committed; a new pipeline on the same checkpoint and
    state_path replays it, so each stream's PRIORITY rows equal its
    generated ticks with a dense tick_idx. A failing MONITORING consumer
    is only counted."""
    stream_key, _, files, per_trigger = feed
    write_files(tmp_path / "in", files)
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

    kw = dict(state_path=state_path, bar_cfg=BP, enrich=True, stream_key=stream_key,
              max_files_per_trigger=per_trigger)
    cached = persistent_rdds(spark)
    first = StreamingTickPipeline(spark, str(tmp_path / "in"), CFG, manager(),
                                  checkpoint_dir=str(tmp_path / "ckpt"), **kw)
    first.start()
    try:
        with pytest.raises(Exception, match="priority sink down"):
            first.await_idle()
    finally:
        first.stop()
    assert failed == [1]
    assert first.metrics.errors == 1 and len(first.metrics.latencies_us) == 1
    assert first.ticks_processed == first_batch_ticks(feed)
    assert json.loads((tmp_path / "state.json").read_text())["batch_id"] == 0
    assert persistent_rdds(spark) <= cached

    second = run_pipe(spark, tmp_path, manager(), **kw)
    assert second.metrics.errors == 1
    assert_streams_equal_batch_plan(spark, feed, delivered)
    assert persistent_rdds(spark) <= cached


def test_snapshot_is_fsynced_before_rename(tmp_path, monkeypatch):
    """save_snapshot flushes and fsyncs the temp file before renaming it
    over the snapshot, so an OS crash cannot leave a renamed but empty
    snapshot, and fsyncs the snapshot's directory after the rename, so
    an OS crash cannot lose the rename itself."""
    from tickdatapipeline_spark.streaming import persistence

    calls = []
    fsync, replace = persistence.os.fsync, persistence.os.replace

    def record_fsync(fd):
        st = os.fstat(fd)
        calls.append(("fsync", st.st_ino, st.st_size))
        fsync(fd)

    def record_replace(src, dst):
        calls.append(("replace", os.stat(src).st_ino, dst))
        replace(src, dst)

    monkeypatch.setattr(persistence.os, "fsync", record_fsync)
    monkeypatch.setattr(persistence.os, "replace", record_replace)
    path = str(tmp_path / "state.json")
    persistence.save_snapshot(path, batch_id=3, states={"A": StreamState(tick0=7)},
                              bar_states={"A": BarSeed()}, ticks_processed=7)
    assert [c[0] for c in calls] == ["fsync", "replace", "fsync"]
    (_, ino, size), (_, ino2, dst), (_, dir_ino, _) = calls
    assert ino == ino2 == os.stat(path).st_ino and dst == path
    assert size == os.path.getsize(path) > 0
    assert dir_ino == os.stat(tmp_path).st_ino
    assert persistence.load_snapshot(path)[0] == 3


def test_runner_crash_after_sink_before_snapshot(spark, tmp_path, monkeypatch):
    """A crash between the sink and the snapshot: PRIORITY has been fed
    batch 1 when save_snapshot raises. A new pipeline on the same
    checkpoint and state_path replays batch 1 under the same batch_id
    with identical rows and ends in a clean run's state, so a sink that
    is idempotent per batch_id ends exactly-once."""
    from tickdatapipeline_spark.streaming import runner

    feed = TWO_STREAMS
    stream_key, _, files, per_trigger = feed
    attempts, sink = {}, {}

    def priority(df, bid):
        rows = sorted(df.collect(), key=lambda r: (r.stream, r.tick_idx))
        attempts.setdefault(bid, []).append(rows)
        sink[bid] = rows

    def pipeline(root):
        mgr = TripleSplitManager()
        mgr.subscribe("p", ConsumerType.PRIORITY, priority)
        return StreamingTickPipeline(
            spark, str(root / "in"), CFG, mgr, checkpoint_dir=str(root / "ckpt"),
            state_path=str(root / "state.json"), bar_cfg=BP, enrich=True,
            stream_key=stream_key, max_files_per_trigger=per_trigger)

    save, crashed = runner.save_snapshot, []

    def save_once_crashing(path, **kw):
        if kw["batch_id"] == 1 and not crashed:
            crashed.append(1)
            raise OSError("crash before snapshot")
        save(path, **kw)

    monkeypatch.setattr(runner, "save_snapshot", save_once_crashing)
    for root in ("run", "clean"):
        write_files(tmp_path / root / "in", files)
    first = pipeline(tmp_path / "run")
    first.start()
    try:
        with pytest.raises(Exception, match="crash before snapshot"):
            first.await_idle()
    finally:
        first.stop()
    assert crashed == [1] and len(attempts[1]) == 1

    second = pipeline(tmp_path / "run")
    second.start()
    try:
        second.await_idle()
    finally:
        second.stop()
    assert sorted(attempts) == [0, 1] and len(attempts[0]) == 1
    assert len(attempts[1]) == 2 and attempts[1][0] == attempts[1][1]
    assert_streams_equal_batch_plan(spark, feed, sink[0] + sink[1])

    clean = pipeline(tmp_path / "clean")
    clean.start()
    try:
        clean.await_idle()
    finally:
        clean.stop()
    assert (second.states, second.bar_states, second.ticks_processed) == \
        (clean.states, clean.bar_states, clean.ticks_processed)


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


# Two keyed micro-batches, stats bars and OHLC bars of 5 ticks. After
# batch 1, A and B each carry an unfinished stats bar and OHLC bar; in
# batch 2 A's complete (a hold-last row included) while B's stay open,
# C opens with out-of-range prices (zero rows) and D, seeded, is idle.
SEED_BATCHES = [
    {"A": [41970, 41975, 41960, 41968, 41990, 41985, 41987],
     "B": [42100, (42104, 2), 42101, 42109, 42106, 42110, 42103],
     "D": [41500, 41508, (41503, 2), 41511]},
    {"A": [41980, 99999, 41983, 41979, 41995, 41990],
     "B": [42107],
     "C": [30000, 50000, 30000, 41200, 41204, 41199, 41230, 41226, 41228, 41225]},
]


def seed_batch(spark, lines):
    """{key: [price | (price, volume)]} -> one keyed ticks_raw frame."""
    rows = [
        (key, i + 1, TS, p - 1, p + 1, p, v)
        for key, prices in lines.items()
        for i, (p, v) in enumerate(x if isinstance(x, tuple) else (x, 1) for x in prices)
    ]
    return spark.createDataFrame(
        rows, "stream string, line_no long, ts_str string, bid long, ask long, "
        "last long, volume long")


def test_next_seeds_pinned(spark):
    """The next {key: seed} maps of the hot loop, boxcar bars and FIR bars
    after two keyed micro-batches, every field pinned to recorded values:
    carried stats/OHLC bars that complete and that stay open, a new
    stream opening on zero rows and a seeded stream idle in the batch."""
    from tickdatapipeline_spark.streaming.state import (
        KEY,
        advance_bars_streams,
        advance_streams,
    )

    fir = BarProcessingConfig(enabled=True, ticks_per_bar=5, bar_method="FIR",
                              normalization_window_bars=2)
    states, bar_states = {}, {"boxcar": {}, "FIR": {}}
    for lines in SEED_BATCHES:
        processed, states = advance_streams(seed_batch(spark, lines), CFG, states, KEY,
                                            stats_ticks_per_bar=5)
        for bp in (BP, fir):
            bars, bar_states[bp.bar_method] = advance_bars_streams(
                processed.select(KEY, *OUT_COLS), bp, bar_states[bp.bar_method], KEY)
            bars.unpersist()
        processed.unpersist()
    assert states == {
        "A": StreamState(tick0=13, prev_last=41990, hot=HotLoopSeed(
            n_valid0=12, core_seq0=11, sum_bmin0=-20, sum_bmax0=20, partial_cnt0=1,
            partial_min0=-5, partial_max0=-5, inv_q16_0=3277, cpm_theta0=1179779072,
            amc_n0=13, last_core_ratio0=-0.2500152587890625)),
        "B": StreamState(tick0=9, prev_last=42107, hot=HotLoopSeed(
            n_valid0=9, core_seq0=8, sum_bmin0=-3, sum_bmax0=8, partial_cnt0=3,
            partial_min0=-7, partial_max0=4, inv_q16_0=5958, cpm_theta0=1838776320,
            amc_n0=9, last_core_ratio0=0.3636474609375)),
        "C": StreamState(tick0=10, prev_last=41225, hot=HotLoopSeed(
            n_valid0=7, core_seq0=6, sum_bmin0=-5, sum_bmax0=10, partial_cnt0=1,
            partial_min0=-3, partial_max0=-3, inv_q16_0=4369, cpm_theta0=1095303168,
            amc_n0=7, last_core_ratio0=-0.1999969482421875)),
        "D": StreamState(tick0=5, prev_last=41511, hot=HotLoopSeed(
            n_valid0=5, core_seq0=4, sum_bmin0=0, sum_bmax0=0, partial_cnt0=4,
            partial_min0=-5, partial_max0=8, inv_q16_0=7559, cpm_theta0=2724626432,
            amc_n0=5, last_core_ratio0=0.9227294921875)),
    }
    boxcar = {
        "A": BarSeed(partial_cnt0=3, partial_open0=41979, partial_high0=41995,
                     partial_low0=41979, bars_done0=2, prev_avg0=61321, sum_high0=141989,
                     sum_low0=83940, norm0=29024.5),
        "B": BarSeed(partial_cnt0=4, partial_open0=42106, partial_high0=42110,
                     partial_low0=42103, bars_done0=1, prev_avg0=42106, sum_high0=42109,
                     sum_low0=42100, norm0=1.0),
        "C": BarSeed(bars_done0=2, prev_avg0=41218, sum_high0=91230, sum_low0=71199,
                     norm0=10015.5),
        "D": BarSeed(bars_done0=1, prev_avg0=41507, sum_high0=41511, sum_low0=41500,
                     norm0=1.0),
    }
    assert bar_states["boxcar"] == boxcar
    # FIR differs only in the averages and the carried price tail, which
    # holds every tick while a stream is shorter than the filter
    ticks = {"A": [41970, 41975, 41960, 41968, 41990, 41985, 41987, 41980, 99999, 41983,
                   41979, 41995, 41990],
             "B": [42100, 42104, 42104, 42101, 42109, 42106, 42110, 42103, 42107],
             "C": [30000, 50000, 30000, 41200, 41204, 41199, 41230, 41226, 41228, 41225],
             "D": [41500, 41508, 41503, 41503, 41511]}
    fir_avg = {"A": -2, "B": 1, "C": -2, "D": 1}
    assert bar_states["FIR"] == {
        k: replace(s, prev_avg0=fir_avg[k], tail_prices0=tuple(enumerate(ticks[k], 1)))
        for k, s in boxcar.items()
    }
