"""Streaming continuation tests: processing a stream in micro-batches
through streaming.advance must be BIT-IDENTICAL to the batch plan over
the concatenated input — for every encoder, across stats-bar boundaries,
hold-last spikes and clipped jumps. Plus fan-out priority semantics and
the end-to-end file-source runner."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import make_ticks_raw
from tickdatapipeline_spark.config import SignalProcessingConfig
from tickdatapipeline_spark.operators.expansion import expand_volume
from tickdatapipeline_spark.operators.hotloop import hot_loop
from tickdatapipeline_spark.streaming import (
    OUT_COLS,
    ConsumerType,
    StreamState,
    TripleSplitManager,
    advance,
)

TS = "20250319 120000 0000000"
N_STATS = 8  # small stats bar so batches cross several boundaries


def tick_rows(n=34):
    rows = []
    price = 41970
    for i in range(n):
        price += (i * 7) % 11 - 5
        if i == 13:
            rows.append((i + 1, TS, 99999, 1))       # hold-last spike
            continue
        if i == 21:
            rows.append((i + 1, TS, price + 80, 2))  # clipped jump
            continue
        rows.append((i + 1, TS, price, 1 + i % 3))
    return rows


def renumber(rows):
    return [(i + 1, ts, p, v) for i, (_, ts, p, v) in enumerate(rows)]


@pytest.mark.parametrize("encoder", ["derivative", "hexad16", "cpm", "amc"])
@pytest.mark.heavy
def test_microbatches_equal_batch(spark, encoder):
    cfg = SignalProcessingConfig(encoder_type=encoder, cpm_modulation_index=0.2,
                                 tick_derivative_imag_scale=2.0)
    rows = tick_rows()
    whole = hot_loop(
        expand_volume(make_ticks_raw(spark, rows)), cfg, stats_ticks_per_bar=N_STATS
    ).orderBy("tick_idx").collect()

    state = StreamState()
    got = []
    for lo, hi in [(0, 11), (11, 19), (19, 26), (26, 34)]:
        batch = make_ticks_raw(spark, renumber(rows[lo:hi]))
        processed, state = advance(batch, cfg, state, stats_ticks_per_bar=N_STATS)
        got.extend(processed.select(*OUT_COLS).orderBy("tick_idx").collect())
        processed.unpersist()

    assert len(got) == len(whole)
    for g, w in zip(got, whole):
        for c in OUT_COLS:
            assert g[c] == w[c], f"tick {w['tick_idx']} col {c}: stream={g[c]} batch={w[c]}"


@pytest.mark.parametrize("method,tpb", [("boxcar", 5), ("FIR", 4)])
@pytest.mark.heavy
def test_bar_microbatches_equal_batch(spark, method, tpb):
    from tickdatapipeline_spark.config import BarProcessingConfig
    from tickdatapipeline_spark.operators.bars import BarSeed, bar_aggregate
    from tickdatapipeline_spark.streaming.state import advance_bars

    cfg = SignalProcessingConfig(encoder_type="derivative")
    bp = BarProcessingConfig(enabled=True, ticks_per_bar=tpb, bar_method=method,
                             normalization_window_bars=2)
    rows = tick_rows(34)
    whole_ticks = hot_loop(
        expand_volume(make_ticks_raw(spark, rows)), cfg, stats_ticks_per_bar=N_STATS
    )
    whole = bar_aggregate(whole_ticks, bp).orderBy("bar_idx").collect()
    assert len(whole) >= 5  # the split must cross several bar boundaries

    state, bar_state = StreamState(), BarSeed()
    got = []
    for lo, hi in [(0, 11), (11, 19), (19, 26), (26, 34)]:
        batch = make_ticks_raw(spark, renumber(rows[lo:hi]))
        processed, state = advance(batch, cfg, state, stats_ticks_per_bar=N_STATS)
        bars, bar_state = advance_bars(processed.select(*OUT_COLS), bp, bar_state)
        got.extend(bars.orderBy("bar_idx").collect())
        bars.unpersist()
        processed.unpersist()

    assert len(got) == len(whole)
    cols = whole[0].asDict().keys()
    for g, w in zip(got, whole):
        for c in cols:
            assert g[c] == w[c], f"bar {w['bar_idx']} col {c}: stream={g[c]} batch={w[c]}"


@pytest.mark.parametrize("method,tpb", [("boxcar", 5), ("FIR", 4)])
@pytest.mark.heavy
def test_multistream_bar_microbatches_equal_batch(spark, method, tpb):
    """Per-stream BarSeed continuation: a 2-stream micro-batched run must
    equal the 2-stream batch plan bar for bar (BarProcessor.jl per-stream
    state, :41-68). Batch splits deliberately leave each stream mid-bar."""
    from pyspark.sql import functions as F

    from tickdatapipeline_spark.config import BarProcessingConfig
    from tickdatapipeline_spark.operators.bars import bar_aggregate
    from tickdatapipeline_spark.streaming.state import advance_bars_streams

    cfg = SignalProcessingConfig(encoder_type="derivative")
    bp = BarProcessingConfig(enabled=True, ticks_per_bar=tpb, bar_method=method,
                             normalization_window_bars=2)
    rows_a = tick_rows(34)
    rows_b = [(i + 1, TS, 42100 + (i * 5) % 13, 1 + i % 2) for i in range(26)]

    def processed(rows):
        return hot_loop(expand_volume(make_ticks_raw(spark, rows)), cfg,
                        stats_ticks_per_bar=N_STATS).select(*OUT_COLS)

    two = (
        processed(rows_a).withColumn("stream", F.lit("A"))
        .unionByName(processed(rows_b).withColumn("stream", F.lit("B")))
    )
    whole = bar_aggregate(two, bp, stream_id="stream").orderBy("stream", "bar_idx").collect()
    assert len(whole) >= 8 and {w["stream"] for w in whole} == {"A", "B"}

    # micro-batches: uneven per-stream splits so partial bars carry over;
    # batch 3 contains stream A only (B idles and must keep its state)
    states = {"A": StreamState(), "B": StreamState()}
    seeds: dict = {}
    splits = [{"A": (0, 11), "B": (0, 7)}, {"A": (11, 19), "B": (7, 20)},
              {"A": (19, 26)}, {"A": (26, 34), "B": (20, 26)}]
    got = []
    for split in splits:
        parts = []
        for key, (lo, hi) in split.items():
            rows = rows_a if key == "A" else rows_b
            batch = make_ticks_raw(spark, renumber(rows[lo:hi]))
            p, states[key] = advance(batch, cfg, states[key], stats_ticks_per_bar=N_STATS)
            parts.append(p.select(*OUT_COLS).withColumn("stream", F.lit(key)))
        batch_df = parts[0]
        for extra in parts[1:]:
            batch_df = batch_df.unionByName(extra)
        bars, seeds = advance_bars_streams(batch_df, bp, seeds, "stream")
        got.extend(bars.orderBy("stream", "bar_idx").collect())
        bars.unpersist()

    got.sort(key=lambda r: (r["stream"], r["bar_idx"]))
    assert len(got) == len(whole)
    cols = whole[0].asDict().keys()
    for g, w in zip(got, whole):
        for c in cols:
            assert g[c] == w[c], f"{w['stream']} bar {w['bar_idx']} col {c}: stream={g[c]} batch={w[c]}"


@pytest.mark.heavy
def test_empty_batch_keeps_state(spark):
    cfg = SignalProcessingConfig(encoder_type="derivative")
    rows = tick_rows(20)
    state = StreamState()
    p1, state = advance(make_ticks_raw(spark, renumber(rows[:12])), cfg, state,
                        stats_ticks_per_bar=N_STATS)
    p1.unpersist()
    empty = make_ticks_raw(spark, []).limit(0)
    _, state2 = advance(empty, cfg, state, stats_ticks_per_bar=N_STATS)
    assert state2 == state


def test_fanout_priority_vs_dropping(spark):
    mgr = TripleSplitManager()
    seen: dict[str, int] = {"p": 0, "m": 0}
    mgr.subscribe("p", ConsumerType.PRIORITY,
                  lambda df, bid: seen.__setitem__("p", seen["p"] + df.count()),
                  buffer_size=4)
    mgr.subscribe("m", ConsumerType.MONITORING,
                  lambda df, bid: seen.__setitem__("m", seen["m"] + df.count()),
                  buffer_size=4)
    with pytest.raises(ValueError):
        mgr.subscribe("p", ConsumerType.ANALYTICS, lambda df, bid: None)

    batch = spark.range(10).withColumnRenamed("id", "tick_idx")
    n, ok, dropped = mgr.broadcast_batch(batch, 0, 10)
    assert (n, ok) == (2, 2)
    assert seen["p"] == 10      # priority never drops
    assert seen["m"] == 4       # monitoring capped at buffer_size
    assert dropped == 6
    st = mgr.stats()
    assert st["m"]["messages_dropped"] == 6
    assert st["p"]["messages_dropped"] == 0
    assert mgr.unsubscribe("m") and not mgr.unsubscribe("m")


def test_fanout_slow_consumer_buffer_carryover(spark):
    """C3 channel emulation (TripleSplitSystem.jl:221-259): a slow
    best-effort consumer's buffer occupancy carries across batches and
    overflow rows drop, while PRIORITY's blocking put delivers 100%."""
    mgr = TripleSplitManager()
    got: dict[str, list[int]] = {"p": [], "m": []}
    mgr.subscribe("p", ConsumerType.PRIORITY,
                  lambda df, bid: got["p"].extend(r.tick_idx for r in df.collect()),
                  buffer_size=6)
    mgr.subscribe("m", ConsumerType.MONITORING,
                  lambda df, bid: got["m"].extend(r.tick_idx for r in df.collect()),
                  buffer_size=6, drain_rate=2)

    for b in range(3):  # 3 batches x 5 rows
        batch = spark.range(b * 5, b * 5 + 5).withColumnRenamed("id", "tick_idx")
        mgr.broadcast_batch(batch, b, 5)

    st = mgr.stats()
    # PRIORITY: every row of every batch, zero drops
    assert sorted(got["p"]) == list(range(15))
    assert st["p"]["messages_sent"] == 15 and st["p"]["messages_dropped"] == 0
    # MONITORING: b0 accepts 5 (fill 5, drain 2 -> 3); b1 space 3 -> drop 2
    # (fill 6, drain -> 4); b2 space 2 -> drop 3 (fill 6, drain -> 4)
    assert st["m"]["messages_sent"] == 10 and st["m"]["messages_dropped"] == 5
    assert st["m"]["fill_ratio"] == pytest.approx(4 / 6)
    # drained rows leave the buffer head in tick_idx order: 2 per interval
    assert got["m"] == [0, 1, 2, 3, 4, 5]
    # accepted-but-not-yet-drained rows are buffered, not dropped
    assert sum(len(rows) for rows, _ in mgr._consumers["m"]._pending) == 4


def test_fanout_buffered_rows_pinned_against_source_mutation(spark, tmp_path):
    """A drain several intervals after the enqueue must deliver the rows
    AS ACCEPTED — a channel copies messages into its buffer. If the
    buffer held lazy plans, overwriting the source (file rotation, or the
    runner unpersisting the micro-batch frame) would silently recompute
    different rows at drain time."""
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, 100 + i) for i in range(4)], "tick_idx long, v long"
    ).write.mode("overwrite").parquet(src)

    mgr = TripleSplitManager()
    got: list[tuple[int, int]] = []
    mgr.subscribe("m", ConsumerType.MONITORING,
                  lambda df, bid: got.extend((r.tick_idx, r.v) for r in df.collect()),
                  buffer_size=8, drain_rate=2)

    mgr.broadcast_batch(spark.read.parquet(src), 0, 4)  # accepts 4, drains 2
    assert got == [(0, 100), (1, 101)]

    # rotate the source: same schema, entirely different contents
    spark.createDataFrame(
        [(i, 900 + i) for i in range(4)], "tick_idx long, v long"
    ).write.mode("overwrite").parquet(src)

    # an empty interval just drains the buffer
    empty = spark.createDataFrame([], "tick_idx long, v long")
    mgr.broadcast_batch(empty, 1, 0)
    assert got == [(0, 100), (1, 101), (2, 102), (3, 103)]  # original rows
    st = mgr.stats()
    assert st["m"]["messages_sent"] == 4 and st["m"]["messages_dropped"] == 0


@pytest.mark.heavy
def test_runner_independent_streams_per_key(spark, tmp_path):
    """stream_key routes files to independent stream states: two symbols
    interleaved across files each process exactly like a solo run."""
    from tickdatapipeline_spark.streaming import StreamingTickPipeline

    cfg = SignalProcessingConfig(encoder_type="derivative")
    rows_a, rows_b = tick_rows(16), [(i + 1, TS, 42100 + (i * 5) % 13, 1 + i % 2)
                                     for i in range(14)]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # interleaved arrival: A part 1, B part 1, A part 2, B part 2
    chunks = [("000-symA.txt", rows_a[:9]), ("001-symB.txt", rows_b[:7]),
              ("002-symA.txt", rows_a[9:]), ("003-symB.txt", rows_b[7:])]
    import os

    for i, (fname, chunk) in enumerate(chunks):
        with open(in_dir / fname, "w") as f:
            for _, ts, price, vol in chunk:
                f.write(f"{ts};{price - 1};{price + 1};{price};{vol}\n")
        # Spark's file source orders by modification time: emulate the
        # production arrival order (session files appear over time)
        os.utime(in_dir / fname, (1700000000 + i, 1700000000 + i))

    collected = []
    mgr = TripleSplitManager()
    mgr.subscribe("cap", ConsumerType.PRIORITY,
                  lambda df, bid: collected.extend(df.collect()))
    pipe = StreamingTickPipeline(
        spark, str(in_dir), cfg, mgr, checkpoint_dir=str(tmp_path / "ckpt"),
        stream_key=lambda p: p.rsplit("-", 1)[-1],
    )
    pipe.start()
    try:
        pipe.await_idle()
    finally:
        pipe.stop()

    for key, rows in [("symA.txt", rows_a), ("symB.txt", rows_b)]:
        whole = hot_loop(expand_volume(make_ticks_raw(spark, rows)),
                         cfg).orderBy("tick_idx").collect()
        got = sorted((r for r in collected if r.stream == key), key=lambda r: r.tick_idx)
        assert len(got) == len(whole)
        for g, w in zip(got, whole):
            for c in OUT_COLS:
                assert g[c] == w[c], f"{key} tick {w['tick_idx']} col {c}"
    assert pipe.ticks_processed == sum(
        sum(v for *_, v in rows) for rows in (rows_a, rows_b)
    )


@pytest.mark.heavy
def test_file_source_runner_end_to_end(spark, tmp_path):
    from tickdatapipeline_spark.streaming import StreamingTickPipeline

    cfg = SignalProcessingConfig(encoder_type="derivative")
    rows = tick_rows(24)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # two session files; distinct mtimes pin arrival order (same-ms
    # writes tie and the file source breaks ties arbitrarily)
    import os

    for i, (fname, chunk) in enumerate([("ticks-000.txt", rows[:13]), ("ticks-001.txt", rows[13:])]):
        with open(in_dir / fname, "w") as f:
            for _, ts, price, vol in chunk:
                f.write(f"{ts};{price - 1};{price + 1};{price};{vol}\n")
            f.write("\n")          # blank line: skipped
            f.write("garbage;;\n")  # malformed: skipped
        os.utime(in_dir / fname, (1700000000 + i, 1700000000 + i))

    collected = []
    mgr = TripleSplitManager()
    mgr.subscribe("cap", ConsumerType.PRIORITY,
                  lambda df, bid: collected.extend(df.orderBy("tick_idx").collect()))

    pipe = StreamingTickPipeline(
        spark, str(in_dir), cfg, mgr, checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    pipe.start()
    try:
        pipe.await_idle()
    finally:
        pipe.stop()

    whole = hot_loop(expand_volume(make_ticks_raw(spark, rows)),
                     cfg).orderBy("tick_idx").collect()
    assert len(collected) == len(whole)
    for g, w in zip(collected, whole):
        for c in OUT_COLS:
            assert g[c] == w[c], f"tick {w['tick_idx']} col {c}"


def test_pipeline_metrics_accumulation(spark):
    """PipelineMetrics mirrors the reference accumulator
    (PipelineOrchestrator.jl:166-176): cumulative sums, max over all
    observations, min over nonzero ones; percentiles use benchmark.jl's
    floor-index selection sorted[max(1, div(k*n, 100))]."""
    from tickdatapipeline_spark.streaming.metrics import PipelineMetrics

    m = PipelineMetrics()
    for us in [300, 100, 0, 200, 500]:
        m.record_batch(ticks=10, total_us=us, signal_us=us - us // 4,
                       broadcast_us=us // 4, broadcasts=1)
    assert m.ticks_processed == 50 and m.broadcasts_sent == 5
    assert m.max_latency_us == 500
    assert m.min_latency_us == 100  # zero-latency obs excluded (:175)
    row = m.summary_df(spark).collect()[0]
    assert row.sample_size == 5 and row.errors == 0
    assert row.min_latency_us == 0  # report min is sorted[1] incl. zero
    # sorted = [0,100,200,300,500]; 1-based idx = max(1, k*5//100)
    assert row.p50_latency_us == 100   # idx 2
    assert row.p90_latency_us == 300   # idx 4
    assert row.p99_latency_us == 300
    assert row.max_latency_us == 500
    assert row.avg_latency_us == pytest.approx(1100 / 5)


@pytest.mark.heavy
def test_latency_metrics_query(spark):
    """O2 latency surface: micro-batched run over sf0.001 reports one
    row whose deterministic fields (ticks, batches, errors) are exact
    and whose percentile fields are ordered."""
    from tickdatapipeline_spark.plans.analytics import latency_metrics_fn
    from tickdatapipeline_spark.plans.common import SP_DERIV, processed_ticks

    sf = "/root/testdata/sf0.001"
    rows = latency_metrics_fn(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.ticks_processed == processed_ticks(spark, sf, SP_DERIV).count()
    assert r.sample_size >= 2 and r.errors == 0
    assert (r.min_latency_us <= r.p50_latency_us <= r.p90_latency_us
            <= r.p95_latency_us <= r.p99_latency_us <= r.max_latency_us)
    assert r.broadcasts_sent == r.sample_size


@pytest.mark.parametrize("encoder", ["derivative", "cpm", "amc"])
@pytest.mark.heavy
def test_multistream_advance_equals_batch(spark, encoder):
    """advance_streams: a 2-stream micro-batched run (uneven splits, one
    batch where stream B idles) must be bit-identical to the 2-stream
    batch plan — per-stream seeds ride broadcast joins, state extraction
    is O(streams) rows, a constant number of jobs per batch."""
    from pyspark.sql import functions as F

    from tickdatapipeline_spark.streaming.state import advance_streams

    cfg = SignalProcessingConfig(encoder_type=encoder, cpm_modulation_index=0.2,
                                 tick_derivative_imag_scale=2.0)
    rows_a = tick_rows(34)
    rows_b = [(i + 1, TS, 42100 + (i * 5) % 13, 1 + i % 2) for i in range(26)]
    if encoder != "derivative":
        rows_b[3] = (4, TS, 99999, 1)  # hold row exercises encoder seeds

    def tagged(rows, key):
        return make_ticks_raw(spark, rows).withColumn("stream", F.lit(key))

    whole_raw = tagged(rows_a, "A").unionByName(tagged(rows_b, "B"))
    whole = (
        hot_loop(expand_volume(whole_raw, "stream"), cfg, stream_id="stream",
                 stats_ticks_per_bar=N_STATS)
        .orderBy("stream", "tick_idx").collect()
    )

    states: dict = {}
    splits = [{"A": (0, 11), "B": (0, 7)}, {"A": (11, 19), "B": (7, 20)},
              {"A": (19, 26)}, {"A": (26, 34), "B": (20, 26)}]
    got = []
    for split in splits:
        parts = []
        for key, (lo, hi) in split.items():
            rows = rows_a if key == "A" else rows_b
            parts.append(tagged(renumber(rows[lo:hi]), key))
        batch = parts[0]
        for extra in parts[1:]:
            batch = batch.unionByName(extra)
        processed, states = advance_streams(batch, cfg, states, "stream",
                                            stats_ticks_per_bar=N_STATS)
        got.extend(
            processed.select("stream", *OUT_COLS).orderBy("stream", "tick_idx").collect()
        )
        processed.unpersist()

    got.sort(key=lambda r: (r["stream"], r["tick_idx"]))
    assert len(got) == len(whole)
    for g, w in zip(got, whole):
        for c in OUT_COLS:
            assert g[c] == w[c], f"{w['stream']} tick {w['tick_idx']} col {c}: stream={g[c]} batch={w[c]}"


@pytest.mark.heavy
def test_runner_multistream_fast_path(spark, tmp_path):
    """max_files_per_trigger=2 + one-file-per-stream batches take the
    constant-job fast path (advance_streams); results must equal solo
    runs per stream, including per-stream bar continuation."""
    import os

    from tickdatapipeline_spark.config import BarProcessingConfig
    from tickdatapipeline_spark.operators.bars import bar_aggregate
    from tickdatapipeline_spark.streaming import StreamingTickPipeline

    cfg = SignalProcessingConfig(encoder_type="derivative")
    bp = BarProcessingConfig(enabled=True, ticks_per_bar=5, bar_method="boxcar",
                             normalization_window_bars=2)
    rows_a, rows_b = tick_rows(16), [(i + 1, TS, 42100 + (i * 5) % 13, 1 + i % 2)
                                     for i in range(14)]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    chunks = [("000-symA.txt", rows_a[:9]), ("001-symB.txt", rows_b[:7]),
              ("002-symA.txt", rows_a[9:]), ("003-symB.txt", rows_b[7:])]
    for i, (fname, chunk) in enumerate(chunks):
        with open(in_dir / fname, "w") as f:
            for _, ts, price, vol in chunk:
                f.write(f"{ts};{price - 1};{price + 1};{price};{vol}\n")
        os.utime(in_dir / fname, (1700000000 + i // 2, 1700000000 + i // 2))

    collected, collected_bars = [], []
    mgr = TripleSplitManager()
    mgr.subscribe("cap", ConsumerType.PRIORITY,
                  lambda df, bid: collected.extend(df.collect()))
    pipe = StreamingTickPipeline(
        spark, str(in_dir), cfg, mgr, checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
        stream_key=lambda p: p.rsplit("-", 1)[-1],
        bar_cfg=bp,
        bar_sink=lambda df, bid: collected_bars.extend(df.collect()),
    )
    pipe.start()
    try:
        pipe.await_idle()
    finally:
        pipe.stop()

    assert pipe.metrics.broadcasts_sent < len(chunks)  # fast path engaged
    for key, rows in [("symA.txt", rows_a), ("symB.txt", rows_b)]:
        whole_ticks = hot_loop(expand_volume(make_ticks_raw(spark, rows)), cfg)
        whole = whole_ticks.orderBy("tick_idx").collect()
        got = sorted((r for r in collected if r.stream == key), key=lambda r: r.tick_idx)
        assert len(got) == len(whole)
        for g, w in zip(got, whole):
            for c in OUT_COLS:
                assert g[c] == w[c], f"{key} tick {w['tick_idx']} col {c}"
        whole_bars = bar_aggregate(whole_ticks.select(*OUT_COLS), bp).orderBy("bar_idx").collect()
        got_bars = sorted((r for r in collected_bars if r.stream == key),
                          key=lambda r: r.bar_idx)
        assert len(got_bars) == len(whole_bars) >= 3
        for g, w in zip(got_bars, whole_bars):
            for c in w.asDict().keys():
                assert g[c] == w[c], f"{key} bar {w['bar_idx']} col {c}"


@pytest.mark.heavy
def test_ema_stream_state_carries_across_batches(spark, tmp_path):
    """applyInPandasWithState EMA: two streams split across three
    micro-batches equal the single-pass recurrence over each stream's
    whole input (the A1/A2 stream==batch contract via Spark's native
    arbitrary-state API, not foreachBatch bookkeeping)."""
    import json
    import os

    from tickdatapipeline_spark.streaming.stateful import ema_stream

    rows = {
        "a": [(i + 1, (i * 7) % 11 - 5, i % 3 != 0) for i in range(30)],
        "b": [(i + 1, (i * 5) % 9 - 4, True) for i in range(24)],
    }

    def reference(seq):
        e, v, a, init, out = 0, 1, 10, False, []
        for _, d, core in seq:
            if core:
                ad = abs(d)
                if init:
                    e = e + ((d - e) >> 4)
                    v = v + ((abs(d - e) - v) >> 4)
                else:
                    e, v, init = d, max(ad, 1), True
                a = a + round((float(ad) - float(a)) * 0.125)
            out.append((e, v, a))
        return out

    (tmp_path / "in").mkdir()
    cuts = [(0, 11), (11, 17), (17, 30)]
    for i, (lo, hi) in enumerate(cuts):
        with open(tmp_path / "in" / f"b{i}.json", "w") as f:
            for s, sl in rows.items():
                for t, d, core in sl[lo:hi]:
                    f.write(json.dumps({"stream": s, "tick_idx": t,
                                        "delta_w": d, "is_core": core}) + "\n")
        os.utime(tmp_path / "in" / f"b{i}.json", (1700000000 + i, 1700000000 + i))

    src = (
        spark.readStream.schema("stream string, tick_idx long, delta_w long, is_core boolean")
        .option("maxFilesPerTrigger", "1")
        .json(str(tmp_path / "in"))
    )
    q = (
        ema_stream(src).writeStream.format("memory").queryName("ema_stream_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.table("ema_stream_test").collect()
    for s, sl in rows.items():
        expected = reference(sl)
        mine = sorted((r for r in got if r.stream == s), key=lambda r: r.tick_idx)
        assert len(mine) == len(sl)
        for r, (e, v, a) in zip(mine, expected):
            assert (r.ema_delta, r.ema_delta_dev, r.ema_abs_delta) == (e, v, a), r.tick_idx


def test_watermarked_windowed_events_late_data(spark, tmp_path):
    """Event-time streaming with a watermark: late-but-within-watermark
    rows merge into their window before it finalizes; rows later than
    the watermark are dropped; append mode emits each finalized window
    exactly once."""
    import json
    import os

    from tickdatapipeline_spark.streaming.eventtime import run_windowed_events_to_memory

    H = 3600 * 1_000_000  # an hour in epoch-micros

    def write(fname, rows, i):
        p = tmp_path / "in" / fname
        with open(p, "w") as f:
            for eid, tus, et, v in rows:
                f.write(json.dumps({"event_id": eid, "tus": tus,
                                    "event_type": et, "value": v}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    (tmp_path / "in").mkdir()
    # batch 0: hours 0, 1, 2
    write("b0.json", [(1, 0 * H + 60_000_000, "click", 1.0),
                      (2, 1 * H + 10_000_000, "click", 2.0),
                      (3, 1 * H + 20_000_000, "click", 3.0),
                      (4, 2 * H + 5_000_000, "click", 4.0)], 0)
    # batch 1: hour 10 advances the watermark to hour 8 (2h watermark);
    # the hour-1:30 row is LATE but within watermark -> merges into its
    # window before finalization
    write("b1.json", [(5, 10 * H, "click", 10.0),
                      (6, 1 * H + 30 * 60_000_000, "click", 5.0)], 1)
    # batch 2: the watermark crosses hour 8 at the START of this batch,
    # so its end evicts + emits windows 0-2 (Spark applies watermark
    # filtering/eviction with the PREVIOUS batch's max event time)
    write("b2.json", [(8, 10 * H + 60_000_000, "click", 20.0)], 2)
    # batch 3: hour-2:15 row arrives after its window was evicted -> dropped
    write("b3.json", [(7, 2 * H + 15 * 60_000_000, "click", 100.0)], 3)

    q = run_windowed_events_to_memory(
        spark, str(tmp_path / "in"), str(tmp_path / "ckpt"),
        table_name="we_test",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r.window_start_s: (r.n_events, r.sum_value)
        for r in spark.table("we_test").collect()
    }
    # windows 0-2 finalized (watermark hour 8 > their ends); hour-10
    # window not yet emitted; the dropped row's 100.0 appears nowhere
    assert got == {
        0 * 3600: (1, 1.0),
        1 * 3600: (3, 10.0),  # includes the late-but-in-watermark row
        2 * 3600: (1, 4.0),   # the too-late row was dropped
    }


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: replayed events (same event_id)
    within the watermark emit exactly once, across micro-batch
    boundaries."""
    import json
    import os

    from tickdatapipeline_spark.streaming.eventtime import deduped_events_stream

    M = 60 * 1_000_000
    T0 = 100 * 60 * M  # away from the epoch (ts == initial watermark edge)

    def write(fname, rows, i):
        p = tmp_path / "in" / fname
        with open(p, "w") as f:
            for eid, tus in rows:
                f.write(json.dumps({"event_id": eid, "tus": tus,
                                    "event_type": "click", "value": 1.0}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    (tmp_path / "in").mkdir()
    # batch 0 carries an in-batch duplicate of event 1
    write("b0.json", [(1, T0), (1, T0), (2, T0 + 10 * M)], 0)
    # batch 1 replays events 1 and 2 (at-least-once upstream) + a new one
    write("b1.json", [(1, T0), (2, T0 + 10 * M), (3, T0 + 20 * M)], 1)

    q = (
        deduped_events_stream(spark, str(tmp_path / "in"))
        .writeStream.format("memory").queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(r.event_id for r in spark.table("dedup_stream").collect())
    assert got == [1, 2, 3]


def test_streaming_session_window(spark, tmp_path):
    """F.session_window sessionization under a watermark: a gap closes
    the session, a late-but-in-watermark row extends it before
    finalization, and append mode emits each session once the watermark
    passes session end + gap."""
    import json
    import os

    from tickdatapipeline_spark.streaming.eventtime import sessionized_events_stream

    M = 60 * 1_000_000  # a minute in micros

    def write(fname, rows, i):
        p = tmp_path / "in" / fname
        with open(p, "w") as f:
            for eid, tus, uid in rows:
                f.write(json.dumps({"event_id": eid, "tus": tus, "user_id": uid}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    (tmp_path / "in").mkdir()
    # user 1: events at 0, 10, 20 min (one session), then 120 min (a second)
    write("b0.json", [(1, 0, 1), (2, 10 * M, 1), (3, 20 * M, 1), (4, 120 * M, 1)], 0)
    # late row at 25 min (extends session 1 before finalization) + a
    # far-future row pushing the watermark past everything
    write("b1.json", [(5, 25 * M, 1), (6, 24 * 60 * M, 9)], 1)
    write("b2.json", [(7, 24 * 60 * M + M, 9)], 2)  # eviction batch

    q = (
        sessionized_events_stream(spark, str(tmp_path / "in"))
        .writeStream.format("memory").queryName("sess_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.user_id, r.session_start_s): (r.n_events, r.duration_s)
        for r in spark.table("sess_stream").collect()
    }
    # session 1: 0-25min + 30min gap -> duration 55min, 4 events (late
    # row merged); session 2: single event at 120min -> gap-only duration
    assert got == {
        (1, 0): (4, 55 * 60),
        (1, 120 * 60): (1, 30 * 60),
    }


@pytest.mark.heavy
def test_runner_enriched_multistream_fast_path_equals_batch(spark, tmp_path):
    """enrich=True through the constant-job multistream fast path: the
    broadcast frames of each stream carry B7 bar columns equal to the
    batch enrichment of that stream's whole input, across a micro-batch
    split that carries a partial bar over the boundary."""
    import os

    from tickdatapipeline_spark.config import BarProcessingConfig
    from tickdatapipeline_spark.operators.bars import bar_aggregate, enrich_ticks_with_bars
    from tickdatapipeline_spark.streaming import StreamingTickPipeline

    cfg = SignalProcessingConfig(encoder_type="derivative")
    bp = BarProcessingConfig(enabled=True, ticks_per_bar=5, bar_method="boxcar",
                             normalization_window_bars=2)
    rows_a = tick_rows(16)
    rows_b = [(i + 1, TS, 42100 + (i * 5) % 13, 1 + i % 2) for i in range(14)]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # 9/7 then 7/7 splits leave partial bars carried across the batch
    # boundary for both streams; mtimes pin batch grouping (2 files/batch)
    chunks = [("000-symA.txt", rows_a[:9]), ("001-symB.txt", rows_b[:7]),
              ("002-symA.txt", rows_a[9:]), ("003-symB.txt", rows_b[7:])]
    for i, (fname, chunk) in enumerate(chunks):
        with open(in_dir / fname, "w") as f:
            for _, ts, price, vol in chunk:
                f.write(f"{ts};{price - 1};{price + 1};{price};{vol}\n")
        os.utime(in_dir / fname, (1700000000 + i // 2, 1700000000 + i // 2))

    collected = []
    mgr = TripleSplitManager()
    mgr.subscribe("cap", ConsumerType.PRIORITY,
                  lambda df, bid: collected.extend(df.collect()))
    pipe = StreamingTickPipeline(
        spark, str(in_dir), cfg, mgr, checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
        stream_key=lambda p: p.rsplit("-", 1)[-1],
        bar_cfg=bp, enrich=True,
    )
    pipe.start()
    try:
        pipe.await_idle()
    finally:
        pipe.stop()

    assert pipe.metrics.broadcasts_sent < len(chunks)  # fast path engaged
    for key, rows in [("symA.txt", rows_a), ("symB.txt", rows_b)]:
        ticks = hot_loop(expand_volume(make_ticks_raw(spark, rows)), cfg).select(*OUT_COLS)
        whole = (
            enrich_ticks_with_bars(ticks, bar_aggregate(ticks, bp))
            .orderBy("tick_idx").collect()
        )
        got = sorted((r for r in collected if r.stream == key), key=lambda r: r.tick_idx)
        assert len(got) == len(whole)
        cols = whole[0].asDict().keys()
        n_enriched = 0
        for g, w in zip(got, whole):
            for c in cols:
                assert g[c] == w[c], f"{key} tick {w['tick_idx']} col {c}"
            if w["bar_idx"] is not None:
                n_enriched += 1
        assert n_enriched >= 2  # bars completed, incl. across the split


@pytest.mark.heavy
def test_runner_enriched_output_equals_batch(spark, tmp_path):
    """enrich=True: the broadcast frames carry B7 bar columns on exactly
    the completing ticks, equal to the batch enrichment over the whole
    input — across micro-batch boundaries (a carried partial bar's
    completing tick lands in a later batch)."""
    from tickdatapipeline_spark.config import BarProcessingConfig
    from tickdatapipeline_spark.operators.bars import bar_aggregate, enrich_ticks_with_bars
    from tickdatapipeline_spark.streaming import StreamingTickPipeline

    cfg = SignalProcessingConfig(encoder_type="derivative")
    bp = BarProcessingConfig(enabled=True, ticks_per_bar=5, bar_method="boxcar",
                             normalization_window_bars=2)
    rows = tick_rows(24)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # 13/11 split leaves a partial bar carried across the file boundary;
    # distinct mtimes pin the arrival order (same-ms writes tie and the
    # file source breaks ties arbitrarily)
    import os

    for i, (fname, chunk) in enumerate([("t-000.txt", rows[:13]), ("t-001.txt", rows[13:])]):
        with open(in_dir / fname, "w") as f:
            for _, ts, price, vol in chunk:
                f.write(f"{ts};{price - 1};{price + 1};{price};{vol}\n")
        os.utime(in_dir / fname, (1700000000 + i, 1700000000 + i))

    collected = []
    mgr = TripleSplitManager()
    mgr.subscribe("cap", ConsumerType.PRIORITY,
                  lambda df, bid: collected.extend(df.collect()))
    pipe = StreamingTickPipeline(
        spark, str(in_dir), cfg, mgr, checkpoint_dir=str(tmp_path / "ckpt"),
        bar_cfg=bp, enrich=True,
    )
    pipe.start()
    try:
        pipe.await_idle()
    finally:
        pipe.stop()

    ticks = hot_loop(expand_volume(make_ticks_raw(spark, rows)), cfg).select(*OUT_COLS)
    whole = (
        enrich_ticks_with_bars(ticks, bar_aggregate(ticks, bp))
        .orderBy("tick_idx").collect()
    )
    got = sorted(collected, key=lambda r: r.tick_idx)
    assert len(got) == len(whole)
    cols = whole[0].asDict().keys()
    n_enriched = 0
    for g, w in zip(got, whole):
        for c in cols:
            assert g[c] == w[c], f"tick {w['tick_idx']} col {c}: stream={g[c]} batch={w[c]}"
        if w["bar_idx"] is not None:
            n_enriched += 1
    assert n_enriched >= 4  # several bars completed, incl. across the split


@pytest.mark.heavy
def test_runner_restart_resumes_from_snapshot(spark, tmp_path):
    """state_path survives a full runner restart: a NEW pipeline object
    (same checkpoint + snapshot) continues mid-stream — including
    mid-stats-bar — and its output equals the batch plan's tail."""
    import os

    from tickdatapipeline_spark.streaming import StreamingTickPipeline

    cfg = SignalProcessingConfig(encoder_type="derivative")
    rows = tick_rows(24)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    snap = str(tmp_path / "state.json")

    def write(fname, chunk, i):
        with open(in_dir / fname, "w") as f:
            for _, ts, price, vol in chunk:
                f.write(f"{ts};{price - 1};{price + 1};{price};{vol}\n")
        os.utime(in_dir / fname, (1700000000 + i, 1700000000 + i))

    def run_pipe(sink):
        mgr = TripleSplitManager()
        mgr.subscribe("cap", ConsumerType.PRIORITY,
                      lambda df, bid: sink.extend(df.collect()))
        pipe = StreamingTickPipeline(
            spark, str(in_dir), cfg, mgr,
            checkpoint_dir=str(tmp_path / "ckpt"), state_path=snap,
        )
        pipe.start()
        try:
            pipe.await_idle()
        finally:
            pipe.stop()
        return pipe

    write("t-000.txt", rows[:13], 0)
    first = []
    run_pipe(first)          # session 1 processes file 1, snapshots, dies
    write("t-001.txt", rows[13:], 1)
    second = []
    pipe2 = run_pipe(second)  # brand-new object resumes from the snapshot

    whole = hot_loop(expand_volume(make_ticks_raw(spark, rows)),
                     cfg).orderBy("tick_idx").collect()
    n1 = len(first)
    assert n1 == sum(v for *_, v in rows[:13])
    got = sorted(first + second, key=lambda r: r.tick_idx)
    assert len(got) == len(whole)
    for g, w in zip(got, whole):
        for c in OUT_COLS:
            assert g[c] == w[c], f"tick {w['tick_idx']} col {c}: stream={g[c]} batch={w[c]}"
    assert pipe2.ticks_processed == len(whole)


@pytest.mark.heavy
def test_stream_stream_interval_join_attribution(spark, tmp_path):
    """Watermarked stream-stream interval join (clicks x purchases):
    in-watermark data produces exactly the batch join's rows; a click
    arriving later than the watermark is dropped and never joins."""
    import json
    import os

    from pyspark.sql import functions as F

    from tickdatapipeline_spark.streaming.eventtime import attributed_clicks_stream

    H = 3600 * 1_000_000  # an hour in epoch-micros
    B = 24 * H  # base offset: a row at EXACTLY epoch 0 equals the
    # initial watermark and is filtered as late (engine predicate is
    # event_time <= watermark) — real event times are never epoch 0

    def write(d, fname, rows, i):
        p = tmp_path / d / fname
        with open(p, "w") as f:
            for eid, tus, uid in rows:
                f.write(json.dumps({"event_id": eid, "tus": B + tus,
                                    "user_id": uid}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    (tmp_path / "clicks").mkdir()
    (tmp_path / "purchases").mkdir()
    # batch 0 (both sides): user 1 clicks at h0 and h3, user 2 at h1;
    # purchases: user 1 at h2 (lookback 4h catches both of user 1's
    # in-window clicks... h3 > h2 so only the h0 click), user 2 at h6
    # (h1 click is 5h before -> outside the 4h lookback)
    write("clicks", "c0.json", [(101, 0 * H, 1), (102, 3 * H, 1),
                                (103, 1 * H, 2)], 0)
    write("purchases", "p0.json", [(201, 2 * H, 1), (202, 6 * H, 2)], 0)
    # batch 1: advance both watermarks far past the early hours
    write("clicks", "c1.json", [(104, 30 * H, 3)], 1)
    write("purchases", "p1.json", [(203, 30 * H + 1, 3)], 1)
    # batch 2: one more advancing batch — join state eviction runs at
    # the END of the batch in which the watermark has passed, so the
    # purchase-201 state (h2) is dropped when this batch completes
    write("clicks", "c2.json", [(106, 31 * H, 4)], 2)
    write("purchases", "p2.json", [(204, 31 * H + 1, 5)], 2)
    # batch 3: a LATE click at h1 for user 1 (watermark is ~h29) — must
    # be dropped, even though a state-free batch join would pair it
    # with purchase 201 if purchases replayed
    write("clicks", "c3.json", [(105, 1 * H + 60_000_000, 1)], 3)
    write("purchases", "p3.json", [], 3)

    df = attributed_clicks_stream(
        spark, str(tmp_path / "clicks"), str(tmp_path / "purchases"),
        lookback="4 hours", watermark="2 hours",
    )
    q = (
        df.writeStream.format("memory").queryName("attrib_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.user_id, r.click_event_id, r.purchase_event_id, r.lag_s)
        for r in spark.table("attrib_stream").collect()
    }
    # batch-equality on in-watermark data: the naive batch join over the
    # SAME on-time rows (everything except the late click 105)
    clicks = spark.createDataFrame(
        [(101, B + 0 * H, 1), (102, B + 3 * H, 1), (103, B + 1 * H, 2),
         (104, B + 30 * H, 3), (106, B + 31 * H, 4)],
        "event_id long, tus long, user_id long",
    )
    purchases = spark.createDataFrame(
        [(201, B + 2 * H, 1), (202, B + 6 * H, 2), (203, B + 30 * H + 1, 3),
         (204, B + 31 * H + 1, 5)],
        "event_id long, tus long, user_id long",
    )
    want = {
        (r.user_id, r.click_event_id, r.purchase_event_id, r.lag_s)
        for r in clicks.alias("c").join(
            purchases.alias("p"),
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("c.tus") >= F.col("p.tus") - 4 * H)
            & (F.col("c.tus") <= F.col("p.tus")),
        ).select(
            F.col("c.user_id"),
            F.col("c.event_id").alias("click_event_id"),
            F.col("p.event_id").alias("purchase_event_id"),
            F.expr("(p.tus - c.tus) DIV 1000000").alias("lag_s"),
        ).collect()
    }
    assert got == want
    assert (1, 101, 201, 7200) in got          # the joined pair
    assert all(c != 105 for _, c, _p, _l in got)  # late click dropped


@pytest.mark.heavy
def test_stream_static_enrichment_and_refreshable_dim(spark, tmp_path):
    """Two dimension-join contracts: (a) the plain stream-static join is
    stateless and left-null for unmatched keys, with the dimension fixed
    at query start; (b) the foreachBatch variant re-reads the dimension
    every micro-batch, so an on-disk overwrite between batches is
    reflected without restarting the query."""
    import json
    import os

    from tickdatapipeline_spark.streaming.eventtime import (
        enriched_events_stream,
        run_enriched_events_refreshable,
    )

    def write(fname, rows, i):
        p = tmp_path / "in" / fname
        with open(p, "w") as f:
            for eid, tus, uid in rows:
                f.write(json.dumps({"event_id": eid, "tus": tus,
                                    "user_id": uid}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    (tmp_path / "in").mkdir()
    dim_path = tmp_path / "dim.parquet"
    spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    ).write.mode("overwrite").parquet(str(dim_path))

    write("b0.json", [(10, 1_000_000, 1), (11, 2_000_000, 3)], 0)

    # (a) plain stream-static join: enrichment + left-null semantics
    dim = spark.read.parquet(str(dim_path))
    q = (
        enriched_events_stream(spark, str(tmp_path / "in"), dim)
        .writeStream.format("memory").queryName("enrich_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_a"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.event_id: r.tier for r in spark.table("enrich_stream").collect()}
    assert got == {10: "gold", 11: None}  # user 3 unmatched -> null

    # (b) refreshable variant: dimension overwritten between batches
    out_dir = tmp_path / "out"
    q = run_enriched_events_refreshable(
        spark, str(tmp_path / "in"), str(dim_path), str(out_dir),
        str(tmp_path / "ckpt_b"),
    )
    try:
        q.processAllAvailable()  # batch with the ORIGINAL dim
        spark.createDataFrame(
            [(1, "platinum"), (3, "bronze")], "user_id long, tier string"
        ).write.mode("overwrite").parquet(str(dim_path))
        write("b1.json", [(12, 3_000_000, 1), (13, 4_000_000, 3)], 1)
        q.processAllAvailable()  # batch with the REFRESHED dim
    finally:
        q.stop()

    got = {r.event_id: r.tier for r in spark.read.parquet(str(out_dir)).collect()}
    assert got == {10: "gold", 11: None, 12: "platinum", 13: "bronze"}


@pytest.mark.heavy
def test_dedup_stream_drops_watermarked_duplicates(spark, tmp_path):
    """Streaming exact dedup: a later micro-batch's copy of an earlier
    doc (same whitespace/case-normalized content) is dropped; new
    content passes; first arrivals land in the append sink exactly
    once."""
    import json

    from tickdatapipeline_spark.streaming.eventtime import run_dedup_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write_docs(fname, rows):
        with open(in_dir / fname, "w") as f:
            for doc_id, text, ts in rows:
                f.write(json.dumps(
                    {"doc_id": doc_id, "text": text, "lang": "en", "ts": ts}) + "\n")

    write_docs("b0.json", [
        (1, "alpha beta gamma", "2024-01-01 00:00:00"),
        (2, "something else entirely", "2024-01-01 00:00:30"),
    ])
    q = run_dedup_stream(spark, str(in_dir), str(tmp_path / "out"),
                         str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        write_docs("b1.json", [
            (3, "  ALPHA   beta GAMMA ", "2024-01-01 00:10:00"),  # dup of 1
            (4, "fresh new content", "2024-01-01 00:10:00"),
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert sorted(r.doc_id for r in rows) == [1, 2, 4]
    assert len({r.content_hash for r in rows}) == 3


@pytest.mark.heavy
def test_rowlocal_bands_match_band_table(spark):
    """The streaming dedup's row-local band keys must equal the batch
    _band_table's keys doc-for-doc, band-for-band — otherwise stream
    and batch disagree on who is a near-dup."""
    from pyspark.sql import functions as F

    from tickdatapipeline_spark.operators import globalorder
    from tickdatapipeline_spark.operators.dedup import (
        _band_table,
        rowlocal_band_signature,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "an entirely different document with its own words here"),
         (3, "too short"),  # < 3 tokens: no shingles, no bands
         (4, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    globalorder.set_pins(False)
    try:
        batch = {
            (r.doc_id, r.band): r.band_key
            for r in _band_table(docs, 32, 4, pinned=False).collect()
        }
    finally:
        globalorder.set_pins(True)
    rowlocal = {}
    for r in docs.select(
        "doc_id", F.explode(rowlocal_band_signature(F.col("text"))).alias("bk")
    ).collect():
        rowlocal[(r.doc_id, r.bk.band)] = r.bk.band_key
    assert rowlocal == batch
    assert not any(d == 3 for d, _b in rowlocal)  # short doc: empty array
    # identical docs share every band key
    assert all(rowlocal[(1, b)] == rowlocal[(4, b)] for b in range(8))


@pytest.mark.heavy
def test_rowlocal_bands_match_band_table_randomized(spark):
    """Seeded randomized sweep of the stream==batch band-key contract:
    40 random docs across the edge spectrum (empty, 1-2 tokens = no
    shingles, repeated tokens, long docs, punctuation, unicode) — the
    row-local signature must equal the batch _band_table key-for-key."""
    import random

    from pyspark.sql import functions as F

    from tickdatapipeline_spark.operators import globalorder
    from tickdatapipeline_spark.operators.dedup import (
        _band_table,
        rowlocal_band_signature,
    )

    rng = random.Random(2024)
    vocab = ["alpha", "beta", "Gamma!", "δelta", "x", "YY", "the", "42",
             "naïve", "word-break", "...", "zzz"]
    rows = [(0, ""), (1, "one"), (2, "two words")]
    for i in range(3, 40):
        n = rng.randint(0, 60)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    globalorder.set_pins(False)
    try:
        batch = {(r.doc_id, r.band): r.band_key
                 for r in _band_table(docs, 32, 4, pinned=False).collect()}
    finally:
        globalorder.set_pins(True)
    rowlocal = {(r.doc_id, r.bk.band): r.bk.band_key for r in docs.select(
        "doc_id", F.explode(rowlocal_band_signature(F.col("text"))).alias("bk")
    ).collect()}
    assert rowlocal == batch


@pytest.mark.heavy
def test_neardup_dedup_stream_drops_perturbed_copy(spark, tmp_path):
    """Backfill-then-stream near-dup dedup: a TOKEN-PERTURBED copy of a
    backfilled doc arriving in batch 2 is dropped (shares LSH bands),
    fresh content passes, an exact copy is dropped, and short docs fall
    back to exact-content dedup instead of aliasing each other."""
    import json

    from tickdatapipeline_spark.streaming.eventtime import run_neardup_dedup_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write_docs(fname, rows):
        with open(in_dir / fname, "w") as f:
            for doc_id, text, ts in rows:
                f.write(json.dumps(
                    {"doc_id": doc_id, "text": text, "lang": "en", "ts": ts}) + "\n")

    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "sleeps near the warm stove and rain falls on the quiet roof")
    perturbed = base.replace("rain", "snow")  # one token of ~24
    write_docs("b0.json", [
        (1, base, "2024-01-01 00:00:00"),
        (2, "completely unrelated text about spark shuffle partitions and "
            "broadcast joins in a distributed query engine", "2024-01-01 00:00:30"),
        (3, "hi there", "2024-01-01 00:00:40"),  # short: exact fallback
    ])
    q = run_neardup_dedup_stream(spark, str(in_dir), str(tmp_path / "out"),
                                 str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        write_docs("b1.json", [
            (4, perturbed, "2024-01-01 00:10:00"),       # near-dup of 1 -> drop
            (5, base, "2024-01-01 00:10:00"),            # exact dup of 1 -> drop
            (6, "hi there", "2024-01-01 00:10:30"),      # exact dup of 3 -> drop
            (7, "hi friend", "2024-01-01 00:10:30"),     # short but DISTINCT -> keep
            (8, "a genuinely novel document mentioning embeddings minhash "
                "bands and watermarked streaming state stores", "2024-01-01 00:11:00"),
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert sorted(r.doc_id for r in rows) == [1, 2, 3, 7, 8]
    # sanity: the perturbed copy really does share bands with the base
    # (i.e. it was dropped as a NEAR-dup, not because of exact equality)
    from pyspark.sql import functions as F

    from tickdatapipeline_spark.operators.dedup import rowlocal_band_signature
    keys = (
        spark.createDataFrame([(1, base), (4, perturbed)], "doc_id long, text string")
        .select("doc_id", F.explode(rowlocal_band_signature(F.col("text"))).alias("bk"))
        .collect()
    )
    k1 = {(r.bk.band, r.bk.band_key) for r in keys if r.doc_id == 1}
    k4 = {(r.bk.band, r.bk.band_key) for r in keys if r.doc_id == 4}
    assert k1 != k4 and k1 & k4


@pytest.mark.heavy
def test_phash_dedup_stream_drops_perceptual_copy(spark, tmp_path):
    """Streaming perceptual media dedup (LSH + exact-Hamming verify):
    a byte-PERTURBED payload arriving in batch 2 whose pHash sits
    within 8 bits of a backfilled payload is dropped; an exact copy is
    dropped; genuinely different payloads pass even when they collide
    on a 7-bit band value (the verify step, not candidate-level drops,
    decides)."""
    import json

    from tickdatapipeline_spark.streaming.eventtime import run_phash_dedup_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write_media(fname, rows):
        with open(in_dir / fname, "w") as f:
            for media_id, payload, ts in rows:
                f.write(json.dumps({"media_id": media_id, "kind": "image",
                                    "payload": payload, "ts": ts}) + "\n")

    base = "the quick brown fox jumps over the lazy dog " * 8
    tweaked = bytearray(base.encode())
    for k in range(4):          # calibrated: pHash hamming 7 (<= 8) from base
        tweaked[7 * k + 3] ^= 0x14
    other = "completely different content with other bytes here " * 7

    write_media("b0.json", [
        (1, base, "2024-01-01 00:00:00"),
        (2, other, "2024-01-01 00:00:30"),
    ])
    q = run_phash_dedup_stream(spark, str(in_dir), str(tmp_path / "out"),
                               str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        write_media("b1.json", [
            (3, tweaked.decode(), "2024-01-01 00:10:00"),  # near-dup of 1 -> drop
            (4, base, "2024-01-01 00:10:00"),              # exact dup of 1 -> drop
            (5, "an unrelated novel payload about stateful stream "
                "processing and watermark eviction in spark " * 5,
             "2024-01-01 00:11:00"),                       # fresh -> keep
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert sorted(r.media_id for r in rows) == [1, 2, 5]
    # the verify premise: 3 is within 8 bits of 1, the keepers are not
    from tickdatapipeline_spark.operators.multimodal import perceptual_fingerprints
    fp = {r.media_id: r.phash for r in perceptual_fingerprints(
        spark.createDataFrame(
            [(i, "image", p.encode() if isinstance(p, str) else bytes(p))
             for i, p in ((1, base), (3, tweaked), (5, "an unrelated novel "
              "payload about stateful stream processing and watermark "
              "eviction in spark " * 5))],
            "media_id long, kind string, content binary",
        )).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert 0 < ham(fp[1], fp[3]) <= 8 < ham(fp[1], fp[5])


@pytest.mark.heavy
def test_neardup_dedup_stream_same_batch_keeps_exactly_one(spark, tmp_path):
    """Two near-dup docs arriving in the SAME micro-batch (multiple
    partitions) must keep EXACTLY the event-time-first one — under the
    old per-band dropDuplicates formulation, independent per-bucket
    survivor choices could split the band wins and drop BOTH copies
    (permanent content loss). Also: null-text docs never alias each
    other, and a same-batch exact pair of short docs keeps one."""
    import json

    from tickdatapipeline_spark.streaming.eventtime import run_neardup_dedup_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "sleeps near the warm stove and rain falls on the quiet roof")
    rows = [
        (2, base.replace("rain", "snow"), "2024-01-01 00:00:20"),  # later ts
        (1, base, "2024-01-01 00:00:10"),                          # TRUE first
        (3, None, "2024-01-01 00:00:30"),                          # null text
        (4, None, "2024-01-01 00:00:40"),                          # null text
        (5, "hi there", "2024-01-01 00:00:50"),
        (6, "hi there", "2024-01-01 00:00:55"),                    # exact short dup
    ]
    # one doc per line across TWO files in the same trigger -> the
    # batch genuinely spans partitions
    for fname, chunk in (("a.json", rows[:3]), ("b.json", rows[3:])):
        with open(in_dir / fname, "w") as f:
            for doc_id, text, ts in chunk:
                f.write(json.dumps(
                    {"doc_id": doc_id, "text": text, "lang": "en", "ts": ts}) + "\n")
    q = run_neardup_dedup_stream(spark, str(in_dir), str(tmp_path / "out"),
                                 str(tmp_path / "ckpt"), max_files_per_trigger=2)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    kept = sorted(r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect())
    # 1 beats 2 on event time; both nulls kept; 5 beats 6
    assert kept == [1, 3, 4, 5]


@pytest.mark.heavy
def test_phash_dedup_stream_same_batch_and_empty_payloads(spark, tmp_path):
    """Perceptual stream: a same-batch perceptual pair keeps exactly
    the event-time-first payload, and empty payloads are NOT silently
    lost — the first no-content arrival lands in the sink, later ones
    dedupe against it (phash 0)."""
    import json

    from tickdatapipeline_spark.streaming.eventtime import run_phash_dedup_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    base = "the quick brown fox jumps over the lazy dog " * 8
    tweaked = bytearray(base.encode())
    for k in range(4):
        tweaked[7 * k + 3] ^= 0x14
    rows = [
        (2, tweaked.decode(), "2024-01-01 00:00:20"),
        (1, base, "2024-01-01 00:00:10"),   # true first of the pair
        (3, "", "2024-01-01 00:00:30"),     # empty payload: must be KEPT
        (4, "", "2024-01-01 00:00:40"),     # second empty: deduped
    ]
    for fname, chunk in (("a.json", rows[:2]), ("b.json", rows[2:])):
        with open(in_dir / fname, "w") as f:
            for media_id, payload, ts in chunk:
                f.write(json.dumps({"media_id": media_id, "kind": "image",
                                    "payload": payload, "ts": ts}) + "\n")
    q = run_phash_dedup_stream(spark, str(in_dir), str(tmp_path / "out"),
                               str(tmp_path / "ckpt"), max_files_per_trigger=2)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    kept = sorted(r.media_id for r in spark.read.parquet(str(tmp_path / "out")).collect())
    assert kept == [1, 3]


@pytest.mark.heavy
def test_neardup_dedup_stream_readmits_after_horizon(spark, tmp_path):
    """FIRST-ANCHORED expiry (the dropDuplicatesWithinWatermark
    contract): once the watermark passes the first arrival's event time
    plus the delay, a fresh near-dup copy is READMITTED — matched
    copies must not slide the suppression window forward forever."""
    import json

    from tickdatapipeline_spark.streaming.eventtime import run_neardup_dedup_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "sleeps near the warm stove and rain falls on the quiet roof")

    def write_docs(fname, rows):
        with open(in_dir / fname, "w") as f:
            for doc_id, text, ts in rows:
                f.write(json.dumps(
                    {"doc_id": doc_id, "text": text, "lang": "en", "ts": ts}) + "\n")

    args = (spark, str(in_dir), str(tmp_path / "out"), str(tmp_path / "ckpt"))
    write_docs("b0.json", [(1, base, "2024-01-01 00:00:00")])
    q = run_neardup_dedup_stream(*args, delay="10 minutes")
    try:
        q.processAllAvailable()
        # advances the watermark well past 00:00 + 10 min
        write_docs("b1.json", [(2, "an unrelated watermark-advancing "
                                "document with plenty of words", "2024-01-01 02:00:00")])
        q.processAllAvailable()
        # near-dup of doc 1, but its bucket anchors have expired
        write_docs("b2.json", [(3, base.replace("rain", "snow"),
                                "2024-01-01 02:05:00")])
        q.processAllAvailable()
    finally:
        q.stop()
    kept = sorted(r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect())
    assert kept == [1, 2, 3]


@pytest.mark.heavy
def test_neardup_dedup_stream_verifies_band_collisions(spark, tmp_path):
    """LSH-then-VERIFY at ingest: a document that shares LSH band
    buckets with a horizon neighbor but whose estimated Jaccard sits
    BELOW the threshold (a band collision between NON-duplicates) must
    SURVIVE — under candidate-level dropping it was silently lost —
    while a true near-dup in the same run still drops. band_size=1
    makes cross-doc band collisions common enough to construct."""
    import json

    from pyspark.sql import functions as F

    from tickdatapipeline_spark.operators.dedup import (
        rowlocal_band_signature,
        rowlocal_minhash_signature,
    )
    from tickdatapipeline_spark.streaming.eventtime import run_neardup_dedup_stream

    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
             "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
             "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
             "victor", "whiskey", "xray", "yankee", "zulu", "amber", "basil",
             "cedar", "dahlia", "elm", "fern", "ginger", "hazel", "iris",
             "jasmine", "kale", "laurel", "maple", "nutmeg", "olive", "pine",
             "quince", "rose", "sage", "thyme", "umber", "violet", "willow",
             "yarrow"]
    text_a = " ".join(words[:30])
    text_b = " ".join(words[20:50])        # 10 shared tokens: candidate, not dup
    perturbed = text_a.replace("echo", "echoes")  # true near-dup of A

    # premise, pinned against the REAL hash lanes: A and B share at
    # least one band_size=1 bucket, their signature agreement is below
    # threshold*num_perm, and the perturbed copy's is above
    r = {
        row.doc_id: row
        for row in spark.createDataFrame(
            [(1, text_a), (2, text_b), (3, perturbed)], "doc_id long, text string"
        ).select(
            "doc_id",
            rowlocal_band_signature(F.col("text"), 32, 1).alias("bands"),
            rowlocal_minhash_signature(F.col("text"), 32).alias("sig"),
        ).collect()
    }
    shared = lambda x, y: {(b.band, b.band_key) for b in r[x].bands} & {
        (b.band, b.band_key) for b in r[y].bands}
    agree = lambda x, y: sum(a == b for a, b in zip(r[x].sig, r[y].sig))
    assert shared(1, 2) and agree(1, 2) < 16 <= agree(1, 3)

    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write_docs(fname, rows):
        with open(in_dir / fname, "w") as f:
            for doc_id, text, ts in rows:
                f.write(json.dumps(
                    {"doc_id": doc_id, "text": text, "lang": "en", "ts": ts}) + "\n")

    write_docs("b0.json", [(1, text_a, "2024-01-01 00:00:00")])
    q = run_neardup_dedup_stream(
        spark, str(in_dir), str(tmp_path / "out"), str(tmp_path / "ckpt"),
        num_perm=32, band_size=1,
    )
    try:
        q.processAllAvailable()
        write_docs("b1.json", [
            (2, text_b, "2024-01-01 00:05:00"),     # band-colliding NON-dup -> keep
            (3, perturbed, "2024-01-01 00:06:00"),  # verified near-dup -> drop
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    kept = sorted(r_.doc_id for r_ in spark.read.parquet(str(tmp_path / "out")).collect())
    assert kept == [1, 2]


@pytest.mark.heavy
def test_dedup_stream_null_text_and_corrupt_lines(spark, tmp_path):
    """Exact-dedup stream ingest hygiene: two DISTINCT metadata-only
    (null-text) docs within the horizon are both kept — sha2(NULL) is
    NULL and dropDuplicatesWithinWatermark treats null keys as equal,
    so without the fallback key they'd collapse to one — and a corrupt
    JSONL line (null event time) is quarantined, not crashed on."""
    import json

    from tickdatapipeline_spark.streaming.eventtime import run_dedup_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    with open(in_dir / "b0.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": None, "lang": "en",
                            "ts": "2024-01-01 00:00:00"}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": None, "lang": "fr",
                            "ts": "2024-01-01 00:00:10"}) + "\n")
        f.write("{not json\n")
        f.write(json.dumps({"doc_id": 4, "text": "a normal document",
                            "lang": "en", "ts": "2024-01-01 00:00:20"}) + "\n")
        f.write(json.dumps({"doc_id": 5, "text": "a normal document",
                            "lang": "en", "ts": "2024-01-01 00:00:30"}) + "\n")
    q = run_dedup_stream(spark, str(in_dir), str(tmp_path / "out"),
                         str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    kept = sorted(r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect())
    # both null-text docs kept; the exact text dup (5) dropped
    assert kept == [1, 2, 4]


@pytest.mark.heavy
def test_phash_dedup_stream_null_media_id_quarantined(spark, tmp_path):
    """A line with a valid ts but null media_id must not crash the
    fingerprint kernel's int64 cast — it is quarantined at ingest and
    the surrounding payloads process normally."""
    import json

    from tickdatapipeline_spark.streaming.eventtime import run_phash_dedup_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    with open(in_dir / "b0.json", "w") as f:
        f.write(json.dumps({"media_id": 1, "kind": "image",
                            "payload": "some perfectly ordinary payload bytes " * 4,
                            "ts": "2024-01-01 00:00:00"}) + "\n")
        f.write(json.dumps({"media_id": None, "kind": "image",
                            "payload": "corrupt id but valid everything else " * 4,
                            "ts": "2024-01-01 00:00:10"}) + "\n")
        f.write(json.dumps({"media_id": 3, "kind": "image",
                            "payload": "a different and novel payload body here " * 4,
                            "ts": "2024-01-01 00:00:20"}) + "\n")
    q = run_phash_dedup_stream(spark, str(in_dir), str(tmp_path / "out"),
                               str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    kept = sorted(r.media_id for r in spark.read.parquet(str(tmp_path / "out")).collect())
    assert kept == [1, 3]


@pytest.mark.heavy
def test_neardup_dedup_stream_survives_corrupt_lines(spark, tmp_path):
    """A corrupt JSONL line (unparseable -> all-null row, null event
    time) must not crash the stateful kernel (NaT timestamp math) —
    it is dropped at ingest and the surrounding docs process normally."""
    import json

    from tickdatapipeline_spark.streaming.eventtime import run_neardup_dedup_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    with open(in_dir / "b0.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "a perfectly normal document "
                            "with enough tokens to shingle", "lang": "en",
                            "ts": "2024-01-01 00:00:00"}) + "\n")
        f.write("{this is not json at all\n")
        f.write(json.dumps({"doc_id": 3, "text": "another fine document with "
                            "plenty of distinct words inside", "lang": "en",
                            "ts": "2024-01-01 00:00:30"}) + "\n")
    q = run_neardup_dedup_stream(spark, str(in_dir), str(tmp_path / "out"),
                                 str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    kept = sorted(r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect())
    assert kept == [1, 3]


@pytest.mark.heavy
def test_neardup_dedup_stream_restart_keeps_state(spark, tmp_path):
    """Killing the near-dup stream and restarting on the same
    checkpoint must keep the band-key dedup state: a perturbed copy of
    a PRE-restart doc arriving AFTER the restart is still dropped, and
    pre-restart batches are not replayed into the sink."""
    import json

    from tickdatapipeline_spark.streaming.eventtime import run_neardup_dedup_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write_docs(fname, rows):
        with open(in_dir / fname, "w") as f:
            for doc_id, text, ts in rows:
                f.write(json.dumps(
                    {"doc_id": doc_id, "text": text, "lang": "en", "ts": ts}) + "\n")

    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "sleeps near the warm stove and rain falls on the quiet roof")
    args = (spark, str(in_dir), str(tmp_path / "out"), str(tmp_path / "ckpt"))

    write_docs("b0.json", [(1, base, "2024-01-01 00:00:00")])
    q = run_neardup_dedup_stream(*args)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    write_docs("b1.json", [
        (2, base.replace("rain", "snow"), "2024-01-01 00:10:00"),  # near-dup
        (3, "a genuinely new document about checkpoint recovery and "
            "state store persistence guarantees", "2024-01-01 00:10:30"),
    ])
    q2 = run_neardup_dedup_stream(*args)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert sorted(r.doc_id for r in rows) == [1, 3]
    assert len([r for r in rows if r.doc_id == 1]) == 1  # batch 0 not replayed


@pytest.mark.heavy
def test_phash_dedup_stream_restart_keeps_state(spark, tmp_path):
    """Same durability contract for the perceptual media stream: the
    per-bucket GroupState (phash lists) survives a stop/start on the
    same checkpoint, so a post-restart perceptual copy is still
    dropped."""
    import json

    from tickdatapipeline_spark.streaming.eventtime import run_phash_dedup_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write_media(fname, rows):
        with open(in_dir / fname, "w") as f:
            for media_id, payload, ts in rows:
                f.write(json.dumps({"media_id": media_id, "kind": "image",
                                    "payload": payload, "ts": ts}) + "\n")

    base = "the quick brown fox jumps over the lazy dog " * 8
    tweaked = bytearray(base.encode())
    for k in range(4):
        tweaked[7 * k + 3] ^= 0x14
    args = (spark, str(in_dir), str(tmp_path / "out"), str(tmp_path / "ckpt"))

    write_media("b0.json", [(1, base, "2024-01-01 00:00:00")])
    q = run_phash_dedup_stream(*args)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    write_media("b1.json", [
        (2, tweaked.decode(), "2024-01-01 00:10:00"),  # perceptual copy
        (3, "an unrelated novel payload about stateful stream "
            "processing and watermark eviction in spark " * 5,
         "2024-01-01 00:11:00"),
    ])
    q2 = run_phash_dedup_stream(*args)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert sorted(r.media_id for r in rows) == [1, 3]
    assert len([r for r in rows if r.media_id == 1]) == 1


@pytest.mark.heavy
def test_index_ingest_stream(spark, tmp_path):
    """Inverted-index live ingest: the bulk backfill serves phrase
    queries immediately; a phrase arriving in a later micro-batch is
    found WITHOUT a rebuild (each batch appends only its own (bucket,
    batch_id) partitions); a full replay of the stream leaves the index
    contents unchanged (idempotent dynamic overwrite); and bucket
    partition-pruning survives the extra batch_id partition level."""
    import json
    import os

    from tickdatapipeline_spark.operators.search import (
        phrase_search_indexed,
        run_index_ingest,
        write_inverted_index,
    )

    phrase = "crimson harbor lantern"
    backfill = spark.createDataFrame(
        [(1, f"the {phrase} glows at dusk", "en", "s", 10),
         (2, "nothing to see here at all", "en", "s", 10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    idx = str(tmp_path / "idx")
    write_inverted_index(backfill, idx)
    assert [r.doc_id for r in phrase_search_indexed(spark, idx, phrase).collect()] == [1]

    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write_docs(fname, rows, mtime):
        p = in_dir / fname
        with open(p, "w") as f:
            for doc_id, text in rows:
                f.write(json.dumps({"doc_id": doc_id, "text": text, "lang": "en"}) + "\n")
        os.utime(p, (mtime, mtime))

    write_docs("b0.json", [(100, "unrelated streaming content arrives first")],
               1700000000)
    q = run_index_ingest(spark, str(in_dir), idx, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        write_docs("b1.json", [(200, f"breaking news the {phrase} returns"),
                               (201, "more filler that does not match")],
                   1700000001)
        q.processAllAvailable()
    finally:
        q.stop()

    out = phrase_search_indexed(spark, idx, phrase)
    want = {(1, 1, 2), (200, 1, 4)}
    assert {(r.doc_id, r.n_occurrences, r.first_pos) for r in out.collect()} == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scans and all("bucket" in ln.split("PartitionFilters")[1][:120]
                         for ln in scans)

    # at-least-once replay: re-running the whole stream from a fresh
    # checkpoint rewrites the same (bucket, batch_id) partitions —
    # occurrence counts must NOT double
    q2 = run_index_ingest(spark, str(in_dir), idx, str(tmp_path / "ckpt2"))
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    replayed = phrase_search_indexed(spark, idx, phrase)
    assert {(r.doc_id, r.n_occurrences, r.first_pos)
            for r in replayed.collect()} == want

    # compaction folds backfill + batches into one file per bucket at a
    # new path; query results identical, pruning preserved
    import glob

    from tickdatapipeline_spark.operators.search import compact_index

    dst = str(tmp_path / "idx2")
    compact_index(spark, idx, dst)
    compacted = phrase_search_indexed(spark, dst, phrase)
    assert {(r.doc_id, r.n_occurrences, r.first_pos)
            for r in compacted.collect()} == want
    for bucket_dir in glob.glob(f"{dst}/bucket=*"):
        files = glob.glob(f"{bucket_dir}/batch_id=*/*.parquet")
        assert len(files) == 1, bucket_dir
    plan = compacted._jdf.queryExecution().executedPlan().toString()
    assert any("bucket" in ln.split("PartitionFilters")[1][:120]
               for ln in plan.splitlines() if "PartitionFilters" in ln)


@pytest.mark.heavy
def test_ingest_decontamination_stream(spark, tmp_path):
    """Ingest-time decontamination: new documents stream in per
    micro-batch and are checked against the precomputed corpus LSH
    index (write_corpus_index) — verbatim and near-dup leaks flagged
    with their best corpus match, clean docs pass with NULL verdict
    columns, output partitioned by batch_id (idempotent sink)."""
    import json

    from tickdatapipeline_spark.operators.dedup import write_corpus_index
    from tickdatapipeline_spark.streaming.eventtime import run_ingest_decontamination

    leak = ("the quick brown fox jumps over the lazy dog while rain "
            "falls gently on the quiet village roofs tonight")
    corpus = spark.createDataFrame(
        [(1, leak, "en"),
         (2, "an entirely different corpus document about query engines "
             "and columnar storage formats for analytics", "en")],
        "doc_id long, text string, lang string",
    )
    index = tmp_path / "index"
    write_corpus_index(corpus, str(index))

    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write_docs(fname, rows):
        with open(in_dir / fname, "w") as f:
            for doc_id, text in rows:
                f.write(json.dumps({"doc_id": doc_id, "text": text, "lang": "en"}) + "\n")

    out_dir = tmp_path / "out"
    write_docs("b0.json", [
        (500, leak + " with a few extra trailing words appended"),  # near-dup
        (501, "totally unrelated fresh crawl content about gardening tips"),
    ])
    q = run_ingest_decontamination(
        spark, str(in_dir), str(index), str(out_dir), str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        write_docs("b1.json", [(502, leak)])                         # verbatim
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {r.doc_id: r for r in spark.read.parquet(str(out_dir)).collect()}
    assert set(rows) == {500, 501, 502}
    assert rows[500].is_contaminated and rows[500].corpus_doc_id == 1
    assert 0.5 <= rows[500].jaccard < 1.0
    assert not rows[501].is_contaminated and rows[501].corpus_doc_id is None
    assert rows[502].is_contaminated and rows[502].jaccard == 1.0
    # batch provenance survives in the idempotent sink's partition column
    assert rows[500].batch_id == 0 and rows[502].batch_id == 1


@pytest.mark.heavy
def test_value_drift_stream(spark, tmp_path):
    """Streaming KS drift: each micro-batch's value distribution is
    compared against the frozen reference CDF — an identical batch
    scores 0, a shifted batch scores the hand-computed supremum at the
    hand-computed location; one row per batch in the idempotent sink."""
    import json
    import os

    from tickdatapipeline_spark.streaming.eventtime import (
        run_value_drift_stream,
        write_value_reference,
    )

    ref = spark.createDataFrame(
        [(i, 1_000_000 * i, "click", float(v)) for i, v in enumerate([1, 2, 3, 4])],
        "event_id long, tus long, event_type string, value double",
    )
    write_value_reference(ref, str(tmp_path / "ref"))

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    batches = [
        ("b0.json", [1.0, 2.0, 3.0, 4.0]),   # identical distribution
        ("b1.json", [3.0, 4.0, 5.0, 6.0]),   # shifted +2 -> sup 0.5 at v=2
    ]
    for i, (fname, vals) in enumerate(batches):
        p = in_dir / fname
        with open(p, "w") as f:
            for j, v in enumerate(vals):
                f.write(json.dumps({"event_id": 100 * i + j, "tus": j,
                                    "event_type": "click", "value": v}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    q = run_value_drift_stream(
        spark, str(in_dir), str(tmp_path / "ref"), str(tmp_path / "out"),
        str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {r.batch_id: r for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert set(rows) == {0, 1}
    assert rows[0].ks_stat == 0.0 and rows[0].n_batch == 4 and rows[0].n_ref == 4
    # cum_b/4 vs cum_r/4 over vc 100..600: sup |diff| = 0.5 first hit at vc 200
    assert rows[1].ks_stat == 0.5 and rows[1].ks_at_value == 2.0


@pytest.mark.heavy
def test_ingest_ann_stream(spark, tmp_path):
    """Ingest-time semantic lookup: probe embeddings stream in per
    micro-batch and are searched against the precomputed IVF index —
    a probe identical to a corpus vector finds it at rank 1 / cosine
    1.0, every probe gets exactly k (or cell-bounded) neighbors, and
    the sink is batch_id-partitioned."""
    import json
    import math
    import os

    from tickdatapipeline_spark.operators.similarity import DIM, write_ann_index
    from tickdatapipeline_spark.streaming.eventtime import run_ingest_ann_stream

    def unit(axis, mix=0.0):
        # mostly-axis unit vectors so cell structure is predictable
        v = [mix] * DIM
        v[axis] = 1.0
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    corpus = [(i, unit(i % 8, mix=0.01 * (i % 3))) for i in range(40)]
    emb = spark.createDataFrame(corpus, "vec_id long, embedding array<double>")
    index = tmp_path / "annidx"
    write_ann_index(emb, str(index), n_cells=8)

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    probes = [
        ("b0.json", [(500, corpus[13][1])]),       # verbatim corpus vector 13
        ("b1.json", [(501, unit(2, mix=0.005))]),  # near cell-2 vectors
    ]
    for i, (fname, rows) in enumerate(probes):
        p = in_dir / fname
        with open(p, "w") as f:
            for vid, v in rows:
                f.write(json.dumps({"vec_id": vid, "embedding": v}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    q = run_ingest_ann_stream(
        spark, str(in_dir), str(index), str(tmp_path / "out"),
        str(tmp_path / "ckpt"), k=3, nprobe=2)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {500, 501}
    top500 = min(by_q[500], key=lambda r: r.rank)
    assert top500.neighbor_id == 13 and top500.cosine == 1.0
    assert len(by_q[500]) == 3 and len(by_q[501]) == 3
    assert {r.batch_id for r in by_q[500]} == {0}
    assert {r.batch_id for r in by_q[501]} == {1}
    # every reported neighbor of 501 really is a cell-2-ish vector
    assert all(r.cosine > 0.9 for r in by_q[501])


@pytest.mark.heavy
def test_snapshot_diff_stream_all_statuses(spark, tmp_path):
    """Live crawl-refresh audit: each arriving file is a full snapshot;
    every micro-batch diffs against the PREVIOUS snapshot's stored
    fingerprints. Batch 0 (no seed) reports everything added; batch 1
    exhibits all four statuses — unchanged (same text modulo
    whitespace), changed, removed (doc absent from the new snapshot)
    and added. Replaying a batch's writer rewrites the same files
    (idempotent store + sink)."""
    import json
    import os

    from tickdatapipeline_spark.streaming.eventtime import run_snapshot_diff_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write_snapshot(fname, rows, mtime):
        p = in_dir / fname
        with open(p, "w") as f:
            for doc_id, text in rows:
                f.write(json.dumps({"doc_id": doc_id, "text": text, "lang": "en"}) + "\n")
        os.utime(p, (mtime, mtime))

    write_snapshot("s0.json", [
        (1, "stable document about parquet files"),
        (2, "document that will be edited later"),
        (3, "document that will disappear"),
    ], 1700000000)
    write_snapshot("s1.json", [
        (1, "stable   document about parquet\tfiles"),  # whitespace only -> unchanged
        (2, "document that WAS edited for real"),       # changed
        (4, "brand new crawl discovery"),               # added; 3 -> removed
    ], 1700000001)

    store, out = tmp_path / "store", tmp_path / "out"
    q = run_snapshot_diff_stream(
        spark, str(in_dir), str(store), str(out), str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(str(out)).collect()
    b0 = {r.doc_id: r for r in rows if r.batch_id == 0}
    b1 = {r.doc_id: r for r in rows if r.batch_id == 1}
    assert {r.status for r in b0.values()} == {"added"}  # vs empty seed
    assert set(b0) == {1, 2, 3}
    assert set(b1) == {1, 2, 3, 4}
    assert b1[1].status == "unchanged" and b1[1].old_fingerprint == b1[1].new_fingerprint
    assert b1[2].status == "changed" and b1[2].old_fingerprint != b1[2].new_fingerprint
    assert b1[3].status == "removed" and b1[3].new_fingerprint is None
    assert b1[4].status == "added" and b1[4].old_fingerprint is None
    # the store holds one fingerprint table per refresh
    assert {r.doc_id for r in spark.read.parquet(str(store / "batch_id=1")).collect()} \
        == {1, 2, 4}


@pytest.mark.heavy
def test_type_transitions_stream_equals_batch(spark, tmp_path):
    """The streaming Markov-transition feed equals the batch lag-window
    formulation over the concatenated input — including a transition
    whose two events arrive in DIFFERENT micro-batches (the GroupState
    carry), which a per-batch window would drop."""
    import json
    import os

    from tickdatapipeline_spark.streaming.stateful import (
        TRANSITION_IN_SCHEMA,
        type_transitions_stream,
    )

    rows0 = [  # (event_id, tus, user_id, event_type)
        (1, 100, 10, "view"), (2, 200, 10, "click"),
        (4, 100, 20, "view"),
    ]
    rows1 = [
        (3, 300, 10, "purchase"),       # cross-batch: click -> purchase
        (5, 200, 20, "view"),           # cross-batch: view -> view
        (6, 300, 20, "click"), (7, 400, 20, "click"),
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, rows in enumerate([rows0, rows1]):
        p = in_dir / f"b{i}.json"
        with open(p, "w") as f:
            for eid, tus, uid, et in rows:
                f.write(json.dumps({"event_id": eid, "tus": tus,
                                    "user_id": uid, "event_type": et}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    raw = (
        spark.readStream.schema(TRANSITION_IN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    q = (
        type_transitions_stream(raw)
        .writeStream.format("memory").queryName("tt_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        (r.user_id, r.prev_type, r.next_type, r.tus)
        for r in spark.table("tt_stream").collect()
    )
    # batch twin: lag window over the concatenated input
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    all_rows = spark.createDataFrame(rows0 + rows1, TRANSITION_IN_SCHEMA.replace(
        "event_id long, tus long, user_id long", "event_id long, tus long, user_id long"))
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    batch = (
        all_rows.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .select("user_id", "prev_type", F.col("event_type").alias("next_type"), "tus")
    )
    want = sorted((r.user_id, r.prev_type, r.next_type, r.tus) for r in batch.collect())
    assert got == want
    # the two cross-batch transitions made it through the state carry
    assert (10, "click", "purchase", 300) in got
    assert (20, "view", "view", 200) in got


def test_refreshable_dim_writer_is_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a batch replayed after a failure
    between write and checkpoint commit runs the writer again. The
    writer must therefore be idempotent by batch id — replaying a batch
    (same batch_id, same or re-joined data) rewrites its own
    batch_id partition instead of appending duplicates, and never
    touches other batches' partitions."""
    from tickdatapipeline_spark.streaming.eventtime import _idempotent_enrich_writer

    dim_path = tmp_path / "dim"
    out_dir = tmp_path / "out"
    spark.createDataFrame(
        [(1, "gold")], "user_id long, tier string"
    ).write.parquet(str(dim_path))
    writer = _idempotent_enrich_writer(str(dim_path), str(out_dir), "user_id")

    b0 = spark.createDataFrame([(10, 1), (11, 2)], "event_id long, user_id long")
    b1 = spark.createDataFrame([(12, 1)], "event_id long, user_id long")
    writer(b0, 0)
    writer(b1, 1)
    first = sorted((r.event_id, r.tier, r.batch_id)
                   for r in spark.read.parquet(str(out_dir)).collect())
    assert first == [(10, "gold", 0), (11, None, 0), (12, "gold", 1)]

    # replay batch 0 (e.g. failure after write, before checkpoint commit)
    writer(b0, 0)
    spark.catalog.refreshByPath(str(out_dir))
    replayed = sorted((r.event_id, r.tier, r.batch_id)
                      for r in spark.read.parquet(str(out_dir)).collect())
    assert replayed == first  # no duplicate rows, batch 1 untouched


@pytest.mark.heavy
def test_ingest_curation_stream(spark, tmp_path):
    """Full ingest gauntlet per micro-batch: PII scrubbed (counts kept,
    keep unaffected), short and boilerplate docs fail quality, corpus
    near-dups fail decontamination; keep = quality AND NOT
    contaminated; batch provenance in the idempotent sink."""
    import json

    from tickdatapipeline_spark.operators.dedup import write_corpus_index
    from tickdatapipeline_spark.streaming.eventtime import run_ingest_curation

    leak = ("the quick brown fox jumps over the lazy dog while rain "
            "falls gently on the quiet village roofs tonight")
    corpus = spark.createDataFrame(
        [(1, leak, "en")], "doc_id long, text string, lang string")
    index = tmp_path / "index"
    write_corpus_index(corpus, str(index))

    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write_docs(fname, rows):
        with open(in_dir / fname, "w") as f:
            for doc_id, text in rows:
                f.write(json.dumps({"doc_id": doc_id, "text": text, "lang": "en"}) + "\n")

    out_dir = tmp_path / "out"
    write_docs("b0.json", [
        (600, leak + " with a few extra trailing words appended"),   # contaminated
        (601, "a perfectly ordinary fresh document about growing "
              "tomatoes in small urban gardens this spring"),        # keep
        (602, "contact me at alice@example.org or 555-123-4567 for "
              "details about the upcoming community garden meetup"),  # PII, keep
        (603, "spam " * 40),                                          # boilerplate
        (604, "too short"),                                           # short
    ])
    q = run_ingest_curation(
        spark, str(in_dir), str(index), str(out_dir), str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        write_docs("b1.json", [(605, leak)])                          # verbatim
        with open(in_dir / "b2.json", "w") as f:                      # no text field
            f.write(json.dumps({"doc_id": 606, "lang": "en"}) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {r.doc_id: r for r in spark.read.parquet(str(out_dir)).collect()}
    assert set(rows) == {600, 601, 602, 603, 604, 605, 606}
    assert rows[600].is_contaminated and not rows[600].keep
    assert rows[601].keep and rows[601].n_pii == 0
    assert rows[602].keep and rows[602].n_pii == 2
    assert "<EMAIL>" in rows[602].clean_text and "<PHONE>" in rows[602].clean_text
    assert "alice" not in rows[602].clean_text
    assert not rows[603].quality_ok and rows[603].dup_token_frac > 0.9
    assert not rows[604].quality_ok and rows[604].n_tokens == 2
    assert rows[605].is_contaminated and rows[605].batch_id == 1
    assert rows[600].batch_id == 0
    # missing text -> clean reject verdict, never size(NULL)=-1 garbage
    assert (rows[606].n_pii, rows[606].n_tokens) == (0, 0)
    assert rows[606].quality_ok is False and rows[606].keep is False


def test_streaming_value_histogram_equals_batch(spark, tmp_path):
    """The running streaming histogram, after draining all micro-batches,
    equals the batch histogram over the same events bit-for-bit —
    including a negative (refund-shaped) value whose bin must FLOOR
    (bin -1), not truncate toward zero."""
    import json
    import os

    from tickdatapipeline_spark.streaming.eventtime import run_value_histogram_to_memory

    rows0 = [(1, 1_000_000, "click", 5.00), (2, 2_000_000, "click", 19.99),
             (3, 3_000_000, "view", 25.00)]
    rows1 = [(4, 4_000_000, "click", 20.00), (5, 5_000_000, "view", -0.50),
             (6, 6_000_000, "click", 5.00)]
    (tmp_path / "in").mkdir()
    for i, rows in enumerate([rows0, rows1]):
        p = tmp_path / "in" / f"b{i}.json"
        with open(p, "w") as f:
            for eid, tus, et, v in rows:
                f.write(json.dumps({"event_id": eid, "tus": tus,
                                    "event_type": et, "value": v}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    q = run_value_histogram_to_memory(
        spark, str(tmp_path / "in"), str(tmp_path / "ckpt"),
        table_name="vh_test", bin_cents=2000,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    tbl = spark.table("vh_test")
    # full batch-twin schema, including the derived bin_lo column
    assert tbl.columns == ["event_type", "bin_id", "n_events", "bin_lo", "sum_value"]
    got = {(r.event_type, r.bin_id): (r.n_events, r.bin_lo, r.sum_value)
           for r in tbl.collect()}
    assert got == {
        ("click", 0): (3, 0.0, 29.99),   # 5.00 + 19.99 + 5.00 all in [0, 20)
        ("click", 1): (1, 20.0, 20.00),  # 20.00 lands in [20, 40)
        ("view", 1): (1, 20.0, 25.00),
        ("view", -1): (1, -20.0, -0.50),  # negative floors to bin -1
    }


@pytest.mark.heavy
def test_value_cusum_stream(spark, tmp_path):
    """Streaming CUSUM: the hourly store accumulates across batches
    and each batch's detection runs over the WHOLE observed series —
    after the level-shift batch arrives, the changepoint lands at the
    last low hour with the hand-computed statistic (matching the batch
    golden test's algebra on the same series)."""
    import json
    import os

    from tickdatapipeline_spark.streaming.eventtime import run_value_cusum_stream

    hour_us = 3_600 * 1_000_000
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    batches = [
        ("b0.json", [(0, 1.0), (1, 1.0)]),   # hours 0,1 at level 1.0
        ("b1.json", [(2, 2.0), (3, 2.0)]),   # hours 2,3 at level 2.0
    ]
    for i, (fname, rows) in enumerate(batches):
        p = in_dir / fname
        with open(p, "w") as f:
            for j, (h, v) in enumerate(rows):
                f.write(json.dumps({"event_id": 10 * i + j, "tus": h * hour_us,
                                    "event_type": "m", "value": v}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    q = run_value_cusum_stream(
        spark, str(in_dir), str(tmp_path / "store"), str(tmp_path / "out"),
        str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(str(tmp_path / "out")).collect()
    rows = {(r.batch_id, r.event_type): r for r in out}
    assert set(rows) == {(0, "m"), (1, "m")}
    # batch 0 alone: flat series (100, 100) -> stat 0 at k=1
    assert (rows[(0, "m")].stat, rows[(0, "m")].k) == (0, 1)
    # after batch 1: (100, 100, 200, 200) -> k=2, |4*200 - 2*600| = 400
    r1 = rows[(1, "m")]
    assert (r1.k, r1.n_hours, r1.stat, r1.cp_hour_s) == (2, 4, 400, 3_600)
    assert (r1.mean_before, r1.mean_after) == (1.0, 2.0)


@pytest.mark.heavy
def test_hourly_topk_stream(spark, tmp_path):
    """Streaming heavy hitters: batch 0's leaderboard has user 2 ahead
    of user 1 in hour 0; batch 1 adds another 5.0 for user 1 (total
    10.0, overtaking) plus a new hour — the re-rank over the
    accumulated store re-orders hour 0 and ranks hour 1 independently,
    matching the batch twin's tie/order rules."""
    import json
    import os

    from tickdatapipeline_spark.streaming.eventtime import run_hourly_topk_stream

    hour_us = 3_600 * 1_000_000
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    batches = [
        ("b0.json", [(0, 1, 5.0), (0, 2, 8.0)]),
        ("b1.json", [(0, 1, 5.0), (1, 9, 2.5)]),
    ]
    for i, (fname, rows) in enumerate(batches):
        p = in_dir / fname
        with open(p, "w") as f:
            for j, (h, u, v) in enumerate(rows):
                f.write(json.dumps({"event_id": 10 * i + j, "tus": h * hour_us,
                                    "user_id": u, "value": v}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    q = run_hourly_topk_stream(
        spark, str(in_dir), str(tmp_path / "store"), str(tmp_path / "out"),
        str(tmp_path / "ckpt"), k=2)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(str(tmp_path / "out")).collect()
    by_batch = {}
    for r in out:
        by_batch.setdefault(r.batch_id, []).append(
            (r.hour_s, r.rnk, r.user_id, r.hour_value, r.n_events))
    assert sorted(by_batch[0]) == [(0, 1, 2, 8.0, 1), (0, 2, 1, 5.0, 1)]
    assert sorted(by_batch[1]) == [
        (0, 1, 1, 10.0, 2), (0, 2, 2, 8.0, 1), (3600, 1, 9, 2.5, 1)]


@pytest.mark.heavy
def test_compact_batch_store_preserves_detections(spark, tmp_path):
    """Compacting the CUSUM hourly store must leave the detection
    bit-identical (associative sums, <=-pruned readers), collapse the
    partitions to one, and keep a subsequent batch's fold working."""
    from pyspark.sql import functions as F

    from tickdatapipeline_spark.plans.beyond import cusum_over_hourly
    from tickdatapipeline_spark.streaming.eventtime import compact_batch_store

    store = str(tmp_path / "store")
    rows0 = [("m", 0, 100), ("m", 3600, 100)]
    rows1 = [("m", 7200, 200), ("m", 10800, 200)]
    for bid, rows in [(0, rows0), (1, rows1)]:
        spark.createDataFrame(rows, "event_type string, hour_s long, h_sum long") \
            .write.mode("overwrite").parquet(f"{store}/batch_id={bid}")

    def detect():
        full = (spark.read.parquet(store).where(F.col("batch_id") <= 10)
                .groupBy("event_type", "hour_s").agg(F.sum("h_sum").alias("h_sum")))
        return sorted(tuple(r) for r in cusum_over_hourly(full).collect())

    before = detect()
    compact_batch_store(spark, store, ["event_type", "hour_s"], ["h_sum"], 1)
    import glob

    assert glob.glob(f"{store}/batch_id=*") == [f"{store}/batch_id=1"]
    assert detect() == before

    # a later trigger's delta folds in exactly as if never compacted
    spark.createDataFrame([("m", 14400, 300)],
                          "event_type string, hour_s long, h_sum long") \
        .write.mode("overwrite").parquet(f"{store}/batch_id=2")
    totals = {(r.event_type, r.hour_s): r.h_sum
              for r in spark.read.parquet(store)
              .groupBy("event_type", "hour_s").agg(F.sum("h_sum").alias("h_sum"))
              .collect()}
    assert totals[("m", 0)] == 100 and totals[("m", 14400)] == 300


@pytest.mark.heavy
def test_quality_observed_ingest(spark, tmp_path):
    """The observe()-collected per-batch counters must match the data
    actually written through the same pass: row counts, null-field
    tally (schema-parse failures surface as NULLs, never silent
    drops), and event-time bounds."""
    import json
    import os

    from tickdatapipeline_spark.streaming.eventtime import (
        run_quality_observed_ingest,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    b0 = [{"event_id": 1, "tus": 100, "user_id": 7, "value": 1.5},
          {"event_id": 2, "tus": 200, "user_id": None, "value": 2.5},
          {"event_id": 3, "tus": 900, "user_id": 8, "value": "not-a-number"}]
    b1 = [{"event_id": 4, "tus": 50, "user_id": 9, "value": 4.0}]
    for i, rows in enumerate([b0, b1]):
        p = in_dir / f"b{i}.json"
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    q = run_quality_observed_ingest(
        spark, str(in_dir), str(tmp_path / "data"), str(tmp_path / "metrics"),
        str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    metrics = {r.batch_id: r for r in
               spark.read.parquet(str(tmp_path / "metrics")).collect()}
    m0, m1 = metrics[0], metrics[1]
    # b0: 3 rows, two with a null field (explicit null + unparseable value)
    assert (m0.n_rows, m0.n_null_fields, m0.min_tus, m0.max_tus) == (3, 2, 100, 900)
    assert (m1.n_rows, m1.n_null_fields, m1.min_tus, m1.max_tus) == (1, 0, 50, 50)
    data = spark.read.parquet(str(tmp_path / "data"))
    assert data.count() == 4  # nothing silently dropped


@pytest.mark.heavy
def test_hourly_topk_stream_restart_resumes(spark, tmp_path):
    """Killing the leaderboard stream and restarting on the same
    checkpoint must continue batch ids (no re-processing, no gaps):
    the post-restart leaderboard equals a never-stopped run's."""
    import json
    import os

    from tickdatapipeline_spark.streaming.eventtime import run_hourly_topk_stream

    hour_us = 3_600 * 1_000_000
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write_batch(i, rows):
        p = in_dir / f"b{i}.json"
        with open(p, "w") as f:
            for j, (h, u, v) in enumerate(rows):
                f.write(json.dumps({"event_id": 100 * i + j, "tus": h * hour_us,
                                    "user_id": u, "value": v}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    args = (spark, str(in_dir), str(tmp_path / "store"), str(tmp_path / "out"),
            str(tmp_path / "ckpt"))
    write_batch(0, [(0, 1, 5.0), (0, 2, 8.0)])
    q = run_hourly_topk_stream(*args, k=2)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    write_batch(1, [(0, 1, 5.0)])
    q2 = run_hourly_topk_stream(*args, k=2)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    out = spark.read.parquet(str(tmp_path / "out"))
    by_batch = {}
    for r in out.collect():
        by_batch.setdefault(r.batch_id, []).append((r.hour_s, r.rnk, r.user_id, r.hour_value))
    assert set(by_batch) == {0, 1}  # ids continued, batch 0 not replayed
    assert sorted(by_batch[1]) == [(0, 1, 1, 10.0), (0, 2, 2, 8.0)]


def test_backfill_hourly_store_warm_start(spark, tmp_path):
    """A backfilled store (batch_id=-1) folds into the first trigger's
    detection exactly as if the history had streamed through: the
    post-backfill CUSUM over history+batch equals the batch query's
    algebra over the union."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tickdatapipeline_spark.plans.beyond import cusum_over_hourly
    from tickdatapipeline_spark.streaming.eventtime import (
        backfill_hourly_store,
        run_value_cusum_stream,
    )

    hour_ns = 3_600 * 1_000_000_000
    hist = [(1, 0, 1.0), (2, hour_ns, 1.0)]  # hours 0,1 level 1.0
    tbl = pa.table({
        "event_id": pa.array([r[0] for r in hist], pa.int64()),
        "ts": pa.array([r[1] for r in hist], pa.timestamp("ns")),
        "user_id": pa.array([1, 1], pa.int64()),
        "event_type": pa.array(["m", "m"]),
        "value": pa.array([r[2] for r in hist]),
        "props": pa.array(["{}", "{}"]),
    })
    pq.write_table(tbl, tmp_path / "events.parquet")
    store = str(tmp_path / "store")
    backfill_hourly_store(spark, str(tmp_path / "events.parquet"), store)

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    hour_us = 3_600 * 1_000_000
    with open(in_dir / "b0.json", "w") as f:
        for j, (h, v) in enumerate([(2, 2.0), (3, 2.0)]):  # the level shift
            f.write(json.dumps({"event_id": 10 + j, "tus": h * hour_us,
                                "event_type": "m", "value": v}) + "\n")
    os.utime(in_dir / "b0.json", (1700000000, 1700000000))

    q = run_value_cusum_stream(spark, str(in_dir), store,
                               str(tmp_path / "out"), str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    r = {(x.batch_id, x.event_type): x
         for x in spark.read.parquet(str(tmp_path / "out")).collect()}[(0, "m")]
    # identical to the warm 4-hour series (100,100,200,200): k=2, stat 400
    assert (r.k, r.n_hours, r.stat, r.cp_hour_s) == (2, 4, 400, 3_600)
    assert (r.mean_before, r.mean_after) == (1.0, 2.0)


@pytest.mark.heavy
def test_value_trend_stream(spark, tmp_path):
    """Streaming trend: after batch 0 (flat 1.0, 1.0) the slope is 0;
    batch 1 appends hours at 2.0 and 3.0 — the re-run over the
    accumulated store reports the hand-computed OLS slope of the whole
    series (0.7/h over sums 100,100,200,300 cents)."""
    import json
    import os

    from tickdatapipeline_spark.streaming.eventtime import run_value_trend_stream

    hour_us = 3_600 * 1_000_000
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    batches = [[(0, 1.0), (1, 1.0)], [(2, 2.0), (3, 3.0)]]
    for i, rows in enumerate(batches):
        with open(in_dir / f"b{i}.json", "w") as f:
            for j, (h, v) in enumerate(rows):
                f.write(json.dumps({"event_id": 10 * i + j, "tus": h * hour_us,
                                    "event_type": "m", "value": v}) + "\n")
        os.utime(in_dir / f"b{i}.json", (1700000000 + i, 1700000000 + i))

    q = run_value_trend_stream(
        spark, str(in_dir), str(tmp_path / "store"), str(tmp_path / "out"),
        str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = {(r.batch_id, r.event_type): r
           for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert out[(0, "m")].slope_per_hour == 0.0
    # series y = [100, 100, 200, 300] at x = 0..3: slope = 70 cents/h
    r1 = out[(1, "m")]
    assert (r1.n_hours, r1.slope_per_hour, r1.mean_hourly_value) == (4, 0.7, 1.75)


@pytest.mark.heavy
def test_phash_real_decoder_injection(spark, tmp_path):
    """The media family's load-bearing claim — "a real grayscale
    decoder swaps into the kernel unchanged" — exercised end to end:
    a GENUINE decode pipeline (bytes -> 64x64 grayscale image ->
    8x8 block-mean downsample, the standard pHash resize step) is
    injected as ``decode_matrix`` into (1) perceptual_fingerprints,
    (2) the banded phash_near_duplicates pairs, and (3) the streaming
    run_phash_dedup_stream including the keep_empty phash-0 path —
    asserting the operator contracts hold with no stub anywhere."""
    import json

    import numpy as np

    from tickdatapipeline_spark.operators.multimodal import (
        perceptual_fingerprints,
        phash_near_duplicates,
    )
    from tickdatapipeline_spark.streaming.eventtime import run_phash_dedup_stream

    def grayscale_block_mean(payload, side=8, src=64):
        """Real decoder shape: decode bytes to a src x src grayscale
        image, then block-mean downsample to side x side — accepts
        empty/None per the keep_empty contract."""
        if not payload:
            return [[0] * side for _ in range(side)]
        buf = np.frombuffer(bytes(payload), dtype=np.uint8)
        img = np.resize(buf, (src, src))
        blk = src // side
        return (img.reshape(side, blk, side, blk).mean(axis=(1, 3))
                .astype(np.int64).tolist())

    # calibrated ASCII fixtures (JSONL-safe): 4 bytes shifted -> WHT
    # hamming 2 (near-dup), independent content -> hamming 31
    base = "".join(chr(32 + (i * 7 + i // 64) % 95) for i in range(4096))
    pert = list(base)
    for k in range(4):
        pert[513 * k] = chr(32 + (ord(pert[513 * k]) - 32 + 31) % 95)
    pert = "".join(pert)
    other = "".join(chr(32 + (i * 31 + 5) % 95) for i in range(4096))

    # --- batch: fingerprints + banded pairs with the real decoder ---
    media = spark.createDataFrame(
        [(1, "image", base.encode()), (2, "image", pert.encode()),
         (4, "image", other.encode())],
        "media_id long, kind string, content binary",
    )
    fp = perceptual_fingerprints(media, decode_matrix=grayscale_block_mean)
    got = {r.media_id: r.phash for r in fp.collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert all(0 <= p < 2 ** 63 for p in got.values())
    assert 0 < ham(got[1], got[2]) <= 8 < ham(got[1], got[4])
    pairs = {(r.media_a, r.media_b)
             for r in phash_near_duplicates(fp, max_hamming=8).collect()}
    assert pairs == {(1, 2)}

    # --- stream: same decoder through run_phash_dedup_stream ---
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write_media(fname, rows):
        with open(in_dir / fname, "w") as f:
            for media_id, payload, ts in rows:
                f.write(json.dumps({"media_id": media_id, "kind": "image",
                                    "payload": payload, "ts": ts}) + "\n")

    write_media("b0.json", [
        (1, base, "2024-01-01 00:00:00"),
        (4, other, "2024-01-01 00:00:30"),
        (5, "", "2024-01-01 00:00:40"),      # keep_empty: phash 0, kept
    ])
    q = run_phash_dedup_stream(spark, str(in_dir), str(tmp_path / "out"),
                               str(tmp_path / "ckpt"),
                               decode_matrix=grayscale_block_mean)
    try:
        q.processAllAvailable()
        write_media("b1.json", [
            (2, pert, "2024-01-01 00:10:00"),  # perceptual copy of 1 -> drop
            (6, "", "2024-01-01 00:10:40"),    # second empty: matches 5 -> drop
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    kept = sorted(r.media_id for r in spark.read.parquet(str(tmp_path / "out")).collect())
    assert kept == [1, 4, 5]


class _FakeGroupState:
    """Minimal GroupState stand-in for driving the stateful kernels as
    pure functions — the only way to ASSERT timeout re-arm behavior
    (a live stream hides it until state silently leaks)."""

    def __init__(self, value=None, watermark_ms=0, timed_out=False):
        self._value = value
        self.watermark_ms = watermark_ms
        self.hasTimedOut = timed_out
        self.timeout_set_to = None
        self.removed = False

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = tuple(v)

    def remove(self):
        self._value = None
        self.removed = True

    def setTimeoutTimestamp(self, ms):
        self.timeout_set_to = ms

    def getCurrentWatermarkMs(self):
        return self.watermark_ms


def _doc_batch(rows):
    import pandas as pd

    return pd.DataFrame({
        "doc_id": [r[0] for r in rows],
        "text": [r[1] for r in rows],
        "lang": ["en"] * len(rows),
        "ts": pd.to_datetime([r[2] for r in rows]),
        "band": [0] * len(rows),
        "band_key": ["k"] * len(rows),
        "sig": [r[3] for r in rows],
    })


def test_band_verify_kernel_rearms_timeout_on_matched_only_batch():
    """The ADVICE r10 state-leak fix, asserted directly: GroupState
    clears its timeout every invocation, so a batch where EVERY
    arrival matches an existing entry (no new anchor) must still
    re-arm the event-time timeout — under the r9 set-only-on-new-
    anchor form this bucket became unexpirable."""
    from tickdatapipeline_spark.streaming.eventtime import make_band_verify_kernel

    kernel = make_band_verify_kernel(delay_ms=600_000, num_perm=4, threshold=0.5)
    sig = [1, 2, 3, 4]
    anchor = 1_000_000
    state = _FakeGroupState(value=(list(sig), [anchor]), watermark_ms=anchor)
    out = list(kernel(("b",), iter([_doc_batch(
        [(7, "near dup copy", "2024-01-01 00:20:00", sig)])]), state))
    assert out[0]["matched"].tolist() == [True]          # matched-only batch
    assert state.get == (sig, [anchor])                  # no new anchor
    assert state.timeout_set_to == anchor + 600_000      # STILL re-armed


def test_band_verify_kernel_expires_and_readmits_per_entry():
    """First-anchored per-entry expiry at the kernel level: an entry
    whose anchor + delay <= watermark is evicted BEFORE matching, the
    readmitted arrival re-anchors, and a below-threshold signature
    never matches a live entry."""
    from tickdatapipeline_spark.streaming.eventtime import make_band_verify_kernel

    kernel = make_band_verify_kernel(delay_ms=600_000, num_perm=4, threshold=0.5)
    old_sig, anchor = [1, 2, 3, 4], 1_000_000
    # watermark has passed the anchor's horizon -> entry dead
    state = _FakeGroupState(value=(list(old_sig), [anchor]),
                            watermark_ms=anchor + 600_000)
    ts = "2024-01-01 01:00:00"
    import pandas as pd

    new_ts_ms = int(pd.Timestamp(ts).value) // 1_000_000
    out = list(kernel(("b",), iter([_doc_batch([(8, "readmitted", ts, old_sig)])]),
                      state))
    assert out[0]["matched"].tolist() == [False]         # readmitted
    assert state.get[1] == [new_ts_ms]                   # re-anchored
    # live entry + dissimilar signature (1/4 lanes agree < 0.5) -> keep both
    state2 = _FakeGroupState(value=(list(old_sig), [anchor]), watermark_ms=anchor)
    out2 = list(kernel(("b",), iter([_doc_batch(
        [(9, "band collision non dup", "2024-01-01 00:20:00", [1, 9, 9, 9])])]),
        state2))
    assert out2[0]["matched"].tolist() == [False]
    assert len(state2.get[1]) == 2                       # both anchored now


def test_phash_kernel_empty_batch_rearms_timeout():
    """ADVICE r10 #3 asserted directly: the phash kernel's defensive
    empty-batch branch must re-arm the timeout after persisting the
    watermark eviction — update() without re-arm leaves surviving
    entries unexpirable."""
    import pandas as pd

    from tickdatapipeline_spark.streaming.eventtime import make_phash_dedup_kernel

    kernel = make_phash_dedup_kernel(max_hamming=8)
    # two entries: one dead (ts < wm), one live
    state = _FakeGroupState(value=([5, 6], [1_000, 2_000_000]),
                            watermark_ms=1_000_000)
    empty = pd.DataFrame({
        "media_id": pd.Series([], dtype="int64"),
        "kind": pd.Series([], dtype=object),
        "phash": pd.Series([], dtype="int64"),
        "ts": pd.Series([], dtype="datetime64[ns]"),
        "band": pd.Series([], dtype="int64"),
        "band_key": pd.Series([], dtype="int64"),
    })
    out = list(kernel((0, 1), iter([empty]), state))
    assert len(out[0]) == 0
    assert state.get == ([6], [2_000_000])               # eviction persisted
    assert state.timeout_set_to == 2_000_000 + 1_000     # re-armed


def _write_session_events(in_dir, fname, rows):
    import json

    with open(in_dir / fname, "w") as f:
        for event_id, user_id, ts in rows:
            f.write(json.dumps(
                {"event_id": event_id, "user_id": user_id, "ts": ts}) + "\n")


@pytest.mark.heavy
def test_sessionization_stream_matches_batch_mirror(spark, tmp_path):
    """Streaming gap sessions equal the batch gaps-and-islands pass on
    every CLOSED session: out-of-order arrivals inside a batch, a
    multi-session user, and a single-event session all close with the
    exact (n_events, duration_s) the batch mirror computes once the
    watermark passes their horizon; the sentinel's own tail session
    stays open (not emitted)."""
    from tickdatapipeline_spark.streaming.eventtime import run_sessionization_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # user 1 session A: 00:00 + 00:10 (arrives out of order);
    # user 2: single event
    _write_session_events(in_dir, "b0.json", [
        (2, 1, "2024-01-01 00:10:00"),
        (1, 1, "2024-01-01 00:00:00"),
        (3, 2, "2024-01-01 00:30:00"),
    ])
    q = run_sessionization_stream(spark, str(in_dir), str(tmp_path / "out"),
                                  str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        # user 1 session B (gap > 30 min after A), plus a watermark-
        # advancing sentinel
        _write_session_events(in_dir, "b1.json", [
            (4, 1, "2024-01-01 01:00:00"),
            (6, 1, "2024-01-01 01:20:00"),
            (5, 1, "2024-01-01 01:05:00"),
            (99, 999, "2024-01-01 06:00:00"),
        ])
        q.processAllAvailable()
        # one more batch so the kernel RUNS with the advanced watermark
        _write_session_events(in_dir, "b2.json", [
            (100, 999, "2024-01-01 06:00:30"),
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    got = {(r.user_id, r.n_events, r.duration_s) for r in rows}
    assert got == {(1, 2, 600), (1, 3, 1200), (2, 1, 0)}
    assert all(r.user_id != 999 for r in rows)  # sentinel tail stays open


@pytest.mark.heavy
def test_sessionization_stream_merges_bridging_event_and_restarts(spark, tmp_path):
    """An out-of-order event that lands BETWEEN two open sessions and
    sits within the gap of both must MERGE them into one (interval
    merge, not append), and open-session state survives a checkpoint
    restart: the merged session closes after the restart with all
    three events."""
    from tickdatapipeline_spark.streaming.eventtime import run_sessionization_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    args = (spark, str(in_dir), str(tmp_path / "out"), str(tmp_path / "ckpt"))

    # two separate open sessions (50 min apart > 30 min gap); the
    # bridge point must sit STRICTLY inside both gaps AND above the
    # post-b0 watermark (00:20) — an exactly-on-watermark arrival is
    # dropped as late (verified: a 60-min spacing makes 00:30 the only
    # bridge point, which == the watermark and vanished)
    _write_session_events(in_dir, "b0.json", [
        (1, 1, "2024-01-01 00:00:00"),
        (2, 1, "2024-01-01 00:50:00"),
    ])
    q = run_sessionization_stream(*args)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # restart: the bridge arrives (25 min from both sides), then the
    # watermark advances past the merged horizon
    _write_session_events(in_dir, "b1.json", [
        (3, 1, "2024-01-01 00:25:00"),
        (99, 999, "2024-01-01 06:00:00"),
    ])
    _write_session_events(in_dir, "b2.json", [
        (100, 999, "2024-01-01 06:00:30"),
    ])
    q2 = run_sessionization_stream(*args)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    rows = [r for r in spark.read.parquet(str(tmp_path / "out")).collect()
            if r.user_id == 1]
    assert [(r.n_events, r.duration_s) for r in rows] == [(3, 3000)]


# ===== streaming heavy hitters (sharded Misra-Gries) =====


def _latest_hh_snapshot(spark, out_dir):
    df = spark.read.parquet(out_dir)
    mx = df.agg({"batch_id": "max"}).collect()[0][0]
    return df.where(df.batch_id == mx)


def test_heavy_hitters_stream_superset_and_bounded_state(spark, tmp_path):
    """The candidate union must contain every key with global count >
    n/(k+1), per-shard summaries must stay within k counters, mg_count
    must lower-bound the true count, and the exact-recount backstop
    over the candidates must equal the all-keys exact answer."""
    from tickdatapipeline_spark.streaming.eventtime import run_heavy_hitters_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # 60 events: key 7 x 30, key 8 x 15, keys 100..114 x 1 each
    rows, eid = [], 0
    for uid, n in [(7, 30), (8, 15)] + [(100 + i, 1) for i in range(15)]:
        for _ in range(n):
            rows.append((eid, uid, "2024-01-01 00:00:00"))
            eid += 1
    # split across two micro-batches to exercise the state carry
    _write_session_events(in_dir, "b0.json", rows[:25])
    _write_session_events(in_dir, "b1.json", rows[25:])
    k = 4  # threshold count > 60/5 = 12 -> keys 7 and 8 are heavy
    q = run_heavy_hitters_stream(
        spark, str(in_dir), str(tmp_path / "out"), str(tmp_path / "ckpt"),
        k=k, n_shards=2,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    snap = _latest_hh_snapshot(spark, str(tmp_path / "out"))
    cands = {r.user_id: r for r in snap.collect()}
    true_counts = {7: 30, 8: 15}
    assert set(true_counts) <= set(cands)  # superset of true heavy keys
    per_shard = {r[0]: r[1] for r in snap.groupBy("shard").count().collect()}
    assert all(c <= k for c in per_shard.values())
    for uid, n in true_counts.items():
        assert cands[uid].mg_count <= n  # lower bound
    # exact backstop: recount candidates against the at-rest rows
    import pandas as pd

    at_rest = pd.DataFrame(rows, columns=["event_id", "user_id", "ts"])
    total = len(at_rest)
    exact = at_rest["user_id"].value_counts()
    verified = {u for u in cands if exact[u] * (k + 1) > total}
    truth = {u for u, c in exact.items() if c * (k + 1) > total}
    assert verified == truth == {7, 8}


@pytest.mark.heavy
def test_heavy_hitters_stream_state_survives_restart(spark, tmp_path):
    """MG counters accumulate across a checkpoint restart: a key that
    is only heavy COMBINED across the two runs must appear in the
    post-restart snapshot with an accumulated mg_count."""
    from tickdatapipeline_spark.streaming.eventtime import run_heavy_hitters_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    args = (spark, str(in_dir), str(tmp_path / "out"), str(tmp_path / "ckpt"))
    _write_session_events(
        in_dir, "b0.json",
        [(i, 5, "2024-01-01 00:00:00") for i in range(10)],
    )
    q = run_heavy_hitters_stream(*args, k=4, n_shards=2)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    _write_session_events(
        in_dir, "b1.json",
        [(100 + i, 5, "2024-01-01 01:00:00") for i in range(10)],
    )
    q = run_heavy_hitters_stream(*args, k=4, n_shards=2)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    snap = _latest_hh_snapshot(spark, str(tmp_path / "out"))
    got = {r.user_id: r.mg_count for r in snap.collect()}
    assert got.get(5) == 20  # alone in its shard: MG count stays exact


@pytest.mark.heavy
def test_stream_stream_left_outer_join_emits_unconverted_clicks(spark, tmp_path):
    """leftOuter interval join: matched rows equal the inner join's;
    a click with NO purchase emits exactly once with NULL
    purchase/lag — only after the watermark passes the end of its
    join window (the engine cannot rule out a future purchase
    earlier)."""
    import json
    import os

    from tickdatapipeline_spark.streaming.eventtime import attributed_clicks_stream

    H = 3600 * 1_000_000
    B = 24 * H  # epoch-0 rows tie the initial watermark; keep clear

    def write(d, fname, rows, i):
        p = tmp_path / d / fname
        with open(p, "w") as f:
            for eid, tus, uid in rows:
                f.write(json.dumps({"event_id": eid, "tus": B + tus,
                                    "user_id": uid}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    (tmp_path / "clicks").mkdir()
    (tmp_path / "purchases").mkdir()
    # batch 0: user 1 clicks at h0 and converts at h2; user 2 clicks
    # at h1 and never converts
    write("clicks", "c0.json", [(101, 0 * H, 1), (102, 1 * H, 2)], 0)
    write("purchases", "p0.json", [(201, 2 * H, 1)], 0)
    # batches 1-2: advance both watermarks far past h1 + lookback(4h)
    # + watermark(2h); outer-null emission needs the eviction pass at
    # the end of the batch AFTER the watermark advanced
    write("clicks", "c1.json", [(103, 30 * H, 3)], 1)
    write("purchases", "p1.json", [(202, 30 * H + 1, 3)], 1)
    write("clicks", "c2.json", [(104, 31 * H, 4)], 2)
    write("purchases", "p2.json", [], 2)

    df = attributed_clicks_stream(
        spark, str(tmp_path / "clicks"), str(tmp_path / "purchases"),
        lookback="4 hours", watermark="2 hours", how="leftOuter",
    )
    q = (
        df.writeStream.format("memory").queryName("attrib_left_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.user_id, r.click_event_id, r.purchase_event_id, r.lag_s)
        for r in spark.table("attrib_left_stream").collect()
    }
    # user 1 converted (2h lag); user 2's click is past its outer
    # horizon -> NULL row; user 3 converted; user 4's click at h31 is
    # NOT yet past watermark+lookback -> still buffered, absent
    assert got == {
        (1, 101, 201, 7200),
        (2, 102, None, None),
        (3, 103, 202, 0),
    }


@pytest.mark.heavy
def test_order_flow_stream_equals_batch(spark, tmp_path):
    """The streaming tick-rule order flow equals the batch formulation
    over the concatenated input: per-tick dirs match tick_rule_dirs
    bit-for-bit — including a zero-tick in a LATER batch than the move
    whose sign it inherits (the GroupState carry) — and each stream's
    final running totals equal the batch aggregate's."""
    import json
    import os

    from tickdatapipeline_spark.streaming.stateful import (
        ORDER_FLOW_IN_SCHEMA,
        order_flow_stream,
    )

    rows0 = [  # (stream, line_no, last, volume)
        (0, 1, 100, 2), (0, 2, 100, 1), (0, 3, 101, 3),
        (1, 1, 50, 5),
    ]
    rows1 = [
        (0, 4, 101, 4),   # cross-batch zero-tick: inherits batch-0's uptick
        (0, 5, 99, 2),    # downtick
        (1, 2, 50, 1),    # zero-tick with NO prior move: still unclassified
        (1, 3, 49, 2),    # first move of stream 1
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, rows in enumerate([rows0, rows1]):
        p = in_dir / f"b{i}.json"
        with open(p, "w") as f:
            for st, ln, last, vol in rows:
                f.write(json.dumps({"stream": st, "line_no": ln,
                                    "last": last, "volume": vol}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    raw = (
        spark.readStream.schema(ORDER_FLOW_IN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    q = (
        order_flow_stream(raw)
        .writeStream.format("memory").queryName("of_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.table("of_stream").collect()
    got_dirs = {(r.stream, r.line_no): r.dir for r in out}

    from tickdatapipeline_spark.plans.market import tick_rule_dirs

    all_rows = spark.createDataFrame(rows0 + rows1, ORDER_FLOW_IN_SCHEMA)
    want_dirs = {(r.stream, r.line_no): r.dir
                 for r in tick_rule_dirs(all_rows).collect()}
    assert got_dirs == want_dirs
    # cross-batch carry actually exercised: line 4 of stream 0 is a
    # zero-tick classified by batch-0's uptick
    assert got_dirs[(0, 4)] == 1
    assert got_dirs[(1, 2)] is None

    # final running totals == batch aggregate per stream
    import pyspark.sql.functions as F
    last_rows = {}
    for r in out:
        k = r.stream
        if k not in last_rows or r.line_no > last_rows[k].line_no:
            last_rows[k] = r
    batch_tot = (
        tick_rule_dirs(all_rows)
        .groupBy("stream")
        .agg(
            F.coalesce(F.sum(F.when(F.col("dir") == 1, F.col("volume"))), F.lit(0)).alias("b"),
            F.coalesce(F.sum(F.when(F.col("dir") == -1, F.col("volume"))), F.lit(0)).alias("s"),
            F.coalesce(F.sum(F.when(F.col("dir").isNull(), F.col("volume"))), F.lit(0)).alias("u"),
        )
        .collect()
    )
    for r in batch_tot:
        lr = last_rows[r.stream]
        assert (lr.buy_volume, lr.sell_volume, lr.unclassified_volume) == (r.b, r.s, r.u)


@pytest.mark.heavy
def test_hourly_ohlc_stream_equals_batch(spark, tmp_path):
    """Finalized streaming OHLC candles equal the batch min_by/max_by
    aggregate over the on-time rows — including open/close tie
    determinism via the packed order key, and an hour whose rows span
    two micro-batches (the partial-aggregate merge)."""
    import json
    import os

    from tickdatapipeline_spark.streaming.eventtime import hourly_ohlc_stream

    H = 3600 * 1_000_000
    B = 24 * H  # stay clear of the epoch-0 initial watermark

    rows0 = [  # (event_id, tus, event_type, value)
        (1, B + 10, "m", 5.00), (2, B + 20, "m", 9.25),
        (3, B + 30, "m", 1.50),
        (5, B + 10, "n", 7.00),  # same tus as id 4 (below): id breaks the tie
    ]
    rows1 = [
        (6, B + 40, "m", 4.75),     # same hour, later batch: merge into candle
        (4, B + 10, "n", 3.00),     # tie on tus with id 5 -> open = id 4's value
        (7, B + 30 * H, "m", 2.00),  # advances the watermark, finalizes hour 24
        (8, B + 31 * H, "m", 2.50),  # one more batch so eviction runs
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, rows in enumerate([rows0, rows1]):
        p = in_dir / f"b{i}.json"
        with open(p, "w") as f:
            for eid, tus, et, v in rows:
                f.write(json.dumps({"event_id": eid, "tus": tus,
                                    "event_type": et, "value": v}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    q = (
        hourly_ohlc_stream(spark, str(in_dir), watermark="2 hours")
        .writeStream.format("memory").queryName("ohlc_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.hour_s, r.event_type): (r.n_events, r.open, r.high, r.low, r.close)
        for r in spark.table("ohlc_stream").collect()
    }
    base_h = B // 1_000_000  # epoch-seconds of the first hour
    # hour 24 candles finalized (watermark passed); hours 30/31 still open
    assert got == {
        (base_h, "m"): (4, 5.00, 9.25, 1.50, 4.75),
        (base_h, "n"): (2, 3.00, 7.00, 3.00, 7.00),
    }

    # and the finalized candles equal the BATCH twin over the same
    # on-time rows (hourly_ohlc_fn reads an events.parquet fixture)
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tickdatapipeline_spark.plans.beyond import hourly_ohlc_fn

    all_rows = rows0 + rows1
    tbl = pa.table({
        "event_id": pa.array([r[0] for r in all_rows], pa.int64()),
        "ts": pa.array([r[1] * 1000 for r in all_rows], pa.timestamp("ns")),
        "user_id": pa.array([1] * len(all_rows), pa.int64()),
        "event_type": pa.array([r[2] for r in all_rows]),
        "value": pa.array([r[3] for r in all_rows], pa.float64()),
        "props": pa.array(["{}"] * len(all_rows)),
    })
    bdir = tmp_path / "batch_events"
    bdir.mkdir()
    pq.write_table(tbl, bdir / "events.parquet")
    batch = {
        (r.hour_s, r.event_type): (r.n_events, r.open, r.high, r.low, r.close)
        for r in hourly_ohlc_fn(spark, str(bdir)).collect()
    }
    for k, v in got.items():  # every finalized candle matches the batch twin
        assert batch[k] == v


def test_order_flow_kernel_concatenates_arrow_chunks(spark, tmp_path):
    """The order-sensitive carry must survive a micro-batch whose
    group spans MULTIPLE Arrow chunks: with maxRecordsPerBatch=2 and
    the file written in REVERSE line order, a per-chunk sort would
    compute deltas across backwards chunk seams — the kernel must
    concat-then-sort (pinned here) so dirs equal the batch twin."""
    import json
    import os

    from tickdatapipeline_spark.streaming.stateful import (
        ORDER_FLOW_IN_SCHEMA,
        order_flow_stream,
    )

    # one stream, prices alternate up/down so every seam matters
    rows = [(0, i + 1, 100 + (i % 3), 1) for i in range(9)]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    p = in_dir / "b0.json"
    with open(p, "w") as f:
        for st, ln, last, vol in reversed(rows):  # reverse file order
            f.write(json.dumps({"stream": st, "line_no": ln,
                                "last": last, "volume": vol}) + "\n")
    os.utime(p, (1700000000, 1700000000))

    saved = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
        raw = (
            spark.readStream.schema(ORDER_FLOW_IN_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )
        q = (
            order_flow_stream(raw)
            .writeStream.format("memory").queryName("of_chunks")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", saved)

    got = {(r.stream, r.line_no): r.dir for r in spark.table("of_chunks").collect()}

    from tickdatapipeline_spark.plans.market import tick_rule_dirs

    want = {(r.stream, r.line_no): r.dir
            for r in tick_rule_dirs(
                spark.createDataFrame(rows, ORDER_FLOW_IN_SCHEMA)).collect()}
    assert got == want


def test_order_flow_stream_restart_keeps_state(spark, tmp_path):
    """The order-flow GroupState (prev price, carry sign, running
    totals) survives a query restart from the checkpoint: a zero-tick
    ingested by the SECOND query instance inherits the sign of a move
    the FIRST instance saw, and totals keep accumulating."""
    import json
    import os

    from tickdatapipeline_spark.streaming.stateful import run_order_flow_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write(fname, rows, i):
        p = in_dir / fname
        with open(p, "w") as f:
            for st, ln, last, vol in rows:
                f.write(json.dumps({"stream": st, "line_no": ln,
                                    "last": last, "volume": vol}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    def run_once():
        q = run_order_flow_stream(
            spark, str(in_dir), str(tmp_path / "out"), str(tmp_path / "ckpt"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # instance 1: an uptick (100 -> 102), 3 lots total
    write("b0.json", [(0, 1, 100, 1), (0, 2, 102, 2)], 0)
    run_once()
    # instance 2 (fresh query, same checkpoint): a zero-tick that can
    # only be classified as BUY if the carry sign survived the restart
    write("b1.json", [(0, 3, 102, 5)], 1)
    run_once()

    rows = {r.line_no: r
            for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert rows[3].dir == 1  # inherited across the restart
    assert rows[3].buy_volume == 7  # 2 (pre-restart) + 5
    assert rows[3].unclassified_volume == 1  # line 1 before any move


@pytest.mark.heavy
def test_bands_from_signature_equals_direct_band_signature(spark):
    """rowlocal_bands_from_signature over the materialized signature
    column must emit byte-identical band keys to the direct
    rowlocal_band_signature expression — the single-evaluation rewrite
    of the neardup ingest path must not change a single key (including
    the empty-array short-doc arm)."""
    from pyspark.sql import functions as F

    from tickdatapipeline_spark.operators.dedup import (
        rowlocal_band_signature,
        rowlocal_bands_from_signature,
        rowlocal_minhash_signature,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "too short"),                       # < 3 tokens -> empty
         (3, "a b c d e f g h i j k l m n o p"),
         (4, None)],
        "doc_id long, text string",
    )
    sig = rowlocal_minhash_signature(F.col("text"))
    derived = docs.select(
        "doc_id",
        rowlocal_bands_from_signature(sig).alias("bands"),
    )
    direct = docs.select(
        "doc_id",
        rowlocal_band_signature(F.col("text")).alias("bands"),
    )
    a = {r.doc_id: [tuple(x) for x in r.bands] for r in derived.collect()}
    b = {r.doc_id: [tuple(x) for x in r.bands] for r in direct.collect()}
    assert a == b
    assert a[2] == [] and a[4] == []


def test_drawdown_stream_equals_batch(spark, tmp_path):
    """The streaming drawdown monitor's final row per stream equals
    the batch drawdown aggregate over the concatenated input — with
    the peak in batch 0 and the trough in batch 1, so the running
    extremes must cross the micro-batch boundary through GroupState."""
    import json
    import os

    from tickdatapipeline_spark.streaming.stateful import drawdown_stream

    rows0 = [  # (stream, line_no, last, volume): peak 110 lands here
        (0, 1, 100, 1), (0, 2, 110, 1), (0, 3, 105, 1),
        (1, 1, 50, 1),
    ]
    rows1 = [  # trough 90 lands in batch 1 -> max_drawdown 20
        (0, 4, 90, 1), (0, 5, 95, 1),
        (1, 2, 60, 1),  # stream 1: pure runup 10
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, rows in enumerate([rows0, rows1]):
        p = in_dir / f"b{i}.json"
        with open(p, "w") as f:
            for st, ln, last, vol in rows:
                f.write(json.dumps({"stream": st, "line_no": ln,
                                    "last": last, "volume": vol}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    raw = (
        spark.readStream.schema("stream long, line_no long, last long, volume long")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    q = (
        drawdown_stream(raw)
        .writeStream.format("memory").queryName("dd_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.table("dd_stream").collect()
    final = {}
    for r in out:
        if r.stream not in final or r.line_no > final[r.stream].line_no:
            final[r.stream] = r
    assert (final[0].run_peak, final[0].max_drawdown, final[0].max_runup) == (110, 20, 10)
    assert (final[1].run_peak, final[1].max_drawdown, final[1].max_runup) == (60, 0, 10)
    # per-tick instantaneous drawdown at the trough
    ticks = {(r.stream, r.line_no): r.drawdown for r in out}
    assert ticks[(0, 4)] == 20 and ticks[(0, 2)] == 0

    # and the finals equal the batch formulation (drawdown_fn's window
    # algebra) over the concatenated rows
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows0 + rows1, "stream long, line_no long, last long, volume long")
    w = Window.partitionBy("stream").orderBy("line_no").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    batch = (
        df.select(
            "stream",
            (F.max("last").over(w) - F.col("last")).alias("dd"),
            (F.col("last") - F.min("last").over(w)).alias("ru"),
            "last",
        )
        .groupBy("stream")
        .agg(F.max("last").alias("peak"), F.max("dd").alias("mdd"),
             F.max("ru").alias("mru"))
        .collect()
    )
    for r in batch:
        fr = final[r.stream]
        assert (fr.run_peak, fr.max_drawdown, fr.max_runup) == (r.peak, r.mdd, r.mru)


def test_hourly_ohlc_stream_restart_finalizes_once(spark, tmp_path):
    """Restarting the OHLC stream on its checkpoint must neither lose
    nor duplicate candles: instance 1 ingests part of an hour,
    instance 2 ingests the rest plus the watermark-advancing rows —
    the candle finalizes exactly once with ALL the hour's rows."""
    import json
    import os

    from tickdatapipeline_spark.streaming.eventtime import run_hourly_ohlc_stream

    H = 3600 * 1_000_000
    B = 24 * H
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write(fname, rows, i):
        p = in_dir / fname
        with open(p, "w") as f:
            for eid, tus, et, v in rows:
                f.write(json.dumps({"event_id": eid, "tus": tus,
                                    "event_type": et, "value": v}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    def run_once():
        q = run_hourly_ohlc_stream(
            spark, str(in_dir), str(tmp_path / "out"), str(tmp_path / "ckpt"),
            watermark="2 hours")
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write("b0.json", [(1, B + 10, "m", 5.0), (2, B + 20, "m", 9.0)], 0)
    run_once()
    # instance 2: one more row for the SAME hour, then the advance
    write("b1.json", [(3, B + 30, "m", 1.0), (4, B + 30 * H, "m", 2.0),
                      (5, B + 31 * H, "m", 3.0)], 1)
    run_once()

    got = {(r.hour_s, r.event_type): (r.n_events, r.open, r.high, r.low, r.close)
           for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got == {(B // 1_000_000, "m"): (3, 5.0, 9.0, 1.0, 1.0)}


def test_rv_bars_stream_equals_batch_completed_bars(spark, tmp_path):
    """Finalized streaming RV bars equal the batch formulation for
    every COMPLETED bar — with a bar deliberately split across two
    micro-batches (the in-progress-bar GroupState carry) — and the
    trailing partial bar is withheld, not emitted partially."""
    import json
    import os

    from tickdatapipeline_spark.streaming.stateful import rv_bars_stream

    BAR = 3
    # stream 0: 8 ticks -> bars 0,1 complete (lines 1-3, 4-6), bar 2
    # partial (lines 7-8); bar 1 is split across the two batches
    prices0 = [100, 102, 101, 101, 105, 104, 104, 110]
    rows0 = [(0, i + 1, p) for i, p in enumerate(prices0[:4])]
    rows1 = [(0, i + 5, p) for i, p in enumerate(prices0[4:])]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, rows in enumerate([rows0, rows1]):
        p = in_dir / f"b{i}.json"
        with open(p, "w") as f:
            for st, ln, last in rows:
                f.write(json.dumps({"stream": st, "line_no": ln,
                                    "last": last, "volume": 1}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    raw = (
        spark.readStream.schema("stream long, line_no long, last long, volume long")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    q = (
        rv_bars_stream(raw, bar_size=BAR)
        .writeStream.format("memory").queryName("rv_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {(r.stream, r.bar_id): (r.n_moves, r.rv, r.max_abs_move)
           for r in spark.table("rv_stream").collect()}

    # batch mirror: realized_variance_fn's algebra over the full input
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0, i + 1, p) for i, p in enumerate(prices0)],
        "stream long, line_no long, last long")
    w = Window.partitionBy("stream").orderBy("line_no")
    batch = (
        df.select(
            "stream",
            F.expr(f"(line_no - 1) DIV {BAR}").alias("bar_id"),
            (F.col("last") - F.lag("last").over(w)).alias("dlt"),
        )
        .groupBy("stream", "bar_id")
        .agg(F.count("dlt").alias("n"),
             F.coalesce(F.sum(F.col("dlt") * F.col("dlt")), F.lit(0)).alias("rv"),
             F.max(F.abs("dlt")).alias("mab"))
        .collect()
    )
    want = {(r.stream, r.bar_id): (r.n, r.rv, r.mab) for r in batch
            if r.bar_id < 2}  # bar 2 is partial
    assert got == want
    assert (0, 2) not in got  # partial bar withheld
    # spot-check: bar 1's boundary move (101->101, d=0) plus 105,104
    assert got[(0, 1)] == (3, 17, 4)


@pytest.mark.heavy
def test_liquidity_stream_equals_batch(spark, tmp_path):
    """The streaming liquidity monitor emits, per micro-batch, exactly
    the batch liquidity panel over each stream's concatenated prefix —
    including the Roll covariance pair chain and the lag-4
    variance-ratio window split ACROSS the batch boundary (the carries
    a per-batch recompute loses)."""
    import json
    import os

    from tickdatapipeline_spark.plans.market import liquidity_panel
    from tickdatapipeline_spark.streaming.stateful import liquidity_stream

    rows0 = [  # (stream, line_no, last, volume)
        (0, 1, 100, 2), (0, 2, 103, 1), (0, 3, 101, 4), (0, 4, 101, 1),
        (0, 5, 106, 3),
        (1, 1, 50, 1), (1, 2, 48, 2), (1, 3, 53, 1),
    ]
    rows1 = [  # lag-4 returns for these ticks reach back into batch 0
        (0, 6, 99, 2), (0, 7, 104, 5),
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, rows in enumerate([rows0, rows1]):
        p = in_dir / f"b{i}.json"
        with open(p, "w") as f:
            for st, ln, last, vol in rows:
                f.write(json.dumps({"stream": st, "line_no": ln,
                                    "last": last, "volume": vol}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    raw = (
        spark.readStream.schema("stream long, line_no long, last long, volume long")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    q = (
        liquidity_stream(raw)
        .writeStream.format("memory").queryName("liq_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.table("liq_stream").collect()
    got = {}  # (stream, n_ticks) -> row: one emission per batch prefix
    for r in out:
        got[(r.stream, r.n_ticks)] = r

    def batch_panel(rows):
        df = spark.createDataFrame(
            rows, "stream long, line_no long, last long, volume long")
        return {r.stream: r for r in liquidity_panel(df).collect()}

    cols = ["n_ticks", "n_moves", "n_pairs", "roll_cov", "roll_spread",
            "amihud_sum_pm", "amihud_mean_pm", "vr4"]
    # prefix after batch 0 AND the final state after batch 1
    for rows, n0 in [(rows0, 5), (rows0 + rows1, 7)]:
        want = batch_panel(rows)
        assert tuple(got[(0, n0)][c] for c in cols) == \
            tuple(want[0][c] for c in cols)
    want = batch_panel(rows0)
    assert tuple(got[(1, 3)][c] for c in cols) == \
        tuple(want[1][c] for c in cols)
    # the lag-4 return at tick 6 (99 - 103) crossed the batch seam
    assert got[(0, 7)].vr4 is not None


@pytest.mark.heavy
def test_liquidity_stream_restart_keeps_state(spark, tmp_path):
    """Killing the liquidity monitor and restarting on the same
    checkpoint resumes the GroupState accumulators: the post-restart
    emission equals the batch panel over ALL rows (both sessions'),
    with the Roll pair chain and the lag-4 return window crossing the
    restart boundary."""
    import json
    import os

    from tickdatapipeline_spark.plans.market import liquidity_panel
    from tickdatapipeline_spark.streaming.stateful import run_liquidity_stream

    rows0 = [(0, 1, 100, 2), (0, 2, 103, 1), (0, 3, 101, 4),
             (0, 4, 101, 1), (0, 5, 106, 3)]
    rows1 = [(0, 6, 99, 2), (0, 7, 104, 5)]
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write(i, rows):
        p = in_dir / f"b{i}.json"
        with open(p, "w") as f:
            for st, ln, last, vol in rows:
                f.write(json.dumps({"stream": st, "line_no": ln,
                                    "last": last, "volume": vol}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    out = str(tmp_path / "out")

    def run():
        # the product runner: replay-idempotent batch_id-partitioned
        # parquet (the memory sink cannot recover from a checkpoint)
        q = run_liquidity_stream(
            spark, str(in_dir), out, str(tmp_path / "ckpt"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write(0, rows0)
    run()  # session 1 absorbs the first five ticks, then dies
    write(1, rows1)
    run()  # a NEW query on the SAME checkpoint resumes state

    final = {r.n_ticks: r for r in spark.read.parquet(out).collect()}
    assert 7 in final, "post-restart emission must cover all 7 ticks"
    want = liquidity_panel(spark.createDataFrame(
        rows0 + rows1, "stream long, line_no long, last long, volume long"
    )).collect()[0]
    got = final[7]
    for c in ["n_ticks", "n_moves", "n_pairs", "roll_cov", "roll_spread",
              "amihud_sum_pm", "amihud_mean_pm", "vr4"]:
        assert got[c] == want[c], c


@given(
    prices=st.lists(st.integers(min_value=1, max_value=99999),
                    min_size=1, max_size=30),
    cuts=st.lists(st.integers(min_value=1, max_value=29),
                  min_size=0, max_size=3),
    data=st.data(),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@pytest.mark.heavy
def test_liquidity_kernel_any_split_equals_batch(spark, prices, cuts, data):
    """Property form of the stream==batch contract: ANY split of a
    random tick series into micro-batches, driven through
    make_liquidity_kernel with a fake GroupState, ends in exactly the
    batch liquidity panel's row — accumulators, NULL arms, and floats
    alike. Chunk boundaries land anywhere, including inside the Roll
    pair chain and the lag-VR_Q window."""
    import pandas as pd

    from tickdatapipeline_spark.plans.market import VR_Q, liquidity_panel
    from tickdatapipeline_spark.streaming.stateful import make_liquidity_kernel

    vols = [data.draw(st.integers(min_value=1, max_value=5)) for _ in prices]
    rows = [(0, i + 1, p, v) for i, (p, v) in enumerate(zip(prices, vols))]
    bounds = sorted({c for c in cuts if c < len(rows)} | {len(rows)})
    kernel = make_liquidity_kernel()
    state, last_emit, lo = _FakeGroupState(), None, 0
    for hi in bounds:
        chunk = rows[lo:hi]
        pdf = pd.DataFrame({
            "stream": [r[0] for r in chunk], "line_no": [r[1] for r in chunk],
            "last": [r[2] for r in chunk], "volume": [r[3] for r in chunk],
        })
        out = list(kernel((0,), iter([pdf]), state))
        if out:
            last_emit = out[-1].iloc[-1]
        lo = hi

    want = liquidity_panel(spark.createDataFrame(
        rows, "stream long, line_no long, last long, volume long"
    )).collect()[0]
    assert last_emit is not None
    for c in ["n_ticks", "n_moves", "n_pairs", "amihud_sum_pm"]:
        assert last_emit[c] == want[c], c
    for c in ["roll_cov", "roll_spread", "amihud_mean_pm", f"vr{VR_Q}"]:
        g = last_emit[c]
        g = None if pd.isna(g) else float(g)
        assert g == want[c], c


def test_wilder_rsi_stream_equals_batch_completed_bars(spark, tmp_path):
    """Finalized streaming Wilder-RSI bars equal the batch operator
    (operators.stateful.wilder_rsi) for every COMPLETED bar, with a
    bar deliberately split across two micro-batches (in-progress bar
    + Wilder averages carried in GroupState); the trailing partial bar
    is withheld."""
    import json
    import os

    from tickdatapipeline_spark.streaming.stateful import wilder_rsi_stream

    BAR = 2
    # 35 ticks -> 17 complete bars (0..16) + 1 partial; RSI emits from
    # bar 14 on (14 trailing moves). Batch boundary at tick 21 splits
    # bar 10 across micro-batches.
    prices = [100 + ((i * 7) % 13) - 6 + (3 if i % 5 == 0 else 0)
              for i in range(35)]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for bi, sl in enumerate([slice(0, 21), slice(21, 35)]):
        p = in_dir / f"b{bi}.json"
        with open(p, "w") as f:
            for i in range(*sl.indices(35)):
                f.write(json.dumps({"stream": 0, "line_no": i + 1,
                                    "last": prices[i], "volume": 1}) + "\n")
        os.utime(p, (1700000000 + bi, 1700000000 + bi))

    raw = (
        spark.readStream.schema("stream long, line_no long, last long, volume long")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    q = (
        wilder_rsi_stream(raw, bar_size=BAR)
        .writeStream.format("memory").queryName("wilder_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {(r.stream, r.bar_id): (r.avg_gain, r.avg_loss, r.rsi_wilder)
           for r in spark.table("wilder_stream").collect()}

    # batch operator over the COMPLETE bars' closes
    from tickdatapipeline_spark.operators.stateful import wilder_rsi

    closes = [(0, b, prices[b * BAR + BAR - 1])
              for b in range(35 // BAR)]
    bars = spark.createDataFrame(closes, "stream long, bar_id long, close long")
    want = {(r.stream, r.bar_id): (r.avg_gain, r.avg_loss, r.rsi_wilder)
            for r in wilder_rsi(bars).collect()}
    assert got == want  # bit-identical, shared stepper
    assert got  # RSI actually emitted (>= 15 complete bars)
    assert min(b for _, b in got) == 14  # first emit = W-th move's bar


@pytest.mark.heavy
def test_wilder_rsi_stream_restart_keeps_state(spark, tmp_path):
    """The Wilder GroupState (in-progress bar + smoothing averages)
    survives a query restart from the checkpoint: a bar completing in
    the SECOND query instance emits an RSI that depends on the seed
    averages the FIRST instance accumulated, and equals the one-shot
    batch answer."""
    import json
    import os

    from tickdatapipeline_spark.streaming.stateful import run_wilder_rsi_stream

    BAR = 2
    prices = [100 + ((i * 11) % 17) - 8 for i in range(32)]
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write(fname, lo, hi, i):
        p = in_dir / fname
        with open(p, "w") as f:
            for j in range(lo, hi):
                f.write(json.dumps({"stream": 0, "line_no": j + 1,
                                    "last": prices[j], "volume": 1}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    def run_once():
        q = run_wilder_rsi_stream(
            spark, str(in_dir), str(tmp_path / "out"),
            str(tmp_path / "ckpt"), bar_size=BAR)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # instance 1: 30 ticks = bars 0..14 complete -> seed RSI at bar 14
    write("b0.json", 0, 30, 0)
    run_once()
    # instance 2: 2 more ticks -> bar 15 completes; its RSI needs the
    # carried averages
    write("b1.json", 30, 32, 1)
    run_once()

    got = {r.bar_id: (r.avg_gain, r.avg_loss, r.rsi_wilder)
           for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert set(got) == {14, 15}

    from tickdatapipeline_spark.operators.stateful import wilder_rsi

    bars = spark.createDataFrame(
        [(0, b, prices[b * BAR + BAR - 1]) for b in range(16)],
        "stream long, bar_id long, close long")
    want = {r.bar_id: (r.avg_gain, r.avg_loss, r.rsi_wilder)
            for r in wilder_rsi(bars).collect()}
    assert got == want


@pytest.mark.heavy
def test_vwap_bars_stream_equals_batch_completed_bars(spark, tmp_path):
    """Finalized streaming VWAP bars equal the per-stream form of the
    batch operator (operators.bars.vwap_bars) for every COMPLETED bar,
    with a bar split across two micro-batches; the trailing partial
    bar is withheld."""
    import json
    import os

    from tickdatapipeline_spark.streaming.stateful import vwap_bars_stream

    BAR = 3
    rows = [(0, i + 1, 100 + (i * 5) % 11, 1 + i % 4) for i in range(8)]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for bi, sl in enumerate([rows[:4], rows[4:]]):  # bar 1 split
        p = in_dir / f"b{bi}.json"
        with open(p, "w") as f:
            for st, ln, last, vol in sl:
                f.write(json.dumps({"stream": st, "line_no": ln,
                                    "last": last, "volume": vol}) + "\n")
        os.utime(p, (1700000000 + bi, 1700000000 + bi))

    raw = (
        spark.readStream.schema("stream long, line_no long, last long, volume long")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    q = (
        vwap_bars_stream(raw, bar_size=BAR)
        .writeStream.format("memory").queryName("vwap_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {(r.stream, r.bar_id): (r.n_ticks, r.bar_volume, r.pv, r.low,
                                  r.high, r.vwap)
           for r in spark.table("vwap_stream").collect()}

    from tickdatapipeline_spark.operators.bars import vwap_bars

    batch = vwap_bars(
        spark.createDataFrame(
            [(ln, last, vol) for _, ln, last, vol in rows[:6]],  # complete bars
            "line_no long, last long, volume long"),
        bar_size=BAR)
    want = {(0, r.bar_id): (r.n_ticks, r.bar_volume, r.pv, r.low, r.high,
                            r.vwap)
            for r in batch.collect()}
    assert got == want  # bars 0 and 1 only; partial bar 2 withheld
    assert set(b for _, b in got) == {0, 1}


def test_vwap_bars_stream_restart_keeps_state(spark, tmp_path):
    """The in-progress bar's VWAP accumulators (volume, pv, low, high)
    survive a query restart: a bar completing in the SECOND query
    instance equals the one-shot batch answer."""
    import json
    import os

    from tickdatapipeline_spark.streaming.stateful import run_vwap_bars_stream

    BAR = 3
    rows = [(0, i + 1, 100 + i, 2) for i in range(6)]
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write(fname, sl, i):
        p = in_dir / fname
        with open(p, "w") as f:
            for st, ln, last, vol in sl:
                f.write(json.dumps({"stream": st, "line_no": ln,
                                    "last": last, "volume": vol}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    def run_once():
        q = run_vwap_bars_stream(
            spark, str(in_dir), str(tmp_path / "out"),
            str(tmp_path / "ckpt"), bar_size=BAR)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write("b0.json", rows[:5], 0)  # bar 0 complete; bar 1 mid-flight
    run_once()
    write("b1.json", rows[5:], 1)  # bar 1 completes post-restart
    run_once()

    got = {r.bar_id: (r.bar_volume, r.pv, r.vwap)
           for r in spark.read.parquet(str(tmp_path / "out")).collect()}

    from tickdatapipeline_spark.operators.bars import vwap_bars

    want = {r.bar_id: (r.bar_volume, r.pv, r.vwap)
            for r in vwap_bars(
                spark.createDataFrame(
                    [(ln, last, vol) for _, ln, last, vol in rows],
                    "line_no long, last long, volume long"),
                bar_size=BAR).collect()}
    assert got == want
    assert set(got) == {0, 1}


def test_bollinger_stream_equals_batch_completed_bars(spark, tmp_path):
    """Finalized streaming Bollinger bars equal the batch operator
    (plans.market.bollinger_flags) for every COMPLETED bar — including
    the NULL-flag warmup bars before the window fills — with a bar
    split across two micro-batches (in-progress bar + trailing-closes
    ring buffer carried in GroupState); the trailing partial bar is
    withheld."""
    import json
    import os

    from tickdatapipeline_spark.streaming.stateful import bollinger_stream

    # k=1: with the current bar INSIDE its own window, max |z| is
    # (W-1)/sqrt(W) = 1.5 at W=4, so k=2 could never break — the small
    # window needs the tighter band for the break asserts to bite
    # (deployment W=20 gives max |z| 4.25, where k=2 works)
    BAR, W, K = 2, 4, 1
    # 23 ticks -> 11 complete bars + 1 partial; spikes at ticks 9/15
    # force at least one upper break once the 4-bar window is full
    prices = [100 + ((i * 7) % 13) - 6 + (40 if i in (9, 15) else 0)
              for i in range(23)]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for bi, sl in enumerate([slice(0, 13), slice(13, 23)]):  # bar 6 split
        p = in_dir / f"b{bi}.json"
        with open(p, "w") as f:
            for i in range(*sl.indices(23)):
                f.write(json.dumps({"stream": 0, "line_no": i + 1,
                                    "last": prices[i]}) + "\n")
        os.utime(p, (1700000000 + bi, 1700000000 + bi))

    raw = (
        spark.readStream.schema("stream long, line_no long, last long")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    q = (
        bollinger_stream(raw, bar_size=BAR, w_bars=W, k=K)
        .writeStream.format("memory").queryName("boll_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {(r.stream, r.bar_id): (r.close, r.win_sum, r.upper_break,
                                  r.lower_break)
           for r in spark.table("boll_stream").collect()}

    from tickdatapipeline_spark.plans.market import bollinger_flags

    closes = [(0, b, prices[b * BAR + BAR - 1]) for b in range(23 // BAR)]
    bars = spark.createDataFrame(closes, "stream long, bar_id long, close long")
    want = {(r.stream, r.bar_id): (r.close, r.win_sum, r.upper_break,
                                   r.lower_break)
            for r in bollinger_flags(bars, w_bars=W, k=K).collect()}
    assert got == want  # bit-identical, all-integer algebra
    assert len(got) == 11  # every complete bar emitted, partial withheld
    # warmup bars carry NULL flags; the spike bars actually break
    assert got[(0, 0)][2] is None
    assert any(v[2] == 1 for v in got.values())


@pytest.mark.heavy
def test_bollinger_stream_restart_keeps_state(spark, tmp_path):
    """The trailing-closes ring buffer and in-progress bar survive a
    query restart from the checkpoint: a bar completing in the SECOND
    query instance evaluates its band over closes the FIRST instance
    buffered, and equals the one-shot batch answer."""
    import json
    import os

    from tickdatapipeline_spark.streaming.stateful import run_bollinger_stream

    BAR, W, K = 2, 3, 1  # k=1 — see the max-|z| note in the test above
    prices = [100, 101, 99, 100, 105, 104, 100, 160, 101, 100]
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write(fname, sl, i):
        p = in_dir / fname
        with open(p, "w") as f:
            for j in range(*sl.indices(len(prices))):
                f.write(json.dumps({"stream": 0, "line_no": j + 1,
                                    "last": prices[j]}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    def run_once():
        q = run_bollinger_stream(
            spark, str(in_dir), str(tmp_path / "out"),
            str(tmp_path / "ckpt"), bar_size=BAR, w_bars=W, k=K)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write("b0.json", slice(0, 7), 0)  # bars 0-2 complete; bar 3 mid-flight
    run_once()
    write("b1.json", slice(7, 10), 1)  # spike bar 3 completes post-restart
    run_once()

    got = {r.bar_id: (r.close, r.win_sum, r.upper_break, r.lower_break)
           for r in spark.read.parquet(str(tmp_path / "out")).collect()}

    from tickdatapipeline_spark.plans.market import bollinger_flags

    closes = [(0, b, prices[b * BAR + BAR - 1])
              for b in range(len(prices) // BAR)]
    want = {r.bar_id: (r.close, r.win_sum, r.upper_break, r.lower_break)
            for r in bollinger_flags(
                spark.createDataFrame(
                    closes, "stream long, bar_id long, close long"),
                w_bars=W, k=K).collect()}
    assert got == want
    assert got[3][2] == 1  # the post-restart spike bar breaks upper


@pytest.mark.heavy
def test_kyle_lambda_stream_equals_batch(spark, tmp_path):
    """The cumulative streaming Kyle's-lambda panel equals the batch
    operator (plans.market.kyle_lambda) over the full prefix — same
    integer five-sum algebra, same tick-rule carry (zero-ticks inherit
    the last non-zero sign ACROSS the micro-batch boundary)."""
    import json
    import os

    from tickdatapipeline_spark.streaming.stateful import kyle_lambda_stream

    # two streams; stream 0 places a zero-tick run right at the batch
    # seam so the carry must come out of GroupState
    rows = [
        (0, 1, 100, 2), (0, 2, 103, 1), (0, 3, 103, 4),  # up, zero
        (1, 1, 50, 5), (1, 2, 48, 2),                    # down
        (0, 4, 103, 2), (0, 5, 101, 3), (0, 6, 104, 1),  # zero, down, up
        (1, 3, 48, 3), (1, 4, 52, 1),                    # zero, up
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for bi, sl in enumerate([rows[:5], rows[5:]]):
        p = in_dir / f"b{bi}.json"
        with open(p, "w") as f:
            for st, ln, last, vol in sl:
                f.write(json.dumps({"stream": st, "line_no": ln,
                                    "last": last, "volume": vol}) + "\n")
        os.utime(p, (1700000000 + bi, 1700000000 + bi))

    raw = (
        spark.readStream.schema("stream long, line_no long, last long, volume long")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    q = (
        kyle_lambda_stream(raw)
        .writeStream.format("memory").queryName("kyle_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # latest (cumulative) row per stream
    got = {}
    for r in spark.table("kyle_stream").collect():
        if r.stream not in got or r.n_obs > got[r.stream].n_obs:
            got[r.stream] = r

    from tickdatapipeline_spark.plans.market import kyle_lambda

    want = {r.stream: r for r in kyle_lambda(
        spark.createDataFrame(
            rows, "stream long, line_no long, last long, volume long")
    ).collect()}
    assert set(got) == set(want) == {0, 1}
    for s in got:
        g, w = got[s], want[s]
        assert (g.n_obs, g.sx, g.sy, g.sxy, g.sxx) == \
               (w.n_obs, w.sx, w.sy, w.sxy, w.sxx)
        assert g.kyle_lambda == w.kyle_lambda
        assert g.impact_corr == w.impact_corr


@pytest.mark.heavy
def test_kyle_lambda_stream_restart_keeps_state(spark, tmp_path):
    """The tick-rule carry and five sums survive a restart: the
    post-restart cumulative panel equals the one-shot batch answer."""
    import json
    import os

    from tickdatapipeline_spark.streaming.stateful import (
        run_kyle_lambda_stream)

    rows = [(0, i + 1, p, 1 + i % 3) for i, p in
            enumerate([100, 102, 102, 99, 99, 105])]
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write(fname, sl, i):
        p = in_dir / fname
        with open(p, "w") as f:
            for st, ln, last, vol in sl:
                f.write(json.dumps({"stream": st, "line_no": ln,
                                    "last": last, "volume": vol}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    def run_once():
        q = run_kyle_lambda_stream(
            spark, str(in_dir), str(tmp_path / "out"),
            str(tmp_path / "ckpt"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write("b0.json", rows[:3], 0)  # ends on a zero-tick (carry = +1)
    run_once()
    write("b1.json", rows[3:], 1)
    run_once()

    out = spark.read.parquet(str(tmp_path / "out")).collect()
    latest = max(out, key=lambda r: r.n_obs)

    from tickdatapipeline_spark.plans.market import kyle_lambda

    want = kyle_lambda(spark.createDataFrame(
        rows, "stream long, line_no long, last long, volume long")).first()
    assert (latest.n_obs, latest.sx, latest.sy, latest.sxy, latest.sxx) == \
           (want.n_obs, want.sx, want.sy, want.sxy, want.sxx)
    assert latest.kyle_lambda == want.kyle_lambda


@pytest.mark.heavy
def test_bollinger_stream_deployment_params_fires_real_breaks(spark, tmp_path):
    """Deployment parameters W=20/k=2 (BOLLINGER_W/BOLLINGER_K) through
    the durable runner, on a fixture LONG enough to fire real breaks —
    the r12 coverage gap: the earlier stream tests use k=1 because at
    small W the current bar inside its own window caps |z| at
    (W-1)/sqrt(W), so a 2-sigma band could never break there. At W=20
    the cap is 4.25 sigmas; a spike bar and (a window later) a crash
    bar must fire a real UPPER and a real LOWER break through the
    streaming path, bit-equal to the batch operator, across a restart
    placed mid-warmup."""
    import json
    import os

    from tickdatapipeline_spark.plans.market import (
        BOLLINGER_K, BOLLINGER_W, bollinger_flags)
    from tickdatapipeline_spark.streaming.stateful import run_bollinger_stream

    BAR, W, K = 2, BOLLINGER_W, BOLLINGER_K
    assert (W, K) == (20, 2)  # the deployment defaults this test exists for
    n_bars = 50
    # gently varying base tape; bar 25 closes at a spike, bar 46 (a full
    # window after the spike left the band window) closes at a crash
    prices = []
    for b in range(n_bars):
        close = 100 + (b % 3)
        if b == 25:
            close = 200
        if b == 46:
            close = 20
        prices += [100 + (b % 2), close]  # 2 ticks per bar; last = close
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write(fname, sl, i):
        p = in_dir / fname
        with open(p, "w") as f:
            for j in range(*sl.indices(len(prices))):
                f.write(json.dumps({"stream": 0, "line_no": j + 1,
                                    "last": prices[j]}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    def run_once():
        q = run_bollinger_stream(
            spark, str(in_dir), str(tmp_path / "out"),
            str(tmp_path / "ckpt"), bar_size=BAR, w_bars=W, k=K)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write("b0.json", slice(0, 31), 0)   # restart mid-warmup, bar 15 split
    run_once()
    write("b1.json", slice(31, 75), 1)  # through the spike bar
    run_once()
    write("b2.json", slice(75, 100), 2)  # through the crash bar
    run_once()

    got = {r.bar_id: (r.close, r.win_sum, r.upper_break, r.lower_break)
           for r in spark.read.parquet(str(tmp_path / "out")).collect()}

    closes = [(0, b, prices[b * BAR + BAR - 1]) for b in range(n_bars)]
    want = {r.bar_id: (r.close, r.win_sum, r.upper_break, r.lower_break)
            for r in bollinger_flags(
                spark.createDataFrame(
                    closes, "stream long, bar_id long, close long"),
                w_bars=W, k=K).collect()}
    assert got == want  # bit-identical at the deployment parameters
    assert len(got) == n_bars
    # the gap this test closes: REAL breaks at k=2, both sides, and
    # warmup bars (window not yet full) still NULL
    assert got[25][2] == 1 and got[25][3] == 0   # spike: upper break
    assert got[46][3] == 1 and got[46][2] == 0   # crash: lower break
    assert got[0][2] is None and got[18][2] is None
    # quiet bars between the events do NOT break
    assert all(got[b][2] == 0 and got[b][3] == 0
               for b in range(19, 25)) and got[30][2] == 0


@pytest.mark.heavy
def test_kyle_lambda_stream_trending_tape_nonzero_lambda(spark, tmp_path):
    """A TRENDING tape (the r12 degenerate battery covered the flat
    tape only): buys on rising prices with varied volumes produce a
    strictly positive lambda, preserved across a restart mid-trend —
    the cumulative panel after the second query instance equals the
    one-shot batch answer and its lambda is > 0."""
    import json
    import os

    from tickdatapipeline_spark.plans.market import kyle_lambda
    from tickdatapipeline_spark.streaming.stateful import (
        run_kyle_lambda_stream)

    # bigger prints move the price more (dy = 3*volume - 1), so signed
    # flow and price change co-vary POSITIVELY — slope ~3.13 — with one
    # zero-tick mid-trend exercising the sign carry (a volume pattern
    # uncorrelated with the moves can flip the OLS slope negative even
    # on a rising tape; Kyle's lambda prices IMPACT, not drift)
    tape = [(100, 1), (105, 2), (107, 1), (115, 3), (117, 1), (117, 2),
            (128, 4), (133, 2), (141, 3), (143, 1), (148, 2), (159, 4),
            (167, 3)]
    rows = [(0, i + 1, p, v) for i, (p, v) in enumerate(tape)]
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write(fname, sl, i):
        p = in_dir / fname
        with open(p, "w") as f:
            for st, ln, last, vol in sl:
                f.write(json.dumps({"stream": st, "line_no": ln,
                                    "last": last, "volume": vol}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    def run_once():
        q = run_kyle_lambda_stream(
            spark, str(in_dir), str(tmp_path / "out"),
            str(tmp_path / "ckpt"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write("b0.json", rows[:4], 0)   # restart right after a zero-tick
    run_once()
    write("b1.json", rows[4:], 1)
    run_once()

    out = spark.read.parquet(str(tmp_path / "out")).collect()
    latest = max(out, key=lambda r: r.n_obs)
    want = kyle_lambda(spark.createDataFrame(
        rows, "stream long, line_no long, last long, volume long")).first()
    assert (latest.n_obs, latest.sx, latest.sy, latest.sxy, latest.sxx) == \
           (want.n_obs, want.sx, want.sy, want.sxy, want.sxx)
    assert latest.kyle_lambda == want.kyle_lambda
    assert latest.kyle_lambda is not None and latest.kyle_lambda > 0
    assert latest.impact_corr == want.impact_corr
    assert latest.impact_corr is not None and latest.impact_corr > 0
