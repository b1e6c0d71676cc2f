"""Bar-processing golden tests (exact OHLC state after each bar,
invariants, enrichment nulls) — reference test style
(/root/reference/test/test_barprocessor.jl:89-252)."""

from __future__ import annotations

import pytest

from tests.conftest import make_ticks_raw
from tickdatapipeline_spark.config import BarProcessingConfig, SignalProcessingConfig
from tickdatapipeline_spark.operators.bars import bar_aggregate, enrich_ticks_with_bars
from tickdatapipeline_spark.operators.expansion import expand_volume
from tickdatapipeline_spark.operators.hotloop import hot_loop

TS = "20250319 120000 0000000"


def processed(spark, prices):
    raw = make_ticks_raw(spark, [(i + 1, TS, p, 1) for i, p in enumerate(prices)])
    return hot_loop(expand_volume(raw), SignalProcessingConfig(encoder_type="derivative"))


@pytest.mark.heavy
def test_ohlc_exact_and_partial_bar_dropped(spark):
    prices = [41970, 41975, 41968, 41972,   # bar 1
              41980, 41960, 41990, 41985,   # bar 2
              41999]                        # partial -> dropped
    bp = BarProcessingConfig(enabled=True, ticks_per_bar=4, bar_method="boxcar",
                             normalization_window_bars=2)
    bars = bar_aggregate(processed(spark, prices), bp).orderBy("bar_idx").collect()
    assert len(bars) == 2
    b1, b2 = bars
    assert (b1.bar_open_raw, b1.bar_high_raw, b1.bar_low_raw, b1.bar_close_raw) == (41970, 41975, 41968, 41972)
    assert (b2.bar_open_raw, b2.bar_high_raw, b2.bar_low_raw, b2.bar_close_raw) == (41980, 41990, 41960, 41985)
    # boxcar avg = round((H+L+C)/3)
    assert b1.bar_average_raw == round((41975 + 41968 + 41972) / 3)
    assert b2.bar_average_raw == round((41990 + 41960 + 41985) / 3)
    assert b1.end_tick_idx == 4 and b2.end_tick_idx == 8
    # first bar delta is 0; second is avg2 - avg1 (within clip bounds)
    assert b1.bar_price_delta == 0
    assert b2.bar_price_delta == b2.bar_average_raw - b1.bar_average_raw
    # norm recomputed at bar 2 (k % 2 == 0): avg high - avg low through bar 2
    exp_norm = max((41975 + 41990) / 2 - (41968 + 41960) / 2, 1.0)
    assert b1.bar_normalization == 1.0  # preload until first recompute
    assert b2.bar_normalization == pytest.approx(exp_norm)


@pytest.mark.heavy
def test_bar_invariants_on_walk(spark):
    prices = [41970 + ((i * 7) % 23) - 11 for i in range(64)]
    bp = BarProcessingConfig(enabled=True, ticks_per_bar=8, bar_method="boxcar",
                             normalization_window_bars=4)
    bars = bar_aggregate(processed(spark, prices), bp).collect()
    assert len(bars) == 8
    for b in bars:
        assert b.bar_high_raw >= b.bar_low_raw
        assert b.bar_high_raw >= b.bar_open_raw and b.bar_high_raw >= b.bar_close_raw
        assert b.bar_low_raw <= b.bar_open_raw and b.bar_low_raw <= b.bar_close_raw
        assert b.bar_ticks == 8


@pytest.mark.heavy
def test_fir_bar_average_matches_reference_convolution(spark):
    import math

    from tickdatapipeline_spark.functions.fir import design_decimation_filter
    from tickdatapipeline_spark.operators.bars import FIR_Q

    n = 4
    prices = [41970 + ((i * 5) % 17) - 8 for i in range(12)]
    bp = BarProcessingConfig(enabled=True, ticks_per_bar=n, bar_method="FIR",
                             normalization_window_bars=4)
    bars = bar_aggregate(processed(spark, prices), bp).orderBy("bar_idx").collect()
    taps = design_decimation_filter(n)
    taps_q = [round(c * FIR_Q) for c in taps]
    for b in bars:
        end = b.end_tick_idx  # 1-based; tap i pairs with price[end - i]
        acc = sum(
            taps_q[i] * prices[end - 1 - i] for i in range(len(taps)) if end - 1 - i >= 0
        )
        expected = math.floor(acc / FIR_Q + 0.5)
        assert b.bar_average_raw == expected
        # Q33 quantization stays within 1 tick of the float convolution
        float_conv = sum(
            taps[i] * prices[end - 1 - i] for i in range(len(taps)) if end - 1 - i >= 0
        )
        assert abs(expected - float_conv) <= 1.0


@pytest.mark.heavy
def test_enrichment_nulls_except_completing_tick(spark):
    prices = [41970, 41975, 41968, 41972, 41980, 41960, 41990, 41985]
    bp = BarProcessingConfig(enabled=True, ticks_per_bar=4, bar_method="boxcar",
                             normalization_window_bars=2)
    ticks = processed(spark, prices)
    bars = bar_aggregate(ticks, bp)
    enriched = enrich_ticks_with_bars(ticks, bars).orderBy("tick_idx").collect()
    assert len(enriched) == 8
    for r in enriched:
        if r.tick_idx in (4, 8):
            assert r.bar_idx == r.tick_idx // 4
            assert r.bar_close_raw is not None
        else:
            assert r.bar_idx is None and r.bar_close_raw is None


@pytest.mark.parametrize("method,tpb", [("boxcar", 5), ("FIR", 4)])
@pytest.mark.heavy
def test_chunked_bars_equal_windowed(spark, method, tpb):
    """Two-pass chunked bar_aggregate must be bit-identical to the
    windowed plan across many chunk boundaries, both averaging methods."""
    prices = [41970 + (i * 7) % 23 - 11 for i in range(120)]
    bp = BarProcessingConfig(enabled=True, ticks_per_bar=tpb, bar_method=method,
                             normalization_window_bars=3)
    ticks = processed(spark, prices)
    win = bar_aggregate(ticks, bp).orderBy("bar_idx").toPandas()
    # chunk_size is in ticks; tpb*2 -> 2-bar chunks, many boundaries
    chk = bar_aggregate(ticks, bp, chunk_size=tpb * 2).orderBy("bar_idx")
    chk = chk.select(list(win.columns)).toPandas()
    assert win.equals(chk)


@pytest.mark.heavy
def test_chunked_bars_plan_has_no_single_partition(spark):
    """End-to-end bars query in at-scale mode: ticks chain AND bar
    frame both two-pass -> zero SinglePartition exchanges anywhere."""
    from tickdatapipeline_spark.plans.common import (
        BP_BOX,
        pipeline_bars,
        set_ticks_cache,
        set_two_pass_threshold,
    )

    set_ticks_cache(False)
    set_two_pass_threshold(0)
    try:
        df = pipeline_bars(spark, "/root/testdata/sf0.001", BP_BOX)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan
        assert df.count() > 0
    finally:
        set_two_pass_threshold(None)
        set_ticks_cache(True)


@pytest.mark.parametrize("method,tpb", [("boxcar", 5), ("FIR", 4)])
@pytest.mark.heavy
def test_multistream_chunked_bars_equal_windowed(spark, method, tpb):
    """Per-stream chunked bar aggregation (windows keyed by
    (stream, chunk), per-stream offsets) must be BIT-identical to the
    per-stream windowed plan — unequal stream lengths, normalization
    recalcs crossing chunk boundaries, both bar methods. Seeded too:
    continuing each stream from advance_streams'/advance_bars_streams'
    seeds over its first lines, both plans equal the unsplit batch
    plan's tail, with chunk boundaries falling inside the seeded span."""
    from tickdatapipeline_spark.config import BarProcessingConfig, SignalProcessingConfig
    from tickdatapipeline_spark.operators.bars import bar_aggregate
    from tickdatapipeline_spark.operators.expansion import expand_volume
    from tickdatapipeline_spark.operators.hotloop import hot_loop
    from tickdatapipeline_spark.streaming.state import (
        OUT_COLS,
        advance_bars_streams,
        advance_streams,
    )

    rows = []
    for s, n in (("A", 53), ("B", 31)):
        price = 41970 + ord(s)
        for i in range(n):
            price += (i * 7) % 11 - 5
            rows.append((s, i + 1, "20250319 120000 0000000",
                         price - 1, price + 1, price, 1 + i % 3))
    raw = spark.createDataFrame(
        rows,
        "stream string, line_no long, ts_str string, bid long, ask long, "
        "last long, volume long",
    )
    cfg = SignalProcessingConfig(encoder_type="derivative")
    bp = BarProcessingConfig(enabled=True, ticks_per_bar=tpb, bar_method=method,
                             normalization_window_bars=2)

    def plan(df, states=None, bar_states=None, chunk_size=None):
        ticks = hot_loop(
            expand_volume(df, stream_id="stream", chunk_size=chunk_size,
                          seeds=states and {k: (st.prev_last, st.tick0) for k, st in states.items()}),
            cfg, stream_id="stream", stats_ticks_per_bar=8, chunk_size=chunk_size,
            seed=states and {k: st.hot for k, st in states.items()},
        )
        bars = bar_aggregate(ticks, bp, stream_id="stream", seed=bar_states,
                             chunk_size=chunk_size)
        return bars.orderBy("stream", "bar_idx").toPandas()

    a = plan(raw)
    assert len(a) >= 10 and a.equals(plan(raw, chunk_size=9)[list(a.columns)])
    head, states = advance_streams(raw.where("line_no <= 7"), cfg, {}, "stream",
                                   stats_ticks_per_bar=8)
    head_bars, bar_states = advance_bars_streams(head.select("stream", *OUT_COLS), bp, {},
                                                 "stream")
    head_bars.unpersist()
    head.unpersist()
    rest = raw.where("line_no > 7")
    tail = a[a.bar_idx > a.stream.map(lambda k: bar_states[k].bars_done0)].reset_index(drop=True)
    assert len(tail) >= 8 and all(s.partial_cnt0 for s in bar_states.values())
    assert plan(rest, states, bar_states).equals(tail)
    assert plan(rest, states, bar_states, chunk_size=9).equals(tail)


def test_vwap_bars_golden(spark):
    """Two bars of size 2: weights must matter (a 3-lot print pulls
    vwap three times as hard), pv/bar_volume exact ints, vwap rnd'd."""
    from tests.conftest import make_ticks_raw
    from tickdatapipeline_spark.operators.bars import vwap_bars

    raw = make_ticks_raw(spark, [
        (1, "20250319 000000 0000000", 100, 1),
        (2, "20250319 000001 0000000", 104, 3),
        (3, "20250319 000002 0000000", 200, 2),
        (4, "20250319 000003 0000000", 210, 2),
    ])
    rows = {r.bar_id: r for r in vwap_bars(raw, 2).collect()}
    b0, b1 = rows[0], rows[1]
    assert (b0.n_ticks, b0.bar_volume, b0.pv, b0.low, b0.high) == (2, 4, 412, 100, 104)
    assert b0.vwap == 103.0  # (100*1 + 104*3)/4
    assert (b1.bar_volume, b1.pv) == (4, 820)
    assert b1.vwap == 205.0
