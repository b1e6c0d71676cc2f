"""Hot-loop state-machine and encoder golden tests.

Mirrors the reference's suites (/root/reference/test/
test_tickhotloopf32.jl:38-48 phase cycle, :80-157 first-tick/hold-last/
flags; test_cpm_encoder_core.jl:66-95 unit magnitude;
test_amc_encoder_core.jl:120-148 |z| == |ratio|) — expected values
derive from this engine's documented contract.
"""

from __future__ import annotations

import math

import pytest

from tests.conftest import make_ticks_raw
from tickdatapipeline_spark import constants as C
from tickdatapipeline_spark.config import SignalProcessingConfig
from tickdatapipeline_spark.operators.expansion import expand_volume
from tickdatapipeline_spark.operators.hotloop import hot_loop

TS = "20250319 120000 0000000"


def run(spark, prices, cfg, **kw):
    raw = make_ticks_raw(spark, [(i + 1, TS, p, 1) for i, p in enumerate(prices)])
    return (
        hot_loop(expand_volume(raw), cfg, keep_internals=True, **kw)
        .orderBy("tick_idx")
        .collect()
    )


@pytest.mark.heavy
def test_first_tick_and_core_flags(spark):
    cfg = SignalProcessingConfig(encoder_type="derivative")
    rows = run(spark, [41970, 41975, 41973], cfg)
    assert rows[0].status_flag == C.FLAG_OK
    assert rows[0].sig_re == 0.0 and rows[0].sig_im == 0.0
    assert rows[0].normalization == 1.0
    assert rows[1].is_core and rows[2].is_core
    assert rows[1].status_flag == C.FLAG_OK


@pytest.mark.heavy
def test_holdlast_on_out_of_range(spark):
    cfg = SignalProcessingConfig(encoder_type="derivative")
    rows = run(spark, [41970, 99999, 41975], cfg)  # price 2 above max_price
    assert rows[1].status_flag == C.FLAG_HOLDLAST
    assert rows[1].sig_re == 0.0 and rows[1].sig_im == 0.0
    assert rows[1].normalization == 1.0
    assert not rows[1].is_core
    # next valid tick proceeds as core
    assert rows[2].is_core


@pytest.mark.heavy
def test_invalid_before_any_valid_is_zero_row(spark):
    cfg = SignalProcessingConfig(encoder_type="amc")
    rows = run(spark, [99999, 41970, 41975], cfg)
    assert rows[0].status_flag == C.FLAG_OK  # zero row, not hold-last
    assert rows[0].sig_re == 0.0 and rows[0].sig_im == 0.0
    # amc encoder NOT invoked for the zero row but IS for first-valid
    assert rows[1].sig_re == 0.0  # ratio 0 on first tick -> zero amplitude


@pytest.mark.heavy
def test_jump_guard_winsorize_clip_and_flag(spark):
    cfg = SignalProcessingConfig(encoder_type="derivative", max_jump=50,
                                 winsorize_delta_threshold=10)
    rows = run(spark, [41970, 41970 + 40, 41970], cfg)
    # delta +40 exceeds the tighter winsorize threshold 10 -> clipped
    assert rows[1].delta_w == 10
    assert rows[1].status_flag == C.FLAG_CLIPPED
    assert rows[2].delta_w == -10


@pytest.mark.heavy
def test_q16_normalization_preload(spark):
    cfg = SignalProcessingConfig(encoder_type="derivative")
    rows = run(spark, [41970, 41972], cfg)
    # before any full stats bar: inv_q16 preload 7559 (65536/8.67 rounded)
    assert rows[1].inv_q16 == C.PRELOAD_INV_NORM_Q16
    assert rows[1].ratio == pytest.approx(2 * 7559 * C.Q16_INV)
    assert rows[1].normalization == pytest.approx(1.0 / (7559 * C.Q16_INV))


@pytest.mark.heavy
def test_hexad16_phase_cycle(spark):
    cfg = SignalProcessingConfig(encoder_type="hexad16")
    prices = [41970 + (i % 3) for i in range(20)]
    rows = run(spark, prices, cfg)
    for r in rows:
        re_l, im_l = C.HEXAD16[(r.tick_idx - 1) % 16]
        assert r.sig_re == pytest.approx(r.ratio * re_l)
        assert r.sig_im == pytest.approx(r.ratio * im_l)


@pytest.mark.heavy
def test_cpm_unit_magnitude(spark):
    cfg = SignalProcessingConfig(encoder_type="cpm", cpm_modulation_index=0.2)
    prices = [41970 + (i % 5) for i in range(12)]
    rows = run(spark, prices, cfg)
    for r in rows:  # all rows valid -> encoder invoked everywhere
        assert math.hypot(r.sig_re, r.sig_im) == pytest.approx(1.0)


@pytest.mark.heavy
def test_cpm_half_ratio_advances_phase_quarter_turn(spark):
    """Reference invariant (test_cpm_encoder_core.jl:124-142 shape): with
    h=0.5, a ratio-0.5 tick advances the Q32 phase by exactly 2^30 —
    i.e. 256 LUT steps = pi/2. Engineered through the real pipeline:
    a stats bar with winsorized-delta span 2 yields norm=2, inv=32768,
    so a +1 delta gives ratio exactly 0.5."""
    n = 4
    cfg = SignalProcessingConfig(encoder_type="cpm", cpm_modulation_index=0.5)
    deltas = [0, 1, -1, 1, -1, 1, 1, 1]  # bar1 = core 1..4 (span 2); then +1s
    prices, p = [], 41970
    for d in deltas:
        p += d
        prices.append(p)
    rows = run(spark, prices, cfg, stats_ticks_per_bar=n)
    # core ticks 5,6,7 are ticks 6,7,8 (rows[5..7]); 5 and 6 have ratio 0.5
    assert rows[5].ratio == 0.5 and rows[6].ratio == 0.5
    a1 = math.atan2(rows[5].sig_im, rows[5].sig_re)
    a2 = math.atan2(rows[6].sig_im, rows[6].sig_re)
    step = (a2 - a1) % (2 * math.pi)
    assert step == pytest.approx(math.pi / 2)


@pytest.mark.heavy
def test_amc_magnitude_equals_abs_ratio(spark):
    cfg = SignalProcessingConfig(encoder_type="amc")
    prices = [41970 + (i % 5) for i in range(12)]
    rows = run(spark, prices, cfg)
    for r in rows:
        assert math.hypot(r.sig_re, r.sig_im) == pytest.approx(abs(r.ratio))


@pytest.mark.heavy
def test_amc_carrier_advances_on_holdlast(spark):
    """Hold-last ticks advance the AMC carrier (TickHotLoopF32.jl:310-313):
    the phase index counts every invoked row (core + hold + first), so the
    tick after a hold sits at carrier position 4, not 3."""
    cfg = SignalProcessingConfig(encoder_type="amc")
    rows = run(spark, [41970, 99999, 41975, 41973], cfg)
    # positions: tick1 first=1, tick2 hold=2, tick3 core=3, tick4 core=4
    for r, pos in [(rows[2], 3), (rows[3], 4)]:
        theta = (pos * C.AMC_CARRIER_INCREMENT_Q32) % C.Q32_MOD
        idx = theta >> C.CPM_INDEX_SHIFT
        ang = idx * C.TWO_PI / C.CPM_LUT_SIZE
        assert r.sig_re == pytest.approx(r.ratio * math.cos(ang))
        assert r.sig_im == pytest.approx(r.ratio * math.sin(ang))
    # hold tick emits at position 2 with ratio 0 -> zero amplitude
    assert rows[1].sig_re == 0.0 and rows[1].sig_im == 0.0


def test_bar_stats_normalization_recompute(spark):
    """After one full stats bar the Q16 norm switches from the preload to
    round(65536 / max(avg_max - avg_min, 1))."""
    n = 8  # small stats bar for the test
    cfg = SignalProcessingConfig(encoder_type="derivative")
    deltas = [0, 2, -3, 4, -1, 2, -2, 3, 1, 2]
    prices, p = [], 41970
    for d in deltas:
        p += d
        prices.append(p)
    rows = run(spark, prices, cfg, stats_ticks_per_bar=n)
    # core ticks are ticks 2..; the 9th core tick is the first past bar 1
    # bar 1 = core ticks 1..8 (ticks 2..9): winsorized deltas 2,-3,4,-1,2,-2,3,1
    norm = max(4.0 - (-3.0), 1.0)
    expected_inv = round(65536.0 / norm)
    last = rows[-1]  # tick 10 = core tick 9 -> uses bar-1 stats
    assert last.inv_q16 == expected_inv
    # and the bar-completing tick itself (core tick 8) already sees it
    assert rows[8].inv_q16 == expected_inv
    # while core tick 7 still uses the preload
    assert rows[7].inv_q16 == C.PRELOAD_INV_NORM_Q16


def test_inv_q16_half_even_tie(spark):
    """Q16 reciprocal rounds half-to-EVEN like Julia round()
    (TickHotLoopF32.jl:397): a stats bar spanning exactly 131072 gives
    65536/131072 = 0.5, which must round DOWN to 0 (HALF_UP would give 1).
    Exact in every engine: 131072 and 0.5 are exact in f32 and f64."""
    cfg = SignalProcessingConfig(
        encoder_type="derivative",
        winsorize_delta_threshold=70000,
        max_jump=70000,
        min_price=1,
        max_price=500000,
    )
    # tick 1 first-valid; core deltas +65536, -65536, +2, -2 fill stats
    # bar 1 (n=4): bmax-bmin = 131072
    prices = [200000, 265536, 200000, 200002, 200000, 200001]
    rows = run(spark, prices, cfg, stats_ticks_per_bar=4)
    assert rows[4].inv_q16 == 0  # bar-completing tick sees the recompute
    assert rows[5].inv_q16 == 0
    assert rows[5].nq16 == 0 and rows[5].ratio == 0.0
    assert round(65536.0 / 131072.0) == 0  # Python round = half-even too


@pytest.mark.heavy
def test_cpm_phase_half_even_tie(spark):
    """CPM phase increment rounds half-to-EVEN like Julia round()
    (TickHotLoopF32.jl:166): at h = 2^-17 the increment is nq16/2, an
    exact .5 tie for odd nq16. nq16 = 3*7559 = 22677 (== 1 mod 4) gives
    11338.5 -> 11338 (HALF_UP would give 11339). theta granularity is far
    below the 10-bit LUT index, hence the keep_internals observable."""
    cfg = SignalProcessingConfig(encoder_type="cpm", cpm_modulation_index=2.0**-17)
    rows = run(spark, [41970, 41973], cfg)
    assert rows[1].nq16 == 22677
    assert rows[1].cpm_theta == 11338
    # streaming seed accumulates dp with the same policy
    from tests.conftest import make_ticks_raw as _mk
    from tickdatapipeline_spark.streaming.state import StreamState, advance

    batch = make_ticks_raw(spark, [(1, TS, 41970, 1), (2, TS, 41973, 1)])
    _, state = advance(batch, cfg, StreamState())
    assert state.hot.cpm_theta0 == 11338


# ---- two-pass chunked global order (operators/globalorder.py) ----


@pytest.mark.parametrize("enc", ["derivative", "hexad16", "cpm", "amc"])
@pytest.mark.heavy
def test_chunked_equals_windowed(spark, enc):
    """The two-pass chunked formulation must be BIT-identical to the
    single-window plan across chunk boundaries, for every encoder, on a
    fixture exercising spikes (hold-last), jumps (clipping) and volume
    expansion. Chunk size 7 forces many boundaries."""
    from tickdatapipeline_spark.sources.tickfile import ticks_from_events

    cfg = SignalProcessingConfig(encoder_type=enc, tick_derivative_imag_scale=2.0,
                                 cpm_modulation_index=0.2)
    sf = "/root/testdata/sf0.001"
    win = hot_loop(expand_volume(ticks_from_events(spark, sf)), cfg,
                   keep_internals=True)
    chk = hot_loop(
        expand_volume(ticks_from_events(spark, sf, chunk_size=7), chunk_size=7),
        cfg, keep_internals=True, chunk_size=7,
    )
    a = win.orderBy("tick_idx").toPandas()
    b = chk.orderBy("tick_idx").select(list(a.columns)).toPandas()
    assert a.equals(b)


@pytest.mark.parametrize("enc", ["derivative", "hexad16", "cpm", "amc"])
@pytest.mark.heavy
def test_multistream_chunked_equals_windowed(spark, enc):
    """Per-stream chunking (windows partitioned by (stream, chunk) with
    per-stream broadcast offsets) must be BIT-identical to the per-stream
    windowed plan — for every encoder, with unequal stream lengths,
    spikes, jumps and awkward chunk boundaries. Seeded too: continuing
    each stream from advance_streams' seeds over its first lines, both
    plans equal the unsplit batch plan's tail, with chunk boundaries
    falling inside the seeded span."""
    from tickdatapipeline_spark.streaming.state import advance_streams

    cfg = SignalProcessingConfig(encoder_type=enc, tick_derivative_imag_scale=2.0,
                                 cpm_modulation_index=0.2)
    rows = []
    for s, n in (("A", 41), ("B", 29), ("C", 7)):
        price = 41970 + ord(s)
        for i in range(n):
            price += (i * 7) % 11 - 5
            if i == 13:
                rows.append((s, i + 1, TS, 99990, 99990, 99999, 1))
                continue
            if i == 21:
                rows.append((s, i + 1, TS, price + 79, price + 81, price + 80, 2))
                continue
            rows.append((s, i + 1, TS, price - 1, price + 1, price, 1 + i % 3))
    raw = spark.createDataFrame(
        rows,
        "stream string, line_no long, ts_str string, bid long, ask long, "
        "last long, volume long",
    )

    def plan(df, states=None, chunk_size=None):
        return hot_loop(
            expand_volume(df, stream_id="stream", chunk_size=chunk_size,
                          seeds=states and {k: (st.prev_last, st.tick0) for k, st in states.items()}),
            cfg, stream_id="stream", stats_ticks_per_bar=8, chunk_size=chunk_size,
            seed=states and {k: st.hot for k, st in states.items()},
        ).orderBy("stream", "tick_idx").toPandas()

    a = plan(raw)
    assert a.equals(plan(raw, chunk_size=9)[list(a.columns)])
    head, states = advance_streams(raw.where("line_no <= 6"), cfg, {}, "stream",
                                   stats_ticks_per_bar=8)
    head.unpersist()
    rest = raw.where("line_no > 6")
    tail = a[a.tick_idx > a.stream.map(lambda k: states[k].tick0)].reset_index(drop=True)
    assert plan(rest, states).equals(tail)
    assert plan(rest, states, chunk_size=9).equals(tail)
