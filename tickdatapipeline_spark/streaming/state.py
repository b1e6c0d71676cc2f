"""Micro-batch continuation state for the streaming tick pipeline.

The reference pushes one mutable state struct per stream down a Channel
(/root/reference/src/TickHotLoopF32.jl:53-83). In Spark Structured
Streaming the natural unit is the micro-batch, and because every piece
of hot-loop and bar state is a prefix aggregate (SURVEY.md §2.3), a
batch can be processed EXACTLY given a small seed of prefix totals per
stream — and the next seed is the value of the operators' running
columns on each stream's last row.

Per-key state is the general case: ``advance_streams`` and
``advance_bars_streams`` process one micro-batch holding any number of
streams, keyed by a column, and return the next {key: seed} map. A
single stream is the one-key case — ``advance`` and ``advance_bars`` tag
the batch's ``KEY`` column with the constant ``ONE_KEY`` and unwrap its
seed; the cached frames they return keep that column.
Streaming output over any batch split is bit-identical to the batch
plan over the concatenated input (tested in tests/test_streaming.py).

Scale: state is O(1) per stream (a dozen scalars). A seed is the offset
each running quantity starts from, read in-plan by a literal map lookup
on the stream key (operators/globalorder.seed_columns): no seed table,
join or broadcast. The lookup costs time linear in the map's size, so
the runner passes only the batch's streams, bounded by the batch's
files like its file -> key map. Each stage reads its next seeds with ONE
action, a grouped aggregate collecting O(streams) rows, however many
streams or files the batch carries; no growing state store, no
shuffling of history.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tickdatapipeline_spark import constants as C
from tickdatapipeline_spark.config import SignalProcessingConfig
from tickdatapipeline_spark.operators.expansion import expand_volume
from tickdatapipeline_spark.operators.hotloop import HotLoopSeed, hot_loop

OUT_COLS = ["tick_idx", "timestamp", "raw_price", "price_delta",
            "sig_re", "sig_im", "normalization", "status_flag"]

KEY = "stream"  # the stream-key column the adapters and the runner add
# the key of a single stream: the one-key adapters below and the
# runner's stream_key=None mode file their state under it
ONE_KEY = ""


def _on_last(key, value, *tiebreak):
    """``value`` on the row with the largest ``key`` (then tiebreaks):
    struct order is lexicographic and puts a null key first."""
    return F.max(F.struct(key.alias("k"), *tiebreak, value.alias("v")))["v"]


@dataclass(frozen=True)
class StreamState:
    """Everything needed to continue the stream in the next batch."""

    tick0: int = 0                 # ticks emitted so far
    prev_last: int | None = None   # last raw price of the previous batch
    hot: HotLoopSeed = HotLoopSeed()


def advance(
    raw_batch: DataFrame,
    cfg: SignalProcessingConfig,
    state: StreamState,
    stats_ticks_per_bar: int = C.STATS_TICKS_PER_BAR,
) -> tuple[DataFrame, StreamState]:
    """One-stream advance_streams: process one ticks_raw micro-batch and
    return (processed, next_state).

    ``processed`` is the CACHED internals frame, so sink writes don't
    recompute the plan: select OUT_COLS for the reference-parity schema
    and unpersist() after writing. Like every keyed frame it carries the
    stream-key column KEY, here the constant ONE_KEY.
    """
    processed, states = advance_streams(
        raw_batch.select("*", F.lit(ONE_KEY).alias(KEY)), cfg, {ONE_KEY: state},
        KEY, stats_ticks_per_bar,
    )
    return processed, states[ONE_KEY]


def advance_bars(ticks_batch: DataFrame, bp, seed):
    """One-stream advance_bars_streams: returns (bars_df, next_BarSeed).
    ``bars_df`` is the cached frame of the bars completing in this batch,
    with the constant KEY column; unpersist() it after writing."""
    bars, seeds = advance_bars_streams(
        ticks_batch.select("*", F.lit(ONE_KEY).alias(KEY)), bp, {ONE_KEY: seed}, KEY,
    )
    return bars, seeds[ONE_KEY]


def advance_bars_streams(
    ticks_batch: DataFrame,
    bp,
    seeds: dict,
    stream_id: str,
):
    """Bar stage for one micro-batch of processed ticks, keyed by
    ``stream_id`` (tick_idx continues per stream).

    ``seeds`` maps stream key -> BarSeed (missing keys = start of
    stream); returns (bars_df, next_seeds): the cached bars completing in
    this batch plus each stream's carried state — unfinished OHLC bar,
    lag average, cumulative high/low sums, latest normalization and the
    FIR price tail. Mirrors the reference's per-stream BarProcessor state
    (reference src/BarProcessor.jl:41-68) without a per-stream driver
    loop. Tick ids are dense per stream, so a stream's last tick fixes
    its bar count and its trailing partial bar (see BarSeed). One action
    collects O(streams) rows: a grouped aggregate of the batch ticks (for
    FIR also their price tail) joined to one of the bars.
    """
    from tickdatapipeline_spark.functions.fir import design_decimation_filter
    from tickdatapipeline_spark.operators.bars import BarSeed, bar_aggregate

    n = bp.ticks_per_bar
    keep = len(design_decimation_filter(n)) - 1 if bp.bar_method == "FIR" else 0
    bars = bar_aggregate(ticks_batch, bp, stream_id=stream_id, seed=seeds).cache()
    bar_id = F.expr(f"(tick_idx - 1) DIV {n}")
    # FIR: the last L-1 prices the next convolutions can reach; slice's
    # start is clamped, since a start before the array's first element
    # gives an empty array and a batch often holds fewer than L-1 ticks
    prices = F.sort_array(F.collect_list(F.struct("tick_idx", "raw_price")))
    tail = F.slice(prices, F.greatest(F.size(prices) - keep + 1, F.lit(1)), keep)
    summary = ticks_batch.groupBy(stream_id).agg(
        F.max("tick_idx").alias("max_tick"),
        # the trailing bar's open, high and low
        _on_last(bar_id, F.col("raw_price"), (-F.col("tick_idx")).alias("t")).alias("open"),
        _on_last(bar_id, F.col("raw_price")).alias("high"),
        (-_on_last(bar_id, -F.col("raw_price"))).alias("low"),
        *([tail.alias("tail")] if keep else []),
    ).join(
        bars.groupBy(stream_id).agg(
            F.sum("bar_high_raw").alias("add_high"),
            F.sum("bar_low_raw").alias("add_low"),
            F.max_by("bar_average_raw", "bar_idx").alias("prev_avg0"),
            F.max_by("bar_normalization", "bar_idx").alias("norm0"),
        ),
        stream_id, "left",
    )

    next_seeds = dict(seeds)  # a stream absent from the batch keeps its seed
    # the one action: it also materializes the bars cache
    for r in summary.collect():
        sk = seeds.get(r[stream_id], BarSeed())
        done, p_cnt = divmod(r["max_tick"], n)
        p_open, p_high, p_low = (r["open"], r["high"], r["low"]) if p_cnt else (None,) * 3
        if p_cnt and done == sk.bars_done0 and sk.partial_cnt0:  # the carried bar is still open
            p_open = sk.partial_open0
            p_high, p_low = max(p_high, sk.partial_high0), min(p_low, sk.partial_low0)
        next_seeds[r[stream_id]] = BarSeed(
            partial_cnt0=p_cnt, partial_open0=p_open, partial_high0=p_high, partial_low0=p_low,
            bars_done0=done,
            prev_avg0=sk.prev_avg0 if r["prev_avg0"] is None else r["prev_avg0"],
            sum_high0=sk.sum_high0 + (r["add_high"] or 0),
            sum_low0=sk.sum_low0 + (r["add_low"] or 0),
            norm0=sk.norm0 if r["norm0"] is None else r["norm0"],
            tail_prices0=(sk.tail_prices0 + tuple(map(tuple, r["tail"])))[-keep:] if keep else (),
        )
    return bars, next_seeds


def advance_streams(
    raw_batch: DataFrame,
    cfg: SignalProcessingConfig,
    states: dict,
    stream_id: str,
    stats_ticks_per_bar: int = C.STATS_TICKS_PER_BAR,
) -> tuple[DataFrame, dict]:
    """Process one ticks_raw micro-batch holding any number of streams,
    keyed by ``stream_id``.

    ``states`` maps stream key -> StreamState (missing keys = start of
    stream); returns (processed, next_states), where ``processed`` is the
    cached internals frame (unpersist() it after writing) and a stream
    absent from the batch keeps its state. Mirrors the reference's
    one-TickHotLoopState-per-stream model without a per-stream driver
    loop: expansion and hot loop run ONCE over the whole batch with
    per-stream seeds looked up in-plan, and the next seeds are the
    running columns of each stream's last (core) row, read by one
    grouped aggregate collecting O(streams) rows (see HotLoopSeed).
    """
    n = stats_ticks_per_bar
    expanded = expand_volume(
        raw_batch, stream_id, seeds={k: (st.prev_last, st.tick0) for k, st in states.items()})
    processed = hot_loop(
        expanded, cfg, stream_id=stream_id, stats_ticks_per_bar=n, keep_internals=True,
        seed={k: st.hot for k, st in states.items()}).cache()

    def last_core(c):
        return F.max_by(c, F.when(F.col("is_core"), F.col("tick_idx")))

    last_row = {  # HotLoopSeed field -> its value on the stream's last (core) row
        "n_valid0": F.max("n_valid_upto"),
        "core_seq0": F.max("core_seq"),
        "sum_bmin0": last_core("sum_bmin_upto"),
        "sum_bmax0": last_core("sum_bmax_upto"),
        # the last core row's stats bar (bar_ord is null off core rows)
        "partial_min0": -_on_last(F.col("bar_ord"), -F.col("bar_dmin")),
        "partial_max0": _on_last(F.col("bar_ord"), F.col("bar_dmax")),
        "inv_q16_0": last_core("inv_q16"),
        "last_core_ratio0": last_core("ratio"),
    }
    scale = 2.0 * float(cfg.cpm_modulation_index) * 2.0**31
    # the one action: it also materializes the cache
    rows = processed.groupBy(stream_id).agg(
        F.max("tick_idx").alias("tick0"),
        F.max_by("raw_price", "tick_idx").alias("prev_last"),
        F.sum(F.bround(F.col("ratio") * F.lit(scale), 0).cast("long")).alias("dp"),
        # zero rows (no valid tick yet) are the rows no encoder sees
        F.count(F.when(F.col("n_valid_upto") > 0, 1)).alias("invoked"),
        *[c.alias(f) for f, c in last_row.items()],
    ).collect()

    next_states = dict(states)  # a stream absent from the batch keeps its state
    for r in rows:
        s = states.get(r[stream_id], StreamState()).hot
        # a column the batch leaves null (no core row, no stats bar
        # completed) keeps the seed's value
        hot = {f: getattr(s, f) if r[f] is None else r[f] for f in last_row}
        p_cnt = hot["core_seq0"] % n
        if not p_cnt:
            hot["partial_min0"] = hot["partial_max0"] = None
        next_states[r[stream_id]] = StreamState(
            tick0=r["tick0"], prev_last=r["prev_last"],
            hot=HotLoopSeed(
                **hot, partial_cnt0=p_cnt,
                cpm_theta0=(s.cpm_theta0 + r["dp"]) % C.Q32_MOD,
                amc_n0=s.amc_n0 + r["invoked"],
            ),
        )
    return processed, next_states
