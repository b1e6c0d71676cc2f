"""Micro-batch continuation state for the streaming tick pipeline.

The reference pushes one mutable state struct per stream down a Channel
(/root/reference/src/TickHotLoopF32.jl:53-83). In Spark Structured
Streaming the natural unit is the micro-batch, and because every piece
of hot-loop state is a prefix aggregate (SURVEY.md §2.3), a batch can be
processed EXACTLY given a small seed of prefix totals per stream.

Per-key state is the general case: ``advance_streams`` and
``advance_bars_streams`` process one micro-batch holding any number of
streams, keyed by a column, and return the next {key: seed} map. A
single stream is the one-key case — ``advance`` and ``advance_bars`` tag
the batch's ``KEY`` column with the constant ``ONE_KEY`` and unwrap its
seed; the cached frames they return keep that column.
Streaming output over any batch split is bit-identical to the batch
plan over the concatenated input (tested in tests/test_streaming.py).

Scale: state is O(1) per stream (a dozen scalars). Seeds ride broadcast
joins keyed by stream. Every extraction is a grouped aggregation
collecting O(streams) rows: a constant number of Spark jobs per batch,
however many streams or files it carries; no growing state store, no
shuffling of history.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
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
        raw_batch.withColumn(KEY, F.lit(ONE_KEY)), cfg, {ONE_KEY: state},
        KEY, stats_ticks_per_bar,
    )
    return processed, states[ONE_KEY]


def advance_bars(ticks_batch: DataFrame, bp, seed):
    """One-stream advance_bars_streams: returns (bars_df, next_BarSeed).
    ``bars_df`` is the cached frame of the bars completing in this batch,
    with the constant KEY column; unpersist() it after writing."""
    bars, seeds = advance_bars_streams(
        ticks_batch.withColumn(KEY, F.lit(ONE_KEY)), bp, {ONE_KEY: seed}, KEY,
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
    (reference src/BarProcessor.jl:41-68) without a per-stream
    driver loop: every extraction below is ONE grouped aggregation
    collecting O(streams) rows — the shape that holds when a micro-batch
    carries thousands of streams.
    """
    from tickdatapipeline_spark.functions.fir import design_decimation_filter
    from tickdatapipeline_spark.operators.bars import BarSeed, bar_aggregate

    n = bp.ticks_per_bar
    bars = bar_aggregate(ticks_batch, bp, stream_id=stream_id, seed=seeds).cache()
    stats = {
        r[stream_id]: r
        for r in bars.groupBy(stream_id).agg(
            F.sum("bar_high_raw").alias("add_high"),
            F.sum("bar_low_raw").alias("add_low"),
            F.max_by("bar_average_raw", "bar_idx").alias("last_avg"),
            F.max_by("bar_normalization", "bar_idx").alias("last_norm"),
            F.max("bar_idx").alias("max_bar_idx"),
        ).collect()
    }
    bars_done = {k: seeds[k].bars_done0 for k in seeds}
    bars_done.update({k: int(st["max_bar_idx"]) for k, st in stats.items()})

    # trailing partial OHLC bar per stream: one grouped agg over the ticks
    # of each stream's last bar in the batch. Bar ids are dense, so that
    # bar is unfinished iff its id equals the stream's bars_done. Every
    # stream of the batch has a last bar, which is how a new stream's key
    # is discovered without its own job; with no seed and no completed
    # bar its bars_done is 0, as in BarSeed().
    bar_id = F.expr(f"(tick_idx - 1) DIV {n}")
    last_bar = {
        r[stream_id]: r
        for r in (
            ticks_batch.withColumn("_bar_id", bar_id)
            .withColumn("_last_id", F.max("_bar_id").over(Window.partitionBy(stream_id)))
            .where(F.col("_bar_id") == F.col("_last_id"))
            .groupBy(stream_id)
            .agg(
                F.max("_bar_id").alias("bar_id"),
                F.count(F.lit(1)).alias("cnt"),
                F.min_by("raw_price", "tick_idx").alias("first_price"),
                F.max("raw_price").alias("high"),
                F.min("raw_price").alias("low"),
            )
            .collect()
        )
    }
    for k in last_bar:
        bars_done.setdefault(k, 0)
    part_rows = {k: r for k, r in last_bar.items() if r["bar_id"] == bars_done[k]}
    keys = set(bars_done)

    tails: dict = {k: () for k in keys}
    if bp.bar_method == "FIR":
        L = len(design_decimation_filter(n))
        w = Window.partitionBy(stream_id).orderBy(F.col("tick_idx").desc())
        tail_rows = (
            ticks_batch.select(stream_id, "tick_idx", "raw_price")
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= L - 1)
            .collect()
        )
        by_key: dict = {}
        for r in tail_rows:
            by_key.setdefault(r[stream_id], {})[int(r["tick_idx"])] = int(r["raw_price"])
        for k in keys:
            merged = by_key.get(k, {})
            for t_idx, price in seeds.get(k, BarSeed()).tail_prices0:
                merged.setdefault(t_idx, price)
            tails[k] = tuple(sorted(merged.items())[-(L - 1):])

    next_seeds: dict = {}
    for k in keys:
        sk = seeds.get(k, BarSeed())
        st = stats.get(k)
        pr = part_rows.get(k)
        p_cnt = int(pr["cnt"]) if pr is not None else 0
        if bars_done[k] == sk.bars_done0 and sk.partial_cnt0 > 0:
            p_open = sk.partial_open0
            p_high = sk.partial_high0 if p_cnt == 0 else max(int(pr["high"]), sk.partial_high0)
            p_low = sk.partial_low0 if p_cnt == 0 else min(int(pr["low"]), sk.partial_low0)
            p_cnt += sk.partial_cnt0
        elif p_cnt > 0:
            p_open = int(pr["first_price"])
            p_high = int(pr["high"])
            p_low = int(pr["low"])
        else:
            p_open = p_high = p_low = None
        next_seeds[k] = BarSeed(
            partial_cnt0=p_cnt,
            partial_open0=p_open,
            partial_high0=p_high,
            partial_low0=p_low,
            bars_done0=bars_done[k],
            prev_avg0=(
                int(st["last_avg"]) if st is not None and st["last_avg"] is not None
                else sk.prev_avg0
            ),
            sum_high0=sk.sum_high0 + (int(st["add_high"] or 0) if st is not None else 0),
            sum_low0=sk.sum_low0 + (int(st["add_low"] or 0) if st is not None else 0),
            norm0=(
                float(st["last_norm"]) if st is not None and st["last_norm"] is not None
                else sk.norm0
            ),
            tail_prices0=tails[k],
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
    per-stream seeds broadcast-joined in, and every state extraction is
    a grouped aggregation collecting O(streams) rows — a constant number
    of Spark jobs per batch no matter how many streams it carries.
    """
    n = stats_ticks_per_bar
    expanded = expand_volume(
        raw_batch, stream_id, seeds={k: (st.prev_last, st.tick0) for k, st in states.items()}
    )
    processed = hot_loop(
        expanded, cfg, stream_id=stream_id, stats_ticks_per_bar=n, keep_internals=True,
        seed={k: st.hot for k, st in states.items()},
    ).cache()

    scale = 2.0 * float(cfg.cpm_modulation_index) * 2.0**31
    # the first action: materializes the cache while it aggregates
    top = {
        r[stream_id]: r
        for r in processed.groupBy(stream_id).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max("tick_idx").alias("max_tick"),
            F.max_by("raw_price", "tick_idx").alias("last_price"),
            F.sum(F.when(F.col("is_valid"), 1).otherwise(0)).alias("valid_b"),
            F.max("core_seq").alias("core_total"),
            F.min(F.when(F.col("is_valid"), F.col("tick_idx"))).alias("first_valid_tick"),
            F.max_by(F.col("ratio"), F.when(F.col("is_core"), F.col("tick_idx"))).alias("last_core_ratio"),
            F.max_by(F.col("inv_q16"), F.when(F.col("is_core"), F.col("tick_idx"))).alias("last_inv"),
            F.sum(
                F.when(F.col("is_core"), F.bround(F.col("ratio") * F.lit(scale), 0).cast("long")).otherwise(F.lit(0))
            ).alias("dp_sum"),
        ).collect()
    }
    if not top:  # empty batch: every stream keeps its state
        processed.unpersist()
        return processed, dict(states)
    keys = set(states) | set(top)
    seed_of = {k: states.get(k, StreamState()) for k in keys}
    core_total = {
        k: (int(top[k]["core_total"]) if k in top and top[k]["core_total"] is not None
            else seed_of[k].hot.core_seq0)
        for k in keys
    }

    # stats-bar bookkeeping, one grouped agg over each stream's stats
    # bars (min/max/count of core deltas): the sums over the bars this
    # batch completes alone, plus its first and last bar. The carried
    # partial bar can only continue as the first, and the next partial
    # bar can only be the last.
    stats_bar = F.struct("bar_ord", "bmin", "bmax", "cnt")
    brow = {
        r[stream_id]: r
        for r in processed.where(F.col("is_core"))
        .groupBy(stream_id, "bar_ord")
        .agg(F.min("delta_w").alias("bmin"), F.max("delta_w").alias("bmax"),
             F.count(F.lit(1)).alias("cnt"))
        .groupBy(stream_id)
        .agg(
            F.sum(F.when(F.col("cnt") == n, F.col("bmin"))).alias("add_bmin"),
            F.sum(F.when(F.col("cnt") == n, F.col("bmax"))).alias("add_bmax"),
            F.min_by(stats_bar, "bar_ord").alias("first"),
            F.max_by(stats_bar, "bar_ord").alias("last"),
        ).collect()
    }

    next_states: dict = {}
    for k in keys:
        st = seed_of[k]
        s = st.hot
        if k not in top:  # stream idle this batch: unchanged
            next_states[k] = st
            continue
        t, b = top[k], brow.get(k)
        nr = int(t["n_rows"])
        # zero rows (invalid before any valid ever) only exist while no
        # valid tick has been seen; they advance no encoder
        if s.n_valid0 > 0:
            zero_b = 0
        elif t["first_valid_tick"] is None:
            zero_b = nr
        else:
            zero_b = int(t["first_valid_tick"]) - st.tick0 - 1
        sum_bmin, sum_bmax, bar_of = s.sum_bmin0, s.sum_bmax0, {}
        if b is not None:
            sum_bmin += int(b["add_bmin"] or 0)
            sum_bmax += int(b["add_bmax"] or 0)
            bar_of = {e["bar_ord"]: (e["bmin"], e["bmax"], e["cnt"])
                      for e in (b["first"], b["last"])}
        if s.partial_cnt0 > 0:  # merge the carried bar into its remainder
            pb = s.core_seq0 // n
            lo, hi, cnt = bar_of.get(pb, (s.partial_min0, s.partial_max0, 0))
            bar_of[pb] = (min(lo, s.partial_min0), max(hi, s.partial_max0), cnt + s.partial_cnt0)
            if bar_of[pb][2] == n:
                sum_bmin += bar_of[pb][0]
                sum_bmax += bar_of[pb][1]
        npo = core_total[k] // n if core_total[k] % n != 0 else None
        p_min, p_max, p_cnt = bar_of.get(npo, (None, None, 0))
        next_hot = HotLoopSeed(
            n_valid0=s.n_valid0 + int(t["valid_b"] or 0),
            core_seq0=core_total[k],
            sum_bmin0=sum_bmin,
            sum_bmax0=sum_bmax,
            partial_cnt0=p_cnt,
            partial_min0=p_min,
            partial_max0=p_max,
            inv_q16_0=int(t["last_inv"]) if t["last_inv"] is not None else s.inv_q16_0,
            cpm_theta0=(s.cpm_theta0 + int(t["dp_sum"] or 0)) % C.Q32_MOD,
            amc_n0=s.amc_n0 + (nr - zero_b),
            last_core_ratio0=(
                float(t["last_core_ratio"]) if t["last_core_ratio"] is not None
                else s.last_core_ratio0
            ),
        )
        next_states[k] = StreamState(
            tick0=int(t["max_tick"]), prev_last=int(t["last_price"]), hot=next_hot
        )
    return processed, next_states
