"""Bar processing: count-based tumbling OHLC bars + bar-level signal chain.

B1-B7 of SURVEY.md §2.5 (/root/reference/src/BarProcessor.jl:134-358):

- bars are *count*-based tumbling windows over the tick stream:
  bar_id = (tick_idx-1) DIV ticks_per_bar; only full bars complete
  (BarProcessor.jl:177-202);
- OHLC per bar, bar average by boxcar round((H+L+C)/3) (:239-245) or a
  trailing FIR convolution of the last len(taps) raw prices at the
  completing tick (:170-174, :345-358; zeros before stream start, exactly
  like the reference's zero-initialised circular buffer);
- cumulative normalization recomputed every `normalization_window_bars`
  bars from running sums of highs/lows (:247-270), preload 1.0;
- bar delta jump-guard + winsorize with FLAG_CLIPPED (:279-291);
- derivative encoding with the reference's quirk preserved: the imaginary
  component uses the UNclipped average delta, and the first bar's
  "velocity" is avg_raw/norm because prev_normalized=0 (:297-310);
- pass-through enrichment: bar columns land only on the completing tick,
  all other ticks keep nulls (:134-161) — a broadcast left join.

Scale: one grouped pass over the ticks builds every bar. Each tick is
scattered to the bar ends it reaches (boxcar: its own; FIR: the ~L/N
ends its price reaches through the L taps) and ONE map-side-combinable
groupBy(end_tick_idx) yields OHLC, tick count and the FIR sum together —
no join between OHLC and FIR averages, and evenly distributed by
construction (every bar has exactly N own rows — no skew). A seed's FIR
price tail is a driver-computed offset read by a literal map lookup, not
a table. The bars table is ~N x smaller than ticks; all bar windows run
on it.
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tickdatapipeline_spark import constants as C
from tickdatapipeline_spark.config import BarProcessingConfig
from tickdatapipeline_spark.functions.fir import design_decimation_filter
from tickdatapipeline_spark.operators.globalorder import (
    GO_CHUNK,
    add_chunk,
    chunk_offsets_plan,
    fixed_repartition,
    pin,
    running_last,
    running_sum,
    seed_columns,
)


@dataclass(frozen=True)
class BarSeed:
    """Bar-stage prefix state carried across streaming micro-batches.

    Like HotLoopSeed, every stateful bar quantity is a prefix aggregate
    plus one bounded buffer: the unfinished OHLC bar, the lag value for
    bar deltas, cumulative high/low sums for normalization epochs, and
    (FIR only) the trailing raw prices that the next completion's
    convolution can still reach. streaming/state.py reads the next seed
    from each stream's last tick and last bar; the comments name the
    column each field comes from (tick ids are dense per stream, so the
    last tick_idx fixes the bar count). The trailing bar's open/high/low
    merge with the carried bar's only while that bar is still open.
    Defaults = start of stream.
    """

    partial_cnt0: int = 0          # ticks in the unfinished bar: last tick_idx % n
    partial_open0: int | None = None  # its raw_price at the lowest tick_idx
    partial_high0: int | None = None  # its max raw_price
    partial_low0: int | None = None   # its min raw_price
    bars_done0: int = 0            # completed bars so far: last tick_idx DIV n
    prev_avg0: int | None = None   # last bar's bar_average_raw
    sum_high0: int = 0             # cumulative bar-high sum: seed + sum of bar_high_raw
    sum_low0: int = 0              # cumulative bar-low sum: seed + sum of bar_low_raw
    norm0: float = 1.0             # latest recomputed normalization: last bar's bar_normalization
    # (tick_idx, raw_price) of the last L-1 ticks; bar_aggregate adds
    # their convolution terms as an in-plan offset (_fir_tail_offset)
    tail_prices0: tuple[tuple[int, int], ...] = field(default=())


# Q33 fixed-point tap quantization for the FIR convolution. Products
# raw_price (<2^17) x tap_q (<2^31) x 1087 terms stay < 2^62: no overflow.
# Integer sums are order-independent, so the convolution is an ordinary
# map-side-combinable SUM — exact across engines AND shuffle-friendly,
# unlike an ordered float fold. Quantization error ~2^-33 per tap is far
# below the reference's own Float32 resolution (2^-24); divergence
# documented in the module docstring.
FIR_Q = 2**33


# FIR scatter chunking (r15): ends-chunk width as a multiple of the tap
# count L. The pre-explode exchange replicates each tick into the end-
# chunks it touches — span L over chunk width k*L is 1 + 1/k replicas —
# so k=4 caps the duplication at 1.25x of the NARROW tick rows while
# keeping #chunks = ticks/(4L) large enough to spread any stream over
# the cluster (sf0.1: ~69 chunks; 100 TB: millions — hash-partitioned).
_FIR_CHUNK_TAPS = 4


def _fir_tail_offset(seed: "dict | None", stream_id: "str | None", taps_q: np.ndarray,
                     n: int) -> "Column | None":
    """The carried price tails' convolution terms as an in-plan offset.

    A BarSeed's tail_prices0 are the last L-1 (tick_idx, raw_price)
    before the batch; at each later bar end e they still reach, they
    add sum(raw_price * taps_q[e - tick_idx]) to the Q33 sum. Those
    terms are computed here on the driver with numpy integer math and
    read by one literal map lookup on (stream, end), like
    globalorder.seed_columns reads a seed: no tail table, union or join.
    Exact: each product is below 2^48 and each sum below 2^59, and
    integer addition is order-independent, so the offset plus the
    batch's scatter sum equals one scatter over tail and batch. None
    when no seed carries a tail.
    """
    L = len(taps_q)
    per_stream = []
    for k, sk in (seed or {}).items():
        if not sk.tail_prices0:
            continue
        t, p = np.array(sk.tail_prices0, dtype=np.int64).T
        # the ends after the tail (earlier bars are done) it still reaches
        ends = np.arange((t.max() // n + 1) * n, t.max() + L, n)
        off = ends[:, None] - t  # >= 1: the tap index of each term
        terms = np.where(off < L, p * taps_q[np.minimum(off, L - 1)], 0).sum(axis=1)
        per_stream += [F.lit(k), F.map_from_arrays(F.lit(ends), F.lit(terms))]
    if not per_stream:
        return None
    return F.coalesce(F.create_map(*per_stream)[F.col(stream_id)][F.col("end_tick_idx")], F.lit(0))


def bar_aggregate(
    ticks: DataFrame,
    cfg: BarProcessingConfig,
    stream_id: str | None = None,
    seed: "dict | None" = None,
    chunk_size: int | None = None,
) -> DataFrame:
    """Tick stream -> one row per completed bar.

    Input needs (tick_idx, raw_price, timestamp [, stream_id]).
    Output: bar_idx (1-based), OHLC, bar_average_raw, bar_price_delta,
    bar_sig_re, bar_sig_im, bar_normalization, bar_flags, bar_ticks,
    bar_volume, bar_end_timestamp, end_tick_idx. ``seed`` continues from
    a prior micro-batch: with ``stream_id``, a {stream_key: BarSeed}
    mapping read in-plan by a literal lookup on the stream key
    (globalorder.seed_columns), mirroring the reference's per-stream
    BarProcessor state (reference src/BarProcessor.jl:41-68); a single
    stream is the one-key map. None == start of every stream (the seeds
    are then literals).

    ``chunk_size`` (measured in TICKS like hot_loop's, seeded or not):
    two-pass chunked global order over the bar frame — the bar stream
    is ticks/n rows but still unbounded for a single 100 TB stream, so
    B4's cumulative H/L sums, the norm carry-forward and B5's
    prev-average lag each become chunk-local prefixes plus in-plan
    broadcast offsets (operators/globalorder.py) plus the seed. Zero
    SinglePartition exchanges; bit-identical to the windowed plan
    (tests/test_bars.py).
    """
    if not cfg.enabled:
        raise ValueError("bar processing disabled in config")
    part = [stream_id] if stream_id else []
    n = cfg.ticks_per_bar
    use_chunks = chunk_size is not None
    fir = cfg.bar_method == "FIR"
    sd = seed_columns(seed, stream_id, BarSeed(),
                      [f.name for f in fields(BarSeed) if f.name != "tail_prices0"])

    def go(col: str) -> "str | None":
        """A running quantity's chunk-offset column: chunked plans only."""
        return col if use_chunks else None

    # ---- stage 1: one scatter, one grouped aggregate (the reference's
    # per-tick step updates the open bar's OHLC and pushes the price into
    # the FIR buffer at once, BarProcessor.jl:134-202, :345-358). Each
    # tick goes to the bar ends it reaches, keyed by end_tick_idx: its
    # own bar's end and, for FIR, every later multiple of n its price
    # still reaches through the L taps. DIV, not double '/'+cast: exact
    # for any tick_idx (the double quotient is only floor-exact below 2^53)
    t, e = F.col("tick_idx"), F.col("_e")
    own_end = F.expr(f"((tick_idx + {n - 1}) DIV {n}) * {n}")
    cols = [*part, "tick_idx", "raw_price", "timestamp"]
    if fir:
        taps_q = np.array([round(c * FIR_Q) for c in design_decimation_filter(n)], dtype=np.int64)
        L = len(taps_q)
        # the filter is ~50n taps, so a tick's own end is its first end
        last_end = t + F.lit(L - 1)
        src = ticks
        if use_chunks:
            # chunked scatter: the ~L/n explode inherits the input's
            # partitioning, so one giant stream would run it on one core.
            # Each narrow tick row goes first to the 1-2 end-chunks its
            # span touches, repartitioned on (stream, chunk) with an
            # explicit, AQE-coalesce-exempt count, then explodes to its
            # in-chunk ends; each (part, end) group lives in one chunk,
            # so the map-side combiner still collapses the blow-up.
            # Below the two-pass cutover the serial scatter is faster.
            width = _FIR_CHUNK_TAPS * L
            chunk_seq = F.sequence(*(F.call_function("div", x, F.lit(width)) for x in (own_end, last_end)))
            src = fixed_repartition(ticks.select(*cols, F.explode(chunk_seq).alias("_fc")),
                                    part + ["_fc"])
            lo = F.greatest(own_end, F.expr(f"((_fc * {width} + {n - 1}) DIV {n}) * {n}"))
            hi = F.least(last_end, F.col("_fc") * F.lit(width) + F.lit(width - 1))
            ends = F.when(lo <= hi, F.sequence(lo, hi, F.lit(n)))
        else:
            ends = F.sequence(own_end, last_end, F.lit(n))
        scattered = src.select(*cols, F.explode(ends).alias("_e"))
        # out(end) = round(sum_i taps[i] * price[end - i]): absent rows
        # are the zeros before stream start, as in the reference's
        # zero-initialised circular buffer
        fir_sum = [F.sum(F.col("raw_price") * F.element_at(F.lit(taps_q), (e - t + 1).cast("int")))
                   .alias("_fir_q")]
    else:
        scattered, fir_sum = ticks.select(*cols, own_end.alias("_e")), []
    own, price = e - t < n, F.col("raw_price")
    bars = scattered.groupBy(*part, e.alias("end_tick_idx")).agg(
        F.max(F.when(e - t == n - 1, price)).alias("bar_open_raw"),
        F.max(F.when(own, price)).alias("bar_high_raw"),
        F.min(F.when(own, price)).alias("bar_low_raw"),
        F.max(F.when(e == t, price)).alias("bar_close_raw"),
        F.max(F.when(e == t, F.col("timestamp"))).alias("bar_end_timestamp"),
        F.count(F.when(own, t)).alias("_cnt"),
        *fir_sum,
    )

    # merge the carried unfinished OHLC bar into its batch remainder; the
    # partial trailing bar never completes, nor does an end only later
    # ticks' FIR terms reach
    bar_id = F.expr(f"end_tick_idx DIV {n} - 1")
    is_pb = (sd["partial_cnt0"] > 0) & (bar_id == sd["bars_done0"])
    high = F.when(is_pb, F.greatest("bar_high_raw", sd["partial_high0"])).otherwise(F.col("bar_high_raw"))
    low = F.when(is_pb, F.least("bar_low_raw", sd["partial_low0"])).otherwise(F.col("bar_low_raw"))
    if fir:
        tail = _fir_tail_offset(seed, stream_id, taps_q, n)
        fir_q = F.col("_fir_q") if tail is None else F.col("_fir_q") + tail
        avg = F.floor(fir_q.cast("double") / F.lit(float(FIR_Q)) + F.lit(0.5)).cast("long")
    else:
        # boxcar: Int(round((H+L+C)/3)) (BarProcessor.jl:239-245);
        # (H+L+C)/3 can never be an exact .5 tie for integers, so the
        # HALF_UP round is engine-agnostic
        avg = F.round((high + low + F.col("bar_close_raw")) / F.lit(3.0), 0).cast("long")
    bars = bars.where(
        F.when(is_pb, F.col("_cnt") + sd["partial_cnt0"]).otherwise(F.col("_cnt")) == n
    ).select(
        *part, bar_id.alias("bar_id"),
        F.when(is_pb, sd["partial_open0"]).otherwise(F.col("bar_open_raw")).alias("bar_open_raw"),
        high.alias("bar_high_raw"),
        low.alias("bar_low_raw"),
        "bar_close_raw", "bar_end_timestamp", "end_tick_idx", avg.alias("bar_average_raw"),
    )

    if use_chunks:
        bars = add_chunk(bars, "bar_id", max(chunk_size // n, 1))
        # shared by two offsets subplans and the main plan — pin once
        bars = pin(bars)
        bars_off = chunk_offsets_plan(
            bars,
            sums={"_go_h0": F.col("bar_high_raw"), "_go_l0": F.col("bar_low_raw")},
            keys=part,
        )
        bars = bars.join(F.broadcast(bars_off), on=part + [GO_CHUNK], how="left")
        wb = Window.partitionBy(*part, GO_CHUNK).orderBy("bar_id")
    else:
        wb = Window.partitionBy(*part).orderBy("bar_id")
    wcum = wb.rowsBetween(Window.unboundedPreceding, 0)

    # ---- stage 2, B4: normalization recomputed every W bars from
    # cumulative H/L sums (BarProcessor.jl:247-270). bars_completed k is
    # 1-based; a recompute happens AT bar k when k % W == 0 and uses stats
    # through bar k. Bar ids are dense (ticks are dense; the trailing-
    # partial filter only drops the final bar) and a batch's first bar is
    # bars_done0, so k is the row-local bar_id + 1 — no window needed.
    k = (F.col("bar_id") + 1).cast("long")
    cum_high = running_sum(F.sum("bar_high_raw").over(wcum), go("_go_h0"), sd["sum_high0"]).cast("double")
    cum_low = running_sum(F.sum("bar_low_raw").over(wcum), go("_go_l0"), sd["sum_low0"]).cast("double")
    norm_at_k = F.greatest(cum_high / k.cast("double") - cum_low / k.cast("double"), F.lit(1.0))
    w_recalc = cfg.normalization_window_bars
    # a window cannot read another window's result in the same select:
    # the recompute is this stage's output, carried forward by the next
    bars = bars.select("*", F.when(k % w_recalc == 0, norm_at_k).alias("_norm_recalc"))
    if use_chunks:
        # one more offsets pass for the carry-forward quantities that
        # depend on columns computed above: the last norm recalc and the
        # previous bar's (unclipped) average
        carry_off = chunk_offsets_plan(
            bars,
            carries={
                "_go_nr": (F.col("bar_id"), F.col("_norm_recalc")),
                "_go_pavg": (F.col("bar_id"), F.col("bar_average_raw")),
            },
            keys=part,
        )
        bars = bars.join(F.broadcast(carry_off), on=part + [GO_CHUNK], how="left")

    # ---- stage 3: the carry-forwards — the last recalc, else the carried
    # one, else the preload 1.0 (BarProcessor.jl:126, BarSeed's default),
    # and the previous bar's average; each window runs once and the
    # encoder below reads its column
    bars = bars.select(
        "*",
        running_last(F.last("_norm_recalc", ignorenulls=True).over(wcum), go("_go_nr"), sd["norm0"])
        .alias("bar_normalization"),
        running_last(F.lag("bar_average_raw").over(wb), go("_go_pavg"), sd["prev_avg0"])
        .alias("_prev_avg"),
    )
    norm, prev_avg = F.col("bar_normalization"), F.col("_prev_avg")

    # B5: bar delta = avg_raw - prev avg_raw (UNclipped prev), first bar 0
    # (:272-291); jump guard + winsorize collapse to one clamp.
    raw_delta = F.when(prev_avg.isNull(), F.lit(0)).otherwise(F.col("bar_average_raw") - prev_avg).cast("long")
    eff = min(cfg.max_bar_jump, cfg.winsorize_bar_threshold)
    delta = F.greatest(F.least(raw_delta, F.lit(eff)), F.lit(-eff)).cast("long")

    # B6: derivative encoding (:293-310). Quirk preserved: imaginary part
    # uses unclipped average delta; first bar's prev_normalized is 0.
    sig_re = delta.cast("double") / norm
    prev_normalized = F.when(prev_avg.isNull(), F.lit(0.0)).otherwise(prev_avg.cast("double") / norm)
    cur_normalized = F.col("bar_average_raw").cast("double") / norm
    sig_im = (cur_normalized - prev_normalized) * F.lit(float(cfg.bar_derivative_imag_scale))

    return bars.select(
        *part,
        (F.col("bar_id") + 1).cast("long").alias("bar_idx"),  # 1-based (:313)
        F.lit(n).cast("long").alias("bar_ticks"),
        F.lit(n).cast("long").alias("bar_volume"),  # 1 contract/tick (:315)
        "bar_open_raw",
        "bar_high_raw",
        "bar_low_raw",
        "bar_close_raw",
        "bar_average_raw",
        delta.alias("bar_price_delta"),
        sig_re.alias("bar_sig_re"),
        sig_im.alias("bar_sig_im"),
        "bar_normalization",
        F.when(F.abs(raw_delta) > eff, F.lit(C.FLAG_CLIPPED)).otherwise(F.lit(C.FLAG_OK))
        .cast("long").alias("bar_flags"),
        "bar_end_timestamp",
        "end_tick_idx",
    )


def enrich_ticks_with_bars(
    ticks: DataFrame, bars: DataFrame, stream_id: str | None = None
) -> DataFrame:
    """B7 pass-through enrichment: bar columns only on the completing tick
    (BarProcessor.jl:134-161); everyone else keeps nulls — Spark null
    semantics match the reference's Union{T,Nothing} exactly."""
    # bars usually derives from `ticks` itself, so its join-key columns can
    # carry the SAME attribute ids — column-reference equality/drop would
    # silently bind to the wrong side (drop(bars[stream_id]) removed the
    # ticks-side column, nulling `stream` on non-completing rows). Renaming
    # the bars-side keys breaks the ambiguity outright.
    keys = ([stream_id] if stream_id else []) + ["end_tick_idx"]
    renamed = bars.select(*[F.col(c).alias(f"_b_{c}") if c in keys else c for c in bars.columns])
    cond = ticks["tick_idx"] == renamed["_b_end_tick_idx"]
    if stream_id:
        cond = cond & (ticks[stream_id] == renamed[f"_b_{stream_id}"])
    # no broadcast hint: bars is rows/N — AQE broadcasts when small, and
    # at 100 TB this is a co-partitioned shuffle join per stream
    return ticks.join(renamed, cond, "left").drop(*[f"_b_{c}" for c in keys])


def vwap_bars(raw: DataFrame, bar_size: int) -> DataFrame:
    """Volume-weighted average price per fixed-count bar over a RAW
    (pre-expansion) tick frame — see plans/analytics.bars_vwap_fn for
    rationale vs. the reference's post-expansion bars. ``raw`` needs
    (line_no, last, volume); pv and bar_volume are exact BIGINTs, vwap
    the one rnd-crossed double division. One map-side projection + one
    combinable groupBy."""
    from tickdatapipeline_spark.functions.rounding import rnd

    return (
        raw.select(
            F.expr(f"(line_no - 1) DIV {int(bar_size)}").alias("bar_id"),
            "last",
            "volume",
        )
        .groupBy("bar_id")
        .agg(
            F.count(F.lit(1)).alias("n_ticks"),
            F.sum("volume").alias("bar_volume"),
            F.sum(F.col("last") * F.col("volume")).alias("pv"),
            F.min("last").alias("low"),
            F.max("last").alias("high"),
        )
        .select(
            "bar_id", "n_ticks", "bar_volume", "pv", "low", "high",
            rnd(F.col("pv").cast("double") / F.col("bar_volume").cast("double")).alias("vwap"),
        )
    )
