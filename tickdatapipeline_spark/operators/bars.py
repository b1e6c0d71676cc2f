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

Scale: groupBy(bar_id) is an N:1 reduction shuffle on a key derived from
tick_idx; with stream partitioning it is map-side-combinable and evenly
distributed by construction (every bar has exactly N rows — no skew).
The bars table is ~N x smaller than ticks; all bar windows run on it.
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
    tail_prices0: tuple[tuple[int, int], ...] = field(default=())  # (tick_idx, raw_price) of the last L-1 ticks


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


def _fir_averages(
    ticks: DataFrame, part: list[str], taps: tuple[float, ...], step: int,
    chunked: bool = False,
) -> DataFrame:
    """FIR bar averages at bar-end ticks.

    out(end) = round(sum_i taps[i] * price[end - i]) — the reference's
    newest-to-oldest circular-buffer convolution (BarProcessor.jl:345-358)
    with zeros before stream start (absent scatter rows == zero terms).

    Physical shape: SCATTER, not gather — each tick explodes into the
    ~L/step bar-end positions it contributes to (bar ends sit at
    multiples of ``step`` in global tick numbering, so a stepped
    sequence enumerates them directly), then ONE integer-SUM groupBy.
    No join against the tick stream at all. (The previous gather
    formulation exploded completions x L and equi-joined 65 M rows back
    to ticks at sf0.1 — 2 shuffles of the blown-up set.)

    Chunked scatter (``chunked=True``, r15; guide §2.5 input skew /
    §1.2 order-of-operations): the L/step explode is the expensive
    stage (~218 replicas/tick at L=1087, step=5) and it inherits the
    INPUT's partitioning — one giant stream runs it on one core. Each
    tick is first replicated into the 1-2 end-CHUNKS its window spans
    (chunk width = _FIR_CHUNK_TAPS x L, so the duplication is <= 1.25x
    of narrow (tick_idx, price) rows — never the exploded replicas),
    hash-repartitioned on (stream, chunk) with an explicit
    AQE-coalesce-exempt partition count, and only then exploded to its
    in-chunk end positions. Each (part, end) group lives entirely in
    one chunk, so the map-side combiner still collapses the blow-up to
    O(ends) rows before the only full shuffle — identical integer sums
    in any order, bit-identical output.

    ``chunked`` follows the caller's two-pass posture (bar_aggregate
    passes its own use_chunks), the same size-gated split the tick
    chain uses: BELOW the two-pass cutover the fused serial scatter
    wins outright (measured r15 at sf0.1, matched probe_ratio: serial
    1.94 s vs chunked 2.29 s bench entry — the extra narrow exchange
    costs more than one core's explode at fixture sizes), ABOVE it the
    explode is unbounded per partition and must fan out (10x
    spot-check: multi-task FIR stage, see plans/r15).

    Output may contain ends whose bar never completes (trailing partial);
    the caller's inner join against completed bars drops them.
    """
    L = len(taps)
    # one typed literal, not an array of L literal children: the driver
    # analyses a single node however long the filter is
    taps_q = F.lit(np.array([round(c * FIR_Q) for c in taps], dtype=np.int64))
    t = F.col("tick_idx")
    first_end = F.expr(f"((tick_idx + {step - 1}) DIV {step}) * {step}")
    last_end = t + F.lit(L - 1)
    src = ticks
    if chunked:
        C = _FIR_CHUNK_TAPS * L
        # replicate each tick into the end-chunks its [first_end,
        # last_end] span touches (<= 1 + span/C); guard the ascending-
        # sequence contract like _expand_rows does (L < step could make
        # the span empty)
        chunk_seq = F.when(
            first_end <= last_end,
            F.sequence(
                F.expr(
                    f"(((tick_idx + {step - 1}) DIV {step}) * {step}) DIV {C}"),
                F.expr(f"(tick_idx + {L - 1}) DIV {C}"),
            ),
        )
        src = fixed_repartition(
            ticks.select(*part, "tick_idx", "raw_price", F.explode(chunk_seq).alias("_fc")),
            part + ["_fc"],
        )
        # in-chunk end positions: multiples of `step` within
        # [max(first_end, chunk start), min(last_end, chunk end)]
        lo = F.greatest(
            first_end,
            F.expr(f"((_fc * {C} + {step - 1}) DIV {step}) * {step}"),
        )
        hi = F.least(last_end, F.col("_fc") * F.lit(C) + F.lit(C - 1))
        ends = F.when(lo <= hi, F.sequence(lo, hi, F.lit(step)))
    else:
        ends = F.when(
            first_end <= last_end, F.sequence(first_end, last_end, F.lit(step))
        )
    scattered = src.select(*part, "tick_idx", "raw_price", F.explode(ends).alias("_e"))
    tap_q = F.element_at(taps_q, (F.col("_e") - t + 1).cast("int"))
    return (
        scattered.groupBy(*part, F.col("_e").alias("end_tick_idx"))
        .agg(F.sum(F.col("raw_price") * tap_q).alias("_fir_q"))
        .select(
            *part,
            "end_tick_idx",
            F.floor(F.col("_fir_q").cast("double") / F.lit(float(FIR_Q)) + F.lit(0.5))
            .cast("long")
            .alias("bar_average_raw"),
        )
    )


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
    sd = seed_columns(seed, stream_id, BarSeed(),
                      [f.name for f in fields(BarSeed) if f.name != "tail_prices0"])

    def go(col: str) -> "str | None":
        """A running quantity's chunk-offset column: chunked plans only."""
        return col if use_chunks else None

    # ---- stage 1: the OHLC aggregate. DIV, not double '/'+cast: exact
    # for any tick_idx (the double quotient is only floor-exact below 2^53)
    bar_pos = ((F.col("tick_idx") - 1) % n).cast("long")
    bars = ticks.groupBy(*part, F.expr(f"(tick_idx - 1) DIV {n}").alias("bar_id")).agg(
        F.max(F.when(bar_pos == 0, F.col("raw_price"))).alias("bar_open_raw"),
        F.max("raw_price").alias("bar_high_raw"),
        F.min("raw_price").alias("bar_low_raw"),
        F.max(F.when(bar_pos == n - 1, F.col("raw_price"))).alias("bar_close_raw"),
        F.max(F.when(bar_pos == n - 1, F.col("timestamp"))).alias("bar_end_timestamp"),
        F.max(F.when(bar_pos == n - 1, F.col("tick_idx"))).alias("end_tick_idx"),
        F.count(F.lit(1)).alias("_cnt"),
    )

    # merge the carried unfinished OHLC bar into its batch remainder; the
    # partial trailing bar never completes
    is_pb = (sd["partial_cnt0"] > 0) & (F.col("bar_id") == sd["bars_done0"])
    high = F.when(is_pb, F.greatest("bar_high_raw", sd["partial_high0"])).otherwise(F.col("bar_high_raw"))
    low = F.when(is_pb, F.least("bar_low_raw", sd["partial_low0"])).otherwise(F.col("bar_low_raw"))
    # boxcar: Int(round((H+L+C)/3)) (BarProcessor.jl:239-245);
    # (H+L+C)/3 can never be an exact .5 tie for integers, so the
    # HALF_UP round is engine-agnostic. FIR joins its averages below.
    boxcar = [] if cfg.bar_method == "FIR" else [
        F.round((high + low + F.col("bar_close_raw")) / F.lit(3.0), 0).cast("long").alias("bar_average_raw")]
    bars = bars.where(
        F.when(is_pb, F.col("_cnt") + sd["partial_cnt0"]).otherwise(F.col("_cnt")) == n
    ).select(
        *part, "bar_id",
        F.when(is_pb, sd["partial_open0"]).otherwise(F.col("bar_open_raw")).alias("bar_open_raw"),
        high.alias("bar_high_raw"),
        low.alias("bar_low_raw"),
        "bar_close_raw", "bar_end_timestamp", "end_tick_idx", *boxcar,
    )

    if cfg.bar_method == "FIR":
        taps = design_decimation_filter(n)
        fir_src = ticks.select(*part, "tick_idx", "raw_price")
        tail_rows = [
            (k, t_idx, price)
            for k, sk in (seed or {}).items()
            for t_idx, price in sk.tail_prices0
        ]
        if tail_rows:
            key_t = ticks.schema[stream_id].dataType.simpleString()
            tail = ticks.sparkSession.createDataFrame(
                tail_rows, f"{stream_id} {key_t}, tick_idx long, raw_price long"
            )
            fir_src = fir_src.unionByName(tail)
        firs = _fir_averages(fir_src, part, taps, step=n, chunked=use_chunks)
        bars = bars.join(firs, on=part + ["end_tick_idx"])

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
