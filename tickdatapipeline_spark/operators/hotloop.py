"""The tick hot loop as a stateless DataFrame plan.

Re-expresses /root/reference/src/TickHotLoopF32.jl:287-437 (validate ->
hold-last -> jump guard -> winsorize -> 144-tick bar stats -> rolling Q16
normalization -> encoder) with window functions over the ticks — no
join, no per-row state, no UDFs.

Row taxonomy (derived from the reference's early returns):
- ``zero``       invalid price, no prior valid tick (:321-325): signal
                 (0,0), norm 1.0, FLAG_OK; encoders NOT invoked.
- ``holdlast``   invalid price, prior valid tick exists (:305-320):
                 ratio 0, norm 1.0, FLAG_HOLDLAST; CPM/AMC encoders ARE
                 invoked (AMC carrier advances; CPM emits current phase).
- ``first``      first valid tick (:329-343): ratio 0, norm 1.0, FLAG_OK;
                 same encoder treatment as holdlast.
- ``core``       every later valid tick: full chain (:345-436).

Bar statistics count only core ticks (the early returns skip :377-405),
so bar position = running count of core rows. The bar-completing tick
recomputes the cached normalization BEFORE normalizing itself (:384-408),
hence ``bars_done = core_seq DIV 144`` (the 144th core tick of a bar sees
its own bar's stats).

Divergence from the reference (documented, deliberate): all float math is
IEEE double instead of Float32 so the Spark plan and the DuckDB oracle
match bit-for-bit; the reserved EMA/AGC state (:361-375) never affects
output and is exposed separately (see ``ema_columns``).

Stats bars live in the tick frame, as in the reference's per-tick
update: a window over each bar's ticks gives its min/max on the tick
that completes it, and the norm reads running sums of those per-tick
values, so the plan reads its input once.

Scale: `stream_id` partitions every window, so per stream the plan
needs one exchange. The chunked plan (``chunk_size``) partitions by
(stream, chunk) instead; its stats-bar window, keyed by (stream, bar),
adds a full exchange there.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tickdatapipeline_spark import constants as C
from tickdatapipeline_spark.config import SignalProcessingConfig
from tickdatapipeline_spark.operators.globalorder import (
    GO_CHUNK,
    add_chunk,
    chunk_offsets_plan,
    pin,
    running_last,
    running_sum,
    seed_columns,
)


@dataclass(frozen=True)
class HotLoopSeed:
    """Prefix state carried across streaming micro-batches.

    Every stateful quantity in the hot loop is a prefix aggregate, so a
    batch can be processed exactly given these offsets. The next seed is
    the value of hot_loop(keep_internals=True)'s running columns on each
    stream's last row (streaming/state.py reads them with one grouped
    aggregate); the comments name each field's column. Defaults = the
    start-of-stream state, making the batch path a seed of zeros.
    """

    n_valid0: int = 0          # valid ticks seen: n_valid_upto
    core_seq0: int = 0         # core (accepted) ticks seen: core_seq
    sum_bmin0: int = 0         # completed stats bars' min-delta sum: sum_bmin_upto
    sum_bmax0: int = 0         # completed stats bars' max-delta sum: sum_bmax_upto
    partial_cnt0: int = 0      # core ticks in the unfinished stats bar: core_seq % n
    partial_min0: int | None = None  # its min delta: bar_dmin over the last bar_ord
    partial_max0: int | None = None  # its max delta: bar_dmax over the last bar_ord
    inv_q16_0: int = C.PRELOAD_INV_NORM_Q16  # latest cached Q16 reciprocal: inv_q16
    cpm_theta0: int = 0        # CPM phase accumulator mod 2^32: seed + sum of ratio's dp
    amc_n0: int = 0            # AMC carrier position: seed + rows with n_valid_upto > 0
    last_core_ratio0: float = 0.0  # derivative encoder's prev ratio: ratio


def _hexad_expr(ratio: Column, tick_idx: Column) -> tuple[Column, Column]:
    """E1: z = ratio * HEXAD16[(tick_idx-1) & 15] (TickHotLoopF32.jl:122-134).
    Each LUT is one typed array literal."""
    re_lut, im_lut = (F.lit(np.array(lut, dtype=np.float64)) for lut in zip(*C.HEXAD16))
    phase = ((tick_idx - 1) % 16).cast("int") + 1  # 1-based element_at
    return ratio * F.element_at(re_lut, phase), ratio * F.element_at(im_lut, phase)


def _lut_trig(idx: Column) -> tuple[Column, Column]:
    """1024-entry unit-circle LUT entry k -> (cos, sin)(2*pi*k/1024)
    (TickHotLoopF32.jl:36-41)."""
    ang = idx.cast("double") * F.lit(C.TWO_PI / C.CPM_LUT_SIZE)
    return F.cos(ang), F.sin(ang)


def hot_loop(
    expanded: DataFrame,
    cfg: SignalProcessingConfig,
    stream_id: str | None = None,
    stats_ticks_per_bar: int = C.STATS_TICKS_PER_BAR,
    keep_internals: bool = False,
    seed: "dict | None" = None,
    chunk_size: int | None = None,
) -> DataFrame:
    """expanded ticks -> processed ticks.

    Input: (tick_idx, timestamp, raw_price, price_delta [, stream_id]).
    Output: input cols + (sig_re, sig_im, normalization, status_flag)
    [+ internals when keep_internals, among them the running columns
    the next HotLoopSeed is read from]. ``seed`` continues from a prior
    micro-batch (see HotLoopSeed): with ``stream_id``, a {stream_key:
    HotLoopSeed} mapping read in-plan by a literal lookup on the stream
    key (globalorder.seed_columns), mirroring the reference's
    one-TickHotLoopState-per-stream model; a single stream is the
    one-key map. None == start of every stream (the seeds are then
    literals).

    ``chunk_size``: two-pass chunked global order — every running
    quantity becomes a chunk-local window prefix plus a broadcast
    per-chunk offset (operators/globalorder.py) plus the seed, removing
    the SinglePartition exchange. Applies to the single-stream batch
    plan AND, with ``stream_id``, to multistream batches whose
    individual streams are long (windows then partition by (stream,
    chunk)), seeded or not. The cumulative-valid offsets are an in-plan
    broadcast subquery; core_seq then needs NO second pass — it is the
    row-local function valid_cum - 1[a first-valid row seen], because
    exactly one valid row per cold stream is non-core. Bit-identical to
    the windowed plan (pinned by tests).
    """
    use_chunks = chunk_size is not None
    part = [stream_id] if stream_id else []
    if use_chunks:
        expanded = add_chunk(expanded, "tick_idx - 1", chunk_size)
        w = Window.partitionBy(*part, GO_CHUNK).orderBy("tick_idx")
    else:
        w = Window.partitionBy(*part).orderBy("tick_idx")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)

    def go(col: str) -> "str | None":
        """A running quantity's chunk-offset column: chunked plans only."""
        return col if use_chunks else None

    # each running quantity = window prefix [+ chunk offset] + seed; the
    # seed is an in-plan lookup on the stream key (literals unseeded),
    # mirroring the reference's one TickHotLoopState per stream
    hs = seed_columns(seed, stream_id, HotLoopSeed(), [f.name for f in fields(HotLoopSeed)])
    is_valid = F.col("raw_price").between(cfg.min_price, cfg.max_price)
    df = expanded
    if use_chunks and "_go_v0" not in df.columns:
        # not fused upstream (see expand_volume valid_price_range): build
        # the per-chunk valid-count offsets from the expanded rows — one
        # extra full-data groupBy pass + broadcast join; pin the rows so
        # the offsets and the main plan run their lineage once
        df = pin(df)
        valid_offsets = chunk_offsets_plan(
            df, sums={"_go_v0": F.when(is_valid, 1).otherwise(0)}, keys=part,
        )
        df = df.join(F.broadcast(valid_offsets), on=part + [GO_CHUNK], how="left")

    # ---- stage 1: the valid-count window, then the row-local columns it
    # fixes. Spark evaluates a window function once per occurrence in a
    # select, so a window result is read by the next select, never inlined
    # twice.
    df = df.select("*", is_valid.alias("is_valid"), running_sum(
        F.count(F.when(is_valid, 1)).over(wcum), go("_go_v0"), hs["n_valid0"]
    ).alias("n_valid_upto"))
    n_valid_upto = F.col("n_valid_upto")
    # (the 'first' leg of the taxonomy needs no own column: it is the
    # valid-but-not-core row, handled implicitly by is_core/is_hold)
    is_core = F.col("is_valid") & (n_valid_upto >= 2)

    # Jump guard then winsorize collapse to one clamp at the tighter bound
    # (TickHotLoopF32.jl:347-359): clip(clip(d, +-mj), +-wt) == clip(d, +-min(mj, wt))
    eff = min(cfg.max_jump, cfg.winsorize_delta_threshold)
    delta_w = F.when(
        is_core, F.greatest(F.least(F.col("price_delta"), F.lit(eff)), F.lit(-eff)),
    ).cast("long")

    # Bar position over core (accepted) ticks only (:377-381). Row-local,
    # NO second serial window pass: every valid row is core except the
    # single `first` row a cold stream has, so the cumulative core count
    # is the cumulative valid count minus that one row — corrected per
    # row on the seed (n_valid0 varies by stream). Bit-identity with the
    # count-window form is pinned by the windowed==chunked and golden
    # suites; measured r14 (alternating same-session A/B, min of 4): trio
    # total 10.8 -> 9.3 s.
    first_corr = F.when(
        (hs["n_valid0"] == 0) & (n_valid_upto >= 1), F.lit(1)
    ).otherwise(F.lit(0))
    core_seq = n_valid_upto - hs["n_valid0"] - first_corr + hs["core_seq0"]
    n = stats_ticks_per_bar
    bar_ord = F.when(is_core, F.call_function("div", core_seq - 1, F.lit(n)))
    # the carried unfinished stats bar: the one that began before this
    # batch's first core tick (least/greatest skip its NULL min/max)
    is_pb = (hs["partial_cnt0"] > 0) & (bar_ord * n < hs["core_seq0"])
    # a stats bar's n-th core tick completes it and recomputes the cached
    # normalization (:383-405)
    completes = is_core & (core_seq % n == 0)
    bar = Window.partitionBy(*part, bar_ord)

    # ---- stage 2: the row-local bar columns and, on a bar's completing
    # tick, the bar's min/max of winsorized deltas (its ticks in this
    # batch, merged with the carried part); 0 on every other row, so a
    # running sum over the ticks sums the completed bars. The windowed
    # plan's partitioning by stream already clusters (stream, bar_ord),
    # so the bar window adds a sort but no exchange; the chunked plan's
    # (stream, chunk) partitioning does not.
    df = df.select(
        "*",
        is_core.alias("is_core"),
        delta_w.alias("delta_w"),
        core_seq.alias("core_seq"),
        F.when(is_core, F.call_function("div", core_seq, F.lit(n))).alias("bars_done"),
        bar_ord.alias("bar_ord"),
        F.when(completes, F.least(F.min(delta_w).over(bar), F.when(is_pb, hs["partial_min0"])))
        .otherwise(F.lit(0)).alias("_bmin"),
        F.when(completes, F.greatest(F.max(delta_w).over(bar), F.when(is_pb, hs["partial_max0"])))
        .otherwise(F.lit(0)).alias("_bmax"),
    )
    is_hold = (~F.col("is_valid")) & (F.col("n_valid_upto") >= 1)
    is_zero = (~F.col("is_valid")) & (F.col("n_valid_upto") == 0)
    clipped = F.col("is_core") & (F.abs(F.col("price_delta")) > eff)

    if use_chunks:
        # the bar sums' chunk offsets read the frame the main plan reads
        # too — pin it so the bar window's exchange runs once
        df = pin(df)
        bar_offs = chunk_offsets_plan(
            df, sums={"_go_bmin0": F.col("_bmin"), "_go_bmax0": F.col("_bmax")}, keys=part,
        )
        df = df.join(F.broadcast(bar_offs), on=part + [GO_CHUNK], how="left")
    # ---- stage 3: the completed stats bars' running sums (the window
    # select's columns, read by the norm and, with internals, by a
    # continuation seed: HotLoopSeed), NULL until a bar completes in this
    # batch — the seed's inv_q16_0 applies until then
    done_here = F.col("bars_done") > F.call_function("div", hs["core_seq0"], F.lit(n))
    df = df.select(
        "*",
        F.when(done_here, running_sum(F.sum("_bmin").over(wcum), go("_go_bmin0"), hs["sum_bmin0"]))
        .alias("sum_bmin_upto"),
        F.when(done_here, running_sum(F.sum("_bmax").over(wcum), go("_go_bmax0"), hs["sum_bmax0"]))
        .alias("sum_bmax_upto"),
    )
    k = F.col("bars_done").cast("double")
    norm = F.greatest(
        F.col("sum_bmax_upto").cast("double") / k - F.col("sum_bmin_upto").cast("double") / k,
        F.lit(1.0),
    )
    # bround = half-even, matching Julia round() at exact .5 ties
    # (TickHotLoopF32.jl:397 Int32(round(65536f0/norm))); reachable e.g.
    # at norm = 131072 where 0.5 must round DOWN to 0. greatest skips
    # NULLs (NULL sums would read as norm 1), hence the done_here test.
    inv = F.when(
        F.col("is_core"),
        F.coalesce(F.when(done_here, F.bround(F.lit(65536.0) / norm, 0).cast("long")),
                   hs["inv_q16_0"]),
    )
    # ---- stage 4: one select: normalize, flag, encode
    # Q16 fixed-point normalize (:407-414) — exact in double.
    nq16 = F.col("delta_w") * inv
    ratio = F.when(F.col("is_core"), nq16.cast("double") * F.lit(C.Q16_INV)).otherwise(F.lit(0.0))
    # inv_q16 can be 0 (norm >= 131072 rounds the reciprocal to zero);
    # the reference's float division then yields Inf32
    # (TickHotLoopF32.jl:413) — Spark ANSI would throw, so emit inf
    # explicitly.
    norm_out = F.when(
        F.col("is_core"),
        F.when(inv == 0, F.lit(float("inf"))).otherwise(
            F.lit(1.0) / (inv.cast("double") * F.lit(C.Q16_INV))
        ),
    ).otherwise(F.lit(1.0))
    flag = (
        F.when(is_hold, F.lit(C.FLAG_HOLDLAST))
        .when(clipped, F.lit(C.FLAG_CLIPPED))
        .otherwise(F.lit(C.FLAG_OK))
    )

    # ---- encoders (E1-E5, dispatch :416-432) ----
    enc = cfg.encoder_type
    invoked = ~is_zero  # encoders run on every row except `zero` rows
    if use_chunks and enc != "hexad16":
        # the encoder prefix needs one more chunk summary over the
        # normalized frame — pin it so summary + final plan share the
        # stage-3 window and its exchange
        df = pin(df)
    internals = []
    if enc == "derivative":
        # prev ratio over core rows only (:257-282; hold/first rows fall to
        # the hexad16 branch in the reference and do not touch prev state).
        local_prev = F.last(
            F.when(F.col("is_core"), ratio), ignorenulls=True
        ).over(w.rowsBetween(Window.unboundedPreceding, -1))
        if use_chunks:
            # cross-chunk carry: last core ratio of preceding chunks
            off2 = chunk_offsets_plan(
                df,
                carries={"_go_lr": (F.col("tick_idx"), F.when(F.col("is_core"), ratio))},
                keys=part,
            )
            df = df.join(F.broadcast(off2), on=part + [GO_CHUNK], how="left")
        prev = running_last(local_prev, go("_go_lr"), hs["last_core_ratio0"])
        sig_re = F.when(F.col("is_core"), ratio).otherwise(F.lit(0.0))
        sig_im = F.when(
            F.col("is_core"),
            (ratio - prev) * F.lit(float(cfg.tick_derivative_imag_scale)),
        ).otherwise(F.lit(0.0))
    elif enc == "hexad16":
        sig_re, sig_im = _hexad_expr(ratio, F.col("tick_idx"))
    elif enc == "cpm":
        # Phase accumulation is an associative cumulative sum (:160-176):
        # dp = trunc32(round(ratio * 2h * 2^31)); theta = cumsum(dp) mod 2^32.
        # bround = half-even like Julia round(); ties are impossible at
        # h=0.5 (integral product, see the pi/2 golden) but reachable at
        # h values with >16 fractional bits (e.g. h=2^-17).
        scale = 2.0 * float(cfg.cpm_modulation_index) * 2.0**31
        dp = F.when(F.col("is_core"), F.bround(ratio * F.lit(scale), 0).cast("long")).otherwise(F.lit(0))
        if use_chunks:
            # the offsets hierarchy reduces mod 2^32 at EVERY level
            # (per-chunk totals, within-super prefixes, super totals —
            # globalorder.chunk_offsets_plan), so the only un-modded
            # int64 accumulations are the within-chunk sums: bounded by
            # chunk_size x max|dp| (|dp| < 2^35 at config extremes),
            # safe for chunk_size <= 2^27 — which plans/common caps.
            # The chunked form therefore stays exact at stream lengths
            # where a single running int64 sum would overflow.
            off2 = chunk_offsets_plan(
                df, sums={"_go_th0": dp}, mods={"_go_th0": C.Q32_MOD}, keys=part,
            )
            df = df.join(F.broadcast(off2), on=part + [GO_CHUNK], how="left")
        # the phase window runs once: sig_re and sig_im read its column
        df = df.select("*", F.pmod(
            running_sum(F.sum(dp).over(wcum), go("_go_th0"), hs["cpm_theta0"]),
            F.lit(C.Q32_MOD),
        ).alias("cpm_theta"))
        idx = (F.col("cpm_theta") / F.lit(2**C.CPM_INDEX_SHIFT)).cast("long")  # top 10 bits (:173-176)
        lre, lim = _lut_trig(idx)
        sig_re = F.when(invoked, lre).otherwise(F.lit(0.0))
        sig_im = F.when(invoked, lim).otherwise(F.lit(0.0))
        # theta is observable under keep_internals so the half-even tie
        # policy can be pinned by a golden (a +-1 in theta is invisible
        # through the 10-bit LUT index).
        internals = ["cpm_theta"]
    elif enc == "amc":
        # Carrier advances by a constant 2^32/16 per *invocation* (:203-230);
        # closed form: theta = incr * (# invoked rows so far) mod 2^32.
        if use_chunks:
            off2 = chunk_offsets_plan(
                df, sums={"_go_n0": F.when(invoked, 1).otherwise(0)}, keys=part,
            )
            df = df.join(F.broadcast(off2), on=part + [GO_CHUNK], how="left")
        # the invocation-count window runs once: sig_re and sig_im read its column
        df = df.select("*", running_sum(
            F.count(F.when(invoked, 1)).over(wcum), go("_go_n0"), hs["amc_n0"]).alias("_amc_n"))
        amc_n = F.col("_amc_n")
        # reduce mod 16 before the multiply: INCR*16 == 2^32 exactly, so
        # theta depends only on amc_n mod 16 — and amc_n * INCR would
        # overflow int64 past 2^35 rows
        assert C.AMC_CARRIER_INCREMENT_Q32 * 16 == C.Q32_MOD
        theta = F.pmod(
            F.pmod(amc_n, F.lit(16)) * F.lit(C.AMC_CARRIER_INCREMENT_Q32),
            F.lit(C.Q32_MOD),
        )
        idx = (theta / F.lit(2**C.CPM_INDEX_SHIFT)).cast("long")
        lre, lim = _lut_trig(idx)
        sig_re = F.when(invoked, ratio * lre).otherwise(F.lit(0.0))
        sig_im = F.when(invoked, ratio * lim).otherwise(F.lit(0.0))
    else:
        raise ValueError(f"unknown encoder_type: {enc}")

    out_cols = part + [
        "tick_idx",
        "timestamp",
        "raw_price",
        "price_delta",
        sig_re.alias("sig_re"),
        sig_im.alias("sig_im"),
        norm_out.alias("normalization"),
        flag.cast("long").alias("status_flag"),
    ]
    if keep_internals:
        out_cols += ["is_valid", "is_core", "core_seq", "delta_w", "bar_ord", "bars_done",
                     inv.alias("inv_q16"), nq16.alias("nq16"), ratio.alias("ratio"),
                     "n_valid_upto", "sum_bmin_upto", "sum_bmax_upto",
                     # delta_w merged with the carried stats bar: the
                     # row-level twin of the completing tick's merge
                     F.least("delta_w", F.when(is_pb, hs["partial_min0"])).alias("bar_dmin"),
                     F.greatest("delta_w", F.when(is_pb, hs["partial_max0"])).alias("bar_dmax"),
                     *internals]
    return df.select(*out_cols)
