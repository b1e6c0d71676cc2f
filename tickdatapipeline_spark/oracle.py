"""DuckDB oracle SQL for the tick pipeline.

Generates ANSI-ish SQL (DuckDB dialect) that reproduces, stage by stage,
exactly what the Spark operators in operators/{expansion,hotloop,bars}.py
compute — same constants (constants.py), same double-precision math, same
clamp/flag/normalization semantics. The driver runs this side-by-side
with the Spark plans for the correctness gate.

Everything is plain window + group-by SQL: the reference's stateful hot
loop (/root/reference/src/TickHotLoopF32.jl:287-437) is expressible
without recursion because every piece of its state is a prefix aggregate
(see SURVEY.md §2.3-2.4).
"""

from __future__ import annotations

from tickdatapipeline_spark import constants as C
from tickdatapipeline_spark.config import BarProcessingConfig, SignalProcessingConfig
from tickdatapipeline_spark.functions.fir import design_decimation_filter
from tickdatapipeline_spark.sources.tickfile import TICKS_FROM_EVENTS_SQL


def dlit(x: float) -> str:
    """Exact DOUBLE literal for DuckDB.

    A bare decimal like 0.9238795325112867 is parsed as DECIMAL and the
    DECIMAL->DOUBLE cast can be off by one ulp; an E-notation literal is
    parsed directly (and correctly rounded) as DOUBLE.
    """
    s = repr(float(x))
    return s if ("e" in s or "E" in s or "inf" in s or "nan" in s) else s + "e0"


def _hexad_list(component: int) -> str:
    vals = ", ".join(dlit(p[component]) for p in C.HEXAD16)
    return f"[{vals}]"


def pipeline_ctes(cfg: SignalProcessingConfig, stats_ticks_per_bar: int = C.STATS_TICKS_PER_BAR,
                  *, streams: bool = False, ticks_raw_sql: str | None = None) -> str:
    """WITH-clause body defining: ticks_raw, lines, expanded, hot, bar_norms,
    ticks_out. ticks_out mirrors hot_loop(keep_internals=True) output."""
    n = stats_ticks_per_bar
    eff = min(cfg.max_jump, cfg.winsorize_delta_threshold)
    enc = cfg.encoder_type

    # stream partitioning tokens: the multi-stream (100 TB) shape inserts
    # PARTITION BY stream into every window and carries the column through
    sc = "stream, " if streams else ""          # select-list prefix
    pby = "PARTITION BY stream " if streams else ""  # window prefix
    jstream = " AND h.stream = b.stream" if streams else ""

    # encoder column expressions over the `joined` relation
    if enc == "derivative":
        scale = dlit(float(cfg.tick_derivative_imag_scale))
        sig = f"""
            CASE WHEN is_core THEN ratio ELSE 0.0::DOUBLE END AS sig_re,
            CASE WHEN is_core THEN (ratio - COALESCE(last_value(CASE WHEN is_core THEN ratio END IGNORE NULLS)
                 OVER ({pby}ORDER BY tick_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0::DOUBLE)) * {scale}
                 ELSE 0.0::DOUBLE END AS sig_im
        """
    elif enc == "hexad16":
        re_l, im_l = _hexad_list(0), _hexad_list(1)
        sig = f"""
            ratio * list_extract({re_l}, CAST((tick_idx - 1) % 16 AS INTEGER) + 1) AS sig_re,
            ratio * list_extract({im_l}, CAST((tick_idx - 1) % 16 AS INTEGER) + 1) AS sig_im
        """
    elif enc == "cpm":
        scale = dlit(2.0 * float(cfg.cpm_modulation_index) * 2.0**31)
        sig = f"""
            CASE WHEN NOT is_zero THEN cos(cpm_idx * {dlit(C.TWO_PI / C.CPM_LUT_SIZE)}) ELSE 0.0::DOUBLE END AS sig_re,
            CASE WHEN NOT is_zero THEN sin(cpm_idx * {dlit(C.TWO_PI / C.CPM_LUT_SIZE)}) ELSE 0.0::DOUBLE END AS sig_im
        """
    elif enc == "amc":
        sig = f"""
            CASE WHEN NOT is_zero THEN ratio * cos(amc_idx * {dlit(C.TWO_PI / C.CPM_LUT_SIZE)}) ELSE 0.0::DOUBLE END AS sig_re,
            CASE WHEN NOT is_zero THEN ratio * sin(amc_idx * {dlit(C.TWO_PI / C.CPM_LUT_SIZE)}) ELSE 0.0::DOUBLE END AS sig_im
        """
    else:
        raise ValueError(enc)

    cpm_scale = dlit(2.0 * float(cfg.cpm_modulation_index) * 2.0**31)

    return f"""
ticks_raw AS ({ticks_raw_sql or TICKS_FROM_EVENTS_SQL}),
lines AS (
    SELECT {sc}line_no, ts_str, last, volume,
           lag(last) OVER ({pby}ORDER BY line_no) AS prev_last
    FROM ticks_raw
),
expanded0 AS (
    SELECT {sc}line_no, ts_str, last AS raw_price, prev_last,
           unnest(generate_series(1, volume)) AS replica_idx
    FROM lines
),
expanded AS (
    SELECT {sc}line_no, replica_idx,
           CAST(row_number() OVER ({pby}ORDER BY line_no, replica_idx) AS BIGINT) AS tick_idx,
           CAST(
             ascii(substr(ts_str,1,1))*4294967296*16777216 + ascii(substr(ts_str,2,1))*4294967296*65536
           + ascii(substr(ts_str,3,1))*4294967296*256 + ascii(substr(ts_str,4,1))*4294967296
           + ascii(substr(ts_str,5,1))*16777216 + ascii(substr(ts_str,6,1))*65536
           + ascii(substr(ts_str,7,1))*256 + ascii(substr(ts_str,8,1)) AS BIGINT) AS timestamp,
           CAST(raw_price AS BIGINT) AS raw_price,
           CAST(CASE WHEN line_no = 1 THEN 0
                     WHEN replica_idx = 1 THEN raw_price - prev_last
                     ELSE 0 END AS BIGINT) AS price_delta
    FROM expanded0
),
hot AS (
    SELECT *,
           (raw_price BETWEEN {cfg.min_price} AND {cfg.max_price}) AS is_valid,
           count(CASE WHEN raw_price BETWEEN {cfg.min_price} AND {cfg.max_price} THEN 1 END)
               OVER ({pby}ORDER BY tick_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_valid_upto
    FROM expanded
),
hot2 AS (
    SELECT *,
           (is_valid AND n_valid_upto >= 2) AS is_core,
           ((NOT is_valid) AND n_valid_upto = 0) AS is_zero,
           ((NOT is_valid) AND n_valid_upto >= 1) AS is_hold,
           CASE WHEN is_valid AND n_valid_upto >= 2
                THEN CAST(greatest(least(price_delta, {eff}), -{eff}) AS BIGINT) END AS delta_w,
           (is_valid AND n_valid_upto >= 2 AND abs(price_delta) > {eff}) AS clipped,
           count(CASE WHEN is_valid AND n_valid_upto >= 2 THEN 1 END)
               OVER ({pby}ORDER BY tick_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS core_seq
    FROM hot
),
hot3 AS (
    SELECT *,
           CASE WHEN is_core THEN core_seq // {n} END AS bars_done,
           CASE WHEN is_core THEN (core_seq - 1) // {n} END AS bar_ord
    FROM hot2
),
stat_bars AS (
    SELECT {sc}bar_ord, min(delta_w) AS bmin, max(delta_w) AS bmax, count(*) AS cnt
    FROM hot3 WHERE is_core GROUP BY {sc}bar_ord
),
bar_norms AS (
    SELECT {sc}bar_ord + 1 AS bars_done,
           -- round_even = half-even, matching Spark bround / Julia round()
           CAST(round_even(65536.0::DOUBLE / greatest(
                CAST(sum(bmax) OVER wb AS DOUBLE) / CAST(bar_ord + 1 AS DOUBLE)
              - CAST(sum(bmin) OVER wb AS DOUBLE) / CAST(bar_ord + 1 AS DOUBLE),
                1.0::DOUBLE), 0) AS BIGINT) AS inv_q16,
           CAST(sum(bmin) OVER wb AS BIGINT) AS sum_bmin_upto,
           CAST(sum(bmax) OVER wb AS BIGINT) AS sum_bmax_upto
    FROM stat_bars WHERE cnt = {n}
    WINDOW wb AS ({pby}ORDER BY bar_ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
joined AS (
    SELECT h.*, b.sum_bmin_upto, b.sum_bmax_upto,
           CASE WHEN h.is_core THEN COALESCE(b.inv_q16, {C.PRELOAD_INV_NORM_Q16}) END AS inv_q16,
           CASE WHEN h.is_core THEN h.delta_w * COALESCE(b.inv_q16, {C.PRELOAD_INV_NORM_Q16}) END AS nq16,
           CASE WHEN h.is_core
                THEN CAST(h.delta_w * COALESCE(b.inv_q16, {C.PRELOAD_INV_NORM_Q16}) AS DOUBLE) * {dlit(C.Q16_INV)}
                ELSE 0.0::DOUBLE END AS ratio,
           CASE WHEN h.is_core
                -- inv_q16 = 0: reference float division emits Inf32
                -- (TickHotLoopF32.jl:413); DuckDB /0 is NULL, so explicit
                THEN CASE WHEN COALESCE(b.inv_q16, {C.PRELOAD_INV_NORM_Q16}) = 0 THEN 'infinity'::DOUBLE
                     ELSE 1.0::DOUBLE / (CAST(COALESCE(b.inv_q16, {C.PRELOAD_INV_NORM_Q16}) AS DOUBLE) * {dlit(C.Q16_INV)}) END
                ELSE 1.0::DOUBLE END AS normalization,
           CAST(CASE WHEN h.is_hold THEN {C.FLAG_HOLDLAST}
                     WHEN h.clipped THEN {C.FLAG_CLIPPED}
                     ELSE {C.FLAG_OK} END AS BIGINT) AS status_flag
    FROM hot3 h LEFT JOIN bar_norms b ON h.bars_done = b.bars_done{jstream}
),
phased AS (
    SELECT *,
           ((sum(CASE WHEN is_core THEN CAST(round_even(ratio * {cpm_scale}, 0) AS BIGINT) ELSE 0 END)
                 OVER ({pby}ORDER BY tick_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             % 4294967296 + 4294967296) % 4294967296) AS cpm_theta,
           ((sum(CASE WHEN is_core THEN CAST(round_even(ratio * {cpm_scale}, 0) AS BIGINT) ELSE 0 END)
                 OVER ({pby}ORDER BY tick_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             % 4294967296 + 4294967296) % 4294967296) // 4194304 AS cpm_idx,
           ((count(CASE WHEN NOT is_zero THEN 1 END)
                 OVER ({pby}ORDER BY tick_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             * {C.AMC_CARRIER_INCREMENT_Q32}) % 4294967296) // 4194304 AS amc_idx
    FROM joined
),
ticks_out AS (
    SELECT {sc}tick_idx, timestamp, raw_price, price_delta,
           {sig},
           normalization, status_flag,
           is_valid, is_core, is_zero, core_seq, delta_w, bar_ord, bars_done, inv_q16, nq16, ratio,
           n_valid_upto, sum_bmin_upto, sum_bmax_upto, delta_w AS bar_dmin, delta_w AS bar_dmax{", cpm_theta" if enc == "cpm" else ""}
    FROM phased
)
"""


def bars_ctes(sp: SignalProcessingConfig, bp: BarProcessingConfig) -> str:
    """Adds bar CTEs on top of pipeline_ctes: bars_out mirrors bar_aggregate()."""
    n = bp.ticks_per_bar
    eff = min(bp.max_bar_jump, bp.winsorize_bar_threshold)
    w_recalc = bp.normalization_window_bars
    scale = dlit(float(bp.bar_derivative_imag_scale))

    if bp.bar_method == "FIR":
        # Q33 fixed-point convolution at completion ticks only — mirrors
        # the FIR sum of operators/bars.py::bar_aggregate's scatter
        # aggregate (integer SUM: order-independent, bit-identical across
        # engines).
        from tickdatapipeline_spark.operators.bars import FIR_Q

        taps = design_decimation_filter(n)
        L = len(taps)
        taps_q = "[" + ", ".join(str(round(c * FIR_Q)) for c in taps) + "]"
        fir_cte = f"""
fir AS (
    SELECT c.end_tick_idx,
           CAST(floor(CAST(sum(s.raw_price * list_extract({taps_q}, o.off + 1)) AS DOUBLE)
                      / {dlit(float(FIR_Q))} + 0.5) AS BIGINT) AS fir_avg
    FROM (SELECT end_tick_idx FROM (
              SELECT max(CASE WHEN (tick_idx - 1) % {n} = {n - 1} THEN tick_idx END) AS end_tick_idx,
                     count(*) AS cnt
              FROM ticks_out GROUP BY (tick_idx - 1) // {n}
          ) WHERE cnt = {n}) c
    CROSS JOIN (SELECT unnest(range(0, {L})) AS off) o
    JOIN ticks_out s ON s.tick_idx = c.end_tick_idx - o.off
    GROUP BY c.end_tick_idx
),
"""
        avg_join = "LEFT JOIN fir f ON f.end_tick_idx = t.end_tick_idx"
        avg_src = "f.fir_avg"
    else:
        fir_cte = ""
        avg_join = ""
        avg_src = "CAST(round((t.bar_high_raw + t.bar_low_raw + t.bar_close_raw) / 3.0::DOUBLE) AS BIGINT)"

    return f"""{fir_cte}
bar_groups AS (
    SELECT (tick_idx - 1) // {n} AS bar_id,
           max(CASE WHEN (tick_idx - 1) % {n} = 0 THEN raw_price END) AS bar_open_raw,
           max(raw_price) AS bar_high_raw,
           min(raw_price) AS bar_low_raw,
           max(CASE WHEN (tick_idx - 1) % {n} = {n - 1} THEN raw_price END) AS bar_close_raw,
           max(CASE WHEN (tick_idx - 1) % {n} = {n - 1} THEN timestamp END) AS bar_end_timestamp,
           max(CASE WHEN (tick_idx - 1) % {n} = {n - 1} THEN tick_idx END) AS end_tick_idx,
           count(*) AS cnt
    FROM ticks_out
    GROUP BY 1
),
bar_avg AS (
    SELECT t.*, {avg_src} AS bar_average_raw
    FROM bar_groups t {avg_join}
    WHERE t.cnt = {n}
),
bar_norm AS (
    SELECT *,
           row_number() OVER (ORDER BY bar_id) AS k,
           CASE WHEN (row_number() OVER (ORDER BY bar_id)) % {w_recalc} = 0 THEN
               greatest(CAST(sum(bar_high_raw) OVER wc AS DOUBLE) / CAST(row_number() OVER (ORDER BY bar_id) AS DOUBLE)
                      - CAST(sum(bar_low_raw) OVER wc AS DOUBLE) / CAST(row_number() OVER (ORDER BY bar_id) AS DOUBLE),
                        1.0::DOUBLE)
           END AS _norm_recalc
    FROM bar_avg
    WINDOW wc AS (ORDER BY bar_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
bar_sig AS (
    SELECT *,
           COALESCE(last_value(_norm_recalc IGNORE NULLS)
               OVER (ORDER BY bar_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0::DOUBLE) AS bar_normalization,
           lag(bar_average_raw) OVER (ORDER BY bar_id) AS prev_avg,
           CAST(CASE WHEN lag(bar_average_raw) OVER (ORDER BY bar_id) IS NULL THEN 0
                     ELSE bar_average_raw - lag(bar_average_raw) OVER (ORDER BY bar_id) END AS BIGINT) AS _raw_delta
    FROM bar_norm
),
bars_out AS (
    SELECT CAST(bar_id + 1 AS BIGINT) AS bar_idx,
           CAST({n} AS BIGINT) AS bar_ticks,
           CAST({n} AS BIGINT) AS bar_volume,
           CAST(bar_open_raw AS BIGINT) AS bar_open_raw,
           CAST(bar_high_raw AS BIGINT) AS bar_high_raw,
           CAST(bar_low_raw AS BIGINT) AS bar_low_raw,
           CAST(bar_close_raw AS BIGINT) AS bar_close_raw,
           bar_average_raw,
           CAST(greatest(least(_raw_delta, {eff}), -{eff}) AS BIGINT) AS bar_price_delta,
           CAST(greatest(least(_raw_delta, {eff}), -{eff}) AS DOUBLE) / bar_normalization AS bar_sig_re,
           (CAST(bar_average_raw AS DOUBLE) / bar_normalization
            - CASE WHEN prev_avg IS NULL THEN 0.0::DOUBLE
                   ELSE CAST(prev_avg AS DOUBLE) / bar_normalization END) * {scale} AS bar_sig_im,
           bar_normalization,
           CAST(CASE WHEN abs(_raw_delta) > {eff} THEN {C.FLAG_CLIPPED} ELSE {C.FLAG_OK} END AS BIGINT) AS bar_flags,
           CAST(bar_end_timestamp AS BIGINT) AS bar_end_timestamp,
           CAST(end_tick_idx AS BIGINT) AS end_tick_idx
    FROM bar_sig
)
"""
