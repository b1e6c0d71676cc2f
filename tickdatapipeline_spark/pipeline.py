"""Batch orchestration + capture: the reference's top-level entry points
re-expressed as Spark jobs.

- run_pipeline  (O1, /root/reference/src/PipelineOrchestrator.jl:215-304):
  read -> expand -> hot loop -> sink; `max_ticks` limit; returns counters.
  Mirrors the reference quirk of SKIPPING the bar stage (:264-267).
- run_pipeline_managed (O2, :340-432): adds the bar stage (2.5), bar
  enrichment onto completing ticks, wall-clock stage metrics and a
  completion callback. Spark's per-stage metrics live in the event log /
  UI; here we report job-level wall times, the honest equivalent.
- capture (S4/S6, scripts/capture_pipeline_data.jl:176-297): skip-N /
  take-M projection of the processed stream into parquet (the columnar
  capture the reference writes as JLD2) with tick- or bar-field column
  sets; csv_export (S5, scripts/jld2_to_csv.jl:13-41).
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tickdatapipeline_spark.config import PipelineConfig
from tickdatapipeline_spark.operators.bars import bar_aggregate, enrich_ticks_with_bars
from tickdatapipeline_spark.operators.expansion import expand_volume
from tickdatapipeline_spark.operators.hotloop import hot_loop
from tickdatapipeline_spark.sources.tickfile import read_tick_file

TICK_CAPTURE_COLS = ["tick_idx", "timestamp", "raw_price", "price_delta",
                     "sig_re", "sig_im", "normalization", "status_flag"]
BAR_CAPTURE_COLS = ["bar_idx", "bar_ticks", "bar_volume", "bar_open_raw",
                    "bar_high_raw", "bar_low_raw", "bar_close_raw",
                    "bar_average_raw", "bar_price_delta", "bar_sig_re",
                    "bar_sig_im", "bar_normalization", "bar_flags",
                    "bar_end_timestamp"]


@dataclass(frozen=True)
class PipelineResult:
    ticks_processed: int
    errors: int
    elapsed_s: float
    signal_stage_s: float
    sink_stage_s: float


def build_processed(spark: SparkSession, cfg: PipelineConfig,
                    max_ticks: int | None = None) -> DataFrame:
    """The declarative pipeline plan (no action)."""
    raw = read_tick_file(spark, cfg.tick_file_path)
    processed = hot_loop(expand_volume(raw), cfg.signal_processing)
    if max_ticks is not None:
        processed = processed.where(F.col("tick_idx") <= max_ticks)
    return processed


def _run(spark: SparkSession, cfg: PipelineConfig, output_path: str,
         max_ticks: int | None, with_bars: bool) -> PipelineResult:
    """The body of both entry points: plan, write, count what it wrote.
    Without bars the output is hot_loop's, i.e. TICK_CAPTURE_COLS."""
    t0 = time.time()
    out = processed = build_processed(spark, cfg, max_ticks)
    if with_bars:
        out = enrich_ticks_with_bars(processed, bar_aggregate(processed, cfg.bar_processing))
    # the write counts its rows itself: no second job re-reads the output
    written = Observation()
    out = out.observe(written, F.count(F.lit(1)).alias("rows"))
    t1 = time.time()
    out.write.mode("overwrite").parquet(output_path)
    t2 = time.time()
    return PipelineResult(
        ticks_processed=written.get["rows"], errors=0,
        elapsed_s=t2 - t0, signal_stage_s=t1 - t0, sink_stage_s=t2 - t1,
    )


def run_pipeline(spark: SparkSession, cfg: PipelineConfig, output_path: str,
                 max_ticks: int | None = None) -> PipelineResult:
    """O1 simple run: NO bar stage (reference quirk preserved)."""
    return _run(spark, cfg, output_path, max_ticks, with_bars=False)


def run_pipeline_managed(
    spark: SparkSession, cfg: PipelineConfig, output_path: str,
    max_ticks: int | None = None,
    completion_callback=None,
) -> PipelineResult:
    """O2 managed run: bar stage + enrichment + metrics + callback."""
    result = _run(spark, cfg, output_path, max_ticks, with_bars=cfg.bar_processing.enabled)
    if completion_callback is not None:
        completion_callback(result)
    return result


def capture(processed: DataFrame, output_path: str, *, tick_start: int = 0,
            num_records: int | None = None, bars: DataFrame | None = None,
            partition_by: tuple[str, ...] = (), fmt: str = "parquet") -> int:
    """S4/S6 capture: skip `tick_start` ticks, take `num_records`, write
    the columnar tick (or bar) capture. Returns rows written.

    ``partition_by`` is the deployment knob: partitioning the capture by
    (stream, day, ...) makes every downstream read partition-prunable —
    at 100 TB a per-stream analysis query then scans only its stream's
    files instead of the whole capture.

    ``fmt`` selects the columnar container: ``parquet`` (default) or
    ``orc`` — both Spark-native, splittable, predicate-pushdown-capable;
    ORC is the interop path for Hive/Trino-flavored lakes. Any other
    registered datasource name passes through untested."""
    if bars is not None:
        df = bars.where(F.col("bar_idx") > tick_start)
        cols = BAR_CAPTURE_COLS
        if num_records is not None:
            df = df.where(F.col("bar_idx") <= tick_start + num_records)
    else:
        df = processed.where(F.col("tick_idx") > tick_start)
        cols = TICK_CAPTURE_COLS
        if num_records is not None:
            df = df.where(F.col("tick_idx") <= tick_start + num_records)
    if partition_by:
        # partition cols may overlap the capture schema (e.g. bars
        # partitioned by bar_idx) — select each column exactly once
        df = df.select(*partition_by, *[c for c in cols if c not in partition_by])
    else:
        df = df.select(*cols)
    written = Observation()
    writer = df.observe(written, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(output_path)
    return written.get["rows"]


def csv_export(spark: SparkSession, parquet_path: str, csv_path: str) -> None:
    """S5: captured parquet -> CSV with header (jld2_to_csv.jl:13-41)."""
    spark.read.parquet(parquet_path).write.mode("overwrite").option(
        "header", "true"
    ).csv(csv_path)


def plot_slice_html(
    processed: DataFrame, path: str, *, start_tick: int = 1, num_ticks: int = 500,
    signal_scale: float = 6.0,
) -> int:
    """S7 plot sink (scripts/plot_jld2_data.jl:18-174): min-max-scaled
    price with scaled I/Q signals over a tick range, written as a
    self-contained HTML/SVG file — no plotting library required.

    The heavy work (slice + min-max normalize) runs distributed; only the
    <= num_ticks plotted points reach the driver. Returns points plotted.
    """
    sl = processed.where(
        F.col("tick_idx").between(start_tick, start_tick + num_ticks - 1)
    ).select("tick_idx", "raw_price", "sig_re", "sig_im")
    stats = sl.agg(F.min("raw_price").alias("pmin"), F.max("raw_price").alias("pmax"))
    rows = (
        sl.crossJoin(stats)
        .select(
            "tick_idx",
            ((F.col("raw_price") - F.col("pmin")).cast("double")
             / F.greatest((F.col("pmax") - F.col("pmin")).cast("double"), F.lit(1.0))).alias("p"),
            (F.col("sig_re") * signal_scale).alias("re"),
            (F.col("sig_im") * signal_scale).alias("im"),
        )
        .orderBy("tick_idx")
        .collect()
    )
    if not rows:
        Path(path).write_text("<html><body>no data in range</body></html>")
        return 0

    w, h = 960, 420
    x0, xn = rows[0].tick_idx, rows[-1].tick_idx
    span = max(xn - x0, 1)

    def pts(key, lo, hi):
        out = []
        for r in rows:
            x = (r.tick_idx - x0) / span * (w - 40) + 20
            v = max(lo, min(hi, getattr(r, key)))
            y = h - 20 - (v - lo) / (hi - lo) * (h - 40)
            out.append(f"{x:.1f},{y:.1f}")
        return " ".join(out)

    svg = (
        f'<svg width="{w}" height="{h}" xmlns="http://www.w3.org/2000/svg">'
        f'<rect width="{w}" height="{h}" fill="white"/>'
        f'<polyline points="{pts("p", 0.0, 1.0)}" fill="none" stroke="black" stroke-width="1"/>'
        f'<polyline points="{pts("re", -1.0, 1.0)}" fill="none" stroke="steelblue" stroke-width="1"/>'
        f'<polyline points="{pts("im", -1.0, 1.0)}" fill="none" stroke="indianred" stroke-width="1"/>'
        "</svg>"
    )
    Path(path).write_text(
        "<html><head><title>tick slice</title></head><body>"
        f"<h3>ticks {x0}-{xn}: price (black, min-max scaled), "
        f"sig_re (blue) / sig_im (red) x{signal_scale}</h3>{svg}</body></html>"
    )
    return len(rows)
