"""day_file: one seeded day of ticks through pipeline.run_pipeline_managed
with the shipped default config (derivative encoder, FIR bars at 21
ticks/bar, bar enrichment) and a parquet sink. Closed loop: each run
starts when the previous one has written its output.

The traced run materializes cumulative prefixes of the same chain with
noop writes, each under its own Spark job group: source, + expansion,
+ hot loop, + bars and enrichment, + sink (the public entry point
itself). A layer's self time is the difference between adjacent
prefixes. It then measures the read side of the same operators, the
tick-analysis queries over the plans.common ticks cache (tick_analytics.py),
in the same session."""

from __future__ import annotations

import time
from dataclasses import replace
from pathlib import Path

import gen
from checks import check_day_file, parse_tick_lines
from context import Ctx, Outcome
from measure import drift, group_jobs_tasks, median
from tick_analytics import QUERIES, measure_queries

LINES = 20_000
WARMUP_RUNS = 1
PREFIXES = ("source", "expansion", "hotloop", "bars", "sink")


def _prefix_frames(spark, cfg):
    from tickdatapipeline_spark.operators.bars import bar_aggregate, enrich_ticks_with_bars
    from tickdatapipeline_spark.operators.expansion import expand_volume
    from tickdatapipeline_spark.operators.hotloop import hot_loop
    from tickdatapipeline_spark.sources.tickfile import read_tick_file

    raw = read_tick_file(spark, cfg.tick_file_path)
    expanded = expand_volume(raw)
    processed = hot_loop(expanded, cfg.signal_processing)
    enriched = enrich_ticks_with_bars(processed, bar_aggregate(processed, cfg.bar_processing))
    return {"source": raw, "expansion": expanded, "hotloop": processed, "bars": enriched}


def _traced_pass(ctx: Ctx, cfg, out_path: str) -> dict[str, float]:
    """One pass over the cumulative prefixes; returns each prefix's wall."""
    from tickdatapipeline_spark.pipeline import run_pipeline_managed

    spark = ctx.spark
    frames = _prefix_frames(spark, cfg)
    walls = {}
    with ctx.tracer.span("day_file.traced_pass"):
        for p in PREFIXES:
            spark.sparkContext.setJobGroup(f"perfbench-{p}", p)
            t = time.perf_counter()
            with ctx.tracer.span(f"prefix.{p}"):
                if p == "sink":
                    run_pipeline_managed(spark, cfg, out_path)
                else:
                    frames[p].write.format("noop").mode("overwrite").save()
            walls[p] = time.perf_counter() - t
    return walls


def _layers(ctx: Ctx, prefix: dict[str, float], lines: list[str], out_path: str,
            ticks_out: int) -> dict[str, tuple[float, str]]:
    import pyarrow.parquet as pq

    jobs = {p: group_jobs_tasks(ctx.spark, f"perfbench-{p}") for p in PREFIXES}
    files = list(Path(out_path).glob("part-*"))
    return {
        "session.start_s": (ctx.session_start_s, "s"),
        "tickfile.self_s": (prefix["source"], "s"),
        "tickfile.rows_in": (len(lines), "count"),
        "tickfile.rows_dropped": (len(lines) - len(parse_tick_lines(lines)), "count"),
        "tickfile.jobs": (jobs["source"][0], "count"),
        "expansion.self_s": (prefix["expansion"] - prefix["source"], "s"),
        "expansion.ticks_out": (ticks_out, "count"),
        "hotloop.self_s": (prefix["hotloop"] - prefix["expansion"], "s"),
        "hotloop.jobs": (jobs["hotloop"][0] - jobs["expansion"][0], "count"),
        "hotloop.tasks": (jobs["hotloop"][1] - jobs["expansion"][1], "count"),
        "bars.self_s": (prefix["bars"] - prefix["hotloop"], "s"),
        "bars.bars_out": (len(pq.read_table(out_path, columns=["bar_idx"])["bar_idx"].drop_null()),
                          "count"),
        "sink.write_s": (prefix["sink"] - prefix["bars"], "s"),
        "sink.bytes": (sum(f.stat().st_size for f in files), "bytes"),
        "sink.files": (len(files), "count"),
    }


def run(ctx: Ctx) -> Outcome:
    from tickdatapipeline_spark.config import DEFAULT_CONFIG
    from tickdatapipeline_spark.pipeline import run_pipeline_managed

    t = time.perf_counter()
    lines, _ = gen.tick_lines(ctx.seed, LINES)
    path = ctx.work / "day.txt"
    gen.write_tick_file(path, lines)
    gen_s = time.perf_counter() - t
    spark = ctx.start_spark()
    cfg = replace(DEFAULT_CONFIG, tick_file_path=str(path))
    out_path = str(ctx.work / "out.parquet")

    t = time.perf_counter()
    for _ in range(WARMUP_RUNS):
        run_pipeline_managed(spark, cfg, out_path)
    warm_s = time.perf_counter() - t

    # the traced run times one untraced run, the reference for the tracing
    # overhead, then one pass over the traced prefixes
    walls, ticks = [], []
    attempted = failed = 0
    ctx.begin_timed_region()
    t0 = time.perf_counter()
    # whole runs only: another starts only while it is expected to end in time
    while not walls or (not ctx.traced and time.perf_counter() - t0 + walls[-1] <= ctx.seconds):
        attempted += 1
        t = time.perf_counter()
        try:
            res = run_pipeline_managed(spark, cfg, out_path)
        except Exception as e:  # an operation that fails counts, the run goes on
            failed += 1
            print(f"day_file run failed: {e!r}")
            if attempted - failed == 0 and attempted >= 3:
                raise
            continue
        walls.append(time.perf_counter() - t)
        ticks.append(res.ticks_processed)
    prefix = _traced_pass(ctx, cfg, out_path) if ctx.traced else {}

    ctx.end_timed_region()
    mismatches = check_day_file(lines, out_path, cfg.signal_processing, cfg.bar_processing)
    d = drift(walls)
    out = Outcome(
        metrics={
            "setup_s": (ctx.session_start_s + gen_s + warm_s, "s"),
            "ticks_per_s": (sum(ticks) / sum(walls), "ticks/s"),
            "latency_p50_s": (median(walls), "s"),
        },
        attempted=attempted, failed=failed, mismatches=mismatches,
        notes=[f"runs = {len(walls)} timed, {WARMUP_RUNS} warm-up; input {LINES} lines, "
               f"{ticks[-1]} ticks",
               f"run_walls_s = {[round(w, 3) for w in walls]}",
               "drift = " + (f"{d:.3f} (median of later timed runs / earlier ones)" if d
                             else "n/a (one timed run)")],
    )
    if ctx.traced:
        out.layers = _layers(ctx, prefix, lines, out_path, ticks[-1])
        overhead = sum(prefix.values()) - walls[0]
        out.layers["trace.overhead_s"] = (overhead, "s")
        layers, notes, bad, q_failed = measure_queries(ctx)
        out.layers |= layers
        out.notes += notes
        out.mismatches += bad
        out.attempted += len(QUERIES)
        out.failed += q_failed
    return out
