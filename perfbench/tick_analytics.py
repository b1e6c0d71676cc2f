"""The read side of the tick engine, measured inside the traced day_file
run: the registry's tick-analysis queries (q1_delta_stats ...
q10_bar_audit, bars_boxcar, bars_fir) through ``__spark_entry__.queries()``
over a generated events table, for the plans.common and plans.analytics
layers. The plans.common ticks cache is staged first, then every query
runs once under a span of its own; the pipeline runs before it have
warmed the session, and a second pass does not fit the traced run's time
limit. Each result is consumed with toPandas() and checked against the
oracle after the pass."""

from __future__ import annotations

import time

import gen
from checks import check_queries
from context import Ctx
from measure import group_jobs_tasks, median, tail

EVENTS = 20_000
QUERIES = ("q1_delta_stats", "q2_percentiles", "q3_zero_share", "q4_threshold_sweep",
           "q5_winsorize_reco", "q6_sigma_buckets", "q7_price_range",
           "q8_value_percentiles", "q9_range_slice", "q10_bar_audit",
           "bars_boxcar", "bars_fir")
JOB_GROUP = "perfbench-queries"


def measure_queries(ctx: Ctx) -> tuple[dict[str, tuple[float, str]], list[str], list[str], int]:
    """Stage the ticks cache and time the 12 queries in ``ctx.spark``.
    Returns (layers, report lines, oracle mismatches, failed queries)."""
    import __spark_entry__ as entry
    from tickdatapipeline_spark.plans.common import SP_DERIV, processed_ticks, ticks_cache_info

    spark = ctx.spark
    sf_dir = str(ctx.work / "sf")
    gen.write_events(sf_dir, ctx.seed, EVENTS)
    fns, sqls = entry.queries(), entry.oracle_sql()
    t = time.perf_counter()
    with ctx.tracer.span("ticks_cache.stage"):
        n_ticks = processed_ticks(spark, sf_dir, SP_DERIV, keep_internals=True).count()
    stage_s = time.perf_counter() - t

    spark.sparkContext.setJobGroup(JOB_GROUP, "timed queries")
    lat, results, failed = {}, {}, 0
    t0 = time.perf_counter()
    for name in QUERIES:
        t = time.perf_counter()
        try:
            with ctx.tracer.span(f"query.{name}"):
                results[name] = fns[name](spark, sf_dir).toPandas()
        except Exception as e:  # an operation that fails counts, the run goes on
            failed += 1
            print(f"tick_analytics {name} failed: {e!r}")
            continue
        lat[name] = time.perf_counter() - t
    wall = time.perf_counter() - t0
    jobs = group_jobs_tasks(spark, JOB_GROUP)[0]
    cache = [e for e in ticks_cache_info(spark) if e["sf_dir"] == sf_dir]
    mismatches = check_queries(results, sqls, sf_dir)

    tl = tail(list(lat.values()))
    notes = [f"queries_per_s = {len(lat) / wall:.6g} 1/s ({len(lat)} queries in one traced "
             f"pass, {wall:.3f} s; {EVENTS} events, {n_ticks} ticks staged)",
             f"query_latency_p50_s = {median(list(lat.values()) or [0.0]):.6g} s",
             "query_latency_tail_s = " + (f"{tl[1]:.6g} s (p{tl[0]:.1f} of {tl[2]} queries)"
                                          if tl else f"omitted ({len(lat)} queries: fewer than "
                                          "10 beyond any percentile above the median)")]
    layers = {
        "ticks_cache.stage_s": (stage_s, "s"),
        "ticks_cache.mem_bytes": (cache[0]["mem_bytes"] if cache else 0, "bytes"),
        "ticks_cache.disk_bytes": (cache[0]["disk_bytes"] if cache else 0, "bytes"),
        **{f"query.{name}_s": (s, "s") for name, s in lat.items()},
        "query.jobs": (jobs / max(len(lat), 1), "count"),
    }
    return layers, notes, mismatches, failed
