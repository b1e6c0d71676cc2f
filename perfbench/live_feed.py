"""live_feed: streaming.runner.StreamingTickPipeline over an input
directory fed open loop. Four streams (stream_key = symbol); each round
drops one file per stream on a fixed schedule, whether or not the
runner has kept up. Boxcar bars with enrichment, a PRIORITY consumer
appending parquet, a MONITORING consumer with a bounded drop-on-full
buffer and a drain rate, and a durable state snapshot.

A round's latency runs from its scheduled arrival to the on_batch commit
that completes it. One warm-up round runs first; the first timed round is
the second micro-batch, which still runs about a third slower than later
ones, but two warm-up rounds do not fit the benchmark's time budget.

The traced run adds spans for rounds, batches and PRIORITY writes from
the callbacks; per-layer figures come from the runner's public
PipelineMetrics, the consumer sinks and the manager."""

from __future__ import annotations

import os
import threading
import time

import gen
from checks import check_live, parse_tick_lines
from context import Ctx, Outcome
from measure import covering_commit, median, tail

STREAMS = 4
LINES_PER_FILE = 500
WARMUP_ROUNDS = 1
# one round per interval: above the 10-24 s the second four-file
# micro-batch took on a 4-core machine, so the schedule is sustainable there
INTERVAL_S = 30.0
MONITOR_BUFFER, MONITOR_DRAIN = 4096, 2048
DRAIN_TIMEOUT_S = 120.0


def _stream_key(path: str) -> str:
    return path.rsplit("-", 1)[-1]


def run(ctx: Ctx) -> Outcome:
    from tickdatapipeline_spark.plans.common import BP_BOX, SP_DERIV
    from tickdatapipeline_spark.streaming import StreamingTickPipeline
    from tickdatapipeline_spark.streaming.fanout import ConsumerType, TripleSplitManager

    timed_rounds = max(1, int(ctx.seconds // INTERVAL_S))
    t = time.perf_counter()
    rounds, last_px = [], {}
    for r in range(WARMUP_ROUNDS + timed_rounds):
        files = {}
        for s in range(STREAMS):
            lines, last_px[s] = gen.tick_lines(ctx.seed, LINES_PER_FILE, stream=s,
                                               start=r * LINES_PER_FILE, price0=last_px.get(s))
            files[f"r{r:05d}-sym{s}.txt"] = lines
        rounds.append(files)
    round_ticks = [sum(int(parse_tick_lines(ls)["volume"].sum()) for ls in f.values())
                   for f in rounds]
    cum_ticks = [sum(round_ticks[:r + 1]) for r in range(len(rounds))]
    in_dir = ctx.work / "in"
    in_dir.mkdir()
    gen_s = time.perf_counter() - t

    spark = ctx.start_spark()
    prio_path = str(ctx.work / "priority.parquet")
    state_path = str(ctx.work / "state.json")
    prio_walls: list[float] = []
    commits: list[tuple[float, int, float]] = []  # (time, cumulative ticks, batch seconds)

    def priority_sink(df, batch_id):
        t = time.perf_counter()
        df.write.mode("append").parquet(prio_path)
        prio_walls.append(time.perf_counter() - t)
        ctx.tracer.add("fanout.priority_write", t, t + prio_walls[-1])

    mgr = TripleSplitManager()
    mgr.subscribe("priority", ConsumerType.PRIORITY, priority_sink)
    # a monitor that only receives what the bounded buffer lets through
    mgr.subscribe("monitoring", ConsumerType.MONITORING, lambda df, batch_id: None,
                  buffer_size=MONITOR_BUFFER, drain_rate=MONITOR_DRAIN)
    pipe = StreamingTickPipeline(
        spark, str(in_dir), SP_DERIV, mgr, str(ctx.work / "checkpoint"),
        max_files_per_trigger=STREAMS, bar_cfg=BP_BOX, stream_key=_stream_key,
        enrich=True, state_path=state_path,
        on_batch=lambda batch_id, ticks: commits.append(
            (time.perf_counter(), ticks, pipe.metrics.latencies_us[-1] / 1e6)),
    )

    timeouts = 0
    late: list[float] = []
    due = [0.0] * timed_rounds
    pipe.start()
    # micro-batch jobs run under the query's run id as their job group
    run_id = str(spark.streams.active[0].runId)
    try:
        t = time.perf_counter()
        for r in range(WARMUP_ROUNDS):
            gen.drop_files(in_dir, rounds[r], time.time())
            pipe.await_idle(DRAIN_TIMEOUT_S)
        warm_s = time.perf_counter() - t
        m = pipe.metrics
        base = (len(m.latencies_us), m.signal_processing_time_us, m.broadcast_time_us,
                len(prio_walls), len(commits), mgr.total_broadcasts, mgr.successful_broadcasts)

        ctx.begin_timed_region()
        t0 = time.perf_counter() + 0.5
        wall0 = time.time() + 0.5

        def feeder() -> None:
            for k in range(timed_rounds):
                due[k] = t0 + k * INTERVAL_S
                while (wait := due[k] - time.perf_counter()) > 0:
                    time.sleep(min(wait, 0.05))
                gen.drop_files(in_dir, rounds[WARMUP_ROUNDS + k], wall0 + k * INTERVAL_S)
                late.append(time.perf_counter() - due[k])

        feed = threading.Thread(target=feeder, daemon=True)
        feed.start()
        feed.join()
        try:
            pipe.await_idle(DRAIN_TIMEOUT_S)
        except TimeoutError:
            timeouts += 1
    finally:
        pipe.stop()
    ctx.end_timed_region()

    timed_commits = commits[base[4]:]
    idx = covering_commit(cum_ticks[WARMUP_ROUNDS:], [c[1] for c in timed_commits])
    lat = [timed_commits[i][0] - d for i, d in zip(idx, due) if i is not None]
    # due but not committed when the schedule ended
    schedule_end = t0 + timed_rounds * INTERVAL_S
    backlog = sum(1 for i in idx if i is None or timed_commits[i][0] > schedule_end)
    waits = [timed_commits[i][0] - timed_commits[i][2] - d for i, d in zip(idx, due)
             if i is not None]
    for k, i in enumerate(idx):
        if i is not None:
            ctx.tracer.add(f"round.{k}", due[k], timed_commits[i][0])
    for c in timed_commits:
        ctx.tracer.add("runner.batch", c[0] - c[2], c[0])
    ticks_done = sum(round_ticks[WARMUP_ROUNDS + k] for k, i in enumerate(idx) if i is not None)
    broken = (mgr.total_broadcasts - base[5]) - (mgr.successful_broadcasts - base[6])
    failed = idx.count(None) + broken + timeouts
    expected = {}
    for files in rounds:
        for name, lines in files.items():
            key = _stream_key(name)
            expected[key] = expected.get(key, 0) + int(parse_tick_lines(lines)["volume"].sum())
    mismatches = check_live(prio_path, expected)
    tl = tail(lat)
    out = Outcome(
        metrics={
            "setup_s": (ctx.session_start_s + gen_s + warm_s, "s"),
            "ticks_per_s": (ticks_done / (timed_commits[idx[-1]][0] - due[0])
                            if lat and idx[-1] is not None else 0.0, "ticks/s"),
            "latency_p50_s": (median(lat) if lat else 0.0, "s"),
        },
        attempted=timed_rounds, failed=failed, mismatches=mismatches,
        notes=[f"backlog_rounds = {backlog} count (due but uncommitted when the schedule ended)",
               "latency_tail_s = " + (f"{tl[1]:.6g} s (p{tl[0]:.1f} of {tl[2]} rounds)" if tl
                                      else f"omitted ({len(lat)} rounds: fewer than 10 beyond "
                                           "any percentile above the median)"),
               f"round_latencies_s = {[round(x, 3) for x in lat]}",
               f"batch_walls_s = {[round(x / 1e6, 3) for x in pipe.metrics.latencies_us]}",
               f"schedule = {timed_rounds} timed rounds every {INTERVAL_S} s after "
               f"{WARMUP_ROUNDS} warm-up rounds; {STREAMS} streams x {LINES_PER_FILE} lines",
               f"generator_late_s = max {max(late, default=0):.4f}, "
               f"median {median(late) if late else 0:.4f}",
               f"failures = {idx.count(None)} uncommitted rounds, {broken} broadcasts with a "
               f"failed consumer, {timeouts} drain timeouts"],
    )
    if ctx.traced:
        m = pipe.metrics
        batches = max(len(m.latencies_us) - base[0], 1)
        mon = mgr.stats()["monitoring"]
        jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(run_id))
        out.layers = {
            "session.start_s": (ctx.session_start_s, "s"),
            "runner.batch_s": (median(m.latencies_us[base[0]:] or [0]) / 1e6, "s"),
            "runner.queue_wait_s": (median(waits) if waits else 0.0, "s"),
            "runner.jobs_per_batch": (jobs / max(len(m.latencies_us), 1), "count"),
            "state.advance_s_per_batch": ((m.signal_processing_time_us - base[1]) / batches / 1e6,
                                          "s"),
            "fanout.broadcast_s_per_batch": ((m.broadcast_time_us - base[2]) / batches / 1e6, "s"),
            "fanout.priority_write_s": (median(prio_walls[base[3]:] or [0.0]), "s"),
            "fanout.monitoring_delivered_share": (
                mon["messages_sent"] / max(mon["messages_sent"] + mon["messages_dropped"], 1),
                "ratio"),
            "persistence.snapshot_bytes": (os.path.getsize(state_path), "bytes"),
        }
    return out
