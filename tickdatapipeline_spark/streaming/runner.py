"""Live-mode pipeline: Structured Streaming file source + stateful
foreachBatch.

The reference's live mode is a Channel push loop with flow-control delay
(/root/reference/src/PipelineOrchestrator.jl:340-432,
VolumeExpansion.jl:18-30). The Spark analogue: watch a directory for
tick files (one file = one session/stream segment, the 100 TB partition
unit), process each micro-batch with the exact batch operators seeded by
StreamState (streaming/state.py), and fan out via TripleSplitManager.
Rate limiting is `maxFilesPerTrigger` instead of a busy-wait nanosleep —
the idiomatic Spark knob for the same goal (SURVEY.md §2.2 P10).

Ordering: Spark's file source admits files in MODIFICATION-TIME order
across micro-batches. Within a batch each file is re-read through
sources.tickfile.read_tick_file, which defines line order, and tagged
with its stream key; per stream, the batch is ordered by file name, then
line — one union, one seeded pass, however many files it holds. The
stream contract is therefore: a stream's files arrive (mtime) in stream
order and are named monotonically — which is how session/day capture
files are produced. A count-ordered stream cannot admit late data — there
is no watermark by design, matching the reference's strictly-ordered
Channel (SURVEY §2.9).
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tickdatapipeline_spark.config import SignalProcessingConfig
from tickdatapipeline_spark.operators.bars import BarSeed, enrich_ticks_with_bars
from tickdatapipeline_spark.sources.tickfile import read_tick_file
from tickdatapipeline_spark.streaming.fanout import TripleSplitManager
from tickdatapipeline_spark.streaming.metrics import PipelineMetrics
from tickdatapipeline_spark.streaming.persistence import load_snapshot, save_snapshot
from tickdatapipeline_spark.streaming.state import (
    KEY,
    ONE_KEY,
    OUT_COLS,
    StreamState,
    advance_bars_streams,
    advance_streams,
)


class StreamingTickPipeline:
    """run_pipeline! in live mode (O2/O3): start()/stop() lifecycle,
    per-batch metrics, graceful stop."""

    def __init__(
        self,
        spark: SparkSession,
        input_dir: str,
        cfg: SignalProcessingConfig,
        manager: TripleSplitManager,
        checkpoint_dir: str,
        max_files_per_trigger: int = 1,
        on_batch: Callable[[int, int], None] | None = None,
        bar_cfg=None,
        bar_sink: Callable[[DataFrame, int], None] | None = None,
        stream_key: Callable[[str], str] | None = None,
        enrich: bool = False,
        state_path: str | None = None,
    ) -> None:
        """``stream_key`` maps a file path to a logical stream id; files
        of the same stream continue each other's state, different streams
        are independent (e.g. per-symbol or per-day files), and output
        frames carry the key as a ``stream`` column. None = the
        reference's model: every file continues ONE stream — the one-key
        case of the same path, under the constant key ONE_KEY, with no
        key column in the output frames.

        ``state_path`` makes continuation state durable: a post-batch
        JSON snapshot (streaming/persistence.py) restored on restart;
        replayed batches (id <= snapshot's) are skipped, so state
        evolves exactly once even though foreachBatch is at-least-once.
        A PRIORITY consumer failure fails the batch before anything is
        committed, so the restarted stream replays it in full.

        ``enrich`` broadcasts B7-enriched ticks (bar columns on each
        bar-completing tick, nulls elsewhere — the managed live loop's
        process_tick_for_bars! message enrichment,
        /root/reference/src/PipelineOrchestrator.jl:155-156); requires
        an enabled ``bar_cfg``. Exact across batch splits because a
        bar's completing tick is always in the bar's completing batch."""
        self.spark = spark
        self.input_dir = input_dir
        self.cfg = cfg
        self.manager = manager
        self.checkpoint_dir = checkpoint_dir
        self.max_files_per_trigger = max_files_per_trigger
        self.on_batch = on_batch
        self.bar_cfg = bar_cfg
        self.bar_sink = bar_sink
        self.stream_key = stream_key
        if enrich and (bar_cfg is None or not bar_cfg.enabled):
            raise ValueError("enrich=True requires an enabled bar_cfg")
        self.enrich = enrich
        self.state_path = state_path
        self.states: dict[str, StreamState] = {}
        self.bar_states: dict[str, BarSeed] = {}
        self.ticks_processed = 0
        self._last_batch_id = -1
        if state_path is not None:
            snap = load_snapshot(state_path)
            if snap is not None:
                (self._last_batch_id, self.states, self.bar_states,
                 self.ticks_processed) = snap
        self.metrics = PipelineMetrics()  # O2 accumulator, one obs/batch
        self._query = None

    def _read_batch(self, batch_df: DataFrame) -> DataFrame | None:
        """The batch's files as one keyed ticks_raw frame (None if the
        batch holds no file). Each file is tagged with its stream key, and
        its line_no is offset by its rank among the batch's files of that
        stream (in name order), so line_no orders each stream by (file
        name, line)."""
        files = batch_df.select(F.input_file_name().alias("f")).distinct().collect()
        raw, rank = None, {}
        for path in sorted(r["f"] for r in files):
            key = self.stream_key(path) if self.stream_key else ONE_KEY
            rank[key] = rank.get(key, -1) + 1
            part = read_tick_file(self.spark, path).withColumns({
                KEY: F.lit(key), "line_no": F.col("line_no") + F.lit(rank[key] << 32),
            })
            raw = part if raw is None else raw.unionByName(part)
        return raw

    # -- one micro-batch: keyed read -> seeded ops -> one broadcast -------
    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= self._last_batch_id:
            return  # replayed batch: state already reflects it
        batch_t0 = time.perf_counter()
        raw = self._read_batch(batch_df)
        states, bar_states = self.states, self.bar_states
        signal_us = broadcast_us = broadcasts = errors = 0
        processed = bars = None
        try:
            if raw is not None:
                t_sig = time.perf_counter()
                processed, states = advance_streams(raw, self.cfg, states, KEY)
                signal_us = int((time.perf_counter() - t_sig) * 1e6)
                out = processed.select(KEY, *OUT_COLS)
                if self.bar_cfg is not None and self.bar_cfg.enabled:
                    bars, bar_states = advance_bars_streams(out, self.bar_cfg, bar_states, KEY)
                if self.enrich:
                    out = enrich_ticks_with_bars(out, bars, stream_id=KEY)
                keyless = self.stream_key is None
                t_bc = time.perf_counter()
                n, ok, _ = self.manager.broadcast_batch(
                    out.drop(KEY) if keyless else out, batch_id
                )
                broadcast_us = int((time.perf_counter() - t_bc) * 1e6)
                broadcasts, errors = 1, n - ok
                if bars is not None and self.bar_sink is not None:
                    self.bar_sink(bars.drop(KEY) if keyless else bars, batch_id)
        finally:
            for df in (bars, processed):
                if df is not None:
                    df.unpersist()
        ticks_before = self.ticks_processed
        self.states, self.bar_states = states, bar_states
        self.ticks_processed = sum(s.tick0 for s in states.values())
        self.metrics.record_batch(
            ticks=self.ticks_processed - ticks_before,
            total_us=int((time.perf_counter() - batch_t0) * 1e6),
            signal_us=signal_us,
            broadcast_us=broadcast_us,
            broadcasts=broadcasts,
            errors=errors,
        )
        self._last_batch_id = batch_id
        if self.state_path is not None:
            save_snapshot(
                self.state_path, batch_id=batch_id, states=self.states,
                bar_states=self.bar_states, ticks_processed=self.ticks_processed,
            )
        if self.on_batch is not None:
            self.on_batch(batch_id, self.ticks_processed)

    def start(self) -> None:
        stream = (
            self.spark.readStream.format("text")
            .option("maxFilesPerTrigger", str(self.max_files_per_trigger))
            .load(self.input_dir)
        )
        self._query = (
            stream.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .start()
        )

    def await_idle(self, timeout_s: float = 60.0) -> None:
        """Block until all currently-visible input is processed, or raise
        TimeoutError after ``timeout_s``.

        processAllAvailable() has no timeout of its own, so it runs on a
        worker thread that we join with the deadline; on timeout the
        stream keeps processing in the background (call stop() to halt)."""
        import threading

        assert self._query is not None, "start() first"
        exc: list[BaseException] = []

        def _drain() -> None:
            try:
                self._query.processAllAvailable()
            except BaseException as e:  # surfaced on the caller thread
                exc.append(e)

        t = threading.Thread(target=_drain, daemon=True)
        t.start()
        t.join(timeout_s)
        if t.is_alive():
            raise TimeoutError(f"stream did not drain within {timeout_s}s")
        if exc:
            raise exc[0]

    def stop(self) -> None:
        """Graceful stop (O3, PipelineOrchestrator.jl:454-457)."""
        if self._query is not None:
            self._query.stop()
            self._query = None
