"""Multi-consumer broadcast with priority semantics (C1-C4).

Mirrors the reference's TripleSplitManager
(/root/reference/src/TripleSplitSystem.jl:16-20, 109-305): named
consumers of type PRIORITY / MONITORING / ANALYTICS, duplicate-id
rejection, broadcast-to-all with per-consumer delivery accounting.

Channel emulation (TripleSplitSystem.jl:221-259): every consumer owns a
bounded buffer whose occupancy carries over between micro-batches.

- PRIORITY: blocking put — every row is always delivered; the producer
  absorbs the wait as batch latency (`put!` on a full Channel blocks the
  broadcaster, it never drops). `messages_dropped` stays 0 by
  construction, exactly like the reference's PRIORITY branch.
- MONITORING / ANALYTICS: drop-on-full — a batch first fills the free
  space (`buffer_size - fill`); overflow rows are counted in
  `messages_dropped` and never delivered (the reference's
  `n_avail_items < buffer_size` check). The consumer then drains at most
  `drain_rate` rows from the buffer head per batch interval (its
  processing speed); `drain_rate=None` models a consumer that keeps up.

`fill_ratio` is buffer occupancy (`n_avail_items / buffer_size`,
TripleSplitSystem.jl:296-305), not a delivery percentage. Rows enter the
buffer in `tick_idx` order, so which rows drop is deterministic.

Buffered rows are MATERIALIZED at enqueue (collect of the accepted head
slice): a real channel copies messages into its buffer, so a drain
several batch intervals later must deliver the rows as they were
accepted — never re-execute a lazy plan against a source that may have
rotated or a micro-batch frame the runner has since unpersisted. The
driver-side footprint is bounded by `buffer_size` rows per consumer by
construction, the same memory the reference's `Channel{BroadcastMessage}`
holds in-process (TripleSplitSystem.jl:230-258).
"""

from __future__ import annotations

import logging
import threading
from collections import deque
from collections.abc import Callable
from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


class ConsumerType(Enum):
    PRIORITY = "PRIORITY"
    MONITORING = "MONITORING"
    ANALYTICS = "ANALYTICS"


@dataclass
class ConsumerStats:
    messages_sent: int = 0      # rows successfully enqueued (reference: put! ok)
    messages_dropped: int = 0   # rows rejected on a full buffer
    batches: int = 0


@dataclass
class Consumer:
    consumer_id: str
    ctype: ConsumerType
    buffer_size: int
    sink: Callable[[DataFrame, int], None]  # (batch_df, batch_id) -> None
    drain_rate: int | None = None  # rows processed per batch interval; None = keeps up
    stats: ConsumerStats = field(default_factory=ConsumerStats)
    fill: int = 0                                   # buffered, not yet drained
    _pending: deque = field(default_factory=deque)  # (list[Row], schema) FIFO

    @property
    def fill_ratio(self) -> float:
        return self.fill / self.buffer_size if self.buffer_size else 0.0


class TripleSplitManager:
    """Consumer registry + batch broadcaster."""

    def __init__(self) -> None:
        self._consumers: dict[str, Consumer] = {}
        self._lock = threading.Lock()
        self.total_broadcasts = 0
        self.successful_broadcasts = 0

    def subscribe(
        self,
        consumer_id: str,
        ctype: ConsumerType,
        sink: Callable[[DataFrame, int], None],
        buffer_size: int = 2048,
        drain_rate: int | None = None,
    ) -> Consumer:
        with self._lock:
            if consumer_id in self._consumers:
                raise ValueError(f"consumer id already subscribed: {consumer_id}")
            c = Consumer(consumer_id, ctype, buffer_size, sink, drain_rate)
            self._consumers[consumer_id] = c
            return c

    def unsubscribe(self, consumer_id: str) -> bool:
        with self._lock:
            return self._consumers.pop(consumer_id, None) is not None

    @staticmethod
    def _deliver(c: Consumer, df: DataFrame, n_rows: int, batch_id: int) -> int:
        """One batch interval for one consumer; returns rows dropped."""
        if c.ctype is ConsumerType.PRIORITY:
            # blocking put: always delivered in full, never buffered-out
            c.sink(df, batch_id)
            c.stats.messages_sent += n_rows
            return 0
        # drop-on-full enqueue: pin the accepted head slice NOW (channel
        # copy semantics) — a later drain must not re-execute this plan
        space = max(c.buffer_size - c.fill, 0)
        accepted = min(n_rows, space)
        dropped = n_rows - accepted
        if accepted > 0:
            head = df.orderBy(F.col("tick_idx"))
            if accepted < n_rows:
                head = head.limit(accepted)
            c._pending.append((head.collect(), df.schema))
            c.fill += accepted
        c.stats.messages_sent += accepted
        c.stats.messages_dropped += dropped
        # drain: the consumer processes up to drain_rate rows this interval
        quota = c.fill if c.drain_rate is None else min(c.drain_rate, c.fill)
        spark = df.sparkSession
        while quota > 0 and c._pending:
            rows, schema = c._pending[0]
            take = rows if len(rows) <= quota else rows[:quota]
            c.sink(spark.createDataFrame(take, schema=schema), batch_id)
            if len(rows) <= quota:
                c._pending.popleft()
            else:
                c._pending[0] = (rows[quota:], schema)
            c.fill -= len(take)
            quota -= len(take)
        return dropped

    def broadcast_batch(self, df: DataFrame, batch_id: int = 0) -> tuple[int, int, int]:
        """Deliver one batch to every consumer; returns
        (n_consumers, n_successful, total_rows_dropped).

        PRIORITY consumers are served first, and one's exception
        propagates: its delivery is guaranteed, so the caller must not
        commit the batch and the stream replays it. Because no other
        consumer has seen the batch yet, the replay reaches each of them
        once. The failed attempt counts as a broadcast that did not
        succeed. A MONITORING/ANALYTICS failure is logged and counted as
        unsuccessful; it never takes down the pipeline."""
        with self._lock:  # snapshot under lock, deliver outside
            consumers = sorted(self._consumers.values(),
                               key=lambda c: c.ctype is not ConsumerType.PRIORITY)
        n_rows = df.count()
        self.total_broadcasts += 1
        successful = 0
        dropped_total = 0
        for c in consumers:
            try:
                dropped_total += self._deliver(c, df, n_rows, batch_id)
                c.stats.batches += 1
                successful += 1
            except Exception:
                if c.ctype is ConsumerType.PRIORITY:
                    raise
                log.warning("consumer %s failed on batch %d", c.consumer_id, batch_id,
                            exc_info=True)
        if successful == len(consumers):
            self.successful_broadcasts += 1
        return len(consumers), successful, dropped_total

    def stats(self) -> dict[str, dict]:
        with self._lock:
            return {
                cid: {
                    "type": c.ctype.value,
                    "messages_sent": c.stats.messages_sent,
                    "messages_dropped": c.stats.messages_dropped,
                    "fill_ratio": c.fill_ratio,
                    "batches": c.stats.batches,
                }
                for cid, c in self._consumers.items()
            }
