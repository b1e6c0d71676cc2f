"""Volume expansion: the reference's signature 1->N row generator.

P1-P5 of SURVEY.md §2.2 (/root/reference/src/VolumeExpansion.jl:145-218):

- each parsed line is replicated `volume` times (`explode(sequence(...))`);
- replica 1 carries `price_delta = last - previous_last` (0 on the very
  first line), replicas 2..V carry 0 (:184-194);
- a dense 1-based `tick_idx` is assigned across the expanded stream (:177);
- the first 8 chars of the timestamp string are bit-packed into an Int64,
  8 bits per char (:46-59).

Scale note: the two windows here (`lag` over lines and `row_number` over
the expanded stream) are the only global-order operations in the engine.
They partition by `stream_id` when one is supplied, which is how a
100 TB deployment runs this: one logical stream per session/day file,
windows local to the partition, no single-partition shuffle.
"""

from __future__ import annotations

from collections import namedtuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tickdatapipeline_spark.operators.globalorder import (
    GO_CHUNK,
    add_chunk,
    chunk_offsets_plan,
    fixed_repartition,
    running_last,
    running_sum,
    seed_columns,
)

# a stream's expansion seed: its previous batch's last price and ticks
_XpSeed = namedtuple("_XpSeed", "prev_last tick0", defaults=(None, 0))


def packed_timestamp(ts_col: Column) -> Column:
    """ASCII-pack the first 8 chars into a 64-bit int (VolumeExpansion.jl:46-59).

    result = fold over i=1..k of (acc << 8) | char_i  with k = min(8, len),
    equivalently sum(char_i * 256^(k-i)).

    Each codepoint is masked to 8 bits: for the ASCII timestamps of the
    tick format this is an exact match of the reference's byte fold,
    and a malformed line with a NON-ASCII char in the timestamp packs
    to a deterministic (reference-divergent) value instead of blowing
    past 2^63 — under ANSI mode an unmasked codepoint >= 128 in the
    leading position would kill the whole job with ARITHMETIC_OVERFLOW,
    violating the source layer's drop-malformed-quietly policy.
    """
    k = F.least(F.lit(8), F.length(ts_col))
    parts = [
        F.when(
            F.lit(i) <= k,
            F.ascii(F.substring(ts_col, i, 1)).bitwiseAND(F.lit(255)).cast("long")
            * F.pow(F.lit(256.0), (k - F.lit(i)).cast("double")).cast("long"),
        ).otherwise(F.lit(0))
        for i in range(1, 9)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out + p
    return out


def unpacked_timestamp(packed: Column) -> Column:
    """P4 inverse of packed_timestamp: Int64 -> the 8-char prefix string
    (VolumeExpansion.jl:68-81) — concat of (packed >> 8*(8-i)) & 255."""
    chars = [
        F.char(F.shiftright(packed, 8 * (8 - i)).bitwiseAND(F.lit(255)))
        for i in range(1, 9)
    ]
    return F.concat(*chars)


def expand_volume(
    ticks_raw: DataFrame,
    stream_id: str | None = None,
    *,
    seeds: "dict | None" = None,
    chunk_size: int | None = None,
    valid_price_range: "tuple[int, int] | None" = None,
) -> DataFrame:
    """ticks_raw(line_no, ts_str, bid, ask, last, volume) -> expanded ticks.

    Output: stream cols + (tick_idx, timestamp, raw_price, price_delta,
    replica_idx, line_no).

    Streaming seeds (micro-batch continuation, see streaming/state.py):
    with ``stream_id``, ``seeds`` = {stream_key: (prev_last | None,
    tick0)} — the last price of the stream's previous batch (its first
    line's delta becomes last - prev_last instead of 0) and the ticks it
    emitted so far (tick_idx stays dense across batches) — read in-plan
    by a literal lookup on the stream key (globalorder.seed_columns). A
    single stream is the one-key map. None == start of every stream.

    ``chunk_size``: use the two-pass chunked formulation
    (operators/globalorder.py) — no SinglePartition window; with
    ``stream_id`` every chunk window and offsets prefix is per-stream.
    The lag's cross-chunk patch is the previous chunk's final price; the
    tick numbering offset is the running sum of per-chunk expanded-row
    counts (sum of volumes) — both in-plan broadcast subqueries, added
    to the seed like the window prefix. Output additionally carries the
    chunk column for downstream reuse.

    ``valid_price_range`` (chunked path only): fused-offsets hand-off
    to the hot loop. Validity is a pure function of a line's price and
    every replica of a line shares its price and its chunk, so the hot
    loop's per-chunk valid-count offsets (count of valid EXPANDED rows
    in preceding chunks) equal the running sum of
    ``volume x [price in range]`` over LINES — computable inside this
    operator's existing line-table offsets pass for free. When set, the
    output carries that offset as ``_go_v0`` on every row and
    ``hot_loop`` (same range in its config) skips its own full-data
    offsets subquery + broadcast join. The caller owns the contract
    that the range equals the hot-loop config's (min_price, max_price).
    """
    part = [stream_id] if stream_id else []
    seed = seed_columns(seeds and {k: _XpSeed(*v) for k, v in seeds.items()},
                        stream_id, _XpSeed(), ["prev_last", "tick0"])
    use_chunks = chunk_size is not None
    order = part + [GO_CHUNK] if use_chunks else part
    extra_cols: tuple = ()
    if use_chunks:
        ticks_raw = add_chunk(ticks_raw, "line_no", chunk_size)
        # density guard (r15): a source whose line numbering is the
        # closed form over a claimed-dense key (ticks_from_events[_streams]
        # with chunk_size) marks its chunk column with metadata; the
        # offsets aggregate below already touches every line once per
        # chunk, so the contiguity check rides it for free and raises
        # loudly on a gapped/duplicated events table (see
        # chunk_offsets_plan ``dense``).
        dn_meta = ticks_raw.schema[GO_CHUNK].metadata
        dense = (
            (dn_meta["go_dense_order"], int(dn_meta["go_chunk_size"]))
            if "go_dense_order" in dn_meta else None
        )
        # in-plan offsets: (final price of preceding chunks, expanded-row
        # count of preceding chunks [, valid expanded-row count — the
        # fused hot-loop offset, see the docstring])
        sums = {"_go_t0": F.when(F.col("volume") >= 1, F.col("volume")).otherwise(F.lit(0))}
        extra_cols = (GO_CHUNK,)
        if valid_price_range is not None:
            lo, hi = valid_price_range
            sums["_go_v0"] = F.when(
                (F.col("volume") >= 1)
                & F.col("last").between(F.lit(int(lo)), F.lit(int(hi))),
                F.col("volume"),
            ).otherwise(F.lit(0))
            extra_cols = (GO_CHUNK, "_go_v0")
        chunk_offsets = chunk_offsets_plan(
            ticks_raw, sums=sums,
            carries={"_go_prev": (F.col("line_no"), F.col("last"))},
            keys=part, dense=dense,
        )
        ticks_raw = fixed_repartition(
            ticks_raw.join(F.broadcast(chunk_offsets), on=part + [GO_CHUNK], how="left"),
            part + [GO_CHUNK],
        )
    w_lines = Window.partitionBy(*order).orderBy("line_no")
    w_ticks = Window.partitionBy(*order).orderBy("line_no", "replica_idx")

    # volume < 1 must yield ZERO replicas (Julia `for 1:0` is empty), but
    # Spark's sequence(start, stop) auto-steps -1 when stop < start — so
    # gate it; explode(NULL) emits no rows, matching generate_series(1,0)
    seq = F.when(F.col("volume") >= 1, F.sequence(F.lit(1), F.col("volume")))
    # the lag reads the line table, so its window runs before the explode
    df = ticks_raw.select("*", F.lag("last").over(w_lines).alias("prev_last")).select(
        "*", F.explode(seq).alias("replica_idx"))

    def go(col: str) -> "str | None":
        """A running quantity's chunk-offset column: chunked plans only."""
        return col if use_chunks else None

    prev = running_last(F.col("prev_last"), go("_go_prev"), seed["prev_last"])
    delta = (
        F.when(prev.isNull(), F.lit(0))
        .when(F.col("replica_idx") == 1, F.col("last") - prev)
        .otherwise(F.lit(0))
    )
    tick_idx = running_sum(F.row_number().over(w_ticks), go("_go_t0"), seed["tick0"])
    return df.select(
        *part, "line_no", "replica_idx",
        tick_idx.cast("long").alias("tick_idx"),
        packed_timestamp(F.col("ts_str")).alias("timestamp"),
        F.col("last").cast("long").alias("raw_price"),
        delta.cast("long").alias("price_delta"),
        # the chunk column leaves without its metadata: the source's
        # dense-``line_no`` claim does not hold for the replicas
        *[F.col(c).alias(c, metadata={}) for c in extra_cols],
    )
