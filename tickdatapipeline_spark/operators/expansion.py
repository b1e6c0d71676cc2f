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

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


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


def _expand_rows(df: DataFrame, part: list[str], w_ticks, tick0_col,
                 extra_cols: tuple = ()) -> DataFrame:
    """Shared explode+delta+select of both expand_volume formulations —
    the semantics live here ONCE; the two callers differ only in window
    specs and how prev_last/tick0 are derived.

    Expects ``prev_last`` already attached. volume < 1 must yield ZERO
    replicas (Julia `for 1:0` is empty), but Spark's sequence(start,
    stop) auto-steps -1 when stop < start — so gate it; explode(NULL)
    emits no rows, matching generate_series(1,0). ``extra_cols`` leave
    without their metadata: the source's dense-``line_no`` claim on the
    chunk column does not hold for the replicas."""
    seq = F.when(F.col("volume") >= 1, F.sequence(F.lit(1), F.col("volume")))
    df = df.withColumn("replica_idx", F.explode(seq))
    delta = (
        F.when(F.col("prev_last").isNull(), F.lit(0))
        .when(F.col("replica_idx") == 1, F.col("last") - F.col("prev_last"))
        .otherwise(F.lit(0))
    )
    return df.select(
        *part, "line_no", "replica_idx",
        (F.row_number().over(w_ticks) + tick0_col).cast("long").alias("tick_idx"),
        packed_timestamp(F.col("ts_str")).alias("timestamp"),
        F.col("last").cast("long").alias("raw_price"),
        delta.cast("long").alias("price_delta"),
        *[F.col(c).alias(c, metadata={}) for c in extra_cols],
    )


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
    emitted so far (tick_idx stays dense across batches) — rides a
    broadcast join of the (tiny) seed table. A single stream is the
    one-key map. None == start of every stream.

    ``chunk_size``: use the two-pass chunked formulation
    (operators/globalorder.py) — no SinglePartition window; with
    ``stream_id`` every chunk window and offsets prefix is per-stream.
    Only seeded calls stay on the windowed path.
    The lag's cross-chunk patch is the previous chunk's final price; the
    tick numbering offset is the running sum of per-chunk expanded-row
    counts (sum of volumes) — both in-plan broadcast subqueries. Output
    additionally carries the chunk column for downstream reuse.

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
    if chunk_size is not None and seeds is None:
        return _expand_volume_chunked(
            ticks_raw, chunk_size, stream_id=stream_id,
            valid_price_range=valid_price_range,
        )
    part = [stream_id] if stream_id else []
    w_lines = Window.partitionBy(*part).orderBy("line_no")
    w_ticks = Window.partitionBy(*part).orderBy("line_no", "replica_idx")

    tick0_col = F.lit(0)
    prev = F.lag("last").over(w_lines)
    if seeds is not None:
        if not stream_id:
            raise ValueError("per-stream seeds require stream_id")
        key_t = ticks_raw.schema[stream_id].dataType.simpleString()
        sd = ticks_raw.sparkSession.createDataFrame(
            [(k, pl, t0) for k, (pl, t0) in seeds.items()],
            f"{stream_id} {key_t}, _xp_prev long, _xp_t0 long",
        )
        ticks_raw = ticks_raw.join(F.broadcast(sd), on=stream_id, how="left")
        prev = F.coalesce(prev, F.col("_xp_prev"))
        tick0_col = F.coalesce(F.col("_xp_t0"), F.lit(0))
    df = ticks_raw.withColumn("prev_last", prev)
    return _expand_rows(df, part, w_ticks, tick0_col)


def _expand_volume_chunked(
    ticks_raw: DataFrame,
    chunk_size: int,
    *,
    stream_id: str | None = None,
    valid_price_range: "tuple[int, int] | None" = None,
) -> DataFrame:
    """Two-pass expand_volume (see expand_volume docstring). With
    ``stream_id`` the chunk order — and every offsets prefix — is local
    to the stream: windows partition by (stream, chunk)."""
    from tickdatapipeline_spark.operators.globalorder import (
        GO_CHUNK,
        add_chunk,
        chunk_offsets_plan,
    )

    part = [stream_id] if stream_id else []
    lines = add_chunk(ticks_raw, "line_no", chunk_size)
    # density guard (r15): a source whose line numbering is the closed
    # form over a claimed-dense key (ticks_from_events[_streams] with
    # chunk_size) marks its chunk column with metadata; the offsets
    # aggregate below already touches every line once per chunk, so the
    # contiguity check rides it for free and raises loudly on a gapped/
    # duplicated events table (see chunk_offsets_plan ``dense``).
    dn_meta = (ticks_raw.schema[GO_CHUNK].metadata
               if GO_CHUNK in ticks_raw.columns else {})
    dense = (
        (dn_meta["go_dense_order"], int(dn_meta["go_chunk_size"]))
        if "go_dense_order" in dn_meta else None
    )
    # in-plan offsets: (final price of preceding chunks, expanded-row
    # count of preceding chunks [, valid expanded-row count — the fused
    # hot-loop offset, see expand_volume docstring])
    sums = {
        "_go_t0": F.when(
            F.col("volume") >= 1, F.col("volume")
        ).otherwise(F.lit(0))
    }
    extra_cols: tuple = (GO_CHUNK,)
    if valid_price_range is not None:
        lo, hi = valid_price_range
        sums["_go_v0"] = F.when(
            (F.col("volume") >= 1)
            & F.col("last").between(F.lit(int(lo)), F.lit(int(hi))),
            F.col("volume"),
        ).otherwise(F.lit(0))
        extra_cols = (GO_CHUNK, "_go_v0")
    chunk_offsets = chunk_offsets_plan(
        lines,
        sums=sums,
        carries={"_go_prev": (F.col("line_no"), F.col("last"))},
        keys=part,
        dense=dense,
    )
    df = lines.join(F.broadcast(chunk_offsets), on=part + [GO_CHUNK], how="left")

    # EXPLICIT exchange for the window chain, with a pinned partition
    # count (r14, guide §2.5 input skew / §1.2): the implicit
    # ENSURE_REQUIREMENTS exchange here is byte-coalesced by AQE, and
    # the line frame is narrow — at sf0.1 AQE squeezed it to TWO
    # partitions, serializing every downstream stage (the explode
    # multiplies rows ~10x and the whole chunk-keyed hot loop inherits
    # this partitioning, so the per-byte estimate undercounts the
    # per-ROW compute by an order of magnitude). An explicit
    # repartition(n, keys) is AQE-coalesce-exempt; n is the session's
    # shuffle parallelism (scale-adaptive: deployments size
    # spark.sql.shuffle.partitions to the cluster), and the exchange
    # still moves LINES, never the exploded replicas.
    n_shuffle = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    df = df.repartition(n_shuffle, *(part + [GO_CHUNK]))

    w_lines = Window.partitionBy(*part, GO_CHUNK).orderBy("line_no")
    w_ticks = Window.partitionBy(*part, GO_CHUNK).orderBy("line_no", "replica_idx")
    prev = F.coalesce(F.lag("last").over(w_lines), F.col("_go_prev"))
    df = df.withColumn("prev_last", prev)
    tick0_col = F.coalesce("_go_t0", F.lit(0))
    return _expand_rows(df, part, w_ticks, tick0_col, extra_cols=extra_cols)
