"""Tick sources.

S1-S3 from SURVEY.md §2.1: semicolon tick-file scan, tokenizer and
malformed-record skip (/root/reference/src/VolumeExpansion.jl:95-113,
:145-218). One parse (``_parse_tick_lines``) serves every tick-file
reader: read_tick_file (one file, one global line order), read_tick_files
(one stream per file) and the live runner's micro-batch read (one
stream per key, streaming/runner.py). Plus a deterministic derivation of
the same tick shape from the `events` parquet table, used so the Spark
engine and the DuckDB oracle see identical inputs without writing new
files.

Scale note: the reader is a plain distributed text scan; `line_no` is a
within-stream ordering key. At 100 TB you ingest one file/partition per
session (trading day) and make `stream_id` a partition column — every
downstream window partitions by it, so no global single-partition
ordering ever materializes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tickdatapipeline_spark.sources.io import read_parquet

# Raw tick schema: "yyyymmdd hhmmss uuuuuuu;bid;ask;last;volume"
# (README.md:137-154, VolumeExpansion.jl:84-113)


def _parse_tick_lines(
    lines: DataFrame, part: list[str], order: "list[Column]"
) -> DataFrame:
    """The one tick-line parse: a text scan's ``value`` column ->
    (*part, line_no, ts_str, bid, ask, last, volume).

    Mirrors parse_tick_line (VolumeExpansion.jl:95-113): split on ';',
    require exactly 5 fields, integer-parse fields 2-5 (null on failure),
    silently drop empty/malformed lines (:162-171). ``line_no`` numbers
    the *parsed* lines per ``part`` in (``order``, scan position) order,
    matching the reference's first_tick/previous_last bookkeeping which
    only advances on successful parses. ``order`` holds expressions the
    numbering window evaluates on the scanned rows (the runner's file
    name). The scan position is taken in the scan's own tasks after the
    blank/malformed-line filters, which keep the rows' order, so it
    follows file byte order.
    """
    parts = F.split(F.col("value"), ";")
    fields = ["bid", "ask", "last", "volume"]
    df = (
        lines.where((F.length(F.trim(F.col("value"))) > 0) & (F.size(parts) == 5))
        # F.get is 0-based and null-safe on short arrays (ANSI mode keeps
        # element_at strict); try_cast nulls out non-integer fields.
        .select(
            *part,
            F.trim(F.get(parts, 0)).alias("ts_str"),
            *[F.trim(F.get(parts, i + 1)).try_cast("long").alias(c)
              for i, c in enumerate(fields)],
        )
        .where(F.col("bid").isNotNull() & F.col("ask").isNotNull()
               & F.col("last").isNotNull() & F.col("volume").isNotNull())
    )
    w = Window.partitionBy(*part).orderBy(*order, F.monotonically_increasing_id())
    return df.select(*part, F.row_number().over(w).alias("line_no"), "ts_str", *fields)


def read_tick_file(spark: SparkSession, path: str) -> DataFrame:
    """Parse a semicolon tick file into (line_no, ts_str, bid, ask, last, volume).

    ``line_no`` numbers the parsed lines in file order (see
    ``_parse_tick_lines``) through one SinglePartition row_number window.
    """
    return _parse_tick_lines(spark.read.text(path), [], [])


# --- deterministic events -> ticks derivation (shared with DuckDB oracle) ---
#
# Pure 64-bit integer arithmetic (an LCG step on event_id) so both engines
# compute bit-identical inputs. Produces out-of-range spikes every 211th
# event (exercises hold-last, TickHotLoopF32.jl:304-326) and +75 jumps
# every 97th event (exercises the jump guard :347-351).

# field derivation without the line_no window, so the Spark two-pass
# path can number lines distributedly; the windowed wrapper below is the
# oracle/default shape
_TICKS_FIELDS_CORE = """
SELECT
    event_id,
    printf('%08d %06d 0000000',
           20250319 + event_id // 240000,
           event_id % 240000)                                     AS ts_str,
    CAST(px - 1 AS BIGINT)                                        AS bid,
    CAST(px + 1 AS BIGINT)                                        AS ask,
    CAST(px AS BIGINT)                                            AS last,
    CAST(1 + m % 5 AS BIGINT)                                     AS volume
FROM (
    SELECT event_id, m,
           CASE WHEN event_id % 211 = 0 THEN 99999
                ELSE 41970 + (m % 101) - 50
                     + CASE WHEN event_id % 97 = 0 THEN 75 ELSE 0 END
           END AS px
    FROM (
        SELECT event_id,
               (event_id * 1103515245 + 12345) % 2147483648 AS m
        FROM {events}
    )
)
"""

_TICKS_FROM_EVENTS_CORE = (
    "SELECT row_number() OVER (ORDER BY event_id) AS line_no,\n"
    "       ts_str, bid, ask, last, volume\n"
    "FROM (" + _TICKS_FIELDS_CORE + ")"
)

# DuckDB dialect: // is integer division, printf is C-style.
TICKS_FROM_EVENTS_SQL = _TICKS_FROM_EVENTS_CORE.format(events="events")


def _spark_dialect(sql: str) -> str:
    # Spark dialect: DIV for integer division; format_string == printf.
    return sql.replace("event_id // 240000", "event_id DIV 240000").replace(
        "printf(", "format_string(")


def ticks_base_from_events(
    spark: SparkSession, sf_dir: str, chunk_size: int
) -> DataFrame:
    """Chunked pre-numbering fixture frame: fields + the shared chunk id
    (event_id DIV chunk_size), pinned once so the chain's offsets
    subqueries and the main plan all read one materialization (each
    operator builds its own in-plan offsets over it — see
    plans/common._chain)."""
    from tickdatapipeline_spark.functions.scale import fan_out
    from tickdatapipeline_spark.operators.globalorder import add_chunk, pin

    read_parquet(spark, f"{sf_dir}/events.parquet").createOrReplaceTempView("__events_src")
    base = spark.sql(_spark_dialect(_TICKS_FIELDS_CORE).format(events="__events_src"))
    # a small events file arrives as ONE scan partition, which would
    # serialize the pin's materialization AND every downstream consumer
    # of the checkpoint (offsets groupBys, the expansion's explode all
    # read the pin's partitioning); fan_out is a no-op at scale, where
    # the scan already has many splits (guide: repartition right after a
    # narrow read, before the row-multiplying stages)
    return pin(fan_out(_mark_dense(add_chunk(base, "event_id", chunk_size),
                                   chunk_size)))


def _mark_dense(df: DataFrame, chunk_size: int) -> DataFrame:
    """Declare the closed-form line-numbering contract on the chunk
    column (r15, density guard): downstream, expand_volume's existing
    per-chunk offsets aggregate verifies that ``line_no`` really is the
    dense 1-based row number (``GO_CHUNK == (line_no-1) DIV
    chunk_size``) and RAISES loudly on a gapped/duplicated/re-keyed
    events table instead of silently misnumbering every line — the
    closed form ``line_no = event_id + 1`` is exact ONLY for contiguous
    0-based event_ids (the fixture generator's invariant). Schema
    metadata survives select/repartition/localCheckpoint, so the claim
    rides the frame to the first consumer that already aggregates per
    chunk; the check itself is therefore free (no extra pass)."""
    from tickdatapipeline_spark.operators.globalorder import GO_CHUNK

    cols = [
        F.col(c) if c != GO_CHUNK else F.col(GO_CHUNK).alias(
            GO_CHUNK,
            metadata={"go_dense_order": "line_no",
                      "go_chunk_size": int(chunk_size)},
        )
        for c in df.columns
    ]
    return df.select(*cols)


def ticks_from_events(
    spark: SparkSession, sf_dir: str, chunk_size: int | None = None,
) -> DataFrame:
    """ticks_raw fixture derived from {sf_dir}/events.parquet (FIXTURES.md F1).

    With ``chunk_size``, line numbering uses the two-pass chunked
    formulation (operators/globalorder.py) instead of a SinglePartition
    row_number window: local row_number per event_id-chunk + broadcast
    in-plan count offsets. Values are identical; the output carries the
    chunk column so downstream operators reuse its partitioning.
    """
    if chunk_size is None:
        read_parquet(spark, f"{sf_dir}/events.parquet").createOrReplaceTempView("__events_src")
        return spark.sql(_spark_dialect(_TICKS_FROM_EVENTS_CORE).format(events="__events_src"))

    from tickdatapipeline_spark.operators.globalorder import GO_CHUNK

    # closed-form line numbering (r14): row_number() OVER (ORDER BY
    # event_id) over the driver generator's contiguous 0-based event_ids
    # is exactly event_id + 1 — the same closed form
    # ticks_from_events_streams already uses per stream — so the chunked
    # source needs neither a per-chunk row_number window nor a
    # chunk-offsets subquery (one full-data window pass and one offsets
    # job fewer per query; values identical, oracle-hash-verified).
    base = ticks_base_from_events(spark, sf_dir, chunk_size)
    return base.select(
        (F.col("event_id") + 1).cast("long").alias("line_no"),
        "ts_str", "bid", "ask", "last", "volume", GO_CHUNK,
    )


def read_tick_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """Multi-file scan: one logical stream per file (the deployment unit).

    Output adds a `stream` column (the file path as ``input_file_name()``
    reports it); the parse is read_tick_file's, but `line_no` restarts per
    file and every window downstream partitions by stream — this is the
    read path that scales, unlike read_tick_file's single global order.
    The live runner reads a micro-batch the same way, keyed by stream
    instead of by file.
    """
    lines = spark.read.text(path_glob).select("value", F.input_file_name().alias("stream"))
    return _parse_tick_lines(lines, ["stream"], [])


# --- multi-stream variant: the 100 TB deployment shape ---
#
# One logical stream per session/day; here streams are derived by
# event_id % N so both engines agree. line_no is PER-STREAM, and every
# downstream window partitions by `stream` — no global ordering, no
# single-partition shuffle anywhere in the plan.

_TICKS_STREAMS_CORE = """
SELECT
    CAST(event_id % {n_streams} AS BIGINT)                        AS stream,
    row_number() OVER (PARTITION BY event_id % {n_streams}
                       ORDER BY event_id)                         AS line_no,
    printf('%08d %06d 0000000',
           20250319 + event_id {intdiv} 240000,
           event_id % 240000)                                     AS ts_str,
    CAST(px - 1 AS BIGINT)                                        AS bid,
    CAST(px + 1 AS BIGINT)                                        AS ask,
    CAST(px AS BIGINT)                                            AS last,
    CAST(1 + m % 5 AS BIGINT)                                     AS volume
FROM (
    SELECT event_id, m,
           CASE WHEN event_id % 211 = 0 THEN 99999
                ELSE 41970 + (m % 101) - 50
                     + CASE WHEN event_id % 97 = 0 THEN 75 ELSE 0 END
           END AS px
    FROM (
        SELECT event_id,
               (event_id * 1103515245 + 12345) % 2147483648 AS m
        FROM {events}
    )
)
"""

N_STREAMS = 4


def ticks_streams_sql(n_streams: int = N_STREAMS) -> str:
    """DuckDB dialect."""
    return _TICKS_STREAMS_CORE.format(n_streams=n_streams, intdiv="//", events="events")


def ticks_from_events_streams(
    spark: SparkSession, sf_dir: str, n_streams: int = N_STREAMS,
    chunk_size: int | None = None,
) -> DataFrame:
    """With ``chunk_size``: the at-scale variant — per-stream line_no
    comes from the closed form ``event_id DIV n_streams + 1`` (exact for
    the driver generator's contiguous 0-based event_ids, identical to
    the row_number the windowed form computes) and the frame carries the
    per-stream chunk column, so not even the SOURCE plans a per-stream
    serial window."""
    read_parquet(spark, f"{sf_dir}/events.parquet").createOrReplaceTempView("__events_src")
    sql = _TICKS_STREAMS_CORE.format(
        n_streams=n_streams, intdiv="DIV", events="__events_src"
    ).replace("printf(", "format_string(")
    if chunk_size is None:
        return spark.sql(sql)
    from tickdatapipeline_spark.functions.scale import fan_out
    from tickdatapipeline_spark.operators.globalorder import add_chunk, pin

    closed = sql.replace(
        f"row_number() OVER (PARTITION BY event_id % {n_streams}\n"
        f"                       ORDER BY event_id)",
        f"CAST(event_id DIV {n_streams} + 1 AS BIGINT)",
    )
    assert closed != sql, "line_no window not found for closed-form rewrite"
    # same single-scan-partition hazard as ticks_base_from_events: fan
    # out before the pin so the checkpoint and its consumers parallelize.
    # _mark_dense: the per-stream closed form line_no = event_id DIV
    # n_streams + 1 is exact only for contiguous event_ids — declare the
    # contract so the expansion's offsets pass verifies it per stream.
    return pin(fan_out(_mark_dense(
        add_chunk(spark.sql(closed), "line_no - 1", chunk_size), chunk_size)))
