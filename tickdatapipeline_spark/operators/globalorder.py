"""Two-pass exact global ordering: chunk-local prefixes + broadcast
chunk offsets, computed entirely IN-PLAN (SURVEY.md §4 item 1).

``Window.partitionBy()`` with no keys plans a SinglePartition exchange —
the one plan shape that cannot survive a single 100 TB stream. The
distributed formulation used by ``ticks_from_events`` / ``expand_volume``
/ ``hot_loop`` when a ``chunk_size`` is supplied:

1. derive a **monotone chunk id** from the stream's natural ordering key
   (``key DIV chunk_size``) — a pure deterministic column (stable under
   task retries), no extra exchange to define;
2. compute every running quantity **locally per chunk** with
   ``Window.partitionBy(chunk).orderBy(key)`` — one hash exchange on the
   chunk id, fully parallel;
3. compute each chunk's offset (the aggregate over all PRECEDING chunks)
   as a small in-plan subquery — ``chunk_offsets_plan`` below — and
   broadcast-join it back;
4. final value = local prefix + chunk offset.

The offsets subplan never touches the driver and never collapses to one
partition: per-chunk totals (distributed groupBy) get an exclusive
prefix WITHIN each super-chunk of ``super_size`` chunks (window keyed by
super-chunk id), and the across-super remainder comes from a triangular
broadcast join over the per-super summaries (#chunks / super_size rows —
tiny). Keeping everything in one plan matters for latency as much as
scale: a driver-side scan (collect + re-broadcast) costs one extra Spark
job per stage, and the checkpointed inputs those jobs would share are
computed once per job, not once per query.

Exactness: counts/sums are associative; "last non-null before this row"
splits into (last in my chunk before me) else (carry from preceding
chunks), and because any in-super predecessor chunk is later than every
earlier super, the carry is coalesce(within-super carry, across-super
carry).

Scale accounting: with the default ``super_size`` 1024, a stream of
10^9 chunks (at chunk_size 2^20, that is an exabyte-class single
stream) broadcasts ~10^6 super rows and the triangular join does
#supers^2/2 comparisons distributed across #supers rows — add a third
level before that bites; the multi-stream path, which needs none of
this, remains the first-choice deployment shape.

The reference engine is single-threaded-serial over one stream
(/root/reference/src/PipelineOrchestrator.jl:192-196), so any parallel
formulation is beyond-reference; outputs are bit-identical to the
single-window plan (tests/test_hotloop.py pins equality).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

GO_CHUNK = "_go_chunk"

# chunks per super-chunk (level-2 of the offsets hierarchy). Module-wide
# so tests can force the multi-super triangular-join path at tiny scale
# (set_super_size(2)) — with the production default of 1024 a fixture
# would need >1024 chunks to reach it.
_SUPER_SIZE = 1024

# Guard on the two-level design bound: the triangular join broadcasts
# one row per super-chunk, so #supers must stay broadcast-sized. 2^21
# supers x 1024 chunks/super ~= 2x10^9 chunks — the docstring's
# exabyte-class bound. Beyond it the offsets hierarchy needs a third
# level (or a larger chunk_size); the in-plan assert below fails loudly
# instead of letting a misconfigured tiny chunk_size degrade the
# broadcast into a multi-GB one.
MAX_SUPERS = 1 << 21


def set_super_size(n: "int | None") -> None:
    """Override the offsets hierarchy's super-chunk size (tests / probes);
    None resets to the production default."""
    global _SUPER_SIZE
    _SUPER_SIZE = 1024 if n is None else max(int(n), 1)


_PINS_ENABLED = True


def set_pins(enabled: bool) -> None:
    """Plan-inspection switch: pin() truncates lineage (the physical
    plan shows `Scan ExistingRDD` where the pinned sub-DAG was), which
    blinds the test_plan_shape structural assertions to everything
    UNDER a pin. Tests that read plans call set_pins(False) around the
    plan build — the logical structure they assert (semi-joins,
    candidate restriction, no quadratic self-joins) is unaffected by
    whether the sub-DAG is staged. Production code never calls this."""
    global _PINS_ENABLED
    _PINS_ENABLED = enabled


def pin(df: DataFrame) -> DataFrame:
    """Stage a frame consumed by both an offsets subquery and the main
    plan, so its lineage executes once.

    DISK_ONLY, deliberately: checkpoint blocks are not safely evictable
    (truncated lineage — dropping one loses the only copy), so a
    memory-levelled pin of an unbounded stream frame squats in the
    unified pool and starves execution memory — the exact failure seen
    at 24M ticks on an 8g heap (SparkOutOfMemoryError UNABLE_TO_ACQUIRE
    while the windowed plan survived). Disk blocks cost one write and
    sequential reads (absorbed by the OS page cache locally) and leave
    the whole pool to sorts/aggregations — the only level whose memory
    footprint is O(1) in stream length.
    """
    if not _PINS_ENABLED:
        return df
    return df.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)


def seed_columns(seeds: "dict | None", key: "str | None", default,
                 fields: "list[str]") -> "dict[str, Column]":
    """A per-stream seed as in-plan Columns: ``field`` -> the row's
    stream's ``getattr(seed, field)``, for the {stream_key: seed} map
    ``seeds``. A seed is the offset every running quantity starts from,
    so it joins nothing: each field is one literal ``create_map`` lookup
    on the ``key`` column, the same in-plan lookup the runner uses for
    file -> stream key. A key absent from the map reads NULL
    (``map[col]`` is not ANSI-strict) and falls back to ``default``'s
    field, the start of a stream. No seeds (None or {}) gives
    ``default``'s fields as plain literals, so the batch plan has no
    lookup. The lookup scans the map per row: pass only the streams the
    batch holds (the runner does)."""
    if not seeds:
        return {f: F.lit(getattr(default, f)) if getattr(default, f) is not None
                else F.lit(None).cast("long") for f in fields}
    if not key:
        raise ValueError("per-stream seeds require stream_id")
    cols = {}
    for f in fields:
        d = getattr(default, f)
        t = "double" if isinstance(d, float) else "long"
        lookup = F.create_map(*[x for k, s in seeds.items()
                                for x in (F.lit(k), F.lit(getattr(s, f)).cast(t))])[F.col(key)]
        cols[f] = lookup if d is None else F.coalesce(lookup, F.lit(d))
    return cols


def running_sum(prefix: Column, offset: "str | None", seed: Column) -> Column:
    """A running sum: the window ``prefix``, plus the per-chunk offsets
    column ``offset`` (chunked plans; None on the windowed path), plus
    the ``seed`` (seed_columns)."""
    if offset is not None:
        prefix = prefix + F.coalesce(offset, F.lit(0))
    return prefix + seed


def running_last(prefix: Column, offset: "str | None", seed: Column) -> Column:
    """A carried value: the window's ``prefix`` (last/lag), else the
    preceding chunks' carry ``offset`` (chunked plans), else the seed."""
    return F.coalesce(prefix, *([F.col(offset)] if offset else []), seed)


def fixed_repartition(df: DataFrame, cols: "list[str]") -> DataFrame:
    """Hash-repartition ``df`` on ``cols`` into the session's shuffle
    parallelism, as an EXPLICIT exchange (r14, guide §2.5 input skew /
    §1.2). The implicit ENSURE_REQUIREMENTS exchange a window or
    aggregate would plan is byte-coalesced by AQE, and the frames
    repartitioned here are narrow rows about to multiply (volume
    expansion's lines, the FIR scatter's ticks): at sf0.1 AQE squeezed
    the line frame to TWO partitions, serializing every downstream
    stage, because the per-byte estimate undercounts the per-ROW
    compute by an order of magnitude. An explicit repartition(n, keys)
    is AQE-coalesce-exempt; n = spark.sql.shuffle.partitions stays
    scale-adaptive (deployments size it to the cluster)."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *cols)


def add_chunk(df: DataFrame, key_expr: str, chunk_size: int) -> DataFrame:
    """Attach the monotone chunk id ``(key_expr) DIV chunk_size``.

    ``key_expr`` must be non-decreasing in the stream's global order so
    chunk ids are contiguous, ordered spans of the stream. Reused if
    already present (one chunk column serves the whole source->expand->
    hot-loop chain: downstream windows keyed on it satisfy the same
    hashpartitioning, so each pinned segment of the chain pays exactly
    ONE exchange over full-data rows — every other hashpartitioning
    exchange carries per-chunk/per-super aggregates; pinned by
    tests/test_plan_shape.py::
    test_two_pass_flagship_full_data_exchange_count).
    """
    if GO_CHUNK in df.columns:
        return df
    return df.withColumn(GO_CHUNK, F.expr(f"({key_expr}) DIV {int(chunk_size)}"))


def chunk_offsets_plan(
    df: DataFrame,
    sums: "dict[str, Column] | None" = None,
    carries: "dict[str, tuple[Column, Column]] | None" = None,
    mods: "dict[str, int] | None" = None,
    super_size: "int | None" = None,
    keys: "list[str] | None" = None,
    max_supers: "int | None" = None,
    dense: "tuple[str, int] | None" = None,
) -> DataFrame:
    """Per-chunk offsets as a broadcast-ready (keys..., GO_CHUNK, <out>)
    frame, built without any driver action or SinglePartition exchange.

    - ``sums[name] = expr``: exclusive prefix sum of ``expr`` over all
      preceding chunks (0 for the first chunk).
    - ``carries[name] = (order, value)``: ``value`` at the greatest
      ``order`` among preceding chunks where ``value`` is non-null
      (NULL until one exists) — the cross-chunk patch for lag /
      last-ignorenulls.
    - ``mods[name] = m``: reduce that sum mod m at every level, keeping
      the int64 column math bounded for arbitrarily long streams.
    - ``keys``: partition columns the chunk order is LOCAL to (e.g. the
      stream id). Every prefix is then per-key — the multistream x
      within-stream-chunked formulation; the triangular join stays a
      broadcast (#keys x #supers rows).
    - ``max_supers``: hierarchy-depth guard (default MAX_SUPERS). The
      two-level design broadcasts one row per super-chunk; if the data
      ever produces a super id at or past this cap (a misconfigured
      tiny chunk_size on an enormous stream), the plan RAISES at
      execution instead of silently degrading the triangular broadcast
      — raise chunk_size/super_size, or add a third offsets level.
    - ``dense = (order_col, chunk_size)``: in-plan density guard for a
      caller whose ``order_col`` CLAIMS to be the dense 1-based row
      number of the stream with ``GO_CHUNK == (order_col - 1) DIV
      chunk_size`` (the closed-form line numbering of the fixture
      sources — exact only for contiguous ids). Rides the existing
      per-chunk aggregate: with o = order - 1 - chunk*chunk_size (the
      within-chunk offset, overflow-safe regardless of absolute order
      values), each chunk must satisfy min(o)==0, max(o)==cnt-1,
      2*sum(o)==cnt*(cnt-1), and its exclusive prefix row count must be
      exactly chunk*chunk_size. Any gap, duplicate or re-keyed base
      (per key-group) RAISES at execution via assert_true instead of
      silently misnumbering every downstream row. (Not airtight against
      an adversarial >=2-dup/>=2-gap set that preserves min, max, count
      AND sum within one chunk — far beyond any realistic corruption.)

    Join the result back with ``F.broadcast`` on keys + [GO_CHUNK].
    """
    sums = dict(sums or {})
    carries = carries or {}
    mods = mods or {}
    keys = keys or []
    super_size = super_size or _SUPER_SIZE
    max_supers = max_supers or MAX_SUPERS
    dense_aggs: list[Column] = []
    if dense is not None:
        order_col, dn_cs = dense
        sums["_dn_pfx"] = F.lit(1)  # exclusive prefix row count per chunk
        o = F.col(order_col) - 1 - F.col(GO_CHUNK) * F.lit(int(dn_cs))
        dense_aggs = [F.min(o).alias("_dn_min"), F.max(o).alias("_dn_max"),
                      F.sum(o).alias("_dn_sum")]

    def _mod(name: str, col: Column) -> Column:
        return F.pmod(col, F.lit(mods[name])) if name in mods else col

    # ``mods`` really is applied at EVERY level (sum-then-mod == mod of
    # partial mods): per-chunk totals here, the within-super prefix and
    # the per-super totals below. The one un-modded accumulation left is
    # the sum WITHIN a single chunk, so the caller's bound is
    # chunk_size x max|row value| < 2^63 — for the CPM phase stream
    # (|dp| < 2^35) that caps chunk_size at ~2^27; every modded level
    # then stays below super_size x mod (~2^42 at the defaults).
    aggs = [_mod(k, F.sum(e)).alias(f"_t_{k}") for k, e in sums.items()]
    aggs += [
        F.max(
            F.when(v.isNotNull(), F.struct(o.alias("o"), v.alias("v")))
        ).alias(f"_f_{k}")
        for k, (o, v) in carries.items()
    ]
    s1 = df.groupBy(*keys, GO_CHUNK).agg(*aggs, *dense_aggs).withColumn(
        "_sc", F.expr(f"{GO_CHUNK} DIV {int(super_size)}")
    )
    if dense is not None:
        # per-chunk contiguity: one row per chunk, so the assert costs
        # nothing; .isNull() keeps every row when the invariant holds
        cnt = F.col("_t__dn_pfx")
        s1 = s1.where(
            F.assert_true(
                (F.col("_dn_min") == 0)
                & (F.col("_dn_max") == cnt - 1)
                & (F.lit(2) * F.col("_dn_sum") == cnt * (cnt - 1)),
                F.concat(
                    F.lit(
                        "chunk_offsets_plan: dense-order contract violated "
                        f"(order_col={dense[0]}, chunk_size={int(dense[1])}) "
                        "— the source's closed-form line numbering assumes "
                        "contiguous 0-based ids; chunk "
                    ),
                    F.col(GO_CHUNK).cast("string"),
                    F.lit(" has gapped/duplicated/re-keyed rows"),
                ),
            ).isNull()
        ).drop("_dn_min", "_dn_max", "_dn_sum")
    w = (
        Window.partitionBy(*keys, "_sc").orderBy(GO_CHUNK)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = s1.select(
        *keys,
        GO_CHUNK,
        "_sc",
        *[
            _mod(k, F.coalesce(F.sum(f"_t_{k}").over(w), F.lit(0))).alias(f"_w_{k}")
            for k in sums
        ],
        *[F.max(f"_f_{k}").over(w).alias(f"_wf_{k}") for k in carries],
    )
    s2 = s1.groupBy(*keys, "_sc").agg(
        *[_mod(k, F.sum(f"_t_{k}")).alias(f"_st_{k}") for k in sums],
        *[F.max(f"_f_{k}").alias(f"_sf_{k}") for k in carries],
    )
    # hierarchy-depth guard: one row per super, so this costs nothing;
    # assert_true returns NULL when the bound holds, so the filter keeps
    # every row (and cannot be pruned — it references the column)
    s2 = s2.where(
        F.assert_true(
            F.col("_sc") < F.lit(int(max_supers)),
            F.lit(
                f"chunk_offsets_plan: super-chunk id exceeded max_supers="
                f"{int(max_supers)} (> ~{int(max_supers) * int(super_size)} "
                f"chunks) — the two-level offsets hierarchy's broadcast "
                f"bound; raise chunk_size or super_size, or add a third "
                f"offsets level"
            ),
        ).isNull()
    )
    prev = s2.select(
        *[F.col(c).alias(f"_k_{c}_b") for c in keys],
        F.col("_sc").alias("_sc_b"),
        *[F.col(f"_st_{k}").alias(f"_st_{k}_b") for k in sums],
        *[F.col(f"_sf_{k}").alias(f"_sf_{k}_b") for k in carries],
    )
    cond = F.col("_sc_b") < F.col("_sc")
    for c in keys:
        cond = cond & (F.col(f"_k_{c}_b") == F.col(c))
    tri = (
        s2.select(*keys, "_sc")
        .join(F.broadcast(prev), cond, "left")
        .groupBy(*keys, "_sc")
        .agg(
            *[_mod(k, F.sum(f"_st_{k}_b")).alias(f"_sup_{k}") for k in sums],
            *[F.max(f"_sf_{k}_b").alias(f"_supf_{k}") for k in carries],
        )
    )
    out = within.join(
        F.broadcast(tri), on=keys + ["_sc"], how="left"
    ).select(
        *keys,
        GO_CHUNK,
        *[
            _mod(k, F.col(f"_w_{k}") + F.coalesce(f"_sup_{k}", F.lit(0))).alias(k)
            for k in sums
        ],
        *[
            # any within-super predecessor chunk is later than every
            # earlier super, so within wins whenever present
            F.coalesce(F.col(f"_wf_{k}"), F.col(f"_supf_{k}"))
            .getField("v").alias(k)
            for k in carries
        ],
    )
    if dense is not None:
        # cross-chunk contiguity: every preceding chunk must be exactly
        # full, i.e. the exclusive prefix row count equals chunk*size
        # (catches boundary-aligned gaps and missing whole chunks the
        # per-chunk check above cannot see)
        out = out.where(
            F.assert_true(
                F.col("_dn_pfx") == F.col(GO_CHUNK) * F.lit(int(dense[1])),
                F.concat(
                    F.lit(
                        "chunk_offsets_plan: dense-order contract violated "
                        f"(order_col={dense[0]}, chunk_size={int(dense[1])}) "
                        "— rows missing before chunk "
                    ),
                    F.col(GO_CHUNK).cast("string"),
                ),
            ).isNull()
        ).drop("_dn_pfx")
    return out
