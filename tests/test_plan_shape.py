"""Physical-plan assertions: the things that matter at 100 TB.

These tests read the optimized/physical plan text rather than results:
the multi-stream pipeline must not serialise into a single partition,
parquet scans must prune columns, and small dimension joins must
broadcast.
"""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_multistream_pipeline_has_no_single_partition_windows(spark):
    from tickdatapipeline_spark.plans.analytics import multistream_fn

    plan = physical(multistream_fn(spark, SF))
    assert "hashpartitioning(stream" in plan
    # no operator anywhere collapses to one partition (the single-stream
    # pipeline, by contrast, funnels every window through SinglePartition)
    assert "SinglePartition" not in plan
    # and every window spec carries a partition column (spec starts with
    # a partition expr, never directly with the ORDER BY frame)
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "ASC" not in m.group(1).split(",")[0], f"unpartitioned window: {m.group(0)[:120]}"


def exchanges(df) -> list[str]:
    return [ln for ln in physical(df).splitlines() if "Exchange" in ln]


def test_runner_keyed_source_is_one_exchange_per_batch(spark, tmp_path):
    """The runner parses a micro-batch in the batch's own scan: its keyed
    ticks_raw plans as many exchanges for three files as for one, and
    none of them funnels into a single partition."""
    from tickdatapipeline_spark.config import SignalProcessingConfig
    from tickdatapipeline_spark.streaming import StreamingTickPipeline, TripleSplitManager

    files = []
    for i in range(3):
        files.append(str(tmp_path / f"{i:03d}-sym{i % 2}.txt"))
        with open(files[-1], "w") as f:
            f.write(f"20250319 12000{i} 0000000;41969;41971;41970;{i + 1}\n")
    pipe = StreamingTickPipeline(
        spark, str(tmp_path), SignalProcessingConfig(), TripleSplitManager(),
        checkpoint_dir=str(tmp_path / "ckpt"), stream_key=lambda p: p.rsplit("-", 1)[-1])
    one = exchanges(pipe._read_batch(spark.read.text(files[:1]))[0])
    three = exchanges(pipe._read_batch(spark.read.text(files))[0])
    assert len(one) == len(three) >= 1
    assert not any("SinglePartition" in ln for ln in one + three)


def _seeded_keyed_input(spark):
    """Two keyed streams' ticks_raw, a derivative hot-loop config and a
    hot-loop and bar seed for each stream."""
    from tickdatapipeline_spark.config import SignalProcessingConfig
    from tickdatapipeline_spark.operators.bars import BarSeed
    from tickdatapipeline_spark.operators.hotloop import HotLoopSeed

    raw = spark.createDataFrame(
        [(k, i + 1, "20250319 120000 0000000", 41969, 41971, 41970 + i, 1)
         for k in ("A", "B") for i in range(6)],
        "stream string, line_no long, ts_str string, bid long, ask long, last long, volume long")
    hot = {k: HotLoopSeed(n_valid0=5, core_seq0=4, sum_bmin0=-1, sum_bmax0=1, partial_cnt0=1,
                          partial_min0=0, partial_max0=0, last_core_ratio0=0.5) for k in "AB"}
    bar = {k: BarSeed(partial_cnt0=1, partial_open0=41970, partial_high0=41970,
                      partial_low0=41970, bars_done0=1, prev_avg0=41970, sum_high0=41970,
                      sum_low0=41970, norm0=2.0, tail_prices0=((4, 41970),)) for k in "AB"}
    return raw, SignalProcessingConfig(encoder_type="derivative"), hot, bar


def test_seeds_add_no_relation_or_broadcast(spark):
    """A {stream_key: seed} map is an in-plan literal lookup on the key
    column: the seeded keyed expansion, hot loop and bar plans scan as
    many leaf relations and plan as many broadcasts as the unseeded ones
    over the same input."""
    from tickdatapipeline_spark.config import BarProcessingConfig
    from tickdatapipeline_spark.operators.bars import bar_aggregate
    from tickdatapipeline_spark.operators.expansion import expand_volume
    from tickdatapipeline_spark.operators.hotloop import hot_loop

    raw, cfg, hot, bar = _seeded_keyed_input(spark)
    expanded = expand_volume(raw, "stream")
    ticks = hot_loop(expanded, cfg, stream_id="stream")
    plans = {
        "expand_volume": (expanded, expand_volume(raw, "stream", seeds={k: (41970, 5) for k in "AB"})),
        "hot_loop": (ticks, hot_loop(expanded, cfg, stream_id="stream", seed=hot)),
    }
    # the FIR seed's price tail too: its convolution terms are an offset
    for method in ("boxcar", "FIR"):
        bp = BarProcessingConfig(enabled=True, ticks_per_bar=4, bar_method=method)
        plans[f"bar_aggregate {method}"] = (bar_aggregate(ticks, bp, stream_id="stream"),
                                            bar_aggregate(ticks, bp, stream_id="stream", seed=bar))
    for name, (cold, seeded) in plans.items():
        counts = [
            [physical(df).count(node) for node in ("Scan ExistingRDD", "LocalTableScan",
                                                   "BroadcastExchange")]
            for df in (cold, seeded)
        ]
        assert sum(counts[0][:2]) >= 1 and counts[0] == counts[1], (name, counts)


def _array_sizes(plan: str) -> list[int]:
    """Children of every ``array(...)`` expression in a plan's text."""
    sizes = []
    for m in re.finditer(r"\barray\(", plan):
        depth, children = 1, 1
        for ch in plan[m.end():]:
            depth += {"(": 1, ")": -1}.get(ch, 0)
            if depth == 0:
                break
            children += ch == "," and depth == 1
        sizes.append(children)
    return sizes


def test_tick_operators_are_one_select_per_stage(spark):
    """hot_loop and bar_aggregate (boxcar and FIR, seeded keyed input)
    build each stage (a window, join, aggregate or explode) as one select,
    not a withColumn chain. One select analyzes to at most three Projects
    in a row (a window select: below the window, above it, the select
    itself); a stage adds at most four in all (a window stage's select
    plus the projection of its results, a join's USING columns plus its
    select). The FIR taps are one array literal, not an array of ~1000
    literal children."""
    from tickdatapipeline_spark.config import BarProcessingConfig
    from tickdatapipeline_spark.operators.bars import bar_aggregate
    from tickdatapipeline_spark.operators.expansion import expand_volume
    from tickdatapipeline_spark.operators.hotloop import hot_loop

    raw, cfg, hot, bar = _seeded_keyed_input(spark)
    ticks = hot_loop(expand_volume(raw, "stream"), cfg, stream_id="stream", seed=hot)
    plans = {"hot_loop": ticks}
    for method in ("boxcar", "FIR"):
        bp = BarProcessingConfig(enabled=True, ticks_per_bar=4, bar_method=method)
        plans[method] = bar_aggregate(ticks, bp, stream_id="stream", seed=bar)
    for name, df in plans.items():
        plan = df._jdf.queryExecution().analyzed().toString()
        nodes = [m.group(1) for m in re.finditer(r"^[\s:+\-]*([A-Za-z]+)", plan, re.M)]
        runs = "".join("P" if n == "Project" else " " for n in nodes).split()
        stages = sum(n in ("Window", "Join", "Aggregate", "Generate") for n in nodes)
        assert max(map(len, runs)) <= 3, (name, max(map(len, runs)))
        assert nodes.count("Project") <= 4 * stages, (name, nodes.count("Project"), stages)
        assert max(_array_sizes(plan), default=0) <= 16, (name, max(_array_sizes(plan)))


def test_hot_loop_plans_each_window_function_once(spark):
    """Every encoder's hot loop plans the same window functions with
    internals as without: a window result that several expressions read
    (the CPM/AMC phase window behind sig_re, sig_im and cpm_theta, the
    stats bars' running sums behind inv_q16 and sum_*_upto) is a column
    of its window's select, since Spark plans a window function once per
    occurrence."""
    from tickdatapipeline_spark.config import SignalProcessingConfig
    from tickdatapipeline_spark.operators.expansion import expand_volume
    from tickdatapipeline_spark.operators.hotloop import hot_loop

    raw, _, hot, _ = _seeded_keyed_input(spark)
    expanded = expand_volume(raw, "stream")
    for enc in ("derivative", "hexad16", "cpm", "amc"):
        cfg = SignalProcessingConfig(encoder_type=enc)
        counts = [
            hot_loop(expanded, cfg, stream_id="stream", seed=hot, keep_internals=internals)
            ._jdf.queryExecution().optimizedPlan().toString().count("windowspecdefinition")
            for internals in (False, True)
        ]
        assert counts[0] == counts[1], (enc, counts)


def _leaves(df) -> list[str]:
    """Node names of the leaves of a frame's initial physical plan."""
    stack, leaves = [df._jdf.queryExecution().executedPlan()], []
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.initialPlan()
        ch = node.children()
        stack += [ch.apply(i) for i in range(ch.length())]
        if not ch.length():
            leaves.append(node.nodeName())
    return leaves


def test_hot_loop_reads_its_input_once(spark, tmp_path):
    """The stats bars are windows over the tick frame, not an aggregate
    joined back onto it: the seeded keyed hot loop and the day-file
    chain (read_tick_file -> expand_volume -> hot_loop) plan no join and
    one scan, and the enriched day-file frame (ticks joined to their
    bars) scans the file twice, once per side of its one join."""
    from tickdatapipeline_spark.config import BarProcessingConfig, SignalProcessingConfig
    from tickdatapipeline_spark.operators.bars import bar_aggregate, enrich_ticks_with_bars
    from tickdatapipeline_spark.operators.expansion import expand_volume
    from tickdatapipeline_spark.operators.hotloop import hot_loop
    from tickdatapipeline_spark.sources.tickfile import read_tick_file

    raw, cfg, hot, _ = _seeded_keyed_input(spark)
    path = tmp_path / "t.txt"
    path.write_text("".join(f"20250319 12000{i} 0000000;41969;41971;{41970 + i};{i % 3}\n"
                            for i in range(6)))
    day = hot_loop(expand_volume(read_tick_file(spark, str(path))), SignalProcessingConfig())
    for name, df in {"seeded keyed": hot_loop(expand_volume(raw, "stream"), cfg,
                                              stream_id="stream", seed=hot),
                     "day file": day}.items():
        assert "Join" not in physical(df), name
        assert len(_leaves(df)) == 1, (name, _leaves(df))
    bp = BarProcessingConfig(enabled=True, ticks_per_bar=4, bar_method="FIR")
    assert physical(enrich_ticks_with_bars(day, bar_aggregate(day, bp))).count("FileScan") == 2


def test_read_tick_file_keeps_one_single_partition_exchange(spark, tmp_path):
    """read_tick_file, the day_file source, numbers lines in one global
    order: exactly one exchange, a SinglePartition one."""
    from tickdatapipeline_spark.sources.tickfile import read_tick_file

    path = tmp_path / "t.txt"
    path.write_text("20250319 120000 0000000;41969;41971;41970;1\n")
    ex = exchanges(read_tick_file(spark, str(path)))
    assert len(ex) == 1 and "SinglePartition" in ex[0]


def test_parquet_scan_prunes_columns(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    plan = physical(df)
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln][0]
    assert "l_orderkey" in scan and "l_quantity" in scan
    assert "l_comment" not in scan and "l_extendedprice" not in scan


def test_filter_pushdown_reaches_scan(spark):
    df = spark.read.parquet(f"{SF}/orders.parquet").where(F.col("o_orderkey") == 42)
    plan = physical(df)
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)]" in plan


@pytest.mark.heavy
def test_jaccard_is_candidate_restricted(spark):
    from tickdatapipeline_spark.operators.dedup import jaccard_pairs
    from tickdatapipeline_spark.operators.globalorder import set_pins

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # pins truncate lineage to Scan ExistingRDD, hiding the structure
    # under them from the plan text — disable for inspection (the
    # logical shape asserted here is identical either way)
    set_pins(False)
    try:
        plan = physical(jaccard_pairs(docs))
    finally:
        set_pins(True)
    # verification must consume the LSH band table (band_key join) — the
    # unrestricted shingle-equality self-join (doc_id < doc_id on the
    # shingle table, quadratic on hot shingles) must be gone
    assert "band_key" in plan
    import re

    shingle_selfjoin = re.search(r"doc_id#\d+L? < doc_id#\d+L?.*shingle", plan) or re.search(
        r"shingle#\d+ = shingle#\d+\)\s*AND\s*\(doc_id", plan
    )
    assert shingle_selfjoin is None, "unrestricted shingle self-join still present"


@pytest.mark.heavy
def test_dedup_has_no_forced_per_document_broadcasts(spark):
    """The Jaccard size join and the corpus anti-join consume
    one-row-per-document tables — at 100 TB neither fits in a broadcast,
    so the plans must carry NO broadcast hint (AQE decides from observed
    sizes), and the Jaccard size table must be semi-join-restricted to
    candidate docs before it is joined."""
    from tickdatapipeline_spark.operators.dedup import deduplicated_corpus, jaccard_pairs
    from tickdatapipeline_spark.operators.globalorder import set_pins

    set_pins(False)  # see through lineage-truncating pins
    try:
        for df in (jaccard_pairs(docs := spark.read.parquet(f"{SF}/documents.parquet")),
                   deduplicated_corpus(docs)):
            opt = df._jdf.queryExecution().optimizedPlan().toString()
            assert "hint" not in opt.lower(), "forced broadcast hint survived"
        assert "LeftSemi" in jaccard_pairs(docs)._jdf.queryExecution().optimizedPlan().toString()
    finally:
        set_pins(True)


def test_fir_averages_is_join_free(spark):
    """FIR bars read the ticks through ONE scatter aggregate: each tick
    explodes into its own bar end and the later ends its price reaches,
    and one groupBy yields OHLC and the convolution sum together — no
    join of OHLC bars to FIR averages, and no blown-up taps table joined
    back to the ticks (the gather formulation shuffled 65 M rows twice
    at sf0.1)."""
    from tickdatapipeline_spark.config import BarProcessingConfig
    from tickdatapipeline_spark.operators.bars import bar_aggregate
    from tickdatapipeline_spark.operators.globalorder import set_pins

    ticks = spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "event_id AS tick_idx", "CAST(event_id % 100 + 42000 AS LONG) AS raw_price",
        "ts AS timestamp")
    bp = BarProcessingConfig(enabled=True, ticks_per_bar=5, bar_method="FIR")
    plan = physical(bar_aggregate(ticks, bp))
    assert "Join" not in plan
    assert plan.count("Generate explode") == 1  # the scatter
    assert plan.count("HashAggregate") == 2  # partial (combiner) + final
    # windowed (sub-threshold) posture: fused serial scatter, no chunk
    # exchange (measured faster at fixture sizes, r15)
    assert "hashpartitioning(_fc" not in plan

    # chunked (at-scale) posture: the explode is spread by an explicit
    # AQE-exempt repartition on the end-chunk id BEFORE the blow-up, so
    # one giant stream cannot serialize the convolution (r15): the
    # nearest explode above each chunk exchange reads the chunk id
    set_pins(False)
    try:
        lines = physical(bar_aggregate(ticks, bp, chunk_size=1000)).splitlines()
    finally:
        set_pins(True)
    repart = [i for i, ln in enumerate(lines) if "hashpartitioning(_fc" in ln]
    assert repart and all("REPARTITION_BY_NUM" in lines[i] for i in repart)
    for i in repart:
        above = next(ln for ln in reversed(lines[:i]) if "Generate explode" in ln)
        assert "_fc#" in above.split("explode(", 1)[1].split(", [", 1)[0], above


def test_vocab_topk_plans_as_take_ordered(spark):
    """Top-k over the corpus vocabulary must plan as
    TakeOrderedAndProject (per-partition partial top-k merged on the
    driver) — a global Sort of the full vocabulary would single-partition
    at corpus scale."""
    from tickdatapipeline_spark.operators.text import vocab_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = physical(vocab_topk(docs))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan


def test_vocab_drift_plans_as_take_ordered_single_scan(spark):
    """The tagged drift monitor must plan top-k as
    TakeOrderedAndProject (never a global Sort of the vocabulary) and
    read the documents parquet ONCE — the single-scan contract of
    vocab_drift_tagged."""
    from pyspark.sql import functions as F

    from tickdatapipeline_spark.operators.text import vocab_drift_tagged

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = physical(vocab_drift_tagged(docs, F.col("doc_id") % 2))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan
    # the counts frame is pinned, so both consumers read the cache and
    # the scan+explode+groupBy lineage appears at most once (inside the
    # cached relation) instead of once per consumer
    assert "InMemoryTableScan" in plan or "Scan ExistingRDD" in plan
    assert plan.count("documents.parquet") <= 1


def test_dimension_joins_broadcast(spark):
    from tickdatapipeline_spark.plans.relational import r3_fn

    plan = physical(r3_fn(spark, SF))
    # customer, nation, region are explicitly broadcast; at this sf the
    # orders side also falls under the auto-broadcast threshold (at real
    # scale the fact-fact join flips to SortMergeJoin by size — that
    # decision is Catalyst's, which is the point)
    assert plan.count("BroadcastHashJoin") >= 3

def test_late_order_priority_plans_semi_join(spark):
    """R17 (Q4 EXISTS shape) must plan a LEFT SEMI join — one pass,
    no fan-out — rather than an inner join followed by a dedup
    aggregate, and the year filter must push down to the orders scan."""
    from tickdatapipeline_spark.plans.relational import r17_fn

    df = r17_fn(spark, SF)
    plan = physical(df)
    assert "LeftSemi" in plan
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("Join") == 1  # no dedup join/aggregate added
    assert "PushedFilters" in plan and "o_orderdate" in plan.split("PushedFilters")[1][:400]


def test_small_qty_parts_prunes_lineitem_columns(spark):
    """R16 (Q17 shape) reads only the three lineitem columns it needs —
    the self-agg threshold join must not widen the fact scan."""
    from tickdatapipeline_spark.plans.relational import r16_fn

    plan = physical(r16_fn(spark, SF))
    checked = 0
    for frag in plan.split("ReadSchema: ")[1:]:
        schema = frag.split("\n")[0]
        if "l_partkey" in schema:
            assert "l_comment" not in schema
            assert schema.count(",") <= 2  # l_partkey, l_quantity, l_extendedprice
            checked += 1
    assert checked >= 1  # the marker must actually appear, else vacuous


def test_unshipped_topk_plans_take_ordered(spark):
    """R20 (Q3 shape): the top-K must plan TakeOrderedAndProject
    (per-partition partial top-K) — never a global Sort over the
    aggregated orders."""
    from tickdatapipeline_spark.plans.relational import r20_fn

    plan = physical(r20_fn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


@pytest.mark.heavy
def test_single_stream_two_pass_has_no_single_partition(spark):
    """SURVEY §4 item 1: above the size cutover the single-stream
    flagship chain takes the chunked two-pass formulation and must plan
    ZERO SinglePartition exchanges — every window is chunk-local,
    offsets are in-plan broadcast subqueries."""
    from tickdatapipeline_spark.plans.common import (
        SP_DERIV,
        processed_ticks,
        set_ticks_cache,
        set_two_pass_threshold,
    )

    set_ticks_cache(False)
    set_two_pass_threshold(0)  # force the at-scale plan on test data
    try:
        df = processed_ticks(spark, SF, SP_DERIV)
        assert "SinglePartition" not in physical(df)
        assert df.count() > 0
        # and still none in the post-execution (AQE-final) plan
        assert "SinglePartition" not in physical(df)
    finally:
        set_two_pass_threshold(None)
        set_ticks_cache(True)


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """The 100 TB lever for selective fact-dim joins that are too big to
    broadcast: Spark's runtime bloom filter builds a filter from the
    selective (orders) side and pushes a might_contain predicate into
    the fact (lineitem) scan, pruning shuffle input before the join.
    The thresholds here shrink Spark's size gates to fixture scale; at
    deployment scale the defaults (10MB creation / 10GB application)
    trigger on their own. Results must equal the unfiltered join."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ: the runtime-filter case
    }
    saved = {k: spark.conf.get(k, None) for k in confs}

    def build():
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT")
        return li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "l_extendedprice")

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = build()
        plan = physical(j)
        assert "might_contain" in plan, "runtime bloom filter not injected"
        with_bloom = j.count()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert with_bloom == build().count()  # pruning is semantics-free


@pytest.mark.heavy
def test_two_pass_flagship_full_data_exchange_count(spark):
    """Pin the globalorder claim (operators/globalorder.py::add_chunk):
    downstream windows keyed on the shared chunk column mean the final
    segment of the chunked flagship pays exactly ONE exchange over
    full-data rows — every other hashpartitioning exchange carries
    per-chunk/per-super aggregates (a partial Aggregate sits below it).

    Classification walks the initial physical plan tree: an exchange is
    "full-data" iff its subtree — pruning at BroadcastExchange build
    sides, which are bounded by construction — contains no Aggregate.
    The total count is pinned too; if AQE/planner changes move it,
    re-derive: 1 window repartition + 2 per-chunk groupBys + 2
    within-super exchanges + 1 distinct-supers exchange = 6."""
    from tickdatapipeline_spark.plans.common import (
        SP_DERIV,
        processed_ticks,
        set_ticks_cache,
        set_two_pass_threshold,
    )

    def walk(node, prune_broadcast):
        acc, stack = [], [node]
        while stack:
            n = stack.pop()
            acc.append(n)
            if prune_broadcast and "BroadcastExchange" in n.nodeName():
                continue
            ch = n.children()
            stack += [ch.apply(i) for i in range(ch.length())]
        return acc

    set_ticks_cache(False)
    set_two_pass_threshold(0)
    try:
        df = processed_ticks(spark, SF, SP_DERIV)
        root = df._jdf.queryExecution().executedPlan()
        if root.nodeName() == "AdaptiveSparkPlan":
            root = root.initialPlan()
        exchanges = [
            n for n in walk(root, prune_broadcast=False)
            if n.nodeName() == "Exchange" and "hashpartitioning" in n.simpleString(200)
        ]
        assert len(exchanges) == 6, [e.simpleString(120) for e in exchanges]
        full_data = [
            e for e in exchanges
            if not any(
                "Aggregate" in c.nodeName()
                for c in walk(e, prune_broadcast=True)[1:]
            )
        ]
        assert len(full_data) == 1, [e.simpleString(120) for e in full_data]
        assert "_go_chunk" in full_data[0].simpleString(200)
    finally:
        set_two_pass_threshold(None)
        set_ticks_cache(True)


@pytest.mark.heavy
def test_partitioned_capture_read_prunes_partitions(spark, tmp_path):
    """A capture written with partition_by must be partition-prunable on
    read: an equality filter on the partition column reaches the scan as
    a PartitionFilter (only that partition's files are listed), not a
    post-scan Filter over the whole capture — the 100 TB contract of
    pipeline.capture(partition_by=...)."""
    from tickdatapipeline_spark.operators.expansion import expand_volume
    from tickdatapipeline_spark.operators.hotloop import hot_loop
    from tickdatapipeline_spark.pipeline import capture
    from tickdatapipeline_spark.plans.common import SP_DERIV
    from tickdatapipeline_spark.sources.tickfile import ticks_from_events

    processed = hot_loop(expand_volume(ticks_from_events(spark, SF)), SP_DERIV)
    # partition by status_flag: a low-cardinality column a real capture
    # would key by (stream/day in deployment)
    out = str(tmp_path / "cap")
    n = capture(processed, out, partition_by=("status_flag",))
    assert n > 0

    rd = spark.read.parquet(out).where(F.col("status_flag") == 0)
    plan = physical(rd)
    # the equality predicate must appear as a PartitionFilter on the scan
    assert "PartitionFilters" in plan
    assert "status_flag" in plan.split("PartitionFilters")[1][:120]


@pytest.mark.heavy
def test_multistream_two_pass_windows_are_chunk_partitioned(spark):
    """The combined scale plan (streams x within-stream chunks) must key
    every window/exchange on the chunk column — no per-stream serial
    window survives — and still have zero SinglePartition exchanges."""
    from tickdatapipeline_spark.plans.analytics import multistream_twopass_fn

    plan = physical(multistream_twopass_fn(spark, SF))
    assert "SinglePartition" not in plan
    # every Window operator's partition spec includes the chunk column
    for frag in plan.split("Window ")[1:]:
        spec = frag.split("\n")[0]
        assert "_go_chunk" in spec, f"stream-serial window survived: {spec[:120]}"


@pytest.mark.heavy
def test_round7_topk_queries_plan_take_ordered(spark):
    """The new top-K relational shapes must plan as
    TakeOrderedAndProject (per-partition partial top-K), never a global
    sort feeding a limit."""
    from tickdatapipeline_spark.plans.relational import r22_fn, r25_fn, r27_fn

    for fn in (r22_fn, r25_fn, r27_fn):
        plan = physical(fn(spark, SF))
        assert "TakeOrderedAndProject" in plan, fn.__name__
        assert "GlobalLimit" not in plan, fn.__name__  # no sort-then-limit


def test_source_cap_window_is_band_bounded(spark):
    """source_cap's rank window must consume the oversample-band
    pre-filter (the h < frac * 2^60 comparison joins BELOW the window
    in the tree), so the window never ranks a mega-source's full
    partition; the per-source counts join must broadcast; and Spark
    additionally plans WindowGroupLimit Partial+Final, so each task
    keeps only its own top-cap rows before the exchange."""
    from tickdatapipeline_spark.operators.text import source_cap

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = physical(source_cap(docs, 10))
    assert "BroadcastHashJoin" in plan
    w_at = plan.index("Window ")
    band_at = plan.index("1.15292150460684698E18")  # 2^60 as a double
    assert band_at > w_at, "band filter must sit below (after) the window in the tree"
    assert plan.count("WindowGroupLimit") == 2  # Partial + Final top-cap
    assert "SinglePartition" not in plan


def test_sole_late_supplier_is_single_fact_pass(spark):
    """rel_sole_late_supplier replaces Q21's two correlated fact
    self-joins with ONE per-order aggregate: the physical plan must
    scan lineitem at most twice (the verdict chain + the distinct late
    pairs), never four times, and must contain no nested-loop join."""
    from tickdatapipeline_spark.plans.relational import r22_fn

    plan = physical(r22_fn(spark, SF))
    scans = plan.count("FileScan parquet") and sum(
        1 for ln in plan.splitlines() if "FileScan" in ln and "lineitem" in ln
    )
    assert scans <= 2, f"lineitem scanned {scans}x"
    assert "BroadcastNestedLoopJoin" not in plan


def test_hourly_ohlc_is_one_partial_aggregate(spark):
    """events_hourly_ohlc must be a single hash aggregate pair (partial
    -> final) over one scan — min_by/max_by ride the same aggregate,
    no join, no window."""
    from tickdatapipeline_spark.plans.beyond import hourly_ohlc_fn

    plan = physical(hourly_ohlc_fn(spark, SF))
    assert plan.count("HashAggregate") == 2
    assert "Join" not in plan and "Window" not in plan


def test_order_count_distribution_aggregates_before_join(spark):
    """R30 (Q13 shape): the fact table must be reduced to per-customer
    counts BEFORE the outer join — exactly one join in the optimized
    plan, with a hash aggregate on o_custkey sitting below it, and the
    priority exclusion pushed to the orders scan."""
    from tickdatapipeline_spark.plans.relational import r30_fn

    df = r30_fn(spark, SF)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("Join") == 1
    plan = physical(df)
    join_at = plan.index("Join")
    assert "hashpartitioning(o_custkey" in plan[join_at:], "orders must pre-aggregate below the join"
    orders_frag = [f for f in plan.split("FileScan")[1:] if "orders" in f][0]
    assert "o_orderpriority" in orders_frag.split("PushedFilters")[1][:300]


def test_product_profit_scans_lineitem_once_and_broadcasts_nation(spark):
    """R31 (Q9 shape): one pass over the fact table, nation broadcast,
    and the p_name filter applied on the part side (never widening the
    fact scan with p_name)."""
    from tickdatapipeline_spark.plans.relational import r31_fn

    plan = physical(r31_fn(spark, SF))
    li_scans = sum(1 for ln in plan.splitlines() if "FileScan" in ln and "lineitem" in ln)
    assert li_scans == 1, f"lineitem scanned {li_scans}x"
    assert "BroadcastHashJoin" in plan
    for frag in plan.split("ReadSchema: ")[1:]:
        schema = frag.split("\n")[0]
        if "l_partkey" in schema:
            assert "p_name" not in schema


def test_priority_mix_filter_pushes_to_scan_as_range(spark):
    """R32 (Q12 shape): the ship-year predicate is a date RANGE so it
    must appear in PushedFilters of the lineitem scan (a year()=Y
    formulation would not), and the conditional counts are one
    partial+final aggregate pair after the join."""
    from tickdatapipeline_spark.plans.relational import r32_fn

    plan = physical(r32_fn(spark, SF))
    li_frag = [f for f in plan.split("FileScan")[1:] if "lineitem" in f][0]
    assert "l_shipdate" in li_frag.split("PushedFilters")[1][:300]
    assert plan.count("HashAggregate") == 2


def test_dominant_suppliers_uses_window_not_self_join(spark):
    """R34 (Q20 shape): the per-part total must come from a window over
    the (part, supplier) aggregate — the plan may contain only the
    part-filter join and the final supplier semi-join, never a third
    join re-deriving the part totals from a second fact pass."""
    from tickdatapipeline_spark.plans.relational import r34_fn

    df = r34_fn(spark, SF)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("Join") == 2
    plan = physical(df)
    li_scans = sum(1 for ln in plan.splitlines() if "FileScan" in ln and "lineitem" in ln)
    assert li_scans == 1, f"lineitem scanned {li_scans}x"
    assert "LeftSemi" in plan


def test_forecast_revenue_pushes_all_three_ranges(spark):
    """R35 (Q6): the paired raw-column ranges for shipdate, discount,
    and quantity must ALL reach the lineitem scan's PushedFilters, the
    scan must read exactly the four needed columns, and the whole query
    is one partial+final aggregate with no exchange other than the
    single-row gather."""
    from tickdatapipeline_spark.plans.relational import r35_fn

    plan = physical(r35_fn(spark, SF))
    li_frag = [f for f in plan.split("FileScan")[1:] if "lineitem" in f][0]
    pushed = li_frag.split("PushedFilters")[1][:500]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} range not pushed"
    schema = li_frag.split("ReadSchema: ")[1].split("\n")[0]
    assert schema.count(",") == 3  # shipdate, discount, quantity, extendedprice
    assert plan.count("HashAggregate") == 2
    assert "Join" not in plan


def test_value_cusum_windows_ride_the_hourly_aggregate(spark):
    """events_value_cusum: every window partitions by event_type and
    runs over the hourly aggregate, never the raw stream — no
    SinglePartition anywhere, and the raw events scan feeds a partial
    aggregate before any Window."""
    from tickdatapipeline_spark.plans.beyond import value_cusum_fn

    plan = physical(value_cusum_fn(spark, SF))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(event_type" in plan
    first_window = plan.index("Window")
    assert "HashAggregate" in plan[first_window:], "hourly aggregate must sit below the windows"


def test_importance_weights_is_all_hash_aggregates(spark):
    """docs_importance_weights: the doc-feature table is pinned (one
    token explosion feeds all three consumers — the scan lineage
    appears at most once), the feature-stats join is an equi-join on
    the 8-byte hash, and the only SinglePartition gather is the 1-row
    totals aggregate feeding the broadcast cross join."""
    from tickdatapipeline_spark.operators.text import importance_weights

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = physical(importance_weights(docs, "src0"))
    assert plan.count("documents.parquet") <= 1, "feature explosion re-derived"
    assert "InMemoryTableScan" in plan or "Scan ExistingRDD" in plan
    assert plan.count("Exchange SinglePartition") <= 1  # the 1-row totals only
    # exactly one nested-loop join: the broadcast 1-row totals
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan


def test_semantic_dedup_pair_join_is_cell_keyed(spark):
    """sim_semantic_dedup: the quadratic step must key on the cluster
    cell (equi-join), never an unkeyed cross of the corpus; the only
    nested-loop joins are the broadcast n_cells-row centroid scorings."""
    from tickdatapipeline_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = physical(semantic_dedup(emb, max_cell_size=None))
    assert "CartesianProduct" not in plan
    nlj = plan.count("BroadcastNestedLoopJoin")
    assert nlj <= 1, f"{nlj} nested-loop joins — assignment must be pinned, pair join cell-keyed"
    assert plan.count("embeddings.parquet") <= 1, "centroid scoring re-derived"


def test_substring_dup_pairs_is_fp_keyed_single_explosion(spark):
    """dedup_substring_pairs: the pair join keys on the fingerprint
    hash (equi-join, never a cross product), and with the skew guard
    on, the winnowing lineage is pinned so the char-gram explosion
    runs once, not once per join side."""
    from tickdatapipeline_spark.operators.dedup import substring_dup_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = physical(substring_dup_pairs(docs))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("documents.parquet") <= 1, "winnowing lineage re-derived per join side"


def test_user_rfm_windows_partition_by_cohort(spark):
    """events_user_rfm: every ntile window partitions by cohort_week —
    no corpus-wide single-partition sort anywhere."""
    from tickdatapipeline_spark.plans.beyond import user_rfm_fn

    plan = physical(user_rfm_fn(spark, SF))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(cohort_week" in plan


def test_seasonal_anomaly_topk_is_group_limited(spark):
    """events_seasonal_anomaly: the per-type top-k rank filter must
    plan WindowGroupLimit (partial + final), the baseline join must
    broadcast, and no SinglePartition exists."""
    from tickdatapipeline_spark.plans.beyond import seasonal_anomaly_fn

    plan = physical(seasonal_anomaly_fn(spark, SF))
    assert plan.count("WindowGroupLimit") == 2
    assert "BroadcastHashJoin" in plan
    assert "SinglePartition" not in plan


def test_hourly_topk_window_is_group_limited(spark):
    """The per-hour rank window must pre-aggregate (hour, user) map-side
    and plan WindowGroupLimit Partial+Final, so a hot hour's user list
    never crosses the shuffle whole."""
    from tickdatapipeline_spark.plans.beyond import hourly_topk_fn

    plan = physical(hourly_topk_fn(spark, SF))
    assert plan.count("WindowGroupLimit") == 2
    assert "SinglePartition" not in plan


def test_zipf_profile_vocab_window_is_group_limited(spark):
    """The per-source vocabulary ranking must cap at rnk <= 512 via
    WindowGroupLimit (Partial+Final) — a web-scale source's vocabulary
    is unbounded, its top-512 is not; the tiny lead() window afterwards
    runs over <= 10 rows/source."""
    from tickdatapipeline_spark.plans.beyond import zipf_profile_fn

    plan = physical(zipf_profile_fn(spark, SF))
    assert plan.count("WindowGroupLimit") >= 2
    assert "SinglePartition" not in plan


def test_diversity_sample_window_is_group_limited(spark):
    """The per-cell farthest-first selection must plan WindowGroupLimit
    for its rnk <= m filter (plus the crank = 1 assignment window), and
    nothing may collapse to a single partition — a cell's membership
    list never crosses the shuffle whole."""
    from tickdatapipeline_spark.operators.similarity import diversity_sample

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = physical(diversity_sample(emb))
    assert plan.count("WindowGroupLimit") >= 2
    assert "SinglePartition" not in plan


def test_char_bigram_likelihood_model_joins_broadcast(spark):
    """The O(charset^2) bigram model and prefix tables must broadcast
    onto the doc-bigram stream — the only exchange keyed on data size
    is the doc_id re-aggregate."""
    from tickdatapipeline_spark.operators.text import char_bigram_likelihood

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = physical(char_bigram_likelihood(docs))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "SinglePartition" not in plan


def test_robust_anomalies_top_n_is_take_ordered(spark):
    """The global top-N must plan as TakeOrdered (never a full global
    sort), the per-type median/MAD aggregates must broadcast back, and
    only the two documented per-type ranking windows may exist."""
    from tickdatapipeline_spark.plans.beyond import robust_anomalies_fn

    plan = physical(robust_anomalies_fn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    # the med2 broadcast join sits behind the pin()'s lineage cut, so
    # only the mad4 broadcast is visible in the final plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert "GlobalLimit" not in plan


def test_collocations_top_k_is_take_ordered(spark):
    """Global top-k by lift must plan TakeOrdered; the unigram totals
    must broadcast onto the (min-count-filtered) pair table."""
    from tickdatapipeline_spark.operators.text import collocations

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = physical(collocations(docs))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "GlobalLimit" not in plan


@pytest.mark.heavy
def test_group_aware_split_carries_no_forced_broadcast(spark):
    """The corpus-vs-cluster-members join consumes a one-row-per-dup-doc
    table — at 100 TB it may not fit a broadcast, so (same convention
    as the other dedup joins) the plan must carry NO broadcast hint and
    let AQE pick broadcast-vs-SMJ from observed sizes; the split draw
    itself must stay a map-side projection (no extra exchange above
    the join)."""
    from tickdatapipeline_spark.operators.dedup import cluster_aware_split

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = cluster_aware_split(docs, max_band_bucket=None)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "hint" not in opt.lower()
    plan = physical(df)
    above_join = plan.split("Join", 1)[0]
    assert "Exchange" not in above_join


@pytest.mark.heavy
def test_weighted_jaccard_is_candidate_restricted(spark):
    """Like plain Jaccard: verification must consume the LSH band table
    (band_key join) — never an unrestricted gram self-join — and the
    df-weight join must key on the same hashed gram as the overlap."""
    from tickdatapipeline_spark.operators.dedup import weighted_jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = physical(weighted_jaccard_pairs(docs))
    assert "band_key" in plan
    import re

    assert re.search(r"shingle#\d+ = shingle#\d+", plan) is None


def test_fluency_filter_percentile_is_group_partitioned(spark):
    """The per-source p10 bar must come from group-partitioned ranking
    windows (no unpartitioned window, no SinglePartition) and the
    O(sources) bar table must broadcast back."""
    from tickdatapipeline_spark.plans.beyond import fluency_filter_fn

    plan = physical(fluency_filter_fn(spark, SF))
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan


def test_bm25_stats_broadcast_and_take_ordered(spark):
    """BM25's 1-row corpus stats must broadcast (never shuffle the doc
    table against them) and the top-k must plan TakeOrderedAndProject,
    not a global sort."""
    from tickdatapipeline_spark.plans.beyond import BM25_QUERY, BM25_TOPK
    from tickdatapipeline_spark.operators.search import bm25_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = physical(bm25_topk(docs, BM25_QUERY, BM25_TOPK))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "GlobalLimit" not in plan


def test_kmv_rank_window_is_group_limited(spark):
    """The per-day k-smallest-hash window must plan WindowGroupLimit
    (Partial+Final), so a day's full user-hash list never crosses the
    shuffle whole."""
    from tickdatapipeline_spark.plans.beyond import kmv_daily_fn

    plan = physical(kmv_daily_fn(spark, SF))
    assert plan.count("WindowGroupLimit") == 2
    assert "SinglePartition" not in plan


def test_session_concurrency_sweep_partitions_by_day(spark):
    """The boundary sweep's running-sum window must partition by day —
    the whole point of the per-day segment split is avoiding one global
    serial window over every session boundary."""
    from tickdatapipeline_spark.plans.beyond import session_concurrency_fn

    plan = physical(session_concurrency_fn(spark, SF))
    assert "hashpartitioning(day_i" in plan
    assert "SinglePartition" not in plan


def test_length_ks_sweep_partitions_by_pair(spark):
    """Every KS CDF sweep runs inside its (s1, s2) pair partition."""
    from tickdatapipeline_spark.plans.beyond import length_ks_fn

    plan = physical(length_ks_fn(spark, SF))
    assert "windowspecdefinition(s1" in plan  # pair-partitioned, not global
    assert "SinglePartition" not in plan


def test_media_near_duplicates_bucket_join_and_mean_broadcast(spark):
    """Feature near-dup must join on the LSH bucket (equi-join, never a
    raw cross product over media rows) with the 1-row mean broadcast."""
    from tickdatapipeline_spark.plans.beyond import media_dedup_features_fn

    plan = physical(media_dedup_features_fn(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row means join
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or plan.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan


def test_triangle_census_joins_are_equi(spark):
    """The triangle count must close via equi-joins on oriented edge
    endpoints — never a cartesian/nested-loop over the candidate edge
    table — and the membership count must partition by doc."""
    from tickdatapipeline_spark.operators import globalorder
    from tickdatapipeline_spark.plans.beyond import dedup_graph_triangles_fn

    globalorder.set_pins(False)  # pin() truncates lineage for plan asserts
    try:
        plan = physical(dedup_graph_triangles_fn(spark, SF))
    finally:
        globalorder.set_pins(True)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(doc_id" in plan


def test_key_skew_rank_window_partitions_by_type(spark):
    """The Gini rank window must partition by event_type (the per-type
    contract that keeps the sort distributed), and the guard's
    raise_error must survive into the executed plan."""
    from tickdatapipeline_spark.plans.beyond import key_skew_fn

    plan = physical(key_skew_fn(spark, SF))
    assert "windowspecdefinition(event_type" in plan
    assert "SinglePartition" not in plan
    assert "raise_error" in plan


def test_power_pareto_window_runs_over_histogram(spark):
    """The Pareto cumulative window may only see the count HISTOGRAM:
    the per-user counts must collapse via groupBy(cnt) (hashpartitioning
    on cnt) before any unpartitioned window, and the decile grid joins
    broadcast."""
    from tickdatapipeline_spark.plans.beyond import power_users_pareto_fn

    plan = physical(power_users_pareto_fn(spark, SF))
    assert "hashpartitioning(cnt" in plan      # histogram reduce feeds the window
    assert "hashpartitioning(user_id" in plan  # per-user reduce is distributed
    assert "BroadcastNestedLoopJoin" in plan   # 10-row grid range-join
    assert "CartesianProduct" not in plan


@pytest.mark.heavy
def test_q2_q5_q11_shapes_scale_posture(spark):
    """The three closing TPC-H shapes: Q2's top-k must plan
    TakeOrderedAndProject (never a global sort materialization), Q5's
    dimension chain must broadcast with no cartesian, and Q11's global
    scalar must arrive as a 1-row broadcast join."""
    from tickdatapipeline_spark.plans.relational import r37_fn, r38_fn, r39_fn

    p37 = physical(r37_fn(spark, SF))
    assert "TakeOrderedAndProject" in p37
    assert "GlobalLimit" not in p37

    p38 = physical(r38_fn(spark, SF))
    assert "BroadcastHashJoin" in p38
    assert "CartesianProduct" not in p38

    p39 = physical(r39_fn(spark, SF))
    assert "BroadcastNestedLoopJoin" in p39  # the 1-row total join
    assert "CartesianProduct" not in p39


def test_ngram_repetition_is_mapside_single_agg(spark):
    """The repetition profile must stay one map-side gram pass + one
    combinable groupBy(source): no explode (grams are list lengths on
    the row), no join, and partial aggregation before the source
    exchange."""
    from tickdatapipeline_spark.plans.beyond import ngram_repetition_fn

    plan = physical(ngram_repetition_fn(spark, SF))
    assert "hashpartitioning(source" in plan
    assert "partial_count" in plan or "partial_sum" in plan  # map-side combine
    assert "Generate" not in plan        # no explode anywhere
    assert "Join" not in plan            # pure scan -> agg -> sort


def test_seasonal_profile_broadcasts_type_totals(spark):
    """(type, hod) aggregate distributed on its keys; the per-type
    totals come back as a BROADCAST join (24 x types rows), never a
    shuffle join or cartesian."""
    from tickdatapipeline_spark.plans.beyond import seasonal_profile_fn

    from tickdatapipeline_spark.operators.globalorder import set_pins

    try:
        set_pins(False)  # pin() truncates lineage; disable to see the plan
        plan = physical(seasonal_profile_fn(spark, SF))
    finally:
        set_pins(True)
    assert "hashpartitioning(event_type" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_type_affinity_pair_join_is_user_keyed(spark):
    """The co-occurrence self-join must shuffle on user_id (fanout
    bounded by the type alphabet), with the per-type totals and 1-row
    user count broadcast back — no cartesian anywhere."""
    from tickdatapipeline_spark.plans.beyond import type_affinity_fn

    plan = physical(type_affinity_fn(spark, SF))
    assert "hashpartitioning(user_id" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_rollup_is_single_expand_pass(spark):
    """ROLLUP must compute all three levels in ONE scan via an Expand
    node with map-side partial aggregation — not three separate scans
    or a join of level aggregates."""
    from tickdatapipeline_spark.plans.beyond import type_hod_rollup_fn

    plan = physical(type_hod_rollup_fn(spark, SF))
    assert "Expand" in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "Join" not in plan
    assert plan.count("FileScan") == 1


def test_heavy_hitters_recount_joins_broadcast_candidates(spark):
    """Pass 2's exact recount must reach the events scan through a
    BROADCAST of the tiny candidate set (never a shuffle of the full
    key table), with the MG pass visible as the Python kernel."""
    from tickdatapipeline_spark.plans.beyond import heavy_hitters_fn

    plan = physical(heavy_hitters_fn(spark, SF))
    assert "MapInPandas" in plan or "mapInPandas" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_lm_surprisal_joins_are_equi_and_combinable(spark):
    """Count tables must be combinable groupBys reached by equi-joins
    (hash partitioning on gram/w1), never a cartesian; the per-doc
    aggregate shuffles on doc_id."""
    from tickdatapipeline_spark.operators.globalorder import set_pins
    from tickdatapipeline_spark.plans.beyond import lm_surprisal_fn

    try:
        set_pins(False)
        plan = physical(lm_surprisal_fn(spark, SF))
    finally:
        set_pins(True)
    assert "hashpartitioning(gram" in plan
    assert "hashpartitioning(doc_id" in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_vwap_bars_single_combinable_agg(spark):
    """VWAP is one map-side projection + one combinable groupBy on
    bar_id — no join in the aggregation itself."""
    from tickdatapipeline_spark.operators.bars import vwap_bars
    from tests.conftest import make_ticks_raw

    raw = make_ticks_raw(spark, [
        (i + 1, "20250319 000000 0000000", 100 + i, 1 + (i % 3)) for i in range(8)
    ])
    plan = physical(vwap_bars(raw, 4))
    assert "hashpartitioning(bar_id" in plan
    assert "partial_sum" in plan
    assert "Join" not in plan


@pytest.mark.heavy
def test_market_indicators_partition_by_stream(spark):
    """All four market-microstructure queries window per stream (the
    per-symbol partitioning a 100 TB tick corpus has) — no
    SinglePartition exchange and no unpartitioned window anywhere;
    the bar-table indicators reduce 144x via a combinable groupBy
    BEFORE any trailing window runs."""
    import re

    from tickdatapipeline_spark.plans import market

    for name, (fn, _sql) in market.queries().items():
        plan = physical(fn(spark, SF))
        assert "SinglePartition" not in plan, name
        assert "hashpartitioning(stream" in plan, name
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            assert "ASC" not in m.group(1).split(",")[0], (
                f"{name}: unpartitioned window: {m.group(0)[:120]}")

    plan = physical(market.bollinger_fn(spark, SF))
    assert "partial_max_by" in plan or "partial_sum" in plan or "partial_count" in plan


def test_count_min_sketch_is_combinable_and_probe_broadcasts(spark):
    """The CM sketch aggregate partial-combines map-side (state is
    O(D*W) per partition, the sketch's entire point), the top-k probe
    side is TakeOrderedAndProject (never a global rank window), and
    the 192-cell sketch broadcasts into the probe join."""
    from tickdatapipeline_spark.plans.beyond import count_min_fn

    plan = physical(count_min_fn(spark, SF))
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "windowspecdefinition" not in plan


def test_zipf_doubling_uses_partial_topk(spark):
    """The Zipf doubling profile never globally sorts the vocabulary:
    the top-2R ranks come off TakeOrderedAndProject, and the only
    window runs over the <=128 surviving rows."""
    from tickdatapipeline_spark.plans.beyond import zipf_doubling_fn

    plan = physical(zipf_doubling_fn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def test_dup_span_coverage_plan_shape(spark):
    """The span-coverage plan's 100 TB posture: island windows are
    DOC-partitioned (no SinglePartition anywhere except none at all),
    the df>=2 aggregation shuffles the 8-byte gram hash (not gram
    strings), and the final per-source aggregate is partial
    (map-side combine) before its exchange."""
    from tickdatapipeline_spark.plans.beyond import dup_span_coverage_fn

    plan = physical(dup_span_coverage_fn(spark, SF))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(doc_id" in plan  # island windows per doc
    assert "hashpartitioning(gh" in plan      # df filter keyed on the hash
    assert "partial_count" in plan.lower() or "partial" in plan


@pytest.mark.heavy
def test_lpa_communities_plan_shape(spark):
    """The LPA round plan (the code the loop actually runs,
    operators/dedup._lpa_round): the label-vote rank window is
    NODE-partitioned, no SinglePartition anywhere; and the loop's
    final plan is an O(1)-deep checkpoint scan, not a re-derived
    LSH lineage."""
    from tickdatapipeline_spark.operators.dedup import _lpa_round, lpa_communities
    from tickdatapipeline_spark.plans.beyond import lpa_fn

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "doc_a long, doc_b long")
    edges = pairs.selectExpr("doc_a AS src", "doc_b AS dst").unionByName(
        pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
    labels = edges.selectExpr("src AS node").distinct().selectExpr(
        "node", "node AS label")
    round_plan = physical(_lpa_round(edges, labels))
    assert "SinglePartition" not in round_plan
    assert "hashpartitioning(node" in round_plan
    # the loop's final plan reads the last round's checkpoint — O(1)
    # deep regardless of iters — and the real query plans the same way
    assert "Scan ExistingRDD" in physical(
        lpa_communities(pairs, "doc_a", "doc_b", iters=2))
    assert "Scan ExistingRDD" in physical(lpa_fn(spark, SF))
