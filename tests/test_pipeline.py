"""Batch orchestration (O1/O2) + capture (S4-S6) tests."""

from __future__ import annotations

import pytest

from tickdatapipeline_spark.config import (
    BarProcessingConfig,
    PipelineConfig,
    SignalProcessingConfig,
)
from tickdatapipeline_spark.pipeline import (
    capture,
    csv_export,
    run_pipeline,
    run_pipeline_managed,
)


def write_tick_file(path, n=60):
    price = 41970
    with open(path, "w") as f:
        for i in range(n):
            price += (i * 3) % 7 - 3
            f.write(f"20250319 1200{i:02d} 0000000;{price - 1};{price + 1};{price};{1 + i % 2}\n")
    return str(path)


@pytest.mark.heavy
def test_run_pipeline_simple_skips_bars(spark, tmp_path):
    cfg = PipelineConfig(
        tick_file_path=write_tick_file(tmp_path / "ticks.txt"),
        signal_processing=SignalProcessingConfig(encoder_type="derivative"),
        bar_processing=BarProcessingConfig(enabled=True, ticks_per_bar=5,
                                           normalization_window_bars=20),
    )
    out = tmp_path / "out"
    res = run_pipeline(spark, cfg, str(out), max_ticks=50)
    assert res.ticks_processed == 50
    df = spark.read.parquet(str(out))
    assert "bar_idx" not in df.columns  # O1 skips the bar stage (quirk)
    assert df.count() == 50


@pytest.mark.heavy
def test_run_pipeline_managed_with_bars_and_callback(spark, tmp_path):
    cfg = PipelineConfig(
        tick_file_path=write_tick_file(tmp_path / "ticks.txt"),
        signal_processing=SignalProcessingConfig(encoder_type="derivative"),
        bar_processing=BarProcessingConfig(enabled=True, ticks_per_bar=5,
                                           normalization_window_bars=20),
    )
    out = tmp_path / "out"
    calls = []
    res = run_pipeline_managed(spark, cfg, str(out), completion_callback=calls.append)
    assert calls == [res]
    df = spark.read.parquet(str(out))
    assert "bar_idx" in df.columns
    enriched = df.where(df.bar_idx.isNotNull())
    assert enriched.count() == df.count() // 5  # one completing tick per bar


def test_write_counts_rows_without_reading_output(spark, tmp_path, monkeypatch):
    """run_pipeline and capture count the rows they write from the write
    itself: with every parquet/load read failing, they still return the
    right counts (an empty write included)."""
    from pyspark.sql.readwriter import DataFrameReader

    from tickdatapipeline_spark.operators.expansion import expand_volume
    from tickdatapipeline_spark.operators.hotloop import hot_loop
    from tickdatapipeline_spark.sources.tickfile import read_tick_file

    path = write_tick_file(tmp_path / "ticks.txt")
    cfg = PipelineConfig(
        tick_file_path=path,
        signal_processing=SignalProcessingConfig(encoder_type="derivative"),
        bar_processing=BarProcessingConfig(enabled=False),
    )
    processed = hot_loop(expand_volume(read_tick_file(spark, path)), cfg.signal_processing)

    def no_read(*args, **kwargs):
        raise AssertionError("output re-read")

    monkeypatch.setattr(DataFrameReader, "load", no_read)
    monkeypatch.setattr(DataFrameReader, "parquet", no_read)
    assert run_pipeline(spark, cfg, str(tmp_path / "out"), max_ticks=50).ticks_processed == 50
    assert capture(processed, str(tmp_path / "cap"), tick_start=10, num_records=25) == 25
    assert capture(processed, str(tmp_path / "cap_orc"), tick_start=10, num_records=25,
                   partition_by=("status_flag",), fmt="orc") == 25
    assert capture(processed, str(tmp_path / "cap_empty"), tick_start=10, num_records=0) == 0


def test_plot_slice_html(spark, tmp_path):
    from tickdatapipeline_spark.operators.expansion import expand_volume
    from tickdatapipeline_spark.operators.hotloop import hot_loop
    from tickdatapipeline_spark.pipeline import plot_slice_html
    from tickdatapipeline_spark.sources.tickfile import read_tick_file

    path = write_tick_file(tmp_path / "ticks.txt")
    processed = hot_loop(
        expand_volume(read_tick_file(spark, path)),
        SignalProcessingConfig(encoder_type="derivative"),
    )
    out = tmp_path / "plot.html"
    n = plot_slice_html(processed, str(out), start_tick=5, num_ticks=40)
    html = out.read_text()
    assert n == 40
    assert "<svg" in html and html.count("<polyline") == 3


@pytest.mark.heavy
def test_capture_skip_take_and_csv(spark, tmp_path):
    from tickdatapipeline_spark.operators.expansion import expand_volume
    from tickdatapipeline_spark.operators.hotloop import hot_loop
    from tickdatapipeline_spark.sources.tickfile import read_tick_file

    path = write_tick_file(tmp_path / "ticks.txt")
    processed = hot_loop(
        expand_volume(read_tick_file(spark, path)),
        SignalProcessingConfig(encoder_type="derivative"),
    )
    cap = tmp_path / "cap"
    n = capture(processed, str(cap), tick_start=10, num_records=25)
    assert n == 25
    got = spark.read.parquet(str(cap))
    assert got.agg({"tick_idx": "min"}).collect()[0][0] == 11
    assert got.agg({"tick_idx": "max"}).collect()[0][0] == 35

    csv_dir = tmp_path / "csv"
    csv_export(spark, str(cap), str(csv_dir))
    back = spark.read.option("header", "true").csv(str(csv_dir))
    assert back.count() == 25
    assert "sig_re" in back.columns


@pytest.mark.heavy
def test_capture_partitioned_prunes(spark, tmp_path):
    """partition_by writes hive-style dirs and a per-partition read
    plans a partition-pruned scan (the 100 TB capture layout)."""
    import pyspark.sql.functions as F

    from tickdatapipeline_spark.operators.expansion import expand_volume
    from tickdatapipeline_spark.operators.hotloop import hot_loop
    from tickdatapipeline_spark.sources.tickfile import read_tick_file

    path = write_tick_file(tmp_path / "ticks.txt")
    processed = hot_loop(
        expand_volume(read_tick_file(spark, path)),
        SignalProcessingConfig(encoder_type="derivative"),
    ).withColumn("stream", F.when(F.col("tick_idx") % 2 == 0, "even").otherwise("odd"))
    cap = tmp_path / "cap_part"
    n = capture(processed, str(cap), partition_by=("stream",))
    assert n == processed.count()
    assert (cap / "stream=even").is_dir() and (cap / "stream=odd").is_dir()
    pruned = spark.read.parquet(str(cap)).where(F.col("stream") == "even")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln][0]
    assert "PartitionFilters: [isnotnull(stream" in scan
    assert pruned.count() == n // 2

    # partition col overlapping the capture schema must not duplicate it
    cap2 = tmp_path / "cap_overlap"
    n2 = capture(processed, str(cap2), partition_by=("tick_idx",))
    assert n2 == n


@pytest.mark.heavy
def test_ticks_cache_accounting_and_eviction(spark):
    """The shared ticks cache reports per-entry persisted bytes and
    evicts FIFO past the cap — at sf10+ an unbounded persist cache is
    the first OOM candidate (r04 verdict stretch item)."""
    from tickdatapipeline_spark.plans import common as C

    C._TICKS_CACHE.clear()
    C.set_ticks_cache(True)
    C.set_ticks_cache_cap(1)
    try:
        a = C.processed_ticks(spark, "/root/testdata/sf0.001")
        a.count()  # materialize the persist
        info = C.ticks_cache_info(spark)
        assert len(info) == 1 and info[0]["materialized"]
        assert info[0]["mem_bytes"] + info[0]["disk_bytes"] > 0

        b = C.processed_ticks(spark, "/root/testdata/sf0.01")
        b.count()
        info = C.ticks_cache_info(spark)  # cap 1: sf0.001 evicted
        assert [e["sf_dir"] for e in info] == ["/root/testdata/sf0.01"]
        assert len(C._TICKS_CACHE) == 1
        # the evicted frame is still usable — it just recomputes
        assert a.count() > 0
    finally:
        C.set_ticks_cache_cap(4)
        for df in C._TICKS_CACHE.values():
            df.unpersist()
        C._TICKS_CACHE.clear()


@pytest.mark.heavy
def test_capture_orc_round_trip_and_pushdown(spark, tmp_path):
    """fmt='orc' writes an ORC capture whose re-read matches the
    parquet capture row-for-row, and a tick_idx predicate reaches the
    ORC scan as a pushed filter (the interop path for
    Hive/Trino-flavored lakes)."""
    from tickdatapipeline_spark.operators.expansion import expand_volume
    from tickdatapipeline_spark.operators.hotloop import hot_loop
    from tickdatapipeline_spark.sources.tickfile import read_tick_file

    path = write_tick_file(tmp_path / "ticks.txt")
    processed = hot_loop(
        expand_volume(read_tick_file(spark, path)),
        SignalProcessingConfig(encoder_type="derivative"),
    )
    n = capture(processed, str(tmp_path / "cap_orc"), tick_start=10,
                num_records=25, fmt="orc")
    assert n == 25
    capture(processed, str(tmp_path / "cap_pq"), tick_start=10, num_records=25)
    orc = spark.read.orc(str(tmp_path / "cap_orc"))
    pq = spark.read.parquet(str(tmp_path / "cap_pq"))
    assert sorted(orc.columns) == sorted(pq.columns)
    cols = sorted(orc.columns)
    assert [tuple(r) for r in orc.select(*cols).orderBy("tick_idx").collect()] == \
           [tuple(r) for r in pq.select(*cols).orderBy("tick_idx").collect()]

    plan = orc.where(orc.tick_idx > 20)._jdf.queryExecution(
        ).executedPlan().toString()
    assert "PushedFilters: [" in plan and "tick_idx" in plan.split("PushedFilters")[1][:80]
