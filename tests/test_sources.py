"""Tick-file scan tests (S1-S3): parse, malformed skip, multi-file
streams."""

from __future__ import annotations

import pytest

from tickdatapipeline_spark.config import SignalProcessingConfig
from tickdatapipeline_spark.operators.expansion import expand_volume
from tickdatapipeline_spark.operators.hotloop import hot_loop
from tickdatapipeline_spark.sources.tickfile import read_tick_file, read_tick_files


def write_file(path, rows, junk=True):
    with open(path, "w") as f:
        for ts, price, vol in rows:
            f.write(f"{ts};{price - 1};{price + 1};{price};{vol}\n")
        if junk:
            f.write("\n")                    # empty: skipped
            f.write("  \n")                  # blank: skipped
            f.write("not;enough\n")          # wrong field count: skipped
            f.write("a b c;x;y;z;w\n")       # non-numeric: skipped
    return str(path)


def test_read_tick_file_parses_and_skips(spark, tmp_path):
    rows = [(f"20250319 12000{i} 0000000", 41970 + i, 1 + i % 3) for i in range(6)]
    path = write_file(tmp_path / "t.txt", rows)
    got = read_tick_file(spark, path).orderBy("line_no").collect()
    assert len(got) == 6  # junk lines silently dropped (VolumeExpansion.jl:162-171)
    assert [r.line_no for r in got] == list(range(1, 7))
    assert [r.last for r in got] == [41970 + i for i in range(6)]
    assert got[0].bid == 41969 and got[0].ask == 41971


@pytest.mark.heavy
def test_read_tick_files_per_stream_numbering(spark, tmp_path):
    rows_a = [(f"20250319 12000{i} 0000000", 41970 + i, 1) for i in range(4)]
    rows_b = [(f"20250320 09000{i} 0000000", 42000 + i, 2) for i in range(3)]
    write_file(tmp_path / "a.txt", rows_a)
    write_file(tmp_path / "b.txt", rows_b, junk=False)
    df = read_tick_files(spark, str(tmp_path / "*.txt"))
    got = df.orderBy("stream", "line_no").collect()
    assert len(got) == 7
    by_stream = {}
    for r in got:
        by_stream.setdefault(r.stream.rsplit("/", 1)[-1], []).append(r)
    assert [r.line_no for r in by_stream["a.txt"]] == [1, 2, 3, 4]
    assert [r.line_no for r in by_stream["b.txt"]] == [1, 2, 3]

    # the multi-file frame feeds the stream-partitioned pipeline directly
    out = hot_loop(
        expand_volume(df, stream_id="stream"),
        SignalProcessingConfig(encoder_type="derivative"),
        stream_id="stream",
    )
    assert out.count() == 4 + 2 * 3  # sum of volumes
    # per-stream tick numbering restarts
    assert out.groupBy("stream").count().count() == 2


def test_events_event_id_contiguity_contract():
    """The chunked multistream source (sources/tickfile.py,
    ticks_from_events_streams with chunk_size) rewrites per-stream
    line_no to the closed form `event_id DIV n_streams + 1`, which
    equals the windowed row_number ONLY when event_ids are contiguous
    from 0. Pin that contract against every driver-generated events
    fixture so a regeneration with gaps/duplicates fails loudly here
    instead of silently skewing the *_twopass queries."""
    import duckdb
    from pathlib import Path

    con = duckdb.connect()
    checked = 0
    for sf_dir in sorted(Path("/root/testdata").glob("sf*")):
        ev = sf_dir / "events.parquet"
        if not ev.exists():
            continue
        n, lo, hi, nd = con.sql(
            f"SELECT COUNT(*), MIN(event_id), MAX(event_id), "
            f"COUNT(DISTINCT event_id) FROM read_parquet('{ev}')"
        ).fetchone()
        assert (lo, hi, nd) == (0, n - 1, n), (
            f"{ev}: event_id not contiguous 0-based "
            f"(count={n}, min={lo}, max={hi}, distinct={nd}) — the "
            f"closed-form line_no in ticks_from_events_streams is "
            f"invalid for this fixture"
        )
        checked += 1
    assert checked >= 3  # sf0.001 / sf0.01 / sf0.1 all present


def _write_events(spark, path, event_ids):
    spark.createDataFrame(
        [(int(e),) for e in event_ids], "event_id long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")


def _run_chunked_chain(spark, sf_dir):
    from tickdatapipeline_spark.sources.tickfile import ticks_from_events

    raw = ticks_from_events(spark, str(sf_dir), chunk_size=7)
    expand_volume(raw, chunk_size=7).write.format("noop").mode(
        "overwrite").save()


def test_density_guard_raises_on_gapped_or_duplicated_event_ids(
    spark, tmp_path
):
    """r15 (r14 verdict #3): the closed-form line numbering
    (line_no = event_id + 1, sources/tickfile.py) silently misnumbers
    every line on a gappy or re-keyed events table. The dense-order
    contract is now VERIFIED in-plan — the expansion's existing
    per-chunk offsets aggregate checks per-chunk contiguity + the
    prefix row count (globalorder.chunk_offsets_plan ``dense``) and
    raises loudly. Dense ids must keep passing; a gap, a duplicate,
    and a re-keyed (1-based) table must each fail with the contract
    message, not wrong numbers."""
    import pytest

    # control: contiguous 0-based ids pass (several chunk boundaries)
    _write_events(spark, tmp_path / "ok", range(40))
    _run_chunked_chain(spark, tmp_path / "ok")

    cases = {
        "gap": [e for e in range(40) if e != 17],
        "dup": list(range(40)) + [23],
        "rekeyed": range(1, 41),  # 1-based: every line off by one
        "boundary_gap": list(range(14)) + list(range(21, 40)),  # whole chunk 2 missing
    }
    for label, ids in cases.items():
        _write_events(spark, tmp_path / label, ids)
        with pytest.raises(Exception, match="dense-order contract"):
            _run_chunked_chain(spark, tmp_path / label)


@pytest.mark.heavy
def test_density_guard_multistream_and_metadata_survival(spark, tmp_path):
    """The per-stream closed form (ticks_from_events_streams) carries
    the same guard; the metadata claim must survive the source's
    fan_out/pin so the check actually fires downstream."""
    import pytest

    from tickdatapipeline_spark.operators.globalorder import GO_CHUNK
    from tickdatapipeline_spark.sources.tickfile import (
        ticks_from_events_streams,
    )

    _write_events(spark, tmp_path / "ok", range(40))
    raw = ticks_from_events_streams(spark, str(tmp_path / "ok"), chunk_size=5)
    assert raw.schema[GO_CHUNK].metadata.get("go_dense_order") == "line_no"
    expanded = expand_volume(raw, stream_id="stream", chunk_size=5)
    # the replicas share their line's line_no, so the claim stops here
    assert "go_dense_order" not in expanded.schema[GO_CHUNK].metadata
    expanded.write.format("noop").mode("overwrite").save()

    _write_events(spark, tmp_path / "gap2",
                  [e for e in range(40) if e != 9])
    raw = ticks_from_events_streams(spark, str(tmp_path / "gap2"),
                                    chunk_size=5)
    with pytest.raises(Exception, match="dense-order contract"):
        expand_volume(raw, stream_id="stream", chunk_size=5).write.format(
            "noop").mode("overwrite").save()


def test_read_documents_jsonl_permissive(spark, tmp_path):
    """JSONL ingest: well-formed lines parse against the explicit
    schema; malformed lines surface as all-NULL rows with the raw line
    preserved in _corrupt_record instead of aborting the scan."""
    import json

    from tickdatapipeline_spark.sources.io import read_documents_jsonl

    p = tmp_path / "docs.jsonl"
    good = [
        {"doc_id": 1, "text": "hello world", "lang": "en",
         "source": "s0", "n_chars": 11},
        {"doc_id": 2, "text": "bonjour", "lang": "fr",
         "source": "s1", "n_chars": 7},
    ]
    lines = [json.dumps(good[0]), "{not json at all", json.dumps(good[1])]
    p.write_text("\n".join(lines) + "\n")
    df = read_documents_jsonl(spark, str(p))
    rows = df.collect()
    assert len(rows) == 3
    ok = {r.doc_id: r for r in rows if r._corrupt_record is None}
    assert set(ok) == {1, 2}
    assert ok[1].text == "hello world" and ok[2].lang == "fr"
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(bad) == 1
    assert bad[0]._corrupt_record == "{not json at all"
    assert bad[0].doc_id is None and bad[0].text is None
    # corrupt counting: the ingest-side health gauge. Spark disallows
    # referencing ONLY _corrupt_record in a query over raw JSON
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — cache first, as documented.
    df.cache()
    try:
        assert df.where(df["_corrupt_record"].isNotNull()).count() == 1
    finally:
        df.unpersist()


def test_register_views_sql_entrypoint(spark):
    """spark.sql over the registered views answers a join query with
    full pushdown (the filter reaches the parquet scan) — the SQL-first
    user path."""
    from tickdatapipeline_spark.sources.views import register_views

    register_views(spark, "/root/testdata/sf0.001")
    df = spark.sql("""
        SELECT n.n_name, count(*) AS n_customers
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_acctbal > 0
        GROUP BY n.n_name ORDER BY n_customers DESC, n_name LIMIT 5
    """)
    rows = df.collect()
    assert 0 < len(rows) <= 5
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "c_acctbal" in plan.split("PushedFilters")[1][:200]
    assert "BroadcastHashJoin" in plan
