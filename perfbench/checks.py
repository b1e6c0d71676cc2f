"""Output checks against the DuckDB oracle (tickdatapipeline_spark.oracle
and each registry query's oracle_sql twin). They run once per
invocation, outside the timed region; each returns a list of mismatch
descriptions, empty when the outputs agree."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

TICK_COLS = ["tick_idx", "timestamp", "raw_price", "price_delta",
             "sig_re", "sig_im", "normalization", "status_flag"]
_INT = re.compile(r"^[+-]?\d+$")


def parse_tick_lines(lines: list[str]) -> pd.DataFrame:
    """The tick reader's contract, restated in Python: drop blank lines,
    split on ';', keep lines of exactly five fields whose last four parse
    as integers; ``line_no`` numbers the kept lines from 1."""
    rows = []
    for line in lines:
        if not line.strip(" "):
            continue
        parts = [p.strip(" ") for p in line.split(";")]
        if len(parts) != 5 or not all(_INT.match(p) for p in parts[1:]):
            continue
        rows.append((len(rows) + 1, parts[0], *(int(p) for p in parts[1:])))
    return pd.DataFrame(rows, columns=["line_no", "ts_str", "bid", "ask", "last", "volume"])


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda x: str(x) if x is not None else None)
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


def frame_diff(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Row count, column names, then dtype-strict values (floats exact,
    NaN equal to NaN), regardless of row order."""
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, oracle {len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"]
    got, want = canon(got), canon(want)
    bad = []
    for c in got.columns:
        a, b = got[c], want[c]
        if (a.dtype.kind in "iuf" or b.dtype.kind in "iuf") and a.dtype != b.dtype:
            bad.append(f"{name}.{c}: dtype {a.dtype}, oracle {b.dtype}")
            continue
        if a.dtype.kind == "f":
            av, bv = a.to_numpy(), b.to_numpy()
            same = bool(np.all((av == bv) | (np.isnan(av) & np.isnan(bv))))
        else:
            same = bool((a.fillna("\0").to_numpy() == b.fillna("\0").to_numpy()).all())
        if not same:
            bad.append(f"{name}.{c}: values differ")
    return bad


def check_day_file(lines: list[str], out_path: str, sp, bp) -> list[str]:
    """Processed ticks and FIR bars of one run_pipeline_managed output
    against oracle.pipeline_ctes / bars_ctes over the same lines."""
    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tickdatapipeline_spark.oracle import bars_ctes, pipeline_ctes

    out = pq.read_table(out_path)
    con = duckdb.connect()
    try:
        con.register("day_ticks_in", parse_tick_lines(lines))
        ctes = pipeline_ctes(sp, ticks_raw_sql="SELECT * FROM day_ticks_in")
        want_ticks = con.sql(f"WITH {ctes} SELECT {', '.join(TICK_COLS)} FROM ticks_out").df()
        want_bars = con.sql(f"WITH {ctes}, {bars_ctes(sp, bp)} SELECT * FROM bars_out").df()
    finally:
        con.close()
    got_ticks = out.select(TICK_COLS).to_pandas()
    bars_tbl = out.filter(pc.is_valid(out["bar_idx"]))
    bar_cols = [c for c in want_bars.columns if c in bars_tbl.column_names]
    got_bars = bars_tbl.select(bar_cols).to_pandas()
    got_bars["end_tick_idx"] = bars_tbl["tick_idx"].to_numpy()
    return (frame_diff("day_file.ticks", got_ticks, want_ticks)
            + frame_diff("day_file.bars", got_bars, want_bars[[*bar_cols, "end_tick_idx"]]))


def check_queries(results: dict[str, pd.DataFrame], oracle_sql: dict[str, str],
                  sf_dir: str) -> list[str]:
    """Each query's collected result against its oracle_sql() twin run in
    DuckDB over the same events table."""
    import duckdb

    con = duckdb.connect()
    bad = []
    try:
        con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')")
        for name, got in results.items():
            bad += frame_diff(name, got, con.sql(oracle_sql[name]).df())
    finally:
        con.close()
    return bad


def check_live(prio_path: str, expected_ticks: dict[str, int]) -> list[str]:
    """Committed PRIORITY rows equal the generated expanded tick count of
    every stream, and each stream's tick_idx is dense from 1."""
    import pyarrow.parquet as pq

    df = pq.read_table(prio_path, columns=["stream", "tick_idx"]).to_pandas()
    bad = []
    for stream, want in sorted(expected_ticks.items()):
        idx = np.sort(df.loc[df["stream"] == stream, "tick_idx"].to_numpy())
        if len(idx) != want:
            bad.append(f"live_feed.{stream}: {len(idx)} committed ticks, generated {want}")
        elif not np.array_equal(idx, np.arange(1, want + 1)):
            bad.append(f"live_feed.{stream}: tick_idx not dense 1..{want}")
    if len(df) != sum(expected_ticks.values()):
        bad.append(f"live_feed: {len(df)} committed rows, generated {sum(expected_ticks.values())}")
    return bad
