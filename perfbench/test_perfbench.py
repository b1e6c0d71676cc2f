"""Self-tests of the benchmark's own code (no Spark session):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import pandas as pd

import gen
from checks import frame_diff, parse_tick_lines
from measure import covering_commit, drift, steal_share, tail


def test_tick_lines_deterministic_per_seed():
    a, pa = gen.tick_lines(7, 3000, stream=1, start=500)
    b, pb = gen.tick_lines(7, 3000, stream=1, start=500)
    c, _ = gen.tick_lines(8, 3000, stream=1, start=500)
    assert (a, pa) == (b, pb)
    assert a != c


def test_tick_lines_cover_the_engine_paths():
    lines, _ = gen.tick_lines(3, 20_000)
    ticks = parse_tick_lines(lines)
    assert len(ticks) == 20_000  # malformed lines come on top
    assert len(lines) > len(ticks)  # the skip path is exercised
    assert any(not ln.strip() for ln in lines)
    assert ticks["volume"].between(1, 5).all()
    spikes = ~ticks["last"].between(gen.WALK_LO, gen.WALK_HI)
    assert set(ticks.loc[spikes, "last"]) <= set(gen.SPIKE_PRICES) and spikes.sum() > 0
    walk = ticks.loc[~spikes, "last"]
    assert (walk.diff().abs() == gen.JUMP).sum() > 0
    assert (ticks["ask"] > ticks["last"]).all() and (ticks["bid"] < ticks["last"]).all()
    assert ticks["ts_str"].str.fullmatch(r"\d{8} \d{6} \d{7}").all()


def test_events_deterministic_and_dense():
    a, b = gen.events_table(5, 1000), gen.events_table(5, 1000)
    assert a.equals(b)
    assert not a.equals(gen.events_table(6, 1000))
    assert a["event_id"].to_pylist() == list(range(1000))


def test_drop_files_publishes_whole_files_with_stamp(tmp_path):
    files = {"r00001-sym0.txt": ["a;1;2;3;4"], "r00001-sym1.txt": ["b;1;2;3;4"]}
    gen.drop_files(tmp_path, files, 1_700_000_000.0)
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(files)
    for name, lines in files.items():
        f = tmp_path / name
        assert f.read_text() == lines[0] + "\n" and f.stat().st_mtime == 1_700_000_000.0


def test_covering_commit_maps_rounds_to_first_covering_commit():
    # rounds end at cumulative ticks 100, 200, 300, 400; the second commit
    # lands mid-round, the third covers two rounds at once, the fourth
    # round is never committed
    rounds = [100, 200, 300, 400]
    commits = [100, 150, 300]
    assert covering_commit(rounds, commits) == [0, 2, 2, None]
    assert covering_commit([], commits) == []
    assert covering_commit([10], []) == [None]


def test_round_latency_from_synthetic_timings():
    due = [0.0, 10.0, 20.0]
    cum = [60, 120, 180]
    commits = [(4.0, 60), (17.5, 120), (29.0, 180)]
    idx = covering_commit(cum, [c[1] for c in commits])
    assert [commits[i][0] - d for i, d in zip(idx, due)] == [4.0, 7.5, 9.0]


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(20))) is None  # p45 would sit below the median
    pct, value, n = tail([float(x) for x in range(100)])
    assert (pct, value, n) == (90.0, 89.0, 100)
    assert sum(1 for x in range(100) if x > value) == 10


def test_drift():
    assert drift([1.0]) is None
    assert drift([2.0, 5.0, 1.0]) == 0.5
    assert drift([1.0, 1.0, 2.0, 2.0]) == 2.0


def test_steal_share():
    before = [100, 0, 50, 800, 0, 0, 0, 50]
    after = [200, 0, 100, 1000, 0, 0, 0, 150]
    assert steal_share(before, after) == 100 / 450
    assert steal_share(before, before) == 0.0


def test_parse_matches_reader_contract():
    lines = ["", "  ", "20250319 093000 0000000;1;3;2;4", "x;1;2;3", "x;1;2;3;a",
             "20250319 093001 0000000; 5 ;7;6;1"]
    df = parse_tick_lines(lines)
    assert df["line_no"].tolist() == [1, 2]
    assert df["last"].tolist() == [2, 6] and df["volume"].tolist() == [4, 1]


def test_frame_diff():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, float("nan")]})
    assert frame_diff("t", a, a.iloc[::-1].reset_index(drop=True)) == []
    assert frame_diff("t", a, a.assign(v=[0.5, 1.0])) == ["t.v: values differ"]
    assert frame_diff("t", a, a.astype({"k": "float64"})) == ["t.k: dtype int64, oracle float64"]
    assert frame_diff("t", a, a.iloc[:1]) == ["t: 2 rows, oracle 1"]

