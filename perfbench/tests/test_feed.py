"""The seeded feed and its DuckDB last-writer-wins twin."""

import datetime as dt

import feed as fd
from aqueduct_core_spark.oracle import replay

SHAPE = fd.FeedShape(n_events=4_000, n_convs=150, p_delete=0.15, p_conversation=0.08)


def test_feed_is_a_pure_function_of_the_seed():
    a, b, c = fd.generate(SHAPE, 7), fd.generate(SHAPE, 7), fd.generate(SHAPE, 8)
    assert a.equals(b)
    assert not a.equals(c)
    lsn = a.column("change_lsn").to_pylist()
    assert lsn == sorted(lsn)
    assert a.num_rows > SHAPE.n_events  # redelivered duplicates


def test_segments_cache_by_seed_and_size(tmp_path):
    p1 = fd.cached_segments(str(tmp_path), SHAPE, 3, 4)
    mtimes = [tmp_path.joinpath(p).stat().st_mtime_ns for p in p1]
    p2 = fd.cached_segments(str(tmp_path), SHAPE, 3, 4)
    assert p1 == p2 and len(p1) == 4
    assert mtimes == [tmp_path.joinpath(p).stat().st_mtime_ns for p in p2]
    assert fd.cached_segments(str(tmp_path), SHAPE, 4, 4) != p1


def test_duckdb_twin_equals_the_package_oracle(tmp_path):
    table = fd.generate(SHAPE, 11)
    paths = fd.write_segments(table, str(tmp_path), 3)
    got = fd.expected_state(paths)
    events = table.to_pylist()
    for e in events:
        e["ts"] = e["ts"].replace(tzinfo=None)
    epoch = dt.datetime(1970, 1, 1)
    want = [
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"],
         (r["ts"] - epoch) // dt.timedelta(microseconds=1))
        for r in replay(events)
    ]
    assert list(zip(*[got.column(c).to_pylist() for c in got.column_names])) == want
    assert fd.compare_states(got, got) is None
    assert "row count" in fd.compare_states(got.slice(1), got)
