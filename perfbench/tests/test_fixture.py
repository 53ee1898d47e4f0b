"""Unit tests for the seeded fixture generator.

    python -m pytest perfbench/tests -q
"""
from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import fixture


def _reference_sf01_dir() -> str:
    """The sf0.1 test tables: $SPARK_GRAFT_SF_DIR as bench.py reads it,
    else the sf0.1 sibling of the test suite's own fixture directory."""
    from tests.conftest import SF_DIR

    return os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
        os.path.dirname(SF_DIR), "sf0.1"
    )


def test_same_seed_same_tables_other_seed_other_tables():
    a = fixture.build_tables(7, 0.01)
    b = fixture.build_tables(7, 0.01)
    c = fixture.build_tables(8, 0.01)
    for name in fixture.TABLES:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["events"].equals(c["events"])


def test_scale_one_matches_sf01_names_and_schemas():
    tables = fixture.build_tables(42, 1.0)
    fixture.check_schemas(tables)
    assert sorted(tables) == sorted(fixture.TABLES)
    assert tables["lineitem"].num_rows == 600_000
    assert tables["events"].num_rows == 100_000
    assert tables["embeddings"].num_rows == 2_000
    ref = _reference_sf01_dir()
    if not os.path.isdir(ref):
        pytest.skip(f"sf0.1 test tables not found at {ref}")
    names = sorted(f[:-8] for f in os.listdir(ref) if f.endswith(".parquet"))
    assert names == sorted(fixture.TABLES)
    for name in names:
        want = fixture.schema_of(pq.read_schema(os.path.join(ref, f"{name}.parquet")))
        assert fixture.schema_of(tables[name].schema) == want, name


def test_line_numbers_match_the_loop_form():
    keys = np.sort(np.random.RandomState(3).randint(0, 50, 400))
    want = np.ones(len(keys), np.int32)
    run = 0
    for i in range(len(keys)):
        run = run + 1 if i and keys[i] == keys[i - 1] else 1
        want[i] = run
    assert np.array_equal(fixture.line_numbers(keys), want)


def test_fixture_dir_is_cached_by_seed_and_scale(tmp_path):
    d1 = fixture.fixture_dir(str(tmp_path), 5, 0.01)
    stamp = os.stat(os.path.join(d1, "events.parquet")).st_mtime_ns
    assert fixture.fixture_dir(str(tmp_path), 5, 0.01) == d1
    assert os.stat(os.path.join(d1, "events.parquet")).st_mtime_ns == stamp
    assert fixture.fixture_dir(str(tmp_path), 6, 0.01) != d1
    assert sorted(os.listdir(tmp_path)) == ["seed5_scale0.01", "seed6_scale0.01"]


def test_dag_fixture_shares_the_history_and_seeds_the_day(tmp_path):
    root = str(tmp_path)
    hist = pq.read_table(
        os.path.join(fixture.dag_history_dir(root, 0.01), "events.parquet")
    )
    a = pq.read_table(
        os.path.join(fixture.dag_fixture_dir(root, 1, 0.01), "events.parquet")
    )
    b = pq.read_table(
        os.path.join(fixture.dag_fixture_dir(root, 2, 0.01), "events.parquet")
    )
    n = hist.num_rows
    assert a.slice(0, n).equals(hist) and b.slice(0, n).equals(hist)
    assert not a.slice(n).equals(b.slice(n))
    assert a.column("event_id").to_pylist() == list(range(a.num_rows))
    day = {t.date().isoformat() for t in a.slice(n).column("ts").to_pylist()}
    assert day == {fixture.DAG_DAY}
    last = max(t.date() for t in hist.column("ts").to_pylist())
    assert last.isoformat() < fixture.DAG_DAY


def test_source_fingerprint_follows_every_byte_of_the_python_sources(tmp_path):
    pkg = tmp_path / "pkg" / "sub"
    pkg.mkdir(parents=True)
    (pkg / "a.py").write_text("x = 1\n")
    (pkg / "__pycache__").mkdir()
    (pkg / "__pycache__" / "a.cpython.pyc").write_bytes(b"1")
    first = fixture.source_fingerprint(str(tmp_path), ("pkg",))
    (pkg / "__pycache__" / "a.cpython.pyc").write_bytes(b"2")
    (pkg / "README.md").write_text("notes\n")
    assert fixture.source_fingerprint(str(tmp_path), ("pkg",)) == first
    (pkg / "a.py").write_text("x = 2\n")
    changed = fixture.source_fingerprint(str(tmp_path), ("pkg",))
    assert changed != first
    (pkg / "a.py").rename(pkg / "b.py")
    assert fixture.source_fingerprint(str(tmp_path), ("pkg",)) != changed
