"""The fixture plan memo (sources/fixtures.py over ``derived.memo``).

``load_table`` memoizes the lazy DataFrame plan per session, keyed by
(kind, path) and stamped with the dataset's stat fingerprint — the
metastore pattern that removes per-query schema inference.  These tests
pin the contracts that make it safe: memoized reads are identical to
inferred reads, a rewritten dataset (a nested part file included) gets
a fresh plan and schema, rewrites replace rather than accumulate
entries, and ``reset()`` forgets everything.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from starryskyqueryengine_spark import derived
from starryskyqueryengine_spark.sources import fixtures as fx

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


def _entries(spark, path: str) -> list:
    return [k for k in derived._MEMO.get(spark, {}) if k[1] == path]


def test_cached_read_identical_to_inferred(spark):
    derived.reset()
    path = f"{SF_DIR}/documents.parquet"
    assert not _entries(spark, path)
    first = fx.load_table(spark, SF_DIR, "documents")  # inference path
    assert _entries(spark, path)  # populated
    second = fx.load_table(spark, SF_DIR, "documents")  # cached path
    assert first.schema == second.schema
    a = sorted(tuple(r) for r in first.collect())
    b = sorted(tuple(r) for r in second.collect())
    assert a == b


def test_events_normalization_rides_cached_schema(spark):
    derived.reset()
    e1 = fx.load_table(spark, SF_DIR, "events")
    e2 = fx.load_table(spark, SF_DIR, "events")
    assert e1.schema == e2.schema
    assert "ts_us" in e2.columns  # normalization applied on the cached path


def test_rewritten_file_reinferred_not_stale(spark, tmp_path):
    derived.reset()
    p = str(tmp_path / "t.parquet")
    spark.range(3).selectExpr("id AS a").coalesce(1).write.parquet(p)
    s1 = fx.load_table(spark, str(tmp_path), "t").schema
    assert [f.name for f in s1.fields] == ["a"]
    # rewrite with a DIFFERENT schema; ensure a distinct mtime_ns
    time.sleep(0.01)
    spark.range(3).selectExpr("id AS a", "id * 2 AS b").coalesce(1).write.mode(
        "overwrite"
    ).parquet(p)
    s2 = fx.load_table(spark, str(tmp_path), "t").schema
    assert [f.name for f in s2.fields] == ["a", "b"]


def test_fixture_schema_matches_raw_file_schema(spark):
    derived.reset()
    raw = spark.read.parquet(f"{SF_DIR}/events.parquet").schema
    assert fx.fixture_schema(spark, SF_DIR, "events") == raw
    # and the cached second call returns the same object content
    assert fx.fixture_schema(spark, SF_DIR, "events") == raw


def test_df_plan_memo_returns_same_plan_object(spark):
    """Optimization r15: load_table memoizes the lazy DataFrame plan per
    session — same immutable plan object on a memo hit, no re-resolution."""
    d1 = fx.load_table(spark, SF_DIR, "documents")
    d2 = fx.load_table(spark, SF_DIR, "documents")
    assert d1 is d2
    e1 = fx.load_table(spark, SF_DIR, "events")
    e2 = fx.load_table(spark, SF_DIR, "events")
    assert e1 is e2
    assert e1 is not d1  # events memoized under its own (normalized) key


def test_df_plan_memo_invalidated_by_rewrite(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(3).selectExpr("id AS a").coalesce(1).write.parquet(p)
    d1 = fx.load_table(spark, str(tmp_path), "t")
    time.sleep(0.01)
    spark.range(4).selectExpr("id AS a").coalesce(1).write.mode(
        "overwrite"
    ).parquet(p)
    d2 = fx.load_table(spark, str(tmp_path), "t")
    assert d1 is not d2  # new fingerprint -> fresh plan
    assert d2.count() == 4


def _write_nested(root, n_rows: int, extra_col: bool) -> None:
    """(Re)write ``root/t.parquet/p=1/part.parquet`` in place: same
    file name, so no directory entry (and no directory mtime) changes."""
    part = root / "t.parquet" / "p=1"
    part.mkdir(parents=True, exist_ok=True)
    cols = {"a": pa.array(range(n_rows), pa.int64())}
    if extra_col:
        cols["b"] = pa.array(range(n_rows), pa.int64())
    pq.write_table(pa.table(cols), str(part / "part.parquet"))


def test_nested_part_file_rewrite_gets_fresh_plan_and_schema(spark, tmp_path):
    """ADVICE r15: the fingerprint walks directory datasets recursively,
    so an in-place rewrite of a nested partition file is seen."""
    _write_nested(tmp_path, 3, extra_col=False)
    d1 = fx.load_table(spark, str(tmp_path), "t")
    assert [f.name for f in d1.schema.fields] == ["a", "p"]
    time.sleep(0.01)
    _write_nested(tmp_path, 4, extra_col=True)
    d2 = fx.load_table(spark, str(tmp_path), "t")
    assert d2 is not d1
    assert [f.name for f in d2.schema.fields] == ["a", "b", "p"]
    assert d2.count() == 4


def test_rewrites_leave_one_memo_entry_per_dataset(spark, tmp_path):
    """Newest fingerprint wins: each rewrite replaces the path's entry
    instead of adding one per fingerprint ever seen."""
    path = f"{tmp_path}/t.parquet"
    for n in range(1, 6):
        time.sleep(0.01)
        _write_nested(tmp_path, n, extra_col=False)
        assert fx.load_table(spark, str(tmp_path), "t").count() == n
    assert _entries(spark, path) == [("raw", path)]


def test_reset_makes_next_load_infer_again(spark, tmp_path, monkeypatch):
    reader = type(spark.read)
    real = reader.parquet
    reads = []

    def parquet(self, *paths, **kw):
        reads.append(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(reader, "parquet", parquet)
    spark.range(3).selectExpr("id AS a").coalesce(1).write.parquet(
        f"{tmp_path}/t.parquet"
    )
    d1 = fx.load_table(spark, str(tmp_path), "t")
    assert fx.load_table(spark, str(tmp_path), "t") is d1
    assert len(reads) == 1
    derived.reset()
    assert fx.load_table(spark, str(tmp_path), "t") is not d1
    assert len(reads) == 2
