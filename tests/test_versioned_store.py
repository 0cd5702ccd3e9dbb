"""VersionedStore: atomic visibility, append-without-rewrite, time travel,
vacuum safety."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pandas_etl_framework_spark.versioned_store import VersionedStore


@pytest.fixture()
def store(spark, tmp_path):
    return VersionedStore(spark, str(tmp_path / "vstore"))


def test_empty_store_reads_none(store):
    assert store.read() is None
    assert store.latest_version() is None


def test_append_and_overwrite_versions(spark, store):
    v0 = store.write(spark.range(10), mode="append")
    v1 = store.write(spark.range(10, 15), mode="append")
    assert (v0, v1) == (0, 1)
    assert store.read().count() == 15
    v2 = store.write(spark.range(100, 103), mode="overwrite")
    assert v2 == 2
    assert store.read().count() == 3
    assert {r["id"] for r in store.read().collect()} == {100, 101, 102}


def test_time_travel(spark, store):
    store.write(spark.range(10), mode="append")
    store.write(spark.range(10, 15), mode="append")
    store.write(spark.range(100, 103), mode="overwrite")
    assert store.read(version=0).count() == 10
    assert store.read(version=1).count() == 15
    assert store.read(version=2).count() == 3


def test_uncommitted_data_is_invisible(spark, store):
    """A data directory without a manifest (simulated crash between data
    write and commit) must not appear to readers."""
    store.write(spark.range(10), mode="append")
    orphan = os.path.join(store.path, "data", "v9999999999")
    spark.range(1000, 1500).write.parquet(orphan)
    assert store.read().count() == 10  # orphan invisible
    assert store.latest_version() == 0


def test_append_does_not_rewrite_existing_files(spark, store):
    store.write(spark.range(10), mode="append")
    v0_dir = os.path.join(store.path, "data", f"v{0:010d}")
    before = {f: os.path.getmtime(f"{v0_dir}/{f}") for f in os.listdir(v0_dir)}
    store.write(spark.range(10, 20), mode="append")
    after = {f: os.path.getmtime(f"{v0_dir}/{f}") for f in os.listdir(v0_dir)}
    assert before == after


def test_merge_upserts_and_rewrites_only_touched_dirs(spark, store):
    """MERGE replaces matched keys, keeps unmatched rows, inserts new keys —
    and carries untouched data dirs into the new manifest by reference."""
    df = lambda rows: spark.createDataFrame(rows, "k int, v string")  # noqa: E731
    store.write(df([(1, "a"), (2, "b")]), mode="append")          # v0: dir A
    store.write(df([(3, "c"), (4, "d")]), mode="append")          # v1: dir B
    v2 = store.merge(df([(3, "C"), (9, "z")]), key_columns=["k"])
    assert v2 == 2
    got = {(r["k"], r["v"]) for r in store.read().collect()}
    assert got == {(1, "a"), (2, "b"), (3, "C"), (4, "d"), (9, "z")}
    # dir A (keys 1,2) had no matched key: referenced untouched, not rewritten
    v0_dir = os.path.join(store.path, "data", f"v{0:010d}")
    assert v0_dir in store._manifest(2)["data_dirs"]
    # dir B (contained key 3) was replaced by the rewrite dir
    v1_dir = os.path.join(store.path, "data", f"v{1:010d}")
    assert v1_dir not in store._manifest(2)["data_dirs"]
    # time travel still sees the pre-merge state
    assert {r["k"] for r in store.read(version=1).collect()} == {1, 2, 3, 4}


def test_merge_into_empty_store_bootstraps(spark, store):
    v = store.merge(spark.range(5), key_columns=["id"])
    assert v == 0
    assert store.read().count() == 5


def test_delete_where_copy_on_write(spark, store):
    store.write(spark.range(0, 10), mode="append")    # v0
    store.write(spark.range(10, 20), mode="append")   # v1
    store.delete_where(F.col("id") % 2 == 0)
    got = sorted(r["id"] for r in store.read().collect())
    assert got == [1, 3, 5, 7, 9, 11, 13, 15, 17, 19]
    assert store.read(version=1).count() == 20  # history intact


def test_changes_append_fast_path_and_merge_diff(spark, store):
    df = lambda rows: spark.createDataFrame(rows, "k int, v string")  # noqa: E731
    store.write(df([(1, "a"), (2, "b")]), mode="append")   # v0
    store.write(df([(3, "c")]), mode="append")             # v1
    feed = store.changes(0, 1)
    assert [(r["k"], r["_change_type"]) for r in feed.collect()] == [(3, "insert")]
    store.merge(df([(2, "B")]), key_columns=["k"])         # v2
    diff = {
        (r["k"], r["v"], r["_change_type"]) for r in store.changes(1, 2).collect()
    }
    assert diff == {(2, "B", "insert"), (2, "b", "delete")}
    # no-op window
    assert store.changes(2, 2).count() == 0


def test_optimize_compacts_without_losing_history(spark, store):
    for lo in range(0, 50, 10):                      # 5 append commits
        store.write(spark.range(lo, lo + 10).coalesce(2), mode="append")
    assert len(store._manifest(4)["data_dirs"]) == 5
    v = store.optimize(target_partitions=1)
    assert len(store._manifest(v)["data_dirs"]) == 1
    assert sorted(r["id"] for r in store.read().collect()) == list(range(50))
    assert store.read(version=2).count() == 30       # history intact
    store.vacuum(keep_latest=1)                      # small files reclaimed
    assert sorted(r["id"] for r in store.read().collect()) == list(range(50))


def test_incremental_rollup_matches_recompute(spark, store):
    """Folding the change feed into a rollup equals recomputing it."""
    from pandas_etl_framework_spark.versioned_store import (
        incremental_rollup_update,
    )

    df = lambda rows: spark.createDataFrame(rows, "k int, value double")  # noqa: E731
    store.write(df([(1, 10.0), (1, 5.0), (2, 7.0)]), mode="append")  # v0

    def rollup_of(data):
        return data.groupBy("k").agg(
            F.count("*").alias("n"), F.sum("value").alias("sum_value")
        )

    rollup = rollup_of(store.read(0))
    store.write(df([(2, 3.0), (3, 1.0)]), mode="append")            # v1 inserts
    store.merge(df([(1, 100.0)]), key_columns=["k"])                # v2 upsert
    feed = store.changes(0, 2)
    maintained = incremental_rollup_update(
        rollup, feed, ["k"], sum_columns={"sum_value": "value"}
    )
    want = {
        (r["k"], r["n"], r["sum_value"]) for r in rollup_of(store.read()).collect()
    }
    got = {(r["k"], r["n"], r["sum_value"]) for r in maintained.collect()}
    assert got == want
    # the key-1 group shrank from 2 rows to 1 after the merge upsert
    assert (1, 1, 100.0) in got


def test_vacuum_keeps_latest_and_shared_dirs(spark, store):
    store.write(spark.range(10), mode="append")        # v0
    store.write(spark.range(10, 15), mode="append")    # v1 references v0's dir
    store.write(spark.range(50, 52), mode="overwrite")  # v2
    removed = store.vacuum(keep_latest=2)
    assert removed == [0]
    # v1 still readable: its referenced v0 data dir survived (shared)
    assert store.read(version=1).count() == 15
    assert store.read().count() == 2
    removed = store.vacuum(keep_latest=1)
    assert removed == [1]
    assert store.read().count() == 2
    # v0/v1 data dirs now gone
    assert not os.path.isdir(os.path.join(store.path, "data", f"v{0:010d}"))


def test_python_datasource_reads_store_with_time_travel(spark, store):
    """spark.read.format('versioned_store') sees committed-only state and
    any historical version — through the standard reader API."""
    from pandas_etl_framework_spark.datasource import VersionedStoreDataSource

    store.write(spark.range(10), mode="append")            # v0
    store.write(spark.range(10, 25), mode="append")        # v1
    spark.dataSource.register(VersionedStoreDataSource)

    cur = (
        spark.read.format("versioned_store")
        .option("path", store.path)
        .load()
    )
    assert cur.count() == 25
    assert sorted(r["id"] for r in cur.collect()) == list(range(25))

    v0 = (
        spark.read.format("versioned_store")
        .option("path", store.path)
        .option("version", 0)
        .load()
    )
    assert v0.count() == 10


def test_schema_evolution_append(spark, tmp_path):
    from pandas_etl_framework_spark.versioned_store import VersionedStore

    store = VersionedStore(spark, str(tmp_path / "evo"))
    store.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    # mismatched append without the flag is refused
    wider = spark.createDataFrame([(3, "c", 1.5)], "id long, v string, score double")
    with pytest.raises(ValueError, match="merge_schema"):
        store.write(wider)
    v1 = store.write(wider, merge_schema=True)
    cur = store.read()
    assert set(cur.columns) == {"id", "v", "score"}
    rows = {r["id"]: r["score"] for r in cur.collect()}
    assert rows[1] is None and rows[3] == 1.5  # old files null-filled
    # time travel keeps the pre-evolution schema
    assert set(store.read(v1 - 1).columns) == {"id", "v"}
    # dropped column on a later append is written as typed nulls
    store.write(spark.createDataFrame([(4, "d")], "id long, v string"),
                merge_schema=True)
    assert {r["id"]: r["score"] for r in store.read().collect()}[4] is None


def test_schema_evolution_type_conflict_and_merge(spark, tmp_path):
    from pandas_etl_framework_spark.versioned_store import VersionedStore

    store = VersionedStore(spark, str(tmp_path / "evo2"))
    store.write(spark.createDataFrame([(1, "a")], "id long, v string"))
    with pytest.raises(ValueError, match="type conflict"):
        store.write(
            spark.createDataFrame([(2, 9)], "id long, v long"), merge_schema=True
        )
    # evolution survives a MERGE commit
    store.write(
        spark.createDataFrame([(2, "b", 7.0)], "id long, v string, score double"),
        merge_schema=True,
    )
    store.merge(
        spark.createDataFrame([(1, "a2", 3.0)], "id long, v string, score double"),
        key_columns=["id"],
    )
    rows = {r["id"]: (r["v"], r["score"]) for r in store.read().collect()}
    assert rows == {1: ("a2", 3.0), 2: ("b", 7.0)}


def test_datasource_reads_evolved_schema(spark, tmp_path):
    from pandas_etl_framework_spark.datasource import VersionedStoreDataSource
    from pandas_etl_framework_spark.versioned_store import VersionedStore

    spark.dataSource.register(VersionedStoreDataSource)
    path = str(tmp_path / "evods")
    store = VersionedStore(spark, path)
    store.write(spark.createDataFrame([(1, "a")], "id long, v string"))
    store.write(
        spark.createDataFrame([(2, "b", 5.0)], "id long, v string, score double"),
        merge_schema=True,
    )
    df = spark.read.format("versioned_store").option("path", path).load()
    assert set(df.columns) == {"id", "v", "score"}
    rows = {r["id"]: r["score"] for r in df.collect()}
    assert rows == {1: None, 2: 5.0}
    # time travel through the data source keeps the old schema
    old = (
        spark.read.format("versioned_store")
        .option("path", path).option("version", 0).load()
    )
    assert set(old.columns) == {"id", "v"}


def test_merge_retry_replaces_uncommitted_leftover_dir(spark, store, tmp_path):
    """A merge that crashed before its manifest rename leaves a partial
    ``data/v{N}`` that no manifest lists; the retry replaces it and ends
    equal to a run that never crashed."""
    df = lambda rows: spark.createDataFrame(rows, "k int, v string")  # noqa: E731
    clean = VersionedStore(spark, str(tmp_path / "clean"))
    for s in (store, clean):
        s.write(df([(1, "a"), (2, "b")]), mode="append")      # v0
    spark.range(3).write.parquet(os.path.join(store.path, "data", f"v{1:010d}"))
    batch = df([(2, "B"), (3, "c")])
    assert store.merge(batch, key_columns=["k"]) == clean.merge(batch, ["k"]) == 1
    got = {(r["k"], r["v"]) for r in store.read().collect()}
    assert got == {(r["k"], r["v"]) for r in clean.read().collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_merge_and_delete_on_file_uri_path(spark, tmp_path):
    """With the store path given as a ``file:`` URI, MERGE and DELETE still
    find the dirs they touch: matched rows are replaced, not duplicated."""
    store = VersionedStore(spark, (tmp_path / "vstore").as_uri())
    df = lambda rows: spark.createDataFrame(rows, "k int, v string")  # noqa: E731
    store.write(df([(1, "a"), (2, "b")]), mode="append")
    store.merge(df([(2, "B")]), key_columns=["k"])
    store.delete_where(F.col("k") == 1)
    assert [(r["k"], r["v"]) for r in store.read().collect()] == [(2, "B")]
