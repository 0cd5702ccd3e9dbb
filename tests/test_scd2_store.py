"""Scd2Store tests: manifest-committed merges match the monolithic
merge_scd2 result across multi-run sequences; closed history is append-only;
a crash at any step boundary leaves the pre- or post-merge state and a
replay converges to the no-crash result."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrame, DataFrameWriter
from pyspark.sql import functions as F

from pandas_etl_framework_spark import (
    KEY_HASH,
    RECORD_HASH,
    VALID_FROM_MODE_LOAD_DATE,
    VALID_FROM_MODE_LOWER_BOUND,
    VALID_TO,
    add_meta_columns,
    create_currents,
    historize_dataset,
    merge_scd2,
)
from pandas_etl_framework_spark.scd2_store import Scd2Store
from pandas_etl_framework_spark.versioned_store import VersionedStore
from tests.conftest import (
    GRADES_SCHEMA,
    BASE_ROWS,
    CHANGED_FRANKLIN,
    KEY_COLUMNS,
    NEW_KEY_ROWS,
    RUN1_TS,
    RUN2_TS,
    UNCHANGED_BASE,
)

RUN3_TS = "2024-01-12 08:00:00"
FRANKLIN3 = ("Franklin", "Benny", "234-56-2890", 70.0, 1.0, 90.0, 80.0, 90.0, "A-")
# run1: 14 base; run2: full load with 2 inserts + changed Franklin;
# run3: Franklin changes again
THREE_RUNS = [
    (BASE_ROWS, RUN1_TS),
    (UNCHANGED_BASE + NEW_KEY_ROWS + [CHANGED_FRANKLIN], RUN2_TS),
    (UNCHANGED_BASE + NEW_KEY_ROWS + [FRANKLIN3], RUN3_TS),
]


def stamped(spark, rows, ts):
    df = spark.createDataFrame(rows, GRADES_SCHEMA)
    return add_meta_columns(df, create_currents(ts), KEY_COLUMNS)


@pytest.fixture()
def three_runs():
    return THREE_RUNS


def monolithic_result(spark, three_runs):
    store = None
    for i, (rows, ts) in enumerate(three_runs):
        c = create_currents(ts)
        mode = VALID_FROM_MODE_LOWER_BOUND if i == 0 else VALID_FROM_MODE_LOAD_DATE
        new = stamped(spark, rows, ts)
        if store is None:
            store = historize_dataset(new, None, c, mode)
        else:
            store = merge_scd2(store, new, c, mode).localCheckpoint(eager=False)
    return store


def merge_run(spark, s, runs, i):
    rows, ts = runs[i]
    mode = VALID_FROM_MODE_LOWER_BOUND if i == 0 else VALID_FROM_MODE_LOAD_DATE
    s.merge(stamped(spark, rows, ts), currents=create_currents(ts),
            valid_from_mode=mode)


def store_result(spark, three_runs, path):
    s = Scd2Store(spark, path)
    for i in range(len(three_runs)):
        merge_run(spark, s, three_runs, i)
    return s


def _as_key_set(df):
    cols = sorted(df.columns)
    return {tuple(str(r[c]) for c in cols) for r in df.collect()}


def _listed_dirs(s):
    """Data dirs of the store's latest manifest."""
    return s._log._snapshot()[0]


def _parquet_files(dirs):
    return {
        os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
        for d in dirs
        for f in os.listdir(d)
        if f.endswith(".parquet")
    }


@pytest.fixture(scope="module")
def no_crash_rows(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("no_crash") / "scd2store")
    return _as_key_set(store_result(spark, THREE_RUNS, path).read())


def test_store_matches_monolithic_merge(spark, three_runs, tmp_path):
    path = str(tmp_path / "scd2store")
    s = store_result(spark, three_runs, path)
    mono = monolithic_result(spark, three_runs)
    got = s.read()
    assert got.count() == mono.count() == 18  # 16 keys + 2 closed Franklins
    assert _as_key_set(got) == _as_key_set(mono)


def test_store_partitions_on_disk(spark, three_runs, tmp_path):
    """The latest manifest lists both slices, each as existing state=
    partition dirs, and nothing else."""
    s = store_result(spark, three_runs, str(tmp_path / "scd2store"))
    dirs = _listed_dirs(s)
    by_state = {
        state: [d for d in dirs if d.endswith(f"/state={state}")]
        for state in ("open", "closed")
    }
    assert by_state["open"] and by_state["closed"]
    assert sorted(by_state["open"] + by_state["closed"]) == sorted(dirs)
    assert all(os.path.isdir(d) for d in dirs)


def test_store_invariants(spark, three_runs, tmp_path):
    path = str(tmp_path / "scd2store")
    s = store_result(spark, three_runs, path)
    active = s.read_active()
    # one open row per key
    assert active.groupBy(KEY_HASH).count().filter("count > 1").count() == 0
    assert active.count() == 16
    # Franklin: two closed versions + one open
    franklin = s.read().filter(F.col("Lastname") == "Franklin").collect()
    assert len(franklin) == 3
    opens = [r for r in franklin if str(r[VALID_TO]) == "9999-12-31"]
    assert len(opens) == 1
    assert opens[0]["Test1"] == 70.0


def test_closed_partition_is_append_only(spark, three_runs, tmp_path):
    """Closed files written by earlier merges stay listed and untouched by
    later merges (the 100 TB property: history is never rewritten)."""
    s = store_result(spark, three_runs[:2], str(tmp_path / "scd2store"))
    closed_after_run2 = [d for d in _listed_dirs(s) if d.endswith("/state=closed")]
    files_after_run2 = _parquet_files(closed_after_run2)
    assert files_after_run2
    merge_run(spark, s, three_runs, 2)
    assert set(closed_after_run2) <= set(_listed_dirs(s))
    assert _parquet_files(closed_after_run2) == files_after_run2


def test_store_compact_closed(spark, three_runs, tmp_path):
    """Compaction commits one closed dir of ``target_files`` files holding
    the same rows, and vacuums the closed dirs it replaced."""
    s = store_result(spark, three_runs, str(tmp_path / "scd2store"))
    before = _as_key_set(s.read())
    old_closed = [d for d in _listed_dirs(s) if d.endswith("/state=closed")]
    assert len(old_closed) == 2  # one per merge that closed a Franklin
    s.compact_closed(target_files=1)
    closed = [d for d in _listed_dirs(s) if d.endswith("/state=closed")]
    assert len(closed) == 1 and len(_parquet_files(closed)) == 1
    assert _as_key_set(s.read()) == before
    assert not any(os.path.exists(d) for d in old_closed)


def test_merge_is_one_write_without_checkpoint(spark, three_runs, tmp_path,
                                               monkeypatch):
    """A merge makes one data write and no localCheckpoint; its data
    becomes visible only through the manifest commit."""
    s = store_result(spark, three_runs[:2], str(tmp_path / "scd2store"))
    writes, commits = [], []
    orig_parquet, orig_commit = DataFrameWriter.parquet, VersionedStore._commit

    def counting_parquet(self, path, *a, **k):
        writes.append(path)
        return orig_parquet(self, path, *a, **k)

    def counting_commit(self, *a, **k):
        commits.append(a)
        return orig_commit(self, *a, **k)

    def no_checkpoint(self, *a, **k):
        raise AssertionError("Scd2Store.merge must not checkpoint")

    monkeypatch.setattr(DataFrameWriter, "parquet", counting_parquet)
    monkeypatch.setattr(VersionedStore, "_commit", counting_commit)
    monkeypatch.setattr(DataFrame, "localCheckpoint", no_checkpoint)
    merge_run(spark, s, three_runs, 2)
    assert len(writes) == 1 and len(commits) == 1
    # the written version dir is visible only as the slices the manifest lists
    assert any(d.startswith(writes[0] + "/") for d in _listed_dirs(s))


class Crash(Exception):
    pass


def _crash_at(spark, boundary, monkeypatch):
    """Make the next merge die at ``boundary``; returns whether the merge's
    manifest was renamed in before the crash."""
    if boundary == "inside_data_write":
        orig = DataFrameWriter.parquet

        def torn_write(self, path, *a, **k):
            # some stray files land under the new version dir, then death
            orig(spark.range(3).write, path + "/state=open")
            raise Crash(boundary)

        monkeypatch.setattr(DataFrameWriter, "parquet", torn_write)
        return False
    if boundary == "before_manifest_rename":
        def no_commit(self, *a, **k):
            raise Crash(boundary)

        monkeypatch.setattr(VersionedStore, "_commit", no_commit)
        return False
    def no_vacuum(self, *a, **k):
        raise Crash(boundary)

    monkeypatch.setattr(VersionedStore, "vacuum", no_vacuum)
    return True


@pytest.mark.parametrize(
    "boundary",
    ["inside_data_write", "before_manifest_rename", "before_vacuum"],
)
def test_merge_crash_at_step_boundary(spark, tmp_path, monkeypatch,
                                      no_crash_rows, boundary):
    """A crash at each step boundary of a merge leaves a re-opened store at
    exactly the pre- or post-merge state; replaying the batch then gives
    the no-crash result with no unlisted data left on disk."""
    path = str(tmp_path / "scd2store")
    pre = _as_key_set(store_result(spark, THREE_RUNS[:2], path).read())
    committed = _crash_at(spark, boundary, monkeypatch)
    with pytest.raises(Crash):
        merge_run(spark, Scd2Store(spark, path), THREE_RUNS, 2)
    monkeypatch.undo()

    reopened = Scd2Store(spark, path)
    assert _as_key_set(reopened.read()) == (no_crash_rows if committed else pre)
    merge_run(spark, reopened, THREE_RUNS, 2)  # the replay
    s = Scd2Store(spark, path)
    assert _as_key_set(s.read()) == no_crash_rows
    assert s._log.versions() == [s._log.latest_version()]
    on_disk = _parquet_files(
        os.path.join(root, d) for root, ds, _ in os.walk(f"{path}/data") for d in ds
    )
    assert set(on_disk) == set(_parquet_files(_listed_dirs(s)))


def test_merge_rejects_reserved_state_column(spark, tmp_path):
    df = spark.createDataFrame(BASE_ROWS, GRADES_SCHEMA).withColumn("state", F.lit("N"))
    new = add_meta_columns(df, create_currents(RUN1_TS), KEY_COLUMNS)
    with pytest.raises(ValueError, match="reserved"):
        Scd2Store(spark, str(tmp_path / "scd2store")).merge(new)


def test_store_accepts_file_uri(spark, tmp_path, monkeypatch, no_crash_rows):
    """Manifest I/O resolves a ``file:`` URI like Spark's readers do, and
    creates nothing under the working directory."""
    monkeypatch.chdir(tmp_path)
    s = store_result(spark, THREE_RUNS, (tmp_path / "scd2store").as_uri())
    assert _as_key_set(s.read()) == no_crash_rows
    assert os.listdir(tmp_path / "scd2store" / "_manifest")
    assert not os.path.exists(tmp_path / "file:")
