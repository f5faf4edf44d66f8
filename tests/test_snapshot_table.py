"""SnapshotTable semantics: atomic snapshot flips, time travel, MoR
equality-delete deltas + compaction, merge upsert, vacuum."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from scrapy_newsutils_spark.sources.snapshot_table import CommitConflict, SnapshotTable

SCHEMA = T.StructType([
    T.StructField("k", T.LongType(), False),
    T.StructField("v", T.StringType(), True),
])


def _df(spark, pairs):
    return spark.createDataFrame(pairs, SCHEMA)


@pytest.fixture()
def table(tmp_path):
    return SnapshotTable(str(tmp_path / "t"), SCHEMA)


def test_time_travel(spark, table):
    table.overwrite(_df(spark, [(1, "a")]))
    table.append(_df(spark, [(2, "b")]))
    assert table.current_version() == 2
    assert table.read(spark, version=1).count() == 1
    assert table.read(spark).count() == 2


def test_delete_by_keys_mor(spark, table):
    table.overwrite(_df(spark, [(i, f"v{i}") for i in range(10)]))
    table.delete_by_keys(_df(spark, [(3, None), (7, None)]), ["k"])
    got = sorted(r["k"] for r in table.read(spark).collect())
    assert got == [0, 1, 2, 4, 5, 6, 8, 9]
    # deltas accumulate
    table.delete_by_keys(_df(spark, [(0, None)]), ["k"])
    assert table.n_delete_deltas() == 2
    assert table.read(spark).count() == 7
    # time travel still sees the pre-delete state
    assert table.read(spark, version=1).count() == 10


def test_compact_materializes_deletes(spark, table):
    table.overwrite(_df(spark, [(i, f"v{i}") for i in range(10)]))
    table.delete_by_keys(_df(spark, [(1, None)]), ["k"])
    table.compact(spark)
    assert table.n_delete_deltas() == 0
    assert table.read(spark).count() == 9
    assert len(table.manifest()["dirs"]) == 1


def test_append_preserves_deletes(spark, table):
    table.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    table.delete_by_keys(_df(spark, [(1, None)]), ["k"])
    table.append(_df(spark, [(5, "e")]))
    got = sorted(r["k"] for r in table.read(spark).collect())
    assert got == [2, 5]


def test_merge_upsert(spark, table):
    part = F.col("k") % 2
    table.overwrite(_df(spark, []))
    table.merge_upsert_partitioned(
        spark, _df(spark, [(1, "old"), (2, "keep")]), ["k"], part)
    table.merge_upsert_partitioned(
        spark, _df(spark, [(1, "new"), (3, "ins")]), ["k"], part)
    got = {r["k"]: r["v"] for r in table.read(spark).collect()}
    assert got == {1: "new", 2: "keep", 3: "ins"}


def test_commit_conflict(spark, table):
    v = table.overwrite(_df(spark, [(1, "a")]))
    table.append(_df(spark, [(2, "b")]), expected_version=v)
    with pytest.raises(CommitConflict):
        table.append(_df(spark, [(3, "c")]), expected_version=v)


def test_vacuum_keeps_live_and_delete_dirs(spark, table, tmp_path):
    table.overwrite(_df(spark, [(1, "a")]))
    table.overwrite(_df(spark, [(2, "b")]))
    table.delete_by_keys(_df(spark, [(2, None)]), ["k"])
    table.vacuum(keep_last=1)
    # current state must remain readable after vacuum
    assert table.read(spark).count() == 0  # row 2 deleted, row 1 overwritten away
    table.vacuum(keep_last=3)


# -- partition-scoped MERGE (K1 at scale) --------------------------------------

PSCHEMA = T.StructType([
    T.StructField("k", T.LongType(), False),
    T.StructField("day", T.StringType(), True),
    T.StructField("v", T.StringType(), True),
])


def _pdf(spark, rows):
    return spark.createDataFrame(rows, PSCHEMA)


def test_partitioned_merge_rewrites_only_touched_days(spark, tmp_path):
    import os
    t = SnapshotTable(str(tmp_path / "pt"), PSCHEMA)
    t.merge_upsert_partitioned(
        spark, _pdf(spark, [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c"),
                            (4, "d3", "d")]),
        key_cols=["k"], part_expr="day")
    layout0 = t.partition_layout()
    assert set(layout0) == {"d1", "d2", "d3"}
    d2_dir, d3_dir = layout0["d2"], layout0["d3"]
    d2_files = sorted(os.listdir(os.path.join(t.path, d2_dir[0])))

    # merge touching only d1: update k=2, insert k=5
    t.merge_upsert_partitioned(
        spark, _pdf(spark, [(2, "d1", "B"), (5, "d1", "e")]),
        key_cols=["k"], part_expr="day")
    layout1 = t.partition_layout()
    # untouched partitions: same dirs, same files (zero rewrite)
    assert layout1["d2"] == d2_dir and layout1["d3"] == d3_dir
    assert sorted(os.listdir(os.path.join(t.path, d2_dir[0]))) == d2_files
    # touched partition re-written
    assert layout1["d1"] != layout0["d1"]
    got = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d"), (5, "e")}


def test_partitioned_merge_null_partition(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "pt2"), PSCHEMA)
    t.merge_upsert_partitioned(
        spark, _pdf(spark, [(1, None, "x"), (2, "d1", "y")]),
        key_cols=["k"], part_expr="day")
    assert "NULL" in t.partition_layout()
    # upsert into the null partition
    t.merge_upsert_partitioned(
        spark, _pdf(spark, [(1, None, "X")]), key_cols=["k"], part_expr="day")
    got = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert got == {(1, "X"), (2, "y")}


def test_append_to_partitioned_routes_into_partition_dirs(spark, tmp_path):
    """Round-2 latent contract bug: append() committed into the
    unpartitioned base dirs, which merge_upsert_partitioned refuses — the
    first append bricked every later day merge. Appends now land inside
    partition dirs (given the part_expr) and later merges compose."""
    t = SnapshotTable(str(tmp_path / "pt4"), PSCHEMA)
    t.merge_upsert_partitioned(
        spark, _pdf(spark, [(1, "d1", "a")]), key_cols=["k"], part_expr="day")
    # without part_expr the append refuses loudly instead of bricking
    with pytest.raises(ValueError):
        t.append(_pdf(spark, [(9, "d9", "z")]))
    t.append(_pdf(spark, [(9, "d9", "z"), (8, "d1", "h")]), part_expr="day")
    assert {(r["k"], r["v"]) for r in t.read(spark).collect()} == \
        {(1, "a"), (9, "z"), (8, "h")}
    assert set(t.partition_layout()) == {"d1", "d9"}
    # the appended rows participate in later partition-scoped merges
    t.merge_upsert_partitioned(
        spark, _pdf(spark, [(8, "d1", "H"), (3, "d2", "c")]),
        key_cols=["k"], part_expr="day")
    got = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert got == {(1, "a"), (9, "z"), (8, "H"), (3, "c")}


def test_partitioned_merge_update_cols_subset(spark, tmp_path):
    """Day.save(only=[...]) parity: a matched row takes ONLY update_cols
    from the batch; its other columns survive (a concurrent writer's column
    is not clobbered). Unmatched rows insert whole."""
    t = SnapshotTable(str(tmp_path / "pt5"), PSCHEMA)
    t.merge_upsert_partitioned(
        spark, _pdf(spark, [(1, "d1", "orig"), (2, "d1", "keepme")]),
        key_cols=["k"], part_expr="day")
    # batch matches k=1 with a different v, but v is NOT in update_cols
    t.merge_upsert_partitioned(
        spark, _pdf(spark, [(1, "d1", "CLOBBER"), (3, "d1", "new")]),
        key_cols=["k"], part_expr="day", update_cols=["day"])
    got = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    # k=1 kept its v (batch's CLOBBER ignored: v not in update_cols);
    # k=3 inserted whole
    assert got == {(1, "orig"), (2, "keepme"), (3, "new")}


def test_partitioned_merge_single_job_for_many_days(spark, tmp_path):
    """A backfill touching 50 days must run O(1) Spark jobs, not one write
    job per day (round-2 looped per partition value)."""
    t = SnapshotTable(str(tmp_path / "pt6"), PSCHEMA)
    rows = [(i, f"d{i % 50:02d}", f"v{i}") for i in range(500)]
    sc = spark.sparkContext
    sc.setJobGroup("merge50", "bulk partitioned merge")
    try:
        t.merge_upsert_partitioned(spark, _pdf(spark, rows),
                                   key_cols=["k"], part_expr="day")
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("merge50")
    assert len(jobs) <= 6, f"expected O(1) jobs, ran {len(jobs)}"
    assert len(t.partition_layout()) == 50
    assert t.read(spark).count() == 500


def test_partitioned_merge_revives_deleted_keys(spark, tmp_path):
    """A key re-upserted after an MoR equality delete must be visible again
    (delete deltas are reconciled against the batch, not carried forward)."""
    t = SnapshotTable(str(tmp_path / "pt7"), PSCHEMA)
    t.merge_upsert_partitioned(
        spark, _pdf(spark, [(1, "d1", "a"), (2, "d1", "b")]),
        key_cols=["k"], part_expr="day")
    t.delete_by_keys(_pdf(spark, [(1, "d1", "a")]), ["k"])
    assert {r["k"] for r in t.read(spark).collect()} == {2}
    t.merge_upsert_partitioned(
        spark, _pdf(spark, [(1, "d1", "REBORN")]),
        key_cols=["k"], part_expr="day")
    got = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert got == {(1, "REBORN"), (2, "b")}
    assert t.n_delete_deltas() == 0  # fully reconciled away


def test_adopt_refuses_non_empty_table(spark, table, tmp_path):
    """adopt_parquet_dir is bootstrap-only: adopting into a live table would
    silently discard its dirs/deletes/partition layout."""
    src = str(tmp_path / "ext2")
    _df(spark, [(1, "a")]).write.parquet(src)
    table.overwrite(_df(spark, [(2, "b")]))
    with pytest.raises(ValueError):
        table.adopt_parquet_dir(src)


def test_partitioned_merge_refuses_mixed_layout(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "pt3"), PSCHEMA)
    t.overwrite(_pdf(spark, [(1, "d1", "a")]))
    with pytest.raises(ValueError):
        t.merge_upsert_partitioned(spark, _pdf(spark, [(2, "d1", "b")]),
                                   key_cols=["k"], part_expr="day")


def test_adopt_parquet_dir(spark, table, tmp_path):
    """Zero-copy bootstrap (Iceberg add_files analog): an external parquet
    dir becomes the table state by hardlink; subsequent commits (append,
    MoR delete) compose normally on top."""
    import os

    src = str(tmp_path / "ext")
    _df(spark, [(i, f"v{i}") for i in range(6)]).write.parquet(src)
    v = table.adopt_parquet_dir(src, meta={"adopted": True})
    assert v == 1
    assert sorted(r["k"] for r in table.read(spark).collect()) == list(range(6))
    # hardlinked, not copied (same inode on same fs)
    data_dir = os.path.join(table.path, table.manifest()["dirs"][0])
    src_files = {f: os.stat(os.path.join(src, f)).st_ino
                 for f in os.listdir(src) if f.endswith(".parquet")}
    dst_files = {f: os.stat(os.path.join(data_dir, f)).st_ino
                 for f in os.listdir(data_dir) if f.endswith(".parquet")}
    assert src_files == dst_files and src_files
    table.delete_by_keys(_df(spark, [(2, None)]), ["k"])
    table.append(_df(spark, [(100, "x")]))
    got = sorted(r["k"] for r in table.read(spark).collect())
    assert got == [0, 1, 3, 4, 5, 100]
