"""Deletion vectors (merge-on-read DELETE/UPDATE) and O(new-data)
APPEND on VersionedTable: read-equivalence with the copy-on-write
forms, zero-rewrite guarantees, OPTIMIZE fold-in, time travel / RESTORE
/ CDF exactness, vacuum referencing, and the rebase/conflict matrix —
all under both log backends (POSIX O_EXCL and conditional-put)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from de_final_project_spark.operators.txlog import (
    ConcurrentWriteError,
    ConditionalPutLogStore,
    VersionedTable,
    _ptrs,
)


def _mk(spark, data):
    return spark.createDataFrame(data, "id long, s string, pb int")


def _rows(df):
    return {r["id"]: r["s"] for r in df.collect()}


@pytest.fixture(params=["posix", "condput"])
def table_factory(request, tmp_path):
    stores: dict[str, ConditionalPutLogStore] = {}

    def mk(name="t", partition_col=None, **kw):
        path = name if os.path.isabs(name) else str(tmp_path / name)
        store = (
            None
            if request.param == "posix"
            else stores.setdefault(path, ConditionalPutLogStore())
        )
        return VersionedTable(
            path, partition_col=partition_col, log_store=store, **kw
        )

    return mk


SEED = [(i, f"s{i}", i % 3) for i in range(30)]


def _seeded(factory, spark, name="t"):
    t = factory(name, partition_col="pb")
    t.overwrite(_mk(spark, SEED))
    return t


def test_mor_delete_matches_cow_and_rewrites_nothing(spark, table_factory):
    """delete_where(mode='mor') reads back exactly what mode='cow'
    produces, while leaving every live data pointer untouched (the
    whole point: O(deleted) write, zero partition rewrite)."""
    cow = _seeded(table_factory, spark, "cow")
    mor = _seeded(table_factory, spark, "mor")
    live_before = mor._read_entry(mor.latest_version())["live"]
    cow.delete_where(spark, "id % 4 = 1")
    v = mor.delete_where(spark, "id % 4 = 1", mode="mor")
    entry = mor._read_entry(v)
    assert entry["live"] == live_before  # no pointer rewritten
    assert entry["op"] == "delete_rows"
    assert len(entry["dv"]) == 1 and "cols" not in entry["dv"][0]
    assert _rows(mor.read(spark)) == _rows(cow.read(spark))
    assert set(_rows(mor.read(spark))) == {
        i for i in range(30) if i % 4 != 1
    }


def test_mor_delete_accumulates_and_null_keeps_row(spark, table_factory):
    """Successive MOR deletes accumulate sidecars; SQL three-valued
    logic holds — a NULL predicate keeps the row (the delete_where
    contract, unchanged by the mode)."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", 0), (2, None, 0), (3, "c", 1)],
            "id long, s string, pb int",
        )
    )
    t.delete_where(spark, "s = 'a'", mode="mor")
    # s IS NULL for id=2: predicate NULL -> row kept
    assert set(_rows(t.read(spark))) == {2, 3}
    t.delete_where(spark, "id = 3", mode="mor")
    assert set(_rows(t.read(spark))) == {2}
    assert len(t._read_entry(t.latest_version())["dv"]) == 2
    # deleting an already-deleted row is a no-op version-wise
    v = t.latest_version()
    assert t.delete_where(spark, "s = 'a'", mode="mor") == v


def test_mor_update_matches_cow(spark, table_factory):
    """update_where(mode='mor') = positional DV over the old images +
    appended updated images; result must equal the COW rewrite."""
    cow = _seeded(table_factory, spark, "cow")
    mor = _seeded(table_factory, spark, "mor")
    cow.update_where(
        spark, "id % 5 = 0", {"s": "concat(s, '!')"}
    )
    v = mor.update_where(
        spark, "id % 5 = 0", {"s": "concat(s, '!')"}, mode="mor"
    )
    assert _rows(mor.read(spark)) == _rows(cow.read(spark))
    entry = mor._read_entry(v)
    assert entry["op"] == "update_rows"
    # touched partitions gained an appended pointer (list), but the
    # ORIGINAL pointer inside each list is byte-identical (no rewrite)
    before = mor._read_entry(v - 1)["live"]
    for p, e in entry["live"].items():
        ptrs = _ptrs(e)
        assert ptrs[0] == _ptrs(before[p])[0]
        if p in ("0", "1", "2"):  # ids 0,5,10,..25 hit pb 0,1,2
            assert len(ptrs) == 2


def test_mor_update_unknown_column_and_partition_guard(
    spark, table_factory
):
    t = _seeded(table_factory, spark)
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_where(spark, "id = 1", {"nope": "1"}, mode="mor")
    with pytest.raises(ValueError, match="partition column"):
        t.update_where(spark, "id = 1", {"pb": "2"}, mode="mor")


def test_append_adds_rows_without_rewrite(spark, table_factory):
    """append() grows the touched partitions' pointer LISTS; existing
    pointers stay identical, reads union both."""
    t = _seeded(table_factory, spark)
    before = t._read_entry(t.latest_version())["live"]
    v = t.append(_mk(spark, [(100, "new", 0), (101, "new2", 1)]))
    entry = t._read_entry(v)
    assert entry["op"] == "append"
    assert sorted(entry["touched"]) == ["0", "1"]
    for p in ("0", "1"):
        ptrs = _ptrs(entry["live"][p])
        assert len(ptrs) == 2 and ptrs[0] == _ptrs(before[p])[0]
    assert _ptrs(entry["live"]["2"]) == _ptrs(before["2"])
    got = _rows(t.read(spark))
    assert got[100] == "new" and got[101] == "new2" and len(got) == 32
    # schema must match exactly
    with pytest.raises(ValueError, match="exact table schema"):
        t.append(spark.createDataFrame([(1,)], "id long"))


def test_append_first_commit_and_txn_idempotent(spark, table_factory):
    t = table_factory("t", partition_col="pb")
    v1 = t.append(_mk(spark, [(1, "a", 0)]), txn=("app", 1))
    assert v1 == 1
    v2 = t.append(_mk(spark, [(2, "b", 0)]), txn=("app", 2))
    # replay of seq 2 is a no-op
    assert t.append(_mk(spark, [(2, "b", 0)]), txn=("app", 2)) == v2
    assert set(_rows(t.read(spark))) == {1, 2}


def test_compaction_folds_dvs_and_pointer_lists(spark, table_factory):
    """OPTIMIZE materializes the deletes/updates: after compact() the
    dv list is empty, every partition has one pointer, and the read is
    unchanged."""
    t = _seeded(table_factory, spark)
    t.delete_where(spark, "id % 4 = 1", mode="mor")
    t.update_where(spark, "id % 5 = 0", {"s": "'u'"}, mode="mor")
    t.append(_mk(spark, [(200, "app", 0)]))
    before = _rows(t.read(spark))
    v = t.compact(spark)
    entry = t._read_entry(v)
    assert not entry.get("dv")
    assert all(len(_ptrs(e)) == 1 for e in entry["live"].values())
    assert _rows(t.read(spark)) == before


def test_compact_partitions_folds_fragmented_lists(spark, table_factory):
    """Partition-scoped OPTIMIZE counts appended pointers as
    fragmentation and folds only those partitions."""
    t = _seeded(table_factory, spark)
    t.append(_mk(spark, [(100, "new", 0)]))
    v = t.compact_partitions(spark, min_files=2)
    entry = t._read_entry(v)
    assert "0" in entry["touched"]
    assert len(_ptrs(entry["live"]["0"])) == 1
    assert set(_rows(t.read(spark))) == set(range(30)) | {100}


def test_compact_partitions_over_every_partition_clears_the_dv_list(
    spark, table_factory
):
    """A partition compaction over every partition materializes a MOR
    delete: no tombstone is left for later reads to anti-join, and the
    read is unchanged."""
    t = _seeded(table_factory, spark)
    t.delete_where(spark, "id % 4 = 1", mode="mor")
    before = _rows(t.read(spark))
    v = t.compact_partitions(spark, partitions=["0", "1", "2"])
    assert not t._read_entry(v).get("dv")
    assert _rows(t.read(spark)) == before


def test_time_travel_and_restore_across_dv(spark, table_factory):
    """Old versions read without the DV; RESTORE to a pre-DV version
    resurrects the rows metadata-only; the DV'd version stays readable
    for forensics."""
    t = _seeded(table_factory, spark)
    v1 = t.latest_version()
    v2 = t.delete_where(spark, "id < 10", mode="mor")
    assert set(_rows(t.read(spark, version=v1))) == set(range(30))
    assert set(_rows(t.read(spark, version=v2))) == set(range(10, 30))
    v3 = t.restore(v1)
    assert set(_rows(t.read(spark))) == set(range(30))
    assert set(_rows(t.read(spark, version=v2))) == set(range(10, 30))
    assert v3 == v2 + 1


def test_where_read_composes_pruning_with_dv(spark, table_factory):
    """A stats-pruned read over a DV'd table stays exact: pruning only
    skips files, the DV anti-join still applies to the survivors."""
    t = table_factory("t", stats_cols=["id"])
    t.overwrite(
        spark.range(0, 400)
        .selectExpr("id", "concat('s', id) AS s", "CAST(0 AS INT) AS pb")
        .repartitionByRange(8, "id")
    )
    t.delete_where(spark, "id % 2 = 0", mode="mor")
    got = sorted(
        r["id"] for r in t.read(spark, where="id <= 100").collect()
    )
    assert got == [i for i in range(101) if i % 2 == 1]


def test_cdf_mor_delete_emits_delete_rows(spark, table_factory):
    """read_changes over a pure MOR delete window: the pointers never
    moved, so the positional sidecar is the ONLY evidence — the feed
    must still emit 'delete' rows carrying the old values."""
    t = _seeded(table_factory, spark)
    v1 = t.latest_version()
    v2 = t.delete_where(spark, "id IN (3, 7)", mode="mor")
    feed = t.read_changes(spark, ["id"], v1, v2, include_deletes=True)
    got = {(r["id"], r["_change_type"]) for r in feed.collect()}
    assert got == {(3, "delete"), (7, "delete")}


def test_cdf_mor_update_emits_pre_and_post(spark, table_factory):
    """read_changes over a MOR update window: the appended pointer
    marks the partition changed; the struct diff yields exact pre/post
    images."""
    t = _seeded(table_factory, spark)
    v1 = t.latest_version()
    v2 = t.update_where(
        spark, "id = 4", {"s": "'patched'"}, mode="mor"
    )
    feed = t.read_changes(
        spark, ["id"], v1, v2,
        include_deletes=True, include_update_preimages=True,
    )
    got = {(r["id"], r["s"], r["_change_type"]) for r in feed.collect()}
    assert got == {
        (4, "s4", "update_preimage"),
        (4, "patched", "update_postimage"),
    }


def test_vacuum_keeps_dv_sidecars_and_appends(spark, table_factory):
    """vacuum must treat DV sidecar dirs and appended pointer dirs as
    referenced — reclaiming either would corrupt the head snapshot."""
    t = _seeded(table_factory, spark)
    t.delete_where(spark, "id % 4 = 1", mode="mor")
    t.append(_mk(spark, [(300, "app", 2)]))
    before = _rows(t.read(spark))
    t.vacuum(retain_versions=1, retention_seconds=0.0)
    assert _rows(t.read(spark)) == before


def test_conflict_cow_rewrite_racing_past_mor_delete(
    spark, table_factory
):
    """A COW DML whose base predates a delete_rows commit on the same
    partition must conflict — its rewrite was computed blind to the DV
    and would resurrect the deleted rows. Disjoint partitions rebase."""
    t = _seeded(table_factory, spark)
    base = t.latest_version()
    t.delete_where(spark, "id = 3", mode="mor")  # pb=0 partition
    rel, parts, files = t._stage(
        _mk(spark, [(0, "z", 0)])  # pb=0: overlaps
    )
    with pytest.raises(ConcurrentWriteError):
        t._commit_delete(
            base, ["0"], rel, {"0": parts["0"]}, op="merge", files=files
        )
    # disjoint partition (pb=1) rebases fine
    rel2, parts2, files2 = t._stage(_mk(spark, [(1, "z", 1)]))
    v = t._commit_delete(
        base, ["1"], rel2, {"1": parts2["1"]}, op="merge", files=files2
    )
    assert v == t.latest_version()


def test_conflict_matrix_mor_vs_mor(spark, table_factory):
    """update_rows vs update_rows on overlapping partitions conflicts
    (two divergent new images match no serial order); delete_rows over
    delete_rows and over append rebase; update_rows over a concurrent
    delete_rows conflicts."""
    t = _seeded(table_factory, spark)
    base = t.latest_version()
    t.update_where(spark, "id = 3", {"s": "'x'"}, mode="mor")  # pb=0
    # update_rows racing past update_rows on pb=0: conflict
    with pytest.raises(ConcurrentWriteError):
        t._commit_rdv(base, ["0"], "data/deadbeef0000", "update_rows")
    # delete_rows racing past update_rows on pb=0: conflict
    with pytest.raises(ConcurrentWriteError):
        t._commit_rdv(base, ["0"], "data/deadbeef0000", "delete_rows")
    # ...but a REAL end-to-end pair of MOR deletes composes fine:
    t2 = _seeded(table_factory, spark, "t2")
    b2 = t2.latest_version()
    t2.delete_where(spark, "id = 3", mode="mor")
    # a second MOR delete whose base predates the first: rebases
    snap = t2._read_snapshot(
        spark, t2._read_entry(b2)["live"], t2._read_entry(b2),
        with_pos=True,
    )
    dv_rel = os.path.join("data", "aaaaaaaaaaaa")
    snap.where("id = 6").select("__file", "__pos").write.parquet(
        os.path.join(t2.path, dv_rel)
    )
    v = t2._commit_rdv(b2, ["0"], dv_rel, "delete_rows")
    assert v == t2.latest_version()
    assert set(_rows(t2.read(spark))) == set(range(30)) - {3, 6}


def test_append_rebases_over_same_partition_delete(spark, table_factory):
    """An append whose base predates a COW delete of the SAME partition
    rebases (insert-after serialization): the appended rows survive on
    top of the post-delete live map. The race is injected
    deterministically — the concurrent delete commits while the append
    is staging its files."""
    t = _seeded(table_factory, spark)
    orig_stage = t._stage
    raced = {"done": False}

    def racing_stage(df):
        out = orig_stage(df)
        if not raced["done"]:
            raced["done"] = True
            # lands AFTER the append read its base, BEFORE its commit
            t.delete_where(spark, "id % 2 = 0")
        return out

    t._stage = racing_stage
    v = t.append(_mk(spark, [(500, "late", 0)]))
    t._stage = orig_stage
    got = _rows(t.read(spark))
    assert got[500] == "late"
    assert set(got) == {i for i in range(30) if i % 2 == 1} | {500}
    assert v == t.latest_version()
