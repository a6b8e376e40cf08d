"""One change classification (``txlog._entry_delta``) behind the log
codec, ``read_changes`` and the readStream source, pinned without
Spark: hand-built entries of every commit kind, committed through
``_try_commit`` on the conditional-put store. Each case pins the raw
bytes the codec writes, that a fresh handle decodes the entry back,
and what ``version_tasks`` renders (or that it refuses). Pointers carry
``files``, so no directory is ever listed."""

from __future__ import annotations

import copy
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from de_final_project_spark.operators.txlog import (
    ConditionalPutLogStore,
    VersionedTable,
    _entry_delta,
)
from de_final_project_spark.streaming.change_source import (
    ChangeFeedDataSource,
    ChangeFeedStreamReader,
    _stream_columns,
    version_tasks,
)


def _ptr(cd: str, p: str, v: int) -> dict:
    return {"commit_dir": f"data/{cd}", "part_dir": f"pb={p}", "v": v,
            "files": [{"f": f"pb={p}/part-0.parquet", "s": {}, "sz": 8}]}


def _pos(cd: str, v: int) -> dict:
    return {"commit_dir": f"data/{cd}", "pos": True, "v": v}


def _key(cd: str, v: int) -> dict:
    return {"commit_dir": f"data/{cd}", "cols": ["id"], "v": v}


A0, A1 = _ptr("a", "0", 1), _ptr("a", "1", 1)
NOTHING = "no row-level"


def _commit(t: VersionedTable, op: str, live: dict, dv=(), **extra) -> dict:
    """Commit the next version as ``_commit`` would assemble it; return
    the logical entry (with the protocol stamp ``_try_commit`` adds)."""
    v = (t.latest_version() or 0) + 1
    entry = {"version": v, "ts": 1.0, "op": op, "live": live,
             "touched": sorted(live), "txn": {},
             **({"dv": list(dv)} if dv else {}), **extra}
    assert t._try_commit(entry)
    return entry


def _render(t: VersionedTable, tasks: list[dict]) -> list[tuple]:
    """(kind, partition value, source commit dir) per task."""
    def src(task):
        path = task["files"][0] if "files" in task else task["sidecar"]
        return os.path.relpath(path, t.path).split(os.sep, 2)[1]

    return [(x["kind"], x.get("pval"), src(x)) for x in tasks]


# Each case: the commits after the v1 overwrite {0: A0, 1: A1} (setup
# first, the case's own commit last) as (op, live, dv, extra); the raw
# delta keys the last commit writes, in the codec's order; and the
# version_tasks rendering, or the ValueError message it raises.
_CASES = {
    "append_to_partition": (
        [("append", {"0": A0, "1": [A1, _ptr("b", "1", 2)]}, [], {})],
        {"live_append": {"1": [_ptr("b", "1", 2)]}},
        [("insert", "1", "b")],
    ),
    "append_new_partition": (
        [("append", {"0": A0, "1": A1, "2": _ptr("b", "2", 2)}, [], {})],
        {"live_set": {"2": _ptr("b", "2", 2)}},
        [("insert", "2", "b")],
    ),
    "merge_append_plan": (
        [("append", {"0": [A0, _ptr("b", "0", 2)], "1": A1,
                     "2": _ptr("b", "2", 2)}, [], {})],
        {"live_set": {"2": _ptr("b", "2", 2)},
         "live_append": {"0": [_ptr("b", "0", 2)]}},
        [("insert", "0", "b"), ("insert", "2", "b")],
    ),
    "cow_merge": (
        [("merge", {"0": _ptr("b", "0", 2), "1": A1}, [], {})],
        {"live_set": {"0": _ptr("b", "0", 2)}},
        NOTHING,
    ),
    "cow_delete": (
        [("delete", {"0": _ptr("b", "0", 2)}, [], {})],
        {"live_set": {"0": _ptr("b", "0", 2)}, "live_rm": ["1"]},
        NOTHING,
    ),
    "cow_update": (
        [("update", {"0": A0, "1": _ptr("b", "1", 2)}, [], {})],
        {"live_set": {"1": _ptr("b", "1", 2)}},
        NOTHING,
    ),
    "drop_partitions": (
        [("delete", {"0": A0}, [], {})],
        {"live_rm": ["1"]},
        NOTHING,
    ),
    "delete_rows": (
        [("delete_rows", {"0": A0, "1": A1}, [_pos("d", 2)], {})],
        {"dv_add": [_pos("d", 2)]},
        [("delete", None, "d")],
    ),
    "update_rows": (
        [("update_rows", {"0": A0, "1": [A1, _ptr("u", "1", 2)]},
          [_pos("d", 2)], {"dv_update_cols": ["s"]})],
        {"live_append": {"1": [_ptr("u", "1", 2)]}, "dv_add": [_pos("d", 2)]},
        [("update_preimage", None, "d"), ("update_postimage", "1", "u")],
    ),
    "delete_keys": (
        [("delete_keys", {"0": A0, "1": A1}, [_key("k", 2)], {})],
        {"dv_add": [_key("k", 2)]},
        NOTHING,
    ),
    "compact": (
        [("update_rows", {"0": A0, "1": [A1, _ptr("u", "1", 2)]},
          [_pos("d", 2)], {"dv_update_cols": ["s"]}),
         ("compact", {"0": _ptr("c", "0", 3), "1": _ptr("c", "1", 3)},
          [], {})],
        {"live_set": {"0": _ptr("c", "0", 3), "1": _ptr("c", "1", 3)},
         "dv_set": []},
        [],
    ),
    "compact_parts": (
        [("append", {"0": A0, "1": [A1, _ptr("b", "1", 2)]}, [], {}),
         ("compact_parts", {"0": A0, "1": _ptr("c", "1", 3)}, [], {})],
        {"live_set": {"1": _ptr("c", "1", 3)}},
        [],
    ),
    "rename_column": (
        [("rename_column", {"0": A0, "1": A1}, [],
          {"colmap": {"id": "c1", "t": "c2"}, "colmap_used": 2,
           "renamed": {"from": "s", "to": "t"}})],
        {},
        [],
    ),
    "drop_column": (
        [("drop_column", {"0": A0, "1": A1}, [],
          {"colmap": {"id": "c1"}, "colmap_used": 2,
           "dropped_cols": ["s"]})],
        {},
        [],
    ),
    "widen_column": (
        [("widen_column", {"0": A0, "1": A1}, [],
          {"widened": {"id": "bigint"},
           "type_widened": {"col": "id", "from": "int", "to": "bigint"}})],
        {},
        [],
    ),
    "restore": (
        [("merge", {"0": _ptr("b", "0", 2), "1": A1}, [], {}),
         ("delete_rows", {"0": _ptr("b", "0", 2), "1": A1},
          [_pos("d", 3)], {}),
         ("restore", {"0": A0, "1": A1}, [], {"restored_from": 1})],
        {"live_set": {"0": A0}, "dv_set": []},
        NOTHING,
    ),
    "restore_dropped_partition": (
        [("delete", {"0": A0}, [], {}),
         ("restore", {"0": A0, "1": A1}, [], {"restored_from": 1})],
        {"live_set": {"1": A1}},
        [("insert", "1", "a")],
    ),
    # the restored pointer A1 is older than the carried tombstone d,
    # which still cuts rows from it: its files are not the new rows
    "restore_after_partition_drop": (
        [("delete_rows", {"0": A0, "1": A1}, [_pos("d", 2)], {}),
         ("delete", {"0": A0}, [_pos("d", 2)], {}),
         ("restore", {"0": A0, "1": A1}, [_pos("d", 2)],
          {"restored_from": 2})],
        {"live_set": {"1": A1}},
        NOTHING,
    ),
    # a pointer and the sidecar that cuts rows from it come back
    # together: no row was updated
    "restore_pointer_and_sidecar": (
        [("append", {"0": A0, "1": A1, "2": _ptr("b", "2", 2)}, [], {}),
         ("delete_rows", {"0": A0, "1": A1, "2": _ptr("b", "2", 2)},
          [_pos("d", 3)], {}),
         ("restore", {"0": A0, "1": A1}, [], {"restored_from": 1}),
         ("restore", {"0": A0, "1": A1, "2": _ptr("b", "2", 2)},
          [_pos("d", 3)], {"restored_from": 3})],
        {"live_set": {"2": _ptr("b", "2", 2)}, "dv_add": [_pos("d", 3)]},
        NOTHING,
    ),
    "wap_publish": (
        [("wap_stage", {"0": A0, "1": A1}, [],
          {"wap": {"id": "w", "files": {"1": _ptr("w", "1", 2)},
                   "touched": ["1"]}}),
         ("wap_publish", {"0": A0, "1": [A1, _ptr("w", "1", 3)]}, [],
          {"wap_published": "w"})],
        {"live_append": {"1": [_ptr("w", "1", 3)]}},
        [("insert", "1", "w")],
    ),
}


@pytest.fixture
def table(tmp_path):
    store = ConditionalPutLogStore()
    t = VersionedTable(str(tmp_path / "t"), log_store=store)
    v1 = _commit(t, "overwrite", {"0": A0, "1": A1})
    # the first commit is its own anchor: written whole
    assert json.loads(store.read(t._entry_name(1))) == v1
    return t


def test_first_commit_renders_every_pointer(table):
    assert _render(table, version_tasks(table, table._read_entry(1))) == [
        ("insert", "0", "a"), ("insert", "1", "a"),
    ]


@pytest.mark.parametrize("case", sorted(_CASES))
def test_commit_kind_codec_and_rendering(table, case):
    commits, delta, tasks = _CASES[case]
    for op, live, dv, extra in commits:
        entry = _commit(table, op, copy.deepcopy(live), dv, **extra)
    v = entry["version"]
    # the codec's raw bytes: the entry's own fields, then the delta
    # keys in the codec's order, then the protocol stamp
    want = {k: x for k, x in entry.items()
            if k not in ("live", "dv", "protocol")}
    want.update(delta)
    want["protocol"] = {"min_reader": 5, "min_writer": 5}
    raw = table._store.read(table._entry_name(v))
    assert raw == json.dumps(want).encode()
    # a fresh handle decodes it back through the delta chain
    fresh = VersionedTable(table.path, log_store=table._store)
    assert fresh._read_entry(v) == entry
    if isinstance(tasks, str):
        with pytest.raises(ValueError, match=tasks):
            version_tasks(fresh, entry)
    else:
        assert _render(fresh, version_tasks(fresh, entry)) == tasks


def test_window_delta_composes_commits(table):
    """Across a multi-commit window the classification is the diff of
    the two ends: a compaction's replaced tombstone list still yields
    the tombstones the window added."""
    _commit(table, "delete_rows", {"0": A0, "1": A1}, [_pos("d", 2)])
    _commit(table, "delete_keys", {"0": A0, "1": A1},
            [_pos("d", 2), _key("k", 3)])
    _commit(table, "compact_parts", {"0": A0, "1": _ptr("c", "1", 4)},
            [_key("k", 3)])
    d = _entry_delta(table._read_entry(1), table._read_entry(4))
    assert d.rewritten == {"1": _ptr("c", "1", 4)} and not d.appended
    assert d.dv_replaced is False and d.key_tombstones == [_key("k", 3)]
    d = _entry_delta(table._read_entry(3), table._read_entry(4))
    assert d.dv_replaced is True and d.tombstones == []


def test_version_tasks_needs_the_parent_entry(table):
    """A version's change evidence is its diff against its parent, so a
    vacuumed parent leaves the version without a change feed."""
    _commit(table, "append", {"0": A0, "1": [A1, _ptr("b", "1", 2)]})
    _commit(table, "append",
            {"0": A0, "1": [A1, _ptr("b", "1", 2), _ptr("c", "1", 3)]})
    table.vacuum(retain_versions=1, retention_seconds=0)
    fresh = VersionedTable(table.path, log_store=table._store)
    entry = fresh._read_entry(3)  # the vacuum checkpointed it
    with pytest.raises(FileNotFoundError):
        version_tasks(fresh, entry)


def _schema(typ: str) -> dict:
    """The ``schema`` field ``_commit`` records for one ``id`` column."""
    return {"type": "struct", "fields": [
        {"name": "id", "type": typ, "nullable": True, "metadata": {}},
    ]}


INT_ID, LONG_ID = _schema("integer"), _schema("long")


def _int_table(tmp_path) -> VersionedTable:
    """A real table whose v1 files {0: A0, 1: A1} hold one int32 ``id``
    each (the partition value)."""
    t = VersionedTable(str(tmp_path / "t"))
    for p in ("0", "1"):
        _write_ids(t, "a", p, pa.array([int(p)], pa.int32()))
    _commit(t, "overwrite", {"0": A0, "1": A1}, schema=INT_ID)
    return t


def _write_ids(t: VersionedTable, cd: str, p: str, ids: pa.Array) -> None:
    d = os.path.join(t.path, "data", cd, f"pb={p}")
    os.makedirs(d)
    pq.write_table(pa.table({"id": ids}), os.path.join(d, "part-0.parquet"))


def test_stream_fails_on_mid_stream_widen(tmp_path):
    """widen_column renders no tasks, so the readStream source guards
    it with the rename/drop rule: the output schema was resolved at
    start, and a widen committed after that fails the next trigger."""
    t = _int_table(tmp_path)
    reader = ChangeFeedStreamReader({"path": t.path})
    assert len(reader.partitions({"version": 0}, {"version": 1})) == 1
    _commit(t, "widen_column", {"0": A0, "1": A1},
            widened={"id": "bigint"}, schema=LONG_ID)
    with pytest.raises(ValueError, match="mid-stream"):
        reader.partitions({"version": 1}, {"version": 2})


def test_stream_across_an_earlier_widen_reads_the_widened_type(tmp_path):
    """A stream started after a widen but reading from before it
    declares the widened type, though the files it reads predate the
    widen: narrow files cast up, and a value beyond the narrow range
    written after the widen reads back whole."""
    t = _int_table(tmp_path)
    _commit(t, "widen_column", {"0": A0, "1": A1},
            widened={"id": "bigint"}, schema=LONG_ID)
    big = 2**31 + 5
    _write_ids(t, "b", "1", pa.array([big], pa.int64()))
    # every later commit carries the widen state and schema forward
    _commit(t, "append", {"0": A0, "1": [A1, _ptr("b", "1", 3)]},
            widened={"id": "bigint"}, schema=LONG_ID)
    assert "`id` bigint" in ChangeFeedDataSource({"path": t.path}).schema()
    reader = ChangeFeedStreamReader({"path": t.path})
    batches = [
        b for part in reader.partitions({"version": 0}, {"version": 3})
        for b in reader.read(part)
    ]
    assert {b.schema.field("id").type for b in batches} == {pa.int64()}
    rows = pa.Table.from_batches(batches).to_pylist()
    assert sorted((r["id"], r["_commit_version"]) for r in rows) == [
        (0, 1), (1, 1), (big, 3),
    ]


def test_stream_columns_read_the_entry_not_a_footer(tmp_path):
    """The stream's columns come from the head entry's schema alone:
    resolved over pointers whose files were never written, under the
    column mapping, with the partition column from the dir names. A
    head entry without a schema (written before entries carried one)
    is refused, since the source's workers have no Spark to infer it."""
    t = VersionedTable(str(tmp_path / "t"))
    schema = {"type": "struct", "fields": [
        {"name": n, "type": typ, "nullable": True, "metadata": {}}
        for n, typ in (("id", "long"), ("s__p1", "string"),
                       ("ts", "timestamp"), ("amt", "decimal(12,4)"))
    ]}
    _commit(t, "overwrite", {"0": A0, "1": A1}, schema=schema,
            colmap={"id": "id", "name": "s__p1", "ts": "ts", "amt": "amt",
                    "pb": "pb"})
    assert not os.path.exists(os.path.join(t.path, "data"))
    _, fields, part, part_out = _stream_columns(t)
    assert [(p, n, dt.simpleString()) for p, n, dt in fields] == [
        ("id", "id", "bigint"), ("s__p1", "name", "string"),
        ("ts", "ts", "timestamp"), ("amt", "amt", "decimal(12,4)"),
    ]
    assert (part, part_out) == ("pb", "pb")
    assert ChangeFeedDataSource({"path": t.path}).schema() == (
        "`id` bigint, `name` string, `ts` timestamp, `amt` decimal(12,4), "
        "`pb` string, `_change_type` string, `_commit_version` bigint"
    )
    legacy = VersionedTable(str(tmp_path / "old"),
                            log_store=ConditionalPutLogStore())
    _commit(legacy, "overwrite", {"0": A0, "1": A1})
    with pytest.raises(ValueError, match="records no schema"):
        _stream_columns(legacy)
