"""The transaction log's conflict table, driven through the one commit
core (``VersionedTable._commit``) with synthetic pointer-level commits:
no Spark, no data files. Every scenario is a base read, one intervening
commit by another writer, then our commit. Its outcome must be the one
``_CONFLICTS`` names, and a commit that lands must equal a serial
order of the two writes."""

from __future__ import annotations

import tempfile
import zlib
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql.types import StringType, StructField, StructType

from de_final_project_spark.operators import txlog
from de_final_project_spark.operators.txlog import (
    ConcurrentWriteError,
    ConditionalPutLogStore,
    VersionedTable,
    _ptrs,
)

PARTS = ("a", "b", "c")
OPS = sorted(txlog._RULES)
BLIND = set(txlog._ROWS["blind"])


def _match(tag: str, row: str) -> bool:
    """A per-row predicate: whether ``row`` matches the op ``tag``."""
    return zlib.crc32(f"{tag}:{row}".encode()) % 2 == 0


def _plist(entry: dict, p: str) -> list[dict]:
    return _ptrs(entry["live"][p]) if p in entry["live"] else []


def _content(entry: dict):
    """What a reader sees: the multiset of live (partition, row) after
    positional DVs (``kills``) and key tombstones (``keys``, applying to
    pointers no newer than the tombstone), plus the column mapping."""
    dvs = entry.get("dv", [])
    pos = {tuple(k) for d in dvs for k in d.get("kills", [])}
    rows: Counter = Counter()
    for p in entry["live"]:
        for x in _plist(entry, p):
            for r in x["rows"]:
                if (x["id"], r) in pos or any(
                    r in d.get("keys", ()) and x["v"] <= d["v"] for d in dvs
                ):
                    continue
                rows[(p, r)] += 1
    return rows, entry.get("colmap")


def _visible(entry: dict, p: str) -> list[str]:
    return sorted(r for (q, r), n in _content(entry)[0].items()
                  for _ in range(n) if q == p)


def _touched(op: str, parts: list[str], table: VersionedTable,
             read: dict | None = None) -> list[str]:
    """The ``touched`` list the real writer of ``op`` records, for a
    writer that read ``read`` (default: the head)."""
    if op in ("analyze", "rename_column", "drop_column", "widen_column",
              "delete_keys", "wap_stage", "wap_discard"):
        return []
    if op == "compact":
        return sorted((read or table._read_entry(table.latest_version()))
                      ["live"])
    if op == "restore":
        return sorted(table._read_entry(1)["live"])
    return sorted(parts)


def _build(op: str, tag: str, parts: list[str], table, read: dict | None):
    """A synthetic writer of ``op``: its effect is computed from
    ``read`` (the snapshot it read; None = whatever head it commits on,
    which is what a blind writer does) and applied onto the head."""

    def build(head: int, onto: dict):
        src = onto if read is None else read
        live = dict(onto["live"])
        dv = None
        extra: dict = {}

        def ptr(p, rows, srcs=()):
            return {"id": f"{tag}{p}", "rows": sorted(rows),
                    "src": sorted(srcs), "commit_dir": f"data/{tag}",
                    "part_dir": p, "v": head + 1}

        def add(p, x):
            live[p] = _ptrs(live[p]) + [x] if p in live else x

        if op == "overwrite":
            live = {p: ptr(p, [f"{p}{tag}"]) for p in parts}
            dv = []
        elif op == "compact":
            # copy-on-write over every partition it read, then drop the
            # tombstones no remaining pointer is subject to
            for p in src["live"]:
                rows = _visible(src, p)
                if rows:
                    live[p] = ptr(p, rows, [x["id"] for x in _plist(src, p)])
                else:
                    live.pop(p, None)
            vs = [x["v"] for q in live for x in _ptrs(live[q])]
            dv = [d for d in onto.get("dv", []) if any(v <= d["v"] for v in vs)]
        elif op == "restore":
            v1 = table._read_entry(1)
            live, dv = dict(v1["live"]), v1.get("dv", [])
        elif op == "analyze":
            live = {p: [{**x, "stats": True} for x in _plist(src, p)]
                    for p in src["live"]}
        elif op in ("rename_column", "drop_column", "widen_column"):
            extra = {"colmap": {f"{k}_{tag}": v
                                for k, v in src["colmap"].items()}}
        elif op == "delete_keys":
            keys = sorted({r for p in src["live"] for r in _visible(src, p)
                           if _match(tag, r)})
            dv = src.get("dv", []) + [
                {"commit_dir": f"data/{tag}", "cols": ["k"], "keys": keys,
                 "v": head + 1}]
        elif op == "wap_stage":
            extra = {"wap": {"id": tag, "touched": sorted(parts)}}
        elif op == "wap_discard":
            extra = {"wap_discarded": {"id": tag, "staged": 1}}
        elif op in ("merge", "delete", "update", "compact_parts"):
            for p in parts:
                rows = _visible(src, p)
                if op == "merge":
                    rows = rows + [f"{p}{tag}"]
                elif op == "delete":
                    rows = [r for r in rows if not _match(tag, r)]
                elif op == "update":
                    rows = [f"{r}*{tag}" if _match(tag, r) else r
                            for r in rows]
                if rows:
                    live[p] = ptr(p, rows, [x["id"] for x in _plist(src, p)])
                else:
                    live.pop(p, None)
            if op == "merge":
                extra = {"colmap": src["colmap"]}  # merge's _cm
        elif op in ("append", "wap_publish"):
            for p in parts:
                add(p, ptr(p, [f"{p}{tag}"]))
            if op == "append":
                extra = {"colmap": src["colmap"]}  # append's _cm
        elif op in ("delete_rows", "update_rows"):
            kills = [[x["id"], r] for p in parts for x in _plist(src, p)
                     for r in x["rows"] if _match(tag, r)]
            dv = onto.get("dv", []) + [
                {"commit_dir": f"data/{tag}d", "pos": True, "kills": kills,
                 "v": head + 1}]
            if op == "update_rows":
                for p in parts:
                    imgs = [f"{r}*{tag}" for r in _visible(src, p)
                            if _match(tag, r)]
                    if imgs:
                        add(p, ptr(p, imgs))
        else:
            raise AssertionError(op)
        return live, dv, extra

    return build


def _seeded(store) -> VersionedTable:
    t = VersionedTable("/nonexistent/synthetic", log_store=store)
    live = {p: {"id": f"s{p}", "rows": [f"{p}{k}" for k in range(4)],
                "src": [], "commit_dir": "data/seed", "part_dir": p, "v": 1}
            for p in PARTS}
    extra = {"colmap": {"x": "x"}, "colmap_used": ["x"],
             "schema": _Frame(["x"]).schema.jsonValue()}
    t._commit(None, list(PARTS), "overwrite", lambda h, e: (live, [], extra))
    return t


def _commit(t, op, tag, parts, base_entry=None, base=None):
    """Commit ``op`` on ``t``: blind ops rebuild from the head; the rest
    read ``base_entry`` (default: the head) and rebase from ``base``."""
    blind = op in BLIND
    read = None if blind else (
        base_entry or t._read_entry(t.latest_version()))
    return t._commit(None if blind else base, _touched(op, parts, t, read),
                     op, _build(op, tag, parts, t, read))


def _serial(first, second) -> dict:
    t = _seeded(ConditionalPutLogStore())
    for op, tag, parts in (first, second):
        _commit(t, op, tag, parts)
    return t._read_entry(t.latest_version())


def _ids(entry: dict) -> set[str]:
    return {x["id"] for p in entry["live"] for x in _plist(entry, p)}


def _scenario(store, ours, theirs, ours_parts, their_parts):
    t = _seeded(store)
    base_entry = t._read_entry(1)
    _commit(t, theirs, "T", their_parts)
    head = t._read_entry(2)
    rule = (txlog._R if ours in BLIND
            else txlog._RULES[ours].get(theirs, txlog._C))
    overlap = bool(set(head["touched"])
                   & set(_touched(ours, ours_parts, t, base_entry)))
    expect_conflict = rule == txlog._C or (rule == txlog._O and overlap)
    try:
        v = _commit(t, ours, "O", ours_parts, base_entry=base_entry, base=1)
    except ConcurrentWriteError:
        assert expect_conflict, (ours, theirs, rule)
        assert t.latest_version() == 2
        return
    assert not expect_conflict, (ours, theirs, rule)
    final = t._read_entry(v)
    serial = [
        _content(_serial((theirs, "T", their_parts), (ours, "O", ours_parts))),
        _content(_serial((ours, "O", ours_parts), (theirs, "T", their_parts))),
    ]
    assert _content(final) in serial, (ours, theirs)
    if ours not in BLIND:
        # nothing the other writer added is lost, nothing it removed
        # comes back (as a pointer, or as the source of a rewrite)
        added = _ids(head) - _ids(base_entry)
        removed = _ids(base_entry) - _ids(head)
        assert added <= _ids(final), (ours, theirs)
        assert not removed & _ids(final), (ours, theirs)
        ours_new = [x for p in final["live"] for x in _plist(final, p)
                    if x["id"] not in _ids(head)]
        assert not removed & {s for x in ours_new for s in x["src"]}


_subsets = st.lists(st.sampled_from(PARTS), min_size=1, max_size=3,
                    unique=True)


@pytest.mark.parametrize("backend", ["posix", "condput"])
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(ours_parts=_subsets, their_parts=_subsets)
def test_every_op_pair_conflicts_or_is_serial(backend, ours_parts,
                                              their_parts):
    for ours in OPS:
        for theirs in OPS:
            with tempfile.TemporaryDirectory() as d:
                store = (txlog.LocalFSLogStore(d) if backend == "posix"
                         else ConditionalPutLogStore())
                _scenario(store, ours, theirs, ours_parts, their_parts)


def test_table_rows_cover_every_writer_op():
    """Every op a writer commits has exactly one row, and every row
    decides every column group."""
    ops = [op for row in txlog._ROWS.values() for op in row]
    assert len(ops) == len(set(ops))
    assert set(txlog._CONFLICTS) == set(txlog._ROWS)
    assert all(len(cells) == len(txlog._COLUMNS)
               for cells in txlog._CONFLICTS.values())
    assert set(ops) == {c for group in txlog._COLUMNS for c in group}


def test_table_keeps_the_per_writer_rules():
    """Every cell, restated as per-writer allow-lists: the ops a writer
    may rebase over, with the copy-on-write and merge-on-read writers
    also checking touched partitions. Some conflicts are conservative
    (the property test above cannot see the audit a WAP publish relies
    on), so they are pinned here."""
    dml = {"merge", "delete", "update", "compact", "compact_parts",
           "analyze", "append", "delete_rows", "update_rows"}
    wap = {"wap_stage", "wap_publish", "wap_discard"}
    R, C, O = txlog._R, txlog._C, txlog._O

    def old_rule(ours, theirs):
        if ours in txlog._ROWS["copy_on_write"]:
            return C if theirs not in dml else R if theirs == "analyze" else O
        if ours == "append":
            return R if theirs in dml | {"delete_keys"} else C
        if ours in ("delete_rows", "update_rows"):
            ok = {"append", "analyze"} | (
                {"delete_rows"} if ours == "delete_rows" else set())
            return C if theirs not in dml else R if theirs in ok else O
        if ours == "wap_publish":
            return R if theirs in dml | wap | {"delete_keys"} else C
        return R

    for ours, rules in txlog._RULES.items():
        for theirs in list(txlog._RULES) + ["clone"]:
            want = old_rule(ours, theirs)
            got = R if ours in BLIND else rules.get(theirs, C)
            assert got == want, (ours, theirs)


def test_compact_conflicts_with_an_append_on_a_partition_it_read():
    """compact rewrites the rows it read at its base, so an append
    landing on one of those partitions in between is a conflict, never
    silently undone."""
    t = _seeded(ConditionalPutLogStore())
    base_entry = t._read_entry(1)
    _commit(t, "append", "T", ["a"])
    with pytest.raises(ConcurrentWriteError):
        _commit(t, "compact", "O", [], base_entry=base_entry, base=1)
    assert t.latest_version() == 2
    assert "aT" in _visible(t._read_entry(2), "a")


def test_append_rebases_over_a_compaction():
    """A compaction keeps the snapshot's rows, so an append whose base
    is older rebases over it and both land."""
    t = _seeded(ConditionalPutLogStore())
    base_entry = t._read_entry(1)
    _commit(t, "compact", "T", [])
    v = _commit(t, "append", "O", ["a"], base_entry=base_entry, base=1)
    final = t._read_entry(v)
    assert v == 3 and final["op"] == "append"
    assert {x["id"] for x in _plist(final, "a")} == {"Ta", "Oa"}
    assert _visible(final, "a") == sorted(
        _visible(base_entry, "a") + ["aO"])


@pytest.mark.parametrize(
    "ours", ["append", "wap_publish", "merge", "overwrite", "delete_keys"]
)
def test_vacuumed_head_is_concurrent_write_error(ours):
    """An entry the head's reconstruction needs, vacuumed before its
    checkpoint lands, is a ConcurrentWriteError for every writer (the
    append, WAP and blind writers used to raise FileNotFoundError)."""
    store = ConditionalPutLogStore()
    t = _seeded(store)
    _commit(t, "append", "T", ["a"])
    _commit(t, "append", "U", ["b"])
    store.delete(t._entry_name(2))
    fresh = VersionedTable(t.path, log_store=store)
    with pytest.raises(ConcurrentWriteError, match="vacuumed"):
        _commit(fresh, ours, "O", ["c"],
                base_entry=fresh._read_entry(1), base=1)


def test_landed_txn_wins_over_a_conflicting_rebase():
    """A writer whose txn watermark already landed (another writer
    replayed the same batch) returns the head instead of conflicting
    with that commit: the txn check runs before the walk."""
    t = _seeded(ConditionalPutLogStore())
    base_entry = t._read_entry(1)
    t._commit(None, ["a"], "merge",
              _build("merge", "T", ["a"], t, None), txn=("app", 3))
    v = t._commit(1, ["a"], "merge",
                  _build("merge", "O", ["a"], t, base_entry),
                  txn=("app", 3))
    assert v == 2 == t.latest_version()
    with pytest.raises(ConcurrentWriteError):
        t._commit(1, ["a"], "merge",
                  _build("merge", "O", ["a"], t, base_entry),
                  txn=("app", 4))


def test_list_txn_stamp_commits_replays_and_advances():
    """A refresh group over several sources stamps the list of their
    versions. The first list stamp on a table without one commits, the
    same stamp replayed is a no-op that returns the head, and a list
    larger in one component commits."""
    t = _seeded(ConditionalPutLogStore())

    def merge(tag: str, stamp: list[int]) -> int:
        return t._commit(None, ["a"], "merge",
                         _build("merge", tag, ["a"], t, None),
                         txn=("mv", stamp))

    assert merge("T", [3, 5]) == 2
    assert merge("O", [3, 5]) == 2 == t.latest_version()
    assert merge("U", [3, 6]) == 3
    assert t.txn_version("mv") == [3, 6]


class _Frame:
    """The part of a DataFrame a blind writer touches before staging
    when no column needs a rename or a cast: its columns and types."""

    def __init__(self, columns):
        self.columns = list(columns)
        self.dtypes = [(c, "string") for c in columns]
        self.schema = StructType([StructField(c, StringType()) for c in columns])
        self.sparkSession = None


@pytest.mark.parametrize("schema_op", ["rename_column", "drop_column"])
@pytest.mark.parametrize("writer", ["overwrite", "stage_wap"])
def test_blind_writer_conflicts_with_a_schema_change_after_staging(
    monkeypatch, writer, schema_op
):
    """A blind writer's files carry the physical names of the column
    mapping it was translated under. A rename or drop that lands between
    its staging and its commit must not be reverted by its entry, so
    the commit is a ConcurrentWriteError and the mapping stays the
    schema change's."""
    t = _seeded(ConditionalPutLogStore())

    def stage(df):
        # another writer's schema change lands while ours stages
        if schema_op == "rename_column":
            t.rename_column(None, "x", "y")
        else:
            t.drop_column(None, "x")
        return "data/ours", {"a": "a"}, {}

    monkeypatch.setattr(t, "_stage", stage)
    with pytest.raises(ConcurrentWriteError, match="column mapping"):
        if writer == "overwrite":
            t.overwrite(_Frame(["x"]))
        else:
            t.stage_wap(_Frame(["x"]), "w1")
    head = t._read_entry(t.latest_version())
    assert head["op"] == schema_op
    assert head["colmap"] == ({"y": "x"} if schema_op == "rename_column"
                              else {})
