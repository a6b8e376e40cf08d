"""Fault injection at every commit point of the refresh groups
(operators/refresh.py): the multi-table indexes and the materialized
views.

Each group's tables get a LogStore wrapper sharing one fault plan, which
fails one table's Nth ``put_if_absent`` in one of two ways: it raises
before the entry is written, or it writes the entry and then raises (a
lost acknowledgement). For every commit point of near-dup build and
delta, BM25 build and delta, SemDeDup build and delta, SemDeDup
``reoptimize``, the aggregate view's build, delta (COUNT/SUM) and
rescan (MIN/MAX), and the join view's build and a delta in which both
feeds change, with and without the source heads advancing before the
retry, the retries must converge: every table's rows equal, as a
multiset, those of a fault-free twin driven over the same source
versions. The twin of ``reoptimize`` is a fresh build over the final
corpus (the re-train invariant).
"""

from __future__ import annotations

import shutil
import threading

import pytest

from de_final_project_spark.operators.ivm import (
    IncrementalAggView,
    IncrementalJoinAggView,
)
from de_final_project_spark.operators.neardup import IncrementalNearDupIndex
from de_final_project_spark.operators.searchidx import IncrementalPostingIndex
from de_final_project_spark.operators.semdedup import IncrementalSemDedup
from de_final_project_spark.operators.txlog import LogStore, VersionedTable


class InjectedFault(OSError):
    pass


class _Faults:
    """The plan one index's wrapped stores share: :meth:`arm` fails the
    Nth ``put_if_absent`` of one table from then on, once."""

    def __init__(self):
        self._lock = threading.Lock()
        self.counts: dict[str, int] = {}
        self.armed: tuple[str, int, str] | None = None
        self.fired = False

    def arm(self, table: str, n: int, mode: str) -> None:
        with self._lock:
            self.counts, self.armed, self.fired = {}, (table, n, mode), False

    def hit(self, table: str) -> str | None:
        """Count a put on ``table``; the fault mode if it must fail."""
        with self._lock:
            self.counts[table] = self.counts.get(table, 0) + 1
            if self.armed is None or self.armed[:2] != (table, self.counts[table]):
                return None
            mode, self.armed, self.fired = self.armed[2], None, True
            return mode


class _FaultyStore(LogStore):
    def __init__(self, inner: LogStore, table: str, faults: _Faults):
        self.inner, self.table, self.faults = inner, table, faults

    def put_if_absent(self, name: str, data: bytes) -> bool:
        mode = self.faults.hit(self.table)
        if mode is None:
            return self.inner.put_if_absent(name, data)
        if mode == "lost_ack":
            self.inner.put_if_absent(name, data)
        raise InjectedFault(f"{mode} at {self.table}/{name}")

    def put(self, name: str, data: bytes) -> None:
        self.inner.put(name, data)

    def read(self, name: str) -> bytes:
        return self.inner.read(name)

    def exists(self, name: str) -> bool:
        return self.inner.exists(name)

    def list_names(self) -> list[str]:
        return self.inner.list_names()

    def delete(self, name: str) -> None:
        self.inner.delete(name)


# ------------------------------------------------------------ corpora
_DOCS = [
    (i, f"the quick brown fox jumps over the lazy dog {i % 4}")
    for i in range(24)
]
_DOC_BATCHES = (_DOCS[:10], _DOCS[10:17], _DOCS[17:])

# 8 orthogonal seeds (k-means seeding needs ids 0..k-1) + id 10; id 9
# arrives later and revokes 10's keep (the flip path); the drift
# cohorts load dims the build corpus never used, so PSI crosses 0.2.
_SEEDS = [(i, {i: 100.0}) for i in range(8)] + [(10, {8: 100.0, 0: 1.0})]
_VEC_BATCHES = (
    _SEEDS,
    [(9, {8: 99.0, 0: 1.1}), (11, {1: 90.0, 2: 5.0})],
    [(12 + i, {3: 80.0, 4: 1.0 + i}) for i in range(3)],
)
_DRIFT_BATCHES = (
    _SEEDS,
    [(20 + i, {40: 0.9, 41: 0.1 * (i + 1)}) for i in range(6)],
    [(30 + i, {50: 0.9, 51: 0.1 * (i + 1)}) for i in range(6)],
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vecs(spark, rows):
    def vec(spec):
        v = [0.0] * 64
        for d, x in spec.items():
            v[d] = x
        return v

    return spark.createDataFrame(
        [(i, vec(s)) for i, s in rows], "vec_id long, embedding array<double>"
    )


# the views' bases: a dozen rows in three groups; the join view's dim
# gains a key in each later batch, so both feeds change in one window
_ROWS = [(i, "abc"[i % 3], float(i)) for i in range(12)]
_ROW_BATCHES = (_ROWS[:6], _ROWS[6:9], _ROWS[9:])
_FACT = [(i, i % 4, float(i)) for i in range(12)]
_JOIN_BATCHES = (
    (_FACT[:6], [(0, "g0"), (1, "g1"), (2, "g2")]),
    (_FACT[6:9], [(3, "g3")]),
    (_FACT[9:], [(4, "g4")]),
)
_SUM = {"cnt": ("count", ""), "sv": ("sum", "CAST(v AS DECIMAL(12,2))")}
_MINMAX = {"cnt": ("count", ""), "mn": ("min", "v"), "mx": ("max", "v")}


def _on_src(frame):
    """Every batch lands on the one source table, ``src``."""
    return lambda spark, rows: {"src": frame(spark, rows)}


def _index(cls):
    return lambda srcs, root, path: cls(srcs["src"], root)


def _agg_view(srcs, root, path):
    return IncrementalAggView(
        srcs["src"], root, keys=["id"], group_by=["g"],
        aggs=_MINMAX if path == "rescan" else _SUM,
    )


def _join_view(srcs, root, path):
    return IncrementalJoinAggView(
        srcs["fact"], srcs["dim"], root, fact_keys=["id"], dim_keys=["k"],
        on=("k", "k"), group_by=["grp"], aggs=_SUM,
    )


def _join_frames(spark, batch):
    fact, dim = batch
    return {
        "fact": spark.createDataFrame(fact, "id long, k long, v double"),
        "dim": spark.createDataFrame(dim, "k long, grp string"),
    }


# family -> (group maker (sources, root, path), batch -> {source:
# frame}, {path: batches}, tables)
_FAMILIES = {
    "neardup": (
        _index(IncrementalNearDupIndex), _on_src(_docs),
        {"build": _DOC_BATCHES, "delta": _DOC_BATCHES},
        lambda x: {"index": x.index, "verdicts": x.verdicts},
    ),
    "bm25": (
        _index(IncrementalPostingIndex), _on_src(_docs),
        {"build": _DOC_BATCHES, "delta": _DOC_BATCHES},
        lambda x: {"postings": x.postings, "doclens": x.doclens},
    ),
    "semdedup": (
        _index(IncrementalSemDedup), _on_src(_vecs),
        {"build": _VEC_BATCHES, "delta": _VEC_BATCHES,
         "reoptimize": _DRIFT_BATCHES},
        lambda x: {"index": x.index, "verdicts": x.verdicts, "cents": x.cents},
    ),
    "view": (
        _agg_view,
        _on_src(lambda s, rows: s.createDataFrame(
            rows, "id long, g string, v double")),
        {"build": _ROW_BATCHES, "delta": _ROW_BATCHES,
         "rescan": _ROW_BATCHES},
        lambda x: {"mv": x.mv},
    ),
    "joinview": (
        _join_view, _join_frames,
        {"build": _JOIN_BATCHES, "delta": _JOIN_BATCHES},
        lambda x: {"mv": x.mv},
    ),
}

# The operations before the faulted one: a batch index lands that batch
# on its sources (the first as an overwrite), "R" refreshes.
_PREFIX = {
    "build": [0], "delta": [0, "R", 1], "rescan": [0, "R", 1],
    "reoptimize": [0, "R", 1, "R"],
}
# The batch the source heads advance by before the retry.
_ADVANCE = {"build": 1, "delta": 2, "rescan": 2, "reoptimize": 2}


def _land(src: VersionedTable, frame) -> None:
    if src.latest_version() is None:
        src.overwrite(frame)
    else:
        src.append(frame)


def _rows(spark, tables: dict) -> dict:
    def norm(r):
        return tuple(tuple(x) if isinstance(x, list) else x for x in r)

    return {
        name: sorted((norm(r) for r in t.read(spark).collect()), key=repr)
        for name, t in tables.items()
    }


class _Run:
    """One group over its own sources, with the wrapped stores; opened
    on a copy of ``prefix`` (a finished run's root) when given."""

    def __init__(self, spark, root, family: str, path: str, prefix=None):
        make, frames, batches, tables = _FAMILIES[family]
        if prefix is not None:
            shutil.copytree(prefix, root, dirs_exist_ok=True)
        self.spark = spark
        self.batches = [frames(spark, b) for b in batches[path]]
        self.srcs = {
            name: VersionedTable(str(root / name)) for name in self.batches[0]
        }
        self.idx = make(self.srcs, str(root / "idx"), path)
        self.tables = tables(self.idx)
        self.faults = _Faults()
        for name, t in self.tables.items():
            t._store = _FaultyStore(t._store, name, self.faults)

    def step(self, step) -> None:
        if step == "R":
            self.refresh()
        else:
            for name, frame in self.batches[step].items():
                _land(self.srcs[name], frame)

    def head(self):
        """The source heads, as the group reports versions."""
        heads = tuple(t.latest_version() for t, _ in self.idx.group.sources)
        return heads[0] if len(heads) == 1 else heads

    def refresh(self) -> dict:
        return self.idx.refresh(self.spark)

    def op(self, path: str) -> dict:
        """The operation the path faults: a refresh, or a re-train."""
        if path == "reoptimize":
            return self.idx.reoptimize(self.spark, psi_threshold=0.2)
        return self.refresh()

    def rows(self) -> dict:
        return _rows(self.spark, self.tables)


# (family, path) -> {table: commits it takes during the path's faulted
# operation}; the tables commit concurrently, in no fixed order. The
# doclens' second commit is its auto_compact pass; a view lands each
# refresh in one commit (its auto_compact pass adds none).
_COMMIT_POINTS = {
    ("neardup", "build"): {"index": 1, "verdicts": 1},
    ("neardup", "delta"): {"index": 1, "verdicts": 1},
    ("bm25", "build"): {"postings": 1, "doclens": 1},
    ("bm25", "delta"): {"postings": 1, "doclens": 2},
    ("semdedup", "build"): {"index": 1, "verdicts": 1, "cents": 1},
    ("semdedup", "delta"): {"index": 1, "verdicts": 1},
    ("semdedup", "reoptimize"): {"index": 1, "verdicts": 1, "cents": 1},
    ("view", "build"): {"mv": 1},
    ("view", "delta"): {"mv": 1},
    ("view", "rescan"): {"mv": 1},
    ("joinview", "build"): {"mv": 1},
    ("joinview", "delta"): {"mv": 1},
}


@pytest.fixture(scope="module")
def prefixes(spark, tmp_path_factory):
    """(family, path) -> the root of a run that has done the path's
    prefix, built once and copied by every point."""
    roots = {}

    def get(family, path):
        if (family, path) not in roots:
            root = tmp_path_factory.mktemp("prefix")
            run = _Run(spark, root, family, path)
            for s in _PREFIX[path]:
                run.step(s)
            roots[(family, path)] = root
        return roots[(family, path)]

    return get


@pytest.fixture(scope="module")
def twins():
    return {}


def _faulted(run: _Run, path, table, n, mode, advance) -> set:
    """Fail ``table``'s Nth commit of the path's operation, optionally
    advance the source, then retry until the group reports noop.
    Returns every source version the group reached."""
    applied = {run.idx.group.applied_version()}
    run.faults.arm(table, n, mode)
    with pytest.raises(InjectedFault):
        run.op(path)
    assert run.faults.fired
    applied.add(run.idx.group.applied_version())
    if advance:
        run.step(_ADVANCE[path])
    if path == "reoptimize":
        run.op(path)
        assert run.idx.trained_version() == run.head()
    for _ in range(4):
        mode_ = run.refresh()["mode"]
        applied.add(run.idx.group.applied_version())
        if mode_ == "noop":
            break
    else:
        pytest.fail("retries did not converge")
    assert run.idx.group.stamps() == [run.head()] * len(run.idx.group.tables)
    return applied - {None}


def _twin_rows(spark, root, family, path, advance, applied) -> dict:
    """The fault-free twin: the same batches, refreshed at every source
    version the faulted run's group reached (its completed windows)."""
    twin = _Run(spark, root, family, path)
    steps = [s for s in _PREFIX[path] if s != "R"]
    steps += [_ADVANCE[path]] if advance else []
    for s in steps:
        twin.step(s)
        if path != "reoptimize" and twin.head() in applied:
            twin.refresh()
    if path == "reoptimize":
        twin.refresh()
    return twin.rows()


def _distinct(f, p, t, n, m) -> bool:
    """Does the point leave a state no other point of its path does? A
    lost acknowledgement on one group sibling's commit lands EVERY
    sibling (the others commit concurrently and succeed), and so does
    any fault in the auto_compact pass after them: those points repeat
    the lost-ack point of the path's first group table. ``cents`` is
    no group member, so all its points are distinct."""
    first = next(iter(_COMMIT_POINTS[(f, p)]))
    if t == "cents":
        return True
    return n == 1 and (m == "raise" or t == first)


def _grid(distinct: bool):
    return [
        pytest.param(
            f, p, t, n, m, a,
            id=f"{f}-{p}-{t}{n}-{m}-{'advance' if a else 'still'}",
        )
        for (f, p), tables in _COMMIT_POINTS.items()
        for t, count in tables.items()
        for n in range(1, count + 1)
        for m in ("raise", "lost_ack")
        for a in (False, True)
        if _distinct(f, p, t, n, m) == distinct
    ]


def _check_point(spark, tmp_path_factory, prefixes, twins, *point):
    family, path, table, n, mode, advance = point
    run = _Run(
        spark, tmp_path_factory.mktemp("faulted"), family, path,
        prefix=prefixes(family, path),
    )
    applied = _faulted(run, path, table, n, mode, advance)
    key = (family, path, advance, tuple(sorted(applied)))
    if key not in twins:
        twins[key] = _twin_rows(
            spark, tmp_path_factory.mktemp("twin"), family, path, advance,
            applied,
        )
    assert run.rows() == twins[key]


_POINT = "family,path,table,n,mode,advance"


@pytest.mark.parametrize(_POINT, _grid(distinct=True))
def test_commit_point_converges(
    spark, tmp_path_factory, prefixes, twins,
    family, path, table, n, mode, advance,
):
    _check_point(
        spark, tmp_path_factory, prefixes, twins,
        family, path, table, n, mode, advance,
    )


@pytest.mark.parametrize(_POINT, _grid(distinct=False))
def test_repeated_commit_point_converges(
    spark, tmp_path_factory, prefixes, twins,
    family, path, table, n, mode, advance,
):
    _check_point(
        spark, tmp_path_factory, prefixes, twins,
        family, path, table, n, mode, advance,
    )


@pytest.mark.parametrize("family,path", list(_COMMIT_POINTS))
def test_grid_names_every_commit_point(spark, tmp_path, prefixes, family, path):
    """The grid is complete: a fault-free run of each path's operation
    commits to exactly the listed tables, the listed number of times,
    and a view's path runs its strategy."""
    run = _Run(spark, tmp_path, family, path, prefix=prefixes(family, path))
    run.faults.arm("-", 0, "raise")  # zero the counts; never fires
    report = run.op(path)
    assert run.faults.counts == _COMMIT_POINTS[(family, path)]
    if family in ("view", "joinview"):
        assert report["mode"] == {"build": "full"}.get(path, path)


# ----------------------------------------------- named regressions
def _fresh_rows(spark, root, family) -> dict:
    """A fault-free build over all 24 docs."""
    make, _, _, tables = _FAMILIES[family]
    src = VersionedTable(str(root / "src"))
    src.overwrite(_docs(spark, _DOCS))
    idx = make({"src": src}, str(root / "idx"), "build")
    idx.refresh(spark)
    return _rows(spark, tables(idx))


def _two_window_run(spark, root, family, table, advance=False) -> _Run:
    """Build on 10 docs, append the other 14 (or 7, then 7 more before
    the retry when ``advance``), fail ``table``'s delta commit before it
    is written, retry until noop."""
    run = _Run(spark, root, family, "delta")
    run.step(0)
    run.refresh()
    rest = _DOCS[10:17] if advance else _DOCS[10:]
    _land(run.srcs["src"], _docs(spark, rest))
    run.faults.arm(table, 1, "raise")
    with pytest.raises(InjectedFault):
        run.refresh()
    if advance:
        _land(run.srcs["src"], _docs(spark, _DOCS[17:]))
    for _ in range(4):
        if run.refresh()["mode"] == "noop":
            break
    return run


def test_neardup_lost_verdict_commit_is_reapplied(spark, tmp_path):
    """The verdict commit fails and the index commit lands: the retry
    must re-apply the window to the verdicts, not report noop over 30
    verdict rows where a fresh build has 204."""
    run = _two_window_run(spark, tmp_path / "run", "neardup", "verdicts")
    want = _fresh_rows(spark, tmp_path / "fresh", "neardup")
    got = run.rows()["verdicts"]
    assert len(got) == len(want["verdicts"]) == 204
    assert got == want["verdicts"]


def test_bm25_lost_doclens_commit_is_reapplied(spark, tmp_path):
    """The doclens commit fails and the postings commit lands: the
    retry must bring doclens to all 24 docs, not stop at 10 while the
    postings hold 24 (every BM25 score after that would be wrong)."""
    run = _two_window_run(spark, tmp_path / "run", "bm25", "doclens")
    want = _fresh_rows(spark, tmp_path / "fresh", "bm25")
    got = run.rows()
    assert len(got["doclens"]) == 24
    assert got == want


def test_neardup_torn_window_is_not_reapplied_past_the_head(spark, tmp_path):
    """The index commit fails, the verdicts land, and the source head
    advances before the retry: the retry must finish the torn window
    for the index only, not re-apply it to the verdicts (274 rows of
    which 204 distinct)."""
    run = _two_window_run(
        spark, tmp_path / "run", "neardup", "index", advance=True
    )
    got = run.rows()["verdicts"]
    assert len(got) == len(set(got)) == 204


def test_stamp_without_a_version_per_source_is_refused():
    """A two-source group whose member carries a one-int stamp (the
    retired join-view encoding) refuses to refresh instead of reading
    it as a watermark."""
    from de_final_project_spark.operators.refresh import RefreshGroup
    from de_final_project_spark.operators.txlog import ConditionalPutLogStore

    mv = VersionedTable("/nonexistent/mv", log_store=ConditionalPutLogStore())
    mv._commit(None, [], "overwrite", lambda h, e: ({}, [], {}),
               txn=("ivmj", 5 * 2**30 + 3))
    group = RefreshGroup([(None, ["id"]), (None, ["k"])], "ivmj", (mv,))
    with pytest.raises(ValueError, match="one version per source"):
        group.applied_version()
