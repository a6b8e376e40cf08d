"""One refresh protocol for every incrementally maintained table.

A ``RefreshGroup`` is one or more member ``VersionedTable``s that
advance together from the change feeds of one or more source tables:
the near-dup band index and its verdicts, the BM25 postings and
document lengths, the SemDeDup cluster index and its verdicts (each fed
by one corpus table), and the materialized views of ``ivm.py`` (one
member each, fed by their base table, or by a fact and a dimension
table). The group owns the lifecycle they share — the watermark, the
build/delta/noop decision, the insert-only proof, the duplicate-key
probe, the overlapped member commits and the compaction pass. A
family supplies only its data transforms and one commit thunk per
member table.

The watermark is the per-application txn stamp ``(app_id, stamp)``
every member commit already carries (Delta's txn action): no extra
table, no extra commit. The stamp of a one-source group is the source
version; the stamp of an n-source group is the JSON list of the n
source versions, which the log's replay check compares as a list
(lexicographically — for versions that only grow, the order of the
windows). ``applied`` is the LOWEST stamp of each source over the
members; a member with no commits counts as None, which means build.
Members commit concurrently, so a failed refresh can leave their stamps
disagreeing. The group is then TORN, and the next refresh completes
exactly the torn window — up to the HIGHEST stamp of each source, not
the source heads — by running only the commits of members still behind
it. Every read of a member during a refresh goes through the
:class:`Window` and sees that table's last version stamped within
``applied``: the state the failed attempt read, so the repair lands the
rows the failed commits would have. When nothing is torn that version
is the head and the plans are unchanged.
"""

from __future__ import annotations

import functools
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_final_project_spark.operators.txlog import EmptyChangeFeed, VersionedTable
from de_final_project_spark.session import run_concurrently

_CONTRACT_BROKEN = (
    "insert-only refresh re-appends an EXISTING {key}: the unique-keyed "
    "producer contract is violated — commit updates as update/merge ops "
    "(the MERGE path upserts them), or disable "
    "spark.de_final_project.verifyInsertOnlyKeys if uniqueness is "
    "enforced upstream."
)


def _stamp(vs: tuple[int, ...]) -> int | list[int]:
    """The txn stamp of per-source versions ``vs``."""
    return vs[0] if len(vs) == 1 else list(vs)


def _versions(stamp) -> tuple[int, ...] | None:
    """Per-source versions of a txn stamp (None: no stamp)."""
    if stamp is None:
        return None
    return tuple(stamp) if isinstance(stamp, list) else (stamp,)


def _public(vs: tuple[int, ...] | None):
    """What callers see of per-source versions: the version of a
    one-source group, the tuple of an n-source group."""
    return vs if vs is None or len(vs) > 1 else vs[0]


def _behind(s: tuple[int, ...] | None, to: tuple[int, ...]) -> bool:
    return s is None or any(a < b for a, b in zip(s, to))


class Window:
    """One group operation's view of its sources: the version window
    (``applied``, ``to``] (per source; see :func:`_public`) and, for a
    delta refresh, ``feeds`` — each source's change feed, or None where
    the source did not move or moved by metadata only.

    For the first source (the only one of the index families): ``feed``
    (a build's is the snapshot at ``to``, every row an insert), its
    ``new`` rows (inserts and update postimages, persisted) and
    ``removed`` keys (deletes and update preimages), ``insert_only`` —
    the log's proof (commit ops only, no data IO) that every commit in
    the window is an append, so the feed carries no removals under the
    unique-keyed producer contract — and ``removes``, whether it
    deletes or updates any row. Each is computed when first used, so a
    window runs no Spark job its plan does not ask for. Frames persisted
    through :meth:`persist` are released when the operation ends."""

    def __init__(
        self,
        group: "RefreshGroup",
        spark: SparkSession,
        applied: tuple[int, ...] | None,
        to: tuple[int, ...],
        feeds: tuple[DataFrame | None, ...] = (),
    ):
        self.group, self.spark, self.feeds = group, spark, feeds
        self._applied, self._to = applied, to
        self.applied, self.to = _public(applied), _public(to)
        self.mode = "build" if applied is None else "delta"
        self.keys = group.sources[0][1]
        self._pins: dict = {}
        self._held: list = []

    def snapshot(
        self, i: int = 0, old: bool = False, where: str | None = None
    ) -> DataFrame:
        """Source ``i`` pinned at the window's end (``old``: its
        start), so a writer racing the refresh waits for the next one."""
        src = self.group.sources[i][0]
        v = (self._applied if old else self._to)[i]
        return src.read(self.spark, version=v, where=where)

    @functools.cached_property
    def feed(self) -> DataFrame:
        if self._applied is None:
            return self.snapshot().withColumn("_change_type", F.lit("insert"))
        return self.feeds[0]

    @functools.cached_property
    def new(self) -> DataFrame:
        return self.persist(
            self.feed.where(
                F.col("_change_type").isin("insert", "update_postimage")
            )
        )

    @functools.cached_property
    def removed(self) -> DataFrame:
        return (
            self.feed.where(
                F.col("_change_type").isin("delete", "update_preimage")
            )
            .select(*self.keys)
            .distinct()
        )

    @functools.cached_property
    def insert_only(self) -> bool:
        return self._applied is None or all(
            op == "append"
            for op in self.group.sources[0][0].window_ops(
                self._applied[0], self._to[0]
            )
        )

    @functools.cached_property
    def removes(self) -> bool:
        # free on an insert-only window, one probe job otherwise
        return not self.insert_only and self.removed.limit(1).count() > 0

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._held.append(df)
        return df

    def version(self, table: VersionedTable) -> int | None:
        """The version of member ``table`` this operation reads: its
        last commit stamped within ``applied`` (None: nothing yet). The
        head unless the group is torn."""
        if table not in self._pins:

            def ahead(v: int) -> bool:
                s = _versions(table.txn_version(self.group.app_id, v))
                return s is not None and (
                    self._applied is None
                    or any(a > b for a, b in zip(s, self._applied))
                )

            v = table.latest_version()
            while v and ahead(v):
                v -= 1
            self._pins[table] = v or None
        return self._pins[table]

    def read(
        self, table: VersionedTable, where: str | None = None
    ) -> DataFrame | None:
        v = self.version(table)
        return None if v is None else table.read(self.spark, version=v, where=where)

    def upsert(
        self,
        table: VersionedTable,
        rows: DataFrame,
        on: list[str],
        payload: str,
        txn: tuple[str, int],
    ) -> None:
        """Commit this window's ``rows`` of a member keyed by ``on``
        (which includes the source key) with a non-NULL ``payload``.

        The first commit overwrites. An insert-only window APPENDS:
        every key is new under the producer contract the group's probe
        checks, so a MERGE's matched clauses could never fire and its
        rewrite of touched partitions would be the identity — a
        pointer-list append stages O(batch) and reads no stored rows
        (auto_compact bounds the pointer lists). Otherwise a MERGE
        upserts, and the stored rows of removed or updated source keys
        that ``rows`` does not re-assert become NULL-``payload``
        tombstones, built by joins against the stored table (partition
        columns ride along from the stored row). A window that removes
        nothing skips that scan."""
        if self.version(table) is None:
            table.overwrite(rows, txn=txn)
        elif self.insert_only:
            table.append(rows, txn=txn)
        else:
            if self.removes:
                rows = rows.unionByName(
                    self.read(table)
                    .join(self.removed, self.keys, "left_semi")
                    .join(rows, on, "left_anti")
                    .withColumn(
                        payload, F.lit(None).cast(dict(rows.dtypes)[payload])
                    )
                )
            table.merge_into(
                self.spark,
                rows,
                on=on,
                matched_update={payload: f"s.{payload}"},
                matched_update_condition=f"s.{payload} IS NOT NULL",
                matched_delete_condition=f"s.{payload} IS NULL",
                insert_condition=f"s.{payload} IS NOT NULL",
                txn=txn,
            )

    def __enter__(self) -> "Window":
        return self

    def __exit__(self, *exc) -> None:
        for df in self._held:
            df.unpersist()


class RefreshGroup:
    """The member ``tables`` maintained from ``sources`` — ``(table,
    row keys)`` pairs — under one txn ``app_id``.

    With a ``probe`` (a member holding the first source's key), the
    group checks each delta window before its plan runs. By default
    that is the producer-contract check: insert-only windows only, while
    ``spark.de_final_project.verifyInsertOnlyKeys`` is on — an
    insert-only window commits as appends, so a re-carried key would
    duplicate rows where a MERGE upserted. ``dup_error`` makes the probe
    unconditional, raising that message, and ``removal_error`` refuses
    any delete or update in the window: the contract of an index whose
    rows cannot be retracted."""

    def __init__(
        self,
        sources: Sequence[tuple[VersionedTable, Sequence[str]]],
        app_id: str,
        tables: tuple[VersionedTable, ...],
        probe: VersionedTable | None = None,
        *,
        dup_error: str | None = None,
        removal_error: str | None = None,
    ):
        self.sources = [(t, list(keys)) for t, keys in sources]
        self.app_id, self.tables, self.probe = app_id, tables, probe
        self.dup_error, self.removal_error = dup_error, removal_error

    def stamps(self) -> list:
        """Each member's txn stamp (as :func:`_public` shows it)."""
        return [_public(s) for s in self._stamps()]

    def _stamps(self) -> list[tuple[int, ...] | None]:
        stamps = [_versions(t.txn_version(self.app_id)) for t in self.tables]
        if any(s is not None and len(s) != len(self.sources) for s in stamps):
            # e.g. a join view stamped with the retired one-int encoding
            raise ValueError(
                f"txn stamps {stamps} of '{self.app_id}' do not hold one "
                f"version per source ({len(self.sources)}): rebuild the "
                "tables"
            )
        return stamps

    @staticmethod
    def _applied(stamps) -> tuple[int, ...] | None:
        return None if None in stamps else tuple(map(min, zip(*stamps)))

    def applied_version(self):
        """The source versions every member reflects (None: build)."""
        return _public(self._applied(self._stamps()))

    def refresh(self, spark: SparkSession, plan, idle: dict) -> dict:
        """Advance the group to the source heads, or finish a torn
        window. ``plan(window) -> (commits, report)`` holds the family's
        transforms: ``commits`` maps each member to a thunk ``(txn) ->
        None`` that commits it with ``txn``. Returns ``{"mode", "from",
        "to", **report}``; a noop reports ``idle``. A noop leaves the
        watermark where it is, also when the sources moved by metadata
        only: the next real change re-diffs from there."""
        heads = []
        for src, _ in self.sources:
            heads.append(src.latest_version())
            if heads[-1] is None:
                raise FileNotFoundError(f"no commits at {src.path}")
        stamps = self._stamps()
        applied = self._applied(stamps)
        if len(set(stamps)) > 1:  # torn
            to = tuple(map(max, zip(*(s for s in stamps if s is not None))))
        else:
            to = tuple(heads)
        def noop(to: tuple[int, ...]) -> dict:
            return {"mode": "noop", "from": _public(applied),
                    "to": _public(to), **idle}

        if applied is not None and not _behind(applied, to):
            return noop(applied)
        feeds: tuple = ()
        if applied is not None:
            feeds = tuple(
                self._changes(spark, i, a, t)
                for i, (a, t) in enumerate(zip(applied, to))
            )
            if all(f is None for f in feeds):
                return noop(to)
        with Window(self, spark, applied, to, feeds) as w:
            self._check(w)
            commits, report = plan(w)
            self.commit(w, commits)
        # small-file lifecycle: no-op unless some live set reaches the
        # threshold; txn stamps ride through compaction commits
        run_concurrently(
            *(functools.partial(t.auto_compact, spark) for t in self.tables)
        )
        return {"mode": w.mode, "from": w.applied, "to": w.to, **report}

    def _changes(self, spark, i: int, a: int, t: int) -> DataFrame | None:
        """Source ``i``'s change feed over (a, t]; None when it did not
        move, or moved by metadata only."""
        src, keys = self.sources[i]
        if a >= t:
            return None
        try:
            return src.read_changes(
                spark, keys, a, t,
                include_deletes=True,
                include_update_preimages=True,
            )
        except EmptyChangeFeed:
            return None

    def window(self, spark: SparkSession, to) -> Window:
        """A feedless window at source version(s) ``to`` for a rewrite
        of every member (see :meth:`commit`)."""
        return Window(
            self, spark, self._applied(self._stamps()), _versions(to)
        )

    def commit(self, w: Window, commits: dict, rewrite: bool = False) -> None:
        """Land the members' commits overlapped (run_concurrently: each
        member has its own log and head CAS and the thunks read only
        persisted or pinned inputs, so one commit's staging back-fills
        executors the other's straggler tail leaves idle). The thunk of
        every member still behind ``w.to`` runs with ``txn=(app_id,
        stamp of w.to)``. With ``rewrite`` the members already at or
        past ``w.to`` commit too, unstamped, since a stamp that does not
        advance turns a commit into a no-op."""
        txn = (self.app_id, _stamp(w._to))
        thunks = []
        for t in self.tables:
            if _behind(_versions(t.txn_version(self.app_id)), w._to):
                thunks.append(functools.partial(commits[t], txn))
            elif rewrite:
                thunks.append(functools.partial(commits[t], None))
        run_concurrently(*thunks)

    def _check(self, w: Window) -> None:
        if w.mode == "build" or self.probe is None:
            return
        # evaluated before the plan, whose concurrent commit thunks
        # then share the cached answer
        if w.removes and self.removal_error is not None:
            raise ValueError(self.removal_error)
        if self.dup_error is None and not (
            w.insert_only and self.sources[0][0].verify_insert_only_keys(w.spark)
        ):
            return
        stored = w.read(self.probe)
        if stored is not None and (
            stored.select(*w.keys)
            .join(w.new.select(*w.keys), w.keys, "left_semi")
            .limit(1)
            .count()
        ):
            raise ValueError(
                self.dup_error
                or _CONTRACT_BROKEN.format(key=", ".join(w.keys))
            )
