"""One refresh protocol for the multi-table incremental indexes.

An incremental index is two or three sibling ``VersionedTable``s that
advance together from one source table's change feed: the near-dup band
index and its verdicts, the BM25 postings and document lengths, the
SemDeDup cluster index and its verdicts. ``RefreshGroup`` owns the
lifecycle they share — the watermark, the build/delta/noop decision,
the insert-only proof, the duplicate-key probe, the overlapped sibling
commits and the compaction pass. A family supplies only its data
transforms and one commit thunk per sibling table.

The watermark is the per-application txn stamp ``(app_id, source
version)`` every sibling commit already carries (Delta's txn action):
no extra table, no extra commit. ``applied`` is the LOWEST sibling
stamp; a table with no commits counts as None, which means build.
Siblings commit concurrently, so a failed refresh can leave their
stamps disagreeing. The group is then TORN, and the next refresh
completes exactly the torn window — up to the HIGHEST stamp, not the
source head — by running only the commits of siblings still behind it.
Every read of a sibling during a refresh goes through the
:class:`Window` and sees that table's last version stamped <=
``applied``: the state the failed attempt read, so the repair lands the
rows the failed commits would have. When nothing is torn that version
is the head and the plans are unchanged.
"""

from __future__ import annotations

import functools

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


class Window:
    """One group operation's view of the source: the version window
    (``applied``, ``to``] and, for a refresh, its change feed split into
    ``new`` rows (inserts and update postimages, persisted) and
    ``removed`` keys (deletes and update preimages), plus
    ``insert_only`` — the log's proof (commit ops only, no data IO) that
    every commit in the window is an append, so the feed carries no
    removals under the unique-keyed producer contract. Frames persisted
    through :meth:`persist` are released when the operation ends."""

    def __init__(
        self,
        group: "RefreshGroup",
        spark: SparkSession,
        applied: int | None,
        to: int,
        feed: DataFrame | None = None,
    ):
        self.group, self.spark, self.applied, self.to = group, spark, applied, to
        self.mode = "build" if applied is None else "delta"
        self._pins: dict = {}
        self._held: list = []
        if feed is not None:
            self.insert_only = applied is None or all(
                op == "append" for op in group.source.window_ops(applied, to)
            )
            self.new = self.persist(
                feed.where(
                    F.col("_change_type").isin("insert", "update_postimage")
                )
            )
            self.removed = (
                feed.where(
                    F.col("_change_type").isin("delete", "update_preimage")
                )
                .select(group.key)
                .distinct()
            )
            # does the window delete or update any row? Free on an
            # insert-only window, one probe job otherwise
            self.removes = (
                not self.insert_only and self.removed.limit(1).count() > 0
            )

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._held.append(df)
        return df

    def version(self, table: VersionedTable) -> int | None:
        """The version of sibling ``table`` this operation reads: its
        last commit stamped <= ``applied`` (None: nothing yet). The head
        unless the group is torn."""
        if table not in self._pins:

            def ahead(v: int) -> bool:
                s = table.txn_version(self.group.app_id, v)
                return s is not None and (self.applied is None or s > self.applied)

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
        """Commit this window's ``rows`` of a sibling keyed by ``on``
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
                    .join(self.removed, self.group.key, "left_semi")
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
    """The sibling ``tables`` an index maintains from ``source`` under
    one txn ``app_id``; ``key`` is the source's row key.

    Before a delta window's plan runs, the group probes ``probe`` (a
    sibling holding ``key``) for keys the window re-inserts. By default
    that is the producer-contract check: insert-only windows only, while
    ``spark.de_final_project.verifyInsertOnlyKeys`` is on — an
    insert-only window commits as appends, so a re-carried key would
    duplicate rows where a MERGE upserted. ``dup_error`` makes the probe
    unconditional, raising that message, and ``removal_error`` refuses
    any delete or update in the window: the contract of an index whose
    rows cannot be retracted."""

    def __init__(
        self,
        source: VersionedTable,
        app_id: str,
        tables: tuple[VersionedTable, ...],
        key: str,
        probe: VersionedTable,
        *,
        dup_error: str | None = None,
        removal_error: str | None = None,
    ):
        self.source, self.app_id, self.tables = source, app_id, tables
        self.key, self.probe = key, probe
        self.dup_error, self.removal_error = dup_error, removal_error

    def stamps(self) -> list[int | None]:
        return [t.txn_version(self.app_id) for t in self.tables]

    def applied_version(self) -> int | None:
        """The source version every sibling reflects (None: build)."""
        stamps = self.stamps()
        return None if None in stamps else min(stamps)

    def refresh(self, spark: SparkSession, plan, idle: dict) -> dict:
        """Advance the group to the source head, or finish a torn
        window. ``plan(window) -> (commits, report)`` holds the family's
        transforms: ``commits`` maps each sibling to a thunk
        ``(txn) -> None`` that commits it with ``txn``. Returns
        ``{"mode", "from", "to", **report}``; a noop reports ``idle``."""
        head = self.source.latest_version()
        if head is None:
            raise FileNotFoundError(f"no commits at {self.source.path}")
        stamps = self.stamps()
        applied = None if None in stamps else min(stamps)
        torn = len(set(stamps)) > 1
        to = max(s for s in stamps if s is not None) if torn else head
        if applied is not None and applied >= to:
            return {"mode": "noop", "from": applied, "to": applied, **idle}
        if applied is None:
            feed = self.source.read(spark, version=to).withColumn(
                "_change_type", F.lit("insert")
            )
        else:
            try:
                feed = self.source.read_changes(
                    spark, [self.key], applied, to,
                    include_deletes=True,
                    include_update_preimages=True,
                )
            except EmptyChangeFeed:
                # metadata-only window: the watermark stays put (ivm.py's
                # stance) and the next real change re-diffs from here
                return {"mode": "noop", "from": applied, "to": to, **idle}
        with Window(self, spark, applied, to, feed) as w:
            self._check(w)
            commits, report = plan(w)
            self.commit(w, commits)
        # small-file lifecycle: no-op unless some live set reaches the
        # threshold; txn stamps ride through compaction commits
        run_concurrently(
            *(functools.partial(t.auto_compact, spark) for t in self.tables)
        )
        return {"mode": w.mode, "from": applied, "to": to, **report}

    def window(self, spark: SparkSession, to: int) -> Window:
        """A feedless window at source version ``to`` for a rewrite of
        every sibling (see :meth:`commit`)."""
        return Window(self, spark, self.applied_version(), to)

    def commit(self, w: Window, commits: dict, rewrite: bool = False) -> None:
        """Land the siblings' commits overlapped (run_concurrently: each
        sibling has its own log and head CAS and the thunks read only
        persisted or pinned inputs, so one commit's staging back-fills
        executors the other's straggler tail leaves idle). The thunk of
        every sibling still behind ``w.to`` runs with
        ``txn=(app_id, w.to)``. With ``rewrite`` the siblings already at
        or past ``w.to`` commit too, unstamped, since a stamp that does
        not advance turns a commit into a no-op."""
        thunks = []
        for t in self.tables:
            s = t.txn_version(self.app_id)
            if s is None or s < w.to:
                thunks.append(functools.partial(commits[t], (self.app_id, w.to)))
            elif rewrite:
                thunks.append(functools.partial(commits[t], None))
        run_concurrently(*thunks)

    def _check(self, w: Window) -> None:
        if w.mode == "build":
            return
        if self.removal_error is not None and w.removes:
            raise ValueError(self.removal_error)
        if self.dup_error is None and not (
            w.insert_only and self.source.verify_insert_only_keys(w.spark)
        ):
            return
        stored = w.read(self.probe)
        if stored is not None and (
            stored.select(self.key)
            .join(w.new.select(self.key), self.key, "left_semi")
            .limit(1)
            .count()
        ):
            raise ValueError(
                self.dup_error or _CONTRACT_BROKEN.format(key=self.key)
            )
