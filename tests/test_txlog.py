"""VersionedTable: atomic log commits, time travel, partition-pruned
MERGE, optimistic concurrency, vacuum."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from de_final_project_spark.operators import txlog
from de_final_project_spark.operators.txlog import (
    ConcurrentWriteError,
    ConditionalPutLogStore,
    VersionedTable,
)


def _rows(df):
    return {r["id"]: r["s"] for r in df.collect()}


def _mk(spark, data):
    return spark.createDataFrame(data, "id long, s string, pb int")


@pytest.fixture(params=["posix", "condput"])
def table_factory(request, tmp_path):
    """Open a VersionedTable over either log backend: POSIX files
    (O_EXCL link) or the conditional-put object-store double (no rename
    anywhere). Same path → same store instance, so concurrent-writer
    tests share one log like two clients of one bucket would."""
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


def test_overwrite_and_read(spark, table_factory):
    t = table_factory("t", partition_col="pb")
    v = t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1)]))
    assert v == 1
    got = t.read(spark)
    assert _rows(got) == {1: "a", 2: "b"}
    # partition column survives the basePath scan with usable values
    assert {r["pb"] for r in got.collect()} == {0, 1}


def test_merge_updates_inserts_and_time_travel(spark, table_factory):
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1), (3, "c", 2)]))
    v = t.merge(spark, _mk(spark, [(2, "B", 1), (5, "e", 1)]), ["id"])
    assert v == 2
    assert _rows(t.read(spark)) == {1: "a", 2: "B", 3: "c", 5: "e"}
    # time travel: version 1 is untouched
    assert _rows(t.read(spark, version=1)) == {1: "a", 2: "b", 3: "c"}
    ops = [h["op"] for h in t.history()]
    assert ops == ["overwrite", "merge"]
    assert t.history()[1]["touched"] == ["1"]


def test_merge_untouched_partition_reuses_files(spark, table_factory):
    """Partition 0's live pointer after a merge touching only partition 1
    must still reference the ORIGINAL commit dir — no data IO, not even
    a rename, for untouched partitions."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1)]))
    before = t._read_entry(1)["live"]["0"]
    t.merge(spark, _mk(spark, [(2, "B", 1)]), ["id"])
    after = t._read_entry(2)["live"]
    assert after["0"] == before
    assert after["1"] != t._read_entry(1)["live"]["1"]


def test_crash_before_log_commit_is_invisible(spark, table_factory):
    """Staged data without a log entry is garbage, not corruption: the
    table reads identically and a later commit just works."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0)]))
    # simulate a writer that died after staging, before _try_commit
    rel, parts, _files = t._stage(_mk(spark, [(1, "ZZZ", 0)]))
    assert os.path.isdir(os.path.join(t.path, rel))
    assert _rows(t.read(spark)) == {1: "a"}
    t.merge(spark, _mk(spark, [(1, "A", 0)]), ["id"])
    assert _rows(t.read(spark)) == {1: "A"}


def test_run_concurrently_failure_awaits_siblings_and_reraises_first():
    """Sibling-table commits overlap through run_concurrently: when one
    thunk fails, every other thunk still runs to completion before the
    first error (in thunk order) re-raises, so no commit is left racing
    the caller."""
    import time

    from de_final_project_spark.session import run_concurrently

    done = []

    def first():
        time.sleep(0.1)
        raise ValueError("first")

    def second():
        raise RuntimeError("second")

    def slow():
        time.sleep(0.3)
        done.append(True)
        return "slow"

    with pytest.raises(ValueError, match="first"):
        run_concurrently(first, second, slow)
    assert done == [True]
    assert run_concurrently(lambda: 1, lambda: 2) == [1, 2]


def test_concurrent_disjoint_merge_rebases(spark, table_factory):
    """A commit landing between read and commit on DISJOINT partitions
    is rebased over, and both changes survive."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1)]))

    orig_stage = t._stage

    def stage_and_race(df):
        out = orig_stage(df)
        if not getattr(stage_and_race, "raced", False):
            stage_and_race.raced = True
            other = table_factory(t.path, partition_col="pb")
            other.merge(spark, _mk(spark, [(2, "B2", 1)]), ["id"])
        return out

    t._stage = stage_and_race
    v = t.merge(spark, _mk(spark, [(1, "A", 0)]), ["id"])
    assert v == 3  # rebased onto the interloper's v2
    assert _rows(t.read(spark)) == {1: "A", 2: "B2"}


def test_concurrent_overlapping_merge_aborts(spark, table_factory):
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0)]))

    orig_stage = t._stage

    def stage_and_race(df):
        out = orig_stage(df)
        if not getattr(stage_and_race, "raced", False):
            stage_and_race.raced = True
            other = table_factory(t.path, partition_col="pb")
            other.merge(spark, _mk(spark, [(1, "THEIRS", 0)]), ["id"])
        return out

    t._stage = stage_and_race
    with pytest.raises(ConcurrentWriteError):
        t.merge(spark, _mk(spark, [(1, "MINE", 0)]), ["id"])
    # the winner's write is intact
    assert _rows(t.read(spark)) == {1: "THEIRS"}


def test_compact_restores_single_scan(spark, tmp_path):
    """After merges the live map spans several commit dirs; compact
    rewrites the snapshot into one, data unchanged, and vacuum can then
    GC every older dir."""
    t = VersionedTable(str(tmp_path / "t"), partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1)]))
    t.merge(spark, _mk(spark, [(2, "B", 1)]), ["id"])
    t.merge(spark, _mk(spark, [(3, "c", 2)]), ["id"])
    live = t._read_entry(t.latest_version())["live"]
    assert len({e["commit_dir"] for e in live.values()}) > 1
    before = _rows(t.read(spark))
    v = t.compact(spark)
    live = t._read_entry(v)["live"]
    assert len({e["commit_dir"] for e in live.values()}) == 1
    assert _rows(t.read(spark)) == before == {1: "a", 2: "B", 3: "c"}
    assert t.history()[-1]["op"] == "compact"
    removed = t.vacuum(retain_versions=1, retention_seconds=0)
    assert len(removed) == 3  # the three pre-compaction commit dirs
    assert _rows(t.read(spark)) == before


def test_compact_cluster_by_prunes_row_groups(spark, tmp_path):
    """OPTIMIZE ZORDER-style compaction: after compact(cluster_by=[v]),
    parquet row-group min/max footers on v are disjoint-ish ranges, so
    a point predicate prunes to a strict subset of row groups."""
    import glob

    import pyarrow.parquet as pq

    t = VersionedTable(str(tmp_path / "t"))
    # 40k rows, v uniformly shuffled — pre-compaction row groups all
    # span nearly the full [0, 1000) range.
    df = (
        spark.range(40_000)
        .select(
            F.col("id"),
            ((F.col("id") * 7919) % 1000).alias("v"),
            F.lit("x").alias("pad"),
        )
        .repartition(8)
    )
    t.overwrite(df)
    old_conf = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        v = t.compact(spark, cluster_by=["v"])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_conf)
    live = t._read_entry(v)["live"]
    commit_dir = next(iter(live.values()))["commit_dir"]
    spans = []
    for f in glob.glob(str(tmp_path / "t" / commit_dir / "*.parquet")):
        pf = pq.ParquetFile(f)
        for i in range(pf.num_row_groups):
            col = pf.metadata.row_group(i).column(1)  # v
            spans.append((col.statistics.min, col.statistics.max))
    assert len(spans) >= 4
    # clustered: each file/row-group covers a narrow slice of [0,1000)
    assert sum(hi - lo for lo, hi in spans) < 1000 * len(spans) * 0.5
    # a point predicate overlaps only a strict minority of spans
    hit = sum(1 for lo, hi in spans if lo <= 500 <= hi)
    assert hit <= max(1, len(spans) // 4)
    # and the data survived intact
    assert t.read(spark).count() == 40_000


def test_compact_cluster_by_sorts_each_partition(spark, tmp_path):
    """compact(cluster_by=) on a PARTITIONED table: every rewritten
    file reads the key in order. The staging shuffle by the partition
    column once ran after the layout step and discarded its sort."""
    import glob

    import pyarrow.parquet as pq

    t = VersionedTable(str(tmp_path / "t"), partition_col="pb")
    t.overwrite(
        spark.range(4_000)
        .select(
            F.col("id"),
            ((F.col("id") * 7919) % 541).alias("v"),
            (F.col("id") % 2).cast("int").alias("pb"),
        )
        .repartition(4)
    )
    v = t.compact(spark, cluster_by=["v"])
    live = t._read_entry(v)["live"]
    assert sorted(live) == ["0", "1"]
    for ptr in live.values():
        files = glob.glob(
            os.path.join(t.path, ptr["commit_dir"], ptr["part_dir"], "*")
        )
        assert files
        for f in files:
            vals = pq.read_table(f, columns=["v"]).column("v").to_pylist()
            assert vals == sorted(vals)
    assert t.read(spark).count() == 4_000


def test_vacuum_drops_old_versions_cleanly(spark, table_factory):
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1)]))
    t.overwrite(_mk(spark, [(1, "x", 0), (2, "y", 1)]))
    removed = t.vacuum(retain_versions=1, retention_seconds=0)
    assert removed  # v1's commit dir is gone
    assert _rows(t.read(spark)) == {1: "x", 2: "y"}
    with pytest.raises(FileNotFoundError):
        t.read(spark, version=1)


def test_unpartitioned_table_roundtrip(spark, table_factory):
    t = table_factory("t")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1)]))
    t.merge(spark, _mk(spark, [(2, "B", 1), (3, "c", 0)]), ["id"])
    assert _rows(t.read(spark)) == {1: "a", 2: "B", 3: "c"}
    assert _rows(t.read(spark, version=1)) == {1: "a", 2: "b"}


def test_txn_merge_is_idempotent(spark, table_factory):
    """Replaying a merge with the same (app, seq) txn stamp is a no-op —
    the foreachBatch-retry contract."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0)]))
    v1 = t.merge(spark, _mk(spark, [(1, "A", 0)]), ["id"], txn=("app", 0))
    v2 = t.merge(spark, _mk(spark, [(1, "GHOST", 0)]), ["id"], txn=("app", 0))
    assert v2 == v1  # replay skipped, no new version
    assert _rows(t.read(spark)) == {1: "A"}
    v3 = t.merge(spark, _mk(spark, [(1, "B", 0)]), ["id"], txn=("app", 1))
    assert v3 == v1 + 1
    assert _rows(t.read(spark)) == {1: "B"}
    # independent apps don't interfere
    v4 = t.merge(spark, _mk(spark, [(2, "x", 0)]), ["id"], txn=("other", 0))
    assert v4 == v3 + 1


def test_stream_merge_into_effectively_once(spark, tmp_path):
    """End-to-end streaming MERGE sink: two replay batches land as two
    transactions; re-running the DRAINED stream with the same checkpoint
    delivers nothing; wiping the checkpoint re-delivers both batches but
    the txn stamps make the merges no-ops — same final state, no new
    versions beyond the re-delivered ones being skipped."""
    from de_final_project_spark.streaming.pipeline import stream_merge_into

    src = tmp_path / "replay"
    a = _mk(spark, [(1, "a", 0), (2, "b", 1)])
    b = _mk(spark, [(2, "B", 1), (3, "c", 0)])
    a.coalesce(1).write.parquet(str(src / "a"))
    b.coalesce(1).write.parquet(str(src / "b"))
    t = VersionedTable(str(tmp_path / "gold"), partition_col="pb")

    def run(ckpt):
        stream = (
            spark.readStream.schema(a.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        stream_merge_into(
            stream, t, ["id"], checkpoint_dir=str(tmp_path / ckpt), app_id="t"
        )

    run("ckpt1")
    assert _rows(t.read(spark)) == {1: "a", 2: "B", 3: "c"}
    v = t.latest_version()
    run("ckpt1")  # same checkpoint: nothing new to deliver
    assert t.latest_version() == v
    run("ckpt2")  # fresh checkpoint: batches re-delivered, txn-skipped
    assert t.latest_version() == v
    assert _rows(t.read(spark)) == {1: "a", 2: "B", 3: "c"}


def test_change_feed_classifies_and_prunes(spark, tmp_path):
    """insert/update tagged correctly; rewritten-but-identical rows stay
    OUT of the feed; untouched partitions aren't even read (their live
    pointers match, so they never enter the diff)."""
    t = VersionedTable(str(tmp_path / "t"), partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 0), (3, "c", 1)]))
    # merge touches only pb=0: update id=1, insert id=5, id=2 unchanged
    t.merge(spark, _mk(spark, [(1, "A", 0), (5, "e", 0), (2, "b", 0)]), ["id"])
    feed = {
        r["id"]: r["_change_type"]
        for r in t.read_changes(spark, ["id"], 1, 2).collect()
    }
    assert feed == {1: "update", 5: "insert"}  # 2 identical, 3 untouched


def test_change_feed_deletes_on_overwrite(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"), partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1)]))
    t.overwrite(_mk(spark, [(1, "a", 0)]))  # id=2 (and pb=1) gone
    feed = t.read_changes(spark, ["id"], 1, 2, include_deletes=True)
    got = {(r["id"], r["_change_type"]) for r in feed.collect()}
    assert got == {(2, "delete")}  # id=1 rewritten identical -> excluded


def test_scd2_apply_equals_rebuild(spark):
    """The incremental SCD2 invariant on real data: apply(late half)
    over build(early half) == build(everything)."""
    import pyspark.sql.functions as F

    from de_final_project_spark.plans.temporal import (
        _scd2_build,
        scd2_apply,
        user_value_scd2,
    )
    from de_final_project_spark.sources.readers import read_testdata

    sf = "/root/testdata/sf0.001"
    ev = read_testdata(spark, sf, "events").where(
        F.col("event_type") == "purchase"
    )
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)").alias("c")).first()["c"]
    base = _scd2_build(ev.where(F.col("ts") <= F.lit(cut)))
    out = scd2_apply(base, ev.where(F.col("ts") > F.lit(cut)))
    full = user_value_scd2(spark, sf)
    assert {tuple(r) for r in out.collect()} == {
        tuple(r) for r in full.collect()
    }
    # and some interval actually closed across the boundary
    closed = out.where(~F.col("is_current")).count()
    assert closed > 0


def test_scd2_apply_new_and_untouched_keys(spark):
    """A batch key unseen in history starts at version 1; keys with no
    batch events keep their open interval untouched."""
    import datetime as dt

    import pyspark.sql.functions as F

    from de_final_project_spark.plans.temporal import _scd2_build, scd2_apply

    def ev(rows):
        return spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, value double"
        )

    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 1, 2)
    base = _scd2_build(ev([(1, 10, t0, 5.0), (2, 11, t0, 7.0)]))
    out = scd2_apply(base, ev([(1, 20, t1, 6.0), (3, 21, t1, 9.0)]))
    rows = {(r.user_id, r.version): r for r in out.collect()}
    assert rows[(1, 1)].is_current is False and rows[(1, 1)].valid_to == t1
    assert rows[(1, 2)].is_current is True and rows[(1, 2)].value == 6.0
    assert rows[(3, 1)].is_current is True  # new key starts at version 1
    assert rows[(2, 1)].is_current is True and rows[(2, 1)].valid_to is None


def test_scd2_apply_split_point_invariance(spark):
    """Property: for ANY timestamp split point, build(early) + apply
    (late) == build(all). Exercises splits where some users have no
    early events (new-key path), no late events (untouched path), or
    both (close-and-extend path) — the sf-median test hits only one
    mix."""
    import datetime as dt

    import pyspark.sql.functions as F

    from de_final_project_spark.plans.temporal import _scd2_build, scd2_apply

    rows = []
    eid = 0
    for u in range(6):
        for k in range(u + 1):  # user u has u+1 events
            rows.append(
                (u, eid, dt.datetime(2024, 1, 1 + 2 * k, 12, 0, 0), float(10 * u + k))
            )
            eid += 1
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    full = {tuple(r) for r in _scd2_build(ev).collect()}
    for day in (1, 3, 5, 7, 9, 11):
        cut = dt.datetime(2024, 1, day, 23, 59, 59)
        base = _scd2_build(ev.where(F.col("ts") <= F.lit(cut)))
        late = ev.where(F.col("ts") > F.lit(cut))
        got = {tuple(r) for r in scd2_apply(base, late).collect()}
        assert got == full, f"diverged at split day {day}"


def test_first_commit_txn_is_idempotent(spark, table_factory):
    """The txn stamp must land IN the first commit's entry (not be
    stamped post-hoc onto a visible entry — ADVICE r6): a replay of
    batch 0 against a table whose very first commit carried the stamp
    is a no-op."""
    t = table_factory("t", partition_col="pb")
    v1 = t.merge(spark, _mk(spark, [(1, "a", 0)]), ["id"], txn=("app", 0))
    assert v1 == 1
    assert t._read_entry(1)["txn"] == {"app": 0}  # threaded, not rewritten
    v2 = t.merge(spark, _mk(spark, [(1, "GHOST", 0)]), ["id"], txn=("app", 0))
    assert v2 == 1  # replay skipped entirely
    assert _rows(t.read(spark)) == {1: "a"}


def test_merge_conflicts_with_concurrent_overwrite(spark, table_factory):
    """An intervening overwrite REPLACES the snapshot; a merge whose
    survivors were computed pre-overwrite must abort even though the
    partition sets look disjoint (overwrite's touched list only names
    partitions it kept — ADVICE r6). Rebasing would resurrect rows the
    overwrite dropped."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1)]))

    orig_stage = t._stage

    def stage_and_race(df):
        out = orig_stage(df)
        if not getattr(stage_and_race, "raced", False):
            stage_and_race.raced = True
            other = table_factory(t.path, partition_col="pb")
            other.overwrite(_mk(spark, [(9, "z", 3)]))  # drops pb 0 and 1
        return out

    t._stage = stage_and_race
    with pytest.raises(ConcurrentWriteError):
        t.merge(spark, _mk(spark, [(1, "A", 0)]), ["id"])
    # the overwrite's post-state is intact — nothing resurrected
    assert _rows(t.read(spark)) == {9: "z"}


class _CountingStore(txlog.LogStore):
    """Delegating store that counts per-blob reads/probes and listings."""

    def __init__(self, inner):
        self.inner = inner
        self.blob_ops = 0
        self.listings = 0

    def put_if_absent(self, name, data):
        return self.inner.put_if_absent(name, data)

    def put(self, name, data):
        self.inner.put(name, data)

    def read(self, name):
        self.blob_ops += 1
        return self.inner.read(name)

    def exists(self, name):
        self.blob_ops += 1
        return self.inner.exists(name)

    def list_names(self):
        self.listings += 1
        return self.inner.list_names()

    def delete(self, name):
        self.inner.delete(name)


def test_head_discovery_bounded_at_high_commit_count(tmp_path):
    """1,000 commits: latest_version() must cost O(1) reads + at most
    ~CHECKPOINT_INTERVAL existence probes via the _last_checkpoint
    pointer — never a full log listing or O(commits) reads (VERDICT r6
    item 7). Pure log-plane test, no Spark."""
    inner = ConditionalPutLogStore()
    t = VersionedTable(str(tmp_path / "t"), log_store=inner)
    for v in range(1, 1004):  # 3 commits past the last checkpoint at 1000
        assert t._try_commit(
            {"version": v, "op": "merge", "live": {}, "touched": [], "txn": {}}
        )
    counting = _CountingStore(inner)
    t2 = VersionedTable(str(tmp_path / "t"), log_store=counting)
    assert t2.latest_version() == 1003
    assert counting.listings == 0
    # pointer read + exists(1000..1004): bounded by the interval, not 1003
    assert counting.blob_ops <= txlog.CHECKPOINT_INTERVAL + 3
    # snapshot load under the delta codec: walk the suffix back to the
    # v1000 checkpoint anchor — each suffix step is one entry read plus
    # one checkpoint-existence probe, then the anchor's checkpoint read.
    # Bounded by ~2x the interval, never O(commits).
    before = counting.blob_ops
    t2._read_entry(t2.latest_version())
    assert counting.blob_ops <= before + 2 * txlog.CHECKPOINT_INTERVAL + 4


def test_vacuum_retention_protects_inflight_staging(spark, tmp_path):
    """A freshly staged (not yet committed) data dir is unreferenced but
    must survive a default-retention vacuum — deleting it would let the
    in-flight commit land with live pointers at deleted files (ADVICE
    r6). retention_seconds=0 opts into immediate GC when the caller
    knows no writer is concurrent."""
    t = VersionedTable(str(tmp_path / "t"), partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0)]))
    rel, _, _ = t._stage(_mk(spark, [(1, "INFLIGHT", 0)]))  # writer mid-commit
    assert t.vacuum(retain_versions=1) == []  # default 24h window: kept
    assert os.path.isdir(os.path.join(t.path, rel))
    removed = t.vacuum(retain_versions=1, retention_seconds=0)
    assert rel in removed


def test_drop_partitions_is_metadata_only(spark, table_factory):
    """Whole-partition delete writes NO data: the new entry just omits
    the dropped pointers; untouched partitions keep their exact
    pointers; old versions still read the data (time travel)."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1), (3, "c", 2)]))
    dirs_before = set(os.listdir(os.path.join(t.path, "data")))
    keep_ptr = t._read_entry(1)["live"]["0"]
    v = t.drop_partitions(["1", "2"])
    assert v == 2
    assert set(os.listdir(os.path.join(t.path, "data"))) == dirs_before
    e = t._read_entry(2)
    assert e["op"] == "delete" and e["touched"] == ["1", "2"]
    assert e["live"] == {"0": keep_ptr}
    assert _rows(t.read(spark)) == {1: "a"}
    assert _rows(t.read(spark, version=1)) == {1: "a", 2: "b", 3: "c"}


def test_delete_where_rewrites_only_touched_partitions(spark, table_factory):
    """Row-level delete: partitions with matching rows are rewritten
    without them; a fully-matching partition is dropped with no
    rewrite; untouched partitions keep their pointers; CDC surfaces
    the deletions."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(
        _mk(spark, [(1, "kill", 0), (2, "keep", 0), (3, "kill", 1), (4, "keep", 2)])
    )
    untouched = t._read_entry(1)["live"]["2"]
    v = t.delete_where(spark, "s = 'kill'")
    assert v == 2
    e = t._read_entry(2)
    assert e["op"] == "delete" and e["touched"] == ["0", "1"]
    assert "1" not in e["live"]  # pb=1 fully deleted: dropped, not rewritten
    assert e["live"]["2"] == untouched
    assert _rows(t.read(spark)) == {2: "keep", 4: "keep"}
    feed = t.read_changes(spark, ["id"], 1, 2, include_deletes=True)
    got = {(r["id"], r["_change_type"]) for r in feed.collect()}
    assert got == {(1, "delete"), (3, "delete")}
    # no-op predicate returns the current version, no new commit
    assert t.delete_where(spark, "s = 'absent'") == 2
    assert t.latest_version() == 2


def test_delete_where_unpartitioned_and_empty_table_read(spark, table_factory):
    t = table_factory("t")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1)]))
    v = t.delete_where(spark, "id = 1")
    assert _rows(t.read(spark)) == {2: "b"}
    v = t.delete_where(spark, "id = 2")  # last row gone -> live empty
    with pytest.raises(ValueError, match="no live data"):
        t.read(spark)
    # no row left to match: DML on the emptied head is a no-op
    assert t.delete_where(spark, "id = 1") == v
    assert t.update_where(spark, "id = 1", {"s": "'x'"}, mode="mor") == v
    assert _rows(t.read(spark, version=1)) == {1: "a", 2: "b"}  # time travel


def test_delete_where_null_predicate_keeps_rows(spark, table_factory):
    """SQL DELETE semantics: a predicate evaluating to NULL keeps the
    row. Regression for ADVICE r7 (high): `where(~cond)` silently
    dropped NULL-evaluating rows, but only in partitions that also had
    a TRUE match — partition-dependent data loss."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(
        _mk(
            spark,
            [(1, "kill", 0), (2, None, 0), (3, None, 1), (4, "keep", 1)],
        )
    )
    t.delete_where(spark, "s = 'kill'")
    # id=2 evaluates NULL in the rewritten partition 0 — must survive,
    # same as id=3's NULL in the untouched partition 1.
    assert _rows(t.read(spark)) == {2: None, 3: None, 4: "keep"}


def test_delete_where_candidate_partitions_bounds_probe(spark, table_factory):
    """candidate_partitions is the caller's proof of where matches
    live: the probe and rewrite read only those partitions."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "kill", 0), (2, "keep", 0), (3, "c", 2)]))
    untouched = t._read_entry(1)["live"]["2"]
    v = t.delete_where(spark, "s = 'kill'", candidate_partitions=["0"])
    assert v == 2
    assert t._read_entry(2)["touched"] == ["0"]
    assert t._read_entry(2)["live"]["2"] == untouched
    assert _rows(t.read(spark)) == {2: "keep", 3: "c"}
    # candidates naming only live-absent partitions: clean no-op
    assert t.delete_where(spark, "s = 'x'", candidate_partitions=["9"]) == 2


def test_update_where_rewrites_only_touched_partitions(spark, table_factory):
    """Row-level UPDATE: partitions with matched rows are rewritten with
    assignments applied to matched rows only; untouched partitions keep
    their pointers; CDC surfaces the changes, incl. pre/post images."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1), (3, "c", 2)]))
    untouched = t._read_entry(1)["live"]["2"]
    v = t.update_where(spark, "id <= 2", {"s": "upper(s)"})
    assert v == 2
    e = t._read_entry(2)
    assert e["op"] == "update" and e["touched"] == ["0", "1"]
    assert e["live"]["2"] == untouched
    assert _rows(t.read(spark)) == {1: "A", 2: "B", 3: "c"}
    # schema is stable across the update
    assert dict(t.read(spark).dtypes) == dict(t.read(spark, version=1).dtypes)
    feed = t.read_changes(spark, ["id"], 1, 2)
    assert {(r["id"], r["_change_type"]) for r in feed.collect()} == {
        (1, "update"),
        (2, "update"),
    }
    images = t.read_changes(
        spark, ["id"], 1, 2, include_update_preimages=True
    )
    got = {(r["id"], r["s"], r["_change_type"]) for r in images.collect()}
    assert got == {
        (1, "a", "update_preimage"),
        (1, "A", "update_postimage"),
        (2, "b", "update_preimage"),
        (2, "B", "update_postimage"),
    }
    # no-op predicate returns the current version, no new commit
    assert t.update_where(spark, "s = 'absent'", {"s": "'x'"}) == 2


def test_update_where_null_predicate_keeps_rows_unchanged(spark, table_factory):
    """SQL UPDATE semantics: NULL-evaluating rows do not change, even
    inside a rewritten partition."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "kill", 0), (2, None, 0)]))
    t.update_where(spark, "s = 'kill'", {"s": "'dead'"})
    assert _rows(t.read(spark)) == {1: "dead", 2: None}


def test_update_where_rejects_partition_column_assignment(spark, table_factory):
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0)]))
    with pytest.raises(ValueError, match="partition column"):
        t.update_where(spark, "id = 1", {"pb": "1"})
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_where(spark, "id = 1", {"nope": "'x'"})


def test_update_where_unpartitioned_and_time_travel(spark, table_factory):
    t = table_factory("t")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1)]))
    t.update_where(spark, "id = 1", {"s": "'A'"})
    assert _rows(t.read(spark)) == {1: "A", 2: "b"}
    assert _rows(t.read(spark, version=1)) == {1: "a", 2: "b"}


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_update_where_after_widen_column_stores_wide_values(
    spark, table_factory, mode
):
    """Assignments cast to the table's widened type, not to the narrow
    type of the files written before widen_column."""
    t = table_factory("t")
    t.overwrite(spark.createDataFrame([(1, 1), (2, 2)], "id long, v int"))
    t.widen_column(spark, "v", "bigint")
    t.update_where(spark, "id = 1", {"v": "5000000000"}, mode=mode)
    out = t.read(spark)
    assert dict(out.dtypes)["v"] == "bigint"
    assert {r["id"]: r["v"] for r in out.collect()} == {
        1: 5_000_000_000, 2: 2,
    }


def test_update_where_older_than_a_widening_matches_mor(spark, table_factory):
    """After a merge_schema=True widening, partition 0 still holds the
    narrow files. Assigning the added column to rows that live only
    there is an update of the table's schema: copy-on-write accepts it
    and lands the rows merge-on-read lands."""
    wide = "id long, s string, pb int, score double"
    got = {}
    for mode in ("cow", "mor"):
        t = table_factory(f"t_{mode}", partition_col="pb")
        t.overwrite(_mk(spark, [(1, "a", 0), (4, "d", 0), (2, "b", 1)]))
        t.merge(
            spark, spark.createDataFrame([(2, "B", 1, 9.5)], wide), ["id"],
            merge_schema=True,
        )
        t.update_where(spark, "id = 1", {"score": "1.5"}, mode=mode)
        got[mode] = {
            r["id"]: (r["s"], r["score"]) for r in t.read(spark).collect()
        }
    assert got["cow"] == got["mor"] == {
        1: ("a", 1.5), 2: ("B", 9.5), 4: ("d", None),
    }


def test_dml_rejects_an_unknown_mode_with_no_candidates(spark, table_factory):
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0)]))
    with pytest.raises(ValueError, match="mode 'bogus'"):
        t.delete_where(spark, "id = 1", candidate_partitions=[], mode="bogus")
    with pytest.raises(ValueError, match="mode 'bogus'"):
        t.update_where(
            spark, "id = 1", {"s": "'x'"}, candidate_partitions=[],
            mode="bogus",
        )
    assert t.latest_version() == 1


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_update_where_unknown_column_when_no_row_matches(
    spark, table_factory, mode
):
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0)]))
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_where(spark, "id = 99", {"nope": "'x'"}, mode=mode)
    assert t.latest_version() == 1


def test_merge_rebases_over_disjoint_update(spark, table_factory):
    """An update names every partition it touched, so a concurrent
    merge on DISJOINT partitions rebases over it."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1)]))

    orig_stage = t._stage

    def stage_and_race(df):
        out = orig_stage(df)
        if not getattr(stage_and_race, "raced", False):
            stage_and_race.raced = True
            other = table_factory(t.path, partition_col="pb")
            other.update_where(spark, "id = 2", {"s": "'B2'"})
        return out

    t._stage = stage_and_race
    v = t.merge(spark, _mk(spark, [(1, "A", 0)]), ["id"])
    assert v == 3  # rebased over the update at v2
    assert _rows(t.read(spark)) == {1: "A", 2: "B2"}


def test_concurrent_overlapping_update_aborts(spark, table_factory):
    """An update racing a merge on the SAME partition conflicts."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0)]))

    orig_stage = t._stage

    def stage_and_race(df):
        out = orig_stage(df)
        if not getattr(stage_and_race, "raced", False):
            stage_and_race.raced = True
            other = table_factory(t.path, partition_col="pb")
            other.merge(spark, _mk(spark, [(1, "THEIRS", 0)]), ["id"])
        return out

    t._stage = stage_and_race
    with pytest.raises(ConcurrentWriteError):
        t.update_where(spark, "id = 1", {"s": "'MINE'"})
    assert _rows(t.read(spark)) == {1: "THEIRS"}


def test_vacuumed_entry_mid_rebase_is_concurrent_write_error(
    spark, table_factory
):
    """A vacuum that drops an intervening log entry while a writer is
    rebasing must surface as ConcurrentWriteError (retryable), not a
    raw FileNotFoundError (ADVICE r7)."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1)]))

    orig_stage = t._stage

    def stage_race_and_vacuum(df):
        out = orig_stage(df)
        if not getattr(stage_race_and_vacuum, "raced", False):
            stage_race_and_vacuum.raced = True
            other = table_factory(t.path, partition_col="pb")
            other.merge(spark, _mk(spark, [(2, "B2", 1)]), ["id"])  # v2
            other.merge(spark, _mk(spark, [(2, "B3", 1)]), ["id"])  # v3
            # vacuum-style log trim: v2's entry disappears mid-scan
            t._store.delete(t._entry_name(2))
        return out

    t._stage = stage_race_and_vacuum
    with pytest.raises(ConcurrentWriteError, match="vacuumed"):
        t.merge(spark, _mk(spark, [(1, "A", 0)]), ["id"])


def test_change_feed_per_version_in_commit_order(spark, table_factory):
    """``read_changes(v-1, v)`` over each version in commit order is
    that version's batch — the per-version replay
    scd2_from_change_stream folds."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0)]))                      # v1
    t.merge(spark, _mk(spark, [(2, "b", 1)]), ["id"])            # v2
    t.merge(spark, _mk(spark, [(1, "A", 0), (3, "c", 2)]), ["id"])  # v3
    seen = {
        v: {
            (r["id"], r["_change_type"])
            for r in t.read_changes(
                spark, ["id"], v - 1, v, include_deletes=True
            ).collect()
        }
        for v in (2, 3)
    }
    assert seen[2] == {(2, "insert")}
    assert seen[3] == {(1, "update"), (3, "insert")}


def test_merge_rebases_over_disjoint_delete(spark, table_factory):
    """A delete names every partition it touched, so a concurrent merge
    on DISJOINT partitions rebases over it (unlike overwrite/compact,
    which conflict)."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1)]))

    orig_stage = t._stage

    def stage_and_race(df):
        out = orig_stage(df)
        if not getattr(stage_and_race, "raced", False):
            stage_and_race.raced = True
            other = table_factory(t.path, partition_col="pb")
            other.drop_partitions(["1"])
        return out

    t._stage = stage_and_race
    v = t.merge(spark, _mk(spark, [(1, "A", 0)]), ["id"])
    assert v == 3  # rebased over the delete at v2
    assert _rows(t.read(spark)) == {1: "A"}  # pb=1 stays deleted


def test_read_as_of_timestamp(spark, table_factory):
    """Delta-style timestampAsOf: a wall-clock time resolves to the
    newest commit at or before it; asking before the first retained
    commit raises; asking after head reads head."""
    import time as _time

    t = table_factory("t", partition_col="pb")
    before_any = _time.time() - 1.0
    t.overwrite(_mk(spark, [(1, "a", 0)]))
    between = _time.time()
    _time.sleep(0.05)
    t.merge(spark, _mk(spark, [(1, "A", 0), (2, "b", 1)]), ["id"])
    assert t.version_as_of(between) == 1
    assert _rows(t.read_as_of(spark, between)) == {1: "a"}
    assert _rows(t.read_as_of(spark, _time.time())) == {1: "A", 2: "b"}
    with pytest.raises(ValueError, match="no retained commit"):
        t.version_as_of(before_any)


def test_merge_schema_evolution(spark, table_factory):
    """Delta-style additive schema evolution: a delta with a new column
    fails loudly by default, widens the table with merge_schema=True
    (old partitions' files null-fill on read — no historical rewrite),
    time travel still reads the narrow pre-evolution schema, and the
    change feed crosses the boundary with typed null pre-images."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1)]))
    wide = spark.createDataFrame(
        [(2, "B", 1, 9.5)], "id long, s string, pb int, score double"
    )
    with pytest.raises(ValueError, match="merge_schema=True"):
        t.merge(spark, wide, ["id"])
    v = t.merge(spark, wide, ["id"], merge_schema=True)
    got = {r["id"]: (r["s"], r["score"]) for r in t.read(spark).collect()}
    # untouched partition 0 null-fills; touched partition's survivor too
    assert got == {1: ("a", None), 2: ("B", 9.5)}
    assert dict(t.read(spark).dtypes)["score"] == "double"
    # pre-evolution version still reads its own narrow schema
    assert "score" not in t.read(spark, version=1).columns
    feed = t.read_changes(spark, ["id"], 1, v)
    assert {(r["id"], r["_change_type"]) for r in feed.collect()} == {
        (2, "update")
    }
    # a later full-width merge keeps the wide schema
    t.merge(spark, wide.select("id", "s", "pb", "score"), ["id"])
    assert dict(t.read(spark).dtypes)["score"] == "double"
    # ...and a NARROW delta (missing an existing column) fails loudly
    # instead of silently narrowing the table for rewritten partitions
    with pytest.raises(ValueError, match="missing table columns"):
        t.merge(spark, _mk(spark, [(1, "z", 0)]), ["id"])


def test_read_as_of_after_vacuum(spark, tmp_path):
    """Timestamp resolution only sees RETAINED versions: once vacuum
    drops old entries, a pre-history timestamp raises cleanly instead
    of resolving to a version whose files are gone."""
    import time as _time

    t = VersionedTable(str(tmp_path / "t"), partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0)]))
    after_v1 = _time.time()
    _time.sleep(0.05)
    t.overwrite(_mk(spark, [(1, "A", 0)]))
    t.vacuum(retain_versions=1, retention_seconds=0)
    with pytest.raises(ValueError, match="no retained commit"):
        t.version_as_of(after_v1)
    assert _rows(t.read_as_of(spark, _time.time())) == {1: "A"}


# ------------------------------------------------------------- data skipping

def _range_df(spark, n=400):
    return spark.range(0, n).selectExpr(
        "id AS k",
        "CAST(id % 4 AS INT) AS pb",
        "concat('s', CAST(id % 10 AS STRING)) AS s",
        "date_add(DATE '2024-01-01', CAST(id % 60 AS INT)) AS d",
        "CAST(id AS DOUBLE) * 0.5 AS v",
    )


def test_parse_conjuncts_shapes():
    """The prunable-conjunct parser: col-op-literal conjuncts extracted,
    everything else ignored, quoted text unable to forge a conjunct."""
    p = txlog._parse_conjuncts
    assert p("k <= 250") == [("k", "<=", 250)]
    assert p("k <= 250 AND v > 1.5") == [("k", "<=", 250), ("v", ">", 1.5)]
    assert p("d >= '2024-03-01'") == [("d", ">=", "2024-03-01")]
    assert p("`k` = 3") == [("k", "=", 3)]
    # OR trees, functions, reversed operands: no pruning evidence
    assert p("k = 1 OR k = 2") == []
    assert p("abs(k) < 5") == []
    assert p("5 > k") == []
    # a string literal containing AND / comparison text is inert
    assert p("s = 'x AND k > 500'") == [("s", "=", "x AND k > 500")]
    assert p("s = 'a AND b' AND k < 9") == [
        ("s", "=", "a AND b"),
        ("k", "<", 9),
    ]


def test_stats_skipping_prunes_files_and_matches_full_scan(
    spark, table_factory
):
    """A range-laid-out table (disjoint per-file min/max) skips the
    files outside the predicate range from LOG METADATA, and the pruned
    read returns exactly what a full scan + filter returns."""
    t = table_factory("t", stats_cols=["k", "d", "s"])
    t.overwrite(_range_df(spark).repartitionByRange(8, "k"))
    rep = t.prune_report("k <= 100")
    assert rep["files_total"] == 8
    assert 0 < rep["files_scanned"] <= 3
    assert rep["dirs_without_stats"] == 0
    for where in ["k <= 100", "k > 350 AND v >= 0.0", "s = 's3'",
                  "d >= '2024-02-20'"]:
        got = sorted(r["k"] for r in t.read(spark, where=where).collect())
        want = sorted(
            r["k"] for r in t.read(spark).where(where).collect()
        )
        assert got == want, where


def test_stats_skipping_conservative_on_unparsable_predicate(
    spark, table_factory
):
    """OR / function predicates produce no pruning evidence: every file
    scans and the result is still exact."""
    t = table_factory("t", stats_cols=["k"])
    t.overwrite(_range_df(spark).repartitionByRange(8, "k"))
    rep = t.prune_report("k <= 10 OR k > 390")
    assert rep["files_scanned"] == rep["files_total"]
    got = {r["k"] for r in t.read(spark, where="k <= 10 OR k > 390").collect()}
    assert got == set(range(11)) | set(range(391, 400))


def test_stats_skipping_quoted_text_cannot_forge_pruning(
    spark, table_factory
):
    """A string literal containing comparison-shaped text ('AND k > 500')
    must not be parsed as a conjunct — if it were, every file would be
    pruned and these rows lost."""
    t = table_factory("t", stats_cols=["k", "s"])
    df = spark.range(0, 50).selectExpr(
        "id AS k", "'x AND k > 500' AS s", "CAST(id % 4 AS INT) AS pb"
    )
    t.overwrite(df.repartitionByRange(4, "k"))
    got = t.read(spark, where="s = 'x AND k > 500'").count()
    assert got == 50


def test_stats_skipping_partition_and_file_pruning_compose(
    spark, table_factory
):
    """A conjunct on the partition column drops whole partitions from
    the live map; range conjuncts then drop files inside the survivor."""
    t = table_factory("t", partition_col="pb", stats_cols=["k"])
    df = _range_df(spark)
    t.overwrite(df.where("k < 200").repartitionByRange(4, "k"))
    t.merge(spark, df.where("k >= 200").repartitionByRange(4, "k"), ["k"])
    rep = t.prune_report("pb = 2 AND k >= 300")
    assert rep["partitions_scanned"] == 1
    assert rep["partitions_total"] == 4
    assert rep["files_scanned"] < rep["files_total"]
    got = sorted(
        r["k"] for r in t.read(spark, where="pb = 2 AND k >= 300").collect()
    )
    assert got == [k for k in range(300, 400) if k % 4 == 2]


def test_stats_skipping_all_pruned_returns_empty_with_schema(
    spark, table_factory
):
    t = table_factory("t", stats_cols=["k"])
    t.overwrite(_range_df(spark).repartitionByRange(4, "k"))
    out = t.read(spark, where="k > 1000000")
    assert out.count() == 0
    assert out.columns == ["k", "pb", "s", "d", "v"]


def test_stats_skipping_pre_stats_commits_scan_conservatively(
    spark, table_factory
):
    """Commits written before stats were enabled have no file lists:
    their pointers scan whole dirs (dirs_without_stats accounts them)
    and results stay exact across the mixed snapshot."""
    old = table_factory("t", partition_col="pb")  # no stats
    df = _range_df(spark)
    old.overwrite(df.where("k < 200"))
    t = table_factory("t", partition_col="pb", stats_cols=["k"])
    # touches only partition 0, so partitions 1-3 keep stats-less pointers
    t.merge(spark, df.where("k >= 200 AND k % 4 = 0"), ["k"])
    rep = t.prune_report("k >= 390")
    assert rep["dirs_without_stats"] == 3
    got = sorted(r["k"] for r in t.read(spark, where="k >= 150").collect())
    assert got == sorted(
        list(range(150, 200)) + [k for k in range(200, 400) if k % 4 == 0]
    )


def test_stats_survive_row_level_dml(spark, table_factory):
    """delete_where/update_where rewrites re-harvest stats for the new
    files, so skipping keeps working after DML."""
    t = table_factory("t", partition_col="pb", stats_cols=["k"])
    t.overwrite(_range_df(spark))
    t.delete_where(spark, "k % 7 = 0")
    t.update_where(spark, "k % 5 = 0", {"v": "v * 2"})
    live = t._read_entry(t.latest_version())["live"]
    assert all("files" in e for e in live.values())
    got = sorted(r["k"] for r in t.read(spark, where="k <= 50").collect())
    assert got == [k for k in range(51) if k % 7 != 0]


def test_compact_cluster_by_enables_skipping(spark, tmp_path):
    """The OPTIMIZE synergy: a hash-scattered layout gives every file
    the full value range (skipping proves nothing); compact(cluster_by)
    rewrites into range-disjoint files and the SAME predicate then
    prunes most of them — layout as part of the plan, measured through
    the log's own accounting."""
    t = VersionedTable(str(tmp_path / "t"), stats_cols=["k"])
    t.overwrite(_range_df(spark, 2000).repartition(8))  # scattered
    before = t.prune_report("k < 100")
    assert before["files_scanned"] == before["files_total"]
    t.compact(spark, cluster_by=["k"])
    after = t.prune_report("k < 100")
    assert after["files_scanned"] <= max(1, after["files_total"] // 4)
    got = t.read(spark, where="k < 100").count()
    assert got == 100


# --------------------------------------------------------------- constraints

def _vk(spark, rows):
    return spark.createDataFrame(rows, "id long, v double, pb int")


def test_check_constraint_rejects_before_commit(spark, table_factory):
    """A violating batch fails the staging write — no log entry, table
    bit-identical, and the next valid commit just works (atomicity
    makes rejection cleanup-free)."""
    t = table_factory("t", constraints={"v_nonneg": "v >= 0"})
    t.overwrite(_vk(spark, [(1, 1.0, 0)]))
    with pytest.raises(txlog.ConstraintViolationError, match="v_nonneg"):
        t.overwrite(_vk(spark, [(2, -1.0, 0)]))
    assert t.latest_version() == 1
    assert t.read(spark).count() == 1
    t.merge(spark, _vk(spark, [(2, 2.0, 0)]), ["id"])
    assert t.read(spark).count() == 2


def test_not_null_constraint(spark, table_factory):
    t = table_factory("t", not_null=["id"])
    t.overwrite(_vk(spark, [(1, 1.0, 0)]))
    with pytest.raises(txlog.ConstraintViolationError, match="NOT NULL"):
        t.merge(spark, _vk(spark, [(None, 1.0, 0)]), ["id"])
    assert t.latest_version() == 1


def test_check_constraint_null_is_allowed(spark, table_factory):
    """SQL/Delta CHECK semantics: NULL evaluation is unknown, not a
    violation — only FALSE rejects."""
    t = table_factory("t", constraints={"v_nonneg": "v >= 0"})
    t.overwrite(_vk(spark, [(1, None, 0)]))
    assert t.read(spark).count() == 1


def test_constraints_are_sticky_across_handles(spark, table_factory):
    """Committed constraints bind every later writer, including one
    whose handle was opened without them — one producer forgetting the
    config cannot break another producer's contract."""
    t = table_factory("t", constraints={"v_nonneg": "v >= 0"})
    t.overwrite(_vk(spark, [(1, 1.0, 0)]))
    t2 = table_factory("t")  # no constraint args
    with pytest.raises(txlog.ConstraintViolationError, match="v_nonneg"):
        t2.overwrite(_vk(spark, [(2, -3.0, 0)]))
    # ...and the entry it eventually commits re-records the contract
    t2.merge(spark, _vk(spark, [(3, 3.0, 0)]), ["id"])
    assert t2.history()[-1]["constraints"] == {"v_nonneg": "v >= 0"}


def test_update_where_cannot_violate_constraints(spark, table_factory):
    t = table_factory("t", constraints={"v_nonneg": "v >= 0"})
    t.overwrite(_vk(spark, [(1, 5.0, 0), (2, 1.0, 0)]))
    with pytest.raises(txlog.ConstraintViolationError):
        t.update_where(spark, "id = 2", {"v": "v - 10"})
    assert {r["v"] for r in t.read(spark).collect()} == {5.0, 1.0}


# ---------------------------------------------------------------- merge_into

def _mi(spark, rows):
    return spark.createDataFrame(rows, "id long, v double, tag string, pb int")


def test_merge_into_full_when_grammar(spark, table_factory):
    """UPDATE-when / DELETE-when / INSERT-when in one commit, Delta's
    in-order clause precedence (update evaluated before delete), with
    untouched-partition pointers preserved byte-identical."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(
        _mi(
            spark,
            [
                (1, 10.0, "keep", 0),
                (2, 5.0, "old", 0),
                (3, 1.0, "kill", 1),
                (4, 2.0, "x", 1),
                (9, 9.0, "iso", 2),
            ],
        )
    )
    v = t.merge_into(
        spark,
        _mi(
            spark,
            [
                (2, 50.0, "new", 0),   # s.v > t.v -> update
                (3, 0.0, "del", 1),    # t.tag kill -> delete
                (4, 1.0, "low", 1),    # no clause -> keep target
                (7, 7.0, "ins", 0),    # unmatched -> insert
                (8, -1.0, "neg", 1),   # unmatched, fails insert cond
            ],
        ),
        ["id"],
        matched_update={"v": "s.v", "tag": "concat('u:', s.tag)"},
        matched_update_condition="s.v > t.v",
        matched_delete_condition="t.tag = 'kill'",
        insert_condition="s.v >= 0",
    )
    assert v == 2
    got = {r["id"]: (r["v"], r["tag"]) for r in t.read(spark).collect()}
    assert got == {
        1: (10.0, "keep"),
        2: (50.0, "u:new"),
        4: (2.0, "x"),
        7: (7.0, "ins"),
        9: (9.0, "iso"),
    }
    # partition 2 (user 9) was never touched: original pointer survives
    assert (
        t._read_entry(2)["live"]["2"] == t._read_entry(1)["live"]["2"]
    )
    assert t.history()[-1]["op"] == "merge"


def test_merge_into_null_condition_keeps_row(spark, table_factory):
    """A WHEN condition evaluating NULL is NOT satisfied — the matched
    row is neither updated nor deleted (the delete_where NULL lesson
    applied to clause conditions)."""
    t = table_factory("t")
    t.overwrite(_mi(spark, [(1, 5.0, "a", 0)]))
    t.merge_into(
        spark,
        _mi(spark, [(1, None, "b", 0)]),
        ["id"],
        matched_update={"v": "s.v"},
        matched_update_condition="s.v > t.v",      # NULL -> unknown
        matched_delete_condition="s.v < t.v",      # NULL -> unknown
    )
    got = t.read(spark).collect()
    assert [(r["id"], r["v"], r["tag"]) for r in got] == [(1, 5.0, "a")]


def test_merge_into_unconditional_delete_drops_partition(
    spark, table_factory
):
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mi(spark, [(1, 1.0, "a", 0), (2, 2.0, "b", 1)]))
    t.merge_into(
        spark,
        _mi(spark, [(2, 0.0, "z", 1)]),
        ["id"],
        matched_delete_condition=True,
        insert_unmatched=False,
    )
    assert {r["id"] for r in t.read(spark).collect()} == {1}
    # every row of partition 1 deleted: pointer dropped, zero rewrite
    assert "1" not in t._read_entry(t.latest_version())["live"]


def test_merge_into_first_commit_and_txn_idempotent(spark, table_factory):
    t = table_factory("t")
    v = t.merge_into(spark, _mi(spark, [(1, 1.0, "a", 0)]), ["id"], txn=("app", 1))
    assert v == 1
    # same txn seq replays as a no-op even with a different payload
    v2 = t.merge_into(
        spark,
        _mi(spark, [(1, 99.0, "b", 0)]),
        ["id"],
        matched_update={"v": "s.v"},
        txn=("app", 1),
    )
    assert v2 == 1
    assert t.read(spark).collect()[0]["v"] == 1.0


def test_merge_into_respects_constraints_and_stats(spark, table_factory):
    """merge_into writes flow through the same staging pass: committed
    constraints reject a violating UPDATE, and the rewritten files
    carry skipping stats."""
    t = table_factory(
        "t", constraints={"v_nonneg": "v >= 0"}, stats_cols=["v"]
    )
    t.overwrite(_mi(spark, [(1, 5.0, "a", 0), (2, 3.0, "b", 0)]))
    with pytest.raises(txlog.ConstraintViolationError):
        t.merge_into(
            spark,
            _mi(spark, [(1, 0.0, "x", 0)]),
            ["id"],
            matched_update={"v": "t.v - 100"},
        )
    v = t.merge_into(
        spark,
        _mi(spark, [(2, 30.0, "B", 0)]),
        ["id"],
        matched_update={"v": "s.v"},
    )
    live = t._read_entry(v)["live"]
    assert all("files" in e for e in live.values())


def test_merge_into_rejects_schema_drift_and_partition_assignment(
    spark, table_factory
):
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mi(spark, [(1, 1.0, "a", 0)]))
    with pytest.raises(ValueError, match="exactly the table columns"):
        t.merge_into(
            spark,
            _mi(spark, [(1, 2.0, "b", 0)]).withColumn("extra", F.lit(1)),
            ["id"],
        )
    with pytest.raises(ValueError, match="partition column"):
        t.merge_into(
            spark,
            _mi(spark, [(1, 2.0, "b", 0)]),
            ["id"],
            matched_update={"pb": "s.pb + 1"},
        )


def test_compact_zorder_bounds_every_dimension(spark, tmp_path):
    """Lexicographic cluster_by indexes only its LEADING column — a
    predicate on the trailing dimension scans every file. zorder_by
    Morton-interleaves both, so the same stats-skipping read prunes on
    EITHER dimension — the measurable difference between a sort and a
    z-order, read off the log's own accounting."""
    t = VersionedTable(str(tmp_path / "t"), stats_cols=["a", "b"])
    # a and b must be INDEPENDENT dimensions (a modular-arithmetic pair
    # would make b a function of a, and a sort on a would accidentally
    # index b too): a walks the range, b is a hash of the row id.
    df = spark.range(40_000).select(
        (F.col("id") % 1000).alias("a"),
        (F.abs(F.hash(F.col("id"))) % 1000).alias("b"),
        F.col("id").alias("k"),
    )
    t.overwrite(df.repartition(8))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        t.compact(spark, cluster_by=["a"])
        lex_a = t.prune_report("a < 100")
        lex_b = t.prune_report("b < 100")
        t.compact(spark, zorder_by=["a", "b"])
        z_a = t.prune_report("a < 100")
        z_b = t.prune_report("b < 100")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    # the sort indexes a...
    assert lex_a["files_scanned"] <= lex_a["files_total"] // 4
    # ...but b spans every file
    assert lex_b["files_scanned"] == lex_b["files_total"]
    # z-order bounds BOTH
    assert z_a["files_scanned"] <= z_a["files_total"] // 2
    assert z_b["files_scanned"] <= z_b["files_total"] // 2
    # and the data is untouched by either rewrite: pruned reads equal
    # full-scan filters
    assert t.read(spark, where="a < 100").count() == 4000
    assert (
        t.read(spark, where="b < 100").count()
        == t.read(spark).where("b < 100").count()
    )
    with pytest.raises(ValueError, match="not both"):
        t.compact(spark, cluster_by=["a"], zorder_by=["b"])


def test_stream_merge_respects_constraints_without_advancing(
    spark, tmp_path
):
    """A poisoned micro-batch fails the streaming MERGE sink BEFORE any
    log commit: the query errors, the table is unchanged, and because
    the checkpoint never advanced past the bad epoch, a retry with a
    fixed transform re-delivers and lands the repaired rows — the ops
    story for a constrained gold table fed by a stream."""
    from de_final_project_spark.streaming.pipeline import stream_merge_into

    src = tmp_path / "replay"
    good = spark.createDataFrame([(1, 5.0, 0)], "id long, v double, pb int")
    bad = spark.createDataFrame([(2, -7.0, 1)], "id long, v double, pb int")
    good.coalesce(1).write.parquet(str(src / "a"))
    bad.coalesce(1).write.parquet(str(src / "b"))
    t = VersionedTable(
        str(tmp_path / "gold"),
        partition_col="pb",
        constraints={"v_nonneg": "v >= 0"},
    )

    def run(transform=None):
        stream = (
            spark.readStream.schema(good.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        stream_merge_into(
            stream,
            t,
            ["id"],
            checkpoint_dir=str(tmp_path / "ckpt"),
            app_id="t",
            transform=transform,
        )

    with pytest.raises(Exception, match="CONSTRAINT"):
        run()
    # good batch may have landed; poisoned one did not
    got = {r["id"] for r in t.read(spark).collect()}
    assert 2 not in got
    # retry quarantining violations: the bad epoch re-delivers (its
    # checkpoint never advanced) and now commits its clean subset
    run(transform=lambda df: df.where(F.col("v") >= 0))
    assert {r["id"] for r in t.read(spark).collect()} == {1}


# ---------------------------------------------------------- generated columns

def test_generated_column_materialized_and_validated(spark, table_factory):
    """A writer omitting the generated partition column gets it computed
    from the table's definition; a writer supplying a DISAGREEING value
    is rejected; a correct supplied value passes. Sticky across handles
    like constraints."""
    t = table_factory(
        "t", partition_col="pb", generated={"pb": "cast(id % 4 as int)"}
    )
    bare = spark.createDataFrame([(1, "a"), (6, "b")], "id long, s string")
    t.overwrite(bare)  # pb derived: 1 -> 1, 6 -> 2
    got = {r["id"]: r["pb"] for r in t.read(spark).collect()}
    assert got == {1: 1, 6: 2}
    # a merge from a handle WITHOUT the definition still derives it
    t2 = table_factory("t", partition_col="pb")
    t2.merge(spark, spark.createDataFrame([(9, "c")], "id long, s string"), ["id"])
    assert {r["id"]: r["pb"] for r in t2.read(spark).collect()}[9] == 1
    # supplying the column with the RIGHT values is fine
    ok = spark.createDataFrame([(4, "d", 0)], "id long, s string, pb int")
    t.merge(spark, ok, ["id"])
    # ...and with WRONG values is a constraint violation, not silent skew
    bad = spark.createDataFrame([(5, "e", 3)], "id long, s string, pb int")
    with pytest.raises(txlog.ConstraintViolationError, match="GENERATED"):
        t.merge(spark, bad, ["id"])
    assert t.history()[-1]["generated"] == {"pb": "cast(id % 4 as int)"}


def test_generated_column_in_merge_into(spark, table_factory):
    t = table_factory(
        "t", partition_col="pb", generated={"pb": "cast(id % 2 as int)"}
    )
    t.overwrite(spark.createDataFrame([(1, 1.0)], "id long, v double"))
    t.merge_into(
        spark,
        spark.createDataFrame([(1, 9.0), (2, 2.0)], "id long, v double"),
        ["id"],
        matched_update={"v": "s.v"},
    )
    got = {r["id"]: (r["v"], r["pb"]) for r in t.read(spark).collect()}
    assert got == {1: (9.0, 1), 2: (2.0, 0)}


# ------------------------------------------------------------- bloom indexes

def _doc_df(spark, n=8000):
    return spark.range(n).select(
        F.concat(
            F.lit("doc-"),
            F.format_string("%05d", (F.col("id") * 7919) % 100000),
        ).alias("doc_id"),
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("pb"),
    )


def test_bloom_index_point_lookup_skips_files(spark, table_factory):
    """On a scattered high-cardinality column, min/max stats prove
    nothing — the per-file Bloom index is what turns a point lookup
    into a near-single-file scan. Both string and long columns."""
    t = table_factory("t", bloom_cols=["doc_id", "k"])
    df = _doc_df(spark)
    t.overwrite(df.repartition(8))
    val = df.where("k = 1234").first()["doc_id"]
    # without spark there is no hash job, hence no bloom pruning
    assert (
        t.prune_report(f"doc_id = '{val}'")["files_scanned"] == 8
    )
    rep = t.prune_report(f"doc_id = '{val}'", spark=spark)
    assert rep["files_scanned"] <= 2
    got = t.read(spark, where=f"doc_id = '{val}'").collect()
    assert [(r["doc_id"], r["k"]) for r in got] == [(val, 1234)]
    rep_k = t.prune_report("k = 4321", spark=spark)
    assert rep_k["files_scanned"] <= 2
    assert t.read(spark, where="k = 4321").count() == 1
    # the bloom pass reads the staged files at the staged frame's
    # schema: the first bloom column costs the jobs every further one
    # does, with no job re-reading the files to learn their types
    def staging_jobs(cols):
        u = table_factory(f"jobs{len(cols)}", bloom_cols=cols)
        return _jobs_fired(spark, lambda: u.overwrite(df.repartition(8)))[0]

    none, one, two = map(staging_jobs, ([], ["doc_id"], ["doc_id", "k"]))
    assert one - none == two - one > 0


def test_bloom_index_never_false_negative(spark, table_factory):
    """The membership contract: EVERY present value must survive
    pruning (the lookup literal is hashed by Spark's own xxhash64, so a
    divergent reimplementation cannot sneak in a wrong skip). Absent
    values may prune to zero files and return empty."""
    t = table_factory("t", bloom_cols=["doc_id"])
    df = _doc_df(spark, 2000)
    t.overwrite(df.repartition(8))
    sample = [r["doc_id"] for r in df.where("k % 97 = 0").collect()]
    assert len(sample) >= 20
    for v in sample:
        assert t.read(spark, where=f"doc_id = '{v}'").count() >= 1, v
    assert t.read(spark, where="doc_id = 'doc-xxxxx'").count() == 0


def test_bloom_index_on_merge_commits(spark, table_factory):
    """Delta commits carry blooms too, and pruning works across a
    mixed multi-commit live map."""
    t = table_factory("t", partition_col="pb", bloom_cols=["doc_id"])
    df = _doc_df(spark)
    t.overwrite(df.where("k < 4000"))
    t.merge(spark, df.where("k >= 4000"), ["doc_id"])
    val_new = df.where("k = 7777").first()["doc_id"]
    rep = t.prune_report(f"doc_id = '{val_new}'", spark=spark)
    assert rep["files_scanned"] < rep["files_total"]
    got = t.read(spark, where=f"doc_id = '{val_new}'").collect()
    assert any(r["k"] == 7777 for r in got)


# -------------------------------------------------------------------- restore

def test_restore_rolls_back_metadata_only(spark, table_factory):
    """RESTORE commits the old version's live map as a NEW entry: the
    bad commits stay in history for forensics, no data moves, and the
    table continues (merges land on the restored state)."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "good", 0), (2, "good", 1)]))
    t.merge(spark, _mk(spark, [(1, "BAD", 0), (3, "BAD", 2)]), ["id"])
    v = t.restore(1)
    assert v == 3
    assert _rows(t.read(spark)) == {1: "good", 2: "good"}
    assert t.history()[-1]["op"] == "restore"
    assert t.history()[-1]["restored_from"] == 1
    # the bad version is still time-travelable
    assert _rows(t.read(spark, version=2))[1] == "BAD"
    # live pointers are the v1 pointers verbatim — zero data IO
    assert t._read_entry(3)["live"] == t._read_entry(1)["live"]
    t.merge(spark, _mk(spark, [(4, "d", 0)]), ["id"])
    assert _rows(t.read(spark)) == {1: "good", 2: "good", 4: "d"}


def test_restore_refuses_vacuumed_target(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"), partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0)]))
    t.overwrite(_mk(spark, [(1, "b", 0)]))
    t.overwrite(_mk(spark, [(1, "c", 0)]))
    t.vacuum(retain_versions=1, retention_seconds=0)
    with pytest.raises(FileNotFoundError):
        t.restore(1)
    assert _rows(t.read(spark)) == {1: "c"}


# ---------------------------------------------------------------- clone

def test_shallow_clone_zero_copy_then_copy_on_write(spark, tmp_path):
    """A clone reads the source's files through one metadata entry (no
    data under the clone), diverges copy-on-write on its own writes,
    and neither table's later commits leak into the other."""
    src = VersionedTable(str(tmp_path / "src"), partition_col="pb")
    src.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1)]))
    cl = src.clone_to(str(tmp_path / "cl"))
    assert _rows(cl.read(spark)) == {1: "a", 2: "b"}
    # zero-copy: nothing but the (empty) data root under the clone
    assert os.listdir(str(tmp_path / "cl" / "data")) == []
    assert cl.history()[0]["op"] == "clone"
    assert cl.history()[0]["cloned_from"]["version"] == 1
    # clone writes stay in the clone...
    cl.merge(spark, _mk(spark, [(2, "CLONE", 1), (3, "c", 2)]), ["id"])
    assert _rows(cl.read(spark)) == {1: "a", 2: "CLONE", 3: "c"}
    assert _rows(src.read(spark)) == {1: "a", 2: "b"}
    # ...and only touched partitions got clone-local files; partition 0
    # still reads the source's file
    live = cl._read_entry(cl.latest_version())["live"]
    assert live["0"]["commit_dir"].startswith(str(tmp_path / "src"))
    assert not live["1"]["commit_dir"].startswith(str(tmp_path / "src"))
    # source writes stay in the source
    src.merge(spark, _mk(spark, [(1, "SRC", 0)]), ["id"])
    assert _rows(cl.read(spark))[1] == "a"
    # clone's vacuum cannot touch source files
    cl.compact(spark)
    removed = cl.vacuum(retain_versions=1, retention_seconds=0)
    assert all("src" not in r for r in removed)
    assert _rows(src.read(spark)) == {1: "SRC", 2: "b"}


def test_clone_carries_constraints_and_refuses_nonempty_dest(
    spark, tmp_path
):
    src = VersionedTable(
        str(tmp_path / "src"), constraints={"v_nonneg": "v >= 0"}
    )
    src.overwrite(
        spark.createDataFrame([(1, 1.0)], "id long, v double")
    )
    cl = src.clone_to(str(tmp_path / "cl"))
    with pytest.raises(txlog.ConstraintViolationError):
        cl.overwrite(
            spark.createDataFrame([(2, -1.0)], "id long, v double")
        )
    with pytest.raises(ValueError, match="not empty"):
        src.clone_to(str(tmp_path / "cl"))


def test_parse_conjuncts_in_and_between():
    p = txlog._parse_conjuncts
    assert p("k BETWEEN 10 AND 20") == [("k", ">=", 10), ("k", "<=", 20)]
    assert p("d BETWEEN '2024-01-01' AND '2024-02-01' AND k < 5") == [
        ("d", ">=", "2024-01-01"),
        ("d", "<=", "2024-02-01"),
        ("k", "<", 5),
    ]
    assert p("k IN (1, 2, 3)") == [("k", "in", [1, 2, 3])]
    assert p("s IN ('a', 'b')") == [("s", "in", ["a", "b"])]
    # an expression inside IN poisons only that conjunct
    assert p("k IN (1, f(2)) AND v > 0") == [("v", ">", 0)]
    # a quoted 'BETWEEN' is inert
    assert p("s = 'x BETWEEN 1 AND 2'") == [("s", "=", "x BETWEEN 1 AND 2")]


def test_stats_skipping_in_and_between_predicates(spark, table_factory):
    t = table_factory("t", stats_cols=["k"], bloom_cols=["s"])
    t.overwrite(_range_df(spark).repartitionByRange(8, "k"))
    rep = t.prune_report("k BETWEEN 50 AND 99")
    assert 0 < rep["files_scanned"] <= 2
    got = sorted(
        r["k"] for r in t.read(spark, where="k BETWEEN 50 AND 99").collect()
    )
    assert got == list(range(50, 100))
    rep_in = t.prune_report("k IN (5, 399)")
    assert rep_in["files_scanned"] == 2  # first and last range file
    got_in = {r["k"] for r in t.read(spark, where="k IN (5, 399)").collect()}
    assert got_in == {5, 399}
    # bloom on a string IN list
    got_s = t.read(spark, where="s IN ('s3', 's7')").count()
    assert got_s == 80


def test_compact_zorder_string_and_date_dimensions(spark, tmp_path):
    """Non-numeric z-order dimensions get order-preserving numeric keys
    (string -> 7-byte-prefix integer, date -> epoch), so skipping works
    on them too instead of silently degenerating to one bucket."""
    t = VersionedTable(str(tmp_path / "t"), stats_cols=["s", "d"])
    df = spark.range(20_000).select(
        F.format_string("u%05d", (F.col("id") * 7919) % 20000).alias("s"),
        F.date_add(
            F.lit("2024-01-01").cast("date"),
            ((F.col("id") * 104729) % 365).cast("int"),
        ).alias("d"),
        F.col("id").alias("k"),
    )
    t.overwrite(df.repartition(8))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        t.compact(spark, zorder_by=["s", "d"])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    rep_s = t.prune_report("s < 'u02000'")
    rep_d = t.prune_report("d >= '2024-12-01'")
    # range-partition boundary sampling adds variance; the pinned claim
    # is that BOTH dimensions prune materially (a degenerate key would
    # scan 16/16 on at least one of them)
    assert rep_s["files_scanned"] <= rep_s["files_total"] * 2 // 3
    assert rep_d["files_scanned"] <= rep_d["files_total"] * 2 // 3
    assert (
        t.read(spark, where="s < 'u02000'").count()
        == t.read(spark).where("s < 'u02000'").count()
    )
    assert (
        t.read(spark, where="d >= '2024-12-01'").count()
        == t.read(spark).where("d >= '2024-12-01'").count()
    )


def test_prune_report_accounts_bytes(spark, table_factory):
    """The report quantifies the IO the skip avoided in bytes — the
    number an operator actually budgets at 100 TB."""
    t = table_factory("t", stats_cols=["k"])
    t.overwrite(_range_df(spark, 2000).repartitionByRange(8, "k"))
    rep = t.prune_report("k < 250")
    assert rep["bytes_total"] > 0
    assert 0 < rep["bytes_scanned"] < rep["bytes_total"]
    # scanned bytes are exactly the kept files' sizes
    assert rep["bytes_scanned"] <= rep["bytes_total"] * rep[
        "files_scanned"
    ] // max(1, rep["files_total"]) + rep["bytes_total"] // 4


# ------------------------------------------------------ partition compaction

def test_compact_partitions_rewrites_only_fragmented(spark, table_factory):
    """Partition-scoped OPTIMIZE: fragmented partitions (many files)
    are rewritten to one file each; partitions already compact keep
    their pointers byte-identical — the 100 TB form of OPTIMIZE, paid
    per-partition instead of per-table."""
    from de_final_project_spark.operators.txlog import _ptrs

    def part_files(entry):
        n = 0
        for ptr in _ptrs(entry):
            n += len(ptr["files"]) if ptr.get("files") is not None else 1
        return n

    t = table_factory("t", partition_col="pb", stats_cols=["id"])
    # partition 0 fragmented by 8 append commits (one live pointer each
    # — _stage() now writes ONE file per touched bucket per commit, so
    # a multi-task single commit can no longer shatter); partition 1
    # compact from its single commit
    t.overwrite(
        spark.range(0, 100).selectExpr(
            "id", "'x' AS s", "CAST(0 AS INT) AS pb"
        ).unionByName(
            spark.range(800, 900).selectExpr(
                "id", "'y' AS s", "CAST(1 AS INT) AS pb"
            )
        )
    )
    for i in range(1, 8):
        t.append(
            spark.range(i * 100, i * 100 + 100).selectExpr(
                "id", "'x' AS s", "CAST(0 AS INT) AS pb"
            )
        )
    head = t.latest_version()
    live1 = t._read_entry(head)["live"]
    assert part_files(live1["0"]) >= 4
    assert part_files(live1["1"]) == 1
    before = {r["id"] for r in t.read(spark).collect()}
    v = t.compact_partitions(spark, min_files=2)
    assert v == head + 1
    live2 = t._read_entry(v)["live"]
    assert part_files(live2["0"]) == 1        # defragmented
    assert live2["1"] == live1["1"]           # untouched pointer
    assert {r["id"] for r in t.read(spark).collect()} == before
    assert t.history()[-1]["op"] == "compact_parts"
    # nothing left to do: no-op returns the current version
    assert t.compact_partitions(spark, min_files=2) == v


def test_compact_partitions_rebases_under_disjoint_merge(
    spark, table_factory
):
    """Because compact_parts enumerates its touched partitions, a
    concurrent merge on a DISJOINT partition rebases over it — the
    asymmetry vs whole-snapshot compact (which must conflict) is the
    reason the op exists."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(
        _mk(spark, [(1, "a", 0), (2, "b", 1)]).repartition(4)
    )

    orig_stage = t._stage

    def stage_and_race(df):
        out = orig_stage(df)
        if not getattr(stage_and_race, "raced", False):
            stage_and_race.raced = True
            other = table_factory(t.path, partition_col="pb")
            other.compact_partitions(spark, partitions=["0"])
        return out

    t._stage = stage_and_race
    v = t.merge(spark, _mk(spark, [(2, "B", 1)]), ["id"])
    assert v == 3  # rebased over the interloping partition compaction
    assert _rows(t.read(spark)) == {1: "a", 2: "B"}


def _live_file_schemas(t, version):
    """{column name: arrow type} of every parquet file live at
    ``version``, one dict per file."""
    import glob

    import pyarrow.parquet as pq

    from de_final_project_spark.operators.txlog import _ptrs

    out = []
    for e in t._read_entry(version)["live"].values():
        for ptr in _ptrs(e):
            d = os.path.join(t.path, ptr["commit_dir"], ptr["part_dir"])
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                out.append({fd.name: fd.type for fd in pq.read_schema(f)})
    return out


def test_compact_conflicts_with_an_append_landing_during_its_read(
    spark, table_factory
):
    """compact rewrites the rows it read, so an append landing between
    its read and its commit is a ConcurrentWriteError: the appended row
    stays, and no compaction commits."""
    t = table_factory("t")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 0)]))
    snap = t._read_snapshot

    def read_then_append(*a, **kw):
        t._read_snapshot = snap
        df = snap(*a, **kw)
        table_factory(t.path).append(_mk(spark, [(3, "c", 0)]))
        return df

    t._read_snapshot = read_then_append
    with pytest.raises(ConcurrentWriteError):
        t.compact(spark)
    assert _rows(t.read(spark)) == {1: "a", 2: "b", 3: "c"}
    assert [h["op"] for h in t.history()] == ["overwrite", "append"]


def test_compact_partitions_after_drop_column_writes_no_dropped_bytes(
    spark, table_factory
):
    """A partition compaction after drop_column rewrites its files
    without the dropped column's bytes, as the whole-table compact
    does."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(spark.createDataFrame(
        [(1, "a", 10, 0), (2, "b", 20, 1)], "id long, s string, x int, pb int"
    ))
    t.drop_column(spark, "x")
    v = t.compact_partitions(spark, partitions=["0", "1"])
    assert [sorted(f) for f in _live_file_schemas(t, v)] == [["id", "s"]] * 2
    assert _rows(t.read(spark)) == {1: "a", 2: "b"}


def test_compact_partitions_after_widen_column_writes_the_wide_type(
    spark, table_factory
):
    """A partition compaction after widen_column writes the widened
    type, so later reads pay no cast for the rewritten files."""
    import pyarrow as pa

    t = table_factory("t", partition_col="pb")
    t.overwrite(spark.createDataFrame(
        [(1, "a", 10, 0), (2, "b", 20, 1)], "id long, s string, x int, pb int"
    ))
    t.widen_column(spark, "x", "bigint")
    v = t.compact_partitions(spark, partitions=["0", "1"])
    assert [f["x"] for f in _live_file_schemas(t, v)] == [pa.int64()] * 2
    assert {r["x"] for r in t.read(spark).collect()} == {10, 20}


# ------------------------------------------------------- concurrency stress

def test_many_threads_merge_without_lost_updates(spark, tmp_path):
    """Eight writers race real keyed merges (no interposed hooks): some
    collide on partitions and must retry-after-conflict, yet every
    writer's rows land exactly once — the no-lost-update guarantee the
    optimistic protocol exists for. Version count equals successful
    commits (one per writer attempt that won), and the final state is
    the deterministic union because every key is written by exactly one
    writer."""
    import threading

    t = VersionedTable(str(tmp_path / "t"), partition_col="pb")
    t.overwrite(_mk(spark, [(-1, "seed", 0)]))
    errors: list = []

    def writer(i: int) -> None:
        rows = [(i * 10 + j, f"w{i}", (i * 10 + j) % 4) for j in range(3)]
        for _ in range(30):  # retry budget for conflict aborts
            try:
                t.merge(spark, _mk(spark, rows), ["id"])
                return
            except ConcurrentWriteError:
                continue
            except Exception as e:  # noqa: BLE001
                errors.append(e)
                return
        errors.append(RuntimeError(f"writer {i} never committed"))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    got = _rows(t.read(spark))
    want = {-1: "seed"}
    for i in range(8):
        for j in range(3):
            want[i * 10 + j] = f"w{i}"
    assert got == want
    # every surviving commit is a merge on an enumerated partition set
    assert all(
        h["op"] in ("overwrite", "merge") for h in t.history()
    )


def test_split_violations_quarantine_mode(spark, table_factory):
    """The soft path of the constraint system: clean rows commit, dirty
    rows are diverted WITH every failed expectation named — no batch
    failure, no silent drop."""
    t = table_factory(
        "t",
        constraints={"v_nonneg": "v >= 0", "id_small": "id < 100"},
        not_null=["id"],
    )
    df = spark.createDataFrame(
        [
            (1, 5.0),       # clean
            (2, None),      # clean: NULL check passes
            (None, 1.0),    # not_null:id
            (3, -2.0),      # check:v_nonneg
            (200, -1.0),    # both checks
        ],
        "id long, v double",
    )
    clean, dirty = t.split_violations(df)
    assert {r["id"] for r in clean.collect()} == {1, 2}
    got = {r["id"]: r["_violations"] for r in dirty.collect()}
    assert got[None] == "not_null:id"
    assert got[3] == "check:v_nonneg"
    assert set(got[200].split(",")) == {"check:id_small", "check:v_nonneg"}
    # the clean half commits through the hard gate without incident
    t.overwrite(clean)
    assert t.read(spark).count() == 2


# ------------------------------------------------- round-9 ADVICE regressions

def test_parse_conjuncts_or_precedence_and_paren_groups():
    """SQL binds AND tighter than OR: ``a>1 OR b<2 AND c=3`` parses as
    a>1 OR (b<2 AND c=3), so ``c=3`` is NOT a necessary condition and
    must not prune; same for pieces leaked out of a NOT(...) group. A
    parenthesized OR branch NEXT TO a real conjunct keeps the real one
    (the depth-aware split leaves the group as one unparseable piece)."""
    p = txlog._parse_conjuncts
    assert p("a > 1 OR b < 2 AND c = 3") == []
    assert p("b < 2 AND c = 3 OR a > 1") == []
    assert p("NOT (a = 1 AND b = 2 AND c = 3)") == []
    assert p("a = 1 AND (b = 2 OR c = 3)") == [("a", "=", 1)]
    assert p("k BETWEEN 2 AND 5 AND (x = 1 OR y = 2)") == [
        ("k", ">=", 2),
        ("k", "<=", 5),
    ]


def test_stats_skipping_or_precedence_no_row_loss(spark, table_factory):
    """End-to-end ADVICE regression: a mixed-precedence predicate reads
    the same rows through the pruned path as through a full scan —
    before the fix, ``k = 5`` was extracted as a conjunct and the files
    holding the OR's left-branch rows (k > 390) were skipped."""
    t = table_factory("t", stats_cols=["k"])
    t.overwrite(_range_df(spark).repartitionByRange(8, "k"))
    where = "k > 390 OR s = 's5' AND k = 5"
    got = sorted(r["k"] for r in t.read(spark, where=where).collect())
    want = sorted(r["k"] for r in t.read(spark).where(where).collect())
    assert got == want
    assert got == [5] + list(range(391, 400))


def test_merge_into_update_only_ignores_unmatched_in_live_partition(
    spark, table_factory
):
    """``insert_unmatched=False`` must drop unmatched source rows on the
    full-outer-join path (touched partition HAS live rows), not only on
    the empty-table / empty-partition short circuits."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 0)]))
    t.merge_into(
        spark,
        _mk(spark, [(2, "B", 0), (99, "nope", 0)]),
        on=["id"],
        matched_update={"s": "s.s"},
        insert_unmatched=False,
    )
    assert _rows(t.read(spark)) == {1: "a", 2: "B"}


def test_merge_into_after_drop_column_accepts_the_live_schema(
    spark, table_factory
):
    """A dropped column's bytes stay in the old files, but it is not
    part of the table schema: merge_into accepts a source without it
    and lands the rows merge lands for the same source."""
    t = table_factory("t")
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "id long, s string, x int"
        )
    )
    t.drop_column(spark, "x")
    t.merge_into(
        spark,
        spark.createDataFrame([(2, "B"), (3, "c")], "id long, s string"),
        ["id"],
        matched_update={"s": "s.s"},
    )
    assert t.read(spark).columns == ["id", "s"]
    assert _rows(t.read(spark)) == {1: "a", 2: "B", 3: "c"}


def test_merge_into_touching_a_partition_older_than_a_widening(
    spark, table_factory
):
    """After a merge_schema=True widening, partition 0 still holds the
    narrow files. A full-width source that touches only that partition
    is the table's schema, so merge_into accepts it, as merge does, and
    the untouched survivor null-fills."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0), (4, "d", 0), (2, "b", 1)]))
    wide = "id long, s string, pb int, score double"
    t.merge(
        spark, spark.createDataFrame([(2, "B", 1, 9.5)], wide), ["id"],
        merge_schema=True,
    )
    t.merge_into(
        spark,
        spark.createDataFrame([(1, "A", 0, 1.5), (3, "c", 0, None)], wide),
        ["id"],
        matched_update={"s": "s.s", "score": "s.score"},
    )
    got = {r["id"]: (r["s"], r["score"]) for r in t.read(spark).collect()}
    assert got == {
        1: ("A", 1.5), 2: ("B", 9.5), 3: ("c", None), 4: ("d", None),
    }


def test_merge_into_after_widen_column_stores_wide_values(
    spark, table_factory
):
    """Assignments cast to the table's widened type, not to the narrow
    type of the files written before widen_column: a value past the
    int range is stored, as merge stores it."""
    t = table_factory("t")
    t.overwrite(spark.createDataFrame([(1, 1), (2, 2)], "id long, v int"))
    t.widen_column(spark, "v", "bigint")
    t.merge_into(
        spark,
        spark.createDataFrame([(1, 5_000_000_000)], "id long, v long"),
        ["id"],
        matched_update={"v": "s.v"},
    )
    out = t.read(spark)
    assert dict(out.dtypes)["v"] == "bigint"
    assert {r["id"]: r["v"] for r in out.collect()} == {
        1: 5_000_000_000, 2: 2,
    }


def test_range_excludes_timestamp_fraction_boundary():
    """'2024-01-05 00:00:00' and '2024-01-05 00:00:00.000000' are the
    same instant: no boundary comparison may exclude the file holding
    the boundary row, in either fractional direction."""
    ex = txlog._range_excludes
    lo = "2024-01-05 00:00:00"
    hi = "2024-01-05 00:00:00.000000"
    assert not ex(lo, lo, ">=", hi)
    assert not ex(hi, hi, "<=", lo)
    assert not ex(lo, lo, "=", hi)
    # genuine exclusions still hold across the two formats
    assert ex(lo, lo, ">", hi)
    assert ex(
        "2024-01-04 23:59:59.999999",
        "2024-01-04 23:59:59.999999",
        ">=",
        lo,
    )


def test_stats_skipping_timestamp_fraction_literals(spark, table_factory):
    """A predicate literal with explicit .000000 microseconds must not
    skip the file whose stored max is the same instant without them."""
    t = table_factory("t", stats_cols=["ts"])
    df = spark.range(0, 8).selectExpr(
        "id AS k",
        "timestampadd(DAY, CAST(id AS INT),"
        " TIMESTAMP '2024-01-01 00:00:00') AS ts",
    )
    t.overwrite(df.repartitionByRange(8, "k"))
    for where in [
        "ts >= '2024-01-03 00:00:00.000000'",
        "ts <= '2024-01-03 00:00:00.000000'",
        "ts = '2024-01-03 00:00:00.000000'",
    ]:
        got = sorted(r["k"] for r in t.read(spark, where=where).collect())
        want = sorted(r["k"] for r in t.read(spark).where(where).collect())
        assert got == want and got, where


def test_bloom_positions_differ_by_dtype(spark, table_factory):
    """Premise of the dtype-keyed Bloom position cache: xxhash64 hashes
    the same numeric value differently per type, so positions computed
    against one file's dtype are wrong probes for a file written with
    another (schema-evolved) dtype."""
    t = table_factory("t")
    a = t._bloom_positions(spark, 5, "int", txlog.BLOOM_BITS)
    b = t._bloom_positions(spark, 5, "bigint", txlog.BLOOM_BITS)
    assert a != b


def test_delete_keys_empty_table_stages_nothing(spark, table_factory):
    """delete_keys on a never-committed table raises BEFORE writing the
    tombstone parquet — no orphan files under data/ for vacuum to carry."""
    t = table_factory("t")
    with pytest.raises(FileNotFoundError):
        t.delete_keys(spark, spark.createDataFrame([(1,)], "id long"))
    data_dir = os.path.join(t.path, "data")
    assert not os.path.exists(data_dir) or not os.listdir(data_dir)


# ------------------------------------------------------ column mapping
class TestColumnMapping:
    def test_rename_is_metadata_only_and_read_resolves(
        self, spark, table_factory
    ):
        t = table_factory("cm", partition_col="pb")
        t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1)]))
        data_dirs_before = sorted(os.listdir(os.path.join(t.path, "data")))
        v = t.rename_column(spark, "s", "label")
        assert v == 2
        # zero data IO: no new commit dir staged
        assert sorted(os.listdir(os.path.join(t.path, "data"))) == (
            data_dirs_before
        )
        got = t.read(spark)
        assert set(got.columns) == {"id", "label", "pb"}
        assert {r["id"]: r["label"] for r in got.collect()} == {
            1: "a",
            2: "b",
        }

    def test_time_travel_across_rename_uses_old_names(
        self, spark, table_factory
    ):
        t = table_factory("cm_travel", partition_col="pb")
        t.overwrite(_mk(spark, [(1, "a", 0)]))
        t.rename_column(spark, "s", "label")
        t.merge(
            spark,
            spark.createDataFrame([(2, "b", 1)], "id long, label string, pb int"),
            ["id"],
        )
        # v1 still reads under its own (pre-rename) schema
        v1 = t.read(spark, version=1)
        assert set(v1.columns) == {"id", "s", "pb"}
        assert _rows(v1) == {1: "a"}
        # head reads under the new name, merged row included
        head = t.read(spark)
        assert {r["id"]: r["label"] for r in head.collect()} == {
            1: "a",
            2: "b",
        }

    def test_merge_and_cdf_across_rename(self, spark, table_factory):
        t = table_factory("cm_cdf", partition_col="pb")
        t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1)]))  # v1
        t.rename_column(spark, "s", "label")  # v2
        t.merge(
            spark,
            spark.createDataFrame(
                [(2, "B", 1), (3, "c", 0)], "id long, label string, pb int"
            ),
            ["id"],
        )  # v3
        feed = t.read_changes(spark, ["id"], 1, 3)
        assert set(feed.columns) == {"id", "label", "pb", "_change_type"}
        changes = {
            r["id"]: (r["label"], r["_change_type"]) for r in feed.collect()
        }
        assert changes == {2: ("B", "update"), 3: ("c", "insert")}

    def test_predicate_pruning_translates_renamed_column(
        self, spark, table_factory
    ):
        t = table_factory("cm_prune", partition_col=None, stats_cols=["id"])
        t.overwrite(_mk(spark, [(1, "a", 0), (100, "b", 1)]))
        t.append(_mk(spark, [(200, "c", 2)]))
        t.rename_column(spark, "id", "ident")
        rep = t.prune_report("ident >= 150")
        assert rep["files_scanned"] < rep["files_total"]
        got = t.read(spark, where="ident >= 150")
        assert [r["ident"] for r in got.collect()] == [200]

    def test_dml_predicates_translate(self, spark, table_factory):
        t = table_factory("cm_dml", partition_col="pb")
        t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1), (3, "c", 1)]))
        t.rename_column(spark, "s", "label")
        t.update_where(
            spark, "label = 'b'", {"label": "upper(label)"}
        )
        t.delete_where(spark, "label = 'c'")
        got = {r["id"]: r["label"] for r in t.read(spark).collect()}
        assert got == {1: "a", 2: "B"}

    def test_drop_column_hides_data_and_rejects_writes(
        self, spark, table_factory
    ):
        t = table_factory("cm_drop", partition_col="pb")
        t.overwrite(_mk(spark, [(1, "a", 0)]))  # v1
        t.drop_column(spark, "s")  # v2
        head = t.read(spark)
        assert set(head.columns) == {"id", "pb"}
        # time travel BEFORE the drop still shows the column
        assert set(t.read(spark, version=1).columns) == {"id", "s", "pb"}
        # a write naming the dropped column fails loudly
        with pytest.raises(ValueError, match="dropped"):
            t.merge(spark, _mk(spark, [(2, "x", 0)]), ["id"])
        # a conforming write (without the dropped column) still works
        t.merge(
            spark,
            spark.createDataFrame([(2, 0)], "id long, pb int"),
            ["id"],
        )
        assert {r["id"] for r in t.read(spark).collect()} == {1, 2}

    def test_readd_after_drop_gets_fresh_physical_name(
        self, spark, table_factory
    ):
        t = table_factory("cm_readd", partition_col=None)
        t.overwrite(_mk(spark, [(1, "old", 0)]))
        t.drop_column(spark, "s")
        with pytest.raises(ValueError):
            t.rename_column(spark, "id", "s")  # dropped name stays dead
        # re-adding a column of a NEW name via merge_schema works and
        # never aliases the dropped bytes
        t.merge(
            spark,
            spark.createDataFrame(
                [(1, 0, "new")], "id long, pb int, s2 string"
            ),
            ["id"],
            merge_schema=True,
        )
        got = t.read(spark).collect()
        assert {r["id"]: r["s2"] for r in got} == {1: "new"}
        assert "s" not in t.read(spark).columns

    def test_restore_across_rename_restores_old_schema(
        self, spark, table_factory
    ):
        t = table_factory("cm_restore", partition_col="pb")
        t.overwrite(_mk(spark, [(1, "a", 0)]))  # v1 (pre-mapping)
        t.rename_column(spark, "s", "label")  # v2
        v = t.restore(1)  # v3: pre-mapping schema travels with it
        assert set(t.read(spark, version=v).columns) == {"id", "s", "pb"}
        # and a rename AFTER the restore starts from the restored names
        t.rename_column(spark, "s", "tag")
        assert set(t.read(spark).columns) == {"id", "tag", "pb"}

    def test_rename_rejections(self, spark, table_factory):
        t = table_factory(
            "cm_reject",
            partition_col="pb",
            constraints={"s_nonempty": "length(s) > 0"},
        )
        t.overwrite(_mk(spark, [(1, "a", 0)]))
        with pytest.raises(ValueError, match="referenced"):
            t.rename_column(spark, "s", "label")  # constraint references s
        with pytest.raises(ValueError, match="exists"):
            t.rename_column(spark, "id", "pb")
        with pytest.raises(ValueError, match="no such column"):
            t.rename_column(spark, "nope", "x")
        with pytest.raises(ValueError, match="partition"):
            t.drop_column(spark, "pb")

    def test_clone_carries_mapping(self, spark, table_factory, tmp_path):
        t = table_factory("cm_clone", partition_col="pb")
        t.overwrite(_mk(spark, [(1, "a", 0)]))
        t.rename_column(spark, "s", "label")
        dest = t.clone_to(str(tmp_path / "cm_clone_dest"))
        got = dest.read(spark)
        assert set(got.columns) == {"id", "label", "pb"}
        assert {r["id"]: r["label"] for r in got.collect()} == {1: "a"}

    def test_rename_chain_and_swap_translation(self, spark, table_factory):
        """a->b then NEW column a: predicates over both must hit the
        right physical names (single-pass simultaneous substitution —
        sequential replacement corrupts exactly this chain)."""
        t = table_factory("cm_chain", partition_col=None)
        t.overwrite(_mk(spark, [(1, "x", 0)]))
        t.rename_column(spark, "s", "s_old")  # logical s_old -> phys s
        # new logical 's' arrives via merge_schema: fresh physical name
        t.merge(
            spark,
            spark.createDataFrame(
                [(1, "y", 0, "fresh")], "id long, s_old string, pb int, s string"
            ),
            ["id"],
            merge_schema=True,
        )
        got = t.read(spark, where="s = 'fresh' AND s_old = 'y'")
        assert got.count() == 1
        head = t._read_entry(t.latest_version())
        cmap = head["colmap"]
        assert cmap["s_old"] == "s" and cmap["s"] != "s"

    def test_compact_conflicts_with_a_rename_landing_during_its_read(
        self, spark, table_factory
    ):
        """A rename that lands between compact's snapshot read and its
        commit is a conflict: compact translates its frame under the
        entry it read, so it can never bind the old name as a new column
        and revert the rename."""
        t = table_factory("cm_compact")
        t.overwrite(
            spark.createDataFrame([(1, "a", 10)], "id long, s string, x int")
        )
        t.rename_column(spark, "s", "s0")
        read = t.read
        snap = t._read_snapshot

        def read_then_rename(*a, **kw):
            t._read_snapshot = snap
            df = snap(*a, **kw)
            table_factory(t.path).rename_column(spark, "x", "y")
            return df

        t._read_snapshot = read_then_rename
        with pytest.raises(ConcurrentWriteError):
            t.compact(spark)
        assert read(spark).columns == ["id", "s0", "y"]


# ---------------------------------------------------------- protocol
class TestProtocol:
    def test_feature_commits_stamp_required_versions(
        self, spark, table_factory
    ):
        # plain table: no protocol field (fully readable by v1 readers)
        t = table_factory("proto_plain", partition_col="pb")
        t.overwrite(_mk(spark, [(1, "a", 0)]))
        assert "protocol" not in t._read_entry(1)
        # deletion vectors demand reader v2 (ignoring the dv list
        # resurrects deleted rows); the per-feature demand is pinned on
        # the classifier, while the STAMPED floor is max(feature, 5)
        # because every v>=2 entry is delta-encoded (codec = reader v5)
        t.delete_where(spark, "id = 1", mode="mor")
        e2 = t._read_entry(2)
        assert VersionedTable._required_protocol(e2) == 2
        assert e2["protocol"] == {"min_reader": 5, "min_writer": 5}
        # column mapping demands v3 (ignoring colmap exposes physical
        # names and dropped bytes)
        t2 = table_factory("proto_cm", partition_col="pb")
        t2.overwrite(_mk(spark, [(1, "a", 0)]))
        t2.rename_column(spark, "s", "label")
        e2b = t2._read_entry(2)
        assert VersionedTable._required_protocol(e2b) == 3
        assert e2b["protocol"]["min_reader"] == 5

    def test_protocol_floor_survives_restore(self, spark, table_factory):
        t = table_factory("proto_floor", partition_col="pb")
        t.overwrite(_mk(spark, [(1, "a", 0)]))  # v1, no protocol
        t.rename_column(spark, "s", "label")  # v2, floor raised
        before = t._read_entry(2)["protocol"]["min_reader"]
        t.restore(1)  # v3: pre-mapping schema, but the floor stays
        e = t._read_entry(3)
        assert "colmap" not in e
        # the property: RESTORE to a pre-feature snapshot never LOWERS
        # the floor (later history's entries still need it)
        assert e["protocol"]["min_reader"] >= before

    def test_future_reader_version_fails_loudly(self, spark, table_factory):
        t = table_factory("proto_future", partition_col="pb")
        t.overwrite(_mk(spark, [(1, "a", 0)]))
        e = t._read_entry(1)
        e["protocol"] = {"min_reader": 99, "min_writer": 99}
        t._store.put(t._entry_name(2), __import__("json").dumps(
            {**e, "version": 2, "op": "merge", "touched": []}
        ).encode())
        with pytest.raises(RuntimeError, match="reader version 99"):
            t.read(spark)
        # and a writer refuses to commit past it (it trips the reader
        # gate while loading the head it would build on — a writer that
        # cannot read the head certainly must not rewrite it; the
        # min_writer gate additionally covers futures where min_writer
        # exceeds min_reader)
        with pytest.raises(RuntimeError, match="version 99"):
            t.append(_mk(spark, [(2, "b", 0)]))


# ----------------------------------------------------------- analyze
class TestAnalyze:
    def test_backfills_stats_and_enables_skipping(
        self, spark, table_factory
    ):
        t = table_factory("an")  # written WITHOUT stats_cols
        t.overwrite(
            _mk(spark, [(i, f"s{i}", i % 3) for i in range(100)])
            .repartitionByRange(4, "id")
        )
        before = t.prune_report("id <= 10")
        assert before["files_scanned"] == before["files_total"]
        v = t.analyze(stats_cols=["id"])
        after = t.prune_report("id <= 10")
        assert after["files_scanned"] < after["files_total"]
        # row-invariant: pruned read equals the unpruned snapshot filter
        got = {r["id"] for r in t.read(spark, where="id <= 10").collect()}
        assert got == set(range(11))
        # metadata-only: no new data dir was staged
        e = t._read_entry(v)
        assert e["op"] == "analyze" and e["touched"] == []

    def test_idempotent_and_preserves_writer_stats(
        self, spark, table_factory
    ):
        t = table_factory("an_idem", stats_cols=["id"])
        t.overwrite(
            _mk(spark, [(i, "x", 0) for i in range(20)])
            .repartitionByRange(2, "id")
        )
        live1 = t._read_entry(t.latest_version())["live"]
        t.analyze()  # nothing missing: live map unchanged
        live2 = t._read_entry(t.latest_version())["live"]
        assert live2 == live1

    def test_fills_only_missing_columns_and_pointer_lists(
        self, spark, table_factory
    ):
        t = table_factory("an_mixed", stats_cols=["id"])
        # coalesce(1): tiny frames over 32-way parallelism write mostly
        # EMPTY files, which carry no footer stats by construction
        t.overwrite(
            _mk(spark, [(i, "x", 0) for i in range(10)]).coalesce(1)
        )  # stats for id only
        t.append(
            _mk(spark, [(i, "y", 0) for i in range(10, 20)]).coalesce(1)
        )
        t.analyze(stats_cols=["id", "s"])
        e = t._read_entry(t.latest_version())
        for ptr_or_list in e["live"].values():
            ptrs = (
                ptr_or_list
                if isinstance(ptr_or_list, list)
                else [ptr_or_list]
            )
            for ptr in ptrs:
                for fe in ptr["files"]:
                    assert "id" in fe["s"] and "s" in fe["s"]

    def test_analyze_under_column_mapping_uses_physical_names(
        self, spark, table_factory
    ):
        t = table_factory("an_cm")
        t.overwrite(
            _mk(spark, [(i, "x", 0) for i in range(50)])
            .repartitionByRange(2, "id")
        )
        t.rename_column(spark, "id", "ident")
        t.analyze(stats_cols=["id"])  # physical file-column name
        rep = t.prune_report("ident <= 5")  # logical predicate
        assert rep["files_scanned"] < rep["files_total"]
        got = {
            r["ident"] for r in t.read(spark, where="ident <= 5").collect()
        }
        assert got == set(range(6))


class TestTypeWidening:
    """widen_column: metadata-only lossless type evolution (VERDICT r9
    item 8) — per-version read casts, time travel across the widen,
    rejected narrowing, physical-name stability across renames, and a
    change feed spanning the widen."""

    def _clicks(self, spark, rows):
        return spark.createDataFrame(rows, "id long, clicks int")

    def test_widen_is_metadata_only_and_uniform_across_generations(
        self, spark, table_factory
    ):
        t = table_factory("w1")
        t.overwrite(self._clicks(spark, [(1, 10), (2, 20)]))
        import glob
        import os as _os

        files_before = sorted(
            glob.glob(_os.path.join(t.path, "data", "**", "*.parquet"),
                      recursive=True)
        )
        v = t.widen_column(spark, "clicks", "bigint")
        files_after = sorted(
            glob.glob(_os.path.join(t.path, "data", "**", "*.parquet"),
                      recursive=True)
        )
        assert files_before == files_after  # zero data IO
        # post-widen append: beyond-int32 values, physically wide files
        t.append(
            spark.createDataFrame([(3, 5_000_000_000)],
                                  "id long, clicks long")
        )
        head = t.read(spark)
        assert dict(head.dtypes)["clicks"] == "bigint"
        assert {r["id"]: r["clicks"] for r in head.collect()} == {
            1: 10, 2: 20, 3: 5_000_000_000,
        }
        # time travel BEFORE the widen reads the narrow type
        old = t.read(spark, version=v - 1)
        assert dict(old.dtypes)["clicks"] == "int"
        # ...and AT the widen reads wide with the same values
        at = t.read(spark, version=v)
        assert dict(at.dtypes)["clicks"] == "bigint"
        assert {r["clicks"] for r in at.collect()} == {10, 20}
        # RESTORE to before the widen keeps the wide type (widening
        # never downgrades), so a wide value still lands whole
        t.restore(v - 1)
        t.append(
            spark.createDataFrame([(4, 6_000_000_000)],
                                  "id long, clicks long")
        )
        head = t.read(spark)
        assert dict(head.dtypes)["clicks"] == "bigint"
        assert {r["id"]: r["clicks"] for r in head.collect()} == {
            1: 10, 2: 20, 4: 6_000_000_000,
        }

    def test_narrowing_and_lossy_transitions_rejected(
        self, spark, table_factory
    ):
        t = table_factory("w2")
        t.overwrite(
            spark.createDataFrame(
                [(1, 10, 1.5, 7_000_000_000)],
                "id long, clicks int, ratio float, big long",
            )
        )
        t.widen_column(spark, "clicks", "bigint")
        for col, bad in [
            ("clicks", "int"),        # narrowing back
            ("ratio", "int"),         # lossy cross-family
            ("big", "double"),        # int64 does not fit a double
            ("big", "int"),           # narrowing
            ("clicks", "bigint"),     # no-op
        ]:
            with pytest.raises(ValueError, match="widen"):
                t.widen_column(spark, col, bad)
        # float -> double is in the lattice
        t.widen_column(spark, "ratio", "double")
        assert dict(t.read(spark).dtypes)["ratio"] == "double"

    def test_widen_survives_rename_and_merge(self, spark, table_factory):
        """State is keyed by physical name: widen, then rename — the
        new logical name keeps reading wide, and a MERGE through the
        mapping lands and reads correctly."""
        t = table_factory("w3")
        t.overwrite(self._clicks(spark, [(1, 10), (2, 20)]))
        t.widen_column(spark, "clicks", "bigint")
        t.rename_column(spark, "clicks", "hits")
        assert dict(t.read(spark).dtypes)["hits"] == "bigint"
        t.merge(
            spark,
            spark.createDataFrame([(2, 9_000_000_000), (4, 40)],
                                  "id long, hits long"),
            ["id"],
        )
        got = {r["id"]: r["hits"] for r in t.read(spark).collect()}
        assert got == {1: 10, 2: 9_000_000_000, 4: 40}

    def test_change_feed_across_widen(self, spark, table_factory):
        """A feed window spanning the widen: both sides cast to the end
        version's types, so unchanged rows do NOT appear as updates and
        the feed column is uniformly wide."""
        t = table_factory("w4")
        t.overwrite(self._clicks(spark, [(1, 10), (2, 20)]))
        v1 = t.latest_version()
        t.widen_column(spark, "clicks", "bigint")
        t.append(
            spark.createDataFrame([(3, 6_000_000_000)],
                                  "id long, clicks long")
        )
        feed = t.read_changes(spark, ["id"], v1)
        assert dict(feed.dtypes)["clicks"] == "bigint"
        rows = {(r["id"], r["_change_type"]) for r in feed.collect()}
        assert rows == {(3, "insert")}  # 1 and 2 unchanged by the widen

    def test_protocol_floor_bumps_on_widen(self, spark, table_factory):
        t = table_factory("w5")
        t.overwrite(self._clicks(spark, [(1, 10)]))
        t.widen_column(spark, "clicks", "bigint")
        head = t._read_entry(t.latest_version())
        # >= 4: widening demands 4; the delta-encoded entry codec
        # raises the floor further (5)
        assert head["protocol"]["min_reader"] >= 4
        # a pre-widening reader must refuse, not misread
        orig = VersionedTable.READER_VERSION
        try:
            VersionedTable.READER_VERSION = 3
            with pytest.raises(RuntimeError, match="log-protocol"):
                t.read(spark)
        finally:
            VersionedTable.READER_VERSION = orig

    def test_widen_partition_column_rejected(self, spark, table_factory):
        t = table_factory("w6", partition_col="pb")
        t.overwrite(_mk(spark, [(1, "a", 0)]))
        with pytest.raises(ValueError, match="partition"):
            t.widen_column(spark, "pb", "bigint")


class _ReadCountingStore(ConditionalPutLogStore):
    """Counts read() calls — the instrument for the reconstruction-cost
    contract."""

    def __init__(self):
        super().__init__()
        self.reads = 0

    def read(self, name):
        self.reads += 1
        return super().read(name)


class TestDeltaLogCodec:
    """Delta-encoded entries + parquet checkpoints (VERDICT r9 item 1):
    entry size is O(touched files); snapshot reconstruction reads O(1)
    checkpoint + O(CHECKPOINT_INTERVAL) suffix entries, never
    O(history)."""

    def _grow(self, spark, store, n_commits):
        t = VersionedTable("/x/ignored_delta", log_store=store)
        mk = lambda rows: spark.createDataFrame(rows, "id long, s string")  # noqa: E731
        t.overwrite(mk([(0, "base")]))
        for i in range(1, n_commits):
            t.append(mk([(i, f"x{i}")]))
        return t

    def test_snapshot_read_cost_is_checkpoint_plus_suffix(self, spark):
        from de_final_project_spark.operators.txlog import (
            CHECKPOINT_INTERVAL,
        )

        n = 60
        store = _ReadCountingStore()
        self._grow(spark, store, n)
        # COLD handle: no reconstruction memo, same shared store
        cold = VersionedTable("/x/ignored_delta", log_store=store)
        store.reads = 0
        head = cold.latest_version()
        cold._read_entry(head)
        cold_reads = store.reads
        # never O(history): one checkpoint + at most the interval's
        # worth of suffix entries (+ the head-pointer read)
        assert cold_reads <= CHECKPOINT_INTERVAL + 3, cold_reads
        assert cold_reads < n // 2
        # warm handle: memoized — zero additional entry reads
        store.reads = 0
        cold._read_entry(head)
        assert store.reads == 0

    def test_entry_bytes_track_churn_not_live_files(self, spark):
        """The metadata-plane scale contract, measured: after 40
        one-partition commits the LATEST delta entry is no bigger than
        an early one (the full-map codec grew every entry linearly
        with live file count)."""
        store = _ReadCountingStore()
        t = VersionedTable(
            "/x/ignored_delta2", log_store=store, partition_col="pb"
        )
        mk = lambda rows: spark.createDataFrame(  # noqa: E731
            rows, "id long, s string, pb int"
        )
        t.overwrite(mk([(0, "base", 0)]))
        sizes = {}
        for i in range(1, 41):
            t.append(mk([(i, f"x{i}", i % 8)]))
            sizes[i + 1] = len(store.read(t._entry_name(i + 1)))
        # 8x more live partitions/files at the end; entry bytes flat
        # (same one-pointer append), modulo a small txn/protocol drift
        assert sizes[41] <= sizes[5] * 1.5, (sizes[5], sizes[41])

    def test_history_and_time_travel_reconstruct_every_version(
        self, spark
    ):
        store = _ReadCountingStore()
        t = self._grow(spark, store, 25)
        hist = t.history()
        assert [e["version"] for e in hist] == list(range(1, 26))
        fresh = VersionedTable("/x/ignored_delta", log_store=store)
        for v in (1, 7, 13, 24, 25):
            assert fresh.read(spark, version=v).count() == v

    def test_vacuum_checkpoints_oldest_retained_delta(self, spark):
        """Vacuum drops the ancestors a delta entry reconstructs from —
        the checkpoint it writes at the oldest retained version must
        keep every retained version readable from a cold handle."""
        store = _ReadCountingStore()
        t = self._grow(spark, store, 17)  # head 17, no interval mark near
        t.vacuum(retain_versions=3, retention_seconds=0)
        cold = VersionedTable("/x/ignored_delta", log_store=store)
        assert cold.read(spark, version=15).count() == 15
        assert cold.read(spark, version=17).count() == 17
        with pytest.raises(FileNotFoundError):
            cold.read(spark, version=5)

    def test_live_files_df_matches_driver_map(self, spark, tmp_path):
        """The distributed checkpoint read (parquet scan + folded delta
        suffix) equals the driver-side reconstruction exactly — on the
        REAL filesystem store, where the checkpoint is scanned by
        Spark."""
        t = VersionedTable(str(tmp_path / "lfd"), partition_col="pb")
        mk = lambda rows: spark.createDataFrame(  # noqa: E731
            rows, "id long, s string, pb int"
        )
        t.overwrite(mk([(i, "a", i % 4) for i in range(8)]))
        for i in range(1, 14):
            t.append(mk([(100 + i, f"x{i}", i % 4)]))
        t.delete_where(spark, "pb = 2")  # rewrites partition 2
        import json as _json

        got = {
            (r["partition"], r["pointer_json"])
            for r in t.live_files_df(spark).collect()
        }
        want = {
            (p, _json.dumps(e))
            for p, e in t._read_entry(t.latest_version())["live"].items()
        }
        assert got == want


class TestCdfFastPath:
    """The O(churn) single-commit change-feed fast path
    (_cdf_single_commit_fast) must be row-identical to the general
    snapshot-diff path on every shape it accepts — and must decline the
    shapes it can't prove."""

    def _base(self, spark, table_factory):
        t = table_factory("cdf_fast", partition_col="pb")
        t.overwrite(
            _mk(spark, [(i, f"s{i}", i % 3) for i in range(30)])
        )
        return t

    def _both(self, spark, t, frm, to, **kw):
        fast = t.read_changes(spark, ["id"], frm, to, **kw)
        orig = t._cdf_single_commit_fast
        t._cdf_single_commit_fast = lambda *a, **k: None
        try:
            gen = t.read_changes(spark, ["id"], frm, to, **kw)
        finally:
            t._cdf_single_commit_fast = orig
        canon = lambda df: sorted(  # noqa: E731
            (r["id"], r["s"], r["pb"], r["_change_type"])
            for r in df.collect()
        )
        return canon(fast), canon(gen)

    def test_mor_update_matches_general(self, spark, table_factory):
        t = self._base(spark, table_factory)
        t.update_where(
            spark, "id % 7 = 0", {"s": F.concat(F.col("s"), F.lit("!"))},
            mode="mor",
        )
        for kw in (
            {"include_deletes": True, "include_update_preimages": True},
            {"include_deletes": False, "include_update_preimages": False},
        ):
            fast, gen = self._both(spark, t, 1, 2, **kw)
            assert fast == gen and fast  # non-empty and identical
        # the fast path really engaged (entry carries the stamp and
        # keys are disjoint from the assignment columns)
        e = t._read_entry(2)
        assert e["dv_update_cols"] == ["s"]

    def test_identity_rewrite_excluded(self, spark, table_factory):
        """An assignment that rewrites a row to its identical self must
        not surface in the feed (the general path's struct-compare
        contract)."""
        t = self._base(spark, table_factory)
        t.update_where(spark, "id % 7 = 0", {"s": F.col("s")}, mode="mor")
        fast, gen = self._both(
            spark, t, 1, 2,
            include_deletes=True, include_update_preimages=True,
        )
        assert fast == gen == []

    def test_append_matches_general(self, spark, table_factory):
        t = self._base(spark, table_factory)
        t.append(_mk(spark, [(100, "new", 0), (101, "new2", 5)]))
        fast, gen = self._both(spark, t, 1, 2)
        assert fast == gen
        assert {r[0] for r in fast} == {100, 101}

    def test_key_moving_update_declines(self, spark, table_factory):
        """An update whose assignments touch the feed key must fall
        back to the general path (pairing by key would be unsound)."""
        t = self._base(spark, table_factory)
        t.update_where(
            spark, "id = 3", {"id": F.col("id") + 1000}, mode="mor"
        )
        assert (
            t._cdf_single_commit_fast(
                spark, ["id"], t._read_entry(1), t._read_entry(2),
                True, True,
            )
            is None
        )
        # and the general path still serves the window
        feed = t.read_changes(
            spark, ["id"], 1, 2,
            include_deletes=True, include_update_preimages=True,
        )
        assert feed.count() > 0

    def test_multi_commit_window_declines(self, spark, table_factory):
        t = self._base(spark, table_factory)
        t.update_where(spark, "id = 1", {"s": F.lit("x")}, mode="mor")
        t.update_where(spark, "id = 2", {"s": F.lit("y")}, mode="mor")
        assert (
            t._cdf_single_commit_fast(
                spark, ["id"], t._read_entry(1), t._read_entry(3),
                True, True,
            )
            is None
        )
        fast, gen = self._both(
            spark, t, 1, 3,
            include_deletes=True, include_update_preimages=True,
        )
        assert fast == gen and len(fast) == 4


class TestStagedWriteFileLayout:
    """A commit to a bucket-partitioned table must write one file per
    touched partition value, not one file per (upstream task x bucket).

    Regression pin for the round-11 small-file shatter: _stage() wrote
    `df.write.partitionBy(col)` with no repartition, so a ~13-task MERGE
    source over a 64-bucket table emitted ~800 sub-8KB files per commit
    (measured: 2,452 files for a 20MB sf0.01 postings table), making
    every later touched-partition read pay per-file overhead ~800x."""

    @staticmethod
    def _data_dirs(t):
        d = os.path.join(t.path, "data")
        return set(os.listdir(d)) if os.path.isdir(d) else set()

    @staticmethod
    def _parquet_count(root):
        n = 0
        for _, _, names in os.walk(root):
            n += sum(1 for f in names if f.endswith(".parquet"))
        return n

    def test_merge_commit_files_bounded_by_touched_buckets(
        self, spark, table_factory
    ):
        t = table_factory("t", partition_col="pb")
        base = spark.range(0, 400).select(
            F.col("id"),
            F.concat(F.lit("v"), F.col("id")).alias("s"),
            (F.col("id") % 16).cast("int").alias("pb"),
        )
        t.overwrite(base)
        before = self._data_dirs(t)
        # a many-task source touching all 16 buckets: without the
        # _stage() repartition this writes ~13x16 files in one commit
        src = (
            spark.range(0, 400, 3)
            .select(
                F.col("id"),
                F.lit("upd").alias("s"),
                (F.col("id") % 16).cast("int").alias("pb"),
            )
            .repartition(13)
        )
        t.merge(spark, src, ["id"])
        new_dirs = self._data_dirs(t) - before
        assert len(new_dirs) == 1
        commit_dir = os.path.join(t.path, "data", new_dirs.pop())
        touched = len(
            [
                d
                for d in os.listdir(commit_dir)
                if d.startswith("pb=")
            ]
        )
        assert touched == 16
        files = self._parquet_count(commit_dir)
        # one file per touched bucket (repartition(col) lands each
        # partition value in exactly one task)
        assert files <= touched, (
            f"commit shattered into {files} files for {touched} buckets"
        )

    def test_unpartitioned_stage_has_no_extra_shuffle(
        self, spark, table_factory
    ):
        # the unpartitioned path must not repartition: a 3-task source
        # writes <= 3 files (no shuffle to 32 shuffle partitions)
        t = table_factory("t")
        df = spark.range(0, 90).select(
            F.col("id"),
            F.lit("a").alias("s"),
            F.lit(0).alias("pb"),
        ).repartition(3)
        t.overwrite(df)
        commit_dir = os.path.join(t.path, "data", self._data_dirs(t).pop())
        assert self._parquet_count(commit_dir) <= 3


class TestAutoCompact:
    """auto_compact: the post-refresh small-file policy (VERDICT r11
    item 5). Append-fed tables accumulate one live pointer per commit;
    the policy folds them back once the live set reaches the threshold,
    with answers byte-identical across every compaction commit."""

    @staticmethod
    def _live_files(t):
        from de_final_project_spark.operators.txlog import (
            _UNPARTITIONED,
            _ptrs,
        )

        head = t.latest_version()
        live = t._read_entry(head)["live"]
        out = {}
        for p, e in live.items():
            n = 0
            for ptr in _ptrs(e):
                if ptr.get("files") is not None:
                    n += len(ptr["files"])
                else:
                    d = os.path.join(t.path, ptr["commit_dir"], ptr["part_dir"])
                    n += sum(
                        1 for f in os.listdir(d) if f.endswith(".parquet")
                    )
            out[p] = n
        return out

    def test_append_cycle_bounded_and_identical(self, spark, table_factory):
        t = table_factory("t")
        expect = {}
        compactions = 0
        for i in range(20):
            batch = [(i * 10 + j, f"v{i}", 0) for j in range(3)]
            expect.update({k: s for k, s, _ in batch})
            if t.latest_version() is None:
                t.overwrite(_mk(spark, batch))
            else:
                t.append(_mk(spark, batch))
            r = t.auto_compact(spark, max_files=6)
            if r["compacted"]:
                compactions += 1
                # byte-identical across the compaction commit
                assert _rows(t.read(spark)) == expect
            counts = self._live_files(t)
            assert max(counts.values()) <= 6, counts
        assert compactions >= 2, compactions
        assert _rows(t.read(spark)) == expect
        # the policy is a no-op when nothing is fragmented
        v = t.latest_version()
        r = t.auto_compact(spark, max_files=6)
        assert not r["compacted"] and t.latest_version() == v

    def test_partitioned_cycle_uses_partition_scoped_optimize(
        self, spark, table_factory
    ):
        t = table_factory("t", partition_col="pb")
        expect = {}
        for i in range(12):
            batch = [(i * 10 + j, f"v{i}", j % 2) for j in range(4)]
            expect.update({k: s for k, s, _ in batch})
            if t.latest_version() is None:
                t.overwrite(_mk(spark, batch))
            else:
                t.append(_mk(spark, batch))
            t.auto_compact(spark, max_files=4)
            counts = self._live_files(t)
            assert max(counts.values()) <= 4, counts
        ops = [h["op"] for h in t.history()]
        assert "compact_parts" in ops and "compact" not in ops, ops
        assert _rows(t.read(spark)) == expect

    def test_vacuum_retention_reaps_dead_dirs(self, spark, table_factory):
        t = table_factory("t")
        t.overwrite(_mk(spark, [(1, "a", 0)]))
        for i in range(8):
            t.append(_mk(spark, [(10 + i, "b", 0)]))
        before = len(os.listdir(os.path.join(t.path, "data")))
        t.auto_compact(spark, max_files=2, vacuum_retention=0.0)
        after = len(os.listdir(os.path.join(t.path, "data")))
        assert after < before
        assert len(_rows(t.read(spark))) == 9


class TestMovingKeysMerge:
    """merge()'s default touched-partition discovery reads only the
    DELTA's partition values — correct under the documented invariant
    (partition col is a pure function of the key), silently duplicating
    when an update moves a row across partitions. moving_keys=True buys
    Delta-style discovery: one column-pruned probe finds the keys'
    CURRENT partitions and rewrites them too."""

    def _seed(self, spark, table_factory):
        t = table_factory("t", partition_col="pb")
        t.overwrite(
            _mk(spark, [(1, "a", 3), (2, "b", 3), (3, "c", 5)])
        )
        return t

    def test_default_documents_the_invariant(self, spark, table_factory):
        # the hazard the docstring states: without moving_keys, the
        # stale copy in the old partition survives (this test exists so
        # a silent behavior change in either direction fails loudly)
        t = self._seed(spark, table_factory)
        t.merge(spark, _mk(spark, [(1, "a2", 7)]), ["id"])
        got = sorted(
            (r["id"], r["s"], r["pb"]) for r in t.read(spark).collect()
        )
        assert got == [(1, "a", 3), (1, "a2", 7), (2, "b", 3), (3, "c", 5)]

    def test_moving_keys_rewrites_source_partition(
        self, spark, table_factory
    ):
        t = self._seed(spark, table_factory)
        live_before = t._read_entry(t.latest_version())["live"]
        t.merge(spark, _mk(spark, [(1, "a2", 7)]), ["id"], moving_keys=True)
        got = sorted(
            (r["id"], r["s"], r["pb"]) for r in t.read(spark).collect()
        )
        assert got == [(1, "a2", 7), (2, "b", 3), (3, "c", 5)]
        live_after = t._read_entry(t.latest_version())["live"]
        # partition 5 held no delta key: its pointer must be untouched
        assert live_after["5"] == live_before["5"]
        # partitions 3 (old home) and 7 (new home) were rewritten
        assert live_after["3"] != live_before["3"]
        assert "7" in live_after

    def test_moving_keys_noop_when_invariant_holds(
        self, spark, table_factory
    ):
        # keys that do NOT move: moving_keys adds no extra partitions
        # (probe finds the same partition the delta names) — same
        # result as the default path
        t = self._seed(spark, table_factory)
        t.merge(spark, _mk(spark, [(2, "B", 3)]), ["id"], moving_keys=True)
        got = sorted(
            (r["id"], r["s"], r["pb"]) for r in t.read(spark).collect()
        )
        assert got == [(1, "a", 3), (2, "B", 3), (3, "c", 5)]

    def test_moving_keys_drops_the_emptied_old_partition(
        self, spark, table_factory
    ):
        # key 3 was the only row of partition 5: its move leaves the
        # partition empty, so the commit drops the pointer
        t = self._seed(spark, table_factory)
        t.merge(spark, _mk(spark, [(3, "c2", 7)]), ["id"], moving_keys=True)
        got = sorted(
            (r["id"], r["s"], r["pb"]) for r in t.read(spark).collect()
        )
        assert got == [(1, "a", 3), (2, "b", 3), (3, "c2", 7)]
        assert sorted(t._read_entry(t.latest_version())["live"]) == [
            "3", "7",
        ]


def test_merge_probe_no_match_appends_pointers(spark, table_factory):
    """probe_no_match: an all-new-key delta lands as a pointer-list
    append (op 'append', existing pointers untouched), a matching delta
    falls back to the rewrite — identical table contents either way."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1)]))
    e0 = t._read_entry(t.latest_version())["live"]
    # disjoint keys -> pointer append
    t.merge(
        spark,
        _mk(spark, [(3, "c", 0), (4, "d", 1)]),
        ["id"],
        probe_no_match=True,
    )
    head = t.latest_version()
    entry = t._read_entry(head)
    assert entry["op"] == "append"
    # the prior pointers are still live (list-extended, not replaced)
    for p, old in e0.items():
        ptrs = txlog._ptrs(entry["live"][p])
        assert txlog._ptrs(old)[0] in ptrs and len(ptrs) == 2
    assert _rows(t.read(spark)) == {1: "a", 2: "b", 3: "c", 4: "d"}
    # overlapping keys -> the probe finds a match, normal rewrite
    t.merge(
        spark,
        _mk(spark, [(4, "D", 1), (5, "e", 1)]),
        ["id"],
        probe_no_match=True,
    )
    assert t._read_entry(t.latest_version())["op"] == "merge"
    assert _rows(t.read(spark)) == {
        1: "a", 2: "b", 3: "c", 4: "D", 5: "e",
    }


def test_merge_probe_no_match_unpartitioned_and_txn(spark, table_factory):
    t = table_factory("t")
    t.overwrite(_mk(spark, [(1, "a", 0)]))
    v = t.merge(
        spark, _mk(spark, [(2, "b", 0)]), ["id"],
        txn=("app", 7), probe_no_match=True,
    )
    assert t._read_entry(v)["op"] == "append"
    assert t._read_entry(v)["txn"] == {"app": 7}
    # idempotent replay is still a no-op
    assert (
        t.merge(
            spark, _mk(spark, [(2, "XX", 0)]), ["id"],
            txn=("app", 7), probe_no_match=True,
        )
        == v
    )
    assert _rows(t.read(spark)) == {1: "a", 2: "b"}


def _jobs_fired(spark, build):
    """(Spark jobs ``build()`` fired, its result): a job group around
    the call, counted by the status tracker."""
    sc = spark.sparkContext
    group = f"jobs-fired-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "job count")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_reads_take_the_schema_from_the_log(spark, table_factory):
    """Every scan reads at the schema the log entry records, so
    building a head read, a time-travel read and a change feed fires
    no Spark job — no schema inference, even on a table no read has
    touched yet — and the reads return the same rows across additive
    evolution, a widen_column, a merge-on-read delete and a key
    tombstone."""
    t = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1)]))
    assert _jobs_fired(spark, lambda: t.read(spark))[0] == 0
    r1 = _rows(t.read(spark))
    assert _rows(t.read(spark)) == r1 == {1: "a", 2: "b"}
    # additive evolution: old commits' files null-fill the new columns
    wide = spark.createDataFrame(
        [(3, "c", 0, 9.5, 7)], "id long, s string, pb long, x double, n int"
    )
    t.merge(spark, wide, ["id"], merge_schema=True)
    got = {
        (r["id"], r["s"], r["x"])
        for r in t.read(spark).collect()
    }
    assert got == {(1, "a", None), (2, "b", None), (3, "c", 9.5)}
    t.widen_column(spark, "n", "bigint")
    t.delete_where(spark, "id = 2", mode="mor")
    t.delete_keys(spark, spark.createDataFrame([(1,)], "id long"))
    jobs, (head, v1, feed) = _jobs_fired(spark, lambda: (
        t.read(spark),
        t.read(spark, version=1),
        t.read_changes(spark, ["id"], 1, include_deletes=True),
    ))
    assert jobs == 0
    assert dict(head.dtypes)["n"] == "bigint"
    assert {
        (r["id"], r["s"], r["x"], r["n"]) for r in head.collect()
    } == {(3, "c", 9.5, 7)}
    assert v1.columns == ["id", "s", "pb"] and _rows(v1) == {1: "a", 2: "b"}
    assert dict(feed.dtypes)["n"] == "bigint"
    assert {(r["id"], r["_change_type"]) for r in feed.collect()} == {
        (3, "insert"), (2, "delete"), (1, "delete"),
    }


def test_merge_schema_rebase_keeps_a_concurrent_added_column(
    spark, table_factory
):
    """Two merge_schema merges on disjoint partitions race: the one
    that staged first commits second, rebased on the other. It extends
    the schema of the head it commits on, so the column the other one
    added stays readable."""
    t = table_factory("t", partition_col="pb")
    other = table_factory("t", partition_col="pb")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1)]))
    stage = t._stage

    def racing_stage(df, sort_by=None):
        t._stage = stage
        other.merge(spark, spark.createDataFrame(
            [(2, "B", 1, 7)], "id long, s string, pb int, y int"
        ), ["id"], merge_schema=True)
        return stage(df, sort_by)

    t._stage = racing_stage
    v = t.merge(spark, spark.createDataFrame(
        [(1, "A", 0, 9.5)], "id long, s string, pb int, x double"
    ), ["id"], merge_schema=True)
    assert v == 3
    assert {
        r["id"]: (r["s"], r["x"], r["y"]) for r in t.read(spark).collect()
    } == {1: ("A", 9.5, None), 2: ("B", None, 7)}


def test_drop_column_refused_while_key_tombstones_match_on_it(
    spark, table_factory
):
    """A dropped column is no longer read, so a live key tombstone
    matching on it could not apply: the drop is refused until a
    compaction has applied the tombstones."""
    t = table_factory("t")
    t.overwrite(_mk(spark, [(1, "a", 0), (2, "b", 1)]))
    t.delete_keys(spark, spark.createDataFrame([("a",)], "s string"))
    with pytest.raises(ValueError, match="key tombstones"):
        t.drop_column(spark, "s")
    t.compact(spark)
    t.drop_column(spark, "s")
    got = t.read(spark)
    assert got.columns == ["id", "pb"]
    assert [r["id"] for r in got.collect()] == [2]


def test_log_without_schemas_reads_like_its_twin(spark, table_factory):
    """A log written before entries recorded their schema (here: the
    ``schema`` field stripped from every raw entry through the
    LogStore) reads through the fallback — one inference of the live
    snapshot, the ``widened`` map applied — and returns the same rows
    and dtypes as its unstripped twin: head, every version, and the
    change feed. Its next commit records the schema again."""
    def build(name):
        t = table_factory(name, partition_col="pb")
        t.overwrite(spark.createDataFrame(
            [(1, "a", 5, 0), (2, "b", 6, 1)],
            "id long, s string, n int, pb int",
        ))
        t.merge(spark, spark.createDataFrame(
            [(3, "c", 7, 2, 1.5)], "id long, s string, n int, pb int, x double"
        ), ["id"], merge_schema=True)
        t.widen_column(spark, "n", "bigint")
        t.append(spark.createDataFrame(
            [(4, "d", 2**40, 0, 2.5)],
            "id long, s string, n bigint, pb int, x double",
        ))
        return t

    twin, old = build("twin"), build("old")
    assert len({p["commit_dir"] for e in old._read_entry(4)["live"].values()
                for p in txlog._ptrs(e)}) >= 3
    for v in old._list_versions():
        raw = json.loads(old._store.read(old._entry_name(v)))
        assert raw.pop("schema")
        old._store.put(old._entry_name(v), json.dumps(raw).encode())
    old = table_factory("old", partition_col="pb")  # no memo
    assert "schema" not in json.loads(old._store.read(old._entry_name(4)))

    def same(a, b):
        assert a.dtypes == b.dtypes
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    same(old.read(spark), twin.read(spark))
    for v in range(1, 5):
        same(old.read(spark, version=v), twin.read(spark, version=v))
    for lo in (1, 2):
        same(
            old.read_changes(spark, ["id"], lo, include_deletes=True),
            twin.read_changes(spark, ["id"], lo, include_deletes=True),
        )
    more = spark.createDataFrame(
        [(5, "e", 9, 1, None)], "id long, s string, n bigint, pb int, x double"
    )
    old.append(more)
    twin.append(more)
    raw = json.loads(old._store.read(old._entry_name(5)))
    assert raw["schema"] == json.loads(
        twin._store.read(twin._entry_name(5))
    )["schema"]
    same(old.read(spark), twin.read(spark))
