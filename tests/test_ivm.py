"""Incremental materialized-view maintenance (operators/ivm.py).

The maintenance invariant under test everywhere: after any DML
sequence on the base, the incrementally-refreshed view equals a full
re-aggregation of the base head — including the NULL-SUM and
vanished-group edges where naive delta arithmetic diverges."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from de_final_project_spark.operators.ivm import IncrementalAggView
from de_final_project_spark.operators.txlog import VersionedTable


def _base(spark, tmp_path, rows):
    t = VersionedTable(str(tmp_path / "base"), partition_col="pb")
    t.overwrite(
        spark.createDataFrame(rows, "id long, g string, v double").withColumn(
            "pb", F.col("id") % 2
        )
    )
    return t


def _view(base, tmp_path, aggs=None):
    return IncrementalAggView(
        base,
        str(tmp_path / "mv"),
        keys=["id"],
        group_by=["g"],
        aggs=aggs
        or {"cnt": ("count", ""), "sv": ("sum", "CAST(v AS DECIMAL(12,2))")},
    )


def _recompute(base, spark, view):
    return {
        tuple(r[g] for g in view.group_by): tuple(r[c] for c in view.aggs)
        for r in base.read(spark)
        .groupBy(*view.group_by)
        .agg(
            *[
                F.count(F.lit(1)).alias(c)
                if kind == "count"
                else getattr(F, kind)(F.expr(e)).alias(c)
                for c, (kind, e) in view.aggs.items()
            ]
        )
        .collect()
    }


def _state(view, spark):
    return {
        tuple(r[g] for g in view.group_by): tuple(r[c] for c in view.aggs)
        for r in view.read(spark).collect()
    }


def test_delta_matches_recompute_through_dml(spark, tmp_path):
    base = _base(
        spark,
        tmp_path,
        [(i, "ab"[i % 2], float(i)) for i in range(20)],
    )
    view = _view(base, tmp_path)
    assert view.refresh(spark)["mode"] == "full"
    base.append(
        spark.createDataFrame(
            [(i, "c", 1.5 * i) for i in range(20, 30)],
            "id long, g string, v double",
        ).withColumn("pb", F.col("id") % 2)
    )
    assert view.refresh(spark)["mode"] == "delta"
    base.delete_where(spark, "id % 3 = 0", mode="mor")
    assert view.refresh(spark)["mode"] == "delta"
    base.update_where(spark, "id % 4 = 1", {"v": F.col("v") + 100}, mode="mor")
    assert view.refresh(spark)["mode"] == "delta"
    assert _state(view, spark) == _recompute(base, spark, view)


def test_refresh_is_idempotent_noop(spark, tmp_path):
    base = _base(spark, tmp_path, [(1, "a", 1.0), (2, "b", 2.0)])
    view = _view(base, tmp_path)
    view.refresh(spark)
    head = view.mv.latest_version()
    assert view.refresh(spark)["mode"] == "noop"
    assert view.mv.latest_version() == head
    # a replayed delta (same base version) is absorbed by the txn stamp
    base.append(
        spark.createDataFrame([(3, "a", 3.0)], "id long, g string, v double")
        .withColumn("pb", F.col("id") % 2)
    )
    view.refresh(spark)
    head = view.mv.latest_version()
    assert view.refresh(spark)["mode"] == "noop"
    assert view.mv.latest_version() == head


def test_null_sum_group_stays_null_then_fills(spark, tmp_path):
    base = _base(spark, tmp_path, [(1, "a", None), (2, "a", None)])
    view = _view(base, tmp_path)
    view.refresh(spark)
    assert _state(view, spark) == {("a",): (2, None)}
    base.append(
        spark.createDataFrame([(3, "a", 5.0)], "id long, g string, v double")
        .withColumn("pb", F.col("id") % 2)
    )
    assert view.refresh(spark)["mode"] == "delta"
    ((cnt, sv),) = _state(view, spark).values()
    assert (cnt, float(sv)) == (3, 5.0)
    # removing the only non-null value returns the SUM to NULL
    base.delete_where(spark, "id = 3", mode="mor")
    view.refresh(spark)
    assert _state(view, spark) == {("a",): (2, None)}


def test_vanished_group_row_is_deleted(spark, tmp_path):
    base = _base(spark, tmp_path, [(1, "a", 1.0), (2, "b", 2.0), (4, "b", 4.0)])
    view = _view(base, tmp_path)
    view.refresh(spark)
    base.delete_where(spark, "g = 'b'")
    assert view.refresh(spark)["mode"] == "delta"
    assert set(_state(view, spark)) == {("a",)}


def test_new_group_inserts(spark, tmp_path):
    base = _base(spark, tmp_path, [(1, "a", 1.0)])
    view = _view(base, tmp_path)
    view.refresh(spark)
    base.append(
        spark.createDataFrame(
            [(2, "z", 7.0), (3, "z", None)], "id long, g string, v double"
        ).withColumn("pb", F.col("id") % 2)
    )
    view.refresh(spark)
    st = _state(view, spark)
    assert st[("a",)][0] == 1 and st[("z",)][0] == 2
    assert float(st[("z",)][1]) == 7.0


def test_null_group_key_raises(spark, tmp_path):
    base = _base(spark, tmp_path, [(1, "a", 1.0)])
    view = _view(base, tmp_path)
    view.refresh(spark)
    base.append(
        spark.createDataFrame([(2, None, 2.0)], "id long, g string, v double")
        .withColumn("pb", F.col("id") % 2)
    )
    with pytest.raises(ValueError, match="NULL group key"):
        view.refresh(spark)


def test_rescan_minmax_survives_extremum_delete(spark, tmp_path):
    base = _base(
        spark, tmp_path, [(i, "ab"[i % 2], float(i)) for i in range(1, 11)]
    )
    view = _view(
        base,
        tmp_path,
        aggs={"cnt": ("count", ""), "mn": ("min", "v"), "mx": ("max", "v")},
    )
    view.refresh(spark)
    # delete both extremes of group 'a' (min id=2, max id=10): the
    # runner-up values must surface — delta arithmetic cannot do this
    base.delete_where(spark, "id IN (2, 10)", mode="mor")
    assert view.refresh(spark)["mode"] == "rescan"
    assert _state(view, spark) == _recompute(base, spark, view)
    # untouched-group guarantee: 'b' rows never entered the recompute
    base.update_where(spark, "g = 'a'", {"v": F.col("v") * 10})
    view.refresh(spark)
    assert _state(view, spark) == _recompute(base, spark, view)


def test_rescan_vanished_group_deleted(spark, tmp_path):
    base = _base(spark, tmp_path, [(1, "a", 1.0), (2, "b", 2.0)])
    view = _view(base, tmp_path, aggs={"mn": ("min", "v")})
    view.refresh(spark)
    base.delete_where(spark, "g = 'b'")
    assert view.refresh(spark)["mode"] == "rescan"
    assert set(_state(view, spark)) == {("a",)}


def test_rescan_backslash_group_key_is_not_dropped(spark, tmp_path):
    """A group key holding a backslash must not reach the pushed-down
    IN list: Spark's parser reads '\\b' in a literal as a backspace, so
    the scan would miss the group and the rescan would treat it as
    vanished."""
    base = _base(
        spark, tmp_path,
        [(1, "a\\b", 1.0), (2, "a\\b", 2.0), (3, "x", 3.0), (4, "x", 4.0)],
    )
    view = _view(base, tmp_path, aggs={"mn": ("min", "v"), "mx": ("max", "v")})
    view.refresh(spark)
    base.delete_where(spark, "id IN (1, 3)")
    assert view.refresh(spark)["mode"] == "rescan"
    assert view.verify(spark)
    assert _state(view, spark)[("a\\b",)] == (2.0, 2.0)


def _stream_fold(spark, base, mv_path, ckpt):
    """Run the availableNow change-feed stream folding into an MV at
    mv_path (maxVersionsPerTrigger=1 forces one micro-batch per
    commit)."""
    from de_final_project_spark.operators.ivm import IncrementalAggView
    from de_final_project_spark.streaming.change_source import (
        read_change_feed,
    )

    def apply_batch(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        view = IncrementalAggView(
            VersionedTable(base.path, partition_col="pb"),
            mv_path,
            keys=["id"],
            group_by=["g"],
            aggs={"cnt": ("count", ""), "sv": ("sum", "CAST(v AS DECIMAL(12,2))")},
        )
        for v in sorted(
            r[0] for r in batch_df.select("_commit_version").distinct().collect()
        ):
            view.fold_changes(
                s,
                batch_df.where(F.col("_commit_version") == v).drop(
                    "_commit_version"
                ),
                v,
            )

    q = (
        read_change_feed(spark, base.path, max_versions_per_trigger=1)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_streamed_fold_matches_recompute_and_replays_idempotently(
    spark, tmp_path
):
    base = _base(
        spark, tmp_path, [(i, "ab"[i % 2], float(i)) for i in range(12)]
    )
    base.append(
        spark.createDataFrame(
            [(i, "c", 2.0 * i) for i in range(12, 18)],
            "id long, g string, v double",
        ).withColumn("pb", F.col("id") % 2)
    )
    base.update_where(spark, "id % 4 = 0", {"v": F.col("v") + 10}, mode="mor")
    base.delete_where(spark, "id % 5 = 3", mode="mor")
    mv_path = str(tmp_path / "smv")
    _stream_fold(spark, base, mv_path, str(tmp_path / "ckpt1"))
    view = _view(base, tmp_path)
    view.mv = VersionedTable(mv_path)
    assert _state(view, spark) == _recompute(base, spark, view)
    # one fold commit per base version (maxVersionsPerTrigger=1)
    head = view.mv.latest_version()
    assert head == base.latest_version()
    # checkpoint loss: a fresh stream from version 0 replays every
    # window; the per-version txn stamps absorb all of them
    _stream_fold(spark, base, mv_path, str(tmp_path / "ckpt2"))
    assert view.mv.latest_version() == head
    assert _state(view, spark) == _recompute(base, spark, view)


def test_transform_filter_and_join_maintains(spark, tmp_path):
    """A row-local transform (filter + broadcast dim join) applies
    identically to the full build and to every signed feed row."""
    dim = spark.createDataFrame(
        [("a", "east"), ("b", "west"), ("c", "east")], "g string, region string"
    )
    base = _base(
        spark, tmp_path, [(i, "abc"[i % 3], float(i)) for i in range(18)]
    )
    view = IncrementalAggView(
        base,
        str(tmp_path / "mv"),
        keys=["id"],
        group_by=["region"],
        aggs={"cnt": ("count", ""), "sv": ("sum", "CAST(v AS DECIMAL(12,2))")},
        transform=lambda df: df.where(F.col("v") >= 2).join(
            F.broadcast(dim), "g"
        ),
    )
    view.refresh(spark)
    base.delete_where(spark, "id % 4 = 2", mode="mor")
    base.update_where(spark, "id % 5 = 1", {"v": F.col("v") * 3}, mode="mor")
    assert view.refresh(spark)["mode"] == "delta"
    got = {r["region"]: (r["cnt"], float(r["sv"])) for r in view.read(spark).collect()}
    want = {
        r["region"]: (r["cnt"], float(r["sv"]))
        for r in view.transform(base.read(spark))
        .groupBy("region")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.expr("CAST(v AS DECIMAL(12,2))")).alias("sv"),
        )
        .collect()
    }
    assert got == want


def test_transform_dropping_change_type_raises(spark, tmp_path):
    base = _base(spark, tmp_path, [(1, "a", 1.0), (2, "b", 2.0)])
    view = _view(base, tmp_path)
    view.transform = lambda df: df.select("g", "v")
    view.mv.overwrite(
        spark.createDataFrame(
            [("a", 1, 1.0, 1, 1)],
            f"g string, cnt long, sv double, _ivm_n long, _ivm_nn_sv long",
        ),
        txn=("ivm", 1),
    )
    base.append(
        spark.createDataFrame([(3, "a", 3.0)], "id long, g string, v double")
        .withColumn("pb", F.col("id") % 2)
    )
    with pytest.raises(ValueError, match="_change_type"):
        view.refresh(spark)


def test_fold_changes_rejects_minmax_view(spark, tmp_path):
    base = _base(spark, tmp_path, [(1, "a", 1.0)])
    view = _view(base, tmp_path, aggs={"mn": ("min", "v")})
    with pytest.raises(ValueError, match="self-maintainable"):
        view.fold_changes(
            spark,
            base.read(spark).withColumn("_change_type", F.lit("insert")),
            1,
        )


def test_cascaded_view_catches_up_across_lag(spark, tmp_path):
    """Tier 2 (an MV over tier 1's table) may lag several tier-1
    commits; one refresh folds the whole window."""
    base = _base(
        spark, tmp_path, [(i, "ab"[i % 2], float(i)) for i in range(10)]
    )
    tier1 = _view(base, tmp_path)
    # grand total via a constant group key (the merge join needs a key)
    tier2 = IncrementalAggView(
        tier1.mv,
        str(tmp_path / "mv2"),
        keys=["g"],
        group_by=["grp"],
        aggs={"total_cnt": ("sum", "cnt"), "total_sv": ("sum", "sv")},
        transform=lambda df: df.withColumn("grp", F.lit("all")),
    )
    tier1.refresh(spark)
    tier2.refresh(spark)
    # two tier-1 commits while tier 2 sleeps
    base.append(
        spark.createDataFrame(
            [(10, "c", 10.0), (11, "a", 11.0)], "id long, g string, v double"
        ).withColumn("pb", F.col("id") % 2)
    )
    tier1.refresh(spark)
    base.delete_where(spark, "id % 2 = 0")
    tier1.refresh(spark)
    assert tier2.refresh(spark)["mode"] == "delta"
    row = tier2.read(spark).first()
    n = base.read(spark).count()
    sv = base.read(spark).agg(
        F.sum(F.expr("CAST(v AS DECIMAL(12,2))"))
    ).first()[0]
    assert (row["total_cnt"], row["total_sv"]) == (n, sv)


def test_view_time_travel_keeps_old_state(spark, tmp_path):
    """The view is itself a VersionedTable: the pre-refresh snapshot
    stays readable at its old version."""
    base = _base(spark, tmp_path, [(1, "a", 1.0)])
    view = _view(base, tmp_path)
    view.refresh(spark)
    v1 = view.mv.latest_version()
    base.append(
        spark.createDataFrame([(2, "a", 2.0)], "id long, g string, v double")
        .withColumn("pb", F.col("id") % 2)
    )
    view.refresh(spark)
    old = view.mv.read(spark, version=v1).select("cnt").first()[0]
    new = view.mv.read(spark).select("cnt").first()[0]
    assert (old, new) == (1, 2)


def test_count_distinct_rescans_and_matches(spark, tmp_path):
    base = _base(
        spark,
        tmp_path,
        [(i, "ab"[i % 2], float(i % 3)) for i in range(12)],
    )
    view = _view(
        base,
        tmp_path,
        aggs={"cnt": ("count", ""), "nv": ("count_distinct", "v")},
    )
    assert view.refresh(spark)["mode"] == "full"
    # deleting every v=0 row of group 'a' must drop its distinct count
    base.delete_where(spark, "g = 'a' AND v = 0", mode="mor")
    assert view.refresh(spark)["mode"] == "rescan"
    st = {r["g"]: (r["cnt"], r["nv"]) for r in view.read(spark).collect()}
    want = {
        r["g"]: (r["cnt"], r["nv"])
        for r in base.read(spark)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("v").alias("nv"),
        )
        .collect()
    }
    assert st == want
    assert view.verify(spark)


def test_verify_detects_tampering(spark, tmp_path):
    base = _base(spark, tmp_path, [(1, "a", 1.0), (2, "b", 2.0)])
    view = _view(base, tmp_path)
    view.refresh(spark)
    assert view.verify(spark)
    # tamper: double one count via a raw merge on the view table
    tampered = view.mv.read(spark).withColumn(
        "cnt", F.col("cnt") + F.when(F.col("g") == "a", 1).otherwise(0)
    )
    # no txn stamp: a stamped overwrite at the applied version would be
    # absorbed as an idempotent replay (that's the point of the stamp)
    view.mv.overwrite(tampered)
    assert not view.verify(spark)


def test_refresh_pins_base_version_against_racing_writer(spark, tmp_path):
    """A commit landing between latest_version() and the recompute read
    must not leak into a refresh stamped with the earlier version."""
    base = _base(spark, tmp_path, [(1, "a", 1.0), (2, "a", 5.0)])
    view = _view(base, tmp_path, aggs={"mn": ("min", "v")})
    view.refresh(spark)
    base.delete_where(spark, "id = 1", mode="mor")  # min becomes 5.0
    v_target = base.latest_version()
    # simulate the race: another writer appends AFTER the refresh's
    # target version is chosen — monkeypatch latest_version to return
    # the stale head the refresh observed
    orig = base.latest_version
    base.latest_version = lambda: v_target
    try:
        racer = VersionedTable(base.path, partition_col="pb")
        racer.append(
            spark.createDataFrame(
                [(3, "a", 0.25)], "id long, g string, v double"
            ).withColumn("pb", F.col("id") % 2)
        )
        view.refresh(spark)
    finally:
        base.latest_version = orig
    # the refresh was stamped v_target and must show min=5.0 (the racing
    # 0.25 row belongs to the NEXT refresh)
    assert view.applied_version() == v_target
    assert _state(view, spark) == {("a",): (5.0,)}
    view.refresh(spark)
    assert _state(view, spark) == {("a",): (0.25,)}


def _join_setup(spark, tmp_path):
    from de_final_project_spark.operators.ivm import IncrementalJoinAggView

    fact = VersionedTable(str(tmp_path / "fact"), partition_col="pb")
    fact.overwrite(
        spark.createDataFrame(
            [(i, i % 4, float(i)) for i in range(1, 9)],
            "id long, k long, v double",
        ).withColumn("pb", F.col("id") % 2)
    )
    dim = VersionedTable(str(tmp_path / "dim"))
    dim.overwrite(
        spark.createDataFrame(
            [(0, "g0"), (1, "g1"), (2, "g2")], "k long, grp string"
        )
    )
    view = IncrementalJoinAggView(
        fact,
        dim,
        str(tmp_path / "mv"),
        fact_keys=["id"],
        dim_keys=["k"],
        on=("k", "k"),
        group_by=["grp"],
        aggs={"cnt": ("count", ""), "sv": ("sum", "CAST(v AS DECIMAL(12,2))")},
    )
    return fact, dim, view


def test_join_view_dim_insert_adopts_orphan_facts(spark, tmp_path):
    """Facts referencing a missing dim key (k=3) contribute nothing
    until the dim key is inserted — then one refresh adopts them."""
    fact, dim, view = _join_setup(spark, tmp_path)
    view.refresh(spark)
    st = _state(view, spark)
    assert set(st) == {("g0",), ("g1",), ("g2",)}  # k=3 facts orphaned
    dim.append(spark.createDataFrame([(3, "g3")], "k long, grp string"))
    assert view.refresh(spark)["mode"] == "delta"
    st = _state(view, spark)
    assert st[("g3",)][0] == 2  # ids 3 and 7
    assert view.verify(spark)


def test_join_view_dim_delete_drops_group(spark, tmp_path):
    fact, dim, view = _join_setup(spark, tmp_path)
    view.refresh(spark)
    dim.delete_where(spark, "k = 1")
    assert view.refresh(spark)["mode"] == "delta"
    assert ("g1",) not in _state(view, spark)
    assert view.verify(spark)


def test_join_view_simultaneous_churn_is_exact(spark, tmp_path):
    """Both feeds in ONE window, including a fact row whose dim row
    changes in the same window (the correlation the two-term identity
    must cover without a ΔF⋈ΔD term)."""
    fact, dim, view = _join_setup(spark, tmp_path)
    view.refresh(spark)
    # same window: fact id=1 (k=1) updates value; dim k=1 moves group;
    # fact id=2 deletes; dim k=2 deletes (dropping ids 2*,6)
    fact.update_where(spark, "id = 1", {"v": F.col("v") + 100}, mode="mor")
    fact.delete_where(spark, "id = 2", mode="mor")
    dim.update_where(spark, "k = 1", {"grp": "'moved'"}, mode="mor")
    dim.delete_where(spark, "k = 2", mode="mor")
    assert view.refresh(spark)["mode"] == "delta"
    assert view.verify(spark), _state(view, spark)


def test_join_view_rejects_minmax(spark, tmp_path):
    from de_final_project_spark.operators.ivm import IncrementalJoinAggView

    fact, dim, _ = _join_setup(spark, tmp_path)
    with pytest.raises(ValueError, match="self-maintainable"):
        IncrementalJoinAggView(
            fact, dim, str(tmp_path / "mv2"),
            fact_keys=["id"], dim_keys=["k"], on=("k", "k"),
            group_by=["grp"], aggs={"mn": ("min", "v")},
        )


def test_join_view_group_by_shared_key_name(spark, tmp_path):
    """fact_on == dim_on with group_by referencing the key: a
    name-based drop would remove BOTH copies and lose the fact-side
    key (ADVICE r9); the reference-based drop keeps exactly one."""
    from de_final_project_spark.operators.ivm import IncrementalJoinAggView

    fact, dim, _ = _join_setup(spark, tmp_path)
    view = IncrementalJoinAggView(
        fact, dim, str(tmp_path / "mv_bykey"),
        fact_keys=["id"], dim_keys=["k"], on=("k", "k"),
        group_by=["k"],
        aggs={"cnt": ("count", ""), "sv": ("sum", "CAST(v AS DECIMAL(12,2))")},
    )
    view.refresh(spark)
    st = _state(view, spark)
    assert set(st) == {(0,), (1,), (2,)}  # k=3 orphaned (no dim row)
    fact.delete_where(spark, "id = 1", mode="mor")  # k=1 loses id 1
    assert view.refresh(spark)["mode"] == "delta"
    assert view.verify(spark), _state(view, spark)


def test_hidden_counter_name_collisions_rejected(spark, tmp_path):
    """Outputs or group keys colliding with the per-column hidden
    maintenance counters (_ivm_nn_<col>, _ivm_s2_<col>, or any _ivm_
    prefix) must be rejected at construction (ADVICE r9)."""
    base = _base(spark, tmp_path, [(1, "a", 1.0)])
    for bad_aggs in (
        # an output named exactly the hidden non-null counter of x
        {"x": ("sum", "v"), "_ivm_nn_x": ("count", "")},
        # ...or the hidden sum-of-squares of x
        {"x": ("var_pop", "v"), "_ivm_s2_x": ("count", "")},
        # ...or anything in the reserved prefix
        {"_ivm_anything": ("count", "")},
    ):
        with pytest.raises(ValueError, match="collides"):
            IncrementalAggView(
                base, str(tmp_path / "mv_bad"), keys=["id"],
                group_by=["g"], aggs=bad_aggs,
            )
    with pytest.raises(ValueError, match="collides"):
        IncrementalAggView(
            base, str(tmp_path / "mv_bad2"), keys=["id"],
            group_by=["_ivm_nn_x"], aggs={"x": ("sum", "v")},
        )


def test_moments_view_null_and_vanish_edges(spark, tmp_path):
    """AVG/VAR_POP through the NULL-group and vanished-group edges:
    an all-NULL group reads NULL moments, filling it flips to values,
    and deleting every row of a group removes it."""
    base = _base(spark, tmp_path, [(1, "a", None), (2, "b", 3.0)])
    view = _view(
        base,
        tmp_path,
        aggs={
            "av": ("avg", "CAST(v AS DECIMAL(12,2))"),
            "vr": ("var_pop", "CAST(v AS DECIMAL(12,2))"),
        },
    )
    assert view.refresh(spark)["mode"] == "full"
    st = _state(view, spark)
    assert st[("a",)] == (None, None)
    assert st[("b",)] == (3.0, 0.0)
    base.append(
        spark.createDataFrame([(3, "a", 5.0, 1), (4, "b", 1.0, 0)],
                              "id long, g string, v double, pb long")
    )
    assert view.refresh(spark)["mode"] == "delta"
    st = _state(view, spark)
    assert st[("a",)] == (5.0, 0.0)
    assert st[("b",)] == (2.0, 1.0)  # mean 2, var ((3-2)^2+(1-2)^2)/2
    base.delete_where(spark, "g = 'a'", mode="mor")
    assert view.refresh(spark)["mode"] == "delta"
    assert ("a",) not in _state(view, spark)
    assert view.verify(spark)
