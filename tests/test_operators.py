"""Unit tests for the core operators: keep-latest dedup semantics
(tie-breaking, null ordering) and sequence keys — the semantic traps
called out in SURVEY.md §5/§7.4."""

import pyspark.sql.functions as F

from de_final_project_spark.operators.dedup import keep_latest
from de_final_project_spark.operators.surrogate import (
    add_sequence_key,
    add_sequence_key_distributed,
    zip_with_index_key,
)


def test_keep_latest_picks_max_order(spark):
    df = spark.createDataFrame(
        [(1, "old", 1), (1, "new", 2), (2, "only", 5)], "k long, v string, ver long"
    )
    out = {r.k: r.v for r in keep_latest(df, "k", "ver").collect()}
    assert out == {1: "new", 2: "only"}


def test_keep_latest_tie_breaks_deterministically(spark):
    # Same version -> tie broken by remaining columns descending.
    df = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 1)], "k long, v string, ver long"
    )
    out = keep_latest(df, "k", "ver").collect()
    assert len(out) == 1 and out[0].v == "b"


def test_keep_latest_nulls_lose(spark):
    # A NULL version must lose to any non-NULL version.
    df = spark.createDataFrame(
        [(1, "versioned", 7), (1, "unversioned", None)], "k long, v string, ver long"
    )
    assert keep_latest(df, "k", "ver").collect()[0].v == "versioned"


def test_keep_latest_multi_order_cols(spark):
    # Secondary order column (batch id) decides when primary ties — the
    # engine's replacement for pandas positional keep='last'.
    df = spark.createDataFrame(
        [(1, "batch1", 1, "2024-01-01"), (1, "batch2", 1, "2024-01-02")],
        "k long, v string, ver long, _batch_ts string",
    )
    assert keep_latest(df, "k", ["ver", "_batch_ts"]).collect()[0].v == "batch2"


def test_add_sequence_key_dense_ordered(spark):
    df = spark.createDataFrame([(30,), (10,), (20,)], "x long")
    out = add_sequence_key(df, "id", "x").orderBy("id").collect()
    assert [(r.id, r.x) for r in out] == [(1, 10), (2, 20), (3, 30)]
    assert out[0].__fields__[0] == "id"  # key is first column


def test_add_sequence_key_distributed_matches_single_window(spark):
    # 5000 rows with heavy duplication on the sort key: the distributed
    # range-partitioned ranking must produce the same (key, x) multiset
    # as the global-window version.
    df = spark.range(5000).select(
        (F.col("id") % 977).alias("x"), (F.col("id") % 7).alias("y")
    ).repartition(13)
    a = sorted(
        tuple(r) for r in add_sequence_key(df, "sk", ["x", "y"]).collect()
    )
    b = sorted(
        tuple(r)
        for r in add_sequence_key_distributed(df, "sk", ["x", "y"]).collect()
    )
    assert a == b
    assert [r[0] for r in b] == list(range(1, 5001))


def test_zip_with_index_key_dense_unique(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "x long").repartition(7)
    out = zip_with_index_key(df, "id").collect()
    ids = sorted(r.id for r in out)
    assert ids == list(range(1, 101))
    assert {r.x for r in out} == set(range(100))


def test_keep_latest_is_distributed(spark):
    # 1000 rows, 10 keys, shuffled over partitions — result independent of
    # physical layout.
    df = (
        spark.range(1000)
        .select(
            (F.col("id") % 10).alias("k"),
            F.col("id").alias("ver"),
            (F.col("id") * 2).alias("v"),
        )
        .repartition(13)
    )
    out = {r.k: r.ver for r in keep_latest(df, "k", "ver").collect()}
    assert out == {k: 990 + k for k in range(10)}


def test_read_csv_robust_quarantines_bad_rows(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructType

    from de_final_project_spark.sources.readers import read_csv_robust

    p = tmp_path / "data.csv"
    p.write_text("id,name\n1,alice\nnot_a_number,bob\n3,carol\n")
    schema = (
        StructType().add("id", LongType(), True).add("name", StringType(), True)
    )
    clean, corrupt = read_csv_robust(spark, str(p), schema)
    assert sorted((r["id"], r["name"]) for r in clean.collect()) == [
        (1, "alice"),
        (3, "carol"),
    ]
    bad = corrupt.collect()
    assert len(bad) == 1 and "not_a_number" in bad[0][0]


def test_merged_user_snapshot_delta_wins(spark):
    """One row per user; from_delta true exactly for users with any
    event in the delta half; every from_delta row's event_id is past
    the cut."""
    from de_final_project_spark.operators.txlog import merged_user_snapshot
    from de_final_project_spark.sources.readers import read_testdata

    sf = "/root/testdata/sf0.001"
    snap = merged_user_snapshot(spark, sf).cache()
    ev = read_testdata(spark, sf, "events")
    lo, hi = ev.agg(F.min("event_id"), F.max("event_id")).first()
    cut = (lo + hi) // 2
    assert snap.count() == ev.select("user_id").distinct().count()
    delta_users = {
        r.user_id
        for r in ev.where(F.col("event_id") > cut).select("user_id").distinct().collect()
    }
    for r in snap.collect():
        assert r.from_delta == (r.user_id in delta_users)
        if r.from_delta:
            assert r.event_id > cut
    snap.unpersist()


# ------------------------------------------------------ quantile sketch
def test_hq_sketch_merges_by_addition(spark):
    """Two shards sketched under the SAME boundaries merge by summing
    counts — map-side combine is the merge."""
    import pyspark.sql.functions as F

    from de_final_project_spark.operators import sketches as sk

    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 201)], "x double"
    )
    qmin = 1 * sk.HQ_SCALE
    span = 200 * sk.HQ_SCALE - qmin + 1
    whole = {
        r["bucket"]: r["cnt"]
        for r in sk.hq_counts(df, "x", qmin, span).collect()
    }
    a = sk.hq_counts(df.where("x <= 87"), "x", qmin, span).collect()
    b = sk.hq_counts(df.where("x > 87"), "x", qmin, span).collect()
    merged: dict = {}
    for r in list(a) + list(b):
        merged[r["bucket"]] = merged.get(r["bucket"], 0) + r["cnt"]
    assert merged == whole


def test_hq_quantile_estimates_within_one_bucket(spark):
    """Estimates are monotone in phi, land inside their bucket, and sit
    within one bucket width of the exact percentile."""
    from de_final_project_spark.operators import sketches as sk

    sf = "/root/testdata/sf0.001"
    rows = {r["phi"]: r for r in sk.value_quantile_sketch(spark, sf).collect()}
    assert set(rows) == set(sk.HQ_PHIS)
    from de_final_project_spark.sources.readers import read_testdata

    vals = sorted(
        r[0]
        for r in read_testdata(spark, sf, "lineitem")
        .select("l_extendedprice")
        .collect()
    )
    prev = None
    for phi in sorted(rows):
        r = rows[phi]
        assert r["bucket_lo"] <= r["est"] <= r["bucket_hi"]
        if prev is not None:
            assert r["est"] >= prev
        prev = r["est"]
        exact = vals[r["rank"] - 1]
        width = r["bucket_hi"] - r["bucket_lo"]
        assert abs(r["est"] - exact) <= width
