"""The benchmark's own tests: seeded inputs, span arithmetic, the
correctness checks, and a short smoke run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import glob
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import cdc, checks, gen, index, star  # noqa: E402
from perfbench.spans import Span, Tracer, clip, union_length  # noqa: E402


def _orders(tmp_path, seed):
    gen.generate(str(tmp_path), seed, gen.sizes_for(0.001))
    import pyarrow.parquet as pq

    return cdc._rows(pq.read_table(str(tmp_path / "orders.parquet")).to_pydict())


# ---------------------------------------------------------------- inputs
def test_same_seed_same_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.generate(str(a), 7, gen.sizes_for(0.001, 50, 50))
    gen.generate(str(b), 7, gen.sizes_for(0.001, 50, 50))
    for f in sorted(os.listdir(a)):
        assert (a / f).read_bytes() == (b / f).read_bytes(), f


def test_generated_tables_have_the_test_data_shape(tmp_path):
    """Row counts per scale as in the engine's test data (sf0.001: 150
    customers, 1 500 orders, 6 000 line items, 1 000 events), no NULLs,
    line items spread uniformly over orders (some have none), events
    from a tenth of the customers."""
    import duckdb

    gen.generate(str(tmp_path), 2, gen.sizes_for(0.001, 50, 50))
    con = duckdb.connect()

    def one(sql):
        return con.execute(sql.replace("T(", f"read_parquet('{tmp_path}/").replace(
            ")T", ".parquet')")).fetchone()

    assert one("SELECT count(*) FROM T(customer)T")[0] == 150
    assert one("SELECT count(*) FROM T(orders)T")[0] == 1500
    assert one("SELECT count(*) FROM T(lineitem)T")[0] == 6000
    assert one("SELECT count(*) FROM T(events)T")[0] == 1000
    for t in checks.TABLES:
        cols = [r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')").fetchall()]
        nulls = one("SELECT " + " + ".join(f'count(*) - count("{c}")' for c in cols)
                    + f" FROM T({t})T")[0]
        assert nulls == 0, t
    without = one("SELECT count(*) FROM T(orders)T WHERE o_orderkey NOT IN "
                  "(SELECT l_orderkey FROM T(lineitem)T)")[0]
    assert 0 < without < 100  # Poisson(4) lines per order: ~1.8 % have none
    assert one("SELECT max(user_id) FROM T(events)T")[0] < 15


def test_change_windows_follow_the_seed(tmp_path):
    rows = _orders(tmp_path, 1)
    w1, live1 = cdc.change_windows(5, rows, 150, 6)
    w2, live2 = cdc.change_windows(5, rows, 150, 6)
    w3, _ = cdc.change_windows(6, rows, 150, 6)
    assert w1 == w2 and live1 == live2
    assert w1 != w3
    assert all(w["merge"] and w["delete"] and w["update"] for w in w1)


def test_change_model_tracks_every_kind(tmp_path):
    rows = _orders(tmp_path, 1)
    (w,), live = cdc.change_windows(3, rows, 150, 1)
    before = {r[0] for r in rows}
    assert not set(w["delete"]) & set(live)
    merged = {r[0]: r[1:] for r in w["merge"]}
    assert set(merged) - before and set(merged) & before  # inserts and updates
    for k, row in merged.items():
        if k not in w["delete"] and k not in w["update"]:
            assert live[k] == row
    assert all(live[k][1] == w["price"] for k in w["update"])
    assert len(live) == len(before) + len(set(merged) - before) - len(w["delete"])


def test_arrival_window_follows_the_seed():
    docs, vecs = index.arrival_window(1, 100, 100)
    assert (docs, vecs) == index.arrival_window(1, 100, 100)
    assert (docs, vecs) != index.arrival_window(2, 100, 100)
    for ids in (docs, vecs):
        assert len(ids) == len(set(ids)) and min(ids) >= 100 * index.BUILD_SHARE
        # out of order: the window's ids leave gaps in the id sequence
        assert max(ids) - min(ids) + 1 > len(ids)


# ---------------------------------------------------------------- spans
def test_union_counts_overlap_once():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10
    assert union_length([]) == 0
    assert clip([(0, 4), (6, 9)], 2, 7) == [(2, 4), (6, 7)]


def _tracer_with(spans, jobs):
    t = Tracer(enabled=True)
    for i, (name, parent, s, e) in enumerate(spans):
        t.spans.append(Span(id=i, name=name, parent=parent, start=s, end=e))
    for jid, (owner, s, e) in enumerate(jobs):
        t.jobs[jid] = {"jobId": jid, "_start": s, "_end": e, "stageIds": [],
                       "numCompletedTasks": 1, "numSkippedStages": 0}
        t.spans[owner].jobs.append(jid)
    return t


def test_driver_time_unions_concurrent_jobs():
    # one 10 s span; two jobs overlap (run_concurrently), a third is later
    t = _tracer_with([("op", None, 0.0, 10.0)],
                     [(0, 1.0, 4.0), (0, 2.0, 5.0), (0, 7.0, 8.0)])
    assert t.spark_s(t.spans[0]) == pytest.approx(5.0)
    assert t.driver_s(t.spans[0]) == pytest.approx(5.0)


def test_self_time_and_child_jobs():
    t = _tracer_with(
        [("op", None, 0.0, 10.0), ("a", 0, 1.0, 4.0), ("b", 0, 3.0, 6.0),
         ("c", 1, 1.5, 2.0)],
        [(1, 1.0, 2.0), (3, 1.6, 1.9), (2, 5.0, 7.0)])
    op = t.spans[0]
    assert t.self_s(op) == pytest.approx(5.0)          # children cover 1..6
    assert t.self_s(t.spans[1]) == pytest.approx(2.5)
    assert len(t.span_jobs(op)) == 3
    # job 2 runs past its span's end: only the part inside counts
    assert t.spark_s(t.spans[2]) == pytest.approx(1.0)
    assert t.spark_s(op) == pytest.approx(1.0 + 2.0)


def test_jobs_go_to_the_innermost_open_span(monkeypatch):
    t = Tracer(enabled=True)
    t._rest = "unused"
    t.spans = [Span(0, "op", None, 0.0, 10.0), Span(1, "txlog.commit.merge", 0, 2.0, 4.0)]
    stamps = {"a": "1970-01-01T00:00:01.000GMT", "b": "1970-01-01T00:00:03.000GMT",
              "c": "1970-01-01T00:00:03.500GMT"}
    jobs = [{"jobId": 0, "submissionTime": stamps["a"], "completionTime": stamps["b"]},
            {"jobId": 1, "submissionTime": stamps["b"], "completionTime": stamps["c"]}]
    monkeypatch.setattr(t, "_get", lambda what: jobs if what == "jobs" else [])
    t.collect()
    assert t.spans[0].jobs == [0] and t.spans[1].jobs == [1]


def test_cpu_clock_discounts_stolen_time(monkeypatch):
    from perfbench import run

    # the tree's utime+stime+cutime+cstime ticks, and the machine's
    # /proc/stat counters (steal is the eighth), at three samples
    ticks = iter([100, 200, 300])
    machine = iter([[0] * 8, [60, 0, 0, 40, 0, 0, 0, 0], [110, 0, 0, 40, 0, 0, 0, 50]])
    monkeypatch.setattr(run, "process_tree", lambda root: [
        (root, ["S", "1"] + ["0"] * 9 + [str(next(ticks)), "0", "0", "0"] + ["0"] * 7)])
    monkeypatch.setattr(run, "cpu_times", lambda: next(machine))
    monkeypatch.setattr(os, "listdir", lambda path: [])
    proc = run.ProcSampler()
    tick = os.sysconf("SC_CLK_TCK")
    assert proc.cpu() == 0.0
    assert proc.cpu() == pytest.approx(100 / tick)          # no steal: all of it
    assert proc.cpu() == pytest.approx((100 + 100 * 0.5) / tick)  # half stolen


# ---------------------------------------------------------------- checks
def test_compare_catches_a_corrupted_result():
    good = (["k", "v"], [(1, 2.5), (2, None)])
    assert checks.compare("t", good, (["v", "k"], [(None, 2), (2.5, 1)])) == []
    assert checks.compare("t", good, (["k", "v"], [(1, 2.5), (2, 0.0)]))
    assert checks.compare("t", good, (["k", "v"], [(1, 2.5)]))
    assert checks.compare("t", good, (["k", "w"], [(1, 2.5), (2, None)]))


def test_model_summary_rounds_half_up_from_the_shortest_repr():
    from decimal import Decimal

    assert cdc.model_summary({1: (0, 0.125, "F", "1"), 2: (0, 2.675, "F", "1")}) == (
        2, Decimal("0.13") + Decimal("2.68"), 3)


def _declared(kind: str) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


def test_ledger_names_every_declared_per_layer_metric():
    from perfbench.ledger import METRICS

    assert [name for name, _unit, _moves in METRICS] == _declared("per_layer")


# ---------------------------------------------------------------- smoke
def _smoke(monkeypatch, capsys, workload, trace):
    import tempfile

    from perfbench import run
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[workload]
    monkeypatch.setattr(cls, "scale", 0.001)
    # run.main points these at its own work directory; restore them after
    for var in ("PYTHONPATH", "TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_CPUS"):
        monkeypatch.setenv(var, os.environ.get(var, ""))
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    assert run.main(["--workload", workload, "--seed", "3", "--seconds", "1",
                     "--trace", str(trace)]) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["star_batch", "cdc_refresh"])
def test_smoke_run(monkeypatch, capsys, workload):
    out = _smoke(monkeypatch, capsys, workload, trace=1)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    m = out["metrics"]
    assert m["trace.coverage"]["value"] >= 0.95
    assert m["spark.jobs"]["value"] > 0
    if workload == "cdc_refresh":
        # every index refresh (a build) touched exactly the corpus
        for k in ("neardup.signed_per_doc", "searchidx.tokenized_per_doc",
                  "semdedup.assigned_per_vec"):
            assert m[k]["value"] == 1.0, k
        assert m["txlog.commit_s.append"]["value"] > 0


def test_star_check_fails_on_a_corrupted_gold_table(monkeypatch, capsys):
    seen = {}
    real = star.StarBatch.check

    def corrupt_then_check(self):
        import pyarrow.parquet as pq

        path = max(glob.glob(os.path.join(self.gold, "dim_part", "*.parquet")),
                   key=lambda f: pq.read_metadata(f).num_rows)
        t = pq.read_table(path)
        pq.write_table(t.slice(0, t.num_rows - 1), path)
        seen["errors"] = real(self)
        return seen["errors"]

    monkeypatch.setattr(star.StarBatch, "check", corrupt_then_check)
    out = _smoke(monkeypatch, capsys, "star_batch", trace=0)
    assert sorted(out["metrics"]) == sorted(_declared("end_to_end"))
    assert not out["correct"] and out["failed"] >= 1
    assert any("dim_part" in e for e in seen["errors"])
