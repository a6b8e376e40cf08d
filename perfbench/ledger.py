"""The per-layer ledger of a traced run.

Layers are the engine's own modules; a span's name says which one the
benchmark called into (``plans.q5_revenue_by_nation``,
``txlog.commit.merge``, ``neardup.refresh``, ...). Timings and Spark
counters are given per timed cycle (one build plus one query pass for
``star_batch``, one change window for ``cdc_refresh``) unless the name
says otherwise.
Every workload reports every metric; a layer a workload does not call
reads 0.
"""

from __future__ import annotations

import json
import os
import statistics

MB = 2**20
COMMIT_KINDS = ("append", "merge", "delete", "update")
INDEX_FAMILIES = ("neardup", "searchidx", "semdedup")
# (per-layer metric, unit, the end-to-end metric it should move)
METRICS = [
    ("plans.plan_s", "s", "refresh_cpu_s, read_cpu_s on star_batch"),
    ("plans.eager_jobs", "count", "refresh_cpu_s, read_cpu_s on star_batch"),
    ("sinks.write_s", "s", "refresh_cpu_s on star_batch"),
    ("sinks.files", "count", "refresh_cpu_s, storage_mb on star_batch"),
    ("sinks.mb", "MB", "refresh_cpu_s, storage_mb on star_batch"),
    ("spark.jobs", "count", "every timing on every workload"),
    ("spark.stages", "count", "every timing on every workload"),
    ("spark.tasks", "count", "every timing on every workload"),
    ("spark.tasks_per_job", "count", "every timing on every workload"),
    ("spark.executor_cpu_s", "s", "every timing on every workload"),
    ("spark.gc_s", "s", "every timing on every workload"),
    ("spark.shuffle_mb", "MB", "every timing on every workload"),
    ("spark.input_mb", "MB", "every timing on every workload"),
    ("spark.spill_mb", "MB", "every timing on every workload"),
    ("spark.driver_s", "s", "every timing on every workload"),
    ("spark.refresh_jobs", "count", "refresh_cpu_s on every workload"),
    ("spark.refresh_driver_s", "s", "refresh_cpu_s on every workload"),
    ("spark.read_jobs", "count", "read_cpu_s on every workload"),
    ("spark.read_driver_s", "s", "read_cpu_s on every workload"),
    *[(f"txlog.commit_s.{k}", "s", "refresh_cpu_s on cdc_refresh") for k in COMMIT_KINDS],
    ("txlog.commit_jobs", "count", "refresh_cpu_s on cdc_refresh"),
    ("txlog.commit_driver_s", "s", "refresh_cpu_s on cdc_refresh"),
    ("txlog.compact_s", "s", "refresh_cpu_s on cdc_refresh"),
    ("txlog.compactions", "count", "refresh_cpu_s, storage_mb on cdc_refresh"),
    ("txlog.log_entries", "count", "read_cpu_s, storage_mb on cdc_refresh"),
    ("txlog.checkpoints", "count", "read_cpu_s, storage_mb on cdc_refresh"),
    ("txlog.live_files_max", "count", "read_cpu_s on cdc_refresh"),
    ("txlog.read_s", "s", "read_cpu_s on cdc_refresh"),
    ("ivm.refresh_s", "s", "refresh_cpu_s on cdc_refresh"),
    ("ivm.refresh_jobs", "count", "refresh_cpu_s on cdc_refresh"),
    ("ivm.refresh_driver_s", "s", "refresh_cpu_s on cdc_refresh"),
    ("ivm.delta_share", "ratio", "refresh_cpu_s on cdc_refresh"),
    *[m for f in INDEX_FAMILIES for m in (
        (f"{f}.refresh_s", "s", "refresh_cpu_s on cdc_refresh"),
        (f"{f}.jobs", "count", "refresh_cpu_s on cdc_refresh"),
        (f"{f}.driver_s", "s", "refresh_cpu_s on cdc_refresh"),
    )],
    ("searchidx.bm25_s", "s", "read_cpu_s on cdc_refresh"),
    ("semdedup.executor_cpu_s", "s", "refresh_cpu_s on cdc_refresh"),
    ("neardup.signed_per_doc", "ratio", "refresh_cpu_s on cdc_refresh"),
    ("searchidx.tokenized_per_doc", "ratio", "refresh_cpu_s on cdc_refresh"),
    ("semdedup.assigned_per_vec", "ratio", "refresh_cpu_s on cdc_refresh"),
    ("storage.mb_written", "MB", "storage_mb, refresh_cpu_s on cdc_refresh"),
    ("storage.files_written", "count", "storage_mb, refresh_cpu_s on cdc_refresh"),
    ("process.peak_rss_mb", "MB", "memory of the whole process tree; too noisy to gate"),
    ("process.jit_cpu_s", "s", "CPU of the JVM's JIT compilers in the timed cycle; left out of the timings"),

    ("trace.coverage", "ratio", "share of timed wall inside layer spans"),
    ("trace.freshness_s", "s", "wall time of the timed refresh phase, under tracing"),
    ("trace.read_s", "s", "wall time of the timed read phase, under tracing"),
    ("trace.refresh_cpu_s", "s", "refresh_cpu_s measured under tracing"),
    ("trace.read_cpu_s", "s", "read_cpu_s measured under tracing"),
]


def txlog_stats(wl) -> dict:
    """Log entries and parquet checkpoints on disk across the workload's
    versioned tables, and the largest live file count of any partition
    of any table at its head (from ``live_files_df``)."""
    entries = checkpoints = 0
    for root in wl.table_dirs():
        for dirpath, _dirs, files in os.walk(root):
            if os.path.basename(dirpath) == "_txlog":
                entries += sum(f[:-5].isdigit() for f in files if f.endswith(".json"))
                checkpoints += sum(f.endswith(".checkpoint.parquet") for f in files)
    live_max = 0
    for table in wl.versioned_tables():
        for row in table.live_files_df(wl.ctx.spark).collect():
            ptrs = json.loads(row["pointer_json"])
            n = 0
            for ptr in ptrs if isinstance(ptrs, list) else [ptrs]:
                if ptr.get("files") is not None:
                    n += len(ptr["files"])
                else:
                    d = os.path.join(table.path, ptr["commit_dir"], ptr.get("part_dir", ""))
                    n += sum(f.endswith(".parquet") for f in os.listdir(d))
            live_max = max(live_max, n)
    return {"txlog.log_entries": entries, "txlog.checkpoints": checkpoints,
            "txlog.live_files_max": live_max}


class Ledger:
    """Per-layer numbers from the spans under the timed ``op`` spans."""

    def __init__(self, tracer, workload, ops, end_to_end: dict, proc):
        self.proc = proc
        self.t = tracer
        self.wl = workload
        self.ops = ops
        self.e2e = end_to_end
        self.n = len(ops)
        inside = set()
        for op in ops:
            inside.update(d.id for d in tracer.descendants(op))
        self.spans = [s for s in tracer.spans if s.id in inside]

    def _named(self, prefix: str):
        return [s for s in self.spans if s.name == prefix or s.name.startswith(prefix + ".")]

    def _wall(self, spans) -> float:
        return sum(s.wall for s in spans)

    def _jobs(self, spans) -> list[dict]:
        return [j for s in spans for j in self.t.span_jobs(s)]

    def _driver(self, spans) -> float:
        return sum(self.t.driver_s(s) for s in spans)

    def metrics(self) -> dict:
        t, n = self.t, self.n
        jobs = self._jobs(self.ops)
        out: dict[str, float] = {}
        plans = self._named("plans")
        out["plans.plan_s"] = self._wall(plans) / n
        out["plans.eager_jobs"] = len(self._jobs(plans)) / n
        sinks = self._named("sinks")
        out["sinks.write_s"] = self._wall(sinks) / n
        gold = [os.path.join(d, f) for d in self.wl.sink_dirs()
                for f in os.listdir(d) if f.endswith(".parquet")]
        out["sinks.files"] = len(gold)
        out["sinks.mb"] = sum(os.path.getsize(f) for f in gold) / MB
        n_jobs = len(jobs)
        tasks = sum(j["numCompletedTasks"] for j in jobs)
        out["spark.jobs"] = n_jobs / n
        out["spark.stages"] = sum(
            len(j["stageIds"]) - j["numSkippedStages"] for j in jobs) / n
        out["spark.tasks"] = tasks / n
        out["spark.tasks_per_job"] = tasks / n_jobs if n_jobs else 0.0
        out["spark.executor_cpu_s"] = t.stage_sum(jobs, "executorCpuTime") / 1e9 / n
        out["spark.gc_s"] = t.stage_sum(jobs, "jvmGcTime") / 1e3 / n
        out["spark.shuffle_mb"] = (
            t.stage_sum(jobs, "shuffleReadBytes") + t.stage_sum(jobs, "shuffleWriteBytes")
        ) / MB / n
        out["spark.input_mb"] = t.stage_sum(jobs, "inputBytes") / MB / n
        out["spark.spill_mb"] = (
            t.stage_sum(jobs, "memoryBytesSpilled") + t.stage_sum(jobs, "diskBytesSpilled")
        ) / MB / n
        out["spark.driver_s"] = self._driver(self.ops) / n
        for phase in ("refresh", "read"):
            ph = [s for s in self.spans if s.name == phase]
            out[f"spark.{phase}_jobs"] = len(self._jobs(ph)) / n
            out[f"spark.{phase}_driver_s"] = self._driver(ph) / n

        commits = self._named("txlog.commit")
        for k in COMMIT_KINDS:
            ks = [s for s in commits if s.name == f"txlog.commit.{k}"]
            out[f"txlog.commit_s.{k}"] = statistics.fmean(s.wall for s in ks) if ks else 0.0
        out["txlog.commit_jobs"] = len(self._jobs(commits)) / len(commits) if commits else 0.0
        out["txlog.commit_driver_s"] = self._driver(commits) / len(commits) if commits else 0.0
        out["txlog.compact_s"] = self._wall(self._named("txlog.auto_compact")) / n
        out["txlog.compactions"] = sum(r.get("compactions", 0) for r in self.wl.reports)
        out.update(txlog_stats(self.wl))
        out["txlog.read_s"] = self._wall(
            self._named("txlog.read") + self._named("txlog.read_changes")) / n

        ivm = self._named("ivm.refresh")
        out["ivm.refresh_s"] = self._wall(ivm) / n
        out["ivm.refresh_jobs"] = len(self._jobs(ivm)) / n
        out["ivm.refresh_driver_s"] = self._driver(ivm) / n
        modes = [m for r in self.wl.reports for m in r.get("view_modes", ())]
        out["ivm.delta_share"] = modes.count("delta") / len(modes) if modes else 0.0

        for f in INDEX_FAMILIES:
            sp = self._named(f"{f}.refresh")
            out[f"{f}.refresh_s"] = self._wall(sp) / n
            out[f"{f}.jobs"] = len(self._jobs(sp)) / n
            out[f"{f}.driver_s"] = self._driver(sp) / n
        out["searchidx.bm25_s"] = self._wall(self._named("searchidx.bm25_topk")) / n
        out["semdedup.executor_cpu_s"] = t.stage_sum(
            self._jobs(self._named("semdedup.refresh")), "executorCpuTime") / 1e9 / n
        for key, (done, size) in (
            ("neardup.signed_per_doc", ("signed", "docs")),
            ("searchidx.tokenized_per_doc", ("tokenized", "docs")),
            ("semdedup.assigned_per_vec", ("assigned", "vecs")),
        ):
            d = sum(r.get(done, 0) for r in self.wl.reports)
            s = sum(r.get(size, 0) for r in self.wl.reports)
            out[key] = d / s if s else 0.0

        written = [r.get("written", (0, 0)) for r in self.wl.reports]
        out["storage.mb_written"] = sum(b for _f, b in written) / MB / max(1, len(written))
        out["storage.files_written"] = sum(f for f, _b in written) / max(1, len(written))

        from perfbench.spans import clip, union_length

        # timed wall: the refresh and read phases (the waits for the JIT
        # to settle between them are outside both)
        phases = [s for s in self.spans if s.name in ("refresh", "read")]
        op_wall = self._wall(phases)
        covered = 0.0
        for ph in phases:
            layer = [(s.start, s.end) for s in t.descendants(ph)]
            covered += union_length(clip(layer, ph.start, ph.end))
        out["trace.coverage"] = covered / op_wall if op_wall else 0.0
        out["process.peak_rss_mb"] = self.proc.peak / MB
        out["process.jit_cpu_s"] = self.e2e["jit_cpu_s"]

        out["trace.freshness_s"] = self.e2e["freshness_s"]
        out["trace.read_s"] = self.e2e["read_s"]
        out["trace.refresh_cpu_s"] = self.e2e["refresh_cpu_s"]
        out["trace.read_cpu_s"] = self.e2e["read_cpu_s"]
        return {name: {"value": float(out[name]), "unit": unit} for name, unit, _m in METRICS}

    def table(self) -> list[dict]:
        """Self time, driver time and jobs per span name, per cycle: the
        per-layer table the README prints."""
        rows: dict[str, dict] = {}
        for s in self.spans:
            r = rows.setdefault(s.name, {"span": s.name, "calls": 0, "wall_s": 0.0,
                                         "self_s": 0.0, "driver_s": 0.0, "jobs": 0})
            r["calls"] += 1
            r["wall_s"] += s.wall / self.n
            r["self_s"] += self.t.self_s(s) / self.n
            r["driver_s"] += self.t.driver_s(s) / self.n
            r["jobs"] += len(s.jobs) / self.n
        return sorted(rows.values(), key=lambda r: -r["wall_s"])

    def dump(self, path: str, metrics: dict) -> None:
        """Write the trace, the per-span table and ``metrics`` once."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**self.t.as_dict(), "table": self.table(), "metrics": metrics},
                      f, indent=1)
