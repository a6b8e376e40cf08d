"""Benchmark entry point.

    python3 perfbench/run.py --workload star_batch --seed 1 --seconds 30 --trace 0

Run from the root of a source checkout. Generates the workload's inputs
from ``--seed`` under ``.perfbench-run/``, starts a Spark session with
the engine's shipped defaults (``SPARK_GRAFT_CPUS`` = the machine's
CPU count), sets up the workload, times one cycle of it in
steal-adjusted CPU seconds, checks every output, and prints one JSON object as the last line of
standard output: the end-to-end metrics with ``--trace 0``, the
per-layer ledger with ``--trace 1``. ``--seconds`` is accepted and
recorded but does not set what is timed (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _stat(path: str) -> list[str] | None:
    """The fields of a /proc ``stat`` file after the command name."""
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def process_tree(root: int) -> list[tuple[int, list[str]]]:
    """(pid, stat fields) of ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (fields := _stat(f"/proc/{d}/stat")) is not None:
            children.setdefault(int(fields[1]), []).append(int(d))
            stats[int(d)] = fields
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
        todo.extend(children.get(pid, []))
    return out


# thread names (/proc/<pid>/task/<tid>/comm) of the JVM's JIT compilers
COMPILER_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class ProcSampler:
    """Reads this process and all its descendants (the JVM, the Python
    workers) from /proc: every 200 ms in a thread, and on demand.

    ``peak`` is the largest resident set seen. ``cpu()`` is the CPU time
    (user + system) the tree has used so far, adjusted for CPU steal:
    each interval between two samples counts the tree's CPU time times
    the share of the machine's CPU time (/proc/stat) that was not stolen
    by the hypervisor in that interval. On the shared host this was
    built on, the CPU time charged for the same work rose with the steal
    share (about as 1 / (1 - steal)); unadjusted, two sets of runs an
    hour apart differed by up to 26 %. CPU of processes that have ended
    counts through their parents' children-time fields (the
    spark-submit launcher JVM, Python workers).

    The JVM's JIT compiler threads compile in the background, after the
    code that asked for it: ``settle()`` waits until they have gone
    idle, so that a phase's CPU includes the compilation it triggered
    and the next phase's does not (the read phase, last, is read as it
    ends). Their CPU is accumulated from every sample (compiler threads
    come and go; one that ends between two samples loses at most 200 ms
    of it) and reported as ``jit_cpu()``.
    """

    def __init__(self):
        self.peak = 0
        self.jit_ticks = 0
        self.adjusted = 0.0
        self._last: tuple[int, list[int]] | None = None
        self._jit_seen: dict[tuple[int, str], int] = {}
        self._is_jit: dict[tuple[int, str], bool] = {}
        self._lock = threading.Lock()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> int:
        """CPU ticks of the tree so far, JIT included; updates ``peak``
        and ``jit_ticks``."""
        total = rss = 0
        for pid, f in process_tree(os.getpid()):
            total += sum(int(x) for x in f[11:15])
            rss += int(f[21])
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                key = (pid, tid)
                if key not in self._is_jit:
                    try:
                        with open(f"/proc/{pid}/task/{tid}/comm") as c:
                            self._is_jit[key] = c.read().startswith(COMPILER_THREADS)
                    except OSError:
                        continue
                if self._is_jit[key] and (t := _stat(f"/proc/{pid}/task/{tid}/stat")):
                    ticks = int(t[11]) + int(t[12])
                    self.jit_ticks += ticks - self._jit_seen.get(key, 0)
                    self._jit_seen[key] = ticks
        self.peak = max(self.peak, rss * self._page)
        machine = cpu_times()
        if self._last is not None:
            ticks0, machine0 = self._last
            delta = [b - a for a, b in zip(machine0, machine)]
            stolen = delta[7] / sum(delta) if sum(delta) else 0.0
            self.adjusted += (total - ticks0) * (1.0 - stolen)
        self._last = (total, machine)
        return total

    def cpu(self) -> float:
        """Steal-adjusted CPU seconds of the tree so far."""
        with self._lock:
            self._sample()
            return self.adjusted / self._tick

    def settle(self, quiet: float = 0.7, limit: float = 20.0) -> float:
        """Wait until the JIT compiler threads have used no CPU for
        ``quiet`` seconds, at most ``limit`` seconds; return the wait."""
        t0 = time.perf_counter()
        last, since = self.jit_cpu(), t0
        while time.perf_counter() - t0 < limit:
            time.sleep(0.1)
            now = self.jit_cpu()
            if now != last:
                last, since = now, time.perf_counter()
            elif time.perf_counter() - since >= quiet:
                break
        return time.perf_counter() - t0

    def jit_cpu(self) -> float:
        """CPU seconds of the JIT compiler threads seen so far."""
        with self._lock:
            self._sample()
            return self.jit_ticks / self._tick

    def _loop(self):
        while not self._stop.wait(0.2):
            with self._lock:
                self._sample()

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join()


def cpu_times() -> list[int]:
    """The machine's aggregate CPU time counters (/proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def dir_bytes(paths) -> int:
    total = 0
    for p in paths:
        for dirpath, _dirs, files in os.walk(p):
            for f in files:
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


class DirSnapshot:
    """Files under some directories; ``advance`` returns the (count,
    bytes) of files that appeared since the previous call."""

    def __init__(self, paths):
        self.paths = paths
        self.seen = self._files()

    def _files(self) -> dict[str, int]:
        out = {}
        for p in self.paths:
            for dirpath, _dirs, files in os.walk(p):
                for f in files:
                    full = os.path.join(dirpath, f)
                    try:
                        out[full] = os.path.getsize(full)
                    except FileNotFoundError:
                        pass
        return out

    def advance(self) -> tuple[int, int]:
        now = self._files()
        new = [size for f, size in now.items() if f not in self.seen]
        self.seen = now
        return len(new), sum(new)


class Context:
    """What a workload needs: the session, its inputs, the tracer and
    the CPU clock."""

    def __init__(self, seed: int, work: str, tracer, proc: ProcSampler):
        self.seed = seed
        self.work = work
        self.raw = os.path.join(work, "raw")
        self.tracer = tracer
        self.spark = None
        self.cpu, self.settle = proc.cpu, proc.settle
        import __spark_entry__
        from de_final_project_spark.sources import sinks

        self.entry = __spark_entry__
        self.sinks = sinks


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM
    and every process under it (the Python workers) have exited."""
    import signal

    from pyspark import SparkContext

    started = [pid for pid, _f in process_tree(os.getpid()) if pid != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in started:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    # Fails here, before any work, outside a full source checkout.
    import de_final_project_spark  # noqa: F401

    from perfbench import gen
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cpus = str(os.cpu_count() or 1)
    work = os.path.join(ROOT, ".perfbench-run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # the JVM that spark-submit runs to build the driver's command line
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    import tempfile

    tempfile.tempdir = tmp

    tracer = Tracer(enabled=bool(args.trace))
    proc = ProcSampler()
    ctx = Context(args.seed, work, tracer, proc)
    wl = WORKLOADS[args.workload](ctx)
    spark = None
    context: dict = {}
    try:
        t_gen = time.perf_counter()
        gen.generate(ctx.raw, args.seed, gen.sizes_for(wl.scale, wl.documents, wl.embeddings))
        context.update(generate_s=time.perf_counter() - t_gen, nproc=int(cpus),
                       loadavg_before=os.getloadavg())
        cpu0 = cpu_times()
        proc.start()
        from de_final_project_spark.session import get_spark

        t0, c_setup = time.perf_counter(), proc.cpu()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                # keep the JVM's temp files, perf-counter file included,
                # out of the machine's /tmp
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        tracer.attach(spark)
        fixture_s = wl.setup()
        context["settle_s"] = [proc.settle()]
        setup_cpu_s = proc.cpu() - c_setup
        tracer.collect()

        # one timed cycle, whatever --seconds says: a loop that ran until
        # a time had passed would average in other cycles (warmer ones,
        # ones past a compaction) once the engine got faster
        files = DirSnapshot(wl.table_dirs()) if tracer.enabled else None
        wl.reports.clear()
        t_loop = time.perf_counter()
        jit0 = proc.jit_cpu()
        with tracer.span("op") as op:
            sample = wl.cycle()
        loop_s = time.perf_counter() - t_loop
        jit_s = proc.jit_cpu() - jit0
        if tracer.enabled:
            tracer.collect()
            wl.reports[-1]["written"] = files.advance()

        t_check = time.perf_counter()
        errors = wl.check()
        context["check_s"] = time.perf_counter() - t_check
        # machine context, not a metric: bench.py's CPU probe, run on the
        # warm session after the checks so it costs ~1 s, not ~5 s
        import bench

        t_cal = time.perf_counter()
        context["calibration_sec"] = bench._calibration_sec(spark)
        context["calibration_s"] = time.perf_counter() - t_cal
        storage = dir_bytes(wl.table_dirs())
        summary = {"freshness_s": sample["refresh"], "read_s": sample["read"],
                   "refresh_cpu_s": sample["refresh_cpu"], "read_cpu_s": sample["read_cpu"],
                   "jit_cpu_s": jit_s}
        if args.trace:
            from perfbench.ledger import Ledger

            ledger = Ledger(tracer, wl, [op], summary, proc)
            metrics = ledger.metrics()
            ledger.dump(os.path.join(
                ROOT, ".perfbench-run", f"trace-{args.workload}-{args.seed}.json"), metrics)
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            _stop(spark)
        context["stop_s"] = time.perf_counter() - t_stop
        proc.stop()
        shutil.rmtree(work, ignore_errors=True)
    context["loadavg_after"] = os.getloadavg()
    # share of CPU time the hypervisor gave to other guests during the run
    delta = [b - a for a, b in zip(cpu0, cpu_times())]
    context["cpu_steal_share"] = delta[7] / sum(delta) if sum(delta) else 0.0
    context["run_s"] = time.perf_counter() - t_main

    # the gated timings are steal-adjusted CPU seconds of the process
    # tree: on a shared host the wall times of the same work swing with
    # CPU steal (see perfbench/README.md); the wall times are recorded
    # beside them
    end_to_end = {
        "setup_s": (setup_cpu_s, "s"),
        "refresh_cpu_s": (summary["refresh_cpu_s"], "s"),
        "read_cpu_s": (summary["read_cpu_s"], "s"),
        "storage_mb": (storage / 2**20, "MB"),
    }
    context.update(
        seconds_arg=args.seconds, peak_rss_mb=proc.peak / 2**20,
        workload=args.workload, seed=args.seed,
        session_s=session_s, fixture_s=fixture_s, setup_wall_s=session_s + fixture_s,
        freshness_s=summary["freshness_s"], read_s=summary["read_s"],
        cycle_jit_cpu_s=summary["jit_cpu_s"], cycle_settle_s=sample["settle"],
        loop_s=loop_s, errors=errors[:20],
        end_to_end={k: v for k, (v, _u) in end_to_end.items()},
    )
    print("context " + json.dumps(context))
    if not args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    attempted = wl.ops_per_cycle + wl.n_checks
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
