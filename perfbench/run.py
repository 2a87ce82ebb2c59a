#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's registered operator keys.

One client runs one key at a time through the engine's public surface:
``session.get_spark`` (at ``local[--cores]``), ``QUERIES[key](spark,
sf_dir)`` (construction), a ``noop``-sink write (final action) and
``parity.check_key`` (output check against the DuckDB oracle).

    python3 perfbench/run.py --workload mr_sql --seed 1 --seconds 10 --trace 0

A run sets up (imports, session, then one output-check pass over the
workload's keys, which doubles as the untimed warm-up), then runs timed
passes over the keys, in an order permuted by ``--seed``: ``TIMED_PASSES``
of them, and more until ``--seconds`` have elapsed.  The last stdout line
is one JSON object: end-to-end metrics with ``--trace 0``, per-layer
metrics from a traced run with ``--trace 1``; a traced run also writes its
spans to stderr as one JSON line at exit.  README.md defines every metric.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up is timed from process start

import sys  # noqa: E402

sys.dont_write_bytecode = True  # a run leaves no __pycache__ in the checkout

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import tempfile  # noqa: E402
from collections import defaultdict  # noqa: E402
from types import SimpleNamespace  # noqa: E402

import meters  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Each key's metrics are its median over the first TIMED_PASSES timed passes,
# so every run takes them at the same depth of JVM warm-up, however fast the
# passes are.  Passes after these (made only while --seconds has not passed)
# appear in the info line but not in the metrics.
TIMED_PASSES = 3


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=2, help="k of local[k]")
    args = p.parse_args(argv)
    if args.seconds <= 0 or not 1 <= args.cores <= os.cpu_count():
        p.error("--seconds must be > 0 and --cores within 1..nproc")
    return args


def isolate(run_dir: str, cores: int) -> None:
    """Point every scratch path of the run into ``run_dir`` and pin the session.

    Write-path keys make ``tmrs_<tag>_<pid>`` dirs under
    ``tempfile.gettempdir()`` and keep them; Spark spills and shuffles to
    ``SPARK_LOCAL_DIRS``; relative paths (``spark-warehouse``) land in the
    working directory.  All three are inside ``run_dir``, which the caller
    deletes.
    """
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(run_dir, "local"))
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} " + os.environ.get("JAVA_TOOL_OPTIONS", ""),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYTHONDONTWRITEBYTECODE="1",
    )
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run_dir)


def cleanup(run_dir: str) -> None:
    """Delete ``run_dir``, then its parents up to the checkout while they are empty."""
    os.chdir(ROOT)
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in (os.path.dirname(run_dir), os.path.dirname(os.path.dirname(run_dir))):
        try:
            os.rmdir(d)
        except OSError:
            break


class TimedOracle:
    """DuckDB connection for ``parity.check_key`` that times the oracle side.

    The oracle runs once per invocation, inside the output-check pass, and
    its time is kept out of ``setup_s``.
    """

    def __init__(self, con):
        self._con = con
        self.seconds = 0.0

    def execute(self, sql: str) -> SimpleNamespace:
        t = time.perf_counter()
        pdf = self._con.execute(sql).fetchdf()
        self.seconds += time.perf_counter() - t
        return SimpleNamespace(fetchdf=lambda: pdf)


class Spans:
    """Trace spans held in memory: (id, parent, name, start, end), epoch seconds."""

    def __init__(self):
        self.rows: list[tuple[int, int | None, str, float, float]] = []

    def add(self, parent: int | None, name: str, start: float, end: float = float("nan")) -> int:
        self.rows.append((len(self.rows), parent, name, start, end))
        return len(self.rows) - 1

    def close(self, span: int, end: float) -> None:
        self.rows[span] = (*self.rows[span][:4], end)

    def dump(self) -> None:
        """Write the spans to stderr as one JSON line."""
        keys = ("id", "parent", "name", "start", "end")
        spans = [dict(zip(keys, r)) for r in self.rows]
        # on a line of its own: Spark's progress bar leaves stderr mid-line
        print("\n" + json.dumps({"spans": spans}, separators=(",", ":")), file=sys.stderr, flush=True)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Bench:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.keys = WORKLOADS[args.workload].keys
        self.data = os.path.join(HERE, "data", WORKLOADS[args.workload].data)
        self.rng = random.Random(args.seed)
        self.trace = bool(args.trace)
        self.spans = Spans()
        self.attempted = self.failed = 0
        self.samples: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
        self.peaks: dict[str, float] = defaultdict(float)
        self.pids: set[tuple[int, int]] = set()  # every process of the run's tree

    def order(self) -> list[str]:
        return self.rng.sample(self.keys, len(self.keys))

    def fail(self, key: str, why: str) -> None:
        self.failed += 1
        print(f"perfbench: {key}: {why}", file=sys.stderr, flush=True)

    def cpu(self) -> meters.TreeCpu:
        c = meters.tree_cpu()
        self.pids |= c.pids
        return c

    # -- phases --------------------------------------------------------------

    def run(self) -> dict:
        sys.path.insert(0, ROOT)
        from task_mapreduce_spark import QUERIES
        from task_mapreduce_spark.parity import check_key, duck_con
        from task_mapreduce_spark.session import get_spark

        self.queries = QUERIES
        t_import = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        t_session = time.perf_counter()
        try:
            self.status = meters.StatusReader(self.sc)
            self.jmx = meters.Jmx(self.spark._jvm) if self.trace else None
            oracle = TimedOracle(duck_con(self.data))
            self.check(check_key, oracle)
            t_ready = time.perf_counter()
            setup = {
                "setup_s": t_ready - T_PROCESS - oracle.seconds,
                "session.import_s": t_import - T_PROCESS,
                "session.start_s": t_session - t_import,
                "session.warmup_s": t_ready - t_session - oracle.seconds,
                "check.oracle_s": oracle.seconds,
            }
            passes, window = self.timed()
        finally:
            self.shutdown()
        return self.result(setup, passes, window)

    def check(self, check_key, oracle: TimedOracle) -> None:
        """Output check of every key; also the run's untimed warm-up."""
        for key in self.order():
            group = f"check:{key}"
            self.sc.setJobGroup(group, group)
            self.attempted += 1
            try:
                errs = check_key(self.spark, oracle, key, self.data)
            except Exception as exc:  # noqa: BLE001 - a failing key is counted, not fatal
                errs = [f"{type(exc).__name__}: {exc}"]
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.status.read(group)
            if errs:
                self.fail(key, "; ".join(errs)[:2000])

    def timed(self) -> tuple[int, float]:
        steal0, all0 = meters.host_cpu()
        if self.jmx:
            self.jmx.reset_heap_peak()
        run_span = self.spans.add(None, "run", time.time())
        t0 = time.perf_counter()
        passes = 0
        while passes < TIMED_PASSES or time.perf_counter() - t0 < self.args.seconds:
            p_span = self.spans.add(run_span, f"pass{passes}", time.time())
            for key in self.order():
                self.run_key(key, passes, p_span)
            self.spans.close(p_span, time.time())
            passes += 1
        window = time.perf_counter() - t0
        self.spans.close(run_span, time.time())
        steal1, all1 = meters.host_cpu()
        self.steal_frac = (steal1 - steal0) / max(all1 - all0, 1)
        self.peaks["host.steal_frac"] = self.steal_frac
        if self.jmx:
            self.peaks["jvm.heap_peak_mb"] = self.jmx.heap_peak_mb()
        return passes, window

    def run_key(self, key: str, n: int, parent: int) -> None:
        sc, jmx = self.sc, self.jmx
        g_con, g_act = f"p{n}:{key}:construct", f"p{n}:{key}:action"
        self.attempted += 1
        if jmx:
            jit0, gc0 = jmx.jit_s(), jmx.gc_s()
        cpu0 = self.cpu()
        w0, t0 = time.time(), time.perf_counter()
        ok = True
        sc.setJobGroup(g_con, g_con)
        try:
            df = self.queries[key](self.spark, self.data)
            w1 = time.time()
            sc.setJobGroup(g_act, g_act)
            df.write.mode("overwrite").format("noop").save()
        except Exception as exc:  # noqa: BLE001 - a failing key is counted, not fatal
            ok = False
            self.fail(key, f"{type(exc).__name__}: {exc}"[:2000])
        w2, t2 = time.time(), time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        cpu1 = self.cpu()
        if jmx:
            jit1, gc1 = jmx.jit_s(), jmx.gc_s()
        con = self.status.read(g_con, self.trace)
        act = self.status.read(g_act, self.trace)
        if not ok:
            return
        s = self.samples[key]
        s["wall_s"].append(t2 - t0)
        s["cpu_s"].append(cpu1.total - cpu0.total)
        s["jobs"].append(con.jobs + act.jobs)
        s["shuffle_mb"].append((con.shuffle_write + act.shuffle_write) / meters.MB)
        if not self.trace:
            return
        k_span = self.spans.add(parent, key, w0, w2)
        job_s = {}
        for name, grp, lo, hi in (("construct", con, w0, w1), ("action", act, w1, w2)):
            span = self.spans.add(k_span, name, lo, hi)
            jobs = [(a, b) for _, a, b in grp.job_spans]
            job_s[name] = covered(jobs, lo, hi)
            job_ids = {}
            for j, a, b in grp.job_spans:
                job_ids[j] = self.spans.add(span, f"job{j}", a, b)
            for j, sid, a, b in grp.stage_spans:
                self.spans.add(job_ids[j], f"stage{sid}", a, b)
            s[f"{name}.s"].append(hi - lo)
            s[f"{name}.jobs"].append(grp.jobs)
            s[f"{name}.self_s"].append(hi - lo - job_s[name])
        s["construct.job_s"].append(job_s["construct"])
        mod = self.queries[key].__module__.rsplit(".", 1)[-1]
        s[f"construct.s.{mod}"].append(w1 - w0)
        s[f"construct.jobs.{mod}"].append(con.jobs)
        for m, v in (
            ("exec.cpu_s", con.cpu_s + act.cpu_s),
            ("exec.run_s", con.run_s + act.run_s),
            ("exec.gc_s", con.gc_s + act.gc_s),
            ("exec.tasks", con.tasks + act.tasks),
            ("exec.stages", con.stages + act.stages),
            ("exec.skipped_stages", con.skipped_stages + act.skipped_stages),
            ("exec.failed_tasks", con.failed_tasks + act.failed_tasks),
            ("shuffle.write_mb", (con.shuffle_write + act.shuffle_write) / meters.MB),
            ("shuffle.read_mb", (con.shuffle_read + act.shuffle_read) / meters.MB),
            ("spill.mb", (con.spill + act.spill) / meters.MB),
            ("io.input_mb", (con.input + act.input) / meters.MB),
            ("io.output_mb", (con.output + act.output) / meters.MB),
            ("jvm.jit_s", jit1 - jit0),
            ("jvm.gc_s", gc1 - gc0),
            ("py.driver_cpu_s", cpu1.driver - cpu0.driver),
            ("py.worker_cpu_s", cpu1.workers - cpu0.workers),
            ("trace.read_s", time.perf_counter() - t2),
        ):
            s[m].append(v)
        self.peaks["storage.peak_mb"] = max(self.peaks["storage.peak_mb"], self.status.storage_mb())

    def shutdown(self) -> None:
        """Stop Spark, the JVM and every process this run started, and wait for them."""
        from pyspark import SparkContext

        self.cpu()
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                proc.wait(timeout=60)
        me = os.getpid()
        deadline = time.monotonic() + 30
        for pid, start in self.pids:
            while pid != me and meters.alive(pid, start):
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                time.sleep(0.05)

    # -- report --------------------------------------------------------------

    def result(self, setup: dict, passes: int, window: float) -> dict:
        # A metric of one pass is the sum over keys of the key's median over
        # the first TIMED_PASSES passes: one slow pass of one key moves it little.
        tot: dict[str, float] = defaultdict(float)
        for per_key in self.samples.values():
            for m, vals in per_key.items():
                tot[m] += statistics.median(vals[:TIMED_PASSES])
        print(
            json.dumps(
                {
                    "workload": self.args.workload,
                    "seed": self.args.seed,
                    "cores": self.args.cores,
                    "nproc": os.cpu_count(),
                    "sf_dir": os.path.relpath(self.data, ROOT),
                    "passes": passes,
                    "timed_s": round(window, 3),
                    "steal_frac": round(self.steal_frac, 4),
                    # per key, per timed pass: shows whether the counts repeat
                    "wall_s": {k: [round(x, 3) for x in v["wall_s"]] for k, v in sorted(self.samples.items())},
                    "jobs": {k: v["jobs"] for k, v in sorted(self.samples.items())},
                    "shuffle_bytes": {
                        k: [round(x * meters.MB) for x in v["shuffle_mb"]]
                        for k, v in sorted(self.samples.items())
                    },
                }
            ),
            flush=True,
        )
        if not self.trace:
            metrics = {
                "wall_s": (tot["wall_s"], "s"),
                "cpu_s": (tot["cpu_s"], "s"),
                "jobs": (tot["jobs"], "count"),
                "shuffle_mb": (tot["shuffle_mb"], "MB"),
                "setup_s": (setup["setup_s"], "s"),
                "ok_frac": (1.0 - self.failed / self.attempted, "ratio"),
            }
        else:
            self.spans.dump()
            metrics = {m: (v, "s") for m, v in setup.items() if m != "setup_s"}
            for m, v in sorted(tot.items()):
                if m not in ("wall_s", "cpu_s", "jobs", "shuffle_mb", "exec.skipped_stages"):
                    metrics[m] = (v, _unit(m))
            metrics["trace.wall_s"] = (tot["wall_s"], "s")
            metrics["exec.busy_frac"] = (tot["exec.run_s"] / (tot["wall_s"] * self.args.cores), "ratio")
            metrics["exec.skipped_stage_frac"] = (
                tot["exec.skipped_stages"] / max(tot["exec.stages"], 1), "ratio")
            for m, v in self.peaks.items():
                metrics[m] = (v, _unit(m))
            metrics["check.failed_frac"] = (self.failed / self.attempted, "ratio")
            # every module of any workload, so each traced run names the same metrics
            mods = {self.queries[k].__module__.rsplit(".", 1)[-1] for w in WORKLOADS.values() for k in w.keys}
            for mod in sorted(mods):
                metrics.setdefault(f"construct.s.{mod}", (0.0, "s"))
                metrics.setdefault(f"construct.jobs.{mod}", (0.0, "count"))
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {m: {"value": v, "unit": u} for m, (v, u) in metrics.items()},
        }


def _unit(metric: str) -> str:
    if metric.endswith(("_mb", ".mb")):
        return "MB"
    if metric.endswith("_frac"):
        return "ratio"
    if metric.endswith(("_s", ".s")) or metric.startswith("construct.s."):
        return "s"
    return "count"


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run_dir = os.path.join(ROOT, ".bench_build", "perfbench", f"run-{os.getpid()}")
    isolate(run_dir, args.cores)
    try:
        result = Bench(args).run()
    finally:
        cleanup(run_dir)
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
