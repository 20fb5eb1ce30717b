#!/usr/bin/env python3
"""Benchmark for the spark-graft engine: one workload per run, one JSON line.

    python3 perfbench/run.py --workload pagerank_chain --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It imports the engine from that
checkout and drives it only through public functions: ``session.get_spark``,
``graph.generators.chain_edges`` with ``graph.pagerank.pagerank``, and the
query functions of ``cli.full_registry()``, each written to the ``noop``
sink. A run:

1. starts the session on local[nproc] (set-up);
2. runs one untimed pass that collects every result (set-up); the results
   are checked after the timed passes against the DuckDB oracles or, for
   ``pagerank_chain``, against the chain recurrence;
3. runs untimed warm-up passes for ``WARMUP_S`` seconds, then timed passes
   that fill ``--seconds`` (at least two), and reports medians.

With ``--trace 0`` it prints the end-to-end metrics; with ``--trace 1`` it
turns on the event log, one job group per query and wrappers around the
checkpoint calls, and prints the per-layer metrics instead. Everything the
run writes goes under ``.bench_build/`` in the checkout and is removed at
the end. See README.md for the metrics and the workloads.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from eventlog import PHASE_PROP, SUPERSTEP_PROP, GroupStats, read_events, summarize, union_ms
from workloads import TINY, WORKLOADS, Chain, check_chain, id_bijection, oracle_hashes, relabel, sf_dir, spark_hash

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "page_rank_mapreduce_java_spark"
# The JVM's heap, fixed for the whole run (-Xms = -Xmx). The inputs need far
# less; under the engine's default (8g, grown as the collector chooses) the
# heap reached 3.6 GB in one run and 6.7 GB in the next.
HEAP = "2g"
# Untimed noop passes after the check pass, until this many seconds have
# gone by: pass times still fell by 10-25 % over the first passes after it.
WARMUP_S = 10.0
# Timed passes per run at least, however short --seconds is.
MIN_PASSES = 2

END_TO_END = {
    "wall_s": "s",
    "query_max_s": "s",
    "setup_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "construct.s": "s",
    "construct.jobs": "count",
    "superstep.count": "count",
    "superstep.p50_s": "s",
    "superstep.max_s": "s",
    "superstep.jobs_per": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.stage_busy_s": "s",
    "spark.gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "shuffle.spill_bytes": "B",
    "shuffle.fetch_wait_s": "s",
    "catalog.input_bytes": "B",
    "catalog.input_rows": "count",
    "arrow.to_python_bytes": "B",
    "arrow.from_python_bytes": "B",
    "arrow.python_stage_s": "s",
    "cache.rdds_left": "count",
    "cache.rdds_left_max": "count",
    "trace.overhead_s": "s",
    "jvm_peak_rss_mb": "MB",
}


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="run at smoke-test size")
    args = p.parse_args()
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


# seal_stdout and emit_json_line follow bench.py's _seal_stdout and
# _emit_json_line but are not imported from it: the benchmark must run
# unchanged on both sides of a comparison while bench.py may change, and
# its line allows NaN where this one must not.
def seal_stdout() -> int:
    """Point fd 1 at stderr for this process and every child (the local
    Spark JVM inherits fd 1), and return a dup of the real stdout, so the
    result line cannot interleave with anything else."""
    real = os.dup(1)
    os.set_inheritable(real, False)
    sys.stdout.flush()
    os.dup2(2, 1)
    return real


def emit_json_line(fd: int, obj: dict) -> None:
    line = json.dumps(obj, allow_nan=False)
    json.loads(line)
    data = (line + "\n").encode()
    while data:
        data = data[os.write(fd, data):]


def cpu_counters() -> list[int]:
    """Cumulative jiffies of the first /proc/stat line (user nice system
    idle iowait irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(a: list[int], b: list[int]) -> float:
    """Share of CPU time the hypervisor stole between two snapshots, in %."""
    d = [y - x for x, y in zip(a, b)]
    return 100.0 * d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else 0.0


class Tracer:
    """Per-query tracing done from the benchmark's side: a job group per
    query, a local property marking construction, wrappers around
    ``DataFrame.localCheckpoint``/``checkpoint`` that time each call (one
    superstep of the iterative code) and tag its jobs, and the Catalyst
    phase times of each query's plan."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.cls = type(spark.range(1))
        self.orig = {m: getattr(self.cls, m) for m in ("localCheckpoint", "checkpoint")}
        self.rec: dict = {}

    def __enter__(self) -> Tracer:
        self.rec = {"construct_s": 0.0, "cuts": [], "rdds": [],
                    "analysis": 0, "optimization": 0, "planning": 0}
        for name, fn in self.orig.items():
            setattr(self.cls, name, self._wrap(fn))
        return self

    def __exit__(self, *exc) -> None:
        for name, fn in self.orig.items():
            setattr(self.cls, name, fn)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty(PHASE_PROP, None)

    def _wrap(self, fn):
        @functools.wraps(fn)
        def wrapped(df, *args, **kwargs):
            cuts = self.rec["cuts"]
            self.sc.setLocalProperty(SUPERSTEP_PROP, str(len(cuts)))
            t0 = time.perf_counter()
            try:
                return fn(df, *args, **kwargs)
            finally:
                cuts.append(time.perf_counter() - t0)
                self.sc.setLocalProperty(SUPERSTEP_PROP, None)

        return wrapped

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)
        self.sc.setLocalProperty(PHASE_PROP, "construct")

    def constructed(self, df, seconds: float) -> None:
        self.rec["construct_s"] += seconds
        self.sc.setLocalProperty(PHASE_PROP, "execute")
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                self.rec[phase] += opt.get().durationMs()

    def end(self) -> None:
        self.rec["rdds"].append(self.sc._jsc.getPersistentRDDs().size())


class Bench:
    def __init__(self, args: argparse.Namespace, work: str, t_start: float):
        self.args = args
        self.work = work
        self.t_start = t_start
        self.w = (TINY if args.tiny else WORKLOADS)[args.workload]
        self.attempted = 0
        self.failed = 0
        self.spark = None

    # --- session ---------------------------------------------------------

    def _start(self):
        dirs = {d: os.path.join(self.work, d) for d in ("local", "tmp", "events", "warehouse")}
        for d in dirs.values():
            os.makedirs(d, exist_ok=True)
        # Python workers import the engine from this checkout; every file
        # Spark and Python write goes under the run's work directory.
        os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
        os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
        os.environ["TMPDIR"] = dirs["tmp"]
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
        conf = {
            # -XX:-UsePerfData: no hsperfdata file under /tmp.
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": dirs["warehouse"],
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + dirs["events"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from page_rank_mapreduce_java_spark.session import get_spark

        t0 = time.time()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        return time.time() - t0

    def _stop(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    def _jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    # --- workload ----------------------------------------------------------

    def _steps(self) -> list[tuple[str, object]]:
        spark = self.spark
        if isinstance(self.w, Chain):
            from page_rank_mapreduce_java_spark.graph.generators import chain_edges
            from page_rank_mapreduce_java_spark.graph.pagerank import pagerank

            k, iters = self.w.k, self.w.iterations
            self.bijection = id_bijection(self.args.seed, k * k + 1)

            def chain():
                edges = relabel(chain_edges(spark, k), *self.bijection, k * k + 1)
                return pagerank(edges, num_iterations=iters).ranks

            return [("pagerank_chain", chain)]
        from page_rank_mapreduce_java_spark.cli import full_registry

        queries, self.oracles = full_registry()
        sf = sf_dir(self.w)
        return [(name, functools.partial(queries[name], spark, sf)) for name in self.w.queries]

    def _fail(self, name: str, what: str) -> None:
        self.failed += 1
        print(f"perfbench: {self.args.workload}/{name}: {what}", file=sys.stderr)

    def _check_pass(self, steps) -> dict:
        out = {}
        for name, step in steps:
            self.attempted += 1
            try:
                df = step()
                if isinstance(self.w, Chain):
                    out[name] = df.select("id", "rank").toPandas()
                else:
                    out[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception:  # noqa: BLE001 - a failing query is a measured outcome
                self._fail(name, traceback.format_exc())
            finally:
                self.spark.catalog.clearCache()
        return out

    def _verify(self, results: dict) -> None:
        if isinstance(self.w, Chain):
            for name, ranks in results.items():
                problems = check_chain(ranks["id"].to_numpy(), ranks["rank"].to_numpy(), self.w.k,
                                       self.w.iterations, *self.bijection)
                if problems:
                    self._fail(name, "; ".join(problems))
            return
        want = oracle_hashes(sf_dir(self.w), list(results), self.oracles)
        for name, (cols, rows) in results.items():
            got = spark_hash(cols, rows)
            if got != want[name]:
                self._fail(name, f"spark {got} != oracle {want[name]}")

    def _pass(self, steps, idx: int, tracer: Tracer | None) -> dict:
        walls = {}
        t_pass = time.time()
        for name, step in steps:
            self.attempted += 1
            if tracer:
                tracer.begin(f"{idx}/{name}")
            t0 = time.perf_counter()
            try:
                df = step()
                if tracer:
                    tracer.constructed(df, time.perf_counter() - t0)
                df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 - a failing query is a measured outcome
                self._fail(name, traceback.format_exc())
            finally:
                self.spark.catalog.clearCache()
            walls[name] = time.perf_counter() - t0
            if tracer:
                tracer.end()
        t_end = time.time()
        p = {"idx": idx, "start": t_pass, "end": t_end, "wall": t_end - t_pass, "walls": walls}
        if tracer:
            p["trace"] = tracer.rec
        return p

    def _warm_up(self, steps) -> None:
        deadline = time.time() + WARMUP_S
        while time.time() < deadline:
            self._pass(steps, -1, None)

    def _timed(self, steps) -> list[dict]:
        """Timed passes that fill --seconds: another one starts only if a
        pass as long as the last one still ends in time, and at least
        MIN_PASSES run. A traced run alternates untraced and traced passes
        and starts and ends with an untraced one, so the untraced passes
        bracket the traced ones; it runs an odd number, at least three."""
        passes = []
        deadline = time.time() + self.args.seconds
        while True:
            if self.args.trace and len(passes) % 2 == 1:
                with Tracer(self.spark) as tracer:
                    passes.append(self._pass(steps, len(passes), tracer))
            else:
                passes.append(self._pass(steps, len(passes), None))
            if self.args.trace and (len(passes) < 3 or len(passes) % 2 == 0):
                continue
            if len(passes) >= MIN_PASSES and time.time() + passes[-1]["wall"] > deadline:
                return passes

    # --- metrics -----------------------------------------------------------

    def _layers(self, passes: list[dict], session_s: float, rss_mb: float) -> dict:
        events_dir = os.path.join(self.work, "events")
        logs = [os.path.join(events_dir, f) for f in os.listdir(events_dir)]
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log, found {logs}")
        groups = summarize(read_events(logs[0]))
        traced = [p for p in passes if "trace" in p]
        rows = []
        for p in traced:
            rec = p["trace"]
            g = GroupStats()
            prefix = f"{p['idx']}/"
            for key, s in groups.items():
                if key.startswith(prefix):
                    g.add(s)
            busy = union_ms(g.stage_intervals, int(p["start"] * 1000), int(p["end"] * 1000)) / 1000.0
            cuts = rec["cuts"]
            rows.append({
                "construct.s": rec["construct_s"],
                "construct.jobs": g.construct_jobs,
                "superstep.count": len(cuts),
                "superstep.p50_s": statistics.median(cuts) if cuts else 0.0,
                "superstep.max_s": max(cuts, default=0.0),
                "superstep.jobs_per": g.superstep_jobs / len(cuts) if cuts else 0.0,
                "catalyst.analysis_ms": rec["analysis"],
                "catalyst.optimization_ms": rec["optimization"],
                "catalyst.planning_ms": rec["planning"],
                "spark.jobs": g.jobs,
                "spark.stages": g.stages,
                "spark.tasks": g.tasks,
                "spark.stage_busy_s": busy,
                "spark.gap_s": p["wall"] - busy,
                "spark.executor_run_s": g.executor_run_ms / 1000.0,
                "spark.gc_s": g.gc_ms / 1000.0,
                "shuffle.write_bytes": g.shuffle_write_bytes,
                "shuffle.read_bytes": g.shuffle_read_bytes,
                "shuffle.spill_bytes": g.spill_bytes,
                "shuffle.fetch_wait_s": g.fetch_wait_ms / 1000.0,
                "catalog.input_bytes": g.input_bytes,
                "catalog.input_rows": g.input_rows,
                "arrow.to_python_bytes": g.to_python_bytes,
                "arrow.from_python_bytes": g.from_python_bytes,
                "arrow.python_stage_s": g.python_stage_ms / 1000.0,
                "cache.rdds_left": rec["rdds"][-1],
                "cache.rdds_left_max": max(rec["rdds"]),
            })
        out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        out["cache.rdds_left_max"] = max(r["cache.rdds_left_max"] for r in rows)
        out["session.start_s"] = session_s
        plain = [p["wall"] for p in passes if "trace" not in p]
        out["trace.overhead_s"] = statistics.median(p["wall"] for p in traced) - statistics.median(plain)
        out["jvm_peak_rss_mb"] = rss_mb
        return out

    def run(self) -> dict:
        try:
            session_s = self._start()
            steps = self._steps()
            t0 = time.time()
            results = self._check_pass(steps)
            check_s = time.time() - t0
            setup_s = time.time() - self.t_start
            print(f"perfbench: setup session={session_s:.2f}s check={check_s:.2f}s", file=sys.stderr)
            self._warm_up(steps)
            cpu0 = cpu_counters()
            passes = self._timed(steps)
            steal = steal_pct(cpu0, cpu_counters())
            rss_mb = self._jvm_peak_rss_mb()
        finally:
            self._stop()
        self._verify(results)
        plain = [p for p in passes if "trace" not in p]
        query_s = {name: statistics.median(p["walls"][name] for p in plain) for name in plain[0]["walls"]}
        e2e = {
            # A pass built from each query's median, so a stall in one
            # query of one pass does not move the figure.
            "wall_s": sum(query_s.values()),
            "query_max_s": max(query_s.values()),
            "setup_s": setup_s,
        }
        print(
            f"perfbench: workload={self.args.workload} seed={self.args.seed} trace={self.args.trace} "
            f"steal={steal:.1f}% passes={[round(p['wall'], 3) for p in passes]} fail_ratio={self.failed / self.attempted:.4f} "
            + " ".join(f"{k}={v:.4f}{END_TO_END[k]}" for k, v in e2e.items())
            + f" jvm_peak_rss_mb={rss_mb:.1f}MB",
            file=sys.stderr,
        )
        for name, t in query_s.items():
            print(f"perfbench:   {name} {t:.3f}s", file=sys.stderr)
        if self.args.trace:
            metrics, units = self._layers(passes, session_s, rss_mb), PER_LAYER
        else:
            metrics, units = e2e, END_TO_END
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }


def main() -> int:
    t_start = time.time()
    args = parse_args()
    if os.environ.get("PYTHONHASHSEED") != "0":
        # String hashing order reaches plan construction through sets and
        # dicts; one fixed order keeps runs of the same inputs alike.
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]])
    real_stdout = seal_stdout()
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        import check_oracle  # noqa: F401
        import page_rank_mapreduce_java_spark as engine
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(engine.__file__))) != ROOT:
        print(f"perfbench: {ENGINE} resolved outside {ROOT}: {engine.__file__}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_build", f"perfbench-{os.getpid()}")
    try:
        result = Bench(args, work, t_start).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    emit_json_line(real_stdout, result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
