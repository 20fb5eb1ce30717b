"""A/B registry queries between two checkouts in alternating fresh processes.

    python tools/ab.py PARENT_DIR CHANGE_DIR --sf /root/testdata/sf0.1 \\
        --pairs 5 graph_pagerank graph_pagerank_topk

Each checkout is a plain tree of the repository (``git worktree add`` or
``git archive``). Pair i runs one fresh process per side, parent first on
even i and change first on odd i, so drift on the host falls on both
sides alike. A process imports the engine from its own checkout, runs
every named query once untimed (JIT, page cache) and then ``--reps``
timed noop writes. Each run gets its own SparkContext in the one JVM,
with Spark's event log on and one job group: the engine's memos are
keyed by applicationId, so no run reads another's results. The event
logs are read with ``perfbench/eventlog.py`` of this checkout. Every
process prints one line per query: the median over its reps of the wall
time, the Spark jobs and stages, shuffle bytes written and task GC time.
The summary gives each side's median and interquartile range and how
many pairs the change won.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "perfbench"))


def run_side(root: str, sf: str, names: list[str], reps: int) -> dict[str, dict]:
    """One fresh process's measurements: query -> wall and layer figures."""
    from eventlog import read_events, summarize

    sys.path.insert(0, root)
    from page_rank_mapreduce_java_spark.cli import full_registry
    from page_rank_mapreduce_java_spark.session import get_spark

    queries = full_registry()[0]
    events = tempfile.mkdtemp(prefix="ab-events-")
    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + events,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    walls: dict[str, list[float]] = {n: [] for n in names}
    groups = {}
    try:
        for rep in range(-1, reps):
            for name in names:
                spark = get_spark(app_name="ab", extra_conf=conf)
                try:
                    spark.sparkContext.setJobGroup(f"{rep}/{name}", name)
                    t0 = time.perf_counter()
                    queries[name](spark, sf).write.format("noop").mode("overwrite").save()
                    if rep >= 0:
                        walls[name].append(time.perf_counter() - t0)
                finally:
                    spark.stop()
        for log in os.listdir(events):
            groups.update(summarize(read_events(os.path.join(events, log))))
    finally:
        shutil.rmtree(events, ignore_errors=True)
    out = {}
    for name in names:
        g = [groups[f"{rep}/{name}"] for rep in range(reps) if f"{rep}/{name}" in groups]
        out[name] = {
            "wall_s": statistics.median(walls[name]),
            "jobs": statistics.median(s.jobs for s in g) if g else 0,
            "stages": statistics.median(s.stages for s in g) if g else 0,
            "shuffle_mb": statistics.median(s.shuffle_write_bytes for s in g) / 1e6 if g else 0.0,
            "gc_s": statistics.median(s.gc_ms for s in g) / 1e3 if g else 0.0,
        }
    return out


def spread(xs: list[float]) -> tuple[float, float]:
    """(median, interquartile range) of ``xs``."""
    if len(xs) < 2:
        return xs[0], 0.0
    q = statistics.quantiles(xs, n=4)
    return statistics.median(xs), q[2] - q[0]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("queries", nargs="+")
    p.add_argument("--sf", default="/root/testdata/sf0.1")
    p.add_argument("--pairs", type=int, default=5)
    p.add_argument("--reps", type=int, default=3)
    p.add_argument("--run", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args()
    if args.run:  # child: measure one side, print one JSON line
        print(json.dumps(run_side(args.parent, args.sf, args.queries, args.reps)))
        return 0
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    runs: dict[str, list[dict]] = {s: [] for s in sides}
    for i in range(args.pairs):
        for side in sorted(sides, reverse=i % 2 == 0):
            root = sides[side]
            env = dict(os.environ, PYTHONPATH=root, PYTHONHASHSEED="0")
            res = subprocess.run(
                [sys.executable, os.path.abspath(__file__), root, root, *args.queries,
                 "--sf", args.sf, "--reps", str(args.reps), "--run"],
                cwd=root, env=env, stdout=subprocess.PIPE, text=True, check=True,
            )
            run = json.loads(res.stdout.strip().splitlines()[-1])
            runs[side].append(run)
            for name, m in run.items():
                print(f"pair {i} {side:<6} {name:<40} " + " ".join(
                    f"{k}={v:.3f}" if isinstance(v, float) else f"{k}={v}" for k, v in m.items()
                ), flush=True)
    print("\nquery                                    parent median (IQR)  change median (IQR)  change won")
    for name in args.queries:
        a = [r[name]["wall_s"] for r in runs["parent"]]
        b = [r[name]["wall_s"] for r in runs["change"]]
        (ma, ia), (mb, ib) = spread(a), spread(b)
        won = sum(y < x for x, y in zip(a, b))
        print(f"{name:<40} {ma:7.3f} ({ia:.3f})      {mb:7.3f} ({ib:.3f})      {won}/{len(a)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
