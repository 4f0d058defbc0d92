"""Benchmark client: one Spark driver process, one thread, one query at a time.

Started by ``run.py``; not meant to be run by hand. It starts the engine
session with the program's own ``get_spark`` defaults, loads the registry,
prints ``READY`` (``run.py`` times process start to that line as setup),
and then, unless ``--setup-only``:

1. the cold pass: every query once, in workload order, on the empty
   scratch directory ``run.py`` made for this run, so any layout, index or
   fixture build the operator does lands in the sample;
2. the warm loop: a fixed number of rounds over the queries, each round in
   its own seeded order. ``--seconds`` buys one round per ``ROUND_S``
   (at least ``MIN_ROUNDS``), so a run measures for about ``--seconds``;
3. with ``--trace``: the job-floor calibration (``spark.range(1)``).

A sample is a fresh ``fn(spark, sf_dir)`` call, then Catalyst
(``executedPlan()`` of a fresh ``df.where(lit(True))``), then
``collect()``. A traced sample also runs under its own job group, records
spans, and counts its jobs, stages and tasks with the status tracker. Every
result is checked against its query's oracle table (``resulthash.check``).
A sample's ``wall_s`` is ``fn`` + optimize + collect; its ``sample`` span
runs on to the end of the check, so the check shows as the span's self
time.
Everything is written as one JSON file to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time

_T0 = time.perf_counter()
# Two rounds give the pooled warm median of ten queries ten samples above it.
MIN_ROUNDS = 2
# About one warm round of ten queries on a 4-core box. The round count is
# fixed per --seconds rather than taken from a clock: samples keep getting
# faster round after round as the JIT warms, so a run that fitted fewer
# rounds in a slow minute would also keep its slower early rounds, and the
# per-query medians would compound the slowdown.
ROUND_S = 4.0


class Tracer:
    """In-memory spans: name, start, end, parent span and sample id."""

    def __init__(self, on: bool) -> None:
        self.on = on
        self.spans: list[dict] = []

    def add(self, name: str, t0: float, t1: float, parent=None, sample=None):
        if not self.on:
            return None
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "start": t0 - _T0,
                "end": t1 - _T0,
                "parent": parent,
                "sample": sample,
            }
        )
        return sid


def _job_counts(sc, group: str) -> dict:
    """Jobs, stages that ran, and tasks that ran under ``group``. Waits (up
    to 5 s) until the status store has seen every job end, so the task
    counts are final."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 5.0
    while True:
        infos = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        if all(i is not None and i.status != "RUNNING" for i in infos):
            break
        if time.monotonic() > deadline:
            break
        time.sleep(0.01)
    stages = tasks = 0
    for info in infos:
        for sid in info.stageIds if info is not None else ():
            st = tracker.getStageInfo(sid)
            ran = st.numCompletedTasks + st.numFailedTasks if st else 0
            if ran:
                stages += 1
                tasks += ran
    return {"jobs": len(infos), "stages": stages, "tasks": tasks}


def _tree(root: str) -> dict[str, tuple[int, int]]:
    """(inode, bytes) of every entry one or two levels under ``root``. A
    top-level entry's bytes are its whole subtree; a second-level entry is
    tracked only to see it created or replaced, with 0 bytes."""
    out = {}
    for d1 in os.scandir(root):
        out[d1.name] = (d1.inode(), _du(d1.path))
        if d1.is_dir(follow_symlinks=False):
            for d2 in os.scandir(d1.path):
                out[f"{d1.name}/{d2.name}"] = (d2.inode(), 0)
    return out


def _du(path: str) -> int:
    if not os.path.isdir(path):
        return os.lstat(path).st_size
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def _changed(before: dict, after: dict) -> list[str]:
    return [k for k, v in after.items() if before.get(k, (None,))[0] != v[0]]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--sf-dir")
    ap.add_argument("--queries", help="JSON list of [query id, op id]")
    ap.add_argument("--oracle", help="JSON file of canonical oracle tables")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    tracer = Tracer(bool(a.trace))

    t0 = time.perf_counter()
    from aced_etl_pod_spark.session import get_spark

    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    from aced_etl_pod_spark.registry import registry

    reg = registry()
    t2 = time.perf_counter()
    tracer.add("session.start", t0, t1)
    tracer.add("registry.import", t1, t2)
    print("READY", flush=True)
    if a.setup_only:
        spark.stop()
        return 0

    from pyspark.sql import functions as F

    from resulthash import canon_table, check, rows_frame, table_hash

    sc = spark.sparkContext
    scratch = os.environ["SPARK_GRAFT_SCRATCH"]
    queries = [tuple(q) for q in json.loads(a.queries)]
    with open(a.oracle) as f:
        oracle = json.load(f)
    samples: list[dict] = []

    def sample(q: str, op_id: str, kind: str, traced: bool) -> dict:
        n = len(samples)
        group = f"perfbench-{n}"
        begin = time.perf_counter()  # the sample span covers the job-group bookkeeping
        if traced:
            sc.setJobGroup(group, f"{kind} {q}")
        rec = {"q": q, "kind": kind, "traced": traced, "error": None}
        s0 = time.perf_counter()
        s1 = s2 = s3 = None
        try:
            df = reg[op_id].fn(spark, a.sf_dir)
            s1 = time.perf_counter()
            w = df.where(F.lit(True))
            w._jdf.queryExecution().executedPlan()
            s2 = time.perf_counter()
            rows = w.collect()
            s3 = time.perf_counter()
            table = canon_table(rows_frame(rows, w.schema))
            rec["rows"] = len(rows)
            rec["hash"] = table_hash(table)
            rec["check"] = check(table, oracle[q])
        except Exception as e:  # counted as a failed execution
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the sample span ends here, after the result check and the
        # job-group reset, so time outside the three layers is its self time
        end = time.perf_counter()
        rec["wall_s"] = (s3 or end) - s0  # what a user pays: fn + optimize + collect
        if s3 is not None:
            rec["plan_s"], rec["optimize_s"], rec["collect_s"] = (
                s1 - s0,
                s2 - s1,
                s3 - s2,
            )
        if traced:
            root = tracer.add("sample", begin, end, sample=n)
            for name, b, e in (
                ("operators.plan", s0, s1),
                ("catalyst.optimize", s1, s2),
                ("exec.collect", s2, s3),
            ):
                if b is not None and e is not None:
                    tracer.add(name, b, e, parent=root, sample=n)
            rec.update(_job_counts(sc, group))
        samples.append(rec)
        return rec

    # cold pass, in workload order so per-query build attribution is stable
    layout = {}
    for q, op_id in queries:
        before = _tree(scratch)
        sample(q, op_id, "cold", bool(a.trace))
        after = _tree(scratch)
        layout[q] = sum(after[k][1] for k in _changed(before, after) if "/" not in k)
    after_cold = _tree(scratch)

    # warm loop: closed loop, one client, round robin, each round in a new
    # seeded order so no query always follows the same neighbour. A traced
    # run runs the same rounds as an untraced one, so its samples are as
    # warm as the untraced run's and its layer times add up to its suite_s.
    rng = random.Random(a.seed)
    rounds = max(MIN_ROUNDS, math.ceil(a.seconds / ROUND_S - 1e-9))
    for _ in range(rounds):
        order = list(queries)
        rng.shuffle(order)
        for q, op_id in order:
            sample(q, op_id, "warm", bool(a.trace))
    warm_builds = len(_changed(after_cold, _tree(scratch)))

    floor = []
    if a.trace:
        for _ in range(7):
            f0 = time.perf_counter()
            spark.range(1).collect()
            floor.append(time.perf_counter() - f0)

    confs = {
        k: spark.conf.get(k)  # the effective value, default included
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    confs["spark.master"] = sc.master
    confs["spark.driver.memory"] = sc.getConf().get("spark.driver.memory")
    with open(a.out, "w") as f:
        json.dump(
            {
                "session_start_s": t1 - t0,
                "registry_import_s": t2 - t1,
                "samples": samples,
                "layout_bytes": layout,
                "warm_builds": warm_builds,
                "warm_rounds": rounds,
                "floor_s": statistics.median(floor) if floor else None,
                "confs": confs,
                "spans": tracer.spans,
            },
            f,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
