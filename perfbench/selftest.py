"""Self-test of the benchmark at sf0.001 sizes (about three minutes).

    python3 perfbench/selftest.py

Checks that:
1. an untraced run prints every end-to-end metric of ``BENCHMARK.json``
   with its unit, and passes the oracle check;
2. a traced run prints every per-layer metric with its unit and writes a
   span file. Each sample's spans nest without overlap, so their self
   times add up to the sample's wall time; the sample spans' own self time
   (the result check and the job-group bookkeeping, which no layer span
   covers) is at most 10% of their wall time. (That the per-layer medians
   add up to the untraced ``suite_s`` is measured over paired runs, in
   ``baseline.json``: a single pair differs by the run-to-run spread.)
3. the known-wrong-result path (``--inject-wrong``) raises ``fail_ratio``
   and makes the run incorrect;
4. the Spark-side conversion of collected rows hashes the same as
   ``DataFrame.toPandas()`` for every query;
5. a directory holding only ``BENCHMARK.json`` and ``perfbench/`` makes
   the benchmark exit with an error and print no result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SEED = 1
ARGS = ["--workload", "contract_sf0.1", "--seed", str(SEED), "--seconds", "1", "--base", "sf0.001"]


def run(*extra: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *ARGS, *extra],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )
    if p.returncode != 0 and cwd == ROOT:
        sys.stderr.write(p.stderr[-3000:])
    return p.returncode, p.stdout.strip().splitlines()


def result(lines: list[str]) -> dict:
    out = json.loads(lines[-1])
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"result keys {sorted(out)}")
    return out


def check_units(metrics: dict, spec: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in metrics.items()}
    if got != want:
        raise AssertionError(f"metrics/units differ: {set(got) ^ set(want)} {got}")
    for k, v in metrics.items():
        if not isinstance(v["value"], (int, float)):
            raise AssertionError(f"{k} is not a number")


def check_spans(spans: list[dict]) -> None:
    from run import sample_self_times

    by_sample: dict[int, list[dict]] = {}
    for s in spans:
        if s["sample"] is not None:
            by_sample.setdefault(s["sample"], []).append(s)
    if not by_sample:
        raise AssertionError("no sample spans")
    for n, ss in by_sample.items():
        root = [s for s in ss if s["parent"] is None]
        if len(root) != 1 or root[0]["name"] != "sample":
            raise AssertionError(f"sample {n}: {len(root)} root spans")
        r = root[0]
        kids = sorted((s for s in ss if s["parent"] == r["id"]), key=lambda s: s["start"])
        if len(kids) != 3 or len(ss) != 4:
            raise AssertionError(f"sample {n}: {len(ss)} spans")
        if kids[0]["start"] < r["start"] or kids[-1]["end"] > r["end"]:
            raise AssertionError(f"sample {n}: a layer span lies outside its sample")
        for a, b in zip(kids, kids[1:]):
            if b["start"] < a["end"]:
                raise AssertionError(f"sample {n}: overlapping layer spans")
    selfs = sample_self_times(spans)
    wall = sum(w for w, _ in selfs.values())
    own = sum(s for _, s in selfs.values())
    if own < 0 or own > 0.1 * wall:
        raise AssertionError(f"sample spans' self time {own:.3f} s of {wall:.3f} s")


def check_fidelity() -> None:
    """Collected rows hash exactly as toPandas() for every query."""
    sys.path[:0] = [HERE, ROOT]
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(WORK, "selftest-scratch")
    os.environ["TMPDIR"] = os.path.join(WORK, "selftest-scratch")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    from aced_etl_pod_spark.registry import registry
    from aced_etl_pod_spark.session import get_spark

    from resulthash import canon_table, rows_frame, table_hash
    from workloads import WORKLOADS

    sf_dir = os.path.join(HERE, "data", "sf0.001")
    spark = get_spark("perfbench-selftest")
    try:
        reg = registry()
        for q, op_id in WORKLOADS["contract_sf0.1"].queries:
            df = reg[op_id].fn(spark, sf_dir)
            a = table_hash(canon_table(rows_frame(df.collect(), df.schema)))
            b = table_hash(canon_table(df.toPandas()))
            if a != b:
                raise AssertionError(f"{q}: collected-rows hash differs from toPandas")
    finally:
        spark.stop()
        shutil.rmtree(os.environ["SPARK_GRAFT_SCRATCH"], ignore_errors=True)


def check_bare_dir() -> None:
    bare = os.path.join(WORK, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns(".work", "__pycache__"))
    try:
        rc, lines = run(cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or any(line.startswith("{") for line in lines):
        raise AssertionError("benchmark ran without the program")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    rc, lines = run("--trace", "0")
    out = result(lines)
    check_units(out["metrics"], spec["end_to_end"])
    if not out["correct"] or out["failed"]:
        raise AssertionError(f"untraced run failed the oracle check: {lines[-12:-1]}")
    print("ok: untraced run prints every end-to-end metric and passes the oracle")

    rc, lines = run("--trace", "1")
    out = result(lines)
    check_units(out["metrics"], spec["per_layer"])
    with open(os.path.join(WORK, "spans", f"contract_sf0.1-s{SEED}.json")) as f:
        check_spans(json.load(f))
    print("ok: traced run prints every per-layer metric; spans add up")

    rc, lines = run("--trace", "0", "--inject-wrong", "q5_tumbling")
    out = result(lines)
    fail_ratio = out["failed"] / out["attempted"]
    if out["correct"] or fail_ratio <= 0:
        raise AssertionError("known-wrong result did not raise fail_ratio")
    print(f"ok: known-wrong result raises fail_ratio to {fail_ratio:.3f}")

    check_fidelity()
    print("ok: collected rows hash as toPandas() does")

    check_bare_dir()
    print("ok: without the program the benchmark exits with an error")
    return 0


if __name__ == "__main__":
    sys.exit(main())
