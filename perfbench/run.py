"""End-to-end and per-layer benchmark of the engine (see perfbench/README.md).

    python3 perfbench/run.py --workload contract_sf0.1 --seed 1 --seconds 12 --trace 0

One run: build the workload's inputs from the vendored test tables and the
seed (``inputs.py``; tilings are cached under ``perfbench/.work``), compute
the DuckDB oracle's result hashes (cached per workload, input fingerprint,
oracle SQL and DuckDB version), time one extra engine start-up, then
start the benchmark client (``worker.py``) on a fresh, empty program
scratch directory and let it run the cold pass and the warm loop. The
client's results are checked against the oracle hashes; every mismatch or
error counts as a failed execution.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end metrics, with ``--trace 1`` the per-layer
metrics (and a span file is written under ``perfbench/.work/spans``).
Everything else printed before it is a human-readable record of the run,
including the machine it ran on.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import select
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170.0  # the whole run, set-up included, must end before this
KEEP_INPUT_SETS = 2  # tiled input sets kept per workload
SETUPS = 2  # engine start-ups timed per run, the client's own included
PAGE = os.sysconf("SC_PAGE_SIZE")

sys.path[:0] = [HERE, ROOT]

from inputs import input_bytes, prepare  # noqa: E402
from workloads import QUERY_IDS, WORKLOADS  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "cold_s": "s",
    "suite_s": "s",
    "query_p50_s": "s",
    "layout_bytes_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "registry.import_s": "s",
        "exec.floor_s": "s",
        "layout.warm_builds": "count",
        "trace.suite_s": "s",
        "trace.self_share": "ratio",
        "fail_ratio": "ratio",
        "mem.peak_rss_mb": "MB",
    }
    for q in QUERY_IDS:
        units[f"operators.plan_s.{q}"] = "s"
        units[f"catalyst.optimize_s.{q}"] = "s"
        units[f"exec.collect_s.{q}"] = "s"
        units[f"exec.jobs.{q}"] = "count"
        units[f"exec.stages.{q}"] = "count"
        units[f"exec.tasks.{q}"] = "count"
        units[f"layout.build_s.{q}"] = "s"
        units[f"layout.bytes.{q}"] = "bytes"
    return units


def machine() -> dict:
    """What the run depends on, derived from the machine, not pinned."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    # a quarter of the RAM, within [1, 8] GB: leaves room for the Python
    # workers and the page cache on small boxes
    heap_mb = min(max(mem_kb // 4 // 1024, 1024), 8192)
    return {
        "nproc": nproc,
        "mem_total_mb": mem_kb // 1024,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "python": sys.version.split()[0],
    }


class Deadline(Exception):
    pass


class Client:
    """One worker process in its own process group (the JVM and the Python
    UDF workers are in it too), with its peak resident memory sampled from
    ``/proc`` while it runs."""

    def __init__(self, argv: list[str], env: dict, cwd: str, log: str, until: float):
        self.until = until
        self.log = open(log, "ab")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *argv],
            cwd=cwd,
            env=env,
            stdout=subprocess.PIPE,
            stderr=self.log,
            start_new_session=True,
        )
        self.peak_rss = 0
        self._stop = threading.Event()
        self._mon = threading.Thread(target=self._watch, daemon=True)
        self._mon.start()

    def _group(self) -> list[tuple[int, int]]:
        """(pid, rss bytes) of every live process in the client's group;
        zombies are skipped (a killed JVM can stay one until init reaps
        it)."""
        out = []
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if int(fields[2]) != self.proc.pid or fields[0] == "Z":
                    continue
                with open(f"/proc/{d}/statm") as f:
                    out.append((int(d), int(f.read().split()[1]) * PAGE))
            except (OSError, IndexError, ValueError):
                continue
        return out

    def _watch(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, sum(r for _, r in self._group()))
            self._stop.wait(0.2)

    def wait_ready(self) -> float:
        """Seconds from process start until the client printed READY."""
        fd = self.proc.stdout.fileno()
        buf = b""
        while b"READY" not in buf:
            left = self.until - time.perf_counter()
            if left <= 0:
                raise Deadline("client start-up")
            r, _, _ = select.select([fd], [], [], min(left, 1.0))
            if r:
                chunk = os.read(fd, 4096)
                if not chunk:
                    raise RuntimeError("client exited before READY")
                buf += chunk
        return time.perf_counter() - self.t0

    def wait_exit(self) -> int:
        left = self.until - time.perf_counter()
        try:
            rc = self.proc.wait(timeout=max(left, 0.1))
        except subprocess.TimeoutExpired:
            raise Deadline("client run") from None
        return rc

    def close(self, kill: bool = False) -> None:
        """Stop every process of the group and wait until each has ended:
        SIGKILL at once with ``kill``, else SIGTERM to a client still
        running and SIGKILL to whatever is left after 15 s."""
        self._stop.set()
        self._mon.join()
        if kill:
            sig = signal.SIGKILL
        else:
            sig = signal.SIGTERM if self.proc.poll() is None else 0
        end = time.monotonic() + 15
        while True:
            self.proc.poll()  # reap the leader
            if not self._group():
                break
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                pass
            sig = signal.SIGKILL if time.monotonic() > end else 0
            time.sleep(0.05)
        self.proc.wait()
        self.proc.stdout.close()
        self.log.close()


def prepare_inputs(workload: str, seed: int, base: str) -> tuple[str, str]:
    w = WORKLOADS[workload]
    root = os.path.join(WORK, "inputs")
    os.makedirs(root, exist_ok=True)
    sf_dir, fingerprint = prepare(base, w.tiles, seed, os.path.join(root, f"{workload}-{base}-s{seed}"))
    if w.tiles == 1:
        return sf_dir, fingerprint
    os.utime(sf_dir)
    # keep the newest tiled sets of this workload, drop the rest
    mine = [
        os.path.join(root, d)
        for d in os.listdir(root)
        if d.startswith(f"{workload}-") and not d.endswith(".tmp")
    ]
    mine.sort(key=os.path.getmtime, reverse=True)
    for old in mine[KEEP_INPUT_SETS:]:
        if old != sf_dir:
            shutil.rmtree(old, ignore_errors=True)
    return sf_dir, fingerprint


def oracle_tables(workload: str, fingerprint: str, sf_dir: str) -> str:
    """Path of the canonical result table (and its hash) of each query's
    DuckDB oracle, computed once per (workload, input fingerprint, oracle
    SQL, DuckDB version)."""
    import duckdb

    from aced_etl_pod_spark.registry import registry

    reg = registry()
    queries = WORKLOADS[workload].queries
    h = hashlib.sha256(duckdb.__version__.encode())
    for _q, op_id in queries:
        h.update(reg[op_id].oracle.encode())
    # the fingerprint covers everything the seed changes in the inputs
    path = os.path.join(WORK, "oracle", f"{workload}-{fingerprint}-{h.hexdigest()[:12]}.json")
    if os.path.exists(path):
        return path
    from aced_etl_pod_spark.oracle import duck_con

    from resulthash import canon_table, table_hash

    con = duck_con(sf_dir)
    out = {}
    for q, op_id in queries:
        t = canon_table(con.execute(reg[op_id].oracle).fetchdf())
        out[q] = {"hash": table_hash(t), **t}
    con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return path


def known_wrong(oracle: str, q: str, dest: str) -> str:
    """A copy of the oracle tables in which ``q``'s expected result has one
    cell changed, so every correct result of ``q`` must count as failed."""
    from resulthash import table_hash

    with open(oracle) as f:
        tables = json.load(f)
    t = tables[q]
    t["rows"] = t["rows"] or [[None] * len(t["columns"])]
    t["rows"][0][0] = "'known-wrong'"
    t["hash"] = table_hash(t)
    with open(dest, "w") as f:
        json.dump(tables, f)
    return dest


def run_clients(a, mach: dict, sf_dir: str, oracle: str, run_dir: str) -> tuple:
    """Time the extra start-up, then run the client on a fresh scratch
    directory. Returns (setup times, client result, peak RSS bytes,
    scratch bytes left behind), or raises."""
    until = a.started + RUN_LIMIT_S
    dirs = {k: os.path.join(run_dir, k) for k in ("scratch", "local", "tmp", "cwd")}
    for d in dirs.values():
        os.makedirs(d)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=mach["SPARK_GRAFT_CPUS"],
        SPARK_DRIVER_MEM=mach["SPARK_DRIVER_MEM"],
        SPARK_GRAFT_SCRATCH=dirs["scratch"],
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    )
    if a.inject_wrong:
        oracle = known_wrong(oracle, a.inject_wrong, os.path.join(run_dir, "oracle.json"))
    log = os.path.join(run_dir, "client.log")
    out = os.path.join(run_dir, "result.json")
    setups = []
    try:
        for _ in range(SETUPS - 1):
            c = Client(["--setup-only"], env, dirs["cwd"], log, until)
            try:
                setups.append(c.wait_ready())
            finally:
                c.close(kill=True)
        argv = [
            "--sf-dir", sf_dir,
            "--queries", json.dumps(WORKLOADS[a.workload].queries),
            "--oracle", oracle,
            "--seed", str(a.seed),
            "--seconds", str(a.seconds),
            "--trace", str(a.trace),
            "--out", out,
        ]
        c = Client(argv, env, dirs["cwd"], log, until)
        try:
            setups.append(c.wait_ready())
            rc = c.wait_exit()
        finally:
            c.close()
        if rc != 0:
            raise RuntimeError(f"client exited with {rc}")
        with open(out) as f:
            res = json.load(f)
    except (Deadline, RuntimeError, OSError) as e:
        with open(log, errors="replace") as f:
            raise RuntimeError(f"{e}\n{f.read()[-3000:]}") from None
    scratch_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(dirs["scratch"])
        for f in fs
    )
    return setups, res, c.peak_rss, scratch_bytes


def sample_self_times(spans: list[dict]) -> dict[int, tuple[float, float]]:
    """Sample id -> (wall time of its ``sample`` span, that span's self
    time: its wall time minus its children's). The self time is what the
    layer spans do not cover: the result check, the job-group bookkeeping
    and anything else between ``fn`` and the end of the sample."""
    out = {}
    for root in spans:
        if root["name"] != "sample":
            continue
        wall = root["end"] - root["start"]
        kids = sum(s["end"] - s["start"] for s in spans if s["parent"] == root["id"])
        out[root["sample"]] = (wall, wall - kids)
    return out


def metrics(qids: list[str], setups: list[float], res: dict, peak_rss: int,
            layout_ratio: float, trace: bool) -> tuple[dict, dict, list[str], int]:
    """End-to-end metrics, per-layer metrics, failures and the number of
    results that matched the oracle only within the float tolerance."""
    samples = res["samples"]
    errors = [
        f"{s['kind']} {s['q']}: {s['error'] or 'result differs from the oracle'}"
        for s in samples
        if s["error"] or s["check"] == "mismatch"
    ]
    within_tol = sum(1 for s in samples if s.get("check") == "fp_tolerance")
    cold = {s["q"]: s for s in samples if s["kind"] == "cold"}
    warm = {q: [s for s in samples if s["kind"] == "warm" and s["q"] == q] for q in qids}
    pooled = [s["wall_s"] for ss in warm.values() for s in ss]
    missing = [q for q in qids if q not in cold or not warm[q]]
    if missing:
        raise RuntimeError(f"no samples for {missing}")

    def med(q: str, k: str) -> float:
        return statistics.median(s[k] for s in warm[q] if k in s)

    e2e = {
        "setup_s": statistics.median(setups),
        "cold_s": sum(cold[q]["wall_s"] for q in qids),
        "suite_s": sum(med(q, "wall_s") for q in qids),
        "query_p50_s": statistics.median(pooled),
        "layout_bytes_ratio": layout_ratio,
    }
    layer: dict[str, float] = {
        "session.start_s": res["session_start_s"],
        "registry.import_s": res["registry_import_s"],
        "layout.warm_builds": res["warm_builds"],
        "fail_ratio": len(errors) / len(samples),
        "mem.peak_rss_mb": peak_rss / 2**20,
    }
    if trace:
        layer["exec.floor_s"] = res["floor_s"]
        layer["trace.suite_s"] = e2e["suite_s"]  # every warm sample is traced
        walls, selfs = zip(*sample_self_times(res["spans"]).values())
        layer["trace.self_share"] = sum(selfs) / sum(walls)
        for q in qids:
            layer[f"operators.plan_s.{q}"] = med(q, "plan_s")
            layer[f"catalyst.optimize_s.{q}"] = med(q, "optimize_s")
            layer[f"exec.collect_s.{q}"] = med(q, "collect_s")
            counted = [s for s in warm[q] if "jobs" in s]
            for k in ("jobs", "stages", "tasks"):
                layer[f"exec.{k}.{q}"] = (
                    statistics.median_low(s[k] for s in counted) if counted else 0
                )
            layer[f"layout.build_s.{q}"] = cold[q].get("plan_s", cold[q]["wall_s"]) - med(q, "plan_s")
            layer[f"layout.bytes.{q}"] = res["layout_bytes"].get(q, 0)
    return e2e, layer, errors, within_tol


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--base", choices=("sf0.1", "sf0.001"),
        help="test tables to build the inputs from instead of the workload's "
        "own (the self-test runs on sf0.001)",
    )
    ap.add_argument(
        "--inject-wrong", metavar="QUERY",
        help="check QUERY against a deliberately wrong oracle (self-test)",
    )
    a = ap.parse_args()
    a.started = time.perf_counter()
    # a terminated run still stops its clients and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "aced_etl_pod_spark")):
        print(f"perfbench: no aced_etl_pod_spark package under {ROOT}", file=sys.stderr)
        return 2
    mach = machine()
    sf_dir, fingerprint = prepare_inputs(a.workload, a.seed, a.base or WORKLOADS[a.workload].base)
    oracle = oracle_tables(a.workload, fingerprint, sf_dir)
    qids = [q for q, _ in WORKLOADS[a.workload].queries]
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        setups, res, peak_rss, scratch_bytes = run_clients(a, mach, sf_dir, oracle, run_dir)
        e2e, layer, errors, within_tol = metrics(
            qids, setups, res, peak_rss, scratch_bytes / input_bytes(sf_dir), a.trace
        )
    except RuntimeError as e:
        print(f"perfbench: run failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    samples = res["samples"]
    failed, attempted = len(errors), len(samples)

    # human-readable record of the run
    print(f"machine: {json.dumps(mach)}")
    print(f"spark: {json.dumps(res['confs'])}")
    pooled = [s["wall_s"] for s in samples if s["kind"] == "warm"]
    print(
        f"workload {a.workload} seed {a.seed}: inputs {fingerprint} "
        f"({input_bytes(sf_dir) / 2**20:.1f} MB parquet), {len(qids)} queries, "
        f"{len(pooled)} warm samples in {res['warm_rounds']} rounds, "
        f"setups {[round(s, 3) for s in setups]}, "
        f"run wall {time.perf_counter() - a.started:.1f} s"
    )
    above = sum(1 for v in pooled if v > e2e["query_p50_s"])
    notes = {
        "setup_s": f"median of {len(setups)} start-ups",
        "cold_s": f"{len(qids)} cold samples",
        "suite_s": f"sum of {len(qids)} per-query warm medians",
        "query_p50_s": f"{len(pooled)} warm samples, {above} above the median",
    }
    for k, v in e2e.items():
        print(f"  {k:<20} {v:12.4f} {E2E_UNITS[k]:<6} {notes.get(k, '')}")
    print(
        f"  {'fail_ratio':<20} {failed / attempted:12.4f} ratio  {failed} of "
        f"{attempted} executions failed; {within_tol} matched the oracle only "
        f"within the float tolerance"
    )
    print(f"  {'peak_rss_mb':<20} {peak_rss / 2**20:12.1f} MB     driver JVM + Python workers")
    for err in errors[:10]:
        print(f"  FAILED {err}")
    units = per_layer_units()
    if a.trace:
        for k in sorted(layer):
            print(f"  {k:<44} {layer[k]:14.4f} {units[k]}")

    record = {
        "workload": a.workload,
        "seed": a.seed,
        "trace": a.trace,
        "machine": mach,
        "spark": res["confs"],
        "inputs": {"fingerprint": fingerprint, "bytes": input_bytes(sf_dir)},
        "setups_s": setups,
        "end_to_end": e2e,
        "per_layer": layer,
        "samples": samples,
        "attempted": attempted,
        "failed": failed,
        "fp_tolerance_matches": within_tol,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(record, f)
    if a.trace:
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        with open(os.path.join(WORK, "spans", f"{a.workload}-s{a.seed}.json"), "w") as f:
            json.dump(res["spans"], f)
        out = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
    else:
        out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
