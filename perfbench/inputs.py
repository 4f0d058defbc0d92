"""The benchmark's input tables, built from the vendored test tables.

``perfbench/data/sf0.1`` and ``perfbench/data/sf0.001`` are byte-for-byte
copies of the repository's sf0.1 and sf0.001 test tables (a TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``; see
``TESTDATA.md``). A workload of one tile reads them in place. A workload of
``k`` tiles reads a key-offset tiling written under ``perfbench/.work``:

* the relational tables (``customer``, ``supplier``, ``part``, ``orders``,
  ``lineitem``) hold ``k`` replicas of their rows. Replica ``r`` adds
  ``r * n`` to every key that refers to a table of ``n`` keys, so keys stay
  dense and unique and every join keeps its per-replica cardinality;
* replica 0 is the test table unchanged. Every other replica jitters its
  money column row by row by up to 1% (rounded to the cent), so no replica
  is a clone of another;
* the seed sets the order of the replicas in each file and the jitter;
* ``region``, ``nation``, ``events``, ``documents`` and ``embeddings`` are
  not tiled; they are the test tables unchanged.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# key column -> the tiled table whose keys it holds
KEYS = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders", "l_partkey": "part", "l_suppkey": "supplier"},
}
MONEY = {
    "customer": "c_acctbal",
    "supplier": "s_acctbal",
    "part": "p_retailprice",
    "orders": "o_totalprice",
    "lineitem": "l_extendedprice",
}
JITTER = 0.01


def _fingerprint(sf_dir: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
            h.update(t.encode())
            h.update(f.read())
    return h.hexdigest()[:16]


def _tile(src: pa.Table, name: str, spans: dict[str, int], tiles: int,
          rng: np.random.Generator) -> pa.Table:
    money = src.column_names.index(MONEY[name])
    base = src[MONEY[name]].to_numpy()
    parts = []
    for r in rng.permutation(tiles):
        t = src
        for col, ref in KEYS[name].items():
            i = t.column_names.index(col)
            t = t.set_column(i, col, pc.add(t[col], pa.scalar(int(r) * spans[ref], t[col].type)))
        if r:
            v = np.round(base * (1 + rng.uniform(-JITTER, JITTER, len(base))), 2)
            t = t.set_column(money, MONEY[name], pa.array(v, type=src[MONEY[name]].type))
        parts.append(t)
    return pa.concat_tables(parts)


def prepare(base: str, tiles: int, seed: int, out_dir: str) -> tuple[str, str]:
    """(directory of the input tables, fingerprint of their bytes). One
    tile is the vendored ``base`` directory itself; more tiles are written
    to ``out_dir`` (atomically, via a temp dir) unless a finished set is
    already there."""
    src = os.path.join(DATA, base)
    if tiles == 1:
        return src, _fingerprint(src)
    done = os.path.join(out_dir, "_FINGERPRINT")
    if os.path.exists(done):
        with open(done) as f:
            return out_dir, f.read().strip()
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    spans = {}
    for name in KEYS:  # referenced tables come first, so their spans are known
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        spans[name] = pc.max(t[next(iter(KEYS[name]))]).as_py() + 1
        pq.write_table(_tile(t, name, spans, tiles, rng), os.path.join(tmp, f"{name}.parquet"))
    for name in TABLES:
        if name not in KEYS:
            shutil.copyfile(os.path.join(src, f"{name}.parquet"), os.path.join(tmp, f"{name}.parquet"))
    fingerprint = _fingerprint(tmp)
    with open(os.path.join(tmp, "_FINGERPRINT"), "w") as f:
        f.write(fingerprint)
    os.rename(tmp, out_dir)
    return out_dir, fingerprint


def input_bytes(sf_dir: str) -> int:
    return sum(os.path.getsize(os.path.join(sf_dir, f"{t}.parquet")) for t in TABLES)
