"""Seeded input generator.

Every workload's tables are derived from the vendored sf0.01 base tables
(``base/sf0.01``, byte copies of the driver-generated fixture set) by
replication and re-keying under the seed:

- fact tables listed in a workload's ``replicate`` set get ``factor`` copies;
- every id domain is mapped through a seeded affine bijection
  ``k -> (a * (k * factor + copy) + b) mod P``, so ids stay unique, foreign
  keys stay joinable (``o_orderkey`` and ``l_orderkey`` share one map) and
  ordering by id changes with the seed;
- rows are written in a seeded order.

Text, timestamps and measures are never altered, so the schema, the
duplicate structure and every size are the same for every seed; only ids,
id order and row order change. Dimension tables are copied unchanged.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base", "sf0.01")

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

# id domain -> the (table, column) pairs that carry it
DOMAINS = {
    "orderkey": (("orders", "o_orderkey"), ("lineitem", "l_orderkey")),
    "event_id": (("events", "event_id"),),
    "user_id": (("events", "user_id"),),
    "doc_id": (("documents", "doc_id"),),
    "vec_id": (("embeddings", "vec_id"),),
}


def _next_prime(n: int) -> int:
    def is_prime(m: int) -> bool:
        if m < 2:
            return False
        i = 2
        while i * i <= m:
            if m % i == 0:
                return False
            i += 1
        return True

    while not is_prime(n):
        n += 1
    return n


def _domain_rng(seed: int, name: str) -> np.random.Generator:
    digest = hashlib.sha256(f"{seed}:{name}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _rekey(keys: np.ndarray, copy: int, factor: int, a: int, b: int, p: int) -> np.ndarray:
    x = keys.astype(np.int64) * factor + copy
    return (a * x + b) % p


def generate(out_dir: str, seed: int, replicate: frozenset[str], factor: int) -> dict:
    """Write all ten tables under ``out_dir`` and return the manifest
    (rows and bytes per table). Deterministic in (seed, replicate, factor)."""
    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    base = {t: pq.read_table(os.path.join(BASE_DIR, f"{t}.parquet")) for t in TABLES}

    maps = {}
    for dom, cols in DOMAINS.items():
        kmax = max(int(pa.compute.max(base[t][c]).as_py()) for t, c in cols)
        p = _next_prime(2 * (kmax + 1) * factor + 1)
        rng = _domain_rng(seed, dom)
        maps[dom] = (int(rng.integers(1, p)), int(rng.integers(0, p)), p)

    manifest = {}
    for t in TABLES:
        tab = base[t]
        copies = factor if t in replicate else 1
        parts = []
        for c in range(copies):
            part = tab
            for dom, cols in DOMAINS.items():
                for tt, col in cols:
                    if tt != t:
                        continue
                    a, b, p = maps[dom]
                    vals = part[col].to_numpy(zero_copy_only=False)
                    new = pa.array(_rekey(vals, c, factor, a, b, p), type=part.schema.field(col).type)
                    part = part.set_column(part.schema.get_field_index(col), col, new)
            parts.append(part)
        out = pa.concat_tables(parts) if len(parts) > 1 else parts[0]
        if any(tt == t for cols in DOMAINS.values() for tt, _ in cols):
            order = _domain_rng(seed, f"rows:{t}").permutation(out.num_rows)
            out = out.take(pa.array(order))
        path = os.path.join(tmp, f"{t}.parquet")
        pq.write_table(out, path)
        manifest[t] = {"rows": out.num_rows, "bytes": os.path.getsize(path)}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return manifest


def fingerprint(replicate: frozenset[str], factor: int) -> str:
    """Hash of everything besides the seed that the generated tables depend
    on: this file, the base tables, the replicated set and the factor."""
    h = hashlib.sha256(json.dumps([sorted(replicate), factor]).encode())
    for path in [os.path.abspath(__file__)] + [os.path.join(BASE_DIR, f"{t}.parquet") for t in TABLES]:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def ensure(root: str, seed: int, replicate: frozenset[str], factor: int) -> tuple[str, dict]:
    """Generate once per (seed, fingerprint) under ``root``; later calls
    read the manifest. Returns the input directory and its manifest."""
    out_dir = os.path.join(root, f"seed{seed}-x{factor}-{fingerprint(replicate, factor)}")
    mpath = os.path.join(out_dir, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            return out_dir, json.load(f)
    return out_dir, generate(out_dir, seed, replicate, factor)
