"""Correctness gate: one digest per op result, compared with the digest of
the op's DuckDB oracle on the same generated input.

Both sides go through the canonicalization the repository's driver check
uses: ``tests.oracle.driver_canon`` (imported), then the cell normalization
of ``tools/drive_driver.py`` (columns ordered by name, every cell a string,
floats rounded to 9 decimals, rows sorted). ``drive_driver`` runs the whole
registry when imported, so its ten-line ``norm`` is restated here rather
than imported.
"""

from __future__ import annotations

import hashlib
import json
import math
import os


def digest(cols, rows) -> dict:
    """Canonical digest of a result: sorted column names, row count and a
    sha256 over the normalized, sorted rows."""
    from tests.oracle import driver_canon

    driver_canon(cols, rows)  # raises on cells the driver cannot hash
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(
        tuple(
            str(r[i])
            if not isinstance(r[i], float)
            else ("NaN" if math.isnan(r[i]) else str(round(r[i], 9)))
            for i in idx
        )
        for r in rows
    )
    h = hashlib.sha256()
    for r in norm:
        h.update(repr(r).encode())
        h.update(b"\n")
    return {"cols": sorted(cols), "rows": len(rows), "sha256": h.hexdigest()}


def oracle_digests(sf_dir: str, ops: list[str], cache_path: str, threads: int) -> dict:
    """DuckDB oracle digest per op, cached in ``cache_path``: the oracle
    does not depend on the program, only on the generated input (the cache
    path names it), the oracle SQL and this file's canonicalization. Each
    entry records a hash of the last two and is recomputed when it differs."""
    from erlang_mapreduce_spark.registry import ORACLES

    with open(os.path.abspath(__file__), "rb") as f:
        canon = f.read()
    keys = {op: hashlib.sha256(canon + ORACLES[op].encode()).hexdigest() for op in ops}
    cached = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
    if all(cached.get(op, {}).get("key") == keys[op] for op in ops):
        return _strip(cached, ops)
    from tests.oracle import duck_con

    con = duck_con(sf_dir)
    try:
        con.execute(f"SET threads TO {threads}")
        con.execute("SET memory_limit = '2GB'")
        leaf = os.path.basename(os.path.normpath(sf_dir))
        for op in ops:
            if cached.get(op, {}).get("key") == keys[op]:
                continue
            res = con.execute(ORACLES[op].replace("sf0.01", leaf))
            cols = [d[0] for d in res.description]
            cached[op] = {**digest(cols, [tuple(r) for r in res.fetchall()]), "key": keys[op]}
    finally:
        con.close()
    tmp = cache_path + ".partial"
    with open(tmp, "w") as f:
        json.dump(cached, f, indent=1, sort_keys=True)
    os.replace(tmp, cache_path)
    return _strip(cached, ops)


def _strip(cached: dict, ops: list[str]) -> dict:
    return {op: {k: v for k, v in cached[op].items() if k != "key"} for op in ops}
