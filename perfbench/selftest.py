"""Self-test of the benchmark harness.

    python3 perfbench/selftest.py        (from the repository root)

Checks, in order: the wall-time partition adds up on synthetic spans;
SQL metric strings parse; the generator is deterministic in the seed and
keeps sizes and text across seeds; a session over its timeout is killed
with its whole process group; then one real traced session of
``agg_hash_count`` passes the oracle gate, the gate fires on a corrupted
expected digest, every traced op's layer self-times plus
``unattributed_s`` equal its wall time, and the measured spans leave a
real remainder (``unattributed_s`` > 0, ``op.body_s`` < ``op.build_s``).
Exits non-zero on the first failure.
"""

from __future__ import annotations

import copy
import hashlib
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from layers import PARTITION, gaps, parse_metric, partition  # noqa: E402


def expect(cond: bool, what: str) -> None:
    if not cond:
        print(f"FAIL {what}")
        sys.exit(1)
    print(f"ok   {what}")


def check_partition() -> None:
    spans = {
        "exec.jobs_s": [(1.0, 2.0), (1.5, 3.0)],
        "plan.catalyst_s": [(0.5, 1.2)],
        "tables.load_s": [(0.2, 0.4)],
        "op.body_s": [(0.0, 3.5)],
        "exec.collect_s": [(3.6, 4.0)],
    }
    parts = partition((0.0, 4.0), spans)
    expect(abs(sum(parts.values()) - 4.0) < 1e-9, "partition parts sum to the window")
    expect(abs(parts["exec.jobs_s"] - 2.0) < 1e-9, "overlapping jobs count once")
    expect(abs(parts["plan.catalyst_s"] - 0.5) < 1e-9, "jobs take priority over catalyst")
    expect(abs(parts["unattributed_s"] - 0.1) < 1e-9, "gaps are unattributed")
    expect(gaps((0.0, 4.0), [(1.0, 2.0), (1.5, 2.5), (3.0, 5.0)]) == [(0.0, 1.0), (2.5, 3.0)],
           "gaps of overlapping calls")
    expect(gaps((0.0, 1.0), []) == [(0.0, 1.0)], "no calls: the whole window")


def check_parse() -> None:
    expect(parse_metric("total (min, med, max (stageId: taskId))\n6.5 s (1.6 s, 1.6 s)") == 6.5, "timing total")
    expect(parse_metric("total (min, med, max)\n232.0 KiB (57.0 KiB)") == 232.0 * 1024, "size total")
    expect(parse_metric("2.2 m") == 132.0, "minutes")
    expect(parse_metric("1,234") == 1234.0, "plain count")
    expect(parse_metric(None) == 0.0, "missing metric")


def _digest_dir(d: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def check_gen(work: str) -> None:
    import pyarrow.parquet as pq

    rep = frozenset({"documents", "lineitem", "orders"})
    a, b, c = (os.path.join(work, n) for n in ("a", "b", "c"))
    ma = gen.generate(a, 1, rep, 2)
    gen.generate(b, 1, rep, 2)
    mc = gen.generate(c, 2, rep, 2)
    expect(_digest_dir(a) == _digest_dir(b), "same seed, same bytes")
    expect({t: v["rows"] for t, v in ma.items()} == {t: v["rows"] for t, v in mc.items()},
           "row counts do not depend on the seed")
    ta, tc = (pq.read_table(os.path.join(d, "documents.parquet")) for d in (a, c))
    expect(sorted(ta["text"].to_pylist()) == sorted(tc["text"].to_pylist()), "text multiset kept across seeds")
    expect(ta["doc_id"].to_pylist() != tc["doc_id"].to_pylist(), "ids change with the seed")
    expect(len(set(ta["doc_id"].to_pylist())) == ta.num_rows, "re-keyed ids stay unique")
    base = pq.read_table(os.path.join(gen.BASE_DIR, "lineitem.parquet"))
    keys = {o: set() for o in pq.read_table(os.path.join(a, "orders.parquet"))["o_orderkey"].to_pylist()}
    li = pq.read_table(os.path.join(a, "lineitem.parquet"))["l_orderkey"].to_pylist()
    expect(len(li) == 2 * base.num_rows and all(k in keys for k in li), "foreign keys stay joinable")


def check_timeout(root: str, work: str) -> None:
    import run

    run_dir = os.path.join(work, "timeout")
    cfg = {"setup_only": True, "root": root, "sf_dir": work, "ops": [], "cores": 1,
           "trace": False, "warm_seconds": 0, "min_warm": 0}
    t0 = time.time()
    try:
        run.run_session(root, run_dir, cfg, timeout_s=1)
        killed = False
    except SystemExit:
        killed = True
    expect(killed and time.time() - t0 < 15, f"session over its timeout killed ({time.time() - t0:.1f} s)")


def check_session(root: str) -> None:
    import run

    cores = len(os.sched_getaffinity(0))
    inputs, _, expected = run.prepare(root, "mapreduce_sql", 0, cores)
    ops = ["agg_hash_count"]
    results = run.run_sessions(root, inputs, ops, cores, trace=True, seconds=0, setup_only=0)
    attempted, failures = run.gate(results, expected)
    expect(attempted == 5 and not failures, f"gate passes on the true oracle digest ({attempted} calls)")
    bad = copy.deepcopy(expected)
    bad["agg_hash_count"]["sha256"] = "0" * 64
    attempted, failures = run.gate(results, bad)
    expect(len(failures) == attempted, "gate fires on a corrupted expected digest")
    traced = [o["layers"] for p in results[-1][0]["passes"] if p["traced"] for o in p["ops"]]
    for lay in traced:
        total = sum(lay[k] for k in PARTITION) + lay["unattributed_s"]
        expect(abs(total - lay["wall_s"]) < 1e-6, "traced op: layer self-times sum to wall")
    expect(all(lay["unattributed_s"] > 0 for lay in traced), "unattributed_s is a real remainder")
    expect(all(0 < lay["op.body_s"] < lay["op.build_s"] for lay in traced), "op.body_s is part of the build")
    layers, _ = run.layer_metrics(results, cores)
    expect(layers["exec.jobs"] > 0 and layers["scan.input_rows"] > 0, "status store attributes jobs and scans")


def main() -> None:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "erlang_mapreduce_spark", "__init__.py")):
        print("selftest: run from the repository root", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        check_partition()
        check_parse()
        check_gen(work)
        check_timeout(root, work)
        check_session(root)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
