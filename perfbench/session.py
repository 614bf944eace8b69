"""One fresh benchmark session (one process, one SparkSession, one client).

Usage: python3 perfbench/session.py <config.json> <result.json>

Times the set-up (package import, ``get_spark``, a trivial first action),
then one cold pass over the workload's ops, then warm passes back to back
for ``warm_seconds`` (at least ``min_warm`` of them). Every op call is
``QUERIES[op](spark, sf_dir)`` followed by ``collect()``; the result digest
for the correctness gate is taken after the timed span. With tracing on,
the cold pass and half the warm passes are traced; the other warm passes
run untraced, so the run measures its own tracing overhead.
"""

from __future__ import annotations

import json
import sys
import time


def _run_op(spark, queries, op, sf_dir, tracer):
    from check import digest

    rec = {"op": op}
    if tracer is not None:
        tracer.begin(op)
    t0 = time.time()
    t1 = t2 = None
    try:
        df = queries[op](spark, sf_dir)
        t1 = time.time()
        rows = df.collect()
        t2 = time.time()
    except Exception as e:
        rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        t2 = time.time()
        t1 = t1 or t2
    rec.update(build_s=t1 - t0, force_s=t2 - t1, wall_s=t2 - t0)
    if tracer is not None:
        rec["layers"] = tracer.end(t0, t1, t2)
    if "error" not in rec:
        try:
            rec["digest"] = digest(list(df.columns), [tuple(r) for r in rows])
        except Exception as e:
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
    return rec


def _run_pass(spark, queries, cfg, kind, tracer):
    if tracer is not None:
        tracer.attach()
    ops = [_run_op(spark, queries, op, cfg["sf_dir"], tracer) for op in cfg["ops"]]
    return {
        "kind": kind,
        "traced": tracer is not None,
        "pass_s": sum(o["wall_s"] for o in ops),
        "ops": ops,
    }


def main(cfg_path: str, out_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    sys.path.insert(0, cfg["root"])

    t0 = time.perf_counter()
    import erlang_mapreduce_spark  # noqa: F401  (registers every op)
    from erlang_mapreduce_spark.registry import QUERIES
    from erlang_mapreduce_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark()
    t2 = time.perf_counter()
    spark.range(1).count()
    t3 = time.perf_counter()
    setup = {
        "setup_s": t3 - t0,
        "session.import_s": t1 - t0,
        "session.start_s": t2 - t1,
        "session.first_action_s": t3 - t2,
    }

    if cfg["setup_only"]:
        with open(out_path, "w") as f:
            json.dump({"setup": setup, "passes": []}, f)
        spark.stop()
        return

    tracer = None
    if cfg["trace"]:
        from layers import Tracer

        tracer = Tracer(spark, cfg["cores"])

    passes = [_run_pass(spark, QUERIES, cfg, "cold", tracer)]
    deadline = time.time() + cfg["warm_seconds"]
    n_warm = 0
    while True:
        last = passes[-1]["pass_s"]
        if n_warm >= cfg["min_warm"] and time.time() + last > deadline:
            break
        # untraced and traced warm passes in U T T U order, so neither side
        # gets the later, warmer passes
        traced = tracer if (tracer is not None and n_warm % 4 in (1, 2)) else None
        if tracer is not None and traced is None:
            tracer.detach()
        passes.append(_run_pass(spark, QUERIES, cfg, "warm", traced))
        n_warm += 1

    env = {
        "driver_memory": spark.conf.get("spark.driver.memory", None),
        "spark_version": spark.version,
        "java_version": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
    }
    with open(out_path, "w") as f:
        json.dump({"setup": setup, "passes": passes, **env}, f)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
