"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's input from the seed
and computes the DuckDB oracle digests, both cached under ``.perfbench/``
and keyed by everything they depend on. Then runs fresh sessions one after
another, each in its own process: a set-up-only session, then the measured
session (set-up, one cold pass, and warm passes for ``--seconds``, at least
one). One client issues ops back to back (closed loop) on ``local[<cores>]``.
Prints a summary and, as the last line, one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

# Fresh processes that only set up, before the measured session: setup_s is
# the median over them and the measured session (untraced runs only).
SETUP_ONLY_SESSIONS = 1
DRIVER_MEMORY = "2g"  # pinned: the program's default is a quarter of host RAM
SESSION_TIMEOUT_S = 130  # set-up and cold pass; a session over this plus --seconds is killed


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# -- process-tree memory ---------------------------------------------------------
class MemorySampler(threading.Thread):
    """Samples, every ``interval`` seconds, the summed PSS of a process and
    all its descendants from /proc: the Python driver, the JVM and the
    Python workers. PSS splits pages shared by forked workers among them,
    so the sum is the footprint."""

    def __init__(self, pid: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.samples: list[int] = []
        self._done = threading.Event()

    def _tree_pss(self) -> int:
        parent = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
                parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        tree, frontier = {self.pid}, [self.pid]
        children = {}
        for p, pp in parent.items():
            children.setdefault(pp, []).append(p)
        while frontier:
            for c in children.get(frontier.pop(), ()):
                if c not in tree:
                    tree.add(c)
                    frontier.append(c)
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue
        return total

    def run(self) -> None:
        while not self._done.wait(self.interval):
            self.samples.append(self._tree_pss())

    def stop(self) -> list[int]:
        self._done.set()
        self.join()
        return self.samples


# -- isolation -------------------------------------------------------------------
# Each session runs in a private mount namespace whose /tmp is an empty
# directory in the session's scratch. The program keeps its chunk caches,
# streaming checkpoints and sinks under hard-coded /tmp paths; this keeps
# those writes inside the checkout and makes every session start with no
# on-disk program cache (the cold state of cold_pass_s).
ISOLATE = ["unshare", "-m", "sh", "-c", 'mount --bind "$0" /tmp && exec "$@"']


def run_session(root, run_dir, cfg, timeout_s):
    """Run one session process; return (result dict, memory samples in bytes)."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    cfg_path = os.path.join(run_dir, "config.json")
    out_path = os.path.join(run_dir, "result.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cfg["cores"]),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={tmp}",
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
    )
    cmd = ISOLATE + [tmp, sys.executable, os.path.join(HERE, "session.py"), cfg_path, out_path]
    log_path = os.path.join(run_dir, "session.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True
        )
        sampler = MemorySampler(proc.pid)
        sampler.start()
        cpu0 = cpu_times()
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            mem = sampler.stop()
            cpu1 = cpu_times()
            stop_group(proc)
    if code is None:
        fail(f"session killed after its {timeout_s:.0f} s timeout", 1)
    if code != 0 or not os.path.exists(out_path):
        with open(log_path, errors="replace") as f:
            tail = "".join(l for l in f.readlines() if "WARN" not in l)[-3000:]
        fail(f"session failed (exit {code}):\n{tail}", 1)
    with open(out_path) as f:
        res = json.load(f)
    busy = [b - a for a, b in zip(cpu0, cpu1)]
    res["cpu_steal_share"] = busy[7] / sum(busy) if sum(busy) else 0.0
    return res, mem


def stop_group(proc: subprocess.Popen) -> None:
    """Kill the session's process group (the session itself if it is still
    running, the JVM, Python workers) and wait until every member has
    ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    try:
        for _ in range(200):
            os.killpg(proc.pid, 0)
            time.sleep(0.05)
    except ProcessLookupError:
        return
    fail(f"processes of session group {proc.pid} did not end", 1)


def cpu_times() -> list[int]:
    """Host-wide jiffies per state from /proc/stat (index 7 is steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


# -- aggregation -----------------------------------------------------------------
# Per-op layer values that add up over the ops of a pass.
SUM_LAYER_KEYS = (
    "wall_s", "op.build_s", "op.body_s", "op.eager_jobs", "tables.load_s", "stream.batch_s",
    "plan.catalyst_s", "exec.force_s", "exec.jobs_s", "exec.collect_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s",
    "scan.input_bytes", "scan.input_rows", "shuffle.write_bytes", "shuffle.read_bytes",
    "shuffle.fetch_wait_s", "spill.bytes",
    "python.boot_s", "python.init_s", "python.run_s", "python.bytes_sent", "python.bytes_received",
    "ckpt.self_s", "ckpt.shared_builds", "ckpt.shared_hits",
    "stream.batches", "stream.planning_ms", "stream.wal_ms", "stream.add_batch_ms",
    "stream.state_rows", "stream.state_bytes", "stream.state_commit_ms",
    "unattributed_s",
)
# Per-op values that are a level, not an amount: a pass reports its maximum.
MAX_LAYER_KEYS = ("ckpt.stored_bytes",)


def passes(results, kind, traced=None):
    return [
        p for r, _ in results for p in r["passes"]
        if p["kind"] == kind and (traced is None or p["traced"] == traced)
    ]


def gate(results, expected):
    """Correctness gate over every op call: a raise or a digest that differs
    from the oracle's counts as failed."""
    attempted, failures = 0, []
    for kind in ("cold", "warm"):
        for p in passes(results, kind):
            for o in p["ops"]:
                attempted += 1
                if "error" in o:
                    failures.append({"op": o["op"], "pass": kind, "error": o["error"]})
                elif o["digest"] != expected[o["op"]]:
                    failures.append({"op": o["op"], "pass": kind, "error": "digest mismatch"})
    return attempted, failures


def layer_metrics(results, cores):
    """Per-layer metrics of one traced warm pass (median over the traced
    warm passes), plus per-op medians and the cold pass's per-op layers."""
    traced = passes(results, "warm", traced=True)
    per_pass, per_op, triggers = [], {}, []
    for p in traced:
        tot = dict.fromkeys(SUM_LAYER_KEYS + MAX_LAYER_KEYS, 0.0)
        for o in p["ops"]:
            lay = o["layers"]
            for k in SUM_LAYER_KEYS:
                tot[k] += lay[k]
            for k in MAX_LAYER_KEYS:
                tot[k] = max(tot[k], lay[k])
            for k in SUM_LAYER_KEYS + MAX_LAYER_KEYS:
                per_op.setdefault(o["op"], {}).setdefault(k, []).append(lay[k])
            triggers += lay["stream.trigger_ms"]
        per_pass.append(tot)
    m = {k: median([t[k] for t in per_pass]) for k in SUM_LAYER_KEYS + MAX_LAYER_KEYS}
    wall = m.pop("wall_s")
    m["exec.cpu_util"] = m["exec.cpu_s"] / (wall * cores) if wall else 0.0
    calls = m["ckpt.shared_builds"] + m["ckpt.shared_hits"]
    m["ckpt.hit_ratio"] = m["ckpt.shared_hits"] / calls if calls else 0.0
    m["stream.microbatch_p50_ms"] = median(triggers)
    m["stream.microbatch_samples"] = len(triggers)
    setup = results[-1][0]["setup"]
    for k in ("session.import_s", "session.start_s", "session.first_action_s"):
        m[k] = setup[k]
    untraced = [p["pass_s"] for p in passes(results, "warm", traced=False)]
    m["trace.overhead_s"] = median([p["pass_s"] for p in traced]) - median(untraced)
    detail = {
        "traced_warm_passes": len(traced),
        "untraced_warm_passes": len(untraced),
        "per_op_warm": {op: {k: median(v) for k, v in d.items()} for op, d in per_op.items()},
        "per_op_cold": {
            o["op"]: {k: v for k, v in o["layers"].items() if k != "stream.trigger_ms"}
            for p in passes(results, "cold", traced=True) for o in p["ops"]
        },
    }
    return m, detail


def e2e_metrics(results, input_rows):
    """End-to-end metrics of the run, plus mem_p90_mb: too noisy across runs
    to gate, so it is reported per-layer and in the detail line."""
    warm = [p["pass_s"] for p in passes(results, "warm", traced=False)]
    mem = [x / (1 << 20) for x in results[-1][1]]
    m = {
        "setup_s": median([r["setup"]["setup_s"] for r, _ in results]),
        "cold_pass_s": median([p["pass_s"] for p in passes(results, "cold")]),
        "warm_pass_s": median(warm),
        "mem_p90_mb": statistics.quantiles(mem, n=10)[8],
    }
    m["input_rows_per_s"] = input_rows / m["warm_pass_s"]
    samples = {"setup_s": len(results), "cold_pass_s": 1, "warm_pass_s": len(warm), "mem_p90_mb": len(mem)}
    return m, samples


# -- driver ------------------------------------------------------------------------
def prepare(root, workload, seed, cores):
    """Generated input dir, its manifest, and the oracle digests per op."""
    import check
    import gen

    wl = WORKLOADS[workload]
    work = os.path.join(root, ".perfbench")
    inputs, manifest = gen.ensure(os.path.join(work, "inputs", workload), seed, wl["replicate"], wl["factor"])
    os.makedirs(os.path.join(work, "oracle"), exist_ok=True)
    cache = os.path.join(work, "oracle", f"{workload}-{os.path.basename(inputs)}.json")
    return inputs, manifest, check.oracle_digests(inputs, wl["ops"], cache, cores)


def run_sessions(root, inputs, ops, cores, trace, seconds, setup_only=SETUP_ONLY_SESSIONS):
    """Run ``setup_only`` set-up-only sessions, then the measured one."""
    runs_dir = os.path.join(root, ".perfbench", "runs")
    results = []
    for i in range(setup_only + 1):
        run_dir = os.path.join(runs_dir, f"{os.getpid()}-{i}")
        shutil.rmtree(run_dir, ignore_errors=True)
        cfg = {
            "setup_only": i < setup_only,
            "root": root,
            "sf_dir": inputs,
            "ops": ops,
            "cores": cores,
            "trace": trace,
            "warm_seconds": seconds,
            "min_warm": 4 if trace else 1,
        }
        try:
            results.append(run_session(root, run_dir, cfg, seconds + SESSION_TIMEOUT_S))
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    return results


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for needed in ("erlang_mapreduce_spark/__init__.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(root, needed)):
            fail(f"{needed} not found under {root}: run from the repository root")
    sys.path.insert(0, root)

    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    inputs, manifest, expected = prepare(root, args.workload, args.seed, cores)
    results = run_sessions(
        root, inputs, wl["ops"], cores, bool(args.trace), args.seconds,
        setup_only=0 if args.trace else SETUP_ONLY_SESSIONS,
    )
    attempted, failures = gate(results, expected)

    input_rows = sum(manifest[t]["rows"] for t in wl["input_tables"])
    e2e, samples = e2e_metrics(results, input_rows)
    measured = results[-1][0]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "env": {
            "cores": cores,
            "master": f"local[{cores}]",
            "driver_memory": measured["driver_memory"],
            "spark": measured["spark_version"],
            "java": measured["java_version"],
            "python": platform.python_version(),
            "cpu_steal_share": measured["cpu_steal_share"],
            "tmp_isolation": "private /tmp per session",
            "loop": "closed, one client",
            "states": {
                "setup_s": "fresh process",
                "cold_pass_s": "fresh process, no on-disk program cache",
                "warm_pass_s": "same process, after the cold pass",
            },
            "traced": bool(args.trace),
        },
        "input": {"rows": input_rows, "tables": {t: manifest[t] for t in wl["input_tables"]}},
        "e2e": e2e,
        "samples": samples,
        "failures": failures,
        "op_fail_ratio": len(failures) / attempted,
        "op_wall_s": {
            kind: {
                op: median([o["wall_s"] for p in passes(results, kind, None if kind == "cold" else False)
                            for o in p["ops"] if o["op"] == op])
                for op in wl["ops"]
            }
            for kind in ("cold", "warm")
        },
    }
    if args.trace:
        metrics, detail["layers"] = layer_metrics(results, cores)
        metrics["op_fail_ratio"] = detail["op_fail_ratio"]
        metrics["mem_p90_mb"] = e2e["mem_p90_mb"]
        units = metric_units("per_layer")
    else:
        metrics, units = e2e, metric_units("end_to_end")
    out = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
    print("perfbench detail: " + json.dumps(detail, sort_keys=True))
    for k, v in out.items():
        print(f"  {k:28s} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures), "metrics": out}))


def metric_units(section: str) -> dict[str, str]:
    """Metric names and units of a BENCHMARK.json section, in its order."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


if __name__ == "__main__":
    main()
