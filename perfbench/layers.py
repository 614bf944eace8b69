"""Per-layer tracing for one op invocation, measured from outside the program.

Spans are recorded around calls into the layers' public functions
(``tables.load`` and the ``ckpt`` checkpoint functions, wrapped in every
engine module that imported them) and around every Py4J call the driver
thread makes into the JVM. The rest comes from Spark's own records: the
status store (jobs, stages, SQL executions with their Python-worker
metrics), a ``QueryExecutionListener`` (Catalyst phase intervals) and a
``StreamingQueryListener`` (micro-batch progress).

Every Spark job submitted while an op runs belongs to that op: the
benchmark drives one op at a time from one thread. The job group is also
set to ``perfbench:<op>`` so Spark's own tooling sees the op id; streaming
jobs carry their query's run id instead, which is why attribution is by
job id range and not by group.

Wall-time partition of one op (``wall = build start t0 .. force end t2``,
with the build ending at t1): each instant is given to exactly one layer,
the first that is active in this order:

- ``exec.jobs_s``: a Spark job of the op is running;
- ``stream.batch_s``: a micro-batch is running (its planning, WAL and
  state-store commit, outside the batch's jobs);
- ``plan.catalyst_s``: a Catalyst phase of an executed query is running;
- ``tables.load_s``: a ``tables.load`` call;
- ``ckpt.self_s``: a ``ckpt`` call;
- ``op.body_s``: Python in the op body, i.e. build-window instants when
  the driver thread is not inside a Py4J call;
- ``exec.collect_s``: result transfer, from the end of the last job that
  ends inside the force window (or from t1, if none does) to t2.

What is left is ``unattributed_s``: driver-side JVM work outside every
Catalyst phase and job (DataFrame API calls, analysis of plans that are
never executed, file listing, job submission), measured as the remainder.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import threading
import time
from datetime import datetime

CKPT_FUNCS = (
    "shared_local_checkpoint",
    "pooled_local_checkpoint",
    "pooled_persist",
    "park_local_checkpoint",
)

PY_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")

# Priority order of the wall-time partition (first active layer wins).
PARTITION = (
    "exec.jobs_s",
    "stream.batch_s",
    "plan.catalyst_s",
    "tables.load_s",
    "ckpt.self_s",
    "op.body_s",
    "exec.collect_s",
)


def parse_metric(text: str | None) -> float:
    """Total of a formatted SQL metric ('total (min, med, max ...)\\n1.2 s
    (...)' or a bare '1.2 s'), in seconds or bytes."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def partition(window: tuple[float, float], spans: dict[str, list]) -> dict[str, float]:
    """Split ``window`` among the layers of PARTITION by priority; the
    remainder is ``unattributed_s``."""
    lo, hi = window
    cuts = {lo, hi}
    for ivs in spans.values():
        for a, b in ivs:
            if b > lo and a < hi:
                cuts.add(min(max(a, lo), hi))
                cuts.add(min(max(b, lo), hi))
    pts = sorted(cuts)
    out = dict.fromkeys(PARTITION, 0.0)
    out["unattributed_s"] = 0.0
    for a, b in zip(pts, pts[1:]):
        mid = (a + b) / 2
        for layer in PARTITION:
            if any(s <= mid < e for s, e in spans.get(layer, ())):
                out[layer] += b - a
                break
        else:
            out["unattributed_s"] += b - a
    return out


def gaps(window: tuple[float, float], ivs) -> list[tuple[float, float]]:
    """The parts of ``window`` that no interval of ``ivs`` covers."""
    lo, hi = window
    out, at = [], lo
    for a, b in sorted(ivs):
        if a > at:
            out.append((at, min(a, hi)))
        at = max(at, b)
        if at >= hi:
            break
    if at < hi:
        out.append((at, hi))
    return [(a, b) for a, b in out if b > a]


class Tracer:
    """Owns the listeners and wrappers of one traced session."""

    def __init__(self, spark, cores: int):
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        jvm = self.sc._jvm
        self._jvm = jvm
        self._status = self.sc._jsc.sc().statusStore()
        self._sql_status = spark._jsparkSession.sharedState().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self.active = False
        self._spans: list[tuple[str, float, float]] = []
        self._ckpt = {"builds": 0, "hits": 0}
        self._phases: list[tuple[float, float]] = []
        self._progress: list[dict] = []
        self._last_job = -1
        self._last_exec = -1

        tracer = self

        class _QueryListener:
            def onSuccess(self, func_name, qe, duration_ns):
                tracer._on_query(qe)

            def onFailure(self, func_name, qe, exc):
                tracer._on_query(qe)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        class _StreamListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if tracer.active:
                    tracer._progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        ensure_callback_server_started(self.sc._gateway)
        self._qel = _QueryListener()
        self._stream_listener = _StreamListener()
        self._attached = False
        self._wrap_layers()
        self._wrap_py4j()
        self._skip_to_now()

    def attach(self) -> None:
        """Register the listeners (for a traced pass) and skip the status
        store past the jobs of any untraced pass before it."""
        if not self._attached:
            self.spark._jsparkSession.listenerManager().register(self._qel)
            self.spark.streams.addListener(self._stream_listener)
            self._attached = True
        self._skip_to_now()

    def detach(self) -> None:
        """Unregister the listeners, so an untraced pass pays nothing."""
        if self._attached:
            self._bus.waitUntilEmpty()
            self.spark._jsparkSession.listenerManager().unregister(self._qel)
            self.spark.streams.removeListener(self._stream_listener)
            self._attached = False

    # -- listeners -------------------------------------------------------
    def _on_query(self, qe) -> None:
        if not self.active:
            return
        try:
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                ph = kv._2()
                self._phases.append((ph.startTimeMs() / 1e3, ph.endTimeMs() / 1e3))
        except Exception as e:  # a listener must never fail the query
            print(f"perfbench: phase read failed: {e!r}", file=sys.stderr)

    # -- wrappers around layer entry points ---------------------------------
    def _span(self, layer: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            if fn.__name__ == "shared_local_checkpoint":
                from erlang_mapreduce_spark import ckpt

                self._ckpt["hits" if args[0] in ckpt._SHARED else "builds"] += 1
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self._spans.append((layer, t0, time.time()))

        return wrapper

    def _wrap_layers(self) -> None:
        from erlang_mapreduce_spark import ckpt, tables

        targets = [(tables, "load", "tables.load_s")]
        targets += [(ckpt, name, "ckpt.self_s") for name in CKPT_FUNCS]
        mods = [m for n, m in sys.modules.items() if n.startswith("erlang_mapreduce_spark") and m]
        for home, name, layer in targets:
            orig = getattr(home, name)
            wrapped = self._span(layer, orig)
            for mod in mods:
                if getattr(mod, name, None) is orig:
                    setattr(mod, name, wrapped)

    def _wrap_py4j(self) -> None:
        """Time every Py4J call of the driver thread (the op body's calls
        into the JVM); listener callbacks run on other threads."""
        client = self.sc._gateway._gateway_client
        send = client.send_command
        main = threading.get_ident()

        def send_command(*args, **kwargs):
            if not self.active or threading.get_ident() != main:
                return send(*args, **kwargs)
            t0 = time.time()
            try:
                return send(*args, **kwargs)
            finally:
                self._spans.append(("py4j", t0, time.time()))

        client.send_command = send_command

    # -- per-op bracket ------------------------------------------------------
    def _skip_to_now(self) -> None:
        self._bus.waitUntilEmpty()
        self._new_jobs()
        self._new_executions()

    def begin(self, op: str) -> None:
        self._spans.clear()
        self._phases.clear()
        self._progress.clear()
        self._ckpt = {"builds": 0, "hits": 0}
        self.sc.setJobGroup(f"perfbench:{op}", op)
        self.active = True

    def end(self, t0: float, t1: float, t2: float) -> dict:
        """Close the op bracket (build t0..t1, force t1..t2) and return its
        layer record."""
        self.sc._jsc.clearJobGroup()
        self._bus.waitUntilEmpty()
        self.active = False
        jobs = self._new_jobs()
        stages = self._stages({sid for j in jobs for sid in j["stageIds"]})
        return self._layers(t0, t1, t2, jobs, stages, self._new_executions())

    # -- status store readers ----------------------------------------------
    def _to_py(self, obj):
        return json.loads(self._json.writeValueAsString(obj))

    def _new_jobs(self) -> list[dict]:
        jobs = []
        while True:
            try:
                j = self._status.job(self._last_job + 1)
            except Exception:
                break
            self._last_job += 1
            jobs.append(self._to_py(j))
        return jobs

    def _stages(self, ids) -> list[dict]:
        out = []
        for sid in sorted(ids):
            try:
                data = self._status.stageData(
                    sid, False, self._jvm.java.util.ArrayList(), False, self._no_quantiles
                )
            except Exception:
                continue
            out.extend(s for s in self._to_py(data) if s["status"] == "COMPLETE")
        return out

    def _new_executions(self) -> list[dict]:
        execs = []
        while True:
            opt = self._sql_status.execution(self._last_exec + 1)
            if opt.isEmpty():
                break
            self._last_exec += 1
            execs.append(self._to_py(opt.get()))
        return execs

    # -- record --------------------------------------------------------------
    def _layers(self, t0, t1, t2, jobs, stages, execs) -> dict:
        job_ivs = [
            (j["submissionTime"] / 1e3, (j.get("completionTime") or t2 * 1e3) / 1e3)
            for j in jobs
            if j.get("submissionTime")
        ]
        ends_in_force = [b for _, b in job_ivs if t1 <= b <= t2]
        stream = self._stream_metrics()
        spans = {
            "exec.jobs_s": job_ivs,
            "stream.batch_s": stream.pop("stream.batch_ivs"),
            "plan.catalyst_s": list(self._phases),
            "tables.load_s": [(a, b) for l, a, b in self._spans if l == "tables.load_s"],
            "ckpt.self_s": [(a, b) for l, a, b in self._spans if l == "ckpt.self_s"],
            "op.body_s": gaps((t0, t1), [(a, b) for l, a, b in self._spans if l == "py4j"]),
            "exec.collect_s": [(max(ends_in_force, default=t1), t2)],
        }
        rec = partition((t0, t2), spans)
        wall = t2 - t0
        rec.update(
            {
                "wall_s": wall,
                "op.build_s": t1 - t0,
                "exec.force_s": t2 - t1,
                "op.eager_jobs": sum(1 for a, _ in job_ivs if a < t1),
                "exec.jobs": len(jobs),
                "exec.stages": len(stages),
                "exec.tasks": sum(s["numCompleteTasks"] for s in stages),
                "exec.run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
                "exec.cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
                "exec.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
                "scan.input_bytes": sum(s["inputBytes"] for s in stages),
                "scan.input_rows": sum(s["inputRecords"] for s in stages),
                "shuffle.write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
                "shuffle.read_bytes": sum(s["shuffleReadBytes"] for s in stages),
                "shuffle.fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
                "spill.bytes": sum(s["diskBytesSpilled"] for s in stages),
                "ckpt.shared_builds": self._ckpt["builds"],
                "ckpt.shared_hits": self._ckpt["hits"],
                "ckpt.stored_bytes": self._stored_bytes(),
            }
        )
        rec["exec.cpu_util"] = rec["exec.cpu_s"] / (wall * self.cores) if wall > 0 else 0.0
        rec.update(self._python_metrics(execs))
        rec.update(stream)
        return rec

    def _stored_bytes(self) -> int:
        total = 0
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            total += info.memSize() + info.diskSize()
        return total

    @staticmethod
    def _python_metrics(execs) -> dict:
        out = dict.fromkeys(PY_METRICS.values(), 0.0)
        for ex in execs:
            values = ex.get("metricValues") or {}
            seen = set()
            for m in ex.get("metrics", ()):
                name = PY_METRICS.get(m["name"])
                acc = m["accumulatorId"]
                if name is None or acc in seen:
                    continue
                seen.add(acc)
                out[name] += parse_metric(values.get(str(acc)))
        return out

    def _stream_metrics(self) -> dict:
        final_state: dict[str, tuple[int, int]] = {}
        rec = {
            "stream.batches": len(self._progress),
            "stream.planning_ms": 0.0,
            "stream.wal_ms": 0.0,
            "stream.add_batch_ms": 0.0,
            "stream.state_commit_ms": 0.0,
            "stream.trigger_ms": [],
            "stream.batch_ivs": [],
        }
        for p in self._progress:
            d = p.get("durationMs") or {}
            rec["stream.planning_ms"] += d.get("queryPlanning", 0)
            rec["stream.wal_ms"] += d.get("walCommit", 0)
            rec["stream.add_batch_ms"] += d.get("addBatch", 0)
            rec["stream.trigger_ms"].append(d.get("triggerExecution", 0))
            start = datetime.fromisoformat(p["timestamp"]).timestamp()
            rec["stream.batch_ivs"].append((start, start + d.get("triggerExecution", 0) / 1e3))
            ops = p.get("stateOperators") or []
            rec["stream.state_commit_ms"] += sum(o.get("commitTimeMs", 0) for o in ops)
            if ops:
                final_state[p["runId"]] = (
                    sum(o.get("numRowsTotal", 0) for o in ops),
                    sum(o.get("memoryUsedBytes", 0) for o in ops),
                )
        rec["stream.state_rows"] = sum(r for r, _ in final_state.values())
        rec["stream.state_bytes"] = sum(b for _, b in final_state.values())
        return rec
