"""Spans around the package's public functions, taken from outside.

``Tracer.install`` replaces each listed public function with a wrapper
that records a span (name, layer, start, end, parent, operation) and
rebinds every module namespace that imported the function by name, so a
``from x import f`` made at import time is traced too. Spans stay in
memory; ``Tracer.report`` turns them into per-layer metrics and
``Tracer.dump`` writes them out when the run ends.

Spark work is read from the driver's status store
(``sc._jsc.sc().statusStore()``), not from listener callbacks:

* At every span's end the jobs submitted since the previous read, and the
  stages of every finished job, are copied out as JSON. The store keeps
  only the last ~1000 jobs and stages, so reading late would lose them,
  and a delta of store totals goes wrong once entries are evicted.
* A job belongs to the innermost span open when it was submitted, by
  time. Job groups are not used: the profiler and the CAT engine submit
  jobs from ``ThreadPoolExecutor`` threads, which do not inherit them.
* A lazily returned DataFrame runs its jobs inside the span of whatever
  consumes it (often a store write or the CLI verb itself). The benchmark
  does not force materialization to move them, because that would change
  the program it measures.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time

from py4j.protocol import Py4JJavaError

PKG = "dataops_testgen_spark"

# layer -> (module, public function or Class.method) wrapped in that layer;
# the public entry points the workloads reach
LAYER_FUNCS = {
    "io": [("io.loaders", "load_table")],
    "profiling": [("profiling.profiler", "profile_tables"),
                  ("profiling.profiler", "profile_table")],
    "inference": [("inference.postprocess", "apply_inference")],
    "anomalies": [("anomalies.screen", "screen_anomalies")],
    "generation": [("generation.selection", "generate_selection_tests"),
                   ("generation.selection", "to_test_defs")],
    "execution": [("execution.cat", "run_cat_tests"),
                  ("execution.query_runner", "run_query_tests"),
                  ("execution.validation", "validate_tests"),
                  ("execution.query_tests", "table_fingerprint")],
    "scoring": [("scoring.rollup", "rollup_scores"),
                ("scoring.rollup", "attach_test_prevalence")],
    "prediction": [("prediction.forecast", "predict_tolerances")],
    "store": [("store", "RunStore.append"), ("store", "RunStore.read"),
              ("store", "RunStore.record_profile_run"),
              ("store", "RunStore.record_test_generation"),
              ("store", "RunStore.record_test_run"),
              ("store", "RunStore.list_test_runs")],
    "pipeline": [("pipeline.dedup", "verified_near_dups"),
                 ("pipeline.dedup", "dedup_keep_one"),
                 ("pipeline.retrieval", "lexical_index_append"),
                 ("pipeline.retrieval", "bm25_index_topk"),
                 ("pipeline.multimodal", "multimodal_feature_report")],
}
LAYERS = list(LAYER_FUNCS)
LAYER_METRICS = [("calls", "count"), ("self_s", "s"), ("driver_s", "s"),
                 ("jobs", "count"), ("tasks", "count"),
                 ("exec_run_s", "s"), ("exec_cpu_s", "s"),
                 ("shuffle_mb", "MB"), ("spill_mb", "MB"),
                 ("failed", "count")]


def _tests_in(args, kwargs):
    defs = kwargs.get("defs", args[1] if len(args) > 1 else ())
    return len(defs)


def _columns_in(args, kwargs):
    tables = kwargs.get("tables", args[0] if args else {})
    return sum(len(df.columns) for df in tables.values())


# counts recorded at the boundary where the work happens
COUNTERS = {
    "execution.run_cat_tests": ("tests", _tests_in),
    "execution.run_query_tests": ("tests", _tests_in),
    "profiling.profile_tables": ("columns", _columns_in),
}


def _merge(intervals):
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        elif e > s:
            out.append([s, e])
    return out


def _subtract(base, holes):
    """Intervals of ``base`` (a merged list) not covered by ``holes``."""
    out = []
    holes = _merge(holes)
    for s, e in base:
        cur = s
        for hs, he in holes:
            if he <= cur or hs >= e:
                continue
            if hs > cur:
                out.append([cur, hs])
            cur = max(cur, he)
        if cur < e:
            out.append([cur, e])
    return out


def _length(intervals):
    return sum(e - s for s, e in intervals)


class Tracer:
    def __init__(self, spark):
        jvm = spark._jvm
        self._status = spark.sparkContext._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala,
                               "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._jvm = jvm
        self._lock = threading.RLock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[dict] = []
        self._patched: list[tuple] = []
        self.spans: list[dict] = []
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.counts: dict[str, int] = {}
        # wall intervals spent in the tracer's own bookkeeping; they are
        # taken out of every span's self time
        self.overhead: list[list[float]] = []
        self.op = None
        self._max_job = self._newest_job()
        self._pending: set[int] = set()

    # -- wrapping -----------------------------------------------------------

    def install(self) -> None:
        for layer, entries in LAYER_FUNCS.items():
            for mod_name, attr in entries:
                mod = importlib.import_module(f"{PKG}.{mod_name}")
                name = f"{layer}.{attr}"
                if "." in attr:
                    cls_name, meth = attr.split(".")
                    owner = getattr(mod, cls_name)
                    orig = owner.__dict__[meth]
                    self._patch(owner, meth, orig, self._wrap(orig, name,
                                                              layer))
                    continue
                orig = getattr(mod, attr)
                wrapper = self._wrap(orig, name, layer)
                for m in list(sys.modules.values()):
                    if not getattr(m, "__name__", "").startswith(
                            (PKG, "perfbench")):
                        continue
                    for key, val in list(vars(m).items()):
                        if val is orig:
                            self._patch(m, key, orig, wrapper)

    def uninstall(self) -> None:
        for owner, key, orig in reversed(self._patched):
            setattr(owner, key, orig)
        self._patched.clear()

    def _patch(self, owner, key, orig, wrapper):
        setattr(owner, key, wrapper)
        self._patched.append((owner, key, orig))

    def _wrap(self, fn, name, layer):
        counter = COUNTERS.get(name)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if counter:
                key, count = counter
                t0 = time.time()
                n = count(args, kwargs)
                with self._lock:
                    self.counts[key] = self.counts.get(key, 0) + n
                    self.overhead.append([t0, time.time()])
            span = self.open(name, layer)
            try:
                return fn(*args, **kwargs)
            except BaseException:
                span["failed"] = 1
                raise
            finally:
                self.close(span)
        return wrapper

    # -- spans --------------------------------------------------------------

    def _stack(self) -> list[dict]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, layer: str) -> dict:
        stack = self._stack()
        with self._lock:
            # a pool thread's first span nests under the main thread's
            parent = (stack[-1] if stack else
                      self._main_stack[-1] if self._main_stack else None)
            span = {"id": len(self.spans), "name": name, "layer": layer,
                    "start": time.time(), "end": None,
                    "parent": parent["id"] if parent else None,
                    "op": self.op, "failed": 0}
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack().pop()
        with self._lock:
            self._read_status()
            self.overhead.append([span["end"], time.time()])

    def overhead_s(self) -> float:
        return _length(_merge(self.overhead))

    # -- status store -------------------------------------------------------

    def _newest_job(self) -> int:
        jobs = self._status.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _read_status(self) -> None:
        jobs = self._status.jobsList(None)        # newest first
        n = jobs.size()
        fresh = []
        if n:
            newest = jobs.apply(0).jobId()
            k = min(n, newest - self._max_job)
            if k > 0:
                fresh = json.loads(self._mapper.writeValueAsString(
                    jobs.slice(0, k)))
                self._max_job = newest
        for jid in list(self._pending):
            fresh.append(json.loads(self._mapper.writeValueAsString(
                self._status.job(jid))))
            self._pending.discard(jid)
        want = self._jvm.java.util.ArrayList()
        for job in fresh:
            self.jobs[job["jobId"]] = job
            if job["status"] == "RUNNING":
                self._pending.add(job["jobId"])
                continue
            for sid in job["stageIds"]:
                if sid not in self.stages:
                    self.stages[sid] = None
                    want.add(sid)
        if want.size():
            got = self._jvm.java.util.ArrayList()
            for i in range(want.size()):
                try:
                    got.add(self._status.lastStageAttempt(want.get(i)))
                except Py4JJavaError:    # evicted or never registered
                    pass
            for st in json.loads(self._mapper.writeValueAsString(got)):
                self.stages[st["stageId"]] = st

    def flush(self) -> None:
        with self._lock:
            self._read_status()

    # -- reporting ----------------------------------------------------------

    def attribute(self) -> dict[int, int | None]:
        """job id -> id of the innermost span open at its submission."""
        closed = [s for s in self.spans if s["end"] is not None]
        out = {}
        for jid, job in self.jobs.items():
            t = (job.get("submissionTime") or 0) / 1000.0
            best = None
            for s in closed:
                # submission times have millisecond resolution
                if s["start"] - 0.001 <= t <= s["end"] and (
                        best is None or s["start"] >= best["start"]):
                    best = s
            out[jid] = best["id"] if best else None
        return out

    def report(self) -> dict[str, float]:
        owner = self.attribute()
        jobs_of: dict[int, list[dict]] = {}
        for jid, sid in owner.items():
            if sid is not None:
                jobs_of.setdefault(sid, []).append(self.jobs[jid])
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        acc = {(layer, m): 0.0 for layer in LAYERS for m, _u in LAYER_METRICS}
        seen_stages: set[int] = set()
        for s in self.spans:
            if s["layer"] not in LAYER_FUNCS or s["end"] is None:
                continue
            layer = s["layer"]
            own = _subtract([[s["start"], s["end"]]],
                            [[c["start"], c["end"] or s["end"]]
                             for c in children.get(s["id"], [])]
                            + self.overhead)
            busy = [[j["submissionTime"] / 1000.0,
                     (j.get("completionTime") or j["submissionTime"])
                     / 1000.0] for j in jobs_of.get(s["id"], [])]
            acc[layer, "calls"] += 1
            acc[layer, "self_s"] += _length(own)
            acc[layer, "driver_s"] += _length(_subtract(own, busy))
            acc[layer, "failed"] += s["failed"]
            for j in jobs_of.get(s["id"], []):
                acc[layer, "jobs"] += 1
                acc[layer, "tasks"] += (j["numCompletedTasks"]
                                        + j["numFailedTasks"]
                                        + j["numKilledTasks"])
                acc[layer, "failed"] += j["numFailedTasks"]
                for sid in j["stageIds"]:
                    st = self.stages.get(sid)
                    if not st or sid in seen_stages or \
                            st["status"] == "SKIPPED":
                        continue
                    seen_stages.add(sid)
                    acc[layer, "exec_run_s"] += st["executorRunTime"] / 1e3
                    acc[layer, "exec_cpu_s"] += st["executorCpuTime"] / 1e9
                    acc[layer, "shuffle_mb"] += (st["shuffleReadBytes"]
                                                 + st["shuffleWriteBytes"]
                                                 ) / 1e6
                    acc[layer, "spill_mb"] += (st["memoryBytesSpilled"]
                                               + st["diskBytesSpilled"]) / 1e6
        return {f"{layer}.{m}": acc[layer, m] for layer, m in acc}

    def jobs_busy_s(self) -> float:
        """Wall time during which at least one Spark job ran."""
        return _length(_merge(
            [[j["submissionTime"] / 1000.0,
              (j.get("completionTime") or j["submissionTime"]) / 1000.0]
             for j in self.jobs.values()]))

    def fired(self) -> set[str]:
        return {s["name"] for s in self.spans}

    def dump(self, path: str) -> None:
        owner = self.attribute()
        slim_jobs = [{"id": jid, "span": owner[jid],
                      "submitted": j.get("submissionTime"),
                      "completed": j.get("completionTime"),
                      "status": j["status"], "stages": j["stageIds"],
                      "tasks": j["numTasks"]}
                     for jid, j in sorted(self.jobs.items())]
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "jobs": slim_jobs,
                       "counts": self.counts}, fh)
