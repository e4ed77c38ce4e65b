"""The benchmark's workloads: what each one prepares, runs and checks.

A workload is a fixed list of operations, one CLI verb each (or one public
function where the CLI has no verb), run in order as one *pass*. A run
prepares its inputs, then times whole passes. After every operation the
outputs are reduced to a digest and compared with the digests recorded
at the same scale and seed variant in ``digests.json``.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import io
import json
import math
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


RUN_DATE = "2024-03-01"
MONITOR_SUITE = "default_suite_monitors"
HISTORY_CYCLES = 21          # the forecaster trains on >= 20 values
VARIANTS = 4                 # --seed picks one of these choice sets

# run-monitors' result rows as RunStore.record_test_run stores them (the
# test_run_id partition column lives in the directory name)
RESULT_COLUMNS = ["test_id", "test_type", "table_name", "column_name",
                  "result_status", "result_code", "result_message",
                  "result_measure", "threshold_value", "test_suite_key"]
RESULT_SCHEMA = pa.schema(
    [(c, pa.int32() if c == "result_code" else
      pa.float64() if c == "result_measure" else pa.string())
     for c in RESULT_COLUMNS])


class OpFailed(RuntimeError):
    pass


def cli(argv: list[str]) -> str:
    """Run one CLI verb in this process; return what it printed."""
    from dataops_testgen_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    if rc != 0:
        raise OpFailed(f"{argv[0]} exited {rc}: {buf.getvalue()[-500:]}")
    return buf.getvalue()


def _norm(v):
    """Round floats the way the repository's oracles compare them."""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6) + 0.0
    if isinstance(v, (bytes, bytearray)):
        return hashlib.md5(v).hexdigest()
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return v


def digest_rows(rows) -> str:
    body = json.dumps(sorted(json.dumps(_norm(list(r)), default=str)
                             for r in rows))
    return hashlib.sha256(body.encode()).hexdigest()[:16]


def digest_parquet(path: str, columns: list[str] | None = None) -> str:
    t = pq.read_table(path, columns=columns)
    cols = columns or sorted(t.column_names)
    return digest_rows(zip(*(t[c].to_pylist() for c in cols)))


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


class Workload:
    """Base: ``prepare`` builds inputs; ``run_pass`` runs one timed pass
    through ``runner.op`` and returns its written directories."""

    name = ""
    # wrappers that must fire in a traced run (the span-coverage check)
    expected_spans: tuple[str, ...] = ()

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.variant = seed % VARIANTS

    def digest_key(self) -> str:
        return str(self.variant)

    def prepare(self, tables: dict[str, str]) -> None:
        """Cheap file-level preparation, repeated to time set-up."""
        raise NotImplementedError

    def seed_store(self, spark) -> None:
        """One-time preparation that needs Spark."""

    def run_pass(self, runner) -> dict[str, str]:
        raise NotImplementedError


# ---------------------------------------------------------------------------

class DqCycle(Workload):
    """run-profile -> run-tests -> run-monitors over a data dir holding the
    orders table, each pass on a fresh copy of a store that holds seeded
    monitor history (so the Volume_Trend forecast runs)."""

    name = "dq_cycle"
    TABLES = ("orders",)
    expected_spans = (
        "io.load_table", "profiling.profile_tables",
        "inference.apply_inference", "anomalies.screen_anomalies",
        "generation.generate_selection_tests", "generation.to_test_defs",
        "execution.run_cat_tests", "execution.run_query_tests",
        "execution.table_fingerprint", "scoring.rollup_scores",
        "prediction.predict_tolerances", "store.RunStore.record_test_run",
        "store.RunStore.record_profile_run",
    )

    def digest_key(self) -> str:
        return "all"          # the tables do not depend on the seed

    def prepare(self, tables):
        self.data_dir = _fresh(os.path.join(self.work, "dq_data"))
        os.makedirs(self.data_dir)
        self.row_cts = {}
        for t in self.TABLES:
            os.symlink(os.path.abspath(tables[t]),
                       os.path.join(self.data_dir, f"{t}.parquet"))
            self.row_cts[t] = pq.read_metadata(tables[t]).num_rows

    def seed_store(self, spark):
        """Seed HISTORY_CYCLES daily monitor runs ending yesterday, volumes
        drifting up to today's row count. The store's files are written
        directly in the layout ``RunStore.record_test_run`` produces: as
        Spark jobs they would be the first of the session and cost 8-11 s
        of cold start in a run that has about a minute."""
        from dataops_testgen_spark.store import RunStore

        self.template = _fresh(os.path.join(self.work, "dq_store_template"))
        RunStore(spark, self.template)           # writes project.json
        rng = np.random.default_rng(self.seed)
        now = dt.datetime.now()
        runs = []
        for k in range(HISTORY_CYCLES):
            run_id = str(uuid.uuid4())
            stamp = (now - dt.timedelta(days=HISTORY_CYCLES - k)).isoformat()
            runs.append({"test_run_id": run_id, "project_key": "DEFAULT",
                         "test_suite_key": MONITOR_SUITE,
                         "test_starttime": stamp, "run_date": RUN_DATE,
                         "status": "Complete"})
            results = {c: [] for c in RESULT_COLUMNS}
            for t, n in self.row_cts.items():
                vol = float(round(n * (0.9 + 0.1 * k / HISTORY_CYCLES)
                                  * (1 + 0.01 * rng.normal())))
                for c, v in zip(RESULT_COLUMNS, (
                        f"mon_volume_{t}", "Volume_Trend", t, None, "Log",
                        None, None, vol, None, MONITOR_SUITE)):
                    results[c].append(v)
            part = os.path.join(self.template, "test_results",
                                f"test_run_id={run_id}")
            os.makedirs(part)
            pq.write_table(pa.table(results, schema=RESULT_SCHEMA),
                           os.path.join(part, "part-00000.parquet"))
        os.makedirs(os.path.join(self.template, "test_runs"))
        pq.write_table(pa.Table.from_pylist(runs),
                       os.path.join(self.template, "test_runs",
                                    "part-00000.parquet"))

    def run_pass(self, runner):
        store = _fresh(os.path.join(self.work, "dq_store"))
        out = _fresh(os.path.join(self.work, "dq_out"))
        shutil.copytree(self.template, store)
        base = ["--data-dir", self.data_dir, "--store", store,
                "--run-date", RUN_DATE]
        runner.op("run-profile", lambda: cli(["run-profile"] + base),
                  check=lambda _o: self._check_profile(store))
        runner.op("run-tests",
                  lambda: cli(["run-tests"] + base + ["--out", out]),
                  check=lambda _o: self._check_tests(out))
        runner.op("run-monitors", lambda: cli(["run-monitors"] + base),
                  check=lambda _o: self._check_monitors(store))
        return {"store": store, "out": out}

    def _check_profile(self, store):
        t = pq.read_table(os.path.join(store, "profile_results"),
                          columns=["table_name", "column_name",
                                   "record_ct", "value_ct",
                                   "distinct_value_ct"])
        return {"profile": digest_rows(zip(*(c.to_pylist()
                                             for c in t.columns)))}

    def _check_tests(self, out):
        return {
            "test_results": digest_parquet(
                os.path.join(out, "test_results"),
                ["test_id", "result_code", "result_measure"]),
            "test_scores": digest_parquet(os.path.join(out, "test_scores")),
        }

    def _check_monitors(self, store):
        """The monitor outcome depends on the wall clock (the history is
        dated relative to now), so it is checked for shape, not digested:
        every table has a Volume_Trend result that the forecast evaluated,
        measuring the table's row count, and a Table_Freshness result."""
        runs = pq.read_table(os.path.join(store, "test_runs")).to_pylist()
        latest = max((r for r in runs if r["test_suite_key"] == MONITOR_SUITE),
                     key=lambda r: r["test_starttime"])["test_run_id"]
        res = pq.read_table(os.path.join(store, "test_results"),
                            filters=[("test_run_id", "=", latest)]).to_pylist()
        bad = []
        for t, n in self.row_cts.items():
            vol = [r for r in res if r["test_id"] == f"mon_volume_{t}"]
            fresh = [r for r in res if r["test_id"] == f"mon_freshness_{t}"]
            if (len(vol) != 1 or vol[0]["result_status"] not in
                    ("Passed", "Failed") or vol[0]["result_measure"] != n
                    or len(fresh) != 1):
                bad.append(t)
        return {"monitors_shape": "ok" if not bad else f"bad:{bad}"}


# ---------------------------------------------------------------------------

QUERIES = ["spark join window", "hash group agg filter",
           "le client rapide", "stream key query table"]
SPLITS = [0.3, 0.4, 0.5, 0.6]


class CorpusBuild(Workload):
    """The LLM-data pipeline over a document corpus: near-duplicate dedup,
    two lexical-index increments + BM25 search, and the multimodal feature
    report (the Python-worker ``mapInPandas`` path)."""

    name = "corpus_build"
    expected_spans = ("pipeline.verified_near_dups",
                      "pipeline.dedup_keep_one",
                      "pipeline.lexical_index_append",
                      "pipeline.bm25_index_topk",
                      "pipeline.multimodal_feature_report")

    def prepare(self, tables):
        self.docs = tables["documents"]
        n_docs = pq.read_metadata(self.docs).num_rows
        self.doc_split = int(n_docs * SPLITS[self.variant])
        self.query = QUERIES[self.variant]

    def run_pass(self, runner):
        w = {k: _fresh(os.path.join(self.work, f"corpus_{k}")) for k in
             ("dedup", "lex", "mm")}
        docs = self.docs
        runner.op("corpus-dedup", lambda: cli(
            ["corpus-dedup", "--corpus", docs, "--out", w["dedup"]]),
            check=lambda _o: {"dedup_kept": digest_parquet(
                w["dedup"], ["doc_id"])})
        for i, cond in enumerate((f"doc_id < {self.doc_split}",
                                  f"doc_id >= {self.doc_split}")):
            runner.op(f"corpus-index-{i + 1}", lambda cond=cond: cli(
                ["corpus-index", "--corpus", docs, "--index-dir", w["lex"],
                 "--condition", cond]))
        runner.op("corpus-search", lambda: cli(
            ["corpus-search", "--index-dir", w["lex"], "--query",
             self.query]),
            check=lambda o: {"search_topk": _topk(o)})
        runner.op("multimodal_feature_report",
                  lambda: self._multimodal(runner.spark, w["mm"]),
                  check=lambda _o: {"multimodal": digest_parquet(w["mm"])})
        return w

    def _multimodal(self, spark, out):
        from dataops_testgen_spark.pipeline.multimodal import (
            multimodal_feature_report)

        (multimodal_feature_report(spark.read.parquet(self.docs))
         .write.mode("overwrite").parquet(out))


def _topk(out: str) -> str:
    """Ids of the ranked lines a corpus-search prints (rank score id)."""
    ids = [line.split()[-1] for line in out.splitlines()
           if len(line.split()) == 3 and line.split()[0].isdigit()]
    if not ids:
        raise OpFailed(f"no ranked results in: {out[-300:]}")
    return ",".join(ids)


WORKLOADS = {w.name: w for w in (DqCycle, CorpusBuild)}
