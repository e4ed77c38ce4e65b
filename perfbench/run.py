"""Product-path benchmark for dataops_testgen_spark.

Drives the package's own CLI verbs (``dataops_testgen_spark.__main__.main``)
in one Spark session per run, checks every output against recorded
digests, and prints one JSON result line last on stdout.

    python3 perfbench/run.py --workload dq_cycle --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload corpus_build --trace 1
    python3 perfbench/run.py --smoke            # every workload, smallest size
    python3 perfbench/run.py --record-digests [--smoke]  # rewrite digests

See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".perfbench_work")
DIGESTS = os.path.join(HERE, "digests.json")
PREP_REPEATS = 3
# a run stops starting passes once this much wall time is gone, so it
# ends well inside the 180 s a run may take
RUN_BUDGET_S = 110.0

END_TO_END = [("pass_rel", "ratio"), ("setup_s", "s"),
              ("peak_rss_mb", "MB"), ("written_mb", "MB")]


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all cpus so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def pin_environment() -> dict:
    """Size Spark to the host it runs on, before pyspark is imported."""
    cpus = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    # session.py defaults the heap to 24g; the inputs here are a few MB
    driver_gb = max(1, min(2, int(ram_gb // 6)))
    local_dirs = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local_dirs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    # keep scratch files inside the checkout: Python's and the JVM's temp
    # files (native libraries unpacked by the codecs) and the JVM's
    # hsperfdata, which is always written under /tmp unless turned off
    os.environ["TMPDIR"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the package when they unpickle mapInPandas
    # functions; without this every such stage fails
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in [ROOT] + paths if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {"cpus": cpus, "ram_gb": round(ram_gb, 1),
            "driver_memory": f"{driver_gb}g",
            "python": platform.python_version()}


class RssSampler:
    """Peak memory (Pss) of this process, the driver JVM and the Python
    workers, sampled by ``rss.py`` in a process of its own."""

    def __init__(self):
        self._proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "rss.py"), str(os.getpid())],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)

    def stop(self) -> float:
        if self._proc.returncode is None:
            out, _ = self._proc.communicate(timeout=30)
            self.peak_mb = int(out) / 1e6
        return self.peak_mb


class Runner:
    """Times operations, checks their outputs, counts failures."""

    def __init__(self, spark, expected: dict | None, record: dict | None):
        self.spark = spark
        self.expected = expected
        self.record = record
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.checked = 0
        self.mismatches: list[str] = []
        self.op_times: dict[str, list[float]] = {}
        self.op_seconds = 0.0
        self.pass_times: list[float] = []

    def op(self, name, fn, check=None):
        self.attempted += 1
        span = None
        if self.tracer:
            self.tracer.op = name
            span = self.tracer.open(f"op.{name}", "op")
        t0 = time.perf_counter()
        ok = True
        try:
            out = fn()
        except Exception:
            traceback.print_exc()
            out, ok = None, False
        finally:
            if span:
                self.tracer.close(span)
            elapsed = time.perf_counter() - t0
        self.op_times.setdefault(name, []).append(elapsed)
        self.op_seconds += elapsed
        if ok and check:
            try:
                got = check(out)
            except Exception:
                traceback.print_exc()
                ok = False
                got = {}
            for key, value in got.items():
                self.checked += 1
                if self.record is not None:
                    self.record[key] = value
                elif self.expected is None or \
                        self.expected.get(key) != value:
                    ok = False
                    self.mismatches.append(
                        f"{name}:{key} got {value} want "
                        f"{(self.expected or {}).get(key)}")
        if not ok:
            self.failed += 1
        return out


def run_passes(workload, runner, seconds: float, deadline: float):
    """Run whole passes, at least one, until ``seconds`` of measuring are
    done; return (pass times, written MB per pass). A pass's time is the
    sum of its operations' times, without the output checks."""
    from perfbench.workloads import dir_stats

    times, written = [], []
    while True:
        before = runner.op_seconds
        dirs = workload.run_pass(runner)
        times.append(runner.op_seconds - before)
        runner.pass_times.append(times[-1])
        written.append(sum(dir_stats(d)[0] for d in dirs.values()) / 1e6
                       - workload.baseline_mb)
        if sum(times) >= seconds or time.time() + times[-1] > deadline:
            return times, written


def _warm_workers(batches):
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    yield from batches


def warm_up(spark, work: str) -> None:
    """Declared JVM warm-up, charged to set-up: one tiny query through each
    physical path the workloads use (parquet write and scan, hash
    aggregate, sort, broadcast join, and a Python-worker stage that forks
    the workers, which both workloads' passes use), so the pass does not
    also time the JIT and start-up of Spark's own machinery. The product's
    code paths stay cold. Measured on the 4-core host: it took 5-9 s of
    cold cost out of each pass and cut the run-to-run spread of
    corpus_build's pass time from about 0.2 to under 0.1."""
    from pyspark.sql import functions as F

    path = os.path.join(work, "warm_up")
    df = spark.range(2000).select(
        "id", (F.col("id") % 7).alias("k"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"))
    df.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    agg = back.groupBy("k").agg(F.count("*").alias("n"),
                                F.countDistinct("s").alias("d"))
    back.join(F.broadcast(agg), "k").orderBy("id").limit(5).collect()
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    (spark.range(cpus * 4).repartition(cpus)
     .mapInPandas(_warm_workers, "id long").count())


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 scale: str, record: dict | None = None) -> dict:
    started = time.time()
    steal0 = cpu_steal()
    host = pin_environment()
    import pyspark

    from perfbench import data
    from perfbench.workloads import WORKLOADS, dir_stats

    host["pyspark"] = pyspark.__version__
    work = os.path.join(WORK, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sampler = RssSampler()

    from dataops_testgen_spark.session import get_spark

    t0 = time.perf_counter()
    try:
        spark = get_spark("dataops-testgen-cli")
    except BaseException:
        sampler.stop()
        raise
    session_s = time.perf_counter() - t0
    try:
        workload = WORKLOADS[name](work, seed)
        prep = []
        for _ in range(PREP_REPEATS):
            t0 = time.perf_counter()
            tables = data.write_tables(os.path.join(work, "tables"), scale)
            workload.prepare(tables)
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm_up(spark, work)
        warm_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        workload.seed_store(spark)
        seed_s = time.perf_counter() - t0
        template = getattr(workload, "template", None)
        workload.baseline_mb = (dir_stats(template)[0] / 1e6
                                if template else 0.0)
        setup_s = session_s + warm_s + statistics.median(prep) + seed_s
        # The host's speed drifts by up to 40% between runs minutes apart.
        # Session start and the warm-up are fixed Spark work timed in the
        # same run, so dividing by them cancels the drift that seconds
        # carry; together they are steadier than the warm-up alone.
        cold_start_s = session_s + warm_s

        with open(DIGESTS) as fh:
            digests = json.load(fh)
        expected = (digests.get(name, {}).get(scale, {})
                    .get(workload.digest_key()))
        runner = Runner(spark, expected, record)
        deadline = started + RUN_BUDGET_S
        if not trace:
            times, written = run_passes(workload, runner, seconds, deadline)
            metrics = {"pass_rel": statistics.median(times) / cold_start_s,
                       "setup_s": setup_s,
                       "peak_rss_mb": sampler.stop(),
                       "written_mb": statistics.median(written)}
            units = dict(END_TO_END)
            untraced = _untraced_pass_rel(name, scale)
            untraced.append(metrics["pass_rel"])
            with open(_untraced_path(name, scale), "w") as fh:
                json.dump(untraced, fh)
        else:
            metrics = trace_run(workload, runner, spark, cold_start_s,
                                _untraced_pass_rel(name, scale))
            sampler.stop()
            units = dict(per_layer_units())
        detail = {"workload": name, "seed": seed, "scale": scale,
                  "pass_s": runner.pass_times,
                  "variant": workload.digest_key(), "host": host,
                  "session_s": session_s, "prep_s": prep,
                  "warm_up_s": warm_s, "seed_store_s": seed_s,
                  "op_times_s": runner.op_times,
                  "checked": runner.checked,
                  "mismatches": runner.mismatches}
        if trace:
            detail["trace_overhead_base"] = runner.trace_overhead_base
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        stop_s = time.perf_counter() - t0
        sampler.stop()
    detail["stop_s"] = stop_s
    detail["run_wall_s"] = time.time() - started
    steal1 = cpu_steal()
    # share of cpu time the hypervisor gave to other guests during the run
    detail["steal_pct"] = 100.0 * (steal1[0] - steal0[0]) / max(
        1, steal1[1] - steal0[1])
    correct = runner.failed == 0 and not runner.mismatches
    with open(os.path.join(WORK, f"{name}.detail.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    print(json.dumps(detail), file=sys.stderr)
    return {"correct": correct, "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()}}


def per_layer_units():
    from perfbench.trace import LAYER_METRICS, LAYERS

    units = [(f"{layer}.{m}", u) for layer in LAYERS
             for m, u in LAYER_METRICS]
    return units + [("execution.tests_per_job", "1/job"),
                    ("profiling.columns_per_job", "1/job"),
                    ("store.mb_written", "MB"),
                    ("store.files_written", "count"),
                    ("pipeline.mb_written", "MB"),
                    ("jobs_busy_share", "ratio"),
                    ("trace_overhead", "ratio")]


def _untraced_path(name: str, scale: str) -> str:
    return os.path.join(WORK, f"{name}.{scale}.pass_rel.json")


def _untraced_pass_rel(name: str, scale: str) -> list[float]:
    """pass_rel of every untraced run of the workload in this checkout."""
    try:
        with open(_untraced_path(name, scale)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return []


def trace_run(workload, runner, spark, cold_start_s: float,
              untraced: list[float]) -> dict:
    """One traced pass, cold like the timed runs' pass.

    ``trace_overhead`` is this pass's pass_rel over the median pass_rel of
    the untraced runs made before it in the same checkout: traced over
    untraced end to end, each pass divided by its own run's session start
    and warm-up so host drift between the runs cancels. With no untraced
    run yet it falls back to the pass time over the same time less the
    tracer's own timed bookkeeping, which cannot see cost the tracer does
    not time."""
    from perfbench.trace import Tracer
    from perfbench.workloads import dir_stats

    tracer = Tracer(spark)
    tracer.install()
    runner.tracer = tracer
    before = runner.op_seconds
    try:
        dirs = workload.run_pass(runner)
    finally:
        traced_s = runner.op_seconds - before
        runner.pass_times.append(traced_s)
        runner.tracer = None
        tracer.uninstall()
        tracer.flush()
    tracer.dump(os.path.join(WORK, f"{workload.name}.trace.json"))
    missing = [n for n in workload.expected_spans if n not in tracer.fired()]
    if missing:
        runner.mismatches.append(f"span coverage: never fired {missing}")
    store_b = store_f = 0
    if "store" in dirs:
        store_b, store_f = dir_stats(dirs["store"])
        base_b, base_f = dir_stats(workload.template)
        store_b, store_f = store_b - base_b, store_f - base_f
    pipeline_b = dir_stats(dirs["lex"])[0] if "lex" in dirs else 0

    m = tracer.report()
    m["execution.tests_per_job"] = (tracer.counts.get("tests", 0)
                                    / max(m["execution.jobs"], 1))
    m["profiling.columns_per_job"] = (tracer.counts.get("columns", 0)
                                      / max(m["profiling.jobs"], 1))
    m["store.mb_written"] = store_b / 1e6
    m["store.files_written"] = store_f
    m["pipeline.mb_written"] = pipeline_b / 1e6
    m["jobs_busy_share"] = tracer.jobs_busy_s() / traced_s
    if untraced:
        m["trace_overhead"] = (traced_s / cold_start_s
                               / statistics.median(untraced))
        runner.trace_overhead_base = f"{len(untraced)} untraced runs"
    else:
        m["trace_overhead"] = traced_s / (traced_s - tracer.overhead_s())
        runner.trace_overhead_base = "tracer bookkeeping"
    return m


def record_digests(scale: str) -> None:
    """Run every workload at every seed variant and store its digests."""
    from perfbench.workloads import VARIANTS, WORKLOADS

    with open(DIGESTS) as fh:
        digests = json.load(fh)
    for name, cls in WORKLOADS.items():
        keys = {}
        for seed in range(VARIANTS):
            key = cls(WORK, seed).digest_key()
            if key in keys:
                continue
            keys[key] = {}
            run_workload(name, seed, 0, False, scale, record=keys[key])
        digests.setdefault(name, {})[scale] = keys
    with open(DIGESTS, "w") as fh:
        json.dump(digests, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", default="dq_cycle")
    parser.add_argument("--seed", type=int, default=0)
    parser.add_argument("--seconds", type=float, default=5.0)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--smoke", action="store_true",
                        help="run every workload once at smoke scale")
    parser.add_argument("--record-digests", action="store_true")
    args = parser.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dataops_testgen_spark")):
        print(f"error: package dataops_testgen_spark not found under {ROOT};"
              " run from a checkout of the repository", file=sys.stderr)
        return 2
    pin_environment()
    from perfbench.workloads import WORKLOADS

    scale = "smoke" if args.smoke else "bench"
    if args.record_digests:
        record_digests(scale)
        return 0
    names = list(WORKLOADS) if args.smoke else [args.workload]
    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    ok = True
    for name in names:
        result = run_workload(name, args.seed, args.seconds,
                              bool(args.trace), scale)
        ok = ok and result["correct"]
        print(json.dumps(result), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
