"""The engine's two session primitives: ``materialize`` (the one lineage
cut) and ``session_memo`` (the one per-session memo)."""

import ast
import os
import subprocess
import sys
import textwrap
import threading
import time
import types

from dataops_testgen_spark import session as S

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fake_spark(app_id):
    return types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(applicationId=app_id))


def _run_threads(fns, timeout=60):
    """Run each fn in its own daemon thread; fail on a hang (deadlock)."""
    out = [None] * len(fns)
    errors = []

    def run(i, fn):
        try:
            out[i] = fn()
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i, fn), daemon=True)
               for i, fn in enumerate(fns)]
    for t in threads:
        t.start()
    deadline = time.monotonic() + timeout
    for t in threads:
        t.join(max(0.0, deadline - time.monotonic()))
    assert not any(t.is_alive() for t in threads), "session_memo deadlocked"
    assert not errors, errors
    return out


def test_session_memo_threads_one_value_per_key():
    spark = _fake_spark("memo-threads-app")
    n = 8
    builds = []
    builds_lock = threading.Lock()
    barrier = threading.Barrier(n)

    def build(key):
        with builds_lock:
            builds.append(key)
        time.sleep(0.02)   # widen the race window
        return object()

    def outer():
        # a build that reads the memo itself, as the entry's union
        # inference build reads the per-table profile memo from a pool
        inner = _run_threads([
            lambda: S.session_memo(spark, ("inner",),
                                   lambda: build("inner"))] * 3)
        assert inner[0] is inner[1] is inner[2]
        return ("outer", inner[0])

    def work(i):
        barrier.wait()
        return (S.session_memo(spark, ("distinct", i),
                               lambda: build(("distinct", i))),
                S.session_memo(spark, ("same",), lambda: build("same")),
                S.session_memo(spark, ("outer",), outer))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)   # switch threads often: expose races
    try:
        results = _run_threads([lambda i=i: work(i) for i in range(n)])
    finally:
        sys.setswitchinterval(interval)
    distinct = [r[0] for r in results]
    assert len({id(v) for v in distinct}) == n
    assert all(r[1] is results[0][1] for r in results)
    assert all(r[2] is results[0][2] for r in results)
    assert results[0][2][1] is S.session_memo(spark, ("inner",), object)
    # every key holds exactly the value its callers got
    mine = {k[1]: v for k, v in S._MEMO.items() if k[0] == "memo-threads-app"}
    assert set(mine) == ({("distinct", i) for i in range(n)}
                         | {("same",), ("outer",), ("inner",)})
    for i in range(n):
        assert mine[("distinct", i)] is distinct[i]
    assert mine[("same",)] is results[0][1]
    # a later hit never rebuilds
    before = len(builds)
    assert S.session_memo(spark, ("same",), lambda: build("same")) \
        is results[0][1]
    assert len(builds) == before


def test_session_memo_evicts_other_applications():
    old, new = _fake_spark("memo-old-app"), _fake_spark("memo-new-app")
    a = S.session_memo(old, "k", object)
    assert S.session_memo(old, "k", object) is a
    b = S.session_memo(new, "k", object)
    assert b is not a
    assert not any(k[0] == "memo-old-app" for k in S._MEMO)


def test_materialize_skips_leaves(spark, sf_dir):
    from pyspark.sql import functions as F

    def plan(df):
        return df._jdf.queryExecution().logical().getClass().getSimpleName()

    local = spark.createDataFrame([(1, "a")], "k int, v string")
    assert S.materialize(local) is local
    scan = spark.read.parquet(f"{sf_dir}/orders.parquet")
    derived = scan.groupBy("o_orderstatus").agg(F.count("*").alias("n"))
    lazy = S.materialize(derived)
    assert lazy is not derived and plan(lazy) == "LogicalRDD"
    assert S.materialize(lazy) is lazy
    eager = S.materialize(derived, eager=True)
    assert plan(eager) == "LogicalRDD"
    assert sorted(map(tuple, lazy.collect())) \
        == sorted(map(tuple, eager.collect())) \
        == sorted(map(tuple, derived.collect()))


def _sources():
    pkg = os.path.join(ROOT, "dataops_testgen_spark")
    for dirpath, _, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)
    yield os.path.join(ROOT, "__spark_entry__.py")


def test_one_lineage_cut_and_no_module_memo_dicts():
    session_py = os.path.join(ROOT, "dataops_testgen_spark", "session.py")
    cuts, memos = [], []
    for path in _sources():
        with open(path) as fh:
            src = fh.read()
        rel = os.path.relpath(path, ROOT)
        if path != session_py:
            cuts += [f"{rel}:{i}" for i, line in
                     enumerate(src.splitlines(), 1)
                     if ".localCheckpoint(" in line]
        for node in ast.parse(src).body:
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target] if isinstance(node, ast.AnnAssign)
                       else [])
            memos += [f"{rel}:{node.lineno} {t.id}" for t in targets
                      if isinstance(t, ast.Name) and t.id.endswith("_CACHE")]
    assert not cuts, f"cut lineage with session.materialize: {cuts}"
    assert not memos, f"memoize with session.session_memo: {memos}"


_RESTART_SCRIPT = textwrap.dedent("""
    import sys
    sys.path.insert(0, {root!r})
    import __spark_entry__ as E
    from dataops_testgen_spark.session import get_spark

    def run():
        spark = get_spark("restart-test")
        df = E.queries()["functional_types_orders"](spark, {sf_dir!r})
        return spark, sorted(repr(tuple(r)) for r in df.collect())

    spark, first = run()
    spark.stop()
    spark, second = run()
    spark.stop()
    assert first and first == second, (first, second)
    print("restart ok", len(first))
""")


def test_memoized_seat_survives_session_restart(sf_dir):
    """A seat served by the inference/profile memos, run again after
    spark.stop() and a new session in the same process, rebuilds instead
    of reusing DataFrames bound to the stopped context."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c",
         _RESTART_SCRIPT.format(root=ROOT, sf_dir=sf_dir)],
        capture_output=True, text=True, env=env, cwd=ROOT, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "restart ok" in proc.stdout
