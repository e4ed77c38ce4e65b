"""Similarity search over embedding columns (array<float>).

- ``cosine``: pure-expression cosine similarity (F.zip_with + F.aggregate —
  JVM-side, no UDF).
- ``brute_force_topk``: exact top-k neighbors — cross join + window. The
  correctness baseline.
- ``lsh_assign`` / ``lsh_topk``: random-hyperplane LSH — the scale path: each
  vector hashes to a bucket; neighbor search joins only within buckets
  (multi-probe = search the query's bucket only here; raise num_tables for
  recall). Hyperplanes are deterministic (seeded hash of (table, dim)), so
  results are reproducible run-to-run.
- ``ivf_assign``: IVF-style coarse quantization against provided centroids
  (e.g. from a small driver-side k-means over a sample).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataops_testgen_spark.session import materialize


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return dot(ad, bd) / F.nullif(norm(ad) * norm(bd), F.lit(0.0))


def _id_type(df: DataFrame, id_col: str) -> str:
    """SQL type string of the id column, for mapInPandas output schemas.
    The Arrow-path operators carry ids opaquely (joins, argsorts, equality
    masks), so any Arrow-convertible scalar type works — deriving the type
    here instead of hardcoding ``long`` keeps string/decimal ids supported
    like the pre-Arrow expression forms were."""
    return df.schema[id_col].dataType.simpleString()


def collect_normalized(df: DataFrame, id_col: str, vec_col: str):
    """(ids ndarray, row-normalized matrix) for broadcasting — the small
    side of a similarity search. Zero vectors normalize to NaN (cosine
    undefined), matching the expression form's NULL."""
    import numpy as np

    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows])
    m = np.array([np.asarray(r[1], dtype=float) for r in rows])
    norms = np.linalg.norm(m, axis=1)
    norms[norms == 0] = np.nan
    return ids, m / norms[:, None]


MAX_BROADCAST_MATRIX_BYTES = 256 * 1024 * 1024


def _rank_topk(scored: DataFrame, k: int, score_col: str = "cosine") -> DataFrame:
    """Per-query top-k window with NaN-LAST ordering. Spark sorts NaN as
    the LARGEST double, so a plain ``orderBy(desc)`` would seat zero-norm
    vectors (cosine undefined → NaN) at rank 1 — while the broadcast-numpy
    paths' lexsort puts NaN last. Mapping NaN to -inf for the sort (every
    real cosine ≥ -1 beats it; ties fall to the id tiebreak, numpy
    lexsort's rule) makes both dispatch branches of brute_force_topk — and
    lsh/ivf/pq ranking — agree regardless of which side of the size
    threshold the data lands on."""
    s = F.col(score_col)
    sort_key = F.when(F.isnan(s), F.lit(float("-inf"))).otherwise(s)
    w = Window.partitionBy("query_id").orderBy(sort_key.desc(),
                                               F.col("neighbor_id").asc())
    return scored.select("*", F.row_number().over(w).alias("rank")) \
                 .filter(F.col("rank") <= k)


def _bruteforce_topk_shuffled(df: DataFrame, queries: DataFrame, k: int,
                              vec_col: str, id_col: str) -> DataFrame:
    """Exact top-k without a driver collect: crossJoin every query against
    the base relation, Arrow-batch the pair cosines, window the top-k.
    O(N·Q) pair work — the exact fallback when the base matrix exceeds the
    broadcast cap; ``lsh_topk``/``ivf_topk`` are the sublinear scale paths."""
    idt = _id_type(df, id_col)
    base = df.select(F.col(id_col).alias("neighbor_id"),
                     F.col(vec_col).alias("v"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"))
    cand = (q.crossJoin(base)
            .filter(F.col("query_id") != F.col("neighbor_id")))
    scored = _pair_cosine_pandas(cand, "qv", "v",
                                 [("query_id", idt), ("neighbor_id", idt)])
    return _rank_topk(scored, k)


def brute_force_topk(df: DataFrame, queries: DataFrame, k: int = 10,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     max_broadcast_bytes: int = MAX_BROADCAST_MATRIX_BYTES) -> DataFrame:
    """Exact top-k cosine neighbors for each query row.
    Output: (query_id, neighbor_id, cosine, rank). Deterministic tiebreak:
    cosine DESC, neighbor_id ASC.

    Same broadcast-matrix design as embedding_cosine_pairs, with the same
    size dispatch (dedup.py:embedding_cosine_pairs): when the base matrix
    fits under ``max_broadcast_bytes`` it is collected once and broadcast,
    and each query partition does one numpy matmul plus a per-row lexsort
    top-k — no crossJoin, no shuffle beyond the query scan. Above the cap
    the driver collect would OOM, so the call falls back to the exact
    shuffled crossJoin+window form (distributed, O(N·Q) pairs); callers
    needing sublinear work at that scale should use ``lsh_topk``/
    ``ivf_topk`` instead.
    """
    spark = df.sparkSession
    # one fused metadata job for the size dispatch (was two: count + first)
    size_row = df.agg(F.count(F.lit(1)), F.max(F.size(vec_col))).first()
    n, dim = size_row[0], (size_row[1] or 0)
    if n * dim * 8 > max_broadcast_bytes:
        return _bruteforce_topk_shuffled(df, queries, k, vec_col, id_col)
    idt = _id_type(df, id_col)
    ids, matrix = collect_normalized(df, id_col, vec_col)
    bc = spark.sparkContext.broadcast((ids, matrix))

    def compute(batches):
        import numpy as np
        import pandas as pd

        all_ids, all_m = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.array([np.asarray(v, dtype=float) for v in pdf[vec_col]])
            norms = np.linalg.norm(q, axis=1)
            norms[norms == 0] = np.nan
            qn = q / norms[:, None]
            sims = qn @ all_m.T
            qids = pdf[id_col].to_numpy()
            out_q, out_n, out_c, out_r = [], [], [], []
            for i, qid in enumerate(qids):
                row = sims[i]
                mask = all_ids != qid
                cand_ids, cand_sims = all_ids[mask], row[mask]
                order = np.lexsort((cand_ids, -cand_sims))[:k]
                out_q.extend([qid] * len(order))
                out_n.extend(cand_ids[order])
                out_c.extend(cand_sims[order])
                out_r.extend(range(1, len(order) + 1))
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n,
                                "cosine": out_c, "rank": out_r})

    return queries.select(id_col, vec_col).mapInPandas(
        compute,
        schema=f"query_id {idt}, neighbor_id {idt}, cosine double, rank int")


def _hyperplane(table_id: int, dim: int, n_dims: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component via integer hashing."""
    import hashlib
    out = []
    for d in range(n_dims):
        h = hashlib.md5(f"{table_id}|{dim}|{d}".encode()).hexdigest()
        out.append((int(h[:8], 16) / 0x7FFFFFFF) - 1.0)  # ≈ uniform [-1, 1)
    return out


def lsh_assign(df: DataFrame, n_dims: int, num_planes: int = 8,
               table_id: int = 0, vec_col: str = "embedding") -> DataFrame:
    """Random-hyperplane signature: ``num_planes``-bit bucket id per vector."""
    v = F.col(vec_col)
    bucket = F.lit(0).cast("long")
    for p in range(num_planes):
        plane = _hyperplane(table_id, p, n_dims)
        proj = F.aggregate(
            F.zip_with(v, F.array(*[F.lit(c) for c in plane]), lambda x, c: x * c),
            F.lit(0.0), lambda acc, x: acc + x)
        bucket = bucket + F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
    return df.withColumn("lsh_bucket", bucket)


def lsh_topk(df: DataFrame, queries: DataFrame, n_dims: int, k: int = 10,
             num_planes: int = 8, num_tables: int = 1,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket(s). ~2^num_planes× less work per table than brute force; recall
    tunable two ways — fewer planes → bigger buckets, more ``num_tables`` →
    independent hash tables (P(miss) decays geometrically per table).
    100 TB shape: every table's signature comes from ONE Arrow pass against
    the broadcast plane tensor (one tensordot per batch), candidates come
    from a single equi-join on (table_id, bucket) — shuffle on bucket id,
    no driver collect, no all-pairs — and pair scoring is one einsum per
    batch. Candidate dedup is one dropDuplicates before scoring."""
    import numpy as np

    spark = df.sparkSession
    planes = np.array([[_hyperplane(t, p, n_dims) for p in range(num_planes)]
                       for t in range(num_tables)])        # T×P×D
    bc = spark.sparkContext.broadcast(planes)
    shifts = np.arange(num_planes, dtype=np.int64)

    def buckets(batches):
        import numpy as np
        import pandas as pd

        pl = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array([np.asarray(v, dtype=float) for v in pdf[vec_col]])
            proj = np.tensordot(m, pl, axes=([1], [2]))    # N×T×P
            b = ((proj >= 0).astype(np.int64) << shifts).sum(axis=2)  # N×T
            yield pd.DataFrame({"id": pdf[id_col], "vec": pdf[vec_col],
                                "buckets": [list(row) for row in b]})

    idt = _id_type(df, id_col)

    def sig(src):
        # all num_tables signatures in ONE Arrow pass against the broadcast
        # plane tensor (the per-table expression form re-scanned the input
        # num_tables times through interpreted HOF projections)
        return src.select(id_col, vec_col).mapInPandas(
            buckets,
            schema=f"id {idt}, vec array<double>, buckets array<long>")

    base = sig(df).select(
        F.col("id").alias("neighbor_id"), F.col("vec").alias("v"),
        F.posexplode("buckets").alias("table_id", "lsh_bucket"))
    q = sig(queries).select(
        F.col("id").alias("query_id"), F.col("vec").alias("qv"),
        F.posexplode("buckets").alias("table_id", "lsh_bucket"))
    cand = (q.join(base, ["table_id", "lsh_bucket"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", "qv", "v")
            .dropDuplicates(["query_id", "neighbor_id"]))
    scored = _pair_cosine_pandas(cand, "qv", "v",
                                 [("query_id", idt), ("neighbor_id", idt)])
    return _rank_topk(scored, k)


def _assign_cells_pandas(df: DataFrame, centroids: list[list[float]],
                         vec_col: str, id_col: str,
                         nprobe: int = 1) -> DataFrame:
    """Arrow-path IVF assignment: (id, vec, cells) with the ``nprobe``
    nearest cells per vector, ties to the lowest centroid index (stable
    argsort — same rule as the expression ``ivf_assign``). One broadcast
    centroid matmul per batch; no shuffle, no interpreted HOFs."""
    import numpy as np

    spark = df.sparkSession
    cmat = np.array(centroids, dtype=float)
    cn = np.linalg.norm(cmat, axis=1)
    cn[cn == 0] = np.nan
    bc = spark.sparkContext.broadcast(cmat / cn[:, None])

    def run(batches):
        import numpy as np
        import pandas as pd

        cents_n = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array([np.asarray(v, dtype=float) for v in pdf[vec_col]])
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0] = np.nan
            sims = (m / norms[:, None]) @ cents_n.T
            safe = np.nan_to_num(sims, nan=-np.inf)
            top = np.argsort(-safe, axis=1, kind="stable")[:, :nprobe]
            yield pd.DataFrame({
                "id": pdf[id_col], "vec": pdf[vec_col],
                "cells": [[int(x) for x in row] for row in top]})

    clean = df.filter(F.col(vec_col).isNotNull()
                      & ~F.exists(vec_col, lambda x: x.isNull()))
    idt = _id_type(df, id_col)
    return clean.select(id_col, vec_col).mapInPandas(
        run, schema=f"id {idt}, vec array<double>, cells array<int>")


def _pair_cosine_pandas(pairs: DataFrame, a_col: str, b_col: str,
                        out_cols: list[tuple[str, str]]) -> DataFrame:
    """Vectorized cosine over joined (vector, vector) rows — one einsum per
    Arrow batch instead of an interpreted fold per row. ``out_cols`` is
    (name, sql_type) pairs for the carried-through id columns."""
    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            a = np.array([np.asarray(v, dtype=float) for v in pdf[a_col]])
            b = np.array([np.asarray(v, dtype=float) for v in pdf[b_col]])
            na = np.linalg.norm(a, axis=1)
            nb = np.linalg.norm(b, axis=1)
            na[na == 0] = np.nan
            nb[nb == 0] = np.nan
            out = {c: pdf[c] for c, _ in out_cols}
            out["cosine"] = np.einsum("ij,ij->i", a, b) / (na * nb)
            yield pd.DataFrame(out)

    schema = ", ".join(f"{c} {t}" for c, t in out_cols) + ", cosine double"
    return pairs.mapInPandas(score, schema=schema)


def ivf_topk(df: DataFrame, queries: DataFrame,
             centroids: list[list[float]], k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             nprobe: int = 1) -> DataFrame:
    """IVF search: score only candidates in the query's ``nprobe`` nearest
    coarse cells. 100 TB shape: assignment is a shuffle-free Arrow pass
    against the broadcast centroid matrix; the candidate restriction is one
    equi-join on ivf_cell; cell population is data/num_centroids, so work
    per query is ~nprobe·N/C instead of N — nprobe is the recall/cost dial
    (queries near a cell boundary recover their neighbours from the
    adjacent cell). Pair scoring is one einsum per Arrow batch — the
    expression-HOF form was interpreted by Catalyst and dominated the
    query's cost (~7 s → ~1 s on sf0.1)."""
    base = _assign_cells_pandas(df, centroids, vec_col, id_col, 1).select(
        F.col("id").alias("neighbor_id"), F.col("vec").alias("v"),
        F.explode("cells").alias("ivf_cell"))
    q = _assign_cells_pandas(queries, centroids, vec_col, id_col,
                             nprobe).select(
        F.col("id").alias("query_id"), F.col("vec").alias("qv"),
        F.explode("cells").alias("ivf_cell"))
    cand = (q.join(base, "ivf_cell")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", "qv", "v"))
    idt = _id_type(df, id_col)
    scored = _pair_cosine_pandas(cand, "qv", "v",
                                 [("query_id", idt), ("neighbor_id", idt)])
    return _rank_topk(scored, k)


def ivf_probe_cells(df: DataFrame, centroids: list[list[float]],
                    nprobe: int, vec_col: str = "embedding") -> DataFrame:
    """``ivf_cells`` = indices of the ``nprobe`` nearest centroids, by the
    same linear-growth expression shape as ivf_assign: build the
    (sim, -idx) struct array once, array_sort descending, slice, project
    the indices. Still a pure projection — no shuffle, no UDF."""
    v = F.col(vec_col)
    scored = F.array(*[
        F.struct(
            cosine(v, F.array(*[F.lit(float(x)) for x in c])).alias("sim"),
            F.lit(-i).alias("neg_idx"),
        )
        for i, c in enumerate(centroids)
    ])
    top = F.slice(F.reverse(F.array_sort(scored)), 1, nprobe)
    return df.withColumn(
        "ivf_cells",
        F.transform(top, lambda s: (-s["neg_idx"]).cast("int")))


def ivf_assign(df: DataFrame, centroids: list[list[float]],
               vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its nearest centroid (IVF coarse quantizer).
    Centroid list is broadcast as literals. Argmax is taken with a single
    array_max over (sim, -idx) structs, so the expression tree grows LINEARLY
    in the centroid count — a when/otherwise fold where the accumulator feeds
    both the condition and the else-branch doubles per centroid (2^n) and
    OOMs the driver past ~20 cells (same failure mode as the inference
    cascade; see inference/functional_type.py:12-16)."""
    v = F.col(vec_col)
    scored = [
        F.struct(
            cosine(v, F.array(*[F.lit(float(x)) for x in c])).alias("sim"),
            F.lit(-i).alias("neg_idx"),  # ties break to the LOWEST index
        )
        for i, c in enumerate(centroids)
    ]
    best = F.array_max(F.array(*scored))
    return df.withColumn("ivf_cell", (-best["neg_idx"]).cast("int"))


def semantic_dedup(df: DataFrame, centroids: list[list[float]],
                   threshold: float = 0.95,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id",
                   max_block_rows: int = 4096,
                   boundary_probe: bool = False) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with a coarse quantizer, then
    WITHIN each cluster drop every item whose cosine similarity to a
    higher-priority cluster member exceeds ``threshold``. Priority follows
    the paper: among near-duplicates, the item with the LOWEST similarity
    to its cluster centroid is kept (ties broken by id ASC), maximizing
    retained diversity.

    100 TB shape, matching the paper's per-cluster matrix computation:
    assignment is a shuffle-free Arrow ``mapInPandas`` pass against the
    broadcast centroid matrix (one numpy matmul per batch — the
    expression-HOF form was 25 s on sf0.1 because Catalyst higher-order
    functions are interpreted, not codegen'd); the only shuffle is the
    groupBy(ivf_cell), and each cell's pairwise cosine runs inside
    ``applyInPandas`` — pair work is per-cell, never global, and cluster
    count is the knob that bounds cell size (the paper's design). No
    driver-side collect of row data.

    Hot-cell guard: a pathologically dense cell (bad centroids, near-dup-
    heavy corpus) must not become one O(cell²)-MEMORY straggler, so cells
    larger than ``max_block_rows`` switch from one C×C matmul to block-
    chunked matmuls (``max_block_rows``² pair scores in flight at a time,
    128 MB at the default) with per-row early exit once a keeper is found.
    The same dot products are compared in the same priority order, so
    drop/keeper decisions match the one-shot matmul (cosine values agree
    to float ulp — BLAS summation order differs with matrix shape). The
    C×D cell matrix itself is the irreducible per-task term; raise the
    cluster count to shrink it.

    Output: one row per DROPPED item — (vec_id, ivf_cell, keeper_id,
    cosine) with keeper = the highest-priority member that evicted it
    (ties in centroid-similarity break by id ASC; argmax/first-match
    semantics match the lowest-index rule of ``ivf_assign``).

    ``boundary_probe=True`` addresses the method's inherent blind spot
    (within-cluster dedup cannot see a near-duplicate pair that
    STRADDLES a cluster boundary — Abbas et al. §3 accept this; the
    recall loss is real and measured in
    ``test_semantic_dedup_boundary_probe_recall``): every vector is
    probed into its TOP-2 cells, each cell dedups over primary +
    secondary members, and the per-cell evictions union (one row per
    dropped id — the highest-cosine eviction wins, ties to the lowest
    keeper). A straddling pair now meets in whichever cell holds one
    member as primary and the other as secondary. Cost: pair work per
    cell roughly quadruples (2× members each side); assignment stays
    one Arrow pass. Priority stays the PRIMARY-cell centroid similarity
    for both probe rows of a vector — per-cell priorities would let the
    two cells of a straddling pair elect different keepers and evict
    BOTH members.
    """
    import numpy as np

    spark = df.sparkSession
    cmat = np.array(centroids, dtype=float)
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0] = np.nan
    bc = spark.sparkContext.broadcast(cmat / cnorm[:, None])

    clean = df.filter(F.col(vec_col).isNotNull()
                      & ~F.exists(vec_col, lambda x: x.isNull()))

    def assign(batches):
        import numpy as np
        import pandas as pd

        cn = bc.value
        nprobe = min(2, len(cn)) if boundary_probe else 1
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array([np.asarray(v, dtype=float) for v in pdf[vec_col]])
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0] = np.nan
            sims = (m / norms[:, None]) @ cn.T
            # NaN rows (zero vectors) would poison argmax -> park in cell 0
            # with cent_sim NaN; they can never exceed the threshold below
            safe = np.nan_to_num(sims, nan=-np.inf)
            # stable argsort: ties -> lowest index, matching argmax
            top = np.argsort(-safe, kind="stable", axis=1)[:, :nprobe]
            rows = np.repeat(np.arange(len(m)), nprobe)
            cell = top.ravel()
            # the priority is the PRIMARY-cell centroid similarity even
            # for the secondary probe row: per-cell priorities would let
            # the two cells of a straddling pair pick DIFFERENT keepers
            # and the union would evict both members, losing the pair
            cent_sim = np.repeat(sims[np.arange(len(m)), top[:, 0]],
                                 nprobe)
            yield pd.DataFrame({
                "id": pdf[id_col].to_numpy()[rows],
                "vec": pdf[vec_col].to_numpy()[rows],
                "ivf_cell": cell.astype("int32"), "cent_sim": cent_sim})

    idt = _id_type(df, id_col)
    assigned = clean.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        assign,
        schema=f"id {idt}, vec array<double>, ivf_cell int, cent_sim double")

    def evict(pdf):
        import numpy as np
        import pandas as pd

        out = {"vec_id": [], "ivf_cell": [], "keeper_id": [], "cosine": []}
        order = np.lexsort((pdf["id"].to_numpy(), pdf["cent_sim"].to_numpy()))
        ids = pdf["id"].to_numpy()[order]
        cells = pdf["ivf_cell"].to_numpy()[order]
        m = np.array([np.asarray(v, dtype=float)
                      for v in pdf["vec"].to_numpy()[order]])
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = np.nan
        mn = m / norms[:, None]
        n = len(ids)
        if n <= max_block_rows:
            # common case: one C×C matmul
            s = mn @ mn.T
            for j in range(1, n):
                hits = s[j, :j] >= threshold    # NaN compares False
                if hits.any():
                    i = int(np.argmax(hits))    # FIRST in priority order
                    out["vec_id"].append(ids[j])
                    out["ivf_cell"].append(cells[j])
                    out["keeper_id"].append(ids[i])
                    out["cosine"].append(float(s[j, i]))
            return pd.DataFrame(out)
        # hot cell: block-chunked pair scores, ≤ max_block_rows² in flight.
        # Column blocks advance in priority order, so dropping a row at its
        # first hit preserves the FIRST-keeper rule exactly.
        B = max_block_rows
        keeper_idx = np.full(n, -1, dtype=np.int64)
        keeper_cos = np.zeros(n)
        for a in range(1, n, B):
            b = min(a + B, n)
            pending = np.arange(a, b)
            for ca in range(0, b, B):
                if not len(pending):
                    break
                cb = min(ca + B, b)
                s_blk = mn[pending] @ mn[ca:cb].T
                col_idx = np.arange(ca, cb)
                hits = ((s_blk >= threshold)
                        & (col_idx[None, :] < pending[:, None]))
                has = hits.any(axis=1)
                if has.any():
                    first = np.argmax(hits[has], axis=1)
                    rows = pending[has]
                    keeper_idx[rows] = col_idx[first]
                    keeper_cos[rows] = s_blk[np.flatnonzero(has), first]
                    pending = pending[~has]
        dropped = np.flatnonzero(keeper_idx >= 0)
        out["vec_id"] = list(ids[dropped])
        out["ivf_cell"] = list(cells[dropped])
        out["keeper_id"] = list(ids[keeper_idx[dropped]])
        out["cosine"] = [float(c) for c in keeper_cos[dropped]]
        return pd.DataFrame(out)

    evictions = assigned.groupBy("ivf_cell").applyInPandas(
        evict,
        schema=f"vec_id {idt}, ivf_cell int, keeper_id {idt}, cosine double")
    if not boundary_probe:
        return evictions
    # union the per-cell evictions: one row per dropped id (a straddler
    # can be evicted in both probed cells) — highest cosine wins, ties
    # to lowest keeper/cell for determinism
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cosine"), "keeper_id", "ivf_cell")
    return (evictions.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def centroid_outlier_scores(df: DataFrame, vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """Prototypicality / outlier scoring for dataset pruning (the signal
    behind SSL-prototype pruning, Sorscher et al. 2022): cosine of every
    embedding to the CORPUS MEAN vector. Low scores = atypical examples
    (candidates for inspection or up-weighting), high = prototypical
    (candidates for pruning dense redundancy).

    100 TB shape: the mean vector is one posexplode+groupBy partial agg
    (D rows collected — metadata), then scoring is a shuffle-free
    projection. Output: (id, centroid_cosine)."""
    dims = (df.select(F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("pos").agg(F.avg("x").alias("m"))
            .orderBy("pos").collect())
    mean_vec = [float(r["m"]) for r in dims]
    c = F.array(*[F.lit(x) for x in mean_vec])
    return df.select(
        F.col(id_col).alias("id"),
        cosine(F.col(vec_col), c).alias("centroid_cosine"))


def train_ivf_centroids(df: DataFrame, num_centroids: int = 8,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        max_iterations: int = 8,
                        tol: float = 1e-4) -> list[list[float]]:
    """Lloyd's k-means for the IVF coarse quantizer, Spark-first.

    Initialization is a deterministic pseudo-random sample (order by
    md5(id), take the first ``num_centroids`` vectors — reproducible with
    no Math.random). Each round is ONE distributed pass: assign via the
    linear-argmax projection (no shuffle), then per-cell per-dimension
    means via posexplode + partial-aggregated groupBy.  Only the
    num_centroids × dim mean matrix is collected per round — metadata
    scale, never row data — so the loop works unchanged at 100 TB where
    the reference pattern (sampled centroids supplied externally) would
    leave cell populations unbalanced.  Empty cells keep their previous
    centroid.  Stops early when the max centroid movement drops below
    ``tol`` (squared-distance on raw coordinates).  See ``kmeans_train``
    for the spherical (cosine-metric), fixed-iteration, DuckDB-oracle-
    able sibling.
    """
    # seed from clean vectors only: a NULL element or NULL array would
    # poison the seed centroid (float(None)) before training even starts
    seed_rows = (df.select(F.col(vec_col).alias("v"),
                           F.md5(F.col(id_col).cast("string")).alias("h"))
                 .filter(F.col("v").isNotNull()
                         & ~F.exists("v", lambda x: x.isNull()))
                 .orderBy("h").limit(num_centroids).collect())
    centroids = [list(map(float, r["v"])) for r in seed_rows]
    if len(centroids) < num_centroids:
        return centroids

    for _ in range(max_iterations):
        assigned = ivf_assign(df, centroids, vec_col=vec_col)
        mean_rows = (assigned
                     .select("ivf_cell",
                             F.posexplode(F.col(vec_col)).alias("pos", "x"))
                     .groupBy("ivf_cell", "pos")
                     .agg(F.avg("x").alias("m"))
                     .collect())
        new_centroids = [list(c) for c in centroids]
        by_cell: dict[int, dict[int, float]] = {}
        for r in mean_rows:
            by_cell.setdefault(r["ivf_cell"], {})[r["pos"]] = r["m"]
        for cell, dims in by_cell.items():
            if cell is None or not (0 <= cell < len(centroids)):
                continue  # NULL-scored rows assign to a NULL cell
            dim_n = len(centroids[cell])
            vals = [dims.get(p) for p in range(dim_n)]
            if len(dims) != dim_n or any(v is None for v in vals):
                # ragged or NULL-bearing embeddings in this cell: an
                # all-NULL dimension yields m=None and a short array yields
                # missing positions — keep the previous centroid rather
                # than produce a ragged/NULL one
                continue
            new_centroids[cell] = vals
        shift = max(
            sum((a - b) ** 2 for a, b in zip(old, new))
            for old, new in zip(centroids, new_centroids))
        centroids = new_centroids
        if shift < tol:
            break
    return centroids


def train_pq_codebook(df: DataFrame, m: int = 4, k: int = 16,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      max_iterations: int = 8, tol: float = 1e-4):
    """Per-subspace Lloyd's k-means for the PQ codebook (Jégou, Douze &
    Schmid 2011 §II trains one K-word quantizer per sub-vector) —
    Spark-first, the codebook analogue of ``train_ivf_centroids``.

    Initialization is the deterministic md5-ordered sample the IVF
    trainer uses (first ``k`` clean rows' sub-vectors), so training is
    reproducible with no RNG. Each round is ONE Arrow pass: every batch
    L2-assigns all ``m`` sub-vectors against the broadcast codebook and
    emits only its per-(subspace, codeword) partial count and coordinate
    sums — m·K·(sub_dim+1) numbers per batch, folded by a tiny groupBy;
    the driver updates the codebook from m·K·sub_dim means (metadata
    scale, never row data), so the loop works unchanged at 100 TB.
    Assignment ties break to the lowest codeword index — identical to
    ``pq_encode``. Empty codewords keep their previous value. Stops when
    the max squared codeword movement drops below ``tol``.

    Returns the [m, k, sub_dim] codebook as nested lists (feedable
    straight into pq_encode / pq_index / ivfadc_topk).
    """
    import numpy as np

    spark = df.sparkSession
    clean = df.filter(F.col(vec_col).isNotNull()
                      & ~F.exists(vec_col, lambda x: x.isNull()))
    seed_rows = (clean.select(F.col(vec_col).alias("v"),
                              F.md5(F.col(id_col).cast("string")).alias("h"))
                 .orderBy("h").limit(k).collect())
    if len(seed_rows) < k:
        raise ValueError(f"need at least k={k} clean vectors to seed")
    dim = len(seed_rows[0]["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    cb = np.array([[list(map(float, r["v"]))[s * sub:(s + 1) * sub]
                    for r in seed_rows] for s in range(m)])   # [m, k, sub]

    for _ in range(max_iterations):
        bc = spark.sparkContext.broadcast(cb)

        def part(batches):
            import numpy as np
            import pandas as pd

            cbv = bc.value
            mm, kk, ss = cbv.shape
            counts = np.zeros((mm, kk), dtype=np.int64)
            sums = np.zeros((mm, kk, ss))
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.array([np.asarray(v, dtype=float)
                              for v in pdf[vec_col]])
                xs = x.reshape(len(x), mm, ss)
                for s in range(mm):
                    d2 = ((xs[:, s, None, :] - cbv[s][None, :, :]) ** 2).sum(-1)
                    codes = np.argmin(d2, axis=1)
                    np.add.at(counts[s], codes, 1)
                    np.add.at(sums[s], codes, xs[:, s, :])
            s_idx, c_idx = np.nonzero(counts)
            yield pd.DataFrame({
                "s": s_idx.astype("int32"), "c": c_idx.astype("int32"),
                "ct": counts[s_idx, c_idx],
                "vsum": [list(v) for v in sums[s_idx, c_idx]]})

        parts = clean.select(vec_col).mapInPandas(
            part, schema="s int, c int, ct long, vsum array<double>")
        folded = (parts.select("s", "c", "ct",
                               F.posexplode("vsum").alias("j", "x"))
                  .groupBy("s", "c", "j")
                  .agg(F.sum("ct").alias("ct"), F.sum("x").alias("xs"))
                  .collect())
        new_cb = cb.copy()
        agg: dict[tuple[int, int], tuple[int, dict[int, float]]] = {}
        for r in folded:
            key = (r["s"], r["c"])
            ct, dims = agg.setdefault(key, (r["ct"], {}))
            dims[r["j"]] = r["xs"]
        for (s, c), (ct, dims) in agg.items():
            if ct and len(dims) == sub:
                new_cb[s, c] = [dims[j] / ct for j in range(sub)]
        shift = float(((new_cb - cb) ** 2).sum(axis=2).max())
        cb = new_cb
        if shift < tol:
            break
    return [[list(map(float, w)) for w in cb[s]] for s in range(m)]


def pq_encode(df: DataFrame, codebook, vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """Product-quantization encoding (Jégou, Douze & Schmid 2011): split
    each D-dim vector into ``m`` sub-vectors and store only the index of
    the nearest (L2) codeword per subspace — ``m`` small codes instead of
    D floats. This is the 100 TB ANN memory story: at D=64 float32 with
    m=4/K≤256, 256 bytes of vector become 4 bytes of code (64×), so a
    corpus-scale index fits where raw vectors cannot. One shuffle-free
    Arrow pass against the broadcast codebook; ties break to the lowest
    codeword index (numpy argmin), matching the oracle's (dist, c)
    ordering. Returns (id, codes array<int>, est_norm double) where
    est_norm is the reconstructed vector's norm, used by ADC cosine."""
    import numpy as np

    cb = np.asarray(codebook, dtype=float)      # [m, K, sub_dim]
    m, _K, sub = cb.shape
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(cb)
    idt = _id_type(df, id_col)

    def encode(batches):
        import numpy as np
        import pandas as pd

        cbv = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array([np.asarray(v, dtype=float)
                          for v in pdf[vec_col]])          # [n, D]
            n = len(x)
            xs = x.reshape(n, cbv.shape[0], -1)            # [n, m, sub]
            codes = np.empty((n, cbv.shape[0]), dtype=np.int64)
            recon_sq = np.zeros(n)
            for s in range(cbv.shape[0]):
                # [n, K] squared L2 distances to subspace-s codewords
                d2 = ((xs[:, s, None, :] - cbv[s][None, :, :]) ** 2).sum(-1)
                codes[:, s] = np.argmin(d2, axis=1)
                w = cbv[s][codes[:, s]]                    # [n, sub]
                recon_sq += (w * w).sum(-1)
            yield pd.DataFrame({"id": pdf[id_col],
                                "codes": list(codes),
                                "est_norm": np.sqrt(recon_sq)})

    return df.select(id_col, vec_col).mapInPandas(
        encode, schema=f"id {idt}, codes array<bigint>, est_norm double")


def pq_index(df: DataFrame, centroids: list[list[float]], codebook,
             vec_col: str = "embedding", id_col: str = "vec_id",
             residual: bool = False) -> DataFrame:
    """IVFADC index rows (Jégou, Douze & Schmid 2011 §V): each base vector
    coarse-assigned to its nearest centroid AND PQ-encoded, in ONE
    shuffle-free Arrow pass (the broadcast carries centroids + codebook
    together, so the corpus is scanned once — not once per quantizer).
    Returns (id, ivf_cell, codes, est_norm): the relation a production
    IVFADC system persists — m code bytes + one cell id per vector instead
    of D floats.

    ``residual=False`` quantizes the raw vector (shares ``pq_encode``'s
    math, keeping every stage oracle-checkable in SQL);
    ``residual=True`` is the paper's actual refinement — quantize
    r = x − centroid[cell], whose spread is much smaller than the
    vectors', so the same codebook budget spends itself on finer error.
    In both modes est_norm is the reconstruction's true norm
    (|centroid + r̂| for residuals), so ADC cosine needs no extra state.
    Coarse assignment is cosine-argmax with ties to the lowest centroid
    index — identical to ``ivf_assign``/``_assign_cells_pandas``."""
    import numpy as np

    spark = df.sparkSession
    cmat = np.asarray(centroids, dtype=float)
    cn = np.linalg.norm(cmat, axis=1)
    cn[cn == 0] = np.nan
    cb = np.asarray(codebook, dtype=float)
    bc = spark.sparkContext.broadcast((cmat, cmat / cn[:, None], cb))
    idt = _id_type(df, id_col)

    def run(batches):
        import numpy as np
        import pandas as pd

        cents, cents_n, cbv = bc.value
        m = cbv.shape[0]
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array([np.asarray(v, dtype=float) for v in pdf[vec_col]])
            n = len(x)
            norms = np.linalg.norm(x, axis=1)
            norms[norms == 0] = np.nan
            sims = (x / norms[:, None]) @ cents_n.T
            cell = np.argmax(np.nan_to_num(sims, nan=-np.inf), axis=1)
            target = x - cents[cell] if residual else x
            xs = target.reshape(n, m, -1)
            codes = np.empty((n, m), dtype=np.int64)
            recon_sq = np.zeros(n)
            recon = np.empty_like(target) if residual else None
            for s in range(m):
                d2 = ((xs[:, s, None, :] - cbv[s][None, :, :]) ** 2).sum(-1)
                codes[:, s] = np.argmin(d2, axis=1)
                w = cbv[s][codes[:, s]]
                # raw mode keeps pq_encode's exact per-subspace fold so the
                # oracle-matched est_norm doubles are bit-identical
                recon_sq += (w * w).sum(-1)
                if residual:
                    recon.reshape(n, m, -1)[:, s, :] = w
            if residual:
                full = recon + cents[cell]
                est_norm = np.sqrt((full * full).sum(-1))
            else:
                est_norm = np.sqrt(recon_sq)
            yield pd.DataFrame({"id": pdf[id_col],
                                "ivf_cell": cell.astype("int32"),
                                "codes": list(codes),
                                "est_norm": est_norm})

    clean = df.filter(F.col(vec_col).isNotNull()
                      & ~F.exists(vec_col, lambda x: x.isNull()))
    return clean.select(id_col, vec_col).mapInPandas(
        run, schema=f"id {idt}, ivf_cell int, codes array<bigint>, "
                    "est_norm double")


def _adc_score_pandas(cand: DataFrame, codebook, idt: str,
                      centroids: list[list[float]] | None = None) -> DataFrame:
    """ADC scoring over joined (query vector, base codes) rows: per Arrow
    batch, ONE m×K lookup table per distinct query (sub-vector·codeword
    dots against the broadcast codebook), then a vectorized gather+sum
    across that query's candidate codes — O(m·K·sub) per query plus
    O(rows·m) gathers, never a per-row LUT rebuild. Input columns:
    (query_id, qv, neighbor_id, codes, est_norm).

    With ``centroids`` the codes are RESIDUAL codes (pq_index
    residual=True): the reconstruction is centroid + r̂, so the dot gains
    a q·centroid term — one [n_queries × C] matmul per batch against the
    broadcast centroid matrix, gathered per row by the required
    ``ivf_cell`` column."""
    import numpy as np

    cb = np.asarray(codebook, dtype=float)
    cents = None if centroids is None else np.asarray(centroids, dtype=float)
    bc = cand.sparkSession.sparkContext.broadcast((cb, cents))

    def score(batches):
        import numpy as np
        import pandas as pd

        cbv, cv = bc.value
        m = cbv.shape[0]
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.array(pdf["codes"].tolist())          # [n, m]
            norms = pdf["est_norm"].to_numpy(dtype=float)
            norms = np.where(norms == 0, np.nan, norms)
            cells = (pdf["ivf_cell"].to_numpy() if cv is not None else None)
            est = np.empty(len(pdf))
            for _qid, idx in pdf.groupby("query_id").indices.items():
                qv = np.asarray(pdf["qv"].iloc[idx[0]], dtype=float)
                qn = np.linalg.norm(qv)
                lut = np.einsum("sd,scd->sc", qv.reshape(m, -1), cbv)
                dots = lut[np.arange(m)[None, :], codes[idx]].sum(1)
                if cv is not None:
                    dots = dots + cv[cells[idx]] @ qv
                # dot / (qn * norm), matching pq_topk's broadcast kernel
                # bit-for-bit (float division is not associative)
                est[idx] = dots / ((qn if qn else np.nan) * norms[idx])
            yield pd.DataFrame({"query_id": pdf["query_id"],
                                "neighbor_id": pdf["neighbor_id"],
                                "est_cosine": est})

    return cand.mapInPandas(
        score, schema=f"query_id {idt}, neighbor_id {idt}, est_cosine double")


def ivfadc_probe(index: DataFrame, queries: DataFrame,
                 centroids: list[list[float]], codebook, k: int = 10,
                 nprobe: int = 1, vec_col: str = "embedding",
                 id_col: str = "vec_id", residual: bool = False,
                 q_cells: DataFrame | None = None) -> DataFrame:
    """Search a ``pq_index`` relation: each query probes its ``nprobe``
    nearest coarse cells and ADC-scores ONLY the codes in those cells —
    the composition Jégou et al. call IVFADC (inverted file + asymmetric
    distance). Per-query work is ~nprobe·N/C code gathers instead of N,
    and nothing is collected to the driver: the candidate restriction is
    one equi-join on ivf_cell against the (already tiny) code relation.
    Output (query_id, neighbor_id, est_cosine, rank) with the same
    NaN-last ranking as every other top-k here. ``q_cells`` lets a
    caller that already assigned the queries (ann_index_probe needs the
    probed cell list for partition pruning) reuse that relation instead
    of paying a second Arrow assignment pass."""
    if q_cells is None:
        q_cells = _assign_cells_pandas(queries, centroids, vec_col,
                                       id_col, nprobe)
    q = q_cells.select(
        F.col("id").alias("query_id"), F.col("vec").alias("qv"),
        F.explode("cells").alias("ivf_cell"))
    base = index.select(F.col("id").alias("neighbor_id"), "ivf_cell",
                        "codes", "est_norm")
    keep = ["query_id", "qv", "neighbor_id", "codes", "est_norm"]
    if residual:
        keep.append("ivf_cell")     # the q·centroid term needs the cell
    cand = (q.join(base, "ivf_cell")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(*keep))
    idt = _id_type(queries, id_col)
    scored = _adc_score_pandas(cand, codebook, idt,
                               centroids=centroids if residual else None)
    return _rank_topk(scored, k, "est_cosine")


def ivfadc_topk(df: DataFrame, queries: DataFrame,
                centroids: list[list[float]], codebook, k: int = 10,
                nprobe: int = 1, vec_col: str = "embedding",
                id_col: str = "vec_id", residual: bool = False) -> DataFrame:
    """One-shot IVFADC: build the (cell, codes) index in one Arrow pass
    over the corpus, then probe it. With ``nprobe`` = len(centroids) the
    cell restriction vanishes and results equal ``pq_topk`` exactly
    (pinned by test); at production scale nprobe/C is the recall/cost
    dial and the index is persisted once (``ann_index_append``) instead
    of rebuilt per query batch. ``residual=True`` switches both halves
    to residual encoding/scoring — the paper's full IVFADC."""
    idx = pq_index(df, centroids, codebook, vec_col, id_col,
                   residual=residual)
    return ivfadc_probe(idx, queries, centroids, codebook, k, nprobe,
                        vec_col, id_col, residual=residual)


def ann_index_append(df: DataFrame, index_dir: str,
                     centroids: list[list[float]], codebook,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id",
                     batch_id: int | None = None,
                     rotation=None) -> None:
    """Append a batch's IVFADC rows to a PERSISTED vector index — the ANN
    twin of ``dedup.minhash_index_append``: once an embedding increment is
    indexed, later probes search ALL history without rescanning (or even
    retaining) the historical vectors. On disk: ``<dir>/codes`` parquet
    PARTITIONED BY ivf_cell (so a probe's nprobe-cell restriction becomes
    static partition pruning — only the probed cells' files are read) plus
    the quantizers (``centroids``/``codebook``) so the index is
    self-describing. Index size is O(docs × m) code bytes, ~1000× under
    the vectors at 100 TB.

    Codes land under ``ivf_cell=C/batch_id=N`` via dynamic partition
    overwrite (io/fs.stamped_append): re-appending the same batch
    replaces its own code rows instead of duplicating them, so the
    streaming sink is exactly-once across its crash windows; cell
    pruning is unaffected (ivf_cell stays the first partition level).

    ``rotation``: an OPQ rotation (``fit_opq``). Vectors rotate before
    coarse-assign + encode, and R persists under ``<dir>/rotation`` so
    ``ann_index_probe`` rotates queries the same way with no caller
    coordination — centroids/codebook must then be TRAINED in the
    rotated space (fit_opq's codebook; kmeans/ivf centroids on
    ``rotate(df, R)``)."""
    import posixpath

    from dataops_testgen_spark.io.fs import stamped_append

    spark = df.sparkSession
    if rotation is not None:
        df = rotate(df, rotation, vec_col, id_col)
        vec_col, id_col = "rotated", "id"
    idx = pq_index(df, centroids, codebook, vec_col, id_col)
    stamped_append(idx, posixpath.join(index_dir, "codes"),
                   partition_cols=["ivf_cell"], batch_id=batch_id)
    # quantizers are immutable per index — idempotent overwrite (single-
    # slice writes: see io/fs.py write_small_df for why not coalesce(1))
    from dataops_testgen_spark.io.fs import write_small_df

    write_small_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
        posixpath.join(index_dir, "centroids"))
    cb_rows = [(s, c, [float(x) for x in codeword])
               for s, sub in enumerate(codebook)
               for c, codeword in enumerate(sub)]
    write_small_df(spark, cb_rows, "s int, c int, codeword array<double>",
                   posixpath.join(index_dir, "codebook"))
    if rotation is not None:
        write_small_df(
            spark,
            [(i, [float(x) for x in row]) for i, row in enumerate(rotation)],
            "i int, r array<double>", posixpath.join(index_dir, "rotation"))


def rerank_exact(df: DataFrame, candidates: DataFrame,
                 queries: DataFrame | None = None, k: int = 10,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """Production second stage for every approximate path here: take an
    ANN shortlist — (query_id, neighbor_id) pairs from pq_topk /
    ivfadc_probe / lsh_topk / ann_index_probe — and re-rank it by EXACT
    cosine over the true vectors, returning the top ``k`` per query.

    100 TB shape: only the shortlist joins back to the vector relation
    (twice, on id — candidate-cardinality, never the corpus crossed with
    itself); scoring is the shared Arrow einsum kernel; ranking is the
    shared NaN-last window. ``queries`` defaults to ``df`` (self-corpus
    search); pass it when query vectors live elsewhere."""
    q = (queries if queries is not None else df)
    qv = q.select(F.col(id_col).alias("query_id"),
                  F.col(vec_col).alias("qv"))
    nv = df.select(F.col(id_col).alias("neighbor_id"),
                   F.col(vec_col).alias("v"))
    cand = (candidates.select("query_id", "neighbor_id").distinct()
            .join(qv, "query_id").join(nv, "neighbor_id"))
    idt = _id_type(df, id_col)
    scored = _pair_cosine_pandas(cand, "qv", "v",
                                 [("query_id", idt), ("neighbor_id", idt)])
    return _rank_topk(scored, k)


def ann_index_compact(spark, index_dir: str) -> int:
    """Compact the index's codes relation to ~one file per cell. Every
    ``ann_index_append`` (or streaming ``ann_index_sink`` micro-batch)
    adds a file set per cell; thousands of appends make probes pay the
    small-files tax (open/footer cost per file) instead of scan cost.
    Rewrite shuffles only the code relation — O(rows × m) code bytes,
    never vectors — into cell-hashed partitions and swaps it in via a
    filesystem rename (atomic on HDFS/local; on object stores run it in
    a maintenance window). Returns the data-file count after compaction."""
    import posixpath

    from dataops_testgen_spark.io.fs import (COMPACTED_BATCH_ID,
                                             count_data_files,
                                             guard_unresolved_sink_batches,
                                             staged_swap)

    codes_path = posixpath.join(index_dir, "codes")
    guard_unresolved_sink_batches(spark, index_dir, codes_path)
    tmp_path = codes_path + "__compacting"
    # history collapses into the reserved batch_id=-1 partition so the
    # layout stays identical for later stamped appends
    df = spark.read.parquet(codes_path) \
        .withColumn("batch_id", F.lit(COMPACTED_BATCH_ID))
    (df.repartition("ivf_cell")
       .write.mode("overwrite").partitionBy("ivf_cell", "batch_id")
       .parquet(tmp_path))
    staged_swap(spark, codes_path, tmp_path)
    return count_data_files(spark, codes_path)


def ann_index_probe(queries: DataFrame, index_dir: str, k: int = 10,
                    nprobe: int = 1, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """Top-``k`` neighbors for each query from EVERYTHING indexed so far
    (IVFADC over the persisted index). The probe collects only the
    queries' probed cell ids (≤ |queries|·nprobe ints) and pushes them as
    an ``isin`` filter on the partition column, so Spark plans a scan of
    JUST those cells' files — probe I/O is nprobe/C of the index
    regardless of history size. Probing then appending each increment
    yields exactly the results of one-shot indexing the union (pinned by
    test_ann_index_incremental_equals_oneshot). An index written with an
    OPQ rotation is self-describing: ``<dir>/rotation`` (when present)
    rotates the queries here automatically — callers never track R."""
    import posixpath

    import numpy as np

    from dataops_testgen_spark.io.fs import path_exists

    spark = queries.sparkSession
    rot_dir = posixpath.join(index_dir, "rotation")
    if path_exists(spark, rot_dir):
        rot_rows = spark.read.parquet(rot_dir).orderBy("i").collect()
        queries = rotate(queries, [list(r["r"]) for r in rot_rows],
                         vec_col, id_col)
        vec_col, id_col = "rotated", "id"
    cent_rows = (spark.read.parquet(posixpath.join(index_dir, "centroids"))
                 .orderBy("cell").collect())
    centroids = [list(r["centroid"]) for r in cent_rows]
    cb_rows = (spark.read.parquet(posixpath.join(index_dir, "codebook"))
               .orderBy("s", "c").collect())
    m = cb_rows[-1]["s"] + 1
    kk = cb_rows[-1]["c"] + 1
    codebook = np.array([r["codeword"] for r in cb_rows]).reshape(m, kk, -1)

    qcells = materialize(_assign_cells_pandas(queries, centroids, vec_col,
                                              id_col, nprobe), eager=True)
    probed = sorted({c for r in qcells.select("cells").collect()
                     for c in r["cells"]})
    idx = (spark.read.parquet(posixpath.join(index_dir, "codes"))
           .filter(F.col("ivf_cell").isin(probed)))
    return ivfadc_probe(idx, queries, centroids, codebook, k, nprobe,
                        vec_col, id_col, q_cells=qcells)


def _pq_topk_shuffled(df: DataFrame, queries: DataFrame, codebook, k: int,
                      vec_col: str, id_col: str) -> DataFrame:
    """Full-scan ADC without a driver collect: the code relation stays
    distributed and every query crossJoins it (O(N·Q) code gathers,
    Arrow-batched). The fallback when the code matrix exceeds the
    broadcast cap; ``ivfadc_topk`` is the sublinear path."""
    enc = pq_encode(df, codebook, vec_col, id_col).select(
        F.col("id").alias("neighbor_id"), "codes", "est_norm")
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"))
    cand = (q.crossJoin(enc)
            .filter(F.col("query_id") != F.col("neighbor_id")))
    idt = _id_type(df, id_col)
    return _rank_topk(_adc_score_pandas(cand, codebook, idt), k,
                      "est_cosine")


def pq_topk(df: DataFrame, queries: DataFrame, codebook, k: int = 10,
            vec_col: str = "embedding", id_col: str = "vec_id",
            max_broadcast_bytes: int = MAX_BROADCAST_MATRIX_BYTES) -> DataFrame:
    """PQ asymmetric-distance top-k: the base side is its PQ CODES only
    (pq_encode), queries stay exact. Per query, one m×K lookup table of
    sub-vector·codeword dots, then a numpy gather+sum over the broadcast
    code matrix estimates every base cosine — O(m·K·sub + N·m) per query
    instead of O(N·D), on 1/64th the memory. est_cosine uses the
    reconstructed base norm (ADC on the quantized side, exact on the
    query side). Output (query_id, neighbor_id, est_cosine, rank),
    tiebreak est_cosine DESC then neighbor_id ASC — the exact re-rank of
    the top candidates is the usual production second stage and is
    available via brute_force_topk on the shortlist.

    The codes matrix collected here is N×m int8-scale data (the thing a
    production PQ index persists in RAM); at 100 TB that is still ~1000×
    smaller than the vectors — but not driver-sized, so the collect gets
    the same ``max_broadcast_bytes`` dispatch as ``brute_force_topk``:
    above the cap the call falls back to the exact-same-scoring shuffled
    crossJoin form (``_pq_topk_shuffled``), and ``ivfadc_topk`` is the
    sublinear path that prunes the scan to nprobe cells. A deterministic
    codebook (sub-vectors of the first K base rows) keeps the whole path
    oracle-checkable; production would train per-subspace k-means."""
    import numpy as np

    cb = np.asarray(codebook, dtype=float)
    n_rows = df.count()
    # ids + m int64 codes + one norm per row is what the driver would hold
    if n_rows * (cb.shape[0] * 8 + 16) > max_broadcast_bytes:
        return _pq_topk_shuffled(df, queries, codebook, k, vec_col, id_col)
    spark = df.sparkSession
    enc = pq_encode(df, codebook, vec_col, id_col).collect()
    ids = np.array([r["id"] for r in enc])
    codes = np.array([r["codes"] for r in enc])            # [N, m]
    norms = np.array([r["est_norm"] for r in enc])
    norms[norms == 0] = np.nan
    bc = spark.sparkContext.broadcast((ids, codes, norms, cb))
    idt = _id_type(df, id_col)

    def score(batches):
        import numpy as np
        import pandas as pd

        all_ids, all_codes, all_norms, cbv = bc.value
        m = cbv.shape[0]
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.array([np.asarray(v, dtype=float)
                          for v in pdf[vec_col]])
            qn = np.linalg.norm(q, axis=1)
            qn[qn == 0] = np.nan
            qs = q.reshape(len(q), m, -1)                  # [nq, m, sub]
            qids = pdf[id_col].to_numpy()
            out_q, out_n, out_c, out_r = [], [], [], []
            for i, qid in enumerate(qids):
                # ADC lookup table: lut[s, c] = q_s · codeword[s, c]
                lut = np.einsum("sd,scd->sc", qs[i], cbv)
                dots = lut[np.arange(m)[None, :], all_codes].sum(1)
                est = dots / (qn[i] * all_norms)
                mask = all_ids != qid
                cand_ids, cand = all_ids[mask], est[mask]
                order = np.lexsort((cand_ids, -cand))[:k]
                out_q.extend([qid] * len(order))
                out_n.extend(cand_ids[order])
                out_c.extend(cand[order])
                out_r.extend(range(1, len(order) + 1))
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n,
                                "est_cosine": out_c, "rank": out_r})

    return queries.select(id_col, vec_col).mapInPandas(
        score, schema=f"query_id {idt}, neighbor_id {idt}, "
                      "est_cosine double, rank int")


def rotate(df: DataFrame, R, vec_col: str = "embedding",
           id_col: str = "vec_id",
           out_col: str = "rotated") -> DataFrame:
    """Apply an orthogonal rotation: (id, out_col) with out = x @ R —
    one broadcast matmul per Arrow batch, no shuffle (the un-centered
    sibling of ``whiten``; OPQ's application step)."""
    import numpy as np

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(R, dtype=float))

    def run(batches):
        import numpy as np
        import pandas as pd

        r_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array([np.asarray(v, dtype=float) for v in pdf[vec_col]])
            yield pd.DataFrame({"id": pdf[id_col],
                                out_col: list(m @ r_)})

    clean = _clean_vectors(df, vec_col)
    idt = _id_type(df, id_col)
    return clean.select(id_col, vec_col).mapInPandas(
        run, schema=f"id {idt}, {out_col} array<double>")


def fit_opq(df: DataFrame, m: int = 4, k: int = 16, n_iters: int = 3,
            vec_col: str = "embedding", id_col: str = "vec_id",
            pq_iters: int = 4, final_pq_iters: int = 8,
            round_decimals: int = 9):
    """Optimized Product Quantization, non-parametric variant (Ge,
    He, Ke & Sun, CVPR 2013 §4): learn an ORTHOGONAL rotation R so the
    PQ codebook quantizes x@R with lower distortion than x — at the same
    code budget (same m, k) the rotation redistributes variance and
    decorrelates the subspaces, which is where PQ loses most of its
    recall. The alternating scheme:

      repeat n_iters:
        1. codebook  <- per-subspace k-means on the rotated vectors
                        (``train_pq_codebook``, deterministic init)
        2. R         <- argmin_{R orthogonal} ||X R - Y||_F
                        = U V^T from SVD(X^T Y) (orthogonal Procrustes),
                        Y = the PQ reconstruction of X R
      finally retrain the codebook against the final R.

    100 TB shape: per iteration the distributed work is the PQ trainer
    (model-sized exchanges) plus ONE Arrow pass accumulating the D x D
    cross-Gram X^T Y (D^2 partials per batch — parameters, not data,
    the ``_covariance_parts`` contract); the SVD runs on the driver over
    the D x D model. R starts at identity; the cross-Gram is rounded to
    6 decimals before the SVD and R to ``round_decimals`` after, the
    same float firewall the other trainers use.

    Returns (R, codebook): R as a D x D nested list, codebook
    [m, k, sub_dim] — feed both to ``opq_topk``."""
    import numpy as np

    clean = _clean_vectors(df, vec_col)
    first = clean.select(vec_col).first()
    if first is None:
        raise ValueError("no valid vectors")
    d = len(first[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    spark = df.sparkSession
    R = np.eye(d)
    cb = None
    for _ in range(n_iters):
        # persist the rotated relation: the PQ trainer runs pq_iters
        # passes over it, and without the persist every pass would
        # replay the rotation kernel against the source scan
        rotated = rotate(df, R, vec_col, id_col).persist()
        try:
            cb = np.asarray(train_pq_codebook(
                rotated, m=m, k=k, vec_col="rotated", id_col="id",
                max_iterations=pq_iters), dtype=float)
        finally:
            rotated.unpersist()
        bc = spark.sparkContext.broadcast((R, cb))

        def gram(batches):
            import numpy as np
            import pandas as pd

            r_, cbv = bc.value
            dd = r_.shape[0]
            mm, _kk, ss = cbv.shape
            g = np.zeros((dd, dd))
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.array([np.asarray(v, dtype=float)
                              for v in pdf[vec_col]])
                y = x @ r_
                ys = y.reshape(len(y), mm, ss)
                recon = np.empty_like(y)
                for s in range(mm):
                    d2 = ((ys[:, s, None, :] - cbv[s][None, :, :]) ** 2) \
                        .sum(-1)
                    recon[:, s * ss:(s + 1) * ss] = cbv[s][
                        np.argmin(d2, axis=1)]
                g += x.T @ recon
            ii, jj = np.meshgrid(np.arange(dd), np.arange(dd),
                                 indexing="ij")
            yield pd.DataFrame({"i": ii.ravel().astype("int32"),
                                "j": jj.ravel().astype("int32"),
                                "v": g.ravel()})

        rows = (clean.select(vec_col)
                .mapInPandas(gram, schema="i int, j int, v double")
                .groupBy("i", "j").agg(F.sum("v").alias("v")).collect())
        G = np.zeros((d, d))
        for r in rows:
            G[r["i"], r["j"]] = r["v"]
        u, _s, vt = np.linalg.svd(np.round(G, 6))
        R = np.round(u @ vt, round_decimals)
        bc.unpersist()
    final_rot = rotate(df, R, vec_col, id_col).persist()
    try:
        cb = np.asarray(train_pq_codebook(
            final_rot, m=m, k=k, vec_col="rotated",
            id_col="id", max_iterations=final_pq_iters), dtype=float)
    finally:
        final_rot.unpersist()
    return ([list(map(float, row)) for row in R],
            [[list(map(float, w)) for w in cb[s]] for s in range(m)])


def opq_topk(df: DataFrame, queries: DataFrame, R, codebook, k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             max_broadcast_bytes: int = MAX_BROADCAST_MATRIX_BYTES
             ) -> DataFrame:
    """PQ asymmetric-distance top-k under a fitted OPQ rotation: both
    sides rotate (cosine is rotation-invariant, so est_cosine estimates
    the ORIGINAL-space cosine — just through a codebook that fits the
    rotated data better), then the standard ``pq_topk`` path runs
    unchanged, size-dispatch included."""
    rdf = rotate(df, R, vec_col, id_col)
    rq = rotate(queries, R, vec_col, id_col)
    return pq_topk(rdf, rq, codebook, k=k, vec_col="rotated", id_col="id",
                   max_broadcast_bytes=max_broadcast_bytes)


def hard_negatives(df: DataFrame, queries: DataFrame | None = None,
                   k: int = 10, label_col: str = "label",
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   candidates: DataFrame | None = None) -> DataFrame:
    """Hard-negative mining for contrastive training: the top ``k`` most
    cosine-similar rows whose ``label_col`` DIFFERS from the query's —
    the negatives that actually move a contrastive loss (Xiong et al.
    2021, ANCE). Output: (query_id, neighbor_id, cosine, rank).

    Two dispatch modes, mirroring the retrieval stack:

    - exact (``candidates=None``): the (small) query relation broadcasts
      against the base, label-mismatched pairs score through the shared
      Arrow einsum kernel, and ranking is the shared NaN-last per-query
      window. O(N·Q) pair work — the verifier / small-Q path.
    - shortlist: pass ``candidates`` (query_id, neighbor_id — e.g.
      ``ivfadc_topk``/``ann_index_probe`` with an oversampled k' ≈ a few
      × k, since same-label rows will be filtered out): only the
      shortlist joins back to vectors and labels (candidate-cardinality
      joins, never the corpus crossed with itself) — the production
      path at corpus scale, recall bounded by the ANN stage like
      ``rerank_exact``.
    """
    q = (queries if queries is not None else df)
    idt = _id_type(df, id_col)
    qv = q.select(F.col(id_col).alias("query_id"),
                  F.col(vec_col).alias("qv"),
                  F.col(label_col).alias("q_label"))
    nv = df.select(F.col(id_col).alias("neighbor_id"),
                   F.col(vec_col).alias("v"),
                   F.col(label_col).alias("n_label"))
    if candidates is None:
        cand = nv.join(F.broadcast(qv),
                       F.col("query_id") != F.col("neighbor_id"))
    else:
        cand = (candidates.select("query_id", "neighbor_id").distinct()
                .join(qv, "query_id").join(nv, "neighbor_id"))
    cand = cand.filter(F.col("q_label") != F.col("n_label"))
    scored = _pair_cosine_pandas(cand.select("query_id", "neighbor_id",
                                             "qv", "v"),
                                 "qv", "v",
                                 [("query_id", idt), ("neighbor_id", idt)])
    return _rank_topk(scored, k)


def embedding_dim_profile(df: DataFrame,
                          vec_col: str = "embedding") -> DataFrame:
    """Per-dimension embedding health profile: (dim, n, mean, std, vmin,
    vmax) — the embedding-space analogue of the column profiler. Dead
    dimensions (std ≈ 0), mean drift away from 0, and range blowups are
    the standard QA signals before indexing / training on a vector
    column (and after any encoder change).

    100 TB shape: one posexplode feeds a single partial-agg groupBy(dim)
    — D groups regardless of row count, all sums map-side combined;
    no window, no collect. Values cast float→double before aggregating
    so engines agree bit-for-bit on each addend."""
    vals = df.select(F.posexplode(F.col(vec_col)).alias("dim", "x")) \
             .select("dim", F.col("x").cast("double").alias("x"))
    return (vals.groupBy("dim")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.avg("x").alias("mean"),
                 F.stddev_samp("x").alias("std"),
                 F.min("x").alias("vmin"),
                 F.max("x").alias("vmax")))


def _kmeans_kernel(df: DataFrame, centroids: list[list[float]],
                   vec_col: str, id_col: str | None,
                   return_bc: bool = False):
    """The ONE normalize → broadcast-matmul → stable-argmax kernel behind
    both spherical k-means entry points. With ``id_col`` it yields the
    scoring shape (id, cell, cosine); with ``id_col=None`` it yields the
    training shape (cell, vec) so per-cell sums aggregate straight off
    it — no join back on id. Zero-norm vectors are dropped (their cosine
    is undefined); a zero-norm centroid scores -inf via the NaN guard."""
    import numpy as np

    spark = df.sparkSession
    cmat = np.array(centroids, dtype=float)
    cn = np.linalg.norm(cmat, axis=1)
    cn[cn == 0] = np.nan
    bc = spark.sparkContext.broadcast(cmat / cn[:, None])
    with_id = id_col is not None

    def run(batches):
        import numpy as np
        import pandas as pd

        cents_n = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array([np.asarray(v, dtype=float) for v in pdf[vec_col]])
            norms = np.linalg.norm(m, axis=1)
            keep = norms > 0
            if not keep.any():
                continue
            m, norms = m[keep], norms[keep]
            sims = (m / norms[:, None]) @ cents_n.T
            safe = np.nan_to_num(sims, nan=-np.inf)
            best = np.argsort(-safe, axis=1, kind="stable")[:, 0]
            if with_id:
                yield pd.DataFrame({
                    "id": pdf[id_col][keep],
                    "cell": best.astype("int32"),
                    "cosine": sims[np.arange(len(best)), best]})
            else:
                yield pd.DataFrame({
                    "cell": best.astype("int32"),
                    "vec": list(pdf[vec_col][keep])})

    clean = df.filter(F.col(vec_col).isNotNull()
                      & ~F.exists(vec_col, lambda x: x.isNull()))
    if with_id:
        idt = _id_type(df, id_col)
        out = clean.select(id_col, vec_col).mapInPandas(
            run, schema=f"id {idt}, cell int, cosine double")
    else:
        out = clean.select(vec_col).mapInPandas(
            run, schema="cell int, vec array<double>")
    # return_bc lets an eager caller (kmeans_train collects each
    # iteration) unpersist the centroid broadcast once consumed instead
    # of accumulating one per iteration on the executors
    return (out, bc) if return_bc else out


def kmeans_assign(df: DataFrame, centroids: list[list[float]],
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """(id, cell, cosine): each vector's nearest centroid by cosine, ties
    to the lowest centroid index (the shared stable-argsort rule), plus
    the winning cosine. One broadcast centroid matmul per Arrow batch,
    no shuffle; zero-norm vectors are dropped (cosine undefined)."""
    return _kmeans_kernel(df, centroids, vec_col, id_col)


def _cell_pos_sums(vec_col: str):
    """Arrow kernel for the WIDE-D k-means update: per-batch per-cell
    per-dimension partial sums in long format (cell, pos, s) — at most
    k*D rows per batch regardless of member count, and no D-wide
    expression reaches Catalyst (codegen-safe at any embedding width)."""
    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array([np.asarray(v, dtype=float) for v in pdf[vec_col]])
            d = m.shape[1]
            cells = pdf["cell"].to_numpy()
            uniq = np.unique(cells)
            sums = np.vstack([m[cells == c].sum(axis=0) for c in uniq])
            yield pd.DataFrame({
                "cell": np.repeat(uniq, d).astype("int32"),
                "pos": np.tile(np.arange(d), len(uniq)).astype("int32"),
                "s": sums.ravel()})
    return run


def kmeans_train(df: DataFrame, k: int = 8, n_iters: int = 3,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 round_decimals: int = 9,
                 persist: bool = True,
                 wide_dim_threshold: int | None = None) -> list[list[float]]:
    """Distributed SPHERICAL k-means (Lloyd's on the unit sphere) — the
    cosine-metric sibling of ``train_ivf_centroids`` (Euclidean, md5-
    sampled init, tol early-stop: the production IVF default). This
    variant exists for two reasons: (1) cosine is the metric every
    similarity path here actually ranks by, so spherical centroids match
    the geometry ANN probes search in; (2) it is DETERMINISTIC by
    construction — fixed iteration count, first-k-by-id init, per-
    iteration rounding — so, uniquely among the trainers, its output is
    DuckDB-oracle-able end-to-end (driver query ``kmeans_embeddings``
    re-derives all iterations in unrolled SQL, the ``bpe_merges``
    pattern). Its update pass is also leaner: per-cell vector sums
    aggregate straight off the assignment kernel's (cell, vec) output —
    rows never posexplode ×D and nothing joins back on id.

    Deterministic contract:

    - init: the ``k`` lowest-``id`` valid vectors (non-NULL, no NULL
      elements, norm > 0 — a zero vector can't seed a spherical
      centroid, so the next id takes its place), L2-normalized;
    - assign: argmax cosine against the broadcast centroid matrix (one
      numpy matmul per Arrow batch — no shuffle, no interpreted HOFs),
      ties to the lowest centroid index;
    - update: new centroid = L2-normalized per-dimension SUM of member
      vectors (spherical update — mean and sum renormalize identically);
      an empty cell (or an exactly-cancelling one, norm 0) keeps its
      previous centroid;
    - every updated centroid rounds to ``round_decimals`` decimals, so
      float summation order (partitioning, engine) cannot leak into the
      next iteration's assignments.

    100 TB shape: per iteration, ONE pass over the vectors (assignment
    kernel fused with a partial-agg groupBy(cell) of D per-dimension
    sums — only k rows per task reach the exchange) and ONE model-sized
    driver collect (k x D doubles — parameters, not data, same contract
    as ``bpe_train``'s vocab finish / ``nb_train``'s model). The
    projected (id, vec) relation persists across iterations
    (``persist=True``) so the source scans once, not ``n_iters`` times.
    Above ``wide_dim_threshold`` dimensions (default 256) the update
    switches from D per-dimension agg expressions (codegen-bounded) to
    the long-format pos-sum Arrow kernel — same model-sized exchange,
    no D-wide expression in the plan, safe at production widths
    (768-4096).
    """
    import numpy as np

    base = (df.filter(F.col(vec_col).isNotNull()
                      & ~F.exists(vec_col, lambda x: x.isNull()))
            .select(F.col(id_col).alias("id"),
                    F.col(vec_col).cast("array<double>").alias("vec")))
    if persist:
        base = base.persist()
    try:
        nonzero = F.aggregate("vec", F.lit(0.0),
                              lambda acc, x: acc + x * x) > 0
        seed_rows = base.filter(nonzero).orderBy("id").limit(k).collect()
        if len(seed_rows) < k:
            raise ValueError(f"k={k} exceeds the {len(seed_rows)} valid vectors")
        seeds = np.array([r["vec"] for r in seed_rows], dtype=float)
        dim = seeds.shape[1]
        cents = np.round(seeds / np.linalg.norm(seeds, axis=1)[:, None],
                         round_decimals)

        # update-agg dispatch: D separate F.sum(vec[i]) expressions keep
        # the whole update inside whole-stage codegen at fixture sizes,
        # but production embedding widths (768-4096) blow past the
        # codegen method-size limit and fall back to interpreted mode —
        # above the threshold the per-cell sums come from the pos-sum
        # Arrow kernel instead (the _embedding_mean shape: per-batch
        # (cell, pos, partial) rows, <= k*D rows per task reach the
        # exchange, no D-wide expression anywhere in the plan)
        use_wide = dim > (wide_dim_threshold
                          if wide_dim_threshold is not None else 256)
        sum_exprs = None if use_wide else [
            F.sum(F.col("vec")[i]).alias(f"s{i}") for i in range(dim)]
        for _ in range(n_iters):
            # the shared kernel's (cell, vec) shape: per-cell sums
            # aggregate straight off it — no join back to base, nothing
            # id-shuffled, only model-sized rows per task reach the
            # exchange
            assigned, bc = _kmeans_kernel(base, [list(c) for c in cents],
                                          "vec", None, return_bc=True)
            nxt = cents.copy()
            if use_wide:
                parts = (assigned.mapInPandas(
                            _cell_pos_sums("vec"),
                            schema="cell int, pos int, s double")
                         .groupBy("cell", "pos")
                         .agg(F.sum("s").alias("s")).collect())
                acc = {}
                for row in parts:
                    acc.setdefault(row["cell"],
                                   np.zeros(dim))[row["pos"]] = row["s"]
                for cell, s in acc.items():
                    n = np.linalg.norm(s)
                    if n > 0:
                        nxt[cell] = np.round(s / n, round_decimals)
            else:
                sums = assigned.groupBy("cell").agg(*sum_exprs).collect()
                for row in sums:
                    s = np.array([row[f"s{i}"] for i in range(dim)],
                                 dtype=float)
                    n = np.linalg.norm(s)
                    if n > 0:
                        nxt[row["cell"]] = np.round(s / n, round_decimals)
            bc.unpersist()
            cents = nxt
        return [list(map(float, c)) for c in cents]
    finally:
        if persist:
            base.unpersist()


def _embedding_mean(clean: DataFrame, vec_col: str):
    """(mu, n) from one kernel pass over the cleaned vectors: per-batch
    (pos, partial-sum) rows plus a count row, folded by a partial-agg
    groupBy. Returns (numpy mean vector, row count)."""
    import numpy as np

    def sums(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array([np.asarray(v, dtype=float) for v in pdf[vec_col]])
            d = m.shape[1]
            yield pd.DataFrame({
                "pos": np.concatenate([np.arange(d), [-1]]),
                "s": np.concatenate([m.sum(axis=0), [float(len(m))]])})

    parts = (clean.select(vec_col)
             .mapInPandas(sums, schema="pos int, s double")
             .groupBy("pos").agg(F.sum("s").alias("s")).collect())
    n = sum(r["s"] for r in parts if r["pos"] == -1)
    if n == 0:
        raise ValueError("no valid vectors")
    d = max(r["pos"] for r in parts) + 1
    mu = np.zeros(d)
    for r in parts:
        if r["pos"] >= 0:
            mu[r["pos"]] = r["s"] / n
    return mu, n


def _clean_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    return df.filter(F.col(vec_col).isNotNull()
                     & ~F.exists(vec_col, lambda x: x.isNull()))


def _covariance_parts(df: DataFrame, vec_col: str = "embedding"):
    """Shared two-pass covariance: returns (mu, n, cov DataFrame of
    (i, j, cov) for i <= j). Pass 1 folds the mean; pass 2 accumulates
    the batch-local CENTERED Gram (numerically stable — the one-pass
    E[xy]-E[x]E[y] spelling cancels catastrophically when |mean| >>
    std) against the broadcast mean and emits only D(D+1)/2 partial
    sums per batch — never a per-row D^2 expansion. The covariance
    relation stays distributed (groupBy + one literal division)."""
    import numpy as np

    clean = _clean_vectors(df, vec_col)
    mu, n = _embedding_mean(clean, vec_col)
    bc = df.sparkSession.sparkContext.broadcast(mu)

    def gram(batches):
        import numpy as np
        import pandas as pd

        mu_ = bc.value
        iu, ju = np.triu_indices(len(mu_))
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array([np.asarray(v, dtype=float)
                          for v in pdf[vec_col]]) - mu_
            g = m.T @ m
            yield pd.DataFrame({"i": iu, "j": ju, "s": g[iu, ju]})

    cov = (clean.select(vec_col)
           .mapInPandas(gram, schema="i int, j int, s double")
           .groupBy("i", "j").agg(F.sum("s").alias("s"))
           .select("i", "j", (F.col("s") / F.lit(float(n))).alias("cov")))
    return mu, n, cov


def embedding_covariance(df: DataFrame,
                         vec_col: str = "embedding") -> DataFrame:
    """(i, j, cov) for i <= j: the exact D x D covariance of an embedding
    column — the fit step PCA / whitening / OPQ rotation all start from.
    Two kernel passes (mean, then centered Gram — see _covariance_parts
    for why centered), model-sized shuffle, result stays distributed.
    NULL-element and NULL vectors are dropped."""
    return _covariance_parts(df, vec_col)[2]


def fit_whitening(df: DataFrame, vec_col: str = "embedding",
                  eps: float = 1e-6,
                  n_components: int | None = None):
    """PCA whitening model: returns (mu, W) numpy arrays with
    W = V diag(1/sqrt(lam + eps)) over the top ``n_components``
    eigenpairs (all D when None) — whitened = (x-mu) @ W.
    The eigendecomposition runs on the DRIVER over the model-sized D x D
    covariance (the same parameters-not-data contract as kmeans_train's
    centroid collect); the distributed work is the shared two-pass
    mean+Gram (the mean is reused, not re-scanned). Whitening is the
    standard pre-PQ / pre-cosine conditioning step (Jégou & Chum 2012)
    — dominant directions stop swamping the metric."""
    import numpy as np

    mu, _, cov_df = _covariance_parts(df, vec_col)
    cov_rows = cov_df.collect()
    d = len(mu)
    if n_components is not None and not 0 < n_components <= d:
        raise ValueError(f"n_components must be in [1, {d}]")
    C = np.zeros((d, d))
    for r in cov_rows:
        C[r["i"], r["j"]] = C[r["j"], r["i"]] = r["cov"]
    lam, vecs = np.linalg.eigh(C)
    order = np.argsort(lam)[::-1]
    lam, vecs = lam[order], vecs[:, order]
    if n_components is not None:
        lam, vecs = lam[:n_components], vecs[:, :n_components]
    # deterministic sign: make each eigenvector's largest-|.| entry positive
    for c in range(vecs.shape[1]):
        k = int(np.argmax(np.abs(vecs[:, c])))
        if vecs[k, c] < 0:
            vecs[:, c] = -vecs[:, c]
    W = vecs / np.sqrt(np.maximum(lam, 0.0) + eps)
    return mu, W


def whiten(df: DataFrame, mu, W, vec_col: str = "embedding",
           id_col: str = "vec_id",
           out_col: str = "whitened") -> DataFrame:
    """Apply a fitted whitening model: (id, whitened) with whitened =
    (x - mu) @ W — one broadcast matmul per Arrow batch, no shuffle."""
    import numpy as np

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        (np.asarray(mu, dtype=float), np.asarray(W, dtype=float)))

    def run(batches):
        import numpy as np
        import pandas as pd

        mu_, w_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array([np.asarray(v, dtype=float) for v in pdf[vec_col]])
            out = (m - mu_) @ w_
            yield pd.DataFrame({"id": pdf[id_col],
                                out_col: list(out)})

    clean = df.filter(F.col(vec_col).isNotNull()
                      & ~F.exists(vec_col, lambda x: x.isNull()))
    idt = _id_type(df, id_col)
    return clean.select(id_col, vec_col).mapInPandas(
        run, schema=f"id {idt}, {out_col} array<double>")
