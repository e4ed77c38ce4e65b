"""Corpus retrieval ops: Okapi BM25 scoring / top-k search.

A training-data pipeline needs lexical retrieval for targeted corpus
queries (find documents about X for curriculum mixing, audit a filter by
pulling the top matches for a probe phrase, nearest-neighbour text lookup
for contamination spot checks). This is the sparse, exact counterpart to
the dense ANN operators in ``pipeline/similarity.py``.

Spark-first shape: one explode of the corpus feeds the postings
(term frequency), document-length and document-frequency aggregates —
all partial-aggregated map-side; the query-term relation is tiny and
broadcast, so scoring touches only postings whose term appears in some
query. No global sort: the final top-k is a per-query window.

Determinism note (shared with every DuckDB oracle in
``__spark_entry__``): the per-(query, doc) score is a sum of per-term
double contributions, and floating-point addition is order-sensitive, so
the sum is folded over the term-sorted contribution array in BOTH
engines instead of relying on aggregation order. That makes scores —
and therefore rankings — bit-identical across engines.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataops_testgen_spark.pipeline.text import tokens
from dataops_testgen_spark.session import materialize


def bm25_topk(df: DataFrame, queries: DataFrame, k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id",
              query_id_col: str = "query_id",
              query_text_col: str = "query_text") -> DataFrame:
    """Top-``k`` documents per query under Okapi BM25 (Robertson et al.,
    TREC-3; the idf is Lucene's non-negative variant
    ``ln(1 + (N - df + 0.5) / (df + 0.5))``).

    ``queries`` is a small DataFrame of (query_id, query_text); duplicate
    terms within one query count once (the standard bag-of-unique-terms
    simplification — no query-term-frequency factor).

    100 TB shape: corpus-side stats are three partial aggs off one
    explode (postings, doc length from the postings, document
    frequency); ``queries`` is broadcast into the postings join so only
    matching postings survive into the scoring joins; the per-query
    top-k is a window partitioned by query_id (≤ |queries| partitions of
    candidate rows, never a global sort). Document length joins back on
    id AFTER the query-term semi-restriction, so the shuffled relation
    is already candidate-only.

    Output: (query_id, id, score, rnk) with score rounded to 5 decimals
    and rnk 1..k by (score DESC, id ASC).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    toks = df.select(F.col(id_col).alias("id"),
                     F.explode(tokens(F.col(text_col))).alias("term"))
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # doc length re-derived from the postings agg (no second corpus scan)
    dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
    qterms = (queries.select(F.col(query_id_col).alias("query_id"),
                             F.explode(tokens(F.col(query_text_col)))
                             .alias("term"))
              .distinct())
    return _bm25_rank(tf, dl, qterms, k, k1, b)


def _bm25_rank(tf: DataFrame, dl: DataFrame, qterms: DataFrame,
               k: int, k1: float, b: float) -> DataFrame:
    """Shared BM25 scorer over a postings relation ``tf`` (id, term, tf)
    and a doc-length relation ``dl`` (id, dl). ``tf`` may be pruned to the
    query terms' partitions (the persisted-index probe path) — document
    frequency stays exact for every query term as long as the pruning
    keeps ALL postings of those terms; ``dl`` must cover the whole corpus
    (it defines n_docs/avgdl)."""
    # exact integer sum, THEN one double division — engine-stable avgdl
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   (F.sum("dl").cast("double")
                    / F.count(F.lit(1))).alias("avgdl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    denom = (F.col("tf")
             + F.lit(k1) * (F.lit(1.0 - b)
                            + F.lit(b) * F.col("dl") / F.col("avgdl")))
    contrib = idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom

    # document frequency only matters for terms some query contains:
    # semi-restrict the (vocab-sized) dfreq relation through the broadcast
    # query terms, leaving a ≤|query-vocabulary| relation that broadcasts
    # into the scoring join — the full vocabulary never shuffles
    qdfreq = dfreq.join(F.broadcast(qterms.select("term").distinct()),
                        "term")
    matched = (tf.join(F.broadcast(qterms), "term")
               .join(F.broadcast(qdfreq), "term")
               .join(dl, "id")
               .crossJoin(F.broadcast(stats))
               .select("query_id", "id", "term", contrib.alias("contrib")))

    # canonical-order sum: fold the term-sorted contribution array so the
    # double sum is bit-identical regardless of aggregation order/engine
    scored = (matched.groupBy("query_id", "id")
              .agg(F.array_sort(F.collect_list(F.struct("term", "contrib")))
                   .alias("parts"))
              .select("query_id", "id",
                      F.aggregate("parts", F.lit(0.0),
                                  lambda acc, p: acc + p["contrib"])
                      .alias("score")))
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(),
                                               F.col("id").asc())
    return (scored.select("query_id", "id", F.col("score"),
                          F.row_number().over(w).alias("rnk"))
            .filter(F.col("rnk") <= k)
            .select("query_id", "id", F.round("score", 5).alias("score"),
                    "rnk"))


# --------------------------------------------------------------------------
# Persisted lexical index — the third member of the cross-run index trio
# (MinHash LSH: dedup.py minhash_index_*; ANN: similarity.py ann_index_*)
# --------------------------------------------------------------------------

def _term_bucket(term: Column, n_buckets: int) -> Column:
    """Stable term → partition bucket (salted-md5 prefix, engine-portable
    like sampling._unit_hash)."""
    return F.pmod(F.conv(F.substring(F.md5(term), 1, 8), 16, 10)
                  .cast("long"), F.lit(n_buckets)).cast("int")


def lexical_index_append(df: DataFrame, index_dir: str,
                         text_col: str = "text", id_col: str = "doc_id",
                         n_buckets: int = 64,
                         batch_id: int | None = None) -> None:
    """Append a corpus increment to a persisted lexical (BM25) index:
    ``<index_dir>/postings`` — (id, term, tf) parquet PARTITIONED BY
    ``term_bucket`` (salted md5 of the term mod ``n_buckets``) — and
    ``<index_dir>/doclen`` — (id, dl).

    Once an increment is indexed, any later search runs against ALL
    history without rescanning (or retaining) the text: a probe's term
    set maps to a handful of buckets, which push down as PARTITION
    filters, so probe I/O is ~|query buckets|/n_buckets of the postings
    regardless of history size — the lexical twin of
    ``ann_index_append``'s ivf_cell pruning. Append each increment
    exactly once (the index is postings, not a log); global stats
    (n_docs, avgdl, df) are NOT frozen at append time — probes recompute
    them exactly from the index, so scores always reflect the full
    indexed corpus.

    Both relations land under a ``batch_id=N`` partition via dynamic
    partition overwrite (io/fs.stamped_append): re-appending the same
    batch replaces its own postings instead of duplicating them (which
    would inflate tf/df/n_docs and corrupt every score), so the
    streaming sink is exactly-once even across its crash windows. The
    bucket partitions stay the FIRST level — probe pruning unchanged."""
    import posixpath

    from dataops_testgen_spark.io.fs import stamped_append

    toks = df.select(F.col(id_col).alias("id"),
                     F.explode(tokens(F.col(text_col))).alias("term"))
    # materialize the tokenize+count pass ONCE: the doclen write would
    # otherwise re-run the full text explode+shuffle that the postings
    # write runs (two corpus passes per append). tf is exactly the
    # postings being persisted — batch-bounded state.
    tf = materialize(
        toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf")),
        eager=True)
    dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
    # resolve the id once (from doclen, the small relation) so both
    # relations stamp alike
    used = stamped_append(dl, posixpath.join(index_dir, "doclen"),
                          batch_id=batch_id)
    stamped_append(
        tf.withColumn("term_bucket", _term_bucket(F.col("term"), n_buckets)),
        posixpath.join(index_dir, "postings"),
        partition_cols=["term_bucket"], batch_id=used)


def bm25_index_topk(spark, queries: DataFrame, index_dir: str,
                    k: int = 10, k1: float = 1.2, b: float = 0.75,
                    n_buckets: int = 64,
                    query_id_col: str = "query_id",
                    query_text_col: str = "query_text") -> DataFrame:
    """Top-``k`` BM25 search over everything ever indexed by
    ``lexical_index_append`` — same scoring (and bit-identical scores,
    shared ``_bm25_rank`` fold) as a one-shot ``bm25_topk`` over the
    union of all appended increments, without touching corpus text.

    Scale shape: the query terms' buckets are computed driver-side from
    the (tiny) query relation and pushed as PARTITION filters into the
    postings scan — only ~|query buckets|/n_buckets of the index is
    read; document frequency stays exact because a bucket holds ALL
    postings of its terms. The doclen relation (one short row per doc)
    is scanned once for exact n_docs/avgdl."""
    import posixpath

    qterms = (queries.select(F.col(query_id_col).alias("query_id"),
                             F.explode(tokens(F.col(query_text_col)))
                             .alias("term"))
              .distinct())
    buckets = sorted({r["b"] for r in qterms.select(
        _term_bucket(F.col("term"), n_buckets).alias("b")).distinct()
        .collect()})
    postings = spark.read.parquet(posixpath.join(index_dir, "postings"))
    if buckets:
        postings = postings.filter(F.col("term_bucket").isin(buckets))
    tf = postings.select("id", "term", "tf")
    dl = spark.read.parquet(posixpath.join(index_dir, "doclen")) \
        .select("id", "dl")
    return _bm25_rank(tf, dl, qterms, k, k1, b)


def lexical_index_compact(spark, index_dir: str,
                          doclen_rows_per_file: int = 1_000_000) -> int:
    """Compact the lexical index after many appends: every
    ``lexical_index_append`` (or ``lexical_index_sink`` micro-batch)
    adds a file set per term bucket, so thousands of increments make
    probes pay the small-files tax (open/footer cost per file) instead
    of scan cost. Rewrites postings to ~one file per bucket and doclen
    to ~``doclen_rows_per_file`` rows per file, each swapped in via the
    shared staged rename (crash leaves old or new intact, never
    neither). History collapses into the reserved ``batch_id=-1``
    partition so the on-disk layout stays identical for later stamped
    appends. Run compaction in a maintenance window with the index's streaming sink STOPPED AND RECOVERED: if a sink crashed between its last append and marker write, compacting before the re-delivered batch replays would fold the unmarked rows into batch_id=-1 and the replay would then re-add them (the one sequence that can still duplicate). Returns the postings data-file count after
    compaction."""
    import posixpath

    from dataops_testgen_spark.io.fs import (COMPACTED_BATCH_ID,
                                             count_data_files,
                                             guard_unresolved_sink_batches,
                                             staged_swap)

    postings_path = posixpath.join(index_dir, "postings")
    guard_unresolved_sink_batches(spark, index_dir, postings_path)
    tmp = postings_path + "__compacting"
    (spark.read.parquet(postings_path)
     .withColumn("batch_id", F.lit(COMPACTED_BATCH_ID))
     .repartition("term_bucket")
     .write.mode("overwrite").partitionBy("term_bucket", "batch_id")
     .parquet(tmp))
    staged_swap(spark, postings_path, tmp)

    doclen_path = posixpath.join(index_dir, "doclen")
    dl = spark.read.parquet(doclen_path) \
        .withColumn("batch_id", F.lit(COMPACTED_BATCH_ID))
    parts = max(1, -(-dl.count() // doclen_rows_per_file))
    tmp_dl = doclen_path + "__compacting"
    (dl.repartition(parts)
       .write.mode("overwrite").partitionBy("batch_id").parquet(tmp_dl))
    staged_swap(spark, doclen_path, tmp_dl)
    return count_data_files(spark, postings_path)


def rrf_fuse(rankings: list[DataFrame], k: int = 10,
             rrf_k: int = 60) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) — the
    standard production recipe for HYBRID retrieval (fuse a lexical
    BM25 ranking with a vector ANN ranking without score calibration):

        rrf(d) = Σ_lists 1 / (rrf_k + rank_d)

    Each input carries (query_id, id, rank); a document absent from a
    list simply contributes nothing (the rank-based form needs no score
    normalization across heterogeneous retrievers — BM25 scores and
    cosines never mix). Returns the top ``k`` per query as
    (query_id, id, rrf_score, rank), ties broken by id ASC.

    Engine-exact determinism: per-(query, doc) contributions fold in
    LIST-INDEX order (array_sort over (src, c) structs + F.aggregate),
    the same canonical-fold trick as BM25's term-sorted sum, so the
    double additions happen in one fixed order in any engine.

    100 TB shape: inputs are already top-k-per-query (candidate
    cardinality); the fuse is one groupBy on (query, doc) plus one
    per-query window — never touches corpus relations."""
    if not rankings:
        raise ValueError("rankings must be non-empty")
    parts = [r.select("query_id", "id", F.lit(i).alias("src"),
                      (F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("rank")))
                      .alias("c"))
             for i, r in enumerate(rankings)]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    scored = (u.groupBy("query_id", "id")
              .agg(F.array_sort(F.collect_list(
                  F.struct(F.col("src"), F.col("c")))).alias("parts"))
              .select("query_id", "id",
                      F.aggregate("parts", F.lit(0.0),
                                  lambda acc, p: acc + p["c"])
                      .alias("rrf_score")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.col("id").asc())
    return (scored.select("*", F.row_number().over(w).alias("rank"))
            .filter(F.col("rank") <= k))
