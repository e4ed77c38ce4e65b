"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Cross-engine determinism trick: every hash function is derived from MD5 of
the value with a seed prefix, and "minimum hash" is the lexicographic minimum
of the hex strings — identical in Spark and any SQL oracle, no custom hash
UDFs, no Python in the hot path.

Scale shape:
- exact: one groupBy (shuffle on the content hash only, not the content).
- minhash LSH: shingle → k seeded min-hashes → b bands; candidates join on
  (band_id, band_hash) buckets — the classic O(n·k) sketch + bucket join, no
  all-pairs.
- ngram jaccard: explode shingles + self-join on shingle, so only pairs that
  SHARE a shingle are generated (still superlinear on hot shingles — use
  minhash_lsh at 100 TB; this is the exact verifier).
- embedding cosine: brute-force pair join for the oracle path; LSH bucketing
  via random hyperplanes for the scale path (see similarity.py).
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataops_testgen_spark.pipeline.text import shingles
from dataops_testgen_spark.session import materialize


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Groups of identical content: (content_hash, dup_ct, doc_ids)."""
    h = F.md5(F.col(text_col))
    return (
        df.groupBy(h.alias("content_hash"))
        .agg(F.count(F.lit(1)).alias("dup_ct"),
             F.array_sort(F.collect_list(id_col)).alias("doc_ids"))
        .filter(F.col("dup_ct") > 1)
    )


def minhash_signature(text: Column, k: int = 3, num_hashes: int = 16) -> Column:
    """Array of ``num_hashes`` min-hashes: element i is
    min(md5(i || shingle)) — a seeded permutation via MD5 prefixing.

    (Expression form, kept for single-column use; the LSH path below computes
    the same hashes via explode + hash-agg so they run in whole-stage codegen
    instead of interpreted higher-order functions — ~5× faster.)"""
    sh = shingles(text, k)
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(sh, lambda s: F.md5(F.concat(i.cast("string"), F.lit("|"), s)))
        ),
    )


def _banded_signatures(df: DataFrame, text_col: str, id_col: str,
                       k: int, num_hashes: int, bands: int):
    """(signatures, banded) for LSH: signatures is one row per doc with
    m0..mN min-hashes (codegen'd explode + MIN aggs, partial map-side);
    banded is one row per (doc, band) with the band bucket hash. Shared by
    the one-shot candidate join and the persisted-index path — identical
    hashing by construction."""
    from dataops_testgen_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(shingles(F.col(text_col), k)).alias("shingle"),
    )
    sig = exploded.groupBy("id").agg(*[
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"m{i}")
        for i in range(num_hashes)
    ]).filter(F.col("m0").isNotNull())
    return sig, _bands_of(sig, num_hashes, bands)


def _bands_of(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Band bucket hashes derived from a signature relation — split out so
    callers that materialize ``sig`` (index append/probe) derive bands from
    the checkpointed rows instead of re-running the text-hash pass."""
    rows_per_band = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.md5(F.concat_ws("|", *[
                F.col(f"m{b * rows_per_band + j}") for j in range(rows_per_band)
            ])).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return sig.select(
        "id", F.explode(F.array(*band_structs)).alias("band")
    ).select("id", "band.band_id", "band.band_hash")


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 3,
                           num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding: docs sharing any band
    bucket. Returns (id_a, id_b) with id_a < id_b, distinct.

    Shape: explode shingles → ``num_hashes`` MIN(md5(seed|shingle)) hash
    aggregates in one codegen'd groupBy — O(n·shingles) map side with partial
    aggregation, one shuffle on doc id. Docs with fewer than ``k`` tokens
    have an all-NULL signature and are dropped before banding — otherwise
    every shingle-less doc shares the md5('') band hash and the band join
    emits them all-pairs (false positives plus an O(n²) blowup on corpora
    with many short/empty docs).
    """
    _sig, banded = _banded_signatures(df, text_col, id_col, k,
                                      num_hashes, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def verified_near_dups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 3,
                       num_hashes: int = 16, bands: int = 4,
                       threshold: float = 0.5,
                       candidates: DataFrame | None = None) -> DataFrame:
    """PRODUCTION two-stage near-duplicate detection: LSH candidate
    generation (``minhash_lsh_candidates``, or any caller-provided
    (id_a, id_b) shortlist — e.g. ``minhash_index_probe`` pairs) followed
    by EXACT k-shingle Jaccard verification computed ONLY on the
    candidate pairs. Returns (id_a, id_b, jaccard) with jaccard >=
    ``threshold``.

    This is the composition that retires ``ngram_jaccard_pairs``'s
    superlinear co-shingle pair expansion at scale: the exact math runs
    per CANDIDATE (two id-equi-joins against the per-doc distinct-shingle
    relation, then one JVM-side ``array_intersect`` per pair — O(|A|+|B|)
    per candidate), so total work is O(candidates · shingles-per-doc)
    instead of O(hottest-shingle²). Recall equals the LSH stage's (a
    pair no band catches is never verified — raise num_hashes/bands for
    recall); precision is EXACT (every emitted jaccard is the true
    set Jaccard, not the minhash estimate)."""
    from dataops_testgen_spark.session import ensure_parallelism

    cand = (candidates.select("id_a", "id_b") if candidates is not None
            else minhash_lsh_candidates(df, text_col, id_col, k,
                                        num_hashes, bands))
    # the per-doc distinct-shingle relation re-tokenizes the corpus; keep
    # it off the small-file scan's 1-2 tasks (no-op at real scale)
    sh = ensure_parallelism(df).select(F.col(id_col).alias("id"),
                   F.array_distinct(shingles(F.col(text_col), k))
                   .alias("sh"))
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (cand.join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b",
                    (inter.cast("double") / union).alias("jaccard"))
            .filter(F.col("jaccard") >= F.lit(float(threshold))))


def minhash_index_append(df: DataFrame, index_dir: str,
                         text_col: str = "text", id_col: str = "doc_id",
                         k: int = 3, num_hashes: int = 16,
                         bands: int = 4, batch_id: int | None = None) -> None:
    """Append a batch's MinHash state to a persisted LSH index:
    ``<index_dir>/signatures`` (one row per doc, m0..mN) and
    ``<index_dir>/bands`` (one row per doc×band with the bucket hash),
    each under a ``batch_id=N`` partition written as a dynamic partition
    OVERWRITE — re-appending the same batch (streaming re-delivery, a
    crashed append retried) replaces its own rows instead of duplicating
    them (io/fs.stamped_append), so the streaming sink is exactly-once.

    The index is the cross-RUN twin of ``minhash_lsh_candidates``: once a
    corpus increment is indexed, later increments dedup against ALL
    history via ``minhash_index_probe`` without ever rescanning (or even
    retaining) the historical text — index size is O(docs × num_hashes)
    hashes, not corpus bytes. Same hashing as the one-shot path by
    construction (shared ``_banded_signatures``)."""
    import posixpath

    from dataops_testgen_spark.io.fs import stamped_append

    sig, _ = _banded_signatures(df, text_col, id_col, k,
                                num_hashes, bands)
    # materialize the signature pass ONCE: the banded write would otherwise
    # re-run the whole text->shingle->minhash aggregation (a second full
    # scan of the batch text). Signatures are O(batch docs x num_hashes)
    # hashes — bounded per-batch state, not corpus bytes.
    sig = materialize(sig, eager=True)
    banded = _bands_of(sig, num_hashes, bands)
    # resolve the id once (from signatures) so both relations stamp alike
    used = stamped_append(sig, posixpath.join(index_dir, "signatures"),
                          batch_id=batch_id)
    stamped_append(banded, posixpath.join(index_dir, "bands"),
                   batch_id=used)


def minhash_index_probe(df: DataFrame, index_dir: str,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 3, num_hashes: int = 16,
                        bands: int = 4) -> DataFrame:
    """Candidate near-duplicate pairs between a NEW batch and everything
    indexed so far, plus within-batch pairs — without touching historical
    text. Returns (id_a, id_b, est_jaccard) with id_a < id_b;
    ``est_jaccard`` is the MinHash estimate (fraction of equal signature
    components), computable purely from stored signatures.

    Scale shape: the batch's band hashes BROADCAST against one pruned
    scan of the persisted band index (no shuffle of the index), so probe
    cost is O(index scan) regardless of batch size skew; the signature
    join for the estimate touches only candidate ids. Probing the full
    history then appending the batch (``minhash_index_append``) yields
    exactly the pairs the one-shot LSH would find on the union corpus —
    pinned by test_minhash_index_incremental_equals_oneshot."""
    import posixpath

    from dataops_testgen_spark.io.fs import path_exists

    spark = df.sparkSession
    sig_new, _ = _banded_signatures(df, text_col, id_col, k,
                                    num_hashes, bands)
    # one text-hash pass for the whole probe: sig_new feeds the broadcast
    # band build, the within-batch join side AND the estimate join — five
    # scans of the batch text without this (measured plan). Batch-bounded
    # state, same rationale as the append side.
    sig_new = materialize(sig_new, eager=True)
    banded_new = _bands_of(sig_new, num_hashes, bands)
    bands_path = posixpath.join(index_dir, "bands")
    sig_path = posixpath.join(index_dir, "signatures")
    # Hadoop-FS existence (not os.path): the index may live on HDFS/S3.
    # Select the canonical columns: the persisted relations carry a
    # batch_id partition column the probe math never needs
    have_index = path_exists(spark, bands_path)
    idx_bands = (spark.read.parquet(bands_path)
                 .select(*banded_new.columns) if have_index
                 else banded_new.limit(0))
    idx_sigs = (spark.read.parquet(sig_path)
                .select(*sig_new.columns) if have_index
                else sig_new.limit(0))

    nb = F.broadcast(banded_new)
    cross = (idx_bands.alias("a").join(
        nb.alias("b"),
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col("a.id") != F.col("b.id"))))
    within = (banded_new.alias("a").join(
        nb.alias("b"),
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col("a.id") < F.col("b.id"))))
    pairs = (cross.union(within)
             .select(F.least("a.id", "b.id").alias("id_a"),
                     F.greatest("a.id", "b.id").alias("id_b"))
             .distinct())

    all_sigs = idx_sigs.unionByName(sig_new).dropDuplicates(["id"])
    eq = [(F.col(f"sa.m{i}") == F.col(f"sb.m{i}")).cast("int")
          for i in range(num_hashes)]
    est = sum(eq[1:], eq[0]) / F.lit(float(num_hashes))
    return (pairs
            .join(all_sigs.alias("sa"), F.col("id_a") == F.col("sa.id"))
            .join(all_sigs.alias("sb"), F.col("id_b") == F.col("sb.id"))
            .select("id_a", "id_b", est.alias("est_jaccard")))


def minhash_index_compact(spark, index_dir: str,
                          rows_per_file: int = 2_000_000) -> int:
    """Compact the MinHash index after many appends — the dedup twin of
    ``ann_index_compact``/``lexical_index_compact``: every append (or
    streaming micro-batch) adds a file set, so thousands of increments
    make probes pay the small-files tax. Rewrites signatures and bands
    to ~``rows_per_file`` rows per file, history collapsed into the
    reserved ``batch_id=-1`` partition (the stamped-append layout stays
    intact for later appends), each swapped in via the shared staged
    rename (crash leaves old or new intact, never neither). Run compaction in a maintenance window with the index's streaming sink STOPPED AND RECOVERED: if a sink crashed between its last append and marker write, compacting before the re-delivered batch replays would fold the unmarked rows into batch_id=-1 and the replay would then re-add them (the one sequence that can still duplicate).
    Returns the total data-file count after compaction."""
    import posixpath

    from dataops_testgen_spark.io.fs import (COMPACTED_BATCH_ID,
                                             count_data_files,
                                             guard_unresolved_sink_batches,
                                             staged_swap)

    guard_unresolved_sink_batches(
        spark, index_dir, posixpath.join(index_dir, "signatures"))
    total = 0
    for rel in ("signatures", "bands"):
        path = posixpath.join(index_dir, rel)
        df = spark.read.parquet(path) \
            .withColumn("batch_id", F.lit(COMPACTED_BATCH_ID))
        parts = max(1, -(-df.count() // rows_per_file))
        tmp = path + "__compacting"
        (df.repartition(parts)
           .write.mode("overwrite").partitionBy("batch_id").parquet(tmp))
        staged_swap(spark, path, tmp)
        total += count_data_files(spark, path)
    return total


def exact_index_append(df: DataFrame, index_dir: str,
                       text_col: str = "text", id_col: str = "doc_id") -> None:
    """Append a batch's content hashes to a persisted EXACT-dedup index —
    the cross-run twin of ``exact_duplicates`` the way
    ``minhash_index_append`` is for the LSH path. The index stores one
    row per NEW distinct md5 (hash + the first batch id that carried it);
    hashes already indexed are not re-appended, so index size is
    O(distinct texts ever seen), never corpus bytes.

    100 TB shape: the batch's distinct hashes broadcast against one scan
    of the index for the already-seen anti-join (same probe shape as
    ``minhash_index_probe``); the index itself is hash-only parquet.

    The append is IDEMPOTENT at row granularity: every index row is one
    distinct hash and the anti-join strips hashes already present, so
    re-appending the same batch adds nothing — and even a crash that
    committed only part of an append converges, because the retry
    anti-joins away the committed rows and appends exactly the missing
    complement (first_id is recomputed identically from the batch). The
    streaming sink's replay marker is therefore a work-saver here, not a
    correctness guard (pinned by test_exact_index_append_idempotent)."""
    import posixpath

    from dataops_testgen_spark.io.fs import path_exists

    spark = df.sparkSession
    batch = (df.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
             .agg(F.min(F.col(id_col)).alias("first_id")))
    path = posixpath.join(index_dir, "hashes")
    if path_exists(spark, path):
        idx = spark.read.parquet(path).select("content_md5")
        batch = batch.join(idx, "content_md5", "left_anti")
    batch.write.mode("append").parquet(path)


def exact_index_probe(df: DataFrame, index_dir: str,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Arrival-order exact dedup of a NEW batch against everything indexed
    so far: a row keeps iff its content hash is not in the index AND it is
    the min-id holder of that hash within the batch (keep-first
    semantics — the cross-run stream analogue of ``exact_duplicates``;
    a later batch never evicts an earlier keeper).

    Returns (id, content_md5, in_index, dup_in_batch, keep). Probing then
    appending each batch in sequence keeps exactly one row per distinct
    text across all batches (pinned by
    test_exact_index_incremental_covers_union).

    Scale shape: within-batch keeper via one groupBy(min) on the hash;
    the history check broadcasts the batch's distinct hashes against one
    pruned index scan — the index never shuffles."""
    import posixpath

    from dataops_testgen_spark.io.fs import path_exists

    spark = df.sparkSession
    hashed = df.select(F.col(id_col).alias("id"),
                       F.md5(F.col(text_col)).alias("content_md5"))
    keeper = hashed.groupBy("content_md5").agg(F.min("id").alias("keep_id"))
    path = posixpath.join(index_dir, "hashes")
    if path_exists(spark, path):
        idx = spark.read.parquet(path).select(
            "content_md5", F.lit(True).alias("in_index"))
        seen = (idx.join(F.broadcast(keeper.select("content_md5")),
                         "content_md5"))
    else:
        seen = spark.createDataFrame([], "content_md5 string, in_index boolean")
    return (hashed.join(keeper, "content_md5")
            .join(seen, "content_md5", "left")
            .select("id", "content_md5",
                    F.coalesce(F.col("in_index"), F.lit(False))
                    .alias("in_index"),
                    (F.col("id") != F.col("keep_id")).alias("dup_in_batch"))
            .withColumn("keep",
                        ~F.col("in_index") & ~F.col("dup_in_batch")))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.5,
                        max_df: int | float | None = None) -> DataFrame:
    """Exact Jaccard similarity over word k-shingle SETS, computed by
    exploding shingles and self-joining on shingle (only co-shingled pairs
    materialize). Returns (id_a, id_b, jaccard≥threshold).

    ``max_df`` bounds the hot-shingle fan-out: shingles present in more than
    max_df documents (a fraction < 1 means that share of the corpus, floored
    at 16 docs) are dropped from BOTH the intersection and the set sizes —
    Jaccard over the non-ubiquitous shingles. Ubiquitous shingles are
    boilerplate that contributes no discriminative signal but k²/2 pair
    expansion; capping makes the worst-case pair count
    O(corpus · max_df) instead of O(hottest-shingle²). Default None keeps
    the exact semantics (minhash_lsh is the unbounded-scale path)."""
    from dataops_testgen_spark.session import ensure_parallelism

    sh = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles(F.col(text_col), k)).alias("sh"))
    exploded = sh.select("id", F.explode("sh").alias("shingle"))
    # Per-shingle doc lists + map-side pair expansion: two shuffles (shingle,
    # pair) instead of the three a self-join needs, and the shingle strings
    # never travel twice.
    if max_df is not None:
        freq = exploded.groupBy("shingle").agg(
            F.array_sort(F.collect_set("id")).alias("ids"))
        if isinstance(max_df, float) and max_df < 1:
            # resolve the fractional cap declaratively: broadcast the 1-row
            # corpus count into the filter instead of a separate pre-scan
            # count() job (same semantics: max(16, floor(frac * ndocs)))
            ndocs = sh.agg(F.count(F.lit(1)).alias("__ndocs__"))
            kept = (freq.crossJoin(F.broadcast(ndocs))
                    .filter(F.size("ids") <= F.greatest(
                        F.lit(16),
                        F.floor(F.lit(max_df) * F.col("__ndocs__"))))
                    .drop("__ndocs__"))
        else:
            kept = freq.filter(F.size("ids") <= F.lit(int(max_df)))
        sizes = (kept.select(F.explode("ids").alias("id"))
                 .groupBy("id").agg(F.count(F.lit(1)).alias("n_sh")))
        ids_per_shingle = kept.filter(F.size("ids") > 1)
    else:
        sizes = sh.select("id", F.size("sh").alias("n_sh"))
        ids_per_shingle = (
            exploded.groupBy("shingle")
            .agg(F.array_sort(F.collect_set("id")).alias("ids"))
            .filter(F.size("ids") > 1)
        )
    n = F.size("ids")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.transform(
                F.slice(F.col("ids"), i + 2, n),
                lambda j: F.struct(F.get(F.col("ids"), i).alias("id_a"),
                                   j.alias("id_b")),
            ),
        )
    )
    common = (
        ids_per_shingle.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b",
                (F.col("common")
                 / (F.col("n_a") + F.col("n_b") - F.col("common"))).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def duplicate_substring_spans(df: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id",
                              k: int = 50) -> DataFrame:
    """Exact duplicate-substring detection — the ExactSubstr screen of
    Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    Better", the 50-token suffix-array pass), re-expressed as a k-gram
    hash join instead of a monolithic suffix array: any k-token window
    whose content occurs MORE THAN ONCE corpus-wide (same doc or cross-
    doc) marks its positions as duplicated, and overlapping/adjacent
    duplicated windows per document merge into maximal spans. A writer
    can cut the reported spans exactly like the paper's pipeline.

    100 TB shape: one narrow pass builds each doc's k-gram md5 array in
    place (the shared-subexpression form of ``shingles``), posexplode is
    the only data-plane expansion (one row per token position, ~32 B
    each), and duplicate detection is ONE shuffle by hash with a window
    count over each hash group — a single lineage, deliberately NOT the
    groupBy+self-join-back formulation (two scans of the explode and an
    AQE-broadcast self-join that showed cold-session result instability
    in testing). A hash group's size equals a substring's corpus-wide
    multiplicity, so per-group work is bounded by the worst duplication
    depth, not corpus size. Span merging is a per-document window
    (partitioned by id, never global): cummax interval merge, group flag
    prefix-sum, min/max per group.

    Output: (id, span_start, span_end — token offsets [start, end),
    span_tokens, n_windows — duplicated k-gram windows merged into the
    span). Docs shorter than ``k`` tokens never report.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    from dataops_testgen_spark.session import ensure_parallelism

    # the k-gram md5 explode is the compute (one hash per token position);
    # a small-file scan would pin it to 1-2 tasks (no-op at real scale)
    df = ensure_parallelism(df)
    grams = F.transform(shingles(F.col(text_col), k), F.md5)
    pos = (df.select(F.col(id_col).alias("id"), grams.alias("__g__"))
           .filter(F.size("__g__") > 0)
           .select("id", F.posexplode("__g__").alias("start", "h")))
    occ = F.count(F.lit(1)).over(Window.partitionBy("h"))
    hits = (pos.select("id", "start", occ.alias("__occ__"))
            .filter(F.col("__occ__") > 1)
            .select("id", "start"))
    # per-doc interval merge of [start, start+k): a window opens a new
    # span when it starts beyond the running max end of everything before
    w = Window.partitionBy("id").orderBy("start")
    prev_max_end = F.max(F.col("start") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = hits.select(
        "id", "start",
        F.when(prev_max_end.isNull() | (F.col("start") > prev_max_end),
               F.lit(1)).otherwise(F.lit(0)).alias("__new__"))
    grouped = flagged.select(
        "id", "start",
        F.sum("__new__").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).alias("__grp__"))
    return (grouped.groupBy("id", "__grp__")
            .agg(F.min("start").alias("span_start"),
                 (F.max("start") + k).alias("span_end"),
                 F.count(F.lit(1)).alias("n_windows"))
            .select("id",
                    F.col("span_start").cast("long"),
                    F.col("span_end").cast("long"),
                    (F.col("span_end") - F.col("span_start"))
                    .cast("long").alias("span_tokens"),
                    F.col("n_windows").cast("long")))


def ngram_contamination(corpus: DataFrame, benchmark: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 8,
                        broadcast_benchmark: bool = True) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    k-gram with an evaluation/benchmark set (the standard train-test-overlap
    screen — GPT-3 used 13-grams, PaLM/Llama 8–10; ``k`` is the dial).

    Plan shape for 100 TB: the benchmark side is tiny (eval suites are
    thousands of documents), so its DISTINCT shingle set is broadcast and
    the corpus-side explode joins map-side — no shuffle of corpus shingles
    at all; the only exchange is the per-document groupBy of matched
    shingles, whose input is just the HITS (normally a vanishing fraction).
    Set ``broadcast_benchmark=False`` for a giant benchmark side to fall
    back to a shuffled equi-join.

    Returns one row per CONTAMINATED corpus doc: (id, n_contaminated_ngrams
    — distinct shingles shared, n_benchmark_docs — distinct benchmark docs
    hit, sample_ngram — lexicographically first shared shingle for triage).
    """
    from dataops_testgen_spark.session import ensure_parallelism

    # corpus-side shingling + the broadcast probe is the compute-bound
    # stage; keep it off the 1-2 tasks a small-file scan yields (no-op at
    # real scale, where the corpus scan is already wide)
    c_sh = ensure_parallelism(corpus).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(F.col(text_col), k)))
        .alias("shingle"))
    b_sh = (benchmark.select(
        F.col(id_col).alias("bench_id"),
        F.explode(F.array_distinct(shingles(F.col(text_col), k)))
        .alias("shingle"))
        .distinct())
    if broadcast_benchmark:
        b_sh = F.broadcast(b_sh)
    return (c_sh.join(b_sh, "shingle")
            .groupBy("id")
            .agg(F.countDistinct("shingle").alias("n_contaminated_ngrams"),
                 F.countDistinct("bench_id").alias("n_benchmark_docs"),
                 F.min("shingle").alias("sample_ngram")))


def boilerplate_line_dedup(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           max_occurrences: int = 1) -> DataFrame:
    """C4-style global boilerplate removal (Raffel et al. 2020 deduplicate
    repeated three-sentence spans corpus-wide; the unit here is the LINE):
    any trimmed non-empty line appearing in more than ``max_occurrences``
    DISTINCT documents is dropped from ALL of them; each document is
    reassembled in original line order.

    100 TB shape: posexplode lines (narrow), ONE groupBy(line) partial-agg
    for corpus-wide document counts, an equi-join back, and one
    groupBy(id) sorted-collect to reassemble — the heavy relation is
    (id, pos, line), the corpus's own size, shuffled twice (by line, by
    id); hot boilerplate lines are exactly the skewed keys, but they only
    feed a count (map-side combined), never a pair expansion.

    Output: (id, n_lines, n_dropped, cleaned_md5) — md5 of the rejoined
    cleaned text keeps the result metadata-sized; documents whose every
    line is boilerplate hash the empty string."""
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.filter(
            F.transform(F.split(F.col(text_col), r"\n"), F.trim),
            lambda ln: ln != "")).alias("pos", "line"))
    freq = lines.groupBy("line").agg(F.countDistinct("id").alias("n_docs"))
    marked = lines.join(freq, "line")
    keep = F.col("n_docs") <= max_occurrences
    return marked.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum((~keep).cast("long")).alias("n_dropped"),
        F.md5(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(keep, F.struct("pos", "line")))),
                lambda s: s["line"]),
            "\n")).alias("cleaned_md5"))


def simhash(text: Column, k: int = 3, bits: int = 32) -> Column:
    """SimHash over word k-shingles: per-bit majority vote of shingle hashes.
    Bit i of each shingle comes from ``conv(substr(md5, ...), 16, 10)``; the
    result is a ``bits``-wide integer column."""
    sh = shingles(text, k)
    # 8 hex chars -> 32 bits of the md5; vote per bit
    h = lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")  # noqa: E731

    def bit_vote(i: int):
        mask = F.lit(1 << i)
        return F.size(F.filter(sh, lambda s: h(s).bitwiseAND(mask) > 0))

    votes = [bit_vote(i) for i in range(bits)]
    n = F.size(sh)
    out = F.lit(0).cast("long")
    for i, v in enumerate(votes):
        out = out + F.when(v * 2 > n, F.lit(1 << i)).otherwise(F.lit(0)).cast("long")
    return out


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 3,
                       bits: int = 32) -> DataFrame:
    """SimHash signatures via explode + ONE md5 per (doc, shingle) + codegen
    bit-vote aggregation. The expression form (``simhash``) recomputes the
    md5 inside every per-bit F.filter lambda — 32× per shingle and outside
    whole-stage codegen (216s at sf0.1 vs ~2s for this shape). Shingle-less
    docs keep signature 0 via explode_outer, matching the expression form."""
    from dataops_testgen_spark.session import ensure_parallelism

    # one md5+conv per (doc, shingle) is the compute; spread it before the
    # explode instead of running on the scan's 1-2 small-file tasks
    df = ensure_parallelism(df)
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(shingles(F.col(text_col), k)).alias("shingle"))
    h = F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
    hashed = exploded.select("id", h.alias("h"))
    votes = hashed.groupBy("id").agg(
        F.count(F.col("h")).alias("n"),
        *[F.sum(F.when(F.col("h").bitwiseAND(F.lit(1 << i)) > 0, 1)
                .otherwise(0)).alias(f"v{i}") for i in range(bits)])
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + F.when(F.col(f"v{i}") * 2 > F.col("n"),
                           F.lit(1 << i)).otherwise(F.lit(0)).cast("long")
    return votes.select("id", sig.alias("sig"))


def simhash_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  k: int = 3, bits: int = 32, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming, blocked on
    ``max_hamming + 1`` bit-slices of the signature (Manku et al., WWW'07):
    a pair within hamming distance d flips bits in at most d slices, so by
    pigeonhole at least one of the d+1 slices is bit-identical — the
    slice-equality join therefore has FULL recall, and the final
    ``bit_count(xor)`` filter restores exactness. (Two halves, the naive
    choice, silently drop hamming-2/3 pairs with flips in both halves.)"""
    # materialize the (id, sig) relation once: the self-join below would
    # otherwise re-derive the whole shingle->md5->vote pipeline for BOTH
    # sides (2x the corpus scan — measured ~5s -> ~2.5s on sf0.1). 16
    # bytes/doc, same tradeoff as the edge list in duplicate_clusters.
    sig = materialize(simhash_signatures(df, text_col, id_col, k, bits),
                      eager=True)
    num_blocks = max_hamming + 1
    if num_blocks > bits:
        raise ValueError(f"max_hamming={max_hamming} needs {num_blocks} blocks "
                         f"but signature has only {bits} bits")
    base, extra = divmod(bits, num_blocks)
    block_cols, start = [], 0
    for j in range(num_blocks):
        width = base + (1 if j < extra else 0)
        mask = (1 << width) - 1
        block_cols.append(F.concat(
            F.lit(f"{j}|"),
            F.shiftright(F.col("sig"), start).bitwiseAND(F.lit(mask)).cast("string")))
        start += width
    blocked = sig.select(
        "id", "sig", F.explode(F.array(*block_cols)).alias("block"))
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = (
        a.join(b, (F.col("a.block") == F.col("b.block")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"))
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")) \
                .filter(F.col("hamming") <= max_hamming)


# Broadcasting the normalized matrix to every executor is the fast path for
# dimension tables and samples; past this many bytes (N·D·8) the driver
# collect would OOM, so the LSH-bucketed pair join takes over automatically.
MAX_BROADCAST_MATRIX_BYTES = 256 << 20


def lsh_cosine_pairs(df: DataFrame, vec_col: str = "embedding",
                     id_col: str = "vec_id", threshold: float = 0.95,
                     num_planes: int = 6, num_tables: int = 4) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold — the 100 TB
    path: random-hyperplane LSH buckets per hash table, candidate pairs from
    plain equi-joins on bucket id (shuffle on bucket, never all-pairs, never
    a driver collect), unioned across ``num_tables`` independent tables and
    deduped, then scored with the expression cosine. Approximate: a pair is
    missed only if it collides in NO table — P(miss) ≈
    (1−(1−θ/π)^planes)^tables, geometric in num_tables."""
    from dataops_testgen_spark.pipeline.similarity import cosine, lsh_assign

    dim_row = df.select(F.size(vec_col)).first()
    n_dims = dim_row[0] if dim_row else 0
    cand = None
    for t in range(num_tables):
        assigned = lsh_assign(df, n_dims, num_planes, table_id=t,
                              vec_col=vec_col)
        a = assigned.select(F.col(id_col).alias("id_a"), "lsh_bucket")
        b = assigned.select(F.col(id_col).alias("id_b"), "lsh_bucket")
        pairs = (a.join(b, "lsh_bucket")
                 .filter(F.col("id_a") < F.col("id_b"))
                 .select("id_a", "id_b"))
        cand = pairs if cand is None else cand.unionByName(pairs)
    cand = cand.distinct()
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (cand.join(va, "id_a").join(vb, "id_b")
            .select("id_a", "id_b",
                    cosine(F.col("va"), F.col("vb")).alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def embedding_cosine_pairs(df: DataFrame, vec_col: str = "embedding",
                           id_col: str = "vec_id",
                           threshold: float = 0.95,
                           max_broadcast_bytes: int = MAX_BROADCAST_MATRIX_BYTES) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold — exact.

    Broadcast-matrix design: the normalized embedding matrix is broadcast to
    executors (N×D doubles); each partition computes its rows' similarities
    against the whole matrix with one numpy matmul via Arrow-batched
    mapInPandas. ~50× the per-pair expression join it replaces.

    Size-based dispatch: when N·D·8 bytes exceeds ``max_broadcast_bytes``
    the driver collect would OOM, so the call transparently falls back to
    ``lsh_cosine_pairs`` (bucketed joins, no collect) — the default path
    can never pull an unbounded matrix onto the driver.
    """
    from dataops_testgen_spark.pipeline.similarity import (_id_type,
                                                           collect_normalized)
    from dataops_testgen_spark.session import ensure_parallelism

    # one fused metadata job for the size dispatch (was two: count + first)
    size_row = df.agg(F.count(F.lit(1)),
                      F.max(F.size(vec_col))).first()
    n, dim = size_row[0], (size_row[1] or 0)
    if n * dim * 8 > max_broadcast_bytes:
        return lsh_cosine_pairs(df, vec_col=vec_col, id_col=id_col,
                                threshold=threshold)

    spark = df.sparkSession
    ids, matrix = collect_normalized(df, id_col, vec_col)
    bc = spark.sparkContext.broadcast((ids, matrix))

    def compute(batches):
        import numpy as np
        import pandas as pd

        all_ids, all_m = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            b = np.array([np.asarray(v, dtype=float) for v in pdf[vec_col]])
            norms = np.linalg.norm(b, axis=1)
            norms[norms == 0] = np.nan
            bn = b / norms[:, None]
            sims = bn @ all_m.T
            bids = pdf[id_col].to_numpy()
            rows, cols = np.nonzero(
                (sims >= threshold) & (all_ids[None, :] > bids[:, None]))
            yield pd.DataFrame({
                "id_a": bids[rows], "id_b": all_ids[cols],
                "cosine": sims[rows, cols],
            })

    idt = _id_type(df, id_col)
    # the per-partition matmul is the compute; spread it off the 1-2 tasks
    # a small-file scan yields (no-op at real scale)
    return ensure_parallelism(df.select(id_col, vec_col)).mapInPandas(
        compute, schema=f"id_a {idt}, id_b {idt}, cosine double")


def duplicate_clusters(pairs: DataFrame, id_a: str = "id_a",
                       id_b: str = "id_b",
                       max_iterations: int = 20) -> DataFrame:
    """Connected components over a near-duplicate pair list →
    (doc_id, cluster_id, cluster_size), cluster_id = min doc id in the
    component (the canonical "representative document" for keep-one dedup).

    Min-label propagation: each round every node takes the smallest label
    among itself and its neighbours — one hash join + one partial-aggregated
    groupBy per round, converging in O(component diameter) rounds (near-dup
    clusters are shallow: text variants of one source, so diameter is small
    even at corpus scale).  The label frontier holds only nodes that APPEAR
    in a pair — typically a tiny fraction of the corpus — and is
    localCheckpoint'ed each round so the loop's lineage (and Catalyst plan)
    stays constant-size.  Convergence is detected by the monotone
    sum-of-labels invariant: one scalar agg per round, no driver-side
    row data.
    """
    # checkpoint the symmetric edge list FIRST: every propagation round
    # joins against it, and an unbroken lineage would re-derive the pair
    # source (e.g. the whole MinHash shingle/band pipeline) once per round
    edges = materialize(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"),
                            F.col(id_a).alias("dst"))), eager=True)
    labels = materialize(
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id")), eager=True)
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    converged = False
    for _ in range(max_iterations):
        nbr_min = (edges.join(labels, edges["src"] == labels["id"])
                   .groupBy(edges["dst"].alias("nid"))
                   .agg(F.min("label").alias("nbr_label")))
        labels = materialize(
            labels.join(nbr_min, labels["id"] == nbr_min["nid"], "left")
            .select(labels["id"],
                    F.least(labels["label"],
                            F.coalesce(F.col("nbr_label"),
                                       labels["label"])).alias("label")),
            eager=True)
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # min-label propagation advances one hop per round, so a component
        # whose diameter exceeds max_iterations would silently come back
        # split into several partial clusters — surface that loudly
        warnings.warn(
            f"duplicate_clusters: label propagation still changing after "
            f"{max_iterations} rounds — a component's diameter exceeds the "
            f"iteration budget and clusters may be partially merged; raise "
            f"max_iterations",
            RuntimeWarning, stacklevel=2)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (labels.join(sizes, "label")
            .select(F.col("id").alias("doc_id"),
                    F.col("label").alias("cluster_id"), "cluster_size"))


def dedup_keep_one(df: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id",
                   broadcast_max_bytes: int = 256 * 1024 * 1024) -> DataFrame:
    """The end-to-end corpus dedup: given near-dup pairs, keep one
    representative per duplicate cluster (the min doc id) and every
    untouched document.

    Shape: duplicate_clusters works on the pair-member frontier only; the
    final filter is ONE left-anti join against the drop list. The join is
    size-dispatched: a high-duplication corpus (20-50% dups is common at
    100 TB) has a drop list far beyond broadcast limits, so the broadcast
    hint is applied only when the measured drop count fits under
    ``broadcast_max_bytes`` (~32 B/id incl. row overhead); above that the
    join shuffles both sides on the id — still one corpus scan, and the
    drop side is ids only, never content.  Counting the drop list is a
    metadata-plane job: clusters derive from the localCheckpoint'ed label
    frontier, not the corpus.
    """
    clusters = duplicate_clusters(pairs)
    drop = materialize(
        clusters.filter(F.col("doc_id") != F.col("cluster_id"))
        .select(F.col("doc_id").alias("__drop_id__")), eager=True)
    if drop.count() * 32 <= broadcast_max_bytes:
        drop = F.broadcast(drop)
    return df.join(drop, df[id_col] == F.col("__drop_id__"), "left_anti")
