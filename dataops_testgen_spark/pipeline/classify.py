"""Model-based document classification: multinomial Naive Bayes.

The standard LLM-data-pipeline quality/language gate is a tiny linear
text classifier trained on labeled seed data and applied to the whole
corpus (CCNet's fastText language filter; the "quality classifier"
filtering in GPT-3 / LLaMA data work — train on a trusted positive set,
score everything, keep high scorers). Multinomial Naive Bayes is the
closed-form member of that family: training is nothing but token
counts, so it distributes as two partial aggregations, and scoring is a
per-token log-probability sum — exactly re-derivable in audit SQL.

Spark-first shape:

- ``nb_train``: ONE explode of the labeled seed feeds both count aggs
  (per-(label, term) and per-label totals); doc priors are a second
  metadata-sized agg. The returned model is two small DataFrames
  (observed (label, term) log-probs + per-label priors/unseen mass) —
  vocab x labels rows, broadcastable by construction; an optional
  ``max_vocab`` keeps only the most frequent terms (plans as
  TakeOrderedAndProject, no global sort) so the model stays
  broadcast-sized on open-domain corpora.
- ``nb_score`` / ``nb_predict``: the corpus explodes once into
  (id, term, tf) postings, is semi-restricted by the BROADCAST vocab
  (out-of-vocabulary terms drop out, the standard NB convention), and
  each surviving posting meets the broadcast model; the only shuffle is
  the per-(id, label) score fold. Docs with no in-vocab token still get
  prior-only scores via an anti-join union.

Determinism (shared with every DuckDB oracle in ``__spark_entry__``):
log-prob arguments are ratios of exact integer counts, computed with
the same double ops in both engines; the per-(doc, label) score seeds
the fold with the label's log-prior and folds contributions in TERM
order, so double sums are bit-identical across engines (same trick as
``pipeline/retrieval.py`` BM25).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataops_testgen_spark.pipeline.text import tokens
from dataops_testgen_spark.session import materialize


def nb_train(df: DataFrame, text_col: str = "text",
             label_col: str = "label", alpha: float = 1.0,
             max_vocab: int | None = None) -> tuple[DataFrame, DataFrame]:
    """Train multinomial NB with Laplace smoothing ``alpha`` on labeled
    text; returns ``(cond, priors)``:

    - ``cond``  — (label, term, log_cond) for every OBSERVED pair:
      ``ln((c(term,label) + alpha) / (T(label) + alpha*V))``.
    - ``priors``— (label, log_prior, log_unseen) where ``log_prior =
      ln(n_docs(label)/N)`` and ``log_unseen`` is the smoothed mass of
      an in-vocab term never seen with that label.

    ``max_vocab`` caps the vocabulary to the most frequent terms by
    corpus count (ties broken by term) — the cap both bounds the
    broadcast and is the usual feature-selection step.
    """
    if alpha <= 0.0:
        raise ValueError("alpha must be > 0")
    labeled = df.select(F.col(label_col).alias("label"),
                        tokens(F.col(text_col)).alias("toks"))
    posting = (labeled.select("label", F.explode("toks").alias("term"))
               .groupBy("label", "term")
               .agg(F.count(F.lit(1)).alias("c")))
    if max_vocab is not None:
        if max_vocab < 1:
            raise ValueError("max_vocab must be >= 1")
        # most frequent terms overall; orderBy+limit plans as
        # TakeOrderedAndProject (cf. text.py unigram_logprob_score)
        keep = (posting.groupBy("term").agg(F.sum("c").alias("n"))
                .orderBy(F.col("n").desc(), F.col("term"))
                .limit(max_vocab).select("term"))
        posting = posting.join(F.broadcast(keep), "term")
    # materialize the posting fold ONCE: vocab_ct and the cond relation
    # would otherwise each re-run the train explode+shuffle (model-sized
    # state — (label, term, c) rows over the capped vocabulary)
    posting = materialize(posting, eager=True)
    vocab_ct = posting.select("term").distinct().count()
    # per-label token mass over the (possibly capped) vocabulary
    totals = posting.groupBy("label").agg(F.sum("c").alias("t"))
    denom = F.col("t").cast("double") + F.lit(alpha) * F.lit(float(vocab_ct))
    cond = (posting.join(F.broadcast(totals), "label")
            .select("label", "term",
                    F.log((F.col("c").cast("double") + F.lit(alpha))
                          / denom).alias("log_cond")))
    # one scan for the priors: per-label doc counts, n_docs = their sum
    # (was a dedicated df.count() job + a second scan for the groupBy)
    label_counts = materialize(
        df.groupBy(F.col(label_col).alias("label"))
        .agg(F.count(F.lit(1)).alias("n")), eager=True)
    n_docs = label_counts.agg(F.sum("n")).first()[0] or 0
    if n_docs == 0:
        raise ValueError("training DataFrame is empty")
    # LEFT join + zero-coalesce: a label whose seed docs carry no tokens
    # (all empty/whitespace) still exists — it must keep its prior and a
    # smoothed unseen mass, exactly like the textbook formulation
    priors = (label_counts
              .join(F.broadcast(totals), "label", "left")
              .withColumn("t", F.coalesce("t", F.lit(0)))
              .select("label",
                      F.log(F.col("n").cast("double")
                            / F.lit(float(n_docs))).alias("log_prior"),
                      F.log(F.lit(alpha) / denom).alias("log_unseen")))
    return cond, priors


def nb_score(df: DataFrame, cond: DataFrame, priors: DataFrame,
             text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-(doc, label) log-posterior scores (up to the shared evidence
    constant): (id, label, score). OOV terms are ignored; docs with no
    in-vocab token score on priors alone."""
    postings = (df.select(F.col(id_col).alias("id"),
                          F.explode(tokens(F.col(text_col))).alias("term"))
                .groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf")))
    vocab = cond.select("term").distinct()
    cand = (postings.join(F.broadcast(vocab), "term")
            .crossJoin(F.broadcast(priors))
            .join(F.broadcast(cond), ["term", "label"], "left")
            .select("id", "label", "term", "log_prior",
                    (F.col("tf").cast("double")
                     * F.coalesce("log_cond", "log_unseen"))
                    .alias("contrib")))
    # canonical-order fold seeded with the prior (bit-stable across engines)
    scored = (cand.groupBy("id", "label", "log_prior")
              .agg(F.array_sort(F.collect_list(F.struct("term", "contrib")))
                   .alias("parts"))
              .select("id", "label",
                      F.aggregate("parts", F.col("log_prior"),
                                  lambda acc, p: acc + p["contrib"])
                      .alias("score")))
    # docs whose every token is OOV: prior-only rows (anti-join is tiny)
    missing = (df.select(F.col(id_col).alias("id"))
               .join(scored.select("id").distinct(), "id", "left_anti")
               .crossJoin(F.broadcast(priors))
               .select("id", "label", F.col("log_prior").alias("score")))
    return scored.unionByName(missing)


def nb_predict(df: DataFrame, cond: DataFrame, priors: DataFrame,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Argmax label per document: (id, label, score); ties break to the
    alphabetically first label (engine-stable)."""
    scored = nb_score(df, cond, priors, text_col=text_col, id_col=id_col)
    w = Window.partitionBy("id").orderBy(F.col("score").desc(),
                                         F.col("label").asc())
    return (scored.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1).drop("__rn__"))


# ---------------------------------------------------------------------------
# Logistic regression over hashed n-gram features — the trained-classifier
# half of the quality-gate family (NB above is the closed-form half).
# ---------------------------------------------------------------------------

def lr_hash_features(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n_buckets: int = 512,
                     salt: str = "lr") -> DataFrame:
    """(id, f, v): L1-normalized hashed unigram+bigram counts plus a bias
    feature (f = -1, v = 1) per document — the fastText-style feature map
    (Joulin et al. 2017) on the engine-portable salted-md5 buckets DSIR
    already uses (``sampling._hashed_grams``), so the same grams land in
    the same buckets in the audit SQL. Documents with no tokens produce
    no rows (nothing to featurize)."""
    from dataops_testgen_spark.pipeline.sampling import _hashed_grams

    occ = _hashed_grams(df, text_col, id_col, n_buckets, salt)
    counts = (occ.groupBy("id", F.col("bucket").alias("f"))
              .agg(F.count(F.lit(1)).cast("double").alias("ct")))
    totals = counts.groupBy("id").agg(F.sum("ct").alias("t"))
    feats = (counts.join(totals, "id")
             .select("id", "f", (F.col("ct") / F.col("t")).alias("v")))
    bias = totals.select("id", F.lit(-1).cast("long").alias("f"),
                         F.lit(1.0).alias("v"))
    return feats.unionByName(bias)


def _weights_df(spark, weights: dict[int, float]) -> DataFrame:
    return spark.createDataFrame(
        [(int(f), float(x)) for f, x in weights.items()],
        "f long, w double")


def lr_train(feats: DataFrame, labels: DataFrame, n_iters: int = 10,
             damping: float = 0.003, learning_rate: float = 1.0,
             round_decimals: int = 9) -> dict[int, float]:
    """Distributed logistic regression by damped DIAGONAL-Newton descent
    (Jacobi-preconditioned full-batch steps), DETERMINISTIC — the
    trainable sibling of ``nb_train`` and the third member of the
    oracle-able-trainer family (``bpe_train``, ``similarity.
    kmeans_train``): fixed iteration count, zero-init weights, and a
    ROUND(w, ``round_decimals``) firewall after every update so float
    summation order (Spark partitioning vs audit SQL, libm exp last-ulp
    drift) cannot leak into the next iteration.

    This is the classifier-distillation shape LLM data pipelines deploy
    (CCNet / GPT-3 / LLaMA quality+language gates): a cheap linear model
    trained to imitate a label, then run over the whole corpus.

    Why not plain GD: the bias column (v=1) and the L1-normalized text
    features (v ~ 1/grams) differ by ~2 orders of magnitude in scale, so
    any single learning rate either oscillates on the bias or crawls on
    the text features (measured: 500+ GD steps to fit what 10 Newton
    steps fit). The diagonal Hessian h_f = sum(v^2 p(1-p))/N fixes the
    scale per feature; ``damping`` is the ridge on that diagonal keeping
    rare-feature steps bounded (too small and separable rare features
    blow up — 0.003 is stable on L1-normalized gram features).

    ``feats``: (id, f, v) from ``lr_hash_features``; ``labels``: (id, y)
    with y in {0.0, 1.0}. Only labeled docs WITH features train. Per
    iteration: margins = one partial-agg groupBy(id) over the feature
    rows; gradient AND diagonal Hessian = one partial-agg groupBy(f) —
    two model-bounded shuffles — and ONE collect of at most n_buckets+1
    (f, g, h) rows: parameters, not data, the same contract as
    kmeans_train's centroid collect. The joined (feats x labels)
    relation persists across iterations so the source scans once."""
    spark = feats.sparkSession
    # hash-partition the train relation by id ONCE: every iteration's
    # margin agg (groupBy id) and resid join (on id) then reuse that
    # partitioning with no further data exchange — the only
    # per-iteration shuffle carries the model-bounded (f, g, h) partials.
    # localCheckpoint (r13, guide §5/§3.3 "materialise an intermediate to
    # truncate the plan") rather than persist: persist keeps the FULL
    # feature-derivation lineage (explode + 2 groupBys + join + union) in
    # every iteration's logical plan, so Catalyst re-analyzed/optimized
    # that subtree once per iteration plus once for n_train — measured
    # ~0.5-1 s of driver time per iteration at any data size. The
    # checkpoint truncates it to a leaf; per-iteration plans are then
    # model-shaped. Data/results identical: the same materialized rows
    # feed every iteration either way.
    # NULL labels are dropped, not trained on: a NULL y would silently
    # skew every step (its residual falls out of the gradient sum while
    # its pq still inflates the Hessian and n_train)
    base = materialize(
        feats.join(labels.select("id", F.col("y").cast("double").alias("y"))
                   .filter(F.col("y").isNotNull()), "id")
        .repartition("id"), eager=True)
    try:
        n_train = base.select("id").distinct().count()
        if n_train == 0:
            raise ValueError("no labeled documents with features")
        w: dict[int, float] = {}
        for _ in range(n_iters):
            wdf = _weights_df(spark, w)
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m")))
            resid = (base.join(F.broadcast(wdf), "f", "left")
                     .groupBy("id", "y")
                     .agg(F.sum(F.col("v")
                                * F.coalesce("w", F.lit(0.0))).alias("m"))
                     .select("id", (p - F.col("y")).alias("r"),
                             (p * (F.lit(1.0) - p)).alias("pq")))
            n = F.lit(float(n_train))
            step = (base.join(resid, "id")
                    .groupBy("f")
                    .agg((F.sum(F.col("v") * F.col("r")) / n).alias("g"),
                         (F.sum(F.col("v") * F.col("v") * F.col("pq"))
                          / n).alias("h"))
                    .collect())
            for row in step:
                f = int(row["f"])
                # rounding firewall: absorbs sum-order / libm last-ulp
                # drift so the oracle's replayed iterations stay in
                # lockstep. Known, accepted tie-break difference: Python
                # round() (and the kmeans trainers' np.round) are
                # half-to-even while DuckDB ROUND is half-away-from-zero
                # — an EXACT .5 tie at the 9th decimal of a computed
                # double would diverge. Probability is negligible on
                # doubles produced by sums/exp (a tie requires the
                # trailing mantissa bits to encode exactly ...5e-9);
                # one convention stated here for all trainers.
                w[f] = round(w.get(f, 0.0) - learning_rate * row["g"]
                             / (row["h"] + damping), round_decimals)
        return w
    finally:
        # localCheckpoint blocks release via the ContextCleaner when the
        # RDD is unreferenced; unpersist() here is best-effort (a no-op
        # for the checkpoint cache itself, kept for the plan-cache entry)
        base.unpersist()


def lr_score(feats: DataFrame, weights: dict[int, float]) -> DataFrame:
    """(id, margin, p): sigmoid scores for every document with features,
    against a trained weight dict (broadcast join — the model is bucket-
    bounded by construction). Unweighted features contribute 0."""
    spark = feats.sparkSession
    wdf = _weights_df(spark, weights)
    return (feats.join(F.broadcast(wdf), "f", "left")
            .groupBy("id")
            .agg(F.sum(F.col("v") * F.coalesce("w", F.lit(0.0)))
                 .alias("margin"))
            .select("id", "margin",
                    (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))))
                    .alias("p")))
