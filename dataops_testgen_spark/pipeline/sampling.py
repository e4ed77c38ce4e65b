"""Deterministic corpus sampling for training-data pipelines.

Reproducibility is the point: a training-data pipeline must be able to
re-derive EXACTLY the same sample on re-runs, across clusters, and across
engines (Spark job vs warehouse SQL audit). ``rand()`` can't do that, so
these operators derive the randomness from a salted hash of a stable id —
the standard "deterministic sampling" trick (same idea as the reference's
seeded Bernoulli profiling sample, `commands/queries/profiling_query.py`
seed 64, but content-addressed instead of RNG-stream-addressed).

All operators are narrow or single-shuffle DataFrame plans:

- ``hash_sample``       — Bernoulli p by hash threshold. Narrow (no
  shuffle, no state); at 100 TB it is a scan-speed filter.
- ``stratified_cap``    — at most N rows per stratum, hash-ranked. One
  shuffle on the strata key (the window partition); skewed strata are
  bounded by the cap itself on output.
- ``stratified_sample`` — per-stratum Bernoulli fractions (e.g. downweight
  over-represented languages/sources). Narrow: the fraction lookup is a
  literal CASE, the filter is hash-threshold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataops_testgen_spark.pipeline.text import tokens
from dataops_testgen_spark.session import materialize

# 2^32 buckets from the first 8 hex chars of md5 — available bit-for-bit
# in every engine (Spark, DuckDB, warehouses), so a sample drawn here can
# be re-derived exactly in an audit SQL query. The salt isolates
# independent draws.
_BUCKETS = float(2 ** 32)


def _unit_hash(id_col: Column, salt: str) -> Column:
    """Deterministic uniform value in [0, 1) from (salt, id)."""
    h = F.md5(F.concat(F.lit(salt), F.lit("|"), id_col.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
            / F.lit(_BUCKETS))


def hash_sample(df: DataFrame, id_col: str = "doc_id",
                fraction: float = 0.1, salt: str = "tg") -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by salted id hash — same rows on
    every run/engine. Change ``salt`` for an independent draw."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    return df.filter(_unit_hash(F.col(id_col), salt) < F.lit(fraction))


def stratified_sample(df: DataFrame, strata_col: str,
                      fractions: dict[str, float],
                      id_col: str = "doc_id",
                      default_fraction: float = 0.0,
                      salt: str = "tg") -> DataFrame:
    """Per-stratum Bernoulli keep-rates (Spark's ``sampleBy`` shape, but
    deterministic): e.g. ``{"en": 0.1, "de": 1.0}`` to rebalance a corpus.
    Strata not listed keep ``default_fraction``."""
    for k, v in fractions.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"fraction for {k!r} must be in [0, 1]")
    frac = F.lit(default_fraction)
    for k, v in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == k, F.lit(v)).otherwise(frac)
    return df.filter(_unit_hash(F.col(id_col), salt) < frac)


def stratified_cap(df: DataFrame, strata_cols: list[str], cap: int,
                   id_col: str = "doc_id", salt: str = "tg") -> DataFrame:
    """At most ``cap`` rows per stratum, selected by hash rank (stable
    across runs). One shuffle (window partition on the strata); output per
    stratum is bounded by ``cap`` regardless of input skew."""
    from pyspark.sql import Window

    if cap < 1:
        raise ValueError("cap must be >= 1")
    w = (Window.partitionBy(*strata_cols)
         .orderBy(_unit_hash(F.col(id_col), salt), F.col(id_col)))
    return (df.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") <= cap).drop("__rn__"))


def _hashed_grams(df: DataFrame, text_col: str, id_col: str,
                  n_buckets: int, salt: str) -> DataFrame:
    """(id, bucket) rows — one per unigram/bigram OCCURRENCE (DSIR uses
    feature counts, so multiplicity is kept). Buckets come from the salted
    md5-prefix trick (pipeline/sampling._unit_hash's portable scheme), not
    an engine-private hash, so the same features land in the same buckets
    in the audit SQL."""
    from dataops_testgen_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    t = tokens(F.col(text_col))
    # zip_with(t, t[2:]) is O(tokens) per doc; an indexed
    # transform(sequence)+element_at spells the same thing but costs
    # O(tokens^2) in the interpreted HOF evaluator (measured 7s -> <1s on
    # 5k docs). The tail pair zips against NULL and is filtered out.
    bigrams = F.filter(
        F.zip_with(t, F.slice(t, 2, F.size(t)),
                   lambda a, b: F.when(b.isNotNull(),
                                       F.concat(a, F.lit(" "), b))),
        lambda g: g.isNotNull())
    grams = F.concat(t, bigrams)
    bucket = F.pmod(
        F.conv(F.substring(
            F.md5(F.concat(F.lit(salt), F.lit("|"), F.col("gram"))),
            1, 8), 16, 10).cast("long"),
        F.lit(n_buckets))
    return (df.select(F.col(id_col).alias("id"),
                      F.explode(grams).alias("gram"))
            .select("id", bucket.alias("bucket")))


def dsir_logweights(corpus: DataFrame, target: DataFrame,
                    text_col: str = "text", id_col: str = "doc_id",
                    n_buckets: int = 10_000,
                    smoothing: float = 1.0,
                    salt: str = "dsir") -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    score every corpus document by how much it looks like the ``target``
    distribution, using hashed unigram+bigram importance weights.

    Each side's feature-bucket counts define a Laplace-smoothed categorical
    distribution over ``n_buckets``; a document's log importance weight is
    the sum over its feature occurrences of
    ``ln p_target(bucket) − ln p_corpus(bucket)``. Resample the corpus by
    these weights (e.g. keep the top fraction, or Gumbel-top-k on
    ``dsir_logweight``) to shift it toward the target domain.

    Returns (id, n_features, dsir_logweight) for every corpus document
    with at least one feature (blank documents carry no evidence and are
    omitted).

    100 TB shape: two partial-agg bucket-count passes (map-side combine,
    agg state ≤ n_buckets rows per side), the totals folded in as
    broadcast 1-row frames (declarative — no driver .count()), the
    ≤ n_buckets log-ratio table broadcast onto the exploded corpus
    features, and one groupBy(id) sum. No all-pairs work, nothing
    collects rows to the driver."""
    from pyspark.sql.functions import broadcast

    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    corpus_feats = _hashed_grams(corpus, text_col, id_col, n_buckets, salt)
    target_feats = _hashed_grams(target, text_col, id_col, n_buckets, salt)

    # the count frames are ≤ n_buckets rows — checkpointing them is
    # metadata-plane at ANY corpus size and stops the ratio build (its
    # totals, the left join, the broadcast) from re-running the full
    # tokenize+hash lineage once per consumer; the corpus is scanned
    # exactly twice (bucket counts, then the weight join)
    c_counts = materialize(corpus_feats.groupBy("bucket").agg(
        F.count("*").alias("c_ct")), eager=True)
    t_counts = materialize(target_feats.groupBy("bucket").agg(
        F.count("*").alias("t_ct")), eager=True)
    c_total = c_counts.agg(F.sum("c_ct").alias("c_total"))
    t_total = t_counts.agg(F.coalesce(F.sum("t_ct"), F.lit(0))
                           .alias("t_total"))

    sm = F.lit(float(smoothing))
    denom = F.lit(float(smoothing) * n_buckets)
    # every bucket a corpus document can hit appears in c_counts by
    # construction, so a left join covers the full support
    ratio = (c_counts
             .join(broadcast(t_counts), "bucket", "left")
             .crossJoin(broadcast(c_total))
             .crossJoin(broadcast(t_total))
             .select(
                 "bucket",
                 (F.log((F.coalesce(F.col("t_ct"), F.lit(0)) + sm)
                        / (F.col("t_total") + denom))
                  - F.log((F.col("c_ct") + sm)
                          / (F.col("c_total") + denom)))
                 .alias("logratio")))
    return (corpus_feats
            .join(broadcast(ratio), "bucket")
            .groupBy("id")
            .agg(F.count("*").alias("n_features"),
                 F.sum("logratio").alias("dsir_logweight")))


def dsir_gumbel_topk(weights: DataFrame, k: int,
                     id_col: str = "id",
                     weight_col: str = "dsir_logweight",
                     salt: str = "gumbel") -> DataFrame:
    """The resample step of DSIR: Gumbel-top-k over the log importance
    weights draws an exact without-replacement sample proportional to the
    softmax of the weights (the Gumbel-max trick, Vieira 2014). The Gumbel
    noise derives from the salted id hash — ``-ln(-ln(u))`` with u from
    the same md5 scheme as hash_sample — so the draw is bit-reproducible
    across runs and engines, and an audit SQL query can re-derive exactly
    which documents were selected.

    Plan shape: one narrow projection + a global top-k
    (TakeOrderedAndProject — per-partition heaps, no single-partition
    window), so it scales to any corpus for the k a training run keeps."""
    if k < 1:
        raise ValueError("k must be >= 1")
    # (h + 0.5) / 2^32 lies strictly inside (0, 1): both ln calls stay
    # finite, and the shift is exactly representable so engines agree
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit(salt), F.lit("|"),
                       F.col(id_col).cast("string"))), 1, 8), 16, 10) \
        .cast("long")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(_BUCKETS)
    score = F.col(weight_col) + (-F.log(-F.log(u)))
    return (weights.withColumn("gumbel_score", score)
            .orderBy(F.desc("gumbel_score"), F.col(id_col))
            .limit(k))


def source_mixture_plan(df: DataFrame, target_weights: dict[str, float],
                        source_col: str = "source",
                        text_col: str | None = None) -> DataFrame:
    """Static domain-mixture planning (the Pile / RedPajama recipe step):
    given target mixture weights per source (e.g. ``{"web": 0.6,
    "wiki": 0.2, "books": 0.2}``), find the LARGEST total budget T such
    that no source is oversampled (T = min over sources of n_s / w_s,
    epochs > 1 deliberately out of scope — this operator subsamples,
    never repeats), and emit the per-source Bernoulli keep-fraction that
    realizes it: fraction_s = (w_s * T) / n_s.

    Sizes are document counts, or token counts when ``text_col`` is given
    (token-budgeted mixing, the form training actually needs). Weights
    are normalized internally, so any positive ratios work.

    100 TB shape: one partial-agg groupBy(source) — the plan relation is
    |sources| rows. Pair with ``apply_mixture_plan`` (a broadcast join +
    hash filter, no collect) to materialize the mix.

    Output: (source, n_units, weight, fraction, expect_units), fraction
    rounded to 9 decimals (engine-exact re-derivation in audit SQL).
    """
    if not target_weights:
        raise ValueError("target_weights must be non-empty")
    if any(w <= 0 for w in target_weights.values()):
        raise ValueError("target weights must be positive")
    total_w = float(sum(target_weights.values()))
    # shared tokens() helper: blank/whitespace-only text counts 0 tokens
    # (split('') -> [''] would count 1), matching the DuckDB oracle CASE
    unit = (F.count(F.lit(1)) if text_col is None
            else F.sum(F.size(tokens(F.col(text_col)))))
    weight = F.lit(None).cast("double")
    for k, v in sorted(target_weights.items()):
        weight = F.when(F.col("source") == k,
                        F.lit(v / total_w)).otherwise(weight)
    sizes = (df.filter(F.col(source_col).isin(*target_weights.keys()))
             .groupBy(F.col(source_col).alias("source"))
             .agg(unit.cast("long").alias("n_units"))
             .withColumn("weight", weight.alias("weight")))
    # T = min over sources of n_s / w_s  (1-row relation, broadcast back)
    budget = sizes.agg(F.min(F.col("n_units") / F.col("weight"))
                       .alias("t_budget"))
    return (sizes.crossJoin(F.broadcast(budget))
            .select("source", "n_units", F.round("weight", 9).alias("weight"),
                    F.round(F.col("weight") * F.col("t_budget")
                            / F.col("n_units"), 9).alias("fraction"),
                    (F.col("weight") * F.col("t_budget")).cast("long")
                    .alias("expect_units"))
            .orderBy("source"))


def temperature_mixture_plan(df: DataFrame, tau: float = 0.5,
                             source_col: str = "source",
                             text_col: str | None = None) -> DataFrame:
    """Temperature-derived domain mixture (the mT5 / XLM-R recipe,
    Conneau et al. 2020 §3.1): instead of hand-picked target weights,
    derive them from the corpus's OWN per-source sizes,

        w_s = n_s^tau / Σ_t n_t^tau,

    so ``tau < 1`` flattens the distribution (upsamples tail domains
    relative to the head — the whole point of temperature sampling for
    low-resource languages/domains) and ``tau = 1`` reproduces the
    natural mix. The realized plan then follows ``source_mixture_plan``
    exactly: largest total budget T with no source oversampled
    (T = min_s n_s / w_s; subsample-only, no repeats), per-source
    Bernoulli keep-fraction = w_s · T / n_s.

    Sizes are document counts, or token counts when ``text_col`` is
    given. 100 TB shape: identical to ``source_mixture_plan`` — one
    partial-agg groupBy(source), the plan is |sources| rows, weights
    derive from a 1-row broadcast of Σ n^tau; feed the result straight
    to ``apply_mixture_plan``.

    Output: (source, n_units, weight, fraction, expect_units), floats
    rounded to 9 decimals (engine-exact re-derivation in audit SQL)."""
    if tau <= 0:
        raise ValueError("tau must be positive")
    # shared tokens() helper: blank/whitespace-only text counts 0 tokens
    # (split('') -> [''] would count 1), matching the DuckDB oracle CASE
    unit = (F.count(F.lit(1)) if text_col is None
            else F.sum(F.size(tokens(F.col(text_col)))))
    sizes = (df.filter(F.col(source_col).isNotNull())
             .groupBy(F.col(source_col).alias("source"))
             .agg(unit.cast("long").alias("n_units")))
    z = sizes.agg(F.sum(F.pow(F.col("n_units"), F.lit(float(tau))))
                  .alias("z"))
    weighted = (sizes.crossJoin(F.broadcast(z))
                .withColumn("weight",
                            F.pow(F.col("n_units"), F.lit(float(tau)))
                            / F.col("z")))
    budget = weighted.agg(F.min(F.col("n_units") / F.col("weight"))
                          .alias("t_budget"))
    return (weighted.crossJoin(F.broadcast(budget))
            .select("source", "n_units",
                    F.round("weight", 9).alias("weight"),
                    F.round(F.col("weight") * F.col("t_budget")
                            / F.col("n_units"), 9).alias("fraction"),
                    (F.col("weight") * F.col("t_budget")).cast("long")
                    .alias("expect_units"))
            .orderBy("source"))


def apply_mixture_plan(df: DataFrame, plan: DataFrame,
                       source_col: str = "source",
                       id_col: str = "doc_id",
                       salt: str = "mix") -> DataFrame:
    """Materialize a ``source_mixture_plan``: keep each row with its
    source's planned Bernoulli fraction, drawn from the salted id hash
    (deterministic across runs/engines, like ``hash_sample``). Sources
    absent from the plan are dropped. Declarative end-to-end — the plan
    joins in broadcast, no driver collect, narrow filter after the join."""
    frac = plan.select(F.col("source").alias(source_col), "fraction")
    return (df.join(F.broadcast(frac), source_col)
            .filter(_unit_hash(F.col(id_col), salt) < F.col("fraction"))
            .drop("fraction"))


def shuffle_shards(df: DataFrame, n_shards: int,
                   id_col: str = "doc_id", salt: str = "shuf") -> DataFrame:
    """Deterministic global shuffle into ``n_shards`` training shards.

    Training-data writers need the corpus in RANDOM order split across a
    fixed number of shard files (so data loaders stream i.i.d.-ish
    batches without a global shuffle at train time). A true global sort
    by ``rand()`` is neither reproducible nor cheap; instead the shard
    AND the within-shard order both derive from the salted md5 of the
    stable id — the same engine-portable trick as ``hash_sample`` — so
    the exact layout re-derives on any rerun or in audit SQL.

    100 TB shape: the only shuffle is the window partition on ``shard``
    (= the output parallelism you asked for); hash order inside a shard
    is a sort of that shard's rows only, never a global sort. Shard
    sizes concentrate tightly around N/n_shards (md5 is uniform), so no
    shard becomes a straggler.

    Adds two columns: ``shard`` (int, 0..n_shards-1) and ``pos`` (int,
    1..|shard| — the within-shard write order). Change ``salt`` for an
    independent shuffle (e.g. per epoch).
    """
    from pyspark.sql import Window

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    h = F.md5(F.concat(F.lit(salt), F.lit("|"),
                       F.col(id_col).cast("string")))
    shard = F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("long"),
                   F.lit(n_shards)).cast("int")
    w = Window.partitionBy("shard").orderBy(F.col("__h__"), F.col(id_col))
    return (df.withColumn("__h__", h)
            .withColumn("shard", shard)
            .withColumn("pos", F.row_number().over(w))
            .drop("__h__"))


def write_shuffled_shards(df: DataFrame, path: str, n_shards: int,
                          id_col: str = "doc_id", salt: str = "shuf") -> None:
    """Materialize ``shuffle_shards`` as one parquet directory per shard
    (``path/shard=K/``): rows land partitioned by shard and sorted in
    shuffle order within each shard file, so a loader reading shard
    files sequentially replays the deterministic shuffle."""
    assigned = shuffle_shards(df, n_shards, id_col=id_col, salt=salt)
    (assigned.repartition(n_shards, F.col("shard"))
     .sortWithinPartitions("shard", "pos")
     .write.mode("overwrite").partitionBy("shard").parquet(path))
