"""Group-dependence screen: numeric columns determined by a categorical.

Completes the dependence triad of the hygiene extensions: the
contingency rules (`anomalies/contingency.py`) find categorical →
categorical functional dependence, the correlation screen
(`anomalies/correlation.py`) numeric ↔ numeric derivations; this screen
finds numeric-DETERMINED-BY-categorical columns via the correlation
ratio eta² (ANOVA R²: between-group variance share, Fisher 1925). An
eta² near 1 means the measure is a lookup encoding of the category — a
rate table joined in and materialized, a leaked per-group aggregate, a
derived tier price — redundant storage that double-counts one signal,
exactly the anomaly class Correlated_Columns flags for numeric pairs.

Spark shape: per categorical column, ONE groupBy carrying 3 fused
aggregate expressions per numeric partner (count / mean / var_pop — 3N
expressions, linear in the numeric count, never pairwise), then two
model-sized folds over the ≤max_values group rows:
SSW = Σ n_g·var_g, SSB = Σ n_g·(mean_g − mean)², eta² = SSB/(SSB+SSW).
CENTRAL moments throughout — the raw Σx² − (Σx)²/n spelling cancels
catastrophically when |mean| ≫ std and turns constant columns into
engine-dependent float noise; var_pop/avg are Welford-stable and exactly
0 on constants. `try_divide` keeps empty groups and zero-variance
measures at the undefined-NULL instead of an ANSI divide error.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataops_testgen_spark.session import materialize

DEPENDENT_COLUMN_TYPE = "Dependent_Column"
DEPENDENCE_LIKELIHOOD = "Possible"
DEPENDENCE_RISK = 0.33
DEPENDENCE_MIN_ETA2 = 0.95
DEPENDENCE_MIN_N = 500
DEPENDENCE_MAX_GROUPS = 20        # contingency's qualifying-column bound


def group_dependence_screen(df: DataFrame, cat_cols: list[str],
                            num_cols: list[str],
                            min_eta2: float = DEPENDENCE_MIN_ETA2,
                            min_n: int = DEPENDENCE_MIN_N,
                            max_groups: int | None = None) -> DataFrame:
    """(cat_col, num_col, n, n_groups, eta2, flagged) for every
    (categorical, numeric) pair: eta² over rows where both are non-null,
    ``flagged`` when eta² >= min_eta2, n >= min_n, and at least two
    populated groups. Constant measures yield NULL eta² (undefined).

    ``max_groups``: when set, each categorical is pre-checked with one
    bounded count-distinct scan and a ValueError names any column whose
    cardinality exceeds it — the guard that keeps the grouped relation
    (and its localCheckpoint) model-sized when the caller's column list
    did not come from profile eligibility (the cascade path bounds
    cardinality via the profile, mirroring the contingency rule's
    20-group rule; the CLI path passes ``DEPENDENCE_MAX_GROUPS`` here)."""
    if not cat_cols or not num_cols:
        raise ValueError("need at least one categorical and one numeric "
                         "column")
    for c in cat_cols:
        if c in num_cols:
            raise ValueError(f"{c!r} cannot be both categorical and numeric")
    if max_groups is not None:
        # one scan, K model-sized counts; countDistinct(col) over a
        # genuinely high-cardinality column is still a safe (hash-agg)
        # plan — it is the DOWNSTREAM per-group relation that must stay
        # bounded, which this check enforces before building it
        card = df.agg(*[F.countDistinct(F.col(c)).alias(c)
                        for c in cat_cols]).first()
        over = [c for c in cat_cols if card[c] > int(max_groups)]
        if over:
            raise ValueError(
                f"categorical column(s) exceed max_groups={max_groups}: "
                + ", ".join(f"{c} ({card[c]} groups)" for c in over))
    out = None
    for cat in cat_cols:
        aggs = []
        for i, c in enumerate(num_cols):
            x = F.col(c).cast("double")
            # lo/hi: exact constant-measure guard — var_pop of an exactly
            # constant column can return ~1e-16 partition-merge noise at
            # some layouts (see correlation.py), and eta² would then be
            # noise/noise; min<max is exact at any partitioning
            aggs.extend([
                F.count(x).alias(f"n{i}"),
                F.avg(x).alias(f"m{i}"),
                F.var_pop(x).alias(f"vp{i}"),
                F.min(x).alias(f"lo{i}"),
                F.max(x).alias(f"hi{i}")])
        # checkpointed: the group relation (<= the category's distinct
        # count rows) feeds BOTH folds below — without it each fold
        # re-runs the table scan
        grouped = materialize(df.filter(F.col(cat).isNotNull())
                              .groupBy(F.col(cat)).agg(*aggs))
        tot_aggs = []
        for i in range(len(num_cols)):
            nd = F.col(f"n{i}").cast("double")
            tot_aggs.extend([
                F.sum(F.col(f"n{i}")).alias(f"tn{i}"),
                F.count(F.when(F.col(f"n{i}") > 0, 1)).alias(f"g{i}"),
                F.sum(F.col(f"vp{i}") * nd).alias(f"ssw{i}"),
                F.try_divide(F.sum(F.col(f"m{i}") * nd),
                             F.sum(nd)).alias(f"mm{i}")])
        tot = grouped.agg(*tot_aggs)
        joined = grouped.crossJoin(F.broadcast(tot))
        fin_aggs = []
        for i in range(len(num_cols)):
            nd = F.col(f"n{i}").cast("double")
            d = F.col(f"m{i}") - F.col(f"mm{i}")
            fin_aggs.extend([
                F.sum(nd * d * d).alias(f"ssb{i}"),
                F.max(f"tn{i}").alias(f"tn{i}"),
                F.max(f"g{i}").alias(f"g{i}"),
                F.max(f"ssw{i}").alias(f"ssw{i}"),
                F.min(f"lo{i}").alias(f"lo{i}"),
                F.max(f"hi{i}").alias(f"hi{i}")])
        one = joined.agg(*fin_aggs)
        entries = []
        for i, c in enumerate(num_cols):
            eta2 = F.when(
                F.col(f"lo{i}") < F.col(f"hi{i}"),
                F.try_divide(
                    F.col(f"ssb{i}"),
                    F.nullif(F.col(f"ssb{i}") + F.col(f"ssw{i}"),
                             F.lit(0.0))))
            entries.append(F.struct(
                F.lit(cat).alias("cat_col"), F.lit(c).alias("num_col"),
                F.col(f"tn{i}").alias("n"),
                F.col(f"g{i}").alias("n_groups"),
                eta2.alias("eta2")))
        rows = (one.select(F.explode(F.array(*entries)).alias("p"))
                .select("p.cat_col", "p.num_col", "p.n", "p.n_groups",
                        "p.eta2"))
        out = rows if out is None else out.unionByName(rows)
    return out.withColumn(
        "flagged",
        F.coalesce((F.col("eta2") >= float(min_eta2))
                   & (F.col("n") >= int(min_n))
                   & (F.col("n_groups") >= 2), F.lit(False)))


def dependence_anomalies(tables: dict[str, DataFrame],
                         inferred_profile: DataFrame,
                         min_eta2: float = DEPENDENCE_MIN_ETA2,
                         min_n: int = DEPENDENCE_MIN_N,
                         meta_rows: list | None = None) -> DataFrame | None:
    """The cascade hook (the Correlated_Columns playbook): flagged
    (categorical, numeric) dependencies as hygiene-anomaly rows anchored
    on the NUMERIC column (the redundant encoding), detail naming its
    determining category, prevalence = eta² (the determined variance
    share) × risk.

    Qualification from the inferred profile, metadata-sized collects:
    categoricals by the contingency rule (functional type Code/Category,
    2..20 distinct values), numerics by the correlation screen's
    eligibility. Tables with an empty side are skipped."""
    from dataops_testgen_spark.anomalies.correlation import (
        correlation_eligible, correlation_eligible_row)

    # ``meta_rows``: pre-collected profile metadata shared with
    # correlation_anomalies via screen_anomalies (one collect, not three
    # near-identical tiny jobs); driver-side predicates mirror the Column
    # filters exactly (parity test in tests/test_anomalies.py).
    if meta_rows is None:
        cat_rows = (inferred_profile.filter(
            F.col("functional_data_type").isin("Code", "Category")
            & F.col("distinct_value_ct").between(2, DEPENDENCE_MAX_GROUPS))
            .select("table_name", "column_name").collect())
        # distinct_value_ct > 1: a constant measure has zero variance —
        # eta² is undefined and float noise must not decide the flag
        num_rows = (inferred_profile.filter(
            correlation_eligible() & (F.col("distinct_value_ct") > 1))
            .select("table_name", "column_name").collect())
    else:
        cat_rows = [r for r in meta_rows
                    if r["functional_data_type"] in ("Code", "Category")
                    and r["distinct_value_ct"] is not None
                    and 2 <= r["distinct_value_ct"] <= DEPENDENCE_MAX_GROUPS]
        num_rows = [r for r in meta_rows
                    if correlation_eligible_row(r)
                    and r["distinct_value_ct"] is not None
                    and r["distinct_value_ct"] > 1]
    cats: dict[str, set[str]] = {}
    nums: dict[str, set[str]] = {}
    for r in cat_rows:
        cats.setdefault(r["table_name"], set()).add(r["column_name"])
    for r in num_rows:
        nums.setdefault(r["table_name"], set()).add(r["column_name"])
    out = None
    for t in sorted(tables):
        df = tables[t]
        order = [f.name for f in df.schema.fields]
        cat_cols = [c for c in order
                    if c in cats.get(t, set()) and c not in nums.get(t, set())]
        num_cols = [c for c in order if c in nums.get(t, set())]
        if not cat_cols or not num_cols:
            continue
        scr = group_dependence_screen(df, cat_cols, num_cols,
                                      min_eta2=min_eta2, min_n=min_n)
        rows = scr.filter("flagged").select(
            F.lit(t).alias("table_name"),
            F.col("num_col").alias("column_name"),
            F.lit(DEPENDENT_COLUMN_TYPE).alias("anomaly_type"),
            F.lit("Dependence").alias("data_object"),
            F.lit(DEPENDENCE_LIKELIHOOD).alias("likelihood"),
            F.concat(F.lit("Determined by "), F.col("cat_col"),
                     F.lit(": eta2="),
                     F.round("eta2", 5).cast("string")).alias("detail"),
            (F.col("eta2") * F.lit(DEPENDENCE_RISK)).alias("dq_prevalence"))
        out = rows if out is None else out.unionByName(rows)
    return out
