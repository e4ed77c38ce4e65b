"""Pairwise contingency (IF X=A THEN Y=B) rule mining.

Reference: `commands/run_pairwise_contingency_check.py:12-147` +
`template/contingency/contingency_columns.sql` (qualifying columns:
functional type Code/Category with 2..max distinct values) and
`contingency_counts.sql` (value-pair frequency counts). The reference
pivots counts in pandas; here the whole computation is DataFrame-native:
one groupBy per column pair over the qualifying columns, totals joined in,
ratio + support filters, and both rule directions emitted by a single
union — no driver-side pivot.

Thresholds (reference :26, :62-64): rule ratio default 0.95; minimum
support per side = max(30, 5% of pair observations).
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataops_testgen_spark.session import materialize

CONTINGENCY_MAX_VALUES = 20

RULE_COLUMNS = ["table_name", "cause_column_name", "cause_column_value",
                "effect_column_name", "effect_column_value", "pair_count",
                "cause_column_total", "effect_column_total", "rule_ratio"]


def contingency_columns(inferred_profile: DataFrame,
                        max_values: int = CONTINGENCY_MAX_VALUES) -> dict[str, list[str]]:
    """{table: [qualifying columns]} per contingency_columns.sql."""
    rows = (
        inferred_profile.filter(
            F.col("functional_data_type").isin("Code", "Category")
            & F.col("distinct_value_ct").between(2, max_values))
        .select("table_name", "column_name")
        .collect()
    )
    out: dict[str, list[str]] = {}
    for r in rows:
        out.setdefault(r["table_name"], []).append(r["column_name"])
    return {t: sorted(cols) for t, cols in out.items() if len(cols) > 1}


def mine_contingency_rules(df: DataFrame, table_name: str, columns: list[str],
                           threshold_ratio: float = 0.95) -> DataFrame | None:
    """Rules for one table over the given columns → RULE_COLUMNS DataFrame."""
    spark = df.sparkSession
    pair_dfs = []
    for col1, col2 in combinations(sorted(columns), 2):
        pair = (
            df.filter(F.col(col1).isNotNull() & F.col(col2).isNotNull())
            .groupBy(F.col(col1).cast("string").alias("v1"),
                     F.col(col2).cast("string").alias("v2"))
            .agg(F.count(F.lit(1)).alias("pair_count"))
            .select(F.lit(col1).alias("c1"), F.lit(col2).alias("c2"),
                    "v1", "v2", "pair_count")
        )
        pair_dfs.append(pair)
    if not pair_dfs:
        return None
    pairs = pair_dfs[0]
    for p in pair_dfs[1:]:
        pairs = pairs.unionByName(p)
    pairs = materialize(pairs)  # reused 3× below

    # per-(pair, side) totals — SUM over the pair counts, as the reference's
    # overall_counts does (groupby col sum freq_ct)
    t1 = pairs.groupBy("c1", "c2", "v1").agg(F.sum("pair_count").alias("total1"))
    t2 = pairs.groupBy("c1", "c2", "v2").agg(F.sum("pair_count").alias("total2"))
    grand = pairs.groupBy("c1", "c2").agg(F.sum("pair_count").alias("grand_total"))

    enriched = (
        pairs.join(t1, ["c1", "c2", "v1"]).join(t2, ["c1", "c2", "v2"])
        .join(grand, ["c1", "c2"])
        .withColumn("ratio1", F.col("pair_count") / F.col("total1"))
        .withColumn("ratio2", F.col("pair_count") / F.col("total2"))
        .withColumn("support_min",
                    F.greatest(F.col("grand_total") * 0.05, F.lit(30.0)))
        .filter((F.col("total1") >= F.col("support_min"))
                & (F.col("total2") >= F.col("support_min")))
        .filter(~((F.col("ratio1") < threshold_ratio)
                  & (F.col("ratio2") < threshold_ratio)))
    )
    fwd = enriched.filter(F.col("ratio1") >= threshold_ratio).select(
        F.lit(table_name).alias("table_name"),
        F.col("c1").alias("cause_column_name"), F.col("v1").alias("cause_column_value"),
        F.col("c2").alias("effect_column_name"), F.col("v2").alias("effect_column_value"),
        "pair_count",
        F.col("total1").alias("cause_column_total"),
        F.col("total2").alias("effect_column_total"),
        F.col("ratio1").alias("rule_ratio"),
    )
    rev = enriched.filter(F.col("ratio2") >= threshold_ratio).select(
        F.lit(table_name).alias("table_name"),
        F.col("c2").alias("cause_column_name"), F.col("v2").alias("cause_column_value"),
        F.col("c1").alias("effect_column_name"), F.col("v1").alias("effect_column_value"),
        "pair_count",
        F.col("total2").alias("cause_column_total"),
        F.col("total1").alias("effect_column_total"),
        F.col("ratio2").alias("rule_ratio"),
    )
    return fwd.unionByName(rev)


def run_contingency_check(tables: dict[str, DataFrame],
                          inferred_profile: DataFrame,
                          threshold_ratio: float = 0.95) -> DataFrame | None:
    """Full pass: qualifying columns from the profile → rules per table."""
    out = None
    for table, cols in contingency_columns(inferred_profile).items():
        if table not in tables:
            continue
        rules = mine_contingency_rules(tables[table], table, cols, threshold_ratio)
        if rules is not None:
            out = rules if out is None else out.unionByName(rules)
    return out
