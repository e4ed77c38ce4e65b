"""Profile post-processing pipeline, in reference order.

`/root/reference/testgen/commands/queries/profiling_query.py:163-177` runs:
datatype suggestions → functional datatypes → functional table types → PII →
CDE. ``apply_inference`` chains the same steps over the profile DataFrame and
returns it enriched with ``datatype_suggestion, functional_data_type,
functional_table_type, pii_flag, critical_data_element``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from dataops_testgen_spark.inference.cde import flag_cde
from dataops_testgen_spark.inference.datatype_suggestion import add_datatype_suggestion
from dataops_testgen_spark.inference.functional_type import (
    infer_functional_datatypes,
    infer_table_types,
)
from dataops_testgen_spark.inference.pii import flag_pii
from dataops_testgen_spark.session import materialize as _materialize


def apply_inference(
    profile: DataFrame,
    history: DataFrame | None = None,
    id_mask: str = "%id",
    sk_mask: str = "%_sk",
    materialize: bool = True,
) -> DataFrame:
    if materialize:
        # The cascade's first checkpointed chunk (layers 1-5) otherwise
        # embeds the whole profile aggregation subtree in its analyzed
        # tree: Catalyst re-walks the fused ~60-metric agg on every
        # analysis pass of the 622-rule cascade. The profile is one row
        # per column — cut it to a leaf first (same lineage-truncation
        # rationale as the merge-path checkpoint; measured ~2 s per
        # fresh-table screen seat, OPTIMIZATION_r13.md #14).
        profile = _materialize(profile)
    df = add_datatype_suggestion(profile)
    df = infer_functional_datatypes(df, id_mask=id_mask, sk_mask=sk_mask)
    table_types = infer_table_types(df, history=history)
    df = df.join(table_types.select("table_name", "functional_table_type"),
                 "table_name", "left")
    df = flag_pii(df)
    df = flag_cde(df)
    if materialize:
        # The result is metadata-plane (one row per column) but its lineage
        # carries the whole layered cascade — leaving it lazy makes every
        # downstream action (anomaly screen branches, generation explode)
        # re-run Catalyst over those expression trees, which dominates wall
        # time. Cut the lineage once; the data itself is negligible.
        df = _materialize(df)
    return df
