"""Declarative row-rule engine: evaluate a named set of boolean
conditions per row and report every failing rule — the generalized form
of the curation pipeline's keep/drop logic (there: first reason only;
here: all of them, for audit/debug dashboards).

Pure column algebra: rules become one array-of-struct expression the
optimizer folds into the surrounding plan — no UDF, no extra pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def apply_rules(df: DataFrame, rules: dict[str, Column],
                out_col: str = "failed_rules") -> DataFrame:
    """Add ``out_col``: sorted array of the names of all FAILING rules
    (empty array = row passes everything). A rule is a Column<boolean>
    that is True when the row is GOOD."""
    tagged = F.array(*[
        F.when(~cond, F.lit(name)) for name, cond in sorted(rules.items())
    ])
    cleaned = F.array_sort(F.filter(tagged, lambda x: x.isNotNull()))
    return df.withColumn(out_col, cleaned)

