"""Data-quality constraint checks (dbt-test-style) as plan fragments.

The reference trusts its source database's constraints; a lake has none,
so uniqueness / not-null / referential integrity must be *computed*.
Each check returns a violation count as a 1-row DataFrame fragment the
caller can combine — all partial-aggregated, one shuffle per check at
most, and composable into a single plan so a nightly audit is one job,
not one job per rule.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_key_rows(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Rows-in-excess count per duplicated key: one shuffle on the key."""
    return (
        df.groupBy(*cols)
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > 1)
    )


def null_violations(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """One row: count of rows with a NULL in any required column."""
    pred = None
    for c in cols:
        p = F.col(c).isNull()
        pred = p if pred is None else (pred | p)
    return df.agg(
        F.sum(F.when(pred, 1).otherwise(0)).cast("bigint").alias("n_null_rows")
    )


def orphan_rows(
    child: DataFrame, parent: DataFrame, child_key: str, parent_key: str
) -> DataFrame:
    """Referential integrity: child rows whose key has no parent.

    LEFT ANTI join — one shuffle (broadcast when the parent key set is
    small); returns the orphan rows for quarantine, not just a count.
    """
    keys = parent.select(F.col(parent_key).alias(child_key)).distinct()
    return child.join(keys, child_key, "left_anti")
