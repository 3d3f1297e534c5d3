"""Point / batch ingest with validate-split semantics.

The reference's REST ingest validates required fields per entity type and
returns per-item success/failure accounting — HTTP 207 on partial success
(S5/S6: /root/reference/src/routes/ticket_routes.py:98-210 and the five
sibling route files; required-field rules /root/reference/src/utils.py:82-96;
defaulting /root/reference/src/utils.py:98-111).

Spark-first, per-row try/except becomes a *validate-split*: one pass
computes a reject reason per row, then the batch splits into an accepted
DataFrame (with defaults applied) and a rejected DataFrame carrying
``reject_reason`` — the reference's partial-success contract without any
per-row Python. Also replaces the bulk sink's ``raise_on_error=False``
quarantine (/root/reference/src/es_connector.py:62-68, SURVEY §7.3 #5).

Scale notes: the reason column is a single ``when`` chain evaluated in
whole-stage codegen. The two returned splits are independent plans over
the same tagged projection — each is one scan; a caller consuming BOTH
against a non-deterministic source (remote query, concurrent appends)
should materialize the batch once first so the splits cannot disagree.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Required fields per entity type (reference /root/reference/src/utils.py:82-96:
#: ticket→ticket_number, user→email, everything else→name).
REQUIRED_FIELDS: dict[str, tuple[str, ...]] = {
    "ticket": ("ticket_number",),
    "user": ("email",),
    "default": ("name",),
}


def reject_reason(
    df: DataFrame, rules: Sequence[tuple[Column, str]]
) -> Column:
    """First failing rule's reason, else NULL. ``rules`` are
    (violation_predicate, reason) pairs evaluated in order."""
    expr = F.lit(None).cast("string")
    for pred, reason in reversed(rules):
        expr = F.when(pred, F.lit(reason)).otherwise(expr)
    return expr


def validate_split(
    df: DataFrame, rules: Sequence[tuple[Column, str]]
) -> tuple[DataFrame, DataFrame]:
    """Split a batch into (accepted, rejected-with-reason)."""
    if "reject_reason" in df.columns:
        # re-validating a frame that already carries a verdict would
        # silently overwrite (and then drop) the original reason
        raise ValueError("input already has a reject_reason column")
    tagged = df.withColumn("reject_reason", reject_reason(df, rules))
    accepted = tagged.filter(F.col("reject_reason").isNull()).drop("reject_reason")
    rejected = tagged.filter(F.col("reject_reason").isNotNull())
    return accepted, rejected


def ingest_summary(df: DataFrame, rules: Sequence[tuple[Column, str]]) -> DataFrame:
    """Per-reason accounting for a batch — the HTTP-207 style report.

    Returns one row per outcome: ('accepted', n) plus one row per
    distinct reject reason.
    """
    tagged = df.select(
        F.coalesce(reject_reason(df, rules), F.lit("accepted")).alias("outcome")
    )
    return tagged.groupBy("outcome").agg(F.count("*").alias("n"))
