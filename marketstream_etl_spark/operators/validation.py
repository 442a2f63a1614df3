"""Trade validation — rules V1-V6 and the batch valid/reject split (F1).

Reference: ``/root/reference/src/validator/TradeValidator.hpp:97-237``.
Six conjunctive predicates, each with a structured failure reason; a batch
is split into clean rows and rejects carrying the FIRST failing reason (the
reference short-circuits in rule order).

Spark-first: the whole rule chain is one SQL `CASE` column, so Catalyst
codegens it into the scan stage — no UDF, no extra pass, and the reject
split is two filters over the same cached plan.  At 100 TB this is a pure
map-side operation with zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Reason strings mirror TradeValidator.hpp's messages (abbreviated, stable).
R_SYMBOL = "invalid symbol"
R_PRICE = "invalid price"
R_VOLUME = "invalid volume"
R_SIDE = "invalid side"
R_TYPE = "invalid type"
R_TIMESTAMP = "invalid timestamp"

PRICE_MAX = 1_000_000.0

# (SQL predicate, failure reason) in reference evaluation order
# (TradeValidator.hpp:109-178).
RULES = (
    ("symbol RLIKE '^[A-Z]{1,10}$'", R_SYMBOL),  # V1
    (f"price > 0 AND price < {PRICE_MAX!r}D", R_PRICE),  # V2
    ("volume > 0", R_VOLUME),  # V3
    ("side IN ('B', 'S', 'N')", R_SIDE),  # V4
    ("`type` IN ('M', 'L', 'I')", R_TYPE),  # V5
    ("`timestamp` > 0", R_TIMESTAMP),  # V6
)

# First-failing-rule reason, NULL when the row is valid: the CASE stops at
# the first rule that fails.  Nulls in the underlying column must fail the
# rule (the reference's defaults-then-reject parser never yields nulls, but
# the Spark engine can see them from permissive sources), so each predicate
# is wrapped in coalesce(pred, false).
REJECT_REASON = (
    "CASE "
    + " ".join(f"WHEN NOT coalesce({pred}, false) THEN '{why}'" for pred, why in RULES)
    + " END"
)


def with_validation(trades: DataFrame) -> DataFrame:
    """Append `reject_reason` (string, NULL=valid) and `is_valid` columns."""
    return trades.selectExpr(
        "*",
        f"{REJECT_REASON} AS reject_reason",
        f"({REJECT_REASON}) IS NULL AS is_valid",
    )


def split_valid(trades: DataFrame) -> tuple[DataFrame, DataFrame]:
    """F1: (clean rows original schema, rejects with reasons) — the
    reference's validate_batch split (TradeValidator.hpp:197-237)."""
    annotated = with_validation(trades)
    valid = annotated.filter(F.col("is_valid")).drop("reject_reason", "is_valid")
    rejects = annotated.filter(~F.col("is_valid")).drop("is_valid")
    return valid, rejects


def validation_counts(trades: DataFrame) -> DataFrame:
    """Valid/rejected totals (A5) as one aggregate pass."""
    return with_validation(trades).agg(
        F.count("*").alias("total"),
        F.sum(F.col("is_valid").cast("long")).alias("valid"),
        F.sum((~F.col("is_valid")).cast("long")).alias("rejected"),
    )
