"""MERGE / upsert / SCD2 emulation — the lakehouse write patterns the
reference approximates with PostgreSQL staging + `ON CONFLICT DO NOTHING`
(/root/reference/README.md:78-82, SURVEY §2.6).

Without Delta/Iceberg jars in this environment, MERGE INTO is composed from
primitives that shuffle once on the merge key:

  upsert        = target ⟕anti source  ∪  source       (source wins)
  SCD2          = close changed rows (valid_to = now) + append new versions

All deterministic → DuckDB-oracle-able.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame, source: DataFrame, keys: list[str]
) -> DataFrame:
    """Source rows replace target rows with the same key; everything else
    passes through. One shuffle on the key (the anti join); the union is
    shuffle-free."""
    return target.join(source, keys, "left_anti").unionByName(source)


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    key: str,
    compare_cols: list[str],
    version_ts: int,
) -> DataFrame:
    """Slowly-changing-dimension type 2: `dim` has (key, attrs..., valid_from,
    valid_to NULL=current); `changes` has (key, attrs...).  Rows whose
    compared attributes changed are closed (valid_to = version_ts) and a new
    current version appended.  Unchanged/untouched rows pass through.
    """
    current = dim.filter(F.col("valid_to").isNull())
    closed_history = dim.filter(F.col("valid_to").isNotNull())

    from functools import reduce as _reduce

    differs = _reduce(
        lambda a, b: a | b,
        [
            ~F.col(f"cur.{c}").eqNullSafe(F.col(f"chg.{c}"))
            for c in compare_cols
        ],
    )
    changed_keys = (
        current.alias("cur")
        .join(changes.alias("chg"), key)
        .filter(differs)
        .select(key)
    )

    closing = (
        current.join(changed_keys, key, "left_semi")
        .withColumn("valid_to", F.lit(version_ts))
    )
    untouched_current = current.join(changed_keys, key, "left_anti")
    new_versions = (
        changes.join(changed_keys, key, "left_semi")
        .withColumn("valid_from", F.lit(version_ts))
        .withColumn("valid_to", F.lit(None).cast("long"))
    )
    return (
        closed_history.unionByName(closing)
        .unionByName(untouched_current)
        .unionByName(new_versions.select(*closed_history.columns))
    )
