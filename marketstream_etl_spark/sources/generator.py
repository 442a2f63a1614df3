"""Synthetic trade generator (S3) as a distributed DataFrame program —
the Spark re-expression of /root/reference/src/tools/DataGenerator.hpp:49-228.

Semantics preserved as DISTRIBUTIONS and INVARIANTS, not byte-identical rows
(SURVEY §7 trap 7: Spark's rand/randn ≠ MT19937, and the reference clamps
inside the walk, which a distributed cumulative sum cannot replicate):

- weighted symbol mix (16-entry table, 10 distinct, DataGenerator.hpp:86-97)
- per-symbol random-walk price: start price + cumulative N(0, 0.5) steps,
  clamped to [50, 99999], 2 decimals (:122-132, :167-172, :203)
- volume ~ U[10, 5000] (:106); side 50/50 B/S (:109); type 30/60/10 M/L/I
  (:111-113); is_pro 20% (:116)
- timestamps strictly increasing from a fixed epoch with U[5µs, 50µs] gaps
  in ns (:151-155)

Spark-first: `spark.range(n)` is an embarrassingly parallel source; the
per-symbol walk is a window cumulative sum — one shuffle on symbol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

EPOCH_NS = 1_698_208_500_000_000_000  # DataGenerator.hpp:151
SEED = 42  # base seed of every rand() column

# (symbol, start_price) — DataGenerator.hpp:86-97,122-132; repetition in the
# pick table gives RELIANCE/TCS 3×, INFY/HDFC 2× weight.
SYMBOLS = [
    ("RELIANCE", 2456.75),
    ("RELIANCE", 2456.75),
    ("RELIANCE", 2456.75),
    ("TCS", 3890.50),
    ("TCS", 3890.50),
    ("TCS", 3890.50),
    ("INFY", 1567.25),
    ("INFY", 1567.25),
    ("HDFC", 1678.90),
    ("HDFC", 1678.90),
    ("WIPRO", 456.80),
    ("ICICIBANK", 987.45),
    ("BAJFINANCE", 7234.60),
    ("HCLTECH", 1345.70),
    ("AXISBANK", 1098.35),
    ("SBIN", 623.85),
]


def generate_trades(spark: SparkSession, n: int) -> DataFrame:
    """n synthetic trades with the reference generator's distributions."""
    df = spark.range(n).withColumnRenamed("id", "i")

    pick = F.element_at(
        F.array(*[F.lit(s) for s, _ in SYMBOLS]),
        (F.floor(F.rand(SEED) * len(SYMBOLS)) + 1).cast("int"),
    )
    start = F.element_at(
        F.create_map(
            *[
                F.lit(x)
                for pair in {s: p for s, p in SYMBOLS}.items()
                for x in pair
            ]
        ),
        F.col("symbol"),
    )

    df = df.select(
        (F.lit(1_000_000) + F.col("i")).alias("trade_id"),
        (F.lit(2_000_000) + F.col("i")).alias("order_id"),
        F.col("i"),
        pick.alias("symbol"),
        (F.floor(F.rand(SEED + 1) * 4991) + 10).cast("int").alias("volume"),
        F.when(F.rand(SEED + 2) < 0.5, F.lit("B")).otherwise(F.lit("S")).alias("side"),
        F.when(F.rand(SEED + 3) < 0.3, F.lit("M"))
        .when(F.rand(SEED + 3) < 0.9, F.lit("L"))
        .otherwise(F.lit("I"))
        .alias("type"),
        (F.rand(SEED + 4) < 0.2).alias("is_pro"),
        (F.randn(SEED + 5) * 0.5).alias("_step"),
        # per-row jitter for the timestamp (see below)
        F.floor(F.rand(SEED + 6) * 22_501).alias("_jitter"),
    )

    w_sym = Window.partitionBy("symbol").orderBy("i")
    walk = F.sum("_step").over(w_sym) + start
    price = F.round(F.greatest(F.lit(50.0), F.least(F.lit(99999.0), walk)), 2)
    # Strictly-increasing timestamps WITHOUT a global window (a global
    # cumulative sum would serialize on one task at scale): anchor each row
    # at i*27_500 ns (the mean gap) plus jitter < 22_500; consecutive gaps
    # stay within the reference's [5µs, 50µs] bounds and monotonicity holds
    # by construction. Gap distribution is triangular rather than uniform —
    # an accepted delta (SURVEY §7 trap 7: invariants, not byte parity).
    ts = F.lit(EPOCH_NS) + F.col("i") * F.lit(27_500) + F.col("_jitter")

    return df.select(
        "trade_id",
        "order_id",
        ts.alias("timestamp"),
        "symbol",
        price.alias("price"),
        "volume",
        "side",
        "type",
        "is_pro",
    )
