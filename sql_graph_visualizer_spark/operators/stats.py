"""Column-statistics operators (SURVEY §2.4 A8 — the reference's
ColumnStatistics model, ``internal/domain/models/database_schema.go:
326-355``: null/distinct counts, min/max/avg, top-K frequent values,
equi-width histogram; declared there but stubbed — implemented here).

Everything is a plain aggregation plan (HashAggregate, map-side
combined). Exact forms are the oracle-checkable defaults; the approx
variant (HyperLogLog distinct) is the 100 TB path — one pass, fixed
memory, no exact-distinct shuffle of every value.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def equi_width_histogram(
    df: DataFrame, col: str, lo: float, hi: float, bins: int = 10
) -> DataFrame:
    """Equi-width histogram over [lo, hi]: bin i covers
    [lo + i*w, lo + (i+1)*w), the last bin closed at hi. One
    HashAggregate over (bin) — integer arithmetic, oracle-expressible.
    """
    w = (hi - lo) / bins
    bin_col = F.least(F.floor((F.col(col) - F.lit(lo)) / F.lit(w)), F.lit(bins - 1)).cast("int")
    return (
        df.filter(F.col(col).isNotNull() & (F.col(col) >= lo) & (F.col(col) <= hi))
        .groupBy(bin_col.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            F.min(col).alias("bin_min"),
            F.max(col).alias("bin_max"),
        )
    )


def top_k_values(df: DataFrame, col: str, k: int = 5) -> DataFrame:
    """Top-K most frequent values with a deterministic tie-break
    (count desc, value asc) — the TopValues field of the reference's
    ColumnStatistics. count-then-rank: the heavy input shuffles once on
    the value; the rank window sees only |distinct| rows."""
    counts = df.groupBy(F.col(col).alias("value")).agg(F.count("*").alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("value"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("value", "n", "rank")
    )


def column_profile(df: DataFrame, col: str, approx: bool = False) -> DataFrame:
    """One-row profile: rows, nulls, distinct, min/max/avg.

    ``approx=True`` swaps exact COUNT(DISTINCT) for HyperLogLog
    (``approx_count_distinct``, default rsd 5%) — at 100 TB the exact
    form shuffles every distinct value; the sketch is one fixed-size
    buffer per partition. Not oracle-hash-checkable (engine-specific
    sketch), so tests bound its error instead."""
    c = F.col(col)
    distinct: Column = (
        F.approx_count_distinct(col) if approx else F.count_distinct(col)
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(c.isNull().cast("long")).alias("n_nulls"),
        distinct.alias("n_distinct"),
        F.min(col).alias("min_val"),
        F.max(col).alias("max_val"),
        F.sum(c.cast("decimal(18,8)")).cast("double").alias("sum_val"),
    ).withColumn("avg_val", F.col("sum_val") / (F.col("n_rows") - F.col("n_nulls")))


# ------------------------------------------------- grouped-agg text digest

DIGEST_MOD = 2305843009213693951  # 2^61 - 1 (Mersenne): sums never collide mod-wise by overflow

# SURVEY §2.10's UDAF row ("custom lineage digest"): an order-independent
# per-group content digest = Σ portable-60-bit-hash(text) mod 2^61-1.
# The per-row hash is a JVM expression (the md5-prefix family the dedup
# oracle uses); only the arbitrary-precision modular sum is custom.


def portable_hash60(col: Column | str) -> Column:
    """60-bit text hash both engines share: Spark
    conv(substr(md5(s),1,15),16,10)::long == DuckDB
    CAST('0x'||substr(md5(s),1,15) AS BIGINT) (same family as
    operators/dedup portable=True)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def group_digest(df: DataFrame, group_col: str, text_col: str = "text") -> DataFrame:
    """Per-group digest via a GROUPED_AGG pandas UDF (§2.10 UDAF surface).

    The hash per row stays a JVM expression; the UDF only performs the
    arbitrary-precision modular sum (int64 would overflow at ~8 rows of
    2^60). An expression twin exists (``group_digest_expr``: decimal(38)
    sum, headroom to ~1e18 rows per group) and tests assert equality —
    the UDAF form is the general shape for digests that are NOT
    decimal-expressible (e.g. xor/rolling digests)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def digest(h: pd.Series) -> int:
        return int(sum(int(x) for x in h) % DIGEST_MOD)

    # Spark disallows mixing grouped-aggregate pandas UDFs with JVM
    # aggregates in one agg clause, so the row count is a second one
    @pandas_udf("long")
    def nrows(h: pd.Series) -> int:
        return len(h)

    return (
        df.select(group_col, portable_hash60(text_col).alias("__h"))
        .groupBy(group_col)
        .agg(nrows("__h").alias("n_rows"), digest("__h").alias("digest"))
    )


def group_digest_expr(df: DataFrame, group_col: str, text_col: str = "text") -> DataFrame:
    """Expression twin of ``group_digest``: decimal(38,0) sum mod 2^61-1
    — pure JVM, whole-stage codegen'd, the production fast path."""
    h = portable_hash60(text_col).cast("decimal(38,0)")
    return (
        df.select(group_col, h.alias("__h"))
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n_rows"),
            (F.sum("__h") % F.lit(DIGEST_MOD)).cast("long").alias("digest"),
        )
    )
