"""Input spreading for expensive per-row map stages.

A parquet file with one row group is ONE partition — Spark cannot split
below row-group granularity — so any expensive projection or explode that
evaluates inside the scan task runs on a single core no matter how many the
session has. Operators whose map side dominates (per-position hashing,
token explosion, Python inference) repartition a NARROW projection of the
input first; at real scale the input is already wider than the session's
parallelism and the branch is a no-op.

Two caveats carried from hard-won bugs (see also dedup._shingle_base):
- repartition the RAW columns, not the derived ones — shuffling raw text is
  usually fewer bytes than shuffling shingle/gram arrays;
- when the expensive work is a Project (not a Generate), ColumnPruning can
  push it BELOW the new exchange, un-parallelizing it again; callers guard
  with a non-deterministic pin column (`pin`) in the same projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """`spark.createDataFrame(rows, schema)` in at most one partition per
    row. A plain createDataFrame slices a list into `defaultParallelism`
    partitions: one row is one full partition and three empty ones on
    local[4], and every union with it widens the table by all four."""
    sc = spark.sparkContext
    slices = max(1, min(len(rows), sc.defaultParallelism))
    return spark.createDataFrame(sc.parallelize(rows, slices), schema)


def row_like(table: DataFrame, vals: dict) -> DataFrame:
    """One row with `table`'s columns, in one partition, to union onto
    it: each column named in `vals` holds that value, typed from
    `table`'s schema, and every other column is a typed NULL."""
    given = [f for f in table.schema if f.name in vals]
    row = local_frame(
        table.sparkSession,
        [tuple(vals[f.name] for f in given)],
        T.StructType([T.StructField(f.name, f.dataType) for f in given]),
    )
    return row.select(*(
        f.name if f.name in vals else F.lit(None).cast(f.dataType).alias(f.name)
        for f in table.schema
    ))


def spread_narrow(df: DataFrame, cols: list[str]) -> DataFrame:
    """`df.select(cols)`, round-robin repartitioned to the session's shuffle
    parallelism when the input has fewer partitions."""
    spark = df.sparkSession
    target = int(spark.conf.get("spark.sql.shuffle.partitions", "32") or 32)
    src = df.select(*cols)
    if src.rdd.getNumPartitions() < target:
        src = src.repartition(target)
    return src


def pin(df: DataFrame) -> Column:
    """Non-deterministic `_pin` column for a projection over `df`: it blocks
    CollapseProject/pushdown from re-inlining an expensive projection into
    its consumers or below an exchange. No consumer reads its values.
    Streaming plans reject non-deterministic expressions, so streams get a
    literal instead — per-micro-batch recompute is bounded by the batch
    size, and plan validity wins."""
    return F.expr(pin_sql(df.isStreaming))


def pin_sql(streaming: bool = False) -> str:
    """`pin` as a SQL select item."""
    return f"{'0' if streaming else 'monotonically_increasing_id()'} AS _pin"
