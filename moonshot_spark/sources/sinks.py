"""Results / orders sinks (SURVEY §2.1 S9–S10).

The reference returns in-RAM DataFrames; at scale results land in
partitioned Parquet: the long results panel partitions by ``field`` (each
metric independently scannable — reading just `Return` touches 1/10th of
the data), orders append-partition by trade date.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_orders(orders: DataFrame, path: str, trade_date=None,
                 mode: str = "append") -> None:
    """Append orders partitioned by trade date (S10)."""
    if trade_date is not None:
        orders = orders.withColumn("trade_date",
                                   F.lit(str(trade_date)).cast("date"))
    if "trade_date" in orders.columns:
        orders.write.mode(mode).partitionBy("trade_date").parquet(path)
    else:
        orders.write.mode(mode).parquet(path)


RESULT_FORMATS = ("parquet", "orc", "csv", "json")


def write_results(results: DataFrame, path: str, mode: str = "overwrite",
                  fmt: str = "parquet") -> None:
    """Partition the long results panel by field (S9).  parquet (default)
    and orc are the columnar scale formats (codec'd, min/max pruned);
    csv/json are interchange escapes for small extracts; the partition
    layout is the same in every format."""
    if fmt not in RESULT_FORMATS:
        raise ValueError(
            f"unknown results format {fmt!r}: choose from {RESULT_FORMATS}")
    w = results.write.mode(mode).partitionBy("field")
    if fmt == "csv":
        w.option("header", True).csv(path)
    else:
        getattr(w, fmt)(path)


def read_results(spark: SparkSession, path: str,
                 fields: list[str] | None = None,
                 fmt: str = "parquet") -> DataFrame:
    """Counterpart reader; the field filter partition-prunes in every
    format (it's a directory key, not a data column)."""
    if fmt not in RESULT_FORMATS:
        raise ValueError(
            f"unknown results format {fmt!r}: choose from {RESULT_FORMATS}")
    r = spark.read
    if fmt == "csv":
        r = r.option("header", True).option("inferSchema", True)
    df = getattr(r, fmt)(path)
    if fields:
        df = df.where(F.col("field").isin(fields))
    return df
