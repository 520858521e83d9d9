"""Corrupt-record-tolerant ingestion (quarantine pattern).

Real feeds at 100 TB always contain malformed rows; failing the whole job
on one bad line (FAILFAST) or silently nulling it (default PERMISSIVE
without capture) are both wrong for a production pipeline.  The standard
pattern: parse PERMISSIVE with a ``_corrupt_record`` capture column and
split the stream into (clean rows, quarantined raw lines) — clean data
flows on, the quarantine is audited/replayed.

Both readers are a single pass: the split is two lazy filters over one
scan lineage, and at scale the quarantine side is a sliver (write it to
its own path; never collect it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from moonshot_spark import materialize

CORRUPT_COL = "_corrupt_record"


def _with_corrupt_field(schema: StructType) -> StructType:
    if any(f.name == CORRUPT_COL for f in schema.fields):
        return schema
    return StructType(list(schema.fields)
                      + [StructField(CORRUPT_COL, StringType(), True)])


def _split_quarantine(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean rows without the capture column, raw text of the rest)."""
    # Spark disallows referencing ONLY the corrupt column over a raw file
    # scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN): the parsed frame must be
    # materialized first.  Persisted here; at 100 TB persist(DISK_ONLY)
    # or land the parsed+capture frame to parquet and split from there.
    raw = materialize.persist(raw)
    clean = raw.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = (raw.where(F.col(CORRUPT_COL).isNotNull())
                  .select(F.col(CORRUPT_COL).alias("raw_record")))
    return clean, quarantine


def read_json_with_quarantine(spark: SparkSession, path: str,
                              schema: StructType
                              ) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine) from line-delimited JSON: clean rows parse the
    full schema; quarantine rows carry the raw malformed line.  Spark
    requires the corrupt column to be cached/materialized-safe, so the
    capture column is part of the read schema, not a post-hoc filter."""
    full = _with_corrupt_field(schema)
    return _split_quarantine(
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path))


def read_csv_with_quarantine(spark: SparkSession, path: str,
                             schema: StructType, header: bool = True
                             ) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine) from CSV with the same contract as the JSON
    reader: type-mismatched or column-count-mismatched lines land in the
    quarantine with their raw text."""
    full = _with_corrupt_field(schema)
    return _split_quarantine(
        spark.read.schema(full)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path))
