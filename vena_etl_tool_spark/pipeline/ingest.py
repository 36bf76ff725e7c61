"""CSV validation + typed ingest with quarantine.

Reference parity (upgraded):
- validate_csv_file: existence → error, non-.csv extension → warning but
  proceed, emits fileName/fileSize — exactly the reference's soft predicate
  (/root/reference/src/utils/fileHandling.js:12-38).
- ingest_csv: where the reference reads the whole file into driver RAM as
  an opaque buffer (fileHandling.js:45-47 — its scalability ceiling), we
  do a splittable, typed, PERMISSIVE-mode Spark scan: bad rows land in a
  corrupt-record column and are split into a quarantine DataFrame instead
  of silently proceeding. At 100 TB this is executor-parallel and never
  materializes the file anywhere.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .spec import PipelineSpec

CORRUPT_COL = "_corrupt_record"
SOURCE_COL = "_source_file"


@dataclass
class ValidationResult:
    success: bool
    file_name: str = ""
    file_size_kb: str = ""
    error: str | None = None
    warning: str | None = None


def validate_csv_file(path: str) -> ValidationResult:
    """Pre-flight predicate: missing file is an error; a non-.csv extension
    is only a warning (proceed anyway), matching the reference's semantics
    at fileHandling.js:25-30."""
    if not os.path.exists(path):
        return ValidationResult(False, error=f"File not found: {path}")
    name = os.path.basename(path)
    size_kb = f"{os.path.getsize(path) / 1024:.2f}"
    warning = None
    if not name.lower().endswith(".csv"):
        warning = f"File does not have .csv extension: {name}"
    return ValidationResult(True, file_name=name, file_size_kb=size_kb, warning=warning)


@dataclass
class IngestResult:
    good: DataFrame
    quarantine: DataFrame
    n_good: int
    n_quarantined: int
    scan: DataFrame  # the cached scan behind good/quarantine; owner unpersists


def ingest_csv(spark: SparkSession, path: str, spec: PipelineSpec) -> IngestResult:
    """Typed PERMISSIVE CSV scan with quarantine split.

    Parse failures don't kill the load (the reference proceeds blindly; we
    proceed *accountably*): rows that fail the schema land in the
    quarantine frame with their raw text and source file preserved for
    replay. The scan is cached (Spark rejects a query that reads only the
    corrupt-record column of an uncached scan); the cache is keyed by plan,
    not file contents, so the caller must ``unpersist`` ``result.scan`` or a
    later ingest of the same path is served the old rows. The file name is
    taken below the cache: ``input_file_name()`` above it evaluates to ''.
    """
    schema_with_corrupt = T.StructType(
        list(spec.schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    raw = (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .schema(schema_with_corrupt)
        .csv(path)
        # only quarantined rows carry it, so good rows cache no extra bytes
        .withColumn(
            SOURCE_COL,
            F.when(F.col(CORRUPT_COL).isNotNull(), F.input_file_name()),
        )
    ).cache()
    good = raw.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL, SOURCE_COL)
    if spec.column_mapping:
        for src, dst in spec.column_mapping.items():
            good = good.withColumnRenamed(src, dst)
    quarantine = raw.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_record"),
        F.col(SOURCE_COL).alias("source_file"),
    )
    # one action for both counts (a single scan materializes the cache);
    # count(col) counts non-nulls, so corrupt rows are exactly its value
    counts = raw.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.col(CORRUPT_COL)).alias("n_bad"),
    ).first()
    return IngestResult(
        good=good,
        quarantine=quarantine,
        n_good=counts.n_total - counts.n_bad,
        n_quarantined=counts.n_bad,
        scan=raw,
    )


def write_table(df: DataFrame, path: str, mode: str = "overwrite", fmt: str = "parquet") -> None:
    """Storage sink (reference A10's upload analog for file targets)."""
    df.write.mode(mode).format(fmt).save(path)
