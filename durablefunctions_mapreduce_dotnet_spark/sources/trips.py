"""Taxi-trip sources: the reference's actual input shape.

The reference reads headered CSV blobs line-at-a-time, naively splits
on ``','`` (no quote handling, ``Sample.cs:151``), and accepts a row
iff it splits into exactly 17 fields and field 0 parses as int
(``Sample.cs:154-157``) — that one predicate doubles as header-skip,
blank-line-skip and malformed-row rejection.

The CSV reader is **faithful**: ``spark.read.text`` + explicit
``split`` reproduces the naive comma split bit-for-bit (Spark's CSV
datasource honors quoting; the reference does not).  Whole-stage
codegen fuses split/parse/filter into one generated loop, so this is
still a single streaming pass.  ``read_trips_parquet`` reads the same
columns from a parquet copy of the corpus.

Both readers attach ``input_file_name()`` as ``file`` because per-file
grouping is load-bearing: the reference's answer is an unweighted
average of per-file averages (``Sample.cs:196-199, 226-233``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: columns the engine actually touches (Sample.cs:154-166) of the 17
#: positional NYC Yellow 2017 columns (FIXTURES.md §1) — project early
#: so parquet readers prune the other 13.
USED_COLUMNS = ["VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime", "trip_distance"]

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def read_trips_csv_faithful(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented read + naive comma split + reference validity rule.

    Emits only the projected columns (P1) plus ``file``; rows failing
    the 17-fields/int-col0 rule (F1) are dropped, exactly like
    ``Sample.cs:154-157``.
    """
    lines = spark.read.text(path).select(
        F.input_file_name().alias("file"), F.split(F.col("value"), ",").alias("f")
    )
    # try_cast / try_to_timestamp / F.get are the exact analogues of the
    # reference's TryParse-then-skip behavior, and stay ANSI-safe (Spark 4
    # default ANSI mode turns plain cast/element_at into runtime errors).
    parsed = lines.select(
        "file",
        F.get("f", 0).try_cast("int").alias("VendorID"),
        F.try_to_timestamp(F.get("f", 1), F.lit(_TS_FMT)).alias("tpep_pickup_datetime"),
        F.try_to_timestamp(F.get("f", 2), F.lit(_TS_FMT)).alias("tpep_dropoff_datetime"),
        F.get("f", 4).try_cast("double").alias("trip_distance"),
        F.size("f").alias("_nfields"),
    )
    return parsed.where(
        (F.col("_nfields") == 17) & F.col("VendorID").isNotNull()
    ).drop("_nfields")


def list_csv_files(spark: SparkSession, path: str) -> DataFrame:
    """The S1 listing universe (``Sample.cs:119``) as a one-column
    ``file`` frame: every file with at least one LINE (header-only
    included), independent of row validity — the denominator the
    reference's avg-of-file-averages counts.  (A 0-byte blob yields no
    text rows in Spark; list such sources with a filesystem glob
    instead.)"""
    return spark.read.text(path).select(F.input_file_name().alias("file")).distinct()


def read_trips_parquet(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    return df.select(F.input_file_name().alias("file"), *USED_COLUMNS).where(
        F.col("VendorID").isNotNull()
    )
