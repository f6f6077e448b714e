"""Reference-format purchases as JSON Lines (alternate wire format).

The reference pipeline's extract step is format-agnostic in spirit — a
GCS object of records (reference cloud_function.py:53-59); exports from
modern sources arrive as JSONL at least as often as CSV. This source
reads JSONL purchase records into the SAME raw all-string shape the CSV
scan produces (`schemas.PURCHASES_RAW`), so the entire downstream
pipeline — anonymize, cast, quarantine split, designated-ts write —
applies unchanged: schema-on-read declares every field as STRING and
Spark's JSON reader renders numeric tokens as their literal strings,
exactly the CSV wire form.

Malformed lines follow the same PERMISSIVE + ``_corrupt_record`` side
channel as the CSV source (the distributed form of the reference's
per-record try/except, cloud_function.py:91-95).

Note on Avro: Spark's avro datasource is an external module
(spark-avro jar) not shipped in this sandbox's pyspark — like the JDBC
driver jar, it is environment-blocked; the reader here plus the parquet/
ORC designated-ts paths cover the formats the sandbox can execute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from questdb_etl_jobs_spark.schemas import raw_purchases_reader


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Scan JSON-lines with an enforced schema + corrupt-record column.

    The returned frame has ``schema``'s fields plus ``_corrupt_record``
    (NULL for clean rows, the raw line for rows that failed to parse or
    type-check) — split it exactly like the CSV quarantine path.

    Caveat (Spark ≥2.3): a query that references ONLY the corrupt column
    of a raw JSON scan is disallowed — ``persist()`` the parsed frame
    before counting/inspecting the quarantine branch alone (the batch
    pipeline's persist-around-split does this anyway).
    """
    # fresh StructType: .add() mutates the caller's schema in place
    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def write_jsonl(df: DataFrame, path: str, mode: str = "append") -> None:
    """JSON-lines sink (one object per line, splittable at scale)."""
    df.write.mode(mode).json(path)


def read_purchases_jsonl(
    spark: SparkSession, path: str, with_file_metadata: bool = False
) -> DataFrame:
    """Scan JSONL purchase records into the raw (all-string) shape."""
    df = raw_purchases_reader(spark.read).json(path)
    if with_file_metadata:
        df = df.select(
            "*",
            F.col("_metadata.file_path").alias("_source_file"),
            F.col("_metadata.file_size").alias("_source_size"),
        )
    return df
