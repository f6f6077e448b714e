"""Reference-format CSV source (headerless, positional, 5 columns).

Covers the reference's extract step (GCS blob → csv.reader, reference
cloud_function.py:53-59,121) as a declarative scan: explicit schema, no
inference, PERMISSIVE parse with a ``_corrupt_record`` side channel so a
malformed line quarantines instead of killing the batch — the distributed
version of the reference's per-record try/except log-and-continue
(reference cloud_function.py:91-95). File-level metadata (the GCS event
envelope, reference cloud_function.py:29-38) maps to the built-in
``_metadata`` columns of the file source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from questdb_etl_jobs_spark.schemas import raw_purchases_reader


def read_purchases_csv(
    spark: SparkSession, path: str, with_file_metadata: bool = False
) -> DataFrame:
    """Scan reference-format purchase CSVs into the raw (all-string) shape."""
    df = raw_purchases_reader(spark.read).option("header", "false").csv(path)
    if with_file_metadata:
        df = df.select(
            "*",
            F.col("_metadata.file_path").alias("_source_file"),
            F.col("_metadata.file_size").alias("_source_size"),
        )
    return df


def write_sorted_csv(
    df: DataFrame,
    path: str,
    ts_col: str,
    single_file: bool = False,
    mode: str = "overwrite",
) -> None:
    """CSV sink (S5): headerless rows sorted by the timestamp column.

    Mirrors the reference's export shape — time-sorted, no header
    (reference data_generator.py:68-76). ``single_file=True`` reproduces
    the reference's one-file-per-export exactly (coalesce(1) — fine for
    export-sized batches); the default keeps the write distributed, with
    files range-partitioned AND sorted by ``ts_col`` so the lexicographic
    file order preserves global time order at any scale.
    """
    out = df.orderBy(ts_col)
    if single_file:
        out = out.coalesce(1)
    (
        out.write.option("header", "false")
        # The reference's wire pattern (cloud_function.py:88).
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss")
        .mode(mode)
        .csv(path)
    )
