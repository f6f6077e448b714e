"""Explicit schemas — validation, not inference, at every boundary.

The reference declares its row shape in code (``Record`` dataclass,
reference cloud_function.py:20-26) and its table shape in DDL
(reference sql/create-table.sql:1); it never infers. We mirror that:
every source in this engine reads with an explicit ``StructType``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Reference pipeline schemas
# ---------------------------------------------------------------------------

#: Raw CSV shape: headerless, positional, 5 string columns
#: (column order per reference data_generator.py:72-73).
PURCHASES_RAW = T.StructType(
    [
        T.StructField("email", T.StringType()),
        T.StructField("item_id", T.StringType()),
        T.StructField("quantity", T.StringType()),
        T.StructField("price", T.StringType()),
        T.StructField("purchase_date", T.StringType()),
        # PERMISSIVE-mode side channel: malformed lines land here instead of
        # killing the batch (per-record fault isolation, the intent of
        # reference cloud_function.py:91-95).
        T.StructField("_corrupt_record", T.StringType()),
    ]
)


def raw_purchases_reader(reader):
    """``reader`` — ``spark.read`` or ``spark.readStream`` — set to scan
    purchase exports into the raw shape: :data:`PURCHASES_RAW`, parsed
    PERMISSIVE so a malformed line lands whole in ``_corrupt_record``."""
    return (
        reader.schema(PURCHASES_RAW)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )


#: Loaded table shape (reference sql/create-table.sql:1):
#: purchases(buyer STRING, item_id INT, quantity INT, price INT,
#:           purchase_date TIMESTAMP) timestamp(purchase_date)
PURCHASES = T.StructType(
    [
        T.StructField("buyer", T.StringType()),
        T.StructField("item_id", T.IntegerType()),
        T.StructField("quantity", T.IntegerType()),
        T.StructField("price", T.IntegerType()),
        T.StructField("purchase_date", T.TimestampType()),
    ]
)

#: Timestamp pattern used on the wire (reference cloud_function.py:88;
#: fixture rows like 2021-03-21T11:00:13).
PURCHASE_TS_PATTERN = "yyyy-MM-dd'T'HH:mm:ss"

#: Designated timestamp column of the purchases table
#: (reference sql/create-table.sql:1 ``timestamp(purchase_date)``).
PURCHASES_DESIGNATED_TS = "purchase_date"

# ---------------------------------------------------------------------------
# Driver test tables (/root/testdata/sf*/<name>.parquet, TESTDATA.md)
# ---------------------------------------------------------------------------
# Explicit schemas double as the readStream schemas (streaming file sources
# require one) and as documentation of the star schema.

TEST_TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    # events.ts is parquet TIMESTAMP(NANOS) on disk; after the loader's
    # conversion (sources/tables.py) it is TimestampType (µs — lossless,
    # the generated data is µs-precision).
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TEST_TABLE_NAMES = tuple(TEST_TABLE_SCHEMAS)
