"""Declared StructType schemas -- the engine's schema system (SURVEY.md
§1.2-1.3): the reference declares fixed schemas at every layer
(mysql-init/01-setup.sql:9-71 DDL, olake-config/destination.json:119-131
per-table Iceberg schemas, scripts/iceberg-setup.sql:53-62 silver column
list). These StructTypes are the Spark equivalents; tests pin the
generators and operators to them so schema drift is caught, the way the
reference's explicit column lists do.
"""

from __future__ import annotations

from pyspark.sql import types as T

# E-commerce model (mysql-init/01-setup.sql:9-71 via sources/datagen.py;
# DECIMAL columns surface as rounded doubles -- documented divergence,
# functions/__init__.py determinism note).
USERS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("username", T.StringType(), False),
        T.StructField("email", T.StringType(), False),
        T.StructField("age", T.IntegerType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("created_date", T.DateType(), True),
    ]
)

PRODUCTS_SCHEMA = T.StructType(
    [
        T.StructField("product_id", T.LongType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("category", T.StringType(), True),
        T.StructField("price", T.DoubleType(), True),
        T.StructField("stock_quantity", T.IntegerType(), True),
        T.StructField("is_active", T.BooleanType(), True),
    ]
)

ORDERS_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.LongType(), False),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("product_id", T.LongType(), True),
        T.StructField("quantity", T.IntegerType(), True),
        T.StructField("unit_price", T.DoubleType(), True),
        T.StructField("total_amount", T.DoubleType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("order_date", T.DateType(), True),
    ]
)

SESSIONS_SCHEMA = T.StructType(
    [
        T.StructField("session_id", T.LongType(), False),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("session_token", T.StringType(), False),
        T.StructField("device", T.StringType(), True),
        T.StructField("duration_secs", T.IntegerType(), True),
        T.StructField("pages_viewed", T.IntegerType(), True),
        T.StructField("login_date", T.DateType(), True),
    ]
)

# Multimodal asset layout (sources/multimodal.py): opaque payload +
# typed metadata struct.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("format", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", MEDIA_META_SCHEMA, True),
    ]
)


def names_and_types(schema: T.StructType) -> list[tuple[str, str]]:
    """(name, simpleString-type) pairs -- nullability-insensitive compare
    (Spark's inferred nullability differs by construction path)."""
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]
