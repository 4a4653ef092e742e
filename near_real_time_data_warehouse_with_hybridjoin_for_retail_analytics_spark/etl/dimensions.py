"""Batch dimension ETL — the Spark replacement for master_data.ipynb.

Reference flow (cells 73c3ae1c → e17cc4d7/2e44aab9): pandas read_csv →
drop_duplicates projections (supplier/store/product) → executemany
INSERTs. Here: spark.read.csv with explicit casts → trim/validate →
dropDuplicates → parquet dims, with the default supplier/store rows
injected idempotently (hybridjoin.py:69-78, SURVEY §2.1 S7/S8).

The denormalized product master CSV (product_master_data.csv columns:
Product_ID, Product_Category, price$, storeID, supplierID, storeName,
supplierName) is split into the three dimensions exactly as the
notebook does (cells bfa480a3/b6fc2ec4/168be966).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import (
    DEFAULT_STORE_ID,
    DEFAULT_STORE_NAME,
    DEFAULT_SUPPLIER_ID,
    DEFAULT_SUPPLIER_NAME,
    validate_customer,
    validate_product,
)


def _read_csv(spark: SparkSession, path: str) -> DataFrame:
    """Header CSV read; every column arrives as string (no inferSchema —
    the warehouse owns its types) and gets whitespace-trimmed (P1)."""
    df = spark.read.option("header", True).csv(path)
    return df.select([F.trim(F.col(c)).alias(c.strip()) for c in df.columns])


def build_customer_dim(spark: SparkSession, csv_path: str) -> DataFrame:
    raw = _read_csv(spark, csv_path)
    dim = raw.select(
        F.col("Customer_ID").cast("long").alias("customer_id"),
        F.col("Gender").alias("gender"),
        F.col("Age").alias("age_group"),
        F.col("Occupation").cast("int").alias("occupation"),
        F.col("City_Category").alias("city_category"),
        F.col("Marital_Status").alias("marital_status"),
        F.col("Stay_In_Current_City_Years").cast("int").alias(
            "stay_in_current_city_years"
        ),
    )
    return validate_customer(dim).dropDuplicates(["customer_id"])


def split_product_master(
    spark: SparkSession, csv_path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """product_master CSV → (product_dim, store_dim, supplier_dim).

    S4 schema introspection (reference hybridjoin.py:88-99 probes
    information_schema for optional columns): a product master without
    storeID/supplierID (or the name columns) still loads — missing ids
    fall back to the default store/supplier (hybridjoin.py:17-18), and
    the corresponding dim reduces to its default row.
    """
    raw = _read_csv(spark, csv_path)
    cols = set(raw.columns)
    store_id = (
        F.col("storeID").cast("long")
        if "storeID" in cols
        else F.lit(DEFAULT_STORE_ID).cast("long")
    )
    supplier_id = (
        F.col("supplierID").cast("long")
        if "supplierID" in cols
        else F.lit(DEFAULT_SUPPLIER_ID).cast("long")
    )
    store_name = (
        F.col("storeName")
        if "storeName" in cols
        else F.lit(DEFAULT_STORE_NAME)
    )
    supplier_name = (
        F.col("supplierName")
        if "supplierName" in cols
        else F.lit(DEFAULT_SUPPLIER_NAME)
    )

    product = validate_product(
        raw.select(
            F.col("Product_ID").alias("product_id"),
            F.col("Product_Category").alias("product_category"),
            F.col("price$").cast("decimal(12,2)").alias("price"),
            store_id.alias("store_id"),
            supplier_id.alias("supplier_id"),
        )
    ).dropDuplicates(["product_id"])

    store = (
        raw.select(store_id.alias("store_id"), store_name.alias("store_name"))
        .dropDuplicates(["store_id"])
        .unionByName(
            spark.range(1).select(
                F.lit(DEFAULT_STORE_ID).cast("long").alias("store_id"),
                F.lit(DEFAULT_STORE_NAME).alias("store_name"),
            )
        )
        .dropDuplicates(["store_id"])
    )
    supplier = (
        raw.select(supplier_id.alias("supplier_id"), supplier_name.alias("supplier_name"))
        .dropDuplicates(["supplier_id"])
        .unionByName(
            spark.range(1).select(
                F.lit(DEFAULT_SUPPLIER_ID).cast("long").alias("supplier_id"),
                F.lit(DEFAULT_SUPPLIER_NAME).alias("supplier_name"),
            )
        )
        .dropDuplicates(["supplier_id"])
    )
    return product, store, supplier


def write_dim(df: DataFrame, path: str) -> None:
    """Dims are small: one file each, overwritten idempotently."""
    df.coalesce(1).write.mode("overwrite").parquet(path)
