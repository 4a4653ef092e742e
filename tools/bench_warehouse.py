"""Warehouse-faithful benchmark: master CSVs → ETL → star schema →
the 20 reference queries (``plans/warehouse_queries.py``).

The reference repo publishes no numbers and its transaction dataset is
missing from the mirror (BASELINE.md), so this tool produces the first
reference-native wall-time table: it synthesizes master CSVs in the
reference's exact file shapes (`customer_master_data.csv` /
`product_master_data.csv` / `transactional_data.csv` headers, see
/root/reference/hybridjoin.py:24-44) from the driver testdata at a
chosen scale factor, runs the same ETL path the streaming job uses
(normalize → enrich → id-assign), and times every warehouse query over
the resulting star schema.

Usage:
    python tools/bench_warehouse.py [--sf-dir /root/testdata/sf0.1] \
        [--runs 2] [--out /tmp/warehouse_bench.json]

Prints one JSON line:
    {"metric": "warehouse_total_query_sec", "value": N, "unit": "sec",
     "etl": {"rows": N, "sec": N, "rows_per_sec": N},
     "queries": {q1...: sec}, "sf": 0.1}

With ``--stream`` it additionally replays the transactions through the
near-real-time path (``run_stream``: readStream CSV micro-batches →
normalize → HYBRIDJOIN enrich → id-assign → parquet fact with commit
markers) and reports ingest throughput under a "stream" key — the
reference's headline capability (hybridjoin.py's streaming loop).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import sys
import tempfile
import time
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, functions as F

from bench import run_query

from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.etl.date_dim import (
    build_date_dim,
)
from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.etl.dimensions import (
    build_customer_dim,
    split_product_master,
)
from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.plans import (
    warehouse_queries as wq,
)
from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.session import (
    get_spark,
)
from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.streaming import (
    hybrid_join as hj,
)

AGE_GROUPS = ["0-17", "18-25", "26-35", "36-45", "46-50", "51-55", "55+"]


def synthesize_master_csvs(spark: SparkSession, sf_dir: str, out_dir: str) -> int:
    """Project the driver testdata into the reference's three master-CSV
    shapes. Deterministic (key-arithmetic only), so reruns are stable.
    Returns the transaction row count."""
    customer = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    part = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    lineitem = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))

    k = F.col("c_custkey")
    cust_csv = customer.select(
        (k - 1).alias("index"),
        (F.lit(1000000) + k).alias("Customer_ID"),
        F.when(k % 2 == 0, "M").otherwise("F").alias("Gender"),
        F.element_at(F.lit(AGE_GROUPS), (k % 7 + 1).cast("int")).alias("Age"),
        (k % 21).alias("Occupation"),
        F.element_at(F.lit(["A", "B", "C"]), (k % 3 + 1).cast("int")).alias(
            "City_Category"
        ),
        (k % 5).alias("Stay_In_Current_City_Years"),
        (k % 2).alias("Marital_Status"),
    )

    pk = F.col("p_partkey")
    prod_csv = part.select(
        (pk - 1).alias("index"),
        F.concat(F.lit("P"), pk.cast("string")).alias("Product_ID"),
        F.col("p_type").alias("Product_Category"),
        F.col("p_retailprice").cast("decimal(12,2)").alias("price$"),
        (pk % 8 + 1).alias("storeID"),
        (pk % 7 + 1).alias("supplierID"),
        F.concat(F.lit("Store "), (pk % 8 + 1).cast("string")).alias("storeName"),
        F.concat(F.lit("Supplier "), (pk % 7 + 1).cast("string")).alias(
            "supplierName"
        ),
    )

    tx = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_orderkey").alias("orderID"),
            (F.lit(1000000) + F.col("o_custkey")).alias("Customer_ID"),
            F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias(
                "Product_ID"
            ),
            F.col("l_quantity").cast("int").alias("quantity"),
            # cast to DATE first: the raw column is a timestamp, whose
            # string form ("1997-01-03 00:00:00") the ETL's multi-format
            # date parser rejects — every fact then fell back to the
            # 1900 sentinel and the date-dim join dropped ALL rows, so
            # the warehouse twins were timed returning empty results
            # (round-11 find; BASELINE re-measured after the fix)
            F.col("o_orderdate").cast("date").cast("string").alias("date"),
        )
        .persist()  # written once, counted once — no join recompute
    )

    for name, df in (("customer", cust_csv), ("product", prod_csv), ("tx", tx)):
        tmp = os.path.join(out_dir, f"_{name}")
        df.coalesce(1).write.option("header", True).mode("overwrite").csv(tmp)
        part_file = next(
            f for f in os.listdir(tmp) if f.startswith("part-") and f.endswith(".csv")
        )
        shutil.move(os.path.join(tmp, part_file), os.path.join(out_dir, f"{name}.csv"))
        shutil.rmtree(tmp)
    n = tx.count()
    tx.unpersist()
    return n


class Star(NamedTuple):
    rows: int  # synthesized transactions
    etl_sec: float  # dims → enrich → ids → fact write, wall seconds
    years: list[int]  # the fact's years, ascending
    tables: dict[str, DataFrame]  # the registered warehouse views


def build_star(spark: SparkSession, sf_dir: str, work: str) -> Star:
    """Synthesize the master CSVs into ``work``, run the reference ETL
    (dims → normalize → HYBRIDJOIN enrich → id assignment → parquet fact
    under ``work``) and register the warehouse views over it. The views
    read files in ``work``, so it must outlive their use.

    ``etl_sec`` times the ETL from the dims to the written fact, without
    the CSV synthesis or the ``date_dim`` setup — the reference's only
    recorded metric is this wall clock (its hybridjoin.py:500-501).
    ``date_dim`` spans the fact's whole years: all 20 warehouse queries
    return the same rows as over the tx min..max date range (checked at
    sf0.001 and sf0.01)."""
    rows = synthesize_master_csvs(spark, sf_dir, work)
    t0 = time.time()
    customer = build_customer_dim(spark, os.path.join(work, "customer.csv"))
    product, store, supplier = split_product_master(
        spark, os.path.join(work, "product.csv")
    )
    raw = spark.read.option("header", True).csv(os.path.join(work, "tx.csv"))
    fact, _n, cleanup = hj.assign_sales_ids(
        hj.enrich(hj.normalize_stream(raw), customer, product), offset=0
    )
    fact_path = os.path.join(work, "sales_parquet")
    fact.write.mode("overwrite").parquet(fact_path)
    cleanup()  # drop the id-assignment intermediate cache
    etl_sec = time.time() - t0
    sales = spark.read.parquet(fact_path)
    years = sorted(
        r["y"]
        for r in sales.selectExpr("date_id DIV 10000 AS y").distinct().collect()
        if r["y"] is not None
    )
    date_dim = build_date_dim(
        spark, dt.date(years[0], 1, 1), dt.date(years[-1], 12, 31)
    )
    tables = {
        "customer": customer,
        "product": product,
        "store": store,
        "supplier": supplier,
        "date_dim": date_dim,
        "sales": sales,
    }
    wq.register_warehouse(spark, tables)
    return Star(rows, etl_sec, years, tables)


TX_DDL = "orderID string, Customer_ID string, Product_ID string, quantity string, date string"


def bench_stream(
    spark: SparkSession,
    work: str,
    customer: DataFrame,
    product: DataFrame,
    files: int = 16,
    max_files_per_trigger: int = 4,
) -> dict:
    """Replay the synthesized transactions through the streaming path
    (files/maxFilesPerTrigger micro-batches) and measure ingest rate."""
    stream_in = os.path.join(work, "stream_in")
    # Re-shard the one-file CSV into `files` arrival units (each with a
    # header row, as a feed would land them — run_stream reads csv with
    # header=True).
    (
        spark.read.option("header", True)
        .csv(os.path.join(work, "tx.csv"))
        .repartition(files)
        .write.mode("overwrite")
        .option("header", True)
        .csv(stream_in)
    )
    out = os.path.join(work, "stream_sales")
    ckpt = os.path.join(work, "stream_ckpt")
    t0 = time.time()
    q = hj.run_stream(
        spark,
        stream_in,
        TX_DDL,
        customer,
        product,
        output_dir=out,
        checkpoint_dir=ckpt,
        max_files_per_trigger=max_files_per_trigger,
        available_now=True,
    )
    q.awaitTermination()
    sec = time.time() - t0
    q.writer_token.release()
    loaded = spark.read.parquet(out).count()
    return {
        "rows": loaded,
        "sec": round(sec, 3),
        "rows_per_sec": int(loaded / sec),
        "micro_batches": -(-files // max_files_per_trigger),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--stream", action="store_true", help="also bench streaming ingest")
    ap.add_argument("--stream-files", type=int, default=16)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    try:
        sf = float(os.path.basename(args.sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    spark = get_spark("bench-warehouse")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="wh_bench_")
    try:
        star = build_star(spark, args.sf_dir, work)
        # The reference pins the year literal to the first year of ITS
        # dataset (2017 of 2017–2020, queries.sql:9,143,162); bind the
        # parameterized year to this dataset's first year the same way.
        bench_year = star.years[0]
        names = sorted(wq.WAREHOUSE_QUERIES)
        run_query(wq.run_query, spark, names[0], year=bench_year)  # codegen/footer warm-up
        timings: dict[str, float] = {}
        for _ in range(max(1, args.runs)):
            for name in names:
                t = round(run_query(wq.run_query, spark, name, year=bench_year), 3)
                timings[name] = min(timings.get(name, t), t)

        stream_stats = None
        if args.stream:
            stream_stats = bench_stream(
                spark,
                work,
                star.tables["customer"],
                star.tables["product"],
                files=args.stream_files,
            )

        result = {
            "metric": "warehouse_total_query_sec",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "etl": {
                "rows": star.rows,
                "sec": round(star.etl_sec, 3),
                "rows_per_sec": int(star.rows / star.etl_sec),
            },
            "queries": timings,
            "sf": sf,
        }
        if stream_stats:
            result["stream"] = stream_stats
        print(json.dumps(result))
        if args.out:
            with open(args.out, "w") as fh:
                json.dump(result, fh, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
