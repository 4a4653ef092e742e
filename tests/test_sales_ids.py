"""Sales-id assignment (S10) and the dimension defaults it relies on.

Ids are ``row_number()`` over one window ordered by the id-order key,
plus the running offset. ``assign_sales_ids`` (the batch callers' form)
persists and counts a batch first; the streaming sink instead numbers
the batch lazily and takes its row count from the write. These tests
pin the plan shape (no range shuffle, one window, no driver-built table
joined back), the numbering against a single-window reference, the
sink's one-pass numbering, and the sink's behaviour when a whole batch
is dropped before numbering.
"""

from __future__ import annotations

import os
import re
from decimal import Decimal

from pyspark.sql import Window
from pyspark.sql import functions as F

from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.etl.dimensions import (
    split_product_master,
)
from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.streaming import (
    hybrid_join as hj,
)

N_ROWS = 12_000
OFFSET = 1_000


def _fact_rows(spark, path):
    """A parquet-backed enriched batch. Every 7th id repeats the previous
    row's id-order key (only ``sales_amount`` differs), so ties exist."""
    key = F.col("id") - (F.col("id") % 7 == 0).cast("long")
    spark.range(1, N_ROWS + 1).select(
        F.format_string("O%06d", key % 4000).alias("order_id"),
        (1_000_000 + key % 97).alias("customer_id"),
        F.format_string("P%04d", key % 31).alias("product_id"),
        F.lit(20170304).alias("date_id"),
        F.lit(1).cast("long").alias("store_id"),
        F.lit(1).cast("long").alias("supplier_id"),
        (F.col("id") / 100).cast("decimal(12,2)").alias("sales_amount"),
        (key % 5).cast("int").alias("quantity"),
    ).write.parquet(path)
    return spark.read.parquet(path)


def test_numbering_matches_single_window_without_a_driver_table(spark, tmp_path):
    batch = _fact_rows(spark, str(tmp_path / "batch"))
    n_ranges = (
        batch.repartitionByRange(*hj._ID_ORDER)
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert n_ranges >= 2

    numbered, n, cleanup = hj.assign_sales_ids(batch, OFFSET)
    try:
        got = numbered.collect()
        executed = numbered._jdf.queryExecution().executedPlan()
        plan = executed.toString()
        final = executed.executedPlan().toString()  # AQE's final plan, cache included
    finally:
        cleanup()
    assert n == N_ROWS == len(got)
    assert "ExistingRDD" not in plan
    assert "BroadcastHashJoin" not in plan
    # one ordered window over the whole batch, no range shuffle
    assert "rangepartitioning" not in final.lower()
    assert len(re.findall(r"\bWindow \[", final)) == 1

    # ids are unique and exactly OFFSET+1 .. OFFSET+N
    assert sorted(r.sales_id for r in got) == list(range(OFFSET + 1, OFFSET + N_ROWS + 1))

    # Per id-order key: the ids a key's rows get equal the ranks its rows
    # take under one global window — exact for a unique key, the same
    # contiguous range for a tied key (ties may be ordered either way).
    ref = batch.withColumn(
        "ref", F.row_number().over(Window.orderBy(*hj._ID_ORDER)) + F.lit(OFFSET)
    )
    want = {
        tuple(r[:4]): (r.lo, r.hi, r.k)
        for r in ref.groupBy(*hj._ID_ORDER)
        .agg(F.min("ref").alias("lo"), F.max("ref").alias("hi"), F.count("*").alias("k"))
        .collect()
    }
    have: dict[tuple, list[int]] = {}
    for r in got:
        have.setdefault(tuple(r[c] for c in hj._ID_ORDER), []).append(r.sales_id)
    assert len(have) == len(want)
    tied = 0
    for key, ids in have.items():
        assert (min(ids), max(ids), len(ids)) == want[key], key
        assert max(ids) - min(ids) + 1 == len(ids), key  # contiguous
        tied += len(ids) > 1
    assert tied > 0

    # Within a tied key the rows' other columns still come along whole:
    # the sum of amounts per key matches the input's.
    amounts = {}
    for r in got:
        k = tuple(r[c] for c in hj._ID_ORDER)
        amounts[k] = amounts.get(k, Decimal(0)) + r.sales_amount
    src = {
        tuple(r[:4]): r.s
        for r in batch.groupBy(*hj._ID_ORDER).agg(F.sum("sales_amount").alias("s")).collect()
    }
    assert amounts == src


CUSTOMERS = [(1000001 + i, "M", "26-35", 7, "A", "0", 2) for i in range(10)]
PRODUCTS = [("P001", "Toys", Decimal("10.50"), 3, 2), ("P002", "Tools", Decimal("4.25"), 4, 5)]
SCHEMA = "orderID string, Customer_ID string, Product_ID string, quantity string, date string"


def _dims(spark):
    cust = spark.createDataFrame(
        CUSTOMERS,
        "customer_id long, gender string, age_group string, occupation int, "
        "city_category string, marital_status string, stay_in_current_city_years int",
    )
    prod = spark.createDataFrame(
        PRODUCTS,
        "product_id string, product_category string, price decimal(12,2), "
        "store_id long, supplier_id long",
    )
    return cust, prod


def test_all_dropped_batch_commits_and_next_ids_start_at_one(spark, tmp_path):
    cust, prod = _dims(spark)
    inp, out, ckpt = tmp_path / "in", str(tmp_path / "sales"), str(tmp_path / "ckpt")
    inp.mkdir()

    def drain():
        q = hj.run_stream(
            spark, str(inp), SCHEMA, cust, prod, output_dir=out, checkpoint_dir=ckpt
        )
        q.awaitTermination(120)
        q.writer_token.release()

    header = "orderID,Customer_ID,Product_ID,quantity,date\n"
    # every customer unknown → J1 drops every row
    (inp / "a.csv").write_text(
        header + "".join(f"{i},9{i:06d},P001,1,2017-03-04\n" for i in range(50))
    )
    drain()
    snaps = hj.fact_snapshots(out)
    assert [(s["batch_id"], s["state"]) for s in snaps] == [(0, "moved")]

    n = 470
    (inp / "b.csv").write_text(
        header
        + "".join(
            f"{i},{1000001 + i % 10},P00{1 + i % 2},{1 + i % 3},2017-03-04\n"
            for i in range(n)
        )
    )
    drain()
    assert [(s["batch_id"], s["state"]) for s in hj.fact_snapshots(out)] == [
        (0, "moved"),
        (1, "moved"),
    ]
    ids = sorted(r.sales_id for r in spark.read.parquet(out).collect())
    assert ids == list(range(1, n + 1))


def test_sink_numbers_each_batch_without_persist_or_count(
    spark, tmp_path, monkeypatch
):
    """The sink runs no separate count pass and caches nothing: with
    ``persist`` and ``count`` raising, three files (the middle one
    entirely J1-dropped) still commit as three batches whose ids are
    contiguous per batch and 1..N overall."""
    cust, prod = _dims(spark)
    inp, out, ckpt = tmp_path / "in", str(tmp_path / "sales"), str(tmp_path / "ckpt")
    inp.mkdir()
    header = "orderID,Customer_ID,Product_ID,quantity,date\n"
    kept = {"a.csv": 310, "c.csv": 125}
    for k, (name, n) in enumerate(kept.items()):
        (inp / name).write_text(
            header
            + "".join(
                f"{k}{i:04d},{1000001 + i % 10},P00{1 + i % 2},{1 + i % 3},2017-03-04\n"
                for i in range(n)
            )
        )
    (inp / "b.csv").write_text(
        header + "".join(f"{i},9{i:06d},P001,1,2017-03-04\n" for i in range(40))
    )

    def boom(*_args, **_kwargs):
        raise AssertionError("the sink must not persist or count a batch")

    frame = type(spark.range(1))
    with monkeypatch.context() as m:
        m.setattr(frame, "persist", boom)
        m.setattr(frame, "count", boom)
        q = hj.run_stream(
            spark, str(inp), SCHEMA, cust, prod, output_dir=out, checkpoint_dir=ckpt
        )
        q.awaitTermination(120)
        q.writer_token.release()

    assert [(s["batch_id"], s["state"]) for s in hj.fact_snapshots(out)] == [
        (0, "moved"),
        (1, "moved"),
        (2, "moved"),
    ]
    total = sum(kept.values())
    ids = sorted(r.sales_id for r in spark.read.parquet(out).collect())
    assert ids == list(range(1, total + 1))

    # each batch's ids are one contiguous range, following the last batch's
    sizes, end = [], 0
    for _bid, manifest in hj._manifests(out):
        paths = [os.path.join(out, f) for f in manifest["files"]]
        got = sorted(r.sales_id for r in spark.read.parquet(*paths).collect()) if paths else []
        assert got == list(range(end + 1, end + len(got) + 1))
        end += len(got)
        sizes.append(len(got))
    assert sorted(sizes) == sorted([0, *kept.values()])


def test_default_store_and_supplier_rows_appear_once(spark, tmp_path):
    """The default store/supplier row is added once whether or not the
    master already names id 1."""
    csv = tmp_path / "product.csv"
    csv.write_text(
        "index,Product_ID,Product_Category,price$,storeID,supplierID,storeName,supplierName\n"
        "0,P001,Toys,10.50,1,2,Unknown Store,Supplier Two\n"
        "1,P002,Appliances,79.95,4,1,Store Four,Unknown Supplier\n"
        "2,P003,Toys,5.25,4,5,Store Four,Supplier Five\n"
    )
    _product, store, supplier = split_product_master(spark, str(csv))
    assert sorted(tuple(r) for r in store.collect()) == [
        (1, "Unknown Store"),
        (4, "Store Four"),
    ]
    assert sorted(tuple(r) for r in supplier.collect()) == [
        (1, "Unknown Supplier"),
        (2, "Supplier Two"),
        (5, "Supplier Five"),
    ]
    assert [f.dataType.simpleString() for f in store.schema] == ["bigint", "string"]
    assert [f.dataType.simpleString() for f in supplier.schema] == ["bigint", "string"]
