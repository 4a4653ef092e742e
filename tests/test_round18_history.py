"""Round-17 verdict item 4: ONE DESCRIBE HISTORY / VERSION AS OF
contract (`streaming.history`) across the three maintained sinks —
same five columns, one dispatching asof, per-sink servability rules
and named errors unchanged."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.catalog import (
    load_table,
)
from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.operators import (
    layout,
)
from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.streaming import (
    compaction_stream,
    history,
    hybrid_join as hj,
    zorder_stream as zs,
)

_FIVE = {"version", "kind", "watermark", "state", "servable"}


def _check_shape(rows, kind):
    assert rows, f"{kind}: history must not be empty"
    for r in rows:
        assert set(r) == _FIVE
        assert r["kind"] == kind
    assert [r["version"] for r in rows] == sorted(r["version"] for r in rows)


def test_unified_history_zorder(spark, tmp_path):
    """Generation-keyed sink: two fold commits → two versions, both
    servable through the ONE dispatcher; the vacuum drops the old
    version from the listing (the retention contract)."""
    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "zsink")
    os.makedirs(out)
    zs._pin_key(out, "morton")
    ev = load_table(spark, sf, "events")
    staging = os.path.join(out, "staging")
    for b, pred in ((0, "event_id % 2 = 0"), (1, "event_id % 2 != 0")):
        (
            layout.zorder_bucketed(ev.filter(pred))
            .withColumn("batch_id", F.lit(b).cast("long"))
            .write.mode("append")
            .parquet(staging)
        )
        zs._fold(spark, out)
    rows = history.history(out)
    _check_shape(rows, "zorder")
    assert [(r["version"], r["watermark"], r["state"]) for r in rows] == [
        (0, 0, "committed"),
        (1, 1, "current"),
    ]
    assert all(r["servable"] for r in rows)
    n_even = ev.filter("event_id % 2 = 0").count()
    assert history.table_asof(spark, out, 0).count() == n_even
    assert history.table_asof(spark, out, 1).count() == ev.count()
    # vacuum past the retention window: version 0 leaves the history
    zs.sweep_staging(spark, out, keep_generations=1)
    assert [r["version"] for r in history.history(out)] == [1]
    with pytest.raises(RuntimeError, match="not servable"):
        history.table_asof(spark, out, 0)


def test_unified_history_compaction(spark, tmp_path):
    """Sweep-generation-keyed sink: generation 0 (pre-sweep, no
    sidecar) reports servable=False and the dispatcher raises its
    named error; the sweep-committed generation serves."""
    from test_streaming_compaction import _ordered_feed

    feed = _ordered_feed(spark, tmp_path)
    out = str(tmp_path / "csink")
    q = compaction_stream.run_compaction_stream(
        spark, feed, out, checkpoint=str(tmp_path / "ck")
    )
    q.awaitTermination(300)
    q.writer_token.release()
    compaction_stream.finalize_compaction(spark, out)
    total = spark.read.parquet(feed).count()
    compaction_stream.sweep_staging(spark, out, keep_generations=2)
    rows = history.history(out)
    _check_shape(rows, "compaction")
    by_v = {r["version"]: r for r in rows}
    assert by_v[0]["servable"] is False and by_v[0]["watermark"] is None
    assert by_v[1]["servable"] is True and by_v[1]["state"] == "current"
    with pytest.raises(RuntimeError, match="not servable"):
        history.table_asof(spark, out, 0)
    assert history.table_asof(spark, out, 1).count() == total


def test_unified_history_fact(spark, tmp_path):
    """Batch-keyed manifest sink: one version per committed batch, all
    servable."""
    from test_etl_streaming import CSV_ALT, CSV_MAIN, CUSTOMERS, PRODUCTS

    cust = spark.createDataFrame(
        CUSTOMERS,
        "customer_id long, gender string, age_group string, occupation int, "
        "city_category string, marital_status string, "
        "stay_in_current_city_years int",
    )
    prod = spark.createDataFrame(
        PRODUCTS,
        "product_id string, product_category string, price decimal(12,2), "
        "store_id long, supplier_id long",
    )
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "part1.csv").write_text(CSV_MAIN)
    (input_dir / "part2.csv").write_text(CSV_ALT)
    out = str(tmp_path / "sales")
    q = hj.run_stream(
        spark,
        str(input_dir),
        "orderID string, Customer_ID string, Product_ID string, "
        "quantity string, date string",
        cust,
        prod,
        output_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        available_now=True,
    )
    q.awaitTermination(120)
    q.writer_token.release()
    rows = history.history(out)
    _check_shape(rows, "fact")
    assert [r["version"] for r in rows] == [0, 1]
    assert all(
        r["servable"] and r["state"] in ("moved", "committed") for r in rows
    )
    n1 = history.table_asof(spark, out, 1).count()
    assert n1 == spark.read.parquet(out).count()


def test_unified_history_rejects_unowned_dirs(tmp_path):
    """A directory no gate owns is a NAMED error, never a guess."""
    plain = tmp_path / "plain"
    plain.mkdir()
    (plain / "whatever.parquet").write_text("x")
    with pytest.raises(RuntimeError, match="not a maintained sink"):
        history.history(str(plain))
    with pytest.raises(RuntimeError, match="not a maintained sink"):
        history.sink_kind(str(tmp_path / "missing"))
