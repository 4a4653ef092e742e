"""ETL end-to-end tests (SURVEY §5.2/§5.3).

Replays a messy transactions CSV set (alternate header spellings,
whitespace padding, mixed date formats, unknown customers/products,
float-string quantities, missing required fields) through the
Structured Streaming pipeline and asserts:

  * stream output == batch-computed enrichment of the same input
    (the HYBRIDJOIN-parity property), including sales_id assignment;
  * each reference drop/default semantic individually.
"""

from __future__ import annotations

import shutil
import subprocess
import sys
import tempfile
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.streaming import (
    hybrid_join as hj,
)

CSV_MAIN = """orderID,Customer_ID,Product_ID,quantity,date
100,1000001,P001,2,2017-03-04
100,1000001,P002, 1 ,04-03-2017
101,1000002,P001,2.0,03/04/2017
102,1000003,P001,1,2017/03/05
103,9999999,P001,5,2017-03-04
104,1000001,PMISSING,3,2017-03-06
105,1000002,P002,4,not-a-date
,1000001,P001,1,2017-03-04
106,,P001,1,2017-03-04
107,1000001,,1,2017-03-04
108,1000001,P001,,2017-03-04
109,1000001,P001,1,
"""

# Alternate header spellings (hybridjoin.py:382-385 probing)
CSV_ALT = """order_id,customer_id,product_id,Quantity,transaction_date
200,1000003,P002,2,2017-12-31
201,1000001,P001,oops,2017-06-15
"""

CUSTOMERS = [
    (1000001, "M", "26-35", 7, "A", "0", 2),
    (1000002, "F", "18-25", 3, "B", "1", 1),
    (1000003, "F", "55+", 12, "C", "0", 4),
]
PRODUCTS = [
    ("P001", "Toys", Decimal("10.50"), 3, 2),
    ("P002", "Appliances", Decimal("79.95"), 4, 5),
]


@pytest.fixture(scope="module")
def dims(spark):
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


@pytest.fixture(scope="module")
def workdir():
    d = tempfile.mkdtemp(prefix="hjtest_")
    yield Path(d)
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def stream_result(spark, dims, workdir):
    cust, prod = dims
    input_dir = workdir / "in"
    input_dir.mkdir()
    (input_dir / "part1.csv").write_text(CSV_MAIN)
    (input_dir / "part2.csv").write_text(CSV_ALT)

    out = str(workdir / "sales")
    ckpt = str(workdir / "ckpt")
    # Schema of the widest file; the alt file's columns are aliased at
    # normalize time. Two files → two micro-batches (maxFilesPerTrigger=1).
    q = hj.run_stream(
        spark,
        str(input_dir),
        "orderID string, Customer_ID string, Product_ID string, quantity string, date string",
        cust,
        prod,
        output_dir=out,
        checkpoint_dir=ckpt,
        max_files_per_trigger=1,
        available_now=True,
    )
    q.awaitTermination(120)
    return spark.read.parquet(out)


def test_stream_batch_equivalence(spark, dims, stream_result, workdir):
    """The key HYBRIDJOIN-parity property: replaying the stream gives
    exactly the rows a batch run of the same logic gives."""
    cust, prod = dims
    raw1 = spark.read.option("header", True).csv(str(workdir / "in" / "part1.csv"))
    raw2 = spark.read.option("header", True).csv(str(workdir / "in" / "part2.csv"))
    batch = hj.enrich(hj.normalize_stream(raw1), cust, prod).unionByName(
        hj.enrich(hj.normalize_stream(raw2), cust, prod)
    )
    got = sorted(
        tuple(r)
        for r in stream_result.drop("sales_id").collect()
    )
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want


def test_drop_semantics(stream_result):
    rows = {tuple(r) for r in stream_result.collect()}
    order_ids = {r[1] for r in rows}
    # unknown customer 9999999 (order 103) dropped — J1 inner-join semantics
    assert 103 not in order_ids
    # rows with missing required fields dropped (orders None/106/107/108/109)
    assert {106, 107, 108, 109}.isdisjoint(order_ids)
    # valid rows retained, both header spellings
    assert {100, 101, 102, 104, 105, 200, 201} <= order_ids


def test_default_product_semantics(stream_result):
    """J2: unknown product → price 0 → sales_amount 0.00, store/supplier 1."""
    row = stream_result.filter(F.col("order_id") == 104).collect()[0]
    assert row.store_id == 1 and row.supplier_id == 1
    assert row.sales_amount == Decimal("0.00")


def test_quantity_and_date_parsing(stream_result):
    by_order = {r.order_id: r for r in stream_result.collect()}
    # "2.0" → 2 (P5 float-string cast)
    assert by_order[101].quantity == 2
    # "oops" → 0 (P5 fallback)
    assert by_order[201].quantity == 0
    # four date formats all land on the same date_id (P7)
    assert by_order[101].date_id == 20170304
    assert by_order[102].date_id == 20170305
    # unparseable date → pinned sentinel, not today (SURVEY §7.2)
    assert by_order[105].date_id == 19000101
    # amounts: round(qty*price, 2) (P6)
    assert by_order[200].sales_amount == Decimal("159.90")


def test_sales_ids_contiguous(stream_result):
    ids = sorted(r.sales_id for r in stream_result.collect())
    assert ids == list(range(1, len(ids) + 1))


def test_replay_without_checkpoint_is_idempotent(spark, dims, workdir, stream_result):
    """Losing the checkpoint and replaying the whole input must not
    duplicate rows: per-batch commit markers make redelivery a no-op."""
    cust, prod = dims
    before = stream_result.count()
    q = hj.run_stream(
        spark,
        str(workdir / "in"),
        "orderID string, Customer_ID string, Product_ID string, quantity string, date string",
        cust,
        prod,
        output_dir=str(workdir / "sales"),
        checkpoint_dir=str(workdir / "ckpt_replay"),  # fresh checkpoint
    )
    q.awaitTermination(120)
    after = spark.read.parquet(str(workdir / "sales"))
    assert after.count() == before
    ids = sorted(r.sales_id for r in after.collect())
    assert ids == list(range(1, before + 1))


def test_json_stream_source_equivalent(spark, dims, workdir, stream_result):
    """The same pipeline consumes JSON-lines transactions: normalization
    is format-agnostic, so a JSON replay of the same rows produces the
    same fact rows as the CSV replay."""
    import json as jsonlib

    cust, prod = dims
    jdir = workdir / "in_json"
    jdir.mkdir()
    for src in ["part1.csv", "part2.csv"]:
        lines = (workdir / "in" / src).read_text().strip().splitlines()
        header = lines[0].split(",")
        out = []
        for row in lines[1:]:
            vals = row.split(",")
            out.append(jsonlib.dumps(dict(zip(header, vals))))
        (jdir / src.replace(".csv", ".json")).write_text("\n".join(out) + "\n")

    # One stream per file, each into its OWN sink: a single Spark source
    # schema cannot carry case-duplicate field names
    # (COLUMN_ALREADY_EXISTS), and a sink is owned by one logical
    # pipeline (per-batch commit markers assume deterministic replay of
    # the same input — see run_stream).
    (jdir / "part2.json").rename(workdir / "part2.json.hold")
    q = hj.run_stream(
        spark,
        str(jdir),
        "orderID string, Customer_ID string, Product_ID string, quantity string, date string",
        cust,
        prod,
        output_dir=str(workdir / "sales_json_a"),
        checkpoint_dir=str(workdir / "ckpt_json"),
        source_format="json",
    )
    q.awaitTermination(120)
    (jdir / "part1.json").unlink()
    (workdir / "part2.json.hold").rename(jdir / "part2.json")
    q = hj.run_stream(
        spark,
        str(jdir),
        "order_id string, customer_id string, product_id string, Quantity string, "
        "transaction_date string",
        cust,
        prod,
        output_dir=str(workdir / "sales_json_b"),
        checkpoint_dir=str(workdir / "ckpt_json2"),
        source_format="json",
    )
    q.awaitTermination(120)
    json_union = spark.read.parquet(str(workdir / "sales_json_a")).unionByName(
        spark.read.parquet(str(workdir / "sales_json_b"))
    )
    got = sorted(tuple(r) for r in json_union.drop("sales_id").collect())
    want = sorted(tuple(r) for r in stream_result.drop("sales_id").collect())
    assert got == want


def test_compaction_preserves_rows_and_markers(spark, dims, workdir, stream_result):
    """Compacting the streaming sink keeps every row, shrinks the file
    count, keeps commit markers (replay still a no-op), and sorts rows
    so date_id min/max prune at file level."""
    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.etl.compact import (
        compact_parquet,
        parquet_file_count,
    )

    out = workdir / "sales"
    before_rows = sorted(tuple(r) for r in spark.read.parquet(str(out)).collect())
    before_files = parquet_file_count(str(out))
    n_after = compact_parquet(spark, str(out), sort_within_by=["date_id"])
    assert n_after <= before_files
    after_rows = sorted(tuple(r) for r in spark.read.parquet(str(out)).collect())
    assert after_rows == before_rows
    assert any(p.name.startswith("_batch_") for p in out.iterdir())

    # replay against the compacted sink: still idempotent
    cust, prod = dims
    q = hj.run_stream(
        spark,
        str(workdir / "in"),
        "orderID string, Customer_ID string, Product_ID string, quantity string, date string",
        cust,
        prod,
        output_dir=str(out),
        checkpoint_dir=str(workdir / "ckpt_after_compact"),
    )
    q.awaitTermination(120)
    assert spark.read.parquet(str(out)).count() == len(before_rows)


def test_partitioned_fact_layout(spark, dims, workdir, stream_result):
    """partition_by_year writes hive layout sale_year=YYYY/ and the same
    rows; year predicates then prune partitions at scan time."""
    cust, prod = dims
    out = str(workdir / "sales_by_year")
    q = hj.run_stream(
        spark,
        str(workdir / "in"),
        "orderID string, Customer_ID string, Product_ID string, quantity string, date string",
        cust,
        prod,
        output_dir=out,
        checkpoint_dir=str(workdir / "ckpt_by_year"),
        partition_by_year=True,
    )
    q.awaitTermination(120)
    year_dirs = {p.name for p in (workdir / "sales_by_year").iterdir() if p.is_dir()}
    assert "sale_year=2017" in year_dirs
    assert "sale_year=1900" in year_dirs  # sentinel-date rows
    # re-read the flat sink: the module fixture's DataFrame snapshot
    # predates the compaction test's rewrite of the same directory
    flat = spark.read.parquet(str(workdir / "sales"))
    df = spark.read.parquet(out)
    assert df.count() == flat.count()
    only_2017 = df.filter(F.col("sale_year") == 2017)
    assert only_2017.count() == flat.filter(
        (F.col("date_id") >= 20170000) & (F.col("date_id") < 20180000)
    ).count()
    # the year predicate must reach the scan as a PARTITION filter
    # (directory-level pruning — the property that makes cold years
    # free at 100 TB), not a post-scan data filter
    plan = only_2017._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    start = plan.index("PartitionFilters")
    assert "sale_year" in plan[start : plan.index("]", start) + 1]


def test_crash_between_commit_and_moves_is_reconciled(
    spark, dims, workdir, stream_result
):
    """Round-14 crash-window closure: the commit point is the
    manifest-marker os.replace, AFTER which a crash may leave staged
    files unmoved. Simulate exactly that state (move a committed
    batch's files from the sink back into its staging dir, marker
    intact), then restart the stream with a fresh checkpoint: the
    startup reconcile must restore the batch BEFORE the sequence
    bootstrap (no re-minted id range), the replay must be a no-op, and
    the final sink must be row-identical — no duplicates, no loss."""
    import json
    import os

    cust, prod = dims
    out = workdir / "sales_crash_a"
    q0 = hj.run_stream(
        spark,
        str(workdir / "in"),
        "orderID string, Customer_ID string, Product_ID string, quantity string, date string",
        cust,
        prod,
        output_dir=str(out),
        checkpoint_dir=str(workdir / "ckpt_crash_a0"),
        max_files_per_trigger=1,
    )
    q0.awaitTermination(120)
    before = sorted(
        tuple(r) for r in spark.read.parquet(str(out)).collect()
    )

    chosen = None
    for p in sorted(out.iterdir()):
        if not (p.name.startswith("_batch_") and p.name.endswith("_committed")):
            continue
        try:
            man = json.loads(p.read_text())
        except ValueError:
            continue
        if man["files"]:
            chosen = man
            break
    assert chosen, "the manifest-commit protocol must have written manifests"
    staging = out / "_staging" / chosen["staging"]
    for rel in chosen["files"]:
        src = out / rel
        assert src.exists(), "committed file must be in the sink"
        (staging / rel).parent.mkdir(parents=True, exist_ok=True)
        os.rename(src, staging / rel)
    # faithful crash state: the moved flag is written only AFTER the
    # moves, so the pre-move crash leaves the marker without it
    marker_path = next(
        p for p in sorted(out.iterdir())
        if p.name.startswith("_batch_") and p.name.endswith("_committed")
        and p.read_text().strip()
        and json.loads(p.read_text()).get("staging") == chosen["staging"]
    )
    unmoved = {k: v for k, v in chosen.items() if k != "moved"}
    marker_path.write_text(json.dumps(unmoved))

    q = hj.run_stream(
        spark,
        str(workdir / "in"),
        "orderID string, Customer_ID string, Product_ID string, quantity string, date string",
        cust,
        prod,
        output_dir=str(out),
        checkpoint_dir=str(workdir / "ckpt_crash_window"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    after_df = spark.read.parquet(str(out))
    after = sorted(tuple(r) for r in after_df.collect())
    assert after == before  # row-identical: no duplicates, no loss
    n = after_df.count()
    assert after_df.select("sales_id").distinct().count() == n
    assert not staging.exists(), "reconcile must clean the staging dir"


def test_uncommitted_staging_is_overwritten_on_replay(
    spark, dims, workdir, stream_result
):
    """The other side of the window: a crash BEFORE the marker commit
    leaves a half-written staging dir and no marker. Replay must
    overwrite it and commit the identical batch — never double-append
    or count the garbage toward the id sequence."""
    import os

    cust, prod = dims
    out = workdir / "sales_crash_b"
    q0 = hj.run_stream(
        spark,
        str(workdir / "in"),
        "orderID string, Customer_ID string, Product_ID string, quantity string, date string",
        cust,
        prod,
        output_dir=str(out),
        checkpoint_dir=str(workdir / "ckpt_crash_b0"),
        max_files_per_trigger=1,
    )
    q0.awaitTermination(120)
    before = sorted(
        tuple(r) for r in spark.read.parquet(str(out)).collect()
    )
    # strip ONE batch entirely (marker + its rows) to force a real
    # re-delivery, then plant garbage in its staging dir
    import json

    victim = None
    for p in sorted(out.iterdir()):
        if p.name.startswith("_batch_") and p.name.endswith("_committed"):
            try:
                man = json.loads(p.read_text())
            except ValueError:
                continue
            if man["files"]:
                victim = (p, man)
    assert victim
    marker, man = victim
    for rel in man["files"]:
        os.remove(out / rel)
    marker.unlink()
    staging = out / "_staging" / man["staging"]
    staging.mkdir(parents=True, exist_ok=True)
    (staging / "garbage.parquet").write_bytes(b"not parquet")

    q = hj.run_stream(
        spark,
        str(workdir / "in"),
        "orderID string, Customer_ID string, Product_ID string, quantity string, date string",
        cust,
        prod,
        output_dir=str(out),
        checkpoint_dir=str(workdir / "ckpt_precommit_crash"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    after = sorted(
        tuple(r) for r in spark.read.parquet(str(out)).collect()
    )
    assert after == before
    assert not staging.exists()


def test_reconcile_tolerates_optimize_after_interrupted_cleanup(
    spark, dims, workdir, stream_result
):
    # stream_result is unused directly but creates workdir/'in' — the
    # test must be runnable standalone (review finding, round 14)
    """Round-14 review finding: a crash between the last move and the
    staging rmtree leaves a debris-only staging dir; if OPTIMIZE
    (compact_parquet) then renames the sink files before restart, the
    manifest names exist NOWHERE — but every row is durable, so
    reconcile must treat it as complete, not raise false damage."""
    import json
    import os

    cust, prod = dims
    out = workdir / "sales_opt_crash"
    q0 = hj.run_stream(
        spark,
        str(workdir / "in"),
        "orderID string, Customer_ID string, Product_ID string, quantity string, date string",
        cust,
        prod,
        output_dir=str(out),
        checkpoint_dir=str(workdir / "ckpt_opt_crash0"),
        max_files_per_trigger=1,
    )
    q0.awaitTermination(120)
    before = sorted(tuple(r) for r in spark.read.parquet(str(out)).collect())

    victim = None
    for p in sorted(out.iterdir()):
        if p.name.startswith("_batch_") and p.name.endswith("_committed"):
            try:
                man = json.loads(p.read_text())
            except ValueError:
                continue
            if man["files"]:
                victim = man
    assert victim
    # simulate the interrupted rmtree: debris-only staging dir
    staging = out / "_staging" / victim["staging"]
    staging.mkdir(parents=True, exist_ok=True)
    (staging / "_SUCCESS").write_bytes(b"")
    # OPTIMIZE renames every committed file
    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.etl.compact import (
        compact_parquet,
    )

    compact_parquet(spark, str(out), sort_within_by=["date_id"])
    for rel in victim["files"]:
        assert not (out / rel).exists(), "OPTIMIZE must have renamed files"

    # startup reconcile must complete silently, rows intact
    hj._reconcile_pending_batches(str(out))
    assert not staging.exists()
    after = sorted(tuple(r) for r in spark.read.parquet(str(out)).collect())
    assert after == before


def test_second_fact_pipeline_is_fenced(spark, dims, workdir):
    """Round-15 verdict item 5 for the FACT sink: a second pipeline
    attaching to a live parquet sink raises the named protocol error
    (it would re-mint the id sequence from a stale MAX(sales_id));
    once the owner terminates, a sequential resume re-attaches."""
    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.streaming.fencing import (
        WriterFencedError,
    )

    cust, prod = dims
    input_dir = workdir / "fence_in"
    input_dir.mkdir()
    for i in range(6):  # 6 files → 6 micro-batches: query stays live
        (input_dir / f"p{i}.csv").write_text(CSV_MAIN)
    out = str(workdir / "fence_sales")
    ddl = ("orderID string, Customer_ID string, Product_ID string, "
           "quantity string, date string")
    q1 = hj.run_stream(
        spark, str(input_dir), ddl, cust, prod,
        output_dir=out, checkpoint_dir=str(workdir / "fence_ck0"),
        max_files_per_trigger=1, available_now=True,
    )
    try:
        assert q1.isActive
        with pytest.raises(WriterFencedError, match="owned by writer"):
            hj.run_stream(
                spark, str(input_dir), ddl, cust, prod,
                output_dir=out, checkpoint_dir=str(workdir / "fence_ck1"),
                max_files_per_trigger=1, available_now=True,
            )
    finally:
        q1.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0
    # sequential resume (same checkpoint): no TTL wait, replay is a
    # no-op via the batch markers — row count unchanged
    q2 = hj.run_stream(
        spark, str(input_dir), ddl, cust, prod,
        output_dir=out, checkpoint_dir=str(workdir / "fence_ck0"),
        max_files_per_trigger=1, available_now=True,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n1


def test_optimize_is_fenced_by_a_live_stream(spark, dims, workdir):
    """OPTIMIZE takes the sink's writer token: against a continuous
    run_stream it raises WriterFencedError and leaves the sink exactly
    as it was (a swap under a live writer would delete the batches it
    commits into the old directory)."""
    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.etl.compact import (
        compact_parquet,
    )
    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.streaming.fencing import (
        WriterFencedError,
    )

    cust, prod = dims
    input_dir = workdir / "opt_fence_in"
    input_dir.mkdir()
    for i in range(2):
        (input_dir / f"p{i}.csv").write_text(CSV_MAIN)
    out = workdir / "opt_fence_sales"
    q = hj.run_stream(
        spark, str(input_dir),
        "orderID string, Customer_ID string, Product_ID string, "
        "quantity string, date string",
        cust, prod,
        output_dir=str(out), checkpoint_dir=str(workdir / "opt_fence_ck"),
        max_files_per_trigger=1, available_now=False,
    )

    def tree():
        return {
            str(p.relative_to(workdir)): p.read_bytes()
            for p in workdir.rglob("*")
            if p.is_file() and p.parts[len(workdir.parts)].startswith("opt_fence_sales")
        }

    try:
        q.processAllAvailable()
        before = tree()
        assert any(k.endswith(".parquet") for k in before)
        with pytest.raises(WriterFencedError, match="owned by writer"):
            compact_parquet(spark, str(out), sort_within_by=["date_id"])
        assert q.isActive
        assert tree() == before
    finally:
        q.stop()
        q.writer_token.release()


def test_fact_time_travel_on_batch_boundaries(spark, dims, tmp_path):
    """Round-17: VERSION AS OF on the parquet fact sink — each batch
    marker's manifest is a commit boundary; asof(b) serves exactly the
    rows of batches ≤ b (with partition columns intact on a
    hive-partitioned sink), a never-committed id raises the named
    error, and an OPTIMIZE-style rewrite of a covered file breaks time
    travel loudly rather than silently serving a different layout."""
    import pytest

    cust, prod = dims
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
        partition_by_year=True,
    )
    q.awaitTermination(120)
    q.writer_token.release()

    snaps = hj.fact_snapshots(out)
    assert [s["batch_id"] for s in snaps] == [0, 1]
    assert all(s["state"] in ("moved", "committed") for s in snaps)

    full = spark.read.parquet(out)
    asof1 = hj.fact_table_asof(spark, out, 1)
    assert sorted(map(tuple, asof1.collect())) == sorted(
        map(tuple, full.select(*asof1.columns).collect())
    )
    # the partition column survives the explicit-file read (basePath)
    assert "sale_year" in asof1.columns
    assert asof1.select("sale_year").distinct().count() >= 1

    asof0 = hj.fact_table_asof(spark, out, 0)
    n0, n1 = asof0.count(), asof1.count()
    assert 0 < n0 < n1 == full.count()
    # batch 0 is exactly the first file's enriched rows: its max
    # sales_id is contiguous with batch 1's range (S10 sequence parity)
    assert asof0.agg(F.max("sales_id")).first()[0] == n0
    assert asof1.agg(F.max("sales_id")).first()[0] == n1

    # a never-committed id raises the named error listing what exists
    with pytest.raises(RuntimeError, match="never committed"):
        hj.fact_table_asof(spark, out, 7)

    # an OPTIMIZE-style rewrite of a covered file breaks history LOUDLY
    import json as _json
    import os as _os

    with open(_os.path.join(out, "_batch_0_committed")) as fh:
        manifest = _json.load(fh)
    victim = _os.path.join(out, manifest["files"][0])
    _os.rename(victim, victim + ".compacted-away")
    with pytest.raises(RuntimeError, match="no longer in the sink"):
        hj.fact_table_asof(spark, out, 1)
    _os.rename(victim + ".compacted-away", victim)  # restore
    assert hj.fact_table_asof(spark, out, 1).count() == n1


PKG = "near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark"


def _fresh(code: str) -> str:
    """stdout of ``code`` run in a fresh interpreter at the repo root."""
    root = Path(__file__).resolve().parent.parent
    return subprocess.run(
        [sys.executable, "-c", code], cwd=root, check=True, capture_output=True, text=True
    ).stdout


def test_pipeline_import_loads_no_catalog_and_operators_register_stream_twins():
    """Importing the enrichment pipeline loads neither the catalog nor
    the store; importing ``operators`` still registers the streaming
    twins of the registry queries."""
    loaded = _fresh(
        f"import sys, {PKG}.streaming.hybrid_join\n"
        f"print(sorted(m for m in sys.modules if m.startswith('{PKG}.')))"
    )
    assert f"{PKG}.streaming.hybrid_join" in loaded
    assert f"{PKG}.catalog" not in loaded
    assert f"{PKG}.store" not in loaded
    names = _fresh(
        f"import {PKG}.operators\n"
        f"from {PKG}.plans.registry import QUERIES\n"
        "print(sorted(QUERIES))"
    )
    assert "'etl_user_sessions'" in names
    assert "'etl_events_hourly'" in names
