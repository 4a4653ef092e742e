"""Table loading for the driver's testdata star schema.

Testdata layout (TESTDATA.md): one parquet per table under
``/root/testdata/sf{N}/``. Tables: region nation customer supplier part
orders lineitem events documents embeddings.

We always read parquet directly (columnar scan, predicate pushdown,
column pruning all free) — never collect dimensions to the driver. The
reference's in-memory dimension caches (hybridjoin.py:56-60,87-135) map
to broadcast joins at the join sites, not to driver-side state.

Ingest re-layout
----------------
The testdata files are single-row-group parquet: Spark assigns one scan
task per row group, so every scan — and everything pipelined into it
(broadcast-join probes, partial aggregation, shingle explodes) — runs
on ONE core regardless of cluster size. An engine that owns its storage
would never keep a fact table in one row group; the warehouse-side fix
is the same one used at 100 TB: ingest into right-sized files (here
``_SPLIT_FILES`` files per table, range-partitioned on the table's time
key so parquet min/max footers prune date ranges file-at-a-time).

``load_table`` therefore re-lays big tables out once per corpus through
the build-once store (``store.stored``: source-fingerprint marker,
atomic rename, reused across processes) and serves the re-layout. Row
*contents* are byte-identical to the source — only file count and row
order change, and every consumer is order-insensitive. The q01–q20
star facts (``ensure_star``) go through the same store.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from .store import stored

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Below this size a table is a broadcast dim — splitting buys nothing.
_SPLIT_MIN_BYTES = 128 * 1024
_SPLIT_FILES = 32  # one row group per core on the local[32] harness
# Range-layout keys: sort/partition fact tables by their time column so
# file-level min/max statistics give date-range pruning (zone maps).
_RANGE_KEYS = {
    "lineitem": "l_shipdate",
    "orders": "o_orderdate",
    "events": "ts",
}
# v2: rebuilds every copy written before the shared store (some hold an
# NTZ events ts)
_INGEST_VERSION = f"v2-n{_SPLIT_FILES}"
_STAR_VERSION = "v3"  # v2: measures pre-cast; v3: + derived date parts/cents


def _read_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one source table as-is.

    ``events.parquet`` stores its ``ts`` as parquet TIMESTAMP(NANOS),
    which Spark's vectorized reader rejects; we read nanos as long
    (legacy conf, runtime-settable) and rebuild the timestamp with exact
    integer division — identical to DuckDB's nanos→micros truncation.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return _normalize_events_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Pin ``ts`` to TIMESTAMP regardless of the file's physical type.

    The driver's testdata has shipped ``ts`` both as TIMESTAMP(NANOS)
    (read as long under ``nanosAsLong`` → rebuild with exact integer
    division, identical to DuckDB's nanos→micros truncation) and as
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ —
    cast to TIMESTAMP; the session/system tz is UTC, so the wall-clock
    reading matches DuckDB's naive-as-UTC epoch extraction)."""
    t = df.schema["ts"].dataType
    if isinstance(t, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(t, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _ingested(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``name`` re-laid out into ``_SPLIT_FILES`` files, or read raw
    when the table is small."""
    try:
        small = os.path.getsize(f"{sf_dir}/{name}.parquet") < _SPLIT_MIN_BYTES
    except OSError:
        small = True
    if small:
        return _read_raw(spark, sf_dir, name)
    key = _RANGE_KEYS.get(name)

    def layout(df: DataFrame, path: str) -> None:
        if key is not None:
            df = df.repartitionByRange(_SPLIT_FILES, key).sortWithinPartitions(key)
        else:
            df = df.repartition(_SPLIT_FILES)
        df.write.parquet(path)

    return stored(
        spark,
        sf_dir,
        f"ingest/{name}",
        (name,),
        _INGEST_VERSION,
        lambda: _read_raw(spark, sf_dir, name),
        layout,
    )


# Lazy DataFrame plans are immutable — reuse them per (session, sf,
# relation) so repeated queries skip file listing + footer analysis
# (~0.4s/query across a 4-table star build).
_DF_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _star_columns(df: DataFrame) -> DataFrame:
    """The star's derived columns, computed once per corpus."""
    return (
        # Pre-cast the measures the way the reference's ETL stores
        # money as NUMERIC (star_schema.sql:30,63): the exact
        # DECIMAL(18,4) every money aggregate needs (functions/
        # money.py) is paid once per corpus here, so query-side
        # dec() casts collapse to no-ops (SimplifyCasts) and SUMs
        # read the decimal straight off the parquet page. Values
        # are identical by construction — it is the same cast.
        df.withColumn(
            "l_extendedprice",
            F.col("l_extendedprice").cast("decimal(18,4)"),
        )
        .withColumn("l_quantity", F.col("l_quantity").cast("long"))
        # v3: pre-derive the per-row date parts and the exact
        # integer ten-thousandths the hot aggregations consume —
        # the same move the reference's ETL makes when it resolves
        # date_id/month at load time (star_schema.sql:36-44), so
        # query-side derivation collapses to a column read.
        .withColumn("l_month", F.month("l_shipdate").cast("int"))
        .withColumn("l_weekend", F.dayofweek("l_shipdate").isin(1, 7))
        .withColumn("l_date", F.to_date("l_shipdate"))
        .withColumn(
            "l_cents",
            (F.col("l_extendedprice") * 10000).cast("long"),
        )
        # last, where the partitioned read-back puts it
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
    )


def _star_layout(df: DataFrame, path: str) -> None:
    (
        df.repartitionByRange(_SPLIT_FILES, "l_year", "l_shipdate")
        .sortWithinPartitions("l_year", "l_shipdate")
        .write.partitionBy("l_year")
        .parquet(path)
    )


def ensure_star(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    sources: tuple[str, ...],
    build,
) -> DataFrame:
    """Materialize a pre-joined star relation to parquet once per
    corpus and serve queries from it — the reference's own warehouse
    architecture: its ETL enriches every transaction with the master
    dimensions BEFORE any of queries.sql runs (reference
    hybridjoin.py:379-420 joins customer/product per tuple;
    star_schema.sql's Sales fact holds the resolved keys), so
    reference queries never re-join fact-sized tables at query time.
    The testdata-mapped q01–q20 get the same contract: ``build()`` plus
    the derived columns (``_star_columns``) runs once per corpus
    (fingerprinted on the ``sources`` parquet files + ``_STAR_VERSION``)
    and lands as a year-partitioned parquet star that every query scans.

    Partitioned by ``l_year`` (derived from l_shipdate, the fact date)
    so latest-year / per-year filters prune whole partitions —
    year(col) = scalar is not a pushable parquet predicate, but a
    partition-column equi-filter is. When the store cannot serve a
    current copy, the inline frame carries the same columns."""
    key = (spark.sparkContext.applicationId, sf_dir, f"star/{name}")
    if key not in _DF_CACHE:
        _DF_CACHE[key] = stored(
            spark,
            sf_dir,
            f"star/{name}",
            sources,
            _STAR_VERSION,
            lambda: _star_columns(build()),
            _star_layout,
        )
    return _DF_CACHE[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, preferring the ingested multi-file
    layout (parallel scans) over the raw single-row-group file."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _DF_CACHE:
        _DF_CACHE[key] = _ingested(spark, sf_dir, name)
    return _DF_CACHE[key]


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every testdata table; keys are bare table names."""
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each testdata table as a temp view (for spark.sql plans)."""
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
