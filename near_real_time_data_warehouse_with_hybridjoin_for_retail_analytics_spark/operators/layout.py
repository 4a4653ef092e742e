"""Multi-dimensional data layout: z-order (Morton) keys for file
pruning.

At 100 TB the cheapest query is the one that never reads the file:
single-key pruning falls out of range-partitioning on that key (see
``catalog._RANGE_KEYS``), but a table queried by BOTH user and time
needs a layout where every file is narrow in BOTH dimensions at once.
Z-ordering (Morton, 1966 — the technique behind Delta Lake/Iceberg's
``OPTIMIZE ZORDER BY``) interleaves the bits of the two keys so that
sorting by the single z-value clusters rows that are close in each
dimension, giving every file a bounded min/max envelope per column —
exactly what format-level zone maps prune on.

This entry computes the z-value with pure integer bit arithmetic
(identical in Spark and DuckDB), assigns each event to one of Z_FILES
file buckets by z-range, and emits each bucket's per-dimension min/max
envelope plus its row count — the zone-map table a lakehouse writer
would produce. The demonstrable property (asserted in tests): every
bucket's user-envelope AND hour-envelope are narrow relative to the
global ranges, so a predicate on either dimension prunes most buckets.

100 TB shape: the z-key is a map-side expression (zero shuffle); the
bucket assignment in production is ``repartitionByRange(z)`` before the
parquet write (one range shuffle, the same cost as any sorted write),
and the envelope table here is a groupBy over Z_FILES bounded groups.
Nothing scales with event count except the one pass that computes keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.registry import query

Z_BITS = 16  # bits interleaved per dimension → 32-bit z-space
Z_FILES = 64  # target file buckets; bucket = z >> (2·Z_BITS − 6)
_MASK = (1 << Z_BITS) - 1
_BUCKET_SHIFT = 2 * Z_BITS - 6
_US_PER_HOUR = 3_600_000_000  # epoch-micros → hour index


def _z_terms_sql() -> str:
    """DuckDB expression interleaving u (even bits) and t (odd bits)."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"(((u >> {i}) & 1) << {2 * i})")
        terms.append(f"(((t >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def _z_col() -> F.Column:
    """Spark column interleaving u (even bits) and t (odd bits)."""
    z = F.lit(0).cast("long")
    for i in range(Z_BITS):
        z = z + F.shiftleft(F.shiftright(F.col("u"), i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(
            F.shiftright(F.col("t"), i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
    return z


@query(
    "layout_zorder_events",
    f"""
    WITH keyed AS (
      SELECT user_id,
             epoch_us(ts) // {_US_PER_HOUR} AS hour_idx,
             user_id & {_MASK} AS u,
             (epoch_us(ts) // {_US_PER_HOUR}) & {_MASK} AS t
      FROM events
    ),
    z AS (
      SELECT user_id, hour_idx,
             ({_z_terms_sql()}) >> {_BUCKET_SHIFT} AS file_bucket
      FROM keyed
    )
    SELECT CAST(file_bucket AS BIGINT) AS file_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(MAX(user_id) AS BIGINT) AS max_user,
           CAST(MIN(hour_idx) AS BIGINT) AS min_hour,
           CAST(MAX(hour_idx) AS BIGINT) AS max_hour
    FROM z GROUP BY 1
    """,
)
def layout_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map envelope table of a z-ordered events layout: per file
    bucket (z-range), the row count and the min/max of BOTH clustering
    dimensions (user, hour). Module doc has the pruning argument and
    the 100 TB write shape."""
    ev = load_table(spark, sf_dir, "events")
    hour_idx = F.expr(f"unix_micros(ts) DIV {_US_PER_HOUR}")
    keyed = ev.select(
        "user_id",
        hour_idx.alias("hour_idx"),
        F.col("user_id").bitwiseAND(F.lit(_MASK)).alias("u"),
        hour_idx.bitwiseAND(F.lit(_MASK)).alias("t"),
    )
    z = keyed.select(
        "user_id",
        "hour_idx",
        F.shiftright(_z_col(), _BUCKET_SHIFT).alias("file_bucket"),
    )
    return z.groupBy("file_bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
        F.min("hour_idx").alias("min_hour"),
        F.max("hour_idx").alias("max_hour"),
    )


# ---------------------------------------------------------------------------
# Small-file compaction planning (the lakehouse OPTIMIZE primitive)
# ---------------------------------------------------------------------------
# Streaming ingest writes one file per (partition, trigger) — at an
# hourly cadence the events table accumulates hundreds of files holding
# a few rows each (the testdata's 720 hour-files average 1–139 rows
# across sfs), and every downstream scan pays per-file open/footer
# cost. Compaction (Delta/Iceberg OPTIMIZE bin-packing) rewrites runs
# of adjacent small files into ~target-sized ones. The PLAN is pure
# metadata arithmetic over the file inventory: group hour-files in
# time order with the deterministic rule group_id = floor(exclusive
# running total / TARGET) — a file joins the group where its first row
# lands, so groups fill to ≈TARGET and overflow only by less than one
# file, and time-adjacency is preserved (compacted files keep narrow
# ts zone maps, composing with the z-order entry's pruning story).
#
# 100 TB shape: the planner never touches data — it runs over the
# file-inventory relation (one row per hour-file; years of hourly
# files is ~10^5 rows), so one ordered window over the inventory is
# metadata-scale, not data-scale. The single data-scale pass is the
# inventory groupBy itself (one scan, one bounded shuffle), which a
# real lakehouse reads from the table's metadata layer for free.
COMPACT_TARGET_ROWS = 1_000


@query(
    "layout_compaction_plan",
    f"""
    WITH inv AS (
      SELECT epoch_us(ts) // {_US_PER_HOUR} AS hour,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY 1
    ),
    planned AS (
      SELECT hour, n_rows,
             COALESCE(SUM(n_rows) OVER (ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM inv
    )
    SELECT CAST(cum_before // {COMPACT_TARGET_ROWS} AS BIGINT) AS group_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           CAST(MIN(hour) AS BIGINT) AS hour_min,
           CAST(MAX(hour) AS BIGINT) AS hour_max
    FROM planned GROUP BY 1
    """,
)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-pack the hourly small files into ≈COMPACT_TARGET_ROWS-row
    compaction groups, time-adjacent: (group_id, n_files, n_rows,
    hour_min, hour_max) — the rewrite worklist OPTIMIZE executes. See
    the section comment for the deterministic grouping rule and why
    the plan is metadata-scale. Value-hash-checked; the fill/overflow
    and adjacency invariants are pytest-gated."""
    from pyspark.sql import Window

    inv = (
        load_table(spark, sf_dir, "events")
        .select(
            # integer DIV, not float /: exact at any epoch magnitude
            F.expr(f"unix_micros(ts) DIV {_US_PER_HOUR}").alias("hour")
        )
        .groupBy("hour")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    cum_before = F.coalesce(
        F.sum("n_rows").over(
            Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    return (
        inv.select("hour", "n_rows", cum_before.alias("cb"))
        .select(
            "hour",
            "n_rows",
            F.expr(f"cb DIV {COMPACT_TARGET_ROWS}").alias("group_id"),
        )
        .groupBy("group_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.min("hour").alias("hour_min"),
            F.max("hour").alias("hour_max"),
        )
    )


# NULL-safe hour key for the EXECUTION paths: a NULL ts must not be
# dropped by the hour equi-join (the rewrite contract is row
# preservation), so it maps to a sentinel hour that sorts before every
# real hour and forms its own deterministic bin prefix. The PLANNER
# registry entries keep the plain expression — their oracle corpus has
# non-null ts by construction, and NULL window ordering differs across
# engines.
_HOUR_OR_SENTINEL = f"coalesce(unix_micros(ts) DIV {_US_PER_HOUR}, -1)"


def _compaction_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(hour, n_rows, group_id): the planner's deterministic hour-file
    → compaction-group assignment (exclusive running total DIV target
    over the time-ordered inventory). Metadata-scale: one row per
    ingest hour-file. NULL-ts rows key on the sentinel hour so the
    executor's join preserves them."""
    from pyspark.sql import Window

    inv = (
        load_table(spark, sf_dir, "events")
        .select(
            # integer DIV, not float /: exact at any epoch magnitude
            F.expr(_HOUR_OR_SENTINEL).alias("hour")
        )
        .groupBy("hour")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    cum_before = F.coalesce(
        F.sum("n_rows").over(
            Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    return inv.select("hour", "n_rows", cum_before.alias("cb")).select(
        "hour",
        "n_rows",
        F.expr(f"cb DIV {COMPACT_TARGET_ROWS}").alias("group_id"),
    )


# ---------------------------------------------------------------------------
# Compaction execution (OPTIMIZE itself, not just the worklist)
# ---------------------------------------------------------------------------
_COMPACT_ROOT = "/tmp/sparkgraft_compaction"


def _compact_dest(spark: SparkSession, sf_dir: str) -> str:
    """Rewrite destination scoped by the Spark application id — two
    concurrent drivers on the same scale factor must not race the
    overwrite and read back a mixed inventory (same contract as
    similarity._ann_compact_dest). Stable within a session, so
    repeated calls overwrite in place and idempotence holds. Stale
    sibling app dirs are swept (per-app scoping would otherwise accrue
    one full events rewrite per session forever)."""
    from .artifacts import app_scoped_dest

    return app_scoped_dest(spark, sf_dir, _COMPACT_ROOT, "events")


# Within-hour splitting bound (round 14): the running-total rule can
# only overflow a bin past 2×TARGET when a single HOT input hour-file
# exceeds the target by itself (normal overflow is < one input file),
# and parquet's ≈target-size invariant is the point of OPTIMIZE — so
# any group past this bound is split into ceil(n/TARGET) sub-files of
# ≈TARGET rows each. The sub assignment pmod(event_id, n_splits) is a
# MAP-SIDE expression (no within-hour window, no skewed single-task
# sort — the 100 TB shape), deterministic, and engine-portable, so the
# streaming gate reproduces it bit-for-bit and the apply oracle can
# state the exact expected file count.
COMPACT_SPLIT_ROWS = 2 * COMPACT_TARGET_ROWS


def _split_map(groups: DataFrame) -> DataFrame:
    """(hour, group_id, n_splits) from the planner's (hour, n_rows,
    group_id) assignment: per-group totals (metadata-scale groupBy over
    one row per ingest hour-file), n_splits = ceil(total / TARGET) for
    groups past COMPACT_SPLIT_ROWS, else 1."""
    totals = groups.groupBy("group_id").agg(
        F.sum("n_rows").alias("g_rows")
    )
    splits = totals.select(
        "group_id",
        F.when(
            F.col("g_rows") > COMPACT_SPLIT_ROWS,
            F.expr(
                f"(g_rows + {COMPACT_TARGET_ROWS - 1})"
                f" DIV {COMPACT_TARGET_ROWS}"
            ),
        )
        .otherwise(F.lit(1))
        .cast("int")
        .alias("n_splits"),
    )
    return groups.join(splits, "group_id").select(
        "hour", "group_id", "n_splits"
    )


def _sub_col() -> F.Column:
    """The deterministic sub-file assignment (built lazily — Column
    construction needs an active SparkContext)."""
    return F.pmod(
        F.coalesce(F.col("event_id"), F.lit(0)), F.col("n_splits")
    )


def compact_events(spark: SparkSession, sf_dir: str, dest: str) -> None:
    """Execute the compaction plan: rewrite the events rows into
    ≈COMPACT_TARGET_ROWS-sized parquet files under ``dest`` (idempotent
    overwrite) — one file per planned group, except groups past
    COMPACT_SPLIT_ROWS (a hot ingest hour), which split into
    ceil(n/TARGET) sub-files via the map-side ``_sub_col`` rule. The
    hour→(group, n_splits) map is the metadata-scale planner output,
    broadcast onto the fact rows (zero extra shuffle beyond the one
    clustering repartition any sorted/compacted write pays —
    ``repartition(group_id, sub)`` puts each output file wholly inside
    one task, and ``partitionBy`` then writes exactly one file per
    (group, sub)). Rows are bit-preserved: no projection, no filter —
    the pytest gate asserts before/after row-set equality."""
    groups = F.broadcast(_split_map(_compaction_groups(spark, sf_dir)))
    ev = load_table(spark, sf_dir, "events").withColumn(
        "hour", F.expr(_HOUR_OR_SENTINEL)
    )
    (
        ev.join(groups, "hour")
        .withColumn("sub", _sub_col())
        .drop("hour", "n_splits")
        .repartition("group_id", "sub")
        .write.mode("overwrite")
        .partitionBy("group_id", "sub")
        .parquet(dest)
    )
    # the write may have outlived most of the GC lease renewed at
    # dest-derivation time; renew before the caller's read-back so the
    # unrenewed span is one phase, not the whole operation
    from .artifacts import renew_lease

    renew_lease(dest)


@query(
    "layout_compaction_apply",
    # The oracle replays the EXECUTOR's rule exactly (round-14 review
    # findings): the NULL-ts sentinel hour (-1, matching
    # _HOUR_OR_SENTINEL — a plain equi-join would silently drop the
    # rows the executor preserves), the coalesce(event_id, 0) the
    # split rule applies, and pmod semantics for the residue count
    # (DuckDB's % is signed; ((x % n) + n) % n matches Spark's pmod
    # for any sign). The planner entry keeps the plain expressions —
    # its documented exemption (non-null oracle corpus) stands; the
    # APPLY entry measures physical files, so its oracle must model
    # the physical rule completely.
    f"""
    WITH inv AS (
      SELECT coalesce(epoch_us(ts) // {_US_PER_HOUR}, -1) AS hour,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY 1
    ),
    planned AS (
      SELECT hour, n_rows,
             COALESCE(SUM(n_rows) OVER (ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM inv
    ),
    gmap AS (
      SELECT hour, n_rows,
             cum_before // {COMPACT_TARGET_ROWS} AS group_id
      FROM planned
    ),
    sp AS (
      SELECT group_id,
             CASE WHEN SUM(n_rows) > {COMPACT_SPLIT_ROWS}
                  THEN (SUM(n_rows) + {COMPACT_TARGET_ROWS - 1})
                         // {COMPACT_TARGET_ROWS}
                  ELSE 1 END AS n_splits
      FROM gmap GROUP BY 1
    ),
    assigned AS (
      SELECT g.group_id, g.hour, s.n_splits,
             coalesce(e.event_id, 0) AS eid
      FROM (SELECT coalesce(epoch_us(ts) // {_US_PER_HOUR}, -1) AS hour,
                   event_id
            FROM events) e
      JOIN gmap g ON e.hour = g.hour
      JOIN sp s ON g.group_id = s.group_id
    )
    SELECT CAST(group_id AS BIGINT) AS group_id,
           CAST(COUNT(DISTINCT ((eid % n_splits) + n_splits) % n_splits)
                AS BIGINT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(hour) AS BIGINT) AS hour_min,
           CAST(MAX(hour) AS BIGINT) AS hour_max
    FROM assigned GROUP BY 1
    """,
)
def layout_compaction_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the compaction plan and report the POST-compaction
    inventory, measured from the rewritten files themselves: per group,
    the physical file count (``input_file_name`` distinct — not an
    assumption), the row count and the refreshed hour zone map. The
    oracle states the contract the rewrite must meet — every planned
    bin became exactly ONE file, except a bin past COMPACT_SPLIT_ROWS
    (possible only via a hot ingest hour), which must have become one
    ≈target-sized file per populated pmod(event_id, ceil(n/TARGET))
    residue class (= ceil(n/TARGET) whenever ids cover the classes,
    which n ≫ n_splits makes generic) — with the bin's planned row
    count and min/max hour envelope preserved — so the driver's
    value-hash is a standing proof that OPTIMIZE ran correctly, not a
    replay of the planner. Row-set identity original↔compacted, the
    time-adjacency pruning property, and the hot-hour split invariants
    are pytest-gated (tests/test_round12_ops.py). 100 TB shape: the
    plan is metadata-scale; execution pays the one clustering shuffle +
    rewrite of exactly the flagged bins that any lakehouse OPTIMIZE
    pays, and a hot hour splits via a map-side pmod — never a
    single-task within-hour sort."""
    dest = _compact_dest(spark, sf_dir)
    compact_events(spark, sf_dir, dest)
    compacted = spark.read.parquet(dest)
    return (
        compacted.select(
            F.col("group_id").cast("long").alias("group_id"),
            F.input_file_name().alias("file"),
            # sentinel, matching the executor and the oracle: NULL-ts
            # rows are measured as hour -1, not skipped by MIN/MAX
            F.expr(_HOUR_OR_SENTINEL).alias("hour"),
        )
        .groupBy("group_id")
        .agg(
            F.countDistinct("file").alias("n_files"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("hour").alias("hour_min"),
            F.max("hour").alias("hour_max"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order execution (OPTIMIZE ZORDER itself, not just the envelope table)
# ---------------------------------------------------------------------------
# Registered round 15 (staged round 14 for a rotation slot). Completes
# the plan→apply symmetry the compaction pair already has:
# layout_zorder_events PLANS the layout (envelope table from
# expressions); this executes the rewrite and measures the envelopes
# from the files themselves. Like compaction_apply, the EXECUTION path
# is NULL-safe: a NULL ts or user_id keys on the -1 sentinel (so no row
# lands in a Hive default partition and the inventory never groups
# under NULL), while the planner entry keeps the plain expressions
# under its documented non-null-corpus exemption. Pre-epoch timestamps
# need no special-casing: Spark's integer DIV and DuckDB's bigint //
# both truncate toward zero (pinned by the hostile-corpus test).

# NULL-safe user key, mirroring _HOUR_OR_SENTINEL for the time dim.
_USER_OR_SENTINEL = "coalesce(user_id, -1)"


def zorder_bucketed(df: DataFrame) -> DataFrame:
    """Any events-shaped frame + file_bucket via the sentinel-keyed
    map-side Morton expressions — shared by the batch executor and the
    streaming maintenance gate (NULL dimensions key on -1; -1 & MASK =
    MASK: the top z-range)."""
    keyed = df.withColumn(
        "u", F.expr(_USER_OR_SENTINEL).bitwiseAND(F.lit(_MASK))
    ).withColumn("t", F.expr(_HOUR_OR_SENTINEL).bitwiseAND(F.lit(_MASK)))
    return keyed.withColumn(
        "file_bucket", F.shiftright(_z_col(), _BUCKET_SHIFT)
    ).drop("u", "t")


def _zorder_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + file_bucket — the same map-side Morton-key expressions
    the planner uses, over the full row (no projection: the rewrite is
    bit-preserving)."""
    return zorder_bucketed(load_table(spark, sf_dir, "events"))


def zorder_apply_events(spark: SparkSession, sf_dir: str, dest: str) -> None:
    """Execute the z-order layout: rewrite events into exactly one
    parquet file per z-range bucket under ``dest`` (idempotent
    overwrite). The z-key is a map-side integer expression (zero
    shuffle to compute); the single clustering ``repartition`` on the
    bucket id is the one shuffle any sorted/clustered write pays, and
    ``partitionBy`` then writes exactly one file per bucket — the
    measurable form of the module docstring's
    ``repartitionByRange(z)`` production shape. Rows are
    bit-preserved: no projection, no filter."""
    (
        _zorder_keyed(spark, sf_dir)
        .repartition("file_bucket")
        .write.mode("overwrite")
        .partitionBy("file_bucket")
        .parquet(dest)
    )
    # renew the GC lease after the long write (see compact_events)
    from .artifacts import renew_lease

    renew_lease(dest)


def _zorder_dest(spark: SparkSession, sf_dir: str) -> str:
    """Per-application rewrite destination (same race contract as
    ``_compact_dest``)."""
    from .artifacts import app_scoped_dest

    return app_scoped_dest(spark, sf_dir, "/tmp/sparkgraft_zorder", "events")


def _zorder_apply_sql() -> str:
    """Oracle for the ``layout_zorder_apply`` entry: the planner's
    envelope SQL — with the executor's sentinel keys, so NULL ts /
    user_id rows are measured at -1 rather than skipped by MIN/MAX —
    plus the physical one-file-per-bucket contract (n_files literal 1,
    like compaction_apply's pre-split form — buckets are z-ranges,
    never hot-hour-skewed, because the bucket id takes the TOP 6
    interleaved bits: a single hour spreads across user-bit buckets).
    Integer // in DuckDB truncates toward zero exactly like Spark's
    DIV, so pre-epoch timestamps agree (hostile-corpus test)."""
    return f"""
    WITH keyed AS (
      SELECT coalesce(user_id, -1) AS user_key,
             coalesce(epoch_us(ts) // {_US_PER_HOUR}, -1) AS hour_idx,
             coalesce(user_id, -1) & {_MASK} AS u,
             coalesce(epoch_us(ts) // {_US_PER_HOUR}, -1) & {_MASK} AS t
      FROM events
    ),
    z AS (
      SELECT user_key, hour_idx,
             ({_z_terms_sql()}) >> {_BUCKET_SHIFT} AS file_bucket
      FROM keyed
    )
    SELECT CAST(file_bucket AS BIGINT) AS file_bucket,
           CAST(1 AS BIGINT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(user_key) AS BIGINT) AS min_user,
           CAST(MAX(user_key) AS BIGINT) AS max_user,
           CAST(MIN(hour_idx) AS BIGINT) AS min_hour,
           CAST(MAX(hour_idx) AS BIGINT) AS max_hour
    FROM z GROUP BY 1
    """


@query("layout_zorder_apply", _zorder_apply_sql())
def zorder_apply_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rewrite + POST-rewrite inventory measured from the files
    themselves: per bucket, the physical file count
    (``input_file_name`` distinct — not an assumption), row count and
    both clustering-dimension envelopes. The oracle
    (``_zorder_apply_sql``) states the contract: every planned bucket
    became exactly ONE file with the planner's row count and
    envelopes — so the driver value-hash is a standing proof the
    rewrite ran correctly, not a replay of the planner. 100 TB shape:
    the z-key is a map-side integer expression; the rewrite pays the
    one clustering shuffle any OPTIMIZE ZORDER pays; the inventory is
    a groupBy over Z_FILES bounded groups."""
    dest = _zorder_dest(spark, sf_dir)
    zorder_apply_events(spark, sf_dir, dest)
    back = spark.read.parquet(dest)
    return (
        back.select(
            F.col("file_bucket").cast("long").alias("file_bucket"),
            F.input_file_name().alias("file"),
            # sentinels, matching the executor and the oracle: NULL
            # user/ts rows are measured at -1, not skipped by MIN/MAX
            F.expr(_USER_OR_SENTINEL).alias("user_key"),
            F.expr(_HOUR_OR_SENTINEL).alias("hour_idx"),
        )
        .groupBy("file_bucket")
        .agg(
            F.countDistinct("file").alias("n_files"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("user_key").alias("min_user"),
            F.max("user_key").alias("max_user"),
            F.min("hour_idx").alias("min_hour"),
            F.max("hour_idx").alias("max_hour"),
        )
    )


# ---------------------------------------------------------------------------
# 3-key z-order (multi-column OPTIMIZE ZORDER BY)
# ---------------------------------------------------------------------------
# Staged round 15, REGISTERED round 16 once the rotation headroom
# landed (variant merge + FULLGATE-only tier). Extends the
# 2-key layout to the three-column clustering Delta/Iceberg's
# OPTIMIZE ZORDER BY (a, b, c) supports: interleave Z3_BITS bits of
# (user, hour, floor(value)) — value quantized to its integer part,
# the natural zone-map unit for a measure column — so every file
# bucket is narrow in ALL THREE dimensions at once and a predicate on
# any one of them prunes most buckets. Same 100 TB shape as the 2-key
# form: the z3 key is a map-side integer expression, the production
# write is one repartitionByRange(z3), and the envelope table is a
# groupBy over Z3_FILES bounded groups.

Z3_BITS = 10  # bits interleaved per dimension → 30-bit z-space
Z3_FILES = 64  # bucket = z3 >> (3·Z3_BITS − 6): top two bits per dim
_MASK3 = (1 << Z3_BITS) - 1
_BUCKET3_SHIFT = 3 * Z3_BITS - 6


def _z3_terms_sql() -> str:
    """DuckDB expression interleaving u (bits 3i), t (3i+1), v (3i+2)."""
    terms = []
    for i in range(Z3_BITS):
        terms.append(f"(((u >> {i}) & 1) << {3 * i})")
        terms.append(f"(((t >> {i}) & 1) << {3 * i + 1})")
        terms.append(f"(((v >> {i}) & 1) << {3 * i + 2})")
    return " + ".join(terms)


def _z3_col() -> F.Column:
    """Spark column interleaving u (bits 3i), t (3i+1), v (3i+2)."""
    z = F.lit(0).cast("long")
    for i in range(Z3_BITS):
        z = z + F.shiftleft(
            F.shiftright(F.col("u"), i).bitwiseAND(F.lit(1)), 3 * i
        )
        z = z + F.shiftleft(
            F.shiftright(F.col("t"), i).bitwiseAND(F.lit(1)), 3 * i + 1
        )
        z = z + F.shiftleft(
            F.shiftright(F.col("v"), i).bitwiseAND(F.lit(1)), 3 * i + 2
        )
    return z


def _zorder3_sql() -> str:
    """Staged oracle for the round-16 ``layout_zorder3_events`` entry:
    the 3-dimension envelope table. Integer-only arithmetic after the
    one CAST(floor(value) AS BIGINT) — identical in both engines
    (DuckDB floor() returns DOUBLE, hence the cast; Spark floor()
    already returns LONG)."""
    return f"""
    WITH keyed AS (
      SELECT user_id,
             epoch_us(ts) // {_US_PER_HOUR} AS hour_idx,
             CAST(floor(value) AS BIGINT) AS value_floor,
             user_id & {_MASK3} AS u,
             (epoch_us(ts) // {_US_PER_HOUR}) & {_MASK3} AS t,
             CAST(floor(value) AS BIGINT) & {_MASK3} AS v
      FROM events
    ),
    z AS (
      SELECT user_id, hour_idx, value_floor,
             ({_z3_terms_sql()}) >> {_BUCKET3_SHIFT} AS file_bucket
      FROM keyed
    )
    SELECT CAST(file_bucket AS BIGINT) AS file_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(MAX(user_id) AS BIGINT) AS max_user,
           CAST(MIN(hour_idx) AS BIGINT) AS min_hour,
           CAST(MAX(hour_idx) AS BIGINT) AS max_hour,
           CAST(MIN(value_floor) AS BIGINT) AS min_vf,
           CAST(MAX(value_floor) AS BIGINT) AS max_vf
    FROM z GROUP BY 1
    """


@query("layout_zorder3_events", _zorder3_sql())
def layout_zorder3_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map envelope table of a 3-key z-ordered events layout: per
    file bucket (z3-range), the row count and the min/max of ALL THREE
    clustering dimensions (user, hour, floor(value)). The demonstrable
    property (pytest): the top 6 z3 bits fix the top two bits of every
    dimension, so each bucket confines each masked dimension to one
    aligned 2^{Z3_BITS-2} block — a predicate on ANY single dimension
    prunes ~3/4 of buckets. Staged for round 16 (see module note)."""
    ev = load_table(spark, sf_dir, "events")
    hour_idx = F.expr(f"unix_micros(ts) DIV {_US_PER_HOUR}")
    vf = F.floor(F.col("value")).cast("long")
    keyed = ev.select(
        "user_id",
        hour_idx.alias("hour_idx"),
        vf.alias("value_floor"),
        F.col("user_id").bitwiseAND(F.lit(_MASK3)).alias("u"),
        hour_idx.bitwiseAND(F.lit(_MASK3)).alias("t"),
        vf.bitwiseAND(F.lit(_MASK3)).alias("v"),
    )
    z = keyed.select(
        "user_id",
        "hour_idx",
        "value_floor",
        F.shiftright(_z3_col(), _BUCKET3_SHIFT).alias("file_bucket"),
    )
    return z.groupBy("file_bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
        F.min("hour_idx").alias("min_hour"),
        F.max("hour_idx").alias("max_hour"),
        F.min("value_floor").alias("min_vf"),
        F.max("value_floor").alias("max_vf"),
    )


# NULL/NaN-safe value key for the 3-key EXECUTION path: a measure
# column can hold NULL, NaN, or ±Inf (none of which Spark's long cast
# and DuckDB's BIGINT cast agree on — DuckDB errors on NaN/Inf casts),
# so all of them key on the -1 sentinel. |value| ≥ 2^62 also takes the
# sentinel: past there floor()'s double result is not exactly
# representable and the two engines could round differently.
_VALUE_FLOOR_OR_SENTINEL = (
    "CASE WHEN value IS NULL OR isnan(value) "
    "OR value >= 4611686018427387904.0 OR value <= -4611686018427387904.0 "
    "THEN CAST(-1 AS BIGINT) ELSE CAST(floor(value) AS BIGINT) END"
)


def zorder3_bucketed(df: DataFrame) -> DataFrame:
    """Any events-shaped frame + file_bucket via the sentinel-keyed
    3-dimension Morton expressions — shared by the batch executor and
    the streaming maintenance gate."""
    keyed = (
        df.withColumn("u", F.expr(_USER_OR_SENTINEL).bitwiseAND(F.lit(_MASK3)))
        .withColumn("t", F.expr(_HOUR_OR_SENTINEL).bitwiseAND(F.lit(_MASK3)))
        .withColumn(
            "v", F.expr(_VALUE_FLOOR_OR_SENTINEL).bitwiseAND(F.lit(_MASK3))
        )
    )
    return keyed.withColumn(
        "file_bucket", F.shiftright(_z3_col(), _BUCKET3_SHIFT)
    ).drop("u", "t", "v")


def _zorder3_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + file_bucket — the 3-key executor's map-side Morton
    expressions over the full row (bit-preserving rewrite). Sentinel
    keys for every dimension, like the 2-key executor."""
    return zorder3_bucketed(load_table(spark, sf_dir, "events"))


def zorder3_apply_events(spark: SparkSession, sf_dir: str, dest: str) -> None:
    """Execute the 3-key z-order layout: one parquet file per z3-range
    bucket under ``dest`` (idempotent overwrite). Same cost shape as
    the 2-key executor: map-side key, one clustering repartition,
    partitionBy write."""
    (
        _zorder3_keyed(spark, sf_dir)
        .repartition("file_bucket")
        .write.mode("overwrite")
        .partitionBy("file_bucket")
        .parquet(dest)
    )
    from .artifacts import renew_lease

    renew_lease(dest)


def _zorder3_apply_sql() -> str:
    """Staged oracle for the round-16 ``layout_zorder3_apply`` entry:
    the 3-dimension envelope table with the executor's sentinel keys
    plus the physical one-file-per-bucket contract."""
    return f"""
    WITH keyed AS (
      SELECT coalesce(user_id, -1) AS user_key,
             coalesce(epoch_us(ts) // {_US_PER_HOUR}, -1) AS hour_idx,
             ({_VALUE_FLOOR_OR_SENTINEL}) AS value_floor,
             coalesce(user_id, -1) & {_MASK3} AS u,
             coalesce(epoch_us(ts) // {_US_PER_HOUR}, -1) & {_MASK3} AS t,
             ({_VALUE_FLOOR_OR_SENTINEL}) & {_MASK3} AS v
      FROM events
    ),
    z AS (
      SELECT user_key, hour_idx, value_floor,
             ({_z3_terms_sql()}) >> {_BUCKET3_SHIFT} AS file_bucket
      FROM keyed
    )
    SELECT CAST(file_bucket AS BIGINT) AS file_bucket,
           CAST(1 AS BIGINT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(user_key) AS BIGINT) AS min_user,
           CAST(MAX(user_key) AS BIGINT) AS max_user,
           CAST(MIN(hour_idx) AS BIGINT) AS min_hour,
           CAST(MAX(hour_idx) AS BIGINT) AS max_hour,
           CAST(MIN(value_floor) AS BIGINT) AS min_vf,
           CAST(MAX(value_floor) AS BIGINT) AS max_vf
    FROM z GROUP BY 1
    """


@query("layout_zorder3_apply", _zorder3_apply_sql())
def zorder3_apply_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rewrite + POST-rewrite inventory measured from the files (same
    proof pattern as ``zorder_apply_inventory``, one more dimension).
    Registered round 16 (staged round 15)."""
    from .artifacts import app_scoped_dest

    dest = app_scoped_dest(spark, sf_dir, "/tmp/sparkgraft_zorder3", "events")
    zorder3_apply_events(spark, sf_dir, dest)
    back = spark.read.parquet(dest)
    return (
        back.select(
            F.col("file_bucket").cast("long").alias("file_bucket"),
            F.input_file_name().alias("file"),
            F.expr(_USER_OR_SENTINEL).alias("user_key"),
            F.expr(_HOUR_OR_SENTINEL).alias("hour_idx"),
            F.expr(_VALUE_FLOOR_OR_SENTINEL).alias("value_floor"),
        )
        .groupBy("file_bucket")
        .agg(
            F.countDistinct("file").alias("n_files"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("user_key").alias("min_user"),
            F.max("user_key").alias("max_user"),
            F.min("hour_idx").alias("min_hour"),
            F.max("hour_idx").alias("max_hour"),
            F.min("value_floor").alias("min_vf"),
            F.max("value_floor").alias("max_vf"),
        )
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout (staged round 15, registered round 16)
# ---------------------------------------------------------------------------
# The locality upgrade over Morton that Delta's OPTIMIZE gained in
# 2023 (Databricks liquid clustering) and Iceberg supports via its
# zorder/hilbert sort strategies: the Hilbert space-filling curve has
# the SAME aligned-block confinement guarantee as Morton (the top 2k
# bits of d name one level-k cell — an axis-aligned 2^(HB_BITS-k)
# square), PLUS unit-step continuity: consecutive curve positions are
# grid-adjacent, so consecutive FILE BUCKETS are adjacent squares and
# a range scan over bucket ids walks a connected region. Morton lacks
# that (at 64 buckets, 31 of 63 consecutive Morton pairs jump —
# measured in tests): a bucket-range read seeks across the grid.
#
# Engine parity by construction: the per-iteration transform of the
# standard xy2d loop (rx/ry quadrant bits → d += s²·((3rx)^ry) →
# conditional flip+swap) is emitted ONCE as SQL text fragments shared
# verbatim by the Spark executor (chained selectExpr stages) and the
# DuckDB oracle (chained CTEs), so the two engines evaluate literally
# identical expressions. rx/ry materialize as named per-stage columns
# — Catalyst's projection collapse cannot exponentially duplicate the
# (x, y) dependency chain because each stage's outputs are referenced
# by name, and DuckDB sees the same linear chain of CTEs.
#
# 100 TB shape: identical to the Morton planner — the key is
# HB_BITS map-side integer stages (no shuffle, no UDF), the
# production write is one repartitionByRange(h), and the envelope
# table is a groupBy over HB_FILES bounded groups.

HB_BITS = 16  # bits per dimension → 32-bit Hilbert index
HB_FILES = 64  # bucket = d >> (2·HB_BITS − 6): one level-3 cell each
_HB_MASK = (1 << HB_BITS) - 1
_HB_BUCKET_SHIFT = 2 * HB_BITS - 6


def _hilbert_stage_sql(s: int) -> tuple[str, str, str, str, str]:
    """The five expression fragments of one xy2d iteration at step
    ``s`` — shared verbatim by both engines (see module note)."""
    rx = f"CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END"
    ry = f"CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END"
    # s² as an explicit BIGINT: at s = 2^15 the quadrant factor 3
    # overflows INT32 under Spark's ANSI arithmetic (3·2^30 > 2^31−1)
    dn = (
        f"d + CAST({s * s} AS BIGINT) * "
        "(CASE WHEN rx = 1 THEN 3 - ry ELSE ry END)"
    )
    xn = (
        "CASE WHEN ry = 0 THEN "
        f"(CASE WHEN rx = 1 THEN {s - 1} - y ELSE y END) ELSE x END"
    )
    yn = (
        "CASE WHEN ry = 0 THEN "
        f"(CASE WHEN rx = 1 THEN {s - 1} - x ELSE x END) ELSE y END"
    )
    return rx, ry, dn, xn, yn


def _hilbert_steps() -> list[int]:
    return [1 << i for i in range(HB_BITS - 1, -1, -1)]


def _hilbert_sql() -> str:
    """Staged oracle for the round-16 ``layout_hilbert_events`` entry:
    the xy2d loop as a linear chain of CTEs, then the envelope table."""
    ctes = [
        f"""h0 AS (
      SELECT user_id,
             epoch_us(ts) // {_US_PER_HOUR} AS hour_idx,
             user_id & {_HB_MASK} AS x,
             (epoch_us(ts) // {_US_PER_HOUR}) & {_HB_MASK} AS y,
             CAST(0 AS BIGINT) AS d
      FROM events
    )"""
    ]
    for i, s in enumerate(_hilbert_steps()):
        rx, ry, dn, xn, yn = _hilbert_stage_sql(s)
        ctes.append(
            f"""h{i}a AS (
      SELECT user_id, hour_idx, x, y, d, {rx} AS rx, {ry} AS ry FROM h{i}
    )"""
        )
        ctes.append(
            f"""h{i + 1} AS (
      SELECT user_id, hour_idx, {xn} AS x, {yn} AS y, {dn} AS d FROM h{i}a
    )"""
        )
    n = HB_BITS
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(d >> {_HB_BUCKET_SHIFT} AS BIGINT) AS file_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(MAX(user_id) AS BIGINT) AS max_user,
           CAST(MIN(hour_idx) AS BIGINT) AS min_hour,
           CAST(MAX(hour_idx) AS BIGINT) AS max_hour
    FROM h{n} GROUP BY 1
    """
    )


@query("layout_hilbert_events", _hilbert_sql())
def layout_hilbert_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map envelope table of a Hilbert-clustered events layout:
    per file bucket (one level-3 Hilbert cell), the row count and the
    min/max of both clustering dimensions. Registered round 16; the
    module note has the locality argument (confinement like Morton,
    plus consecutive buckets are adjacent squares — both pytest-proven
    exhaustively on a 32×32 grid and on the corpus)."""
    ev = load_table(spark, sf_dir, "events")
    hour_idx = F.expr(f"unix_micros(ts) DIV {_US_PER_HOUR}")
    df = ev.select(
        "user_id",
        hour_idx.alias("hour_idx"),
        F.col("user_id").bitwiseAND(F.lit(_HB_MASK)).alias("x"),
        hour_idx.bitwiseAND(F.lit(_HB_MASK)).alias("y"),
        F.lit(0).cast("long").alias("d"),
    )
    for s in _hilbert_steps():
        rx, ry, dn, xn, yn = _hilbert_stage_sql(s)
        df = df.selectExpr(
            "user_id", "hour_idx", "x", "y", "d",
            f"{rx} AS rx", f"{ry} AS ry",
        ).selectExpr(
            "user_id", "hour_idx",
            f"{xn} AS x", f"{yn} AS y", f"{dn} AS d",
        )
    return (
        df.select(
            "user_id",
            "hour_idx",
            F.shiftright(F.col("d"), _HB_BUCKET_SHIFT).alias("file_bucket"),
        )
        .groupBy("file_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("user_id").alias("min_user"),
            F.max("user_id").alias("max_user"),
            F.min("hour_idx").alias("min_hour"),
            F.max("hour_idx").alias("max_hour"),
        )
    )


def hilbert_xy2d(n: int, x: int, y: int) -> int:
    """Reference xy2d (plain Python) — the ground truth the SQL
    fragments are tested against, exhaustively on small grids."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def hilbert_bucketed(df: DataFrame) -> DataFrame:
    """Any events-shaped frame + file_bucket (Hilbert cell id) via the
    shared sentinel-keyed xy2d stage fragments — shared by the batch
    executor and the streaming maintenance gate."""
    df = df.withColumn(
        "x", F.expr(_USER_OR_SENTINEL).bitwiseAND(F.lit(_HB_MASK))
    ).withColumn(
        "y", F.expr(_HOUR_OR_SENTINEL).bitwiseAND(F.lit(_HB_MASK))
    ).withColumn("d", F.lit(0).cast("long"))
    for s in _hilbert_steps():
        rx, ry, dn, xn, yn = _hilbert_stage_sql(s)
        cols = [c for c in df.columns if c not in ("x", "y", "d")]
        df = df.selectExpr(
            *cols, "x", "y", "d", f"{rx} AS rx", f"{ry} AS ry"
        ).selectExpr(*cols, f"{xn} AS x", f"{yn} AS y", f"{dn} AS d")
    return df.withColumn(
        "file_bucket", F.shiftright(F.col("d"), _HB_BUCKET_SHIFT)
    ).drop("x", "y", "d")


def _hilbert_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + file_bucket (Hilbert cell id) — the executor's keying
    pass over the full row (bit-preserving rewrite). Sentinel keys for
    NULL dimensions, like every execution path in this module."""
    return hilbert_bucketed(load_table(spark, sf_dir, "events"))


def hilbert_apply_events(spark: SparkSession, sf_dir: str, dest: str) -> None:
    """Execute the Hilbert layout: one parquet file per level-3 cell
    under ``dest`` (idempotent overwrite) — consecutive files cover
    adjacent squares, so a bucket-range read is a connected region."""
    (
        _hilbert_keyed(spark, sf_dir)
        .repartition("file_bucket")
        .write.mode("overwrite")
        .partitionBy("file_bucket")
        .parquet(dest)
    )
    from .artifacts import renew_lease

    renew_lease(dest)


def _hilbert_apply_sql() -> str:
    """Staged oracle for ``layout_hilbert_apply``: the planner chain
    with the executor's sentinel keys plus the one-file-per-bucket
    physical contract."""
    ctes = [
        f"""h0 AS (
      SELECT coalesce(user_id, -1) AS user_key,
             coalesce(epoch_us(ts) // {_US_PER_HOUR}, -1) AS hour_idx,
             coalesce(user_id, -1) & {_HB_MASK} AS x,
             coalesce(epoch_us(ts) // {_US_PER_HOUR}, -1) & {_HB_MASK} AS y,
             CAST(0 AS BIGINT) AS d
      FROM events
    )"""
    ]
    for i, s in enumerate(_hilbert_steps()):
        rx, ry, dn, xn, yn = _hilbert_stage_sql(s)
        ctes.append(
            f"""h{i}a AS (
      SELECT user_key, hour_idx, x, y, d, {rx} AS rx, {ry} AS ry FROM h{i}
    )"""
        )
        ctes.append(
            f"""h{i + 1} AS (
      SELECT user_key, hour_idx, {xn} AS x, {yn} AS y, {dn} AS d FROM h{i}a
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(d >> {_HB_BUCKET_SHIFT} AS BIGINT) AS file_bucket,
           CAST(1 AS BIGINT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(user_key) AS BIGINT) AS min_user,
           CAST(MAX(user_key) AS BIGINT) AS max_user,
           CAST(MIN(hour_idx) AS BIGINT) AS min_hour,
           CAST(MAX(hour_idx) AS BIGINT) AS max_hour
    FROM h{HB_BITS} GROUP BY 1
    """
    )


@query("layout_hilbert_apply", _hilbert_apply_sql())
def hilbert_apply_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rewrite + POST-rewrite inventory measured from the files (same
    proof pattern as ``zorder_apply_inventory``). Registered round 16
    (staged round 15)."""
    from .artifacts import app_scoped_dest

    dest = app_scoped_dest(spark, sf_dir, "/tmp/sparkgraft_hilbert", "events")
    hilbert_apply_events(spark, sf_dir, dest)
    back = spark.read.parquet(dest)
    return (
        back.select(
            F.col("file_bucket").cast("long").alias("file_bucket"),
            F.input_file_name().alias("file"),
            F.expr(_USER_OR_SENTINEL).alias("user_key"),
            F.expr(_HOUR_OR_SENTINEL).alias("hour_idx"),
        )
        .groupBy("file_bucket")
        .agg(
            F.countDistinct("file").alias("n_files"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("user_key").alias("min_user"),
            F.max("user_key").alias("max_user"),
            F.min("hour_idx").alias("min_hour"),
            F.max("hour_idx").alias("max_hour"),
        )
    )


# ---------------------------------------------------------------------------
# Clustering-quality metric (staged for round 17)
# ---------------------------------------------------------------------------
# Completes the layout family's lifecycle: PLAN (envelope tables),
# APPLY (measured one-file-per-bucket rewrites), and now MEASURE — the
# number Delta's liquid clustering surfaces as "clustering depth" and
# every OPTIMIZE decision is justified by. For each candidate layout
# the metric is the exact per-bucket zone-map SPAN of each query
# dimension: a point predicate on dimension d hits a bucket iff the
# point falls inside that bucket's [min_d, max_d], so the sum of spans
# (+1 per bucket) is |domain| × the expected number of buckets a
# uniform point-lookup reads — smaller spans = more pruning. All spans
# are exact integers on the executors' sentinel keys, so the DuckDB
# oracle replays the table bit-for-bit.
#
# Four layouts, same 64-bucket budget:
#   hour          — the ingest-order baseline (equal hour ranges):
#                   hour spans are tiny but user spans cover ~the
#                   whole domain, so a user predicate prunes nothing;
#   morton        — the 2-key z-order executor's buckets, as
#                   registered (raw bit-interleave);
#   hilbert       — the Hilbert executor's buckets, as registered;
#   morton_scaled — z-order over min-max-SCALED dimensions, the
#                   production form (Delta/Iceberg normalize each
#                   column onto the full grid before interleaving).
#
# Building this metric surfaced a real characterization: raw
# bit-interleave DEGENERATES when a dimension's live domain is small
# or offset — on the sf0.01 corpus the epoch-hour (~474071) masks to
# a narrow 16-bit band and user ids never set the top bits, so ALL
# rows land in ONE raw-morton/hilbert bucket (the committed apply
# oracles are unaffected — they state envelopes of whatever buckets
# exist — but pruning is nil). The scaled leg measures the fix; the
# report makes the difference a number instead of folklore.
#
# 100 TB shape: each leg is the executor's map-side key + a groupBy
# over ≤ Z_FILES bounded groups; the baseline leg adds one broadcast
# scalar aggregate for the hour domain. Nothing scales past the three
# linear key passes.


def hour_bucketed(df: DataFrame) -> DataFrame:
    """The naive ingest-order layout: 64 equal hour ranges (what a
    time-partitioned table gives you with no clustering). Sentinel
    hour for NULL ts, like the executors."""
    keyed = df.withColumn("hour_key", F.expr(_HOUR_OR_SENTINEL))
    dom = keyed.agg(
        F.min("hour_key").alias("hmin"),
        (F.max("hour_key") - F.min("hour_key") + 1).alias("hspan"),
    )
    return (
        keyed.crossJoin(F.broadcast(dom))
        .withColumn(
            "file_bucket",
            F.expr(f"((hour_key - hmin) * {Z_FILES}) DIV hspan"),
        )
        .drop("hmin", "hspan", "hour_key")
    )


def zorder_scaled_bucketed(df: DataFrame) -> DataFrame:
    """PRODUCTION-form z-order: min-max scale each dimension onto the
    full Z_BITS grid BEFORE interleaving — what Delta/Iceberg's
    OPTIMIZE actually does (range/quantile normalization per column).
    Raw bit-interleave (the registered executors) degenerates when a
    dimension's live domain is small or offset (e.g. epoch-hour
    ~474071: the top interleaved bits are constant, every row lands in
    one bucket); scaling fixes the offset/width degeneracy while
    keeping every step exact integer arithmetic (spans × 65535 stay
    far inside int64), so the oracle replays it bit-for-bit."""
    keyed = df.withColumn("uk", F.expr(_USER_OR_SENTINEL)).withColumn(
        "tk", F.expr(_HOUR_OR_SENTINEL)
    )
    dom = keyed.agg(
        F.min("uk").alias("umin"),
        F.greatest(F.max("uk") - F.min("uk"), F.lit(1)).alias("uspan"),
        F.min("tk").alias("tmin"),
        F.greatest(F.max("tk") - F.min("tk"), F.lit(1)).alias("tspan"),
    )
    scaled = (
        keyed.crossJoin(F.broadcast(dom))
        .withColumn("u", F.expr(f"((uk - umin) * {_MASK}) DIV uspan"))
        .withColumn("t", F.expr(f"((tk - tmin) * {_MASK}) DIV tspan"))
    )
    return scaled.withColumn(
        "file_bucket", F.shiftright(_z_col(), _BUCKET_SHIFT)
    ).drop("uk", "tk", "umin", "uspan", "tmin", "tspan", "u", "t")


def _zorder_scaled_keyed_sql() -> str:
    """Per-ROW (user_key, hour_key, file_bucket) under the scaled key
    — the shared base of the envelope / planner / apply oracles."""
    return f"""
    WITH hk AS (
      SELECT coalesce(user_id, -1) AS user_key,
             coalesce(epoch_us(ts) // {_US_PER_HOUR}, -1) AS hour_key
      FROM events
    ),
    dom AS (
      SELECT MIN(user_key) AS umin,
             greatest(MAX(user_key) - MIN(user_key), 1) AS uspan,
             MIN(hour_key) AS tmin,
             greatest(MAX(hour_key) - MIN(hour_key), 1) AS tspan
      FROM hk
    ),
    keyed AS (
      SELECT user_key, hour_key,
             ((user_key - umin) * {_MASK}) // uspan AS u,
             ((hour_key - tmin) * {_MASK}) // tspan AS t
      FROM hk CROSS JOIN dom
    )
    SELECT user_key, hour_key,
           ({_z_terms_sql()}) >> {_BUCKET_SHIFT} AS file_bucket
    FROM keyed
    """


def _zorder_scaled_env_sql() -> str:
    return f"""
    SELECT file_bucket,
           MIN(user_key) AS min_user, MAX(user_key) AS max_user,
           MIN(hour_key) AS min_hour, MAX(hour_key) AS max_hour
    FROM ({_zorder_scaled_keyed_sql()}) GROUP BY 1
    """


def _envelopes(bucketed: DataFrame) -> DataFrame:
    """Per-bucket zone maps on the executors' sentinel keys."""
    return (
        bucketed.select(
            "file_bucket",
            F.expr(_USER_OR_SENTINEL).alias("user_key"),
            F.expr(_HOUR_OR_SENTINEL).alias("hour_key"),
        )
        .groupBy("file_bucket")
        .agg(
            F.min("user_key").alias("mu"),
            F.max("user_key").alias("xu"),
            F.min("hour_key").alias("mh"),
            F.max("hour_key").alias("xh"),
        )
    )


_LAYOUT_NAMES = ["hour", "morton", "hilbert", "morton_scaled"]


def _events_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events projected to the sentinel (user_key, hour_key) pair."""
    return load_table(spark, sf_dir, "events").select(
        F.expr(_USER_OR_SENTINEL).alias("user_key"),
        F.expr(_HOUR_OR_SENTINEL).alias("hour_key"),
    )


def _events_domain(ev: DataFrame) -> DataFrame:
    """The 1-row min/max domain of both sentinel keys — shared by the
    hour/scaled bucket normalizations and the hour-range probe
    workload (one aggregate, broadcast-reused by every consumer built
    from the same frame)."""
    return ev.agg(
        F.min("user_key").alias("umin"),
        F.max("user_key").alias("umax"),
        F.min("hour_key").alias("hmin"),
        F.max("hour_key").alias("hmax"),
    )


def _multi_layout_envelopes(
    spark: SparkSession, sf_dir: str, dom: DataFrame | None = None
) -> DataFrame:
    """Per-bucket zone maps WITH row counts for all four candidate
    layouts — (layout, file_bucket, n_events, min_user, max_user,
    min_hour, max_hour) — from ONE events scan.

    r18 optimization (guide §2.4, remove shuffles outright): the
    cluster-quality and prune-probe entries previously ran one leg per
    layout — four events scans, four envelope aggregations, and two
    separate 1-row domain aggregates (hour + scaled legs). All four
    bucket keys are map-side integer expressions over the same
    (user_key, hour_key) pair, so one projection can key every layout,
    one combined scalar aggregate serves both domain-normalized keys,
    and a posexplode stacks the four keys into (layout, bucket) rows
    for ONE grouped aggregation: 4 scans + 8 exchanges → 1 scan + 2
    exchanges (domain + envelope). Key expressions are copied verbatim
    from ``hour_bucketed`` / ``zorder_bucketed`` / ``hilbert_bucketed``
    / ``zorder_scaled_bucketed``, so every (layout, bucket) assignment
    — and hence each layout's envelope table — is bit-identical to the
    per-leg form (pinned by tests/test_round18_opt.py)."""
    ev = _events_keyed(spark, sf_dir)
    # One scalar domain row covering both normalized keys: the hour
    # baseline needs (hmin, hspan); the scaled z-order needs
    # (umin, uspan, tmin, tspan). hspan/tspan share max−min arithmetic.
    if dom is None:
        dom = _events_domain(ev)
    df = ev.crossJoin(F.broadcast(dom))
    # hour baseline: 64 equal hour ranges (hour_bucketed's expression).
    df = df.withColumn(
        "b_hour",
        F.expr(f"((hour_key - hmin) * {Z_FILES}) DIV (hmax - hmin + 1)"),
    )
    # raw morton: interleave the masked keys (zorder_bucketed).
    df = (
        df.withColumn("u", F.col("user_key").bitwiseAND(F.lit(_MASK)))
        .withColumn("t", F.col("hour_key").bitwiseAND(F.lit(_MASK)))
        .withColumn("b_morton", F.shiftright(_z_col(), _BUCKET_SHIFT))
    )
    # scaled morton: min-max scale each dimension first
    # (zorder_scaled_bucketed) — reuses the u/t column slots.
    df = (
        df.withColumn(
            "u",
            F.expr(
                f"((user_key - umin) * {_MASK})"
                f" DIV greatest(umax - umin, 1)"
            ),
        )
        .withColumn(
            "t",
            F.expr(
                f"((hour_key - hmin) * {_MASK})"
                f" DIV greatest(hmax - hmin, 1)"
            ),
        )
        .withColumn("b_scaled", F.shiftright(_z_col(), _BUCKET_SHIFT))
    )
    # hilbert: the shared xy2d stage chain (hilbert_bucketed).
    df = df.withColumn(
        "x", F.col("user_key").bitwiseAND(F.lit(_HB_MASK))
    ).withColumn(
        "y", F.col("hour_key").bitwiseAND(F.lit(_HB_MASK))
    ).withColumn("d", F.lit(0).cast("long"))
    for s in _hilbert_steps():
        rx, ry, dn, xn, yn = _hilbert_stage_sql(s)
        cols = [c for c in df.columns if c not in ("x", "y", "d")]
        df = df.selectExpr(
            *cols, "x", "y", "d", f"{rx} AS rx", f"{ry} AS ry"
        ).selectExpr(*cols, f"{xn} AS x", f"{yn} AS y", f"{dn} AS d")
    df = df.withColumn(
        "b_hilbert", F.shiftright(F.col("d"), _HB_BUCKET_SHIFT)
    )
    names = F.array(*[F.lit(n) for n in _LAYOUT_NAMES])
    stacked = df.select(
        "user_key",
        "hour_key",
        F.posexplode(
            F.array("b_hour", "b_morton", "b_hilbert", "b_scaled")
        ).alias("lidx", "file_bucket"),
    ).select(
        F.element_at(names, F.col("lidx") + 1).alias("layout"),
        "file_bucket",
        "user_key",
        "hour_key",
    )
    return stacked.groupBy("layout", "file_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("user_key").alias("min_user"),
        F.max("user_key").alias("max_user"),
        F.min("hour_key").alias("min_hour"),
        F.max("hour_key").alias("max_hour"),
    )


def _quality(env: DataFrame, layout: str) -> DataFrame:
    return env.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(F.col("xu") - F.col("mu")).cast("long").alias("user_span_sum"),
        F.sum(F.col("xh") - F.col("mh")).cast("long").alias("hour_span_sum"),
        F.max(F.col("xu") - F.col("mu")).cast("long").alias("user_span_max"),
        F.max(F.col("xh") - F.col("mh")).cast("long").alias("hour_span_max"),
    ).withColumn("layout", F.lit(layout))


_QUALITY_COLS = [
    "layout", "n_buckets", "user_span_sum", "hour_span_sum",
    "user_span_max", "hour_span_max",
]


def _quality_block_sql(env_subquery: str, layout: str) -> str:
    """SELECT of the span aggregates over a per-bucket envelope
    subquery exposing (min_user, max_user, min_hour, max_hour)."""
    return f"""
    SELECT '{layout}' AS layout,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(max_user - min_user) AS BIGINT) AS user_span_sum,
           CAST(SUM(max_hour - min_hour) AS BIGINT) AS hour_span_sum,
           CAST(MAX(max_user - min_user) AS BIGINT) AS user_span_max,
           CAST(MAX(max_hour - min_hour) AS BIGINT) AS hour_span_max
    FROM ({env_subquery})
    """


def _hour_env_sql() -> str:
    return f"""
    WITH hk AS (
      SELECT coalesce(user_id, -1) AS user_key,
             coalesce(epoch_us(ts) // {_US_PER_HOUR}, -1) AS hour_key
      FROM events
    ),
    dom AS (
      SELECT MIN(hour_key) AS hmin,
             MAX(hour_key) - MIN(hour_key) + 1 AS hspan
      FROM hk
    ),
    b AS (
      SELECT user_key, hour_key,
             ((hour_key - hmin) * {Z_FILES}) // hspan AS file_bucket
      FROM hk CROSS JOIN dom
    )
    SELECT file_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(user_key) AS min_user, MAX(user_key) AS max_user,
           MIN(hour_key) AS min_hour, MAX(hour_key) AS max_hour
    FROM b GROUP BY 1
    """


def _cluster_quality_sql() -> str:
    """Staged oracle for the round-17 ``layout_cluster_quality`` entry:
    the hour-baseline envelope CTE plus the committed APPLY oracles of
    the morton and hilbert executors (their n_files column is simply
    not referenced by the span aggregate)."""
    blocks = [
        _quality_block_sql(_hour_env_sql(), "hour"),
        _quality_block_sql(_zorder_apply_sql(), "morton"),
        _quality_block_sql(_hilbert_apply_sql(), "hilbert"),
        _quality_block_sql(_zorder_scaled_env_sql(), "morton_scaled"),
    ]
    return "\nUNION ALL\n".join(blocks)


@query("layout_cluster_quality", _cluster_quality_sql())
def layout_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality report: per candidate layout, the exact
    per-dimension zone-map span sums and maxima over the 64-bucket
    budget. The demonstrable property (pytest): under the naive hour
    layout a user predicate prunes ~nothing (per-bucket user spans ≈
    the whole domain) while morton/hilbert confine BOTH dimensions —
    the measured justification for running OPTIMIZE at all. Staged
    round 16, registered round 17 (see COVERAGE.md)."""
    env = _multi_layout_envelopes(spark, sf_dir)
    return (
        env.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum(F.col("max_user") - F.col("min_user"))
            .cast("long")
            .alias("user_span_sum"),
            F.sum(F.col("max_hour") - F.col("min_hour"))
            .cast("long")
            .alias("hour_span_sum"),
            F.max(F.col("max_user") - F.col("min_user"))
            .cast("long")
            .alias("user_span_max"),
            F.max(F.col("max_hour") - F.col("min_hour"))
            .cast("long")
            .alias("hour_span_max"),
        )
        .select(*_QUALITY_COLS)
    )


# ---------------------------------------------------------------------------
# Scaled z-order planner + executor (staged for round 17)
# ---------------------------------------------------------------------------
# The fix the clustering-quality metric above motivates, as a graded
# pair: OPTIMIZE ZORDER with min-max dimension normalization — the
# form that keeps all Z_FILES buckets populated on ANY live domain
# (offset epoch-hours, small id ranges), where the raw-interleave
# executors degenerate. Same 100 TB shape as every layout executor:
# one extra broadcast scalar aggregate for the domain, then a map-side
# key, one clustering repartition, one file per bucket.


def _zorder_scaled_sql() -> str:
    """Staged oracle for ``layout_zorder_scaled_events``: the scaled
    envelope table with row counts."""
    return f"""
    SELECT CAST(file_bucket AS BIGINT) AS file_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(user_key) AS BIGINT) AS min_user,
           CAST(MAX(user_key) AS BIGINT) AS max_user,
           CAST(MIN(hour_key) AS BIGINT) AS min_hour,
           CAST(MAX(hour_key) AS BIGINT) AS max_hour
    FROM ({_zorder_scaled_keyed_sql()}) GROUP BY 1
    """


@query("layout_zorder_scaled_events", _zorder_scaled_sql())
def layout_zorder_scaled_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map envelope table of the SCALED z-order layout (planner
    half; staged round 16, registered round 17). Unlike the raw
    planner, every bucket is populated on the live domain and confines
    each dimension to an aligned 1/8 slice of it — pinned by
    tests/test_round16_ops.py."""
    ev = zorder_scaled_bucketed(load_table(spark, sf_dir, "events"))
    return (
        ev.select(
            "file_bucket",
            F.expr(_USER_OR_SENTINEL).alias("user_key"),
            F.expr(_HOUR_OR_SENTINEL).alias("hour_key"),
        )
        .groupBy("file_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("user_key").alias("min_user"),
            F.max("user_key").alias("max_user"),
            F.min("hour_key").alias("min_hour"),
            F.max("hour_key").alias("max_hour"),
        )
    )


def zorder_scaled_apply_events(
    spark: SparkSession, sf_dir: str, dest: str
) -> None:
    """Execute the scaled z-order layout: one parquet file per scaled
    z-range bucket under ``dest`` (idempotent overwrite)."""
    (
        zorder_scaled_bucketed(load_table(spark, sf_dir, "events"))
        .repartition("file_bucket")
        .write.mode("overwrite")
        .partitionBy("file_bucket")
        .parquet(dest)
    )
    from .artifacts import renew_lease

    renew_lease(dest)


def _zorder_scaled_apply_sql() -> str:
    """Staged oracle for ``layout_zorder_scaled_apply``: the scaled
    envelope table plus the one-file-per-bucket physical contract."""
    return f"""
    SELECT CAST(file_bucket AS BIGINT) AS file_bucket,
           CAST(1 AS BIGINT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(user_key) AS BIGINT) AS min_user,
           CAST(MAX(user_key) AS BIGINT) AS max_user,
           CAST(MIN(hour_key) AS BIGINT) AS min_hour,
           CAST(MAX(hour_key) AS BIGINT) AS max_hour
    FROM ({_zorder_scaled_keyed_sql()}) GROUP BY 1
    """


@query("layout_zorder_scaled_apply", _zorder_scaled_apply_sql())
def zorder_scaled_apply_inventory(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rewrite + POST-rewrite inventory measured from the files (the
    apply proof pattern). Staged round 16, registered round 17."""
    from .artifacts import app_scoped_dest

    dest = app_scoped_dest(
        spark, sf_dir, "/tmp/sparkgraft_zorder_scaled", "events"
    )
    zorder_scaled_apply_events(spark, sf_dir, dest)
    back = spark.read.parquet(dest)
    return (
        back.select(
            F.col("file_bucket").cast("long").alias("file_bucket"),
            F.input_file_name().alias("file"),
            F.expr(_USER_OR_SENTINEL).alias("user_key"),
            F.expr(_HOUR_OR_SENTINEL).alias("hour_key"),
        )
        .groupBy("file_bucket")
        .agg(
            F.countDistinct("file").alias("n_files"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("user_key").alias("min_user"),
            F.max("user_key").alias("max_user"),
            F.min("hour_key").alias("min_hour"),
            F.max("hour_key").alias("max_hour"),
        )
    )


# ---------------------------------------------------------------------------
# Pruning simulation (staged round 17, registered round 18)
# ---------------------------------------------------------------------------
# The quality report above measures zone-map SPANS; this entry measures
# what a query planner actually pays, for BOTH probe families the
# reference's own query surface stresses: point lookups on the user
# dimension (the selective-customer shape) and aligned hour-RANGE scans
# (the trailing-months shape, /root/reference/queries.sql:61-68) — per
# candidate layout, the number of buckets (and, the number that exposes
# the one-bucket degeneracy spans alone can hide, ROWS) a zone-map-
# pruned scan must read. A layout that puts everything in one bucket
# "hits" only 1 bucket per probe — but that bucket holds the whole
# corpus, so rows_scanned stays at 100%: rows_scanned is the honest
# denominator. The two families complete the trade-off story: the hour
# baseline WINS time slices outright and loses point lookups almost
# totally; the scaled z-order stays within a small factor of the
# specialist on BOTH (the crossover pinned in pytest). User probes are
# the PROBE_COUNT distinct user keys with the smallest md5; hour probes
# are HOUR_RANGE_COUNT aligned equal windows tiling the hour domain —
# both fixed-count deterministic workloads (the ANN recall report's
# move), so the cost is K×(≤Z_FILES envelopes), constant at any corpus
# scale.

PROBE_COUNT = 64
HOUR_RANGE_COUNT = 16


def _probe_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixed probe workload: PROBE_COUNT distinct user keys in
    smallest-md5 order (one tiny global top-K)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.expr(_USER_OR_SENTINEL).alias("probe"))
        .distinct()
        .orderBy(F.md5(F.col("probe").cast("string")), "probe")
        .limit(PROBE_COUNT)
    )


_PROBES_SQL = f"""
    SELECT probe FROM (
      SELECT DISTINCT coalesce(user_id, -1) AS probe FROM events
    ) ORDER BY md5(CAST(probe AS VARCHAR)), probe LIMIT {PROBE_COUNT}
"""


def _envelopes_counted(bucketed: DataFrame) -> DataFrame:
    """Per-bucket zone maps WITH row counts (the pruning simulator's
    input — counts are what make rows_scanned honest)."""
    return (
        bucketed.select(
            "file_bucket",
            F.expr(_USER_OR_SENTINEL).alias("user_key"),
            F.expr(_HOUR_OR_SENTINEL).alias("hour_key"),
        )
        .groupBy("file_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("user_key").alias("min_user"),
            F.max("user_key").alias("max_user"),
            F.min("hour_key").alias("min_hour"),
            F.max("hour_key").alias("max_hour"),
        )
    )


def _probe_workload(
    spark: SparkSession, sf_dir: str, dom: DataFrame | None = None
) -> DataFrame:
    """BOTH fixed probe families as one tiny relation
    (probe_kind, dim, pid, lo, hi): the PROBE_COUNT user point lookups
    (lo = hi = the user key) and the HOUR_RANGE_COUNT aligned equal
    hour windows tiling [hmin, hmax] (window i covers
    [hmin + i·step, hmin + (i+1)·step − 1], step = ceil-free
    (hspan DIV N, floored at 1) — deterministic, RNG-free, and
    engine-portable like every other fixed workload in the repo)."""
    ev = load_table(spark, sf_dir, "events")
    points = _probe_ids(spark, sf_dir).select(
        F.lit("user_point").alias("probe_kind"),
        F.lit("user").alias("dim"),
        F.col("probe").cast("long").alias("pid"),
        F.col("probe").cast("long").alias("lo"),
        F.col("probe").cast("long").alias("hi"),
    )
    if dom is None:
        dom = ev.agg(
            F.min(F.expr(_HOUR_OR_SENTINEL)).alias("hmin"),
            F.max(F.expr(_HOUR_OR_SENTINEL)).alias("hmax"),
        )
    # dom may be the shared 4-column events domain (_events_domain) —
    # only (hmin, hmax) are read; the hour values are the same sentinel
    # expression either way.
    dom = dom.select(
        "hmin",
        F.greatest(
            F.expr(f"(hmax - hmin + 1) DIV {HOUR_RANGE_COUNT}").cast("long"),
            F.lit(1).cast("long"),
        ).alias("step"),
    )
    ranges = (
        spark.range(HOUR_RANGE_COUNT)
        .crossJoin(F.broadcast(dom))  # 1-row domain, the planner's move
        .select(
            F.lit("hour_range").alias("probe_kind"),
            F.lit("hour").alias("dim"),
            F.col("id").cast("long").alias("pid"),
            (F.col("hmin") + F.col("id") * F.col("step"))
            .cast("long")
            .alias("lo"),
            (F.col("hmin") + (F.col("id") + 1) * F.col("step") - 1)
            .cast("long")
            .alias("hi"),
        )
    )
    return points.unionByName(ranges)


_PROBE_WORKLOAD_SQL = f"""
    WITH hk AS (
      SELECT coalesce(epoch_us(ts) // {_US_PER_HOUR}, -1) AS hour_key
      FROM events
    ),
    hdom AS (
      SELECT MIN(hour_key) AS hmin,
             greatest((MAX(hour_key) - MIN(hour_key) + 1)
                        // {HOUR_RANGE_COUNT}, 1) AS step
      FROM hk
    )
    SELECT 'user_point' AS probe_kind, 'user' AS dim,
           CAST(probe AS BIGINT) AS pid,
           CAST(probe AS BIGINT) AS lo, CAST(probe AS BIGINT) AS hi
    FROM ({_PROBES_SQL})
    UNION ALL
    SELECT 'hour_range', 'hour', CAST(r.i AS BIGINT),
           CAST(hmin + r.i * step AS BIGINT),
           CAST(hmin + (r.i + 1) * step - 1 AS BIGINT)
    FROM range(0, {HOUR_RANGE_COUNT}) r(i) CROSS JOIN hdom
"""


def _prune_block_sql(env_subquery: str, layout: str) -> str:
    """Per-layout probe simulation over an envelope subquery exposing
    (min_user, max_user, min_hour, max_hour, n_events), for both probe
    families in one pass."""
    return f"""
    SELECT '{layout}' AS layout, p.probe_kind,
           CAST(COUNT(DISTINCT p.pid) AS BIGINT) AS n_probes,
           CAST(COUNT(*) AS BIGINT) AS buckets_hit,
           CAST(SUM(e.n_events) AS BIGINT) AS rows_scanned
    FROM ({_PROBE_WORKLOAD_SQL}) p
    JOIN ({env_subquery}) e
      ON (p.dim = 'user' AND e.min_user <= p.hi AND e.max_user >= p.lo)
      OR (p.dim = 'hour' AND e.min_hour <= p.hi AND e.max_hour >= p.lo)
    GROUP BY 1, 2
    """


def _prune_probes_sql() -> str:
    """Oracle for the ``layout_prune_probes`` entry: the four committed
    envelope oracles joined against both fixed probe workloads (hour
    env extended with counts; morton/hilbert reuse the apply oracles;
    scaled reuses its envelope oracle)."""
    blocks = [
        _prune_block_sql(_hour_env_sql(), "hour"),
        _prune_block_sql(_zorder_apply_sql(), "morton"),
        _prune_block_sql(_hilbert_apply_sql(), "hilbert"),
        _prune_block_sql(_zorder_scaled_sql(), "morton_scaled"),
    ]
    return "\nUNION ALL\n".join(blocks)


_PRUNE_COLS = [
    "layout", "probe_kind", "n_probes", "buckets_hit", "rows_scanned",
]


@query("layout_prune_probes", _prune_probes_sql())
def layout_prune_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured pruning factor per candidate layout × probe family:
    buckets and ROWS a zone-map-pruned scan reads, summed over the two
    deterministic workloads (user point lookups, aligned hour-range
    windows — the two shapes the reference's own query surface
    stresses). The demonstrable properties (pytest): on point lookups
    the hour baseline scans ~the whole corpus and the degenerate raw
    interleave hits few BUCKETS but still scans ~everything (the
    honesty property), while the scaled layout scans a small fraction;
    on hour ranges the hour specialist WINS outright and the scaled
    layout stays within a small factor of it — the two-dimensional
    trade-off the cluster-quality spans suggest, now measured in rows.
    100 TB shape: one envelope aggregate per layout (4 linear passes
    over bounded ≤Z_FILES groups) + a broadcast of the ~80-row probe
    relation into a bounded nested-loop join — K×(≤Z_FILES envelopes)
    constant work at any corpus scale. Staged round 17 with scale row
    0.26 (SCALE.md); registered round 18."""
    # r18 optimization: the four per-layout envelope legs collapse into
    # the shared single-scan multi-layout aggregation (see
    # _multi_layout_envelopes), and the ~80-row probe workload — which
    # each leg previously re-derived (4 more events scans for the
    # distinct-user top-K and the hour domain) — is computed once and
    # pinned with an eager localCheckpoint before the broadcast. Same
    # join condition, same grouped aggregates, now keyed by the layout
    # column instead of one union leg per layout.
    # One shared domain aggregate feeds both the envelope normalization
    # and the hour-range workload — identical broadcast subtrees, so
    # the exchange is computed once and reused.
    dom = _events_domain(_events_keyed(spark, sf_dir))
    env = _multi_layout_envelopes(spark, sf_dir, dom=dom)
    # (single consumer now — no checkpoint: pinning a once-used subtree
    # only adds a sequential job barrier)
    probes = F.broadcast(_probe_workload(spark, sf_dir, dom=dom))
    hit = env.join(
        probes,
        (
            (F.col("dim") == "user")
            & (F.col("min_user") <= F.col("hi"))
            & (F.col("max_user") >= F.col("lo"))
        )
        | (
            (F.col("dim") == "hour")
            & (F.col("min_hour") <= F.col("hi"))
            & (F.col("max_hour") >= F.col("lo"))
        ),
    )
    return (
        hit.groupBy("layout", "probe_kind")
        .agg(
            F.countDistinct("pid").cast("long").alias("n_probes"),
            F.count(F.lit(1)).cast("long").alias("buckets_hit"),
            F.sum("n_events").cast("long").alias("rows_scanned"),
        )
        .select(*_PRUNE_COLS)
    )


def zorder_scaled_bucketed_fixed(
    df: DataFrame, umin: int, uspan: int, tmin: int, tspan: int
) -> DataFrame:
    """Scaled z-order bucketing under a FROZEN domain (explicit
    constants instead of the dataset's own min/max): the form a
    streaming maintainer needs — every micro-batch must key against
    the SAME grid or folds would mix bucket spaces, exactly like a
    table format pins its clustering spec in metadata. With
    (umin, uspan, tmin, tspan) equal to the corpus domain this
    produces bit-identical buckets to ``zorder_scaled_bucketed``."""
    uspan = max(int(uspan), 1)
    tspan = max(int(tspan), 1)
    # values OUTSIDE the frozen domain (late data past the measured
    # max, a new user id) clamp to the grid edge — they land in the
    # nearest edge bucket instead of producing a negative/overflowed
    # interleave; identical to the dynamic form whenever the domain
    # covers the data
    u = f"least(greatest(((uk - {int(umin)}) * {_MASK}) DIV {uspan}, 0), {_MASK})"
    t = f"least(greatest(((tk - {int(tmin)}) * {_MASK}) DIV {tspan}, 0), {_MASK})"
    keyed = (
        df.withColumn("uk", F.expr(_USER_OR_SENTINEL))
        .withColumn("tk", F.expr(_HOUR_OR_SENTINEL))
        .withColumn("u", F.expr(u))
        .withColumn("t", F.expr(t))
    )
    return keyed.withColumn(
        "file_bucket", F.shiftright(_z_col(), _BUCKET_SHIFT)
    ).drop("uk", "tk", "u", "t")


def scaled_domain(df: DataFrame) -> dict:
    """The frozen-domain constants for ``zorder_scaled_bucketed_fixed``
    measured from a reference corpus (one bounded scalar aggregate)."""
    r = (
        df.withColumn("uk", F.expr(_USER_OR_SENTINEL))
        .withColumn("tk", F.expr(_HOUR_OR_SENTINEL))
        .agg(
            F.min("uk"), F.max("uk"), F.min("tk"), F.max("tk")
        )
        .first()
    )
    return {
        "umin": int(r[0]),
        "uspan": max(int(r[1]) - int(r[0]), 1),
        "tmin": int(r[2]),
        "tspan": max(int(r[3]) - int(r[2]), 1),
    }


# ---------------------------------------------------------------------------
# Time travel, driver-gradable (round-17 verdict item 6)
# ---------------------------------------------------------------------------
# The three sinks' VERSION AS OF surfaces were pytest-only through
# round 17 — the driver never exercised a version read. This entry
# builds a real fenced z-order sink in an app-scoped scratch dir (the
# apply-entry pattern), commits TWO batches through the gate's own
# staged-append + fold commit path (deterministic halves of the events
# table: even event_ids, then odd), and reports the asof-vs-latest
# aggregate triple. The DuckDB oracle recomputes all three views
# straight from the events table and the split rule — so a green
# driver row is a standing proof that VERSION AS OF generation 0
# serves EXACTLY the pre-second-batch table (if asof leaked any later
# row, or lost any committed one, the 'asof_g0' aggregates break the
# value hash), and that latest − asof is exactly batch 1.

_TIME_TRAVEL_SQL = """
    SELECT 'asof_g0' AS view,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           CAST(SUM(coalesce(user_id, -1)) AS BIGINT) AS sum_user
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT 'latest',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(event_id) AS BIGINT),
           CAST(SUM(coalesce(user_id, -1)) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'delta',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(event_id) AS BIGINT),
           CAST(SUM(coalesce(user_id, -1)) AS BIGINT)
    FROM events WHERE event_id % 2 != 0
"""


@query("layout_time_travel", _TIME_TRAVEL_SQL)
def layout_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERSION AS OF, proven end-to-end through the real commit path:
    build a fenced z-order sink, fold batch 0 (even event_ids) into
    generation 0 and batch 1 (odd) into generation 1, then read
    ``clustered_table_asof(gen 0)``, the latest table, and their
    row-level difference (exceptAll — not an aggregate shortcut), and
    reduce each to exact integer aggregates the oracle recomputes from
    the raw events. Idempotent per session (replayed batches are
    watermark-excluded; appends are skipped once folded_through covers
    them) and per concurrent driver (app-scoped dest). 100 TB shape:
    two map-side keyed appends + two folds (each one clustering
    repartition over its own batch), one exceptAll shuffle, three
    scan-bound aggregates — linear, no driver-side data."""
    import os

    from ..streaming import zorder_stream as zs
    from ..streaming.fencing import acquire_writer
    from .artifacts import app_scoped_dest

    dest = app_scoped_dest(
        spark, sf_dir, "/tmp/sparkgraft_timetravel", "events"
    )
    ev = load_table(spark, sf_dir, "events")
    os.makedirs(dest, exist_ok=True)
    zs._pin_key(dest, "morton")
    token = acquire_writer(spark, dest)
    try:
        staging = os.path.join(dest, "staging")
        for batch_id, pred in (
            (0, "event_id % 2 = 0"),
            (1, "event_id % 2 != 0"),
        ):
            _, folded = zs._gen_state(dest)
            if folded >= batch_id:
                continue  # committed by an earlier call this session
            (
                zorder_bucketed(ev.filter(pred))
                .withColumn("batch_id", F.lit(batch_id).cast("long"))
                .write.mode("append")
                .parquet(staging)
            )
            zs._fold(spark, dest, token)
    finally:
        token.release()
    asof = zs.clustered_table_asof(spark, dest, 0).drop("file_bucket")
    latest = zs.clustered_table(spark, dest).drop("file_bucket")
    delta = latest.exceptAll(asof)

    def _agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
            F.sum(F.expr("coalesce(user_id, -1)"))
            .cast("long")
            .alias("sum_user"),
        ).withColumn("view", F.lit(tag))

    out = (
        _agg(asof, "asof_g0")
        .unionByName(_agg(latest, "latest"))
        .unionByName(_agg(delta, "delta"))
    )
    return out.select("view", "n_rows", "sum_event_id", "sum_user")
