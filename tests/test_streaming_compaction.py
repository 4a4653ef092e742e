"""Stream/batch equivalence for the continuous small-file compactor
(`streaming.compaction_stream`): feeding the events table as
event-time-ordered hourly micro-files must, after finalize, reproduce
the batch `compact_events` rewrite exactly — same rows, same bins, one
file per bin — with bins appearing incrementally as they close,
restarts idempotent, and the staging sweep keeping retention bounded
without changing the output."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.catalog import (
    load_table,
)
from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.operators import (
    layout,
)
from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.streaming import (
    compaction_stream,
)

SF = "/root/testdata/sf0.01"  # sf0.001 fits inside one bin
N_FEED_FILES = 12


def _ordered_feed(spark, tmp_path) -> str:
    """Split events into N_FEED_FILES contiguous hour ranges written as
    separate files with strictly increasing mtimes — the event-time-
    ordered hourly ingest the gate's contract assumes."""
    ev = load_table(spark, SF, "events").withColumn(
        "hour", F.expr(f"unix_micros(ts) DIV {layout._US_PER_HOUR}")
    )
    hours = sorted(r["hour"] for r in ev.select("hour").distinct().collect())
    chunks = [
        hours[i * len(hours) // N_FEED_FILES : (i + 1) * len(hours) // N_FEED_FILES]
        for i in range(N_FEED_FILES)
    ]
    feed = tmp_path / "feed"
    feed.mkdir()
    for i, chunk in enumerate(c for c in chunks if c):
        part = str(tmp_path / f"part{i}")
        ev.filter(F.col("hour").isin(chunk)).drop("hour").coalesce(
            1
        ).write.mode("overwrite").parquet(part)
        src = next(
            p for p in os.listdir(part) if p.endswith(".parquet")
        )
        dst = feed / f"{i:04d}.parquet"
        os.rename(os.path.join(part, src), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))
    return str(feed)


def _run(spark, tmp_path, feed, tag="a"):
    out = str(tmp_path / f"out_{tag}")
    q = compaction_stream.run_compaction_stream(
        spark, feed, out, checkpoint=str(tmp_path / f"ckpt_{tag}")
    )
    q.awaitTermination(300)
    return out


def _bins(spark, compacted_dir):
    df = spark.read.parquet(compacted_dir)
    return {
        r["group_id"]: (r["n"], r["nf"])
        for r in df.select(
            F.col("group_id").cast("long").alias("group_id"),
            F.input_file_name().alias("f"),
        )
        .groupBy("group_id")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("f").alias("nf"))
        .collect()
    }


def test_stream_compaction_matches_batch(spark, tmp_path):
    feed = _ordered_feed(spark, tmp_path)
    out = _run(spark, tmp_path, feed)
    # bins closed by arrival are already down; the trailing one waits
    pre = _bins(spark, f"{out}/compacted")
    assert pre, "closed bins must compact before finalize"
    compaction_stream.finalize_compaction(spark, out)

    batch_dest = str(tmp_path / "batch")
    layout.compact_events(spark, SF, batch_dest)
    batch = spark.read.parquet(batch_dest)
    got = spark.read.parquet(f"{out}/compacted").select(*batch.columns)
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0
    # one file per bin, bins == batch plan
    gb = _bins(spark, f"{out}/compacted")
    bb = _bins(spark, batch_dest)
    assert gb == bb
    assert all(nf == 1 for _, nf in gb.values())


def test_restart_and_sweep_are_idempotent(spark, tmp_path):
    feed = _ordered_feed(spark, tmp_path)
    out = _run(spark, tmp_path, feed)
    first = _bins(spark, f"{out}/compacted")
    # restart over the same checkpoint: no new files, no double writes
    q = compaction_stream.run_compaction_stream(
        spark, feed, out, checkpoint=str(tmp_path / "ckpt_a")
    )
    q.awaitTermination(300)
    assert _bins(spark, f"{out}/compacted") == first
    # sweep bounds staging without touching compacted output (the
    # surviving rows move to the next GENERATION dir, committed
    # atomically — see _staging_state)
    dir_before, off_before, closed_before = compaction_stream._staging_state(
        out
    )
    n_staged_before = spark.read.parquet(dir_before).count()
    compaction_stream.sweep_staging(spark, out)
    dir_after, off_after, closed_after = compaction_stream._staging_state(out)
    # the sweep rolls the compacted bins' hour coverage into the marker
    assert closed_after > closed_before
    assert dir_after != dir_before and off_after > off_before
    n_staged_after = spark.read.parquet(dir_after).count()
    assert n_staged_after < n_staged_before
    assert off_after - off_before == n_staged_before - n_staged_after
    assert _bins(spark, f"{out}/compacted") == first
    compaction_stream.finalize_compaction(spark, out)
    batch_dest = str(tmp_path / "batch")
    layout.compact_events(spark, SF, batch_dest)
    batch = spark.read.parquet(batch_dest)
    got = spark.read.parquet(f"{out}/compacted").select(*batch.columns)
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_continuation_across_separate_runs(spark, tmp_path):
    """Real ingest arrives over DAYS, not one availableNow pass: feed
    half the files, run to completion, land the other half, run again
    over the SAME checkpoint — bins must keep closing exactly once
    across the boundary and the final output must still equal the
    batch rewrite. This exercises the compacted-dir-based
    already-written detection across process lifetimes, not just
    within one."""
    feed_all = _ordered_feed(spark, tmp_path)
    files = sorted(os.listdir(feed_all))
    feed = str(tmp_path / "feed_live")
    os.mkdir(feed)
    half = len(files) // 2
    for i, name in enumerate(files[:half]):
        os.link(os.path.join(feed_all, name), os.path.join(feed, name))
        os.utime(os.path.join(feed, name), (1_000_000 + i, 1_000_000 + i))
    out = str(tmp_path / "out_cont")
    ck = str(tmp_path / "ckpt_cont")
    q = compaction_stream.run_compaction_stream(spark, feed, out, checkpoint=ck)
    q.awaitTermination(300)
    mid = _bins(spark, f"{out}/compacted")
    assert mid, "first half must close at least one bin"
    for j, name in enumerate(files[half:]):
        os.link(os.path.join(feed_all, name), os.path.join(feed, name))
        os.utime(
            os.path.join(feed, name),
            (1_000_100 + j, 1_000_100 + j),
        )
    q2 = compaction_stream.run_compaction_stream(spark, feed, out, checkpoint=ck)
    q2.awaitTermination(300)
    compaction_stream.finalize_compaction(spark, out)
    batch_dest = str(tmp_path / "batch_cont")
    layout.compact_events(spark, SF, batch_dest)
    batch = spark.read.parquet(batch_dest)
    got = spark.read.parquet(f"{out}/compacted").select(*batch.columns)
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0
    gb = _bins(spark, f"{out}/compacted")
    assert all(nf == 1 for _, nf in gb.values())
    for gid, stats in mid.items():
        assert gb[gid] == stats  # first-run bins untouched by run 2


def test_late_row_is_quarantined_and_cannot_shift_bins(spark, tmp_path):
    """Late-data guard (round-12 advice): a back-filled row whose
    event-hour falls inside an already-compacted bin is loudly
    quarantined on arrival — it never enters staging, so no existing
    bin boundary shifts, the compacted output still equals the batch
    rewrite of the ON-TIME feed, and the row is preserved (not
    silently swept) for out-of-band reprocessing."""
    feed = _ordered_feed(spark, tmp_path)
    out = _run(spark, tmp_path, feed)
    pre = _bins(spark, f"{out}/compacted")
    assert pre, "closed bins must exist before the late arrival"
    # craft a late file: earliest-hour rows, fresh ids so a dedup
    # could never absorb them
    ev = load_table(spark, SF, "events")
    late = (
        ev.orderBy("ts")
        .limit(3)
        .withColumn("event_id", F.col("event_id") + F.lit(10_000_000))
    )
    late_ids = {r["event_id"] for r in late.select("event_id").collect()}
    part = str(tmp_path / "late_part")
    late.coalesce(1).write.mode("overwrite").parquet(part)
    src = next(p for p in os.listdir(part) if p.endswith(".parquet"))
    dst = str(tmp_path / "feed" / "9999.parquet")
    os.rename(os.path.join(part, src), dst)
    os.utime(dst, (2_000_000, 2_000_000))
    # continuation run over the same checkpoint picks up only the late file
    q = compaction_stream.run_compaction_stream(
        spark, feed, out, checkpoint=str(tmp_path / "ckpt_a")
    )
    q.awaitTermination(300)
    # 1. quarantined, loudly and completely
    quar = spark.read.parquet(f"{out}/quarantine")
    assert {r["event_id"] for r in quar.select("event_id").collect()} == (
        late_ids
    )
    # 2. never entered staging
    staging_dir, _, _ = compaction_stream._staging_state(out)
    staged_ids = {
        r["event_id"]
        for r in spark.read.parquet(staging_dir).select("event_id").collect()
    }
    assert not (staged_ids & late_ids)
    # 3. existing bins untouched
    assert _bins(spark, f"{out}/compacted") == pre
    # 4. finalize still reproduces the batch rewrite of the ON-TIME feed
    compaction_stream.finalize_compaction(spark, out)
    batch_dest = str(tmp_path / "batch")
    layout.compact_events(spark, SF, batch_dest)
    batch = spark.read.parquet(batch_dest)
    got = spark.read.parquet(f"{out}/compacted").select(*batch.columns)
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_corrupt_staging_marker_propagates(spark, tmp_path):
    """A present-but-corrupt staging marker must raise, not silently
    reset to (gen 0, offset 0): the reset would recreate staging_g0
    with colliding bin numbering (fresh rows landing in already-done
    group ids are never compacted and the next sweep drops them) and
    would disable the late-data quarantine (boundary reset)."""
    import pytest

    out = tmp_path / "out_corrupt"
    out.mkdir()
    (out / "staging_meta.json").write_text('{"generation": 2, "offs')
    with pytest.raises((ValueError, KeyError)):
        compaction_stream._staging_state(str(out))


def test_late_row_quarantined_after_sweep_via_marker(spark, tmp_path):
    """The closed boundary must survive a staging sweep: after the
    sweep removes the compacted bins' rows from staging, the live
    attestation is gone and the marker's closed_hour watermark is the
    ONLY evidence — a late row arriving then must still be quarantined
    (this pins the meta branch of _closed_boundary; the pre-sweep test
    above pins the live-staging branch)."""
    feed = _ordered_feed(spark, tmp_path)
    out = _run(spark, tmp_path, feed)
    assert _bins(spark, f"{out}/compacted"), "need closed bins"
    compaction_stream.sweep_staging(spark, out)
    _, _, closed = compaction_stream._staging_state(out)
    assert closed > compaction_stream._NO_CLOSED_HOUR
    pre = _bins(spark, f"{out}/compacted")
    ev = load_table(spark, SF, "events")
    late = (
        ev.orderBy("ts")
        .limit(2)
        .withColumn("event_id", F.col("event_id") + F.lit(20_000_000))
    )
    late_ids = {r["event_id"] for r in late.select("event_id").collect()}
    part = str(tmp_path / "late_part2")
    late.coalesce(1).write.mode("overwrite").parquet(part)
    src = next(p for p in os.listdir(part) if p.endswith(".parquet"))
    dst = str(tmp_path / "feed" / "9998.parquet")
    os.rename(os.path.join(part, src), dst)
    os.utime(dst, (2_000_001, 2_000_001))
    q = compaction_stream.run_compaction_stream(
        spark, feed, out, checkpoint=str(tmp_path / "ckpt_a")
    )
    q.awaitTermination(300)
    quar_ids = {
        r["event_id"]
        for r in spark.read.parquet(f"{out}/quarantine")
        .select("event_id")
        .collect()
    }
    assert late_ids <= quar_ids
    assert _bins(spark, f"{out}/compacted") == pre
    staging_dir, _, _ = compaction_stream._staging_state(out)
    staged_ids = {
        r["event_id"]
        for r in spark.read.parquet(staging_dir).select("event_id").collect()
    }
    assert not (staged_ids & late_ids)


def test_written_groups_distinguishes_debris_from_damage(spark, tmp_path):
    """_written_groups: a missing dir or job debris (_temporary only)
    is 'nothing compacted yet' (those bins never became visible — the
    retry correctly rewrites them); but once committed group_id=
    partitions exist, a read failure must propagate rather than return
    empty (empty would re-append written bins: double count)."""
    import pytest
    from pyspark.sql import functions as F

    d = tmp_path / "compacted"
    # missing dir
    assert compaction_stream._written_groups(spark, str(d)) == set()
    # debris only
    (d / "_temporary").mkdir(parents=True)
    assert compaction_stream._written_groups(spark, str(d)) == set()
    # committed partition
    spark.range(3).select(
        F.lit(7).alias("group_id"), F.col("id")
    ).write.partitionBy("group_id").mode("append").parquet(str(d))
    assert compaction_stream._written_groups(spark, str(d)) == {7}
    # committed partition DAMAGED out-of-band -> propagate, never empty
    part_dir = d / "group_id=7"
    for f in part_dir.iterdir():
        if f.name.endswith(".parquet"):
            f.write_bytes(b"\x00broken")
    with pytest.raises(Exception):
        compaction_stream._written_groups(spark, str(d))


def test_stream_hot_hour_splits_like_batch(spark, tmp_path):
    """Round-14 within-hour splitting, streaming twin: a hot ingest
    hour arriving through the gate splits its bin into the SAME
    ceil(n/TARGET) ≈target-sized (group, sub) files as the batch
    executor — same rows, same file layout — because the bin is only
    written once complete, when the staged per-hour counts equal the
    batch planner's and the map-side pmod rule sees identical inputs."""
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 1, 1)
    eid = 0
    for hour in range(6):
        n = 5000 if hour == 3 else 40  # hour 3 hot: past 2x target
        for i in range(n):
            rows.append(
                (eid, base + dt.timedelta(hours=hour, seconds=i % 3600),
                 eid % 97, "view", float(i), "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    src = str(tmp_path / "hot_src")
    df.write.mode("overwrite").parquet(f"{src}/events.parquet")

    feed = tmp_path / "hot_feed"
    feed.mkdir()
    for hour in range(6):  # one ordered file per ingest hour
        part = str(tmp_path / f"hot_part{hour}")
        lo = base + dt.timedelta(hours=hour)
        hi = lo + dt.timedelta(hours=1)
        df.filter((F.col("ts") >= lo) & (F.col("ts") < hi)).coalesce(
            1
        ).write.mode("overwrite").parquet(part)
        srcf = next(p for p in os.listdir(part) if p.endswith(".parquet"))
        dst = feed / f"{hour:04d}.parquet"
        os.rename(os.path.join(part, srcf), dst)
        os.utime(dst, (2_000_000 + hour, 2_000_000 + hour))

    out = _run(spark, tmp_path, str(feed), tag="hot")
    compaction_stream.finalize_compaction(spark, out)
    batch_dest = str(tmp_path / "hot_batch")
    layout.compact_events(spark, src, batch_dest)

    batch = spark.read.parquet(batch_dest)
    got = spark.read.parquet(f"{out}/compacted").select(*batch.columns)
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0
    gb = _bins(spark, f"{out}/compacted")
    bb = _bins(spark, batch_dest)
    assert gb == bb
    hot_gid = max(gb, key=lambda g: gb[g][0])
    assert gb[hot_gid] == (5120, 6)  # ceil(5120/1000) files
    assert all(nf == 1 for g, (_, nf) in gb.items() if g != hot_gid)


def test_legacy_marker_without_closed_hour_hard_errors(spark, tmp_path):
    """A staging marker that already swept bins (offset > 0) but lacks
    the closed_hour watermark cannot attest the late-data boundary —
    reading it must hard-error, not silently default the guard off
    (advice, round 13)."""
    import json

    import pytest

    out = tmp_path / "legacy_out"
    out.mkdir()
    with open(out / "staging_meta.json", "w") as fh:
        json.dump({"generation": 2, "offset": 1000}, fh)
    with pytest.raises(RuntimeError, match="closed_hour"):
        compaction_stream._staging_state(str(out))


def test_partial_split_bin_write_is_retried_not_lost(spark, tmp_path):
    """Round-14 review finding, pinned: a crash mid-commit of a SPLIT
    bin must not leave a partial file set that doneness detection
    mistakes for a committed bin (the retried batch would skip it and
    the sweep would drop its rows — silent loss). The per-bin staging
    dir + atomic dir rename makes the commit all-or-nothing: simulate
    the crash state (bin files half-written under the underscore
    staging dir, destination dir absent) and assert the gate neither
    counts the bin as done nor loses a row end-to-end."""
    import datetime as dt
    import json
    import shutil

    rows = []
    base = dt.datetime(2024, 1, 1)
    eid = 0
    for hour in range(6):
        n = 5000 if hour == 3 else 40
        for i in range(n):
            rows.append(
                (eid, base + dt.timedelta(hours=hour, seconds=i % 3600),
                 eid % 97, "view", float(i), "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    feed = tmp_path / "pfeed"
    feed.mkdir()
    for hour in range(6):
        part = str(tmp_path / f"ppart{hour}")
        lo = base + dt.timedelta(hours=hour)
        hi = lo + dt.timedelta(hours=1)
        df.filter((F.col("ts") >= lo) & (F.col("ts") < hi)).coalesce(
            1
        ).write.mode("overwrite").parquet(part)
        srcf = next(p for p in os.listdir(part) if p.endswith(".parquet"))
        dst = feed / f"{hour:04d}.parquet"
        os.rename(os.path.join(part, srcf), dst)
        os.utime(dst, (3_000_000 + hour, 3_000_000 + hour))

    out = _run(spark, tmp_path, str(feed), tag="partial")
    compacted = tmp_path / "out_partial" / "compacted"
    # the hot bin (6 sub-files) is down; simulate the crash state:
    # move its committed dir BACK to the underscore staging name and
    # delete half its sub dirs — exactly what a mid-commit crash under
    # the OLD append-mode write could leave visible
    hot = max(
        (p for p in compacted.iterdir() if p.name.startswith("group_id=")),
        key=lambda p: sum(f.stat().st_size for f in p.rglob("*.parquet")),
    )
    subs = sorted(d for d in hot.iterdir() if d.name.startswith("sub="))
    assert len(subs) == 6, "the hot bin must have split"
    staging_name = compacted / ("_staging_bin_" + hot.name.split("=")[1])
    os.rename(hot, staging_name)
    for d in list(staging_name.iterdir()):
        if d.name.startswith("sub=") and int(d.name.split("=")[1]) >= 3:
            shutil.rmtree(d)
    # doneness must NOT include the bin (its dir is gone)
    done = compaction_stream._written_groups(spark, str(compacted))
    assert int(hot.name.split("=")[1]) not in done
    # replaying the feed (fresh checkpoint) must rebuild the bin whole
    q = compaction_stream.run_compaction_stream(
        spark, str(feed), str(tmp_path / "out_partial"),
        checkpoint=str(tmp_path / "ckpt_partial2"),
    )
    q.awaitTermination(300)
    compaction_stream.finalize_compaction(spark, str(tmp_path / "out_partial"))
    back = spark.read.parquet(str(compacted))
    assert back.count() == len(rows)
    assert back.select("event_id").distinct().count() == len(rows)
    # a leftover _staging_bin_* dir is invisible debris (underscore
    # prefix) — the retried write overwrote it before the rename, so
    # whether the rename consumed it or not, no reader ever sees it


def test_publish_missing_staged_bin_raises_named_error(spark, tmp_path):
    """Round-14 advice (_write_bins:260): if a todo gid yields no
    group_id=K partition from the write job (plan/staging drift, or a
    dest removed out-of-band after its staged rows were swept), the
    publish loop must fail with a protocol error NAMING the bin and
    the committed-prefix state — not a bare FileNotFoundError after
    some bins already committed."""
    import datetime as dt

    import pytest

    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i), i % 7,
         "view", 0.0, "{}")
        for i in range(20)
    ]
    staged = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("batch_id", F.lit(0))
    hour0 = int(dt.datetime(2024, 1, 1,
                            tzinfo=dt.timezone.utc).timestamp()) // 3600
    plan = spark.createDataFrame(
        [(hour0, 20, 0), (hour0 + 99, 50, 5)],
        "hour long, n_rows long, group_id long",
    )
    out = str(tmp_path / "compacted")
    # todo includes group 5, whose hour has NO staged rows → the write
    # job emits no group_id=5 partition
    with pytest.raises(RuntimeError, match=r"group_id=5") as ei:
        compaction_stream._write_bins(staged, plan, [0, 5], out)
    # round-15 advice: the forensics message separates bins THIS loop
    # renamed from dirs that pre-existed (none here)
    assert "published by this loop: [0]" in str(ei.value)
    assert "pre-existing and skipped: []" in str(ei.value)
    # the committed prefix is explicit and intact: bin 0 published
    assert os.path.isdir(os.path.join(out, "group_id=0"))
    # staged root kept for forensics
    assert os.path.isdir(os.path.join(out, "_staging_bins"))


def test_time_travel_on_sweep_commit_boundaries(spark, tmp_path):
    """VERSION AS OF on the compaction sink (round-16 verdict item 4,
    the z-order table's contract): each sweep commit stays servable
    exactly as it saw the table — bins compacted at the commit plus the
    retained staging generation at its batch watermark — even while
    later ingest publishes new bins (including a bin built from rows
    the snapshot still serves from staging). Outside the
    keep_generations retention window, a NAMED error lists what is
    still servable."""
    import datetime as dt

    import pytest

    feed = _ordered_feed(spark, tmp_path)
    out = _run(spark, tmp_path, feed)
    n_first = load_table(spark, SF, "events").count()

    # first sweep commit → generation 1 snapshot
    compaction_stream.sweep_staging(spark, out, keep_generations=3)
    snaps = compaction_stream.compacted_snapshots(out)
    g1 = [s for s in snaps if s["gen"] == 1][0]
    assert g1["current"] and g1["groups"] and g1["batch_through"] >= 0
    asof1 = compaction_stream.compacted_table_asof(spark, out, 1)
    assert asof1.count() == n_first

    # later ingest: 40 rows in hours PAST the closed boundary (ordered
    # ingest, not late data), fed through the SAME checkpoint
    max_ts = load_table(spark, SF, "events").agg(F.max("ts")).first()[0]
    new_rows = [
        (10_000_000 + i, max_ts + dt.timedelta(hours=1 + i // 20, seconds=i),
         i % 7, "view", 1.0, "{}")
        for i in range(40)
    ]
    extra = spark.createDataFrame(
        new_rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    extra.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "x"))
    src = next(
        p for p in os.listdir(str(tmp_path / "x")) if p.endswith(".parquet")
    )
    os.rename(
        os.path.join(str(tmp_path / "x"), src),
        os.path.join(feed, "9999.parquet"),
    )
    q = compaction_stream.run_compaction_stream(
        spark, feed, out, checkpoint=str(tmp_path / "ckpt_a")
    )
    q.awaitTermination(300)
    q.writer_token.release()
    compaction_stream.finalize_compaction(spark, out)

    # the current view grew; the generation-1 snapshot did not — new
    # bins (and the old trailing bin published after the commit) are
    # excluded whole, their pre-commit rows still served from the
    # retained staging generation
    assert compaction_stream.compacted_table(spark, out).count() == (
        n_first + 40
    )
    asof1 = compaction_stream.compacted_table_asof(spark, out, 1)
    assert asof1.count() == n_first
    want = load_table(spark, SF, "events").select(*asof1.columns)
    assert asof1.exceptAll(want).count() == 0
    assert want.exceptAll(asof1).count() == 0

    # second sweep commit → generation 2 serves everything; gen 1 stays
    # servable inside keep_generations=3
    compaction_stream.sweep_staging(spark, out, keep_generations=3)
    asof2 = compaction_stream.compacted_table_asof(spark, out, 2)
    assert asof2.count() == n_first + 40
    assert (
        compaction_stream.compacted_table_asof(spark, out, 1).count()
        == n_first
    )

    # vacuum past the window → gen 1/2 reclaimed, named error lists
    # the still-servable commits
    compaction_stream.sweep_staging(spark, out, keep_generations=1)
    with pytest.raises(RuntimeError, match="not servable"):
        compaction_stream.compacted_table_asof(spark, out, 1)
    assert (
        compaction_stream.compacted_table_asof(spark, out, 3).count()
        == n_first + 40
    )


def test_reader_never_double_serves_a_concurrently_published_bin(
    spark, tmp_path
):
    """Round-17 advice: ``compacted_table`` used to snapshot the done
    set, then let the compacted parquet scan list the dir again at
    action time — a bin the live compactor published between the two
    appeared in BOTH the compacted read and (not excluded) the staging
    read. Now both sides derive from one os-level listing: a bin
    published after the reader's construction is served exactly once,
    from staging."""
    feed = _ordered_feed(spark, tmp_path)
    out = _run(spark, tmp_path, feed, tag="race")
    total = spark.read.parquet(feed).count()
    # reader constructed BEFORE the trailing bin publishes
    df = compaction_stream.compacted_table(spark, out)
    # the "live compactor" publishes the remaining bin(s) between the
    # reader's listing and its action; refresh forces any cached file
    # index to re-list so a dir-based scan would now see the new bin
    compaction_stream.finalize_compaction(spark, out)
    spark.catalog.refreshByPath(f"{out}/compacted")
    assert df.count() == total
    assert df.select("event_id").distinct().count() == total
    # a reader constructed after the publish serves the bin from the
    # compacted side instead — same table either way
    assert compaction_stream.compacted_table(spark, out).count() == total
