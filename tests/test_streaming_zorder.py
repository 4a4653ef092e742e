"""Streaming z-order maintenance gate (`streaming.zorder_stream`):
batch/stream layout equivalence, exactly-once under full replay,
dirty-bucket-only rewrites (clean buckets carried by metadata link),
and bounded staging after vacuum."""

from __future__ import annotations

import json
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
    zorder_stream,
)

SF = "/root/testdata/sf0.001"
COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _feed(spark, tmp_path, n_files=5) -> str:
    """The events table split into n ingest files (z-buckets don't
    care about arrival order)."""
    feed = str(tmp_path / "feed")
    ev = load_table(spark, SF, "events")
    ev.withColumn("part", F.pmod(F.col("event_id"), F.lit(n_files))).repartition(
        n_files, "part"
    ).drop("part").write.mode("overwrite").parquet(feed)
    return feed


def _run(spark, feed, out, ckpt, threshold=60, key="morton"):
    q = zorder_stream.run_zorder_stream(
        spark, feed, out,
        max_files_per_trigger=1,
        checkpoint=ckpt,
        rewrite_staged_rows=threshold,
        key=key,
    )
    q.awaitTermination(120)


# Both clustering keys the gate maintains, with their batch twins —
# the layout-equivalence, replay and dirty-bucket properties must hold
# identically for each (round-15 verdict item 3).
KEYS = [
    ("morton", layout.zorder_apply_events),
    ("hilbert", layout.hilbert_apply_events),
    ("morton3", layout.zorder3_apply_events),
]


def _base_rows(spark, out):
    gen, _ = zorder_stream._gen_state(out)
    base = zorder_stream._base_dir(out, gen)
    df = spark.read.parquet(base)
    return sorted(tuple(r) for r in df.select(*COLS, "file_bucket").collect())


@pytest.mark.parametrize("key,batch_apply", KEYS)
def test_stream_zorder_matches_batch_executor(spark, tmp_path, key, batch_apply):
    feed = _feed(spark, tmp_path)
    out = str(tmp_path / "zs")
    _run(spark, feed, out, str(tmp_path / "ck0"), key=key)
    zorder_stream.finalize_zorder(spark, out)

    dest = str(tmp_path / "batch")
    batch_apply(spark, SF, dest)
    want = sorted(
        tuple(r)
        for r in spark.read.parquet(dest).select(*COLS, "file_bucket").collect()
    )
    got = _base_rows(spark, out)
    assert got == want

    # one file per bucket, exactly like the batch executor
    gen, _ = zorder_stream._gen_state(out)
    base = zorder_stream._base_dir(out, gen)
    for name in os.listdir(base):
        if name.startswith("file_bucket="):
            files = [
                f for f in os.listdir(os.path.join(base, name))
                if not f.startswith(("_", "."))
            ]
            assert len(files) == 1, name


@pytest.mark.parametrize("key", [k for k, _ in KEYS])
def test_full_replay_is_exactly_once(spark, tmp_path, key):
    feed = _feed(spark, tmp_path)
    out = str(tmp_path / "zs")
    _run(spark, feed, out, str(tmp_path / "ck0"), key=key)
    zorder_stream.finalize_zorder(spark, out)
    first = _base_rows(spark, out)

    # checkpoint lost: the whole feed replays into the same sink
    _run(spark, feed, out, str(tmp_path / "ck1"), key=key)
    zorder_stream.finalize_zorder(spark, out)
    again = _base_rows(spark, out)
    assert again == first

    # and the reader view (base + unfolded staging) has no duplicates
    view = zorder_stream.clustered_table(spark, out)
    assert view.count() == view.select("event_id").distinct().count()


@pytest.mark.parametrize("key", [k for k, _ in KEYS])
def test_fold_rewrites_only_dirty_buckets(spark, tmp_path, key):
    """The liquid-clustering property: a fold whose staged rows touch
    a few buckets carries every CLEAN bucket's file into the new
    generation by hardlink (same inode), never a rewrite."""
    feed = _feed(spark, tmp_path)
    out = str(tmp_path / "zs")
    _run(spark, feed, out, str(tmp_path / "ck0"), key=key)
    zorder_stream.finalize_zorder(spark, out)
    gen0, _ = zorder_stream._gen_state(out)
    base0 = zorder_stream._base_dir(out, gen0)
    inodes0 = {}
    for name in os.listdir(base0):
        if name.startswith("file_bucket="):
            d = os.path.join(base0, name)
            f = [x for x in os.listdir(d) if not x.startswith(("_", "."))][0]
            inodes0[name] = os.stat(os.path.join(d, f)).st_ino

    # more ingest arrives in the SAME feed (same pipeline, same
    # checkpoint — batch ids continue monotonically), touching ONE
    # user/hour region → few dirty buckets
    import datetime as dt

    late = spark.createDataFrame(
        [
            (10_000 + i, dt.datetime(2024, 1, 1, 0, 0, i), 3, "view", 1.0, "{}")
            for i in range(30)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    late.coalesce(1).write.mode("append").parquet(feed)
    _run(spark, feed, out, str(tmp_path / "ck0"), threshold=10, key=key)
    zorder_stream.finalize_zorder(spark, out)

    gen1, _ = zorder_stream._gen_state(out)
    assert gen1 > gen0
    base1 = zorder_stream._base_dir(out, gen1)
    dirty = {
        f"file_bucket={int(r[0])}"
        for r in zorder_stream._bucketed(late, key)
        .select("file_bucket").distinct().collect()
    }
    carried = rewritten = 0
    for name, ino in inodes0.items():
        d = os.path.join(base1, name)
        files = [x for x in os.listdir(d) if not x.startswith(("_", "."))]
        assert len(files) == 1, name
        ino1 = os.stat(os.path.join(d, files[0])).st_ino
        if name in dirty:
            assert ino1 != ino, f"dirty bucket {name} must be rewritten"
            rewritten += 1
        else:
            assert ino1 == ino, f"clean bucket {name} must be linked"
            carried += 1
    assert rewritten >= 1
    # row accounting: new base == old rows + late rows
    n0 = spark.read.parquet(base0).count() if os.path.isdir(base0) else None
    assert spark.read.parquet(base1).count() == (n0 or 0) + 30


def test_sweep_reclaims_folded_staging_and_old_generations(spark, tmp_path):
    feed = _feed(spark, tmp_path)
    out = str(tmp_path / "zs")
    _run(spark, feed, out, str(tmp_path / "ck0"), threshold=40)
    zorder_stream.finalize_zorder(spark, out)
    before = _base_rows(spark, out)
    zorder_stream.sweep_staging(spark, out)
    gen, folded = zorder_stream._gen_state(out)
    staging = os.path.join(out, "staging")
    # everything folded → vacuum empties staging (schema is pinned, so
    # a zero-file staging dir reads as empty, not an inference error)
    surv = (
        spark.read.schema(zorder_stream._STAGING_SCHEMA)
        .parquet(staging).count()
        if os.path.isdir(staging) else 0
    )
    assert surv == 0
    root = os.path.join(out, "clustered")
    gens = [n for n in os.listdir(root) if n.startswith("base_g")]
    assert gens == [f"base_g{gen}"]
    assert _base_rows(spark, out) == before
    # marker survives and the reader view still serves the full table
    assert json.load(open(zorder_stream._marker_path(out)))["gen"] == gen
    n_src = load_table(spark, SF, "events").count()
    assert zorder_stream.clustered_table(spark, out).count() == n_src


def _staged_fixture(spark, out, n_batches=3, folded_through=1):
    """A sink dir with a committed base (batches 0..folded_through) and
    staging holding ONE FILE PER BATCH (the sink's append shape)."""
    import datetime as dt

    os.makedirs(out, exist_ok=True)
    rows = [
        (i, dt.datetime(2024, 1, 1, 0, 0, i % 60), i % 5, "view", 1.0, "{}", b)
        for b in range(n_batches)
        for i in range(b * 10, b * 10 + 10)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string, batch_id long",
    )
    staged = zorder_stream._bucketed(df)
    staging = os.path.join(out, "staging")
    base = zorder_stream._base_dir(out, 0)
    (
        staged.filter(f"batch_id <= {folded_through}").drop("batch_id")
        .repartition("file_bucket").write.mode("overwrite")
        .partitionBy("file_bucket").parquet(base)
    )
    with open(zorder_stream._marker_path(out), "w") as fh:
        json.dump({"gen": 0, "folded_through": folded_through}, fh)
    for b in range(n_batches):  # one append (→ one file) per batch
        staged.filter(f"batch_id = {b}").coalesce(1).write.mode(
            "append"
        ).parquet(staging)
    return staging


def test_corrupt_marker_is_a_hard_error_not_first_run(spark, tmp_path):
    """Round-15 advice: a present-but-unparseable marker must NOT read
    as 'no base' — that would drop the committed generation from the
    reader view and let the next fold rmtree it."""
    import pytest

    out = str(tmp_path / "zs")
    _staged_fixture(spark, out)
    with open(zorder_stream._marker_path(out), "w") as fh:
        fh.write('{"gen": 0')  # truncated json
    with pytest.raises(RuntimeError, match="corrupt z-order"):
        zorder_stream._gen_state(out)
    with open(zorder_stream._marker_path(out), "w") as fh:
        fh.write('{"generation": 0}')  # wrong keys
    with pytest.raises(RuntimeError, match="corrupt z-order"):
        zorder_stream._gen_state(out)
    # and a non-ENOENT read failure propagates instead of → (-1, -1)
    os.remove(zorder_stream._marker_path(out))
    os.makedirs(zorder_stream._marker_path(out))  # open() → IsADirectoryError
    with pytest.raises(OSError):
        zorder_stream._gen_state(out)
    os.rmdir(zorder_stream._marker_path(out))
    assert zorder_stream._gen_state(out) == (-1, -1)  # genuinely absent


def test_sweep_never_touches_files_outside_its_snapshot(spark, tmp_path):
    """Round-15 advice: the old sweep renamed the LIVE staging dir, so
    an append landing mid-sweep was renamed away and deleted. The
    per-file sweep only deletes files from its snapshot listing —
    a file appended after the listing survives verbatim."""
    out = str(tmp_path / "zs")
    staging = _staged_fixture(spark, out, n_batches=3, folded_through=1)
    listed = zorder_stream._staging_files(staging)
    # a micro-batch append lands AFTER the sweep's listing
    import datetime as dt

    late = spark.createDataFrame(
        [(99, dt.datetime(2024, 1, 2), 1, "view", 1.0, "{}", 3)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string, batch_id long",
    )
    zorder_stream._bucketed(late).coalesce(1).write.mode("append").parquet(
        staging
    )
    zorder_stream._sweep_listed(spark, listed, folded=1)
    # folded files (batches 0,1) reclaimed; batch 2 and the late append
    # survive and the reader serves base + both unfolded batches
    left = zorder_stream._staged(spark, staging, -1)
    assert sorted(
        r[0] for r in left.select("batch_id").distinct().collect()
    ) == [2, 3]
    view = zorder_stream.clustered_table(spark, out)
    assert view.count() == 31  # 20 folded + 10 batch-2 + 1 late
    assert view.filter("event_id = 99").count() == 1


def test_sweep_crash_midway_is_idempotent(spark, tmp_path):
    """A crash mid-delete leaves a subset of folded files; re-running
    the sweep converges and no unfolded row is ever a candidate."""
    out = str(tmp_path / "zs")
    staging = _staged_fixture(spark, out, n_batches=3, folded_through=1)
    files = zorder_stream._staging_files(staging)
    # simulate the crash: exactly one listed file already deleted
    # (sweep half-ran); which one is folded doesn't matter — deletion
    # of a folded file is idempotent and an unfolded file is never
    # deleted by _sweep_listed
    per_batch = {}
    for f in list(files):
        b = spark.read.schema(zorder_stream._STAGING_SCHEMA).parquet(
            f
        ).select("batch_id").first()[0]
        per_batch[f] = int(b)
    victim = next(f for f, b in per_batch.items() if b == 0)
    os.remove(victim)
    zorder_stream.sweep_staging(spark, out)
    left = zorder_stream._staged(spark, staging, -1)
    assert sorted(
        r[0] for r in left.select("batch_id").distinct().collect()
    ) == [2]
    assert zorder_stream.clustered_table(spark, out).count() == 30
    # second sweep: no-op, same state
    zorder_stream.sweep_staging(spark, out)
    assert zorder_stream.clustered_table(spark, out).count() == 30


def test_second_pipeline_is_fenced_while_first_is_live(spark, tmp_path):
    """Round-15 verdict item 5: two concurrent sessions on one sink →
    one proceeds, the other raises the named protocol error (a second
    pipeline with a fresh checkpoint would restart batch ids and
    corrupt the folded_through watermark)."""
    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.streaming.fencing import (
        WriterFencedError,
    )

    feed = _feed(spark, tmp_path, n_files=8)  # 8 triggers: stays live
    out = str(tmp_path / "zs")
    q1 = zorder_stream.run_zorder_stream(
        spark, feed, out,
        max_files_per_trigger=1,
        checkpoint=str(tmp_path / "ck0"),
        rewrite_staged_rows=10_000,
    )
    try:
        assert q1.isActive
        with pytest.raises(WriterFencedError, match="owned by writer"):
            zorder_stream.run_zorder_stream(
                spark, feed, out,
                max_files_per_trigger=1,
                checkpoint=str(tmp_path / "ck1"),
            )
    finally:
        q1.awaitTermination(120)
    # once the owner terminated, a sequential re-attach (resume /
    # replay) takes the lease over cleanly — same-process liveness is
    # exact (run-id no longer active), no TTL wait
    _run(spark, feed, out, str(tmp_path / "ck0"))
    zorder_stream.finalize_zorder(spark, out)
    n_src = load_table(spark, SF, "events").count()
    assert zorder_stream.clustered_table(spark, out).count() == n_src


def test_fenced_writer_fails_instead_of_zombie_writing(spark, tmp_path):
    """The fencing-token property: a writer whose lease was taken over
    must fail its next write, not write past the takeover."""
    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.streaming import (
        fencing,
    )

    out = str(tmp_path / "sink")
    tok_a = fencing.acquire_writer(spark, out)
    # B takes over (ttl 0: A's lease is treated as lapsed — the
    # cross-process crash-recovery path)
    tok_b = fencing.acquire_writer(spark, out, ttl_s=0.0)
    assert tok_b.epoch == tok_a.epoch + 1
    with pytest.raises(fencing.WriterFencedError, match="fenced off"):
        tok_a.verify_and_renew()
    tok_b.verify_and_renew()  # the new owner proceeds
    # and a live (fresh-heartbeat) owner blocks contenders at default ttl
    with pytest.raises(fencing.WriterFencedError, match="owned by writer"):
        fencing.acquire_writer(spark, out)


def test_layout_key_is_pinned_per_sink(spark, tmp_path):
    """A sink clustered by one key hard-errors on attach with another —
    mixing bucket spaces would corrupt the layout invariant."""
    feed = _feed(spark, tmp_path, n_files=2)
    out = str(tmp_path / "zs")
    _run(spark, feed, out, str(tmp_path / "ck0"), key="morton")
    with pytest.raises(RuntimeError, match="layout-key mismatch"):
        zorder_stream.run_zorder_stream(
            spark, feed, out,
            checkpoint=str(tmp_path / "ck1"),
            key="hilbert",
        )
    with pytest.raises(ValueError, match="unknown clustering key"):
        zorder_stream.run_zorder_stream(
            spark, feed, out,
            checkpoint=str(tmp_path / "ck2"),
            key="zcurve",
        )


def test_scaled_key_stream_matches_batch_executor(spark, tmp_path):
    """The scaled key's streaming twin: with the frozen domain set to
    the corpus domain (the clustering spec a table format pins), the
    finalized stream layout equals the batch scaled executor's output
    bucket-for-bucket, and attaching with a DIFFERENT frozen domain is
    a hard error (it would be a different bucket space)."""
    feed = _feed(spark, tmp_path)
    out = str(tmp_path / "zs")
    dom = layout.scaled_domain(load_table(spark, SF, "events"))
    q = zorder_stream.run_zorder_stream(
        spark, feed, out,
        max_files_per_trigger=1,
        checkpoint=str(tmp_path / "ck0"),
        rewrite_staged_rows=60,
        key="morton_scaled",
        scale_domain=dom,
    )
    q.awaitTermination(120)
    zorder_stream.finalize_zorder(spark, out)

    dest = str(tmp_path / "batch")
    layout.zorder_scaled_apply_events(spark, SF, dest)
    want = sorted(
        tuple(r)
        for r in spark.read.parquet(dest).select(*COLS, "file_bucket").collect()
    )
    assert _base_rows(spark, out) == want

    # different frozen domain → different bucket space → named error
    bad = dict(dom); bad["uspan"] = dom["uspan"] + 1
    with pytest.raises(RuntimeError, match="layout-key mismatch"):
        zorder_stream.run_zorder_stream(
            spark, feed, out,
            checkpoint=str(tmp_path / "ck1"),
            key="morton_scaled", scale_domain=bad,
        )
    # and the scaled key without a domain is rejected up front
    with pytest.raises(ValueError, match="scale_domain"):
        zorder_stream.run_zorder_stream(
            spark, feed, str(tmp_path / "zs2"),
            checkpoint=str(tmp_path / "ck2"),
            key="morton_scaled",
        )


def test_renewal_never_rewrites_the_canonical_token(spark, tmp_path):
    """The lease-race fix: heartbeat renewals touch only the epoch's
    own sidecar, so a renewal interleaving with a takeover's canonical
    commit can never resurrect the superseded epoch."""
    import time

    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.streaming import (
        fencing,
    )

    out = str(tmp_path / "sink")
    tok = fencing.acquire_writer(spark, out)
    canon = fencing._token_path(out)
    before = open(canon).read()
    hb = fencing._heartbeat_path(out, tok.epoch)
    t0 = float(open(hb).read())
    time.sleep(0.01)
    tok.verify_and_renew()
    assert open(canon).read() == before  # canonical untouched
    assert float(open(hb).read()) > t0   # lease renewed in the sidecar


def test_orphaned_claim_does_not_block_takeover_forever(spark, tmp_path):
    """A contender that died between creating its epoch claim and
    committing the canonical token must not wedge the sink: once the
    claim outlives the lease with the canonical epoch unadvanced, the
    next acquire reclaims it."""
    import os as _os

    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.streaming import (
        fencing,
    )

    out = str(tmp_path / "sink")
    tok0 = fencing.acquire_writer(spark, out)
    # dead contender: claim for epoch 1 exists, canonical never moved
    orphan = _os.path.join(out, "_writer_claim.1")
    open(orphan, "w").write("dead-contender")
    _os.utime(orphan, (0, 0))  # ancient mtime → older than any lease
    tok1 = fencing.acquire_writer(spark, out, ttl_s=0.0)
    assert tok1.epoch == tok0.epoch + 1
    tok1.verify_and_renew()
    # whereas a FRESH claim (live contender mid-acquire) still loses:
    # make the OWNER's lease stale (so the contender reaches the CAS)
    # while the claim itself is brand new (inside the lease)
    import time as _time

    hb = fencing._heartbeat_path(out, tok1.epoch)
    open(hb, "w").write(repr(_time.time() - 100.0))
    fresh = _os.path.join(out, "_writer_claim.2")
    open(fresh, "w").write("live-contender")
    with pytest.raises(fencing.WriterFencedError, match="race"):
        fencing.acquire_writer(spark, out, ttl_s=10.0)


def test_sweep_keeps_mixed_batch_files_until_fully_folded(spark, tmp_path):
    """Whole-file deletion is safe only because a file is deleted iff
    ALL its rows are folded: a file mixing folded and unfolded batches
    (out-of-band writes can produce one) must survive, then reclaim
    once the watermark passes its last batch."""
    out = str(tmp_path / "zs")
    staging = _staged_fixture(spark, out, n_batches=3, folded_through=1)
    # one extra file holding batches 1 AND 2 together (batch 1 folded,
    # batch 2 not)
    import datetime as dt

    mixed = spark.createDataFrame(
        [
            (90 + b, dt.datetime(2024, 1, 2), 1, "view", 1.0, "{}", b)
            for b in (1, 2)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string, batch_id long",
    )
    zorder_stream._bucketed(mixed).coalesce(1).write.mode("append").parquet(
        staging
    )
    zorder_stream.sweep_staging(spark, out)  # folded_through = 1
    left = zorder_stream._staged(spark, staging, -1)
    batches = sorted(
        r[0] for r in left.select("batch_id").distinct().collect()
    )
    assert batches == [1, 2]  # the mixed file survived whole
    # advance the watermark past batch 2 → the mixed file reclaims
    with open(zorder_stream._marker_path(out), "w") as fh:
        json.dump({"gen": 0, "folded_through": 2}, fh)
    zorder_stream.sweep_staging(spark, out)
    files = zorder_stream._staging_files(staging)
    assert files == []  # everything folded → fully reclaimed


def test_acquire_cas_under_real_thread_contention(spark, tmp_path):
    """Eight threads race the FIRST acquisition of one sink: the
    O_CREAT|O_EXCL claim guarantees exactly one winner; every loser
    gets the named error, never a second token."""
    import threading

    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.streaming import (
        fencing,
    )

    out = str(tmp_path / "sink")
    results: list = [None] * 8
    barrier = threading.Barrier(8)

    def contend(i):
        barrier.wait()
        try:
            results[i] = fencing.acquire_writer(spark, out)
        except fencing.WriterFencedError:
            results[i] = "fenced"

    threads = [threading.Thread(target=contend, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    winners = [r for r in results if isinstance(r, fencing.WriterToken)]
    assert len(winners) == 1, results
    assert results.count("fenced") == 7
    # the winner's token is the committed one and stays verifiable
    tok = winners[0]
    winners[0].verify_and_renew()
    cur = fencing._read_token(out)
    assert cur["owner"] == tok.owner and cur["epoch"] == tok.epoch == 0


def test_time_travel_on_commit_boundaries(spark, tmp_path):
    """VERSION AS OF on the clustered table: each committed generation
    stays servable exactly as it committed (row set AND layout) inside
    the vacuum retention window; outside it, a NAMED error lists what
    is still servable. Retained generations are cheap: carried clean
    buckets share inodes with the current base."""
    feed = _feed(spark, tmp_path)
    out = str(tmp_path / "zs")
    _run(spark, feed, out, str(tmp_path / "ck0"))
    zorder_stream.finalize_zorder(spark, out)
    g0, folded0 = zorder_stream._gen_state(out)
    rows_g0 = _base_rows(spark, out)

    # more ingest → second generation
    import datetime as dt

    late = spark.createDataFrame(
        [(20_000 + i, dt.datetime(2024, 1, 1, 0, 0, i), 3, "view", 1.0, "{}")
         for i in range(20)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    late.coalesce(1).write.mode("append").parquet(feed)
    _run(spark, feed, out, str(tmp_path / "ck0"), threshold=10)
    zorder_stream.finalize_zorder(spark, out)
    g1, folded1 = zorder_stream._gen_state(out)
    assert g1 == g0 + 1

    # history lists every still-on-disk generation (several folds per
    # run at this threshold), ordered, current flagged exactly once,
    # watermarks preserved per generation
    hist = zorder_stream.snapshots(out)
    gens = [h["gen"] for h in hist]
    assert gens == sorted(gens) and gens[-1] == g1 and g0 in gens
    by_gen = {h["gen"]: h for h in hist}
    assert by_gen[g0]["folded_through"] == folded0 < folded1
    assert by_gen[g1]["folded_through"] == folded1
    assert [h["current"] for h in hist].count(True) == 1
    assert by_gen[g1]["current"] and not by_gen[g0]["current"]

    # asof(g0) == exactly what g0 committed, bit-for-bit
    asof = zorder_stream.clustered_table_asof(spark, out, g0)
    got = sorted(
        tuple(r) for r in asof.select(*COLS, "file_bucket").collect()
    )
    assert got == rows_g0
    assert asof.count() + 20 == zorder_stream.clustered_table_asof(
        spark, out, g1
    ).count()

    # vacuum with a 2-generation retention window keeps g0 servable...
    zorder_stream.sweep_staging(spark, out, keep_generations=2)
    assert zorder_stream.clustered_table_asof(spark, out, g0).count() > 0
    # ...and the default window (current only) reclaims it with a
    # NAMED error that lists the servable generations
    zorder_stream.sweep_staging(spark, out)
    with pytest.raises(RuntimeError, match="VERSION AS OF") as ei:
        zorder_stream.clustered_table_asof(spark, out, g0)
    assert f"[{g1}]" in str(ei.value)
    # never-committed generations get the same named error
    with pytest.raises(RuntimeError, match="not servable"):
        zorder_stream.clustered_table_asof(spark, out, g1 + 5)
    # the live view is untouched by all of this
    n_src = load_table(spark, SF, "events").count()
    assert zorder_stream.clustered_table(spark, out).count() == n_src + 20


def test_clamp_detection_and_domain_repin(spark, tmp_path):
    """Round-16 verdict item 5, the frozen-domain evolution story:
    drifted ingest (keys past the pinned domain) clamps to the grid
    edge and is DETECTED by the clamp-rate report; past the threshold,
    ``repin_scaled_domain`` re-measures the domain and re-clusters the
    whole table under the new pinned spec in one marker commit — after
    which the clamp rate is zero, the per-bucket span bound recovers,
    the layout equals the batch executor's fixed keying under the new
    domain bit-for-bit, attaches with the OLD domain are rejected, and
    ingest continues under the new one."""
    import datetime as dt

    feed = _feed(spark, tmp_path)
    out = str(tmp_path / "zs")
    ev = load_table(spark, SF, "events")
    dom = layout.scaled_domain(ev)
    q = zorder_stream.run_zorder_stream(
        spark, feed, out,
        max_files_per_trigger=1,
        checkpoint=str(tmp_path / "ck0"),
        rewrite_staged_rows=60,
        key="morton_scaled",
        scale_domain=dom,
    )
    q.awaitTermination(120)
    q.writer_token.release()
    zorder_stream.finalize_zorder(spark, out)
    assert zorder_stream.scaled_clamp_report(spark, out)["clamp_ppm"] == 0

    # drift injection: 40 rows with user ids and hours FAR outside the
    # pinned domain, delivered through the SAME checkpoint
    max_ts = ev.agg(F.max("ts")).first()[0]
    drifted = spark.createDataFrame(
        [
            (
                5_000_000 + i,
                max_ts + dt.timedelta(hours=100 + i),
                dom["umin"] + dom["uspan"] * 10 + i,
                "view",
                1.0,
                "{}",
            )
            for i in range(40)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    drifted.coalesce(1).write.mode("append").parquet(feed)
    q = zorder_stream.run_zorder_stream(
        spark, feed, out,
        max_files_per_trigger=1,
        checkpoint=str(tmp_path / "ck0"),
        rewrite_staged_rows=60,
        key="morton_scaled",
        scale_domain=dom,
    )
    q.awaitTermination(120)
    q.writer_token.release()
    zorder_stream.finalize_zorder(spark, out)

    rep = zorder_stream.scaled_clamp_report(spark, out)
    assert rep["n_rows"] == 1040 and rep["n_clamped"] == 40
    assert rep["clamp_ppm"] == 1_000_000 * 40 // 1040

    # below threshold → measured no-op
    noop = zorder_stream.repin_scaled_domain(
        spark, out, threshold_ppm=rep["clamp_ppm"] + 1
    )
    assert noop["repinned"] is False

    # past threshold → OPTIMIZE FULL under the re-measured domain
    result = zorder_stream.repin_scaled_domain(
        spark, out, threshold_ppm=10_000
    )
    assert result["repinned"] is True
    assert result["clamp_ppm_after"] == 0
    new_dom = result["new_domain"]
    assert new_dom["uspan"] >= dom["uspan"] * 10  # covers the drift
    # span bound recovered: every bucket confines each dimension to a
    # fraction of the NEW domain (the scaled-key guarantee the clamped
    # edge buckets had lost)
    assert result["quality"]["user_span_max"] <= new_dom["uspan"] // 4
    assert result["quality"]["hour_span_max"] <= new_dom["tspan"] // 4

    # the re-keyed table equals the batch executor's fixed keying under
    # the new domain, row for row, bucket for bucket
    all_rows = spark.read.parquet(feed)
    want = sorted(
        tuple(r)
        for r in layout.zorder_scaled_bucketed_fixed(all_rows, **new_dom)
        .select(*COLS, "file_bucket")
        .collect()
    )
    assert _base_rows(spark, out) == want

    # OLD domain no longer attaches; the NEW one does, and ingest
    # continues in the re-pinned bucket space
    with pytest.raises(RuntimeError, match="layout-key mismatch"):
        zorder_stream.run_zorder_stream(
            spark, feed, out,
            checkpoint=str(tmp_path / "ck0"),
            key="morton_scaled", scale_domain=dom,
        )
    more = spark.createDataFrame(
        [
            (6_000_000, max_ts + dt.timedelta(hours=1), 1, "view", 1.0, "{}")
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    more.coalesce(1).write.mode("append").parquet(feed)
    q = zorder_stream.run_zorder_stream(
        spark, feed, out,
        max_files_per_trigger=1,
        checkpoint=str(tmp_path / "ck0"),
        rewrite_staged_rows=60,
        key="morton_scaled",
        scale_domain=new_dom,
    )
    q.awaitTermination(120)
    q.writer_token.release()
    zorder_stream.finalize_zorder(spark, out)
    assert zorder_stream.clustered_table(spark, out).count() == 1041


def test_fold_commits_write_the_clamp_trail(spark, tmp_path):
    """Round-17 verdict item 2: drift detection must be part of the
    COMMIT history, not an on-demand call a deployment can forget.
    Every fold on a scaled sink records this fold's clamp sample and
    the cumulative pair in its snapshot sidecar + the marker; injected
    drift writes a RISING clamp_ppm trail; ``repin_scaled_domain``
    reads the trail (source == 'trail', no table re-scan) and RESETS it
    at the re-pin commit. The post-repin fold also pins the round-17
    advice finding: a fold on a NON-empty backlog must carry the
    re-pinned marker params forward instead of erasing them."""
    import datetime as dt

    feed = _feed(spark, tmp_path)
    out = str(tmp_path / "zs")
    ev = load_table(spark, SF, "events")
    dom = layout.scaled_domain(ev)
    q = zorder_stream.run_zorder_stream(
        spark, feed, out,
        max_files_per_trigger=1,
        checkpoint=str(tmp_path / "ck0"),
        rewrite_staged_rows=60,
        key="morton_scaled",
        scale_domain=dom,
    )
    q.awaitTermination(120)
    q.writer_token.release()
    zorder_stream.finalize_zorder(spark, out)
    m = zorder_stream._read_marker(out)
    assert m["clamp"] == {"n_rows": 1000, "n_clamped": 0}
    pre_drift = [s for s in zorder_stream.snapshots(out) if s["current"]][0]
    assert pre_drift["clamp_ppm"] == 0

    # drift injection through the SAME checkpoint: 40 rows far outside
    # the pinned domain — the fold that lands them must record them
    max_ts = ev.agg(F.max("ts")).first()[0]
    drifted = spark.createDataFrame(
        [
            (
                5_000_000 + i,
                max_ts + dt.timedelta(hours=100 + i),
                dom["umin"] + dom["uspan"] * 10 + i,
                "view",
                1.0,
                "{}",
            )
            for i in range(40)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    drifted.coalesce(1).write.mode("append").parquet(feed)
    q = zorder_stream.run_zorder_stream(
        spark, feed, out,
        max_files_per_trigger=1,
        checkpoint=str(tmp_path / "ck0"),
        rewrite_staged_rows=60,
        key="morton_scaled",
        scale_domain=dom,
    )
    q.awaitTermination(120)
    q.writer_token.release()
    zorder_stream.finalize_zorder(spark, out)

    m = zorder_stream._read_marker(out)
    assert m["clamp"] == {"n_rows": 1040, "n_clamped": 40}
    cur = [s for s in zorder_stream.snapshots(out) if s["current"]][0]
    # the trail ROSE: cumulative ppm matches the full-scan oracle
    # exactly, and this fold's own sample is all-clamped
    assert cur["clamp_ppm"] == 1_000_000 * 40 // 1040
    assert cur["clamp_fold_ppm"] == 1_000_000
    assert (
        cur["clamp_ppm"]
        == zorder_stream.scaled_clamp_report(spark, out)["clamp_ppm"]
    )
    assert cur["clamp_ppm"] > (pre_drift["clamp_ppm"] or 0)

    # repin reads the TRAIL, not a re-scan, and resets it at commit
    noop = zorder_stream.repin_scaled_domain(
        spark, out, threshold_ppm=cur["clamp_ppm"] + 1
    )
    assert noop["repinned"] is False and noop["source"] == "trail"
    result = zorder_stream.repin_scaled_domain(spark, out, threshold_ppm=10_000)
    assert result["repinned"] is True and result["source"] == "trail"
    m = zorder_stream._read_marker(out)
    assert m["clamp"] == {"n_rows": 1040, "n_clamped": 0}
    assert m["params"] == result["new_domain"]
    assert [s for s in zorder_stream.snapshots(out) if s["current"]][0][
        "clamp_ppm"
    ] == 0

    # round-17 advice (marker-params erasure): a fold over a NON-empty
    # backlog after the re-pin must carry the committed params forward
    new_dom = result["new_domain"]
    more = spark.createDataFrame(
        [(6_000_000, max_ts + dt.timedelta(hours=1), 1, "view", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    more.coalesce(1).write.mode("append").parquet(feed)
    q = zorder_stream.run_zorder_stream(
        spark, feed, out,
        max_files_per_trigger=1,
        checkpoint=str(tmp_path / "ck0"),
        rewrite_staged_rows=60,
        key="morton_scaled",
        scale_domain=new_dom,
    )
    q.awaitTermination(120)
    q.writer_token.release()
    zorder_stream.finalize_zorder(spark, out)
    m = zorder_stream._read_marker(out)
    assert m["params"] == new_dom, (
        "a fold must never erase the re-pinned clustering spec"
    )
    assert m["clamp"] == {"n_rows": 1041, "n_clamped": 0}
    # and the committed spec still governs attaches (the authority
    # chain _pin_key repairs from the marker)
    assert zorder_stream._pinned_scaled_params(out) == new_dom
