"""Round-15 gates: the registered ``layout_zorder_apply`` entry's
NULL/sentinel semantics on corpora the driver testdata never shows
(round-14 ADVICE layout.py:520 — NULL ts must not land in a Hive
default partition or diverge from the DuckDB oracle), plus the
pre-epoch integer-division agreement the oracle docstring claims."""

from __future__ import annotations

import datetime as dt

import duckdb

from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.operators import (
    layout,
)
from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.plans import (
    registry,
)


def _hostile_events(spark, tmp_path):
    """Events with every hazard the ADVICE named: NULL ts, NULL
    user_id, negative user_id, and pre-epoch ts (negative hour index,
    where a truncate/floor divergence would bite)."""
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for hour in range(4):
        for i in range(50):
            uid = -(eid % 97) if i % 9 == 0 else eid % 997
            rows.append(
                (eid, base + dt.timedelta(hours=hour, seconds=i),
                 uid, "view", float(i), "{}")
            )
            eid += 1
    # pre-epoch: hour index negative, and NOT on an exact hour
    # boundary so truncation vs floor would actually diverge
    rows.append((eid, dt.datetime(1969, 12, 31, 22, 30), 5, "view", 0.0, "{}"))
    rows.append((eid + 1, dt.datetime(1969, 6, 1, 1, 2, 3), 6, "view", 0.0, "{}"))
    # NULL hazards
    rows.append((eid + 2, None, 7, "view", 0.0, "{}"))          # NULL ts
    rows.append((eid + 3, base, None, "view", 0.0, "{}"))       # NULL user
    rows.append((eid + 4, None, None, "view", 0.0, "{}"))       # both NULL
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    src = str(tmp_path / "hostile")
    df.coalesce(2).write.mode("overwrite").parquet(f"{src}/events.parquet")
    return src


def test_zorder_apply_oracle_models_hostile_corpus(spark, tmp_path):
    """Entry and oracle agree bit-for-bit on the hostile corpus — the
    sentinel keys keep NULL-dimension rows in a real bucket on both
    sides, and Spark DIV == DuckDB // for pre-epoch hours."""
    src = _hostile_events(spark, tmp_path)
    got = sorted(
        tuple(int(v) for v in r)
        for r in layout.zorder_apply_inventory(spark, src).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{src}/events.parquet/*.parquet')"
    )
    want = sorted(
        tuple(int(v) for v in r)
        for r in con.execute(registry.ORACLES["layout_zorder_apply"]).fetchall()
    )
    assert got == want


def test_zorder_apply_hostile_rows_all_measured(spark, tmp_path):
    """Row preservation on the hostile corpus: the measured inventory
    accounts for every input row (no NULL-keyed row dropped into a
    default partition or skipped by the read-back)."""
    src = _hostile_events(spark, tmp_path)
    inv = layout.zorder_apply_inventory(spark, src).collect()
    n_in = spark.read.parquet(f"{src}/events.parquet").count()
    assert sum(r["n_events"] for r in inv) == n_in
    # NULL-keyed rows measured at the sentinel: some bucket's envelope
    # must include -1 on each dimension
    assert min(r["min_user"] for r in inv) < 0
    assert min(r["min_hour"] for r in inv) < 0


def test_zorder_apply_registered_with_oracle():
    """The round-15 registration landed: entry + oracle both present,
    and the oracle is the sentinel form (models NULLs)."""
    assert "layout_zorder_apply" in registry.QUERIES
    sql = registry.ORACLES["layout_zorder_apply"]
    assert "coalesce(user_id, -1)" in sql
    assert "coalesce(epoch_us(ts)" in sql


# ---------------------------------------------------------------------------
# v2 reconcile protocol (positive completion flag — round-14 advice
# hybrid_join.py:458): debris-only staging without the flag is now a
# PROVABLE state, never an assumption, for markers this code wrote.
# ---------------------------------------------------------------------------
import json
import os

import pytest

from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.streaming import (
    hybrid_join as hj,
)


def _mk_sink(tmp_path, files, *, in_sink, staged, flag, v=2):
    """Synthesize a sink + marker in an arbitrary protocol state.
    ``in_sink``/``staged`` select which manifest files exist where."""
    out = tmp_path / "sink"
    staging = out / "_staging" / "batch_0"
    staging.mkdir(parents=True)
    (staging / "_SUCCESS").write_bytes(b"")  # job debris
    for rel in files:
        if rel in in_sink:
            p = out / rel
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_bytes(b"x")
        if rel in staged:
            p = staging / rel
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_bytes(b"x")
    man = {"staging": "batch_0", "files": list(files)}
    if v is not None:
        man["v"] = v
    if flag:
        man["moved"] = True
    marker = out / "_batch_0_committed"
    marker.write_text(json.dumps(man))
    return out, marker, staging


def test_v2_flagged_marker_is_done_whatever_staging_holds(tmp_path):
    out, marker, staging = _mk_sink(
        tmp_path, ["a.parquet"], in_sink=[], staged=["a.parquet"], flag=True
    )
    # flag present → even a staged-looking dir is debris from a crash
    # AFTER the flag write; reconcile removes it without touching sink
    hj._reconcile_batch(str(marker), str(out))
    assert not staging.exists()


def test_v2_unflagged_debris_only_with_all_files_in_sink_completes(tmp_path):
    """Crash between the last move and the flag write: every manifest
    file is in the sink. Reconcile proves it, writes the flag, removes
    the debris."""
    out, marker, staging = _mk_sink(
        tmp_path, ["a.parquet", "b.parquet"],
        in_sink=["a.parquet", "b.parquet"], staged=[], flag=False,
    )
    hj._reconcile_batch(str(marker), str(out))
    assert json.loads(marker.read_text())["moved"] is True
    assert not staging.exists()
    assert (out / "a.parquet").exists() and (out / "b.parquet").exists()
    assert not (out / "_assumed_reconciles.json").exists()


def test_v2_unflagged_debris_only_missing_sink_file_raises(tmp_path):
    """Out-of-band deletion of committed rows can no longer hide
    behind a print: no flag + debris-only staging + a manifest file in
    NEITHER place is unreachable by any crash point of the v2
    protocol."""
    out, marker, staging = _mk_sink(
        tmp_path, ["a.parquet", "b.parquet"],
        in_sink=["a.parquet"], staged=[], flag=False,
    )
    with pytest.raises(RuntimeError, match="out-of-band damage"):
        hj._reconcile_batch(str(marker), str(out))
    assert staging.exists()  # state preserved for forensics


def test_v2_unflagged_missing_staging_dir_raises(tmp_path):
    """v2 removes staging only AFTER the flag write — an absent dir
    without the flag means someone rmtree'd staging out-of-band."""
    import shutil

    out, marker, staging = _mk_sink(
        tmp_path, ["a.parquet"], in_sink=["a.parquet"], staged=[], flag=False
    )
    shutil.rmtree(staging)
    with pytest.raises(RuntimeError, match="out-of-band"):
        hj._reconcile_batch(str(marker), str(out))


def test_v2_mid_move_state_still_moves_and_flags(tmp_path):
    out, marker, staging = _mk_sink(
        tmp_path, ["a.parquet", "b.parquet"],
        in_sink=["a.parquet"], staged=["b.parquet"], flag=False,
    )
    hj._reconcile_batch(str(marker), str(out))
    assert (out / "a.parquet").exists() and (out / "b.parquet").exists()
    assert json.loads(marker.read_text())["moved"] is True
    assert not staging.exists()


def test_optimize_reconciles_unflagged_markers_first(spark, tmp_path):
    """compact_parquet must complete pending reconciles before
    renaming sink files — otherwise an unflagged-but-fully-moved
    marker's sink-presence proof would break and a benign crash state
    would read as damage after OPTIMIZE."""
    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.etl.compact import (
        compact_parquet,
    )

    out = tmp_path / "sink"
    out.mkdir()
    spark.range(100).toDF("date_id").write.mode("overwrite").parquet(str(out))
    data_files = [
        f for f in os.listdir(out)
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    staging = out / "_staging" / "batch_0"
    staging.mkdir(parents=True)
    (staging / "_SUCCESS").write_bytes(b"")
    (out / "_batch_0_committed").write_text(
        json.dumps({"v": 2, "staging": "batch_0", "files": data_files})
    )
    compact_parquet(spark, str(out))
    # marker flagged BEFORE the rename, so the post-OPTIMIZE reconcile
    # is a clean no-op even though the original file names are gone
    assert json.loads((out / "_batch_0_committed").read_text())["moved"] is True
    hj._reconcile_pending_batches(str(out))
    assert spark.read.parquet(str(out)).count() == 100


# ---------------------------------------------------------------------------
# 3-key z-order (staged for round-16 registration; verdict item 6)
# ---------------------------------------------------------------------------
from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.operators import (
    layout,
)

SF01 = "/root/testdata/sf0.01"


def test_zorder3_staged_oracle_matches_kernel(spark):
    """Dry-run of the exact comparison the round-16 driver row will
    make: the staged DuckDB oracle vs the Spark kernel, value-exact."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF01}/events.parquet')"
    )
    want = sorted(
        tuple(int(v) for v in r)
        for r in con.execute(layout._zorder3_sql()).fetchall()
    )
    got = sorted(
        tuple(int(v) for v in r)
        for r in layout.layout_zorder3_events(spark, SF01).collect()
    )
    assert got == want
    assert len(got) > 1


def test_zorder3_buckets_confine_all_three_dimensions(spark):
    """The pruning property: each bucket's MASKED envelope in each of
    the three dimensions sits inside one aligned 2^(Z3_BITS-2) block —
    the top two bits per dimension are fixed by the bucket id, so a
    point predicate on ANY single dimension prunes ~3/4 of buckets."""
    block = 1 << (layout.Z3_BITS - 2)
    mask = layout._MASK3
    rows = layout.layout_zorder3_events(spark, SF01).collect()
    assert rows
    for r in rows:
        for lo, hi in (
            (r["min_user"], r["max_user"]),
            (r["min_hour"], r["max_hour"]),
            (r["min_vf"], r["max_vf"]),
        ):
            mlo, mhi = lo & mask, hi & mask
            # masked envelope is an interval iff the unmasked range
            # doesn't wrap the mask period; testdata dims don't wrap
            # within a bucket (hour spans << 2^10, user/value bounded)
            assert mlo // block == mhi // block, r


def test_zorder3_row_conservation(spark):
    rows = layout.layout_zorder3_events(spark, SF01).collect()
    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF01}/events.parquet')"
    ).fetchone()[0]
    assert sum(r["n_events"] for r in rows) == n


def _hostile_events3(spark, tmp_path):
    """The zorder3 hazards: everything in _hostile_events plus NaN,
    ±Inf, huge, negative, and NULL values."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(120):
        rows.append(
            (i, base + dt.timedelta(hours=i % 4, seconds=i), i % 97,
             "view", float(i % 11) * 7.3, "{}")
        )
    hostile_vals = [
        float("nan"), float("inf"), float("-inf"), 1e300, -1e300,
        9.3e18, -9.3e18, -42.7, None, 0.0,
    ]
    for j, v in enumerate(hostile_vals):
        rows.append((200 + j, base, 5, "view", v, "{}"))
    rows.append((300, None, None, "view", 1.0, "{}"))  # NULL ts + user
    rows.append((301, dt.datetime(1969, 6, 1, 1, 2, 3), 6, "view", 2.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    src = str(tmp_path / "hostile3")
    df.coalesce(2).write.mode("overwrite").parquet(f"{src}/events.parquet")
    return src


def test_zorder3_apply_staged_oracle_matches_hostile_corpus(spark, tmp_path):
    """Dry-run of the future driver comparison on a corpus with every
    value-column pathology: NULL/NaN/±Inf/huge values key on the -1
    sentinel identically in both engines."""
    import duckdb

    src = _hostile_events3(spark, tmp_path)
    got = sorted(
        tuple(int(v) for v in r)
        for r in layout.zorder3_apply_inventory(spark, src).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{src}/events.parquet/*.parquet')"
    )
    want = sorted(
        tuple(int(v) for v in r)
        for r in con.execute(layout._zorder3_apply_sql()).fetchall()
    )
    assert got == want


def test_zorder3_apply_preserves_rows_and_one_file_per_bucket(spark, tmp_path):
    src = _hostile_events3(spark, tmp_path)
    inv = layout.zorder3_apply_inventory(spark, src).collect()
    n_in = spark.read.parquet(f"{src}/events.parquet").count()
    assert sum(r["n_events"] for r in inv) == n_in
    assert all(r["n_files"] == 1 for r in inv)


def test_zorder3_apply_matches_clean_corpus_oracle(spark):
    """On the driver testdata the staged oracle must also agree — the
    sentinel expressions are no-ops over a clean corpus except for the
    shared floor quantization."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF01}/events.parquet')"
    )
    want = sorted(
        tuple(int(v) for v in r)
        for r in con.execute(layout._zorder3_apply_sql()).fetchall()
    )
    got = sorted(
        tuple(int(v) for v in r)
        for r in layout.zorder3_apply_inventory(spark, SF01).collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# Crash-injection sweep over the v2 commit protocol: after a crash at
# ANY operation boundary (including crashes during a first recovery),
# reconcile converges to all-files-in-sink-exactly-once with the moved
# flag set — no loss, no duplicate, no false damage error.
# ---------------------------------------------------------------------------


class _CrashNow(Exception):
    pass


def _protocol_ops(out, staging, marker, files):
    """The post-commit operation sequence as thunks: N moves, flag
    write, staging rmtree (exactly _reconcile_batch's happy path)."""
    import shutil

    def mover(rel):
        def _m():
            src, dst = staging / rel, out / rel
            if src.exists():
                dst.parent.mkdir(parents=True, exist_ok=True)
                os.replace(src, dst)
        return _m

    def flag():
        man = json.loads(marker.read_text())
        man["moved"] = True
        tmp = str(marker) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(man, fh)
        os.replace(tmp, str(marker))

    def clean():
        shutil.rmtree(staging, ignore_errors=True)

    return [mover(r) for r in files] + [flag, clean]


def _fresh_committed_state(tmp_path, tag, files):
    out = tmp_path / f"sink_{tag}"
    staging = out / "_staging" / "batch_0"
    staging.mkdir(parents=True)
    (staging / "_SUCCESS").write_bytes(b"")
    for rel in files:
        p = staging / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(rel.encode())
    marker = out / "_batch_0_committed"
    marker.write_text(
        json.dumps({"v": 2, "staging": "batch_0", "files": files})
    )
    return out, staging, marker


def _assert_converged(out, staging, marker, files):
    assert json.loads(marker.read_text())["moved"] is True
    assert not staging.exists()
    for rel in files:
        assert (out / rel).read_bytes() == rel.encode(), rel
    assert not (out / "_assumed_reconciles.json").exists()


def test_v2_protocol_converges_from_every_crash_point(tmp_path):
    files = ["a.parquet", "sub/b.parquet", "c.parquet"]
    n_ops = len(files) + 2
    for crash_after in range(n_ops + 1):
        out, staging, marker = _fresh_committed_state(
            tmp_path, f"k{crash_after}", files
        )
        for op in _protocol_ops(out, staging, marker, files)[:crash_after]:
            op()
        hj._reconcile_pending_batches(str(out))
        _assert_converged(out, staging, marker, files)


def test_v2_protocol_converges_from_double_crash(tmp_path):
    """Crash mid-protocol, then crash AGAIN mid-recovery (recovery
    replays the same op sequence), then recover fully."""
    files = ["a.parquet", "sub/b.parquet", "c.parquet"]
    n_ops = len(files) + 2
    case = 0
    for first in range(n_ops):
        for second in range(n_ops + 1):
            out, staging, marker = _fresh_committed_state(
                tmp_path, f"d{case}", files
            )
            case += 1
            for op in _protocol_ops(out, staging, marker, files)[:first]:
                op()
            # recovery attempt that itself crashes after `second` ops:
            # replay the remaining protocol ops, which is exactly what
            # _reconcile_batch does (moves are skip-if-absent)
            for op in _protocol_ops(out, staging, marker, files)[:second]:
                op()
            hj._reconcile_pending_batches(str(out))
            _assert_converged(out, staging, marker, files)


# ---------------------------------------------------------------------------
# Hilbert layout (staged for round 16)
# ---------------------------------------------------------------------------


def test_hilbert_python_reference_is_a_hilbert_curve():
    """Exhaustive ground-truth check on grids up to 32x32: bijective
    and unit-step adjacent — the defining Hilbert properties."""
    for n in (2, 4, 8, 16, 32):
        seen = {}
        for x in range(n):
            for y in range(n):
                seen[layout.hilbert_xy2d(n, x, y)] = (x, y)
        assert sorted(seen) == list(range(n * n)), n
        for d in range(n * n - 1):
            (x1, y1), (x2, y2) = seen[d], seen[d + 1]
            assert abs(x1 - x2) + abs(y1 - y2) == 1, (n, d)


def test_hilbert_sql_fragments_match_python_reference():
    """The shared SQL fragments, evaluated by DuckDB over every cell
    of a 32x32 grid, reproduce the Python reference exactly — so both
    engines (which evaluate the same text) compute true xy2d."""
    import duckdb

    n_bits, n = 5, 32
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE g AS SELECT x, y, CAST(0 AS BIGINT) AS d "
        f"FROM range({n}) t1(x), range({n}) t2(y)"
    )
    sql = "SELECT x, y, d FROM g"
    x0 = "x"  # track original coords through the stage chain
    # wrap: stage the chain exactly like _hilbert_sql but carry (x0,y0)
    ctes = [f"h0 AS (SELECT x AS x0, y AS y0, x, y, d FROM g)"]
    for i, s in enumerate([1 << i for i in range(n_bits - 1, -1, -1)]):
        rx, ry, dn, xn, yn = layout._hilbert_stage_sql(s)
        ctes.append(
            f"h{i}a AS (SELECT x0, y0, x, y, d, {rx} AS rx, {ry} AS ry "
            f"FROM h{i})"
        )
        ctes.append(
            f"h{i+1} AS (SELECT x0, y0, {xn} AS x, {yn} AS y, {dn} AS d "
            f"FROM h{i}a)"
        )
    got = con.execute(
        "WITH " + ", ".join(ctes) + f" SELECT x0, y0, d FROM h{n_bits}"
    ).fetchall()
    for x0v, y0v, d in got:
        assert d == layout.hilbert_xy2d(n, x0v, y0v), (x0v, y0v)


def test_hilbert_staged_oracle_matches_spark_kernel(spark):
    """Dry-run of the future driver comparison at sf0.01."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF01}/events.parquet')"
    )
    want = sorted(
        tuple(int(v) for v in r)
        for r in con.execute(layout._hilbert_sql()).fetchall()
    )
    got = sorted(
        tuple(int(v) for v in r)
        for r in layout.layout_hilbert_events(spark, SF01).collect()
    )
    assert got == want


def test_hilbert_buckets_confined_and_consecutive_adjacent():
    """The two layout guarantees, proven exhaustively at the bucket
    granularity (level-3 cells of a 32x32 grid): every bucket is one
    axis-aligned block in BOTH dimensions (Morton-equal confinement),
    and consecutive buckets are grid-adjacent blocks (the Hilbert
    advantage — Morton jumps on ~half of consecutive pairs)."""
    n_bits, n, k = 5, 32, 3
    shift = 2 * n_bits - 2 * k
    block = n >> k
    from collections import defaultdict

    cells = defaultdict(list)
    for x in range(n):
        for y in range(n):
            cells[layout.hilbert_xy2d(n, x, y) >> shift].append((x, y))
    assert len(cells) == 1 << (2 * k)
    centers = {}
    for b, pts in cells.items():
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        assert min(xs) // block == max(xs) // block, b
        assert min(ys) // block == max(ys) // block, b
        centers[b] = (min(xs) // block, min(ys) // block)
    for b in range(len(cells) - 1):
        (ax, ay), (bx, by) = centers[b], centers[b + 1]
        assert abs(ax - bx) + abs(ay - by) == 1, b

    # Morton, same granularity: demonstrably NOT continuous
    def morton(x, y):
        z = 0
        for i in range(n_bits):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    mcells = defaultdict(list)
    for x in range(n):
        for y in range(n):
            mcells[morton(x, y) >> shift].append((x, y))
    mcent = {
        b: (min(p[0] for p in pts) // block, min(p[1] for p in pts) // block)
        for b, pts in mcells.items()
    }
    jumps = sum(
        1
        for b in range(len(mcells) - 1)
        if abs(mcent[b][0] - mcent[b + 1][0])
        + abs(mcent[b][1] - mcent[b + 1][1])
        != 1
    )
    assert jumps > 0  # Hilbert's 0 jumps is a real differentiator


def test_hilbert_apply_staged_oracle_matches_hostile_corpus(spark, tmp_path):
    """The staged executor + oracle agree on the hostile corpus (NULL
    ts/user, negative user, pre-epoch ts) — sentinel keys on both
    engines, like the Morton executors."""
    import duckdb

    src = _hostile_events(spark, tmp_path)
    got = sorted(
        tuple(int(v) for v in r)
        for r in layout.hilbert_apply_inventory(spark, src).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{src}/events.parquet/*.parquet')"
    )
    want = sorted(
        tuple(int(v) for v in r)
        for r in con.execute(layout._hilbert_apply_sql()).fetchall()
    )
    assert got == want


def test_hilbert_apply_preserves_rows_one_file_per_bucket(spark, tmp_path):
    src = _hostile_events(spark, tmp_path)
    inv = layout.hilbert_apply_inventory(spark, src).collect()
    n_in = spark.read.parquet(f"{src}/events.parquet").count()
    assert sum(r["n_events"] for r in inv) == n_in
    assert all(r["n_files"] == 1 for r in inv)
