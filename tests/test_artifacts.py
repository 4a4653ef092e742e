"""Race/failure semantics of the build-once store (``store.stored``),
shared by the materialized artifacts, the ingest re-layout and the
star facts.

The happy paths (disabled / cold-build / warm-read value equality) are
covered by ``test_curation.py::test_dedup_report_artifact_store_roundtrip``;
these tests pin the racy edges: a same-fingerprint concurrent
builder must never have its freshly-written dest deleted out from
under readers, a failed rename must never serve a dest whose
marker does not prove it current, and a changed source must never be
answered from the copy built from the old one.
"""

from __future__ import annotations

import os
import shutil

import pytest

from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark import (
    catalog,
    store,
)
from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.operators import (
    artifacts,
)


@pytest.fixture()
def clean_store(sf_dir):
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    artifact_dir = os.path.join(store._ROOT, sf_tag, "artifacts")
    shutil.rmtree(artifact_dir, ignore_errors=True)
    yield artifact_dir
    shutil.rmtree(artifact_dir, ignore_errors=True)


def _df(spark, vals):
    return spark.createDataFrame([(int(v),) for v in vals], "x bigint")


def test_same_fingerprint_racer_dest_is_kept(spark, sf_dir, clean_store):
    """If a same-fingerprint builder lands dest while we are building,
    our staging copy is discarded and THEIR dest is served — never
    rmtree'd (a concurrent reader may be mid-scan in it)."""
    name, version = "race_same_fp", "v1"
    fingerprint = store.fingerprint(sf_dir, ("documents",), version)
    dest = os.path.join(clean_store, name)

    def racer_wins_then_build():
        # simulate the racer completing first, with distinct values
        _df(spark, [111]).write.mode("overwrite").parquet(dest)
        with open(os.path.join(dest, "_ARTIFACT_OK"), "w") as fh:
            fh.write(fingerprint)
        return _df(spark, [222])

    out = artifacts.materialized(
        spark, sf_dir, name, version, racer_wins_then_build
    )
    assert [r.x for r in out.collect()] == [111]  # the winner's copy
    assert store._marker_value(os.path.join(dest, "_ARTIFACT_OK")) == (
        fingerprint
    )
    # staging was discarded, not left behind
    parent = os.path.dirname(dest)
    assert [d for d in os.listdir(parent) if "__staging" in d] == []


def test_failed_rename_with_stale_dest_falls_back_to_inline(
    spark, sf_dir, clean_store, monkeypatch
):
    """rename failing while dest holds a STALE fingerprint (e.g. the
    rmtree of the old copy silently failed) must serve the in-memory
    build, never the stale parquet."""
    name, version = "race_stale_dest", "v2"
    dest = os.path.join(clean_store, name)
    # a stale artifact: wrong fingerprint, wrong values
    _df(spark, [999]).write.mode("overwrite").parquet(dest)
    with open(os.path.join(dest, "_ARTIFACT_OK"), "w") as fh:
        fh.write("stale:fingerprint")

    real_rmtree = shutil.rmtree

    def keep_dest(path, *a, **kw):  # the silently-failing rmtree
        if os.path.abspath(path) == os.path.abspath(dest):
            return None
        return real_rmtree(path, *a, **kw)

    def fail_rename(src, dst):
        raise OSError("dest not empty")

    monkeypatch.setattr(store.shutil, "rmtree", keep_dest)
    monkeypatch.setattr(store.os, "rename", fail_rename)
    out = artifacts.materialized(
        spark, sf_dir, name, version, lambda: _df(spark, [7])
    )
    assert [r.x for r in out.collect()] == [7]  # inline plan, not 999


def test_failed_rename_with_current_dest_serves_dest(
    spark, sf_dir, clean_store, monkeypatch
):
    """rename failing because a SAME-fingerprint racer won the last
    instant is fine — dest's marker proves it current, serve it."""
    name, version = "race_lost_rename", "v3"
    fingerprint = store.fingerprint(sf_dir, ("documents",), version)
    dest = os.path.join(clean_store, name)

    def fail_rename(src, dst):
        # the racer lands dest between our marker check and the rename
        _df(spark, [42]).write.mode("overwrite").parquet(dest)
        with open(os.path.join(dest, "_ARTIFACT_OK"), "w") as fh:
            fh.write(fingerprint)
        raise OSError("dest exists")

    monkeypatch.setattr(store.os, "rename", fail_rename)
    out = artifacts.materialized(
        spark, sf_dir, name, version, lambda: _df(spark, [43])
    )
    assert [r.x for r in out.collect()] == [42]


def test_changed_source_rebuilds_the_ingested_copy(
    spark, sf_dir, tmp_path, monkeypatch
):
    """After a source parquet changes, load_table serves the new
    file's rows: the stale ingested copy is removed before the rename,
    not kept as if a concurrent ingester had won."""
    testdata = os.path.dirname(sf_dir.rstrip("/"))
    monkeypatch.setattr(store, "_ROOT", str(tmp_path / "store"))
    monkeypatch.setattr(catalog, "_DF_CACHE", {})
    sf = tmp_path / "sfx"
    sf.mkdir()
    src = sf / "orders.parquet"
    shutil.copy(os.path.join(testdata, "sf0.01", "orders.parquet"), src)
    old = catalog.load_table(spark, str(sf), "orders").count()

    shutil.copy(os.path.join(testdata, "sf0.1", "orders.parquet"), src)
    new = spark.read.parquet(str(src)).count()
    assert new != old
    catalog._DF_CACHE.clear()
    assert catalog.load_table(spark, str(sf), "orders").count() == new


def test_failed_rename_with_stale_star_serves_inline_derived_columns(
    spark, sf_dir, tmp_path, monkeypatch
):
    """When the star's rename fails over a stale dest, the inline frame
    served instead carries the stored star's derived columns, so the
    q01–q20 plans that read them still resolve."""
    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.plans import (
        testdata_queries,
    )

    monkeypatch.setattr(store, "_ROOT", str(tmp_path))
    monkeypatch.setattr(catalog, "_DF_CACHE", {})
    dest = tmp_path / os.path.basename(sf_dir.rstrip("/")) / "star" / "part"
    _df(spark, [999]).write.parquet(str(dest))
    (dest / "_ARTIFACT_OK").write_text("stale:fingerprint")

    real_rmtree = shutil.rmtree

    def keep_dest(path, *a, **kw):  # the silently-failing rmtree
        if os.path.abspath(path) == str(dest):
            return None
        return real_rmtree(path, *a, **kw)

    def fail_rename(src, dst):
        raise OSError("dest not empty")

    monkeypatch.setattr(store.shutil, "rmtree", keep_dest)
    monkeypatch.setattr(store.os, "rename", fail_rename)
    columns = testdata_queries._fact_part(spark, sf_dir).columns
    assert "x" not in columns  # not the stale copy
    assert {"l_year", "l_month"} <= set(columns)


def test_multimodal_components_artifact_roundtrip(spark, sf_dir):
    """dedup_multimodal_components must label identically whether the
    embedding-pair edges compute inline (store disabled), build cold,
    or read warm from the materialized store — the same
    consume-when-present / recompute-when-absent contract as
    curation_dedup_report."""
    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.operators import (
        clusters,
    )

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    artifact_dir = os.path.join(store._ROOT, sf_tag, "artifacts")
    shutil.rmtree(artifact_dir, ignore_errors=True)

    def labels():
        return sorted(
            (r.doc_id, r.component_id, r.is_canonical)
            for r in clusters.dedup_multimodal_components(
                spark, sf_dir
            ).collect()
        )

    os.environ["SPARK_GRAFT_NO_ARTIFACTS"] = "1"
    try:
        inline = labels()
    finally:
        del os.environ["SPARK_GRAFT_NO_ARTIFACTS"]
    built = labels()  # cold store: builds embedding_pairs + reads back
    assert os.path.isdir(os.path.join(artifact_dir, "embedding_pairs"))
    served = labels()  # warm store: pure parquet read
    assert inline == built == served
    shutil.rmtree(artifact_dir, ignore_errors=True)


def test_renew_lease_touches_app_dir(tmp_path):
    """renew_lease renews the GC lease on the app-scoped dir two
    levels above the dest (round-14 advice: a write outliving
    max_age_s could be swept mid-operation — write-side entries renew
    after the write, not only at dest-derivation time)."""
    import os
    import time

    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.operators.artifacts import (
        renew_lease,
    )

    app = tmp_path / "app-123"
    dest = app / "sf0.01" / "events"
    dest.mkdir(parents=True)
    past = time.time() - 10_000
    os.utime(app, (past, past))
    assert time.time() - os.path.getmtime(app) > 9_000
    renew_lease(str(dest))
    assert time.time() - os.path.getmtime(app) < 60
    # nonexistent dest parent: silently tolerated (best-effort beacon)
    renew_lease(str(tmp_path / "nope" / "x" / "y"))
