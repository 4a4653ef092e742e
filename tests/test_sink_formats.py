"""Each maintained sink reads exactly the on-disk format its own writer
commits. A state no current writer produces is malformed input: the
public reader that meets it raises a named ``RuntimeError`` instead of
accepting, migrating or guessing around it."""

from __future__ import annotations

import json
import os

import pytest

from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.streaming import (
    compaction_stream,
    history,
    hybrid_join as hj,
    zorder_stream,
)


def _fact_marker(tmp_path, content: str) -> str:
    out = tmp_path / "sink"
    (out / "_staging" / "batch_0").mkdir(parents=True)
    (out / "a.parquet").write_bytes(b"x")
    (out / "_batch_0_committed").write_text(content)
    return str(out)


def _empty_marker(spark, tmp_path):
    out = _fact_marker(tmp_path, "")
    return lambda: hj._reconcile_pending_batches(out)


def _unversioned_manifest(spark, tmp_path):
    out = _fact_marker(
        tmp_path, json.dumps({"staging": "batch_0", "files": ["a.parquet"]})
    )
    return lambda: hj._reconcile_pending_batches(out)


def _empty_marker_in_history(spark, tmp_path):
    out = _fact_marker(tmp_path, "")
    return lambda: history.history(out)


def _unversioned_manifest_in_snapshots(spark, tmp_path):
    out = _fact_marker(
        tmp_path, json.dumps({"staging": "batch_0", "files": ["a.parquet"]})
    )
    return lambda: hj.fact_snapshots(out)


def _plain_text_layout_key(spark, tmp_path):
    out = tmp_path / "zs"
    out.mkdir()
    (out / "_layout_key").write_text("morton")
    feed = tmp_path / "feed"
    feed.mkdir()
    return lambda: zorder_stream.run_zorder_stream(
        spark, str(feed), str(out), checkpoint=str(tmp_path / "ck")
    )


def _scaled_marker_without_clamp_trail(spark, tmp_path):
    out = tmp_path / "zs"
    (out / "staging").mkdir(parents=True)
    params = {"umin": 0, "uspan": 100, "tmin": 0, "tspan": 100}
    (out / "_layout_key").write_text(
        json.dumps({"key": "morton_scaled", "params": params})
    )
    (out / "_zorder_gen").write_text(
        json.dumps({"gen": 0, "folded_through": 3})
    )
    return lambda: zorder_stream.finalize_zorder(spark, str(out))


def _staging_marker_without_closed_hour(spark, tmp_path):
    out = tmp_path / "cs"
    out.mkdir()
    (out / "staging_meta.json").write_text(
        json.dumps({"generation": 0, "offset": 0})
    )
    return lambda: compaction_stream._staging_state(str(out))


def _tree(root) -> dict:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            with open(os.path.join(d, n), "rb") as fh:
                out[os.path.relpath(os.path.join(d, n), root)] = fh.read()
    return out


@pytest.mark.parametrize(
    "make, match",
    [
        (_empty_marker, "malformed fact batch marker"),
        (_unversioned_manifest, "malformed fact batch marker"),
        (_empty_marker_in_history, "malformed fact batch marker"),
        (_unversioned_manifest_in_snapshots, "malformed fact batch marker"),
        (_plain_text_layout_key, "malformed layout-key pin"),
        (_scaled_marker_without_clamp_trail, "no clamp trail"),
        (_staging_marker_without_closed_hour, "closed_hour"),
    ],
    ids=lambda v: v.__name__.strip("_") if callable(v) else None,
)
def test_retired_state_raises_named_error(spark, tmp_path, make, match):
    read = make(spark, tmp_path)
    before = _tree(tmp_path)
    with pytest.raises(RuntimeError, match=match):
        read()
    assert _tree(tmp_path) == before  # rejected, not migrated
