"""One DESCRIBE HISTORY / VERSION AS OF contract across the three
maintained sinks (round-17 verdict item 4).

Through round 17 the three sinks exposed three surfaces with three
shapes: the z-order table is generation-keyed
(``zorder_stream.snapshots`` / ``clustered_table_asof``), the bin
compactor is sweep-generation-keyed (``compaction_stream
.compacted_snapshots`` / ``compacted_table_asof``), and the parquet
fact sink is batch-keyed (``hybrid_join.fact_snapshots`` /
``fact_table_asof``) — with three different not-servable error shapes.
This module is the single API over all three:

- :func:`sink_kind` detects which gate owns a directory from its own
  committed markers (the zorder generation marker / layout pin, the
  compaction staging marker / generation dirs, the fact batch
  manifests) — never from heuristics over data files.
- :func:`history` returns the SAME five columns for every sink, one
  row per commit boundary, version-ascending:
  ``version`` (the sink's commit key: generation or batch id),
  ``kind`` ('zorder' | 'compaction' | 'fact'),
  ``watermark`` (the ingest watermark the commit attested:
  folded_through / batch_through / the batch id itself; None when a
  damaged or pre-protocol sidecar cannot attest one),
  ``state`` (sink-specific commit state: 'current'/'committed' for
  the generation-keyed sinks, 'moved'/'committed' for the manifest
  sink; each sink reads only the marker format its writer commits and
  raises a named ``RuntimeError`` on any other), and
  ``servable`` (whether :func:`table_asof` will serve this version
  NOW — the vacuum/retention rules each asof documents, evaluated
  from the same markers it reads).
- :func:`table_asof` dispatches to the owning sink's asof reader, so
  callers get the sink's own NAMED not-servable errors unchanged.

No behavior change to any underlying marker or reader: this is a view
over the three committed protocols, so every crash/replay/vacuum
property pinned by the per-sink suites carries over verbatim. The
``servable`` flag mirrors each asof's own acceptance rule; the fact
sink's OPTIMIZE-rewrote-a-covered-file case stays detected at READ
time (the manifest names files; existence is a read-time property,
exactly like a table format noticing VACUUM mid-query).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession


def sink_kind(sink_dir: str) -> str:
    """Which maintenance gate owns ``sink_dir``, from its committed
    markers. A directory no gate owns raises the NAMED error (never a
    silent guess — serving the wrong protocol's history would be a
    correctness bug, not a degradation)."""
    try:
        names = set(os.listdir(sink_dir))
    except FileNotFoundError:
        names = set()
    if "_zorder_gen" in names or "_layout_key" in names or "clustered" in names:
        return "zorder"
    if (
        "staging_meta.json" in names
        or "compacted" in names
        or any(re.fullmatch(r"staging_g\d+", n) for n in names)
    ):
        return "compaction"
    if any(
        n.startswith("_batch_") and n.endswith("_committed") for n in names
    ):
        return "fact"
    raise RuntimeError(
        f"{sink_dir} is not a maintained sink: no z-order generation "
        "marker / layout pin, no compaction staging marker or "
        "generation dirs, and no fact batch manifests — history() "
        "serves only the three gates' committed protocols"
    )


def history(sink_dir: str) -> list[dict]:
    """DESCRIBE HISTORY, one contract for all three sinks: see the
    module docstring for the five columns. Version-ascending; empty
    for a sink that has not committed a version yet."""
    kind = sink_kind(sink_dir)
    if kind == "zorder":
        from . import zorder_stream as zs

        return [
            {
                "version": s["gen"],
                "kind": "zorder",
                "watermark": s["folded_through"],
                "state": "current" if s["current"] else "committed",
                # snapshots() lists exactly the generations still on
                # disk at or below the marker — each is servable until
                # sweep_staging vacuums it out of the listing
                "servable": True,
            }
            for s in zs.snapshots(sink_dir)
        ]
    if kind == "compaction":
        from . import compaction_stream as cs

        out = []
        for s in cs.compacted_snapshots(sink_dir):
            staging = os.path.join(sink_dir, f"staging_g{s['gen']}")
            out.append(
                {
                    "version": s["gen"],
                    "kind": "compaction",
                    "watermark": s["batch_through"],
                    "state": "current" if s["current"] else "committed",
                    # compacted_table_asof's own acceptance rule: a
                    # committed sidecar watermark AND the retained
                    # staging generation
                    "servable": s["batch_through"] is not None
                    and os.path.isdir(staging),
                }
            )
        return out
    from . import hybrid_join as hj

    return [
        {
            "version": s["batch_id"],
            "kind": "fact",
            "watermark": s["batch_id"],
            "state": s["state"],
            # an OPTIMIZE-rewritten file is a read-time property
            "servable": True,
        }
        for s in hj.fact_snapshots(sink_dir)
    ]


def table_asof(
    spark: SparkSession, sink_dir: str, version: int
) -> DataFrame:
    """VERSION AS OF through one entry point: dispatches to the owning
    sink's asof reader, so the sink's own NAMED not-servable errors
    (vacuumed generation, malformed marker, OPTIMIZE-rewritten file)
    surface unchanged."""
    kind = sink_kind(sink_dir)
    if kind == "zorder":
        from . import zorder_stream as zs

        return zs.clustered_table_asof(spark, sink_dir, version)
    if kind == "compaction":
        from . import compaction_stream as cs

        return cs.compacted_table_asof(spark, sink_dir, version)
    from . import hybrid_join as hj

    return hj.fact_table_asof(spark, sink_dir, version)
