"""Small-file compaction for the streaming fact sink.

A micro-batch sink writes one-or-more files per trigger; at one batch a
minute that is ~1,500 files/day — the classic streaming-warehouse
problem. Scan cost at 100 TB is dominated by file-open overhead and
tiny row groups long before bytes matter, so periodic compaction is
part of the sink's contract, not an afterthought.

``compact_parquet`` rewrites a directory to ~target-sized files
atomically-enough for a single-writer warehouse: write the compacted
copy to a sibling staging dir, then swap directories. Readers that
started before the swap keep their snapshot (open file handles); new
readers see the compacted layout. (A multi-writer lakehouse would use
Delta/Iceberg — same operation, transactional log instead of a swap.)

The swap is fenced like every other write to a streaming sink: the
compaction takes the sink's writer token (``streaming.fencing``) for
its whole run and re-verifies it right before the directory renames,
so it raises ``WriterFencedError`` instead of swapping out a directory
a live ``run_stream`` is still committing batches into (those batches
would land in the old directory and be deleted with it).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession

TARGET_FILE_BYTES = 128 * 1024 * 1024  # one HDFS-ish block per file


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def parquet_file_count(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet") and not f.startswith("."))
    return n


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    sort_within_by: list[str] | None = None,
) -> int:
    """Rewrite ``path`` into max(1, size/target) files; returns the new
    file count. ``sort_within_by`` sorts rows inside each output file so
    parquet min/max statistics prune on those columns (e.g. date_id) —
    the zone-map layout a warehouse fact wants.

    Pending batch markers are reconciled FIRST (completing any staged
    moves and recording the moved flag): compacting a sink with a
    committed-but-unmoved batch would miss its rows, and renaming the
    files of a moved-but-unflagged batch would turn a benign crash
    state into a false damage error (v2 reconcile contract,
    streaming/hybrid_join.py).

    The sink's writer token is held throughout (see the module
    docstring): a live stream on ``path`` makes this raise
    ``WriterFencedError`` with the sink untouched.
    """
    from ..streaming.fencing import WriterFencedError, acquire_writer
    from ..streaming.hybrid_join import _reconcile_pending_batches

    token = acquire_writer(spark, path)
    try:
        _reconcile_pending_batches(path)
        df = spark.read.parquet(path)
        n_files = max(1, _dir_bytes(path) // target_file_bytes)
        if sort_within_by:
            # range-partition on the sort key so each output file owns a
            # disjoint key range — min/max stats then prune whole files
            out = df.repartitionByRange(
                n_files, *sort_within_by
            ).sortWithinPartitions(*sort_within_by)
        else:
            out = df.repartition(n_files)

        staging = f"{path}__compact_{uuid.uuid4().hex[:8]}"
        out.write.mode("overwrite").parquet(staging)
        # carry over sink bookkeeping (per-batch commit markers etc.) so
        # a later stream replay still recognizes committed batches
        for f in os.listdir(path):
            if f.startswith("_") and os.path.isfile(os.path.join(path, f)):
                shutil.copy2(os.path.join(path, f), os.path.join(staging, f))

        old = f"{path}__old_{uuid.uuid4().hex[:8]}"
        try:
            token.verify_and_renew()  # re-verify at the commit point
        except WriterFencedError:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        os.rename(path, old)
        os.rename(staging, path)
        shutil.rmtree(old, ignore_errors=True)
    finally:
        token.release()
    # drop cached file listings/plans that still point at the old files
    spark.catalog.refreshByPath(path)
    return parquet_file_count(path)
