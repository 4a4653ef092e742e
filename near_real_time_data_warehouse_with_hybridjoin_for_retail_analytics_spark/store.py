"""Build-once-per-corpus parquet store.

The reference's ETL materializes its star before any of queries.sql
runs (reference ``hybridjoin.py:379-420``). Three relations here keep
that contract, and all three go through :func:`stored`:

  * the ingest re-layout of the big testdata tables
    (``catalog.load_table``);
  * the pre-joined q01–q20 star facts (``catalog.ensure_star``);
  * the derived relations batch consumers read
    (``operators.artifacts.materialized``).

Each relation lands once per corpus under ``{_ROOT}/{sf_tag}/{name}``,
guarded by a marker file that holds its fingerprint: ``size:mtime`` of
each source parquet plus a pipeline version. A changed source or a
version bump therefore rebuilds the copy instead of serving it.

This module imports nothing from the package: the operators import
``catalog``, and ``catalog`` imports this.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

_ROOT = "/tmp/sparkgraft_store"
_MARKER = "_ARTIFACT_OK"


def fingerprint(sf_dir: str, sources: tuple[str, ...], version: str) -> str | None:
    """``size:mtime`` of each ``{sf_dir}/{source}.parquet`` plus
    ``version``; None when a source file is missing."""
    parts = []
    for s in sources:
        try:
            st = os.stat(f"{sf_dir}/{s}.parquet")
        except OSError:
            return None
        parts.append(f"{st.st_size}:{int(st.st_mtime)}")
    return ":".join(parts + [version])


def _marker_value(marker: str) -> str | None:
    try:
        with open(marker) as fh:
            return fh.read().strip()
    except OSError:
        return None


def _write_parquet(df: DataFrame, path: str) -> None:
    df.write.parquet(path)


def stored(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    sources: tuple[str, ...],
    version: str,
    build: Callable[[], DataFrame],
    write: Callable[[DataFrame, str], None] = _write_parquet,
) -> DataFrame:
    """Return relation ``name`` for the corpus at ``sf_dir``: the stored
    copy when its marker matches the fingerprint of ``sources`` and
    ``version``, else ``build()`` written by ``write(df, path)`` into a
    staging dir and renamed into place. Without a fingerprint (a source
    is missing) ``build()`` is returned as it is.

    Safe under concurrent builders: a same-fingerprint copy that lands
    while we build is kept (it may already have readers mid-scan) and
    ours is dropped; a stale copy is removed before the rename; and if
    the rename still fails, the destination is served only when its
    marker proves it current — otherwise the inline ``build()`` frame,
    never a stale copy."""
    fp = fingerprint(sf_dir, sources, version)
    if fp is None:
        return build()
    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    dest = os.path.join(_ROOT, sf_tag, name)
    marker = os.path.join(dest, _MARKER)
    if _marker_value(marker) == fp:
        return spark.read.parquet(dest)

    df = build()
    staging = f"{dest}__staging_{uuid.uuid4().hex[:8]}"
    write(df, staging)
    with open(os.path.join(staging, _MARKER), "w") as fh:
        fh.write(fp)
    if _marker_value(marker) == fp:
        shutil.rmtree(staging, ignore_errors=True)
        return spark.read.parquet(dest)
    if os.path.isdir(dest):
        shutil.rmtree(dest, ignore_errors=True)
    try:
        os.rename(staging, dest)
    except OSError:
        # A racer won, or the stale dest could not be removed (rmtree
        # swallows errors).
        shutil.rmtree(staging, ignore_errors=True)
        if _marker_value(marker) == fp:
            return spark.read.parquet(dest)
        return df
    return spark.read.parquet(dest)
