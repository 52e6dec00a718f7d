"""Small-file compaction for parquet table directories.

At 100 TB the killer isn't one big file — it's millions of tiny ones:
every micro-batch, late-arriving partition rewrite, or over-parallel
write (the engine's streaming sink emits one file per month per trigger)
leaves files far below the scan-efficient size, and each costs a task
launch, a footer read, and a NameNode/listing entry per query. Compaction
rewrites a directory to a target file size, trading one bounded rewrite
for every future scan's speedup.

Design:

* ``compaction_plan`` is pure arithmetic over the current file listing —
  unit-testable, driver-cheap (listing only, never data).
* ``compact_parquet`` rewrites via a single Spark job (coalesce to the
  planned file count — a NARROW dependency, no shuffle; the data is
  already partitioned arbitrarily and compaction must not reorder it) and
  commits by the directory swap ``ingest.sinks.swap_dirs``, so readers
  never observe a half-compacted table and a crashed compaction leaves
  the original intact (S7's atomic-rename contract applied to
  maintenance).
* Partitioned layouts compact per partition directory (each partition is
  its own swap unit), which is how a 100 TB table compacts incrementally.
* ``compact_versioned`` compacts a VersionedTable snapshot through its
  manifest — the commit is one atomic rename, so there is no swap window
  at all and no recovery scan; this is the preferred maintenance path.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import SparkSession

from ..ingest.sinks import swap_dirs
from ..sources.versioned import VersionedTable

DEFAULT_TARGET_MB = 128


@dataclass(frozen=True)
class CompactionPlan:
    n_files: int
    total_bytes: int
    target_files: int

    @property
    def worth_it(self) -> bool:
        """Skip rewrites that wouldn't reduce the file count — the
        no-update short-circuit (T3) applied to maintenance."""
        return self.target_files < self.n_files


def _data_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(os.path.join(root, f))
    return out


def plan_for_files(files: list[str], target_mb: int = DEFAULT_TARGET_MB) -> CompactionPlan:
    """Plan from an explicit file list: ceil(total / target) output files,
    never more than the current count."""
    total = sum(os.path.getsize(f) for f in files)
    target_bytes = target_mb * 1024 * 1024
    want = max(1, -(-total // target_bytes)) if total else 1
    return CompactionPlan(
        n_files=len(files), total_bytes=total, target_files=min(want, max(len(files), 1))
    )


def compaction_plan(path: str, target_mb: int = DEFAULT_TARGET_MB) -> CompactionPlan:
    """Plan from the directory listing alone — listing only, never data."""
    return plan_for_files(_data_files(path), target_mb)


def _partition_subdirs(path: str) -> list[str]:
    return [
        e
        for e in sorted(os.listdir(path))
        if "=" in e and os.path.isdir(os.path.join(path, e))
    ]


def recover_compaction(path: str) -> bool:
    """Recover from a compaction killed inside the swap window: if ``path``
    is missing but a ``.__old-*`` sibling survives, rename it back. Returns
    True when a recovery happened. Idempotent; call before reads/compaction
    of a table whose maintenance job may have died."""
    if os.path.exists(path):
        return False
    parent, base = os.path.dirname(path) or ".", os.path.basename(path)
    stranded = sorted(
        e for e in os.listdir(parent) if e.startswith(f"{base}.__old-")
    )
    if not stranded:
        return False
    os.rename(os.path.join(parent, stranded[0]), path)
    for extra in stranded[1:]:  # older strandings: data already superseded
        shutil.rmtree(os.path.join(parent, extra), ignore_errors=True)
    return True


def compact_parquet(
    spark: SparkSession, path: str, target_mb: int = DEFAULT_TARGET_MB
) -> CompactionPlan:
    """Rewrite ``path`` to the planned file count and swap it in.

    The rewrite is ``coalesce`` (narrow — no shuffle, no reordering of
    row groups beyond file concatenation) into a staging sibling, which
    ``ingest.sinks.swap_dirs`` swaps in: old aside, new in, old deleted.
    A reader holding the old listing finishes against intact files, and a
    failed rewrite or swap leaves the original in place and no staging
    litter.

    Durability caveat (local filesystems): between the two renames the
    table path briefly does not exist, and a hard kill inside that window
    strands the data under ``{path}.__old-*``. No bytes are lost —
    ``recover_compaction(path)`` renames the stranded copy back — but the
    window is real; tables that need zero-window maintenance should be
    VersionedTable-backed and compacted via ``compact_versioned``, where
    the commit is one atomic manifest rename.

    Hive-partitioned roots must go through ``compact_partitioned`` (per-
    partition swap units); compacting the root directly would rewrite
    partition columns into data files and flatten the layout, so it
    raises instead.
    """
    parts = _partition_subdirs(path)
    if parts:
        raise ValueError(
            f"{path} is hive-partitioned ({parts[0]}, ...): use "
            "compact_partitioned — compacting the root would flatten the "
            "partition layout into plain data columns"
        )
    plan = compaction_plan(path, target_mb)
    if not plan.worth_it:
        return plan
    staging = f"{path}.__compact-{uuid.uuid4().hex[:8]}"
    try:
        spark.read.parquet(path).coalesce(plan.target_files).write.parquet(staging)
        swap_dirs([(staging, path)])
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return plan


def compact_versioned(
    spark: SparkSession,
    table: VersionedTable,
    target_mb: int = DEFAULT_TARGET_MB,
) -> CompactionPlan:
    """Compact a :class:`VersionedTable`'s latest snapshot through a
    manifest commit — no swap window at all.

    The directory-swap path (``compact_parquet``) has a documented gap:
    between its two renames the table path does not exist, and a hard
    kill strands the data for ``recover_compaction`` to find. Manifest
    tables don't have that gap, because the commit point is ONE atomic
    rename of a manifest file: the compacted rewrite lands as a brand-new
    snapshot version listing the coalesced files, the previous snapshot's
    files stay on disk (still readable, still time-travelable) until
    ``vacuum``, and a crash anywhere — during the rewrite, before the
    manifest rename — leaves the latest manifest pointing at the intact
    pre-compaction snapshot. Readers never observe a missing path and no
    recovery scan exists to run. This is the 100 TB path: on an object
    store the same single-object manifest PUT is the commit.

    Idempotent per source version: the commit's batch id is derived from
    the compacted snapshot version, so a retried compaction of the same
    snapshot returns the already-committed version instead of doubling
    the data.
    """
    snap = table._resolve(None)
    files = [os.path.join(table.root, f) for f in snap.files]
    plan = plan_for_files(files, target_mb)
    if not plan.worth_it:
        return plan
    compacted = table.read(spark).coalesce(plan.target_files)
    table.commit(compacted, batch_id=f"__compaction-of-v{snap.version}")
    return plan


def compact_partitioned(
    spark: SparkSession, table_dir: str, target_mb: int = DEFAULT_TARGET_MB
) -> dict[str, CompactionPlan]:
    """Compact each ``key=value`` partition directory independently —
    every partition is its own atomic swap unit, so a long-running
    compaction of a huge table can stop anywhere and every completed
    partition stays consistent."""
    results: dict[str, CompactionPlan] = {}
    for entry in sorted(os.listdir(table_dir)):
        sub = os.path.join(table_dir, entry)
        if os.path.isdir(sub) and "=" in entry:
            results[entry] = compact_parquet(spark, sub, target_mb)
    return results
