"""Session-scoped handle cache: memoized lazy DataFrame handles, plus the
registry of persisted frames that harnesses release between queries.

Building a handle is not free. ``spark.read.parquet`` lists the path and
reads footers on every call (75-400 ms at sf0.1), and the engine's
expensive shared sub-plans (the minhash signature block, the shingle
projection, the IVF codebook) cost 100-400 ms of selectExpr parsing,
analysis and py4j per build. Harnesses rebuild the same queries many
times in one session, so the handles are memoized. An entry holds only
an UNRESOLVED LAZY plan — metadata, never rows; every execution still
computes from the files.

Key. Every entry of :func:`memo_plan` is keyed on
  * the caller's tag;
  * each input: a path by its :func:`fingerprint` (a regular file by its
    stat, a directory by a recursive walk of every file's stat, so a part
    file rewritten in place misses), a DataFrame handle by its identity
    (the entry keeps the handle alive, so an id is never reused while
    the entry lives);
  * the confs the widen decision reads (``analytics._scan_layout`` /
    ``_widen_if_narrow``): ``spark.sql.shuffle.partitions``,
    ``spark.sql.files.maxPartitionBytes``,
    ``spark.sql.files.openCostInBytes`` and ``defaultParallelism``.
An input path that does not exist is never cached: the build runs and
fails loudly.

Lifetime. The store is the SparkSession object's ``_mdi_handle_cache``
attribute (like ``streaming.sinks``' ``_mdi_memory_sink_view``), so it
dies with its session: nothing keys on a session, and no process-global
structure holds one except a persisted frame awaiting release. At most
``MAX_ENTRIES`` handles are kept per session, evicted oldest first.

Scratch trees live on disk, not on the session object, but share its
lifetime. Queries that need files — a landing directory of encoded
month-files, a streaming checkpoint and its published output, a
persisted index, a versioned store — get them from :func:`scratch_tree`:
one directory per (tag, session, input fingerprints) under the system
temp dir, named ``<tag>_<session_cache_suffix(spark, *inputs)>``. One
completion marker, ``_complete`` at the tree's root, decides whether the
build runs: a tree without it is half-built (a crash or an error mid-
build) and is removed and rebuilt from empty, and the marker is written
only after the build returns, so the marker, not any per-file rename,
is what makes the tree visible. A component that lists a directory gets
a subdirectory of the tree, never its root. Repeated calls in a session
return the same tree, so a streaming query there resumes its checkpoint.
Each build registers one ``atexit`` sweep of its tree: the key carries
the application id, so no later session could ever reuse it.

Persisted frames. A builder that persist()s an intermediate registers it
with :func:`register_cache`; harnesses (bench, tests, the CLI) call
:func:`release_caches` between queries. The registry is process-wide.
Without it a cached frame lives until session end — executor memory
held by a query that already returned.
"""

from __future__ import annotations

import atexit
import hashlib
import logging
import os
import shutil
import stat
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

logger = logging.getLogger(__name__)

MAX_ENTRIES = 512  # entries are tiny plan handles

_LAYOUT_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
)

# Persisted frames awaiting release_caches(). Process-global on purpose:
# the rows stay pinned in Spark's shared CacheManager until unpersist(),
# so the handle must outlive any session object that dropped it.
_PERSISTED: list[DataFrame] = []


def _handles(spark: SparkSession) -> dict[tuple, tuple[DataFrame, tuple]]:
    handles = getattr(spark, "_mdi_handle_cache", None)
    if handles is None:
        handles = spark._mdi_handle_cache = {}
    return handles


def fingerprint(path: str) -> tuple | None:
    """(absolute path, ((relative name, size, mtime_ns), ...)) of what a
    read of ``path`` would see, or None when it cannot be listed.

    A regular file contributes its own stat (name ``.``); a directory the
    RECURSIVE walk of every file below it, in sorted order — a file
    rewritten inside a subdirectory leaves every directory entry's mtime
    unchanged, so a top-level stat would serve a stale listing.
    """
    full = os.path.abspath(path)
    try:
        st = os.stat(full)
        if not stat.S_ISDIR(st.st_mode):
            return full, ((".", st.st_size, st.st_mtime_ns),)
        files = []
        for root, dirs, names in os.walk(full):
            dirs.sort()  # deterministic walk order
            rel = os.path.relpath(root, full)
            for name in sorted(names):
                s = os.stat(os.path.join(root, name))
                files.append((f"{rel}/{name}", s.st_size, s.st_mtime_ns))
    except OSError:
        return None
    return full, tuple(files)


def memo_plan(
    spark: SparkSession,
    tag: str,
    build: Callable[[], DataFrame],
    *inputs: str | DataFrame,
) -> DataFrame:
    """The session's handle for ``build()`` over ``inputs`` (paths or
    DataFrame handles the build closes over); see the module docstring
    for the key."""
    prints = []
    for x in inputs:
        if isinstance(x, str):
            fp = fingerprint(x)
            if fp is None:
                return build()
            prints.append(fp)
        else:
            prints.append(id(x))
    confs = tuple(spark.conf.get(c) for c in _LAYOUT_CONFS)
    key = (tag, tuple(prints), confs, spark.sparkContext.defaultParallelism)
    handles = _handles(spark)
    hit = handles.get(key)
    if hit is not None:
        return hit[0]
    df = build()
    if len(handles) >= MAX_ENTRIES:
        del handles[next(iter(handles))]
    handles[key] = (df, inputs)
    return df


def session_cache_suffix(spark: SparkSession, *inputs: str) -> str:
    """Catalog-safe key for per-session built artifacts: the session's
    application id, then one digest per input path.

    Keys on each input's FULL absolute path, not its basename (``/a/sf1``
    and ``/b/sf1`` never serve each other's index), and on its
    :func:`fingerprint`, so a fixture regenerated in place mid-session
    invalidates too. Folded through md5 because it feeds a metastore
    table name (identifier charset + length limits). With no inputs the
    key is the session alone."""
    app = spark.sparkContext.applicationId.replace("-", "_")
    digests = []
    for path in inputs:
        full = os.path.abspath(path)
        # A missing path keys on its name alone; the read then fails loudly.
        key = repr(fingerprint(full) or full).encode()
        digests.append(hashlib.md5(key).hexdigest()[:16])
    return "_".join((app, *digests))


def scratch_tree(
    spark: SparkSession, tag: str, build: Callable[[str], None], *inputs: str
) -> str:
    """The session's scratch tree ``<tmp>/<tag>_<session_cache_suffix>``,
    calling ``build(base)`` on an empty tree only when no complete one
    exists; see "Lifetime" in the module docstring."""
    base = os.path.join(tempfile.gettempdir(), f"{tag}_{session_cache_suffix(spark, *inputs)}")
    marker = os.path.join(base, "_complete")
    if not os.path.exists(marker):
        shutil.rmtree(base, ignore_errors=True)  # a half-built earlier tree
        os.makedirs(base)
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        build(base)
        open(marker, "w").close()
    return base


def register_cache(df: DataFrame) -> DataFrame:
    """Track a persisted DataFrame for explicit release via release_caches()."""
    _PERSISTED.append(df)
    return df


def release_caches() -> None:
    """Unpersist every registered frame (idempotent, safe mid-plan: Spark
    recomputes an unpersisted dependency instead of failing)."""
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist()
        except Exception:
            # Cleanup must not fail the harness (a dead session makes
            # unpersist throw), but keep the signal: systematic failures
            # here mean executor memory is never being released.
            logger.debug("release_caches: unpersist failed", exc_info=True)
