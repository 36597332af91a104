"""The one registry for every session cache of the query engine.

Every memoized intermediate lives in ``_TRUNKS`` under the key
``(family, applicationId, norm_dir(sf_dir), *tunables)``; callers
build everything after the family with ``session_key``.  An entry is
one of three kinds:

- a persisted frame (``trunk``): a shared sub-plan whose OUTPUT is
  small (candidate pairs, near-dup components, ANN grids) while its build
  pays the family's full explode/join/window cost, so it is built
  once per session, persisted MEMORY_AND_DISK and read by every
  consumer (BENCH_r10: second dedup consumer 6.5 s -> ~1.4 s);
- a staged directory (``staged``): a temp directory written once per
  session and read lazily by the returned frame (stream sources,
  streaming checkpoints, format round-trips);
- a small driver-side value (``memo``): a bounded collect such as an
  ANN training sample.

Corpus-immutability contract: keys carry the family, the Spark
applicationId (a string, never a stopped context, so a fresh session
never reads a dead one's entries), the canonical corpus directory and
every tunable that shaped the entry, but NO file footprint.  An entry
is therefore only correct while the parquet files under its directory
are immutable for the lifetime of the Spark application — the
testdata contract (TESTDATA.md) and the assumption every
persisted Spark frame already makes about its source files.  A
pipeline that rewrites its corpus in-session must call
``clear_trunk_caches()`` at the rewrite boundary: it unpersists every
frame, deletes every staged directory and drops every value.  A
DataFrame returned before that call may read those frames and
directories lazily, so it must not be collected after it.  Without
the call entries live for the session: one per (family, corpus,
tunables) actually queried.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable
from pathlib import Path

# family-keyed registry; an EMPTY module-level dict (runtime cache)
# is deliberately outside the fingerprint walk — see
# __spark_entry__._is_plain_const.  Staged directories are stored as
# Path objects, never plain strings, so a registry holding only
# directories still reads as a runtime cache there.
_TRUNKS: dict[tuple, object] = {}


def norm_dir(sf_dir) -> str:
    """Canonical cache-key form of a corpus directory: absolute +
    normalized, so two spellings of the same directory (trailing
    slash, relative vs absolute) share one entry instead of building
    and pinning duplicates."""
    return os.path.normpath(os.path.abspath(str(sf_dir)))


def session_key(spark, sf_dir, *tunables) -> tuple:
    """The key every entry carries after its family name:
    (applicationId, norm_dir(sf_dir), *tunables)."""
    return (spark.sparkContext.applicationId, norm_dir(sf_dir), *tunables)


def persist_trunk_adaptive(out):
    """Persist a tiny trunk-output frame MEMORY_AND_DISK with AQE
    allowed to size the cached plan, restoring the session conf
    afterwards.  Cached-plan compilation bypasses AQE partition
    coalescing unless spark.sql.optimizer.
    canChangeCachedPlanOutputPartitioning is on (Spark default
    false): without it the frame persists at the raw
    shuffle-partition count and every consumer pays per-task
    overhead on mostly-empty partitions (measured +0.7 s
    steady-state on dup_graph_core_peel's iterative rounds).  The
    conf is read when the cache entry is registered/compiled, so it
    is set around persist() + an eager materialization and then
    restored.  The eager count() moves the trunk build from the
    first consumer into the builder (same total work, one extra tiny
    job) and guarantees the cached data is laid out while the conf
    is in force.  If that materialization RAISES, the frame is
    unpersisted before re-raising so a failed build never leaves an
    orphaned persisted plan that no clear hook can reach."""
    from pyspark import StorageLevel

    conf = out.sparkSession.conf
    name = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    prev = conf.get(name, None)
    conf.set(name, "true")
    try:
        out = out.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            out.count()
        except Exception:
            try:
                out.unpersist()
            except Exception:
                pass  # release best-effort; surface the build error
            raise
    finally:
        if prev is None:
            conf.unset(name)
        else:
            conf.set(name, prev)
    return out


def trunk(family: str, key: tuple, build: Callable[[], object]):
    """Return the session's persisted frame for (family, *key),
    building + persisting it on first request.  ``key`` is a
    session_key(); ``build`` is only invoked on a miss."""
    k = (family, *key)
    hit = _TRUNKS.get(k)
    if hit is not None:
        return hit
    out = persist_trunk_adaptive(build())
    _TRUNKS[k] = out
    return out


def staged(family: str, key: tuple, write: Callable[[str], None]) -> str:
    """Return the session's staged directory for (family, *key).  On
    first request (or if the directory has gone) a fresh temp
    directory is created and ``write(dir)`` fills it.  If ``write``
    raises, the half-written directory is removed and nothing is
    registered."""
    k = (family, *key)
    hit = _TRUNKS.get(k)
    if hit is not None and hit.is_dir():
        return str(hit)
    path = Path(tempfile.mkdtemp(prefix=f"nemspark-{family}-"))
    try:
        write(str(path))
    except BaseException:
        shutil.rmtree(path, ignore_errors=True)
        raise
    _TRUNKS[k] = path
    return str(path)


def memo(family: str, key: tuple, compute: Callable[[], object]):
    """Return the session's small driver-side value for (family,
    *key), computing it on first request."""
    k = (family, *key)
    if k not in _TRUNKS:
        _TRUNKS[k] = compute()
    return _TRUNKS[k]


def clear_trunk_caches() -> None:
    """THE rewrite-boundary / teardown hook: unpersist every frame,
    delete every staged directory and drop every value, in every
    family (see the module contract above)."""
    while _TRUNKS:
        _, entry = _TRUNKS.popitem()
        if isinstance(entry, Path):
            shutil.rmtree(entry, ignore_errors=True)
        elif hasattr(entry, "unpersist"):
            try:
                entry.unpersist()
            except Exception:
                pass  # session already stopped — nothing to release
