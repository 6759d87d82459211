"""Session artifacts: the one place that decides how an expensive result
is keyed, checked on a hit, bounded, evicted and released.

A session artifact is built once per (Spark application, dataset dir)
and read by many queries — the warehouse's own amortization model, where
a DIM table, a DWD topic or a DWS table is materialized once and every
downstream job reads it. Two payload shapes share one key and one bound:

- a directory (``artifact_dir``): ``build(path)`` writes files into a
  fresh temp dir, made at build time so whoever sets ``TMPDIR`` or
  ``tempfile.tempdir`` decides where the files land. A hit is "the dir
  still exists"; any session of the application may read it. Released
  by removing the dir.
- an in-memory value (``artifact``): a DataFrame — localCheckpointed
  here, so its release can unpersist the blocks — or a plain Python
  value (trained centroids, codebooks, merges). A hit is validated
  against the owning session by weakref: ``newSession()`` shares an
  applicationId, and a CPython ``id()`` can be reused after GC.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import weakref
from collections.abc import Callable
from typing import Any, NamedTuple, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")
Key = tuple[str, str, str]  # (applicationId, sf_dir, kind)


class _Entry(NamedTuple):
    value: Any
    # None marks a dir payload: its files outlive any one session object
    owner: "weakref.ref[SparkSession] | None"


_STORE: dict[Key, _Entry] = {}
# MUST stay above the number of artifact kinds one full bench/sweep
# touches (k1-k6, st14-18, j12-j16, x1s/x2s, d7x/d9x, w12, the sliced
# sources, the app chains, d5/d6/d23, trained quantizers, ...) or
# interleaved reps evict every artifact before its next read and the
# whole run silently degrades to cold rebuilds (round-9 session 2:
# extended_total 145 s → 271 s the moment kinds crossed 16). Each
# artifact is MBs at bench scale, so headroom costs next to nothing.
_MAX = 64
_atexit_armed = False


def key(spark: SparkSession, sf_dir: str, kind: str) -> Key:
    return (spark.sparkContext.applicationId, sf_dir, kind)


def evict(k: Key) -> None:
    """Drop one entry and release what it holds: a dir payload's files,
    or a checkpointed frame's blocks. The frame's analyzed plan IS a
    LogicalRDD holding the persisted internal RDD — ``analyzed().rdd()``
    is that RDD (NOT ``toRdd()``, which wraps a fresh unpersisted
    MapPartitionsRDD per call). Best effort: a stopped context means
    the blocks are already gone."""
    entry = _STORE.pop(k, None)
    if entry is None:
        return
    if entry.owner is None:
        shutil.rmtree(entry.value, ignore_errors=True)
    elif isinstance(entry.value, DataFrame):
        try:
            entry.value._jdf.queryExecution().analyzed().rdd().unpersist(
                False
            )
        except Exception:
            pass


def _evict_all() -> None:
    for k in list(_STORE):
        evict(k)


def _hit(k: Key, valid: Callable[[_Entry], bool]) -> _Entry | None:
    entry = _STORE.get(k)
    if entry is None or not valid(entry):
        evict(k)
        return None
    # LRU touch (dicts iterate in insert order; eviction pops the
    # front): a hit must move the entry to the back, or a full rotation
    # of OTHER builds evicts the hottest artifact first
    del _STORE[k]
    _STORE[k] = entry
    return entry


def _insert(k: Key, entry: _Entry) -> None:
    global _atexit_armed
    while len(_STORE) >= _MAX:
        evict(next(iter(_STORE)))
    if not _atexit_armed:
        atexit.register(_evict_all)
        _atexit_armed = True
    _STORE[k] = entry


def artifact_dir(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    build: Callable[[str], None],
) -> str:
    """The dir holding artifact ``kind`` for (session, sf_dir); on a
    miss ``build(path)`` fills a fresh temp dir first."""
    k = key(spark, sf_dir, kind)
    entry = _hit(k, lambda e: e.owner is None and os.path.isdir(e.value))
    if entry is not None:
        return entry.value
    sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = tempfile.mkdtemp(prefix=f"rtdw_{kind}_{sfx}_")
    try:
        build(base)
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise
    _insert(k, _Entry(base, None))
    return base


def artifact(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    build: Callable[[], T],
) -> T:
    """Artifact ``kind`` for (session, sf_dir), built by ``build()`` on
    a miss; a DataFrame result is stored localCheckpointed."""
    k = key(spark, sf_dir, kind)
    entry = _hit(k, lambda e: e.owner is not None and e.owner() is spark)
    if entry is not None:
        return entry.value
    value = build()
    if isinstance(value, DataFrame):
        value = value.localCheckpoint(eager=True)
    _insert(k, _Entry(value, weakref.ref(spark)))
    return value
