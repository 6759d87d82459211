"""artifacts.py, the session artifact store: hits build once and
LRU-touch, the bound covers a full bench rotation, eviction is bounded
and releases what an entry holds (a dir's files, a frame's checkpoint
blocks), and an entry whose owning session is gone is rebuilt.

Round-9 session 2 found the whole extended bench silently degrading to
cold rebuilds (145 s → 271 s) when the artifact-kind count crossed a
FIFO-evicted capacity of 16 — hence the capacity and LRU checks. The
dir and plain-value tests are JVM-free: applicationId is the only Spark
surface they use.
"""

from __future__ import annotations

import os
import tempfile
import weakref

import pytest

from real_time_data_warehouse_spark import artifacts
from tests.conftest import SF_DIR


@pytest.fixture(autouse=True)
def _isolated_store():
    """Swap in a FRESH store for the test's duration: mutating the live
    module-global here would release artifacts built earlier in the
    suite (forcing slow rebuilds), and a mid-test assert failure would
    leak ~64 fake entries into later tests."""
    saved = artifacts._STORE
    artifacts._STORE = {}
    try:
        yield
    finally:
        # release only what THIS test created, then restore the live
        # store untouched
        for k in list(artifacts._STORE):
            artifacts.evict(k)
        artifacts._STORE = saved


class _Ctx:
    applicationId = "test-app"


class _Spark:
    sparkContext = _Ctx()


def _build_marker(calls):
    def build(base):
        calls.append(base)
        with open(os.path.join(base, "marker"), "w") as f:
            f.write("x")

    return build


def _persisted(spark, df) -> bool:
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
    return spark.sparkContext._jsc.sc().getPersistentRDDs().contains(rdd_id)


# --- dir payloads -----------------------------------------------------------


def test_hit_returns_same_dir_without_rebuild():
    calls = []
    sp = _Spark()
    d1 = artifacts.artifact_dir(sp, "/sf/a", "kind_hit", _build_marker(calls))
    d2 = artifacts.artifact_dir(sp, "/sf/a", "kind_hit", _build_marker(calls))
    assert d1 == d2 and len(calls) == 1


def test_capacity_covers_a_full_bench_rotation():
    """Artifact kinds a bench run keeps alive concurrently must fit:
    the constant is load-bearing, not a tuning knob."""
    assert artifacts._MAX >= 40


def test_hits_lru_touch_so_rotation_does_not_evict_hot_entries():
    """Insert-order (FIFO) eviction evicts the hottest artifact after a
    full rotation of other builds; a hit must move the entry to the
    back of the eviction order."""
    sp = _Spark()
    calls = []
    hot = artifacts.artifact_dir(sp, "/sf/b", "hot", _build_marker(calls))
    # fill to one below capacity, touching `hot` after each insert
    for i in range(artifacts._MAX - 1):
        artifacts.artifact_dir(sp, "/sf/b", f"cold{i}", _build_marker(calls))
        assert artifacts.artifact_dir(
            sp, "/sf/b", "hot", _build_marker(calls)
        ) == hot
    # one more insert must evict the stalest COLD entry, not `hot`
    artifacts.artifact_dir(sp, "/sf/b", "overflow", _build_marker(calls))
    assert artifacts.key(sp, "/sf/b", "hot") in artifacts._STORE
    assert not os.path.exists(calls[1])  # cold0's dir went with it
    assert artifacts.artifact_dir(
        sp, "/sf/b", "hot", _build_marker(calls)
    ) == hot
    assert calls.count(hot) == 1  # never rebuilt


def test_dir_payload_lands_under_tempdir_read_at_build_time(
    tmp_path, monkeypatch
):
    """A caller that redirects tempfile.tempdir between builds (the
    benchmark does, per repetition) must find the NEXT build's files
    under the new root — the dir is made at build time, not import."""
    sp = _Spark()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "one"))
    os.makedirs(tempfile.tempdir)
    d1 = artifacts.artifact_dir(sp, "/sf/t", "a", _build_marker([]))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "two"))
    os.makedirs(tempfile.tempdir)
    d2 = artifacts.artifact_dir(sp, "/sf/t", "b", _build_marker([]))
    assert os.path.dirname(d1) == str(tmp_path / "one")
    assert os.path.dirname(d2) == str(tmp_path / "two")


def test_evicting_a_dir_payload_removes_the_dir():
    sp = _Spark()
    calls = []
    d = artifacts.artifact_dir(sp, "/sf/e", "gone", _build_marker(calls))
    assert os.path.isfile(os.path.join(d, "marker"))
    artifacts.evict(artifacts.key(sp, "/sf/e", "gone"))
    assert not os.path.exists(d)
    # the next call is a miss and rebuilds into a fresh dir
    d2 = artifacts.artifact_dir(sp, "/sf/e", "gone", _build_marker(calls))
    assert len(calls) == 2 and os.path.isdir(d2)


# --- in-memory payloads -----------------------------------------------------


def test_cached_frame_builds_once_per_key(spark):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(5)

    a = artifacts.artifact(spark, "/sf/a", "t", build)
    b = artifacts.artifact(spark, "/sf/a", "t", build)
    assert calls["n"] == 1
    assert a is b
    assert a.count() == 5
    # different sf_dir or kind → separate entries
    artifacts.artifact(spark, "/sf/b", "t", build)
    artifacts.artifact(spark, "/sf/a", "u", build)
    assert calls["n"] == 3


def test_cache_is_bounded_and_evicts_oldest():
    sp = _Spark()
    for i in range(artifacts._MAX + 2):
        artifacts.artifact(sp, f"/sf/{i}", "k", lambda i=i: i)
    assert len(artifacts._STORE) <= artifacts._MAX
    # the oldest keys were evicted, the newest survive
    kept = {k[1] for k in artifacts._STORE}
    assert f"/sf/{artifacts._MAX + 1}" in kept
    assert "/sf/0" not in kept


def test_stale_owner_entry_is_rebuilt(spark):
    """An entry whose owning session is gone (weakref dead or a
    different live object under the same applicationId) must rebuild,
    never serve another session's checkpointed frame."""
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(3)

    artifacts.artifact(spark, "/sf/x", "k", build)
    k = artifacts.key(spark, "/sf/x", "k")

    class _DeadRef:
        def __call__(self):
            return None  # owner collected

    artifacts._STORE[k] = artifacts._STORE[k]._replace(owner=_DeadRef())
    out = artifacts.artifact(spark, "/sf/x", "k", build)
    assert calls["n"] == 2
    assert out.count() == 3


def test_d6_cache_hit_eviction_and_dead_session_guard(spark):
    """The d6 artifact must (a) return the same checkpointed frame on a
    same-session hit, (b) unpersist an evicted entry's checkpoint
    blocks instead of leaking them, and (c) treat an entry whose owning
    session is gone (weakref dead / different object) as a miss — the
    id()-reuse hazard a raw id(spark) key had."""
    from real_time_data_warehouse_spark.registry import QUERY_REGISTRY

    d6 = QUERY_REGISTRY["d6_dedup_clusters"].fn
    k = artifacts.key(spark, SF_DIR, "d6")
    df1 = d6(spark, SF_DIR)
    assert k in artifacts._STORE
    assert d6(spark, SF_DIR) is df1  # same-session hit

    # (b) eviction releases the checkpoint's storage blocks (the
    # persisted RDD is the LogicalRDD's, not the per-call toRdd wrapper)
    assert _persisted(spark, df1)
    artifacts.evict(k)
    assert k not in artifacts._STORE
    assert not _persisted(spark, df1)

    # (c) a dead/foreign owner is a miss, evicted on probe, and the
    # query transparently rebuilds
    class _Ghost:
        pass

    ghost = _Ghost()
    df3 = d6(spark, SF_DIR)
    artifacts._STORE[k] = artifacts._Entry(df3, weakref.ref(ghost))
    del ghost  # ref now dead
    df4 = d6(spark, SF_DIR)
    assert df4 is not df3
    entry = artifacts._STORE[k]
    assert entry.owner() is spark and entry.value is df4


def test_evicting_g1_edges_unpersists_their_blocks(spark):
    """The g1/g1b transition-edge frame is a checkpointed artifact like
    any other: dropping it must release its blocks, not leak them."""
    from real_time_data_warehouse_spark.operators.graph import (
        cached_transition_edges,
    )

    edges = cached_transition_edges(spark, SF_DIR)
    assert cached_transition_edges(spark, SF_DIR) is edges
    assert _persisted(spark, edges)
    artifacts.evict(artifacts.key(spark, SF_DIR, "g1_edges"))
    assert not _persisted(spark, edges)
