"""Streaming-gate REPLAY queries — driver-verifiable forms of the
streaming halves of the d7 lexical gate and the d9 semantic gate.

The batch forms (``d7_dedup_gate``, ``d9_semantic_gate``) are one-pass
queries with DuckDB oracles; the streaming forms
(``streaming/dedup_gate.py``, ``streaming/embedding_gate.py``) process
ordered micro-batches against a persistent signature/vector store. Their
equivalence (sequential gate ≡ one-pass query) is the core correctness
claim of the ingestion-gate design — previously pinned only by pytest
(tests/test_dedup_gate.py, tests/test_embedding_gate.py).

These two queries put that claim in front of the external driver: split
the fixture into a FIXED number of ascending-id batches (the gates'
ordering contract), replay them sequentially through the streaming
``apply_gate_batch`` path — real parquet store segments, real
``batch_id=N`` overwrite partitions, the exact code ``foreachBatch``
runs — and return the concatenated per-batch decisions. The oracle is
the one-pass batch oracle, so a green row IS the driver checking
batch ≡ stream.

Scratch layout lives in a throwaway temp dir; the result is detached
from it (``localCheckpoint``) before cleanup so the returned DataFrame
owns its data.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# direct imports (not load_all) so the batch-form oracles these queries
# reuse are attached no matter how this module is reached
from real_time_data_warehouse_spark.operators import dedup as _dedup  # noqa: F401
from real_time_data_warehouse_spark.operators import (  # noqa: F401
    similarity as _similarity,
)
from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, register
from real_time_data_warehouse_spark.streaming import dedup_gate, embedding_gate
from real_time_data_warehouse_spark.tables import Tables

# Fixed batch count — the replay is deterministic for a given fixture:
# batch b covers ids in [span*b/N, span*(b+1)/N). The oracle (the
# one-pass form) is independent of the boundaries, which is exactly the
# equivalence being asserted.
_N_BATCHES = 4


def _replay_batches(
    spark: SparkSession,
    rows: DataFrame,
    id_col: str,
    apply_batch: Callable[[SparkSession, DataFrame, int, str, str], None],
    finalize: Callable[[SparkSession, str], DataFrame] | None = None,
    span: int | None = None,
) -> DataFrame:
    """Split ``rows`` into ``_N_BATCHES`` ascending ``id_col`` ranges,
    feed them sequentially through ``apply_batch`` (the streaming gate's
    foreachBatch body) against a throwaway store, and return the
    concatenated decisions detached from the scratch dirs. ``finalize``
    overrides the default read of out_dir (e.g. upsert-log compaction
    for the SCD2 stream). Callers that already know the id range pass
    ``span`` so the max-id scalar job (a full input scan) is skipped —
    the time-split family derives it from the same aggregate that finds
    the 0-base (guide §1.2: fewer passes). The first batch is open below
    and the last open above, so a row outside ``[0, span)`` (a stale or
    under-estimated span) still lands in a batch instead of being
    silently dropped."""
    if span is None:
        max_id = rows.agg(F.max(id_col)).first()[0]
        # empty input: still drive the applier once with the empty
        # batch — appliers are empty-batch-hardened
        # (tests/test_empty_inputs.py) and write a correctly-schemaed
        # empty partition for the final read
        span = (int(max_id) if max_id is not None else 0) + 1
    with tempfile.TemporaryDirectory(
        prefix="rtdw_gate_replay_", ignore_cleanup_errors=True
    ) as tmp:
        store_dir = os.path.join(tmp, "store")
        out_dir = os.path.join(tmp, "out")
        for b in range(_N_BATCHES):
            in_batch = F.lit(True)
            if b > 0:
                in_batch &= F.col(id_col) >= span * b // _N_BATCHES
            if b < _N_BATCHES - 1:
                in_batch &= F.col(id_col) < span * (b + 1) // _N_BATCHES
            apply_batch(spark, rows.where(in_batch), b, store_dir, out_dir)
        if finalize is not None:
            out = finalize(spark, out_dir)
        else:
            out = spark.read.option("basePath", out_dir).parquet(
                out_dir
            ).drop("batch_id")
        # materialize before the scratch dir is removed — the returned
        # frame must not depend on the replay's files
        return out.localCheckpoint(eager=True)


@register(
    "d7s_dedup_gate_replay",
    survey="ext-dedup",
    doc=f"Streaming lexical-gate replay: the documents table is split "
        f"into {_N_BATCHES} ascending-doc_id batches and pushed through "
        "streaming/dedup_gate.apply_gate_batch — the exact foreachBatch "
        "body, with real parquet signature-store segments — then the "
        "per-batch decisions are concatenated. Checked against the "
        "ONE-PASS d7 oracle: a green row is the driver verifying the "
        "sequential gate ≡ the batch query (previously pytest-only).",
    oracle=None,  # attached below: the d7 batch-form oracle, verbatim
)
def d7s_dedup_gate_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")
    return _replay_batches(
        spark, docs, "doc_id", dedup_gate.apply_gate_batch
    )


@register(
    "d9s_semantic_gate_replay",
    survey="ext-dedup,ext-similarity",
    doc=f"Streaming semantic-gate replay: the embeddings table is split "
        f"into {_N_BATCHES} ascending-vec_id batches and pushed through "
        "streaming/embedding_gate.apply_gate_batch (bucket-partitioned "
        "vector-store segments, same-bucket candidate joins), then the "
        "per-batch decisions are concatenated. Checked against the "
        "ONE-PASS d9 oracle — the driver-verified batch ≡ stream claim "
        "for the SemDeDup-style gate.",
    oracle=None,  # attached below: the d9 batch-form oracle, verbatim
)
def d9s_semantic_gate_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    vecs = t.embeddings.select("vec_id", "embedding")
    return _replay_batches(
        spark, vecs, "vec_id", embedding_gate.apply_gate_batch
    )


@register(
    "st8s_scd2_replay",
    survey="ST1,S8,ext-scale",
    doc=f"Streaming SCD2 replay: the events table is split into "
        f"{_N_BATCHES} ascending event-time batches and pushed through "
        "streaming/scd2.apply_scd2_batch — live version maintenance "
        "against a per-entity open-interval snapshot store, every "
        "touched version (re-)emitted per batch as a CDC-style upsert "
        "log — then the log compacts last-wins per (user_id, version). "
        "Checked against the ONE-PASS st8 oracle: a green row is the "
        "driver verifying incremental history maintenance ≡ the batch "
        "interval builder.",
    oracle=None,  # attached below: the st8 batch-form oracle, verbatim
)
def st8s_scd2_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.operators import (  # noqa: F401
        stateful as _stateful,
    )
    from real_time_data_warehouse_spark.streaming import scd2

    t = Tables(spark, sf_dir)
    # event_id order == event-time order in the fixture (asserted by
    # tests/test_streaming.py), so ascending-id ranges satisfy the
    # gates' time-ordering contract
    rows = t.events.select("user_id", "event_type", "ts", "event_id")
    return _replay_batches(
        spark,
        rows,
        "event_id",
        scd2.apply_scd2_batch,
        finalize=scd2.compact_scd2_log,
    )


import dataclasses as _dc

_QR = QUERY_REGISTRY
_QR["d7s_dedup_gate_replay"] = _dc.replace(
    _QR["d7s_dedup_gate_replay"], oracle=_QR["d7_dedup_gate"].oracle
)
_QR["d9s_semantic_gate_replay"] = _dc.replace(
    _QR["d9s_semantic_gate_replay"], oracle=_QR["d9_semantic_gate"].oracle
)
from real_time_data_warehouse_spark.operators import stateful as _stateful  # noqa: E402,F401

_QR["st8s_scd2_replay"] = _dc.replace(
    _QR["st8s_scd2_replay"], oracle=_QR["st8_scd2_intervals"].oracle
)


@register(
    "a13s_heavy_hitters_replay",
    survey="A2,ext-scale,ext-text",
    doc="Streaming heavy-hitter tracker replay: the fixture's token "
        "stream split into 4 ascending-doc_id batches and folded "
        "sequentially through the bounded Misra-Gries snapshot state "
        "(streaming/heavy_hitters.py — batch N reads snapshot N-1, "
        "overwrites snapshot N; retry-idempotent like the other gates). "
        "The final snapshot's keys are a guaranteed superset of the "
        "true heavy hitters regardless of where the batch boundaries "
        "fall (the MG undercount bound is chunking-independent), so "
        "after the exact verify pass the streaming path returns the "
        "IDENTICAL rows to the one-pass a13 query — the oracle is "
        "literally a13's, making the green row a driver-checked "
        "batch ≡ stream equivalence.",
    oracle=None,  # replaced below with a13's oracle (shared contract)
)
def a13s_heavy_hitters_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.functions.text import tokenize
    from real_time_data_warehouse_spark.operators.aggregations import _HH_K
    from real_time_data_warehouse_spark.streaming import heavy_hitters as hh

    t = Tables(spark, sf_dir)
    tokens = t.documents.select(
        "doc_id", F.explode(tokenize("text")).alias("w")
    ).localCheckpoint(eager=True)
    span = int(tokens.agg(F.max("doc_id")).first()[0]) + 1
    with tempfile.TemporaryDirectory(
        prefix="rtdw_hh_replay_", ignore_cleanup_errors=True
    ) as tmp:
        for b in range(_N_BATCHES):
            lo, hi = span * b // _N_BATCHES, span * (b + 1) // _N_BATCHES
            batch = tokens.where(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).select("w")
            hh.apply_hh_batch(spark, batch, b, tmp, cap=4 * _HH_K)
        cand = hh.final_candidates(spark, tmp, _N_BATCHES).localCheckpoint(
            eager=True
        )
    tot = tokens.agg(F.count("*").cast("bigint").alias("n_total"))
    return (
        tokens.join(F.broadcast(cand), "w")
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .where(F.col("cnt") * _HH_K > F.col("n_total"))
        .select("w", "cnt", "n_total")
    )


# shared contract: the replay answers to the one-pass a13 oracle
from real_time_data_warehouse_spark.operators import aggregations as _aggs  # noqa: E402,F401
import dataclasses as _dc13  # noqa: E402

QUERY_REGISTRY["a13s_heavy_hitters_replay"] = _dc13.replace(
    QUERY_REGISTRY["a13s_heavy_hitters_replay"],
    oracle=QUERY_REGISTRY["a13_heavy_hitters"].oracle,
)


@register(
    "st13s_session_replay",
    survey="ST6,W8,ext-scale",
    doc=f"Streaming sessionization replay: the events table is split "
        f"into {_N_BATCHES} ascending event-time batches and pushed "
        "through streaming/sessionize.apply_session_batch — live "
        "gap-session maintenance with ONE open-session row of state "
        "per user, every session touched per batch (re-)emitted as a "
        "CDC-style upsert keyed (user_id, session_seq) — then the log "
        "compacts last-wins. Checked against the ONE-PASS st13 oracle: "
        "a green row is the driver verifying that session numbering, "
        "boundaries, and exact DECIMAL value sums are independent of "
        "where the batch boundaries fall.",
    oracle=None,  # attached below: the st13 batch-form oracle, verbatim
)
def st13s_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.streaming import sessionize

    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id", "ts", "value", "event_id")
    # sessionize's carried-state contract is batches ascending in EVENT
    # TIME (the open session's last_ts must precede every batch ts), so
    # split on the shared derived 0-based time key like j4s/j2s — not
    # event_id, whose monotonicity in ts is a fixture accident
    rows, span = _with_tsec(ev)
    return _replay_batches(
        spark,
        rows,
        "tsec",
        sessionize.apply_session_batch,
        finalize=sessionize.compact_session_log,
        span=span,
    )


import dataclasses as _dc14  # noqa: E402

QUERY_REGISTRY["st13s_session_replay"] = _dc14.replace(
    QUERY_REGISTRY["st13s_session_replay"],
    oracle=QUERY_REGISTRY["st13_sessionization"].oracle,
)


@register(
    "a1s_windowed_sum_replay",
    survey="A1,W1,W4,ext-scale",
    doc=f"Streaming windowed-sum replay: the events table is split into "
        f"{_N_BATCHES} batches and pushed through "
        "streaming/window_agg.apply_window_batch — incremental keyed "
        "tumbling-window aggregation via MERGEABLE partials (decimal "
        "sum + count), each batch re-emitting only the (window, key) "
        "groups it touched — then the upsert log compacts last-wins. "
        "Checked against the ONE-PASS a1 oracle: the driver verifies "
        "the reference's core DWS pattern (Flink incremental window "
        "reduce, DwsTradeSkuOrderWindow.java:271-302) is batch ≡ "
        "stream at any batch split, with NO ordering contract — the "
        "merge is commutative and associative.",
    oracle=None,  # attached below: the a1 batch-form oracle, verbatim
)
def a1s_windowed_sum_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.operators import (  # noqa: F401
        aggregations as _aggregations,
    )
    from real_time_data_warehouse_spark.streaming import window_agg

    t = Tables(spark, sf_dir)
    rows = t.events.select("event_id", "ts", "event_type", "value")
    return _replay_batches(
        spark,
        rows,
        "event_id",
        window_agg.apply_window_batch,
        finalize=window_agg.compact_window_log,
    )


import dataclasses as _dc15  # noqa: E402

from real_time_data_warehouse_spark.operators import (  # noqa: E402,F401
    aggregations as _aggs_for_oracle,
)

QUERY_REGISTRY["a1s_windowed_sum_replay"] = _dc15.replace(
    QUERY_REGISTRY["a1s_windowed_sum_replay"],
    oracle=QUERY_REGISTRY["a1_windowed_sum"].oracle,
)


@register(
    "j4s_interval_join_replay",
    survey="J4,W5,ext-scale",
    doc=f"Streaming interval-join replay: the events table is split "
        f"into {_N_BATCHES} ascending TIME-RANGE batches and pushed "
        "through streaming/joins.apply_interval_join_batch — a "
        "stream-stream interval join maintained incrementally, with "
        "state exactly the trailing 30-minute window of events (the "
        "same bound Spark's watermarked join derives from the range "
        "predicate) and an append-only output log (strictly-prior "
        "semantics make every purchase complete at its own batch). "
        "Checked against the ONE-PASS j4 oracle: the driver verifies "
        "the hardest streaming op class — stream⋈stream with state "
        "eviction — is batch ≡ stream.",
    oracle=None,  # attached below: the j4 batch-form oracle, verbatim
)
def j4s_interval_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.operators import (  # noqa: F401
        joins as _joins,
    )
    from real_time_data_warehouse_spark.streaming import joins as sjoins

    t = Tables(spark, sf_dir)
    ev = t.events.select("event_id", "user_id", "ts", "event_type")
    # time-ranged batches need a 0-based integer time key (the helper
    # splits [0, max] into N ranges); _with_tsec returns the span from
    # the same aggregate so no separate max-id scan runs
    rows, span = _with_tsec(ev)
    return _replay_batches(
        spark,
        rows,
        "tsec",
        sjoins.apply_interval_join_batch,
        span=span,
        finalize=sjoins.read_interval_join_log,
    )


import dataclasses as _dc16  # noqa: E402

from real_time_data_warehouse_spark.operators import (  # noqa: E402,F401
    joins as _joins_for_oracle,
)

QUERY_REGISTRY["j4s_interval_join_replay"] = _dc16.replace(
    QUERY_REGISTRY["j4s_interval_join_replay"],
    oracle=QUERY_REGISTRY["j4_interval_join"].oracle,
)


@register(
    "j2s_left_outer_join_replay",
    survey="J2,W5,ext-scale",
    doc=f"Streaming left-outer join replay: 'click' orders wait up to "
        "30 min for a same-user 'purchase' across time-range batches "
        "(streaming/joins.apply_left_outer_batch). This is the op "
        "where Flink and Spark diverge hardest (SURVEY §7.4.1): Flink "
        "emits the null row immediately and retracts it on match; here "
        "the unmatched order HOLDS in state and emits its null-padded "
        "row exactly once — when event time proves no payment can "
        "arrive (or at end-of-stream flush). Matched pairs append the "
        "moment the payment's batch runs. Checked against the one-pass "
        "LEFT JOIN oracle: a green row is the driver verifying the "
        "retract-free outer-join design produces the identical net "
        "table.",
    oracle=f"""
        SELECT o.event_id AS order_id, p.event_id AS pay_id
        FROM events o
        LEFT JOIN events p
          ON o.user_id = p.user_id
         AND p.event_type = 'purchase'
         AND p.ts >= o.ts
         AND p.ts <= o.ts + INTERVAL 30 MINUTE
        WHERE o.event_type = 'click'
    """,
)
def j2s_left_outer_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.streaming import joins as sjoins

    t = Tables(spark, sf_dir)
    ev = t.events.select("event_id", "user_id", "ts", "event_type")
    rows, span = _with_tsec(ev)
    return _replay_batches(
        spark,
        rows,
        "tsec",
        # the left-outer applier keeps state under out_dir/_state (so
        # finalize can re-derive it) and takes no state_dir argument
        lambda sp, b, i, _store, out: sjoins.apply_left_outer_batch(
            sp, b, i, out
        ),
        finalize=sjoins.finalize_left_outer,
        span=span,
    )


@register(
    "a5s_windowed_uu_replay",
    survey="A5,ST4,ext-scale",
    doc=f"Streaming windowed-UU replay: the events table is split into "
        f"{_N_BATCHES} batches and pushed through "
        "streaming/distinct_agg.apply_distinct_batch — DISTINCT is the "
        "aggregate naive count-partials CANNOT merge (repeat users "
        "double-count), so state is the membership set itself as a "
        "distinct-triples table (the reference's keyed Set state, "
        "DwsTradeCartAddUuWindow.java:99-139, in table form); new "
        "members anti-join in, touched groups re-emit full counts, the "
        "log compacts last-wins. Checked against the ONE-PASS a5 "
        "oracle at any batch split — set union has no ordering "
        "contract.",
    oracle=None,  # attached below: the a5 batch-form oracle, verbatim
)
def a5s_windowed_uu_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.streaming import distinct_agg

    t = Tables(spark, sf_dir)
    rows = t.events.select("event_id", "user_id", "ts", "event_type")
    return _replay_batches(
        spark,
        rows,
        "event_id",
        distinct_agg.apply_distinct_batch,
        finalize=distinct_agg.compact_distinct_log,
    )


import dataclasses as _dc17  # noqa: E402

QUERY_REGISTRY["a5s_windowed_uu_replay"] = _dc17.replace(
    QUERY_REGISTRY["a5s_windowed_uu_replay"],
    oracle=QUERY_REGISTRY["a5_windowed_uu"].oracle,
)


def _with_tsec(ev: DataFrame) -> tuple[DataFrame, int]:
    """0-based integer event-time key for time-range batch splitting —
    the carried-state appliers' ordering contract (batches ascend in
    event time), independent of any id/ts correlation in the fixture.

    Returns ``(rows, span)``: ONE scalar job yields both the 0-base and
    the batch span (min and max unix seconds ride the same aggregate).
    The previous two-helper form paid two full input scans per replay
    row — one for min(ts) here, one for max(tsec) in _replay_batches
    (guide §1.2: fewer passes). min(unix_timestamp) == unix_timestamp
    of the min (floor is monotonic), so tsec values are unchanged."""
    mn, mx = ev.agg(
        F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
    ).first()
    if mn is None:  # empty stream — any constant key splits it validly
        return ev.withColumn("tsec", F.lit(0).cast("long")), 1
    rows = ev.withColumn(
        "tsec",
        (F.unix_timestamp("ts") - F.lit(int(mn))).cast("long"),
    )
    return rows, int(mx) - int(mn) + 1


@register(
    "st3s_visitor_fix_replay",
    survey="ST3,ext-scale",
    doc=f"Streaming visitor-flag repair replay: the events table is "
        f"split into {_N_BATCHES} ascending TIME-RANGE batches and "
        "pushed through streaming/user_state.apply_visitor_batch — "
        "keyed first-visit-date state (the reference's ValueState in "
        "DwdBaseLog.java:121-188) folded per batch, every event "
        "stamped is_new and APPENDED exactly once (the flag is final "
        "at its own batch under time-ascending splits; no retraction). "
        "Checked against the ONE-PASS st3 oracle: a green row is the "
        "driver verifying the custom visitor-state op is batch ≡ "
        "stream.",
    oracle=None,  # attached below: the st3 batch-form oracle, verbatim
)
def st3s_visitor_fix_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.streaming import user_state

    t = Tables(spark, sf_dir)
    rows, span = _with_tsec(t.events.select("event_id", "user_id", "ts"))
    return _replay_batches(
        spark, rows, "tsec", user_state.apply_visitor_batch, span=span
    )


@register(
    "st5s_returning_user_replay",
    survey="ST5,ext-scale",
    doc=f"Streaming returning-user replay: the events table is split "
        f"into {_N_BATCHES} ascending TIME-RANGE batches and pushed "
        "through streaming/user_state.apply_returning_batch — keyed "
        "last-login-date state (the reference's 8-day-gap op, "
        "DwsUserUserLoginWindow.java:80-124, the one SURVEY §7.3 calls "
        "genuinely custom) with per-date count accumulators; touched "
        "dates re-emit full counts and the upsert log compacts "
        "last-wins. Checked against the ONE-PASS st5 oracle: a green "
        "row is the driver verifying uu/returning counts are "
        "independent of where the batch boundaries fall.",
    oracle=None,  # attached below: the st5 batch-form oracle, verbatim
)
def st5s_returning_user_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.streaming import user_state

    t = Tables(spark, sf_dir)
    rows, span = _with_tsec(t.events.select("user_id", "ts", "event_type"))
    return _replay_batches(
        spark,
        rows,
        "tsec",
        user_state.apply_returning_batch,
        finalize=user_state.compact_returning_log,
        span=span,
    )


import dataclasses as _dc18  # noqa: E402

QUERY_REGISTRY["st3s_visitor_fix_replay"] = _dc18.replace(
    QUERY_REGISTRY["st3s_visitor_fix_replay"],
    oracle=QUERY_REGISTRY["st3_visitor_state_fix"].oracle,
)
QUERY_REGISTRY["st5s_returning_user_replay"] = _dc18.replace(
    QUERY_REGISTRY["st5s_returning_user_replay"],
    oracle=QUERY_REGISTRY["st5_returning_user"].oracle,
)


@register(
    "c10s_profile_replay",
    survey="ext-curation,ext-text,A10,ext-scale",
    doc=f"Incremental corpus-profile replay: the documents table is "
        f"split into {_N_BATCHES} batches and pushed through "
        "streaming/profile.apply_profile_batch — per-(source, lang) "
        "MERGEABLE leaf partials (count, token sum, exact DECIMAL "
        "quality sum) folded into a snapshot store, the ROLLUP "
        "hierarchy and floor-rounded mean expanded from the final "
        "leaves at read time. Checked against the ONE-PASS c10 oracle "
        "at any batch split — the merge is commutative and "
        "associative, so profile-at-ingest ≡ profile-by-rescan is a "
        "driver-verified claim.",
    oracle=None,  # attached below: the c10 batch-form oracle, verbatim
)
def c10s_profile_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.operators import (  # noqa: F401
        curation as _curation,
    )
    from real_time_data_warehouse_spark.streaming import profile

    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "text", "source")
    return _replay_batches(
        spark,
        docs,
        "doc_id",
        profile.apply_profile_batch,
        finalize=profile.rollup_profile,
    )


import dataclasses as _dc19  # noqa: E402

from real_time_data_warehouse_spark.operators import (  # noqa: E402,F401
    curation as _curation_for_oracle,
)

QUERY_REGISTRY["c10s_profile_replay"] = _dc19.replace(
    QUERY_REGISTRY["c10s_profile_replay"],
    oracle=QUERY_REGISTRY["c10_corpus_profile"].oracle,
)


@register(
    "st1s_dedup_last_wins_replay",
    survey="ST1,ST2,ext-scale",
    doc=f"Streaming last-write-wins replay: the events table is split "
        f"into {_N_BATCHES} ascending event_id batches and pushed "
        "through streaming/last_wins.apply_last_wins_batch — keyed "
        "current-winner state (the reference's dedup-by-retraction op, "
        "DwsTradeSkuOrderWindow.java:190-223) folded per batch, touched "
        "keys re-emitting their winner, the upsert log compacting "
        "last-wins. The argmax fold under the (ts, event_id) total "
        "order is commutative+associative, so NO batch ordering "
        "contract exists — checked against the ONE-PASS st1 oracle at "
        "an id-based split precisely because the claim is "
        "split-independence.",
    oracle=None,  # attached below: the st1 batch-form oracle, verbatim
)
def st1s_dedup_last_wins_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from real_time_data_warehouse_spark.operators import (  # noqa: F401
        stateful as _stateful,
    )
    from real_time_data_warehouse_spark.streaming import last_wins

    t = Tables(spark, sf_dir)
    rows = t.events.select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    return _replay_batches(
        spark,
        rows,
        "event_id",
        last_wins.apply_last_wins_batch,
        finalize=last_wins.compact_last_wins_log,
    )


import dataclasses as _dc20  # noqa: E402

from real_time_data_warehouse_spark.operators import (  # noqa: E402,F401
    stateful as _stateful_for_oracle,
)

QUERY_REGISTRY["st1s_dedup_last_wins_replay"] = _dc20.replace(
    QUERY_REGISTRY["st1s_dedup_last_wins_replay"],
    oracle=QUERY_REGISTRY["st1_dedup_last_wins"].oracle,
)


@register(
    "st4s_daily_uv_replay",
    survey="ST4,A4,ext-scale",
    doc=f"Streaming daily-UV replay: the events table is split into "
        f"{_N_BATCHES} ascending event_id batches and pushed through "
        "streaming/visit_stats.apply_daily_uv_batch — keyed "
        "(user, day) membership-set state (the reference's per-day "
        "dedup ValueState, DwsTrafficVcChArIsNewPageViewWindow.java:"
        "58-106), new pairs anti-joining in, touched days re-emitting "
        "accumulated counts, the log compacting last-wins. Set union "
        "is order-free, so the id-based split IS the claim: daily UV "
        "is independent of where micro-batch boundaries fall. Checked "
        "against the ONE-PASS st4 oracle.",
    oracle=None,  # attached below: the st4 batch-form oracle, verbatim
)
def st4s_daily_uv_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.operators import (  # noqa: F401
        stateful as _st,
    )
    from real_time_data_warehouse_spark.streaming import visit_stats

    t = Tables(spark, sf_dir)
    rows = t.events.select("event_id", "user_id", "ts")
    return _replay_batches(
        spark,
        rows,
        "event_id",
        visit_stats.apply_daily_uv_batch,
        finalize=visit_stats.compact_daily_uv_log,
    )


@register(
    "st6s_session_count_replay",
    survey="ST6,ext-scale",
    doc=f"Streaming session-count replay: the events table is split "
        f"into {_N_BATCHES} ascending TIME-RANGE batches and pushed "
        "through streaming/visit_stats.apply_session_count_batch — "
        "keyed (last_ts, count) state implementing the reference's "
        "30-min-gap session rule (DwsTrafficVcChArIsNewPageViewWindow."
        "java:86-88): a batch's first event per user consults the "
        "CARRIED last event time, touched users re-emit accumulated "
        "counts, the log compacts last-wins. With st4s this completes "
        "driver-checked batch ≡ stream twins for every §2.6 stateful "
        "family. Checked against the ONE-PASS st6 oracle.",
    oracle=None,  # attached below: the st6 batch-form oracle, verbatim
)
def st6s_session_count_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from real_time_data_warehouse_spark.operators import (  # noqa: F401
        stateful as _st,
    )
    from real_time_data_warehouse_spark.streaming import visit_stats

    t = Tables(spark, sf_dir)
    rows, span = _with_tsec(t.events.select("event_id", "user_id", "ts"))
    return _replay_batches(
        spark,
        rows,
        "tsec",
        visit_stats.apply_session_count_batch,
        finalize=visit_stats.compact_session_log,
        span=span,
    )


import dataclasses as _dc21  # noqa: E402

from real_time_data_warehouse_spark.operators import (  # noqa: E402,F401
    stateful as _stateful_for_oracle2,
)

QUERY_REGISTRY["st4s_daily_uv_replay"] = _dc21.replace(
    QUERY_REGISTRY["st4s_daily_uv_replay"],
    oracle=QUERY_REGISTRY["st4_first_per_day_uv"].oracle,
)
QUERY_REGISTRY["st6s_session_count_replay"] = _dc21.replace(
    QUERY_REGISTRY["st6s_session_count_replay"],
    oracle=QUERY_REGISTRY["st6_session_count"].oracle,
)


@register(
    "z3s_compaction_replay",
    survey="ext-scale",
    doc=f"Incremental compaction-planning replay: the events table is "
        f"split into {_N_BATCHES} ascending event-time batches and "
        "pushed through streaming/compaction.apply_compaction_batch — "
        "each batch folds its rows into the carried per-(day,hour) "
        "file catalog (hours straddling batch boundaries accumulate "
        "correctly; the merge is order-free) and re-plans the bin "
        "assignment over the bounded catalog, the way a real lakehouse "
        "compactor re-plans per commit. Checked against the ONE-PASS "
        "z3 oracle: a green row is the driver verifying that the "
        "incrementally maintained catalog + final re-plan equals the "
        "batch query regardless of boundary placement.",
    oracle=None,  # attached below: the z3 batch-form oracle, verbatim
)
def z3s_compaction_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.streaming import compaction

    t = Tables(spark, sf_dir)
    ev = t.events.select("ts", "props")
    rows, span = _with_tsec(ev)
    return _replay_batches(
        spark,
        rows,
        "tsec",
        compaction.apply_compaction_batch,
        finalize=compaction.compact_plan_log,
        span=span,
    )


import dataclasses as _dcz3  # noqa: E402

# direct import so the z3 batch-form oracle exists no matter how this
# module is reached (the d7/d9 pattern at the top of the file)
from real_time_data_warehouse_spark.operators import (  # noqa: E402,F401
    layout as _layout,
)

QUERY_REGISTRY["z3s_compaction_replay"] = _dcz3.replace(
    QUERY_REGISTRY["z3s_compaction_replay"],
    oracle=QUERY_REGISTRY["z3_compaction_plan"].oracle,
)


@register(
    "s15s_ivf_ingest_replay",
    survey="ext-similarity,ext-scale",
    doc=f"Incremental vector-index ingestion replay: the embeddings "
        f"table is split into {_N_BATCHES} ascending-vec_id batches "
        "and pushed through streaming/ivf_index.apply_ingest_batch — "
        "each batch assigns its vectors to their cell under the "
        "FROZEN trained quantizer (the offline artifact a production "
        "index re-trains only on drift) and appends (cell, vec_id, "
        "int8 code) rows to the inverted-list store; the s15 search "
        "then runs against the ingested list. Checked against the "
        "verbatim s15 oracle: a green row is the driver verifying "
        "that index INGESTION commutes with index BUILD — appends "
        "are order-free, so batch boundaries cannot change the "
        "search result.",
    oracle=None,  # attached below: the s15 batch-form oracle, verbatim
)
def s15s_ivf_ingest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.operators.similarity import (
        _IVF_PROBES,
        _N_QUERIES,
        _as_double,
        _sq8_code_col,
        _topcells_udf,
        _trained_centroids,
    )
    from real_time_data_warehouse_spark.streaming import ivf_index

    t = Tables(spark, sf_dir)
    emb_full = t.embeddings.select(
        "vec_id", _as_double("embedding").alias("v")
    )
    cents = _trained_centroids(sf_dir, emb_full)  # frozen artifact
    topcells = _topcells_udf(cents, _IVF_PROBES)
    # probe cells and query codes are both per-row functions of v, so
    # they fuse into ONE projection over the ~_N_QUERIES query rows —
    # the previous form SQ8-encoded the ENTIRE corpus and equi-joined
    # it back just to pick up the handful of query codes (guide §2.3:
    # project/filter before the exchange). _sq8_code_col replays the
    # exact _sq8_codes(_normalized(...)) IEEE sequence. probes feeds
    # only the finalize searcher (fixture tables, not scratch dirs), so
    # it needs no checkpoint of its own.
    probes = emb_full.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.explode(topcells(F.col("v"))).alias("cell"),
        _sq8_code_col(F.col("v")).alias("qcode"),
    )
    rows = t.embeddings.select("vec_id", "embedding")
    return _replay_batches(
        spark,
        rows,
        "vec_id",
        ivf_index.make_ingest_applier(cents),
        finalize=ivf_index.make_searcher(probes),
    )


import dataclasses as _dcs15  # noqa: E402

QUERY_REGISTRY["s15s_ivf_ingest_replay"] = _dcs15.replace(
    QUERY_REGISTRY["s15s_ivf_ingest_replay"],
    oracle=QUERY_REGISTRY["s15_ivf_sq8_topk"].oracle,
)


@register(
    "g1s_pagerank_replay",
    survey="ST6,ext-scale",
    doc=f"Incremental PageRank-graph replay: the events table is split "
        f"into {_N_BATCHES} ascending TIME-RANGE batches and pushed "
        "through streaming/pagerank_stream.apply_pagerank_batch — "
        "carried per-user last-valid-page state chains transitions "
        "ACROSS batch boundaries (the edge between batch N's tail and "
        "batch N+1's head exists in neither batch alone), and the "
        "(src,dst,count) catalog accumulates order-free; the fixed-K "
        "integer-lattice rank loop then runs once over the final "
        "catalog. Checked against the verbatim g1 oracle: a green row "
        "is the driver verifying incremental graph maintenance across "
        "arbitrary boundaries ≡ the one-pass batch derivation. Closes "
        "the batch≡stream family for the graph operators.",
    oracle=None,  # attached below: the g1 batch-form oracle, verbatim
)
def g1s_pagerank_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.streaming import pagerank_stream

    t = Tables(spark, sf_dir)
    rows, span = _with_tsec(
        t.events.select("user_id", "ts", "event_id", "props")
    )
    return _replay_batches(
        spark,
        rows,
        "tsec",
        pagerank_stream.apply_pagerank_batch,
        finalize=pagerank_stream.pagerank_from_log,
        span=span,
    )


import dataclasses as _dcg1  # noqa: E402

from real_time_data_warehouse_spark.operators import (  # noqa: E402,F401
    graph as _graph_for_oracle,
)

QUERY_REGISTRY["g1s_pagerank_replay"] = _dcg1.replace(
    QUERY_REGISTRY["g1s_pagerank_replay"],
    oracle=QUERY_REGISTRY["g1_pagerank"].oracle,
)
