"""Property-based and invariant tests (the test-strategy upgrade over the
reference, SURVEY.md §5: it ships no asserts at all)."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.functions.money import dec
from real_time_data_warehouse_spark.functions.skew import salted_agg
from real_time_data_warehouse_spark.functions.text import (
    poly_hash,
    poly_hash_sql,
    tokenize,
    tokenize_sql,
)
from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map
from real_time_data_warehouse_spark.tables import Tables
from tests.conftest import SF_DIR

query_map()

# printable ASCII without quotes/backslash (SQL-literal-safe for the duckdb
# side of the cross-engine property; the Spark side gets them via DataFrame)
_ASCII = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126,
                           exclude_characters="'\\\""),
    min_size=0, max_size=80,
)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_ASCII, min_size=1, max_size=20))
def test_poly_hash_cross_engine(spark, texts):
    """The portable hash must agree between Spark and DuckDB on arbitrary
    ASCII input — the foundation every dedup oracle rests on."""
    sdf = spark.createDataFrame([(t,) for t in texts], ["s"])
    got = [r[0] for r in sdf.select(poly_hash("s")).collect()]
    con = duckdb.connect()
    exp = [
        con.execute(f"SELECT {poly_hash_sql('?::VARCHAR')}", [t]).fetchone()[0]
        for t in texts
    ]
    assert got == exp


# mixed-script strategy for the CJK tokenizer: ASCII + Han + CJK
# punctuation interleaved (U1 non-ASCII parity, a6b's foundation)
_MIXED = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=32, max_codepoint=122,
                      exclude_characters="'\\\""),
        st.characters(min_codepoint=0x4E00, max_codepoint=0x4E80),
        st.sampled_from("。！，"),
    ),
    min_size=0, max_size=60,
)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_MIXED, min_size=1, max_size=20))
def test_tokenize_cjk_cross_engine(spark, texts):
    """Java \\p{IsHan} and RE2 \\p{Han} must carve identical token
    streams from arbitrary mixed-script text."""
    from real_time_data_warehouse_spark.functions.text import (
        tokenize_cjk,
        tokenize_cjk_sql,
    )

    sdf = spark.createDataFrame([(t,) for t in texts], ["s"])
    got = [r[0] for r in sdf.select(tokenize_cjk("s")).collect()]
    con = duckdb.connect()
    exp = [
        con.execute(
            f"SELECT {tokenize_cjk_sql('?::VARCHAR')}", [t]
        ).fetchone()[0]
        for t in texts
    ]
    assert got == exp


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_ASCII, min_size=1, max_size=20))
def test_tokenize_cross_engine(spark, texts):
    sdf = spark.createDataFrame([(t,) for t in texts], ["s"])
    got = [r[0] for r in sdf.select(tokenize("s")).collect()]
    con = duckdb.connect()
    exp = [
        con.execute(f"SELECT {tokenize_sql('?::VARCHAR')}", [t]).fetchone()[0]
        for t in texts
    ]
    assert got == exp


def test_decimal_sum_partition_invariance(spark):
    """Money sums must not depend on partitioning/reduction order (the
    whole point of the DECIMAL discipline)."""
    t = Tables(spark, SF_DIR)
    one = (
        t.lineitem.repartition(1)
        .agg(F.sum(dec("l_extendedprice")).cast("double").alias("s"))
        .first()["s"]
    )
    many = (
        t.lineitem.repartition(13)
        .agg(F.sum(dec("l_extendedprice")).cast("double").alias("s"))
        .first()["s"]
    )
    assert one == many


def test_salted_agg_equivalence(spark):
    """Salted two-phase aggregation ≡ direct aggregation (sum/count/min/max
    are commutative-associative)."""
    t = Tables(spark, SF_DIR)
    direct = (
        t.events.groupBy("event_type")
        .agg(
            F.sum(dec("value")).cast("double").alias("total"),
            F.count("*").alias("n"),
            F.min("user_id").alias("lo"),
            F.max("user_id").alias("hi"),
        )
    )
    salted = salted_agg(
        t.events.withColumn("value", dec("value")),
        ["event_type"],
        {
            "total": ("value", "sum"),
            "n": ("event_id", "count"),
            "lo": ("user_id", "min"),
            "hi": ("user_id", "max"),
        },
        salt_buckets=8,
    ).withColumn("total", F.col("total").cast("double"))
    d = {r["event_type"]: (r["total"], r["n"], r["lo"], r["hi"]) for r in direct.collect()}
    s = {r["event_type"]: (r["total"], r["n"], r["lo"], r["hi"]) for r in salted.collect()}
    assert d == s


def test_uv_two_formulations_agree(spark):
    """ST4 (first-event-per-day row_number) and a direct per-day distinct
    count are different plans for the same semantics — they must agree."""
    t = Tables(spark, SF_DIR)
    uv = QUERY_REGISTRY["st4_first_per_day_uv"].fn(spark, SF_DIR)
    direct = (
        t.events.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("cur_date")
        )
        .agg(F.countDistinct("user_id").alias("uv_ct"))
    )
    a = {r["cur_date"]: r["uv_ct"] for r in uv.collect()}
    b = {r["cur_date"]: r["uv_ct"] for r in direct.collect()}
    assert a == b


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),   # key
            st.integers(min_value=0, max_value=100), # ts
            st.sampled_from(["insert", "update", "delete"]),
        ),
        min_size=1, max_size=12,
    )
)
def test_upsert_dim_chunked_equals_whole(spark, tmp_path_factory, ops):
    """S8 invariant: applying a CDC batch all at once ≡ applying it in two
    stream-ordered chunks (the micro-batch boundary must not change the
    final table) — for any sequence of insert/update/delete. Chunks are
    split in ts (commit) order per the sink's ordering contract: CDC
    streams deliver in commit order, and deletes keep no tombstone (same
    as the reference's HBase sink), so out-of-order replay across batches
    is out of contract."""
    import uuid

    from real_time_data_warehouse_spark.streaming.sinks import upsert_dim

    # distinct ts per key → deterministic last-write-wins
    seen: set[tuple[int, int]] = set()
    rows = []
    for i, (k, ts, typ) in enumerate(ops):
        while (k, ts) in seen:
            ts += 101
        seen.add((k, ts))
        rows.append((str(k), typ, ts, f"v{i}"))
    rows.sort(key=lambda r: r[2])  # stream (commit) order
    batch = spark.createDataFrame(rows, ["row_key", "type", "ts", "payload"])

    base = tmp_path_factory.mktemp(f"ups_{uuid.uuid4().hex[:8]}")
    whole, chunked = str(base / "whole"), str(base / "chunked")
    upsert_dim(spark, batch, whole, key_cols=["row_key"], order_col="ts")
    half = len(rows) // 2
    c1 = spark.createDataFrame(rows[:half] or rows, batch.schema)
    c2 = spark.createDataFrame(rows[half:] or rows, batch.schema)
    # chunks split by arrival order; replay both in order
    if half:
        upsert_dim(spark, c1, chunked, key_cols=["row_key"], order_col="ts")
        upsert_dim(spark, c2, chunked, key_cols=["row_key"], order_col="ts")
    else:
        upsert_dim(spark, batch, chunked, key_cols=["row_key"], order_col="ts")

    def snap(path):
        import os

        if not os.path.exists(path):
            return set()
        return {
            (r["row_key"], r["ts"], r["payload"])
            for r in spark.read.parquet(path).collect()
        }

    assert snap(whole) == snap(chunked)


def test_minhash_estimates_bounded_error(spark):
    """MinHash estimated Jaccard on candidate pairs must be within 0.35 of
    exact Jaccard (16 hashes → σ ≈ 0.12; 3σ bound)."""
    qm = query_map()
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in qm["d2_ngram_jaccard_pairs"](spark, SF_DIR).collect()
    }
    est = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in qm["d3_minhash_lsh_pairs"](spark, SF_DIR).collect()
    }
    for pair, e in est.items():
        if pair in exact:
            assert abs(e - exact[pair]) <= 0.35, (pair, e, exact[pair])


@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.integers(min_value=1, max_value=99), min_size=1, max_size=4))
def test_dedup_gate_split_invariance(spark, tmp_path_factory, cut_pcts):
    """The incremental gate must produce the classification of the
    one-pass batch query under ANY partitioning of the corpus into
    ordered batches (hypothesis draws random doc_id percentile cuts)."""
    from real_time_data_warehouse_spark.operators.dedup import dedup_gate_batch
    from real_time_data_warehouse_spark.streaming.dedup_gate import (
        apply_gate_batch,
    )

    docs = (
        Tables(spark, SF_DIR).documents.select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    cuts = sorted({ids[min(len(ids) - 1, len(ids) * p // 100)] for p in cut_pcts})

    tmp = tmp_path_factory.mktemp("gate_prop")
    store, out = str(tmp / "store"), str(tmp / "out")
    lo = None
    bounds = [*cuts, ids[-1]]
    for i, hi in enumerate(bounds):
        batch = docs.where(
            (F.col("doc_id") <= hi)
            & (F.col("doc_id") > (lo if lo is not None else -1))
        )
        if batch.count():
            apply_gate_batch(spark, batch, i, store, out)
        lo = hi

    got = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in spark.read.option("basePath", out).parquet(out).collect()
    }
    expected = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in dedup_gate_batch(docs).collect()
    }
    assert got == expected


@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.integers(min_value=1, max_value=99), min_size=1, max_size=4))
def test_embedding_gate_split_invariance(spark, tmp_path_factory, cut_pcts):
    """The semantic gate must match the one-pass d9 batch query under ANY
    partitioning of the vectors into ordered batches."""
    from real_time_data_warehouse_spark.streaming.embedding_gate import (
        apply_gate_batch,
    )

    vecs = (
        Tables(spark, SF_DIR).embeddings.select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )
    ids = sorted(r["vec_id"] for r in vecs.select("vec_id").collect())
    cuts = sorted({ids[min(len(ids) - 1, len(ids) * p // 100)] for p in cut_pcts})

    tmp = tmp_path_factory.mktemp("emb_gate_prop")
    store, out = str(tmp / "store"), str(tmp / "out")
    lo = None
    bounds = [*cuts, ids[-1]]
    for i, hi in enumerate(bounds):
        batch = vecs.where(
            (F.col("vec_id") <= hi)
            & (F.col("vec_id") > (lo if lo is not None else -1))
        )
        if batch.count():
            apply_gate_batch(spark, batch, i, store, out)
        lo = hi

    got = {
        r["vec_id"]: (r["status"], r["dup_of"])
        for r in spark.read.option("basePath", out).parquet(out).collect()
    }
    expected = {
        r["vec_id"]: (r["status"], r["dup_of"])
        for r in QUERY_REGISTRY["d9_semantic_gate"].fn(spark, SF_DIR).collect()
    }
    assert got == expected


# --- d6 min-label propagation: pointer-doubling convergence -----------------
# Each round hops labels one edge AND shortcuts label→label-of-label
# (pointer doubling), so a PATH of N nodes needs O(log N) rounds, not
# O(N). The guard must still fail loudly when max_rounds is genuinely
# too small instead of returning partial labels (the silently-wrong
# failure mode of every iterate-to-fixpoint distributed algorithm).

def _chain_pairs(spark, n):
    """Path graph 0-1-2-...-(n-1) as a candidate-pair frame."""
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )


def test_label_propagation_chain_converges_in_log_rounds(spark):
    from real_time_data_warehouse_spark.operators.dedup import (
        min_label_propagation,
    )

    # a 64-node path (diameter 63) must converge in ~log2(64)+slack
    # rounds — far under 63; 16 rounds pins the doubling is real
    labels = min_label_propagation(_chain_pairs(spark, 64), max_rounds=16)
    got = {r["node"]: r["label"] for r in labels.collect()}
    assert got == {i: 0 for i in range(64)}


def test_label_propagation_raises_when_rounds_too_small(spark):
    import pytest

    from real_time_data_warehouse_spark.operators.dedup import (
        min_label_propagation,
    )

    # even with doubling, a 64-node path cannot finish in 3 rounds
    with pytest.raises(RuntimeError, match="did not converge"):
        min_label_propagation(_chain_pairs(spark, 64), max_rounds=3)


def test_label_propagation_long_chain_within_default_bound(spark):
    """The production-bound stress: a 1000-node chain (diameter 999)
    converges inside the default max_rounds=50 ONLY because of the
    doubling step — plain one-hop propagation would need 1000 rounds.
    This is the O(log diameter) claim, executed."""
    from real_time_data_warehouse_spark.operators.dedup import (
        min_label_propagation,
    )

    labels = min_label_propagation(_chain_pairs(spark, 1000))
    got = {r["node"]: r["label"] for r in labels.collect()}
    assert got == {i: 0 for i in range(1000)}


def test_replay_batches_keep_rows_outside_a_short_span(spark):
    """A caller-supplied span below the max id (or ids below 0) must
    not drop rows: the first replay batch is open below, the last open
    above, so every row lands in exactly one batch."""
    import os

    from real_time_data_warehouse_spark.operators.gate_replay import (
        _replay_batches,
    )

    rows = spark.range(-3, 20).withColumnRenamed("id", "k")

    def apply(spark, batch, b, store_dir, out_dir):
        batch.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={b}")
        )

    out = _replay_batches(spark, rows, "k", apply, span=8)
    assert sorted(r["k"] for r in out.collect()) == list(range(-3, 20))


def test_sq8_matmul_scorer_corpus_smaller_than_k_emits_no_self_pairs():
    """With <= k corpus rows per batch the prune threshold is -inf, so
    the masked (-inf) self-pairs must be dropped explicitly — never
    emitted, never cast to int64."""
    import numpy as np
    import pandas as pd

    from real_time_data_warehouse_spark.operators.similarity import (
        _sq8_matmul_scorer,
    )

    qids = np.array([1, 2], dtype=np.int64)
    Q = np.array([[1, 2, 3], [3, 2, 1]], dtype=np.float64)
    corpus = pd.DataFrame(
        {"vec_id": [1, 2, 3], "qc": [[1, 2, 3], [3, 2, 1], [1, 1, 1]]}
    )
    out = pd.concat(_sq8_matmul_scorer(qids, Q, k=10)([corpus]))
    got = {(q, n): s for q, n, s in out.itertuples(index=False)}
    # every non-self pair survives with its exact integer dot
    assert got == {(1, 2): 10, (1, 3): 6, (2, 1): 10, (2, 3): 6}


def test_chunking_covers_every_token_with_overlap(spark):
    """c9 invariants on the fixture: chunk 0 starts at 0; consecutive
    chunk starts differ by exactly the stride; the last chunk reaches
    the final token (full coverage — no token falls outside every
    chunk); all non-final chunks are full-size."""
    from real_time_data_warehouse_spark.operators.curation import (
        _CHUNK_SIZE,
        _CHUNK_STRIDE,
    )

    from pyspark.sql.window import Window

    chunks = QUERY_REGISTRY["c9_doc_chunks"].fn(spark, SF_DIR)
    toks = QUERY_REGISTRY["t3_token_count"].fn(spark, SF_DIR).select(
        "doc_id", F.col("ws_tokens").alias("n_tokens")
    )
    wd = Window.partitionBy("doc_id")
    flagged = chunks.withColumn(
        "is_final", F.col("chunk_id") == F.max("chunk_id").over(wd)
    )
    per_doc = (
        flagged.groupBy("doc_id")
        .agg(
            F.min("start_tok").alias("first_start"),
            F.max(F.col("start_tok") + F.col("chunk_len")).alias("reach"),
            F.count("*").alias("n_chunks"),
            F.max("chunk_id").alias("max_id"),
            F.sum(
                (
                    (F.col("chunk_len") < _CHUNK_SIZE) & ~F.col("is_final")
                ).cast("int")
            ).alias("short_non_final"),
        )
        .join(toks, "doc_id")
    )
    bad = per_doc.where(
        (F.col("first_start") != 0)
        | (F.col("reach") != F.col("n_tokens"))
        | (F.col("n_chunks") != F.col("max_id") + 1)
        | (F.col("short_non_final") > 0)
    )
    assert bad.count() == 0, bad.limit(5).collect()
    # consecutive starts differ by exactly the stride
    w = Window.partitionBy("doc_id").orderBy("chunk_id")
    gaps = (
        chunks.select(
            "doc_id",
            (F.col("start_tok") - F.lag("start_tok").over(w)).alias("gap"),
        )
        .where(F.col("gap").isNotNull() & (F.col("gap") != _CHUNK_STRIDE))
    )
    assert gaps.count() == 0


def test_range_join_partitions_orders_exactly_once(spark):
    """j11 invariant: the band intervals partition the price domain —
    every order lands in EXACTLY one band (sum of per-band counts equals
    the order count; no order matches two bands by construction of the
    bin-cover join + residual)."""
    t = Tables(spark, SF_DIR)
    bands = QUERY_REGISTRY["j11_range_join"].fn(spark, SF_DIR)
    total = bands.agg(F.sum("n_orders")).first()[0]
    assert total == t.orders.count()


def test_bm25_shortlist_is_subset_of_term_hitters(spark):
    """s6 sanity: every returned doc actually contains at least one
    query term, and n_terms never exceeds the query length."""
    from real_time_data_warehouse_spark.operators.retrieval import (
        _QUERY_TERMS,
    )
    from real_time_data_warehouse_spark.functions.text import tokenize

    top = QUERY_REGISTRY["s6_bm25_topk"].fn(spark, SF_DIR)
    t = Tables(spark, SF_DIR)
    hitters = t.documents.select(
        "doc_id",
        F.size(
            F.filter(tokenize("text"), lambda x: x.isin(*_QUERY_TERMS))
        ).alias("hits"),
    )
    joined = top.join(hitters, "doc_id")
    bad = joined.where(
        (F.col("hits") <= 0) | (F.col("n_terms") > len(_QUERY_TERMS))
    )
    assert bad.count() == 0
    assert top.count() > 0


# --- round-4 additions: d16 strip and st13 sessionization vs brute force --


def _brute_strip(docs: dict[int, list[str]], k: int) -> dict[int, list[str]]:
    """O(everything) reference for d16: rank every positional k-gram
    occurrence by (doc_id, pos); occurrences ranked 2+ mark [pos, pos+k)
    for removal; return kept tokens per doc."""
    first: dict[tuple, tuple] = {}
    occs = []
    for d in sorted(docs):
        t = docs[d]
        for s in range(len(t) - k + 1):
            g = tuple(t[s : s + k])
            occs.append((d, s, g))
            if g not in first:
                first[g] = (d, s)
    removed: dict[int, set] = {d: set() for d in docs}
    for d, s, g in occs:
        if first[g] != (d, s):
            removed[d].update(range(s, s + k))
    return {
        d: [tok for i, tok in enumerate(docs[d]) if i not in removed[d]]
        for d in docs
    }


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]),
            min_size=0, max_size=24,
        ),
        min_size=1, max_size=6,
    )
)
def test_substring_strip_matches_bruteforce(spark, token_lists):
    """d16 on random tiny-alphabet corpora (duplicated 6-grams arise
    naturally) must equal the quadratic keep-first reference."""
    from real_time_data_warehouse_spark.operators.dedup import (
        _SPAN_K,
        substring_strip,
    )

    docs = {i + 1: toks for i, toks in enumerate(token_lists)}
    frame = spark.createDataFrame(
        [(d, " ".join(t)) for d, t in docs.items()],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["clean_text"]
        for r in substring_strip(frame).collect()
    }
    exp = {
        d: " ".join(t) for d, t in _brute_strip(docs, _SPAN_K).items()
    }
    assert got == exp


def _brute_sessions(events, gap_s):
    """Reference for st13: per user, sort by (ts, event_id), split on
    gaps > gap_s, roll up (count, sum)."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for uid, ts, val, eid in events:
        by_user[uid].append((ts, eid, val))
    out = {}
    for uid, rows in by_user.items():
        rows.sort()
        seq, last = 0, None
        for ts, eid, val in rows:
            if last is None or ts - last > gap_s:
                seq += 1
                out[(uid, seq)] = [ts, ts, 0, 0.0]
            cur = out[(uid, seq)]
            cur[1] = max(cur[1], ts)
            cur[2] += 1
            cur[3] = round(cur[3] + val, 2)
            last = ts
    return {k: tuple(v) for k, v in out.items()}


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),      # user_id
            st.integers(min_value=0, max_value=200_000),  # ts offset s
            st.integers(min_value=0, max_value=9999),   # value cents
        ),
        min_size=1, max_size=40, unique=True,
    )
)
def test_sessionization_matches_bruteforce(spark, raw):
    """st13 on random event streams (gaps straddle the 8 h threshold)
    must equal the per-user scan reference: same numbering, boundaries,
    counts and 2-dec sums."""
    import datetime as dt

    from real_time_data_warehouse_spark.operators.stateful import (
        SESSION_GAP_S,
        sessionize_events,
    )

    base = dt.datetime(2022, 1, 1, tzinfo=dt.timezone.utc)
    events = [
        (uid, off, cents / 100.0, i + 1)
        for i, (uid, off, cents) in enumerate(raw)
    ]
    frame = spark.createDataFrame(
        [
            (uid, base + dt.timedelta(seconds=off), val, eid)
            for uid, off, val, eid in events
        ],
        "user_id long, ts timestamp, value double, event_id long",
    )
    sess = sessionize_events(frame)
    got = {
        (r["user_id"], r["session_seq"]): (
            int(r["session_start"].timestamp() - base.timestamp()),
            int(r["session_end"].timestamp() - base.timestamp()),
            r["n_events"],
            round(r["value_sum"], 2),
        )
        for r in sess.collect()
    }
    exp = {
        k: (v[0], v[1], v[2], round(v[3], 2))
        for k, v in _brute_sessions(
            [(u, o, val, e) for u, o, val, e in events], SESSION_GAP_S
        ).items()
    }
    assert got == exp


def test_u3_udaf_exact_integer_partials(spark):
    """The GROUPED_AGG UDAFs must equal the builtin integer aggregates
    on a planted frame (exactness is what makes u3 oracle-checkable)."""
    from real_time_data_warehouse_spark.functions.udaf import (
        weight_sum,
        weighted_cents_sum,
    )

    rows = [("a", 1.25, 3), ("a", 0.10, 1), ("b", 19.99, 7), ("b", 0.01, 2)]
    df = spark.createDataFrame(rows, "k string, v double, w long")
    got = {
        r["k"]: (r["c"], r["s"])
        for r in df.groupBy("k")
        .agg(weighted_cents_sum("v", "w").alias("c"), weight_sum("w").alias("s"))
        .collect()
    }
    assert got == {"a": (125 * 3 + 10 * 1, 4), "b": (1999 * 7 + 1 * 2, 9)}


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9999),   # order key
            st.integers(min_value=-100, max_value=100),  # int measure
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=7),  # bucket count
)
def test_bucketed_prefix_equals_sequential(spark, rows, n_buckets):
    """functions/prefix.bucketed_prefix must equal the single-threaded
    running sum for ANY range-monotone bucketing — the associativity
    claim a18/t14 rest on."""
    from real_time_data_warehouse_spark.functions.prefix import (
        bucketed_prefix,
    )

    df = spark.createDataFrame(rows, "k long, x long")
    span = max(k for k, _ in rows) + 1
    bucket = F.least(
        F.floor(F.col("k") / span * n_buckets), F.lit(n_buckets - 1)
    ).cast("int")
    got = {
        r.k: r.cum_x
        for r in bucketed_prefix(
            df, bucket, ["k"], {"x": (F.col("x"), F.lit(0).cast("bigint"))}
        ).collect()
    }
    acc = 0
    for k, x in sorted(rows):
        acc += x
        assert got[k] == acc


def test_bucketed_prefix_understated_n_buckets_fails_loud(spark):
    """The HARD CALLER CONTRACT in functions/prefix.bucketed_prefix:
    an understated n_buckets makes limit() drop bucket totals — that
    must kill the job with the contract message (assert_true on the
    null-checked offsets join), never silently corrupt cum_* sums."""
    import pytest as _pytest

    from real_time_data_warehouse_spark.functions.prefix import (
        bucketed_prefix,
    )

    df = spark.createDataFrame(
        [(i, i % 7, 1) for i in range(50)], "k int, b int, x int"
    )
    bad = bucketed_prefix(
        df,
        F.col("b"),
        ["b", "k"],
        {"x": (F.col("x").cast("bigint"), F.lit(0).cast("bigint"))},
        n_buckets=3,  # 7 distinct buckets — understated on purpose
    )
    with _pytest.raises(Exception, match="n_buckets understated"):
        bad.collect()


def test_u3_half_cent_lattice_cross_engine(spark, duck):
    """The advice-flagged divergence: pandas Series.round is
    half-to-EVEN while DuckDB ROUND is half-away — a true half-cent
    value (e.g. 1.115 ≈ 1.1150000000000002, 2.125 exactly) silently
    diverged under the old UDAF. Both sides now use
    floor(v*100 + 0.5); this pins the agreement ON half-cent values,
    where the binary double sits exactly at or next to the tie."""
    from real_time_data_warehouse_spark.functions.udaf import (
        weighted_cents_sum,
    )

    vals = [1.115, 2.125, 0.005, 3.335, 0.985, 7.625, -0.0, 0.995]
    df = spark.createDataFrame(
        [("k", v, 1) for v in vals], "k string, v double, w long"
    )
    got = (
        df.groupBy("k")
        .agg(weighted_cents_sum("v", "w").alias("c"))
        .first()["c"]
    )
    placeholders = ", ".join(f"({v!r})" for v in vals)
    exp = duck.execute(
        "SELECT CAST(SUM(CAST(FLOOR(v * 100 + 0.5) AS BIGINT)) AS BIGINT)"
        f" FROM (VALUES {placeholders}) t(v)"
    ).fetchone()[0]
    assert got == exp


def test_s14_code_lattice_cross_engine(spark, duck):
    """s14's contract: floor(127·u + 0.5) must agree bigint-exactly
    between engines over the full normalized domain, including the
    negative half and values that land exactly on code boundaries
    (k+0.5)/127. 2001 evenly spaced u in [-1, 1] plus the exact
    boundary rationals cover every code transition."""
    from real_time_data_warehouse_spark.operators.similarity import (
        _SQ8_SCALE,
    )

    sp = {
        r.i: r.c
        for r in spark.range(0, 2001)
        .select(
            F.col("id").alias("i"),
            F.floor(
                (F.col("id") / 1000.0 - 1.0) * _SQ8_SCALE + F.lit(0.5)
            )
            .cast("long")
            .alias("c"),
        )
        .collect()
    }
    du = dict(
        duck.execute(
            f"SELECT i, CAST(floor((CAST(i AS DOUBLE) / CAST(1000 AS "
            f"DOUBLE) - CAST(1 AS DOUBLE)) * {_SQ8_SCALE} + 0.5) AS "
            "BIGINT) FROM range(0, 2001) t(i)"
        ).fetchall()
    )
    assert sp == du
    # exact half-code boundaries: u = (2k+1)/(2·127)
    bounds = [(2 * k + 1) / (2 * _SQ8_SCALE) for k in range(-127, 127)]
    bdf = spark.createDataFrame([(b,) for b in bounds], "u double")
    spb = [
        r.c
        for r in bdf.select(
            F.floor(F.col("u") * _SQ8_SCALE + F.lit(0.5))
            .cast("long")
            .alias("c")
        ).collect()
    ]
    # NB: doubles must be BOUND as parameters, not spliced into SQL
    # text — DuckDB parses a bare decimal literal as DECIMAL and its
    # DECIMAL→DOUBLE cast can land 1 ulp off Python/Spark's strtod.
    # The real oracle never takes that path (values arrive from
    # parquet as FLOAT→DOUBLE), so the test binds the same way.
    dub = [
        r[0]
        for r in duck.execute(
            f"SELECT CAST(floor(u * {_SQ8_SCALE} + 0.5) AS BIGINT) "
            "FROM unnest(?::DOUBLE[]) t(u)",
            [bounds],
        ).fetchall()
    ]
    assert spb == dub


# --- k5 DDL fold: random op sequences vs the LAG-formulation oracle -------

from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=60, deadline=None)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["t1", "t2", "t3"]),
            st.sampled_from(["c", "r", "u", "d"]),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_ddl_fold_matches_lag_oracle_formulation(ops):
    """apply_config_ddl's imperative create/drop semantics equal the k5
    oracle's declarative LAG fold on ANY op sequence — the property the
    driver row checks on one synthetic stream, checked here on many.
    Pure-Python twin of the FS fold (no Spark needed): same rules as
    streaming/sinks.apply_config_ddl."""
    seq = [(t, i + 1, op) for i, (t, op) in enumerate(ops)]

    # imperative fold (what apply_config_ddl does to the filesystem)
    state: dict[str, int] = {}
    for t, ver, op in seq:
        if op in ("d", "u"):
            state.pop(t, None)
        if op in ("r", "c", "u") and t not in state:
            state[t] = ver

    # the k5 oracle's LAG formulation, evaluated by DuckDB itself
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ops(sink_table VARCHAR, ver BIGINT, op VARCHAR)"
    )
    con.executemany("INSERT INTO ops VALUES (?, ?, ?)", seq)
    rows = con.execute("""
        WITH marked AS (
            SELECT *,
                   LAG(op) OVER (PARTITION BY sink_table
                                 ORDER BY ver) AS prev_op,
                   ROW_NUMBER() OVER (PARTITION BY sink_table
                                      ORDER BY ver DESC) AS rn_last
            FROM ops
        ), survivors AS (
            SELECT sink_table FROM marked WHERE rn_last = 1 AND op <> 'd'
        )
        SELECT m.sink_table, MAX(m.ver)
        FROM marked m JOIN survivors s USING (sink_table)
        WHERE m.op = 'u'
           OR (m.op IN ('c', 'r')
               AND (m.prev_op IS NULL OR m.prev_op = 'd'))
        GROUP BY m.sink_table
    """).fetchall()
    assert dict(rows) == state
