"""Similarity search over the `embeddings` table (north-star extension).

Brute-force cosine top-k as the correctness baseline; an LSH-bucketed
variant (random-hyperplane signatures, added in streaming with the dedup
family) as the scale path. Dot products are pure Catalyst array expressions
(``zip_with`` + ``aggregate``) — JVM-side, no Python in the loop.

Numeric discipline: embeddings are float32; both engines cast to DOUBLE
before the reduction so the element values agree exactly, and the output
similarity is rounded to 6 decimals to absorb reduction-order ulps.

Scale notes: brute force is |Q|×|N| — fine when the query set is small and
broadcast; for all-pairs at 100 TB use the LSH/IVF bucket join (candidates
share a bucket key → shuffle on bucket, never the cross product).
"""

from __future__ import annotations

import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.artifacts import artifact
from real_time_data_warehouse_spark.registry import register
from real_time_data_warehouse_spark.tables import Tables

_N_QUERIES = 10
_TOP_K = 5

# Random-hyperplane LSH: fixed deterministic planes (seed=7) shared by the
# Spark plan and the oracle SQL as literals. The plane stream is a single
# rng draw sequence, so the first _LSH_PLANES planes of the multi-band
# variant are identical to the single-table ones — parameterizing the
# count never silently re-randomizes existing queries.
_LSH_PLANES = 6
_EMB_DIM = 64

# d5's exact-cosine pair threshold — the semantic gate admits below it.
_NEARDUP_COS = 0.35

# Banded multi-table parameters (s2b): _LSH_BANDS tables of
# _LSH_BAND_PLANES sign bits each. Collision in ANY band makes a
# candidate — the OR-construction that restores recall at a fixed
# per-band bucket-size bound (see SCALE.md for the sizing math).
_LSH_BANDS = 8
_LSH_BAND_PLANES = 4


def _hyperplanes(n_planes: int = _LSH_PLANES) -> list[list[float]]:
    rng = np.random.default_rng(7)
    return [
        [round(float(x), 6) for x in rng.standard_normal(_EMB_DIM)]
        for _ in range(n_planes)
    ]


def _sign_bits_col(planes: list[list[float]], lo: int, hi: int) -> Column:
    """Bucket id from the sign bits of planes[lo:hi] over `v`."""
    return sum(
        F.when(
            dot(F.col("v"), F.array(*[F.lit(x) for x in planes[j]])) > 0,
            F.lit(1 << (j - lo)),
        ).otherwise(0)
        for j in range(lo, hi)
    ).cast("int")


def _sign_bits_sql(planes: list[list[float]], lo: int, hi: int) -> str:
    """DuckDB twin of _sign_bits_col — same plane literals."""
    return " + ".join(
        "(CASE WHEN list_inner_product(v, ["
        + ", ".join(f"{x}" for x in planes[j])
        + "]::DOUBLE[]) > 0 THEN "
        + str(1 << (j - lo))
        + " ELSE 0 END)"
        for j in range(lo, hi)
    )


def _bucket_col() -> Column:
    """Single-table hyperplane bucket id — shared by s2 and d5 so both
    queries bucket identically."""
    return _sign_bits_col(_hyperplanes(), 0, _LSH_PLANES)


def _bucket_sql() -> str:
    return _sign_bits_sql(_hyperplanes(), 0, _LSH_PLANES)


_SIG_QUANT = 1 << 20  # element quantization for exact signature dots


def _quantized_planes(
    planes: list[list[float]],
) -> list[list[int]]:
    """Plane literals → exact integers (×10⁶, the 6-decimal grid the
    literals already live on). With |v| < 1 quantized at 2^20 and plane
    ints < 2^23, a 64-term dot stays < 2^53 — exact in float64 under ANY
    summation order, so a numpy matmul and DuckDB's list_inner_product
    agree bit-for-bit (the IVF trick applied to LSH signatures)."""
    import math

    return [
        [int(math.floor(x * 1e6 + 0.5)) for x in plane] for plane in planes
    ]


def _band_buckets_udf(planes: list[list[float]]):
    """Vectorized pandas UDF: v (array<double>) → the _LSH_BANDS bucket
    ids, all 32 plane dots in ONE exact-integer matmul per Arrow batch —
    replaces 32 interpreted zip_with folds per row (the 100 TB form of
    signature computation)."""
    from pyspark.sql.functions import pandas_udf

    PQ = np.array(_quantized_planes(planes), dtype=np.float64)
    weights = 1 << np.arange(_LSH_BAND_PLANES)

    @pandas_udf("array<int>")
    def buckets(vs: pd.Series) -> pd.Series:
        V = np.stack(vs.to_numpy())
        VQ = np.floor(V * _SIG_QUANT + 0.5)
        D = VQ @ PQ.T  # exact: integer-valued doubles, |sums| < 2^53
        bits = (D > 0).reshape(len(V), _LSH_BANDS, _LSH_BAND_PLANES)
        return pd.Series(list((bits * weights).sum(axis=2).astype(np.int32)))

    return buckets


def _qsign_bits_sql(qplanes: list[list[int]], lo: int, hi: int) -> str:
    """DuckDB twin of one band of _band_buckets_udf — same integer plane
    literals over the quantized vector column ``vq``."""
    return " + ".join(
        "(CASE WHEN list_inner_product(vq, ["
        + ", ".join(str(x) for x in qplanes[j])
        + "]::DOUBLE[]) > 0 THEN "
        + str(1 << (j - lo))
        + " ELSE 0 END)"
        for j in range(lo, hi)
    )


def _banded_sig(emb: DataFrame, *carry: str) -> DataFrame:
    """(vec_id, v) → one (vec_id[, carry...], band, bucket) row per band —
    the shared candidate-generation key for every banded-LSH consumer
    (s2b, d5, d9, the streaming semantic gate). Signatures come from ONE
    exact-integer matmul per Arrow batch (_band_buckets_udf), so Spark and
    the oracle's quantized CASE expressions agree bit-for-bit."""
    buckets = _band_buckets_udf(_hyperplanes(_LSH_BANDS * _LSH_BAND_PLANES))
    return emb.select(
        "vec_id",
        *carry,
        F.posexplode_outer(buckets(F.col("v"))).alias("band", "bucket"),
    ).where(F.col("bucket").isNotNull())


def _bands_branches_sql() -> str:
    """The per-band CASE branches of the banded bucket id — the oracle
    twin of _banded_sig, shared by every banded-LSH oracle."""
    qplanes = _quantized_planes(_hyperplanes(_LSH_BANDS * _LSH_BAND_PLANES))
    return " ".join(
        f"WHEN {l} THEN "
        + _qsign_bits_sql(
            qplanes, l * _LSH_BAND_PLANES, (l + 1) * _LSH_BAND_PLANES
        )
        for l in range(_LSH_BANDS)
    )


def _as_double(col: str) -> Column:
    return F.col(col).cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


_ORACLE_COSINE = """
    list_inner_product(qv, nv) /
        (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(nv, nv)))
"""


@register(
    "s1_cosine_topk",
    survey="ext-similarity",
    doc=f"Brute-force cosine top-{_TOP_K}: for each query vector "
        f"(vec_id < {_N_QUERIES}), the {_TOP_K} nearest other vectors. "
        "Query side broadcast; ranking via row_number over the similarity "
        "(deterministic tiebreak on neighbor id).",
    oracle=f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        scored AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   list_inner_product(q.v, n.v) /
                       (sqrt(list_inner_product(q.v, q.v)) *
                        sqrt(list_inner_product(n.v, n.v))) AS sim
            FROM e q JOIN e n ON n.vec_id <> q.vec_id
            WHERE q.vec_id < {_N_QUERIES}
        )
        SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk,
               CAST(ROUND(sim, 6) AS DOUBLE) AS sim
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS rnk
            FROM scored
        ) WHERE rnk <= {_TOP_K}
    """,
)
def s1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
    # norms precomputed ONCE per row on each side — the pair loop then
    # evaluates a single dot product instead of three (same doubles, the
    # sqrt(dot(x,x)) expression just moves above the join)
    q = emb.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("qn"),
    )
    n = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(n)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")))
            .alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("int").alias("rnk"),
            F.round("sim", 6).cast("double").alias("sim"),
        )
    )


@register(
    "s12_label_partitioned_ann",
    survey="ext-similarity",
    doc=f"Metadata-constrained vector search: each query (vec_id < "
        f"{_N_QUERIES}) retrieves its top-{_TOP_K} cosine neighbors "
        "AMONG VECTORS SHARING ITS LABEL (tenant/lang/shard isolation — "
        "the filtered-ANN problem, where post-filtering a global top-k "
        "under-returns). Spark-first shape: the metadata constraint is "
        "an EQUI-JOIN key, so the search shards into per-label "
        "partitions co-located by one hash exchange — no crossJoin, no "
        "broadcast requirement, each label bucket independent (the "
        "pre-filter plan; scales with corpus × queries-per-label "
        "instead of corpus × queries).",
    oracle=f"""
        WITH e AS (SELECT vec_id, label,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        scored AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   list_inner_product(q.v, n.v) /
                       (sqrt(list_inner_product(q.v, q.v)) *
                        sqrt(list_inner_product(n.v, n.v))) AS sim
            FROM e q JOIN e n
              ON n.label = q.label AND n.vec_id <> q.vec_id
            WHERE q.vec_id < {_N_QUERIES}
        )
        SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk,
               CAST(ROUND(sim, 6) AS DOUBLE) AS sim
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS rnk
            FROM scored
        ) WHERE rnk <= {_TOP_K}
    """,
)
def s12_label_partitioned_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    q = emb.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        "label",
        F.col("v").alias("qv"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("qn"),
    )
    n = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.col("v").alias("nv"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nn"),
    )
    scored = (
        q.join(n, "label")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")))
            .alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("int").alias("rnk"),
            F.round("sim", 6).cast("double").alias("sim"),
        )
    )


def _s2_oracle() -> str:
    bucket_expr = _bucket_sql()
    return f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        bucketed AS (SELECT vec_id, v, CAST({bucket_expr} AS INT) AS bucket FROM e),
        scored AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   list_inner_product(q.v, n.v) /
                       (sqrt(list_inner_product(q.v, q.v)) *
                        sqrt(list_inner_product(n.v, n.v))) AS sim
            FROM bucketed q JOIN bucketed n
              ON q.bucket = n.bucket AND n.vec_id <> q.vec_id
            WHERE q.vec_id < {_N_QUERIES}
        )
        SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk,
               CAST(ROUND(sim, 6) AS DOUBLE) AS sim
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
              FROM scored)
        WHERE rnk <= {_TOP_K}
    """


@register(
    "s2_lsh_ann_topk",
    survey="ext-similarity",
    doc=f"PEDAGOGICAL single-table LSH top-{_TOP_K} ({_LSH_PLANES} planes "
        f"→ {1 << _LSH_PLANES} buckets) — the minimal bucketing pattern, "
        "kept for contrast. Its recall cliffs (~0.02 on the fixture, "
        "COVERAGE.md) because one 6-bit table ANDs all the planes; "
        "production ANN is s2b (banded OR-construction, recall 0.64) or "
        "s3 (trained IVF, recall 0.84). The oracle replicates the same "
        "bucketing, so results compare exactly.",
    oracle=None,  # set below after definition to keep the literal close by
)
def s2_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
    bucketed = emb.withColumn("bucket", _bucket_col())
    q = bucketed.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("qn"),
        F.col("bucket").alias("qb"),
    )
    n = bucketed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nn"),
        F.col("bucket").alias("nb"),
    )
    # norms precomputed per row (s1 discipline): one fold per pair
    scored = (
        q.join(n, (F.col("qb") == F.col("nb")) & (F.col("neighbor_id") != F.col("query_id")))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")))
            .alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("int").alias("rnk"),
            F.round("sim", 6).cast("double").alias("sim"),
        )
    )


# attach the generated oracle (kept out of the decorator for readability)
from real_time_data_warehouse_spark.registry import QUERY_REGISTRY as _QR  # noqa: E402
import dataclasses as _dc  # noqa: E402

_QR["s2_lsh_ann_topk"] = _dc.replace(_QR["s2_lsh_ann_topk"], oracle=_s2_oracle())


def _s2b_oracle() -> str:
    branches = _bands_branches_sql()
    return f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                          list_transform(embedding,
                              x -> floor(CAST(x AS DOUBLE) * {_SIG_QUANT} + 0.5)) AS vq
                   FROM embeddings),
        bands AS (
            SELECT vec_id, v, b.band,
                   CASE b.band {branches} END AS bucket
            FROM e, (SELECT unnest(range({_LSH_BANDS})) AS band) b
        ),
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
            FROM bands q JOIN bands n
              ON q.band = n.band AND q.bucket = n.bucket
             AND q.vec_id <> n.vec_id
            WHERE q.vec_id < {_N_QUERIES}
        ),
        scored AS (
            SELECT c.query_id, c.neighbor_id,
                   list_inner_product(q.v, n.v) /
                       (sqrt(list_inner_product(q.v, q.v)) *
                        sqrt(list_inner_product(n.v, n.v))) AS sim
            FROM cand c
            JOIN e q ON c.query_id = q.vec_id
            JOIN e n ON c.neighbor_id = n.vec_id
        )
        SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk,
               CAST(ROUND(sim, 6) AS DOUBLE) AS sim
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
              FROM scored)
        WHERE rnk <= {_TOP_K}
    """


@register(
    "s2b_lsh_multiband_topk",
    survey="ext-similarity",
    doc=f"ANN top-{_TOP_K} via BANDED hyperplane LSH: {_LSH_BANDS} tables "
        f"× {_LSH_BAND_PLANES} sign bits; a pair is a candidate when it "
        "collides in ANY band (the OR-construction). Per-band buckets stay "
        "small and bounded — the shuffle key is (band, bucket) — while "
        "recall recovers from the single-table cliff (see COVERAGE.md "
        "numbers and SCALE.md sizing math). Same output contract as s1/s2.",
    oracle=None,  # attached below
)
def s2b_lsh_multiband_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    emb = (
        t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
        # parallelize the signature batches past a single-row-group input
        # split (same guard as the dedup shingling)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # all 32 plane dots in one exact-integer matmul per Arrow batch (see
    # _band_buckets_udf); posexplode_outer + isNotNull for the
    # InferFiltersFromGenerate lesson (dedup.py)
    # sig feeds BOTH sides of the band self-join — checkpoint so the
    # pandas-UDF matmul runs once, not twice (the d3 localCheckpoint
    # lesson)
    sig = _banded_sig(emb).localCheckpoint(eager=True)
    q = sig.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "band", "bucket"
    )
    n = sig.select(F.col("vec_id").alias("neighbor_id"), "band", "bucket")
    cand = (
        q.join(n, ["band", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = emb.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("qn"),
    )
    nv = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nn"),
    )
    # norms precomputed per row (s1 discipline): one fold per pair
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            (dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")))
            .alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("int").alias("rnk"),
            F.round("sim", 6).cast("double").alias("sim"),
        )
    )


_QR["s2b_lsh_multiband_topk"] = _dc.replace(
    _QR["s2b_lsh_multiband_topk"], oracle=_s2b_oracle()
)


def _d5_oracle() -> str:
    branches = _bands_branches_sql()
    return f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                          list_transform(embedding,
                              x -> floor(CAST(x AS DOUBLE) * {_SIG_QUANT} + 0.5)) AS vq
                   FROM embeddings),
        bands AS (
            SELECT vec_id, b.band,
                   CASE b.band {branches} END AS bucket
            FROM e, (SELECT unnest(range({_LSH_BANDS})) AS band) b
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, n.vec_id AS vec_b
            FROM bands a JOIN bands n
              ON a.band = n.band AND a.bucket = n.bucket
             AND a.vec_id < n.vec_id
        )
        SELECT c.vec_a, c.vec_b,
               CAST(ROUND(list_inner_product(a.v, b.v) /
                    (sqrt(list_inner_product(a.v, a.v)) *
                     sqrt(list_inner_product(b.v, b.v))), 6) AS DOUBLE) AS cos_sim
        FROM cand c
        JOIN e a ON c.vec_a = a.vec_id
        JOIN e b ON c.vec_b = b.vec_id
        WHERE list_inner_product(a.v, b.v) /
                  (sqrt(list_inner_product(a.v, a.v)) *
                   sqrt(list_inner_product(b.v, b.v))) >= {_NEARDUP_COS}
    """


@register(
    "d5_embedding_neardup",
    survey="ext-dedup,ext-similarity",
    doc="Embedding-cosine near-dup detection (the dedup-ladder rung above "
        f"lexical methods): candidate pairs collide in ANY of the "
        f"{_LSH_BANDS} LSH bands ({_LSH_BAND_PLANES} sign bits each — the "
        "same banded OR-construction as s2b), then the exact cosine keeps "
        f"pairs ≥ {_NEARDUP_COS} (≈99.9th pct of the random-embedding "
        "similarity distribution). The banded key is the 100 TB contract: "
        "per-(band,bucket) work stays bounded as the corpus grows — the "
        "single-table 64-bucket variant this replaced concentrates "
        "quadratic work per bucket (SCALE.md sizing math).",
    oracle=None,  # attached below (generated from the shared hyperplanes)
)
def d5_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        t = Tables(spark, sf_dir)
        emb = (
            t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
            # parallelize signature batches past a single-row-group split
            .repartition(spark.sparkContext.defaultParallelism)
        )
        # both join sides read sig — one matmul, not two (see s2b)
        sig = _banded_sig(emb).localCheckpoint(eager=True)
        a = sig.select(F.col("vec_id").alias("vec_a"), "band", "bucket")
        b = sig.select(F.col("vec_id").alias("vec_b"), "band", "bucket")
        cand = (
            a.join(b, ["band", "bucket"])
            .where(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b")
            .distinct()
        )
        va = emb.select(
            F.col("vec_id").alias("vec_a"),
            F.col("v").alias("va"),
            F.sqrt(dot(F.col("v"), F.col("v"))).alias("na"),
        )
        vb = emb.select(
            F.col("vec_id").alias("vec_b"),
            F.col("v").alias("vb"),
            F.sqrt(dot(F.col("v"), F.col("v"))).alias("nb"),
        )
        # norms precomputed per row (s1 discipline): one fold per pair
        sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        return (
            cand.join(va, "vec_a")
            .join(vb, "vec_b")
            .where(sim >= _NEARDUP_COS)
            .select(
                "vec_a",
                "vec_b",
                F.round(sim, 6).cast("double").alias("cos_sim"),
            )
        )

    # the verified near-dup PAIR TABLE is a deterministic artifact with
    # several consumers (the d5 row itself, d17b's recall audit, d20's
    # decontamination chain) — a session artifact (artifacts.py), so one
    # session runs the LSH band join + cosine verify once; the r9 sf1
    # probe measured d17b paying the full d5 rebuild (~200 s at 10x
    # scale) per call without this.
    return artifact(spark, sf_dir, "d5_pairs", build)


_QR["d5_embedding_neardup"] = _dc.replace(
    _QR["d5_embedding_neardup"], oracle=_d5_oracle()
)


# --- IVF (inverted-file) ANN -----------------------------------------------
# Trained coarse quantizer: seeded Lloyd's k-means, deterministic init from
# vec_id order (first _IVF_CELLS vectors), a FIXED number of iterations,
# unrolled identically in the Spark plan and the oracle SQL. Centroid means
# are computed as exact bigint sums of 2^20-quantized elements divided once
# in double — bit-identical across engines (float avg would diverge by
# reduction order; the decimal-cast trick risks HALF_UP/HALF_EVEN ties).
_IVF_CELLS = 16
_IVF_PROBES = 2
_IVF_ITERS = 5
_IVF_QUANT = 1 << 20  # element quantization for the exact centroid mean


# quantized-cosine of the EXACT integer quantizer: every
# list_inner_product input is integer-valued (products ≤ 2^42, sums ≤
# 2^48 — exactly representable in float64), so the native DuckDB
# reduction matches the Spark-side numpy matmul bit-for-bit whatever
# either one's summation order is
_IVF_CSIM_SQL = (
    "list_inner_product(x.vq, c.cv) / "
    "(sqrt(list_inner_product(x.vq, x.vq)) * "
    "sqrt(list_inner_product(c.cv, c.cv)))"
)


def _ivf_training_ctes() -> tuple[str, str]:
    """Shared WITH-clause prefix for every oracle that replays the IVF
    training loop: quantized embeddings `e` plus the Lloyd's-iteration
    chain; returns (cte_body, trained_table_name)."""
    csim = _IVF_CSIM_SQL
    mean_terms = ", ".join(
        f"floor(SUM(vq[{j + 1}]) / COUNT(*))" for j in range(_EMB_DIM)
    )
    iters = []
    for i in range(_IVF_ITERS):
        iters.append(f"""
        asgn{i} AS (
            SELECT vec_id, vq, cell FROM (
                SELECT x.vec_id, x.vq, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY x.vec_id
                           ORDER BY {csim} DESC, c.cell) AS rn
                FROM e x, cents{i} c)
            WHERE rn = 1
        ),
        cents{i + 1} AS (
            SELECT cell, [{mean_terms}] AS cv
            FROM asgn{i} GROUP BY cell
        )""")
    ctes = f"""e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                          list_transform(embedding,
                              x -> floor(CAST(x AS DOUBLE) * {_IVF_QUANT} + 0.5)) AS vq
                   FROM embeddings),
        cents0 AS (SELECT vec_id AS cell, vq AS cv FROM e WHERE vec_id < {_IVF_CELLS}),
        {",".join(iters)}"""
    return ctes, f"cents{_IVF_ITERS}"


def _ivf_oracle() -> str:
    csim = _IVF_CSIM_SQL
    ctes, trained = _ivf_training_ctes()
    return f"""
        WITH {ctes},
        assign AS (
            SELECT e2.vec_id, e2.v, a.cell
            FROM (SELECT vec_id, cell FROM (
                      SELECT x.vec_id, c.cell,
                             ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                 ORDER BY {csim} DESC, c.cell) AS rn
                      FROM e x, {trained} c)
                  WHERE rn = 1) a
            JOIN e e2 ON e2.vec_id = a.vec_id
        ),
        probes AS (
            SELECT e2.vec_id AS query_id, e2.v AS qv, a.cell
            FROM (SELECT vec_id, cell FROM (
                      SELECT x.vec_id, c.cell,
                             ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                 ORDER BY {csim} DESC, c.cell) AS rn
                      FROM e x, {trained} c
                      WHERE x.vec_id < {_N_QUERIES})
                  WHERE rn <= {_IVF_PROBES}) a
            JOIN e e2 ON e2.vec_id = a.vec_id
        )
        SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk,
               CAST(ROUND(sim, 6) AS DOUBLE) AS sim
        FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   list_inner_product(p.qv, a.v) /
                       (sqrt(list_inner_product(p.qv, p.qv)) *
                        sqrt(list_inner_product(a.v, a.v))) AS sim,
                   ROW_NUMBER() OVER (PARTITION BY p.query_id
                       ORDER BY list_inner_product(p.qv, a.v) /
                                (sqrt(list_inner_product(p.qv, p.qv)) *
                                 sqrt(list_inner_product(a.v, a.v))) DESC,
                                a.vec_id) AS rnk
            FROM probes p JOIN assign a
              ON p.cell = a.cell AND a.vec_id <> p.query_id)
        WHERE rnk <= {_TOP_K}
    """


# The IVF quantizer runs in EXACT integer arithmetic: vectors are
# quantized to integer-valued doubles (floor(x·2^20 + 0.5)) and centroid
# components are integers (floored means of quantized elements). Every dot
# product then involves only integers whose products (≤2^42) and partial
# sums (≤2^48) are exactly representable in float64 — the result is
# identical under ANY summation order. That frees each side to use its
# fastest implementation: numpy matmul in an Arrow-batched pandas UDF on
# Spark, native list_inner_product in DuckDB — with zero cross-engine
# drift (the usual reduction-order hazard vanishes; sqrt and the final
# division are single deterministic IEEE ops on identical inputs). The
# SEARCH-phase cosine keeps the sequential zip_with fold ↔
# list_inner_product pairing used by s1/s2/d5.


def _topcells_udf(cents: list[tuple[int, list[float]]], k: int):
    """Vectorized pandas UDF: v (array<double>) → the k nearest centroid
    cells by quantized cosine, ties broken by ascending cell id (matching
    the oracle's ORDER BY csim DESC, cell — exact csims make tie behavior
    identical)."""
    from pyspark.sql.functions import pandas_udf

    cells = np.array([c for c, _ in cents], dtype=np.int64)  # ascending
    C = np.array([cv for _, cv in cents], dtype=np.float64)  # integer-valued
    nc = np.sqrt((C * C).sum(axis=1))

    @pandas_udf("array<long>")
    def top(vs: pd.Series) -> pd.Series:
        V = np.stack(vs.to_numpy())
        VQ = np.floor(V * _IVF_QUANT + 0.5)
        D = VQ @ C.T  # exact: integer-valued doubles, |sums| < 2^53
        nv = np.sqrt((VQ * VQ).sum(axis=1))
        csim = D / (nv[:, None] * nc[None, :])
        idx = np.argsort(-csim, axis=1, kind="stable")[:, :k]
        return pd.Series(list(cells[idx]))

    return top


def _train_ivf_centroids(emb: DataFrame) -> list[tuple[int, list[float]]]:
    """Seeded Lloyd's k-means → [(cell, centroid)]: deterministic init
    (vec_id < _IVF_CELLS), _IVF_ITERS fixed rounds of assign → exact
    quantized mean. Assignment is a literal-coefficient projection (pure
    codegen arithmetic, no join/window); per-round state returning to the
    driver is 16×(1+_EMB_DIM) numbers — the offline-quantizer pattern. At
    100 TB the identical loop runs on a deterministic sample; the
    quantizer needs representative centroids, not a full pass.

    Cross-engine exactness: element sums are bigint (associative, any
    partitioning), the mean's single double division and the driver-side
    norms replay the oracle's IEEE op sequence exactly."""
    import math

    init = (
        emb.where(F.col("vec_id") < _IVF_CELLS)
        .select(F.col("vec_id").alias("cell"), "v")
        .collect()
    )
    cents = sorted(
        (
            int(r["cell"]),
            [float(math.floor(x * _IVF_QUANT + 0.5)) for x in r["v"]],
        )
        for r in init
    )
    qcol = F.transform("v", lambda x: F.floor(x * _IVF_QUANT + F.lit(0.5)))
    for _ in range(_IVF_ITERS):
        best = _topcells_udf(cents, 1)
        asgn = emb.select(
            best(F.col("v"))[0].alias("cell"),
            F.posexplode(qcol).alias("pos", "q"),
        )
        # exact bigint-valued sums: associative, so Spark may combine in
        # any partition order; the floored mean is the new integer centroid
        rows = (
            asgn.groupBy("cell", "pos")
            .agg(F.sum("q").alias("s"), F.count("*").alias("cnt"))
            .collect()
        )
        by_cell: dict[int, dict[int, tuple[float, int]]] = {}
        for r in rows:
            by_cell.setdefault(int(r["cell"]), {})[int(r["pos"])] = (
                float(r["s"]),
                int(r["cnt"]),
            )
        cents = sorted(
            (
                cell,
                [
                    float(math.floor(d[j][0] / d[j][1]))
                    for j in range(_EMB_DIM)
                ],
            )
            for cell, d in by_cell.items()
        )
    return cents


# Trained centroids are a pure function of the embeddings table, and the
# training loop is driver-coordinated (5 rounds x 2 jobs) — a session
# artifact, so the queries that share the quantizer (s3 search, s4
# cluster stats) train once, exactly as a deployment would reuse one
# trained quantizer artifact. Determinism makes the store semantics-free.
def _trained_centroids(
    sf_dir: str, emb: DataFrame
) -> list[tuple[int, list[float]]]:
    return artifact(
        emb.sparkSession, sf_dir, "ivf_centroids",
        lambda: _train_ivf_centroids(emb),
    )


@register(
    "s3_ivf_ann_topk",
    survey="ext-similarity",
    doc=f"IVF ANN top-{_TOP_K}: {_IVF_CELLS}-cell inverted file with a "
        f"TRAINED coarse quantizer (seeded Lloyd's k-means, {_IVF_ITERS} "
        f"fixed rounds, deterministic init from vec_id order), queries "
        f"probe the {_IVF_PROBES} nearest cells. Training and assignment "
        "are broadcast nested loops over 16 rows (map-side); search "
        "shuffles only on the cell key — the IVF counterpart of the s2 "
        "hyperplane path.",
    oracle=None,  # attached below
)
def s3_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
    cents = _trained_centroids(sf_dir, emb)
    top2 = _topcells_udf(cents, _IVF_PROBES)
    cellcol = emb.withColumn("cells", top2(F.col("v")))
    assign = cellcol.select("vec_id", "v", F.col("cells")[0].alias("cell"))
    # norms precomputed per row on each side (s1 discipline): one fold
    # per candidate pair instead of three
    probes = cellcol.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("qn"),
        F.explode("cells").alias("cell"),
    )
    cand = probes.join(
        assign.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("nv"),
            F.sqrt(dot(F.col("v"), F.col("v"))).alias("nn"),
            "cell",
        ),
        "cell",
    ).where(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")))
        .alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("int").alias("rnk"),
            F.round("sim", 6).cast("double").alias("sim"),
        )
    )


_QR["s3_ivf_ann_topk"] = _dc.replace(_QR["s3_ivf_ann_topk"], oracle=_ivf_oracle())


def _s4_oracle() -> str:
    csim = _IVF_CSIM_SQL
    ctes, trained = _ivf_training_ctes()
    return f"""
        WITH {ctes},
        asgn AS (
            SELECT vec_id, vq, cell, csim FROM (
                SELECT x.vec_id, x.vq, c.cell, {csim} AS csim,
                       ROW_NUMBER() OVER (PARTITION BY x.vec_id
                           ORDER BY {csim} DESC, c.cell) AS rn
                FROM e x, {trained} c)
            WHERE rn = 1
        ),
        lab AS (
            SELECT a.cell, a.csim, emb.label
            FROM asgn a JOIN embeddings emb ON a.vec_id = emb.vec_id
        ),
        cellagg AS (
            SELECT cell, COUNT(*) AS n_vecs,
                   CAST(SUM(CAST(ROUND(csim, 6) AS DECIMAL(18,6)))
                        AS DOUBLE) AS sum_sim
            FROM lab GROUP BY cell
        ),
        modes AS (
            SELECT cell, label, cnt FROM (
                SELECT cell, label, COUNT(*) AS cnt,
                       ROW_NUMBER() OVER (PARTITION BY cell
                           ORDER BY COUNT(*) DESC, label) AS rn
                FROM lab GROUP BY cell, label)
            WHERE rn = 1
        )
        SELECT CAST(c.cell AS INT) AS cell,
               CAST(c.n_vecs AS BIGINT) AS n_vecs,
               CAST(m.label AS INT) AS top_label,
               CAST(ROUND(CAST(m.cnt AS DOUBLE) / c.n_vecs, 4) AS DOUBLE)
                   AS purity,
               CAST(ROUND(c.sum_sim / c.n_vecs, 6) AS DOUBLE) AS mean_sim
        FROM cellagg c JOIN modes m ON c.cell = m.cell
    """


@register(
    "s4_cluster_stats",
    survey="ext-similarity,ext-curation",
    doc=f"Semantic-cluster profile of the embedding corpus: every vector "
        f"is assigned to its nearest trained IVF centroid (same seeded "
        f"Lloyd's quantizer as s3), then per cluster: size, majority "
        "label, label purity, and mean quantized-cosine to the centroid "
        "(cohesion). The per-cluster mix is what a data-mixing/pruning "
        "pass consumes (e.g. SemDeDup-style cluster-then-prune). "
        "Assignment is map-side against broadcast centroids; the only "
        "shuffles are the two per-cell aggregations. Cosines are exact "
        "integer-quantized values summed through DECIMAL(18,6), so the "
        "mean is partition-order-independent cross-engine.",
    oracle=None,  # attached below (replays the training chain)
)
def s4_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", _as_double("embedding").alias("v"), "label"
    )
    cents = _trained_centroids(sf_dir, emb.select("vec_id", "v"))
    best = _topcells_udf(cents, 1)
    vq = F.transform("v", lambda x: F.floor(x * _IVF_QUANT + F.lit(0.5)))
    asgn = emb.select(
        "label", best(F.col("v"))[0].alias("cell"), vq.alias("vq")
    )
    cent_df = spark.createDataFrame(
        [(c, v) for c, v in cents], "cell long, cv array<double>"
    )
    csim = dot(F.col("vq"), F.col("cv")) / (
        F.sqrt(dot(F.col("vq"), F.col("vq")))
        * F.sqrt(dot(F.col("cv"), F.col("cv")))
    )
    lab = asgn.join(F.broadcast(cent_df), "cell").select(
        "cell", "label", csim.alias("csim")
    )
    cellagg = lab.groupBy("cell").agg(
        F.count("*").alias("n_vecs"),
        F.sum(F.round("csim", 6).cast("decimal(18,6)")).alias("sum_dec"),
    )
    w = Window.partitionBy("cell").orderBy(F.col("cnt").desc(), "label")
    modes = (
        lab.groupBy("cell", "label")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return cellagg.join(modes, "cell").select(
        F.col("cell").cast("int").alias("cell"),
        F.col("n_vecs").cast("bigint").alias("n_vecs"),
        F.col("label").cast("int").alias("top_label"),
        F.round(F.col("cnt").cast("double") / F.col("n_vecs"), 4)
        .cast("double")
        .alias("purity"),
        F.round(F.col("sum_dec").cast("double") / F.col("n_vecs"), 6)
        .cast("double")
        .alias("mean_sim"),
    )


_QR["s4_cluster_stats"] = _dc.replace(_QR["s4_cluster_stats"], oracle=_s4_oracle())


def _d9_oracle() -> str:
    d5 = _QR["d5_embedding_neardup"].oracle
    return f"""
        WITH p AS ({d5}),
        near_first AS (
            SELECT vec_b AS vec_id, MIN(vec_a) AS dup_of
            FROM p GROUP BY vec_b
        )
        SELECT e.vec_id,
               CASE WHEN nf.dup_of IS NOT NULL THEN 'near_dup'
                    ELSE 'unique' END AS status,
               CAST(nf.dup_of AS BIGINT) AS dup_of
        FROM embeddings e LEFT JOIN near_first nf ON e.vec_id = nf.vec_id
    """


@register(
    "d9_semantic_gate",
    survey="ext-dedup,ext-similarity",
    doc="Semantic admission gate (batch form of "
        "streaming/embedding_gate.py): every vector is classified against "
        "all EARLIER vectors (vec_id order = arrival order) — near_dup "
        f"when an earlier vector colliding in ANY LSH band has cosine ≥ "
        f"{_NEARDUP_COS}, else unique; dup_of = the earliest such match. "
        "The SemDeDup-style gate: lexically novel but semantically "
        "redundant data is refused admission. Same sequential≡one-pass "
        "equivalence as the d7 text gate, pinned by "
        "tests/test_embedding_gate.py.",
    oracle=None,  # attached below from the d5 oracle
)
def d9_semantic_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id")
    pairs = d5_embedding_neardup(spark, sf_dir).select("vec_a", "vec_b")
    near = pairs.groupBy(F.col("vec_b").alias("vec_id")).agg(
        F.min("vec_a").alias("dup_of")
    )
    return emb.join(near, "vec_id", "left").select(
        "vec_id",
        F.when(F.col("dup_of").isNotNull(), "near_dup")
        .otherwise("unique")
        .alias("status"),
        F.col("dup_of").cast("bigint").alias("dup_of"),
    )


_QR["d9_semantic_gate"] = _dc.replace(
    _QR["d9_semantic_gate"], oracle=_d9_oracle()
)


# --- PQ (product quantization) ANN ------------------------------------------
# The memory-side scale complement of IVF's cell pruning: vectors compress
# to _PQ_M one-byte codes (64 dims -> 8 bytes, a 32x reduction), and query
# scoring never touches the original vectors — an asymmetric-distance
# (ADC) lookup against per-query tables of subspace dot products. At
# 100 TB the encoded corpus is small enough to keep hot while the float
# vectors stay cold; re-ranking survivors against the exact tier is the
# standard two-stage recipe (used below only for the reported cosine).
# Training follows the IVF discipline exactly: per-subspace seeded
# Lloyd's in integer-exact arithmetic (quantized elements, bigint sums,
# floored means), L2 assignment with ascending-code tie-break, unrolled
# identically in the Spark loop and the oracle SQL.
_PQ_M = 8          # subspaces (64 dims / 8 per subspace)
_PQ_SUBDIM = _EMB_DIM // _PQ_M
_PQ_K = 16         # codes per subspace codebook
_PQ_ITERS = 5
_PQ_SHORTLIST = 50  # ADC candidates per query fed to the exact re-rank


def _pq_sub_sql(col: str, m: int) -> str:
    """DuckDB 1-based inclusive slice of subspace m from list column."""
    return f"{col}[{m * _PQ_SUBDIM + 1}:{(m + 1) * _PQ_SUBDIM}]"


def _train_pq_codebooks(
    emb: DataFrame,
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace seeded Lloyd's → codebooks[m] = [(code, centroid)].
    Init: subvectors of the first _PQ_K vectors (vec_id order). Each round
    assigns by minimal exact L2 (quantized ints; ties to the lower code)
    and recomputes centroids as floored means of bigint element sums —
    the same cross-engine-exact recipe as the IVF quantizer, with all
    _PQ_M subspaces trained in the same two Spark jobs per round."""
    import math

    init = (
        emb.where(F.col("vec_id") < _PQ_K)
        .select(F.col("vec_id").alias("code"), "v")
        .collect()
    )
    books: list[list[tuple[int, list[float]]]] = []
    for m in range(_PQ_M):
        lo = m * _PQ_SUBDIM
        books.append(
            sorted(
                (
                    int(r["code"]),
                    [
                        float(math.floor(x * _IVF_QUANT + 0.5))
                        for x in r["v"][lo : lo + _PQ_SUBDIM]
                    ],
                )
                for r in init
            )
        )
    qcol = F.transform("v", lambda x: F.floor(x * _IVF_QUANT + F.lit(0.5)))
    for _ in range(_PQ_ITERS):
        codes = _pq_encode_udf(books)
        asgn = emb.select(
            F.posexplode(codes(F.col("v"))).alias("m", "code"),
            qcol.alias("vq"),
        ).select(
            "m",
            "code",
            F.posexplode(
                F.slice(
                    "vq",
                    F.col("m") * _PQ_SUBDIM + 1,
                    _PQ_SUBDIM,
                )
            ).alias("pos", "q"),
        )
        rows = (
            asgn.groupBy("m", "code", "pos")
            .agg(F.sum("q").alias("s"), F.count("*").alias("cnt"))
            .collect()
        )
        acc: dict[tuple[int, int], dict[int, tuple[float, int]]] = {}
        for r in rows:
            acc.setdefault((int(r["m"]), int(r["code"])), {})[int(r["pos"])] = (
                float(r["s"]),
                int(r["cnt"]),
            )
        books = [
            sorted(
                (
                    code,
                    [
                        float(math.floor(d[j][0] / d[j][1]))
                        for j in range(_PQ_SUBDIM)
                    ],
                )
                for (mm, code), d in acc.items()
                if mm == m
            )
            for m in range(_PQ_M)
        ]
    return books


def _pq_encode_udf(books: list[list[tuple[int, list[float]]]]):
    """Vectorized pandas UDF: v → the _PQ_M nearest-code ids, one exact
    L2 argmin per subspace (ties to the LOWER code id — matching the
    oracle's ORDER BY l2, code). All subspaces in one pass per Arrow
    batch; distances are integer-valued doubles < 2^53, so argmin order
    is identical to DuckDB's."""
    from pyspark.sql.functions import pandas_udf

    mats = [
        np.array([cv for _, cv in book], dtype=np.float64) for book in books
    ]
    ids = [np.array([c for c, _ in book], dtype=np.int64) for book in books]

    @pandas_udf("array<int>")
    def encode(vs: pd.Series) -> pd.Series:
        V = np.stack(vs.to_numpy())
        VQ = np.floor(V * _IVF_QUANT + 0.5)
        out = np.empty((len(V), _PQ_M), dtype=np.int32)
        for m in range(_PQ_M):
            S = VQ[:, m * _PQ_SUBDIM : (m + 1) * _PQ_SUBDIM]
            C = mats[m]
            # exact: ||s||² - 2 s·c + ||c||², every term integer-valued
            d2 = (
                (S * S).sum(axis=1)[:, None]
                - 2.0 * (S @ C.T)
                + (C * C).sum(axis=1)[None, :]
            )
            # stable argmin == lowest code on ties (ids[m] is ascending)
            out[:, m] = ids[m][np.argmin(d2, axis=1)]
        return pd.Series(list(out))

    return encode


def _trained_codebooks(
    sf_dir: str, emb: DataFrame
) -> list[list[tuple[int, list[float]]]]:
    return artifact(
        emb.sparkSession, sf_dir, "pq_books",
        lambda: _train_pq_codebooks(emb),
    )


def _pq_oracle() -> str:
    """Replays per-subspace training, encoding, and ADC ranking in SQL.
    L2 assignment: ip(s,s) - 2·ip(s,c) + ip(c,c) over quantized ints —
    exact, so ROW_NUMBER ties (ORDER BY l2, code) match numpy argmin."""
    subq = ", ".join(
        f"{_pq_sub_sql('vq', m)} AS s{m}" for m in range(_PQ_M)
    )
    iters = []
    for i in range(_PQ_ITERS):
        asgn_unions = " UNION ALL ".join(
            f"""SELECT vec_id, {m} AS m, code, s{m} AS s FROM (
                SELECT x.vec_id, c.code, x.s{m},
                       ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
                           list_inner_product(x.s{m}, x.s{m})
                           - 2 * list_inner_product(x.s{m}, c.cv)
                           + list_inner_product(c.cv, c.cv), c.code) AS rn
                FROM e x, book{i} c WHERE c.m = {m}) WHERE rn = 1"""
            for m in range(_PQ_M)
        )
        mean_terms = ", ".join(
            f"floor(SUM(s[{j + 1}]) / COUNT(*))" for j in range(_PQ_SUBDIM)
        )
        iters.append(f"""
        asgn{i} AS MATERIALIZED ({asgn_unions}),
        book{i + 1} AS MATERIALIZED (
            SELECT m, code, [{mean_terms}] AS cv
            FROM asgn{i} GROUP BY m, code
        )""")
    book0_unions = " UNION ALL ".join(
        f"SELECT {m} AS m, vec_id AS code, s{m} AS cv FROM e WHERE vec_id < {_PQ_K}"
        for m in range(_PQ_M)
    )
    final_unions = " UNION ALL ".join(
        f"""SELECT vec_id, {m} AS m, code FROM (
            SELECT x.vec_id, c.code,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
                       list_inner_product(x.s{m}, x.s{m})
                       - 2 * list_inner_product(x.s{m}, c.cv)
                       + list_inner_product(c.cv, c.cv), c.code) AS rn
            FROM e x, book{_PQ_ITERS} c WHERE c.m = {m}) WHERE rn = 1"""
        for m in range(_PQ_M)
    )
    return f"""
        WITH e AS MATERIALIZED (
                   SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                          {subq}
                   FROM (SELECT vec_id, embedding,
                                list_transform(embedding,
                                    x -> floor(CAST(x AS DOUBLE) * {_IVF_QUANT} + 0.5)) AS vq
                         FROM embeddings)),
        book0 AS MATERIALIZED ({book0_unions}),
        {",".join(iters)},
        codes AS MATERIALIZED ({final_unions}),
        -- ADC: approximate IP = sum over subspaces of ip(query sub, code
        -- centroid); queries use their own EXACT quantized subvectors
        adc AS (
            SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                   SUM(CASE cd.m {" ".join(
                       f"WHEN {m} THEN list_inner_product(q.s{m}, b.cv)"
                       for m in range(_PQ_M))} END) AS score
            FROM e q, codes cd
            JOIN e x ON cd.vec_id = x.vec_id
            JOIN book{_PQ_ITERS} b ON b.m = cd.m AND b.code = cd.code
            WHERE q.vec_id < {_N_QUERIES} AND x.vec_id <> q.vec_id
            GROUP BY q.vec_id, x.vec_id
        ),
        shortlist AS (
            SELECT query_id, neighbor_id
            FROM (SELECT query_id, neighbor_id,
                         ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY score DESC, neighbor_id) AS rn
                  FROM adc)
            WHERE rn <= {_PQ_SHORTLIST}
        ),
        exact AS (
            SELECT s.query_id, s.neighbor_id,
                   list_inner_product(q.v, n.v) /
                       (sqrt(list_inner_product(q.v, q.v)) *
                        sqrt(list_inner_product(n.v, n.v))) AS sim
            FROM shortlist s
            JOIN e q ON s.query_id = q.vec_id
            JOIN e n ON s.neighbor_id = n.vec_id
        )
        SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk,
               CAST(ROUND(sim, 6) AS DOUBLE) AS sim
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY sim DESC, neighbor_id) AS rnk
              FROM exact)
        WHERE rnk <= {_TOP_K}
    """


@register(
    "s5_pq_adc_topk",
    survey="ext-similarity",
    doc=f"PQ ANN top-{_TOP_K}: vectors compress to {_PQ_M} codes "
        f"({_PQ_K}-entry codebook per {_PQ_SUBDIM}-dim subspace, trained "
        f"by seeded per-subspace Lloyd's, {_PQ_ITERS} rounds, exact "
        "integer arithmetic) and queries rank neighbors by ASYMMETRIC "
        "distance — a per-query lookup table of subspace dot products, "
        "never touching stored vectors — then the top "
        f"{_PQ_SHORTLIST} ADC candidates re-rank by exact cosine (the "
        "two-stage retrieve-then-rerank pattern). The memory-side scale "
        "complement of s3's IVF cell pruning: the encoded corpus is "
        f"{_EMB_DIM * 4 // (_PQ_M)}x smaller than float32 vectors, so "
        "stage 1 runs entirely against codes; only |Q| x "
        f"{_PQ_SHORTLIST} rows ever read the float tier.",
    oracle=None,  # attached below
)
def s5_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    emb = (
        t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    books = _trained_codebooks(sf_dir, emb)
    encode = _pq_encode_udf(books)
    encoded = emb.select("vec_id", encode(F.col("v")).alias("codes"))
    # per-query ADC lookup tables, computed driver-side from the trained
    # codebooks and the query vectors: _N_QUERIES x _PQ_M x _PQ_K integer-
    # valued doubles (~1.3k numbers), shipped as literals — the "table
    # scan never touches vectors" property that makes ADC the hot path
    qrows = (
        emb.where(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "v")
        .collect()
    )
    luts = []
    for r in sorted(qrows, key=lambda r: r["vec_id"]):
        vq = np.floor(np.array(r["v"]) * _IVF_QUANT + 0.5)
        lut = []
        for m in range(_PQ_M):
            s = vq[m * _PQ_SUBDIM : (m + 1) * _PQ_SUBDIM]
            C = np.array([cv for _, cv in books[m]], dtype=np.float64)
            row = [0.0] * _PQ_K
            for (code, _), val in zip(books[m], s @ C.T):
                row[code] = float(val)
            lut.append(row)
        luts.append((int(r["vec_id"]), lut))
    qlut = spark.createDataFrame(
        luts, "query_id long, lut array<array<double>>"
    )
    scored = (
        F.broadcast(qlut)
        .crossJoin(encoded)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.aggregate(
                F.zip_with(
                    "lut", "codes", lambda l, c: F.element_at(l, c + 1)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("score"),
        )
    )
    # stage 1: ADC shortlist — cheap lookup-table scores over the encoded
    # corpus pick _PQ_SHORTLIST candidates per query
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    shortlist = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    # stage 2: exact re-rank — only the shortlist (|Q| x _PQ_SHORTLIST
    # rows) ever touches the float vectors
    qv = emb.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    nv = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"))
    exact = (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("nv")).alias("sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rnk", F.row_number().over(w2))
        .where(F.col("rnk") <= _TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("int").alias("rnk"),
            F.round("sim", 6).cast("double").alias("sim"),
        )
    )


_QR["s5_pq_adc_topk"] = _dc.replace(_QR["s5_pq_adc_topk"], oracle=_pq_oracle())


# --- d17: SemDeDup — cluster-scoped semantic keep/drop ----------------------


def _d17_oracle() -> str:
    csim = _IVF_CSIM_SQL
    ctes, trained = _ivf_training_ctes()
    pair = (
        "list_inner_product(a.vq, b.vq) / "
        "(sqrt(list_inner_product(a.vq, a.vq)) * "
        "sqrt(list_inner_product(b.vq, b.vq)))"
    )
    return f"""
        WITH {ctes},
        asgn AS (
            SELECT vec_id, vq, cell FROM (
                SELECT x.vec_id, x.vq, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY x.vec_id
                           ORDER BY {csim} DESC, c.cell) AS rn
                FROM e x, {trained} c)
            WHERE rn = 1
        ),
        dups AS (
            SELECT a.vec_id, CAST(COUNT(*) AS BIGINT) AS n_dups
            FROM asgn a JOIN asgn b
              ON a.cell = b.cell AND b.vec_id < a.vec_id
            WHERE {pair} >= {_NEARDUP_COS}
            GROUP BY a.vec_id
        )
        SELECT a.vec_id,
               CAST(a.cell AS INT) AS cell,
               CAST(COALESCE(d.n_dups, 0) AS BIGINT) AS n_dups,
               CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT)
                   AS kept
        FROM asgn a LEFT JOIN dups d ON a.vec_id = d.vec_id
    """


def _assigned_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell, vq) — every vector labeled with its nearest trained
    IVF cell, localCheckpointed because consumers (d17 self-join, d17b
    double-join) read it from multiple plan branches and the pandas-UDF
    assignment must run once (the d2c recompute lesson)."""
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
    cents = _trained_centroids(sf_dir, emb)
    best = _topcells_udf(cents, 1)
    vq = F.transform("v", lambda x: F.floor(x * _IVF_QUANT + F.lit(0.5)))
    return emb.select(
        "vec_id", best(F.col("v"))[0].alias("cell"), vq.alias("vq")
    ).localCheckpoint(eager=True)


@register(
    "d17_semantic_dedup",
    survey="ext-dedup,ext-similarity",
    doc=f"SemDeDup-style cluster-scoped semantic dedup (Abbas et al. "
        f"2023): every vector is assigned to its nearest trained IVF "
        f"centroid (the same seeded {_IVF_CELLS}-cell Lloyd's quantizer "
        "as s3/s4), then pairwise cosine runs ONLY within each cluster "
        f"and a vector is dropped when a LOWER-id cluster-mate sits at "
        f"cosine >= {_NEARDUP_COS} (keep-first, deterministic). Differs "
        "from d5 (LSH-banded near-dup PAIR list): this is the "
        "keep/drop DECISION per vector with the cluster as the "
        "candidate bound — the pair space is sum(|cell|^2), never "
        "corpus^2, which is the whole SemDeDup scaling argument; at "
        "100 TB cells shard the corpus so each self-join partition is "
        "one cell's vectors. Cosines are the exact integer-quantized "
        "values (s3's discipline) so the threshold comparison is "
        "bit-identical cross-engine.",
    oracle=None,  # attached below (replays the training chain)
)
def d17_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    asgn = _assigned_cells(spark, sf_dir)
    # norms precomputed ONCE per row on each side (the s1 discipline):
    # the pair filter then evaluates a single array fold instead of
    # three — sqrt(dot(x,x)) just moves above the join, same doubles
    a = asgn.select(
        "vec_id",
        "cell",
        F.col("vq").alias("va"),
        F.sqrt(dot(F.col("vq"), F.col("vq"))).alias("na"),
    )
    b = asgn.select(
        F.col("vec_id").alias("vec_b"),
        "cell",
        F.col("vq").alias("vb"),
        F.sqrt(dot(F.col("vq"), F.col("vq"))).alias("nb"),
    )
    pair_sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    dups = (
        a.join(b, "cell")
        .where(F.col("vec_b") < F.col("vec_id"))
        .where(pair_sim >= _NEARDUP_COS)
        .groupBy("vec_id")
        .agg(F.count("*").cast("bigint").alias("n_dups"))
    )
    return asgn.join(dups, "vec_id", "left").select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.coalesce("n_dups", F.lit(0)).cast("bigint").alias("n_dups"),
        F.col("n_dups").isNull().cast("int").alias("kept"),
    )


_QR["d17_semantic_dedup"] = _dc.replace(
    _QR["d17_semantic_dedup"], oracle=_d17_oracle()
)


# --- d17b: SemDeDup cell-recall audit --------------------------------------


_AUDIT_PROBES = 2  # probe tier measured alongside top-1 (d17c's k)


def _d17b_oracle() -> str:
    csim = _IVF_CSIM_SQL
    ctes, trained = _ivf_training_ctes()
    d5 = _QR["d5_embedding_neardup"].oracle
    k = _AUDIT_PROBES
    return f"""
        WITH {ctes},
        ranked AS (
            SELECT x.vec_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                       ORDER BY {csim} DESC, c.cell) AS rn
            FROM e x, {trained} c
        ),
        asgn AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
        probes AS (
            SELECT vec_id, cell FROM ranked WHERE rn <= {k}
        ),
        ov AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM probes a JOIN probes b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
        ),
        p AS ({d5}),
        j AS (
            SELECT p.vec_a, p.vec_b,
                   CASE WHEN a.cell = b.cell THEN 1 ELSE 0 END AS same,
                   CASE WHEN ov.vec_a IS NOT NULL THEN 1 ELSE 0 END
                       AS probed
            FROM p
            JOIN asgn a ON p.vec_a = a.vec_id
            JOIN asgn b ON p.vec_b = b.vec_id
            LEFT JOIN ov ON p.vec_a = ov.vec_a AND p.vec_b = ov.vec_b
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COALESCE(SUM(same), 0) AS BIGINT) AS n_same_cell,
               CAST(CASE WHEN COUNT(*) = 0 THEN 1.0 ELSE
                   floor(CAST(COALESCE(SUM(same), 0) AS DOUBLE)
                         / COUNT(*) * 10000 + 0.5) / 10000
               END AS DOUBLE) AS cell_recall,
               CAST(COALESCE(SUM(probed), 0) AS BIGINT) AS n_probe_pairs,
               CAST(CASE WHEN COUNT(*) = 0 THEN 1.0 ELSE
                   floor(CAST(COALESCE(SUM(probed), 0) AS DOUBLE)
                         / COUNT(*) * 10000 + 0.5) / 10000
               END AS DOUBLE) AS probe_recall
        FROM j
    """


@register(
    "d17b_semdedup_recall_audit",
    survey="ext-dedup,ext-similarity",
    doc="Honest-methods audit for d17 (the d14/s9 pattern): SemDeDup "
        "can only drop a duplicate whose partner lands in the SAME "
        "cluster, so this measures — as a driver-checked row — the "
        "fraction of d5's exact near-dup pairs (banded-LSH candidates, "
        "same cosine threshold) that are same-cell under the trained "
        "quantizer. The number IS the method's recall ceiling; shipping "
        "it as a query keeps the limitation measured instead of "
        "footnoted (SemDeDup raises it by raising k and/or multi-probe "
        "assignment — both knobs exist in s3). Cost: d5's candidate "
        "pairs joined against the |emb|-bounded assignment table and "
        "each side's ≤k-cell probe ARRAY; the probed flag is an "
        "arrays_overlap per pair — the probe-pair set (Σ squared "
        "probe-cell sizes, measured 53x on 10x data by the r9 sf1 "
        "probe) is never materialized.",
    oracle=None,  # attached below (training chain + d5 oracle)
)
def d17b_semdedup_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pairs = _QR["d5_embedding_neardup"].fn(spark, sf_dir).select(
        "vec_a", "vec_b"
    )
    asgn = _assigned_cells(spark, sf_dir).select("vec_id", "cell")
    a = asgn.select(F.col("vec_id").alias("vec_a"), F.col("cell").alias("ca"))
    b = asgn.select(F.col("vec_id").alias("vec_b"), F.col("cell").alias("cb"))
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
    cents = _trained_centroids(sf_dir, emb)
    topk = _topcells_udf(cents, _AUDIT_PROBES)
    # per-vec probe-cell ARRAY (≤ _AUDIT_PROBES cells), never the probe
    # candidate-pair set: materializing same-probe-cell pairs costs the
    # sum of squared probe-cell sizes — quadratic in corpus size (the
    # r9 sf1 probe measured 53x time on 10x data for exactly that
    # shape). The audit only needs "do a and b share ANY probe cell?",
    # which is an arrays_overlap over two ≤k-element arrays joined onto
    # the (small) d5 candidate-pair set — O(|pairs| · k²), linear.
    probe_sets = (
        emb.select("vec_id", topk(F.col("v")).alias("cells"))
        .localCheckpoint(eager=True)
    )
    pa = probe_sets.select(
        F.col("vec_id").alias("vec_a"), F.col("cells").alias("cells_a")
    )
    pb = probe_sets.select(
        F.col("vec_id").alias("vec_b"), F.col("cells").alias("cells_b")
    )
    # a/b/pa/pb are |embeddings|-bounded per-vec tables: key-partitioned
    # joins against the pair set, broadcast here at audit scale
    j = (
        pairs.join(F.broadcast(a), "vec_a")
        .join(F.broadcast(b), "vec_b")
        .join(F.broadcast(pa), "vec_a")
        .join(F.broadcast(pb), "vec_b")
        .select(
            (F.col("ca") == F.col("cb")).cast("int").alias("same"),
            F.arrays_overlap("cells_a", "cells_b")
            .cast("int")
            .alias("probed"),
        )
    )
    agg = j.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.coalesce(F.sum("same"), F.lit(0)).cast("bigint").alias("n_same_cell"),
        F.coalesce(F.sum("probed"), F.lit(0))
        .cast("bigint")
        .alias("n_probe_pairs"),
    )

    def _ratio(num: str) -> F.Column:
        return F.when(F.col("n_pairs") == 0, F.lit(1.0)).otherwise(
            F.floor(
                F.col(num).cast("double") / F.col("n_pairs") * 10000
                + F.lit(0.5)
            )
            / 10000
        )

    return agg.select(
        "n_pairs",
        "n_same_cell",
        _ratio("n_same_cell").cast("double").alias("cell_recall"),
        "n_probe_pairs",
        _ratio("n_probe_pairs").cast("double").alias("probe_recall"),
    )


_QR["d17b_semdedup_recall_audit"] = _dc.replace(
    _QR["d17b_semdedup_recall_audit"], oracle=_d17b_oracle()
)


# --- d17c: multi-probe SemDeDup --------------------------------------------

_SEMDEDUP_PROBES = 2  # candidate tier: pairs sharing ANY of the top-k cells


def _d17c_oracle() -> str:
    csim = _IVF_CSIM_SQL
    ctes, trained = _ivf_training_ctes()
    pair = (
        "list_inner_product(x.vq, y.vq) / "
        "(sqrt(list_inner_product(x.vq, x.vq)) * "
        "sqrt(list_inner_product(y.vq, y.vq)))"
    )
    return f"""
        WITH {ctes},
        ranked AS (
            SELECT x.vec_id, x.vq, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                       ORDER BY {csim} DESC, c.cell) AS rn
            FROM e x, {trained} c
        ),
        asgn AS (SELECT vec_id, vq, cell FROM ranked WHERE rn = 1),
        probes AS (
            SELECT vec_id, cell FROM ranked WHERE rn <= {_SEMDEDUP_PROBES}
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
            FROM probes a JOIN probes b
              ON a.cell = b.cell AND b.vec_id < a.vec_id
        ),
        dups AS (
            SELECT c.va AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_dups
            FROM cand c
            JOIN asgn x ON c.va = x.vec_id
            JOIN asgn y ON c.vb = y.vec_id
            WHERE {pair} >= {_NEARDUP_COS}
            GROUP BY c.va
        )
        SELECT a.vec_id,
               CAST(a.cell AS INT) AS cell,
               CAST(COALESCE(d.n_dups, 0) AS BIGINT) AS n_dups,
               CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT)
                   AS kept
        FROM asgn a LEFT JOIN dups d ON a.vec_id = d.vec_id
    """


@register(
    "d17c_semantic_dedup_multiprobe",
    survey="ext-dedup,ext-similarity",
    doc=f"Multi-probe SemDeDup — the recall knob the d17b audit exists "
        f"to justify: candidate pairs share ANY of each vector's top-"
        f"{_SEMDEDUP_PROBES} cells (s3's probe idiom applied to dedup), "
        f"then the exact quantized cosine ≥ {_NEARDUP_COS} decides and "
        "lower-id-wins keeps first. On this corpus the d5-pair recall "
        "ceiling rises ~0.28 → ~0.66 for ~4× the (still cluster-"
        "bounded) candidate volume — the measured trade an operator "
        "tunes with the probe count. Drop-set is a strict superset of "
        "d17's (same primary cell ⇒ top-k sets overlap; pytest-pinned). "
        "Probe explosion carries only (vec_id, cell) ids; vectors join "
        "back once per DISTINCT candidate pair (the d5 discipline).",
    oracle=None,  # attached below (replays the training chain)
)
def d17c_semantic_dedup_multiprobe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
    cents = _trained_centroids(sf_dir, emb)
    topk = _topcells_udf(cents, _SEMDEDUP_PROBES)
    vq = F.transform("v", lambda x: F.floor(x * _IVF_QUANT + F.lit(0.5)))
    # one pandas-UDF pass; feeds probes AND both vq sides — checkpoint
    asgn = emb.select(
        "vec_id", topk(F.col("v")).alias("cells"), vq.alias("vq")
    ).localCheckpoint(eager=True)
    probes = asgn.select("vec_id", F.explode("cells").alias("cell"))
    a = probes.select(F.col("vec_id").alias("va"), "cell")
    b = probes.select(F.col("vec_id").alias("vb"), "cell")
    cand = (
        a.join(b, "cell")
        .where(F.col("vb") < F.col("va"))
        .select("va", "vb")
        .distinct()
    )
    # per-row norms (the s1 discipline): one fold per verified pair
    x = asgn.select(
        F.col("vec_id").alias("va"),
        F.col("vq").alias("xq"),
        F.sqrt(dot(F.col("vq"), F.col("vq"))).alias("nx"),
    )
    y = asgn.select(
        F.col("vec_id").alias("vb"),
        F.col("vq").alias("yq"),
        F.sqrt(dot(F.col("vq"), F.col("vq"))).alias("ny"),
    )
    pair_sim = dot(F.col("xq"), F.col("yq")) / (F.col("nx") * F.col("ny"))
    dups = (
        cand.join(x, "va")
        .join(y, "vb")
        .where(pair_sim >= _NEARDUP_COS)
        .groupBy(F.col("va").alias("vec_id"))
        .agg(F.count("*").cast("bigint").alias("n_dups"))
    )
    return asgn.join(dups, "vec_id", "left").select(
        "vec_id",
        F.col("cells")[0].cast("int").alias("cell"),
        F.coalesce("n_dups", F.lit(0)).cast("bigint").alias("n_dups"),
        F.col("n_dups").isNull().cast("int").alias("kept"),
    )


_QR["d17c_semantic_dedup_multiprobe"] = _dc.replace(
    _QR["d17c_semantic_dedup_multiprobe"], oracle=_d17c_oracle()
)


# --- d20: semantic decontamination -----------------------------------------

_DECON_MOD = 20  # eval shard convention shared with d8 (dedup._EVAL_MOD)


def _d20_oracle() -> str:
    csim = _IVF_CSIM_SQL
    ctes, trained = _ivf_training_ctes()
    pair = (
        "list_inner_product(x.vq, y.vq) / "
        "(sqrt(list_inner_product(x.vq, x.vq)) * "
        "sqrt(list_inner_product(y.vq, y.vq)))"
    )
    return f"""
        WITH {ctes},
        ranked AS (
            SELECT x.vec_id, x.vq, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                       ORDER BY {csim} DESC, c.cell) AS rn
            FROM e x, {trained} c
        ),
        train AS (
            SELECT vec_id, vq, cell FROM ranked
            WHERE rn = 1 AND vec_id % {_DECON_MOD} <> 0
        ),
        evalp AS (
            SELECT vec_id, cell FROM ranked
            WHERE rn <= {_SEMDEDUP_PROBES} AND vec_id % {_DECON_MOD} = 0
        ),
        evalv AS (
            SELECT vec_id, vq FROM ranked
            WHERE rn = 1 AND vec_id % {_DECON_MOD} = 0
        ),
        cand AS (
            SELECT DISTINCT t.vec_id AS train_id, p.vec_id AS eval_id
            FROM evalp p JOIN train t ON p.cell = t.cell
        )
        SELECT c.train_id, c.eval_id,
               CAST(ROUND({pair}, 6) AS DOUBLE) AS cos_sim
        FROM cand c
        JOIN train x ON c.train_id = x.vec_id
        JOIN evalv y ON c.eval_id = y.vec_id
        WHERE {pair} >= {_NEARDUP_COS}
    """


@register(
    "d20_semantic_decontamination",
    survey="ext-dedup,ext-similarity",
    doc=f"Semantic eval-set decontamination — the embedding-space rung "
        "of the ladder d8 starts lexically: every train vector whose "
        f"cosine to an eval-shard vector (vec_id % {_DECON_MOD} = 0, "
        "d8's shard convention) is ≥ the near-dup threshold is a "
        "paraphrase-level leak a shingle overlap can miss. Candidates "
        "come from the trained quantizer with the d17c multi-probe "
        f"tier on the EVAL side (top-{_SEMDEDUP_PROBES} cells — the "
        "small side probes wider, the standard asymmetric-recall "
        "trick), so the pair space is Σ|cell|·|eval∩probe-cell|, never "
        "train×eval; exact integer-quantized cosine verifies. At "
        "100 TB the eval shard is tiny and its probe table broadcasts; "
        "the train corpus streams through one cell-keyed join.",
    oracle=None,  # attached below (training chain)
)
def d20_semantic_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
    cents = _trained_centroids(sf_dir, emb)
    topk = _topcells_udf(cents, _SEMDEDUP_PROBES)
    vq = F.transform("v", lambda x: F.floor(x * _IVF_QUANT + F.lit(0.5)))
    # one pandas pass over the corpus; both shards derive from it
    asgn = emb.select(
        "vec_id", topk(F.col("v")).alias("cells"), vq.alias("vq")
    ).localCheckpoint(eager=True)
    is_eval = F.col("vec_id") % _DECON_MOD == 0
    train = asgn.where(~is_eval).select(
        F.col("vec_id").alias("train_id"),
        F.col("cells")[0].alias("cell"),
        F.col("vq").alias("xq"),
        F.sqrt(dot(F.col("vq"), F.col("vq"))).alias("nx"),
    )
    evalp = asgn.where(is_eval).select(
        F.col("vec_id").alias("eval_id"), F.explode("cells").alias("cell")
    )
    evalv = asgn.where(is_eval).select(
        F.col("vec_id").alias("eval_id"),
        F.col("vq").alias("yq"),
        F.sqrt(dot(F.col("vq"), F.col("vq"))).alias("ny"),
    )
    cand = (
        train.select("train_id", "cell")
        .join(F.broadcast(evalp), "cell")
        .select("train_id", "eval_id")
        .distinct()
    )
    # per-row norms (the s1 discipline): one fold per verified pair
    pair_sim = dot(F.col("xq"), F.col("yq")) / (F.col("nx") * F.col("ny"))
    return (
        cand.join(train.select("train_id", "xq", "nx"), "train_id")
        .join(F.broadcast(evalv), "eval_id")
        .where(pair_sim >= _NEARDUP_COS)
        .select(
            "train_id",
            "eval_id",
            F.round(pair_sim, 6).cast("double").alias("cos_sim"),
        )
    )


_QR["d20_semantic_decontamination"] = _dc.replace(
    _QR["d20_semantic_decontamination"], oracle=_d20_oracle()
)


# --- s14: int8 scalar-quantized (SQ8) ANN ----------------------------------
# The int8 compressed-vector layer re-expressed Spark-first: L2-normalize
# each embedding, then UNIFORM SYMMETRIC scalar quantization
# c_i = round(127 * u_i) (the standard int8 scheme for normalized
# embeddings — FAISS QT_8bit_uniform / sentence-transformers int8).
# Scoring is an all-integer code dot product, so ranks are engine-exact
# with no float knife-edges. A per-dimension TRAINED-bounds variant
# (FAISS QT_8bit) was evaluated and rejected: asymmetric per-dim offsets
# put neighbor-independent cross-terms into the code dot product and
# recall@5 collapsed to 0.04 — uniform-symmetric measures 0.94-0.98 (gated
# by s14b). 4x less memory traffic than a double scan; at 100 TB this
# is the compressed STORAGE layer you put UNDER the IVF pruning layer
# (s3); the flat scan here is SQ8's standard operating mode,
# query-count-bounded like s1.

_SQ8_SCALE = 127


def _normalized(emb: DataFrame) -> DataFrame:
    n = F.sqrt(dot(F.col("v"), F.col("v")))
    return emb.select(
        "vec_id",
        F.transform(F.col("v"), lambda x: x / n).alias("u"),
    )


def _sq8_codes(u: DataFrame) -> DataFrame:
    code = F.transform(
        F.col("u"),
        lambda x: F.floor(x * _SQ8_SCALE + F.lit(0.5)).cast("bigint"),
    )
    return u.select("vec_id", code.alias("qc"))


def _sq8_code_col(v: Column) -> Column:
    """SQ8 code of a RAW vector column — ``_sq8_codes(_normalized(...))``
    as one expression (the identical IEEE op sequence: n = sqrt(dot),
    x/n, floor(·*SCALE + 0.5)), so callers can fuse cell assignment and
    encoding into a single projection instead of joining two derived
    frames on vec_id (guide §2.4: remove shuffles outright)."""
    n = F.sqrt(dot(v, v))
    return F.transform(
        F.transform(v, lambda x: x / n),
        lambda x: F.floor(x * _SQ8_SCALE + F.lit(0.5)).cast("bigint"),
    )


def int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


@register(
    "s14_sq8_ann_topk",
    survey="ext-similarity",
    doc=f"SQ8 ANN top-{_TOP_K}: embeddings L2-normalized then scalar-"
        f"quantized to signed int8 codes (uniform symmetric, c = "
        f"round({_SQ8_SCALE}*u)); each query (vec_id < {_N_QUERIES}) "
        "ranks neighbors by the ALL-INTEGER code dot product "
        "(~127^2 * cosine) — engine-exact, so the oracle recomputes "
        "ranks bit-for-bit with no float knife-edges in the contract "
        "columns. Map-side quantization, broadcast query side, "
        "per-partition TopN before the final TakeOrdered (the s1 "
        "shape over 1/4 the bytes).",
    oracle=None,  # attached below
)
def s14_sq8_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
    codes = _sq8_codes(_normalized(emb))
    q = codes.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qc").alias("qcode")
    )
    n = codes.select(
        F.col("vec_id").alias("neighbor_id"), F.col("qc").alias("ncode")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(n)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            int_dot(F.col("qcode"), F.col("ncode")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("int").alias("rnk"),
            F.col("score").cast("bigint").alias("score"),
        )
    )


def _s14_oracle() -> str:
    return f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE))
                              AS v
                   FROM embeddings),
        codes AS (
            SELECT vec_id,
                   list_transform(v,
                       x -> CAST(floor(x / sqrt(list_inner_product(v, v))
                                       * {_SQ8_SCALE} + 0.5) AS BIGINT))
                       AS qc
            FROM e
        ),
        scored AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   CAST(list_inner_product(q.qc, n.qc) AS BIGINT) AS score
            FROM codes q JOIN codes n ON n.vec_id <> q.vec_id
            WHERE q.vec_id < {_N_QUERIES}
        )
        SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk,
               CAST(score AS BIGINT) AS score
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS rnk
            FROM scored
        ) WHERE rnk <= {_TOP_K}
    """


_QR["s14_sq8_ann_topk"] = _dc.replace(
    _QR["s14_sq8_ann_topk"], oracle=_s14_oracle()
)


# --- s15: two-stage IVF + SQ8 search ---------------------------------------


@register(
    "s15_ivf_sq8_topk",
    survey="ext-similarity",
    doc=f"Two-stage ANN — the architecture SCALE.md names for 100 TB: "
        f"the trained {_IVF_CELLS}-cell IVF quantizer PRUNES (each "
        f"query probes its top-{_IVF_PROBES} cells; the corpus is "
        "sharded by top-1 cell) and the uniform-symmetric SQ8 codes "
        "SCORE (all-integer code dot, s14's ADC, 1/4 the scan bytes). "
        "Pair space is sum over probed cells of |cell| — never "
        "corpus x queries — and the per-cell scan touches int8 codes, "
        "not doubles: FAISS IVF+SQ re-expressed as a broadcast of "
        "~20 (query, cell, code) probe rows against a cell-keyed "
        "equi-join on the inverted list. Integer scores keep the "
        "rank contract engine-exact; cell assignment and probe ties "
        "replay s3's quantized-cosine discipline (d17c-validated).",
    oracle=None,  # attached below (training chain + codes composition)
)
def s15_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
    cents = _trained_centroids(sf_dir, emb)
    # inverted list: every corpus vector under its top-1 trained cell,
    # carrying only its int8 code. Cell assignment and SQ8 encoding are
    # both per-row functions of v, so they FUSE into one projection —
    # the previous form derived them as two frames and equi-joined them
    # back on vec_id (a full-corpus shuffle for a column that never
    # left the row; guide §2.4). _sq8_code_col runs the identical IEEE
    # sequence as _sq8_codes(_normalized(...)), so codes are unchanged.
    best = _topcells_udf(cents, 1)
    inv = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        best(F.col("v"))[0].alias("cell"),
        _sq8_code_col(F.col("v")).alias("ncode"),
    )
    topcells = _topcells_udf(cents, _IVF_PROBES)
    probes = emb.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.explode(topcells(F.col("v"))).alias("cell"),
        _sq8_code_col(F.col("v")).alias("qcode"),
    )
    scored = (
        F.broadcast(probes)
        .join(inv, "cell")  # each neighbor has ONE cell → no dup pairs
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            int_dot(F.col("qcode"), F.col("ncode")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("int").alias("rnk"),
            F.col("score").cast("bigint").alias("score"),
        )
    )


def _s15_oracle() -> str:
    csim = _IVF_CSIM_SQL
    ctes, trained = _ivf_training_ctes()
    return f"""
        WITH {ctes},
        ranked AS (
            SELECT x.vec_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                       ORDER BY {csim} DESC, c.cell) AS rn
            FROM e x, {trained} c
        ),
        asgn AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
        probes AS (
            SELECT vec_id AS query_id, cell FROM ranked
            WHERE rn <= {_IVF_PROBES} AND vec_id < {_N_QUERIES}
        ),
        codes AS (
            SELECT vec_id,
                   list_transform(v,
                       x -> CAST(floor(x / sqrt(list_inner_product(v, v))
                                       * {_SQ8_SCALE} + 0.5) AS BIGINT))
                       AS qc
            FROM e
        ),
        scored AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   CAST(list_inner_product(cq.qc, cn.qc) AS BIGINT) AS score
            FROM probes p
            JOIN asgn a ON p.cell = a.cell AND a.vec_id <> p.query_id
            JOIN codes cq ON cq.vec_id = p.query_id
            JOIN codes cn ON cn.vec_id = a.vec_id
        )
        SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk,
               CAST(score AS BIGINT) AS score
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS rnk
            FROM scored
        ) WHERE rnk <= {_TOP_K}
    """


_QR["s15_ivf_sq8_topk"] = _dc.replace(
    _QR["s15_ivf_sq8_topk"], oracle=_s15_oracle()
)


# --- s10b: kNN label-noise vote over the IVF-SQ8 shortlist -----------------
# The s10/s11 scale path as CODE, not prose (round-6 verdict): the exact
# anchor-matmul audit collects the 1/10 anchor matrix to the driver —
# fine at audit spec, the repo's one O(corpus-fraction) driver
# materialization. This variant keeps the identical vote semantics but
# draws each anchor's candidates from the s15 two-stage index: IVF cells
# prune (anchors probe their top-P trained cells against the top-1-cell
# inverted list — pair space is Σ_cells |probes∩cell|·|cell|, never
# anchors×corpus), SQ8 codes score (all-integer dot, engine-exact). No
# collect anywhere on the path; the probe→inverted-list join is a plain
# cell-keyed equi-join that shuffles, so anchor count can scale with the
# corpus instead of with driver memory.


def s10b_shortlist_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-SQ8 shortlist kNN stage shared by the s10b vote and the
    s10c recall gate: (qid, qlabel, nid, nlabel, sim) rows, top-_KNN_K
    per anchor by integer SQ8 code dot over the probed cells."""
    from pyspark.sql.window import Window

    from real_time_data_warehouse_spark.operators.retrieval import (
        _KNN_K,
        _KNN_SAMPLE_MOD,
    )

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
    labels = t.embeddings.select(
        "vec_id", F.col("label").cast("int").alias("label")
    )
    codes = _sq8_codes(_normalized(emb))
    inv = (
        _assigned_cells(spark, sf_dir)
        .select("vec_id", "cell")
        .join(codes, "vec_id")
        .join(labels, "vec_id")
        .select(
            F.col("vec_id").alias("nid"),
            "cell",
            F.col("qc").alias("ncode"),
            F.col("label").alias("nlabel"),
        )
    )
    cents = _trained_centroids(sf_dir, emb)
    topcells = _topcells_udf(cents, _IVF_PROBES)
    probes = (
        emb.where(F.col("vec_id") % _KNN_SAMPLE_MOD == 0)
        .select(
            F.col("vec_id").alias("qid"),
            F.explode(topcells(F.col("v"))).alias("cell"),
        )
        .join(
            codes.select(
                F.col("vec_id").alias("qid"), F.col("qc").alias("qcode")
            ),
            "qid",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("qid"),
                F.col("label").alias("qlabel"),
            ),
            "qid",
        )
    )
    scored = (
        probes.join(inv, "cell")
        .where(F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "nid",
            "nlabel",
            int_dot(F.col("qcode"), F.col("ncode")).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= _KNN_K
    )


def _sq8_matmul_scorer(qids: "np.ndarray", Q: "np.ndarray", k: int):
    """mapInPandas body scoring the fixed anchor matrix ``Q`` against
    every corpus Arrow batch in ONE integer numpy matmul (guide §4.2)
    with an exact per-batch top-k superset prune: rows below the
    batch's k-th-largest score per anchor are outranked by >= k
    strictly better rows, so dropping them cannot evict a global
    top-k member. All dots are integer-valued doubles < 2^53 — exact
    under any summation order. Self-pairs are masked to -inf and
    non-finite scores are never emitted, so a batch of <= k rows (where
    the threshold itself is -inf) cannot leak a self-pair."""

    def score_batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            N = np.array(list(pdf["qc"]), dtype=np.float64)
            nids = pdf["vec_id"].to_numpy().astype(np.int64)
            S = Q @ N.T
            S[qids[:, None] == nids[None, :]] = -np.inf
            if S.shape[1] > k:
                # k-th largest per anchor; keep ties inclusively — the
                # kept set is a SUPERSET of each anchor's global top-k
                thresh = np.partition(S, -k, axis=1)[:, -k]
            else:
                thresh = np.full(S.shape[0], -np.inf)
            qi, ni = np.nonzero(np.isfinite(S) & (S >= thresh[:, None]))
            yield pd.DataFrame(
                {
                    "qid": qids[qi],
                    "nid": nids[ni],
                    "sim": S[qi, ni].astype(np.int64),
                }
            )

    return score_batches


# Anchors per scoring block: bounds BOTH the driver pull and the
# executor-held matrix at ~32 MB of int64 codes (65536 x 64 x 8 B)
# regardless of corpus size. Audit-spec fixtures fit one block, so the
# bench-scale plan is unchanged; at 100 TB the scan count grows with
# ceil(|anchors| / block) — the inherent cost of an exact all-pairs
# audit — while no single process ever holds O(corpus/10) rows (the
# round-12 verdict's scale ceiling on the previous full collect).
_ANCHOR_BLOCK = 1 << 16


def sq8_fullscan_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, nid): the EXACT top-_KNN_K under the identical SQ8 metric
    over the full collection — the truth side of the s10c gate. The
    anchor matrix is materialized by a distributed write and pulled
    back one bounded block at a time (never an O(corpus/10) driver
    collect); each block scans the corpus through the shared matmul
    mapInPandas (guide §4.2) and the blocks' surviving rows union into
    ONE window that computes the identical (sim DESC, nid ASC) top-K
    the broadcast-join form produced — each anchor lives in exactly
    one block, so its candidate set is exactly the single-pass one."""
    from pyspark.sql.window import Window

    from real_time_data_warehouse_spark.operators.retrieval import (
        _KNN_K,
        _KNN_SAMPLE_MOD,
    )

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
    codes = _sq8_codes(_normalized(emb))
    # deterministic bounded blocks: block = vec_id DIV (MOD * BLOCK), so
    # a block never holds more than _ANCHOR_BLOCK anchors (sparse ids
    # just make smaller blocks)
    blk = F.floor(
        F.col("vec_id") / F.lit(_KNN_SAMPLE_MOD * _ANCHOR_BLOCK)
    ).cast("long")
    anchors = codes.where(
        F.col("vec_id") % _KNN_SAMPLE_MOD == 0
    ).withColumn("blk", blk)
    parts: list[DataFrame] = []
    # only driver-side collects read the scratch dir; the returned plan
    # depends on `codes` and the per-block closures alone
    with tempfile.TemporaryDirectory(
        prefix="rtdw_s10c_anchors_", ignore_cleanup_errors=True
    ) as tmp:
        anchors.write.mode("overwrite").parquet(tmp)
        adf = spark.read.schema(
            "vec_id long, qc array<bigint>, blk long"
        ).parquet(tmp)
        blocks = sorted(
            r["blk"] for r in adf.select("blk").distinct().collect()
        )
        for b in blocks:
            qrows = adf.where(F.col("blk") == b).collect()
            qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
            Q = np.array([list(r["qc"]) for r in qrows], dtype=np.float64)
            parts.append(
                codes.mapInPandas(
                    _sq8_matmul_scorer(qids, Q, _KNN_K),
                    "qid long, nid long, sim long",
                )
            )
    if not parts:
        return spark.createDataFrame([], "qid long, nid long")
    scored = parts[0]
    for p in parts[1:]:
        scored = scored.unionAll(p)
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _KNN_K)
        .select("qid", "nid")
    )


def sq8_topk_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact (query_id, neighbor_id) set of s14's SQ8 top-K,
    computed through the s10c matmul pattern — one integer numpy
    matmul per Arrow batch instead of a broadcast nested-loop join
    evaluating the interpreted int_dot fold per pair (guide §4.2).
    Scores are integer-valued doubles < 2^53 and the final window
    applies s14's identical (score DESC, neighbor_id ASC) order, so
    the rows are bit-identical to s14's (pinned by
    tests/test_semantic_dedup.py::test_s14b_matmul_matches_s14).
    Used by the s14b audit's approx side; the s14 registry row keeps
    its pinned BroadcastNestedLoopJoin contract shape (test_plans)."""
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
    codes = _sq8_codes(_normalized(emb))
    qrows = codes.where(F.col("vec_id") < _N_QUERIES).collect()  # <= 10 rows
    if not qrows:
        return spark.createDataFrame([], "query_id long, neighbor_id long")
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = np.array([list(r["qc"]) for r in qrows], dtype=np.float64)
    scored = codes.mapInPandas(
        _sq8_matmul_scorer(qids, Q, _TOP_K), "qid long, nid long, sim long"
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _TOP_K)
        .select(
            F.col("qid").alias("query_id"), F.col("nid").alias("neighbor_id")
        )
    )


@register(
    "s10b_knn_noise_ivf",
    survey="ext-similarity,ext-curation",
    doc="kNN label-noise audit over the IVF-SQ8 shortlist — s10's "
        "majority-vote semantics with candidates from the s15 two-stage "
        "index instead of the exact driver-collected anchor matmul: "
        "anchors (the same deterministic 1/10 sample) probe their top-2 "
        "trained IVF cells, candidates come from the cell-keyed "
        "inverted list (one cell per neighbor, so no duplicate pairs), "
        "and ranking uses the all-integer SQ8 code dot. Every stage is "
        "a shuffle-shaped join or window — NO driver collect of any "
        "corpus fraction, which is what lets the anchor set grow with "
        "the corpus at 100 TB. Integer scores and lexicographic ties "
        "keep the vote engine-exact; s10c gates the shortlist's recall "
        "against the same-metric exact scan (on this isotropic "
        "fixture recall tracks the probed fraction — real clustered "
        "corpora recover the usual 0.8+; the gate floor is 2x the "
        "broken-index chance level).",
    oracle=None,  # attached below (replays the IVF training chain)
)
def s10b_knn_noise_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    knn = s10b_shortlist_knn(spark, sf_dir)
    votes = knn.groupBy("qid", "qlabel", "nlabel").agg(
        F.count("*").alias("cnt")
    )
    wv = Window.partitionBy("qid").orderBy(
        F.col("cnt").desc(), F.col("nlabel")
    )
    return (
        votes.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("qlabel").cast("int").alias("label"),
            F.col("nlabel").cast("int").alias("knn_label"),
            F.when(F.col("nlabel") == F.col("qlabel"), 1)
            .otherwise(0)
            .cast("int")
            .alias("agree"),
        )
    )


def _s10b_oracle() -> str:
    from real_time_data_warehouse_spark.operators.retrieval import (
        _KNN_K,
        _KNN_SAMPLE_MOD,
    )

    csim = _IVF_CSIM_SQL
    ctes, trained = _ivf_training_ctes()
    return f"""
        WITH {ctes},
        ranked AS (
            SELECT x.vec_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                       ORDER BY {csim} DESC, c.cell) AS rn
            FROM e x, {trained} c
        ),
        asgn AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
        probes AS (
            SELECT vec_id AS qid, cell FROM ranked
            WHERE rn <= {_IVF_PROBES} AND vec_id % {_KNN_SAMPLE_MOD} = 0
        ),
        codes AS (
            SELECT vec_id,
                   list_transform(v,
                       x -> CAST(floor(x / sqrt(list_inner_product(v, v))
                                       * {_SQ8_SCALE} + 0.5) AS BIGINT))
                       AS qc
            FROM e
        ),
        lab AS (SELECT vec_id, CAST(label AS INT) AS label FROM embeddings),
        scored AS (
            SELECT p.qid, lq.label AS qlabel,
                   a.vec_id AS nid, ln.label AS nlabel,
                   CAST(list_inner_product(cq.qc, cn.qc) AS BIGINT) AS sim
            FROM probes p
            JOIN asgn a ON p.cell = a.cell AND a.vec_id <> p.qid
            JOIN codes cq ON cq.vec_id = p.qid
            JOIN codes cn ON cn.vec_id = a.vec_id
            JOIN lab lq ON lq.vec_id = p.qid
            JOIN lab ln ON ln.vec_id = a.vec_id
        ),
        knn AS (
            SELECT qid, qlabel, nlabel FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY sim DESC, nid) AS rn
                FROM scored
            ) WHERE rn <= {_KNN_K}
        ),
        votes AS (
            SELECT qid, qlabel, nlabel, COUNT(*) AS cnt
            FROM knn GROUP BY qid, qlabel, nlabel
        )
        SELECT qid AS vec_id, CAST(qlabel AS INT) AS label,
               CAST(nlabel AS INT) AS knn_label,
               CAST(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END AS INT)
                   AS agree
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY cnt DESC, nlabel) AS rn
            FROM votes
        ) WHERE rn = 1
    """


_QR["s10b_knn_noise_ivf"] = _dc.replace(
    _QR["s10b_knn_noise_ivf"], oracle=_s10b_oracle()
)
