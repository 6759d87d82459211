"""Iterative graph analytics — PageRank over the clickstream page graph.

The reference has no graph surface (its closest shape is the keyed
per-user ordering that feeds the ST6 session operators,
DwsTrafficVcChArIsNewPageViewWindow.java:80-110); a training-data
pipeline at crawl scale needs exactly one more step on top of that
ordering: centrality over the page/domain transition graph
(PageRank-style authority is the standard quality prior for crawl
curation — the public Common Crawl ranking releases are this
computation). The edge set here is st12's per-user ordered transition
derivation re-keyed to the page id; the iteration is the classic
power-method PageRank with damping d = 0.85.

Exactness (the repo's integer-lattice discipline): rank mass lives on
an integer nano-rank lattice (``SCALE`` units = 1.0). Every iteration
maps integers to integers with floor() over IEEE-double divisions whose
operands stay far below 2^53, and sums integers (associative, so
partitioning/order independent) — Spark and DuckDB run the *identical*
sequence of integer/IEEE ops, so the fixpoint-after-K-iterations is
engine-exact, not approximately-equal. Damping is the exact rational
17/20; the teleport and dangling-mass shares use the same floor rule.
Floor leaks rank mass (sub-lattice crumbs are dropped, not
redistributed), which is deterministic and identical in both engines —
documented, not hidden.

Scale shape (100 TB): edges collapse to one row per (src, dst) with a
count weight before any iteration (the transition aggregation is the
only scan of the raw events); the loop then shuffles |edges| keyed by
src each round and |nodes| for the re-aggregate — the standard
distributed power-iteration cost, O(K) rounds with localCheckpoint
per round so lineage stays flat (the d6 discipline). The dangling-mass
scalar is a one-row aggregate broadcast per round, never a driver
collect. Fixed K keeps the plan deterministic and oracle-expressible;
a convergence-driven variant would stop on max |Δrank| — at K = 10 on
a damped walk the residual is d^K ≈ 0.20 of a hop, plenty for a
quality prior.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from real_time_data_warehouse_spark.artifacts import artifact
from real_time_data_warehouse_spark.registry import register
from real_time_data_warehouse_spark.tables import Tables

SCALE = 1_000_000_000  # nano-rank lattice: SCALE units == rank 1.0
DAMP_NUM, DAMP_DEN = 17, 20  # d = 0.85 as an exact rational
PR_ITERS = 10

_PAGE_SQL = (
    "TRY_CAST(CASE WHEN json_valid(props) THEN "
    "json_extract_string(props, '$.k') END AS BIGINT)"
)


def transition_page_edges(events: DataFrame) -> DataFrame:
    """(src, dst, w): per-user consecutive page transitions, weighted by
    count — st12's derivation keyed on the page id instead of the event
    type. Unparseable/missing pages are dropped BEFORE the ordering, so
    transitions connect consecutive *valid* pages."""
    page = F.get_json_object("props", "$.k").try_cast("bigint")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select("user_id", "ts", "event_id", page.alias("page"))
        .where(F.col("page").isNotNull())
        .select(
            F.col("page").alias("src"),
            F.lead("page").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("w"))
    )


def cached_transition_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seed-INDEPENDENT half of g1/g1b: the transition edge list
    (events scan + per-user window sort + pair groupBy), checkpointed
    once per (session, sf_dir) as a session artifact (artifacts.py) and
    shared by both rank variants."""
    return artifact(
        spark, sf_dir, "g1_edges",
        lambda: transition_page_edges(Tables(spark, sf_dir).events),
    )


def pagerank_frame(
    edges: DataFrame,
    n_iters: int = PR_ITERS,
    seeds: DataFrame | None = None,
    checkpointed: bool = False,
) -> DataFrame:
    """Damped power-method PageRank on a weighted edge list →
    (node, rank_unit, rank).

    rank'(v) = 1[v∈S]·floor(3·SCALE/(20·|S|))             # teleport
             + floor(17·(S(v) + 1[v∈S]·floor(D/|S|))/20)  # damped mass
    with S(v) = Σ_{u→v} floor(rank(u)·w(u,v)/out(u)) and D the summed
    rank of dangling (no-outlink) nodes. With ``seeds=None`` every
    node is a seed (S = all nodes) and this is exactly the global
    PageRank; with a seed frame (one ``node`` column) the restart
    distribution — initial mass, teleport, and dangling re-entry — is
    confined to the seeds: personalized PageRank. All-integer state;
    see module docstring for the exactness argument.
    """
    if not checkpointed:
        edges = edges.localCheckpoint(eager=True)
    outd = edges.groupBy(F.col("src").alias("node")).agg(
        F.sum("w").cast("bigint").alias("outw")
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    # (node, outw|null): joined every round for the dangling set — one
    # small artifact, materialized once
    meta = nodes.join(outd, "node", "left")
    if seeds is None:
        meta = meta.withColumn("is_seed", F.lit(True))
    else:
        meta = meta.join(
            seeds.select("node").distinct().withColumn("is_seed", F.lit(True)),
            "node",
            "left",
        ).withColumn("is_seed", F.coalesce("is_seed", F.lit(False)))
    meta = meta.localCheckpoint(eager=True)
    # ONE job returns every bounded scalar the loop needs: node/seed
    # counts from meta plus the exactness bound's max edge weight from
    # the already-materialized edges (the max over `edges` equals the
    # max over `ew` — the outd join keeps every edge). Previously the
    # count agg and the max agg were two separate driver round-trips.
    n, n_seed, n_dangling, max_w = (
        meta.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("is_seed"), 1).otherwise(0))
            .cast("bigint")
            .alias("ns"),
            F.sum(F.when(F.col("outw").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("nd"),
        )
        .crossJoin(edges.agg(F.max("w").cast("bigint").alias("mw")))
        .first()
    )
    max_w = max_w or 0
    if n == 0 or n_seed == 0:
        return meta.limit(0).select(
            F.col("node"),
            F.lit(None).cast("bigint").alias("rank_unit"),
            F.lit(None).cast("double").alias("rank"),
        )
    # out-weight folded onto the edges once — the per-round join then
    # touches only (edges ⋈ ranks), never a third table.
    # NOTE (round-13 adjudication): pre-hash-partitioning ew by src
    # before the checkpoint (repartition("src") + an AQE-off
    # localCheckpoint so the LogicalRDD keeps hashpartitioning and the
    # per-round join skips the edge-side Exchange — guide §2.1) was
    # implemented and A/B-measured 3.15x SLOWER end-to-end at sf0.1:
    # a fixed-partitioning join side disables AQE partition coalescing
    # for every loop stage, and 10 rounds of full-width tiny tasks cost
    # far more than the ~5 edge re-exchanges saved. On a cluster where
    # |edges| shuffle bytes dominate task overhead the trade reverses —
    # revisit there, not here.
    ew = edges.join(
        outd.withColumnRenamed("node", "src"), "src"
    ).localCheckpoint(eager=True)
    # Enforce the docstring's "<2^53 operands" exactness claim instead of
    # assuming it: rank_unit ≤ SCALE (total mass), so the bigint product
    # rank_unit*w in the contrib stays exact-in-double and far from int64
    # wrap (where Spark wraps silently but DuckDB raises) iff
    # max(w)*SCALE < 2^53.
    if max_w * SCALE >= 2**53:
        raise ValueError(
            f"pagerank exactness bound violated: max edge weight {max_w} "
            f"* SCALE {SCALE} >= 2^53 — rescale edge weights or lower "
            "SCALE before iterating"
        )
    # Python float division mirrors the engines' int/int → IEEE-double
    # exactly (operands < 2^53), so these two driver-side constants are
    # lattice-exact against the oracle's in-SQL forms
    r0 = math.floor(SCALE / n_seed)
    base = math.floor((3 * SCALE) / (20 * n_seed))
    seed_i = F.when(F.col("is_seed"), 1).otherwise(0).cast("bigint")
    # rank0 is a trivial projection over the checkpointed meta — no
    # materialization job of its own; round 1 re-derives it in place.
    # is_seed and the dangling flag ride ALONG IN ranks (two booleans
    # per node): the dangling-mass scalar then comes from a FILTER over
    # ranks instead of a per-round join against the dangling node set,
    # and the next-rank update joins contrib straight onto ranks
    # instead of re-joining meta — one join fewer per round, measured
    # ~10% off the whole loop (round-12 A/B), identical arithmetic.
    ranks = meta.select(
        "node",
        "is_seed",
        F.col("outw").isNull().alias("dg"),
        (seed_i * F.lit(r0)).cast("bigint").alias("rank_unit"),
    )
    for it in range(n_iters):
        # Both per-round joins are pinned SHUFFLE_HASH (guide §3.1):
        # checkpointed frames carry no stats, so the planner's default
        # is SortMergeJoin — which re-SORTS the edge list and the rank
        # vector every round. The hash build side is the rank-vector
        # side (|nodes| rows, the smaller side per partition at any
        # scale: nodes ≤ edges); join strategy does not change results.
        # SKEW CAVEAT: ranks are one row per node, so a build-side
        # partition is only skewed if the node-id HASH is — but at
        # extreme scale a hot partition can OOM a shuffled-hash build
        # where SortMergeJoin would spill; drop the hint there before
        # reaching for memory.
        contrib = (
            ew.join(
                ranks.select("node", "rank_unit").hint("shuffle_hash"),
                ew["src"] == F.col("node"),
            )
            .select(
                F.col("dst").alias("cnode"),
                F.floor(
                    F.col("rank_unit") * F.col("w") / F.col("outw")
                ).alias("c"),
            )
            .groupBy("cnode")
            .agg(F.sum("c").cast("bigint").alias("s"))
        )
        joined = ranks.select("node", "is_seed", "dg").join(
            contrib.hint("shuffle_hash"),
            F.col("node") == F.col("cnode"),
            "left",
        )
        # Dangling-mass term: dangling is STRUCTURAL (outw is null,
        # fixed per node), so with n_dangling == 0 (from the pre-loop
        # scalar job) the dmass filter selects no rows in EVERY round —
        # d ≡ 0, floor(0/n_seed) = 0, and the broadcast subquery job it
        # costs per round is an algebraic no-op. Skip it; graphs with
        # dangling nodes keep the general path unchanged.
        if n_dangling:
            dmass = ranks.where(F.col("dg")).agg(
                F.coalesce(F.sum("rank_unit"), F.lit(0))
                .cast("bigint")
                .alias("d")
            )
            joined = joined.crossJoin(F.broadcast(dmass))
            mass = F.coalesce(F.col("s"), F.lit(0)) + seed_i * F.floor(
                F.col("d") / F.lit(n_seed)
            )
        else:
            mass = F.coalesce(F.col("s"), F.lit(0))
        ranks = joined.select(
            "node",
            "is_seed",
            "dg",
            (
                seed_i * F.lit(base)
                + F.floor(F.lit(DAMP_NUM) * mass / F.lit(DAMP_DEN))
            )
            .cast("bigint")
            .alias("rank_unit"),
        )
        # checkpoint every SECOND round (and the last): lineage over two
        # unrolled rounds stays small, and halving the materialization
        # count halves the dominant per-round scheduling cost of the
        # loop — the iteration itself is tiny at any one moment.
        # (Cadences 3/5/10 re-measured this round: 3 ≈ 2, 5+ LOSES —
        # the unrolled-plan depth costs more than the jobs saved.)
        if it % 2 == 1 or it == n_iters - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(
        "node",
        "rank_unit",
        (F.col("rank_unit").cast("double") / F.lit(SCALE).cast("double"))
        .cast("double")
        .alias("rank"),
    )


def _g1_oracle(n_iters: int = PR_ITERS) -> str:
    head = f"""
        WITH seq AS (
            SELECT user_id, ts, event_id, {_PAGE_SQL} AS page
            FROM events
        ),
        hop AS (
            SELECT page AS src,
                   LEAD(page) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
            FROM seq WHERE page IS NOT NULL
        ),
        edges AS MATERIALIZED (
            SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
            FROM hop WHERE dst IS NOT NULL GROUP BY src, dst
        ),
        nodes AS MATERIALIZED (
            SELECT src AS node FROM edges
            UNION
            SELECT dst AS node FROM edges
        ),
        outd AS MATERIALIZED (
            SELECT src AS node, CAST(SUM(w) AS BIGINT) AS outw
            FROM edges GROUP BY src
        ),
        meta AS MATERIALIZED (
            SELECT n.node, o.outw
            FROM nodes n LEFT JOIN outd o ON n.node = o.node
        ),
        ew AS MATERIALIZED (
            SELECT e.src, e.dst, e.w, o.outw
            FROM edges e JOIN outd o ON e.src = o.node
        ),
        cnt AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
        r0 AS MATERIALIZED (
            SELECT node,
                   CAST(floor({SCALE} / cnt.n) AS BIGINT) AS rank_unit
            FROM nodes CROSS JOIN cnt
        )"""
    steps = []
    for i in range(1, n_iters + 1):
        p = f"r{i - 1}"
        steps.append(f"""
        c{i} AS MATERIALIZED (
            SELECT ew.dst AS node,
                   CAST(SUM(CAST(floor(r.rank_unit * ew.w / ew.outw)
                                 AS BIGINT)) AS BIGINT) AS s
            FROM ew JOIN {p} r ON ew.src = r.node GROUP BY ew.dst
        ),
        d{i} AS MATERIALIZED (
            SELECT CAST(COALESCE(SUM(r.rank_unit), 0) AS BIGINT) AS d
            FROM {p} r JOIN meta m ON r.node = m.node
            WHERE m.outw IS NULL
        ),
        r{i} AS MATERIALIZED (
            SELECT m.node,
                   CAST(CAST(floor({3 * SCALE} / (20 * cnt.n)) AS BIGINT)
                        + CAST(floor({DAMP_NUM}
                                     * (COALESCE(c.s, 0)
                                        + CAST(floor(d.d / cnt.n)
                                               AS BIGINT))
                                     / {DAMP_DEN}) AS BIGINT)
                        AS BIGINT) AS rank_unit
            FROM meta m
            LEFT JOIN c{i} c ON m.node = c.node
            CROSS JOIN d{i} d CROSS JOIN cnt
        )"""
        )
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
        SELECT node, rank_unit,
               CAST(CAST(rank_unit AS DOUBLE)
                    / CAST({SCALE} AS DOUBLE) AS DOUBLE) AS rank
        FROM r{n_iters}
    """
    )


@register(
    "g1_pagerank",
    survey="ST6,ext-scale",
    doc="Damped integer-lattice PageRank over the per-user page "
        "transition graph (d = 17/20, K = 10 power iterations, "
        "dangling mass redistributed uniformly) — the crawl-curation "
        "authority prior, built on st12's ST6 ordered-transition "
        "derivation. Engine-exact by the nano-rank integer lattice: "
        "both engines run identical int/IEEE floor steps, so ranks "
        "match to the last unit, not to a tolerance.",
    oracle=_g1_oracle(),
)
def g1_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pagerank_frame(
        cached_transition_edges(spark, sf_dir), PR_ITERS, checkpointed=True
    )


def _g1b_oracle(n_iters: int = PR_ITERS) -> str:
    head = f"""
        WITH seq AS (
            SELECT user_id, ts, event_id, event_type, {_PAGE_SQL} AS page
            FROM events
        ),
        hop AS (
            SELECT page AS src,
                   LEAD(page) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
            FROM seq WHERE page IS NOT NULL
        ),
        edges AS MATERIALIZED (
            SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
            FROM hop WHERE dst IS NOT NULL GROUP BY src, dst
        ),
        nodes AS MATERIALIZED (
            SELECT src AS node FROM edges
            UNION
            SELECT dst AS node FROM edges
        ),
        outd AS MATERIALIZED (
            SELECT src AS node, CAST(SUM(w) AS BIGINT) AS outw
            FROM edges GROUP BY src
        ),
        seeds AS MATERIALIZED (
            SELECT DISTINCT page AS node FROM seq
            WHERE event_type = 'purchase' AND page IS NOT NULL
        ),
        meta AS MATERIALIZED (
            SELECT n.node, o.outw, (s.node IS NOT NULL) AS is_seed
            FROM nodes n
            LEFT JOIN outd o ON n.node = o.node
            LEFT JOIN seeds s ON n.node = s.node
        ),
        ew AS MATERIALIZED (
            SELECT e.src, e.dst, e.w, o.outw
            FROM edges e JOIN outd o ON e.src = o.node
        ),
        cnt AS MATERIALIZED (
            SELECT CAST(COUNT(*) AS BIGINT) AS ns
            FROM meta WHERE is_seed
        ),
        r0 AS MATERIALIZED (
            SELECT m.node,
                   CAST(CASE WHEN m.is_seed
                        THEN floor({SCALE} / GREATEST(cnt.ns, 1))
                        ELSE 0 END AS BIGINT) AS rank_unit
            FROM meta m CROSS JOIN cnt
        )"""
    steps = []
    for i in range(1, n_iters + 1):
        p = f"r{i - 1}"
        steps.append(f"""
        c{i} AS MATERIALIZED (
            SELECT ew.dst AS node,
                   CAST(SUM(CAST(floor(r.rank_unit * ew.w / ew.outw)
                                 AS BIGINT)) AS BIGINT) AS s
            FROM ew JOIN {p} r ON ew.src = r.node GROUP BY ew.dst
        ),
        d{i} AS MATERIALIZED (
            SELECT CAST(COALESCE(SUM(r.rank_unit), 0) AS BIGINT) AS d
            FROM {p} r JOIN meta m ON r.node = m.node
            WHERE m.outw IS NULL
        ),
        r{i} AS MATERIALIZED (
            SELECT m.node,
                   CAST(CASE WHEN m.is_seed
                        THEN CAST(floor({3 * SCALE}
                                        / (20 * GREATEST(cnt.ns, 1)))
                             AS BIGINT)
                        ELSE 0 END
                        + CAST(floor({DAMP_NUM}
                                     * (COALESCE(c.s, 0)
                                        + CASE WHEN m.is_seed
                                          THEN CAST(floor(d.d
                                              / GREATEST(cnt.ns, 1))
                                              AS BIGINT)
                                          ELSE 0 END)
                                     / {DAMP_DEN}) AS BIGINT)
                        AS BIGINT) AS rank_unit
            FROM meta m
            LEFT JOIN c{i} c ON m.node = c.node
            CROSS JOIN d{i} d CROSS JOIN cnt
        )"""
        )
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
        SELECT r.node, r.rank_unit,
               CAST(CAST(r.rank_unit AS DOUBLE)
                    / CAST({SCALE} AS DOUBLE) AS DOUBLE) AS rank
        FROM r{n_iters} r CROSS JOIN cnt WHERE cnt.ns > 0
    """
    )


@register(
    "g1b_personalized_pagerank",
    survey="ST6,ext-scale",
    doc="Personalized PageRank: same integer-lattice power iteration "
        "as g1, with the restart distribution (initial mass, teleport, "
        "dangling re-entry) confined to the SEED pages — pages that "
        "received a purchase event. The retrieval-flavored use of the "
        "graph family: authority relative to a behavior of interest "
        "(which browse pages feed purchases), the random-walk-with-"
        "restart every recommender ships. Seeds with no graph presence "
        "are ignored; an empty seed set yields an empty frame (both "
        "engines — GREATEST guards keep the unrolled SQL "
        "division-safe).",
    oracle=_g1b_oracle(),
)
def g1b_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    page = F.get_json_object("props", "$.k").try_cast("bigint")
    seeds = (
        t.events.where(F.col("event_type") == "purchase")
        .select(page.alias("node"))
        .where(F.col("node").isNotNull())
        .distinct()
    )
    return pagerank_frame(
        cached_transition_edges(spark, sf_dir),
        PR_ITERS,
        seeds=seeds,
        checkpointed=True,
    )


def undirected_page_edges(events: DataFrame) -> DataFrame:
    """Distinct undirected page adjacency (a < b) from the transition
    graph — self-loops dropped, direction and weight collapsed."""
    e = transition_page_edges(events)
    return (
        e.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )


def triangle_counts_frame(und: DataFrame) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected edge list ``(a, b), a < b`` → (node, degree, triangles,
    clustering).

    Degree-ordered orientation (the Latapy/compact-forward scheme —
    standard in every distributed triangle counter): each undirected
    edge is directed from its (degree, id)-smaller endpoint to the
    larger, so every triangle has exactly ONE apex whose two out-edges
    span it, and the wedge join's fan-out per key is bounded by the
    max ORIENTED out-degree ≈ O(sqrt(m)) instead of the max raw degree.
    That is the whole 100 TB story: on a skewed web graph the naive
    wedge join explodes on hub nodes (deg² wedges); orientation caps
    hub out-degree, so the shuffle volume is O(Σ outdeg²) ≈ O(m^1.5)
    worst-case and near-linear on real graphs. Three shuffled
    equi-joins, no cartesian, all-integer until the final clustering
    division (bigint → double in both engines, IEEE-exact).
    """
    und = und.localCheckpoint(eager=True)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("degree"))
        .localCheckpoint(eager=True)
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("db"))
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    ori = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )
    e1 = ori.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = ori.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    wedges = e1.join(e2, "u").where(F.col("v") < F.col("w"))
    tri = wedges.join(
        und,
        (F.least("v", "w") == F.col("a")) & (F.greatest("v", "w") == F.col("b")),
    ).select("u", "v", "w")
    per_node = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("triangles"))
    )
    t = F.coalesce(F.col("triangles"), F.lit(0)).cast("bigint")
    return deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        t.alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            (F.lit(2) * t).cast("double")
            / (F.col("degree") * (F.col("degree") - F.lit(1))).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("clustering"),
    )


_G2_ORACLE = f"""
    WITH seq AS (
        SELECT user_id, ts, event_id, {_PAGE_SQL} AS page
        FROM events
    ),
    hop AS (
        SELECT page AS src,
               LEAD(page) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
        FROM seq WHERE page IS NOT NULL
    ),
    und AS MATERIALIZED (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM hop WHERE dst IS NOT NULL AND src <> dst
    ),
    deg AS MATERIALIZED (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM (SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
        GROUP BY node
    ),
    ori AS MATERIALIZED (
        SELECT CASE WHEN da.degree < db.degree
                      OR (da.degree = db.degree AND u.a < u.b)
               THEN u.a ELSE u.b END AS src,
               CASE WHEN da.degree < db.degree
                      OR (da.degree = db.degree AND u.a < u.b)
               THEN u.b ELSE u.a END AS dst
        FROM und u
        JOIN deg da ON u.a = da.node
        JOIN deg db ON u.b = db.node
    ),
    tri AS MATERIALIZED (
        SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
        FROM ori e1
        JOIN ori e2 ON e1.src = e2.src AND e1.dst < e2.dst
        JOIN und c ON c.a = LEAST(e1.dst, e2.dst)
                  AND c.b = GREATEST(e1.dst, e2.dst)
    ),
    pn AS MATERIALIZED (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
        FROM (SELECT u AS node FROM tri
              UNION ALL SELECT v AS node FROM tri
              UNION ALL SELECT w AS node FROM tri)
        GROUP BY node
    )
    SELECT d.node, d.degree,
           CAST(COALESCE(p.triangles, 0) AS BIGINT) AS triangles,
           CAST(CASE WHEN d.degree >= 2
                THEN CAST(2 * COALESCE(p.triangles, 0) AS DOUBLE)
                     / CAST(d.degree * (d.degree - 1) AS DOUBLE)
                ELSE 0.0 END AS DOUBLE) AS clustering
    FROM deg d LEFT JOIN pn p ON d.node = p.node
"""


@register(
    "g2_triangle_count",
    survey="ST6,ext-scale",
    doc="Per-node triangle count + local clustering coefficient over "
        "the undirected page-transition graph, by degree-ordered edge "
        "orientation (each triangle found exactly once at its "
        "(degree,id)-minimal apex). Clustering is the standard "
        "community-structure / link-spam prior next to g1's authority "
        "prior. Orientation bounds the wedge join's per-key fan-out by "
        "the oriented out-degree (~sqrt(m)) — the trick that makes "
        "triangle counting survive hub nodes at crawl scale.",
    oracle=_G2_ORACLE,
)
def g2_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return triangle_counts_frame(undirected_page_edges(t.events))
