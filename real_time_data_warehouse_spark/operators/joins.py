"""Joins — SURVEY.md §2.3 (J1-J8).

The reference's join surface: regular streaming equi-joins with idle-state
TTL (DwdTradeOrderDetail.java:84-108), an event-time interval join
(DwdTradeOrderPaySucDetail.java:74-98), proctime lookup joins against HBase
dims (DwdInteractionCommentInfo.java:42-52), a 6-stage async dim-enrichment
chain with Redis cache-aside (DwsTradeSkuOrderWindow.java:480-619), and a
broadcast config-routing join (DimApp.java:283-298). Fixture mapping:
``lineitem``=order_detail, ``orders``=order_info, the dim chain
customer→nation→region / part / supplier plays sku→spu→tm→c3→c2→c1.

Spark-first design + scale notes:
- Fact⋈fact (J1-J4) shuffles on the join key — unavoidable and correct; at
  100 TB pre-bucketing both tables by the key removes the shuffle. We keep
  the declarative join and let AQE pick sort-merge vs shuffled-hash and
  handle skew.
- Fact⋈dim (J5, J6) uses explicit ``broadcast()`` — zero shuffle on the
  fact side, replacing the reference's entire async-IO + Redis cache tier
  (the cache exists only because Flink does per-record RPC lookups; a
  set-oriented broadcast hash join makes it structurally unnecessary).
- The interval join (J4) is a join with a time-range predicate; Spark plans
  an equi-join on the key with the range as post-filter, and in streaming
  the range bound doubles as the state-retention bound (watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.functions.money import dec, dec4
from real_time_data_warehouse_spark.registry import register
from real_time_data_warehouse_spark.tables import Tables


@register(
    "j1_inner_equi_join",
    survey="J1,F2,F3",
    doc="Regular inner equi-join order_detail ⋈ order_info "
        "(DwdTradeOrderDetail.java:84-108), with the reference's projection "
        "style: ids, date_id from the header ts, decimal split amount.",
    oracle="""
        SELECT l.l_orderkey AS order_id,
               l.l_linenumber AS line_id,
               l.l_partkey AS sku_id,
               o.o_custkey AS user_id,
               strftime(o.o_orderdate, '%Y-%m-%d') AS date_id,
               CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
                    AS DOUBLE) AS split_total_amount
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def j1_inner_equi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.join(t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey)
        .select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_linenumber").alias("line_id"),
            F.col("l_partkey").alias("sku_id"),
            F.col("o_custkey").alias("user_id"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("date_id"),
            dec4(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("double")
            .alias("split_total_amount"),
        )
    )


@register(
    "j2_left_outer_join",
    survey="J2",
    doc="Left outer join with null-padded non-matches (order_detail ⟕ "
        "order_detail_activity analog, DwdTradeOrderDetail.java:105-108). "
        "Spark's append-mode streaming outer join emits the padded row once "
        "the watermark passes — no retract storm to cancel (SURVEY §7.4.1).",
    oracle="""
        SELECT c.c_custkey AS user_id,
               c.c_mktsegment AS segment,
               o.o_orderkey AS order_id,
               COALESCE(o.o_orderstatus, 'NONE') AS order_status
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def j2_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.customer.join(t.orders, t.customer.c_custkey == t.orders.o_custkey, "left")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderkey").alias("order_id"),
            F.coalesce("o_orderstatus", F.lit("NONE")).alias("order_status"),
        )
    )


@register(
    "j3_filtered_inner_join",
    survey="J3,P5",
    doc="Order-cancel join: state-transition-filtered header ⋈ detail "
        "(DwdTradeOrderCancelDetail.java:69-90; 30-min state bound becomes "
        "a watermark in streaming).",
    oracle="""
        SELECT o.o_orderkey AS order_id,
               l.l_linenumber AS line_id,
               l.l_returnflag AS return_flag,
               CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)
                   AS split_amount
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F' AND l.l_returnflag = 'R'
    """,
)
def j3_filtered_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    cancelled = t.orders.where(F.col("o_orderstatus") == "F")
    returned = t.lineitem.where(F.col("l_returnflag") == "R")
    return cancelled.join(
        returned, cancelled.o_orderkey == returned.l_orderkey
    ).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_id"),
        F.col("l_returnflag").alias("return_flag"),
        dec("l_extendedprice").cast("double").alias("split_amount"),
    )


@register(
    "j4_interval_join",
    survey="J4,W5",
    doc="Event-time interval join: for each purchase, prior events of the "
        "same user within [ts - 30 min, ts] "
        "(DwdTradeOrderPaySucDetail.java:74-98 payment⋈order pattern). "
        "Aggregated to per-purchase counts to keep output bounded.",
    oracle="""
        SELECT p.event_id AS pay_id,
               CAST(COUNT(e.event_id) AS BIGINT) AS prior_events
        FROM events p JOIN events e
          ON p.user_id = e.user_id
         AND e.ts >= p.ts - INTERVAL 30 MINUTE
         AND e.ts < p.ts
        WHERE p.event_type = 'purchase'
        GROUP BY p.event_id
    """,
)
def j4_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    pay = t.events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pay_id"),
        F.col("user_id").alias("pay_user"),
        F.col("ts").alias("pay_ts"),
    )
    ev = t.events.select("event_id", "user_id", "ts")
    joined = pay.join(
        ev,
        (F.col("pay_user") == F.col("user_id"))
        & (F.col("ts") >= F.col("pay_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("ts") < F.col("pay_ts")),
    )
    return joined.groupBy("pay_id").agg(
        F.count("event_id").alias("prior_events")
    )


@register(
    "j5_lookup_dim_join",
    survey="J5,S10,F7",
    doc="Lookup (temporal) join FOR SYSTEM_TIME AS OF proctime against the "
        "base_dic dim (DwdInteractionCommentInfo.java:42-52) → stream-static "
        "broadcast join; the static side is re-read per micro-batch, which "
        "IS the as-of-processing-time semantics.",
    oracle="""
        SELECT c.c_custkey AS user_id,
               c.c_name AS user_name,
               n.n_name AS dic_name
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def j5_lookup_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.customer.join(
            F.broadcast(t.nation), t.customer.c_nationkey == t.nation.n_nationkey
        )
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_name").alias("user_name"),
            F.col("n_name").alias("dic_name"),
        )
    )


@register(
    "j6_dim_chain_join",
    survey="J6,S11",
    doc="6-stage dim enrichment chain sku→spu→tm→c3→c2→c1 "
        "(DwsTradeSkuOrderWindow.java:480-619): chained broadcast joins "
        "lineitem→part, →supplier→nation→region. Replaces async-IO + Redis "
        "cache-aside — the broadcast hash join is the cache.",
    oracle="""
        SELECT l.l_orderkey AS order_id,
               l.l_linenumber AS line_id,
               p.p_name AS sku_name,
               p.p_brand AS tm_name,
               s.s_name AS supplier_name,
               n.n_name AS nation_name,
               r.r_name AS region_name
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def j6_dim_chain_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.lineitem
        .join(F.broadcast(t.part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(t.supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_linenumber").alias("line_id"),
            F.col("p_name").alias("sku_name"),
            F.col("p_brand").alias("tm_name"),
            F.col("s_name").alias("supplier_name"),
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )


@register(
    "j7_broadcast_config_join",
    survey="J7,ST7,X2",
    doc="Broadcast config-routing join (DimApp.java:283-298 + "
        "TableProcessFunction): CDC stream × small config table keyed by "
        "source table/type → sink routing. Config is an inline DataFrame "
        "(re-created per micro-batch in streaming = always fresh; the "
        "reference's preload race disappears).",
    oracle="""
        SELECT e.event_id, e.event_type, cfg.sink_table
        FROM events e
        JOIN (VALUES ('click',    'dwd_click_log'),
                     ('view',     'dwd_page_view'),
                     ('purchase', 'dwd_trade_order')) AS cfg(source_type, sink_table)
          ON e.event_type = cfg.source_type
    """,
)
def j7_broadcast_config_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    config = spark.createDataFrame(
        [
            ("click", "dwd_click_log"),
            ("view", "dwd_page_view"),
            ("purchase", "dwd_trade_order"),
        ],
        ["source_type", "sink_table"],
    )
    return (
        t.events.join(F.broadcast(config), F.col("event_type") == F.col("source_type"))
        .select("event_id", "event_type", "sink_table")
    )


@register(
    "j8_semi_anti_join",
    survey="J8,X3",
    doc="Semi/anti joins (beyond the reference's surface, SURVEY §2.3 J8): "
        "customers with ≥1 order (semi) vs none (anti), tagged and unioned.",
    oracle="""
        SELECT c_custkey AS user_id, 'active' AS status
        FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
        UNION ALL
        SELECT c_custkey AS user_id, 'dormant' AS status
        FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def j8_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    active = t.customer.join(
        t.orders, t.customer.c_custkey == t.orders.o_custkey, "left_semi"
    ).select(F.col("c_custkey").alias("user_id"), F.lit("active").alias("status"))
    dormant = t.customer.join(
        t.orders, t.customer.c_custkey == t.orders.o_custkey, "left_anti"
    ).select(F.col("c_custkey").alias("user_id"), F.lit("dormant").alias("status"))
    return active.unionAll(dormant)


@register(
    "j8b_full_outer_join",
    survey="J8",
    doc="Full outer join (demoed only in the reference's Test02_SQL_JOIN."
        "java:70-74; first-class here): nations × per-nation customer "
        "counts on both sides of a key-partitioned universe, null-padded "
        "where either side is absent.",
    oracle="""
        SELECT COALESCE(a.k, b.k) AS nation_key,
               a.supplier_ct, b.customer_ct
        FROM (SELECT s_nationkey AS k, CAST(COUNT(*) AS BIGINT) AS supplier_ct
              FROM supplier GROUP BY s_nationkey) a
        FULL OUTER JOIN
             (SELECT c_nationkey AS k, CAST(COUNT(*) AS BIGINT) AS customer_ct
              FROM customer GROUP BY c_nationkey) b
          ON a.k = b.k
    """,
)
def j8b_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    a = t.supplier.groupBy(F.col("s_nationkey").alias("ka")).agg(
        F.count("*").alias("supplier_ct")
    )
    b = t.customer.groupBy(F.col("c_nationkey").alias("kb")).agg(
        F.count("*").alias("customer_ct")
    )
    return a.join(b, F.col("ka") == F.col("kb"), "full").select(
        F.coalesce("ka", "kb").alias("nation_key"),
        "supplier_ct",
        "customer_ct",
    )


_J9_DIM = (
    ("click", 1.5),
    ("view", 1.0),
    ("purchase", 3.0),
    ("signup", 2.0),
    ("error", 0.5),
)


@register(
    "j9_salted_skew_join",
    survey="J1,ext-scale",
    doc="Salted skew JOIN (the join-side sibling of a12's salted agg): "
        "the fact key is salted with a deterministic content hash, the "
        "dim replicated across all salts, and the join runs on "
        "(key, __salt) — one hot key's rows spread over 8 reducers "
        "instead of one. The dim side carries a shuffle_hash hint to "
        "stand in for a dim too large to broadcast (with a broadcast "
        "join salting would be vacuous — there is no shuffle to skew). "
        "Weighted totals aggregate through DECIMAL(18,4), exact for "
        "2-decimal values × 1-decimal weights.",
    oracle="""
        SELECT e.event_type,
               CAST(SUM(CAST(e.value * d.weight AS DECIMAL(18,4)))
                    AS DOUBLE) AS weighted_amount,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events e
        JOIN (VALUES ('click', 1.5), ('view', 1.0), ('purchase', 3.0),
                     ('signup', 2.0), ('error', 0.5))
             AS d(event_type, weight)
          ON e.event_type = d.event_type
        GROUP BY e.event_type
    """,
)
def j9_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.functions.money import dec4
    from real_time_data_warehouse_spark.functions.skew import salted_join

    t = Tables(spark, sf_dir)
    dim = spark.createDataFrame(
        list(_J9_DIM), "event_type string, weight double"
    ).hint("shuffle_hash")
    joined = salted_join(
        t.events.select("event_id", "event_type", "value"),
        dim,
        key="event_type",
        id_col="event_id",
    )
    return joined.groupBy("event_type").agg(
        F.sum(dec4(F.col("value") * F.col("weight")))
        .cast("double")
        .alias("weighted_amount"),
        F.count("*").alias("n"),
    )


@register(
    "j10_asof_join",
    survey="J5,ext-scale",
    doc="AS-OF (batch temporal) join: every event is matched to the most "
        "recent order of its customer at or before the event time — the "
        "batch form of Flink's event-time temporal table join "
        "(reference: TableApi temporal joins / DimApp lookup-by-time "
        "semantics), and the standard point-in-time join of feature "
        "stores and training-data pipelines (no feature leakage from the "
        "future). Spark has no native as-of join, and a range join "
        "(o_orderdate <= ts) explodes to |events| x |orders-per-key| "
        "pairs; instead both inputs are UNIONED on the key and a single "
        "window pass carries the last seen order forward onto each event "
        "row (last(ignorenulls) over rows-unbounded-preceding). ONE "
        "shuffle on the key, per-row state o(1) — the 100 TB shape. "
        "Ties (same customer, same order date) break to the max "
        "o_orderkey; same-instant orders are visible to the event "
        "(kind-ordered sort puts orders first).",
    oracle="""
        WITH ranked AS (
            SELECT e.event_id, e.user_id, e.ts, e.event_type,
                   o.o_orderkey, o.o_orderdate,
                   CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.event_id
                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
                   ) AS rn
            FROM events e
            LEFT JOIN orders o
              ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        )
        SELECT event_id, user_id, ts, event_type,
               o_orderkey AS asof_orderkey,
               o_orderdate AS asof_orderdate,
               o_totalprice AS asof_totalprice
        FROM ranked WHERE rn = 1
    """,
)
def j10_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    # kind 0 = order (state), kind 1 = event (probe): at equal timestamps
    # orders sort first, so an order at exactly the event time is visible
    orders = t.orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("string").alias("event_type"),
        F.col("o_orderkey"),
        F.col("o_orderdate"),
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    events = t.events.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("kind"),
        "event_id",
        "event_type",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp").alias("o_orderdate"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    # one window pass: within a key, ascending time; among equal-date
    # orders the max o_orderkey sorts last, so last() picks it — the same
    # tie-break the oracle's ORDER BY ... o_orderkey DESC encodes
    w = (
        Window.partitionBy("k")
        .orderBy("t", "kind", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = orders.unionByName(events).select(
        "k", "t", "kind", "event_id", "event_type",
        F.last("o_orderkey", ignorenulls=True).over(w).alias("asof_orderkey"),
        F.last("o_orderdate", ignorenulls=True).over(w).alias("asof_orderdate"),
        F.last("o_totalprice", ignorenulls=True).over(w).alias("asof_totalprice"),
    )
    return carried.where(F.col("kind") == 1).select(
        "event_id",
        F.col("k").alias("user_id"),
        F.col("t").alias("ts"),
        "event_type",
        "asof_orderkey",
        "asof_orderdate",
        "asof_totalprice",
    )


# j11 price bands — deliberately NON-uniform [lo, hi) intervals so the
# bin-cover trick is doing real work (uniform bands would reduce to a
# trivial floor(price/width) equi-join with no residual).
_J11_BANDS = (
    ("low", 0, 50_000),
    ("mid", 50_000, 150_000),
    ("high", 150_000, 300_000),
    ("premium", 300_000, 500_000),
)
_J11_BIN_W = 50_000


def _j11_bands_sql() -> str:
    return ", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _J11_BANDS)


@register(
    "j11_range_join",
    survey="J4,ext-scale",
    doc="Bin-cover RANGE join: orders are banded by non-uniform "
        "[lo, hi) price intervals. A naive theta-join (lo <= price AND "
        "price < hi) plans as broadcast-nested-loop — every row tests "
        "every band, O(|facts| x |bands|) compares and no pruning at "
        "100 TB band counts. Instead each band is expanded to the fixed-"
        "width bins it overlaps (driver-side, |bands| x bins/band rows), "
        "the fact computes bin = floor(price / width) map-side, and the "
        "join runs as a broadcast HASH join on the bin key with the "
        "range check as residual — each fact row meets only the bands "
        "covering its bin. The standard interval-index trick for range/"
        "interval joins, declared so Catalyst still sees an equi-join. "
        "Money through DECIMAL(18,2) (exact for 2-decimal inputs).",
    oracle=f"""
        SELECT d.band,
               CAST(d.lo AS BIGINT) AS lo,
               CAST(d.hi AS BIGINT) AS hi,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS total_amount
        FROM orders o
        JOIN (VALUES {_j11_bands_sql()}) AS d(band, lo, hi)
          ON o.o_totalprice >= d.lo AND o.o_totalprice < d.hi
        GROUP BY d.band, d.lo, d.hi
    """,
)
def j11_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    # band → covered bins, expanded driver-side (tiny: |bands| x bins/band)
    expanded = [
        (band, lo, hi, b)
        for band, lo, hi in _J11_BANDS
        for b in range(lo // _J11_BIN_W, (hi - 1) // _J11_BIN_W + 1)
    ]
    bins = spark.createDataFrame(
        expanded, "band string, lo bigint, hi bigint, bin bigint"
    )
    facts = t.orders.select(
        "o_totalprice",
        F.floor(F.col("o_totalprice") / _J11_BIN_W).cast("bigint").alias("bin"),
    )
    joined = facts.join(F.broadcast(bins), "bin").where(
        (F.col("o_totalprice") >= F.col("lo"))
        & (F.col("o_totalprice") < F.col("hi"))
    )
    return joined.groupBy("band", "lo", "hi").agg(
        F.count("*").alias("n_orders"),
        F.sum(dec("o_totalprice")).cast("double").alias("total_amount"),
    )


# --- j12: bucketed co-located fact⋈fact join -------------------------------
# bucketing.py's zero-shuffle claim as a DRIVER-VERIFIED row (previously
# pytest-only): the one-time bucketed write is a session artifact
# (artifacts.py) — exactly a deployment's amortization model, where many
# queries read one bucketed table.

_J12_BUCKETS = 8


def _j12_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import hashlib

    from real_time_data_warehouse_spark import artifacts
    from real_time_data_warehouse_spark.bucketing import write_bucketed

    sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    names = (f"j12_orders_{sfx}", f"j12_lineitem_{sfx}")
    if not all(spark.catalog.tableExists(n) for n in names):
        # the dir outlives its table registrations (dropped tables, a
        # fresh catalog): reclaim it and rebuild both together
        artifacts.evict(artifacts.key(spark, sf_dir, "j12"))

    def build(base: str) -> None:
        t = Tables(spark, sf_dir)
        write_bucketed(
            t.orders.select("o_orderkey", "o_orderpriority"),
            names[0],
            "o_orderkey",
            _J12_BUCKETS,
            f"{base}/orders",
        )
        write_bucketed(
            t.lineitem.select("l_orderkey", "l_extendedprice", "l_discount"),
            names[1],
            "l_orderkey",
            _J12_BUCKETS,
            f"{base}/lineitem",
        )

    artifacts.artifact_dir(spark, sf_dir, "j12", build)
    return names


@register(
    "j12_bucketed_join",
    survey="J1,ext-scale",
    doc=f"Bucketed co-located fact⋈fact join: orders and lineitem are "
        f"written ONCE as {_J12_BUCKETS}-bucket sorted tables on their "
        "order keys (the session-cached artifact; at 100 TB that write "
        "is the single shuffle every later same-key query skips), then "
        "the revenue-by-priority join plans a SortMergeJoin with NO "
        "exchange and NO per-query sort on either side — "
        "tests/test_plans.py asserts the shape, the driver checks the "
        "values. This is the Spark answer to Flink's per-job keyBy "
        "re-shuffle: co-location amortized into the table layout, the "
        "DWD→DWS fan-out economics of the reference warehouse "
        "(SURVEY §2.3). Revenue folds in DECIMAL(18,4) (exact, "
        "associative) before the final double cast.",
    oracle="""
        SELECT o.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2))
                           - CAST(l.l_discount AS DECIMAL(18,2))))
                    AS DOUBLE) AS revenue
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderpriority
    """,
)
def j12_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.bucketing import read_bucketed

    on, ln = _j12_tables(spark, sf_dir)
    orders = read_bucketed(spark, on)
    lineitem = read_bucketed(spark, ln)
    # hint("merge"): pin the SortMergeJoin path DECLARATIVELY. At
    # bench scale the orders side slips under the broadcast threshold
    # and the planner would pick BroadcastHashJoin — trivially
    # shuffle-free and proving nothing about co-location (round-10
    # drift adjudication found exactly that had happened). The hint
    # travels with the plan (no session-conf scoping race) and at
    # 100 TB — where neither fact side broadcasts — it is what the
    # planner picks anyway.
    joined = orders.hint("merge").join(
        lineitem, F.col("o_orderkey") == F.col("l_orderkey")
    )
    revenue = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.sum(revenue).cast("double").alias("revenue"),
    )
