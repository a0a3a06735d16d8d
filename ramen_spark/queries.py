"""The engine's query inventory — SURVEY §2 operators as (Spark, oracle) pairs.

Every entry is one operator/capability from SURVEY §2 (or a
training-pipeline extension) expressed twice:

- a Spark callable ``(spark, sf_dir) -> DataFrame`` built on
  ramen_spark operators/functions;
- an equivalent ANSI-SQL string DuckDB runs over the same parquet —
  the correctness oracle. ``None`` marks genuinely non-SQL-expressible
  ops (sequential recurrences, Python-seeded LSH planes); the driver
  then records a rows-only check.

Cross-engine determinism rules used throughout (keep when adding):
- time arithmetic in integer MICROSECONDS: Spark ``unix_micros`` ≡
  DuckDB ``epoch_us`` (events.ts is µs on both after catalog
  normalization);
- every float output rounded (2dp money sums, 6dp ratios/averages)
  with the SAME expression shape on both sides so double rounding is
  bit-identical;
- hashes are md5 (identical in both engines), never engine-native;
- every ranking has a total order (score desc, id asc).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ramen_spark.catalog import load_table
from ramen_spark.functions import scalar as S
from ramen_spark.functions import text as Tx
from ramen_spark.operators import dedup as D
from ramen_spark.operators import series as Ser
from ramen_spark.operators import similarity as Sim
from ramen_spark.operators import topk as TopK
from ramen_spark.operators import windows as Wn

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ===========================================================================
# 1. Relational / RaQL-Aggregate core (SURVEY §2.2)
# ===========================================================================


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                 AS sum_qty,
           round(sum(l_extendedprice), 2)                            AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)         AS sum_disc_price,
           round(avg(l_quantity), 6)                                 AS avg_qty,
           round(avg(l_discount), 6)                                 AS avg_disc,
           count(*)                                                  AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped full-scan aggregate: the canonical groupBy+agg
    (RaQL `GROUP BY` + stateless select, SURVEY §2.2). Map-side partial
    agg → 1 shuffle carrying ≤ |groups| rows per partition."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "tumbling_revenue_per_minute",
    """
    SELECT event_type,
           epoch_us(ts) // 60000000                                   AS minute_bucket,
           count(*)                                                   AS n,
           round(sum(value), 6)                                       AS sum_value,
           round(avg(value) FILTER (WHERE value > 10), 6)             AS avg_big_value
    FROM events
    GROUP BY event_type, minute_bucket
    """,
)
def tumbling_revenue_per_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship benchmark shape (site/blog/2019-02.php):
    per-minute tumbling GROUP BY with SUM + conditional AVG — RaQL
    ``GROUP BY type, time//60 COMMIT AFTER in.time > out.time + slack``
    lowered to a native tumbling aggregate (a plain Catalyst ``groupBy``
    on the minute bucket, as plans.raql.compile_operation lowers it).
    One shuffle; windows never buffer raw rows."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 60000000").alias("minute_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 6).alias("sum_value"),
        F.round(F.avg(F.when(F.col("value") > 10, F.col("value"))), 6).alias("avg_big_value"),
    )


@register(
    "global_aggregate",
    """
    SELECT min(l_quantity)                    AS min_qty,
           max(l_quantity)                    AS max_qty,
           round(sum(l_quantity), 2)          AS sum_qty,
           round(avg(l_extendedprice), 6)     AS avg_price,
           count(*)                           AS n_rows,
           count(DISTINCT l_orderkey)         AS n_orders
    FROM lineitem
    """,
)
def global_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No GROUP BY ⇒ one global group (reference semantics,
    src/CodeGenLib_Skeletons.ml:720 'single global group'); parity with
    tests/func/basic_aggr.ramen."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register(
    "where_select_projection",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 2)           AS revenue,
           round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS charged,
           upper(l_returnflag)                                    AS flag
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1995-01-01' AND l_quantity >= 30
    """,
)
def where_select_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE + stateless SELECT (RaQL fast-path filter,
    src/CodeGenLib_Skeletons.ml:477). Both predicates reach the parquet
    scan as PushedFilters; only 8 of 16 columns are read."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp")) & (F.col("l_quantity") >= 30)
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue"),
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), 2
        ).alias("charged"),
        F.upper("l_returnflag").alias("flag"),
    )


@register(
    "union_two_sources",
    """
    SELECT src, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM (
      SELECT 'urgent' AS src, o_totalprice FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      UNION ALL
      SELECT 'normal' AS src, o_totalprice FROM orders
      WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
    ) u
    GROUP BY src
    """,
)
def union_two_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FROM f1, f2 — parents' outputs interleaved into one stream
    (SURVEY §1.1: union-all, src/RingBuf.ml:4-6). unionByName then
    aggregate."""
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).select(
        F.lit("urgent").alias("src"), "o_totalprice"
    )
    normal = o.filter(~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).select(
        F.lit("normal").alias("src"), "o_totalprice"
    )
    return (
        urgent.unionByName(normal)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@register(
    "join_revenue_by_region",
    """
    SELECT r_name,
           count(*)                         AS n_orders,
           round(sum(o_totalprice), 2)      AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def join_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrichment joins (beyond-reference extension — RaQL has no joins,
    SURVEY §2.4 'Joins: none'). Dimensions are explicitly broadcast:
    the fact table never shuffles for the join, only for the final
    small groupBy."""
    o = _t(spark, sf_dir, "orders")
    c = F.broadcast(_t(spark, sf_dir, "customer"))
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


@register(
    "case_when_tiers",
    """
    SELECT event_type,
           CASE WHEN value < 10 THEN 'low' WHEN value < 100 THEN 'mid' ELSE 'high' END AS tier,
           count(*)               AS n,
           round(sum(value), 6)   AS sum_value
    FROM events
    GROUP BY event_type, tier
    """,
)
def case_when_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN … (RaQL conditionals, raql_expr.type:24)."""
    ev = _t(spark, sf_dir, "events")
    tier = (
        F.when(F.col("value") < 10, "low").when(F.col("value") < 100, "mid").otherwise("high")
    ).alias("tier")
    return ev.groupBy("event_type", tier).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value")
    )


@register(
    "cube_rollup_totals",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*)                  AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (extension; absent in reference — SURVEY §2.4
    'Grouping sets: absent')."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n")
    )


@register(
    "pivot_event_counts",
    """
    SELECT user_id,
           CAST(count_if(event_type = 'click')    AS BIGINT) AS n_click,
           CAST(count_if(event_type = 'view')     AS BIGINT) AS n_view,
           CAST(count_if(event_type = 'purchase') AS BIGINT) AS n_purchase,
           CAST(count_if(event_type = 'error')    AS BIGINT) AS n_error,
           CAST(count_if(event_type = 'signup')   AS BIGINT) AS n_signup
    FROM events
    GROUP BY user_id
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot — the reference compiles pivot configs to RaQL
    (src/CodeGen_Pivot2RaQL.ml, src/pivot.type:1-34): per-value count
    columns."""
    ev = _t(spark, sf_dir, "events")
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in ("click", "view", "purchase", "error", "signup")
    ]
    return ev.groupBy("user_id").agg(*aggs)


@register(
    "split_word_count",
    r"""
    SELECT word, count(*) AS n
    FROM (
      SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS word
      FROM documents
    ) w
    WHERE word <> ''
    GROUP BY word
    HAVING count(*) >= 10
    """,
)
def split_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT generator (doc/raql/expr.ml:1028) ≡ explode(split()):
    word count, parity with tests/func/word_count.ramen."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(Tx.normalized_text(F.col("text")), " ")).alias("word")
    ).filter(F.col("word") != "")
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") >= 10)


# ===========================================================================
# 2. Stateful / windowed series ops (SURVEY §2.4)
# ===========================================================================


@register(
    "top_users_by_value",
    """
    SELECT user_id, round(sum(value), 6) AS weight,
           row_number() OVER (ORDER BY round(sum(value), 6) DESC, user_id ASC) AS rank
    FROM events
    GROUP BY user_id
    QUALIFY rank <= 10
    """,
)
def top_users_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP n x BY w (heavy hitters, src/HeavyHitters.ml) — exact via
    aggregate+rank (operators.topk): strictly better than the
    reference's approximation, same API surface."""
    ev = _t(spark, sf_dir, "events")
    grouped = ev.groupBy("user_id").agg(F.round(F.sum("value"), 6).alias("weight"))
    order = [F.col("weight").desc(), F.col("user_id").asc()]
    # orderBy+limit → TakeOrderedAndProject (per-partition 10-row heaps,
    # no global sort); rank assigned on the 10-row result only.
    return TopK._rank_small(grouped.orderBy(*order).limit(10), order)


@register(
    "top_users_above_sigmas",
    """
    WITH g AS (
      SELECT user_id, sum(value) AS w FROM events GROUP BY user_id
    ), s AS (
      SELECT avg(w) AS mw, stddev_pop(w) AS sw FROM g
    )
    SELECT user_id, round(w, 6) AS weight,
           row_number() OVER (ORDER BY w DESC, user_id ASC) AS rank
    FROM g, s
    WHERE w >= mw + 1.0 * coalesce(sw, 0)
    QUALIFY rank <= 10
    """,
)
def top_users_above_sigmas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP n x BY w ABOVE s SIGMAS (raql_expr.type:328-346,
    HeavyHitters.ml:193-210): drop contributors whose weight is within
    s stddevs of the mean before ranking — the reference's noise
    filter, exact. Stats are a broadcast 1-row aggregate over the
    already-aggregated keyset (operators.topk._sigma_filter); rounding
    applied after the filter so the threshold compares unrounded sums
    on both sides."""
    ev = _t(spark, sf_dir, "events")
    top = TopK.top_list(ev, ["user_id"], 10, weight=F.col("value"), sigmas=1.0)
    return top.select(
        "user_id", F.round(F.col("weight"), 6).alias("weight"), "rank"
    )


@register(
    "decayed_top_users",
    """
    WITH t AS (
      SELECT user_id, value, epoch_us(ts)/1000000.0 AS ts_s,
             max(epoch_us(ts)/1000000.0) OVER () AS now_s
      FROM events
    ), g AS (
      SELECT user_id, sum(value * pow(2.0, -(now_s - ts_s)/604800.0)) AS w
      FROM t GROUP BY user_id
    )
    SELECT user_id, round(w, 6) AS weight,
           row_number() OVER (ORDER BY w DESC, user_id ASC) AS rank
    FROM g QUALIFY rank <= 10
    """,
)
def decayed_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP n ... FOR THE LAST d — exponentially-decayed heavy hitters
    (src/HeavyHitters.ml decay semantics), half-life = 7 days,
    'now' = max event time (batch replay semantics)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts_s", F.unix_micros("ts") / F.lit(1000000.0)
    )
    top = TopK.decayed_top(
        ev, ["user_id"], 10, "ts_s", half_life_seconds=7 * 86400.0, weight=F.col("value")
    )
    return top.select("user_id", F.round("weight", 6).alias("weight"), "rank")


@register(
    "largest_orders_per_priority",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
    FROM orders
    QUALIFY rank <= 3
    """,
)
def largest_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LARGEST n x BY w per group (doc/raql/expr.ml:950) — window rank."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rank")
    )


@register(
    "lag_derive_rate",
    """
    SELECT event_id,
           round((value - lag(value) OVER w)
                 / ((epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0), 6) + 0.0 AS rate
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    QUALIFY rate IS NOT NULL
    """,
)
def lag_derive_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG + DERIVE (doc/raql/expr.ml:837; raql_expr.type:260): dv/dt
    between consecutive events per user. One shuffle+sort on user_id."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    rate = F.round(
        (F.col("value") - F.lag("value").over(w)) / ((us - F.lag(us).over(w)) / F.lit(1000000.0)),
        6,
    )
    # `+ 0.0` on BOTH sides canonicalizes IEEE -0.0 → +0.0 (DuckDB's
    # double round emits -0.0 for tiny negatives; Spark's BigDecimal
    # round never does — numerically equal, hash-different).
    rate = rate + F.lit(0.0)
    return ev.select("event_id", rate.alias("rate")).filter(F.col("rate").isNotNull())


@register(
    "moveavg_per_type",
    """
    SELECT event_id,
           round(avg(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS ma5
    FROM events
    """,
)
def moveavg_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-MOVEAVG (doc/raql/expr.ml:888): mean of last 5 values."""
    ev = _t(spark, sf_dir, "events")
    # operators.series.moveavg with a fully deterministic order (ts, event_id)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id").rowsBetween(-4, 0)
    return ev.select("event_id", F.round(F.avg("value").over(w), 6).alias("ma5"))


@register(
    "percentiles_by_flag",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6) AS p50,
           round(quantile_cont(l_quantity, 0.9), 6) AS p90,
           round(quantile_cont(l_quantity, 0.99), 6) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def percentiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p PERCENTILE v (doc/raql/expr.ml:681) — exact continuous
    percentile (Spark `percentile` ≡ DuckDB quantile_cont)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("l_quantity", F.lit(0.99)), 6).alias("p99"),
    )


@register(
    "histogram_event_values",
    """
    SELECT CASE WHEN value < 0 THEN 0
                WHEN value >= 200 THEN 11
                ELSE CAST(floor((value - 0) / 20.0) AS INT) + 1 END AS bucket,
           count(*) AS n
    FROM events
    GROUP BY bucket
    """,
)
def histogram_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HISTOGRAM(x, 0, 200, 10) (doc/raql/expr.ml:784): 10 buckets + 2
    overflow buckets, as groupBy over the bucket expression."""
    ev = _t(spark, sf_dir, "events")
    bucket = S.histogram(F.col("value"), 0.0, 200.0, 10).alias("bucket")
    return ev.groupBy(bucket).agg(F.count(F.lit(1)).alias("n"))


@register(
    "distinct_users_per_type",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*)                AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT x (exact, doc/raql/expr.ml:816) in its count form."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"), F.count(F.lit(1)).alias("n_events")
    )


@register(
    "first_last_per_user",
    """
    SELECT user_id,
           min(ev_first) AS first_value,
           min(ev_last)  AS last_value,
           count(*)      AS n
    FROM (
      SELECT user_id,
             first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ev_first,
             first_value(value) OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS ev_last
      FROM events
    ) t
    GROUP BY user_id
    """,
)
def first_last_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST/LAST in arrival order (raql_expr.type:235-237) — explicit
    event-time order stands in for arrival order in batch."""
    ev = _t(spark, sf_dir, "events")
    wf = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wl = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.select(
            "user_id",
            F.first("value").over(wf).alias("ev_first"),
            F.first("value").over(wl).alias("ev_last"),
        )
        .groupBy("user_id")
        .agg(
            F.min("ev_first").alias("first_value"),
            F.min("ev_last").alias("last_value"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "one_out_of_10",
    """
    SELECT event_id, event_type
    FROM (
      SELECT event_id, event_type,
             row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
      FROM events
    ) t
    WHERE (rn - 1) % 10 = 0
    """,
)
def one_out_of_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE OUT OF n (doc/raql/expr.ml:879): deterministic 1-in-10
    decimation per type."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") - 1) % 10 == 0)
        .select("event_id", "event_type")
    )


@register(
    "remember_seen_within_hour",
    """
    SELECT event_id,
           coalesce(epoch_us(ts) - lag(epoch_us(ts)) OVER
                    (PARTITION BY user_id, event_type ORDER BY ts, event_id)
                    <= 3600000000, false) AS seen_before
    FROM events
    """,
)
def remember_seen_within_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REMEMBER(fpr, t, 1h, key) (doc/raql/expr.ml:926,
    src/RamenBloomFilter.ml): 'seen within the last hour?'. Exact via
    lag over (user,type) — refresh-on-sight semantics — instead of the
    reference's lossy rotating bloom filter."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    seen = F.coalesce((us - F.lag(us).over(w)) <= 3600 * 1000000, F.lit(False))
    return ev.select("event_id", seen.alias("seen_before"))


@register(
    "sessionize_users",
    """
    SELECT user_id,
           count(*) AS n_events,
           CAST(count_if(gap_us IS NULL OR gap_us > 1800000000) AS BIGINT) AS n_sessions
    FROM (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ) t
    GROUP BY user_id
    """,
)
def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gap > 30 min starts a new session) — lag + count
    of session starts (first event's NULL gap counts as a start).
    RaQL expresses this with COMMIT AFTER age(...)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = (us - F.lag(us).over(w)).alias("gap_us")
    t = ev.select("user_id", gap)
    return t.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col("gap_us").isNull() | (F.col("gap_us") > 1800 * 1000000), 1)).alias(
            "n_sessions"
        ),
    )


@register(
    "timeseries_spread_buckets",
    """
    WITH ev AS (
      SELECT epoch_us(ts) / 1000000.0 AS start,
             epoch_us(ts) / 1000000.0 + 300.0 AS stop,
             value
      FROM events
      WHERE epoch_us(ts) < 1704153600000000  -- first day only
    ),
    buckets AS (SELECT unnest(generate_series(0, 287)) AS bucket)
    SELECT b.bucket,
           1704067200.0 + b.bucket * 300.0 AS bucket_start,
           round(sum(e.value * ((least(e.stop, 1704067200.0 + (b.bucket + 1) * 300.0)
                                 - greatest(e.start, 1704067200.0 + b.bucket * 300.0))
                                / (e.stop - e.start))), 6) AS sum_value,
           count(*) AS n_events
    FROM ev e
    JOIN buckets b
      ON e.stop > 1704067200.0 + b.bucket * 300.0
     AND e.start < 1704067200.0 + (b.bucket + 1) * 300.0
    GROUP BY b.bucket
    """,
)
def timeseries_spread_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ramen timeseries` regular-grid bucketing with interval events
    spread across overlapped buckets weighted by overlap fraction
    (src/RamenTimeseries.ml:42-47). Events get a 300 s duration; grid =
    one day of 5-minute buckets. Implementation: explode(sequence) →
    groupBy — see operators.windows.timeseries."""
    ev = _t(spark, sf_dir, "events")
    day0 = 1704067200.0  # 2024-01-01 UTC
    ev = ev.filter(F.unix_micros("ts") < 1704153600000000).select(
        (F.unix_micros("ts") / F.lit(1000000.0)).alias("start"),
        (F.unix_micros("ts") / F.lit(1000000.0) + 300.0).alias("stop"),
        "value",
    )
    ts = Wn.timeseries(ev, "start", "stop", "value", 300.0, day0, day0 + 86400.0)
    return ts.select(
        "bucket",
        "bucket_start",
        F.round("sum_value", 6).alias("sum_value"),
        "n_events",
    )


@register(
    "timeseries_minmax_hourly",
    """
    WITH ev AS (
      SELECT epoch_us(ts) / 1000000.0 AS start, value
      FROM events
      WHERE epoch_us(ts) < 1704153600000000  -- first day only
    )
    SELECT CAST(floor((start - 1704067200.0) / 3600.0) AS BIGINT) AS bucket,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value,
           count(*) AS n_events
    FROM ev
    GROUP BY 1
    """,
)
def timeseries_minmax_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket value extremes on the regular grid — the min/max
    consolidation tiers the serving APIs expose (api.py render /
    get-timeseries; src/RamenTimeseries.ml consolidation). Point
    events (stop = start) land wholly in their bucket — the oracle is
    the plain floor-bucket grouping, proving the ceil−1 boundary
    arithmetic agrees with it exactly at epoch magnitudes."""
    ev = _t(spark, sf_dir, "events")
    day0 = 1704067200.0
    ev = ev.filter(F.unix_micros("ts") < 1704153600000000).select(
        (F.unix_micros("ts") / F.lit(1000000.0)).alias("start"),
        "value",
    )
    ts = Wn.timeseries(ev, "start", "start", "value", 3600.0, day0, day0 + 86400.0)
    return ts.select(
        "bucket",
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"),
        "n_events",
    )


# ===========================================================================
# 3. Text analysis (training-pipeline extensions over `documents`)
# ===========================================================================

_NORM_SQL = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"


@register(
    "doc_fingerprints",
    f"""
    SELECT doc_id, md5({_NORM_SQL}) AS fp, length(text) AS n_chars_actual
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (md5 of normalized text) — the dedup
    primary key. md5 so the oracle reproduces values exactly."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        Tx.fingerprint(F.col("text")).alias("fp"),
        F.length("text").alias("n_chars_actual"),
    )


@register(
    "dedup_exact",
    f"""
    SELECT md5({_NORM_SQL}) AS fp,
           min(doc_id) AS keep_id,
           count(*)    AS n_copies
    FROM documents
    GROUP BY fp
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the 32-byte fingerprint — shuffle
    volume independent of document size (operators.dedup.exact_dedup)."""
    return D.exact_dedup(_t(spark, sf_dir, "documents"))


@register(
    "token_stats_by_source",
    r"""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))) AS BIGINT) AS total_tokens,
           round(avg(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))), 6) AS avg_tokens,
           round(avg(length(text)), 6) AS avg_chars
    FROM documents
    GROUP BY source
    """,
)
def token_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting rolled up per source."""
    docs = _t(spark, sf_dir, "documents")
    ntok = Tx.token_count(F.col("text"))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok).alias("total_tokens"),
        F.round(F.avg(ntok), 6).alias("avg_tokens"),
        F.round(F.avg(F.length("text")), 6).alias("avg_chars"),
    )


@register(
    "bpe_token_counts",
    r"""
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z0-9]+|[^\sA-Za-z0-9]')) AS bpe_tokens
    FROM documents
    """,
)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish regex token counts per document."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        Tx.token_count(F.col("text")).alias("ws_tokens"),
        Tx.bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    )


def _pii_aug_sql() -> str:
    # synthesized PII riding on real text: the synthetic corpus carries
    # no emails/IPs, so the query plants deterministic matches from
    # table columns — the SAME expression in both engines, making the
    # oracle exercise actual redactions, not a vacuous no-op
    return (
        "text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'"
        " || ' from 10.0.0.' || CAST(doc_id % 250 AS VARCHAR)"
        " || ' call +14155550' || CAST(doc_id % 100 AS VARCHAR)"
    )


def _pii_sql() -> str:
    from ramen_spark.functions.text import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
    )

    red = "t"
    for pat, tok in (
        (PII_EMAIL_RE, "<EMAIL>"),
        (PII_IPV4_RE, "<IP>"),
        (PII_PHONE_RE, "<PHONE>"),
    ):
        red = f"regexp_replace({red}, '{pat}', '{tok}', 'g')"
    return f"""
    WITH aug AS (SELECT doc_id, {_pii_aug_sql()} AS t FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(t, '{PII_IPV4_RE}')) AS n_ips,
           len(regexp_extract_all(t, '{PII_PHONE_RE}')) AS n_phones,
           {red} AS redacted
    FROM aug
    """


@register("pii_redaction", _pii_sql())
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (functions.text.redact_pii — the C4/RefinedWeb
    curation stage): per-class match counts plus the typed-placeholder
    redaction, all row-local JVM regexes in the Java∩RE2 common subset
    so DuckDB verifies the identical expressions. The query plants
    deterministic PII from table columns (see _pii_aug_sql) since the
    synthetic corpus carries none."""
    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0.0."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(" call +14155550"),
            (F.col("doc_id") % 100).cast("string"),
        ).alias("t"),
    )
    counts = Tx.pii_counts(F.col("t"))
    return aug.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_ips"].alias("n_ips"),
        counts["n_phones"].alias("n_phones"),
        Tx.redact_pii(F.col("t")).alias("redacted"),
    )


_BLOCKED_DOMAINS = ["src3.test", "src7.test", "src11.test", "sub0.src5.test"]


def _blocked_domain_sql() -> str:
    from ramen_spark.functions.text import REG_DOMAIN_RE, URL_HOST_RE

    bl = ", ".join(f"'{d}'" for d in _BLOCKED_DOMAINS)
    return f"""
    WITH aug AS (
      SELECT doc_id,
             'https://sub' || CAST(doc_id % 3 AS VARCHAR) || '.' || source
               || '.test/p' AS url
      FROM documents),
    hosts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '{URL_HOST_RE}', 1)) AS host
      FROM aug)
    SELECT doc_id, host
    FROM hosts
    WHERE regexp_extract(host, '{REG_DOMAIN_RE}', 1) NOT IN ({bl})
      AND host NOT IN ({bl})
    """


@register("blocked_domain_filter", _blocked_domain_sql())
def blocked_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain blocklist curation (functions.text.
    filter_blocked_domains — the UT1/RefinedWeb stage): drop documents
    whose host is a blocked registrable domain, any subdomain of one,
    or an exactly-blocked host. Two broadcast EQUI-anti-joins (never a
    per-row scan over the list); URLs are synthesized from table
    columns since the corpus's sources aren't URLs."""
    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://sub"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit("."),
            F.col("source"),
            F.lit(".test/p"),
        ).alias("url"),
    )
    kept = Tx.filter_blocked_domains(aug, _BLOCKED_DOMAINS, url_col="url")
    return kept.select("doc_id", Tx.url_host(F.col("url")).alias("host"))


def _fp_sql(texpr: str) -> str:
    return rf"md5(trim(regexp_replace(lower({texpr}), '\s+', ' ', 'g')))"


@register(
    "corpus_diff",
    f"""
    WITH old AS (
      SELECT doc_id, {_fp_sql('text')} AS old_fp
      FROM documents WHERE doc_id % 7 <> 0),
    new AS (
      SELECT doc_id,
             {_fp_sql("CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END")} AS new_fp
      FROM documents WHERE doc_id % 5 <> 0)
    SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old.doc_id IS NULL THEN 'added'
                WHEN new.doc_id IS NULL THEN 'removed'
                ELSE 'changed' END AS status,
           old_fp, new_fp
    FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
    WHERE old.doc_id IS NULL OR new.doc_id IS NULL
       OR old_fp IS DISTINCT FROM new_fp
    """,
)
def corpus_diff_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (operators.dedup.corpus_diff — the
    retraining audit): previous snapshot = docs with id % 7 ≠ 0, next
    snapshot = docs with id % 5 ≠ 0 and an edited text for id % 11 = 0
    — deterministic synthesis from one table exercising all three
    statuses. Fingerprints-only full-outer join; text never
    shuffles."""
    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return D.corpus_diff(old, new)


@register(
    "training_order",
    """
    WITH ranked AS (
      SELECT doc_id, lang,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#1'), 1, 12))::BIGINT AS rank
      FROM documents)
    SELECT doc_id, lang, rank,
           CAST(rank % 8 AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY rank % 8 ORDER BY rank, doc_id) AS BIGINT) AS pos
    FROM ranked
    """,
)
def training_order_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle
    (operators.sampling.training_order): seed-keyed md5 rank, shard =
    rank mod 8, per-shard position — no global sort, one hash
    exchange. Re-running with the same seed is bit-identical (the
    sampling module's determinism contract)."""
    from ramen_spark.operators.sampling import training_order

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = training_order(docs, seed=1, shards=8)
    return out.select(
        "doc_id", "lang", "rank", "shard", F.col("pos").cast("long").alias("pos")
    )


def _lang_hits_sql(lang: str) -> str:
    from ramen_spark.functions.text import LANG_MARKERS

    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        r"len(list_filter(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> ''), "
        f"x -> list_contains([{markers}], x)))"
    )


@register(
    "language_id_counts",
    f"""
    SELECT lang AS actual_lang,
           CASE WHEN {_lang_hits_sql('en')} >= {_lang_hits_sql('es')}
                 AND {_lang_hits_sql('en')} >= {_lang_hits_sql('fr')}
                 AND {_lang_hits_sql('en')} >= {_lang_hits_sql('de')} THEN 'en'
                WHEN {_lang_hits_sql('es')} >= {_lang_hits_sql('fr')}
                 AND {_lang_hits_sql('es')} >= {_lang_hits_sql('de')} THEN 'es'
                WHEN {_lang_hits_sql('fr')} >= {_lang_hits_sql('de')} THEN 'fr'
                ELSE 'de' END AS detected_lang,
           count(*) AS n
    FROM documents
    GROUP BY actual_lang, detected_lang
    """,
)
def language_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID (marker-word heuristic) — confusion matrix against
    the corpus's ground-truth lang column."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang").alias("actual_lang"),
            Tx.detect_language(F.col("text")).alias("detected_lang"),
        )
        .groupBy("actual_lang", "detected_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_WORDS_SQL = r"list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')"
_STOP_SQL = (
    r"len(list_filter(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> ''), "
    "x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x)))"
)


@register(
    "quality_scores",
    f"""
    WITH t AS (
      SELECT doc_id,
             length(text)::DOUBLE AS ln,
             len({_WORDS_SQL}) AS n_tok,
             {_STOP_SQL} AS n_stop,
             length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g'))::DOUBLE AS n_punct,
             list_sum(list_transform({_WORDS_SQL}, x -> length(x)))::DOUBLE AS tok_len_sum
      FROM documents
    )
    SELECT doc_id,
           round((least(ln / 200.0, 1.0)
                  + least((CASE WHEN n_tok > 0 THEN n_stop::DOUBLE / n_tok ELSE 0.0 END) * 4, 1.0)
                  + (CASE WHEN (CASE WHEN n_tok > 0 THEN tok_len_sum / n_tok ELSE 0.0 END) BETWEEN 3 AND 10
                          THEN 1.0 ELSE 0.5 END)
                  + greatest(0.0, 1.0 - (CASE WHEN ln > 0 THEN n_punct / ln ELSE 0.0 END) * 3)) / 4,
                 6) AS quality
    FROM t
    """,
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (length/stopword/word-length/punct) —
    functions.text.quality_score, mirrored term-by-term in SQL."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", Tx.quality_score(F.col("text")).alias("quality"))


# --- Gopher/RefinedWeb repetition & line-quality battery -------------------
#
# The synthetic corpus is single-line, so these queries synthesize a
# deterministic multi-line document from table columns (the pii_redaction
# pattern): ' a ' becomes a newline, and id-keyed boilerplate blocks plant
# duplicate lines, bullets, ellipses and '#' symbols — the SAME expression
# in both engines, so the oracles exercise every rule, not a vacuous pass.

_ML_AUG_SQL = """
      SELECT doc_id,
             replace(text, ' a ', chr(10))
             || CASE WHEN doc_id % 3 = 0
                THEN chr(10) || 'subscribe now' || chr(10) || 'subscribe now'
                     || chr(10) || 'follow us' ELSE '' END
             || CASE WHEN doc_id % 4 = 0
                THEN chr(10) || '- home' || chr(10) || '- about'
                     || chr(10) || '* contact' ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                THEN chr(10) || 'read more...' || chr(10) || '## nav ##'
                ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                THEN repeat(chr(10)
                     || '- sponsored link row with many words here', 8)
                ELSE '' END
               AS t
      FROM documents
"""

def _lines_sql(col: str) -> str:
    return (
        f"list_filter(list_transform(string_split({col}, chr(10)),"
        " x -> trim(x)), x -> x <> '')"
    )


_LINES_SQL = _lines_sql("t")
_T_WORDS_SQL = r"list_filter(regexp_split_to_array(trim(t), '\s+'), x -> x <> '')"

_LINE_DROP_SQL = (
    "starts_with(x, '-') OR starts_with(x, '*') OR starts_with(x, '•')"
    " OR ends_with(x, '...')"
    r" OR len(list_filter(regexp_split_to_array(trim(x), '\s+'),"
    " y -> y <> '')) < 3"
)


def _multiline_docs(docs: DataFrame, extra: dict | None = None) -> DataFrame:
    """The Spark twin of _ML_AUG_SQL — (doc_id, t) with planted lines.
    ``extra`` appends additional aliased column expressions."""
    return docs.select(
        "doc_id",
        *[c.alias(n) for n, c in (extra or {}).items()],
        F.concat(
            F.replace(F.col("text"), F.lit(" a "), F.lit("\n")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("\nsubscribe now\nsubscribe now\nfollow us"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.lit("\n- home\n- about\n* contact"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("\nread more...\n## nav ##"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.lit("\n- sponsored link row with many words here" * 8),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )


@register(
    "repetition_signals",
    f"""
    WITH aug AS ({_ML_AUG_SQL}),
    s AS (
      SELECT doc_id, t, {_LINES_SQL} AS ls, {_T_WORDS_SQL} AS w FROM aug
    ),
    sig AS (
      SELECT doc_id,
             len(ls) AS n_lines,
             len(w) AS n_words,
             round(1.0 - len(list_distinct(ls))::DOUBLE / len(ls), 6)
               AS frac_dup_lines,
             round((list_sum(list_transform(ls, x -> length(x)))
                    - list_sum(list_transform(list_distinct(ls),
                                              x -> length(x))))::DOUBLE
                   / list_sum(list_transform(ls, x -> length(x))), 6)
               AS frac_dup_line_chars,
             round(len(list_filter(ls, x -> starts_with(x, '-')
                                         OR starts_with(x, '*')
                                         OR starts_with(x, '•')))::DOUBLE
                   / len(ls), 6) AS frac_bullet_lines,
             round(len(list_filter(ls, x -> ends_with(x, '...')))::DOUBLE
                   / len(ls), 6) AS frac_ellipsis_lines,
             round(((length(t) - length(replace(t, '#', '')))
                    + (length(t) - length(replace(t, '...', ''))) / 3)
                   / len(w), 6) AS symbol_word_ratio,
             round(len(list_filter(w,
                       x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                   / len(w), 6) AS frac_alpha_words
      FROM s WHERE len(ls) > 0 AND len(w) > 0
    )
    SELECT *,
           (frac_dup_lines < 0.3 AND frac_dup_line_chars < 0.2
            AND symbol_word_ratio < 0.1 AND frac_alpha_words > 0.8
            AND frac_bullet_lines < 0.9 AND frac_ellipsis_lines < 0.3)
             AS keep
    FROM sig
    """,
)
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher repetition-removal battery beyond the 3-gram rule
    (Rae et al. 2021 Table A1; RefinedWeb line-wise rules): duplicate
    line fraction, duplicate-line CHARACTER fraction, bullet-start and
    ellipsis-end line fractions, symbol-to-word ratio ('#' and '...'),
    and fraction of words with an alphabetic character — with the
    published keep-thresholds (0.30 / 0.20 / 0.90 / 0.30 / 0.10 /
    0.80). All row-local JVM array expressions over staged line/token
    attributes — embarrassingly parallel, zero shuffle at any corpus
    size."""
    docs = _t(spark, sf_dir, "documents")
    s = _multiline_docs(docs).select(
        "doc_id",
        "t",
        Tx.doc_lines(F.col("t")).alias("ls"),
        Tx.tokens(F.col("t")).alias("w"),
    )
    ls, w, t = F.col("ls"), F.col("w"), F.col("t")
    n_lines, n_words = F.size(ls), F.size(w)
    s = s.filter((n_lines > 0) & (n_words > 0))
    line_chars = F.aggregate(
        F.transform(ls, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    uniq_chars = F.aggregate(
        F.transform(F.array_distinct(ls), lambda x: F.length(x)),
        F.lit(0),
        lambda a, x: a + x,
    )
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ell = F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    sig = s.select(
        "doc_id",
        n_lines.cast("bigint").alias("n_lines"),
        n_words.cast("bigint").alias("n_words"),
        F.round(
            1.0 - F.size(F.array_distinct(ls)).cast("double") / n_lines, 6
        ).alias("frac_dup_lines"),
        F.round(
            (line_chars - uniq_chars).cast("double") / line_chars, 6
        ).alias("frac_dup_line_chars"),
        F.round(
            F.size(
                F.filter(
                    ls,
                    lambda x: x.startswith("-")
                    | x.startswith("*")
                    | x.startswith("•"),
                )
            ).cast("double")
            / n_lines,
            6,
        ).alias("frac_bullet_lines"),
        F.round(
            F.size(F.filter(ls, lambda x: x.endswith("..."))).cast("double")
            / n_lines,
            6,
        ).alias("frac_ellipsis_lines"),
        F.round((n_hash + n_ell / 3) / n_words, 6).alias("symbol_word_ratio"),
        F.round(
            F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))).cast("double")
            / n_words,
            6,
        ).alias("frac_alpha_words"),
    )
    keep = (
        (F.col("frac_dup_lines") < 0.3)
        & (F.col("frac_dup_line_chars") < 0.2)
        & (F.col("symbol_word_ratio") < 0.1)
        & (F.col("frac_alpha_words") > 0.8)
        & (F.col("frac_bullet_lines") < 0.9)
        & (F.col("frac_ellipsis_lines") < 0.3)
    )
    return sig.withColumn("keep", keep)


@register(
    "line_quality_filter",
    f"""
    WITH aug AS ({_ML_AUG_SQL}),
    s AS (SELECT doc_id, {_LINES_SQL} AS ls FROM aug),
    k AS (
      SELECT doc_id, ls,
             list_filter(ls, x -> NOT ({_LINE_DROP_SQL})) AS kept
      FROM s WHERE len(ls) > 0
    )
    SELECT doc_id,
           len(ls) AS n_lines,
           len(kept) AS n_kept,
           round(coalesce(list_sum(list_transform(kept, x -> length(x))),
                          0)::DOUBLE
                 / list_sum(list_transform(ls, x -> length(x))), 6)
             AS retained_char_frac,
           array_to_string(kept, chr(10)) AS cleaned,
           (coalesce(list_sum(list_transform(kept, x -> length(x))),
                     0)::DOUBLE
            / list_sum(list_transform(ls, x -> length(x))) >= 0.5
            AND len(kept) > 0) AS keep
    FROM k
    """,
)
def line_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style line-wise correction: drop boilerplate lines
    (bullet-start, ellipsis-end, fewer than 3 words) and keep the
    document only if ≥50% of its characters survive — the
    within-document cleanup that runs BEFORE corpus-level dedup. Pure
    row-local array filtering; the cleaned text is rebuilt with
    array_join, so nothing but the row itself is ever touched."""
    docs = _t(spark, sf_dir, "documents")
    s = _multiline_docs(docs).select(
        "doc_id", Tx.doc_lines(F.col("t")).alias("ls")
    )
    s = s.filter(F.size("ls") > 0)
    kept = F.filter(
        F.col("ls"),
        lambda x: ~(
            x.startswith("-")
            | x.startswith("*")
            | x.startswith("•")
            | x.endswith("...")
            | (F.size(Tx.tokens(x)) < 3)
        ),
    )
    k = s.select("doc_id", "ls", kept.alias("kept"))
    lsum = F.aggregate(
        F.transform(F.col("ls"), lambda x: F.length(x)),
        F.lit(0),
        lambda a, x: a + x,
    )
    ksum = F.aggregate(
        F.transform(F.col("kept"), lambda x: F.length(x)),
        F.lit(0),
        lambda a, x: a + x,
    )
    frac = ksum.cast("double") / lsum
    return k.select(
        "doc_id",
        F.size("ls").cast("bigint").alias("n_lines"),
        F.size("kept").cast("bigint").alias("n_kept"),
        F.round(frac, 6).alias("retained_char_frac"),
        F.array_join("kept", "\n").alias("cleaned"),
        ((frac >= 0.5) & (F.size("kept") > 0)).alias("keep"),
    )


def _ngram_counts_sql(n: int) -> str:
    return f"""t AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    tt AS (
      SELECT doc_id, w,
             list_sum(list_transform(w, x -> length(x))) AS word_chars
      FROM t WHERE len(w) >= {n}
    ),
    g AS (
      SELECT doc_id, word_chars,
             array_to_string(w[i:i+{n - 1}], ' ') AS gram
      FROM tt, unnest(generate_series(1, len(w) - {n - 1})) AS u(i)
    ),
    c AS (
      SELECT doc_id, word_chars, gram, count(*) AS n_occurrences
      FROM g GROUP BY doc_id, word_chars, gram
    )"""


def _top_ngram_sql(n: int, thresh: float) -> str:
    return f"""
    WITH {_ngram_counts_sql(n)},
    r AS (
      SELECT doc_id, word_chars, gram, n_occurrences,
             row_number() OVER (
               PARTITION BY doc_id
               ORDER BY n_occurrences DESC, gram ASC) AS rn
      FROM c
    )
    SELECT doc_id, gram AS top_gram, n_occurrences,
           round(n_occurrences * (length(gram) - {n - 1})::DOUBLE
                 / word_chars, 6) AS top_{n}gram_char_frac,
           round(n_occurrences * (length(gram) - {n - 1})::DOUBLE
                 / word_chars, 6) < {thresh} AS keep
    FROM r WHERE rn = 1
    """


def _dup_ngram_sql(n: int, thresh: float) -> str:
    return f"""
    WITH {_ngram_counts_sql(n)}
    SELECT doc_id,
           CAST(sum(CASE WHEN n_occurrences > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_grams,
           round(sum(CASE WHEN n_occurrences > 1
                     THEN n_occurrences * (length(gram) - {n - 1})
                     ELSE 0 END)::DOUBLE / word_chars, 6)
             AS dup_{n}gram_char_frac,
           round(sum(CASE WHEN n_occurrences > 1
                     THEN n_occurrences * (length(gram) - {n - 1})
                     ELSE 0 END)::DOUBLE / word_chars, 6) < {thresh} AS keep
    FROM c GROUP BY doc_id, word_chars
    """


def _sorted_grams(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, word_chars, _sg) where ``_sg`` is the doc's word
    n-gram multiset as a SORTED array — every n-gram of a document
    lives in its own row, so gram counting is row-local: runs of
    equal grams in the sorted array are the per-doc counts. Replaces
    the round-11 explode → groupBy(doc, gram) engine, whose Exchange
    carried every distinct gram row (1.07 GB shuffle at sf10) only to
    re-group rows that started co-located. Docs with fewer than n
    words vanish here, exactly like the explode used to drop them.

    Per-row memory bound (ADVICE r12): the sorted gram array holds
    the document's ENTIRE n-gram multiset in one row — ~n× the token
    array's footprint (each token appears in up to n grams), so a
    pathological single document bounds executor memory where the
    old explode distributed it. At the documented corpus shape
    (documents ≤ ~1 MB of text) the worst row is ~10 MB at n=10 —
    far under task memory; corpora with unbounded single documents
    should length-cap upstream or fall back to the exploded engine."""
    toks = docs.select("doc_id", Tx.tokens(F.col("text")).alias("w")).filter(
        F.size("w") >= n
    )
    w = F.col("w")
    return toks.select(
        "doc_id",
        F.aggregate(
            F.transform(w, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
        ).alias("word_chars"),
        F.array_sort(
            F.transform(
                Tx.window_starts(F.size(w), n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(w, i + j) for j in range(n)]
                ),
            )
        ).alias("_sg"),
    )


def _top_ngram(docs: DataFrame, n: int, thresh: float) -> DataFrame:
    """Gopher top-n-gram coverage: fraction of word characters inside
    occurrences of the document's MOST FREQUENT word n-gram (published
    thresholds: 0.20 / 0.18 / 0.16 for n = 2 / 3 / 4). The per-doc
    mode (ties: count desc, gram asc) is a single run-length fold over
    the sorted gram array — runs arrive in ascending gram order and
    promotion into the best slot is strict (``>``), so the FIRST run
    of the maximal count wins, which IS the gram-asc tiebreak of the
    old row_number window. ZERO Exchange (round 12; was explode →
    count shuffle → window sort shuffle — sf10: 1.07 GB shuffle,
    1170 s CPU → 0 B, see OPTIMIZATION_r12.md)."""
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit("").alias("bg"),
        zero.alias("bn"),
        F.element_at(F.col("_sg"), 1).alias("cg"),
        zero.alias("cn"),
    )

    def step(acc, x):
        same = x == acc["cg"]
        promote = acc["cn"] > acc["bn"]
        return F.struct(
            F.when(same, acc["bg"])
            .otherwise(F.when(promote, acc["cg"]).otherwise(acc["bg"]))
            .alias("bg"),
            F.when(same, acc["bn"])
            .otherwise(F.when(promote, acc["cn"]).otherwise(acc["bn"]))
            .alias("bn"),
            F.when(same, acc["cg"]).otherwise(x).alias("cg"),
            F.when(same, acc["cn"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("cn"),
        )

    best = F.aggregate(
        F.col("_sg"),
        init,
        step,
        lambda acc: F.struct(
            F.when(acc["cn"] > acc["bn"], acc["cg"])
            .otherwise(acc["bg"])
            .alias("gram"),
            F.when(acc["cn"] > acc["bn"], acc["cn"])
            .otherwise(acc["bn"])
            .alias("n"),
        ),
    )
    top = _sorted_grams(docs, n).select(
        "doc_id", "word_chars", best.alias("_best")
    )
    cov = F.round(
        F.col("_best.n")
        * (F.length(F.col("_best.gram")) - (n - 1)).cast("double")
        / F.col("word_chars"),
        6,
    )
    return top.select(
        "doc_id",
        F.col("_best.gram").alias("top_gram"),
        F.col("_best.n").alias("n_occurrences"),
        cov.alias(f"top_{n}gram_char_frac"),
        (cov < thresh).alias("keep"),
    )


def _dup_ngram(docs: DataFrame, n: int, thresh: float) -> DataFrame:
    """Gopher duplicate-n-gram character fraction: chars inside ALL
    occurrences of n-grams that occur more than once, over total word
    chars (published thresholds 0.15 -> 0.10 for n = 5 -> 10).
    Overlapping occurrences count their chars each time (the stated
    definition — the ratio can exceed 1 on degenerate loops, which is
    exactly when the rule should fire). Same run-length fold as
    _top_ngram over the sorted gram array, accumulating duplicate-run
    counts/chars at each run close — ZERO Exchange (round 12; was the
    explode → groupBy counts engine + a second per-doc aggregate)."""
    zero = F.lit(0).cast("long")
    init = F.struct(
        zero.alias("nd"),
        zero.alias("dc"),
        F.element_at(F.col("_sg"), 1).alias("cg"),
        zero.alias("cn"),
    )

    def close(acc):
        # fold the finished run into (n_dup_grams, dup_chars)
        dup = acc["cn"] > 1
        chars = acc["cn"] * (F.length(acc["cg"]) - (n - 1)).cast("long")
        return (
            F.when(dup, acc["nd"] + 1).otherwise(acc["nd"]),
            F.when(dup, acc["dc"] + chars).otherwise(acc["dc"]),
        )

    def step(acc, x):
        same = x == acc["cg"]
        nd, dc = close(acc)
        return F.struct(
            F.when(same, acc["nd"]).otherwise(nd).alias("nd"),
            F.when(same, acc["dc"]).otherwise(dc).alias("dc"),
            F.when(same, acc["cg"]).otherwise(x).alias("cg"),
            F.when(same, acc["cn"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("cn"),
        )

    def finish(acc):
        nd, dc = close(acc)
        return F.struct(nd.alias("nd"), dc.alias("dc"))

    stats = F.aggregate(F.col("_sg"), init, step, finish)
    base = _sorted_grams(docs, n).select(
        "doc_id", "word_chars", stats.alias("_st")
    )
    frac = F.round(
        F.col("_st.dc").cast("double") / F.col("word_chars"), 6
    )
    return base.select(
        "doc_id",
        F.col("_st.nd").alias("n_dup_grams"),
        frac.alias(f"dup_{n}gram_char_frac"),
        (frac < thresh).alias("keep"),
    )


@register("top_2gram_coverage", _top_ngram_sql(2, 0.2))
def top_2gram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher top-n-gram coverage at n=2 (threshold 0.20) — see
    _top_ngram; any n is the same call (n=4 at 0.16 etc.)."""
    return _top_ngram(_t(spark, sf_dir, "documents"), 2, 0.2)


@register("top_3gram_coverage", _top_ngram_sql(3, 0.18))
def top_3gram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher top-n-gram coverage at n=3 (threshold 0.18)."""
    return _top_ngram(_t(spark, sf_dir, "documents"), 3, 0.18)


_DUP5_AUG_SQL = (
    "SELECT doc_id, text ||"
    " CASE WHEN doc_id % 9 = 0"
    " THEN repeat(' click here to read more', 4) ELSE '' END AS text"
    " FROM documents"
)


@register(
    "dup_5gram_coverage",
    _dup_ngram_sql(5, 0.15).replace(
        "FROM documents", f"FROM ({_DUP5_AUG_SQL})"
    ),
)
def dup_5gram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher duplicate-n-gram char fraction at n=5 (threshold 0.15)
    — see _dup_ngram; n=6..10 (thresholds 0.14..0.10) are the same
    call. The synthetic corpus repeats no 5-grams, so the query plants
    a repeated phrase on doc_id % 9 = 0 (same expression both
    engines) — without it the keep flag would be vacuously true on
    every row."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 9 == 0,
                F.lit(" click here to read more" * 4),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return _dup_ngram(docs, 5, 0.15)


@register(
    "corpus_datacard",
    f"""
    WITH q AS ({{QUALITY}}),
    d AS (
      SELECT doc_id, lang, source, n_chars,
             len({_WORDS_SQL}) AS tok,
             {_fp_sql('text')} AS fp
      FROM documents)
    SELECT d.lang, d.source,
           count(*) AS n_docs,
           count(DISTINCT fp) AS n_unique,
           CAST(sum(tok) AS BIGINT) AS total_tokens,
           round(sum(tok)::DOUBLE / count(*), 6) AS avg_tokens,
           round(sum(CAST(round(q.quality * 1000000.0, 0) AS BIGINT))
                 / count(*) / 1000000.0, 6) AS avg_quality,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM d JOIN q USING (doc_id)
    GROUP BY d.lang, d.source
    """,
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-card statistics report — the per-(lang, source) corpus
    summary a training run publishes: doc counts, exact-dup-aware
    unique counts, token totals, and quality averages. Determinism
    across engines via the integer micro-score freeze (quality × 1e6
    rounded to a bigint BEFORE the sum, so the aggregate is exact
    integer arithmetic, not order-dependent float addition). One
    partial-combined groupBy; the countDistinct is over 32-byte
    fingerprints, never text."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        "source",
        "n_chars",
        Tx.token_count(F.col("text")).alias("tok"),
        Tx.fingerprint(F.col("text")).alias("fp"),
        F.round(Tx.quality_score(F.col("text")) * 1000000.0, 0)
        .cast("bigint")
        .alias("qmicro"),
    )
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
        F.sum("tok").cast("bigint").alias("total_tokens"),
        F.round(F.sum("tok").cast("double") / F.count("*"), 6).alias(
            "avg_tokens"
        ),
        F.round(F.sum("qmicro") / F.count("*") / 1000000.0, 6).alias(
            "avg_quality"
        ),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


ORACLES["corpus_datacard"] = ORACLES["corpus_datacard"].replace(
    "{QUALITY}", ORACLES["quality_scores"]
)


@register(
    "tfidf_top_terms",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_WORDS_SQL}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term, tf, df,
             CAST(round(tf * ln((n_docs + 1.0) / (df + 1.0))
                        * 1000000.0, 0) AS BIGINT) AS score_micro
      FROM tf JOIN dft USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, score_micro, CAST(rn AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score_micro DESC, term ASC) AS rn
      FROM scored)
    WHERE rn <= 3
    """,
)
def tfidf_top_terms_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by tf-idf (functions.text.
    tfidf_top_terms) — the keyword-extraction / corpus-indexing stage.
    Integer micro-score freeze before ranking (the bm25 rule); rank
    total-ordered (score desc, term asc)."""
    docs = _t(spark, sf_dir, "documents")
    return Tx.tfidf_top_terms(docs, k=3)


@register(
    "cluster_balanced_sample",
    """
    WITH vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ),
    cents AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cell,
             list_transform(v, x -> x / nullif(nrm, 0.0)) AS cv
      FROM vecs
      WHERE len(list_filter(list_transform(v, x -> x / nullif(nrm, 0.0)),
                            x -> x IS NULL)) = 0
      ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 8
    ),
    ccell AS (
      SELECT vec_id, cell FROM (
        SELECT vecs.vec_id, cents.cell, row_number() OVER (
          PARTITION BY vecs.vec_id
          ORDER BY list_dot_product(cv, v) DESC NULLS LAST, cell ASC) AS rk
        FROM vecs CROSS JOIN cents
      ) WHERE rk = 1
    ),
    picks AS (
      SELECT vec_id, cell,
             count(*) OVER (PARTITION BY cell) AS cell_size,
             row_number() OVER (
               PARTITION BY cell
               ORDER BY md5(CAST(vec_id AS VARCHAR) || '#1'), vec_id
             ) AS pick_rank
      FROM ccell
    )
    SELECT vec_id, cell, cell_size, CAST(pick_rank AS INTEGER) AS pick_rank
    FROM picks WHERE pick_rank <= 40
    """,
)
def cluster_balanced_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-preserving selection (operators.sampling.
    cluster_balanced_sample): cap each md5-seeded k-means cell at 40
    members by deterministic hash rank — balancing by CONTENT where
    temperature_mix balances by label. Cell assignment is a row-local
    argmax over broadcast centroid literals; the cap is one hash
    exchange + per-cell window."""
    from ramen_spark.operators.sampling import cluster_balanced_sample

    emb = _t(spark, sf_dir, "embeddings")
    cents = Sim.kmeans_fit(emb, n_cells=8, iters=0)
    return cluster_balanced_sample(emb, cents, cap=40, seed=1)


# Planted non-Latin blocks (repeated so the planted script OUTWEIGHS the
# Latin base text and flips the argmax — the dominance rule is exercised,
# not vacuous). Shared constants build BOTH engine expressions.
_SCRIPT_AUG = {
    0: ("привет мир это тест ", 12),
    1: ("你好世界测试 ", 30),
    2: ("مرحبا بالعالم ", 15),
}


def _script_profile_sql() -> str:
    from ramen_spark.functions.text import SCRIPT_RANGES

    aug = " || ".join(
        f"CASE WHEN doc_id % 6 = {k} THEN repeat('{s}', {n}) ELSE '' END"
        for k, (s, n) in _SCRIPT_AUG.items()
    )
    counts = ",\n           ".join(
        f"length(regexp_replace(t, '[^{rng}]', '', 'g')) AS n_{name}"
        for name, rng in SCRIPT_RANGES.items()
    )
    names = list(SCRIPT_RANGES)
    dom = " ".join(
        f"WHEN n_{name} = m THEN '{name}'" for name in names[:-1]
    )
    return f"""
    WITH aug AS (SELECT doc_id, text || ' ' || {aug} AS t FROM documents),
    c AS (
      SELECT doc_id,
           {counts}
      FROM aug
    ),
    g AS (SELECT *, greatest(n_latin, n_cyrillic, n_han, n_arabic) AS m FROM c)
    SELECT doc_id, n_latin, n_cyrillic, n_han, n_arabic,
           CASE {dom} ELSE '{names[-1]}' END AS dominant
    FROM g
    """


@register("script_profile", _script_profile_sql())
def script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script profiling — the multilingual routing signal the
    marker-word language ID can't provide for non-Latin scripts.
    Literal code-point ranges (the Java∩RE2 portable spelling);
    non-Latin blocks are planted by doc_id so the argmax actually
    flips. Engine: the ARROW code-point counter (one numpy pass;
    measured 4.4 s vs 42.3 s for the 4-regex JVM form at the true
    100× tier — each regexp_replace is a full regex-engine pass over
    the document). Counts are integers, so the Arrow engine stays
    bit-identical to the JVM form (test_script_counts_arrow_equals_jvm)
    and to the DuckDB oracle. Still zero shuffle — the Python stage is
    row-local."""
    docs = _t(spark, sf_dir, "documents")
    aug_col = F.concat(
        F.col("text"),
        F.lit(" "),
        *[
            F.when(
                F.col("doc_id") % 6 == k, F.repeat(F.lit(s), n)
            ).otherwise(F.lit(""))
            for k, (s, n) in _SCRIPT_AUG.items()
        ],
    )
    aug = docs.select("doc_id", aug_col.alias("t"))
    names = list(Tx.SCRIPT_RANGES)
    staged = aug.select(
        "doc_id", Tx.script_counts_arrow(F.col("t")).alias("c")
    )
    counts = {n: F.col("c")[i] for i, n in enumerate(names)}
    dom = Tx.dominant_script(counts)
    return staged.select(
        "doc_id",
        *[counts[name].cast("bigint").alias(f"n_{name}") for name in names],
        dom.alias("dominant"),
    )



def _pii_chain_sql(expr: str) -> str:
    from ramen_spark.functions.text import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
    )

    red = expr
    for pat, tok in (
        (PII_EMAIL_RE, "<EMAIL>"),
        (PII_IPV4_RE, "<IP>"),
        (PII_PHONE_RE, "<PHONE>"),
    ):
        red = f"regexp_replace({red}, '{pat}', '{tok}', 'g')"
    return red


def _curated_corpus_sql() -> str:
    from ramen_spark.functions.text import REG_DOMAIN_RE, URL_HOST_RE

    bl = ", ".join(f"'{d}'" for d in _BLOCKED_DOMAINS)
    words_of = (
        r"list_filter(regexp_split_to_array(trim(cleaned), '\s+'),"
        " x -> x <> '')"
    )
    charsum = "list_sum(list_transform({0}, x -> length(x)))"
    return f"""
    WITH aug0 AS ({_ML_AUG_SQL}),
    meta AS (
      SELECT doc_id,
             'https://sub' || CAST(doc_id % 3 AS VARCHAR) || '.' || source
               || '.test/p' AS url
      FROM documents),
    inp AS (
      SELECT aug0.doc_id,
             aug0.t || chr(10) || 'contact u'
               || CAST(aug0.doc_id AS VARCHAR)
               || '@example.com from 10.0.0.'
               || CAST(aug0.doc_id % 250 AS VARCHAR)
               || ' please respond' AS raw,
             meta.url
      FROM aug0 JOIN meta USING (doc_id)),
    unblocked AS (
      SELECT doc_id, raw FROM (
        SELECT doc_id, raw,
               lower(regexp_extract(url, '{URL_HOST_RE}', 1)) AS host
        FROM inp)
      WHERE regexp_extract(host, '{REG_DOMAIN_RE}', 1) NOT IN ({bl})
        AND host NOT IN ({bl})),
    red AS (SELECT doc_id, {_pii_chain_sql('raw')} AS t FROM unblocked),
    s AS (SELECT doc_id, {_LINES_SQL} AS ls FROM red),
    k AS (
      SELECT doc_id, ls,
             list_filter(ls, x -> NOT ({_LINE_DROP_SQL})) AS kept
      FROM s WHERE len(ls) > 0),
    corrected AS (
      SELECT doc_id,
             len(ls) AS n_lines,
             len(kept) AS n_kept,
             round({charsum.format('kept')}::DOUBLE
                   / {charsum.format('ls')}, 6) AS retained_char_frac,
             array_to_string(kept, chr(10)) AS cleaned
      FROM k WHERE len(kept) > 0),
    gated AS (
      SELECT * FROM corrected WHERE retained_char_frac >= 0.5),
    g AS (
      SELECT *, {_lines_sql('cleaned')} AS gl, {words_of} AS gw
      FROM gated),
    g2 AS (SELECT * FROM g WHERE len(gl) > 0 AND len(gw) > 0)
    SELECT doc_id, cleaned, n_lines, n_kept, retained_char_frac
    FROM g2
    WHERE (1.0 - len(list_distinct(gl))::DOUBLE / len(gl)) < 0.3
      AND (({charsum.format('gl')}
            - {charsum.format('list_distinct(gl)')})::DOUBLE
           / {charsum.format('gl')}) < 0.2
      AND (((length(cleaned) - length(replace(cleaned, '#', '')))
            + (length(cleaned) - length(replace(cleaned, '...', ''))) / 3)
           / len(gw)) < 0.1
      AND (len(list_filter(gw, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
           / len(gw)) > 0.8
    """


@register("curated_corpus", _curated_corpus_sql())
def curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The always-on curation lane's batch form, driver-checkable:
    blocklist → PII redaction → line-quality correction → repetition
    gate (streaming/curation.py:curate — the stream twin is
    parity-pinned by test_streaming_curation_equals_batch). The
    synthesis plants multi-line structure, boilerplate, AND a PII
    contact line from table columns so every stage transforms real
    rows in both engines."""
    from ramen_spark.streaming.curation import curate

    docs = _t(spark, sf_dir, "documents")
    inp = _multiline_docs(
        docs,
        extra={
            "url": F.concat(
                F.lit("https://sub"),
                (F.col("doc_id") % 3).cast("string"),
                F.lit("."),
                F.col("source"),
                F.lit(".test/p"),
            )
        },
    ).select(
        "doc_id",
        "url",
        F.concat(
            F.col("t"),
            F.lit("\ncontact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0.0."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(" please respond"),
        ).alias("raw"),
    )
    return curate(
        inp, blocklist=_BLOCKED_DOMAINS, url_col="url", text_col="raw"
    )



# ===========================================================================
# 4. Dedup & similarity (training-pipeline extensions)
# ===========================================================================

_SHINGLES_SQL = f"""
  SELECT doc_id, w, len(w) AS nw FROM (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents)
"""


@register(
    "minhash_lsh_pairs",
    f"""
    WITH words AS ({_SHINGLES_SQL}),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
      FROM words, unnest(generate_series(1, greatest(nw - 2, 0))) AS u(i)
    ),
    hs AS (
      SELECT doc_id,
             ('0x' || substring(md5(s), 1, 12))::BIGINT  AS h1,
             ('0x' || substring(md5(s), 21, 12))::BIGINT AS h2
      FROM sh
    ),
    mh AS (
      SELECT doc_id, k, min(h1 + k * h2) AS h
      FROM hs, unnest(generate_series(0, 15)) AS g(k)
      GROUP BY doc_id, k
    ),
    bands AS (
      SELECT m0.doc_id,
             g.b::VARCHAR || ':' || md5(m0.h::VARCHAR || '|' || m1.h::VARCHAR) AS bucket
      FROM unnest(generate_series(0, 7)) AS g(b), mh m0, mh m1
      WHERE m1.doc_id = m0.doc_id AND m0.k = g.b * 2 AND m1.k = g.b * 2 + 1
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM bands x JOIN bands y ON x.bucket = y.bucket AND x.doc_id < y.doc_id
    )
    SELECT c.id_a, c.id_b,
           count_if(ma.h = mb.h) / 16.0 AS est_jaccard
    FROM cand c
    JOIN mh ma ON ma.doc_id = c.id_a
    JOIN mh mb ON mb.doc_id = c.id_b AND mb.k = ma.k
    GROUP BY c.id_a, c.id_b
    HAVING est_jaccard >= 0.5
    """,
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (16 hashes, 8 bands × 2 rows),
    filtered to signature agreement ≥ 0.5 (operators.dedup). The md5
    minhash scheme is reproduced hash-for-hash by the oracle."""
    return D.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        num_hashes=16,
        bands=8,
        min_sig_agreement=0.5,
    )


@register(
    "ngram_jaccard_pairs",
    f"""
    WITH words AS ({_SHINGLES_SQL}),
    post AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
      FROM words, unnest(generate_series(1, greatest(nw - 2, 0))) AS u(i)
    ),
    kept AS (
      SELECT doc_id, s
      FROM (SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM post)
      WHERE df <= 1000
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT it.id_a, it.id_b,
             round(it.i::DOUBLE / (na.n + nb.n - it.i), 6) AS jaccard
      FROM inter it
      JOIN sizes na ON na.doc_id = it.id_a
      JOIN sizes nb ON nb.doc_id = it.id_b
    ) p
    WHERE jaccard >= 0.4
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-word-shingle Jaccard pairs ≥ 0.4 — the exact ground
    truth the LSH pipeline approximates, via the shared-shingle
    similarity join (operators.dedup.ngram_jaccard_pairs): no cross
    product, candidates = pairs that share a shingle. The hot-shingle
    cutoff (doc frequency ≤ 1000) bounds the Σ df² join term at
    corpus scale; the oracle applies the identical cutoff, so values
    stay exact over the filtered shingle universe (a no-op at sf0.01's
    500 docs, load-bearing at 100 TB boilerplate). Postings join on
    xxhash64 longs and a shuffle-hash join (both A/B'd at the 100×
    tier: 64.5 s / 21 GB sort spill → 26.7 s / zero spill — see the
    operator docstring); the oracle joins the shingle STRINGS, so
    parity also certifies the hash re-keying loses nothing."""
    return D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        threshold=0.4,
        max_shingle_freq=1000,
        join_strategy="shuffle_hash",
    )


@register(
    "decontaminate_train",
    f"""
    WITH words AS ({_SHINGLES_SQL}),
    post AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
      FROM words, unnest(generate_series(1, greatest(nw - 2, 0))) AS u(i)
    ),
    ev AS (SELECT DISTINCT s FROM post WHERE doc_id % 97 = 0),
    agg AS (
      SELECT tr.doc_id, count(*) AS n_shingles, count(ev.s) AS n_hit
      FROM (SELECT doc_id, s FROM post WHERE doc_id % 97 <> 0) tr
      LEFT JOIN ev ON tr.s = ev.s
      GROUP BY tr.doc_id
    )
    SELECT d.doc_id,
           coalesce(n_shingles, 0) AS n_shingles,
           coalesce(n_hit, 0)     AS n_hit,
           round(coalesce(n_hit, 0)::DOUBLE
                 / greatest(coalesce(n_shingles, 0), 1), 6) AS contam_frac,
           coalesce(n_hit, 0) >= 1 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN agg ON agg.doc_id = d.doc_id
    """,
)
def decontaminate_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination (operators.dedup.decontaminate): the
    GPT-3/PaLM n-gram scrub — flag training docs sharing any word
    3-gram with the (stand-in) eval slice doc_id % 97 == 0. The eval
    side collapses to its distinct shingle set, which AQE broadcasts
    at real train:eval ratios; no shuffle carries document text."""
    docs = _t(spark, sf_dir, "documents")
    return D.decontaminate(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        shingle_k=3,
        min_overlap=1,
    )


@register(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 20),
    c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
      SELECT q.query_id, c.corpus_id,
             round(list_dot_product(q.qv, c.cv)
                   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
      FROM q, c
      WHERE q.query_id <> c.corpus_id
    )
    SELECT query_id, corpus_id, sim,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id ASC) AS rank
    FROM scored
    QUALIFY rank <= 10
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the first 20 query vectors
    (operators.similarity.brute_force_topk): exact ANN baseline;
    queries broadcast, scoring JVM-side via zip_with/aggregate."""
    emb = _t(spark, sf_dir, "embeddings")
    return Sim.brute_force_topk(emb, emb.filter(F.col("vec_id") < 20), k=10)


@register(
    "simhash_near_dups",
    f"""
    WITH words AS ({_SHINGLES_SQL}),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
      FROM words, unnest(generate_series(1, greatest(nw - 2, 0))) AS u(i)
    ),
    hx AS (SELECT doc_id, md5(s) AS h FROM sh),
    bits AS (
      SELECT doc_id, b,
             sum(CASE WHEN ((strpos('0123456789abcdef', substring(h, b // 4 + 1, 1)) - 1)
                            & (CASE b % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) > 0
                      THEN 1 ELSE -1 END) AS vote
      FROM hx, unnest(generate_series(0, 47)) AS g(b)
      GROUP BY doc_id, b
    ),
    sig AS (
      SELECT doc_id, sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS sig
      FROM bits GROUP BY doc_id
    ),
    ck AS (
      SELECT doc_id, sig, i::VARCHAR || ':' || ((sig >> (i * 12)) & 4095)::VARCHAR AS chunk_key
      FROM sig, unnest(generate_series(0, 3)) AS c(i)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
      FROM ck a JOIN ck b ON a.chunk_key = b.chunk_key AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
    FROM pairs WHERE bit_count(xor(sa, sb)) <= 3
    """,
)
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3 over 48-bit signatures,
    4-chunk pigeonhole banding) — operators.dedup.simhash_near_dups.
    The md5-nibble bit votes are mirrored bit-for-bit by the oracle
    (value-exact, not rows-only). The adaptive-width row count comes
    from parquet footer stats (catalog.table_num_rows) so building
    this query fires no Spark job."""
    from ramen_spark.catalog import table_num_rows

    return D.simhash_near_dups(
        _t(spark, sf_dir, "documents"),
        n_rows=table_num_rows(sf_dir, "documents"),
    )


def _planes_values_sql(dim: int, n_planes: int, seed: int = 42) -> str:
    """The LSH hyperplanes as a DuckDB VALUES relation (i, bit, p).

    ``make_hyperplanes`` is seeded pure-Python, so the exact doubles the
    Spark expression uses can be baked into the oracle as literals —
    ``repr(float)`` round-trips IEEE doubles exactly on both engines."""
    planes = Sim.make_hyperplanes(dim, n_planes, seed)
    rows = ",\n      ".join(
        f"({1 << i}, [" + ",".join(repr(x) for x in p) + "]::DOUBLE[])"
        for i, p in enumerate(planes)
    )
    return f"(VALUES {rows}) planes(bit, p)"


# Shared oracle scaffolding: vectors cast to double + prenormed, and the
# per-row LSH bucket — mirrors functions.vectors.dot/norm2/lsh_bucket
# (list_dot_product is the same sequential double fold).
_VECS_SQL = """
    vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ),
    b AS (
      SELECT vec_id,
             sum(CASE WHEN list_dot_product(v, p) > 0 THEN bit ELSE 0 END)::BIGINT AS bucket
      FROM vecs CROSS JOIN {planes}
      GROUP BY vec_id
    ),
    c AS (SELECT vecs.vec_id, v, nrm, bucket FROM vecs JOIN b USING (vec_id))
"""


@register(
    "embedding_near_dups",
    "WITH "
    + _VECS_SQL.format(planes=_planes_values_sql(64, 6))
    + """
    SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b,
           round(CASE WHEN l.nrm * r.nrm > 0
                      THEN list_dot_product(l.v, r.v) / (l.nrm * r.nrm) END, 6) AS sim
    FROM c l JOIN c r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
    WHERE round(CASE WHEN l.nrm * r.nrm > 0
                     THEN list_dot_product(l.v, r.v) / (l.nrm * r.nrm) END, 6) >= 0.95
    """,
)
def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via hyperplane-LSH
    bucketing + exact verify (operators.similarity.pairwise_near_dups).
    Value-exact oracle: the seeded hyperplanes are inlined as SQL
    literals, so DuckDB buckets and scores the same doubles. The
    adaptive plane count resolves from parquet footer stats so query
    construction fires no Spark job (same contract as simhash)."""
    from ramen_spark.catalog import table_num_rows

    emb = _t(spark, sf_dir, "embeddings")
    return Sim.pairwise_near_dups(
        emb, threshold=0.95, dim=64,
        n_rows=table_num_rows(sf_dir, "embeddings"),
    )


@register(
    "lsh_ann_topk",
    "WITH "
    + _VECS_SQL.format(planes=_planes_values_sql(64, 6))
    + """
    , scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
             round(CASE WHEN q.nrm * c.nrm > 0
                        THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) END, 6) AS sim
      FROM c JOIN (SELECT * FROM c WHERE vec_id < 20) q ON c.bucket = q.bucket
      WHERE c.vec_id <> q.vec_id
    )
    SELECT query_id, corpus_id, sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC NULLS LAST, corpus_id ASC)::INT AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (the 100 TB scale path of
    ann_cosine_topk). Value-exact oracle via inlined plane literals."""
    emb = _t(spark, sf_dir, "embeddings")
    return Sim.lsh_topk(emb, emb.filter(F.col("vec_id") < 20), dim=64, k=10, n_planes=6)


@register(
    "ivf_ann_topk",
    """
    WITH vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ),
    cents AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cell,
             list_transform(v, x -> x / nullif(nrm, 0.0)) AS cv
      FROM vecs
      WHERE len(list_filter(list_transform(v, x -> x / nullif(nrm, 0.0)),
                            x -> x IS NULL)) = 0
      ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 8
    ),
    ccell AS (
      SELECT vec_id, cell FROM (
        SELECT vecs.vec_id, cents.cell, row_number() OVER (
          PARTITION BY vecs.vec_id
          ORDER BY list_dot_product(cv, v) DESC NULLS LAST, cell ASC) AS rk
        FROM vecs CROSS JOIN cents
      ) WHERE rk = 1
    ),
    qprobe AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vecs.vec_id, cents.cell, row_number() OVER (
          PARTITION BY vecs.vec_id
          ORDER BY list_dot_product(cv, v) DESC NULLS LAST, cell ASC) AS rk
        FROM vecs CROSS JOIN cents WHERE vecs.vec_id < 20
      ) WHERE rk <= 3
    ),
    scored AS (
      SELECT p.query_id, c.vec_id AS corpus_id,
             round(CASE WHEN q.nrm * c.nrm > 0
                        THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) END, 6) AS sim
      FROM vecs c
      JOIN ccell ON c.vec_id = ccell.vec_id
      JOIN qprobe p ON ccell.cell = p.cell
      JOIN vecs q ON q.vec_id = p.query_id
      WHERE c.vec_id <> p.query_id
    )
    SELECT query_id, corpus_id, sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC NULLS LAST, corpus_id ASC)::INT AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: deterministic md5-seeded sample quantizer
    (k-means with 0 Lloyd refinements — exactly SQL-expressible, so the
    oracle is value-exact) + n_probe-cell probing — the
    partition-pruning ANN tier (operators.similarity.ivf_topk). With
    the corpus stored bucketed by cell id, a probe touches
    n_probe/n_cells of the data and shuffles none of it. The
    Lloyd-refined quantizer (kmeans_fit iters>0) is the production
    tuning path, covered by the recall tests in test_plan_quality."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = Sim.kmeans_fit(emb, n_cells=8, iters=0)
    return Sim.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 20), cents, k=10, n_probe=3
    )


# Shared PQ oracle CTEs (m=8 subspaces × ks=16 codewords × dsub=8 dims over
# the 64-dim unit vectors; seeds = 16 smallest md5(id), matching pq_fit):
# books[s][j] = subvector slice of seed j; ccodes = per-(vector, subspace)
# argmin-L2 codeword with (dist ASC, j ASC) tie-break — the exact twin of
# operators.similarity._pq_codes.
_PQ_SQL = """vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ),
    uvecs AS (
      SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM vecs
    ),
    seeds AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS j, u
      FROM (
        SELECT vec_id, list_transform(v, x -> x / nullif(nrm, 0.0)) AS u
        FROM vecs
        WHERE nrm > 0
          AND len(list_filter(list_transform(v, x -> x / nullif(nrm, 0.0)),
                              x -> x IS NULL)) = 0
        ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16
      )
    ),
    books AS (
      SELECT ss.s, seeds.j, list_slice(u, ss.s * 8 + 1, ss.s * 8 + 8) AS cw
      FROM seeds CROSS JOIN (SELECT unnest(range(8)) AS s) ss
    ),
    ccodes AS (
      SELECT vec_id, s, j AS code FROM (
        SELECT uv.vec_id, b.s, b.j, row_number() OVER (
          PARTITION BY uv.vec_id, b.s
          ORDER BY list_dot_product(b.cw, b.cw)
                   - 2 * list_dot_product(b.cw,
                         list_slice(uv.u, b.s * 8 + 1, b.s * 8 + 8)) ASC,
                   b.j ASC) AS rk
        FROM uvecs uv CROSS JOIN books b
      ) WHERE rk = 1
    )"""

# ADC scoring + per-query rank, shared by both PQ oracles: each candidate's
# score is the s-ascending fold of <q_sub_s, codeword(code_s)> — the exact
# twin of pq_adc_topk's F.aggregate over zip_with(codes, T).
_PQ_RANK_SQL = """
    SELECT query_id, corpus_id, round(adc, 6) AS sim_adc, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id
        ORDER BY round(adc, 6) DESC NULLS LAST, corpus_id ASC)::INT AS rank
      FROM scored
    ) WHERE rank <= 10
    """


@register(
    "pq_adc_ann_topk",
    "WITH "
    + _PQ_SQL
    + """,
    scored AS (
      SELECT q.vec_id AS query_id, cc.vec_id AS corpus_id,
             list_sum(list(
               list_dot_product(list_slice(q.u, cc.s * 8 + 1, cc.s * 8 + 8), b.cw)
               ORDER BY cc.s)) AS adc
      FROM ccodes cc
      JOIN books b ON b.s = cc.s AND b.j = cc.code
      CROSS JOIN (SELECT vec_id, u FROM uvecs WHERE vec_id < 20) q
      WHERE cc.vec_id <> q.vec_id
      GROUP BY q.vec_id, cc.vec_id
    )
    """
    + _PQ_RANK_SQL,
)
def pq_adc_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (Jégou et al. 2011): corpus
    vectors compress to m=8 one-byte codes; each broadcast query builds
    its m×ks lookup table once and every candidate costs 8 lookups + 8
    adds instead of a 64-dim dot (operators.similarity.pq_adc_topk).
    At rest a 100 TB corpus stores 8 bytes of codes per vector instead
    of 256 bytes of floats — a 32× scan-volume cut before any pruning.
    The iters=0 codebook fit is exactly SQL-expressible, so the oracle
    is value-exact; Lloyd-refined codebooks (pq_fit iters>0) are the
    production path, covered by recall tests in test_series_ops."""
    emb = _t(spark, sf_dir, "embeddings")
    books = Sim.pq_fit(emb, m=8, ks=16, dim=64, iters=0)
    return Sim.pq_adc_topk(emb, emb.filter(F.col("vec_id") < 20), books, k=10)


@register(
    "ivf_pq_ann_topk",
    "WITH "
    + _PQ_SQL
    + """,
    cents AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cell,
             list_transform(v, x -> x / nullif(nrm, 0.0)) AS cv
      FROM vecs
      WHERE nrm > 0
        AND len(list_filter(list_transform(v, x -> x / nullif(nrm, 0.0)),
                            x -> x IS NULL)) = 0
      ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 8
    ),
    ccell AS (
      SELECT vec_id, cell FROM (
        SELECT vecs.vec_id, cents.cell, row_number() OVER (
          PARTITION BY vecs.vec_id
          ORDER BY list_dot_product(cv, v) DESC NULLS LAST, cell ASC) AS rk
        FROM vecs CROSS JOIN cents
      ) WHERE rk = 1
    ),
    qprobe AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT uvecs.vec_id, cents.cell, row_number() OVER (
          PARTITION BY uvecs.vec_id
          ORDER BY list_dot_product(cv, u) DESC NULLS LAST, cell ASC) AS rk
        FROM uvecs CROSS JOIN cents WHERE uvecs.vec_id < 20
      ) WHERE rk <= 3
    ),
    scored AS (
      SELECT q.vec_id AS query_id, cc.vec_id AS corpus_id,
             list_sum(list(
               list_dot_product(list_slice(q.u, cc.s * 8 + 1, cc.s * 8 + 8), b.cw)
               ORDER BY cc.s)) AS adc
      FROM ccodes cc
      JOIN books b ON b.s = cc.s AND b.j = cc.code
      JOIN ccell ON ccell.vec_id = cc.vec_id
      JOIN qprobe p ON ccell.cell = p.cell
      JOIN uvecs q ON q.vec_id = p.query_id
      WHERE cc.vec_id <> q.vec_id
      GROUP BY q.vec_id, cc.vec_id
    )
    """
    + _PQ_RANK_SQL,
)
def ivf_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the full billion-scale ANN layout — an 8-cell coarse
    quantizer prunes each query to its 3 closest cells (scan fraction
    3/8, partition-pruned when the corpus is stored bucketed by cell),
    then PQ ADC scores only the survivors from their 8-byte codes.
    Compression and pruning multiply: vs brute force this touches
    3/8 of the rows at 1/32 of the bytes each. Both quantizers are
    md5-seeded (iters=0) so the whole pipeline is SQL-expressible and
    the oracle value-exact."""
    emb = _t(spark, sf_dir, "embeddings")
    books = Sim.pq_fit(emb, m=8, ks=16, dim=64, iters=0)
    cents = Sim.kmeans_fit(emb, n_cells=8, iters=0)
    return Sim.pq_adc_topk(
        emb, emb.filter(F.col("vec_id") < 20), books, k=10,
        centroids=cents, n_probe=3,
    )


@register(
    "pq_rerank_ann_topk",
    "WITH "
    + _PQ_SQL
    + """,
    scored AS (
      SELECT q.vec_id AS query_id, cc.vec_id AS corpus_id,
             list_sum(list(
               list_dot_product(list_slice(q.u, cc.s * 8 + 1, cc.s * 8 + 8), b.cw)
               ORDER BY cc.s)) AS adc
      FROM ccodes cc
      JOIN books b ON b.s = cc.s AND b.j = cc.code
      CROSS JOIN (SELECT vec_id, u FROM uvecs WHERE vec_id < 20) q
      WHERE cc.vec_id <> q.vec_id
      GROUP BY q.vec_id, cc.vec_id
    ),
    shortlist AS (
      SELECT query_id, corpus_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id
          ORDER BY round(adc, 6) DESC NULLS LAST, corpus_id ASC) AS rk
        FROM scored
      ) WHERE rk <= 50
    ),
    exact AS (
      SELECT s.query_id, s.corpus_id,
             round(CASE WHEN q.nrm * c.nrm > 0
                        THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) END,
                   6) AS sim
      FROM shortlist s
      JOIN vecs c ON c.vec_id = s.corpus_id
      JOIN vecs q ON q.vec_id = s.query_id
    )
    SELECT query_id, corpus_id, sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id
        ORDER BY sim DESC NULLS LAST, corpus_id ASC)::INT AS rank
      FROM exact
    ) WHERE rank <= 10
    """,
)
def pq_rerank_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval (operators.similarity.pq_rerank_topk): the
    8-byte-code ADC scan shortlists 50 candidates per query, then only
    those fetch raw vectors for an exact cosine re-rank to 10. The
    production 100 TB read path — hot store holds codes, cold archive
    holds vectors, and the re-rank fetch is |queries|×50 ids regardless
    of corpus size. Final scores are exact, so recall loss comes only
    from shortlist membership (tunable). Fully SQL-expressible at
    iters=0 → value-exact oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    books = Sim.pq_fit(emb, m=8, ks=16, dim=64, iters=0)
    return Sim.pq_rerank_topk(
        emb, emb.filter(F.col("vec_id") < 20), books, k=10, shortlist=50
    )


# ===========================================================================
# 5. Sequential stateful ops (rows-only oracles — SURVEY §2.4 hard cases)
# ===========================================================================


@register(
    "smooth_ewma",
    """
    WITH RECURSIVE t AS (
      SELECT event_id, event_type, CAST(value AS DOUBLE) AS value,
             row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
      FROM events
    ), r AS (
      SELECT event_type, rn, event_id, value AS s FROM t WHERE rn = 1
      UNION ALL
      SELECT t.event_type, t.rn, t.event_id, 0.5 * t.value + 0.5 * r.s
      FROM r JOIN t ON t.event_type = r.event_type AND t.rn = r.rn + 1
    )
    SELECT event_id, round(s, 6) AS smoothed FROM r
    """,
)
def smooth_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMOOTH 0.5 value (EWMA, doc/raql/expr.ml:849) per event_type —
    grouped Arrow fold (operators.series.smooth). The oracle unrolls
    the recurrence with a recursive CTE; with α=0.5 both coefficient
    multiplies are exact halvings, so the doubles are bit-identical."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "ts", "value")
    out = Ser.smooth(ev, "value", 0.5, ["event_type"], ["ts", "event_id"])
    return out.select("event_id", F.round("smoothed", 6).alias("smoothed"))


@register(
    "hysteresis_flags",
    """
    WITH RECURSIVE t AS (
      SELECT event_id, event_type, CAST(value AS DOUBLE) AS value,
             row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
      FROM events
    ), r AS (
      SELECT event_type, rn, event_id, (value <= 100.0) AS ok FROM t WHERE rn = 1
      UNION ALL
      SELECT t.event_type, t.rn, t.event_id,
             CASE WHEN r.ok THEN t.value <= 100.0 ELSE t.value <= 50.0 END
      FROM r JOIN t ON t.event_type = r.event_type AND t.rn = r.rn + 1
    )
    SELECT event_id, ok AS in_range FROM r
    """,
)
def hysteresis_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYSTERESIS(value, 50, 100) per event_type (doc/raql/expr.ml:894).
    Schmitt-trigger recurrence; oracle = recursive CTE over the same
    (ts, event_id) order."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "ts", "value")
    out = Ser.hysteresis(
        ev, "value", accept=50.0, maximum=100.0, keys=["event_type"],
        order_col=["ts", "event_id"],
    )
    return out.select("event_id", "in_range")


@register(
    "alert_firing_transitions",
    """
    WITH RECURSIVE t AS (
      SELECT event_type, CAST(event_id AS DOUBLE) AS start,
             CAST(value AS DOUBLE) AS value,
             row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
      FROM events
    ), r AS (
      SELECT event_type, rn, start, (value <= 100.0) AS ok FROM t WHERE rn = 1
      UNION ALL
      SELECT t.event_type, t.rn, t.start,
             CASE WHEN r.ok THEN t.value <= 100.0 ELSE t.value <= 50.0 END
      FROM r JOIN t ON t.event_type = r.event_type AND t.rn = r.rn + 1
    ), f AS (
      SELECT event_type, rn, start, NOT ok AS firing,
             lag(NOT ok) OVER (PARTITION BY event_type ORDER BY rn) AS prev
      FROM r
    )
    SELECT event_type, start, firing
    FROM f
    WHERE (prev IS NULL AND firing) OR firing <> prev
    """,
)
def alert_firing_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The alert→RaQL transpiler END-TO-END (alerts.py, mirroring
    src/CodeGen_Alert2RaQL.ml): a declarative threshold alert on
    events.value (threshold 100, recovery 50, grouped by event_type)
    becomes the filtered→ok→alert program, compiled and materialized
    by the in-repo front-end; the output is the firing TRANSITIONS
    (AFTER CHANGED firing |? firing). Oracle = the hysteresis
    recursive CTE plus a lag() transition filter. The event axis is
    event_id (monotone, unique) so both engines fold in the same
    order; the single sorted partition pins arrival order (hysteresis
    is inherently sequential per group; the fold sorts each group by
    the event-time column `start` inside its own partition, so the
    plan stays parallel across groups — no single-partition pin)."""
    from ramen_spark.alerts import AlertSpec, compile_alert

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.col("event_id").cast("double").alias("start"),
        (F.col("event_id").cast("double") + 1.0).alias("stop"),
        "value",
    )
    spec = AlertSpec(
        table="ev", column="value", threshold=100.0, hysteresis=-50.0,
        group_by=["event_type"],
    )
    cols = {"event_type": "string", "start": "float", "stop": "float",
            "value": "float"}
    prog, _text = compile_alert(spec, cols)
    out = prog.materialize(spark, externals={"ev": ev}, register_views=False)
    return out["alert"].select("event_type", "start", "firing")


@register(
    "commit_after_count",
    """
    WITH t AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
    FROM (SELECT event_type, value, (rn - 1) // 100 AS g FROM t)
    GROUP BY event_type, g
    HAVING count(*) = 100
    """,
)
def commit_after_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General COMMIT engine demo: per event_type, COMMIT AFTER the
    group has accumulated 100 events, FLUSH — emits one tuple per
    complete window of 100 (operators.aggregate.commit_aggregate;
    parity with the reference's count-based windows,
    tests/func/basic_aggr.ramen style)."""
    from ramen_spark.operators.aggregate import commit_aggregate

    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "event_id", "value")

    def init():
        return {"n": 0, "sum": 0.0}

    def update(st, row):
        st["n"] += 1
        st["sum"] += row["value"]

    def fin(st, row, prev):
        return {
            "event_type": row["event_type"],
            "n": st["n"],
            "sum_value": round(st["sum"], 6),
        }

    def cond(st, row, prev):
        return st["n"] >= 100

    return commit_aggregate(
        ev,
        key_cols=["event_type"],
        # tie-break on event_id: duplicate (event_type, ts) would make
        # 100-row window membership nondeterministic on both sides
        order_col=["ts", "event_id"],
        init_state=init,
        update=update,
        finalize=fin,
        commit_cond=cond,
        output_schema="event_type string, n long, sum_value double",
    )


# ===========================================================================
# 6. Second-wave operators (windows over time ranges, seasonality, network
#    ops, set ops, ordered limits, 2-D time grids)
# ===========================================================================


@register(
    "season_moveavg_10",
    """
    SELECT event_id,
           round(CASE WHEN ((l1 IS NOT NULL)::INT + (l2 IS NOT NULL)::INT + (l3 IS NOT NULL)::INT) > 0
                 THEN (coalesce(l1, 0) + coalesce(l2, 0) + coalesce(l3, 0))
                      / ((l1 IS NOT NULL)::INT + (l2 IS NOT NULL)::INT + (l3 IS NOT NULL)::INT)
                 END, 6) AS season_ma
    FROM (
      SELECT event_id,
             lag(value, 10) OVER w AS l1,
             lag(value, 20) OVER w AS l2,
             lag(value, 30) OVER w AS l3
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ) t
    """,
)
def season_moveavg_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASON-MOVEAVG(10,3) — mean of v(t-10), v(t-20), v(t-30),
    ignoring not-yet-available lags (raql_expr.type:263-272,
    tests/func/season.ramen)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lags = [F.lag("value", 10 * i).over(w) for i in (1, 2, 3)]
    nvalid = sum(L.isNotNull().cast("int") for L in lags)
    total = sum(F.coalesce(L, F.lit(0)) for L in lags)
    season = F.when(nvalid > 0, total / nvalid)
    return ev.select("event_id", F.round(season, 6).alias("season_ma"))


@register(
    "past_range_window",
    """
    SELECT event_id,
           count(*) OVER w            AS past_n,
           round(sum(value) OVER w, 6) AS past_sum
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                 RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
    """,
)
def past_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAST 600s OF x (sliding, raql_expr.type:347-355) in aggregate
    form: count/sum over the last 10 minutes per event_type — a range
    window over integer microseconds."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-600 * 1000000, 0)
    )
    return ev.select(
        "event_id",
        F.count(F.lit(1)).over(w).alias("past_n"),
        F.round(F.sum("value").over(w), 6).alias("past_sum"),
    )


@register(
    "ip_cidr_membership",
    """
    SELECT user_id,
           ((ip // 16777216) % 256)::VARCHAR || '.' || ((ip // 65536) % 256)::VARCHAR || '.'
             || ((ip // 256) % 256)::VARCHAR || '.' || (ip % 256)::VARCHAR AS ip_str,
           ip BETWEEN 167772160 AND 167776255 AS in_subnet
    FROM (SELECT DISTINCT user_id, 167772160 + (user_id * 7919) % 65536 AS ip FROM events) t
    """,
)
def ip_cidr_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4 formatting + IP IN CIDR membership (src/raql_type.ml:34-40,
    doc/raql/expr.ml:626 'IP IN CIDR'): synthetic per-user IPs in
    10.0.0.0/16, membership test against 10.0.0.0/20."""
    from ramen_spark.functions import network as N

    ev = _t(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    ip = (F.lit(167772160) + (F.col("user_id") * 7919) % 65536).alias("ip")
    t = users.select("user_id", ip)
    cidr = N.cidr_v4(F.lit(167772160), 20)  # 10.0.0.0/20
    return t.select(
        "user_id",
        N.ipv4_to_string(F.col("ip")).alias("ip_str"),
        N.cidr_contains(cidr, F.col("ip")).alias("in_subnet"),
    )


@register(
    "format_time_daily",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
           round(sum(value), 6) AS sum_value
    FROM events
    GROUP BY day
    """,
)
def format_time_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORMAT_TIME (doc/raql/expr.ml:640) as a grouping label: daily
    rollup keyed by the formatted day string (UTC both engines)."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    return ev.groupBy(day).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value")
    )


@register(
    "string_ops_profile",
    """
    SELECT doc_id,
           string_split(text, ' ')[1]                AS first_word,
           contains(text, 'spark')                   AS has_spark,
           upper(substr(text, 1, 10))                AS head10,
           length(text)                              AS n_bytes
    FROM documents
    """,
)
def string_ops_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String operator bundle: split-index (GET), substring, LIKE-class
    containment, upper, length (doc/raql/expr.ml string section)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.element_at(F.split("text", " "), 1).alias("first_word"),
        F.col("text").contains("spark").alias("has_spark"),
        F.upper(F.substring("text", 1, 10)).alias("head10"),
        F.octet_length("text").alias("n_bytes"),
    )


@register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS ≡ left-anti join (extension; reference has no joins).
    Anti joins at scale: broadcast the smaller side or rely on AQE."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "active_high_value_users",
    """
    SELECT DISTINCT user_id FROM events WHERE value > 190
    """,
)
def active_high_value_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS ≡ left-semi/distinct-filter."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(F.col("value") > 190).select("user_id").distinct()


@register(
    "multi_percentiles_by_type",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.50), 6) AS p50,
           round(quantile_cont(value, 0.75), 6) AS p75
    FROM events
    GROUP BY event_type
    """,
)
def multi_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[25;50;75] PERCENTILE v — the vector form (doc/raql/expr.ml:681),
    flattened to one column per requested percentile."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        *[
            F.round(F.percentile("value", F.lit(p / 100)), 6).alias(f"p{p}")
            for p in (25, 50, 75)
        ]
    )


@register(
    "top20_orders_global",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20
    """,
)
def top20_orders_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT with a total order — Spark's sort-limit
    is a per-partition top-k + tiny final merge (TakeOrderedAndProject),
    no full sort at scale."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_totalprice")
        .limit(20)
    )


@register(
    "sources_per_lang",
    """
    SELECT lang, string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
           count(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def sources_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP x in its string-rendered form: sorted distinct collection
    per group (doc/raql/expr.ml:800 GROUP → array; rendered to a
    deterministic comma-joined string)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"),
        F.countDistinct("source").alias("n_sources"),
    )


@register(
    "dow_hour_heatmap",
    """
    SELECT ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
           (epoch_us(ts) // 3600000000) % 24       AS hour,
           count(*)                                AS n
    FROM events
    GROUP BY dow, hour
    """,
)
def dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D event-time grid (day-of-week × hour) via pure integer µs
    arithmetic (engine-independent: 1970-01-01 = Thursday = 4)."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    return ev.groupBy(
        ((F.floor(us / F.lit(86400000000)) + 4) % 7).alias("dow"),
        (F.floor(us / F.lit(3600000000)) % 24).alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "dedup_keep_longest",
    f"""
    SELECT fp, doc_id AS keep_id, n_copies FROM (
      SELECT md5({_NORM_SQL}) AS fp, doc_id, n_chars,
             count(*) OVER (PARTITION BY md5({_NORM_SQL})) AS n_copies,
             row_number() OVER (PARTITION BY md5({_NORM_SQL})
                                ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM documents
    ) t WHERE rn = 1
    """,
)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a quality-keeper policy: keep the longest doc
    per fingerprint (rank within fingerprint) — the 'keep best, not
    first' variant of dedup_exact."""
    docs = _t(spark, sf_dir, "documents")
    fp = Tx.fingerprint(F.col("text")).alias("fp")
    t = docs.select(fp, "doc_id", "n_chars")
    w = Window.partitionBy("fp")
    wr = w.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    return (
        t.withColumn("n_copies", F.count(F.lit(1)).over(w))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("fp", F.col("doc_id").alias("keep_id"), "n_copies")
    )


@register(
    "embedding_norm_stats",
    """
    SELECT label,
           count(*) AS n,
           round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector math profile: average L2 norm per label (JVM-side
    zip_with/aggregate — functions.vectors)."""
    from ramen_spark.functions import vectors as V

    emb = _t(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(V.norm2(F.col("embedding"))), 6).alias("avg_norm"),
    )


@register(
    "raql_frontend_minute_agg",
    """
    SELECT event_type,
           epoch_us(ts) // 60000000 AS minute,
           round(sum(value), 6)     AS s,
           count(*)                 AS n
    FROM events
    GROUP BY event_type, minute
    """,
)
def raql_frontend_minute_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RaQL text → plan (plans.raql): the reference's
    benchmark query shape parsed from the actual language surface and
    compiled onto the events table. Proves the front-end emits the
    same Catalyst plan the hand-built queries use."""
    from ramen_spark.plans.raql import compile_operation

    ev = _t(spark, sf_dir, "events").withColumn("t_us", F.unix_micros("ts"))
    out = compile_operation(
        "SELECT event_type, t_us // 60000000 AS minute, SUM value AS s, COUNT(1) AS n "
        "GROUP BY event_type, t_us // 60000000 "
        "COMMIT AFTER in.t_us > out.minute * 60000000 + 120000000",
        ev,
    )
    return out.select("event_type", F.col("minute").cast("long").alias("minute"), F.round("s", 6).alias("s"), "n")


@register(
    "raql_program_pipeline",
    """
    SELECT event_type,
           round(sum(value * 2), 6) AS s,
           count(*)                 AS n
    FROM events
    WHERE value >= 100
    GROUP BY event_type
    """,
)
def raql_program_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full RaQL program text → DAG → result (SURVEY §3.1 entry point
    A): a private filter/projection stage feeding a public aggregate,
    parameters bound at materialize. Catalyst collapses both DEFINEs
    into one scan+filter+partial-agg plan — the program layer adds no
    physical cost."""
    from ramen_spark.plans.raql import compile_program

    ev = _t(spark, sf_dir, "events")
    prog = compile_program(
        """
        PARAMETERS lo DEFAULTS TO 100;
        DEFINE _doubled AS SELECT event_type, value * 2 AS dbl
          FROM events WHERE value >= param.lo;
        DEFINE per_type AS SELECT event_type, ROUND(SUM dbl, 6) AS s, COUNT(1) AS n
          FROM _doubled GROUP BY event_type
        """,
        name="pipeline",
    )
    dfs = prog.materialize(spark, externals={"events": ev}, register_views=False)
    return dfs["per_type"]


@register(
    "bool_bit_aggregates",
    """
    SELECT event_type,
           bool_and(value > 1)            AS all_above1,
           bool_or(value > 190)           AS any_above190,
           bit_and(user_id)               AS band,
           bit_or(user_id)                AS bor,
           bit_xor(user_id)               AS bxor
    FROM events
    GROUP BY event_type
    """,
)
def bool_bit_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND/OR and BITAND/BITOR/BITXOR aggregate folds
    (raql_expr.type:230-234, CodeGenLib.ml:65-75)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.bool_and(F.col("value") > 1).alias("all_above1"),
        F.bool_or(F.col("value") > 190).alias("any_above190"),
        F.bit_and("user_id").alias("band"),
        F.bit_or("user_id").alias("bor"),
        F.bit_xor("user_id").alias("bxor"),
    )


@register(
    "once_every_10min",
    """
    SELECT event_id, event_type
    FROM (
      SELECT event_id, event_type,
             row_number() OVER (PARTITION BY event_type, epoch_us(ts) // 600000000
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) t
    WHERE rn = 1
    """,
)
def once_every_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVERY 10min TUMBLING x (OnceEvery, doc/raql/expr.ml:908,
    CodeGenLib.ml:1112-1143): the first value per 10-minute bucket."""
    ev = _t(spark, sf_dir, "events")
    bucket = F.expr("unix_micros(ts) div 600000000")
    w = Window.partitionBy("event_type", bucket).orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "event_type")
    )


@register(
    "linear_fit_per_type",
    """
    SELECT event_type,
           round(regr_slope(value, ((epoch_us(ts) - 1704067200000000) / 86400000000.0)), 6) AS slope_per_day,
           round(regr_intercept(value, ((epoch_us(ts) - 1704067200000000) / 86400000000.0)), 6) AS intercept,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def linear_fit_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIT (simple linear case, doc/raql/expr.ml:341) via the native
    regression aggregates: value ~ days-since-2024-01-01. The general
    multi-predictor FIT is operators.series.fit_predict."""
    ev = _t(spark, sf_dir, "events")
    x = ((F.unix_micros("ts") - F.lit(1704067200000000)) / F.lit(86400000000.0))
    return ev.groupBy("event_type").agg(
        F.round(F.regr_slope(F.col("value"), x), 6).alias("slope_per_day"),
        F.round(F.regr_intercept(F.col("value"), x), 6).alias("intercept"),
        F.count(F.lit(1)).alias("n"),
    )


@register("multilinreg_fit")  # rows-only: numpy lstsq fold
def multilinreg_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTILINREG / FIT with several predictors
    (CodeGenLib.ml:946-1083): value ~ time + user_id per event_type,
    fitted values per row (operators.series.fit_predict)."""
    from ramen_spark.operators.series import fit_predict

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("t_day", (F.unix_micros("ts") - F.lit(1704067200000000)) / F.lit(86400000000.0))
        .select("event_id", "event_type", "t_day", "user_id", "value")
    )
    out = fit_predict(ev, "value", ["t_day", "user_id"], ["event_type"], "t_day")
    return out.select("event_id", F.round("fitted", 6).alias("fitted"))


@register("holt_winters_smoothing")  # rows-only: sequential recurrence
def holt_winters_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAMPEDHOLTWINTER(0.5, 0.3, 0.2, 0.9, p=24) over hourly-ish
    event values per type (raql_expr.type:315-316)."""
    from ramen_spark.operators.series import damped_holt_winters

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "ts", "value")
    out = damped_holt_winters(ev, "value", 0.5, 0.3, 0.2, 0.9, 24, ["event_type"], "ts")
    return out.select("event_id", F.round("hw", 6).alias("hw"))


# ===========================================================================
# 7. Third wave: as-of join, enrichment lookup, sampling, ordered limits
# ===========================================================================


@register(
    "supplier_balance_by_nation",
    """
    SELECT n_name,
           count(*)                       AS n_suppliers,
           round(sum(s_acctbal), 2)       AS total_bal,
           round(avg(s_acctbal), 6)       AS avg_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def supplier_balance_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-to-dimension enrichment over the supplier table
    (broadcast nation; completes coverage of every testdata table)."""
    s = _t(spark, sf_dir, "supplier")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
            F.round(F.avg("s_acctbal"), 6).alias("avg_bal"),
        )
    )


@register(
    "part_size_histogram",
    """
    SELECT p_brand,
           CASE WHEN p_size < 0 THEN 0
                WHEN p_size >= 50 THEN 11
                ELSE CAST(floor((p_size - 0) / 5.0) AS INT) + 1 END AS size_bucket,
           count(*)                        AS n,
           round(avg(p_retailprice), 6)    AS avg_price
    FROM part
    GROUP BY p_brand, size_bucket
    """,
)
def part_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HISTOGRAM(p_size, 0, 50, 10) per brand over the part table —
    the 2-D (factor × bucket) breakdown shape of `ramen timeseries`
    FACTORS output."""
    p = _t(spark, sf_dir, "part")
    bucket = S.histogram(F.col("p_size"), 0.0, 50.0, 10).alias("size_bucket")
    return p.groupBy("p_brand", bucket).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("p_retailprice"), 6).alias("avg_price"),
    )


@register(
    "salted_skew_aggregate",
    """
    SELECT event_type,
           count(*)                                       AS n,
           CAST(sum((round(value * 100, 0))::BIGINT) AS BIGINT) AS sum_cents,
           min(value)                                     AS min_value,
           max(value)                                     AS max_value
    FROM events
    GROUP BY event_type
    """,
)
def salted_skew_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof aggregation (operators.skew.salted_aggregate): 5 hot
    keys over all rows is the worst-case key histogram — the salt
    spreads each key over 32 reducers, then combines 5×32 partial
    rows. Values are identical to the plain groupBy (integer-cent sums
    are associative under regrouping), which is exactly what the
    oracle checks."""
    from ramen_spark.operators.skew import salted_aggregate

    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return salted_aggregate(
        ev,
        ["event_type"],
        {
            "n": (F.lit(1), "count"),
            "sum_cents": (cents, "sum"),
            "min_value": ("value", "min"),
            "max_value": ("value", "max"),
        },
        n_salts=32,
        salt_from="event_id",
    )


@register(
    "network_binary_profile",
    """
    WITH t AS (
      SELECT DISTINCT user_id,
             lpad(lower(hex(user_id * 110011)), 12, '0')  AS machex,
             167772160 + (user_id * 7919) % 65536          AS ip,
             lpad(hex(user_id), 16, '0') || lpad(hex(user_id * 7919), 16, '0') AS uhex,
             chr((65 + user_id % 26)::INT)                 AS tag
      FROM events)
    SELECT user_id,
           substring(machex,1,2) || ':' || substring(machex,3,2) || ':' ||
           substring(machex,5,2) || ':' || substring(machex,7,2) || ':' ||
           substring(machex,9,2) || ':' || substring(machex,11,2)   AS mac,
           (ip // 4096) * 4096                                      AS cidr_begin,
           (ip // 4096) * 4096 + 4095                               AS cidr_end,
           tag,
           lower(substring(uhex,1,8) || '-' || substring(uhex,9,4) || '-' ||
                 substring(uhex,13,4) || '-' || substring(uhex,17,4) || '-' ||
                 substring(uhex,21,12))                              AS uuid,
           ascii(substring(rpad(tag, 4, 'x'),1,1))
             + ascii(substring(rpad(tag, 4, 'x'),2,1)) * 256
             + ascii(substring(rpad(tag, 4, 'x'),3,1)) * 65536
             + ascii(substring(rpad(tag, 4, 'x'),4,1)) * 16777216    AS peeked
    FROM t
    """,
)
def network_binary_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Network/binary operator bundle with reference semantics: Eth
    formatting (src/RamenEthAddr.ml), BEGINOFRANGE/ENDOFRANGE on a /20
    (CodeGenLib.ml:1085-1088), CHR (doc:303), UUID_OF_U128 (doc:145),
    PEEK U32 LITTLE ENDIAN (doc:94). All builtin expressions — one
    codegen stage after the distinct."""
    from ramen_spark.functions import network as N

    ev = _t(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    ip = (F.lit(_CC_BASE) + (F.col("user_id") * 7919) % 65536).alias("ip")
    tag = S.chr_(F.lit(65) + F.col("user_id") % 26)
    t = users.select("user_id", ip, tag.alias("tag"))
    cidr = N.cidr_v4(F.col("ip"), 20)
    return t.select(
        "user_id",
        N.eth_to_string(F.col("user_id") * 110011).alias("mac"),
        N.begin_of_range(cidr).alias("cidr_begin"),
        N.end_of_range(cidr).alias("cidr_end"),
        "tag",
        S.uuid_of_u128(F.col("user_id"), F.col("user_id") * 7919).alias("uuid"),
        S.peek_u32_le(F.rpad(F.col("tag"), 4, "x")).alias("peeked"),
    )


@register(
    "asof_last_purchase",
    """
    SELECT e.event_id,
           round(p.value, 6)                  AS purchase_value,
           epoch_us(e.ts) - epoch_us(p.ts)    AS gap_us
    FROM events e
    ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (extension): each event annotated with the same
    user's most recent purchase value and the elapsed µs since it.
    Union-trick implementation (operators.asof.asof_join): ONE
    shuffle+sort over |L|+|R|, no range probe — the 100 TB shape."""
    from ramen_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type", "value")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
        F.unix_micros("ts").alias("purchase_us"),
    )
    joined = asof_join(
        ev, purchases, ["user_id"], "ts", "ts", ["purchase_value", "purchase_us"]
    )
    return joined.select(
        "event_id",
        F.round("purchase_value", 6).alias("purchase_value"),
        (F.unix_micros("ts") - F.col("purchase_us")).alias("gap_us"),
    )


_CC_BASE = 167772160  # 10.0.0.0
_CC_WIDTH = 8192
_CC_LIST = ["US", "DE", "FR", "JP", "BR", "IN", "AU", "ZA"]


@register(
    "countrycode_enrich",
    f"""
    WITH t AS (SELECT DISTINCT user_id, {_CC_BASE} + (user_id * 7919) % 65536 AS ip FROM events),
    r(ip_from, ip_to, cc) AS (VALUES {", ".join(
        f"({_CC_BASE + i * _CC_WIDTH}, {_CC_BASE + (i + 1) * _CC_WIDTH - 1}, '{cc}')"
        for i, cc in enumerate(_CC_LIST)
    )})
    SELECT t.user_id, t.ip, r.cc AS country
    FROM t LEFT JOIN r ON t.ip BETWEEN r.ip_from AND r.ip_to
    """,
)
def countrycode_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNTRYCODE ip (doc/raql/expr.ml:366, src/CountryOfIp.ml):
    broadcast interval join against a (ip_from, ip_to, cc) range table
    — here a synthetic 8-slice carve of 10.0.0.0/16. The real
    IpToCountry table (~200k rows) uses the identical plan: range
    table broadcast, predicate evaluated map-side, fact table never
    shuffles (functions.network.countrycode_join)."""
    from ramen_spark.functions.network import countrycode_join

    ev = _t(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    t = users.select(
        "user_id", (F.lit(_CC_BASE) + (F.col("user_id") * 7919) % 65536).alias("ip")
    )
    ranges = spark.createDataFrame(
        [
            (_CC_BASE + i * _CC_WIDTH, _CC_BASE + (i + 1) * _CC_WIDTH - 1, cc)
            for i, cc in enumerate(_CC_LIST)
        ],
        "ip_from long, ip_to long, cc string",
    )
    return countrycode_join(t, "ip", ranges)


@register(
    "deterministic_sample",
    """
    SELECT event_id, event_type FROM (
      SELECT event_id, event_type,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY md5(event_id::VARCHAR), event_id) AS rn
      FROM events
    ) t WHERE rn <= 5
    """,
)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE 5 x per group (doc/raql/expr.ml:860, RamenSampling.ml) —
    hash-ranked deterministic reservoir: rank rows by md5(id) and keep
    the first 5 per group. Statistically uniform like the reference's
    reservoir but reproducible across engines and retries (the
    property a 100 TB pipeline actually wants); the seeded-random
    variant is operators.series.reservoir_sample."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("event_id", "event_type")
    )


@register(
    "latest_events_per_user",
    """
    SELECT user_id, event_id, rank FROM (
      SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rank
      FROM events
    ) t WHERE rank <= 5
    """,
)
def latest_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATEST 5 x per group (raql_expr.type:302-314 LATEST/OLDEST):
    last-5-by-arrival, event-time order standing in for arrival."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("user_id", "event_id", "rank")
    )


@register(
    "scalar_math_profile",
    """
    SELECT event_id,
           floor(value / 5.0) * 5.0 AS trunc5,
           round(CASE WHEN greatest(abs(value), 100.0) = 0 THEN 0.0
                      ELSE abs(value - 100.0) / greatest(abs(value), 100.0) END, 6) AS rd100,
           CAST(floor(value / 7.0) AS BIGINT)  AS idiv7,
           CAST(user_id % 7 AS BIGINT)         AS mod7,
           CASE WHEN length(event_type) <= 2 THEN ''
                ELSE substring(event_type, 2, length(event_type) - 2) END AS mid_type,
           CASE WHEN strpos(reverse(event_type), 'e') = 0 THEN -1
                ELSE length(event_type) - strpos(reverse(event_type), 'e') END AS last_e
    FROM events
    """,
)
def scalar_math_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-operator bundle with reference semantics: TRUNCATE(x,5),
    RELDIFF(x,100), float ``//``, ``%``, SUBSTRING with a negative
    stop, INDEX FROM END (doc/raql/expr.ml:500,511,475,485,702,666).
    All compile to builtin JVM expressions — one codegen stage, no
    shuffle, no UDF."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        S.truncate(F.col("value"), 5.0).alias("trunc5"),
        F.round(S.reldiff(F.col("value"), F.lit(100.0)), 6).alias("rd100"),
        S.idiv(F.col("value"), F.lit(7.0)).cast("long").alias("idiv7"),
        S.mod(F.col("user_id"), F.lit(7)).cast("long").alias("mod7"),
        S.substring(F.col("event_type"), 1, -1).alias("mid_type"),
        S.index_of(F.col("event_type"), "e", from_end=True).alias("last_e"),
    )


# ===========================================================================
# 10. Binary wire formats (SURVEY §2.1 ReadExternal/ListenFor decode kernels)
# ===========================================================================


@register(
    "rowbinary_roundtrip",
    """
    SELECT l_returnflag,
           count(*)                              AS n_rows,
           round(sum(l_quantity), 2)             AS sum_qty,
           CAST(sum(l_orderkey) AS BIGINT)       AS sum_orderkey
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def rowbinary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READ ... AS ROWBINARY, proven end-to-end: lineitem → ClickHouse
    RowBinary blobs (one per partition, sources.binary encoder) → the
    mapInPandas decoder → aggregate. The oracle aggregates the raw
    table, so any byte-level defect in either kernel breaks parity.
    Decode is per-blob row-local — parallelism = input partitions, no
    shuffle until the final aggregate."""
    from ramen_spark.sources.binary import decode_rowbinary, encode_rowbinary_df

    spec = [
        ("l_orderkey", "int64"),
        ("l_quantity", "float64"),
        ("l_returnflag", "Nullable(String)"),
    ]
    # no widen() here: measured at sf0.1 the repartition shuffle of
    # 600k rows costs more than the parallel decode saves (the blob
    # codec is ~250k rows/s/core; events-based codecs below do win)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    decoded = decode_rowbinary(encode_rowbinary_df(li, spec), spec)
    return decoded.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.sum("l_orderkey").alias("sum_orderkey"),
    )


@register(
    "netflow_decode_profile",
    """
    SELECT event_id % 256                        AS ip_proto,
           count(*)                              AS n_flows,
           CAST(sum(event_id % 100000) AS BIGINT)   AS sum_bytes,
           CAST(sum(user_id % 1000 + 1) AS BIGINT)  AS sum_packets
    FROM events
    GROUP BY 1
    """,
)
def netflow_decode_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTEN FOR netflow, proven end-to-end on synthetic flows:
    events rows → NetFlow v5 packets (30 records/packet, the real
    24+48-byte big-endian layout) → the mapInPandas packet decoder →
    per-protocol rollup. The oracle computes the same rollup from the
    pre-encode field mapping, so header/record offsets, endianness and
    unsigned widths are all on the hook. Mirrors the reference's
    src/RamenNetflow.ml:14-142 surface."""
    from ramen_spark.sources.binary import decode_netflow_v5, encode_netflow_v5_df

    from ramen_spark.catalog import widen

    ev = widen(_t(spark, sf_dir, "events"))
    flows = ev.select(
        (F.col("user_id") % 4294967296).alias("src"),
        (F.col("event_id") % 65536).cast("int").alias("src_port"),
        (F.col("event_id") % 100000).alias("bytes"),
        (F.col("user_id") % 1000 + 1).alias("packets"),
        (F.col("event_id") % 256).cast("int").alias("ip_proto"),
    )
    decoded = decode_netflow_v5(encode_netflow_v5_df(flows))
    return decoded.groupBy(F.col("ip_proto").cast("long").alias("ip_proto")).agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum("bytes").alias("sum_bytes"),
        F.sum("packets").alias("sum_packets"),
    )


@register(
    "collectd_decode_profile",
    """
    SELECT 'h' || CAST(user_id % 20 AS VARCHAR)  AS host,
           event_type                            AS plugin,
           count(*)                              AS n_samples,
           round(sum(value), 2)                  AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def collectd_decode_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTEN FOR collectd, proven end-to-end: events rows → collectd
    binary packets (part state machine, context dedup, little-endian
    gauge doubles inside a big-endian envelope) → the mapInPandas
    packet decoder → per host/plugin rollup, oracled against the
    pre-encode mapping. Reference surface: src/RamenCollectd.ml:24-90."""
    from ramen_spark.sources.binary import decode_collectd, encode_collectd_df

    from ramen_spark.catalog import widen

    ev = widen(_t(spark, sf_dir, "events"))
    samples = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string")).alias("host"),
        (F.unix_micros(F.col("ts")) / 1e6).alias("time"),
        F.col("event_type").alias("plugin"),
        F.array(F.col("value")).alias("values"),
    )
    decoded = decode_collectd(encode_collectd_df(samples))
    return decoded.groupBy(
        F.col("host"), F.col("plugin").alias("plugin")
    ).agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "raql_commit_batches",
    """
    WITH t AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT event_type,
           round(sum(value), 2) AS s,
           count(*)             AS n
    FROM (SELECT event_type, value, (rn - 1) // 50 AS g FROM t)
    GROUP BY event_type, g
    HAVING count(*) = 50
    """,
)
def raql_commit_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The general COMMIT engine driven from RaQL text: per event_type,
    COMMIT AFTER count >= 50 AND FLUSH emits one row per 50-event
    window in event-time order (trailing partials never commit) —
    count-based windowing SQL can only mimic with row_number math.
    One shuffle on the group key, ordered Arrow fold within
    (plans.raql.compile_commit_operation → commit_aggregate)."""
    from ramen_spark.plans.raql import compile_commit_operation

    ev = _t(spark, sf_dir, "events")
    return compile_commit_operation(
        "select event_type, round(sum value, 2) as s, count value as n "
        "group by event_type commit after count value >= 50",
        ev,
        output_schema="event_type string, s double, n long",
        order_cols=["ts", "event_id"],
    )


@register(
    "neardup_clusters",
    None,  # oracle attached below: reuses the minhash pair SQL as a CTE
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup CLUSTERS: MinHash+LSH candidate pairs → connected
    components (operators.dedup.connected_components, min-label
    propagation — one vertex-keyed shuffle per round, rounds =
    component diameter). Every document gets a cluster id (singletons
    keep their own id) — the canonical-doc-per-cluster stage of a
    training-data dedup pipeline."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, num_hashes=16, bands=8, min_sig_agreement=0.5
    )
    cc = D.connected_components(pairs)
    return (
        docs.select("doc_id")
        .join(cc.withColumnRenamed("v", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
        )
    )


ORACLES["neardup_clusters"] = f"""
    WITH RECURSIVE pairs AS ({ORACLES["minhash_lsh_pairs"]}),
    edges AS (
      SELECT id_a AS v, id_b AS n FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(v, r) AS (
      SELECT v, v FROM edges
      UNION
      SELECT e.v, re.r FROM edges e JOIN reach re ON re.v = e.n
    ),
    cc AS (SELECT v, min(r) AS component FROM reach GROUP BY v)
    SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN cc ON cc.v = d.doc_id
    """


@register(
    "canonical_docs",
    None,  # oracle attached below: reuses the minhash + quality CTEs
)
def canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical document per near-dup cluster (the C4/RefinedWeb
    fuzzy-dedup keep-set): MinHash+LSH pairs → connected components →
    operators.dedup.canonicalize — per-cluster argmax quality, lowest
    id breaking exact ties. One row per cluster with the kept doc, its
    score, and the cluster size (singletons keep themselves with
    cluster_size = 1)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, num_hashes=16, bands=8, min_sig_agreement=0.5
    )
    cc = D.connected_components(pairs)
    clusters = (
        docs.select("doc_id")
        .join(cc.withColumnRenamed("v", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    q = docs.select(
        "doc_id", Tx.quality_score(F.col("text")).alias("quality")
    )
    return D.canonicalize(clusters, q, by="quality")


ORACLES["canonical_docs"] = f"""
    WITH RECURSIVE pairs AS ({{MINHASH}}),
    edges AS (
      SELECT id_a AS v, id_b AS n FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(v, r) AS (
      SELECT v, v FROM edges
      UNION
      SELECT e.v, re.r FROM edges e JOIN reach re ON re.v = e.n
    ),
    cc AS (SELECT v, min(r) AS component FROM reach GROUP BY v),
    cl AS (
      SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN cc ON cc.v = d.doc_id
    ),
    q AS ({{QUALITY}}),
    j AS (
      SELECT cl.cluster_id, cl.doc_id, q.quality,
             count(*) OVER (PARTITION BY cl.cluster_id) AS cluster_size,
             row_number() OVER (
               PARTITION BY cl.cluster_id
               ORDER BY q.quality DESC, cl.doc_id ASC
             ) AS rn
      FROM cl JOIN q USING (doc_id)
    )
    SELECT cluster_id, doc_id, quality, cluster_size FROM j WHERE rn = 1
    """
ORACLES["canonical_docs"] = (
    ORACLES["canonical_docs"]
    .replace("{MINHASH}", ORACLES["minhash_lsh_pairs"])
    .replace("{QUALITY}", ORACLES["quality_scores"])
)


@register(
    "doc_chunks",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             g.i AS chunk_idx,
             array_to_string(w[g.i * 40 + 1 : g.i * 40 + 50], ' ') AS chunk,
             len(w[g.i * 40 + 1 : g.i * 40 + 50]) AS n_tok
      FROM toks,
           unnest(generate_series(0, (len(w) + 39) // 40 - 1)) AS g(i)
    )
    SELECT doc_id, chunk_idx, chunk, n_tok FROM c
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (window 50 tokens, stride 40 —
    10-token overlap), the pre-tokenization stage of a training
    pipeline. Pure built-ins: split → sequence → explode → slice, all
    inside whole-stage codegen; rows fan out on the DOCUMENT's
    partition, so chunking is embarrassingly parallel at any scale."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_chunks = ((F.size(toks) + F.lit(39)) / F.lit(40)).cast("long")
    idx = F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx")
    out = docs.select("doc_id", toks.alias("w"), idx)
    chunk = F.slice(F.col("w"), F.col("chunk_idx") * 40 + 1, 50)
    return out.select(
        "doc_id",
        F.col("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk"),
        F.size(chunk).cast("long").alias("n_tok"),
    )


@register(
    "pii_redact",
    r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{3}[-. ]\d{3,4}[-. ]\d{4}\b', '<PHONE>', 'g') AS redacted,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails
    FROM documents
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: e-mail and phone-shaped spans replaced by typed
    placeholders, with a per-doc e-mail count. Row-local
    regexp_replace/extract_all (JVM regex, codegen) — the standard
    pre-training redaction pass; patterns chosen to behave identically
    under Java regex and DuckDB's RE2."""
    docs = _t(spark, sf_dir, "documents")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\b\d{3}[-. ]\d{3,4}[-. ]\d{4}\b"
    red = F.regexp_replace(
        F.regexp_replace(F.col("text"), email, "<EMAIL>"), phone, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        red.alias("redacted"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(email))).cast("long").alias("n_emails"),
    )


@register(
    "stratified_sample",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100
          < CASE WHEN lang = 'en' THEN 50 ELSE 20 END
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep rates
    (en 50%, others 20%) decided by a hash bucket of the doc id — no
    RNG, so reruns and retries keep the same rows (reproducible
    pipeline sampling at any scale; md5 reproduced bit-for-bit by the
    oracle). Pure filter: pushes down, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long") % 100
    rate = F.when(F.col("lang") == "en", 50).otherwise(20)
    return docs.filter(bucket < rate).select("doc_id", "lang")


@register(
    "embedding_quantize_int8",
    """
    SELECT vec_id,
           [CAST(round(x * 127.0 / mx) AS BIGINT) FOR x IN embedding] AS q,
           round(mx, 6) AS scale
    FROM (
      SELECT vec_id, embedding,
             greatest(list_max([abs(x) FOR x IN embedding]), 1e-12) AS mx
      FROM embeddings
    )
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (per-vector
    max-abs scale) — the storage/bandwidth stage before ANN serving.
    Higher-order built-ins only (transform/aggregate): stays in the
    JVM, row-local, no shuffle; round is half-away-from-zero on both
    engines so the oracle is value-exact."""
    emb = _t(spark, sf_dir, "embeddings")
    absmax = F.greatest(
        F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x))),
        F.lit(1e-12),
    ).cast("double")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 127.0 / F.col("_mx")).cast("long"),
    )
    return (
        emb.withColumn("_mx", absmax)
        .select(
            "vec_id",
            q.alias("q"),
            F.round(F.col("_mx"), 6).alias("scale"),
        )
    )


@register(
    "clean_corpus",
    f"""
    WITH q AS ({{QUALITY}}),
    k AS (
      SELECT min(doc_id) AS doc_id
      FROM documents
      GROUP BY md5({_NORM_SQL})
    )
    SELECT d.doc_id, d.lang, q.quality
    FROM documents d
    JOIN k USING (doc_id)
    JOIN q USING (doc_id)
    WHERE q.quality >= 0.5 AND d.lang IN ('en', 'de', 'fr')
    """,
)
def clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed cleaning pipeline in one query: exact-dedup
    (keep the lowest doc_id per content fingerprint) → heuristic
    quality gate (≥ 0.5) → language whitelist. Each stage is one of
    the already-audited building blocks; the keep-set join is a
    doc_id semi join (broadcastable when the dedup survivors are
    small, hash co-partitioned otherwise — AQE decides)."""
    docs = _t(spark, sf_dir, "documents")
    keep = D.exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    q = docs.select(
        "doc_id", "lang", Tx.quality_score(F.col("text")).alias("quality")
    )
    return (
        q.join(keep, "doc_id")
        .filter((F.col("quality") >= 0.5) & F.col("lang").isin("en", "de", "fr"))
        .select("doc_id", "lang", "quality")
    )


ORACLES["clean_corpus"] = ORACLES["clean_corpus"].replace(
    "{QUALITY}", ORACLES["quality_scores"]
)


@register(
    "gopher_quality_flags",
    f"""
    WITH t AS (
      SELECT doc_id, {_WORDS_SQL} AS w FROM documents
    ),
    g AS (
      SELECT doc_id, array_to_string(w[i:i+2], ' ') AS s3
      FROM t, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)
    ),
    r AS (
      SELECT doc_id, count(*) AS n3, count(DISTINCT s3) AS d3
      FROM g GROUP BY doc_id
    )
    SELECT t.doc_id,
           len(t.w) AS n_words,
           round(list_sum(list_transform(t.w, x -> length(x)))::DOUBLE
                 / len(t.w), 6) AS mean_word_len,
           round(coalesce(1.0 - r.d3::DOUBLE / r.n3, 0.0), 6)
             AS frac_dup_3gram,
           (len(t.w) BETWEEN 50 AND 100000
            AND (list_sum(list_transform(t.w, x -> length(x)))::DOUBLE
                 / len(t.w)) BETWEEN 3 AND 10
            AND coalesce(1.0 - r.d3::DOUBLE / r.n3, 0.0) < 0.2) AS keep
    FROM t LEFT JOIN r USING (doc_id)
    WHERE len(t.w) > 0
    """,
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document-quality rules (word-statistics flags from
    the Gopher/MassiveText data work): word count bounds, mean word
    length in [3, 10], and the duplicate-3-gram fraction < 0.2 — the
    repetition signal that catches boilerplate loops. All row-local
    JVM expressions (split / transform / aggregate / array_distinct),
    embarrassingly parallel; the oracle states the identical rules in
    SQL."""
    return _gopher_flags(_t(spark, sf_dir, "documents"))


def _gopher_flags(docs: DataFrame, entropy: bool = False) -> DataFrame:
    """The gopher rule computation, shared between the standalone
    flags query and the composed pipeline's pluggable quality gate.

    ``entropy=True`` adds the round-10 near-zero-entropy spam tier:
    char-trigram and token-unigram Shannon entropy (functions.text
    Arrow lanes) computed in the SAME row-local pass — no extra scan,
    no Exchange — and tightens ``keep`` with trigram_entropy ≥ 2.0
    bits (natural prose sits ~6–9; keyboard mash and template loops
    land < 2 — a conservative cutoff on the signal RedPajama-Data-v2
    publishes as rps_doc_unigram_entropy, here at sub-word resolution
    so single-token repetition also fires)."""
    # stage tokens, then RAW (non-distinct) 3-grams — the repetition
    # signal needs duplicates, unlike the minhash shingle helper
    t = docs.select(
        "doc_id", *(["text"] if entropy else []),
        Tx.tokens(F.col("text")).alias("w"),
    ).filter(F.size("w") > 0)
    w = F.col("w")
    sh = F.transform(
        Tx.window_starts(F.size(w), 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(w, i),
            F.element_at(w, i + 1),
            F.element_at(w, i + 2),
        ),
    )
    t = t.select(
        "doc_id", *(["text"] if entropy else []),
        w.alias("w"), sh.alias("sh"),
    )
    n_words = F.size("w")
    mwl = (
        F.aggregate(
            F.transform(F.col("w"), lambda x: F.length(x)),
            F.lit(0),
            lambda a, x: a + x,
        ).cast("double")
        / n_words
    )
    nsh = F.size("sh")
    frac = F.when(
        nsh > 0,
        1.0 - F.size(F.array_distinct(F.col("sh"))).cast("double") / nsh,
    ).otherwise(F.lit(0.0))
    keep = n_words.between(50, 100000) & mwl.between(3, 10) & (frac < 0.2)
    if entropy:
        tri = Tx.char_trigram_entropy(F.col("text"))
        uni = Tx.unigram_entropy(F.col("w"))
        # NULL entropy (< 3 chars) coalesces to 0 so keep stays
        # two-valued on both engines
        keep = keep & (F.coalesce(tri, F.lit(0.0)) >= 2.0)
        return t.select(
            "doc_id",
            n_words.cast("bigint").alias("n_words"),
            F.round(mwl, 6).alias("mean_word_len"),
            F.round(frac, 6).alias("frac_dup_3gram"),
            F.round(tri, 6).alias("trigram_entropy"),
            F.round(uni, 6).alias("unigram_entropy"),
            keep.alias("keep"),
        )
    return t.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(frac, 6).alias("frac_dup_3gram"),
        keep.alias("keep"),
    )


@register(
    "entropy_quality_flags",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_WORDS_SQL} AS w FROM documents
    ),
    g AS (
      SELECT doc_id, array_to_string(w[i:i+2], ' ') AS s3
      FROM t, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)
    ),
    r AS (
      SELECT doc_id, count(*) AS n3, count(DISTINCT s3) AS d3
      FROM g GROUP BY doc_id
    ),
    tg AS (
      SELECT doc_id, substring(text, i, 3) AS g3
      FROM t, unnest(generate_series(1, length(text) - 2)) AS u(i)
      WHERE length(text) >= 3
    ),
    tc AS (
      SELECT doc_id, g3, count(*)::DOUBLE AS c FROM tg GROUP BY 1, 2
    ),
    th AS (
      SELECT doc_id,
             log2(sum(c)) - sum(c * log2(c)) / sum(c) AS tri_raw
      FROM tc GROUP BY doc_id
    ),
    ug AS (
      SELECT doc_id, unnest(w) AS tok FROM t
    ),
    uc AS (
      SELECT doc_id, tok, count(*)::DOUBLE AS c FROM ug GROUP BY 1, 2
    ),
    uh AS (
      SELECT doc_id,
             log2(sum(c)) - sum(c * log2(c)) / sum(c) AS uni_raw
      FROM uc GROUP BY doc_id
    )
    SELECT t.doc_id,
           len(t.w) AS n_words,
           round(list_sum(list_transform(t.w, x -> length(x)))::DOUBLE
                 / len(t.w), 6) AS mean_word_len,
           round(coalesce(1.0 - r.d3::DOUBLE / r.n3, 0.0), 6)
             AS frac_dup_3gram,
           round(th.tri_raw, 6) AS trigram_entropy,
           round(uh.uni_raw, 6) AS unigram_entropy,
           (len(t.w) BETWEEN 50 AND 100000
            AND (list_sum(list_transform(t.w, x -> length(x)))::DOUBLE
                 / len(t.w)) BETWEEN 3 AND 10
            AND coalesce(1.0 - r.d3::DOUBLE / r.n3, 0.0) < 0.2
            AND coalesce(th.tri_raw, 0.0) >= 2.0) AS keep
    FROM t
    LEFT JOIN r USING (doc_id)
    LEFT JOIN th USING (doc_id)
    LEFT JOIN uh USING (doc_id)
    WHERE len(t.w) > 0
    """,
)
def entropy_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher word-statistics battery plus the round-10
    near-zero-entropy spam tier (VERDICT r9 #6): char-trigram and
    token-unigram Shannon entropy as Arrow lanes in the SAME row-local
    pass (functions.text.char_trigram_entropy / unigram_entropy —
    published cousin: RedPajama-Data-v2's rps_doc_unigram_entropy
    signal), with keep tightened by trigram_entropy ≥ 2.0 bits — the
    cheap detector for keyboard mash / template loops that pass the
    word-count and dup-3-gram rules. Entropy is H = log2(n) −
    (Σ c·log2 c)/n over integer counts, stated identically by the
    DuckDB oracle over unnested substrings/tokens — value-exact at
    6dp. Plan shape: one scan, zero Exchange (everything row-local);
    the oracle's joins exist only because SQL can't express the
    sliding window without unnesting."""
    return _gopher_flags(_t(spark, sf_dir, "documents"), entropy=True)


@register("zlib_compressibility")
def zlib_compressibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressibility junk signal (VERDICT r9 #6's second lane):
    per-doc zlib-compressed size over raw UTF-8 size
    (functions.text.zlib_ratio, level 6). Repetitive spam compresses
    toward 0, natural prose lands ~0.3–0.6; low_ratio flags < 0.10 —
    an extreme-redundancy tier chosen conservatively (no canonical
    published cutoff; the signal itself is the standard one, e.g. the
    compression-ratio heuristics in public curation stacks).
    Deterministic for a fixed zlib/level but not SQL-expressible —
    rows-only entry, pinned against direct zlib calls by
    test_rows_only_references.py. Row-local Arrow lane: one scan,
    zero Exchange."""
    docs = _t(spark, sf_dir, "documents")
    r = Tx.zlib_ratio(F.col("text"))
    return docs.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select(
        "doc_id",
        F.round(r, 6).alias("zlib_ratio"),
        (r < 0.10).alias("low_ratio"),
    )


@register(
    "sequence_packing",
    f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, (doc_id % 8)::INT AS shard,
             len({_WORDS_SQL}) AS n_tok,
             row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id)
               AS rn
      FROM documents
    ),
    r AS (
      SELECT shard, rn, doc_id, n_tok, 0::BIGINT AS pack_seq, n_tok AS cum
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.shard, t.rn, t.doc_id, t.n_tok,
             CASE WHEN r.cum + t.n_tok > 512
                  THEN r.pack_seq + 1 ELSE r.pack_seq END,
             CASE WHEN r.cum + t.n_tok > 512
                  THEN t.n_tok ELSE r.cum + t.n_tok END
      FROM r JOIN t ON t.shard = r.shard AND t.rn = r.rn + 1
    )
    SELECT doc_id, shard, pack_seq, n_tok FROM r
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into 512-token training rows, hash-
    sharded 8 ways (operators.packing.pack_sequences): packing is a
    sequential recurrence, so the scale shape is shard-parallel — one
    shuffle, one Arrow fold per shard, deterministic pack ids. The
    oracle walks the identical greedy recurrence as a recursive CTE."""
    from ramen_spark.operators.packing import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents"), budget=512, shards=8
    )


@register(
    "packing_efficiency",
    f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, (doc_id % 8)::INT AS shard,
             len({_WORDS_SQL}) AS n_tok,
             row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id)
               AS rn,
             row_number() OVER (PARTITION BY doc_id % 8
                                ORDER BY len({_WORDS_SQL}) DESC, doc_id)
               AS rnd
      FROM documents
    ),
    r_id AS (
      SELECT shard, rn, n_tok, 0::BIGINT AS pack_seq, n_tok AS cum
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.shard, t.rn, t.n_tok,
             CASE WHEN r_id.cum + t.n_tok > 512
                  THEN r_id.pack_seq + 1 ELSE r_id.pack_seq END,
             CASE WHEN r_id.cum + t.n_tok > 512
                  THEN t.n_tok ELSE r_id.cum + t.n_tok END
      FROM r_id JOIN t ON t.shard = r_id.shard AND t.rn = r_id.rn + 1
    ),
    r_nfd AS (
      SELECT shard, rnd, n_tok, 0::BIGINT AS pack_seq, n_tok AS cum
      FROM t WHERE rnd = 1
      UNION ALL
      SELECT t.shard, t.rnd, t.n_tok,
             CASE WHEN r_nfd.cum + t.n_tok > 512
                  THEN r_nfd.pack_seq + 1 ELSE r_nfd.pack_seq END,
             CASE WHEN r_nfd.cum + t.n_tok > 512
                  THEN t.n_tok ELSE r_nfd.cum + t.n_tok END
      FROM r_nfd JOIN t ON t.shard = r_nfd.shard AND t.rnd = r_nfd.rnd + 1
    ),
    p AS (
      SELECT 'id' AS strategy, shard, pack_seq, sum(n_tok) AS toks
      FROM r_id GROUP BY 1, 2, 3
      UNION ALL
      SELECT 'length_desc', shard, pack_seq, sum(n_tok)
      FROM r_nfd GROUP BY 1, 2, 3
    )
    SELECT strategy,
           count(*)::BIGINT AS n_packs,
           sum(toks)::BIGINT AS total_tokens,
           sum(greatest(512 - toks, 0))::BIGINT AS total_pad,
           round(sum(greatest(512 - toks, 0))::DOUBLE
                 / (count(*) * 512), 6) AS pad_pct
    FROM p GROUP BY strategy
    """,
)
def packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding waste of the two packing disciplines at the same
    512-token budget — pad tokens are wasted FLOPs, the number a
    training team actually optimizes (round 11). ``id`` is stream-
    order next-fit; ``length_desc`` is next-fit-DECREASING. The
    report EXISTS because intuition misleads here — on this corpus
    NFD is measurably WORSE than stream order (0.144 vs 0.116 pad:
    with one open pack, a long doc closes it on a large gap), and
    the winning discipline is true FFD (ffd_sequence_packing,
    rows-only). One shuffle + one Arrow fold per shard per strategy;
    pads count per pack as max(budget − pack_tokens, 0) so oversize
    single-doc packs waste nothing. The oracle replays BOTH greedy
    recurrences as recursive CTEs — the pad accounting is value-exact,
    not a simulation."""
    from ramen_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    parts = []
    for strat in ("id", "length_desc"):
        packed = pack_sequences(docs, budget=512, shards=8, order=strat)
        toks = packed.groupBy("shard", "pack_seq").agg(
            F.sum("n_tok").alias("toks")
        )
        parts.append(
            toks.agg(
                F.count(F.lit(1)).cast("long").alias("n_packs"),
                F.sum("toks").cast("long").alias("total_tokens"),
                F.sum(F.greatest(F.lit(512) - F.col("toks"), F.lit(0)))
                .cast("long")
                .alias("total_pad"),
            ).select(
                F.lit(strat).alias("strategy"),
                "n_packs",
                "total_tokens",
                "total_pad",
            )
        )
    out = parts[0].unionByName(parts[1])
    return out.select(
        "strategy", "n_packs", "total_tokens", "total_pad",
        F.round(
            F.col("total_pad").cast("double")
            / (F.col("n_packs") * F.lit(512)).cast("double"),
            6,
        ).alias("pad_pct"),
    )


@register(
    "grouped_sequence_packing",
    f"""
    WITH RECURSIVE t AS (
      SELECT lang, doc_id, (doc_id % 8)::INT AS shard,
             len({_WORDS_SQL}) AS n_tok,
             row_number() OVER (PARTITION BY doc_id % 8, lang
                                ORDER BY doc_id) AS rn
      FROM documents
    ),
    r AS (
      SELECT lang, shard, rn, doc_id, n_tok,
             0::BIGINT AS pack_seq, n_tok AS cum
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.lang, t.shard, t.rn, t.doc_id, t.n_tok,
             CASE WHEN r.cum + t.n_tok > 512
                  THEN r.pack_seq + 1 ELSE r.pack_seq END,
             CASE WHEN r.cum + t.n_tok > 512
                  THEN t.n_tok ELSE r.cum + t.n_tok END
      FROM r JOIN t ON t.shard = r.shard
                   AND t.lang IS NOT DISTINCT FROM r.lang
                   AND t.rn = r.rn + 1
    )
    SELECT lang, doc_id, shard, pack_seq, n_tok FROM r
    """,
)
def grouped_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware packing: packs never mix languages (many recipes
    forbid cross-domain attention inside one training row — round
    11). ``pack_sequences(group_cols=["lang"])`` keys the Arrow fold
    by (shard, lang), so the constraint ADDS fold parallelism (8
    shards × |langs| independent folds) while each fold's state stays
    one counter; pack ids restart per (shard, lang). The oracle's
    recursive CTE rank-chains per (shard, lang) with a null-safe
    group match."""
    from ramen_spark.operators.packing import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents"), budget=512, shards=8,
        group_cols=["lang"],
    ).select("lang", "doc_id", "shard", "pack_seq", "n_tok")


@register("ffd_sequence_packing")  # rows-only: FFD's open-bin list
# state (which pack has room?) has no bounded SQL recurrence — the
# reference test replays the identical pure-Python FFD
def ffd_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing packing (round 11): longest docs first,
    each placed in the FIRST open pack with room — the classic
    11/9·OPT+1 bin-packer, run independently per shard (the fold
    keeps the open packs' loads; bounded by ONE shard's pack count).
    The discipline that actually reduces padding on this corpus
    (packing_efficiency showed next-fit-decreasing makes it WORSE);
    the reference test pins pack ids against a pure-Python FFD and
    asserts total pad <= the stream-order packer's."""
    from ramen_spark.operators.packing import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents"), budget=512, shards=8, order="ffd"
    )


@register(
    "prepare_training_corpus",
    f"""
    WITH RECURSIVE pairs AS ({{MINHASH}}),
    qual AS ({{QUALITY}}),
    fp_keep AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5({_NORM_SQL})
    ),
    edges AS (
      SELECT id_a AS v, id_b AS n FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(v, r) AS (
      SELECT v, v FROM edges
      UNION
      SELECT e.v, re.r FROM edges e JOIN reach re ON re.v = e.n
    ),
    cc AS (SELECT v, min(r) AS component FROM reach GROUP BY v),
    cl AS (
      SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN cc ON cc.v = d.doc_id
    ),
    canon AS (
      SELECT doc_id FROM (
        SELECT cl.doc_id,
               row_number() OVER (
                 PARTITION BY cl.cluster_id
                 ORDER BY q.quality DESC, cl.doc_id ASC
               ) AS rn
        FROM cl JOIN qual q USING (doc_id)
      ) WHERE rn = 1
    ),
    w2 AS ({_SHINGLES_SQL}),
    post2 AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
      FROM w2, unnest(generate_series(1, greatest(nw - 2, 0))) AS u(i)
    ),
    ev2 AS (SELECT DISTINCT s FROM post2 WHERE doc_id % 97 = 0),
    contam AS (
      SELECT DISTINCT doc_id FROM post2
      WHERE doc_id % 97 <> 0 AND s IN (SELECT s FROM ev2)
    ),
    clean AS (
      SELECT d.doc_id, d.lang
      FROM documents d
      JOIN fp_keep USING (doc_id)
      JOIN canon USING (doc_id)
      JOIN ({{GATE}}) gate USING (doc_id)
      WHERE d.doc_id % 97 <> 0
        AND d.doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    c AS (SELECT lang, count(*) AS n FROM clean GROUP BY lang),
    t2 AS (SELECT sum(n) AS total, sum(n ** 0.5) AS z FROM c),
    qq AS (
      SELECT lang, n,
             least(n, round(0.5 * total * (n ** 0.5) / z)::BIGINT) AS quota
      FROM c, t2
    ),
    rkd AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id
             ) AS rk
      FROM clean
    ),
    mixed AS (SELECT doc_id FROM rkd JOIN qq USING (lang) WHERE rk <= quota),
    pt AS (
      SELECT d.doc_id, (d.doc_id % 8)::INT AS shard,
             len({_WORDS_SQL}) AS n_tok,
             row_number() OVER (PARTITION BY d.doc_id % 8 ORDER BY d.doc_id)
               AS rn
      FROM documents d JOIN mixed USING (doc_id)
    ),
    packr AS (
      SELECT shard, rn, doc_id, n_tok, 0::BIGINT AS pack_seq, n_tok AS cum
      FROM pt WHERE rn = 1
      UNION ALL
      SELECT pt.shard, pt.rn, pt.doc_id, pt.n_tok,
             CASE WHEN packr.cum + pt.n_tok > 512
                  THEN packr.pack_seq + 1 ELSE packr.pack_seq END,
             CASE WHEN packr.cum + pt.n_tok > 512
                  THEN pt.n_tok ELSE packr.cum + pt.n_tok END
      FROM packr JOIN pt ON pt.shard = packr.shard AND pt.rn = packr.rn + 1
    )
    SELECT doc_id, shard, pack_seq, n_tok FROM packr
    """,
)
def prepare_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full LLM-preprocessing pipeline as ONE composed DAG — raw
    documents in, packed training rows out. Every stage is an
    already-audited building block, each computed independently over
    the corpus in a single pass and combined by id-only semi/anti
    joins (no stage ever re-reads another stage's text):

    1.  exact dedup        — keep lowest doc per content fingerprint
    2.  near-dup pairs     — MinHash/LSH verified (est_jaccard ≥ 0.5)
    2½. canonical per      — pairs → connected components → keep each
        cluster               cluster's argmax-quality member (what a
                              C4/RefinedWeb pipeline emits; dedup
                              .canonicalize, quality-ordered, id ties)
    3.  decontamination    — drop the eval slice (doc_id % 97 = 0) and
                            every training doc sharing a 3-gram with it
    4.  quality gate       — PLUGGABLE: heuristic score ≥ 0.5 (this
                            query) or the gopher word-statistics rules
                            (prepare_training_corpus_gopher)
    5.  temperature mixing — per-language quota ∝ n^0.5, md5-rank
                            deterministic selection of half the corpus
    6.  sequence packing   — greedy 512-token rows, 8 hash shards

    100 TB shape: stages 1-4 are the documented shapes of their
    operators (fingerprint shuffle, band join, label propagation keyed
    on vertex ids, broadcast eval shingles, row-local scoring); the
    drop/keep-sets that gate the corpus carry only doc ids. The oracle
    chains the identical SQL fragments (minhash hash-for-hash,
    reachability CTE for the clusters, recursive packing CTE)."""
    return _prepare_corpus(spark, sf_dir, gate="score")


def _prepare_corpus(
    spark: SparkSession,
    sf_dir: str,
    gate: str,
    stages: dict | None = None,
    gate_keep: DataFrame | None = None,
) -> DataFrame:
    """Shared builder for the composed pipeline; ``gate`` picks the
    stage-4 quality filter: 'score' (heuristic ≥ 0.5) or 'gopher'
    (word-count / mean-word-length / dup-3-gram rules). Pass a dict
    as ``stages`` to receive the CUMULATIVE per-stage relations (the
    corpus_funnel observability query counts them). ``gate_keep``
    (a doc_id DataFrame) overrides the gate entirely — the
    reference-test hook that lets an independently-computed keep set
    drive the otherwise-identical pipeline
    (test_rows_only_references.py)."""
    from ramen_spark.operators.packing import pack_sequences
    from ramen_spark.operators.sampling import temperature_mix

    docs, clean, qualities = _clean_corpus(
        spark, sf_dir, gate, stages, gate_keep
    )
    mixed = temperature_mix(
        clean, group_col="lang", alpha=0.5, target_frac=0.5
    ).select("doc_id")
    # pack from the checkpointed per-doc token counts (round 13): the
    # packer used to semi-join docs and re-decode + re-tokenize every
    # mixed survivor's text — n_tok already exists in qualities from
    # the stage-4 scoring pass, so packing is now a pure metadata join
    # (guide §1.2/§2.3: ids and counts travel, text doesn't).
    packed = pack_sequences(
        mixed.join(qualities.select("doc_id", "n_tok"), "doc_id"),
        budget=512, shards=8, n_tok_col="n_tok",
    )
    if stages is not None:
        stages.update(
            temperature_mix=mixed,
            packed_rows=packed.select("shard", "pack_seq").distinct(),
        )
    return packed


def _clean_corpus(
    spark: SparkSession,
    sf_dir: str,
    gate: str,
    stages: dict | None = None,
    gate_keep: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Stages 1-4 of the composed pipeline (exact dedup → canonical
    near-dup → eval holdout → decontamination → quality gate),
    shared by the v1 (temperature mix) and v2 (A-ES + per-lang token
    budget) mixing stages. Returns (docs, clean, qualities) where
    clean is the surviving (doc_id, lang) relation and qualities is
    the checkpointed per-doc (doc_id, quality, n_tok) metadata — the
    ONE tokenize pass the mixing/packing stages reuse (round 13,
    guide §1.2: the v1/v2 packers and the v2 candidate scoring used
    to re-decode and re-tokenize the surviving documents)."""
    docs = _t(spark, sf_dir, "documents")
    keep_fp = D.exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    pairs = D.minhash_lsh_pairs(
        docs, num_hashes=16, bands=8, min_sig_agreement=0.5
    )
    cc = D.connected_components(pairs)
    clusters = (
        docs.select("doc_id")
        .join(cc.withColumnRenamed("v", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias(
                "cluster_id"
            ),
        )
    )
    # localCheckpoint: qualities feeds canonicalize, the 'score' gate,
    # AND (round 13) the mixing/packing stages — without it the text
    # scan + scoring subtree is duplicated into each consumer (r12,
    # guide §3.3/§5: one scan instead of two, and downstream joins see
    # real relation sizes instead of unknown-estimate subtrees).
    # n_tok rides the same pass: quality_score already tokenizes the
    # document, and the whitespace token count is what the v2
    # candidate scoring and both packers recomputed from text (two
    # full decode+tokenize passes over the survivors, now zero).
    qualities = docs.select(
        "doc_id",
        Tx.quality_score(F.col("text")).alias("quality"),
        Tx.token_count(F.col("text")).cast("long").alias("n_tok"),
    ).localCheckpoint()
    canon_keep = D.canonicalize(clusters, qualities).select("doc_id")
    contam_drop = (
        D.decontaminate(
            docs.filter(F.col("doc_id") % 97 != 0),
            docs.filter(F.col("doc_id") % 97 == 0),
        )
        .filter(F.col("contaminated"))
        .select("doc_id")
    )
    if gate_keep is not None:
        pass  # injected keep set (reference tests)
    elif gate == "score":
        gate_keep = qualities.filter(F.col("quality") >= 0.5).select(
            "doc_id"
        )
    elif gate == "gopher":
        gate_keep = (
            _gopher_flags(docs).filter(F.col("keep")).select("doc_id")
        )
    elif gate == "classifier":
        # the TRAINED gate (operators.classify): fit against the
        # lang='en' reference slice (eager IRLS jobs at build, the
        # kmeans_fit precedent), keep docs the model scores ≥ 0.5
        from ramen_spark.operators.classify import (
            score_quality,
            train_quality_classifier,
        )

        wts = train_quality_classifier(
            docs, F.col("lang") == "en", iters=6
        )
        gate_keep = (
            score_quality(docs, wts)
            .filter(F.col("quality_prob") >= 0.5)
            .select("doc_id")
        )
    else:  # pragma: no cover — programming error, not data
        raise ValueError(f"unknown quality gate {gate!r}")
    s1 = docs.select("doc_id", "lang").join(keep_fp, "doc_id", "left_semi")
    s2 = s1.join(canon_keep, "doc_id", "left_semi")
    s3 = s2.filter(F.col("doc_id") % 97 != 0)
    s4 = s3.join(contam_drop, "doc_id", "left_anti")
    # localCheckpoint: clean is the (doc_id, lang) survivor set every
    # downstream mixing stage hangs off. In v2 the whole stages-1-4
    # DAG was otherwise DUPLICATED into each consumer (cand is read
    # twice, packed re-reads docs⋈chosen): the uncheckpointed v2 plan
    # carried ~169 Exchanges and planned ALL its id joins sort-merge
    # because the subtree sizes were unknown; truncating here shrinks
    # the plan and restores broadcast id-joins (guide §3.3 — numbers
    # in OPTIMIZATION_r12.md).
    clean = s4.join(gate_keep, "doc_id", "left_semi").localCheckpoint()
    if stages is not None:
        stages.update(
            raw=docs,
            exact_dedup=s1,
            canonical=s2,
            eval_holdout=s3,
            decontaminated=s4,
            quality_gate=clean,
        )
    return docs, clean, qualities


_GATE_SCORE_SQL = "SELECT doc_id FROM qual WHERE quality >= 0.5"

_GATE_GOPHER_SQL = f"""
    SELECT gt.doc_id FROM
      (SELECT doc_id, {_WORDS_SQL} AS w FROM documents) gt
    LEFT JOIN (
      SELECT doc_id, count(*) AS n3, count(DISTINCT s3) AS d3
      FROM (
        SELECT doc_id, array_to_string(w[i:i+2], ' ') AS s3
        FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
             unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)
      ) GROUP BY doc_id
    ) gr USING (doc_id)
    WHERE len(gt.w) BETWEEN 50 AND 100000
      AND (list_sum(list_transform(gt.w, x -> length(x)))::DOUBLE
           / len(gt.w)) BETWEEN 3 AND 10
      AND coalesce(1.0 - gr.d3::DOUBLE / gr.n3, 0.0) < 0.2
    """

ORACLES["prepare_training_corpus"] = (
    ORACLES["prepare_training_corpus"]
    .replace("{MINHASH}", ORACLES["minhash_lsh_pairs"])
    .replace("{QUALITY}", ORACLES["quality_scores"])
)


@register(
    "prepare_training_corpus_gopher",
    ORACLES["prepare_training_corpus"].replace("{GATE}", _GATE_GOPHER_SQL),
)
def prepare_training_corpus_gopher(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The composed pipeline with the PLUGGABLE stage-4 gate swapped
    to the gopher word-statistics rules (gopher_quality_flags' keep
    criterion) — same dedup/canonical/decontamination/mixing/packing
    stages, different quality filter. Demonstrates the gate seam a
    production pipeline configures per corpus."""
    return _prepare_corpus(spark, sf_dir, gate="gopher")


ORACLES["prepare_training_corpus"] = ORACLES[
    "prepare_training_corpus"
].replace("{GATE}", _GATE_SCORE_SQL)


# --- v2 pipeline: A-ES weighted order + per-lang token budgets -------------
# The round-10 primitives composed end-to-end (round-10 agenda #2): the
# mixing stage becomes "sample docs ∝ quality (Efraimidis–Spirakis order)
# until N tokens per language", the data card carries quantile-sketch
# percentiles, and the final mile is the export manifest's content sums.

# the stage-1..4 CTE prefix (pairs/qual/fp_keep/…/clean), shared verbatim
# with the v1 oracle — everything after `clean` is the v2 mixing stage
_V2_CLEAN_PREFIX = ORACLES["prepare_training_corpus"].split(
    "    c AS (SELECT lang, count(*) AS n FROM clean GROUP BY lang)"
)[0]

_V2_MIX_SQL = f"""cand2 AS (
      SELECT cl2.doc_id, cl2.lang, len({_WORDS_SQL}) AS n_tok,
             CAST(round(q.quality * 1000000, 0) AS BIGINT) AS q_micro
      FROM clean cl2
      JOIN documents d USING (doc_id)
      JOIN qual q USING (doc_id)
    ),
    aes AS (
      SELECT lang, doc_id, n_tok, q_micro,
             CAST(round(
               ln((('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'),
                     1, 12))::BIGINT + 1) / 281474976710656.0)
               / CAST(q_micro AS DOUBLE) * 1e6) AS BIGINT) AS skey_micro
      FROM cand2
      WHERE doc_id IS NOT NULL AND q_micro IS NOT NULL AND q_micro > 0
    ),
    capped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY lang ORDER BY skey_micro DESC, doc_id ASC
        )::BIGINT AS rn FROM aes
      ) WHERE rn <= 40
    ),
    budgeted AS (
      SELECT doc_id, lang, n_tok FROM (
        SELECT doc_id, lang, n_tok,
               sum(n_tok) OVER (PARTITION BY lang
                                ORDER BY skey_micro DESC, doc_id ASC
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM capped
      ) WHERE cum <= 1500
    )"""

_V2_PACK_SQL = f""",
    pt2 AS (
      SELECT d.doc_id, (d.doc_id % 8)::INT AS shard,
             len({_WORDS_SQL}) AS n_tok,
             row_number() OVER (PARTITION BY d.doc_id % 8 ORDER BY d.doc_id)
               AS rn
      FROM documents d JOIN (SELECT doc_id FROM budgeted) bsel USING (doc_id)
    ),
    packr2 AS (
      SELECT shard, rn, doc_id, n_tok, 0::BIGINT AS pack_seq, n_tok AS cum
      FROM pt2 WHERE rn = 1
      UNION ALL
      SELECT pt2.shard, pt2.rn, pt2.doc_id, pt2.n_tok,
             CASE WHEN packr2.cum + pt2.n_tok > 512
                  THEN packr2.pack_seq + 1 ELSE packr2.pack_seq END,
             CASE WHEN packr2.cum + pt2.n_tok > 512
                  THEN pt2.n_tok ELSE packr2.cum + pt2.n_tok END
      FROM packr2 JOIN pt2 ON pt2.shard = packr2.shard
                          AND pt2.rn = packr2.rn + 1
    )"""


def _prepare_corpus_v2(
    spark: SparkSession, sf_dir: str, stages: dict | None = None
) -> tuple[DataFrame, DataFrame]:
    """The v2 composed pipeline: stages 1-4 (shared _clean_corpus),
    then the round-10 mixing primitives composed — per-lang A-ES
    weighted order (weight = quality micro-score, so better docs are
    proportionally more likely, but the top never collapses onto
    near-identical top scorers the way a hard top-n does), a 40-doc
    per-lang cap from the same order, and a 1.5k-token per-lang budget
    prefix (token_budget_select keyed on lang, priority = the A-ES
    key). Returns (chosen, packed).

    Scale note: using the A-ES key as the budget priority widens
    token_budget_select's level-1 relation from the q_micro domain
    (≤ 1e6) to the skey domain (round(ln(u)/w·1e6), w ≥ 1 ⇒
    ≥ -2^25.6): level 1 stays bounded at ~3.4e7 rows per lang
    REGARDLESS of corpus size — larger than a plain score cut but
    still a hard, corpus-independent bound."""
    from ramen_spark.operators.packing import pack_sequences
    from ramen_spark.operators.sampling import (
        token_budget_select,
        weighted_sample,
    )

    docs, clean, qualities = _clean_corpus(
        spark, sf_dir, gate="score", stages=stages
    )
    # cand (one metadata row per survivor) used to re-decode and
    # re-score every surviving document's text (token_count +
    # quality_score — a second full tokenize pass over the corpus);
    # round 13 derives it by JOINING the two checkpointed relations
    # instead: clean (doc_id, lang) ⋈ qualities (doc_id, quality,
    # n_tok) — q_micro = round(quality·1e6) is bit-identical because
    # quality is the same deterministic column the old path recomputed
    # (guide §1.2: one pass; the v2 after-plan decodes `documents`
    # once less). localCheckpoint kept: cand feeds the A-ES sample AND
    # the budget join.
    cand = (
        clean.select("doc_id", "lang")
        .join(
            qualities.select(
                "doc_id",
                "n_tok",
                F.round(F.col("quality") * 1e6).cast("long").alias("q_micro"),
            ),
            "doc_id",
        )
        .localCheckpoint()
    )
    samp = weighted_sample(
        cand, n=40, weight_col="q_micro", keys=["lang"], id_col="doc_id",
        seed=42,
    )
    sel_in = samp.select("lang", "doc_id", "skey_micro").join(
        cand.select("doc_id", "n_tok"), "doc_id"
    )
    # localCheckpoint: chosen is tiny (budget-capped) and consumed by
    # the packing semi-join here plus twice by corpus_datacard_v2
    chosen = token_budget_select(
        sel_in, budget=1_500, weight_col="n_tok", pri_col="skey_micro",
        keys=["lang"],
    ).localCheckpoint()
    # chosen already carries n_tok (the same checkpointed count) — the
    # packer needs no text and no join at all (round 13, guide §1.2)
    packed = pack_sequences(
        chosen.select("doc_id", "n_tok"),
        budget=512, shards=8, n_tok_col="n_tok",
    )
    if stages is not None:
        stages.update(
            aes_sample=samp,
            token_budget=chosen,
            packed_rows=packed.select("shard", "pack_seq").distinct(),
        )
    return chosen, packed


@register(
    "prepare_training_corpus_v2",
    _V2_CLEAN_PREFIX + _V2_MIX_SQL + _V2_PACK_SQL + """
    SELECT shard, count(*)::BIGINT AS n_rows,
           CAST(sum(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                      1, 12))::BIGINT)
                % 2305843009213693951 AS BIGINT) AS content_sum,
           CAST(sum(('0x' || substring(md5(
                  CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) || ':'
                    || CAST(doc_id AS VARCHAR) ||
                  CAST(length(CAST(n_tok AS VARCHAR)) AS VARCHAR) || ':'
                    || CAST(n_tok AS VARCHAR) ||
                  CAST(length(CAST(pack_seq AS VARCHAR)) AS VARCHAR) || ':'
                    || CAST(pack_seq AS VARCHAR)), 1, 12))::BIGINT)
                % 2305843009213693951 AS BIGINT) AS payload_sum
    FROM packr2 GROUP BY shard
    """,
)
def prepare_training_corpus_v2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The composed pipeline with the round-10 primitives as the
    mixing stage and the EXPORT MANIFEST as the output: stages 1-4
    (exact dedup → canonical near-dup → decontamination → quality
    gate) shared with v1, then per-lang A-ES weighted sampling
    (weight = quality micro-score) capped at 40 docs/lang, a
    1.5k-token per-lang budget prefix in that order
    (token_budget_select keyed on lang), greedy 512-token packing —
    and finally the per-shard manifest rows export_shards would
    write: (shard, n_rows, content_sum, payload_sum), the
    order-independent md5 content sums over ids and over the full
    row payload (sources/export._shard_stats expressions). The
    oracle replays the ENTIRE chain — clean CTEs verbatim from v1,
    A-ES keys, budget window, recursive packing, manifest sums — so
    a single hash mismatch anywhere in the integration (budget-
    after-dedup ordering, sketch-on-gated-rows, packing, manifest
    algebra) fails the gate."""
    from ramen_spark.sources.export import _shard_stats

    _, packed = _prepare_corpus_v2(spark, sf_dir)
    return _shard_stats(
        packed, "shard", "doc_id",
        sorted(c for c in packed.columns if c != "shard"),
    ).select("shard", "n_rows", "content_sum", "payload_sum")


@register(
    "corpus_datacard_v2",
    _V2_CLEAN_PREFIX + _V2_MIX_SQL + """,
    h2 AS (
      SELECT lang,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
               AS h,
             n_tok::DOUBLE AS v
      FROM budgeted
    ),
    r2 AS (
      SELECT lang, h, v,
             row_number() OVER (PARTITION BY lang ORDER BY h, v) AS rn2
      FROM (SELECT DISTINCT lang, h, v FROM h2)
    ),
    s2 AS (
      SELECT lang, list(v ORDER BY v) AS vs, count(*)::BIGINT AS n_sample
      FROM r2 WHERE rn2 <= 64 GROUP BY lang
    ),
    tot AS (
      SELECT lang, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens
      FROM budgeted GROUP BY lang
    )
    SELECT t.lang, t.n_docs, t.n_tokens,
           s2.vs[CAST(round((s2.n_sample - 1) * 0.5) AS INT) + 1] AS tok_p50,
           s2.vs[CAST(round((s2.n_sample - 1) * 0.9) AS INT) + 1] AS tok_p90
    FROM tot t JOIN s2 USING (lang)
    """,
)
def corpus_datacard_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v2 corpus's DATA CARD: per language, how many documents
    and tokens the selected mix contains and where its token-length
    distribution sits (p50/p90 via the deterministic bottom-k
    quantile sketch — the sketch runs ON THE GATED, BUDGETED rows,
    exercising the sketch-on-selected-subset seam). What a training
    run records next to the corpus snapshot; the oracle replays
    selection + sketch + nearest-rank naively."""
    from ramen_spark.operators.sketch import quantile_sketch

    chosen, _ = _prepare_corpus_v2(spark, sf_dir)
    card = quantile_sketch(
        chosen, ["lang"], "n_tok", "doc_id", ps=[0.5, 0.9], k=64
    ).select("lang", F.col("p50").alias("tok_p50"),
             F.col("p90").alias("tok_p90"))
    tot = chosen.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    return tot.join(card, "lang").select(
        "lang", "n_docs", "n_tokens", "tok_p50", "tok_p90"
    )


@register(
    "corpus_funnel_v2",
    _V2_CLEAN_PREFIX + _V2_MIX_SQL + _V2_PACK_SQL + """
    SELECT * FROM (
      SELECT 0 AS stage, 'raw' AS stage_name,
             count(*)::BIGINT AS n_rows FROM documents
      UNION ALL SELECT 1, 'exact_dedup', count(*)::BIGINT
        FROM documents JOIN fp_keep USING (doc_id)
      UNION ALL SELECT 2, 'canonical', count(*)::BIGINT
        FROM documents JOIN fp_keep USING (doc_id) JOIN canon USING (doc_id)
      UNION ALL SELECT 3, 'eval_holdout', count(*)::BIGINT
        FROM documents JOIN fp_keep USING (doc_id) JOIN canon USING (doc_id)
        WHERE doc_id % 97 <> 0
      UNION ALL SELECT 4, 'decontaminated', count(*)::BIGINT
        FROM documents JOIN fp_keep USING (doc_id) JOIN canon USING (doc_id)
        WHERE doc_id % 97 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM contam)
      UNION ALL SELECT 5, 'quality_gate', count(*)::BIGINT FROM clean
      UNION ALL SELECT 6, 'aes_sample', count(*)::BIGINT FROM capped
      UNION ALL SELECT 7, 'token_budget', count(*)::BIGINT FROM budgeted
      UNION ALL SELECT 8, 'packed_rows', count(*)::BIGINT
        FROM (SELECT DISTINCT shard, pack_seq FROM packr2)
    )
    """,
)
def corpus_funnel_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel counts for the v2 pipeline — the v1 stages plus the two
    new mixing stages (A-ES capped sample, per-lang token budget).
    The integration seams the round-10 verdict called out
    (budget-after-dedup ordering, sample-on-gated-rows) are exactly
    the stage boundaries counted here."""
    stages: dict[str, DataFrame] = {}
    _prepare_corpus_v2(spark, sf_dir, stages=stages)
    order = [
        "raw",
        "exact_dedup",
        "canonical",
        "eval_holdout",
        "decontaminated",
        "quality_gate",
        "aes_sample",
        "token_budget",
        "packed_rows",
    ]
    parts = [
        stages[name]
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .select(
            F.lit(i).cast("int").alias("stage"),
            F.lit(name).alias("stage_name"),
            "n_rows",
        )
        for i, name in enumerate(order)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "corpus_drift",
    f"""
    WITH tb AS (
      SELECT lang,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
               AS h,
             len({_WORDS_SQL})::DOUBLE AS v
      FROM documents d WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ),
    ta AS (
      SELECT lang,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
               AS h,
             len({_WORDS_SQL})::DOUBLE AS v
      FROM documents d
      WHERE doc_id IS NOT NULL AND text IS NOT NULL AND doc_id % 3 <> 0
    ),
    sa AS (
      SELECT lang, h, v FROM (
        SELECT lang, h, v,
               row_number() OVER (PARTITION BY lang ORDER BY h, v) AS rn
        FROM (SELECT DISTINCT lang, h, v FROM ta)
      ) WHERE rn <= 64
    ),
    sb AS (
      SELECT lang, h, v FROM (
        SELECT lang, h, v,
               row_number() OVER (PARTITION BY lang ORDER BY h, v) AS rn
        FROM (SELECT DISTINCT lang, h, v FROM tb)
      ) WHERE rn <= 64
    ),
    qa AS (
      SELECT lang, list(v ORDER BY v) AS vs, count(*)::BIGINT AS n
      FROM sa GROUP BY lang
    ),
    qb AS (
      SELECT lang, list(v ORDER BY v) AS vs, count(*)::BIGINT AS n
      FROM sb GROUP BY lang
    ),
    ga AS (SELECT lang, count(*)::BIGINT AS n_a, max(h) AS kth_a
           FROM sa GROUP BY lang),
    gb AS (SELECT lang, count(*)::BIGINT AS n_b, max(h) AS kth_b
           FROM sb GROUP BY lang),
    u AS (SELECT lang, h FROM sa UNION SELECT lang, h FROM sb),
    l AS (
      SELECT lang, h FROM (
        SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
        FROM u
      ) WHERE rn <= 64
    ),
    gl AS (SELECT lang, count(*)::BIGINT AS n_l, max(h) AS kth
           FROM l GROUP BY lang),
    i AS (
      SELECT l.lang, count(*)::BIGINT AS n_i
      FROM l
      JOIN (SELECT DISTINCT lang, h FROM sa) ha USING (lang, h)
      JOIN (SELECT DISTINCT lang, h FROM sb) hb USING (lang, h)
      GROUP BY l.lang
    ),
    s AS (
      SELECT gl.lang,
             CASE WHEN ga.n_a IS NULL THEN 0
                  WHEN ga.n_a < 64 THEN ga.n_a
                  ELSE CAST(floor(CAST(63 AS DOUBLE)
                                  * CAST(281474976710656 AS DOUBLE)
                                  / CAST(ga.kth_a AS DOUBLE)) AS BIGINT)
             END AS est_a,
             CASE WHEN gb.n_b IS NULL THEN 0
                  WHEN gb.n_b < 64 THEN gb.n_b
                  ELSE CAST(floor(CAST(63 AS DOUBLE)
                                  * CAST(281474976710656 AS DOUBLE)
                                  / CAST(gb.kth_b AS DOUBLE)) AS BIGINT)
             END AS est_b,
             gl.n_l,
             CASE WHEN gl.n_l < 64 THEN gl.n_l
                  ELSE CAST(floor(CAST(63 AS DOUBLE)
                                  * CAST(281474976710656 AS DOUBLE)
                                  / CAST(gl.kth AS DOUBLE)) AS BIGINT)
             END AS est_union,
             COALESCE(i.n_i, 0)::BIGINT AS n_i
      FROM gl LEFT JOIN ga USING (lang) LEFT JOIN gb USING (lang)
              LEFT JOIN i USING (lang)
    ),
    f AS (
      SELECT lang, est_a, est_b,
             CAST(floor(CAST(n_i AS DOUBLE) * CAST(est_union AS DOUBLE)
                        / CAST(n_l AS DOUBLE)) AS BIGINT) AS est_i,
             round(CAST(n_i AS DOUBLE) / CAST(n_l AS DOUBLE), 6) AS jaccard
      FROM s
    )
    SELECT f.lang,
           qa.vs[CAST(round((qa.n - 1) * 0.5) AS INT) + 1] AS p50_a,
           qb.vs[CAST(round((qb.n - 1) * 0.5) AS INT) + 1] AS p50_b,
           qa.vs[CAST(round((qa.n - 1) * 0.9) AS INT) + 1] AS p90_a,
           qb.vs[CAST(round((qb.n - 1) * 0.9) AS INT) + 1] AS p90_b,
           round(qb.vs[CAST(round((qb.n - 1) * 0.5) AS INT) + 1]
                 - qa.vs[CAST(round((qa.n - 1) * 0.5) AS INT) + 1], 6)
             AS p50_delta,
           round(qb.vs[CAST(round((qb.n - 1) * 0.9) AS INT) + 1]
                 - qa.vs[CAST(round((qa.n - 1) * 0.9) AS INT) + 1], 6)
             AS p90_delta,
           f.est_a, f.est_b, f.jaccard,
           CASE WHEN f.est_a = 0 THEN 0.0
                ELSE round(least(CAST(f.est_i AS DOUBLE)
                                 / CAST(f.est_a AS DOUBLE), 1.0), 6)
           END AS containment_a_in_b,
           CASE WHEN f.est_b = 0 THEN 0.0
                ELSE round(least(CAST(f.est_i AS DOUBLE)
                                 / CAST(f.est_b AS DOUBLE), 1.0), 6)
           END AS containment_b_in_a
    FROM f LEFT JOIN qa ON f.lang IS NOT DISTINCT FROM qa.lang
           LEFT JOIN qb ON f.lang IS NOT DISTINCT FROM qb.lang
    """,
)
def corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-over-snapshot corpus drift computed PURELY from two
    persisted quantile-sketch states (operators.sketch.sketch_drift —
    round-10 agenda #3): snapshot A is the 2/3 crawl (doc_id % 3 ≠ 0),
    snapshot B the full corpus; per language, token-length percentile
    DELTAS (distribution shift) plus KMV cardinality / Jaccard /
    Broder containment over the row-ID sets (membership churn —
    containment_a_in_b is A's retention rate in B). One persisted
    bottom-k-by-row-hash state answers both questions: its values are
    a uniform sample, its hashes a KMV sketch of the id set. Neither
    corpus is re-read — the report joins two ≤ k-per-key relations
    (the `ramen drift` CLI reads the same function off two
    BatchStore roots). Oracle: both sketches replayed naively
    (bottom-64 pairs per side, nearest-rank percentiles, union-sketch
    overlap algebra) — exact while under-full AND at saturation."""
    from ramen_spark.operators.sketch import quantile_prune, sketch_drift

    docs = _t(spark, sf_dir, "documents")
    # localCheckpoint (round 12): sketch_drift consumes each state in
    # FOUR subtrees (percentile arrays, KMV group stats, the union
    # sketch, the intersection probe) — unshared, the tokenize pass
    # inlined 8× (8 parquet scans of documents in the before plan).
    # One narrow (lang, doc_id, n_tok) checkpoint = ONE text pass;
    # the two pruned states are ≤ k rows per lang, so their
    # checkpoints are report-sized. Matches deployment, where the
    # states are PERSISTED snapshots read off disk, not rebuilt.
    toks = docs.filter(F.col("text").isNotNull()).select(
        "lang", "doc_id",
        Tx.token_count(F.col("text")).cast("double").alias("n_tok"),
    ).localCheckpoint()
    pa = quantile_prune(
        toks.filter(F.col("doc_id") % 3 != 0), ["lang"], "n_tok",
        "doc_id", 64,
    ).localCheckpoint()
    pb = quantile_prune(
        toks, ["lang"], "n_tok", "doc_id", 64
    ).localCheckpoint()
    return sketch_drift(pa, pb, ["lang"], [0.5, 0.9], 64)


@register(
    "cross_snapshot_dedup",
    f"""
    WITH words AS ({_SHINGLES_SQL}),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
      FROM words, unnest(generate_series(1, greatest(nw - 2, 0))) AS u(i)
    ),
    hs AS (
      SELECT doc_id,
             ('0x' || substring(md5(s), 1, 12))::BIGINT  AS h1,
             ('0x' || substring(md5(s), 21, 12))::BIGINT AS h2
      FROM sh
    ),
    mh AS (
      SELECT doc_id, k, min(h1 + k * h2) AS h
      FROM hs, unnest(generate_series(0, 15)) AS g(k)
      GROUP BY doc_id, k
    ),
    bands AS (
      SELECT m0.doc_id,
             g.b::VARCHAR || ':' || md5(m0.h::VARCHAR || '|' || m1.h::VARCHAR) AS bucket
      FROM unnest(generate_series(0, 7)) AS g(b), mh m0, mh m1
      WHERE m1.doc_id = m0.doc_id AND m0.k = g.b * 2 AND m1.k = g.b * 2 + 1
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_new, y.doc_id AS id_old
      FROM bands x JOIN bands y ON x.bucket = y.bucket
      WHERE x.doc_id % 2 = 1 AND y.doc_id % 2 = 0
    )
    SELECT c.id_new, c.id_old,
           count_if(ma.h = mb.h) / 16.0 AS est_jaccard
    FROM cand c
    JOIN mh ma ON ma.doc_id = c.id_new
    JOIN mh mb ON mb.doc_id = c.id_old AND mb.k = ma.k
    GROUP BY 1, 2
    HAVING est_jaccard >= 0.5
    """,
)
def cross_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a fresh crawl snapshot against the
    retained corpus (operators.dedup.minhash_lsh_pairs_between):
    doc_id parity stands in for the two snapshots; every (new, old)
    near-dup pair at signature agreement ≥ 0.5. The old side's banded
    relation is the persistent index a real pipeline writes once per
    snapshot; the new side joins against it without ever re-pairing
    the old corpus with itself. Hash-for-hash the same MinHash scheme
    as minhash_lsh_pairs, so the oracle reproduces every value."""
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs_between(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        num_hashes=16,
        bands=8,
        min_sig_agreement=0.5,
    )


@register(
    "duplicated_spans",
    f"""
    WITH t AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    s AS (
      SELECT doc_id, i - 1 AS pos,
             ('0x' || substring(md5(array_to_string(w[i:i+9], ' ')), 1, 15)
             )::BIGINT AS h
      FROM t, unnest(generate_series(1, greatest(len(w) - 9, 0))) AS u(i)
    ),
    dup AS (SELECT h FROM s GROUP BY h HAVING count(*) >= 2),
    m AS (
      SELECT doc_id, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM s WHERE h IN (SELECT h FROM dup)
    ),
    cov AS (
      SELECT doc_id,
             sum(CASE WHEN prev IS NULL THEN 10
                      ELSE least(10, pos - prev) END) AS dup_tokens,
             count(*) AS n_dup_spans
      FROM m GROUP BY doc_id
    )
    SELECT t.doc_id,
           len(t.w)::BIGINT AS n_tokens,
           greatest(len(t.w) - 9, 0)::BIGINT AS n_spans,
           coalesce(cov.n_dup_spans, 0)::BIGINT AS n_dup_spans,
           round(coalesce(cov.dup_tokens, 0)::DOUBLE / len(t.w), 6)
             AS dup_token_frac
    FROM t LEFT JOIN cov USING (doc_id)
    WHERE greatest(len(t.w) - 9, 0) > 0
    """,
)
def duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span report
    (operators.dedup.duplicated_spans): per document, the exact
    fraction of tokens covered by 10-token windows that occur ≥ 2
    times corpus-wide — the Lee-et-al. duplicated-substring criterion
    as a 100 TB-shaped pipeline stage (16-byte span hashes, one
    combinable count per hash, one lag() window per doc for the exact
    interval-union coverage; no candidate pairs). The oracle walks the
    identical definition, md5s and all."""
    return D.duplicated_spans(
        _t(spark, sf_dir, "documents"), span_k=10, min_count=2
    )


@register(
    "temperature_mix_sample",
    """
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    t AS (SELECT sum(n) AS total, sum(n ** 0.5) AS z FROM c),
    q AS (
      SELECT lang, n,
             least(n, round(0.5 * total * (n ** 0.5) / z)::BIGINT) AS quota
      FROM c, t
    ),
    r AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id
             ) AS rk
      FROM documents
    )
    SELECT r.doc_id, r.lang, q.n::BIGINT AS group_total,
           q.quota::BIGINT AS quota
    FROM r JOIN q USING (lang) WHERE rk <= quota
    """,
)
def temperature_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted corpus mixing
    (operators.sampling.temperature_mix): keep 50% of the corpus with
    per-language quotas ∝ n^0.5 — alpha < 1 flattens the natural
    distribution so low-resource languages survive the cut (the
    mBERT/XLM-R/Pile sampling rule). Selection is md5-rank
    deterministic: reruns and the oracle reproduce the sample
    bit-for-bit."""
    from ramen_spark.operators.sampling import temperature_mix

    return temperature_mix(
        _t(spark, sf_dir, "documents"),
        group_col="lang",
        alpha=0.5,
        target_frac=0.5,
    )


@register(
    "weighted_sample_docs",
    """
    WITH w AS (
      SELECT lang, doc_id, n_chars,
             CAST(round(
               ln((('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'),
                     1, 12))::BIGINT + 1) / 281474976710656.0)
               / CAST(n_chars AS DOUBLE) * 1e6) AS BIGINT) AS skey_micro
      FROM documents
      WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0
    )
    SELECT lang, doc_id, n_chars, skey_micro, rn FROM (
      SELECT *, row_number() OVER (
               PARTITION BY lang ORDER BY skey_micro DESC, doc_id ASC
             )::BIGINT AS rn
      FROM w
    ) WHERE rn <= 25
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement
    (operators.sampling.weighted_sample): per language, 25 documents
    with inclusion probability ∝ length (n_chars) — the
    Efraimidis–Spirakis A-ES reservoir scheme, the curation selector
    when a hard top-n would collapse onto near-identical top scorers.
    Deterministic: u is md5-derived and the A-ES key ln(u)/w is frozen
    to integer micro-units (the dsir_importance micro-nat rule), so
    the oracle's window lands on the identical longs — no cross-engine
    float-ulp rank hazard."""
    from ramen_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(
        docs, n=25, weight_col="n_chars", keys=["lang"], id_col="doc_id",
        seed=42,
    )


@register(
    "boilerplate_segment_removal",
    f"""
    WITH t AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    segs AS (
      SELECT doc_id, unnest(range((len(w) + 2) // 3)) AS seg, w FROM t
    ),
    st AS (
      SELECT doc_id, seg,
             array_to_string(w[seg * 3 + 1 : seg * 3 + 3], ' ') AS segment
      FROM segs
    ),
    hot AS (
      SELECT segment FROM st GROUP BY segment
      HAVING count(DISTINCT doc_id) > 5
    )
    SELECT s.doc_id,
           coalesce(
             string_agg(CASE WHEN h.segment IS NULL THEN s.segment END,
                        ' ' ORDER BY s.seg), '') AS clean_text,
           count(*)::BIGINT AS n_segments,
           sum(CASE WHEN h.segment IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_removed
    FROM st s LEFT JOIN hot h USING (segment)
    GROUP BY s.doc_id
    """,
)
def boilerplate_segment_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document boilerplate removal
    (operators.dedup.frequent_segment_removal): drop every 3-word
    segment that occurs in more than 5 distinct documents, re-join the
    survivors in order. The C4 paper does this per LINE; the synthetic
    corpus has no newlines, so fixed 3-word windows are the segment
    unit (same operator, pluggable segmenter). Segment identity rides
    a 64-bit hash on the Spark side (8-byte shuffle keys); the oracle
    groups by the segment text itself — identical output absent hash
    collisions (expected ~1e-10 here)."""
    return D.frequent_segment_removal(
        _t(spark, sf_dir, "documents"), seg_words=3, max_docs=5
    )


@register(
    "dsir_importance_scores",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({_WORDS_SQL}) AS tok FROM documents
    ),
    b AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
             ('0x' || substring(md5(tok), 1, 12))::BIGINT % 4096 AS bk
      FROM toks
    ),
    cnt AS (
      SELECT bk, count(*) AS c_r, sum(is_t) AS c_t FROM b GROUP BY bk
    ),
    tot AS (SELECT sum(c_r) AS r, sum(c_t) AS t FROM cnt),
    w AS (
      SELECT bk,
             round(ln(((c_t + 1.0) * (r + 4096))
                      / ((c_r + 1.0) * (t + 4096))) * 1e6)::BIGINT AS w
      FROM cnt, tot
    )
    SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(w)::BIGINT AS score_micro,
           round(sum(w)::DOUBLE / 1e6 / count(*), 6) AS avg_logratio
    FROM b JOIN w USING (bk)
    GROUP BY doc_id
    """,
)
def dsir_importance_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed-ngram importance scoring
    (operators.sampling.dsir_importance): every document scored by
    ln-ratio of a target hashed-unigram model (lang='en' exemplars)
    over the raw corpus model, add-one smoothed, 4096 buckets.
    Per-bucket ratios freeze to integer micro-nats before the
    per-document sum, so scores are exact integers — no float-sum
    order sensitivity between Spark and the oracle."""
    from ramen_spark.operators.sampling import dsir_importance

    return dsir_importance(
        _t(spark, sf_dir, "documents"),
        target_pred=F.col("lang") == "en",
        n_buckets=4096,
    )


# Shared SemDeDup oracle scaffolding: the iters=0 md5-seeded 8-cell
# quantizer + per-vector (cell, centroid-similarity) assignment; the
# two variants differ only in the candidate-pair join key.
_SD_ASSIGNED_SQL = """vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ),
    cents AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cell,
             list_transform(v, x -> x / nullif(nrm, 0.0)) AS cv
      FROM vecs
      WHERE len(list_filter(list_transform(v, x -> x / nullif(nrm, 0.0)),
                            x -> x IS NULL)) = 0
      ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 8
    ),
    assigned AS (
      SELECT vec_id, v, nrm, cell, round(cdot / nullif(nrm, 0.0), 6) AS centsim
      FROM (
        SELECT vecs.vec_id, vecs.v, vecs.nrm, cents.cell,
               list_dot_product(cv, v) AS cdot,
               row_number() OVER (
                 PARTITION BY vecs.vec_id
                 ORDER BY list_dot_product(cv, v) DESC NULLS LAST, cell ASC) AS rk
        FROM vecs CROSS JOIN cents
      ) WHERE rk = 1
    )"""

# the prune + output, parameterized on the candidate relation/key
_SD_PRUNE_SQL = """
    losers AS (
      SELECT DISTINCT a.vec_id
      FROM {cand} a JOIN {cand} b
        ON a.cell = b.cell {extra_on} AND a.vec_id <> b.vec_id
       AND (b.centsim < a.centsim
            OR (b.centsim = a.centsim AND b.vec_id < a.vec_id))
      WHERE a.nrm * b.nrm > 0
        AND round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.4
    )
    SELECT s.vec_id, s.cell::INT AS cell, s.centsim,
           (l.vec_id IS NULL) AS keep
    FROM assigned s LEFT JOIN losers l USING (vec_id)
    """


@register(
    "semantic_dedup",
    "WITH "
    + _SD_ASSIGNED_SQL
    + ","
    + _SD_PRUNE_SQL.format(cand="assigned", extra_on=""),
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication
    (operators.similarity.semantic_dedup): k-means cells from the
    IVF coarse quantizer (iters=0 md5-seeded — exactly
    SQL-expressible, same determinism story as ivf_ann_topk),
    within-cell cosine >= tau pairs, keep the member with the LOWER
    centroid similarity (the paper's keep-the-outlier rule). tau=0.4
    exercises both outcomes on the synthetic embeddings (whose max
    pairwise cosine is ~0.51); production tau ~0.95 is a parameter."""
    from ramen_spark.catalog import table_num_rows

    emb = _t(spark, sf_dir, "embeddings")
    n_cells = Sim.auto_n_cells(table_num_rows(sf_dir, "embeddings"))
    cents = Sim.kmeans_fit(emb, n_cells=n_cells, iters=0)
    return Sim.semantic_dedup(emb, cents, tau=0.4)


@register(
    "ccnet_perplexity_buckets",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
             {_WORDS_SQL} AS w
      FROM documents
    ),
    pos AS (
      SELECT doc_id, lang, is_t, w, unnest(range(1, len(w))) AS i FROM toks
    ),
    big AS (
      SELECT doc_id, lang, is_t,
             ('0x' || substring(md5(w[i] || ' ' || w[i + 1]), 1, 12))::BIGINT
               % 4096 AS bk
      FROM pos
    ),
    cnt AS (SELECT bk, count(*) AS c FROM big WHERE is_t = 1 GROUP BY bk),
    tot AS (SELECT sum(is_t) AS t FROM big),
    wt AS (
      SELECT r.bk,
             round(ln((coalesce(c, 0) + 1.0) / (t + 4096)) * 1e6)::BIGINT AS wm
      FROM (SELECT unnest(range(4096)) AS bk) r
      LEFT JOIN cnt USING (bk) CROSS JOIN tot
    ),
    d AS (
      SELECT doc_id, lang, count(*)::BIGINT AS n_bigrams,
             (-sum(wm))::BIGINT AS ce
      FROM big JOIN wt USING (bk) GROUP BY doc_id, lang
    )
    SELECT doc_id, lang, n_bigrams,
           round(ce::DOUBLE / 1e6 / n_bigrams, 6) AS avg_nats,
           CASE ntile(3) OVER (
                  PARTITION BY lang
                  ORDER BY round(ce::DOUBLE / 1e6 / n_bigrams, 6) ASC,
                           doc_id ASC)
             WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS ppl_bucket
    FROM d
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity quality strata
    (operators.sampling.lm_perplexity_buckets): hashed word-bigram
    target model from the lang='en' slice, per-document cross-entropy
    in integer micro-nats (the dsir determinism rule), head/middle/
    tail tertiles per language."""
    from ramen_spark.operators.sampling import lm_perplexity_buckets

    return lm_perplexity_buckets(
        _t(spark, sf_dir, "documents"),
        target_pred=F.col("lang") == "en",
        n_buckets=4096,
    )


@register(
    "remove_duplicated_spans",
    f"""
    WITH t AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    s AS (
      SELECT doc_id, i - 1 AS pos,
             ('0x' || substring(md5(array_to_string(w[i:i+9], ' ')), 1, 15)
             )::BIGINT AS h
      FROM t, unnest(generate_series(1, greatest(len(w) - 9, 0))) AS u(i)
    ),
    dup AS (SELECT h FROM s GROUP BY h HAVING count(*) >= 2),
    cov AS (
      SELECT DISTINCT doc_id, pos + o.off AS cp
      FROM s, unnest(generate_series(0, 9)) AS o(off)
      WHERE h IN (SELECT h FROM dup)
    ),
    posn AS (
      SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM t
    ),
    kept AS (
      SELECT posn.doc_id, posn.i, posn.w[posn.i] AS tok
      FROM posn LEFT JOIN cov
        ON cov.doc_id = posn.doc_id AND cov.cp = posn.i - 1
      WHERE cov.cp IS NULL
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY i) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, len(t.w)::BIGINT AS n_tokens,
           (len(t.w) - coalesce(agg.n_kept, 0))::BIGINT AS n_removed,
           coalesce(agg.clean_text, '') AS clean_text
    FROM t LEFT JOIN agg USING (doc_id)
    """,
)
def remove_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span removal
    (operators.dedup.remove_duplicated_spans): cut every token covered
    by a corpus-duplicated 10-token window out of the text — the
    transformation half of duplicated_spans (Lee et al. 2021 remove
    the duplicated substrings, not just report them). The oracle cuts
    by explicit covered-position set; the operator folds merged
    intervals row-locally — same output, linear row-local work."""
    return D.remove_duplicated_spans(
        _t(spark, sf_dir, "documents"), span_k=10, min_count=2
    )


@register(
    "epoch_schedule",
    """
    WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    t AS (SELECT sum(n) AS total, sum(n ** 0.5) AS z FROM c),
    q AS (
      SELECT source, n,
             round(1.0 * total * (n ** 0.5) / z)::BIGINT AS quota
      FROM c, t
    ),
    r AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id
             ) AS rk
      FROM documents
    ),
    s AS (
      SELECT r.doc_id, r.source,
             (q.quota // q.n)
               + CASE WHEN r.rk <= q.quota % q.n THEN 1 ELSE 0 END AS nc
      FROM r JOIN q USING (source)
    )
    SELECT doc_id, source,
           unnest(generate_series(1, nc))::BIGINT AS epoch_copy,
           nc::BIGINT AS n_copies
    FROM s WHERE nc >= 1
    """,
)
def epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch schedule with replacement
    (operators.sampling.epoch_schedule): temperature quotas UNclamped
    — under-represented sources repeat (epoch_copy 1..c), the hot
    source downsamples, one row per scheduled copy, md5-deterministic."""
    from ramen_spark.operators.sampling import epoch_schedule

    return epoch_schedule(
        _t(spark, sf_dir, "documents"),
        group_col="source",
        alpha=0.5,
        epoch_tokens_frac=1.0,
    )


@register(
    "semantic_dedup_lsh",
    "WITH "
    + _SD_ASSIGNED_SQL
    + f""",
    pb AS (
      SELECT vec_id,
             sum(CASE WHEN list_dot_product(v, p) > 0 THEN bit ELSE 0 END)::BIGINT
               AS bucket
      FROM vecs CROSS JOIN {_planes_values_sql(64, 6)}
      GROUP BY vec_id
    ),
    aug AS (SELECT assigned.*, pb.bucket FROM assigned JOIN pb USING (vec_id)),
    """
    + _SD_PRUNE_SQL.format(cand="aug", extra_on="AND a.bucket = b.bucket"),
)
def semantic_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup, LSH-candidate scale path
    (operators.similarity.semantic_dedup with planes): same 8-cell
    priority and keep-the-outlier rule, candidate pairs restricted to
    same (cell, hyperplane bucket) — the measured fix for the exact
    variant's ~2·n^1.5 dot floor (175 s → see SCALE.md) with recall →
    1 in the high-tau regime the operator prunes in. Plane count
    resolves from footer stats (job-free construction); the seeded
    plane doubles are baked into the oracle as literals."""
    from ramen_spark.catalog import table_num_rows

    emb = _t(spark, sf_dir, "embeddings")
    n = table_num_rows(sf_dir, "embeddings")
    # cells stay FIXED at 8 here: with buckets generating candidates,
    # the quantizer only supplies the keep-priority context, and its
    # assignment cost is n·c interpreted dots × 3 plan passes —
    # measured 113 s of pure assignment at the 100× tier with c=512
    # (auto_n_cells) vs ~9 s with c=8, identical outputs at sf0.01
    cents = Sim.kmeans_fit(emb, n_cells=8, iters=0)
    planes = Sim.make_hyperplanes(64, Sim.auto_n_planes(n or 0))
    return Sim.semantic_dedup(emb, cents, tau=0.4, planes=planes)


@register(
    "embedding_near_dups_multiseed",
    f"""
    WITH vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ),
    b0 AS (
      SELECT vec_id, 0 AS si,
             sum(CASE WHEN list_dot_product(v, p) > 0 THEN bit ELSE 0 END)::BIGINT
               AS bucket
      FROM vecs CROSS JOIN {_planes_values_sql(64, 6, seed=42)}
      GROUP BY vec_id
    ),
    b1 AS (
      SELECT vec_id, 1 AS si,
             sum(CASE WHEN list_dot_product(v, p) > 0 THEN bit ELSE 0 END)::BIGINT
               AS bucket
      FROM vecs CROSS JOIN {_planes_values_sql(64, 6, seed=43)}
      GROUP BY vec_id
    ),
    bb AS (SELECT * FROM b0 UNION ALL SELECT * FROM b1),
    cand AS (
      SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
      FROM bb l JOIN bb r
        ON l.si = r.si AND l.bucket = r.bucket AND l.vec_id < r.vec_id
    )
    SELECT id_a, id_b,
           round(CASE WHEN a.nrm * b.nrm > 0
                      THEN list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END, 6)
             AS sim
    FROM cand JOIN vecs a ON a.vec_id = cand.id_a
              JOIN vecs b ON b.vec_id = cand.id_b
    WHERE round(CASE WHEN a.nrm * b.nrm > 0
                     THEN list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END, 6)
          >= 0.95
    """,
)
def embedding_near_dups_multiseed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dups under the 2-seed OR-construction
    (operators.similarity.pairwise_near_dups n_seeds=2): a pair is a
    candidate if it collides under EITHER seeded plane set — the
    recall amplification for high plane counts; miss probability
    squares. Candidate ids dedupe BEFORE vectors re-attach, so a
    double-collision neither re-scores nor shuffles its vectors
    twice."""
    from ramen_spark.catalog import table_num_rows

    emb = _t(spark, sf_dir, "embeddings")
    return Sim.pairwise_near_dups(
        emb, threshold=0.95, dim=64,
        n_rows=table_num_rows(sf_dir, "embeddings"),
        n_seeds=2,
    )


_FUNNEL_TAIL_SQL = """
    SELECT * FROM (
      SELECT 0 AS stage, 'raw' AS stage_name,
             count(*)::BIGINT AS n_rows FROM documents
      UNION ALL SELECT 1, 'exact_dedup', count(*)::BIGINT
        FROM documents JOIN fp_keep USING (doc_id)
      UNION ALL SELECT 2, 'canonical', count(*)::BIGINT
        FROM documents JOIN fp_keep USING (doc_id) JOIN canon USING (doc_id)
      UNION ALL SELECT 3, 'eval_holdout', count(*)::BIGINT
        FROM documents JOIN fp_keep USING (doc_id) JOIN canon USING (doc_id)
        WHERE doc_id % 97 <> 0
      UNION ALL SELECT 4, 'decontaminated', count(*)::BIGINT
        FROM documents JOIN fp_keep USING (doc_id) JOIN canon USING (doc_id)
        WHERE doc_id % 97 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM contam)
      UNION ALL SELECT 5, 'quality_gate', count(*)::BIGINT FROM clean
      UNION ALL SELECT 6, 'temperature_mix', count(*)::BIGINT FROM mixed
      UNION ALL SELECT 7, 'packed_rows', count(*)::BIGINT
        FROM (SELECT DISTINCT shard, pack_seq FROM packr)
    )
    """


@register(
    "corpus_funnel",
    ORACLES["prepare_training_corpus"].replace(
        "SELECT doc_id, shard, pack_seq, n_tok FROM packr", _FUNNEL_TAIL_SQL
    ),
)
def corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability: the surviving-row funnel of the
    composed pipeline — one row per cumulative stage (raw → exact
    dedup → canonical → eval holdout → decontaminated → quality gate
    → temperature mix → packed training rows). What a data-pipeline
    operator watches per snapshot to catch a gate suddenly eating the
    corpus; the oracle re-walks the identical stage CTEs. Each stage
    is one count over the shared sub-plans (the iterative
    connected-components rounds are localCheckpointed once and reused
    by every stage's subtree)."""
    stages: dict[str, DataFrame] = {}
    _prepare_corpus(spark, sf_dir, gate="score", stages=stages)
    order = [
        "raw",
        "exact_dedup",
        "canonical",
        "eval_holdout",
        "decontaminated",
        "quality_gate",
        "temperature_mix",
        "packed_rows",
    ]
    parts = [
        stages[name]
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .select(
            F.lit(i).cast("int").alias("stage"),
            F.lit(name).alias("stage_name"),
            "n_rows",
        )
        for i, name in enumerate(order)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "hard_negative_mining",
    """
    WITH vecs AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
             c.label AS neg_label,
             round(CASE WHEN q.nrm * c.nrm > 0
                        THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm)
                   END, 6) AS sim
      FROM vecs c
      JOIN (SELECT * FROM vecs WHERE vec_id < 20) q
        ON c.label <> q.label
    )
    SELECT query_id, corpus_id, neg_label, sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id
        ORDER BY sim DESC NULLS LAST, corpus_id ASC)::INT AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators.similarity.hard_negatives):
    per query, the 5 most-cosine-similar corpus vectors with a
    DIFFERENT label — contrastive-training data prep; label
    inequality rides the join condition."""
    emb = _t(spark, sf_dir, "embeddings")
    return Sim.hard_negatives(
        emb, emb.filter(F.col("vec_id") < 20), k=5
    )


@register(
    "bm25_keyword_topk",
    f"""
    WITH toks AS (
      SELECT doc_id, {_WORDS_SQL} AS w FROM documents
    ),
    flat AS (
      SELECT doc_id, len(w) AS dl, unnest(w) AS tok FROM toks
    ),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf, any_value(dl) AS dl
      FROM flat WHERE tok IN ('spark', 'merge', 'window')
      GROUP BY doc_id, tok
    ),
    stats AS (
      SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl
      FROM toks
    ),
    dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    contrib AS (
      SELECT tf.doc_id,
             round(ln(1.0 + (n - df + 0.5) / (df + 0.5))
                   * (tf * 2.2)
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
                   * 1e6)::BIGINT AS c
      FROM tf JOIN dft USING (tok) CROSS JOIN stats
    ),
    scored AS (
      SELECT doc_id, sum(c)::BIGINT AS score_micro FROM contrib
      GROUP BY doc_id
    )
    SELECT doc_id, score_micro,
           row_number() OVER (ORDER BY score_micro DESC, doc_id ASC)::INT
             AS rank,
           round(score_micro::DOUBLE / 1e6, 6) AS score
    FROM scored
    QUALIFY rank <= 20
    """,
)
def bm25_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (functions.text.bm25_topk): Okapi top-20
    for the query {{spark, merge, window}} — the sparse-retrieval
    complement to the ANN tiers for corpus mining; integer micro-score
    determinism, TakeOrdered top-k."""
    return Tx.bm25_topk(
        _t(spark, sf_dir, "documents"),
        ["spark", "merge", "window"],
        k=20,
    )


@register("bm25_from_index", ORACLES["bm25_keyword_topk"])
def bm25_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over the PREBUILT inverted index (functions.text.
    build_keyword_index + bm25_topk_from_index) — the production
    repeated-mining shape: per-query cost is an isin() prune of the
    postings (partition-pruned when the index is stored
    term-partitioned), not a fresh token explode. Value-identical to
    bm25_keyword_topk (same oracle; equality also pinned by
    test_bm25_from_index_equals_inflight)."""
    docs = _t(spark, sf_dir, "documents")
    postings, stats = Tx.build_keyword_index(docs)
    return Tx.bm25_topk_from_index(
        postings, stats, ["spark", "merge", "window"], k=20
    )


def semantic_dedup_exact_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SemDeDup on the Arrow engine
    (operators.similarity.semantic_dedup_arrow): the full within-cell
    scan as blocked BLAS matmuls — measured 175 s → 4.5 s at the 100×
    tier vs the SQL engine at the same √n cell count (SCALE §4d).
    Rows-only in the driver: BLAS accumulation order can flip a pair
    sitting exactly on the 6dp tau boundary, so the value-exact oracle
    belongs to the SQL engine (`semantic_dedup`); engine equality is
    pinned by test_semantic_dedup_arrow_matches_sql_engine."""
    from ramen_spark.catalog import table_num_rows

    emb = _t(spark, sf_dir, "embeddings")
    n_cells = Sim.auto_n_cells(table_num_rows(sf_dir, "embeddings"))
    cents = Sim.kmeans_fit(emb, n_cells=n_cells, iters=0)
    return Sim.semantic_dedup_arrow(emb, cents, tau=0.4)


QUERIES["semantic_dedup_exact_arrow"] = semantic_dedup_exact_arrow


@register(
    "bpe_first_merge",
    f"""
    WITH vocab AS (
      SELECT word, count(*) AS n FROM (
        SELECT unnest({_WORDS_SQL}) AS word FROM documents
      ) GROUP BY word
    ),
    pairs AS (
      SELECT substr(word, i, 1) AS l, substr(word, i + 1, 1) AS r,
             sum(n) AS c
      FROM vocab, unnest(range(1, length(word))) AS u(i)
      GROUP BY 1, 2
    )
    SELECT l, r, c::BIGINT AS c FROM pairs
    ORDER BY c DESC, l ASC, r ASC LIMIT 1
    """,
)
def bpe_first_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge — the most frequent adjacent character
    pair weighted by word frequency (operators.bpe: one round of
    learn_bpe_merges, which IS SQL-expressible; later rounds depend on
    the previous argmax and are covered by the rows-only
    bpe_learn_merges + a pure-Python-reference test)."""
    from ramen_spark.operators.bpe import _pairs, _symbolize, word_frequency_table

    vocab = word_frequency_table(_t(spark, sf_dir, "documents"))
    return (
        vocab.select(
            F.explode(_pairs(_symbolize(F.col("word")))).alias("p"), "n"
        )
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("n").cast("bigint").alias("c"))
        .orderBy(F.col("c").desc(), F.col("l").asc(), F.col("r").asc())
        .limit(1)
    )


def bpe_learn_merges_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eight learned BPE merges in rank order (operators.bpe.
    learn_bpe_merges — iterative argmax-dependent rounds, so rows-only
    in the driver; equality with a pure-Python reference is pinned by
    test_bpe_learning_matches_python_reference)."""
    from ramen_spark.operators.bpe import learn_bpe_merges

    merges = learn_bpe_merges(
        _t(spark, sf_dir, "documents"), n_merges=8
    )
    return spark.createDataFrame(
        [(i, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "rank int, left string, right string, weight long",
    )


QUERIES["bpe_learn_merges"] = bpe_learn_merges_query


def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained quality filter (operators.classify): logistic
    regression fit by distributed Newton/IRLS separating the lang='en'
    slice from the rest (the GPT-3/LLaMA learned-filter stage), then
    every document scored with the trained sigmoid. Rows-only in the
    driver (float moment sums are accumulation-order sensitive, like
    multilinreg_fit); convergence + separation pinned by
    test_quality_classifier_separates_and_matches_reference."""
    from ramen_spark.operators.classify import (
        score_quality,
        train_quality_classifier,
    )

    docs = _t(spark, sf_dir, "documents")
    w = train_quality_classifier(docs, F.col("lang") == "en", iters=6)
    return score_quality(docs, w)


QUERIES["quality_classifier_scores"] = quality_classifier_scores


def prepare_training_corpus_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The composed pipeline with the TRAINED quality gate — the
    learned-filter variant of the score/gopher gates (rows-only: the
    gate's weights come from float IRLS; every other stage is the
    oracle-checked machinery of prepare_training_corpus)."""
    return _prepare_corpus(spark, sf_dir, gate="classifier")


QUERIES["prepare_training_corpus_classifier"] = prepare_training_corpus_classifier


@register(
    "contamination_report",
    f"""
    WITH words AS ({_SHINGLES_SQL}),
    sh AS (
      SELECT DISTINCT doc_id,
             ('0x' || substring(md5(array_to_string(w[i:i+2], ' ')), 1, 12))::BIGINT AS h
      FROM words, unnest(generate_series(1, greatest(nw - 2, 0))) AS u(i)
    ),
    t AS (SELECT doc_id AS train_id, h FROM sh WHERE doc_id % 97 <> 0),
    e AS (SELECT doc_id AS eval_id, h FROM sh WHERE doc_id % 97 = 0),
    pairs AS (
      SELECT train_id, eval_id, count(*)::BIGINT AS n_shared
      FROM t JOIN e USING (h) GROUP BY 1, 2
    ),
    tot AS (
      SELECT train_id, count(*)::BIGINT AS train_shingles
      FROM t GROUP BY 1
    )
    SELECT train_id, eval_id, n_shared, train_shingles,
           round(n_shared::DOUBLE / train_shingles, 6) AS shared_frac
    FROM pairs JOIN tot USING (train_id)
    WHERE n_shared >= 1
    """,
)
def contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination audit pairs (operators.dedup.contamination_report):
    which held-out doc (doc_id % 97 = 0, the pipeline's eval split)
    leaked into which training doc, with shared-shingle counts —
    the evidence behind decontaminate_train's boolean."""
    docs = _t(spark, sf_dir, "documents")
    return D.contamination_report(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
    )


# ===========================================================================
# Round 9: URL-tier dedup, cardinality sketches, range joins
# ===========================================================================

# URL synthesis for the url_dedup oracle: deterministic per-doc URL
# with case noise, explicit default port, tracking params, fragments,
# and trailing slashes — every canonicalization step fires on a
# nontrivial subset (the pii_redaction rule: synthesize oracle inputs
# from table columns so the check isn't vacuous).
_URL_SYNTH_SQL = """
    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://www.' END)
    || source || '.Example.COM'
    || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
    || '/docs/' || CAST(doc_id % 40 AS VARCHAR)
    || (CASE CAST(doc_id % 4 AS INTEGER)
          WHEN 0 THEN '/?utm_source=feed&utm_campaign=a'
          WHEN 1 THEN '?utm_ref=nav&page=2'
          WHEN 2 THEN '#section-' || CAST(doc_id AS VARCHAR)
          ELSE '/' END)
"""


def _url_synth_col() -> Column:
    two = F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://WWW.")).otherwise(
        F.lit("https://www.")
    )
    port = F.when(F.col("doc_id") % 3 == 0, F.lit(":443")).otherwise(F.lit(""))
    suffix = (
        F.when(
            (F.col("doc_id") % 4).cast("int") == 0,
            F.lit("/?utm_source=feed&utm_campaign=a"),
        )
        .when((F.col("doc_id") % 4).cast("int") == 1, F.lit("?utm_ref=nav&page=2"))
        .when(
            (F.col("doc_id") % 4).cast("int") == 2,
            F.concat(F.lit("#section-"), F.col("doc_id").cast("string")),
        )
        .otherwise(F.lit("/"))
    )
    return F.concat(
        two,
        F.col("source"),
        F.lit(".Example.COM"),
        port,
        F.lit("/docs/"),
        (F.col("doc_id") % 40).cast("string"),
        suffix,
    )


@register(
    "url_dedup",
    f"""
    WITH u AS (
      SELECT doc_id, {Tx.canonical_url_sql(_URL_SYNTH_SQL)} AS canon_url
      FROM documents
    )
    SELECT canon_url,
           min(doc_id)            AS keep_id,
           count(*)::BIGINT       AS n_aliases
    FROM u GROUP BY canon_url
    """,
)
def url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-tier dedup (functions.text.canonical_url) — the cheapest
    dedup stage of a crawl pipeline, run before any content hashing:
    canonicalize (case, default ports, tracking params, fragments,
    trailing slashes), then keep one doc per canonical URL. URLs are
    synthesized deterministically from (doc_id, source) so every
    cascade step fires on a known subset. 100 TB shape: row-local
    regex cascade + one partial-combined groupBy on the (short)
    canonical string — the same plan as dedup_exact with the
    fingerprint replaced by a cheaper key."""
    docs = _t(spark, sf_dir, "documents")
    canon = docs.select(
        "doc_id", Tx.canonical_url(_url_synth_col()).alias("canon_url")
    )
    return canon.groupBy("canon_url").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_aliases"),
    )


@register(
    "kmv_distinct_users",
    """
    WITH h AS (
      SELECT DISTINCT event_type,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
      FROM events
      WHERE user_id IS NOT NULL
    ),
    r AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM h
    ),
    m AS (
      SELECT event_type, count(*)::BIGINT AS n_kept, max(h) AS kth_min
      FROM r WHERE rn <= 64 GROUP BY event_type
    )
    SELECT event_type, n_kept, kth_min,
           CASE WHEN n_kept < 64 THEN n_kept
                ELSE CAST(floor(CAST(63 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
                                / CAST(kth_min AS DOUBLE)) AS BIGINT)
           END AS est_distinct
    FROM m
    """,
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user estimate via the KMV bottom-k
    sketch (operators.sketch.kmv_distinct, k=64): deterministic
    md5-derived hashes, so the estimate is value-exact across engines
    — unlike HLL-based approx_count_distinct, which has no
    cross-engine oracle. The oracle is the NAIVE relational form
    (distinct pairs + window rank); the operator's map-side bounded
    prefilter must land on identical values, proving the pruning
    loses nothing."""
    from ramen_spark.operators.sketch import kmv_distinct

    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    return kmv_distinct(ev, ["event_type"], "user_id", k=64)


@register(
    "kmv_audience_overlap",
    """
    WITH a AS (
      SELECT DISTINCT ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
      FROM events WHERE event_type = 'click' AND user_id IS NOT NULL
    ),
    b AS (
      SELECT DISTINCT ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
      FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ),
    sa AS (
      SELECT dow, h FROM (
        SELECT dow, h, row_number() OVER (PARTITION BY dow ORDER BY h) AS rn
        FROM a
      ) WHERE rn <= 64
    ),
    sb AS (
      SELECT dow, h FROM (
        SELECT dow, h, row_number() OVER (PARTITION BY dow ORDER BY h) AS rn
        FROM b
      ) WHERE rn <= 64
    ),
    ga AS (SELECT dow, count(*)::BIGINT AS n_a, max(h) AS kth_a FROM sa GROUP BY dow),
    gb AS (SELECT dow, count(*)::BIGINT AS n_b, max(h) AS kth_b FROM sb GROUP BY dow),
    u AS (SELECT dow, h FROM sa UNION SELECT dow, h FROM sb),
    l AS (
      SELECT dow, h FROM (
        SELECT dow, h, row_number() OVER (PARTITION BY dow ORDER BY h) AS rn
        FROM u
      ) WHERE rn <= 64
    ),
    gl AS (SELECT dow, count(*)::BIGINT AS n_l, max(h) AS kth FROM l GROUP BY dow),
    i AS (
      SELECT l.dow, count(*)::BIGINT AS n_i
      FROM l JOIN sa USING (dow, h) JOIN sb USING (dow, h)
      GROUP BY l.dow
    ),
    s AS (
      SELECT gl.dow,
             COALESCE(ga.n_a, 0)::BIGINT AS n_a,
             COALESCE(gb.n_b, 0)::BIGINT AS n_b,
             CASE WHEN ga.n_a IS NULL THEN 0
                  WHEN ga.n_a < 64 THEN ga.n_a
                  ELSE CAST(floor(CAST(63 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
                                  / CAST(ga.kth_a AS DOUBLE)) AS BIGINT)
             END AS est_a,
             CASE WHEN gb.n_b IS NULL THEN 0
                  WHEN gb.n_b < 64 THEN gb.n_b
                  ELSE CAST(floor(CAST(63 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
                                  / CAST(gb.kth_b AS DOUBLE)) AS BIGINT)
             END AS est_b,
             gl.n_l AS n_union_kept,
             CASE WHEN gl.n_l < 64 THEN gl.n_l
                  ELSE CAST(floor(CAST(63 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
                                  / CAST(gl.kth AS DOUBLE)) AS BIGINT)
             END AS est_union,
             COALESCE(i.n_i, 0)::BIGINT AS n_i
      FROM gl LEFT JOIN ga USING (dow) LEFT JOIN gb USING (dow)
              LEFT JOIN i USING (dow)
    )
    , f AS (
      SELECT dow, n_a, n_b, est_a, est_b, n_union_kept, est_union,
             CAST(floor(CAST(n_i AS DOUBLE) * CAST(est_union AS DOUBLE)
                        / CAST(n_union_kept AS DOUBLE)) AS BIGINT) AS est_intersection,
             round(CAST(n_i AS DOUBLE) / CAST(n_union_kept AS DOUBLE), 6) AS jaccard
      FROM s
    )
    SELECT f.*,
           CASE WHEN est_b = 0 THEN 0.0
                ELSE round(least(CAST(est_intersection AS DOUBLE)
                                 / CAST(est_b AS DOUBLE), 1.0), 6)
           END AS containment_b_in_a,
           CASE WHEN est_a = 0 THEN 0.0
                ELSE round(least(CAST(est_intersection AS DOUBLE)
                                 / CAST(est_a AS DOUBLE), 1.0), 6)
           END AS containment_a_in_b
    FROM f
    """,
)
def kmv_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from mergeable KMV sketches
    (operators.sketch.kmv_overlap, k=64): per day-of-week, how much
    of the click audience is also the purchase audience — |A|, |B|,
    |A∪B|, |A∩B| and Jaccard, all from two bottom-k sketches (Beyer
    et al. SIGMOD'07 set algebra), never materializing either distinct
    user set. The same question at corpus scale is snapshot-overlap /
    contamination-rate estimation between 100 TB crawls whose sketches
    are a few KB. Deterministic md5 hashes ⇒ the oracle is the NAIVE
    relational form of the identical math — value-exact, unlike any
    HLL-based overlap. Day-of-week via pure integer µs arithmetic
    (1970-01-01 = Thursday = 4), the dow_hour_heatmap idiom."""
    from ramen_spark.operators.sketch import kmv_overlap

    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    keyed = ev.select(
        ((F.floor(us / F.lit(86400000000)) + 4) % 7).alias("dow"),
        "event_type",
        "user_id",
    )
    clicks = keyed.filter(F.col("event_type") == "click")
    purchases = keyed.filter(F.col("event_type") == "purchase")
    return kmv_overlap(clicks, purchases, ["dow"], "user_id", k=64)


@register(
    "quantile_sketch_token_lengths",
    f"""
    WITH t AS (
      SELECT lang,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS h,
             len({_WORDS_SQL})::DOUBLE AS v
      FROM documents
      WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ),
    d AS (SELECT DISTINCT lang, h, v FROM t),
    r AS (
      SELECT lang, h, v,
             row_number() OVER (PARTITION BY lang ORDER BY h, v) AS rn
      FROM d
    ),
    s AS (
      SELECT lang, list(v ORDER BY v) AS vs, count(*)::BIGINT AS n_sample
      FROM r WHERE rn <= 32 GROUP BY lang
    )
    SELECT lang, n_sample,
           vs[CAST(round((n_sample - 1) * 0.5) AS INT) + 1] AS p50,
           vs[CAST(round((n_sample - 1) * 0.9) AS INT) + 1] AS p90,
           vs[CAST(round((n_sample - 1) * 0.99) AS INT) + 1] AS p99
    FROM s
    """,
)
def quantile_sketch_token_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-length percentiles via the bottom-k-by-row-
    hash quantile sketch (operators.sketch.quantile_sketch, k=32) —
    corpus observability at 100 TB needs distribution percentiles
    without a global sort and without the exact PERCENTILE's per-group
    funnel. Deterministic md5-derived sample, so value-exact across
    engines — unlike approx_percentile (engine-private GK state). The
    oracle is the NAIVE form (hash + window rank ≤ k + nearest-rank on
    the sorted sample); the operator's map-side bounded prefilter must
    land on the identical sample, proving the pruning loses nothing."""
    from ramen_spark.operators.sketch import quantile_sketch

    docs = _t(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        Tx.token_count(F.col("text")).cast("double").alias("n_tokens"),
    )
    return quantile_sketch(
        docs, ["lang"], "n_tokens", "doc_id", ps=[0.5, 0.9, 0.99], k=32
    )


@register(
    "raql_quantile_sketch",
    """
    WITH t AS (
      SELECT lang,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS h,
             CAST(n_chars AS DOUBLE) AS v
      FROM documents
      WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
    ),
    d AS (SELECT DISTINCT lang, h, v FROM t),
    r AS (
      SELECT lang, h, v,
             row_number() OVER (PARTITION BY lang ORDER BY h, v) AS rn
      FROM d
    ),
    s AS (
      SELECT lang, list(v ORDER BY v) AS vs, count(*)::BIGINT AS n_sample
      FROM r WHERE rn <= 32 GROUP BY lang
    ),
    q AS (
      SELECT lang, 1 AS m,
             vs[CAST(round((n_sample - 1) * 0.5) AS INT) + 1] AS p50,
             vs[CAST(round((n_sample - 1) * 0.9) AS INT) + 1] AS p90
      FROM s
    ),
    c AS (SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY lang)
    SELECT c.lang, c.n,
           CASE WHEN q.m IS NULL THEN NULL
                ELSE [q.p50, q.p90] END AS chars_p,
           q.p90 AS p90c
    FROM c LEFT JOIN q ON c.lang IS NOT DISTINCT FROM q.lang
    """,
)
def raql_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile sketch spoken from the RaQL surface (plans.raql):
    ``KMV 32 [50th; 90th] PERCENTILE n_chars BY doc_id`` as a grouped
    select field beside an ordinary COUNT — the dialect twin of
    operators.sketch.quantile_sketch, completing the dialect's sketch
    family (KMV DISTINCT and CMS TOP landed earlier this round; the
    exact ``p PERCENTILE v`` form is doc:681). The BY clause names the
    unique row id the bottom-k sample hashes. The compiler rewrites
    the field into the pruned sketch branch (map-side bounded pair
    prefilter → ONE Exchange) joined back on the group key, so the
    language form carries the library form's 100 TB shape. Oracle =
    the naive relational form over the identical md5 hash space."""
    from ramen_spark.plans.raql import compile_operation

    docs = _t(spark, sf_dir, "documents")
    out = compile_operation(
        "SELECT lang, COUNT(1) AS n, "
        "KMV 32 [50th; 90th] PERCENTILE n_chars BY doc_id AS chars_p, "
        "KMV 32 90th PERCENTILE n_chars BY doc_id AS p90c "
        "GROUP BY lang",
        docs,
    )
    return out.select(
        "lang", F.col("n").cast("long").alias("n"), "chars_p", "p90c"
    )


@register(
    "length_outlier_filter",
    """
    WITH t AS (
      SELECT lang,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS h,
             CAST(n_chars AS DOUBLE) AS v
      FROM documents
      WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
    ),
    d AS (SELECT DISTINCT lang, h, v FROM t),
    r AS (
      SELECT lang, h, v,
             row_number() OVER (PARTITION BY lang ORDER BY h, v) AS rn
      FROM d
    ),
    s AS (
      SELECT lang, list(v ORDER BY v) AS vs, count(*)::BIGINT AS n_sample
      FROM r WHERE rn <= 32 GROUP BY lang
    ),
    q AS (
      SELECT lang,
             vs[CAST(round((n_sample - 1) * 0.05) AS INT) + 1] AS lo,
             vs[CAST(round((n_sample - 1) * 0.95) AS INT) + 1] AS hi
      FROM s
    )
    SELECT doc_id, d.lang, n_chars, q.lo, q.hi,
           (CAST(n_chars AS DOUBLE) >= q.lo AND CAST(n_chars AS DOUBLE) <= q.hi)
             AS keep
    FROM documents d JOIN q ON d.lang IS NOT DISTINCT FROM q.lang
    WHERE d.doc_id IS NOT NULL AND d.n_chars IS NOT NULL
    """,
)
def length_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-derived length trimming — the sketch-composition loop
    (observability → action): per-language [p05, p95] bounds come
    from the bottom-k quantile sketch (operators.sketch.
    quantile_sketch, k=32), then every doc is flagged against its
    language's own distribution instead of a fixed global bound (the
    fixed-bounds cousin is gopher_quality_flags' word-count rule;
    RedPajama/Dolma derive per-source cutoffs exactly this way).
    Deterministic sketch ⇒ value-exact oracle. 100 TB shape: the
    sketch side is ≤ |langs| rows (AQE broadcasts it); the flag is
    row-local — one bounded prune Exchange, no window over the
    corpus."""
    from ramen_spark.operators.sketch import quantile_sketch

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("n_chars").isNotNull()
    )
    q = quantile_sketch(
        docs.select("lang", "doc_id", F.col("n_chars").cast("double").alias("v")),
        ["lang"], "v", "doc_id", ps=[0.05, 0.95], k=32,
    ).select("lang", F.col("p5").alias("lo"), F.col("p95").alias("hi"))
    nd = F.col("n_chars").cast("double")
    return (
        docs.join(q, docs["lang"].eqNullSafe(q["lang"]))
        .select(
            "doc_id",
            docs["lang"].alias("lang"),
            "n_chars",
            "lo",
            "hi",
            ((nd >= F.col("lo")) & (nd <= F.col("hi"))).alias("keep"),
        )
    )


@register(
    "events_in_error_windows",
    """
    SELECT p.event_id   AS purchase_id,
           i.event_id   AS incident_id,
           epoch_us(p.ts) AS t_us,
           epoch_us(i.ts) AS lo_us
    FROM events p
    JOIN events i
      ON p.event_type = 'purchase' AND i.event_type = 'error'
     AND epoch_us(p.ts) BETWEEN epoch_us(i.ts) AND epoch_us(i.ts) + 600000000
    """,
)
def events_in_error_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operators.rangejoin.interval_join): which purchases
    landed inside the 10-minute window opened by each error event —
    the alerter's outage-attribution question asked relationally.
    Spark would plan the naive BETWEEN join as a nested-loop; the
    operator buckets time at the window width (each interval explodes
    to ≤ 2 buckets) and hash-joins on the bucket with a residual
    range filter — equi-join scale shape, identical result (the
    oracle IS the naive form, on DuckDB's IEJoin)."""
    from ramen_spark.operators.rangejoin import interval_join

    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    pts = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), us.alias("t_us")
    )
    ivs = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        us.alias("lo_us"),
        (us + 600_000_000).alias("hi_us"),
    )
    out = interval_join(pts, ivs, "t_us", "lo_us", "hi_us", bucket=600_000_000)
    return out.select("purchase_id", "incident_id", "t_us", "lo_us")


@register(
    "cms_token_counts",
    f"""
    WITH toks AS (
      SELECT unnest({_WORDS_SQL}) AS token FROM documents
    ),
    exact AS (
      SELECT token, count(*)::BIGINT AS exact_n FROM toks GROUP BY token
    ),
    probes AS (
      SELECT token, exact_n FROM exact
      ORDER BY exact_n DESC, token ASC LIMIT 15
    ),
    cells AS (
      SELECT d,
             ('0x' || substring(md5(CAST(d AS VARCHAR) || '#' || token), 1, 12))::BIGINT % 2048 AS col,
             count(*)::BIGINT AS cnt
      FROM toks, unnest([0, 1, 2, 3]) AS u(d)
      GROUP BY 1, 2
    ),
    fan AS (
      SELECT p.token, p.exact_n, u.d,
             ('0x' || substring(md5(CAST(u.d AS VARCHAR) || '#' || p.token), 1, 12))::BIGINT % 2048 AS col
      FROM probes p, unnest([0, 1, 2, 3]) AS u(d)
    )
    SELECT f.token, f.exact_n,
           CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_est
    FROM fan f LEFT JOIN cells c ON c.d = f.d AND c.col = f.col
    GROUP BY 1, 2
    """,
)
def cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (operators.sketch.count_min_build/lookup,
    depth=4 width=2048) over the corpus token stream, probed at the
    exact top-15 tokens — (token, exact_n, cms_est) with the CMS
    guarantee est ≥ exact. Deterministic md5 hash families make the
    sketch oracle-exact (Spark's native CountMinSketch aggregate has
    engine-private seeds). 100 TB shape: the shuffle is bounded at
    depth × width cells per map task no matter the token volume —
    the fixed-size mergeable summary a streaming frequency monitor
    persists."""
    from ramen_spark.operators.sketch import count_min_build, count_min_lookup

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(Tx.tokens(F.col("text"))).alias("token"))
    # ONE pass over the token stream: the exact per-token counts are
    # needed for the probe set anyway, and a CMS cell is a sum of
    # per-token counts — so the sketch builds from the counted
    # relation (weight_col), 4 md5s per DISTINCT token instead of per
    # occurrence (round 12; the round-11 form scanned toks twice and
    # hashed every occurrence — numbers in OPTIMIZATION_r12.md).
    # localCheckpoint: exact feeds both branches without recompute
    # (the tfidf/bloom precedent; eager job, inside the timed region).
    exact = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
        .localCheckpoint()
    )
    probes = exact.orderBy(
        F.col("exact_n").desc(), F.col("token").asc()
    ).limit(15)
    cms = count_min_build(
        exact, "token", depth=4, width=2048, weight_col="exact_n"
    )
    est = count_min_lookup(
        cms, probes.select("token"), "token", depth=4, width=2048
    )
    return probes.join(est, "token").select("token", "exact_n", "cms_est")


@register(
    "raql_sketch_aggregates",
    """
    WITH base AS (
      SELECT event_type, user_id FROM events WHERE user_id IS NOT NULL
    ),
    kmvh AS (
      SELECT DISTINCT event_type,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
      FROM base
    ),
    r AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM kmvh
    ),
    m AS (
      SELECT event_type, count(*)::BIGINT AS n_kept, max(h) AS kth_min
      FROM r WHERE rn <= 64 GROUP BY event_type
    ),
    kmv AS (
      SELECT event_type,
             CASE WHEN n_kept < 64 THEN n_kept
                  ELSE CAST(floor(CAST(63 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
                                  / CAST(kth_min AS DOUBLE)) AS BIGINT)
             END AS approx_users
      FROM m
    ),
    d AS (SELECT unnest([0, 1, 2, 3]) AS row),
    cells AS (
      SELECT event_type, row,
             (('0x' || substring(md5(CAST(row AS VARCHAR) || '#' || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT) % 2048 AS col,
             count(*)::BIGINT AS cnt
      FROM base CROSS JOIN d GROUP BY 1, 2, 3
    ),
    cand AS (SELECT DISTINCT event_type, user_id FROM base),
    fan AS (
      SELECT event_type, user_id, row,
             (('0x' || substring(md5(CAST(row AS VARCHAR) || '#' || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT) % 2048 AS col
      FROM cand CROSS JOIN d
    ),
    est AS (
      SELECT f.event_type, f.user_id, min(c.cnt) AS e
      FROM fan f JOIN cells c USING (event_type, row, col)
      GROUP BY 1, 2
    ),
    top AS (
      SELECT event_type,
             (list(user_id ORDER BY e DESC, user_id))[1:5] AS hot_users
      FROM est GROUP BY event_type
    ),
    cnt AS (
      SELECT event_type, count(*)::BIGINT AS n FROM events GROUP BY event_type
    )
    SELECT c.event_type, c.n,
           coalesce(k.approx_users, 0)::BIGINT AS approx_users,
           coalesce(t.hot_users, CAST([] AS BIGINT[])) AS hot_users
    FROM cnt c
    LEFT JOIN kmv k ON c.event_type IS NOT DISTINCT FROM k.event_type
    LEFT JOIN top t ON c.event_type IS NOT DISTINCT FROM t.event_type
    """,
)
def raql_sketch_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates spoken from the RaQL surface (plans.raql):
    ``KMV 64 DISTINCT user_id`` and ``CMS TOP 5 user_id`` as grouped
    select fields beside an ordinary COUNT — the dialect twin of
    operators.sketch (nearest reference rows: raql_expr.type
    Distinct/Top). The compiler rewrites each sketch field into its
    pruned branch (map-side bounded prefilter for KMV; fixed-keyspace
    cell relation for CMS) and joins back on the group key, so the
    language form carries the library form's 100 TB shape. The oracle
    replays both sketches naively in DuckDB over the same md5 hash
    space — value-exact, including the heavy-hitter tie order
    (estimate desc, user_id asc)."""
    from ramen_spark.plans.raql import compile_operation

    ev = _t(spark, sf_dir, "events")
    out = compile_operation(
        "SELECT event_type, COUNT(1) AS n, "
        "KMV 64 DISTINCT user_id AS approx_users, "
        "CMS TOP 5 user_id AS hot_users "
        "GROUP BY event_type",
        ev,
    )
    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        "approx_users",
        "hot_users",
    )


@register(
    "raql_cms_membership",
    """
    WITH base AS (
      SELECT event_type, user_id FROM events WHERE user_id IS NOT NULL
    ),
    d AS (SELECT unnest([0, 1, 2, 3]) AS row),
    cells AS (
      SELECT event_type, row,
             (('0x' || substring(md5(CAST(row AS VARCHAR) || '#' || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT) % 2048 AS col,
             count(*)::BIGINT AS cnt
      FROM base CROSS JOIN d GROUP BY 1, 2, 3
    ),
    cand AS (SELECT DISTINCT event_type, user_id FROM base),
    fan AS (
      SELECT event_type, user_id, row,
             (('0x' || substring(md5(CAST(row AS VARCHAR) || '#' || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT) % 2048 AS col
      FROM cand CROSS JOIN d
    ),
    est AS (
      SELECT f.event_type, f.user_id, min(c.cnt) AS e
      FROM fan f JOIN cells c USING (event_type, row, col)
      GROUP BY 1, 2
    ),
    top AS (
      SELECT event_type,
             (list(user_id ORDER BY e DESC, user_id))[1:3] AS hot_users
      FROM est GROUP BY event_type
    ),
    cnt AS (
      SELECT event_type, count(*)::BIGINT AS n FROM events GROUP BY event_type
    )
    SELECT c.event_type, c.n,
           coalesce(t.hot_users, CAST([] AS BIGINT[])) AS hot_users,
           coalesce(list_contains(coalesce(t.hot_users, CAST([] AS BIGINT[])), 42), false) AS u42_is_hot,
           CAST(nullif(list_position(coalesce(t.hot_users, CAST([] AS BIGINT[])), 42), 0) AS BIGINT) AS u42_rank,
           coalesce(list_contains(coalesce(t.hot_users, CAST([] AS BIGINT[])), 7), false) AS u7_is_hot,
           CAST(nullif(list_position(coalesce(t.hot_users, CAST([] AS BIGINT[])), 7), 0) AS BIGINT) AS u7_rank
    FROM cnt c
    LEFT JOIN top t ON c.event_type IS NOT DISTINCT FROM t.event_type
    """,
)
def raql_cms_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-backed membership/rank output kinds of CMS TOP,
    spoken from the dialect: ``IS 42 IN CMS TOP 3 user_id`` and
    ``RANK OF 42 IN CMS TOP 3 user_id`` beside the LIST kind — all
    three kinds of the reference's src/raql_top_output.type, now
    covered by the sketch form too (round-10 gap). The probed item is
    tested against the group's FINAL top list (one row per group), so
    it must be group-constant — the compiler rejects input-field
    probes toward the exact fold's per-row ``IS x IN TOP``. The
    oracle replays the CMS cells + candidate ranking naively in
    DuckDB over the same md5 hash space and probes with
    list_contains/list_position — value-exact including the NULL rank
    for a probe outside the list. Plan shape: ONE cms branch feeds
    all three kinds (the membership/rank columns are row-local
    lookups on the joined list), so the two extra output kinds add
    ZERO Exchanges."""
    from ramen_spark.plans.raql import compile_operation

    ev = _t(spark, sf_dir, "events")
    out = compile_operation(
        "SELECT event_type, COUNT(1) AS n, "
        "CMS TOP 3 user_id AS hot_users, "
        "IS 42 IN CMS TOP 3 user_id AS u42_is_hot, "
        "RANK OF 42 IN CMS TOP 3 user_id AS u42_rank, "
        "IS 7 IN CMS TOP 3 user_id AS u7_is_hot, "
        "RANK OF 7 IN CMS TOP 3 user_id AS u7_rank "
        "GROUP BY event_type",
        ev,
    )
    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        "hot_users",
        "u42_is_hot",
        F.col("u42_rank").cast("long").alias("u42_rank"),
        "u7_is_hot",
        F.col("u7_rank").cast("long").alias("u7_rank"),
    )


@register(
    "bloom_contamination_candidates",
    f"""
    WITH words AS ({{SHINGLES}}),
    post AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
      FROM words, unnest(generate_series(1, greatest(nw - 2, 0))) AS u(i)
    ),
    ev AS (SELECT DISTINCT s FROM post WHERE doc_id % 97 = 0),
    bitmap AS (
      SELECT pos >> 5 AS word,
             bit_or(1::BIGINT << CAST(pos & 31 AS INTEGER)) AS bits
      FROM (
        SELECT ((h >> 24) + i * ((h & 16777215) | 1)) % 262144 AS pos
        FROM (SELECT ('0x' || substring(md5(s), 1, 12))::BIGINT AS h FROM ev),
             unnest([0, 1, 2]) AS u(i)
      )
      GROUP BY 1
    ),
    tr AS (SELECT doc_id, s FROM post WHERE doc_id % 97 <> 0),
    trh AS (
      SELECT doc_id, s, ('0x' || substring(md5(s), 1, 12))::BIGINT AS h
      FROM tr
    ),
    fan AS (
      SELECT doc_id, s, u.i,
             ((h >> 24) + u.i * ((h & 16777215) | 1)) % 262144 AS pos
      FROM trh, unnest([0, 1, 2]) AS u(i)
    ),
    probed AS (
      SELECT f.doc_id, f.s,
             count(*) FILTER (
               WHERE (coalesce(b.bits, 0)
                      & (1::BIGINT << CAST(f.pos & 31 AS INTEGER))) <> 0
             ) AS n_set
      FROM fan f LEFT JOIN bitmap b ON b.word = f.pos >> 5
      GROUP BY 1, 2
    ),
    hits AS (
      SELECT doc_id, count(*) FILTER (WHERE n_set = 3)::BIGINT AS n_bloom_hits,
             count(*)::BIGINT AS n_shingles
      FROM probed GROUP BY doc_id
    )
    SELECT doc_id, n_shingles, n_bloom_hits
    FROM hits WHERE n_bloom_hits >= 1
    """,
)
def bloom_contamination_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered contamination candidates
    (operators.bloom): the eval split's distinct shingle set packed
    into a 2^18-bit deterministic Bloom bitmap (≤ 8 k words, 64 KB —
    broadcastable even when the exact shingle RELATION wouldn't be),
    train shingles pruned by k=3 broadcast bit probes, per-doc
    candidate counts. No false negatives: every exactly-contaminated
    doc appears (superset pinned by test + this oracle); false
    positives at the configured ≈(1-e^(-kn/m))^k rate get discarded
    by the exact join that follows in a real pipeline. The train side
    never shuffles to be pruned."""
    from ramen_spark.operators.bloom import bloom_build, bloom_might_contain

    M, K = 1 << 18, 3
    docs = _t(spark, sf_dir, "documents")

    def shingles(df: DataFrame) -> DataFrame:
        toks = df.select(
            "doc_id",
            F.split(Tx.normalized_text(F.col("text")), " ").alias("_toks"),
        )
        return toks.select(
            "doc_id",
            F.explode(Tx.word_shingles_of_tokens(F.col("_toks"), 3)).alias("s"),
        ).distinct()

    ev_s = shingles(docs.filter(F.col("doc_id") % 97 == 0)).select("s").distinct()
    # localCheckpoint: the bitmap subplan would otherwise re-execute
    # once per broadcast probe (k times). Same eager-job/lineage
    # tradeoff as tfidf_top_terms — at scale, persist the bitmap to
    # storage instead (it's the mergeable index artifact).
    bm = bloom_build(ev_s, "s", m_bits=M, k=K).localCheckpoint()
    # localCheckpoint: tr feeds BOTH the totals branch and the probe
    # branch — one distinct-shingle exchange instead of two (the
    # branches otherwise recompute it; wall-neutral at sf10 where the
    # probe dominates, but it halves the exchange volume); same
    # eager-job tradeoff note as the bitmap above
    tr = shingles(docs.filter(F.col("doc_id") % 97 != 0)).localCheckpoint()
    n_sh = tr.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )
    cand = bloom_might_contain(tr, "s", bm, M, K)
    hits = cand.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bloom_hits")
    )
    return (
        n_sh.join(hits, "doc_id")
        .filter(F.col("n_bloom_hits") >= 1)
        .select("doc_id", "n_shingles", "n_bloom_hits")
    )


ORACLES["bloom_contamination_candidates"] = ORACLES[
    "bloom_contamination_candidates"
].replace("{SHINGLES}", _SHINGLES_SQL)


@register(
    "bitext_margin_pairs",
    """
    WITH x AS (
      SELECT vec_id AS x_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE label = 0),
    y AS (
      SELECT vec_id AS y_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE label = 1),
    fwd_s AS (
      SELECT x_id, y_id,
             round(list_dot_product(x.v, y.v)
                   / (sqrt(list_dot_product(x.v, x.v))
                      * sqrt(list_dot_product(y.v, y.v))), 6) AS sim
      FROM x, y),
    fwd AS (
      SELECT x_id, y_id, sim,
             row_number() OVER (PARTITION BY x_id
                                ORDER BY sim DESC, y_id ASC) AS rank
      FROM fwd_s QUALIFY rank <= 4),
    bwd AS (
      SELECT y_id, sim,
             row_number() OVER (PARTITION BY y_id
                                ORDER BY sim DESC, x_id ASC) AS rank
      FROM fwd_s QUALIFY rank <= 4),
    ax AS (SELECT x_id, round(avg(sim), 6) AS avg_x FROM fwd GROUP BY x_id),
    ay AS (SELECT y_id, round(avg(sim), 6) AS avg_y FROM bwd GROUP BY y_id),
    best AS (SELECT x_id, y_id, sim FROM fwd WHERE rank = 1)
    SELECT b.x_id, b.y_id, b.sim, ax.avg_x, ay.avg_y,
           round(b.sim / ((ax.avg_x + ay.avg_y) / 2.0), 6) AS margin
    FROM best b JOIN ax USING (x_id) JOIN ay USING (y_id)
    """,
)
def bitext_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based pair mining (operators.similarity.margin_mining,
    k=4) between the label-0 and label-1 embedding populations — the
    CCMatrix/LASER ratio-margin criterion that normalizes raw cosine
    by each side's local kNN density (hubs score high on cosine but
    ~1.0 on margin). Brute engine here (the oracle baseline); the
    IVF/LSH/PQ tiers substitute for the kNN passes at corpus scale."""
    emb = _t(spark, sf_dir, "embeddings")
    return Sim.margin_mining(
        emb.filter(F.col("label") == 0), emb.filter(F.col("label") == 1), k=4
    )


@register(
    "error_window_purchase_stats",
    """
    SELECT i.event_id AS incident_id,
           count(*)::BIGINT AS n_purchases,
           round(sum(p.value), 6) AS sum_value
    FROM events p
    JOIN events i
      ON p.event_type = 'purchase' AND i.event_type = 'error'
     AND epoch_us(p.ts) BETWEEN epoch_us(i.ts) AND epoch_us(i.ts) + 600000000
    GROUP BY i.event_id
    """,
)
def error_window_purchase_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The aggregated form of events_in_error_windows — per-incident
    purchase count + revenue inside the 10-minute window. This is
    what a pipeline actually materializes (the raw pair set is an
    intermediate). Round 13 (VERDICT r12 #5): the bucketed equi-join
    — which still evaluated every candidate (purchase, incident) pair
    before the partial aggregate, ~1e9 residual checks at the 100×
    tier — is replaced by interval_count_sum's two prefix scans:
    n = prefix(hi) − prefix(lo−1) per incident, with the value sums
    carried in DECIMAL(38,18) so the prefix difference is exact (no
    double cancellation) and the rounded result stays hash-identical
    to the oracle's per-window double sum. Inner-join parity: only
    incidents containing ≥1 purchase are emitted."""
    from ramen_spark.operators.rangejoin import interval_count_sum

    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    pts = ev.filter(F.col("event_type") == "purchase").select(
        us.alias("t_us"), F.col("value").alias("p_value")
    )
    ivs = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        us.alias("lo_us"),
        (us + 600_000_000).alias("hi_us"),
    )
    stats = interval_count_sum(
        pts, ivs, "t_us", "lo_us", "hi_us", "incident_id", "p_value",
        bucket=600_000_000,
    )
    return stats.filter(F.col("n_points") > 0).select(
        "incident_id",
        F.col("n_points").alias("n_purchases"),
        F.round(F.col("sum_val"), 6).cast("double").alias("sum_value"),
    )


@register(
    "token_budget_select",
    f"""
    WITH q AS ({{QUALITY}}),
    scored AS (
      SELECT d.doc_id, d.lang,
             len({_WORDS_SQL}) AS n_tokens,
             CAST(round(q.quality * 1000000, 0) AS BIGINT) AS q_micro
      FROM documents d JOIN q USING (doc_id)
    ),
    o AS (
      SELECT *,
             sum(n_tokens) OVER (ORDER BY q_micro DESC, doc_id ASC
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM scored
    )
    SELECT doc_id, lang, n_tokens, q_micro
    FROM o WHERE cum <= 12000
    """,
)
def token_budget_select_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget prefix selection
    (operators.sampling.token_budget_select, budget = 12 000 tokens):
    keep the best documents by (quality micro-score desc, doc_id asc)
    until the budget is exhausted — the final cut of a training-mix
    recipe. The oracle is the naive global cumsum window; the
    operator computes the identical prefix through two BOUNDED
    prefix levels (per-score totals, then per-id-range totals inside
    the single boundary score) so no task ever sees more than the
    score domain / id_range rows — a global ordered selection with
    no global sort."""
    from ramen_spark.operators.sampling import token_budget_select

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        Tx.token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.round(Tx.quality_score(F.col("text")) * 1000000.0, 0)
        .cast("bigint")
        .alias("q_micro"),
    )
    return token_budget_select(scored, budget=12000).select(
        "doc_id", "lang", "n_tokens", "q_micro"
    )


ORACLES["token_budget_select"] = ORACLES["token_budget_select"].replace(
    "{QUALITY}", ORACLES["quality_scores"]
)


@register(
    "token_budget_per_lang",
    f"""
    WITH q AS ({{QUALITY}}),
    scored AS (
      SELECT d.doc_id, d.lang,
             len({_WORDS_SQL}) AS n_tokens,
             CAST(round(q.quality * 1000000, 0) AS BIGINT) AS q_micro
      FROM documents d JOIN q USING (doc_id)
    ),
    o AS (
      SELECT *,
             sum(n_tokens) OVER (PARTITION BY lang
                                 ORDER BY q_micro DESC, doc_id ASC
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM scored
    )
    SELECT doc_id, lang, n_tokens, q_micro
    FROM o WHERE cum <= 3000
    """,
)
def token_budget_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP token budgets (round-10b `keys` parameter of
    operators.sampling.token_budget_select): the same
    best-until-exhausted cut applied independently per language — the
    "N tokens per language" allocation a multilingual mixture recipe
    specifies directly (the temperature_mix quota rule's hard-budget
    cousin). Oracle = the naive PARTITION BY cumsum window; the
    operator runs the identical two bounded prefix levels with every
    level keyed, so a 90%-hot language still never funnels its raw
    rows through one task."""
    from ramen_spark.operators.sampling import token_budget_select

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        Tx.token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.round(Tx.quality_score(F.col("text")) * 1000000.0, 0)
        .cast("bigint")
        .alias("q_micro"),
    )
    return token_budget_select(scored, budget=3000, keys=["lang"]).select(
        "doc_id", "lang", "n_tokens", "q_micro"
    )


ORACLES["token_budget_per_lang"] = ORACLES["token_budget_per_lang"].replace(
    "{QUALITY}", ORACLES["quality_scores"]
)


_CMS_COL_SQL = (
    "(('0x' || substring(md5(CAST(row AS VARCHAR) || '#' || "
    "CAST(user_id AS VARCHAR)), 1, 12))::BIGINT) % 2048"
)


@register(
    "cms_topk_drift",
    f"""
    WITH d AS (SELECT unnest([0, 1, 2, 3]) AS row),
    a AS (
      SELECT event_type, user_id FROM events
      WHERE user_id IS NOT NULL AND user_id % 3 <> 0
    ),
    b AS (
      SELECT event_type, user_id FROM events WHERE user_id IS NOT NULL
    ),
    cells_a AS (
      SELECT event_type, row, {_CMS_COL_SQL} AS col, count(*)::BIGINT AS cnt
      FROM a CROSS JOIN d GROUP BY 1, 2, 3
    ),
    cells_b AS (
      SELECT event_type, row, {_CMS_COL_SQL} AS col, count(*)::BIGINT AS cnt
      FROM b CROSS JOIN d GROUP BY 1, 2, 3
    ),
    fan_a AS (
      SELECT event_type, user_id, row, {_CMS_COL_SQL} AS col
      FROM (SELECT DISTINCT event_type, user_id FROM a) CROSS JOIN d
    ),
    fan_b AS (
      SELECT event_type, user_id, row, {_CMS_COL_SQL} AS col
      FROM (SELECT DISTINCT event_type, user_id FROM b) CROSS JOIN d
    ),
    sest_a AS (
      SELECT f.event_type, f.user_id, min(coalesce(c.cnt, 0)) AS e
      FROM fan_a f LEFT JOIN cells_a c USING (event_type, row, col)
      GROUP BY 1, 2
    ),
    sest_b AS (
      SELECT f.event_type, f.user_id, min(coalesce(c.cnt, 0)) AS e
      FROM fan_b f LEFT JOIN cells_b c USING (event_type, row, col)
      GROUP BY 1, 2
    ),
    top_a AS (
      SELECT event_type, user_id, rank_a FROM (
        SELECT event_type, user_id,
               row_number() OVER (
                 PARTITION BY event_type ORDER BY e DESC, user_id ASC
               )::BIGINT AS rank_a
        FROM sest_a
      ) WHERE rank_a <= 5
    ),
    top_b AS (
      SELECT event_type, user_id, rank_b FROM (
        SELECT event_type, user_id,
               row_number() OVER (
                 PARTITION BY event_type ORDER BY e DESC, user_id ASC
               )::BIGINT AS rank_b
        FROM sest_b
      ) WHERE rank_b <= 5
    ),
    u AS (
      SELECT event_type, user_id FROM top_a
      UNION
      SELECT event_type, user_id FROM top_b
    ),
    ufan AS (
      SELECT event_type, user_id, row, {_CMS_COL_SQL} AS col
      FROM u CROSS JOIN d
    ),
    uest_a AS (
      SELECT f.event_type, f.user_id, min(coalesce(c.cnt, 0))::BIGINT AS est_a
      FROM ufan f LEFT JOIN cells_a c USING (event_type, row, col)
      GROUP BY 1, 2
    ),
    uest_b AS (
      SELECT f.event_type, f.user_id, min(coalesce(c.cnt, 0))::BIGINT AS est_b
      FROM ufan f LEFT JOIN cells_b c USING (event_type, row, col)
      GROUP BY 1, 2
    )
    SELECT ea.event_type, ea.user_id AS value, ea.est_a, eb.est_b,
           (eb.est_b - ea.est_a)::BIGINT AS weight_delta,
           ta.rank_a, tb.rank_b,
           (tb.rank_b IS NOT NULL AND ta.rank_a IS NULL) AS top_entered,
           (ta.rank_a IS NOT NULL AND tb.rank_b IS NULL) AS top_left
    FROM uest_a ea
    JOIN uest_b eb
      ON ea.event_type IS NOT DISTINCT FROM eb.event_type
     AND ea.user_id = eb.user_id
    LEFT JOIN top_a ta
      ON ea.event_type IS NOT DISTINCT FROM ta.event_type
     AND ea.user_id = ta.user_id
    LEFT JOIN top_b tb
      ON ea.event_type IS NOT DISTINCT FROM tb.event_type
     AND ea.user_id = tb.user_id
    """,
)
def cms_topk_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter churn between two corpus snapshots, computed from
    their CMS-top sketch states (operators.sketch.cms_drift — round-11
    agenda #4, the third drift family beside sketch_drift's
    percentiles + KMV): snapshot A = events with user_id % 3 ≠ 0,
    snapshot B = the full stream; per event_type, which users
    entered/left the top-5 and by how much each estimate moved. The
    batch builders stand in for the persisted IncrementalCmsTop state
    pair here (candidates = all distinct values, the m ≥ distinct
    regime the oracle pins); at deployment both states are already on
    disk and NEITHER corpus is re-read. The oracle replays the full
    md5 cell algebra on both sides, so the comparison is value-exact
    including any cell collisions."""
    from ramen_spark.operators.sketch import (
        cms_build_keyed_counted,
        cms_drift,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    a = ev.filter(F.col("user_id") % 3 != 0)
    b = ev
    keys, depth, width = ["event_type"], 4, 2048

    def state(side: DataFrame):
        # cells + candidates from ONE distinct-(key, value) aggregate
        # (round 12): the two consumers share the Exchange and the
        # cell build hashes per DISTINCT user, not per event — cell
        # values identical (integer regrouping)
        counted = (
            side.groupBy(*keys, F.col("user_id").alias("_v"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
            .localCheckpoint()
        )
        cells = cms_build_keyed_counted(
            counted, keys, "_v", "_n", depth, width
        )
        cands = counted.select(*keys, "_v")
        return cells, cands

    ca, na = state(a)
    cb, nb = state(b)
    return cms_drift(ca, na, cb, nb, keys, n=5, depth=depth, width=width)


_PACK_RECURSION = """
      SELECT shard, rn, doc_id, n_tok, 0::BIGINT AS pack_seq, n_tok AS cum
      FROM {t} WHERE rn = 1
      UNION ALL
      SELECT t.shard, t.rn, t.doc_id, t.n_tok,
             CASE WHEN {r}.cum + t.n_tok > 512
                  THEN {r}.pack_seq + 1 ELSE {r}.pack_seq END,
             CASE WHEN {r}.cum + t.n_tok > 512
                  THEN t.n_tok ELSE {r}.cum + t.n_tok END
      FROM {r} JOIN {t} t ON t.shard = {r}.shard AND t.rn = {r}.rn + 1
"""

_NETSTRING3_SQL = (
    "CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) || ':' "
    "|| CAST(doc_id AS VARCHAR) || "
    "CAST(length(CAST(n_tok AS VARCHAR)) AS VARCHAR) || ':' "
    "|| CAST(n_tok AS VARCHAR) || "
    "CAST(length(CAST(pack_seq AS VARCHAR)) AS VARCHAR) || ':' "
    "|| CAST(pack_seq AS VARCHAR)"
)


@register(
    "chunked_packing",
    f"""
    WITH RECURSIVE
    w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    dt AS (
      SELECT doc_id, (doc_id % 8)::INT AS shard, len(w) AS n_tok,
             row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id)
               AS rn
      FROM w
    ),
    r_docs AS ({_PACK_RECURSION.format(t="dt", r="r_docs")}),
    ch AS (
      SELECT doc_id * 1023 + g.i AS doc_id,
             len(w[g.i * 256 + 1 : g.i * 256 + 256]) AS n_tok
      FROM w,
           unnest(generate_series(
             0, greatest((len(w) + 255) // 256, 1) - 1)) AS g(i)
    ),
    ct AS (
      SELECT doc_id, (doc_id % 8)::INT AS shard, n_tok,
             row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id)
               AS rn
      FROM ch
    ),
    r_ch AS ({_PACK_RECURSION.format(t="ct", r="r_ch")}),
    u AS (
      SELECT 'docs' AS scenario, shard, doc_id, n_tok, pack_seq FROM r_docs
      UNION ALL
      SELECT 'chunked', shard, doc_id, n_tok, pack_seq FROM r_ch
    ),
    packs AS (
      SELECT scenario, shard, pack_seq, sum(n_tok) AS toks
      FROM u GROUP BY 1, 2, 3
    ),
    padsh AS (
      SELECT scenario, shard, count(*)::BIGINT AS n_packs,
             sum(greatest(512 - toks, 0))::BIGINT AS total_pad,
             count_if(toks > 512)::BIGINT AS n_oversize
      FROM packs GROUP BY 1, 2
    ),
    mansh AS (
      SELECT scenario, shard, count(*)::BIGINT AS n_rows,
             CAST(sum(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                        1, 12))::BIGINT)
                  % 2305843009213693951 AS BIGINT) AS content_sum,
             CAST(sum(('0x' || substring(md5({_NETSTRING3_SQL}),
                        1, 12))::BIGINT)
                  % 2305843009213693951 AS BIGINT) AS payload_sum
      FROM u GROUP BY 1, 2
    )
    SELECT m.scenario, m.shard, m.n_rows, m.content_sum, m.payload_sum,
           p.n_packs, p.total_pad, p.n_oversize
    FROM mansh m JOIN padsh p USING (scenario, shard)
    """,
)
def chunked_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunk→pack→export-manifest seam (round-11 agenda #5) —
    three green operators composed end-to-end: long documents split
    into DISJOINT 256-token chunks (doc_chunks' slicing with stride =
    window; overlap would double-train tokens), chunks greedily packed
    into 512-token training rows (operators.packing.pack_sequences),
    and the per-shard EXPORT MANIFEST sums over the packed relation
    (sources/export._shard_stats) — beside the same pipeline WITHOUT
    chunking on the same corpus. Output per (scenario, shard):
    manifest rows (n_rows, content_sum, payload_sum) + pad accounting
    (n_packs, total_pad, n_oversize). Chunking's point is visible in
    the numbers: n_oversize drops to 0 (no doc longer than the budget
    survives as an oversize singleton pack) at a small total_pad
    price. Chunk ids pack as doc_id·1023 + idx — the multiplier is
    ODD on purpose: a power-of-two multiplier makes chunk_id mod
    n_shards collapse to idx mod n_shards, funneling every
    single-chunk doc into ONE pack shard (measured: 8 shards → 1);
    with 1023 the shard varies with the doc again. A LOUD guard fires
    at 1023 chunks (≥ 256Ki-token docs need a wider id scheme — the
    assert rides a CASE with differing branches so Catalyst keeps
    it). The oracle replays the ENTIRE chain — chunk slicing, both
    greedy recursions, manifest algebra — value-exactly."""
    from ramen_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    w = docs.select("doc_id", Tx.tokens(F.col("text")).alias("w"))
    n_chunks = F.greatest(
        F.floor((F.size("w") + F.lit(255)) / F.lit(256)).cast("long"),
        F.lit(1),
    )
    chunks = w.select(
        "doc_id", "w",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("_i"),
    )
    guarded_idx = F.when(
        F.assert_true(
            F.col("_i") < 1023,
            "chunked_packing: >=1023 chunks in one doc — widen the "
            "chunk-id scheme",
        ).isNotNull(),
        F.lit(None).cast("long"),
    ).otherwise(F.col("_i"))
    chunk_rel = chunks.select(
        (F.col("doc_id") * 1023 + guarded_idx).alias("doc_id"),
        F.array_join(
            F.slice(F.col("w"), F.col("_i") * 256 + 1, 256), " "
        ).alias("text"),
    )

    def report(packed: DataFrame, scenario: str) -> DataFrame:
        # ONE two-level aggregation per scenario: manifest sums and
        # pad accounting both fold in the same pass over the packed
        # relation — a separate _shard_stats + pad branch re-executes
        # the Arrow pack fold (no subtree sharing), doubling the
        # pipeline at 100 TB (the plan gate pins exactly one fold per
        # scenario). The md5 content sums are COMMUTATIVE partial
        # sums, so pack-grain partials combine per shard exactly
        # (sum of partials ≡ total, then one mod — the
        # export._hash48_sum algebra, staged).
        from ramen_spark.sources.export import _MERSENNE61, _row_repr

        def h48(expr) -> Column:
            return F.conv(
                F.substring(F.md5(expr), 1, 12), 16, 10
            ).cast("decimal(38,0)")

        payload = _row_repr(packed, sorted(
            c for c in packed.columns if c != "shard"
        ))
        per_pack = packed.groupBy("shard", "pack_seq").agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.sum(h48(F.col("doc_id").cast("string"))).alias("_hc"),
            F.sum(h48(payload)).alias("_hp"),
            F.sum("n_tok").alias("_toks"),
        )
        prime = F.lit(_MERSENNE61).cast("decimal(38,0)")
        return per_pack.groupBy("shard").agg(
            F.sum("_cnt").cast("long").alias("n_rows"),
            F.pmod(F.sum("_hc"), prime).cast("long").alias("content_sum"),
            F.pmod(F.sum("_hp"), prime).cast("long").alias("payload_sum"),
            F.count(F.lit(1)).cast("long").alias("n_packs"),
            F.sum(F.greatest(F.lit(512) - F.col("_toks"), F.lit(0)))
            .cast("long").alias("total_pad"),
            F.sum(F.when(F.col("_toks") > 512, 1).otherwise(0))
            .cast("long").alias("n_oversize"),
        ).select(
            F.lit(scenario).alias("scenario"),
            "shard", "n_rows", "content_sum", "payload_sum",
            "n_packs", "total_pad", "n_oversize",
        )

    packed_docs = pack_sequences(docs, budget=512, shards=8, order="id")
    packed_ch = pack_sequences(chunk_rel, budget=512, shards=8, order="id")
    return report(packed_docs, "docs").unionByName(
        report(packed_ch, "chunked")
    )
