"""OLAP extensions beyond the reference's operator set (SURVEY.md §2.4
notes grouping sets / cube / rollup / pivots as absent there): ROLLUP,
CUBE, pivot, exact percentiles, and the as-of join — the interactive-
analytics surface a Superset-style consumer (reference entry point 3,
SURVEY.md §3.3) would expect from the engine.

All are single-shuffle Catalyst plans: ROLLUP/CUBE expand grouping sets
inside one Expand+HashAggregate (partial aggregation still applies);
pivot with an explicit value list is one aggregate with conditional
aggregation (no extra distinct-values scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from covid_data_pipeline_spark.functions.scalar import round_stable
from covid_data_pipeline_spark.harness.registry import register, table
from covid_data_pipeline_spark.operators.asof import asof_join
from covid_data_pipeline_spark.operators.scale import salted_sum

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


# Memoized per sf_dir: the part dimension's metadata row count, used as
# the size-gate bound for the per-part count broadcasts below. A parquet
# footer count is cheap but not free — benched queries run it 4x a bench
# otherwise (the pretrained-ANN-twin memoization pattern).
# Invalidation assumption (r6 ADVICE): the cache is keyed on the path
# for the PROCESS lifetime, which is sound because the driver/bench
# testdata is static; a tool that regenerates parquet under the same
# path in-process must clear this dict (or the stale bound mis-gates
# the broadcast decision).
_N_PARTS_CACHE: dict[str, int] = {}


def _n_parts(spark: SparkSession, sf_dir: str) -> int:
    if sf_dir not in _N_PARTS_CACHE:
        _N_PARTS_CACHE[sf_dir] = table(spark, sf_dir, "part").count()
    return _N_PARTS_CACHE[sf_dir]


@register(
    "rollup_lineitem",
    """
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS sum_price,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    tags=("olap", "rollup"),
    bench=True,
)
def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        # Decimal: grand-total rows sum every lineitem — double order
        # noise could penny-flip the 2dp round (see queries_tpch.py).
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_price"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "cube_orders",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS cnt,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    tags=("olap", "cube"),
)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_price"),
    )


@register(
    "grouping_sets_orders",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
    tags=("olap", "grouping-sets"),
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form under rollup/cube) — one
    Expand + single hash aggregate, identical SQL on both engines."""
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


@register(
    "events_funnel",
    """
    WITH stage_ts AS (
      SELECT user_id,
             MIN(ts) FILTER (event_type = 'view') AS t_view,
             MIN(ts) FILTER (event_type = 'click') AS t_click,
             MIN(ts) FILTER (event_type = 'purchase') AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) FILTER (t_view IS NOT NULL) AS viewed,
           COUNT(*) FILTER (t_click > t_view) AS clicked_after_view,
           COUNT(*) FILTER (t_purchase > t_click AND t_click > t_view)
             AS purchased_after_click
    FROM stage_ts
    """,
    tags=("events", "funnel"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel (view → click → purchase ordered by first
    occurrence per user) — one aggregation pass producing per-stage
    earliest timestamps, then ordered-stage counts. No self-joins: the
    per-user pivot keeps it a single shuffle at any event volume."""
    e = table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    stage = e.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    return stage.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("viewed"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias(
            "clicked_after_view"
        ),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("purchased_after_click"),
    )


@register(
    "pivot_event_type",
    f"""
    SELECT CAST(ts AS DATE) AS event_date,
           {", ".join(f"COUNT(*) FILTER (event_type = '{t}') AS {t}_cnt" for t in EVENT_TYPES)}
    FROM events
    GROUP BY CAST(ts AS DATE)
    """,
    tags=("olap", "pivot"),
    bench=True,
)
def pivot_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    out = (
        e.groupBy(F.to_date("ts").alias("event_date"))
        # Explicit value list: ONE aggregate, no hidden distinct-values
        # job; unseen types still get a (zero) column deterministically.
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    for t in EVENT_TYPES:
        out = out.withColumnRenamed(t, f"{t}_cnt").withColumn(
            f"{t}_cnt", F.coalesce(F.col(f"{t}_cnt"), F.lit(0))
        )
    return out


@register(
    "distinct_exact_and_percentiles",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS users_exact,
           ROUND(quantile_cont(value, 0.5), 2) AS p50,
           ROUND(quantile_cont(value, 0.95), 2) AS p95
    FROM events
    GROUP BY event_type
    """,
    tags=("olap", "distinct", "percentile"),
)
def distinct_exact_and_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct + exact interpolated percentiles (the oracle-checkable
    side; `approx_count_distinct`'s HLL sketch is asserted within tolerance
    of this in pytest — a sketch can't hash-match a different engine)."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("users_exact"),
        F.round(F.percentile("value", F.lit(0.5)), 2).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 2).alias("p95"),
    )


@register(
    "dq_report_orders",
    """
    WITH t AS (SELECT COUNT(*) AS total FROM orders)
    SELECT 'not_null(o_custkey)' AS rule,
           (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS violations,
           total FROM t
    UNION ALL
    SELECT 'in_range(o_totalprice)',
           (SELECT COUNT(*) FROM orders
            WHERE o_totalprice IS NOT NULL AND NOT (o_totalprice >= 0)),
           total FROM t
    UNION ALL
    SELECT 'in_set(o_orderstatus)',
           (SELECT COUNT(*) FROM orders
            WHERE o_orderstatus IS NOT NULL
              AND o_orderstatus NOT IN ('F', 'O', 'P')),
           total FROM t
    """,
    tags=("quality", "P7"),
)
def dq_report_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative DQ rules in one aggregation pass (P7 generalized)."""
    from covid_data_pipeline_spark.operators.quality import (
        dq_report,
        in_range,
        in_set,
        not_null,
    )

    o = table(spark, sf_dir, "orders")
    report = dq_report(
        o,
        [
            not_null("o_custkey"),
            in_range("o_totalprice", lo=0),
            in_set("o_orderstatus", ("F", "O", "P")),
        ],
    )
    return report.select("rule", "violations", "total")


@register(
    "string_functions",
    """
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           substr(p_name, 1, 4) AS name_prefix,
           replace(p_name, ' ', '_') AS name_snake,
           length(p_name) AS name_len,
           split_part(p_name, ' ', 2) AS second_word,
           levenshtein(p_brand, p_type) AS brand_type_dist,
           concat(p_brand, ':', p_type) AS brand_type
    FROM part
    """,
    tags=("functions", "string"),
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family (beyond the reference's F9 upper/trim/concat
    — SURVEY.md §2.8 notes no regex-replace/split/substring there)."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 4).alias("name_prefix"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.length("p_name").alias("name_len"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("second_word"),
        F.levenshtein("p_brand", "p_type").alias("brand_type_dist"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
    )


@register(
    "array_functions",
    """
    SELECT p_partkey,
           array_to_string(list_sort(string_split(p_name, ' ')), ',')
             AS words_sorted,
           len(string_split(p_name, ' ')) AS n_words,
           list_contains(string_split(p_name, ' '), 'red') AS has_red,
           array_to_string(list_reverse(list_sort(string_split(p_name, ' '))), '|')
             AS words_desc
    FROM part
    """,
    tags=("functions", "array"),
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function family (absent in the reference; first-class here —
    the embedding/shingle operators are built on these). The array ops
    (split/sort/reverse/contains) all run AS arrays; the sorted list is
    serialized with array_join at the query boundary only, because the
    driver's pandas canonicalizer cannot hash top-level ArrayType cells
    (r4's one red CORRECTNESS row)."""
    p = table(spark, sf_dir, "part")
    words = F.split(F.col("p_name"), " ")
    return p.select(
        "p_partkey",
        F.array_join(F.array_sort(words), ",").alias("words_sorted"),
        F.size(words).alias("n_words"),
        F.array_contains(words, "red").alias("has_red"),
        F.array_join(F.reverse(F.array_sort(words)), "|").alias("words_desc"),
    )


@register(
    "date_math_functions",
    """
    SELECT l_orderkey, l_linenumber,
           date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
             AS ship_delay_days,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
           strftime(o_orderdate, '%Y-%m') AS order_month,
           CAST(date_trunc('quarter', o_orderdate) AS DATE) AS order_quarter
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
    tags=("functions", "F16", "date-math"),
)
def date_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic family (SURVEY.md §2.8 F16 — driver-side in the
    reference, in-engine here): datediff, date_add, date_format,
    date_trunc. Dialect notes in the oracle: DuckDB strftime ↔ Spark
    date_format; ``+ INTERVAL`` ↔ date_add."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    return j.select(
        "l_orderkey",
        "l_linenumber",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "ship_delay_days"
        ),
        F.date_add(F.to_date("o_orderdate"), 30).alias("due_date"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.date_trunc("quarter", "o_orderdate").cast("date").alias("order_quarter"),
    )


@register(
    "window_rank_functions",
    """
    SELECT o_custkey, o_orderkey, rnk, drnk, tile,
           ROUND(next_price, 2) AS next_price
    FROM (
      SELECT o_custkey, o_orderkey,
             RANK() OVER w AS rnk,
             DENSE_RANK() OVER w AS drnk,
             NTILE(4) OVER w AS tile,
             LEAD(o_totalprice) OVER w AS next_price
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey)
    )
    WHERE rnk <= 3
    """,
    tags=("window", "ranking"),
)
def window_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/lead window family (SURVEY.md §2.5 notes these absent in
    the reference; engine-native here). Unique ORDER BY tiebreaker keeps
    the result engine-stable."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("tile"),
            F.lead("o_totalprice").over(w).alias("next_price"),
        )
        .filter(F.col("rnk") <= 3)
        .withColumn("next_price", F.round("next_price", 2))
    )


_PRICING_SUMMARY_SQL = """
    SELECT l_returnflag,
           l_linestatus,
           SUM(l_quantity) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                AS DOUBLE) AS sum_disc_price,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
"""


@register(
    "sql_pricing_summary",
    _PRICING_SUMMARY_SQL,
    tags=("S3", "sql-surface", "A1"),
    bench=True,
)
def sql_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-string entry point (SURVEY.md §2.1 S3 — the reference's mart is
    its one SQL-string query into Spark): the identical ANSI text runs on
    Spark's SQL surface over temp views and on DuckDB as the oracle —
    dialect-portability check for the engine's interactive/Thrift surface
    (SURVEY.md §3.3)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_PRICING_SUMMARY_SQL)


@register(
    "set_intersect_nations",
    """
    SELECT n.n_name FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
    INTERSECT
    SELECT n.n_name FROM nation n JOIN supplier s ON s.s_nationkey = n.n_nationkey
    """,
    tags=("setops", "intersect"),
)
def set_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops (SURVEY.md §2.7 — absent in the reference, engine-native
    here): nations having BOTH customers and suppliers."""
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    cust_nations = n.join(c, c.c_nationkey == n.n_nationkey).select("n_name")
    supp_nations = n.join(s, s.s_nationkey == n.n_nationkey).select("n_name")
    return cust_nations.intersect(supp_nations)


@register(
    "set_except_customers",
    """
    SELECT o_custkey FROM orders
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_totalprice > 200000
    """,
    tags=("setops", "except"),
)
def set_except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers who ordered but never above 200k — EXCEPT with distinct
    semantics (``subtract``; exceptAll+distinct would wrongly keep a
    customer whose multiset difference is non-empty)."""
    o = table(spark, sf_dir, "orders")
    all_cust = o.select("o_custkey")
    big_cust = o.filter(F.col("o_totalprice") > 200000).select("o_custkey")
    return all_cust.subtract(big_cust)


@register(
    "agg_salted_skewproof",
    """
    SELECT l_returnflag,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS sum_price,
           SUM(l_quantity) AS sum_qty,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("scale", "skew", "A1"),
)
def agg_salted_skewproof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation — must be value-identical to the
    plain GROUP BY (the oracle), while spreading any hot key over 16
    tasks. l_returnflag has only 3 values, i.e. maximal key skew."""
    li = table(spark, sf_dir, "lineitem")
    out = salted_sum(
        li.select(
            "l_returnflag",
            F.col("l_extendedprice").cast("decimal(18,4)").alias("l_extendedprice"),
            "l_quantity",
        ),
        keys=["l_returnflag"],
        sum_cols=["l_extendedprice", "l_quantity"],
        num_salts=16,
        count_col="cnt",
    )
    return out.select(
        "l_returnflag",
        F.round("l_extendedprice", 2).cast("double").alias("sum_price"),
        F.col("l_quantity").alias("sum_qty"),
        "cnt",
    )


@register(
    "asof_join_clicks_purchases",
    """
    SELECT c.user_id, c.ts, c.event_id, c.value,
           p.value AS purchase_value
    FROM (SELECT user_id, ts, event_id, value FROM events
          WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                    WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    tags=("olap", "asof-join"),
    bench=True,
)
def asof_join_clicks_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click enriched with the user's most recent prior purchase
    value — the canonical as-of shape, checked against DuckDB's native
    ASOF JOIN."""
    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    return asof_join(
        clicks, purchases, on="ts", by=["user_id"], value_cols=["purchase_value"]
    )


@register(
    "top_n_global",
    """
    SELECT event_id, user_id, ROUND(value, 2) AS value
    FROM events
    ORDER BY value DESC, event_id
    LIMIT 100
    """,
    tags=("olap", "topn"),
)
def top_n_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT. Spark plans TakeOrderedAndProject: each
    partition keeps its local top-100, the driver merges k*partitions
    rows — no range-exchange full sort ever materializes, which is the
    difference between O(n log n) shuffle and O(n) scan at 100 TB.
    Deterministic tiebreak on event_id."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.select("event_id", "user_id", F.round("value", 2).alias("value"))
        .orderBy(F.col("value").desc(), F.col("event_id"))
        .limit(100)
    )


@register(
    "histogram_prices",
    """
    SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bucket,
           COUNT(*) AS orders_cnt,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS price_sum
    FROM orders
    GROUP BY 1
    """,
    tags=("olap", "histogram"),
)
def histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram by floor-division binning — engine-portable
    (no width_bucket dependency) and a single partial+final aggregate;
    the shuffle carries one row per bucket per task."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.floor(F.col("o_totalprice") / 25000.0).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("orders_cnt"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("price_sum"),
        )
    )


@register(
    "above_avg_balance",
    """
    SELECT c.c_custkey, c.c_nationkey, ROUND(c.c_acctbal, 2) + 0 AS acctbal
    FROM customer c
    WHERE c.c_acctbal > (
      SELECT AVG(c2.c_acctbal) FROM customer c2
      WHERE c2.c_nationkey = c.c_nationkey
    )
    """,
    tags=("olap", "subquery"),
)
def above_avg_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery, decorrelated the way Catalyst would:
    one window AVG over the correlation key replaces the per-row
    subquery — a single shuffle on c_nationkey instead of a rescan per
    row. (AVG feeds only a > comparison, so double noise cannot flip
    row membership here; outputs are rounded.)"""
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey")
    return (
        c.withColumn("_nation_avg", F.avg("c_acctbal").over(w))
        .filter(F.col("c_acctbal") > F.col("_nation_avg"))
        .select("c_custkey", "c_nationkey", round_stable("c_acctbal", 2).alias("acctbal"))
    )


@register(
    "unpivot_returnflag_metrics",
    """
    WITH agg AS (
      SELECT l_returnflag,
        CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
          AS sum_qty,
        CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE)
          AS sum_price,
        ROUND(AVG(l_discount), 4) AS avg_disc
      FROM lineitem GROUP BY 1
    )
    UNPIVOT agg ON sum_qty, sum_price, avg_disc INTO NAME metric VALUE value
    """,
    tags=("olap", "unpivot"),
)
def unpivot_returnflag_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt (inverse of pivot_event_type): Spark's native
    ``unpivot`` is a zero-shuffle executor-side expand over the already-
    aggregated wide relation — the shuffle happened once in the groupBy;
    the melt multiplies rows locally. Money sums in DECIMAL(18,4) so the
    melted doubles are partitioning-independent."""
    li = table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
    )
    return agg.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "avg_disc"], "metric", "value"
    )


@register(
    "approx_sketch_stats",
    None,
    tags=("olap", "approx", "sketch"),
    rows_only_reason=(
        "HLL/KLL sketch estimates cannot hash-match a different "
        "engine's sketch implementation; tests/test_olap.py bounds "
        "them against the exact values (rel. error < 5%)"
    ),
)
def approx_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the 100 TB path where exact distinct/quantile
    shuffles every value: approx_count_distinct (HyperLogLog++, fixed
    ~KB state per group) and approx_percentile (KLL-ish quantile
    sketch). Partial sketches merge map-side, so the shuffle carries
    one sketch per group per task instead of the raw column."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("users_approx"),
        F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("p50_approx"),
        F.percentile_approx("value", F.lit(0.95), F.lit(10000)).alias("p95_approx"),
    )


@register(
    "window_lead_first_last",
    """
    SELECT user_id, event_id,
           LEAD(event_id) OVER w AS next_event_id,
           FIRST_VALUE(event_id) OVER w AS first_event_id,
           LAST_VALUE(event_id) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_event_id
    FROM events
    WHERE user_id % 100 = 0
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("olap", "window", "navigation"),
)
def window_lead_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation-function family (LEAD / FIRST_VALUE / LAST_VALUE) —
    completes §2.5 beyond the reference's LAG. LAST_VALUE carries an
    explicit unbounded frame (the default frame stops at CURRENT ROW on
    both engines — the classic silent-wrong-answer). ORDER BY carries
    the unique event_id tiebreaker; all three functions share one
    window partitioning = one shuffle."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id") % 100 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return e.select(
        "user_id",
        "event_id",
        F.lead("event_id").over(w).alias("next_event_id"),
        F.first("event_id").over(w).alias("first_event_id"),
        F.last("event_id").over(w_full).alias("last_event_id"),
    )


@register(
    "collect_events_per_user",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           array_to_string(array_agg(event_id ORDER BY event_id), ',')
             AS event_ids
    FROM events
    WHERE user_id % 5 = 0
    GROUP BY user_id
    """,
    tags=("olap", "collect"),
)
def collect_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic list aggregation: collect_list order is
    partitioning-dependent in Spark (and engine-dependent generally),
    so the array is sort-canonicalized before serializing — the pattern
    any reproducible feature-store export needs. Serialized to a
    comma-joined string so the value hash is comparable across
    engines."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id") % 5 == 0)
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.concat_ws(",", F.array_sort(F.collect_list("event_id"))).alias(
            "event_ids"
        ),
    )


@register(
    "cross_join_region_nation",
    """
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
    tags=("olap", "join", "cross"),
)
def cross_join_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product of two dimension tables (the schedule
    grid / calendar-spine use case). Safe only because both sides are
    dims: Spark plans BroadcastNestedLoopJoin with the smaller side
    broadcast — never write this against a fact."""
    r = table(spark, sf_dir, "region").select("r_name")
    n = table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


@register(
    "full_outer_customer_supplier_nations",
    """
    WITH c AS (
      SELECT c_nationkey AS nationkey, COUNT(*) AS customers
      FROM customer GROUP BY 1
    ),
    s AS (
      SELECT s_nationkey AS nationkey, COUNT(*) AS suppliers
      FROM supplier GROUP BY 1
    )
    SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
           COALESCE(c.customers, 0) AS customers,
           COALESCE(s.suppliers, 0) AS suppliers
    FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    """,
    tags=("olap", "join", "full-outer"),
)
def full_outer_customer_supplier_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join over pre-aggregated sides (nations having only
    customers OR only suppliers survive with zero-filled counts).
    Aggregating BEFORE joining keeps the outer join on one row per key
    — the shuffle carries group counts, not raw rows."""
    c = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("customers"))
    )
    s = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("suppliers"))
    )
    joined = c.withColumnRenamed("nationkey", "c_nk").join(
        s.withColumnRenamed("nationkey", "s_nk"),
        F.col("c_nk") == F.col("s_nk"),
        "full_outer",
    )
    return joined.select(
        F.coalesce("c_nk", "s_nk").alias("nationkey"),
        F.coalesce("customers", F.lit(0)).alias("customers"),
        F.coalesce("suppliers", F.lit(0)).alias("suppliers"),
    )


@register(
    "revenue_share_by_nation",
    """
    WITH nat AS (
      SELECT n.n_regionkey AS regionkey, n.n_name AS nation,
             CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 2)
                  AS DECIMAL(18,2)) AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    )
    SELECT regionkey, nation,
           CAST(revenue AS DOUBLE) AS revenue,
           ROUND(CAST(revenue AS DOUBLE) * 100.0 /
                 CAST(SUM(revenue) OVER (PARTITION BY regionkey) AS DOUBLE),
                 4) AS pct_of_region
    FROM nat
    """,
    tags=("olap", "window", "ratio-to-report"),
)
def revenue_share_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio-to-report): each nation's share of its
    region's revenue via an unordered window SUM over the already-
    aggregated relation — the window input is one row per nation, so
    the extra shuffle moves ~25 rows regardless of fact size. Revenue
    is summed in DECIMAL (penny-stable), and the share divides decimal
    totals cast to double — both engines divide the same two exact
    values, so the 4dp round cannot straddle a boundary."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        # bcast: const(25) nation dim
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_regionkey").alias("regionkey"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("decimal(18,2)")
            .alias("revenue")
        )
    )
    w = Window.partitionBy("regionkey")
    return nat.select(
        "regionkey",
        "nation",
        F.col("revenue").cast("double").alias("revenue"),
        F.round(
            F.col("revenue").cast("double")
            * 100.0
            / F.sum("revenue").over(w).cast("double"),
            4,
        ).alias("pct_of_region"),
    )


@register(
    "recursive_order_chain",
    """
    WITH RECURSIVE edges AS (
      SELECT o_custkey, o_orderkey,
             LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey)
               AS next_key,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    chain AS (
      -- CAST: Spark's literal 1 in the recursive seed resolves BIGINT
      -- after the += widening; a bare DuckDB 1 stays INT32 and
      -- dtype-mismatches the strict driver-mirror check
      SELECT o_custkey, o_orderkey, CAST(1 AS BIGINT) AS step
      FROM edges WHERE rn = 1
      UNION ALL
      SELECT e.o_custkey, e.next_key, c.step + 1
      FROM chain c
      JOIN edges e
        ON e.o_orderkey = c.o_orderkey AND e.next_key IS NOT NULL
    )
    SELECT o_custkey, o_orderkey, step FROM chain
    """,
    tags=("olap", "recursive"),
)
def recursive_order_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4, SPARK-24497): walk each customer's order
    history as a linked list — anchor at the first order, follow
    LEAD-derived next-order edges, numbering steps as it goes. The same
    ANSI ``WITH RECURSIVE`` text runs on both engines.

    Scale posture: recursion depth is the max chain length = orders per
    customer, which is a CONSTANT of the schema (~25 in TPC-H-shaped
    data), not a function of data volume — each of the ~25 rounds is a
    frontier join that Catalyst plans like any equi-join, so 100× data
    widens rounds but never deepens them. (Unbounded-depth graph
    problems stay on `operators/graph.py`'s large-star/small-star,
    which needs only O(log n) rounds.)
    """
    orders = table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    return spark.sql(
        """
        WITH RECURSIVE edges AS (
          SELECT o_custkey, o_orderkey,
                 LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey)
                   AS next_key,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS rn
          FROM orders
        ),
        chain AS (
          SELECT o_custkey, o_orderkey, CAST(1 AS BIGINT) AS step
          FROM edges WHERE rn = 1
          UNION ALL
          SELECT e.o_custkey, e.next_key, c.step + 1
          FROM chain c
          JOIN edges e
            ON e.o_orderkey = c.o_orderkey AND e.next_key IS NOT NULL
        )
        SELECT o_custkey, o_orderkey, step FROM chain
        """
    )


@register(
    "lateral_topk_orders",
    """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c
    CROSS JOIN LATERAL (
      SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o.o_totalprice DESC, o.o_orderkey
      LIMIT 2
    ) t
    """,
    tags=("olap", "lateral"),
)
def lateral_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join (Spark 4 `DataFrame.lateralJoin`): the
    two most expensive orders per customer, expressed as a per-row
    correlated subquery rather than a window. Catalyst decorrelates the
    `.outer()` reference into a join + per-key limit, so the plan stays
    set-based — no per-customer re-execution — while the API keeps the
    "for each left row, run this query" shape users port from
    LATERAL/APPLY SQL. Unique (price, orderkey) ordering per the window
    tiebreaker policy."""
    customer = table(spark, sf_dir, "customer").select("c_custkey")
    orders = table(spark, sf_dir, "orders")
    topk = (
        orders.where(F.col("o_custkey") == F.col("c_custkey").outer())
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(2)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )
    return customer.lateralJoin(topk)


@register(
    "fuzzy_join_part_names",
    """
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM names a JOIN names b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
    tags=("olap", "fuzzy", "entity-resolution"),
)
def fuzzy_join_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance self-join (`operators/fuzzy.py::edit_distance_pairs`):
    every part-name pair within Levenshtein distance 2, found via
    symmetric-delete candidate buckets + exact verify. The oracle
    states the all-pairs form — quadratic, which is exactly why the
    operator exists; the engine plan is explode + hash join, work
    proportional to true near-matches."""
    from covid_data_pipeline_spark.operators.fuzzy import edit_distance_pairs

    part = table(spark, sf_dir, "part")
    return edit_distance_pairs(part, "p_name", k=2).select(
        "name_a", "name_b", F.col("dist").cast("bigint").alias("dist")
    )


@register(
    "fuzzy_entity_groups",
    """
    WITH RECURSIVE
    names AS (SELECT DISTINCT p_name FROM part),
    prs AS (
      SELECT a.p_name AS src, b.p_name AS dst
      FROM names a JOIN names b ON a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= 2
    ),
    sym AS (SELECT src, dst FROM prs UNION SELECT dst, src FROM prs),
    reach(node, r) AS (
      SELECT p_name, p_name FROM names
      UNION
      SELECT reach.node, sym.dst FROM reach JOIN sym ON sym.src = reach.r
    )
    SELECT node AS name, MIN(r) AS entity_id
    FROM reach GROUP BY node
    """,
    tags=("olap", "fuzzy", "entity-resolution", "graph"),
)
def fuzzy_entity_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: fuzzy pairs (symmetric-delete +
    levenshtein <= 2) feed the large-star/small-star connected
    components, labelling every part name with its transitive
    near-match cluster's canonical (minimum) name. Composition of two
    already-verified operators; the oracle replays it declaratively as
    all-pairs levenshtein + a recursive-CTE closure."""
    from covid_data_pipeline_spark.operators.fuzzy import edit_distance_pairs
    from covid_data_pipeline_spark.operators.graph import connected_components

    part = table(spark, sf_dir, "part")
    names = part.select(F.col("p_name").alias("name")).distinct()
    pairs = edit_distance_pairs(part, "p_name", k=2).select(
        F.col("name_a").alias("src"), F.col("name_b").alias("dst")
    )
    comps = connected_components(pairs, nodes=names)
    return comps.select(
        F.col("node").alias("name"), F.col("component").alias("entity_id")
    )


@register(
    "winsorize_order_prices",
    """
    WITH r AS (
      SELECT o_orderpriority AS grp, o_totalprice AS v,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    ),
    b AS (
      SELECT grp, MAX(n) AS n,
             MAX(CASE WHEN rn = CAST(CEIL(0.05 * n) AS BIGINT)
                      THEN v END) AS lo_bound,
             MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT)
                      THEN v END) AS hi_bound
      FROM r GROUP BY grp
    )
    SELECT b.grp AS o_orderpriority, b.n, b.lo_bound, b.hi_bound,
           CAST(SUM(CASE WHEN o.o_totalprice < b.lo_bound THEN 1 ELSE 0 END)
             AS BIGINT) AS n_below,
           CAST(SUM(CASE WHEN o.o_totalprice > b.hi_bound THEN 1 ELSE 0 END)
             AS BIGINT) AS n_above
    FROM orders o JOIN b ON o.o_orderpriority = b.grp
    GROUP BY b.grp, b.n, b.lo_bound, b.hi_bound
    """,
    tags=("olap", "robust-stats", "winsorize"),
)
def winsorize_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P05/P95 winsorization bounds per order priority
    (`operators/relational.py::winsorize_bounds`): exact order
    statistics, not interpolated percentiles, so the bounds are data
    values both engines agree on exactly; includes the outlier counts a
    clamp would touch."""
    from covid_data_pipeline_spark.operators.relational import winsorize_bounds

    orders = table(spark, sf_dir, "orders")
    return winsorize_bounds(
        orders, ["o_orderpriority"], "o_totalprice", "o_orderkey"
    ).withColumnsRenamed({"grp": "o_orderpriority"})


_PROFILE_COL_SQL = """
  SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nulls,
         COUNT(DISTINCT {c}) AS n_distinct
  FROM orders"""

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    _PROFILE_COL_SQL.format(c=c)
    for c in (
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
)


@register(
    "profile_orders",
    _PROFILE_ORACLE,
    tags=("olap", "profile", "quality"),
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profile of the orders table (rows / NULLs /
    exact distincts per column) — the table-drop sanity report. The
    Spark side computes ALL six columns' metrics in ONE aggregation
    (Catalyst Expand + single shuffle) where the oracle needs six
    scans; the ``approx=True`` HLL path (no expansion) is the 100 TB
    default, exercised in tests/test_quality.py."""
    from covid_data_pipeline_spark.operators.quality import profile_columns

    return profile_columns(table(spark, sf_dir, "orders"))


@register(
    "set_intersect_all_orderkeys",
    """
    SELECT * FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      INTERSECT ALL
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    """,
    tags=("olap", "set-ops", "all"),
)
def set_intersect_all_orderkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag semantics — §2.7's DISTINCT set ops keep one
    row per value; ALL keeps min(multiplicity) copies): customers with
    open AND fulfilled orders, once per matched pairing. Spark plans
    `intersectAll` as a counted hash semi-structure, one shuffle per
    side — no distinct collapse."""
    o = table(spark, sf_dir, "orders")
    open_keys = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    filled = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_keys.intersectAll(filled)


@register(
    "set_except_all_orderkeys",
    """
    SELECT * FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      EXCEPT ALL
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    """,
    tags=("olap", "set-ops", "all"),
)
def set_except_all_orderkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL: surplus open-order multiplicity per customer
    (open count minus fulfilled count, kept as rows) — the bag
    difference DISTINCT except can't express."""
    o = table(spark, sf_dir, "orders")
    open_keys = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    filled = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_keys.exceptAll(filled)


@register(
    "pivot_event_type_multi",
    f"""
    SELECT CAST(ts AS DATE) AS event_date,
           {", ".join(
               f"COUNT(*) FILTER (event_type = '{t}') AS {t}_cnt, "
               f"ROUND(COALESCE(SUM(value) FILTER (event_type = '{t}'), 0), 2)"
               f" AS {t}_value"
               for t in ("click", "purchase")
           )}
    FROM events
    GROUP BY CAST(ts AS DATE)
    """,
    tags=("olap", "pivot", "multi-agg"),
)
def pivot_event_type_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate pivot: count AND value sum per pivoted type in
    ONE aggregate (Spark names multi-agg pivot columns `<type>_<alias>`
    — aliased to match the oracle's FILTER formulation). Explicit value
    list keeps it a single job."""
    e = table(spark, sf_dir, "events")
    out = (
        e.groupBy(F.to_date("ts").alias("event_date"))
        .pivot("event_type", ["click", "purchase"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 2).alias("value"),
        )
    )
    for t in ("click", "purchase"):
        out = (
            out.withColumn(f"{t}_cnt", F.coalesce(F.col(f"{t}_cnt"), F.lit(0)))
            .withColumn(
                f"{t}_value", F.coalesce(F.col(f"{t}_value"), F.lit(0.0))
            )
        )
    return out


@register(
    "customer_value_deciles",
    """
    WITH totals AS (
      SELECT o_custkey,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100, 0)
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey),
    by_val AS (SELECT cents, COUNT(*) AS cnt FROM totals GROUP BY cents),
    cum AS (
      SELECT cents,
             SUM(cnt) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS c,
             (SELECT SUM(cnt) FROM by_val) AS total
      FROM by_val),
    th AS (
      SELECT MIN(CASE WHEN c * 10 >= total * 1 THEN cents END) AS t1,
             MIN(CASE WHEN c * 10 >= total * 2 THEN cents END) AS t2,
             MIN(CASE WHEN c * 10 >= total * 3 THEN cents END) AS t3,
             MIN(CASE WHEN c * 10 >= total * 4 THEN cents END) AS t4,
             MIN(CASE WHEN c * 10 >= total * 5 THEN cents END) AS t5,
             MIN(CASE WHEN c * 10 >= total * 6 THEN cents END) AS t6,
             MIN(CASE WHEN c * 10 >= total * 7 THEN cents END) AS t7,
             MIN(CASE WHEN c * 10 >= total * 8 THEN cents END) AS t8,
             MIN(CASE WHEN c * 10 >= total * 9 THEN cents END) AS t9
      FROM cum)
    SELECT CAST(1 + (cents > t1)::INT + (cents > t2)::INT
              + (cents > t3)::INT + (cents > t4)::INT + (cents > t5)::INT
              + (cents > t6)::INT + (cents > t7)::INT + (cents > t8)::INT
              + (cents > t9)::INT AS INTEGER) AS decile,
           COUNT(*) AS n_customers,
           MIN(cents) AS min_cents,
           MAX(cents) AS max_cents
    FROM totals CROSS JOIN th
    GROUP BY 1 + (cents > t1)::INT + (cents > t2)::INT
               + (cents > t3)::INT + (cents > t4)::INT + (cents > t5)::INT
               + (cents > t6)::INT + (cents > t7)::INT + (cents > t8)::INT
               + (cents > t9)::INT
    """,
    tags=("olap", "decile", "scale"),
)
def customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value deciles WITHOUT NTILE: NTILE is a
    single-partition global-sort window — the plan that dies first at
    scale. Instead: exact decile thresholds from the domain-compressed
    cumulative (tiny distinct-cents relation), broadcast back as ONE
    row, bucket assigned map-side by threshold comparisons. Ties share
    a bucket deterministically (vs NTILE's arbitrary equal-size split).
    Money in integer cents from DECIMAL sums — penny-exact."""
    o = table(spark, sf_dir, "orders")
    totals = o.groupBy("o_custkey").agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")) * 100, 0
        ).cast("bigint").alias("cents")
    )
    by_val = totals.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # bcast: const(1) scalar total agg
    tot = F.broadcast(by_val.agg(F.sum("cnt").alias("total")))
    cum = by_val.withColumn("c", F.sum("cnt").over(w)).crossJoin(tot)
    # bcast: const(9) decile thresholds
    th = F.broadcast(
        cum.agg(
            *[
                F.min(
                    F.when(
                        F.col("c") * 10 >= F.col("total") * k, F.col("cents")
                    )
                ).alias(f"t{k}")
                for k in range(1, 10)
            ]
        )
    )
    bucket = F.lit(1)
    for k in range(1, 10):
        bucket = bucket + (F.col("cents") > F.col(f"t{k}")).cast("int")
    return (
        totals.crossJoin(th)
        .select(bucket.cast("int").alias("decile"), "cents")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
    )


@register(
    "revenue_percent_of_parent",
    """
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) * 100, 0)
                  AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, n.n_name),
    reg AS (SELECT region, SUM(cents) AS reg_cents FROM rev GROUP BY region),
    tot AS (SELECT SUM(cents) AS total_cents FROM rev)
    SELECT rev.region, rev.nation, rev.cents,
           CAST(FLOOR(rev.cents * 10000.0 / reg.reg_cents) AS BIGINT)
             AS share_of_region_bp,
           CAST(FLOOR(reg.reg_cents * 10000.0 / tot.total_cents) AS BIGINT)
             AS region_share_bp
    FROM rev JOIN reg ON rev.region = reg.region CROSS JOIN tot
    """,
    tags=("olap", "hierarchy", "ratio"),
)
def revenue_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level percent-of-parent: each nation's share of its REGION's
    revenue and each region's share of the total — the hierarchy-aware
    ratio `revenue_share_by_nation` (flat percent-of-total) can't
    express. Money as exact DECIMAL-summed cents; shares in floor'd
    integer basis points; both parent levels re-enter as broadcasts
    (25-row and 1-row relations) — the fact table is aggregated
    exactly once."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        # bcast: const(25) nation dim
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        # bcast: const(5) region dim
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")) * 100, 0
            ).cast("bigint").alias("cents")
        )
    )
    # bcast: const(5) per-region rollup
    reg = F.broadcast(
        rev.groupBy("region").agg(F.sum("cents").alias("reg_cents"))
    )
    # bcast: const(1) scalar total agg
    tot = F.broadcast(rev.agg(F.sum("cents").alias("total_cents")))
    return (
        rev.join(reg, "region")
        .crossJoin(tot)
        .select(
            "region",
            "nation",
            "cents",
            F.floor(F.col("cents") * 10000.0 / F.col("reg_cents"))
            .cast("bigint").alias("share_of_region_bp"),
            F.floor(F.col("reg_cents") * 10000.0 / F.col("total_cents"))
            .cast("bigint").alias("region_share_bp"),
        )
    )


@register(
    "revenue_pareto_concentration",
    """
    WITH totals AS (
      SELECT o_custkey,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100, 0)
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey),
    by_val AS (SELECT cents, COUNT(*) AS cnt FROM totals GROUP BY cents),
    cum AS (
      SELECT cents, cnt,
             SUM(cents * cnt) OVER (ORDER BY cents DESC
                                    ROWS UNBOUNDED PRECEDING) AS rev_cum,
             SUM(cnt) OVER (ORDER BY cents DESC
                            ROWS UNBOUNDED PRECEDING) AS cust_cum,
             (SELECT SUM(cents * cnt) FROM by_val) AS rev_total,
             (SELECT SUM(cnt) FROM by_val) AS cust_total
      FROM by_val)
    SELECT CAST(MIN(CASE WHEN rev_cum * 2 >= rev_total THEN cust_cum END)
             AS BIGINT) AS customers_for_50pct,
           CAST(MIN(CASE WHEN rev_cum * 10 >= rev_total * 8 THEN cust_cum
                    END) AS BIGINT) AS customers_for_80pct,
           CAST(MIN(CASE WHEN rev_cum * 10 >= rev_total * 9 THEN cust_cum
                    END) AS BIGINT) AS customers_for_90pct,
           CAST((SELECT cust_total FROM cum LIMIT 1) AS BIGINT)
             AS total_customers
    FROM cum
    """,
    tags=("olap", "pareto", "concentration"),
)
def revenue_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC concentration: how many top customers carry 50/80/90%
    of revenue — the account-concentration risk metric. Customer totals
    collapse to the distinct-cents relation FIRST (ties grouped, so
    "customers needed" counts whole tie groups — deterministic, unlike
    a row-ordered cut); the descending cumulative runs over that tiny
    relation. Exact integer-cents arithmetic throughout."""
    o = table(spark, sf_dir, "orders")
    totals = o.groupBy("o_custkey").agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")) * 100, 0
        ).cast("bigint").alias("cents")
    )
    by_val = totals.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.col("cents").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # bcast: const(1) threshold/total agg
    tot = F.broadcast(
        by_val.agg(
            F.sum(F.col("cents") * F.col("cnt")).alias("rev_total"),
            F.sum("cnt").alias("cust_total"),
        )
    )
    cum = (
        by_val.withColumn("rev_cum", F.sum(F.col("cents") * F.col("cnt")).over(w))
        .withColumn("cust_cum", F.sum("cnt").over(w))
        .crossJoin(tot)
    )
    return cum.agg(
        F.min(
            F.when(F.col("rev_cum") * 2 >= F.col("rev_total"), F.col("cust_cum"))
        ).alias("customers_for_50pct"),
        F.min(
            F.when(
                F.col("rev_cum") * 10 >= F.col("rev_total") * 8,
                F.col("cust_cum"),
            )
        ).alias("customers_for_80pct"),
        F.min(
            F.when(
                F.col("rev_cum") * 10 >= F.col("rev_total") * 9,
                F.col("cust_cum"),
            )
        ).alias("customers_for_90pct"),
        F.max("cust_total").alias("total_customers"),
    )


@register(
    "revenue_yoy_by_month",
    """
    WITH m AS (
      SELECT CAST(date_part('year', o_orderdate) AS INTEGER) AS yr,
             CAST(date_part('month', o_orderdate) AS INTEGER) AS mon,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100, 0)
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2)
    SELECT yr, mon, cents,
           LAG(cents) OVER (PARTITION BY mon ORDER BY yr) AS prev_yr_cents,
           CASE WHEN LAG(cents) OVER (PARTITION BY mon ORDER BY yr)
                     IS NOT NULL
                THEN CAST(FLOOR((cents - LAG(cents) OVER (
                       PARTITION BY mon ORDER BY yr)) * 10000.0
                       / LAG(cents) OVER (PARTITION BY mon ORDER BY yr))
                     AS BIGINT)
           END AS yoy_bp
    FROM m
    """,
    tags=("olap", "yoy", "seasonality"),
)
def revenue_yoy_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-grain year-over-year revenue: each (year, month) cell vs
    the SAME month one year earlier (LAG partitioned by month, ordered
    by year) — the seasonality-aware growth view a plain year rollup
    flattens. Exact cents; growth in floor'd basis points; the window
    runs over the tiny month×year relation, not the fact table."""
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mon"),
    ).agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")) * 100, 0
        ).cast("bigint").alias("cents")
    )
    w = Window.partitionBy("mon").orderBy("yr")
    prev = F.lag("cents").over(w)
    return m.select(
        "yr",
        "mon",
        "cents",
        prev.alias("prev_yr_cents"),
        F.when(
            prev.isNotNull(),
            F.floor((F.col("cents") - prev) * 10000.0 / prev).cast("bigint"),
        ).alias("yoy_bp"),
    )


@register(
    "part_sourcing_redundancy",
    """
    WITH per_part AS (
      SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS n_suppliers
      FROM lineitem GROUP BY l_partkey)
    SELECT n_suppliers, COUNT(*) AS n_parts
    FROM per_part GROUP BY n_suppliers
    """,
    tags=("olap", "distribution", "risk"),
)
def part_sourcing_redundancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sourcing-redundancy histogram: how many parts are supplied by
    exactly N distinct suppliers (n_suppliers=1 rows are the
    single-source risk list's size). Two-level distinct-count
    distribution: the (part, supplier) dedup and per-part count share
    one partkey shuffle; the histogram groups the tiny per-part
    relation."""
    li = table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers")
    )
    return per_part.groupBy("n_suppliers").agg(
        F.count(F.lit(1)).alias("n_parts")
    )


@register(
    "skew_split_join_events",
    """
    WITH ev AS (
      SELECT CASE WHEN user_id % 10 < 7 THEN 0 ELSE user_id END AS k,
             value
      FROM events
    ),
    dim AS (SELECT DISTINCT k FROM ev),
    d2 AS (SELECT k, k % 7 AS grp FROM dim)
    SELECT grp,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM ev JOIN d2 USING (k)
    GROUP BY grp
    """,
    tags=("olap", "skew", "join"),
)
def skew_split_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentiated hot/cold skew join, driver-verified end-to-end:
    70% of the fact rows collapse onto ONE key (the planted mega-hot
    key every skew technique exists for), and the join runs through
    ``operators/scale.py::split_skew_join`` — hot-key build rows
    replicated across salts, cold keys on the plain hash join. The
    oracle is the VANILLA join: the split plan must be row-identical,
    which is the operator's whole contract. Money sums ride
    floor-to-cents BIGINTs so the hash is partition-order-proof."""
    from covid_data_pipeline_spark.operators.scale import split_skew_join

    ev = table(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 10 < 7, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("k"),
        "value",
    )
    dim = ev.select("k").distinct().withColumn("grp", F.col("k") % 7)
    joined = split_skew_join(ev, dim, on=["k"], num_salts=8)
    return joined.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("cents"),
    )


@register(
    "market_basket_part_pairs",
    """
    WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM b),
    singles AS (SELECT p, COUNT(*) AS c FROM b GROUP BY p),
    pairs AS (
      SELECT a.p AS part_a, b2.p AS part_b, COUNT(*) AS support
      FROM b a JOIN b b2 ON a.o = b2.o AND a.p < b2.p
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT part_a, part_b, support,
             CAST((CAST(support AS HUGEINT) * n.n_orders * 10000)
               // (CAST(sa.c AS HUGEINT) * sb.c) AS BIGINT) AS lift_bp
      FROM pairs
      JOIN singles sa ON pairs.part_a = sa.p
      JOIN singles sb ON pairs.part_b = sb.p, n
    )
    SELECT part_a, part_b, support, lift_bp FROM (
      SELECT *, row_number() OVER (
        ORDER BY support DESC, part_a, part_b) AS rn
      FROM scored
    ) WHERE rn <= 100
    """,
    tags=("olap", "market-basket", "affinity"),
    bench=True,
)
def market_basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity ("frequently bought together"): top-100
    co-ordered part pairs with support and integer basis-point lift
    (support·N div (c_a·c_b) — the association-rule score, exactly the
    `event_type_lift` integer construction on the order/part basket
    relation).

    Scale shape: the within-order self-join fans out ≤ (parts per
    order)² — basket size is bounded by business reality (~dozens), so
    pair generation is linear in orders, never |parts|²; the singles
    re-enter SIZE-GATED (broadcast under the gate, keyed join above —
    |parts|-sized force-broadcasts don't survive a 100 TB catalog) and
    the order count as a scalar broadcast; the global top-100 is a
    TakeOrderedAndProject, not a full sort."""
    from covid_data_pipeline_spark.operators.relational import (
        size_gated_broadcast,
    )
    from covid_data_pipeline_spark.operators.windows import top_k_per_group

    li = table(spark, sf_dir, "lineitem")
    # |distinct parts| upper bound (memoized parquet metadata count)
    # gating the singles broadcasts below (keyed join past it).
    n_parts = _n_parts(spark, sf_dir)
    b = (
        li.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        )
        .distinct()
        # The basket relation feeds four subplans (order count, singles,
        # both sides of the pair self-join) and each reference re-runs
        # the scan + distinct shuffle — cut the lineage so the distinct
        # runs once. Two BIGINT columns, bounded by |order lines|.
        .localCheckpoint(eager=False)
    )
    n_orders = b.agg(F.countDistinct("o").alias("n_orders"))
    singles = b.groupBy("p").agg(F.count(F.lit(1)).alias("c"))
    a, b2 = b.alias("a"), b.alias("b2")
    pairs = (
        a.join(
            b2,
            (F.col("a.o") == F.col("b2.o")) & (F.col("a.p") < F.col("b2.p")),
        )
        .groupBy(
            F.col("a.p").alias("part_a"), F.col("b2.p").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("support"))
    )
    scored = (
        pairs.join(
            size_gated_broadcast(
                singles.select(F.col("p").alias("part_a"), F.col("c").alias("ca")),
                estimated_rows=n_parts,
            ),
            "part_a",
        )
        .join(
            size_gated_broadcast(
                singles.select(F.col("p").alias("part_b"), F.col("c").alias("cb")),
                estimated_rows=n_parts,
            ),
            "part_b",
        )
        # bcast: const(1) scalar order-count agg
        .crossJoin(F.broadcast(n_orders))
        .withColumn(
            "lift_bp",
            F.expr(
                "CAST((CAST(support AS DECIMAL(38,0)) * n_orders * 10000) "
                "div (CAST(ca AS DECIMAL(38,0)) * cb) AS BIGINT)"
            ),
        )
    )
    return top_k_per_group(
        scored.withColumn("__g", F.lit(1)),
        partition_by=["__g"],
        order_by=[F.col("support").desc(), F.col("part_a"), F.col("part_b")],
        k=100,
    ).select("part_a", "part_b", "support", "lift_bp")


@register(
    "revenue_concentration_metrics",
    """
    WITH cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                  AS HUGEINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS i
      FROM cust
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(cents) AS s,
             SUM(CAST(i AS HUGEINT) * cents) AS iws,
             SUM(cents * cents) AS sq
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(((2 * iws - (n + 1) * s) * 10000) // (n * s) AS BIGINT)
             AS gini_bp,
           CAST((sq * 100000000) // (s * s) AS BIGINT) AS hhi_pp100m
    FROM m
    """,
    tags=("olap", "concentration", "gini"),
)
def revenue_concentration_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration report: the Gini coefficient (basis
    points) and Herfindahl–Hirschman index (parts per 10⁸) of customer
    revenue — the inequality numbers behind "N% of customers carry M%
    of revenue" (`revenue_pareto_concentration` gives the curve; these
    are its scalars).

    Integer-exact end to end: revenue in cents, the Gini rank-sum
    ``(2·Σi·xᵢ − (n+1)·S) div (n·S)`` over a deterministic (cents,
    custkey) ordering — tie order provably cancels out of the rank
    sum — and HHI as ``Σxᵢ² div S²``, all in DECIMAL(38,0)/HUGEINT, so
    the scalars hash-match anywhere. One custkey rollup, one global
    rank over the |customers| relation (not the fact table), one
    moment aggregate; if the entity relation itself outgrows a single
    sort task, swap the rank for the range-repartition + per-partition
    offset construction `operators/sampling.py::global_hash_order`
    already uses."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("cents")
    )
    ranked = cust.select(
        "cents",
        F.row_number()
        .over(Window.orderBy("cents", "o_custkey"))
        .cast("decimal(38,0)")
        .alias("i"),
    )
    m = ranked.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("i") * F.col("cents")).alias("iws"),
        F.sum(F.col("cents") * F.col("cents")).alias("sq"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.expr(
            "CAST(((2 * iws - (n + 1) * s) * 10000) div (n * s) AS BIGINT)"
        ).alias("gini_bp"),
        F.expr("CAST((sq * 100000000) div (s * s) AS BIGINT)").alias(
            "hhi_pp100m"
        ),
    )


@register(
    "pareto_front_parts",
    """
    WITH d AS (
      SELECT p_retailprice, p_size, COUNT(*) AS n_parts,
             MIN(p_partkey) AS min_partkey
      FROM part GROUP BY 1, 2)
    SELECT d.p_retailprice, d.p_size, d.n_parts, d.min_partkey
    FROM d
    WHERE NOT EXISTS (
      SELECT 1 FROM d q
      WHERE q.p_retailprice <= d.p_retailprice AND q.p_size >= d.p_size
        AND (q.p_retailprice < d.p_retailprice OR q.p_size > d.p_size))
    """,
    tags=("olap", "skyline", "pareto"),
    bench=True,
)
def pareto_front_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline of the part catalog: price/size points where no other
    point is cheaper-or-equal AND bigger-or-equal with one strict — the
    Pareto-optimal "cheapest part for its size class" set
    (`operators/skyline.py::skyline_2d`, Börzsönyi et al. ICDE'01).

    The engine runs the two-phase window sweep (local prune per Spark
    partition, then one global sweep over the tiny survivor set) —
    never a dominance self-join. The oracle states the O(n²) NOT EXISTS
    definition directly: fine for DuckDB on the distinct point set,
    exactly what you cannot run at warehouse scale, which is why the
    operator exists."""
    from covid_data_pipeline_spark.operators.skyline import skyline_2d

    pts = (
        table(spark, sf_dir, "part")
        .groupBy("p_retailprice", "p_size")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min("p_partkey").alias("min_partkey"),
        )
    )
    return skyline_2d(pts, x="p_retailprice", y="p_size").select(
        "p_retailprice", "p_size", "n_parts", "min_partkey"
    )


def _morton_sql(x: str, y: str, bits: int) -> str:
    """DuckDB expression replaying operators/scale.py::morton_key bit
    for bit: x's bit i lands at 2i, y's at 2i+1 (BIGINT-safe: 2*bits
    <= 62)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


@register(
    "zorder_locality_orders",
    f"""
    WITH pts AS (
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS day_nr,
             o_custkey % 4096 AS cust_nr
      FROM orders),
    keyed AS (
      SELECT o_orderkey, day_nr, cust_nr,
             {_morton_sql('day_nr', 'cust_nr', 12)} AS z
      FROM pts)
    SELECT z >> 14 AS z_bucket,
           COUNT(*) AS n_orders,
           MIN(day_nr) AS day_lo, MAX(day_nr) AS day_hi,
           MIN(cust_nr) AS cust_lo, MAX(cust_nr) AS cust_hi
    FROM keyed GROUP BY 1
    """,
    tags=("olap", "layout", "zorder"),
)
def zorder_locality_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout diagnostics: Morton-interleave each order's
    (order-day, customer-bucket) coordinates
    (`operators/scale.py::morton_key` — the sort key
    `SnapshotWarehouse.compact(zorder_by=...)` lays files out by) and report per z-range-bucket
    row counts and min/max extents on BOTH dimensions. Tight extents
    on both axes are exactly why a z-ordered table prunes row groups
    for predicates on EITHER column, where a lexicographic
    (day, customer) sort prunes only day. The key is pure shift/and/or
    codegen arithmetic — the oracle replays the interleave bit for
    bit."""
    from covid_data_pipeline_spark.operators.scale import morton_key

    o = table(spark, sf_dir, "orders")
    pts = o.select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).alias("day_nr"),
        (F.col("o_custkey") % 4096).alias("cust_nr"),
    )
    keyed = pts.withColumn("z", morton_key("day_nr", "cust_nr", bits=12))
    return (
        keyed.groupBy(F.shiftright("z", 14).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("day_nr").alias("day_lo"),
            F.max("day_nr").alias("day_hi"),
            F.min("cust_nr").alias("cust_lo"),
            F.max("cust_nr").alias("cust_hi"),
        )
    )


@register(
    "rendezvous_shard_migration",
    """
    WITH cand AS (
      SELECT doc_id, s.s AS s,
             CAST(concat('0x', substr(md5(
               CAST(doc_id AS VARCHAR) || ':' || CAST(s.s AS VARCHAR)
             ), 1, 15)) AS BIGINT) AS score
      FROM documents CROSS JOIN (SELECT unnest(range(0, 9)) AS s) s),
    pick9 AS (
      SELECT doc_id, s AS shard9 FROM (
        SELECT doc_id, s, row_number() OVER (
          PARTITION BY doc_id ORDER BY score DESC, s DESC) AS rn
        FROM cand) WHERE rn = 1),
    pick8 AS (
      SELECT doc_id, s AS shard8 FROM (
        SELECT doc_id, s, row_number() OVER (
          PARTITION BY doc_id ORDER BY score DESC, s DESC) AS rn
        FROM cand WHERE s < 8) WHERE rn = 1)
    SELECT p9.shard9 AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN p8.shard8 <> p9.shard9 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved
    FROM pick9 p9 JOIN pick8 p8 USING (doc_id)
    GROUP BY 1
    """,
    tags=("olap", "layout", "sharding"),
)
def rendezvous_shard_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash shard layout before/after growing 8 -> 9 shards
    (`operators/scale.py::rendezvous_assign`): per new shard, row count
    and how many rows MOVED. HRW's minimal-disruption property shows up
    directly in the result — only rows captured by the new shard 8
    relocate (~1/9 of the table), where modulo sharding would move
    ~8/9. The portable md5-prefix scores make the exact assignment —
    and therefore the exact migration set — SQL-replayable."""
    from covid_data_pipeline_spark.operators.scale import rendezvous_assign

    docs = table(spark, sf_dir, "documents").select("doc_id")
    a9 = rendezvous_assign(docs, "doc_id", 9, out_col="shard9")
    a8 = rendezvous_assign(docs, "doc_id", 8, out_col="shard8")
    return (
        a9.join(a8, "doc_id")
        .groupBy(F.col("shard9").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("shard8") != F.col("shard9"), 1).otherwise(0)
            ).alias("n_moved"),
        )
    )


@register(
    "benford_order_prices",
    """
    WITH cents AS (
      SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c
      FROM orders WHERE o_totalprice > 0),
    digits AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM cents),
    obs AS (SELECT digit, COUNT(*) AS n_obs FROM digits GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs)
    SELECT o.digit, o.n_obs,
           CAST(ROUND(t.n * (LN(1.0 + 1.0 / o.digit) / LN(10.0))
                      * 1000000.0, 0) AS BIGINT) AS expected_micro,
           ROUND(POW(o.n_obs * 1000000.0
                     - CAST(ROUND(t.n * (LN(1.0 + 1.0 / o.digit)
                                         / LN(10.0)) * 1000000.0, 0)
                            AS BIGINT), 2)
                 / (CAST(ROUND(t.n * (LN(1.0 + 1.0 / o.digit) / LN(10.0))
                               * 1000000.0, 0) AS BIGINT) * 1000000.0), 6)
             AS chi2_contrib
    FROM obs o CROSS JOIN tot t
    """,
    tags=("olap", "dq", "benford"),
)
def benford_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals — the classic
    fabricated-data / unit-mixing tripwire for a financial fact table:
    per leading digit, observed count vs the Benford expectation
    ln(1+1/d)/ln(10) and the chi-square contribution. The digit comes
    from the integer-cents STRING (no float log10 at power-of-ten
    boundaries); expectations are integer micro-counts and each
    contribution is one per-row IEEE expression over them, so the
    report hash-matches. One digit-keyed 9-group aggregate; the total
    rides a broadcast cross join."""
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    digits = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    tot = obs.agg(F.sum("n_obs").alias("n"))
    p = F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    e_micro = F.round(F.col("n") * p * 1000000.0, 0).cast("long")
    # bcast: const(1) scalar total agg
    out = obs.crossJoin(F.broadcast(tot)).withColumn(
        "expected_micro", e_micro
    )
    chi = F.round(
        F.pow(
            F.col("n_obs") * 1000000.0 - F.col("expected_micro"), F.lit(2.0)
        )
        / (F.col("expected_micro") * 1000000.0),
        6,
    )
    return out.select(
        "digit", "n_obs", "expected_micro", chi.alias("chi2_contrib")
    )


@register(
    "rfm_customer_segments",
    """
    WITH mx AS (
      SELECT MAX(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
    base AS (
      SELECT o_custkey AS custkey,
             CAST((SELECT d1 FROM mx)
                  - MAX(CAST(o_orderdate AS DATE)) AS BIGINT)
               AS recency_days,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS monetary_cents
      FROM orders GROUP BY 1),
    scored AS (
      SELECT custkey, recency_days, frequency, monetary_cents,
             CAST(6 - NTILE(5) OVER (ORDER BY recency_days, custkey)
                  AS INTEGER) AS r_score,
             CAST(NTILE(5) OVER (ORDER BY frequency, custkey)
                  AS INTEGER) AS f_score,
             CAST(NTILE(5) OVER (ORDER BY monetary_cents, custkey)
                  AS INTEGER) AS m_score
      FROM base)
    SELECT custkey, recency_days, frequency,
           ROUND(CAST(monetary_cents AS DOUBLE) / 100, 2) AS monetary,
           r_score, f_score, m_score,
           CASE
             WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
               THEN 'champion'
             WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
             WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
             WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
             ELSE 'regular'
           END AS segment
    FROM scored
    """,
    tags=("olap", "segmentation", "rfm"),
    bench=True,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation of the
    customer base — the classic CRM mart a Superset consumer
    (SURVEY.md §3.3) builds from the orders fact. Recency is days since
    each customer's last order, anchored to the dataset's max order
    date so the query is reproducible; monetary is summed in integer
    cents (per-row ROUND(x*100) of 2-dp prices is exact; the
    decimal-money rule) so no float crosses a partition boundary.

    NTILE determinism: every quintile ORDER BY carries custkey as the
    uniqueness tiebreaker, making bucket boundaries identical across
    engines and runs. Scale shape (r6 de-weak): the Spark side runs NO
    single-partition NTILE — each score is rebuilt from an exact
    distributed global rank (`operators/sampling.py::value_order_rank`:
    range buckets over broadcast min/max + tiny offset cumsum +
    within-bucket row_number) and the closed-form NTILE boundary
    e_b = b*(n div 5) + min(b, n mod 5), with n a broadcast scalar.
    Ranks reproduce NTILE's tie-splitting exactly (ties on the metric
    split across buckets by custkey, same as the oracle's NTILE), so
    the unchanged NTILE oracle still hash-matches. One per-customer
    rollup shuffle + three bucket-window exchanges of |customers| rows;
    the only global windows run over the <=256-row compressed bucket
    counts. The max-date anchor re-enters as a broadcast scalar.
    """
    from covid_data_pipeline_spark.operators.sampling import value_order_rank

    orders = table(spark, sf_dir, "orders")
    d1 = orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("d1")
    )
    base = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_day"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("monetary_cents"),
        )
        # bcast: const(1) scalar max-date anchor
        .crossJoin(F.broadcast(d1))
        .select(
            "custkey",
            F.datediff("d1", "last_day").cast("long").alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    # Each value_order_rank consumes its input 3x (min/max agg, bucket
    # counts, join) and Catalyst shares no subtrees — unchecked, the
    # 3-rank chain re-runs the orders rollup 27x. localCheckpoint the
    # COMPACT per-customer relation at each level (the Markov/HITS
    # lesson), so every stage scans local blocks, not the fact table.
    base = base.localCheckpoint(eager=False)
    ranked = value_order_rank(
        base, "recency_days", "custkey", "__rr"
    ).localCheckpoint(eager=False)
    ranked = value_order_rank(
        ranked, "frequency", "custkey", "__rf"
    ).localCheckpoint(eager=False)
    ranked = value_order_rank(ranked, "monetary_cents", "custkey", "__rm")
    nrow = base.agg(F.count(F.lit(1)).alias("__n"))

    def tile5(rank_col: str):
        # NTILE(5) from the global rank: the first (n mod 5) buckets
        # take one extra row; bucket b ends at b*(n div 5) + min(b, rem).
        t = F.lit(1)
        for b in range(1, 5):
            e_b = F.lit(b) * F.expr("__n div 5") + F.least(
                F.lit(b), F.expr("__n % 5")
            )
            t = t + (F.col(rank_col) > e_b).cast("int")
        return t

    # bcast: const(1) scalar row-count agg
    scored = ranked.crossJoin(F.broadcast(nrow)).select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        (F.lit(6) - tile5("__rr")).cast("int").alias("r_score"),
        tile5("__rf").cast("int").alias("f_score"),
        tile5("__rm").cast("int").alias("m_score"),
    )
    seg = (
        F.when(
            (F.col("r_score") >= 4)
            & (F.col("f_score") >= 4)
            & (F.col("m_score") >= 4),
            "champion",
        )
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "new")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk")
        .when(
            (F.col("r_score") <= 2) & (F.col("f_score") <= 2), "hibernating"
        )
        .otherwise("regular")
    )
    return scored.select(
        "custkey",
        "recency_days",
        "frequency",
        F.round(F.col("monetary_cents").cast("double") / 100, 2).alias(
            "monetary"
        ),
        "r_score",
        "f_score",
        "m_score",
        seg.alias("segment"),
    )


@register(
    "orders_reconciliation_audit",
    """
    WITH rec_line AS (
      SELECT l_orderkey AS orderkey,
             CAST(SUM(CAST(ROUND(
               l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100,
               0) AS BIGINT)) AS BIGINT) AS computed_cents,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY 1),
    rec AS (
      SELECT o.o_orderkey AS orderkey,
             CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)
               AS booked_cents,
             l.computed_cents, l.n_lines
      FROM orders o JOIN rec_line l ON o.o_orderkey = l.orderkey)
    SELECT orderkey, n_lines, booked_cents, computed_cents,
           CAST(ROUND(
             CAST(computed_cents - booked_cents AS DOUBLE) * 10000.0
             / booked_cents, 0) AS BIGINT) AS deviation_bp,
           ABS(CAST(ROUND(
             CAST(computed_cents - booked_cents AS DOUBLE) * 10000.0
             / booked_cents, 0) AS BIGINT)) > 100 AS flagged
    FROM rec
    """,
    tags=("olap", "dq", "reconciliation", "finance"),
)
def orders_reconciliation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Financial reconciliation: every order's booked total vs the
    total recomputed from its line items (extended price, discount,
    tax), with the deviation in integer basis points and a >1% flag —
    the cross-table consistency audit a finance DQ gate runs nightly
    (complements dq_summary's single-table rules with a two-table
    aggregate invariant). Per-LINE cents are rounded before the sum so
    the recomputed total is an exact BIGINT regardless of partitioning;
    the single deviation division is exact-rounded. One lineitem
    rollup (map-side combined) + one orderkey equi-join — both sides
    already partition on the join key at warehouse scale."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    line = li.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 100,
                0,
            ).cast("long")
        ).alias("computed_cents"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    rec = orders.select(
        F.col("o_orderkey").alias("orderkey"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("booked_cents"),
    ).join(line, "orderkey")
    dev = F.round(
        (F.col("computed_cents") - F.col("booked_cents")).cast("double")
        * 10000.0
        / F.col("booked_cents"),
        0,
    ).cast("long")
    return rec.select(
        "orderkey",
        "n_lines",
        "booked_cents",
        "computed_cents",
        dev.alias("deviation_bp"),
        (F.abs(dev) > 100).alias("flagged"),
    )


@register(
    "item_similarity_topk",
    """
    WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    singles AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY p),
    pairs AS (
      SELECT a.p AS part_a, b2.p AS part_b, CAST(COUNT(*) AS BIGINT) AS co
      FROM b a JOIN b b2 ON a.o = b2.o AND a.p <> b2.p
      GROUP BY 1, 2),
    scored AS (
      SELECT part_a, part_b, co,
             ROUND(CAST(co AS DOUBLE)
                   / sqrt(CAST(sa.c AS DOUBLE) * sb.c), 6) AS cosine_sim
      FROM pairs
      JOIN singles sa ON pairs.part_a = sa.p
      JOIN singles sb ON pairs.part_b = sb.p
      WHERE sa.c >= 3)
    SELECT part_a, part_b, co, cosine_sim FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY part_a ORDER BY cosine_sim DESC, part_b) AS rn
      FROM scored) t
    WHERE rn <= 5
    """,
    tags=("olap", "recommendation", "item-item"),
)
def item_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering neighbors (Sarwar et al. 2001 /
    Amazon item-to-item): per part (with ≥3 orders), the 5 most
    co-ordered parts by co-occurrence cosine co/sqrt(c_a·c_b) — the
    precomputed neighbor table a recommender serves lookups from. The
    sibling of market_basket_part_pairs (global top pairs by lift);
    this one is a PER-ITEM ranked neighbor list.

    Scale shape: pair generation is a within-order self-join, bounded
    by basket size² per order (linear in orders, never |parts|²);
    per-part counts re-enter SIZE-GATED (broadcast while the part
    dimension's metadata count stays under the gate, keyed shuffle join
    above it — a |parts|-sized force-broadcast would OOM the driver at
    a 100 TB catalog); the per-item top-5 is a WindowGroupLimit, not a
    global sort. Cosine is one double expression over exact integer
    counts, ROUND(6)-guarded with the standard (sim DESC, id)
    tiebreak."""
    from covid_data_pipeline_spark.operators.relational import (
        size_gated_broadcast,
    )
    from covid_data_pipeline_spark.operators.windows import top_k_per_group

    li = table(spark, sf_dir, "lineitem")
    # Cheap upper bound on |distinct parts|: the part dimension's
    # memoized metadata row count (no data read).
    n_parts = _n_parts(spark, sf_dir)
    # the distinct basket relation feeds singles AND both self-join
    # sides — Catalyst shares no subtrees, so cut lineage once instead
    # of paying the scan+distinct shuffle three times
    b = (
        li.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    singles = b.groupBy("p").agg(F.count(F.lit(1)).alias("c"))
    a, b2 = b.alias("a"), b.alias("b2")
    pairs = (
        a.join(
            b2,
            (F.col("a.o") == F.col("b2.o")) & (F.col("a.p") != F.col("b2.p")),
        )
        .groupBy(F.col("a.p").alias("part_a"), F.col("b2.p").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("co"))
    )
    scored = (
        pairs.join(
            size_gated_broadcast(
                singles.select(F.col("p").alias("part_a"), F.col("c").alias("ca")),
                estimated_rows=n_parts,
            ),
            "part_a",
        )
        .join(
            size_gated_broadcast(
                singles.select(F.col("p").alias("part_b"), F.col("c").alias("cb")),
                estimated_rows=n_parts,
            ),
            "part_b",
        )
        .where(F.col("ca") >= 3)
        .withColumn(
            "cosine_sim",
            F.round(
                F.col("co").cast("double")
                / F.sqrt(F.col("ca").cast("double") * F.col("cb")),
                6,
            ),
        )
    )
    return top_k_per_group(
        scored,
        partition_by=["part_a"],
        order_by=[F.col("cosine_sim").desc(), F.col("part_b")],
        k=5,
    ).select("part_a", "part_b", "co", "cosine_sim")


_BLOOM_M_WORDS = 8  # 504 usable bits (63/word)
_BLOOM_K = 3


@register(
    "bloom_prefilter_orders",
    f"""
    WITH members AS (
      SELECT c_custkey FROM customer
      WHERE c_mktsegment = 'BUILDING' AND c_acctbal >= 9000),
    mh AS (
      SELECT
        CAST(concat('0x', substr(md5('bh1:' || CAST(c_custkey AS VARCHAR)),
             1, 15)) AS BIGINT) % 2147483647 AS h1,
        CAST(concat('0x', substr(md5('bh2:' || CAST(c_custkey AS VARCHAR)),
             1, 15)) AS BIGINT) % 2147483647 AS h2
      FROM members),
    pos AS (
      SELECT (h1 + i.i * h2) % {_BLOOM_M_WORDS * 63} AS p
      FROM mh CROSS JOIN (SELECT unnest(range(0, {_BLOOM_K})) AS i) i),
    words AS (
      SELECT p // 63 AS w,
             bit_or(1::BIGINT << CAST(p % 63 AS INTEGER)) AS word
      FROM pos GROUP BY 1),
    probe AS (
      SELECT o_orderkey, o_custkey, o_orderpriority,
        CAST(concat('0x', substr(md5('bh1:' || CAST(o_custkey AS VARCHAR)),
             1, 15)) AS BIGINT) % 2147483647 AS h1,
        CAST(concat('0x', substr(md5('bh2:' || CAST(o_custkey AS VARCHAR)),
             1, 15)) AS BIGINT) % 2147483647 AS h2
      FROM orders),
    checks AS (
      SELECT o_orderkey, o_custkey, o_orderpriority,
        bool_and(COALESCE(words.word, 0)
                 & (1::BIGINT << CAST(pp.p % 63 AS INTEGER)) <> 0) AS maybe
      FROM (SELECT *, (h1 + i.i * h2) % {_BLOOM_M_WORDS * 63} AS p
            FROM probe
            CROSS JOIN (SELECT unnest(range(0, {_BLOOM_K})) AS i) i) pp
      LEFT JOIN words ON words.w = pp.p // 63
      GROUP BY 1, 2, 3)
    SELECT o_orderpriority,
      count(*) FILTER (maybe) AS n_bloom_pass,
      count(*) FILTER (o_custkey IN (SELECT c_custkey FROM members))
        AS n_exact,
      count(*) FILTER (maybe AND o_custkey NOT IN
        (SELECT c_custkey FROM members)) AS n_false_pos
    FROM checks GROUP BY 1
    """,
    tags=("join", "bloom", "runtime-filter"),
)
def bloom_prefilter_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit runtime Bloom-filter semi-join pruning
    (`operators/bloom.py`): build a 504-bit portable bloom over a
    selective customer predicate (~31 members at sf0.01), push a pure
    codegen `bloom_contains` map filter into the orders scan, then the
    exact (broadcast) membership join. Output per priority: rows the
    bloom passes, rows the exact join keeps, and the bloom's false
    positives — the fp set is md5-deterministic, so the oracle verifies
    the filter's exact bit behavior, not just "no false negatives".
    Spark's native twin is `spark.sql.optimizer.runtime.bloomFilter.
    enabled`; the explicit operator is for engines/pipelines that need
    the prefilter portable and inspectable (reference's Trino alert
    INSERT...SELECTs are exactly such dimension-predicate semi-joins,
    `airflow/dags/covid_alerts_dag.py:38-59`)."""
    from covid_data_pipeline_spark.operators.bloom import (
        bloom_build,
        bloom_contains,
    )
    from covid_data_pipeline_spark.harness.tables import dim_count
    from covid_data_pipeline_spark.operators.relational import (
        size_gated_broadcast,
    )

    c = table(spark, sf_dir, "customer")
    members = c.where(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") >= 9000)
    ).select("c_custkey")
    words = bloom_build(
        members, "c_custkey", m_words=_BLOOM_M_WORDS, k=_BLOOM_K
    )
    o = table(spark, sf_dir, "orders")
    flagged = o.select(
        "o_custkey",
        "o_orderpriority",
        bloom_contains(F.col("o_custkey"), words, k=_BLOOM_K).alias("maybe"),
    ).join(
        # members is an SF-scaled customer slice: gate the broadcast on
        # the dimension's metadata count (keyed shuffle past the bound)
        size_gated_broadcast(
            members.withColumn("is_member", F.lit(True)),
            estimated_rows=dim_count(spark, sf_dir, "customer"),
        ),
        o["o_custkey"] == members["c_custkey"],
        "left",
    )
    return flagged.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("maybe"), 1)).alias("n_bloom_pass"),
        F.count(F.when(F.col("is_member"), 1)).alias("n_exact"),
        F.count(
            F.when(F.col("maybe") & F.col("is_member").isNull(), 1)
        ).alias("n_false_pos"),
    )


@register(
    "orders_woe_priority",
    """
    WITH woe_r AS (
      SELECT o_orderpriority,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_good,
             CAST(SUM(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_bad
      FROM orders GROUP BY 1),
    woe_t AS (SELECT CAST(SUM(n_good) AS BIGINT) AS g,
                     CAST(SUM(n_bad) AS BIGINT) AS b FROM woe_r)
    SELECT r.o_orderpriority, r.n_good, r.n_bad,
           CAST(ROUND(ln(CAST((r.n_good + 1) * (t.b + 2) AS DOUBLE)
                         / CAST((r.n_bad + 1) * (t.g + 2) AS DOUBLE))
                      * 1e6, 0) AS BIGINT) AS woe_micro,
           (ROUND((CAST(r.n_good AS DOUBLE) / t.g
                   - CAST(r.n_bad AS DOUBLE) / t.b)
                  * (CAST(ROUND(ln(CAST((r.n_good + 1) * (t.b + 2)
                                        AS DOUBLE)
                                   / CAST((r.n_bad + 1) * (t.g + 2)
                                          AS DOUBLE)) * 1e6, 0) AS BIGINT)
                     / 1e6), 6) + 0) AS iv_term
    FROM woe_r r CROSS JOIN woe_t t
    """,
    tags=("olap", "features", "woe", "supervised"),
)
def orders_woe_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence encoding + Information Value terms
    (`operators/features.py::woe_encoding`, the credit-scorecard
    feature primitive): order priority encoded against the
    fulfilled-status label. Laplace-smoothed per-value WOE is one IEEE
    ln of an exact integer rational in micro-nats (the
    DSIR/Fellegi-Sunter construction), the IV term one deterministic
    expression over the same integers — sum(iv_term) ranks the
    column's predictive power. One map-side rollup + a broadcast
    scalar: the encoder is |values|-sized at any corpus scale."""
    from covid_data_pipeline_spark.operators.features import woe_encoding

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", (F.col("o_orderstatus") == "F").alias("_lab")
    )
    return woe_encoding(o, "o_orderpriority", "_lab")


@register(
    "window_dist_functions",
    """
    SELECT o_custkey, o_orderkey,
           (ROUND(pr, 6) + 0) AS pct_rank,
           ROUND(cd, 6) AS cume,
           ROUND(fv, 2) AS top_price,
           ROUND(nv, 2) AS second_price
    FROM (
      SELECT o_custkey, o_orderkey,
             PERCENT_RANK() OVER w AS pr,
             CUME_DIST() OVER w AS cd,
             FIRST_VALUE(o_totalprice) OVER w AS fv,
             NTH_VALUE(o_totalprice, 2) OVER
               (PARTITION BY o_custkey ORDER BY o_totalprice DESC,
                o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING
                AND UNBOUNDED FOLLOWING) AS nv
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey)
    ) t
    WHERE o_custkey % 50 = 0
    """,
    tags=("olap", "window", "distribution"),
)
def window_dist_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distribution-family window functions missing from
    window_rank_functions: PERCENT_RANK / CUME_DIST (ratios of small
    rank integers — the identical IEEE division on both engines,
    ROUND(6) per float policy; percent_rank can be a signed-zero 0.0
    so it routes through round_stable) and FIRST/NTH_VALUE over the
    full-partition frame (NTH_VALUE needs UNBOUNDED FOLLOWING or rows
    before position n read NULL — same frame spelled out on both
    engines). Deterministic under the (price DESC, orderkey) total
    order; one shuffle on the partition key."""
    from covid_data_pipeline_spark.functions.scalar import round_stable

    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            round_stable(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.round(F.first("o_totalprice").over(wf), 2).alias("top_price"),
            F.round(F.nth_value("o_totalprice", 2).over(wf), 2).alias(
                "second_price"
            ),
        )
        .where(F.col("o_custkey") % 50 == 0)
    )


def _iv_feature_sql(feat_expr: str, name: str) -> str:
    return f"""
    SELECT '{name}' AS feature,
           (ROUND(SUM(iv_term), 6) + 0) AS iv
    FROM (
      SELECT (ROUND((CAST(n_good AS DOUBLE) / g
                     - CAST(n_bad AS DOUBLE) / b)
                    * (CAST(ROUND(ln(CAST((n_good + 1) * (b + 2) AS DOUBLE)
                                     / CAST((n_bad + 1) * (g + 2) AS DOUBLE))
                                  * 1e6, 0) AS BIGINT) / 1e6), 6) + 0)
               AS iv_term
      FROM (
        SELECT {feat_expr} AS v,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_good,
               CAST(SUM(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_bad
        FROM orders GROUP BY 1) r
      CROSS JOIN (
        SELECT CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS g,
               CAST(SUM(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS b
        FROM orders) t) z"""


@register(
    "orders_iv_feature_rank",
    " UNION ALL ".join(
        [
            _iv_feature_sql("o_orderpriority", "priority"),
            _iv_feature_sql("o_custkey % 10", "custkey_mod10"),
            _iv_feature_sql(
                "CAST(EXTRACT(month FROM CAST(o_orderdate AS DATE)) AS BIGINT)",
                "order_month",
            ),
        ]
    ),
    tags=("olap", "features", "woe", "feature-selection"),
)
def orders_iv_feature_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-Value feature-selection report: per candidate
    categorical feature, its total IV against the fulfilled-status
    label — the one-number screen a scorecard/feature-store pipeline
    runs before committing an encoder (rule of thumb: IV < 0.02 is
    useless, > 0.5 suspicious). Three `woe_encoding` rollups (each one
    map-side-combining shuffle over a |values|-sized model), IV = sum
    of the per-value terms, rounded once per feature. The synthetic
    label is near-independent of all three features, so the IVs are
    honestly tiny — the report proves the measurement, not a planted
    signal."""
    from covid_data_pipeline_spark.functions.scalar import round_stable
    from covid_data_pipeline_spark.operators.features import woe_encoding

    o = table(spark, sf_dir, "orders").withColumn(
        "_lab", F.col("o_orderstatus") == "F"
    )
    feats = [
        ("priority", F.col("o_orderpriority")),
        ("custkey_mod10", F.col("o_custkey") % 10),
        ("order_month", F.month(F.to_date("o_orderdate")).cast("bigint")),
    ]
    outs = []
    for name, expr in feats:
        enc = woe_encoding(o.select(expr.alias("_v"), "_lab"), "_v", "_lab")
        outs.append(
            enc.agg(
                F.lit(name).alias("feature"),
                round_stable(F.sum("iv_term"), 6).alias("iv"),
            )
        )
    out = outs[0]
    for x in outs[1:]:
        out = out.unionByName(x)
    return out


@register(
    "orders_loo_target_encoding",
    """
    WITH loo_b AS (
      SELECT o_orderkey, o_custkey,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS y
      FROM orders),
    loo_v AS (
      SELECT o_custkey, CAST(SUM(y) AS BIGINT) AS sv, COUNT(*) AS nv
      FROM loo_b GROUP BY 1),
    loo_t AS (SELECT CAST(SUM(y) AS BIGINT) AS st, COUNT(*) AS nt
              FROM loo_b)
    SELECT b.o_orderkey, b.o_custkey,
           (ROUND((CAST(v.sv - b.y AS DOUBLE)
                   + 10.0 * (CAST(t.st AS DOUBLE) / CAST(t.nt AS DOUBLE)))
                  / CAST(v.nv - 1 + 10 AS DOUBLE), 4) + 0) AS enc
    FROM loo_b b JOIN loo_v v USING (o_custkey) CROSS JOIN loo_t t
    """,
    tags=("olap", "features", "target-encoding", "supervised"),
)
def orders_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of customer key against order
    value (`operators/features.py::loo_target_encoding`,
    Micci-Barreca 2001): each order's encoding excludes its own price
    and shrinks toward the global mean with prior weight 10, so
    sparse customers regress to the prior instead of memorizing one
    order. Targets are exact integer cents; the encoding is one
    deterministic IEEE expression over BIGINTs plus the single shared
    global-mean division, so every per-row value hash-verifies. One
    |customers|-sized rollup + broadcast scalar + equi-join back —
    no corpus window at any scale."""
    from covid_data_pipeline_spark.operators.features import (
        loo_target_encoding,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("bigint")
        .alias("_y"),
    )
    return loo_target_encoding(
        o, "o_custkey", "_y", prior_weight=10
    ).select("o_orderkey", "o_custkey", "enc")


@register(
    "referential_integrity_audit",
    """
    WITH fkq AS (
      SELECT 'orders.o_custkey -> customer' AS fk,
             (SELECT COUNT(*) FROM orders) AS n_child,
             (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
               AS n_null_fk,
             (SELECT COUNT(*) FROM orders o
              WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (
                SELECT 1 FROM customer c
                WHERE c.c_custkey = o.o_custkey)) AS n_orphans
      UNION ALL
      SELECT 'lineitem.l_orderkey -> orders',
             (SELECT COUNT(*) FROM lineitem),
             (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL),
             (SELECT COUNT(*) FROM lineitem l
              WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_orderkey = l.l_orderkey))
      UNION ALL
      SELECT 'lineitem.l_partkey -> part',
             (SELECT COUNT(*) FROM lineitem),
             (SELECT COUNT(*) FROM lineitem WHERE l_partkey IS NULL),
             (SELECT COUNT(*) FROM lineitem l
              WHERE l.l_partkey IS NOT NULL AND NOT EXISTS (
                SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
      UNION ALL
      SELECT 'customer.c_nationkey -> nation',
             (SELECT COUNT(*) FROM customer),
             (SELECT COUNT(*) FROM customer WHERE c_nationkey IS NULL),
             (SELECT COUNT(*) FROM customer c
              WHERE c.c_nationkey IS NOT NULL AND NOT EXISTS (
                SELECT 1 FROM nation n
                WHERE n.n_nationkey = c.c_nationkey))
      UNION ALL
      SELECT 'nation.n_regionkey -> region',
             (SELECT COUNT(*) FROM nation),
             (SELECT COUNT(*) FROM nation WHERE n_regionkey IS NULL),
             (SELECT COUNT(*) FROM nation n
              WHERE n.n_regionkey IS NOT NULL AND NOT EXISTS (
                SELECT 1 FROM region r
                WHERE r.r_regionkey = n.n_regionkey)))
    SELECT fk, CAST(n_child AS BIGINT) AS n_child,
           CAST(n_null_fk AS BIGINT) AS n_null_fk,
           CAST(n_orphans AS BIGINT) AS n_orphans,
           n_orphans = 0 AS holds
    FROM fkq
    """,
    tags=("quality", "referential-integrity", "audit"),
)
def referential_integrity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Whole-schema FK audit (`operators/quality.py::fk_audit`): five
    declared TPC-H foreign-key edges checked in one relation — orphan
    counts via distinct-parent anti-joins (the NOT EXISTS shape that
    scales), null-FK counts, and a holds verdict per edge. The contract
    gate a warehouse runs before trusting a fresh drop; complements
    dq_report_orders (row-level rules) and lineitem_fd_profile
    (functional dependencies) as the third leg of the profiling
    stack."""
    from covid_data_pipeline_spark.operators.quality import fk_audit

    t = lambda n: table(spark, sf_dir, n)  # noqa: E731
    return fk_audit(
        [
            ("orders.o_custkey -> customer",
             t("orders"), "o_custkey", t("customer"), "c_custkey"),
            ("lineitem.l_orderkey -> orders",
             t("lineitem"), "l_orderkey", t("orders"), "o_orderkey"),
            ("lineitem.l_partkey -> part",
             t("lineitem"), "l_partkey", t("part"), "p_partkey"),
            ("customer.c_nationkey -> nation",
             t("customer"), "c_nationkey", t("nation"), "n_nationkey"),
            ("nation.n_regionkey -> region",
             t("nation"), "n_regionkey", t("region"), "r_regionkey"),
        ]
    )


@register(
    "lineitem_corr_matrix",
    """
    WITH cmx_q AS (
      SELECT CAST(ROUND(l_quantity * 100, 0) AS BIGINT) AS q0,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS q1,
             CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS q2,
             CAST(ROUND(l_tax * 100, 0) AS BIGINT) AS q3
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
    cmx_m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(q0 AS HUGEINT)) AS s0,
             SUM(CAST(q0 AS HUGEINT) * q0) AS ss0,
             SUM(CAST(q1 AS HUGEINT)) AS s1,
             SUM(CAST(q1 AS HUGEINT) * q1) AS ss1,
             SUM(CAST(q2 AS HUGEINT)) AS s2,
             SUM(CAST(q2 AS HUGEINT) * q2) AS ss2,
             SUM(CAST(q3 AS HUGEINT)) AS s3,
             SUM(CAST(q3 AS HUGEINT) * q3) AS ss3,
             SUM(CAST(q0 AS HUGEINT) * q1) AS p0_1,
             SUM(CAST(q0 AS HUGEINT) * q2) AS p0_2,
             SUM(CAST(q0 AS HUGEINT) * q3) AS p0_3,
             SUM(CAST(q1 AS HUGEINT) * q2) AS p1_2,
             SUM(CAST(q1 AS HUGEINT) * q3) AS p1_3,
             SUM(CAST(q2 AS HUGEINT) * q3) AS p2_3
      FROM cmx_q),
    cmx_p AS (
      SELECT * FROM (VALUES
        ('l_quantity', 'l_extendedprice', 0, 1),
        ('l_quantity', 'l_discount', 0, 2),
        ('l_quantity', 'l_tax', 0, 3),
        ('l_extendedprice', 'l_discount', 1, 2),
        ('l_extendedprice', 'l_tax', 1, 3),
        ('l_discount', 'l_tax', 2, 3)) AS t(col_x, col_y, i, j))
    SELECT p.col_x, p.col_y, CAST(m.n AS BIGINT) AS n,
           (ROUND(
             CAST(m.n * (CASE p.i * 10 + p.j
                           WHEN 1 THEN m.p0_1 WHEN 2 THEN m.p0_2
                           WHEN 3 THEN m.p0_3 WHEN 12 THEN m.p1_2
                           WHEN 13 THEN m.p1_3 ELSE m.p2_3 END)
                  - (CASE p.i WHEN 0 THEN m.s0 WHEN 1 THEN m.s1
                              WHEN 2 THEN m.s2 ELSE m.s3 END)
                    * (CASE p.j WHEN 1 THEN m.s1 WHEN 2 THEN m.s2
                                ELSE m.s3 END) AS DOUBLE)
             / (sqrt(CAST(m.n * (CASE p.i WHEN 0 THEN m.ss0
                                   WHEN 1 THEN m.ss1 WHEN 2 THEN m.ss2
                                   ELSE m.ss3 END)
                          - (CASE p.i WHEN 0 THEN m.s0 WHEN 1 THEN m.s1
                                      WHEN 2 THEN m.s2 ELSE m.s3 END)
                            * (CASE p.i WHEN 0 THEN m.s0 WHEN 1 THEN m.s1
                                        WHEN 2 THEN m.s2 ELSE m.s3 END)
                          AS DOUBLE))
                * sqrt(CAST(m.n * (CASE p.j WHEN 1 THEN m.ss1
                                     WHEN 2 THEN m.ss2 ELSE m.ss3 END)
                            - (CASE p.j WHEN 1 THEN m.s1 WHEN 2 THEN m.s2
                                        ELSE m.s3 END)
                              * (CASE p.j WHEN 1 THEN m.s1
                                          WHEN 2 THEN m.s2 ELSE m.s3 END)
                            AS DOUBLE))), 6) + 0) AS r
    FROM cmx_p p CROSS JOIN cmx_m m
    """,
    tags=("olap", "profiling", "correlation"),
)
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of lineitem's four numeric
    measures in one aggregation pass (`operators/quality.py::
    corr_matrix`): cents-quantized integer moments in DECIMAL(38,0),
    one IEEE expression per pair (sqrt is correctly rounded, so the
    6dp correlations hash-verify cross-engine). On this synthetic
    corpus every pair hovers near zero (the generator draws measures
    independently) — which is itself the profile readout; the planted
    perfect/anti/zero-variance cases live in tests/test_round9_ops."""
    from covid_data_pipeline_spark.operators.quality import corr_matrix

    return corr_matrix(
        table(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        quant=100.0,
    )


@register(
    "lineitem_spearman_corr",
    """
    WITH spr_b AS (
      SELECT CAST(ROUND(l_quantity * 100, 0) AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
    spr_rx AS (
      SELECT x, CAST(2 * (SUM(c) OVER (ORDER BY x ROWS UNBOUNDED
                            PRECEDING) - c) + c + 1 AS BIGINT) AS rx
      FROM (SELECT x, COUNT(*) AS c FROM spr_b GROUP BY 1)),
    spr_ry AS (
      SELECT y, CAST(2 * (SUM(c) OVER (ORDER BY y ROWS UNBOUNDED
                            PRECEDING) - c) + c + 1 AS BIGINT) AS ry
      FROM (SELECT y, COUNT(*) AS c FROM spr_b GROUP BY 1)),
    spr_r AS (
      SELECT rx, ry FROM spr_b
      JOIN spr_rx USING (x) JOIN spr_ry USING (y)),
    spr_m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(rx AS HUGEINT)) AS sx,
             SUM(CAST(rx AS HUGEINT) * rx) AS sxx,
             SUM(CAST(ry AS HUGEINT)) AS sy,
             SUM(CAST(ry AS HUGEINT) * ry) AS syy,
             SUM(CAST(rx AS HUGEINT) * ry) AS sxy
      FROM spr_r)
    SELECT CAST(n AS BIGINT) AS n,
           (ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                  / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                     * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
            + 0) AS rho
    FROM spr_m
    """,
    tags=("olap", "profiling", "correlation", "nonparametric"),
)
def lineitem_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs extended price
    (`operators/quality.py::spearman_corr`) — the monotone-signal
    readout next to lineitem_corr_matrix's Pearson (near zero on this
    independently-drawn synthetic corpus; planted monotone cases are
    unit-tested). Tie-averaged ranks
    stay exact by doubling; rho is Pearson over the doubled ranks from
    DECIMAL(38,0)/HUGEINT moments, so the 6dp value hash-verifies. The
    rank maps are cumulative counts over each column's compressed
    distinct-value domain, never a corpus row_number."""
    from covid_data_pipeline_spark.operators.quality import spearman_corr

    return spearman_corr(
        table(spark, sf_dir, "lineitem"),
        "l_quantity",
        "l_extendedprice",
        quant=100.0,
    )


def _cramers_pair_sql(cx: str, cy: str, ex: str, ey: str) -> str:
    """One Cramér's-V pair block (DuckDB): contingency chi² with the
    exact rational per-cell term, then V from the unrounded-at-4dp
    decimal chi² sum — mirrors `operators/quality.py::
    cramers_v_matrix` expression-for-expression."""
    return f"""
    SELECT '{cx}' AS col_x, '{cy}' AS col_y,
           CAST(n2 AS BIGINT) AS n,
           CAST(ROUND(chi2d, 4) AS DOUBLE) AS chi2,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
           (ROUND(SQRT(CAST(chi2d AS DOUBLE)
                       / CAST(n2::HUGEINT
                              * LEAST(nr - 1, nc - 1) AS DOUBLE)), 6)
            + 0) AS v
    FROM (
      SELECT SUM(CAST(ROUND(
               CAST((o::HUGEINT * n - rt::HUGEINT * ct)
                    * (o::HUGEINT * n - rt::HUGEINT * ct) AS DOUBLE)
               / CAST(n::HUGEINT * rt * ct AS DOUBLE), 6)
             AS DECIMAL(18,6))) AS chi2d,
             MAX(n) AS n2, MAX(nr) AS nr, MAX(nc) AS nc
      FROM (
        SELECT r.rt, c.ct, COALESCE(o.o, 0) AS o, g.n, g.nr, g.nc
        FROM (SELECT v AS r, CAST(COUNT(*) AS BIGINT) AS rt FROM
              (SELECT CAST({ex} AS VARCHAR) AS v FROM orders
               WHERE {ex} IS NOT NULL AND {ey} IS NOT NULL) GROUP BY 1) r
        CROSS JOIN
             (SELECT v AS c, CAST(COUNT(*) AS BIGINT) AS ct FROM
              (SELECT CAST({ey} AS VARCHAR) AS v FROM orders
               WHERE {ex} IS NOT NULL AND {ey} IS NOT NULL) GROUP BY 1) c
        LEFT JOIN
             (SELECT CAST({ex} AS VARCHAR) AS r, CAST({ey} AS VARCHAR)
                       AS c, CAST(COUNT(*) AS BIGINT) AS o
              FROM orders WHERE {ex} IS NOT NULL AND {ey} IS NOT NULL
              GROUP BY 1, 2) o
          ON o.r = r.r AND o.c = c.c
        CROSS JOIN
             (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(COUNT(DISTINCT CAST({ex} AS VARCHAR))
                          AS BIGINT) AS nr,
                     CAST(COUNT(DISTINCT CAST({ey} AS VARCHAR))
                          AS BIGINT) AS nc
              FROM orders
              WHERE {ex} IS NOT NULL AND {ey} IS NOT NULL) g
      )
    )"""


_CRAM_COLS = [
    ("status", "o_orderstatus"),
    ("prio", "o_orderpriority"),
    ("omonth", "CAST(month(o_orderdate) AS BIGINT)"),
    ("cmod", "o_custkey % 7"),
]
_CRAM_SQL = "\nUNION ALL\n".join(
    _cramers_pair_sql(_CRAM_COLS[i][0], _CRAM_COLS[j][0],
                      _CRAM_COLS[i][1], _CRAM_COLS[j][1])
    for i in range(len(_CRAM_COLS))
    for j in range(i + 1, len(_CRAM_COLS))
)


@register(
    "orders_cramers_v_matrix",
    _CRAM_SQL,
    tags=("olap", "statistics", "association", "profiling"),
)
def orders_cramers_v_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Cramér's V over four categorical order dimensions
    (status, priority, order month, customer-key residue) —
    `operators/quality.py::cramers_v_matrix`, the categorical sibling
    of lineitem_corr_matrix: which dimensions carry redundant signal.
    Every chi² cell is the exact rational (O·n − R·C)²/(n·R·C) in
    DECIMAL(38,0) counts (the grouped_independence_chi2 contract);
    V = sqrt(chi²/(n·min(R−1,C−1))) spends one sqrt on the exact
    1e-6-lattice chi². The synthetic dims are near-independent, so the
    Vs are honestly tiny — the query proves the measurement."""
    from covid_data_pipeline_spark.operators.quality import (
        cramers_v_matrix,
    )

    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("prio"),
        F.month(F.to_date("o_orderdate")).cast("bigint").alias("omonth"),
        (F.col("o_custkey") % 7).alias("cmod"),
    )
    return cramers_v_matrix(o, ["status", "prio", "omonth", "cmod"])


def _entropy_col_sql(name: str, expr: str) -> str:
    """One entropy-profile column block (DuckDB): the micro-nat
    lattice H = (ln(n)_nano·n − Σ c·ln(c)_nano)/(n·1e9) — mirrors
    `operators/quality.py::entropy_profile`."""
    return f"""
    SELECT '{name}' AS col_name,
           CAST(n AS BIGINT) AS n,
           CAST(d AS BIGINT) AS n_distinct,
           (ROUND(CAST(CAST(ROUND(ln(CAST(n AS DOUBLE)) * 1e9, 0)
                             AS HUGEINT) * n - s AS DOUBLE)
                  / (CAST(n AS DOUBLE) * 1e9), 6) + 0) AS entropy,
           (ROUND(CAST(CAST(ROUND(ln(CAST(n AS DOUBLE)) * 1e9, 0)
                             AS HUGEINT) * n - s AS DOUBLE)
                  / CAST(CAST(ROUND(ln(CAST(d AS DOUBLE)) * 1e9, 0)
                              AS HUGEINT) * n AS DOUBLE), 6) + 0)
             AS norm_entropy
    FROM (
      SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS d,
             SUM(c::HUGEINT * CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1e9, 0)
                                   AS BIGINT)) AS s
      FROM (SELECT CAST({expr} AS VARCHAR) AS v,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM lineitem GROUP BY 1)
    )"""


_ENTROPY_SQL = "\nUNION ALL\n".join(
    _entropy_col_sql(n, e)
    for n, e in [
        ("l_returnflag", "l_returnflag"),
        ("l_linestatus", "l_linestatus"),
        ("qty", "CAST(l_quantity AS BIGINT)"),
        ("l_suppkey", "l_suppkey"),
    ]
)


@register(
    "lineitem_entropy_profile",
    _ENTROPY_SQL,
    tags=("olap", "statistics", "profiling", "entropy"),
)
def lineitem_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon-entropy profile of four lineitem dimensions
    (`operators/quality.py::entropy_profile`) — the information-
    content audit next to fd_profile's structure audit: a near-zero
    entropy column is a constant in disguise; a norm_entropy ≈ 1
    column is a candidate partition/salt key. Every ln is rounded
    once to nano-nats, the weighted sum is exact BIGINT/HUGEINT, and
    entropy/norm_entropy each spend one division (norm reuses the
    same integer numerator — never a rounded-over-rounded
    composition). One |distinct|-sized rollup per column."""
    from covid_data_pipeline_spark.operators.quality import entropy_profile

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("bigint").alias("qty"),
        "l_suppkey",
    )
    return entropy_profile(
        li, ["l_returnflag", "l_linestatus", "qty", "l_suppkey"]
    )


@register(
    "orders_theil_u",
    """
    WITH thu_b AS (
      SELECT substr(o_orderpriority, 1, 1) AS x, o_orderpriority AS y
      FROM orders WHERE o_orderpriority IS NOT NULL),
    thu_xy AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c
               FROM thu_b GROUP BY 1, 2),
    thu_mx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS c
               FROM thu_xy GROUP BY 1),
    thu_my AS (SELECT y, CAST(SUM(c) AS BIGINT) AS c
               FROM thu_xy GROUP BY 1),
    thu_nx AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(ROUND(ln(CAST(SUM(c) AS DOUBLE)) * 1e9, 0) AS HUGEINT)
               * CAST(SUM(c) AS BIGINT)
             - SUM(c::HUGEINT
                   * CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1e9, 0)
                          AS BIGINT)) AS num
      FROM thu_mx),
    thu_ny AS (
      SELECT CAST(ROUND(ln(CAST(SUM(c) AS DOUBLE)) * 1e9, 0) AS HUGEINT)
               * CAST(SUM(c) AS BIGINT)
             - SUM(c::HUGEINT
                   * CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1e9, 0)
                          AS BIGINT)) AS num
      FROM thu_my),
    thu_nxy AS (
      SELECT CAST(ROUND(ln(CAST(SUM(c) AS DOUBLE)) * 1e9, 0) AS HUGEINT)
               * CAST(SUM(c) AS BIGINT)
             - SUM(c::HUGEINT
                   * CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1e9, 0)
                          AS BIGINT)) AS num
      FROM thu_xy)
    SELECT x.n,
           (ROUND(CAST(x.num AS DOUBLE) / (CAST(x.n AS DOUBLE) * 1e9), 6)
            + 0) AS h_x,
           (ROUND(CAST(y.num AS DOUBLE) / (CAST(x.n AS DOUBLE) * 1e9), 6)
            + 0) AS h_y,
           (ROUND(CAST(j.num AS DOUBLE) / (CAST(x.n AS DOUBLE) * 1e9), 6)
            + 0) AS h_xy,
           (ROUND(CAST(x.num + y.num - j.num AS DOUBLE)
                  / (CAST(x.n AS DOUBLE) * 1e9), 6) + 0) AS mi,
           (ROUND(CAST(x.num + y.num - j.num AS DOUBLE)
                  / NULLIF(CAST(x.num AS DOUBLE), 0), 6) + 0)
             AS u_x_given_y,
           (ROUND(CAST(x.num + y.num - j.num AS DOUBLE)
                  / NULLIF(CAST(y.num AS DOUBLE), 0), 6) + 0)
             AS u_y_given_x
    FROM thu_nx x CROSS JOIN thu_ny y CROSS JOIN thu_nxy j
    """,
    tags=("olap", "statistics", "association", "profiling"),
)
def orders_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient between the priority CLASS
    DIGIT and the full priority string (`operators/quality.py::
    theil_u`) — the asymmetric association Cramér's V cannot express:
    the digit is a pure FUNCTION of the string, so U(digit|string)
    must be exactly 1.0 while U(string|digit) reports how much of the
    string's entropy the digit retains. All three entropies share the
    n·1e9 nano-lattice denominator, so every U is ONE exact integer
    rational — the leakage/derived-column detector for feature
    audits."""
    from covid_data_pipeline_spark.operators.quality import theil_u

    o = table(spark, sf_dir, "orders").select(
        F.substring("o_orderpriority", 1, 1).alias("_x"),
        F.col("o_orderpriority").alias("_y"),
    )
    return theil_u(o, "_x", "_y")


@register(
    "orders_trimmed_prices",
    """
    WITH trm_b AS (
      SELECT o_orderpriority AS prio,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
      FROM orders WHERE o_totalprice IS NOT NULL),
    trm_r AS (
      SELECT prio, v,
             ROW_NUMBER() OVER (PARTITION BY prio ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY prio) AS n
      FROM trm_b),
    trm_g AS (
      SELECT prio, v, rn, n, (n * 1) // 10 AS g FROM trm_r),
    trm_a AS (
      SELECT prio,
             CAST(MAX(n) AS BIGINT) AS n,
             CAST(MAX(g) AS BIGINT) AS g,
             SUM(CASE WHEN rn > g AND rn <= n - g
                      THEN v::HUGEINT ELSE 0 END) AS sk,
             CAST(SUM(CASE WHEN rn > g AND rn <= n - g
                           THEN 1 ELSE 0 END) AS BIGINT) AS nk,
             MAX(CASE WHEN rn = g + 1 THEN v END) AS lo,
             MAX(CASE WHEN rn = n - g THEN v END) AS hi
      FROM trm_g GROUP BY 1)
    SELECT prio, n, g AS n_cut_each_side,
           (ROUND(CAST(sk AS DOUBLE) / NULLIF(CAST(nk AS DOUBLE), 0), 4)
            + 0) AS trimmed_mean,
           (ROUND(CASE WHEN nk > 0 THEN
                    CAST(sk + g::HUGEINT * (lo + hi) AS DOUBLE)
                    / CAST(n AS DOUBLE) END, 4) + 0) AS winsorized_mean
    FROM trm_a
    """,
    tags=("olap", "robust-statistics", "aggregation"),
)
def orders_trimmed_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed and winsorized mean order value per priority
    (`operators/temporal.py::trimmed_stats`, Tukey / Dixon-Yuen) — the
    robust location report between mean and median for whale-dominated
    metrics: per key, drop (trimmed) or clamp (winsorized) the lowest
    and highest n div 10 integer-cent values. Cut counts, boundary
    order statistics and both sums are exact BIGINT/DECIMAL; each mean
    spends one division; boundary-tie cuts are rank-arbitrary but
    value-invariant."""
    from covid_data_pipeline_spark.operators.temporal import trimmed_stats

    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("bigint")
        .alias("_v"),
    ).filter(F.col("_v").isNotNull())
    return trimmed_stats(o, ["prio"], "_v", trim_num=1, trim_den=10)


@register(
    "orders_welch_ttest",
    """
    WITH wt_b AS (
      SELECT (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS t,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
      WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
    wt_m AS (
      SELECT CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT)
               AS n_treat,
             CAST(SUM(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT)
               AS n_ctrl,
             CAST(SUM(CASE WHEN t THEN CAST(v AS HUGEINT)
                           ELSE 0 END) AS HUGEINT) AS s1,
             CAST(SUM(CASE WHEN t THEN 0
                           ELSE CAST(v AS HUGEINT) END) AS HUGEINT) AS s0,
             CAST(SUM(CASE WHEN t THEN CAST(v AS HUGEINT) * v
                           ELSE 0 END) AS HUGEINT) AS q1,
             CAST(SUM(CASE WHEN t THEN 0
                           ELSE CAST(v AS HUGEINT) * v END) AS HUGEINT)
               AS q0
      FROM wt_b),
    wt_d AS (
      SELECT n_treat, n_ctrl,
             CAST(s1 AS DOUBLE) / CAST(n_treat AS DOUBLE) AS m1,
             CAST(s0 AS DOUBLE) / CAST(n_ctrl AS DOUBLE) AS m0,
             CAST(CAST(n_treat AS HUGEINT) * q1 - s1 * s1 AS DOUBLE)
               / NULLIF(CAST(n_treat AS DOUBLE)
                 * (CAST(n_treat AS DOUBLE) - 1.0), 0.0) AS var1,
             CAST(CAST(n_ctrl AS HUGEINT) * q0 - s0 * s0 AS DOUBLE)
               / NULLIF(CAST(n_ctrl AS DOUBLE)
                 * (CAST(n_ctrl AS DOUBLE) - 1.0), 0.0) AS var0
      FROM wt_m),
    wt_s AS (
      SELECT *,
             var1 / CAST(n_treat AS DOUBLE) AS se2_1,
             var0 / CAST(n_ctrl AS DOUBLE) AS se2_0
      FROM wt_d),
    wt_f AS (
      SELECT *,
             se2_1 + se2_0 AS se2,
             (m1 - m0) / NULLIF(SQRT(
               ((CAST(n_treat AS DOUBLE) - 1.0) * var1
                + (CAST(n_ctrl AS DOUBLE) - 1.0) * var0)
               / (CAST(n_treat AS DOUBLE)
                  + CAST(n_ctrl AS DOUBLE) - 2.0)), 0.0) AS d_raw
      FROM wt_s)
    SELECT n_treat, n_ctrl,
           (ROUND(m1, 4) + 0) AS mean_treat,
           (ROUND(m0, 4) + 0) AS mean_ctrl,
           (ROUND((m1 - m0) / NULLIF(SQRT(se2), 0.0), 4) + 0) AS t_welch,
           (ROUND(se2 * se2 / NULLIF(
              se2_1 * se2_1 / (CAST(n_treat AS DOUBLE) - 1.0)
              + se2_0 * se2_0 / (CAST(n_ctrl AS DOUBLE) - 1.0), 0.0),
              2) + 0) AS df_welch,
           (ROUND(d_raw, 6) + 0) AS cohens_d,
           (ROUND(d_raw * (1.0 - 3.0
              / (4.0 * (CAST(n_treat AS DOUBLE)
                        + CAST(n_ctrl AS DOUBLE)) - 9.0)), 6) + 0)
             AS hedges_g
    FROM wt_f
    """,
    tags=("olap", "hypothesis-test", "effect-size", "statistics"),
)
def orders_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test comparing urgent/high-priority
    order values (cents) against the rest, with Welch-Satterthwaite
    df, Cohen's d, and Hedges' g (`operators/experiment.py::
    welch_ttest`, Welch Biometrika 1947) — the parametric effect-size
    readout a billion-row experiment needs (everything is
    "significant" at that n; d says whether anyone should care). Six
    exact DECIMAL sufficient statistics off one map-side-combined
    pass; every derived quantity is a single-row IEEE expression."""
    from covid_data_pipeline_spark.operators.experiment import welch_ttest

    od = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isNotNull()
        & F.col("o_totalprice").isNotNull()
    )
    arms = od.select(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("_t"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("_v"),
    )
    return welch_ttest(arms, "_t", "_v")


@register(
    "orders_cmh_priority_status",
    """
    WITH cmh_b AS (
      SELECT EXTRACT(YEAR FROM o_orderdate) AS s,
             (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS t,
             (o_orderstatus = 'F') AS y
      FROM orders
      WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
        AND o_orderstatus IS NOT NULL),
    cmh_s AS (
      SELECT s,
             CAST(SUM((t AND y)::INT) AS BIGINT) AS a,
             CAST(SUM((t AND NOT y)::INT) AS BIGINT) AS b,
             CAST(SUM((NOT t AND y)::INT) AS BIGINT) AS c,
             CAST(SUM((NOT t AND NOT y)::INT) AS BIGINT) AS d
      FROM cmh_b GROUP BY 1),
    cmh_t AS (
      SELECT a, b, c, d,
             CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
               + CAST(c AS DOUBLE) + CAST(d AS DOUBLE) AS n_i
      FROM cmh_s),
    cmh_l AS (
      SELECT a + b + c + d AS nn,
             a AS sa,
             CAST(ROUND(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) / n_i
               * 1e9, 0) AS BIGINT) AS num,
             CAST(ROUND(CAST(b AS DOUBLE) * CAST(c AS DOUBLE) / n_i
               * 1e9, 0) AS BIGINT) AS den,
             CAST(ROUND((CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
               * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE)) / n_i
               * 1e9, 0) AS BIGINT) AS e_i,
             CASE WHEN n_i > 1 THEN
               CAST(ROUND((CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
                 * (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
                 * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
                 * (CAST(b AS DOUBLE) + CAST(d AS DOUBLE))
                 / (n_i * n_i * (n_i - 1.0)) * 1e9, 0) AS BIGINT)
             END AS v_i
      FROM cmh_t),
    cmh_a AS (
      SELECT CAST(SUM(nn) AS BIGINT) AS n,
             CAST(COUNT(*) AS INT) AS k_strata,
             CAST(SUM(sa) AS BIGINT) AS ssa,
             CAST(SUM(num) AS BIGINT) AS snum,
             CAST(SUM(den) AS BIGINT) AS sden,
             CAST(SUM(e_i) AS BIGINT) AS sse,
             CAST(SUM(v_i) AS BIGINT) AS ssv
      FROM cmh_l),
    cmh_f AS (
      SELECT n, k_strata, snum, sden, ssv,
             GREATEST(ABS(CAST(ssa AS DOUBLE)
               - CAST(sse AS DOUBLE) / 1e9) - 0.5, 0.0) AS dev
      FROM cmh_a)
    SELECT n, k_strata,
           (ROUND(CAST(snum AS DOUBLE) / NULLIF(CAST(sden AS DOUBLE),
              0.0), 6) + 0) AS or_mh,
           (ROUND(dev * dev / NULLIF(CAST(ssv AS DOUBLE) / 1e9, 0.0),
              4) + 0) AS chi2_mh
    FROM cmh_f
    """,
    tags=("olap", "hypothesis-test", "stratified", "statistics"),
)
def orders_cmh_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel pooled odds ratio and test of
    priority -> finished-status association, stratified by order year
    (`operators/experiment.py::cmh_stratified`, Mantel & Haenszel
    1959) — the Simpson's-paradox-proof readout: a marginal 2x2 can
    flip sign when the year mix differs between arms; CMH pools the
    per-year tables instead. Cell counts are exact off one rollup;
    per-stratum rationals ride the nano lattice so cross-stratum sums
    are engine-invariant."""
    from covid_data_pipeline_spark.operators.experiment import (
        cmh_stratified,
    )

    od = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
        & F.col("o_orderpriority").isNotNull()
        & F.col("o_orderstatus").isNotNull()
    )
    tab = od.select(
        F.year("o_orderdate").alias("_s"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("_t"),
        (F.col("o_orderstatus") == "F").alias("_y"),
    )
    return cmh_stratified(tab, "_s", "_t", "_y")


@register(
    "orders_jonckheere_priority",
    """
    WITH jt_b AS (
      SELECT CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS g,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
      WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
    jt_gv AS (
      SELECT v, g, CAST(COUNT(*) AS BIGINT) AS c FROM jt_b GROUP BY 1, 2),
    jt_dense AS (
      SELECT vv.v, gg.g, COALESCE(gv.c, 0) AS c
      FROM (SELECT DISTINCT v FROM jt_gv) vv
      CROSS JOIN (SELECT DISTINCT g FROM jt_gv) gg
      LEFT JOIN jt_gv gv ON gv.v = vv.v AND gv.g = gg.g),
    jt_s AS (
      SELECT v, g, c,
             COALESCE(SUM(c) OVER (PARTITION BY v ORDER BY g
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS s
      FROM jt_dense),
    jt_cl AS (
      SELECT v, g, c, s,
             COALESCE(SUM(s) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cl
      FROM jt_s),
    jt_j AS (
      SELECT CAST(SUM(CAST(c AS HUGEINT) * (2 * CAST(cl AS HUGEINT)
               + s)) AS HUGEINT) AS jt2
      FROM jt_cl),
    jt_ng AS (
      SELECT g, CAST(SUM(c) AS BIGINT) AS ng FROM jt_gv GROUP BY 1),
    jt_gm AS (
      SELECT CAST(SUM(ng) AS BIGINT) AS n,
             CAST(COUNT(*) AS INT) AS k,
             CAST(SUM(CAST(ng AS HUGEINT) * ng) AS HUGEINT) AS sn2,
             CAST(SUM(CAST(ng AS HUGEINT) * (ng - 1) * (2 * CAST(ng
               AS HUGEINT) + 5)) AS HUGEINT) AS sn25,
             CAST(SUM(CAST(ng AS HUGEINT) * (ng - 1)) AS HUGEINT)
               AS sn1,
             CAST(SUM(CAST(ng AS HUGEINT) * (ng - 1) * (ng - 2))
               AS HUGEINT) AS sn12
      FROM jt_ng),
    jt_tv AS (
      SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM jt_gv GROUP BY 1),
    jt_tm AS (
      SELECT CAST(SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * CAST(t
               AS HUGEINT) + 5)) AS HUGEINT) AS st25,
             CAST(SUM(CAST(t AS HUGEINT) * (t - 1)) AS HUGEINT) AS st1,
             CAST(SUM(CAST(t AS HUGEINT) * (t - 1) * (t - 2))
               AS HUGEINT) AS st12
      FROM jt_tv),
    jt_f AS (
      SELECT g.n, g.k, j.jt2,
             CAST(CAST(g.n AS HUGEINT) * (g.n - 1) * (2 * CAST(g.n
               AS HUGEINT) + 5) - g.sn25 - t.st25 AS DOUBLE) AS a_t,
             CAST(g.sn12 * t.st12 AS DOUBLE) AS b_t,
             CAST(g.sn1 * t.st1 AS DOUBLE) AS c_t,
             CAST(g.n AS DOUBLE) AS nf,
             CAST(CAST(g.n AS HUGEINT) * g.n - g.sn2 AS DOUBLE) / 2.0
               AS e2
      FROM jt_gm g, jt_tm t, jt_j j)
    SELECT n, k, CAST(jt2 AS BIGINT) AS jt2,
           (ROUND((CAST(jt2 AS DOUBLE) - e2)
              / NULLIF(2.0 * SQRT(a_t / 72.0
                + b_t / NULLIF(36.0 * (nf * (nf - 1.0)
                  * (nf - 2.0)), 0.0)
                + c_t / NULLIF(8.0 * (nf * (nf - 1.0)), 0.0)),
                0.0), 4) + 0) AS z
    FROM jt_f
    """,
    tags=("olap", "hypothesis-test", "rank-statistics", "statistics"),
)
def orders_jonckheere_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternatives test: does order value
    shift monotonically across the 1-URGENT..5-LOW priority tiers?
    (`operators/experiment.py::jonckheere_terpstra`, Jonckheere 1954)
    — the sharper sibling of Kruskal-Wallis when the grouping is
    ORDINAL: it pools the k(k-1)/2 pairwise Mann-Whitney counts in
    the order direction, gaining power exactly when the trend
    hypothesis is real. Two chained prefix windows over the dense
    value x tier grid — no row is ever paired; the tie-corrected
    null variance is exact DECIMAL end to end."""
    from covid_data_pipeline_spark.operators.experiment import (
        jonckheere_terpstra,
    )

    od = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isNotNull()
        & F.col("o_totalprice").isNotNull()
    )
    tiers = od.select(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("_g"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("_v"),
    )
    return jonckheere_terpstra(tiers, "_g", "_v")
