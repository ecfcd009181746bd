"""Analytics query library — the reference's business-question patterns
(``analysis.sql``) re-expressed over the driver's TPC-H-ish testdata.

Domain mapping used throughout (reference -> testdata):

- company            -> ``nation.n_name``   (grouping entity)
- state              -> ``customer.c_mktsegment``
- product            -> ``orders.o_orderpriority``
- issue              -> ``lineitem.l_returnflag``
- ``timely_response``  -> ``o_orderstatus = 'F'`` flag
- ``consumer_disputed``-> ``l_returnflag = 'R'`` flag

Each function takes the dict returned by ``session.load_tables`` and
returns a lazy DataFrame; its DuckDB oracle SQL lives alongside it.

Physical notes for 100 TB: fact-side (orders/lineitem) joins shuffle on
their keys; dimension joins (nation/region/part/supplier) are explicit
``broadcast()``s so star joins are broadcast-hash chains over one fact
scan. All aggregates here are algebraic (count/sum) → map-side partial
aggregation. Ranking windows are only ever applied to *grouped* results
(N = #groups rows), never to raw fact rows, so the single-partition
global windows are O(#groups), not O(#rows).

Oracle-compat discipline: counts/ranks cast to BIGINT on both sides
(DuckDB SUM(int) is HUGEINT — always cast); ratios are double divisions
of integer counts (bit-identical IEEE ops in both engines); every
row_number window carries a unique tiebreaker column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.scalar import canonicalize_nulls, ratio
from ..operators import calendar as cal
from ..operators import imputation, relational, reshape
from . import materialize

# Minimum group size for the HAVING gate (reference uses >= 1000 on
# millions of complaints; scaled to the testdata's group sizes).
MIN_GROUP_COUNT = 20

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PRIORITY_ALIASES = {
    "1-URGENT": "n_urgent",
    "2-HIGH": "n_high",
    "3-MEDIUM": "n_medium",
    "4-NOT SPECIFIED": "n_not_specified",
    "5-LOW": "n_low",
}


def _orders_star(t: dict[str, DataFrame]) -> DataFrame:
    """orders ⋈ customer ⋈ nation with the 0/1 analysis flags attached
    (mirrors the reference star join ``analysis.sql:20-23``). customer
    scales with SF so it is NOT broadcast (shuffle join on custkey);
    nation always broadcasts."""
    orders = t["orders"].select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        "o_totalprice",
        "o_orderdate",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("timely_response"),
    )
    cust = t["customer"].select("c_custkey", "c_nationkey", "c_mktsegment")
    nation = t["nation"].select("n_nationkey", "n_name")
    return orders.join(cust, orders.o_custkey == cust.c_custkey).join(
        broadcast(nation), cust.c_nationkey == nation.n_nationkey
    )


def _lineitem_star(t: dict[str, DataFrame]) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer ⋈ nation — the 4-way star used by
    the disputed-rate analyses (reference ``analysis.sql:72-74``)."""
    li = t["lineitem"].select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        "l_returnflag",
        "l_shipdate",
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("consumer_disputed"),
    )
    orders = t["orders"].select("o_orderkey", "o_custkey", "o_orderpriority")
    cust = t["customer"].select("c_custkey", "c_nationkey", "c_mktsegment")
    nation = t["nation"].select("n_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )


_ORDERS_STAR_SQL = """
  SELECT n_name, c_mktsegment, o_orderkey, o_orderpriority, o_totalprice, o_orderdate,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS timely_response
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
"""

_LINEITEM_STAR_SQL = """
  SELECT n_name, c_mktsegment, o_orderpriority, l_orderkey, l_linenumber,
         l_extendedprice, l_returnflag, l_shipdate,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS consumer_disputed
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
"""


# ---------------------------------------------------------------------------
# Q1a analog — flagship


def timely_rank_report(t: dict[str, DataFrame], min_count: int = MIN_GROUP_COUNT) -> DataFrame:
    """Flagship query — mirrors Q1a (``analysis.sql:13-57``): per-nation
    fulfilled-order ratio, HAVING gate, double RANK() (best + worst),
    rank<=10 filter. Exercises J1, A1-A3, A6, F5-F7, W1, P6, O1."""
    grouped = (
        _orders_star(t)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("total_orders"),
            F.count(F.when(F.col("timely_response") == 1, F.lit(1))).alias(
                "fulfilled_orders"
            ),
        )
        .filter(F.col("total_orders") >= min_count)
        .withColumn(
            "fulfilled_ratio", ratio(F.col("fulfilled_orders"), F.col("total_orders"))
        )
        .withColumn("unfulfilled_ratio", F.lit(1.0) - F.col("fulfilled_ratio"))
    )
    w_best = Window.orderBy(F.desc("fulfilled_ratio"))
    w_worst = Window.orderBy(F.desc("unfulfilled_ratio"))
    ranked = grouped.withColumn(
        "timely_rank", F.rank().over(w_best).cast("long")
    ).withColumn("untimely_rank", F.rank().over(w_worst).cast("long"))
    return ranked.filter(
        (F.col("timely_rank") <= 10) | (F.col("untimely_rank") <= 10)
    ).orderBy("timely_rank", "n_name")


TIMELY_RANK_ORACLE = f"""
WITH grouped AS (
  SELECT n_name,
         COUNT(*) AS total_orders,
         COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS fulfilled_orders
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
  HAVING COUNT(*) >= {MIN_GROUP_COUNT}
), ratios AS (
  SELECT n_name, total_orders, fulfilled_orders,
         CAST(fulfilled_orders AS DOUBLE) / CAST(total_orders AS DOUBLE) AS fulfilled_ratio,
         1.0 - CAST(fulfilled_orders AS DOUBLE) / CAST(total_orders AS DOUBLE) AS unfulfilled_ratio
  FROM grouped
), ranked AS (
  SELECT *,
         RANK() OVER (ORDER BY fulfilled_ratio DESC) AS timely_rank,
         RANK() OVER (ORDER BY unfulfilled_ratio DESC) AS untimely_rank
  FROM ratios
)
SELECT * FROM ranked
WHERE timely_rank <= 10 OR untimely_rank <= 10
ORDER BY timely_rank, n_name
"""


# ---------------------------------------------------------------------------
# Q1b analog — disputed-rate ranks on the lineitem star


def disputed_rank_report(t: dict[str, DataFrame], min_count: int = MIN_GROUP_COUNT) -> DataFrame:
    """Mirrors Q1b (``analysis.sql:63-107``): per-nation disputed-line
    ratio with the same HAVING + double-rank shape, over the 4-way
    lineitem star (J7-lite)."""
    grouped = (
        _lineitem_star(t)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("total_lines"),
            F.count(F.when(F.col("consumer_disputed") == 1, F.lit(1))).alias(
                "disputed_lines"
            ),
        )
        .filter(F.col("total_lines") >= min_count)
        .withColumn("disputed_ratio", ratio(F.col("disputed_lines"), F.col("total_lines")))
    )
    ranked = grouped.withColumn(
        "disputed_rank", F.rank().over(Window.orderBy(F.desc("disputed_ratio"))).cast("long")
    ).withColumn(
        "undisputed_rank", F.rank().over(Window.orderBy(F.asc("disputed_ratio"))).cast("long")
    )
    return ranked.filter(
        (F.col("disputed_rank") <= 10) | (F.col("undisputed_rank") <= 10)
    ).orderBy("disputed_rank", "n_name")


DISPUTED_RANK_ORACLE = f"""
WITH star AS ({_LINEITEM_STAR_SQL}),
grouped AS (
  SELECT n_name,
         COUNT(*) AS total_lines,
         COUNT(CASE WHEN consumer_disputed = 1 THEN 1 END) AS disputed_lines
  FROM star
  GROUP BY n_name
  HAVING COUNT(*) >= {MIN_GROUP_COUNT}
), ratios AS (
  SELECT n_name, total_lines, disputed_lines,
         CAST(disputed_lines AS DOUBLE) / CAST(total_lines AS DOUBLE) AS disputed_ratio
  FROM grouped
), ranked AS (
  SELECT *,
         RANK() OVER (ORDER BY disputed_ratio DESC) AS disputed_rank,
         RANK() OVER (ORDER BY disputed_ratio ASC) AS undisputed_rank
  FROM ratios
)
SELECT * FROM ranked
WHERE disputed_rank <= 10 OR undisputed_rank <= 10
ORDER BY disputed_rank, n_name
"""


# ---------------------------------------------------------------------------
# Q1c analog — union-distinct of the two interest lists


def _cache_key(t: dict[str, DataFrame]) -> str:
    """Stable per-dataset key for the materialization layer: the semantic
    hash of the orders scan differs across sf dirs and is identical for
    repeated loads of the same dir (no job triggered)."""
    return str(t["orders"].semanticHash())


def _interest_list(t: dict[str, DataFrame]) -> DataFrame:
    """The reference's ``temp_companies`` (``analysis.sql:110-118``),
    materialized once per session (S7): ~25 rows, cached, reused by
    every downstream query instead of recomputing both rank-report
    lineages (the round-1 triple-recompute anti-pattern)."""
    return materialize.get_or_build(
        "companies_of_interest",
        _cache_key(t),
        lambda: relational.union_distinct(
            timely_rank_report(t).select("n_name"),
            disputed_rank_report(t).select("n_name"),
        ),
    )


def companies_of_interest(t: dict[str, DataFrame]) -> DataFrame:
    """Mirrors Q1c (``analysis.sql:110-118``): UNION (distinct) of the
    extreme-timely and extreme-disputed entity lists (U1)."""
    return _interest_list(t).orderBy("n_name")


COMPANIES_OF_INTEREST_ORACLE = f"""
WITH t AS ({TIMELY_RANK_ORACLE.replace("SELECT * FROM ranked", "SELECT n_name FROM ranked").replace("ORDER BY timely_rank, n_name", "")}),
d AS ({DISPUTED_RANK_ORACLE.replace("SELECT * FROM ranked", "SELECT n_name FROM ranked").replace("ORDER BY disputed_rank, n_name", "")})
SELECT n_name FROM t UNION SELECT n_name FROM d ORDER BY n_name
"""


# ---------------------------------------------------------------------------
# Q2 analog — per-(entity, segment) ratios semi-filtered to the interest list


def segment_ratio_report(t: dict[str, DataFrame]) -> DataFrame:
    """Mirrors Q2 (``analysis.sql:125-149``): conditional-agg ratios per
    (nation, segment), restricted to companies_of_interest via a
    left-semi join (J6)."""
    star = _orders_star(t)
    agg = star.groupBy("n_name", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("total_orders"),
        F.count(F.when(F.col("timely_response") == 1, F.lit(1))).alias("fulfilled_orders"),
    )
    agg = agg.withColumn(
        "fulfilled_ratio", ratio(F.col("fulfilled_orders"), F.col("total_orders"))
    )
    filtered = relational.semi_filter(agg, _interest_list(t), on=["n_name"])
    return filtered.orderBy("n_name", "c_mktsegment")


SEGMENT_RATIO_ORACLE = f"""
WITH interest AS ({COMPANIES_OF_INTEREST_ORACLE.replace("ORDER BY n_name", "")}),
agg AS (
  SELECT n_name, c_mktsegment,
         COUNT(*) AS total_orders,
         COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS fulfilled_orders
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, c_mktsegment
)
SELECT n_name, c_mktsegment, total_orders, fulfilled_orders,
       CAST(fulfilled_orders AS DOUBLE) / CAST(total_orders AS DOUBLE) AS fulfilled_ratio
FROM agg
WHERE n_name IN (SELECT n_name FROM interest)
ORDER BY n_name, c_mktsegment
"""


# ---------------------------------------------------------------------------
# Q3a analog — reusable pre-aggregate ("temp_cf")


def preaggregate(t: dict[str, DataFrame]) -> DataFrame:
    """Mirrors Q3a's ``temp_cf`` (``analysis.sql:155-173``): one grouped
    pass over the full star, reused by the drill-down cascade (A11).
    At scale this is the classic shared-scan optimization: one shuffle
    produces the cube all four downstream questions read."""
    star = _lineitem_star(t)
    return star.groupBy("n_name", "c_mktsegment", "o_orderpriority", "l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("consumer_disputed").cast("long").alias("n_disputed"),
        F.sum(F.when(F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp_ntz"), 1).otherwise(0))
        .cast("long")
        .alias("n_recent"),
    )


PREAGGREGATE_ORACLE = f"""
WITH star AS ({_LINEITEM_STAR_SQL})
SELECT n_name, c_mktsegment, o_orderpriority, l_returnflag,
       COUNT(*) AS n_lines,
       CAST(SUM(consumer_disputed) AS BIGINT) AS n_disputed,
       CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_recent
FROM star
GROUP BY n_name, c_mktsegment, o_orderpriority, l_returnflag
"""


# ---------------------------------------------------------------------------
# Q3b analog — 4-level drill-down cascade


def drilldown_report(t: dict[str, DataFrame]) -> DataFrame:
    """Mirrors Q3b (``analysis.sql:178-238``): top-5 entities by dispute
    ratio (O3) -> their per-segment ROW_NUMBER ranks (W2) -> weakest
    priority per (entity, segment) (W3) -> return-flag ranks within the
    weakest cell, restricted via tuple-IN semi join (W4 + P7).

    Every ROW_NUMBER window carries unique tiebreakers (segment /
    priority / flag name) — the reference relies on engine-arbitrary
    tie order; we pin it for cross-engine determinism."""
    pre = materialize.get_or_build("preaggregate", _cache_key(t), lambda: preaggregate(t))

    top5 = (
        pre.groupBy("n_name")
        .agg(F.sum("n_lines").alias("t"), F.sum("n_disputed").alias("d"))
        .withColumn("disputed_ratio", ratio(F.col("d"), F.col("t")))
        .orderBy(F.desc("disputed_ratio"), F.asc("n_name"))
        .limit(5)
        .select("n_name")
    )

    scoped = relational.semi_filter(pre, top5, on=["n_name"])

    seg = scoped.groupBy("n_name", "c_mktsegment").agg(
        F.sum("n_lines").alias("t"), F.sum("n_disputed").alias("d")
    ).withColumn("segment_ratio", ratio(F.col("d"), F.col("t")))
    w_seg = Window.partitionBy("n_name").orderBy(
        F.desc("segment_ratio"), F.asc("c_mktsegment")
    )
    seg_ranked = seg.withColumn("segment_rank", F.row_number().over(w_seg).cast("long"))

    prio = scoped.groupBy("n_name", "c_mktsegment", "o_orderpriority").agg(
        F.sum("n_lines").alias("t"), F.sum("n_disputed").alias("d")
    ).withColumn("priority_ratio", ratio(F.col("d"), F.col("t")))
    w_prio = Window.partitionBy("n_name", "c_mktsegment").orderBy(
        F.desc("priority_ratio"), F.asc("o_orderpriority")
    )
    weakest = (
        prio.withColumn("priority_rank", F.row_number().over(w_prio).cast("long"))
        .filter(F.col("priority_rank") <= 2)
        .select("n_name", "c_mktsegment", "o_orderpriority", "priority_ratio", "priority_rank")
    )

    flags = scoped.groupBy("n_name", "c_mktsegment", "o_orderpriority", "l_returnflag").agg(
        F.sum("n_lines").alias("flag_lines")
    )
    w_flag = Window.partitionBy("n_name", "c_mktsegment", "o_orderpriority").orderBy(
        F.desc("flag_lines"), F.asc("l_returnflag")
    )
    flag_ranked = flags.withColumn("flag_rank", F.row_number().over(w_flag).cast("long")).filter(
        F.col("flag_rank") <= 2
    )

    # tuple-IN (P7): keep flag rows whose (n_name, segment, priority)
    # tuple appears in the weakest-priority list — left-semi join.
    result = relational.semi_filter(
        flag_ranked.join(
            seg_ranked.select("n_name", "c_mktsegment", "segment_rank"),
            on=["n_name", "c_mktsegment"],
        ),
        weakest,
        on=["n_name", "c_mktsegment", "o_orderpriority"],
    )
    return result.select(
        "n_name",
        "c_mktsegment",
        "segment_rank",
        "o_orderpriority",
        "l_returnflag",
        "flag_lines",
        "flag_rank",
    ).orderBy("n_name", "c_mktsegment", "o_orderpriority", "flag_rank")


DRILLDOWN_ORACLE = f"""
WITH pre AS ({PREAGGREGATE_ORACLE}),
top5 AS (
  SELECT n_name
  FROM (
    SELECT n_name, CAST(SUM(n_disputed) AS DOUBLE) / CAST(SUM(n_lines) AS DOUBLE) AS disputed_ratio
    FROM pre GROUP BY n_name
  )
  ORDER BY disputed_ratio DESC, n_name ASC
  LIMIT 5
),
scoped AS (SELECT * FROM pre WHERE n_name IN (SELECT n_name FROM top5)),
seg AS (
  SELECT n_name, c_mktsegment,
         CAST(SUM(n_disputed) AS DOUBLE) / CAST(SUM(n_lines) AS DOUBLE) AS segment_ratio
  FROM scoped GROUP BY n_name, c_mktsegment
),
seg_ranked AS (
  SELECT n_name, c_mktsegment,
         ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY segment_ratio DESC, c_mktsegment ASC) AS segment_rank
  FROM seg
),
prio AS (
  SELECT n_name, c_mktsegment, o_orderpriority,
         CAST(SUM(n_disputed) AS DOUBLE) / CAST(SUM(n_lines) AS DOUBLE) AS priority_ratio
  FROM scoped GROUP BY n_name, c_mktsegment, o_orderpriority
),
weakest AS (
  SELECT * FROM (
    SELECT n_name, c_mktsegment, o_orderpriority,
           ROW_NUMBER() OVER (PARTITION BY n_name, c_mktsegment ORDER BY priority_ratio DESC, o_orderpriority ASC) AS priority_rank
    FROM prio
  ) WHERE priority_rank <= 2
),
flags AS (
  SELECT n_name, c_mktsegment, o_orderpriority, l_returnflag,
         CAST(SUM(n_lines) AS BIGINT) AS flag_lines
  FROM scoped GROUP BY n_name, c_mktsegment, o_orderpriority, l_returnflag
),
flag_ranked AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY n_name, c_mktsegment, o_orderpriority ORDER BY flag_lines DESC, l_returnflag ASC) AS flag_rank
    FROM flags
  ) WHERE flag_rank <= 2
)
SELECT f.n_name, f.c_mktsegment, s.segment_rank, f.o_orderpriority, f.l_returnflag,
       f.flag_lines, f.flag_rank
FROM flag_ranked f
JOIN seg_ranked s ON f.n_name = s.n_name AND f.c_mktsegment = s.c_mktsegment
WHERE EXISTS (
  SELECT 1 FROM weakest w
  WHERE w.n_name = f.n_name AND w.c_mktsegment = f.c_mktsegment
    AND w.o_orderpriority = f.o_orderpriority
)
ORDER BY f.n_name, f.c_mktsegment, f.o_orderpriority, f.flag_rank
"""


# ---------------------------------------------------------------------------
# O3: global top-k (TakeOrderedAndProject)


def top5_orders(t: dict[str, DataFrame]) -> DataFrame:
    """Top-5 orders by total price (reference O3 ``analysis.sql:188-190``).
    o_orderkey is the unique tiebreaker."""
    return relational.top_k(
        t["orders"].select("o_orderkey", "o_custkey", "o_totalprice"),
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        5,
    )


TOP5_ORDERS_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 5
"""


# ---------------------------------------------------------------------------
# O4: per-group top-k


def top_orders_per_nation(t: dict[str, DataFrame]) -> DataFrame:
    """Top-2 orders by value per nation (reference O4 per-group top-k)."""
    star = _orders_star(t).select("n_name", "o_orderkey", "o_totalprice")
    return relational.top_k_per_group(
        star,
        partition_by=["n_name"],
        order_by=[F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=2,
        rank_col="order_rank",
        keep_rank=True,
    ).orderBy("n_name", "order_rank")


TOP_ORDERS_PER_NATION_ORACLE = f"""
WITH star AS ({_ORDERS_STAR_SQL})
SELECT n_name, o_orderkey, o_totalprice, order_rank FROM (
  SELECT n_name, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY o_totalprice DESC, o_orderkey ASC) AS order_rank
  FROM star
) WHERE order_rank <= 2
ORDER BY n_name, order_rank
"""


# ---------------------------------------------------------------------------
# J3/J5 + F3: calendar build and role-playing date-dimension joins


# Covers the full testdata date range (order/ship dates span 1992-1998)
# so the inner date-dimension joins drop no fact rows (ADVICE r1).
CAL_START, CAL_END = "1992-01-01", "2002-12-31"


def calendar_dim(t: dict[str, DataFrame]) -> DataFrame:
    """Generated date dimension (reference F3 + date_dimension build,
    ``inserting-data.sql:38-44``). The date itself is exposed as a
    yyyy-MM-dd string in the oracle-checked output — DATE cells
    serialize differently across Spark/DuckDB/pandas."""
    c = cal.build_calendar(t["orders"].sparkSession, CAL_START, CAL_END)
    return c.select(
        "date_id",
        F.date_format("date", "yyyy-MM-dd").alias("date_str"),
        "year",
        "month",
        "day",
        "quarter",
        "is_weekend",
    )


CALENDAR_DIM_ORACLE = f"""
SELECT CAST(year(d)*10000 + month(d)*100 + day(d) AS BIGINT) AS date_id,
       strftime(d, '%Y-%m-%d') AS date_str,
       CAST(year(d) AS BIGINT) AS year,
       CAST(month(d) AS BIGINT) AS month,
       CAST(day(d) AS BIGINT) AS day,
       CAST(quarter(d) AS BIGINT) AS quarter,
       dayofweek(d) IN (0, 6) AS is_weekend
FROM (SELECT unnest(generate_series(DATE '{CAL_START}', DATE '{CAL_END}', INTERVAL 1 DAY))::DATE AS d)
"""


def shipments_by_quarter(t: dict[str, DataFrame]) -> DataFrame:
    """Role-playing date-dimension join (reference J3/J5,
    ``inserting-data.sql:164-169``): lineitem joins the calendar twice —
    once on ship date (via y/m/d decomposition, the reference's
    EXTRACT-join) and once through its order's date — then aggregates
    per (ship_year, ship_quarter, order_year).

    The calendar is generated (≈3k rows) and broadcast: the fact scan
    is never shuffled by the date join at any scale."""
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    orders = t["orders"].select("o_orderkey", "o_orderdate")
    caldf = cal.build_calendar(li.sparkSession, CAL_START, CAL_END)

    ship_cal = caldf.select(
        F.col("year").alias("ship_year"),
        F.col("month").alias("_sm"),
        F.col("day").alias("_sd"),
        F.col("quarter").alias("ship_quarter"),
    )
    ord_cal = caldf.select(
        F.col("year").alias("order_year"), F.col("month").alias("_om"), F.col("day").alias("_od")
    )

    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            broadcast(ship_cal),
            (F.year("l_shipdate") == F.col("ship_year"))
            & (F.month("l_shipdate") == F.col("_sm"))
            & (F.dayofmonth("l_shipdate") == F.col("_sd")),
        )
        .join(
            broadcast(ord_cal),
            (F.year("o_orderdate") == F.col("order_year"))
            & (F.month("o_orderdate") == F.col("_om"))
            & (F.dayofmonth("o_orderdate") == F.col("_od")),
        )
    )
    return (
        joined.groupBy("ship_year", "ship_quarter", "order_year")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .orderBy("ship_year", "ship_quarter", "order_year")
    )


SHIPMENTS_BY_QUARTER_ORACLE = f"""
WITH calendar AS (
SELECT CAST(year(d) AS BIGINT) AS year,
       CAST(month(d) AS BIGINT) AS month,
       CAST(day(d) AS BIGINT) AS day,
       CAST(quarter(d) AS BIGINT) AS quarter
FROM (SELECT unnest(generate_series(DATE '{CAL_START}', DATE '{CAL_END}', INTERVAL 1 DAY))::DATE AS d)
)
SELECT sc.year AS ship_year, sc.quarter AS ship_quarter, oc.year AS order_year,
       COUNT(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN calendar sc ON year(l_shipdate) = sc.year AND month(l_shipdate) = sc.month AND day(l_shipdate) = sc.day
JOIN calendar oc ON year(o_orderdate) = oc.year AND month(o_orderdate) = oc.month AND day(o_orderdate) = oc.day
GROUP BY sc.year, sc.quarter, oc.year
ORDER BY ship_year, ship_quarter, order_year
"""


# ---------------------------------------------------------------------------
# F4/J4/A7: null-canonicalized dedup + COALESCE join (nulls synthesized —
# testdata has none — via NULLIF('3-MEDIUM'), identically in the oracle)


def null_canonical_dedup(t: dict[str, DataFrame]) -> DataFrame:
    """DISTINCT over null-canonicalized natural keys (reference A7+F4:
    the dimension-build dedup, ``inserting-data.sql:75-80``)."""
    src = t["orders"].select(
        F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")).alias("priority"),
        F.col("o_orderstatus").alias("status"),
    )
    out = relational.dedup_distinct(src, canonicalize=True)
    return out.orderBy("priority", "status")


NULL_CANONICAL_DEDUP_ORACLE = """
SELECT DISTINCT COALESCE(NULLIF(o_orderpriority, '3-MEDIUM'), '') AS priority,
                o_orderstatus AS status
FROM orders ORDER BY priority, status
"""


def null_canonical_join_counts(t: dict[str, DataFrame]) -> DataFrame:
    """COALESCE-equi-join (reference J4, ``inserting-data.sql:170-175``):
    orders with a synthesized-NULL priority joined to the deduped
    priority list on COALESCE(x,'')=COALESCE(y,'') — NULL matches NULL
    *and* '' by design."""
    left = t["orders"].select(
        "o_orderkey",
        F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")).alias("priority"),
    )
    dim = relational.dedup_distinct(
        t["orders"].select(
            F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")).alias("dim_priority")
        )
    ).withColumn(
        "priority_id",
        F.row_number()
        .over(Window.orderBy(canonicalize_nulls("dim_priority")))
        .cast("long"),
    )
    joined = relational.null_canonical_join(left, dim, [("priority", "dim_priority")])
    return (
        joined.groupBy("priority_id")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("priority_id")
    )


NULL_CANONICAL_JOIN_ORACLE = """
WITH left_side AS (
  SELECT o_orderkey, NULLIF(o_orderpriority, '3-MEDIUM') AS priority FROM orders
),
dim AS (
  SELECT dim_priority,
         CAST(ROW_NUMBER() OVER (ORDER BY COALESCE(dim_priority, '')) AS BIGINT) AS priority_id
  FROM (SELECT DISTINCT NULLIF(o_orderpriority, '3-MEDIUM') AS dim_priority FROM orders)
)
SELECT priority_id, COUNT(*) AS n_orders
FROM left_side JOIN dim ON COALESCE(priority, '') = COALESCE(dim_priority, '')
GROUP BY priority_id ORDER BY priority_id
"""


# ---------------------------------------------------------------------------
# J2: multi-key natural-key join (4 columns)


def multikey_category_join(t: dict[str, DataFrame]) -> DataFrame:
    """4-key natural-key dimension join (reference J2,
    ``inserting-data.sql:171-174``): build a (brand, type, size,
    container-ish) category dim from part, join facts back on all 4
    natural keys to resolve the surrogate id. Surrogate assignment
    delegates to ``warehouse.assign_surrogate`` (the shared two-phase
    ``global_rank``) — identical ids to ``row_number() OVER (ORDER BY
    keys)`` with no single-task dim-wide window, the same RUNBOOK §3
    discipline as every other dim build."""
    from .warehouse import assign_surrogate

    part = t["part"].select("p_partkey", "p_brand", "p_type", "p_size", "p_name")
    cat = assign_surrogate(
        part.select("p_brand", "p_type", "p_size").distinct(),
        ["p_brand", "p_type", "p_size"],
        "category_id",
    )
    li = t["lineitem"].select("l_partkey", "l_quantity")
    resolved = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(broadcast(cat), on=["p_brand", "p_type", "p_size"])
    )
    return (
        resolved.groupBy("category_id")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .orderBy("category_id")
    )


MULTIKEY_CATEGORY_JOIN_ORACLE = """
WITH cat AS (
  SELECT p_brand, p_type, p_size,
         CAST(ROW_NUMBER() OVER (ORDER BY p_brand, p_type, p_size) AS BIGINT) AS category_id
  FROM (SELECT DISTINCT p_brand, p_type, p_size FROM part)
)
SELECT category_id, COUNT(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN cat ON part.p_brand = cat.p_brand AND part.p_type = cat.p_type AND part.p_size = cat.p_size
GROUP BY category_id ORDER BY category_id
"""


# ---------------------------------------------------------------------------
# F18: pivot (long -> wide)


def priority_pivot(t: dict[str, DataFrame]) -> DataFrame:
    """Order counts per nation pivoted by priority (reference F18
    ``pivot_table``, ``python.py:159-161``). Explicit value list pins
    the schema; missing cells coalesce to 0."""
    star = _orders_star(t).select("n_name", "o_orderpriority", "o_orderkey")
    wide = reshape.pivot_wide(
        star.groupBy("n_name", "o_orderpriority").agg(F.count(F.lit(1)).alias("n")),
        index=["n_name"],
        pivot_col="o_orderpriority",
        value_col="n",
        values=PRIORITIES,
        agg="sum",
        fill=0,
    )
    renamed = wide.select(
        "n_name",
        *[F.col(f"`{p}`").cast("long").alias(a) for p, a in PRIORITY_ALIASES.items()],
    )
    return renamed.orderBy("n_name")


PRIORITY_PIVOT_ORACLE = f"""
WITH star AS ({_ORDERS_STAR_SQL})
SELECT n_name,
       COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS n_urgent,
       COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS n_high,
       COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS n_medium,
       COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS n_not_specified,
       COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS n_low
FROM star GROUP BY n_name ORDER BY n_name
"""


def priority_pivot_first(t: dict[str, DataFrame]) -> DataFrame:
    """A8: ``aggfunc='first'`` pivot (reference ``python.py:159-161``).
    first() is only deterministic when each pivot cell holds exactly one
    row — guaranteed here by pre-aggregating counts per (nation,
    priority) before pivoting, which is also the reference's situation
    (one population value per (state, county, year, category))."""
    star = _orders_star(t).select("n_name", "o_orderpriority")
    counts = star.groupBy("n_name", "o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    wide = reshape.pivot_wide(
        counts,
        index=["n_name"],
        pivot_col="o_orderpriority",
        value_col="n",
        values=PRIORITIES,
        agg="first",
        fill=0,
    )
    return wide.select(
        "n_name",
        *[F.col(f"`{p}`").cast("long").alias(a) for p, a in PRIORITY_ALIASES.items()],
    ).orderBy("n_name")


PRIORITY_PIVOT_FIRST_ORACLE = PRIORITY_PIVOT_ORACLE


def order_rollup(t: dict[str, DataFrame]) -> DataFrame:
    """ROLLUP aggregate (SURVEY §2.4 notes grouping sets as a free
    Spark built-in beyond reference parity): per (status, priority)
    counts with subtotals and a grand total; grouping_id distinguishes
    aggregation levels."""
    return (
        t["orders"]
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .orderBy("gid", "o_orderstatus", "o_orderpriority")
    )


ORDER_ROLLUP_ORACLE = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY gid, o_orderstatus, o_orderpriority
"""


# ---------------------------------------------------------------------------
# F17: melt (wide -> long)


def part_melt(t: dict[str, DataFrame]) -> DataFrame:
    """Unpivot part's numeric attributes to long form (reference F17
    ``pd.melt``, ``python.py:129``)."""
    out = reshape.melt(
        t["part"],
        id_vars=["p_partkey", "p_brand"],
        value_vars=["p_size", "p_retailprice"],
        var_name="metric",
        value_name="value",
    )
    return out.orderBy("p_partkey", "metric")


PART_MELT_ORACLE = """
SELECT p_partkey, p_brand, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, p_brand, 'p_retailprice' AS metric, CAST(p_retailprice AS DOUBLE) AS value FROM part
ORDER BY p_partkey, metric
"""


# ---------------------------------------------------------------------------
# A9/A10: group-wise median / deterministic mode


def brand_median_price(t: dict[str, DataFrame]) -> DataFrame:
    """Per-group median imputation (reference A9, ``python.py:170-174``):
    retail prices with synthesized NULLs (p_size < 10) filled by the
    per-brand median of the remaining values."""
    part = t["part"].select(
        "p_partkey",
        "p_brand",
        F.when(F.col("p_size") >= 10, F.col("p_retailprice")).alias("price"),
    )
    filled = imputation.group_median_fill(part, ["p_brand"], ["price"])
    return filled.select("p_partkey", "p_brand", F.col("price").alias("imputed_price")).orderBy(
        "p_partkey"
    )


BRAND_MEDIAN_PRICE_ORACLE = """
WITH src AS (
  SELECT p_partkey, p_brand,
         CASE WHEN p_size >= 10 THEN p_retailprice END AS price
  FROM part
)
SELECT p_partkey, p_brand,
       COALESCE(price, MEDIAN(price) OVER (PARTITION BY p_brand)) AS imputed_price
FROM src ORDER BY p_partkey
"""


def brand_mode_type(t: dict[str, DataFrame]) -> DataFrame:
    """Per-group deterministic mode (reference A10/D2,
    ``python.py:177-181``): most frequent p_type per brand, smallest
    value on ties (pandas ``mode().iloc[0]`` semantics)."""
    return imputation.deterministic_group_mode(
        t["part"], ["p_brand"], "p_type", mode_col="mode_type"
    ).orderBy("p_brand")


BRAND_MODE_TYPE_ORACLE = """
SELECT p_brand, p_type AS mode_type FROM (
  SELECT p_brand, p_type,
         ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY COUNT(*) DESC, p_type ASC) AS rn
  FROM part GROUP BY p_brand, p_type
) WHERE rn = 1 ORDER BY p_brand
"""


# ---------------------------------------------------------------------------
# P2/P3/P4/O2: projection + range predicate + preview limit


def recent_order_preview(t: dict[str, DataFrame]) -> DataFrame:
    """Date-range filter + projection + ordered preview (reference P4
    ``python.py:87``, P2/P3, O2 ``inserting-data.sql:7-10``). LIMIT needs
    a total order to be oracle-comparable, so this uses top-k semantics."""
    orders = t["orders"]
    filtered = orders.filter(
        F.col("o_orderdate").between(
            F.lit("1998-01-01").cast("timestamp_ntz"),
            F.lit("1998-12-31").cast("timestamp_ntz"),
        )
    ).select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    )
    return relational.top_k(filtered, [F.asc("o_orderkey")], 100)


RECENT_ORDER_PREVIEW_ORACLE = """
SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1998-01-01' AND TIMESTAMP '1998-12-31'
ORDER BY o_orderkey ASC LIMIT 100
"""


def brand_fuzzy_match(t: dict[str, DataFrame]) -> DataFrame:
    """Entity resolution over dirty natural keys: a deterministically
    mangled copy of every brand (chars 2 and 3 swapped — the classic
    transposition typo) is matched back to the clean brand list with
    relational.fuzzy_join_qgram: shared-q-gram candidates, levenshtein
    verification, never a cross product. Output includes legitimate
    near-misses (Brand#12 vs Brand#13) — fuzzy semantics, replayed
    identically by the oracle."""
    from ..operators.relational import fuzzy_join_qgram

    brands = t["part"].select("p_brand").distinct()
    dirty = brands.select(
        F.concat(
            F.substring("p_brand", 1, 1),
            F.substring("p_brand", 3, 1),
            F.substring("p_brand", 2, 1),
            F.expr("substring(p_brand, 4)"),
        ).alias("dirty_brand")
    )
    return fuzzy_join_qgram(
        dirty, brands, "dirty_brand", "p_brand", q=3, min_shared=2, max_distance=2
    ).orderBy("left_val", "right_val")


BRAND_FUZZY_MATCH_ORACLE = """
WITH brands AS (SELECT DISTINCT p_brand FROM part),
dirty AS (
  SELECT substr(p_brand, 1, 1) || substr(p_brand, 3, 1) || substr(p_brand, 2, 1)
         || substr(p_brand, 4) AS dirty_brand
  FROM brands
),
lg AS (
  SELECT dirty_brand AS left_val,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(length(dirty_brand) - 2, 1)),
           i -> substr(dirty_brand, i, 3)))) AS gram
  FROM (SELECT DISTINCT dirty_brand FROM dirty)
),
rg AS (
  SELECT p_brand AS right_val,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(length(p_brand) - 2, 1)),
           i -> substr(p_brand, i, 3)))) AS gram
  FROM brands
),
cand AS (
  SELECT left_val, right_val, COUNT(*) AS shared
  FROM lg JOIN rg USING (gram)
  GROUP BY left_val, right_val
  HAVING COUNT(*) >= 2
)
SELECT left_val, right_val,
       CAST(levenshtein(left_val, right_val) AS BIGINT) AS distance
FROM cand
WHERE levenshtein(left_val, right_val) <= 2
ORDER BY left_val, right_val
"""
