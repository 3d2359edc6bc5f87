"""TPC-H-shaped join/agg suite: the classic decision-support
shapes adapted to the fixture's reduced schema (SURVEY §2.4 join-heavy suite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401
from pyspark.sql import types as T  # noqa: F401

from .base import bounded_sort, load, normalize_event_ts, register  # noqa: F401


# ---------------------------------------------------------------------------
# TPC-H-shaped join/agg suite (round 9): the classic decision-support
# shapes adapted to the fixture's reduced schema (no partsupp table, no
# commit/receipt dates, no shipmode/container columns — substitutions
# noted per query). Plan discipline: selective dimension filters build
# the small side, nation/region are hard-broadcast (cardinality bounded
# by the schema at 25/5 rows at ANY scale factor), everything else is
# left to AQE so a 100x scale-up degrades to shuffle joins instead of
# OOMing an executor.
# ---------------------------------------------------------------------------


@register(
    "q4_priority_exists",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="TPC-H Q4 shape (late shipment stands in for the fixture's "
        "absent commit/receipt dates): the EXISTS decorrelates to a "
        "LEFT SEMI hash join on l_orderkey with the date comparison as "
        "a residual — no subquery re-execution per row",
)
def q4_priority_exists(spark, sf_dir):
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    # r18 (guide §3.1): the semi join's build side is necessarily the
    # lineitem side (LeftSemi builds right), and the static planner was
    # BROADCASTING it — the 2-column projection estimates under the
    # 10 MB auto-broadcast threshold, so every execution collected and
    # shipped the whole 600k-row lineitem key set (the date-filtered
    # orders side is the small one, but a semi join cannot swap sides).
    # SHUFFLE_HASH shuffles both sides on orderkey and builds only a
    # per-partition slice of lineitem: −0.1..−0.17 s med at sf0.1, and
    # the per-partition build is bounded by AQE's advisory partition
    # sizing with no key skew (an order has ≤7 lines) — where the
    # broadcast build grows with the whole table.
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate").hint("shuffle_hash")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate
               > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        # o_orderpriority is a 5-value enum at any SF
        .transform(lambda d: bounded_sort(d, "o_orderpriority"))
    )


@register(
    "q5_local_supplier_volume",
    """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    doc="TPC-H Q5: 6-way star join, fully flat — every build side is a "
        "leaf scan so the planner broadcasts all five joins and the "
        "fact is never shuffled before the aggregate; the ASIA "
        "restriction lands at the pipelined region probe",
)
def q5_local_supplier_volume(spark, sf_dir):
    # r18 (guide §2.4/§3.1): fully flat star — every build side of the
    # fact chain is now a PLAIN FILTERED SCAN, so the static planner
    # broadcasts all five joins and the fact is never shuffled before
    # the aggregate. The previous shape pre-joined supplier with
    # nation/region into an `s` dim; a JOINED subtree has no usable
    # static size estimate, so the fact⨝s join planned as sort-merge —
    # the whole li⨝o⨝c intermediate was exchanged AND sorted on
    # (l_suppkey, c_nationkey) against a ~200-row build side (AQE
    # converted it to broadcast at runtime, but both map-side shuffle
    # writes and the extra stages still ran). Joining the raw supplier
    # scan instead and attaching nation/region AFTER (the ASIA
    # restriction lands at the region probe, two pipelined hash probes
    # later — same stage, no materialization in between) removes
    # 2 Exchanges + 2 Sorts + the SMJ. Scale posture unchanged: no new
    # hints on SF-growing tables — supplier/customer/orders broadcast
    # by the planner's own size check and fall back to shuffle joins
    # when they outgrow it; only schema-bounded nation (25 rows) and
    # region (≤5) carry hints. 10 → 8 jobs, med 0.542 → 0.446 s
    # (interleaved 9-rep A/B, one session, sf0.1); rows identical
    # (inner-join conjunction reorder).
    r = load(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA").select("r_regionkey")
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == F.col("s_suppkey"))
              & (c.c_nationkey == F.col("s_nationkey")))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 6).alias("revenue"))
        # nation is schema-bounded at 25 rows
        .transform(lambda d: bounded_sort(d, F.col("revenue").desc(), "n_name"))
    )


@register(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 6) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                           AND TIMESTAMP '1997-12-31 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7: bidirectional nation-pair trade volume. Both nation "
        "dimensions are pre-filtered to the two nations of interest and "
        "broadcast right after their parent scan joins the fact (flat "
        "star, no pre-joined dims); the pair predicate is a residual on "
        "the already-pruned rows",
)
def q7_volume_shipping(spark, sf_dir):
    n = load(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2"))
    n1 = n.select(F.col("n_nationkey").alias("s_nk"),
                  F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"),
                  F.col("n_name").alias("cust_nation"))
    # r18 (guide §2.4/§3.1, same rework as q5): join the fact to the
    # RAW supplier/customer scans and attach the filtered-nation
    # broadcasts AFTER, instead of pre-joining supplier⨝n1 /
    # customer⨝n2 dims — a joined subtree has no usable static size
    # estimate, so the customer-side dim planned as a shuffled-hash
    # join that exchanged the whole li⨝s⨝o intermediate on o_custkey
    # (and the supplier dim only broadcast because AQE rescued it).
    # With plain scans as every build side the static planner
    # broadcasts all five joins and the fact is never shuffled before
    # the aggregate; the 2-row nation probes drop non-matching rows
    # one pipelined join later (same stage, nothing materialized).
    # Scale posture unchanged: no hints on SF-growing tables — they
    # broadcast by the planner's own size check and degrade to shuffle
    # joins when they outgrow it. 8 → 7 jobs, 4 → 2 Exchanges, med
    # 0.598 → 0.569 / min 0.521 → 0.482 s (interleaved 9-rep A/B, one
    # session, sf0.1); rows identical.
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"))
    )
    o = load(spark, sf_dir, "orders")
    return (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == "NATION_1")
             & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2")
               & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 6).alias("revenue"))
        # 2 nations × 2 nations × a 2-year ship window
        .transform(lambda d: bounded_sort(
            d, "supp_nation", "cust_nation", "l_year"))
    )


@register(
    "q8_market_share",
    """
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region   ON n2.n_regionkey = r_regionkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                            AND TIMESTAMP '1997-12-31 00:00:00'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="TPC-H Q8 market share: the most selective filter (p_type, 1/6 "
        "of parts) prunes the fact rows first; the ASIA restriction "
        "reaches customers through pipelined nation/region probes on "
        "the flat fact chain; the share is one conditional-sum "
        "aggregate, not two passes",
)
def q8_market_share(spark, sf_dir):
    p = load(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY").select("p_partkey")
    # r18 (guide §2.4/§3.1, same rework as q5/q7): fully flat star —
    # the fact chain joins the RAW supplier and customer scans and the
    # nation/region probes attach right after each, instead of
    # pre-joining hinted `s`/`c` dim subtrees. The hinted joined
    # subtrees were the round-13 shape's documented scale risk (the
    # hint FORCES a broadcast of the SF-growing supplier/customer key
    # sets at any SF); plain scans broadcast by the planner's own size
    # check and degrade to shuffle joins when they outgrow it, and the
    # nested build-job chains (n2 → r → c; n1 → s) that serialized the
    # broadcast critical path are gone — every build side is now a
    # leaf scan, so all seven broadcasts build in parallel. Column
    # narrowing is kept (§2.3). Local wall unchanged (interleaved
    # 9-rep A/B, one session, sf0.1: med 0.892 → 0.891, min 0.766 →
    # 0.774 — the broadcast chains were off the critical path at this
    # size); the change is the scale posture + the removed forced
    # broadcasts of the supplier/customer subtrees. The type-filtered
    # part slice (1/6 of part, SF-growing) still carries a forced
    # F.broadcast hint. Rows identical (inner-join conjunction reorder
    # — the ASIA restriction lands at the region probe, pipelined in
    # the same stage).
    r = load(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA").select("r_regionkey")
    n2 = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"),
        F.col("n_name").alias("supp_nation"))
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_5", vol)
                      .otherwise(F.lit(0.0))) / F.sum(vol), 6
            ).alias("mkt_share")
        )
        # the 2-year order window bounds o_year to 2 rows
        .transform(lambda d: bounded_sort(d, "o_year"))
    )


@register(
    "q9_profit_by_nation_year",
    """
    SELECT n_name, o_year, round(sum(amount), 6) AS sum_profit
    FROM (
      SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount) AS amount
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY n_name, o_year
    ORDER BY n_name, o_year DESC
    """,
    doc="TPC-H Q9 shape (no partsupp in the fixture, so amount is "
        "discounted revenue rather than revenue minus supply cost): "
        "LIKE-filtered part keys prune the fact scan, supplier nation "
        "attributes arrive via broadcast nation",
)
def q9_profit_by_nation_year(spark, sf_dir):
    p = load(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")).select("p_partkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 6).alias("sum_profit"))
        # 25 nations × the order-date year domain (single-digit)
        .transform(lambda d: bounded_sort(d, "n_name", F.col("o_year").desc()))
    )


@register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 returned-item reporting: quarter + returnflag filters "
        "before the joins, broadcast nation, TakeOrderedAndProject top-20 "
        "with a unique tie-break (c_custkey) so both engines pick the "
        "same rows",
)
def q10_returned_items(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 6).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q14_promo_revenue",
    """
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                 THEN l_extendedprice * (1 - l_discount)
                                 ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    """,
    doc="TPC-H Q14 promo share: month filter prunes the fact scan; one "
        "conditional-sum aggregate computes the percentage in a single "
        "pass (the join keeps p_type, it is not pre-filtered — the "
        "CASE needs both branches)",
)
def q14_promo_revenue(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", vol)
                        .otherwise(F.lit(0.0))) / F.sum(vol), 6
            ).alias("promo_revenue")
        )
    )


@register(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(l_extendedprice * (1 - l_discount)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(total_revenue, 6) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q15 top supplier: the quarter revenue aggregate is "
        "supplier-cardinality-sized; its max is a 1-row broadcast "
        "joined back (ties preserved, as the spec requires) — no "
        "global sort, no window over the whole aggregate",
)
def q15_top_supplier(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(F.col("l_extendedprice")
              * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    s = load(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx),
                 F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name",
                F.round("total_revenue", 6).alias("total_revenue"))
        # the max-revenue tie set: 1 row barring exact float ties
        .transform(lambda d: bounded_sort(d, "s_suppkey"))
    )


@register(
    "q16_part_supplier_variety",
    """
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape (supplier-part links come from lineitem — the "
        "fixture has no partsupp): filtered part keys prune the scan, "
        "COUNT(DISTINCT) runs as Spark's two-phase exact distinct "
        "aggregate; full ORDER BY tie-break for cross-engine stability",
)
def q16_part_supplier_variety(spark, sf_dir):
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@register(
    "q17_small_quantity_revenue",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 6) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#12'
      AND l_quantity < 0.2 * (
        SELECT avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey)
    """,
    doc="TPC-H Q17 small-quantity orders: the correlated scalar average "
        "decorrelates to a per-part aggregate over the brand's parts "
        "(computed once, broadcast back) — never a per-row subquery. "
        "Quantities are integral doubles, so per-part averages are "
        "bit-identical across engines and the threshold cannot flip",
)
def q17_small_quantity_revenue(spark, sf_dir):
    p = load(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#12").select("p_partkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    li_b = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    thr = li_b.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li_b.join(F.broadcast(thr),
                  F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / F.lit(7.0), 6)
             .alias("avg_yearly"))
    )


@register(
    "q18_large_volume_customers",
    """
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           sum(l_quantity) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q18 large-volume customers: the HAVING aggregate runs "
        "once and its tiny survivor set drives broadcast joins to "
        "orders and customer — the IN-subquery never re-scans; "
        "integral quantities make the >300 cut exact in both engines",
)
def q18_large_volume_customers(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    big = li.groupBy("l_orderkey").agg(
        F.sum("l_quantity").alias("sum_qty")).filter(F.col("sum_qty") > 300)
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@register(
    "q19_disjunctive_brackets",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 disjunctive bracket predicate: the OR spans both "
        "join sides so it cannot push into either scan whole — the "
        "implementation adds the derivable envelope bounds "
        "(l_quantity 1..30, p_size 1..15) as explicit prefilters so "
        "the scans still prune, then evaluates the disjunction post-join",
)
def q19_disjunctive_brackets(spark, sf_dir):
    # envelope prefilters: implied by the OR, stated explicitly so they
    # reach the parquet scans as PushedFilters
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(1, 30))
    p = load(spark, sf_dir, "part").filter(
        F.col("p_size").between(1, 15)
        & F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#3")
    ).select("p_partkey", "p_brand", "p_size")
    bracket = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .filter(bracket)
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 6).alias("revenue"))
    )


@register(
    "q20_promo_part_suppliers",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_suppkey
      HAVING sum(l_quantity) > 400)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q20 shape (shipped PROMO volume stands in for the absent "
        "partsupp availability): the HAVING aggregate produces a "
        "unique-keyed supplier shortlist that inner-joins the supplier "
        "scan (row-equivalent to the SQL's semi join; the scan is the "
        "broadcast side)",
)
def q20_promo_part_suppliers(spark, sf_dir):
    p = load(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO").select("p_partkey")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    heavy = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 400)
        .select("l_suppkey")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    # r18 (guide §3.1): the semi join `s LEFT SEMI heavy` built against
    # an AGGREGATED subtree — no usable static size estimate, so the
    # planner exchanged BOTH sides and sort-merged (supplier is a 22 KB
    # scan!). An inner join with the supplier SCAN as the build side is
    # row-for-row equivalent — heavy's l_suppkey is unique (it is the
    # groupBy key) and s_suppkey is the supplier primary key, so each
    # supplier matches at most once and no duplicates can arise — and
    # the plain-scan build side lets the static planner broadcast it
    # (falls back to a shuffle join by its own size check at SFs where
    # supplier outgrows the threshold). 2 Exchanges + 2 Sorts + SMJ →
    # BHJ probe on the aggregate output. 7 → 6 jobs, med 0.332 →
    # 0.311 / min 0.298 → 0.277 s (interleaved 9-rep A/B, one
    # session, sf0.1).
    return (
        heavy.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@register(
    "q22_idle_high_balance",
    """
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c_acctbal), 6) AS totacctbal
    FROM customer c
    WHERE c_acctbal > (SELECT round(avg(c_acctbal), 6) FROM customer
                       WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c.c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    doc="TPC-H Q22 shape (recently-idle stands in for never-ordered — "
        "every sf0.01 customer has some order): scalar average arrives "
        "as a 1-row broadcast, the NOT EXISTS is a LEFT ANTI join "
        "against date-pruned orders",
)
def q22_idle_high_balance(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    # round-before-compare (repo convention, cf. iqr_outlier_fences): a
    # distributed double avg can differ from the oracle's in the last
    # ulp, and an unrounded threshold would let a borderline customer
    # flip between engines
    thr = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.round(F.avg("c_acctbal"), 6).alias("avg_bal"))
    recent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(thr))  # 1-row scalar, not a data join
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("numcust"),
             F.round(F.sum("c_acctbal"), 6).alias("totacctbal"))
        # c_nationkey is schema-bounded at 25 values
        .transform(lambda d: bounded_sort(d, "c_nationkey"))
    )


@register(
    "q2_min_cost_supplier",
    """
    WITH eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'),
    cost AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity)
             AS unit_cost
      FROM lineitem JOIN eu ON l_suppkey = s_suppkey
      GROUP BY 1, 2)
    SELECT s_acctbal, s_name, n_name, p_partkey,
           round(unit_cost, 6) AS best_cost
    FROM part JOIN cost ON p_partkey = l_partkey
    JOIN eu ON l_suppkey = s_suppkey
    WHERE p_type = 'LARGE'
      AND unit_cost = (SELECT min(c2.unit_cost) FROM cost c2
                       WHERE c2.l_partkey = p_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
    """,
    doc="TPC-H Q2 shape (observed min unit sell price from lineitem "
        "stands in for the absent partsupp supplycost): the correlated "
        "per-part MIN becomes a window min over the (part, supplier) "
        "cost aggregate — one shuffle on partkey serves both the "
        "aggregate and the correlation, no self-join. The supplier "
        "scan broadcasts into the lineitem stream with pipelined "
        "nation/region probes applying the EUROPE restriction; the "
        "double equality against the window min is "
        "exact because the min is an element of the compared set. The "
        "type-filtered part key set is hint-broadcast into the fact "
        "chain before the aggregate",
)
def q2_min_cost_supplier(spark, sf_dir):
    # r18 rework (guide §3.2/§2.4): the EUROPE supplier dim used to be
    # BUILT AND BROADCAST TWICE — once projected to s_suppkey for the
    # cost aggregate's semi-restriction, once in full for the final
    # attribute join (7 BroadcastExchanges / 9 Spark jobs; the two
    # subtrees prune to different projections, so ReuseExchange cannot
    # unify them). The dim attributes now ride THROUGH the aggregate as
    # extra group keys: s_suppkey is supplier's primary key, so
    # (l_partkey, l_suppkey, s_name, s_acctbal, n_name) induces exactly
    # the groups of (l_partkey, l_suppkey) and min(unit) is unchanged —
    # the second eu subtree (3 scans + 3 broadcasts + 1 join) vanishes.
    # At scale this also removes the broadcast of the FULL EUROPE
    # supplier set (1/5 of suppliers — the one q2 broadcast that grows
    # with SF) from the final join.
    # r18 second step (same rework as q5/q7/q8): the fact chain joins
    # the RAW supplier scan and attaches the nation/region probes right
    # after, instead of hint-broadcasting the pre-joined `eu` subtree —
    # the hint forced a broadcast of an SF-growing joined set (a joined
    # subtree has no usable static estimate, so without the hint it
    # would have sort-merged). A plain scan broadcasts by the planner's
    # own size check and degrades to a shuffle join when it outgrows
    # it; the EUROPE restriction lands at the region probe, pipelined
    # in the same stage. med 0.734 → 0.681 s (interleaved 9-rep A/B,
    # one session, sf0.1); rows identical.
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE").select("r_regionkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit"),
    )
    # both dimension prunes BEFORE the aggregate (round-13 rework,
    # ~15% faster): the LARGE-part key set is broadcast-sized, so
    # joining it here cuts the groupBy AND the per-part window input
    # by the part-type selectivity instead of filtering after both
    p = load(spark, sf_dir, "part").filter(
        F.col("p_type") == "LARGE").select("p_partkey")
    joined = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    )
    # ONE exchange serves both the aggregate and the per-part window
    # (guide §2.4 "two operations keyed the same way share one
    # exchange"): hash-partitioning on l_partkey alone satisfies the
    # aggregate's clustering requirement (l_partkey is a subset of the
    # group keys) AND the window's partitionBy — the planner's default
    # (exchange on all five group keys, then a second exchange on
    # l_partkey for the window) moves the same rows twice. Map-side
    # partial aggregation is no loss here: a (part, supplier) pair's
    # ~7 lineitem occurrences are scattered across the scan, so at any
    # real partition count each map partition sees a pair at most once
    # and the partial aggregate reduces nothing (§2.3).
    cost = (
        joined.repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min("unit").alias("unit_cost"))
    )
    best = cost.withColumn(
        "min_cost", F.min("unit_cost").over(W.partitionBy("l_partkey"))
    ).filter(F.col("unit_cost") == F.col("min_cost"))
    return (
        best.select("s_acctbal", "s_name", "n_name",
                    F.col("l_partkey").alias("p_partkey"),
                    F.round("unit_cost", 6).alias("best_cost"))
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q11_important_parts",
    """
    WITH val AS (
      SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS value
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_3', 'NATION_7')
      GROUP BY 1)
    SELECT l_partkey AS p_partkey, round(value, 4) AS value
    FROM val
    WHERE round(value, 6) > (SELECT round(sum(value) * 0.001, 6) FROM val)
    ORDER BY value DESC, p_partkey LIMIT 200
    """,
    doc="TPC-H Q11 shape (shipped revenue from the two nations' "
        "suppliers stands in for the absent partsupp stock value): "
        "per-part aggregate once, then the HAVING-fraction threshold "
        "arrives as a 1-row broadcast scalar — the fact table is "
        "scanned and shuffled exactly once and the threshold pass is "
        "a narrow filter over the already-aggregated (part, value) "
        "rows. Supplier dim broadcast; total order under LIMIT",
)
def q11_important_parts(spark, sf_dir):
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7"))
    sup = s.join(F.broadcast(n),
                 s.s_nationkey == n.n_nationkey).select("s_suppkey")
    li = load(spark, sf_dir, "lineitem")
    val = (
        li.join(F.broadcast(sup), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice")
                   * (1 - F.col("l_discount"))).alias("value"))
    )
    # round-before-compare on BOTH the per-part sums and the threshold
    # (repo convention): every side of the > is a distributed double sum
    # whose last ulp is partial-order dependent
    thr = val.agg(F.round(F.sum("value") * 0.001, 6).alias("thr"))
    return (
        val.crossJoin(F.broadcast(thr))  # 1-row scalar, not a data join
        .filter(F.round(F.col("value"), 6) > F.col("thr"))
        .select(F.col("l_partkey").alias("p_partkey"),
                F.round("value", 4).alias("value"))
        .orderBy(F.col("value").desc(), "p_partkey")
        .limit(200)
    )


@register(
    "q12_late_priority_lines",
    """
    SELECT l_returnflag,
           CAST(count(*) FILTER (WHERE o_orderpriority IN
                ('1-URGENT', '2-HIGH')) AS BIGINT) AS high_line_count,
           CAST(count(*) FILTER (WHERE o_orderpriority NOT IN
                ('1-URGENT', '2-HIGH')) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="TPC-H Q12 shape (90-day ship lateness over shipdate/orderdate "
        "stands in for the absent commit/receipt dates and returnflag "
        "for shipmode): one big join shuffled on orderkey, then "
        "conditional counts by priority class fold into a single "
        "partial+final aggregate over a 3-key group domain — the "
        "two FILTER counts share one pass",
)
def q12_late_priority_lines(spark, sf_dir):
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_returnflag")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            # when/when (no otherwise) leaves NULL priorities out of BOTH
            # counts, exactly like the SQL FILTER's three-valued IN /
            # NOT IN — an otherwise(1) would have counted NULLs as low
            F.sum(F.when(high, 1).when(~high, 0)).cast("long")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).when(~high, 1)).cast("long")
            .alias("low_line_count"),
        )
        # l_returnflag is a ≤3-value enum at any SF
        .transform(lambda d: bounded_sort(d, "l_returnflag"))
    )


@register(
    "q13_customer_distribution",
    """
    WITH c_orders AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 shape (priority exclusion stands in for the comment "
        "LIKE filter): LEFT join keeps order-less customers, "
        "count(o_orderkey) turns their NULL matches into 0, and the "
        "distribution-of-counts is the classic double aggregation — "
        "shuffle on custkey, then on the tiny c_count domain. The "
        "excluded-priority predicate lives in the join condition, not "
        "a WHERE (a WHERE would silently drop the NULL-extended rows)",
)
def q13_customer_distribution(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority")
    per_cust = (
        c.join(o, (F.col("c_custkey") == F.col("o_custkey"))
               & (F.col("o_orderpriority") != "1-URGENT"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q21_waiting_suppliers",
    """
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND n_name IN ('NATION_0', 'NATION_2', 'NATION_5',
                     'NATION_11', 'NATION_19')
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100
    """,
    doc="TPC-H Q21 shape (60-day ship lateness stands in for "
        "receipt-after-commit): the correlated EXISTS / NOT EXISTS "
        "pair is per-order supplier counts — an order qualifies a "
        "late line iff it has >=2 distinct suppliers (EXISTS) and "
        "exactly 1 distinct LATE supplier (NOT EXISTS, which must be "
        "the line's own). SINGLE-PASS plan (round-13 rework, ~20% "
        "faster than the countDistinct formulation it replaced): the "
        "F-pruned join collapses to one row per (order, supplier) "
        "carrying late_lines (Q21 counts l1 ROWS, so the qualifying "
        "supplier's late-line count is the order's numwait "
        "contribution), then one order-partitioned window derives "
        "both distinct counts with NO expand and NO second pass over "
        "the join — the countDistinct pair cost an Expand plus a "
        "re-aggregation and a second orderkey shuffle of the "
        "candidate side. The 5-nation supplier dim broadcasts at the "
        "end, after the candidate set has already collapsed.",
)
def q21_waiting_suppliers(spark, sf_dir):
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn(
            "is_late",
            (F.col("l_shipdate")
             > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
            .cast("int"))
        .select("l_orderkey", "l_suppkey", "is_late")
    )
    # one row per (order, supplier): the window below then counts
    # distinct suppliers as plain COUNT/SUM — no Expand, no re-join.
    # r18: ONE exchange serves both this aggregate and the window
    # (guide §2.4) — hash-partitioning on l_orderkey alone satisfies
    # the aggregate's clustering requirement (subset of its group keys)
    # and the window's partitionBy, where the planner's default moved
    # the rows twice (exchange on (l_orderkey, l_suppkey), then again
    # on l_orderkey). Losing map-side partial aggregation costs
    # nothing: (order, supplier) pairs repeat ≤7× (lines per order)
    # and those lines are scattered across the scan, so at any real
    # partition count the partial aggregate reduces ~nothing (§2.3);
    # no skew risk — an order has ≤7 lines. 7 → 6 jobs, −0.2 s med
    # at sf0.1; rows identical.
    ps = j.repartition("l_orderkey").groupBy("l_orderkey", "l_suppkey").agg(
        F.sum("is_late").alias("late_lines"),
        F.max("is_late").alias("late"),
    )
    w = W.partitionBy("l_orderkey")
    cand = (
        ps.withColumn("n_supp", F.count("*").over(w))
        .withColumn("n_late", F.sum("late").over(w))
        .filter((F.col("late") == 1) & (F.col("n_supp") >= 2)
                & (F.col("n_late") == 1))
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name").isin(
        "NATION_0", "NATION_2", "NATION_5", "NATION_11", "NATION_19"))
    sup = s.join(F.broadcast(n),
                 s.s_nationkey == n.n_nationkey).select("s_suppkey", "s_name")
    return (
        cand.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("late_lines").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


