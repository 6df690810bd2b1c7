package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import Parity._

/** Second TPC-H wave (SURVEY.md §2B "core relational" breadth): the
  * subquery-heavy shapes — EXISTS / NOT EXISTS (Q4, Q21, Q22), IN +
  * HAVING (Q18), NOT IN (Q16), correlated scalar aggregate (Q17),
  * decimal-exact argmax (Q15), conditional-share (Q8), multi-nation
  * volume (Q7), profit rollup (Q9), returned-item top-k (Q10),
  * distribution-of-counts (Q13), and disjunctive predicates (Q19) —
  * adapted to the driver's star schema (FIXTURES.md: no partsupp,
  * synthetic NATION_n names, ship/order dates 1995-2001, p_retailprice
  * standing in for supply cost).
  *
  * Scale stance: dimension sides (part, supplier, nation, customer at
  * test SFs) broadcast; fact-fact joins shuffle on their keys; every
  * money aggregate goes through Parity's exact-decimal path so results
  * are reproducible under any partitioning (and hash-match DuckDB).
  */
object TpchMore {

  private val duckDisc =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))"

  val defs: Seq[QueryDef] = Seq(

    // ---- Q4: order-priority counts where at least one line shipped late
    //      (EXISTS → left-semi join with a cross-table predicate)
    QueryDef.checked(
      "q_tpch_q4_priority_exists",
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.orders
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(t.lineitem,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },

    // ---- Q7: bilateral shipping volume between two nations by year
    QueryDef.checked(
      "q_tpch_q7_nation_volume",
      s"""SELECT supp_nation, cust_nation, l_year,
         |  CAST(sum(volume) AS DOUBLE) AS revenue
         |FROM (
         |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |    year(l_shipdate) AS l_year, $duckDisc AS volume
         |  FROM supplier
         |  JOIN lineitem ON s_suppkey = l_suppkey
         |  JOIN orders ON o_orderkey = l_orderkey
         |  JOIN customer ON c_custkey = o_custkey
         |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) shipping
         |GROUP BY supp_nation, cust_nation, l_year
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val n1 = t.nation.select(col("n_nationkey").as("n1key"), col("n_name").as("supp_nation"))
      val n2 = t.nation.select(col("n_nationkey").as("n2key"), col("n_name").as("cust_nation"))
      t.lineitem
        .join(t.orders, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(t.customer), col("c_custkey") === col("o_custkey"))
        .join(broadcast(t.supplier), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("n1key"))
        .join(broadcast(n2), col("c_nationkey") === col("n2key"))
        .filter(
          (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(discPrice(col("l_extendedprice"), col("l_discount")))
          .cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    // ---- Q8: one nation's market share inside a region, per year
    //      (decimal-exact conditional share)
    QueryDef.checked(
      "q_tpch_q8_market_share",
      s"""SELECT o_year,
         |  CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume
         |           ELSE CAST(0 AS DECIMAL(17,4)) END) AS DOUBLE)
         |    / CAST(sum(volume) AS DOUBLE) AS mkt_share,
         |  count(*) AS n_lines
         |FROM (
         |  SELECT year(o_orderdate) AS o_year, $duckDisc AS volume,
         |    n2.n_name AS supp_nation
         |  FROM part
         |  JOIN lineitem ON p_partkey = l_partkey
         |  JOIN supplier ON s_suppkey = l_suppkey
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |  JOIN region ON n1.n_regionkey = r_regionkey
         |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY') all_nations
         |GROUP BY o_year
         |ORDER BY o_year""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val n1 = t.nation.select(col("n_nationkey").as("n1key"), col("n_regionkey").as("n1region"))
      val n2 = t.nation.select(col("n_nationkey").as("n2key"), col("n_name").as("supp_nation"))
      val vol = discPrice(col("l_extendedprice"), col("l_discount"))
      t.lineitem
        .join(broadcast(t.part.filter(col("p_type") === "ECONOMY")),
          col("p_partkey") === col("l_partkey"))
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.supplier), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(n1), col("c_nationkey") === col("n1key"))
        .join(broadcast(t.region.filter(col("r_name") === "AMERICA")),
          col("n1region") === col("r_regionkey"))
        .join(broadcast(n2), col("s_nationkey") === col("n2key"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          (sum(when(col("supp_nation") === "NATION_5", vol)
            .otherwise(lit(0).cast(DecimalType(17, 4)))).cast("double") /
            sum(vol).cast("double")).as("mkt_share"),
          count(lit(1)).as("n_lines"))
        .orderBy("o_year")
    },

    // ---- Q9: profit per supplier nation per year (p_retailprice stands
    //      in for ps_supplycost; all decimal-exact)
    QueryDef.checked(
      "q_tpch_q9_profit",
      s"""SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
         |FROM (
         |  SELECT n_name AS nation, year(o_orderdate) AS o_year,
         |    $duckDisc - CAST(p_retailprice AS DECIMAL(12,2))
         |              * CAST(l_quantity AS DECIMAL(12,2)) AS amount
         |  FROM part
         |  JOIN lineitem ON p_partkey = l_partkey
         |  JOIN supplier ON s_suppkey = l_suppkey
         |  JOIN orders ON o_orderkey = l_orderkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  WHERE p_type = 'STANDARD') profit
         |GROUP BY nation, o_year
         |ORDER BY nation, o_year DESC""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val amount = discPrice(col("l_extendedprice"), col("l_discount")) -
        money(col("p_retailprice")) * col("l_quantity").cast(DecimalType(12, 2))
      t.lineitem
        .join(broadcast(t.part.filter(col("p_type") === "STANDARD")),
          col("p_partkey") === col("l_partkey"))
        .join(t.orders, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(t.supplier), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(amount).cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },

    // ---- Q10: returned-item reporting — top 20 customers by lost revenue
    QueryDef.checked(
      "q_tpch_q10_returns",
      s"""SELECT c_custkey, c_name,
         |  CAST(sum($duckDisc) AS DOUBLE) AS revenue,
         |  c_acctbal, n_name
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-07-01'
         |  AND l_returnflag = 'R'
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.lineitem.filter(col("l_returnflag") === "R")
        .join(t.orders.filter(
          col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-07-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t.customer), col("c_custkey") === col("o_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum(discPrice(col("l_extendedprice"), col("l_discount")))
          .cast("double").as("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // ---- Q13: distribution of per-customer order counts (left join with
    //      an ON-clause filter, two-level aggregation)
    QueryDef.checked(
      "q_tpch_q13_custdist",
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.customer
        .join(t.orders.filter(col("o_orderpriority") =!= "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // ---- Q15: top supplier by quarterly revenue — decimal-exact argmax
    //      (revenue equality against the max is exact, not float-fuzzy)
    QueryDef.checked(
      "q_tpch_q15_top_supplier",
      s"""WITH revenue AS (
         |  SELECT l_suppkey AS supplier_no, sum($duckDisc) AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |    AND l_shipdate < TIMESTAMP '1997-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
         |FROM supplier JOIN revenue ON s_suppkey = supplier_no
         |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
         |ORDER BY s_suppkey""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val rev = t.lineitem
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sum(discPrice(col("l_extendedprice"), col("l_discount")))
          .as("total_revenue"))
        .transform(localCheckpoint) // reused by the max subquery and the join
      val mx = rev.agg(max(col("total_revenue")).as("mx"))
      rev.join(broadcast(mx), col("total_revenue") === col("mx"))
        .join(broadcast(t.supplier), col("s_suppkey") === col("supplier_no"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_revenue").cast("double").as("total_revenue"))
        .orderBy("s_suppkey")
    },

    // ---- Q16: supplier count per brand/type, excluding flagged suppliers
    //      (NOT IN → anti join; count-distinct over the join result)
    QueryDef.checked(
      "q_tpch_q16_supplier_cnt",
      """SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#3'
        |  AND p_size IN (1, 3, 9, 14, 23, 36, 45, 49)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type
        |ORDER BY supplier_cnt DESC, p_brand, p_type""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.lineitem
        .join(broadcast(t.part.filter(col("p_brand") =!= "Brand#3" &&
          col("p_size").isin(1, 3, 9, 14, 23, 36, 45, 49))),
          col("p_partkey") === col("l_partkey"))
        .join(broadcast(t.supplier.filter(col("s_acctbal") < 0)
          .select(col("s_suppkey"))),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"))
    },

    // ---- Q17: small-quantity revenue — correlated scalar aggregate
    //      (per-part avg; exact because quantities are integral doubles)
    QueryDef.checked(
      "q_tpch_q17_small_qty",
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly,
        |  count(*) AS n_lines
        |FROM lineitem l1 JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#5'
        |  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
        |                    FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val perPart = t.lineitem
        .groupBy(col("l_partkey").as("pk2"))
        .agg(avg(col("l_quantity")).as("avg_qty"))
      t.lineitem
        .join(broadcast(t.part.filter(col("p_brand") === "Brand#5")),
          col("l_partkey") === col("p_partkey"))
        .join(perPart, col("l_partkey") === col("pk2"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(
          (sum(money(col("l_extendedprice"))).cast("double") / 7.0).as("avg_yearly"),
          count(lit(1)).as("n_lines"))
    },

    // ---- Q18: large-volume orders (IN over a HAVING subquery; quantity
    //      sums as exact BIGINTs)
    QueryDef.checked(
      "q_tpch_q18_large_orders",
      """SELECT c_custkey, c_name, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS orderdate, o_totalprice,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS BIGINT)) > 250)
        |GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val big = t.lineitem
        .groupBy(col("l_orderkey").as("big_ok"))
        .agg(sum(col("l_quantity").cast("long")).as("qty"))
        .filter(col("qty") > 250)
        .select("big_ok")
      t.lineitem
        .join(big, col("l_orderkey") === col("big_ok"), "left_semi")
        .join(t.orders, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(t.customer), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("orderdate"), col("o_totalprice"))
        .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    },

    // ---- Q19: disjunctive brand/size/quantity predicates over a
    //      broadcast part join
    QueryDef.checked(
      "q_tpch_q19_disjunctive",
      s"""SELECT CAST(sum($duckDisc) AS DOUBLE) AS revenue, count(*) AS n_lines
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
         |       AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 35
         |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.lineitem
        .join(broadcast(t.part), col("p_partkey") === col("l_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
            (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
              col("l_quantity").between(10, 20)) ||
            (col("p_brand") === "Brand#15" && col("p_size").between(1, 35) &&
              col("l_quantity").between(20, 30)))
        .agg(sum(discPrice(col("l_extendedprice"), col("l_discount")))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    },

    // ---- Q21: suppliers who were the ONLY late shipper on a multi-
    //      supplier finished order (EXISTS + NOT EXISTS → semi + anti)
    QueryDef.checked(
      "q_tpch_q21_waiting",
      """WITH forders AS (
        |  SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'
        |), late AS (
        |  SELECT l_orderkey, l_suppkey
        |  FROM lineitem JOIN forders ON l_orderkey = o_orderkey
        |  WHERE l_shipdate > o_orderdate)
        |SELECT s_name, count(*) AS numwait
        |FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val forders = t.orders.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      // late feeds both the candidate set and the NOT EXISTS side
      val late = t.lineitem
        .join(forders, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate"))
        .select(col("l_orderkey"), col("l_suppkey"))
        .transform(localCheckpoint)
      val l2 = t.lineitem.select(col("l_orderkey").as("lo2"), col("l_suppkey").as("ls2"))
      val l3 = late.select(col("l_orderkey").as("lo3"), col("l_suppkey").as("ls3"))
      late
        .join(l2, col("l_orderkey") === col("lo2") &&
          col("l_suppkey") =!= col("ls2"), "left_semi")
        .join(l3, col("l_orderkey") === col("lo3") &&
          col("l_suppkey") =!= col("ls3"), "left_anti")
        .join(broadcast(t.supplier), col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    },

    // ---- Q22: well-funded customers with no recent orders (scalar avg
    //      threshold, exact-decimal; NOT EXISTS → anti join)
    QueryDef.checked(
      "q_tpch_q22_idle_customers",
      """SELECT c_mktsegment, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (
        |    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*)
        |    FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val thr = t.customer.filter(col("c_acctbal") > 0.0)
        .agg((sum(money(col("c_acctbal"))).cast("double") /
          count(lit(1))).as("thr"))
      val recent = t.orders
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      t.customer
        .crossJoin(broadcast(thr))
        .filter(col("c_acctbal") > col("thr"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("numcust"),
          sum(money(col("c_acctbal"))).cast("double").as("totacctbal"))
        .orderBy("c_mktsegment")
    }
  )
}
