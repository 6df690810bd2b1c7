package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables
import Parity._

/** Final TPC-H wave — Q2 / Q11 / Q20 analogues, completing the 22-shape
  * set (SURVEY.md §2B "core relational"; Q1/Q3-Q10/Q12-Q19/Q21/Q22 live
  * in Relational/Extras/TpchMore). The driver schema has no `partsupp`
  * (FIXTURES.md), so the supply relation is DERIVED from lineitem:
  * (l_partkey, l_suppkey) is the supplier-part edge, min(l_extendedprice)
  * stands in for ps_supplycost and the shipped-quantity sum for
  * ps_availqty. All comparisons are exact (DECIMAL money, BIGINT
  * quantities), so min-cost argmax joins and threshold predicates
  * hash-match DuckDB under any partitioning.
  *
  * Scale stance: the supply relation aggregates the fact table on
  * (partkey, suppkey) — a key whose cardinality grows with the data, so
  * the groupBy shuffle stays balanced; supplier/nation/region/part are
  * broadcast; the min-cost-per-part argmax is a second keyed aggregate +
  * equi-join, never a sort of the whole relation.
  */
object TpchFinal {

  val defs: Seq[QueryDef] = Seq(

    // ---- Q2: minimum-cost supplier per part in one region (correlated
    //      min subquery → keyed min + exact-decimal equality join)
    QueryDef.checked(
      "q_tpch_q2_min_cost_supp",
      """WITH supply AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |    min(CAST(l_extendedprice AS DECIMAL(12,2))) AS ps_cost
        |  FROM lineitem GROUP BY 1, 2
        |), regional AS (
        |  SELECT ps_partkey, ps_suppkey, ps_cost, s_acctbal, s_name, n_name
        |  FROM supply
        |  JOIN supplier ON s_suppkey = ps_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'
        |)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |  CAST(r1.ps_cost AS DOUBLE) AS cost
        |FROM regional r1
        |JOIN part ON p_partkey = r1.ps_partkey
        |WHERE p_size BETWEEN 10 AND 25 AND p_type = 'SMALL'
        |  AND r1.ps_cost = (SELECT min(r2.ps_cost) FROM regional r2
        |                    WHERE r2.ps_partkey = r1.ps_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      // The part predicate and the correlated min are both per-partkey:
      // filtering whole partkey groups BEFORE the supply aggregation
      // cannot change any surviving group's min, so the broadcast
      // semi-join prunes the fact scan down to qualifying parts first —
      // the big groupBy then runs on a fraction of lineitem.
      val partsF = broadcast(t.part
        .filter(col("p_size").between(10, 25) && col("p_type") === "SMALL")
        .select("p_partkey", "p_name"))
      val supply = t.lineitem
        .join(partsF.select("p_partkey"),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_partkey").as("ps_partkey"),
          col("l_suppkey").as("ps_suppkey"))
        .agg(min(money(col("l_extendedprice"))).as("ps_cost"))
      // per-part argmax as ONE window pass over the aggregation's
      // existing partkey clustering — no self-join, no re-materialization
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("ps_partkey"))
      supply
        .join(broadcast(t.supplier), col("s_suppkey") === col("ps_suppkey"))
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region.filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .withColumn("min_cost", min(col("ps_cost")).over(w))
        .filter(col("ps_cost") === col("min_cost"))
        .join(partsF, col("p_partkey") === col("ps_partkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"),
          col("ps_cost").cast("double").as("cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    },

    // ---- Q11: important stock — per-part value from one nation's
    //      suppliers, kept where value exceeds a scalar fraction of the
    //      grand total (HAVING over a broadcast scalar subquery)
    QueryDef.checked(
      "q_tpch_q11_important_stock",
      """WITH val AS (
        |  SELECT l_partkey AS p_key,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |        * CAST(l_quantity AS DECIMAL(12,2))) AS value
        |  FROM lineitem
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3'
        |  GROUP BY l_partkey)
        |SELECT p_key, CAST(value AS DOUBLE) AS part_value
        |FROM val
        |WHERE CAST(value AS DOUBLE)
        |    > (SELECT CAST(sum(value) AS DOUBLE) FROM val) * 0.005
        |ORDER BY part_value DESC, p_key""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val natSupp = t.supplier
        .join(broadcast(t.nation.filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      // value per part feeds both the threshold scalar and the filter
      val value = t.lineitem
        .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey").as("p_key"))
        .agg(sum(money(col("l_extendedprice")) *
          col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
          .as("value"))
        .transform(localCheckpoint)
      val thr = value.agg((sum(col("value")).cast("double") * 0.005).as("thr"))
      value
        .crossJoin(broadcast(thr))
        .filter(col("value").cast("double") > col("thr"))
        .select(col("p_key"), col("value").cast("double").as("part_value"))
        .orderBy(col("part_value").desc, col("p_key"))
    },

    // ---- Q20: potential part promotion — suppliers whose 1997 shipped
    //      quantity of 'red …' parts exceeds 25% of that part's total
    //      (nested IN subqueries → keyed aggregates + semi join; the
    //      share predicate is integer-exact: sq*4 > tq)
    QueryDef.checked(
      "q_tpch_q20_promo_suppliers",
      """WITH shipped AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY l_partkey, l_suppkey
        |), tot AS (
        |  SELECT l_partkey, CAST(sum(sq) AS BIGINT) AS tq
        |  FROM shipped GROUP BY l_partkey
        |)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM shipped
        |  JOIN tot USING (l_partkey)
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE p_name LIKE 'red%' AND sq * 4 > tq)
        |ORDER BY s_suppkey""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      // shipped feeds both the per-(part,supplier) side and the per-part
      // total — one fact-table aggregation, materialized once
      val shipped = t.lineitem
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("long")).as("sq"))
        .transform(localCheckpoint)
      val tot = shipped.groupBy(col("l_partkey"))
        .agg(sum(col("sq")).as("tq"))
      val promoSupp = shipped
        .join(tot, Seq("l_partkey"))
        .join(broadcast(t.part.filter(col("p_name").like("red%"))),
          col("p_partkey") === col("l_partkey"))
        .filter(col("sq") * 4 > col("tq"))
        .select(col("l_suppkey"))
      t.supplier
        .join(promoSupp, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    }
  )
}
