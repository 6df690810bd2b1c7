package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import Parity._

/** Core relational operator surface (SURVEY.md §2B "Core relational").
  *
  * Each query is a `QueryDef` with a DuckDB oracle twin. Discipline for
  * oracle parity (SURVEY.md §7.5): every output totally ordered on a
  * unique key set; every aggregate column aliased identically on both
  * sides; monetary aggregates via exact decimals (see [[Parity]]);
  * `NULLS FIRST` spelled out in DuckDB SQL wherever a sort key is
  * nullable (Spark's ASC default is nulls-first, DuckDB's is nulls-last).
  *
  * Scale stance: fact-side plans keep filters/projections adjacent to the
  * scan (pushdown), join dimension tables with `broadcast()` where the
  * dimension is bounded, and express non-equi conditions as residuals on
  * top of an equi key whenever one exists so Catalyst can still pick a
  * hash/sort-merge join instead of BNLJ.
  */
object Relational {

  val defs: Seq[QueryDef] = Seq(

    // ---- flagship: scan → filter → project → agg → sort on the fact table
    QueryDef.checked(
      "q1_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2)) * CAST(1.0 + l_tax AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
        |  sum(l_quantity) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (spark, dir) =>
      val li = Tables(spark, dir).lineitem
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("double").as("sum_qty"),
          sumMoney(col("l_extendedprice")).as("sum_base_price"),
          sum(discPrice(col("l_extendedprice"), col("l_discount"))).cast("double").as("sum_disc_price"),
          sum(charge(col("l_extendedprice"), col("l_discount"), col("l_tax"))).cast("double").as("sum_charge"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (sumMoney(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
          (sumRate(col("l_discount")) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ---- filter: IN / LIKE / BETWEEN / null-guard, pushed to the scan
    QueryDef.checked(
      "q_filter_predicates",
      """SELECT p_partkey, p_name, p_brand, p_type, p_size
        |FROM part
        |WHERE p_size BETWEEN 10 AND 30
        |  AND p_brand IN ('Brand#7','Brand#8','Brand#9','Brand#13','Brand#16','Brand#19')
        |  AND p_name LIKE '%bolt%'
        |  AND p_type IS NOT NULL
        |ORDER BY p_partkey""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).part
        .filter(col("p_size").between(10, 30) &&
          col("p_brand").isin("Brand#7", "Brand#8", "Brand#9",
            "Brand#13", "Brand#16", "Brand#19") &&
          col("p_name").like("%bolt%") &&
          col("p_type").isNotNull)
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
        .orderBy("p_partkey")
    },

    // ---- inner join chain across the star (customer ⋈ orders ⋈ lineitem)
    QueryDef.checked(
      "q_join_inner",
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      // customer is a bounded dimension at any SF → broadcast side of the
      // orders join; lineitem⋈orders stays a shuffle join on the fact keys.
      t.lineitem
        .join(t.orders, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(t.customer), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          sum(discPrice(col("l_extendedprice"), col("l_discount"))).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("c_mktsegment"))
    },

    // ---- left outer join: keep customers with zero orders
    QueryDef.checked(
      "q_join_left_outer",
      """SELECT c_custkey, c_mktsegment,
        |  count(o_orderkey) AS n_orders,
        |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS total_spend
        |FROM customer
        |LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_mktsegment
        |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.customer
        .join(t.orders, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(money(col("o_totalprice"))), lit(0)).cast("double").as("total_spend"))
        .orderBy(col("c_custkey"))
    },

    // ---- full outer join on derived daily keys (dates genuinely mismatch:
    //      shipments run past the last order date)
    QueryDef.checked(
      "q_join_full_outer",
      """WITH s AS (
        |  SELECT CAST(l_shipdate AS DATE) AS d, count(*) AS n_ship
        |  FROM lineitem GROUP BY CAST(l_shipdate AS DATE)
        |), o AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n_ord
        |  FROM orders GROUP BY CAST(o_orderdate AS DATE)
        |)
        |SELECT coalesce(s.d, o.d) AS d,
        |  coalesce(n_ship, 0) AS n_ship,
        |  coalesce(n_ord, 0) AS n_ord
        |FROM s FULL OUTER JOIN o ON s.d = o.d
        |ORDER BY d""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val s = t.lineitem.groupBy(col("l_shipdate").cast("date").as("d"))
        .agg(count(lit(1)).as("n_ship"))
      val o = t.orders.groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(count(lit(1)).as("n_ord"))
      s.join(o, s("d") === o("d"), "full_outer")
        .select(
          coalesce(s("d"), o("d")).as("d"),
          coalesce(col("n_ship"), lit(0L)).as("n_ship"),
          coalesce(col("n_ord"), lit(0L)).as("n_ord"))
        .orderBy(col("d"))
    },

    // ---- explicit broadcast-hash join: fact ⋈ broadcast(dim)
    QueryDef.checked(
      "q_join_broadcast",
      """SELECT p_brand,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.lineitem
        .join(broadcast(t.part), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          sum(discPrice(col("l_extendedprice"), col("l_discount"))).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("p_brand"))
    },

    // ---- left semi join (EXISTS)
    QueryDef.checked(
      "q_join_semi",
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.customer
        .join(t.orders.filter(col("o_orderstatus") === "O"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    },

    // ---- left anti join (NOT EXISTS): customers who never placed an
    //      urgent order (non-empty at every SF, unlike "no orders at all")
    QueryDef.checked(
      "q_join_anti",
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.customer
        .join(t.orders.filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // ---- theta self-join: equi key (nation) + inequality residual, so the
    //      planner keeps a hash join with a post-filter instead of BNLJ
    QueryDef.checked(
      "q_join_theta",
      """SELECT s1.s_nationkey AS nationkey, count(*) AS n_pairs
        |FROM supplier s1 JOIN supplier s2
        |  ON s1.s_nationkey = s2.s_nationkey AND s1.s_acctbal < s2.s_acctbal
        |GROUP BY s1.s_nationkey
        |ORDER BY s1.s_nationkey""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val s1 = t.supplier.select(
        col("s_suppkey").as("k1"), col("s_nationkey").as("n1"), col("s_acctbal").as("b1"))
      val s2 = t.supplier.select(
        col("s_suppkey").as("k2"), col("s_nationkey").as("n2"), col("s_acctbal").as("b2"))
      s1.join(s2, col("n1") === col("n2") && col("b1") < col("b2"))
        .groupBy(col("n1").as("nationkey"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("nationkey"))
    },

    // ---- range join: equi key + band residual (price within ±20% of the
    //      part's retail price)
    QueryDef.checked(
      "q_join_range",
      """SELECT p_type, count(*) AS n_in_band
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |  AND l_extendedprice >= p_retailprice * 8.0
        |  AND l_extendedprice <= p_retailprice * 40.0
        |GROUP BY p_type
        |ORDER BY p_type""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.lineitem
        .join(broadcast(t.part),
          col("l_partkey") === col("p_partkey") &&
            col("l_extendedprice") >= col("p_retailprice") * lit(8.0) &&
            col("l_extendedprice") <= col("p_retailprice") * lit(40.0))
        .groupBy(col("p_type"))
        .agg(count(lit(1)).as("n_in_band"))
        .orderBy(col("p_type"))
    },

    // ---- aggregate stats: count / min / max / avg / count-distinct
    QueryDef.checked(
      "q_agg_stats",
      """SELECT o_orderpriority,
        |  count(*) AS n_orders,
        |  min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
        |  count(DISTINCT o_custkey) AS n_customers
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).orders
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          (sumMoney(col("o_totalprice")) / count(lit(1))).as("avg_price"),
          countDistinct(col("o_custkey")).as("n_customers"))
        .orderBy(col("o_orderpriority"))
    },

    // ---- distinct (dropDuplicates)
    QueryDef.checked(
      "q_distinct",
      """SELECT DISTINCT o_orderstatus, o_orderpriority
        |FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).orders
        .select("o_orderstatus", "o_orderpriority")
        .dropDuplicates()
        .orderBy("o_orderstatus", "o_orderpriority")
    },

    // ---- exact count-distinct at fact scale (shuffle on the distinct key)
    QueryDef.checked(
      "q_count_distinct",
      """SELECT o_orderstatus,
        |  count(DISTINCT o_custkey) AS n_custs,
        |  count(*) AS n_orders
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).orders
        .groupBy(col("o_orderstatus"))
        .agg(
          countDistinct(col("o_custkey")).as("n_custs"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus"))
    },

    // ---- approx distinct (HLL). The sketch estimate itself is
    //      engine-specific (DuckDB can't reproduce Spark's HLL++ bit-for-
    //      bit), so the hash-checked contract is the estimate's ERROR
    //      BOUND: |approx − exact| / exact ≤ 5% (rsd = 0.02 → 2.5σ).
    //      The oracle computes the exact side and asserts the flag true;
    //      ScalaTest additionally bounds the raw estimate.
    QueryDef.checked(
      "q_approx_distinct",
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS n_exact,
        |  count(*) AS n_lines,
        |  TRUE AS approx_within_5pct
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_orderkey")).as("n_exact"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
          count(lit(1)).as("n_lines"))
        .select(col("l_returnflag"), col("n_exact"), col("n_lines"),
          (abs(col("approx_orders") - col("n_exact")).cast("double") /
            col("n_exact") <= 0.05).as("approx_within_5pct"))
        .orderBy(col("l_returnflag"))
    },

    // ---- rollup over the region→nation hierarchy
    QueryDef.checked(
      "q_rollup",
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.customer
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_customers"),
          sum(money(col("c_acctbal"))).cast("double").as("total_bal"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
    },

    // ---- cube
    QueryDef.checked(
      "q_cube",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).lineitem
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // ---- grouping sets (SQL front end — the engine gets ANTLR parse +
    //      the same Catalyst pipeline for free, SURVEY.md §3.2)
    QueryDef.checked(
      "q_grouping_sets",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.orders.createOrReplaceTempView("graft_orders_gs")
      spark.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n
          |FROM graft_orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
    },

    // ---- share-of-parent from ONE rollup pass: grouping_id()
    //      distinguishes detail/subtotal/grand-total rows, and each
    //      detail row divides by its parent subtotal via a self-join on
    //      the rollup output — the "percent of parent" every BI layer
    //      computes, without re-scanning the facts per level. Shares
    //      divide exact integer counts; |domains|-sized relations only
    //      after the single fact aggregate.
    QueryDef.checked(
      "q_share_of_parent",
      """WITH r AS (
        |  SELECT l_returnflag, l_linestatus,
        |    grouping_id(l_returnflag, l_linestatus) AS gid,
        |    count(*) AS n
        |  FROM lineitem
        |  GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |)
        |SELECT d.l_returnflag, d.l_linestatus, d.n,
        |  p.n AS parent_n,
        |  round(CAST(d.n AS DOUBLE) / p.n, 6) AS share_of_flag,
        |  g.n AS grand_n,
        |  round(CAST(d.n AS DOUBLE) / g.n, 6) AS share_of_total
        |FROM r d
        |JOIN r p ON p.gid = 1 AND p.l_returnflag = d.l_returnflag
        |JOIN r g ON g.gid = 3
        |WHERE d.gid = 0
        |ORDER BY d.l_returnflag, d.l_linestatus""".stripMargin) { (spark, dir) =>
      val r = Tables(spark, dir).lineitem
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"))
        .transform(localCheckpoint) // three self-join consumers of one rollup
      val d = r.filter(col("gid") === 0)
        .select(col("l_returnflag"), col("l_linestatus"), col("n"))
      val p = r.filter(col("gid") === 1)
        .select(col("l_returnflag").as("pf"), col("n").as("parent_n"))
      val g = r.filter(col("gid") === 3)
        .select(col("n").as("grand_n"))
      d.join(broadcast(p), col("pf") === col("l_returnflag"))
        .crossJoin(broadcast(g))
        .select(col("l_returnflag"), col("l_linestatus"), col("n"),
          col("parent_n"),
          round(col("n").cast("double") / col("parent_n"), 6)
            .as("share_of_flag"),
          col("grand_n"),
          round(col("n").cast("double") / col("grand_n"), 6)
            .as("share_of_total"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ---- schema-drift union: two snapshots with different column sets
    //      merged by NAME with missing columns null-filled —
    //      Dataset.unionByName(allowMissingColumns), the API that keeps
    //      a long-lived pipeline running across schema versions
    //      (reference pass-through schemas, clone_databases.sh:246 —
    //      here drift is handled, not just preserved). Oracle spells
    //      out the null-extension explicitly.
    QueryDef.checked(
      "q_union_by_name",
      """SELECT o_orderkey, o_orderstatus,
        |  o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority,
        |  'v1' AS src
        |FROM orders WHERE o_orderkey % 100 = 0
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus,
        |  CAST(NULL AS DOUBLE) AS o_totalprice, o_orderpriority, 'v2' AS src
        |FROM orders WHERE o_orderkey % 100 = 1
        |ORDER BY o_orderkey, src""".stripMargin) { (spark, dir) =>
      val orders = Tables(spark, dir).orders
      val v1 = orders.filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), lit("v1").as("src"))
      val v2 = orders.filter(col("o_orderkey") % 100 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"), lit("v2").as("src"))
      v1.unionByName(v2, allowMissingColumns = true)
        .orderBy("o_orderkey", "src")
    }
  )
}
