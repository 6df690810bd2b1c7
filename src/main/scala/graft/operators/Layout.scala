package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import Parity._

/** Data-layout operators (SURVEY.md "Partitioning & shuffle"): the three
  * write-side levers that decide whether a 100 TB query shuffles or scans
  * more than it must, each exercised end-to-end as a write → read-back →
  * query cycle so the oracle checks the full round trip.
  *
  *   - **Bucketing** (`q_bucketed_join`): both fact tables written
  *     `bucketBy(orderkey)` — the classic big⋈big join (lineitem⋈orders
  *     at 100 TB: neither side broadcastable) then joins with NO exchange
  *     on either side; bucket metadata replaces the shuffle. LayoutSpec
  *     asserts the exchange-free plan.
  *   - **Partition pruning** (`q_partition_pruning`): events written
  *     `partitionBy(event_date)`; a date-range query reads only the
  *     matching directories — at 100 TB this is the difference between
  *     scanning 3 days and scanning 10 years. LayoutSpec asserts the
  *     pruned file count.
  *   - **Skew salting** (`q_skew_salted_agg`): [[Skew.saltedSumCount]]'s
  *     two-phase aggregation as a first-class query — exact for decimal
  *     sums, spreads any hot key over 16 reducers.
  *
  * Staging discipline: bucketed tables are session-catalog tables under
  * `spark-warehouse/`; partitioned parquet goes to a deterministic tmp
  * dir keyed by the source path ([[graft.util.Staging]]). Both layouts
  * are written AT MOST ONCE per immutable source dir and reused after —
  * including across JVMs (external-table re-registration / _SUCCESS
  * marker) — because layout is an ingest-time cost that amortizes over
  * every subsequent query; a repeated run only pays the read side.
  */
object Layout {

  /** Catalog-safe tag for (scale-factor dir × layout spec): each SF gets
    * its own staged tables (the bench warm-up at sf0.001 must not
    * overwrite the timed sf0.1 tables mid-session), and a CHANGED layout
    * spec — bucket count, bucket column, projected schema — hashes to a
    * new name instead of silently serving the stale files. The source
    * parquet itself is immutable by environment contract (TESTDATA.md);
    * mutable sources would need a content fingerprint here too. */
  private def tag(dir: String, layoutSpec: String): String =
    graft.util.Staging.pathTag(s"$dir|$layoutSpec")

  /** Unrolled order-4 Hilbert xy2d recurrence as a CTE chain over a
    * relation `base(bx, by, x, y, d)` with d = 0 — ONE generated SQL
    * text shared verbatim by Spark and the DuckDB oracle (only `&`,
    * `%`-free arithmetic and CASE, which parse identically in both).
    * Returns (cte chain, final relation name); the final `d` is the
    * Hilbert index of the (bx, by) cell. Validated cell-by-cell against
    * the classic iterative algorithm for the full 16×16 grid. */
  private[operators] def hilbertSteps(base: String): (String, String) = {
    val ctes = Seq(8, 4, 2, 1).zipWithIndex.map { case (s, i) =>
      val prev = if (i == 0) base else s"h${i - 1}"
      val rx = s"(CASE WHEN (x & $s) != 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN (y & $s) != 0 THEN 1 ELSE 0 END)"
      s"""h$i AS (
         |  SELECT bx, by,
         |    d + ${s * s} * (CASE WHEN $rx = 1 AND $ry = 1 THEN 2
         |                         WHEN $rx = 1 THEN 3
         |                         WHEN $ry = 1 THEN 1 ELSE 0 END) AS d,
         |    CASE WHEN $ry = 0
         |         THEN (CASE WHEN $rx = 1 THEN ${s - 1} - y ELSE y END)
         |         ELSE x END AS x,
         |    CASE WHEN $ry = 0
         |         THEN (CASE WHEN $rx = 1 THEN ${s - 1} - x ELSE x END)
         |         ELSE y END AS y
         |  FROM $prev)""".stripMargin
    }
    (ctes.mkString(",\n"), s"h${Seq(8, 4, 2, 1).size - 1}")
  }

  /** Ensure a bucketed managed table exists, writing it at most once per
    * immutable source dir. Bucketing is an INGEST-time layout decision:
    * the whole point (here and at 100 TB) is that one bucketed write
    * amortizes over every later orderkey join. The staged table is keyed
    * by the source path (md5 tag), the source parquet never changes, and
    * bucket ids live in the file names — so a completed layout from a
    * previous JVM is re-registered as an external bucketed table instead
    * of rewritten. A half-written layout (no _SUCCESS) is rebuilt. */
  private def ensureBucketedTable(spark: org.apache.spark.sql.SparkSession,
      name: String, schemaDdl: String, bucketCol: String)(
      write: String => Unit): Unit = {
    if (spark.catalog.tableExists(name)) return // built earlier this JVM
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val path = new org.apache.hadoop.fs.Path(s"$warehouse/$name")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS"))) {
      spark.sql(
        s"""CREATE TABLE $name ($schemaDdl) USING parquet
           |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO 8 BUCKETS
           |LOCATION '$path'""".stripMargin)
    } else {
      if (fs.exists(path)) fs.delete(path, true)
      write(name)
    }
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- bucketed co-located join: write lineitem+orders bucketed and
    //      sorted by orderkey (8 buckets), then join bucket-to-bucket.
    //      The join itself plans with zero Exchange nodes — at 100 TB the
    //      write cost amortizes over every subsequent orderkey join.
    QueryDef.checked(
      "q_bucketed_join",
      """SELECT o_orderpriority,
        |  count(DISTINCT o_orderkey) AS n_orders,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val ordersTbl = s"graft_bkt_orders_${tag(dir, "b8/o_orderkey/key+priority")}"
      val lineitemTbl = s"graft_bkt_lineitem_${tag(dir, "b8/l_orderkey/key+price+disc")}"
      ensureBucketedTable(spark, ordersTbl,
        "o_orderkey BIGINT, o_orderpriority STRING", "o_orderkey") { n =>
        t.orders.select("o_orderkey", "o_orderpriority")
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .mode("overwrite").format("parquet").saveAsTable(n)
      }
      ensureBucketedTable(spark, lineitemTbl,
        "l_orderkey BIGINT, l_extendedprice DOUBLE, l_discount DOUBLE",
        "l_orderkey") { n =>
        t.lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .mode("overwrite").format("parquet").saveAsTable(n)
      }
      spark.table(ordersTbl)
        .join(spark.table(lineitemTbl),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_orderkey")).as("n_orders"),
          sum(discPrice(col("l_extendedprice"), col("l_discount")))
            .cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    },

    // ---- partition pruning: write events partitioned by day, query a
    //      3-day range — the scan touches only 3 of ~30 directories
    //      (plan shows PartitionFilters; LayoutSpec counts pruned files)
    QueryDef.checked(
      "q_partition_pruning",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      // day-partitioned layout is an ingest-time artifact too: write it
      // once per immutable source dir (keyed by dir × partition spec),
      // reuse on every later scan
      val staged = graft.util.Staging.dir("graft_events_bydate_",
        s"$dir|partitionBy=event_date")
      val marker = new org.apache.hadoop.fs.Path(staged, "_SUCCESS")
      val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(marker))
        Tables(spark, dir).events
          .withColumn("event_date", to_date(col("ts")))
          .write.partitionBy("event_date").mode("overwrite").parquet(staged)
      spark.read.parquet(staged)
        .filter(col("event_date").between("2024-01-10", "2024-01-12"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(12, 2)))
            .cast("double").as("total_value"))
        .orderBy("event_type")
    },

    // ---- DYNAMIC partition pruning: the partitioned events layout
    //      joined to a parquet dim filtered at RUNTIME (is_campaign) —
    //      Catalyst injects a dynamicpruning subquery into the fact
    //      scan's PartitionFilters, so only the dim-selected day
    //      directories are read even though the days are not literals
    //      in the query. THE join-shaped cousin of static pruning at
    //      100 TB (scan 3 directories because the dim said so).
    //      LayoutSpec/PlanSpec assert the dynamicpruning expression.
    QueryDef.checked(
      "q_dpp_join",
      """SELECT event_type, count(*) AS n
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      val staged = graft.util.Staging.dir("graft_events_bydate_",
        s"$dir|partitionBy=event_date")
      val marker = new org.apache.hadoop.fs.Path(staged, "_SUCCESS")
      val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(marker))
        Tables(spark, dir).events
          .withColumn("event_date", to_date(col("ts")))
          .write.partitionBy("event_date").mode("overwrite").parquet(staged)
      // dim staged as parquet so its filter is a runtime scan, not a
      // foldable local relation — that is what makes the pruning DYNAMIC
      // the dim filter must be LIKELY-SELECTIVE for the PartitionPruning
      // rule (equality on a literal qualifies; a bare boolean attribute
      // does not), hence the campaign STRING column
      val dimStaged = graft.util.Staging.dir("graft_day_dim_",
        s"$dir|dayDim2")
      val dimMarker = new org.apache.hadoop.fs.Path(dimStaged, "_SUCCESS")
      if (!fs.exists(dimMarker))
        Tables(spark, dir).events
          .select(to_date(col("ts")).as("d")).distinct()
          .withColumn("campaign",
            when(dayofmonth(col("d")).between(10, 12), "mid_jan")
              .otherwise("none"))
          .write.mode("overwrite").parquet(dimStaged)
      val dim = spark.read.parquet(dimStaged)
        .filter(col("campaign") === "mid_jan").select(col("d"))
      spark.read.parquet(staged)
        .join(dim, col("event_date") === col("d"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // ---- parquet AGGREGATE pushdown: MIN/MAX/COUNT answered from
    //      parquet footer statistics — the scan reads metadata, not
    //      rows (plan shows PushedAggregation). Needs the DSv2 parquet
    //      path; both confs are saved/restored around the EAGER
    //      materialization so the session is untouched afterwards. At
    //      100 TB this is the difference between a metadata sweep and
    //      a full-table scan for table-stats queries.
    QueryDef.checked(
      "q_agg_pushdown",
      """SELECT min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
        |  count(*) AS n_rows
        |FROM lineitem""".stripMargin) { (spark, dir) =>
      val confs = Seq(
        "spark.sql.parquet.aggregatePushdown" -> "true",
        "spark.sql.sources.useV1SourceList" -> "")
      val prev = confs.map { case (k, _) =>
        k -> scala.util.Try(spark.conf.get(k)).toOption }
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        spark.read.parquet(s"$dir/lineitem.parquet")
          .agg(min(col("l_orderkey")).as("min_key"),
            max(col("l_orderkey")).as("max_key"),
            count(lit(1)).as("n_rows"))
          .transform(localCheckpoint) // materialize under the pushdown confs
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    },

    // ---- salted hot-key join: the fact side salts deterministically,
    //      the dimension replicates ×16, each (key, salt) bucket joins
    //      locally — the hash-join skew mitigation AQE cannot apply when
    //      the build side must replicate. Row-multiplicity preserving;
    //      oracle is the plain join.
    QueryDef.checked(
      "q_skew_salted_join",
      """SELECT s_name, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name
        |ORDER BY s_name""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      Skew.saltedJoin(t.lineitem, t.supplier,
          "l_suppkey", "s_suppkey", col("l_orderkey"), salts = 16)
        .groupBy("s_name")
        .agg(count(lit(1)).as("n"),
          sum(money(col("l_extendedprice"))).cast("double").as("revenue"))
        .orderBy("s_name")
    },

    // ---- salted two-phase aggregation: exact decimal sums per supplier
    //      via (key, salt)-partial → key-final; identical result to the
    //      direct groupBy, immune to a hot supplier key
    QueryDef.checked(
      "q_skew_salted_agg",
      """SELECT l_suppkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY l_suppkey
        |ORDER BY l_suppkey""".stripMargin) { (spark, dir) =>
      Skew.saltedSumCount(
          Tables(spark, dir).lineitem,
          col("l_suppkey"), money(col("l_extendedprice")),
          col("l_orderkey"), salts = 16)
        .select(col("key").as("l_suppkey"),
          col("sum_value").cast("double").as("sum_value"), col("n"))
        .orderBy("l_suppkey")
    },

    // ---- Z-order clustering: interleave 4+4 range-bucket bits of
    //      (l_partkey, l_suppkey) into an 8-bit z-value and report each
    //      16-z-value cluster's span on BOTH dimensions. Multi-dim
    //      layout is the 100 TB scan-pruning move a 1D sort can't make:
    //      files written in z order carry tight parquet min/max on both
    //      columns (here: every cluster spans ≤ 4 of 16 buckets per
    //      dim, vs a 1D sort whose files span the full range of the
    //      second dim), so predicates on EITHER key prune ~3/4 of row
    //      groups. Pure integer bit arithmetic end to end; the bucket
    //      bounds broadcast from a one-row max aggregate.
    QueryDef.checked(
      "q_zorder_cluster", {
        def interleaveSql(bx: String, by: String) =
          (0 until 4).map(j =>
            s"(($bx // ${1 << j}) % 2) * ${1 << (2 * j)}" +
              s" + (($by // ${1 << j}) % 2) * ${1 << (2 * j + 1)}")
            .mkString(" + ")
        s"""WITH mx AS (
           |  SELECT max(l_partkey) + 1 AS mp, max(l_suppkey) + 1 AS ms
           |  FROM lineitem
           |), bucketed AS (
           |  SELECT CAST(l_partkey * 16 // mp AS BIGINT) AS bx,
           |    CAST(l_suppkey * 16 // ms AS BIGINT) AS by
           |  FROM lineitem, mx
           |), zed AS (
           |  SELECT bx, by, ${interleaveSql("bx", "by")} AS z FROM bucketed
           |)
           |SELECT CAST(z // 16 AS BIGINT) AS z_cluster, count(*) AS n,
           |  min(bx) AS min_x, max(bx) AS max_x,
           |  min(by) AS min_y, max(by) AS max_y
           |FROM zed
           |GROUP BY z // 16
           |ORDER BY z_cluster""".stripMargin
      }) { (spark, dir) =>
      def interleaveExpr(bx: String, by: String) =
        (0 until 4).map(j =>
          s"(($bx div ${1 << j}) % 2) * ${1 << (2 * j)}" +
            s" + (($by div ${1 << j}) % 2) * ${1 << (2 * j + 1)}")
          .mkString(" + ")
      val li = Tables(spark, dir).lineitem
      val mx = li.agg((max(col("l_partkey")) + 1).as("mp"),
        (max(col("l_suppkey")) + 1).as("ms"))
      li.select(col("l_partkey"), col("l_suppkey"))
        .crossJoin(broadcast(mx))
        .select(expr("CAST(l_partkey * 16 div mp AS BIGINT)").as("bx"),
          expr("CAST(l_suppkey * 16 div ms AS BIGINT)").as("by"))
        .withColumn("z", expr(interleaveExpr("bx", "by")))
        .groupBy(expr("CAST(z div 16 AS BIGINT)").as("z_cluster"))
        .agg(count(lit(1)).as("n"),
          min(col("bx")).as("min_x"), max(col("bx")).as("max_x"),
          min(col("by")).as("min_y"), max(col("by")).as("max_y"))
        .orderBy("z_cluster")
    },

    // ---- Hilbert-curve clustering: the locality-preserving alternative
    //      to q_zorder_cluster (Hilbert keeps adjacent curve positions
    //      adjacent in space — no Z-order "seams" — which is why
    //      large-table layout engines offer it for multi-dimensional
    //      clustering). The xy2d walk is the standard 4-level
    //      rotate-and-reflect recurrence UNROLLED into a shared CTE
    //      chain — both engines run the byte-identical SQL text
    //      ([[hilbertSteps]]), so the curve index cannot drift between
    //      the plan and the oracle. Intermediates go negative during
    //      reflection, hence the bitwise `& s` tests (two's complement
    //      in both engines) rather than div/mod. Stateless per-row
    //      arithmetic in the scan + one bounded aggregate — the same
    //      scale shape as Z-order.
    QueryDef.checked(
      "q_hilbert_cluster", {
        val (ctes, last) = Layout.hilbertSteps("bucketed")
        s"""WITH mx AS (
           |  SELECT max(l_partkey) + 1 AS mp, max(l_suppkey) + 1 AS ms
           |  FROM lineitem
           |), bucketed AS (
           |  SELECT CAST(l_partkey * 16 // mp AS BIGINT) AS bx,
           |    CAST(l_suppkey * 16 // ms AS BIGINT) AS by,
           |    CAST(l_partkey * 16 // mp AS BIGINT) AS x,
           |    CAST(l_suppkey * 16 // ms AS BIGINT) AS y,
           |    CAST(0 AS BIGINT) AS d
           |  FROM lineitem, mx
           |),
           |$ctes
           |SELECT CAST(d // 16 AS BIGINT) AS h_cluster, count(*) AS n,
           |  min(bx) AS min_x, max(bx) AS max_x,
           |  min(by) AS min_y, max(by) AS max_y
           |FROM $last
           |GROUP BY d // 16
           |ORDER BY h_cluster""".stripMargin
      }) { (spark, dir) =>
      val (ctes, last) = Layout.hilbertSteps("graft_hilbert_base")
      val li = Tables(spark, dir).lineitem
      val mx = li.agg((max(col("l_partkey")) + 1).as("mp"),
        (max(col("l_suppkey")) + 1).as("ms"))
      li.select(col("l_partkey"), col("l_suppkey"))
        .crossJoin(broadcast(mx))
        .select(expr("CAST(l_partkey * 16 div mp AS BIGINT)").as("bx"),
          expr("CAST(l_suppkey * 16 div ms AS BIGINT)").as("by"))
        .withColumn("x", col("bx")).withColumn("y", col("by"))
        .withColumn("d", lit(0L))
        .createOrReplaceTempView("graft_hilbert_base")
      spark.sql(
        s"""WITH $ctes
           |SELECT CAST(d div 16 AS BIGINT) AS h_cluster, count(*) AS n,
           |  min(bx) AS min_x, max(bx) AS max_x,
           |  min(by) AS min_y, max(by) AS max_y
           |FROM $last
           |GROUP BY d div 16
           |ORDER BY h_cluster""".stripMargin)
    },

    // ---- range-partition design: equi-depth bucket assignment over
    //      order value (integer cents; ntile semantics over the total
    //      order with a unique tie-break) and the per-bucket stats a
    //      range-partitioned write needs — counts within ±1 of each
    //      other and non-overlapping [lo, hi] ranges. This is what
    //      Spark's RangePartitioner computes before any sorted/range-
    //      bucketed write. The Spark side derives the EXACT design
    //      scale-safely: [[graft.util.RangeRank]] global rank (range
    //      partitions + per-partition sort + broadcast offsets — no
    //      single-partition exchange) and the ntile bucket as driver
    //      arithmetic on (rank, total). A 100 TB run that tolerates
    //      approximate boundaries can instead sample like
    //      RangePartitioner.sketch; this query is the exact auditor.
    QueryDef.checked(
      "q_range_partition_design",
      """WITH r AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
        |  FROM orders
        |), b AS (
        |  SELECT cents,
        |    CAST(ntile(16) OVER (ORDER BY cents, o_orderkey) AS INTEGER) AS bucket
        |  FROM r
        |)
        |SELECT bucket, count(*) AS n,
        |  min(cents) AS lo_cents, max(cents) AS hi_cents
        |FROM b GROUP BY bucket
        |ORDER BY bucket""".stripMargin) { (spark, dir) =>
      val cents = Tables(spark, dir).orders
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderkey"))
      graft.util.RangeRank.withGlobalNtile(cents, "bucket", 16,
          spark.sessionState.conf.numShufflePartitions,
          col("cents"), col("o_orderkey"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min(col("cents")).as("lo_cents"), max(col("cents")).as("hi_cents"))
        .orderBy("bucket")
    },

    // ---- zone-map effectiveness report: per orderkey-width-1024 bucket
    //      (a stand-in for a data file), the min/max zone of the
    //      CLUSTERED key vs an UNCLUSTERED column, and whether a range
    //      predicate on each could skip the bucket. The point the report
    //      makes is the layout lesson itself: the clustered key's zones
    //      are tight (most buckets skip), the unclustered column's zones
    //      span the domain (nothing skips) — which is why Z-order /
    //      range clustering exists. One hash aggregate, bucket-count
    //      output; file-level min/max at the target comes free from
    //      parquet footers.
    QueryDef.checked(
      "q_zonemap_report",
      """SELECT l_orderkey // 1024 AS bucket, count(*) AS n_rows,
        |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
        |  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
        |  max(l_orderkey) < 10000 OR min(l_orderkey) > 12000
        |    AS skip_clustered,
        |  max(l_partkey) < 1000 OR min(l_partkey) > 1200
        |    AS skip_unclustered
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).lineitem
        .groupBy(expr("l_orderkey div 1024").as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"),
          min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"))
        .select(col("bucket"), col("n_rows"),
          col("min_ok"), col("max_ok"), col("min_pk"), col("max_pk"),
          (col("max_ok") < 10000 || col("min_ok") > 12000).as("skip_clustered"),
          (col("max_pk") < 1000 || col("min_pk") > 1200).as("skip_unclustered"))
        .orderBy("bucket")
    },

    // ---- explicit join-strategy hint: the per-segment revenue rollup
    //      with the orders⋈customer join FORCED to a shuffled hash join
    //      (no sort phase) — the strategy override a tuner reaches for
    //      when both sides are large but one hashes comfortably within
    //      a task (SMJ's sort is wasted work when the aggregate above
    //      destroys order anyway). Result is strategy-invariant (the
    //      oracle is plain SQL); PlanSpec pins the physical operator to
    //      ShuffledHashJoin so a silent fallback to SMJ fails loudly.
    QueryDef.checked(
      "q_join_hints",
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
        |    AS revenue
        |FROM orders JOIN customer ON c_custkey = o_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.orders
        .join(t.customer.hint("SHUFFLE_HASH"),
          col("c_custkey") === col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(org.apache.spark.sql.types
            .DecimalType(14, 2))).cast("double").as("revenue"))
        .orderBy("c_mktsegment")
    },

    // ---- null-key skew bypass: a LEFT JOIN on a nullable FK (~half
    //      the rows carry NULL here) hashes every NULL row onto ONE
    //      reducer — the classic silent hot partition. The engine-side
    //      plan SPLITS the fact: non-null rows join, NULL rows bypass
    //      the shuffle entirely and union back null-extended. The
    //      oracle is the naive LEFT JOIN — identical result, so the
    //      hash gate proves the rewrite is semantics-preserving while
    //      the shape removes the hot key.
    QueryDef.checked(
      "q_null_skew_join",
      """WITH f AS (
        |  SELECT CASE WHEN l_linenumber >= 4 THEN NULL
        |              ELSE l_suppkey END AS k,
        |    l_quantity
        |  FROM lineitem
        |)
        |SELECT coalesce(CAST(s_nationkey AS VARCHAR), 'none') AS supp_nation,
        |  count(*) AS n_items,
        |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
        |FROM f LEFT JOIN supplier ON s_suppkey = f.k
        |GROUP BY coalesce(CAST(s_nationkey AS VARCHAR), 'none')
        |ORDER BY supp_nation""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val f = t.lineitem.select(
        when(col("l_linenumber") >= 4, lit(null)).otherwise(col("l_suppkey"))
          .as("k"),
        col("l_quantity"))
      // split: only non-null keys enter the join's shuffle; NULL rows
      // never leave their input partitions
      val joined = f.filter(col("k").isNotNull)
        .join(t.supplier, col("s_suppkey") === col("k"), "left")
        .select(col("s_nationkey"), col("l_quantity"))
      val bypass = f.filter(col("k").isNull)
        .select(lit(null).cast("int").as("s_nationkey"), col("l_quantity"))
      joined.unionAll(bypass)
        .groupBy(coalesce(col("s_nationkey").cast("string"), lit("none"))
          .as("supp_nation"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("double").as("sum_qty"))
        .orderBy("supp_nation")
    },

    // ---- Bloom-pruned semi join: build a Bloom filter over the
    //      qualifying dim keys (bloom_filter_agg), pre-filter the fact
    //      scan with might_contain, THEN do the exact semi join — the
    //      runtime-filter pattern that turns a fact-side shuffle into a
    //      mostly-local scan when the dim predicate is selective. The
    //      result is EXACT (false positives survive the pre-filter but
    //      die in the semi join), so the oracle is the plain IN query.
    //      At 100 TB this is the difference between shuffling the whole
    //      fact table and shuffling the ~matching slice; Spark's own
    //      injectRuntimeFilter does the same thing when stats allow —
    //      here it is explicit, so the plan survives a stats miss.
    QueryDef.checked(
      "q_bloom_join_prune",
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 5000)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val dim = t.supplier.filter(col("s_acctbal") > 5000)
        .select(col("s_suppkey"))
      // the Bloom filter builds DISTRIBUTED (BloomFilterAggregate —
      // executors each fold their partition, the driver merges sketch
      // pages, never the keys); the probe is Catalyst's OWN
      // BloomFilterMightContain over xxhash64 — a codegen Predicate,
      // so the gating scan stays inside WholeStageCodegen with no
      // per-row closure call (the prune runs BEFORE the shuffle,
      // which is the cost that matters at scale).
      val bloom = graft.functions.BloomProbe
        .build(dim, col("s_suppkey"), 10000L)
      t.lineitem
        .select(col("l_returnflag"), col("l_quantity"), col("l_suppkey"))
        .filter(graft.functions.BloomProbe
          .mightContain(bloom, col("l_suppkey")))
        .join(broadcast(dim), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    }
  )
}
