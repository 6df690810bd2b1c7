package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import org.apache.spark.sql.types._
import graft.Tables

/** Spark-4 surface wave: VARIANT semi-structured values, XML serde, and
  * the mergeable distinct/frequency sketches (DataSketches HLL,
  * Count-Min) — plus a schema-evolution read, the drift case any cloner
  * meets when a source table gained a column between snapshots.
  *
  * Sketch oracle discipline (follows q_approx_distinct /
  * q_approx_percentile): sketch internals are engine-specific, so the
  * hash-checked contract is the exact value plus a boolean error-bound
  * verdict; ScalaTest additionally bounds the raw estimates.
  *
  * Scale stance (100 TB):
  *   - Sketches are THE aggregation pattern at this scale: fixed-size
  *     state, map-side partial merge, and — unlike exact distinct — a
  *     re-mergeable result (`hll_union_agg` over per-shard sketches
  *     gives the global cardinality without re-scanning shards).
  *   - VARIANT pushes semi-structured shredding into the scan (binary
  *     encoding, typed access), replacing per-query JSON string parsing.
  *   - Schema evolution via mergeSchema is metadata-only — readers union
  *     footers; no data rewrite of old shards.
  */
object Modern {

  val defs: Seq[QueryDef] = Seq(

    // ---- VARIANT ingestion: parse the JSON props column into a variant,
    //      extract a typed field, aggregate. The oracle reads the same
    //      field with DuckDB's JSON operators.
    QueryDef.checked(
      "q_variant_json",
      """SELECT event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
        |  min(CAST(props->>'$.k' AS INT)) AS min_k,
        |  max(CAST(props->>'$.k' AS INT)) AS max_k
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).events
        .select(col("event_type"),
          variant_get(parse_json(col("props")), "$.k", "int").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("k")).cast("long").as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")
    },

    // ---- XML serde roundtrip: struct → XML string → struct, entirely
    //      in-plan (to_xml/from_xml); the oracle checks the recovered
    //      values against the source columns.
    QueryDef.checked(
      "q_xml_roundtrip",
      """SELECT c_custkey, c_mktsegment AS segment,
        |  round(c_acctbal, 2) AS acctbal
        |FROM customer
        |WHERE c_custkey <= 100
        |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
      val xmlSchema = StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_mktsegment", StringType),
        StructField("c_acctbal", DoubleType)))
      Tables(spark, dir).customer
        .filter(col("c_custkey") <= 100)
        .select(to_xml(struct(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal"))).as("xml"))
        .select(from_xml(col("xml"), xmlSchema).as("rec"))
        .select(col("rec.c_custkey").as("c_custkey"),
          col("rec.c_mktsegment").as("segment"),
          round(col("rec.c_acctbal"), 2).as("acctbal"))
        .orderBy("c_custkey")
    },

    // ---- DataSketches HLL with re-merge: per-segment sketches union
    //      into a global sketch (the shard→global roll-up); verdicts
    //      bound both estimates against the exact cardinalities.
    QueryDef.checked(
      "q_hll_sketch_merge",
      """WITH seg AS (
        |  SELECT c_mktsegment, count(DISTINCT o_custkey) AS exact_custs
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment
        |)
        |SELECT c_mktsegment, exact_custs, TRUE AS approx_within_5pct,
        |  (SELECT count(DISTINCT o_custkey) FROM orders) AS exact_total,
        |  TRUE AS union_within_5pct
        |FROM seg
        |ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val joined = t.orders.join(broadcast(t.customer),
        col("o_custkey") === col("c_custkey"))
      val perSeg = joined.groupBy("c_mktsegment")
        .agg(countDistinct(col("o_custkey")).as("exact_custs"),
          hll_sketch_agg(col("o_custkey")).as("sketch"))
        .transform(localCheckpoint) // feeds the union roll-up AND the result scan
      val exactTotal = t.orders.select(countDistinct(col("o_custkey")))
        .first().getLong(0)
      // roll the per-segment sketches up into one global sketch — the
      // cross-shard merge that exact distinct cannot do without rescanning
      val unionEst = perSeg.agg(
        hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est"))
        .first().getLong(0)
      perSeg
        .select(col("c_mktsegment"), col("exact_custs"),
          (abs(hll_sketch_estimate(col("sketch")) - col("exact_custs"))
            <= col("exact_custs") * 0.05).as("approx_within_5pct"),
          lit(exactTotal).as("exact_total"),
          lit(math.abs(unionEst - exactTotal) <= exactTotal * 0.05)
            .as("union_within_5pct"))
        .orderBy("c_mktsegment")
    },

    // ---- Count-Min frequency sketch: point-estimates of per-type event
    //      counts from a fixed-size sketch; CMS never under-counts and
    //      over-counts by at most eps*N w.h.p. — both checked exactly.
    //      The sketch is built with one distributed mergeable aggregate;
    //      querying it deserializes the kilobyte-sized binary on the
    //      driver (there is no SQL-side estimator), which is also how a
    //      100 TB deployment serves point lookups from a published sketch.
    QueryDef.checked(
      "q_countmin_freq",
      """SELECT event_type, count(*) AS exact_n,
        |  TRUE AS cms_lower_ok, TRUE AS cms_upper_ok
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      val ev = Tables(spark, dir).events
      val bytes = ev.agg(
        count_min_sketch(col("event_type"), lit(0.001), lit(0.99), lit(42))
          .as("cms"))
        .first().getAs[Array[Byte]]("cms")
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(bytes))
      val slack = math.ceil(0.001 * cms.totalCount()).toLong
      import spark.implicits._
      ev.groupBy("event_type").agg(count(lit(1)).as("exact_n"))
        .collect()
        .map { r =>
          val (t, n) = (r.getString(0), r.getLong(1))
          val est = cms.estimateCount(t)
          (t, n, est >= n, est <= n + slack)
        }.toSeq
        .toDF("event_type", "exact_n", "cms_lower_ok", "cms_upper_ok")
        .orderBy("event_type")
    },

    // ---- Bloom-filter contamination screen: the benchmark-gram set as a
    //      broadcast Bloom filter instead of a broadcast hash join — the
    //      memory-bounded variant of q_contamination (a filter over 1B
    //      grams is ~1.2 GB at 1% FP vs an unbounded hash relation).
    //      Bloom guarantees no false negatives, so the oracle-checkable
    //      contract is: every exact hit is a bloom hit (per-doc verdict),
    //      plus the exact counts themselves.
    QueryDef.checked(
      "q_bloom_contamination",
      s"""WITH grams AS (
         |  SELECT DISTINCT doc_id, unnest(${Dedup.duckGrams}) AS gram FROM documents
         |), bench AS (
         |  SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0
         |)
         |SELECT g.doc_id, count(*) AS n_grams,
         |  count(b.gram) AS n_exact_hits,
         |  TRUE AS bloom_superset_ok
         |FROM grams g LEFT JOIN bench b ON g.gram = b.gram
         |WHERE g.doc_id % 97 <> 0
         |GROUP BY g.doc_id
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val grams = Dedup.gramRelation(Tables(spark, dir).documents)
        .transform(localCheckpoint)
      val benchGrams = grams.filter(col("doc_id") % 97 === 0)
        .select("gram").distinct()
      // Size the filter from a capacity bound, not an extra counting pass:
      // FP rate only degrades (never false negatives) if exceeded, and the
      // oracle contract is independent of the FP rate. Production sizes
      // this from catalog stats (ANALYZE ndv), not a scan.
      // codegen build + probe (BloomFilterAggregate / MightContain over
      // xxhash64) — hash-first on both sides, so the no-false-negatives
      // contract the oracle checks is unchanged, and the probe column
      // stays inside WholeStageCodegen (the old closure UDF was the
      // suite's last per-row boxing)
      val bloom = graft.functions.BloomProbe
        .build(benchGrams, col("gram"), 4000000L)
      val exactHits = broadcast(benchGrams.withColumn("hit", lit(1)))
      grams.filter(col("doc_id") % 97 =!= 0)
        .join(exactHits, Seq("gram"), "left")
        .withColumn("bloom_hit",
          graft.functions.BloomProbe.mightContain(bloom, col("gram")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          count(col("hit")).as("n_exact_hits"),
          // no false negatives: every exact hit must also be a bloom hit
          min(col("bloom_hit") || col("hit").isNull).as("bloom_superset_ok"))
        .orderBy("doc_id")
    },

    // ---- single-pass pipeline metrics (observe): data-quality counters
    //      collected DURING a filtering pass — at 100 TB the alternative
    //      is a second full scan just to report what was dropped. The
    //      observed metrics become the result; the oracle recomputes them
    //      as plain aggregates.
    QueryDef.checked(
      "q_observe_metrics",
      """SELECT
        |  count(*) AS n_scanned,
        |  count(CASE WHEN l_quantity >= 25 THEN 1 END) AS n_kept,
        |  CAST(sum(CASE WHEN l_quantity >= 25
        |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) END) AS DOUBLE)
        |    AS kept_revenue
        |FROM lineitem""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.Observation
      val obs = Observation("graft_quality_gate")
      val kept = Tables(spark, dir).lineitem
        .observe(obs,
          count(lit(1)).as("n_scanned"),
          count(when(col("l_quantity") >= 25, 1)).as("n_kept"),
          sum(when(col("l_quantity") >= 25,
            col("l_extendedprice").cast(DecimalType(12, 2))))
            .cast("double").as("kept_revenue"))
        .filter(col("l_quantity") >= 25)
      kept.write.mode("overwrite").format("noop").save() // the one real pass
      val m = obs.get
      import spark.implicits._
      // sum over zero matching rows observes as null — keep it null (the
      // oracle's SUM is NULL there too), not a silently-unboxed 0.0
      Seq((m("n_scanned").asInstanceOf[Long],
        m("n_kept").asInstanceOf[Long],
        Option(m("kept_revenue")).map(_.asInstanceOf[Double])))
        .toDF("n_scanned", "n_kept", "kept_revenue")
    },

    // ---- custom DataSource V2 read: the engine's own TableProvider /
    //      Batch / PartitionReader implementation (graft.sources) scanned
    //      and aggregated like any table; the oracle regenerates the
    //      deterministic row contract from range(). Exercises the seam a
    //      JDBC/Mongo connector plugs into, without a server.
    QueryDef.checked(
      "q_custom_source",
      """SELECT CAST(i % 10 AS INT) AS grp,
        |  count(*) AS n,
        |  CAST(sum(((i * 2654435761) % 1000)) AS DOUBLE) / 100.0 AS sum_val,
        |  min(((i * 2654435761) % 1000) / 100.0) AS min_val,
        |  max(i) AS max_id
        |FROM range(100000) t(i)
        |GROUP BY CAST(i % 10 AS INT)
        |ORDER BY grp""".stripMargin) { (spark, _) =>
      // checksum as exact integers (one division at the edge) — a double
      // sum would be partition-order-dependent; min(val) is order-free
      spark.read
        .format("graft.sources.SyntheticSource")
        .option("numRows", "100000")
        .option("numPartitions", "8")
        .load()
        .groupBy("grp")
        .agg(count(lit(1)).as("n"),
          (sum((col("id") * 2654435761L) % 1000L).cast("double") / 100.0)
            .as("sum_val"),
          min(col("val")).as("min_val"),
          max(col("id")).as("max_id"))
        .orderBy("grp")
    },

    // ---- schema evolution (mergeSchema): two parquet snapshots of the
    //      same logical table, the newer one with an added column; a
    //      merged read serves both, nulling the column for old rows —
    //      the metadata-only drift handling a re-clone needs.
    QueryDef.checked(
      "q_schema_evolution",
      """WITH v1 AS (
        |  SELECT o_orderkey, o_orderstatus, NULL AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 2 = 0
        |), v2 AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority
        |  FROM orders WHERE o_orderkey % 2 <> 0
        |), merged AS (
        |  SELECT * FROM v1 UNION ALL SELECT * FROM v2
        |)
        |SELECT o_orderstatus,
        |  count(*) AS n,
        |  count(o_orderpriority) AS n_with_priority
        |FROM merged
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      val staged = graft.util.Staging.dir("graft_schema_evo_",
        s"$dir|v1=key,status|v2=+priority")
      val marker = new org.apache.hadoop.fs.Path(s"$staged/v2/_SUCCESS")
      val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(marker)) { // immutable input → write the versions once
        val src = Tables(spark, dir).orders
        src.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_orderstatus")
          .write.mode("overwrite").parquet(s"$staged/v1")
        src.filter(col("o_orderkey") % 2 =!= 0)
          .select("o_orderkey", "o_orderstatus", "o_orderpriority")
          .write.mode("overwrite").parquet(s"$staged/v2")
      }
      spark.read.option("mergeSchema", "true")
        .parquet(s"$staged/v1", s"$staged/v2")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          count(col("o_orderpriority")).as("n_with_priority"))
        .orderBy("o_orderstatus")
    },

    // ---- incremental aggregate maintenance (view backfill): a late
    //      batch (o_orderkey % 10 = 0 stands in for late-arriving rows)
    //      lands AFTER the daily revenue rollup was published. Instead
    //      of recomputing the view over 100 TB of facts, the engine
    //      aggregates ONLY the late batch to partial states
    //      (count + exact decimal sum — both mergeable) and merges them
    //      into the published partials by key. The ORACLE is the full
    //      direct recompute over all rows, so the hash gate itself
    //      proves merge(partials) ≡ recompute — the algebraic property
    //      incremental view maintenance rests on. At scale the merge
    //      touches |dirty days| × partial-state rows, not the fact
    //      table; both pre-aggregations combine map-side.
    QueryDef.checked(
      "q_agg_backfill",
      """SELECT CAST(o_orderdate AS DATE) AS day,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY CAST(o_orderdate AS DATE)
        |ORDER BY day""".stripMargin) { (spark, dir) =>
      val orders = Tables(spark, dir).orders
        .select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("day"),
          Parity.money(col("o_totalprice")).as("price"))
      def partial(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("day").agg(count(lit(1)).as("n"), sum(col("price")).as("rev"))
      val published = partial(orders.filter(col("o_orderkey") % 10 =!= 0))
      val lateBatch = partial(orders.filter(col("o_orderkey") % 10 === 0))
      published.unionByName(lateBatch)
        .groupBy("day")
        .agg(sum(col("n")).as("n_orders"), sum(col("rev")).as("rev2"))
        .select(col("day"), col("n_orders"),
          col("rev2").cast("double").as("revenue"))
        .orderBy("day")
    },

    // ---- typed cogroup: per-order fulfillment audit with imperative
    //      per-key logic (order + its lineitems side by side) — the
    //      KeyValueGroupedDataset.cogroup surface for merge logic that
    //      doesn't decompose into join+agg cleanly. Here it CAN be
    //      (that's what makes the oracle possible); the point is the
    //      execution shape: both sides hash-partition on the key once,
    //      then each key's two iterators stream through one function
    //      call — at 100 TB this is one co-partitioned shuffle each,
    //      same cost as the equivalent join, with arbitrary Scala in
    //      the middle.
    QueryDef.checked(
      "q_cogroup_fulfillment",
      """WITH li AS (
        |  SELECT l_orderkey, count(*) AS n_items,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
        |    max(CAST(l_shipdate AS DATE)) AS last_ship
        |  FROM lineitem GROUP BY l_orderkey
        |)
        |SELECT o.o_orderkey AS orderkey, o.o_orderstatus AS status,
        |  coalesce(li.n_items, 0) AS n_items,
        |  coalesce(li.total_qty, CAST(0 AS BIGINT)) AS total_qty,
        |  CASE WHEN li.l_orderkey IS NULL THEN 'empty'
        |       WHEN li.last_ship <= CAST(o.o_orderdate AS DATE) + 90
        |         THEN 'on_time'
        |       ELSE 'late' END AS fulfillment
        |FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
        |WHERE o.o_orderkey < 2000
        |ORDER BY orderkey""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val t = Tables(spark, dir)
      val orders = t.orders
        .filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"), col("o_orderstatus"),
          to_date(col("o_orderdate")).cast("string").as("od"))
        .as[(Long, String, String)]
        .groupByKey(_._1)
      val items = t.lineitem
        .filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), col("l_quantity").cast("long"),
          to_date(col("l_shipdate")).cast("string").as("sd"))
        .as[(Long, Long, String)]
        .groupByKey(_._1)
      val audited = orders.cogroup(items) { (key, os, ls) =>
        // imperative per-key merge: stream both iterators once
        os.map { case (_, status, od) =>
          var n = 0L; var qty = 0L; var lastShip = ""
          ls.foreach { case (_, q, sd) =>
            n += 1; qty += q
            if (sd > lastShip) lastShip = sd
          }
          val cutoff = java.time.LocalDate.parse(od).plusDays(90)
          val verdict =
            if (n == 0) "empty"
            else if (!java.time.LocalDate.parse(lastShip).isAfter(cutoff))
              "on_time"
            else "late"
          (key, status, n, qty, verdict)
        }
      }
      audited.toDF("orderkey", "status", "n_items", "total_qty", "fulfillment")
        .orderBy("orderkey")
    },

    // ---- SQL pipe syntax (Spark 4 surface): the same rollup written as
    //      a |> chain — FROM … |> WHERE … |> EXTEND … |> AGGREGATE …
    //      GROUP BY … |> ORDER BY. Pipe operators desugar to the exact
    //      relational plan the keyword form produces (the oracle IS the
    //      keyword form), so Catalyst optimizes both identically — this
    //      checks the modern parser surface, not a new execution path.
    QueryDef.checked(
      "q_pipe_sql",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders
        |WHERE o_orderstatus = 'O'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).orders
        .createOrReplaceTempView("graft_pipe_orders")
      // no stripMargin here: |> at line starts must survive verbatim
      spark.sql(
        "FROM graft_pipe_orders\n" +
          "|> WHERE o_orderstatus = 'O'\n" +
          "|> EXTEND CAST(round(o_totalprice * 100) AS BIGINT) AS cents\n" +
          "|> AGGREGATE count(*) AS n, sum(cents) AS sum_cents\n" +
          "   GROUP BY o_orderpriority\n" +
          "|> SELECT o_orderpriority, n, sum_cents\n" +
          "|> ORDER BY o_orderpriority")
    },

    // ---- bitmap aggregates (Spark 4 surface): per-(type, day) partial
    //      bitmaps of the 15-bit user-slot space, OR-merged per type —
    //      the roaring-bitmap distinct-counting pattern. Unlike HLL this
    //      is EXACT on a bounded id domain, and the partial bitmaps are
    //      re-mergeable bytes: at 100 TB each shard/day persists its 4 KB
    //      bitmap and any rollup (type, week, global) is bitmap_or_agg
    //      over stored partials — no re-scan of facts, same serving
    //      story as q_hll_sketch_merge but with exact semantics. The
    //      oracle computes the identical values as COUNT(DISTINCT slot)
    //      / COUNT(DISTINCT day), proving the merge is lossless.
    QueryDef.checked(
      "q_bitmap_distinct",
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id % 32768 + 1) AS BIGINT) AS n_slots,
        |  CAST(count(DISTINCT strftime(ts, '%Y-%m-%d')) AS BIGINT)
        |    AS n_partial_bitmaps
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      val perDay = Tables(spark, dir).events
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id % 32768 + 1))")
          .as("bm"))
      perDay.groupBy("event_type")
        .agg(expr("bitmap_count(bitmap_or_agg(bm))").as("n_slots"),
          count(lit(1)).as("n_partial_bitmaps"))
        .orderBy("event_type")
    }
  )
}
