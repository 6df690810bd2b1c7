package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables

/** Corpus reweighting by iterative proportional fitting (raking): make
  * the training mix match TWO target marginals at once. Capping one
  * axis (q_domain_cap) or resampling one distribution (q_ppl_buckets,
  * q_mixture_weights) adjusts a single margin; the production ask is
  * usually joint — "equal share per source AND the target length mix"
  * — and the classic answer is IPF/raking (Deming-Stephan): scale the
  * contingency cells to the row targets, then the column targets,
  * repeat; the result converges to the max-entropy reweighting with
  * both margins matched.
  *
  * Scale stance: ONE distributed pass builds the |sources| × |buckets|
  * contingency table (a keyed count — mergeable partials); every IPF
  * iteration then runs on that model-sized relation (dozens of cells),
  * so corpus size only ever touches the first aggregate. The final
  * per-cell weights broadcast back as sampling rates — the join the
  * resample pipeline already does.
  *
  * Numeric discipline: weights ride 1e4 fixed point end-to-end;
  * marginal sums are integer sums of BIGINTs (order-independent),
  * scaling is integer multiply-then-floor-divide — both engines
  * compute bit-identical iterations, so the oracle replays the SAME
  * three rounds, not a float approximation of them. Headroom: cells ≤
  * corpus count c ≤ 1e12 at 100 TB; w·T·1e4 ≤ c²·1e4 needs c ≤ ~1e7
  * per 64-bit lane — above that the same algebra rides DECIMAL(38,0)
  * (emitted as strings per the suite's 2^53 rule).
  */
object Reweight {

  /** Length buckets: fixed cut points (deterministic at every SF). */
  private val BucketSql =
    """CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 400 THEN 1
      |     WHEN n_chars < 600 THEN 2 ELSE 3 END""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- three IPF rounds (row → column → row), unrolled. Targets:
    //      uniform over sources (total // n_sources) and uniform over
    //      the OBSERVED length buckets (total // nb) — an empty bucket
    //      is a structural zero no reweighting can fill, so it must
    //      not claim target mass (at sf0.001 bucket 3 is empty and a
    //      //4 target left a permanent 33% column-marginal gap).
    //      Integer targets; floor loss accepted identically by both
    //      engines. Output:
    //      one row per (source, bucket) with the raw count and the
    //      raked weight; the weight over the count is the per-cell
    //      sampling rate the mixer applies downstream.
    QueryDef.checked(
      "q_raking_ipf", {
        val cells =
          s"""cells AS (
             |  SELECT source, $BucketSql AS bucket,
             |    CAST(count(*) AS BIGINT) AS c
             |  FROM documents GROUP BY 1, 2
             |), tot AS (
             |  SELECT CAST(sum(c) AS BIGINT) AS n,
             |    CAST(count(DISTINCT source) AS BIGINT) AS ns,
             |    CAST(count(DISTINCT bucket) AS BIGINT) AS nb
             |  FROM cells
             |), w0 AS (SELECT source, bucket, c, c * 10000 AS w FROM cells)"""
            .stripMargin
        def rowStep(in: String, out: String) =
          s"""$out AS (
             |  SELECT w.source, w.bucket, w.c,
             |    w.w * ((SELECT n FROM tot) // (SELECT ns FROM tot))
             |      * 10000 // rs.s AS w
             |  FROM $in w JOIN (
             |    SELECT source, CAST(sum(w) AS BIGINT) AS s
             |    FROM $in GROUP BY source) rs ON rs.source = w.source
             |)""".stripMargin
        def colStep(in: String, out: String) =
          s"""$out AS (
             |  SELECT w.source, w.bucket, w.c,
             |    w.w * ((SELECT n FROM tot) // (SELECT nb FROM tot))
             |      * 10000 // cs.s AS w
             |  FROM $in w JOIN (
             |    SELECT bucket, CAST(sum(w) AS BIGINT) AS s
             |    FROM $in GROUP BY bucket) cs ON cs.bucket = w.bucket
             |)""".stripMargin
        s"""WITH $cells,
           |${rowStep("w0", "w1")},
           |${colStep("w1", "w2")},
           |${rowStep("w2", "w3")}
           |SELECT source, bucket, c, CAST(w AS BIGINT) AS w_fp
           |FROM w3 ORDER BY source, bucket""".stripMargin
      }) { (spark, dir) =>
      val cells = Tables(spark, dir).documents
        .select(col("source"), expr(BucketSql).as("bucket"))
        .groupBy("source", "bucket").agg(count(lit(1)).as("c"))
        .transform(localCheckpoint) // the model-sized relation every round reuses
      val t = cells.agg(sum("c").as("n"), countDistinct("source").as("ns"),
        countDistinct("bucket").as("nb")).head()
      val (n, ns, nb) = (t.getLong(0), t.getLong(1), t.getLong(2))
      val (tRow, tCol) = (n / ns, n / nb)
      def rowStep(in: org.apache.spark.sql.DataFrame) = {
        val rs = in.groupBy("source").agg(sum("w").as("s"))
        in.join(rs, Seq("source"))
          .select(col("source"), col("bucket"), col("c"),
            expr(s"w * $tRow * 10000 div s").as("w"))
      }
      def colStep(in: org.apache.spark.sql.DataFrame) = {
        val cs = in.groupBy("bucket").agg(sum("w").as("s"))
        in.join(cs, Seq("bucket"))
          .select(col("source"), col("bucket"), col("c"),
            expr(s"w * $tCol * 10000 div s").as("w"))
      }
      val w0 = cells.withColumn("w", col("c") * 10000L)
      rowStep(colStep(rowStep(w0)))
        .select(col("source"), col("bucket"), col("c"),
          col("w").cast("long").as("w_fp"))
        .orderBy("source", "bucket")
    }
  )
}
