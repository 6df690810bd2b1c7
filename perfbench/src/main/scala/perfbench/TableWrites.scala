package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.pipeline.{CloneConfig, ClonePipeline}
import graft.sources.SnapshotLog

/** The write path: clone, then a snapshot table driven through SQL on the
  * `pb` catalog, then maintenance. Each pass works on a fresh clone
  * target and a fresh table, so passes are alike.
  *
  * Rows are generated from the key: part(k) and v(k) are fixed functions
  * of (k, seed), written once in SQL and once in Scala, so a model map
  * k -> v follows every op. The model is checked, untimed, against the
  * table's rows and key sum per partition at the end of the pass, after
  * compaction and after vacuum, and against every VERSION AS OF read. */
final class TableWrites(spark: SparkSession, log: OpLog, data: String, warmDir: String,
    work: String, seed: Long) extends Runner {
  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  private val s = Math.floorMod(seed, 1000003L)
  var warmFailed = 0
  private val spaceAmp = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def partOf(k: Long): String = "p" + Math.floorMod(k * 7 + s, 3L)
  private def v0(k: Long): Long = Math.floorMod(k * 1103515245L + s, 1000003L)
  private def v1(k: Long, r: Long): Long = Math.floorMod(k * 2654435761L + s + r, 1000003L)
  private def rowsSql(a: Long, b: Long, v: String): String =
    s"SELECT id AS k, concat('p', CAST(pmod(id * 7 + $s, 3) AS STRING)) AS part, " +
      s"$v AS v FROM range($a, $b)"
  private val v0Sql = s"pmod(id * 1103515245 + $s, 1000003)"
  private def v1Sql(r: Long) = s"pmod(id * 2654435761 + ${s + r}, 1000003)"

  /** One pass on the small warm-up input; the clone runs on its own
    * thread beside the table ops, so its JIT and codegen warm-up overlaps
    * theirs. */
  def warm(): Unit = {
    val before = log.ops.size
    var cloneError: Option[String] = Some("clone did not finish")
    val cloner = new Thread(() => cloneError = cloneCheck(warmDir, "warm")._2)
    cloner.start()
    table("warm", fill = 2000, batch = 500)
    cloner.join()
    warmFailed = log.ops.drop(before).count(_.contains("error")) + cloneError.size
    spaceAmp.clear()
  }

  def pass(p: Int): Unit = {
    log.op("clone", "clone") { (_, info) =>
      val (rows, error) = cloneCheck(data, s"w$p")
      error.foreach(info("error") = _)
      rows
    }
    table(s"w$p", fill = 40000, batch = 8000)
  }

  override def extra: Any = Map("space_amp" -> spaceAmp.toList)

  /** Per partition: (rows, key sum, value sum). */
  private type State = Map[String, (Long, Long, Long)]

  private def stateOf(model: collection.Map[Long, Long]): State =
    model.groupBy { case (k, _) => partOf(k) }.map { case (p, kv) =>
      p -> (kv.size.toLong, kv.keys.sum, kv.values.sum)
    }

  private def stateSql(table: String): String =
    s"SELECT part, count(*), sum(k), sum(v) FROM $table GROUP BY part"

  private def read(sql: String): State =
    spark.sql(sql).collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  private def check(info: mutable.Map[String, Any], what: String, got: State, want: State): Unit =
    if (got != want) info("error") = s"$what: table $got, model $want"

  private def filesUnder(root: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(root))
  }

  /** `ClonePipeline.run()` of every input table under a fresh prefixed
    * target; returns the rows cloned and a mismatch against the source's
    * row counts, if any. */
  private def cloneCheck(src: String, name: String): (Long, Option[String]) = {
    val sources = tables.map(t => t -> countRows(s"$src/$t.parquet")).toMap
    val res = ClonePipeline(spark, CloneConfig(sourceDir = src,
      targetDir = s"$work/clone/$name", tables = tables.map(_ + ".parquet"),
      prefix = "bench_")).run()
    val bad = res.filter(r => r.status != "cloned" ||
      r.rows != sources(r.table.stripSuffix(".parquet")))
    (res.map(_.rows).sum, if (bad.isEmpty) None else Some("clone mismatch: " +
      bad.map(r => s"${r.table} ${r.status} ${r.rows} ${r.error}").mkString("; ")))
  }

  /** The SQL ops on a fresh table: a fill, one round of insert, merge,
    * update, two deletes, a time-travel read and a stream ingest, then
    * compaction and vacuum. Positions of the key ranges
    * are fixed fractions of the fill, so that every seed does the same
    * amount of work (the same files touched); the seed picks the values,
    * the partition of each key and the merge-on-read delete keys. */
  private def table(name: String, fill: Long, batch: Long): Unit = {
    val rng = new scala.util.Random(seed * 31 + name.hashCode)
    val table = s"pb.$name"
    val root = s"$work/warehouse/$name"
    val model = mutable.LongMap.empty[Long]
    val versions = mutable.LinkedHashMap.empty[Int, State]
    var next = 0L
    def version(): Int = new SnapshotLog.Table(spark, root).version
    // files under the table root before and after each write op: the
    // commit's files added (measured outside the op's span)
    def write(op: String, sql: => Unit)(apply: => Unit): Unit = {
      val before = filesUnder(root).map(_.getPath).toSet
      log.op(op, "write") { (_, info) =>
        sql
        info("files_added") = filesUnder(root).count(f => !before(f.getPath))
        0L
      }
      apply
      versions(version()) = stateOf(model)
    }

    log.op("create", "ddl") { (_, _) =>
      spark.sql(s"CREATE TABLE $table (k BIGINT, part STRING, v BIGINT) PARTITIONED BY (part)")
      0L
    }
    write("insert", spark.sql(s"INSERT INTO $table ${rowsSql(0, fill, v0Sql)}")) {
      (0L until fill).foreach(k => model(k) = v0(k)); next = fill
    }
    val half = batch / 2
    val schema = StructType(Seq(StructField("k", LongType), StructField("part", StringType),
      StructField("v", LongType)))
    write("insert", spark.sql(s"INSERT INTO $table ${rowsSql(next, next + batch, v0Sql)}")) {
      (next until next + batch).foreach(k => model(k) = v0(k)); next += batch
    }
    // upsert: half the source keys exist (or existed), half are new
    val a = fill / 4
    val r = rng.nextInt(1000).toLong
    spark.sql(s"${rowsSql(a, a + half, v1Sql(r))} UNION ALL ${rowsSql(next, next + half, v1Sql(r))}")
      .createOrReplaceTempView(s"${name}_src")
    write("merge", spark.sql(s"MERGE INTO $table t USING ${name}_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")) {
      ((a until a + half) ++ (next until next + half)).foreach(k => model(k) = v1(k, r))
      next += half
    }
    val afterMerge = versions.keys.max
    val u = fill / 2
    write("update", spark.sql(s"UPDATE $table SET v = v + 1 WHERE k >= $u AND k <= ${u + batch / 4 - 1}")) {
      (u until u + batch / 4).foreach(k => model.get(k).foreach(v => model(k) = v + 1))
    }
    val stride = next / 50
    val keys = (0 until 50).map(i => i * stride + rng.nextInt(stride.toInt))
    write("delete_mor", spark.sql(s"DELETE FROM $table WHERE k IN (${keys.mkString(", ")})")) {
      keys.foreach(model.remove)
    }
    val d = fill * 3 / 4
    write("delete_cow", spark.sql(s"DELETE FROM $table WHERE k >= $d AND k <= ${d + 499}")) {
      (d until d + 500).foreach(model.remove)
    }
    log.op("read_asof", "read") { (_, info) =>
      val got = read(s"SELECT part, count(*), sum(k), sum(v) FROM $table VERSION AS OF $afterMerge GROUP BY part")
      check(info, s"VERSION AS OF $afterMerge", got, versions(afterMerge))
      got.values.map(_._1).sum
    }
    // data files the time-travel read touched, counted by a second read
    // outside the op's span
    log.ops.last("files_scanned") = spark.sql(
      s"SELECT count(DISTINCT f) FROM (SELECT input_file_name() AS f FROM $table VERSION AS OF $afterMerge)")
      .head().getLong(0)

    // one availableNow stream ingest of a landed batch
    val landing = s"$work/landing/$name"
    spark.sql(rowsSql(next, next + half, v0Sql)).coalesce(1).write.mode("overwrite").parquet(landing)
    write("stream", {
      val q = spark.readStream.schema(schema).parquet(landing).writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/stream_ckpt/$name")
        .toTable(table)
      q.awaitTermination()
    }) {
      (next until next + half).foreach(k => model(k) = v0(k)); next += half
    }

    val want = stateOf(model)
    def verify(op: String): Unit = {
      val got = read(stateSql(table))
      if (got != want) log.ops.last("error") = s"state after $op: table $got, model $want"
    }
    verify("stream")
    log.op("compact", "maintenance") { (_, _) =>
      spark.sql(s"CALL pb.system.compact(table => '$name')").head().getInt(0).toLong
    }
    verify("compact")
    log.op("vacuum", "maintenance") { (_, _) =>
      spark.sql(s"CALL pb.system.vacuum(table => '$name', retain_versions => 1)").head().getLong(0)
    }
    verify("vacuum")

    // space amplification: table root bytes over one fresh compact write
    // of the same snapshot
    val fresh = s"$work/fresh/$name"
    spark.table(table).repartition(spark.sparkContext.defaultParallelism,
      org.apache.spark.sql.functions.col("part"))
      .write.mode("overwrite").partitionBy("part").parquet(fresh)
    val freshBytes = filesUnder(fresh).filter(_.getName.endsWith(".parquet")).map(_.length).sum
    spaceAmp += Map("table_bytes" -> filesUnder(root).map(_.length).sum, "fresh_bytes" -> freshBytes)
  }

  private def countRows(path: String): Long = {
    val f = new java.io.File(path)
    val files = if (f.isDirectory) f.listFiles.filter(_.getName.endsWith(".parquet")).toSeq else Seq(f)
    files.map { x =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(x.getPath), spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }
}
