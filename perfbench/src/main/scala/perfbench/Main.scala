package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: warm up, then a closed loop with one
  * client (the next op starts when the last returns) over the workload's
  * ops, in passes, until the measuring time is spent. Writes every op's
  * span and result, the run's stamp and, when traced, the listener spans
  * to a JSON file that `run.py` turns into metrics and checks.
  *
  *   --workload tpch|tpch_split|llm_ops|table_writes|train
  *   --data DIR --warm DIR --work DIR --out FILE   (--warm: the write
  *   workload's small warm-up input)
  *   --seconds N --trace 0|1 --seed N --cpus N
  */
object Main {
  val tpch: Seq[String] = "q1_pricing_summary" +: Seq(
    "q2_min_cost_supp", "q3_shipping", "q4_priority_exists", "q5_local_volume",
    "q6_forecast", "q7_nation_volume", "q8_market_share", "q9_profit",
    "q10_returns", "q11_important_stock", "q12_priority", "q13_custdist",
    "q14_promo", "q15_top_supplier", "q16_supplier_cnt", "q17_small_qty",
    "q18_large_orders", "q19_disjunctive", "q20_promo_suppliers", "q21_waiting",
    "q22_idle_customers").map("q_tpch_" + _)

  /** A cut of the LLM-data-pipeline operators that fits one run:
    * iterative job loops with checkpoint barriers (pagerank, label_prop,
    * seed_distance), kernels in `graft.functions` (minhash, fuzzy match,
    * phonetic blocking) and one-split documents/embeddings scans behind
    * `Tables.spread` and full-width pins (naive_bayes, pq_encode,
    * winnowing). */
  val llmOps: Seq[String] = Seq("q_pagerank", "q_label_prop", "q_seed_distance",
    "q_minhash_union", "q_fuzzy_name_match", "q_phonetic_blocking",
    "q_naive_bayes", "q_pq_encode", "q_winnowing")

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    val traced = o.get("trace").contains("1")
    val cpus = o("cpus").toInt
    val work = o("work")
    val spark = session(cpus, work, sql = workload == "table_writes" || workload == "train")
    val log = new OpLog(spark)
    def runner(w: String, data: String): Runner = w match {
      case "tpch" | "tpch_split" => new QueryRunner(spark, log, tpch, data, work, cpus)
      case "llm_ops" => new QueryRunner(spark, log, llmOps, data, work, cpus)
      case "table_writes" => new TableWrites(spark, log, data, o("warm"), work, o("seed").toLong)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (workload == "train") {
      // one warm-up of each workload in BENCHMARK.json, so that a
      // class-data archive dumped at exit holds the classes they load
      Seq("tpch", "table_writes").foreach(runner(_, o("warm")).warm())
      spark.stop()
      return
    }
    val run = runner(workload, o("data"))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(s"[perfbench] session ready ${System.currentTimeMillis - jvmStart} ms after JVM start")
    run.warm()
    System.err.println(s"[perfbench] warm-up done ${System.currentTimeMillis - jvmStart} ms after JVM start")
    log.ops.foreach(op => System.err.println(f"[perfbench] warm-up op ${op("name")}%-12s " +
      f"${(op("end").asInstanceOf[Double] - op("start").asInstanceOf[Double]) / 1000}%7.3f s"))
    log.clear()
    val firstOp = log.now()
    val budgetMs = o("seconds").toDouble * 1000
    val recorder = if (traced) Some(new Recorder(spark)) else None
    recorder.foreach { r => r.register(); log.recorder = Some(r) }
    heapPools.foreach(_.resetPeakUsage())
    val start = log.now()
    val passes = ArrayBuffer.empty[(Double, Double)]
    do passes += log.pass(run)
    while (log.now() - start + (passes.last._2 - passes.last._1) <= budgetMs)
    recorder.foreach(_.unregister())
    // one untraced pass after the traced ones measures the listeners'
    // overhead in the same JVM; the JVM is still warming, which favours
    // this later pass, so the overhead reads high rather than low
    val untraced = if (traced) Some(log.pass(run)) else None
    // the traced run also dumps every result for a full value compare,
    // after the measured passes
    if (traced) run.dump()
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val record = Map(
      "workload" -> workload, "seed" -> o("seed"), "traced" -> traced,
      "stamp" -> Map("cpus" -> cpus, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString),
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime.toDouble,
      "first_op_ms" -> firstOp,
      "warm_failed" -> run.warmFailed,
      "passes" -> passes.map { case (s, e) => Map("start" -> s, "end" -> e) },
      "untraced_pass" -> untraced.map { case (s, e) => Map("start" -> s, "end" -> e) },
      "ops" -> log.ops, "heap_used_peak_mb" -> heapPeakMb,
      "oracle" -> run.oracle, "extra" -> run.extra,
      "trace" -> recorder.map(_.toMap))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o("out")), Json.write(record))
    spark.stop()
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  /** The session `graft.Bench` uses; the write workload adds the SQL
    * extensions and a snapshot catalog named `pb`. */
  def session(cpus: Int, work: String, sql: Boolean): SparkSession = {
    var b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    if (sql) b = b.withExtensions(new graft.GraftExtensions().apply(_))
      .config("spark.sql.catalog.pb", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.pb.warehouse", s"$work/warehouse")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** A workload: its warm-up, one pass of timed ops, and what the checks
  * need afterwards. */
trait Runner {
  def warm(): Unit
  def pass(p: Int): Unit
  def warmFailed: Int
  def dump(): Unit = ()
  def oracle: Map[String, String] = Map.empty
  def extra: Any = None
}

/** Timed op spans. Every op is timed once and recorded, failed or not:
  * nothing is re-run and no minimum is kept. */
final class OpLog(spark: SparkSession) {
  private val wallBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  /** Wall-clock epoch milliseconds with nanosecond resolution, on the same
    * clock as Spark's listener timestamps. */
  def now(): Double = wallBase + (System.nanoTime() - nanoBase) / 1e6

  var recorder: Option[Recorder] = None
  val ops = ArrayBuffer.empty[collection.mutable.Map[String, Any]]
  private var passNo = 0

  def clear(): Unit = ops.clear()

  def pass(r: Runner): (Double, Double) = {
    val s = now()
    r.pass(passNo)
    passNo += 1
    (s, now())
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  /** Runs `body` as one op. `body` gets a callback that marks the end of
    * the op's build phase, and returns the op's result count. `info` is
    * filled by the body with checks and sizes; an entry "error" marks the
    * op failed. */
  def op(name: String, cls: String)(body: (() => Unit, collection.mutable.Map[String, Any]) => Long): Long = {
    val id = ops.size
    recorder.foreach(_.open(id))
    val info = collection.mutable.LinkedHashMap.empty[String, Any]
    var built: Option[Double] = None
    val g0 = gcMs()
    val start = now()
    val n = try body(() => built = Some(now()), info) catch {
      case e: Throwable =>
        info("error") = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        -1L
    }
    val end = now()
    val gc = gcMs() - g0
    recorder.foreach(_.close())
    ops += collection.mutable.LinkedHashMap[String, Any](
      "id" -> id, "name" -> name, "cls" -> cls, "pass" -> passNo,
      "start" -> start, "build_end" -> built, "end" -> end,
      "count" -> (if (n >= 0) Some(n) else None), "gc_ms" -> gc) ++ info
    n
  }

  /** Between ops, untimed: drop blocks pinned by the engine's checkpoint
    * barriers, as `graft.Bench` does; ops are independent. */
  def dropPinnedBlocks(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
  }
}

/** `SparkEntry.queries(name)(spark, dir)` then `.count()` per op. */
final class QueryRunner(spark: SparkSession, log: OpLog, names: Seq[String],
    dir: String, work: String, cpus: Int) extends Runner {
  private val entries = graft.SparkEntry.queries
  var warmFailed = 0

  /** Each query once on the measured input, `cpus` at a time, so the
    * timed pass finds its plans' generated code compiled; the JIT work
    * is the same as run serially, in a fraction of the wall time. */
  def warm(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    val failed = new java.util.concurrent.atomic.AtomicInteger
    try names.map { n =>
      pool.submit(new Runnable {
        def run(): Unit = try entries(n)(spark, dir).count()
        catch { case _: Throwable => failed.incrementAndGet() }
      })
    }.foreach(_.get())
    finally pool.shutdown()
    warmFailed = failed.get
    log.dropPinnedBlocks()
  }

  def pass(p: Int): Unit = names.foreach { n =>
    log.op(n, "query") { (built, _) =>
      val df = entries(n)(spark, dir)
      built()
      df.count()
    }
    log.dropPinnedBlocks()
  }

  override def dump(): Unit = names.foreach { n =>
    try entries(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$work/compare/$n")
    catch { case _: Throwable => () }
    log.dropPinnedBlocks()
  }

  override def oracle: Map[String, String] = {
    val all = graft.SparkEntry.oracleSql
    names.flatMap(n => all.get(n).map(n -> _)).toMap
  }
}
