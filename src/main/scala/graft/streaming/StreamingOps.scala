package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import org.apache.spark.sql.types._
import graft.operators.QueryDef

/** Per-user running state for [[StreamingOps]]' arbitrary-stateful query:
  * event count, exact value cents, and latest event time. Money is held
  * as integer cents so the fold is order-independent and the final
  * cents/100 division bit-matches the oracle's DECIMAL sum. */
final case class UserState(n: Long, cents: Long, lastUs: Long)

/** Last-write-wins CDC state for [[StreamingOps]]' upsert-apply query:
  * the winning (ts, event_id) version key, its value in exact cents, and
  * the applied-update count. The version key makes replacement
  * deterministic whatever order micro-batches deliver rows in. */
final case class CdcState(lastUs: Long, lastId: Long, cents: Long, n: Long)

final case class CdcRow(
    user_id: Long, n_updates: Long, last_event_id: Long, last_cents: Long)

final case class UserAgg(
    user_id: Long, n_events: Long,
    last_ts: java.sql.Timestamp, total_value: Double)

/** Bounded top-k state for [[StreamingOps]]' streaming-top-k query: the
  * k best (cents, event_id) pairs seen so far plus a monotone
  * seen-counter that versions each emission (the final snapshot is the
  * row with the largest `seen` per key). State is O(k) per key — the
  * whole point: a streaming top-k never buffers the event stream. */
final case class TopKState(seen: Long, top: Seq[(Long, Long)])

final case class TopKSnap(user_id: Long, seen: Long, top: Seq[(Long, Long)])

/** Running per-type totals for the state-API-v2 query (exact cents, same
  * order-independence argument as [[UserState]]). */
final case class TypeStats(n: Long, cents: Long)

final case class TypeAgg(event_type: String, n_events: Long, total_value: Double)

/** Spark 4 `StatefulProcessor` (state API v2): ValueState-backed running
  * aggregate, the `transformWithState` successor to mapGroupsWithState —
  * typed named state slots, timers, and TTL live on the handle instead of
  * a single opaque state object. Requires the RocksDB state store. */
class TypeStatsProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    String, (String, Double), TypeAgg] {
  import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
  @transient private var st: ValueState[TypeStats] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[TypeStats]("stats",
      org.apache.spark.sql.Encoders.product[TypeStats], TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[(String, Double)],
      tv: TimerValues): Iterator[TypeAgg] = {
    var s = if (st.exists()) st.get() else TypeStats(0L, 0L)
    rows.foreach { case (_, v) =>
      s = TypeStats(s.n + 1, s.cents + math.round(v * 100.0))
    }
    st.update(s)
    Iterator.single(TypeAgg(key, s.n, s.cents / 100.0))
  }
}

final case class AdmitRow(user_id: Long, event_id: Long,
    admitted: Boolean, tokens_after: Long)
final case class BucketState(tokens: Long, lastUs: Long)

/** Token-bucket rate limiter (state API v2): per-key bucket of
  * `capacity` tokens refilling one per `refillUs` of EVENT time — the
  * per-tenant admission control a streaming ingest tier runs. Within a
  * batch, a key's rows sort by (ts, event_id) (the repo's finite
  * replay delivers each key in one batch, so the sort IS the global
  * per-key order — the TimerSessionProcessor contract). Refill
  * arithmetic is all-integer and remainder-preserving: accrual banks
  * from the last WHOLE-token boundary, and saturating at capacity
  * resets the boundary to "now" (a full bucket earns no credit). */
class RateLimitProcessor(capacity: Long, refillUs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long), AdmitRow] {
  import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
  @transient private var st: ValueState[BucketState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[BucketState]("bucket",
      org.apache.spark.sql.Encoders.product[BucketState], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
      tv: TimerValues): Iterator[AdmitRow] = {
    // (user_id, us, event_id) sorted into event-time order
    val sorted = rows.toArray.sortBy(r => (r._2, r._3))
    val out = scala.collection.mutable.ArrayBuffer.empty[AdmitRow]
    var cur = if (st.exists()) Option(st.get()) else None
    sorted.foreach { case (_, us, eventId) =>
      val (t2, last2) = cur match {
        case None => (capacity, us) // fresh bucket, boundary = now
        case Some(b) =>
          // clamped: rows within a batch arrive sorted, but a LATER
          // batch can deliver event time < state.lastUs — a negative k
          // would drain tokens below zero and walk lastUs backwards;
          // the saturation branch maxes lastUs forward-only too, else a
          // late event with a full bucket rewinds the boundary and the
          // next on-time event instantly refills (burst past the limit)
          val k = math.max(0L, (us - b.lastUs) / refillUs)
          if (b.tokens + k >= capacity) (capacity, math.max(us, b.lastUs))
          else (b.tokens + k, b.lastUs + k * refillUs)
      }
      val admitted = t2 > 0
      val t3 = if (admitted) t2 - 1 else t2
      out += AdmitRow(key, eventId, admitted, t3)
      cur = Some(BucketState(t3, last2))
    }
    cur.foreach(st.update)
    out.iterator
  }
}

final case class SessRow(user_id: Long, start_us: Long, end_us: Long,
    n_events: Long, cents: Long)
final case class SessState(startUs: Long, lastUs: Long, n: Long, cents: Long)

/** Event-time TIMER sessionizer (state API v2): sessions close either
  * inline, when a same-key event arrives past the gap, or via an
  * event-time timer once the watermark passes `last + gap` — the timer
  * half is what `session_window` cannot express (emit-on-inactivity
  * with custom per-session payload). Each batch re-registers the timer
  * at the extended expiry; stale timers from earlier registrations are
  * ignored by re-deriving the current expiry from state. Gap semantics
  * mirror `session_window`'s half-open interval: an event EXACTLY gap
  * after the previous starts a new session. */
class TimerSessionProcessor(gapUs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long), SessRow] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
  @transient private var st: ValueState[SessState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[SessState]("sess",
      org.apache.spark.sql.Encoders.product[SessState], TTLConfig.NONE)

  /** Timer slot in ms (timers are ms-granular): first whole ms at or
    * after the half-open session end `last + gap`. */
  private def expiryMs(lastUs: Long): Long =
    Math.floorDiv(lastUs + gapUs + 999L, 1000L)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
      tv: TimerValues): Iterator[SessRow] = {
    val sorted = rows.toArray.sortBy(_._2)
    val out = scala.collection.mutable.ArrayBuffer.empty[SessRow]
    var cur = if (st.exists()) Option(st.get()) else None
    sorted.foreach { case (_, ts, cents) =>
      cur match {
        case Some(s) if ts - s.lastUs < gapUs => // strict: gap-exact splits
          cur = Some(SessState(math.min(s.startUs, ts),
            math.max(s.lastUs, ts), s.n + 1, s.cents + cents))
        case Some(s) =>
          out += SessRow(key, s.startUs, s.lastUs, s.n, s.cents)
          cur = Some(SessState(ts, ts, 1L, cents))
        case None =>
          cur = Some(SessState(ts, ts, 1L, cents))
      }
    }
    cur.foreach { s =>
      st.update(s)
      getHandle.registerTimer(expiryMs(s.lastUs))
    }
    out.iterator
  }

  override def handleExpiredTimer(key: Long, tv: TimerValues,
      info: ExpiredTimerInfo): Iterator[SessRow] = {
    if (!st.exists()) return Iterator.empty
    val s = st.get()
    if (info.getExpiryTimeInMs() >= expiryMs(s.lastUs)) {
      st.clear()
      Iterator.single(SessRow(key, s.startUs, s.lastUs, s.n, s.cents))
    } else Iterator.empty // stale timer; the session was extended since
  }
}

/** Structured Streaming surface over the `events` table (SURVEY.md §2B
  * "Streaming"). The checked queries run REAL streaming jobs — file
  * source → windowed stateful aggregation → memory sink, driven to
  * completion with `processAllAvailable()` — and are validated against
  * batch-equivalent DuckDB SQL (tumbling window ≡ date_trunc group-by,
  * session window ≡ gaps-and-islands), per SURVEY.md §2B's streaming
  * note. Watermarks bound state retention; at scale the same queries run
  * unchanged against a live source with a checkpoint dir.
  */
object StreamingOps {

  /** Raw parquet schema of events (ts is TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) → TIMESTAMP_NTZ; converted to the
    * engine-wide TimestampType in [[eventsStream]] — the session
    * timezone is pinned to UTC, so the cast is value-preserving). */
  private val rawSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The file stream source wants a directory; stage one containing a
    * symlink to the events parquet (read-only testdata stays untouched).
    * The staged path is DETERMINISTIC — derived from the source dir hash
    * under the tmp root — so a checkpointed query sees the same source
    * path across restarts of the same JVM or a new one (checkpoints
    * record source offsets by absolute path). */
  private def stageStreamDir(dir: String): String = {
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    val tmp = java.nio.file.Paths.get(
      graft.util.Staging.dir("graft_events_stream_", dir))
    val link = tmp.resolve("events.parquet")
    if (!java.nio.file.Files.exists(link))
      java.nio.file.Files.createSymbolicLink(link, src)
    tmp.toString
  }

  /** Replayable finite stream over the driver's events parquet. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(rawSchema)
      .parquet(stageStreamDir(dir))
      .withColumn("ts", col("ts").cast(TimestampType))

  /** Run `body` with streaming confs scoped to the query, restoring the
    * session after:
    *   - state-store partition count (frozen from shuffle.partitions at
    *     query start) is sized to the workload — 8, because every
    *     micro-batch pays one state commit PER PARTITION regardless of
    *     row count; on a cluster the same knob is sized to O(executor
    *     cores) for the expected state volume;
    *   - no-data micro-batches: OFF for complete/update-mode queries
    *     (results emit in the data batches; the empty watermark-advance
    *     batch would only add a state-commit cycle), ON for append-mode
    *     queries, whose finalized windows only flush on that last
    *     watermark advance;
    *   - plus any per-query extras (e.g. the RocksDB provider).
    *
    * The set/restore assumes queries run one at a time on this session
    * (true for Verify/Bench, strictly sequential); concurrent streaming
    * runs on a shared session would race on the restore and must set
    * the conf per-query instead. */
  private def withStreamConfs[T](spark: SparkSession,
      noDataBatches: Boolean, extra: Seq[(String, String)])(body: => T): T = {
    val overrides = Seq(
      "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatches.toString,
      "spark.sql.shuffle.partitions" -> "8") ++ extra
    val prev = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def runToMemory(df: DataFrame, name: String, mode: String,
      noDataBatches: Boolean = false,
      extra: Seq[(String, String)] = Nil): DataFrame = {
    val spark = df.sparkSession
    withStreamConfs(spark, noDataBatches, extra) {
      val q = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
      try { q.processAllAvailable() } finally { q.stop() }
    }
    spark.table(name)
  }

  /** Hourly tumbling counts under a 2 h watermark — the append-mode
    * finalized aggregate shared (with its oracle) by the memory-sink and
    * parquet-sink queries, so a change to the finalization cut cannot
    * leave the two silently diverging. The oracle mirrors append-mode
    * emission by cutting at max(ts) − delay: windows the watermark never
    * passes are withheld. */
  private val appendFinalOracle =
    """SELECT date_trunc('hour', ts) AS window_start, count(*) AS n
      |FROM events
      |WHERE date_trunc('hour', ts) + INTERVAL '1 hour'
      |      <= (SELECT max(ts) FROM events) - INTERVAL '2 hours'
      |GROUP BY date_trunc('hour', ts)
      |ORDER BY window_start""".stripMargin

  private def hourlyFinalizedAgg(spark: SparkSession, dir: String): DataFrame =
    eventsStream(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))

  val defs: Seq[QueryDef] = Seq(

    // ---- tumbling window counts (1 h), watermarked event-time state
    QueryDef.checked(
      "q_stream_tumbling",
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY date_trunc('hour', ts), event_type
        |ORDER BY window_start, event_type""".stripMargin) { (spark, dir) =>
      val agg = eventsStream(spark, dir)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(12, 2))).cast("double").as("total_value"))
      runToMemory(agg, "graft_stream_tumbling", "complete")
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("window_start", "event_type")
    },

    // ---- sliding window counts (1 h window, 30 min slide): each event
    //      lands in 2 windows; oracle unions the two bucket alignments
    QueryDef.checked(
      "q_stream_sliding",
      """WITH w AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' FROM events
        |)
        |SELECT ws AS window_start, count(*) AS n
        |FROM w GROUP BY ws
        |ORDER BY window_start""".stripMargin) { (spark, dir) =>
      val agg = eventsStream(spark, dir)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"))
      runToMemory(agg, "graft_stream_sliding", "complete")
        .select(col("window.start").as("window_start"), col("n"))
        .orderBy("window_start")
    },

    // ---- session windows (30 min gap) per user; oracle is the classic
    //      gaps-and-islands formulation
    QueryDef.checked(
      "q_stream_session",
      """WITH marked AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           -- >=: session_window is half-open [start, last+gap), so an
        |           -- event exactly gap after the previous starts a new session
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |), islands AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked
        |)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        |FROM islands
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin) { (spark, dir) =>
      val agg = eventsStream(spark, dir)
        .withWatermark("ts", "2 hours")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      runToMemory(agg, "graft_stream_session", "complete")
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // ---- APPEND-mode tumbling agg: windows emit exactly once, when the
    //      watermark passes their end — the semantics that let a 100 TB
    //      pipeline write each window to an append-only sink once and
    //      never update it. Requires the no-data micro-batch (the final
    //      watermark advance) to flush the last finalized windows; the
    //      tail windows the watermark never passes are withheld, and the
    //      oracle reproduces that by cutting at max(ts) - 2h.
    QueryDef.checked(
      "q_stream_append_final", appendFinalOracle) { (spark, dir) =>
      runToMemory(hourlyFinalizedAgg(spark, dir),
        "graft_stream_append_final", "append", noDataBatches = true)
        .select(col("window.start").as("window_start"), col("n"))
        .orderBy("window_start")
    },

    // ---- stateful stream dedup: the stream is the events file replayed
    //      twice (union of two sources) → dropDuplicates(event_id) must
    //      collapse it back to one copy; oracle = plain batch counts
    QueryDef.checked(
      "q_stream_dedup",
      """SELECT event_type, count(*) AS n
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      val doubled = eventsStream(spark, dir).unionByName(eventsStream(spark, dir))
      val agg = doubled
        .withWatermark("ts", "2 hours")
        .dropDuplicates("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      runToMemory(agg, "graft_stream_dedup", "complete")
        .select("event_type", "n")
        .orderBy("event_type")
    },

    // ---- state-BOUNDED stream dedup (dropDuplicatesWithinWatermark):
    //      the production form of the query above. Plain dropDuplicates
    //      keeps every key seen forever — state grows with the stream
    //      and a 100 TB/day feed OOMs the state store; the
    //      WithinWatermark variant evicts keys once the watermark
    //      passes them, so state is bounded by keys-per-watermark-delay
    //      regardless of stream lifetime. Dedup keys must recur within
    //      the delay for the semantics to match exact dedup — true for
    //      replay/retry dupes, which arrive close together. Same oracle
    //      as the unbounded form: on this finite replay both collapse
    //      the doubled stream exactly.
    QueryDef.checked(
      "q_stream_dedup_bounded",
      """SELECT event_type, count(*) AS n
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      val doubled = eventsStream(spark, dir).unionByName(eventsStream(spark, dir))
      val agg = doubled
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      runToMemory(agg, "graft_stream_dedup_bounded", "complete")
        .select("event_type", "n")
        .orderBy("event_type")
    },

    // ---- stream-static enrichment join: the event stream joins a small
    //      static dimension (per-type weights) before aggregating — the
    //      canonical streaming-ETL shape. The static side broadcasts; no
    //      stream-side state beyond the aggregation. Weights are exact
    //      DECIMAL(4,1) so the weighted sum is order-independent and
    //      hash-matches the oracle's batch join.
    QueryDef.checked(
      "q_stream_static_join",
      """SELECT e.event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2)) * dim.weight) AS DOUBLE)
        |    AS weighted_value
        |FROM events e
        |JOIN (VALUES
        |    ('click',    CAST(1.0  AS DECIMAL(4,1))),
        |    ('view',     CAST(0.5  AS DECIMAL(4,1))),
        |    ('signup',   CAST(5.0  AS DECIMAL(4,1))),
        |    ('purchase', CAST(10.0 AS DECIMAL(4,1))),
        |    ('error',    CAST(0.0  AS DECIMAL(4,1)))
        |  ) AS dim(event_type, weight)
        |  ON e.event_type = dim.event_type
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin) { (spark, dir) =>
      val dim = spark.createDataFrame(Seq(
        ("click", 1.0), ("view", 0.5), ("signup", 5.0),
        ("purchase", 10.0), ("error", 0.0)))
        .toDF("event_type", "w")
        .select(col("event_type"), col("w").cast(DecimalType(4, 1)).as("weight"))
      val agg = eventsStream(spark, dir)
        .withWatermark("ts", "2 hours")
        .join(broadcast(dim), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(12, 2)) * col("weight"))
            .cast("double").as("weighted_value"))
      runToMemory(agg, "graft_stream_static_join", "complete")
        .select("event_type", "n", "weighted_value")
        .orderBy("event_type")
    },

    // ---- stream-stream interval join: clicks ⋈ purchases by user within
    //      [click, click+1h]. Both sides watermarked; the event-time bound
    //      in the join condition is what lets Spark expire join state — at
    //      100 TB/day, state is bounded by (watermark + interval) of
    //      traffic, not the stream's history. Inner-join rows emit as soon
    //      as both sides arrive; oracle is the identical batch interval
    //      join.
    QueryDef.checked(
      "q_stream_stream_join",
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.user_id,
        |  epoch_ms(p.ts) - epoch_ms(c.ts) AS delay_ms
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '1 hour'
        |ORDER BY click_id, purchase_id""".stripMargin) { (spark, dir) =>
      val clicks = eventsStream(spark, dir)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "2 hours")
      val purchases = eventsStream(spark, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "2 hours")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      runToMemory(joined, "graft_stream_stream_join", "append")
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          (unix_millis(col("purchase_ts")) - unix_millis(col("click_ts")))
            .as("delay_ms"))
        .orderBy("click_id", "purchase_id")
    },

    // ---- watermarked stream-stream LEFT OUTER join: clicks with their
    //      purchase within 1 h, null-extended when none arrives. Outer
    //      (unmatched) rows only emit once the watermark proves no match
    //      can still come — so clicks whose 1 h window the final
    //      watermark (min over both streams of max ts − 2 h) never
    //      closes are withheld, and the oracle mirrors that cut exactly
    //      (same discipline as the append-mode aggregate oracles).
    //      no-data batches ON: the outer rows flush on the final
    //      watermark advance.
    QueryDef.checked(
      "q_stream_outer_join",
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id, ts FROM events
        |  WHERE event_type = 'click'
        |), p AS (
        |  SELECT event_id AS purchase_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'
        |), wm AS (
        |  SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
        |    - INTERVAL '2 hours' AS w
        |), matched AS (
        |  SELECT c.click_id, p.purchase_id, c.user_id,
        |    epoch_ms(p.ts) - epoch_ms(c.ts) AS delay_ms
        |  FROM c JOIN p ON c.user_id = p.user_id
        |    AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '1 hour'
        |), unmatched AS (
        |  SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id,
        |    c.user_id, CAST(NULL AS BIGINT) AS delay_ms
        |  FROM c, wm
        |  WHERE c.ts + INTERVAL '1 hour' < wm.w
        |    AND NOT EXISTS (
        |      SELECT 1 FROM p WHERE p.user_id = c.user_id
        |        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '1 hour')
        |)
        |SELECT * FROM matched
        |UNION ALL SELECT * FROM unmatched
        |ORDER BY click_id, purchase_id""".stripMargin) { (spark, dir) =>
      val clicks = eventsStream(spark, dir)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "2 hours")
      val purchases = eventsStream(spark, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "2 hours")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "leftOuter")
      runToMemory(joined, "graft_stream_outer_join", "append",
          noDataBatches = true)
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          (unix_millis(col("purchase_ts")) - unix_millis(col("click_ts")))
            .as("delay_ms"))
        .orderBy("click_id", "purchase_id")
    },

    // ---- parquet file sink + checkpoint: append-mode finalized windows
    //      written to durable files — the production sink shape (the
    //      memory sink elsewhere is a test harness). Each run gets a
    //      fresh sink+checkpoint dir; at 100 TB the checkpoint is the
    //      restart contract and the sink is append-only object storage.
    QueryDef.checked(
      "q_stream_parquet_sink", appendFinalOracle) { (spark, dir) =>
      // fresh dirs per run — an append sink on a reused path would
      // accumulate previous runs' files into the result
      val base = java.nio.file.Files.createTempDirectory("graft_psink_")
      val sinkDir = base.resolve("out").toString
      val ckptDir = base.resolve("ckpt").toString
      val agg = hourlyFinalizedAgg(spark, dir)
        .select(col("window.start").as("window_start"), col("n"))
      withStreamConfs(spark, noDataBatches = true, extra = Nil) {
        val q = agg.writeStream
          .format("parquet")
          .option("path", sinkDir)
          .option("checkpointLocation", ckptDir)
          .outputMode("append")
          .start()
        try { q.processAllAvailable() } finally { q.stop() }
      }
      // explicit schema: a run whose watermark finalizes no window leaves
      // zero data files, where schema inference would throw instead of
      // yielding the (correct) empty result. The materialized read also
      // lets the temp sink+checkpoint dirs be deleted immediately —
      // these are run-scoped, unlike the Staging-keyed reusable layouts.
      val out = spark.read
        .schema(StructType(Seq(
          StructField("window_start", TimestampType),
          StructField("n", LongType))))
        .parquet(sinkDir)
        .orderBy("window_start")
        .transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      out
    },

    // ---- state API v2 (transformWithState + RocksDB): per-type running
    //      totals in a named ValueState slot — the Spark 4 arbitrary-state
    //      surface alongside the mapGroupsWithState query below. RocksDB
    //      is also the right store at 100 TB: state spills off-heap and
    //      snapshots incrementally instead of rewriting HDFS files.
    QueryDef.checked(
      "q_stream_transform_state",
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val typed = eventsStream(spark, dir)
        .select(col("event_type"), col("value")).as[(String, Double)]
      val out = typed.groupByKey(_._1)
        .transformWithState(new TypeStatsProcessor,
          TimeMode.None(), OutputMode.Update(),
          org.apache.spark.sql.Encoders.product[TypeAgg])
      runToMemory(out.toDF(), "graft_stream_transform_state", "update",
        extra = Seq("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
        .orderBy("event_type")
    },

    // ---- state API v2 TIMERS: custom sessionizer where the LAST session
    //      per key closes on an event-time timer (emit-on-inactivity),
    //      not on a successor event — the timer surface session_window
    //      can't express. Mid-stream sessions emit inline at gap breaks;
    //      tail sessions emit only if the final watermark (max ts − 2 h,
    //      ms floor) passes their registered expiry slot, and the oracle
    //      reproduces that cut with the same ms arithmetic.
    QueryDef.checked(
      "q_stream_timer_session",
      """WITH marked AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |), islands AS (
        |  SELECT user_id, ts, cents,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked
        |), agg AS (
        |  SELECT user_id, session_id, min(ts) AS session_start,
        |    max(ts) AS session_end, count(*) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS cents,
        |    epoch_us(max(ts)) AS last_us
        |  FROM islands GROUP BY user_id, session_id
        |), wm AS (
        |  SELECT epoch_us(max(ts)) // 1000 - 7200000 AS wm_ms FROM events
        |), lastsess AS (
        |  SELECT user_id, max(session_id) AS last_id FROM agg GROUP BY user_id
        |)
        |SELECT a.user_id, a.session_start, a.session_end,
        |  CAST(a.n_events AS BIGINT) AS n_events, a.cents
        |FROM agg a JOIN lastsess l ON l.user_id = a.user_id, wm
        |WHERE a.session_id < l.last_id
        |   OR (a.last_us + 1800000000 + 999) // 1000 < wm.wm_ms
        |ORDER BY a.user_id, a.session_start""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val typed = eventsStream(spark, dir)
        .withWatermark("ts", "2 hours")
        .select(col("user_id"), expr("unix_micros(ts)").as("us"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .as[(Long, Long, Long)]
      val out = typed.groupByKey(_._1)
        .transformWithState(new TimerSessionProcessor(1800L * 1000000L),
          TimeMode.EventTime(), OutputMode.Append(),
          org.apache.spark.sql.Encoders.product[SessRow])
      runToMemory(out.toDF(), "graft_stream_timer_session", "append",
        noDataBatches = true,
        extra = Seq("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
        .select(col("user_id"),
          expr("timestamp_micros(start_us)").as("session_start"),
          expr("timestamp_micros(end_us)").as("session_end"),
          col("n_events"), col("cents"))
        .orderBy("user_id", "session_start")
    },

    // ---- arbitrary stateful processing (mapGroupsWithState): per-user
    //      running aggregate held in custom state — the "arbitrary state"
    //      row of §2B's streaming table. Value is accumulated as exact
    //      integer cents (order-independent), so the result hash-matches
    //      the oracle's batch DECIMAL sum.
    QueryDef.checked(
      "q_stream_stateful_user",
      """SELECT user_id, count(*) AS n_events, max(ts) AS last_ts,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
      val typed = eventsStream(spark, dir)
        .select(col("user_id"), col("ts"), col("value"))
        .as[(Long, java.sql.Timestamp, Double)]
      // Timestamp.getTime is millis — keep full µs precision in state
      def toUs(ts: java.sql.Timestamp): Long =
        Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
      def fromUs(us: Long): java.sql.Timestamp = {
        val sec = Math.floorDiv(us, 1000000L)
        val t = new java.sql.Timestamp(sec * 1000L)
        t.setNanos(((us - sec * 1000000L) * 1000L).toInt)
        t
      }
      val updated = typed
        .groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
           state: GroupState[UserState]) =>
            var s = state.getOption.getOrElse(UserState(0L, 0L, Long.MinValue))
            rows.foreach { case (_, ts, v) =>
              s = UserState(s.n + 1, s.cents + math.round(v * 100.0),
                math.max(s.lastUs, toUs(ts)))
            }
            state.update(s)
            UserAgg(uid, s.n, fromUs(s.lastUs), s.cents / 100.0)
        }
      runToMemory(updated.toDF(), "graft_stream_stateful", "update")
        .orderBy("user_id")
    },

    // ---- streaming top-k per key: state holds ONLY the current best 3
    //      (cents, event_id) pairs per user — O(k) state, never the
    //      event backlog — and each batch emits a versioned snapshot
    //      (monotone seen-counter). The final answer is the
    //      highest-version snapshot per key, exploded to (rank, value)
    //      rows; the ORDER is by exact integer cents with event_id
    //      tie-break, so the result is delivery-order-proof and matches
    //      the batch window oracle bit-for-bit. This is the serving-side
    //      "live leaderboard" shape: at 100 TB/day the state store keeps
    //      k longs per key in RocksDB and the shuffle is keyed by user
    //      only.
    QueryDef.checked(
      "q_stream_topk_state",
      """WITH ranked AS (
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
        |    event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(round(value * 100) AS BIGINT) DESC, event_id)
        |      AS rnk
        |  FROM events
        |)
        |SELECT user_id, CAST(rnk AS INT) AS rank, cents AS value_cents
        |FROM ranked WHERE rnk <= 3
        |ORDER BY user_id, rank""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
      import org.apache.spark.sql.expressions.Window
      val typed = eventsStream(spark, dir)
        .select(col("user_id"), col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .as[(Long, Long, Long)]
      val snaps = typed
        .groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[(Long, Long, Long)],
           state: GroupState[TopKState]) =>
            var s = state.getOption.getOrElse(TopKState(0L, Nil))
            rows.foreach { case (_, eid, cents) =>
              // best-first: cents desc, event_id asc; keep 3
              val merged = ((cents, eid) +: s.top)
                .sortBy { case (c, e) => (-c, e) }.take(3)
              s = TopKState(s.seen + 1, merged)
            }
            state.update(s)
            TopKSnap(uid, s.seen, s.top)
        }
      val finalSnap = runToMemory(snaps.toDF(), "graft_stream_topk", "update")
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("seen").desc)))
        .filter(col("rn") === 1)
      finalSnap
        .select(col("user_id"), posexplode(col("top")).as(Seq("i", "pair")))
        .select(col("user_id"), (col("i") + 1).cast("int").as("rank"),
          col("pair._1").as("value_cents"))
        .orderBy("user_id", "rank")
    },

    // ---- CDC apply (last-write-wins upsert materialization): the
    //      event stream is a change feed keyed by user_id; state holds
    //      only the WINNING version per key — ordered by the (ts,
    //      event_id) version key, not arrival order, so the
    //      materialized row is identical whatever the micro-batch
    //      boundaries or delivery order (the replication-apply
    //      semantics of the reference's clone loop, as a stream).
    //      Differs from the stateful aggregates above: state REPLACES
    //      instead of accumulating, which is the MERGE/upsert shape.
    //      At 100 TB: O(1) state per key in RocksDB, shuffle on the
    //      primary key only.
    QueryDef.checked(
      "q_stream_cdc_apply",
      """WITH v AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n_updates
        |  FROM events
        |)
        |SELECT user_id, CAST(n_updates AS BIGINT) AS n_updates,
        |  event_id AS last_event_id, cents AS last_cents
        |FROM v WHERE rn = 1
        |ORDER BY user_id""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
      val typed = eventsStream(spark, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .as[(Long, Long, java.sql.Timestamp, Long)]
      def toUs(ts: java.sql.Timestamp): Long =
        Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
      val applied = typed
        .groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, Long)],
           state: GroupState[CdcState]) =>
            var s = state.getOption
              .getOrElse(CdcState(Long.MinValue, Long.MinValue, 0L, 0L))
            rows.foreach { case (_, eid, ts, cents) =>
              val us = toUs(ts)
              // version key (ts, event_id): replace iff strictly newer
              val newer = us > s.lastUs || (us == s.lastUs && eid > s.lastId)
              s = CdcState(
                if (newer) us else s.lastUs,
                if (newer) eid else s.lastId,
                if (newer) cents else s.cents,
                s.n + 1)
            }
            state.update(s)
            CdcRow(uid, s.n, s.lastId, s.cents)
        }
      runToMemory(applied.toDF(), "graft_stream_cdc", "update")
        .select(col("user_id"), col("n_updates"), col("last_event_id"),
          col("last_cents"))
        .orderBy("user_id")
    },

    // ---- foreachBatch sink: each micro-batch is PARTIALLY aggregated
    //      (type → count + cents sum) and appended to a shared buffer;
    //      the final result merges the partials — provably equal to the
    //      one-shot batch aggregate because count/sum are associative,
    //      whatever the micro-batch boundaries were. This is the escape
    //      hatch surface for sinks Structured Streaming lacks (JDBC
    //      upserts, MERGE targets): at scale the lambda runs `df.write`
    //      / MERGE INTO per batch instead of collecting, and the
    //      merge-≡-recompute property is exactly what makes the
    //      incremental target trustworthy.
    QueryDef.checked(
      "q_stream_foreach_batch",
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val partials =
        scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      val src = eventsStream(spark, dir)
        .select(col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
      withStreamConfs(spark, noDataBatches = false, extra = Nil) {
        val q = src.writeStream
          .outputMode("append")
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            val rows = batch.groupBy("event_type")
              .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
              .collect()
            partials.synchronized {
              partials ++= rows.map(r =>
                (r.getString(0), r.getLong(1), r.getLong(2)))
            }
            () // foreachBatch wants Unit, not the buffer
          }
          .start()
        try { q.processAllAvailable() } finally { q.stop() }
      }
      partials.toSeq.toDF("event_type", "n", "c")
        .groupBy("event_type")
        .agg(sum(col("n")).cast("long").as("n_events"),
          sum(col("c")).cast("long").as("total_cents"))
        .orderBy("event_type")
    },

    // ---- dead-letter split sink: each micro-batch routes rows to the
    //      MAIN or DLQ buffer by a validity rule (value must parse to a
    //      positive amount and props must be valid JSON) inside ONE
    //      foreachBatch — the two-target sink pattern a production
    //      pipeline uses so poison rows quarantine instead of killing
    //      the query. Per-batch partial counts merge associatively, so
    //      the final report equals the batch split whatever the batch
    //      boundaries (same merge-≡-recompute law as foreach_batch).
    QueryDef.checked(
      "q_stream_dlq",
      """WITH split AS (
        |  SELECT CASE WHEN value > 0.05
        |      AND json_valid(props) THEN 'main' ELSE 'dlq' END AS route,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |)
        |SELECT route, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN route = 'main' THEN cents END) AS BIGINT)
        |    AS main_cents
        |FROM split
        |GROUP BY route
        |ORDER BY route""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val partials =
        scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      val src = eventsStream(spark, dir)
        .select(col("value"), col("props"))
      withStreamConfs(spark, noDataBatches = false, extra = Nil) {
        val q = src.writeStream
          .outputMode("append")
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            // single pass over the batch: route, then partial-aggregate
            // each target (at scale: two df.write calls, main + DLQ)
            val rows = batch
              .withColumn("route",
                when(col("value") > 0.05 &&
                  expr("props IS NOT NULL AND isnotnull(get_json_object(props, '$'))"),
                  "main").otherwise("dlq"))
              .withColumn("cents",
                expr("CAST(round(value * 100) AS BIGINT)"))
              .groupBy("route")
              .agg(count(lit(1)).as("n"),
                sum(when(col("route") === "main", col("cents"))).as("c"))
              .collect()
            partials.synchronized {
              partials ++= rows.map(r =>
                (r.getString(0), r.getLong(1),
                  if (r.isNullAt(2)) 0L else r.getLong(2)))
            }
            ()
          }
          .start()
        try { q.processAllAvailable() } finally { q.stop() }
      }
      partials.toSeq.toDF("route", "n", "c")
        .groupBy("route")
        .agg(sum(col("n")).cast("long").as("n_rows"),
          when(col("route") === "main", sum(col("c")).cast("long"))
            .otherwise(lit(null).cast("long")).as("main_cents"))
        .orderBy("route")
    },

    // ---- checkpoint restart: run a complete-mode aggregate over half
    //      the data, STOP the query, land the second half, restart with
    //      the SAME checkpoint — the final table must equal the batch
    //      aggregate over everything, proving state recovery + file-
    //      source offset tracking give exactly-once across restarts.
    //      This is the operational property a 100 TB pipeline actually
    //      relies on (executors die, jobs redeploy); the run-scoped
    //      temp source/checkpoint dirs make the restart REAL, not a
    //      processAllAvailable artifact.
    QueryDef.checked(
      "q_stream_restart",
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      val base = java.nio.file.Files.createTempDirectory("graft_restart_")
      val srcDir = base.resolve("src").toString
      val ckpt = base.resolve("ckpt").toString
      val ev = graft.Tables(spark, dir).events
        .select(col("event_id"), col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
      def land(parity: Int): Unit =
        ev.filter(col("event_id") % 2 === parity).drop("event_id")
          .coalesce(1).write.mode("append").parquet(srcDir)
      val srcSchema = StructType(Seq(
        StructField("event_type", StringType),
        StructField("cents", LongType)))
      def runOnce(): Unit =
        withStreamConfs(spark, noDataBatches = false, extra = Nil) {
          val q = spark.readStream.schema(srcSchema).parquet(srcDir)
            .groupBy("event_type")
            .agg(count(lit(1)).as("n_events"),
              sum(col("cents")).cast("long").as("total_cents"))
            .writeStream
            .format("memory")
            .queryName("graft_stream_restart")
            .option("checkpointLocation", ckpt)
            .outputMode("complete")
            .start()
          try { q.processAllAvailable() } finally { q.stop() }
        }
      land(0); runOnce() // phase 1: half the data, then a clean stop
      land(1); runOnce() // phase 2: restart from the checkpoint
      val out = spark.table("graft_stream_restart")
        .orderBy("event_type").transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      out
    },

    // ---- streaming ADMISSION CONTROL: a per-user token bucket
    //      (capacity 2, one token per 2 h of event time) deciding
    //      admit/reject per event — the rate-limit tier every
    //      multi-tenant ingest runs, expressed as transformWithState
    //      with integer remainder-preserving refill arithmetic. The
    //      oracle replays the identical bucket recurrence as a
    //      recursive CTE over per-user event sequences; the checked
    //      output is the admission census plus a checksum of WHICH
    //      events were rejected, so a single divergent decision flips
    //      the hash. Scale: state is 2 longs per user; decisions are
    //      per-row in the state operator, no extra shuffle beyond the
    //      keyed exchange.
    QueryDef.checked(
      "q_stream_rate_limit",
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events
        |), rec AS (
        |  SELECT user_id, rn, us AS last, CAST(1 AS BIGINT) AS tokens,
        |    TRUE AS admitted, event_id
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn,
        |    CASE WHEN r.tokens + (e.us - r.last) // 7200000000 >= 2
        |         THEN e.us
        |         ELSE r.last + ((e.us - r.last) // 7200000000) * 7200000000
        |         END,
        |    CASE WHEN least(2, r.tokens + (e.us - r.last) // 7200000000) > 0
        |         THEN least(2, r.tokens + (e.us - r.last) // 7200000000) - 1
        |         ELSE least(2, r.tokens + (e.us - r.last) // 7200000000) END,
        |    least(2, r.tokens + (e.us - r.last) // 7200000000) > 0,
        |    e.event_id
        |  FROM rec r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(*) FILTER (WHERE admitted) AS BIGINT) AS n_admitted,
        |  CAST(count(*) FILTER (WHERE NOT admitted) AS BIGINT) AS n_rejected,
        |  CAST(sum(CASE WHEN NOT admitted THEN event_id % 1000003
        |           ELSE 0 END) AS BIGINT) AS rejected_checksum
        |FROM rec""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val typed = eventsStream(spark, dir)
        .select(col("user_id"), expr("unix_micros(ts)").as("us"),
          col("event_id"))
        .as[(Long, Long, Long)]
      val out = typed.groupByKey(_._1)
        .transformWithState(new RateLimitProcessor(2L, 7200000000L),
          TimeMode.None(), OutputMode.Update(),
          org.apache.spark.sql.Encoders.product[AdmitRow])
      runToMemory(out.toDF(), "graft_stream_rate_limit", "update",
        extra = Seq("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
          sum(when(!col("admitted"), 1L).otherwise(0L)).as("n_rejected"),
          sum(when(!col("admitted"), col("event_id") % 1000003)
            .otherwise(0L)).cast("long").as("rejected_checksum"))
        .select(col("n_events").cast("long"), col("n_admitted").cast("long"),
          col("n_rejected").cast("long"), col("rejected_checksum"))
    },

    // ---- transactional (exactly-once) streaming sink: foreachBatch
    //      commits each micro-batch into a snapshot-log table
    //      ([[graft.sources.SnapshotLog]]) with the batch id as the
    //      transaction id, so a re-delivered batch — restart replay
    //      after a sink-committed-but-offset-uncommitted crash, the
    //      one seam where file sinks silently double-write — is a
    //      logged no-op. The query exercises the whole contract: two
    //      landings with a checkpoint restart between them
    //      (maxFilesPerTrigger=1 forces multiple batches), then an
    //      explicit duplicate re-delivery of an already-committed txn
    //      id carrying the FULL relation; if the idempotence guard
    //      dropped a single row or admitted the duplicate, the oracle
    //      hash would flip.
    QueryDef.checked(
      "q_stream_txn_sink",
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      val base = java.nio.file.Files.createTempDirectory("graft_txnsink_")
      val srcDir = base.resolve("src").toString
      val ckpt = base.resolve("ckpt").toString
      val t = new graft.sources.SnapshotLog.Table(
        spark, base.resolve("table").toString)
      val ev = graft.Tables(spark, dir).events
        .select(col("event_id"), col("event_type"), col("user_id"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
      def land(parity: Int): Unit =
        ev.filter(col("event_id") % 2 === parity).drop("event_id")
          .coalesce(1).write.mode("append").parquet(srcDir)
      val srcSchema = StructType(Seq(
        StructField("event_type", StringType),
        StructField("user_id", LongType),
        StructField("cents", LongType)))
      def runOnce(): Unit =
        withStreamConfs(spark, noDataBatches = false, extra = Nil) {
          val q = spark.readStream.schema(srcSchema)
            .option("maxFilesPerTrigger", "1").parquet(srcDir)
            .writeStream
            .foreachBatch { (bdf: DataFrame, bid: Long) =>
              t.commitAppendIdempotent(bdf, "event_type", s"stream-$bid")
              ()
            }
            .option("checkpointLocation", ckpt)
            .start()
          try { q.processAllAvailable() } finally { q.stop() }
        }
      land(0); runOnce() // phase 1, clean stop
      land(1); runOnce() // phase 2: restart from the checkpoint
      // duplicate delivery of a committed txn: must be a logged no-op
      val dup = t.commitAppendIdempotent(
        ev.drop("event_id"), "event_type", "stream-0")
      require(!dup, "duplicate txn was admitted — exactly-once broken")
      val out = t.asOf(t.version)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents")).cast("long").as("total_cents"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type").transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      out
    },

    // ---- streaming materialized-view maintenance from the change
    //      feed: the round's storage pieces composed end-to-end. The
    //      CDF source streams a snapshot-log table's commits
    //      (maxVersionsPerTrigger = 1, so each COMMIT is its own
    //      micro-batch — genuinely incremental, never a
    //      swallow-all-history batch); each batch folds its row-level
    //      inserts/deletes into a per-group delta (±cents, ±1) and
    //      MERGEs it into a summary snapshot table keyed by the group
    //      — COW touches only the partitions of touched groups. The
    //      in-query require proves one summary commit per source
    //      commit; the oracle recomputes the final summary from the
    //      raw events by predicate algebra, so a missed delta, a
    //      double-applied batch, or a sign error on deletes flips the
    //      hash. This is the IVM loop production tables run: CDC in,
    //      incrementally-maintained aggregate out, both transactional.
    QueryDef.checked(
      "q_stream_mv_maintain",
      """WITH final AS (
        |  SELECT event_type AS et,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |  WHERE NOT (event_type = 'click'
        |    AND CAST(round(value * 100) AS BIGINT) > 25000)
        |)
        |SELECT et AS event_type, count(*) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM final GROUP BY et ORDER BY et""".stripMargin) { (spark, dir) =>
      val src = graft.operators.Wave8.cdfStagedTable(spark, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_mvm_")
      val summary = new graft.sources.SnapshotLog.Table(
        spark, base.resolve("summary").toString)
      val feed = spark.readStream
        .format("graft.sources.SnapshotCdfSource")
        .option("path", src.root)
        .option("partCol", "event_type")
        .option("schema.ddl", "user_id LONG, cents LONG")
        .option("maxVersionsPerTrigger", "1")
        .load()
      withStreamConfs(spark, noDataBatches = false, extra = Nil) {
        val q = feed.writeStream
          .foreachBatch { (bdf: DataFrame, _: Long) =>
            if (!bdf.isEmpty) {
              val delta = bdf.groupBy("event_type").agg(
                sum(when(col("_change") === "insert", col("cents"))
                  .otherwise(-col("cents"))).cast("long").as("d_cents"),
                sum(when(col("_change") === "insert", 1L).otherwise(-1L))
                  .as("d_rows"))
              val merged =
                if (summary.version == 0)
                  delta.select(col("event_type"),
                    col("d_rows").as("n_rows"),
                    col("d_cents").as("sum_cents"))
                else delta.join(summary.asOf(summary.version),
                    Seq("event_type"), "left")
                  .select(col("event_type"),
                    (coalesce(col("n_rows"), lit(0L)) + col("d_rows"))
                      .as("n_rows"),
                    (coalesce(col("sum_cents"), lit(0L)) + col("d_cents"))
                      .as("sum_cents"))
              if (summary.version == 0)
                summary.commitAppend(merged, "event_type")
              else summary.commitMerge(merged, "event_type")
            }
            ()
          }
          .option("checkpointLocation", base.resolve("ckpt").toString)
          .start()
        try { q.processAllAvailable() } finally { q.stop() }
      }
      // incrementality conviction: one summary commit per source commit
      require(summary.version == src.version,
        s"expected ${src.version} incremental merges, " +
          s"got ${summary.version}")
      val out = summary.asOf(summary.version)
        .select("event_type", "n_rows", "sum_cents")
        .orderBy("event_type").transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      out
    },

    // ---- transactional CDC sink with tombstones: the streaming twin
    //      of q_snapshot_cdc_merge. Four change batches stream in
    //      order (slice k = event_id % 4 == k): each upserts its own
    //      rows and TOMBSTONES keys of earlier slices (event_id % 7 ==
    //      k ∧ % 4 < k — no later slice ever re-inserts a killed key,
    //      so the final dead set is a pure predicate the oracle
    //      replays). Batches land through
    //      commitApplyChangesIdempotent keyed by batch id, across a
    //      stop/restart seam; a replayed batch must be a logged no-op
    //      — for CDC that is a CORRECTNESS requirement, not a
    //      dedup nicety: a replayed tombstone would kill a key a later
    //      batch legitimately re-owned. The in-query duplicate
    //      redelivery proves it.
    QueryDef.checked(
      "q_stream_cdc_txn_sink",
      """SELECT event_type, count(*) AS n_rows,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(event_id) AS min_key, max(event_id) AS max_key
        |FROM events
        |WHERE NOT (event_id % 7 IN (1, 2, 3)
        |           AND event_id % 4 < event_id % 7)
        |GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (spark, dir) =>
      val base = java.nio.file.Files.createTempDirectory("graft_cdcsink_")
      val srcDir = base.resolve("src").toString
      val ckpt = base.resolve("ckpt").toString
      val t = new graft.sources.SnapshotLog.Table(
        spark, base.resolve("table").toString)
      val ev = graft.Tables(spark, dir).events
        .select(col("event_id"), col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
        .transform(localCheckpoint) // feeds all four slices + the tombstone scan
      // v1, empty: only an append declares the partition column the
      // CDC commits rewrite under
      t.commitAppend(ev.limit(0), "event_type")
      // slice k: own upserts + tombstones for earlier slices' %7==k keys
      def land(k: Int): Unit = {
        val ups = ev.filter(col("event_id") % 4 === k)
          .withColumn("__op", lit("U"))
        val tombs = ev.filter(
          col("event_id") % 7 === k && col("event_id") % 4 < k)
          .withColumn("__op", lit("D"))
        ups.unionByName(tombs).coalesce(1)
          .write.mode("append").parquet(srcDir)
      }
      val srcSchema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("cents", LongType),
        StructField("__op", StringType)))
      def runOnce(): Unit =
        withStreamConfs(spark, noDataBatches = false, extra = Nil) {
          val q = spark.readStream.schema(srcSchema)
            .option("maxFilesPerTrigger", "1").parquet(srcDir)
            .writeStream
            .foreachBatch { (bdf: DataFrame, bid: Long) =>
              t.commitApplyChangesIdempotent(bdf, "event_id", s"cdc-$bid")
              ()
            }
            .option("checkpointLocation", ckpt)
            .start()
          try { q.processAllAvailable() } finally { q.stop() }
        }
      // one run per slice: CDC application order is semantics (a
      // tombstone applied before its key's insert is a no-op and the
      // insert would resurrect it), so each restart seam lands exactly
      // one slice — 3 checkpoint-resume seams proven along the way
      (0 to 3).foreach { k => land(k); runOnce() }
      // duplicate redelivery of batch 0: must be a logged no-op — a
      // re-applied slice-0 upsert would resurrect keys slices 1-3
      // tombstoned
      val dup = t.commitApplyChangesIdempotent(
        ev.filter(col("event_id") % 4 === 0).withColumn("__op", lit("U")),
        "event_id", "cdc-0")
      require(!dup, "duplicate CDC txn was admitted — exactly-once broken")
      val out = t.asOf(t.version)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).cast("long").as("sum_cents"),
          min(col("event_id")).as("min_key"),
          max(col("event_id")).as("max_key"))
        .orderBy("event_type").transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      out
    }
  )
}
