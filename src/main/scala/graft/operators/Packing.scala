package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables

/** Sequence packing, passage windowing, and corpus-mixture operators —
  * the batch-assembly tail of a training-data pipeline (north star,
  * SURVEY.md §2B: what happens to the corpus AFTER dedup/filtering,
  * when documents become training sequences).
  *
  * All selection here is content-hash deterministic (same md5-derived
  * ordering as [[Sampling]]/[[TextAnalysis]]'s split), so a training
  * run's batch composition is reproducible across engines, retries, and
  * partition layouts — the property the reference enforces for clones
  * via idempotent re-runs (`clone_databases.sh:227-231` skip-if-exists)
  * carried to row-level lineage.
  *
  * Scale stance (100 TB):
  *   - Packing is SHARD-LOCAL: docs are hash-bucketed into shards and
  *     each shard packs independently in one sorted pass — O(1) state
  *     per partition, no global sequential dependency, shards ≫
  *     executors parallelism. A global greedy pack would serialize the
  *     whole corpus through one task; shard-local is what production
  *     packers do (bin quality is statistically identical at corpus
  *     token counts).
  *   - Mixture weighting needs only per-stratum aggregates (one shuffle
  *     on a low-cardinality key) plus a broadcast of the tiny weight
  *     table back onto the corpus.
  *   - The token-budget head uses a single-partition running sum — fine
  *     for a report over per-stratum aggregates, but the scaladoc on
  *     [[defs]]'s q_token_budget_head notes the two-pass
  *     (sample-quantile → filter) formulation that replaces it when the
  *     ordered relation itself is 100 TB.
  */
object Packing {

  /** Packer input/output rows (typed Dataset for the one genuinely
    * sequential-per-shard pass; everything around it stays declarative). */
  final case class PackIn(shard: Long, doc_id: Long, n_tok: Int)
  final case class PackOut(shard: Long, bin: Long, doc_id: Long, n_tok: Int)

  /** Bin capacity in tokens (a stand-in context length; docs longer than
    * the cap get a bin of their own — real packers truncate or split,
    * which would hide the bin-accounting semantics under test here). */
  val BinCapacity = 256

  /** Number of hash shards packing runs over. Test-sized; production
    * sets this so one shard's docs stream through one task comfortably
    * (e.g. corpus_tokens / (target_bins_per_task * capacity)). */
  val PackShards = 8

  /** Passage window / stride (tokens) for overlapping RAG-style
    * chunking: windows start every [[PassageStride]] tokens, so
    * consecutive passages overlap by W − S = 10 tokens. */
  val PassageWindow = 40
  val PassageStride = 30

  /** Per-language epoch target for the resampling plan. */
  val LangTarget = 100

  /** Global token budget for the head-selection query. */
  val TokenBudget = 20000L

  /** Greedy shard-local sequence packing of (shard, doc_id, n_tok) rows.
    *
    * Rows are hash-partitioned BY SHARD and sorted (shard, doc_id)
    * within partitions; one streaming pass then assigns bins, closing a
    * bin when the next doc would overflow [[BinCapacity]]. State is two
    * longs per in-flight shard — constant memory however large the
    * shard — and the pass resets whenever the shard id changes, so
    * co-residence of several shards in one partition (hash collisions)
    * is harmless. Determinism: bin ids depend only on the (shard,
    * doc_id) order, never on partition count or placement.
    */
  def greedyPack(prepped: DataFrame): DataFrame = {
    implicit val outEnc = Encoders.product[PackOut]
    prepped
      .repartition(PackShards, col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      .as(Encoders.product[PackIn])
      .mapPartitions { it =>
        var curShard = Long.MinValue
        var bin = 0L
        var fill = 0L
        it.map { r =>
          if (r.shard != curShard) { curShard = r.shard; bin = 0L; fill = r.n_tok.toLong }
          else if (fill + r.n_tok > BinCapacity) { bin += 1; fill = r.n_tok.toLong }
          else fill += r.n_tok
          PackOut(r.shard, bin, r.doc_id, r.n_tok)
        }
      }
      .toDF()
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- greedy sequence packing: shard-local first-fit of docs into
    //      256-token bins, reported as per-bin accounting. The oracle
    //      replays the same greedy recurrence as a recursive CTE (one
    //      row per shard advances per recursion step), so the bin
    //      boundaries — not just totals — are hash-checked.
    QueryDef.checked(
      "q_seq_pack",
      s"""WITH RECURSIVE docs AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % $PackShards AS shard,
         |    len(string_split(text, ' ')) AS n_tok
         |  FROM documents
         |), ordered AS (
         |  SELECT shard, doc_id, n_tok,
         |    row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
         |  FROM docs
         |), pack(shard, rn, doc_id, n_tok, bin, fill) AS (
         |  SELECT shard, rn, doc_id, n_tok, CAST(0 AS BIGINT), CAST(n_tok AS BIGINT)
         |  FROM ordered WHERE rn = 1
         |  UNION ALL
         |  SELECT o.shard, o.rn, o.doc_id, o.n_tok,
         |    CASE WHEN p.fill + o.n_tok > $BinCapacity THEN p.bin + 1 ELSE p.bin END,
         |    CASE WHEN p.fill + o.n_tok > $BinCapacity THEN CAST(o.n_tok AS BIGINT)
         |         ELSE p.fill + o.n_tok END
         |  FROM pack p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1
         |)
         |SELECT shard, bin, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM pack GROUP BY shard, bin
         |ORDER BY shard, bin""".stripMargin) { (spark, dir) =>
      val prepped = Tables(spark, dir).documents
        .select(col("doc_id"),
          (Dedup.md5h64(col("doc_id").cast("string")) % PackShards).as("shard"),
          size(split(col("text"), " ")).as("n_tok"))
      greedyPack(prepped)
        .groupBy("shard", "bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("bin_tokens"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("shard", "bin")
    },

    // ---- overlapping passage windows (RAG chunking): a 40-token window
    //      sliding by 30, emitted per (doc, window index) with the
    //      passage fingerprint; distinct from q_chunk_dedup's
    //      non-overlapping chunks by the stride semantics. One
    //      explode — no shuffle at all until the final sort.
    QueryDef.checked(
      "q_passage_windows",
      s"""WITH sp AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |), ex AS (
         |  SELECT doc_id, len(toks) AS n_tok, toks,
         |    unnest(range(0, len(toks), $PassageStride)) AS s
         |  FROM sp
         |)
         |SELECT doc_id, s // $PassageStride AS p_idx,
         |  least($PassageWindow, n_tok - s) AS n_ptok,
         |  md5(array_to_string(toks[(s + 1):(s + $PassageWindow)], ' ')) AS passage_sig
         |FROM ex
         |ORDER BY doc_id, p_idx""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).documents
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), size(col("toks")).as("n_tok"),
          posexplode(expr(
            s"""transform(sequence(0, size(toks) - 1, $PassageStride),
               |  s -> concat_ws(' ', slice(toks, s + 1, $PassageWindow)))""".stripMargin))
            .as(Seq("p_idx", "passage")))
        .select(col("doc_id"), col("p_idx").cast("long").as("p_idx"),
          least(lit(PassageWindow), col("n_tok") - col("p_idx") * PassageStride)
            .as("n_ptok"),
          md5(col("passage")).as("passage_sig"))
        .orderBy("doc_id", "p_idx")
    },

    // ---- mixture weights: per-language corpus shares under raw and
    //      temperature (α = 0.5) weighting — the up/down-weighting table
    //      a multilingual sampler is driven by. One tiny groupBy + a
    //      broadcast scalar; the corpus is scanned once.
    QueryDef.checked(
      "q_mixture_weights",
      """WITH counts AS (
        |  SELECT lang, count(*) AS n,
        |    sum(len(string_split(text, ' '))) AS toks
        |  FROM documents GROUP BY lang
        |), tot AS (
        |  SELECT CAST(sum(n) AS DOUBLE) AS nz, sum(sqrt(n)) AS wz FROM counts
        |)
        |SELECT lang, n AS n_docs, CAST(toks AS BIGINT) AS n_tokens,
        |  round(CAST(n AS DOUBLE) / nz, 6) AS share_raw,
        |  round(sqrt(n) / wz, 6) AS share_a05
        |FROM counts CROSS JOIN tot
        |ORDER BY lang""".stripMargin) { (spark, dir) =>
      val counts = Tables(spark, dir).documents
        .select(col("lang"), size(split(col("text"), " ")).as("n_tok"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("toks"))
      val tot = counts.agg(
        sum(col("n")).cast("double").as("nz"),
        sum(sqrt(col("n"))).as("wz"))
      counts.crossJoin(broadcast(tot))
        .select(col("lang"), col("n").as("n_docs"),
          col("toks").cast("long").as("n_tokens"),
          round(col("n").cast("double") / col("nz"), 6).as("share_raw"),
          round(sqrt(col("n")) / col("wz"), 6).as("share_a05"))
        .orderBy("lang")
    },

    // ---- epoch resampling plan: rebalance every language to exactly
    //      100 rows/epoch by deterministic up/downsampling — rank docs
    //      inside each language by content hash, give each doc
    //      ⌊T/n⌋ (+1 for the first T mod n ranks) copies. Languages over
    //      target downsample (head of the hash order), under target
    //      upsample (whole-set repeats + remainder head). The
    //      id-weighted checksum pins the exact selection, not just
    //      counts.
    QueryDef.checked(
      "q_mixture_resample",
      s"""WITH h AS (
         |  SELECT doc_id, lang,
         |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
         |  FROM documents
         |), ranked AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS r,
         |    count(*) OVER (PARTITION BY lang) AS n_l
         |  FROM h
         |), copies AS (
         |  SELECT doc_id, lang, n_l,
         |    $LangTarget // n_l +
         |      CASE WHEN r <= $LangTarget % n_l THEN 1 ELSE 0 END AS c
         |  FROM ranked
         |)
         |SELECT lang, CAST(max(n_l) AS BIGINT) AS n_source,
         |  CAST(count(*) FILTER (WHERE c > 0) AS BIGINT) AS n_unique_used,
         |  CAST(sum(c) AS BIGINT) AS n_rows_epoch,
         |  CAST(max(c) AS BIGINT) AS max_copies,
         |  CAST(sum(doc_id * c) AS BIGINT) AS id_weighted_sum
         |FROM copies GROUP BY lang
         |ORDER BY lang""".stripMargin) { (spark, dir) =>
      val byLang = Window.partitionBy("lang")
      val ranked = Tables(spark, dir).documents
        .select(col("doc_id"), col("lang"),
          Dedup.md5h64(col("doc_id").cast("string")).as("hv"))
        .withColumn("r", row_number().over(byLang.orderBy("hv", "doc_id")))
        .withColumn("n_l", count(lit(1)).over(byLang))
      ranked
        .withColumn("c",
          expr(s"$LangTarget div n_l") +
            when(col("r") <= lit(LangTarget) % col("n_l"), 1L).otherwise(0L))
        .groupBy("lang")
        .agg(max(col("n_l")).cast("long").as("n_source"),
          count(when(col("c") > 0, 1)).cast("long").as("n_unique_used"),
          sum(col("c")).cast("long").as("n_rows_epoch"),
          max(col("c")).cast("long").as("max_copies"),
          sum(col("doc_id") * col("c")).cast("long").as("id_weighted_sum"))
        .orderBy("lang")
    },

    // ---- token-budget head: walk the corpus in content-hash order and
    //      keep every doc that STARTS before a 20k-token budget is
    //      exhausted; report the kept set per language. The running sum
    //      is a RangeRank distributed prefix scan (range partitions +
    //      per-partition running sums + broadcast prefix offsets — no
    //      single-partition window); when only the cutoff matters, the
    //      cheaper production variant estimates the budget's hash-value
    //      cutoff from a sample and map-side filters h < cutoff.
    QueryDef.checked(
      "q_token_budget_head",
      s"""WITH h AS (
         |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok,
         |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, lang, n_tok,
         |    sum(n_tok) OVER (ORDER BY hv, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM h
         |)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(max(cum) AS BIGINT) AS max_cum
         |FROM c WHERE cum - n_tok < $TokenBudget
         |GROUP BY lang
         |ORDER BY lang""".stripMargin) { (spark, dir) =>
      val h = Tables(spark, dir).documents
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).as("n_tok"),
          Dedup.md5h64(col("doc_id").cast("string")).as("hv"))
      graft.util.RangeRank.withGlobalCumSum(h, "cum", "n_tok",
          spark.sessionState.conf.numShufflePartitions,
          col("hv"), col("doc_id"))
        .filter(col("cum") - col("n_tok") < TokenBudget)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("n_tokens"),
          max(col("cum")).cast("long").as("max_cum"))
        .orderBy("lang")
    },

    // ---- cluster-canonical selection: near-dup clusters keep their
    //      HIGHEST-QUALITY member (token diversity, integer-scaled; ties
    //      to the lowest doc_id) — the selection policy that turns
    //      q_dedup_clusters' components into an actual drop list. Oracle
    //      recomputes the same transitive closure + quality ranking.
    QueryDef.checked(
      "q_dedup_keep_best",
      s"""WITH RECURSIVE ${Dedup.duckPairsCtes},
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION
         |  SELECT doc_b, doc_a FROM pairs
         |), reach(node, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node
         |), comp AS (
         |  SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
         |), qual AS (
         |  SELECT doc_id,
         |    len(list_distinct(string_split(text, ' '))) * 1000
         |      // len(string_split(text, ' ')) AS q
         |  FROM documents
         |), ranked AS (
         |  SELECT c.cluster_id, c.doc_id, q.q,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |                       ORDER BY q.q DESC, c.doc_id) AS rn,
         |    count(*) OVER (PARTITION BY c.cluster_id) AS n_docs
         |  FROM comp c JOIN qual q USING (doc_id)
         |)
         |SELECT cluster_id, doc_id AS keep_doc, q AS keep_quality,
         |  n_docs, n_docs - 1 AS n_dropped
         |FROM ranked WHERE rn = 1
         |ORDER BY cluster_id""".stripMargin) { (spark, dir) =>
      val docs = Tables(spark, dir).documents
      val comp = Clusters.connectedComponents(
        Dedup.minhashPairs(docs).select(col("doc_a").as("a"), col("doc_b").as("b")))
        .select(col("node").as("doc_id"), col("cluster_id"))
      val qual = docs
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"),
          expr("size(array_distinct(toks)) * 1000 div size(toks)").as("q"))
      val byCluster = Window.partitionBy("cluster_id")
      comp.join(qual, Seq("doc_id"))
        .withColumn("rn",
          row_number().over(byCluster.orderBy(col("q").desc, col("doc_id"))))
        .withColumn("n_docs", count(lit(1)).over(byCluster))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("keep_doc"),
          col("q").as("keep_quality"), col("n_docs"),
          (col("n_docs") - 1).as("n_dropped"))
        .orderBy("cluster_id")
    },

    // ---- epoch/repeat schedule: given a uniform target mix (total
    //      corpus tokens ÷ 20 sources), how many epochs of each source
    //      to take (capped at 4 — the repetition-harm ceiling), how many
    //      tokens that plans, and the shortfall where even 4 epochs
    //      can't fill the target. Pure integer arithmetic over one
    //      source-sized aggregate; the scalar total broadcasts back.
    QueryDef.checked(
      "q_epoch_plan",
      """WITH avail AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
        |  FROM documents GROUP BY source
        |), tot AS (
        |  SELECT CAST(sum(avail_tokens) AS BIGINT) AS total FROM avail
        |), plan AS (
        |  SELECT a.source, a.avail_tokens, t.total // 20 AS target_tokens,
        |    least((t.total // 20 + a.avail_tokens - 1) // a.avail_tokens, 4)
        |      AS repeat_epochs
        |  FROM avail a, tot t
        |)
        |SELECT source, avail_tokens, target_tokens,
        |  CAST(repeat_epochs AS BIGINT) AS repeat_epochs,
        |  least(avail_tokens * repeat_epochs, target_tokens) AS planned_tokens,
        |  target_tokens - least(avail_tokens * repeat_epochs, target_tokens)
        |    AS shortfall
        |FROM plan ORDER BY source""".stripMargin) { (spark, dir) =>
      val avail = Tables(spark, dir).documents
        .groupBy("source")
        .agg(sum(size(split(col("text"), " "))).cast("long").as("avail_tokens"))
      val tot = avail.agg(sum(col("avail_tokens")).cast("long").as("total"))
      avail.crossJoin(broadcast(tot))
        .select(col("source"), col("avail_tokens"),
          expr("total div 20").as("target_tokens"),
          least(expr("(total div 20 + avail_tokens - 1) div avail_tokens"),
            lit(4L)).cast("long").as("repeat_epochs"))
        .select(col("source"), col("avail_tokens"), col("target_tokens"),
          col("repeat_epochs"),
          least(col("avail_tokens") * col("repeat_epochs"),
            col("target_tokens")).as("planned_tokens"),
          (col("target_tokens") - least(col("avail_tokens") * col("repeat_epochs"),
            col("target_tokens"))).as("shortfall"))
        .orderBy("source")
    },

    // ---- rendezvous (highest-random-weight) sharding: every doc
    //      scores each shard with a keyed hash and lands on the argmax
    //      — resizing 8 → 9 shards moves only ~1/9 of the corpus (the
    //      minimal-movement property mod-hashing lacks: doc_id % N
    //      moves (N−1)/N of all rows). The report shows per-shard
    //      populations under both sizes and the measured movement
    //      rate — the reshard-cost artifact for incremental clone
    //      maintenance. Argmax is a pure-integer encoded max
    //      (hash·16 + shard), so assignment is reproducible on any
    //      engine; per-doc work is O(shards) inside the scan stage.
    QueryDef.checked(
      "q_rendezvous_shards",
      """WITH w AS (
        |  SELECT doc_id, s,
        |    (CAST(concat('0x', substring(md5(
        |      concat(CAST(doc_id AS VARCHAR), ':', CAST(s AS VARCHAR))),
        |      1, 13)) AS BIGINT)) * 16 + s AS wk
        |  FROM documents, range(9) t(s)
        |), a8 AS (
        |  SELECT doc_id, CAST(max(wk) % 16 AS BIGINT) AS shard8
        |  FROM w WHERE s < 8 GROUP BY doc_id
        |), a9 AS (
        |  SELECT doc_id, CAST(max(wk) % 16 AS BIGINT) AS shard9
        |  FROM w GROUP BY doc_id
        |)
        |SELECT a8.shard8 AS shard, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN a9.shard9 <> a8.shard8 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_moved,
        |  round(CAST(sum(CASE WHEN a9.shard9 <> a8.shard8 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS move_rate
        |FROM a8 JOIN a9 ON a9.doc_id = a8.doc_id
        |GROUP BY a8.shard8
        |ORDER BY shard""".stripMargin) { (spark, dir) =>
      val docs = Tables(spark, dir).documents
      // one exploded weight relation (9 rows/doc), consumed by both
      // shard counts — the 52-bit hash × 16 + shard encoding makes the
      // argmax a plain integer max with a built-in tie-break
      val w = docs.select(col("doc_id"),
          explode(expr("sequence(0, 8)")).as("s"))
        .select(col("doc_id"), col("s"),
          (expr("""CAST(conv(substring(md5(concat(
            CAST(doc_id AS STRING), ':', CAST(s AS STRING))), 1, 13), 16, 10)
            AS BIGINT)""") * 16 + col("s")).as("wk"))
        .transform(localCheckpoint)
      val a8 = w.filter(col("s") < 8).groupBy("doc_id")
        .agg((max(col("wk")) % 16).cast("long").as("shard8"))
      val a9 = w.groupBy("doc_id")
        .agg((max(col("wk")) % 16).cast("long").as("shard9"))
      a8.join(a9, Seq("doc_id"))
        .groupBy(col("shard8").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("shard9") =!= col("shard8"), 1).otherwise(0))
            .cast("long").as("n_moved"))
        .select(col("shard"), col("n_docs"), col("n_moved"),
          round(col("n_moved").cast("double") / col("n_docs"), 6)
            .as("move_rate"))
        .orderBy("shard")
    },

    // ---- shuffle sharding (the Route 53 / Shuffle Sharding isolation
    //      pattern): each user is assigned the 2 of 8 shards with the
    //      smallest per-(user, shard) hash weights, so two users share
    //      BOTH shards with probability only 1/C(8,2) — a noisy
    //      neighbor takes out at most its own pair. The report is the
    //      pair-occupancy census (all 28 pairs + load skew inputs).
    //      Scale: the 8-row explode rides the user scan; the choose-2
    //      is a per-user window over 8 rows (bounded); one shuffle on
    //      the pair key for the census — no corpus-wide sort anywhere.
    QueryDef.checked(
      "q_shuffle_sharding",
      """WITH users AS (
        |  SELECT DISTINCT user_id FROM events
        |), w AS (
        |  SELECT user_id, s,
        |    row_number() OVER (PARTITION BY user_id ORDER BY
        |      CAST(concat('0x', substring(md5(
        |        concat(CAST(user_id AS VARCHAR), '#', CAST(s AS VARCHAR))),
        |        1, 13)) AS BIGINT), s) AS rn
        |  FROM users, range(8) t(s)
        |), pick AS (
        |  SELECT user_id,
        |    CAST(min(CASE WHEN rn <= 2 THEN s END) AS BIGINT) AS s_lo,
        |    CAST(max(CASE WHEN rn <= 2 THEN s END) AS BIGINT) AS s_hi
        |  FROM w GROUP BY user_id
        |)
        |SELECT s_lo, s_hi, count(*) AS n_users
        |FROM pick
        |GROUP BY s_lo, s_hi
        |ORDER BY s_lo, s_hi""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val users = Tables(spark, dir).events.select("user_id").distinct()
      // per-user window over exactly 8 exploded rows — bounded frame
      val wU = Window.partitionBy("user_id").orderBy(col("hv"), col("s"))
      users.select(col("user_id"), explode(expr("sequence(0, 7)")).as("s"))
        .withColumn("hv", expr(
          """CAST(conv(substring(md5(concat(
            |  CAST(user_id AS STRING), '#', CAST(s AS STRING))), 1, 13),
            |  16, 10) AS BIGINT)""".stripMargin))
        .withColumn("rn", row_number().over(wU))
        .groupBy("user_id")
        .agg(
          min(when(col("rn") <= 2, col("s"))).cast("long").as("s_lo"),
          max(when(col("rn") <= 2, col("s"))).cast("long").as("s_hi"))
        .groupBy("s_lo", "s_hi")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("s_lo", "s_hi")
    },

    // ---- smoothed target encoding: the categorical-feature encoder a
    //      tabular model trains with — category mean of the target
    //      blended toward the global prior by pseudo-count m=50
    //      (James-Stein-style shrinkage that keeps rare categories from
    //      memorizing). Sums stay exact DECIMAL to the final division;
    //      the category table (|domain| rows) broadcasts back onto
    //      facts at the target for the actual feature join.
    QueryDef.checked(
      "q_target_encoding",
      """WITH g AS (
        |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
        |    / count(*) AS prior
        |  FROM orders
        |), per_cat AS (
        |  SELECT c_mktsegment, count(*) AS n,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS s
        |  FROM orders JOIN customer ON c_custkey = o_custkey
        |  GROUP BY c_mktsegment
        |)
        |SELECT c_mktsegment, n,
        |  round(s / n, 6) AS raw_mean,
        |  round((s + g.prior * 50) / (n + 50), 6) AS encoded
        |FROM per_cat, g
        |ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val t = Tables(spark, dir)
      val g = t.orders.agg(
        (sum(col("o_totalprice").cast(DecimalType(14, 2))).cast("double")
          / count(lit(1))).as("prior"))
      t.orders
        .join(t.customer, col("c_custkey") === col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(14, 2))).cast("double")
            .as("s"))
        .crossJoin(broadcast(g))
        .select(col("c_mktsegment"), col("n"),
          round(col("s") / col("n"), 6).as("raw_mean"),
          round((col("s") + col("prior") * 50) / (col("n") + 50), 6)
            .as("encoded"))
        .orderBy("c_mktsegment")
    },

    // ---- fill-in-the-middle split planning (Bavarian et al. 2022):
    //      each document gets two deterministic character cuts from its
    //      content hash — (prefix, middle, suffix) — and a 50/50
    //      PSM/SPM mode bit, then the plan reports per (source, mode)
    //      segment-mass shares. The cuts are pure integer arithmetic on
    //      the 60-bit md5 hash, so the split replays bit-identically on
    //      any engine/partitioning — the property FIM prep needs so a
    //      re-run doesn't re-cut the corpus differently. Stateless
    //      per-row work in the scan + one bounded aggregate.
    QueryDef.checked(
      "q_fim_split",
      """WITH cuts AS (
        |  SELECT source,
        |    CAST(concat('0x', substring(md5(text), 1, 15)) AS BIGINT) AS h,
        |    len(text) AS n
        |  FROM documents
        |), seg AS (
        |  SELECT source, n,
        |    h % (n + 1) AS c1,
        |    h % (n + 1) + ((h // 1000003) % (n - (h % (n + 1)) + 1)) AS c2,
        |    CASE WHEN (h // 13) % 2 = 0 THEN 'psm' ELSE 'spm' END AS mode
        |  FROM cuts
        |)
        |SELECT source, mode, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(c1) AS BIGINT) AS prefix_chars,
        |  CAST(sum(c2 - c1) AS BIGINT) AS middle_chars,
        |  CAST(sum(n - c2) AS BIGINT) AS suffix_chars,
        |  CAST(sum(c2 - c1) * 1000000 // sum(n) AS BIGINT) AS middle_share_fp
        |FROM seg GROUP BY source, mode
        |ORDER BY source, mode""".stripMargin) { (spark, dir) =>
      val seg = Tables(spark, dir).documents
        .select(col("source"), Dedup.md5h64(col("text")).as("h"),
          length(col("text")).cast("long").as("n"))
        .withColumn("c1", col("h") % (col("n") + 1))
        .withColumn("c2",
          col("c1") + (expr("h div 1000003") % (col("n") - col("c1") + 1)))
        .withColumn("mode",
          when(expr("h div 13") % 2 === 0, "psm").otherwise("spm"))
      seg.groupBy("source", "mode")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("c1")).as("prefix_chars"),
          sum(col("c2") - col("c1")).as("middle_chars"),
          sum(col("n") - col("c2")).as("suffix_chars"),
          expr("sum(c2 - c1) * 1000000 div sum(n)").as("middle_share_fp"))
        .orderBy("source", "mode")
    }
  )
}
