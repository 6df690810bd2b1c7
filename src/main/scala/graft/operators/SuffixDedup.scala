package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables

/** Suffix-neighborhood substring dedup — the distributed approximation
  * of suffix-array duplicate detection (sort all suffixes; long shared
  * prefixes between ADJACENT suffixes reveal repeated substrings, cf.
  * Lee et al., "Deduplicating Training Data Makes Language Models
  * Better", ACL 2022).
  *
  * Every document emits one suffix per token start, capped at 8 tokens /
  * 48 chars (the cap bounds both sort-key width and LCP work; repeats
  * longer than the cap still surface as runs of cap-length matches).
  * The global suffix order is a range-partitioned rank ([[graft.util
  * .RangeRank]] — P tasks sort P slices, no single-partition exchange),
  * neighbors come from a rank-equi self-join (rn = rn + 1, exactly N−1
  * candidate pairs regardless of skew), and the LCP is a monotone
  * prefix-equality count evaluated identically by both engines.
  *
  * Scale stance (100 TB): suffix volume is tokens-per-corpus rows — the
  * one corpus-sized relation; it is shuffled ONCE (the range exchange)
  * and everything after operates on adjacent pairs. This is the same
  * cost shape as the sorted-neighborhood blocker, with the sort key
  * carrying the dedup signal itself instead of a sketch of it.
  */
object SuffixDedup {

  private val capToks = 8
  private val capChars = 48

  val defs: Seq[QueryDef] = Seq(

    // ---- cross-document repeated substrings: adjacent-suffix pairs
    //      from different documents whose capped LCP ≥ 16 chars, top 20
    //      by LCP. The k ≤ least(len) guard makes the prefix count equal
    //      the true LCP (without it, identical short suffixes would
    //      count positions past their length).
    QueryDef.checked(
      "q_suffix_lcp",
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |), sfx AS (
         |  SELECT doc_id, CAST(j - 1 AS INTEGER) AS pos,
         |    substring(array_to_string(list_slice(t, j, j + ${capToks - 1}),
         |      ' '), 1, $capChars) AS s
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS j) u
         |), nb AS (
         |  SELECT doc_id AS doc_a, pos AS pos_a, s AS s_a,
         |    lead(doc_id) OVER w AS doc_b, lead(pos) OVER w AS pos_b,
         |    lead(s) OVER w AS s_b
         |  FROM sfx WINDOW w AS (ORDER BY s, doc_id, pos)
         |), scored AS (
         |  SELECT doc_a, pos_a, doc_b, pos_b,
         |    CAST(list_sum(list_transform(range(1, ${capChars + 1}), k ->
         |      CASE WHEN k <= least(len(s_a), len(s_b))
         |             AND substring(s_a, 1, k) = substring(s_b, 1, k)
         |           THEN 1 ELSE 0 END)) AS BIGINT) AS lcp
         |  FROM nb WHERE doc_b IS NOT NULL AND doc_a <> doc_b
         |)
         |SELECT doc_a, pos_a, doc_b, pos_b, lcp
         |FROM scored WHERE lcp >= 16
         |ORDER BY lcp DESC, doc_a, pos_a
         |LIMIT 20""".stripMargin) { (spark, dir) =>
      // materialized BEFORE the range exchange: repartitionByRange
      // evaluates its child TWICE (boundary-sampling pass + shuffle
      // pass), and the suffix build (posexplode + per-row slice/join)
      // is the query's most expensive relation — the checkpoint turns
      // the sampling pass into a cached-block read (one child
      // evaluation saved; wall-clock at this SF is within run noise,
      // the win grows with the suffix build's cost)
      // spread the one-split doc scan first (Tables.spread contract):
      // the suffix build below (posexplode + per-suffix slice/join) is
      // the query's most expensive kernel and would otherwise run in a
      // single task
      val sfx = Tables.spread(Tables(spark, dir).documents)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), col("toks"),
          posexplode(col("toks")).as(Seq("pos", "tok")))
        .select(col("doc_id"), col("pos"),
          expr(s"substring(array_join(slice(toks, pos + 1, $capToks), ' '), 1, $capChars)")
            .as("s"))
        .transform(localCheckpoint)
      val ranked = graft.util.RangeRank.withGlobalRank(
          sfx, "rn", spark.sessionState.conf.numShufflePartitions,
          col("s"), col("doc_id"), col("pos"))
        .transform(localCheckpoint) // both sides of the rank-equi neighbor join
      ranked
        .select(col("doc_id").as("doc_a"), col("pos").as("pos_a"),
          col("s").as("s_a"), col("rn"))
        .join(ranked.select(col("doc_id").as("doc_b"),
          col("pos").as("pos_b"), col("s").as("s_b"),
          (col("rn") - 1).as("rn")), Seq("rn"))
        .filter(col("doc_a") =!= col("doc_b"))
        // LCP as ONE byte loop (codegen CommonPrefixLen), not a
        // prefix-equality count: the count form allocates cap
        // substring pairs per row (O(cap²) char traffic — measured
        // ~28s of task time at sf0.1 as a transform/array_position
        // chain, the query's dominant cost); the kernel finds the
        // first mismatching byte and counts complete code points
        // before it — value-identical (prefix k equal ⟺ code points
        // 1..k all equal ⟺ byte encodings equal, clamped to the
        // shorter suffix and the cap). The oracle keeps the count
        // formulation — same value.
        .select(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"),
          graft.functions.StringSimilarity
            .commonPrefixLen(col("s_a"), col("s_b"), capChars)
            .cast("long").as("lcp"))
        .filter(col("lcp") >= 16)
        .orderBy(col("lcp").desc, col("doc_a"), col("pos_a"))
        .limit(20)
    }
  )
}
