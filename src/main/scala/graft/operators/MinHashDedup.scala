package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint

/** Production MinHash-LSH near-duplicate detector (north star operator).
  *
  * Pipeline (all shuffle-parallel, no driver materialization):
  *   1. shingle: word 3-grams per doc (`transform` over the token array);
  *   2. sign: k minhashes per doc — `min(xxhash64(seed_j, shingle))`
  *      (xxhash64 is codegen'd and vectorizes; one pass computes all k
  *      via a posexploded seed dimension);
  *   3. band: k signatures → `bands` buckets of r = k/bands rows each,
  *      bucket id = xxhash64 of the band's signature slice;
  *   4. candidate join: self-join on (band, bucket) — at 100 TB this is
  *      the only quadratic-risk step and it is bounded by bucket size,
  *      not corpus size; skewed buckets can be salted or capped;
  *   5. verify: Jaccard over hashed shingle sets on candidates only
  *      (explode + equi-join) — exact up to xxhash64 collisions.
  *
  * Tuning: with r rows per band, P(candidate) = 1-(1-J^r)^bands — the
  * usual S-curve; defaults (k=16, b=4, r=4) put the knee near J≈0.6.
  */
final case class MinHashDedup(k: Int, bands: Int) {
  require(k % bands == 0, "k must be divisible by bands")
  private val r = k / bands

  /** (doc_id, gh) distinct hashed-shingle relation — same shingling as
    * the oracle-checked queries ([[Dedup.gramsExpr]]), reduced to the
    * 8-byte xxhash64 BEFORE the distinct. The dedup pipeline never needs
    * the shingle text again (signatures, bucketing, and the Jaccard
    * verify all run on the hash), and distinct-ing longs instead of
    * ~25-byte gram strings cuts the one corpus-sized shuffle of the
    * whole pipeline to a third of the bytes — the difference between
    * shuffling 8 TB and 2.5 TB of shingles at the 100 TB design point.
    * Hash collisions (p ≈ n²/2⁶⁴ per doc pair's gram sets) can only
    * nudge a Jaccard estimate that LSH has already made approximate. */
  def shingles(docs: DataFrame): DataFrame =
    // spread before the shingle explode (Tables.spread contract, same
    // as Dedup.gramRelation): the one-split doc scan ran the whole
    // explode+hash+partial-distinct in a single 0.54 s task at bench
    // SF (job trace, r16); the repartition moves only the pre-expansion
    // doc rows and is split-count-gated, so it is a no-op at scale
    graft.Tables.spread(docs)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(Dedup.gramsExpr)).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
      .distinct()

  /** doc_id → array of k minhash signatures. One groupBy with k `min`
    * aggregates (map-side partial aggregation) — no k× row explosion, a
    * single shuffle of k longs per doc regardless of corpus size. */
  def signatures(docs: DataFrame): DataFrame =
    signaturesFromGrams(shingles(docs))

  private def signaturesFromGrams(grams: DataFrame): DataFrame = {
    // The k per-permutation values derive from the fixed 8-byte base
    // hash (the one-hash minhash construction): the inner hashes run
    // over (int, long) instead of the string, so signature cost scales
    // with k alone, not k × shingle length.
    val aggs = (0 until k).map(j =>
      min(xxhash64(lit(j), col("gh"))).as(s"mh$j"))
    grams
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(j => col(s"mh$j")): _*).as("sig"))
  }

  /** (doc_id, band, bucket) LSH relation. */
  def buckets(docs: DataFrame): DataFrame =
    bucketsFromGrams(shingles(docs))

  private def bucketsFromGrams(grams: DataFrame): DataFrame =
    signaturesFromGrams(grams)
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"),
        col("sig"))
      .select(col("doc_id"), col("band"),
        xxhash64(col("band"),
          expr(s"array_join(slice(sig, band * $r + 1, $r), ',')")).as("bucket"))

  /** Candidate pairs (doc_a < doc_b) sharing ≥1 band bucket. */
  def candidatePairs(docs: DataFrame): DataFrame =
    candidatesFromGrams(shingles(docs))

  private def candidatesFromGrams(grams: DataFrame): DataFrame = {
    // materialize the small (doc, band, bucket) relation before the
    // self-join: its two shuffle-map stages are independent (shuffle on
    // different key aliases), so each would otherwise re-run the
    // signature aggregation — concurrently, defeating a lazy cache
    val bk = bucketsFromGrams(grams).transform(localCheckpoint)
    val a = bk.select(col("doc_id").as("doc_a"), col("band"), col("bucket"))
    val b = bk.select(col("doc_id").as("doc_b"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Candidates with hashed-shingle Jaccard ≥ threshold (verification
    * pass; exact up to xxhash64 collisions). */
  def verifiedPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val grams = shingles(docs)
    verifyFromGrams(grams, candidatesFromGrams(grams), threshold)
  }

  private def verifyFromGrams(grams: DataFrame, cand: DataFrame,
      threshold: Double): DataFrame = {
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(grams.select(col("doc_id").as("doc_a"), col("gh")), Seq("doc_a"))
      .join(grams.select(col("doc_id").as("doc_b"), col("gh")), Seq("doc_b", "gh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_int"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .withColumn("jaccard",
        col("n_int").cast("double") / (col("n_a") + col("n_b") - col("n_int")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Exact-verification of an EXTERNAL candidate relation over this
    * detector's hashed-shingle sets — the hook differential gates use
    * to score another candidate generator's pairs with the same
    * arithmetic as [[verifiedPairs]]. Takes the PRE-MATERIALIZED gram
    * relation so the gate and the report it guards share one corpus
    * tokenization ([[shinglesOf]]). */
  def verifyPairs(grams: DataFrame, cand: DataFrame,
      threshold: Double): DataFrame =
    verifyFromGrams(grams, cand.select("doc_a", "doc_b"), threshold)

  /** The materialized hashed-shingle relation, for callers that feed
    * several passes ([[verifyPairs]], [[dedupReport]]) from one
    * tokenization. */
  def shinglesOf(docs: DataFrame): DataFrame =
    shingles(docs).transform(localCheckpoint)

  /** LSH candidates over a pre-materialized gram relation. */
  def candidatesOf(grams: DataFrame): DataFrame =
    candidatesFromGrams(grams)

  /** [[dedupReport]] over pre-materialized grams AND candidates —
    * callers that already paid for both (the differential gate) reuse
    * them instead of re-deriving the pipeline. */
  def dedupReportFrom(grams: DataFrame, cand: DataFrame,
      docs: DataFrame): DataFrame = {
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val nCand = cand.select(count(lit(1)).as("n_candidates"))
    val nVer = verifyFromGrams(grams, cand, 0.6)
      .select(count(lit(1)).as("n_verified_dups"))
    nDocs.crossJoin(nCand).crossJoin(nVer)
      .withColumn("k", lit(k)).withColumn("bands", lit(bands))
      .transform(localCheckpoint)
  }

  /** [[dedupReport]] over a pre-materialized gram relation. */
  def dedupReportFromGrams(grams: DataFrame, docs: DataFrame): DataFrame = {
    val cand = candidatesFromGrams(grams).transform(localCheckpoint)
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val nCand = cand.select(count(lit(1)).as("n_candidates"))
    val nVer = verifyFromGrams(grams, cand, 0.6)
      .select(count(lit(1)).as("n_verified_dups"))
    nDocs.crossJoin(nCand).crossJoin(nVer)
      .withColumn("k", lit(k)).withColumn("bands", lit(bands))
      .transform(localCheckpoint)
  }

  /** Deduplicated corpus: drops the higher-id member of every verified
    * near-duplicate pair (keep-smallest-id policy, matching
    * `q_dedup_exact`). Idempotent — see DedupSpec. */
  def dedup(docs: DataFrame, threshold: Double = 0.9): DataFrame = {
    val losers = verifiedPairs(docs, threshold)
      .select(col("doc_b").as("doc_id")).distinct()
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** One-row summary (corpus size, candidates, verified dups ≥ 0.6) —
    * non-empty even when the corpus has no near-duplicates. The shingle
    * relation — the one expensive derivation — is materialized once and
    * shared by signatures, candidates, and verification. */
  def dedupReport(docs: DataFrame): DataFrame =
    // Materialize the shared gram relation exactly once (key + hash
    // tuples, orders of magnitude smaller than the corpus). A lazy
    // .persist is not enough: the summary plan fans out into independent
    // stages (candidate count, intersection join ×2, size join ×2) that
    // the scheduler launches concurrently, so each would re-derive the
    // uncached upstream in parallel.
    dedupReportFromGrams(shinglesOf(docs), docs)
}
