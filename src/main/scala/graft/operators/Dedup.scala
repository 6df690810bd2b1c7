package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables
import graft.functions.VectorFunctions

/** Deduplication operator family (north star, SURVEY.md §2B):
  * exact (content hash), MinHash+LSH (shingle → minhash → band →
  * bucket-join), and SimHash — each shuffle-parallel with no driver-side
  * loops, so the same plan runs on a 1000-executor cluster:
  * the only shuffles are groupBy(doc) for signatures and
  * groupBy(band, bucket) for candidate generation, both on keys whose
  * cardinality grows with the data.
  *
  * Two hash stacks:
  *   - md5-derived 60-bit hashes (`md5h64`) for the oracle-checked
  *     queries — DuckDB computes the identical value via
  *     `CAST(concat('0x', substring(md5(x),1,15)) AS BIGINT)`;
  *   - xxhash64 for the production path ([[MinHashDedup]]) — codegen'd,
  *     ~10× cheaper than md5, used by the rows-only LSH query and unit
  *     tests.
  */
object Dedup {

  /** 60-bit hash from the md5 hex prefix — reproducible in DuckDB.
    * Computed digest-direct by the codegen [[graft.functions.Md5Prefix60]]
    * kernel (value-identical to
    * `conv(substring(md5(c), 1, 15), 16, 10)::long`, differential-tested
    * in StringSimilaritySpec); the hex/conv formulation allocated four
    * strings per hashed token in the inner loop of every shingle and
    * signature query. */
  def md5h64(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.Md5Prefix60(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))

  /** Word 3-gram shingles over a pre-projected token array (split once
    * per row, not once per lambda element; Spark [] indexing is 0-based).
    * Shared with [[MinHashDedup]] — the oracle-checked md5 path and the
    * production xxhash64 path must shingle identically. */
  private[operators] val gramsExpr =
    """filter(transform(toks, (x, i) ->
      |  IF(i + 3 <= size(toks),
      |     concat_ws(' ', x, toks[i + 1], toks[i + 2]), NULL)),
      |  g -> g IS NOT NULL)""".stripMargin

  private[operators] val duckGrams =
    """list_filter(list_transform(string_split(text, ' '), (x, i) ->
      |  CASE WHEN i + 2 <= len(string_split(text, ' '))
      |    THEN concat(string_split(text, ' ')[i], ' ',
      |                string_split(text, ' ')[i+1], ' ',
      |                string_split(text, ' ')[i+2]) END),
      |  g -> g IS NOT NULL)""".stripMargin

  private def duckH64(e: String): String =
    s"CAST(concat('0x', substring(md5($e), 1, 15)) AS BIGINT)"

  /** MinHash permutation constants: mh_j = min((A_j·h + B_j) mod P) over
    * the 30-bit shingle hash h — the classic affine-permutation family.
    * One md5 per shingle total (vs one per shingle per signature), then
    * pure integer arithmetic that both engines compute identically. */
  private val P = 2147483647L // 2^31 - 1 (prime)
  private val A = Seq(787L, 2003L, 4423L, 8423L, 16787L, 32003L, 64019L, 128021L)
  private val B = Seq(1471L, 3559L, 7907L, 15091L, 31627L, 63179L, 126271L, 252731L)

  /** Distinct (doc_id, gram) pairs — the shingle relation. (No spread
    * here: the immediate `distinct` reshuffles anyway, so the explode
    * stage is not the serial bottleneck — measured flat at sf0.1.) */
  private[operators] def gramRelation(docs: DataFrame): DataFrame =
    // spread before the shingle explode (Tables.spread contract: the
    // one-split doc scan would run the gram build of every consumer in
    // a single task; callers pass scan-stage frames)
    graft.Tables.spread(docs)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(gramsExpr)).as("gram"))
      .distinct()

  /** Distinct (doc_id, h) pairs — shingles reduced to their 30-bit hash. */
  private[operators] def hashedGrams(docs: DataFrame): DataFrame =
    gramRelation(docs)
      .select(col("doc_id"), (md5h64(col("gram")) % 1073741824L).as("h"))

  private def duckHashedGrams: String =
    s"""SELECT doc_id, ${duckH64("gram")} % 1073741824 AS h FROM (
       |    SELECT DISTINCT doc_id, unnest($duckGrams) AS gram FROM documents)""".stripMargin

  private def minhashSigs(docs: DataFrame, k: Int): DataFrame =
    minhashSigsFromHg(hashedGrams(docs), k)

  /** Signature build over an ALREADY-MATERIALIZED shingle relation —
    * callers that also verify candidates exactly (incremental dedup,
    * containment) checkpoint `hg` once and feed both consumers, instead
    * of re-tokenizing the corpus for each. */
  private def minhashSigsFromHg(hg: DataFrame, k: Int): DataFrame = {
    val aggs = (0 until k).map(j =>
      min((lit(A(j)) * col("h") + lit(B(j))) % lit(P)).as(s"mh$j"))
    hg.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  private def duckSig(j: Int): String =
    s"min((${A(j)} * h + ${B(j)}) % $P) AS mh$j"

  /** WITH-body CTE chain ending in `pairs(doc_a, doc_b, n_bands)` — the
    * MinHash-LSH candidate pairs (k=8, 4 bands × 2 rows, doc_a < doc_b).
    * Shared by q_dedup_minhash_pairs and q_dedup_clusters so the edge
    * relation and the clustering built on it verify against the SAME
    * oracle formulation. */
  private[operators] def duckPairsCtes: String =
    s"""hg AS (
       |  $duckHashedGrams
       |), sigs AS (
       |  SELECT doc_id,
       |    ${(0 until 8).map(duckSig).mkString(",\n    ")}
       |  FROM hg GROUP BY doc_id
       |), bands AS (
       |  ${(0 until 4).map(b =>
            s"SELECT doc_id, $b AS band, md5(concat(mh${2*b}, ',', mh${2*b+1})) AS bval FROM sigs")
            .mkString("\n  UNION ALL\n  ")}
       |), pairs AS (
       |  SELECT doc_a, doc_b, count(*) AS n_bands FROM (
       |    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.band
       |    FROM bands a JOIN bands b
       |      ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id) p
       |  GROUP BY doc_a, doc_b
       |)""".stripMargin

  /** Spark twin of [[duckPairsCtes]]: (doc_a, doc_b, n_bands), unordered.
    * Public — this is the edge relation [[Clusters]] consumes. */
  def minhashPairs(docs: DataFrame): DataFrame =
    minhashPairsFromHg(hashedGrams(docs))

  /** [[minhashPairs]] over a pre-materialized shingle relation. */
  private[operators] def minhashPairsFromHg(hg: DataFrame): DataFrame = {
    val sigs = minhashSigsFromHg(hg, 8)
    // materialize the (doc, band, bucket) relation once: the self-join's
    // two shuffle-map stages are independent, so without this each side
    // recomputes the whole md5-shingle→minhash pipeline (the stages run
    // concurrently — a lazy .persist would race, localCheckpoint won't)
    val bands = sigs.select(col("doc_id"),
      explode(array((0 until 4).map(b => struct(
        lit(b).as("band"),
        md5(concat(col(s"mh${2 * b}").cast("string"), lit(","),
          col(s"mh${2 * b + 1}").cast("string"))).as("bval"))): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bval").as("bval"))
      .transform(localCheckpoint)
    val a = bands.select(col("doc_id").as("doc_a"), col("band"), col("bval"))
    val b = bands.select(col("doc_id").as("doc_b"), col("band"), col("bval"))
    a.join(b, Seq("band", "bval"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "band").distinct()
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Exact-verification support shared by the incremental-dedup
    * verdicts and the containment scores (one definition, so the
    * verification arithmetic cannot drift): per-doc hashed-shingle set
    * sizes and per-candidate-pair intersection counts over the `hg`
    * relation. `pairsRel` is the candidate CTE name (`pairs`, `cand`). */
  private def duckPairVerifyCtes(pairsRel: String): String =
    s"""sizes AS (
       |  SELECT doc_id, count(*) AS n FROM hg GROUP BY doc_id
       |), inter AS (
       |  SELECT p.doc_a, p.doc_b, count(*) AS n_int
       |  FROM $pairsRel p
       |  JOIN hg a ON a.doc_id = p.doc_a
       |  JOIN hg b ON b.doc_id = p.doc_b AND b.h = a.h
       |  GROUP BY p.doc_a, p.doc_b
       |)""".stripMargin

  /** Spark twin of [[duckPairVerifyCtes]]: extends a candidate-pair
    * relation with (n_a, n_b, n_int), n_int coalesced to 0; extra pair
    * columns (e.g. n_bands) ride through. */
  private def pairVerify(pairs: DataFrame, hg: DataFrame): DataFrame = {
    val sizes = hg.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs.select("doc_a", "doc_b")
      .join(hg.select(col("doc_id").as("doc_a"), col("h")), Seq("doc_a"))
      .join(hg.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_int"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")),
        Seq("doc_b"))
      .withColumn("n_int", coalesce(col("n_int"), lit(0L)))
  }

  /** SQL twin of [[simhash16]] — CTE chain ending in `sh(doc_id,
    * simhash16)`. Shared by q_simhash, q_simhash_hamming, and the
    * sorted-neighborhood query so the bit-vote construction is written
    * once. */
  private[operators] val duckSimhashCtes =
    s"""stoks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), sbits AS (
       |  SELECT doc_id, unnest(range(0, 16)) AS bit,
       |    ${duckH64("tok")} AS h
       |  FROM stoks
       |), ssums AS (
       |  SELECT doc_id, bit,
       |    sum(CASE WHEN (h // CAST(pow(2, bit) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM sbits GROUP BY doc_id, bit
       |), sh AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END)
       |         AS BIGINT) AS simhash16
       |  FROM ssums GROUP BY doc_id
       |)""".stripMargin

  /** 16-bit token-frequency-weighted SimHash per doc (md5-derived bits,
    * reproducible in SQL) — shared by q_simhash and q_simhash_hamming.
    *
    * `spread`: pre-expansion repartition of the one-split doc scan
    * (Tables.spread contract) — ON for consumers that feed the
    * signatures into pairwise work (hamming join, neighborhood sort),
    * where the token-x-16-bit explode dominates; OFF for the
    * signatures-only query, where the two extra exchange stages cost
    * more than the single-task explode saves (measured 0.29→0.58s
    * at sf0.1). */
  def simhash16(docs: DataFrame, spread: Boolean = true): DataFrame = {
    val toks = (if (spread) graft.Tables.spread(docs) else docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val bits = toks
      .withColumn("h", md5h64(col("tok")))
      .select(col("doc_id"), col("h"),
        explode(sequence(lit(0), lit(15))).as("bit"))
    bits
      .groupBy(col("doc_id"), col("bit"))
      .agg(sum(when(expr("(h div CAST(pow(2, bit) AS LONG)) % 2 = 1"), 1)
        .otherwise(-1)).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("s") > 0, expr("CAST(pow(2, bit) AS LONG)"))
        .otherwise(0L)).as("simhash16"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- exact dedup: content-hash groupBy; keeps the smallest doc_id
    //      per identical text (hash-shuffle on the digest, no sort)
    QueryDef.checked(
      "q_dedup_exact",
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents
        |GROUP BY sha256(text)
        |ORDER BY keep_id""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).documents
        .groupBy(sha2(col("text"), 256))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .select("keep_id", "n_dups")
        .orderBy("keep_id")
    },

    // ---- minhash signatures (k=4) over 3-gram shingles, oracle-checked
    QueryDef.checked(
      "q_minhash_signatures",
      s"""WITH hg AS (
         |  $duckHashedGrams
         |)
         |SELECT doc_id,
         |  ${(0 until 4).map(duckSig).mkString(",\n  ")}
         |FROM hg GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      minhashSigs(Tables(spark, dir).documents, 4).orderBy("doc_id")
    },

    // ---- MinHash-LSH candidate pairs: k=8 signatures, 4 bands × 2 rows;
    //      candidates = docs sharing a band bucket. The bucket join is the
    //      100 TB design: shuffle on (band, bucket-hash), never all-pairs.
    QueryDef.checked(
      "q_dedup_minhash_pairs",
      s"""WITH $duckPairsCtes
         |SELECT doc_a, doc_b, n_bands FROM pairs
         |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
      minhashPairs(Tables(spark, dir).documents)
        .orderBy("doc_a", "doc_b")
    },

    // ---- exact n-gram Jaccard between consecutive docs: pure relational
    //      set intersection (explode + equi-join), integer-exact similarity
    QueryDef.checked(
      "q_ngram_jaccard",
      s"""WITH grams AS (
         |  SELECT DISTINCT doc_id, unnest($duckGrams) AS gram FROM documents
         |), sizes AS (
         |  SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
         |), inter AS (
         |  SELECT a.doc_id AS doc_a, count(*) AS n_int
         |  FROM grams a JOIN grams b ON a.gram = b.gram AND b.doc_id = a.doc_id + 1
         |  GROUP BY a.doc_id
         |)
         |SELECT sa.doc_id AS doc_a, sa.doc_id + 1 AS doc_b,
         |  sa.n AS n_a, sb.n AS n_b,
         |  coalesce(n_int, 0) AS n_int,
         |  CAST(coalesce(n_int, 0) AS DOUBLE) / (sa.n + sb.n - coalesce(n_int, 0)) AS jaccard
         |FROM sizes sa
         |JOIN sizes sb ON sb.doc_id = sa.doc_id + 1
         |LEFT JOIN inter i ON i.doc_a = sa.doc_id
         |ORDER BY doc_a""".stripMargin) { (spark, dir) =>
      // grams feeds four downstream branches (sizes ×2, inter ×2) that
      // plan as independent stages — materialize it once
      val grams = gramRelation(Tables(spark, dir).documents).transform(localCheckpoint)
      val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = grams.as("a")
        .join(grams.as("b"),
          col("a.gram") === col("b.gram") &&
            col("b.doc_id") === col("a.doc_id") + 1)
        .groupBy(col("a.doc_id").as("doc_a"))
        .agg(count(lit(1)).as("n_int"))
      val sa = sizes.select(col("doc_id").as("da"), col("n").as("n_a"))
      val sb = sizes.select(col("doc_id").as("db"), col("n").as("n_b"))
      sa.join(sb, col("db") === col("da") + 1)
        .join(inter, col("doc_a") === col("da"), "left")
        .select(
          col("da").as("doc_a"), col("db").as("doc_b"),
          col("n_a"), col("n_b"),
          coalesce(col("n_int"), lit(0L)).as("n_int"),
          (coalesce(col("n_int"), lit(0L)).cast("double") /
            (col("n_a") + col("n_b") - coalesce(col("n_int"), lit(0L))))
            .as("jaccard"))
        .orderBy("doc_a")
    },

    // ---- SimHash (16-bit, token-frequency weighted), oracle-checked via
    //      the same md5-derived hash on both engines
    QueryDef.checked(
      "q_simhash",
      s"""WITH $duckSimhashCtes
         |SELECT doc_id, simhash16 FROM sh
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      simhash16(Tables(spark, dir).documents, spread = false)
        .orderBy("doc_id")
    },

    // ---- SimHash hamming distances between consecutive docs: near-dup
    //      flag at radius 3 (bitwise xor + popcount — the standard
    //      simhash pairing predicate, linear over the corpus)
    QueryDef.checked(
      "q_simhash_hamming",
      s"""WITH $duckSimhashCtes
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash16, b.simhash16)) AS INTEGER) AS hamming,
         |  bit_count(xor(a.simhash16, b.simhash16)) <= 3 AS is_neardup
         |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
         |ORDER BY doc_a""".stripMargin) { (spark, dir) =>
      // both sides of the consecutive-id self-join would recompute the
      // full tokenize→md5→bit-vote pipeline — materialize it once
      val sh = Dedup.simhash16(Tables(spark, dir).documents).transform(localCheckpoint)
      val a = sh.select(col("doc_id").as("doc_a"), col("simhash16").as("ha"))
      val b = sh.select(col("doc_id").as("doc_b"), col("simhash16").as("hb"))
      a.join(b, col("doc_b") === col("doc_a") + 1)
        .select(col("doc_a"), col("doc_b"),
          bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
        .withColumn("is_neardup", col("hamming") <= 3)
        .orderBy("doc_a")
    },

    // ---- sorted-neighborhood near-dup (SNM): the third classic
    //      candidate-generation strategy next to LSH banding and key
    //      blocking — sort the corpus by a similarity-preserving key
    //      (simhash16) and compare each doc only to its w=3 successors
    //      in sort order, scoring candidates by exact shingle Jaccard.
    //      At 100 TB the sort is one range-partitioned exchange and the
    //      neighbor join is rank-equi (rn = rn + d, d ∈ 1..3) — never a
    //      theta join — so candidate count is exactly 3N regardless of
    //      skew; boundary pairs between range partitions come free
    //      because the join is on global rank, not partition position.
    QueryDef.checked(
      "q_sorted_neighborhood",
      s"""WITH $duckSimhashCtes
         |, ranked AS (
         |  SELECT doc_id, simhash16,
         |    row_number() OVER (ORDER BY simhash16, doc_id) AS rn
         |  FROM sh
         |), offs AS (
         |  SELECT unnest([1, 2, 3]) AS d
         |), cand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, o.d AS rank_dist
         |  FROM ranked a CROSS JOIN offs o
         |  JOIN ranked b ON b.rn = a.rn + o.d
         |), grams AS (
         |  SELECT DISTINCT doc_id, unnest($duckGrams) AS gram FROM documents
         |), sizes AS (
         |  SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
         |), inter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS n_int
         |  FROM cand c
         |  JOIN grams ga ON ga.doc_id = c.doc_a
         |  JOIN grams gb ON gb.doc_id = c.doc_b AND gb.gram = ga.gram
         |  GROUP BY c.doc_a, c.doc_b
         |)
         |SELECT c.doc_a, c.doc_b, CAST(c.rank_dist AS INTEGER) AS rank_dist,
         |  coalesce(i.n_int, 0) AS n_int,
         |  round(CAST(coalesce(i.n_int, 0) AS DOUBLE)
         |        / (sa.n + sb.n - coalesce(i.n_int, 0)), 6) AS jaccard
         |FROM cand c
         |JOIN sizes sa ON sa.doc_id = c.doc_a
         |JOIN sizes sb ON sb.doc_id = c.doc_b
         |LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |ORDER BY c.doc_a, c.doc_b""".stripMargin) { (spark, dir) =>
      val docs = Tables(spark, dir).documents
      // global rank over the similarity key via range partitioning +
      // per-partition rank + broadcast offsets (RangeRank) — no
      // single-partition exchange anywhere in the plan; (simhash16,
      // doc_id) is unique per row so the rank is well-defined
      val ranked = graft.util.RangeRank.withGlobalRank(
          simhash16(docs), "rn",
          spark.sessionState.conf.numShufflePartitions,
          col("simhash16"), col("doc_id"))
        .transform(localCheckpoint) // both sides of the rank-equi join
      val cand = ranked
        .select(col("doc_id").as("doc_a"), col("rn"),
          explode(expr("sequence(1, 3)")).as("d"))
        .join(ranked.select(col("doc_id").as("doc_b"), col("rn").as("rnb")),
          col("rnb") === col("rn") + col("d"))
        .select(col("doc_a"), col("doc_b"), col("d").as("rank_dist"))
        .transform(localCheckpoint) // feeds the intersection join AND the final join
      val grams = gramRelation(docs).transform(localCheckpoint) // sizes + 2 joins
      val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = cand
        .join(grams.select(col("doc_id").as("doc_a"), col("gram")), Seq("doc_a"))
        .join(grams.select(col("doc_id").as("doc_b"), col("gram")),
          Seq("doc_b", "gram"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_int"))
      cand
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
        .join(inter, Seq("doc_a", "doc_b"), "left")
        .select(col("doc_a"), col("doc_b"),
          col("rank_dist").cast("int").as("rank_dist"),
          coalesce(col("n_int"), lit(0L)).as("n_int"),
          round(coalesce(col("n_int"), lit(0L)).cast("double") /
            (col("n_a") + col("n_b") - coalesce(col("n_int"), lit(0L))), 6)
            .as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // ---- production-path MinHash-LSH (xxhash64, k=16, b=4, r=4) with
    //      exact-jaccard verification of candidates; summary row so the
    //      result is non-empty even on a dup-free corpus. Engine-private
    //      hash → no SQL oracle, but SELF-CONVICTING via a TWO-TIER
    //      in-query differential gate against the hash-checked md5 twin
    //      (q_dedup_minhash_pairs). The tiers respect LSH's actual
    //      recall guarantee — banding is probabilistic, so a flat
    //      `missed == 0` over all jaccard >= 0.6 twins would falsely
    //      convict a bug-free path on any corpus with genuine
    //      0.6–0.9-jaccard pairs (a 0.6 pair collides in some band with
    //      only ~43% probability at b=4, r=4):
    //      * jaccard = 1.0 (identical shingle SETS): the min over equal
    //        sets is equal for EVERY hash, so signatures — and all band
    //        hashes — are identical. Collision is DETERMINISTIC;
    //        missed == 0, no epsilon.
    //      * jaccard >= 0.9: per-band collision 0.9^4 ≈ 0.656, miss-all-
    //        bands ≈ 1.4% per pair — a recall floor (≤ 20% + slack 1),
    //        generous against that, still convicts a real banding or
    //        bucket-join regression (which loses ~all pairs).
    //      MinHashDedupSpec covers the rest (planted dups, idempotence).
    QueryDef.rowsOnly("q_dedup_minhash_lsh64") { (spark, dir) =>
      val docs = Tables(spark, dir).documents
      val dd = MinHashDedup(k = 16, bands = 4)
      // ONE corpus tokenization and ONE candidate join feed the gate
      // AND the report — the gate's marginal cost is the md5-twin pair
      // generation plus two pair-bounded verification joins
      val grams = dd.shinglesOf(docs)
      val cand64 = dd.candidatesOf(grams).transform(localCheckpoint)
      val twinScored = dd
        .verifyPairs(grams, Dedup.minhashPairs(docs), 0.6)
        .transform(localCheckpoint)
      // ONE gate job instead of four serial actions (2× left_anti
      // count + count + count — each was its own job with full
      // scheduling latency): a left join marks candidate hits, and a
      // single aggregate yields every gate statistic. `hit is null`
      // after the left join IS the left_anti membership test, so the
      // enforced conditions are unchanged.
      val gate = twinScored
        .join(cand64.select(col("doc_a"), col("doc_b"),
          lit(1).as("__hit")), Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n_twin"),
          count(when(col("jaccard") >= 1.0 && col("__hit").isNull, 1))
            .as("missed_exact"),
          count(when(col("jaccard") >= 0.9, 1)).as("n_high"),
          count(when(col("jaccard") >= 0.9 && col("__hit").isNull, 1))
            .as("missed_high"))
        .first()
      val missedExact = gate.getAs[Long]("missed_exact")
      require(missedExact == 0,
        s"xxhash64 LSH candidates missed $missedExact IDENTICAL-shingle " +
          "pairs (equal signatures collide deterministically — this is " +
          "a banding/bucket-join bug, not LSH recall)")
      val nHigh = gate.getAs[Long]("n_high")
      val missedHigh = gate.getAs[Long]("missed_high")
      require(missedHigh <= nHigh / 5 + 1,
        s"xxhash64 LSH candidates missed $missedHigh of $nHigh verified " +
          ">=0.9-jaccard pairs — far beyond banding's ~1.4% miss rate")
      dd.dedupReportFrom(grams, cand64, docs)
        .withColumn("n_twin_verified",
          lit(gate.getAs[Long]("n_twin")))
    },

    // ---- incremental dedup: dedup a NEW batch (top 20% of doc_ids)
    //      against the historical corpus + earlier batch members without
    //      re-deduping history — the shape every rolling crawl needs.
    //      Candidates come from the same MinHash-LSH band buckets as the
    //      full path; the doc_a < doc_b convention makes history-vs-new
    //      and earlier-new-vs-later-new both land as doc_b = new, so
    //      first-occurrence-wins falls out of the band join. Candidates
    //      are then verified by exact shingle Jaccard (≥ 0.5 → dup).
    //      At 100 TB the historical band buckets are a PRECOMPUTED index
    //      stored bucketed on (band, bval): the new batch computes its
    //      own buckets (one scan of the batch only) and shuffle-joins
    //      into that layout exchange-free on the history side; exact
    //      verification re-reads only candidate docs' shingles. History
    //      text is never re-scanned wholesale.
    QueryDef.checked(
      "q_incremental_dedup",
      s"""WITH $duckPairsCtes,
         |cut AS (SELECT max(doc_id) * 4 // 5 AS c FROM documents),
         |cand AS (
         |  SELECT doc_a, doc_b FROM pairs, cut WHERE doc_b > cut.c
         |), ${duckPairVerifyCtes("cand")}, scored AS (
         |  SELECT c.doc_a, c.doc_b,
         |    round(CAST(coalesce(i.n_int, 0) AS DOUBLE)
         |      / (sa.n + sb.n - coalesce(i.n_int, 0)), 6) AS jacc
         |  FROM cand c
         |  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |  JOIN sizes sa ON sa.doc_id = c.doc_a
         |  JOIN sizes sb ON sb.doc_id = c.doc_b
         |), verdict AS (
         |  SELECT doc_b, CAST(min(doc_a) AS BIGINT) AS dup_of
         |  FROM scored WHERE jacc >= 0.5 GROUP BY doc_b
         |), ncand AS (
         |  SELECT doc_b, count(*) AS n_cand FROM cand GROUP BY doc_b
         |)
         |SELECT d.doc_id, CAST(coalesce(nc.n_cand, 0) AS BIGINT) AS n_cand,
         |  v.dup_of IS NOT NULL AS is_dup, v.dup_of
         |FROM documents d CROSS JOIN cut
         |LEFT JOIN ncand nc ON nc.doc_b = d.doc_id
         |LEFT JOIN verdict v ON v.doc_b = d.doc_id
         |WHERE d.doc_id > cut.c
         |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
      val docs = Tables(spark, dir).documents
      // integer floor-div, NOT `/` (Column./ is double division — past
      // 2^53 the rounded double would land on a different cut than the
      // oracle's exact `//`)
      val cut = docs.agg(expr("CAST(max(doc_id) * 4 div 5 AS LONG)").as("c"))
      // one materialized shingle relation feeds BOTH the LSH candidate
      // generation and the exact verification — the corpus tokenizes once
      val hg = hashedGrams(docs).transform(localCheckpoint)
      val cand = minhashPairsFromHg(hg).crossJoin(broadcast(cut))
        .filter(col("doc_b") > col("c"))
        .select("doc_a", "doc_b")
        .transform(localCheckpoint) // feeds inter, verdict and ncand branches
      val scored = pairVerify(cand, hg)
        .select(col("doc_a"), col("doc_b"),
          round(col("n_int").cast("double") /
            (col("n_a") + col("n_b") - col("n_int")), 6).as("jacc"))
      val verdict = scored.filter(col("jacc") >= 0.5)
        .groupBy("doc_b").agg(min(col("doc_a")).cast("long").as("dup_of"))
      val ncand = cand.groupBy("doc_b").agg(count(lit(1)).as("n_cand"))
      docs.select("doc_id").crossJoin(broadcast(cut))
        .filter(col("doc_id") > col("c"))
        .join(ncand.withColumnRenamed("doc_b", "doc_id"), Seq("doc_id"), "left")
        .join(verdict.withColumnRenamed("doc_b", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
        .orderBy("doc_id")
    },

    // ---- containment scoring of LSH candidate pairs: C(A|B) =
    //      |A∩B|/|A| in both directions next to symmetric Jaccard.
    //      Containment is the metric that catches doc-inside-doc
    //      duplication (a page quoting another wholesale): a small doc
    //      fully contained in a big one has cont ≈ 1 while Jaccard
    //      stays low, so a Jaccard-only dedup ships the quote twice.
    //      Runs over the same band-bucket candidates and shingle
    //      relation as the MinHash path — candidate verification cost,
    //      corpus untouched. is_subset flags high containment that
    //      Jaccard would miss (≥ 0.8 vs < 0.5).
    QueryDef.checked(
      "q_minhash_containment",
      s"""WITH $duckPairsCtes,
         |${duckPairVerifyCtes("pairs")}
         |SELECT p.doc_a, p.doc_b, CAST(p.n_bands AS BIGINT) AS n_bands,
         |  sa.n AS n_a, sb.n AS n_b, coalesce(i.n_int, 0) AS n_int,
         |  round(CAST(coalesce(i.n_int, 0) AS DOUBLE) / sa.n, 6) AS cont_a,
         |  round(CAST(coalesce(i.n_int, 0) AS DOUBLE) / sb.n, 6) AS cont_b,
         |  round(CAST(coalesce(i.n_int, 0) AS DOUBLE)
         |    / (sa.n + sb.n - coalesce(i.n_int, 0)), 6) AS jaccard,
         |  greatest(round(CAST(coalesce(i.n_int, 0) AS DOUBLE) / sa.n, 6),
         |           round(CAST(coalesce(i.n_int, 0) AS DOUBLE) / sb.n, 6)) >= 0.8
         |    AND round(CAST(coalesce(i.n_int, 0) AS DOUBLE)
         |      / (sa.n + sb.n - coalesce(i.n_int, 0)), 6) < 0.5 AS is_subset
         |FROM pairs p
         |LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
         |JOIN sizes sa ON sa.doc_id = p.doc_a
         |JOIN sizes sb ON sb.doc_id = p.doc_b
         |ORDER BY p.doc_a, p.doc_b""".stripMargin) { (spark, dir) =>
      val docs = Tables(spark, dir).documents
      // one materialized shingle relation feeds BOTH candidate
      // generation and verification — the corpus tokenizes once
      val hg = hashedGrams(docs).transform(localCheckpoint)
      val pairs = minhashPairsFromHg(hg).transform(localCheckpoint)
      val contA = round(col("n_int").cast("double") / col("n_a"), 6)
      val contB = round(col("n_int").cast("double") / col("n_b"), 6)
      val jac = round(col("n_int").cast("double") /
        (col("n_a") + col("n_b") - col("n_int")), 6)
      pairVerify(pairs, hg)
        .select(col("doc_a"), col("doc_b"), col("n_bands").cast("long").as("n_bands"),
          col("n_a"), col("n_b"), col("n_int"),
          contA.as("cont_a"), contB.as("cont_b"), jac.as("jaccard"),
          (greatest(contA, contB) >= 0.8 && jac < 0.5).as("is_subset"))
        .orderBy("doc_a", "doc_b")
    },

    // ---- cross-modal dedup verification: the text-LSH candidate pairs
    //      scored by BOTH exact shingle Jaccard and embedding cosine
    //      (doc_id = vec_id), with an agreement verdict. Surface dedup
    //      and semantic dedup disagree in exactly the cases a curation
    //      pipeline needs surfaced: paraphrases (low Jaccard, high
    //      cosine) survive text dedup, templated boilerplate (high
    //      Jaccard, low cosine) survives semantic dedup. Candidates
    //      still come from one LSH pass; the embedding join is
    //      id-colocated candidate verification, so the cross-modal
    //      check adds no corpus-scale work.
    QueryDef.checked(
      "q_crossmodal_dedup",
      s"""WITH $duckPairsCtes,
         |${duckPairVerifyCtes("pairs")}
         |SELECT p.doc_a, p.doc_b,
         |  round(CAST(coalesce(i.n_int, 0) AS DOUBLE)
         |    / (sa.n + sb.n - coalesce(i.n_int, 0)), 6) AS jaccard,
         |  round(${VectorFunctions.duckCosineSql("ea.embedding", "eb.embedding")}, 6) AS cosine,
         |  round(CAST(coalesce(i.n_int, 0) AS DOUBLE)
         |    / (sa.n + sb.n - coalesce(i.n_int, 0)), 6) >= 0.5 AS is_text_dup,
         |  round(${VectorFunctions.duckCosineSql("ea.embedding", "eb.embedding")}, 6) > 0.35 AS is_semantic_dup
         |FROM pairs p
         |LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
         |JOIN sizes sa ON sa.doc_id = p.doc_a
         |JOIN sizes sb ON sb.doc_id = p.doc_b
         |JOIN embeddings ea ON ea.vec_id = p.doc_a
         |JOIN embeddings eb ON eb.vec_id = p.doc_b
         |ORDER BY p.doc_a, p.doc_b""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val hg = hashedGrams(t.documents).transform(localCheckpoint)
      val pairs = minhashPairsFromHg(hg).transform(localCheckpoint)
      val jac = round(col("n_int").cast("double") /
        (col("n_a") + col("n_b") - col("n_int")), 6)
      val emb = t.embeddings
      pairVerify(pairs, hg)
        .join(emb.select(col("vec_id").as("doc_a"), col("embedding").as("ea")),
          Seq("doc_a"))
        .join(emb.select(col("vec_id").as("doc_b"), col("embedding").as("eb")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), jac.as("jaccard"),
          round(VectorFunctions.cosineSim(col("ea"), col("eb")), 6)
            .as("cosine"))
        .withColumn("is_text_dup", col("jaccard") >= 0.5)
        .withColumn("is_semantic_dup", col("cosine") > 0.35)
        .orderBy("doc_a", "doc_b")
    },

    // ---- duplicate n-gram rate: what fraction of each doc's 3-gram
    //      shingles also occur in some OTHER doc (the substring-level
    //      duplication metric of Lee et al. 2022, "Deduplicating
    //      Training Data Makes Language Models Better" §4 — here as the
    //      per-doc report a pipeline thresholds on). Reuses the hashed
    //      shingle relation of the MinHash path; df per shingle comes
    //      from a count window over the 30-bit hash — one shuffle on h,
    //      the same key the LSH path already shuffles on, and at 100 TB
    //      the h-partitioned count never materializes a corpus-wide
    //      dictionary on any single node. A shingle repeated only WITHIN
    //      a doc doesn't count: the relation is distinct doc×gram, and
    //      it is further deduped to distinct (doc, h) so two different
    //      in-doc shingles COLLIDING mod 2³⁰ can't fake df=2 — so
    //      n_grams counts distinct hashed shingles per doc.
    QueryDef.checked(
      "q_dup_ngram_rate",
      s"""WITH hg AS (
         |  SELECT DISTINCT doc_id, h FROM ($duckHashedGrams)
         |), c AS (
         |  SELECT doc_id, count(*) OVER (PARTITION BY h) AS df FROM hg
         |)
         |SELECT doc_id, count(*) AS n_grams,
         |  CAST(count(*) FILTER (WHERE df >= 2) AS BIGINT) AS n_dup,
         |  round(CAST(count(*) FILTER (WHERE df >= 2) AS DOUBLE) / count(*), 6)
         |    AS dup_rate
         |FROM c GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      hashedGrams(Tables(spark, dir).documents)
        .distinct()
        .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          count(when(col("df") >= 2, 1)).cast("long").as("n_dup"))
        .select(col("doc_id"), col("n_grams"), col("n_dup"),
          round(col("n_dup").cast("double") / col("n_grams"), 6).as("dup_rate"))
        .orderBy("doc_id")
    },

    // ---- n-gram novelty (first-occurrence attribution): for each doc,
    //      the share of its distinct shingles whose corpus-wide FIRST
    //      owner (min doc_id) is the doc itself — the quantity a
    //      keep-first dedup policy preserves, where q_dup_ngram_rate
    //      measures raw duplication symmetrically. Same h-keyed shuffle
    //      as the MinHash path (the min-doc window replaces the count
    //      window); nothing corpus-wide lands on one node.
    QueryDef.checked(
      "q_ngram_novelty",
      s"""WITH hg AS (
         |  SELECT DISTINCT doc_id, h FROM ($duckHashedGrams)
         |), fo AS (
         |  SELECT doc_id, h, min(doc_id) OVER (PARTITION BY h) AS first_doc
         |  FROM hg
         |)
         |SELECT doc_id, count(*) AS n_grams,
         |  CAST(count(*) FILTER (WHERE first_doc = doc_id) AS BIGINT)
         |    AS n_novel,
         |  round(CAST(count(*) FILTER (WHERE first_doc = doc_id) AS DOUBLE)
         |    / count(*), 6) AS novelty_rate
         |FROM fo GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      hashedGrams(Tables(spark, dir).documents)
        .distinct()
        .withColumn("first_doc",
          min(col("doc_id")).over(Window.partitionBy("h")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          count(when(col("first_doc") === col("doc_id"), 1)).cast("long")
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_grams"), 6)
            .as("novelty_rate"))
        .orderBy("doc_id")
    },

    // ---- EXACT set-similarity join by prefix filtering (the
    //      AllPairs/PPJoin family): 3-gram SHINGLE sets with Jaccard ≥
    //      3/5, found with NO false negatives and no all-pairs pass.
    //      Shingles, not unigrams: on this template-heavy corpus the
    //      unigram variant degenerates (rare words are still shared —
    //      measured 12.2M/12.5M candidate pairs at sf0.1), while
    //      shingles keep candidates at ~3% of the pair space. Shingles
    //      are globally ordered rarest-first (by doc frequency); a pair
    //      with overlap ≥ α = ⌈t·|x|⌉ must share a shingle from x's
    //      (|x|−α+1)-prefix, so candidates come from joining the PREFIX
    //      relation against the full shingle relation; exact
    //      verification runs on candidates only. The 3/5 threshold is
    //      enforced in INTEGERS (5·inter ≥ 3·union) — no float drift.
    //      Complements MinHash-LSH: exact recall where LSH is
    //      probabilistic, same shingle relation, same shuffle keys.
    QueryDef.checked(
      "q_prefix_filter_join",
      s"""WITH toks AS (
        |  SELECT DISTINCT doc_id, h FROM ($duckHashedGrams)
        |), sz AS (
        |  SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id
        |), df AS (
        |  SELECT h, count(*) AS df FROM toks GROUP BY h
        |), ordered AS (
        |  SELECT t.doc_id, t.h, s.len,
        |    row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.h)
        |      AS rn
        |  FROM toks t JOIN df d ON d.h = t.h
        |  JOIN sz s ON s.doc_id = t.doc_id
        |), prefix AS (
        |  SELECT doc_id, h FROM ordered
        |  WHERE rn <= len - ((3 * len + 4) // 5) + 1
        |), cand AS (
        |  SELECT DISTINCT least(p.doc_id, t.doc_id) AS da,
        |    greatest(p.doc_id, t.doc_id) AS db
        |  FROM prefix p JOIN toks t
        |    ON t.h = p.h AND t.doc_id <> p.doc_id
        |), inter AS (
        |  SELECT c.da, c.db, count(*) AS ninter
        |  FROM cand c
        |  JOIN toks ta ON ta.doc_id = c.da
        |  JOIN toks tb ON tb.doc_id = c.db AND tb.h = ta.h
        |  GROUP BY c.da, c.db
        |)
        |SELECT i.da AS doc_a, i.db AS doc_b,
        |  CAST(i.ninter AS BIGINT) AS n_inter,
        |  CAST(sa.len + sb.len - i.ninter AS BIGINT) AS n_union,
        |  round(CAST(i.ninter AS DOUBLE)
        |    / (sa.len + sb.len - i.ninter), 6) AS jaccard
        |FROM inter i
        |JOIN sz sa ON sa.doc_id = i.da
        |JOIN sz sb ON sb.doc_id = i.db
        |WHERE 5 * i.ninter >= 3 * (sa.len + sb.len - i.ninter)
        |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      // 8-byte hashed shingles, not ~25-byte gram strings — every join
      // and shuffle below keys on the long h (the MinHash path's trick)
      val toks = hashedGrams(Tables(spark, dir).documents)
        .distinct()
        .transform(localCheckpoint) // feeds sz/df/prefix/candidates/verify
      val sz = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
      val df = toks.groupBy("h").agg(count(lit(1)).as("df"))
      // per-doc rarity rank — window bounded by the doc's shingle count
      val wDoc = Window.partitionBy("doc_id").orderBy("df", "h")
      val prefix = toks.join(df, Seq("h")).join(sz, Seq("doc_id"))
        .withColumn("rn", row_number().over(wDoc))
        .filter(col("rn") <=
          col("len") - expr("(3 * len + 4) div 5") + 1)
        .select(col("doc_id").as("p_doc"), col("h"), col("len").as("p_len"))
      // length filter rides the candidate join: J ≥ 3/5 forces
      // 5·min(|x|,|y|) ≥ 3·max(|x|,|y|) — lossless pruning (the final
      // exact filter implies it), cuts candidates before the distinct
      val tWithLen = toks.join(sz, Seq("doc_id"))
        .select(col("doc_id").as("t_doc"), col("h"), col("len").as("t_len"))
      val cand = prefix
        .join(tWithLen, Seq("h"))
        .filter(col("t_doc") =!= col("p_doc") &&
          lit(5) * least(col("p_len"), col("t_len")) >=
          lit(3) * greatest(col("p_len"), col("t_len")))
        .select(least(col("p_doc"), col("t_doc")).as("da"),
          greatest(col("p_doc"), col("t_doc")).as("db"))
        .distinct()
      // verify by carrying each doc's SORTED hash set into the pair
      // join (the SemDeDup carry trick): intersection = one codegen'd
      // array_intersect over ~|doc|-element arrays per candidate,
      // instead of re-exploding candidates against the tuple relation
      // (a candidates×|doc| row blow-up). Sets are doc-bounded arrays,
      // so the two set-carrying shuffles stay |docs|-sized.
      val sets = toks.groupBy("doc_id")
        .agg(sort_array(collect_list(col("h"))).as("hs"))
      val inter = cand
        .join(sets.select(col("doc_id").as("da"), col("hs").as("ha")),
          Seq("da"))
        .join(sets.select(col("doc_id").as("db"), col("hs").as("hb")),
          Seq("db"))
        .select(col("da"), col("db"), size(col("ha")).as("la"),
          size(col("hb")).as("lb"),
          // merge-walk count (codegen kernel): the arrays are sorted
          // and distinct by construction, so this equals
          // size(array_intersect(ha, hb)) without the per-pair
          // hash-set build + output-array materialization that made
          // this select the query's dominant stage
          graft.functions.ArrayKernels
            .sortedIntersectCount(col("ha"), col("hb")).as("ninter"))
      inter
        .filter(lit(5) * col("ninter") >=
          lit(3) * (col("la") + col("lb") - col("ninter")))
        .select(col("da").as("doc_a"), col("db").as("doc_b"),
          col("ninter").cast("long").as("n_inter"),
          (col("la") + col("lb") - col("ninter")).cast("long").as("n_union"),
          round(col("ninter").cast("double") /
            (col("la") + col("lb") - col("ninter")), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // ---- exact substring-span dedup audit (the Lee et al.
    //      "Deduplicating Training Data" pass, at 8-token granularity):
    //      every positioned 8-gram occurring ≥ 2 times corpus-wide is a
    //      duplicated span seed; overlapping/adjacent seeds MERGE into
    //      maximal spans per doc (gaps-and-islands over the running
    //      span-end maximum), and the report is each doc's duplicated
    //      token mass. Differs from q_dup_ngram_rate by keeping
    //      POSITIONS — the output is removable spans, not a rate.
    //      Scale: one corpus-sized shuffle keyed by the 8-byte gram
    //      hash for the occurrence count, then per-doc windows; the
    //      suffix-array of the original is replaced by the fixed-L
    //      gram relation — the standard distributed approximation.
    QueryDef.checked(
      "q_substring_dedup",
      """WITH sp AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(greatest(len(toks) - 7, 0)),
        |      i -> CAST(concat('0x', substring(md5(
        |        array_to_string(toks[i + 1 : i + 8], ' ')), 1, 15)) AS BIGINT)))
        |      AS h,
        |    unnest(range(greatest(len(toks) - 7, 0))) AS pos
        |  FROM sp
        |), c AS (
        |  SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt FROM g
        |), f AS (
        |  SELECT doc_id, pos FROM c WHERE cnt >= 2
        |), isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(max(pos + 7) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9) + 1
        |      THEN 1 ELSE 0 END AS brk
        |  FROM f
        |), grp AS (
        |  SELECT doc_id, pos, sum(brk) OVER (
        |    PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
        |  FROM isl
        |), spans AS (
        |  SELECT doc_id, gid, min(pos) AS s, max(pos) + 7 AS e
        |  FROM grp GROUP BY doc_id, gid
        |), per_doc AS (
        |  SELECT doc_id, count(*) AS n_spans,
        |    CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
        |  FROM spans GROUP BY doc_id
        |), tot AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |  FROM documents
        |)
        |SELECT t.doc_id, t.n_tokens,
        |  coalesce(p.n_spans, CAST(0 AS BIGINT)) AS n_spans,
        |  coalesce(p.dup_tokens, CAST(0 AS BIGINT)) AS dup_tokens,
        |  round(CAST(coalesce(p.dup_tokens, CAST(0 AS BIGINT)) AS DOUBLE)
        |    / t.n_tokens, 6) AS dup_frac
        |FROM tot t LEFT JOIN per_doc p ON p.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(spark, dir).documents
      // positioned 8-gram hashes: transform keeps the index, the null
      // tail (short docs) drops AFTER posexplode so positions survive
      val g = docs
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        // Spark's sequence(0, -1) counts DOWN — guard short docs out
        // before building positions (DuckDB's range() is empty there)
        .filter(size(col("toks")) >= 8)
        .select(col("doc_id"), posexplode(expr(
          """transform(sequence(0, size(toks) - 8),
            |  i -> concat_ws(' ', slice(toks, i + 1, 8)))""".stripMargin))
          .as(Seq("pos", "gram")))
        .select(col("doc_id"), col("pos"),
          (md5h64(col("gram"))).as("h"))
      val f = g
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("h")))
        .filter(col("cnt") >= 2)
        .select("doc_id", "pos")
      val wPrev = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
      val spans = f
        .withColumn("brk",
          when(col("pos") >
            coalesce(max(col("pos") + 7).over(wPrev), lit(-9)) + 1, 1)
            .otherwise(0))
        .withColumn("gid", sum(col("brk")).over(wRun))
        .groupBy("doc_id", "gid")
        .agg(min(col("pos")).as("s"), (max(col("pos")) + 7).as("e"))
      val perDoc = spans.groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(col("e") - col("s") + 1).cast("long").as("dup_tokens"))
      docs.select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
          round(coalesce(col("dup_tokens"), lit(0L)).cast("double")
            / col("n_tokens"), 6).as("dup_frac"))
        .orderBy("doc_id")
    },

    // ---- cross-source overlap matrix: shingle-set Jaccard and mutual
    //      containment for every source pair — the corpus-level
    //      contamination map (which crawl snapshots/feeds duplicate
    //      each other) that decides dedup ORDER before doc-level
    //      passes run. Source shingle sets reduce to distinct (source,
    //      hash) pairs first — vocabulary-bounded, far smaller than the
    //      doc-level relation — then one hash-keyed self-join counts
    //      intersections; |sources|² output.
    QueryDef.checked(
      "q_source_overlap",
      s"""WITH sg AS (
         |  SELECT DISTINCT d.source, h FROM ($duckHashedGrams) hg
         |  JOIN documents d ON d.doc_id = hg.doc_id
         |), sz AS (
         |  SELECT source, count(*) AS n FROM sg GROUP BY source
         |), inter AS (
         |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_int
         |  FROM sg a JOIN sg b ON b.h = a.h AND a.source < b.source
         |  GROUP BY a.source, b.source
         |)
         |SELECT i.src_a, i.src_b, sa.n AS n_a, sb.n AS n_b, i.n_int,
         |  round(CAST(i.n_int AS DOUBLE) / (sa.n + sb.n - i.n_int), 6)
         |    AS jaccard,
         |  round(CAST(i.n_int AS DOUBLE) / least(sa.n, sb.n), 6)
         |    AS containment
         |FROM inter i
         |JOIN sz sa ON sa.source = i.src_a
         |JOIN sz sb ON sb.source = i.src_b
         |ORDER BY i.src_a, i.src_b""".stripMargin) { (spark, dir) =>
      val docs = Tables(spark, dir).documents
      val sg = hashedGrams(docs)
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
        .select("source", "h").distinct()
        .transform(localCheckpoint) // sizes + both self-join sides
      val sz = sg.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = sg.select(col("source").as("src_a"), col("h"))
        .join(sg.select(col("source").as("src_b"), col("h")), Seq("h"))
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("n_int"))
      inter
        .join(broadcast(sz.select(col("source").as("src_a"),
          col("n").as("n_a"))), Seq("src_a"))
        .join(broadcast(sz.select(col("source").as("src_b"),
          col("n").as("n_b"))), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          col("n_int"),
          round(col("n_int").cast("double") /
            (col("n_a") + col("n_b") - col("n_int")), 6).as("jaccard"),
          round(col("n_int").cast("double") /
            least(col("n_a"), col("n_b")), 6).as("containment"))
        .orderBy("src_a", "src_b")
    },

    // ---- robust winnowing (the MOSS fingerprint scheme): hash each
    //      positional 3-gram shingle, slide a w=4 window over the hash
    //      sequence and keep each window's MINIMUM — guaranteeing any
    //      shared run of ≥ w+k-1 tokens contributes at least one shared
    //      fingerprint (the detection floor MinHash cannot promise).
    //      Positions matter, so the shingle relation here is NOT
    //      de-duplicated before windowing. Scale: the window partitions
    //      BY DOC (never global); fingerprints thin the corpus ~1/w
    //      before the one fingerprint-keyed shuffle; ubiquitous
    //      fingerprints (boilerplate, df > 20) are dropped before the
    //      pair join — the same hot-bucket cap as the LSH band join, so
    //      no fingerprint bucket can go quadratic.
    QueryDef.checked(
      "q_winnowing",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($duckGrams) AS gram,
         |    generate_subscripts($duckGrams, 1) AS pos
         |  FROM documents
         |), hashed AS (
         |  SELECT doc_id, pos, ${duckH64("gram")} % 1073741824 AS h
         |  FROM toks
         |), wmin AS (
         |  SELECT doc_id, pos,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         |    count(*) OVER (PARTITION BY doc_id) AS n_pos
         |  FROM hashed
         |), fps AS (
         |  SELECT DISTINCT doc_id, fp FROM wmin WHERE pos <= n_pos - 3
         |), freq AS (
         |  SELECT fp, count(*) AS df FROM fps GROUP BY fp
         |), kept AS (
         |  SELECT f.doc_id, f.fp FROM fps f JOIN freq q ON q.fp = f.fp
         |  WHERE q.df <= 20
         |), sizes AS (
         |  SELECT doc_id, count(*) AS n_fp FROM kept GROUP BY doc_id
         |), pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |  FROM kept a JOIN kept b ON b.fp = a.fp AND b.doc_id > a.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |)
         |SELECT p.doc_a, p.doc_b, p.n_shared,
         |  round(CAST(p.n_shared AS DOUBLE)
         |    / least(sa.n_fp, sb.n_fp), 6) AS containment
         |FROM pairs p
         |JOIN sizes sa ON sa.doc_id = p.doc_a
         |JOIN sizes sb ON sb.doc_id = p.doc_b
         |WHERE p.n_shared >= 3
         |ORDER BY p.n_shared DESC, p.doc_a, p.doc_b
         |LIMIT 50""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      // spread before the positional gram explode + hash (Tables.spread
      // contract: one-split scan, per-gram md5 kernel)
      val hashed = Tables.spread(Tables(spark, dir).documents)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), posexplode(expr(gramsExpr)).as(Seq("pos", "gram")))
        .select(col("doc_id"), col("pos"),
          (md5h64(col("gram")) % 1073741824L).as("h"))
      val wDoc = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.currentRow, 3)
      val wCnt = Window.partitionBy("doc_id")
      val fps = hashed
        .withColumn("fp", min(col("h")).over(wDoc))
        .withColumn("n_pos", count(lit(1)).over(wCnt))
        // posexplode is 0-based (oracle's subscripts are 1-based): the
        // same "full 4-hash windows only" cut is pos <= n_pos - 4
        .filter(col("pos") <= col("n_pos") - 4)
        .select("doc_id", "fp").distinct()
        .transform(localCheckpoint) // frequency cap, sizes, and both join sides
      val kept = fps.join(
        fps.groupBy("fp").agg(count(lit(1)).as("df")).filter(col("df") <= 20)
          .select("fp"), Seq("fp"))
      val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
      val pairs = kept.select(col("fp"), col("doc_id").as("doc_a"))
        .join(kept.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
        .filter(col("doc_b") > col("doc_a"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
      // sizes is per-doc (corpus-sized) — keyed joins, no broadcast;
      // AQE will broadcast the (thresholded, tiny) pairs side instead
      pairs
        .join(sizes.select(col("doc_id").as("doc_a"),
          col("n_fp").as("n_a")), Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"),
          col("n_fp").as("n_b")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          round(col("n_shared").cast("double")
            / least(col("n_a"), col("n_b")), 6).as("containment"))
        .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
        .limit(50)
    },

    // ---- MinHash sketch ALGEBRA: per-source signatures built two ways
    //      — directly from each source's shingle union, and by MERGING
    //      per-document signatures with elementwise min — must agree
    //      (min over a union = min of mins), which is exactly what
    //      makes MinHash distributable: per-partition sketches merge
    //      associatively, so a 100 TB corpus sketches in one map-side
    //      pass + a k-long shuffle per key (the same monoid contract
    //      KMVAggregator property-tests). Output: source-pair Jaccard
    //      ESTIMATED from the merged signatures vs the EXACT shingle
    //      Jaccard, with the merge-law verdict riding each row.
    QueryDef.checked(
      "q_minhash_union",
      s"""WITH hg AS (
         |  SELECT source, doc_id, ${duckH64("gram")} % 1073741824 AS h
         |  FROM (SELECT DISTINCT source, doc_id, unnest($duckGrams) AS gram
         |        FROM documents)
         |), direct AS (
         |  SELECT source,
         |    ${(0 until 4).map(duckSig).mkString(",\n    ")}
         |  FROM hg GROUP BY source
         |), perdoc AS (
         |  SELECT source, doc_id,
         |    ${(0 until 4).map(duckSig).mkString(",\n    ")}
         |  FROM hg GROUP BY source, doc_id
         |), merged AS (
         |  SELECT source, min(mh0) AS mh0, min(mh1) AS mh1,
         |    min(mh2) AS mh2, min(mh3) AS mh3
         |  FROM perdoc GROUP BY source
         |), sh AS (
         |  SELECT DISTINCT source, h FROM hg
         |), exact AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |    count(*) AS n_inter
         |  FROM sh a JOIN sh b ON b.h = a.h AND b.source > a.source
         |  GROUP BY a.source, b.source
         |), card AS (
         |  SELECT source, count(*) AS n_sh FROM sh GROUP BY source
         |)
         |SELECT e.src_a, e.src_b,
         |  CAST((CASE WHEN da.mh0 = db.mh0 THEN 1 ELSE 0 END
         |      + CASE WHEN da.mh1 = db.mh1 THEN 1 ELSE 0 END
         |      + CASE WHEN da.mh2 = db.mh2 THEN 1 ELSE 0 END
         |      + CASE WHEN da.mh3 = db.mh3 THEN 1 ELSE 0 END) AS INT)
         |    AS sig_matches,
         |  CAST(e.n_inter AS BIGINT) AS n_inter,
         |  CAST(ca.n_sh + cb.n_sh - e.n_inter AS BIGINT) AS n_union,
         |  round(CAST(e.n_inter AS DOUBLE)
         |    / (ca.n_sh + cb.n_sh - e.n_inter), 6) AS exact_jaccard,
         |  (da.mh0 = ma.mh0 AND da.mh1 = ma.mh1 AND da.mh2 = ma.mh2
         |   AND da.mh3 = ma.mh3 AND db.mh0 = mb.mh0 AND db.mh1 = mb.mh1
         |   AND db.mh2 = mb.mh2 AND db.mh3 = mb.mh3) AS merge_law_holds
         |FROM exact e
         |JOIN direct da ON da.source = e.src_a
         |JOIN direct db ON db.source = e.src_b
         |JOIN merged ma ON ma.source = e.src_a
         |JOIN merged mb ON mb.source = e.src_b
         |JOIN card ca ON ca.source = e.src_a
         |JOIN card cb ON cb.source = e.src_b
         |ORDER BY src_a, src_b""".stripMargin) { (spark, dir) =>
      val docs = Tables(spark, dir).documents
      val hg = Tables.spread(docs) // one-split scan feeds the gram build
        .select(col("source"), col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("source"), col("doc_id"), explode(expr(gramsExpr)).as("gram"))
        .distinct()
        .select(col("source"), col("doc_id"),
          (md5h64(col("gram")) % 1073741824L).as("h"))
        .transform(localCheckpoint) // direct sigs, per-doc sigs, and exact sets
      def sigAggs = (0 until 4).map(j =>
        min((lit(A(j)) * col("h") + lit(B(j))) % lit(P)).as(s"mh$j"))
      val direct = hg.groupBy("source").agg(sigAggs.head, sigAggs.tail: _*)
      val merged = hg.groupBy("source", "doc_id")
        .agg(sigAggs.head, sigAggs.tail: _*)
        .groupBy("source")
        .agg(min("mh0").as("mh0"), min("mh1").as("mh1"),
          min("mh2").as("mh2"), min("mh3").as("mh3"))
      val sh = hg.select("source", "h").distinct()
        .transform(localCheckpoint) // both sides of the intersection join + card
      val exact = sh.select(col("source").as("src_a"), col("h"))
        .join(sh.select(col("source").as("src_b"), col("h")), Seq("h"))
        .filter(col("src_b") > col("src_a"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_inter"))
      val card = sh.groupBy("source").agg(count(lit(1)).as("n_sh"))
      def sigs(df: DataFrame, tag: String) = df.select(
        col("source").as(s"source_$tag"),
        col("mh0").as(s"${tag}0"), col("mh1").as(s"${tag}1"),
        col("mh2").as(s"${tag}2"), col("mh3").as(s"${tag}3"))
      exact
        .join(broadcast(sigs(direct, "da")), col("source_da") === col("src_a"))
        .join(broadcast(sigs(direct, "db")), col("source_db") === col("src_b"))
        .join(broadcast(sigs(merged, "ma")), col("source_ma") === col("src_a"))
        .join(broadcast(sigs(merged, "mb")), col("source_mb") === col("src_b"))
        .join(broadcast(card.select(col("source").as("src_a"),
          col("n_sh").as("na"))), Seq("src_a"))
        .join(broadcast(card.select(col("source").as("src_b"),
          col("n_sh").as("nb"))), Seq("src_b"))
        .select(col("src_a"), col("src_b"),
          ((0 until 4).map(j =>
            when(col(s"da$j") === col(s"db$j"), 1).otherwise(0))
            .reduce(_ + _)).cast("int").as("sig_matches"),
          col("n_inter").cast("long").as("n_inter"),
          (col("na") + col("nb") - col("n_inter")).cast("long").as("n_union"),
          round(col("n_inter").cast("double")
            / (col("na") + col("nb") - col("n_inter")), 6).as("exact_jaccard"),
          ((0 until 4).map(j => col(s"da$j") === col(s"ma$j"))
            ++ (0 until 4).map(j => col(s"db$j") === col(s"mb$j")))
            .reduce(_ && _).as("merge_law_holds"))
        .orderBy("src_a", "src_b")
    }
  )
}
