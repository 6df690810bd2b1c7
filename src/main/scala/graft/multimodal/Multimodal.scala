package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables
import graft.operators.QueryDef

/** Multimodal column plumbing (north star): media as opaque `binary`
  * columns with typed metadata, batch-shaped decode/feature-extraction
  * over partitions.
  *
  * The IMAGE decode is REAL: the JDK ships `javax.imageio` (PNG/BMP/
  * GIF), so [[ImageDecoder.decode]] decodes actual PNG bytes —
  * encoded by [[encodePngs]] from seed-deterministic pixels whose
  * channel sums are pure doc_id arithmetic, which is what lets the
  * DuckDB oracle hash-check the full encode→decode→aggregate path
  * without owning a codec. The AUDIO decode is REAL too (round 13):
  * the JDK ships `javax.sound.sampled` (WAV/RIFF, PCM), so
  * [[AudioDecoder.decode]] parses actual WAV containers encoded by
  * [[encodeWavs]] from closed-form PCM samples. The VIDEO decode is
  * REAL as of round 14: Y4M (YUV4MPEG2, the mjpegtools raw-video
  * interchange container — a real public format with a stream header,
  * per-frame markers and raw planar YUV, needing a real parser but no
  * entropy codec) round-trips through [[encodeY4m]] /
  * [[Y4mDecoder.decode]]. What remains codec-bound (H.264-class
  * entropy decoding, learned feature extraction) is represented by
  * [[StubDecoder.decode]]'s deterministic fake behind the same
  * batch-iterator contract a native kernel drops into.
  *
  * Everything Spark-side is real and tested: the schema (binary +
  * typed metadata), the partition-batched execution shape
  * (`mapPartitions` over an iterator — the Scala analogue of
  * `mapInPandas` batches, one decoder invocation per partition, no
  * per-row JNI churn), and the feature output contract.
  *
  * At 100 TB: media bytes dominate row size, so the table would be
  * written with the binary column in its own parquet column chunk
  * (automatic), scanned with pushdown on metadata-only predicates, and
  * decoded with `spark.sql.files.maxPartitionBytes` sized so one task's
  * batch of blobs fits executor memory.
  */
object Multimodal {

  final case class EncodedImage(doc_id: Long, media: Array[Byte])

  final case class DecodedImage(doc_id: Long, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long)

  /** One REAL PNG per png-format document (doc_id % 3 = 0 under the
    * attachMedia model), encoded executor-side with `javax.imageio`.
    * Pixels are seed-deterministic and WRAP-FREE closed forms of
    * doc_id — r = d%200 + x, g = d%180 + y, b = d%100 + x + y with
    * w ≤ 11, h ≤ 7, so every channel stays < 256 and the per-image
    * channel sums are exact integer arithmetic an oracle can
    * recompute without decoding anything. */
  def encodePngs(docs: DataFrame): Dataset[EncodedImage] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).filter(col("doc_id") % 3 === 0)
      .as[Long]
      .mapPartitions { ids =>
        ids.map { d =>
          val w = (4 + d % 8).toInt
          val h = (3 + d % 5).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val r = (d % 200).toInt + x
              val g = (d % 180).toInt + y
              val b = (d % 100).toInt + x + y
              img.setRGB(x, y, (r << 16) | (g << 8) | b)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          EncodedImage(d, bos.toByteArray)
        }
      }
  }

  /** The REAL image decode kernel: `javax.imageio` PNG decode, batch
    * iterator in / batch iterator out (one invocation per partition).
    * Emits per-image dimensions and exact per-channel pixel sums —
    * the stats the oracle recomputes arithmetically, so a wrong
    * decode (channel swap, row-order bug, truncated read) flips the
    * hash. */
  object ImageDecoder {
    def decode(rows: Iterator[EncodedImage]): Iterator[DecodedImage] =
      rows.map { rec =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(rec.media))
        require(img != null, s"undecodable media for doc ${rec.doc_id}")
        val (w, h) = (img.getWidth, img.getHeight)
        var (sr, sg, sb) = (0L, 0L, 0L)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sr += (rgb >> 16) & 0xFF
            sg += (rgb >> 8) & 0xFF
            sb += rgb & 0xFF
            x += 1
          }
          y += 1
        }
        DecodedImage(rec.doc_id, w, h, sr, sg, sb)
      }
  }

  /** Partition-batched REAL decode over the encoded PNG column. */
  def decodeImages(media: Dataset[EncodedImage]): Dataset[DecodedImage] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(ImageDecoder.decode _)
  }

  final case class EncodedAudio(doc_id: Long, media: Array[Byte])

  final case class DecodedAudio(doc_id: Long, n_samples: Long,
      sample_rate: Long, bits: Int, channels: Int,
      sum_samples: Long, max_sample: Long)

  /** One REAL WAV (RIFF container, 16-bit signed little-endian PCM,
    * mono, 8 kHz) per wav-format document (doc_id % 3 = 2 under the
    * attachMedia model), encoded executor-side with
    * `javax.sound.sampled.AudioSystem` — the audio twin of
    * [[encodePngs]]. Samples are the closed form
    * `sample(i) = d % 1000 + 7 * i` over `n = 50 + d % 40` samples
    * (max value 1623, far inside 16-bit signed), so the per-clip
    * sample count, sum and max are exact integer arithmetic an oracle
    * recomputes without owning a codec. */
  def encodeWavs(docs: DataFrame): Dataset[EncodedAudio] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).filter(col("doc_id") % 3 === 2)
      .as[Long]
      .mapPartitions { ids =>
        ids.map { d =>
          val n = (50 + d % 40).toInt
          val pcm = new Array[Byte](n * 2)
          var i = 0
          while (i < n) {
            val s = ((d % 1000) + 7L * i).toShort
            pcm(2 * i) = (s & 0xFF).toByte           // little-endian
            pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
            i += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(
            8000f, 16, 1, /* signed = */ true, /* bigEndian = */ false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          EncodedAudio(d, bos.toByteArray)
        }
      }
  }

  /** The REAL audio decode kernel: `javax.sound.sampled` WAV decode,
    * batch iterator in / batch iterator out (one invocation per
    * partition — the same production contract as [[ImageDecoder]]).
    * Emits the container-declared format (rate/bits/channels) and
    * exact PCM sample statistics, so a header lie, byte-order bug, or
    * truncated read flips the oracle hash. */
  object AudioDecoder {
    def decode(rows: Iterator[EncodedAudio]): Iterator[DecodedAudio] =
      rows.map { rec =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(rec.media))
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
          s"unexpected PCM layout for doc ${rec.doc_id}: $fmt")
        val bytes = ais.readAllBytes()
        val n = bytes.length / 2
        var (sum, mx) = (0L, Long.MinValue)
        var i = 0
        while (i < n) {
          val s = ((bytes(2 * i) & 0xFF) |
            (bytes(2 * i + 1) << 8)).toShort.toLong
          sum += s
          if (s > mx) mx = s
          i += 1
        }
        DecodedAudio(rec.doc_id, n, fmt.getSampleRate.toLong,
          fmt.getSampleSizeInBits, fmt.getChannels, sum,
          if (n == 0) 0L else mx)
      }
  }

  /** Partition-batched REAL decode over the encoded WAV column. */
  def decodeAudio(media: Dataset[EncodedAudio]): Dataset[DecodedAudio] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(AudioDecoder.decode _)
  }

  final case class EncodedVideo(doc_id: Long, media: Array[Byte])
  final case class DecodedVideo(doc_id: Long, width: Int, height: Int,
      n_frames: Int, y_sum: Long, u_sum: Long, v_sum: Long)

  /** One REAL YUV4MPEG2 (Y4M) container per video-format document
    * (doc_id % 3 = 1) — the video twin of [[encodePngs]]/
    * [[encodeWavs]], closing the last multimodal third: Y4M is the
    * mjpegtools raw-video interchange format (a plain-text stream
    * header `YUV4MPEG2 W.. H.. F25:1 Ip A1:1 C444` + per-frame
    * `FRAME\n` markers over raw planar YUV bytes), i.e. a REAL public
    * container that needs a real parser but NO entropy codec — which
    * is exactly the boundary a JVM with no codec can close honestly.
    * Geometry and pixels are closed forms an oracle recomputes with
    * pure arithmetic: `w = 8 + 2(d%5)`, `h = 6 + d%7`,
    * `F = 2 + d%4`; frame f's planes are constant bases
    * `y = d%100 + 3f`, `u = d%80 + 2f + 10`, `v = d%60 + f + 20`
    * (all < 256, wrap-free), with a positional `+ (i & 1)` ripple on
    * Y so an intra-frame truncation-and-pad cannot conserve the sum
    * (w is even, so exactly n_pix/2 pixels carry the +1). */
  def encodeY4m(docs: DataFrame): Dataset[EncodedVideo] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).filter(col("doc_id") % 3 === 1)
      .as[Long]
      .mapPartitions { ids =>
        ids.map { d =>
          val w = (8 + 2 * (d % 5)).toInt
          val h = (6 + d % 7).toInt
          val frames = (2 + d % 4).toInt
          val nPix = w * h
          val bos = new java.io.ByteArrayOutputStream()
          bos.write(
            s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C444\n".getBytes("US-ASCII"))
          var f = 0
          while (f < frames) {
            bos.write("FRAME\n".getBytes("US-ASCII"))
            val yBase = (d % 100 + 3L * f).toInt
            val uBase = (d % 80 + 2L * f + 10).toInt
            val vBase = (d % 60 + f + 20L).toInt
            var i = 0
            while (i < nPix) { bos.write(yBase + (i & 1)); i += 1 }
            i = 0
            while (i < nPix) { bos.write(uBase); i += 1 }
            i = 0
            while (i < nPix) { bos.write(vBase); i += 1 }
            f += 1
          }
          EncodedVideo(d, bos.toByteArray)
        }
      }
  }

  /** The REAL video-container decode kernel: a Y4M parser — stream
    * header tokens (W/H/C), per-frame markers, three raw planes per
    * frame — batch iterator in / batch iterator out (one invocation
    * per partition, the [[ImageDecoder]] contract). Emits the
    * container-declared geometry and exact per-plane byte sums, so a
    * header lie, a swapped plane, a dropped frame, or a short read
    * flips the oracle hash. Non-4:4:4 chroma is refused loudly (the
    * encoder writes C444; silently mis-sizing planes would be the
    * worst failure mode a raw-video reader has). */
  object Y4mDecoder {
    def decode(rows: Iterator[EncodedVideo]): Iterator[DecodedVideo] =
      rows.map { rec =>
        val in = new java.io.ByteArrayInputStream(rec.media)
        def readLine(): String = {
          val sb = new StringBuilder
          var c = in.read()
          while (c != '\n' && c != -1) { sb.append(c.toChar); c = in.read() }
          sb.toString
        }
        val header = readLine()
        require(header.startsWith("YUV4MPEG2"),
          s"doc ${rec.doc_id}: not a Y4M stream: ${header.take(20)}")
        val tokens = header.split(' ').drop(1)
          .map(t => t.head -> t.tail).toMap
        val w = tokens('W').toInt
        val h = tokens('H').toInt
        require(tokens.getOrElse('C', "420") == "444",
          s"doc ${rec.doc_id}: only C444 (planar 4:4:4) is supported, " +
            s"got C${tokens.getOrElse('C', "420")}")
        val nPix = w * h
        var (ySum, uSum, vSum) = (0L, 0L, 0L)
        var frames = 0
        var marker = readLine()
        while (marker.nonEmpty) {
          require(marker.startsWith("FRAME"),
            s"doc ${rec.doc_id}: bad frame marker '$marker'")
          def plane(): Long = {
            val buf = in.readNBytes(nPix)
            require(buf.length == nPix,
              s"doc ${rec.doc_id}: truncated plane in frame $frames")
            var (s, i) = (0L, 0)
            while (i < nPix) { s += (buf(i) & 0xFF); i += 1 }
            s
          }
          ySum += plane(); uSum += plane(); vSum += plane()
          frames += 1
          marker = if (in.available() == 0) "" else readLine()
        }
        DecodedVideo(rec.doc_id, w, h, frames, ySum, uSum, vSum)
      }
  }

  /** Partition-batched REAL decode over the encoded Y4M column. */
  def decodeVideo(media: Dataset[EncodedVideo]): Dataset[DecodedVideo] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(Y4mDecoder.decode _)
  }

  final case class MediaRow(
      doc_id: Long,
      media: Array[Byte],
      format: String,
      n_bytes: Long)

  final case class MediaFeatures(
      doc_id: Long,
      format: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      features: Array[Float])

  /** Attach a fake media blob to each document (UTF-8 bytes of the text
    * stand in for image bytes; deterministic). */
  def attachMedia(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("media"),
      (when(col("doc_id") % 3 === 0, "png")
        .when(col("doc_id") % 3 === 1, "jpeg")
        .otherwise("wav")).as("format"),
      expr("octet_length(encode(text, 'UTF-8'))").cast("long").as("n_bytes"))
      .as[MediaRow]
  }

  /** The generic FEATURE-EXTRACTION stand-in over attachMedia's
    * synthetic blobs. All three container modalities now decode for
    * REAL — PNG via [[ImageDecoder]], WAV via [[AudioDecoder]], Y4M
    * video via [[Y4mDecoder]]; what remains codec-bound (an H.264
    * entropy decoder, a learned feature extractor) is represented by
    * this deterministic fake, whose signature — a batch iterator in,
    * a batch iterator out, no per-row JVM↔native churn — is the
    * production kernel contract a native library drops into. */
  object StubDecoder {
    def decode(rows: Iterator[MediaRow]): Iterator[MediaFeatures] =
      rows.map { r =>
        // a learned extractor goes here; deterministic fake below
        val h = java.util.Arrays.hashCode(r.media)
        val feats = Array.tabulate(8)(i =>
          ((h >>> (i * 4)) & 0xF).toFloat / 15.0f)
        MediaFeatures(r.doc_id, r.format, r.n_bytes,
          width = 16 + (math.abs(h) % 16), height = 16 + (math.abs(h / 17) % 16),
          features = feats)
      }
  }

  /** Partition-batched decode: one decoder invocation per partition
    * iterator (the mapInPandas batch shape), preserving distribution. */
  def decodeFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(StubDecoder.decode _)
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- metadata over binary columns — oracle-checked (byte lengths
    //      and first-byte probe are computable from text in SQL)
    QueryDef.checked(
      "q_multimodal_meta",
      """SELECT doc_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  CASE WHEN doc_id % 3 = 0 THEN 'png'
        |       WHEN doc_id % 3 = 1 THEN 'jpeg'
        |       ELSE 'wav' END AS format,
        |  CAST(concat('0x', substring(hex(encode(text)), 1, 2)) AS INTEGER) AS first_byte
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      // first_byte: both engines take the FIRST UTF-8 BYTE of the blob
      // (not the first character's codepoint — those differ on non-ASCII)
      attachMedia(Tables(spark, dir).documents)
        .toDF()
        .withColumn("first_byte",
          conv(hex(substring(col("media"), 1, 1)), 16, 10).cast("int"))
        .select("doc_id", "n_bytes", "format", "first_byte")
        .orderBy("doc_id")
    },

    // ---- full decode path, REAL codec: one PNG per png-format doc is
    //      ENCODED executor-side (javax.imageio, seed-deterministic
    //      wrap-free pixels), DECODED back through the batch-iterator
    //      kernel, and aggregated — while the oracle recomputes every
    //      dimension and channel sum as pure doc_id arithmetic, never
    //      touching a codec. A channel swap, row-order bug, size lie,
    //      or truncated decode flips the hash. The partition-batched
    //      shape (mapPartitions in, iterator out) is exactly the
    //      production kernel contract; the pixel loops are the part a
    //      native codec would replace.
    QueryDef.checked(
      "q_multimodal_decode",
      """WITH d AS (
        |  SELECT doc_id,
        |    4 + doc_id % 8 AS w, 3 + doc_id % 5 AS h,
        |    doc_id % 200 AS r0, doc_id % 180 AS g0, doc_id % 100 AS b0
        |  FROM documents WHERE doc_id % 3 = 0
        |)
        |SELECT CAST(w AS BIGINT) AS width,
        |  count(*) AS n_images,
        |  CAST(sum(h) AS BIGINT) AS sum_heights,
        |  CAST(sum(h * (w * r0 + (w * (w - 1)) / 2)) AS BIGINT) AS sum_r,
        |  CAST(sum(w * (h * g0 + (h * (h - 1)) / 2)) AS BIGINT) AS sum_g,
        |  CAST(sum(w * h * b0 + h * (w * (w - 1)) / 2
        |         + w * (h * (h - 1)) / 2) AS BIGINT) AS sum_b
        |FROM d GROUP BY w ORDER BY width""".stripMargin) { (spark, dir) =>
      decodeImages(encodePngs(Tables(spark, dir).documents))
        .toDF()
        .groupBy(col("width").cast("long").as("width"))
        .agg(count(lit(1)).as("n_images"),
          sum(col("height")).cast("long").as("sum_heights"),
          sum(col("sum_r")).cast("long").as("sum_r"),
          sum(col("sum_g")).cast("long").as("sum_g"),
          sum(col("sum_b")).cast("long").as("sum_b"))
        .orderBy("width")
    },

    // ---- full AUDIO decode path, REAL codec (round 13): one WAV per
    //      wav-format doc is ENCODED executor-side (javax.sound.sampled
    //      — a real RIFF/PCM container, not a fake), DECODED back
    //      through the same batch-iterator kernel contract as the
    //      image path, and aggregated — while the oracle recomputes
    //      sample counts, sums and maxima as pure doc_id arithmetic:
    //      sample(i) = d%1000 + 7i over n = 50 + d%40 samples. A
    //      byte-order bug, header lie (rate/bits/channels), or
    //      truncated PCM read flips the hash. With this, only VIDEO
    //      containers remain at the stub boundary (no codec in the JVM).
    QueryDef.checked(
      "q_audio_decode",
      """WITH d AS (
        |  SELECT doc_id,
        |    50 + doc_id % 40 AS n,
        |    doc_id % 1000 AS s0
        |  FROM documents WHERE doc_id % 3 = 2
        |)
        |SELECT CAST(n AS BIGINT) AS n_samples,
        |  count(*) AS n_clips,
        |  CAST(min(8000) AS BIGINT) AS sample_rate,
        |  CAST(sum(n * s0 + 7 * (n * (n - 1)) / 2) AS BIGINT)
        |    AS sum_samples,
        |  CAST(sum(s0 + 7 * (n - 1)) AS BIGINT) AS sum_max
        |FROM d GROUP BY n ORDER BY n_samples""".stripMargin) {
      (spark, dir) =>
      val clips = decodeAudio(encodeWavs(Tables(spark, dir).documents))
        .toDF()
      clips.groupBy("n_samples")
        .agg(count(lit(1)).as("n_clips"),
          min(col("sample_rate")).as("sample_rate"),
          sum(col("sum_samples")).as("sum_samples"),
          sum(col("max_sample")).as("sum_max"))
        .orderBy("n_samples")
    },

    // ---- REAL video-container decode (round 14, the last multimodal
    //      third): one Y4M (YUV4MPEG2 — mjpegtools' raw-video
    //      interchange container) per video doc, encoded executor-side
    //      from closed-form planes, parsed back by the real Y4M reader
    //      (stream header, FRAME markers, three raw planes per frame).
    //      Per-doc output: declared geometry + exact per-plane byte
    //      sums vs the oracle's pure arithmetic — a header lie, plane
    //      swap, dropped frame, or short read flips the hash.
    QueryDef.checked(
      "q_video_decode",
      """WITH d AS (
        |  SELECT doc_id,
        |    8 + 2 * (doc_id % 5) AS w,
        |    6 + doc_id % 7 AS h,
        |    2 + doc_id % 4 AS f
        |  FROM documents WHERE doc_id % 3 = 1
        |)
        |SELECT doc_id,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(f AS INT) AS n_frames,
        |  CAST(w * h * (f * (doc_id % 100) + (3 * f * (f - 1)) // 2)
        |    + (f * w * h) // 2 AS BIGINT) AS y_sum,
        |  CAST(w * h * (f * ((doc_id % 80) + 10) + f * (f - 1))
        |    AS BIGINT) AS u_sum,
        |  CAST(w * h * (f * ((doc_id % 60) + 20) + (f * (f - 1)) // 2)
        |    AS BIGINT) AS v_sum
        |FROM d ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      decodeVideo(encodeY4m(Tables(spark, dir).documents)).toDF()
        .select(col("doc_id"), col("width"), col("height"),
          col("n_frames"), col("y_sum"), col("u_sum"), col("v_sum"))
        .orderBy("doc_id")
    },

    // ---- deterministic frame sampling: the media blob as a sequence of
    //      fixed-size frames (256-byte chunks of the hex view — byte
    //      exact for multi-byte UTF-8), keep every 4th frame, fingerprint
    //      the sample — the video keyframe-sampling shape. Pure per-row
    //      array work: zero shuffles, codegen throughout.
    QueryDef.checked(
      "q_media_frame_sample",
      """WITH m AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS nb
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, nb, CAST(ceil(nb / 256.0) AS INT) AS n_frames, hx
        |  FROM m
        |)
        |SELECT doc_id, nb AS n_bytes, n_frames,
        |  len(list_filter(range(n_frames), i -> i % 4 = 0)) AS n_sampled,
        |  md5(array_to_string(
        |    list_transform(list_filter(range(n_frames), i -> i % 4 = 0),
        |      i -> substring(hx, i * 512 + 1, 512)), '')) AS sample_sig
        |FROM f
        |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      // sequence(0, -1) yields a DESCENDING [0, -1] rather than the
      // empty array DuckDB's range(0) gives — the i < n_frames guard in
      // the filter keeps an empty document byte-identical to the oracle
      val frameIdx =
        "filter(sequence(0, greatest(n_frames - 1, 0)), i -> i < n_frames AND i % 4 = 0)"
      Tables(spark, dir).documents
        .select(col("doc_id"),
          hex(encode(col("text"), "UTF-8")).as("hx"),
          expr("octet_length(encode(text, 'UTF-8'))").as("nb"))
        .withColumn("n_frames", ceil(col("nb") / 256.0).cast("int"))
        .select(col("doc_id"), col("nb").as("n_bytes"), col("n_frames"),
          size(expr(frameIdx)).as("n_sampled"),
          md5(expr(
            s"concat_ws('', transform($frameIdx, i -> substring(hx, i * 512 + 1, 512)))"))
            .as("sample_sig"))
        .orderBy("doc_id")
    },

    // ---- feature-space resize: 64-d embeddings average-pooled 4:1 down
    //      to 16-d (the resize kernel of the modality pipeline, applied
    //      where this container can verify it — on the vector column).
    //      Per-row higher-order-function arithmetic, no shuffle.
    QueryDef.checked(
      "q_embedding_pool",
      """SELECT vec_id, label,
        |  round((CAST(embedding[1] AS DOUBLE) + embedding[2]
        |       + embedding[3] + embedding[4]) / 4, 6) AS pool0,
        |  round((CAST(embedding[5] AS DOUBLE) + embedding[6]
        |       + embedding[7] + embedding[8]) / 4, 6) AS pool1,
        |  round((CAST(embedding[61] AS DOUBLE) + embedding[62]
        |       + embedding[63] + embedding[64]) / 4, 6) AS pool15
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin) { (spark, dir) =>
      def pool(j: Int) = round(
        (col("embedding").getItem(j * 4).cast("double")
          + col("embedding").getItem(j * 4 + 1)
          + col("embedding").getItem(j * 4 + 2)
          + col("embedding").getItem(j * 4 + 3)) / 4, 6)
      Tables(spark, dir).embeddings
        .select(col("vec_id"), col("label"),
          pool(0).as("pool0"), pool(1).as("pool1"), pool(15).as("pool15"))
        .orderBy("vec_id")
    },

    // ---- perceptual near-dup over media: average-hash (aHash) of the
    //      first 32 "pixels" (bytes) of each blob — bit i set iff byte i
    //      is above the window mean — then an EXACT two-half blocking
    //      join: a pair within hamming distance 1 must agree exactly on
    //      at least one 16-bit half (pigeonhole), so candidates come
    //      from two equality joins on 16-bit keys and no all-pairs pass
    //      exists. The Spark side computes from the BINARY media
    //      column; the oracle from the text twin (media = utf8(text),
    //      ASCII corpus — byte = char). Half-width is the skew knob:
    //      8-bit bands measured 1.3k-doc hot buckets on this corpus
    //      (~5M candidate pairs, 38 s); 16-bit halves cut that to 315k
    //      (~1 s) with zero recall loss at this threshold.
    QueryDef.checked(
      "q_media_ahash_neardup",
      """WITH px AS (
        |  -- blobs shorter than the 32-byte window are excluded on BOTH
        |  -- sides: the engines disagree on missing bytes (Spark's
        |  -- lambda null-propagates, DuckDB's ascii('') yields 0s), and
        |  -- an aHash over a padded stub is meaningless anyway
        |  SELECT doc_id, list_transform(range(32),
        |    i -> ascii(substring(text, CAST(i AS INT) + 1, 1))) AS p
        |  FROM documents WHERE length(text) >= 32
        |), ah AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(32), i ->
        |      CASE WHEN p[CAST(i AS INT) + 1] * 32 > list_sum(p)
        |           THEN CAST(1 AS BIGINT) << CAST(i AS INT) ELSE 0 END)) AS BIGINT) AS h
        |  FROM px
        |), bands AS (
        |  SELECT doc_id, h, unnest(range(2)) AS b FROM ah
        |), keyed AS (
        |  SELECT doc_id, h, b, (h >> CAST(b * 16 AS INT)) & 65535 AS bk FROM bands
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.h AS h1, b.h AS h2
        |  FROM keyed a JOIN keyed b
        |    ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id
        |)
        |SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
        |FROM cand
        |WHERE bit_count(xor(h1, h2)) <= 1
        |ORDER BY d1, d2""".stripMargin) { (spark, dir) =>
      // pixels from the real binary column: hex view → one byte per
      // 2-hex-char slice (exact for any byte value, ASCII or not)
      val ah = attachMedia(Tables(spark, dir).documents).toDF()
        // same >= 32-byte guard as the oracle's px CTE (media = utf8
        // of ASCII text, so byte length == char length)
        .filter(length(col("media")) >= 32)
        .select(col("doc_id"),
          expr("""transform(sequence(0, 31),
                 |  i -> cast(conv(substring(hex(media), i * 2 + 1, 2), 16, 10)
                 |       as int))""".stripMargin).as("p"))
        .select(col("doc_id"),
          expr("""cast(aggregate(sequence(0, 31), 0L, (acc, i) ->
                 |  acc + (case when element_at(p, i + 1) * 32 >
                 |    aggregate(p, 0, (a, x) -> a + x)
                 |  then shiftleft(1L, i) else 0L end)) as bigint)""".stripMargin)
            .as("h"))
        // materialization barrier, NOT an optimization nicety: the
        // self-join needs h on both sides and non-null join keys, and
        // CollapseProject + filter pushdown would otherwise inline the
        // full pixel transform into every element_at of the hash lambda
        // — re-hex-encoding the blob ~4096× per row (measured 39 s at
        // sf0.1; ~2 s with the 2-column, doc-count-sized checkpoint)
        .transform(localCheckpoint)
      val keyed = ah.select(col("doc_id"), col("h"),
          explode(expr("sequence(0, 1)")).as("b"))
        .withColumn("bk", expr("(h >> cast(b * 16 as int)) & 65535"))
      val cand = keyed.as("a").join(keyed.as("b"),
          col("a.b") === col("b.b") && col("a.bk") === col("b.bk") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          col("a.h").as("h1"), col("b.h").as("h2"))
        .distinct()
      cand
        .withColumn("hamming", expr("cast(bit_count(h1 ^ h2) as int)"))
        .filter(col("hamming") <= 1)
        .select("d1", "d2", "hamming")
        .orderBy("d1", "d2")
    },

    // ---- difference hash (dHash), the second standard perceptual-hash
    //      family: bit i set iff byte i+1 > byte i over a 33-byte
    //      window — a GRADIENT signature, robust where aHash's global
    //      mean washes out (uniform-brightness media). Output is the
    //      corpus collision profile: population-count histogram + the
    //      largest collision buckets — the dedup-planning view (bucket
    //      sizes bound the near-dup join's candidate count, exactly
    //      like LSH band-bucket audits). Per-row lambda arithmetic in
    //      codegen, one |histogram|-sized aggregate; no pair join here.
    QueryDef.checked(
      "q_media_dhash",
      """WITH px AS (
        |  SELECT doc_id, list_transform(range(33),
        |    i -> ascii(substring(text, CAST(i AS INT) + 1, 1))) AS p
        |  FROM documents WHERE length(text) >= 33
        |), dh AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(32), i ->
        |      CASE WHEN p[CAST(i AS INT) + 2] > p[CAST(i AS INT) + 1]
        |           THEN CAST(1 AS BIGINT) << CAST(i AS INT) ELSE 0 END))
        |      AS BIGINT) AS h
        |  FROM px
        |), coll AS (
        |  SELECT h, count(*) AS n FROM dh GROUP BY h
        |)
        |SELECT CAST(bit_count(h) AS INT) AS popcount,
        |  CAST(count(*) AS BIGINT) AS n_hashes,
        |  CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(max(n) AS BIGINT) AS max_bucket
        |FROM coll GROUP BY 1 ORDER BY popcount""".stripMargin) {
      (spark, dir) =>
      import org.apache.spark.sql.functions._
      val dh = attachMedia(Tables(spark, dir).documents).toDF()
        .filter(length(col("media")) >= 33)
        .select(col("doc_id"),
          expr("""transform(sequence(0, 32),
                 |  i -> cast(conv(substring(hex(media), i * 2 + 1, 2), 16, 10)
                 |       as int))""".stripMargin).as("p"))
        .select(col("doc_id"),
          expr("""cast(aggregate(sequence(0, 31), 0L, (acc, i) ->
                 |  acc + (case when element_at(p, i + 2) > element_at(p, i + 1)
                 |  then shiftleft(1L, i) else 0L end)) as bigint)""".stripMargin)
            .as("h"))
      dh.groupBy("h").agg(count(lit(1)).as("n"))
        .groupBy(expr("cast(bit_count(h) as int)").as("popcount"))
        .agg(count(lit(1)).as("n_hashes"),
          sum(col("n")).cast("long").as("n_docs"),
          max(col("n")).cast("long").as("max_bucket"))
        .orderBy("popcount")
    },

    // ---- audio activity segmentation (energy VAD): the `wav`-format
    //      blobs (doc_id % 3 = 2 under the attachMedia model), read as
    //      8-bit PCM — amplitude = byte − 32, frame = 16 samples, frame
    //      energy = Σ amplitude² — gated at a fixed threshold and merged
    //      into maximal speech runs by the per-doc gaps-and-islands
    //      scan. This is the audio twin of the aHash/dHash pixel ops:
    //      the decode from a real container is the documented codec stub
    //      boundary, the Spark-side byte plumbing, frame aggregation,
    //      and segment algebra are real and hash-checked (the oracle
    //      reads the same bytes from the ASCII text twin). Scale: frames
    //      group per (doc, frame) key, islands window per doc — nothing
    //      crosses documents until the final ordered output.
    QueryDef.checked(
      "q_audio_vad",
      """WITH ch AS (
        |  SELECT doc_id, CAST((u - 1) // 16 AS INT) AS f,
        |    (ascii(substring(text, CAST(u AS INT), 1)) - 32)
        |      * (ascii(substring(text, CAST(u AS INT), 1)) - 32) AS e2
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, (length(text) // 16) * 16 + 1)) AS u
        |        FROM documents WHERE doc_id % 3 = 2)
        |), fr AS (
        |  SELECT doc_id, f, CAST(sum(e2) AS BIGINT) AS energy
        |  FROM ch GROUP BY 1, 2
        |), sp AS (
        |  SELECT doc_id, f,
        |    f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS grp
        |  FROM fr WHERE energy > 75000
        |), seg AS (
        |  SELECT doc_id, count(*) AS seg_len FROM sp GROUP BY doc_id, grp
        |), per_doc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
        |    CAST(max(seg_len) AS BIGINT) AS max_seg,
        |    CAST(sum(seg_len) AS BIGINT) AS n_speech
        |  FROM seg GROUP BY doc_id
        |), nf AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames
        |  FROM fr GROUP BY doc_id
        |)
        |SELECT nf.doc_id, nf.n_frames,
        |  coalesce(p.n_speech, 0) AS n_speech,
        |  coalesce(p.n_segments, 0) AS n_segments,
        |  coalesce(p.max_seg, 0) AS max_seg
        |FROM nf LEFT JOIN per_doc p ON nf.doc_id = p.doc_id
        |ORDER BY nf.doc_id""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.functions._
      // bytes from the real BINARY media column (hex view, one byte per
      // 2-hex-char slice), frames by integer-division key — a plain
      // groupBy, no per-doc window until the bounded islands scan
      val fr = attachMedia(Tables(spark, dir).documents).toDF()
        .filter(col("doc_id") % 3 === 2)
        .select(col("doc_id"), hex(col("media")).as("hx"),
          expr("cast(n_bytes div 16 as int)").as("nf"))
        .select(col("doc_id"), col("hx"),
          explode(expr("sequence(1, nf * 16)")).as("u"))
        .select(col("doc_id"), expr("cast((u - 1) div 16 as int)").as("f"),
          expr("cast(conv(substring(hx, (u - 1) * 2 + 1, 2), 16, 10) as int)")
            .as("code"))
        .select(col("doc_id"), col("f"),
          ((col("code") - 32) * (col("code") - 32)).as("e2"))
        .groupBy("doc_id", "f")
        .agg(sum(col("e2")).cast("long").as("energy"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("f")
      val seg = fr.filter(col("energy") > 75000)
        .withColumn("grp", col("f") - row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(count(lit(1)).as("seg_len"))
      val perDoc = seg.groupBy("doc_id")
        .agg(count(lit(1)).as("n_segments"),
          max(col("seg_len")).cast("long").as("max_seg"),
          sum(col("seg_len")).cast("long").as("n_speech"))
      fr.groupBy("doc_id").agg(count(lit(1)).as("n_frames"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_frames"),
          coalesce(col("n_speech"), lit(0L)).as("n_speech"),
          coalesce(col("n_segments"), lit(0L)).as("n_segments"),
          coalesce(col("max_seg"), lit(0L)).as("max_seg"))
        .orderBy("doc_id")
    },

    // ---- ViT-style patch grid: the `png` blobs viewed as 16-px-wide
    //      8-bit images, cropped to the full 4-row bands of the first
    //      16 rows and cut into 4×4 patches — the patch-tokenization
    //      reshape every vision-transformer pipeline runs before
    //      embedding. Per-patch integer sums aggregate by (doc, patch)
    //      key (a plain groupBy — the reshape itself is row-local, no
    //      shuffle until the patch aggregate); the brightest patch is
    //      an exact integer argmax (enc = sum·16 + (15 − patch), ties
    //      to the lowest patch index), and total_sum audits the tiling:
    //      it must equal the sum over all cropped bytes. The decode
    //      from a real container is the documented codec stub boundary;
    //      the 2-D block algebra, batch shape, and argmax contract are
    //      real and hash-checked against the ASCII text twin.
    QueryDef.checked(
      "q_patch_grid",
      """WITH lim AS (
        |  SELECT doc_id, text,
        |    ((least(CAST(length(text) AS INT), 256) // 16) // 4) * 64 AS lim
        |  FROM documents WHERE doc_id % 3 = 0
        |), b AS (
        |  SELECT doc_id, CAST(u AS INT) AS u,
        |    ascii(substring(text, CAST(u AS INT), 1)) AS v
        |  FROM (SELECT doc_id, text, unnest(range(1, lim + 1)) AS u
        |        FROM lim WHERE lim > 0)
        |), patches AS (
        |  SELECT doc_id,
        |    (((u - 1) // 16) // 4) * 4 + (((u - 1) % 16) // 4) AS p,
        |    CAST(sum(v) AS BIGINT) AS psum
        |  FROM b GROUP BY 1, 2
        |)
        |SELECT doc_id, count(*) AS n_patches,
        |  CAST(sum(psum) AS BIGINT) AS total_sum,
        |  CAST(max(psum * 16 + (15 - p)) // 16 AS BIGINT) AS max_patch_sum,
        |  CAST((15 - max(psum * 16 + (15 - p)) % 16) // 4 AS BIGINT) AS max_pr,
        |  CAST((15 - max(psum * 16 + (15 - p)) % 16) % 4 AS BIGINT) AS max_pc
        |FROM patches GROUP BY doc_id ORDER BY doc_id""".stripMargin) {
      (spark, dir) =>
      val patches = attachMedia(Tables(spark, dir).documents).toDF()
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), hex(col("media")).as("hx"),
          expr("((least(cast(n_bytes as int), 256) div 16) div 4) * 64")
            .as("lim"))
        .filter(col("lim") > 0)
        .select(col("doc_id"), col("hx"),
          explode(expr("sequence(1, lim)")).as("u"))
        .select(col("doc_id"),
          expr("(((u - 1) div 16) div 4) * 4 + (((u - 1) % 16) div 4)")
            .as("p"),
          expr("cast(conv(substring(hx, (u - 1) * 2 + 1, 2), 16, 10) as int)")
            .as("v"))
        .groupBy("doc_id", "p")
        .agg(sum(col("v")).cast("long").as("psum"))
      patches.groupBy("doc_id")
        .agg(count(lit(1)).as("n_patches"),
          sum(col("psum")).cast("long").as("total_sum"),
          max(col("psum") * 16 + (lit(15) - col("p"))).as("enc"))
        .select(col("doc_id"), col("n_patches"),
          col("total_sum"),
          expr("enc div 16").as("max_patch_sum"),
          expr("(15 - enc % 16) div 4").as("max_pr"),
          expr("(15 - enc % 16) % 4").as("max_pc"))
        .orderBy("doc_id")
    }
  )
}
