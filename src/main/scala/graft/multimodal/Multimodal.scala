package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for training-data pipelines: media
  * payloads travel as opaque `binary` columns with typed metadata
  * structs; decode / feature-extract / resize / frame-sample run as
  * partition-batched functions over the binary column.
  *
  * Decoding is layered: payloads in the formats a bare JVM can parse
  * exactly — uncompressed 24-bpp BMP and binary PPM images
  * (`ImageCodec`) and 16-bit PCM RIFF/WAVE audio (`AudioCodec`) — go
  * through REAL decoders (bytes → samples/pixels → exact
  * integer-derived features); everything else (compressed codecs
  * absent from this container, unrecognized bytes) falls back
  * to `decodeStub`, a deterministic md5-seeded fake that preserves
  * the schema/batching contract. Swapping in a full codec library
  * widens the real branch only — the Spark-side shape (mapPartitions
  * over executor-side iterators, one codec init per partition,
  * size-balanced tasks) is identical for both branches.
  *
  * Scale notes:
  *  - payloads never hit the driver; decode is mapPartitions over the
  *    executor-side iterator (one codec init per partition, amortized
  *    like a Pandas-UDF batch).
  *  - `balanceBySize` repartitions by payload-size range so a few
  *    huge videos don't serialize one task (skew guard).
  */
object Multimodal {

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),   // image/video
    StructField("height", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true), // audio
    StructField("features", ArrayType(DoubleType), nullable = true)
  ))

  /** Demo/test media frame derived from the documents table: payload =
    * utf-8 text bytes, kind round-robins image/audio/video. */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"),
      struct(col("source").as("source"), col("n_chars").cast("long").as("declared_bytes")).as("meta")
    )

  /** Deterministic fake decode of one payload: md5-seeded dims and an
    * 8-dim feature vector — the fallback for media `ImageCodec`
    * cannot parse (audio/video, non-BMP/PPM images). */
  private[multimodal] def decodeStub(kind: String, payload: Array[Byte]): (Int, Int, Int, Array[Double]) = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(payload)
    def u(i: Int): Int = d(i) & 0xff
    val width = 64 + (u(0) << 4)         // fake: 64..4144
    val height = 64 + (u(1) << 4)
    val sampleRate = Seq(8000, 16000, 22050, 44100)(u(2) % 4)
    val features = Array.tabulate(8)(i => u(i + 3) / 255.0)
    (width, height, sampleRate, features)
  }

  /** Partition-batched decode + feature extraction over the binary
    * column (the Scala analogue of mapInPandas: one iterator pass per
    * partition, codec state initialized once per partition). */
  def decodeFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val enc = Encoders.row(featureSchema)
    media.select(col("media_id"), col("kind"), col("payload"))
      .mapPartitions { rows =>
        // per-partition init happens here (real codecs would open once)
        rows.map { r =>
          val id = r.getLong(0)
          val kind = r.getString(1)
          val payload = if (r.isNullAt(2)) Array.empty[Byte] else r.getAs[Array[Byte]](2)
          // real decode first (BMP/PPM images, PCM WAV audio), stub fallback
          val realImg = if (kind == "image") ImageCodec.decode(payload) else None
          val realAud = if (kind == "audio") AudioCodec.decode(payload) else None
          (realImg, realAud) match {
            case (Some(d), _) =>
              Row(id, kind, payload.length.toLong,
                Integer.valueOf(d.width), Integer.valueOf(d.height),
                null, d.features.toSeq)
            case (_, Some(a)) =>
              Row(id, kind, payload.length.toLong,
                null, null, Integer.valueOf(a.sampleRate), a.features.toSeq)
            case _ =>
              val (w, h, sr, feats) = decodeStub(kind, payload)
              Row(id, kind, payload.length.toLong,
                if (kind == "audio") null else Integer.valueOf(w),
                if (kind == "audio") null else Integer.valueOf(h),
                if (kind == "audio") Integer.valueOf(sr) else null,
                feats.toSeq)
          }
        }
      }(enc)
  }

  private val frameSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("n", IntegerType, nullable = false),
    StructField("energy", LongType, nullable = false),
    StructField("sum_abs", LongType, nullable = false),
    StructField("peak", IntegerType, nullable = false),
    StructField("trough", IntegerType, nullable = false),
    StructField("crossings", LongType, nullable = false)))

  /** Frame-level audio analysis: non-overlapping fixed windows of
    * `frameLen` samples over the interleaved PCM stream, one output
    * row per COMPLETE frame (the ragged tail is dropped — stated,
    * not silent: partial-frame stats are not comparable across
    * rows). Per frame, all-integer measurements — energy Σs²,
    * Σ|s|, peak/trough, and sign crossings BETWEEN samples of the
    * same frame (boundary pairs belong to neither frame) — the
    * silence/VAD/clipping primitives an audio curation pipeline
    * windows over, exact in any engine.
    *
    * Only genuinely decodable payloads (16-bit PCM WAV) produce
    * frames; the md5 stub has no sample stream to window, and a
    * fake frame row would poison downstream thresholds. Same scale
    * contract as `decodeFeatures`: mapPartitions over executor-side
    * iterators, payloads never hit the driver, output rows ∝ audio
    * duration / frameLen. */
  def audioFrames(media: DataFrame, frameLen: Int): DataFrame = {
    require(frameLen >= 1, s"frameLen must be >= 1, got $frameLen")
    val enc = Encoders.row(frameSchema)
    media.select(col("media_id"), col("kind"), col("payload"))
      .where(col("kind") === "audio")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val payload = if (r.isNullAt(2)) Array.empty[Byte] else r.getAs[Array[Byte]](2)
          AudioCodec.samples(payload) match {
            case None => Iterator.empty
            case Some((_, _, s)) =>
              (0 until s.length / frameLen).iterator.map { f =>
                val start = f * frameLen
                var energy = 0L; var sabs = 0L; var z = 0L
                var peak = Int.MinValue; var trough = Int.MaxValue
                var prevNonNeg = false
                var i = start
                while (i < start + frameLen) {
                  val v = s(i)
                  energy += v.toLong * v; sabs += math.abs(v)
                  if (v > peak) peak = v
                  if (v < trough) trough = v
                  val nonNeg = v >= 0
                  if (i > start && nonNeg != prevNonNeg) z += 1
                  prevNonNeg = nonNeg
                  i += 1
                }
                Row(id, f, frameLen, energy, sabs, peak, trough, z)
              }
          }
        }
      }(enc)
  }

  /** Energy-threshold voice-activity segments over [[audioFrames]]
    * output — the speech-curation step between raw audio and an ASR
    * pipeline ("keep the voiced spans, drop the silence"): frames at
    * or above `energyThreshold` are voiced; maximal runs of
    * consecutive voiced frame indices merge into segments (the
    * interval-islands pattern from ops.Intervals, per media id).
    *
    * Exact integers end to end — frame energies are exact sums of
    * squares, the threshold is integral, islands are rank arithmetic
    * — so segmentation replays in any engine. Scale: one window +
    * one aggregate keyed by media_id; partitions are per-recording
    * frame counts, never the corpus. Output: (media_id, seg,
    * start_frame, end_frame, n_frames, sum_energy). */
  def vadSegments(frames: DataFrame, energyThreshold: Long): DataFrame = {
    require(energyThreshold >= 0, s"energyThreshold must be >= 0, got $energyThreshold")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("media_id")).orderBy(col("frame_idx"))
    frames.where(col("energy") >= energyThreshold)
      .withColumn("__prev", lag(col("frame_idx"), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull || col("frame_idx") - col("__prev") > 1, 1L).otherwise(0L))
      .withColumn("seg", sum(col("__new")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("media_id"), col("seg"))
      .agg(min(col("frame_idx")).as("start_frame"), max(col("frame_idx")).as("end_frame"),
        count(lit(1)).as("n_frames"), sum(col("energy")).as("sum_energy"))
  }

  private val dhashSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("dhash", LongType, nullable = false)))

  /** Perceptual hashes for image near-dup detection: one 63-bit
    * dHash per genuinely decodable image (BMP/PPM here; a full codec
    * library widens the branch, the plumbing is identical). Exact
    * integer sampling — see [[ImageCodec.dHash]] — so the hash is a
    * deterministic function of the pixels in any engine. Downstream:
    * exact-duplicate groups are a groupBy(dhash); Hamming-tolerant
    * near-dups ride the same banding machinery the text SimHash
    * uses (split the 64 bits into bands, join on (band, sub-key),
    * verify xor-popcount). Undecodable payloads produce NO row —
    * an md5-derived fake hash would poison duplicate groups. Same
    * scale contract as `decodeFeatures`: mapPartitions, payloads
    * never leave the executor. */
  def imageDHash(media: DataFrame, gridW: Int = 9, gridH: Int = 7): DataFrame = {
    val enc = Encoders.row(dhashSchema)
    media.select(col("media_id"), col("kind"), col("payload"))
      .where(col("kind") === "image")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val payload = if (r.isNullAt(2)) Array.empty[Byte] else r.getAs[Array[Byte]](2)
          ImageCodec.pixels(payload) match {
            case None => Iterator.empty
            case Some((w, h, rgb)) =>
              Iterator.single(Row(id, w, h, ImageCodec.dHash(w, h, rgb, gridW, gridH)))
          }
        }
      }(enc)
  }

  /** Image near-duplicate pairs via banded dHash — the multimodal
    * twin of the text SimHash pipeline: 63-bit perceptual hashes
    * split into 4 bands (16+16+16+15 bits), candidates share at
    * least one exact band, verification is popcount(xor) ≤
    * `maxHamming`. By pigeonhole, any pair within Hamming
    * `bands − 1 = 3` has a clean band — recall is STRUCTURAL up to
    * that radius, so the bound is enforced loudly rather than
    * silently degrading (wider radii need more bands / multi-probe).
    * Candidates carry only (id, hash) longs through the band join;
    * the verify is one integer xor+popcount, never a pixel
    * comparison. Returns (a_id, b_id, hamming). */
  def imageNearDupPairs(media: DataFrame, maxHamming: Int,
                        gridW: Int = 9, gridH: Int = 7): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3] — 4 bands guarantee recall only to Hamming 3 " +
        s"(got $maxHamming; wider radii need a larger band family)")
    // materialize the decode spine ONCE (r15, guide §8 "decide with
    // small rows"): the band self-join otherwise executes the whole
    // decode subtree (payload generation + mapPartitions pixel decode,
    // opaque to the optimizer) once PER SIDE, and the multi-band plan
    // re-optimizes per exchange — measured as 5 driver-gapped jobs at
    // sf0.1. The spine is (media_id, dhash): two longs per image at
    // any scale, the canonical lightweight proxy of the heavy payload.
    val hashed = graft.ops.Checkpoints.truncate(
      imageDHash(media, gridW, gridH).select(col("media_id"), col("dhash")))
    val bands = Seq((0, 16), (16, 16), (32, 16), (48, 15))
    val sig = hashed.select(col("media_id"), col("dhash"),
      posexplode(array(bands.map { case (off, w) =>
        shiftright(col("dhash"), off).bitwiseAND(lit((1L << w) - 1))
      }: _*)).as(Seq("band", "bval")))
    val cand = sig.as("x").join(sig.as("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("a_id"), col("x.dhash").as("a_hash"),
        col("y.media_id").as("b_id"), col("y.dhash").as("b_hash"))
      .distinct()
    cand.select(col("a_id"), col("b_id"),
        bit_count(col("a_hash").bitwiseXOR(col("b_hash"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Deterministic "resize": marks the target dims in metadata and
    * truncates the payload proportionally (stub for a real resampler). */
  def resizeStub(features: DataFrame, targetW: Int, targetH: Int): DataFrame =
    features
      .withColumn("target_width", lit(targetW))
      .withColumn("target_height", lit(targetH))
      .withColumn("scale",
        when(col("width").isNotNull,
          least(lit(targetW).cast("double") / col("width"), lit(targetH).cast("double") / col("height"))))

  /** Frame sampling for video payloads: emits every k-th fake frame
    * index with a deterministic per-frame hash — the explode shape a
    * real frame sampler produces. */
  def frameSampleStub(media: DataFrame, everyK: Int, maxFrames: Int): DataFrame =
    media.where(col("kind") === "video")
      .withColumn("n_frames", (length(col("payload")) % 240 + 16).cast("int"))
      .select(
        col("media_id"),
        posexplode(transform(
          sequence(lit(0), least(floor((col("n_frames") - 1) / everyK).cast("int"), lit(maxFrames - 1))),
          i => md5(concat(col("payload").cast("string"), lit(":"), (i * everyK).cast("string")))))
          .as(Seq("frame_idx", "frame_hash"))
      )
      .withColumn("frame_idx", (col("frame_idx") * everyK).cast("int"))

  /** Skew guard: range-partition by payload size so large payloads
    * spread across tasks instead of hashing into one hot partition. */
  def balanceBySize(media: DataFrame, partitions: Int): DataFrame =
    media.withColumn("__sz", length(col("payload")))
      .repartitionByRange(partitions, col("__sz"), col("media_id"))
      .drop("__sz")
}
