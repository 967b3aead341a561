package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with a typed metadata struct, and per-record feature
  * extraction runs as a partition-local typed transform.
  *
  * The actual codec decode is STUBBED (this container ships no
  * image/audio libraries): [[FeatureExtractor.decodeStub]] derives a
  * deterministic fake "decoded frame" from the payload bytes. Everything
  * around the stub — schema, Dataset encoders, `mapPartitions` batching,
  * partition sizing — is the real production plumbing: swap
  * `decodeStub` for a JNI/codec call and nothing else changes.
  *
  * Scale design: feature extraction is a narrow per-partition pass (no
  * shuffle); payloads stay off the driver; the per-partition decoder is
  * allocated once per partition (the expensive-init pattern for codec
  * contexts); downstream grouping happens on the small extracted
  * features, never on the raw bytes.
  */
object MediaPipeline {

  /** One media record: opaque payload + typed metadata. */
  case class MediaRecord(
      media_id: Long,
      modality: String, // image | audio | video
      payload: Array[Byte],
      source: String,
      declared_chars: Long)

  /** Extracted features — small, groupable, payload-free. */
  case class MediaFeatures(
      media_id: Long,
      modality: String,
      source: String,
      n_bytes: Int,
      width: Int,
      height: Int,
      duration_ms: Long,
      byte_entropy: Double,
      payload_sha: String)

  object FeatureExtractor extends Serializable {

    /** STUB decode: deterministic pseudo-dimensions derived from the
      * payload's sha-256 (first 48 bits), so the stub is exactly
      * reproducible in ANSI-ish SQL for the correctness oracle. A real
      * build replaces this body with the codec call; the signature
      * (bytes → (w, h, durationMs)) is the real contract. */
    def decodeStub(modality: String, payload: Array[Byte]): (Int, Int, Long) = {
      val h0 = java.lang.Long.parseLong(sha256Hex(payload).substring(0, 12), 16)
      val w = 64 + (h0 % 1024).toInt
      val h = 64 + ((h0 >> 10) % 1024).toInt
      val dur = if (modality == "image") 0L else 1000L + (h0 >> 20) % 60000L
      (w, h, dur)
    }

    /** Shannon entropy of the byte histogram, bits per byte. */
    def byteEntropy(payload: Array[Byte]): Double = {
      if (payload.isEmpty) return 0.0
      val counts = new Array[Long](256)
      payload.foreach(b => counts(b & 0xff) += 1)
      val n = payload.length.toDouble
      counts.foldLeft(0.0) { (acc, c) =>
        if (c == 0) acc
        else {
          val p = c / n
          acc - p * (math.log(p) / math.log(2))
        }
      }
    }

    def sha256Hex(payload: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(payload).map("%02x".format(_)).mkString

    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

    /** 64-bit aHash (average hash — the classic perceptual-hash
      * family's simplest member, public knowledge) over the
      * (stub-)decoded byte stream, returned as FOUR 16-bit band values
      * — the Hamming-space LSH blocking form (two media within r
      * differing bits agree on at least one of 4 bands whenever
      * r < 4, and probabilistically far beyond): byte j belongs to
      * block `j * 64 / n`, and bit i is set iff block i's mean
      * EXCEEDS the whole-stream mean — compared EXACTLY in integers
      * (`block_sum * n > total_sum * block_len`), so the hash is
      * bit-reproducible in ANSI SQL with no float in sight. An empty
      * block (n < 64) and an empty payload hash to 0 bits. A real
      * build swaps the byte stream for decoded luma pixels (the
      * pHash/aHash production form); everything downstream — banding,
      * guard, Hamming verify — is byte-vs-pixel agnostic.
      *
      * ENFORCED scan window (r17 verdict item): only the first
      * [[MaxHashBytes]] bytes are hashed. The exact integer compare
      * multiplies `block_sum * n` (≤ 255·n·(n/64+1)), which wraps
      * Long past n ≈ 2^30.5 — inside the reachable JVM-array range,
      * so real video containers would silently wrap; the cap keeps
      * every product exactly representable (255·2^27·(2^21+1) ≪ 2^63
      * with margin) AND bounds the per-record hash cost — the
      * production remedy for large containers is hashing a decoded/
      * sampled frame, not more container bytes (see [[sampleFrames]]).
      * The m3 oracle SQL hashes all bytes; its fixtures are far below
      * the cap, so the two agree everywhere the oracle runs. */
    val MaxHashBytes: Int = 1 << 27
    def aHashBands(payload: Array[Byte]): Array[Int] =
      aHashBandsWindow(payload, MaxHashBytes)

    /** [[aHashBands]] with an explicit scan window — package-visible so
      * the boundary spec can pin the cap semantics (hash of an
      * over-window payload == hash of its window prefix) without
      * allocating a 128 MiB fixture. */
    private[graft] def aHashBandsWindow(payload: Array[Byte],
        window: Int): Array[Int] = {
      val n = math.min(payload.length, window)
      val bs = new Array[Long](64)
      val bl = new Array[Long](64)
      var ts = 0L
      var j = 0
      while (j < n) {
        val v = payload(j) & 0xff
        val b = (j.toLong * 64 / n).toInt
        bs(b) += v; bl(b) += 1; ts += v
        j += 1
      }
      val bands = new Array[Int](4)
      var i = 0
      while (i < 64) {
        if (bs(i) * n > ts * bl(i)) bands(i / 16) |= 1 << (i % 16)
        i += 1
      }
      bands
    }

    def extract(r: MediaRecord): MediaFeatures = {
      val (w, h, dur) = decodeStub(r.modality, r.payload)
      MediaFeatures(r.media_id, r.modality, r.source, r.payload.length,
        w, h, dur, byteEntropy(r.payload), sha256Hex(r.payload))
    }
  }

  /** Synthesizes a media table from `documents` (text bytes standing in
    * for codec payloads) — deterministic, so specs and demos are
    * reproducible. modality cycles by doc_id. */
  def syntheticMedia(spark: SparkSession, sfDir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("modality"),
        encode(col("text"), "UTF-8").as("payload"),
        col("source"),
        col("n_chars").cast("long").as("declared_chars"))
      .as[MediaRecord]
  }

  /** One media record's perceptual hash as four 16-bit bands (see
    * [[FeatureExtractor.aHashBands]]) — small, joinable, payload-free. */
  case class MediaHash(media_id: Long, b0: Int, b1: Int, b2: Int, b3: Int)

  /** One SAMPLED frame of a media record — the unit a multimodal
    * training pipeline actually trains on (a video contributes frames,
    * not bytes). Small, groupable, payload-free. */
  case class MediaFrame(
      media_id: Long,
      modality: String,
      frame_idx: Int,
      frame_ts_ms: Long,
      frame_sha: String,
      luma_mean: Int)

  /** Deterministic uniform frame-sampling plan: a still image is its
    * own single frame; audio/video sample one frame per started 10 s
    * of (stub-)decoded duration, capped at [[MaxFrames]] — the
    * standard budget-capped uniform sampler (WebVid/HowTo100M-style
    * preprocessing), in pure integer arithmetic so the plan is
    * reproducible in ANSI SQL. Frame i of n sits at
    * `(i * duration_ms) / n` (integer division). */
  val MaxFrames = 8
  def framePlan(modality: String, durationMs: Long): Int =
    if (modality == "image" || durationMs <= 0L) 1
    else math.min(MaxFrames.toLong, 1L + durationMs / 10000L).toInt

  /** The frame-sampling pass: partition-local flatMap (one decoder
    * init per partition; a real build seeks the codec to each sampled
    * timestamp — the stub derives the frame's pixels from the payload
    * sha + frame index, so every per-frame feature is reproducible in
    * SQL). Payloads never leave the scan; only ~[[MaxFrames]] small
    * frame rows per record shuffle. */
  def sampleFrames(media: Dataset[MediaRecord]): Dataset[MediaFrame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition decoder/codec context init would go here
      val ex = FeatureExtractor
      it.flatMap { r =>
        val (_, _, dur) = ex.decodeStub(r.modality, r.payload)
        val sha = ex.sha256Hex(r.payload)
        val n = framePlan(r.modality, dur)
        (0 until n).iterator.map { i =>
          // stub "decoded frame": md5 of sha:idx stands in for the
          // frame's pixel content (deterministic, SQL-mirrorable)
          val fsha = ex.md5Hex(s"$sha:$i")
          MediaFrame(r.media_id, r.modality, i,
            i.toLong * dur / n, fsha,
            (java.lang.Long.parseLong(fsha.substring(0, 4), 16) % 256).toInt)
        }
      }
    }
  }

  /** One sampled frame's perceptual hash as four 16-bit bands plus the
    * container's frame count — small, joinable, payload-free (the
    * frame-level near-dup unit; see [[frameHashes]]). */
  case class FrameHash(
      media_id: Long,
      frame_idx: Int,
      n_frames: Int,
      f0: Int, f1: Int, f2: Int, f3: Int)

  /** Frame-UID packing width: `uid = media_id * FrameUidStride +
    * frame_idx`, invertible by `uid >> 3` because [[MaxFrames]] = 8 —
    * so frame uids order like (media_id, frame_idx) and the guard's
    * `a < b` pair convention implies `media(a) <= media(b)`. Requires
    * media ids below 2^60 (any realistic id space). */
  val FrameUidStride = 8L
  // the packing is only invertible while frame_idx < FrameUidStride;
  // raising MaxFrames without widening the stride (and the hardcoded
  // `>> 3` / `// 8` in the m5 rollup + oracle) would silently collide
  // uids across containers (review finding)
  require(MaxFrames <= FrameUidStride,
    s"frame-uid packing requires MaxFrames ($MaxFrames) <= " +
      s"FrameUidStride ($FrameUidStride)")

  /** THE frame uid column of a [[FrameHash]] frame (the packing above). */
  def frameUid: org.apache.spark.sql.Column =
    col("media_id") * lit(FrameUidStride) + col("frame_idx")

  /** The FRAME-hash pass — m5's per-frame unit, composing the m4 frame
    * plan with the m3 aHash family: frame i of a container is its i-th
    * TEMPORAL SLICE of the (stub-)decoded stream (byte j belongs to
    * frame `j * n / L`, the same uniform integer partition rule the
    * aHash uses for its blocks), hashed with
    * [[FeatureExtractor.aHashBands]]. A real build hashes the decoded
    * pixels of the frame sampled at that timestamp (the m4 seek); the
    * byte-slice stub preserves STREAM LOCALITY — a trimmed or
    * re-encoded container shares most of its slices — which is exactly
    * the property frame-level video dedup keys on, and it is
    * reproducible in ANSI SQL end to end.
    *
    * The hashed frame count is `max(1, min(framePlan, L))` — a frame
    * needs at least one byte of stream, so tiny containers hash fewer
    * frames than the time-based plan (and an empty payload hashes one
    * all-zero frame). Partition-local like every media pass: payloads
    * never shuffle, only (id, 4x16-bit, counts) rows leave the scan. */
  def frameHashes(media: Dataset[MediaRecord]): Dataset[FrameHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition decoder/codec context init would go here
      val ex = FeatureExtractor
      it.flatMap { r =>
        val l = r.payload.length
        val (_, _, dur) = ex.decodeStub(r.modality, r.payload)
        val nf = math.max(1, math.min(framePlan(r.modality, dur), l))
        // slice f = [ceil(f*L/nf), ceil((f+1)*L/nf)) — the start/end
        // form of the membership rule frame(j) = j*nf DIV L
        def start(f: Int): Int = ((f.toLong * l + nf - 1) / nf).toInt
        (0 until nf).iterator.map { f =>
          val b = ex.aHashBands(
            java.util.Arrays.copyOfRange(r.payload, start(f), start(f + 1)))
          FrameHash(r.media_id, f, nf, b(0), b(1), b(2), b(3))
        }
      }
    }
  }

  /** The perceptual-hash pass: partition-local like [[extractFeatures]]
    * (payloads never shuffle; only the 4x16-bit hash leaves the scan). */
  def perceptualHash(media: Dataset[MediaRecord]): Dataset[MediaHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val b = FeatureExtractor.aHashBands(r.payload)
        MediaHash(r.media_id, b(0), b(1), b(2), b(3))
      }
    }
  }

  /** One admission record per media: modality, payload byte length,
    * and the perceptual-hash bands — everything the m9 funnel's
    * quality + dedup + decontamination stages need, from a SINGLE
    * partition-local pass (review finding: q9's first cut ran two
    * separate syntheticMedia scans, re-encoding the corpus twice and
    * holding two caches). Payload-free and small, like
    * [[MediaHash]]. */
  case class MediaAdmission(media_id: Long, modality: String, len: Int,
      b0: Int, b1: Int, b2: Int, b3: Int)

  /** The one-scan admission pass behind m9 (see [[MediaAdmission]]):
    * partition-local, payloads never shuffle. */
  def admissionPass(media: Dataset[MediaRecord]): Dataset[MediaAdmission] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val b = FeatureExtractor.aHashBands(r.payload)
        MediaAdmission(r.media_id, r.modality, r.payload.length,
          b(0), b(1), b(2), b(3))
      }
    }
  }

  /** The feature-extraction pass: partition-local, decoder allocated
    * once per partition, no shuffle. */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition decoder init would go here (codec context, model…)
      val extractor = FeatureExtractor
      it.map(extractor.extract)
    }
  }

  /** Modality-level rollup over extracted features — the post-decode
    * aggregate a curation pipeline feeds from. */
  def modalityReport(features: Dataset[MediaFeatures]): DataFrame =
    features.groupBy("modality")
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        round(avg(col("byte_entropy")), 6).as("avg_entropy"),
        round(avg(col("width")), 6).as("avg_width"),
        countDistinct(col("payload_sha")).as("n_distinct_payloads"))
      .orderBy("modality")
}
