package graft.queries

import graft.multimodal.MediaPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column queries. m1 verifies the binary-column plumbing
  * (payload bytes, content hash, modality typing) against the SQL
  * oracle; m2 runs the full typed `mapPartitions` feature-extraction
  * pass (stubbed decode — see [[graft.multimodal.MediaPipeline]]),
  * checked by the rows-only gate + specs since the stub decode is not
  * SQL-expressible.
  */
object Multimodal extends QueryGroup {

  private val q1 = QueryDef(
    "m1_media_manifest",
    (s, dir) => {
      val media = MediaPipeline.syntheticMedia(s, dir).toDF()
      media.select(
          col("media_id"), col("modality"),
          length(col("payload")).as("n_bytes"),
          sha2(col("payload"), 256).as("payload_sha"))
        .orderBy("media_id")
        .limit(200)
    },
    Some("""
      SELECT doc_id AS media_id,
             (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS modality,
             octet_length(encode(text)) AS n_bytes,
             sha256(text) AS payload_sha
      FROM documents
      ORDER BY media_id
      LIMIT 200"""))

  /** Full typed `mapPartitions` feature-extraction pass. The decode stub
    * derives dimensions from the payload sha-256 and the entropy fold
    * iterates the byte histogram in ascending byte order, so every
    * feature is reproducible in DuckDB SQL — the whole JVM pipeline
    * (encoders, partition-local extractor, batching) is hash-checked
    * end-to-end, not just rows-counted. */
  private val q2 = QueryDef(
    "m2_media_features",
    (s, dir) => {
      val feats = MediaPipeline.extractFeatures(MediaPipeline.syntheticMedia(s, dir))
      feats.toDF()
        .select(col("media_id"), col("modality"), col("n_bytes"),
          col("width"), col("height"), col("duration_ms"),
          round(col("byte_entropy"), 6).as("entropy"),
          col("payload_sha"))
        .orderBy("media_id")
        .limit(300)
    },
    Some("""
      WITH m AS (
        SELECT doc_id AS media_id,
               (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS modality,
               encode(text) AS payload,
               sha256(text) AS sha,
               octet_length(encode(text)) AS n_bytes
        FROM documents),
      h AS (SELECT *, ('0x' || substr(sha, 1, 12))::BIGINT AS h0 FROM m),
      bytes AS (
        SELECT media_id, n_bytes,
               ('0x' || substr(hex(payload), 2 * i + 1, 2))::INT AS byte
        FROM h, unnest(range(0, n_bytes)) AS t(i)),
      counts AS (SELECT media_id, n_bytes, byte, COUNT(*) AS c FROM bytes GROUP BY 1, 2, 3),
      ent AS (
        SELECT media_id,
               SUM(-((CAST(c AS DOUBLE) / n_bytes)
                     * (ln(CAST(c AS DOUBLE) / n_bytes) / ln(2))) ORDER BY byte) AS entropy
        FROM counts GROUP BY 1)
      SELECT h.media_id, h.modality, h.n_bytes,
             64 + h0 % 1024 AS width,
             64 + (h0 // 1024) % 1024 AS height,
             CASE WHEN h.modality = 'image' THEN 0
                  ELSE 1000 + (h0 // 1048576) % 60000 END AS duration_ms,
             ROUND(COALESCE(ent.entropy, 0.0), 6) AS entropy,
             h.sha AS payload_sha
      FROM h LEFT JOIN ent ON h.media_id = ent.media_id
      ORDER BY h.media_id
      LIMIT 300"""))

  /** Hot-key threshold of the m3 perceptual-hash guard — the d12
    * fixture discipline on the MEDIA key family (the probe numbers
    * live in scripts/probe_phash.py's output, the pl11 convention):
    * occupancy tops out at 4/4/19 per band key at sf0.001/0.01/0.1,
    * and H = 4 is the smallest threshold where the saturated leg is
    * non-vacuous at every scale (4/4/1498 flagged media). Production
    * thresholds route through the SHARED conf-gated resolver exactly
    * like d12/d13 (`graft.dedup.hotThreshold=fixture|auto|<int>`). */
  private[graft] val PhashHotKeys = 4L

  /** Hamming verification bar of the m3 pair verify: <= 12 of 64 bits.
    * Probed (scripts/probe_phash.py): the smallest bar where the
    * verified leg is non-vacuous at ALL three scales (2/1/104 pairs) —
    * byte-stream aHashes of near-dup TEXT payloads sit farther apart
    * than decoded-frame pHashes of near-dup images, so the fixture bar
    * is looser than the classic <= 10; the semantics are
    * bar-independent (the d11 argument). */
  private[graft] val PhashHamMax = 12

  /** The band-striped key ARRAY over `b0..b3` columns — the single
    * expression behind [[phashKeys]] (batch + maintained index) and
    * the streaming media twin, so no surface can key differently. */
  private[graft] def phashKeyArray: org.apache.spark.sql.Column =
    array((0 to 3).map(b =>
      lit(b * 65536L) + col(s"b$b").cast("long")): _*)

  /** The ONE band-key encoding of the m3 guard (band index striped
    * into the high bits, the 16 hash bits low) — the threshold
    * derivation and the guard must key identically, so there is
    * exactly one construction (review finding: a drifted copy would
    * derive H on a different key family than the guard filters). */
  private[graft] def phashKeys(hashes: DataFrame): DataFrame =
    hashes.select(col("media_id").as("id"),
      explode(phashKeyArray).as("key"))

  /** The ONE 64-bit band-wise Hamming-within test (sum of per-band
    * xor popcounts <= bar) every media verify runs — the m3/m5/m6
    * batch verifies and the streaming decontam screen — so no surface
    * can verify with drifted arithmetic (the phashKeyArray
    * discipline). Operands are the four 16-bit band columns named
    * `<px>0..<px>3` vs `<py>0..<py>3`. */
  private[graft] def hammingWithin(px: String, py: String,
      bar: Int): org.apache.spark.sql.Column =
    (0 to 3).map(i =>
      bit_count(col(s"$px$i").bitwiseXOR(col(s"$py$i"))))
      .reduce(_ + _) <= bar

  /** The ONE guarded verified-pair core over a `(media_id, b0..b3)`
    * hash frame — (saturated ids, exact-Hamming-verified cross pairs)
    * shared by [[phashRollup]] (m3), m8's CC edge list, and m9's
    * funnel near-dup stage (review finding: three hand-maintained
    * copies of the side/join/verify block could drift; the
    * hammingWithin discipline at pair granularity). */
  private[graft] def verifiedPhashPairs(hashes: DataFrame,
      hotThreshold: Long): (DataFrame, DataFrame) = {
    import graft.functions.DedupEnrich
    val (sat, pairs) =
      DedupEnrich.guardedCandidatePairs(phashKeys(hashes), hotThreshold)
    def side(as: String, px: String) = hashes.select(
      col("media_id").as(as), col("b0").as(s"${px}0"),
      col("b1").as(s"${px}1"), col("b2").as(s"${px}2"),
      col("b3").as(s"${px}3"))
    val ver = pairs
      .join(side("a", "x"), Seq("a"))
      .join(side("b", "y"), Seq("b"))
      .filter(hammingWithin("x", "y", PhashHamMax))
      .select("a", "b")
    (sat, ver)
  }

  /** The m3 guard composition over a `(media_id, b0..b3)` hash frame —
    * factored so DedupSurfacesSpec drives the SAME builder the
    * registered query runs (the guardedBatchRollup convention):
    * band-key explode → SHARED guard core → Hamming verify → SHARED
    * saturation rollup. */
  private[graft] def phashRollup(hashes: DataFrame, hotThreshold: Long)
      : DataFrame = {
    import graft.functions.DedupEnrich
    val (sat, ver) = verifiedPhashPairs(hashes, hotThreshold)
    DedupEnrich.saturationRollup(sat, ver, "media_id", "phash_saturated")
  }

  /** The ONE DuckDB mirror of the whole-media aHash pass (payload
    * bytes → 64 threshold bits → four 16-bit bands) — shared verbatim
    * by the q3, q6, and q8 oracles (the frameBandsSql one-source
    * discipline). Defines `bands` (media_id, band, bv) and `bw`
    * (media_id, b0..b3). */
  private def mediaBandsSql: String = s"""m AS (
        SELECT doc_id AS media_id, encode(text) AS payload,
               octet_length(encode(text)) AS n
        FROM documents),
      bytes AS (
        SELECT media_id, n,
               ('0x' || substr(hex(payload), 2 * i + 1, 2))::INT AS byte,
               CAST(i * 64 // n AS INT) AS blk
        FROM m, unnest(range(0, n)) AS t(i)
        WHERE n > 0),
      tot AS (SELECT media_id, SUM(byte) AS ts FROM bytes GROUP BY 1),
      blksums AS (
        SELECT media_id, blk, SUM(byte) AS bs, COUNT(*) AS bl
        FROM bytes GROUP BY 1, 2),
      blocks AS (
        SELECT m.media_id, m.n, CAST(j AS INT) AS blk
        FROM m, unnest(range(0, 64)) AS r(j)),
      bits AS (
        SELECT b.media_id, b.blk,
               CASE WHEN COALESCE(s.bs, 0) * b.n
                         > COALESCE(t.ts, 0) * COALESCE(s.bl, 0)
                    THEN 1 ELSE 0 END AS bit
        FROM blocks b
        LEFT JOIN blksums s USING (media_id, blk)
        LEFT JOIN tot t USING (media_id)),
      bands AS MATERIALIZED (
        SELECT media_id, CAST(blk // 16 AS INT) AS band,
               CAST(SUM(bit << (blk % 16)) AS INT) AS bv
        FROM bits GROUP BY 1, 2),
      bw AS (SELECT media_id,
               MAX(CASE WHEN band = 0 THEN bv END) AS b0,
               MAX(CASE WHEN band = 1 THEN bv END) AS b1,
               MAX(CASE WHEN band = 2 THEN bv END) AS b2,
               MAX(CASE WHEN band = 3 THEN bv END) AS b3
             FROM bands GROUP BY 1)"""

  /** m3 — perceptual-hash near-dup detection over the multimodal
    * column: the media-corpus counterpart of d12's guarded text dedup
    * (real multimodal curation dedups on perceptual hashes — pHash/
    * aHash, public knowledge — because exact byte hashes miss
    * re-encodes). The hash is [[MediaPipeline.FeatureExtractor
    * .aHashBands]] (64-bit aHash over the stub-decoded stream, four
    * 16-bit bands = Hamming-space LSH blocking); candidate generation
    * and saturation ride the SHARED [[DedupEnrich
    * .guardedCandidatePairs]] / [[DedupEnrich.saturationRollup]] guard
    * core — one guard implementation across the shingle-band, embedding
    * -bucket, and now MEDIA key families — and verification is the
    * exact 64-bit Hamming distance over the four bands (integer xor +
    * popcount in both engines; no float anywhere in the operator).
    *
    * Scale shape: payloads never leave the partition-local hash pass
    * (only 4x16-bit bands shuffle); the per-key counts aggregate
    * resolves the hot set BEFORE any pair join exists in the plan
    * (PlanSpec pins the semi/anti structure), so a degenerate hash
    * bucket — near-constant payloads, the media analogue of templated
    * text — flags instead of exploding O(h²). */
  private val q3 = QueryDef(
    "m3_phash_neardup",
    (s, dir) => {
      import graft.functions.DedupEnrich
      val hashes = MediaPipeline.perceptualHash(
        MediaPipeline.syntheticMedia(s, dir)).toDF().cache()
      phashRollup(hashes,
        DedupEnrich.hotThresholdFor(s, PhashHotKeys, phashKeys(hashes)))
        .orderBy("media_id")
    },
    Some(s"""
      WITH $mediaBandsSql,
      keys AS (SELECT media_id AS id,
                      CAST(band AS BIGINT) * 65536 + bv AS key
               FROM bands),
      counts AS (SELECT key, COUNT(DISTINCT id) AS cnt FROM keys GROUP BY key),
      hot AS (SELECT key FROM counts WHERE cnt >= $PhashHotKeys),
      sat AS (SELECT DISTINCT id FROM keys JOIN hot USING (key)),
      cold AS (SELECT id, key FROM keys
               WHERE key NOT IN (SELECT key FROM hot)),
      cand AS (
        SELECT DISTINCT a.id AS a, b.id AS b
        FROM cold a JOIN cold b ON a.key = b.key AND a.id < b.id),
      ver AS (
        SELECT a, b FROM cand
        JOIN bw x ON x.media_id = cand.a
        JOIN bw y ON y.media_id = cand.b
        WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
            + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
          <= $PhashHamMax),
      partners AS (
        SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
               array_to_string(list_sort(list(p)), ',') AS partners
        FROM (SELECT a AS media_id, b AS p FROM ver
              UNION ALL SELECT b AS media_id, a AS p FROM ver)
        GROUP BY media_id),
      sig_docs AS (SELECT id AS media_id FROM sat
                   UNION SELECT media_id FROM partners)
      SELECT d.media_id,
             CASE WHEN d.media_id IN (SELECT id FROM sat)
                  THEN 1 ELSE 0 END AS phash_saturated,
             COALESCE(n_dups, 0) AS n_dups,
             COALESCE(partners, '') AS partners
      FROM sig_docs d LEFT JOIN partners USING (media_id)
      ORDER BY d.media_id"""))

  /** m4 — deterministic FRAME SAMPLING over the multimodal column: the
    * step between decode and featurization in every video/audio
    * training pipeline (a model trains on sampled frames, not
    * containers). The sampling plan is [[MediaPipeline.framePlan]]
    * (one frame per started 10 s, capped at [[MediaPipeline
    * .MaxFrames]]; a still image is its own single frame), executed as
    * the partition-local typed flatMap [[MediaPipeline.sampleFrames]]
    * — the real production plumbing (per-partition decoder init,
    * payloads never shuffle, ~MaxFrames small rows out per record)
    * with the decode stubbed sha-deterministically, so every per-frame
    * value is hash-checked against the SQL oracle end to end (the m2
    * discipline; frame pixel content stands in as md5(sha:idx)). */
  private val q4 = QueryDef(
    "m4_frame_sample",
    (s, dir) => {
      MediaPipeline.sampleFrames(MediaPipeline.syntheticMedia(s, dir)).toDF()
        .orderBy("media_id", "frame_idx")
        .limit(400)
    },
    Some(s"""
      WITH m AS (
        SELECT doc_id AS media_id,
               (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS modality,
               sha256(text) AS sha
        FROM documents),
      h AS (SELECT *, ('0x' || substr(sha, 1, 12))::BIGINT AS h0 FROM m),
      d AS (
        SELECT media_id, modality, sha,
               CASE WHEN modality = 'image' THEN 0
                    ELSE 1000 + (h0 // 1048576) % 60000 END AS dur
        FROM h),
      plan AS (
        SELECT *, CAST(CASE WHEN modality = 'image' OR dur <= 0 THEN 1
               ELSE least(${MediaPipeline.MaxFrames}, 1 + dur // 10000)
               END AS INT) AS n
        FROM d),
      frames AS (
        SELECT media_id, modality, CAST(i AS INT) AS frame_idx,
               CAST(i * dur // n AS BIGINT) AS frame_ts_ms,
               md5(sha || ':' || i) AS frame_sha
        FROM plan, unnest(range(0, n)) AS t(i))
      SELECT media_id, modality, frame_idx, frame_ts_ms, frame_sha,
             CAST(('0x' || substr(frame_sha, 1, 4))::INT % 256 AS INT)
               AS luma_mean
      FROM frames
      ORDER BY media_id, frame_idx
      LIMIT 400"""))

  /** m5 fixture thresholds, probed before registration
    * (scripts/probe_frame_neardup.py, the probe_phash.py discipline):
    * frame-band-key occupancy tops out at 13/9/76 at sf0.001/0.01/0.1;
    * hot = 8 is the smallest grid point where BOTH guard legs are
    * non-vacuous at every scale (53/33/3228 saturated media,
    * 435-4458 verified frame pairs) without flagging over half the
    * corpus the way hot = 4 does at the small scales. Production
    * routes through the SHARED conf-gated resolver
    * (`graft.dedup.hotThreshold=fixture|auto|<int>`), like m3/d12. */
  private[graft] val FrameHotKeys = 8L

  /** Hamming verification bar of the m5 frame-pair verify: <= 8 of 64
    * bits — mid-grid with non-vacuous verified AND container-flagged
    * legs at all three scales (probe grid committed; ham = 4 leaves
    * only 12 flagged containers at sf0.01, ham = 12 admits 3x the
    * pairs for the same flagged set within noise). */
  private[graft] val FrameHamMax = 8

  /** Container overlap bar: a pair of containers is a frame-level
    * near-dup when at least HALF of EACH side's frames have a verified
    * match on the other side (`2*m >= n` both ways — exact integer
    * comparison, no float). Probed: tau = 1/2 flags 44/38/60 container
    * pairs at the three scales; 1/3 floods at sf0.1 (1150 at the
    * guard's hot = 8), 2/3 nearly vacates sf0.001. */
  private[graft] val FrameOverlapNum = 2L

  /** The ONE frame-band-key encoding of the m5 guard (the m3
    * phashKeys discipline: threshold derivation and guard must key
    * identically): frame uid = media_id * 8 + frame_idx (invertible by
    * `>> 3`), key = band striped into the high bits, 16 hash bits
    * low. */
  private def frameKeys(fh: DataFrame): DataFrame =
    fh.select((col("media_id") * lit(MediaPipeline.FrameUidStride)
        + col("frame_idx")).as("id"),
      explode(array((0 to 3).map(b =>
        lit(b * 65536L) + col(s"f$b").cast("long")): _*)).as("key"))

  /** The m5 composition over a frame-hash frame — factored so
    * DedupSurfacesSpec drives the SAME builder the registered query
    * runs (the phashRollup convention): frame band keys → SHARED guard
    * core → exact frame-Hamming verify (cross-container only) →
    * container-overlap aggregation → SHARED saturation rollup at
    * CONTAINER granularity. */
  private[graft] def frameNeardupRollup(fh: DataFrame, hotThreshold: Long)
      : DataFrame = {
    import graft.functions.DedupEnrich
    val (sat, pairs) =
      DedupEnrich.guardedCandidatePairs(frameKeys(fh), hotThreshold)
    def side(as: String, px: String) = fh.select(
      (col("media_id") * lit(MediaPipeline.FrameUidStride)
        + col("frame_idx")).as(as),
      col("f0").as(s"${px}0"), col("f1").as(s"${px}1"),
      col("f2").as(s"${px}2"), col("f3").as(s"${px}3"))
    // verified CROSS-container frame pairs; uid packing makes
    // media(a) < media(b) whenever the containers differ (a < b)
    val ver = pairs
      .filter(shiftright(col("a"), 3) =!= shiftright(col("b"), 3))
      .join(side("a", "x"), Seq("a"))
      .join(side("b", "y"), Seq("b"))
      .filter(hammingWithin("x", "y", FrameHamMax))
      .select(col("a"), col("b"),
        shiftright(col("a"), 3).as("ma"), shiftright(col("b"), 3).as("mb"))
    // pair evidence → container level: m_a/m_b = DISTINCT matched
    // frames per side, compared against the container's frame count in
    // exact integers (2*m >= n both ways)
    val nfr = fh.groupBy(col("media_id")).agg(max(col("n_frames")).as("nf"))
    val dup = ver.groupBy("ma", "mb")
      .agg(countDistinct(col("a")).as("m_a"),
        countDistinct(col("b")).as("m_b"))
      .join(nfr.select(col("media_id").as("ma"), col("nf").as("n_a")), "ma")
      .join(nfr.select(col("media_id").as("mb"), col("nf").as("n_b")), "mb")
      .filter(col("m_a") * FrameOverlapNum >= col("n_a") &&
        col("m_b") * FrameOverlapNum >= col("n_b"))
      .select(col("ma").as("a"), col("mb").as("b"))
    // a container holding ANY saturated frame flags (its pair evidence
    // may be incomplete — over-approximation, the guard contract)
    val satm = sat.select(shiftright(col("id"), 3).as("id")).distinct()
    DedupEnrich.saturationRollup(satm, dup, "media_id", "frame_saturated")
  }

  /** The ONE DuckDB mirror of the m4→aHash frame-hash pass (the
    * byte-slice frame plan, per-frame 64-bit aHash as four 16-bit
    * bands) — shared verbatim by the q5 and q7 oracles (the
    * clsScoreCutoffSql one-source discipline), so frame near-dup and
    * frame decontamination can never hash differently in the oracle
    * either. Defines `plan` (media_id, nf), `bands` (media_id, f,
    * band, bv), and `fw` (id = media_id*8+f, media_id, f, b0..b3). */
  private def frameBandsSql: String = s"""m AS (
        SELECT doc_id AS media_id, encode(text) AS payload,
               octet_length(encode(text)) AS L,
               (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS modality,
               sha256(text) AS sha
        FROM documents),
      h AS (SELECT *, ('0x' || substr(sha, 1, 12))::BIGINT AS h0 FROM m),
      d AS (
        SELECT media_id, payload, L, modality,
               CASE WHEN modality = 'image' THEN 0
                    ELSE 1000 + (h0 // 1048576) % 60000 END AS dur
        FROM h),
      plan AS (
        SELECT *, CAST(GREATEST(1, LEAST(
                 CASE WHEN modality = 'image' OR dur <= 0 THEN 1
                      ELSE LEAST(${MediaPipeline.MaxFrames}, 1 + dur // 10000) END,
                 L)) AS INT) AS nf
        FROM d),
      bytes AS (
        SELECT media_id, CAST(i * nf // L AS INT) AS f, i,
               ('0x' || substr(hex(payload), 2 * i + 1, 2))::INT AS byte
        FROM plan, unnest(range(0, L)) AS t(i)),
      fr AS (
        SELECT media_id, f, COUNT(*) AS fm, MIN(i) AS fstart,
               SUM(byte) AS fts
        FROM bytes GROUP BY 1, 2),
      blksums AS (
        SELECT b.media_id, b.f,
               CAST((b.i - fr.fstart) * 64 // fr.fm AS INT) AS blk,
               SUM(b.byte) AS bs, COUNT(*) AS bl
        FROM bytes b JOIN fr USING (media_id, f)
        GROUP BY 1, 2, 3),
      frames AS (
        SELECT media_id, nf, CAST(j AS INT) AS f
        FROM plan, unnest(range(0, nf)) AS t(j)),
      blocks AS (
        SELECT fs.media_id, fs.f, COALESCE(fr.fm, 0) AS fm,
               COALESCE(fr.fts, 0) AS fts, CAST(k AS INT) AS blk
        FROM frames fs LEFT JOIN fr USING (media_id, f),
             unnest(range(0, 64)) AS r(k)),
      bits AS (
        SELECT b.media_id, b.f, b.blk,
               CASE WHEN COALESCE(s.bs, 0) * b.fm > b.fts * COALESCE(s.bl, 0)
                    THEN 1 ELSE 0 END AS bit
        FROM blocks b LEFT JOIN blksums s USING (media_id, f, blk)),
      bands AS MATERIALIZED (
        SELECT media_id, f, CAST(blk // 16 AS INT) AS band,
               CAST(SUM(bit << (blk % 16)) AS INT) AS bv
        FROM bits GROUP BY 1, 2, 3),
      fw AS (SELECT media_id * 8 + f AS id, media_id, f,
               MAX(CASE WHEN band = 0 THEN bv END) AS b0,
               MAX(CASE WHEN band = 1 THEN bv END) AS b1,
               MAX(CASE WHEN band = 2 THEN bv END) AS b2,
               MAX(CASE WHEN band = 3 THEN bv END) AS b3
             FROM bands GROUP BY 1, 2, 3)"""

  /** m5 — FRAME-level near-dup detection, composing m4 x m3 (the r17
    * verdict's item 2): video dedup's real unit is the frame — a
    * re-encoded or trimmed container shares most sampled frames with
    * its source, so published video-corpus dedup keys on per-frame
    * perceptual hashes and flags CONTAINERS by frame-overlap fraction.
    * Frames come from the m4 sampling plan as temporal byte-slices
    * ([[MediaPipeline.frameHashes]] — stream-locality-preserving stub
    * for decoded pixels), hashed with the m3 aHash family; per-frame
    * band keys ride the SHARED [[graft.functions.DedupEnrich
    * .guardedCandidatePairs]] guard core; verification is the exact
    * 64-bit frame Hamming (cross-container only); and pair evidence
    * aggregates to container level by the exact-integer overlap bar
    * ([[FrameOverlapNum]]). Output is the m3 rollup shape at container
    * granularity: (media_id, frame_saturated, n_dups, partners).
    *
    * Scale shape: payloads never leave the partition-local frame-hash
    * pass (only <= 8 x (id, 4x16-bit) rows per container shuffle);
    * the guard resolves hot frame-keys BEFORE any pair join exists;
    * the overlap aggregate runs on verified pairs only (probe-bounded:
    * 4458 rows at sf0.1); the container rollup is the shared
    * over-approximating saturation contract — a container with any
    * guarded frame flags instead of silently missing evidence. */
  private val q5 = QueryDef(
    "m5_frame_neardup",
    (s, dir) => {
      import graft.functions.DedupEnrich
      val fh = MediaPipeline.frameHashes(
        MediaPipeline.syntheticMedia(s, dir)).toDF().cache()
      frameNeardupRollup(fh,
        DedupEnrich.hotThresholdFor(s, FrameHotKeys, frameKeys(fh)))
        .orderBy("media_id")
    },
    Some(s"""
      WITH $frameBandsSql,
      keys AS (
        SELECT media_id * 8 + f AS id,
               CAST(band AS BIGINT) * 65536 + bv AS key
        FROM bands),
      counts AS (SELECT key, COUNT(DISTINCT id) AS cnt FROM keys GROUP BY key),
      hot AS (SELECT key FROM counts WHERE cnt >= $FrameHotKeys),
      sat AS (SELECT DISTINCT id // 8 AS media_id
              FROM keys JOIN hot USING (key)),
      cold AS (SELECT id, key FROM keys
               WHERE key NOT IN (SELECT key FROM hot)),
      cand AS (
        SELECT DISTINCT a.id AS a, b.id AS b
        FROM cold a JOIN cold b ON a.key = b.key AND a.id < b.id
        WHERE a.id // 8 <> b.id // 8),
      ver AS (
        SELECT a, b, a // 8 AS ma, b // 8 AS mb FROM cand
        JOIN fw x ON x.id = cand.a
        JOIN fw y ON y.id = cand.b
        WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
            + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
          <= $FrameHamMax),
      nfr AS (SELECT media_id, nf FROM plan),
      dup AS (
        SELECT ov.ma AS a, ov.mb AS b
        FROM (SELECT ma, mb, COUNT(DISTINCT a) AS m_a,
                     COUNT(DISTINCT b) AS m_b
              FROM ver GROUP BY 1, 2) ov
        JOIN nfr na ON na.media_id = ov.ma
        JOIN nfr nb ON nb.media_id = ov.mb
        WHERE ov.m_a * $FrameOverlapNum >= na.nf
          AND ov.m_b * $FrameOverlapNum >= nb.nf),
      partners AS (
        SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
               array_to_string(list_sort(list(p)), ',') AS partners
        FROM (SELECT a AS media_id, b AS p FROM dup
              UNION ALL SELECT b AS media_id, a AS p FROM dup)
        GROUP BY media_id),
      sig_docs AS (SELECT media_id FROM sat
                   UNION SELECT media_id FROM partners)
      SELECT d.media_id,
             CASE WHEN d.media_id IN (SELECT media_id FROM sat)
                  THEN 1 ELSE 0 END AS frame_saturated,
             COALESCE(n_dups, 0) AS n_dups,
             COALESCE(partners, '') AS partners
      FROM sig_docs d LEFT JOIN partners USING (media_id)
      ORDER BY d.media_id"""))

  /** Hamming bar of the m6 benchmark match: <= 8 of 64 bits — mid-grid
    * (= m5's [[FrameHamMax]] family), probed before registration
    * (scripts/probe_media_decontam.py): the injected exact leaks flag
    * at every bar, and 8 adds sf0.1's natural near-collisions (12
    * media) without flooding (12 would flag 226 — 5% of the corpus —
    * at sf0.1). */
  private[graft] val DecontamHamMax = 8

  /** The m6 flag builder over two `(media_id, b0..b3)` hash frames —
    * factored so MultimodalSpec drives the SAME builder the registered
    * query runs (the phashRollup convention): band-key candidate probe
    * against the BROADCAST benchmark → exact 64-bit Hamming verify →
    * distinct flagged training ids. */
  private[graft] def mediaDecontamFlags(train: DataFrame,
      bench: DataFrame): DataFrame = {
    val cand = phashKeys(train).select(col("id").as("t"), col("key"))
      .join(broadcast(phashKeys(bench)
        .select(col("id").as("e"), col("key"))), Seq("key"))
      .select("t", "e").distinct()
    def side(df: DataFrame, idc: String, px: String) = df.select(
      col("media_id").as(idc), col("b0").as(s"${px}0"),
      col("b1").as(s"${px}1"), col("b2").as(s"${px}2"),
      col("b3").as(s"${px}3"))
    cand
      .join(side(train, "t", "x"), Seq("t"))
      .join(side(bench, "e", "y"), Seq("e"))
      .filter(hammingWithin("x", "y", DecontamHamMax))
      .select(col("t").as("media_id")).distinct()
  }

  /** m6 — MEDIA decontamination, the pl14 twin for the multimodal
    * column (the r18 verdict's item 2): benchmark-image leakage is the
    * published decontamination problem for multimodal corpora —
    * DataComp runs near-duplicate screens of every training image
    * against its evaluation sets, and LAION-style corpora are screened
    * the same way (CLIP-benchmark/ImageNet overlap — public
    * knowledge); the operation is perceptual-hash matching of the
    * TRAINING side against a small benchmark set, exactly as pl14
    * matches training n-grams against eval grams. Benchmark media =
    * the media_id % 7 slice (the pl14 eval-slice convention) PLUS
    * injected exact-payload leaks (the media_id % 31 == 5 training
    * slice re-appears as benchmark items): the synthetic corpus has
    * essentially no natural cross-slice perceptual collisions at the
    * small scales (probed: ZERO flagged at every bar <= 10 at
    * sf0.001/0.01), so the fixture injects the classic contamination
    * case — identical payload in both sets — the pl22/m1 precedent:
    * the injection stands in for a real benchmark's leaked items, the
    * MACHINERY (banded broadcast probe, exact Hamming verify,
    * per-modality drop report) is the real operator.
    *
    * Match rule: a training media is FLAGGED when its 64-bit aHash
    * sits within [[DecontamHamMax]] Hamming bits of ANY benchmark
    * media, with candidate generation by the SHARED [[phashKeyArray]]
    * band keys (the m3 LSH blocking — band agreement is guaranteed
    * below 4 differing bits and probabilistic beyond, the published
    * screens' recall model). Output is the decontamination report per
    * modality: n_train, n_eval, n_flagged, integer-micro drop_frac.
    *
    * Scale shape — why the benchmark side may SKIP the hot-key guard
    * the other media surfaces require: the guard exists to stop a
    * degenerate band from forming O(h²) TRAIN×TRAIN pairs in a
    * self-join; here there is no self-join — a REAL benchmark is
    * fixed-size (thousands of items regardless of corpus size, the
    * pl14 argument), it BROADCASTS, and the per-training-row fan-out
    * is bounded by the benchmark keys sharing a band (≤ |benchmark|),
    * so the worst case is |train| × |benchmark| band probes with no
    * shuffle of the training side at all — the pair join's output is
    * only (train_id, eval_id) collisions, a vanishing fraction. The
    * 100 TB plan: hash partition-locally, probe the broadcast, emit
    * flags. NOTE the fixture benchmark (the %7 slice + injected
    * leaks, ~17% of the corpus) is CORPUS-PROPORTIONAL and therefore
    * a stand-in that does not itself satisfy this argument — the
    * broadcast/no-guard shape is justified by the deployed contract
    * (a fixed eval set), not by the fixture; a consumer whose
    * "benchmark" grows with the corpus should route to the guarded
    * m3 pair machinery instead. */
  private val q6 = QueryDef(
    "m6_media_decontam",
    (s, dir) => {
      val hashes = MediaPipeline.perceptualHash(
        MediaPipeline.syntheticMedia(s, dir)).toDF().cache()
      val train = hashes.filter(col("media_id") % 7 =!= 0)
      val bench = hashes.filter(col("media_id") % 7 === 0)
        .unionAll(hashes.filter(col("media_id") % 7 =!= 0 &&
          col("media_id") % 31 === 5))
      val flagged = mediaDecontamFlags(train, bench)
      val modality = element_at(
        array(lit("image"), lit("audio"), lit("video")),
        (col("media_id") % 3 + 1).cast("int"))
      val tmod = train.select(modality.as("modality"))
        .groupBy("modality").agg(count(lit(1)).as("n_train"))
      val emod = bench.select(modality.as("modality"))
        .groupBy("modality").agg(count(lit(1)).as("n_eval"))
      val fmod = flagged.select(modality.as("modality"))
        .groupBy("modality").agg(count(lit(1)).as("n_flagged"))
      tmod.join(emod, Seq("modality"), "left")
        .join(fmod, Seq("modality"), "left")
        .withColumn("n_eval", coalesce(col("n_eval"), lit(0L)))
        .withColumn("n_flagged", coalesce(col("n_flagged"), lit(0L)))
        .withColumn("drop_frac",
          expr("(2 * n_flagged * 1000000 + n_train) DIV (2 * n_train)")
            .cast("double") / lit(1000000.0))
        .select("modality", "n_train", "n_eval", "n_flagged", "drop_frac")
        .orderBy("modality")
    },
    Some(s"""
      WITH $mediaBandsSql,
      tr AS (SELECT * FROM bw WHERE media_id % 7 != 0),
      ev AS (
        SELECT * FROM bw WHERE media_id % 7 = 0
        UNION ALL
        SELECT * FROM bw WHERE media_id % 7 != 0 AND media_id % 31 = 5),
      flagged AS (
        SELECT DISTINCT t.media_id
        FROM tr t JOIN ev e
          ON (t.b0 = e.b0 OR t.b1 = e.b1 OR t.b2 = e.b2 OR t.b3 = e.b3)
        WHERE bit_count(xor(t.b0, e.b0)) + bit_count(xor(t.b1, e.b1))
            + bit_count(xor(t.b2, e.b2)) + bit_count(xor(t.b3, e.b3))
          <= $DecontamHamMax),
      tm AS (SELECT (['image','audio','video'])[CAST(media_id % 3 AS INT) + 1]
                      AS modality, COUNT(*) AS n_train
             FROM tr GROUP BY 1),
      em AS (SELECT (['image','audio','video'])[CAST(media_id % 3 AS INT) + 1]
                      AS modality, COUNT(*) AS n_eval
             FROM ev GROUP BY 1),
      fm AS (SELECT (['image','audio','video'])[CAST(media_id % 3 AS INT) + 1]
                      AS modality, COUNT(*) AS n_flagged
             FROM flagged GROUP BY 1)
      SELECT modality, n_train,
             CAST(COALESCE(n_eval, 0) AS BIGINT) AS n_eval,
             CAST(COALESCE(n_flagged, 0) AS BIGINT) AS n_flagged,
             CAST((2 * COALESCE(n_flagged, 0) * 1000000 + n_train)
                  // (2 * n_train) AS DOUBLE) / 1000000.0 AS drop_frac
      FROM tm LEFT JOIN em USING (modality) LEFT JOIN fm USING (modality)
      ORDER BY modality"""))

  /** Hamming bar of the m7 frame-vs-benchmark match: <= 6 of 64 bits —
    * probed before registration (scripts/probe_frame_decontam.py): 6
    * is the SMALLEST grid point where the natural near-collision leg
    * is non-vacuous at every scale (2/2/191 natural flags at
    * sf0.001/0.01/0.1 on top of the 14/14/139 injected stills, all
    * caught at every bar >= 0); 8 doubles sf0.1's flags to 413 media
    * (9.6% of the corpus — a flood by the m6 standard) with no
    * small-scale gain, and 4 vacates the natural leg at sf0.001.
    * Frame slices are short, so their aHashes collide more readily
    * than m6's whole-payload hashes — the bar is tighter than
    * [[DecontamHamMax]] for the same flood control. */
  private[graft] val FrameDecontamHamMax = 6

  /** The m7 flag builder: training FRAME hashes (m5's
    * [[MediaPipeline.FrameHash]] shape) probed against a BROADCAST
    * benchmark hash set ((media_id, b0..b3) — the m6 shape; a
    * benchmark still's single frame spans its whole payload, so its
    * frame hash IS its m3 whole-media hash). Band-key candidates
    * through the SHARED [[phashKeys]]/[[frameKeys]] encodings, exact
    * 64-bit Hamming verify through the SHARED [[hammingWithin]],
    * output one row per flagged (container, frame uid). Factored so
    * MultimodalSpec drives the SAME builder the registered query runs
    * (the mediaDecontamFlags convention). */
  private[graft] def frameDecontamFlags(trainFrames: DataFrame,
      bench: DataFrame): DataFrame = {
    val cand = frameKeys(trainFrames).select(col("id").as("t"), col("key"))
      .join(broadcast(phashKeys(bench)
        .select(col("id").as("e"), col("key"))), Seq("key"))
      .select("t", "e").distinct()
    val tside = trainFrames.select(
      (col("media_id") * lit(MediaPipeline.FrameUidStride)
        + col("frame_idx")).as("t"),
      col("f0").as("x0"), col("f1").as("x1"),
      col("f2").as("x2"), col("f3").as("x3"))
    val eside = bench.select(col("media_id").as("e"),
      col("b0").as("y0"), col("b1").as("y1"),
      col("b2").as("y2"), col("b3").as("y3"))
    cand.join(tside, Seq("t")).join(eside, Seq("e"))
      .filter(hammingWithin("x", "y", FrameDecontamHamMax))
      .select(shiftright(col("t"), 3).as("media_id"),
        col("t").as("frame_uid"))
      .distinct()
  }

  /** m7 — FRAME-level decontamination, composing m4 × m6 (m6's
    * benchmark probe at m5's frame granularity): a training VIDEO can
    * leak a benchmark item as one embedded frame while its
    * container-level hash matches nothing — the video analog of the
    * published image-benchmark screens (DataComp §3 screens every
    * training image against its eval sets; a video corpus must screen
    * every SAMPLED FRAME the same way, which is exactly how
    * CLIP-style benchmark stills surface inside scraped footage).
    * Benchmark = the media_id % 7 slice's IMAGES (single-frame media,
    * whose frame hash equals their m3 whole-media hash — so the
    * benchmark artifact is the SAME hash-set shape m6 ships) PLUS
    * injected leaked stills: frame 0 of the media_id % 31 == 5
    * training slice re-appears as a benchmark item (the m6 injection
    * convention — natural cross-slice frame collisions are near-zero
    * at the small scales, probed, so the fixture injects the
    * published contamination case: a benchmark still captured from
    * footage that is also in training).
    *
    * Match rule: a training container is FLAGGED when ANY of its
    * sampled frames sits within [[FrameDecontamHamMax]] Hamming bits
    * of ANY benchmark hash, candidates by the SHARED band keys (the
    * m3/m6 LSH blocking recall model). Report per training modality:
    * containers, frames, flagged containers, flagged frames,
    * integer-micro drop_frac.
    *
    * Scale shape: identical to m6 — the benchmark side BROADCASTS
    * (fixed-size by the deployed contract; the fixture caveat in m6's
    * scaladoc applies verbatim) and the training side is probed
    * partition-locally with no self-join, so no hot-key guard leg is
    * needed; the frame pass itself never shuffles payloads (<= 8
    * (id, 4×16-bit) rows per container — the m5 contract). */
  private val q7 = QueryDef(
    "m7_frame_decontam",
    (s, dir) => {
      val fh = MediaPipeline.frameHashes(
        MediaPipeline.syntheticMedia(s, dir)).toDF().cache()
      val train = fh.filter(col("media_id") % 7 =!= 0)
      def asBench(df: DataFrame) = df.select(col("media_id"),
        col("f0").as("b0"), col("f1").as("b1"),
        col("f2").as("b2"), col("f3").as("b3"))
      val bench = asBench(fh.filter(col("media_id") % 7 === 0 &&
          col("media_id") % 3 === 0))
        .unionAll(asBench(fh.filter(col("media_id") % 7 =!= 0 &&
          col("media_id") % 31 === 5 && col("frame_idx") === 0)))
      val flags = frameDecontamFlags(train, bench)
      val modality = element_at(
        array(lit("image"), lit("audio"), lit("video")),
        (col("media_id") % 3 + 1).cast("int"))
      val tmod = train.select(modality.as("modality"), col("media_id"))
        .groupBy("modality").agg(
          countDistinct(col("media_id")).as("n_train"),
          count(lit(1)).as("n_frames"))
      val fmod = flags.select(modality.as("modality"), col("media_id"))
        .groupBy("modality").agg(
          countDistinct(col("media_id")).as("n_flagged"),
          count(lit(1)).as("n_frames_flagged"))
      tmod.join(fmod, Seq("modality"), "left")
        .withColumn("n_flagged", coalesce(col("n_flagged"), lit(0L)))
        .withColumn("n_frames_flagged",
          coalesce(col("n_frames_flagged"), lit(0L)))
        .withColumn("drop_frac",
          expr("(2 * n_flagged * 1000000 + n_train) DIV (2 * n_train)")
            .cast("double") / lit(1000000.0))
        .select("modality", "n_train", "n_frames", "n_flagged",
          "n_frames_flagged", "drop_frac")
        .orderBy("modality")
    },
    Some(s"""
      WITH $frameBandsSql,
      tr AS (SELECT * FROM fw WHERE media_id % 7 != 0),
      ev AS (
        SELECT b0, b1, b2, b3 FROM fw
        WHERE media_id % 7 = 0 AND media_id % 3 = 0
        UNION ALL
        SELECT b0, b1, b2, b3 FROM fw
        WHERE media_id % 7 != 0 AND media_id % 31 = 5 AND f = 0),
      fl AS (
        SELECT DISTINCT t.id, t.media_id FROM tr t JOIN ev e
          ON (t.b0 = e.b0 OR t.b1 = e.b1 OR t.b2 = e.b2 OR t.b3 = e.b3)
        WHERE bit_count(xor(t.b0, e.b0)) + bit_count(xor(t.b1, e.b1))
            + bit_count(xor(t.b2, e.b2)) + bit_count(xor(t.b3, e.b3))
          <= $FrameDecontamHamMax),
      tm AS (SELECT (['image','audio','video'])[CAST(media_id % 3 AS INT) + 1]
                      AS modality,
                    COUNT(DISTINCT media_id) AS n_train,
                    COUNT(*) AS n_frames
             FROM tr GROUP BY 1),
      fm AS (SELECT (['image','audio','video'])[CAST(media_id % 3 AS INT) + 1]
                      AS modality,
                    COUNT(DISTINCT media_id) AS n_flagged,
                    COUNT(*) AS n_frames_flagged
             FROM fl GROUP BY 1)
      SELECT modality, n_train, n_frames,
             CAST(COALESCE(n_flagged, 0) AS BIGINT) AS n_flagged,
             CAST(COALESCE(n_frames_flagged, 0) AS BIGINT)
               AS n_frames_flagged,
             CAST((2 * COALESCE(n_flagged, 0) * 1000000 + n_train)
                  // (2 * n_train) AS DOUBLE) / 1000000.0 AS drop_frac
      FROM tm LEFT JOIN fm USING (modality)
      ORDER BY modality"""))

  /** m8 — media DEDUP GROUPS with canonical election, composing m3 ×
    * d6 (the published image-corpus shape: LAION/DataComp-class
    * curation clusters near-duplicate images and keeps ONE canonical
    * per cluster, exactly as the text funnel keeps d6's min-id
    * survivor): m3's guarded verified pairs become the edge list, the
    * SHARED [[graft.functions.DedupEnrich.minLabelComponents]] CC
    * builder (the d6/pl16 fuzzy-stage core — one CC implementation
    * across text and media) labels components, and the min-media_id
    * member is elected canonical. Saturated media (hot-banded — their
    * pair evidence is guard-truncated) that joined no component are
    * reported as their own singleton group WITH the `saturated` flag
    * up, never silently dropped — the m3 over-approximation contract
    * carried to group granularity: a consumer must treat a saturated
    * row's group as a lower bound, not an exhaustive cluster.
    *
    * Scale shape: the edge list is verified near-dup pairs only
    * (probe-bounded: 2/1/104 at the three scales — orders of
    * magnitude below the corpus, the d6 argument), so the CC loop
    * iterates over a tiny frame; everything upstream is the m3 plan
    * (partition-local hashing, guard before any pair join). */
  private val q8 = QueryDef(
    "m8_media_dedup_groups",
    (s, dir) => {
      import graft.functions.DedupEnrich
      val hashes = MediaPipeline.perceptualHash(
        MediaPipeline.syntheticMedia(s, dir)).toDF().cache()
      val (sat, ver) = verifiedPhashPairs(hashes,
        DedupEnrich.hotThresholdFor(s, PhashHotKeys, phashKeys(hashes)))
      val labels =
        DedupEnrich.minLabelComponents(ver, IterSizing.iterParts(s))
      val sizes = labels.groupBy("component")
        .agg(count(lit(1)).as("group_size"))
      val cc = labels.join(sizes, "component")
        .select(col("node").as("media_id"),
          col("component").as("canonical_id"), col("group_size"),
          (col("node") === col("component")).as("is_canonical"))
      val satm = sat.select(col("id").as("media_id")).distinct().cache()
      val satOnly = satm
        .join(cc.select("media_id"), Seq("media_id"), "left_anti")
        .select(col("media_id"), col("media_id").as("canonical_id"),
          lit(1L).as("group_size"), lit(true).as("is_canonical"))
      cc.unionAll(satOnly)
        .join(satm.withColumn("saturated", lit(1)),
          Seq("media_id"), "left")
        .withColumn("saturated", coalesce(col("saturated"), lit(0)))
        .orderBy("media_id")
    },
    Some(s"""
      WITH RECURSIVE $mediaBandsSql,
      keys AS (SELECT media_id AS id,
                      CAST(band AS BIGINT) * 65536 + bv AS key
               FROM bands),
      counts AS (SELECT key, COUNT(DISTINCT id) AS cnt FROM keys GROUP BY key),
      hot AS (SELECT key FROM counts WHERE cnt >= $PhashHotKeys),
      sat AS (SELECT DISTINCT id FROM keys JOIN hot USING (key)),
      cold AS (SELECT id, key FROM keys
               WHERE key NOT IN (SELECT key FROM hot)),
      cand AS (
        SELECT DISTINCT a.id AS a, b.id AS b
        FROM cold a JOIN cold b ON a.key = b.key AND a.id < b.id),
      ver AS (
        SELECT a, b FROM cand
        JOIN bw x ON x.media_id = cand.a
        JOIN bw y ON y.media_id = cand.b
        WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
            + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
          <= $PhashHamMax),
      edges AS (SELECT a, b FROM ver UNION ALL SELECT b, a FROM ver),
      reach AS (
        SELECT a AS node, a AS r FROM edges
        UNION
        SELECT re.node, e.b FROM reach re JOIN edges e ON re.r = e.a),
      comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
      cc AS (
        SELECT node AS media_id, component AS canonical_id,
               COUNT(*) OVER (PARTITION BY component) AS group_size,
               node = component AS is_canonical
        FROM comp),
      satonly AS (
        SELECT id AS media_id, id AS canonical_id,
               CAST(1 AS BIGINT) AS group_size, TRUE AS is_canonical
        FROM sat WHERE id NOT IN (SELECT media_id FROM cc)),
      allr AS (SELECT * FROM cc UNION ALL SELECT * FROM satonly)
      SELECT media_id, canonical_id,
             CAST(group_size AS BIGINT) AS group_size, is_canonical,
             CASE WHEN media_id IN (SELECT id FROM sat)
                  THEN 1 ELSE 0 END AS saturated
      FROM allr
      ORDER BY media_id"""))

  /** Quality floor of the m9 media funnel: payloads under 50 bytes
    * fail (the DataComp-class basic min-size filter — tiny payloads
    * are tracking pixels / truncated downloads, not trainable
    * content). Probed (scripts/probe_media_funnel.py): 50 drops
    * 1/2/10 media at the three scales (non-vacuous everywhere, the
    * registration bar), 40 vacates sf0.001/0.01, 60 starts eating
    * ordinary content (73 at sf0.1's p01). A degenerate-bits rule
    * (all-zero aHash = flat content) was probed and NOT registered:
    * zero occurrences at every scale (min set-bits 15), so it would
    * be dead fixture code. */
  private[graft] val MediaMinBytes = 50L

  /** m9 — the MEDIA CURATION FUNNEL, composing m3 × m8 × m6 into the
    * published multimodal-corpus pipeline (DataComp's filtering
    * track: basic filters → perceptual dedup → benchmark
    * decontamination → pool; the pl16 twin for the media column):
    * every training container (the media_id % 7 eval slice excluded
    * up front, the m6 convention) gets its furthest-surviving stage —
    * 0 = failed the quality floor ([[MediaMinBytes]]), 1 = near-dup
    * non-survivor (band-saturated OR a non-canonical member of a
    * verified component — the pl16 fuzzy-stage rule on the m8
    * machinery, recomputed over QUALITY SURVIVORS because the pair
    * graph is set-dependent), 2 = benchmark-contaminated (the m6
    * probe over near-dup survivors), 3 = clean survivor. No exact
    * stage: for media, exact duplicates ARE Hamming-0 near-dups, so
    * the perceptual stage subsumes it (and the published pipelines
    * dedup perceptually for exactly that reason; probed: zero exact
    * payload dups below sf0.1 — a separate exact stage would be
    * vacuous fixture code). Every stage decision comes from the
    * SHARED builders the standalone operators run (guard core ==
    * m3/m8, CC == m8/d6, decontam flags == m6) — composition, not
    * reimplementation. Report: per-modality attrition (n_raw,
    * n_quality, n_neardup, n_clean, integer-micro retention).
    *
    * EAGER: the CC loop runs driver-controlled jobs at build time
    * (the d6/pl16 discipline — plan pins live in the executing spec).
    * Scale shape: one partition-local hash pass feeds every stage;
    * the guard resolves hot keys before any pair join; the benchmark
    * probes broadcast; the only corpus-sized shuffles key on band-key
    * or media_id. */
  private val q9 = QueryDef(
    "m9_media_funnel",
    (s, dir) => {
      import graft.functions.DedupEnrich
      // ONE partition-local scan feeds every stage (review finding:
      // two separate syntheticMedia lineages re-encoded the corpus
      // twice); the cached admission frame is payload-free
      val adm = MediaPipeline.admissionPass(
        MediaPipeline.syntheticMedia(s, dir)).toDF().cache()
      val base = adm.filter(col("media_id") % 7 =!= 0)
        .select("media_id", "modality", "len")
      val hashes = adm.select("media_id", "b0", "b1", "b2", "b3")
      val qok = base.filter(col("len") >= MediaMinBytes)
        .select("media_id")
      val hq = hashes.join(qok, "media_id")
      val (sat, ver) = verifiedPhashPairs(hq,
        DedupEnrich.hotThresholdFor(s, PhashHotKeys, phashKeys(hq)))
      val labels =
        DedupEnrich.minLabelComponents(ver, IterSizing.iterParts(s))
      val nds = sat.select(col("id").as("media_id"))
        .unionAll(labels.filter(col("node") =!= col("component"))
          .select(col("node").as("media_id")))
        .distinct()
      val s1 = qok.join(nds, Seq("media_id"), "left_anti")
      val bench = hashes.filter(col("media_id") % 7 === 0)
        .unionAll(hashes.filter(col("media_id") % 7 =!= 0 &&
          col("media_id") % 31 === 5))
      val contam = mediaDecontamFlags(hashes.join(s1, "media_id"), bench)
      val staged = base
        .join(nds.withColumn("nd", lit(1)), Seq("media_id"), "left")
        .join(contam.withColumn("ct", lit(1)).select("media_id", "ct"),
          Seq("media_id"), "left")
        .withColumn("stage",
          when(col("len") < MediaMinBytes, 0)
            .when(col("nd") === 1, 1)
            .when(col("ct") === 1, 2)
            .otherwise(3))
      staged.groupBy("modality").agg(
        count(lit(1)).as("n_raw"),
        sum((col("stage") >= 1).cast("long")).as("n_quality"),
        sum((col("stage") >= 2).cast("long")).as("n_neardup"),
        sum((col("stage") >= 3).cast("long")).as("n_clean"))
        .withColumn("retention",
          expr("(2 * n_clean * 1000000 + n_raw) DIV (2 * n_raw)")
            .cast("double") / lit(1000000.0))
        .select("modality", "n_raw", "n_quality", "n_neardup",
          "n_clean", "retention")
        .orderBy("modality")
    },
    Some(s"""
      WITH RECURSIVE $mediaBandsSql,
      mt AS (SELECT media_id, n,
                    (['image','audio','video'])[CAST(media_id % 3 AS INT) + 1]
                      AS modality
             FROM m WHERE media_id % 7 != 0),
      qok AS (SELECT media_id FROM mt WHERE n >= $MediaMinBytes),
      keys AS (SELECT media_id AS id,
                      CAST(band AS BIGINT) * 65536 + bv AS key
               FROM bands
               WHERE media_id IN (SELECT media_id FROM qok)),
      counts AS (SELECT key, COUNT(DISTINCT id) AS cnt FROM keys GROUP BY key),
      hot AS (SELECT key FROM counts WHERE cnt >= $PhashHotKeys),
      sat AS (SELECT DISTINCT id FROM keys JOIN hot USING (key)),
      cold AS (SELECT id, key FROM keys
               WHERE key NOT IN (SELECT key FROM hot)),
      cand AS (
        SELECT DISTINCT a.id AS a, b.id AS b
        FROM cold a JOIN cold b ON a.key = b.key AND a.id < b.id),
      ver AS (
        SELECT a, b FROM cand
        JOIN bw x ON x.media_id = cand.a
        JOIN bw y ON y.media_id = cand.b
        WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
            + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
          <= $PhashHamMax),
      edges AS (SELECT a, b FROM ver UNION ALL SELECT b, a FROM ver),
      reach AS (
        SELECT a AS node, a AS r FROM edges
        UNION
        SELECT re.node, e.b FROM reach re JOIN edges e ON re.r = e.a),
      comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
      nds AS (SELECT id AS media_id FROM sat
              UNION SELECT node FROM comp WHERE node != component),
      s1 AS (SELECT media_id FROM qok
             WHERE media_id NOT IN (SELECT media_id FROM nds)),
      ev AS (
        SELECT b0, b1, b2, b3 FROM bw WHERE media_id % 7 = 0
        UNION ALL
        SELECT b0, b1, b2, b3 FROM bw
        WHERE media_id % 7 != 0 AND media_id % 31 = 5),
      contam AS (
        SELECT DISTINCT t.media_id FROM bw t JOIN ev e
          ON (t.b0 = e.b0 OR t.b1 = e.b1 OR t.b2 = e.b2 OR t.b3 = e.b3)
        WHERE t.media_id IN (SELECT media_id FROM s1)
          AND bit_count(xor(t.b0, e.b0)) + bit_count(xor(t.b1, e.b1))
            + bit_count(xor(t.b2, e.b2)) + bit_count(xor(t.b3, e.b3))
          <= $DecontamHamMax),
      staged AS (
        SELECT modality,
               CASE WHEN n < $MediaMinBytes THEN 0
                    WHEN media_id IN (SELECT media_id FROM nds) THEN 1
                    WHEN media_id IN (SELECT media_id FROM contam) THEN 2
                    ELSE 3 END AS stage
        FROM mt)
      SELECT modality, COUNT(*) AS n_raw,
             CAST(SUM(CASE WHEN stage >= 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quality,
             CAST(SUM(CASE WHEN stage >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_neardup,
             CAST(SUM(CASE WHEN stage >= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clean,
             CAST((2 * SUM(CASE WHEN stage >= 3 THEN 1 ELSE 0 END) * 1000000
                   + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1000000.0
               AS retention
      FROM staged GROUP BY modality
      ORDER BY modality"""))

  val all: Seq[QueryDef] = Seq(q1, q2, q3, q4, q5, q6, q7, q8, q9)
}
