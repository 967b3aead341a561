package graft.api

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.DedupEnrich

/** Maintained incremental-dedup state store — the PRODUCTION shape of
  * the d8/d10 registered queries: instead of recomputing the history's
  * Bloom positions and band keys inside every query, the accumulated
  * state persists as a maintained parquet store and each `ingest`
  * batch probes it, then folds itself in — one crash-atomic manifest
  * commit per batch, the same [[ManifestIO]] protocol as the memory
  * store, the profile sync loop, and the orientation cache.
  *
  * State = append-only generation dirs `g<N>/{bloom,bands}`:
  *  - `bloom`: the set Bloom slots (k = 4 md5-derived positions per
  *    historical d1 fingerprint). Encoding is VERSION-GATED by the
  *    manifest: v2 (the default for new stores) packs the bit array
  *    as (`word_idx` long, `bits` long) rows — 64 slots per row, the
  *    production shape: ~1 bit per slot instead of the ~64 bits a
  *    position row costs, merged by word-wise OR on compaction, probed
  *    by an equi-join on word_idx + a bit test. v1 (stores created
  *    before the packing) keeps (`pos` long) distinct-position rows —
  *    a re-opened v1 store routes v1 FOREVER (its probe and fold stay
  *    position-rows; re-encoding is a rebuild, same policy as Bloom
  *    re-sizing). The d8 QUERY keeps the position-set formulation
  *    deliberately — it is the oracle-checkable model of this state,
  *    cross-engine deterministic, and DedupSurfacesSpec pins that the
  *    v2 words decode to exactly the model's position set;
  *  - `bands`: parquet of (`bk` string, `prior_id` long) — the
  *    MinHash band keys (8 hashes, 4 bands of 2 — the d3/d10
  *    Carter-Wegman family) of every historical document;
  *  - `bcnt` (guarded stores): per-band prior-doc counts, the
  *    hot-band degradation guard's state (see [[hotOf]]) — O(batch)
  *    delta per ingest, sum-merged on compaction;
  *  - `mbands`/`mcnt` (media folds, on generation dirs listed under
  *    the SEPARATE `msegs` manifest entry): the MEDIA key family —
  *    perceptual-hash band keys and their guard counts (see
  *    [[ingestMedia]]); the two families share one atomic manifest
  *    and one generation counter but keep disjoint segment lists.
  * The manifest (`segs=g1,g2,…`, `m=<slots>`, `gen=`, `version=`,
  * plus `batch=`/`verdict_seg=` replay bookkeeping when driven through
  * the batchId overload) publishes which dirs are live; a crash
  * between data write and manifest rename leaves the prior state
  * intact and the next commit sweeps the orphan.
  *
  * The Bloom slot count `m` is fixed at CREATION from the declared
  * capacity (16 bits per expected element — FP ≈ 0.2% at capacity)
  * and persisted in the manifest, so every later open routes with the
  * creator's sizing regardless of the compiled default — the same
  * persisted-parameter discipline as the memory store's bucket count.
  * An index grown past its capacity saturates gracefully (FP rises,
  * never FN); re-sizing is a rebuild, as in every Bloom deployment.
  *
  * `ingest` verdicts are batch-vs-HISTORY (`maybe_dup` has no false
  * negatives; `near_candidate_ids` are LSH candidates for the
  * downstream exact verify). Batch-INTERNAL duplicates are the next
  * batch's history by contract — run the d1 groupBy inside the batch
  * first if intra-batch exactness is needed (same contract as the
  * d8/d10 queries).
  *
  * Scale shape: probing is one broadcast/hash join per index against
  * frames that carry 8-byte positions and 16-byte band keys — never
  * text; the per-batch state delta is O(batch); segment dirs compact
  * back to one once they exceed [[Mnemo.MaxSegments]] (the same
  * LSM-ish bound as the memory store's buckets). */
final class DedupIndex(val spark: SparkSession, val path: String,
    capacity: Long = 1000000L, windowCapacity: Long = 0L,
    hotBandThreshold: Long = DedupIndex.DefaultHotBandThreshold,
    autoHotThreshold: Boolean = false) {

  // AUTO is its own FLAG, not a hotBandThreshold sentinel: the
  // pre-auto contract was "<= 0 at creation opts out for life", so
  // ANY reused negative value would silently invert an existing
  // caller's opt-out into auto-guarding (review finding). Conflicting
  // intent — auto plus an explicit threshold — throws instead of
  // picking a winner. KNOWN LIMIT (ADVICE r16, accepted): the guard
  // compares against the compiled default, so `autoHotThreshold =
  // true` plus an EXPLICIT threshold that happens to equal that
  // default is indistinguishable from omitting the threshold and
  // takes the auto path — detecting it would need an Option[Long]
  // constructor, a source-breaking change not worth the edge
  // (explicitly restating a default alongside auto expresses no
  // coherent intent the throw would protect).
  require(!autoHotThreshold ||
    hotBandThreshold == DedupIndex.DefaultHotBandThreshold,
    s"autoHotThreshold = true derives the threshold from the first " +
      s"fold's occupancy — do not also pass an explicit " +
      s"hotBandThreshold (got $hotBandThreshold)")

  // the manifest is read ONCE per ingest and the parsed map threaded
  // through every helper — it cannot change mid-call (single writer),
  // and re-loading the properties file per derived value would put a
  // dozen driver file reads on the streaming hot path
  private def manifest: Option[Map[String, String]] = ManifestIO.read(path)

  /** Slot count: the manifest's persisted value for an existing store,
    * the capacity-derived default only at creation. */
  private def slotsOf(man: Option[Map[String, String]]): Long =
    man.flatMap(_.get("m")).map(_.toLong)
      .getOrElse(math.max(16L * capacity, 1L))

  /** OPT-IN window-dedup leg (the maintained form of the d9 / Lee
    * et al. exact substring pass): `windowCapacity` > 0 at CREATION
    * declares the expected total [[DedupEnrich.WindowW]]-token window
    * count and sizes a SECOND packed Bloom (`wbloom`, 16 bits per
    * expected window, k = 4) over the window hashes of every
    * historical doc. Ingest then also reports `shared_window_frac`
    * per batch doc — the fraction of its windows probably seen in
    * history (no false negatives; per-window FP at the doc-Bloom
    * rate, so the frac can read slightly HIGH, never low — the safe
    * direction for a dedup screen). Like `m`, the feature and its
    * sizing are FIXED at creation and persisted (`mw=`): re-opening
    * an unwindowed store with a windowCapacity does NOT enable it
    * (history was never folded — mid-life enablement would
    * under-report sharing against everything before the flip). */
  private def windowSlotsOf(man: Option[Map[String, String]]): Option[Long] =
    man match {
      case Some(m) => m.get("mw").map(_.toLong)
      case None =>
        if (windowCapacity > 0) Some(math.max(16L * windowCapacity, 1L))
        else None
    }

  private def liveSegsOf(man: Option[Map[String, String]]): Seq[String] =
    man.flatMap(_.get("segs")).toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty)

  /** HOT-BAND degradation guard (the one adversarial scale-killer in
    * the LSH family): a band key matched by unboundedly many prior
    * docs — templated/boilerplate corpora produce them routinely; LSH
    * theory assumes selective bands, production corpora violate it —
    * would make the band equi-join emit an unbounded candidate row
    * explosion and an unbounded per-doc `near_candidate_ids` array.
    * Guarded stores maintain per-band prior counts as segment state
    * (`bcnt`, O(batch) delta per ingest, sum-merged on compaction);
    * at probe time a band whose accumulated count has reached the
    * threshold emits NO candidates and instead sets the doc's
    * `band_saturated = 1` flag. Over-approximation discipline:
    * saturation can only WIDEN the downstream exact-verify (a
    * flagged doc must be verified against the corpus, not just its
    * candidate list), never hide a duplicate — and the Bloom
    * `maybe_dup` leg is unaffected, so exact re-posts keep flagging.
    * The threshold is persisted at creation (`hot=`, like `m`) so
    * every open routes identically; `hotBandThreshold <= 0` at
    * creation opts the store out for life (the pre-auto contract,
    * unchanged), and `autoHotThreshold = true` defers the value to the
    * first fold WITH band-key evidence (derived there via the SHARED
    * [[DedupEnrich.deriveHotThreshold]], then persisted like any
    * caller constant; key-less folds persist the `hot=auto` marker
    * and keep waiting — see the resolution note in `ingestInternal`;
    * until evidence arrives this accessor reports None, which is
    * truthful: no threshold exists yet). Stores created before the
    * guard carry no counts state and stay unguarded for life (same
    * policy as v1 Bloom encoding: retrofitting means a rebuild).
    *
    * Trigger semantics are LIFETIME counts — a band that was ever
    * boilerplate stays flagged, because this store's contract is the
    * full corpus history. The streaming twin
    * ([[graft.streaming.EventStream.streamingNearDupCandidates]])
    * deliberately saturates on horizon-LIVE held entries instead (its
    * contract is the recent window; bands cool as entries age out);
    * within one horizon on a fresh history the two flag identically
    * (DedupSurfacesSpec pins it on a saturating flood). */
  private def hotOf(man: Option[Map[String, String]],
      derive: => Option[Long] = None): Option[Long] =
    man match {
      case Some(m) => m.get("hot") match {
        // an AUTO store still awaiting occupancy evidence (every fold
        // so far carried no band keys): resolve through `derive` —
        // None outside ingest, so describe() truthfully reports that
        // no threshold exists yet
        case Some(DedupIndex.AutoMarker) => derive
        case Some(v) => Some(v.toLong)
        case None => None
      }
      case None =>
        if (autoHotThreshold) derive
        else if (hotBandThreshold > 0) Some(hotBandThreshold)
        else None
    }

  /** True when this call's state is an AUTO threshold still awaiting
    * its first occupancy evidence — the manifest marker for an
    * existing store, the constructor flag at creation. */
  private def hotPending(man: Option[Map[String, String]]): Boolean =
    man match {
      case Some(m) => m.get("hot").contains(DedupIndex.AutoMarker)
      case None => autoHotThreshold
    }

  /** MEDIA-family twins of [[hotOf]]/[[hotPending]] (manifest key
    * `mhot`): the media guard shares the store's creation POLICY
    * (explicit threshold / auto / opt-out) but persists and derives
    * its threshold SEPARATELY from media-key occupancy — perceptual-
    * hash band keys and MinHash band keys live in different occupancy
    * regimes (the probe_phash.py numbers vs the d12 fixtures), so one
    * family's calibration must never rule the other's. Same AUTO
    * evidence-floor discipline ([[DedupIndex.MinAutoEvidenceKeys]]),
    * same defer-with-persisted-counts contract.
    *
    * The media family's "creation" is its FIRST media fold (a text
    * store may live long before media ever arrives), so every first
    * media fold persists an `mhot` decision — a positive threshold,
    * the auto marker, or `0` for opt-out — and re-opens route with it
    * exactly like the text family's persisted parameters (review
    * finding: without the persisted opt-out, a re-open with a default
    * constructor would resurrect the guard and read counts state the
    * opted-out segments never wrote). `creationFallback` gates the
    * constructor-policy branch: TRUE only where a first fold may
    * legitimately apply it (ingest, or describe() on a fully virgin
    * store — mirroring the text family's creation-time sizing
    * report); a manifest that carries media segments but no `mhot`
    * (hand-built) reads as unguarded-for-life, the text discipline. */
  private def mhotOf(man: Option[Map[String, String]],
      derive: => Option[Long] = None,
      creationFallback: Boolean = false): Option[Long] = {
    def creation: Option[Long] =
      if (autoHotThreshold) derive
      else if (hotBandThreshold > 0) Some(hotBandThreshold)
      else None
    man match {
      case Some(m) => m.get("mhot") match {
        case Some(DedupIndex.AutoMarker) => derive
        case Some(v) => Some(v.toLong).filter(_ > 0)
        case None =>
          if (creationFallback && liveMediaSegsOf(man).isEmpty) creation
          else None
      }
      case None => if (creationFallback) creation else None
    }
  }

  private def mhotPending(man: Option[Map[String, String]]): Boolean =
    man match {
      case Some(m) => m.get("mhot") match {
        case Some(DedupIndex.AutoMarker) => true
        case Some(_) => false
        case None => liveMediaSegsOf(man).isEmpty && autoHotThreshold
      }
      case None => autoHotThreshold
    }

  private def liveMediaSegsOf(man: Option[Map[String, String]]): Seq[String] =
    man.flatMap(_.get("msegs")).toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty)

  /** Bloom state encoding: the manifest's persisted version for an
    * existing store (a v1 store keeps position-rows for life), v2
    * packed words for new stores. */
  private def versionOf(man: Option[Map[String, String]]): Int =
    man.flatMap(_.get("version")).map(_.toInt).getOrElse(2)

  /** The SHARED enrichment path ([[DedupEnrich]]) — the same builders
    * the d8/d10 batch queries and the streaming candidate generator
    * use, so index keys, query keys, and stream keys can never drift
    * apart (DedupSurfacesSpec pins the equality). */
  private def enrich(batch: DataFrame, m: Long,
      windowed: Boolean): DataFrame = {
    // ONE token binding feeds fp, shingles, AND (when enabled) window
    // hashes — tokenizing is the per-doc linear pass every key shares,
    // and this runs on the streaming ingest hot path
    val keyed =
      if (windowed) DedupEnrich.withFpShinglesWindows(
        batch.select(col("doc_id"), col("text")), "text")
      else DedupEnrich.withFpAndShingles(
        batch.select(col("doc_id"), col("text")), "text")
    val withWs = DedupEnrich.withBandKeys(keyed, "sh")
    withWs.select(Seq(col("doc_id"),
      array_distinct(DedupEnrich.bloomPositions(col("fp"), lit(m)))
        .as("positions"),
      col("bands")) ++ (if (windowed) Seq(col("ws")) else Nil): _*)
  }

  private def readSub(segs: Seq[String], sub: String,
      hconf: org.apache.hadoop.conf.Configuration,
      schema: Option[String] = None): Option[DataFrame] = {
    val dirs = segs.map(s => s"$path/$s/$sub")
    // a manifest-referenced dir that is MISSING is corruption — fail
    // loudly rather than silently probing against partial history (a
    // quiet skip here would admit duplicates while looking healthy).
    // Existence is checked through the Hadoop FileSystem for the
    // path's scheme — the same filesystem Spark's data I/O resolves —
    // so the check stays truthful when the store lives on HDFS/S3,
    // where a driver-local java.nio probe would declare every dir
    // missing (see ManifestIO's deployment note for the manifest leg).
    dirs.find { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(hconf)
      !(fs.exists(p) && fs.getFileStatus(p).isDirectory)
    }.foreach(d => throw new IllegalStateException(
      s"dedup index at $path: manifest references missing segment dir $d"))
    if (dirs.isEmpty) None
    else {
      // explicit schema where the sub's shape is fixed: an all-empty
      // segment set (a store whose only commits were empty batches)
      // has no footers to infer from, and inference there would fail a
      // read that is semantically just "the empty state"
      val rd = schema.fold(spark.read)(s => spark.read.schema(s))
      Some(rd.parquet(dirs: _*))
    }
  }

  private def bloomState(segs: Seq[String], ver: Int,
      hconf: org.apache.hadoop.conf.Configuration): DataFrame =
    readSub(segs, "bloom", hconf,
      Some(if (ver == 1) "pos BIGINT" else "word_idx BIGINT, bits BIGINT"))
      .getOrElse(
        if (ver == 1) spark.range(0).select(col("id").as("pos"))
        else spark.range(0).select(col("id").as("word_idx"), col("id").as("bits")))

  /** Distinct position rows → packed (word_idx, bits) words: 64 slots
    * per long, word-wise OR. The bit index is `pos & 63`, the word
    * `pos >> 6`; shifts on the BITS side are arithmetic but the `& 1`
    * test masks the sign extension, so slot 63 behaves like any
    * other. */
  private def packWords(positions: DataFrame): DataFrame =
    positions.distinct()
      .select(shiftright(col("pos"), 6).as("word_idx"),
        expr("shiftleft(1L, cast((pos & 63) as int))").as("mask"))
      .groupBy("word_idx").agg(expr("bit_or(mask)").as("bits"))

  private def bandState(segs: Seq[String],
      hconf: org.apache.hadoop.conf.Configuration): DataFrame =
    readSub(segs, "bands", hconf, Some("bk STRING, prior_id BIGINT"))
      .getOrElse(spark.range(0).select(col("id").cast("string").as("bk"),
        col("id").as("prior_id")))

  /** Window-hash Bloom state (packed words; only read on
    * window-enabled stores, which are v2 by construction). */
  private def wbloomState(segs: Seq[String],
      hconf: org.apache.hadoop.conf.Configuration): DataFrame =
    readSub(segs, "wbloom", hconf, Some("word_idx BIGINT, bits BIGINT"))
      .getOrElse(
        spark.range(0).select(col("id").as("word_idx"), col("id").as("bits")))

  /** Per-band prior-doc counts (hot-guard state; only on guarded
    * stores). One row per (segment, band key) — totals are sums over
    * the live segments, and only ever for the BATCH's keys (the probe
    * joins the bounded batch key set in before aggregating). */
  private def bandCountState(segs: Seq[String],
      hconf: org.apache.hadoop.conf.Configuration): DataFrame =
    readSub(segs, "bcnt", hconf, Some("bk STRING, cnt BIGINT"))
      .getOrElse(spark.range(0).select(col("id").cast("string").as("bk"),
        col("id").as("cnt")))

  /** Media-family band state: (bk string, prior_id long) perceptual-
    * hash band keys of every historical media record — the
    * [[graft.queries.Multimodal.phashKeys]] encoding (band striped
    * into the high bits), stringified to share the bands-state shape. */
  private def mediaBandState(segs: Seq[String],
      hconf: org.apache.hadoop.conf.Configuration): DataFrame =
    readSub(segs, "mbands", hconf, Some("bk STRING, prior_id BIGINT"))
      .getOrElse(spark.range(0).select(col("id").cast("string").as("bk"),
        col("id").as("prior_id")))

  /** Media-family per-key prior counts (the media guard's state). */
  private def mediaCountState(segs: Seq[String],
      hconf: org.apache.hadoop.conf.Configuration): DataFrame =
    readSub(segs, "mcnt", hconf, Some("bk STRING, cnt BIGINT"))
      .getOrElse(spark.range(0).select(col("id").cast("string").as("bk"),
        col("id").as("cnt")))

  /** Manifest entries a MEDIA fold must carry forward untouched (the
    * whole text-family state), and vice versa — the two families share
    * one manifest and one generation counter, so each fold re-publishes
    * the other family's entries verbatim. On a VIRGIN store a media
    * fold persists the text family's CREATION parameters (version, m,
    * n=0, window sizing, guard policy) exactly as a text-first fold
    * would, so whichever family folds first, every later open routes
    * with the creator's sizing. */
  private def textEntriesFor(man: Option[Map[String, String]])
      : Map[String, String] =
    man match {
      case Some(m) => m -- Seq("gen", "msegs", "mhot", "mn")
      case None =>
        Map("version" -> "2", "m" -> slotsOf(None).toString, "n" -> "0")
          .++(windowSlotsOf(None)
            .map(mw => Map("mw" -> mw.toString, "nw" -> "0"))
            .getOrElse(Map.empty))
          .++(
            if (autoHotThreshold) Map("hot" -> DedupIndex.AutoMarker)
            else if (hotBandThreshold > 0)
              Map("hot" -> hotBandThreshold.toString)
            else Map.empty)
    }

  /** Probe a batch of MEDIA perceptual hashes (`media_id` long,
    * `b0`..`b3` int — the [[graft.multimodal.MediaPipeline.MediaHash]]
    * shape the partition-local hash pass emits; payloads never reach
    * the store) against the accumulated media history, then commit the
    * batch into it — the maintained-store form of the m3 batch guard,
    * extending the index to the MEDIA key family (r17 verdict item 3).
    * Returns one row per batch record: `media_id`,
    * `near_candidate_ids` (sorted prior media ids sharing a cold
    * perceptual-hash band — the downstream exact-Hamming verify's
    * candidates), and — on guarded or auto-pending stores —
    * `phash_saturated` (the record holds a band whose LIFETIME prior
    * count reached the media threshold; its candidate list may be
    * incomplete — over-approximation, same contract as the text
    * family and the m3 batch rollup, which DedupSurfacesSpec pins as
    * a flag superset of these arrival-order flags).
    *
    * State = `mbands`/`mcnt` sub-dirs of generation dirs listed in a
    * SEPARATE `msegs` manifest entry (text segments carry no media
    * sub-dirs and vice versa — the read path treats a missing
    * referenced sub-dir as corruption, so the families keep disjoint
    * segment lists under the one atomic manifest). Batch-internal
    * duplicates are the next batch's history, like [[ingest]]. The
    * media guard threshold persists as `mhot` at the first media fold
    * (creation policy: this handle's explicit threshold / auto /
    * opt-out), AUTO deferring on the cumulative evidence floor with
    * counts persisted while pending — the text family's exact
    * discipline, calibrated on the media key distribution. */
  def ingestMedia(batch: DataFrame): DataFrame = {
    val man = manifest
    val hconf = spark.sessionState.newHadoopConf()
    val gen = man.flatMap(_.get("gen")).map(_.toLong).getOrElse(0L) + 1
    val msegs0 = liveMediaSegsOf(man)
    // the ONE key encoding (Multimodal.phashKeys — the same striped
    // keys the m3 batch guard blocks on), stringified into the shared
    // bands-state shape; cached: probe legs + counts + fold consume it
    val keys = graft.queries.Multimodal.phashKeys(batch)
      .select(col("id").as("media_id"), col("key").cast("string").as("bk"))
      .cache()
    val mbandSt = mediaBandState(msegs0, hconf)
    lazy val freshCounts = keys.groupBy("bk").agg(count(lit(1)).as("cnt"))
    val mhotOpt: Option[Long] = mhotOf(man, derive = {
      val cumulative = (
        if (msegs0.isEmpty) freshCounts
        else mediaCountState(msegs0, hconf).unionByName(freshCounts)
          .groupBy("bk").agg(sum(col("cnt")).as("cnt"))
      ).cache()
      try {
        val probe = cumulative
          .limit(DedupIndex.MinAutoEvidenceKeys.toInt).count()
        if (probe < DedupIndex.MinAutoEvidenceKeys) None
        else Some(DedupEnrich.deriveHotThresholdFromCounts(
          cumulative.select(col("cnt").cast("double").as("cnt"))))
      } finally cumulative.unpersist(false)
    }, creationFallback = true)
    val mnPrev: Option[Long] = man.flatMap(_.get("mn")).map(_.toLong)
    // the n-counter shortcut, media edition: no key's lifetime count
    // can exceed the media records ever folded
    val probeHot = mhotOpt.exists(hot => mnPrev.forall(_ >= hot))
    val hotKeys: Option[DataFrame] =
      if (!probeHot) None
      else mhotOpt.map { hot =>
        mediaCountState(msegs0, hconf)
          .join(broadcast(keys.select("bk").distinct()), Seq("bk"))
          .groupBy("bk").agg(sum(col("cnt")).as("prior_n"))
          .filter(col("prior_n") >= hot)
          .select("bk")
          .localCheckpoint()
      }
    val probeKeys = hotKeys.fold(keys.toDF())(hk =>
      keys.join(broadcast(hk), Seq("bk"), "left_anti"))
    val matches = probeKeys
      .join(mbandSt, Seq("bk"))
      .groupBy("media_id")
      .agg(array_sort(collect_set(col("prior_id"))).as("near_candidate_ids"))
    val satDocs: Option[DataFrame] = hotKeys.map(hk =>
      keys.join(broadcast(hk), Seq("bk"), "left_semi")
        .select("media_id").distinct().withColumn("_sat", lit(1)))
    val joined0 = batch.select("media_id")
      .join(matches, Seq("media_id"), "left")
    val joined = satDocs.fold(joined0)(joined0.join(_, Seq("media_id"), "left"))
    val result = joined
      .select(Seq(col("media_id"),
        coalesce(col("near_candidate_ids"),
          array().cast("array<long>")).as("near_candidate_ids"))
        // lifetime-stable verdict schema, like band_saturated
        ++ (if (mhotOpt.isDefined || mhotPending(man))
          Seq((if (mhotOpt.isDefined && probeHot)
            coalesce(col("_sat"), lit(0)) else lit(0))
            .as("phash_saturated"))
          else Nil): _*)
      .orderBy("media_id")
      .localCheckpoint()
    // fold: one new generation dir on the MEDIA segment list
    val newSeg = s"g$gen"
    val overBudget = msegs0.length + 1 > Mnemo.MaxSegments
    val mbandOut =
      if (overBudget)
        mediaBandState(msegs0, hconf).unionByName(
          keys.select(col("bk"), col("media_id").as("prior_id")))
      else keys.select(col("bk"), col("media_id").as("prior_id"))
    val mcntOut: Option[DataFrame] =
      if (mhotOpt.isDefined || mhotPending(man)) Some {
        if (overBudget)
          mediaCountState(msegs0, hconf).unionByName(freshCounts)
            .groupBy("bk").agg(sum(col("cnt")).as("cnt"))
        else freshCounts
      }
      else None
    mbandOut.write.mode(SaveMode.Overwrite).parquet(s"$path/$newSeg/mbands")
    mcntOut.foreach(_.write.mode(SaveMode.Overwrite)
      .parquet(s"$path/$newSeg/mcnt"))
    val msegs = if (overBudget) Seq(newSeg) else msegs0 :+ newSeg
    val mnNew: Option[Long] =
      (if (msegs0.isEmpty && mnPrev.isEmpty) Some(0L) else mnPrev)
        .map(_ + result.count())
    ManifestIO.write(path, textEntriesFor(man)
      ++ Map("gen" -> gen.toString, "msegs" -> msegs.mkString(","))
      ++ mnNew.map(n => Map("mn" -> n.toString)).getOrElse(Map.empty)
      ++ mhotOpt.map(h => Map("mhot" -> h.toString)).getOrElse(
        if (mhotPending(man)) Map("mhot" -> DedupIndex.AutoMarker)
        // opt-out persists as mhot=0: a re-open must route opted-out
        // for life, never resurrect the guard (review finding)
        else Map("mhot" -> "0")))
    // live set = BOTH families' segments (a media fold must never
    // sweep text generations, nor vice versa)
    ManifestIO.gc(path, (liveSegsOf(man) ++ msegs).toSet)
    keys.unpersist()
    result
  }

  /** Probe `batch` (`doc_id` long, `text` string) against the
    * accumulated history, then commit the batch INTO the history —
    * one atomic manifest publish. Returns one row per batch doc:
    * `doc_id`, `maybe_dup` (Bloom verdict vs history: 0 = proven new,
    * 1 = candidate for the exact confirm path), `near_candidate_ids`
    * (sorted prior ids sharing a MinHash band — the d10 candidates),
    * and — on window-enabled stores only — `shared_window_frac` (the
    * fraction of the doc's W-token windows probably seen in history,
    * the d9 granularity maintained incrementally; never reads low).
    * The result is pinned eagerly (localCheckpoint) BEFORE the
    * commit, so a compaction in this very commit can never invalidate
    * the frame a caller is still consuming. */
  def ingest(batch: DataFrame): DataFrame = ingestInternal(batch, None)

  /** [[ingest]] with an at-least-once replay guard — the overload a
    * streaming `foreachBatch` driver MUST use. Spark's foreachBatch
    * contract is at-least-once: after a failure the sink re-runs the
    * last micro-batch with the SAME `batchId`. Without the guard a
    * re-delivered batch probes state that already contains itself —
    * every replayed doc flips to `maybe_dup = 1` and band-matches its
    * own ghost — and its positions/bands fold into the state a second
    * time. Guarded: each commit records its `batchId` AND persists the
    * batch's verdict frame inside the committed generation dir, so a
    * replay of the last-committed id returns the ORIGINAL verdicts
    * verbatim and leaves the state untouched (exactly-once effective
    * semantics). A batchId older than the last committed one is
    * outside foreachBatch's replay window (it only re-runs the most
    * recent batch) and throws — silence there would mean two drivers
    * or a rewound checkpoint, both corruption in a single-writer
    * store. Mixing this overload with the unguarded [[ingest]] on one
    * store is a contract violation: the unguarded path clears the
    * replay bookkeeping so a stale guard can never serve outdated
    * verdicts. */
  def ingest(batch: DataFrame, batchId: Long): DataFrame =
    ingestInternal(batch, Some(batchId))

  private def ingestInternal(batch: DataFrame,
      batchId: Option[Long]): DataFrame = {
    val man = manifest
    val lastBatch = man.flatMap(_.get("batch")).map(_.toLong)
    (batchId, lastBatch) match {
      case (Some(id), Some(lb)) if id == lb =>
        // replay of the committed batch: state already contains it —
        // return the verdicts persisted WITH that commit, fold nothing
        val vseg = man.flatMap(_.get("verdict_seg")).getOrElse(
          throw new IllegalStateException(
            s"dedup index at $path: batch $id committed without a verdict dir"))
        // pinned eagerly like the live path's result: the caller may
        // hold this frame across a LATER ingest whose compaction gc's
        // the generation dir the verdict parquet lives in — a lazy
        // read would then fail mid-consumption
        return spark.read.parquet(s"$path/$vseg/verdict").orderBy("doc_id")
          .localCheckpoint()
      case (Some(id), Some(lb)) if id < lb =>
        throw new IllegalStateException(
          s"dedup index at $path: batch $id replayed after $lb was committed — " +
            "beyond foreachBatch's one-batch replay window (second writer or " +
            "rewound checkpoint)")
      case _ => ()
    }
    val m = slotsOf(man)
    val ver = versionOf(man)
    val mwOpt = windowSlotsOf(man)
    val segs0 = liveSegsOf(man)
    val hconf = spark.sessionState.newHadoopConf()
    val bloomSt = bloomState(segs0, ver, hconf)
    val bandSt = bandState(segs0, hconf)
    val gen = man.flatMap(_.get("gen")).map(_.toLong).getOrElse(0L) + 1
    val enriched = enrich(batch, m, mwOpt.isDefined).cache()

    // probe: Bloom membership = every one of the doc's distinct
    // positions present in the state. v2 probes the packed words: an
    // equi-join on word_idx plus a per-position bit test (distinct on
    // (doc_id, pos) first — overlapping segments can carry the same
    // word, and a position must count once however many words attest
    // it); v1 keeps the position-row semi-join.
    val posExploded = enriched
      .select(col("doc_id"), explode(col("positions")).as("pos"))
    val posMatches =
      (if (ver == 1)
        posExploded.join(bloomSt, Seq("pos"), "left_semi")
      else
        posExploded
          .withColumn("word_idx", shiftright(col("pos"), 6))
          .join(bloomSt, Seq("word_idx"))
          .filter(expr("(shiftright(bits, cast((pos & 63) as int)) & 1) = 1"))
          .select("doc_id", "pos").distinct())
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    // hot-band guard: resolve the batch's SATURATED band keys before
    // the band equi-join ever runs — the counts state is joined against
    // the (bounded, broadcast) batch key set and aggregated to per-key
    // prior totals, so the guard itself shuffles O(batch keys), and the
    // candidate join below only ever sees keys under the threshold.
    // Filtering AFTER the join would materialize the very explosion
    // the guard exists to prevent.
    //
    // EXACT shortcut: a band's count can never exceed the TOTAL docs
    // ever folded (each doc contributes a key at most once), so while
    // the manifest's cumulative doc counter `n` is below the threshold
    // NO band can be hot and the probe legs are skipped entirely —
    // the guard is free until the store is big enough to need it
    // (BENCH_WRITES showed the unconditional probe costing ~1.4x on
    // small stores). A guarded manifest missing `n` (hand-built)
    // probes unconditionally — the safe direction.
    val batchBands = enriched
      .select(col("doc_id"), explode(col("bands")).as("bk"))
    // threshold resolution through the ONE shared resolver (review
    // finding: an inline copy of hotOf's branches could drift from
    // what describe() reports). Under AUTO, the threshold derives via
    // the SHARED DedupEnrich formula over the CUMULATIVE per-band
    // counts — prior `bcnt` state plus this batch (pending folds
    // persist their counts below, so no evidence is ever lost while
    // waiting) — and persists exactly like a caller constant (the
    // `m`/`mw` discipline). Deriving from cumulative COUNTS, not the
    // batch's raw (id, key) rows, is both the only option history
    // allows (state holds counts, not ids) and the calibrated one:
    // the guard triggers on the summed lifetime count, so H comes
    // from that same distribution. The derivation DEFERS — `hot=auto`
    // persists and the next fold retries — until the cumulative
    // distinct-key count clears [[DedupIndex.MinAutoEvidenceKeys]]: an
    // empty stream-start fold (the original r15 review finding) and a
    // trivially small first fold (a 2-doc batch, ADVICE r16/verdict
    // item) would otherwise lock a lifetime H from occupancy noise —
    // the median of a handful of keys says nothing about the corpus.
    // the per-key batch counts, built ONCE: the AUTO derivation (below)
    // and the bcnt state fold (later) both consume them (review
    // finding: three inline copies re-aggregated the batch per use)
    lazy val freshBandCounts =
      batchBands.groupBy("bk").agg(count(lit(1)).as("cnt"))
    val hotOpt: Option[Long] = hotOf(man, derive = {
      val cumulative = (
        if (segs0.isEmpty) freshBandCounts
        else bandCountState(segs0, hconf).unionByName(freshBandCounts)
          .groupBy("bk").agg(sum(col("cnt")).as("cnt"))
      ).cache() // bounded by the store's distinct keys; two consumers
      try {
        val probe = cumulative
          .limit(DedupIndex.MinAutoEvidenceKeys.toInt).count()
        if (probe < DedupIndex.MinAutoEvidenceKeys) None
        else Some(DedupEnrich.deriveHotThresholdFromCounts(
          cumulative.select(col("cnt").cast("double").as("cnt"))))
      } finally cumulative.unpersist(false)
    })
    val nPrev: Option[Long] = man.flatMap(_.get("n")).map(_.toLong)
    val probeHot = hotOpt.exists(hot => nPrev.forall(_ >= hot))
    val hotKeys: Option[DataFrame] =
      if (!probeHot) None
      else hotOpt.map { hot =>
        bandCountState(segs0, hconf)
          .join(broadcast(batchBands.select("bk").distinct()), Seq("bk"))
          .groupBy("bk").agg(sum(col("cnt")).as("prior_n"))
          .filter(col("prior_n") >= hot)
          .select("bk")
          .localCheckpoint() // bounded by the batch's key count; consumed twice
      }
    val probeBands = hotKeys.fold(batchBands)(hk =>
      batchBands.join(broadcast(hk), Seq("bk"), "left_anti"))
    val bandMatches = probeBands
      .join(bandSt, Seq("bk"))
      .groupBy("doc_id")
      .agg(array_sort(collect_set(col("prior_id"))).as("near_candidate_ids"))
    val satDocs: Option[DataFrame] = hotKeys.map(hk =>
      batchBands.join(broadcast(hk), Seq("bk"), "left_semi")
        .select("doc_id").distinct().withColumn("_sat", lit(1)))
    // window leg (opt-in): a window counts as seen iff ALL its k slot
    // positions are set in the window Bloom; a position is set iff ANY
    // state word attests it (overlapping segments may carry the same
    // word) — hence the exists-then-forall aggregate ladder, which
    // shuffles only (id, 16-byte hash, position) triples
    val wbloomSt = mwOpt.map(_ => wbloomState(segs0, hconf))
    val windowProbe: Option[DataFrame] = mwOpt.map { mw =>
      enriched.select(col("doc_id"), explode(col("ws")).as("wh"))
        .select(col("doc_id"), col("wh"),
          explode(array_distinct(
            DedupEnrich.bloomPositions(col("wh"), lit(mw)))).as("pos"))
        .withColumn("word_idx", shiftright(col("pos"), 6))
        .join(wbloomSt.get, Seq("word_idx"), "left")
        .withColumn("hit",
          coalesce(expr("(shiftright(bits, cast((pos & 63) as int)) & 1) = 1"),
            lit(false)))
        .groupBy("doc_id", "wh", "pos").agg(max(col("hit").cast("int")).as("p"))
        .groupBy("doc_id", "wh").agg(min(col("p")).as("w"))
        .groupBy("doc_id").agg(sum(col("w")).as("n_shared_windows"))
    }
    // window-Bloom load DISCLOSURE: the fraction of set bits in the
    // Bloom this batch's fracs were probed against (history, pre-fold).
    // An over-capacity window store inflates `shared_window_frac` —
    // documented as the safe direction (reads high, never low), but a
    // consumer acting on the frac needs to KNOW it is degraded; at
    // fill f the per-window FP is ~f^k. LAZY like the hot-guard's
    // n-counter shortcut: the manifest's cumulative window-hash count
    // `nw` bounds set bits above by k·nw, so while that bound is under
    // [[DedupIndex.FillExactBound]] the store cannot be degraded and
    // the BOUND is emitted (still reads high, never low) with no state
    // scan at all — the exact O(state words) bit_count aggregate
    // (word-wise OR first: overlapping segments may attest the same
    // word) runs only once the store could plausibly be filling, or on
    // a hand-built manifest that never carried the counter. Keeps the
    // per-micro-batch streaming cost O(batch) on healthy stores
    // instead of O(windowCapacity/64) always.
    val nwPrev: Option[Long] =
      if (man.isEmpty) Some(0L) else man.flatMap(_.get("nw")).map(_.toLong)
    val wbloomFill: Option[Double] = mwOpt.map { mw =>
      val bound = nwPrev.map(nw => DedupEnrich.BloomK * nw.toDouble / mw)
      bound match {
        case Some(b) if b < DedupIndex.FillExactBound => b
        case _ =>
          val r = wbloomSt.get
            .groupBy("word_idx").agg(expr("bit_or(bits)").as("bits"))
            .agg(sum(expr("bit_count(bits)"))).collect()(0)
          if (r.isNullAt(0)) 0.0 else r.getLong(0).toDouble / mw
      }
    }
    val joined0 = enriched
      .join(posMatches, Seq("doc_id"), "left")
      .join(bandMatches, Seq("doc_id"), "left")
    val joined1 = windowProbe.fold(joined0)(joined0.join(_, Seq("doc_id"), "left"))
    val joined = satDocs.fold(joined1)(joined1.join(_, Seq("doc_id"), "left"))
    val result = joined
      .select(Seq(col("doc_id"),
        (coalesce(col("n_hit"), lit(0L)) === size(col("positions")))
          .cast("int").as("maybe_dup"),
        coalesce(col("near_candidate_ids"),
          array().cast("array<long>")).as("near_candidate_ids"))
        ++ mwOpt.map(_ =>
          when(size(col("ws")) > 0,
            round(coalesce(col("n_shared_windows"), lit(0L)).cast("double")
              / size(col("ws")), 6))
            .otherwise(lit(0.0)).as("shared_window_frac")).toSeq
        // present whenever the store is guarded OR auto-pending: an
        // AUTO store's verdict schema must be stable for its LIFETIME
        // (pre-evidence folds emit the column as 0), or a
        // schema-strict sink created on the stream-start empty batch
        // rejects every fold after the derivation (review finding)
        ++ (if (hotOpt.isDefined || hotPending(man))
          Seq((if (hotOpt.isDefined && probeHot)
            coalesce(col("_sat"), lit(0)) else lit(0))
            .as("band_saturated"))
          else Nil)
        ++ wbloomFill.map(f =>
          lit(BigDecimal(f).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble).as("wbloom_fill")).toSeq: _*)
      .orderBy("doc_id")
      .localCheckpoint()

    // fold the batch into the state: one new generation dir, published
    // by one manifest rename; compact everything into that dir when
    // the segment count is over budget
    val newSeg = s"g$gen"
    val overBudget = segs0.length + 1 > Mnemo.MaxSegments
    val batchPos = enriched.select(explode(col("positions")).as("pos"))
    val bloomOut =
      if (ver == 1) {
        if (overBudget) bloomSt.unionByName(batchPos).distinct()
        else batchPos.distinct()
      } else {
        // packed: the batch's words; on compaction every segment's
        // words OR-merge with them (bit_or is the set union)
        val words = packWords(batchPos)
        if (overBudget)
          bloomSt.unionByName(words)
            .groupBy("word_idx").agg(expr("bit_or(bits)").as("bits"))
        else words
      }
    val bandOut =
      if (overBudget)
        bandSt.unionByName(
          enriched.select(explode(col("bands")).as("bk"),
            col("doc_id").as("prior_id")))
      else
        enriched.select(explode(col("bands")).as("bk"),
          col("doc_id").as("prior_id"))
    // hot-guard counts fold with the bands they count — saturated keys
    // keep counting too (state stays COMPLETE; the guard is probe-side
    // only, and a count that stopped growing would let a band flap
    // back under the threshold)
    // guarded AND auto-pending folds persist their band counts: a
    // pending fold's evidence must accumulate toward the derivation
    // floor (and be part of the eventually-derived distribution) —
    // deferring the THRESHOLD must never discard guard STATE. The
    // uniform segment shape also matters structurally: the read path
    // deliberately treats a manifest-referenced segment missing a sub
    // dir as corruption.
    val bcntOut: Option[DataFrame] =
      if (hotOpt.isDefined || hotPending(man)) Some {
        if (overBudget)
          bandCountState(segs0, hconf).unionByName(freshBandCounts)
            .groupBy("bk").agg(sum(col("cnt")).as("cnt"))
        else freshBandCounts
      }
      else None
    val wbloomOut: Option[DataFrame] = mwOpt.map { mw =>
      val words = packWords(enriched
        .select(explode(col("ws")).as("wh"))
        .select(explode(array_distinct(
          DedupEnrich.bloomPositions(col("wh"), lit(mw)))).as("pos")))
      if (overBudget)
        wbloomSt.get.unionByName(words)
          .groupBy("word_idx").agg(expr("bit_or(bits)").as("bits"))
      else words
    }
    bloomOut.write.mode(SaveMode.Overwrite).parquet(s"$path/$newSeg/bloom")
    bandOut.write.mode(SaveMode.Overwrite).parquet(s"$path/$newSeg/bands")
    bcntOut.foreach(_.write.mode(SaveMode.Overwrite)
      .parquet(s"$path/$newSeg/bcnt"))
    wbloomOut.foreach(_.write.mode(SaveMode.Overwrite)
      .parquet(s"$path/$newSeg/wbloom"))
    // replay bookkeeping: the verdict frame persists INSIDE the new
    // generation dir, published by the same manifest rename — so "which
    // batch committed" and "what it was told" are one atomic fact
    batchId.foreach(_ => result.write.mode(SaveMode.Overwrite)
      .parquet(s"$path/$newSeg/verdict"))
    val segs = if (overBudget) Seq(newSeg) else segs0 :+ newSeg
    // cumulative doc counter: exact when the store has carried it since
    // creation (every store this code creates); a hand-built manifest
    // without it never grows one — the hot-guard shortcut then probes
    // unconditionally rather than trust a counter that missed history
    val nNew: Option[Long] =
      (if (man.isEmpty) Some(0L) else nPrev).map(_ + result.count())
    // cumulative window-hash counter (same discipline as `n`): one
    // O(batch) aggregate over the cached frame, upper-bounds the window
    // Bloom's set bits at k·nw for the lazy fill disclosure above
    val nwNew: Option[Long] = mwOpt.flatMap { _ =>
      nwPrev.map { nw =>
        val r = enriched.agg(sum(size(col("ws")))).collect()(0)
        nw + (if (r.isNullAt(0)) 0L else r.getLong(0))
      }
    }
    ManifestIO.write(path, Map(
      "version" -> ver.toString, "m" -> m.toString,
      "gen" -> gen.toString, "segs" -> segs.mkString(","))
      ++ nNew.map(n => Map("n" -> n.toString)).getOrElse(Map.empty)
      ++ nwNew.map(v => Map("nw" -> v.toString)).getOrElse(Map.empty)
      ++ mwOpt.map(mw => Map("mw" -> mw.toString)).getOrElse(Map.empty)
      // a still-pending AUTO threshold persists as the literal marker,
      // so the NEXT fold (on this or any re-opened handle) keeps
      // trying to derive — a re-open with a constant cannot override
      // a committed auto decision any more than it can override a
      // committed constant
      ++ hotOpt.map(h => Map("hot" -> h.toString)).getOrElse(
        if (hotPending(man)) Map("hot" -> DedupIndex.AutoMarker)
        else Map.empty)
      ++ batchId.map(id => Map(
        "batch" -> id.toString, "verdict_seg" -> newSeg)).getOrElse(Map.empty)
      // the media family's state rides every text commit verbatim
      // (shared manifest, disjoint segment lists — see ingestMedia)
      ++ man.map(_.view.filterKeys(Set("msegs", "mhot", "mn")).toMap)
        .getOrElse(Map.empty))
    // sweep superseded generations and any crashed writer's orphans —
    // BOTH families' live segments are off-limits
    ManifestIO.gc(path, segs.toSet ++ liveMediaSegsOf(man))
    enriched.unpersist()
    result
  }

  /** Operator-facing health view of the maintained state: manifest
    * facts (driver-side reads) plus O(state) fill/count aggregates —
    * the view every maintained store eventually needs when someone
    * asks "is this index still healthy at its current size". Bloom
    * fills are exact set-bit fractions (per-probe FP ≈ fill^k), band
    * counts come from the hot-guard counts state (None on unguarded
    * stores — computing them there would be a full distinct over the
    * bands table, which is exactly the scan the guard exists to
    * avoid). A never-committed store reports its creation-time
    * sizing with zero fill. */
  def describe(): DedupIndex.Health = {
    val man = manifest
    val ver = versionOf(man)
    val m = slotsOf(man)
    val mwOpt = windowSlotsOf(man)
    val hotOpt = hotOf(man)
    val segs = liveSegsOf(man)
    val hconf = spark.sessionState.newHadoopConf()
    def packedFill(df: DataFrame, slots: Long): Double = {
      val r = df.groupBy("word_idx").agg(expr("bit_or(bits)").as("bits"))
        .agg(sum(expr("bit_count(bits)"))).collect()(0)
      if (r.isNullAt(0)) 0.0 else r.getLong(0).toDouble / slots
    }
    val bloomFill =
      if (segs.isEmpty) 0.0
      else if (ver == 1)
        bloomState(segs, ver, hconf).distinct().count().toDouble / m
      else packedFill(bloomState(segs, ver, hconf), m)
    val windowFill = mwOpt.map { mw =>
      if (segs.isEmpty) 0.0 else packedFill(wbloomState(segs, hconf), mw)
    }
    val pending = hotPending(man)
    val (bandKeys, hotBands) = hotOpt match {
      case Some(hot) if segs.nonEmpty =>
        val totals = bandCountState(segs, hconf)
          .groupBy("bk").agg(sum(col("cnt")).as("n"))
          .agg(count(lit(1)).as("keys"),
            sum((col("n") >= hot).cast("long")).as("hot")).collect()(0)
        (Some(if (totals.isNullAt(0)) 0L else totals.getLong(0)),
          Some(if (totals.isNullAt(1)) 0L else totals.getLong(1)))
      case Some(_) => (Some(0L), Some(0L))
      case None if pending && segs.nonEmpty =>
        // an AUTO store still gathering derivation evidence: report
        // how many distinct keys it has seen (the operator-facing
        // "how far from the MinAutoEvidenceKeys floor am I" signal);
        // no threshold exists, so no hot count can
        val keys = bandCountState(segs, hconf)
          .select("bk").distinct().count()
        (Some(keys), None)
      case None => (None, None)
    }
    // media-family facts (same shape as the text band stats, off the
    // mcnt state; a store with no media folds reports zeros/Nones)
    val msegs = liveMediaSegsOf(man)
    // fully-virgin store (neither family has folded): report the
    // creation-time policy this handle would apply, mirroring the
    // text family's creation-time sizing report (and mhotOf's own
    // contract — "describe() on a fully virgin store"). Once EITHER
    // family has segments, only persisted decisions are reported.
    val mhotOpt = mhotOf(man,
      creationFallback = segs.isEmpty && msegs.isEmpty)
    val mPending = mhotPending(man)
    val (mediaKeys, hotMediaKeys) = mhotOpt match {
      case Some(hot) if msegs.nonEmpty =>
        val totals = mediaCountState(msegs, hconf)
          .groupBy("bk").agg(sum(col("cnt")).as("n"))
          .agg(count(lit(1)).as("keys"),
            sum((col("n") >= hot).cast("long")).as("hot")).collect()(0)
        (Some(if (totals.isNullAt(0)) 0L else totals.getLong(0)),
          Some(if (totals.isNullAt(1)) 0L else totals.getLong(1)))
      case Some(_) => (Some(0L), Some(0L))
      case None if mPending && msegs.nonEmpty =>
        (Some(mediaCountState(msegs, hconf)
          .select("bk").distinct().count()), None)
      case None => (None, None)
    }
    DedupIndex.Health(
      version = ver,
      generation = man.flatMap(_.get("gen")).map(_.toLong).getOrElse(0L),
      segments = segs.length,
      bloomSlots = m,
      bloomFill = bloomFill,
      windowSlots = mwOpt,
      windowFill = windowFill,
      hotBandThreshold = hotOpt,
      hotAutoPending = pending,
      bandKeys = bandKeys,
      hotBands = hotBands,
      lastBatchId = man.flatMap(_.get("batch")).map(_.toLong),
      mediaSegments = msegs.length,
      mediaHotThreshold = mhotOpt,
      mediaAutoPending = mPending,
      mediaKeys = mediaKeys,
      hotMediaKeys = hotMediaKeys)
  }
}

object DedupIndex {

  /** Default hot-band saturation threshold: the largest per-band
    * candidate set the probe will enumerate before flagging instead.
    * 10k prior ids is an 80 KB `near_candidate_ids` array — already
    * past the point where enumerating candidates beats sending the
    * doc straight to the downstream exact verify, and far past any
    * selectivity a HEALTHY LSH band exhibits (a band this hot is
    * boilerplate, not similarity signal). */
  val DefaultHotBandThreshold: Long = 10000L

  /** `autoHotThreshold = true` at creation DERIVES the threshold
    * from the first fold's band occupancy instead of fixing it blind —
    * the maintained-store twin of the query surface's
    * `graft.dedup.hotThreshold=auto` (the same
    * [[graft.functions.DedupEnrich.deriveHotThreshold]]
    * median-occupancy × slack formula, the same rationale: the right
    * threshold depends on the corpus the store will actually see, and
    * the first fold is the earliest evidence of it). A dedicated
    * BOOLEAN, not a `hotBandThreshold` sentinel: every non-positive
    * threshold value already means "opt out for life" (the pre-auto
    * contract), so a numeric sentinel would silently invert an
    * existing caller's opt-out into auto-guarding. The derived value
    * is persisted (`hot=`) and rules every later open; `describe()`
    * reports it once a fold with evidence commits (None before — no
    * threshold exists yet). Folds that carry NO band keys (the empty
    * first micro-batches of a stream) DEFER the derivation — the
    * manifest holds the literal `hot=auto` marker until the first fold
    * with occupancy evidence, so a stream-start empty batch can never
    * lock the formula's floor in as the lifetime threshold; deferred
    * folds fold no band counts either, so the guard state stays
    * complete. The `band_saturated` column is present on verdicts for
    * the store's whole lifetime (pre-evidence folds emit it as 0 —
    * schema-strict sinks must see one stable shape). Only meaningful
    * at creation: re-opens always route with the manifest.
    *
    * Manifest value for an AUTO store still awaiting its first
    * occupancy evidence. */
  private[graft] val AutoMarker: String = "auto"

  /** Minimum CUMULATIVE distinct band keys before an AUTO store locks
    * its lifetime threshold (ADVICE r16 / verdict item 5): the
    * median-occupancy formula over a handful of keys is noise — a
    * 2-doc first fold (<= 8 keys) must keep deferring, while ~4+ docs
    * of evidence (16 keys at 4 bands/doc) is enough for the median to
    * sit on its plateau. Evidence accumulates across deferred folds
    * (their counts persist), so slow streams converge too. */
  private[graft] val MinAutoEvidenceKeys: Long = 16L

  /** Fill level below which the per-ingest `wbloom_fill` disclosure
    * may be the cheap counter-derived UPPER BOUND (k·nw/mw) instead of
    * the exact set-bit aggregate. At 1/8 fill the per-window FP bound
    * is (1/8)^4 ≈ 2.4e-4 — far from degraded, so the exact number adds
    * nothing a consumer would act on, while the exact aggregate costs
    * O(windowCapacity/64) rows on EVERY windowed micro-batch. Both
    * forms read high, never low. [[DedupIndex.describe]] always
    * reports the exact fill. */
  val FillExactBound: Double = 0.125

  /** [[DedupIndex.describe]]'s report. Fill fractions are exact
    * set-bit ratios of the packed Blooms (per-probe FP ≈ fill^k at
    * k = [[graft.functions.DedupEnrich.BloomK]]); `hotBands` counts
    * band keys at/over the persisted threshold — a growing number on
    * a templated corpus is the guard working, not failing. */
  case class Health(
      version: Int, generation: Long, segments: Int,
      bloomSlots: Long, bloomFill: Double,
      windowSlots: Option[Long], windowFill: Option[Double],
      hotBandThreshold: Option[Long],
      hotAutoPending: Boolean,
      bandKeys: Option[Long], hotBands: Option[Long],
      lastBatchId: Option[Long],
      mediaSegments: Int = 0,
      mediaHotThreshold: Option[Long] = None,
      mediaAutoPending: Boolean = false,
      mediaKeys: Option[Long] = None,
      hotMediaKeys: Option[Long] = None)
}
