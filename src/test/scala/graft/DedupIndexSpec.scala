package graft

import java.nio.file.{Files, Paths}

import graft.api.{DedupIndex, ManifestIO, Mnemo}
import org.apache.spark.sql.functions._

/** The maintained incremental-dedup store: probe-then-fold semantics,
  * crash-atomic manifest commits, append-only segment identity, the
  * compaction bound, and persisted Bloom sizing across re-opens. */
class DedupIndexSpec extends SparkSpec {

  private val base =
    "the quick brown fox jumps over the lazy dog again and again tonight"

  private def freshDir(): String = {
    val d = Files.createTempDirectory("dedup-index").toFile
    d.delete()
    d.getAbsolutePath
  }

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  private def verdicts(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toList)).toList

  test("first ingest is all-new; second flags exact and near dups vs history only") {
    val idx = new DedupIndex(spark, freshDir(), capacity = 1000)
    val b1 = verdicts(idx.ingest(docs(
      1L -> base,
      2L -> "completely different content about databases and sorting")))
    assert(b1 == List((1L, 0, Nil), (2L, 0, Nil)), s"batch 1: $b1")
    val b2 = verdicts(idx.ingest(docs(
      3L -> base, // exact re-post of doc 1
      4L -> (base + " ok"), // near-dup of doc 1 (band match, not exact)
      5L -> "entirely novel text about sailing boats and tides")))
    val m = b2.map(v => v._1 -> v).toMap
    assert(m(3L)._2 == 1 && m(3L)._3.contains(1L),
      s"exact re-post must bloom-flag AND band-match doc 1: ${m(3L)}")
    assert(m(4L)._2 == 0 && m(4L)._3.contains(1L),
      s"near-dup must band-match doc 1 but probe bloom-new: ${m(4L)}")
    assert(m(5L) == ((5L, 0, Nil)), s"novel doc must be clean: ${m(5L)}")
  }

  test("ingest is append-only: prior generation files keep byte identity") {
    val dir = freshDir()
    val idx = new DedupIndex(spark, dir, capacity = 1000)
    idx.ingest(docs(1L -> base)).collect()
    def segFiles(): Map[String, Long] = {
      val segs = ManifestIO.read(dir).get("segs").split(",").toSeq
      segs.flatMap { s =>
        Seq("bloom", "bands").flatMap { sub =>
          val d = new java.io.File(s"$dir/$s/$sub")
          d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => f.getAbsolutePath -> f.lastModified())
        }
      }.toMap
    }
    val before = segFiles()
    idx.ingest(docs(2L -> "some fresh unrelated content here")).collect()
    val after = segFiles()
    assert(before.toSet.subsetOf(after.toSet),
      "a later ingest must not rewrite or touch earlier segment files")
    assert(after.size > before.size, "the new batch must add its own segment")
  }

  test("crashed writer's orphan dir is swept by the next commit; state survives") {
    val dir = freshDir()
    val idx = new DedupIndex(spark, dir, capacity = 1000)
    idx.ingest(docs(1L -> base)).collect()
    // simulate a writer that died after data write, before manifest
    Files.createDirectories(Paths.get(dir, "g99", "bloom"))
    Files.writeString(Paths.get(dir, "g99", "bloom", "junk"), "x")
    val b2 = verdicts(idx.ingest(docs(2L -> base)))
    assert(b2.head._2 == 1 && b2.head._3 == List(1L),
      s"dup detection must survive the orphan: $b2")
    assert(!Files.exists(Paths.get(dir, "g99")),
      "commit must sweep the crashed writer's unpublished dir")
  }

  test("segments compact back to one past the bound; detection still exact across it") {
    val dir = freshDir()
    val idx = new DedupIndex(spark, dir, capacity = 1000)
    (1 to Mnemo.MaxSegments + 2).foreach { i =>
      idx.ingest(docs(i.toLong -> s"unique document number $i about topic $i")).collect()
    }
    val segs = ManifestIO.read(dir).get("segs").split(",").filter(_.nonEmpty)
    assert(segs.length <= Mnemo.MaxSegments,
      s"segment count ${segs.length} exceeds the compaction bound")
    // a doc first ingested BEFORE the compaction still dup-flags after it
    val v = verdicts(idx.ingest(docs(
      100L -> "unique document number 1 about topic 1")))
    assert(v.head._2 == 1 && v.head._3.contains(1L),
      s"pre-compaction history must survive compaction: $v")
  }

  test("a re-open routes with the manifest's persisted bloom sizing, not its own capacity") {
    val dir = freshDir()
    new DedupIndex(spark, dir, capacity = 1000).ingest(docs(1L -> base)).collect()
    val mPersisted = ManifestIO.read(dir).get("m")
    // a second open with a WILDLY different capacity default must keep
    // probing with the creator's slot count — otherwise every position
    // hashes differently and history silently stops matching
    val reopened = new DedupIndex(spark, dir, capacity = 7L)
    val v = verdicts(reopened.ingest(docs(2L -> base)))
    assert(v.head._2 == 1 && v.head._3 == List(1L),
      s"re-open lost the persisted sizing: $v")
    assert(ManifestIO.read(dir).get("m") == mPersisted,
      "a later commit must carry the creator's slot count forward")
  }

  test("an empty ingest batch neither breaks the store nor loses history") {
    val dir = freshDir()
    val idx = new DedupIndex(spark, dir, capacity = 1000)
    idx.ingest(docs(1L -> base)).collect()
    val empty = verdicts(idx.ingest(docs()))
    assert(empty.isEmpty)
    // the zero-row segment the empty commit published must stay
    // readable, and history must still match through it
    val v = verdicts(idx.ingest(docs(2L -> base)))
    assert(v.head._2 == 1 && v.head._3 == List(1L),
      s"history lost after an empty commit: $v")
  }

  test("streaming foreachBatch drives ingest: verdicts accumulate per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val idx = new DedupIndex(spark, freshDir(), capacity = 1000)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, List[Long])]
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // the batchId overload IS the foreachBatch contract: it makes
        // a replayed micro-batch idempotent (see the replay tests)
        seen ++= idx.ingest(b, batchId).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toList))
        ()
      }.start()
    try {
      src.addData(1L -> base); q.processAllAvailable()
      src.addData(2L -> base); q.processAllAvailable()
      assert(seen.toList == List((1L, 0, Nil), (2L, 1, List(1L))),
        s"cross-micro-batch dedup state drifted: ${seen.toList}")
    } finally q.stop()
  }

  test("window leg: shared_window_frac is the d9 granularity, incremental, exact on a sized store") {
    val dir = freshDir()
    val idx = new DedupIndex(spark, dir, capacity = 1000, windowCapacity = 50000)
    val run = (11 to 30).map(i => s"tok$i").mkString(" ")
    val doc1 = (1 to 40).map(i => s"tok$i").mkString(" ")
    // 20 fresh tokens + doc1's tok11..tok30 run: of doc4's 25 windows,
    // exactly the 5 fully inside the copied run replicate doc1's
    val doc4 = (1 to 20).map(i => s"fresh$i").mkString(" ") + " " + run

    val b1 = idx.ingest(docs(1L -> doc1), batchId = 0L)
    assert(b1.columns.contains("shared_window_frac"),
      "window-enabled store must report the window column")
    assert(b1.collect().head.getDouble(3) == 0.0, "empty history shares nothing")

    val b2 = idx.ingest(docs(
      2L -> doc1, // exact re-post: every window seen
      3L -> "totally different words about completely other topics here now maybe even more of them to pass the window width threshold okay",
      4L -> doc4), batchId = 1L)
    val m = b2.collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(m(2L) == 1.0, s"exact re-post must share all windows: $m")
    assert(m(3L) == 0.0, s"unrelated doc must share none: $m")
    assert(math.abs(m(4L) - 0.2) < 1e-9,
      s"doc 4 shares exactly 5 of its 25 windows with history: $m")

    // replay returns the window column verbatim too
    val replay = idx.ingest(docs(
      2L -> doc1,
      3L -> "totally different words about completely other topics here now maybe even more of them to pass the window width threshold okay",
      4L -> doc4), batchId = 1L)
    assert(replay.collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap == m)

    // the window sizing persists like m: a re-open with a DIFFERENT
    // windowCapacity keeps probing with the creator's slot count
    val mw = ManifestIO.read(dir).get("mw")
    val reopened = new DedupIndex(spark, dir, capacity = 7L, windowCapacity = 3L)
    val v = reopened.ingest(docs(5L -> doc1)).collect().head
    assert(v.getDouble(3) == 1.0, "re-open lost the window state")
    assert(ManifestIO.read(dir).get("mw") == mw)
  }

  test("window leg stays OFF for stores created without it — no mid-life enablement") {
    val dir = freshDir()
    new DedupIndex(spark, dir, capacity = 1000).ingest(docs(1L -> base)).collect()
    // re-open WITH a window capacity: history was never window-folded,
    // so enabling now would under-report sharing — must stay off
    val reopened = new DedupIndex(spark, dir, capacity = 1000,
      windowCapacity = 50000)
    val r = reopened.ingest(docs(2L -> base))
    assert(!r.columns.contains("shared_window_frac"),
      "an unwindowed store must not grow the column mid-life")
    assert(!ManifestIO.read(dir).get.contains("mw"),
      "the manifest of an unwindowed store must never grow an mw key")
  }

  test("a replayed micro-batch returns the ORIGINAL verdicts and folds nothing (at-least-once -> exactly-once)") {
    val dir = freshDir()
    val idx = new DedupIndex(spark, dir, capacity = 1000)
    idx.ingest(docs(1L -> base), batchId = 0L).collect()
    val original = verdicts(idx.ingest(docs(
      2L -> base, // exact dup of doc 1
      3L -> "fresh unrelated content about glaciers"), batchId = 1L))
    val manBefore = ManifestIO.read(dir).get
    // at-least-once delivery: the SAME micro-batch re-runs after a
    // crash. Unguarded, doc 3 would now bloom-flag (its own positions
    // are in the state) and band-match itself — wrong verdicts — and
    // the state would double-fold.
    val replayed = verdicts(idx.ingest(docs(
      2L -> base,
      3L -> "fresh unrelated content about glaciers"), batchId = 1L))
    assert(replayed == original,
      s"replay must return the original verdicts verbatim:\n got $replayed\n want $original")
    assert(ManifestIO.read(dir).get == manBefore,
      "replay must not advance the store state (no new generation, no re-fold)")
    // the NEXT batch still sees exactly-once history: doc 3 appears
    // once, so a re-post matches it without self-ghosts
    val next = verdicts(idx.ingest(docs(
      4L -> "fresh unrelated content about glaciers"), batchId = 2L))
    assert(next.head._2 == 1 && next.head._3 == List(3L),
      s"post-replay history must be exactly-once: $next")
  }

  test("a HELD replay frame survives a later compaction (pinned, not lazy)") {
    val dir = freshDir()
    val idx = new DedupIndex(spark, dir, capacity = 1000)
    idx.ingest(docs(1L -> base), batchId = 0L).collect()
    val original = verdicts(idx.ingest(docs(2L -> base), batchId = 1L))
    // the caller HOLDS the replay frame without consuming it...
    val held = idx.ingest(docs(2L -> base), batchId = 1L)
    // ...while the driver keeps ingesting until compaction folds all
    // generations into one and gc deletes the dir holding the replayed
    // verdict parquet — a lazy frame would now FileNotFound
    (2 to Mnemo.MaxSegments + 3).foreach { i =>
      idx.ingest(docs((100 + i).toLong -> s"filler doc number $i entirely new"),
        batchId = i.toLong).collect()
    }
    assert(verdicts(held) == original,
      "the held replay frame must stay consumable across later compactions")
  }

  test("a batchId older than the last committed one throws (outside the replay window)") {
    val dir = freshDir()
    val idx = new DedupIndex(spark, dir, capacity = 1000)
    idx.ingest(docs(1L -> base), batchId = 0L).collect()
    idx.ingest(docs(2L -> "other content entirely"), batchId = 1L).collect()
    val e = intercept[IllegalStateException] {
      idx.ingest(docs(3L -> base), batchId = 0L)
    }
    assert(e.getMessage.contains("replay"),
      s"stale batchId must fail loudly: ${e.getMessage}")
  }

  test("hot-band guard: a templated corpus saturates its band keys — bounded candidates plus a flagged row") {
    val idx = new DedupIndex(spark, freshDir(), capacity = 10000,
      hotBandThreshold = 100)
    import spark.implicits._
    // 1000 docs of IDENTICAL text (distinct ids): every one shares all
    // 4 band keys — the templated/boilerplate corpus shape where LSH's
    // selective-band assumption collapses
    val templated = (1L to 1000L).map(i => (i, base)).toDF("doc_id", "text")
    val b1 = idx.ingest(templated)
    assert(b1.columns.contains("band_saturated"),
      "guarded store must carry the saturation column")
    // history empty -> nothing saturated in batch 1
    assert(b1.filter(col("band_saturated") === 1).count() == 0)
    // a re-post now faces 1000 priors on every band key (>= 100): the
    // probe must emit the FLAG, not a 1000-id candidate array
    val v = idx.ingest(docs(2000L -> base)).collect().head
    assert(v.getInt(1) == 1, "bloom leg is unaffected: exact re-post still flags")
    assert(v.getSeq[Long](2).isEmpty,
      s"saturated band must not enumerate candidates, got ${v.getSeq[Long](2).size}")
    assert(v.getInt(3) == 1, "the doc must carry band_saturated = 1")
    // a novel doc in the same batch shape stays clean and unflagged
    val clean = idx.ingest(docs(2001L -> "entirely novel text about sailing boats"))
      .collect().head
    assert(clean.getInt(1) == 0 && clean.getSeq[Long](2).isEmpty && clean.getInt(3) == 0)
  }

  test("hot-band guard: below the threshold candidates flow exactly as before") {
    val dir = freshDir()
    val idx = new DedupIndex(spark, dir, capacity = 1000,
      hotBandThreshold = 5)
    import spark.implicits._
    idx.ingest((1L to 3L).map(i => (i, base)).toDF("doc_id", "text")).collect()
    // the cumulative counter gates the probe: 3 docs < threshold 5
    // means NO band can be hot yet, so the probe legs are skipped
    // exactly (not approximately) — and the counter is in the manifest
    assert(ManifestIO.read(dir).get("n") == "3")
    val v = idx.ingest(docs(10L -> base)).collect().head
    assert(v.getInt(1) == 1 && v.getSeq[Long](2).toList == List(1L, 2L, 3L),
      s"3 priors < threshold 5: candidates must enumerate, got $v")
    assert(v.getInt(3) == 0, "below-threshold band must not flag")
    // past the threshold the SAME store starts flagging: 4 priors on
    // the key >= ... threshold 5 needs one more fold
    idx.ingest(docs(11L -> base)).collect()
    assert(ManifestIO.read(dir).get("n") == "5")
    val v2 = idx.ingest(docs(12L -> base)).collect().head
    assert(v2.getInt(3) == 1 && v2.getSeq[Long](2).isEmpty,
      s"5 priors on the key >= threshold 5: the probe must now flag, got $v2")
  }

  test("hot-band threshold persists at creation; re-opens route with the manifest's value") {
    val dir = freshDir()
    new DedupIndex(spark, dir, capacity = 1000, hotBandThreshold = 2)
      .ingest(docs(1L -> base, 2L -> base, 3L -> base)).collect()
    // re-open with the (huge) default: the persisted hot=2 must rule,
    // so the 3 priors saturate the re-post
    val reopened = new DedupIndex(spark, dir, capacity = 1000)
    val v = reopened.ingest(docs(4L -> base)).collect().head
    assert(v.getInt(3) == 1 && v.getSeq[Long](2).isEmpty,
      s"re-open must keep the creator's threshold: $v")
    assert(ManifestIO.read(dir).get("hot") == "2")
  }

  test("creation-time AUTO hot threshold: derived from the first fold's occupancy, persisted, ruling every re-open") {
    // the query surface's graft.dedup.hotThreshold=auto at the
    // maintained store's scope: autoHotThreshold defers the value
    // to the FIRST fold, which derives H via the SHARED
    // DedupEnrich.deriveHotThreshold (median occupancy x 4, floor 2)
    // and persists it like any caller constant
    val dir = freshDir()
    val idx = new DedupIndex(spark, dir, capacity = 1000,
      autoHotThreshold = true)
    import spark.implicits._
    // an EMPTY first batch (the stream-start shape) must DEFER the
    // derivation, not lock the formula's floor in for life: the
    // manifest carries the auto marker and describe() reports no
    // threshold yet — but the verdict SCHEMA already carries the
    // saturation column (as 0), so a schema-strict sink created on
    // this batch accepts every post-derivation fold
    val r0 = idx.ingest(Seq.empty[(Long, String)].toDF("doc_id", "text"))
    assert(r0.collect().isEmpty && r0.columns.contains("band_saturated"),
      "an AUTO store's verdict schema must be stable from fold 0")
    assert(ManifestIO.read(dir).get("hot") == "auto",
      s"empty evidence must keep the store auto: ${ManifestIO.read(dir)}")
    assert(idx.describe().hotBandThreshold.isEmpty,
      "no threshold exists before the first fold with evidence")
    // a TRIVIALLY SMALL first evidence fold (2 docs -> 8 distinct
    // keys, under the MinAutoEvidenceKeys floor of 16) must ALSO
    // defer (ADVICE r16): the median of a handful of keys is noise,
    // and locking it in would rule the store for life. The fold's
    // counts still persist — deferred evidence accumulates — and
    // describe() reports the pending state plus the keys seen so far.
    idx.ingest(Seq(
      201L -> "small first fold about gardening and soil",
      202L -> "tiny second document concerning bridges").toDF(
      "doc_id", "text")).collect()
    assert(ManifestIO.read(dir).get("hot") == "auto",
      s"a 2-doc fold must defer, not lock H: ${ManifestIO.read(dir)}")
    val pendingHealth = idx.describe()
    assert(pendingHealth.hotAutoPending && pendingHealth.hotBandThreshold.isEmpty,
      s"describe() must report the pending derivation: $pendingHealth")
    assert(pendingHealth.bandKeys.contains(8L),
      s"deferred evidence must accumulate in state: $pendingHealth")
    // representative fold: a 6-doc template flood (4 band keys at
    // occupancy 6) + two cold singletons clears the cumulative floor
    // (8 + 12 = 20 distinct keys >= 16); the derivation runs over the
    // CUMULATIVE counts — 4 keys at 6, 16 at 1: median occupancy 1 ->
    // H = max(2, ceil(4x1)) = 4
    val flood = (1L to 6L).map(i => (i, base)) ++ Seq(
      7L -> "entirely novel text about sailing boats and tides",
      8L -> "another unrelated document mentioning compilers")
    idx.ingest(flood.toDF("doc_id", "text")).collect()
    assert(ManifestIO.read(dir).get("hot") == "4",
      s"derived H must persist once evidence clears the floor: " +
        s"${ManifestIO.read(dir)}")
    val derivedHealth = idx.describe()
    assert(derivedHealth.hotBandThreshold.contains(4L) &&
      !derivedHealth.hotAutoPending,
      s"describe() must report the derived threshold: $derivedHealth")
    // the derived threshold RULES the probe: a re-post faces 6 priors
    // on the template bands (>= 4) and must flag, not enumerate
    val v = idx.ingest(docs(100L -> base)).collect().head
    assert(v.getAs[Int]("band_saturated") == 1 && v.getSeq[Long](2).isEmpty,
      s"derived H=4 must saturate the 6-prior band: $v")
    // re-open with a large constant: the persisted derived value wins
    val reopened = new DedupIndex(spark, dir, capacity = 1000,
      hotBandThreshold = 50)
    val v2 = reopened.ingest(docs(101L -> base)).collect().head
    assert(v2.getAs[Int]("band_saturated") == 1,
      s"re-opens route with the persisted derived threshold: $v2")
    // auto is a FLAG, never a threshold value: combining it with an
    // explicit threshold is conflicting intent and throws, and any
    // negative threshold keeps its pre-auto meaning (opt out for
    // life) instead of silently flipping to auto
    intercept[IllegalArgumentException] {
      new DedupIndex(spark, freshDir(), capacity = 10L,
        hotBandThreshold = 5L, autoHotThreshold = true)
    }
  }

  test("hotBandThreshold <= 0 at creation opts out for life; pre-guard stores stay unguarded") {
    val dir = freshDir()
    val optOut = new DedupIndex(spark, dir, capacity = 1000, hotBandThreshold = 0)
    val r = optOut.ingest(docs(1L -> base))
    assert(!r.columns.contains("band_saturated"),
      "an opted-out store must not grow the column")
    assert(!ManifestIO.read(dir).get.contains("hot"))
    // NEGATIVE values keep their pre-auto meaning — opt out, never
    // silently auto-guard (the -1-sentinel inversion class)
    val negDir = freshDir()
    val negOut = new DedupIndex(spark, negDir, capacity = 1000,
      hotBandThreshold = -7L)
    val rn = negOut.ingest(docs(1L -> base))
    assert(!rn.columns.contains("band_saturated") &&
      !ManifestIO.read(negDir).get.contains("hot"),
      "a negative threshold is an opt-out, not an auto request")
    // a guarded re-open cannot enable it mid-life (no counts history)
    val reopened = new DedupIndex(spark, dir, capacity = 1000, hotBandThreshold = 5)
    val r2 = reopened.ingest(docs(2L -> base))
    assert(!r2.columns.contains("band_saturated"),
      "mid-life enablement would probe counts that were never folded")
  }

  test("window-bloom over-capacity: the fill disclosure reads high and rides the verdict frame") {
    // windowCapacity 4 -> mw = 64 slots; a 40-token doc has 25 windows
    // x 4 positions — the store is over capacity from its first fold
    val idx = new DedupIndex(spark, freshDir(), capacity = 1000,
      windowCapacity = 4)
    import spark.implicits._
    val doc1 = (1 to 40).map(i => s"tok$i").mkString(" ")
    val b1 = idx.ingest(docs(1L -> doc1))
    assert(b1.columns.contains("wbloom_fill"),
      "window-enabled store must disclose its bloom fill")
    // first batch probed an EMPTY history bloom: fill 0, frac trustworthy
    assert(b1.collect().head.getAs[Double]("wbloom_fill") == 0.0)
    val b2 = idx.ingest(docs(2L -> "totally different words about completely other topics here now maybe even more of them to pass the window width threshold okay"))
    val row2 = b2.collect().head
    val fill = row2.getAs[Double]("wbloom_fill")
    assert(fill > 0.5,
      s"an over-capacity store must disclose a degraded fill, got $fill")
    // and the degradation is REAL: at this fill the unrelated doc's
    // frac reads spuriously high — the disclosure is what tells the
    // consumer not to trust it
    assert(row2.getAs[Double]("shared_window_frac") > 0.0,
      "this test exists because the frac degrades; if it reads 0 the fixture no longer demonstrates the hazard")
  }

  test("window-bloom fill on a HEALTHY store is the counter bound — no per-ingest state scan") {
    // windowCapacity 50000 -> mw = 800000 slots; one 40-token doc in
    // history = 25 window hashes, so the k·nw/mw bound is 4·25/800000
    // = 0.000125 — far under FillExactBound, so the lazy path emits
    // the bound itself (reads high vs the exact pre-fold fill, never
    // low) instead of aggregating the full packed state
    val idx = new DedupIndex(spark, freshDir(), capacity = 1000,
      windowCapacity = 50000)
    import spark.implicits._
    idx.ingest(docs(1L -> (1 to 40).map(i => s"tok$i").mkString(" "))).collect()
    val exactPreFold = idx.describe().windowFill.get
    val b2 = idx.ingest(docs(2L -> (1 to 40).map(i => s"other$i").mkString(" ")))
    val fill = b2.collect().head.getAs[Double]("wbloom_fill")
    assert(fill == 0.000125, s"expected the k*nw/mw counter bound, got $fill")
    assert(fill >= exactPreFold - 1e-12,
      s"the bound must read high, never low: bound $fill < exact $exactPreFold")
    assert(fill < DedupIndex.FillExactBound)
  }

  private def mediaHashes(rows: (Long, Int, Int, Int, Int)*) = {
    import spark.implicits._
    rows.toSeq.toDF("media_id", "b0", "b1", "b2", "b3")
  }

  test("media folds: probe-then-fold on perceptual-hash bands; text and media state coexist under one manifest") {
    val dir = freshDir()
    val idx = new DedupIndex(spark, dir, capacity = 1000,
      hotBandThreshold = 3)
    // text history first, so the media folds must carry it forward
    assert(idx.ingest(docs(1L -> base)).count() == 1)
    val v1 = idx.ingestMedia(mediaHashes(
      (101L, 10, 20, 30, 40), (102L, 50, 60, 70, 80))).collect()
    assert(v1.forall(_.getSeq[Long](1).isEmpty), "first media fold is all-new")
    // guarded store: the verdict schema carries phash_saturated = 0
    assert(v1.forall(_.getAs[Int]("phash_saturated") == 0))
    // 103 shares 3 of 4 bands with 101 -> candidate vs HISTORY only
    val v2 = idx.ingestMedia(mediaHashes((103L, 10, 20, 30, 99))).collect()
    assert(v2.map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap ==
      Map(103L -> List(101L)))
    // the text family is untouched by the media folds: an exact re-post
    // still Bloom-flags against the text history
    val v3 = idx.ingest(docs(2L -> base)).collect()
    assert(v3.head.getAs[Int]("maybe_dup") == 1)
    val h = idx.describe()
    assert(h.segments == 2, s"text segments: ${h.segments}")
    assert(h.mediaSegments == 2, s"media segments: ${h.mediaSegments}")
    assert(h.mediaHotThreshold.contains(3L))
    assert(h.mediaKeys.exists(_ >= 8L), s"media keys: ${h.mediaKeys}")
    assert(h.hotMediaKeys.contains(0L))
  }

  test("media hot guard: LIFETIME counts flag arrivals past the threshold; candidates stop enumerating") {
    val dir = freshDir()
    val idx = new DedupIndex(spark, dir, capacity = 1000,
      hotBandThreshold = 3)
    val flood = (1L to 6L).map(i => (i, 1000, 2000, 3000, 4000))
    val verdicts = flood.map { case (i, a, b, c, d) =>
      i -> idx.ingestMedia(mediaHashes((i, a, b, c, d))).collect().head
    }
    val flagged = verdicts.collect {
      case (i, v) if v.getAs[Int]("phash_saturated") == 1 => i }.toSet
    assert(flagged == Set(4L, 5L, 6L),
      s"arrivals after the prior count reaches 3 must flag: $flagged")
    // pre-threshold arrivals enumerated candidates; post-threshold
    // arrivals' lists are suppressed (the flag replaces them)
    assert(verdicts.toMap.apply(3L).getSeq[Long](1).toList == List(1L, 2L))
    assert(verdicts.toMap.apply(5L).getSeq[Long](1).isEmpty)
  }

  test("media AUTO threshold: defers below the evidence floor (counts persisting), derives at it, persists for life") {
    val dir = freshDir()
    val idx = new DedupIndex(spark, dir, capacity = 1000,
      autoHotThreshold = true)
    // 2 media = 8 distinct keys < MinAutoEvidenceKeys(16): defer
    val v1 = idx.ingestMedia(mediaHashes(
      (1L, 10, 20, 30, 40), (2L, 50, 60, 70, 80))).collect()
    // stable verdict schema while pending
    assert(v1.forall(_.getAs[Int]("phash_saturated") == 0))
    val h1 = idx.describe()
    assert(h1.mediaAutoPending && h1.mediaHotThreshold.isEmpty)
    assert(h1.mediaKeys.contains(8L),
      s"pending folds must persist their counts: ${h1.mediaKeys}")
    // 3 more media, 12 fresh keys -> cumulative 20 >= 16: derive
    idx.ingestMedia(mediaHashes(
      (3L, 11, 21, 31, 41), (4L, 51, 61, 71, 81), (5L, 12, 22, 32, 42)))
    val h2 = idx.describe()
    assert(!h2.mediaAutoPending, "evidence floor cleared: threshold locks")
    assert(h2.mediaHotThreshold.nonEmpty)
    // a re-open with a CONSTANT cannot override the committed derivation
    val reopened = new DedupIndex(spark, dir, capacity = 1000,
      hotBandThreshold = 99)
    assert(reopened.describe().mediaHotThreshold == h2.mediaHotThreshold)
  }

  test("media opt-out persists for life: a default-constructor re-open neither crashes nor resurrects the guard") {
    // review finding: the first media fold persists its guard decision
    // (mhot=0 for opt-out) exactly like a threshold — otherwise a
    // re-open with the default constructor would resolve the compiled
    // default and read mcnt state the opted-out segments never wrote
    val dir = freshDir()
    val optOut = new DedupIndex(spark, dir, capacity = 1000,
      hotBandThreshold = 0)
    val v1 = optOut.ingestMedia(mediaHashes(
      (1L, 1, 2, 3, 4), (2L, 1, 2, 3, 4)))
    assert(!v1.columns.contains("phash_saturated"),
      "an opted-out store's verdicts carry no media flag column")
    val reopened = new DedupIndex(spark, dir, capacity = 1000)
    val h = reopened.describe()
    assert(h.mediaHotThreshold.isEmpty && !h.mediaAutoPending,
      s"opt-out must rule the re-open: $h")
    val v2 = reopened.ingestMedia(mediaHashes((3L, 1, 2, 3, 4))).collect()
    assert(v2.head.getSeq[Long](1).toList == List(1L, 2L),
      "unguarded media probes keep enumerating candidates")
    assert(ManifestIO.read(dir).get("mhot") == "0",
      "the opt-out decision stays persisted across folds")
  }

  test("describe() on a fully-virgin store reports BOTH families' creation-time guard policy") {
    // review finding (r18 advice): a virgin store with an explicit
    // threshold reported hotBandThreshold=Some(n) but
    // mediaHotThreshold=None — describe() now applies mhotOf's own
    // "fully virgin" creation fallback, so the two families' creation
    // reports mirror each other
    val dir = freshDir()
    val idx = new DedupIndex(spark, dir, capacity = 1000,
      hotBandThreshold = 7)
    val h = idx.describe()
    assert(h.hotBandThreshold.contains(7L))
    assert(h.mediaHotThreshold.contains(7L),
      s"virgin describe must mirror the text family's creation report: $h")
    // once ANY family folds, only persisted media decisions are
    // reported (the first media fold will persist its own)
    idx.ingest(docs(1L -> base))
    assert(idx.describe().mediaHotThreshold.isEmpty)
  }

  test("describe() on a media-less store asserts no media guard facts; the media counter starts at the family's first fold") {
    val dir = freshDir()
    val idx = new DedupIndex(spark, dir, capacity = 1000,
      hotBandThreshold = 3)
    idx.ingest(docs(1L -> base))
    val h = idx.describe()
    assert(h.mediaSegments == 0 && h.mediaHotThreshold.isEmpty &&
      h.mediaKeys.isEmpty && !h.mediaAutoPending,
      s"no media fold ever committed — nothing to report: $h")
    // review finding: `mn` must initialize at the MEDIA family's first
    // fold (not only on a virgin manifest), or a text-first store pays
    // the hot probe forever
    idx.ingestMedia(mediaHashes((1L, 1, 2, 3, 4)))
    val man = ManifestIO.read(dir).get
    assert(man.get("mn").contains("1"), s"mn counter must start: $man")
    assert(man.get("mhot").contains("3"))
  }

  test("describe() reports the maintained state's health") {
    val dir = freshDir()
    val idx = new DedupIndex(spark, dir, capacity = 1000,
      windowCapacity = 50000, hotBandThreshold = 2)
    import spark.implicits._
    val doc1 = (1 to 40).map(i => s"tok$i").mkString(" ")
    idx.ingest(docs(1L -> doc1, 2L -> base), batchId = 0L).collect()
    idx.ingest(docs(3L -> base), batchId = 1L).collect()
    val h = idx.describe()
    assert(h.version == 2 && h.generation == 2 && h.segments == 2)
    assert(h.bloomSlots == 16000L && h.bloomFill > 0.0 && h.bloomFill < 0.01)
    assert(h.windowSlots.contains(16L * 50000) &&
      h.windowFill.exists(f => f > 0.0 && f < 0.01))
    assert(h.hotBandThreshold.contains(2L))
    // docs 1 and 2 are unrelated (8 distinct keys); doc 3 re-posts doc
    // 2's text (same 4 keys, now at count 2 = the threshold)
    assert(h.bandKeys.contains(8L), s"band keys: ${h.bandKeys}")
    assert(h.hotBands.contains(4L), s"hot bands: ${h.hotBands}")
    assert(h.lastBatchId.contains(1L))
    // a fresh, never-committed store reports creation sizing, zero fill
    val fresh = new DedupIndex(spark, freshDir(), capacity = 10)
    val h0 = fresh.describe()
    assert(h0.generation == 0 && h0.segments == 0 && h0.bloomFill == 0.0 &&
      h0.bloomSlots == 160L && h0.bandKeys.contains(0L))
  }

  test("a manifest-referenced segment dir that vanished fails loudly, never probes partial history") {
    val dir = freshDir()
    val idx = new DedupIndex(spark, dir, capacity = 1000)
    idx.ingest(docs(1L -> base)).collect()
    val seg = ManifestIO.read(dir).get("segs").split(",").head
    ManifestIO.deleteRecursively(s"$dir/$seg/bloom")
    val e = intercept[IllegalStateException] {
      idx.ingest(docs(2L -> base)).collect()
    }
    assert(e.getMessage.contains("missing segment dir"),
      s"expected the corruption to be loud, got: ${e.getMessage}")
  }
}
