package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.api.{DedupIndex, ManifestIO}
import graft.functions.DedupEnrich
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Randomized model-checking drive of the maintained [[DedupIndex]] —
  * the same discipline StorePropertySpec applies to the memory store
  * (the randomized drive is what caught the two real store bugs in
  * rounds 8-9; chosen-case specs never would have).
  *
  * The driver keeps its own model of the index: the full ingest
  * history (id → text), each doc's band-key set (computed ONCE through
  * the same shared [[DedupEnrich]] builder — so the property pinned is
  * that the INCREMENTALLY accumulated, compacted, re-opened state
  * answers exactly like a fresh computation over the whole history),
  * and a driver-side mirror of the exact-fingerprint normalization.
  * After every random op it asserts:
  *  - NO FALSE NEGATIVES: a batch doc whose normalized token bag
  *    appeared in history must probe maybe_dup = 1;
  *  - BOUNDED FALSE POSITIVES: novel docs flagging maybe_dup are
  *    counted and must stay within the Bloom sizing's ballpark;
  *  - CANDIDATE EQUALITY: near_candidate_ids per doc == the
  *    band-collision set against the model's history bands, sorted;
  *  - REPLAY IDEMPOTENCE: re-ingesting the last batchId returns the
  *    original verdicts verbatim and advances nothing;
  *  - MANIFEST/DISK COHERENCE: live segment dirs on disk are exactly
  *    the manifest's, the creation slot count and encoding version
  *    never drift, the segment count respects the compaction bound.
  * Ops: ingest (mixing novel / exact re-post / near-dup / short /
  * empty batches), re-open with a WRONG capacity default, replay of
  * the last batch. */
class DedupIndexPropertySpec extends SparkSpec {

  private val basePool = Vector(
    "the quick brown fox jumps over the lazy dog in the quiet evening",
    "distributed query engines shuffle data between stages of a plan",
    "sailing boats drift across the harbor when the tide turns slowly",
    "the cache warmed up after the deploy finished without any errors",
    "gardens need water sunlight and patient care through the seasons",
    "metrics dashboards aggregate counters into hourly rollup windows")

  private def bagOf(text: String): String =
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      .distinct.sorted.mkString(" ")

  test("randomized ingest/re-open/replay drive: no FN, bounded FP, candidates == fresh recompute, coherent manifest") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dir = {
      val d = Files.createTempDirectory("dedup-prop").toFile
      d.delete(); d.getAbsolutePath
    }
    // hot threshold 12: low enough that re-posts and same-base variants
    // (whose minima often come from the shared base) saturate bands
    // DURING the drive, so the model checks the guard's exact semantics
    // — candidates stop at hot keys, the flag rises, nothing else moves
    val hotThreshold = 12
    var idx = new DedupIndex(spark, dir, capacity = 500,
      hotBandThreshold = hotThreshold)

    val history = mutable.LinkedHashMap.empty[Long, String]
    val modelBands = mutable.Map.empty[Long, Set[String]]
    val modelBandCounts = mutable.Map.empty[String, Long]
    var nextDoc = 1L
    var nextBatchId = 0L
    var lastBatch: Option[(Long, Seq[(Long, String)], List[(Long, Int, List[Long], Int)])] = None
    var probes = 0
    var fps = 0
    var ingests = 0
    var saturations = 0

    def collectVerdicts(df: DataFrame): List[(Long, Int, List[Long], Int)] =
      df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toList, r.getInt(3))).toList

    def batchBands(docs: Seq[(Long, String)]): Map[Long, Set[String]] =
      if (docs.isEmpty) Map.empty
      else DedupEnrich.withBandKeys(
        DedupEnrich.withShingleSet(docs.toDF("doc_id", "text"), "text"), "sh")
        .select(col("doc_id"), col("bands"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap

    for (op <- 1 to 55) {
      rnd.nextInt(10) match {
        case 0 =>
          // re-open with a wrong capacity: the persisted m must rule
          idx = new DedupIndex(spark, dir, capacity = rnd.nextInt(2000) + 1L)

        case 1 if lastBatch.isDefined =>
          val (bid, docs, verdicts) = lastBatch.get
          val again = collectVerdicts(idx.ingest(docs.toDF("doc_id", "text"), bid))
          assert(again == verdicts,
            s"op $op: replay of batch $bid diverged:\n got $again\n want $verdicts")

        case _ =>
          ingests += 1
          val n = rnd.nextInt(6) // 0..5 docs — empty batches included
          val docs = (0 until n).map { _ =>
            val id = nextDoc; nextDoc += 1
            val text = rnd.nextInt(5) match {
              case 0 if history.nonEmpty =>
                history.values.toSeq(rnd.nextInt(history.size)) // exact re-post
              case 1 if history.nonEmpty =>
                history.values.toSeq(rnd.nextInt(history.size)) + " ok" // near-dup
              case 2 => Seq("tiny", "two words")(rnd.nextInt(2)) // short doc
              case _ =>
                s"${basePool(rnd.nextInt(basePool.size))} variant ${rnd.nextInt(100000)} ${rnd.nextInt(100000)}"
            }
            (id, text)
          }
          val bid = nextBatchId; nextBatchId += 1
          val verdicts = collectVerdicts(idx.ingest(docs.toDF("doc_id", "text"), bid))
          val bb = batchBands(docs)
          assert(verdicts.map(_._1) == docs.map(_._1).sorted,
            s"op $op: verdict rows must cover the batch, ordered by doc_id")
          val docText = docs.toMap
          // hot bands per the MODEL's exact counts at probe time
          val hotNow = modelBandCounts.collect {
            case (k, n) if n >= hotThreshold => k }.toSet
          verdicts.foreach { case (id, dup, cands, sat) =>
            val bag = bagOf(docText(id))
            val trueDup = history.values.exists(bagOf(_) == bag)
            if (trueDup)
              assert(dup == 1,
                s"op $op: FALSE NEGATIVE — doc $id re-posts history but probed new")
            else {
              probes += 1
              if (dup == 1) fps += 1
            }
            // candidates: priors sharing at least one NON-HOT band key
            val expect = history.keys
              .filter(h => (modelBands(h) & bb(id)).exists(!hotNow(_)))
              .toList.sorted
            assert(cands == expect,
              s"op $op: candidates for doc $id drifted from fresh recompute: got $cands want $expect")
            val expectSat = if ((bb(id) & hotNow).nonEmpty) 1 else 0
            assert(sat == expectSat,
              s"op $op: band_saturated for doc $id = $sat, model says $expectSat " +
                s"(hot keys touched: ${(bb(id) & hotNow).size})")
            saturations += expectSat
          }
          // model folds AFTER the checks: batch-internal dups are the
          // NEXT batch's history, per the ingest contract
          docs.foreach { case (id, t) =>
            history(id) = t; modelBands(id) = bb(id)
            bb(id).foreach(k =>
              modelBandCounts(k) = modelBandCounts.getOrElse(k, 0L) + 1)
          }
          lastBatch = Some((bid, docs, verdicts))

          // manifest/disk coherence after every committed op
          val man = ManifestIO.read(dir).get
          assert(man("m") == (16L * 500).toString,
            s"op $op: creation slot count drifted to ${man("m")}")
          assert(man("version") == "2", s"op $op: encoding version drifted")
          val segs = man("segs").split(",").filter(_.nonEmpty).toSet
          assert(segs.size <= graft.api.Mnemo.MaxSegments,
            s"op $op: ${segs.size} segments exceed the compaction bound")
          val onDisk = {
            val ls = Files.list(Paths.get(dir))
            try ls.iterator().asScala.filter(Files.isDirectory(_))
              .map(_.getFileName.toString)
              .filter(_ != ManifestIO.PointerDir).toSet
            finally ls.close()
          }
          assert(onDisk == segs,
            s"op $op: disk dirs $onDisk != manifest segs $segs (orphan or missing)")
      }
    }
    assert(ingests >= 30 && history.size >= 50,
      s"drive too small to mean anything: $ingests ingests, ${history.size} docs")
    // the drive must actually EXERCISE the hot-band path, or the
    // saturation assertions above were vacuous
    assert(saturations > 0,
      "the drive never saturated a band — lower hotThreshold or widen the re-post mix")
    // Bloom sizing sanity: m = 16 * 500 slots vs ~100+ elements keeps
    // theoretical FP well under 1%; allow slack for the small sample
    assert(probes == 0 || fps.toDouble / probes <= 0.05,
      s"false-positive rate ${fps.toDouble / probes} out of sizing ballpark ($fps/$probes)")
  }

  test("window-enabled randomized drive: shared_window_frac equals the model's exact intersection") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dir = {
      val d = Files.createTempDirectory("dedup-wprop").toFile
      d.delete(); d.getAbsolutePath
    }
    // generously sized window Bloom: the per-window FP at this fill is
    // ~1e-8, so the incremental verdicts must EXACTLY equal the
    // model's set intersection — any drift is a real bug, not noise
    var idx = new DedupIndex(spark, dir, capacity = 500,
      windowCapacity = 50000)

    val history = mutable.LinkedHashMap.empty[Long, String]
    val modelWindows = mutable.Map.empty[Long, Set[String]]
    val histWindows = mutable.Set.empty[String]
    var nextDoc = 1L

    def newLongText(): String =
      (basePool(rnd.nextInt(basePool.size)) + " " +
        (1 to 10).map(_ => s"w${rnd.nextInt(100000)}").mkString(" "))

    def windowsOf(docs: Seq[(Long, String)]): Map[Long, Set[String]] =
      if (docs.isEmpty) Map.empty
      else DedupEnrich.withWindowHashes(docs.toDF("doc_id", "text"), "text")
        .select(col("doc_id"), col("ws"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap

    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

    for (op <- 1 to 30) {
      if (rnd.nextInt(8) == 0)
        idx = new DedupIndex(spark, dir, capacity = 3L, windowCapacity = 7L)
      else {
        val n = rnd.nextInt(4) + 1
        val docs = (0 until n).map { _ =>
          val id = nextDoc; nextDoc += 1
          val text = rnd.nextInt(4) match {
            case 0 if history.nonEmpty =>
              history.values.toSeq(rnd.nextInt(history.size)) // exact re-post
            case 1 if history.nonEmpty => // shifted partial overlap
              history.values.toSeq(rnd.nextInt(history.size)) +
                s" x${rnd.nextInt(100000)} y${rnd.nextInt(100000)}"
            case 2 => "short doc below window width" // zero windows
            case _ => newLongText()
          }
          (id, text)
        }
        // exact pre-fold fill, for the lazy-disclosure bound check below
        val exactPre = idx.describe().windowFill.get
        val rows = idx.ingest(docs.toDF("doc_id", "text")).collect()
        val verdicts = rows.map(r => r.getLong(0) -> r.getDouble(3)).toMap
        // lazy wbloom_fill invariant: whatever the path (counter bound
        // below FillExactBound, exact aggregate past it, exact on the
        // counterless re-opened store), the disclosed value must read
        // HIGH vs the true pre-fold fill, never low, and one batch
        // discloses ONE value
        val fills = rows.map(_.getAs[Double]("wbloom_fill")).distinct
        assert(fills.length == 1, s"op $op: batch disclosed ${fills.toList}")
        // 6dp HALF_UP rounding of the disclosed value can dip below the
        // unrounded exact fill by at most 5e-7 — allow exactly that
        assert(fills.head >= exactPre - 5.1e-7,
          s"op $op: disclosed fill ${fills.head} reads LOW vs exact $exactPre")
        val bw = windowsOf(docs)
        docs.foreach { case (id, _) =>
          val ws = bw(id)
          val expect =
            if (ws.isEmpty) 0.0
            else round6((ws & histWindows).size.toDouble / ws.size)
          assert(verdicts(id) == expect,
            s"op $op doc $id: incremental frac ${verdicts(id)} != model $expect " +
              s"(${(ws & histWindows).size}/${ws.size})")
        }
        // fold AFTER the checks (batch-vs-history contract)
        docs.foreach { case (id, t) =>
          history(id) = t; modelWindows(id) = bw(id); histWindows ++= bw(id)
        }
      }
    }
    assert(history.size >= 25 && histWindows.size >= 100,
      s"window drive too small: ${history.size} docs, ${histWindows.size} windows")
  }
}
