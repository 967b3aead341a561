package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level invariants of `src/main` that the compiler does not
  * check: a scaladoc that attaches to the definition it describes, one
  * place that decides how the mains build their session, one on-disk
  * format per store (no legacy read or migration code), one commit
  * core every store writes through, one manifest publish protocol
  * (no overwrite-rename, no protocol switch), and one table read path
  * for the queries (`graft.Tables`). */
class SourceHygieneSpec extends AnyFunSuite {

  private val sources: Seq[(Path, IndexedSeq[String])] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .sortBy(_.toString)
      .map(p => p -> Files.readAllLines(p).asScala.toIndexedSeq)
    finally walk.close()
  }

  test("no scaladoc is directly followed by another (it would attach to the wrong definition)") {
    assert(sources.nonEmpty, "no sources under src/main")
    val dangling = for {
      (p, lines) <- sources
      (l, i) <- lines.zipWithIndex
      if l.trim.endsWith("*/")
      next = lines.indexWhere(_.trim.nonEmpty, i + 1)
      if next >= 0 && lines(next).trim.startsWith("/**")
    } yield s"$p:${i + 1}"
    assert(dangling.isEmpty,
      s"doc blocks followed by another doc block: ${dangling.mkString(", ")}")
  }

  test("candidate pairs are oriented and joined back only in DedupEnrich; the frame uid is packed in one place") {
    val core = Paths.get("src/main/scala/graft/functions/DedupEnrich.scala")
    assert(sources.exists(_._1 == core), s"$core not found")
    val offenders = for {
      (p, lines) <- sources if p != core
      (l, i) <- lines.zipWithIndex
      if l.contains("col(\"a\") < col(\"b\")") || l.contains("def side(")
    } yield s"$p:${i + 1}"
    assert(offenders.isEmpty,
      s"pair orientation / join-back outside DedupEnrich: ${offenders.mkString(", ")}")
    val packing = """\*\s*(lit\()?(MediaPipeline\.)?FrameUidStride""".r
    val packs = for {
      (p, lines) <- sources
      (l, i) <- lines.zipWithIndex
      if !Seq("*", "/*", "//").exists(l.trim.startsWith)
      if packing.findFirstIn(l).nonEmpty
    } yield s"$p:${i + 1}"
    assert(packs.size == 1, s"FrameUidStride multiplied in: ${packs.mkString(", ")}")
  }

  test("no store carries a legacy-format reader or a migration") {
    val defName = """\bdef\s+([A-Za-z_]\w*)""".r
    val offenders = for {
      (p, lines) <- sources
      (l, i) <- lines.zipWithIndex
      if defName.findAllMatchIn(l).map(_.group(1).toLowerCase)
        .exists(n => n.contains("legacy") || n.contains("migrat")) ||
        l.contains("movePath(")
    } yield s"$p:${i + 1}"
    assert(offenders.isEmpty,
      s"each store reads one on-disk format and fails on any other: ${offenders.mkString(", ")}")
  }

  test("queries, media and column builders read tables only through graft.Tables") {
    // a direct parquet read would skip the memoized schema and launch a
    // schema-inference job on every build
    val readers = Seq("graft/queries", "graft/multimodal", "graft/functions")
      .map(d => Paths.get("src/main/scala", d))
    assert(readers.forall(d => sources.exists(_._1.startsWith(d))), "reader dirs not found")
    val offenders = for {
      (p, lines) <- sources if readers.exists(p.startsWith)
      (l, i) <- lines.zipWithIndex if l.contains(".read.parquet(")
    } yield s"$p:${i + 1}"
    assert(offenders.isEmpty,
      s"table reads outside Tables.load: ${offenders.mkString(", ")}")
  }

  test("only graft.Harness sets a session master") {
    val core = Paths.get("src/main/scala/graft/Harness.scala")
    assert(sources.exists(_._1 == core), s"$core not found")
    val offenders = for {
      (p, lines) <- sources if p != core
      (l, i) <- lines.zipWithIndex if l.contains(".master(")
    } yield s"$p:${i + 1}"
    assert(offenders.isEmpty,
      s"mains must build their session with Harness.session: ${offenders.mkString(", ")}")
  }

  test("every store commits through StoreCommit: one publish site, one sweep, no in-place store writes") {
    val core = Paths.get("src/main/scala/graft/api/StoreCommit.scala")
    val protocol = Paths.get("src/main/scala/graft/api/ManifestIO.scala")
    assert(sources.exists(_._1 == core), s"$core not found")
    val manifestCalls = Seq("ManifestIO.write(", "ManifestIO.gc(", "ManifestIO.read(")
    val outside = for {
      (p, lines) <- sources if p != core && p != protocol
      (l, i) <- lines.zipWithIndex if manifestCalls.exists(l.contains)
    } yield s"$p:${i + 1}"
    assert(outside.isEmpty,
      s"manifest reads and commits outside the core: ${outside.mkString(", ")}")
    val coreLines = sources.find(_._1 == core).get._2
    assert(coreLines.count(_.contains("ManifestIO.write(")) == 1 &&
      coreLines.count(_.contains("ManifestIO.gc(")) == 1,
      "the core publishes and sweeps at exactly one call site each")

    // the deal ledger keeps its flat append (its spec tampers with the
    // flat ledger path); the attention put is the one other append
    val storeDirs = Seq("graft/api", "graft/streaming")
      .map(d => Paths.get("src/main/scala", d))
    val ledger = Paths.get("src/main/scala/graft/api/DealLedger.scala")
    val mnemo = Paths.get("src/main/scala/graft/api/Mnemo.scala")
    val writes = for {
      (p, lines) <- sources
      if storeDirs.exists(p.startsWith) && p != core && p != ledger
      (l, i) <- lines.zipWithIndex
      w <- Seq("SaveMode.Append", "SaveMode.Overwrite", ".mode(\"overwrite\"")
      if l.contains(w)
    } yield (p, w, s"$p:${i + 1}")
    val (attentionPut, inPlace) =
      writes.partition { case (p, w, _) => p == mnemo && w == "SaveMode.Append" }
    assert(attentionPut.size == 1,
      s"exactly one attention-put append: ${attentionPut.map(_._3).mkString(", ")}")
    assert(inPlace.isEmpty,
      s"store writes outside the core: ${inPlace.map(_._3).mkString(", ")}")
  }

  test("one manifest protocol: no overwrite-rename publish and no protocol switch") {
    // the deleted conf's name is spelled in parts, so it appears
    // nowhere in the tree, this row included
    val forks = Seq(Seq("graft", "manifest", "protocol").mkString("."),
      "ATOMIC_MOVE", "REPLACE_EXISTING", "Options.Rename.OVERWRITE")
    val offenders = for {
      (p, lines) <- sources
      (l, i) <- lines.zipWithIndex
      f <- forks if l.contains(f)
    } yield s"$p:${i + 1} ($f)"
    assert(offenders.isEmpty,
      s"every store publishes write-once generations: ${offenders.mkString(", ")}")
  }
}
