package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level invariants of `src/main` that the compiler does not
  * check: a scaladoc that attaches to the definition it describes, and
  * one place that decides how the mains build their session. */
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
}
