package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.api.{GraphStore, ManifestIO, Mnemo}

class GraphStoreSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def freshStore() = {
    val dir = Files.createTempDirectory("graph-store").toFile
    dir.delete()
    GraphStore.open(spark, dir.getAbsolutePath)
  }

  test("describe() reports edge store health: open vs total edges, file pressure") {
    val g = freshStore()
    val h0 = g.describe()
    assert(!h0.exists && h0.edges == 0 && h0.openEdges == 0 && h0.dataFiles == 0)
    g.insertEdge("e1", "a", "b", "rel", ts("2026-01-01 00:00:00"), None, 1.0,
      ts("2026-01-01 00:00:00"))
    g.insertEdge("e2", "b", "c", "rel", ts("2026-01-01 00:00:00"), None, 1.0,
      ts("2026-01-01 00:00:00"))
    g.closeEdge("e1", ts("2026-04-01 00:00:00"))
    val h1 = g.describe()
    assert(h1.exists && h1.edges == 2 && h1.openEdges == 1,
      s"graph health: $h1")
    assert(h1.dataFiles >= 1)
  }

  test("close_edge stamps valid_to on the open row and is idempotent") {
    val g = freshStore()
    g.insertEdge("e1", "a", "b", "rel", ts("2026-01-01 00:00:00"), None, 1.0,
      ts("2026-01-01 00:00:00"))
    g.closeEdge("e1", ts("2026-04-01 00:00:00"))
    // re-closing must NOT move the timestamp (reference updates only
    // rows whose valid_to is still null)
    g.closeEdge("e1", ts("2030-01-01 00:00:00"))
    val rows = g.edges().collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Timestamp]("valid_to") == ts("2026-04-01 00:00:00"))
  }

  test("as-of reads honor the closed window; closing supersedes without deleting") {
    val g = freshStore()
    g.insertEdge("e1", "a", "b", "knows", ts("2026-01-01 00:00:00"), None, 0.9,
      ts("2026-01-01 00:00:00"))
    g.insertEdge("e2", "a", "c", "knows", ts("2026-02-01 00:00:00"), None, 0.8,
      ts("2026-02-01 00:00:00"))
    g.closeEdge("e1", ts("2026-03-01 00:00:00"))
    def out(asOf: String) = g.outgoingAt("a", ts(asOf)).collect().map(_.getAs[String]("dst")).toSeq
    assert(out("2026-02-15 00:00:00") == Seq("b", "c")) // both valid, conf-desc order
    assert(out("2026-03-15 00:00:00") == Seq("c")) // e1 closed
    assert(out("2025-12-01 00:00:00") == Seq()) // before any valid_from
    // the closed row still exists for historical reads (soft supersession)
    assert(g.edges().count() == 2)
  }

  test("depth-bounded expansion walks only edges valid at as-of") {
    val g = freshStore()
    val t0 = ts("2026-01-01 00:00:00")
    g.insertEdge("ab", "a", "b", "r", t0, None, 1.0, t0)
    g.insertEdge("bc", "b", "c", "r", t0, None, 1.0, t0)
    g.insertEdge("cd", "c", "d", "r", t0, None, 1.0, t0)
    g.closeEdge("bc", ts("2026-02-01 00:00:00"))
    def reach(depth: Int, asOf: String) =
      g.expandAt("a", depth, ts(asOf)).collect()
        .map(r => r.getAs[String]("node") -> r.getAs[Int]("depth")).toMap
    // before the close: chain walks to depth
    val before = reach(3, "2026-01-15 00:00:00")
    assert(before == Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3))
    // depth bound respected
    assert(reach(1, "2026-01-15 00:00:00") == Map("a" -> 0, "b" -> 1))
    // after the close: the b->c hop is gone, so c and d are unreachable
    val after = reach(3, "2026-03-01 00:00:00")
    assert(after == Map("a" -> 0, "b" -> 1))
  }

  test("closeEdge publishes a new generation: no <path>.tmp copy is left, and a fresh open reads the closed row") {
    val g = freshStore()
    val t0 = ts("2026-01-01 00:00:00")
    g.insertEdge("e1", "a", "b", "rel", t0, None, 1.0, t0)
    g.insertEdge("e2", "b", "c", "rel", t0, None, 1.0, t0)
    g.closeEdge("e1", ts("2026-04-01 00:00:00"))
    assert(!Files.exists(Paths.get(g.path + ".tmp")),
      "closeEdge must not leave a copy of the edge table next to the store")
    val reopened = GraphStore.open(spark, g.path).edges().collect()
      .map(r => r.getAs[String]("id") -> Option(r.getAs[Timestamp]("valid_to"))).toMap
    assert(reopened == Map("e1" -> Some(ts("2026-04-01 00:00:00")), "e2" -> None))
  }

  test("inserts past Mnemo.MaxSegments fold into one segment; describe counts live files only") {
    val g = freshStore()
    val t0 = ts("2026-01-01 00:00:00")
    (1 to Mnemo.MaxSegments + 1).foreach(i =>
      g.insertEdge(s"e$i", "a", s"n$i", "rel", t0, None, 1.0, t0))
    val segs = ManifestIO.read(g.path).get("segs").split(",").toSeq
    assert(segs == Seq(s"g${Mnemo.MaxSegments + 1}"),
      s"the over-budget insert must fold every segment into one: $segs")
    assert(g.edges().count() == Mnemo.MaxSegments + 1)
    val onDisk = {
      val w = Files.walk(Paths.get(g.path))
      try w.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally w.close()
    }
    val h = g.describe()
    assert(h.exists && h.edges == Mnemo.MaxSegments + 1 && h.dataFiles >= 1 &&
      h.dataFiles == onDisk, s"graph health after the fold: $h, $onDisk on disk")
  }
}
