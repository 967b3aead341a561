package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.api.{DealLedger, DedupIndex, GraphStore, ManifestIO, Mnemo, QualityModel}
import graft.api.Mnemo.RememberRequest
import graft.streaming.SyncLoop

/** One on-disk format per store: every versioned store (memories v3,
  * orientation v2, attention v1, dedup index v2, sync loop v1, quality
  * model v1, the acl and graph-edge segment tables v1) reads exactly
  * the format its writer produces, and a store in any other format —
  * another manifest `version`, a pre-manifest root layout, or the
  * retired mutable `manifest.properties` — fails loudly, naming the
  * store path and the format found, and a never-written path reads
  * empty without creating a file. */
class StoreFormatSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def freshDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    d.delete()
    d.getAbsolutePath
  }

  private def seeded(): graft.api.MnemoStore = {
    val store = Mnemo.open(spark, freshDir("format-store"))
    store.remember(Seq(
      RememberRequest("m1", "alice", "t1", "alpha beta gamma tokens here",
        createdAt = ts("2024-01-01 10:00:00"))))
    store
  }

  /** Re-stamp a committed manifest with another `version`. */
  private def restamp(storePath: String, version: String): Unit =
    ManifestIO.write(storePath, ManifestIO.read(storePath).get + ("version" -> version))

  /** `body` must fail on the store at `storePath`, naming the path, the
    * format found and the version this build reads. */
  private def refuses(storePath: String, found: String, reads: Int)(
      body: => Any): Unit = {
    val e = intercept[IllegalStateException](body)
    val msg = e.getMessage
    assert(msg.contains(storePath), s"message must name the store path: $msg")
    assert(msg.contains(s"version $found"), s"message must name the version found: $msg")
    assert(msg.contains(s"only version $reads"), s"message must name the version read: $msg")
  }

  test("each versioned store refuses a manifest of an older version, naming the path and the version found") {
    import spark.implicits._
    // memories v3
    val store = seeded()
    restamp(store.path, "2")
    refuses(store.path, "2", 3)(store.table())
    refuses(store.path, "2", 3)(store.describe())
    refuses(store.path, "2", 3)(store.remember(Seq(RememberRequest("m2", "alice",
      "t1", "more", createdAt = ts("2024-01-02 10:00:00")))))

    // orientation v2
    val s2 = seeded()
    val hits = Seq(("h1", "alpha content words here")).toDF("id", "content")
    s2.orientationUpdate(hits, "ns-a", 1000L)
    val orient = s2.path + "_orientation"
    restamp(orient, "1")
    refuses(orient, "1", 2)(s2.orientationState())
    refuses(orient, "1", 2)(s2.describeOrientation())
    refuses(orient, "1", 2)(s2.orientationUpdate(hits, "ns-a", 2000L))

    // attention v1
    s2.attentionStatePut("alice", "k", Array[Byte](1), ts("2024-01-05 10:00:00"))
    s2.attentionStateCompact()
    val attn = s2.path + "_attention"
    restamp(attn, "0")
    refuses(attn, "0", 1)(s2.attentionStateGet("alice", "k"))
    refuses(attn, "0", 1)(s2.describeAttention())
    refuses(attn, "0", 1)(s2.attentionStateCompact())

    // dedup index v2
    val idxPath = freshDir("format-idx")
    val idx = new DedupIndex(spark, idxPath, capacity = 100)
    idx.ingest(Seq(1L -> "some document text here").toDF("doc_id", "text")).collect()
    restamp(idxPath, "1")
    refuses(idxPath, "1", 2)(idx.describe())
    refuses(idxPath, "1", 2)(
      idx.ingest(Seq(2L -> "some document text here").toDF("doc_id", "text")))

    // sync loop v1
    val sync = freshDir("format-sync")
    SyncLoop.applyBatch(Seq((1L, 1000L, 1.5)).toDF("user_id", "ts", "value"), sync, 0L)
    restamp(sync, "0")
    refuses(sync, "0", 1)(SyncLoop.readManifest(sync))
    refuses(sync, "0", 1)(SyncLoop.readProfiles(spark, sync))
  }

  test("pre-manifest root layouts fail: flat parquet memories and namespace= orientation") {
    import spark.implicits._
    // memories: parquet files directly at the store root, no manifest
    val flat = freshDir("format-flat")
    seeded().table().write.parquet(flat)
    val store = Mnemo.open(spark, flat)
    refuses(flat, "0", 3)(store.table())
    refuses(flat, "0", 3)(store.describe())
    refuses(flat, "0", 3)(store.forget("alice", Seq("m1"), ts("2024-03-01 00:00:00")))
    assert(ManifestIO.read(flat).isEmpty, "a refused store must not be written")

    // orientation: hive namespace= partition dirs, no manifest
    val s2 = seeded()
    val orient = s2.path + "_orientation"
    Seq(("alice", "alpha", 3L, 1706745600L, "alpha", 2L))
      .toDF("namespace", "key", "freq", "last_seen", "value", "tokens")
      .write.partitionBy("namespace").parquet(orient)
    refuses(orient, "1", 2)(s2.orientationState())
    refuses(orient, "1", 2)(s2.describeOrientation())
    refuses(orient, "1", 2)(s2.orientationUpdate(
      Seq(("h1", "alpha")).toDF("id", "content"), "alice", 1000L))
    assert(ManifestIO.read(orient).isEmpty, "a refused store must not be written")
  }

  test("a pointer store whose only generation lacks the sentinel reads as never committed") {
    val store = seeded()
    val pdir = Paths.get(store.path, ManifestIO.PointerDir)
    val gens = Files.list(pdir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".properties"))
    assert(gens.length == 1, s"one commit, one generation: ${gens.toList}")
    // tear the only generation: cut the sentinel line off
    val text = new String(Files.readAllBytes(gens.head), "ISO-8859-1")
    val at = text.indexOf(ManifestIO.CommittedKey)
    assert(at > 0)
    Files.write(gens.head, text.substring(0, at).getBytes("ISO-8859-1"))
    assert(ManifestIO.read(store.path).isEmpty)
    assert(store.table().count() == 0)
    assert(store.describe().generation == 0L)
    // the next commit starts the store over and sweeps the torn
    // commit's data dirs
    store.remember(Seq(RememberRequest("m2", "alice", "t1", "fresh start",
      createdAt = ts("2024-01-02 10:00:00"))))
    assert(store.table().select("id").collect().map(_.getString(0)).toSeq == Seq("m2"))
  }

  test("a root holding manifest.properties and no generation (the rename-protocol layout) is refused on read and before remember, untouched") {
    import spark.implicits._
    val dir = freshDir("format-rename")
    Seq(("m1", "alpha")).toDF("id", "content").write.parquet(s"$dir/g1/a/bucket=0")
    Files.write(Paths.get(dir, ManifestIO.FileName),
      "version=3\ngen=1\nbuckets=32\nbucket.0=g1/a\n".getBytes("ISO-8859-1"))
    def snapshot(): Map[String, Seq[Byte]] = {
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => Paths.get(dir).relativize(f).toString ->
          Files.readAllBytes(f).toSeq).toMap
      finally walk.close()
    }
    val before = snapshot()
    assert(before.keys.exists(_.startsWith("g1/")) && before.contains(ManifestIO.FileName))
    def refusedRename(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains(dir) && e.getMessage.contains(ManifestIO.FileName),
        s"the refusal must name the store and its manifest: ${e.getMessage}")
    }
    refusedRename(ManifestIO.read(dir))
    val store = Mnemo.open(spark, dir)
    refusedRename(store.table())
    refusedRename(store.remember(Seq(RememberRequest("m2", "alice", "t1", "more",
      createdAt = ts("2024-01-02 10:00:00")))))
    assert(snapshot() == before, "a refused store must be left byte-identical")
  }

  test("every public read on a never-written path returns a typed empty result or names the path, and creates no file") {
    val root = freshDir("format-never")
    Files.createDirectories(Paths.get(root))
    val p = s"$root/store"
    val t0 = ts("2026-01-01 00:00:00")
    def empty(df: org.apache.spark.sql.DataFrame, column: String): Unit =
      assert(df.columns.contains(column) && df.count() == 0,
        s"expected a typed empty frame with `$column`: ${df.columns.toList}")

    val store = Mnemo.open(spark, p)
    empty(store.table(), "id")
    assert(store.describe().generation == 0L && !store.describe().auxStores.values.exists(identity))
    empty(store.acls(), "memory_id")
    empty(store.checkpoints(), "name")
    empty(store.delegations(), "from_agent")
    empty(store.replay("x"), "id")
    empty(store.orientationState(), "key")
    assert(store.describeOrientation().namespaces == 0)
    assert(store.attentionStateGet("alice", "k").isEmpty)
    assert(store.describeAttention().committedGeneration.isEmpty)

    val idx = new DedupIndex(spark, s"$root/idx", capacity = 100)
    assert(idx.describe().generation == 0L && idx.describe().segments == 0)

    val graph = GraphStore.open(spark, s"$root/graph")
    empty(graph.edges(), "id")
    empty(graph.outgoingAt("a", t0), "dst")
    assert(!graph.describe().exists)

    val ledger = DealLedger.open(spark, s"$root/ledger")
    empty(ledger.table(), "deal_id")
    assert(ledger.verify().count() == 0)
    assert(!ledger.describe().exists)

    val sync = s"$root/sync"
    assert(SyncLoop.readManifest(sync).isEmpty && SyncLoop.readWatermark(sync).isEmpty)
    empty(SyncLoop.readProfiles(spark, sync), "user_id")

    val qm = s"$root/qm"
    val e = intercept[IllegalStateException](QualityModel.weights(spark, qm))
    assert(e.getMessage.contains(qm), s"the failure must name the path: ${e.getMessage}")
    assert(QualityModel.describe(spark, qm).generation == 0L)

    val created = Files.list(Paths.get(root))
    try assert(created.iterator().asScala.isEmpty, "a read must not create a file")
    finally created.close()
  }

  test("the quality model commits version 1 and refuses a model of another version") {
    val dir = freshDir("format-qm")
    QualityModel.fit(spark, Sf, dir)
    assert(ManifestIO.read(dir).exists(_.get("version").contains("1")))
    restamp(dir, "2")
    refuses(dir, "2", 1)(QualityModel.weights(spark, dir))
    refuses(dir, "2", 1)(QualityModel.describe(spark, dir))
    refuses(dir, "2", 1)(QualityModel.fit(spark, Sf, dir))
  }

  test("flat-parquet acl and graph roots (the in-place layout) fail, naming the path and the version") {
    import spark.implicits._
    val store = seeded()
    val acl = store.path + "_acls"
    Seq(("m1", "bob", ts("2024-01-05 10:00:00")))
      .toDF("memory_id", "principal_id", "granted_at").write.parquet(acl)
    refuses(acl, "0", 1)(store.acls())
    refuses(acl, "0", 1)(store.share(Seq("m1"), "carol", ts("2024-01-06 10:00:00")))
    refuses(acl, "0", 1)(store.describe())
    assert(ManifestIO.read(acl).isEmpty, "a refused store must not be written")

    val graph = freshDir("format-graph")
    val t0 = ts("2026-01-01 00:00:00")
    Seq(("e1", "a", "b", "rel", t0, Option.empty[Timestamp], 1.0, t0))
      .toDF("id", "src", "dst", "relation", "valid_from", "valid_to",
        "confidence", "recorded_at").write.parquet(graph)
    val g = GraphStore.open(spark, graph)
    refuses(graph, "0", 1)(g.edges())
    refuses(graph, "0", 1)(g.describe())
    refuses(graph, "0", 1)(g.insertEdge("e2", "b", "c", "rel", t0, None, 1.0, t0))
    refuses(graph, "0", 1)(g.closeEdge("e1", t0))
    assert(ManifestIO.read(graph).isEmpty, "a refused store must not be written")
  }
}
