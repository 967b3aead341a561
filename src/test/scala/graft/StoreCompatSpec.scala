package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import graft.api.{ManifestIO, Mnemo}
import graft.api.Mnemo.RememberRequest
import org.apache.spark.sql.functions._

/** On-disk compatibility of the maintained stores: a store re-opens
  * under a different compiled default (bucket count), the manifest
  * commit protocol (write-once generations) keeps its crash guarantees,
  * and crash orphans stay invisible until the next commit sweeps
  * them. StoreFormatSpec pins that a store in any other on-disk format
  * fails loudly. */
class StoreCompatSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def freshStore() = {
    val dir = Files.createTempDirectory("compat-store").toFile
    dir.delete()
    Mnemo.open(spark, dir.getAbsolutePath)
  }

  private def seed(store: graft.api.MnemoStore): Unit =
    store.remember(Seq(
      RememberRequest("m1", "alice", "t1", "alpha beta gamma tokens here",
        createdAt = ts("2024-01-01 10:00:00")),
      RememberRequest("m2", "alice", "t1", "delta epsilon zeta tokens here",
        createdAt = ts("2024-01-02 10:00:00"))))

  test("orphan generation dir (crash before manifest commit) is invisible and swept") {
    val store = freshStore()
    seed(store)
    val root = store.path + "_orientation"
    val hits = store.recall(
      Mnemo.RecallRequest(strategy = "exact", agentId = Some("alice"), limit = 10),
      ts("2024-02-01 00:00:00"))
    store.orientationUpdate(hits, "alice", 1706745600L)
    val committed = store.orientationRender("alice").count()

    // simulate a crash: a half-written generation dir that never made
    // it into the manifest
    import spark.implicits._
    Seq(("alice", "junk", 99L, 0L, "junk", 1L))
      .toDF("namespace", "key", "freq", "last_seen", "value", "tokens")
      .write.parquet(s"$root/alice-g999")

    // readers never see it
    assert(store.orientationRender("alice").count() == committed)
    assert(!store.orientationRender("alice").select("key").collect()
      .map(_.getString(0)).contains("junk"))
    // the next committed update sweeps it
    store.orientationUpdate(hits, "alice", 1706832000L)
    assert(!Files.exists(Paths.get(root, "alice-g999")))
  }

  test("orientation: a crash in the FIRST update (orphan generation, no manifest) reads empty and the next update sweeps it") {
    val store = freshStore()
    seed(store)
    val root = store.path + "_orientation"
    // the crash shape of a first orientationUpdate: its generation dir
    // was written, the manifest commit never happened
    import spark.implicits._
    Seq(("alice", "junk", 99L, 0L, "junk", 1L))
      .toDF("namespace", "key", "freq", "last_seen", "value", "tokens")
      .write.parquet(s"$root/alice-g1")
    assert(ManifestIO.read(root).isEmpty)
    assert(store.orientationState().count() == 0)
    val h = store.describeOrientation()
    assert(h.version == 2 && h.namespaces == 0, s"orientation health: $h")
    val hits = store.recall(
      Mnemo.RecallRequest(strategy = "exact", agentId = Some("alice"), limit = 10),
      ts("2024-02-01 00:00:00"))
    store.orientationUpdate(hits, "bob", 1706745600L)
    assert(!Files.exists(Paths.get(root, "alice-g1")),
      "the first committed update must sweep the crashed update's orphan")
    assert(store.orientationRender("alice").count() == 0)
    assert(store.orientationRender("bob").count() > 0)
  }

  test("legacy root-file attention store re-opens; compaction migrates it and preserves history") {
    val store = freshStore()
    // legacy layout: parquet appends directly at the store root — which
    // is exactly what puts against a fresh store produce
    store.attentionStatePut("alice", "focus", "v1".getBytes, ts("2024-01-01 10:00:00"))
    store.attentionStatePut("alice", "focus", "v2".getBytes, ts("2024-01-02 10:00:00"))
    store.attentionStatePut("alice", "other", "x".getBytes, ts("2024-01-03 10:00:00"))
    val root = store.path + "_attention"
    assert(ManifestIO.read(root).isEmpty, "puts alone must not create a manifest")

    store.attentionStateCompact()
    val m1 = ManifestIO.read(root).getOrElse(fail("manifest missing after compact"))
    assert(m1("version") == "1" && m1("data") == "g1")
    // latest-per-key resolution unchanged; history retained (3 rows)
    assert(store.attentionStateGet("alice", "focus").map(new String(_)).contains("v2"))
    assert(spark.read.parquet(s"$root/g1").count() == 3)
    // absorbed root-level files are swept
    assert(!Files.list(Paths.get(root)).iterator().asScala
      .exists(Files.isRegularFile(_)))

    // puts continue into the committed generation; a second compaction
    // rolls to g2 and sweeps g1
    store.attentionStatePutAll(Seq(
      ("alice", "focus", "v3".getBytes, ts("2024-01-04 10:00:00")),
      ("bob", "k", "y".getBytes, ts("2024-01-04 11:00:00"))))
    assert(store.attentionStateGet("alice", "focus").map(new String(_)).contains("v3"))
    store.attentionStateCompact()
    val m2 = ManifestIO.read(root).getOrElse(fail("manifest missing"))
    assert(m2("data") == "g2")
    assert(!Files.exists(Paths.get(root, "g1")))
    assert(store.attentionStateGet("alice", "focus").map(new String(_)).contains("v3"))
    assert(store.attentionStateGet("bob", "k").map(new String(_)).contains("y"))
    assert(spark.read.parquet(s"$root/g2").count() == 5)
  }

  // ---- memories store: v3 hash-bucket layout ----

  /** Every data file currently under the store root, with its size —
    * the byte-level fingerprint untouched buckets must preserve. */
  private def fileMap(root: String): Map[String, Long] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala
      .filter(Files.isRegularFile(_))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => base.relativize(p).toString -> Files.size(p))
      .toMap
    finally walk.close()
  }

  test("point op rewrites only the buckets its ids hash into; untouched bucket files are byte-identical") {
    val store = freshStore()
    // spread rows over many buckets
    store.remember((0 until 64).map(i =>
      RememberRequest(f"id-$i%03d", "alice", "t1", s"content number $i",
        createdAt = ts("2024-01-01 10:00:00"))))
    val before = fileMap(store.path)
    val manifestBefore = ManifestIO.read(store.path).get

    store.forget("alice", Seq("id-000"), ts("2024-02-01 00:00:00"))

    val manifestAfter = ManifestIO.read(store.path).get
    val touched = manifestBefore.collect {
      case (k, v) if k.startsWith("bucket.") && !manifestAfter.get(k).contains(v) => k
    }.toSet
    assert(touched.size == 1, s"exactly one bucket should be rewritten, got $touched")
    // every surviving pre-op file is bit-for-bit untouched (segment dirs
    // are immutable; only the touched bucket's segment was superseded)
    val after = fileMap(store.path)
    val common = before.keySet.intersect(after.keySet)
    assert(common.nonEmpty)
    common.foreach(f => assert(before(f) == after(f), s"file $f changed size"))
    // the untouched buckets' committed segments are the SAME directories
    manifestBefore.foreach { case (k, v) =>
      if (k.startsWith("bucket.") && !touched.contains(k))
        assert(manifestAfter(k) == v, s"untouched $k remapped")
    }
    assert(store.table().filter("deleted_at IS NOT NULL").count() == 1)
  }

  test("appends accumulate bucket segments; overflow compacts back to one segment without losing rows") {
    val store = freshStore()
    // find ids that all hash into ONE bucket, through the store's own route
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val sameBucket = (0 until 4000).map(i => s"probe-$i").toDF("id")
      .select(col("id"), Mnemo.bucketOf(col("id")).as("b"))
      .collect().groupBy(_.getInt(1)).values
      .find(_.length >= Mnemo.MaxSegments + 2).get
      .map(_.getString(0)).take(Mnemo.MaxSegments + 2)
    sameBucket.zipWithIndex.foreach { case (id, i) =>
      store.remember(Seq(RememberRequest(id, "alice", "t1", s"row $i",
        createdAt = ts(f"2024-01-${i + 1}%02d 10:00:00"))))
    }
    val m = ManifestIO.read(store.path).get
    val segLists = m.collect { case (k, v) if k.startsWith("bucket.") =>
      v.split(",").count(_.nonEmpty) }
    assert(segLists.max <= Mnemo.MaxSegments + 1,
      s"overflowed bucket was not compacted: $m")
    assert(store.table().count().toInt == sameBucket.length)
    assert(store.verifyChains().filter("NOT chain_valid").count() == 0)
  }

  test("ampMerge is one atomic commit: consolidated row + source tombstones land in a single generation") {
    val store = freshStore()
    seed(store)
    val genBefore = ManifestIO.read(store.path).get("gen").toLong
    store.ampMerge(
      RememberRequest("bundle-1", "alice", "t1", "alpha and delta merged",
        memoryType = "semantic", createdAt = ts("2024-02-01 10:00:00")),
      Seq("m1", "m2"), ts("2024-02-01 10:00:00"))
    val genAfter = ManifestIO.read(store.path).get("gen").toLong
    assert(genAfter == genBefore + 1, "merge must be exactly one manifest commit")
    val t = store.table()
    assert(t.filter("id = 'bundle-1' AND deleted_at IS NULL").count() == 1)
    assert(t.filter("id IN ('m1','m2') AND deleted_at IS NOT NULL").count() == 2)
  }

  test("orphan memories generation dir (crash before manifest commit) is invisible and swept") {
    val store = freshStore()
    seed(store)
    val rows = store.table().count()
    // simulate a crashed write: a generation dir the manifest never saw
    import spark.implicits._
    Seq(("junk", "x", "t1")).toDF("id", "content", "thread_id")
      .write.parquet(s"${store.path}/g999/a/bucket=0")
    assert(store.table().count() == rows)
    store.forget("alice", Seq("m2"), ts("2024-03-01 00:00:00"))
    assert(!Files.exists(Paths.get(store.path, "g999")))
    assert(store.table().count() == rows)
  }

  test("memories: an orphan generation before the FIRST commit is invisible, reports v3, and the first commit sweeps it") {
    val store = freshStore()
    // the crash shape of a first remember: its append segment was
    // written, the manifest commit never happened
    import spark.implicits._
    Seq(("junk", "x", "t1")).toDF("id", "content", "thread_id")
      .write.parquet(s"${store.path}/g1/a/bucket=0")
    val orphanFiles = Files.list(Paths.get(store.path, "g1", "a", "bucket=0"))
      .iterator().asScala.map(_.getFileName.toString).toList
    assert(ManifestIO.read(store.path).isEmpty)
    assert(store.table().count() == 0)
    val h = store.describe()
    assert(h.version == 3 && h.generation == 0L && h.segments == 0,
      s"a never-committed store is a current-format store: $h")
    seed(store)
    assert(store.table().count() == 2)
    assert(store.table().filter("id = 'junk'").count() == 0)
    orphanFiles.foreach(f => assert(
      !Files.exists(Paths.get(store.path, "g1", "a", "bucket=0", f)),
      s"orphan file $f survived the first commit"))
  }

  test("store keeps its creation-time bucket count: point ops route correctly under a different compiled default") {
    // a store created with buckets=8 (simulating an old build, or a
    // cluster-scale deployment that raised the constant) must stay
    // correctly addressable by a build whose default is 32 — routing
    // reads the manifest's buckets= key, never the compiled constant
    val dir = Files.createTempDirectory("compat-buckets").toFile
    dir.delete()
    val writer = new graft.api.MnemoStore(spark, dir.getAbsolutePath, newStoreBuckets = 8)
    writer.remember((0 until 64).map(i =>
      RememberRequest(f"id-$i%03d", "alice", "t1", s"content number $i",
        createdAt = ts("2024-01-01 10:00:00"))))
    val m0 = ManifestIO.read(dir.getAbsolutePath).get
    assert(m0("buckets") == "8")
    assert(m0.keys.count(_.startsWith("bucket.")) <= 8)

    // reopen under the CURRENT compiled default (32)
    val reader = Mnemo.open(spark, dir.getAbsolutePath)
    assert(reader.table().count() == 64)
    val before = fileMap(dir.getAbsolutePath)
    reader.forget("alice", Seq("id-000"), ts("2024-02-01 00:00:00"))
    // the tombstone LANDED — under constant-based routing with a
    // different default this silently no-ops (the redaction-safety bug)
    assert(reader.table().filter("id = 'id-000' AND deleted_at IS NOT NULL").count() == 1)
    val m1 = ManifestIO.read(dir.getAbsolutePath).get
    assert(m1("buckets") == "8", "bucket count must survive mutations")
    // still bucket-pruned: exactly one bucket rewritten, survivors untouched
    val touched = m0.collect {
      case (k, v) if k.startsWith("bucket.") && !m1.get(k).contains(v) => k
    }.toSet
    assert(touched.size == 1, s"exactly one bucket should be rewritten, got $touched")
    val after = fileMap(dir.getAbsolutePath)
    before.keySet.intersect(after.keySet)
      .foreach(f => assert(before(f) == after(f), s"file $f changed size"))
  }

  test("manifest write is an atomic replace: a reader mid-commit sees old or new, never partial") {
    val dir = Files.createTempDirectory("manifest-io").toString
    ManifestIO.write(dir, Map("version" -> "1", "data" -> "g1"))
    assert(ManifestIO.read(dir).contains(Map("version" -> "1", "data" -> "g1")))
    ManifestIO.write(dir, Map("version" -> "1", "data" -> "g2"))
    assert(ManifestIO.read(dir).get("data") == "g2")
    // no stage file survives a commit, and no mutable manifest is written
    assert(!Files.list(Paths.get(dir, ManifestIO.PointerDir)).iterator().asScala
      .exists(_.getFileName.toString.contains(".tmp")))
    assert(!Files.exists(Paths.get(dir, ManifestIO.FileName)))
  }

  // ---- tag→bucket inverted index (forgetSubject's prune) ----

  /** Buckets the store's own route assigns to these ids under the
    * compiled default (what a fresh store uses). */
  private def routeOf(ids: Seq[String]): Set[Int] = {
    import spark.implicits._
    ids.toDF("id").select(Mnemo.bucketOf(col("id")).as("b"))
      .collect().map(_.getInt(0)).toSet
  }

  private def touchedBuckets(before: Map[String, String],
      after: Map[String, String]): Set[String] =
    before.collect {
      case (k, v) if k.startsWith("bucket.") && !after.get(k).contains(v) => k
    }.toSet

  test("a store addressed by an explicit file:// URI runs the full lifecycle through the Hadoop FS path") {
    // the manifest protocol is scheme-resolved (ManifestIO routes every
    // read/write/list/delete through the path's Hadoop FileSystem);
    // this drives a store whose PATH carries the scheme, so none of the
    // legs can silently fall back to driver-local pathname assumptions
    val localDir = Files.createTempDirectory("compat-fsuri").toFile
    localDir.delete()
    val store = Mnemo.open(spark, "file://" + localDir.getAbsolutePath)
    seed(store)
    assert(store.table().count() == 2)
    assert(ManifestIO.read(store.path).exists(_("version") == "3"),
      "manifest must commit and read back through the scheme'd path")
    store.forget("alice", Seq("m1"), ts("2024-01-05 10:00:00"))
    val live = store.table().filter(col("deleted_at").isNull)
      .select("id").collect().map(_.getString(0)).toSet
    assert(live == Set("m2"), s"bucket-pruned point op through file://: $live")
    // the AUX stores (grants, checkpoints) hang off the same scheme'd
    // path — their existence probes must resolve the scheme too, or a
    // successful write reads back as an empty store (the java.io.File
    // regression this pin guards against: File("file:///...").exists()
    // is false because the URI is treated as a literal pathname)
    store.share(Seq("m2"), "bob", ts("2024-01-05 11:00:00"))
    val granted = store.recallVisible("bob",
      graft.api.Mnemo.RecallRequest(strategy = "exact", limit = 10),
      ts("2024-01-06 10:00:00")).select("id")
      .collect().map(_.getString(0)).toSet
    assert(granted.contains("m2"),
      s"file:// grant must be visible after write: $granted")
    store.checkpoint("ck1", "alice", ts("2024-01-06 10:00:00"))
    assert(store.replay("ck1").count() >= 1,
      "file:// checkpoint must read back")
    // the maintained dedup index through the same scheme'd addressing
    import spark.implicits._
    val idx = new graft.api.DedupIndex(spark,
      "file://" + Files.createTempDirectory("compat-fsidx").toFile.getAbsolutePath + "/idx",
      capacity = 100)
    idx.ingest(Seq(1L -> "some document text here tonight").toDF("doc_id", "text")).collect()
    val v = idx.ingest(Seq(2L -> "some document text here tonight").toDF("doc_id", "text"))
      .collect().head
    assert(v.getInt(1) == 1 && v.getSeq[Long](2) == Seq(1L))
  }

  test("an UNKNOWN scheme is refused at commit time; object-store schemes route to the pointer protocol") {
    // unknown scheme: an atomic put-if-absent publish is not a verified
    // fact there — refuse before FS resolution
    val e = intercept[UnsupportedOperationException] {
      ManifestIO.write("weirdfs://some-host/store", Map("version" -> "3"))
    }
    assert(e.getMessage.contains("atomic put-if-absent"),
      s"the refusal must explain itself: ${e.getMessage}")
    assert(e.getMessage.contains("weirdfs"), "the refusal must name the scheme")
    // an object-store scheme is no longer refused by the protocol gate:
    // it routes to the write-once pointer protocol and proceeds to FS
    // resolution (which fails HERE only because no s3a connector is on
    // this container's classpath — not an UnsupportedOperationException)
    val s3 = intercept[Throwable] {
      ManifestIO.write("s3a://some-bucket/store", Map("version" -> "3"))
    }
    assert(!s3.isInstanceOf[UnsupportedOperationException],
      s"s3a must pass the protocol gate, got: $s3")
    // the local default scheme commits a generation
    val ok = Files.createTempDirectory("compat-s3gate").toFile.getAbsolutePath
    ManifestIO.write(ok, Map("version" -> "3"))
    assert(ManifestIO.read(ok).exists(_("version") == "3"))
  }

  test("pointer protocol: full store lifecycle through write-once generation manifests on a local FS") {
    // the local commit path (staged write + link-based put-if-absent)
    // drives the whole protocol — publish, resolve-max read, retention,
    // gc interplay — end to end without an object store
    val localDir = Files.createTempDirectory("compat-pointer").toFile
    localDir.delete()
    val store = Mnemo.open(spark, localDir.getAbsolutePath)
    seed(store)
    assert(store.table().count() == 2)
    // the layout really is the pointer one: generation files, no
    // mutable manifest.properties
    val pdir = new java.io.File(localDir, ManifestIO.PointerDir)
    assert(pdir.isDirectory && pdir.list().exists(_.startsWith("manifest-")),
      s"expected pointer generation files, found: ${Option(pdir.list()).map(_.toList)}")
    assert(!new java.io.File(localDir, ManifestIO.FileName).exists(),
      "pointer-layout store must not carry the mutable manifest")
    store.forget("alice", Seq("m1"), ts("2024-01-05 10:00:00"))
    val live = store.table().filter(col("deleted_at").isNull)
      .select("id").collect().map(_.getString(0)).toSet
    assert(live == Set("m2"), s"point op through the pointer protocol: $live")
    store.checkpoint("ck1", "alice", ts("2024-01-06 10:00:00"))
    assert(store.replay("ck1").count() >= 1)
    // the dedup index through the same protocol
    import spark.implicits._
    val idx = new graft.api.DedupIndex(spark,
      Files.createTempDirectory("compat-pidx").toFile.getAbsolutePath + "/idx",
      capacity = 100)
    idx.ingest(Seq(1L -> "some document text here tonight").toDF("doc_id", "text")).collect()
    val v = idx.ingest(Seq(2L -> "some document text here tonight").toDF("doc_id", "text"))
      .collect().head
    assert(v.getInt(1) == 1 && v.getSeq[Long](2) == Seq(1L))
  }

  test("pointer protocol: put-if-absent detects a second writer, retention keeps the tail") {
    val dir = Files.createTempDirectory("compat-psticky").toFile.getAbsolutePath
    ManifestIO.write(dir, Map("version" -> "3", "k" -> "1"))
    ManifestIO.write(dir, Map("version" -> "3", "k" -> "2"))
    assert(ManifestIO.read(dir).exists(_("k") == "2"))
    // writer race: two writers resolve the same next generation before
    // either publishes; the second publish must hit the put-if-absent
    // conflict, not clobber the first. Driven through the primitive —
    // write() re-lists internally, so the race window is inside it
    val (fs, pdir, gens) = ManifestIO.pointerStateForTest(dir)
    val next = gens.max + 1
    ManifestIO.publishPointer(dir, Map("k" -> "A"), fs, fs, "file", pdir, next)
    val e = intercept[java.io.IOException] {
      ManifestIO.publishPointer(dir, Map("k" -> "B"), fs, fs, "file", pdir, next)
    }
    assert(e.getMessage.contains("single-writer"),
      s"conflict must be loud and explain itself: ${e.getMessage}")
    // the winner's content is untouched
    assert(ManifestIO.read(dir).exists(_("k") == "A"))
    // retention: many commits keep only the newest PointerKeep files
    (3 to 25).foreach(i => ManifestIO.write(dir, Map("version" -> "3", "k" -> i.toString)))
    assert(ManifestIO.read(dir).exists(_("k") == "25"))
    val nFiles = new java.io.File(dir, ManifestIO.PointerDir)
      .list().count(_.endsWith(".properties"))
    assert(nFiles == ManifestIO.PointerKeep,
      s"retention must bound the generation files, found $nFiles")
  }

  test("pointer protocol: crashed-writer leftovers (orphan data dir + dead stage file) are invisible and swept") {
    // the protocol doc's crash-window claim, driven end to end: a
    // writer that died after staging data (and possibly a manifest
    // stage file) but BEFORE its put-if-absent publish must leave
    // readers on the previous generation, and the next commit sweeps
    // both kinds of leftovers
    val store = freshStore()
    seed(store)
    val rows = store.table().count()
    import spark.implicits._
    Seq(("junk", "x", "t1")).toDF("id", "content", "thread_id")
      .write.parquet(s"${store.path}/g999/a/bucket=0")
    val deadStage = new java.io.File(
      s"${store.path}/${ManifestIO.PointerDir}/manifest-99999999999999999999.properties.tmp-dead")
    assert(deadStage.createNewFile())
    // both leftovers invisible to readers
    assert(store.table().count() == rows)
    // the next commit sweeps the orphan dir (gc) and the dead stage
    store.forget("alice", Seq("m2"), ts("2024-03-01 00:00:00"))
    assert(!Files.exists(Paths.get(store.path, "g999")),
      "orphan data dir must be swept under the pointer protocol")
    assert(!deadStage.exists(), "dead writer's stage file must be swept")
    assert(store.table().count() == rows)
  }

  test("pointer protocol: a torn head generation (no committed sentinel) falls back to the newest intact commit") {
    // the sentinel is the last physical line of every generation file;
    // a crash mid-write on a scheme whose create-then-write is not
    // all-or-nothing leaves a truncated head that Properties.load
    // would happily parse as a PARTIAL manifest — readers must skip it
    val dir = Files.createTempDirectory("compat-ptorn").toFile.getAbsolutePath
    ManifestIO.write(dir, Map("version" -> "3", "k" -> "good", "extra" -> "x"))
    ManifestIO.write(dir, Map("version" -> "3", "k" -> "head", "extra" -> "y"))
    assert(ManifestIO.read(dir).exists(_("k") == "head"))
    val pdir = new java.io.File(dir, ManifestIO.PointerDir)
    val head = pdir.listFiles().filter(_.getName.endsWith(".properties"))
      .maxBy(_.getName)
    // tear the head: drop its tail bytes (the sentinel line goes first)
    val bytes = Files.readAllBytes(head.toPath)
    val sentinelAt = new String(bytes, "ISO-8859-1")
      .indexOf(ManifestIO.CommittedKey)
    assert(sentinelAt > 0, "sentinel must be in the serialized bytes")
    Files.write(head.toPath,
      java.util.Arrays.copyOfRange(bytes, 0, sentinelAt))
    // the torn head still parses as Properties — but without the
    // sentinel the reader must resolve the previous intact generation
    val m = ManifestIO.read(dir).getOrElse(fail("store became unreadable"))
    assert(m("k") == "good",
      s"reader surfaced the torn head instead of falling back: $m")
    assert(!m.contains(ManifestIO.CommittedKey),
      "the protocol sentinel must never surface to callers")
    // the next commit publishes max+1 and the store heals forward
    ManifestIO.write(dir, Map("version" -> "3", "k" -> "healed"))
    assert(ManifestIO.read(dir).exists(_("k") == "healed"))
  }

  test("pointer protocol: a head torn mid-unicode-escape (Properties.load THROWS) still falls back, not crashes") {
    // the r14 advice class: Properties.load raises
    // IllegalArgumentException — not FileNotFound — on a malformed
    // \uXXXX escape, which is exactly what a truncation INSIDE an
    // escaped non-Latin-1 value leaves behind; read() must treat the
    // unparseable generation as torn and resolve the previous intact
    // one instead of surfacing the parser crash
    val dir = Files.createTempDirectory("compat-ptorn2").toFile.getAbsolutePath
    ManifestIO.write(dir, Map("version" -> "3", "k" -> "good"))
    // a value with a non-Latin-1 char serializes as a \uXXXX escape
    ManifestIO.write(dir, Map("version" -> "3", "k" -> "head", "t" -> "προφίλ"))
    assert(ManifestIO.read(dir).exists(_("k") == "head"))
    val pdir = new java.io.File(dir, ManifestIO.PointerDir)
    val head = pdir.listFiles().filter(_.getName.endsWith(".properties"))
      .maxBy(_.getName)
    val text = new String(Files.readAllBytes(head.toPath), "ISO-8859-1")
    val escAt = text.indexOf("\\u")
    assert(escAt > 0, "expected a \\uXXXX escape in the serialized head")
    // truncate MID-escape: leaves "\u3B" — the malformed tail that
    // makes Properties.load throw IllegalArgumentException
    Files.write(head.toPath,
      text.substring(0, escAt + 4).getBytes("ISO-8859-1"))
    intercept[IllegalArgumentException] {
      val p = new java.util.Properties()
      val in = new java.io.FileInputStream(head)
      try p.load(in) finally in.close()
    } // precondition: this truncation really is the throwing class
    val m = ManifestIO.read(dir).getOrElse(fail("store became unreadable"))
    assert(m("k") == "good",
      s"reader must fall back past the unparseable head: $m")
    // and the store heals forward
    ManifestIO.write(dir, Map("version" -> "3", "k" -> "healed"))
    assert(ManifestIO.read(dir).exists(_("k") == "healed"))
  }

  test("forgetSubject prunes to the tag's buckets via the inverted index") {
    val store = freshStore()
    val tagged = Seq("id-000", "id-037")
    store.remember((0 until 64).map(i =>
      RememberRequest(f"id-$i%03d", "alice", "t1", s"content number $i",
        tags = if (tagged.contains(f"id-$i%03d")) Seq("subject:s1") else Nil,
        createdAt = ts("2024-01-01 10:00:00"))))
    val m0 = ManifestIO.read(store.path).get
    assert(m0.contains("tagidx"), "new stores must carry a complete tag index")
    val before = fileMap(store.path)

    store.forgetSubject("subject:s1", ts("2024-02-01 00:00:00"))

    // redaction landed in full
    assert(store.table()
      .filter("redacted AND content = '[REDACTED]' AND deleted_at IS NOT NULL")
      .count() == 2)
    // and folded ONLY the buckets the tagged ids hash into — not the store
    val m1 = ManifestIO.read(store.path).get
    val touched = touchedBuckets(m0, m1)
    val expected = routeOf(tagged).map(b => s"bucket.$b")
    assert(touched == expected,
      s"subject fold must touch exactly the tag's buckets: $touched vs $expected")
    val after = fileMap(store.path)
    before.keySet.intersect(after.keySet)
      .foreach(f => assert(before(f) == after(f), s"file $f changed size"))
    // chains still verify (redact keeps hashes)
    assert(store.verifyChains().filter("NOT chain_valid").count() == 0)
  }

  test("tags added by a bucket rewrite (consolidation flip) enter the index") {
    val store = freshStore()
    store.remember((0 until 6).map(i =>
      RememberRequest(s"ep-$i", "alice", "t1", s"note about topic $i",
        tags = Seq("project-x"), createdAt = ts(f"2024-01-0${i + 1} 10:00:00"))))
    store.consolidate("alice", minClusterSize = 2, ts("2024-02-01 00:00:00"))

    // the flip stamped __consolidated__ onto the originals via a bucket
    // REPLACEMENT — the index must still learn those (tag, bucket)
    // pairs, or a later tag-addressed op would silently miss them
    val m = ManifestIO.read(store.path).get
    val segs = m("tagidx").split(",").filter(_.nonEmpty)
    assert(segs.nonEmpty)
    val idx = spark.read.schema("tag STRING, bucket INT")
      .parquet(segs.map(s => s"${store.path}/$s"): _*)
    val flipped = idx.filter(col("tag") === Mnemo.ConsolidatedTag)
      .select("bucket").collect().map(_.getInt(0)).toSet
    assert(routeOf((0 until 6).map(i => s"ep-$i")).subsetOf(flipped),
      "every flipped member's bucket must be indexed under the flip tag")
    // and the appended bundle's own tags are indexed via the append path
    assert(idx.filter(col("tag") === Mnemo.ConsolidationTag).count() >= 1)
  }

  test("acl, checkpoint, delegation and graph tables: a crashed first commit's orphan g1 reads typed empty and the next write sweeps it") {
    import spark.implicits._
    val store = freshStore()
    seed(store)
    val graph = graft.api.GraphStore.open(spark, store.path + "_graph")
    val t0 = ts("2024-01-05 10:00:00")
    // (table root, junk orphan rows, read, expected columns, write)
    val tables: Seq[(String, org.apache.spark.sql.DataFrame,
        () => org.apache.spark.sql.DataFrame, Seq[String], () => Unit)] = Seq(
      (store.path + "_acls",
        Seq(("junk", "junk", t0)).toDF("memory_id", "principal_id", "granted_at"),
        () => store.acls(), Seq("memory_id", "principal_id", "granted_at"),
        () => store.share(Seq("m1"), "bob", t0)),
      (store.path + "_ckpts",
        Seq((Seq("junk"), "junk", "junk", t0))
          .toDF("memory_refs", "name", "agent_id", "created_at"),
        () => store.checkpoints(), Seq("memory_refs", "name", "agent_id", "created_at"),
        () => store.checkpoint("ck", "alice", t0)),
      (store.path + "_delegations",
        Seq(("junk", "junk", t0, t0))
          .toDF("from_agent", "to_agent", "granted_at", "expires_at"),
        () => store.delegations(), Seq("from_agent", "to_agent", "granted_at", "expires_at"),
        () => store.delegate("alice", "bob", t0, ts("2024-02-01 00:00:00"))),
      (graph.path,
        Seq(("junk", "a", "b", "rel", t0, Option.empty[Timestamp], 1.0, t0))
          .toDF("id", "src", "dst", "relation", "valid_from", "valid_to",
            "confidence", "recorded_at"),
        () => graph.edges(), Seq("id", "src", "dst", "relation", "valid_from",
          "valid_to", "confidence", "recorded_at"),
        () => graph.insertEdge("e1", "a", "b", "rel", t0, None, 1.0, t0)))
    tables.foreach { case (root, junk, read, cols, write) =>
      junk.write.parquet(s"$root/g1")
      val orphanFiles = Files.list(Paths.get(root, "g1")).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toList
      assert(orphanFiles.nonEmpty)
      assert(ManifestIO.read(root).isEmpty)
      val empty = read()
      assert(empty.columns.toSeq == cols && empty.count() == 0,
        s"$root: an orphan-only table must read typed empty")
      write()
      assert(read().count() == 1, s"$root: exactly the committed row")
      orphanFiles.foreach(f => assert(!Files.exists(Paths.get(root, "g1", f)),
        s"$root: orphan file $f survived the first commit"))
    }
  }

  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }
}
