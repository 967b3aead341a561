package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.api.Mnemo
import graft.api.Mnemo.RememberRequest

/** Agent-prunability of the maintained store's read path (SURVEY §4:
  * the reference's dominant access key is `agent_id` — every storage op
  * in storage/duckdb.rs:262-328 filters on it). Buckets hash on `id`,
  * which mixes agents uniformly, so the store clusters rows by
  * (agent_id, id) WITHIN each bucket segment at commit time: parquet
  * row-group min/max stats on agent_id then let the pushed agent filter
  * skip other agents' row groups. These tests pin all three legs —
  * the on-disk sort, the filter pushdown, and the resulting row-group
  * prunability — plus the untouched-bucket file-identity guarantee the
  * sort must not break. */
class StorePruneSpec extends SparkSpec {

  private def ts(ms: Long) = new Timestamp(1700000000000L + ms)

  private def freshDir(): String = {
    val d = Files.createTempDirectory("prune-store").toFile
    d.delete()
    d.getAbsolutePath
  }

  /** Interleaved multi-agent batch: consecutive ids round-robin the
    * agents, so insertion order is maximally agent-mixed (the layout
    * the sort has to fix). */
  private def batch(n: Int, agents: Int): Seq[RememberRequest] =
    (0 until n).map { i =>
      val a = s"agent-${i % agents}"
      RememberRequest(f"$a-m$i%06d", a, s"t${i % 4}",
        s"memory $i for $a with content tokens", createdAt = ts(i * 1000L))
    }

  private def segmentFiles(root: String): Seq[Path] = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) Nil
    else Files.walk(r).iterator().asScala
      .filter(Files.isRegularFile(_))
      .filter { p =>
        val nm = p.getFileName.toString
        nm.startsWith("part-") && nm.endsWith(".parquet") &&
          p.toString.contains("bucket=")
      }
      .toSeq
  }

  test("every bucket segment file is sorted by (agent_id, id)") {
    val store = Mnemo.open(spark, freshDir())
    store.remember(batch(2000, 8))
    // a second interleaved append: its segments must be sorted too
    store.remember((0 until 500).map { i =>
      val a = s"agent-${(i * 3) % 8}"
      RememberRequest(f"$a-x$i%06d", a, "t9", s"second wave $i",
        createdAt = ts(10000000L + i * 1000L))
    })
    val files = segmentFiles(store.path)
    assert(files.nonEmpty, "store wrote no bucket segment files")
    files.foreach { f =>
      val rows = spark.read.parquet(f.toString)
        .select("agent_id", "id").collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(rows.sameElements(rows.sortBy(identity)),
        s"segment file not clustered by (agent_id, id): $f")
    }
  }

  test("the agent filter on a store read is pushed to the parquet scan") {
    val store = Mnemo.open(spark, freshDir())
    store.remember(batch(400, 4))
    val p = store.table().filter(col("agent_id") === "agent-1")
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("EqualTo(agent_id,agent-1)"),
      s"agent_id equality must reach the scan; got: $pushed")
  }

  test("recallVisible's own leg pushes the agent filter; grant leg routes to grant buckets") {
    val store = Mnemo.open(spark, freshDir())
    store.remember(batch(400, 4))
    val p = store.recallVisible("agent-1",
      graft.api.Mnemo.RecallRequest(query = "memory tokens", strategy = "lexical"),
      ts(999999999L))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the own-or-public OR pushes to the scan WHOLE (both disjuncts
    // are column-only) — the prune decision parquet makes per row
    // group is identical to two separate legs, for one scan's I/O
    assert(p.contains("Or(EqualTo(agent_id,agent-1)"),
      s"visibility OR lost its pushed agent disjunct")
    assert(p.contains("In(scope") || p.contains("EqualTo(scope"),
      s"visibility OR lost its pushed scope disjunct")
    // no grants exist ⇒ the grant leg must contribute an EMPTY local
    // relation, not a second full store scan (count the formatted
    // detail headers, one per scan node)
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1, s"recallVisible fans out into $scans parquet scans")

    // with one grant, the grant leg reads ONLY the granted id's bucket
    store.share(Seq("agent-0-m000000"), "agent-1", ts(1L))
    val visible = store.recallVisible("agent-1",
      graft.api.Mnemo.RecallRequest(query = "memory", strategy = "exact", limit = 500),
      ts(999999999L))
    assert(visible.filter(col("id") === "agent-0-m000000").count() == 1,
      "granted row lost by the routed grant leg")
  }

  test("a granted row with a NULL scope stays visible through the grant leg") {
    // a caller may pass a null scope; the grant leg's complement
    // filters must be null-safe — a bare !isin would null the row
    // away, while the old OR-plan kept it
    val store = Mnemo.open(spark, freshDir())
    store.remember(Seq(RememberRequest("null-scope-row", "agent-9", "t0",
      "externally written content", scope = null, createdAt = ts(1L))))
    store.share(Seq("null-scope-row"), "agent-reader", ts(2L))
    val visible = store.recallVisible("agent-reader",
      graft.api.Mnemo.RecallRequest(query = "", strategy = "exact", limit = 100),
      ts(999999999L))
    assert(visible.filter(col("id") === "null-scope-row").count() == 1,
      "granted null-scope row lost by the grant leg's complement filter")
  }

  test("agent-scoped chain verify pushes the agent filter and stays chain-correct") {
    val store = Mnemo.open(spark, freshDir())
    store.remember(batch(600, 6))
    val p = store.verifyChains("agent-2")
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("EqualTo(agent_id,agent-2)"),
      "agent-scoped verify lost its pushed filter")
    val v = store.verifyChains("agent-2")
    assert(v.filter(col("agent_id") =!= "agent-2").count() == 0)
    assert(v.filter(!col("chain_valid")).count() == 0,
      "intact per-agent chain failed verification")
    // scoped result == global result restricted to the agent
    val global = store.verifyChains().filter(col("agent_id") === "agent-2")
    assert(v.count() == global.count() && v.count() > 0)
  }

  test("row-group agent_id stats are tight: an agent's rows occupy few row groups") {
    // Small parquet row groups simulate the 100-TB shape (a cluster
    // bucket is O(1 GB) with many 128-MB row groups; a test bucket is
    // one group unless we shrink it). With the (agent_id, id) sort, a
    // given agent's rows must land in a contiguous minority of row
    // groups — the prunability predicate itself, read from the footers.
    val hc = spark.sparkContext.hadoopConfiguration
    val savedBlock = hc.get("parquet.block.size")
    val savedPage = hc.get("parquet.page.size")
    hc.setInt("parquet.block.size", 16 * 1024)
    hc.setInt("parquet.page.size", 4 * 1024)
    try {
      val store = Mnemo.open(spark, freshDir())
      store.remember(batch(20000, 8))
      val files = segmentFiles(store.path)
      var groups = 0
      var matching = 0 // row groups whose [min,max] admits agent-3
      files.foreach { f =>
        val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toString), hc)).getFooter
        footer.getBlocks.asScala.foreach { block =>
          val stats = block.getColumns.asScala
            .find(_.getPath.toDotString == "agent_id").get.getStatistics
          val min = stats.minAsString()
          val max = stats.maxAsString()
          groups += 1
          if (min <= "agent-3" && "agent-3" <= max) matching += 1
        }
      }
      assert(groups >= 24,
        s"expected many small row groups under the shrunken block size, got $groups")
      // 8 agents sorted within each of 32 buckets: agent-3 spans
      // ~1/8 of each file's groups (+1 boundary group per file).
      // Unsorted interleaved data would put it in EVERY group.
      assert(matching.toDouble / groups < 0.5,
        s"agent-3 admitted by $matching/$groups row groups — stats not tight, " +
          "row-group pruning would be a no-op")
    } finally {
      if (savedBlock == null) hc.unset("parquet.block.size") else hc.set("parquet.block.size", savedBlock)
      if (savedPage == null) hc.unset("parquet.page.size") else hc.set("parquet.page.size", savedPage)
    }
  }

  test("compacted attention-KV generation is clustered by (agent_id, key)") {
    val store = Mnemo.open(spark, freshDir())
    store.remember(batch(10, 2)) // store must exist for the KV side paths
    (0 until 40).foreach { i =>
      store.attentionStatePut(s"agent-${i % 5}", s"k${i % 7}",
        Array.fill(64)(i.toByte), ts(i * 1000L))
    }
    store.attentionStateCompact()
    val gen = Paths.get(store.path + "_attention")
    val files = Files.walk(gen).iterator().asScala
      .filter(Files.isRegularFile(_))
      .filter(_.toString.endsWith(".parquet"))
      .filter(_.toString.contains("/g"))
      .toSeq
    assert(files.nonEmpty, "compaction produced no generation files")
    files.foreach { f =>
      val rows = spark.read.parquet(f.toString)
        .select("agent_id", "key").collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(rows.sameElements(rows.sortBy(identity)),
        s"compacted KV generation not clustered: $f")
    }
    // the read itself still resolves latest-per-key correctly
    assert(store.attentionStateGet("agent-2", "k3").isDefined)
  }

  test("clustering does not break untouched-bucket file identity under point ops") {
    val store = Mnemo.open(spark, freshDir())
    store.remember(batch(2000, 8))
    val before = segmentFiles(store.path)
      .map(f => f.toString -> Files.size(f)).toMap
    // a point forget of one id rewrites only its bucket
    store.forget("agent-0", Seq("agent-0-m000000"), ts(999999999L))
    val after = segmentFiles(store.path).map(_.toString).toSet
    val survivors = before.keySet.intersect(after)
    assert(survivors.nonEmpty, "point op rewrote every bucket")
    survivors.foreach { f =>
      assert(Files.size(Paths.get(f)) == before(f),
        s"untouched segment file changed: $f")
    }
  }

  test("manifest agent ranges skip whole segment FILES for agent-scoped reads") {
    val store = Mnemo.open(spark, freshDir())
    // multi-tenant append pattern: each commit is ONE agent's batch, so
    // each segment's recorded agent range is a single agent
    Seq("agent-a", "agent-b", "agent-c").foreach { a =>
      store.remember((0 until 200).map(i =>
        RememberRequest(f"$a-m$i%04d", a, "t1", s"note $i of $a",
          createdAt = ts(i * 1000L))))
    }
    // every committed segment must carry its 3 range keys
    val man = graft.api.ManifestIO.read(store.path).get
    val segs = man.collect { case (k, v) if k.startsWith("bucket.") => v }
      .flatMap(_.split(",")).filter(_.nonEmpty).toSet
    segs.foreach { seg =>
      assert(man.contains(s"rangemin.$seg") && man.contains(s"rangemax.$seg")
        && man.contains(s"rangepub.$seg"), s"segment $seg has no range stats")
    }
    // the agent-scoped verify must not even OPEN the other agents'
    // segment files (inputFiles is the set of files behind the scan)
    val opened = store.verifyChains("agent-b").inputFiles.toSeq
    assert(opened.nonEmpty)
    assert(opened.forall(f => man.exists { case (k, v) =>
      k.startsWith("rangemin.") && v == "agent-b" &&
        f.contains(k.stripPrefix("rangemin.")) }),
      s"agent-b verify opened foreign segment files: $opened")
    // ... while staying result-identical to the unpruned full-store scan
    assert(store.verifyChains("agent-b").count() == 200)
    assert(store.verifyChains("agent-b").filter(!col("chain_valid")).count() == 0)
  }

  test("range skip keeps public rows of OTHER agents visible to recallVisible") {
    val store = Mnemo.open(spark, freshDir())
    store.remember((0 until 50).map(i =>
      RememberRequest(f"agent-a-m$i%04d", "agent-a", "t1", s"own note $i",
        createdAt = ts(i * 1000L))))
    // agent-z's batch: mostly private, ONE public row — its segments'
    // pub flag must keep them readable for everyone's visibility scan
    store.remember((0 until 50).map(i =>
      RememberRequest(f"agent-z-m$i%04d", "agent-z", "t1", s"z note $i",
        scope = if (i == 7) "public" else "private",
        createdAt = ts((1000 + i) * 1000L))))
    val seen = store.recallVisible("agent-a",
      graft.api.Mnemo.RecallRequest(strategy = "exact", limit = 200),
      ts(1e9.toLong)).select("id").collect().map(_.getString(0)).toSet
    assert(seen.contains("agent-z-m0007"),
      "the public row of a pruned-range agent must stay visible")
    assert(!seen.exists(id => id.startsWith("agent-z") && id != "agent-z-m0007"),
      "private rows of other agents leaked")
    assert(seen.count(_.startsWith("agent-a")) == 50)
  }
}
