package graft.eval

import java.sql.Timestamp

import graft.api.MnemoStore
import graft.api.Mnemo.{ConsolidationTag, ConsolidatedTag, RecallRequest, RememberRequest}
import graft.functions.HashChain
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** MemFail-style per-operation fault-isolation harness.
  *
  * Frames the recall pipeline as a chain of three distinct operations —
  * *store* → *summarize* → *retrieve* — and makes per-operation
  * behaviour the testable unit: a failure observed at the recall
  * surface is decomposed into the single stage responsible for it.
  *
  * The operation seams are the three [[MnemoStore]] primitives:
  *
  *  - '''store''' = [[MnemoStore.remember]] — append enriched records
  *    (embedding, content hash, chain link) to the parquet store.
  *  - '''summarize''' = [[MnemoStore.consolidate]] — cluster episodic
  *    records by tag and replace each cluster with a
  *    `[Consolidated from N memories]` semantic bundle.
  *  - '''retrieve''' = [[MnemoStore.recall]] — score the active bank
  *    under the requested strategy (hybrid RRF by default), return
  *    top-k.
  *
  * Each stage gets a set of adversarial probes engineered so a failed
  * assertion is attributable to exactly one stage; probes are run in
  * order and a downstream probe trusts its upstream peers. The
  * canonical [[MemFail.runStaleContextFixture]] writes the same fact
  * twice (the older phrasing lexically/semantically closer to the
  * probe query, the newer one diluted), observes the stale record
  * ranked on top, verifies store and summarize directly, and therefore
  * attributes the staleness to the retrieve stage — the documented
  * mitigation being the current-fact resolver (P5,
  * [[graft.queries.Governance]]).
  *
  * Unlike the reference harness (capability parity:
  * crates/mnemo-core/src/eval/memfail.rs:1-689), the fixture exposes an
  * explicit '''fault-injection seam''' (`inject`) between the writes
  * and the stage verification, so tests can corrupt storage or force a
  * consolidation over the fact and assert the harness re-attributes the
  * failure to store / summarize respectively.
  */
object MemFail {

  sealed trait Stage { def asStr: String }
  object Stage {
    case object Store extends Stage { val asStr = "store" }
    case object Summarize extends Stage { val asStr = "summarize" }
    case object Retrieve extends Stage { val asStr = "retrieve" }
  }

  /** Outcome of a single adversarial probe; `detail` is empty on pass. */
  final case class ProbeOutcome(name: String, passed: Boolean, detail: String = "")

  final case class StageReport(stage: Stage, probes: Seq[ProbeOutcome]) {
    def passed: Boolean = probes.forall(_.passed)
    def failingProbes: Seq[ProbeOutcome] = probes.filterNot(_.passed)
  }

  /** Output of [[runStaleContextFixture]]: `attributedStage` is the
    * single stage blamed for the observed failure; `isolated` is true
    * when every upstream probe passed so exactly one stage is
    * responsible. */
  final case class AttributionReport(
      observedFailure: String,
      isolated: Boolean,
      attributedStage: Stage,
      evidence: Seq[String],
      storeReport: StageReport,
      summarizeReport: StageReport)

  private def activeRows(store: MnemoStore, agentId: String) =
    store.table().filter(col("agent_id") === agentId && col("deleted_at").isNull)

  private def rowById(store: MnemoStore, id: String) =
    store.table().filter(col("id") === id).collect().headOption

  // -------------------------------------------------------------------
  // Store probes
  // -------------------------------------------------------------------

  /** Every probe touches storage directly (no recall ranking, no
    * consolidation), so a failure is attributable to
    * [[MnemoStore.remember]] or the parquet store beneath it. */
  def runStoreProbes(store: MnemoStore, agentId: String, t0: Timestamp): StageReport = {
    val probes = Seq.newBuilder[ProbeOutcome]

    // (1) Content + hash round-trip via direct storage fetch.
    val needle = s"STORE-NEEDLE-${t0.getTime}"
    store.remember(Seq(RememberRequest(
      s"memfail-store-1", agentId, "memfail", needle, createdAt = t0)))
    rowById(store, "memfail-store-1") match {
      case None =>
        probes += ProbeOutcome("store.content_roundtrip", passed = false,
          "row missing after remember")
      case Some(r) =>
        val content = r.getAs[String]("content")
        val hash = r.getAs[String]("content_hash")
        if (content != needle)
          probes += ProbeOutcome("store.content_roundtrip", passed = false,
            s"stored content '$content' != input '$needle'")
        else if (hash == null || hash.isEmpty)
          probes += ProbeOutcome("store.content_roundtrip", passed = false,
            "stored record carries empty content_hash")
        else probes += ProbeOutcome("store.content_roundtrip", passed = true)
    }

    // (2) Distinct ids + bank-size growth.
    val pre = activeRows(store, agentId).count()
    val n = 5
    store.remember((0 until n).map(i => RememberRequest(
      s"memfail-store-batch-$i", agentId, "memfail", s"STORE-ATOM-$i",
      createdAt = new Timestamp(t0.getTime + i + 1))))
    val post = activeRows(store, agentId)
    val added = post.count() - pre
    val distinctIds = post.select("id").distinct().count()
    if (added != n)
      probes += ProbeOutcome("store.bank_size_growth", passed = false,
        s"expected +$n active records, got +$added")
    else if (distinctIds != post.count())
      probes += ProbeOutcome("store.bank_size_growth", passed = false,
        "duplicate ids after batch remember")
    else probes += ProbeOutcome("store.bank_size_growth", passed = true)

    // (3) Tag round-trip.
    store.remember(Seq(RememberRequest(
      "memfail-store-tagged", agentId, "memfail", "STORE-TAGGED",
      tags = Seq("memfail.alpha", "memfail.beta"),
      createdAt = new Timestamp(t0.getTime + 100))))
    val tags = rowById(store, "memfail-store-tagged")
      .map(_.getAs[scala.collection.Seq[String]]("tags")).getOrElse(Nil)
    if (tags.contains("memfail.alpha") && tags.contains("memfail.beta"))
      probes += ProbeOutcome("store.tag_roundtrip", passed = true)
    else
      probes += ProbeOutcome("store.tag_roundtrip", passed = false,
        s"tags lost on round-trip: observed $tags")

    StageReport(Stage.Store, probes.result())
  }

  // -------------------------------------------------------------------
  // Summarize probes
  // -------------------------------------------------------------------

  /** Each probe inspects post-consolidation state via direct storage
    * reads (no recall ranking), so a failure is attributable to
    * [[MnemoStore.consolidate]]. */
  def runSummarizeProbes(store: MnemoStore, agentId: String, t0: Timestamp): StageReport = {
    val probes = Seq.newBuilder[ProbeOutcome]
    val topic = s"memfail-cluster-${t0.getTime}"
    val needle = s"SUMMARIZE-NEEDLE-${t0.getTime}"

    store.remember(Seq(
      RememberRequest("memfail-sum-needle", agentId, "memfail", needle,
        tags = Seq(topic), createdAt = t0),
      RememberRequest("memfail-sum-c0", agentId, "memfail", "companion-0",
        tags = Seq(topic), createdAt = new Timestamp(t0.getTime + 1)),
      RememberRequest("memfail-sum-c1", agentId, "memfail", "companion-1",
        tags = Seq(topic), createdAt = new Timestamp(t0.getTime + 2))))

    val result = store.consolidate(agentId, minClusterSize = 3,
      at = new Timestamp(t0.getTime + 1000))

    // (1) At least one cluster consolidated.
    if (result.clustersFound == 0 || result.newMemoriesCreated == 0)
      probes += ProbeOutcome("summarize.cluster_emitted", passed = false,
        s"consolidate reported clusters=${result.clustersFound} new=${result.newMemoriesCreated}")
    else probes += ProbeOutcome("summarize.cluster_emitted", passed = true)

    // (2) Needle survives the bundle verbatim — the canonical
    // summarize fault is content loss.
    val bundles = activeRows(store, agentId)
      .filter(array_contains(col("tags"), ConsolidationTag) &&
        col("memory_type") === "semantic")
      .select("content", "tags").collect()
    bundles.find(_.getAs[String]("content").contains(needle)) match {
      case Some(b) if b.getAs[scala.collection.Seq[String]]("tags").contains(topic) =>
        probes += ProbeOutcome("summarize.needle_preservation", passed = true)
      case Some(b) =>
        probes += ProbeOutcome("summarize.needle_preservation", passed = false,
          s"bundle missing cluster topic tag: ${b.getAs[scala.collection.Seq[String]]("tags")}")
      case None =>
        probes += ProbeOutcome("summarize.needle_preservation", passed = false,
          s"needle not found in any of ${bundles.length} bundle(s)")
    }

    // (3) Originals are flipped to the consolidated state (audit chain
    // stays alive — originals are tagged, not deleted).
    val needleTags = rowById(store, "memfail-sum-needle")
      .map(_.getAs[scala.collection.Seq[String]]("tags")).getOrElse(Nil)
    if (needleTags.contains(ConsolidatedTag))
      probes += ProbeOutcome("summarize.original_marked_consolidated", passed = true)
    else
      probes += ProbeOutcome("summarize.original_marked_consolidated", passed = false,
        s"expected needle original tagged $ConsolidatedTag, observed $needleTags")

    StageReport(Stage.Summarize, probes.result())
  }

  // -------------------------------------------------------------------
  // Retrieve probes
  // -------------------------------------------------------------------

  /** Each probe assumes [[runStoreProbes]] passed: it remembers a
    * record, then asserts something about the ranked recall result, so
    * a failure points at the recall path. */
  def runRetrieveProbes(store: MnemoStore, agentId: String, t0: Timestamp): StageReport = {
    val probes = Seq.newBuilder[ProbeOutcome]
    val now = new Timestamp(t0.getTime + 10000)

    // (1) Direct hit: a unique needle must appear in the top-k of a
    // recall whose query contains the needle verbatim.
    val needle = s"RETRIEVE-NEEDLE-${t0.getTime}"
    store.remember(Seq(RememberRequest(
      "memfail-ret-direct", agentId, "memfail", needle,
      tags = Seq("memfail.retrieve.direct"), createdAt = t0)))
    val direct = store.recall(
      RecallRequest(query = needle, agentId = Some(agentId), limit = 10), now)
      .select("content").collect().map(_.getString(0))
    if (direct.exists(_.contains(needle)))
      probes += ProbeOutcome("retrieve.direct_hit", passed = true)
    else
      probes += ProbeOutcome("retrieve.direct_hit", passed = false,
        s"needle missing from top-10 recall (got ${direct.length} hits)")

    // (2) Tag filter: a recall scoped by tag must return a memory
    // carrying that tag.
    val tag = s"memfail.retrieve.tag.${t0.getTime}"
    store.remember(Seq(RememberRequest(
      "memfail-ret-tagged", agentId, "memfail", "retrieve-by-tag target",
      tags = Seq(tag), createdAt = new Timestamp(t0.getTime + 1))))
    val tagged = store.recall(
      RecallRequest(query = "retrieve-by-tag", agentId = Some(agentId),
        tagsAnyOf = Seq(tag), limit = 10), now)
      .select("tags").collect().map(_.getAs[scala.collection.Seq[String]]("tags"))
    if (tagged.exists(_.contains(tag)))
      probes += ProbeOutcome("retrieve.tag_filter", passed = true)
    else
      probes += ProbeOutcome("retrieve.tag_filter", passed = false,
        s"no recall result carried tag '$tag' (${tagged.length} hits)")

    StageReport(Stage.Retrieve, probes.result())
  }

  // -------------------------------------------------------------------
  // Fault injection helpers (storage-level tampering)
  // -------------------------------------------------------------------

  /** Storage-level tamper: rewrite one row's content inside the
    * committed segment that holds it, behind the manifest's back,
    * keeping its stored hashes — simulates bit-rot / a lost update
    * between the write and the read path. The store stage's
    * content/hash verification must catch it. */
  def corruptContent(store: MnemoStore, id: String): Unit = {
    import org.apache.hadoop.fs.Path
    val file = store.table().filter(col("id") === id)
      .select(input_file_name()).head().getString(0)
    val seg = new Path(file).getParent
    val tmp = new Path(seg.getParent, "_" + seg.getName)
    store.spark.read.schema(graft.api.Mnemo.StoreSchema).parquet(seg.toString)
      .withColumn("content",
        when(col("id") === id, concat(col("content"), lit(" [CORRUPTED]")))
          .otherwise(col("content")))
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val fs = seg.getFileSystem(store.spark.sessionState.newHadoopConf())
    fs.delete(seg, true)
    fs.rename(tmp, seg)
  }

  // -------------------------------------------------------------------
  // Stale-context fixture (canonical attribution case)
  // -------------------------------------------------------------------

  /** Canonical attribution fixture. Writes the same fact twice under
    * one tag — the OLDER phrasing lexically/semantically closest to
    * the probe query, the NEWER phrasing diluted with extra tokens, so
    * the default hybrid ranker (lexical 0.35 + semantic 0.45 beats
    * recency 0.20) returns the stale record on top. Store and
    * summarize are then verified directly; when both pass, the
    * staleness is attributed to retrieve. `inject` runs between the
    * writes and the verification — tests use it to corrupt storage or
    * force a consolidation over the fact and assert the attribution
    * moves to the injected stage. */
  def runStaleContextFixture(
      store: MnemoStore, agentId: String, t0: Timestamp,
      inject: MnemoStore => Unit = _ => ()): AttributionReport = {
    val evidence = Seq.newBuilder[String]
    val topicTag = "memfail.stale.user-color"
    val staleContent = "user favorite color blue"
    val currentContent =
      "note for the record, the user favorite color preference has now changed to red"
    val staleId = "memfail-stale-older"
    val currentId = "memfail-stale-newer"
    val t1 = new Timestamp(t0.getTime + 3600 * 1000L)
    store.remember(Seq(
      RememberRequest(staleId, agentId, "memfail", staleContent,
        tags = Seq(topicTag), importance = 0.95f, createdAt = t0)))
    store.remember(Seq(
      RememberRequest(currentId, agentId, "memfail", currentContent,
        tags = Seq(topicTag), importance = 0.05f, createdAt = t1)))

    inject(store)

    // ---- Store stage: both records exist verbatim, and the stored
    // content hash matches a recompute over the stored content (a
    // content tamper breaks both).
    def storeProbe(name: String, id: String, expected: String): ProbeOutcome =
      rowById(store, id) match {
        case None => ProbeOutcome(name, passed = false, s"record $id missing")
        case Some(r) =>
          val content = r.getAs[String]("content")
          val recomputed = store.table().filter(col("id") === id)
            .select(HashChain.contentHash(col("content"), col("agent_id"),
              col("created_at").cast("string")).as("h"))
            .collect().head.getString(0)
          if (content != expected)
            ProbeOutcome(name, passed = false, s"content drifted: '$content'")
          else if (recomputed != r.getAs[String]("content_hash"))
            ProbeOutcome(name, passed = false, "content_hash no longer matches content")
          else ProbeOutcome(name, passed = true)
      }
    val storeReport = StageReport(Stage.Store, Seq(
      storeProbe("stale.store.older_write", staleId, staleContent),
      storeProbe("stale.store.newer_write", currentId, currentContent)))

    // ---- Summarize stage: no consolidation should have fired over
    // this fact — any bundle covering it, or either record flipped to
    // the consolidated state, shifts the blame upstream.
    val bundlesTouching = activeRows(store, agentId)
      .filter(array_contains(col("tags"), ConsolidationTag) &&
        (col("content").contains(staleContent) || col("content").contains(currentContent)))
      .count()
    val unconsolidated = Seq(staleId, currentId).map(id =>
      !rowById(store, id).map(_.getAs[scala.collection.Seq[String]]("tags")).getOrElse(Nil)
        .contains(ConsolidatedTag))
    val summarizeReport = StageReport(Stage.Summarize, Seq(
      if (bundlesTouching == 0)
        ProbeOutcome("stale.summarize.no_bundle_touches_fact", passed = true)
      else ProbeOutcome("stale.summarize.no_bundle_touches_fact", passed = false,
        s"$bundlesTouching consolidation bundle(s) cover the fact"),
      if (unconsolidated.forall(identity))
        ProbeOutcome("stale.summarize.both_records_unconsolidated", passed = true)
      else ProbeOutcome("stale.summarize.both_records_unconsolidated", passed = false,
        s"consolidated flags: older=${!unconsolidated.head} newer=${!unconsolidated(1)}")))

    // ---- Retrieve stage: ask the recall surface.
    val now = new Timestamp(t1.getTime + 3600 * 1000L)
    val top = store.recall(
      RecallRequest(query = "user favorite color", agentId = Some(agentId),
        tagsAnyOf = Seq(topicTag), limit = 5), now)
      .select("id").collect().map(_.getString(0))
    val topId = top.headOption
    val staleOnTop = topId.contains(staleId)
    val observedFailure =
      if (staleOnTop)
        s"default ranker returned older write ($staleId) above newer write ($currentId) for the same fact"
      else
        s"recall surfaced $topId first; the fixture's stale-bias setup did not reproduce"
    evidence += s"recall.top_id = $topId"
    evidence += s"store.older_write_intact = ${storeReport.probes.head.passed}, " +
      s"store.newer_write_intact = ${storeReport.probes(1).passed}"
    evidence += s"summarize.bundles_touching_fact = $bundlesTouching"
    evidence += s"summarize.both_records_unconsolidated = ${unconsolidated.forall(identity)}"

    val attributed =
      if (!storeReport.passed) Stage.Store
      else if (!summarizeReport.passed) Stage.Summarize
      else Stage.Retrieve

    AttributionReport(
      observedFailure = observedFailure,
      isolated = storeReport.passed && summarizeReport.passed,
      attributedStage = attributed,
      evidence = evidence.result(),
      storeReport = storeReport,
      summarizeReport = summarizeReport)
  }
}
