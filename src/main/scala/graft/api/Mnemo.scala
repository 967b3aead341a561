package graft.api

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.functions.{HashChain, TextOps, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's whole-operation API surface (SURVEY §2.11 — MCP tools
  * `remember` / `recall` / `forget` / `share` / `verify`, engine passes)
  * as a typed facade over a parquet-backed memory table.
  *
  * Spark-first write path (§3.2 re-designed): a remember BATCH is one
  * job — deterministic hash embedding, content hash, and chain linkage
  * all computed as column expressions; the per-(agent, thread) chain is
  * a `lag` window seeded from the store's current tail hashes, so
  * appends never probe row-by-row. Soft deletes are tombstones, which
  * makes `as_of` point-in-time recall (T1) a pure predicate.
  *
  * Reference entry points: query/remember.rs:67-270, recall.rs:332-1000,
  * forget.rs, hash.rs:9-24; deterministic embedder embedding/mod.rs:68-110.
  */
object Mnemo {

  val EmbeddingDim = 64

  /** Hash-bucket count NEW stores are created with (v3 layout). 32
    * keeps buckets coarse at test scale; at cluster scale raise it so a
    * bucket is O(100 MB–1 GB) — the manifest commit protocol is
    * unchanged. A point op on k ids reads and rewrites at most
    * min(k, buckets) buckets instead of the whole store.
    *
    * The count is persisted in the store manifest (`buckets=` key) at
    * creation and every routing decision reads it back from there, so a
    * store written under one compiled default stays correctly
    * addressable by a build with a different default — raising this
    * constant never mis-routes point ops on existing stores
    * (StoreCompatSpec pins that). */
  val NumBuckets = 32

  /** Append segments a bucket may accumulate before the next append
    * folds it back into one segment (the LSM-ish compaction bound —
    * keeps per-bucket file counts O(1) under sustained appends). */
  val MaxSegments = 8

  /** Grant-count ceiling for the driver-routed grant leg of
    * [[MnemoStore.recallVisible]]: up to this many grant ids are
    * collected and routed to their id-hash buckets (the same
    * driver-side routing every point op pays, [[MnemoStore.bucketsOf]]
    * — 10k xxhash evaluations, microseconds); a principal granted more
    * than this falls back to the full-scan broadcast semi-join. */
  val GrantRouteMax = 10000

  /** Bucket route of a memory id — the one hash both the writer and
    * every point op must agree on. `n` comes from the store manifest
    * for existing stores (never the compile-time default). */
  def bucketOf(id: Column, n: Int = NumBuckets): Column =
    pmod(xxhash64(id), lit(n)).cast("int")

  /** The AMP / memorywire memory-type vocabulary (mnemo-amp wire.rs). */
  val AmpMemoryTypes: Set[String] =
    Set("episodic", "semantic", "procedural", "working")

  /** Schema of the persisted memory store, in the exact column order
    * `appendEnriched` writes (the using-join hoists the chain keys
    * first). Backs the typed empty frame a never-written store returns;
    * MnemoApiSpec pins it against a written store so it cannot drift. */
  val StoreSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("agent_id", StringType),
      StructField("thread_id", StringType),
      StructField("id", StringType),
      StructField("content", StringType),
      StructField("memory_type", StringType),
      StructField("scope", StringType),
      StructField("importance", FloatType),
      StructField("tags", ArrayType(StringType)),
      StructField("created_at", TimestampType),
      StructField("expires_at", TimestampType),
      StructField("quarantined", BooleanType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("content_hash", StringType),
      StructField("deleted_at", TimestampType),
      StructField("redacted", BooleanType),
      StructField("access_count", LongType),
      StructField("prev_hash", StringType),
      StructField("chain_hash", StringType)))
  }

  /** Reserved tag of experience-tier plan records (R11): never surfaced
    * by ordinary recall — only when the caller explicitly requests the
    * tag. Same wire value as the reference
    * (query/experience.rs:51 `EXPERIENCE_PLAN_TAG`). */
  val ExperiencePlanTag = "__experience_plan__"

  /** Reserved tag carried by consolidation bundles (the reference's
    * `SourceType::Consolidation` marker, consolidate.rs), and the tag
    * stamped onto originals a consolidation pass absorbed (the
    * reference's `ConsolidationState::Consolidated` flip) — tags rather
    * than new columns, so existing stores keep their schema. */
  val ConsolidationTag = "__consolidation__"
  val ConsolidatedTag = "__consolidated__"

  /** Result of one consolidation pass (run_consolidation's report). */
  final case class ConsolidationResult(clustersFound: Long, newMemoriesCreated: Long)

  /** Tags that mark a record as arriving through an INDIRECT ingest
    * vector — a retrieved web page, a parsed document, third-party
    * mail (the reference's `looks_like_indirect_ingest`,
    * poisoning.rs:100-115). Self-referential instruction phrasing is
    * only scored as a strong injection signal when it rode one of
    * these paths; the same phrasing typed by the operator is
    * legitimate. */
  val IndirectSourceTags: Set[String] = Set(
    "source:web", "source:document", "source:email",
    "source:third_party", "source:retrieved")

  /** Tag stamped by [[MnemoStore.ingestPipeline]] onto rows whose
    * content the dedup index bloom-flagged as a probable re-post —
    * kept, never dropped (a Bloom hit is a candidate: FP ≈ 0.2% at
    * capacity; dropping on it would lose data), so downstream passes
    * filter or confirm at their own policy. */
  val DupCandidateTag = "__dup_candidate__"

  /** Per-batch outcome of [[MnemoStore.ingestPipeline]]: the appended
    * row count, how many rows each gate flagged, and the per-row
    * verdict frame (id, agent_id, anomaly_score, anomaly_reasons,
    * quarantined, maybe_dup, near_candidate_ids, band_saturated).
    *
    * `bandSaturated` counts rows whose dedup-index probe hit a
    * HOT band (the index's degradation guard): for those rows
    * `near_candidate_ids` is deliberately EMPTY and must not be read
    * as "no near-dups" — the over-approximation contract is that a
    * flagged row routes to the wide exact-verify (e.g. the batch d1/
    * d3 passes) instead of its candidate list. Verdict frames
    * persisted by pre-guard stores replay without the column; the
    * report then counts 0. */
  final case class IngestReport(
      appended: Long,
      quarantined: Long,
      dupFlagged: Long,
      verdicts: DataFrame,
      bandSaturated: Long = 0L)

  /** Build an [[IngestReport]] from a pinned verdict frame (shared by
    * the live pipeline path and the replay path that re-reads the
    * persisted frame). */
  private[api] def reportOf(verdicts: DataFrame): IngestReport = {
    val satAgg =
      if (verdicts.columns.contains("band_saturated"))
        sum(col("band_saturated").cast("long"))
      else sum(lit(0L))
    val counts = verdicts.agg(
      count(lit(1)),
      sum(col("quarantined").cast("long")),
      sum(col("maybe_dup").cast("long")),
      satAgg).collect()(0)
    IngestReport(
      appended = counts.getLong(0),
      quarantined = if (counts.isNullAt(1)) 0L else counts.getLong(1),
      dupFlagged = if (counts.isNullAt(2)) 0L else counts.getLong(2),
      verdicts = verdicts,
      bandSaturated = if (counts.isNullAt(3)) 0L else counts.getLong(3))
  }

  /** Deterministic hash embedding (the reference's offline embedder):
    * each token hashes to a dimension and a sign via md5 nibbles; the
    * vector is the signed token-count profile, L2-normalized.
    * Tokenization is Spark's own `lower`/`split`; the hash-accumulate-
    * normalize tail runs in the fused codegen native expression
    * [[graft.plans.HashEmbeddingExpr]] — one md5 per token, primitive
    * accumulator, bit-identical to the composed reference
    * (FunctionsSpec pins the identity). */
  def hashEmbedding(text: Column, dim: Int = EmbeddingDim): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.HashEmbeddingExpr(
      ColumnBridge.expression(TextOps.tokens(text)), dim))
  }

  /** [[MnemoStore.describe]]'s report — the operator-facing health
    * view of the memory store and its maintained satellites, built
    * from driver-side manifest reads and directory listings only (no
    * Spark job). `maxBucketSegments` is the compaction-pressure
    * signal (folds trigger past [[Mnemo.MaxSegments]]);
    * `rangedSegments` counts segments whose manifest carries agent
    * min/max stats (the file-level prune coverage — a pre-range
    * store reads everything); `tagIndexSegments` is None on a
    * pre-index store (subject redactions fold every bucket);
    * `pipelineBatch` is the ingestPipeline replay bookkeeping. */
  final case class StoreHealth(
      version: Int, generation: Long, numBuckets: Int,
      populatedBuckets: Int, segments: Int, maxBucketSegments: Int,
      tagIndexSegments: Option[Int], rangedSegments: Int,
      pipelineBatch: Option[Long],
      auxStores: Map[String, Boolean])

  /** [[Mnemo.describeOrientation]]'s report — manifest facts only.
    * `legacyLayout` marks a pre-manifest (v1 hive-partitioned) store;
    * its namespaces are counted from the partition directories. */
  final case class OrientationHealth(
      version: Int, namespaces: Int, maxGeneration: Long,
      legacyLayout: Boolean)

  /** [[Mnemo.describeAttention]]'s report. `dataFiles` counts the
    * files in the live data directory — the number compaction folds
    * back to one; a climbing count is the compact-me signal. */
  final case class AttentionHealth(
      version: Int, committedGeneration: Option[Long], dataFiles: Int)

  final case class RememberRequest(
      id: String,
      agentId: String,
      threadId: String,
      content: String,
      memoryType: String = "episodic", // episodic|semantic|procedural|working
      scope: String = "private", // private|shared|public|global
      importance: Float = 0.5f,
      tags: Seq[String] = Nil,
      createdAt: Timestamp,
      expiresAt: Option[Timestamp] = None,
      quarantined: Boolean = false)

  final case class RecallRequest(
      query: String = "",
      agentId: Option[String] = None,
      strategy: String = "hybrid", // exact|lexical|semantic|hybrid
      memoryTypes: Seq[String] = Nil, // multi; takes precedence over memoryType
      memoryType: Option[String] = None, // single-type filter
      scope: Option[String] = None, // explicit scope filter (≠ visibility)
      minImportance: Option[Float] = None,
      tagsAnyOf: Seq[String] = Nil,
      after: Option[Timestamp] = None, // created_at ∈ [after, before]
      before: Option[Timestamp] = None,
      asOf: Option[Timestamp] = None,
      includeDeleted: Boolean = false,
      limit: Int = 10)

  /** The full F1 recall predicate (recall.rs:1125-1275) as ONE Column
    * conjunction — every leg of the reference's `passes_filters`, in
    * order: reserved experience-plan hiding (R11), deleted/as-of,
    * expiry, quarantine, explicit scope filter, type (multi precedence
    * over single), importance, tags-any-of, created_at temporal range,
    * and scope-based visibility (public/global always; shared → owner
    * or ACL grant via `granted`; private → owner only).
    *
    * `granted` is the caller's ACL-grant boolean column (lit(false)
    * when no grant join was made). Static so the registered
    * `f1_filter_matrix` query and the typed API share the production
    * code path. */
  def recallPredicate(r: RecallRequest, now: Timestamp, granted: Column): Column = {
    val reserved =
      if (r.tagsAnyOf.contains(ExperiencePlanTag)) lit(true)
      else !array_contains(col("tags"), ExperiencePlanTag)
    val live = r.asOf match {
      case Some(t) =>
        col("created_at") <= lit(t) &&
          !(col("deleted_at").isNotNull && col("deleted_at") <= lit(t))
      case None if r.includeDeleted => lit(true)
      case None => col("deleted_at").isNull
    }
    val unexpired = col("expires_at").isNull || col("expires_at") >= lit(now)
    val notQuarantined = !col("quarantined")
    val scopeFilter = r.scope.map(s => col("scope") === s).getOrElse(lit(true))
    val types =
      if (r.memoryTypes.nonEmpty) col("memory_type").isin(r.memoryTypes.map(lit): _*)
      else r.memoryType.map(t => col("memory_type") === t).getOrElse(lit(true))
    val imp = r.minImportance.map(m => col("importance") >= m).getOrElse(lit(true))
    val tags =
      if (r.tagsAnyOf.nonEmpty)
        arrays_overlap(col("tags"), array(r.tagsAnyOf.map(lit): _*))
      else lit(true)
    val range =
      r.after.map(a => col("created_at") >= lit(a)).getOrElse(lit(true)) &&
        r.before.map(b => col("created_at") <= lit(b)).getOrElse(lit(true))
    val visible = r.agentId.map(a =>
      col("scope").isin("public", "global") ||
        col("agent_id") === a ||
        (col("scope") === "shared" && granted))
      .getOrElse(lit(true))
    reserved && live && unexpired && notQuarantined && scopeFilter &&
      types && imp && tags && range && visible
  }

  def open(spark: SparkSession, path: String): MnemoStore = new MnemoStore(spark, path)

  /** Checkpoint-merge modes (merge.rs:58-182). */
  sealed trait MergeMode
  case object FullMerge extends MergeMode
  case object Squash extends MergeMode
  final case class CherryPick(chosen: Seq[String]) extends MergeMode

  /** First-writer-wins merge of state snapshots (merge.rs:118-133):
    * the target's entries take precedence, the source only fills keys
    * the target lacks. */
  def mergeStates(target: Map[String, String],
      source: Map[String, String]): Map[String, String] =
    source ++ target
}

/** A parquet-backed memory store with the reference's operation set.
  *
  * On-disk layout (v3): [[Mnemo.NumBuckets]] hash buckets of immutable
  * segment directories published by atomic [[ManifestIO]] commits —
  * appends cost O(new rows), id-addressed point ops cost O(touched
  * buckets), and at no crash point is committed data unreachable.
  * Single writer per store path (the reference's embedded-engine
  * discipline). Pre-v3 flat stores read as-is and migrate on their
  * first mutation. */
final class MnemoStore(val spark: SparkSession, val path: String,
    newStoreBuckets: Int = Mnemo.NumBuckets) {

  import Mnemo._

  // ---- store layout v3: manifest-committed hash buckets ----
  //
  // path/
  //   manifest.properties          version=3, gen=<n>, bucket.<k> -> segs
  //   g<n>/r/bucket=<k>/           replacement segment (full bucket content)
  //   g<n>/a/bucket=<k>/           append segment (new rows only)
  //   t<n>/                        tag→bucket inverted-index segment
  //                                (manifest `tagidx=` — prunes
  //                                tag-addressed redactions)
  //
  // Every mutation writes fresh segment directories and publishes them
  // with ONE atomic manifest rename (the SyncLoop/orientation protocol,
  // ManifestIO). Appends add an `a` segment per touched bucket (O(new
  // rows) I/O); point ops (forget/touch/ampExpire, the consolidate tag
  // flip) fold ONLY the buckets their ids hash into and replace them
  // with an `r` segment — a forget of k ids rewrites ≤ min(k, NumBuckets)
  // buckets, not the store (the reference's per-row UPDATE shape,
  // storage/duckdb.rs:190-244, re-expressed as bucket-pruned rewrites).
  // A crash at any point leaves the previous manifest governing complete
  // data; orphans are swept by the next commit's gc. Single writer per
  // store path, like the reference's embedded engine.

  /** Parsed manifest: global generation counter, the bucket count the
    * store was CREATED with (every routing decision uses this, never
    * the compile-time default — see [[Mnemo.NumBuckets]]), the
    * committed segment dirs (relative to the store root) per bucket,
    * and the tag→bucket inverted-index segments (`Some` iff the index
    * has covered every commit since creation — stores written by
    * pre-index builds carry `None` until their first full fold
    * backfills it, see [[commitWrite]]/[[forgetSubject]]). */
  private case class StoreManifest(gen: Long, numBuckets: Int,
      buckets: Map[Int, Seq[String]], tagIdx: Option[Seq[String]],
      ranges: Map[String, SegStats] = Map.empty,
      // streaming-ingest bookkeeping, carried forward verbatim by
      // every commit: `batch` = last ingestPipeline batchId,
      // `pverdict` = relpath of that batch's persisted verdict frame
      // (see ingestPipeline's replay contract)
      extra: Map[String, String] = Map.empty)

  /** Per-segment file statistics published in the manifest: the
    * agent_id min/max of the segment's rows and whether any row has a
    * public/global scope. Agent-scoped reads skip whole segment FILES
    * whose recorded range excludes the agent (and, for visibility
    * scans, that hold no public row) — one level coarser than the
    * parquet row-group stats the (agent_id, id) clustering already
    * exploits, and decisive for multi-tenant append patterns where a
    * commit carries one agent's batch: that agent's segments carry a
    * single-agent range, so every OTHER agent's scoped read skips the
    * file without opening its footer. Same over-approximation
    * discipline as the tag index: a segment with NO recorded stats
    * (pre-range store) is always read; stats can only prune, never
    * hide. */
  private case class SegStats(minAgent: String, maxAgent: String,
      hasPublic: Boolean)

  /** Unsigned lexicographic UTF-8 byte order — the order parquet/Spark
    * binary string stats use. The driver-side range test MUST compare
    * in the same order, or an exotic (non-ASCII) agent id could fall
    * "outside" a range that actually contains it and a file would be
    * wrongly skipped. */
  private def utf8Lte(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) <= 0

  private def readStoreManifest(): Option[StoreManifest] =
    ManifestIO.read(path).map { m =>
      // manifests written before the buckets= key existed all came from
      // builds whose compiled constant was 32 — that default is exact,
      // not a guess
      StoreManifest(m.getOrElse("gen", "0").toLong,
        m.getOrElse("buckets", "32").toInt,
        m.collect { case (k, v) if k.startsWith("bucket.") =>
          k.stripPrefix("bucket.").toInt ->
            v.split(",").filter(_.nonEmpty).toSeq },
        m.get("tagidx").map(_.split(",").filter(_.nonEmpty).toSeq),
        m.collect { case (k, mn) if k.startsWith("rangemin.") =>
          val seg = k.stripPrefix("rangemin.")
          // all three keys are written together; tolerate a hand-edited
          // manifest by dropping the stat (= never skip) if one is gone
          (seg, mn, m.get(s"rangemax.$seg"), m.get(s"rangepub.$seg"))
        }.collect { case (seg, mn, Some(mx), Some(pub)) =>
          seg -> SegStats(mn, mx, pub == "1")
        }.toMap,
        m.collect { case (k, v) if k == "batch" || k == "pverdict" =>
          k -> v })
    }

  /** Legacy (pre-v3) flat parquet dir: files at the store root, no
    * manifest. */
  private def legacyExists: Boolean =
    ManifestIO.listChildren(path).nonEmpty

  private def exists: Boolean = {
    recover()
    ManifestIO.exists(path) || legacyExists
  }

  /** Crash recovery for the RETIRED pre-v3 whole-store rewrite: if the
    * live dir is missing but a complete scratch copy exists (a crash of
    * the old delete-then-rename protocol), promote the scratch. The v3
    * layout never deletes live data before its manifest commit, so this
    * only ever fires on stores last written by the old code. */
  private def recover(): Unit = {
    if (!ManifestIO.pathExists(path) &&
        ManifestIO.pathExists(path + ".tmp") &&
        ManifestIO.pathExists(path + ".tmp/_SUCCESS"))
      ManifestIO.movePath(path + ".tmp", path)
  }

  /** Committed content of the given buckets — only their segment dirs
    * are opened (path-level pruning, the readProfiles shape). */
  private def readBuckets(m: StoreManifest, ks: Set[Int]): DataFrame = {
    val dirs = m.buckets.filter { case (k, _) => ks.contains(k) }
      .values.flatten.map(rel => s"$path/$rel").toSeq
    if (dirs.isEmpty) emptyTable()
    else spark.read.schema(Mnemo.StoreSchema).parquet(dirs: _*)
  }

  private def emptyTable(): DataFrame = spark.createDataFrame(
    java.util.Collections.emptyList[org.apache.spark.sql.Row](),
    Mnemo.StoreSchema)

  /** The store narrowed for an AGENT-SCOPED read: segment files whose
    * manifest-recorded agent range excludes `agentId` — and, when
    * `keepPublic`, that record no public/global row — are not even
    * opened (file-level skip, one level above the row-group stats the
    * (agent_id, id) clustering gives). A segment without recorded
    * stats is always read. The caller MUST still apply its own
    * agent/scope predicate: this prunes I/O, it does not filter rows.
    * Range tests compare in unsigned UTF-8 byte order ([[utf8Lte]])
    * to match the order the stats were computed in. */
  private def agentScopedTable(agentId: String,
      keepPublic: Boolean): DataFrame =
    agentScopedTableMulti(Seq(agentId), keepPublic)

  /** The multi-agent generalization: a segment survives if its range
    * contains ANY of the agents (or, with `keepPublic`, records a
    * public row). The [[ingestPipeline]] profile read uses this with
    * the batch's agent set — at scale a per-batch profile must scan
    * the WRITING agents' data, never the whole store. */
  private def agentScopedTableMulti(agentIds: Seq[String],
      keepPublic: Boolean): DataFrame = {
    recover()
    readStoreManifest() match {
      case Some(m) =>
        val dirs = m.buckets.values.flatten.toSeq.filter { rel =>
          m.ranges.get(rel) match {
            case Some(st) =>
              agentIds.exists(a =>
                utf8Lte(st.minAgent, a) && utf8Lte(a, st.maxAgent)) ||
                (keepPublic && st.hasPublic)
            case None => true
          }
        }
        if (dirs.isEmpty) emptyTable()
        else spark.read.schema(Mnemo.StoreSchema)
          .parquet(dirs.map(rel => s"$path/$rel"): _*)
      case _ => table()
    }
  }

  /** Current table including tombstones. A never-written store returns
    * an EMPTY frame carrying the full enriched schema (see
    * [[Mnemo.StoreSchema]]) so conditional mutations
    * (forget/touch/ampExpire) and reads resolve their columns instead
    * of failing analysis on a schemaless frame. Pre-v3 flat stores read
    * as-is and are migrated by their first mutation. */
  def table(): DataFrame = {
    recover()
    readStoreManifest() match {
      case Some(m) => readBuckets(m, m.buckets.keySet)
      case None if legacyExists =>
        // a crashed migration may have left staged (never-published)
        // nested dirs beside the flat files, and reading the mixed root
        // would fail partition discovery. Reads must NOT delete them —
        // the single-writer contract covers writers, and a concurrent
        // writer may be staging those very dirs mid-migration right
        // now. List the flat root FILES explicitly and read only them;
        // the write path ([[migrateIfLegacy]]) is what sweeps crashed
        // stages before re-migrating.
        val flatFiles = legacyRootFiles()
        if (flatFiles.isEmpty) emptyTable()
        else spark.read.schema(Mnemo.StoreSchema).parquet(flatFiles: _*)
      case None => emptyTable()
    }
  }

  /** The legacy flat layout's data files: parquet at the store root. */
  private def legacyRootFiles(): Seq[String] =
    ManifestIO.listChildren(path).collect {
      case (name, false) if name.endsWith(".parquet") => s"$path/$name"
    }

  /** Committed rows restricted to the buckets the given ids hash into
    * — the point-read shape every id-addressed mutation already uses,
    * exposed to the read path (the grant leg of [[recallVisible]]).
    * Legacy flat stores have no routing; they read whole (and migrate
    * to the routed layout on their first mutation). */
  private def tableForIds(ids: Seq[String]): DataFrame = {
    recover()
    readStoreManifest() match {
      case Some(m) =>
        val ks = bucketsOf(ids, m.numBuckets).intersect(m.buckets.keySet)
        if (ks.isEmpty) emptyTable() else readBuckets(m, ks)
      case _ => table()
    }
  }

  /** Buckets a set of ids hashes into, computed by evaluating the SAME
    * Catalyst expression the writer routes with ([[Mnemo.bucketOf]] is
    * `pmod(xxhash64(id), n)`) directly on the driver — bit-identical
    * routing with no job launch, which matters because every point op
    * pays this before its bucket-pruned rewrite. `n` must be the
    * manifest's bucket count. */
  private def bucketsOf(ids: Seq[String], n: Int): Set[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    ids.map { id =>
      // seed 42 = the xxhash64() SQL function's default
      val h = XxHash64(Seq(Literal.create(id,
        org.apache.spark.sql.types.StringType)), 42L).eval(null).asInstanceOf[Long]
      (((h % n) + n) % n).toInt // pmod semantics
    }.toSet
  }

  /** Manifest to mutate against, migrating a legacy flat store first:
    * the flat dir is re-bucketed under the Spark-hidden staging dir
    * `_mig` (hidden names never confuse a concurrent flat read), then
    * atomically renamed to `g1` immediately before the manifest commit.
    * Any crash before the manifest write leaves the flat files
    * authoritative and the staged dirs unpublished — the next MUTATION
    * sweeps them ([[sweepUnpublished]]) and re-migrates (reads only
    * ignore them — they never delete, see [[table]]); after the
    * manifest write, readers go through the manifest and the absorbed
    * root files are swept (idempotently re-swept by later commits if
    * that sweep itself crashes). No crash point makes committed data
    * unreachable. */
  private def migrateIfLegacy(): StoreManifest = {
    recover()
    readStoreManifest().getOrElse {
      sweepUnpublished()
      // a brand-new store starts with a complete (empty) tag index; a
      // legacy root holding no data files (only _SUCCESS markers) has
      // nothing to migrate and gets the same empty manifest
      val flatFiles = legacyRootFiles()
      if (flatFiles.isEmpty) // no legacy data files ⇒ nothing to migrate
        StoreManifest(0L, newStoreBuckets, Map.empty, Some(Nil))
      else {
        val n = newStoreBuckets
        // explicit file list, same as [[table]] — never a root-dir read
        // that could trip over unswept non-hidden leftovers
        val flat = spark.read.parquet(flatFiles: _*)
        flat.withColumn("bucket", Mnemo.bucketOf(col("id"), n))
          // same (agent_id, id) clustering as commitWrite's writeSeg,
          // so a migrated store is agent-prunable from generation 1
          .sortWithinPartitions(col("bucket"), col("agent_id"), col("id"))
          .write.mode(SaveMode.Overwrite).partitionBy("bucket")
          .parquet(s"$path/_mig/r")
        val stagedBuckets = presentBuckets("_mig", "r")
        // tag index for the migrated store, so subject redactions prune
        // from day one — built by reading BACK the staged segment just
        // written (its `bucket` partition column IS the pair; no second
        // scan of the flat files, no re-hash — the commitWrite
        // pattern). Skipped when the flat store held zero rows: the
        // staged dir then has no parquet footers and a schemaless
        // read-back would fail inference. Unpublished until the
        // manifest commit below; a crash leaves it swept like the
        // staged data dirs.
        if (stagedBuckets.nonEmpty)
          spark.read.parquet(s"$path/_mig/r")
            .select(explode(col("tags")).as("tag"),
              col("bucket").cast("int").as("bucket"))
            .distinct()
            .write.mode(SaveMode.Overwrite).parquet(s"$path/t1")
        val buckets = stagedBuckets
          .map(k => k -> Seq(s"g1/r/bucket=$k")).toMap
        ManifestIO.movePath(s"$path/_mig", s"$path/g1")
        val m = StoreManifest(1L, n, buckets,
          Some(if (stagedBuckets.nonEmpty && hasParquetFiles("t1"))
            Seq("t1") else Nil))
        writeStoreManifest(m)
        sweepLegacyFiles()
        m
      }
    }
  }

  /** Delete staged/never-published nested dirs (`_mig`, `g*`, tag-index
    * `t*`) left by a migration that crashed before its manifest commit.
    * Only ever called when NO manifest exists — with no manifest, no
    * nested dir was ever published, so the flat root files are
    * authoritative. */
  private def sweepUnpublished(): Unit =
    ManifestIO.listChildren(path)
      .collect { case (nm, true) if nm == "_mig" || nm.matches("[gt]\\d+") => nm }
      .foreach(nm => ManifestIO.deleteRecursively(s"$path/$nm"))

  private def writeStoreManifest(m: StoreManifest): Unit =
    ManifestIO.write(path,
      Map("version" -> "3", "gen" -> m.gen.toString,
        "buckets" -> m.numBuckets.toString) ++
        // key PRESENT (even empty) = index complete since creation;
        // absent = pre-index store, subject ops fold every bucket
        m.tagIdx.map(segs => "tagidx" -> segs.mkString(",")).toMap ++
        m.buckets.map { case (k, v) => s"bucket.$k" -> v.mkString(",") } ++
        m.ranges.flatMap { case (seg, st) => Seq(
          s"rangemin.$seg" -> st.minAgent,
          s"rangemax.$seg" -> st.maxAgent,
          s"rangepub.$seg" -> (if (st.hasPublic) "1" else "0")) } ++
        m.extra)

  /** Bucket subdirs a just-finished write actually produced (a local
    * listing — exact, and cheaper than a count job per bucket). */
  private def presentBuckets(top: String, sub: String): Set[Int] =
    ManifestIO.listChildren(s"$path/$top/$sub")
      .collect { case (nm, _) if nm.startsWith("bucket=") =>
        nm.stripPrefix("bucket=").toInt }
      .toSet

  /** Root-level parquet files absorbed by a legacy migration — delete
    * whatever the manifest does not govern. Idempotent. */
  private def sweepLegacyFiles(): Unit =
    ManifestIO.listChildren(path)
      .collect { case (nm, false) if !nm.startsWith(ManifestIO.FileName) => nm }
      .foreach(nm => ManifestIO.deleteFile(s"$path/$nm"))

  /** ONE atomic store commit — the only way the store advances.
    * `replaced` carries the FULL replacement content of exactly
    * `replaceBuckets` (the caller folded all their current segments);
    * `appended` carries new rows only, routed to their hash buckets. A
    * bucket may appear on both sides (replacement segment + append
    * segment in the same generation — what makes [[ampMerge]] atomic).
    * Data lands in `g<gen>` first; the manifest rename publishes it;
    * gc then drops superseded generations.
    *
    * The commit also maintains the tag→bucket inverted index
    * ([[forgetSubject]]'s prune): appended rows always contribute their
    * distinct (tag, bucket) pairs; a replacement frame contributes only
    * when the caller declares `replacedAddsTags` (conditional rewrites
    * that never ADD tags — forget/touch/expire/compaction — skip the
    * index job entirely, keeping point ops at their current cost). The
    * index is a safe over-approximation: pairs are never removed, so a
    * stale pair costs one extra folded bucket, never a missed
    * redaction. A full fold (`replaceBuckets` covers every live bucket)
    * on a pre-index store rebuilds the index from what it just read —
    * the backfill path. */
  private def commitWrite(m: StoreManifest, replaceBuckets: Set[Int],
      replaced: Option[DataFrame], appended: Option[DataFrame],
      replacedAddsTags: Boolean = false,
      bookkeeping: Option[(Long, DataFrame)] = None,
      clearBookkeeping: Boolean = false): Unit = {
    val gen = m.gen + 1
    // Rows land sorted by (agent_id, id) WITHIN each bucket file: the
    // store's dominant access key is agent_id (every reference storage
    // op filters on it, storage/duckdb.rs:262-328), but ids hash-mix
    // agents uniformly across buckets, so without this clustering an
    // agent-scoped read (recallVisible / chain verify / decay) scans
    // every row group of every bucket at 100 TB. Sorted segments give
    // tight per-row-group agent_id min/max stats, so the pushed
    // agent filter skips the other agents' row groups at the parquet
    // reader. sortWithinPartitions is a LOCAL sort (no shuffle), its
    // leading `bucket` key satisfies the dynamic-partition writer's
    // required ordering (no second sort), and file counts are
    // unchanged — untouched buckets keep byte-identical files.
    def writeSeg(df: DataFrame, sub: String): Unit =
      df.withColumn("bucket", Mnemo.bucketOf(col("id"), m.numBuckets))
        .sortWithinPartitions(col("bucket"), col("agent_id"), col("id"))
        .write.mode(SaveMode.Overwrite).partitionBy("bucket")
        .parquet(s"$path/g$gen/$sub")
    replaced.foreach(writeSeg(_, "r"))
    appended.foreach(writeSeg(_, "a"))
    val rset = if (replaced.isDefined) presentBuckets(s"g$gen", "r") else Set.empty[Int]
    val aset = if (appended.isDefined) presentBuckets(s"g$gen", "a") else Set.empty[Int]
    val buckets = (m.buckets.keySet ++ rset ++ aset).map { k =>
      val base =
        if (replaceBuckets(k)) {
          if (rset(k)) Seq(s"g$gen/r/bucket=$k") else Nil
        } else m.buckets.getOrElse(k, Nil)
      val app = if (aset(k)) Seq(s"g$gen/a/bucket=$k") else Nil
      k -> (base ++ app)
    }.filter(_._2.nonEmpty).toMap

    // ---- tag-index maintenance ----
    // pairs are read back from the just-written segment dirs, NOT by
    // re-evaluating the caller's plans (which would re-run the chain
    // window/joins): the data is already on disk, tiny, and its
    // `bucket` partition column IS the pair's bucket — no re-hash
    val fullFold = m.tagIdx.isEmpty && replaced.isDefined &&
      m.buckets.keySet.subsetOf(replaceBuckets)
    val srcSubs: Seq[String] =
      if (fullFold)
        (if (rset.nonEmpty) Seq("r") else Nil) ++
          (if (aset.nonEmpty) Seq("a") else Nil)
      else if (m.tagIdx.isDefined)
        (if (aset.nonEmpty) Seq("a") else Nil) ++
          (if (replacedAddsTags && rset.nonEmpty) Seq("r") else Nil)
      else Nil
    val fresh: Seq[DataFrame] = srcSubs.map(sub =>
      spark.read.parquet(s"$path/g$gen/$sub")
        .select(explode(col("tags")).as("tag"),
          col("bucket").cast("int").as("bucket")))
    // fold the whole index back into one segment when the incremental
    // segments are over budget (same LSM bound as the data buckets)
    val compacting = m.tagIdx.exists(segs =>
      segs.length + (if (fresh.nonEmpty) 1 else 0) > Mnemo.MaxSegments)
    val tagIdx: Option[Seq[String]] =
      if (fresh.isEmpty && !compacting) m.tagIdx
      else {
        val base = if (compacting) Seq(readTagIdx(m.tagIdx.get)) else Nil
        (base ++ fresh).reduce(_ unionByName _).distinct()
          .write.mode(SaveMode.Overwrite).parquet(s"$path/t$gen")
        val seg = if (hasParquetFiles(s"t$gen")) Seq(s"t$gen") else Nil
        if (fullFold || compacting) Some(seg)
        else Some(m.tagIdx.getOrElse(Nil) ++ seg)
      }

    // ---- per-segment agent-range stats ----
    // read back from the just-written dirs like the tag pairs above —
    // a projection of (bucket, agent_id, scope) over data that is
    // already local and columnar, so the stats job reads two small
    // columns, not the rows. Ranges for superseded segments drop with
    // them; segments this commit did not touch keep their stats.
    val freshStats: Map[String, SegStats] =
      (if (rset.nonEmpty) Seq("r") else Nil) ++
        (if (aset.nonEmpty) Seq("a") else Nil) match {
        case Nil => Map.empty
        case subs => subs.flatMap { sub =>
          spark.read.parquet(s"$path/g$gen/$sub")
            .groupBy(col("bucket"))
            // coalesce INSIDE the aggregates: `scope.isin` of a NULL
            // scope is null, and max over an all-null bucket returns
            // null — recallVisible tolerates null scopes at read time
            // (it must, :1405), so the stats job cannot be the place
            // that crashes the whole commit on one
            .agg(min(col("agent_id")).as("mn"), max(col("agent_id")).as("mx"),
              max(coalesce(col("scope").isin("public", "global"), lit(false))
                .cast("int")).as("pub"))
            .collect().flatMap { r =>
              // an all-null agent_id bucket has no usable range: record
              // NO stat (the segment is always read — the same
              // over-approximation discipline as a pre-range store)
              // rather than crash on getString
              if (r.isNullAt(1) || r.isNullAt(2)) None
              else Some(s"g$gen/$sub/bucket=${r.get(0)}" ->
                SegStats(r.getString(1), r.getString(2), r.getInt(3) == 1))
            }
        }.toMap
      }
    val liveSegSet = buckets.values.flatten.toSet
    val ranges = (m.ranges ++ freshStats).filter { case (seg, _) =>
      liveSegSet.contains(seg) }

    // ---- streaming-ingest bookkeeping (ingestPipeline's replay
    // contract): the batch's verdict frame persists INSIDE this
    // generation dir and the manifest records (batchId, relpath) in
    // the SAME atomic publish — absent a new bookkeeping pair, the
    // previous one carries forward verbatim (a replay decision is
    // about whether batch N committed, which later unrelated commits
    // do not change)
    val extra = bookkeeping match {
      case Some((bid, verdicts)) =>
        verdicts.write.mode(SaveMode.Overwrite).parquet(s"$path/g$gen/v")
        Map("batch" -> bid.toString, "pverdict" -> s"g$gen/v")
      // only clearPipelineBookkeeping() sets clearBookkeeping — an
      // EXPLICIT new-epoch declaration drops the keys (an unguarded
      // pipeline call on a bookkeeping-carrying store throws instead:
      // both mixed-mode interleavings are contract violations — a
      // silent clear re-opens the crash-replay double-append, a silent
      // keep lets a reused batchId serve stale verdicts). Plain
      // remember/forget commits carry the pair forward verbatim —
      // "did batch N commit" is unchanged by unrelated writes.
      case None if clearBookkeeping => m.extra -- Seq("batch", "pverdict")
      case None => m.extra
    }

    writeStoreManifest(StoreManifest(gen, m.numBuckets, buckets, tagIdx,
      ranges, extra))
    // the generation holding the live pverdict stays un-gc'd even if
    // all its bucket segments are superseded (a few stale segment dirs
    // ride along until the next pipeline batch moves the pointer —
    // bounded waste, never a dangling verdict)
    val liveTops = buckets.values.flatten.map(_.takeWhile(_ != '/')).toSet ++
      tagIdx.getOrElse(Nil).map(_.takeWhile(_ != '/')) ++
      extra.get("pverdict").map(_.takeWhile(_ != '/'))
    ManifestIO.gc(path, liveTops)
    sweepLegacyFiles()
  }

  /** Committed (tag, bucket) index content. Only ever called with
    * non-empty `segs` — every referenced segment holds parquet files
    * ([[hasParquetFiles]] gated it at commit time). */
  private def readTagIdx(segs: Seq[String]): DataFrame =
    spark.read.schema("tag STRING, bucket INT")
      .parquet(segs.map(s => s"$path/$s"): _*)

  /** Whether a just-written relative dir produced any parquet part
    * files (an all-empty frame writes only _SUCCESS — referencing such
    * a segment would break later reads). Local listing, exact. */
  private def hasParquetFiles(rel: String): Boolean =
    ManifestIO.listChildren(s"$path/$rel").exists { case (nm, _) =>
      nm.startsWith("part-") && nm.contains(".parquet") }

  /** Buckets that ever held a row carrying `tag`, per the inverted
    * index — `None` when the store predates the index (fold every
    * bucket; that full fold backfills the index for next time). */
  private def tagBuckets(m: StoreManifest, tag: String): Option[Set[Int]] =
    m.tagIdx.map { segs =>
      if (segs.isEmpty) Set.empty[Int]
      else readTagIdx(segs).filter(col("tag") === tag)
        .select("bucket").distinct().collect().map(_.getInt(0)).toSet
    }

  /** Bucket-pruned conditional rewrite: fold the touched buckets'
    * segments, apply `f`, replace only those buckets. `touched` is
    * computed AGAINST the live manifest (so id→bucket routing always
    * uses the persisted bucket count, never the compiled default);
    * `_ => None` means every bucket (the pre-index [[forgetSubject]]
    * fallback). `addsTags` declares that `f` may ADD tags to rows
    * (consolidate's state flip) so the commit indexes the replaced
    * frame; rewrites that never add tags keep the index job off their
    * path. */
  private def mutateBuckets(touched: StoreManifest => Option[Set[Int]],
      addsTags: Boolean = false)(f: DataFrame => DataFrame): Unit = {
    val m = migrateIfLegacy()
    val ks = touched(m).map(_.intersect(m.buckets.keySet))
      .getOrElse(m.buckets.keySet)
    if (ks.isEmpty) return // no targeted bucket holds data: nothing to do
    commitWrite(m, ks, Some(f(readBuckets(m, ks))), None,
      replacedAddsTags = addsTags)
  }

  /** Fold any bucket that accumulated more than [[Mnemo.MaxSegments]]
    * append segments back into one replacement segment. Called after
    * every append; a no-op job-wise unless a bucket is over budget. */
  private def compactOverflow(): Unit = {
    val over = readStoreManifest()
      .map(_.buckets.collect {
        case (k, segs) if segs.length > Mnemo.MaxSegments => k
      }.toSet)
      .getOrElse(Set.empty)
    if (over.nonEmpty) mutateBuckets(_ => Some(over))(identity)
  }

  /** REMEMBER a batch: enrich → chain per (agent, thread) continuing
    * from the store's tail → append. One job, no per-row probes. */
  def remember(batch: Seq[RememberRequest]): Unit =
    appendEnriched(reqFrame(batch))

  /** REMEMBER with the MARKER leg of the reference's write-path
    * injection scan (poisoning.rs scans content at ingest, before the
    * row is ever recallable). Scope is deliberately the lexical
    * subset: the reference's full `check_for_anomaly` ALSO scores
    * importance-deviation / content-length / write-burst anomalies
    * against the agent's profile and exempts trusted sources from the
    * self-referential check — those profile-relative legs live in
    * [[ingestPipeline]], which composes them with this scan; use that
    * entry point for reference-parity ingest. Each row's content runs
    * the SHARED x9 marker set
    * (queries/Scoring — the same constants the batch scan, the
    * streaming gate, and the DETECTION.json rates measure) and
    * marker-bearing rows land with `quarantined = true`, so every
    * recall predicate excludes them from their first moment in the
    * store while the hash chain still records them for forensics
    * (quarantine keeps the row, never drops it — the reference's
    * review-then-release model; the `q1_quarantine_replay` query is
    * the batch audit of the same policy). The caller's own flag is
    * OR'd, never overridden; the
    * scan is a per-row projection folded into the same single append
    * job as [[remember]]. */
  def rememberScanned(batch: Seq[RememberRequest]): Unit = {
    val nHits = graft.queries.Scoring.InjectionMarkers
      .map(m => when(lower(col("content")).rlike(m), 1).otherwise(0))
      .reduce(_ + _)
    appendEnriched(reqFrame(batch)
      .withColumn("quarantined", col("quarantined") || nHits > 0))
  }

  /** ONE-CALL ingest — the reference's whole remember path
    * (remember.rs:67-270: validate → embed → chain → anomaly →
    * quarantine → profile) composed as a single batch job plus one
    * atomic store commit. [[remember]]/[[rememberScanned]] stay as the
    * narrow entry points; this is the reference-parity one.
    *
    * Anomaly scoring mirrors `check_for_anomaly` (poisoning.rs:155-260)
    * leg for leg, vectorized over the batch:
    *  - importance deviating > 0.4 from the agent's store average: +0.3
    *  - content length outside [0.1×, 5×] the agent's average:     +0.3
    *  - a write < 1 s after the agent's previous one, once the
    *    agent holds > 10 memories — counting rows earlier in THIS
    *    batch, as the reference's per-row profile growth would:    +0.4
    *  - the shared x9 injection-marker set in the content:         +0.5
    *  - those markers in a row that arrived through an INDIRECT
    *    ingest vector ([[Mnemo.IndirectSourceTags]]) — the MINJA
    *    self-referential case; trusted/direct rows skip this leg:  +0.6
    * score ≥ 0.5 ⇒ quarantined (kept for forensics, excluded from
    * recall — the same review-then-release model as
    * [[rememberScanned]]; the caller's own flag is OR'd). The agent
    * profile is ONE aggregate over the live store broadcast to the
    * batch; the burst leg seeds a per-agent lag() window with the
    * store's last write, so intra-batch bursts score too. The
    * reference's OPTIONAL embedding z-score leg stays off here, as in
    * its default policy — this engine measures that lane's
    * non-generalization honestly instead (eval/Detection.zScoreLane).
    *
    * Dedup: with `index` given, the batch probes it FIRST (exact
    * Bloom verdict + near-dup band candidates vs all prior pipeline
    * batches — doc key = xxhash64(id)); bloom-flagged rows keep
    * [[Mnemo.DupCandidateTag]] in their tags, nothing is dropped.
    * Pass `batchId` when driving from foreachBatch: BOTH stores then
    * carry at-least-once replay guards (the index persists its probe
    * verdicts per generation; this store persists the pipeline's full
    * verdict frame and skips the re-append), so a re-delivered
    * micro-batch is exactly-once end to end — including a crash
    * BETWEEN the two commits. The store append is one commit; the
    * index fold is one commit on ITS OWN store — two stores, one
    * crash-atomic commit each. Guarded and unguarded calls must not
    * mix: an unguarded call on a store still carrying replay
    * bookkeeping THROWS (either silent resolution re-opens a replay
    * hazard) — retire a checkpoint explicitly with
    * [[clearPipelineBookkeeping]] first. */
  def ingestPipeline(batch: Seq[RememberRequest],
      index: Option[DedupIndex] = None,
      batchId: Option[Long] = None): Mnemo.IngestReport = {
    import Mnemo.{DupCandidateTag, IndirectSourceTags}

    // at-least-once replay guard, BOTH stores: with a batchId, each
    // pipeline commit persists its verdict frame inside the store's
    // new generation ('pverdict' in the manifest) exactly as the
    // dedup index persists its own — a re-delivered foreachBatch
    // micro-batch returns the original report verbatim and neither
    // store advances. A crash BETWEEN the index commit and the store
    // commit replays cleanly too: the index detects its own replay
    // (returns its persisted verdicts without re-folding) while the
    // store, which never committed, appends normally — per-store
    // bookkeeping makes the two-store handoff exactly-once end to end.
    val manExtra = readStoreManifest().map(_.extra).getOrElse(Map.empty)
    val lastBatch = manExtra.get("batch").map(_.toLong)
    (batchId, lastBatch) match {
      case (Some(bid), Some(lb)) if bid == lb =>
        val v = spark.read.parquet(s"$path/${manExtra("pverdict")}")
          .orderBy("id").localCheckpoint()
        return Mnemo.reportOf(v)
      case (Some(bid), Some(lb)) if bid < lb =>
        throw new IllegalStateException(
          s"memory store at $path: pipeline batch $bid replayed after $lb " +
            "was committed — beyond foreachBatch's one-batch replay window " +
            "(second writer or rewound checkpoint)")
      // mixing guarded and unguarded ingest is a contract violation in
      // BOTH interleavings: silently clearing the guard here would let a
      // crash-replay of the committed batch re-append (duplicate ids),
      // and silently keeping it would let a later guarded call that
      // reuses the old batchId serve stale verdicts. Fail loudly; a new
      // checkpoint epoch must be DECLARED, not inferred.
      case (None, Some(lb)) =>
        throw new IllegalStateException(
          s"memory store at $path: unguarded ingestPipeline call on a " +
            s"store carrying replay bookkeeping for batch $lb — pass the " +
            "foreachBatch batchId, or declare a new checkpoint epoch " +
            "explicitly with clearPipelineBookkeeping() first")
      case _ => ()
    }
    val reqs = reqFrame(batch)

    // the agent profile the reference reads per-row, as ONE broadcast
    // aggregate — over ONLY the batch's agents: the equality IN-filter
    // pushes to the parquet scan (row-group-pruned under the
    // (agent_id, id) clustering) and the manifest agent ranges skip
    // whole foreign segment files, so the per-batch profile cost
    // scales with the WRITING agents' data, not the store (a
    // full-store avg(length(content)) per micro-batch would be the
    // 100×-scale mistake)
    val batchAgents = batch.map(_.agentId).distinct
    val prof = agentScopedTableMulti(batchAgents, keepPublic = false)
      .filter(col("agent_id").isin(batchAgents.map(lit): _*) &&
        col("deleted_at").isNull && !col("quarantined"))
      .groupBy("agent_id").agg(
        count(lit(1)).as("prof_n"),
        avg(col("importance")).as("prof_imp"),
        avg(length(col("content"))).as("prof_len"),
        max(col("created_at")).as("prof_last"))

    val markers = graft.queries.Scoring.InjectionMarkers
      .map(m => lower(col("content")).rlike(m)).reduce(_ || _)
    val indirect = IndirectSourceTags.toSeq.sorted
      .map(t => array_contains(col("tags"), t)).reduce(_ || _)
    val w = Window.partitionBy(col("agent_id"))
      .orderBy(col("created_at"), col("id"))
    val legs: Seq[(Column, String, Double)] = Seq(
      (col("prof_n").isNotNull &&
        abs(col("importance") - col("prof_imp")) > 0.4,
        "importance_deviation", 0.3),
      (col("prof_n").isNotNull && col("prof_len") > 0 &&
        !(length(col("content")) / col("prof_len")).between(0.1, 5.0),
        "content_length_outlier", 0.3),
      // the >10-memories gate counts the agent's rows as the batch
      // lands (store count + rows already ahead of this one in the
      // batch), mirroring the reference's per-row profile growth — a
      // FRESH agent flooding 100 sub-second rows in one micro-batch
      // must start flagging at row 12, not never
      (coalesce(col("prof_n"), lit(0L)) + col("_batch_rn") - 1 > 10 &&
        unix_micros(col("created_at")) - unix_micros(col("prev_ts")) < 1000000L,
        "write_burst", 0.4),
      (markers, "injection_markers", 0.5),
      (markers && indirect, "self_referential_indirect", 0.6))
    // pinned once: three downstream jobs consume this frame (the index
    // probe, the verdict projection, the append) — without the pin each
    // would re-run the profile aggregate + window over the store
    val scored = reqs.join(broadcast(prof), Seq("agent_id"), "left")
      .withColumn("prev_ts",
        coalesce(lag(col("created_at"), 1).over(w), col("prof_last")))
      .withColumn("_batch_rn", row_number().over(w))
      .withColumn("anomaly_reasons",
        filter(array(legs.map { case (c, name, _) =>
          when(coalesce(c, lit(false)), lit(name)) }: _*), r => r.isNotNull))
      .withColumn("anomaly_score",
        legs.map { case (c, _, pts) =>
          when(coalesce(c, lit(false)), lit(pts)).otherwise(lit(0.0)) }
          .reduce(_ + _))
      .withColumn("quarantined",
        col("quarantined") || col("anomaly_score") >= 0.5)
      .localCheckpoint()

    // dedup probe BEFORE the append, so "history" is prior batches only
    val withDup = index match {
      case Some(ix) =>
        val keyed = scored.withColumn("doc_id", xxhash64(col("id")))
        val probeBatch = keyed.select(col("doc_id"), col("content").as("text"))
        val verdict = batchId.map(ix.ingest(probeBatch, _))
          .getOrElse(ix.ingest(probeBatch))
        val joined = keyed.join(verdict, Seq("doc_id"), "left")
        // the guard's disclosure must SURVIVE the pipeline: a doc that
        // hit a hot band carries empty near_candidate_ids, and hiding
        // the flag would let a consumer read that as "no near-dups" —
        // the one misreading the index's over-approximation contract
        // forbids. Unguarded/pre-guard indexes have no column → 0.
        val satCol =
          if (joined.columns.contains("band_saturated"))
            coalesce(col("band_saturated"), lit(0))
          else lit(0)
        joined
          .withColumn("maybe_dup", coalesce(col("maybe_dup"), lit(0)))
          .withColumn("near_candidate_ids",
            coalesce(col("near_candidate_ids"), array().cast("array<long>")))
          .withColumn("band_saturated", satCol)
          .withColumn("tags",
            when(col("maybe_dup") === 1,
              array_union(col("tags"), array(lit(DupCandidateTag))))
              .otherwise(col("tags")))
      case None =>
        scored.withColumn("maybe_dup", lit(0))
          .withColumn("near_candidate_ids", array().cast("array<long>"))
          .withColumn("band_saturated", lit(0))
    }
    // pin the verdicts once: the append job below re-derives its own
    // frame, and the caller's later reads must not recompute the gates
    // against a store that has since moved on
    val verdicts = withDup.select(
      col("id"), col("agent_id"), col("anomaly_score"),
      col("anomaly_reasons"), col("quarantined"),
      col("maybe_dup"), col("near_candidate_ids"), col("band_saturated"))
      .orderBy("id").localCheckpoint()

    appendEnriched(withDup.select(
      col("id"), col("agent_id"), col("thread_id"), col("content"),
      col("memory_type"), col("scope"), col("importance"), col("tags"),
      col("created_at"), col("expires_at"), col("quarantined")),
      // an unguarded call on a bookkeeping-carrying store threw above,
      // so there is never a stale pair to clear implicitly here — epoch
      // changes go through clearPipelineBookkeeping() only
      bookkeeping = batchId.map(_ -> verdicts))

    Mnemo.reportOf(verdicts)
  }

  /** Declare a new ingest checkpoint epoch: drop the pipeline replay
    * bookkeeping (`batch`/`pverdict`) from the manifest in one
    * ordinary commit. Call this when a foreachBatch checkpoint is
    * retired and batch ids will restart — the ONLY sanctioned way to
    * move a store from guarded to unguarded ingest. After the clear, a
    * redelivery of the old checkpoint's last batch would re-append
    * (that is what declaring a new epoch means); an undeclared mix of
    * guarded and unguarded calls throws in [[ingestPipeline]] instead
    * of silently opening that window. */
  def clearPipelineBookkeeping(): Unit = {
    val m = migrateIfLegacy()
    if (m.extra.contains("batch"))
      commitWrite(m, Set.empty, None, None, clearBookkeeping = true)
  }

  private def reqFrame(batch: Seq[RememberRequest]): DataFrame = {
    import spark.implicits._
    batch.toDF().select(
      col("id"), col("agentId").as("agent_id"), col("threadId").as("thread_id"),
      col("content"), col("memoryType").as("memory_type"), col("scope"),
      col("importance"), col("tags"), col("createdAt").as("created_at"),
      col("expiresAt").as("expires_at"), col("quarantined"))
  }

  /** Enrich + chain + append a frame of request rows (snake_case
    * request columns). Shared by [[remember]] and the DataFrame-native
    * writers ([[consolidate]]) so bundle writes never round-trip
    * through the driver. Lands as per-bucket append segments — O(new
    * rows) I/O regardless of store size. */
  private def appendEnriched(reqs: DataFrame,
      bookkeeping: Option[(Long, DataFrame)] = None,
      clearBookkeeping: Boolean = false): Unit = {
    val m = migrateIfLegacy()
    commitWrite(m, Set.empty, None, Some(enrichChain(reqs)),
      bookkeeping = bookkeeping, clearBookkeeping = clearBookkeeping)
    compactOverflow()
  }

  /** The enrichment half of [[appendEnriched]]: embedding, content
    * hash, tombstone defaults, and per-(agent, thread) chain linkage
    * continued from the store's current tails — as a plan, unwritten,
    * so callers ([[ampMerge]]) can fold it into a single atomic
    * commit alongside a bucket rewrite. The INPUT is pinned
    * (localCheckpoint) because two consumers read it — the batch-keys
    * prune below and the enriched rows themselves — and re-running an
    * arbitrary caller plan (remember's anomaly gate + index-probe
    * joins) once per consumer would double the write path's gate
    * cost; the OUTPUT stays a plan, preserving the atomic-fold
    * contract. */
  private def enrichChain(reqs0: DataFrame): DataFrame = {
    val reqs = reqs0.localCheckpoint()
    val in = reqs
      .withColumn("embedding", hashEmbedding(col("content")))
      .withColumn("content_hash",
        HashChain.contentHash(col("content"), col("agent_id"),
          col("created_at").cast("string")))
      .withColumn("deleted_at", lit(null).cast("timestamp"))
      .withColumn("redacted", lit(false))
      .withColumn("access_count", lit(0L))

    // seed: tail content_hash per (agent, thread) already in the store
    // (table() is typed even when never written, so one branch suffices).
    // Pruned to the BATCH's keys before aggregating: the store holds a
    // tail per (agent, thread) EVER seen — unbounded at corpus scale —
    // while the append only needs the chains it touches, an O(batch)
    // set. The batch-keys semi-join makes the aggregate and the forced
    // broadcast below both O(batch); without it the broadcast grows
    // with store history and eventually OOMs the driver.
    val batchKeys = reqs.select(col("agent_id"), col("thread_id")).distinct()
    val tails = table()
      .join(broadcast(batchKeys), Seq("agent_id", "thread_id"), "left_semi")
      .groupBy("agent_id", "thread_id")
      .agg(max_by(col("content_hash"),
        struct(col("created_at"), col("id"))).as("tail_hash"))

    val w = Window.partitionBy(col("agent_id"), col("thread_id"))
      .orderBy(col("created_at"), col("id"))
    in.join(broadcast(tails), Seq("agent_id", "thread_id"), "left")
      .withColumn("prev_hash",
        coalesce(lag(col("content_hash"), 1).over(w), col("tail_hash")))
      .withColumn("chain_hash",
        sha2(concat(col("content_hash"), coalesce(col("prev_hash"), lit(""))), 256))
      .drop("tail_hash")
  }

  /** FORGET: soft delete (tombstone) — never physically removes, so
    * as-of recall and audits keep working (T1/S4). Rewrites only the
    * buckets the ids hash into. */
  def forget(agentId: String, ids: Seq[String], at: Timestamp): Unit =
    mutateBuckets(m => Some(bucketsOf(ids, m.numBuckets)))(_.withColumn("deleted_at",
      when(col("agent_id") === agentId && col("id").isin(ids.map(lit): _*) &&
        col("deleted_at").isNull, lit(at)).otherwise(col("deleted_at"))))

  /** TOUCH (S7/P3): batched access bump for a set of recalled ids —
    * the reference's per-hit `access_count += 1` re-expressed as ONE
    * bucket-pruned conditional rewrite for the whole result batch (the
    * accumulated touch-set MERGE of SURVEY S7). */
  def touch(ids: Seq[String]): Unit = {
    val hit = col("id").isin(ids.map(lit): _*)
    mutateBuckets(m => Some(bucketsOf(ids, m.numBuckets)))(_.withColumn("access_count",
      when(hit, col("access_count") + 1).otherwise(col("access_count"))))
  }

  /** FORGET-SUBJECT (GDPR/DPDPA redaction, forget.rs:392-430): every
    * record tagged `subject:<id>` has its content replaced with a
    * redaction marker and is tombstoned — but its hashes are KEPT, so
    * the per-agent chains still verify end-to-end (the reference's
    * "Redact keeps hashes" contract). */
  def forgetSubject(subjectTag: String, at: Timestamp): Unit = {
    val hit = array_contains(col("tags"), subjectTag) && !col("redacted")
    // tag-addressed, not id-addressed — but the tag→bucket inverted
    // index (maintained by every commit, [[commitWrite]]) prunes the
    // fold to the buckets that ever held the tag. A store predating
    // the index folds every bucket ONCE; that full fold rebuilds the
    // index in the same commit, so the next redaction prunes.
    mutateBuckets(m => tagBuckets(m, subjectTag))(_
      .withColumn("content", when(hit, "[REDACTED]").otherwise(col("content")))
      .withColumn("deleted_at", when(hit && col("deleted_at").isNull, lit(at))
        .otherwise(col("deleted_at")))
      .withColumn("redacted", when(hit, lit(true)).otherwise(col("redacted"))))
  }

  /** CONSOLIDATE (run_consolidation, consolidate.rs:1-409 — MemFail's
    * "summarize" seam): cluster the agent's raw episodic records by
    * shared tag, and for every cluster of at least `minClusterSize`
    * members write ONE semantic bundle
    * `[Consolidated from N memories] c1 | c2 | …` (members in
    * (created_at, id) order, contents verbatim — the needle-preservation
    * contract), tagged with the cluster topic plus
    * [[Mnemo.ConsolidationTag]]; originals are stamped
    * [[Mnemo.ConsolidatedTag]] (the state flip) and excluded from later
    * passes. A record with several qualifying tags joins its
    * lexicographically-least one, so assignment is deterministic and
    * each record is absorbed once.
    *
    * Scale shape: one explode+groupBy for cluster sizes, one aggregate
    * for the digests, bundles appended through the same enrich+chain
    * path as [[remember]] — no driver round-trip of content. */
  def consolidate(agentId: String, minClusterSize: Int,
      at: Timestamp): ConsolidationResult = {
    val active = table().filter(col("agent_id") === agentId &&
      col("deleted_at").isNull && col("memory_type") === "episodic" &&
      !col("quarantined") && !array_contains(col("tags"), ConsolidatedTag))
    val tagged = active
      .select(col("id"), col("content"), col("created_at"),
        explode(col("tags")).as("tag"))
      .filter(!col("tag").startsWith("__"))
    val qualifying = tagged.groupBy("tag")
      .agg(count(lit(1)).as("n")).filter(col("n") >= minClusterSize)
      .select("tag")
    val assigned = tagged.join(qualifying, "tag")
      .groupBy("id", "content", "created_at").agg(min(col("tag")).as("tag"))
    val clusters = assigned.groupBy("tag")
      .agg(count(lit(1)).as("n_members"),
        concat_ws(" | ",
          transform(
            array_sort(collect_list(struct(col("created_at"), col("id"),
              col("content")))),
            p => p.getField("content"))).as("body"),
        collect_list(col("id")).as("member_ids"))
      .filter(col("n_members") >= minClusterSize)
      // eager materialization, lineage severed: the digests must be
      // pinned BEFORE the store rewrite below invalidates their source
      // files (a cache could silently recompute over the flipped store)
      .localCheckpoint()
    val nClusters = clusters.count()
    if (nClusters > 0) {
      // flip originals first (reads the store), then append bundles;
      // the flip is id-addressed, so only the members' buckets rewrite
      val members = clusters.select(explode(col("member_ids")).as("mid"))
      def memberBuckets(n: Int): Set[Int] = members
        .select(Mnemo.bucketOf(col("mid"), n).as("b")).distinct()
        .collect().map(_.getInt(0)).toSet
      mutateBuckets(m => Some(memberBuckets(m.numBuckets)),
        addsTags = true)(_ // the flip ADDS ConsolidatedTag → index it
        .join(broadcast(members), col("id") === col("mid"), "left")
        .withColumn("tags",
          when(col("mid").isNotNull,
            concat(col("tags"), array(lit(ConsolidatedTag))))
            .otherwise(col("tags")))
        .drop("mid"))
      appendEnriched(clusters.select(
        concat(lit("consol-"), col("tag"), lit("-"), lit(at.getTime)).as("id"),
        lit(agentId).as("agent_id"),
        lit("consolidation").as("thread_id"),
        concat(lit("[Consolidated from "), col("n_members").cast("string"),
          lit(" memories] "), col("body")).as("content"),
        lit("semantic").as("memory_type"),
        lit("private").as("scope"),
        lit(0.5f).as("importance"),
        array(col("tag"), lit(ConsolidationTag)).as("tags"),
        lit(at).as("created_at"),
        lit(null).cast("timestamp").as("expires_at"),
        lit(false).as("quarantined")))
    }
    ConsolidationResult(nClusters, nClusters)
  }

  /** RECALL: filter → lane scores → (weighted RRF if hybrid) → top-k.
    * Lanes follow SURVEY §2.3; scoring matches the engine's batch
    * queries (BM25-lite lexical via token overlap, cosine semantic on
    * the deterministic hash embedding, recency on created_at). The
    * filter is the full F1 conjunction [[Mnemo.recallPredicate]]; the
    * shared-scope ACL leg is a broadcast grant join placed BEFORE
    * scoring (R10: permission-safe pre-filter). */
  def recall(r: RecallRequest, now: Timestamp): DataFrame =
    recallOver(table(), r, now)

  /** Same recall pipeline over an explicit (already scoped) frame. */
  def recallOver(source: DataFrame, r: RecallRequest, now: Timestamp): DataFrame = {
    val withGrant = r.agentId match {
      case Some(a) =>
        // distinct: share() appends grant rows, and a duplicate grant
        // must not duplicate the memory through scoring/RRF — the
        // reference's check_permission is a boolean, not a multiset.
        val grants = acls().filter(col("principal_id") === a)
          .select(col("memory_id")).distinct()
        source.join(broadcast(grants), col("id") === col("memory_id"), "left")
          .withColumn("__granted", col("memory_id").isNotNull)
          .drop("memory_id")
      case None => source.withColumn("__granted", lit(false))
    }
    val base = withGrant
      .filter(Mnemo.recallPredicate(r, now, col("__granted")))
      .drop("__granted")
    val qToks = TextOps.tokenSet(lit(r.query))
    val lexScore = TextOps.jaccard(TextOps.tokenSet(col("content")), qToks)
    val semScore = VectorOps.cosineFast(col("embedding"), hashEmbedding(lit(r.query)))
    val ageH = (lit(now).cast("long") - col("created_at").cast("long")) / 3600.0
    val recScore = exp(-ageH * math.log(2) / 168.0)

    r.strategy match {
      case "exact" =>
        base.withColumn("score", lit(1.0))
          .orderBy(col("created_at").desc, col("id"))
          .limit(r.limit)
      case "lexical" =>
        base.withColumn("score", coalesce(lexScore, lit(0.0)))
          .orderBy(col("score").desc, col("id")).limit(r.limit)
      case "semantic" =>
        base.withColumn("score", coalesce(semScore, lit(0.0)))
          .orderBy(col("score").desc, col("id")).limit(r.limit)
      case _ => // hybrid: weighted RRF over 3 ranked lanes (k = 60)
        def lane(score: Column, w: Double): DataFrame =
          base.withColumn("s", coalesce(score, lit(0.0)))
            .orderBy(col("s").desc, col("id")).limit(r.limit * 3)
            .withColumn("rank",
              row_number().over(Window.orderBy(col("s").desc, col("id"))))
            .select(col("id").as("rid"), (lit(w) / (col("rank") + 60)).as("contrib"))
        val fused = lane(lexScore, 0.35)
          .unionAll(lane(semScore, 0.45))
          .unionAll(lane(recScore, 0.20))
          .groupBy("rid").agg(sum(col("contrib")).as("score"))
        base.join(fused, col("id") === col("rid"))
          .drop("rid")
          .orderBy(col("score").desc, col("id"))
          .limit(r.limit)
    }
  }

  /** Operator-facing health view of this store and its maintained
    * satellites — see [[Mnemo.StoreHealth]]. Driver-side manifest
    * reads and listings only; launches no Spark job, so it is safe to
    * poll from monitoring. A legacy (pre-v3) flat store reports
    * version 0 with no bucket structure. */
  def describe(): Mnemo.StoreHealth = {
    recover()
    val aux = Map(
      "acl" -> aclExists, "checkpoints" -> ckptExists,
      "delegations" -> delegExists, "orientation" -> orientExists,
      "attention" -> attnExists)
    readStoreManifest() match {
      case Some(m) =>
        val segs = m.buckets.values
        Mnemo.StoreHealth(
          version = 3, generation = m.gen, numBuckets = m.numBuckets,
          populatedBuckets = m.buckets.size,
          segments = segs.map(_.length).sum,
          maxBucketSegments = if (segs.isEmpty) 0 else segs.map(_.length).max,
          tagIndexSegments = m.tagIdx.map(_.length),
          rangedSegments = m.ranges.size,
          pipelineBatch = m.extra.get("batch").map(_.toLong),
          auxStores = aux)
      case None =>
        Mnemo.StoreHealth(
          version = if (legacyExists) 0 else 3,
          generation = 0L, numBuckets = newStoreBuckets,
          populatedBuckets = 0, segments = 0, maxBucketSegments = 0,
          tagIndexSegments = None, rangedSegments = 0,
          pipelineBatch = None, auxStores = aux)
    }
  }

  /** VERIFY: recompute every link of every (agent, thread) chain; rows
    * with broken linkage localize the tamper (hash.rs:41-98 → one
    * window pass, W4). Cross-batch seams are checked via the stored
    * prev_hash, which the builder seeded from the previous batch tail. */
  def verifyChains(): DataFrame = verifyChainsOver(table())

  /** Agent-scoped verify: the chain window partitions by (agent,
    * thread), so restricting the INPUT to one agent verifies exactly
    * that agent's chains — and the equality filter pushes to the scan,
    * where the (agent_id, id) segment clustering prunes the other
    * agents' row groups (the reference verifies per-agent,
    * provenance.rs; a full-store window for one agent's audit would
    * be the 100×-scale mistake). Segment files whose manifest range
    * excludes the agent are skipped outright ([[agentScopedTable]]). */
  def verifyChains(agentId: String): DataFrame =
    verifyChainsOver(agentScopedTable(agentId, keepPublic = false)
      .filter(col("agent_id") === agentId))

  private def verifyChainsOver(src: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("agent_id"), col("thread_id"))
      .orderBy(col("created_at"), col("id"))
    val recomputed = HashChain.contentHash(col("content"), col("agent_id"),
      col("created_at").cast("string"))
    src
      .withColumn("expected_prev",
        coalesce(lag(col("content_hash"), 1).over(w), col("prev_hash")))
      .withColumn("chain_valid",
        // redacted rows keep their original hashes: linkage is verified,
        // the content recompute is skipped (the redaction contract)
        (col("redacted") || col("content_hash") === recomputed) &&
          coalesce(col("prev_hash"), lit("")) === coalesce(col("expected_prev"), lit("")) &&
          col("chain_hash") ===
            sha2(concat(col("content_hash"), coalesce(col("prev_hash"), lit(""))), 256))
  }

  /** Register SQL views (the pgwire-equivalent surface, §3.3): plain
    * Spark SQL over `memories` is a superset of the reference's SQL
    * subset. */
  def registerViews(): Unit =
    table().createOrReplaceTempView("memories")

  // ---- ACL sharing (S13/J2: share.rs:43-137, check_permission) ----

  private def aclPath = path + "_acls"

  private def aclExists: Boolean =
    ManifestIO.listChildren(aclPath).nonEmpty

  /** SHARE: grant `toAgent` read access to specific memories. The grant
    * table is a small broadcast dimension, exactly the reference's acls
    * table. */
  def share(memoryIds: Seq[String], toAgent: String, grantedAt: Timestamp): Unit = {
    import spark.implicits._
    memoryIds.map(id => (id, toAgent, grantedAt))
      .toDF("memory_id", "principal_id", "granted_at")
      .write.mode(SaveMode.Append).parquet(aclPath)
  }

  def acls(): DataFrame =
    if (aclExists) spark.read.parquet(aclPath)
    else {
      import spark.implicits._
      Seq.empty[(String, String, Timestamp)]
        .toDF("memory_id", "principal_id", "granted_at")
    }

  /** RECALL with the full visibility closure (S8): own records ∪
    * public/global scope ∪ ACL grants — the grant leg is a broadcast
    * semi-join placed BEFORE scoring.
    *
    * Visibility is evaluated as TWO DISJOINT scan legs, each with a
    * scan-PUSHABLE filter. The previous single-scan OR (own ∨ public
    * ∨ granted) referenced the grant-join output, so Catalyst could
    * push nothing below the join and every visible recall scanned the
    * whole store regardless of the round-10 segment clustering. Now:
    *  - own-or-public: `agent_id = a OR scope IN (public, global)` —
    *    both disjuncts are column-only predicates, so the OR pushes
    *    to parquet whole; a row group is read only if its stats admit
    *    the agent (tight under the (agent_id, id) segment sort) OR
    *    admit a public/global scope (a group holding one agent's
    *    private/shared run rules both out and skips). One scan, same
    *    prune decision per group as two separate legs would make;
    *  - granted: grant ids are a bounded per-principal set (the
    *    reference's ACL fan-in, acl.rs), so they route to their
    *    id-hash buckets exactly like every point op
    *    ([[tableForIds]]) and the tiny grant list broadcast
    *    semi-joins — I/O is O(grant buckets), never the store. A
    *    pathological principal with more than [[Mnemo.GrantRouteMax]]
    *    grants falls back to the full-scan semi-join (correct, just
    *    unpruned); an ungranted principal plans NO grant leg at all.
    * The legs are disjoint by construction (granted excludes both
    * disjuncts), so the union re-creates the exact old row set with
    * no dedup pass. */
  def recallVisible(agentId: String, r: RecallRequest, now: Timestamp): DataFrame = {
    val grants = acls().filter(col("principal_id") === agentId)
      .select(col("memory_id")).distinct()
    // file-level skip on top of the row-group prune: a segment whose
    // recorded range excludes the agent AND that holds no public row
    // cannot satisfy either disjunct, so it is not opened at all
    val ownOrPub = agentScopedTable(agentId, keepPublic = true)
      .filter(col("agent_id") === agentId ||
        col("scope").isin("public", "global"))
    val grantIds = grants.limit(Mnemo.GrantRouteMax + 1)
      .collect().map(_.getString(0)).toSeq
    val granted =
      if (grantIds.isEmpty) emptyTable()
      else {
        val src =
          if (grantIds.size <= Mnemo.GrantRouteMax) tableForIds(grantIds)
          else table()
        // null-safe complement: a granted row with a NULL scope must
        // stay visible through THIS leg (the old OR-plan admitted it
        // via the grant disjunct; a bare !isin would null it away)
        src.filter(!coalesce(col("agent_id") === agentId, lit(false)) &&
            !coalesce(col("scope").isin("public", "global"), lit(false)))
          .join(broadcast(grants), col("id") === col("memory_id"), "left_semi")
      }
    recallOver(ownOrPub.unionByName(granted), r.copy(agentId = None), now)
  }

  // ---- checkpoints / branch / merge (§2.8, checkpoint.rs, merge.rs) ----

  private def ckptPath = path + "_ckpts"

  private def ckptExists: Boolean =
    ManifestIO.listChildren(ckptPath).nonEmpty

  /** CHECKPOINT: snapshot the ids of an agent's live memories as a ref
    * array (one row). */
  def checkpoint(name: String, agentId: String, at: Timestamp): Unit = {
    val refs = agentScopedTable(agentId, keepPublic = false)
      .filter(col("agent_id") === agentId && col("deleted_at").isNull &&
        col("created_at") <= lit(at))
      .agg(sort_array(collect_list(col("id"))).as("memory_refs"))
      .withColumn("name", lit(name))
      .withColumn("agent_id", lit(agentId))
      .withColumn("created_at", lit(at))
    refs.write.mode(SaveMode.Append).parquet(ckptPath)
  }

  def checkpoints(): DataFrame =
    if (ckptExists) spark.read.parquet(ckptPath)
    else spark.emptyDataFrame

  /** BRANCH: fork a new named ref from an existing checkpoint
    * (branch.rs:48-117) — the branch starts with the source's exact
    * memory_refs under a new (name, agent) and diverges via ordinary
    * remember/forget; mergeCheckpoints reunites it later. */
  def branch(newName: String, fromCheckpoint: String, asAgent: String,
      at: Timestamp): Unit = {
    val src = checkpoints().filter(col("name") === fromCheckpoint)
      .select(col("memory_refs"))
      .withColumn("name", lit(newName))
      .withColumn("agent_id", lit(asAgent))
      .withColumn("created_at", lit(at))
    src.write.mode(SaveMode.Append).parquet(ckptPath)
  }

  /** MERGE two checkpoints: FullMerge = union-distinct of ref arrays
    * (merge.rs:87-114). Returns the merged ref array. */
  def mergeCheckpoints(nameA: String, nameB: String): Seq[String] =
    mergeCheckpoints(nameA, nameB, Mnemo.FullMerge)

  /** MERGE with the reference's three modes (merge.rs:87-114):
    * FullMerge and Squash both produce target ∪ source (Squash only
    * collapses history, which the batch model has no separate notion
    * of); CherryPick appends the chosen ids to the target
    * UNCONDITIONALLY (merge.rs:88-100 pushes cherry_pick_ids without
    * intersecting the source checkpoint's refs — a chosen id absent
    * from the source still lands in the merge). */
  def mergeCheckpoints(nameA: String, nameB: String,
      mode: Mnemo.MergeMode): Seq[String] = {
    import spark.implicits._
    val c = checkpoints()
    val a = c.filter(col("name") === nameA).select(explode(col("memory_refs")).as("r"))
    val b = mode match {
      case Mnemo.CherryPick(chosen) => chosen.toDF("r")
      case _ => c.filter(col("name") === nameB).select(explode(col("memory_refs")).as("r"))
    }
    a.union(b).distinct().orderBy("r").collect().map(_.getString(0)).toSeq
  }

  /** REPLAY a checkpoint: refs ⨝ memories (J8) — the agent's state at
    * checkpoint time, chain-verifiable. */
  def replay(name: String): DataFrame = {
    val refs = checkpoints().filter(col("name") === name)
      .select(explode(col("memory_refs")).as("ref_id"))
    table().join(broadcast(refs), col("id") === col("ref_id"), "left_semi")
  }

  // ---- delegation (S13: delegate tool + check_permission chain,
  //      storage/duckdb.rs:338-426,754-830) ----

  private def delegPath = path + "_delegations"

  private def delegExists: Boolean =
    ManifestIO.listChildren(delegPath).nonEmpty

  /** DELEGATE: `fromAgent` lets `toAgent` read what it can read, until
    * `expiresAt`. */
  def delegate(fromAgent: String, toAgent: String, grantedAt: Timestamp,
      expiresAt: Timestamp): Unit = {
    import spark.implicits._
    Seq((fromAgent, toAgent, grantedAt, expiresAt))
      .toDF("from_agent", "to_agent", "granted_at", "expires_at")
      .write.mode(SaveMode.Append).parquet(delegPath)
  }

  def delegations(): DataFrame =
    if (delegExists) spark.read.parquet(delegPath)
    else {
      import spark.implicits._
      Seq.empty[(String, String, Timestamp, Timestamp)]
        .toDF("from_agent", "to_agent", "granted_at", "expires_at")
    }

  /** Permission closure at time `now`: memory ids readable by `agentId`
    * via owner → public scope → direct ACL → 1/2-hop unexpired
    * delegation. Every leg is a broadcast of a tiny dimension against
    * the streaming memories side — the 100 TB access-check shape. */
  def accessibleIds(agentId: String, now: Timestamp): DataFrame = {
    val live = delegations().filter(col("expires_at") > lit(now))
      .select(col("from_agent"), col("to_agent"))
    // principals whose reads this agent inherits (depth ≤ 2) + itself
    val hop1 = live.filter(col("to_agent") === agentId).select(col("from_agent"))
    val hop2 = live.join(hop1.withColumnRenamed("from_agent", "mid"),
        col("to_agent") === col("mid"))
      .select(col("from_agent"))
    val principals = hop1.union(hop2)
      .union(spark.createDataFrame(Seq(Tuple1(agentId))).toDF("from_agent"))
      .distinct()
      .withColumnRenamed("from_agent", "principal")
    val grantLeg = acls()
      .join(broadcast(principals), col("principal_id") === col("principal"), "left_semi")
      .select(col("memory_id").as("id"))
    val ownLeg = table()
      .join(broadcast(principals), col("agent_id") === col("principal"), "left_semi")
      .select(col("id"))
    val publicLeg = table().filter(col("scope").isin("public", "global"))
      .select(col("id"))
    ownLeg.union(publicLeg).union(grantLeg).distinct()
  }

  // ---- attention-state KV blobs (§2.11 attention_state_put/get,
  //      mnemo-attention-state/src/lib.rs:1-444) ----

  private def attnPath = path + "_attention"

  private def attnExists: Boolean =
    ManifestIO.listChildren(attnPath).nonEmpty

  /** Committed data directory: manifest-backed after the first
    * [[attentionStateCompact]]; the store root itself for fresh and
    * legacy (pre-manifest) stores. */
  private def attnDataDir: String = ManifestIO.read(attnPath) match {
    case Some(m) if m.contains("data") => attnPath + "/" + m("data")
    case _ => attnPath
  }

  /** PUT an opaque state blob under (agent, key) — append-only; GET
    * resolves latest-per-key (W2), so history is retained. */
  def attentionStatePut(agentId: String, key: String, blob: Array[Byte],
      at: Timestamp): Unit =
    attentionStatePutAll(Seq((agentId, key, blob, at)))

  /** Batched PUT: one parquet append for the whole batch — the
    * small-files-per-call fix for any real put rate; callers
    * accumulate and flush. */
  def attentionStatePutAll(
      entries: Seq[(String, String, Array[Byte], Timestamp)]): Unit = {
    import spark.implicits._
    if (entries.nonEmpty)
      entries.toDF("agent_id", "key", "blob", "updated_at")
        .coalesce(1)
        .write.mode(SaveMode.Append).parquet(attnDataDir)
  }

  /** Compact the accumulated append files into one fresh generation
    * directory, committed with an atomic manifest rename (the same
    * protocol as the maintained sync/orientation stores) — a crash
    * mid-compaction leaves the previous generation fully readable.
    * History is preserved; only the file count changes. */
  def attentionStateCompact(): Unit = {
    if (!attnExists) return
    val manifest = ManifestIO.read(attnPath).getOrElse(Map.empty)
    val gen = manifest.get("data")
      .map(d => d.stripPrefix("g").toLong + 1).getOrElse(1L)
    val dir = s"g$gen"
    val snapshot = spark.read.parquet(attnDataDir)
    // cluster the compacted generation by (agent_id, key, updated_at):
    // un-compacted append files are one (agent, key) each (tight file
    // stats for free), but a compacted generation mixes every agent —
    // the sort keeps [[attentionStateGet]]'s pushed (agent, key) filter
    // row-group-prunable, same discipline as the memory store's
    // bucket segments
    snapshot.coalesce(1)
      .sortWithinPartitions(col("agent_id"), col("key"), col("updated_at"))
      .write.mode(SaveMode.Overwrite).parquet(s"$attnPath/$dir")
    val committed = manifest ++ Map("version" -> "1", "data" -> dir)
    ManifestIO.write(attnPath, committed)
    ManifestIO.gc(attnPath, Set(dir))
    // first compaction of a legacy root-file layout: sweep the absorbed
    // root-level parquet files (readers already go through the manifest)
    ManifestIO.listChildren(attnPath)
      .collect { case (nm, false) if !nm.startsWith(ManifestIO.FileName) => nm }
      .foreach(nm => ManifestIO.deleteFile(s"$attnPath/$nm"))
  }

  /** Driver-side health view of the attention-KV satellite — manifest
    * read + one listing, no Spark job (the [[describe]] discipline,
    * satellite parity). */
  def describeAttention(): Mnemo.AttentionHealth = {
    val man = ManifestIO.read(attnPath)
    Mnemo.AttentionHealth(
      version = man.flatMap(_.get("version")).map(_.toInt)
        .getOrElse(if (attnExists) 0 else 1),
      committedGeneration =
        man.flatMap(_.get("data")).map(_.stripPrefix("g").toLong),
      dataFiles = ManifestIO.countDataFiles(attnDataDir))
  }

  def attentionStateGet(agentId: String, key: String): Option[Array[Byte]] = {
    if (!attnExists) return None
    val w = Window.partitionBy(col("agent_id"), col("key"))
      .orderBy(col("updated_at").desc)
    spark.read.parquet(attnDataDir)
      .filter(col("agent_id") === agentId && col("key") === key)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("blob"))
      .collect()
      .headOption.map(_.getAs[Array[Byte]](0))
  }

  // ---- orientation cache (P7: query/orientation_cache.rs:93-739),
  //      a MAINTAINED per-namespace store updated by recall batches ----

  private def orientPath = path + "_orientation"

  private def orientExists: Boolean =
    ManifestIO.listChildren(orientPath).nonEmpty

  private def encNs(ns: String): String =
    java.net.URLEncoder.encode(ns, "UTF-8")

  private def emptyOrientFrame: DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, Long, Long, String, Long)]
      .toDF("namespace", "key", "freq", "last_seen", "value", "tokens")
  }

  /** Committed orientation state. Layout v2: per-namespace generation
    * directories published by an atomic [[ManifestIO]] commit
    * (`ns.<enc> -> <dir>` entries). Pre-manifest stores (the v1
    * hive-partitioned layout) read as before and are migrated wholesale
    * by the next [[orientationUpdate]]. */
  def orientationState(): DataFrame =
    ManifestIO.read(orientPath) match {
      case Some(m) =>
        val dirs = m.collect { case (k, v) if k.startsWith("ns.") =>
          s"$orientPath/$v" }.toSeq
        if (dirs.isEmpty) emptyOrientFrame
        else spark.read.parquet(dirs: _*)
      case None if orientExists => spark.read.parquet(orientPath)
      case None => emptyOrientFrame
    }

  /** Distill a recall result into the namespace's context map: upsert
    * (freq bump + last_seen refresh) then evict to the token budget —
    * the reference's update_and_render write half, persisted so the
    * map survives across recalls and sessions.
    *
    * Row-level MERGE with a CRASH-ATOMIC commit: the merged namespace
    * is written to a fresh generation directory (so the write never
    * touches the files its own plan is reading — no scratch-dir
    * two-phase), then published by one atomic manifest rename, the
    * same protocol as the sync-loop store (graft.streaming.SyncLoop).
    * A crash at any point leaves the previous generation committed and
    * at worst an orphan directory, which the post-commit sweep
    * removes. Write amplification stays O(one namespace): other
    * namespaces' directories are never opened. (The reference upserts
    * rows inside one embedded transaction, storage/duckdb.rs:714-740.) */
  def orientationUpdate(hits: DataFrame, namespace: String, nowUnix: Long,
      budget: Int = OrientationCache.DefaultBudget): Unit = {
    val batch = OrientationCache.distill(hits, lit(namespace), col("content"))
    val nsState = orientationState().filter(col("namespace") === namespace)
    val kept = OrientationCache.evict(
      OrientationCache.upsert(nsState, batch, nowUnix), budget, nowUnix)
    val manifest = ManifestIO.read(orientPath).getOrElse(Map.empty)
    // one-time migration of a v1 hive-partitioned store: snapshot every
    // OTHER namespace into its own g1 directory, published in the same
    // single manifest commit below
    val migrated: Map[String, String] =
      if (manifest.isEmpty && orientExists) {
        val others = spark.read.parquet(orientPath)
          .filter(col("namespace") =!= namespace)
        others.select("namespace").distinct().collect().map(_.getString(0))
          .map { ns =>
            val dir = s"${encNs(ns)}-g1"
            others.filter(col("namespace") === ns)
              .write.mode(SaveMode.Overwrite).parquet(s"$orientPath/$dir")
            s"ns.${encNs(ns)}" -> dir
          }.toMap
      } else Map.empty
    val key = s"ns.${encNs(namespace)}"
    val gen = manifest.get(key)
      .map(d => d.substring(d.lastIndexOf("-g") + 2).toLong + 1).getOrElse(1L)
    val dir = s"${encNs(namespace)}-g$gen"
    kept.write.mode(SaveMode.Overwrite).parquet(s"$orientPath/$dir")
    val committed = manifest ++ migrated +
      (key -> dir) + ("version" -> "2")
    ManifestIO.write(orientPath, committed)
    ManifestIO.gc(orientPath,
      committed.collect { case (k, v) if k.startsWith("ns.") => v }.toSet)
  }

  /** Driver-side health view of the orientation cache satellite —
    * manifest read (+ one listing on a legacy layout), no Spark job.
    * Generation parsing is TOLERANT here: a hand-edited or foreign
    * `ns.*` value without the `-g<N>` suffix reports generation 0 for
    * that entry instead of throwing from a health probe (the WRITE
    * path keeps the strict parse — mis-numbering a generation there
    * would corrupt the store, so it must fail loudly). */
  def describeOrientation(): Mnemo.OrientationHealth = {
    val genOf = """.*-g(\d+)$""".r
    ManifestIO.read(orientPath) match {
      case Some(m) =>
        val dirs = m.collect { case (k, v) if k.startsWith("ns.") => v }.toSeq
        Mnemo.OrientationHealth(
          version = m.get("version").map(_.toInt).getOrElse(2),
          namespaces = dirs.size,
          maxGeneration =
            if (dirs.isEmpty) 0L
            else dirs.map {
              case genOf(n) => n.toLong
              case _ => 0L
            }.max,
          legacyLayout = false)
      case None =>
        // pre-manifest hive-partitioned layout: namespace= partition
        // dirs ARE the namespaces; a never-written store is just empty
        val nsDirs = ManifestIO.listChildren(orientPath)
          .collect { case (nm, true) if nm.startsWith("namespace=") => nm }
        Mnemo.OrientationHealth(
          version = if (orientExists) 1 else 2,
          namespaces = nsDirs.size, maxGeneration = 0L,
          legacyLayout = orientExists)
    }
  }

  /** Rendered map for one namespace, key-ascending (the reference's
    * BTreeMap iteration order). */
  def orientationRender(namespace: String): DataFrame =
    orientationState().filter(col("namespace") === namespace).orderBy("key")

  // ---- Letta-compat façade (§2.11 mem_write / mem_read / mem_revise /
  //      mem_forget): thin aliases over the native operations ----

  def memWrite(r: RememberRequest): Unit = remember(Seq(r))

  def memRead(agentId: String, query: String, limit: Int, now: Timestamp): DataFrame =
    recall(RecallRequest(query = query, agentId = Some(agentId), limit = limit), now)

  /** REVISE: tombstone the old record and write the replacement with a
    * `supersedes:<id>` tag — the chain stays verifiable because nothing
    * is rewritten in place. Fails loudly if the old record belongs to a
    * different agent (a silent no-op tombstone would leave both records
    * live while the successor still claims supersession). */
  def memRevise(old: String, replacement: RememberRequest, at: Timestamp): Unit = {
    val owners = table().filter(col("id") === old)
      .select(col("agent_id")).distinct().collect().map(_.getString(0))
    require(owners.nonEmpty, s"memRevise: no record with id $old")
    require(owners.forall(_ == replacement.agentId),
      s"memRevise: $old belongs to agent ${owners.mkString(",")}, " +
        s"not ${replacement.agentId}")
    forget(replacement.agentId, Seq(old), at)
    remember(Seq(replacement.copy(tags = replacement.tags :+ s"supersedes:$old")))
  }

  def memForget(agentId: String, ids: Seq[String], at: Timestamp): Unit =
    forget(agentId, ids, at)

  // ---- AMP / memorywire façade (mnemo-amp/src/lib.rs:1-38): the 5-op
  //      surface (remember/recall/forget/merge/expire) over the 4
  //      memory types, as thin compositions over the native ops — the
  //      wire/transport binding is out of scope (§3.3), the op surface
  //      is what an AMP-speaking client drives ----

  /** AMP remember: native remember, with the memory type pinned to the
    * AMP vocabulary. */
  def ampRemember(r: RememberRequest): Unit = {
    require(Mnemo.AmpMemoryTypes.contains(r.memoryType),
      s"AMP memory type must be one of ${Mnemo.AmpMemoryTypes.mkString("/")}, " +
        s"got ${r.memoryType}")
    remember(Seq(r))
  }

  /** AMP recall: top-k (AMP default 5) scoped to the calling agent. */
  def ampRecall(agentId: String, query: String, now: Timestamp,
      topK: Int = 5): DataFrame =
    recall(RecallRequest(query = query, agentId = Some(agentId), limit = topK), now)

  def ampForget(agentId: String, ids: Seq[String], at: Timestamp): Unit =
    forget(agentId, ids, at)

  /** AMP merge: write the consolidated record AND tombstone the sources
    * in ONE atomic manifest commit (NOT the checkpoint-timeline
    * [[mergeCheckpoints]]) — a crash leaves either the old state or the
    * fully-merged state, never a double-counted middle where both the
    * bundle and its un-tombstoned sources are recallable. Source
    * lineage rides in `merged:<id>` tags so the consolidation is
    * auditable. */
  def ampMerge(consolidated: RememberRequest, sourceIds: Seq[String],
      at: Timestamp): Unit = {
    // same vocabulary gate as ampRemember — the facade's invariant
    // must hold through every op that writes
    require(Mnemo.AmpMemoryTypes.contains(consolidated.memoryType),
      s"AMP memory type must be one of ${Mnemo.AmpMemoryTypes.mkString("/")}, " +
        s"got ${consolidated.memoryType}")
    val chained = enrichChain(reqFrame(Seq(consolidated.copy(
      tags = consolidated.tags ++ sourceIds.map(i => s"merged:$i")))))
    val m = migrateIfLegacy()
    val ks = bucketsOf(sourceIds, m.numBuckets).intersect(m.buckets.keySet)
    val tombstoned = readBuckets(m, ks).withColumn("deleted_at",
      when(col("agent_id") === consolidated.agentId &&
        col("id").isin(sourceIds.map(lit): _*) && col("deleted_at").isNull,
        lit(at)).otherwise(col("deleted_at")))
    commitWrite(m, ks, Some(tombstoned), Some(chained))
    compactOverflow()
  }

  /** AMP expire: stamp `expires_at` on the targeted rows (there is no
    * native expire — same composition as the reference adapter); the
    * TTL sweep (T4/S12 semantics) and the recall predicate's expiry leg
    * take it from there. */
  def ampExpire(agentId: String, ids: Seq[String], expiresAt: Timestamp): Unit =
    mutateBuckets(m => Some(bucketsOf(ids, m.numBuckets)))(_.withColumn("expires_at",
      when(col("agent_id") === agentId && col("id").isin(ids.map(lit): _*),
        lit(expiresAt)).otherwise(col("expires_at"))))
}
