package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.api.StoreCommit

/** T5 write side — the sync engine's incremental MERGE loop
  * (reference: sync/engine.rs:24-161): each micro-batch of the event
  * feed is merged into a persisted per-user profile store, and a
  * PERSISTED watermark records the high-water event time so a
  * restarted loop resumes where it left off instead of double-counting
  * replayed input (the reference's get/set_sync_watermark contract
  * around list_memories_since).
  *
  * Spark-first shape: `foreachBatch` gives the streaming query a batch
  * DataFrame per trigger; the MERGE is one full-outer join of the
  * profile store with the micro-batch aggregate — additive stats only
  * (count / decimal sum / min / max), so incremental maintenance is
  * EXACTLY equal to a one-shot batch recompute, which is what the
  * oracle checks. Sums ride DECIMAL, not DOUBLE, so the equality is
  * order-independent and bit-exact.
  *
  * Store layout — row-level MERGE, not a full rewrite (the reference
  * upserts rows: storage/duckdb.rs:714-740): profiles are hash-bucketed
  * by `user_id` into [[NumParts]] partitions; a batch reads and
  * rewrites ONLY the partitions its users hash into, so write
  * amplification per trigger is O(touched partitions), not O(store).
  * Each batch writes its touched partitions under a fresh
  * `data/g<gen>/part=<k>/` directory (gen = the manifest's own commit
  * counter, which unlike the batch id never restarts) and then commits
  * through the [[graft.api.StoreCommit]] core one manifest (`version=1`)
  * that maps every partition to its current directory, together with
  * the batch id and watermark; the commit sweeps `data/` directories
  * no partition references any more:
  *
  *  - crash BEFORE the publish: the old manifest still governs — the
  *    half-written batch directory is invisible and the replayed batch
  *    recomputes it (overwriting the orphan);
  *  - replay AFTER the publish: the manifest's batch id says the batch
  *    was applied, so the sink skips it — no double count (the
  *    store+watermark advance is one atomic commit, closing the
  *    crash-between-two-writes window of the previous design).
  *
  * Untouched partitions keep their old directories byte-for-byte
  * (asserted in StreamingSpec). Single writer assumed, like the
  * reference's embedded store. Late events behind the committed
  * watermark are skipped by design (the since-watermark contract);
  * bound upstream lateness with `withWatermark` if the feed can
  * reorder across triggers.
  */
object SyncLoop {

  /** Hash-bucket count for the profile store. 16 keeps partitions
    * coarse at test scale; at cluster scale raise it so a partition is
    * O(100 MB) — the manifest and commit protocol are unchanged. */
  val NumParts = 16

  private def partOf(userCol: org.apache.spark.sql.Column) =
    pmod(userCol, lit(NumParts)).cast("int")

  /** Empty profile store frame (schema anchor). */
  def emptyProfiles(spark: SparkSession): DataFrame =
    spark.range(0).select(
      col("id").as("user_id"),
      lit(0L).as("n_events"),
      lit(null).cast("decimal(38,6)").as("total_value"),
      lit(0L).as("first_us"),
      lit(0L).as("last_us"))

  /** Per-user additive aggregate of one micro-batch
    * (cols: user_id, ts epoch-micros long, value double). */
  def aggBatch(batch: DataFrame): DataFrame =
    batch.groupBy("user_id").agg(
      count(lit(1)).as("b_n"),
      sum(col("value").cast("decimal(20,6)")).as("b_total"),
      min(col("ts")).as("b_first"),
      max(col("ts")).as("b_last"))

  /** MERGE a micro-batch into the profile store: one full-outer join,
    * additive update per column. least/greatest skip the null side of
    * the join, so new users and untouched users both come out right. */
  def merge(profiles: DataFrame, batch: DataFrame): DataFrame =
    profiles.join(aggBatch(batch), Seq("user_id"), "full_outer")
      .select(col("user_id"),
        (coalesce(col("n_events"), lit(0L)) + coalesce(col("b_n"), lit(0L)))
          .as("n_events"),
        (coalesce(col("total_value"), lit(0).cast("decimal(38,6)")) +
          coalesce(col("b_total"), lit(0).cast("decimal(20,6)")))
          .cast("decimal(38,6)").as("total_value"),
        least(col("first_us"), col("b_first")).as("first_us"),
        greatest(col("last_us"), col("b_last")).as("last_us"))

  // ---- manifest: the store's single atomic commit point ----

  /** Current committed state: last applied foreachBatch id (scoped by
    * the query incarnation's `epoch` — foreachBatch ids restart at 0
    * under a fresh checkpoint, so a bare id comparison would wrongly
    * skip a relaunched loop's first batches), high-water event time,
    * each hash partition's current data directory (relative to the
    * store root), and a store-lineage commit counter `gen` that names
    * the data directories. `gen` advances on every data-writing commit
    * and NEVER restarts — unlike the batch id, which restarts at 0
    * under a fresh checkpoint; naming dirs by batch id let a
    * relaunched loop's batch 0 overwrite a directory the manifest
    * still referenced for untouched partitions (state loss). */
  case class Manifest(batchId: Long, watermark: Long, parts: Map[Int, String],
      epoch: String = "", gen: Long = 0L)

  def readManifest(storePath: String): Option[Manifest] =
    StoreCommit.read(storePath, Version).map(parseManifest)

  private val Version = 1

  private def parseManifest(m: Map[String, String]): Manifest =
    Manifest(m("batch_id").toLong, m("watermark").toLong,
      m.collect { case (k, v) if k.startsWith("part.") =>
        k.stripPrefix("part.").toInt -> v },
      m("epoch"), StoreCommit.generation(Some(m)))

  /** Publish `m` through the commit core, which sweeps every `data/`
    * directory `m` no longer references. */
  private def publish(c: StoreCommit, m: Manifest): Unit =
    c.publish(Map(
      "batch_id" -> m.batchId.toString,
      "watermark" -> m.watermark.toString,
      "epoch" -> m.epoch,
      "gen" -> m.gen.toString) ++
      m.parts.map { case (k, v) => s"part.$k" -> v }, m.parts.values)

  /** Committed watermark (manifest-backed; -1 with no commits yet). */
  def readWatermark(storePath: String): Option[Long] =
    readManifest(storePath).map(_.watermark)

  /** The shared committed-state read: the union of the requested
    * partitions' current data directories. Partition pruning happens at
    * the path level — a caller (or [[applyBatch]]) that needs only some
    * buckets passes `parts`, and the other directories are never
    * opened. One body for every store family on this manifest protocol
    * (profiles, baselines), so a read-path fix lands everywhere. */
  private def readStore(spark: SparkSession, storePath: String,
      parts: Option[Set[Int]], schema: String,
      empty: => DataFrame): DataFrame =
    readManifest(storePath) match {
      case None => empty
      case Some(m) =>
        val dirs = m.parts
          .filter { case (k, _) => parts.forall(_.contains(k)) }
          .map { case (k, v) => s"$storePath/$v/part=$k" }
          .toSeq
        if (dirs.isEmpty) empty
        else spark.read.schema(schema).parquet(dirs: _*)
    }

  private val ProfileSchema =
    "user_id LONG, n_events LONG, total_value DECIMAL(38,6), " +
      "first_us LONG, last_us LONG"

  /** Read the committed profile store, path-pruned to `parts`. */
  def readProfiles(spark: SparkSession, storePath: String,
      parts: Option[Set[Int]] = None): DataFrame =
    readStore(spark, storePath, parts, ProfileSchema, emptyProfiles(spark))

  /** Apply one micro-batch to the store — idempotent on `batchId`.
    * Reads only the touched partitions, writes only the touched
    * partitions, commits store + watermark + batch id in one atomic
    * manifest commit. Safe to call again with the same id (no-op). */
  def applyBatch(batch: DataFrame, storePath: String, batchId: Long,
      epoch: String = ""): Unit =
    applyCore(batch, storePath, batchId, epoch, partOf(col("user_id")),
      parts => readProfiles(batch.sparkSession, storePath, parts), merge)

  /** The store-agnostic half of [[applyBatch]] — the watermark filter,
    * touched-bucket discovery, bucket-pruned MERGE, and the single
    * atomic manifest commit, shared by the profile store and the
    * embedding-baseline store (A7). `part` must be a column expression
    * valid over BOTH the batch rows and the merged output (the key
    * column is present in each); `readState` reads only the requested
    * buckets; `mergeFn(state, freshRows)` produces the replacement
    * content of the touched buckets. */
  private def applyCore(batch: DataFrame, storePath: String, batchId: Long,
      epoch: String, part: org.apache.spark.sql.Column,
      readState: Option[Set[Int]] => DataFrame,
      mergeFn: (DataFrame, DataFrame) => DataFrame): Unit = {
    val c = StoreCommit.open(storePath, Version)
    val prev = c.committed.map(parseManifest)
    // replayed batch of the SAME query incarnation: already committed
    if (prev.exists(m => m.epoch == epoch && m.batchId >= batchId)) return
    val fresh = prev.map(m => batch.filter(col("ts") > m.watermark)).getOrElse(batch)
    // touched buckets + batch high-water in ONE small aggregate pass
    val stats = fresh.groupBy(part.as("part"))
      .agg(max(col("ts")).as("mx")).collect()
    if (stats.isEmpty) {
      // nothing fresh: still commit the batch id so a replay is a no-op
      publish(c, prev.map(_.copy(batchId = batchId, epoch = epoch))
        .getOrElse(Manifest(batchId, Long.MinValue, Map.empty, epoch)))
      return
    }
    val touched = stats.map(_.getInt(0)).toSet
    val highWater = stats.map(_.getLong(1)).max
    val merged = mergeFn(readState(Some(touched)), fresh)
      .withColumn("part", part)
    // dir named by the manifest's own commit counter, NOT the batch id:
    // batch ids restart at 0 under a fresh checkpoint, and reusing a
    // dir name overwrite-truncates partitions the manifest still
    // references from the previous incarnation. A crash before the
    // manifest commit replays the same gen and clears the orphan.
    val gen = c.next()
    val rel = s"data/g$gen"
    c.write(rel, "", merged, "part")
    val oldParts = prev.map(_.parts).getOrElse(Map.empty)
    publish(c, Manifest(batchId,
      math.max(prev.map(_.watermark).getOrElse(Long.MinValue), highWater),
      oldParts ++ touched.map(_ -> rel), epoch, gen))
  }

  /** Attach the foreachBatch MERGE loop to a streaming event frame.
    * The checkpoint dir doubles as the batch-id epoch: replays within
    * one incarnation are skipped, a relaunch under a new checkpoint is
    * a new epoch (its batches apply; the committed watermark still
    * filters replayed EVENTS, so nothing double-counts either way). */
  def maintainProfiles(events: DataFrame, storePath: String,
      checkpointDir: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, storePath, batchId, epoch = checkpointDir)
      }
      .start()

  // ---- A7: incrementally-maintained embedding baseline ----
  //
  // The reference updates each agent's (μ, diag Σ, n) embedding profile
  // on every write (anomaly/outlier.rs:104-251); batch graft computes it
  // as one aggregate (EmbeddingBaselineAggregator, the l4 lane). The
  // streaming maintenance below keeps the SAME state the aggregator's
  // buffer holds — (n, Σx, Σx²) per (group, dimension) — in a
  // hash-bucketed store driven by the identical manifest-commit
  // protocol as the profile MERGE. Sums ride DECIMAL(38,12): decimal
  // addition is exact and associative, so N micro-batches land
  // bit-identically with a one-shot recompute over the same rows
  // (StreamingSpec pins the equality), where double sums would drift
  // with grouping order. Input contract per row:
  // (group_id STRING, ts LONG epoch-micros, embedding ARRAY<FLOAT>).

  def baselinePartOf(groupCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(groupCol), lit(NumParts)).cast("int")

  private val BaselineSchema =
    "group_id STRING, dim INT, n LONG, s DECIMAL(38,12), s2 DECIMAL(38,12)"

  /** Empty baseline store frame (schema anchor). */
  def emptyBaselines(spark: SparkSession): DataFrame =
    spark.range(0).select(
      col("id").cast("string").as("group_id"),
      lit(0).as("dim"),
      lit(0L).as("n"),
      lit(null).cast("decimal(38,12)").as("s"),
      lit(null).cast("decimal(38,12)").as("s2"))

  /** Per-(group, dim) additive aggregate of one micro-batch of
    * vectors. x² is computed per element in double (deterministic per
    * row), then cast to decimal so the SUM is order-independent. */
  def aggBaselineBatch(batch: DataFrame): DataFrame =
    batch.select(col("group_id"),
        posexplode(col("embedding")).as(Seq("dim", "xf")))
      .withColumn("x", col("xf").cast("double"))
      .groupBy("group_id", "dim")
      .agg(
        count(lit(1)).as("b_n"),
        sum(col("x").cast("decimal(38,12)")).as("b_s"),
        sum((col("x") * col("x")).cast("decimal(38,12)")).as("b_s2"))

  /** MERGE a micro-batch of vectors into the baseline state: one
    * full-outer join on (group, dim), additive per column — the
    * streaming twin of [[graft.functions.EmbeddingBaselineAggregator]]'s
    * `merge`. */
  def mergeBaselines(state: DataFrame, batch: DataFrame): DataFrame =
    state.join(aggBaselineBatch(batch), Seq("group_id", "dim"), "full_outer")
      .select(col("group_id"), col("dim"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("b_n"), lit(0L))).as("n"),
        (coalesce(col("s"), lit(0).cast("decimal(38,12)")) +
          coalesce(col("b_s"), lit(0).cast("decimal(38,12)")))
          .cast("decimal(38,12)").as("s"),
        (coalesce(col("s2"), lit(0).cast("decimal(38,12)")) +
          coalesce(col("b_s2"), lit(0).cast("decimal(38,12)")))
          .cast("decimal(38,12)").as("s2"))

  /** Read the committed baseline state, path-pruned to `parts`. */
  def readBaselines(spark: SparkSession, storePath: String,
      parts: Option[Set[Int]] = None): DataFrame =
    readStore(spark, storePath, parts, BaselineSchema, emptyBaselines(spark))

  /** The (μ, σ², n) consumer view of the baseline state — what the
    * z-score outlier pass (X11/l4) joins against. Derived, never
    * stored: the stored sums stay exact and re-derivable. */
  def baselineView(spark: SparkSession, storePath: String): DataFrame = {
    val mu = (col("s") / col("n")).cast("double")
    readBaselines(spark, storePath)
      .filter(col("n") > 0)
      .select(col("group_id"), col("dim"), col("n"),
        mu.as("mu"),
        greatest(lit(0.0),
          (col("s2") / col("n")).cast("double") - mu * mu).as("var"))
  }

  /** Apply one micro-batch of vectors to the baseline store — same
    * idempotence, watermark, and atomic-commit contract as
    * [[applyBatch]]. */
  def applyBaselineBatch(batch: DataFrame, storePath: String, batchId: Long,
      epoch: String = ""): Unit =
    applyCore(batch, storePath, batchId, epoch, baselinePartOf(col("group_id")),
      parts => readBaselines(batch.sparkSession, storePath, parts),
      mergeBaselines)

  /** Attach the foreachBatch baseline-MERGE loop to a streaming vector
    * frame (A7's write-path maintenance). */
  def maintainBaselines(vectors: DataFrame, storePath: String,
      checkpointDir: String): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBaselineBatch(batch, storePath, batchId, epoch = checkpointDir)
      }
      .start()
}
