package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Pipeline

/** Persisted quality-classifier model store — the TRAIN ONCE,
  * BROADCAST THEREAFTER shape of the pl20/pl21 classifier family (the
  * r17 verdict's composition item): a production funnel does not
  * retrain the CCNet-style gate inside every consumer the way the
  * REGISTERED queries do (their contract is a pure function of
  * (session, dir) — the training run IS the report); it trains once,
  * persists the [[graft.queries.Pipeline.ClsDim]]-row weight table,
  * and every scoring pass thereafter is one broadcast join.
  *
  * Store layout = the [[StoreCommit]] maintained-store discipline
  * (same core as the memory store, the dedup index, the orientation
  * cache): immutable generation dirs `g<N>/weights` (parquet, (bucket
  * BIGINT, w DECIMAL(20,9))), published by one atomic manifest commit
  * carrying `version=1`, `gen=`, `segs=`, `dim=`, and `trained_on=`
  * (provenance: the corpus dir the weights were fit on). A model of
  * any other `version` fails to read. A crash between the parquet
  * write and the manifest publish leaves the previous model live;
  * orphan dirs are swept by the next commit. Re-fitting commits a new
  * generation and supersedes — readers see old or new weights, never
  * a mix.
  *
  * Training, featurization, and scoring are the SHARED pl20/pl21
  * builders ([[graft.queries.Pipeline.corpusPass]] /
  * [[graft.queries.Pipeline.clsTrained]] /
  * [[graft.queries.Pipeline.clsScoreAll]]) — the persisted model is
  * bit-identical to what the registered queries train on the same
  * corpus (QualityModelSpec pins it), because the weights are exact
  * decimals under the pl20 determinism contract. Scale shape: the
  * persisted state is dimension-bounded (273 rows), never
  * corpus-bounded; `score` moves one broadcast of it and a map-side
  * margin aggregate — no training jobs, no funnel build. */
object QualityModel {

  /** Fit the classifier on `sfDir`'s corpus and commit the weight
    * table as a new generation. Returns the committed generation. */
  def fit(spark: SparkSession, sfDir: String, storePath: String): Long = {
    val c = StoreCommit.open(storePath, Version)
    val gen = c.next()
    val seg = s"g$gen"
    // no cache on the corpus pass here: unlike the registered queries
    // (which score with it AFTER training), fit consumes its features
    // exactly once — in the training pair frame (review finding)
    c.write(seg, "weights", Pipeline.clsTrained(spark,
      Pipeline.corpusPass(spark, sfDir),
      Pipeline.funnelStaged4(spark, sfDir)))
    c.publish(Map(
      "gen" -> gen.toString,
      "segs" -> seg,
      "dim" -> Pipeline.ClsDim.toString,
      "trained_on" -> sfDir), Seq(seg))
    gen
  }

  /** The one on-disk format this build reads and writes. */
  private val Version = 1

  /** The committed weight table (bucket, w) — throws on a store that
    * never committed (scoring against no model must be loud, not an
    * all-zero margin). */
  def weights(spark: SparkSession, storePath: String): DataFrame = {
    val man = StoreCommit.read(storePath, Version).getOrElse(
      throw new IllegalStateException(
        s"quality model at $storePath: no committed generation — fit() first"))
    val seg = man.getOrElse("segs",
      throw new IllegalStateException(
        s"quality model at $storePath: manifest carries no segs entry"))
    spark.read.schema("bucket BIGINT, w DECIMAL(20,9)")
      .parquet(s"$storePath/$seg/weights")
  }

  /** Score a corpus with the PERSISTED model — no training jobs, one
    * broadcast join + a map-side margin aggregate (the deployed CCNet
    * scoring pass). Output: (doc_id, lang, kept, is_eval, p) — the
    * [[graft.queries.Pipeline.clsScoreAll]] shape. */
  def score(spark: SparkSession, sfDir: String, storePath: String): DataFrame =
    Pipeline.clsScoreAll(Pipeline.corpusPass(spark, sfDir),
      weights(spark, storePath))

  /** [[score]] + the pl21 quantile gate against the corpus's funnel
    * staging — per-(lang, tier) composition through the SAME
    * [[graft.queries.Pipeline.clsGateBuckets]] builder the registered
    * query runs, minus the in-query training. The scored frame is
    * cached (the gate reads it twice: cutoff pass + bucketing pass);
    * the cache is session-scoped per the QueryDef convention — a
    * long-lived consumer clears at its own batch boundaries
    * (`spark.catalog.clearCache()`). staged4 is consumed once here
    * (no training leg) and deliberately uncached (review finding). */
  def gateReport(spark: SparkSession, sfDir: String,
      storePath: String): DataFrame = {
    val scored = score(spark, sfDir, storePath).cache()
    Pipeline.clsGateBuckets(scored, Pipeline.funnelStaged4(spark, sfDir))
      .orderBy("lang", "bucket")
  }

  /** The per-language (lang, c1, c2) tertile cutoff table off the
    * PERSISTED model scored against `sfDir`'s corpus — the SECOND
    * training artifact of a deployed gate (CCNet ships perplexity
    * thresholds with the model, not per-batch): computed through the
    * SAME [[graft.queries.Pipeline.clsBucketAssign]] machinery pl21
    * reports and pl23 selects on, so a head/middle/tail decision made
    * at ingest ([[graft.streaming.EventStream.streamingQualityGate]])
    * is the decision the batch gate would make. ≤2 values per
    * language — broadcast-sized at any corpus size. */
  def cutoffs(spark: SparkSession, sfDir: String,
      storePath: String): DataFrame =
    Pipeline.clsCutoffs(score(spark, sfDir, storePath))

  /** The cached corpus pass gated by the PERSISTED model — the SHARED
    * [[graft.queries.Pipeline.clsGated]] column ("not in the tail
    * tertile" of the stored model's scores, the same cutoffs pl21
    * reports and pl23 selects on). */
  private def gated(spark: SparkSession, sfDir: String,
      storePath: String): DataFrame =
    Pipeline.clsGated(Pipeline.corpusPass(spark, sfDir).cache(),
      weights(spark, storePath))

  /** The classifier-GATED funnel staging with the PERSISTED model —
    * deployed pl23 (tail ⇒ quality-fail at stage 0, head/middle pass
    * to exact dedup / guarded fuzzy dedup / decontamination): the
    * per-document (doc_id, lang, stage) frame a training pipeline
    * consumes (stage 4 = clean survivor feeds shard assembly; stage 3
    * is the eval-CONTAMINATED bucket and must never ship). No training
    * jobs — scoring is one projection against the stored 273-row
    * weight table. */
  def gatedStaging(spark: SparkSession, sfDir: String,
      storePath: String): DataFrame =
    Pipeline.funnelStages(spark, gated(spark, sfDir, storePath), col("gate"))

  /** pl23's per-language attrition report off the PERSISTED model —
    * the SAME [[graft.queries.Pipeline.gatedFunnelReport]] builder the
    * registered query runs, minus the in-query training
    * (QualityModelSpec pins bit-equality against pl23 after a same-
    * corpus fit). */
  def gatedReport(spark: SparkSession, sfDir: String,
      storePath: String): DataFrame =
    Pipeline.gatedFunnelReport(spark, gated(spark, sfDir, storePath))

  /** Operator-facing manifest facts. */
  case class Health(generation: Long, dim: Int, trainedOn: Option[String])

  def describe(spark: SparkSession, storePath: String): Health = {
    val man = StoreCommit.read(storePath, Version)
    Health(
      generation = StoreCommit.generation(man),
      dim = man.flatMap(_.get("dim")).map(_.toInt).getOrElse(0),
      trainedOn = man.flatMap(_.get("trained_on")))
  }
}
