package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.MapType
import org.apache.spark.storage.StorageLevel

import graft.api.Mnemo
import graft.functions.{DedupEnrich, MinHash, TextOps, VectorOps}
import graft.multimodal.MediaPipeline
import graft.plans._

/** Direct measurements of the native kernels (`graft.plans` through the
  * `graft.functions` column builders) and of `graft.multimodal`, made in
  * the traced run after the passes. */
object Layers {

  /** Rows each kernel projection runs over: the generated documents (or
    * embeddings) replicated up to this count and held in memory. */
  val KernelRows = 20000
  private val Reps = 2

  private def expr(c: Column) = ColumnBridge.expression(c)
  private def column(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    ColumnBridge.column(e)

  private val clsBuckets = column(ClsBucketsExpr(expr(col("toks")), 256, 256L, 257L))
  private val weights = IndexedSeq.tabulate(273)(i =>
    new java.math.BigDecimal(((i * 37) % 101 - 50) / 100.0).setScale(9,
      java.math.RoundingMode.HALF_EVEN))

  /** (name, input, projection to column `k`). Text kernels read `toks`
    * (or `text`), vector kernels read `v` and `w`; the shingle sets feed
    * `minhash_band_keys` as `sh`, and `cls_buckets` output feeds
    * `weighted_bucket_sum` as `b`. */
  private def kernels: Seq[(String, String, DataFrame => DataFrame)] = {
    def proj(c: Column): DataFrame => DataFrame = _.select(c.as("k"))
    Seq(
      ("shingle_set", "text", proj(DedupEnrich.shingleSetFromToks(col("toks")))),
      ("minhash_band_keys", "shingles",
        df => DedupEnrich.withBandKeys(df, "sh", "k").select("k")),
      ("hashed_ngrams", "text", proj(TextOps.hashedNgrams(col("toks"), 2))),
      ("cls_buckets", "text", proj(clsBuckets)),
      ("simhash16", "text", proj(MinHash.simhash16(col("toks")))),
      ("token_stats", "text", proj(column(TokenStatsExpr(expr(col("toks")),
        IndexedSeq("the", "a"))))),
      ("remove_spans", "text", proj(column(RemoveSpansExpr(expr(col("toks")),
        expr(array(lit(0), lit(20))), DedupEnrich.WindowW)))),
      ("weighted_bucket_sum", "buckets",
        proj(column(WeightedBucketSumExpr(expr(col("b")), weights)))),
      ("cosine_sim", "vectors", proj(VectorOps.cosineFast(col("v"), col("w")))),
      ("squared_l2", "vectors", proj(VectorOps.squaredL2Fast(col("v"), col("w")))),
      ("hyperplane_bucket", "vectors", proj(VectorOps.hyperplaneBucket(col("v"), 64, 16))),
      ("random_project", "vectors", proj(VectorOps.randomProjection(col("v"), 64, 16))),
      ("char_trigram_counts", "text", proj(TextOps.charTrigramCounts(col("text")))),
      ("hash_embedding", "text", proj(Mnemo.hashEmbedding(col("text")))))
  }

  private def timeMs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
  }

  /** Checksum of column `k`; a map is hashed through its entries. */
  private def checksum(df: DataFrame): Unit = {
    val k = df.schema("k").dataType match {
      case _: MapType => map_entries(col("k"))
      case _ => col("k")
    }
    df.agg(bit_xor(xxhash64(k))).collect()
  }

  /** `kernel.<name>.ns_per_row`: best-of-Reps time of a checksum over the
    * kernel's projection, minus a baseline checksum over the size of the
    * kernel's input column (which reads the same cached input), per row. */
  def kernelMetrics(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val docs = spark.read.parquet(s"${ctx.data}/documents.parquet")
    val nDocs = docs.count()
    def replicate(df: DataFrame, n: Long): DataFrame =
      df.crossJoin(spark.range(math.max(KernelRows / math.max(n, 1L), 1L)).select())
    val text = replicate(docs.select(col("text")), nDocs)
      .select(col("text"), TextOps.tokens(col("text")).as("toks"))
      .persist(StorageLevel.MEMORY_ONLY)
    val shingles = text.select(DedupEnrich.shingleSetFromToks(col("toks")).as("sh"))
      .persist(StorageLevel.MEMORY_ONLY)
    val buckets = text.select(clsBuckets.as("b")).persist(StorageLevel.MEMORY_ONLY)
    val emb = spark.read.parquet(s"${ctx.data}/embeddings.parquet")
    val vectors = replicate(emb.select(col("embedding").as("v"),
        reverse(col("embedding")).as("w")), emb.count())
      .persist(StorageLevel.MEMORY_ONLY)
    val inputs = Map("text" -> text, "shingles" -> shingles,
      "buckets" -> buckets, "vectors" -> vectors)
    val baseCol = Map("text" -> size(col("toks")), "shingles" -> size(col("sh")),
      "buckets" -> size(col("b")), "vectors" -> size(col("v")))
    val rows = inputs.map { case (k, df) => k -> df.count() }
    def best(df: DataFrame): Double = (1 to Reps).map(_ => timeMs(checksum(df))).min
    val base = inputs.map { case (k, df) =>
      k -> ctx.span(s"baseline $k", "kernel")(best(df.select(baseCol(k).as("k")))) }
    val out = kernels.flatMap { case (name, in, f) =>
      ctx.attempt(s"kernel $name") {
        val ms = ctx.span(name, "kernel")(best(f(inputs(in))))
        s"kernel.$name.ns_per_row" -> math.max(ms - base(in), 0.0) * 1e6 / rows(in)
      }
    }.toMap
    inputs.values.foreach(_.unpersist())
    out
  }

  /** `media.*_ms`: one checksum-forced call of each MediaPipeline entry
    * point over the generated documents. */
  def mediaMetrics(ctx: Ctx): Map[String, Double] = {
    def forced(df: DataFrame): Unit =
      df.agg(bit_xor(xxhash64(df.columns.toIndexedSeq.map(col): _*))).collect()
    val media = MediaPipeline.syntheticMedia(ctx.spark, ctx.data)
    Seq[(String, () => DataFrame)](
      "synthetic" -> (() => media.toDF()),
      "perceptual_hash" -> (() => MediaPipeline.perceptualHash(media).toDF()),
      "sample_frames" -> (() => MediaPipeline.sampleFrames(media).toDF()),
      "frame_hashes" -> (() => MediaPipeline.frameHashes(media).toDF()))
      .flatMap { case (name, f) =>
        ctx.attempt(s"media $name") {
          s"media.${name}_ms" -> ctx.span(name, "media")(timeMs(forced(f())))
        }
      }.toMap
  }
}
