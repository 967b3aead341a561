package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.api.Mnemo.EmbeddingDim
import graft.functions.{MinHash, TextOps}
import graft.functions.DedupEnrich.{NHashes, RowsPerBand, ShingleK, WindowW}
import graft.queries.Pipeline.{ClsBias, ClsD, ClsLenBase}

/** The higher-order-function compositions the native kernels of
  * [[graft.plans]] replaced, kept as the equality REFERENCES that
  * NativeKernelsSpec and FunctionsSpec pin each kernel against: the
  * DuckDB oracle SQL mirrors these constructions, so a kernel that
  * drifts from them by one bit desynchronizes every consuming query. */
object ComposedRefs {

  /** Reference for [[graft.functions.DedupEnrich.shingleSetFromToks]]. */
  def shingleSetFromToksComposed(toks: Column): Column =
    array_distinct(TextOps.shingles(toks, ShingleK))

  /** Reference for
    * [[graft.functions.DedupEnrich.windowOccurrencesFromToks]] (the
    * d9/d14 oracle SQL mirrors THIS construction). */
  def windowOccurrencesFromToksComposed(toks: Column): Column =
    when(size(toks) >= WindowW,
      transform(sequence(lit(0), size(toks) - WindowW), i =>
        struct((i + 1).as("pos"),
          md5(concat_ws(" ",
            (0 until WindowW).map(j => element_at(toks, i + j + 1)): _*))
            .as("h"))))
      .otherwise(array().cast("array<struct<pos:int,h:string>>"))

  /** Reference for [[graft.functions.DedupEnrich.windowHashesFromToks]]. */
  def windowHashesFromToksComposed(toks: Column): Column =
    array_distinct(transform(windowOccurrencesFromToksComposed(toks),
      x => x.getField("h")))

  /** Reference for [[graft.functions.DedupEnrich.withBandKeys]] (the
    * oracle SQL mirrors THIS fingerprints → signature → band-keys
    * chain). */
  def withBandKeysComposed(df: DataFrame, shCol: String,
      out: String = "bands"): DataFrame =
    df.withColumn("_de_fpr", MinHash.shingleFingerprints(col(shCol)))
      .withColumn("_de_sig", MinHash.signature(col("_de_fpr"), NHashes))
      .withColumn(out,
        when(element_at(col("_de_sig"), 1).isNotNull,
          MinHash.bandKeys(col("_de_sig"), NHashes, RowsPerBand))
          .otherwise(array().cast("array<string>")))
      .drop("_de_fpr", "_de_sig")

  /** Reference for [[graft.functions.TextOps.hashedNgrams]]. */
  def hashedNgramsComposed(toks: Column, k: Int): Column =
    array_distinct(transform(TextOps.ngrams(toks, k),
      g => conv(substring(md5(g), 1, 15), 16, 10).cast("long")))

  /** Reference for [[graft.functions.MinHash.simhash16]]. */
  def simhash16Composed(toks: Column): Column = {
    val xs = transform(toks, t => conv(substring(md5(t), 1, 4), 16, 10).cast("long"))
    val positions = sequence(lit(0), lit(15))
    val sums = aggregate(xs, array_repeat(lit(0L), 16), (acc, x) =>
      zip_with(acc, transform(positions, p =>
        floor(x / pow(lit(2.0), p)).cast("long") % 2 * 2 - 1), (a, b) => a + b))
    val bitVals = zip_with(sums, positions, (s, p) =>
      when(s > 0, pow(lit(2.0), p).cast("long")).otherwise(lit(0L)))
    aggregate(bitVals, lit(0L), (acc, v) => acc + v)
  }

  /** Reference for [[graft.queries.Pipeline.clsBuckets]] (its
    * `clsBucketsSql` mirrors THIS construction). */
  def clsBucketsComposed(toks: Column): Column =
    concat(
      array_distinct(transform(toks, t =>
        conv(substring(md5(t), 1, 15), 16, 10).cast("long") % ClsD)),
      array(lit(ClsBias.toLong),
        lit(ClsLenBase.toLong) +
          least(lit(15L), floor(size(toks) / lit(16)).cast("long"))))

  /** Reference for [[graft.api.Mnemo.hashEmbedding]], composed from
    * column expressions only. */
  def hashEmbeddingComposed(text: Column, dim: Int = EmbeddingDim): Column = {
    val toks = TextOps.tokens(text)
    // per-token: dim index from first 4 md5 hex chars, sign from the 5th
    val hx = transform(toks, t => substring(md5(t), 1, 5))
    // ONE fold over the token array updating a dim-length accumulator:
    // md5 is computed once per token, where a per-dimension aggregate
    // would re-evaluate the hashed array dim times (O(dim·T) md5 calls —
    // the lambda-argument re-evaluation trap). Per dimension the
    // additions still occur in token order, and ±1.0 sums are exact in
    // double, so the output is bit-identical to the per-dim fold.
    val raw = aggregate(hx, array_repeat(lit(0.0), dim), (acc, h) => {
      val idx = conv(substring(h, 1, 4), 16, 10).cast("long") % dim
      val sign = when(conv(substring(h, 5, 1), 16, 10).cast("long") % 2 === 0, 1.0)
        .otherwise(-1.0)
      transform(acc, (a, d) => a + when(idx === d.cast("long"), sign).otherwise(0.0))
    })
    val norm = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
    when(norm > 0, transform(raw, x => (x / norm).cast("float")))
      .otherwise(transform(raw, x => x.cast("float")))
  }
}
