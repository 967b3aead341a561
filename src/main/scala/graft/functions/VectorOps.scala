package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType` embedding columns, composed from the
  * codegen'd higher-order functions (`zip_with`/`aggregate`) so the hot
  * path stays inside whole-stage codegen — no UDFs.
  *
  * Capability parity: cosine similarity is the scoring primitive of the
  * reference's semantic lane and dedup/conflict passes
  * (reference: crates/mnemo-core/src/query/reflection.rs:361-378).
  *
  * All arithmetic is forced to DOUBLE before accumulating: the stored
  * embeddings are float32, and accumulating in float32 would both lose
  * precision and diverge from any SQL oracle computing in double.
  */
object VectorOps {

  /** Element-wise dot product, accumulated left-to-right in double. */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** L2 norm. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine similarity in [-1, 1]; null-safe on empty/zero vectors
    * (returns null rather than NaN so filters drop it cleanly). */
  def cosineSimilarity(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom =!= 0.0, dotProduct(a, b) / denom)
  }

  /** Same semantics and bit-identical result as [[cosineSimilarity]],
    * computed by the fused codegen'd native expression
    * [[graft.plans.CosineSimilarityExpr]] — one loop, no intermediate
    * arrays; the hot-path choice for pairwise/k-NN scans. */
  def cosineFast(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.CosineSimilarityExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Squared euclidean distance. */
  def squaredL2Distance(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0),
      (acc, x) => acc + x)

  /** Same semantics and bit-identical result as [[squaredL2Distance]],
    * computed by the fused codegen'd native expression
    * [[graft.plans.SquaredL2DistanceExpr]] — one loop, no intermediate
    * arrays; the hot-path choice for PQ encode/ADC scans. */
  def squaredL2Fast(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.SquaredL2DistanceExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Per-dimension z-score distance against a broadcast (mu, sigma^2)
    * baseline: sqrt(mean((x - mu)^2 / max(var, eps))) — the reference's
    * embedding-outlier metric (anomaly/outlier.rs:60-102). */
  def zScoreDistance(x: Column, mu: Column, varDiag: Column, eps: Double = 1e-6): Column = {
    val terms = zip_with(
      zip_with(x, mu, (a, b) => a.cast("double") - b.cast("double")),
      varDiag,
      (d, v) => d * d / greatest(v.cast("double"), lit(eps)))
    // size guard: ANSI mode (Spark 4 default) turns the empty-vector
    // division into a DIVIDE_BY_ZERO error instead of null
    when(size(x) > 0,
      sqrt(aggregate(terms, lit(0.0), (acc, t) => acc + t) / size(x)))
  }

  /** The splitmix64 finalizer (public-domain constants) — THE one
    * implementation; [[planeCoef]] and [[MinHash]] both derive from it
    * so the mix constants can never desynchronize. */
  private[functions] def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** splitmix64 finalizer over (seed, plane, dim index) -> [-1, 1).
    * Driver-side and pure, so the exact same literal coefficients can be
    * embedded in an external SQL oracle (see [[hyperplaneBucketSql]]).
    * (Arithmetically identical to the pre-refactor inline form: the
    * finalizer adds one golden-ratio increment, so the `+ 1L` moved out
    * of the multiplier.) */
  def planeCoef(p: Int, i: Int, seed: Long = 42L): Double = {
    val z = splitmix64(seed + 0x9e3779b97f4a7c15L * (p.toLong * 131071L + i.toLong))
    z.toDouble / Long.MaxValue.toDouble
  }

  /** Deterministic random-hyperplane bucket id for LSH-style ANN
    * pre-partitioning: sign bits of dot products against `nPlanes`
    * pseudo-random unit-free hyperplanes derived from a seed. The planes
    * are generated per-dimension with a splitmix-style integer hash, so
    * the bucketing is reproducible with zero data movement. */
  def hyperplaneBucket(vec: Column, dim: Int, nPlanes: Int, seed: Long = 42L): Column = {
    // native codegen'd loop (graft.plans.HyperplaneBucketExpr): the
    // coefficient table rides along as ONE object reference instead of
    // nPlanes×dim literal nodes, so plan compile time stays milliseconds
    // and the loop stays inside whole-stage codegen. Accumulation is the
    // same left-to-right double order as the SQL chain, so bucket ids are
    // bit-identical to hyperplaneBucketSql.
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.HyperplaneBucketExpr(
      ColumnBridge.expression(vec), dim, nPlanes, seed)).as("bucket")
  }

  /** ANSI-SQL rendering of [[hyperplaneBucket]] over a DOUBLE[] column
    * named `vecVar` (1-indexed): identical literal coefficients and the
    * same left-to-right accumulation order, so both engines compute
    * bit-identical dot products and therefore identical bucket ids. */
  def hyperplaneBucketSql(vecVar: String, dim: Int, nPlanes: Int, seed: Long = 42L): String =
    (0 until nPlanes).map { p =>
      val dot = (0 until dim)
        .map(i => s"$vecVar[${i + 1}] * ${planeCoef(p, i, seed)}")
        .mkString(" + ")
      s"(CASE WHEN ($dot) >= 0.0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Johnson-Lindenstrauss random projection dim -> k via the fused
    * codegen'd native expression [[graft.plans.RandomProjectionExpr]]
    * (same splitmix coefficient family as the LSH planes). Bit-identical
    * to [[randomProjectionSql]]. */
  def randomProjection(vec: Column, dim: Int, k: Int, seed: Long = 42L): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.RandomProjectionExpr(
      ColumnBridge.expression(vec), dim, k, seed))
  }

  /** ANSI-SQL rendering of [[randomProjection]] over a DOUBLE[] column
    * named `vecVar` (1-indexed): identical literal coefficients, same
    * left-to-right accumulation, same degenerate semantics (NULL on a
    * short vector or a null element among the first `dim` — elements
    * past `dim` are never inspected, matching the native expression). */
  def randomProjectionSql(vecVar: String, dim: Int, k: Int, seed: Long = 42L): String = {
    val comps = (0 until k).map { j =>
      (0 until dim).map(i => s"$vecVar[${i + 1}] * ${planeCoef(j, i, seed)}")
        .mkString(" + ")
    }.mkString("[", ", ", "]")
    s"""(CASE WHEN len($vecVar) >= $dim
        |       AND len(list_filter($vecVar[1:$dim], x -> x IS NULL)) = 0
        |  THEN $comps ELSE NULL END)""".stripMargin
  }
}
