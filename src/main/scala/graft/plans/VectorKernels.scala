package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native loops over `array<float>|array<double>` embedding columns,
  * one method per kernel (see [[Kernel]] for the pattern). Every
  * element is read as a double and accumulated left-to-right, so each
  * loop is bit-identical to its composed `zip_with`+`aggregate` form
  * and to the DuckDB `list_*` rendering the oracle compares against.
  * `xFloat`/`yFloat` select `getFloat` over `getDouble` per input; the
  * choice is fixed per expression, so the branch is loop-invariant. */
object VectorKernels {

  private def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Cosine similarity; NULL on a length mismatch, a null element or a
    * zero norm — the composed [[graft.functions.VectorOps.cosineSimilarity]]
    * null-poisons its aggregates on the first two and guards the third.
    * A truncated embedding must not silently score against a prefix. */
  def cosine(xs: ArrayData, ys: ArrayData, xFloat: Boolean,
      yFloat: Boolean): java.lang.Double = {
    val n = xs.numElements()
    if (ys.numElements() != n) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      val x = elem(xs, i, xFloat)
      val y = elem(ys, i, yFloat)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }

  /** Squared euclidean distance; NULL on a length mismatch or a null
    * element (the composed [[graft.functions.VectorOps.squaredL2Distance]]
    * form — a prefix-only distance is silently wrong). */
  def squaredL2(xs: ArrayData, ys: ArrayData, xFloat: Boolean,
      yFloat: Boolean): java.lang.Double = {
    val n = xs.numElements()
    if (ys.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      val d = elem(xs, i, xFloat) - elem(ys, i, yFloat)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Whether the first `dim` elements exist and are non-null — the
    * SQL renderings index exactly `dim` elements, so anything else
    * makes every dot product NULL there. */
  private def fullPrefix(xs: ArrayData, dim: Int): Boolean = {
    if (xs.numElements() < dim) return false
    var i = 0
    while (i < dim) {
      if (xs.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** Dot product of the first `dim` elements with row `row` of the
    * flattened [row * dim + i] coefficient table. */
  private def dotRow(xs: ArrayData, isFloat: Boolean, coefs: Array[Double],
      row: Int, dim: Int): Double = {
    var dot = 0.0
    val base = row * dim
    var i = 0
    while (i < dim) {
      dot += elem(xs, i, isFloat) * coefs(base + i)
      i += 1
    }
    dot
  }

  /** Random-hyperplane bucket: bit p is set iff the dot with plane p is
    * `>= 0`. A short or null-element vector is bucket 0 — every plane's
    * dot is NULL in [[graft.functions.VectorOps.hyperplaneBucketSql]]
    * and every CASE there emits 0. */
  def hyperplaneBucket(xs: ArrayData, isFloat: Boolean, dim: Int,
      nPlanes: Int, planes: KernelTable[Array[Double]]): Long = {
    if (!fullPrefix(xs, dim)) return 0L
    val coefs = planes.values
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      if (dotRow(xs, isFloat, coefs, p, dim) >= 0.0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** Johnson-Lindenstrauss projection onto the table's rows. A short or
    * null-element vector projects to NULL — the CASE guard of
    * [[graft.functions.VectorOps.randomProjectionSql]]. */
  def randomProject(xs: ArrayData, isFloat: Boolean, dim: Int, k: Int,
      planes: KernelTable[Array[Double]]): ArrayData = {
    if (!fullPrefix(xs, dim)) return null
    val coefs = planes.values
    val out = new Array[Double](k)
    var j = 0
    while (j < out.length) {
      out(j) = dotRow(xs, isFloat, coefs, j, dim)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** The flattened [row * dim + i] splitmix coefficient table shared by
    * the LSH planes and the random projection
    * ([[graft.functions.VectorOps.planeCoef]]). Computed once on the
    * driver and passed as ONE table argument, never as rows × dim
    * literal nodes: the generated code stays a short call and compiles
    * in milliseconds. */
  private[plans] def planeTable(rows: Int, dim: Int, seed: Long): Array[Double] =
    Array.tabulate(rows * dim)(k =>
      graft.functions.VectorOps.planeCoef(k / dim, k % dim, seed))

  private[plans] def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private[plans] def check(fn: String, inputs: Expression*): TypeCheckResult = {
    val ok = inputs.forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn expects array<float>|array<double>" +
        s"${if (inputs.length > 1) " inputs" else ""}, got " +
        inputs.map(_.dataType.catalogString).mkString(", "))
  }
}

/** Cosine similarity of two embedding columns — the hot-path scoring
  * primitive of the semantic lane and the dedup/ANN passes (reference:
  * the scalar loop at crates/mnemo-core/src/query/reflection.rs:361-378).
  * One fused loop with three scalar accumulators, where
  * [[graft.functions.VectorOps.cosineSimilarity]] builds two
  * intermediate arrays and runs three aggregates per row. See
  * [[VectorKernels.cosine]]. */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {
  override def checkInputDataTypes(): TypeCheckResult =
    VectorKernels.check(prettyName, left, right)
  override lazy val replacement: Expression =
    Kernel.invoke(VectorKernels, "cosine", DoubleType,
      Seq(left, right, Literal(VectorKernels.isFloat(left)),
        Literal(VectorKernels.isFloat(right))), returnsNull = true)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarityExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "cosine_sim"
}

/** Squared euclidean distance of two embedding columns — the
  * assignment/ADC primitive of the product-quantization path
  * (reference trains/scans flat codebooks in
  * crates/mnemo-core/src/index/usearch.rs:66-360). One fused loop with
  * one accumulator, where [[graft.functions.VectorOps.squaredL2Distance]]
  * builds an intermediate difference array per row. See
  * [[VectorKernels.squaredL2]]. */
case class SquaredL2DistanceExpr(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {
  override def checkInputDataTypes(): TypeCheckResult =
    VectorKernels.check(prettyName, left, right)
  override lazy val replacement: Expression =
    Kernel.invoke(VectorKernels, "squaredL2", DoubleType,
      Seq(left, right, Literal(VectorKernels.isFloat(left)),
        Literal(VectorKernels.isFloat(right))), returnsNull = true)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredL2DistanceExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "squared_l2"
}

/** Random-hyperplane LSH bucket id: the sign bits of `nPlanes` dot
  * products against deterministic splitmix-derived hyperplanes — the
  * ANN pre-partitioning primitive of the dedup and k-NN lanes
  * (reference usage pattern: crates/mnemo-core/src/index/usearch.rs
  * :66-360 coarse partitioning). Bit-identical to
  * [[graft.functions.VectorOps.hyperplaneBucketSql]]: same
  * coefficients, same accumulation order, same `>= 0` test, same
  * degenerate-input bucket. See [[VectorKernels.hyperplaneBucket]]. */
case class HyperplaneBucketExpr(child: Expression, dim: Int, nPlanes: Int, seed: Long)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  // the bucket id is one sign bit per plane in a 64-bit long; plane 64
  // would be `1L << 64 == 1L`, silently XOR-colliding with plane 0
  require(nPlanes >= 1 && nPlanes <= 63,
    s"hyperplane_bucket supports 1..63 planes (long bucket id), got $nPlanes")

  override def checkInputDataTypes(): TypeCheckResult =
    VectorKernels.check(prettyName, child)
  override lazy val replacement: Expression =
    Kernel.invoke(VectorKernels, "hyperplaneBucket", LongType,
      Seq(child, Literal(VectorKernels.isFloat(child)), Literal(dim),
        Literal(nPlanes),
        Kernel.table(VectorKernels.planeTable(nPlanes, dim, seed))))
  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucketExpr =
    copy(child = newChild)
  override def prettyName: String = "hyperplane_bucket"
}

/** Johnson-Lindenstrauss random projection `dim` → `k` through the
  * splitmix coefficient family shared with the LSH buckets — the cheap
  * dimensionality-reduction step an embedding pipeline runs before ANN
  * indexing or near-dup blocking (the same coarse-geometry role as the
  * reference's index partitioning,
  * crates/mnemo-core/src/index/usearch.rs:66-360). Bit-identical to
  * [[graft.functions.VectorOps.randomProjectionSql]], NULL included.
  * See [[VectorKernels.randomProject]]. */
case class RandomProjectionExpr(child: Expression, dim: Int, k: Int, seed: Long)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override def checkInputDataTypes(): TypeCheckResult =
    VectorKernels.check(prettyName, child)
  override lazy val replacement: Expression =
    Kernel.invoke(VectorKernels, "randomProject",
      ArrayType(DoubleType, containsNull = false),
      Seq(child, Literal(VectorKernels.isFloat(child)), Literal(dim),
        Literal(k), Kernel.table(VectorKernels.planeTable(k, dim, seed))),
      returnsNull = true)
  override protected def withNewChildInternal(newChild: Expression): RandomProjectionExpr =
    copy(child = newChild)
  override def prettyName: String = "random_project"
}
