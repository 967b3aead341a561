package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native exact-decimal weighted lookup-sum over an `array<bigint>` of
  * bucket ids against an expression-embedded dense weight table —
  * Σ weights(b) for every in-range element b, as DECIMAL(23,9).
  *
  * This is the hot-path margin kernel of the trained quality
  * classifier ([[graft.queries.Pipeline]]'s `clsMarginFold`): the
  * weight table is dimension-bounded (ClsDim = 273 rows) and driver
  * held, so it embeds HERE as a plain array rather than entering the
  * plan as a broadcast join (which re-exchanged every scored document
  * at scale) or as a higher-order `aggregate` fold (which Spark
  * evaluates as an interpreted CodegenFallback lambda per element —
  * measured 20-40% SLOWER than the join it replaced). One static
  * call per row, one primitive loop per call (see [[Kernel]]).
  *
  * EXACTNESS CONTRACT (must stay bit-equal to both the former
  * broadcast-join Σ(w_b·x) margins and the DuckDB oracle): every
  * weight is a scale-9 decimal, so the sum of any subset is exact at
  * scale 9 and order-independent. The fast path accumulates UNSCALED
  * scale-9 longs (taken only when every |unscaled| < 2^53, so ~2^10
  * additions cannot overflow; `Math.addExact` guards the theoretical
  * remainder and falls back to the BigDecimal recompute of the same
  * row — same exact value either way). Out-of-range bucket ids and
  * NULL elements contribute 0, mirroring the join form dropping the
  * term and the fold form's null→0 coalesce; missing table rows are
  * the caller's explicit 0 slots. NULL input array → NULL (the fold's
  * semantics).
  *
  * NOT registered in [[GraftExtensions]]: the weight table is a
  * driver-side artifact of the training run, not a SQL-expressible
  * argument, so there is no sensible SQL surface for this expression.
  */
case class WeightedBucketSumExpr(child: Expression,
    weights: IndexedSeq[java.math.BigDecimal])
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"weighted_bucket_sum expects array<bigint> input, got " +
        s"${other.catalogString}")
  }

  // setScale(9) with no rounding mode: a weight that is not exactly
  // representable at scale 9 must FAIL LOUDLY, not silently round —
  // the table's type contract is decimal(20,9). The fast or exact path
  // is chosen here, once per expression.
  override lazy val replacement: Expression = {
    val scaled = weights.map(_.setScale(9)).toArray
    val (fn, table) =
      if (scaled.forall(_.unscaledValue().bitLength() <= 53))
        ("sumUnscaled", scaled.map(_.unscaledValue().longValueExact()))
      else ("sumBig", scaled)
    Kernel.invoke(WeightedBucketSumExpr, fn, DecimalType(23, 9),
      Seq(child, Kernel.table(table)))
  }

  override protected def withNewChildInternal(
      newChild: Expression): WeightedBucketSumExpr = copy(child = newChild)

  override def prettyName: String = "weighted_bucket_sum"
}

object WeightedBucketSumExpr {
  /** Fast path: unscaled scale-9 long accumulation. */
  def sumUnscaled(arr: ArrayData, table: KernelTable[Array[Long]]): Decimal = {
    val w = table.values
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    try {
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val b = arr.getLong(i)
          if (b >= 0L && b < w.length) acc = Math.addExact(acc, w(b.toInt))
        }
        i += 1
      }
      Decimal(acc, 23, 9)
    } catch {
      // theoretical overflow tail (needs ~2^10 near-2^53 weights in one
      // row): recompute the row exactly — identical value, wider type
      case _: ArithmeticException =>
        sumBig(arr, new KernelTable(w.map(java.math.BigDecimal.valueOf(_, 9))))
    }
  }

  /** Exact path for weight tables whose unscaled values exceed 2^53
    * (the decimal(20,9) type admits them even though trained weights
    * never reach it). */
  def sumBig(arr: ArrayData, table: KernelTable[Array[java.math.BigDecimal]]): Decimal = {
    val w = table.values
    val n = arr.numElements()
    var bd = java.math.BigDecimal.ZERO
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val b = arr.getLong(i)
        if (b >= 0L && b < w.length) bd = bd.add(w(b.toInt))
      }
      i += 1
    }
    Decimal(BigDecimal(bd), 23, 9)
  }
}
