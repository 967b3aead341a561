package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Coalesce, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** The one native-kernel pattern of this package. Every kernel is a
  * case class extending `RuntimeReplaceable`: it carries the public
  * name, the constructor parameters and the input-type check, and its
  * `replacement` is a `StaticInvoke` of ONE Scala method holding the
  * per-row loop. The optimizer swaps the replacement in, and Spark
  * generates the call for whole-stage codegen and evaluates it
  * reflectively on the interpreted path — so the loop exists exactly
  * once and both paths run it.
  *
  * A kernel method returns the Catalyst Java type of its result
  * (`ArrayData`, `InternalRow`, `MapData`, `Decimal`, a primitive, or a
  * boxed primitive when the result may be NULL): the generated code
  * assigns the result without a cast. */
private[plans] object Kernel {

  /** `host.fn(args)`; a NULL argument yields NULL without a call. Set
    * `returnsNull` when the method itself may return null. */
  def invoke(host: AnyRef, fn: String, dataType: DataType,
      args: Seq[Expression], returnsNull: Boolean = false): Expression =
    StaticInvoke(host.getClass, dataType, fn, args,
      returnNullable = returnsNull)

  /** A constant table, passed to the kernel method as a [[KernelTable]]
    * literal. */
  def table(values: AnyRef): Literal = Literal.fromObject(new KernelTable(values))

  /** `e`, or the constant `default` where `e` is NULL. */
  def orElse(e: Expression, default: Any): Expression =
    Coalesce(Seq(e, Literal(default, e.dataType)))

  /** `e`, or the empty array of its type where `e` is NULL. */
  def orEmpty(e: Expression): Expression =
    orElse(e, new GenericArrayData(Array.empty[Any]))
}

/** A constant table a kernel reads (MinHash or plane coefficients, a
  * stop list, a weight table). It compares by VALUE — a bare array
  * literal compares by reference — so two independently built copies
  * of a kernel stay equal after canonicalization, and exchange reuse
  * and subexpression elimination see them as the same expression. */
final class KernelTable[A <: AnyRef](val values: A) extends Serializable {
  @transient private lazy val hash =
    java.util.Arrays.deepHashCode(Array[AnyRef](values))
  override def equals(o: Any): Boolean = o match {
    case t: KernelTable[_] => java.util.Objects.deepEquals(values, t.values)
    case _ => false
  }
  override def hashCode: Int = hash
  override def toString: String = s"table#${Integer.toHexString(hash)}"
}

private[plans] trait StringArrayInput extends UnaryLike[Expression] {
  self: Expression =>
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string> input, got ${other.catalogString}")
  }
}
