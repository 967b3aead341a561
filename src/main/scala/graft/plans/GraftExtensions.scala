package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering graft's native expressions with Spark
  * SQL, so `SELECT cosine_sim(a, b)` works from any SQL surface:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)        // programmatic
  * // or: --conf spark.sql.extensions=graft.plans.GraftExtensions
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.Functions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), f.build _))
    }
}

object GraftExtensions {

  /** One SQL function: its name, the expression class it builds, the
    * accepted argument count `lo..hi`, and the builder. */
  private final class SqlFunction(val name: String, val cls: Class[_],
      lo: Int, hi: Int, make: Args => Expression) {
    // arity gate: a wrong argument count should read as a usage error,
    // not an IndexOutOfBounds from children(i) — and extra args must
    // not be silently dropped
    def build(children: Seq[Expression]): Expression = {
      if (children.length < lo || children.length > hi)
        throw new IllegalArgumentException(
          s"$name expects ${if (lo == hi) s"$lo" else s"$lo to $hi"} argument(s), " +
            s"got ${children.length}")
      make(new Args(name, children))
    }
  }

  /** The arguments of one call to SQL function `fn`. */
  private final class Args(fn: String, children: Seq[Expression]) {
    def apply(i: Int): Expression = children(i)

    /** Literal int argument `i`, or `default` when it is absent.
      * Foldability gate BEFORE eval: an attribute reference would
      * otherwise throw an unbound-reference internal error instead of
      * the usage message (and a NULL literal folds to null, which is
      * equally unusable as a dimension). */
    def long(i: Int, default: Long = 0L): Long =
      if (i >= children.length) default
      else {
        val e = children(i)
        if (!e.foldable) throw new IllegalArgumentException(
          s"$fn expects literal int args, got non-literal $e")
        e.eval(null) match {
          case n: Number => n.longValue()
          case other => throw new IllegalArgumentException(
            s"$fn expects literal int args, got $other")
        }
      }

    def int(i: Int, default: Int = 0): Int = long(i, default).toInt
  }

  private val Functions = Seq(
    new SqlFunction("cosine_sim", classOf[CosineSimilarityExpr], 2, 2,
      a => CosineSimilarityExpr(a(0), a(1))),
    new SqlFunction("squared_l2", classOf[SquaredL2DistanceExpr], 2, 2,
      a => SquaredL2DistanceExpr(a(0), a(1))),
    new SqlFunction("char_trigram_counts", classOf[CharTrigramCountsExpr], 1, 1,
      a => CharTrigramCountsExpr(a(0))),
    new SqlFunction("random_project", classOf[RandomProjectionExpr], 3, 4,
      a => RandomProjectionExpr(a(0), a.int(1), a.int(2), a.long(3, 42L))),
    new SqlFunction("hash_embedding", classOf[HashEmbeddingExpr], 1, 2,
      a => HashEmbeddingExpr(a(0), a.int(1, 64))),
    new SqlFunction("hyperplane_bucket", classOf[HyperplaneBucketExpr], 3, 4,
      a => HyperplaneBucketExpr(a(0), a.int(1), a.int(2), a.long(3, 42L))))
}
