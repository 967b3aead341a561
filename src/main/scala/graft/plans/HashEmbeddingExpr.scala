package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native deterministic hash embedding over a TOKEN ARRAY —
  * the ingest-path primitive behind every remember() (the reference's
  * offline embedder, embedding/mod.rs:68-110): each token hashes to a
  * dimension (first 4 md5 hex chars mod dim) and a sign (parity of the
  * 5th), the vector is the signed token-count profile, L2-normalized.
  *
  * Takes the token array, not the raw string, so tokenization stays on
  * Spark's own `lower`/`split`/`filter` expressions — this expression
  * can never diverge from the composed version on tokenizer semantics.
  *
  * Versus the `aggregate`-over-`transform` composition it replaced
  * (kept as the test-side equality reference), this is one fused loop
  * with a primitive accumulator: one MessageDigest call per token and
  * ZERO intermediate arrays, where the Column version materializes a
  * new dim-length array per token fold step. Bit-identical output: the
  * per-dimension sums are exact (±1.0 in double), the norm is a sum of
  * exact squares, and the divide-then-float-cast order matches.
  */
case class HashEmbeddingExpr(child: Expression, dim: Int)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"hash_embedding expects array<string> tokens, got ${dt.catalogString}")
  }

  override lazy val replacement: Expression =
    Kernel.invoke(HashEmbeddingExpr, "embed",
      ArrayType(FloatType, containsNull = false), Seq(child, Literal(dim)))

  override protected def withNewChildInternal(newChild: Expression): HashEmbeddingExpr =
    copy(child = newChild)

  override def prettyName: String = "hash_embedding"
}

object HashEmbeddingExpr {

  private val digestTL: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** The signed token-count profile (one md5 per token, in-place adds),
    * L2-normalized into float32; the zero vector passes through. A null
    * token is a no-op, matching the composed version (md5(null) is null
    * there, contributing nothing). */
  def embed(toks: ArrayData, dim: Int): ArrayData = {
    val md = digestTL.get()
    val acc = new Array[Double](dim)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (t != null) {
        md.reset()
        val d = md.digest(t.getBytes)
        // first 4 hex chars = first 2 digest bytes; 5th hex char = high
        // nibble of byte 2 — matches conv(substring(md5hex, ...), 16, 10)
        val idx = (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % dim
        acc(idx) += (if (((d(2) >>> 4) & 1) == 0) 1.0 else -1.0)
      }
      i += 1
    }
    var norm2 = 0.0
    i = 0
    while (i < dim) { norm2 += acc(i) * acc(i); i += 1 }
    val norm = math.sqrt(norm2)
    val out = new Array[Float](dim)
    i = 0
    while (i < dim) {
      out(i) = if (norm > 0) (acc(i) / norm).toFloat else acc(i).toFloat
      i += 1
    }
    new GenericArrayData(out)
  }
}
