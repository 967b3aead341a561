package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document character-trigram counts as ONE fused map pass —
  * `map<trigram, count>` over consecutive code-point triples of the
  * input string.
  *
  * This is the t8 (char-LM outlier / perplexity-filter) ingest
  * primitive. The composed formulation explodes every CHARACTER (a
  * corpus-length row blow-up) and reassembles trigrams with two `lead`
  * windows — a full sort of millions of narrow rows per batch. This
  * expression emits the per-document counts directly, so the only rows
  * that ever exist downstream are the distinct (doc, trigram) pairs,
  * and the trigram model aggregate is the FIRST shuffle in the plan —
  * at 100 TB that removes a corpus-character sort entirely.
  *
  * Code-point semantics match `split(text, "")` (Java regex advances
  * over full code points, never splitting surrogate pairs), so results
  * are identical to the previous window formulation and to the DuckDB
  * oracle's `substr(lower(text), i, 3)`.
  */
case class CharTrigramCountsExpr(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"char_trigram_counts expects a string, got ${dt.catalogString}")
  }

  override lazy val replacement: Expression =
    Kernel.invoke(CharTrigramCountsExpr, "counts",
      MapType(StringType, LongType, valueContainsNull = false), Seq(child))

  override protected def withNewChildInternal(newChild: Expression): CharTrigramCountsExpr =
    copy(child = newChild)

  override def prettyName: String = "char_trigram_counts"
}

object CharTrigramCountsExpr {

  /** One pass: code-point starts, then a rolling 3-point substring into
    * a count map. Insertion-ordered map so the emitted MapData is
    * deterministic for a given input (first-occurrence order). Offsets
    * ride in a primitive int[] — this runs once per document over the
    * whole corpus, and boxing every offset would be pure GC pressure. */
  def counts(input: UTF8String): MapData = {
    val s = input.toString
    val n = s.length
    // code-point start offsets (starts(k) .. starts(k+3) spans trigram k)
    val starts = new Array[Int](n + 1)
    var cp = 0
    var i = 0
    while (i < n) {
      starts(cp) = i
      cp += 1
      i += Character.charCount(s.codePointAt(i))
    }
    starts(cp) = n
    val m = new java.util.LinkedHashMap[String, java.lang.Long]()
    var k = 0
    while (k + 3 <= cp) {
      val t = s.substring(starts(k), starts(k + 3))
      val prev = m.get(t)
      m.put(t, if (prev == null) 1L else prev + 1L)
      k += 1
    }
    val keys = new Array[Any](m.size())
    val vals = new Array[Any](m.size())
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      keys(j) = UTF8String.fromString(e.getKey)
      vals(j) = e.getValue
      j += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }
}
