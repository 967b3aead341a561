package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

/** Per-run state shared by the harness and a workload: the session, the
  * generated tables, the output directory, the tracer, and the tally of
  * attempted and failed operations. */
final class Ctx(val spark: SparkSession, val data: String, val out: String,
    val seed: Long, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  /** One attempted operation or check; false records a failure. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
    ok
  }

  /** Runs `body` as one attempted operation; an exception is a failure. */
  def attempt[T](what: String)(body: => T): Option[T] =
    try { val r = body; check(ok = true, what); Some(r) }
    catch {
      case e: Throwable =>
        check(ok = false, s"$what: ${e.toString.take(300)}")
        None
    }

  def span[T](name: String, layer: String)(body: => T): T =
    tracer.span(name, layer)(body)
}

/** One timed operation of a pass: its kind (query, ingest, recall,
  * forget), its name, and its latency. */
final case class Op(kind: String, name: String, ms: Double)


object Force {

  /** The timed action of every query: a checksum over every output
    * column, so column pruning cannot skip projected work the way a
    * bare count() could. Output types the hash rejects fall back to a
    * row count. */
  def checksumFrame(df: DataFrame): (DataFrame, Boolean) =
    try (df.agg(bit_xor(xxhash64(df.columns.toIndexedSeq.map(col): _*))), true)
    catch { case _: Throwable => (df.groupBy().count(), false) }

  def value(rows: Array[org.apache.spark.sql.Row], hashed: Boolean): String = {
    val r = rows.head
    (if (hashed) "xor:" else "count:") + (if (r.isNullAt(0)) "null" else r.get(0).toString)
  }
}
