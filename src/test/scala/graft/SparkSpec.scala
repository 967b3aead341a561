package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val Sf = "/root/testdata/sf0.001"

  /** Scoped session-conf override: set, run, restore — shared by the
    * AQE evidence specs (skew split, broadcast conversion). */
  protected def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Requires `df` to give the same rows on the interpreted path — no
    * whole-stage codegen, no generated expression code — as under the
    * session's codegen defaults. Each run plans a fresh projection, so
    * neither reuses the other's physical plan. */
  protected def assertInterpretedMatchesCodegen(df: DataFrame): Unit = {
    def rows() = df.select(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
      .collect().sortBy(_.toString).toSeq
    val codegen = rows()
    var interpreted = Seq.empty[org.apache.spark.sql.Row]
    withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false") { interpreted = rows() }
    val diff = codegen.zip(interpreted).filter { case (a, b) => a != b }
    assert(codegen.length == interpreted.length && diff.isEmpty,
      s"interpreted != codegen on: ${diff.take(5).mkString("; ")}")
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
