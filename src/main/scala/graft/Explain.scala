package graft

/** Prints formatted physical plans for a set of queries — the
  * plan-audit tool used to confirm pushdown/broadcast/codegen choices
  * (run: `sbt "runMain graft.Explain s6_filter_topk j2_broadcast_join_agg"`).
  * Reads its tables from `SPARK_GRAFT_SF_DIR` (default sf0.001), like
  * [[Bench]]. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n=== $n ===")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
