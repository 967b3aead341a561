package graft

/** Prints formatted physical plans for a set of queries — the
  * plan-audit tool used to confirm pushdown/broadcast/codegen choices
  * (run: `sbt "runMain graft.Explain s6_filter_topk j2_broadcast_join_agg"`). */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n=== $n ===")
      SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").explain("formatted")
    }
    spark.stop()
  }
}
