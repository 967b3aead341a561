package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: time one named SparkEntry query N times at a given sf dir,
  * forcing each run with Bench's checksum action ([[Bench.force]]) on
  * `local[SPARK_GRAFT_CPUS]` (default 4), as Bench and Verify run.
  * Usage: runMain graft.TimeOne <name> [sfDir] [reps]
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      Bench.force(fn(spark, sfDir))
      spark.catalog.clearCache()
      println(f"== rep $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
