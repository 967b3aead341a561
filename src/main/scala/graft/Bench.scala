package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

/** Benchmark main: times every SparkEntry query at the sf dir given by
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line (driver contract); the
  * same line is also written to bench_out.json for offline reads.
  *
  * Methodology (rounds 3-7, REINSTATED in round 9): a dedicated
  * untimed warm pass first executes EVERY query once, so the JVM-wide
  * JIT/codegen state all queries share is built before any timing
  * begins; then each query is timed min-of-N. Round 8 replaced the
  * warm pass with "first rep doubles as warmup" to halve wall clock,
  * but that only warms per-plan state — the shared JIT state the full
  * pass builds was missing when early/cheap queries were timed, which
  * inflated UNTOUCHED queries ~36% total vs round 7 (adjudicated by
  * isolated per-JVM re-timing: the code was unchanged and in-band, the
  * artifact was wrong). The r8 artifact is therefore NOT comparable
  * with r7/r9; the emitted "warmup" field pins which protocol produced
  * each artifact so rounds diff like-for-like. Warming happens at the
  * measured SF by construction (AQE picks different physical plans per
  * data size). Caches are cleared between reps, so every rep pays real
  * IO + shuffle. */
object Bench {
  /** Headline rep count — the BENCH_HEAD gate below compares against
    * THIS constant, so changing the default can never silently stop
    * the tracked artifact from updating. */
  val DefaultReps = 5

  /** The timed action of Bench and TimeOne: a checksum aggregate over
    * every output column, so column-pruning cannot skip projected
    * expression work the way a bare count() can (an envelope-string
    * query would otherwise be timed without building its envelopes).
    * bit_xor, NOT sum: under ANSI mode (Spark 4 default) summing 64-bit
    * hashes overflows on most frames >2 rows, which silently demoted
    * those queries to the count() fallback — timing a column-pruned
    * scan while the artifact claimed checksum_agg. xor never
    * overflows, so the fallback is reserved for output types the hash
    * expression genuinely rejects. */
  def force(df: DataFrame): Unit =
    try df.agg(bit_xor(xxhash64(df.columns.toIndexedSeq.map(col): _*))).collect()
    catch { case _: Throwable => df.count() }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // criterion samples each bench many times and reports a statistic;
    // min-of-N is the cheap robust analogue (drops GC/straggler
    // noise). 3 reps (round 3) stopped min-of-2's single-straggler
    // artifacts; 5 reps (round 7) damps the ±50% ambient whole-suite
    // swings this box shows (isolated re-measures of every "regressed"
    // query in rounds 5-7 landed back in band — the suite mins were
    // the noise).
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", DefaultReps.toString).toInt
    // dev-only subset filter (comma-separated names); unset = all
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val timedQueries = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // full untimed warm pass: every query runs once before ANY timing,
    // so shared JIT/codegen state is uniformly hot (see header note)
    timedQueries.foreach { case (_, fn) =>
      try { force(fn(spark, sfDir)); spark.catalog.clearCache() }
      catch { case _: Throwable => () } // errors re-surface in the timed reps
    }
    // a query that throws must surface as an error, not as a fast "time
    // to fail" masquerading as a valid min — Left(message) vs Right(sec)
    val results: Seq[(String, Either[String, Double])] = timedQueries
      .map { case (name, fn) =>
      val outcomes = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val err = try { force(fn(spark, sfDir)); None }
          catch { case e: Throwable => Some(e.toString.take(200)) }
        spark.catalog.clearCache() // no cross-query cache effects
        (err, (System.nanoTime() - t0) / 1e9)
      }
      val firstErr = outcomes.flatMap(_._1).headOption
      name -> firstErr.toLeft(outcomes.map(_._2).min)
    }.toSeq
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val qs = results.map {
      case (k, Right(v)) => s"\"" + k + "\":" + v
      case (k, Left(_)) => s"\"" + k + "\":\"err\""
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, Left(m)) => s"\"${k}\":\"${esc(m)}\"" }
    val errsJson = if (errs.isEmpty) "" else errs.mkString(""","errors":{""", ",", "}")
    val total = results.collect { case (_, Right(v)) => v }.sum
    // methodology is IN the emitted line so rounds are compared
    // like-for-like: warm JIT, min-of-N reps, checksum-forced outputs.
    // "full_pass" = rounds 3-7 + 9 protocol; round 8's artifact was
    // "first_rep" and is not comparable (see header note).
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","reps":$reps,"warmup":"full_pass","timed_action":"checksum_xor"$errsJson}"""
    println(line)
    // TWO copies: bench_out.json is the scratch artifact (gitignored,
    // overwritten by every dev/driver run); BENCH_HEAD.json is the
    // TRACKED artifact — committed alongside any SURVEY/README figure
    // that quotes it, so a "committed at HEAD" bench number always
    // points at a file `git show HEAD:BENCH_HEAD.json` can verify.
    // A SPARK_GRAFT_ONLY subset run or a non-default rep count is a
    // dev probe, not a headline figure: it must never clobber the
    // tracked artifact (nothing in the line would mark it partial)
    try {
      Files.writeString(Paths.get("bench_out.json"), line + "\n")
      if (only.isEmpty && reps == DefaultReps)
        Files.writeString(Paths.get("BENCH_HEAD.json"), line + "\n")
    } catch { case _: Throwable => () }
    spark.stop()
  }
}
