package graft

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
  * IO + shuffle.
  *
  * `SPARK_GRAFT_ONLY=<q1,q2,..>` times a subset with the same protocol;
  * one name in a fresh JVM is the isolated per-query timing that
  * scripts/bench_isolated.py and scripts/scale_curve.py run. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // criterion samples each bench many times and reports a statistic;
    // min-of-N is the cheap robust analogue (drops GC/straggler
    // noise). 3 reps (round 3) stopped min-of-2's single-straggler
    // artifacts; 5 reps (round 7) damps the ±50% ambient whole-suite
    // swings this box shows (isolated re-measures of every "regressed"
    // query in rounds 5-7 landed back in band — the suite mins were
    // the noise).
    val reps = Harness.repCount
    // dev-only subset filter (comma-separated names); unset = all
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val timedQueries = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // full untimed warm pass: every query runs once before ANY timing,
    // so shared JIT/codegen state is uniformly hot (see header note)
    timedQueries.foreach { case (_, fn) =>
      try { Harness.force(fn(spark, sfDir)); spark.catalog.clearCache() }
      catch { case _: Throwable => () } // errors re-surface in the timed reps
    }
    // a query that throws must surface as an error, not as a fast "time
    // to fail" masquerading as a valid min — Left(message) vs Right(sec)
    val results: Seq[(String, Either[String, Double])] = timedQueries
      .map { case (name, fn) =>
      var firstErr: Option[String] = None
      val samples = Harness.reps(reps) { _ =>
        Harness.time {
          try Harness.force(fn(spark, sfDir))
          catch { case e: Throwable =>
            firstErr = firstErr.orElse(Some(e.toString.take(200))) }
          spark.catalog.clearCache() // no cross-query cache effects
        }
      }
      name -> firstErr.toLeft(samples.min)
    }.toSeq
    val qs = results.map {
      case (k, Right(v)) => s"\"" + k + "\":" + v
      case (k, Left(_)) => s"\"" + k + "\":\"err\""
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, Left(m)) =>
      s"${Harness.jsonString(k)}:${Harness.jsonString(m)}" }
    val errsJson = if (errs.isEmpty) "" else errs.mkString(""","errors":{""", ",", "}")
    val total = results.collect { case (_, Right(v)) => v }.sum
    // methodology is IN the emitted line so rounds are compared
    // like-for-like: warm JIT, min-of-N reps, checksum-forced outputs.
    // "full_pass" = rounds 3-7 + 9 protocol; round 8's artifact was
    // "first_rep" and is not comparable (see header note).
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","reps":$reps,"warmup":"full_pass","timed_action":"checksum_xor"$errsJson}"""
    // bench_out.json is the scratch copy; BENCH_HEAD.json is the
    // TRACKED one — committed alongside any SURVEY/README figure that
    // quotes it, so a "committed at HEAD" bench number always points
    // at a file `git show HEAD:BENCH_HEAD.json` can verify
    Harness.writeArtifact(line, "bench_out.json", "BENCH_HEAD.json", reps,
      subset = only.nonEmpty)
    spark.stop()
  }
}
