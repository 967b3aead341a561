package graft

import java.nio.file.{Files, Paths}
import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

/** The one session-and-timing core every main runs on: the session
  * they all build, the timed action, the rep policy, and the JSON
  * helpers of the one-line artifacts. */
object Harness {

  /** Headline rep count: [[writeArtifact]] only updates a tracked
    * artifact from a run at THIS count, so changing the default can
    * never let a dev run silently clobber a headline figure. */
  val DefaultReps = 5

  /** `SPARK_GRAFT_REPS`, default [[DefaultReps]]. */
  def repCount: Int =
    sys.env.getOrElse("SPARK_GRAFT_REPS", DefaultReps.toString).toInt

  /** The session of every main: `local[SPARK_GRAFT_CPUS]` (default 4)
    * with as many shuffle partitions, UI off, UTC, the graft SQL
    * functions, WARN logging; `extra` confs go on top. */
  def session(extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.plans.GraftExtensions)
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The timed action of Bench: a checksum aggregate over every output
    * column, so column-pruning cannot skip projected expression work
    * the way a bare count() can (an envelope-string query would
    * otherwise be timed without building its envelopes). bit_xor, NOT
    * sum: under ANSI mode (Spark 4 default) summing 64-bit hashes
    * overflows on most frames >2 rows, which silently demoted those
    * queries to the count() fallback — timing a column-pruned scan
    * while the artifact claimed checksum_agg. xor never overflows, so
    * the fallback is reserved for output types the hash expression
    * genuinely rejects. */
  def force(df: DataFrame): Unit =
    try df.agg(bit_xor(xxhash64(df.columns.toIndexedSeq.map(col): _*))).collect()
    catch { case _: Throwable => df.count() }

  /** Wall-clock seconds of `body`. */
  def time(body: => Any): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Every rep's seconds, in run order; the reported figure is the min
    * (drops GC/straggler noise — criterion's cheap robust analogue). */
  final case class Samples(secs: Seq[Double]) {
    def min: Double = secs.min
  }

  /** Runs `rep(1..n)`, each returning the seconds it measured with
    * [[time]], so per-rep setup (a fresh store, a conf) stays outside
    * the timed span. */
  def reps(n: Int)(rep: Int => Double): Samples = Samples((1 to n).map(rep))

  /** A JSON string literal: quotes, backslashes and EVERY control char
    * escaped — a tab or CR in an oracle SQL string would otherwise make
    * every reader's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `fmt` applied to `d` under Locale.ROOT: the f-interpolator follows
    * the default locale, and a comma-decimal one would emit invalid
    * JSON. */
  def num(fmt: String, d: Double): String =
    String.format(Locale.ROOT, fmt, Double.box(d))

  /** Prints a bench's one JSON line and keeps two copies: `scratch`
    * (untracked, every run — a piped-away stdout must not lose a probe)
    * and `tracked` (committed), written only by a headline run — the
    * full set at [[DefaultReps]]. A subset or a non-default rep count
    * is a dev probe, and nothing in its line would mark it partial. */
  def writeArtifact(line: String, scratch: String, tracked: String,
      reps: Int, subset: Boolean = false): Unit = {
    println(line)
    try {
      Files.writeString(Paths.get(scratch), line + "\n")
      if (!subset && reps == DefaultReps)
        Files.writeString(Paths.get(tracked), line + "\n")
    } catch { case _: Throwable => () }
  }
}
