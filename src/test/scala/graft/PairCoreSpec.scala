package graft

import graft.functions.DedupEnrich
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** The contract of the candidate-pair core ([[DedupEnrich.blockingPairs]],
  * [[DedupEnrich.blockingJoin]] and both forms of
  * [[DedupEnrich.guardedCandidatePairs]]) against a brute-force set
  * computation over the same `(id, key)` rows. A rewrite of the guard's
  * plan must keep every one of these equalities. */
class PairCoreSpec extends SparkSpec {

  private type Rows = Seq[(Long, String)]

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("key", StringType)))

  private def frame(rows: Rows): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map { case (i, k) => Row(i, k) }, 2),
    schema)

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def ids(df: DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  // the references: multisets for the bare joins (a caller adds
  // `distinct` itself), sets for the guard
  private def selfRef(r: Rows): Seq[(Long, Long)] =
    (for ((a, ka) <- r; (b, kb) <- r if ka == kb && a < b) yield (a, b)).sorted

  private def crossRef(p: Rows, i: Rows): Seq[(Long, Long)] =
    (for ((a, ka) <- p; (b, kb) <- i if ka == kb) yield (a, b)).sorted

  private def hotRef(index: Rows, h: Long): Set[String] =
    index.distinct.groupBy(_._2).collect {
      case (k, rs) if rs.size >= h => k }.toSet

  private def satRef(probe: Rows, hot: Set[String]): Set[Long] =
    probe.collect { case (i, k) if hot(k) => i }.toSet

  /** Every core output equals its reference for probe `p`, index `i`
    * and threshold `h`; the self forms run on `p`. */
  private def check(p: Rows, i: Rows, h: Long): Unit = {
    val (pf, idx) = (frame(p), frame(i))
    val ctx = s"probe=$p index=$i H=$h"
    assert(pairs(DedupEnrich.blockingPairs(pf)) == selfRef(p), s"self join: $ctx")
    assert(pairs(DedupEnrich.blockingJoin(pf, idx)) == crossRef(p, i),
      s"probe-vs-index join: $ctx")

    val selfHot = hotRef(p, h)
    val (sat, ps) = DedupEnrich.guardedCandidatePairs(pf, h)
    assert(ids(sat) == satRef(p, selfHot), s"self guard sat: $ctx")
    assert(pairs(ps) == selfRef(p.filterNot(r => selfHot(r._2))).distinct,
      s"self guard pairs: $ctx")

    val hot = hotRef(i, h)
    val (xsat, xps) = DedupEnrich.guardedCandidatePairs(pf, idx, h)
    assert(ids(xsat) == satRef(p, hot), s"probe-vs-index guard sat: $ctx")
    assert(pairs(xps) ==
      crossRef(p.filterNot(r => hot(r._2)), i.filterNot(r => hot(r._2))).distinct,
      s"probe-vs-index guard pairs: $ctx")
  }

  test("edge frames: empty, single id, one key held by every id, duplicate rows, multi-key ids, H = 2 and H above max occupancy") {
    val all = (1L to 5L).map(_ -> "k")
    val multi = Seq(1L -> "x", 1L -> "y", 2L -> "x", 2L -> "y", 3L -> "y")
    val dup = Seq(1L -> "k", 1L -> "k", 2L -> "k", 2L -> "k")
    check(Nil, Nil, 2)
    check(Nil, all, 2)
    check(all, Nil, 2)
    check(Seq(7L -> "k"), Seq(7L -> "k"), 2)
    check(all, all, 2)
    check(all, all, 6) // above the max occupancy (5): nothing is hot
    check(dup, dup, 2)
    check(dup, dup, 3) // duplicate rows must not inflate a key's count
    check(multi, multi, 2)
    check(multi, all, 3)
  }

  test("random (id, key) frames agree with the brute-force reference (ScalaCheck)") {
    val rows: Gen[Rows] = for {
      n <- Gen.choose(0, 12)
      rs <- Gen.listOfN(n, Gen.zip(Gen.choose(1L, 6L),
        Gen.oneOf("k0", "k1", "k2", "k3")))
    } yield rs
    val cases = for {
      p <- rows
      i <- Gen.frequency(3 -> rows, 1 -> Gen.const(p))
      maxOcc = (p ++ i).distinct.groupBy(_._2).values.map(_.size).maxOption
        .getOrElse(0)
      h <- Gen.choose(2L, maxOcc + 2L)
    } yield (p, i, h)
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(16)
        .withInitialSeed(Seed(20261018L)).withWorkers(1),
      Prop.forAll(cases) { case (p, i, h) => check(p, i, h); true })
    assert(res.passed, res.status.toString)
  }
}
