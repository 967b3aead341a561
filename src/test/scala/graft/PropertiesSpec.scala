package graft

import graft.functions.{HashChain, MinHash, TextOps}
import org.apache.spark.sql.functions._

/** Property-style invariants over the operator library — the
  * reference's property tests (SURVEY §5: "prefix-only, never
  * reorders", 100% single-mutation tamper detection) re-expressed over
  * the Spark implementations with seeded randomized inputs. */
class PropertiesSpec extends SparkSpec {

  private def words(rnd: scala.util.Random, n: Int): Seq[String] =
    Seq.fill(n)(Seq.fill(1 + rnd.nextInt(7))(
      ('a' + rnd.nextInt(26)).toChar).mkString)

  test("jaccard is symmetric, bounded in [0,1], and 1 on self") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val docs = Seq.fill(6)(words(rnd, 1 + rnd.nextInt(40)).mkString(" "))
    val df = docs.zipWithIndex.map(_.swap).toDF("id", "text")
      .withColumn("sig", TextOps.tokenSet(col("text")))
    val a = df.select(col("id").as("ia"), col("sig").as("sa"))
    val b = df.select(col("id").as("ib"), col("sig").as("sb"))
    val rows = a.crossJoin(b)
      .select(col("ia"), col("ib"),
        TextOps.jaccard(col("sa"), col("sb")).as("j"),
        TextOps.jaccard(col("sb"), col("sa")).as("jr"))
      .collect()
    assert(rows.length == 36)
    rows.foreach { r =>
      val j = r.getDouble(2)
      assert(j >= 0.0 && j <= 1.0)
      assert(math.abs(j - r.getDouble(3)) < 1e-12) // symmetric
      if (r.getInt(0) == r.getInt(1)) assert(j == 1.0)
    }
  }

  test("simhash is invariant under token permutation (10 random docs)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    (1 to 10).foreach { _ =>
      val toks = words(rnd, 1 + rnd.nextInt(30))
      val d = toks.mkString(" ")
      val perm = rnd.shuffle(toks).mkString(" ")
      val out = Seq((1L, d), (2L, perm)).toDF("id", "text")
        .select(MinHash.simhash16(TextOps.tokens(col("text"))).as("s"))
        .collect().map(_.getLong(0))
      assert(out(0) == out(1), s"simhash not permutation-invariant for: $d")
    }
  }

  test("minhash signature is permutation-invariant; subset minima dominate superset minima") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    (1 to 10).foreach { _ =>
      val full = words(rnd, 12).distinct
      val perm = rnd.shuffle(full)
      val sigs = Seq((1L, full), (2L, perm)).toDF("id", "sh")
        .select(MinHash.signature(MinHash.shingleFingerprints(col("sh")), 4).as("sig"))
        .collect().map(_.getSeq[Long](0))
      assert(sigs(0) == sigs(1))
      val sub = full.take(math.max(1, full.size / 2))
      val pair = Seq((1L, full), (2L, sub)).toDF("id", "sh")
        .select(MinHash.signature(MinHash.shingleFingerprints(col("sh")), 4).as("sig"))
        .collect().map(_.getSeq[Long](0))
      pair(0).zip(pair(1)).foreach { case (f, s) =>
        assert(f <= s, "min over a superset must be <= min over its subset")
      }
    }
  }

  test("hash chain: every single-row tamper position is detected (tamper detection = 100%)") {
    import spark.implicits._
    val n = 8
    val rows = (1 to n).map(i => ("agent", i.toLong, s"content-$i"))
    val df = rows.toDF("agent", "seq", "content")
    val hashIn = Seq(col("agent"), col("seq").cast("string"), col("content"))
    val chained = HashChain.buildChain(df, hashIn, Seq(col("agent")), Seq(col("seq")))
      .cache()
    (1 to n).foreach { victim =>
      val tampered = chained.withColumn("content",
        when(col("seq") === victim, concat(col("content"), lit("X")))
          .otherwise(col("content")))
      val bad = HashChain.verifyChain(tampered, hashIn,
        Seq(col("agent")), Seq(col("seq")))
        .filter(!col("chain_valid")).count()
      assert(bad >= 1, s"tamper at seq=$victim of $n went undetected")
    }
  }

  test("evidence budget (running-sum window) selects a prefix and never reorders") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    (1 to 10).foreach { _ =>
      val costs = Seq.fill(15)(1L + rnd.nextInt(50))
      val df = costs.zipWithIndex.map { case (c, i) => (i.toLong, c) }
        .toDF("rank", "cost")
      val w = org.apache.spark.sql.expressions.Window.orderBy("rank")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val kept = df
        .withColumn("before", coalesce(sum(col("cost")).over(w), lit(0L)))
        .filter(col("before") < 100)
        .select("rank").collect().map(_.getLong(0)).toSeq
      assert(kept == kept.sorted)
      assert(kept == (0L until kept.length.toLong)) // a true prefix
      assert(kept.nonEmpty) // budget checked BEFORE each row: head admitted
    }
  }

  test("RRF fusion is rank-monotone: improving a lane rank never lowers the fused score") {
    // pure arithmetic property of w/(k+rank)
    val k = 60
    (1 to 50).foreach { r =>
      assert(1.0 / (k + r) > 1.0 / (k + r + 1))
    }
  }

  test("hyperplane LSH bucket is invariant under positive scaling (cosine geometry)") {
    import graft.functions.VectorOps
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vecs = Seq.tabulate(20)(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("id", "v")
      .withColumn("v4", transform(col("v"), x => (x * 4.0f)))
      .withColumn("b", VectorOps.hyperplaneBucket(col("v"), 64, 8))
      .withColumn("b4", VectorOps.hyperplaneBucket(col("v4"), 64, 8))
    // sign(dot(αv, h)) == sign(dot(v, h)) for α > 0: same bucket
    assert(df.filter(col("b") =!= col("b4")).count() == 0)
    // buckets spread: not everything collapses into one bucket
    assert(df.select("b").distinct().count() > 1)
  }

  test("hyperplane bucket mirrors SQL degenerate semantics: short or null-element vector → bucket 0") {
    // the SQL rendering indexes exactly `dim` elements, so a short
    // vector or a null element makes every plane dot NULL → bucket 0;
    // both native paths (interpreted eval and whole-stage codegen)
    // must agree or d5/a3/v2 oracle parity silently breaks.
    import graft.functions.VectorOps
    import spark.implicits._
    val full = Array.fill(64)(1.0f)
    val short = Array.fill(63)(1.0f)
    val withNull: Array[java.lang.Float] =
      Array.tabulate[java.lang.Float](64)(i => if (i == 7) null else 1.0f)
    val df = Seq(
      (1L, full.map(x => x: java.lang.Float)),
      (2L, short.map(x => x: java.lang.Float)),
      (3L, withNull)).toDF("id", "v")
      .withColumn("b", VectorOps.hyperplaneBucket(col("v"), 64, 8))
    // codegen path (wholestage on) and interpreted path must agree
    val codegen = df.orderBy("id").select("b").collect().map(_.getLong(0)).toSeq
    val interp = Seq(full.map(x => x: java.lang.Float), short.map(x => x: java.lang.Float), withNull)
      .map { arr =>
        import org.apache.spark.sql.catalyst.expressions.Literal
        import org.apache.spark.sql.types.{ArrayType, FloatType}
        graft.plans.HyperplaneBucketExpr(
          Literal.create(arr.toSeq, ArrayType(FloatType, containsNull = true)),
          64, 8, 42L).replacement.eval(null).asInstanceOf[Long]
      }
    assert(codegen == interp)
    assert(codegen(0) != 0L)  // well-formed vector lands in a real bucket
    assert(codegen(1) == 0L)  // short vector → bucket 0
    assert(codegen(2) == 0L)  // null element → bucket 0
  }

  test("char_trigram_counts matches a naive code-point slide on random unicode (40 docs)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // alphabet mixes ASCII, 2-byte, 3-byte, and astral (surrogate-pair)
    // code points — the semantics the expression must preserve
    val alphabet = "abc xyz09éüñ世界😀💩".codePoints()
      .toArray.map(cp => new String(Character.toChars(cp)))
    val docs = Seq.fill(40)(
      Seq.fill(rnd.nextInt(30))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    def naive(s: String): Map[String, Long] = {
      val cps = s.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
      cps.sliding(3).filter(_.length == 3).map(_.mkString)
        .toSeq.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    }
    val got = docs.zipWithIndex.map(_.swap).toDF("id", "text")
      .select(col("id"), TextOps.charTrigramCounts(col("text")).as("m"))
      .orderBy("id").collect()
      .map(r => r.getMap[String, Long](1).toMap)
    docs.zip(got).foreach { case (d, g) =>
      assert(g == naive(d), s"mismatch on ${d.take(40)}")
    }
  }
}
