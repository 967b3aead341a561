package graft

import graft.functions.{HashChain, MinHash, TextOps, VectorOps}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {

  private def one(colv: org.apache.spark.sql.Column): Any = {
    val df = spark.range(1).select(colv.as("v"))
    df.collect()(0).get(0)
  }

  test("tokens: lowercase alnum split, empties dropped") {
    val got = one(TextOps.tokens(lit("Hello, World!  x2  ")))
      .asInstanceOf[scala.collection.Seq[String]].toSeq
    assert(got == Seq("hello", "world", "x2"))
  }

  test("jaccard: overlap over union of distinct sets") {
    val j = one(TextOps.jaccard(
      array(lit("a"), lit("b"), lit("c")), array(lit("b"), lit("c"), lit("d"))))
    assert(math.abs(j.asInstanceOf[Double] - 0.5) < 1e-12)
  }

  test("shingles: k=2 over 4 tokens gives 3 positional bigrams") {
    val got = one(TextOps.shingles(array(lit("a"), lit("b"), lit("c"), lit("d")), 2))
      .asInstanceOf[scala.collection.Seq[String]].toSeq
    assert(got == Seq("a b", "b c", "c d"))
  }

  test("shingles: shorter than k collapses to one shingle") {
    val got = one(TextOps.shingles(array(lit("a"), lit("b")), 3))
      .asInstanceOf[scala.collection.Seq[String]].toSeq
    assert(got == Seq("a b"))
  }

  test("excerpt: first non-empty line, truncated with ellipsis") {
    val got = one(TextOps.excerpt(lit("\n\nabcdefghij\nsecond"), 5))
    assert(got == "abcde…")
  }

  test("cosine: known geometry") {
    val a = array(lit(1.0f), lit(0.0f))
    val b = array(lit(0.0f), lit(1.0f))
    val c = array(lit(1.0f), lit(1.0f))
    assert(math.abs(one(VectorOps.cosineSimilarity(a, b)).asInstanceOf[Double]) < 1e-12)
    assert(math.abs(one(VectorOps.cosineSimilarity(a, c)).asInstanceOf[Double]
      - 1.0 / math.sqrt(2)) < 1e-12)
    // zero vector -> null, not NaN
    assert(one(VectorOps.cosineSimilarity(a, array(lit(0.0f), lit(0.0f)))) == null)
  }

  /** Embedding pairs, plus pairs whose left or right vector carries a
    * null element (dense embeddings never do; the composed forms
    * null-poison on it, and the kernels must too). */
  private def vectorPairs = {
    val e = Tables.embeddings(spark, Sf).limit(50)
    val paired = e.select(col("vec_id"), col("embedding"))
      .crossJoin(e.select(col("embedding").as("other")).limit(7))
    val nullAt3 = (v: org.apache.spark.sql.Column) =>
      transform(v, (x, i) => when(i =!= 3, x))
    paired
      .unionByName(paired.limit(2).withColumn("embedding", nullAt3(col("embedding"))))
      .unionByName(paired.limit(2).withColumn("other", nullAt3(col("other"))))
  }

  test("cosineFast (codegen expr) is bit-identical to the composed version") {
    val diff = vectorPairs.select(
      VectorOps.cosineSimilarity(col("embedding"), col("other")).as("slow"),
      VectorOps.cosineFast(col("embedding"), col("other")).as("fast"))
      .filter(!(col("slow") <=> col("fast")))
      .count()
    assert(diff == 0)
    assertInterpretedMatchesCodegen(vectorPairs.select(col("vec_id"),
      VectorOps.cosineFast(col("embedding"), col("other")).as("fast")))
  }

  test("squaredL2Fast (codegen expr) is bit-identical to the composed version") {
    val diff = vectorPairs.select(
      VectorOps.squaredL2Distance(col("embedding"), col("other")).as("slow"),
      VectorOps.squaredL2Fast(col("embedding"), col("other")).as("fast"))
      .filter(!(col("slow") <=> col("fast")))
      .count()
    assert(diff == 0)
    assertInterpretedMatchesCodegen(vectorPairs.select(col("vec_id"),
      VectorOps.squaredL2Fast(col("embedding"), col("other")).as("fast")))
  }

  test("weighted_bucket_sum equals the exact-decimal fold; null and out-of-range buckets add 0") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import spark.implicits._
    val rows = Seq[(Int, Seq[java.lang.Long])](
      (1, Seq(0L, 1L, 2L)), (2, Seq(1L, -1L, 300L, 2L)),
      (3, Seq(2L, null, 2L)), (4, Seq(null)), (5, Seq()), (6, null))
    val df = rows.toDF("id", "b")
    // small weights take the unscaled-long path; a weight past 2^53
    // unscaled takes the BigDecimal path
    for (big <- Seq(false, true)) {
      val w = (0 until 273).map(i => new java.math.BigDecimal(
        if (big && i == 2) "9000000000.000000001" else s"${(i * 37) % 101 - 50}.${i % 7}05"))
      val native = ColumnBridge.column(graft.plans.WeightedBucketSumExpr(
        ColumnBridge.expression(col("b")), w))
      val wmap = typedLit(w.indices.map(i => i.toLong -> BigDecimal(w(i))).toMap)
      val fold = aggregate(col("b"), lit(0).cast("decimal(23,9)"), (acc, b) =>
        (acc + coalesce(try_element_at(wmap, b), lit(0).cast("decimal(20,9)")))
          .cast("decimal(23,9)"))
      val got = df.select(col("id"), native.as("n"), fold.as("f"))
      val bad = got.filter(!(col("n") <=> col("f"))).collect()
      assert(bad.isEmpty, s"weighted sum != fold on: ${bad.mkString("; ")}")
      assert(got.filter(col("id") === 6).select("n").head().isNullAt(0))
      assertInterpretedMatchesCodegen(got.select("id", "n"))
    }
  }

  test("ExactMean rounds the exact mean half away from zero: ties, zero, n = 1, negatives") {
    import spark.implicits._
    // (scale-6 numerator, count): the t8 seed-23 tie, its positive
    // mirror, zero, a single row, and a negative non-tie
    val rows = Seq(("-180.971115", 78L), ("180.971115", 78L), ("0", 5L),
      ("3.141593", 1L), ("-1", 3L))
    val got = rows.toDF("num", "n").repartition(2)
      .select(col("num").cast("decimal(38,6)").as("num"), col("n"))
      .select(col("num"), col("n"),
        graft.queries.ExactMean(col("num"), col("n")).as("m"))
    val byNum = got.collect().map(r => r.getDecimal(0) -> r).toMap
    rows.foreach { case (num, n) =>
      val d = new java.math.BigDecimal(num).setScale(6)
      val want = d.divide(java.math.BigDecimal.valueOf(n), 6,
        java.math.RoundingMode.HALF_UP).doubleValue
      assert(byNum(d).getDouble(2) == want, s"$num / $n")
    }
    assert(byNum(new java.math.BigDecimal("-180.971115")).getDouble(2) == -2.320143)
    assertInterpretedMatchesCodegen(got)
  }

  test("SQL functions: a wrong argument count or a column dimension is a usage error") {
    Tables.embeddings(spark, Sf).limit(1).createOrReplaceTempView("emb_gate")
    // the message anywhere on the cause chain: Spark may wrap it
    def failure(call: String): String = {
      val e = intercept[Exception](spark.sql(s"SELECT $call FROM emb_gate").collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    val arity = Seq(
      ("cosine_sim", "2", "cosine_sim(embedding)"),
      ("squared_l2", "2", "squared_l2(embedding, embedding, embedding)"),
      ("char_trigram_counts", "1", "char_trigram_counts()"),
      ("random_project", "3 to 4", "random_project(embedding, 64)"),
      ("hash_embedding", "1 to 2", "hash_embedding(array('a'), 64, 1)"),
      ("hyperplane_bucket", "3 to 4", "hyperplane_bucket(embedding, 64, 8, 42, 1)"))
    for ((fn, n, call) <- arity) {
      val msg = failure(call)
      assert(msg.contains(s"$fn expects $n argument(s)"), s"$call: $msg")
    }
    val literal = Seq(
      ("random_project", "random_project(embedding, vec_id, 16)"),
      ("hash_embedding", "hash_embedding(array('a'), vec_id)"),
      ("hyperplane_bucket", "hyperplane_bucket(embedding, 64, vec_id)"))
    for ((fn, call) <- literal) {
      val msg = failure(call)
      assert(msg.contains(s"$fn expects literal int args"), s"$call: $msg")
    }
  }

  test("hashEmbedding (codegen expr) is bit-identical to the composed version") {
    import graft.api.Mnemo
    val texts = Tables.documents(spark, Sf).select(col("text")).limit(60)
      .unionAll(spark.createDataFrame(Seq(
        Tuple1(""), Tuple1("   "), Tuple1("ONE one oNe"), Tuple1("a b c 123 !!"))
      ).toDF("text"))
    val diff = texts.select(
      ComposedRefs.hashEmbeddingComposed(col("text")).as("slow"),
      Mnemo.hashEmbedding(col("text")).as("fast"))
      .filter(!(col("slow") <=> col("fast")))
      .count()
    assert(diff == 0)
    val diff16 = texts.select(
      ComposedRefs.hashEmbeddingComposed(col("text"), 16).as("slow"),
      Mnemo.hashEmbedding(col("text"), 16).as("fast"))
      .filter(!(col("slow") <=> col("fast")))
      .count()
    assert(diff16 == 0)
  }

  test("randomProjection: JL distance preservation, interpreted == codegen, null semantics") {
    val e = Tables.embeddings(spark, Sf).limit(100)
    // defining property: mean pairwise distance ratio ~ 1 after the
    // sqrt(k*var) rescale (k=16, var=1/3 -> JL stddev ~ sqrt(2/16) = 0.35
    // per pair; the mean over ~100 pairs is tight)
    val scale = math.sqrt(16.0 / 3.0)
    val pa = e.select(col("vec_id").as("a"), col("embedding").as("va"))
    val pb = e.select(col("vec_id").as("b"), col("embedding").as("vb"))
    val ratios = pa.join(pb, col("b") === col("a") + 1)
      .select(
        (sqrt(VectorOps.squaredL2Fast(
          VectorOps.randomProjection(col("va"), 64, 16),
          VectorOps.randomProjection(col("vb"), 64, 16)))
          / (sqrt(VectorOps.squaredL2Fast(col("va"), col("vb"))) * scale)).as("r"))
      .collect().map(_.getDouble(0))
    assert(ratios.nonEmpty)
    val mean = ratios.sum / ratios.length
    assert(math.abs(mean - 1.0) < 0.2, s"JL mean distance ratio $mean, expected ~1")
    // degenerate semantics: short vector and null element both yield NULL
    val deg = spark.sql(
      """SELECT random_project(array(1.0D, 2.0D), 64, 16) AS short_v,
         |       random_project(CAST(NULL AS ARRAY<DOUBLE>), 64, 16) AS null_v
         |""".stripMargin).collect()(0)
    assert(deg.isNullAt(0) && deg.isNullAt(1))
  }

  test("random_project is registered as a SQL function via GraftExtensions") {
    Tables.embeddings(spark, Sf).limit(5).createOrReplaceTempView("emb_rp")
    val rows = spark.sql(
      "SELECT random_project(embedding, 64, 16) AS p FROM emb_rp").collect()
    assert(rows.forall(r => r.getSeq[Double](0).length == 16))
  }

  test("char_trigram_counts is registered as a SQL function via GraftExtensions") {
    val row = spark.sql(
      "SELECT char_trigram_counts('abcab') AS m").collect()(0)
    assert(row.getMap[String, Long](0).toMap == Map("abc" -> 1L, "bca" -> 1L, "cab" -> 1L))
  }

  test("hash_embedding and hyperplane_bucket are registered as SQL functions") {
    val r = spark.sql(
      "SELECT hash_embedding(array('hello','world'), 64) AS e, " +
        "hyperplane_bucket(cast(array(1.0, -1.0) as array<float>), 2, 4) AS b").collect()(0)
    val e = r.getSeq[Float](0)
    assert(e.length == 64 && math.abs(e.map(x => x * x).sum - 1.0) < 1e-5)
    assert(r.getLong(1) >= 0L)
    // must agree with the Column-API path
    val viaCol = spark.range(1)
      .select(graft.api.Mnemo.hashEmbedding(lit("hello world")).as("e"))
      .collect()(0).getSeq[Float](0)
    val viaSql = spark.sql(
      "SELECT hash_embedding(array('hello','world'), 64) AS e").collect()(0).getSeq[Float](0)
    assert(viaCol == viaSql)
  }

  test("cosine_sim is registered as a SQL function via GraftExtensions") {
    Tables.embeddings(spark, Sf).limit(5).createOrReplaceTempView("emb_t")
    val rows = spark.sql(
      "SELECT cosine_sim(embedding, embedding) AS c FROM emb_t").collect()
    assert(rows.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-9))
  }

  test("hash chain: build then verify is all-valid; tampering breaks exactly the tampered link") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, "x"), ("a", 2L, "y"), ("a", 3L, "z"),
      ("b", 1L, "p"), ("b", 2L, "q")).toDF("agent", "seq", "content")
    val hashIn = Seq(col("agent"), col("seq").cast("string"), col("content"))
    val chained = HashChain.buildChain(df, hashIn, Seq(col("agent")), Seq(col("seq")))
    val ok = HashChain.verifyChain(chained, hashIn, Seq(col("agent")), Seq(col("seq")))
    assert(ok.filter(!col("chain_valid")).count() == 0)

    // tamper with one row's content AFTER chaining
    val tampered = chained.withColumn("content",
      when(col("agent") === "a" && col("seq") === 2, "EVIL").otherwise(col("content")))
    val bad = HashChain.verifyChain(tampered, hashIn, Seq(col("agent")), Seq(col("seq")))
      .filter(!col("chain_valid"))
      .select("agent", "seq").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // the tampered row fails (its content hash no longer matches) and its
    // successor fails (stored prev_hash disagrees with recomputed)
    assert(bad == Set(("a", 2L), ("a", 3L)))
  }

  test("minhash: identical shingle sets share all bands; disjoint sets share none") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq("a b", "b c", "c d")),
      (2L, Seq("a b", "b c", "c d")),
      (3L, Seq("x y", "y z", "z w"))).toDF("id", "sh")
    val withBands = docs
      .withColumn("dg", MinHash.shingleFingerprints(col("sh")))
      .withColumn("sig", MinHash.signature(col("dg"), 8))
      .withColumn("bands", MinHash.bandKeys(col("sig"), 8, 2))
      .select(col("id"), explode(col("bands")).as("bk"))
    val a = withBands.withColumnRenamed("id", "a")
    val b = withBands.withColumnRenamed("id", "b")
    val shared = a.join(b, "bk").filter(col("a") < col("b"))
      .groupBy("a", "b").count().collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(shared((1L, 2L)) == 4) // all 4 bands collide
    assert(!shared.contains((1L, 3L)) && !shared.contains((2L, 3L)))
  }

  test("simhash: identical token bags get identical sketches; sketch is 16-bit") {
    import spark.implicits._
    val df = Seq(
      (1L, "spark fast query engine"),
      (2L, "spark fast query engine"),
      (3L, "completely different words here")).toDF("id", "text")
      .withColumn("sim", MinHash.simhash16(TextOps.tokens(col("text"))))
    val sims = df.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(sims(1L) == sims(2L))
    assert(sims.values.forall(v => v >= 0 && v < 65536))
  }

  test("zScoreDistance: x == mu gives 0; unit deviations give 1") {
    val x = array(lit(2.0), lit(3.0))
    val mu = array(lit(2.0), lit(3.0))
    val v = array(lit(1.0), lit(1.0))
    assert(math.abs(one(VectorOps.zScoreDistance(x, mu, v)).asInstanceOf[Double]) < 1e-12)
    val x2 = array(lit(3.0), lit(2.0))
    assert(math.abs(one(VectorOps.zScoreDistance(x2, mu, v)).asInstanceOf[Double] - 1.0) < 1e-12)
  }

  test("charTrigramCounts: rolling code-point trigrams with counts") {
    def counts(s: String): Map[String, Long] =
      one(TextOps.charTrigramCounts(lit(s)))
        .asInstanceOf[Map[String, Long]]
    assert(counts("abcd") == Map("abc" -> 1L, "bcd" -> 1L))
    assert(counts("aaaa") == Map("aaa" -> 2L))
    assert(counts("ab") == Map.empty[String, Long])
    assert(counts("") == Map.empty[String, Long])
    // matches the split("")+lead-window formulation it replaced,
    // including multi-byte code points (never split mid-pair)
    assert(counts("héllo") == Map("hél" -> 1L, "éll" -> 1L, "llo" -> 1L))
    // agrees with the composed split+window pipeline on a real corpus row
    val doc = Tables.documents(spark, Sf).select(lower(col("text")).as("t")).limit(1)
    val viaExpr = doc.select(explode(TextOps.charTrigramCounts(col("t"))).as(Seq("tri", "n")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaWindow = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(lit(1)).orderBy("pos")
      doc.select(posexplode(split(col("t"), "")).as(Seq("pos", "c")))
        .filter(length(col("c")) === 1)
        .withColumn("c2", lead(col("c"), 1).over(w))
        .withColumn("c3", lead(col("c"), 2).over(w))
        .filter(col("c3").isNotNull)
        .select(concat(col("c"), col("c2"), col("c3")).as("tri"))
        .groupBy("tri").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(viaExpr == viaWindow)
  }

  test("BPE: charSyms splits to characters; applyMerge is the greedy left-to-right fold") {
    import graft.functions.BpeOps
    import spark.implicits._
    // the empty word pins the sequence(1, 0) guard: Spark's two-arg
    // sequence infers step -1 and an unguarded transform would yield
    // ["", ""] where DuckDB's generate_series(1, 0) yields []
    val df = Seq(("aaa", Seq("a", "a", "a")), ("theth", Seq("t", "h", "e", "t", "h")),
      ("x", Seq("x")), ("", Seq.empty[String])).toDF("word", "expected")
    val syms = df.select(col("expected"), BpeOps.charSyms(col("word")).as("syms"))
    syms.collect().foreach(r =>
      assert(r.getSeq[String](1) == r.getSeq[String](0)))
    // the BPE fold contract: a merged symbol becomes the new last
    // element and participates in further matches — [a,a,a] under
    // (a,a) is [aa,a] (greedy, non-overlapping), not [aa,aa's tail]
    val merged = syms.select(col("syms"),
      BpeOps.applyMerge(col("syms"), "a", "a").as("m_aa"),
      BpeOps.applyMerge(col("syms"), "t", "h").as("m_th"))
      .collect().map(r => (r.getSeq[String](0), r.getSeq[String](1), r.getSeq[String](2)))
    val byWord = merged.map(t => t._1.mkString -> t).toMap
    assert(byWord("aaa")._2 == Seq("aa", "a"))
    assert(byWord("theth")._3 == Seq("th", "e", "th"))
    assert(byWord("x")._2 == Seq("x") && byWord("x")._3 == Seq("x"))
    assert(byWord("")._2 == Seq.empty && byWord("")._3 == Seq.empty,
      "empty symbol arrays must pass through applyMerge unchanged")
  }

  test("minLabelComponents: the local union-find fast path equals the distributed loop exactly") {
    import graft.functions.DedupEnrich
    import spark.implicits._
    // a 4-chain (diameter 3), a triangle, an isolated pair, and a
    // duplicate edge — the component min must label every node on
    // both paths identically
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (11L, 12L), (10L, 12L), (20L, 21L), (1L, 2L)).toDF("a", "b")
    def run(): Set[(Long, Long)] =
      DedupEnrich.minLabelComponents(pairs, 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = run() // default conf: the union-find path
    var dist: Set[(Long, Long)] = Set.empty
    withConf("graft.cc.localEdgeLimit" -> "0") { dist = run() }
    val expected = Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L), (21L, 20L))
    assert(local == expected, s"local union-find: $local")
    assert(dist == expected, s"distributed loop: $dist")
  }

  test("minLabelComponents: local and distributed paths agree on a 400-edge randomized graph") {
    // cross-IMPLEMENTATION equality is the membership pin for the
    // survivor rule: a rooting bug in the union-find (e.g. max-rooted)
    // cannot agree with the independent Spark min-label loop on a
    // random graph, and vice versa — only "component = min node"
    // satisfies both. Seeded, so failures reproduce.
    import graft.functions.DedupEnrich
    import spark.implicits._
    val rnd = new scala.util.Random(0x5eed15)
    val edges = Seq.fill(400) {
      val a = rnd.nextInt(300).toLong
      val b = rnd.nextInt(300).toLong
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }
    val pairs = edges.toDF("a", "b")
    def run(): Set[(Long, Long)] =
      DedupEnrich.minLabelComponents(pairs, 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = run()
    var dist: Set[(Long, Long)] = Set.empty
    withConf("graft.cc.localEdgeLimit" -> "0") { dist = run() }
    assert(local.nonEmpty && local == dist,
      s"paths diverged: ${local.diff(dist)} vs ${dist.diff(local)}")
  }

  test("minLabelComponents: the FORCED-distributed loop converges on a >50-diameter chain (pointer doubling)") {
    // the r15 verdict's at-scale edge: the pre-r16 linear min-label
    // loop needed one round PER unit of diameter and exited SILENTLY
    // SPLIT past its 50-round cap — and gradually-edited boilerplate
    // chains are exactly how crawl corpora grow long thin near-dup
    // components. The pointer-doubled loop labels a 200-diameter
    // chain in ~8 rounds; forcing the distributed path (conf = 0)
    // and pinning equality against the exact union-find answer is
    // the regression gate: a loop that split the chain cannot agree.
    import graft.functions.DedupEnrich
    import spark.implicits._
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("a", "b")
    def run(): Set[(Long, Long)] =
      DedupEnrich.minLabelComponents(chain, 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = run() // union-find: exact at any diameter
    var dist: Set[(Long, Long)] = Set.empty
    withConf("graft.cc.localEdgeLimit" -> "0") { dist = run() }
    val expected = (0L to 200L).map(n => (n, 0L)).toSet
    assert(local == expected, s"union-find mislabeled the chain")
    assert(dist == expected,
      "the distributed loop must label a 200-diameter chain COMPLETELY " +
        s"(split components = silent over-retention): ${dist.diff(expected)}")
  }

  test("minLabelComponents: non-convergence is LOUD — an exhausted round cap throws, never returns split components") {
    // the (a) leg of the r15 verdict's done-criterion: the cap is a
    // parameter solely so this spec can exhaust it — a 40-diameter
    // chain cannot converge in 2 rounds, and the contract is an
    // IllegalStateException, not a silently split labeling
    import graft.functions.DedupEnrich
    import spark.implicits._
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    withConf("graft.cc.localEdgeLimit" -> "0") {
      val e = intercept[IllegalStateException] {
        DedupEnrich.minLabelComponents(chain, 4, maxRounds = 2)
      }
      assert(e.getMessage.contains("did not converge"), e.getMessage)
    }
  }

  test("minLabelComponents: the FORCED-distributed loop releases every superseded checkpoint (no net persistent-RDD growth)") {
    // the r16 verdict's hygiene item: each round localCheckpoints, and
    // before this lifecycle fix every superseded round's blocks stayed
    // persisted until the ContextCleaner GC'd the frames — storage
    // memory a 100 TB run needs for real caches. Contract: after a
    // forced-distributed run, at most ONE net new persistent RDD (the
    // RETURNED frame's own checkpoint, which the caller consumes), and
    // releasing that one restores the exact pre-call set.
    import graft.functions.DedupEnrich
    import org.apache.spark.sql.graftbridge.RddBridge
    import spark.implicits._
    val sc = spark.sparkContext
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    withConf("graft.cc.localEdgeLimit" -> "0") {
      val before = sc.getPersistentRDDs.keySet
      val labels = DedupEnrich.minLabelComponents(chain, 4)
      assert(labels.count() == 65L)
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.size <= 1,
        s"a multi-round distributed CC run must keep only the returned " +
          s"frame's checkpoint persisted — leaked RDD ids: $leaked")
      RddBridge.checkpointedRdd(labels)
        .foreach(_.unpersist(blocking = false))
      val after = sc.getPersistentRDDs.keySet -- before
      assert(after.isEmpty, s"net persistent RDDs after release: $after")
    }
    // the failure path cleans up COMPLETELY: a throw returns no frame,
    // so nothing may stay persisted — edges and the in-flight
    // checkpoint release in the finally
    withConf("graft.cc.localEdgeLimit" -> "0") {
      val before = sc.getPersistentRDDs.keySet
      intercept[IllegalStateException] {
        DedupEnrich.minLabelComponents(chain, 4, maxRounds = 2)
      }
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty,
        s"the non-convergence throw must release edges AND the " +
          s"in-flight checkpoint — leaked RDD ids: $leaked")
    }
  }

  test("confInt: an oversized value CLAMPS (long parse), it does not fall back as malformed") {
    // ADVICE r16: '9999999999' failed toInt and took the
    // malformed-fallback path to the default — the doc promised a
    // clamp. The long parse delivers it: any value >= Int.MaxValue
    // clamps to Int.MaxValue - 1 (limit(n + 1) sentinel headroom).
    import graft.functions.DedupEnrich
    withConf("graft.cc.localEdgeLimit" -> "9999999999") {
      assert(DedupEnrich.confInt(spark, "graft.cc.localEdgeLimit", 7)
        == Int.MaxValue - 1)
    }
    withConf("graft.cc.localEdgeLimit" -> "2147483647") {
      assert(DedupEnrich.confInt(spark, "graft.cc.localEdgeLimit", 7)
        == Int.MaxValue - 1)
    }
    withConf("graft.cc.localEdgeLimit" -> "still-not-a-number") {
      assert(DedupEnrich.confInt(spark, "graft.cc.localEdgeLimit", 7) == 7)
    }
  }

  test("minLabelComponents: malformed conf falls back to the default; misnamed columns fail loudly") {
    import graft.functions.DedupEnrich
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    // a bad graft.cc.localEdgeLimit must not crash every CC caller
    // (d6, g3, pl16) — it falls back to the default limit (ADVICE r15)
    withConf("graft.cc.localEdgeLimit" -> "not-a-number") {
      val got = DedupEnrich.minLabelComponents(pairs, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L)),
        s"a malformed conf must degrade to the default, not throw: $got")
    }
    // the (a, b) column contract is REQUIRED, not assumed: the type
    // gate checks fields positionally but every projection below is
    // by name — a misnamed frame would mislabel silently otherwise
    val e = intercept[IllegalArgumentException] {
      DedupEnrich.minLabelComponents(Seq((1L, 2L)).toDF("src", "dst"), 2)
    }
    assert(e.getMessage.contains("(a, b)"), e.getMessage)
  }

  test("hotThresholdFor: a malformed SEMANTIC conf fails loudly, never silently runs the fixture") {
    import graft.functions.DedupEnrich
    import spark.implicits._
    val keys = Seq((1L, "k1"), (2L, "k1")).toDF("id", "key")
    // the threshold changes guard VERDICTS — unlike the engine-choice
    // confs (localEdgeLimit/maxRounds, identical output under any
    // value), a typo here must surface, not quietly run H=fixture
    for (bad <- Seq("Auto", "10_000", "3.5")) {
      withConf("graft.dedup.hotThreshold" -> bad) {
        val e = intercept[IllegalArgumentException] {
          DedupEnrich.hotThresholdFor(spark, 3L, keys)
        }
        assert(e.getMessage.contains(bad), e.getMessage)
      }
    }
    // the three accepted forms still resolve
    withConf("graft.dedup.hotThreshold" -> "17") {
      assert(DedupEnrich.hotThresholdFor(spark, 3L, keys) == 17L)
    }
    withConf("graft.dedup.hotThreshold" -> "fixture") {
      assert(DedupEnrich.hotThresholdFor(spark, 3L, keys) == 3L)
    }
    withConf("graft.dedup.hotThreshold" -> "auto") {
      // two docs on one key: median occupancy 2 -> max(2, ceil(4*2)) = 8
      assert(DedupEnrich.hotThresholdFor(spark, 3L, keys) == 8L)
    }
  }

  test("BPE: fitBpeLocal symbolizes by CODE POINT, matching charSyms") {
    import graft.functions.BpeOps
    import spark.implicits._
    // U+1D11E (musical G clef) is two UTF-16 units but ONE character
    // to Spark's substr and DuckDB's substr; a UTF-16-unit split would
    // yield unpaired surrogate halves and break the local-vs-
    // distributed merge equality off the [a-z0-9] fixture alphabet
    val clef = new String(Character.toChars(0x1D11E))
    val word = "a" + clef + "b"
    val sparkSyms = Seq(word).toDF("word")
      .select(BpeOps.charSyms(col("word"))).collect()(0).getSeq[String](0)
    assert(sparkSyms == Seq("a", clef, "b"),
      s"charSyms must split by code point: $sparkSyms")
    // the local fit's first merge operates on the same three symbols:
    // pairs are (a, clef) and (clef, b), tie broken by lhs ASC
    val (_, merges) = BpeOps.fitBpeLocal(Seq(word -> 1L), 1)
    assert(merges.head._2 == "a" && merges.head._3 == clef,
      s"local symbolization diverged from charSyms: ${merges.head}")
  }
}
