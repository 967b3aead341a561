package graft

import graft.eval.EmbeddingSla

/** Embedding-backend SLA bench (the reference's `mnemo bench
  * embeddings --slo-ms <N>`): measures every configured backend's
  * retrieval quality and embed-latency tail on the fixture, prints ONE
  * JSON line with per-backend numbers plus the SLA-aware
  * recommendation.
  *
  * Usage: runMain graft.BenchEmbeddings [sfDir] [sloMs]
  */
object BenchEmbeddings {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val sloMs = if (args.length > 1) args(1).toDouble else 250.0
    val spark = Harness.session()

    val latencyTexts = LongMemFixture.records.map(_.query).take(10)

    // the committed precomputed-vector fixture rides along when present
    // (real model vectors load through the same backend — see
    // EmbeddingSla.PrecomputedBackend)
    val fixture = "fixtures/longmem_vectors.parquet"
    val backends = EmbeddingSla.DefaultBackends ++
      (if (new java.io.File(fixture).exists())
        Seq(EmbeddingSla.PrecomputedBackend("precomputed-trigram-256", fixture))
      else Nil)

    val results = backends.map { b =>
      // one untimed warmup embed so codegen compilation is not billed
      // to the first backend's p95
      EmbeddingSla.singleEmbedSamples(spark, b, latencyTexts.take(1), 1)
      EmbeddingSla.measure(spark, sfDir, b, latencyTexts)
    }
    val rec = EmbeddingSla.recommend(results, sloMs)

    def f(d: Double) = BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val rows = results.map(r =>
      s"""{"backend":"${r.name}","ndcg_at_10":${f(r.ndcgAt10)},"recall_at_10":${f(r.recallAt10)},""" +
        s""""p50_ms":${f(r.p50Ms)},"p95_ms":${f(r.p95Ms)},"batch_docs_per_sec":${f(r.batchDocsPerSec)}}""")
      .mkString("[", ",", "]")
    println(
      s"""{"bench":"embeddings","slo_ms":$sloMs,"backends":$rows,""" +
        s""""recommended":${rec.chosen.map("\"" + _ + "\"").getOrElse("null")},""" +
        s""""best_quality":"${rec.bestQuality}","ndcg_gap":${f(rec.ndcgGap)}}""")
    spark.stop()
  }
}
