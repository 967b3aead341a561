package graft.eval

import graft.{Harness, LongMemFixture}

import scala.util.hashing.MurmurHash3

/** Generates the committed precomputed-vector fixture
  * (`fixtures/longmem_vectors.parquet`) consumed by
  * [[EmbeddingSla.PrecomputedBackend]] and RetrievalQualitySpec.
  *
  * The vectors are 256-dim signed-feature-hashed character trigrams
  * (the classic hashing trick): deterministic, model-free, and a
  * genuinely stronger representation than the 64-dim token-hash floor
  * embedder — a stand-in that exercises the EXACT path a user with
  * real model vectors (nomic-embed, ONNX MiniLM — the embedders behind
  * BASELINE.md's 0.739/0.689 recall@1 rows) would use: vectors arrive
  * as parquet data, no model runtime in the engine.
  *
  * Usage: runMain graft.eval.MakeVectorFixture [outDir]
  */
object MakeVectorFixture {

  val Dim = 256

  /** Signed trigram feature-hash, L2-normalized. Deterministic across
    * runs and JVMs (MurmurHash3 over UTF-16 with fixed seeds). */
  def trigramVector(text: String, dim: Int = Dim): Array[Double] = {
    val v = new Array[Double](dim)
    val norm = " " + text.toLowerCase.replaceAll("\\s+", " ").trim + " "
    if (norm.length >= 3) {
      var i = 0
      while (i <= norm.length - 3) {
        val t = norm.substring(i, i + 3)
        val h = MurmurHash3.stringHash(t, 0x9747b28c)
        val s = MurmurHash3.stringHash(t, 0x85ebca6b)
        v(math.floorMod(h, dim)) += (if (s >= 0) 1.0 else -1.0)
        i += 1
      }
    }
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n > 0) v.map(_ / n) else v
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.length > 0) args(0) else "fixtures/longmem_vectors.parquet"
    val spark = Harness.session()
    import spark.implicits._
    LongMemFixture.records
      .map(r => (r.id, trigramVector(r.content), trigramVector(r.query)))
      .toDF("id", "doc_vec", "query_vec")
      .coalesce(1)
      .write.mode("overwrite").parquet(out)
    println(s"wrote ${LongMemFixture.records.size} vector rows to $out")
    spark.stop()
  }
}
