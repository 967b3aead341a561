package graft.eval

import java.nio.file.{Files, Paths}

import graft.Harness.jsonString
import graft.LongMemFixture

/** Dumps the retrieval-quality fixture's (id, content, query) texts as
  * JSON — the input half of the offline real-model vector export
  * (scripts/export_vectors.py). Runs with no Spark session: the
  * fixture is driver-local data.
  *
  * Usage: runMain graft.eval.DumpFixtureTexts [outPath]
  */
object DumpFixtureTexts {
  def main(args: Array[String]): Unit = {
    val out = if (args.length > 0) args(0) else "fixtures/longmem_texts.json"
    val rows = LongMemFixture.records.map { r =>
      s"""{"id":${jsonString(r.id)},"content":${jsonString(r.content)},"query":${jsonString(r.query)}}"""
    }
    Files.createDirectories(Paths.get(out).toAbsolutePath.getParent)
    Files.writeString(Paths.get(out), rows.mkString("[\n", ",\n", "\n]\n"))
    println(s"wrote ${rows.size} fixture texts to $out")
  }
}
