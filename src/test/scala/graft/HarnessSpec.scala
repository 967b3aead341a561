package graft

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

import graft.eval.Detection

class HarnessSpec extends AnyFunSuite {

  test("num and BenchDetection.rateJson keep a '.' decimal under a comma-decimal default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    val (interp, n, rate) =
      try (f"${0.5}%.4f", Harness.num("%.4f", 0.5),
        BenchDetection.rateJson(Detection.FamilyRate(200, 100)))
      finally Locale.setDefault(saved)
    assert(interp == "0,5000", s"the default locale did not switch: $interp")
    assert(n == "0.5000")
    assert(rate ==
      """{"trials":200,"detected":100,"rate":0.5000,"wilson95":[0.4314,0.5686]}""")
  }

  test("jsonString escapes quotes, backslashes and every control char") {
    assert(Harness.jsonString("a\"b\\c\n\r\t\u0001é") ==
      "\"a\\\"b\\\\c\\n\\r\\t\\u0001é\"")
  }

  test("writeArtifact prints the line as UTF-8 bytes whatever the stream's charset") {
    val bytes = new java.io.ByteArrayOutputStream()
    val saved = System.out
    // an ASCII stream: println would encode the em dash as '?'
    System.setOut(new java.io.PrintStream(bytes, true, "US-ASCII"))
    try Harness.writeArtifact("""{"note":"a — b"}""")
    finally System.setOut(saved)
    val out = bytes.toByteArray.toSeq
    assert(out.containsSlice(Seq(0xE2, 0x80, 0x94).map(_.toByte)),
      s"no UTF-8 em dash in ${out.map(b => f"$b%02X").mkString(" ")}")
    assert(new String(bytes.toByteArray, "UTF-8") == "{\"note\":\"a — b\"}\n")
  }

  test("reps runs every rep in order, keeps every sample and reports the min") {
    val seen = Seq.newBuilder[Int]
    val s = Harness.reps(3) { i => seen += i; Seq(2.0, 0.5, 1.0)(i - 1) }
    assert(seen.result() == Seq(1, 2, 3))
    assert(s.secs == Seq(2.0, 0.5, 1.0) && s.min == 0.5)
  }
}
