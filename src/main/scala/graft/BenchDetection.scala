package graft

import graft.Harness.num
import graft.eval.Detection

/** Detection-rate bench main → DETECTION.json (one JSON line, same
  * convention as [[Bench]]/[[BenchWrites]]). Trial counts mirror the
  * reference's published table (BASELINE.md): 200 per tamper family,
  * 300 benign / 300 per injection lane. See [[graft.eval.Detection]]
  * for the families and the single-window-pass design. */
object BenchDetection {

  /** One family's JSON object: trials, detections, rate and Wilson
    * interval, numbers in Locale.ROOT (see [[Harness.num]]). */
  def rateJson(r: Detection.FamilyRate): String = {
    val (lo, hi) = r.wilson95
    s"""{"trials":${r.trials},"detected":${r.detected},"rate":${num("%.4f", r.rate)},""" +
      s""""wilson95":[${num("%.4f", lo)},${num("%.4f", hi)}]}"""
  }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session()

    val t0 = System.nanoTime()
    val tiered = Detection.tamperRatesTiered(spark, attackTrials = 200,
      benignTrials = 300)
    val tamper = tiered.map { case (k, v) => k -> v.full }
    val (tpr, fpr) = Detection.injectionRates(spark, trials = 300)
    // 180 = the reference's forged-reasoning trial count
    val asr = Detection.reasoningTrustAsr(spark, trials = 180)
    val (zTpr, zFpr, zMed) = Detection.zScoreLane(spark, trials = 300)
    val sec = (System.nanoTime() - t0) / 1e9

    val famJson = Seq("benign", "payload_forge", "delete_interior",
      "reorder", "hash_forge_interior", "hash_forge_tail",
      "tail_truncation", "single_byte")
      .map(f => s""""$f":${rateJson(tamper(f))}""").mkString(",")
    val line =
      s"""{"bench":"detection","sec":${num("%.2f", sec)},""" +
        s""""chain":{"threads":${Detection.Threads},"rows_per_thread":${Detection.RowsPerThread}},""" +
        s""""families":{$famJson},""" +
        s""""verifier":"walk OR length-registration OR registered-recursive-digest (w9)",""" +
        s""""disclosed_boundary":{"hash_forge_tail_walk_reg_only":${rateJson(tiered("hash_forge_tail").walkReg)},""" +
        """"note":"a self-consistent forge of a thread's LAST row evades the walk (no successor) and the length registration (count unchanged) — the suffix-rehash evasion inherent to an unkeyed SHA-256 chain (the reference mitigates it with a keyed read-provenance HMAC); only the registered recursive digest catches it, hence the full-verifier row above"},""" +
        s""""injection":{"tpr":${rateJson(tpr)},"fpr":${rateJson(fpr)}},""" +
        s""""reasoning_forge":{"asr_defense_off":${rateJson(asr("asr_defense_off"))},""" +
        s""""asr_defense_on":${rateJson(asr("asr_defense_on"))},""" +
        s""""benign_fp":${rateJson(asr("benign_fp"))},""" +
        """"benign_fp_label":"by construction for a pure provenance check (benign macs are valid or absent) — guards HMAC determinism, NOT an empirical FP result comparable to the reference's measured 0/180"},""" +
        s""""zscore_lane":{"tpr":${rateJson(zTpr)},"fpr":${rateJson(zFpr)},""" +
        s""""median_poison_z":${num("%.3f", zMed)},"gate":3.0},""" +
        """"baseline_ref":"reference: 100% delete/reorder/hash-forge (200 ea), """ +
        """0% payload-only forge + tail truncation (disclosed gaps), MINJA lexical 0% ASR / 0 FP; """ +
        """this engine: walk catches payload forgery (content-hash recompute), """ +
        """length registration catches tail truncation (w7 mechanism), """ +
        """registered recursive digest catches tail hash-forges (w9 mechanism)"}"""
    Harness.writeArtifact(line, "DETECTION.json")
    spark.stop()
  }
}
