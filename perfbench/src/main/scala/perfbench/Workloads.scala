package perfbench

/** What each query workload times, and how many rotating shards its
  * untimed queries are oracle-checked in (one shard per run, chosen by
  * the seed).
  *
  * The timed lists are small because every run starts a JVM and a Spark
  * session, and all runs of the benchmark on two commits (4 + 22 per
  * workload) must fit one hour: a pass takes two to three seconds on
  * four cores, so that five or more fit in one run's measuring time. Every
  * query of both workloads is still oracle-checked, one shard per run,
  * and `QueryWorkload.checkCoverage` fails the run if the workloads stop
  * holding exactly the registered queries. */
object Workloads {

  /** Per-row curation work through the native text kernels: the exact
    * fingerprint (d1, which also carries the planted-duplicate check),
    * MinHash band keys (d3), SimHash (d4), span removal (d14) and the
    * Gopher token-stats rules (pl11). */
  val curationTimed: Seq[String] = Seq(
    "d1_exact_dedup", "d3_minhash_lsh", "d4_simhash", "d14_substring_rewrite",
    "pl11_gopher_rules")
  val curationShards = 30

  /** One query from each of seven of the eleven interactive groups:
    * relational, retrieval, similarity, lifecycle, event windows, trust
    * and governance. */
  val interactiveTimed: Seq[String] = Seq(
    "j5_anti_join", "r7_rrf_fusion", "v1_knn_bruteforce", "l1_decay_pass",
    "st1_hourly_counts", "f3_trust_rerank", "q1_quarantine_replay")
  val interactiveShards = 40
}
