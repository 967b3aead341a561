package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan regression guards: the scale properties this library
  * promises (filter pushdown to the scan, broadcast of genuinely small
  * sides, top-k without a global sort, no accidental nested-loop joins)
  * are asserted here so a refactor cannot silently trade them away.
  * These inspect the pre-execution plan; AQE may improve it further at
  * runtime but never reintroduces the asserted-away shapes.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, Sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("s6_filter_topk: filters reach the parquet scan; top-k avoids a global sort") {
    val p = plan("s6_filter_topk")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
    assert(p.contains("PushedFilters: [IsNotNull"), "filters must push to the scan")
    assert(!p.contains("PushedFilters: []"), "scan lost its pushed filters")
  }

  test("j2_broadcast_join_agg: every dimension side is broadcast, never sort-merged") {
    val p = plan("j2_broadcast_join_agg")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "dimension join regressed to sort-merge")
  }

  test("j9_asof_event: the as-of merge stays a window pass, no nested loop") {
    val p = plan("j9_asof_event")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "as-of join must not be a theta/nested-loop join")
    assert(p.contains("Window"), "expected the union+window merge")
  }

  test("pl1_quality_gate: the 5-row median side broadcasts onto the stream") {
    val p = plan("pl1_quality_gate")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("column pruning: narrow projections read narrow schemas") {
    // s6 projects 6 of orders' 9 columns; the scan schema must shrink
    val p = plan("s6_filter_topk")
    val read = p.linesIterator.find(_.trim.startsWith("ReadSchema")).getOrElse("")
    assert(read.nonEmpty && !read.contains("o_comment"),
      s"scan reads unprojected columns: $read")
  }

  test("dedup/lsh candidate generation never cross-joins the corpus") {
    Seq("d2_ngram_jaccard", "d3_minhash_lsh", "d6_dedup_groups").foreach { n =>
      val p = plan(n)
      assert(!p.contains("CartesianProduct"),
        s"$n: blocked pair generation regressed to a cross join")
    }
  }

  test("f1_filter_matrix: the full recall predicate stays a scan-level filter, no join for non-ACL legs") {
    val p = plan("f1_filter_matrix")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
    // the matrix is a pure filter+project over one scan: no shuffle at all
    assert(!p.contains("Exchange") || p.contains("TakeOrderedAndProject") ||
      p.contains("Sort"), "predicate evaluation should not shuffle the corpus")
  }

  test("t5_sync_loop: incremental profile merges shuffle once per key, never nested-loop") {
    val p = plan("t5_sync_loop")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "full-outer profile merge must stay a hash/sort-merge equi-join")
  }

  test("p7b_orientation_store: eviction is window passes, upsert is an equi-join") {
    val p = plan("p7b_orientation_store")
    assert(p.contains("Window"), "closed-form eviction should lower to window passes")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("v3/v4 centroid side is constant-bounded (fixed-k limit), never O(corpus)") {
    // round-4 flag: `vec_id % m == 0` centroids grow with the corpus and
    // are broadcast. Since round 7 the trained codebook is materialized
    // as a LOCAL relation (lloydCentroids: the k=64 seed pick + Lloyd
    // rounds run at plan-build time), so the final plan's centroid
    // branch must be a LocalTableScan feeding a broadcast — trivially
    // constant-bounded, with no corpus-sized branch anywhere near it.
    Seq("v3_knn_ivf", "v4_pq_knn").foreach { n =>
      val p = plan(n)
      assert(p.contains("LocalTableScan") || p.contains("TakeOrderedAndProject") ||
        p.contains("limit=64") || p.contains("GlobalLimit"),
        s"$n: centroid codebook lost its constant bound")
      assert(p.contains("BroadcastHashJoin"), s"$n: centroid assignment must broadcast")
    }
  }

  test("x8_plan_match: broadcast query-token side is a fixed-size sample") {
    // round-4 flag: a bare `% 101` query pick broadcasts ~1/101 of ALL
    // corpus tokens — unbounded at scale. The fix bounds the sample to
    // the first 32 multiples of 101 (doc_id < 3232), so the broadcast
    // is O(1) in corpus size; the bound must survive in the plan.
    val p = plan("x8_plan_match")
    assert(p.contains("BroadcastHashJoin"), "token match should broadcast the query side")
    assert(p.contains("3232"), "query sample lost its fixed-size bound")
  }

  test("embedding near-dup pairs block on LSH buckets, not a bounded label domain") {
    // the pair-join key must be the (tbl, bkt) hyperplane bucket — whose
    // cardinality scales with the planes knob — never the 10-ary `label`
    Seq("d5_embedding_neardup", "a3_resolve_conflicts").foreach { n =>
      val p = plan(n)
      assert(!p.contains("CartesianProduct"), s"$n: pair generation cross-joins")
      assert(p.contains("bkt"), s"$n: expected hyperplane-bucket join key")
      assert(!p.toLowerCase.contains("label"), s"$n: pair join keyed on bounded-cardinality label")
    }
  }

  test("pl7_contamination: the bounded benchmark shingle set broadcasts onto the corpus stream") {
    val p = plan("pl7_contamination")
    assert(p.contains("BroadcastHashJoin"), "benchmark side must broadcast")
    assert(!p.contains("CartesianProduct"), "shingle overlap must be an equi-join")
  }

  test("pl5_pii_redact: the regex scan is one projection pass with no join") {
    val p = plan("pl5_pii_redact")
    assert(!p.contains("Join"), "PII scan must not join anything")
    assert(!p.contains("Exchange hashpartitioning"),
      "PII scan must not shuffle before the output sort")
  }

  test("t8: trigram counting is one expression pass — no corpus-character sort, LM broadcast") {
    val p = plan("t8_charlm_outliers")
    // the kernel is RuntimeReplaceable: the executed plan shows its
    // StaticInvoke call, not the char_trigram_counts name
    assert(p.contains("CharTrigramCountsExpr.counts("),
      "trigram counts must come from the native one-pass expression")
    assert(!p.contains("WindowGroupLimit") && !p.contains("Window ("),
      "no window pass may remain — the old formulation sorted the char frame")
    assert(p.contains("BroadcastHashJoin"),
      "the bounded-vocabulary LM must broadcast onto the per-doc counts")
  }

  test("x15/c2: chain build+verify stays window passes over the partition key, no self-join") {
    Seq("x15_deal_ledger", "c2_audit_bridge").foreach { n =>
      val p = plan(n)
      assert(p.contains("Window"), s"$n: chain linkage must be a lag window")
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
        s"$n: no non-equi join anywhere in a chain replay")
    }
  }

  test("w7/w8: ledger audits are window passes + one aggregate — no join of any kind") {
    // w7 registers (length, head hash) and w8 adds forge tiers; both
    // must stay single-scan: ordered window for offsets/relink, the
    // unordered ledger window for registration heads, one aggregate
    Seq("w7_tail_truncation", "w8_payload_forge", "w9_chain_digest").foreach { n =>
      val p = plan(n)
      assert(p.contains("Window"), s"$n: offsets/registration must be window passes")
      // struct-valued min/max buffers sort-aggregate; the shape pin is
      // "an aggregate", not which physical aggregate Spark picks
      assert(p.contains("Aggregate"), s"$n: per-ledger report must be one aggregate")
      assert(!p.contains("Join") && !p.contains("CartesianProduct"),
        s"$n: ledger audit must not join — the registration rides the same scan")
    }
  }

  test("pl10_dsir: bounded feature tables broadcast; selection is top-k, not a global sort") {
    val p = plan("pl10_dsir_importance")
    // the B-bounded log-ratio table and the 1-row totals must broadcast
    // onto the corpus stream, and the doc selection must plan as
    // TakeOrderedAndProject over the per-doc frame (top-k-then-rank) —
    // a global Sort of all docs would be the 100x-scale regression
    assert(p.contains("BroadcastHashJoin"), "log-ratio side must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "selection must be top-k")
    assert(!p.contains("CartesianProduct"), "stat sides must stay broadcast")
  }

  test("pl18 BPE: the per-iteration pair count is a map-side-combinable hash aggregate") {
    // the registered query's final frame is the collected merge table
    // (a local scan), so the pin drives the SHARED builder the loop
    // calls every iteration — the plan that runs vocabulary-wide
    import graft.functions.BpeOps
    import org.apache.spark.sql.functions._
    val vocab = Tables.documents(spark, Sf)
      .select(explode(graft.functions.TextOps.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("freq"), BpeOps.charSyms(col("word")).as("syms"))
    val p = BpeOps.pairCounts(vocab).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("HashAggregate"),
      "pair counts must hash-aggregate (map-side partial combine)")
    assert(!p.contains("Window"), "no window may enter the iteration")
    assert(!p.contains("CartesianProduct"))
    // the loop bound is a compile-time constant, not data-dependent
    assert(BpeOps.NMerges > 0 && BpeOps.NMerges <= 64)
  }

  test("pl20 classifier: the epoch gradient is ONE map-side pass — fold projection + partial_sum, no join") {
    // the registered query's EAGER training loop runs driver jobs, so
    // the pin drives the SHARED per-epoch gradient builder directly
    // (the pl18 pairCounts convention): the per-doc probability is a
    // pure projection against the weight-map LITERAL (clsMarginFold —
    // no broadcast join, no per-doc margin shuffle), and the
    // per-bucket gradient of a linear model is sum-decomposable, so
    // the plan must partial-sum before the exchange — the one shuffle
    // of an epoch moves ClsDim partial rows per task, never the
    // corpus, and NO JOIN of any kind may appear (a regression to the
    // join+two-aggregate epoch re-exchanges every scored document at
    // 100 TB)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tr = Seq((1, BigDecimal("0.5"), Seq(3L, 256L)),
      (0, BigDecimal("0.5"), Seq(3L, 257L)))
      .toDF("y", "x", "buckets")
      .select(col("y"), col("x").cast("decimal(12,9)").as("x"),
        col("buckets"))
    val w = Seq((3L, BigDecimal("0.1")), (256L, BigDecimal("-0.2")))
      .toDF("bucket", "w")
      .select(col("bucket"), col("w").cast("decimal(20,9)").as("w"))
    val p = graft.queries.Pipeline
      .clsEpochGradient(tr, graft.queries.Pipeline.clsWeightArray(w), 10L)
      .queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("partial_sum"),
      "the gradient aggregate must map-side partial-sum before the exchange")
    assert(p.contains("HashAggregate"))
    assert(!p.contains("Join"),
      "an epoch must not join — the weight table enters as a literal")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
  }

  test("pl22 PII scrub: a stateless codegen scan — no join, no aggregate, no window") {
    val p = plan("pl22_pii_scrub")
    assert(!p.contains("Join") && !p.contains("HashAggregate") &&
      !p.contains("Window") && !p.contains("CartesianProduct"),
      "the scrub must stay an embarrassingly-parallel projection")
    // exactly ONE exchange — the declared output ORDER BY; the scrub
    // itself is projection-only (codegen'd string expressions; the
    // pre-execution AQE explain doesn't mark codegen spans, so the
    // structural shape is the pin)
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 2,
      "no exchange beyond the output sort may appear")
  }

  test("pl21 gate: histogram total and cutoff table enter as BROADCAST joins") {
    // the registered query's EAGER training runs driver jobs, so the
    // pin drives the SHARED gate builder directly (the pl20 gradient
    // convention): the per-language cutoff table is <= 2 rows per
    // language BY CONSTRUCTION — demoting it to a shuffle join would
    // re-exchange the whole scored corpus at 100 TB
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val scored = Seq(
      (1L, "en", 1, false, BigDecimal("0.9")),
      (2L, "en", 0, true, BigDecimal("0.2")),
      (3L, "de", 1, false, BigDecimal("0.7")))
      .toDF("doc_id", "lang", "kept", "is_eval", "p")
      .select(col("doc_id"), col("lang"), col("kept"), col("is_eval"),
        col("p").cast("decimal(8,6)").as("p"))
    val staged4 = Seq((1L, "en", 4), (3L, "de", 0))
      .toDF("doc_id", "lang", "stage")
    val p = graft.queries.Pipeline.clsGateBuckets(scored, staged4)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 2,
      "both the histogram-total join and the cutoff join must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
    assert(p.contains("HashAggregate"), "composition must hash-aggregate")
  }

  // pl19's plan pins live in PipelineSpec next to its semantic test:
  // building the registered frame RUNS the BPE training loop (driver
  // argmax collects + checkpoints), so asserting the plan here would
  // execute ~11 jobs in a suite meant for pre-execution inspection —
  // the PipelineSpec test pays that execution anyway and asserts the
  // same shape for free.

  test("d12_guarded_batch_pairs: the hot set resolves BEFORE the pair self-join") {
    val p = plan("d12_guarded_batch_pairs")
    // the guard is structural: the per-band counts aggregate feeds an
    // ANTI-join that removes hot keys from both self-join inputs, so a
    // degenerate band key can never reach the pair-generating join —
    // if the anti-join (or the counts aggregate behind it) disappears,
    // the O(h²) hot-key explosion is back
    assert(p.contains("LeftAnti"),
      "cold-remainder anti-join on the hot set disappeared")
    assert(p.contains("LeftSemi"),
      "saturated-doc semi-join on the hot set disappeared")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "per-band counts aggregate disappeared")
    assert(!p.contains("CartesianProduct"), "pair generation must stay keyed")
  }

  test("d13_guarded_embedding_pairs: the hot cell set resolves BEFORE the bucket self-join") {
    val p = plan("d13_guarded_embedding_pairs")
    assert(p.contains("LeftAnti"),
      "cold-remainder anti-join on the hot cells disappeared")
    assert(p.contains("LeftSemi"),
      "saturated-vector semi-join on the hot cells disappeared")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "per-cell counts aggregate disappeared")
    assert(!p.contains("CartesianProduct"), "pair generation must stay keyed")
  }

  test("m3_phash_neardup: the hot hash-bucket set resolves BEFORE the media pair self-join") {
    // the guard core generalized to the MEDIA key family: same
    // structural contract as d12/d13 — per-key counts aggregate, then
    // an ANTI-join strips hot keys from both pair-join inputs and a
    // SEMI-join flags their holders, so a degenerate perceptual-hash
    // bucket (near-constant payloads) can never reach the pair join
    val p = plan("m3_phash_neardup")
    assert(p.contains("LeftAnti"),
      "cold-remainder anti-join on the hot hash buckets disappeared")
    assert(p.contains("LeftSemi"),
      "saturated-media semi-join on the hot hash buckets disappeared")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "per-key counts aggregate disappeared")
    assert(!p.contains("CartesianProduct"), "pair generation must stay keyed")
  }

  test("m6_media_decontam: the benchmark key probe BROADCASTS; no corpus self-join forms") {
    // the pl14 structural contract on the media family: the benchmark
    // side is fixed-size and broadcasts, so the 100 TB training side
    // is probed in place — a demotion to a shuffle join would exchange
    // the training keys; and no train×train pair join exists at all
    // (the reason this one surface may skip the hot-key guard)
    val p = plan("m6_media_decontam")
    assert(p.contains("BroadcastHashJoin"),
      "the benchmark key probe must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "the probe must stay an equi-join")
  }

  test("m7_frame_decontam: the benchmark key probe BROADCASTS; no corpus self-join forms") {
    // the m6 structural contract at frame granularity: the benchmark
    // hash set broadcasts, training frames are probed in place, and
    // no train×train pair join exists (no guard leg needed)
    val p = plan("m7_frame_decontam")
    assert(p.contains("BroadcastHashJoin"),
      "the benchmark key probe must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "the probe must stay an equi-join")
  }

  test("d11_guarded_lsh: the hot set gates the candidate join; every join stays an equi-join") {
    val p = plan("d11_guarded_lsh")
    // the saturation guard resolves BEFORE the candidate join (an
    // anti-join on the hot keys), so a degenerate band key can never
    // reach the pair-generating join — and nothing cross-joins
    assert(!p.contains("CartesianProduct"), "pair generation must stay keyed")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      "candidate generation must be an equi-join")
  }

  test("pl12_ccnet: the LM broadcasts onto the token stream; no doc-level tertile window survives") {
    val p = plan("pl12_ccnet_buckets")
    // the per-language unigram model must broadcast (vocab is
    // Heaps-law sublinear; at 100 TB it is a materialized artifact) —
    // a shuffle join of corpus tokens against the model would be the
    // scale regression
    assert(p.contains("BroadcastHashJoin"), "LM side must broadcast")
    // the r12 scale-killer: ntile(3) over partitionBy(lang) funnels the
    // head language's every doc through ONE window sort. Bucketing must
    // be broadcast cutoffs + map-side comparison; the only window
    // allowed is the cumulative count over the (lang, avg_logp)
    // HISTOGRAM, whose size is value-space-bounded, never corpus-bounded
    assert(!p.contains("ntile"), "doc-level ntile window reintroduced")
    val windowSections = p.split("\\n\\(\\d+\\) ").filter(_.startsWith("Window"))
    assert(windowSections.nonEmpty, "expected the histogram cumulative-count window")
    windowSections.foreach { w =>
      assert(w.contains("sum(cnt"),
        s"a Window that is not the histogram cumulative count appeared:\n$w")
    }
    assert(!p.contains("CartesianProduct"))
  }

  test("d1/d4/pl13: fingerprint group stats aggregate map-side, never window-sort per key") {
    // count(*) over (partition by fp) funnels a mega-dup group (a
    // boilerplate doc duplicated 10^8 times — the hot-band corpus class)
    // through ONE window task; groupBy(fp) + join-back pre-combines
    // map-side and the build side is one row per fingerprint
    Seq("d1_exact_dedup", "d4_simhash", "pl13_corpus_report").foreach { n =>
      val p = plan(n)
      assert(!p.contains("Window"),
        s"$n: per-fingerprint window sort reintroduced")
      assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
        s"$n: expected the map-side-combinable group aggregate")
    }
  }

  test("pl14_decontaminate: the eval-gram table broadcasts; the training corpus never shuffles its grams") {
    val p = plan("pl14_decontaminate")
    // a benchmark's n-gram table is bounded by the benchmark, not the
    // corpus — it must broadcast; a shuffle join keyed on 13-gram
    // strings would move the whole tokenized corpus at 100 TB
    assert(p.contains("BroadcastHashJoin"), "eval grams must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the gram probe regressed to a corpus shuffle join")
    assert(!p.contains("CartesianProduct"))
  }

  test("pl15_domain_mix: rates broadcast; sampling is map-side, no doc-level shuffle or sort") {
    val p = plan("pl15_domain_mix")
    // the only shuffle is the L-row language count; the corpus side
    // takes a broadcast rate table and filters map-side
    assert(p.contains("BroadcastHashJoin"), "rate table must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the sampler regressed to a corpus shuffle join")
    assert(!p.contains("Window"), "no window belongs in a stateless sampler")
  }

  // pl16's plan pins live in PipelineSpec's executing funnel test: the
  // fuzzy stage's CC loop makes pl16's BUILD run driver jobs, which
  // PlanSpec's build-only plan() must not pay (the pl18/pl19 rule).

  test("pl17_shuffle_shards: stateless map-side assignment — one scan, no join, no window") {
    val p = plan("pl17_shuffle_shards")
    assert(!p.contains("Join"), "shard assignment must not join anything")
    assert(!p.contains("Window"), "shard assignment must not window anything")
    assert(!p.contains("HashAggregate"), "shard assignment must not aggregate")
  }

  test("d7_semdedup: pair generation is a cid equi-join, never a corpus cross-join") {
    val p = plan("d7_semdedup")
    // within-cluster pairing must key on the cluster id (the SemDeDup
    // scale contract); the only nested-loop allowed is the O(k)
    // broadcast centroid assignment
    assert(!p.contains("CartesianProduct"), "pair generation cross-joins the corpus")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      "expected an equi-join for within-cluster pairs")
    assert(p.contains("cid"), "pair join must key on the cluster id")
  }

  test("incremental dedup (d8/d9/d10) never cross-joins the corpus; bloom rides a tiny broadcast") {
    // d8's only nested loop is the 1-row bloom/size frame against the
    // batch; d9/d10 pair generation must stay keyed equi-joins
    Seq("d9_substring_dedup", "d10_incremental_lsh").foreach { n =>
      val p = plan(n)
      assert(!p.contains("CartesianProduct"),
        s"$n: pair generation regressed to a cross join")
    }
    val p8 = plan("d8_bloom_incremental")
    assert(!p8.contains("CartesianProduct"),
      "d8: bloom side must broadcast, not cartesian")
    assert(p8.contains("BroadcastExchange"), "d8: bloom filter must broadcast")
  }
}
