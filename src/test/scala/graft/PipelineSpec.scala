package graft

class PipelineSpec extends SparkSpec {

  test("pl18 BPE merges: ranks contiguous, counts non-increasing, symbols closed under earlier merges") {
    import graft.functions.BpeOps
    val rows = SparkEntry.queries("pl18_bpe_merges")(spark, Sf).collect()
    assert(rows.length == BpeOps.NMerges, "fixture exhausted the pair space")
    assert(rows.map(_.getInt(0)).toSeq == (1 to rows.length),
      "merge ranks must be contiguous from 1")
    // c_{k+1} <= c_k is a BPE invariant: pre-existing pairs were all
    // <= the argmax, and a merge creates at most one (x, ab)/(ab, y)
    // pair per merged occurrence, so no new pair can exceed c_k
    val counts = rows.map(_.getLong(3))
    assert(counts.zip(counts.tail).forall { case (x, y) => x >= y },
      s"pair counts must be non-increasing: ${counts.toSeq}")
    // closure: every merge operand is a single character or the
    // product of an EARLIER merge — the property that makes the table
    // a valid tokenizer (rules apply in rank order at encode time)
    val known = scala.collection.mutable.Set[String]()
    rows.foreach { r =>
      Seq(r.getString(1), r.getString(2)).foreach { s =>
        assert(s.length == 1 || known(s),
          s"merge ${r.getInt(0)} operand '$s' is not derivable from earlier merges")
      }
      known += r.getString(1) + r.getString(2)
    }
  }

  test("pl18: driver-local collect-then-fit learns the IDENTICAL merge table (the production cadence form)") {
    // the BpeOps.NMerges cadence contract: after the one corpus pass,
    // a fit over the collected (word, freq) vocabulary must be
    // merge-for-merge identical to the distributed loop — counts,
    // symbols, ranks, tie-breaks
    import graft.functions.BpeOps
    val dist = SparkEntry.queries("pl18_bpe_merges")(spark, Sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    val vocab = graft.queries.Pipeline.survivorWords(spark, Sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val local = BpeOps.learnBpeLocal(vocab)
    assert(local == dist,
      s"local fit diverged from the distributed loop:\n local=$local\n dist=$dist")
  }

  test("pl19 BPE encode: token counts sit between word and char counts, and the merges genuinely compress") {
    val df = SparkEntry.queries("pl19_bpe_encode")(spark, Sf)
    // plan pins ride the execution this test pays anyway (building the
    // frame runs the training loop, so PlanSpec deliberately skips it):
    // the encode stage is a keyed join + hash aggregate, never a
    // window or a cross join
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "per-language stats must hash-aggregate")
    assert(!p.contains("Window"), "no window may enter the encode")
    assert(!p.contains("CartesianProduct"), "the encode join must stay keyed")
    val rows = df.collect()
    assert(rows.nonEmpty, "no language had funnel survivors")
    rows.foreach { r =>
      val (lang, w, t, c) = (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      // every word is >= 1 token and every token is >= 1 char
      assert(w <= t && t <= c, s"$lang: expected n_words <= n_tokens <= n_chars, got ($w, $t, $c)")
      assert(r.getDouble(4) >= 1.0, s"$lang: fertility below 1")
      assert(r.getDouble(5) >= 1.0, s"$lang: chars/token below 1")
    }
    // the 10 learned merges must fire somewhere: strictly fewer tokens
    // than characters corpus-wide (fertility strictly under the
    // no-merge ceiling where every char is its own token)
    val (tTot, cTot) = (rows.map(_.getLong(2)).sum, rows.map(_.getLong(3)).sum)
    assert(tTot < cTot, s"merges compressed nothing: tokens=$tTot chars=$cTot")
  }

  test("quality gate keeps at least the upper half of every language stratum") {
    val d = Tables.documents(spark, Sf)
    val perLang = d.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = SparkEntry.queries("pl1_quality_gate")(spark, Sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, n) =>
      val k = kept.getOrElse(lang, 0L)
      assert(k >= n / 2, s"$lang kept $k of $n — median gate must keep >= half")
      assert(k <= n, s"$lang kept more than exists")
    }
  }

  test("stratified sample is a subset, reproducible, and near the per-stratum target") {
    val rows = SparkEntry.queries("pl2_stratified_sample")(spark, Sf).collect()
    rows.foreach { r =>
      val total = r.getAs[Long]("n_total")
      val keptN = r.getAs[Long]("n_kept")
      assert(keptN <= total)
      // acceptance rate min(1, 100/total) over 256 uniform buckets: allow
      // generous binomial slack, but catch off-by-8x bugs
      val expect = math.min(total.toDouble, 100.0 * total / math.max(total, 100.0))
      assert(keptN <= expect * 3 + 16, s"${r.getAs[String]("lang")}: $keptN vs expect ~$expect")
    }
    val again = SparkEntry.queries("pl2_stratified_sample")(spark, Sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("pii redaction: every flagged doc's fingerprint is free of raw PII") {
    // the redacted text hash must differ from the hash of the spliced
    // text (something was actually replaced), and the per-type counts
    // must match the splice rule (one email iff doc_id % 7 == 0, etc.)
    val rows = SparkEntry.queries("pl5_pii_redact")(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_emails") == (if (id % 7 == 0) 1L else 0L), s"doc $id emails")
      assert(r.getAs[Long]("n_ips") == (if (id % 11 == 0) 1L else 0L), s"doc $id ips")
      assert(r.getAs[Long]("n_phones") == (if (id % 13 == 0) 1L else 0L), s"doc $id phones")
    }
  }

  test("repetition stats: fractions are in range and the gate splits the corpus") {
    val rows = SparkEntry.queries("pl6_repetition_stats")(spark, Sf).collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val dup = r.getAs[Double]("dup_token_frac")
      val top = r.getAs[Double]("top_bigram_frac")
      assert(dup >= 0.0 && dup < 1.0, s"dup_token_frac out of range: $dup")
      assert(top > 0.0 && top <= 1.0, s"top_bigram_frac out of range: $top")
    }
    val kept = rows.count(_.getAs[Int]("keep") == 1)
    assert(kept > 0 && kept < rows.length,
      s"gate must split the corpus, kept $kept of ${rows.length}")
  }

  test("contamination: flagged fractions are in (0,1] and benchmark docs are excluded") {
    val rows = SparkEntry.queries("pl7_contamination")(spark, Sf).collect()
    assert(rows.nonEmpty, "trigram overlap must flag some docs on this corpus")
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(!(id % 97 == 0 && id < 97 * 32), s"benchmark doc $id flagged itself")
      val f = r.getAs[Double]("contamination_frac")
      assert(f > 0.0 && f <= 1.0)
      assert(r.getAs[Long]("n_contaminated") <= r.getAs[Long]("n_shingles"))
    }
  }

  test("kmv sketch: estimate tracks the exact distinct count") {
    // k=64 KMV has relative stddev ~ 1/sqrt(k-2) ~ 13%; allow 4 sigma
    val rows = SparkEntry.queries("k2_kmv_distinct")(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_distinct").toDouble
      val est = r.getAs[Double]("kmv_estimate")
      assert(math.abs(est - exact) / exact <= 0.52,
        s"${r.getAs[String]("event_type")}: estimate $est vs exact $exact")
    }
  }

  test("sequence packing: every doc lands in exactly one sequence and seq ids are contiguous") {
    val rows = SparkEntry.queries("pl8_sequence_pack")(spark, Sf).collect()
    val totalDocs = Tables.documents(spark, Sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == totalDocs,
      "every document must be packed exactly once")
    rows.groupBy(_.getAs[Int]("shard")).foreach { case (shard, rs) =>
      val seqs = rs.map(_.getAs[Long]("seq")).sorted
      assert(seqs.head == 0L && seqs.last == seqs.length - 1,
        s"shard $shard: sequence ids must be contiguous from 0, got ${seqs.mkString(",")}")
    }
    assert(rows.map(_.getAs[String]("doc_digest")).distinct.length == rows.length,
      "per-sequence membership digests must be unique")
  }

  test("count-min sketch never undercounts and is tight on heavy hitters") {
    val rows = SparkEntry.queries("k3_heavy_hitters")(spark, Sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getAs[Long]("cm_estimate") >= r.getAs[Long]("exact_n"),
        s"${r.getAs[String]("tok")}: count-min undercounted")
      assert(r.getAs[Long]("inflation") >= 0L)
    }
    // heavy hitters dominate their cells: min-over-4-rows inflation stays
    // well under the per-cell collision mass (total/(w=64) per row)
    val total = rows.map(_.getAs[Long]("exact_n")).sum
    rows.take(5).foreach { r =>
      assert(r.getAs[Long]("inflation") <= total,
        s"${r.getAs[String]("tok")}: implausible inflation")
    }
  }

  test("kmeans clustering partitions the corpus with sane cohesion") {
    val rows = SparkEntry.queries("v5_kmeans_clusters")(spark, Sf).collect()
    val corpus = Tables.embeddings(spark, Sf).count()
    assert(rows.map(_.getAs[Long]("n_members")).sum == corpus,
      "every vector must belong to exactly one cluster")
    rows.foreach { r =>
      val c = r.getAs[Double]("mean_cos")
      assert(c > -1.0 && c <= 1.0, s"cluster ${r.get(0)}: mean_cos $c out of range")
    }
  }

  test("corpus mix weights sum to ~1 and allocations never exceed the budget") {
    val rows = SparkEntry.queries("pl3_corpus_mix")(spark, Sf).collect()
    val wsum = rows.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wsum - 1.0) < 1e-3, s"weights sum to $wsum")
    val alloc = rows.map(_.getAs[Long]("alloc_tokens")).sum
    assert(alloc <= 100000L)
    assert(alloc >= 100000L - rows.length, "floor() loses at most 1 token per source")
    // sqrt rebalancing: every source's weight share must exceed its
    // proportional-token share if it is below-average sized
    val toks = rows.map(r => r.getAs[String]("source") -> r.getAs[Long]("est_tokens")).toMap
    val totalToks = toks.values.sum.toDouble
    rows.foreach { r =>
      val share = toks(r.getAs[String]("source")) / totalToks
      if (share < 1.0 / rows.length)
        assert(r.getAs[Double]("weight") >= share,
          s"${r.getAs[String]("source")}: sqrt mix must upweight small sources")
    }
  }

  test("gopher rules: kept is the exact conjunction, and the live rules actually split the corpus") {
    val rows = SparkEntry.queries("pl11_gopher_rules")(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val flags = Seq("r_words", "r_word_len", "r_symbol", "r_alpha", "r_stop")
        .map(r.getAs[Int](_))
      assert(r.getAs[Int]("kept") == (if (flags.forall(_ == 1)) 1 else 0),
        s"doc ${r.get(0)}: kept must be the conjunction of the rule flags")
      // flag↔statistic coherence on the two rules with corpus variance
      assert((r.getAs[Int]("r_words") == 1) ==
        (r.getAs[Long]("n_words") >= 50 && r.getAs[Long]("n_words") <= 100000))
      assert((r.getAs[Int]("r_stop") == 1) == (r.getAs[Long]("n_stop_hits") >= 2))
    }
    // non-vacuity: the word-count and stop-word rules must each fail
    // SOME doc and pass SOME doc, and the conjunction must be a strict
    // subset (a filter that keeps everything or nothing measures nothing)
    def split(flag: String) = {
      val kept = rows.count(_.getAs[Int](flag) == 1)
      assert(kept > 0 && kept < rows.length, s"$flag is vacuous: $kept/${rows.length}")
    }
    split("r_words"); split("r_stop"); split("kept")
  }

  test("corpus report: internally coherent, and its dup count IS d1's row count") {
    val rows = SparkEntry.queries("pl13_corpus_report")(spark, Sf).collect()
    assert(rows.length == 5, s"one row per language: ${rows.length}")
    rows.foreach { r =>
      val (n, dup) = (r.getAs[Long]("n_docs"), r.getAs[Long]("dup_docs"))
      assert(dup <= n && n > 0)
      assert(math.abs(r.getAs[Double]("dup_frac") - dup.toDouble / n) < 1e-6,
        s"${r.getAs[String]("lang")}: frac/count mismatch")
      assert(r.getAs[Double]("mean_tokens") > 0 &&
        r.getAs[Double]("p50_tokens") > 0 &&
        r.getAs[Long]("total_tokens") >= r.getAs[Long]("n_docs"))
    }
    assert(rows.exists(_.getAs[Long]("dup_docs") > 0),
      "the dup-rate leg is vacuous on this corpus")
    // the report's dup accounting and the d1 dedup pass share one
    // fingerprint by construction — their totals must agree exactly
    val d1rows = SparkEntry.queries("d1_exact_dedup")(spark, Sf).count()
    assert(rows.map(_.getAs[Long]("dup_docs")).sum == d1rows,
      "report dup_docs must equal the docs d1 places in dup groups")
  }

  test("ccnet buckets: cutoff tertiles cover rank thresholds, respect ties, and kept = head+middle") {
    val rows = SparkEntry.queries("pl12_ccnet_buckets")(spark, Sf).collect()
    assert(rows.nonEmpty)
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    byLang.foreach { case (lang, rs) =>
      val n = rs.length.toLong
      val sizes = rs.groupBy(_.getAs[Int]("bucket")).view.mapValues(_.length).toMap
      assert(sizes.keySet == Set(1, 2, 3), s"$lang buckets: $sizes")
      // cutoff semantics: bucket k's boundary tie-group starts at rank
      // <= ceil(k*n/3) and the whole group lands in bucket k, so the
      // cumulative counts can only MEET or OVERSHOOT the rank targets
      assert(sizes(1) >= (n + 2) / 3, s"$lang: head short of ceil(n/3): $sizes")
      assert(sizes(1) + sizes(2) >= (2 * n + 2) / 3,
        s"$lang: head+middle short of ceil(2n/3): $sizes")
      // ties share a bucket — the property ntile violated and cutoffs enforce
      rs.groupBy(_.getAs[Double]("avg_logp")).foreach { case (s, g) =>
        assert(g.map(_.getAs[Int]("bucket")).distinct.length == 1,
          s"$lang: tie group at $s split across buckets")
      }
      // ordering: every head doc scores >= every middle doc >= every tail
      def scoresOf(b: Int) =
        rs.filter(_.getAs[Int]("bucket") == b).map(_.getAs[Double]("avg_logp"))
      assert(scoresOf(1).min >= scoresOf(2).max - 1e-9 &&
        scoresOf(2).min >= scoresOf(3).max - 1e-9,
        s"$lang: tertiles must partition the score order")
    }
    rows.foreach { r =>
      val b = r.getAs[Int]("bucket")
      assert(r.getAs[String]("tier") ==
        (if (b == 1) "head" else if (b == 2) "middle" else "tail"))
      assert(r.getAs[Int]("kept") == (if (b <= 2) 1 else 0),
        "CCNet keeps head+middle, drops tail")
    }
    // non-vacuity: scores must actually vary, or the buckets are noise
    val scores = rows.map(_.getAs[Double]("avg_logp")).distinct
    assert(scores.length > 10, s"score variance collapsed: ${scores.length} distinct")
  }

  test("decontamination flags exactly the training docs sharing a 13-gram with the eval slice") {
    val rows = SparkEntry.queries("pl14_decontaminate")(spark, Sf).collect()
    assert(rows.nonEmpty, "the overlap screen is vacuous on this corpus")
    rows.foreach { r =>
      val (id, n, hit, frac) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))
      assert(id % 7 != 0, s"eval doc $id flagged as training contamination")
      assert(hit >= 1 && hit <= n, s"doc $id: $hit hits of $n grams")
      assert(frac > 0.0 && frac <= 1.0)
    }
    // ground truth on a small corpus: brute-force the overlap set
    import org.apache.spark.sql.functions._
    import graft.functions.TextOps
    val base = graft.Tables.documents(spark, Sf)
      .select(col("doc_id"),
        array_distinct(TextOps.ngrams(TextOps.tokens(col("text")), 13)).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val evalGrams = base.collect { case (id, g) if id % 7 == 0 => g }
      .foldLeft(Set.empty[String])(_ ++ _)
    val truth = base.collect {
      case (id, g) if id % 7 != 0 && (g & evalGrams).nonEmpty => id }.toSet
    assert(rows.map(_.getLong(0)).toSet == truth,
      "flagged set diverged from the brute-force overlap truth")
    // a doc with < 13 tokens can never be flagged (strict ngrams)
    rows.foreach(r => assert(r.getLong(1) >= 1))
  }

  test("domain mix balances the corpus toward the uniform target, deterministically") {
    val before = graft.Tables.documents(spark, Sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nmin = before.values.min
    val rows = SparkEntry.queries("pl15_domain_mix")(spark, Sf).collect()
    val after = rows.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(after.keySet == before.keySet, s"a language vanished: $after")
    after.foreach { case (lang, kept) =>
      // binomial(n_l, nmin/n_l): mean nmin, sd < sqrt(nmin) — 4 sigma
      val sd = math.sqrt(nmin.toDouble)
      assert(math.abs(kept - nmin) <= 4 * sd,
        s"$lang kept $kept, expected ~$nmin (before: ${before(lang)})")
    }
    // the head language genuinely downsampled
    val head = before.maxBy(_._2)._1
    assert(after(head) < before(head) / 2,
      s"head language $head must downsample: ${before(head)} -> ${after(head)}")
    // determinism: a second run keeps the identical doc set (the
    // lineage-audit property rand() sampling lacks)
    val again = SparkEntry.queries("pl15_domain_mix")(spark, Sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq,
      "sampler must be reproducible run over run")
  }

  test("curation funnel: monotone attrition, every stage non-vacuous, quality stage equals pl11's verdicts") {
    val df = SparkEntry.queries("pl16_curation_funnel")(spark, Sf)
    // plan pins ride the execution this test pays anyway (the fuzzy
    // stage's CC loop makes pl16's BUILD run driver jobs, so PlanSpec
    // deliberately skips it — the pl18/pl19 convention): the eval-gram
    // probe broadcasts, the enriched doc pass is cache-shared, the
    // de-windowed stage shapes hold, and the guard discipline admits
    // no cartesian pair generation
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"), "the eval-gram probe must broadcast")
    assert(!p.contains("Window"),
      "the funnel composes the de-windowed stage shapes — no window belongs here")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("InMemoryTableScan"),
      "the enriched doc pass must be shared via cache, not recomputed per stage")
    val rows = df.collect()
    assert(rows.length == 5, s"one row per language: ${rows.length}")
    rows.foreach { r =>
      val counts = (1 to 6).map(r.getLong)
      assert(counts.zip(counts.tail).forall { case (x, y) => x >= y },
        s"${r.getString(0)}: funnel must be monotone: ${counts.mkString(" >= ")}")
      assert(r.getDouble(7) > 0.0 && r.getDouble(7) <= 1.0)
    }
    def tot(i: Int) = rows.map(_.getLong(i)).sum
    assert(tot(1) > tot(2), "quality stage dropped nothing — vacuous")
    assert(tot(2) > tot(3), "exact-dedup stage dropped nothing — vacuous")
    assert(tot(3) > tot(4), "fuzzy-dedup stage dropped nothing — vacuous")
    assert(tot(4) > tot(5), "decontamination stage dropped nothing — vacuous")
    assert(tot(5) > tot(6), "composition-sampling stage dropped nothing — vacuous")
    // stage 5 == the pl15 sampler on the survivor counts: the smallest
    // surviving language has rate n_min/n = 1.0, so it advances WHOLE —
    // and only languages with more survivors attrite
    val minClean = rows.map(_.getLong(5)).min
    assert(rows.exists(r => r.getLong(5) == minClean && r.getLong(6) == minClean),
      "the smallest surviving language must pass the mix whole (rate 1.0)")
    rows.foreach { r =>
      assert(r.getLong(5) > minClean || r.getLong(6) == r.getLong(5),
        s"${r.getString(0)}: a rate-1.0 language lost docs in the mix") }
    // the funnel's quality stage must EQUAL the registered pl11
    // operator's verdicts on the same (non-eval) docs — composition,
    // not reimplementation drift
    import org.apache.spark.sql.functions._
    val pl11Kept = SparkEntry.queries("pl11_gopher_rules")(spark, Sf)
      .filter(col("doc_id") % 7 =!= 0 && col("kept") === 1).count()
    assert(tot(2) == pl11Kept,
      s"funnel quality count ${tot(2)} != pl11 kept-on-train $pl11Kept")
  }

  test("pl21 gate buckets the SAME scores pl20 evaluates: eval docs distribute over buckets, survivors skew head") {
    // pl21's per-(lang, bucket) n_eval must sum to pl20's per-lang
    // n_eval (the two queries score the same docs with the same
    // trained weights — QualityModelSpec pins the bit-equality; this
    // pins the report-level consistency), tertile buckets partition
    // every language's corpus, and the head bucket's survivor DENSITY
    // is at least the tail's (the whole point of the gate: the
    // classifier's score must rank funnel survivors above fails)
    val gate = SparkEntry.queries("pl21_classifier_gate")(spark, Sf)
      .collect()
    val cls = SparkEntry.queries("pl20_quality_classifier")(spark, Sf)
      .collect()
    val evalByLangGate = gate.groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(6)).sum).toMap
    val evalByLangCls = cls.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(evalByLangGate == evalByLangCls,
      s"pl21 eval counts per lang must equal pl20's: $evalByLangGate vs $evalByLangCls")
    // every lang has all three tiers and they partition the corpus
    gate.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3),
        s"$lang must carry head/middle/tail")
      val headRow = rows.find(_.getInt(1) == 1).get
      val tailRow = rows.find(_.getInt(1) == 3).get
      def density(r: org.apache.spark.sql.Row) =
        r.getLong(4).toDouble / r.getLong(3)
      assert(density(headRow) >= density(tailRow),
        s"$lang: head survivor density must be >= tail's")
      assert(headRow.getDouble(7) >= tailRow.getDouble(7),
        s"$lang: head mean_p must be >= tail's")
    }
  }

  test("pl23 gated funnel: monotone attrition, the gate drops EXACTLY pl21's train-side tail, rescues are real and bounded") {
    val gated = SparkEntry.queries("pl23_gated_funnel")(spark, Sf).collect()
    val gate = SparkEntry.queries("pl21_classifier_gate")(spark, Sf).collect()
    val funnel = SparkEntry.queries("pl16_curation_funnel")(spark, Sf)
      .collect()
    assert(gated.length == 5, s"one row per language: ${gated.length}")
    // columns: lang, n_raw, n_quality, n_rescued, n_unique, n_fuzzy,
    // n_clean, retention — attrition reads raw >= quality >= unique >=
    // fuzzy >= clean
    gated.foreach { r =>
      val counts = Seq(1, 2, 4, 5, 6).map(r.getLong)
      assert(counts.zip(counts.tail).forall { case (x, y) => x >= y },
        s"${r.getString(0)}: gated funnel must be monotone: " +
          counts.mkString(" >= "))
      assert(r.getLong(1) > r.getLong(2),
        s"${r.getString(0)}: the classifier gate dropped nothing — vacuous")
      assert(r.getDouble(7) > 0.0 && r.getDouble(7) <= 1.0)
    }
    // the gate's stage-0 drop is EXACTLY pl21's tail bucket restricted
    // to train docs (n_docs - n_eval): pl23 selects on the same
    // clsBucketAssign cutoffs pl21 reports — composition, not drift
    val tailTrainByLang = gate.filter(_.getInt(1) == 3)
      .map(r => r.getString(0) -> (r.getLong(3) - r.getLong(6))).toMap
    gated.foreach { r =>
      assert(r.getLong(1) - r.getLong(2) == tailTrainByLang(r.getString(0)),
        s"${r.getString(0)}: gate drop != pl21 tail∩train")
    }
    // same train partition as the ungated funnel; rescues (rule-fails
    // the trained gate keeps) are non-vacuous in total and can never
    // exceed the language's rule fails
    val funnelByLang = funnel.map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    gated.foreach { r =>
      val (nRaw, nQual) = funnelByLang(r.getString(0))
      assert(r.getLong(1) == nRaw,
        s"${r.getString(0)}: pl23 n_raw != pl16 n_raw")
      assert(r.getLong(3) <= nRaw - nQual,
        s"${r.getString(0)}: rescued exceeds the rule gate's fail count")
    }
    assert(gated.map(_.getLong(3)).sum > 0,
      "the trained gate rescued no rule-fails — deployment delta vacuous")
  }

  test("funnel staging under degenerate gates: all-pass and all-fail stage every train doc exactly once") {
    import org.apache.spark.sql.functions._
    val pass = graft.queries.Pipeline.corpusPass(spark, Sf).drop("buckets").cache()
    val trainIds = pass.filter(!col("is_eval")).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    def stages(gate: org.apache.spark.sql.Column): Seq[(Long, Int)] =
      graft.queries.Pipeline.funnelStages(spark, pass, gate).collect()
        .map(r => (r.getLong(0), r.getInt(2))).toSeq
    val allPass = stages(lit(true))
    // all-fail: the exact, fuzzy and decontamination stages run on an
    // empty survivor set
    val allFail = stages(lit(false))
    Seq(allPass, allFail).foreach { st =>
      assert(st.map(_._1).sorted == trainIds,
        "every train doc must be staged exactly once")
    }
    assert(!allPass.exists(_._2 == 0), "all-pass gate: stage 0 must be empty")
    assert(allPass.exists(_._2 == 4), "all-pass gate: no clean survivor")
    assert(allFail.forall(_._2 == 0), "all-fail gate: every doc at stage 0")
    pass.unpersist(false)
  }

  test("pl22 PII scrub: every injected class is detected exactly, nothing else fires, multi-class docs compose") {
    val rows = SparkEntry.queries("pl22_pii_scrub")(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      // the injection rule IS the expected count — and a zero on
      // non-injected docs pins no false positives on the natural text
      assert(r.getInt(2) == (if (id % 3 == 0) 1 else 0),
        s"doc $id email count")
      assert(r.getInt(3) == (if (id % 5 == 0) 1 else 0),
        s"doc $id phone count")
      assert(r.getInt(4) == (if (id % 7 == 0) 1 else 0),
        s"doc $id ip count")
    }
    // composability: docs divisible by 105 carry all three classes
    val all3 = rows.filter(_.getLong(0) % 105 == 0)
    assert(all3.nonEmpty, "fixture must include multi-class docs")
    all3.foreach(r =>
      assert(r.getInt(2) == 1 && r.getInt(3) == 1 && r.getInt(4) == 1))
    // redaction changes the text (md5 present, 32 hex chars)
    rows.foreach(r => assert(r.getString(5).length == 32))
  }

  test("pl20 trained classifier: held-out accuracy beats every one-class baseline; predictions non-degenerate") {
    // the trap this pins: plain full-batch GD on these features has a
    // knife-edge (lr, epochs) regime — one setting "worked" only as a
    // lucky snapshot of an oscillation and collapsed to a one-class
    // predictor one epoch away. The registered Adagrad point sits on a
    // probed PLATEAU (lr 0.5-0.7 x epochs 6-10 all land 0.86-0.95
    // held-out accuracy at sf0.001-0.1), so a regression past 0.75, or
    // any one-class prediction vector, means the optimizer drifted —
    // not that the fixture got unlucky.
    val rows = SparkEntry.queries("pl20_quality_classifier")(spark, Sf)
      .collect()
    assert(rows.length == 5, s"one row per language: ${rows.length}")
    val nEval = rows.map(_.getLong(1)).sum
    val nKeep = rows.map(_.getLong(2)).sum
    val nAgree = rows.map(_.getLong(3)).sum
    assert(nKeep > 0 && nKeep < nEval,
      s"one-class prediction vector ($nKeep keeps of $nEval) — the " +
        "degenerate regime the Adagrad step exists to escape")
    // sf0.001 one-class ceilings (probed): all-negative 0.431,
    // all-positive 0.569 of the 72 held-out docs
    assert(nAgree.toDouble / nEval >= 0.75,
      s"held-out agreement with the Gopher gate fell to " +
        s"$nAgree/$nEval — below the plateau regression bar")
    rows.foreach { r =>
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) < 1.0,
        s"${r.getString(0)}: mean_p ${r.getDouble(5)} is saturated — " +
          "the optimizer left the calibrated regime")
    }
  }

  test("funnel fuzzy stage: the sf0.001 drop count equals the DuckDB-probed fixture truth") {
    // pins the registered stage against the pre-registration probe
    // (scripts/probe_fuzzy_stage.py) — a silent semantic drift in the
    // stage (threshold, Jaccard bar, survivor rule) moves this count
    val r = SparkEntry.queries("pl16_curation_funnel")(spark, Sf).collect()
    // fuzzy drop count = n_unique - n_fuzzy summed over languages
    val fuzzyDrops = r.map(x => x.getLong(3) - x.getLong(4)).sum
    // DuckDB-probed fixture truth (scripts/probe_fuzzy_stage.py): 5
    // drops at sf0.001 — 0 saturated + 5 component non-minima
    assert(fuzzyDrops == 5,
      s"sf0.001 fuzzy stage must drop the probed 5 docs, got $fuzzyDrops")
  }

  test("shard assignment covers every doc once, balances, and is reproducible") {
    val rows = SparkEntry.queries("pl17_shuffle_shards")(spark, Sf).collect()
    val nDocs = graft.Tables.documents(spark, Sf).count()
    assert(rows.length == nDocs, "every doc gets exactly one assignment")
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    // balance: shard = uniform-hash mod 16 -> binomial(n, 1/16)
    val byShard = rows.groupBy(_.getInt(1)).view.mapValues(_.length).toMap
    assert(byShard.keySet == (0 until 16).toSet, s"missing shards: $byShard")
    val mean = nDocs.toDouble / 16
    byShard.foreach { case (sh, n) =>
      assert(math.abs(n - mean) <= 4 * math.sqrt(mean),
        s"shard $sh holds $n docs, expected ~$mean")
    }
    // within-shard order keys are (near-)unique and deterministic
    val again = SparkEntry.queries("pl17_shuffle_shards")(spark, Sf).collect()
    assert(rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq ==
      again.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq,
      "re-sharding must be byte-identical (the lineage property)")
    // and independent of pl15's sampling uniform (different salt): the
    // kept/dropped split must not correlate with shard parity
    val kept = SparkEntry.queries("pl15_domain_mix")(spark, Sf)
      .collect().map(_.getLong(0)).toSet
    val keptFrac = rows.filter(r => kept(r.getLong(0)))
      .groupBy(_.getInt(1) % 2).view.mapValues(_.length).toMap
    assert(keptFrac.values.forall(_ > 0), "salt independence sanity")
  }

  test("funnel fuzzy stage honors graft.dedup.hotThreshold=auto: derived H separates a near-dup cluster from a template flood") {
    // the r15 verdict item: the funnel — the form most likely to meet
    // a real templated corpus — must route its guard threshold through
    // the SHARED resolver like d12/d13, not hardcode the fixture.
    // Three langs on a synthetic corpus (every doc passes the Gopher
    // gate: 60+ words, alphabetic, stopword-bearing, no symbols):
    //   aa — 12 distinct cold docs (band occupancy 1 -> the median)
    //   bb — a 3-doc near-dup CLUSTER (shared bands at occupancy 3)
    //   cc — an 8-doc template FLOOD  (shared bands at occupancy 8)
    // Derived H = max(2, ceil(4 x median 1)) = 4 sits BETWEEN cluster
    // and flood: under auto the cluster is genuine near-dup signal
    // (pairs -> CC -> the component min SURVIVES) while the flood
    // saturates (all drop); under the fixture default (H = 3) the
    // cluster saturates too — the observable difference that pins the
    // conf as actually routed through the funnel.
    import spark.implicits._
    val stops = "the a of and to in"
    def words(seed: String, n: Int): String =
      (1 to n).map(j => s"$seed$j").mkString(" ")
    val cold = (0 until 12).map { i =>
      (100L + i, s"$stops ${words(s"c${i}w", 60)}", "aa")
    }
    val cluster = (0 until 3).map { i =>
      (200L + i, s"$stops ${words("sw", 60)} tail$i", "bb")
    }
    val floodIds = Seq(300L, 302L, 303L, 304L, 305L, 306L, 309L, 310L)
    val flood = floodIds.zipWithIndex.map { case (id, i) =>
      (id, s"$stops ${words("fw", 60)} end$i", "cc")
    }
    // cluster/flood ids avoid doc_id % 7 == 0 (the eval slice) so
    // every planted doc reaches the fuzzy stage; a cold doc landing
    // in eval (105) just thins the median mass, which stays 1
    val dir = java.nio.file.Files.createTempDirectory("funnel-auto")
      .toFile.getAbsolutePath
    (cold ++ cluster ++ flood).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def byLang(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap // (n_unique, n_fuzzy, n_clean)
    val fixture = byLang(
      SparkEntry.queries("pl16_curation_funnel")(spark, dir).collect())
    var auto = Map.empty[String, (Long, Long, Long)]
    withConf("graft.dedup.hotThreshold" -> "auto") {
      auto = byLang(
        SparkEntry.queries("pl16_curation_funnel")(spark, dir).collect())
    }
    // flood: saturated under BOTH thresholds (8 >= 3 and 8 >= 4)
    assert(fixture("cc") == ((8L, 0L, 0L)) && auto("cc") == ((8L, 0L, 0L)),
      s"the flood must drop entirely on both: ${fixture("cc")} / ${auto("cc")}")
    // cluster: saturated at the fixture H = 3 (all three drop) but
    // COLD at the derived H = 4 — pairs verify, the component min
    // survives, the other two drop as genuine near-dups
    assert(fixture("bb") == ((3L, 0L, 0L)),
      s"fixture H=3 must saturate the occupancy-3 cluster: ${fixture("bb")}")
    assert(auto("bb") == ((3L, 1L, 1L)),
      s"derived H=4 must keep the cluster's canonical survivor: ${auto("bb")}")
    // cold docs never flag or pair under either threshold
    assert(fixture("aa")._1 == fixture("aa")._3 && auto("aa") == fixture("aa"),
      s"cold docs must ride through untouched: ${auto("aa")} vs ${fixture("aa")}")
  }

  test("graft.bpe.strategy=local produces IDENTICAL pl18/pl19 output to the distributed loop") {
    // the conf-encoded production form (the joinback/cc precedent):
    // collect-then-fit replaces the per-merge job cadence; the output
    // contract is exact equality, merge table and encode alike
    val d18 = SparkEntry.queries("pl18_bpe_merges")(spark, Sf).collect().toSeq
    val d19 = SparkEntry.queries("pl19_bpe_encode")(spark, Sf).collect().toSeq
    withConf("graft.bpe.strategy" -> "local") {
      val l18 = SparkEntry.queries("pl18_bpe_merges")(spark, Sf).collect().toSeq
      assert(l18 == d18,
        s"pl18 diverged under the local strategy:\n local=$l18\n dist=$d18")
      val l19 = SparkEntry.queries("pl19_bpe_encode")(spark, Sf).collect().toSeq
      assert(l19 == d19,
        s"pl19 diverged under the local strategy:\n local=$l19\n dist=$d19")
    }
    // an ENUM conf near-miss ('LOCAL', 'locall') must throw, not
    // silently run the distributed loop — hours of job cadence at a
    // production vocabulary with nothing logged (review finding)
    withConf("graft.bpe.strategy" -> "LOCAL") {
      val e = intercept[IllegalArgumentException] {
        SparkEntry.queries("pl18_bpe_merges")(spark, Sf).collect()
      }
      assert(e.getMessage.contains("graft.bpe.strategy"), e.getMessage)
    }
    // a non-positive size-gate limit DISABLES the local path and
    // degrades to the distributed loop — never a negative-limit
    // AnalysisException (review finding); output stays identical
    withConf("graft.bpe.strategy" -> "local",
      "graft.bpe.localVocabLimit" -> "-5") {
      val n18 = SparkEntry.queries("pl18_bpe_merges")(spark, Sf).collect().toSeq
      assert(n18 == d18,
        s"a disabled local gate must degrade to the distributed loop: $n18")
    }
  }
}
