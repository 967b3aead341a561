package graft.queries

import graft.Tables
import graft.functions.{DedupEnrich, MinHash, TextOps, VectorOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication suite over `documents` / `embeddings` — the core
  * batch passes of a training-data pipeline, each in its scalable
  * formulation:
  *
  *  - exact:   per-doc fingerprint, one groupBy — shuffle on a 16-byte
  *             key, no pairwise work at all;
  *  - blocked n-gram Jaccard and MinHash-LSH: candidate pairs come from
  *             an equi-join on a block/band key, so the quadratic
  *             explosion is bounded per bucket (tunable via band count)
  *             instead of O(N²) global;
  *  - SimHash: constant-size sketch, near-dup = sketch equality —
  *             again a plain groupBy;
  *  - embedding cosine: pair generation blocked on banded hyperplane-LSH
  *             buckets (L independent tables of 2^b sign buckets; b and L
  *             are the recall/cost knobs, b scaling with log N), exact
  *             cosine verify inside each bucket.
  *
  * At 100 TB only the band/bucket-key equi-joins shuffle, and their key
  * cardinality is a design knob — but key cardinality bounds the
  * SHUFFLE, not the pair COUNT: a templated/boilerplate corpus puts h
  * documents behind one band key and the self-join emits O(h²) pairs
  * for it. The corpus-scale formulation is therefore the GUARDED one
  * (`d12_guarded_batch_pairs`): per-band counts resolve the hot set
  * before any pair join runs, hot bands flag instead of pairing. The
  * d2/d3/d5 forms keep the unguarded self-join as the oracle-checkable
  * recall model. Capability parity: semantic dedup pass of the
  * reference (crates/mnemo-core/src/query/reflection.rs:384-470).
  */
object Dedup extends QueryGroup {

  private val toksSql =
    """toks AS (
      |  SELECT doc_id,
      |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
      |  FROM documents)""".stripMargin

  // 3-shingle set CTE (DuckDB) — mirrors TextOps.shingles(k=3) + distinct
  private val shinglesSql =
    s"""sh AS (
       |  SELECT doc_id,
       |         ${TextOps.shingleSetSqlExpr("toks", DedupEnrich.ShingleK)} AS sh
       |  FROM toks)""".stripMargin

  private val q1 = QueryDef(
    "d1_exact_dedup",
    (s, dir) => {
      // exact dedup on the normalized bag-of-words fingerprint: one
      // narrow projection + one groupBy-count; survivor = min doc_id.
      // Group stats come from a groupBy (map-side partial aggregation)
      // joined back on fp, NOT a window over fp: a boilerplate doc
      // duplicated hundreds of millions of times would funnel its whole
      // group through one window-sort task, while the aggregate
      // pre-combines per partition and the join-back build side carries
      // ONE row per fingerprint, so no per-key sort exists at any scale.
      // At-scale join choice: at test scale the groups side broadcasts;
      // at corpus scale (groups too big to broadcast) set
      // graft.joinback.strategy=shuffle_hash so the mega-dup partition
      // STREAMS through a hash probe instead of paying a sort-merge
      // sort (DedupEnrich.joinBackBuild; SkewJoinSpec pins why AQE's
      // skew split cannot substitute here).
      val d = Tables.documents(s, dir).select(col("doc_id"),
        DedupEnrich.exactFp(col("text")).as("fp"))
      val groups = d.groupBy("fp")
        .agg(count(lit(1)).as("group_size"), min(col("doc_id")).as("canonical_id"))
        .filter(col("group_size") > 1)
      d.join(DedupEnrich.joinBackBuild(groups), "fp")
        .select(col("doc_id"), col("fp"), col("group_size"),
          (col("doc_id") === col("canonical_id")).as("is_canonical"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $toksSql,
      fps AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
        FROM toks)
      SELECT doc_id, fp,
             COUNT(*) OVER (PARTITION BY fp) AS group_size,
             doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS is_canonical
      FROM fps
      QUALIFY group_size > 1
      ORDER BY doc_id"""))

  /** The d2/d6 verified pairs: blocked on the two smallest shingle
    * md5s (one key per doc, so no `distinct`), exact Jaccard >= 0.4 —
    * `(b, a, sha, shb, jac)` from [[DedupEnrich.jaccardVerified]]. */
  private def blockedJaccardPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val base = DedupEnrich.withShingleSet(
      Tables.documents(s, dir).select(col("doc_id"), col("text")), "text")
      .withColumn("bk",
        concat_ws("", slice(array_sort(transform(col("sh"), x => md5(x))), 1, 2)))
      .cache()
    DedupEnrich.jaccardVerified(
      DedupEnrich.blockingPairs(base.select(col("doc_id"), col("bk"))),
      base.select(col("doc_id"), col("sh")), 0.4)
  }

  private val q2 = QueryDef(
    "d2_ngram_jaccard",
    (s, dir) => {
      // candidate pairs share BOTH lexicographically-minimal shingle
      // hashes (a 2-minhash block key): selective enough that bucket
      // sizes stay bounded on vocabulary-heavy corpora, while any pair
      // with Jaccard >= 0.4 almost surely shares its two smallest
      // hashes; exact 3-gram Jaccard verifies. Measured candidate
      // recall vs brute-force truth at sf0.01: 24/25 J>=0.4 pairs
      // (0.96) — d3's banded LSH is the higher-recall path
      // pair generation carries ONLY ids through the blocking join —
      // the (large) shingle arrays are joined back per side afterwards,
      // so the shuffle moves 16-byte keys, not documents. The block-key
      // SELF-JOIN is the unguarded recall model: on a templated corpus
      // a hot block key goes O(h²) in pair COUNT — run the guarded
      // d12_guarded_batch_pairs form at corpus scale
      blockedJaccardPairs(s, dir)
        .select(col("a"), col("b"), round(col("jac"), 6).as("jaccard"))
        .orderBy("a", "b")
    },
    Some(s"""
      WITH $toksSql,
      $shinglesSql,
      blocked AS (
        SELECT doc_id, sh,
               array_to_string(list_slice(list_sort(list_transform(sh, x -> md5(x))), 1, 2), '') AS bk
        FROM sh)
      SELECT a.doc_id AS a, b.doc_id AS b,
             ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
      FROM blocked a JOIN blocked b ON a.bk = b.bk AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.4
      ORDER BY a, b"""))

  private val q3 = QueryDef(
    "d3_minhash_lsh",
    (s, dir) => {
      // same id-only blocking discipline as d2: candidate pairs are
      // deduped as bare (a, b) id pairs BEFORE the shingle arrays are
      // joined back for the exact-Jaccard verify. Enrichment is the
      // SHARED DedupEnrich path (one binding per lambda stage), the
      // same builders the maintained index and the streaming candidate
      // generator key on. The band self-join is the unguarded recall
      // model (hot bands go O(h²) in pair count on templated corpora) —
      // d12_guarded_batch_pairs is the corpus-scale form.
      val base = DedupEnrich.withBandKeys(
        DedupEnrich.withShingleSet(
          Tables.documents(s, dir).select(col("doc_id"), col("text")),
          "text"),
        "sh")
        .cache()
      val exploded = base.select(col("doc_id"), explode(col("bands")).as("bk"))
      DedupEnrich.jaccardVerified(
        DedupEnrich.blockingPairs(exploded).distinct(),
        base.select(col("doc_id"), col("sh")), 0.3)
        .select(col("a"), col("b"), round(col("jac"), 6).as("jaccard"))
        .orderBy("a", "b")
    },
    Some(s"""
      WITH $toksSql,
      $shinglesSql,
      fp AS (SELECT doc_id, sh, ${MinHash.fingerprintsSql("sh")} AS fp FROM sh),
      sigs AS (
        SELECT doc_id, sh, ${MinHash.signatureSql("fp", 8)} AS sig
        FROM fp),
      bands AS (
        SELECT doc_id, sh,
               ${MinHash.bandKeysSql("sig", DedupEnrich.NHashes, DedupEnrich.RowsPerBand)} AS bk
        FROM sigs),
      pairs AS (
        SELECT DISTINCT a.doc_id AS a, b.doc_id AS b, a.sh AS sha, b.sh AS shb
        FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id)
      SELECT a, b,
             ROUND(CAST(len(list_intersect(sha, shb)) AS DOUBLE)
                 / len(list_distinct(list_concat(sha, shb))), 6) AS jaccard
      FROM pairs
      WHERE CAST(len(list_intersect(sha, shb)) AS DOUBLE)
            / len(list_distinct(list_concat(sha, shb))) >= 0.3
      ORDER BY a, b"""))

  private val q4 = QueryDef(
    "d4_simhash",
    (s, dir) => {
      // sketch-equality counts via groupBy + join-back (same hot-key
      // discipline as d1: a mega-dup sketch value never single-tasks a
      // window sort; the aggregate combines map-side). The sketch frame
      // is CACHED: the count pass and the join-back both read it, and
      // recomputing simhash16 inside the join stages is ~2.8x worse
      // (BENCH_AB d4_joinback_nocache 3.98s vs cached 1.44s). The
      // cached form's local premium over the r12 window shape is the
      // cache-build evaluation mode, not the sketch math (one codegen'd
      // pass is 0.16s; the same projection in the cache build is
      // 1.13s) — five alternatives measured in BENCH_AB all lose
      // (localCheckpoint / no-cache / repartition barrier / token
      // cache); the premium is the accepted price of hot-key immunity
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), MinHash.simhash16(TextOps.tokens(col("text"))).as("simhash"))
        .cache()
      val counts = d.groupBy("simhash").agg(count(lit(1)).as("n_same_sketch"))
      d.join(DedupEnrich.joinBackBuild(counts), "simhash")
        .select("doc_id", "simhash", "n_same_sketch")
        .orderBy("doc_id")
        .limit(300)
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        FROM documents),
      xs AS (SELECT doc_id, list_transform(toks, t -> ('0x' || substr(md5(t), 1, 4))::BIGINT) AS xs FROM toks),
      sim AS (
        SELECT doc_id,
               CAST(COALESCE(list_sum(list_transform(generate_series(0, 15), p ->
                 CASE WHEN COALESCE(list_sum(list_transform(xs, x ->
                        CAST(FLOOR(x / POW(2.0, p)) AS BIGINT) % 2 * 2 - 1)), 0) > 0
                      THEN CAST(POW(2.0, p) AS BIGINT) ELSE 0 END)), 0) AS BIGINT) AS simhash
        FROM xs)
      SELECT doc_id, simhash, COUNT(*) OVER (PARTITION BY simhash) AS n_same_sketch
      FROM sim
      ORDER BY doc_id
      LIMIT 300"""))

  // Banded hyperplane-LSH blocking for embedding near-dup work:
  // LshTables independent hash tables (seeds LshSeed..+L-1), each
  // hashing a vector to one of 2^LshPlanes sign buckets. Candidate
  // pairs = same (table, bucket); recall is tuned by L, bucket
  // occupancy by planes (scale planes ~ log2 N to keep buckets O(1) —
  // the rule is BEHAVIOR via graft.lsh.planes=auto, see lshPlanesFor).
  // Pair generation carries ONLY ids — vectors are joined back for the
  // exact cosine verify afterwards, so the blocking shuffle moves
  // (id, key) rows, never embeddings. Occupancy tuning is an
  // EXPECTATION, not a bound: a near-duplicate embedding cluster (the
  // templated-corpus class) lands in one (tbl, bkt) and pairs O(h²) —
  // d13_guarded_embedding_pairs is the registered GUARDED form
  // (per-cell counts first, saturated cells flag instead of pairing),
  // the one to run at corpus scale.
  private val LshTables = 4
  private val LshPlanes = 8
  private val LshSeed = 42L

  /** Hyperplane-count PROVISIONING — the planes~log2(N) rule as
    * BEHAVIOR, not prose (the r14 verdict item: d13 measured that the
    * planes=8 fixture pin saturates 1989/2000 vectors at sf0.1 — the
    * guard is the instrument, this is the knob it instructs).
    * `graft.lsh.planes` selects:
    *  - unset (default): the [[LshPlanes]] fixture pin — the oracle
    *    SQL embeds the same literal, so the gate stays cross-engine
    *    exact;
    *  - `auto`: `max(LshPlanes, ceil(log2 N) + 1)` — expected bucket
    *    occupancy N/2^planes ≈ 1/2, the O(1)-per-cell target the d5
    *    scaladoc's rule states; the fixture value floors it (never
    *    FEWER buckets than the pinned recall analysis assumed) and 30
    *    caps it (2^30 cells outgrows any real N/occupancy need and
    *    keeps the bucket id well inside a BIGINT after the 4-table
    *    posexplode);
    *  - an integer: that many planes, verbatim (operator override).
    * `n` is by-name: the sizing count() runs ONLY in auto mode —
    * callers pass the frame's own count, one tiny job against a
    * 2-column projection. DedupSurfacesSpec pins that auto
    * de-saturates the sf0.1 fixture by an order of magnitude while
    * the default stays at the oracle-pinned fixture behavior. */
  private[graft] def lshPlanesFor(s: org.apache.spark.sql.SparkSession,
      n: => Long): Int =
    s.conf.get("graft.lsh.planes", "fixture").trim match {
      case "fixture" => LshPlanes
      case "auto" =>
        val derived = math.ceil(math.log(math.max(2L, n).toDouble)
          / math.log(2.0)).toInt + 1
        math.min(30, math.max(LshPlanes, derived))
      // a bucket id is a 64-bit sign word: 64 planes or more overflow it
      case v => v.toIntOption.filter(p => p >= 1 && p <= 63).getOrElse(
        throw new IllegalArgumentException(
          s"graft.lsh.planes must be 'fixture', 'auto', or an integer " +
            s"in 1..63 — got '$v'"))
    }

  /** The ONE `(id, key)` hyperplane key frame of d5, a3 and d13: key =
    * `tbl:bkt`. A null bucket (null embedding) is dropped BEFORE key
    * construction: concat_ws would silently skip the null and collapse
    * such rows onto the bare table id — a valid-looking shared key the
    * DuckDB mirror's `(tbl, bkt)` equi-join would never produce. */
  private def lshKeys(e: DataFrame): DataFrame = {
    val planes = lshPlanesFor(e.sparkSession, e.count())
    e.select(col("vec_id"),
      posexplode(array((0 until LshTables).map(t =>
        VectorOps.hyperplaneBucket(col("embedding"), 64, planes, LshSeed + t)): _*))
        .as(Seq("tbl", "bkt")))
      .filter(col("bkt").isNotNull)
      .select(col("vec_id").as("id"),
        concat_ws(":", col("tbl"), col("bkt")).as("key"))
  }

  /** The exact-cosine verify payload: `(vec_id, v)`. */
  private def vectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding").as("v"))

  /** d5/a3's cosine >= 0.3 verified LSH pairs `(b, a, va, vb, cos)`. */
  private def cosineVerifiedPairs(e: DataFrame): DataFrame =
    DedupEnrich.joinBack(DedupEnrich.blockingPairs(lshKeys(e)).distinct(),
      vectors(e))
      .withColumn("cos", VectorOps.cosineFast(col("va"), col("vb")))
      .filter(col("cos") >= 0.3)

  // DuckDB mirror: identical plane coefficients (driver-side literals),
  // identical left-to-right accumulation → bit-identical bucket ids.
  private val lshKeysSql: String =
    (0 until LshTables).map { t =>
      s"SELECT vec_id, $t AS tbl, ${VectorOps.hyperplaneBucketSql("v", 64, LshPlanes, LshSeed + t)} AS bkt FROM e"
    }.mkString("keys AS (", " UNION ALL ", ")")

  private val lshPairsSql: String =
    s"""$lshKeysSql,
       |pairs AS (
       |  SELECT DISTINCT ka.vec_id AS a, kb.vec_id AS b
       |  FROM keys ka JOIN keys kb
       |    ON ka.tbl = kb.tbl AND ka.bkt = kb.bkt AND ka.vec_id < kb.vec_id)""".stripMargin

  private val q5 = QueryDef(
    "d5_embedding_neardup",
    (s, dir) => {
      // candidate pairs from banded hyperplane LSH (the real ANN
      // partition — bucket count grows with the planes knob, unlike a
      // fixed label domain), exact double-precision cosine verify inside
      cosineVerifiedPairs(Tables.embeddings(s, dir))
        .select(col("a"), col("b"), round(col("cos"), 6).as("cosine"))
        .orderBy("a", "b")
    },
    Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      $lshPairsSql
      SELECT a, b,
             ROUND(list_dot_product(ea.v, eb.v)
                 / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6) AS cosine
      FROM pairs JOIN e ea ON ea.vec_id = a JOIN e eb ON eb.vec_id = b
      WHERE list_dot_product(ea.v, eb.v)
            / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.3
      ORDER BY a, b"""))

  private val q6 = QueryDef(
    "a3_resolve_conflicts",
    (s, dir) => {
      // conflict resolution over the near-dup pairs (conflict.rs:154-307):
      // two of the reference's strategies side by side — KeepNewest
      // (higher id = later UUIDv7) and EvidenceWeighted (composite score,
      // here the vectors' norm-weighted label affinity stand-in: the
      // member whose id appears in MORE near-dup pairs wins, tie → newest)
      val pairs = cosineVerifiedPairs(Tables.embeddings(s, dir))
        .select("a", "b").cache()
      val degree = pairs.select(col("a").as("m")).unionAll(pairs.select(col("b").as("m")))
        .groupBy("m").agg(count(lit(1)).as("deg"))
      pairs
        .join(degree.select(col("m").as("a"), col("deg").as("deg_a")), Seq("a"))
        .join(degree.select(col("m").as("b"), col("deg").as("deg_b")), Seq("b"))
        .withColumn("keep_newest", greatest(col("a"), col("b")))
        .withColumn("keep_evidence",
          when(col("deg_a") > col("deg_b"), col("a"))
            .when(col("deg_b") > col("deg_a"), col("b"))
            .otherwise(greatest(col("a"), col("b"))))
        .select("a", "b", "keep_newest", "keep_evidence")
        .orderBy("a", "b")
    },
    Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      $lshPairsSql,
      near AS (
        SELECT a, b
        FROM pairs JOIN e ea ON ea.vec_id = a JOIN e eb ON eb.vec_id = b
        WHERE list_dot_product(ea.v, eb.v)
              / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.3),
      degree AS (
        SELECT m, COUNT(*) AS deg FROM (
          SELECT a AS m FROM near UNION ALL SELECT b AS m FROM near)
        GROUP BY m)
      SELECT a, b,
             GREATEST(a, b) AS keep_newest,
             CASE WHEN da.deg > db.deg THEN a
                  WHEN db.deg > da.deg THEN b
                  ELSE GREATEST(a, b) END AS keep_evidence
      FROM near JOIN degree da ON near.a = da.m JOIN degree db ON near.b = db.m
      ORDER BY a, b"""))

  private val q7 = QueryDef(
    "d6_dedup_groups",
    (s, dir) => {
      // end-to-end dedup pass: blocked-Jaccard candidate pairs (the d2
      // shape) -> connected components over the pair graph -> one
      // canonical survivor (min doc_id) per group with its group size.
      // At 100 TB the pair graph is orders of magnitude smaller than the
      // corpus (only near-dups appear), so the CC loop runs on a tiny
      // edge list; each iteration is one join + one aggregate.
      val pairs = blockedJaccardPairs(s, dir).select("a", "b")
      // undirected edge list + min-label propagation to fixpoint —
      // the SHARED CC builder (the pl16 fuzzy stage composes the same)
      val labels =
        DedupEnrich.minLabelComponents(pairs, IterSizing.iterParts(s))
      val sizes = labels.groupBy("component").agg(count(lit(1)).as("group_size"))
      labels.join(sizes, "component")
        .select(col("node").as("doc_id"), col("component").as("canonical_id"),
          col("group_size"), (col("node") === col("component")).as("is_canonical"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE $toksSql,
      $shinglesSql,
      blocked AS (
        SELECT doc_id, sh,
               array_to_string(list_slice(list_sort(list_transform(sh, x -> md5(x))), 1, 2), '') AS bk
        FROM sh),
      pairs AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM blocked a JOIN blocked b ON a.bk = b.bk AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.4),
      edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
      reach AS (
        SELECT a AS node, a AS r FROM edges
        UNION
        SELECT re.node, e.b FROM reach re JOIN edges e ON re.r = e.a),
      comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
      SELECT node AS doc_id, component AS canonical_id,
             COUNT(*) OVER (PARTITION BY component) AS group_size,
             node = component AS is_canonical
      FROM comp
      ORDER BY doc_id"""))

  /** Incremental ingest dedup against a historical-corpus Bloom
    * filter — the pattern that makes exact dedup O(batch) instead of
    * O(corpus) at 100 TB: the accumulated corpus is represented ONLY
    * by its Bloom filter (k = 4 md5-derived positions over the d1
    * fingerprint), which is the sole state a streaming ingest keeps
    * between batches; each new document probes the broadcast filter.
    * `maybe_dup = 1` means "all k positions set" (candidate for the
    * expensive confirm path), `maybe_dup = 0` is a PROVEN-new fast
    * path — the filter has no false negatives.
    *
    * The filter is SIZED TO THE CORPUS: m = 16 bits per historical
    * element (FP ≈ (1−e^(−k·n/m))^k ≈ 0.2%), computed from the data
    * identically in both engines — a fixed m silently saturates as
    * history grows (the first cut of this query measured 84% FP at
    * sf0.1 under m = 4096; linear m is the design invariant, and 16n
    * bits is still ~10⁴× smaller than the corpus it replaces).
    *
    * The query also emits the exact truth (`is_dup`, a semi-join the
    * production path skips — kept here so the false-positive behaviour
    * of the chosen (m, k) is measured, not assumed: every is_dup = 1
    * must have maybe_dup = 1). The filter is modeled as the sorted
    * distinct-position set — semantically the bit array, and
    * deterministic cross-engine. History/batch split: doc_id % 5
    * (80 / 20), the corpus-then-delta replay convention. */
  private val q8 = QueryDef(
    "d8_bloom_incremental",
    (s, dir) => {
      // fingerprint + Bloom positions from the SHARED DedupEnrich
      // path — the same mapping the maintained DedupIndex persists, so
      // this query IS the oracle-checkable model of that store's state
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), DedupEnrich.exactFp(col("text")).as("fp"))
      val hist = d.filter(col("doc_id") % 5 =!= 4)
      val batch = d.filter(col("doc_id") % 5 === 4)
      // global aggregates, never groupBy: both frames stay exactly one
      // row even over an EMPTY history (first ingest of a fresh
      // corpus), where m floors at 1 and the bloom is the empty set —
      // so every batch doc correctly probes "proven new" instead of
      // the whole output vanishing on the empty-input edge
      val mrow = hist.agg(greatest(count(lit(1)) * 16, lit(1L)).as("m"))
      val bloom = hist.crossJoin(broadcast(mrow))
        .select(explode(DedupEnrich.bloomPositions(col("fp"), col("m"))).as("pos"))
        .agg(array_sort(collect_set(col("pos"))).as("bloom"))
      val probed = batch.crossJoin(broadcast(mrow)).crossJoin(broadcast(bloom))
        .withColumn("maybe_dup",
          forall(DedupEnrich.bloomPositions(col("fp"), col("m")),
            p => array_contains(col("bloom"), p)).cast("int"))
      probed
        .join(hist.select(col("fp")).distinct().withColumn("h", lit(1)),
          Seq("fp"), "left")
        .select(col("doc_id"), col("maybe_dup"),
          coalesce(col("h"), lit(0)).as("is_dup"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $toksSql,
      fp AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
        FROM toks),
      hist AS (SELECT doc_id, fp FROM fp WHERE doc_id % 5 <> 4),
      batch AS (SELECT doc_id, fp FROM fp WHERE doc_id % 5 = 4),
      m AS (SELECT GREATEST(COUNT(*) * 16, 1) AS m FROM hist),
      pos AS (
        SELECT DISTINCT pos FROM (
          SELECT unnest(list_transform(generate_series(0, 3),
            i -> ('0x' || substr(md5(fp || ':' || CAST(i AS VARCHAR)), 1, 8))::BIGINT % m)) AS pos
          FROM hist CROSS JOIN m)),
      bloom AS (SELECT COALESCE(list_sort(list(pos)), []) AS bloom FROM pos),
      probed AS (
        SELECT doc_id, fp,
               CAST(len(list_filter(list_transform(generate_series(0, 3),
                 i -> ('0x' || substr(md5(fp || ':' || CAST(i AS VARCHAR)), 1, 8))::BIGINT % m),
                 p -> list_contains(bloom, p))) = 4 AS INT) AS maybe_dup
        FROM batch CROSS JOIN bloom CROSS JOIN m)
      SELECT probed.doc_id, maybe_dup,
             CASE WHEN EXISTS (SELECT 1 FROM hist WHERE hist.fp = probed.fp)
                  THEN 1 ELSE 0 END AS is_dup
      FROM probed
      ORDER BY probed.doc_id"""))

  /** Exact substring-window dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): flag every
    * document by how much of it consists of EXACT W-token windows
    * that also appear in another document — the dedup-exact
    * granularity that catches boilerplate/quotation overlap which
    * whole-doc (d1) misses and Jaccard (d2/d3) only scores in
    * aggregate. W = 16 tokens; windows are md5'd and DISTINCT per doc
    * (a window repeated inside one doc is not "shared").
    *
    * This is the reference paper's suffix-array pass re-expressed as
    * the Spark-native hash groupBy: the shuffle carries 16-byte window
    * hashes (never text), the shared-window set is only the windows
    * appearing in ≥ 2 docs (tiny vs the corpus), and the per-doc
    * rollup is a semi-join against it. Short docs (< W tokens)
    * legitimately have zero windows and report 0 / 0.0. */
  private val q9 = QueryDef(
    "d9_substring_dedup",
    (s, dir) => {
      // window hashes via the SHARED DedupEnrich builder — the same
      // expression the maintained DedupIndex's window leg folds, so
      // this query IS the oracle-checkable model of that state too
      val base = DedupEnrich.withWindowHashes(
        Tables.documents(s, dir).select(col("doc_id"), col("text")), "text")
        .cache()
      val sh = base.select(col("doc_id"), explode(col("ws")).as("h"))
      val dupW = sh.groupBy("h")
        .agg(count(lit(1)).as("nd")).filter(col("nd") > 1).select("h")
      val perDoc = sh.join(dupW, Seq("h"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      base.select(col("doc_id"), size(col("ws")).cast("bigint").as("n_windows"))
        .join(perDoc, Seq("doc_id"), "left")
        .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
        .withColumn("shared_frac", when(col("n_windows") > 0,
          round(col("n_shared").cast("double") / col("n_windows"), 6))
          .otherwise(lit(0.0)))
        .select("doc_id", "n_windows", "n_shared", "shared_frac")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $toksSql,
      ws AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= 16
                 THEN list_transform(generate_series(0, len(toks) - 16),
                      i -> md5(array_to_string(list_slice(toks, i + 1, i + 16), ' ')))
                 ELSE [] END) AS ws
        FROM toks),
      sh AS (SELECT doc_id, unnest(ws) AS h FROM ws),
      dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) > 1),
      perdoc AS (
        SELECT doc_id, COUNT(*) AS n_shared
        FROM sh JOIN dup USING (h)
        GROUP BY doc_id)
      SELECT ws.doc_id, CAST(len(ws) AS BIGINT) AS n_windows,
             CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
             CASE WHEN len(ws) > 0
                  THEN ROUND(CAST(COALESCE(n_shared, 0) AS DOUBLE) / len(ws), 6)
                  ELSE 0.0 END AS shared_frac
      FROM ws LEFT JOIN perdoc USING (doc_id)
      ORDER BY ws.doc_id"""))

  /** Incremental NEAR-dup detection — the fuzzy twin of d8's exact
    * pass, and the shape fuzzy dedup actually runs at 100 TB: the
    * accumulated corpus is retained ONLY as its MinHash band-key
    * index (4 keys per historical doc — the d3 banding), and each new
    * ingest batch probes that index with its own band keys. The pair
    * join is batch-bands ⋈ history-bands on the band key, so
    * batch × batch pairs are NEVER generated (they are the next
    * batch's history pass) and history × history work is never
    * repeated — per-batch cost is O(batch), independent of corpus
    * size. Candidates verify with exact Jaccard over the shingle
    * sets joined back per side (the d2/d3 id-only shuffle
    * discipline). Same doc_id % 5 history/batch split as d8, same
    * J ≥ 0.3 verify as d3. Measured candidate recall vs the
    * brute-force cross-split truth: 4/4 at sf0.01 and 67/67 at
    * sf0.1 (QueriesSpec pins the floor at Sf).
    *
    * HOT-BAND caveat (shared with every band equi-join): a band key
    * matched by unboundedly many history docs — templated/boilerplate
    * corpora produce them; LSH selectivity is an assumption, not a
    * guarantee — makes `histIdx ⋈ probe` emit O(hot × batch) pairs.
    * This REGISTERED query keeps the unguarded formulation because it
    * is the oracle-checkable model (DuckDB mirrors the full join);
    * the production surfaces — the maintained [[graft.api.DedupIndex]]
    * and the streaming candidate generator — apply the saturation
    * guard (per-band counts → `band_saturated` flag instead of
    * candidates past the threshold) and are the forms to run at
    * corpus scale; `d12_guarded_batch_pairs` is the guard's BATCH
    * formulation, oracle-checked end to end. */
  private val q10 = QueryDef(
    "d10_incremental_lsh",
    (s, dir) => {
      // enrichment via the SHARED DedupEnrich path — identical band
      // keys to the batch d3 pass, the maintained DedupIndex, and the
      // streaming candidate generator (DedupSurfacesSpec pins this)
      val base = DedupEnrich.withBandKeys(
        DedupEnrich.withShingleSet(
          Tables.documents(s, dir).select(col("doc_id"), col("text")),
          "text"),
        "sh")
        .cache()
      // (a, b) = (history doc, batch doc), as in the oracle's
      // `bands h JOIN bands p`
      val exploded = base.select(col("doc_id"), explode(col("bands")).as("bk"))
      val pairs = DedupEnrich.blockingJoin(
        exploded.filter(col("doc_id") % 5 =!= 4),
        exploded.filter(col("doc_id") % 5 === 4)).distinct()
      DedupEnrich.jaccardVerified(pairs,
        base.select(col("doc_id"), col("sh")), 0.3)
        .select(col("a"), col("b"), round(col("jac"), 6).as("jaccard"))
        .orderBy("a", "b")
    },
    Some(s"""
      WITH $toksSql,
      $shinglesSql,
      fp AS (SELECT doc_id, sh, ${MinHash.fingerprintsSql("sh")} AS fp FROM sh),
      sigs AS (
        SELECT doc_id, sh, ${MinHash.signatureSql("fp", 8)} AS sig
        FROM fp),
      bands AS (
        SELECT doc_id, sh,
               ${MinHash.bandKeysSql("sig", DedupEnrich.NHashes, DedupEnrich.RowsPerBand)} AS bk
        FROM sigs),
      pairs AS (
        SELECT DISTINCT h.doc_id AS a, p.doc_id AS b, h.sh AS sha, p.sh AS shb
        FROM bands h JOIN bands p
          ON h.bk = p.bk AND h.doc_id % 5 <> 4 AND p.doc_id % 5 = 4)
      SELECT a, b,
             ROUND(CAST(len(list_intersect(sha, shb)) AS DOUBLE)
                 / len(list_distinct(list_concat(sha, shb))), 6) AS jaccard
      FROM pairs
      WHERE CAST(len(list_intersect(sha, shb)) AS DOUBLE)
            / len(list_distinct(list_concat(sha, shb))) >= 0.3
      ORDER BY a, b"""))

  /** The HOT-BAND GUARDED incremental LSH probe — d10's formulation
    * with the round-12 saturation guard made ORACLE-CHECKABLE: the
    * history side carries per-band prior counts, a band at or over
    * the threshold emits NO candidates, and every probe doc reports
    * `band_saturated` (did any of its bands hit a hot key) plus its
    * candidate set from the remaining bands. This is the registered
    * MODEL of what the maintained [[graft.api.DedupIndex]] and the
    * streaming state do in production — the same semantics the specs
    * model-check, here hash-verified against DuckDB end to end.
    *
    * Threshold H = 2 is a FIXTURE value: the synthetic corpus's band
    * counts top out at 3 (sf0.01) / 9 (sf0.1), and H = 2 is the
    * smallest threshold where BOTH legs are non-vacuous at both
    * scales (2 saturated + 4 candidate-bearing probe docs of 100 at
    * sf0.01; 30 + 97 of 1000 at sf0.1 — DuckDB-probed before
    * registration, the pl11 discipline). Production thresholds are
    * orders of magnitude higher; the semantics are threshold-
    * independent.
    *
    * Scale shape: the hot set is resolved from the O(distinct bands)
    * counts aggregate BEFORE the candidate equi-join runs, so a
    * degenerate band key never reaches the join — the row explosion
    * is structurally unproducible, not merely filtered after the
    * fact. Candidates shuffle (band, id) pairs only. */
  private val q11 = QueryDef(
    "d11_guarded_lsh",
    (s, dir) => {
      val base = DedupEnrich.withBandKeys(
        DedupEnrich.withShingleSet(
          Tables.documents(s, dir).select(col("doc_id"), col("text")),
          "text"),
        "sh")
        .cache()
      // probe = the batch docs, index = the history; cands are
      // (a, b) = (batch doc, history doc)
      val exploded = base.select(col("doc_id"), explode(col("bands")).as("bk"))
      val (sat, cands) = DedupEnrich.guardedCandidatePairs(
        exploded.filter(col("doc_id") % 5 === 4),
        exploded.filter(col("doc_id") % 5 =!= 4), 2)
      val candAgg = cands.groupBy(col("a").as("doc_id")).agg(
        count(lit(1)).as("n_candidates"),
        concat_ws(",",
          transform(array_sort(collect_set(col("b"))),
            x => x.cast("string"))).as("candidates"))
      base.filter(col("doc_id") % 5 === 4)
        .select(col("doc_id"))
        .join(sat.withColumn("sat", lit(1)), Seq("doc_id"), "left")
        .join(candAgg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("sat"), lit(0)).as("band_saturated"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("candidates"), lit("")).as("candidates"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $toksSql,
      $shinglesSql,
      fp AS (SELECT doc_id, sh, ${MinHash.fingerprintsSql("sh")} AS fp FROM sh),
      sigs AS (
        SELECT doc_id, sh, ${MinHash.signatureSql("fp", 8)} AS sig
        FROM fp),
      bands AS (
        SELECT doc_id,
               ${MinHash.bandKeysSql("sig", DedupEnrich.NHashes, DedupEnrich.RowsPerBand)} AS bk
        FROM sigs),
      hist AS (SELECT doc_id AS a, bk FROM bands WHERE doc_id % 5 <> 4),
      probe AS (SELECT doc_id AS b, bk FROM bands WHERE doc_id % 5 = 4),
      hot AS (SELECT bk FROM (SELECT bk, COUNT(DISTINCT a) AS cnt
                              FROM hist GROUP BY bk) WHERE cnt >= 2),
      sat AS (SELECT DISTINCT b FROM probe JOIN hot USING (bk)),
      cands AS (
        SELECT DISTINCT p.b, h.a
        FROM probe p JOIN hist h ON p.bk = h.bk
        WHERE p.bk NOT IN (SELECT bk FROM hot)),
      candagg AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS n_candidates,
               array_to_string(list_sort(list(a)), ',') AS candidates
        FROM cands GROUP BY b),
      allprobe AS (SELECT DISTINCT doc_id AS b FROM documents WHERE doc_id % 5 = 4)
      SELECT b AS doc_id,
             CASE WHEN b IN (SELECT b FROM sat) THEN 1 ELSE 0 END AS band_saturated,
             COALESCE(n_candidates, 0) AS n_candidates,
             COALESCE(candidates, '') AS candidates
      FROM allprobe LEFT JOIN candagg USING (b)
      ORDER BY doc_id"""))

  /** The HOT-BAND GUARDED **batch** pair generator — d11's saturation
    * discipline applied to the batch self-join the d2/d3/d5 family
    * runs: per-band distinct-doc counts are aggregated FIRST, a band
    * at or over the threshold emits NO pairs (every doc holding one
    * reports `band_saturated = 1` instead — an over-approximation that
    * routes the doc to the saturated-cluster path, never hides a dup),
    * and the pair self-join runs on the anti-joined COLD remainder
    * only. On a templated/boilerplate corpus where h documents share a
    * band key, the unguarded self-join emits O(h²) pairs per hot key —
    * the one row-count explosion the id-only shuffle discipline cannot
    * bound; here the explosion is structurally unproducible because
    * the hot key never reaches the join. The reference bounds the same
    * work per-record (its near-dup self-join caps candidates at ANN
    * top-20 per record, crates/mnemo-core/src/query/conflict.rs:84-151);
    * per-band saturation is the batch-shuffle-native expression of the
    * same bound, and it matches what the repo's own incremental path
    * (d11, the maintained [[graft.api.DedupIndex]], the streaming
    * generator) already does — batch and incremental now agree on how
    * a degenerate key degrades.
    *
    * Threshold H = [[BatchHotBands]] = 3 is a FIXTURE value, the
    * smallest at which BOTH legs are non-vacuous at every tested scale
    * (DuckDB-probed before registration: saturated docs / verified
    * cold pairs = 13/19 at sf0.001, 9/23 at sf0.01, 225/228 at sf0.1;
    * H = 2 would blank the pair leg entirely — any pair-producing band
    * holds >= 2 docs). Production thresholds are orders of magnitude
    * higher; the semantics are threshold-independent. The production
    * DERIVATION of the threshold is
    * [[graft.functions.DedupEnrich.deriveHotThreshold]] (median
    * occupancy x slack, floor-bounded), reachable here via
    * `graft.dedup.hotThreshold=auto` — DedupSurfacesSpec pins that it
    * flags a planted template flood and no cold bands.
    *
    * Output is the d11 per-doc rollup over the whole corpus: every doc
    * with any signal reports its saturation flag and its verified
    * (J >= 0.3, the d3 threshold) cold-band partners. */
  private val BatchHotBands = 3

  private val q12 = QueryDef(
    "d12_guarded_batch_pairs",
    (s, dir) => {
      // enrichment via the SHARED DedupEnrich path — identical band
      // keys to d3/d10/d11 and the maintained index; the guard + pair
      // rollup is the SHARED guardedBatchRollup builder (the counts
      // aggregate resolves the hot set BEFORE any pair-generating join
      // exists in the plan — see its scaladoc; DedupSurfacesSpec pins
      // the batch-vs-incremental over-approximation relationship)
      val base = DedupEnrich.withBandKeys(
        DedupEnrich.withShingleSet(
          Tables.documents(s, dir).select(col("doc_id"), col("text")),
          "text"),
        "sh")
        .cache()
      DedupEnrich.guardedBatchRollup(base,
        DedupEnrich.hotThresholdFor(s, BatchHotBands,
          base.select(col("doc_id").as("id"), explode(col("bands")).as("key"))))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $toksSql,
      $shinglesSql,
      fp AS (SELECT doc_id, sh, ${MinHash.fingerprintsSql("sh")} AS fp FROM sh),
      sigs AS (
        SELECT doc_id, sh, ${MinHash.signatureSql("fp", 8)} AS sig
        FROM fp),
      bands AS (
        SELECT doc_id,
               ${MinHash.bandKeysSql("sig", DedupEnrich.NHashes, DedupEnrich.RowsPerBand)} AS bk
        FROM sigs),
      counts AS (SELECT bk, COUNT(DISTINCT doc_id) AS cnt FROM bands GROUP BY bk),
      hot AS (SELECT bk FROM counts WHERE cnt >= $BatchHotBands),
      sat AS (SELECT DISTINCT doc_id FROM bands JOIN hot USING (bk)),
      cold AS (SELECT doc_id, bk FROM bands WHERE bk NOT IN (SELECT bk FROM hot)),
      cand AS (
        SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        FROM cold a JOIN cold b ON a.bk = b.bk AND a.doc_id < b.doc_id),
      ver AS (
        SELECT a, b FROM cand
        JOIN sh sa ON sa.doc_id = cand.a JOIN sh sb ON sb.doc_id = cand.b
        WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.3),
      partners AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
               array_to_string(list_sort(list(p)), ',') AS partners
        FROM (SELECT a AS doc_id, b AS p FROM ver
              UNION ALL SELECT b AS doc_id, a AS p FROM ver)
        GROUP BY doc_id),
      sig_docs AS (SELECT doc_id FROM sat UNION SELECT doc_id FROM partners)
      SELECT d.doc_id,
             CASE WHEN d.doc_id IN (SELECT doc_id FROM sat) THEN 1 ELSE 0 END AS band_saturated,
             COALESCE(n_dups, 0) AS n_dups,
             COALESCE(partners, '') AS partners
      FROM sig_docs d LEFT JOIN partners USING (doc_id)
      ORDER BY d.doc_id"""))

  /** The hot-key guard applied to the EMBEDDING blocking family —
    * d12's discipline on d5's hyperplane (table, bucket) cells, via
    * the SAME generalized core ([[DedupEnrich.guardedCandidatePairs]] /
    * [[DedupEnrich.saturationRollup]] — one guard implementation for
    * every blocking-key scheme): per-cell distinct-vector counts
    * resolve first, every vector holding a cell at/over the threshold
    * reports `bucket_saturated` instead of pairing, the pair self-join
    * runs on the cold remainder, exact cosine (the d5 threshold)
    * verifies. A near-duplicate embedding cluster — the
    * templated-corpus class in vector space — lands h vectors in one
    * cell and the unguarded join pairs them O(h²); here the cell
    * flags instead.
    *
    * Threshold H = [[EmbHotBucket]] = 8 is a FIXTURE value,
    * DuckDB-probed non-vacuous on BOTH legs at all three fixture dirs
    * (saturated vectors / verified cold pairs: 65/49 at sf0.001,
    * 25/77 at sf0.01, 1989/209 at sf0.1 — note the embeddings table
    * holds 500 rows at BOTH sf0.001 and sf0.01, different content
    * draws, and 2000 at sf0.1, so the size axis spans 4x, not the
    * document tables' 10x-per-step). The sf0.1 numbers carry the
    * honest at-scale signal: with [[LshPlanes]] = 8 fixed while N
    * grows 4x, nearly EVERY vector already touches an overloaded
    * cell — the guard is the instrument that tells an operator the
    * planes knob must scale ~ log2 N (lshPlanesFor's conf-gated auto
    * derivation — QueriesSpec pins the 10x de-saturation; the d5 provisioning
    * rule) BEFORE the pair join melts down, rather than after.
    * Production threshold derivation: `graft.dedup.hotThreshold=auto`
    * applies [[graft.functions.DedupEnrich.deriveHotThreshold]] over
    * the same cached keys frame. */
  private val EmbHotBucket = 8

  private val q13 = QueryDef(
    "d13_guarded_embedding_pairs",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      // the keys frame feeds the hot counts, the semi-join, and both
      // sides of the cold self-join — CACHED so the 4-table hyperplane
      // bucketing runs once, not once per consumer (the d12 base-cache
      // discipline)
      val keys = lshKeys(e).cache()
      val (sat, pairs) = DedupEnrich.guardedCandidatePairs(keys,
        DedupEnrich.hotThresholdFor(s, EmbHotBucket, keys))
      val ver = DedupEnrich.joinBack(pairs, vectors(e))
        .filter(VectorOps.cosineFast(col("va"), col("vb")) >= 0.3)
        .select("a", "b")
      DedupEnrich.saturationRollup(sat, ver, "vec_id", "bucket_saturated")
        .orderBy("vec_id")
    },
    Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      $lshKeysSql,
      counts AS (SELECT tbl, bkt, COUNT(DISTINCT vec_id) AS cnt
                 FROM keys GROUP BY 1, 2),
      hot AS (SELECT tbl, bkt FROM counts WHERE cnt >= $EmbHotBucket),
      sat AS (SELECT DISTINCT vec_id FROM keys JOIN hot USING (tbl, bkt)),
      cold AS (SELECT k.vec_id, k.tbl, k.bkt FROM keys k
               LEFT JOIN hot h ON k.tbl = h.tbl AND k.bkt = h.bkt
               WHERE h.tbl IS NULL),
      cand AS (SELECT DISTINCT a.vec_id AS a, b.vec_id AS b
               FROM cold a JOIN cold b
                 ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id),
      ver AS (SELECT a, b FROM cand
              JOIN e ea ON ea.vec_id = a JOIN e eb ON eb.vec_id = b
              WHERE list_dot_product(ea.v, eb.v)
                    / (sqrt(list_dot_product(ea.v, ea.v))
                       * sqrt(list_dot_product(eb.v, eb.v))) >= 0.3),
      partners AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS n_dups,
               array_to_string(list_sort(list(p)), ',') AS partners
        FROM (SELECT a AS id, b AS p FROM ver
              UNION ALL SELECT b AS id, a AS p FROM ver)
        GROUP BY id),
      sig AS (SELECT vec_id AS id FROM sat UNION SELECT id FROM partners)
      SELECT s.id AS vec_id,
             CASE WHEN s.id IN (SELECT vec_id FROM sat) THEN 1 ELSE 0 END
               AS bucket_saturated,
             COALESCE(n_dups, 0) AS n_dups,
             COALESCE(partners, '') AS partners
      FROM sig s LEFT JOIN partners ON s.id = partners.id
      ORDER BY vec_id"""))

  /** The NON-CANONICAL duplicated-window start positions per doc —
    * the shared detection half of the d14 rewrite: all window
    * occurrences (cached — the canonical aggregate and the marked
    * join both read it, and the per-window md5 pass is the dominant
    * cost), one map-side-combinable struct-min canonical aggregate
    * (min over (doc_id, pos) structs is lexicographic in both
    * engines, which IS the min-doc-then-min-pos convention), and the
    * non-canonical remainder. Consumed by [[substringKeptTokens]]
    * (the spec-facing row form) and by the registered q14's
    * span-removal kernel. */
  private def substringMarked(base: DataFrame): DataFrame = {
    val occ = base.select(col("doc_id"),
        explode(DedupEnrich.windowOccurrencesFromToks(col("toks"))).as("o"))
      .select(col("doc_id"), col("o.pos").as("pos"), col("o.h").as("h"))
      .cache()
    val canon = occ.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("c"))
    occ.join(canon, "h")
      .filter(col("doc_id") =!= col("c.doc_id") ||
        col("pos") =!= col("c.pos"))
      .select(col("doc_id"), col("pos"))
  }

  /** d14's occurrence→removal core over a (caller-cached) `(doc_id,
    * toks)` frame: the surviving 1-based `(doc_id, t, tok)` rows after
    * removing every NON-CANONICAL duplicated-window span. Factored so
    * the composition spec (SubstringRewriteSpec) can run Lee et al.'s
    * published PIPELINE ORDER — exact-substring removal BEFORE fuzzy
    * dedup — with the exact operator the registered query verifies:
    * rewrite first, then shingle/MinHash the survivors, and
    * boilerplate-driven false near-dup pairs disappear while the
    * removal has already consumed true substring duplication. */
  private[graft] def substringKeptTokens(base: DataFrame): DataFrame = {
    val W = DedupEnrich.WindowW
    val marked = substringMarked(base)
    // covered token positions (bounded: W x duplicate occurrences)
    val covered = marked.select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (W - 1))).as("t"))
      .distinct()
    val tok = base.select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), (col("pos") + 1).as("t"), col("col").as("tok"))
    tok.join(covered, Seq("doc_id", "t"), "left_anti")
  }

  /** d14 — exact substring dedup REWRITE (Lee et al. 2022's deployed
    * form, closing d9's detection→removal composition): every
    * duplicated [[DedupEnrich.WindowW]]-token window elects ONE
    * canonical occurrence — the (min doc_id, then min position)
    * convention, deterministic like the CC component-min — and every
    * OTHER occurrence's span is REMOVED from its document; overlapping
    * removed spans merge by construction (a token survives iff NO
    * removed span covers it). The canonical occurrence is exempt from
    * its OWN window's removal, but is not guaranteed to survive
    * intact: a removed span from an overlapping non-canonical window
    * may still cover some of its tokens — the survives-iff-uncovered
    * rule wins (the same behavior as Lee et al.'s span-merge form).
    * Repeats WITHIN one document dedup the
    * same way (the second in-doc occurrence is non-canonical). The
    * window identity is the d9/[[graft.api.DedupIndex]] window hash
    * (md5 of the 16-token slice), so what d14 removes is exactly what
    * d9 counts and the maintained window leg screens — the three
    * surfaces can never disagree about what "a duplicated window" is.
    *
    * Output is the REWRITE, verified exactly: per doc, token counts
    * before/after and the md5 of the surviving tokens joined in
    * order — the oracle proves byte-identical reconstruction, not
    * just matching counts.
    *
    * PIPELINE POSITION (the published order): Lee et al. 2022 run
    * exact-substring removal BEFORE fuzzy dedup — boilerplate spans
    * removed first can no longer drive MinHash false near-dups, and
    * full-text exact dups are already consumed by the rewrite. The
    * composition is spec-pinned (DedupSpec "d14 before fuzzy dedup"):
    * [[substringKeptTokens]] feeds the d12/funnel shingle machinery
    * and the boilerplate-only pair disappears. Corpora routed through
    * [[graft.queries.Pipeline]]'s funnel with heavy substring
    * duplication should run this rewrite ahead of the funnel's fuzzy
    * stage; the registered funnel keeps the Lee-compatible
    * quality→exact→fuzzy order and stays rewrite-free because the
    * fixture corpus carries no cross-doc window duplication that its
    * exact-fp stage does not already fold (the d9/d1 scaladoc
    * routing).
    *
    * Scale shape: one tokenize pass; window occurrences are O(total
    * tokens) rows of (16-byte hash, int pos) — never text, cached once
    * (the hashing pass is the dominant cost and two legs read it);
    * canonical resolution is ONE map-side-combinable struct-min
    * aggregate keyed by the hash (lexicographic (doc_id, pos) min in
    * both engines); the covered-position explode is bounded by W x the
    * DUPLICATE occurrence count (only what gets removed pays); the
    * rebuild is one groupBy(doc_id) whose in-order sort is per-doc
    * (array_sort in the aggregate, no window function, no self-join).
    * At 100 TB every shuffle keys on the window hash or doc_id —
    * exactly the suffix-array-free formulation public implementations
    * of Lee et al. run on MapReduce-class engines. */
  private val q14 = QueryDef(
    "d14_substring_rewrite",
    (s, dir) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .cache() // two consumers: occurrences + the rebuild join
      // round 19: the rebuild is the native span-removal kernel — one
      // groupBy over the DUPLICATE occurrences only (collect the span
      // starts per doc), one join back to the cached token arrays,
      // and a map-side rebuild per doc. The previous chain exploded
      // EVERY token (posexplode), shuffled the O(dup × W) covered
      // positions through a distinct, anti-joined O(tokens) rows, and
      // re-aggregated O(kept tokens) rows through a groupBy with a
      // per-doc array_sort — three corpus-sized exchanges that the
      // kernel removes (guide §2.3/§2.4: only the duplicate mass
      // shuffles now). NativeKernelsSpec pins the kernel rebuild
      // against the substringKeptTokens row form; the oracle verifies
      // the md5-exact rewrite end-to-end at all scales.
      val spans = substringMarked(base)
        .groupBy("doc_id").agg(collect_list(col("pos")).as("starts"))
      base
        .join(spans, Seq("doc_id"), "left")
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          ColumnBridge.column(graft.plans.RemoveSpansExpr(
            ColumnBridge.expression(col("toks")),
            ColumnBridge.expression(
              coalesce(col("starts"), array().cast("array<int>"))),
            DedupEnrich.WindowW)).as("r"))
        .select(col("doc_id"), col("n_tokens"),
          (col("n_tokens") - col("r.n_kept")).as("n_removed"),
          col("r.n_kept").as("n_kept"),
          col("r.kept_md5").as("kept_md5"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $toksSql,
      occ AS (
        SELECT doc_id, CAST(i AS INT) + 1 AS pos,
               md5(array_to_string(
                 list_slice(toks, CAST(i AS INT) + 1,
                   CAST(i AS INT) + ${DedupEnrich.WindowW}),
                 ' ')) AS h
        FROM toks,
             unnest(generate_series(0, len(toks) - ${DedupEnrich.WindowW}))
               AS t(i)
        WHERE len(toks) >= ${DedupEnrich.WindowW}),
      canon AS (
        SELECT h, MIN({'doc_id': doc_id, 'pos': pos}) AS c
        FROM occ GROUP BY h),
      marked AS (
        SELECT o.doc_id, o.pos
        FROM occ o JOIN canon c USING (h)
        WHERE o.doc_id <> c.c.doc_id OR o.pos <> c.c.pos),
      covered AS (
        SELECT DISTINCT doc_id, pos + CAST(j AS INT) AS t
        FROM marked, unnest(range(0, ${DedupEnrich.WindowW})) AS r(j)),
      tok AS (
        SELECT doc_id, CAST(k AS INT) AS t, toks[CAST(k AS INT)] AS tok
        FROM toks, unnest(generate_series(1, len(toks))) AS s(k)),
      kept AS (
        SELECT tok.doc_id, tok.t, tok.tok
        FROM tok LEFT JOIN covered
          ON tok.doc_id = covered.doc_id AND tok.t = covered.t
        WHERE covered.t IS NULL),
      reb AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
               md5(string_agg(tok, ' ' ORDER BY t)) AS kept_md5
        FROM kept GROUP BY doc_id)
      SELECT b.doc_id, CAST(len(b.toks) AS BIGINT) AS n_tokens,
             CAST(len(b.toks) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
             CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
             COALESCE(kept_md5, md5('')) AS kept_md5
      FROM toks b LEFT JOIN reb USING (doc_id)
      ORDER BY b.doc_id"""))

  val all: Seq[QueryDef] =
    Seq(q1, q2, q3, q4, q5, q6, q7, q8, q9, q10, q11, q12, q13, q14)
}
