package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface over the append-only `events` feed —
  * the reference's agent_events stream (SURVEY §2.10, T5/T7: the
  * append-only guarantee at storage/mod.rs:157-166 makes the event log
  * the natural streaming source; profiles/baselines A6/A7/A12 are its
  * stateful consumers).
  *
  * Each transform takes a STREAMING DataFrame (`spark.readStream...`)
  * and returns the transformed streaming frame; callers attach the
  * sink. The same code also runs on a batch frame (Spark's unified
  * semantics), which is how the specs drive it deterministically.
  *
  * Scale notes: all state is keyed by user/event-type — state store
  * partitions shard by key. Watermarks/timeouts bound state size for
  * the DATA-sized keys (dedup keys, band keys); [[sessionize]]'s
  * state is deliberately timeout-free (see its scaladoc) and bounded
  * by USER cardinality — an entity dimension, not a data-sized one.
  */
object EventStream {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class SessionUpdate(user_id: Long, session_start: Timestamp,
      n_events: Long, total_value: Double, closed: Boolean)

  // public: Spark derives a product encoder for the state class, and
  // encoder codegen requires accessible accessors
  case class SessionState(start: Long, lastTs: Long, n: Long, total: Double)

  /** Streaming exact dedup — the ingest-side twin of the batch d1 pass:
    * drop re-delivered events by key inside the watermark horizon
    * (`dropDuplicatesWithinWatermark` keeps state only until the
    * watermark passes, so state is bounded by lateness × rate, not by
    * stream length — the 100 TB-feed formulation of at-least-once →
    * effectively-once ingest). */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Tumbling 1-hour event-time counts per event type, 2-hour watermark:
    * the A6/A12 profile refresh shape. */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Sliding 6h/1h per-user event rate — the behavioural-baseline lane
    * (A12): rolling write-rate profile per agent. */
  def slidingUserRates(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "6 hours", "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("user_id"), col("n_events"))

  /** Write-path injection quarantine — the reference's ingest-time
    * poisoning gate (poisoning.rs scans content AT WRITE and diverts
    * marker-bearing rows to quarantine before they can ever be
    * recalled) as a stateless streaming transform: tag each incoming
    * row with its marker-hit count and a quarantine verdict; the
    * caller routes the two slices to their sinks (admitted → store
    * append, quarantined → review table). Stateless per-row, so it
    * costs one projection at any rate — no state store, no watermark.
    *
    * Composes the SHARED x9 marker constants (queries/Scoring), the
    * same set the batch scan, its oracle SQL, and the DETECTION.json
    * TPR/FPR harness measure — so the streaming gate can never drift
    * from the published detection rates. */
  def quarantineGate(rows: DataFrame, contentCol: String = "content"): DataFrame = {
    val nHits = graft.queries.Scoring.InjectionMarkers
      .map(m => when(lower(col(contentCol)).rlike(m), 1L).otherwise(0L))
      .reduce(_ + _)
    rows.withColumn("n_marker_hits", nHits)
      .withColumn("quarantined", col("n_marker_hits") > 0)
  }

  // `ts` stays a Timestamp: the watermark tag rides the event-time
  // column, and EventTimeTimeout requires that column to reach the
  // stateful operator (casting it to a long strips the tag)
  case class BandRow(bk: String, doc_id: Long, ts: Timestamp)
  /** A candidate pair — or, with `saturated = true`, a SATURATION
    * marker. FIELD CONVENTION (positional consumers depend on it): the
    * ARRIVING document is always `b`; `a` is the previously-held
    * band-mate on pair rows and -1 on marker rows (the band already
    * held `maxBandDocs` live entries, so no pair was enumerated).
    * The downstream contract is over-approximation: a saturated doc
    * must be routed to the WIDE exact-verify (against the corpus / the
    * maintained index), not just its candidate list — saturation can
    * widen the verify, never hide a duplicate.
    *
    * VINTAGE NOTE (wire-format break): sinks populated by versions
    * BEFORE this convention carried the arriving doc in `a` and -1 in
    * `b` on marker rows. A consumer reading a mixed-vintage sink must
    * classify per row — the marker field is whichever of a/b equals
    * -1, the other field is the arriving doc — or backfill old sinks
    * by swapping (a, b) where b = -1.
    *
    * @param a  held band-mate doc id, or -1 on a saturation marker
    * @param b  the arriving doc id — same field on BOTH row kinds
    * @param bk the band key that produced the row
    * @param saturated true iff this is a marker row, not a pair */
  case class NearDupCandidate(a: Long, b: Long, bk: String,
      saturated: Boolean = false)
  // held docs per band: (doc_id, event-time ms), newest first
  case class BandState(docs: List[(Long, Long)])

  /** Watermark delay BOTH near-dup twins declare — one constant, not
    * two literals: the delay interacts with the shared core's
    * event-time GC and horizon eviction, so the text and media
    * surfaces must tolerate late data identically (review finding). */
  val NearDupWatermarkDelay = "2 hours"

  /** Streaming FUZZY dedup candidates — the stateful twin of the batch
    * d10 probe: the MinHash band-key index lives as streaming state
    * (key = band key, value = the docs recently seen in that band),
    * and every arriving document emits a candidate pair against each
    * held band-mate, then joins the state itself. Pairs are CANDIDATES
    * (the LSH contract); the exact-Jaccard verify is the downstream
    * batch join, same as d3/d10.
    *
    * State is bounded by `horizon × per-band arrival rate` AND by
    * band liveness: held entries older than `horizonMs` before the
    * incoming doc's event time are evicted on every update (the dedup
    * window — at 100 TB/day the index that matters is the recent one;
    * full-corpus probes are the batch d10 pass), and a band that goes
    * IDLE is garbage-collected by an event-time timeout once the
    * watermark passes its horizon — without it, total state would
    * grow with bands-ever-seen instead of bands-recently-active.
    * A pair sharing several bands is emitted once
    * per shared band — downstream `distinct()` collapses them (same
    * multiplicity contract as d3's band explode).
    *
    * Band keys are the SAME Carter-Wegman signature family as
    * d3/d10 (8 hashes, 4 bands of 2), so a doc pair crosses the
    * streaming and batch paths with identical candidate behaviour.
    *
    * HOT-BAND degradation guard (`maxBandDocs`): on templated/
    * boilerplate corpora a degenerate band key accumulates unbounded
    * band-mates — LSH theory assumes selective bands; production
    * corpora violate it — and an unguarded state entry would grow
    * without bound AND emit O(held) pairs per arrival. A band whose
    * live (post-eviction) entry list is at the cap stops enumerating:
    * an arrival there emits ONE `saturated = true` marker row
    * (`a = -1`, arriving doc in `b` as on pair rows) and is NOT added
    * to the state, bounding both state size and output per band.
    *
    * TRIGGER SEMANTICS vs the maintained index's guard (deliberate,
    * not drift): the [[graft.api.DedupIndex]] saturates on LIFETIME
    * per-band counts (its state is the full corpus; a band that was
    * ever boilerplate stays flagged), while this stream saturates on
    * the HORIZON-LIVE held-entry count — a band cools again once its
    * entries age past the horizon, exactly because the stream's
    * contract is recent-window candidates only (the cross-horizon
    * history is the index's job, see the reconciliation spec). Within
    * one horizon against a fresh history the two surfaces flag the
    * SAME docs and emit the SAME pairs — DedupSurfacesSpec pins that
    * equality on a saturating flood. Over-approximation: the marker routes
    * the doc to the WIDE downstream exact-verify, so saturation can
    * never hide a duplicate (see [[NearDupCandidate]]); the
    * maintained [[graft.api.DedupIndex]] applies the same guard to
    * its persistent band state. */
  def streamingNearDupCandidates(docs: DataFrame,
      horizonMs: Long = 6L * 3600 * 1000,
      maxBandDocs: Int = 1000): Dataset[NearDupCandidate] = {
    import docs.sparkSession.implicits._
    import graft.functions.DedupEnrich
    // enrichment via the SHARED DedupEnrich path — identical band keys
    // to the batch d3/d10 passes and the maintained DedupIndex, so a
    // doc pair crosses the streaming and batch surfaces with identical
    // candidate behaviour (DedupSurfacesSpec pins the equality)
    val banded = DedupEnrich.withBandKeys(
      DedupEnrich.withShingleSet(
        docs.withWatermark("ts", NearDupWatermarkDelay)
          .select(col("doc_id"), col("ts"), col("text")),
        "text"),
      "sh")
      .select(col("doc_id"), explode(col("bands")).as("bk"), col("ts"))
      .as[BandRow]
    streamingBandCandidates(banded, horizonMs, maxBandDocs)
  }

  /** Streaming MEDIA near-dup candidates — the media-key-family twin
    * of [[streamingNearDupCandidates]], closing the surface triangle
    * the text family already has (batch m3 / maintained
    * [[graft.api.DedupIndex.ingestMedia]] / this stream): input rows
    * are the partition-local hash pass's shape plus event time
    * (`media_id`, `ts`, `b0`..`b3` — payloads never enter the
    * stream), keyed through the ONE [[graft.queries.Multimodal
    * .phashKeyArray]] encoding (so a media pair crosses the
    * streaming, batch, and index surfaces with identical blocking
    * behaviour), and the stateful core is LITERALLY the same function
    * — horizon eviction, live-held saturation cap, event-time GC and
    * the over-approximating marker contract all apply verbatim (see
    * the trigger-semantics note there: the stream saturates on
    * horizon-LIVE held entries, the index on LIFETIME counts; within
    * one horizon on a fresh history they flag identically).
    * Emitted pairs are CANDIDATES — the exact-Hamming verify is the
    * downstream batch join, same as m3. */
  def streamingMediaNearDupCandidates(hashes: DataFrame,
      horizonMs: Long = 6L * 3600 * 1000,
      maxBandDocs: Int = 1000): Dataset[NearDupCandidate] = {
    import hashes.sparkSession.implicits._
    val banded = hashes.withWatermark("ts", NearDupWatermarkDelay)
      .select(col("media_id").as("doc_id"), col("ts"),
        explode(graft.queries.Multimodal.phashKeyArray).as("key"))
      .select(col("key").cast("string").as("bk"), col("doc_id"), col("ts"))
      .as[BandRow]
    streamingBandCandidates(banded, horizonMs, maxBandDocs)
  }

  /** Streaming MEDIA decontamination — the m6 benchmark screen at
    * INGEST (the deployed position: a crawl pipeline screens arriving
    * media against its evaluation sets BEFORE anything lands in the
    * training store, the DataComp shape). Input rows are the hash
    * pass's shape plus event time (`media_id`, `ts`, `b0`..`b3`);
    * `benchHashes` is the STATIC benchmark hash table
    * (`media_id`, `b0`..`b3`).
    *
    * STATELESS by design — the structural opposite of the near-dup
    * twins: the benchmark is fixed-size and known up front (the
    * pl14/m6 broadcast argument), so this is Spark's supported
    * stream-static equi-join against a BROADCAST — no state store, no
    * watermark, no timeout, nothing to GC; each arriving row probes
    * the broadcast through the ONE [[graft.queries.Multimodal
    * .phashKeyArray]] band-key encoding and verifies with the exact
    * 64-bit Hamming bar the batch m6 registers
    * ([[graft.queries.Multimodal.DecontamHamMax]]), so a media row
    * flags on this surface iff the batch screen flags it
    * (DedupSurfacesSpec pins the parity).
    *
    * Output: one `(media_id, ts, eval_id)` row per matched benchmark
    * item; a pair agreeing on several bands emits once per shared band
    * (the near-dup twins' multiplicity contract — downstream
    * `dropDuplicates` collapses them; the SCREEN decision is "any row
    * exists"). */
  def streamingMediaDecontam(hashes: DataFrame,
      benchHashes: DataFrame): DataFrame = {
    val bkeys = graft.queries.Multimodal.phashKeys(benchHashes)
      .select(col("id").as("eval_id"), col("key"))
    val bside = benchHashes.select(col("media_id").as("eval_id"),
      col("b0").as("y0"), col("b1").as("y1"),
      col("b2").as("y2"), col("b3").as("y3"))
    hashes
      .select(col("media_id"), col("ts"),
        col("b0").as("x0"), col("b1").as("x1"),
        col("b2").as("x2"), col("b3").as("x3"),
        explode(graft.queries.Multimodal.phashKeyArray).as("key"))
      .join(broadcast(bkeys), Seq("key"))
      .join(broadcast(bside), Seq("eval_id"))
      .filter(graft.queries.Multimodal.hammingWithin("x", "y",
        graft.queries.Multimodal.DecontamHamMax))
      .select(col("media_id"), col("ts"), col("eval_id"))
  }

  /** Streaming TEXT decontamination — pl14's eval-overlap screen at
    * INGEST (the [[streamingMediaDecontam]] twin on the text family;
    * GPT-3's appendix-C 13-gram rule applied before anything lands in
    * the training store). Input rows carry (`doc_id`, `ts`, `text`);
    * `evalGrams` is the STATIC benchmark gram table (`gram` BIGINT —
    * the 60-bit md5-prefix hashes pl14 builds, e.g. its `evalGrams`
    * leg materialized once per benchmark release).
    *
    * STATELESS like the media twin: a benchmark's gram set is
    * fixed-size, so this is a stream-static equi-join against a
    * BROADCAST — no state store, no watermark; grams are built with
    * the SAME [[graft.functions.TextOps.hashedNgrams]] family at the
    * SAME [[graft.queries.Pipeline.ContamGramK]] width pl14 and the
    * funnel screen, so a document flags at ingest iff the batch
    * pl14 would flag it (StreamingSpec pins the parity). Docs shorter
    * than the gram width have no grams and cannot flag — the GPT-3
    * rule, verbatim.
    *
    * Output: one `(doc_id, ts, gram)` row per matched benchmark gram
    * (multiplicity: a doc sharing several grams emits several rows —
    * the SCREEN decision is "any row exists"; downstream
    * `dropDuplicates(doc_id)` collapses when the hit detail is not
    * wanted). */
  def streamingDecontam(docs: DataFrame, evalGrams: DataFrame): DataFrame = {
    import graft.functions.TextOps
    docs
      .select(col("doc_id"), col("ts"),
        explode(TextOps.hashedNgrams(TextOps.tokens(col("text")),
          graft.queries.Pipeline.ContamGramK)).as("gram"))
      .join(broadcast(evalGrams.select(col("gram"))), Seq("gram"))
      .select(col("doc_id"), col("ts"), col("gram"))
  }

  /** Streaming QUALITY GATE — the pl20/pl21/pl23 trained-classifier
    * family's INGEST surface (its third surface, completing the
    * batch / persisted-store / streaming triangle the dedup and
    * decontamination families already have): score every arriving
    * document with the PERSISTED model and assign its head/middle/tail
    * tier, so tail documents can be routed away before they ever land
    * in the training store — the deployed CCNet position (the model
    * and its cutoffs are TRAINING ARTIFACTS computed once per model
    * release, never per batch).
    *
    * `weights` is the stored 273-row (bucket, w DECIMAL(20,9)) table
    * ([[graft.api.QualityModel.weights]]) — collected driver-side here
    * (dimension-bounded, the pl20 convention) into a literal map, so
    * scoring is a PURE PROJECTION: no state store, no watermark, no
    * stream-side aggregate. `cuts` is the per-language (lang, c1, c2)
    * cutoff table ([[graft.api.QualityModel.cutoffs]]) — a broadcast
    * stream-static left join (≤2 values per language); a language
    * absent from `cuts` gets NULL cutoffs and falls through to tier 3
    * (tail) — the conservative route for a language the model was
    * never calibrated on.
    *
    * Determinism: the margin equals
    * [[graft.queries.Pipeline.clsScoreAll]]'s exact-decimal
    * Σ w_b·x BIT-FOR-BIT — here computed as (Σ w_b)·x, which is the
    * same rational value because every step is EXACT decimal
    * arithmetic: the fold accumulates 9-dp weights at 14 integer
    * digits of headroom, which CANNOT overflow by construction
    * (|w| < 10^11 from the decimal(20,9) weight type and a document
    * has at most [[graft.queries.Pipeline.ClsDim]] = 273 buckets, so
    * |Σw| < 2.8·10^13 < 10^14), and the one final multiply is the
    * native exact decimal(24,9)×decimal(12,9); sigmoid + 6-dp round
    * at the end, so a document scores and buckets IDENTICALLY at
    * ingest and in the batch gate (StreamingSpec pins bit-equality).
    *
    * Output: the INPUT columns plus (p DECIMAL(8,6), bucket INT
    * 1|2|3) — pass-through, so the downstream screens of a composed
    * ingest pipeline (near-dup state, the store append) chain on the
    * same stream without a stream-stream join (StreamingSpec's
    * write-path funnel test composes all four screens this way). */
  def streamingQualityGate(docs: DataFrame, weights: DataFrame,
      cuts: DataFrame): DataFrame = {
    import graft.functions.TextOps
    import graft.queries.Pipeline
    // dimension-bounded driver collect (ClsDim = 273 rows) — the
    // dense array embeds into the native scoring kernel; a missing
    // bucket reads an exact-0 slot (inside the SHARED
    // Pipeline.clsMarginFold — since the round-19 factoring the batch
    // clsScoreAll runs the SAME kernel, so the bit-equality this gate
    // pins is structural, not merely proven)
    val wArr = Pipeline.clsWeightArray(weights)
    // withColumn steps keep toks/buckets/x bound ATTRIBUTES for the
    // transform/fold lambdas (the DedupEnrich discipline) and carry
    // every input column through
    val scored = docs
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("buckets", Pipeline.clsBuckets(col("toks")))
      .withColumn("x", Pipeline.clsXNorm(col("buckets")))
      .withColumn("p",
        Pipeline.clsSigmoid(
          Pipeline.clsMarginFold(col("buckets"), col("x"), wArr)))
      .drop("toks", "buckets", "x")
    scored.join(broadcast(cuts), Seq("lang"), "left")
      .withColumn("bucket",
        when(col("p") >= col("c1"), 1)
          .when(col("p") >= col("c2"), 2).otherwise(3))
      .drop("c1", "c2")
  }

  /** The ONE stateful band-candidate core both streaming twins run —
    * factored (not copied) so the text and media surfaces cannot
    * drift: per-band held-entry state, horizon eviction, the live-held
    * saturation cap, and event-time GC. */
  private def streamingBandCandidates(banded: Dataset[BandRow],
      horizonMs: Long, maxBandDocs: Int): Dataset[NearDupCandidate] = {
    // a non-positive cap would saturate EVERY band on its first
    // arrival (held.size >= 0) and never hold state — and it is NOT
    // the opt-out convention (that is DedupIndex's hotBandThreshold,
    // which gates a probe; here the cap IS what bounds state). To run
    // uncapped — the pre-guard behavior, unbounded state — pass
    // Int.MaxValue explicitly.
    require(maxBandDocs > 0,
      s"maxBandDocs must be positive (got $maxBandDocs); " +
        "pass Int.MaxValue to run uncapped (unbounded state)")
    import banded.sparkSession.implicits._
    banded.groupByKey(_.bk)
      .flatMapGroupsWithState[BandState, NearDupCandidate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (bk: String, it: Iterator[BandRow], state: GroupState[BandState]) =>
          if (state.hasTimedOut) {
            // idle band past its horizon: drop the whole entry
            state.remove()
            Iterator.empty
          } else {
            val incoming = it.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
            var held = state.getOption.map(_.docs).getOrElse(Nil)
            val out = scala.collection.mutable.ArrayBuffer.empty[NearDupCandidate]
            incoming.foreach { r =>
              val floor = r.ts.getTime - horizonMs
              held = held.filter(_._2 >= floor)
              if (held.size >= maxBandDocs) {
                // saturated band: one marker row, no pair enumeration,
                // no state growth (the doc routes to the wide verify).
                // The arriving doc rides in `b`, same as on pair rows
                out += NearDupCandidate(-1L, r.doc_id, bk, saturated = true)
              } else {
                held.foreach { case (pid, _) =>
                  if (pid != r.doc_id) out += NearDupCandidate(pid, r.doc_id, bk)
                }
                held = (r.doc_id, r.ts.getTime) :: held
              }
            }
            state.update(BandState(held))
            // GC this band once the watermark passes its newest doc's
            // horizon (must stay above the current watermark or Spark
            // rejects the timestamp)
            state.setTimeoutTimestamp(math.max(
              held.map(_._2).max + horizonMs,
              state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }

  /** Event-time sessionization with explicit state: 30-min-gap sessions
    * per user via flatMapGroupsWithState — the reference's per-agent
    * stateful profile update re-expressed as managed streaming state.
    * Emits one update per closed session plus the live session on each
    * batch.
    *
    * State discipline (deliberate NoTimeout, unlike the band-keyed
    * operator above): one SessionState per user, i.e. state is bounded
    * by user CARDINALITY — an entity dimension, like the profile store
    * it feeds — not by stream length; an idle user's last session
    * stays live (emitted `closed = false`) until a later event closes
    * it — the same per-user-slot shape as the profile upsert (A6) this
    * stream feeds. A deployment that must reclaim idle-user state instead
    * attaches an event-time timeout and emits the final close on
    * expiry — a semantics change (sessions would close without a
    * successor event), not a drop-in. */
  def sessionize(events: Dataset[Event]): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val gapMs = 30L * 60 * 1000
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var cur = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionUpdate]
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(st) if t - st.lastTs <= gapMs =>
                cur = Some(st.copy(lastTs = t, n = st.n + 1, total = st.total + e.value))
              case Some(st) =>
                out += SessionUpdate(userId, new Timestamp(st.start), st.n, st.total, closed = true)
                cur = Some(SessionState(t, t, 1, e.value))
              case None =>
                cur = Some(SessionState(t, t, 1, e.value))
            }
          }
          cur match {
            case Some(st) =>
              state.update(st)
              out += SessionUpdate(userId, new Timestamp(st.start), st.n, st.total, closed = false)
            case None => ()
          }
          out.iterator
      }
  }
}
