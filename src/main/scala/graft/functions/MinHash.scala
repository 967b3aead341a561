package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** MinHash / SimHash sketches for near-duplicate detection, built from
  * codegen'd collection functions over md5 — no UDFs, and the exact same
  * computation is expressible in ANSI-ish SQL for the DuckDB oracle.
  *
  * Design notes for 100 TB: both sketches reduce each document to a
  * constant-size signature in a single narrow (no-shuffle) projection;
  * the only shuffle in an LSH dedup job is the band-key groupBy, whose
  * key cardinality is tunable via (nHashes, rowsPerBand). The minhash
  * domain is a pairwise-independent universal family over a 32-bit
  * digest fingerprint, so "min over shingles" is the textbook min-wise
  * estimator and agrees exactly across engines (pure integer
  * arithmetic).
  *
  * Capability parity: the reference dedups via pairwise embedding cosine
  * (crates/mnemo-core/src/query/reflection.rs:384-470); MinHash/SimHash
  * are the text-side scale path for the same pass.
  */
object MinHash {

  // band-key separator: visible escape, NOT a raw control byte (an
  // invisible \x01 in source survives reads unseen and once cost a
  // debug round). Join-key only — never compared against oracle output.
  private[graft] val Sep = "\u0001"

  /** Modulus of the universal hash family: largest prime below 2³¹.
    * With a, b, x all < P, the update aᵢ·x + bᵢ stays well inside the
    * signed 64-bit range, so checked-overflow engines (DuckDB) evaluate
    * the identical expression without wraparound concerns. */
  val Prime = 2147483629L

  private def splitmix(seed: Long): Long = VectorOps.splitmix64(seed)

  /** Deterministic (aᵢ, bᵢ) of the Carter-Wegman family, aᵢ ∈ [1, P-1],
    * bᵢ ∈ [0, P-1] — embedded as literals in both the Column expression
    * and the generated oracle SQL, so the engines can't drift. */
  private[graft] def coeffs(nHashes: Int): Seq[(Long, Long)] =
    (0 until nHashes).map { i =>
      val a = Math.floorMod(splitmix(0x5eedL + 2L * i), Prime - 1) + 1
      val b = Math.floorMod(splitmix(0x5eedL + 2L * i + 1), Prime)
      (a, b)
    }

  /** Per-shingle 32-bit fingerprints: first 8 hex chars of md5, parsed
    * and reduced mod P. Bind the result to a named column BEFORE
    * passing it to [[signature]]: lambda bodies re-evaluate
    * non-attribute argument expressions per element access, so an
    * inlined fingerprint array would recompute every md5+parse once
    * per hash function (a k-fold waste — exactly what the round-4
    * bench caught when conv() sat inside the per-hash lambda). */
  def shingleFingerprints(shingles: Column): Column =
    transform(shingles, s =>
      conv(substring(md5(s), 1, 8), 16, 10).cast("long") % Prime)

  /** k-minhash signature over a fingerprint array: element i is min
    * over shingles of hᵢ(x) = (aᵢ·x + bᵢ) mod P. One md5 + one hex
    * parse per shingle total; the k hash functions are a
    * pairwise-independent universal family over the fingerprint (the
    * classic min-wise formulation, the same shape as Spark MLlib's
    * MinHashLSH), so LSH bands of consecutive elements have the ~sʳ
    * collision probability the analysis assumes — unlike overlapping
    * windows of one digest, which share most of their bits between
    * adjacent elements. */
  def signature(fingerprints: Column, nHashes: Int): Column =
    array(coeffs(nHashes).map { case (a, b) =>
      array_min(transform(fingerprints, x => (lit(a) * x + lit(b)) % Prime))
    }: _*)

  /** DuckDB mirror of [[signature]]: a BIGINT-list expression over the
    * fingerprint-list expression `fpList`, identical coefficients and
    * arithmetic. */
  def signatureSql(fpList: String, nHashes: Int): String =
    coeffs(nHashes).map { case (a, b) =>
      s"list_min(list_transform($fpList, x -> ($a * x + $b) % $Prime))"
    }.mkString("[", ", ", "]")

  /** DuckDB mirror of [[shingleFingerprints]] over the shingle-list
    * expression `shList`. */
  def fingerprintsSql(shList: String): String =
    s"list_transform($shList, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT % $Prime)"

  /** LSH band keys: the signature is cut into bands of `rowsPerBand`
    * consecutive hashes; each band key is the md5 of (bandIdx ⊕ joined
    * member hashes). Two docs collide on a band iff that band of their
    * signatures is identical. */
  def bandKeys(sig: Column, nHashes: Int, rowsPerBand: Int): Column = {
    require(nHashes % rowsPerBand == 0, "bands must tile the signature")
    val nBands = nHashes / rowsPerBand
    array((0 until nBands).map { b =>
      val members = (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1))
      md5(concat_ws(Sep, lit(b.toString) +: members.map(_.cast("string")): _*))
    }: _*)
  }

  /** DuckDB mirror of [[bandKeys]] as an `unnest(...)` select
    * expression over the signature-list column `sigCol` — one band-key
    * row per band (the d11/d12/funnel oracle shape). `chr(1)` is the
    * SQL spelling of [[Sep]]. */
  def bandKeysSql(sigCol: String, nHashes: Int, rowsPerBand: Int): String = {
    require(nHashes % rowsPerBand == 0, "bands must tile the signature")
    val nBands = nHashes / rowsPerBand
    val members = (1 to rowsPerBand)
      .map(r => s"CAST($sigCol[$rowsPerBand*b+$r] AS VARCHAR)")
    s"""unnest(list_transform(generate_series(0, ${nBands - 1}),
       |                 b -> md5(${("CAST(b AS VARCHAR)" +: members)
                            .mkString(" || chr(1) || ")})))""".stripMargin
  }

  /** 16-bit SimHash over a token array (with multiplicity). Each token
    * maps to a 16-bit integer (first 4 hex chars of its md5) and
    * contributes ±1 per bit position; the sketch bit is the sign of the
    * per-position sum. Returned as a long in [0, 65535].
    *
    * ONE aggregate pass over the tokens with a 16-long accumulator —
    * the previous formulation ran 16 separate aggregates (one per bit),
    * re-walking the token array 16×; the round-4 bench surfaced that as
    * 4.4 s on d4 once the timed action stopped letting count() skip the
    * sketch entirely. */
  def simhash16(toks: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.SimHash16Expr(
      ColumnBridge.expression(toks)))
  }
}
