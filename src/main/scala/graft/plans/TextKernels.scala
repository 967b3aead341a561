package graft.plans

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/** Native one-pass kernels for the per-document text hot path — the
  * round-19 replacement for the higher-order-function compositions
  * (`transform`/`aggregate` lambdas) that previously built shingle
  * sets, MinHash band keys, hashed n-grams, classifier feature buckets
  * and SimHash sketches. Spark evaluates lambda functions as
  * interpreted CodegenFallback trees — per ELEMENT it binds an
  * InternalRow, walks an expression tree, and boxes intermediates — so
  * on a corpus pass these compositions dominated executor compute
  * (guide §1.2 step 2 / §"expressions and codegen"). Each kernel here
  * is one static call per row running a tight JVM loop, reached from
  * its case class below through the [[Kernel]] pattern, and each is
  * EXACTLY value-equal to the composition it replaces
  * (NativeKernelsSpec pins equality against the retained composed
  * builders on the full corpus plus edge cases; the DuckDB oracle SQL
  * is unchanged and re-verifies every consuming query end-to-end).
  *
  * Shared conventions with the composed forms they mirror:
  * - md5 is over the UTF-8 bytes, rendered lowercase hex (Spark's
  *   `md5`); numeric prefixes parse hex left-to-right (Spark's
  *   `conv(substring(hex,1,k),16,10)` = the first 4k bits unsigned).
  * - `concat_ws` SKIPS null arguments; `array_distinct` keeps first
  *   occurrences in encounter order (and retains one null).
  * - `array_min` ignores null elements.
  * These kernels replicate that null/dedup behaviour even though the
  * upstream `tokens()` never produces null elements.
  *
  * Not registered in [[GraftExtensions]]: internal engine kernels
  * behind the public builder functions, not SQL surface.
  */
object TextKernels {
  def md5Hex(s: String): String = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < 16) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  private def md5Bytes(s: String): Array[Byte] =
    MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))

  /** First 8 hex chars of md5 as an unsigned long (= first 4 digest
    * bytes big-endian) — the MinHash fingerprint domain. */
  def md5Prefix32(s: String): Long = {
    val d = md5Bytes(s)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** First 15 hex chars of md5 as an unsigned long (60 bits) — the
    * hashedNgrams / clsBuckets domain. */
  def md5Prefix60(s: String): Long = {
    val d = md5Bytes(s)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xffL) >>> 4)
  }

  /** First 4 hex chars of md5 as an unsigned long (16 bits) — the
    * SimHash token domain. */
  def md5Prefix16(s: String): Long = {
    val d = md5Bytes(s)
    ((d(0) & 0xffL) << 8) | (d(1) & 0xffL)
  }

  /** Space-joined slice toks[from..from+k), skipping null elements
    * (concat_ws semantics). */
  private def joinSlice(toks: ArrayData, from: Int, k: Int): String = {
    val sb = new java.lang.StringBuilder
    var first = true
    var j = 0
    while (j < k) {
      if (!toks.isNullAt(from + j)) {
        if (!first) sb.append(' ')
        sb.append(toks.getUTF8String(from + j).toString)
        first = false
      }
      j += 1
    }
    sb.toString
  }

  /** [[graft.functions.TextOps.shingles]](k) + array_distinct fused:
    * distinct word k-shingles in first-occurrence order, whole-doc
    * fallback for docs shorter than k. */
  def shingleSet(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    val seen = new java.util.LinkedHashSet[String]
    if (n >= k) {
      var i = 0
      while (i <= n - k) { seen.add(joinSlice(toks, i, k)); i += 1 }
    } else {
      seen.add(joinSlice(toks, 0, n))
    }
    val out = new Array[Any](seen.size)
    var i = 0
    val it = seen.iterator()
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  /** fingerprints → k-min signature → band keys fused (the
    * [[graft.functions.DedupEnrich.withBandKeys]] chain): returns the
    * band-key array, or an EMPTY array when no non-null shingle exists
    * (the composed chain's `when(sig(1).isNotNull, …)` wrapper). */
  def minHashBandKeys(sh: ArrayData, coeffTableA: KernelTable[Array[Long]],
      coeffTableB: KernelTable[Array[Long]], rowsPerBand: Int, prime: Long,
      sepUtf8: UTF8String): ArrayData = {
    val coeffA = coeffTableA.values
    val coeffB = coeffTableB.values
    val sep = sepUtf8.toString
    val k = coeffA.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = sh.numElements()
    var any = false
    var i = 0
    while (i < n) {
      if (!sh.isNullAt(i)) {
        any = true
        val f = md5Prefix32(sh.getUTF8String(i).toString) % prime
        var h = 0
        while (h < k) {
          val v = (coeffA(h) * f + coeffB(h)) % prime
          if (v < mins(h)) mins(h) = v
          h += 1
        }
      }
      i += 1
    }
    if (!any) return new GenericArrayData(Array.empty[Any])
    val nBands = k / rowsPerBand
    val out = new Array[Any](nBands)
    var b = 0
    while (b < nBands) {
      val sb = new java.lang.StringBuilder
      sb.append(b)
      var r = 0
      while (r < rowsPerBand) {
        sb.append(sep).append(mins(b * rowsPerBand + r))
        r += 1
      }
      out(b) = UTF8String.fromString(md5Hex(sb.toString))
      b += 1
    }
    new GenericArrayData(out)
  }

  /** strict n-grams → 60-bit hashes → distinct fused (the
    * [[graft.functions.TextOps.hashedNgrams]] chain): empty for docs
    * shorter than k. */
  def hashedNgrams(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[java.lang.Long]
    var i = 0
    while (i <= n - k) {
      seen.add(md5Prefix60(joinSlice(toks, i, k)))
      i += 1
    }
    val out = new Array[Any](seen.size)
    var j = 0
    val it = seen.iterator()
    while (it.hasNext) { out(j) = it.next().longValue(); j += 1 }
    new GenericArrayData(out)
  }

  /** distinct md5-bucketed tokens + bias slot + capped length bin
    * fused (the [[graft.queries.Pipeline]] clsBuckets chain). A null
    * token maps to a null element retained once by the distinct, the
    * composed form's behaviour. */
  def clsBuckets(toks: ArrayData, d: Int, bias: Long,
      lenBase: Long): ArrayData = {
    val n = toks.numElements()
    val seen = new java.util.LinkedHashSet[java.lang.Long]
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) seen.add(null)
      else seen.add(md5Prefix60(toks.getUTF8String(i).toString) % d)
      i += 1
    }
    val out = new Array[Any](seen.size + 2)
    var j = 0
    val it = seen.iterator()
    while (it.hasNext) {
      val v = it.next()
      out(j) = if (v == null) null else v.longValue()
      j += 1
    }
    out(j) = bias
    out(j + 1) = lenBase + math.min(15L, n / 16L)
    new GenericArrayData(out)
  }

  /** strict n-grams as STRINGS + distinct fused (the pl7 shape —
    * DuckDB mirror: `list_distinct(list_transform(range(...), i ->
    * toks[i] || ' ' || ...))`): distinct space-joined k-grams in
    * first-occurrence order, EMPTY for docs shorter than k (no
    * whole-doc fallback — the decontamination granularity). */
  def ngramSet(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]
    var i = 0
    while (i <= n - k) { seen.add(joinSlice(toks, i, k)); i += 1 }
    val out = new Array[Any](seen.size)
    var j = 0
    val it = seen.iterator()
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  /** Per-doc token statistics (the GopherRules / pl1-quality shape):
    * sum of token CHARACTER lengths (Spark `length` = numChars), the
    * count of tokens containing any a-z character (the `rlike("[a-z]")`
    * class — byte-scan exact, since no UTF-8 multi-byte unit overlaps
    * 0x61..0x7a), and the count WITH multiplicity of stop-list tokens.
    * Replaces three interpreted per-token lambda passes with one
    * loop. A null token counts in neither count (the filter lambdas
    * drop it) and makes the length sum NULL (the composed length-sum
    * aggregate null-poisons). */
  def tokenStats(toks: ArrayData,
      stopTable: KernelTable[Array[UTF8String]]): InternalRow = {
    val stop = stopTable.values
    val n = toks.numElements()
    var sumLen = 0L
    var nAlpha = 0L
    var nStop = 0L
    var anyNull = false
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) anyNull = true
      else {
        val t = toks.getUTF8String(i)
        sumLen += t.numChars()
        val bytes = t.getBytes
        var j = 0
        var alpha = false
        while (!alpha && j < bytes.length) {
          val b = bytes(j)
          if (b >= 'a'.toByte && b <= 'z'.toByte) alpha = true
          j += 1
        }
        if (alpha) nAlpha += 1
        var k = 0
        var isStop = false
        while (!isStop && k < stop.length) {
          if (t.equals(stop(k))) isStop = true
          k += 1
        }
        if (isStop) nStop += 1
      }
      i += 1
    }
    val row = new GenericInternalRow(3)
    if (anyNull) row.setNullAt(0) else row.setLong(0, sumLen)
    row.setLong(1, nAlpha)
    row.setLong(2, nStop)
    row
  }

  /** Span-removal rebuild (the d14 shape): tokens surviving the
    * W-wide removal spans at the given 1-based start positions —
    * returns (n_kept, md5 of the space-joined kept tokens in position
    * order). Matches the posexplode → anti-join → groupBy/array_sort
    * rebuild exactly: a position survives iff NO span covers it; zero
    * survivors (or zero tokens) yield md5(""). */
  def removeSpans(toks: ArrayData, starts: ArrayData, w: Int): InternalRow = {
    val n = toks.numElements()
    val covered = new Array[Boolean](n)
    val m = starts.numElements()
    var i = 0
    while (i < m) {
      if (!starts.isNullAt(i)) {
        val p = starts.getInt(i)
        var t = math.max(1, p)
        val end = math.min(n, p + w - 1)
        while (t <= end) { covered(t - 1) = true; t += 1 }
      }
      i += 1
    }
    val sb = new java.lang.StringBuilder
    var kept = 0L
    var first = true
    var t = 0
    while (t < n) {
      if (!covered(t)) {
        kept += 1
        if (!toks.isNullAt(t)) {
          if (!first) sb.append(' ')
          sb.append(toks.getUTF8String(t).toString)
          first = false
        }
      }
      t += 1
    }
    val row = new GenericInternalRow(2)
    row.setLong(0, kept)
    row.update(1, UTF8String.fromString(md5Hex(sb.toString)))
    row
  }

  /** Per-doc top bigram (the pl6 shape): bigram counts with
    * multiplicity, winner = max count, ties broken by the BINARY-min
    * bigram string (UTF8String order — the struct-min convention of
    * the aggregate form it replaces). Null for docs with < 2 tokens
    * (the aggregate form's n_tokens >= 2 gate). */
  def topBigram(toks: ArrayData): InternalRow = {
    val n = toks.numElements()
    if (n < 2) return null
    val counts = new java.util.HashMap[UTF8String, Long]
    var i = 0
    while (i < n - 1) {
      val bg = UTF8String.fromString(joinSlice(toks, i, 2))
      counts.put(bg, counts.getOrDefault(bg, 0L) + 1L)
      i += 1
    }
    var bestC = -1L
    var bestBg: UTF8String = null
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue
      if (c > bestC || (c == bestC && e.getKey.compareTo(bestBg) < 0)) {
        bestC = c
        bestBg = e.getKey
      }
    }
    val row = new GenericInternalRow(2)
    row.setLong(0, bestC)
    row.update(1, bestBg)
    row
  }

  /** Every W-token window occurrence with its 1-based start position
    * (the [[graft.functions.DedupEnrich.windowOccurrencesFromToks]]
    * chain): array<struct<pos:int, h:string>>, empty for docs shorter
    * than W. */
  def windowOccurrences(toks: ArrayData, w: Int): ArrayData = {
    val n = toks.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - w + 1)
    var i = 0
    while (i <= n - w) {
      val row = new GenericInternalRow(2)
      row.setInt(0, i + 1)
      row.update(1, UTF8String.fromString(md5Hex(joinSlice(toks, i, w))))
      out(i) = row
      i += 1
    }
    new GenericArrayData(out)
  }

  /** DISTINCT window hashes only (the
    * [[graft.functions.DedupEnrich.windowHashesFromToks]] chain):
    * first-occurrence order, empty for docs shorter than W. */
  def windowHashes(toks: ArrayData, w: Int): ArrayData = {
    val n = toks.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]
    var i = 0
    while (i <= n - w) { seen.add(md5Hex(joinSlice(toks, i, w))); i += 1 }
    val out = new Array[Any](seen.size)
    var j = 0
    val it = seen.iterator()
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  /** 16-bit SimHash fused (the [[graft.functions.MinHash.simhash16]]
    * aggregate/zip_with chain): per-token 16-bit md5 prefix, ±1 per
    * bit position, sketch bit = sign of the per-position sum. A null
    * token yields 0: in the composed chain it null-poisons every
    * per-position sum, and a null sum sets no bit. */
  def simhash16(toks: ArrayData): Long = {
    val sums = new Array[Long](16)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) return 0L
      val x = md5Prefix16(toks.getUTF8String(i).toString)
      var p = 0
      while (p < 16) {
        sums(p) += (((x >> p) & 1L) * 2L - 1L)
        p += 1
      }
      i += 1
    }
    var out = 0L
    var p = 0
    while (p < 16) {
      if (sums(p) > 0) out |= (1L << p)
      p += 1
    }
    out
  }
}

/** See [[TextKernels.shingleSet]]. A NULL token array yields `[""]`:
  * the composed chain's otherwise-branch concat_ws skips the null. */
case class ShingleSetExpr(child: Expression, k: Int)
    extends RuntimeReplaceable with StringArrayInput {
  override lazy val replacement: Expression = Kernel.orElse(
    Kernel.invoke(TextKernels, "shingleSet",
      ArrayType(StringType, containsNull = false), Seq(child, Literal(k))),
    new GenericArrayData(Array[Any](UTF8String.fromString(""))))
  override protected def withNewChildInternal(
      newChild: Expression): ShingleSetExpr = copy(child = newChild)
  override def prettyName: String = "shingle_set"
}

/** See [[TextKernels.minHashBandKeys]]. Coefficients embed at
  * construction (the MinHash.coeffs Carter-Wegman family). A NULL
  * shingle set yields the empty array: the composed chain's signature
  * elements are all null there, and its isNotNull wrapper routes to
  * the empty-array branch. */
case class MinHashBandKeysExpr(child: Expression, coeffA: IndexedSeq[Long],
    coeffB: IndexedSeq[Long], rowsPerBand: Int, prime: Long, sep: String)
    extends RuntimeReplaceable with StringArrayInput {
  require(coeffA.length == coeffB.length &&
    coeffA.length % rowsPerBand == 0, "bands must tile the signature")
  override lazy val replacement: Expression = Kernel.orEmpty(
    Kernel.invoke(TextKernels, "minHashBandKeys",
      ArrayType(StringType, containsNull = false),
      Seq(child, Kernel.table(coeffA.toArray), Kernel.table(coeffB.toArray),
        Literal(rowsPerBand), Literal(prime), Literal(sep))))
  override protected def withNewChildInternal(
      newChild: Expression): MinHashBandKeysExpr = copy(child = newChild)
  override def prettyName: String = "minhash_band_keys"
}

/** See [[TextKernels.hashedNgrams]]. A NULL token array yields the
  * empty array (the strict-ngram chain's otherwise-branch). */
case class HashedNgramsExpr(child: Expression, k: Int)
    extends RuntimeReplaceable with StringArrayInput {
  override lazy val replacement: Expression = Kernel.orEmpty(
    Kernel.invoke(TextKernels, "hashedNgrams",
      ArrayType(LongType, containsNull = false), Seq(child, Literal(k))))
  override protected def withNewChildInternal(
      newChild: Expression): HashedNgramsExpr = copy(child = newChild)
  override def prettyName: String = "hashed_ngrams"
}

/** See [[TextKernels.clsBuckets]]. */
case class ClsBucketsExpr(child: Expression, d: Int, bias: Long,
    lenBase: Long) extends RuntimeReplaceable with StringArrayInput {
  override lazy val replacement: Expression =
    Kernel.invoke(TextKernels, "clsBuckets",
      ArrayType(LongType, containsNull = true),
      Seq(child, Literal(d), Literal(bias), Literal(lenBase)))
  override protected def withNewChildInternal(
      newChild: Expression): ClsBucketsExpr = copy(child = newChild)
  override def prettyName: String = "cls_buckets"
}

/** See [[TextKernels.simhash16]]. */
case class SimHash16Expr(child: Expression)
    extends RuntimeReplaceable with StringArrayInput {
  override lazy val replacement: Expression =
    Kernel.invoke(TextKernels, "simhash16", LongType, Seq(child))
  override protected def withNewChildInternal(
      newChild: Expression): SimHash16Expr = copy(child = newChild)
  override def prettyName: String = "simhash16"
}

/** See [[TextKernels.ngramSet]]: distinct strict string n-grams; a
  * NULL token array yields the empty array. */
case class NgramSetExpr(child: Expression, k: Int)
    extends RuntimeReplaceable with StringArrayInput {
  override lazy val replacement: Expression = Kernel.orEmpty(
    Kernel.invoke(TextKernels, "ngramSet",
      ArrayType(StringType, containsNull = false), Seq(child, Literal(k))))
  override protected def withNewChildInternal(
      newChild: Expression): NgramSetExpr = copy(child = newChild)
  override def prettyName: String = "ngram_set"
}

/** See [[TextKernels.tokenStats]]: struct<sum_len:bigint,
  * n_alpha:bigint, n_stop:bigint>. */
case class TokenStatsExpr(child: Expression, stop: IndexedSeq[String])
    extends RuntimeReplaceable with StringArrayInput {
  override lazy val replacement: Expression =
    Kernel.invoke(TextKernels, "tokenStats",
      StructType(Seq(StructField("sum_len", LongType, nullable = true),
        StructField("n_alpha", LongType, nullable = false),
        StructField("n_stop", LongType, nullable = false))),
      Seq(child, Kernel.table(stop.map(UTF8String.fromString).toArray)))
  override protected def withNewChildInternal(
      newChild: Expression): TokenStatsExpr = copy(child = newChild)
  override def prettyName: String = "token_stats"
}

/** See [[TextKernels.removeSpans]]: struct<n_kept:bigint,
  * kept_md5:string>. NULL routing mirrors the posexplode/anti-join/
  * groupBy chain this kernel replaces: a NULL token array produced no
  * rows there, so the left-join coalesces yielded (0, md5("")); NULL
  * spans behave as no spans. Both inputs therefore read as empty
  * arrays when NULL. */
case class RemoveSpansExpr(left: Expression, right: Expression, w: Int)
    extends RuntimeReplaceable with BinaryLike[Expression] {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"remove_spans expects (array<string>, array<int>), got " +
          s"${l.catalogString}, ${r.catalogString}")
    }
  override lazy val replacement: Expression =
    Kernel.invoke(TextKernels, "removeSpans",
      StructType(Seq(StructField("n_kept", LongType, nullable = false),
        StructField("kept_md5", StringType, nullable = false))),
      Seq(Kernel.orEmpty(left), Kernel.orEmpty(right), Literal(w)))
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): RemoveSpansExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "remove_spans"
}

/** See [[TextKernels.topBigram]]: struct<top_c:bigint, bg:string>,
  * null for docs with fewer than two tokens. */
case class TopBigramExpr(child: Expression)
    extends RuntimeReplaceable with StringArrayInput {
  override lazy val replacement: Expression =
    Kernel.invoke(TextKernels, "topBigram",
      StructType(Seq(StructField("top_c", LongType, nullable = false),
        StructField("bg", StringType, nullable = false))),
      Seq(child), returnsNull = true)
  override protected def withNewChildInternal(
      newChild: Expression): TopBigramExpr = copy(child = newChild)
  override def prettyName: String = "top_bigram"
}

/** See [[TextKernels.windowOccurrences]]: every W-token window with
  * its 1-based start position — the d9/d14/DedupIndex window-hash
  * construction fused into one loop (md5 of the space-joined W-token
  * slice, concat_ws null-skip semantics). A NULL token array yields
  * the empty array (the composed chain's otherwise-branch). */
case class WindowOccurrencesExpr(child: Expression, w: Int)
    extends RuntimeReplaceable with StringArrayInput {
  override lazy val replacement: Expression = Kernel.orEmpty(
    Kernel.invoke(TextKernels, "windowOccurrences", ArrayType(
      StructType(Seq(StructField("pos", IntegerType, nullable = false),
        StructField("h", StringType, nullable = false))),
      containsNull = false), Seq(child, Literal(w))))
  override protected def withNewChildInternal(
      newChild: Expression): WindowOccurrencesExpr = copy(child = newChild)
  override def prettyName: String = "window_occurrences"
}

/** See [[TextKernels.windowHashes]]: the DISTINCT window hashes only
  * (the d9 / maintained-index granularity); a NULL token array yields
  * the empty array. */
case class WindowHashesExpr(child: Expression, w: Int)
    extends RuntimeReplaceable with StringArrayInput {
  override lazy val replacement: Expression = Kernel.orEmpty(
    Kernel.invoke(TextKernels, "windowHashes",
      ArrayType(StringType, containsNull = false), Seq(child, Literal(w))))
  override protected def withNewChildInternal(
      newChild: Expression): WindowHashesExpr = copy(child = newChild)
  override def prettyName: String = "window_hashes"
}
