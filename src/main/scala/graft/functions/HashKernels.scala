package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Static scalar kernels behind the native Catalyst expressions in
  * [[GraftExpressions]]. A top-level Scala object compiles to a mirror class
  * with static forwarders, so generated Java (Janino) calls these directly —
  * `graft.functions.HashKernels.polyHash(s)` — with no reflective dispatch.
  *
  * Every kernel is bit-identical to the scalar-UDF form it replaces
  * (spec-asserted in FunctionsSpec, and pinned end-to-end by the driver's
  * bit-exact DuckDB oracles: t_fingerprint, d_exact_dedup, d_simhash,
  * e_lsh_top1).
  */
object HashKernels {

  /** 64-bit polynomial rolling hash over the string's UTF-16 code units —
    * `h = h * 1000003 + unit`, seed 1125899906842597 — decoded DIRECTLY from
    * the UTF8String's UTF-8 bytes, so the hot path never allocates the
    * `java.lang.String` the UDF form materialized per row.
    *
    * UTF-16 parity: a code point above the BMP contributes its two surrogate
    * units in order, exactly as `String.charAt` iteration would. Any byte
    * sequence Java's decoder would NOT round-trip verbatim (truncated or
    * continuation-less sequences, overlong encodings, 3-byte-encoded
    * surrogates, code points past U+10FFFF) falls back to
    * `toString`-then-charAt, so the result matches the UDF semantics on
    * malformed input too (Java strings always encode to valid UTF-8, so the
    * fallback is cold — it only fires for bytes that arrived from an
    * external source already malformed). */
  def polyHash(s: UTF8String): Long = {
    val nb = s.numBytes()
    var h = 1125899906842597L
    var i = 0
    while (i < nb) {
      val b = s.getByte(i) & 0xFF
      if (b < 0x80) {
        h = h * 1000003L + b
        i += 1
      } else if ((b & 0xE0) == 0xC0) {
        if (i + 1 >= nb || !cont(s, i + 1)) return fallbackHash(s)
        val cp = ((b & 0x1F) << 6) | (s.getByte(i + 1) & 0x3F)
        if (cp < 0x80) return fallbackHash(s) // overlong
        h = h * 1000003L + cp
        i += 2
      } else if ((b & 0xF0) == 0xE0) {
        if (i + 2 >= nb || !cont(s, i + 1) || !cont(s, i + 2)) return fallbackHash(s)
        val cp = ((b & 0x0F) << 12) | ((s.getByte(i + 1) & 0x3F) << 6) |
          (s.getByte(i + 2) & 0x3F)
        // overlong, or a surrogate code point (invalid in UTF-8; Java's
        // decoder replaces it, so charAt parity requires the fallback)
        if (cp < 0x800 || (cp >= 0xD800 && cp <= 0xDFFF)) return fallbackHash(s)
        h = h * 1000003L + cp
        i += 3
      } else if ((b & 0xF8) == 0xF0) {
        if (i + 3 >= nb || !cont(s, i + 1) || !cont(s, i + 2) || !cont(s, i + 3))
          return fallbackHash(s)
        val cp = ((b & 0x07) << 18) | ((s.getByte(i + 1) & 0x3F) << 12) |
          ((s.getByte(i + 2) & 0x3F) << 6) | (s.getByte(i + 3) & 0x3F)
        if (cp < 0x10000 || cp > 0x10FFFF) return fallbackHash(s)
        val u = cp - 0x10000
        h = h * 1000003L + (0xD800 + (u >>> 10))
        h = h * 1000003L + (0xDC00 + (u & 0x3FF))
        i += 4
      } else return fallbackHash(s) // stray continuation / invalid lead byte
    }
    h
  }

  @inline private def cont(s: UTF8String, i: Int): Boolean =
    (s.getByte(i) & 0xC0) == 0x80

  /** Reference semantics for byte sequences the fast decoder rejects: decode
    * exactly as Java would (replacement chars and all), then charAt-hash. */
  private def fallbackHash(s: UTF8String): Long = {
    val str = s.toString
    var h = 1125899906842597L
    var i = 0
    while (i < str.length) { h = h * 1000003L + str.charAt(i).toLong; i += 1 }
    h
  }

  /** splitmix64 finalizer — delegates to the engine's single definition
    * ([[graft.ingest.Pages.mix]]) so the two can never drift. */
  @inline def mix(z: Long): Long = graft.ingest.Pages.mix(z)

  /** 64-bit SimHash over a token array: per bit, vote +1/-1 by the bit of
    * `mix(polyHash(token))`; fingerprint bit = (vote sum > 0). Bit-identical
    * to Dedup.simhashUdf (null elements are skipped — the tokenizer never
    * produces them). */
  def simhash(toks: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = toks.numElements()
    var t = 0
    while (t < n) {
      if (!toks.isNullAt(t)) {
        val h = mix(polyHash(toks.getUTF8String(t)))
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
          bit += 1
        }
      }
      t += 1
    }
    var fp = 0L
    var bit = 0
    while (bit < 64) { if (votes(bit) > 0) fp |= (1L << bit); bit += 1 }
    fp
  }

  /** Whitespace tokenization, bit-identical to
    * `filter(split(trim(text), "\\s+"), t => length(t) > 0)`: tokens are the
    * maximal runs of characters outside Java-regex `\s` = `[ \t\n\x0B\f\r]`
    * (exactly those six ASCII chars — NOT unicode whitespace: U+00A0/U+3000
    * stay inside tokens, as the regex form keeps them). Byte-level scan is
    * UTF-8-safe: all six separators are < 0x80 and UTF-8 continuation bytes
    * are >= 0x80, so no multi-byte character can false-match. Each token is
    * an offset view into the row's byte array (`UTF8String.fromBytes` with
    * offset/len — no per-token copy); the regex form allocated a Pattern
    * matcher, a String per token, and an interpreted higher-order filter
    * pass on top. */
  def whitespaceTokens(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) out += UTF8String.fromBytes(bytes, start, i - start)
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  @inline private def isWs(b: Byte): Boolean =
    b == 0x20 || b == 0x09 || b == 0x0A || b == 0x0B || b == 0x0C || b == 0x0D

  /** Deterministic k-minhash signature over every distinct `shingleK`-code-
    * point window of the text — the static kernel behind
    * [[graft.pipeline.Dedup.minhashSignature]]'s native expression form.
    *
    * Bit-identical to the windowed reference UDF
    * ([[graft.pipeline.Dedup.minhashSignatureUdf]]), which is itself
    * spec-pinned to the shingle-array form and to the driver's bit-exact
    * `d_minhash_pairs` DuckDB oracle: each window is poly-hashed over its
    * UTF-16 code units, splitmix-finalized, deduped through the same
    * capped open-address table, and remixed into the k running minima.
    * Windows advance by CODE POINT (SQL `substring` semantics): a
    * surrogate-free fast path indexes `charAt` directly, and a
    * start-offset table handles supplementary characters.
    *
    * What the native form saves per row vs the ScalaUDF: the
    * catalyst→Scala converter, the boxed `Seq[Long]` return (k boxed
    * Longs + a WrappedArray + the converter back), and the megamorphic
    * `function.apply`; the result array goes out as an
    * `UnsafeArrayData.fromPrimitiveArray` — one flat primitive buffer.
    * The single `toString` per row remains: the window loop reads UTF-16
    * units k times each across overlapping windows, so decoding once up
    * front beats re-decoding UTF-8 bytes per window. */
  def minhashSignature(s: UTF8String, shingleK: Int, numHashes: Int): ArrayData = {
    val text = s.toString
    val kk = shingleK
    val mins = Array.fill(numHashes)(Long.MaxValue)
    if (text.length >= kk) {
      val n = text.length
      var surrogate = false
      var p = 0
      while (p < n) {
        val c = text.charAt(p)
        if (c >= 0xD800 && c <= 0xDFFF) { surrogate = true; p = n }
        p += 1
      }
      val starts: Array[Int] =
        if (!surrogate) null
        else {
          val b = scala.collection.mutable.ArrayBuffer.empty[Int]
          var i = 0
          while (i < n) {
            b += i
            i += (if (Character.isHighSurrogate(text.charAt(i)) && i + 1 < n &&
                      Character.isLowSurrogate(text.charAt(i + 1))) 2 else 1)
          }
          b.toArray
        }
      val windows = (if (starts == null) n else starts.length) - kk + 1
      if (windows > 0) {
        // same capped dedup table as the UDF form (see Dedup.scala for the
        // overflow/termination analysis)
        val cap =
          if (windows >= (1 << 21)) 1 << 22
          else java.lang.Integer.highestOneBit(math.max(windows * 2 - 1, 4)) << 1
        val mask = (cap - 1).toLong
        val seen = new Array[Long](cap)
        val maxFill = cap - (cap >>> 2)
        var filled = 0
        var hasZero = false
        var w = 0
        while (w < windows) {
          var h = 1125899906842597L
          val from = if (starts == null) w else starts(w)
          val until =
            if (starts == null) w + kk
            else if (w + kk < starts.length) starts(w + kk) else n
          var j = from
          while (j < until) { h = h * 1000003L + text.charAt(j).toLong; j += 1 }
          h = mix(h)
          var fresh = true
          if (h == 0L) { fresh = !hasZero; hasZero = true }
          else {
            var idx = (h & mask).toInt
            while (seen(idx) != 0L && seen(idx) != h) idx = (idx + 1) & mask.toInt
            if (seen(idx) == h) fresh = false
            else if (filled < maxFill) { seen(idx) = h; filled += 1 }
          }
          if (fresh) {
            var i = 0
            while (i < numHashes) {
              val hi = mix(h ^ (i.toLong * 0x9E3779B97F4A7C15L))
              if (hi < mins(i)) mins(i) = hi
              i += 1
            }
          }
          w += 1
        }
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(mins)
  }

  /** Word n-grams over a token array: element `i` is tokens `i..i+n-1`
    * joined by a single space — bit-identical to the
    * `transform(sequence(...), i => concat_ws(" ", slice(toks, i+1, n)))`
    * higher-order form it replaces (`concat_ws` skips null elements, so a
    * null token contributes nothing but its neighbors still join; our
    * tokenizer never produces nulls, this is type-surface parity only).
    * `distinct = true` fuses `array_distinct` in: first-occurrence order,
    * exactly as the built-in — but without materializing the duplicate
    * gram strings first. The HOF form is interpreted-only
    * (HigherOrderFunction never codegens) and allocates a lambda frame, a
    * `sequence` array and a `slice` copy per gram; this kernel emits one
    * `UTF8String.concatWs` per (distinct) gram and nothing else. */
  def wordNgrams(toks: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val sz = toks.numElements()
    val m = sz - (n - 1)
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val space = UTF8String.fromString(" ")
    val out = new scala.collection.mutable.ArrayBuffer[Any](m)
    val seen: java.util.HashSet[UTF8String] =
      if (distinct) new java.util.HashSet[UTF8String](m * 2) else null
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < n) {
        // concatWs skips nulls, matching concat_ws(" ", ...) semantics
        parts(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      val gram = UTF8String.concatWs(space, parts: _*)
      if (seen == null || seen.add(gram)) out += gram
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Unit-normalize a double array: sum of squares by ascending index
    * (same left fold as `aggregate(vec, 0.0, acc + x*x)`), `Math.sqrt`,
    * divide each element — bit-identical to the bind-the-norm-once
    * higher-order form in [[graft.pipeline.Ann]] on every non-degenerate
    * input. Edge semantics: a vector containing ANY null element yields an
    * array of nulls of the same length (the fold poisons to null, and
    * `transform`'s per-element division by null nulls each slot — NOT the
    * whole array), matching the HOF form; a NON-EMPTY all-zero vector
    * fails loudly, matching the HOF form's ANSI DIVIDE_BY_ZERO (the
    * session default). Fail-loud is load-bearing, not just parity: a
    * silent IEEE-NaN result would be poison downstream, because Spark's
    * SQL ordering ranks NaN GREATER than every double — an all-NaN unit
    * vector would out-rank every real neighbor in the LSH/IVF top-k
    * windows and pass every `sim >= threshold` filter, turning a single
    * zero embedding into everyone's nearest neighbor. The remedy lives in
    * the message: filter zero vectors out before normalization. */
  def normalizeVec(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i))
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          new Array[Any](n)) // n null slots
      i += 1
    }
    var acc = 0.0
    i = 0
    while (i < n) { val v = a.getDouble(i); acc += v * v; i += 1 }
    val nrm = java.lang.Math.sqrt(acc)
    if (nrm == 0.0 && n > 0)
      throw new IllegalArgumentException(
        "graft_normalize: zero vector has no direction (cosine undefined); " +
          "filter zero vectors out before normalization, e.g. " +
          "where(graft_dot(vec, vec) > 0)")
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = a.getDouble(i) / nrm; i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Per-language stopword sets as UTF8String hash sets, built once from
    * the canonical lists in [[graft.text.TextAnalysis.stops]] so the two
    * can never drift. Keys sorted for the deterministic langId argmax
    * order. */
  private lazy val stopSets: Array[(String, java.util.HashSet[UTF8String])] =
    graft.text.TextAnalysis.stops.toSeq.sortBy(_._1).map { case (lang, sw) =>
      val s = new java.util.HashSet[UTF8String](sw.length * 2)
      sw.foreach(w => s.add(UTF8String.fromString(w)))
      (lang, s)
    }.toArray

  private lazy val stopLangIdx: Map[String, Int] =
    stopSets.zipWithIndex.map { case ((lang, _), i) => (lang, i) }.toMap

  /** True iff `lang` has an embedded stopword list (guards the
    * [[graft.functions.StopHits]] constructor). */
  def hasStops(lang: String): Boolean = stopLangIdx.contains(lang)

  /** Count of tokens (occurrences, duplicates included) that are stopwords
    * of `lang` — bit-identical to the
    * `size(filter(transform(toks, lower), isin(stops)))` higher-order
    * chain it replaces: per token, `UTF8String.toLowerCase` (the same
    * lowercasing `lower()` applies) then set membership. Null tokens are
    * skipped (isin is never true for null). */
  def stopHits(toks: ArrayData, langIdx: Int): Int = {
    val set = stopSets(langIdx)._2
    val n = toks.numElements()
    var hits = 0
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i) &&
          set.contains(toks.getUTF8String(i).toLowerCase)) hits += 1
      i += 1
    }
    hits
  }

  /** Language index for [[stopHits]] codegen call sites. */
  def langIndex(lang: String): Int = stopLangIdx(lang)

  private lazy val langCodes: Array[UTF8String] =
    stopSets.map { case (lang, _) => UTF8String.fromString(lang) }
  private lazy val und = UTF8String.fromString("und")

  /** Default-locale lowercase, bit-identical to `String.toLowerCase` (the
    * langId UDF's lowering) on every input under every locale. Byte-wise
    * fast path for ASCII tokens containing no `I`: for those, every
    * locale's full mapping agrees with `c | 0x20` on A–Z (only `I` has a
    * locale-sensitive single-char lowering among ASCII). Anything else —
    * non-ASCII bytes or an `I` — takes the exact `String.toLowerCase`
    * path the UDF takes. */
  def udfLower(t: UTF8String): UTF8String = {
    val nb = t.numBytes()
    var i = 0
    var asciiNoUpperI = true
    while (i < nb && asciiNoUpperI) {
      val b = t.getByte(i)
      if ((b & 0x80) != 0 || b == 'I') asciiNoUpperI = false
      i += 1
    }
    if (asciiNoUpperI) t.toLowerCase // ASCII fast path, locale-free here
    else UTF8String.fromString(t.toString.toLowerCase)
  }

  /** Heuristic language ID over a token array — bit-identical to the
    * reference UDF ([[graft.text.TextAnalysis.langIdUdf]]): per language
    * in sorted-key order, count tokens (occurrences) in that language's
    * stopword set; strict argmax (first language to EXCEED the best so
    * far wins, ties keep the earlier), `und` if no token hits any list.
    * Lowercasing parity UNDER EVERY JVM LOCALE: the UDF lowers via
    * default-locale `String.toLowerCase`, so the kernel does too via
    * [[udfLower]] — with a byte-wise fast path only for ASCII tokens
    * without `I`, the one ASCII char whose default-locale lowering is
    * locale-sensitive (Turkish/Azeri map `I` → dotless `ı`, out of
    * a–z). `UTF8String.toLowerCase` would NOT be parity-safe here: its
    * ASCII fast path is locale-independent, so on a tr/az-locale JVM it
    * lowers the token `IS` to `is` (a stopword hit) while the UDF yields
    * `ıs` (no hit). */
  def langId(toks: ArrayData): UTF8String = {
    val n = toks.numElements()
    if (n == 0) return und
    // one lowercase pass, then per-language counting over the lowered forms
    val lowered = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      lowered(i) = if (toks.isNullAt(i)) null else udfLower(toks.getUTF8String(i))
      i += 1
    }
    var best = und
    var bestHits = 0
    var l = 0
    while (l < stopSets.length) {
      val set = stopSets(l)._2
      var hits = 0
      i = 0
      while (i < n) {
        if (lowered(i) != null && set.contains(lowered(i))) hits += 1
        i += 1
      }
      if (hits > bestHits) { best = langCodes(l); bestHits = hits }
      l += 1
    }
    best
  }

  /** True iff [[dot]] is defined: equal lengths, no null elements — the
    * exact condition under which the `aggregate(zip_with(...))` form this
    * replaces produces a non-null sum (zip_with pads the shorter side with
    * nulls; any null product nulls the whole fold). */
  def dotDefined(a: ArrayData, b: ArrayData): Boolean = {
    val n = a.numElements()
    if (b.numElements() != n) return false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** Sequential ascending-index dot product of two double arrays —
    * `acc = acc + a(i)*b(i)`, the same left fold (same FP rounding) as the
    * `aggregate(zip_with(...))` form and the oracles' prepend-0
    * `list_reduce`. Call only when [[dotDefined]]. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** Random-hyperplane LSH signature of a double vector: `numPlanes` sign
    * bits packed into a long, plane `p`'s component at dim `j` being
    * `mix(mix(planeOffset+p) ^ (j * 0xC2B2AE3D27D4EB4F)) / 2^63` — the
    * exact double chain of [[graft.pipeline.Ann.planeComponent]] and the
    * scalar UDF this replaces (projection is the same ascending-dim left
    * fold, divide-then-multiply-then-add, so every acc double is
    * bit-identical and the e_lsh_top1 oracle replays unchanged). A null
    * ELEMENT contributes 0.0, matching the UDF's `Seq[Double]` unboxing of
    * a null slot. One fused pass, no boxed Seq, no converter — the UDF
    * paid catalyst→Scala conversion of the whole vector per row. */
  def hyperplaneSig(v: ArrayData, numPlanes: Int, planeOffset: Int): Long = {
    val n = v.numElements()
    var bits = 0L
    var p = 0
    while (p < numPlanes) {
      val pm = mix((planeOffset + p).toLong)
      var acc = 0.0
      var j = 0
      while (j < n) {
        val x = if (v.isNullAt(j)) 0.0 else v.getDouble(j)
        acc += x * (mix(pm ^ (j.toLong * 0xC2B2AE3D27D4EB4FL)).toDouble /
          Long.MaxValue.toDouble)
        j += 1
      }
      if (acc >= 0) bits |= (1L << p)
      p += 1
    }
    bits
  }

  /** Longest run of equal elements in the SORTED order of a string array =
    * the maximum frequency of any element (invariant to WHICH total order
    * sorts it, so binary UTF8String order here vs `sort_array`'s in the
    * HOF reference form cannot change the result). Replaces the
    * interpreted `aggregate(sort_array(b), struct(prev,run,best), ...)`
    * fold on the per-document repetition-signal path — integer-valued, so
    * equivalence is exact, not FP-sensitive. Empty array → 0 (the HOF
    * form's initial `best`). Null elements are skipped: in the HOF fold a
    * null never equals its predecessor, so each is a run of 1 and can only
    * matter when no non-null element exists (result 1). */
  def maxSortedRun(arr: ArrayData): Int = {
    val total = arr.numElements()
    if (total == 0) return 0
    val a = new Array[UTF8String](total)
    var n = 0
    var i = 0
    while (i < total) {
      if (!arr.isNullAt(i)) { a(n) = arr.getUTF8String(i); n += 1 }
      i += 1
    }
    // natural-order sort: UTF8String is Comparable (binary byte order)
    java.util.Arrays.sort(a.asInstanceOf[Array[Object]], 0, n)
    var best = 1
    var run = 1
    i = 1
    while (i < n) {
      if (a(i).equals(a(i - 1))) { run += 1; if (run > best) best = run }
      else run = 1
      i += 1
    }
    best
  }
}
