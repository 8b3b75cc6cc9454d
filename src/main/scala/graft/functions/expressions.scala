package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/**
 * Native Catalyst expressions for the hot numeric kernels. Both emit a
 * single static-method call from codegen: Spark's expression-tree
 * codegen for the equivalent column compositions generates methods far
 * past HotSpot's 8 KB JIT bytecode limit (measured 28 KB for the fused
 * flight-distance projection), which silently fall back to the bytecode
 * interpreter (~50x slower). A one-call kernel stays tiny and JITs.
 */

/** Double-precision dot product of two float vectors, sequential fold —
 *  byte-compatible with `aggregate(zip_with(a,b,(x,y)->double(x)*double(y)),0d,+)`. */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorMath.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorMath.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorMath {
  /** Canonical per-language stopword table for the language-ID heuristic
   *  (single source of truth; `ops.TextAnalyticsOps.Stopwords` aliases
   *  it). Order is the tie-break precedence: en > es > de > fr. */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "los", "una"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "fr" -> Seq("le", "la", "de", "et", "les", "une", "est"))

  private val langTags: Array[org.apache.spark.unsafe.types.UTF8String] =
    (Stopwords.map(_._1) :+ "und")
      .map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray
  private val stopSets: Array[java.util.HashSet[String]] =
    Stopwords.map { case (_, ws) =>
      val s = new java.util.HashSet[String]()
      ws.foreach(s.add)
      s
    }.toArray

  /** One-pass language ID; see [[LangId]]. Tokenizes like Java regex
   *  \s+ (empty tokens dropped), counts per-language stopword hits (a
   *  word may hit several languages), returns the first language in
   *  table order whose count is > 0 and >= every later language's
   *  count; no hits at all -> "und". Equal to the composed
   *  split/filter/isin argmax column formulation (NativeExprSpec). */
  def langId(text: String): org.apache.spark.unsafe.types.UTF8String = {
    val nLang = stopSets.length
    val counts = new Array[Int](nLang)
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && isWs(text.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(text.charAt(i))) i += 1
      if (i > start) {
        val w = text.substring(start, i)
        var l = 0
        while (l < nLang) {
          if (stopSets(l).contains(w)) counts(l) += 1
          l += 1
        }
      }
    }
    var best = nLang // sentinel: "und"
    var l = nLang - 1
    while (l >= 0) {
      if (counts(l) > 0 && (best == nLang || counts(l) >= counts(best))) best = l
      l -= 1
    }
    langTags(best)
  }

  /** Sequential left-fold dot product in double precision (same
   *  accumulation order as the HOF formulation and the DuckDB oracle). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    // fold over the shorter length: ragged inputs must not read past a
    // buffer (UnsafeArrayData.getFloat has no bounds check)
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Positional word n-gram hashes; see [[GramHashes]]. Same split and
   *  hash family as [[shingleHashes]] but duplicates are KEPT in gram
   *  order — element k is the hash of the gram starting at word k, so
   *  downstream posexplode yields (position, hash) pairs for span-level
   *  dedup ([[graft.ops.DedupOps.repeatedSpanStats]]). With
   *  `portable=true` the hash family switches to the top 60 bits of
   *  md5 (the [[wordHashes]] device) so the VALUES — not just counts
   *  derived from them — are recomputable in any engine with md5
   *  (winnowing fingerprint selection orders by the hash, so its
   *  oracle needs the identical numbers, not a count-equivalence). */
  def gramHashes(text: String, n: Int, portable: Boolean = false): org.apache.spark.sql.catalyst.util.ArrayData = {
    val words = new java.util.ArrayList[String]()
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && isWs(text.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(text.charAt(i))) i += 1
      if (i > start) words.add(text.substring(start, i))
    }
    val md = if (portable) java.security.MessageDigest.getInstance("MD5") else null
    val m = math.max(words.size - n + 1, 0)
    val out = new Array[Long](m)
    var g = 0
    while (g < m) {
      val sb = new java.lang.StringBuilder(words.get(g))
      var j = 1
      while (j < n) { sb.append(' ').append(words.get(g + j)); j += 1 }
      out(g) =
        if (portable) {
          md.reset()
          val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          var v = 0L
          var b = 0
          while (b < 8) { v = (v << 8) | (d(b) & 0xFFL); b += 1 }
          v >>> 4
        } else {
          val u = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
          org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
            u, org.apache.spark.sql.types.StringType, 42L)
        }
      g += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Row-local repeated-span statistics against a SORTED array of
   *  duplicated gram hashes; see [[SpanFlagStats]]. Same word split,
   *  gram windows, and hash family as [[gramHashes]]; membership is a
   *  binary search (the sorted-long[] model is 8 bytes/entry with no
   *  boxing — leaner than a HashSet at web-scale dup-set sizes).
   *  Covered tokens accumulate forward: the first duplicated position
   *  contributes n, each later one min(n, pos - prevDupPos) — the
   *  same interval union the batch query's lead() window computes. */
  def spanStats(text: String, n: Int, dup: Array[Long]): InternalRow = {
    val words = new java.util.ArrayList[String]()
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && isWs(text.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(text.charAt(i))) i += 1
      if (i > start) words.add(text.substring(start, i))
    }
    val m = math.max(words.size - n + 1, 0)
    var nDup = 0L
    var covered = 0L
    var prevDup = -1
    var g = 0
    while (g < m) {
      val sb = new java.lang.StringBuilder(words.get(g))
      var j = 1
      while (j < n) { sb.append(' ').append(words.get(g + j)); j += 1 }
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        u, org.apache.spark.sql.types.StringType, 42L)
      if (java.util.Arrays.binarySearch(dup, h) >= 0) {
        nDup += 1
        covered += (if (prevDup < 0) n else math.min(n, g - prevDup))
        prevDup = g
      }
      g += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](m.toLong, nDup, covered))
  }

  /** Row-local dedup-key text normalization; see [[NormalizeText]].
   *  Pipeline: NFD-decompose and strip ALL combining marks (\\p{M} —
   *  the utf8proc STRIPMARK scope, so DuckDB's `strip_accents`
   *  reproduces it; no NFC recompose afterwards, matching utf8proc) →
   *  per-codepoint lowercase → collapse whitespace runs to one space →
   *  trim. Returns (n_chars_raw, n_chars_norm — both CODEPOINTS, the
   *  engines' shared len() — changed, norm). Scope note: equivalence
   *  with DuckDB holds on the repertoire the fixtures exercise (ASCII
   *  + Latin combining-mark accents); locale-special casings (Turkish
   *  İ) and NFC-recomposable mark-free scripts (Hangul jamo) are
   *  outside the contract and outside the corpus. */
  def normalizeText(text: String): InternalRow = {
    val nfd = java.text.Normalizer.normalize(text,
      java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(nfd.length)
    var i = 0
    var lastWs = false
    while (i < nfd.length) {
      val cp = nfd.codePointAt(i)
      i += Character.charCount(cp)
      val t = Character.getType(cp)
      if (t != Character.NON_SPACING_MARK &&
        t != Character.COMBINING_SPACING_MARK &&
        t != Character.ENCLOSING_MARK) {
        // RE2's \s is exactly [\t\n\f\r ] — NOT U+000B, which java's
        // \s (and this file's isWs) includes; the oracle collapses
        // with DuckDB/RE2 regexp_replace, so the kernel must match
        // RE2, empirically verified (a vertical tab flows through as a
        // regular character in BOTH engines)
        if (cp == ' ' || cp == '\t' || cp == '\n' || cp == '\f' ||
          cp == '\r') {
          if (!lastWs) sb.append(' ')
          lastWs = true
        } else {
          sb.appendCodePoint(Character.toLowerCase(cp))
          lastWs = false
        }
      }
    }
    // trim the single leading/trailing space the collapse may leave
    var s = 0
    var e = sb.length
    if (e > s && sb.charAt(s) == ' ') s += 1
    if (e > s && sb.charAt(e - 1) == ' ') e -= 1
    val norm = sb.substring(s, e)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](text.codePointCount(0, text.length).toLong,
        norm.codePointCount(0, norm.length).toLong,
        norm != text,
        org.apache.spark.unsafe.types.UTF8String.fromString(norm)))
  }

  /** Row-local line-level cleaning pass; see [[LineFilterStats]]. One
   *  scan over the doc's '\n'-separated lines (manual split KEEPING
   *  empty segments — java's split drops trailing empties; the oracle's
   *  string_split keeps them) classifying each line by first-match
   *  precedence dup > bullet > numeric > short, plus the
   *  terminal-punctuation count over ALL original lines and the kept
   *  lines rejoined with '\n'. Line length is CODEPOINTS (DuckDB's
   *  len), not UTF-16 units. Duplicate = exact string equality with
   *  ANY earlier line of the same doc, whatever that line's class. */
  def lineStats(text: String): InternalRow = {
    val seen = new java.util.HashSet[String]()
    val kept = new java.lang.StringBuilder()
    var nLines = 0L
    var nKept = 0L
    var nDup = 0L
    var nBullet = 0L
    var nNumeric = 0L
    var nShort = 0L
    var nEndPunct = 0L
    var start = 0
    val len = text.length
    while (start <= len) {
      var end = text.indexOf('\n', start)
      if (end < 0) end = len
      val line = text.substring(start, end)
      nLines += 1
      if (line.nonEmpty) {
        val last = line.charAt(line.length - 1)
        if (last == '.' || last == '!' || last == '?') nEndPunct += 1
      }
      var digits = false
      var numeric = line.nonEmpty
      var ci = 0
      while (numeric && ci < line.length) {
        val c = line.charAt(ci)
        if (c >= '0' && c <= '9') digits = true
        else if (c != ' ' && c != '.' && c != ',' && c != ':' &&
          c != '%' && c != '/' && c != '-') numeric = false
        ci += 1
      }
      if (!seen.add(line)) nDup += 1
      else if (line.startsWith("- ") || line.startsWith("* ") ||
        line.startsWith("• ")) nBullet += 1
      else if (numeric && digits) nNumeric += 1
      else if (line.codePointCount(0, line.length) < 10) nShort += 1
      else {
        if (nKept > 0) kept.append('\n')
        kept.append(line)
        nKept += 1
      }
      start = end + 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nLines, nKept, nDup, nBullet, nNumeric, nShort, nEndPunct,
        org.apache.spark.unsafe.types.UTF8String.fromString(kept.toString)))
  }

  /** Row-local Bloom-filter probe of a text's DISTINCT portable
   *  (md5-60) word n-gram hashes against a broadcast bitmap; see
   *  [[BloomProbe]]. Same word split, gram windows, and md5-60 hash as
   *  [[gramHashes]]'s `portable=true` family (so the DuckDB oracle
   *  re-derives the identical 60-bit values from
   *  `'0x' || substr(md5(ng), 1, 15)`), with first-occurrence dedup BY
   *  HASH VALUE (a 2^-60 gram collision dedups — the oracle's
   *  `DISTINCT (doc_id, h)` matches that, not distinct strings). The k
   *  bit positions come from enhanced double hashing
   *  (Dillinger–Manolios 2004) over the hash's three fixed 20-bit
   *  fields: p_i = (a + i*b + C(i,2)*c) & (m-1) with a = h & 0xFFFFF,
   *  b = (h >>> 20) & 0xFFFFF, c = (h >>> 40) & 0xFFFFF — integer
   *  arithmetic every engine reproduces exactly, no second hash pass.
   *  Returns (n_grams = distinct gram hashes, n_hits = distinct gram
   *  hashes whose k bits are ALL set). Bloom guarantee: a gram that IS
   *  in the filter's build set always hits (no false negatives); a hit
   *  is only probabilistic evidence (FPR set by m/n and k). */
  /** All-k-bits-set test of one 60-bit hash against a Bloom bitmap;
   *  see [[BloomHashProbe]]. Same 20-bit-field enhanced double
   *  hashing as [[bloomHits]]. */
  def bloomHashHit(h: Long, k: Int, bits: Array[Long]): Boolean = {
    val mask = (bits.length.toLong << 6) - 1
    val f1 = h & 0xFFFFFL
    val f2 = (h >>> 20) & 0xFFFFFL
    val f3 = (h >>> 40) & 0xFFFFFL
    var hit = true
    var p = 0
    while (hit && p < k) {
      val pos = (f1 + p * f2 + ((p.toLong * (p - 1)) / 2) * f3) & mask
      hit = (bits((pos >>> 6).toInt) & (1L << (pos & 63))) != 0
      p += 1
    }
    hit
  }

  def bloomHits(text: String, n: Int, k: Int, bits: Array[Long]): InternalRow = {
    val words = new java.util.ArrayList[String]()
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && isWs(text.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(text.charAt(i))) i += 1
      if (i > start) words.add(text.substring(start, i))
    }
    val m = math.max(words.size - n + 1, 0)
    val mask = (bits.length.toLong << 6) - 1
    val md = java.security.MessageDigest.getInstance("MD5")
    val seen = new java.util.HashSet[java.lang.Long]()
    var nHits = 0L
    var g = 0
    while (g < m) {
      val sb = new java.lang.StringBuilder(words.get(g))
      var j = 1
      while (j < n) { sb.append(' ').append(words.get(g + j)); j += 1 }
      md.reset()
      val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xFFL); b += 1 }
      val h = v >>> 4
      if (seen.add(h)) {
        val f1 = h & 0xFFFFFL
        val f2 = (h >>> 20) & 0xFFFFFL
        val f3 = (h >>> 40) & 0xFFFFFL
        var hit = true
        var p = 0
        while (hit && p < k) {
          val pos = (f1 + p * f2 + ((p.toLong * (p - 1)) / 2) * f3) & mask
          hit = (bits((pos >>> 6).toInt) & (1L << (pos & 63))) != 0
          p += 1
        }
        if (hit) nHits += 1
      }
      g += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](seen.size.toLong, nHits))
  }

  /** Row-local MinHash+LSH band collision count against a SORTED array
   *  of combined corpus band keys; see [[LshBandCollide]]. Reproduces
   *  the batch pipeline bit-for-bit: distinct shingle hashes (same
   *  split/hash family as [[shingleHashes]]), slot i = SIGNED-long min
   *  over shingles of xxhash64(i:int, h:long) (the
   *  `DedupOps.minhashSignatures` family — chained XXH64, seed 42),
   *  band b = chained xxhash64 over its `rows` slots, combined key =
   *  xxhash64(b:int, band hash) — the `DedupOps.corpusBandKeys`
   *  encoding. Membership is a binary search per band. A doc with no
   *  shingles has no bands (returns (0, 0)) — the batch explode drops
   *  it before any signature exists, so both forms admit it. */
  def lshCollide(text: String, n: Int, k: Int, bands: Int,
      model: Array[Long]): InternalRow = {
    import org.apache.spark.sql.catalyst.expressions.{XXH64 => xh}
    val words = new java.util.ArrayList[String]()
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && isWs(text.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(text.charAt(i))) i += 1
      if (i > start) words.add(text.substring(start, i))
    }
    val m = words.size - n + 1
    if (m <= 0) {
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0L, 0L))
    } else {
      // distinct shingle hashes (set semantics; min is distinct-blind
      // but the per-slot work is proportional to set size)
      val seen = new java.util.HashSet[java.lang.Long]()
      val shs = new Array[Long](m)
      var nSh = 0
      var g = 0
      while (g < m) {
        val sb = new java.lang.StringBuilder(words.get(g))
        var j = 1
        while (j < n) { sb.append(' ').append(words.get(g + j)); j += 1 }
        val u = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
        val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          u, org.apache.spark.sql.types.StringType, 42L)
        if (seen.add(h)) { shs(nSh) = h; nSh += 1 }
        g += 1
      }
      // slot seeds: xxhash64(i:int, h) chains hashInt(i, 42) then hashLong
      val seeds = new Array[Long](k)
      var s = 0
      while (s < k) { seeds(s) = xh.hashInt(s, 42L); s += 1 }
      val mins = new Array[Long](k)
      java.util.Arrays.fill(mins, Long.MaxValue)
      var p = 0
      while (p < nSh) {
        val h = shs(p)
        var q = 0
        while (q < k) {
          val v = xh.hashLong(h, seeds(q))
          if (v < mins(q)) mins(q) = v
          q += 1
        }
        p += 1
      }
      val rows = k / bands
      var nCollide = 0L
      var b = 0
      while (b < bands) {
        var hb = 42L
        var j = 0
        while (j < rows) { hb = xh.hashLong(mins(b * rows + j), hb); j += 1 }
        val bk = xh.hashLong(hb, xh.hashInt(b, 42L))
        if (java.util.Arrays.binarySearch(model, bk) >= 0) nCollide += 1
        b += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](bands.toLong, nCollide))
    }
  }

  /** Deterministic demo embedding of a text: `dim` floats in [-1, 1)
   *  derived from one xxhash64 of the text re-hashed per dimension;
   *  see [[SynthEmbedding]]. A stand-in for a real upstream encoder in
   *  live demos/probes — NOT a semantic embedding. */
  def synthEmbedding(text: String, dim: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.{XXH64 => xh}
    val base = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(text),
      org.apache.spark.sql.types.StringType, 42L)
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      val h = xh.hashLong(i + 1L, base)
      out(i) = ((((h % 1000L) + 1000L) % 1000L) / 500.0 - 1.0).toFloat
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Word n-gram shingle hashes; see [[ShingleHashes]]. Split semantics
   *  match Java regex \s+ with empty tokens dropped (maximal runs of
   *  ASCII whitespace); hash matches Spark's xxhash64 (XXH64, seed 42)
   *  over the gram's UTF-8 bytes; first-occurrence dedup matches
   *  array_distinct. */
  def shingleHashes(text: String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val words = new java.util.ArrayList[String]()
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && isWs(text.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(text.charAt(i))) i += 1
      if (i > start) words.add(text.substring(start, i))
    }
    val m = words.size - n + 1
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var g = 0
    while (g < math.max(m, 0)) {
      val sb = new java.lang.StringBuilder(words.get(g))
      var j = 1
      while (j < n) { sb.append(' ').append(words.get(g + j)); j += 1 }
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
      seen.add(org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        u, org.apache.spark.sql.types.StringType, 42L))
      g += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Per-k slot-seed cache for [[minhashSig]] (seeds depend only on
   *  k): seed q = XXH64 of int q under seed 42 — the first link of the
   *  chained xxhash64(q:int, h:long) family. */
  private val minhashSeeds =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Long]]

  /** k MinHash slot minima over a shingle-hash array: slot q = SIGNED
   *  min over hashes h of xxhash64(q:int, h:long) (chained XXH64, seed
   *  42 — the `DedupOps.minhashSignatures` family; the [[lshCollide]]
   *  slot loop factored out). Bit-identical to the explode + k-column
   *  min aggregate form (NativeExprSpec asserts it). Empty input
   *  yields Long.MaxValue slots — callers drop shingle-less docs
   *  first, the batch explode contract. */
  def minhashSig(hs: org.apache.spark.sql.catalyst.util.ArrayData,
      k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.{XXH64 => xh}
    val seeds = minhashSeeds.computeIfAbsent(Integer.valueOf(k), kk => {
      val s = new Array[Long](kk)
      var q = 0
      while (q < kk) { s(q) = xh.hashInt(q, 42L); q += 1 }
      s
    })
    val n = hs.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var p = 0
    while (p < n) {
      val h = hs.getLong(p)
      var q = 0
      while (q < k) {
        val v = xh.hashLong(h, seeds(q))
        if (v < mins(q)) mins(q) = v
        q += 1
      }
      p += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(mins)
  }

  /** Java regex \s (no UNICODE_CHARACTER_CLASS): [ \t\n\x0B\f\r]. */
  /** Word-separator set for the kernel family whose oracles split with
   *  `regexp_split_to_array(text, '\s+')`. Scope note: this includes
   *  U+000B where RE2's \s is exactly [\t\n\f\r ] -- a LATENT
   *  divergence on vertical-tab input shared by every kernel/oracle
   *  pair built on this split (none of the corpora or fixtures carry
   *  U+000B; [[normalizeText]], which preserves the whitespace-visible
   *  TEXT rather than word tokens, matches RE2 exactly instead).
   *  Kept as-is deliberately: narrowing it now would silently change
   *  every established hash family (shingle/gram/minhash/winnow)
   *  under round-over-round hash-equality pins. */
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Whitespace token count; see [[WsTokenCount]]. Counts maximal
   *  non-whitespace runs — equals
   *  `size(filter(split(text, "\\s+"), w -> length(w) > 0))`. */
  def wsTokenCount(s: String): Long = {
    var i = 0
    var n = 0L
    val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      if (i < len) n += 1
      while (i < len && !isWs(s.charAt(i))) i += 1
    }
    n
  }

  /** BPE-ish token count; see [[BpeishTokenCount]]. Counts matches of
   *  `[a-z]+|[0-9]|[^a-z0-9\\s]` over the input (callers lowercase
   *  first): one per maximal a-z run, one per other non-whitespace code
   *  point (digits and punctuation tokenize per character; astral code
   *  points count once, like Java regex). */
  def bpeishTokenCount(s: String): Long = {
    var i = 0
    var n = 0L
    val len = s.length
    while (i < len) {
      val c = s.charAt(i)
      if (c >= 'a' && c <= 'z') {
        n += 1
        i += 1
        while (i < len && s.charAt(i) >= 'a' && s.charAt(i) <= 'z') i += 1
      } else if (isWs(c)) {
        i += 1
      } else {
        n += 1
        i += (if (Character.isHighSurrogate(c) && i + 1 < len &&
          Character.isLowSurrogate(s.charAt(i + 1))) 2 else 1)
      }
    }
    n
  }

  /** Frozen BPE merge table for [[bpeTokenCount]] — learned OFFLINE
   *  from the sf0.01 documents corpus with the standard BPE learning
   *  loop (public algorithm, Sennrich et al. 2016: start from
   *  characters; repeatedly take the corpus-weighted most frequent
   *  adjacent symbol pair, ties broken by lexicographically smallest
   *  pair for determinism; merge all its occurrences left-to-right),
   *  then frozen here as data — exactly how a production tokenizer
   *  ships its merges file; re-learning is an offline concern. 48
   *  merges reduce every frequent corpus word to one token while rare
   *  words stay multi-token — which is what makes BPE counts
   *  meaningful inputs to chunking/packing/mixture decisions, where
   *  the bpeish regex heuristic only counted character-class runs. */
  val BpeMerges: IndexedSeq[(String, String)] = Vector(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("cu", "st"), ("cust", "o"),
    ("custo", "mer"), ("f", "i"), ("fi", "l"), ("fil", "t"),
    ("filt", "er"), ("a", "l"), ("al", "l"), ("m", "all"),
    ("s", "mall"), ("g", "e"), ("l", "ow"), ("mer", "ge"),
    ("s", "low"), ("c", "t"), ("ct", "or"), ("d", "er"),
    ("e", "ctor"), ("or", "der"), ("v", "ector"))

  /** Merge-rank lookup keyed "a b" — symbols never contain whitespace
   *  (words are whitespace-split before segmentation), so the space
   *  key is unambiguous. */
  private val BpeRank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    BpeMerges.zipWithIndex.foreach { case ((a, b), i) =>
      m.put(a + " " + b, Integer.valueOf(i))
    }
    m
  }

  /** Per-word segmentation memo. Natural-language corpora repeat a
   *  small vocabulary millions of times per partition, so the merge
   *  loop runs once per DISTINCT word per executor, not once per
   *  occurrence. Bounded: adversarial all-unique streams stop
   *  inserting at [[BpeMemoMax]] entries and just compute. */
  private val bpeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val BpeMemoMax = 1 << 16

  /** BPE segment count of ONE word under [[BpeMerges]]: repeatedly
   *  merge the LEFTMOST occurrence of the LOWEST-RANK adjacent symbol
   *  pair until no pair is in the table — the iterative merge-table
   *  schedule (one merge per step, re-scan after each) that the DuckDB
   *  oracle replays step-for-step with a recursive CTE, which is what
   *  makes real BPE oracle-gateable. Surrogate pairs enter as one
   *  two-char symbol so astral text can't split a code point. */
  def bpeWordTokens(w: String): Int = {
    val cached = bpeMemo.get(w)
    if (cached != null) return cached.intValue()
    val syms = new java.util.ArrayList[String]()
    var i = 0
    while (i < w.length) {
      val step = if (Character.isHighSurrogate(w.charAt(i)) && i + 1 < w.length &&
        Character.isLowSurrogate(w.charAt(i + 1))) 2 else 1
      syms.add(w.substring(i, i + step))
      i += step
    }
    var merged = true
    while (merged && syms.size > 1) {
      var bestRank = Integer.MAX_VALUE
      var bestAt = -1
      var j = 0
      while (j < syms.size - 1) {
        val r = BpeRank.get(syms.get(j) + " " + syms.get(j + 1))
        if (r != null && r.intValue() < bestRank) {
          bestRank = r.intValue(); bestAt = j
        }
        j += 1
      }
      if (bestAt < 0) merged = false
      else {
        syms.set(bestAt, syms.get(bestAt) + syms.get(bestAt + 1))
        syms.remove(bestAt + 1)
      }
    }
    val n = syms.size
    if (bpeMemo.size < BpeMemoMax) bpeMemo.put(w, Integer.valueOf(n))
    n
  }

  /** Per-word segmentation-STRING memo for [[bpeEncode]] — separate
   *  from [[bpeMemo]] (counts) so the count path's footprint is
   *  unchanged; same bound, same compute-past-cap behavior. */
  private val bpePieceMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** BPE segmentation of ONE word under [[BpeMerges]] as its pieces
   *  joined by single spaces — the SAME leftmost-lowest-rank schedule
   *  as [[bpeWordTokens]] (the oracle's recursive CTE replays it), but
   *  keeping the symbols instead of just counting them. Pieces never
   *  contain whitespace (words are whitespace-split), so the joined
   *  form is unambiguous — the BpeRank key device. */
  def bpeWordPieces(w: String): String = {
    val cached = bpePieceMemo.get(w)
    if (cached != null) return cached
    val syms = new java.util.ArrayList[String]()
    var i = 0
    while (i < w.length) {
      val step = if (Character.isHighSurrogate(w.charAt(i)) && i + 1 < w.length &&
        Character.isLowSurrogate(w.charAt(i + 1))) 2 else 1
      syms.add(w.substring(i, i + step))
      i += step
    }
    var merged = true
    while (merged && syms.size > 1) {
      var bestRank = Integer.MAX_VALUE
      var bestAt = -1
      var j = 0
      while (j < syms.size - 1) {
        val r = BpeRank.get(syms.get(j) + " " + syms.get(j + 1))
        if (r != null && r.intValue() < bestRank) {
          bestRank = r.intValue(); bestAt = j
        }
        j += 1
      }
      if (bestAt < 0) merged = false
      else {
        syms.set(bestAt, syms.get(bestAt) + syms.get(bestAt + 1))
        syms.remove(bestAt + 1)
      }
    }
    val sb = new java.lang.StringBuilder()
    var k = 0
    while (k < syms.size) {
      if (k > 0) sb.append(' ')
      sb.append(syms.get(k))
      k += 1
    }
    val out = sb.toString
    if (bpePieceMemo.size < BpeMemoMax) bpePieceMemo.put(w, out)
    out
  }

  /** Whole-text BPE ENCODE; see [[BpeEncode]]: struct(n_tokens, enc)
   *  where enc is every word's pieces in word order, space-joined —
   *  the actual token stream a trainer consumes, where
   *  [[bpeTokenCount]] only reports its length. */
  def bpeEncode(s: String): InternalRow = {
    val sb = new java.lang.StringBuilder()
    var total = 0L
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) {
        val pieces = bpeWordPieces(s.substring(start, i))
        if (sb.length > 0) sb.append(' ')
        sb.append(pieces)
        total += bpeWordTokens(s.substring(start, i))
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](total,
        org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)))
  }

  // ---- Unigram-LM (Kudo/SentencePiece-style) tokenizer ------------------

  /** Cost in micro-nats charged for a single character absent from a
   *  unigram model — larger than any real piece cost, so UNK edges are
   *  taken only when the DP has no alternative. Shared verbatim by the
   *  DuckDB oracles (a coalesce default on the len-1 edges). */
  val UnigramUnkMicro = 20000000L

  /**
   * Viterbi segmentation of ONE word under a (sorted pieces, costs)
   * unigram model: the segmentation minimizing total micro-nat cost,
   * with COST TIES at every position resolved by the LONGEST final
   * piece (applied recursively this makes the argmin unique, so both
   * engines reconstruct the identical piece sequence — the DuckDB
   * oracle's backtrack takes max(l) over cost-achieving edges).
   * Integer costs make the DP exact: no float-sum order hazards.
   * `pieces` must be sorted ascending (String natural order) —
   * lookups are binary searches, the broadcast-sorted-array device of
   * the gate family. A single character missing from the model takes
   * an [[UnigramUnkMicro]] edge, so every word segments.
   */
  def unigramSegment(w: String, pieces: Array[String], costs: Array[Long],
      maxPiece: Int): String = {
    val n = w.length
    if (n == 0) return ""
    val INF = Long.MaxValue / 4
    val dp = new Array[Long](n + 1)
    val bl = new Array[Int](n + 1)
    dp(0) = 0
    var i = 1
    while (i <= n) {
      dp(i) = INF
      bl(i) = 0
      val lim = math.min(i, maxPiece)
      var l = 1
      while (l <= lim) {
        val piece = w.substring(i - l, i)
        val idx = java.util.Arrays.binarySearch(
          pieces.asInstanceOf[Array[AnyRef]], piece)
        val c: Long =
          if (idx >= 0) costs(idx)
          else if (l == 1) UnigramUnkMicro
          else -1L
        if (c >= 0 && dp(i - l) < INF) {
          val cand = dp(i - l) + c
          if (cand < dp(i) || (cand == dp(i) && l > bl(i))) {
            dp(i) = cand; bl(i) = l
          }
        }
        l += 1
      }
      i += 1
    }
    val parts = new java.util.ArrayList[String]()
    var p = n
    while (p > 0) {
      parts.add(w.substring(p - bl(p), p))
      p -= bl(p)
    }
    val sb = new java.lang.StringBuilder()
    var k = parts.size - 1
    while (k >= 0) {
      sb.append(parts.get(k))
      if (k > 0) sb.append(' ')
      k -= 1
    }
    sb.toString
  }

  /** [[unigramSegment]] returning a UTF8String for the codegen'd
   *  expression path. */
  def unigramSegmentU(w: String, pieces: Array[String], costs: Array[Long],
      maxPiece: Int): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      unigramSegment(w, pieces, costs, maxPiece))

  /** Longest piece in [[UnigramVocab]] and the frozen apply kernels'
   *  DP horizon — the canonical constant
   *  (`PipelineQueries.UnigramMaxPiece` aliases it). */
  val UnigramMaxPieceLen = 4

  /** Frozen unigram-LM vocabulary (piece, micro-nat cost), sorted by
   *  piece — learned OFFLINE at sf0.01 by `PipelineQueries
   *  .unigramLearn`'s deterministic hard-EM loop (Kudo 2018 family)
   *  and frozen here as data, exactly how a production SentencePiece
   *  model ships; re-learning is an offline concern (the
   *  [[BpeMerges]] convention — and the spec pins learned == frozen
   *  row-for-row, closing the loop). */
  val UnigramVocab: IndexedSeq[(String, Long)] = Vector(
    ("a", 2908827L), ("al", 3795550L), ("an", 11305433L),
    ("ar", 11305433L), ("as", 11305433L), ("ash", 11305433L),
    ("at", 11305433L), ("atc", 11305433L), ("atch", 11305433L),
    ("b", 3818260L), ("ba", 11305433L), ("bat", 11305433L),
    ("batc", 4461683L), ("c", 4488697L), ("colu", 4464887L),
    ("cu", 4464887L), ("d", 3392278L), ("e", 2561423L), ("er", 3784657L),
    ("f", 3816580L), ("g", 2899172L), ("h", 3822189L), ("hash", 4451079L),
    ("i", 3804351L), ("in", 3811559L), ("j", 11305433L),
    ("join", 4433305L), ("k", 3822751L), ("l", 2872057L), ("m", 3385714L),
    ("mer", 3780872L), ("n", 4464887L), ("o", 4464887L), ("or", 3405538L),
    ("ow", 3807117L), ("p", 4497498L), ("par", 3832933L), ("q", 4534644L),
    ("r", 3832364L), ("ro", 4526648L), ("row", 4455307L), ("s", 3117022L),
    ("scan", 4462750L), ("st", 3412981L), ("t", 2907925L),
    ("ta", 3800491L), ("u", 4497498L), ("ue", 3827264L), ("v", 3804351L),
    ("w", 4517588L), ("y", 3827829L))

  private val UnigramPieces: Array[String] = UnigramVocab.map(_._1).toArray
  private val UnigramCosts: Array[Long] = UnigramVocab.map(_._2).toArray

  /** Per-word frozen-vocab segmentation memo — the [[bpePieceMemo]]
   *  discipline: bounded, compute-past-cap. */
  private val uniPieceMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Frozen-vocab Viterbi segmentation of ONE word, pieces
   *  space-joined (see [[unigramSegment]] for the DP contract). */
  def unigramWordPieces(w: String): String = {
    val cached = uniPieceMemo.get(w)
    if (cached != null) return cached
    val s = unigramSegment(w, UnigramPieces, UnigramCosts, UnigramMaxPieceLen)
    if (uniPieceMemo.size < BpeMemoMax) uniPieceMemo.put(w, s)
    s
  }

  /** Piece count of an ALREADY-SEGMENTED word (spaces + 1) — callers
   *  hold the [[unigramWordPieces]] string and must not re-run the DP
   *  (past the memo cap a second lookup recomputes it). */
  private def unigramPieceCount(pieces: String): Long = {
    if (pieces.isEmpty) return 0L
    var n = 1L
    var i = 0
    while (i < pieces.length) {
      if (pieces.charAt(i) == ' ') n += 1
      i += 1
    }
    n
  }

  /** Token count of ONE word under the frozen unigram vocab. */
  def unigramWordTokens(w: String): Long =
    unigramPieceCount(unigramWordPieces(w))

  /** Whole-text frozen-vocab unigram ENCODE; the [[bpeEncode]] shape:
   *  struct(n_tokens, enc) with enc = every word's pieces in word
   *  order, space-joined. */
  def unigramEncode(s: String): InternalRow = {
    val sb = new java.lang.StringBuilder()
    var total = 0L
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) {
        val pieces = unigramWordPieces(s.substring(start, i))
        if (sb.length > 0) sb.append(' ')
        sb.append(pieces)
        total += unigramPieceCount(pieces)
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](total,
        org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)))
  }

  /** Whole-text frozen-vocab unigram token count (the
   *  [[bpeTokenCount]] sibling for fertility comparisons). */
  def unigramTokenCount(s: String): Long = {
    var i = 0
    var total = 0L
    val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) total += unigramWordTokens(s.substring(start, i))
    }
    total
  }

  /** Frozen WordPiece merge table — learned OFFLINE at sf0.01 by
   *  `PipelineQueries.wordpieceLearn` (Schuster & Nakajima 2012's
   *  likelihood-ratio criterion) and frozen here as data, the
   *  [[BpeMerges]]/[[UnigramVocab]] convention; the spec pins
   *  learned == frozen row-for-row. */
  val WordpieceMerges: IndexedSeq[(String, String)] = Vector(
    ("q", "##u"), ("l", "##i"), ("w", "##i"), ("li", "##n"), ("wi", "##n"),
    ("win", "##d"), ("f", "##i"), ("b", "##i"), ("##i", "##n"),
    ("bi", "##g"), ("a", "##g"), ("ag", "##g"), ("t", "##h"),
    ("##s", "##h"), ("##c", "##h"), ("##b", "##l"), ("fi", "##l"),
    ("##u", "##s"), ("c", "##us"), ("##u", "##p"), ("##l", "##u"),
    ("s", "##p"), ("##lu", "##m"), ("##lum", "##n"), ("##s", "##t"),
    ("##t", "##ch"), ("cus", "##t"), ("fil", "##t"), ("##o", "##in"),
    ("j", "##oin"), ("##o", "##lumn"), ("c", "##olumn"))

  /** The sf0.01 training alphabet: every word-initial character plain
   *  plus every non-initial character `##`-prefixed (the WordPiece
   *  position classes). Characters the corpus never shows in a
   *  position class are ABSENT — a word using one encodes to
   *  [[WordpieceUnk]], the BERT convention. */
  private val WordpieceAlphabet: IndexedSeq[String] = Vector(
    "##a", "##b", "##c", "##d", "##e", "##g", "##h", "##i", "##k", "##l",
    "##m", "##n", "##o", "##p", "##r", "##s", "##t", "##u", "##w", "##y",
    "a", "b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "o", "p", "q",
    "r", "s", "t", "v", "w")

  /** Frozen WordPiece vocabulary: alphabet + every merge result (a
   *  merge result keeps its LEFT symbol's position class — a || b
   *  minus b's `##`). Sorted for the binary-search lookups. */
  val WordpieceVocab: IndexedSeq[String] =
    (WordpieceAlphabet ++ WordpieceMerges.map { case (a, b) =>
      a + b.substring(2) }).distinct.sorted

  private val WordpiecePieces: Array[String] = WordpieceVocab.toArray

  /** Longest piece CONTENT (chars consumed, `##` excluded) in the
   *  frozen vocab — the greedy matcher's horizon. */
  val WordpieceMaxContent: Int = WordpieceVocab
    .map(p => if (p.startsWith("##")) p.length - 2 else p.length).max

  /** The whole-word token emitted when greedy matching dead-ends —
   *  the BERT convention: an unmatchable word is [UNK] IN FULL, never
   *  a partial piece stream. */
  val WordpieceUnk = "[UNK]"

  /**
   * Greedy longest-match-first (max-munch) WordPiece segmentation of
   * ONE word — the canonical WordPiece ENCODER (Wu et al. 2016 §3.1;
   * BERT's tokenizer): at each position take the LONGEST vocab piece
   * matching the remainder, `##`-prefixed when not word-initial; if
   * no piece matches, the ENTIRE word becomes [[WordpieceUnk]].
   * Deterministic single pass — unlike BPE's merge-order replay or
   * unigram's Viterbi DP, the encoder never looks at costs, only at
   * vocabulary membership; `pieces` must be sorted ascending (binary
   * search, the broadcast-sorted-array device).
   */
  def wordpieceSegment(w: String, pieces: Array[String],
      maxContent: Int): String = {
    val n = w.length
    if (n == 0) return ""
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < n) {
      var l = math.min(maxContent, n - i)
      var found = -1
      while (l >= 1 && found < 0) {
        val cand =
          if (i == 0) w.substring(0, l) else "##" + w.substring(i, i + l)
        if (java.util.Arrays.binarySearch(
            pieces.asInstanceOf[Array[AnyRef]], cand) >= 0) found = l
        else l -= 1
      }
      if (found < 0) return WordpieceUnk
      if (sb.length > 0) sb.append(' ')
      if (i > 0) sb.append("##")
      sb.append(w, i, i + found)
      i += found
    }
    sb.toString
  }

  /** Per-word frozen-vocab greedy-match memo — the [[bpePieceMemo]]
   *  discipline: bounded, compute-past-cap. */
  private val wpPieceMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Frozen-vocab greedy segmentation of ONE word, pieces
   *  space-joined. */
  def wordpieceWordPieces(w: String): String = {
    val cached = wpPieceMemo.get(w)
    if (cached != null) return cached
    val s = wordpieceSegment(w, WordpiecePieces, WordpieceMaxContent)
    if (wpPieceMemo.size < BpeMemoMax) wpPieceMemo.put(w, s)
    s
  }

  /** Whole-text frozen-vocab WordPiece ENCODE; the [[bpeEncode]]
   *  shape: struct(n_tokens, enc) with enc = every word's pieces in
   *  word order, space-joined. */
  def wordpieceEncode(s: String): InternalRow = {
    val sb = new java.lang.StringBuilder()
    var total = 0L
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) {
        val pieces = wordpieceWordPieces(s.substring(start, i))
        if (sb.length > 0) sb.append(' ')
        sb.append(pieces)
        total += unigramPieceCount(pieces)
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](total,
        org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)))
  }

  /** Whole-text frozen-vocab WordPiece token count (the
   *  [[bpeTokenCount]]/[[unigramTokenCount]] sibling for fertility
   *  comparisons — an [[WordpieceUnk]] word counts 1). */
  def wordpieceTokenCount(s: String): Long = {
    var i = 0
    var total = 0L
    val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start)
        total += unigramPieceCount(wordpieceWordPieces(s.substring(start, i)))
    }
    total
  }

  /** Whole-text merge-table BPE token count; see [[BpeTokenCount]].
   *  Whitespace word split (same maximal-run scan as
   *  [[wsTokenCount]]), per-word segment counts summed. */
  def bpeTokenCount(s: String): Long = {
    var i = 0
    var total = 0L
    val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) total += bpeWordTokens(s.substring(start, i))
    }
    total
  }

  /** Per-word LM probe-and-sum over a broadcast unigram model; see
   *  [[LmUnigramScore]]. Real O(1) hash probes — `element_at` on a
   *  MapType column is a LINEAR scan of the map's key array per probe
   *  (ArrayBasedMapData holds parallel arrays, no hash), which made
   *  the map-column fold quadratic-ish in vocab size. */
  def lmUnigramSum(ws: ArrayData,
      m: java.util.HashMap[String, java.lang.Long], oov: Long): Long = {
    var s = 0L
    var i = 0
    val n = ws.numElements()
    while (i < n) {
      val v = m.get(ws.getUTF8String(i).toString)
      s += (if (v == null) oov else v.longValue())
      i += 1
    }
    s
  }

  /** Adjacent-bigram LM probe-and-sum with the add-one model's own
   *  backoff chain; see [[LmBigramScore]]. Bigram keys are space-
   *  joined ("a b") — unambiguous for whitespace-split words (the
   *  [[BpeRank]] device). */
  def lmBigramSum(ws: ArrayData,
      lm: java.util.HashMap[String, java.lang.Long],
      ctx: java.util.HashMap[String, java.lang.Long], unk: Long): Long = {
    val n = ws.numElements()
    if (n < 2) return 0L
    var s = 0L
    var prev = ws.getUTF8String(0).toString
    var i = 1
    while (i < n) {
      val w = ws.getUTF8String(i).toString
      val v = lm.get(prev + " " + w)
      if (v != null) s += v.longValue()
      else {
        val c = ctx.get(prev)
        s += (if (c == null) unk else c.longValue())
      }
      prev = w
      i += 1
    }
    s
  }

  /** Kneser-Ney bigram NLL fold; see [[LmBigramScoreKn]]. Seen pairs
   *  carry the batch query's exact quantized score; the backoff chain
   *  is the model's OWN definition in quantized components: seen
   *  context a + unseen pair → ctxBase(a) + cont(b); unknown context →
   *  cont(b) alone (pure continuation); unknown continuation word →
   *  `contDefault` (the 1/|types| floor). Components are summed in
   *  micro-nats, so a backoff score may differ from a single-ln form
   *  by ≤ 1 micro-nat per component — a definitional choice, pinned
   *  by spec, exactly like the add-one kernel's own fallbacks. */
  def lmBigramKnSum(ws: ArrayData,
      lm: java.util.HashMap[String, java.lang.Long],
      ctxBase: java.util.HashMap[String, java.lang.Long],
      cont: java.util.HashMap[String, java.lang.Long],
      contDefault: Long): Long = {
    val n = ws.numElements()
    if (n < 2) return 0L
    var s = 0L
    var prev = ws.getUTF8String(0).toString
    var i = 1
    while (i < n) {
      val w = ws.getUTF8String(i).toString
      val v = lm.get(prev + " " + w)
      if (v != null) s += v.longValue()
      else {
        val c = cont.get(w)
        val cNll = if (c == null) contDefault else c.longValue()
        val b = ctxBase.get(prev)
        s += (if (b == null) cNll else b.longValue() + cNll)
      }
      prev = w
      i += 1
    }
    s
  }

  /** Kneser-Ney TRIGRAM NLL fold; see [[LmTrigramScoreKn]]. Seen
   *  triples carry the batch query's exact quantized score; the
   *  backoff cascade is the model's OWN definition in quantized
   *  components, one level deeper than [[lmBigramKnSum]]:
   *  seen context (a,b) + unseen triple → ctxBase(ab) + midScore(b,c);
   *  unknown context → midScore(b,c) alone; where midScore(b,c) =
   *  the seen (b,c)-type NLL, else midBase(b) + contScore(c), else
   *  contScore(c); contScore(c) = cont(c) or the 1/T₂ floor.
   *  Components sum in micro-nats (≤ 1 micro-nat per component from
   *  a single-ln form — the bigram kernel's definitional choice,
   *  spec-pinned per case). */
  def lmTrigramKnSum(ws: ArrayData,
      lm: java.util.HashMap[String, java.lang.Long],
      ctxBase: java.util.HashMap[String, java.lang.Long],
      mid: java.util.HashMap[String, java.lang.Long],
      midBase: java.util.HashMap[String, java.lang.Long],
      cont: java.util.HashMap[String, java.lang.Long],
      contDefault: Long): Long = {
    val n = ws.numElements()
    if (n < 3) return 0L
    var s = 0L
    var p2 = ws.getUTF8String(0).toString
    var p1 = ws.getUTF8String(1).toString
    var i = 2
    while (i < n) {
      val w = ws.getUTF8String(i).toString
      val v = lm.get(p2 + " " + p1 + " " + w)
      if (v != null) s += v.longValue()
      else {
        val m = mid.get(p1 + " " + w)
        val midNll =
          if (m != null) m.longValue()
          else {
            val c = cont.get(w)
            val cNll = if (c == null) contDefault else c.longValue()
            val mb = midBase.get(p1)
            if (mb == null) cNll else mb.longValue() + cNll
          }
        val cb = ctxBase.get(p2 + " " + p1)
        s += (if (cb == null) midNll else cb.longValue() + midNll)
      }
      p2 = p1
      p1 = w
      i += 1
    }
    s
  }

  /** Char-bigram Naive Bayes argmax over ALREADY-LOWERCASED text; see
   *  [[NbLangId]]. The text decodes to a String ONCE and bigrams walk
   *  CODE-POINT windows over char indices (`Character.charCount`
   *  stepping) — the same code-point unit the batch query's `substr`
   *  column uses, so a supplementary-plane character cannot diverge
   *  the kernel from the relational form, while the row pays one
   *  decode instead of two UTF8String allocations per bigram (the
   *  first cut's shape — 9.5× slower, SCALE.md). A bigram absent
   *  from the model contributes nothing — matching the batch form's
   *  inner model join, where a post-training novel bigram simply has
   *  no row. Ties break to the FIRST (lexicographically smallest)
   *  lang, the batch argmax's (score desc, lang asc) order; a text
   *  with no bigrams returns the prior argmax (the batch form FILTERS
   *  such docs out before the kernel — a live gate labels every
   *  line). Returns struct(lang_pred, score_micro) — the winning lang
   *  and its integer score, so the batch query and the live gate
   *  share one kernel. */
  def nbLangIdArgmax(text: org.apache.spark.unsafe.types.UTF8String,
      model: java.util.HashMap[String, Array[Long]],
      priors: Array[Long], langs: Array[String])
      : org.apache.spark.sql.catalyst.InternalRow = {
    val n = langs.length
    val scores = new Array[Long](n)
    System.arraycopy(priors, 0, scores, 0, n)
    // decode ONCE, then walk code-point windows on char indices —
    // p0/p1/p2 are the char offsets of three consecutive CODE POINTS,
    // so supplementary-plane chars pair exactly like the batch
    // query's substr column (which counts code points)
    val s = text.toString
    val len = s.length
    if (len >= 2) {
      var p0 = 0
      var p1 = Character.charCount(s.codePointAt(0))
      while (p1 < len) {
        val p2 = p1 + Character.charCount(s.codePointAt(p1))
        val v = model.get(s.substring(p0, p2))
        if (v != null) {
          var l = 0
          while (l < n) { scores(l) += v(l); l += 1 }
        }
        p0 = p1
        p1 = p2
      }
    }
    var best = 0
    var l = 1
    while (l < n) {
      if (scores(l) > scores(best)) best = l
      l += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](
        org.apache.spark.unsafe.types.UTF8String.fromString(langs(best)),
        scores(best)))
  }

  /** Sign-random-projection bucket; see [[LshBucket]]. Plane signs come
   *  from Spark's XXH64 over (plane << 32 | dim) with seed 42, so the
   *  "random" hyperplanes are deterministic and identical on every
   *  executor without any broadcast. */
  def lshBucket(emb: ArrayData, bits: Int): Long = {
    val dim = emb.numElements()
    var bucket = 0L
    var p = 0
    while (p < bits) {
      var proj = 0.0
      var d = 0
      while (d < dim) {
        val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          (p.toLong << 32) | d.toLong,
          org.apache.spark.sql.types.LongType, 42L)
        val sign = if ((h & 1L) == 0L) 1.0 else -1.0
        proj += emb.getFloat(d).toDouble * sign
        d += 1
      }
      if (proj >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** Row-local embedding LSH band collision count against a SORTED
   *  array of combined corpus band keys; see [[EmbBandCollide]]. The
   *  banding is [[lshBucket]]'s sign-projection bits sliced `bits` at
   *  a time (the `SimilarityOps.embeddingNearDupsLsh` layout), each
   *  band's combined key `(band << bits) | bucket` — identical to the
   *  batch `embeddingBandKeys` column arithmetic, so the live gate and
   *  the relational admit agree bit-for-bit. Membership is a binary
   *  search per band (the sorted-long[] model device). */
  def embBandCollide(emb: ArrayData, bits: Int, tables: Int,
      model: Array[Long]): InternalRow = {
    // same budget the batch embeddingBandKeys enforces; without it a
    // direct call with bits*tables > 63 would silently wrap the JVM
    // shift (count mod 64) and return wrong collision counts
    require(bits * tables <= 63,
      s"embBandCollide: bits ($bits) * tables ($tables) must fit in a long")
    val allbits = lshBucket(emb, bits * tables)
    val mask = (1L << bits) - 1
    var nCollide = 0L
    var t = 0
    while (t < tables) {
      val key = (t.toLong << bits) | ((allbits >>> (t * bits)) & mask)
      if (java.util.Arrays.binarySearch(model, key) >= 0) nCollide += 1
      t += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](tables.toLong, nCollide))
  }

  /** One-pass text quality counts; see [[QualityStats]]. Word loop
   *  mirrors \s+ tokenization (maximal non-ws runs, empty dropped);
   *  char counts are Unicode code points (surrogate pair = 1), matching
   *  Spark's `length` (UTF8String.numChars) and the regex-replace
   *  length deltas of the composed form. */
  def qualityStats(text: String): InternalRow = {
    val len = text.length
    var nWords = 0L
    var nStop = 0L
    var i = 0
    while (i < len) {
      while (i < len && isWs(text.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(text.charAt(i))) i += 1
      if (i > start) {
        nWords += 1
        if (stopSets(0).contains(text.substring(start, i))) nStop += 1
      }
    }
    var nNonWs = 0L
    var nAlpha = 0L
    var nChars = 0L
    i = 0
    while (i < len) {
      val c = text.charAt(i)
      nChars += 1
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) nAlpha += 1
      if (!isWs(c)) nNonWs += 1
      // a surrogate pair is one code point; low half is never ws/alpha
      if (Character.isHighSurrogate(c) && i + 1 < len &&
        Character.isLowSurrogate(text.charAt(i + 1))) i += 1
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, nNonWs, nStop, nAlpha, nChars))
  }

  /** Per-thread scratch map for [[gopherStats]] — per-DOCUMENT counts,
   *  but the map itself can be reused across rows
   *  (clear() beats re-allocation + rehash growth on every row). */
  private val gopherScratch =
    new ThreadLocal[java.util.HashMap[String, java.lang.Long]] {
      override def initialValue() = new java.util.HashMap[String, java.lang.Long](256)
    }
  private val sumLongs: java.util.function.BiFunction[
      java.lang.Long, java.lang.Long, java.lang.Long] =
    (a, b) => java.lang.Long.valueOf(a.longValue + b.longValue)

  /** One-pass Gopher rule statistics; see [[GopherStats]]. The first
   *  five fields are bit-identical to [[qualityStats]] (same word
   *  split, same stop set, same surrogate-pair accounting); `top_c` is
   *  the maximum multiplicity of any whitespace word (0 when empty) —
   *  the dominance rule is WITHIN-document, so it needs no corpus
   *  shuffle, just a per-row HashMap bounded by the document's own
   *  vocabulary. Fused because the gate runs both: two kernels = two
   *  tokenization passes = the measured 841 k rows/s; one pass holds
   *  the word in hand for the stop probe and the count update. */
  def gopherStats(text: String): InternalRow = {
    val len = text.length
    var nWords = 0L
    var nStop = 0L
    var nNonWs = 0L
    var nAlpha = 0L
    var nChars = 0L
    var top = 0L
    val counts = gopherScratch.get()
    counts.clear()
    var i = 0
    var start = -1
    while (i < len) {
      val c = text.charAt(i)
      val ws = isWs(c)
      if (ws) {
        if (start >= 0) {
          val w = text.substring(start, i)
          nWords += 1
          if (stopSets(0).contains(w)) nStop += 1
          val n = counts.merge(w, 1L, sumLongs)
          if (n > top) top = n
          start = -1
        }
      } else {
        if (start < 0) start = i
        nNonWs += 1
      }
      nChars += 1
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) nAlpha += 1
      // a surrogate pair is one code point; low half is never ws/alpha
      if (Character.isHighSurrogate(c) && i + 1 < len &&
        Character.isLowSurrogate(text.charAt(i + 1))) i += 1
      i += 1
    }
    if (start >= 0) {
      val w = text.substring(start, len)
      nWords += 1
      if (stopSets(0).contains(w)) nStop += 1
      val n = counts.merge(w, 1L, sumLongs)
      if (n > top) top = n
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, nNonWs, nStop, nAlpha, nChars, top))
  }

  /** Row-local winnowing fingerprint statistics; see [[WinnowStats]].
   *  Same portable md5-60 gram hashes (reduced to 40 bits) and same
   *  rightmost-min-per-window selection as the relational
   *  `PipelineQueries.textWinnow`, computed per document with the
   *  O(n) monotone-deque sliding-window minimum (ties popped on push,
   *  so the surviving front IS the rightmost minimum). Selected
   *  positions are non-decreasing as the window slides — the front
   *  index of the deque only advances — so distinctness is one
   *  last-position check, no set. Short documents (< w full windows)
   *  contribute their single truncated window, matching the batch
   *  query's maxpos rule. */
  def winnowStats(text: String, k: Int, w: Int): InternalRow = {
    val gh = gramHashes(text, k, portable = true)
    val m = gh.numElements()
    val mask = (1L << 40) - 1
    var nFp = 0L
    var fpSum = 0L
    if (m > 0) {
      val h40 = new Array[Long](m)
      var i = 0
      while (i < m) { h40(i) = gh.getLong(i) & mask; i += 1 }
      val dq = new Array[Int](m)
      var head = 0
      var tail = 0
      var lastPos = -1
      var e = 0
      while (e < m) {
        val h = h40(e)
        while (tail > head && h40(dq(tail - 1)) >= h) tail -= 1
        dq(tail) = e; tail += 1
        while (dq(head) <= e - w) head += 1
        if (e >= w - 1 || e == m - 1) {
          val p = dq(head)
          if (p != lastPos) { nFp += 1; fpSum += h40(p); lastPos = p }
        }
        e += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](m.toLong, nFp, fpSum))
  }

  /** The distinct selected winnowing fingerprints themselves — the
   *  [[winnowStats]] deque scan emitting each selected (pos, hash)
   *  pair packed as `(h40 << 20) | pos`; see [[WinnowFingerprints]].
   *  Selected positions are non-decreasing as the window slides, so
   *  distinctness is the same one last-position check. Documents whose
   *  max position (m-1) would overflow the 20-bit packed field — i.e.
   *  m > 2^20 — fail loud, on exactly the domain where the relational
   *  winnowSelection raises (its guard fires when a position >= 2^20
   *  appears; positions run 0..m-1, so both trip iff m > 2^20). */
  def winnowFingerprints(text: String, k: Int, w: Int): ArrayData = {
    val gh = gramHashes(text, k, portable = true)
    val m = gh.numElements()
    val mask = (1L << 40) - 1
    if (m == 0) return ArrayData.toArrayData(Array.emptyLongArray)
    if (m > (1 << 20))
      throw new IllegalArgumentException(
        s"winnowFingerprints: document has $m grams > 2^20 — the packed " +
          "position field overflows; chunk the document (text_chunks) " +
          "before fingerprinting")
    val h40 = new Array[Long](m)
    var i = 0
    while (i < m) { h40(i) = gh.getLong(i) & mask; i += 1 }
    val out = new Array[Long](m)
    var nFp = 0
    val dq = new Array[Int](m)
    var head = 0
    var tail = 0
    var lastPos = -1
    var e = 0
    while (e < m) {
      val h = h40(e)
      while (tail > head && h40(dq(tail - 1)) >= h) tail -= 1
      dq(tail) = e; tail += 1
      while (dq(head) <= e - w) head += 1
      if (e >= w - 1 || e == m - 1) {
        val p = dq(head)
        if (p != lastPos) {
          out(nFp) = (h40(p) << 20) | p.toLong; nFp += 1; lastPos = p
        }
      }
      e += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(out, nFp))
  }

  /** Per-word BUCKET memo for the trained classifier — the bucket is
   *  model-independent (md5 prefix mod ClassifyDim), so it caches
   *  across model updates where [[classifyMemo]]'s frozen WEIGHT
   *  cannot serve a trained table. Bounded like its sibling. */
  private val bucketMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()
  private val BucketMemoMax = 1 << 16

  def classifyWordBucket(w: String): Int = {
    val cached = bucketMemo.get(w)
    if (cached != null) return cached.intValue()
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val prefix = ((d(0) & 0xffL) << 16) | ((d(1) & 0xffL) << 8) | (d(2) & 0xffL)
    val b = (prefix % ClassifyDim).toInt
    // check-then-act across threads: concurrent executors may overshoot
    // the cap by at most the thread count (putIfAbsent keeps each such
    // insert single); the bound is approximate by design, and a few
    // dozen extra 3-byte entries are irrelevant next to 2^16
    if (bucketMemo.size < BucketMemoMax) bucketMemo.putIfAbsent(w, b)
    b
  }

  /** Per-thread bucket-count scratch for [[classifyTrainedMargin]] —
   *  ClassifyDim ints reused across rows (the gopherScratch device). */
  private val trainedScratch = new ThreadLocal[Array[Int]] {
    override def initialValue() = new Array[Int](ClassifyDim.toInt)
  }

  /** Margin of a TRAINED weight table over one (already-lowercased)
   *  text; see [[ClassifyTrainedMargin]]. Tokenize once, count per
   *  bucket, then margin_micro = Σ_b floor(w(b)·c_b / n_words) — the
   *  EXACT apply arithmetic `classifyTrain`'s spec pins (quantized
   *  per-bucket terms, integer sum), so the live gate's admissions are
   *  the trained model's own predictions, not an approximation. */
  def classifyTrainedMargin(text: String, w: Array[Long]): InternalRow = {
    val counts = trainedScratch.get()
    java.util.Arrays.fill(counts, 0)
    var nWords = 0L
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && isWs(text.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(text.charAt(i))) i += 1
      if (i > start) {
        counts(classifyWordBucket(text.substring(start, i))) += 1
        nWords += 1
      }
    }
    var margin = 0L
    if (nWords > 0) {
      var b = 0
      while (b < counts.length) {
        val c = counts(b)
        if (c != 0) margin += math.floor((w(b) * c).toDouble / nWords).toLong
        b += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, margin))
  }

  /** Word → 60-bit md5 prefix memo for [[dsirScore]] — the value is
   *  PARAMETER-INDEPENDENT (the bucket is prefix mod B at use), so one
   *  memo serves any bucket count; bounded like its md5 siblings, with
   *  the same tolerated putIfAbsent overshoot. */
  private val dsirPrefixMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val DsirPrefixMemoMax = 1 << 16

  /** The first 15 hex digits of md5(word) as a long — bit-identical to
   *  the relational `conv(substring(md5(w), 1, 15), 16, 10)` device
   *  (7 full bytes then the high nibble of byte 7). */
  def dsirPrefix60(w: String): Long = {
    val hit = dsirPrefixMemo.get(w)
    if (hit != null) return hit.longValue()
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v = (v << 4) | ((d(7) & 0xf0L) >>> 4)
    if (dsirPrefixMemo.size < DsirPrefixMemoMax) dsirPrefixMemo.putIfAbsent(w, v)
    v
  }

  /** One-pass DSIR importance scoring; see [[DsirScore]]: tokenize the
   *  (already lowercased) text by whitespace and sum the broadcast
   *  B-row micro-nat log-ratio model over each word's md5-60 bucket —
   *  (n_words, logw_micro), the row-local form of
   *  `PipelineQueries.sampleDsir`'s scoring join. The sum is exact
   *  integer arithmetic; the model rides as a long[] indexed by
   *  bucket. */
  def dsirScore(text: String, model: Array[Long]): InternalRow = {
    var nWords = 0L
    var logw = 0L
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && isWs(text.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(text.charAt(i))) i += 1
      if (i > start) {
        logw += model((dsirPrefix60(text.substring(start, i)) %
          model.length).toInt)
        nWords += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, logw))
  }

  /** Per-thread code-point count scratch for [[charEntropy]] —
   *  reused across rows (the gopherScratch device). */
  private val entropyScratch =
    new ThreadLocal[java.util.HashMap[Integer, Integer]] {
      override def initialValue() = new java.util.HashMap[Integer, Integer](128)
    }

  /**
   * One-pass character-entropy statistics; see [[CharEntropy]]:
   * (n_cp, n_distinct, entropy_micro) where entropy_micro =
   * Σ_chars floor((c/n)·ln(n/c)·1e6) over the text's code-point
   * distribution — Shannon entropy in integer micro-nats, the
   * degenerate/garbled-text curation signal ("aaaa…" → 0, uniform
   * text → ln(alphabet)). Per-class terms are floored BEFORE the sum
   * (the NllMicro device) so the total is an order-independent
   * integer any engine reproduces; a surrogate pair counts as ONE
   * code point, matching a character-split on the SQL side.
   */
  def charEntropy(text: String): InternalRow = {
    val counts = entropyScratch.get()
    counts.clear()
    var n = 0L
    var i = 0
    val len = text.length
    while (i < len) {
      val cp = text.codePointAt(i)
      counts.merge(cp, 1, sumInts)
      n += 1
      i += Character.charCount(cp)
    }
    var ent = 0L
    val nd = counts.size.toLong
    if (n > 0) {
      val it = counts.values().iterator()
      while (it.hasNext) {
        val c = it.next().intValue()
        ent += math.floor(
          (c.toDouble / n.toDouble) * StrictMath.log(n.toDouble / c.toDouble)
            * 1000000.0).toLong
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, nd, ent))
  }

  private val sumInts: java.util.function.BiFunction[
      Integer, Integer, Integer] =
    (a, b) => Integer.valueOf(a.intValue + b.intValue)

  /** Distinct winnowing-fingerprint hashes of a text probed against a
   *  SORTED array of rare corpus fingerprint hashes; see
   *  [[WinnowCollide]]. One [[winnowFingerprints]] deque scan, per-doc
   *  hash dedup in a set, binary-search membership (the sorted-long[]
   *  model device) — returns (n_fp distinct hashes, n_collide). */
  def winnowCollide(text: String, k: Int, w: Int,
      model: Array[Long]): InternalRow = {
    // A > 2^20-gram document overflows the packed position field —
    // the batch query fails loud, but a live ADMISSION gate must not
    // let one poison-pill doc wedge the topology: quarantine as
    // (-1, MaxValue), which every collision threshold rejects (an
    // oversized doc routes out, the decodeWavPartitioned convention).
    val fps =
      try winnowFingerprints(text, k, w)
      catch {
        case _: IllegalArgumentException =>
          return new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](-1L, Long.MaxValue))
      }
    val n = fps.numElements()
    val seen = new java.util.HashSet[java.lang.Long](math.max(n * 2, 4))
    var nFp = 0L
    var nCollide = 0L
    var i = 0
    while (i < n) {
      val h = fps.getLong(i) >>> 20
      if (seen.add(h)) {
        nFp += 1
        if (java.util.Arrays.binarySearch(model, h) >= 0) nCollide += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nFp, nCollide))
  }

  /** Canonical constants of the hashed-linear classifier (see
   *  [[ClassifyScore]]); `PipelineQueries` aliases these — the
   *  Stopwords single-definition convention. 6 hex digits = exactly
   *  the md5's first 3 bytes, which is how [[classifyWordWeight]]
   *  avoids string hex parsing. */
  val ClassifyDim = 64L
  val ClassifyHexDigits = 6
  val ClassifyMult = 2654435761L
  val ClassifyMod = 1021L

  /** Per-word weight memo — the [[bpeMemo]] device: a natural-language
   *  corpus repeats a small vocabulary, so md5 runs once per DISTINCT
   *  word per executor. Bounded; all-unique streams compute past the
   *  cap. */
  private val classifyMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val ClassifyMemoMax = 1 << 16

  /** Weight of ONE (already-lowercased) token: md5's first 3 bytes as
   *  a 24-bit bucket index mod [[ClassifyDim]], then the pure-bigint
   *  weight formula — bit-equal to the composed
   *  conv(substring(md5(w),1,6),16,10) column and the oracle's
   *  '0x'-CAST (6 hex digits ARE the first 3 bytes). */
  def classifyWordWeight(w: String): Long = {
    val cached = classifyMemo.get(w)
    if (cached != null) return cached.longValue()
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val prefix = ((d(0) & 0xffL) << 16) | ((d(1) & 0xffL) << 8) | (d(2) & 0xffL)
    val wt = (prefix % ClassifyDim) * ClassifyMult % ClassifyMod - 510L
    if (classifyMemo.size < ClassifyMemoMax)
      classifyMemo.put(w, java.lang.Long.valueOf(wt))
    wt
  }

  /** One-pass classifier scoring; see [[ClassifyScore]]. Word loop
   *  mirrors \s+ tokenization (the [[qualityStats]] loop); expects
   *  already-lowercased text so engine `lower` semantics stay in the
   *  plan. */
  def classifyScore(text: String): InternalRow = {
    val len = text.length
    var nWords = 0L
    var sum = 0L
    var i = 0
    while (i < len) {
      while (i < len && isWs(text.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(text.charAt(i))) i += 1
      if (i > start) {
        nWords += 1
        sum += classifyWordWeight(text.substring(start, i))
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, sum))
  }

  /** One-pass page-view TSV parse; see [[PageViewFields]]. Raw tab
   *  split — the reference's own PageView.fromString semantics
   *  (PageView.java:48-61) — with per-field typed parse: empty token →
   *  null string, non-integer token → null int (what from_csv PERMISSIVE
   *  yields on this quote-free feed; NativeExprSpec pins equality). */
  def pageViewFields(line: String): InternalRow = {
    val tokens = line.split("\t", -1)
    def str(i: Int): Any =
      if (i >= tokens.length || tokens(i).isEmpty) null
      else org.apache.spark.unsafe.types.UTF8String.fromString(tokens(i))
    def int(i: Int): Any =
      if (i >= tokens.length) null
      else try Integer.valueOf(tokens(i))
      catch { case _: NumberFormatException => null }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](str(0), int(1), int(2), int(3)))
  }

  /** One-pass Lat/Long extraction from an ADS-B JSON line; see
   *  [[AdsbLatLng]]. Same strict parse as [[adsbReport]] (the full
   *  Jackson-equivalence contract), projected to the two geo fields. */
  def adsbLatLng(line: String): InternalRow = {
    val full = adsbReport(line)
      .asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](full.values(3), full.values(4)))
  }

  /** One-pass FULL ADS-B report extraction; see [[AdsbReport]]. A
   *  strict single-pass tokenizer over the wire-object grammar,
   *  equivalent to `from_json` (PERMISSIVE) — fuzzed against it on
   *  corrupted lines (EngineProps "MALFORMED"). PERMISSIVE's two
   *  failure classes, each verified empirically, are reproduced:
   *   - LEXICAL failure (not an object; bad number grammar like a
   *     leading zero or bare/trailing dot; unterminated string; bad
   *     separator; truncation; a trailing comma inside the object;
   *     malformed nested value under an UNKNOWN key) → ALL fields
   *     null, wherever in the record it happens;
   *   - CONVERSION failure on a schema field (float token or string
   *     or literal for a long field, string/number for the boolean,
   *     long overflow, any VALID nested value for a non-string field)
   *     → that field is left as-is (an earlier duplicate's value
   *     survives) and parsing CONTINUES — later fields still land;
   *     the one stop-and-keep case is a BROKEN nested value under the
   *     string field, where Jackson dies mid-copy.
   *  Also matched: duplicate keys → last wins (null included);
   *  unknown keys with valid values (nested too) are skipped; number/
   *  boolean tokens for the string field Icao become their literal
   *  text and nested values its COMPACT re-serialization (Jackson's
   *  writeRaw normalization); non-quoted NaN/Infinity literals parse
   *  for double fields (allowNonNumericNumbers); bytes after the
   *  closing `}` (the feed's trailing comma) are ignored. Documented
   *  out-of-contract (never on this feed's wire): backslash escapes
   *  in strings — Jackson unescapes them, this kernel treats them as
   *  lexical corruption. */
  /** Max container nesting for [[adsbReport]]'s tokenizer, counting the
   *  record's root object — Jackson's StreamReadConstraints default
   *  (`DEFAULT_MAX_DEPTH = 1000`), so the kernel and `from_json` reject
   *  the same pathological depth instead of this recursion overflowing
   *  the task's stack where Jackson degrades to a null row. */
  val MaxJsonDepth = 1000

  def adsbReport(line: String): InternalRow = {
    val len = line.length
    var i = 0
    val vals = new Array[Any](8)
    def allNull(): InternalRow =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(new Array[Any](8))
    def asBuilt(): InternalRow =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
    def ws(): Unit = {
      while (i < len && { val c = line.charAt(i)
        c == ' ' || c == '\t' || c == '\n' || c == '\r' }) i += 1
    }
    // string body after the opening quote, allocation-free: returns
    // (start << 32) | end, or -1 on unterminated / escape / control
    // char (all lexical); callers substring only when a value is kept
    def stringSpan(): Long = {
      val start = i
      while (i < len && line.charAt(i) != '"') {
        val c = line.charAt(i)
        if (c == '\\' || c < ' ') return -1L
        i += 1
      }
      if (i >= len) return -1L
      val end = i
      i += 1
      (start.toLong << 32) | end
    }
    // strict JSON number at i; returns the span like stringSpan (or
    // -1 on grammar violation) and leaves whether the token stayed
    // integral in `numIntegral`. NaN / Infinity literal families are
    // handled by the callers.
    var numIntegral = true
    def numberSpan(): Long = {
      val nStart = i
      numIntegral = true
      if (i < len && line.charAt(i) == '-') i += 1
      if (i >= len) return -1L
      val d0 = line.charAt(i)
      if (d0 == '0') i += 1
      else if (d0 >= '1' && d0 <= '9') {
        while (i < len && line.charAt(i) >= '0' && line.charAt(i) <= '9') i += 1
      } else return -1L
      if (i < len && line.charAt(i) == '.') {
        numIntegral = false
        i += 1
        if (i >= len || line.charAt(i) < '0' || line.charAt(i) > '9') return -1L
        while (i < len && line.charAt(i) >= '0' && line.charAt(i) <= '9') i += 1
      }
      if (i < len && (line.charAt(i) == 'e' || line.charAt(i) == 'E')) {
        numIntegral = false
        i += 1
        if (i < len && (line.charAt(i) == '+' || line.charAt(i) == '-')) i += 1
        if (i >= len || line.charAt(i) < '0' || line.charAt(i) > '9') return -1L
        while (i < len && line.charAt(i) >= '0' && line.charAt(i) <= '9') i += 1
      }
      (nStart.toLong << 32) | i
    }
    def lit(t: String): Boolean =
      if (line.startsWith(t, i)) { i += t.length; true } else false
    // ANY nested/flat JSON value at i, appended COMPACTLY to sb (null
    // sb = validate-and-skip). False = lexical corruption. `depth` is
    // the container nesting level INCLUDING the record's root object
    // (the main loop below parses at depth 1): a value nested deeper
    // than MaxJsonDepth is a lexical failure, mirroring Jackson's
    // StreamReadConstraints default (max nesting 1000) so a corrupt
    // line of ten thousand '['s nulls the record like from_json does
    // instead of overflowing the stack. Depth overflow is flagged
    // separately from ordinary interior corruption because the two
    // diverge under the STRING field: the reader's nextToken throws
    // on the depth constraint BEFORE writeRaw's conversion context
    // opens, so from_json nulls the whole record (verified
    // empirically) where a broken interior keeps what was built.
    var depthExceeded = false
    def pValue(sb: java.lang.StringBuilder, depth: Int): Boolean = {
      ws()
      if (i >= len) return false
      val c = line.charAt(i)
      if (c == '"') {
        i += 1
        val sp = stringSpan()
        if (sp < 0) return false
        if (sb != null) sb.append('"')
          .append(line, (sp >> 32).toInt, (sp & 0xFFFFFFFFL).toInt).append('"')
        true
      } else if (c == '{' || c == '[') {
        if (depth > MaxJsonDepth) { depthExceeded = true; return false }
        val close = if (c == '{') '}' else ']'
        i += 1
        if (sb != null) sb.append(c)
        ws()
        if (i < len && line.charAt(i) == close) {
          i += 1
          if (sb != null) sb.append(close)
          return true
        }
        var first = true
        while (true) {
          if (!first && sb != null) sb.append(',')
          first = false
          if (c == '{') {
            ws()
            if (i >= len || line.charAt(i) != '"') return false
            i += 1
            val k = stringSpan()
            if (k < 0) return false
            if (sb != null) sb.append('"')
              .append(line, (k >> 32).toInt, (k & 0xFFFFFFFFL).toInt)
              .append('"').append(':')
            ws()
            if (i >= len || line.charAt(i) != ':') return false
            i += 1
          }
          if (!pValue(sb, depth + 1)) return false
          ws()
          if (i < len && line.charAt(i) == ',') i += 1
          else if (i < len && line.charAt(i) == close) {
            i += 1
            if (sb != null) sb.append(close)
            return true
          } else return false
        }
        false // unreachable
      } else if (lit("null")) { if (sb != null) sb.append("null"); true }
      else if (lit("true")) { if (sb != null) sb.append("true"); true }
      else if (lit("false")) { if (sb != null) sb.append("false"); true }
      else if (lit("NaN")) { if (sb != null) sb.append("NaN"); true }
      else if (lit("Infinity")) { if (sb != null) sb.append("Infinity"); true }
      else if (lit("+Infinity")) { if (sb != null) sb.append("+Infinity"); true }
      else if (lit("-Infinity")) { if (sb != null) sb.append("-Infinity"); true }
      else {
        val t = numberSpan()
        if (t < 0) return false
        if (sb != null) sb.append(line, (t >> 32).toInt, (t & 0xFFFFFFFFL).toInt)
        true
      }
    }
    def utf8(s: String): Any =
      org.apache.spark.unsafe.types.UTF8String.fromString(s)

    ws()
    if (i >= len || line.charAt(i) != '{') return allNull()
    i += 1
    ws()
    if (i < len && line.charAt(i) == '}') return asBuilt()
    while (true) {
      ws()
      if (i >= len || line.charAt(i) != '"') return allNull()
      i += 1
      val kSpan = stringSpan()
      if (kSpan < 0) return allNull()
      ws()
      if (i >= len || line.charAt(i) != ':') return allNull()
      i += 1
      ws()
      if (i >= len) return allNull()
      val kS = (kSpan >> 32).toInt
      val kE = (kSpan & 0xFFFFFFFFL).toInt
      def keyIs(k: String): Boolean =
        kE - kS == k.length && line.regionMatches(kS, k, 0, k.length)
      val fieldIdx =
        if (keyIs("Id")) 0 else if (keyIs("Icao")) 1
        else if (keyIs("PosTime")) 2 else if (keyIs("Lat")) 3
        else if (keyIs("Long")) 4 else if (keyIs("Spd")) 5
        else if (keyIs("Trak")) 6 else if (keyIs("Gnd")) 7 else -1
      val c = line.charAt(i)
      if (c == '"') {
        i += 1
        val vSpan = stringSpan()
        if (vSpan < 0) return allNull() // lexical, wherever it happens
        val vS = (vSpan >> 32).toInt
        val vE = (vSpan & 0xFFFFFFFFL).toInt
        def vIs(t: String): Boolean =
          vE - vS == t.length && line.regionMatches(vS, t, 0, t.length)
        fieldIdx match {
          case -1 => ()
          case 1 => vals(1) = utf8(line.substring(vS, vE))
          case 3 | 4 | 5 | 6 =>
            // Spark's non-numeric STRING forms for double fields;
            // any other string for a number is a conversion error —
            // field stays as-is (earlier dup wins), parsing continues
            if (vIs("NaN")) vals(fieldIdx) = java.lang.Double.valueOf(Double.NaN)
            else if (vIs("Infinity") || vIs("+Infinity") || vIs("+INF"))
              vals(fieldIdx) = java.lang.Double.valueOf(Double.PositiveInfinity)
            else if (vIs("-Infinity") || vIs("-INF"))
              vals(fieldIdx) = java.lang.Double.valueOf(Double.NegativeInfinity)
          case _ => () // conversion: string for long/bool — continue
        }
      } else if (c == '{' || c == '[') {
        if (fieldIdx == 1) {
          // nested under the STRING field: Jackson re-serializes it
          // compactly; a broken interior stops the record keeping what
          // was built (writeRaw's failure is conversion-context)
          val sb = new java.lang.StringBuilder
          if (!pValue(sb, 2)) return if (depthExceeded) allNull() else asBuilt()
          vals(1) = utf8(sb.toString)
        } else if (fieldIdx >= 0) {
          // conversion fails at the START token, then Jackson SKIPS the
          // value and continues the record; a broken interior makes the
          // skip itself blow up (lexical) -> all-null
          if (!pValue(null, 2)) return allNull()
        } else {
          if (!pValue(null, 2)) return allNull() // skipChildren blows up: lexical
        }
      } else if (lit("null")) {
        if (fieldIdx >= 0) vals(fieldIdx) = null
      } else if (lit("true") || lit("false")) {
        val b = c == 't'
        fieldIdx match {
          case -1 => ()
          case 7 => vals(7) = java.lang.Boolean.valueOf(b)
          case 1 => vals(1) = utf8(if (b) "true" else "false")
          case _ => () // conversion: bool for a number — continue
        }
      } else if (lit("NaN") || lit("Infinity") || lit("+Infinity")) {
        val pos = c != '-'
        fieldIdx match {
          case -1 => ()
          case 3 | 4 | 5 | 6 => vals(fieldIdx) = java.lang.Double.valueOf(
            if (c == 'N') Double.NaN
            else if (pos) Double.PositiveInfinity else Double.NegativeInfinity)
          case 1 => vals(1) = utf8(line.substring(i - (if (c == 'N') 3 else if (c == '+') 9 else 8), i))
          case _ => () // conversion: float token for long/bool — continue
        }
      } else if (lit("-Infinity")) {
        fieldIdx match {
          case -1 => ()
          case 3 | 4 | 5 | 6 => vals(fieldIdx) = java.lang.Double.valueOf(Double.NegativeInfinity)
          case 1 => vals(1) = utf8("-Infinity")
          case _ => () // conversion — continue
        }
      } else {
        val t = numberSpan()
        if (t < 0) return allNull() // bad number grammar: lexical
        if (fieldIdx >= 0) {
          val tok = line.substring((t >> 32).toInt, (t & 0xFFFFFFFFL).toInt)
          fieldIdx match {
            case 0 | 2 =>
              // float token / overflow for a long field: conversion
              // error, field untouched, record continues
              if (numIntegral) {
                try vals(fieldIdx) = java.lang.Long.valueOf(tok)
                catch { case _: NumberFormatException => () }
              }
            case 3 | 4 | 5 | 6 => vals(fieldIdx) = java.lang.Double.valueOf(tok)
            case 1 => vals(1) = utf8(tok) // number text for the string field
            case _ => () // conversion: number for the boolean — continue
          }
        }
      }
      ws()
      if (i >= len) return allNull()
      val sep = line.charAt(i)
      if (sep == ',') i += 1
      else if (sep == '}') return asBuilt() // trailing bytes ignored
      else return allNull()
    }
    null // unreachable
  }

  /** IVF coarse-quantizer probe list; see [[IvfProbeCells]]. Returns the
   *  `nProbe` nearest centroid ids by cosine, best first, ties → smaller
   *  cid. Exactly equal to sorting structs of (ns = −coalesce(dot/
   *  nullif(|e||c|, 0), −∞), cid) ascending and taking the first nProbe
   *  cids: zero-denominator cosines rank last (ns = +∞), NaN scores rank
   *  after even those (Double.compare: NaN > +∞ — Spark's double
   *  ordering), equal scores break to the smaller cid. */
  def ivfProbeCells(emb: ArrayData, cents: Array[Array[Float]],
      cNorms: Array[Double], nProbe: Int): ArrayData = {
    val dim = emb.numElements()
    var nsq = 0.0
    var i = 0
    while (i < dim) {
      val x = emb.getFloat(i).toDouble
      nsq += x * x
      i += 1
    }
    val nrm = math.sqrt(nsq)
    val n = cents.length
    val ns = new Array[Double](n) // negated score: smaller = nearer
    var c = 0
    while (c < n) {
      val cent = cents(c)
      val m = math.min(dim, cent.length)
      var acc = 0.0
      var j = 0
      while (j < m) {
        acc += emb.getFloat(j).toDouble * cent(j).toDouble
        j += 1
      }
      val denom = nrm * cNorms(c)
      ns(c) = if (denom == 0.0) Double.PositiveInfinity else -(acc / denom)
      c += 1
    }
    val k = math.min(nProbe, n)
    val out = new Array[Int](k)
    val used = new Array[Boolean](n)
    var r = 0
    while (r < k) {
      var best = -1
      var c2 = 0
      while (c2 < n) {
        if (!used(c2) &&
          (best == -1 || java.lang.Double.compare(ns(c2), ns(best)) < 0)) best = c2
        c2 += 1
      }
      used(best) = true
      out(r) = best
      r += 1
    }
    ArrayData.toArrayData(out)
  }

  /** SimHash-64 fold over feature hashes: bit j of the result is the
   *  sign of sum_i(((h_i >> j) & 1) * 2 - 1). */
  def simhash(hashes: ArrayData): Long = {
    val n = hashes.numElements()
    val counters = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var j = 0
      while (j < 64) {
        counters(j) += (((h >>> j) & 1L).toInt << 1) - 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (counters(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Per-word feature hashes (duplicates kept, in order); see
   *  [[WordHashes]]. `portable=false`: Spark xxhash64 (XXH64 seed 42)
   *  over UTF-8 bytes — the fast family. `portable=true`: top 60 bits
   *  of md5 — equals `conv(substring(md5(w),1,15),16,10)` and DuckDB's
   *  `CAST('0x' || substr(md5(w),1,15) AS BIGINT)`, so signatures built
   *  from it are reproducible in any engine with md5. */
  def wordHashes(text: String, portable: Boolean): ArrayData = {
    val out = new java.util.ArrayList[java.lang.Long]()
    val md = if (portable) java.security.MessageDigest.getInstance("MD5") else null
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && isWs(text.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(text.charAt(i))) i += 1
      if (i > start) {
        val w = text.substring(start, i)
        val h =
          if (portable) {
            md.reset()
            val d = md.digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            // first 8 bytes big-endian, minus the lowest nibble = first
            // 15 hex chars of the digest as an unsigned 60-bit value
            var v = 0L
            var b = 0
            while (b < 8) { v = (v << 8) | (d(b) & 0xFFL); b += 1 }
            v >>> 4
          } else {
            org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
              org.apache.spark.unsafe.types.UTF8String.fromString(w),
              org.apache.spark.sql.types.StringType, 42L)
          }
        out.add(h)
      }
    }
    val arr = new Array[Long](out.size)
    var k = 0
    while (k < arr.length) { arr(k) = out.get(k); k += 1 }
    ArrayData.toArrayData(arr)
  }
}

/**
 * Fused speculative-projection distance: dead-reckon two aircraft along
 * their tracks and return the haversine distance of the projected points.
 * children = (lat1, lng1, trak1, distKm1, lat2, lng2, trak2, distKm2),
 * all DoubleType. Mirrors DistFilterBolt (RollingFlightDist.java:157-187,
 * 232-259) via [[GeoMath.projectedDistKm]].
 */
case class ProjectedDist(children: Seq[Expression]) extends Expression {
  require(children.length == 8, "ProjectedDist takes 8 double arguments")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else {
      val d = vs.map(_.asInstanceOf[Double])
      GeoMath.projectedDistKm(d(0), d(1), d(2), d(3), d(4), d(5), d(6), d(7))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.map(_.isNull).mkString(" || ")
    val args = evals.map(_.value).mkString(", ")
    ev.copy(code =
      code"""
        ${evals.map(_.code).mkString("\n")}
        boolean ${ev.isNull} = $anyNull;
        double ${ev.value} = -1.0;
        if (!${ev.isNull}) {
          ${ev.value} = graft.functions.GeoMath.projectedDistKm($args);
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/**
 * Distinct word n-gram shingle hashes of a text: split on ASCII
 * whitespace runs, join each n consecutive words with a single space,
 * xxhash64 (seed 42) each gram, keep first occurrences. Bit-compatible
 * with `array_distinct(transform(...))` + `xxhash64` over
 * `filter(split(text,"\\s+"), ...)` — asserted in NativeExprSpec — but
 * one JIT-friendly kernel instead of interpreted per-element lambdas.
 */
case class ShingleHashes(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    VectorMath.shingleHashes(v.toString, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.shingleHashes($t.toString(), $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * k MinHash slot minima over a shingle-hash array — the row-local form
 * of `DedupOps.minhashSignatures`'s explode + k-column min aggregate
 * (bit-identical; NativeExprSpec asserts it): slot q = signed min over
 * the hashes of chained xxhash64(q:int, h:long), seed 42 — the
 * [[VectorMath.lshCollide]] slot loop as a standalone kernel. One
 * JIT'd loop per row, no explode, no aggregate: signature computation
 * becomes the pure projection the DedupOps scale contract describes,
 * removing a corpus-wide (id, shingle-hash) exchange from every
 * minhash consumer. (A composed SQL-expression form — k transform
 * lambdas over the array — was measured 50x slower when the explode
 * form was first chosen; the native kernel has neither the interpreted
 * HOFs nor the shuffle.)
 */
case class MinhashSig(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    VectorMath.minhashSig(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.minhashSig($t, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Live repeated-span gate: struct(n_grams, n_dup, dup_tokens) of a text
 * against a broadcast SORTED long[] of duplicated gram hashes (learned
 * offline by [[graft.ops.DedupOps.repeatedGramHashes]]). The model
 * rides as a broadcast handle inside the expression (the
 * [[LmUnigramScore]] pattern); executors binary-search a primitive
 * array — no boxing, no per-row set construction, fully codegen'd.
 * Output fields match [[graft.ops.DedupOps.repeatedSpanStats]], whose
 * batch semantics this reproduces exactly when the model was learned
 * from the same corpus the rows come from (RunTopologySpec pins it).
 */
case class SpanFlagStats(child: Expression, n: Int,
    model: org.apache.spark.broadcast.Broadcast[Array[Long]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq("n_grams", "n_dup", "dup_tokens").map(f =>
      org.apache.spark.sql.types.StructField(f,
        org.apache.spark.sql.types.LongType, nullable = false)))

  override def nullSafeEval(v: Any): Any =
    VectorMath.spanStats(v.toString, n, model.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("spanModel", model,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, t =>
      s"graft.functions.VectorMath.spanStats($t.toString(), $n, " +
        s"(long[])$mRef.value())")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Dedup-key text NORMALIZATION: accent folding (NFD + strip all
 * combining marks — the utf8proc/strip_accents scope), per-codepoint
 * lowercase, ASCII-whitespace-run collapse, trim — the key
 * preparation step a dedup pipeline runs so that "Café" and "cafe "
 * fingerprint together (CCNet's normalization stage before hashing).
 * One fused row-local pass returning (n_chars_raw, n_chars_norm,
 * changed, norm); zero exchanges at any corpus size. The normalized
 * TEXT is returned (not just its hash) so downstream fingerprints,
 * shingles, and minhashes consume it directly.
 */
case class NormalizeText(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_chars_raw",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("n_chars_norm",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("changed",
      org.apache.spark.sql.types.BooleanType, nullable = false),
    org.apache.spark.sql.types.StructField("norm",
      org.apache.spark.sql.types.StringType, nullable = false)))

  override def nullSafeEval(v: Any): Any =
    VectorMath.normalizeText(v.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"graft.functions.VectorMath.normalizeText($t.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Line-level cleaning statistics: one fused pass over a doc's
 * '\n'-separated lines (the CCNet/RefinedWeb line-wise rules a web
 * curation pipeline runs before doc-level filters) classifying each
 * line by first-match precedence — exact within-doc duplicate >
 * bullet prefix > numeric-only > too-short — plus the
 * terminal-punctuation count over all original lines and the KEPT
 * lines rejoined with '\n' (hash-gated downstream). Entirely
 * row-local — a doc's lines live in its own row — so the batch query
 * and the live topology are the same zero-exchange projection (the
 * gopher/quality fused-kernel convention; the composed-column form
 * would need posexplode + a (doc, line) window + a re-agg: two
 * exchanges to compute a per-row fact). Returns (n_lines, n_kept,
 * n_dup_line, n_bullet, n_numeric, n_short, n_end_punct, kept_text).
 */
case class LineFilterStats(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq("n_lines", "n_kept", "n_dup_line", "n_bullet", "n_numeric",
      "n_short", "n_end_punct").map(f =>
      org.apache.spark.sql.types.StructField(f,
        org.apache.spark.sql.types.LongType, nullable = false)) :+
      org.apache.spark.sql.types.StructField("kept_text",
        org.apache.spark.sql.types.StringType, nullable = false))

  override def nullSafeEval(v: Any): Any =
    VectorMath.lineStats(v.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"graft.functions.VectorMath.lineStats($t.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Single-hash Bloom membership probe: TRUE iff all k bits of a 60-bit
 * hash are set in the broadcast bitmap — the SEMI-JOIN-REDUCTION side
 * of the Bloom family ([[BloomProbe]] is the per-document gram
 * counter; this is the per-row key test a bloom-accelerated anti-join
 * uses to shrink its probe-side input to the possibly-present
 * sliver). Same enhanced-double-hashing position arithmetic as the
 * whole family; false = DEFINITELY absent (the one-sided guarantee
 * the pre-filter's correctness rests on).
 */
case class BloomHashProbe(child: Expression, k: Int,
    model: org.apache.spark.broadcast.Broadcast[Array[Long]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType

  override def nullSafeEval(v: Any): Any =
    VectorMath.bloomHashHit(v.asInstanceOf[Long], k, model.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("bloomHashModel", model,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, t =>
      s"graft.functions.VectorMath.bloomHashHit($t, $k, " +
        s"(long[])$mRef.value())")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Bloom-filter decontamination probe: struct(n_grams, n_hits) of a
 * text's distinct portable (md5-60) word n-grams against a broadcast
 * bitmap (built offline by
 * [[graft.queries.PipelineQueries.bloomBitsOf]]). The 100 TB shape of
 * the [[graft.queries.PipelineQueries.decontaminate]] family: the
 * benchmark artifact is O(m) BITS — fixed at build time, independent
 * of how many grams went in — instead of the exact distinct-gram set,
 * and the corpus side needs NO join and NO aggregation at all (one
 * kernel call per row emits the per-doc counts directly), so the
 * probing plan is scan → project → filter with zero exchanges. The
 * trade is Bloom's one-sided error: every truly-contaminated doc is
 * flagged (no false negatives), a small FPR-bounded set of clean docs
 * is flagged too — the standard pre-filter contract (route flagged
 * docs to the exact checker, or accept the over-drop). Model rides as
 * a broadcast handle inside the expression (the [[SpanFlagStats]]
 * pattern); fully codegen'd.
 */
case class BloomProbe(child: Expression, n: Int, k: Int,
    model: org.apache.spark.broadcast.Broadcast[Array[Long]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq("n_grams", "n_hits").map(f =>
      org.apache.spark.sql.types.StructField(f,
        org.apache.spark.sql.types.LongType, nullable = false)))

  override def nullSafeEval(v: Any): Any =
    VectorMath.bloomHits(v.toString, n, k, model.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("bloomModel", model,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, t =>
      s"graft.functions.VectorMath.bloomHits($t.toString(), $n, $k, " +
        s"(long[])$mRef.value())")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Live near-dup ADMISSION probe: struct(n_bands, n_collide) of a text's
 * MinHash+LSH bands against a broadcast SORTED long[] of combined
 * corpus band keys (learned offline by
 * [[graft.ops.DedupOps.corpusBandKeys]]). One kernel call runs the
 * whole per-row pipeline — shingle → k minhash slots → band hashes →
 * binary-search probes — where the composed column form would be 64
 * interpreted higher-order-function transforms per row (the measured
 * 50× minhash-as-expression failure mode
 * [[graft.ops.DedupOps.minhashSignatures]] documents). Bit-compatible
 * with the batch [[graft.ops.DedupOps.bandCollideAdmit]] candidate
 * pipeline (RunTopologySpec pins admit-set equality; DedupOpsSpec pins
 * per-band key equality against the column composition).
 */
case class LshBandCollide(child: Expression, n: Int, k: Int, bands: Int,
    model: org.apache.spark.broadcast.Broadcast[Array[Long]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq("n_bands", "n_collide").map(f =>
      org.apache.spark.sql.types.StructField(f,
        org.apache.spark.sql.types.LongType, nullable = false)))

  override def nullSafeEval(v: Any): Any =
    VectorMath.lshCollide(v.toString, n, k, bands, model.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("bandModel", model,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, t =>
      s"graft.functions.VectorMath.lshCollide($t.toString(), $n, $k, $bands, " +
        s"(long[])$mRef.value())")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Embedding LSH band collision count against a broadcast SORTED array
 * of corpus band keys — the [[LshBandCollide]] device on the embedding
 * side: one kernel call computes all sign-projection planes and probes
 * every band (the composed form is bits×tables hash expressions plus a
 * per-row membership scan). Model rides as a broadcast reference
 * object; returns (n_bands, n_collide).
 */
case class EmbBandCollide(child: Expression, bits: Int, tables: Int,
    model: org.apache.spark.broadcast.Broadcast[Array[Long]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq("n_bands", "n_collide").map(f =>
      org.apache.spark.sql.types.StructField(f,
        org.apache.spark.sql.types.LongType, nullable = false)))

  override def nullSafeEval(v: Any): Any =
    VectorMath.embBandCollide(v.asInstanceOf[ArrayData], bits, tables,
      model.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("embBandModel", model,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.VectorMath.embBandCollide($a, $bits, $tables, " +
        s"(long[])$mRef.value())")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * One-pass character-entropy kernel: struct(n_cp, n_distinct,
 * entropy_micro) over the input's code-point distribution — the
 * garbled/degenerate-text curation signal. The relational form would
 * explode one row PER CHARACTER (a corpus-size × doc-length shuffle);
 * every statistic here is within-document, so it is a row-local
 * projection like [[GopherStats]].
 */
case class CharEntropy(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq("n_cp", "n_distinct", "entropy_micro").map(f =>
      org.apache.spark.sql.types.StructField(f,
        org.apache.spark.sql.types.LongType, nullable = false)))

  override def nullSafeEval(v: Any): Any =
    VectorMath.charEntropy(v.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.charEntropy($t.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Winnowing-fingerprint collision count against a broadcast SORTED
 * array of rare corpus fingerprint hashes — the [[LshBandCollide]]
 * device at winnowing granularity: one kernel call runs the deque
 * selection, per-doc hash dedup, and all membership probes. Model
 * rides as a broadcast reference object; returns (n_fp, n_collide).
 */
case class WinnowCollide(child: Expression, k: Int, w: Int,
    model: org.apache.spark.broadcast.Broadcast[Array[Long]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq("n_fp", "n_collide").map(f =>
      org.apache.spark.sql.types.StructField(f,
        org.apache.spark.sql.types.LongType, nullable = false)))

  override def nullSafeEval(v: Any): Any =
    VectorMath.winnowCollide(v.toString, k, w, model.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("winnowModel", model,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, t =>
      s"graft.functions.VectorMath.winnowCollide($t.toString(), $k, $w, " +
        s"(long[])$mRef.value())")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Trained-classifier margin against a broadcast weight table — the
 * apply stage of `classify_train` as one kernel call: tokenize,
 * per-bucket counts, quantized margin (the exact arithmetic the
 * training spec pins). Weights ride as a broadcast reference object;
 * returns (n_words, margin_micro).
 */
case class ClassifyTrainedMargin(child: Expression,
    weights: org.apache.spark.broadcast.Broadcast[Array[Long]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq("n_words", "margin_micro").map(f =>
      org.apache.spark.sql.types.StructField(f,
        org.apache.spark.sql.types.LongType, nullable = false)))

  override def nullSafeEval(v: Any): Any =
    VectorMath.classifyTrainedMargin(v.toString, weights.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("trainedWeights", weights,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, t =>
      s"graft.functions.VectorMath.classifyTrainedMargin($t.toString(), " +
        s"(long[])$wRef.value())")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * DSIR importance score over a broadcast B-row micro-nat model; see
 * [[VectorMath.dsirScore]]. Same shape as [[ClassifyTrainedMargin]]:
 * one static call per row, model as a broadcast reference object.
 */
case class DsirScore(child: Expression,
    model: org.apache.spark.broadcast.Broadcast[Array[Long]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq("n_words", "logw_micro").map(f =>
      org.apache.spark.sql.types.StructField(f,
        org.apache.spark.sql.types.LongType, nullable = false)))

  override def nullSafeEval(v: Any): Any =
    VectorMath.dsirScore(v.toString, model.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("dsirModel", model,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, t =>
      s"graft.functions.VectorMath.dsirScore($t.toString(), " +
        s"(long[])$mRef.value())")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Viterbi unigram-LM segmentation of ONE word under a BROADCAST
 * (sorted pieces, micro-nat costs) model — the in-query learning arm
 * of the Kudo/SentencePiece tokenizer family
 * (`PipelineQueries.unigramLearn`): each EM round broadcasts the
 * current model and segments the VOCAB frame (distinct words — a
 * memo would be pointless, every word appears once) in one codegen'd
 * call per word. Returns the pieces space-joined ([[VectorMath
 * .unigramSegment]]'s deterministic longest-final-piece tie-break);
 * callers split+explode for counts. The frozen-table apply arm is
 * [[UnigramEncode]].
 */
case class UnigramSegmentModel(child: Expression,
    pieces: org.apache.spark.broadcast.Broadcast[Array[String]],
    costs: org.apache.spark.broadcast.Broadcast[Array[Long]],
    maxPiece: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StringType

  override def nullSafeEval(v: Any): Any =
    VectorMath.unigramSegmentU(v.toString, pieces.value, costs.value, maxPiece)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("unigramPieces", pieces,
      "org.apache.spark.broadcast.Broadcast")
    val cRef = ctx.addReferenceObj("unigramCosts", costs,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, t =>
      s"graft.functions.VectorMath.unigramSegmentU($t.toString(), " +
        s"(String[])$pRef.value(), (long[])$cRef.value(), $maxPiece)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Deterministic demo embedding kernel — the live gates' stand-in for
 * an upstream encoder (`Topologies.synthEmbedding`). One static call per row:
 * the composed-column form is `dim` hash expressions that get INLINED
 * INTO EVERY scoring consumer downstream (8 centroid cosines + the
 * probe-cells call each re-expand the tree), which blew Janino's 64 KB
 * method limit in the outlier_gate probe — the exact failure mode this
 * file's header documents.
 */
case class SynthEmbedding(child: Expression, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    VectorMath.synthEmbedding(v.toString, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.synthEmbedding($t.toString(), $dim)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Positional word n-gram hashes: element k = xxhash64 (seed 42, same
 * family as [[ShingleHashes]]) of the space-joined gram starting at
 * word k. Duplicates KEPT, gram order preserved — the positional input
 * for repeated-span dedup, where [[ShingleHashes]]' set semantics
 * would erase within-document repeats and all positions.
 */
case class GramHashes(child: Expression, n: Int, portable: Boolean = false)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    VectorMath.gramHashes(v.toString, n, portable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.gramHashes($t.toString(), $n, $portable)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Sign-random-projection LSH bucket id for a float vector: `bits`
 * pseudorandom +/-1 hyperplanes (plane p, dim d sign = parity of
 * XXH64(p << 32 | d)), bucket bit p = sign of the projection. One
 * kernel call per row — the composed column form is bits x dim
 * element_at terms (512+ nodes), which blows past the JIT method limit.
 */
case class LshBucket(child: Expression, bits: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(v: Any): Any =
    VectorMath.lshBucket(v.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorMath.lshBucket($a, $bits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Per-word feature hashes of a text: split on ASCII whitespace runs,
 * hash each word (duplicates kept, in arrival order — SimHash needs
 * frequencies, unlike [[ShingleHashes]]' distinct sets). Two families:
 * `portable=false` -> xxhash64 seed 42 (fast path for production);
 * `portable=true` -> top 60 bits of md5, bit-compatible with
 * `conv(substring(md5(w),1,15),16,10)` in any SQL engine, which makes
 * downstream signatures (SimHash) oracle-verifiable. One kernel call
 * per row vs an interpreted per-element HOF lambda.
 */
case class WordHashes(child: Expression, portable: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    VectorMath.wordHashes(v.toString, portable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.wordHashes($t.toString(), $portable)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * IVF coarse-quantizer probe list for a float vector: the `nProbe`
 * nearest centroid ids by cosine (best first, ties → smaller cid).
 * The trained quantizer (centroids + their norms) rides along as an
 * expression *reference object*, not as plan literals: the composed
 * column form (an array of 16 per-centroid score structs, each with a
 * 64-float literal) is a ~2000-node tree that Catalyst's constraint
 * propagation re-canonicalizes combinatorially once the result becomes
 * a join key — measured 66 s of driver time at any data size — and a
 * single opaque node sidesteps that while also JIT-ing as one kernel.
 */
case class IvfProbeCells(child: Expression, centroids: Array[Array[Float]],
    cNorms: Array[Double], nProbe: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    VectorMath.ivfProbeCells(v.asInstanceOf[ArrayData], centroids, cNorms, nProbe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "float[][]")
    val nRef = ctx.addReferenceObj("cNorms", cNorms, "double[]")
    defineCodeGen(ctx, ev,
      a => s"graft.functions.VectorMath.ivfProbeCells($a, $cRef, $nRef, $nProbe)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * 64-bit SimHash over an array of 64-bit feature hashes: per bit, sum
 * +1/-1 across features; the sign becomes the bit. Native kernel — the
 * equivalent nested HOF fold (aggregate over zip_with per bit) is
 * interpreted per lambda call, ~50x slower.
 */
case class SimHash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(v: Any): Any =
    VectorMath.simhash(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorMath.simhash($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * One-pass stopword-argmax language ID over a text column. The composed
 * column form re-splits the text once per language and walks each token
 * array with interpreted HOF lambdas (4 regex splits + 4 filters per
 * row — the slowest projection in the engine, measured 6.1 s at sf0.1);
 * this kernel tokenizes once and checks each token against all language
 * sets in a single JIT'd call. Null text -> null (callers coalesce to
 * "und" to match the SQL formulation's CASE/ELSE).
 */
case class LangId(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StringType

  override def nullSafeEval(v: Any): Any =
    VectorMath.langId(v.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.langId($t.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * One-pass page-view TSV parse: struct(url, http_status, zip_code,
 * user_id). from_csv runs a full Univocity CSV parser per row (quote
 * handling this tab feed never uses); the raw tab split is both faster
 * and closer to the reference's PageView.fromString. Equality with the
 * from_csv formulation is pinned in NativeExprSpec on well-formed,
 * short, long, empty-token, and non-numeric lines.
 */
case class PageViewFields(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("url",
      org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("http_status",
      org.apache.spark.sql.types.IntegerType, nullable = true),
    org.apache.spark.sql.types.StructField("zip_code",
      org.apache.spark.sql.types.IntegerType, nullable = true),
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.IntegerType, nullable = true)))

  override def nullSafeEval(v: Any): Any =
    VectorMath.pageViewFields(v.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.pageViewFields($t.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * One-pass (lat, lng) extraction from an ADS-B JSON line — the hot
 * parse of the rolling_geo topology needs exactly two numeric fields,
 * and from_json pays a full Jackson tokenization of the object per row
 * (measured: the zone pipeline sustained 0.36 M rows/s vs 2–9 M for
 * the non-JSON topologies). Key-targeted scan, null/missing/malformed
 * → null field; NativeExprSpec pins equality with the from_json
 * formulation on generator-shaped and adversarial lines. Limitations
 * vs a real parser (accepted for this feed): keys found inside string
 * VALUES would false-match — impossible for this feed's hex-string
 * Icao values.
 */
case class AdsbLatLng(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq("lat", "lng").map(n => org.apache.spark.sql.types.StructField(n,
      org.apache.spark.sql.types.DoubleType, nullable = true)))

  override def nullSafeEval(v: Any): Any =
    VectorMath.adsbLatLng(v.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.adsbLatLng($t.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * One-pass quality counts over a text column:
 * struct(n_words, n_nonws_chars, n_stop_en_hits, n_alpha_chars,
 * n_chars), all longs (char counts are Unicode code points, matching
 * Spark's `length`). The composed form costs two regexp_replace passes, a regex
 * split, and an interpreted in-list lambda per row; this kernel is two
 * linear scans in one JIT'd call. Ratio/score math stays in composed
 * columns on top (TextAnalyticsOps.qualityFeatures) so the formula is
 * engine-visible and unchanged; NativeExprSpec pins count equality to
 * the regex formulations.
 */
case class QualityStats(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq("n_words", "n_nonws", "n_stop", "n_alpha", "n_chars").map(n =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.LongType, nullable = false)))

  override def nullSafeEval(v: Any): Any =
    VectorMath.qualityStats(v.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.qualityStats($t.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * One-pass Gopher rule statistics: the [[QualityStats]] fields plus
 * `top_c`, the maximum whitespace-word multiplicity (the Gopher
 * dominance signal — WITHIN-document, so the relational
 * explode→count→max shape would pay a corpus-wide (doc_id, word)
 * shuffle for a statistic each row computes alone). Fused into one
 * tokenization pass because the rule battery needs all six counts per
 * row; bit-compatibility with QualityStats and a composed dominance
 * argmax is pinned in NativeExprSpec, and the full battery against a
 * plain-Scala recompute in CurationQueriesSpec.
 */
case class GopherStats(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq("n_words", "n_nonws", "n_stop", "n_alpha", "n_chars", "top_c").map(n =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.LongType, nullable = false)))

  override def nullSafeEval(v: Any): Any =
    VectorMath.gopherStats(v.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.gopherStats($t.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Row-local winnowing: struct(n_grams, n_fp, fp_sum) — the same
 * fingerprint selection the relational `textWinnow` computes with a
 * per-doc window min, fused into one monotone-deque pass (document
 * windows never cross documents, so winnowing needs no shuffle at
 * all). Bit-equality with the relational form across the corpus is
 * pinned in CurationQueriesSpec — two independent formulations of the
 * rightmost-min rule cross-validating each other.
 */
case class WinnowStats(child: Expression, k: Int, w: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq("n_grams", "n_fp", "fp_sum").map(n =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.LongType, nullable = false)))

  override def nullSafeEval(v: Any): Any =
    VectorMath.winnowStats(v.toString, k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.winnowStats($t.toString(), $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * The selected winnowing fingerprints of a document as packed
 * `(h40 << 20) | pos` longs — the [[WinnowStats]] deque scan emitting
 * the pairs instead of their rollup, which makes fingerprint
 * SELECTION fully row-local: the relational form (per-position
 * explode + trailing-min window + distinct) spends two corpus-wide
 * exchanges deriving what every document can compute alone. The
 * relational formulation remains the spec-pinned cross-validation and
 * the oracle's independent computation.
 */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    VectorMath.winnowFingerprints(v.toString, k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.winnowFingerprints($t.toString(), $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * One-pass hashed-linear classifier scoring: struct(n_words, score_sum)
 * over \s+ tokens of the (already-lowercased) input — the
 * [[QualityStats]] shape for `PipelineQueries.textClassify`'s frozen
 * model. The composed form (an `aggregate` HOF folding
 * conv(substring(md5(w),1,6),16,10) per token) is CodegenFallback with
 * a per-row array materialization; this runs the identical arithmetic
 * in one fused loop with a per-distinct-word md5 memo. Bit-equality
 * with the composed fold is pinned in NativeExprSpec on arbitrary
 * strings.
 */
case class ClassifyScore(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq("n_words", "score_sum").map(n =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.LongType, nullable = false)))

  override def nullSafeEval(v: Any): Any =
    VectorMath.classifyScore(v.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.classifyScore($t.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * One-pass full ADS-B report parse: struct(Id, Icao, PosTime, Lat,
 * Long, Spd, Trak, Gnd) — field names match `Schemas.adsb` so
 * consumers swap in for `from_json` unchanged. from_json tokenizes the
 * whole object per row with Jackson (the measured 6x tax that
 * motivated [[AdsbLatLng]]); this scans for each key and parses only
 * its value, and needs no trailing-comma strip. Field-level equality
 * with the from_json formulation is pinned in NativeExprSpec on
 * generator-shaped and guard-exercising lines; on non-JSON garbage
 * from_json yields a NULL STRUCT while this yields a struct of nulls —
 * operator-level equivalent (every guard fails either way; AdsbOpsSpec
 * pins the drop set). Same accepted limitation as [[AdsbLatLng]]:
 * a key string occurring inside a string VALUE would false-match —
 * impossible for this feed's hex Icao values.
 */
case class AdsbReport(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("Id",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("Icao",
      org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("PosTime",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("Lat",
      org.apache.spark.sql.types.DoubleType, nullable = true),
    org.apache.spark.sql.types.StructField("Long",
      org.apache.spark.sql.types.DoubleType, nullable = true),
    org.apache.spark.sql.types.StructField("Spd",
      org.apache.spark.sql.types.DoubleType, nullable = true),
    org.apache.spark.sql.types.StructField("Trak",
      org.apache.spark.sql.types.DoubleType, nullable = true),
    org.apache.spark.sql.types.StructField("Gnd",
      org.apache.spark.sql.types.BooleanType, nullable = true)))

  override def nullSafeEval(v: Any): Any =
    VectorMath.adsbReport(v.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.adsbReport($t.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Whitespace-token count of a text: maximal non-whitespace runs, one
 *  pass, no array allocation — equals the composed
 *  `size(filter(split ...))` form (NativeExprSpec) without the regex
 *  split and per-element lambda. */
case class WsTokenCount(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(v: Any): Any =
    VectorMath.wsTokenCount(v.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.wsTokenCount($t.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** BPE-ish sub-word token count (pre-tokenizer regex
 *  `[a-z]+|[0-9]|[^a-z0-9\s]` as a one-pass scan; callers lowercase the
 *  input). Equals `size(regexp_extract_all(...))` (NativeExprSpec)
 *  without materializing the match array. */
case class BpeishTokenCount(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(v: Any): Any =
    VectorMath.bpeishTokenCount(v.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.bpeishTokenCount($t.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** REAL merge-table BPE token count (vs the [[BpeishTokenCount]] regex
 *  heuristic, which survives for cross-checks): whitespace words
 *  segmented against the frozen corpus-learned
 *  [[VectorMath.BpeMerges]] table — leftmost occurrence of the
 *  lowest-rank pair, one merge per step — counts summed over the
 *  text. Callers lowercase the input. Stays inside whole-stage
 *  codegen via a static call, like every kernel here. */
case class BpeTokenCount(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(v: Any): Any =
    VectorMath.bpeTokenCount(v.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.bpeTokenCount($t.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Whole-text merge-table BPE ENCODE: struct(n_tokens, enc) where `enc`
 * is the document's actual token stream (each word's pieces in word
 * order, space-joined) under the frozen [[VectorMath.BpeMerges]] table
 * — the sequence a trainer consumes, where [[BpeTokenCount]] reports
 * only its length. Same leftmost-lowest-rank schedule, same per-word
 * memo discipline (a separate piece-string memo keeps the count
 * path's footprint unchanged). The DuckDB oracle replays the schedule
 * via the textTokensBpe recursive CTE and reconstructs the same
 * stream relationally, so the SEGMENTATION ITSELF is cross-engine
 * gated, not just its length.
 */
case class BpeEncode(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq(org.apache.spark.sql.types.StructField("n_tokens",
      org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("enc",
        org.apache.spark.sql.types.StringType, nullable = false)))

  override def nullSafeEval(v: Any): Any =
    VectorMath.bpeEncode(v.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.bpeEncode($t.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Whole-text FROZEN-VOCAB unigram-LM encode: struct(n_tokens, enc)
 * under [[VectorMath.UnigramVocab]] — the apply arm of the Kudo
 * tokenizer family (learning arm: [[UnigramSegmentModel]]), the
 * [[BpeEncode]] shape verbatim: per-word Viterbi pieces in word order,
 * space-joined, per-distinct-word memo. The DuckDB oracle re-derives
 * the segmentation from the frozen table with an unrolled DP +
 * longest-edge backtrack, so the piece stream itself is cross-engine
 * gated.
 */
case class UnigramEncode(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq(org.apache.spark.sql.types.StructField("n_tokens",
      org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("enc",
        org.apache.spark.sql.types.StringType, nullable = false)))

  override def nullSafeEval(v: Any): Any =
    VectorMath.unigramEncode(v.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.unigramEncode($t.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Whole-text FROZEN-VOCAB WordPiece encode: struct(n_tokens, enc)
 * under [[VectorMath.WordpieceVocab]] — the apply arm of the BERT
 * tokenizer family (learning arm: `PipelineQueries.wordpieceLearn`),
 * the [[BpeEncode]] shape verbatim: per-word greedy longest-match
 * pieces in word order, space-joined, per-distinct-word memo, an
 * unmatchable word encoding to `[UNK]` in full. The DuckDB oracle
 * re-derives the greedy scan from the frozen table with unrolled
 * max-munch CTEs, so the piece stream itself is cross-engine gated.
 */
case class WordpieceEncode(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq(org.apache.spark.sql.types.StructField("n_tokens",
      org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("enc",
        org.apache.spark.sql.types.StringType, nullable = false)))

  override def nullSafeEval(v: Any): Any =
    VectorMath.wordpieceEncode(v.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.wordpieceEncode($t.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Whole-text frozen-vocab WordPiece token count — [[BpeTokenCount]]'s
 *  sibling for fertility comparisons; same memo discipline. */
case class WordpieceTokenCount(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(v: Any): Any =
    VectorMath.wordpieceTokenCount(v.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.wordpieceTokenCount($t.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Whole-text frozen-vocab unigram token count — [[BpeTokenCount]]'s
 *  sibling for fertility comparisons; same memo discipline. */
case class UnigramTokenCount(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(v: Any): Any =
    VectorMath.unigramTokenCount(v.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.VectorMath.unigramTokenCount($t.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Per-word unigram-LM score sum over a words array: Σ model(w),
 * out-of-vocabulary words costing `oov`. The learned model rides as a
 * BROADCAST handle inside the expression (an expression reference
 * object, the [[IvfProbeCells]] pattern) — tasks serialize the
 * handle, executors probe a real java HashMap. This replaced a
 * map-column fold over a stream-static join, which both re-ran the
 * learn aggregation every micro-batch (static subtrees re-execute
 * per trigger) and probed Spark's MapData by linear scan per token.
 */
case class LmUnigramScore(child: Expression,
    model: org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[String, java.lang.Long]], oov: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(v: Any): Any =
    VectorMath.lmUnigramSum(v.asInstanceOf[ArrayData], model.value, oov)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("lmModel", model,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.VectorMath.lmUnigramSum($a, " +
        s"(java.util.HashMap)$mRef.value(), ${oov}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Adjacent-bigram LM score sum over a words array with the add-one
 *  model's own backoff chain: a seen bigram costs its table entry, an
 *  unseen bigram under a known context costs that context's smoothed
 *  floor -ln(1/(c_a+V)), an unknown context costs -ln(1/V). Broadcast
 *  handles as reference objects, like [[LmUnigramScore]]. */
case class LmBigramScore(child: Expression,
    model: org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[String, java.lang.Long]],
    ctxModel: org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[String, java.lang.Long]], unk: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(v: Any): Any =
    VectorMath.lmBigramSum(v.asInstanceOf[ArrayData], model.value,
      ctxModel.value, unk)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("lmBigrams", model,
      "org.apache.spark.broadcast.Broadcast")
    val cRef = ctx.addReferenceObj("lmContexts", ctxModel,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.VectorMath.lmBigramSum($a, " +
        s"(java.util.HashMap)$mRef.value(), " +
        s"(java.util.HashMap)$cRef.value(), ${unk}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Kneser-Ney bigram NLL sum over a word array — the KN sibling of
 *  [[LmBigramScore]] (the smoothing KenLM-style filters actually
 *  ship): seen pairs score the gated batch query's exact quantized
 *  value; backoff = quantized-component sums over three broadcast
 *  maps (pair → nll, context → discount-mass base, word →
 *  continuation nll) with the 1/|types| default —
 *  [[VectorMath.lmBigramKnSum]] has the case contract. */
case class LmBigramScoreKn(child: Expression,
    model: org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[String, java.lang.Long]],
    ctxBase: org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[String, java.lang.Long]],
    cont: org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[String, java.lang.Long]], contDefault: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(v: Any): Any =
    VectorMath.lmBigramKnSum(v.asInstanceOf[ArrayData], model.value,
      ctxBase.value, cont.value, contDefault)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("knBigrams", model,
      "org.apache.spark.broadcast.Broadcast")
    val bRef = ctx.addReferenceObj("knCtxBase", ctxBase,
      "org.apache.spark.broadcast.Broadcast")
    val cRef = ctx.addReferenceObj("knCont", cont,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.VectorMath.lmBigramKnSum($a, " +
        s"(java.util.HashMap)$mRef.value(), " +
        s"(java.util.HashMap)$bRef.value(), " +
        s"(java.util.HashMap)$cRef.value(), ${contDefault}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Kneser-Ney TRIGRAM NLL sum over a word array — [[LmBigramScoreKn]]
 *  one order up: seen triples score the gated batch query's exact
 *  quantized value; backoff = quantized-component sums over five
 *  broadcast maps (triple → nll, context "a b" → discount-mass base,
 *  (b,c)-type → mid-level nll, middle word → mid discount base,
 *  word → continuation nll) with the 1/T₂ default —
 *  [[VectorMath.lmTrigramKnSum]] has the case contract. */
case class LmTrigramScoreKn(child: Expression,
    model: org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[String, java.lang.Long]],
    ctxBase: org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[String, java.lang.Long]],
    mid: org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[String, java.lang.Long]],
    midBase: org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[String, java.lang.Long]],
    cont: org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[String, java.lang.Long]], contDefault: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(v: Any): Any =
    VectorMath.lmTrigramKnSum(v.asInstanceOf[ArrayData], model.value,
      ctxBase.value, mid.value, midBase.value, cont.value, contDefault)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("kn3Trigrams", model,
      "org.apache.spark.broadcast.Broadcast")
    val bRef = ctx.addReferenceObj("kn3CtxBase", ctxBase,
      "org.apache.spark.broadcast.Broadcast")
    val dRef = ctx.addReferenceObj("kn3Mid", mid,
      "org.apache.spark.broadcast.Broadcast")
    val eRef = ctx.addReferenceObj("kn3MidBase", midBase,
      "org.apache.spark.broadcast.Broadcast")
    val cRef = ctx.addReferenceObj("kn3Cont", cont,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.VectorMath.lmTrigramKnSum($a, " +
        s"(java.util.HashMap)$mRef.value(), " +
        s"(java.util.HashMap)$bRef.value(), " +
        s"(java.util.HashMap)$dRef.value(), " +
        s"(java.util.HashMap)$eRef.value(), " +
        s"(java.util.HashMap)$cRef.value(), ${contDefault}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Char-bigram Naive Bayes language argmax over lowercased text —
 *  struct(lang_pred, score_micro), the scoring kernel BOTH the gated
 *  `text_langid_nb` apply pass and the live `nb_langid` topology run
 *  ([[VectorMath.nbLangIdArgmax]] has the tie/OOV/empty contracts).
 *  The model rides as broadcast reference objects: bigram →
 *  lang-indexed log-likelihood micro-nat array, plus the prior array
 *  and the sorted lang table. */
case class NbLangId(child: Expression,
    model: org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[String, Array[Long]]],
    priors: org.apache.spark.broadcast.Broadcast[Array[Long]],
    langs: org.apache.spark.broadcast.Broadcast[Array[String]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq(
      org.apache.spark.sql.types.StructField("lang_pred",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("score_micro",
        org.apache.spark.sql.types.LongType, nullable = false)))

  override def nullSafeEval(v: Any): Any =
    VectorMath.nbLangIdArgmax(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      model.value, priors.value, langs.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("nbModel", model,
      "org.apache.spark.broadcast.Broadcast")
    val pRef = ctx.addReferenceObj("nbPriors", priors,
      "org.apache.spark.broadcast.Broadcast")
    val lRef = ctx.addReferenceObj("nbLangs", langs,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.VectorMath.nbLangIdArgmax($a, " +
        s"(java.util.HashMap)$mRef.value(), " +
        s"(long[])$pRef.value(), " +
        s"(java.lang.String[])$lRef.value())")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column wrappers for the native expressions. */
object native {
  import org.apache.spark.sql.GraftColumnBridge

  def lsh_bucket(emb: Column, bits: Int): Column =
    GraftColumnBridge.column(LshBucket(GraftColumnBridge.expression(emb), bits))

  def shingle_hashes(text: Column, n: Int): Column =
    GraftColumnBridge.column(ShingleHashes(GraftColumnBridge.expression(text), n))

  def gram_hashes(text: Column, n: Int, portable: Boolean = false): Column =
    GraftColumnBridge.column(
      GramHashes(GraftColumnBridge.expression(text), n, portable))

  def minhash_sig(hashes: Column, k: Int): Column =
    GraftColumnBridge.column(
      MinhashSig(GraftColumnBridge.expression(hashes), k))

  def span_flag_stats(text: Column, n: Int,
      model: org.apache.spark.broadcast.Broadcast[Array[Long]]): Column =
    GraftColumnBridge.column(
      SpanFlagStats(GraftColumnBridge.expression(text), n, model))

  def bloom_probe(text: Column, n: Int, k: Int,
      model: org.apache.spark.broadcast.Broadcast[Array[Long]]): Column =
    GraftColumnBridge.column(
      BloomProbe(GraftColumnBridge.expression(text), n, k, model))

  def line_stats(text: Column): Column =
    GraftColumnBridge.column(
      LineFilterStats(GraftColumnBridge.expression(text)))

  def normalize_text(text: Column): Column =
    GraftColumnBridge.column(
      NormalizeText(GraftColumnBridge.expression(text)))

  def bloom_hash_probe(h: Column, k: Int,
      model: org.apache.spark.broadcast.Broadcast[Array[Long]]): Column =
    GraftColumnBridge.column(
      BloomHashProbe(GraftColumnBridge.expression(h), k, model))

  def lsh_band_collide(text: Column, n: Int, k: Int, bands: Int,
      model: org.apache.spark.broadcast.Broadcast[Array[Long]]): Column =
    GraftColumnBridge.column(
      LshBandCollide(GraftColumnBridge.expression(text), n, k, bands, model))

  def char_entropy(text: Column): Column =
    GraftColumnBridge.column(
      CharEntropy(GraftColumnBridge.expression(text)))

  def winnow_collide(text: Column, k: Int, w: Int,
      model: org.apache.spark.broadcast.Broadcast[Array[Long]]): Column =
    GraftColumnBridge.column(
      WinnowCollide(GraftColumnBridge.expression(text), k, w, model))

  def classify_trained_margin(text: Column,
      weights: org.apache.spark.broadcast.Broadcast[Array[Long]]): Column =
    GraftColumnBridge.column(
      ClassifyTrainedMargin(GraftColumnBridge.expression(text), weights))

  def dsir_score(text: Column,
      model: org.apache.spark.broadcast.Broadcast[Array[Long]]): Column =
    GraftColumnBridge.column(
      DsirScore(GraftColumnBridge.expression(text), model))

  def emb_band_collide(emb: Column, bits: Int, tables: Int,
      model: org.apache.spark.broadcast.Broadcast[Array[Long]]): Column =
    GraftColumnBridge.column(
      EmbBandCollide(GraftColumnBridge.expression(emb), bits, tables, model))

  def unigram_segment(word: Column,
      pieces: org.apache.spark.broadcast.Broadcast[Array[String]],
      costs: org.apache.spark.broadcast.Broadcast[Array[Long]],
      maxPiece: Int): Column =
    GraftColumnBridge.column(
      UnigramSegmentModel(GraftColumnBridge.expression(word), pieces, costs,
        maxPiece))

  def unigram_encode(text: Column): Column =
    GraftColumnBridge.column(
      UnigramEncode(GraftColumnBridge.expression(text)))

  def unigram_token_count(text: Column): Column =
    GraftColumnBridge.column(
      UnigramTokenCount(GraftColumnBridge.expression(text)))

  def wordpiece_encode(text: Column): Column =
    GraftColumnBridge.column(
      WordpieceEncode(GraftColumnBridge.expression(text)))

  def wordpiece_token_count(text: Column): Column =
    GraftColumnBridge.column(
      WordpieceTokenCount(GraftColumnBridge.expression(text)))

  def synth_embedding(text: Column, dim: Int): Column =
    GraftColumnBridge.column(
      SynthEmbedding(GraftColumnBridge.expression(text), dim))

  def simhash64(featureHashes: Column): Column =
    GraftColumnBridge.column(SimHash64(GraftColumnBridge.expression(featureHashes)))

  def word_hashes(text: Column, portable: Boolean): Column =
    GraftColumnBridge.column(WordHashes(GraftColumnBridge.expression(text), portable))

  def lang_id(text: Column): Column =
    GraftColumnBridge.column(LangId(GraftColumnBridge.expression(text)))

  def quality_stats(text: Column): Column =
    GraftColumnBridge.column(QualityStats(GraftColumnBridge.expression(text)))

  def gopher_stats(text: Column): Column =
    GraftColumnBridge.column(GopherStats(GraftColumnBridge.expression(text)))

  def winnow_stats(text: Column, k: Int, w: Int): Column =
    GraftColumnBridge.column(
      WinnowStats(GraftColumnBridge.expression(text), k, w))

  def winnow_fingerprints(text: Column, k: Int, w: Int): Column =
    GraftColumnBridge.column(
      WinnowFingerprints(GraftColumnBridge.expression(text), k, w))

  def classify_score(text: Column): Column =
    GraftColumnBridge.column(ClassifyScore(GraftColumnBridge.expression(text)))

  def adsb_latlng(line: Column): Column =
    GraftColumnBridge.column(AdsbLatLng(GraftColumnBridge.expression(line)))

  def adsb_report(line: Column): Column =
    GraftColumnBridge.column(AdsbReport(GraftColumnBridge.expression(line)))

  def pageview_fields(line: Column): Column =
    GraftColumnBridge.column(PageViewFields(GraftColumnBridge.expression(line)))

  def ws_token_count(text: Column): Column =
    GraftColumnBridge.column(WsTokenCount(GraftColumnBridge.expression(text)))

  def bpeish_token_count(text: Column): Column =
    GraftColumnBridge.column(BpeishTokenCount(GraftColumnBridge.expression(text)))

  def bpe_token_count(text: Column): Column =
    GraftColumnBridge.column(BpeTokenCount(GraftColumnBridge.expression(text)))

  def bpe_encode(text: Column): Column =
    GraftColumnBridge.column(BpeEncode(GraftColumnBridge.expression(text)))

  def lm_unigram_score(ws: Column,
      model: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[String, java.lang.Long]], oov: Long): Column =
    GraftColumnBridge.column(
      LmUnigramScore(GraftColumnBridge.expression(ws), model, oov))

  def nb_langid(text: Column,
      model: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[String, Array[Long]]],
      priors: org.apache.spark.broadcast.Broadcast[Array[Long]],
      langs: org.apache.spark.broadcast.Broadcast[Array[String]]): Column =
    GraftColumnBridge.column(
      NbLangId(GraftColumnBridge.expression(text), model, priors, langs))

  def lm_bigram_score(ws: Column,
      model: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[String, java.lang.Long]],
      ctxModel: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[String, java.lang.Long]], unk: Long): Column =
    GraftColumnBridge.column(
      LmBigramScore(GraftColumnBridge.expression(ws), model, ctxModel, unk))

  def lm_bigram_score_kn(ws: Column,
      model: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[String, java.lang.Long]],
      ctxBase: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[String, java.lang.Long]],
      cont: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[String, java.lang.Long]],
      contDefault: Long): Column =
    GraftColumnBridge.column(
      LmBigramScoreKn(GraftColumnBridge.expression(ws), model, ctxBase,
        cont, contDefault))

  def lm_trigram_score_kn(ws: Column,
      model: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[String, java.lang.Long]],
      ctxBase: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[String, java.lang.Long]],
      mid: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[String, java.lang.Long]],
      midBase: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[String, java.lang.Long]],
      cont: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[String, java.lang.Long]],
      contDefault: Long): Column =
    GraftColumnBridge.column(
      LmTrigramScoreKn(GraftColumnBridge.expression(ws), model, ctxBase,
        mid, midBase, cont, contDefault))

  def vec_dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(FloatVectorDot(GraftColumnBridge.expression(a),
      GraftColumnBridge.expression(b)))

  def ivf_probe_cells(emb: Column, centroids: Array[Array[Float]],
      cNorms: Array[Double], nProbe: Int): Column =
    GraftColumnBridge.column(IvfProbeCells(GraftColumnBridge.expression(emb),
      centroids, cNorms, nProbe))

  def projected_dist(lat1: Column, lng1: Column, trak1: Column, distKm1: Column,
      lat2: Column, lng2: Column, trak2: Column, distKm2: Column): Column =
    GraftColumnBridge.column(ProjectedDist(
      Seq(lat1, lng1, trak1, distKm1, lat2, lng2, trak2, distKm2)
        .map(GraftColumnBridge.expression)))
}
