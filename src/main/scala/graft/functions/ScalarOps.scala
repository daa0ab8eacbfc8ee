package graft.functions

import java.text.Normalizer
import java.util.regex.Pattern

import org.apache.spark.unsafe.types.UTF8String

/** Pure JVM implementations of the reference's scalar functions.
  *
  * Each function reproduces the semantics of a cited line range in
  * /root/reference/netlify/functions/fetchRumors.js or index.html; the
  * Catalyst `Expression` wrappers in [[Scalars]] call these statics from
  * both `nullSafeEval` and generated code, so interpreted and codegen
  * paths are identical by construction.
  */
object ScalarOps {

  private val WS = Pattern.compile("\\s+")

  /** Whitespace-normalize + trim (ref fetchRumors.js:32). */
  def clean(s: String): String =
    if (s == null) "" else WS.matcher(s).replaceAll(" ").trim

  private val Combining = Pattern.compile("[\\u0300-\\u036f]")
  private val NonAlnum = Pattern.compile("[^a-z0-9]+")
  private val EdgeUnderscore = Pattern.compile("^_+|_+$")

  /** Tag-slug builder (ref fetchRumors.js:33-38): clean → Unicode NFD →
    * strip combining diacritics U+0300..U+036F (exactly that range, as the
    * reference does — not all of \p{M}) → lowercase → `&` → " and " →
    * non-[a-z0-9] runs → `_` → trim `_`.
    */
  def slugify(q: String): String = {
    val nfd = Normalizer.normalize(clean(q), Normalizer.Form.NFD)
    val stripped = Combining.matcher(nfd).replaceAll("")
    val lowered = stripped.toLowerCase(java.util.Locale.ROOT).replace("&", " and ")
    EdgeUnderscore.matcher(NonAlnum.matcher(lowered).replaceAll("_")).replaceAll("")
  }

  private val DateAnywhere = Pattern.compile("([A-Za-z]+)\\s+(\\d{1,2}),\\s+(\\d{4})")
  private val MonthNums: Map[String, Int] = Map(
    "january" -> 1, "february" -> 2, "march" -> 3, "april" -> 4,
    "may" -> 5, "june" -> 6, "july" -> 7, "august" -> 8,
    "september" -> 9, "october" -> 10, "november" -> 11, "december" -> 12)

  /** Parse "Month DD, YYYY" anywhere in text → "YYYY-MM-DD", "" on no/bad
    * match or unknown month name (ref fetchRumors.js:41-50).
    */
  def extractIsoDate(txt: String): String = {
    if (txt == null) return ""
    val m = DateAnywhere.matcher(txt)
    if (!m.find()) return ""
    MonthNums.get(m.group(1).toLowerCase(java.util.Locale.ROOT)) match {
      case None => ""
      case Some(mm) =>
        val dd = m.group(2).toInt
        f"${m.group(3)}%s-$mm%02d-$dd%02d"
    }
  }

  private val IsoStrict = Pattern.compile("^(\\d{4})-(\\d{2})-(\\d{2})$")
  private val MonthAbbrevs = Array(
    "Jan.", "Feb.", "Mar.", "Apr.", "May", "Jun.",
    "Jul.", "Aug.", "Sep.", "Oct.", "Nov.", "Dec.")

  /** "YYYY-MM-DD" → "Oct. 15, 2025" (ref fetchRumors.js:153-159). Note the
    * nonstandard abbreviations: bare "May", "Sep." (not Java's "Sept"),
    * trailing periods — so this is NOT date_format('MMM'). Day is
    * non-padded. Returns "" for non-matching input; months outside 1..12
    * also yield "" (the reference would render "undefined" — we treat it
    * as invalid input).
    */
  def fmtMonthAbbrev(dateStr: String): String = {
    if (dateStr == null) return ""
    val m = IsoStrict.matcher(dateStr)
    if (!m.matches()) return ""
    val mon = m.group(2).toInt
    if (mon < 1 || mon > 12) return ""
    s"${MonthAbbrevs(mon - 1)} ${m.group(3).toInt}, ${m.group(1)}"
  }

  /** HTML-escape `& < > " '` (ref index.html:49). */
  def htmlEscape(s: String): String = {
    if (s == null) return ""
    val sb = new java.lang.StringBuilder(s.length + 16)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&'  => sb.append("&amp;")
        case '<'  => sb.append("&lt;")
        case '>'  => sb.append("&gt;")
        case '"'  => sb.append("&quot;")
        case '\'' => sb.append("&#39;")
        case c    => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** JSON string literal as `JSON.stringify` writes it (ES2019): the
    * two-character escapes for backspace, form feed, newline, return and
    * tab, and a six-character lowercase-hex escape for every other
    * control character and for a lone surrogate.
    */
  def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    for (i <- 0 until s.length) s.charAt(i) match {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c if Character.isHighSurrogate(c) &&
          i + 1 < s.length && Character.isLowSurrogate(s.charAt(i + 1)) => sb.append(c)
      case c if Character.isLowSurrogate(c) &&
          i > 0 && Character.isHighSurrogate(s.charAt(i - 1)) => sb.append(c)
      case c if Character.isSurrogate(c) => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private val AnchorEnd = Pattern.compile(
    "<a[^>]*href=\"([^\"]+)\"[^>]*>([^<]+)</a>\\s*$", Pattern.CASE_INSENSITIVE)
  private val TrailingSlashes = Pattern.compile("/+$")

  /** True iff the snippet ends with an anchor whose href (trailing-/
    * stripped) equals the item url, or whose visible text equals
    * sourceName case-insensitively (ref fetchRumors.js:162-172).
    */
  def endsWithSource(snippetHtml: String, url: String, sourceName: String): Boolean = {
    if (url == null || url.isEmpty) return false
    val u = TrailingSlashes.matcher(url).replaceAll("")
    val txt = if (snippetHtml == null) "" else snippetHtml.trim
    val m = AnchorEnd.matcher(txt)
    if (!m.find()) return false
    val href = TrailingSlashes.matcher(m.group(1)).replaceAll("")
    val label = clean(m.group(2))
    href == u || (sourceName != null &&
      label.toLowerCase(java.util.Locale.ROOT) == sourceName.toLowerCase(java.util.Locale.ROOT))
  }

  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 60-bit stable hash: the first 15 hex digits of md5 as a long —
    * numerically identical to Spark SQL's
    * `conv(substring(md5(s),1,15),16,10)` and DuckDB's
    * `('0x'||substring(md5(s),1,15))::BIGINT`, so it is the portable
    * hashing backbone for MinHash/SimHash/fingerprints (LlmOps).
    */
  def stableHash64(bytes: Array[Byte]): Long = {
    val d = Md5.get()
    d.reset()
    val h = d.digest(bytes)
    // first 15 hex chars == top 60 bits of the first 8 bytes (big-endian)
    val v = ((h(0) & 0xffL) << 56) | ((h(1) & 0xffL) << 48) |
      ((h(2) & 0xffL) << 40) | ((h(3) & 0xffL) << 32) |
      ((h(4) & 0xffL) << 24) | ((h(5) & 0xffL) << 16) |
      ((h(6) & 0xffL) << 8) | (h(7) & 0xffL)
    v >>> 4
  }

  def stableHash64(s: String): Long =
    stableHash64(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Rabin-Karp rolling-hash parameters (shared with the DuckDB oracle:
    * gram hash = Σ code(c_i)·B^(7-i) mod M over 8-char windows).
    */
  val RollB = 257L
  val RollM = 1000000007L
  val RollB7: Long = { // B^7 mod M
    var p = 1L; for (_ <- 0 until 7) p = p * RollB % RollM; p
  }

  /** Minimum Rabin-Karp hash over all 8-char windows of s — a TRUE
    * rolling computation: each step updates the previous window's hash
    * in O(1) (subtract the outgoing char's B^7 term, shift, add the
    * incoming char) instead of rehashing 8 chars. Returns -1 if
    * s.length < 8. ASCII inputs (code == byte == char).
    */
  def minRollingHash(s: String): Long = {
    val n = s.length
    if (n < 8) return -1L
    var h = 0L
    var i = 0
    while (i < 8) { h = (h * RollB + s.charAt(i)) % RollM; i += 1 }
    var mn = h
    while (i < n) {
      val out = s.charAt(i - 8).toLong
      h = ((h - out * RollB7 % RollM + RollM) % RollM * RollB + s.charAt(i)) % RollM
      if (h < mn) mn = h
      i += 1
    }
    mn
  }

  /** Minimum stableHash64 over all 8-char windows of s (winnowing-style
    * content fingerprint; the strong-hash companion to minRollingHash).
    * Returns -1 if s.length < 8.
    */
  def minGramHash(s: String): Long = {
    val n = s.length
    if (n < 8) return -1L
    var mn = Long.MaxValue
    var i = 0
    val last = n - 8
    while (i <= last) {
      val h = stableHash64(s.substring(i, i + 8))
      if (h < mn) mn = h
      i += 1
    }
    mn
  }

  private val SpaceU = UTF8String.fromString(" ")

  /** Distinct 3-word shingles of a token array, first-occurrence order
    * (== tokens.sliding(3).map(_.mkString(" ")).distinct). Operates on
    * Catalyst ArrayData so the DistinctShingles3 expression stays inside
    * whole-stage codegen with no Dataset encoder boundary.
    */
  def distinctShingles3(arr: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    val out = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i + 2 < n) {
      out.add(UTF8String.concatWs(SpaceU,
        arr.getUTF8String(i), arr.getUTF8String(i + 1), arr.getUTF8String(i + 2)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[AnyRef](out.size)))
  }

  /** All 2-word shingles of a token array, in order, WITH duplicates
    * (multiplicities matter for LM counts — the distinct variant is
    * [[distinctShingles3]]).
    */
  def shingles2(arr: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    if (n < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[AnyRef](n - 1)
    var i = 0
    while (i + 1 < n) {
      out(i) = UTF8String.concatWs(SpaceU,
        arr.getUTF8String(i), arr.getUTF8String(i + 1))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  // ---- similarity-family kernels (LlmOps hot paths) ----
  // Each replaces an interpreted higher-order-function chain (HOF lambdas
  // are evaluated per element with no codegen or CSE — measured ~30 µs per
  // element) with one static call inside whole-stage codegen. The
  // arithmetic mirrors the DuckDB oracle formulations term for term.

  /** MinHash permutation parameters (8 permutations (a·h + b) mod P over
    * the 60-bit base hash; P is a 30-bit prime so a·h stays < 2^63).
    * LlmOps mirrors these into the oracle SQL — keep in sync.
    */
  val MinhashP = 1000000007L
  val MinhashA: Array[Long] = Array(999999937L, 999999893L, 999999883L,
    999999797L, 999999761L, 999999757L, 999999751L, 999999739L)
  val MinhashB: Array[Long] = Array(15485863L, 32452843L, 49979687L,
    67867967L, 86028121L, 104395301L, 122949823L, 141650939L)

  /** 60-bit SimHash of a token array: stableHash64 per token, each bit
    * position voted +1/−1 across tokens, majority (> 0) sign → bit.
    * SimHash is per-document state — this computes it map-side in one
    * pass, where the explode(token)×explode(bit) formulation shuffles
    * 60 rows per token through two aggregations. Integer votes and the
    * same > 0 rule make it bit-identical to that formulation (and to
    * the DuckDB oracle).
    */
  def simhash60(arr: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](60)
    var i = 0
    while (i < n) {
      val h = stableHash64(arr.getUTF8String(i).getBytes)
      var b = 0
      while (b < 60) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }

  /** 8-permutation MinHash signature of a shingle array: one pass over
    * the shingles, hashing each ONCE and tracking all 8 permuted minima
    * (the HOF form pays 8 separate interpreted transform+array_min
    * passes). Empty input yields Long.MaxValue entries — callers filter
    * size ≥ 1 upstream (docsShingled requires ≥ 3 tokens).
    */
  def minhash8(arr: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(MinhashA.length)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = stableHash64(arr.getUTF8String(i).getBytes) % MinhashP
      var k = 0
      while (k < mins.length) {
        val v = (MinhashA(k) * h + MinhashB(k)) % MinhashP
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  /** Longest run of identical consecutive tokens in a token array —
    * the Gopher-style "max repeated run" repetition signal (one pass,
    * per-document, map-side). Empty input → 0.
    */
  def tokenMaxRun(arr: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = arr.numElements()
    if (n == 0) return 0L
    var best = 1L
    var run = 1L
    var prev = arr.getUTF8String(0)
    var i = 1
    while (i < n) {
      val cur = arr.getUTF8String(i)
      if (cur.equals(prev)) { run += 1; if (run > best) best = run }
      else { run = 1; prev = cur }
      i += 1
    }
    best
  }

  /** Occurrence count of the most frequent token in a token array (the
    * "top token fraction" numerator). One hash-map pass, per-document,
    * map-side. Empty input → 0.
    */
  def tokenTopCount(arr: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = arr.numElements()
    if (n == 0) return 0L
    val counts = new java.util.HashMap[UTF8String, Int](n * 2)
    var best = 0
    var i = 0
    while (i < n) {
      val c = counts.merge(arr.getUTF8String(i), 1, (a, b) => a + b)
      if (c > best) best = c
      i += 1
    }
    best.toLong
  }

  /** Cosine similarity of two numeric arrays, accumulated exactly like
    * the three sequential aggregate() folds it replaces (index-order
    * double adds into independent dot/normA/normB accumulators) so the
    * value is bit-identical to the HOF formulation and to DuckDB's
    * list_cosine_similarity over DOUBLE[]. Element nulls are not
    * handled (fixture arrays are non-null; the HOF form would return
    * null). Callers round to 6dp and rank on the rounded score.
    */
  def cosine(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData,
      aFloat: Boolean, bFloat: Boolean): Double = {
    val la = a.numElements()
    val lb = b.numElements()
    val n = if (la < lb) la else lb
    var dot = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      i += 1
    }
    var na = 0.0
    i = 0
    while (i < la) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      na += x * x
      i += 1
    }
    var nb = 0.0
    i = 0
    while (i < lb) {
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Deterministic hyperplane weights for the 8-plane LSH bucket:
    * w(i)(j) = stableHash64("hp:i:j") % 2001 − 1000 — the exact values
    * the oracle derives per row; here they are computed once per JVM.
    */
  private lazy val HpW: Array[Array[Double]] =
    Array.tabulate(8, 64)((i, j) => (stableHash64(s"hp:$i:$j") % 2001 - 1000).toDouble)

  /** 8-hyperplane sign bucket of a 64-dim embedding: bit i set iff
    * w_i · x > 0, dot products accumulated in index order (identical to
    * the aggregate(zip_with(...)) fold it replaces, which re-derived all
    * 512 hash weights per ROW interpreted).
    */
  def hyperplaneBucket64(a: org.apache.spark.sql.catalyst.util.ArrayData,
      aFloat: Boolean): Int = {
    var bucket = 0
    var i = 0
    while (i < 8) {
      val w = HpW(i)
      var acc = 0.0
      var j = 0
      val n = math.min(a.numElements(), 64)
      while (j < n) {
        val x = if (aFloat) a.getFloat(j).toDouble else a.getDouble(j)
        acc += w(j) * x
        j += 1
      }
      if (acc > 0) bucket |= 1 << i
      i += 1
    }
    bucket
  }

  // ---- UTF8String adapters (called from generated code) ----
  def stableHash64U(s: UTF8String): Long = stableHash64(s.getBytes)
  def minGramHashU(s: UTF8String): Long = minGramHash(s.toString)
  def minRollingHashU(s: UTF8String): Long = minRollingHash(s.toString)
  def slugifyU(s: UTF8String): UTF8String =
    UTF8String.fromString(slugify(s.toString))
  def extractIsoDateU(s: UTF8String): UTF8String =
    UTF8String.fromString(extractIsoDate(s.toString))
  def fmtMonthAbbrevU(s: UTF8String): UTF8String =
    UTF8String.fromString(fmtMonthAbbrev(s.toString))
  def htmlEscapeU(s: UTF8String): UTF8String =
    UTF8String.fromString(htmlEscape(s.toString))
  def cleanU(s: UTF8String): UTF8String =
    UTF8String.fromString(clean(s.toString))
  def endsWithSourceU(snippet: UTF8String, url: UTF8String, name: UTF8String): Boolean =
    endsWithSource(snippet.toString, url.toString, name.toString)
}
