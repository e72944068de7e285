package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hot-path array kernels as static JVM methods called from whole-stage
  * codegen via StaticInvoke.
  *
  * Spark's higher-order functions (transform/aggregate/zip_with) interpret
  * their lambda per element — fine for cold paths, but pairwise operators
  * (cosine joins, Jaccard verification, minhash signatures) execute them
  * millions of times. These kernels keep the whole inner loop in one JITed
  * static method: same math as the [[VectorFns]]/[[TextFns]] formulations
  * (and therefore the same DuckDB oracles), 10-50x faster. All methods are
  * stateless — safe on any executor, no broadcast.
  */
object Kernels {

  // --------------------------------------------------------- vector math

  /** Fixed-point quantization: floor(x*1e6 + 0.5) per element (exactly
    * [[VectorFns.quantize]]). Input may be float or double array. */
  def quantizeDouble(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = math.floor(arr.getDouble(i) * 1e6 + 0.5).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  def quantizeFloat(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = math.floor(arr.getFloat(i).toDouble * 1e6 + 0.5).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Covariance moment terms of a quantized (long) vector, row-locally:
    * one (i, j, x_i·x_j) struct per dimension pair i ≤ j (second moment)
    * plus one (i, -1, x_i) sentinel per dimension (first moment). One
    * aggregation over the (i, j) key domain — d(d+1)/2 + d rows of
    * METADATA — then replaces the old formulation's THREE corpus
    * evaluations (per-dim sum + both legs of an id-keyed self-join) and
    * its corpus-sized id shuffle. The downstream Σ over rows is an
    * order-free integer sum, so every aggregate is bit-identical to the
    * join formulation. d=64 → 2,144 structs per row, one JITed pass. */
  def covMomentTerms(q: ArrayData): ArrayData = {
    val d = q.numElements()
    val out = new Array[Any](d * (d + 1) / 2 + d)
    var i = 0
    var k = 0
    while (i < d) {
      val xi = q.getLong(i)
      out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](i.toLong, -1L, xi))
      k += 1
      var j = i
      while (j < d) {
        // multiplyExact: the SQL sum(x*y) this kernel replaced raised
        // loudly under ANSI on overflow — raw `*` would wrap silently,
        // breaking the repo's fail-loud overflow contract (r17 ADVICE)
        out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i.toLong, j.toLong, Math.multiplyExact(xi, q.getLong(j))))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Exact integer dot product of two quantized (long) vectors. */
  def dotLong(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  def norm2Long(a: ArrayData): Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val v = a.getLong(i)
      acc += v * v
      i += 1
    }
    acc
  }

  // ----------------------------------------------------------- text hash

  private val digestTL = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def md5Bytes(s: String, salt: Int): Array[Byte] = {
    val md = digestTL.get()
    md.reset()
    md.update((salt.toString + ":").getBytes("UTF-8"))
    md.update(s.getBytes("UTF-8"))
    md.digest()
  }

  /** Hex chars 1..15 of the digest as a non-negative long (= bits 0..59
    * big-endian): equals `('0x'||substr(md5(x),1,15))::BIGINT`. */
  @inline private def loBits60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** Hex chars 16..30 of the digest as a non-negative long: equals
    * `('0x'||substr(md5(x),16,15))::BIGINT`. */
  @inline private def hiBits60(d: Array[Byte]): Long = {
    var v = d(7) & 0x0fL
    var i = 8
    while (i < 15) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v
  }

  /** Hash family j of string s: families come in pairs sharing one digest —
    * family 2p uses hex chars 1..15 of md5(p + ":" + s), family 2p+1 uses hex
    * chars 16..30. Halves digest work; trivially expressed in the oracle as
    * substr(md5(...), 1|16, 15). */
  def md5Long15(s: String, family: Int): Long = {
    val d = md5Bytes(s, family / 2)
    if ((family & 1) == 0) loBits60(d) else hiBits60(d)
  }

  /** MinHash signature: for each hash family j in [0, numHashes), the min of
    * md5Long15(gram, j) over all grams. One digest per (gram, family-pair). */
  def minhashSig(grams: ArrayData, numHashes: Int): ArrayData = {
    val n = grams.numElements()
    val out = Array.fill(numHashes)(Long.MaxValue)
    val pairs = (numHashes + 1) / 2
    var i = 0
    while (i < n) {
      val g = grams.getUTF8String(i).toString
      var p = 0
      while (p < pairs) {
        val d = md5Bytes(g, p)
        val lo = loBits60(d)
        if (lo < out(2 * p)) out(2 * p) = lo
        if (2 * p + 1 < numHashes) {
          val hi = hiBits60(d)
          if (hi < out(2 * p + 1)) out(2 * p + 1) = hi
        }
        p += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** SimHash over tokens, `bits` wide — same bit rule as [[TextFns.simhash]]
    * (token hash = hex chars 1..15 of md5("7919:" + tok); +1/-1 by hash bit,
    * strictly-positive sum sets the bit). */
  def simhashTokens(toks: ArrayData, bits: Int): Long = {
    val counts = new Array[Int](bits)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val h = loBits60(md5Bytes(toks.getUTF8String(i).toString, 7919))
      var k = 0
      while (k < bits) {
        if (((h >>> k) & 1L) == 1L) counts(k) += 1 else counts(k) -= 1
        k += 1
      }
      i += 1
    }
    var out = 0L
    var k = 0
    while (k < bits) {
      if (counts(k) > 0) out |= (1L << k)
      k += 1
    }
    out
  }

  /** Intersection size of two SORTED string arrays (linear merge; arrays are
    * pre-sorted with sort_array, which uses the same binary ordering as
    * UTF8String.compareTo). */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    var i = 0
    var j = 0
    var c = 0
    val na = a.numElements()
    val nb = b.numElements()
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  /** Java-regex \s equivalence for the tokenizers: space, \t, \n, \x0B (VT),
    * \f, \r — matching both Spark's `split(_, "\\s+")` and DuckDB/RE2 `\s`. */
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Sorted distinct word n-grams of a text in ONE pass.
    *
    * Semantics identical to `sort_array(array_distinct(transform(split(
    * trim(text), "\\s+"), ...)))` — but that HOF formulation re-evaluates the
    * `split` expression per element (the lambda body references the outer
    * expression), making it O(tokens^2) per document. This kernel tokenizes
    * once. Sort order = UTF8String binary order (same as sort_array). */
  def wordNgramsSorted(text: UTF8String, n: Int): ArrayData = {
    val s = text.toString.trim
    // tokenize (Java \s+ split of trimmed text; empty text -> one empty token,
    // which yields no n-grams for n > 1, matching the HOF/SQL behavior)
    val toks = new java.util.ArrayList[String]()
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !isWs(s.charAt(i))) i += 1
        toks.add(s.substring(start, i))
      }
    }
    val m = toks.size()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val set = new java.util.TreeSet[UTF8String]()
    val sb = new java.lang.StringBuilder(64)
    var t = 0
    while (t <= m - n) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks.get(t + k))
        k += 1
      }
      set.add(UTF8String.fromString(sb.toString))
      t += 1
    }
    new GenericArrayData(set.toArray())
  }

  /** Highest multiplicity of any word n-gram of the text (0 when the text
    * has fewer than n tokens) — the integer core of the Gopher-style
    * "fraction of tokens inside the most common n-gram" repetition signals.
    * One tokenize pass + one hash map, row-local: the signal needs NO
    * corpus shuffle, unlike the explode+groupBy formulation. */
  def maxNgramMultiplicity(text: UTF8String, n: Int): Long = {
    val s = text.toString.trim
    val toks = new java.util.ArrayList[String]()
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !isWs(s.charAt(i))) i += 1
        toks.add(s.substring(start, i))
      }
    }
    val m = toks.size()
    if (m < n) return 0L
    val counts = new java.util.HashMap[String, Int]()
    val sb = new java.lang.StringBuilder(64)
    var best = 0
    var t = 0
    while (t <= m - n) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks.get(t + k))
        k += 1
      }
      val c = counts.merge(sb.toString, 1, (a, b) => a + b)
      if (c > best) best = c
      t += 1
    }
    best.toLong
  }

  /** The duplicate-bigram gate's two counts from one scan of the UTF-8
    * bytes, packed as `n_bigrams << 32 | n_distinct_bigrams`:
    *  - `n_bigrams` = `greatest(size(split(trim(t), "\\s+")) - 1, 0)`: the
    *    maximal `\s` runs left once Spark's `trim` (spaces only) ran;
    *  - `n_distinct_bigrams` = `size(wordNgramsSorted(t, 2))`: distinct
    *    adjacent token pairs of the Java-`trim`med text (which strips every
    *    char <= ' '), tokens split on `\s` runs as [[wordNgramsSorted]] does.
    * Every byte the two trims or the tokenizer look at is ASCII, and valid
    * UTF-8 decodes one-to-one, so tokens compare as byte ranges (hash, then
    * bytes) with no `String` per bigram. Invalid UTF-8, which `toString`
    * maps many-to-one onto U+FFFD, takes its distinct count from
    * [[wordNgramsSorted]] itself; its `\s` runs are unchanged by decoding. */
  private def bigramCounts(text: UTF8String): Long = {
    @inline def at(i: Int): Int = text.getByte(i) & 0xff
    var a = 0
    var b = text.numBytes
    while (a < b && at(a) == ' ') a += 1
    while (b > a && at(b - 1) == ' ') b -= 1
    var c = a
    var d = b
    while (c < d && at(c) <= ' ') c += 1
    while (d > c && at(d - 1) <= ' ') d -= 1
    // tokens of [c, d): start, end and a polynomial hash of their bytes;
    // tokens and the runs between them take a byte each at least
    val cap = (d - c + 1) / 2
    val starts = new Array[Int](cap)
    val ends = new Array[Int](cap)
    val hashes = new Array[Int](cap)
    var m = 0
    var runs = 0
    var inWs = false
    var valid = true
    var cont = 0
    var start = c
    var h = 0
    var i = a
    while (i < b) {
      val x = at(i)
      if (x == ' ' || (x >= '\t' && x <= '\r')) {
        if (!inWs) {
          runs += 1
          if (i > c && i < d) { starts(m) = start; ends(m) = i; hashes(m) = h; m += 1 }
        }
        inWs = true
      } else if (i >= c && i < d) {
        if (inWs || i == c) { start = i; h = 0 }
        inWs = false
        h = 31 * h + x
        if (x >= 0x80 && valid) {
          if (cont > 0) cont -= 1
          else {
            val k = utf8SeqLen(text, i, d)
            if (k == 0) valid = false else cont = k - 1
          }
        }
      } else inWs = false
      i += 1
    }
    if (d > c) { starts(m) = start; ends(m) = d; hashes(m) = h; m += 1 }
    val distinct =
      if (!valid) wordNgramsSorted(text, 2).numElements()
      else if (m < 2) 0
      else {
        // open addressing over pair indexes p (tokens p, p + 1), stored as p + 1
        val mask = (Integer.highestOneBit(m - 1) << 2) - 1
        val slots = new Array[Int](mask + 1)
        def sameTok(p: Int, q: Int): Boolean = {
          val n = ends(p) - starts(p)
          n == ends(q) - starts(q) && hashes(p) == hashes(q) && {
            var j = 0
            while (j < n && text.getByte(starts(p) + j) == text.getByte(starts(q) + j)) j += 1
            j == n
          }
        }
        var n = 0
        var p = 0
        while (p < m - 1) {
          var s = (hashes(p) * 0x9E3779B9 + hashes(p + 1)) * 0x85EBCA6B
          s = (s ^ (s >>> 15)) & mask
          while (slots(s) != 0 && !(sameTok(slots(s) - 1, p) && sameTok(slots(s), p + 1)))
            s = (s + 1) & mask
          if (slots(s) == 0) { slots(s) = p + 1; n += 1 }
          p += 1
        }
        n
      }
    (runs.toLong << 32) | distinct
  }

  /** Length of the well-formed UTF-8 sequence that starts at byte `i` (lead
    * byte >= 0x80) and ends before `end`, or 0 when it is malformed: the
    * byte ranges of Unicode table 3-7, which are what Java's decoder
    * accepts. */
  private def utf8SeqLen(text: UTF8String, i: Int, end: Int): Int = {
    @inline def at(j: Int): Int = if (j < end) text.getByte(j) & 0xff else -1
    @inline def cont(j: Int): Boolean = (at(j) & 0xc0) == 0x80
    val x = at(i)
    val y = at(i + 1)
    if (x < 0xc2 || x > 0xf4) 0
    else if (x < 0xe0) if (cont(i + 1)) 2 else 0
    else if (x < 0xf0) {
      val lo = if (x == 0xe0) 0xa0 else 0x80
      val hi = if (x == 0xed) 0x9f else 0xbf
      if (y >= lo && y <= hi && cont(i + 2)) 3 else 0
    } else {
      val lo = if (x == 0xf0) 0x90 else 0x80
      val hi = if (x == 0xf4) 0x8f else 0xbf
      if (y >= lo && y <= hi && cont(i + 2) && cont(i + 3)) 4 else 0
    }
  }

  /** `[n_bigrams, n_distinct_bigrams]` of a text (see [[bigramCounts]]):
    * the integer core of `TextAnalysis.withRepetition` and `curationKeep`. */
  def repetitionCounts(text: UTF8String): ArrayData = {
    val p = bigramCounts(text)
    new GenericArrayData(Array[Long](p >>> 32, p & 0xffffffffL))
  }

  /** The `filter_repetition` gate: keep a text whose duplicate-bigram share
    * is at most `maxDupPermille`, as the integer test
    * `(n − d)·1000 <= maxDupPermille·n` over [[bigramCounts]]. */
  def repetitionKeep(text: UTF8String, maxDupPermille: Long): Boolean = {
    val p = bigramCounts(text)
    val n = p >>> 32
    (n - (p & 0xffffffffL)) * 1000 <= maxDupPermille * n
  }

  /** Content-defined chunking (the rsync/LBFS/FastCDC boundary rule): a cut
    * falls after every position whose trailing `w`-char window hashes to
    * 0 mod `div` under a polynomial hash mod 1e9+7. Boundaries depend only
    * on LOCAL content — inserting a prefix shifts every fixed-size chunk
    * but leaves most CDC chunks identical, which is what makes chunk-level
    * dedup robust to edits. Returns the non-empty chunk substrings.
    * Windows deliberately DO look across previous cuts (the classic
    * no-reset Rabin rule — resetting would couple a boundary to its
    * predecessor and break shift resistance). */
  def cdcChunks(text: UTF8String, w: Int, div: Int): ArrayData = {
    val s = text.toString
    val n = s.length
    val M = 1000000007L
    val pw = new Array[Long](w + 1) // pw(k) = 31^(w-k) mod M, k = 1..w
    pw(w) = 1L
    var k = w - 1
    while (k >= 1) { pw(k) = pw(k + 1) * 31L % M; k -= 1 }
    val out = new java.util.ArrayList[UTF8String]()
    var prev = 0
    if (n >= w) {
      var p = w
      while (p <= n) {
        var h = 0L
        var j = 1
        while (j <= w) { h = (h + s.charAt(p - w + j - 1).toLong * pw(j)) % M; j += 1 }
        if (h % div == 0) {
          if (p > prev) out.add(UTF8String.fromString(s.substring(prev, p)))
          prev = p
        }
        p += 1
      }
    }
    if (n > prev) out.add(UTF8String.fromString(s.substring(prev, n)))
    new GenericArrayData(out.toArray)
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS local document fingerprinting scheme): hash every `k`-char gram
    * (md5 family 0, the repo's 60-bit scheme), slide a `w`-wide window over
    * the hash sequence and keep each window's MINIMUM; return the DISTINCT
    * selected hashes sorted ascending. Guarantee: two texts sharing any
    * substring of length >= k + w - 1 share at least one fingerprint, and
    * no fingerprint density drops below 1 per w grams — the property that
    * makes fingerprint-overlap dedup robust to local edits where fixed-
    * stride shingles are not. Texts shorter than k return no fingerprints;
    * shorter than k+w-1 use one window over all grams. O(n·w) with w small
    * (a monotonic deque is O(n) but w<=8 here makes it slower in practice).
    * Row-local — the operator built on this needs NO shuffle to fingerprint
    * a corpus, only for the postings join. */
  def winnowFingerprints(text: UTF8String, k: Int, w: Int): ArrayData = {
    val s = text.toString
    val n = s.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = md5Long15(s.substring(i, i + k), 0); i += 1 }
    val sel = new java.util.TreeSet[java.lang.Long]()
    val windows = math.max(1, n - w + 1)
    var st = 0
    while (st < windows) {
      var mn = hs(st)
      var j = st + 1
      val end = math.min(st + w, n)
      while (j < end) { if (hs(j) < mn) mn = hs(j); j += 1 }
      sel.add(mn)
      st += 1
    }
    val out = new Array[Any](sel.size)
    val it = sel.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next().longValue(); o += 1 }
    new GenericArrayData(out)
  }

  /** Card-number PII detection parts: `[n_card_like, n_luhn_valid]` — the
    * count of maximal digit runs of plausible card length (13–19) and how
    * many of them pass the Luhn checksum (pure integer mod-10 arithmetic,
    * so the classification is bit-identical in any engine). One scan per
    * row, no allocation beyond the run buffer. */
  def luhnCounts(text: UTF8String): ArrayData = {
    val s = text.toString
    var nCard = 0L
    var nValid = 0L
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && !Character.isDigit(s.charAt(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && Character.isDigit(s.charAt(i))) i += 1
        val runLen = i - start
        if (runLen >= 13 && runLen <= 19) {
          nCard += 1
          // Luhn: from the RIGHT, double every second digit, fold > 9
          var sum = 0
          var j = 0
          while (j < runLen) {
            val d = s.charAt(i - 1 - j) - '0'
            sum += (if (j % 2 == 1) { val t = 2 * d; if (t > 9) t - 9 else t } else d)
            j += 1
          }
          if (sum % 10 == 0) nValid += 1
        }
      }
    }
    new GenericArrayData(Array[Any](nCard, nValid))
  }

  /** PQ code assignment in ONE kernel call: for each of `mSub` subspaces,
    * the argmin codeword by integer L2 (ties to the smallest code id)
    * against a FLATTENED `[m][c][d]` codebook literal. One call per row —
    * the Column-tree formulation (1024 element_at terms at the defaults)
    * re-evaluates the upstream quantize kernel once per term after
    * Catalyst's projection collapse, turning a scan into O(dims·ksub)
    * quantize calls per row (measured 8 s on 5 000 vectors). */
  def pqAssign(qv: ArrayData, books: ArrayData, mSub: Int, ksub: Int): ArrayData = {
    val dims = qv.numElements()
    val sub = dims / mSub
    val out = new Array[Any](mSub)
    var m = 0
    while (m < mSub) {
      var bestC = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < ksub) {
        val base = (m * ksub + c) * sub
        var dist = 0L
        var d = 0
        while (d < sub) {
          val diff = qv.getLong(m * sub + d) - books.getLong(base + d)
          dist += diff * diff
          d += 1
        }
        if (dist < bestD) { bestD = dist; bestC = c }
        c += 1
      }
      out(m) = bestC.toLong
      m += 1
    }
    new GenericArrayData(out)
  }

  /** Full `mSub·ksub` ADC distance table of a query vector against a
    * flattened codebook — one kernel call per query row. */
  def pqDistTable(qv: ArrayData, books: ArrayData, mSub: Int, ksub: Int): ArrayData = {
    val dims = qv.numElements()
    val sub = dims / mSub
    val out = new Array[Any](mSub * ksub)
    var m = 0
    while (m < mSub) {
      var c = 0
      while (c < ksub) {
        val base = (m * ksub + c) * sub
        var dist = 0L
        var d = 0
        while (d < sub) {
          val diff = qv.getLong(m * sub + d) - books.getLong(base + d)
          dist += diff * diff
          d += 1
        }
        out(m * ksub + c) = dist
        c += 1
      }
      m += 1
    }
    new GenericArrayData(out)
  }

  /** ADC lookup sum: Σ_m table[m·ksub + codes[m]] — one call per
    * (query, candidate) pair instead of mSub re-evaluations of the table
    * column. */
  def pqAdc(tab: ArrayData, codes: ArrayData, ksub: Int): Long = {
    var s = 0L
    var m = 0
    val n = codes.numElements()
    while (m < n) {
      s += tab.getLong(m * ksub + codes.getLong(m).toInt)
      m += 1
    }
    s
  }

  /** Character-entropy integer parts of a text: `[n_chars, Σ n_c·qln(n_c)]`
    * where `qln(x) = floor(ln(x)·1e6 + 0.5)` — the per-term quantization of
    * the transcendental BEFORE the order-free integer sum (the BM25/LM-fit
    * pattern), so Shannon entropy in nats reduces to
    * `(qln(N)·N − Σ n_c·qln(n_c)) / (N·1e6)`: exact integers up to one
    * final IEEE division, bit-reproducible across engines. One pass, one
    * small hash map per row. Counts are UTF-16 code units (the corpus is
    * ASCII; callers on astral text should normalize first). */
  def charEntropyParts(text: UTF8String): ArrayData = {
    val s = text.toString
    val counts = new java.util.HashMap[Character, Int]()
    var i = 0
    while (i < s.length) {
      counts.merge(s.charAt(i), 1, (a, b) => a + b)
      i += 1
    }
    var sum = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val n = it.next().toLong
      sum += n * math.floor(math.log(n.toDouble) * 1e6 + 0.5).toLong
    }
    new GenericArrayData(Array[Any](s.length.toLong, sum))
  }

  /** Number of BPE segments a word tokenizes into under an ordered merge
    * list (each entry "a b", symbols never contain spaces): the word is
    * split into characters and every merge is applied as one left-to-right
    * non-overlapping adjacent-pair pass — the exact apply-side semantics of
    * the trained [[graft.operators.TextAnalysis.bpeMerges]] vocabulary.
    * Row-local; callers dedupe words first so the cost is vocabulary-, not
    * corpus-, sized. */
  def bpeSegmentCount(word: UTF8String, merges: ArrayData): Long = {
    val s = word.toString
    if (s.isEmpty) return 0L
    var syms = new Array[String](s.length)
    var i = 0
    while (i < s.length) { syms(i) = String.valueOf(s.charAt(i)); i += 1 }
    var n = syms.length
    val m = merges.numElements()
    var mi = 0
    while (mi < m && n > 1) {
      val pair = merges.getUTF8String(mi).toString
      val sp = pair.indexOf(' ')
      val a = pair.substring(0, sp)
      val b = pair.substring(sp + 1)
      val out = new Array[String](n)
      var w = 0
      var r = 0
      while (r < n) {
        if (r + 1 < n && syms(r) == a && syms(r + 1) == b) {
          out(w) = a + b; w += 1; r += 2
        } else {
          out(w) = syms(r); w += 1; r += 1
        }
      }
      syms = out
      n = w
      mi += 1
    }
    n.toLong
  }

  /** Prefix-filter prefix of a SORTED DISTINCT gram array for a Jaccard
    * threshold `t`: the `|G| - ceil(t*|G|) + 1` grams that come first in the
    * GLOBAL total order (md5-hash of the gram, ties by the gram itself).
    *
    * Losslessness (Chaudhuri et al. SSJoin / Bayardo et al. all-pairs): if
    * Jaccard(A,B) >= t then |A∩B| >= ceil(t*max(|A|,|B|)), and two sets whose
    * prefixes (under one global order) are disjoint can intersect in at most
    * min(ceil(t|A|), ceil(t|B|)) - 1 elements — contradiction. So every
    * qualifying pair shares at least one prefix gram, and an equi-join on
    * prefix grams generates a candidate superset. The hash order is a
    * data-independent stand-in for the classic rarest-first frequency order:
    * no corpus-statistics pass, still deterministic and oracle-expressible. */
  def jaccardPrefix(grams: ArrayData, threshold: Double): ArrayData = {
    val n = grams.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val k = math.min(n - math.ceil(threshold * n).toInt + 1, n)
    val hashes = new Array[Long](n)
    val strs = new Array[UTF8String](n)
    val idx = new Array[Integer](n)
    var i = 0
    while (i < n) {
      strs(i) = grams.getUTF8String(i)
      hashes(i) = loBits60(md5Bytes(strs(i).toString, -1))
      idx(i) = i
      i += 1
    }
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      def compare(a: Integer, b: Integer): Int = {
        val c = java.lang.Long.compare(hashes(a), hashes(b))
        if (c != 0) c else strs(a).compareTo(strs(b))
      }
    })
    val out = new Array[Any](k)
    i = 0
    while (i < k) { out(i) = strs(idx(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** Fused Jaccard over two SORTED DISTINCT string arrays:
    * |A∩B| / (|A| + |B| - |A∩B|), all in one pass. One kernel call per pair —
    * Catalyst pushes pair filters into join conditions and would otherwise
    * re-evaluate a composite expression several times. */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val inter = sortedIntersectCount(a, b).toDouble
    val union = a.numElements().toDouble + b.numElements().toDouble - inter
    if (union == 0.0) 0.0 else inter / union
  }

  /** Fused cosine from pre-quantized vectors + pre-computed squared norms. */
  def cosineQ(a: ArrayData, na: Long, b: ArrayData, nb: Long): Double =
    dotLong(a, b).toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))

  /** Token-level longest-common-subsequence LENGTH — the ROUGE-L core.
    * Classic O(|a|·|b|) rolling-row DP; the whole grid stays in one JITed
    * call (a per-cell SQL formulation would be a quadratic lambda storm).
    * Oracle twin: the running-max row recurrence unrolled as a recursive
    * CTE (dp_i = prefix-max of max(dp_{i-1}[j], dp_{i-1}[j-1] + eq)). */
  def lcsTokens(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    if (n == 0 || m == 0) return 0L
    val bs = new Array[UTF8String](m)
    var j = 0
    while (j < m) { bs(j) = b.getUTF8String(j); j += 1 }
    var prev = new Array[Long](m + 1)
    var cur = new Array[Long](m + 1)
    var i = 0
    while (i < n) {
      val ai = a.getUTF8String(i)
      j = 1
      while (j <= m) {
        var best = prev(j - 1) + (if (ai.equals(bs(j - 1))) 1L else 0L)
        if (prev(j) > best) best = prev(j)
        if (cur(j - 1) > best) best = cur(j - 1)
        cur(j) = best
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }

  /** Word-level Levenshtein distance between two token arrays — the WER
    * numerator (insert/delete/substitute at TOKEN granularity, unit costs;
    * [[lcsTokens]] is the no-substitution sibling). Two-row DP, O(n·m) per
    * pair inside one JITed call — same row-local shape as the BLEU/chrF
    * kernels, so the plan stays one scan + projections with no join. The
    * DuckDB oracle re-derives it through the built-in char `levenshtein`
    * after an injective token→codepoint encoding (global vocab ranks,
    * surrogate-free offset), which is equal by construction. */
  def editDistTokens(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    if (n == 0) return m.toLong
    if (m == 0) return n.toLong
    val bs = new Array[UTF8String](m)
    var j = 0
    while (j < m) { bs(j) = b.getUTF8String(j); j += 1 }
    var prev = new Array[Long](m + 1)
    var cur = new Array[Long](m + 1)
    j = 0
    while (j <= m) { prev(j) = j.toLong; j += 1 }
    var i = 1
    while (i <= n) {
      val ai = a.getUTF8String(i - 1)
      cur(0) = i.toLong
      j = 1
      while (j <= m) {
        val sub = prev(j - 1) + (if (ai.equals(bs(j - 1))) 0L else 1L)
        var best = sub
        if (prev(j) + 1L < best) best = prev(j) + 1L
        if (cur(j - 1) + 1L < best) best = cur(j - 1) + 1L
        cur(j) = best
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }

  /** Clipped word n-gram matches Σ_g min(count_cand(g), count_ref(g)) for
    * EVERY n in 1..maxN, one row-local pass — the BLEU numerator. The
    * candidate and reference live in the same row, so the per-pair clipped
    * multiset intersection never needs the corpus-wide (id, gram)
    * explode+groupBy+join it replaced (r14 verdict #1): per n, a hash map
    * of reference gram counts, then one candidate sweep decrementing.
    * Grams are the space-joined token windows of [[TextFns.wordNgrams]]'s
    * multiset variant — identical strings, identical counts, so the DuckDB
    * oracle is unchanged. O(maxN² · tokens) per row, all in one JITed call. */
  def clippedNgramMatchesAll(ct: ArrayData, rt: ArrayData, maxN: Int): ArrayData = {
    val nc = ct.numElements()
    val nr = rt.numElements()
    val cw = new Array[String](nc)
    val rw = new Array[String](nr)
    var i = 0
    while (i < nc) { cw(i) = ct.getUTF8String(i).toString; i += 1 }
    i = 0
    while (i < nr) { rw(i) = rt.getUTF8String(i).toString; i += 1 }
    val out = new Array[Long](maxN)
    var n = 1
    while (n <= maxN) {
      if (nc >= n && nr >= n) {
        val refCounts = new java.util.HashMap[String, Array[Long]]()
        var j = 0
        while (j <= nr - n) {
          val sb = new java.lang.StringBuilder(rw(j))
          var k = 1
          while (k < n) { sb.append(' ').append(rw(j + k)); k += 1 }
          val cnt = refCounts.computeIfAbsent(sb.toString, _ => new Array[Long](1))
          cnt(0) += 1L
          j += 1
        }
        var m = 0L
        j = 0
        while (j <= nc - n) {
          val sb = new java.lang.StringBuilder(cw(j))
          var k = 1
          while (k < n) { sb.append(' ').append(cw(j + k)); k += 1 }
          val cnt = refCounts.get(sb.toString)
          if (cnt != null && cnt(0) > 0L) { cnt(0) -= 1L; m += 1L }
          j += 1
        }
        out(n - 1) = m
      }
      n += 1
    }
    new GenericArrayData(out)
  }

  /** Character n-gram twin of [[clippedNgramMatchesAll]] — the chrF
    * numerator. Grams are CODE-POINT windows (Spark `substr`/`length` and
    * DuckDB string ops both count code points, not UTF-16 units), so the
    * boundary table is built per code point before slicing. */
  def clippedCharNgramMatchesAll(cs: UTF8String, rs: UTF8String, maxN: Int): ArrayData = {
    val c = cs.toString
    val r = rs.toString
    def bounds(s: String): Array[Int] = {
      val b = new Array[Int](s.codePointCount(0, s.length) + 1)
      var off = 0
      var i = 0
      while (off < s.length) {
        b(i) = off
        off += Character.charCount(s.codePointAt(off))
        i += 1
      }
      b(i) = s.length
      b
    }
    val cb = bounds(c)
    val rb = bounds(r)
    val nc = cb.length - 1
    val nr = rb.length - 1
    val out = new Array[Long](maxN)
    var n = 1
    while (n <= maxN) {
      if (nc >= n && nr >= n) {
        val refCounts = new java.util.HashMap[String, Array[Long]]()
        var j = 0
        while (j <= nr - n) {
          val cnt = refCounts.computeIfAbsent(
            r.substring(rb(j), rb(j + n)), _ => new Array[Long](1))
          cnt(0) += 1L
          j += 1
        }
        var m = 0L
        j = 0
        while (j <= nc - n) {
          val cnt = refCounts.get(c.substring(cb(j), cb(j + n)))
          if (cnt != null && cnt(0) > 0L) { cnt(0) -= 1L; m += 1L }
          j += 1
        }
        out(n - 1) = m
      }
      n += 1
    }
    new GenericArrayData(out)
  }

  // ------------------------------------------------------- bit interleave

  /** Morton interleave: bit k of dimension j lands at position k*d + j of the
    * result (d = number of dimensions, lowest dims in lowest bits). Inputs
    * must already be bucket ranks in [0, 2^bits); `bits*d` must fit in 63.
    * Oracle-expressible: sum over (j,k) of ((v_j >> k) & 1) << (k*d + j). */
  def interleaveBits(dims: ArrayData, bits: Int): Long = {
    val d = dims.numElements()
    var out = 0L
    var j = 0
    while (j < d) {
      val v = dims.getLong(j)
      var k = 0
      while (k < bits) {
        out |= ((v >>> k) & 1L) << (k * d + j)
        k += 1
      }
      j += 1
    }
    out
  }

  /** Hilbert-curve index of a 2-D point (x, y) in a 2^bits × 2^bits grid —
    * the locality-preserving alternative to the Morton interleave: every
    * consecutive pair of indices is GRID-ADJACENT (unit Manhattan step, the
    * property the spec enumerates exhaustively), where the Z-curve jumps
    * across the plane at every power-of-two boundary. Standard
    * quadrant-rotation walk (Hamilton's iterative form); the per-step
    * reflect/swap arithmetic is plain integer CASE logic, so the whole
    * 8-step walk is oracle-expressible as unrolled SQL stages. */
  def hilbertD(x0: Long, y0: Long, bits: Int): Long = {
    var x = x0
    var y = y0
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  // ------------------------------------------------------- normalization

  /** Corpus text normalization, the canonical pre-tokenization pass:
    * Unicode NFC -> lowercase (root locale) -> strip non-whitespace C0/DEL
    * controls -> collapse `[ \t\n\v\f\r]+` runs to one space -> trim. The
    * char classes are spelled out (not `\s` / `isWhitespace`) so the
    * semantics are identical in Java and RE2 — the DuckDB oracle applies the
    * same five steps with `nfc_normalize`/`lower`/`regexp_replace`. Single
    * fused pass after NFC; scan speed inside codegen. */
  def normalizeText(s: UTF8String): UTF8String = {
    val nfc = java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC)
    val lower = nfc.toLowerCase(java.util.Locale.ROOT)
    val len = lower.length
    val sb = new java.lang.StringBuilder(len)
    var pendingSpace = false
    var i = 0
    while (i < len) {
      val c = lower.charAt(i)
      val isWs = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
      val isCtl = c < '\t' || (c >= '\u000E' && c < ' ') || c == '\u007F'
      if (isWs) { if (sb.length() > 0) pendingSpace = true }
      else if (!isCtl) {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** URL canonicalization — the C4/CCNet web-corpus dedup key: lowercase
    * scheme + host, strip the default port (http:80 / https:443, others
    * kept), drop the fragment, drop tracking params (`utm_*`, `fbclid`,
    * `gclid` — case-insensitive names; `ref` is KEPT, it is frequently
    * load-bearing) and empty params, SORT the
    * surviving query params (byte order of the full `k=v` token — ASCII
    * URLs order identically in Java UTF-16 and DuckDB UTF-8 compare), and
    * strip a trailing path slash (never the root's; empty path becomes
    * `/`). Anything without `://` returns unchanged — canonicalization
    * must never lose rows. Single pass, codegen-resident. */
  def canonicalUrl(u: UTF8String): UTF8String = {
    val s = u.toString
    val si = s.indexOf("://")
    if (si < 0) return u
    val scheme = s.substring(0, si).toLowerCase(java.util.Locale.ROOT)
    var rest = s.substring(si + 3)
    val hi = rest.indexOf('#')
    if (hi >= 0) rest = rest.substring(0, hi)
    val qi = rest.indexOf('?')
    val query = if (qi >= 0) rest.substring(qi + 1) else ""
    val hostPath = if (qi >= 0) rest.substring(0, qi) else rest
    val pi = hostPath.indexOf('/')
    var hostPort = (if (pi >= 0) hostPath.substring(0, pi) else hostPath)
      .toLowerCase(java.util.Locale.ROOT)
    var path = if (pi >= 0) hostPath.substring(pi) else ""
    if ((scheme == "http" && hostPort.endsWith(":80")) ||
        (scheme == "https" && hostPort.endsWith(":443")))
      hostPort = hostPort.substring(0, hostPort.lastIndexOf(':'))
    if (path.length > 1 && path.endsWith("/")) path = path.substring(0, path.length - 1)
    if (path.isEmpty) path = "/"
    val keep = query.split("&", -1).filter { p =>
      val e = p.indexOf('=')
      val n = (if (e >= 0) p.substring(0, e) else p).toLowerCase(java.util.Locale.ROOT)
      // NOT `ref`: unlike utm_*/fbclid/gclid it is frequently load-bearing
      // (github ?ref=branch et al.) — conflating it would dedup away
      // genuinely distinct documents
      p.nonEmpty && !n.startsWith("utm_") && n != "fbclid" && n != "gclid"
    }.sorted
    val q = if (keep.isEmpty) "" else "?" + keep.mkString("&")
    UTF8String.fromString(scheme + "://" + hostPort + path + q)
  }

  // ------------------------------------------------------ Column wrappers

  private val cls = Kernels.getClass

  private def call(dt: DataType, fn: String, args: Column*): Column =
    Bridge.column(invokeExpr(dt, fn, args.map(Bridge.expression)))

  /** Raw StaticInvoke builder over these kernels — the hook
    * [[graft.plans.GraftExtensions]] uses to register them as SQL functions
    * (FunctionRegistry builders receive Expressions, not Columns). */
  private[graft] def invokeExpr(
      dt: DataType, fn: String,
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.expressions.Expression =
    StaticInvoke(
      cls, dt, fn, args,
      inputTypes = Nil, propagateNull = true, returnNullable = false, isDeterministic = true)

  def quantize(v: Column, elementType: String): Column = {
    val fn = if (elementType == "float") "quantizeFloat" else "quantizeDouble"
    call(ArrayType(LongType, containsNull = false), fn, v)
  }

  def dotQ(a: Column, b: Column): Column = call(LongType, "dotLong", a, b)
  def norm2Q(a: Column): Column = call(LongType, "norm2Long", a)

  def minhashSigCol(grams: Column, numHashes: Int): Column =
    call(ArrayType(LongType, containsNull = false), "minhashSig", grams, lit(numHashes))

  def simhashCol(toks: Column): Column = call(LongType, "simhashTokens", toks, lit(32))

  def canonicalUrlCol(u: Column): Column = call(StringType, "canonicalUrl", u)

  def sortedIntersect(a: Column, b: Column): Column =
    call(IntegerType, "sortedIntersectCount", a, b)

  def jaccardSortedCol(a: Column, b: Column): Column =
    call(DoubleType, "jaccardSorted", a, b)

  def jaccardPrefixCol(grams: Column, threshold: Double): Column =
    call(ArrayType(StringType, containsNull = false), "jaccardPrefix", grams, lit(threshold))

  def wordNgramsSortedCol(text: Column, n: Int): Column =
    call(ArrayType(StringType, containsNull = false), "wordNgramsSorted", text, lit(n))

  def maxNgramMultiplicityCol(text: Column, n: Int): Column =
    call(LongType, "maxNgramMultiplicity", text, lit(n))

  def repetitionCountsCol(text: Column): Column =
    call(ArrayType(LongType, containsNull = false), "repetitionCounts", text)

  def repetitionKeepCol(text: Column, maxDupPermille: Long): Column =
    call(BooleanType, "repetitionKeep", text, lit(maxDupPermille))

  def bpeSegmentCountCol(word: Column, merges: Column): Column =
    call(LongType, "bpeSegmentCount", word, merges)

  def charEntropyPartsCol(text: Column): Column =
    call(ArrayType(LongType, containsNull = false), "charEntropyParts", text)

  def pqAssignCol(qv: Column, booksFlat: Column, mSub: Int, ksub: Int): Column =
    call(ArrayType(LongType, containsNull = false), "pqAssign", qv, booksFlat, lit(mSub), lit(ksub))

  def pqDistTableCol(qv: Column, booksFlat: Column, mSub: Int, ksub: Int): Column =
    call(ArrayType(LongType, containsNull = false), "pqDistTable", qv, booksFlat, lit(mSub), lit(ksub))

  def pqAdcCol(tab: Column, codes: Column, ksub: Int): Column =
    call(LongType, "pqAdc", tab, codes, lit(ksub))

  def luhnCountsCol(text: Column): Column =
    call(ArrayType(LongType, containsNull = false), "luhnCounts", text)

  def cdcChunksCol(text: Column, w: Int, div: Int): Column =
    call(ArrayType(StringType, containsNull = false), "cdcChunks", text, lit(w), lit(div))

  def winnowFingerprintsCol(text: Column, k: Int, w: Int): Column =
    call(ArrayType(LongType, containsNull = false), "winnowFingerprints", text, lit(k), lit(w))

  def covMomentTermsCol(q: Column): Column =
    call(ArrayType(StructType(Seq(
      StructField("i", LongType, nullable = false),
      StructField("j", LongType, nullable = false),
      StructField("p", LongType, nullable = false))), containsNull = false),
      "covMomentTerms", q)

  def cosineQCol(a: Column, na: Column, b: Column, nb: Column): Column =
    call(DoubleType, "cosineQ", a, na, b, nb)

  def lcsTokensCol(a: Column, b: Column): Column =
    call(LongType, "lcsTokens", a, b)

  def editDistTokensCol(a: Column, b: Column): Column =
    call(LongType, "editDistTokens", a, b)

  def clippedNgramMatchesAllCol(ct: Column, rt: Column, maxN: Int): Column =
    call(ArrayType(LongType, containsNull = false), "clippedNgramMatchesAll", ct, rt, lit(maxN))

  def clippedCharNgramMatchesAllCol(cs: Column, rs: Column, maxN: Int): Column =
    call(ArrayType(LongType, containsNull = false), "clippedCharNgramMatchesAll", cs, rs, lit(maxN))

  def normalizeTextCol(text: Column): Column = call(StringType, "normalizeText", text)

  def interleaveBitsCol(dims: Column, bits: Int): Column =
    call(LongType, "interleaveBits", dims, lit(bits))

  def hilbertDCol(x: Column, y: Column, bits: Int): Column =
    call(LongType, "hilbertD", x.cast("long"), y.cast("long"), lit(bits))
}
