package graft.gen

import graft.config.StringParams
import graft.locale.{LocaleBundle, Locales}

import org.apache.spark.unsafe.types.UTF8String

import java.util.concurrent.ConcurrentHashMap

/** Index -> value domain functions.
  *
  * Behavioral re-implementation of the reference's `value.Generator` family
  * (sdvg `internal/generator/usecase/general/generator/value` package): every
  * function returns the n-th element of an ordered virtual value domain, as a
  * pure function of (n, total, params). This "value-by-index" discipline is
  * what makes uniqueness, ordering and foreign keys composable with zero state
  * and zero shuffle (SURVEY §4).
  *
  * All methods are static (object-level) pure functions of primitives and,
  * for strings, the range's resolved [[StringSpec]]. The per-row kernel of
  * `Planner.ColumnPlan` calls them; generated code calls that kernel once
  * per column, with the plan (holding seeds, bounds and specs) as its only
  * codegen reference object, so the generated source is the same for every
  * seed, bound and spec, and each row reads the spec's tables with no
  * lookup. Specs are interned per JVM by their parameters and serialize as
  * those parameters only, so every executor derives the tables once,
  * deterministically, from the config (no broadcast, no driver state).
  */
object Values {

  // ------------------------------------------------------------- numerics

  /** Go-style uint64(double) conversion for d in [0, 2^64), reinterpreted as
    * the Long with the same 64-bit pattern (reference casts via uint64 —
    * `value/utils.go:7-12`). */
  @inline def doubleToUint64(d: Double): Long =
    if (d >= 9.223372036854776e18) (d - 1.8446744073709552e19).toLong else d.toLong

  /** n-th integer of [from, to]: from + uint64(step * n), step fixed-point
    * (reference `value/integer.go:25-42`, `value/utils.go:7-12`). */
  def orderedLong(from: Long, to: Long, number: Double, total: Double): Long = {
    val step = (to.toDouble - from.toDouble + 1.0) / total
    from + doubleToUint64(step * number)
  }

  /** Linear interpolation over [from, to] (reference `value/utils.go:14-22`). */
  def orderedDouble(from: Double, to: Double, number: Double, total: Double): Double = {
    if (from == to) return from
    val scale = number / total
    from * (1 - scale) + to * scale
  }

  /** Integer domain size as double: uint64(to-from)+1 (`value/integer.go:40-42`). */
  def integerValuesCount(from: Long, to: Long): Double = {
    val diff = to - from // wraps for full 64-bit range, matching uint64(to-from)
    val unsigned =
      if (diff >= 0) diff.toDouble
      else diff.toDouble + 1.8446744073709552e19
    unsigned + 1.0
  }

  // ------------------------------------------------------------- datetime

  /** n-th timestamp in [from, to], seconds and nanos interpolated
    * independently (reference `value/datetime.go:29-50`); returned as
    * microseconds since epoch (Spark TimestampType resolution; the ns->us
    * truncation is a documented divergence, SURVEY §7). */
  def datetimeMicros(
      fromSec: Long, fromNanos: Int, toSec: Long, toNanosIn: Int,
      number: Double, total: Double): Long = {
    var toNanos = toNanosIn.toLong
    if (toNanos < fromNanos) toNanos += 1000000000L
    val sec = orderedLong(fromSec, toSec, number, total)
    var nsec = orderedLong(fromNanos.toLong, toNanos, number, total)
    if (nsec > 1000000000L) nsec -= 1000000000L
    sec * 1000000L + nsec / 1000L
  }

  def datetimeValuesCount(fromSec: Long, fromNanos: Int, toSec: Long, toNanosIn: Int): Double = {
    var toNanos = toNanosIn.toLong
    if (toNanos < fromNanos) toNanos += 1000000000L
    (toSec - fromSec + 1).toDouble * (toNanos - fromNanos + 1).toDouble
  }

  // ----------------------------------------------------------------- uuid

  /** Selects a position in [0, length) from a fractional index and returns the
    * residual index for the next selection (reference `value/utils.go:40-53`). */
  @inline private def orderedPosStep(length: Int, index: Double): (Int, Double) = {
    val floatPos = length.toDouble * index
    val intPos = math.floor(floatPos)
    var next = floatPos - intPos
    if (next < 0) next = 0
    (intPos.toInt, next)
  }

  def uuidValuesCount: Double = math.pow(2.0, 118.0) // `value/uuid.go:46-48`

  // -------------------------------------------------------------- strings

  /** The resolved domain of one string range: its config, its domain size
    * `total`, and every table derived from them. Built once per range by the
    * planner, through [[StringSpec.apply]], which returns the JVM's one
    * instance per (params, total). */
  final class StringSpec private (val params: StringParams, val total: Double) extends Serializable {
    val locale: LocaleBundle = Locales(params.locale)
    val minLength: Int = params.minLength
    val maxLength: Int = params.maxLength
    val logicalType: String = params.logicalType
    val template: String = params.template

    /** Sorted charset per the exclusion flags (reference `string.go:65-88`). */
    val charset: Array[Char] = {
      val buf = new scala.collection.mutable.ArrayBuffer[Char]()
      if (!params.withoutLargeLetters) buf ++= locale.largeLetters
      if (!params.withoutSmallLetters) buf ++= locale.smallLetters
      if (!params.withoutNumbers) buf ++= Locales.Numbers
      if (!params.withoutSpecialChars) buf ++= Locales.SpecialChars
      buf.toArray.sorted
    }

    val firstNames: Array[String] = locale.firstNames(minLength, maxLength)
    val lastNames: Array[String] = locale.lastNames(minLength, maxLength)
    val phonePatterns: Array[String] = locale.phonePatternsIn(minLength, maxLength)

    /** Even-ish distribution of `total` strings across lengths [min, max],
      * clamped per-length by charset^len (reference `string.go:92-126`). */
    val (countByPrefix, sumByPrefix): (Array[Double], Array[Double]) = {
      if (logicalType.nonEmpty || template.nonEmpty) (Array.empty, Array.empty)
      else {
        val countByLength = new Array[Double](maxLength + 1)
        var avgRangeCount = math.ceil(total / (maxLength - minLength + 1).toDouble)
        var length = minLength
        while (length <= maxLength) {
          val rangeCount = math.pow(charset.length.toDouble, length.toDouble)
          if (avgRangeCount > rangeCount) {
            countByLength(length) = rangeCount
            if (length < maxLength)
              avgRangeCount += (avgRangeCount - rangeCount) / (maxLength - length).toDouble
          } else countByLength(length) = math.ceil(avgRangeCount)
          length += 1
        }
        val cbp = new Array[Double](maxLength + 2)
        val sbp = new Array[Double](maxLength + 2)
        var prefix = 0
        while (prefix <= maxLength) {
          val prefixDivider = math.pow(charset.length.toDouble, prefix.toDouble)
          cbp(prefix) = countByLength(prefix) / prefixDivider
          var l = 0
          while (l <= maxLength - prefix) {
            sbp(prefix) += countByLength(l + prefix) / prefixDivider
            l += 1
          }
          prefix += 1
        }
        (cbp, sbp)
      }
    }

    /** completions(l) = number of ways to build a text of padded length l from
      * locale words (+1 trailing delimiter per word; a bare one-letter word may
      * close a text) — reference `string.go:129-171`, big.Int clamped to Long. */
    val completions: Array[Long] = {
      if (logicalType != "text") Array.empty
      else {
        val words = locale.words
        val oneLetter = locale.oneLetterWords
        val len = maxLength + 1
        val big = new Array[java.math.BigInteger](len + 2)
        java.util.Arrays.fill(big.asInstanceOf[Array[AnyRef]], java.math.BigInteger.ZERO)
        big(0) = java.math.BigInteger.ONE
        big(1) = java.math.BigInteger.valueOf(oneLetter.length.toLong)
        var l = 2
        while (l <= len) {
          var w = 0
          while (w < words.length) {
            val wLen = words(w).length + 1
            if (wLen <= l) big(l) = big(l).add(big(l - wLen))
            w += 1
          }
          l += 1
        }
        val maxLong = java.math.BigInteger.valueOf(Long.MaxValue)
        big.takeWhile(_.compareTo(maxLong) <= 0).map(_.longValueExact())
      }
    }

    /** Full cumulative rank table over the lex-ordered word list, one row per
      * `remaining` budget: `rankTable(r*(W+1) + k)` = number of texts whose
      * first word is among the first `k` words when `r` characters remain
      * (Σ_{w<k, len(w)+1 ≤ r} completions(r − len(w) − 1)). Word selection in
      * [[text]] is then one flat binary search with O(1) probes — the
      * round-10 corpus growth (1.6k → 12.3k words) made any per-probe O(L)
      * re-weighting 93% of gen_text's cost. Partial sums are monotone and
      * bounded by completions(r) ≤ Long.MaxValue, so no overflow.
      * Size: (completions.length) × (W+1) longs ≈ 6 MB at text's 64-char
      * bench shape; built on first use, once per JVM (the spec is interned). */
    lazy val rankTable: Array[Long] = {
      val words = locale.words
      val w1 = words.length + 1
      val rows = completions.length
      val rt = new Array[Long](rows * w1)
      var r = 2 // rows 0/1 never reach word selection (one-letter branch)
      while (r < rows) {
        val base = r * w1
        var k = 0
        while (k < words.length) {
          val wLen = words(k).length + 1
          rt(base + k + 1) =
            rt(base + k) + (if (wLen <= r) completions(r - wLen) else 0L)
          k += 1
        }
        r += 1
      }
      rt
    }

    def valuesCount: Double = {
      if (template.nonEmpty) {
        var c = 0.0
        c += math.pow(locale.largeLetters.length.toDouble, template.count(_ == 'A').toDouble)
        c += math.pow(locale.smallLetters.length.toDouble, template.count(_ == 'a').toDouble)
        c += math.pow(Locales.Numbers.length.toDouble, template.count(_ == '0').toDouble)
        c += math.pow(Locales.SpecialChars.length.toDouble, template.count(_ == '#').toDouble)
        c
      } else logicalType match {
        case "first_name" => firstNames.length.toDouble
        case "last_name" => lastNames.length.toDouble
        case "phone" =>
          phonePatterns.map(p => math.pow(10.0, p.count(_ == '#').toDouble)).sum
        case "text" =>
          if (minLength > completions.length) Double.PositiveInfinity
          else (minLength to maxLength).filter(_ + 1 < completions.length)
            .map(l => completions(l + 1).toDouble).sum
        case _ =>
          (minLength to maxLength).map(l => math.pow(charset.length.toDouble, l.toDouble)).sum
      }
    }

    /** Serialized as its parameters only: a task never ships the locale
      * corpus or the tables, and resolves to the executor's instance. */
    private def writeReplace(): AnyRef = SpecRef(params, total)

    override def toString: String = s"StringSpec($params, $total)"
  }

  object StringSpec {
    private val interned = new ConcurrentHashMap[SpecRef, StringSpec]()

    /** The JVM's one spec for `params` over a domain of `total` values. */
    def apply(params: StringParams, total: Double): StringSpec =
      interned.computeIfAbsent(SpecRef(params, total), r => new StringSpec(r.params, r.total))
  }

  /** The serialized form of a [[StringSpec]]. */
  private final case class SpecRef(params: StringParams, total: Double) {
    private def readResolve(): AnyRef = StringSpec(params, total)
  }

  /** n-th string of the domain described by `s` — dispatcher mirroring
    * reference `string.go:412-430`. */
  def stringValue(number: Double, s: StringSpec): String =
    if (s.template.nonEmpty) templateString(s, number)
    else s.logicalType match {
      case "first_name" => nthOf(s.firstNames, number, s.total)
      case "last_name" => nthOf(s.lastNames, number, s.total)
      case "phone" => phone(s, number)
      case "text" => text(s, number)
      case _ => simpleString(s, number)
    }

  @inline private def nthOf(arr: Array[String], number: Double, total: Double): String =
    arr(orderedLong(0, (arr.length - 1).toLong, number, total).toInt)

  /** n-th lexicographically ordered string over the charset, lengths spread
    * evenly across [min, max] via the prefix tables (reference
    * `string.go:325-410`; precision note: ordered prefix exact to 217 chars,
    * residual characters filled by a deterministic pattern of `number`). */
  def simpleString(s: StringSpec, number: Double): String = {
    val sb = new java.lang.StringBuilder(s.maxLength)
    var remain = number
    var prefixLen = 0
    var done = false
    while (!done) {
      prefixLen = sb.length()
      remain -= s.countByPrefix(prefixLen)
      if (remain < 0 || s.sumByPrefix(prefixLen + 1) == 0) done = true
      else {
        val i = (remain / s.sumByPrefix(prefixLen + 1)).toInt
        remain -= s.sumByPrefix(prefixLen + 1) * i
        sb.append(s.charset(math.min(i, s.charset.length - 1)))
      }
    }
    if (prefixLen < s.minLength) {
      val destLen = s.minLength + (math.abs(number.toLong) % (s.maxLength - s.minLength + 1)).toInt
      var i = 0
      while (i < destLen - prefixLen) {
        sb.append(s.charset(((math.abs(number.toLong) + i.toLong * i) % s.charset.length).toInt))
        i += 1
      }
    }
    sb.toString
  }

  /** Pattern string: 'A'->large, 'a'->small, '0'->digit, '#'->special, others
    * literal; positions filled by successive index peeling (reference
    * `string.go:174-200`). */
  def templateString(s: StringSpec, number: Double): String = {
    val out = s.template.toCharArray
    var index = number / s.total
    var i = 0
    while (i < out.length) {
      val letters: Array[Char] = out(i) match {
        case 'A' => s.locale.largeLetters
        case 'a' => s.locale.smallLetters
        case '0' => Locales.Numbers
        case '#' => Locales.SpecialChars
        case _ => null
      }
      if (letters != null) {
        val (pos, next) = orderedPosStep(letters.length, index)
        out(i) = letters(pos)
        index = next
      }
      i += 1
    }
    new String(out)
  }

  /** n-th phone: pattern chosen by n, '#' digits filled last-to-first with the
    * n-th number (reference `string.go:221-232`, `value/utils.go:55-69`). */
  def phone(s: StringSpec, number: Double): String = {
    val patterns = s.phonePatterns
    val pattern = patterns(orderedLong(0, (patterns.length - 1).toLong, number, s.total).toInt)
    val digits = pattern.count(_ == '#')
    val maxPhone = math.pow(10.0, digits.toDouble).toLong - 1
    var value = orderedLong(0, maxPhone, number, s.total)
    val out = pattern.toCharArray
    var i = out.length - 1
    while (i >= 0) {
      if (out(i) == '#') {
        out(i) = ('0' + (value % 10)).toChar
        value /= 10
      }
      i -= 1
    }
    new String(out)
  }

  /** n-th text of locale words: ranked unranking over the completions DP,
    * padded/truncated to the wanted length (reference `string.go:239-324`;
    * texts are ordered within each length group). */
  def text(s: StringSpec, num: Double): String = {
    val words = s.locale.words
    val oneLetter = s.locale.oneLetterWords
    val lengthSpread = s.maxLength - s.minLength + 1
    val wantedLen = s.minLength + (math.abs(num.toLong) % lengthSpread).toInt

    val maxComputed = s.completions.length - 1
    var remaining = math.min(wantedLen + 1, maxComputed)
    if (remaining < 0) remaining = 0
    var number: Long =
      if (remaining >= 0 && s.completions(remaining) > 0)
        math.floor((s.completions(remaining) - 1).toDouble * (num / s.total)).toLong
      else 0L

    val sb = new java.lang.StringBuilder(wantedLen + 8)
    var textLen = 0
    var ok = true
    while (remaining > 0 && ok) {
      if (remaining == 1) {
        if (oneLetter.nonEmpty) {
          sb.append(oneLetter((number % oneLetter.length).toInt))
          textLen += 1
        }
        remaining = 0
      } else {
        // The lex-order scan ("first word whose running completions-sum
        // exceeds number") reads one precomputed rank-table row for this
        // `remaining` budget — binary search with O(1) probes (see
        // [[StringSpec.rankTable]]).
        val rt = s.rankTable
        val base = remaining * (words.length + 1)
        if (number >= rt(base + words.length)) ok = false // scan would fall off the end
        else {
          // smallest w with F(w+1) > number; F flat at ineligible words, so
          // the minimal w is always an eligible (wLen <= remaining) word
          var lo = 0
          var hi = words.length - 1
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (rt(base + mid + 1) > number) hi = mid else lo = mid + 1
          }
          number -= rt(base + lo)
          sb.append(words(lo)).append(Locales.WordsDelimiter)
          textLen += words(lo).length + 1
          remaining -= words(lo).length + 1
        }
      }
    }
    // pad with deterministically-indexed words, then trim to the wanted length
    var k = math.abs(num.toLong)
    while (textLen < wantedLen) {
      val w = words((k % math.max(1, words.length - 1)).toInt)
      sb.append(w).append(Locales.WordsDelimiter)
      textLen += w.length + 1
      k += 1
    }
    var res = sb.toString
    if (res.length > wantedLen) res = res.substring(0, wantedLen)
    res
  }

  // ------------------------------------------------------------ uuid text

  private val HexDigits = "0123456789abcdef".getBytes("US-ASCII")

  /** n-th v4-shaped UUID: 16 bytes peeled from the fraction n/total, version
    * and variant bits forced (reference `value/uuid.go:28-48`), in canonical
    * text form — both reference writers serialize UUID as string. Built
    * byte-level: the text is pure ASCII. */
  def uuidStringU(number: Double, total: Double): UTF8String = {
    val out = new Array[Byte](36)
    var index = number / total
    var i = 0
    var pos = 0
    while (i < 16) {
      val floatPos = 255.0 * index
      val intPos = math.floor(floatPos)
      index = floatPos - intPos
      if (index < 0) index = 0
      var b = intPos.toInt
      if (i == 6) b = (b & 0x0f) | 0x40
      else if (i == 8) b = (b & 0x3f) | 0x80
      if (i == 4 || i == 6 || i == 8 || i == 10) { out(pos) = '-'; pos += 1 }
      out(pos) = HexDigits((b >> 4) & 0xf)
      out(pos + 1) = HexDigits(b & 0xf)
      pos += 2
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}
