package graft.gen

import graft.config._
import graft.rng.{Permutation, Rng}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{KnownNullable, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Compiles a validated column config into ONE deterministic function of the
  * absolute row id, and the Catalyst expression that calls it.
  *
  * This is the Spark-first replacement for the reference's generator wiring
  * (`usecase/general/task.go:83-114` + `generator/generator.go:30-243`): where
  * the reference threads sequencers/mutexes/batches, we emit a pure projection
  * over `spark.range` — no state, no shuffle, embarrassingly parallel, O(1)
  * random access at any row (so `generate_from` slicing is free, unlike the
  * reference's O(n) SkipRows — SURVEY §7).
  *
  * Per column, in [[ColumnPlan]]'s kernel:
  *   idc  = id mod cycle
  *   top  = idc (single range) | Feistel(idc; dataColumnSeed, cycle)  - range routing
  *   k    = top - spanStart                               - in-range position
  *   num  = ordered ? floor(k*distinct/spanRows) : Feistel(k mod distinct)
  *   number = num + hash(seed+num)*jitterFactor           - value spreading
  *   value  = domainFn(number, distinct)  [NULL if hash(seed+num) < nullPct]
  *
  * The projection is one `StaticInvoke` of that kernel per column, with the
  * plan as its only codegen reference object: the generated source depends
  * on the column's type and nullability only, so a new seed, bound,
  * percentage, enum list or string spec reuses the compiled classes.
  */
object Planner {

  /** Driver-resolved execution plan of one range of one column. */
  final case class RangePlan(
      spanStart: Long, // [numFrom, numTo) of the top-level routing number
      spanEnd: Long,
      spanRows: Long,
      distinct: Long,
      jitterFactor: Double,
      ordered: Boolean,
      orderSeed: Long,
      nullPercentage: Double,
      float32: Boolean, // float values rounded to 32 bits, even in a 64-bit column
      cfg: RangeConfig,
      stringSpec: Option[Values.StringSpec]) { // resolved domain of a string range

    // the domain as the per-row kernel reads it, resolved once
    private[Planner] val total: Double = distinct.toDouble
    private[Planner] val int: IntParams = cfg.intParams.orNull
    private[Planner] val float: FloatParams = cfg.floatParams.orNull
    private[Planner] val time: DateTimeParams = cfg.dateTimeParams.orNull
    private[Planner] val spec: Values.StringSpec = stringSpec.orNull

    /** Enum literals as the kernel returns them (boxed Catalyst values:
      * Long, Double, timestamp micros as Long, UTF8String; null stays
      * null); null for a range without `values`. */
    private[Planner] val enumValues: Array[AnyRef] = cfg.values.map(_.map {
      case null => null
      case i: java.time.Instant => java.lang.Long.valueOf(DateTimeUtils.instantToMicros(i))
      case s: String => UTF8String.fromString(s)
      case x => x.asInstanceOf[AnyRef]
    }.toArray).orNull
    private[Planner] val hasNullValue: Boolean = enumValues != null && enumValues.contains(null)
    private val rowsPerValue: Double =
      if (enumValues == null) 1.0 else math.max(1L, math.ceil(total / enumValues.length).toLong).toDouble

    /** Position of `number` in the enum list: the n-th sorted literal, each
      * repeated ceil(total/len) times (reference `value/enum.go:19-42`). */
    private[Planner] def enumIndex(number: Double): Int =
      math.min(math.floor(math.floor(number).toLong / rowsPerValue).toInt, enumValues.length - 1)
  }

  /** @param unique the column's non-null values are pairwise distinct
    *   across its model, but for rare rounding merges (see [[uniqueValues]]):
    *   what the parquet sink reads to skip a dictionary that would never be
    *   smaller than the plain data. */
  final case class ColumnPlan(
      name: String,
      dataType: DataType,
      nullable: Boolean,
      cycle: Long, // row-index cycle of the top sequencer
      dataColumnSeed: Long, // seed of the (FK-resolved) data column
      ranges: Seq[RangePlan],
      unique: Boolean) {

    private[this] val rangeArray: Array[RangePlan] = ranges.toArray

    /** The generation expression over the absolute row-id column: one call
      * of this plan's kernel, narrowed to the column's type. */
    def expr(id: Column): Column = {
      val (kernel, kernelType) = dataType match {
        case StringType => ("stringAt", StringType)
        case FloatType | DoubleType => (if (nullable) "nullableDoubleAt" else "doubleAt", DoubleType)
        case TimestampType => (if (nullable) "nullableLongAt" else "longAt", TimestampType)
        case _ => (if (nullable) "nullableLongAt" else "longAt", LongType)
      }
      val call = StaticInvoke(
        Planner.getClass, kernelType, kernel,
        Seq(Literal(this, ObjectType(getClass)), Bridge.expression(id)),
        returnNullable = nullable)
      // declared nullable whatever the plan: written parquet columns stay
      // `optional`, as they have always been
      val col = Bridge.column(KnownNullable(call))
      (if (kernelType == dataType) col else col.cast(dataType)).as(name)
    }

    // ------------------------------------------------- the per-row kernel
    // Typed entry points for generated code (through Planner's statics), all
    // over the same steps: routing number, range, value number, domain.

    def longAt(id: Long): Long = { val t = top(id); val r = rangeOf(t); long(r, number(r, t)) }

    def doubleAt(id: Long): Double = { val t = top(id); val r = rangeOf(t); double(r, number(r, t)) }

    def nullableLongAt(id: Long): java.lang.Long = {
      val t = top(id)
      val r = rangeOf(t)
      val n = number(r, t)
      if (n.isNaN) null else long(r, n)
    }

    def nullableDoubleAt(id: Long): java.lang.Double = {
      val t = top(id)
      val r = rangeOf(t)
      val n = number(r, t)
      if (n.isNaN) null else double(r, n)
    }

    def stringAt(id: Long): UTF8String = {
      val t = top(id)
      val r = rangeOf(t)
      val n = number(r, t)
      if (n.isNaN) null else string(r, n)
    }

    /** n-th value of the column's domain for driver-side use (FK oracles,
      * tests), boxed: Byte/Short/Int/Long by the range's bit width,
      * Float/Double, Instant, String, and enum literals as parsed. */
    def valueAt(id: Long): Any = {
      val t = top(id)
      val r = rangeOf(t)
      val n = number(r, t)
      if (n.isNaN) null
      else if (r.enumValues != null) r.cfg.values.get(r.enumIndex(n))
      else if (r.int != null) {
        val v = long(r, n)
        r.int.bitWidth match {
          case 8 => v.toByte
          case 16 => v.toShort
          case 32 => v.toInt
          case _ => v
        }
      } else if (r.float != null) {
        val v = double(r, n)
        if (r.float32) v.toFloat else v
      } else if (r.time != null) {
        java.time.Instant.EPOCH.plus(long(r, n), java.time.temporal.ChronoUnit.MICROS)
      } else string(r, n).toString
    }

    /** Routing number of row `id`: its place in the cycle, permuted across
      * the cycle when ranges split it. */
    private def top(id: Long): Long = {
      val idc = if (cycle > 0) id % cycle else id
      if (rangeArray.length == 1) idc else Permutation.permute(idc, dataColumnSeed, cycle)
    }

    /** The range of routing number `top`: the first whose span ends above
      * it, else the last (spans are contiguous). */
    private def rangeOf(top: Long): RangePlan = {
      var i = 0
      while (i < rangeArray.length - 1 && top >= rangeArray(i).spanEnd) i += 1
      rangeArray(i)
    }

    /** Jittered value number of routing number `top` in `r`; NaN where the
      * row is null (a null draw or an enum's null literal). */
    private def number(r: RangePlan, top: Long): Double = {
      val k = top - r.spanStart
      val num =
        if (r.ordered) {
          // floor(k * distinct / spanRows) in double math, exactly the
          // ordered sequencer (`generator/utils.go:92-103`)
          (k.toDouble * r.total / r.spanRows.toDouble).toLong
        } else Permutation.permute(if (r.spanRows > r.distinct) k % r.distinct else k, r.orderSeed, r.distinct)
      val jittered =
        if (r.jitterFactor == 0 && r.nullPercentage == 0) num.toDouble
        else {
          // stateless hash draw in [0,1): fastRandomFloat (`generator/utils.go:169-196`)
          val draw = Rng.randomDouble(dataColumnSeed, num)
          if (draw < r.nullPercentage) Double.NaN else num.toDouble + draw * r.jitterFactor
        }
      if (r.hasNullValue && !jittered.isNaN && r.enumValues(r.enumIndex(jittered)) == null) Double.NaN
      else jittered
    }

    private def long(r: RangePlan, number: Double): Long =
      if (r.enumValues != null) r.enumValues(r.enumIndex(number)).asInstanceOf[java.lang.Long]
      else if (r.int != null) Values.orderedLong(r.int.from, r.int.to, number, r.total)
      else Values.datetimeMicros(
        r.time.fromSec, r.time.fromNanos, r.time.toSec, r.time.toNanos, number, r.total)

    private def double(r: RangePlan, number: Double): Double = {
      val v =
        if (r.enumValues != null) r.enumValues(r.enumIndex(number)).asInstanceOf[java.lang.Double].doubleValue
        else Values.orderedDouble(r.float.from, r.float.to, number, r.total)
      if (r.float32) v.toFloat.toDouble else v
    }

    private def string(r: RangePlan, number: Double): UTF8String =
      if (r.enumValues != null) r.enumValues(r.enumIndex(number)).asInstanceOf[UTF8String]
      else if (r.spec != null) UTF8String.fromString(Values.stringValue(number, r.spec))
      else Values.uuidStringU(number, r.total)
  }

  // the kernel's static entry points, as `StaticInvoke` calls them
  def longAt(p: ColumnPlan, id: Long): Long = p.longAt(id)
  def doubleAt(p: ColumnPlan, id: Long): Double = p.doubleAt(id)
  def nullableLongAt(p: ColumnPlan, id: Long): java.lang.Long = p.nullableLongAt(id)
  def nullableDoubleAt(p: ColumnPlan, id: Long): java.lang.Double = p.nullableDoubleAt(id)
  def stringAt(p: ColumnPlan, id: Long): UTF8String = p.stringAt(id)

  // ------------------------------------------------------------- planning

  /** Spark type of a (non-FK) column config (reference parquet schema mapping
    * `writer/parquet/parquet.go:134-139` + §1.2 of SURVEY): the widest type
    * among its ranges. */
  def sparkType(c: ColumnConfig): DataType = c.typ match {
    case "integer" =>
      // the widest declared bit width; an enum-only column is 64-bit (the
      // reference coerces to the declared width; 64 keeps every literal)
      c.ranges.flatMap(_.intParams).map(_.bitWidth).maxOption.getOrElse(64) match {
        case 8 => ByteType
        case 16 => ShortType
        case 32 => IntegerType
        case _ => LongType
      }
    case "float" =>
      val widths = c.ranges.flatMap(_.floatParams).map(_.bitWidth)
      if (widths.nonEmpty && widths.forall(_ == 32)) FloatType else DoubleType
    case "string" => StringType
    case "uuid" => StringType
    case "datetime" => TimestampType
    case other => throw new IllegalArgumentException(s"unsupported type $other")
  }

  /** Domain size of one range (`Generator.ValuesCount()` per type); a string
    * range's comes from its [[Values.StringSpec]]. */
  def valuesCount(typ: String, r: RangeConfig): Double = r.values match {
    case Some(vs) => vs.size.toDouble
    case None =>
      typ match {
        case "integer" => Values.integerValuesCount(r.intParams.get.from, r.intParams.get.to)
        case "float" => Double.PositiveInfinity
        case "datetime" =>
          val p = r.dateTimeParams.get
          Values.datetimeValuesCount(p.fromSec, p.fromNanos, p.toSec, p.toNanos)
        case "uuid" => Values.uuidValuesCount
        case other => throw new IllegalArgumentException(s"unsupported type $other")
      }
  }

  /** Build the plan for every column of `model`, resolving foreign keys
    * against the full config (reference `task.go:83-114`). */
  def planModel(cfg: GenerationConfig, model: ModelConfig): Seq[ColumnPlan] =
    model.columns.map(c => planColumn(cfg, model, c))

  def planColumn(cfg: GenerationConfig, model: ModelConfig, column: ColumnConfig): ColumnPlan = {
    // FK resolution: the child reuses the parent's resolved column spec and
    // SEED, guaranteeing child values ⊆ parent values without any join
    // (reference `task.go:83-114`, SURVEY §2.4 "Foreign key").
    val (dataModel, dataColumn) =
      if (column.foreignKey.nonEmpty) {
        val Array(pm, pc) = column.foreignKey.split("\\.", 2)
        val parentModel = cfg.models(pm)
        (parentModel, parentModel.columns.find(_.name == pc).get)
      } else (model, column)

    val columnSeed = Rng.columnSeed(cfg.realSeed, model.name, column.name)
    val dataColumnSeed = Rng.columnSeed(cfg.realSeed, dataModel.name, dataColumn.name)

    // cycle: parent's rowsCount unless FK w/o order (then our own rows)
    val cycle =
      if (column.foreignKey.nonEmpty && !column.foreignKeyOrder) model.rowsCount
      else dataModel.rowsCount

    // a float enum's literals take the width of the column's first float range
    val enumFloat32 = dataColumn.ranges.flatMap(_.floatParams).headOption.exists(_.bitWidth == 32)
    var spanOffset = 0L
    val rangePlans = dataColumn.ranges.map { r =>
      val spanRows = math.ceil(cycle.toDouble * r.rangePercentage).toLong
      var distinct = math.ceil(dataModel.rowsCount.toDouble * r.rangePercentage).toLong
      if (r.distinctPercentage != 0)
        distinct = math.ceil(distinct.toDouble * r.distinctPercentage).toLong
      if (r.distinctCount != 0) {
        require(
          r.distinctCount <= distinct,
          s"impossible to generate ${r.distinctCount} distinct values in $distinct rows")
        distinct = r.distinctCount
      }
      // a string spec's domain size does not depend on its total: the spec
      // built before the clamp is the plan's own unless the clamp bites
      val domain = r.stringParams.fold(valuesCount(dataColumn.typ, r))(
        Values.StringSpec(_, distinct.toDouble).valuesCount)
      if (distinct.toDouble > domain) {
        require(
          r.distinctPercentage == 0 && r.distinctCount == 0,
          s"impossible to generate $distinct distinct values")
        distinct = domain.toLong
      }
      distinct = math.max(1L, distinct)

      // FK w/o order: ordering + permutation seed come from the CHILD column
      // (reference `generator/generator.go:156-159`)
      val (ordered, orderSeed) =
        if (column.foreignKey.nonEmpty && !column.foreignKeyOrder) (column.ordered, columnSeed)
        else (r.ordered, dataColumnSeed)

      val factor = if (domain.isInfinity) 1.0 else 1.0 - distinct.toDouble / domain
      val plan = RangePlan(
        spanOffset, spanOffset + spanRows, math.max(1L, spanRows), distinct,
        math.max(0.0, factor), ordered, orderSeed, r.nullPercentage,
        r.floatParams.fold(enumFloat32)(_.bitWidth == 32), r,
        r.stringParams.map(Values.StringSpec(_, distinct.toDouble)))
      spanOffset += spanRows
      plan
    }

    val nullable = dataColumn.ranges.exists(r =>
      r.nullPercentage > 0 || r.values.exists(_.contains(null)))

    ColumnPlan(
      column.name, sparkType(dataColumn), nullable, cycle, dataColumnSeed, rangePlans,
      uniqueValues(model.rowsCount, cycle, rangePlans))
  }

  /** Whether rows [0, rows) of a column get pairwise distinct non-null
    * values, but for rare rounding merges of two neighbouring value numbers.
    *
    * Value numbers first: with one range, `cycle ≥ rows` makes the routing
    * number the row id itself; `distinct ≥ rows` keeps the permuted
    * position `k mod distinct` = `k`, so the permutation gives each row its
    * own number, and an ordered range's `floor(k·distinct/spanRows)` is
    * one-to-one when `distinct ≥ spanRows`. Enum literals repeat by design.
    *
    * Then the domain. Jitter moves a number by less than `jitterFactor` =
    * `1 − distinct/domain`, so two numbers stay more than `distinct/domain`
    * apart, and a domain that gives each value a stretch of that width
    * (integers, names) maps them apart exactly; uuids' stretches are far
    * narrower. A datetime keeps them apart when its bounds share their
    * nanos (its seconds then step like an integer's); otherwise the nanos
    * step separately and the µs truncation can merge values. Float values are
    * interpolated, so rounding can merge two neighbours: the step between
    * value numbers must span at least 1024 ulps at the column's width. Strings
    * need [[stringsApart]]. */
  private def uniqueValues(rows: Long, cycle: Long, ranges: Seq[RangePlan]): Boolean = ranges match {
    case Seq(r) if r.enumValues == null && cycle >= rows && r.distinct >= rows &&
        (!r.ordered || r.distinct >= r.spanRows) =>
      if (r.time != null) r.time.fromNanos == r.time.toNanos
      else if (r.float != null) {
        val edge = math.max(math.abs(r.float.from), math.abs(r.float.to))
        val ulp = if (r.float32) math.ulp(edge.toFloat).toDouble else math.ulp(edge)
        (r.float.to - r.float.from) / r.total >= 1024 * ulp
      } else if (r.spec != null) stringsApart(r)
      else true
    case _ => false
  }

  /** Whether a string range maps distinct value numbers to distinct strings.
    * Names take one `orderedLong` step each, as integers do, and a template
    * one mixed-radix digit string: its stretch, `total / Π letters`, is no
    * wider than the `total / Σ letters^count` its domain size gives. A text
    * needs [[textsDistinct]]. Phones and plain strings cut the numbers into
    * stretches wider than that: two neighbours share a stretch of width `w`
    * only when their jitters close their gap of about 1 to below `w`, which
    * has a chance of at most `w²/2`. A width of at most 1/100 keeps that to
    * 5e-5 of neighbouring pairs; a short string's lengths, where every
    * string of the charset is used, have stretches of width 1. */
  private def stringsApart(r: RangePlan): Boolean = {
    val s = r.spec
    if (s.template.nonEmpty) true
    else s.logicalType match {
      case "first_name" | "last_name" => true
      case "phone" =>
        s.phonePatterns.nonEmpty &&
          r.total / s.phonePatterns.map(p => math.pow(10, p.count(_ == '#'))).min <= 0.01
      case "text" => textsDistinct(r)
      case _ => (s.minLength to s.maxLength).forall(l => s.countByPrefix(l) <= 0.01)
    }
  }

  /** Whether [[Values.text]] maps distinct value numbers of `r` to distinct
    * texts. A number's length group is its floor mod `spread`, so two numbers
    * of one group lie more than `spread − jitterFactor` apart, and its rank
    * among the texts of padded length `len + 1` scales it by
    * `(completions − 1) / total`. Distinct ranks are distinct word sequences,
    * except that the text is cut to `len`, which drops a closing one-letter
    * word: the `oneLetterWords` texts of one such block merge. So every
    * group's rank step must exceed that block plus one, with room for the
    * double rounding of ranks near 2^63. A short `min_length` fails this: a
    * few completions shared by `rows / spread` numbers. */
  private def textsDistinct(r: RangePlan): Boolean = {
    val s = r.spec
    val spread = s.maxLength - s.minLength + 1
    val block = math.max(1, s.locale.oneLetterWords.length) + 1
    val budget = s.completions.length - 1
    (s.minLength to s.maxLength).forall { len =>
      val c = s.completions(math.min(len + 1, budget)).toDouble
      (c - 1) * (spread - r.jitterFactor) >= (block + c * 1e-15) * r.total
    }
  }
}
