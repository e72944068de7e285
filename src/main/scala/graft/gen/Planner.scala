package graft.gen

import graft.config._
import graft.rng.{Permutation, Rng}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compiles a validated column config into ONE deterministic Catalyst
  * expression of the absolute row id.
  *
  * This is the Spark-first replacement for the reference's generator wiring
  * (`usecase/general/task.go:83-114` + `generator/generator.go:30-243`): where
  * the reference threads sequencers/mutexes/batches, we emit a pure projection
  * over `spark.range` — no state, no shuffle, embarrassingly parallel, O(1)
  * random access at any row (so `generate_from` slicing is free, unlike the
  * reference's O(n) SkipRows — SURVEY §7).
  *
  * Per column:
  *   idc  = id mod cycle
  *   top  = Feistel(idc; dataColumnSeed, cycle)          - range routing
  *   k    = idc (single range) | top - spanStart (multi) - in-range position
  *   num  = ordered ? floor(k*distinct/spanRows) : Feistel(k mod distinct)
  *   number = num + hash(seed+num)*jitterFactor          - value spreading
  *   value  = domainFn(number, distinct)  [NULL if hash(seed+num) < nullPct]
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
      cfg: RangeConfig,
      stringSpec: Option[Values.StringSpec]) // resolved domain of a string range

  final case class ColumnPlan(
      name: String,
      dataType: DataType,
      nullable: Boolean,
      cycle: Long, // row-index cycle of the top sequencer
      dataColumnSeed: Long, // seed of the (FK-resolved) data column
      ranges: Seq[RangePlan]) {

    /** The generation expression over the absolute row-id column. */
    def expr(id: Column): Column = {
      val idc = if (cycle > 0) id % lit(cycle) else id
      val single = ranges.size == 1
      val top = permuteCol(idc, dataColumnSeed, cycle)

      def rangeExpr(r: RangePlan): Column = {
        val k = if (single) idc else top - lit(r.spanStart)
        val num: Column =
          if (r.ordered) {
            // floor(k * distinct / spanRows) in double math, exactly the
            // ordered sequencer (`generator/utils.go:92-103`)
            (k.cast(DoubleType) * lit(r.distinct.toDouble) / lit(r.spanRows.toDouble)).cast(LongType)
          } else {
            val kMod = if (r.spanRows > r.distinct) k % lit(r.distinct) else k
            permuteCol(kMod, r.orderSeed, r.distinct)
          }
        val draw = randomDoubleCol(dataColumnSeed, num)
        val number: Column =
          if (r.jitterFactor > 0) num.cast(DoubleType) + draw * lit(r.jitterFactor)
          else num.cast(DoubleType)
        val value = valueExpr(r, number)
        if (r.nullPercentage > 0)
          when(draw < lit(r.nullPercentage), lit(null).cast(dataType)).otherwise(value)
        else value
      }

      val col =
        if (single) rangeExpr(ranges.head)
        else {
          // CASE WHEN chain on the routing number; spans are contiguous
          val woLast = ranges.dropRight(1)
          woLast.foldRight(rangeExpr(ranges.last)) { (r, acc) =>
            when(top < lit(r.spanEnd), rangeExpr(r)).otherwise(acc)
          }
        }
      col.as(name)
    }

    /** n-th value of the column's domain for driver-side use (FK oracles,
      * tests). Mirrors expr() in plain Scala. */
    def valueAt(id: Long): Any = {
      val idc = if (cycle > 0) ((id % cycle) + cycle) % cycle else id
      val top = Permutation.permute(idc, dataColumnSeed, cycle)
      val r =
        if (ranges.size == 1) ranges.head
        else ranges.find(rp => top >= rp.spanStart && top < rp.spanEnd).getOrElse(ranges.last)
      val k = if (ranges.size == 1) idc else top - r.spanStart
      val num =
        if (r.ordered) (k.toDouble * r.distinct.toDouble / r.spanRows.toDouble).toLong
        else Permutation.permute(if (r.spanRows > r.distinct) k % r.distinct else k, r.orderSeed, r.distinct)
      val draw = Rng.randomDouble(dataColumnSeed, num)
      if (r.nullPercentage > 0 && draw < r.nullPercentage) return null
      val number = num.toDouble + (if (r.jitterFactor > 0) draw * r.jitterFactor else 0.0)
      scalarValue(r, number)
    }

    private def scalarValue(r: RangePlan, number: Double): Any = r.cfg.values match {
      case Some(vs) =>
        val rowsPerValue = math.max(1L, math.ceil(r.distinct.toDouble / vs.size).toLong)
        vs((math.floor(number).toLong / rowsPerValue).toInt.min(vs.size - 1))
      case None =>
        val total = r.distinct.toDouble
        if (r.cfg.intParams.isDefined) {
          val p = r.cfg.intParams.get
          val v = Values.orderedLong(p.from, p.to, number, total)
          p.bitWidth match {
            case 8 => v.toByte
            case 16 => v.toShort
            case 32 => v.toInt
            case _ => v
          }
        } else if (r.cfg.floatParams.isDefined) {
          val p = r.cfg.floatParams.get
          val v = Values.orderedDouble(p.from, p.to, number, total)
          if (p.bitWidth == 32) v.toFloat else v
        } else if (r.cfg.dateTimeParams.isDefined) {
          val p = r.cfg.dateTimeParams.get
          java.time.Instant.EPOCH.plus(
            Values.datetimeMicros(p.fromSec, p.fromNanos, p.toSec, p.toNanos, number, total),
            java.time.temporal.ChronoUnit.MICROS)
        } else if (r.stringSpec.isDefined) {
          Values.stringValue(number, r.stringSpec.get)
        } else Values.uuidStringU(number, total).toString
    }

    private def valueExpr(r: RangePlan, number: Column): Column = r.cfg.values match {
      case Some(vs) =>
        // n-th sorted literal, each repeated ceil(total/len) times
        // (reference `value/enum.go:19-42`)
        val rowsPerValue = math.max(1L, math.ceil(r.distinct.toDouble / vs.size).toLong)
        val idx = least(
          floor(floor(number) / lit(rowsPerValue.toDouble)).cast(IntegerType),
          lit(vs.size - 1))
        val arr = array(vs.map(enumLit): _*)
        get(arr, idx)
      case None =>
        val total = lit(r.distinct.toDouble)
        if (r.cfg.intParams.isDefined) {
          val p = r.cfg.intParams.get
          val v = invokeLong("orderedLong", lit(p.from), lit(p.to), number, total)
          p.bitWidth match {
            case 8 => v.cast(ByteType)
            case 16 => v.cast(ShortType)
            case 32 => v.cast(IntegerType)
            case _ => v
          }
        } else if (r.cfg.floatParams.isDefined) {
          val p = r.cfg.floatParams.get
          val v = invokeDouble("orderedDouble", lit(p.from), lit(p.to), number, total)
          if (p.bitWidth == 32) v.cast(FloatType) else v
        } else if (r.cfg.dateTimeParams.isDefined) {
          val p = r.cfg.dateTimeParams.get
          timestamp_micros(invokeLong(
            "datetimeMicros",
            lit(p.fromSec), lit(p.fromNanos), lit(p.toSec), lit(p.toNanos), number, total))
        } else if (r.stringSpec.isDefined) {
          invokeString("stringValueU", number, reference(r.stringSpec.get))
        } else {
          invokeString("uuidStringU", number, total)
        }
    }

    private def enumLit(v: Any): Column = v match {
      case null => lit(null).cast(dataType)
      case i: java.time.Instant => lit(i).cast(dataType)
      case x => lit(x).cast(dataType)
    }
  }

  // ------------------------------------------------ StaticInvoke plumbing

  private val valuesClass = Values.getClass

  private def staticCall(cls: Class[_], dt: DataType, fn: String, args: Seq[Column]): Column =
    Bridge.column(StaticInvoke(
      cls, dt, fn, args.map(Bridge.expression),
      inputTypes = Nil, propagateNull = true, returnNullable = false, isDeterministic = true))

  private def invokeLong(fn: String, args: Column*): Column =
    staticCall(valuesClass, LongType, fn, args)
  private def invokeDouble(fn: String, args: Column*): Column =
    staticCall(valuesClass, DoubleType, fn, args)
  private def invokeString(fn: String, args: Column*): Column =
    staticCall(valuesClass, StringType, fn, args)

  /** `v` as a codegen reference object, not an inlined literal: the
    * generated source does not depend on it, so a new seed or string spec
    * reuses the compiled classes. */
  private def reference(v: AnyRef): Column = Bridge.column(Literal(v, ObjectType(v.getClass)))

  /** Feistel permutation of a column within [0, n) — the shuffle-free stand-in
    * for the reference's LFSR sequencer (`generator/utils.go:105-167`). */
  def permuteCol(i: Column, seed: Long, n: Long): Column =
    staticCall(valuesClass, LongType, "permute", Seq(i, reference(new Values.Seed(seed)), lit(n)))

  /** Stateless hash draw in [0,1) — fastRandomFloat (`generator/utils.go:169-196`). */
  def randomDoubleCol(seed: Long, n: Column): Column =
    staticCall(valuesClass, DoubleType, "randomDouble", Seq(reference(new Values.Seed(seed)), n))

  // ------------------------------------------------------------- planning

  /** Spark type of a (non-FK) column config (reference parquet schema mapping
    * `writer/parquet/parquet.go:134-139` + §1.2 of SURVEY). */
  def sparkType(c: ColumnConfig): DataType = c.typ match {
    case "integer" =>
      val bw = c.ranges.flatMap(_.intParams).map(_.bitWidth).headOption.getOrElse {
        // enum-only integer column: widest literal wins (reference coerces to
        // the declared bit width; default 64 keeps all literals representable)
        64
      }
      bw match {
        case 8 => ByteType
        case 16 => ShortType
        case 32 => IntegerType
        case _ => LongType
      }
    case "float" =>
      if (c.ranges.flatMap(_.floatParams).map(_.bitWidth).headOption.contains(32)) FloatType
      else if (c.ranges.exists(_.floatParams.isDefined)) DoubleType
      else DoubleType
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
        math.max(0.0, factor), ordered, orderSeed, r.nullPercentage, r,
        r.stringParams.map(Values.StringSpec(_, distinct.toDouble)))
      spanOffset += spanRows
      plan
    }

    val nullable = dataColumn.ranges.exists(r =>
      r.nullPercentage > 0 || r.values.exists(_.contains(null)))

    ColumnPlan(
      column.name, sparkType(dataColumn), nullable, cycle, dataColumnSeed, rangePlans)
  }
}
