package graft.config

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Config front-end: YAML/JSON text -> validated [[GenerationConfig]].
  *
  * Behavioral re-implementation of the reference's three-phase pipeline
  * Parse -> FillDefaults -> Validate (sdvg `models/generator.go:70-84`,
  * `generator_model.go:109-155,183-261,551-753`). All defaults and mutual
  * exclusions match; error messages are our own. Runs entirely on the driver.
  */
object ConfigParser {

  final case class ConfigException(errors: Seq[String])
      extends RuntimeException("failed to validate generator config:\n" + errors.mkString("\n"))

  private val yamlMapper = new ObjectMapper(new YAMLFactory())
  private val jsonMapper = new ObjectMapper()

  def parseFile(path: String): GenerationConfig = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    if (path.endsWith(".json")) parseJson(text) else parseYaml(text)
  }

  def parseYaml(text: String): GenerationConfig = fromTree(yamlMapper.readTree(text))
  def parseJson(text: String): GenerationConfig = fromTree(jsonMapper.readTree(text))

  // ---------------------------------------------------------------- helpers

  private def opt(n: JsonNode, field: String): Option[JsonNode] =
    Option(n.get(field)).filterNot(_.isNull)

  private def optLong(n: JsonNode, f: String): Option[Long] = opt(n, f).map(_.asLong())
  private def optInt(n: JsonNode, f: String): Option[Int] = opt(n, f).map(_.asInt())
  private def optDouble(n: JsonNode, f: String): Option[Double] = opt(n, f).map(_.asDouble())
  private def optBool(n: JsonNode, f: String): Option[Boolean] = opt(n, f).map(_.asBoolean())
  private def optText(n: JsonNode, f: String): Option[String] = opt(n, f).map(_.asText())

  /** Accepts RFC3339 instants, date-time without zone (treated UTC), and bare
    * dates — the shapes Go's YAML time.Time decoding accepts. */
  private[config] def parseInstant(s: String): Instant = {
    val t = s.trim
    try Instant.parse(t)
    catch {
      case _: Exception =>
        try LocalDateTime.parse(t, DateTimeFormatter.ISO_LOCAL_DATE_TIME).toInstant(ZoneOffset.UTC)
        catch {
          case _: Exception => LocalDate.parse(t).atStartOfDay(ZoneOffset.UTC).toInstant
        }
    }
  }

  // ------------------------------------------------------------------ parse

  def fromTree(root: JsonNode): GenerationConfig = {
    val errs = ArrayBuffer.empty[String]
    if (root == null || !root.isObject) throw ConfigException(Seq("config must be a mapping"))

    val seed = optLong(root, "random_seed").getOrElse(0L)
    // seed 0 => time-based, explicitly non-idempotent (reference
    // `generator/utils.go:80-84`)
    val realSeed = if (seed == 0L) System.nanoTime() else seed

    val modelsNode = opt(root, "models").getOrElse {
      throw ConfigException(Seq("no model to generate"))
    }
    if (!modelsNode.isObject || !modelsNode.fields().hasNext)
      throw ConfigException(Seq("no model to generate"))

    val models = modelsNode.properties().asScala.map { e =>
      val name = e.getKey
      name -> parseModel(name, e.getValue, errs)
    }.toMap

    val ignore = opt(root, "models_to_ignore").toSeq.flatMap(_.elements().asScala.map(_.asText()))
    ignore.foreach { m =>
      if (!models.contains(m)) errs += s"models_to_ignore: unknown model $m"
    }

    val output = parseOutput(opt(root, "output"), errs)

    // FK resolution + validation (reference `models/generator.go:121-146`:
    // target must exist, must not itself be a foreign key)
    for ((mName, m) <- models; c <- m.columns if c.foreignKey.nonEmpty) {
      c.foreignKey.split("\\.", 2) match {
        case Array(pm, pc) =>
          models.get(pm) match {
            case None => errs += s"models[$mName].columns[${c.name}]: foreign key references unknown model $pm"
            case Some(parent) =>
              parent.columns.find(_.name == pc) match {
                case None =>
                  errs += s"models[$mName].columns[${c.name}]: foreign key references unknown column $pm.$pc"
                case Some(pcol) if pcol.foreignKey.nonEmpty =>
                  errs += s"models[$mName].columns[${c.name}]: foreign key of foreign key is forbidden"
                case _ => ()
              }
          }
        case _ =>
          errs += s"models[$mName].columns[${c.name}]: foreign key must be 'model.column'"
      }
    }

    if (errs.nonEmpty) throw ConfigException(errs.toSeq)
    GenerationConfig(seed, realSeed, output, models, ignore)
  }

  private def parseModel(name: String, n: JsonNode, errs: ArrayBuffer[String]): ModelConfig = {
    val rows = optLong(n, "rows_count").getOrElse(0L)
    if (rows <= 0) errs += s"models[$name]: rows_count must be greater than zero: $rows"
    val from = optLong(n, "generate_from").getOrElse(0L)
    val to = optLong(n, "generate_to").getOrElse(rows)
    if (from > rows) errs += s"models[$name]: generate_from must be <= rows_count"
    if (to > rows) errs += s"models[$name]: generate_to must be <= rows_count"
    if (from > to) errs += s"models[$name]: generate_from must be <= generate_to"
    val rowsPerFile = optLong(n, "rows_per_file").filter(_ > 0).getOrElse(rows)
    val checkpointRows = optLong(n, "checkpoint_rows").filter(_ > 0).getOrElse(0L)
    val modelDir = optText(n, "model_dir").filter(_.nonEmpty).getOrElse(name)

    var columns = opt(n, "columns").toSeq
      .flatMap(_.elements().asScala)
      .map(cn => parseColumn(name, cn, errs))
      .toSeq
    if (columns.isEmpty) errs += s"models[$name]: at least one column required"
    val dupCols = columns.groupBy(_.name).collect { case (cn, cs) if cs.size > 1 => cn }
    dupCols.foreach(cn => errs += s"models[$name]: duplicate column $cn")

    val partCols = opt(n, "partition_columns").toSeq.flatMap(_.elements().asScala).map { pn =>
      val pcName = optText(pn, "name").getOrElse {
        errs += s"models[$name]: name for partition column is required"; ""
      }
      PartitionColumn(pcName, optBool(pn, "write_to_output").getOrElse(false))
    }.toSeq
    partCols.foreach { pc =>
      if (pc.name.nonEmpty && !columns.exists(_.name == pc.name))
        errs += s"models[$name]: partition column ${pc.name} is not a column"
    }

    // non-written partition columns are shifted to the tail of the schema,
    // matching reference `generator_model.go:73-84,157-167`
    val nonWritten = partCols.filterNot(_.writeToOutput).map(_.name).toSet
    columns = columns.filterNot(c => nonWritten(c.name)) ++ columns.filter(c => nonWritten(c.name))

    ModelConfig(name, rows, from, to, rowsPerFile, modelDir, columns, partCols,
      checkpointRows)
  }

  private def parseColumn(model: String, n: JsonNode, errs: ArrayBuffer[String]): ColumnConfig = {
    val name = optText(n, "name").getOrElse { errs += s"models[$model]: column name required"; "" }
    val where = s"models[$model].columns[$name]"
    val typ = optText(n, "type").getOrElse("")
    val fk = optText(n, "foreign_key").getOrElse("")
    val fkOrder = optBool(n, "foreign_key_order").getOrElse(false)
    val ordered = optBool(n, "ordered").getOrElse(false)
    val parquetParams = opt(n, "parquet").map { p =>
      val enc = optText(p, "encoding").getOrElse("")
      // the reference's accepted encoding names (writer/parquet/parquet.go
      // encodingsByName + the two dictionary spellings); unknown names fail
      // HERE, before any generation runs
      val known = Set("", "PLAIN", "RLE", "DELTA_BINARY_PACKED", "DELTA_BYTE_ARRAY",
        "DELTA_LENGTH_BYTE_ARRAY", "BYTE_STREAM_SPLIT", "PLAIN_DICT", "RLE_DICTIONARY")
      if (!known.contains(enc.toUpperCase))
        errs += s"$where: unknown parquet encoding '$enc' (expected one of ${known.filter(_.nonEmpty).toSeq.sorted.mkString(", ")})"
      ParquetColumnParams(enc)
    }

    val inlineFields =
      Seq("type_params", "values", "null_percentage", "distinct_percentage", "distinct_count", "range_percentage")
    val hasInline = inlineFields.exists(f => opt(n, f).isDefined) || ordered
    val rangesNode = opt(n, "ranges")

    if (fk.nonEmpty) {
      if (typ.nonEmpty || rangesNode.isDefined || parquetParams.isDefined ||
        inlineFields.exists(f => opt(n, f).isDefined))
        errs += s"$where: forbidden to use foreign key with any of other params"
      return ColumnConfig(name, "", Nil, fk, fkOrder, ordered, None)
    }

    if (!Seq("integer", "float", "string", "datetime", "uuid").contains(typ))
      errs += s"$where: unknown type \"$typ\""

    if (hasInline && rangesNode.isDefined)
      errs += s"$where: forbidden to set both global type params and ranges"

    var ranges: Seq[RangeConfig] =
      rangesNode match {
        case Some(rs) => rs.elements().asScala.map(r => parseRange(where, typ, r, errs)).toSeq
        case None => Seq(parseRange(where, typ, n, errs)) // inline params become the single range
      }

    // range_percentage fill (reference `generator_model.go:229-261`): ranges
    // without an explicit weight share the remainder evenly; the last one
    // takes the exact remainder so the weights sum to 1.
    val explicitSum = ranges.map(_.rangePercentage).filter(_ > 0).sum
    val missing = ranges.count(_.rangePercentage == 0)
    if (missing > 0) {
      val avg = (1.0 - explicitSum) / missing
      var acc = explicitSum
      ranges = ranges.zipWithIndex.map { case (r, i) =>
        if (r.rangePercentage > 0) r
        else if (i == ranges.size - 1) r.copy(rangePercentage = 1.0 - acc)
        else { acc += avg; r.copy(rangePercentage = avg) }
      }
    }
    val sum = ranges.map(_.rangePercentage).sum
    if (math.abs(sum - 1.0) > 1e-9)
      errs += s"$where: sum of range percentages should be 1: got $sum"
    ranges.foreach { r =>
      if (r.rangePercentage < 0 || r.rangePercentage > 1)
        errs += s"$where: invalid range percentage should be between 0 and 1: got ${r.rangePercentage}"
      if (r.nullPercentage < 0 || r.nullPercentage > 1)
        errs += s"$where: null_percentage should be between 0 and 1"
      if (r.distinctPercentage < 0 || r.distinctPercentage > 1)
        errs += s"$where: distinct_percentage should be between 0 and 1"
    }

    ColumnConfig(name, typ, ranges, "", fkOrder, ordered, parquetParams)
  }

  private def parseRange(where: String, typ: String, n: JsonNode, errs: ArrayBuffer[String]): RangeConfig = {
    val tp = opt(n, "type_params")
    val valuesNode = opt(n, "values")
    val nullPct = optDouble(n, "null_percentage").getOrElse(0.0)
    val distinctPct = optDouble(n, "distinct_percentage").getOrElse(0.0)
    val distinctCount = optLong(n, "distinct_count").getOrElse(0L)
    val rangePct = optDouble(n, "range_percentage").getOrElse(0.0)
    val ordered = optBool(n, "ordered").getOrElse(false)

    if (valuesNode.isDefined && tp.isDefined)
      errs += s"$where: forbidden to set both values and type_params"

    val values = valuesNode.map { vn =>
      val raw = vn.elements().asScala.map(coerceEnumValue(where, typ, _, errs)).toIndexedSeq
      // sorted with nulls first (reference `generator_model.go:439-545`,
      // `common/utils.go:88-97,174-183`)
      sortEnumValues(typ, raw)
    }

    var intP: Option[IntParams] = None
    var floatP: Option[FloatParams] = None
    var stringP: Option[StringParams] = None
    var dtP: Option[DateTimeParams] = None

    if (values.isEmpty) typ match {
      case "integer" =>
        val bw = tp.flatMap(optInt(_, "bit_width")).getOrElse(Defaults.IntBitWidth)
        if (!Seq(8, 16, 32, 64).contains(bw)) errs += s"$where: unsupported integer bit width: $bw"
        else {
          val defFrom = -(1L << (bw - 1))
          val defTo = (1L << (bw - 1)) - 1
          val from = tp.flatMap(optLong(_, "from")).getOrElse(defFrom)
          val to = tp.flatMap(optLong(_, "to")).getOrElse(defTo)
          if (from > to) errs += s"$where: 'from' ($from) should be <= 'to' ($to)"
          if (from < defFrom || to > defTo) errs += s"$where: from/to out of bit_width $bw range"
          intP = Some(IntParams(bw, from, to))
        }
      case "float" =>
        val bw = tp.flatMap(optInt(_, "bit_width")).getOrElse(Defaults.FloatBitWidth)
        if (!Seq(32, 64).contains(bw)) errs += s"$where: unsupported float bit width: $bw"
        else {
          val maxV = if (bw == 32) java.lang.Float.MAX_VALUE.toDouble else java.lang.Double.MAX_VALUE
          val from = tp.flatMap(optDouble(_, "from")).getOrElse(-maxV)
          val to = tp.flatMap(optDouble(_, "to")).getOrElse(maxV)
          if (from > to) errs += s"$where: 'from' ($from) should be <= 'to' ($to)"
          floatP = Some(FloatParams(bw, from, to))
        }
      case "string" =>
        val minLen = tp.flatMap(optInt(_, "min_length")).getOrElse(Defaults.StringMinLength)
        val maxLen = tp.flatMap(optInt(_, "max_length")).getOrElse(Defaults.StringMaxLength)
        val locale = tp.flatMap(optText(_, "locale")).getOrElse(Defaults.StringLocale).toLowerCase
        val logical = tp.flatMap(optText(_, "logical_type")).getOrElse("").toLowerCase
        val template = tp.flatMap(optText(_, "template")).getOrElse("")
        if (minLen > maxLen) errs += s"$where: min_length ($minLen) should be <= max_length ($maxLen)"
        if (minLen < 1) errs += s"$where: min_length must be >= 1"
        if (!Seq("en", "ru").contains(locale)) errs += s"$where: unknown locale: $locale"
        if (!Seq("", "first_name", "last_name", "phone", "text").contains(logical))
          errs += s"$where: unknown logical type: $logical"
        stringP = Some(StringParams(
          minLen, maxLen, locale, logical, template,
          tp.flatMap(optBool(_, "without_large_letters")).getOrElse(false),
          tp.flatMap(optBool(_, "without_small_letters")).getOrElse(false),
          tp.flatMap(optBool(_, "without_numbers")).getOrElse(false),
          tp.flatMap(optBool(_, "without_special_chars")).getOrElse(false)))
      case "datetime" =>
        val from = tp.flatMap(optText(_, "from")).map(parseInstant).getOrElse(Defaults.DateTimeFrom)
        val to = tp.flatMap(optText(_, "to")).map(parseInstant).getOrElse(Defaults.DateTimeTo)
        if (from.isAfter(to)) errs += s"$where: 'from' should be <= 'to'"
        dtP = Some(DateTimeParams(from.getEpochSecond, from.getNano, to.getEpochSecond, to.getNano))
      case "uuid" => () // no params (reference `value/uuid.go`)
      case _ => ()
    }

    RangeConfig(values, intP, floatP, stringP, dtP, nullPct, distinctPct, distinctCount, rangePct, ordered)
  }

  private def coerceEnumValue(where: String, typ: String, v: JsonNode, errs: ArrayBuffer[String]): Any = {
    if (v.isNull) return null
    typ match {
      case "integer" => v.asLong()
      case "float" => v.asDouble()
      case "string" => v.asText()
      case "uuid" =>
        try java.util.UUID.fromString(v.asText()).toString
        catch { case _: Exception => errs += s"$where: invalid uuid enum value ${v.asText()}"; null }
      case "datetime" =>
        try parseInstant(v.asText())
        catch { case _: Exception => errs += s"$where: invalid datetime enum value ${v.asText()}"; null }
      case _ => v.asText()
    }
  }

  private def sortEnumValues(typ: String, vs: IndexedSeq[Any]): IndexedSeq[Any] = {
    val (nulls, nonNull) = vs.partition(_ == null)
    val sortedVals = typ match {
      case "integer" => nonNull.map(_.asInstanceOf[Long]).sorted.map(x => x: Any)
      case "float" => nonNull.map(_.asInstanceOf[Double]).sorted.map(x => x: Any)
      case "datetime" => nonNull.map(_.asInstanceOf[Instant]).sortBy(i => (i.getEpochSecond, i.getNano)).map(x => x: Any)
      case _ => nonNull.map(_.toString).sorted.map(x => x: Any)
    }
    nulls ++ sortedVals
  }

  private def parseOutput(n: Option[JsonNode], errs: ArrayBuffer[String]): OutputConfig = {
    val node = n.getOrElse(return DevNullOutput())
    val typ = optText(node, "type").getOrElse("devnull")
    val dir = optText(node, "dir").getOrElse("output")
    val params = opt(node, "params")
    typ match {
      case "devnull" => DevNullOutput(dir)
      case "csv" =>
        CsvOutput(
          dir,
          params.flatMap(optText(_, "delimiter")).getOrElse(Defaults.CsvDelimiter),
          params.flatMap(optBool(_, "without_headers")).getOrElse(false),
          params.flatMap(optInt(_, "float_precision")).getOrElse(Defaults.CsvFloatPrecision),
          params.flatMap(optText(_, "datetime_format")).getOrElse(""))
      case "parquet" =>
        ParquetOutput(
          dir,
          params.flatMap(optText(_, "compression_codec")).orElse(params.flatMap(optText(_, "compression")))
            .getOrElse("snappy").toLowerCase,
          params.flatMap(optText(_, "datetime_unit")).getOrElse("us").toLowerCase)
      case "jsonl" =>
        JsonlOutput(
          dir,
          params.flatMap(optText(_, "compression")).getOrElse("none").toLowerCase,
          params.flatMap(optBool(_, "ignore_null_fields")).getOrElse(false))
      case "http" | "tcs" =>
        val endpoint = params.flatMap(optText(_, "endpoint")).getOrElse("")
        if (endpoint.isEmpty) errs += "output: http endpoint required"
        val headers = params.flatMap(p => opt(p, "headers")).map { h =>
          h.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
        }.getOrElse(Map.empty)
        val timeout = params.flatMap(optLong(_, "timeout_ms")).getOrElse(10000L)
        HttpOutput(
          dir,
          endpoint,
          params.flatMap(optLong(_, "batch_size")).getOrElse(1000L),
          params.flatMap(optInt(_, "workers_count")).getOrElse(1),
          timeout,
          if (typ == "tcs") headers + ("x-tcs-timeout_ms" -> timeout.toString) else headers,
          if (typ == "tcs") Defaults.HttpTemplate
          else params.flatMap(optText(_, "format_template")).getOrElse(Defaults.HttpTemplate))
      case other =>
        errs += s"output: unknown type $other"
        DevNullOutput()
    }
  }
}
