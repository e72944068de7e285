package graft.config

import java.time.Instant

/** Validated generation-config object graph.
  *
  * Mirrors the reference's config model (sdvg
  * `internal/generator/models/generator.go:17-26`,
  * `generator_model.go:24-35,170-179,310-324`) after its
  * Parse -> FillDefaults -> Validate pipeline: the structures here are already
  * resolved (defaults applied, type params dispatched by column type, enum
  * literals coerced+sorted, FK references checked). There is no further plan
  * form — this IS the logical plan the engine compiles to Spark expressions.
  */
final case class GenerationConfig(
    randomSeed: Long, // as configured; 0 means "non-idempotent, derive from clock"
    realSeed: Long, // actually used
    output: OutputConfig,
    models: Map[String, ModelConfig],
    modelsToIgnore: Seq[String]) {

  def model(name: String): ModelConfig = models(name)

  /** Models to actually generate, in stable (sorted) order. */
  def activeModels: Seq[ModelConfig] =
    models.keys.toSeq.sorted.filterNot(modelsToIgnore.contains).map(models(_))
}

final case class ModelConfig(
    name: String,
    rowsCount: Long,
    generateFrom: Long,
    generateTo: Long,
    rowsPerFile: Long,
    modelDir: String,
    columns: Seq[ColumnConfig],
    partitionColumns: Seq[PartitionColumn],
    /** Intra-model checkpoint stride: > 0 splits the model into ranged
      * sub-writes of at most this many rows, checkpointing after each —
      * a crash mid-model resumes from the last completed slice instead of
      * restarting the whole model (the reference's 5s-ticker granularity,
      * `model_writer.go:120-164`, in deterministic row strides). 0 = one
      * write per model. */
    checkpointRows: Long = 0L)

final case class PartitionColumn(name: String, writeToOutput: Boolean)

final case class ColumnConfig(
    name: String,
    typ: String, // integer | float | string | datetime | uuid; "" for FK
    ranges: Seq[RangeConfig],
    foreignKey: String, // "model.column" or ""
    foreignKeyOrder: Boolean,
    ordered: Boolean, // top-level ordered flag (used by FK children w/o order)
    parquet: Option[ParquetColumnParams])

/** One weighted range of a column's mixture distribution
  * (reference `generator_model.go:310-324`). For non-range columns the single
  * inline `Params` is hoisted into `ranges` at parse, exactly like the
  * reference (`generator_model.go:203-213`). */
final case class RangeConfig(
    values: Option[IndexedSeq[Any]], // enum literals, coerced + sorted (nulls first)
    intParams: Option[IntParams],
    floatParams: Option[FloatParams],
    stringParams: Option[StringParams],
    dateTimeParams: Option[DateTimeParams],
    nullPercentage: Double,
    distinctPercentage: Double,
    distinctCount: Long,
    rangePercentage: Double,
    ordered: Boolean)

final case class IntParams(bitWidth: Int, from: Long, to: Long)
final case class FloatParams(bitWidth: Int, from: Double, to: Double)
final case class StringParams(
    minLength: Int,
    maxLength: Int,
    locale: String,
    logicalType: String, // "" | first_name | last_name | phone | text
    template: String,
    withoutLargeLetters: Boolean,
    withoutSmallLetters: Boolean,
    withoutNumbers: Boolean,
    withoutSpecialChars: Boolean)

/** Seconds + nanos kept separate: the reference interpolates them
  * independently (`value/datetime.go:29-50`). */
final case class DateTimeParams(fromSec: Long, fromNanos: Int, toSec: Long, toNanos: Int)

final case class ParquetColumnParams(encoding: String)

sealed trait OutputConfig { def typ: String; def dir: String }
final case class DevNullOutput(dir: String = "") extends OutputConfig { val typ = "devnull" }
final case class CsvOutput(
    dir: String,
    delimiter: String,
    withoutHeaders: Boolean,
    floatPrecision: Int,
    datetimeFormat: String) // java pattern or "unix"
    extends OutputConfig { val typ = "csv" }
final case class ParquetOutput(
    dir: String,
    compression: String, // snappy|gzip|zstd|lz4|uncompressed|...
    timestampUnit: String) // "ms" | "us"
    extends OutputConfig { val typ = "parquet" }

/** Newline-delimited JSON — the corpus-interchange format LLM-data pipelines
  * exchange (one document object per line, gzip-friendly, streamable).
  * Beyond-reference surface: sdvg stops at csv/parquet/http. */
final case class JsonlOutput(
    dir: String,
    compression: String, // none|gzip|zstd|bzip2|...
    ignoreNullFields: Boolean)
    extends OutputConfig { val typ = "jsonl" }
final case class HttpOutput(
    dir: String, // where Output.writeBackup writes backup.json; no data is written here
    endpoint: String,
    batchSize: Long,
    workersCount: Int,
    timeoutMillis: Long,
    headers: Map[String, String],
    template: String)
    extends OutputConfig { val typ = "http" }

object Defaults {
  val IntBitWidth = 32
  val FloatBitWidth = 32
  val StringMinLength = 1
  val StringMaxLength = 32
  val StringLocale = "en"
  val DateTimeFrom: Instant = Instant.parse("1900-01-01T00:00:00Z")
  val DateTimeTo: Instant = Instant.parse("2025-01-01T00:00:00Z")
  val CsvDelimiter = ","
  val CsvFloatPrecision = 2
  val HttpTemplate = """{ "table_name": "{{ .ModelName }}", "rows": {{ json .Rows }} }"""
}
