package graft

import graft.config.{ConfigParser, GenerationConfig, ModelConfig}
import graft.engine.Engine
import graft.gen.Planner

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Pins the generator's output across commits: one content digest per model
  * of a config that covers every type, every string shape in both locales,
  * ordered / unique / null / distinct_* options, weighted ranges, enums with
  * null, foreign keys with and without order, and a partitioned model.
  *
  * Values are a pure function of (row id, seed, column config), so the digest
  * of the id-sorted rows must be the same at any partition count, through
  * `Engine.run` with `checkpoint_rows` slicing, and with code generation off
  * (interpreted expressions). A changed digest means a build writes different
  * data for the same config, and `--continue` would join two datasets under
  * one backup: that needs a generator version in `Output.fingerprint`, not a
  * new digest here. */
class GeneratorPinSpec extends SparkSuite {

  private val Pinned = Map(
    "people" -> "300d05282f06caf1ab620db25497fce70a5952a2ba84e6c22db4858e7dfbf16d",
    "orders" -> "178964d4e8b9bba97fe28be6ee280c1680cce18e3323354526b1d452b4087f87")

  private def yaml(output: String, checkpointRows: Long = 0L, seed: Long = 20240607L): String =
    s"""
       |random_seed: $seed
       |output: $output
       |models:
       |  people:
       |    rows_count: 600
       |    checkpoint_rows: $checkpointRows
       |    columns:
       |      - { name: id, type: integer, type_params: { bit_width: 64, from: 0, to: 599 }, ordered: true, distinct_percentage: 1 }
       |      - { name: i8, type: integer, type_params: { bit_width: 8 } }
       |      - { name: i16, type: integer, type_params: { bit_width: 16, from: -500, to: 500 }, null_percentage: 0.2 }
       |      - { name: i32, type: integer, type_params: { from: 10, to: 99 }, ordered: true }
       |      - { name: f32, type: float, type_params: { from: -1.5, to: 2.5 } }
       |      - { name: f64, type: float, type_params: { bit_width: 64, from: 0, to: 1000000 }, distinct_percentage: 0.5 }
       |      - { name: ts, type: datetime, type_params: { from: "2001-02-03T04:05:06.789Z", to: "2030-12-31T23:59:59Z" }, null_percentage: 0.1 }
       |      - { name: ts_ord, type: datetime, ordered: true }
       |      - { name: uid, type: uuid, distinct_percentage: 1 }
       |      - { name: s_en, type: string, type_params: { min_length: 3, max_length: 12, without_special_chars: true } }
       |      - { name: s_ru, type: string, type_params: { locale: ru, min_length: 2, max_length: 8, without_numbers: true } }
       |      - { name: s_ord, type: string, type_params: { min_length: 4, max_length: 6, without_large_letters: true, without_small_letters: true }, ordered: true }
       |      - { name: s_uniq, type: string, type_params: { min_length: 8, max_length: 16 }, distinct_percentage: 1 }
       |      - { name: s_cnt, type: string, distinct_count: 7 }
       |      - { name: fn_en, type: string, type_params: { logical_type: first_name } }
       |      - { name: fn_ru, type: string, type_params: { logical_type: first_name, locale: ru }, null_percentage: 0.3 }
       |      - { name: ln_en, type: string, type_params: { logical_type: last_name, min_length: 5, max_length: 9 } }
       |      - { name: ln_ru, type: string, type_params: { logical_type: last_name, locale: ru }, distinct_percentage: 0.1 }
       |      - { name: ph_en, type: string, type_params: { logical_type: phone } }
       |      - { name: ph_ru, type: string, type_params: { logical_type: phone, locale: ru } }
       |      - { name: tx_en, type: string, type_params: { logical_type: text, min_length: 10, max_length: 48 } }
       |      - { name: tx_ru, type: string, type_params: { logical_type: text, locale: ru, min_length: 3, max_length: 30 } }
       |      - { name: tp_en, type: string, type_params: { template: "Aa-00#AA" } }
       |      - { name: tp_ru, type: string, type_params: { template: "AAa 000", locale: ru }, ordered: true }
       |      - name: weighted
       |        type: integer
       |        ranges:
       |          - { range_percentage: 0.25, type_params: { from: 0, to: 9 } }
       |          - { range_percentage: 0.5, type_params: { from: 1000, to: 2000 }, null_percentage: 0.5, ordered: true }
       |          - { values: [7, null, 5] }
       |      - { name: e_str, type: string, values: [b, null, a, c] }
       |      - { name: e_ts, type: datetime, values: ["2020-01-01T00:00:00Z", null, "2019-06-01T12:00:00Z"] }
       |      - { name: e_f, type: float, values: [0.5, -2.25] }
       |      - { name: e_uid, type: uuid, values: ["8d4f0e4c-6f2a-4b8e-9c1d-2a3b4c5d6e7f", "0a1b2c3d-4e5f-4a6b-8c7d-9e0f1a2b3c4d"] }
       |  orders:
       |    rows_count: 900
       |    checkpoint_rows: $checkpointRows
       |    columns:
       |      - { name: id, type: integer, type_params: { bit_width: 64, from: 0, to: 899 }, ordered: true, distinct_percentage: 1 }
       |      - { name: status, type: string, values: [new, paid, shipped] }
       |      - { name: person_id, foreign_key: people.id }
       |      - { name: person_uid, foreign_key: people.uid, foreign_key_order: true }
       |      - { name: person_fn, foreign_key: people.fn_ru }
       |      - { name: person_ln, foreign_key: people.ln_en, ordered: true }
       |      - { name: person_ts, foreign_key: people.ts, foreign_key_order: true }
       |      - { name: amount, type: float, type_params: { bit_width: 64, from: 1, to: 500 } }
       |    partition_columns:
       |      - { name: status }
       |""".stripMargin

  private val devnull =
    s"{ type: devnull, dir: ${java.nio.file.Files.createTempDirectory("genpin-devnull")} }"

  /** One value as a self-delimiting token that also carries its type. */
  private def token(v: Any): String = v match {
    case null => "N"
    case s: String => s"S${s.length}:$s"
    case t: java.sql.Timestamp => s"T${t.toInstant}"
    case b: java.lang.Byte => s"b$b"
    case s: java.lang.Short => s"h$s"
    case i: java.lang.Integer => s"i$i"
    case l: java.lang.Long => s"l$l"
    case f: java.lang.Float => s"f$f"
    case d: java.lang.Double => s"d$d"
    case other => fail(s"unexpected value ${other.getClass}: $other")
  }

  /** SHA-256 over the rows sorted by `id`, columns in the model's order. */
  private def digest(df: DataFrame, model: ModelConfig): String = {
    val rows = df.select(model.columns.map(c => col(c.name)): _*).collect()
      .sortBy(_.getAs[Long]("id"))
    assert(rows.length == model.rowsCount, s"${model.name}: ${rows.length} rows")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.toSeq.map(token).mkString("|") + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The model's frame over `partitions` range partitions. */
  private def frame(s: SparkSession, cfg: GenerationConfig, m: ModelConfig, partitions: Int): DataFrame =
    s.range(m.generateFrom, m.generateTo, 1, partitions)
      .select(Planner.planModel(cfg, m).map(_.expr(col("id"))): _*)

  private def checkPinned(label: String)(digestOf: ModelConfig => String): Unit = {
    val cfg = ConfigParser.parseYaml(yaml(devnull))
    val got = cfg.activeModels.map(m => m.name -> digestOf(m)).toMap
    assert(got == Pinned, s"$label: generated values changed")
  }

  for (partitions <- Seq(1, 3, 8))
    test(s"digests are pinned at $partitions range partitions") {
      val cfg = ConfigParser.parseYaml(yaml(devnull))
      checkPinned(s"$partitions partitions")(m => digest(frame(spark, cfg, m, partitions), m))
    }

  test("digests are pinned through Engine.run with checkpoint_rows slicing and a partitioned model") {
    val dir = java.nio.file.Files.createTempDirectory("genpin").toString
    val cfg = ConfigParser.parseYaml(yaml(s"{ type: parquet, dir: $dir }", checkpointRows = 250))
    Engine.run(spark, cfg)
    assert(new java.io.File(s"$dir/orders").listFiles().exists(_.getName.startsWith("status=")))
    checkPinned("Engine.run")(m => digest(spark.read.parquet(s"$dir/${m.name}"), m))
  }

  test("digests are pinned with whole-stage codegen off and interpreted expressions") {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val cfg = ConfigParser.parseYaml(yaml(devnull))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    checkPinned("NO_CODEGEN")(m => digest(frame(s, cfg, m, 3), m))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles, "a class was compiled")
  }

  test("changing only the seed reuses the compiled code") {
    def run(seed: Long): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Engine.run(spark, ConfigParser.parseYaml(yaml(devnull, seed = seed)))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    run(11L)
    assert(run(12L) == 0L)
  }

  test("changing bounds, percentages, enum literals and string lengths reuses the compiled code") {
    // Same column types and nullability in both jobs, every other column
    // parameter different. The row count stays: Spark writes the range's
    // start and size into the generated source.
    def run(second: Boolean): Long = {
      def pick(first: Any, other: Any): Any = if (second) other else first
      val yaml =
        s"""
           |random_seed: 7
           |output: $devnull
           |models:
           |  bounds:
           |    rows_count: 400
           |    columns:
           |      - { name: i, type: integer, type_params: { from: ${pick(0, -70)}, to: ${pick(99, 5000)} }, null_percentage: ${pick(0.1, 0.4)} }
           |      - { name: f, type: float, type_params: { bit_width: 64, from: ${pick(-1.5, 10)}, to: ${pick(2.5, 1000000)} }, distinct_percentage: ${pick(0.5, 0.9)} }
           |      - { name: t, type: datetime, type_params: { from: "${pick("2001-02-03T04:05:06Z", "1999-12-31T23:59:59.5Z")}", to: "${pick("2030-01-01T00:00:00Z", "2001-01-01T00:00:00Z")}" } }
           |      - { name: s, type: string, type_params: { min_length: ${pick(3, 6)}, max_length: ${pick(12, 40)} } }
           |      - { name: e, type: string, values: [${pick("a, null, b", "x, y, null, z")}] }
           |      - { name: n, type: integer, values: [${pick("1, 2", "-5, 70, 9")}] }
           |""".stripMargin
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Engine.run(spark, ConfigParser.parseYaml(yaml))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    run(second = false)
    assert(run(second = true) == 0L)
  }

  test("ColumnPlan.valueAt matches the generated frame for every column") {
    val cfg = ConfigParser.parseYaml(yaml(devnull))
    cfg.activeModels.foreach { m =>
      val plans = Planner.planModel(cfg, m)
      val rows = Engine.modelFrame(spark, cfg, m).collect().sortBy(_.getAs[Long]("id"))
      val ids = rows.indices.filter(_ % 3 == 0)
      var nulls = 0
      for (i <- ids; (p, c) <- plans.zipWithIndex) {
        val got = rows(i).get(c)
        val expected = asType(p.valueAt(i.toLong), p.dataType)
        if (got == null) nulls += 1
        assert(token(got) == token(expected), s"${m.name}.${p.name} at id $i")
      }
      assert(nulls > 0, s"${m.name}: no null draws sampled")
    }
  }

  /** `valueAt`'s value in the Row representation of the column's type (enum
    * literals are kept as parsed: Long, Double, Instant). */
  private def asType(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (n: Number, ByteType) => n.byteValue
    case (n: Number, ShortType) => n.shortValue
    case (n: Number, IntegerType) => n.intValue
    case (n: Number, LongType) => n.longValue
    case (n: Number, FloatType) => n.floatValue
    case (n: Number, DoubleType) => n.doubleValue
    case (i: java.time.Instant, TimestampType) => java.sql.Timestamp.from(i)
    case (x, _) => x
  }
}
