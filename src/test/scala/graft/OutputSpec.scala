package graft

import graft.config.ConfigParser
import graft.engine.{Engine, Output}

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.Locale

/** File-sink pins: the csv writer options and value formatting, parquet's
  * timestamp unit, and the backup metadata under concurrent jobs. */
class OutputSpec extends SparkSuite {

  private def csvYaml(dir: String, params: String): String =
    s"""
       |random_seed: 42
       |output: { type: csv, dir: $dir, params: { $params } }
       |models:
       |  m:
       |    rows_count: 300
       |    columns:
       |      - { name: id, type: integer, type_params: { bit_width: 64, from: 0, to: 299 }, ordered: true, distinct_percentage: 1 }
       |      - { name: x, type: float, type_params: { bit_width: 64, from: -1000, to: 1000 } }
       |      - { name: ts, type: datetime, type_params: { from: "2001-01-01T00:00:00Z", to: "2020-12-31T00:00:00Z" } }
       |      - { name: grp, type: string, values: [a, b, c] }
       |    partition_columns:
       |      - { name: grp }
       |""".stripMargin

  private def dataFiles(root: java.io.File): Seq[java.io.File] =
    root.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.startsWith("part-") && !f.getName.endsWith(".crc")) Seq(f)
      else Nil
    }

  /** Raw csv lines of every partition, keyed by the hive partition value. */
  private def csvLines(dir: String): Seq[(String, String)] =
    new java.io.File(s"$dir/m").listFiles().toSeq.filter(_.isDirectory).flatMap { p =>
      val grp = p.getName.stripPrefix("grp=")
      dataFiles(p).flatMap(f => scala.io.Source.fromFile(f).getLines().toList).map(grp -> _)
    }

  /** Expected (grp, id, x, ts) of every row, straight from the model frame. */
  private def expectedRows(yaml: String): Map[Long, (String, Double, Instant)] = {
    val cfg = ConfigParser.parseYaml(yaml)
    Engine.modelFrame(spark, cfg, cfg.model("m")).collect().map { r =>
      r.getAs[Long]("id") ->
        ((r.getAs[String]("grp"), r.getAs[Double]("x"), r.getAs[java.sql.Timestamp]("ts").toInstant))
    }.toMap
  }

  private def checkpoint(dir: String): String =
    scala.io.Source.fromFile(s"$dir/m_checkpoint.json").mkString

  test("csv sink: delimiter, headers off, float precision, unix datetimes, partitioned + checkpointed") {
    val dir = java.nio.file.Files.createTempDirectory("csvunix").toString
    val yaml = csvYaml(dir,
      "delimiter: ';', without_headers: true, float_precision: 3, datetime_format: unix")
    Engine.run(spark, ConfigParser.parseYaml(yaml))
    val expected = expectedRows(yaml)
    val lines = csvLines(dir)
    assert(lines.size == 300, lines.size)
    assert(new java.io.File(s"$dir/m").listFiles().filter(_.isDirectory).map(_.getName).sorted
      .toSeq == Seq("grp=a", "grp=b", "grp=c"))
    lines.foreach { case (grp, line) =>
      val f = line.split(';')
      assert(f.length == 3, line) // partition column lives in the dir only
      val (eGrp, eX, eTs) = expected(f(0).toLong)
      assert(grp == eGrp, line)
      assert(f(1) == "%.3f".formatLocal(Locale.US, eX), line)
      assert(f(2).toLong == Math.floorDiv(eTs.toEpochMilli, 1000L), line)
    }
    assert(checkpoint(dir).contains("\"saved_rows\":300"), checkpoint(dir))
  }

  test("csv sink: header row and a datetime pattern") {
    val dir = java.nio.file.Files.createTempDirectory("csvpattern").toString
    val pattern = "yyyy/MM/dd HH:mm:ss"
    val yaml = csvYaml(dir, s"""datetime_format: "$pattern"""")
    Engine.run(spark, ConfigParser.parseYaml(yaml))
    val expected = expectedRows(yaml)
    val fmt = DateTimeFormatter.ofPattern(pattern).withZone(ZoneOffset.UTC)
    val files = new java.io.File(s"$dir/m").listFiles().toSeq.filter(_.isDirectory).flatMap(dataFiles)
    val lines = files.flatMap { f =>
      val ls = scala.io.Source.fromFile(f).getLines().toList
      assert(ls.head == "id,x,ts", ls.head)
      ls.tail
    }
    assert(lines.size == 300, lines.size)
    lines.foreach { line =>
      val f = line.split(',')
      val (_, eX, eTs) = expected(f(0).toLong)
      assert(f(1) == "%.2f".formatLocal(Locale.US, eX), line)
      assert(f(2) == fmt.format(eTs), line)
    }
    assert(checkpoint(dir).contains("\"saved_rows\":300"), checkpoint(dir))
  }

  test("parquet datetime_unit ms reaches the footer and restores the session setting") {
    val key = "spark.sql.parquet.outputTimestampType"
    def yaml(dir: String) =
      s"""
         |random_seed: 42
         |output: { type: parquet, dir: $dir, params: { datetime_unit: ms } }
         |models:
         |  m:
         |    rows_count: 100
         |    columns:
         |      - { name: ts, type: datetime }
         |""".stripMargin
    val before = spark.conf.getOption(key)
    try {
      spark.conf.unset(key)
      val default = spark.conf.get(key)
      val dir = java.nio.file.Files.createTempDirectory("pqms").toString
      Engine.run(spark, ConfigParser.parseYaml(yaml(dir)))
      assert(spark.conf.get(key) == default)
      val file = dataFiles(new java.io.File(s"$dir/m")).head
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.getAbsolutePath),
          spark.sessionState.newHadoopConf()))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val ts = schema.getType(schema.getFieldIndex("ts")).asPrimitiveType()
        assert(ts.getLogicalTypeAnnotation == org.apache.parquet.schema.LogicalTypeAnnotation
          .timestampType(true, org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MILLIS), ts)
      } finally reader.close()
      // an explicitly set value survives the model write unchanged
      spark.conf.set(key, "TIMESTAMP_MICROS")
      Engine.run(spark, ConfigParser.parseYaml(
        yaml(java.nio.file.Files.createTempDirectory("pqms2").toString)))
      assert(spark.conf.get(key) == "TIMESTAMP_MICROS")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("concurrent writeBackup calls on one dir neither fail nor leave a torn backup.json") {
    val dir = java.nio.file.Files.createTempDirectory("backuprace").toString
    val cfg = ConfigParser.parseYaml(
      s"""
         |random_seed: 42
         |output: { type: devnull, dir: $dir }
         |models:
         |  m:
         |    rows_count: 10
         |    columns:
         |      - { name: id, type: uuid }
         |""".stripMargin)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map(_ => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = (0 until 25).foreach(_ => Output.writeBackup(spark, cfg))
      }))
      futures.foreach(_.get())
    } finally pool.shutdownNow()
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$dir/backup.json"))
    assert(json.path("fingerprint").asText() == Output.fingerprint(cfg))
    // no temp file outlives its write
    val leftovers = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.endsWith(".tmp") || n.endsWith(".tmp.crc"))
    assert(leftovers.isEmpty, leftovers.toSeq)
  }

  test("fingerprint of a fixed two-model config is stable, so older backups still resume") {
    val cfg = ConfigParser.parseYaml(
      """
        |random_seed: 7
        |output: { type: parquet, dir: /tmp/unused }
        |models:
        |  customers:
        |    rows_count: 1000
        |    rows_per_file: 250
        |    columns:
        |      - { name: id, type: integer, type_params: { bit_width: 64 }, ordered: true, distinct_percentage: 1 }
        |      - { name: name, type: string, type_params: { logical_type: first_name } }
        |  orders:
        |    rows_count: 3000
        |    columns:
        |      - { name: customer_id, foreign_key: customers.id }
        |      - { name: status, type: string, values: [new, paid, shipped] }
        |    partition_columns:
        |      - { name: status, write_to_output: true }
        |""".stripMargin)
    assert(Output.fingerprint(cfg) == "b6d1306827088902481e000cc5ca800f642d032f")
  }
}
