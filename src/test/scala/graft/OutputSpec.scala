package graft

import graft.config.ConfigParser
import graft.engine.{Engine, NioLocalFs, Output}

import org.apache.hadoop.fs.{LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.Locale
import scala.jdk.CollectionConverters._

/** File-sink pins: the csv writer options and value formatting, parquet's
  * timestamp unit and per-column dictionaries, the local file system's
  * modes and sidecars, and the backup metadata under concurrent jobs and
  * processes. */
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

  private def modeOf(p: Path): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("NioLocalFs applies the given mode and is the class a writer's conf gets") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = NioLocalFs(conf)
    val dir = Files.createTempDirectory("niolocal")
    val file = dir.resolve("f")
    Files.write(file, Array[Byte](1))
    Seq("640" -> "rw-r-----", "755" -> "rwxr-xr-x", "600" -> "rw-------", "644" -> "rw-r--r--").foreach {
      case (octal, symbolic) =>
        fs.setPermission(new HPath(file.toString), new FsPermission(Integer.parseInt(octal, 8).toShort))
        assert(modeOf(file) == symbolic, octal)
    }
    // create and mkdirs give the modes Hadoop computes from the conf's umask
    val umask = FsPermission.getUMask(conf)
    val out = fs.create(new HPath(dir.resolve("a/b/c").toString), true)
    out.close()
    assert(modeOf(dir.resolve("a/b/c")) == FsPermission.getFileDefault.applyUMask(umask).toString)
    assert(modeOf(dir.resolve("a/b")) == FsPermission.getDirDefault.applyUMask(umask).toString)
    assert(!Files.exists(dir.resolve("a/b/.c.crc")))
    // link status: a plain file is no symlink, a symlink keeps its target
    assert(!fs.getFileLinkStatus(new HPath(file.toString)).isSymlink)
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    assert(fs.getFileLinkStatus(new HPath(link.toString)).getSymlink.toUri.getPath == file.toString)
    // the FileSystem cache already holds the checksummed default for file:,
    // yet a conf with the writer options yields NioLocalFs
    val p = new HPath(dir.toUri)
    assert(p.getFileSystem(conf).isInstanceOf[LocalFileSystem])
    val writerConf = spark.sessionState.newHadoopConfWithOptions(NioLocalFs.WriterOptions)
    assert(p.getFileSystem(writerConf).getClass == classOf[NioLocalFs])
  }

  test("a partitioned parquet run leaves no .crc and Hadoop's modes, after an earlier file: access") {
    val dir = Files.createTempDirectory("nocrc")
    // touch file: through the session first, so the FileSystem cache holds
    // the checksummed default before the write starts
    spark.range(10).write.parquet(dir.resolve("earlier").toString)
    assert(new HPath(dir.toUri).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[LocalFileSystem])
    val meta = dir.resolve("out")
    Engine.run(spark, ConfigParser.parseYaml(
      s"""
         |random_seed: 42
         |output: { type: parquet, dir: $meta }
         |models:
         |  m:
         |    rows_count: 300
         |    rows_per_file: 40
         |    checkpoint_rows: 150
         |    columns:
         |      - { name: id, type: integer, type_params: { bit_width: 64, from: 0, to: 299 }, ordered: true, distinct_percentage: 1 }
         |      - { name: grp, type: string, values: [a, b, c] }
         |    partition_columns:
         |      - { name: grp, write_to_output: true }
         |""".stripMargin))
    assert(spark.read.parquet(meta.resolve("m").toString).count() == 300)
    val walk = Files.walk(meta)
    val all = try walk.iterator().asScala.toList finally walk.close()
    val (dirs, files) = all.filter(_ != meta).partition(Files.isDirectory(_))
    assert(files.exists(_.getFileName.toString.startsWith("part-")), files)
    assert(files.exists(_.getFileName.toString == "backup.json"), files)
    assert(files.exists(_.getFileName.toString == "m_checkpoint.json"), files)
    assert(!files.exists(_.getFileName.toString.endsWith(".crc")), files)
    assert(!files.exists(_.getFileName.toString.endsWith(".tmp")), files)
    assert(dirs.map(d => meta.relativize(d).toString).sorted == Seq("m", "m/grp=a", "m/grp=b", "m/grp=c"))
    files.foreach(f => assert(modeOf(f) == "rw-r--r--", f))
    dirs.foreach(d => assert(modeOf(d) == "rwxr-xr-x", d))
  }

  test("backup.json stays whole while a second JVM writes it too") {
    val dir = Files.createTempDirectory("backupjvm").toString
    val mine = ConfigParser.parseYaml(OutputSpec.backupYaml(dir, 42))
    val fingerprints = Set(Output.fingerprint(mine),
      Output.fingerprint(ConfigParser.parseYaml(OutputSpec.backupYaml(dir, 43))))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val child = new ProcessBuilder(javaBin, "-cp", System.getProperty("java.class.path"),
      "graft.BackupWriterMain", dir, "43", "300")
      .redirectError(ProcessBuilder.Redirect.DISCARD).start()
    val stdout = new java.io.BufferedReader(new java.io.InputStreamReader(child.getInputStream))
    try {
      assert(stdout.readLine() == "ready")
      var writes = 0
      while (child.isAlive || writes < 50) {
        Output.writeBackup(spark, mine)
        writes += 1
        // a reader never sees a half-written file
        val json = mapper.readTree(new java.io.File(s"$dir/backup.json"))
        assert(fingerprints.contains(json.path("fingerprint").asText()), json)
      }
      assert(child.waitFor() == 0)
      assert(stdout.readLine() == "done")
    } finally child.destroyForcibly()
    val json = mapper.readTree(new java.io.File(s"$dir/backup.json"))
    assert(fingerprints.contains(json.path("fingerprint").asText()), json)
    val leftovers = new java.io.File(dir).listFiles().map(_.getName).filter(_ != "backup.json")
    assert(leftovers.isEmpty, leftovers.toSeq)
  }

  /** A `gen_parquet`-shaped job at test size: unique ids, names, phones,
    * templates, datetimes and uuids next to enum, few-valued and FK columns,
    * an FK child partitioned by status with `rows_per_file`, and two
    * `checkpoint_rows` slices per model. The child's tasks hold 8 rows per
    * parent id and the parent's names are at most 3 letters long, so
    * `customer_id` and `first_name` repeat inside every file. */
  private def uniqueYaml(dir: String, idParquet: String): String =
    s"""
       |random_seed: 11
       |output: { type: parquet, dir: $dir, params: { compression_codec: snappy } }
       |models:
       |  customers:
       |    rows_count: 500
       |    checkpoint_rows: 250
       |    columns:
       |      - { name: id, type: integer, type_params: { bit_width: 64, from: 1, to: 9000000000000000000 }, distinct_percentage: 1, ordered: true $idParquet }
       |      - { name: first_name, type: string, type_params: { logical_type: first_name, max_length: 3 } }
       |      - { name: phone, type: string, type_params: { logical_type: phone } }
       |      - { name: passport, type: string, type_params: { template: "AA 00 000 000" } }
       |      - { name: created_at, type: datetime, ordered: true, type_params: { from: "2015-01-01T00:00:00Z", to: "2025-01-01T00:00:00Z" } }
       |      - { name: token, type: uuid }
       |      - { name: tier, type: string, values: [bronze, silver, gold, platinum] }
       |  orders:
       |    rows_count: 32000
       |    rows_per_file: 4000
       |    checkpoint_rows: 16000
       |    partition_columns: [ { name: status } ]
       |    columns:
       |      - { name: customer_id, foreign_key: customers.id }
       |      - { name: status, type: string, values: [cancelled, new, paid, shipped] }
       |      - { name: amount, type: float, type_params: { bit_width: 64, from: 0.5, to: 5000 } }
       |      - name: quantity
       |        type: integer
       |        ranges:
       |          - { type_params: { from: 1, to: 9 }, range_percentage: 0.85 }
       |          - { type_params: { from: 100, to: 999 }, range_percentage: 0.15 }
       |      - { name: note, type: string, null_percentage: 0.4, type_params: { logical_type: text, min_length: 16, max_length: 96 } }
       |      - { name: placed_at, type: datetime, type_params: { from: "2015-01-01T00:00:00Z", to: "2025-01-01T00:00:00Z" } }
       |""".stripMargin

  /** A data file's path under its model dir, without the write job's UUID:
    * the same task and file counter of the same slice gets the same key. */
  private def fileKey(root: java.io.File, f: java.io.File): String =
    root.toPath.relativize(f.toPath).toString
      .replaceAll("-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "")

  /** Keys of the files each slice added under a model dir, in slice order. */
  private final class SliceFiles(root: java.io.File) {
    private var seen = Set.empty[String]
    val slices = Seq.newBuilder[Map[String, java.io.File]]
    def mark(): Unit = {
      val now = dataFiles(root).map(f => f.getPath -> f).toMap
      slices += (now -- seen).values.map(f => fileKey(root, f) -> f).toMap
      seen = now.keySet
    }
  }

  /** The thrift footer with each column chunk's `encodings` list sorted,
    * and the offset where it starts. */
  private def footer(f: java.io.File): (org.apache.parquet.format.FileMetaData, Int) = {
    val bytes = Files.readAllBytes(f.toPath)
    val len = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val start = bytes.length - 8 - len
    val meta = org.apache.parquet.format.Util.readFileMetaData(
      new java.io.ByteArrayInputStream(bytes, start, len))
    meta.getRow_groups.asScala.flatMap(_.getColumns.asScala).foreach { c =>
      val md = c.getMeta_data
      md.setEncodings(md.getEncodings.asScala.sortBy(_.getValue).asJava)
    }
    (meta, start)
  }

  private val uniqueColumns = Map(
    "customers" -> Set("id", "phone", "passport", "created_at", "token"),
    "orders" -> Set("amount", "note", "placed_at"))
  private val dictionaryColumns = Map(
    "customers" -> Set("first_name", "tier"),
    "orders" -> Set("quantity", "customer_id"))

  /** Runs [[uniqueYaml]] through `Engine.run`, writes the same slices again
    * with a dictionary forced on for every column that declares no encoding
    * (what every such column got before the planner's unique fact), and
    * checks that every pair of files agrees byte for byte up to the footer,
    * and in the footer up to the order of `encodings`; that the unique
    * columns have no dictionary page and the repeating ones one in every
    * file; and that the run printed one writer-v2 note per model that
    * declares a DELTA column, whatever its slice count. */
  private def checkUniqueWrite(idParquet: String): Unit = {
    val dir = Files.createTempDirectory("pqunique").toString
    val refDir = Files.createTempDirectory("pqdictref").toString
    val cfg = ConfigParser.parseYaml(uniqueYaml(dir, idParquet))
    val o = cfg.output.asInstanceOf[graft.config.ParquetOutput]
    val models = cfg.activeModels
    val ours = models.map(m => m.name -> new SliceFiles(new java.io.File(Output.modelPath(cfg, m)))).toMap
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    try Engine.run(spark, cfg, onSliceDone = (m, _) => ours(m).mark())
    finally System.setErr(stderr)
    // the writer-v2 note comes once per model and job, not once per slice
    val notes = err.toString.linesIterator.count(_.startsWith("[output] note"))
    assert(notes == models.count(_.columns.exists(_.parquet.exists(_.encoding.startsWith("DELTA_")))), err)

    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    val ref = try models.map { m =>
      val root = new java.io.File(s"$refDir/${m.modelDir}")
      val files = new SliceFiles(root)
      val options = Output.parquetOptions(o, m, Nil) + ("parquet.enable.dictionary" -> "true")
      (0L until m.rowsCount by m.checkpointRows).foreach { a =>
        val slice = m.copy(generateFrom = a, generateTo = math.min(a + m.checkpointRows, m.rowsCount))
        val w = Engine.modelFrame(spark, cfg, slice).write.format("parquet").options(options)
          .option("maxRecordsPerFile", m.rowsPerFile).mode("append")
        (if (m.partitionColumns.isEmpty) w else w.partitionBy(m.partitionColumns.map(_.name): _*)).save(root.getPath)
        files.mark()
      }
      m.name -> files.slices.result()
    }.toMap
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))

    models.foreach { m =>
      val (a, b) = (ours(m.name).slices.result(), ref(m.name))
      assert(a.size == 2 && a.map(_.keySet) == b.map(_.keySet), s"${m.name}: ${a.map(_.keySet)} vs ${b.map(_.keySet)}")
      val pairs = a.zip(b).flatMap { case (x, y) => x.keys.toSeq.sorted.map(k => (x(k), y(k))) }
      val dictPages = pairs.map { case (ourFile, refFile) =>
        val (ourMeta, ourStart) = footer(ourFile)
        val (refMeta, refStart) = footer(refFile)
        assert(ourStart == refStart && ourFile.length == refFile.length, s"$ourFile vs $refFile")
        val (x, y) = (Files.readAllBytes(ourFile.toPath), Files.readAllBytes(refFile.toPath))
        assert(java.util.Arrays.equals(x, 0, ourStart, y, 0, refStart), s"data pages differ: $ourFile vs $refFile")
        assert(ourMeta == refMeta, s"$ourFile footer\n$ourMeta\nvs\n$refMeta")
        ourMeta.getRow_groups.asScala.flatMap(_.getColumns.asScala).map { c =>
          c.getMeta_data.getPath_in_schema.asScala.mkString(".") -> c.getMeta_data.isSetDictionary_page_offset
        }.groupMap(_._1)(_._2)
      }
      def pages(c: String) = dictPages.flatMap(_.getOrElse(c, Nil))
      uniqueColumns(m.name).foreach(c => assert(pages(c).nonEmpty && !pages(c).exists(identity), s"${m.name}.$c"))
      dictionaryColumns(m.name).foreach(c => assert(pages(c).nonEmpty && pages(c).forall(identity), s"${m.name}.$c"))
    }
  }

  test("unique columns are written with no dictionary, byte for byte as with one") {
    val cfg = ConfigParser.parseYaml(uniqueYaml("/tmp/unused", ""))
    val facts = cfg.activeModels.map(m =>
      m.name -> graft.gen.Planner.planModel(cfg, m).filter(_.unique).map(_.name).toSet).toMap
    assert(facts == uniqueColumns, facts)
    checkUniqueWrite("")
  }

  test("a declared DELTA column puts the model on writer v2, and unique columns still match") {
    checkUniqueWrite(", parquet: { encoding: DELTA_BINARY_PACKED }")
  }

  test("the unique fact and the dictionary options: a declared encoding wins") {
    val cfg = ConfigParser.parseYaml(
      """
        |random_seed: 5
        |output: { type: parquet, dir: /tmp/unused }
        |models:
        |  p:
        |    rows_count: 1000
        |    columns:
        |      - { name: v, type: integer, type_params: { bit_width: 64 }, distinct_percentage: 0.5, ordered: true }
        |  m:
        |    rows_count: 400
        |    columns:
        |      - { name: id, type: integer, type_params: { bit_width: 64 }, distinct_percentage: 1, ordered: true }
        |      - { name: u_dict, type: uuid, parquet: { encoding: RLE_DICTIONARY } }
        |      - { name: u_plain, type: uuid, parquet: { encoding: PLAIN } }
        |      - { name: few, type: integer, type_params: { from: 1, to: 9 } }
        |      - { name: pick, type: string, values: [a, b] }
        |      - { name: half, type: integer, type_params: { bit_width: 64 }, distinct_percentage: 0.5 }
        |      - { name: fk_ordered, foreign_key: p.v, foreign_key_order: true }
        |      - { name: wide, type: float, type_params: { bit_width: 64, from: 0.5, to: 5000 } }
        |      - { name: narrow, type: float, type_params: { bit_width: 32, from: 1, to: 1.0001 } }
        |      - { name: seconds, type: datetime, type_params: { from: "2020-01-01T00:00:00Z", to: "2020-01-02T00:00:00Z" } }
        |      - { name: sub_second, type: datetime, type_params: { from: "2020-01-01T00:00:00Z", to: "2020-01-01T00:00:01.5Z" } }
        |      - { name: note, type: string, type_params: { logical_type: text, min_length: 16, max_length: 96 } }
        |      - { name: short_note, type: string, type_params: { logical_type: text, min_length: 1, max_length: 8 } }
        |      - { name: one_length, type: string, type_params: { logical_type: text, min_length: 40, max_length: 40 } }
        |      - { name: code, type: string, type_params: { min_length: 1, max_length: 3 } }
        |      - { name: slug, type: string, type_params: { min_length: 8, max_length: 12 } }
        |      - { name: plate, type: string, type_params: { template: "A 000 aa" } }
        |      - { name: phone, type: string, type_params: { logical_type: phone } }
        |""".stripMargin)
    val m = cfg.model("m")
    val plans = graft.gen.Planner.planModel(cfg, m)
    // the FK's parent positions repeat (500 values over its 1000-row span);
    // the float32 and sub-second ranges round distinct numbers together; a
    // short text's first length groups hold a few texts each, a text of one
    // length leaves its jittered ranks no room, and a short string's
    // one-letter values each take a stretch of one value number
    val unique = Set("id", "u_dict", "u_plain", "wide", "seconds", "note", "slug", "plate", "phone")
    assert(plans.filter(_.unique).map(_.name).toSet == unique)
    def values(name: String) = {
      val p = plans.find(_.name == name).get
      (0L until m.rowsCount).map(p.valueAt)
    }
    unique.foreach { c =>
      val vs = values(c)
      assert(!vs.contains(null) && vs.distinct.size == vs.size, c)
    }
    Seq("short_note", "code").foreach { c =>
      val vs = values(c)
      assert(vs.distinct.size < vs.size, c)
    }
    val dictionary = Output.parquetOptions(cfg.output.asInstanceOf[graft.config.ParquetOutput], m, plans)
      .collect { case (k, v) if k.startsWith("parquet.enable.dictionary#") => k.stripPrefix("parquet.enable.dictionary#") -> v }
    assert(dictionary == (unique - "u_dict").map(_ -> "false").toMap + ("u_dict" -> "true"), dictionary)
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

object OutputSpec {
  def backupYaml(dir: String, seed: Long): String =
    s"""
       |random_seed: $seed
       |output: { type: devnull, dir: $dir }
       |models:
       |  m:
       |    rows_count: 10
       |    columns:
       |      - { name: id, type: uuid }
       |""".stripMargin
}

/** The second process of OutputSpec's cross-process backup test: writes
  * `backup.json` under `<dir>` `<n>` times for `random_seed` `<seed>`,
  * through the Hadoop conf alone (no Spark session). Prints `ready` after
  * the first write and `done` after the last.
  * Usage: BackupWriterMain <dir> <seed> <n> */
object BackupWriterMain {
  def main(args: Array[String]): Unit = {
    val Array(dir, seed, n) = args
    val cfg = ConfigParser.parseYaml(OutputSpec.backupYaml(dir, seed.toLong))
    val conf = new org.apache.hadoop.conf.Configuration()
    Output.writeBackup(conf, cfg)
    println("ready")
    (1 until n.toInt).foreach(_ => Output.writeBackup(conf, cfg))
    println("done")
  }
}
