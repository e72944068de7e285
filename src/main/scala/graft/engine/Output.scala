package graft.engine

import graft.JsonString
import graft.config._
import graft.gen.Planner

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, TimestampType}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

/** Sinks: csv / parquet / devnull / http, partitioned-write routing, conflict
  * pre-flight, backup + checkpoint metadata.
  *
  * Maps the reference's writer stack (sdvg
  * `internal/generator/output/general`, `writer/{csv,parquet,devnull,http,tcs}`)
  * onto Spark's native writers: file rotation -> `maxRecordsPerFile`, hive
  * partition routing -> `partitionBy`, buffered flush/ordered commit -> the
  * file-commit protocol, conflict scan -> explicit directory check +
  * SaveMode, checkpoint -> post-commit JSON metadata.
  */
object Output {

  def modelPath(cfg: GenerationConfig, model: ModelConfig): String = {
    val base = cfg.output.dir
    if (base.isEmpty) model.modelDir else s"$base/${model.modelDir}"
  }

  // ---- filesystem helpers ---------------------------------------------
  // All output metadata goes through the Hadoop FileSystem API so checkpoint
  // / backup / preflight behave identically for file://, hdfs:// and s3a://
  // output dirs — a 100 TB job writes to a distributed store, not the
  // driver's local disk (reference keeps everything on one node; we don't).
  // `file:` paths get [[NioLocalFs]], as the file sinks' writes do.

  private def fileSystem(spark: SparkSession, path: String): (FileSystem, HPath) =
    fileSystem(spark.sparkContext.hadoopConfiguration, path)

  private def fileSystem(conf: Configuration, path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    val scheme = Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    (if (scheme == "file") NioLocalFs(conf) else p.getFileSystem(conf), p)
  }

  /** Write small metadata atomically: a uniquely named temp file next to
    * the target, then one rename that replaces the target. A reader, in
    * this JVM or another, sees the old content or the new one, never a
    * half-written file, and there is no window where NO checkpoint exists
    * (a driver crash there would make a later resume treat the dir as
    * uncommitted and wipe it). Concurrent jobs may share one dir
    * (task-server requests all write its `backup.json`); the last rename
    * wins.
    *
    * On `file:` the rename is `Files.move(ATOMIC_MOVE)`, which is rename(2)
    * and replaces the target in one step, across processes too. Other
    * schemes use `FileContext.rename(OVERWRITE)`: atomic on HDFS, and on
    * object stores (s3a) a copy + delete that stays best-effort, the
    * documented caveat of metadata-on-object-store layouts. A scheme with
    * no `FileContext` binding falls back to delete-then-rename. */
  private def writeStringAtomic(fs: FileSystem, target: HPath, content: String): Unit = {
    fs.mkdirs(target.getParent)
    val tmp = new HPath(target.getParent, s".${target.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    fs match {
      case local: NioLocalFs =>
        Files.move(local.pathToFile(tmp).toPath, local.pathToFile(target).toPath, StandardCopyOption.ATOMIC_MOVE)
      case _ =>
        val (qTmp, qTarget) = (fs.makeQualified(tmp), fs.makeQualified(target))
        try {
          val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
          fc.rename(qTmp, qTarget, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        } catch {
          case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
            if (fs.exists(qTarget)) fs.delete(qTarget, false)
            fs.rename(qTmp, qTarget)
        }
    }
  }

  private def readString(fs: FileSystem, p: HPath): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        Some(new String(bytes.toByteArray, StandardCharsets.UTF_8))
      } finally in.close()
    }

  /** Streams every committed data file under a model dir through `f` —
    * excludes Spark/Hadoop bookkeeping (`_SUCCESS`, `_temporary`, `.crc`).
    * Fold-style so callers can compute bounded summaries (count, max mtime)
    * or delete selectively WITHOUT materializing a million-entry path list on
    * the driver — at 100 TB the file listing must be O(1) memory. */
  private def foreachDataFile(fs: FileSystem, root: HPath)(
      f: org.apache.hadoop.fs.FileStatus => Unit): Unit = {
    if (!fs.exists(root)) return
    def walk(p: HPath): Unit =
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          if (st.isDirectory) walk(st.getPath) else f(st)
        }
      }
    walk(root)
  }

  /** Resume metadata (`backup.json`, checkpoints) lives only under a
    * configured output dir. */
  private def hasMetaDir(cfg: GenerationConfig): Boolean = cfg.output.dir.nonEmpty

  /** Only the file sinks leave data files to conflict-check, clean and
    * checkpoint; devnull and http write none. */
  private def writesFiles(cfg: GenerationConfig): Boolean = cfg.output match {
    case _: DevNullOutput | _: HttpOutput => false
    case _ => true
  }

  /** Conflict pre-flight (reference `output/general/conflicts.go:25-96`):
    * refuse to touch directories holding previous model output unless forced. */
  def preflight(spark: SparkSession, cfg: GenerationConfig, force: Boolean): Unit =
    if (writesFiles(cfg)) {
      cfg.activeModels.foreach { m =>
        val (fs, dir) = fileSystem(spark, modelPath(cfg, m))
        if (fs.exists(dir)) {
          if (force) {
            fs.delete(dir, true)
            if (hasMetaDir(cfg)) {
              // stale checkpoint would poison a later resume
              val (cfs, cp) = fileSystem(spark, checkpointPath(cfg, m))
              if (cfs.exists(cp)) cfs.delete(cp, false)
            }
          } else if (fs.listStatus(dir).nonEmpty)
            throw new IllegalStateException(
              s"output dir $dir already contains data; use force to overwrite")
        }
      }
      // force also invalidates the backup snapshot: if the forced run dies
      // before writeBackup rewrites it, a stale fingerprint would refuse a
      // legitimate resume of the NEW config even though the old data is gone
      if (force && hasMetaDir(cfg)) {
        val (bfs, bp) = fileSystem(spark, s"${cfg.output.dir}/backup.json")
        if (bfs.exists(bp)) bfs.delete(bp, false)
      }
    }

  /** Shadow-column prefix for `write_to_output: true` partition columns:
    * Spark's `partitionBy` always removes partition columns from file
    * payloads, but the reference keeps them in BOTH the hive directory and
    * the file (`model_writer.go:167-233` + `PartitionColumn.WriteToOutput`).
    * We partition by a prefixed duplicate and rename the directories after
    * commit, so payload and directory layout both match. */
  private val ShadowPrefix = "__p_"

  /** The write of one model's slices: `Engine.run` resolves it once per
    * model and calls it with each `checkpoint_rows` slice and its frame.
    * What depends on the model alone, parquet's per-column options and their
    * format note, is resolved here, once per model per job. */
  def modelWriter(
      spark: SparkSession, cfg: GenerationConfig, model: ModelConfig,
      plans: Seq[Planner.ColumnPlan]): (ModelConfig, DataFrame) => Unit =
    cfg.output match {
      case _: DevNullOutput =>
        (_, df) => df.write.format("noop").mode(SaveMode.Overwrite).save()

      case o: HttpOutput =>
        (_, df) => HttpSink.write(df, model.name, o)

      case o: ParquetOutput =>
        val options = parquetOptions(o, model, plans)
        (slice, df) => {
          // the timestamp unit is a session conf, not a writer option: set it
          // for this write only and restore the caller's value afterwards
          val key = "spark.sql.parquet.outputTimestampType"
          val prev = spark.conf.getOption(key)
          spark.conf.set(key, if (o.timestampUnit == "ms") "TIMESTAMP_MILLIS" else "TIMESTAMP_MICROS")
          try commitFiles(spark, cfg, slice, df, "parquet", options)
          finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
        }

      case o: CsvOutput =>
        // float precision + datetime formatting parity with the reference CSV
        // writer (`writer/csv/csv.go:250-289`): floats rendered with fixed
        // precision, datetimes with the configured pattern or epoch seconds
        val pattern =
          if (o.datetimeFormat.nonEmpty && o.datetimeFormat != "unix") Map("timestampFormat" -> o.datetimeFormat)
          else Map.empty[String, String]
        val options = Map("header" -> (!o.withoutHeaders).toString, "sep" -> o.delimiter) ++ pattern
        (slice, df) => {
          val formatted = df.schema.fields.foldLeft(df) { (acc, f) =>
            f.dataType match {
              case FloatType | DoubleType =>
                acc.withColumn(f.name, format_string(s"%.${o.floatPrecision}f", col(f.name)))
              case TimestampType if o.datetimeFormat == "unix" =>
                acc.withColumn(f.name, unix_timestamp(col(f.name)))
              case _ => acc
            }
          }
          commitFiles(spark, cfg, slice, formatted, "csv", options)
        }

      case o: JsonlOutput =>
        // newline-delimited JSON: Spark's json writer is already one object
        // per line, splittable per partition — the natural corpus layout.
        // ignoreNullFields=false by default so every line carries the full
        // schema (downstream readers need not infer across files).
        val options = Map("compression" -> o.compression, "ignoreNullFields" -> o.ignoreNullFields.toString)
        (slice, df) => commitFiles(spark, cfg, slice, df, "json", options)
    }

  /** The one commit every file sink shares: shadow columns for
    * `write_to_output` partition columns, file rotation, append, hive
    * partition routing, then the post-commit partition-dir rename and the
    * model's checkpoint. The shadows exist only here, so the devnull and
    * http sinks never see them. */
  private def commitFiles(
      spark: SparkSession, cfg: GenerationConfig, model: ModelConfig,
      df: DataFrame, format: String, options: Map[String, String]): Unit = {
    val path = modelPath(cfg, model)
    val shadowed = model.partitionColumns.filter(_.writeToOutput).foldLeft(df)((acc, pc) =>
      acc.withColumn(s"$ShadowPrefix${pc.name}", col(pc.name)))
    val partitionCols = model.partitionColumns.map(pc =>
      if (pc.writeToOutput) s"$ShadowPrefix${pc.name}" else pc.name)
    val w = shadowed.write.format(format).options(options).options(NioLocalFs.WriterOptions)
      .option("maxRecordsPerFile", model.rowsPerFile).mode(SaveMode.Append)
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*)).save(path)
    renameShadowPartitionDirs(spark, path)
    writeCheckpoint(spark, cfg, model)
  }

  /** Parquet writer options: codec plus per-column encoding config (SURVEY
    * §7).
    *
    * Dictionary on/off is per-column. A column the planner knows to be
    * unique (`ColumnPlan.unique`) is written with its dictionary off: its
    * dictionary never beats PLAIN, so parquet-mr would build one about as
    * large as the plain data, fail its first-page size check and re-encode
    * the page PLAIN. Switching it off skips that work and leaves the data
    * pages as they were (the reference writer has dictionaries off by
    * default, `writer/parquet/parquet.go:123`).
    * Every other column keeps parquet-mr's default, dictionary on. A declared
    * `parquet: { encoding }` wins over both: `*_DICT*` on, anything else off.
    *
    * v2-only encodings (DELTA_*) additionally need
    * parquet.writer.version=v2 — parquet-mr then emits DELTA_BINARY_PACKED
    * for ints and DELTA_BYTE_ARRAY for strings on the dictionary-off columns
    * (footers asserted in ResumeSpec).
    * BYTE_STREAM_SPLIT has NO conf hook in parquet-hadoop 1.16
    * (ParquetOutputFormat exposes no key for it): declaring it still selects
    * v2 + dictionary-off but floats fall back to PLAIN — documented
    * divergence until parquet-mr exposes the knob. */
  private[graft] def parquetOptions(
      o: ParquetOutput, model: ModelConfig, plans: Seq[Planner.ColumnPlan]): Map[String, String] = {
    val encoded = model.columns.flatMap(c => c.parquet.map(c.name -> _.encoding.toUpperCase))
      .filter(_._2.nonEmpty)
    val v2Cols = encoded.collect {
      case (name, enc) if enc.startsWith("DELTA_") || enc == "BYTE_STREAM_SPLIT" => name
    }
    if (v2Cols.nonEmpty)
      // parquet.writer.version is a FILE-level switch — one v2-only column
      // encoding flips every column (and page headers) in the model's files
      // to format v2; say so instead of flipping silently (r14 ADVICE),
      // since v2 pages are unreadable to some older consumers
      System.err.println(
        s"[output] note: column(s) ${v2Cols.sorted.mkString(", ")} of model ${model.name} declare " +
          "v2-only encodings; the whole parquet file for this model is " +
          "written as format v2 (parquet.writer.version is file-level)")
    def dictionary(name: String, on: Boolean) = s"parquet.enable.dictionary#$name" -> on.toString
    Map("compression" -> o.compression) ++
      plans.filter(_.unique).map(p => dictionary(p.name, on = false)) ++
      encoded.map { case (name, enc) => dictionary(name, enc.contains("DICT")) } ++ // declared wins
      (if (v2Cols.nonEmpty) Map("parquet.writer.version" -> "v2") else Map.empty)
  }

  /** Spark's directory name for a null partition value. The reference
    * writes the literal `col=null` instead (`model_writer.go:226-227`). */
  private val HiveNullDir = "__HIVE_DEFAULT_PARTITION__"

  /** Post-commit rename of `__p_col=v` hive dirs to `col=v` (recursively; a
    * dir level per partition column), plus null-partition layout parity:
    * `col=__HIVE_DEFAULT_PARTITION__` becomes the reference's `col=null`
    * (`model_writer.go:226-227`). Uses the Hadoop FileSystem API so it
    * works on any supported filesystem (rename is O(1) on HDFS/local;
    * copy-based on object stores — a documented cost of write_to_output). */
  private def renameShadowPartitionDirs(spark: SparkSession, root: String): Unit = {
    val (fs, hadoopPath) = fileSystem(spark, root)
    if (!fs.exists(hadoopPath)) return
    // A RESUME append re-creates the pre-rename dir while the renamed one
    // already exists; rename-onto-existing-dir is fs-dependent (fails, or
    // worse NESTS src under dst) — merge recursively instead. Part-file
    // names are job-unique (UUID per write job), so file moves never clash.
    def mergeInto(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit = {
      if (!fs.exists(dst)) {
        require(fs.rename(src, dst), s"partition-dir rename failed: $src -> $dst")
        return
      }
      fs.listStatus(src).foreach { c =>
        val d = new org.apache.hadoop.fs.Path(dst, c.getPath.getName)
        if (c.isDirectory) mergeInto(c.getPath, d)
        // a false return (e.g. dst already exists) must ABORT, not fall
        // through to the delete below — silently erasing the unmoved file
        else require(fs.rename(c.getPath, d), s"partition-file move failed: ${c.getPath} -> $d")
      }
      fs.delete(src, true)
    }
    def walk(p: org.apache.hadoop.fs.Path): Unit = {
      fs.listStatus(p).filter(_.isDirectory).foreach { st =>
        val name = st.getPath.getName
        var fixed = if (name.startsWith(ShadowPrefix)) name.stripPrefix(ShadowPrefix) else name
        if (fixed.endsWith(s"=$HiveNullDir"))
          fixed = fixed.stripSuffix(HiveNullDir) + "null"
        val target =
          if (fixed != name) {
            val renamed = new org.apache.hadoop.fs.Path(p, fixed)
            mergeInto(st.getPath, renamed)
            renamed
          } else st.getPath
        walk(target)
      }
    }
    walk(hadoopPath)
  }

  private val mapper = new ObjectMapper()

  private def checkpointPath(cfg: GenerationConfig, model: ModelConfig): String =
    s"${cfg.output.dir}/${model.name}_checkpoint.json"

  /** Rows already committed for `model`, read from the transactional
    * checkpoint — NEVER from a raw row count. Spark commits task files
    * independently, so after a mid-job failure the data dir holds an
    * arbitrary subset of partitions, not rows [0, count): counting them
    * (what the reference's sequential Syncer allows — `csv.go:160-245`,
    * `parquet.go:341-456`) would resume into duplicates and gaps. The
    * checkpoint is written only after a fully successful action, so its
    * `saved_rows` is a true prefix by construction. */
  def savedRows(spark: SparkSession, cfg: GenerationConfig, model: ModelConfig): Long = {
    if (!hasMetaDir(cfg)) return 0L
    val (fs, p) = fileSystem(spark, checkpointPath(cfg, model))
    readString(fs, p).map(s => mapper.readTree(s).path("saved_rows").asLong(0L)).getOrElse(0L)
  }

  /** Delete data files newer than the last checkpoint's commit watermark —
    * leftovers of a job that died after committing some tasks. Called before
    * a `--continue` append so the resumed dataset is exactly
    * rows [0, saved_rows) + the new slice (no dups, no gaps). With no
    * checkpoint at all, nothing was ever fully committed: wipe the dir.
    *
    * The checkpoint is BOUNDED (file count + max committed mtime), never a
    * full path manifest: at 100 TB a model dir holds millions of files, and
    * a driver-held path list (the previous format) is a driver-memory and
    * metadata-stall bottleneck. Stragglers from a failed follow-up job were
    * necessarily written AFTER the checkpoint, so `mtime > max_mtime`
    * identifies them with O(1) driver memory; the surviving-file count is
    * then cross-checked against the recorded count and the resume REFUSES on
    * mismatch rather than risking dups/gaps.
    *
    * Format compatibility: a v1 checkpoint (`{"saved_rows":n}` only — no
    * watermark, no manifest) means the data was committed by an engine that
    * could not record one. Treating its absence as "nothing committed" would
    * delete every file while `savedRows` still returns n — resuming would
    * then append rows [n, total) into an emptied dir, a silent permanent gap
    * of rows [0, n). So: skip the cleanup entirely and trust saved_rows (the
    * v1 writer only checkpointed after full success). A v2 checkpoint
    * (`"files"` list) cleans by the recorded set as before. */
  def cleanUncommitted(spark: SparkSession, cfg: GenerationConfig, model: ModelConfig): Unit = {
    if (!hasMetaDir(cfg) || !writesFiles(cfg)) return
    val (fs, root) = fileSystem(spark, modelPath(cfg, model))
    if (!fs.exists(root)) return
    val (cfs, cp) = fileSystem(spark, checkpointPath(cfg, model))
    readString(cfs, cp) match {
      case None =>
        // no checkpoint: nothing was ever fully committed — wipe
        foreachDataFile(fs, root)(st => fs.delete(st.getPath, false))
      case Some(json) =>
        val node = mapper.readTree(json)
        if (node.has("max_mtime")) {
          val maxMtime = node.path("max_mtime").asLong(Long.MaxValue)
          val expected = node.path("file_count").asLong(-1L)
          var kept = 0L
          foreachDataFile(fs, root) { st =>
            if (st.getModificationTime > maxMtime) fs.delete(st.getPath, false)
            else kept += 1
          }
          if (expected >= 0L && kept != expected)
            throw new IllegalStateException(
              s"resume safety check failed for ${root}: checkpoint records " +
                s"$expected committed data files but $kept survive the commit " +
                "watermark; refusing to resume into an inconsistent dir — " +
                "use force to regenerate")
        } else if (node.has("files")) {
          // v2 format: full path manifest
          val files = node.path("files")
          val committed = (0 until files.size()).map(files.get(_).asText()).toSet
          val rootUri = fs.makeQualified(root).toUri.getPath
          foreachDataFile(fs, root) { st =>
            val rel = st.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
            if (!committed.contains(rel)) fs.delete(st.getPath, false)
          }
        }
        // v1 format ({"saved_rows":n} only): skip cleanup — see scaladoc
    }
  }

  /** Transactional post-commit checkpoint
    * `<model>_checkpoint.json{"saved_rows":n,"file_count":k,"max_mtime":t}`
    * (reference `model_writer.go:120-164`). Written via temp+rename only
    * after the Spark action commits. Bounded bookkeeping — count + commit
    * watermark, O(1) regardless of file count — replaces the full path
    * manifest; see [[cleanUncommitted]] for how a resume uses it. */
  private def writeCheckpoint(spark: SparkSession, cfg: GenerationConfig, model: ModelConfig): Unit = {
    if (!hasMetaDir(cfg)) return
    val (fs, root) = fileSystem(spark, modelPath(cfg, model))
    var count = 0L
    var maxMtime = 0L
    foreachDataFile(fs, root) { st =>
      count += 1
      if (st.getModificationTime > maxMtime) maxMtime = st.getModificationTime
    }
    val (cfs, cp) = fileSystem(spark, checkpointPath(cfg, model))
    writeStringAtomic(cfs, cp,
      s"""{"saved_rows":${model.generateTo},"file_count":$count,"max_mtime":$maxMtime}""")
  }

  /** Resume fingerprint over an EXPLICIT list of the data-shaping model
    * fields — not the case-class toString, which changes whenever ANY
    * field is added and silently invalidated every pre-existing backup
    * when checkpointRows landed (adding a data-NEUTRAL knob must never
    * refuse an old resume again). generateFrom/generateTo (row slicing)
    * and checkpointRows (checkpoint stride) are deliberately absent:
    * values are pure functions of the absolute row id, so neither shapes
    * output. Column/partition configs ARE data-shaping end to end and
    * hash whole. */
  def fingerprint(cfg: GenerationConfig): String = {
    val src = cfg.models.toSeq.sortBy(_._1)
      .map { case (_, m) =>
        Seq(m.name, m.rowsCount, m.rowsPerFile, m.modelDir,
          m.columns.mkString("[", ",", "]"),
          m.partitionColumns.mkString("[", ",", "]")).mkString("\u0000")
      }
      .mkString(s"seed=${cfg.randomSeed};", "|", "")
    val d = java.security.MessageDigest.getInstance("SHA-1")
    d.digest(src.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
  }

  /** Config snapshot for resume comparison (reference `backup/backup.go:29-40`
    * writes the `backup:"true"` field subset; we snapshot a digest plus
    * human-readable summary of the resolved config). */
  def writeBackup(spark: SparkSession, cfg: GenerationConfig): Unit =
    writeBackup(spark.sparkContext.hadoopConfiguration, cfg)

  /** [[writeBackup]] with the Hadoop conf alone: a `file:` output dir needs
    * no Spark session for its metadata. */
  def writeBackup(conf: Configuration, cfg: GenerationConfig): Unit = {
    if (!hasMetaDir(cfg)) return
    val models = cfg.models.toSeq.sortBy(_._1).map { case (n, m) =>
      s"""${JsonString(n)}:{"rows_count":${m.rowsCount},"rows_per_file":${m.rowsPerFile},"columns":${m.columns.size}}"""
    }.mkString("{", ",", "}")
    val (fs, p) = fileSystem(conf, s"${cfg.output.dir}/backup.json")
    writeStringAtomic(fs, p,
      s"""{"fingerprint":"${fingerprint(cfg)}","random_seed":${cfg.randomSeed},"models":$models}""")
  }

  /** Refuse to continue into output generated from a DIFFERENT config
    * (reference `backup/compare.go:1-438` walks the config graph; we compare
    * the digest of the same field subset). No backup present -> nothing to
    * compare (fresh or pre-upgrade output dir). */
  def checkBackup(spark: SparkSession, cfg: GenerationConfig): Unit = {
    if (!hasMetaDir(cfg)) return
    val (fs, p) = fileSystem(spark, s"${cfg.output.dir}/backup.json")
    readString(fs, p).foreach { json =>
      val saved = mapper.readTree(json).path("fingerprint").asText("")
      if (saved.nonEmpty && saved != fingerprint(cfg))
        throw new IllegalStateException(
          "config differs from the one that produced this output " +
            s"(backup.json fingerprint $saved != ${fingerprint(cfg)}); " +
            "continue-generation would mix datasets — use force to regenerate")
    }
  }
}
