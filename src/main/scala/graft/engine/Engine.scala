package graft.engine

import graft.config._
import graft.gen.Planner

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Job runner: validated config -> one Spark write action per model.
  *
  * The whole reference execution pipeline (worker pool, batch channels,
  * ordered-commit syncer, flush tickers — sdvg `usecase/general/task.go:174-294`,
  * `common/pool.go`, `common/syncer.go`) collapses into: per model,
  * `spark.range(generate_from, generate_to).select(columnExprs)` followed by a
  * DataFrameWriter commit. Parallelism = Spark tasks over range partitions;
  * deterministic content at any parallelism because every column expression is
  * a pure function of the absolute row id.
  *
  * Scale design: the projection has NO shuffle, NO driver state, and no
  * cross-row dependence, so a 100 TB generation job is purely write-bound;
  * partition count is sized from rows_per_file/batch hints so each task emits
  * file-sized chunks.
  */
object Engine {

  /** DataFrame of one model (not yet written). */
  def modelFrame(spark: SparkSession, cfg: GenerationConfig, model: ModelConfig): DataFrame =
    frame(spark, model, Planner.planModel(cfg, model))

  private def frame(spark: SparkSession, model: ModelConfig, plans: Seq[Planner.ColumnPlan]): DataFrame = {
    val rows = model.generateTo - model.generateFrom
    val partitions = choosePartitions(spark, rows, model)
    val base = spark.range(model.generateFrom, model.generateTo, 1, partitions)
    base.select(plans.map(_.expr(col("id"))): _*)
  }

  /** The same model as a rate-limited LIVE STREAM (SURVEY §2.8's declared
    * extension): the identical column expressions applied to the rate
    * source's monotonically increasing `value`, wrapped modulo `rows_count`
    * so the stream cycles through the model's exact value space forever.
    * A stream row with row_id = v is bit-identical to batch row id = v —
    * one logical plan builder, two execution modes. With `includeRowId` the
    * absolute id rides along for downstream keying/verification.
    *
    * Feeds load tests and live demo sinks the reference cannot: its pipeline
    * is strictly bounded; here the SAME generators run unbounded because
    * they were pure id->value functions from the start. */
  def modelStream(
      spark: SparkSession, cfg: GenerationConfig, model: ModelConfig,
      rowsPerSecond: Long, includeRowId: Boolean = false): DataFrame = {
    val plans = Planner.planModel(cfg, model)
    val src = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
    val id = col("value") % lit(math.max(model.rowsCount, 1L))
    val cols =
      if (includeRowId) id.as("row_id") +: plans.map(_.expr(id))
      else plans.map(_.expr(id))
    src.select(cols: _*)
  }

  private def choosePartitions(spark: SparkSession, rows: Long, model: ModelConfig): Int = {
    val cores = spark.sparkContext.defaultParallelism
    // target ~file-sized tasks: rows_per_file caps rows per task where set,
    // otherwise aim for >= cores tasks with at most ~4M rows per task
    val byFile =
      if (model.rowsPerFile > 0 && model.rowsPerFile < rows) math.ceil(rows.toDouble / model.rowsPerFile)
      else math.ceil(rows.toDouble / 4000000.0)
    math.max(cores, math.min(byFile.toLong, 100000L).toInt)
  }

  /** Completed share (0..100) of the Spark tasks in one job group, read
    * from the status tracker: the live per-model progress the CLI bar and
    * the task server's `/status` report. 0 until the group's first stage is
    * known. */
  def groupProgress(spark: SparkSession, group: String): Double = {
    val tracker = spark.sparkContext.statusTracker
    val stages = tracker.getJobIdsForGroup(group)
      .flatMap(j => tracker.getJobInfo(j))
      .flatMap(_.stageIds().flatMap(sid => tracker.getStageInfo(sid)))
    val total = stages.map(_.numTasks()).sum
    val done = stages.map(_.numCompletedTasks()).sum
    if (total == 0) 0.0 else done.toDouble * 100.0 / total
  }

  /** Run the whole generation job: plan, conflict-check, write every model,
    * write checkpoint metadata. Returns per-model row counts.
    * `resume = true` skips the conflict pre-flight (output is appended after
    * the recomputed generate_from slice — reference "continue generation"). */
  def run(
      spark: SparkSession, cfg: GenerationConfig,
      force: Boolean = false, resume: Boolean = false,
      onModelStart: String => Unit = _ => (),
      onModelDone: String => Unit = _ => (),
      onSliceDone: (String, Long) => Unit = (_, _) => ()): Map[String, Long] = {
    if (!resume) Output.preflight(spark, cfg, force)
    val counts = cfg.activeModels.filter(m => m.generateTo > m.generateFrom).map { model =>
      // per-model hooks let a driver (the task server) scope job groups /
      // progress counters to ONE model — the reference reports generation
      // progress as a per-model percentage map, not one job-wide number
      onModelStart(model.name)
      // plans and sink options depend on the model, not on the slice
      val plans = Planner.planModel(cfg, model)
      val write = Output.modelWriter(spark, cfg, model, plans)
      // one ranged write per slice of `checkpoint_rows` rows (the whole
      // model when unset), each followed by its transactional checkpoint.
      // Values are pure functions of the absolute row id, so the slice
      // boundaries never change content — only how much a crash mid-model
      // costs to redo (one slice, not the model).
      val stride =
        if (model.checkpointRows > 0) model.checkpointRows else model.generateTo - model.generateFrom
      var a = model.generateFrom
      while (a < model.generateTo) {
        val b = math.min(a + stride, model.generateTo)
        val slice = model.copy(generateFrom = a, generateTo = b)
        write(slice, frame(spark, slice, plans))
        onSliceDone(model.name, b)
        a = b
      }
      onModelDone(model.name)
      model.name -> (model.generateTo - model.generateFrom)
    }.toMap
    Output.writeBackup(spark, cfg)
    counts
  }

  /** Resume ("continue generation"): recompute generate_from for every model
    * from its post-commit checkpoint. Three guarantees the reference's
    * sequential writer gets for free and a distributed job must build
    * (reference `backup/backup.go:63-86`, `backup/compare.go`):
    *  1. refuse to continue under a config that differs from the backup
    *     snapshot — silently mixing datasets is the worst failure mode;
    *  2. trust only the transactional checkpoint for saved rows — Spark
    *     commits task files independently, so a raw row count over a
    *     crashed job's dir is NOT a prefix of the id range;
    *  3. drop data files the checkpoint manifest doesn't know about
    *     (partial commits of the crashed job) before appending. */
  def resumedConfig(spark: SparkSession, cfg: GenerationConfig): GenerationConfig = {
    Output.checkBackup(spark, cfg)
    val models = cfg.models.map { case (name, m) =>
      Output.cleanUncommitted(spark, cfg, m)
      val saved = Output.savedRows(spark, cfg, m)
      name -> m.copy(generateFrom = math.max(m.generateFrom, math.min(saved, m.generateTo)))
    }
    cfg.copy(models = models)
  }
}
