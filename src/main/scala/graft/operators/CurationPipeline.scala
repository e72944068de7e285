package graft.operators

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Config-driven curation: a YAML step list compiled onto the gated
  * operators, so a corpus pipeline is DATA (reviewable, diffable,
  * replayable) instead of code — the same config-first product shape as the
  * generation engine's model YAML. Each step maps 1:1 onto an operator this
  * library already gates, so the pipeline inherits their oracle-checked
  * semantics; the compiler validates every step and its parameters up
  * front and fails with a step-indexed error list (the `validate-config`
  * contract) before any Spark job runs.
  *
  * {{{
  * steps:
  *   - { op: normalize }                      # text := normalized text
  *   - { op: filter_lang, keep: [en, ru] }    # langId-based
  *   - { op: filter_quality, min_score: 0.5 }
  *   - { op: dedup_exact }                    # first doc per normalized hash
  *   - { op: filter_length, min_chars: 20, max_chars: 100000 }
  *   - { op: cap_per_source, source_col: source, k: 1000 }
  *   - { op: split, train: 0.9, val: 0.05, test: 0.05 }
  * }}}
  *
  * Each step is a row filter or row map, or one shuffle per grouping step
  * (`dedup_exact`, `cap_per_source`), so the pipeline reads each document
  * once; `filter_lm`, `extract_html`, `filter_url` and `k_anonymity`
  * aggregate or explode and join their result back. Composition order is
  * the config's order. Returns the curated frame with whatever columns the
  * steps added (`split` adds the assignment column).
  */
object CurationPipeline {

  final case class Step(op: String, params: Map[String, JsonNode])

  final class PipelineException(val errors: Seq[String])
      extends RuntimeException(errors.mkString("; "))

  private val yaml = new ObjectMapper(new YAMLFactory())

  /** `dedup_exact`'s transient rank column. */
  private val DedupRank = "dedup_rank"

  private val Known: Map[String, Set[String]] = Map(
    "normalize" -> Set.empty,
    "filter_lang" -> Set("keep"),
    "filter_quality" -> Set("min_score"),
    "filter_length" -> Set("min_chars", "max_chars"),
    "dedup_exact" -> Set.empty,
    "cap_per_source" -> Set("source_col", "k"),
    "split" -> Set("train", "val", "test"),
    "filter_repetition" -> Set("max_dup_permille"),
    "filter_lm" -> Set("min_avg_micro"),
    "k_anonymity" -> Set("quasi_id", "k"),
    "extract_html" -> Set("max_link_density_permille"),
    "filter_url" -> Set("url_col", "blocked_domains", "blocked_keywords"),
    "filter_gopher" -> Set("min_words", "max_words"))

  /** Parameters that must be present (filter_length's bounds are each
    * optional — one of them alone is meaningful; extract_html's density
    * threshold defaults to 500). */
  private val Required: Map[String, Set[String]] = Map(
    "filter_lang" -> Set("keep"),
    "filter_quality" -> Set("min_score"),
    "cap_per_source" -> Set("source_col", "k"),
    "split" -> Set("train", "val", "test"),
    "filter_repetition" -> Set("max_dup_permille"),
    "filter_lm" -> Set("min_avg_micro"),
    "k_anonymity" -> Set("quasi_id", "k"),
    "filter_url" -> Set("url_col", "blocked_domains"))

  def parse(src: String): Seq[Step] = {
    val root = yaml.readTree(src)
    val stepsNode = root.path("steps")
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    if (!stepsNode.isArray || stepsNode.size() == 0)
      errors += "pipeline must declare a non-empty `steps` list"
    val steps = (0 until stepsNode.size()).map { i =>
      val n = stepsNode.get(i)
      val op = n.path("op").asText("")
      val params = n.fields().asScala
        .filter(_.getKey != "op").map(e => e.getKey -> e.getValue).toMap
      Known.get(op) match {
        case None => errors += s"steps[$i]: unknown op '$op' (known: ${Known.keys.toSeq.sorted.mkString(", ")})"
        case Some(allowed) =>
          params.keys.filterNot(allowed).foreach(p =>
            errors += s"steps[$i] ($op): unknown parameter '$p'")
      }
      // required parameters must be PRESENT — the fail-before-any-job
      // contract covers missing keys, not just unknown/invalid ones
      Required.getOrElse(op, Set.empty).filterNot(params.contains).foreach(p =>
        errors += s"steps[$i] ($op): missing required parameter '$p'")
      op match {
        case "filter_lang" if !n.path("keep").isArray || n.path("keep").size() == 0 =>
          errors += s"steps[$i]: filter_lang needs a non-empty `keep` list"
        case "cap_per_source" if n.path("k").asLong(0L) <= 0L =>
          errors += s"steps[$i]: cap_per_source needs k > 0"
        case "split" =>
          val total = Seq("train", "val", "test").map(n.path(_).asDouble(0.0)).sum
          if (math.abs(total - 1.0) > 1e-9)
            errors += s"steps[$i]: split fractions must sum to 1, got $total"
        case "filter_repetition"
            if n.path("max_dup_permille").asLong(-1L) < 0L ||
              n.path("max_dup_permille").asLong(-1L) > 1000L =>
          errors += s"steps[$i]: filter_repetition needs max_dup_permille in [0, 1000]"
        case "extract_html"
            if n.has("max_link_density_permille") &&
              (n.path("max_link_density_permille").asLong(-1L) < 0L ||
                n.path("max_link_density_permille").asLong(-1L) > 1000L) =>
          errors += s"steps[$i]: extract_html needs max_link_density_permille in [0, 1000]"
        case "k_anonymity" if !n.path("quasi_id").isArray || n.path("quasi_id").size() == 0 =>
          errors += s"steps[$i]: k_anonymity needs a non-empty `quasi_id` list"
        case "filter_url" if n.has("blocked_domains") &&
            (!n.path("blocked_domains").isArray || n.path("blocked_domains").size() == 0) =>
          errors += s"steps[$i]: filter_url needs a non-empty `blocked_domains` list"
        case "filter_url" if n.path("blocked_keywords").isArray &&
            n.path("blocked_keywords").elements().asScala
              .exists(k => !k.asText("").matches("[a-z0-9-]+")) =>
          errors += s"steps[$i]: filter_url keywords must be lowercase alphanumeric tokens"
        case "k_anonymity" if n.path("k").asLong(0L) <= 0L =>
          errors += s"steps[$i]: k_anonymity needs k > 0"
        case "filter_gopher"
            if n.path("min_words").asLong(20L) <= 0L ||
              n.path("max_words").asLong(100000L) < n.path("min_words").asLong(20L) =>
          errors += s"steps[$i]: filter_gopher needs 0 < min_words <= max_words"
        case _ => ()
      }
      Step(op, params)
    }
    if (errors.nonEmpty) throw new PipelineException(errors.toSeq)
    steps
  }

  /** Compile and run the parsed steps over (idCol, textCol) documents.
    *
    * The id contract: the per-document steps decide each row on its own
    * text, so rows that share an id are kept or dropped one by one, and a
    * null id is a row like any other. `dedup_exact` keeps, per normalized
    * text, the row with the smallest id (a null id last), ties broken by
    * the text itself. */
  def run(docs: DataFrame, idCol: String, textCol: String, steps: Seq[Step]): DataFrame =
    steps.foldLeft(docs) { (df, s) =>
      s.op match {
        case "normalize" =>
          df.withColumn(textCol,
            graft.functions.Kernels.normalizeTextCol(col(textCol)))
        case "filter_lang" =>
          val keep = s.params("keep").elements().asScala.map(_.asText()).toSeq
          df.filter(graft.functions.TextFns.langId(col(textCol))
            .isin(keep.map(x => x: Any): _*))
        case "filter_quality" =>
          df.filter(TextAnalysis.qualityScoreOf(col(textCol)) >= s.params("min_score").asDouble())
        case "filter_length" =>
          val lo = s.params.get("min_chars").map(_.asLong()).getOrElse(0L)
          val hi = s.params.get("max_chars").map(_.asLong()).getOrElse(Long.MaxValue)
          df.filter(length(col(textCol)) >= lo && length(col(textCol)) <= hi)
        case "dedup_exact" =>
          // the Dedup.exact policy in one shuffle: the first row per exact
          // normalized-text hash, in (id, text) order
          val first = Window
            .partitionBy(md5(graft.functions.Kernels.normalizeTextCol(col(textCol))))
            .orderBy(col(idCol).asc_nulls_last, col(textCol))
          df.withColumn(DedupRank, row_number().over(first))
            .filter(col(DedupRank) === 1).drop(DedupRank)
        case "cap_per_source" =>
          Sampling.capPerStratum(df, idCol, s.params("source_col").asText(),
            s.params("k").asLong().toInt).drop("sample_rank")
        case "split" =>
          Sampling.splitAssign(df, idCol, Seq(
            "train" -> s.params("train").asDouble(),
            "val" -> s.params("val").asDouble(),
            "test" -> s.params("test").asDouble()))
        case "filter_lm" =>
          // CCNet-style LM gate: drop docs whose AVERAGE bigram log-prob
          // under the pipeline frame's own bigram LM falls below the
          // threshold (micro-nats/bigram, negative). Integer comparison
          // logprob_scaled >= min·n_bigrams — no division, no float.
          // Docs with zero bigrams carry no evidence and are kept (the
          // left join leaves their score NULL).
          val mn = s.params("min_avg_micro").asLong()
          val lp = TextAnalysis.bigramLogProb(df, idCol, textCol)
            .select(col("doc_id").as(idCol), col("n_bigrams"), col("logprob_scaled"))
          df.join(lp, Seq(idCol), "left")
            .filter(col("logprob_scaled").isNull ||
              col("logprob_scaled") >= lit(mn) * col("n_bigrams"))
            .drop("n_bigrams", "logprob_scaled")
        case "filter_gopher" =>
          // the full Gopher rule battery as one pipeline gate: word-count
          // band, mean-word-length band, alphabetic share, stopword
          // evidence — all integer signals, keep == every rule passing
          val lo = s.params.get("min_words").map(_.asLong()).getOrElse(20L)
          val hi = s.params.get("max_words").map(_.asLong()).getOrElse(100000L)
          df.filter(TextAnalysis.gopherKeep(col(textCol), lo, hi) === 1L)
        case "filter_repetition" =>
          // drop docs whose duplicate-bigram share exceeds the threshold —
          // integer per-mille comparison, no float in the gate condition;
          // a null text is dropped
          df.filter(graft.functions.Kernels.repetitionKeepCol(col(textCol),
            s.params("max_dup_permille").asLong()))
        case "extract_html" =>
          // the ingestion front door: textCol is raw HTML — replace it
          // with the boilerplate-stripped extraction and drop docs whose
          // visible text is empty after the cut (nothing downstream can
          // score an empty string). Joins on id, so pipeline columns
          // survive; n_kept/n_dropped/link_permille stay available to a
          // later audit because they ride the extraction frame, not this
          // one (same contract as filter_quality's transient score).
          val thr = s.params.get("max_link_density_permille")
            .map(_.asLong()).getOrElse(500L)
          val ex = TextAnalysis.htmlExtract(df, idCol, textCol, thr)
            .select(col(idCol), col("clean_text"))
            .filter(col("clean_text") =!= "")
          df.drop(textCol).join(ex, Seq(idCol), "inner")
            .withColumnRenamed("clean_text", textCol)
        case "filter_url" =>
          // web front-door cut: drop rows whose URL column fails the
          // domain-suffix blocklist or keyword check. Config blocklists
          // are small literals; callers with UT1-scale lists use
          // Sampling.urlFilter directly with a blocklist DataFrame.
          val urlCol = s.params("url_col").asText()
          val doms = s.params("blocked_domains").elements().asScala.map(_.asText()).toSeq
          val kws = s.params.get("blocked_keywords")
            .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
          val spark = df.sparkSession
          import spark.implicits._
          val keep = Sampling.urlFilter(df, idCol, urlCol,
              doms.toDF("domain"), "domain", kws)
            .filter(col("keep") === 1L).select(col(idCol))
          df.join(keep, Seq(idCol), "left_semi")
        case "k_anonymity" =>
          // privacy suppression: drop every row whose quasi-identifier
          // combination is held by fewer than k docs
          val qi = s.params("quasi_id").elements().asScala.map(_.asText()).toSeq
          val bad = Features.kAnonymityViolations(df, qi, s.params("k").asLong())
          df.join(bad.select(qi.map(col): _*), qi, "left_anti")
        case other => throw new IllegalStateException(s"unvalidated op $other")
      }
    }

  def runYaml(docs: DataFrame, idCol: String, textCol: String, src: String): DataFrame =
    run(docs, idCol, textCol, parse(src))
}
