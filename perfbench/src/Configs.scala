package perfbench

/** Benchmark inputs, generated from the workload seed. The program under test
  * only ever sees the config text and the corpus these describe. */
object Configs {

  /** Nonzero `random_seed` for input `i` of a workload seeded with `seed`
    * (0 would make the engine pick a clock-derived seed). */
  def derivedSeed(seed: Long, i: Long): Long = {
    val z = (seed * 1000003L + i) * 0x9E3779B97F4A7C15L
    (z >>> 1) % 1000000000000L + 1L
  }

  val ParentRows = 100000L
  val ChildRows = 300000L
  val ChildRowsPerFile = 50000L
  val Statuses = Seq("cancelled", "new", "paid", "shipped")

  /** The warm-up operation of each set-up runs on 1/WarmUpShrink of the input. */
  val WarmUpShrink = 10L

  /** Parent model `customers` and child model `orders`: the generation job
    * of the `gen_parquet` workload, with row counts divided by `shrink`. `output`
    * is the YAML of the output section. */
  def genYaml(seed: Long, output: String, shrink: Long = 1L): String =
    s"""random_seed: ${derivedSeed(seed, 0)}
       |output: $output
       |models:
       |  customers:
       |    rows_count: ${ParentRows / shrink}
       |    columns:
       |      - { name: id, type: integer, type_params: { bit_width: 64, from: 1, to: 9000000000000000000 }, distinct_percentage: 1, ordered: true }
       |      - { name: first_name, type: string, type_params: { logical_type: first_name } }
       |      - { name: phone, type: string, type_params: { logical_type: phone } }
       |      - { name: passport, type: string, type_params: { template: "AA 00 000 000" } }
       |      - { name: created_at, type: datetime, ordered: true, type_params: { from: "2015-01-01T00:00:00Z", to: "2025-01-01T00:00:00Z" } }
       |      - { name: token, type: uuid }
       |      - { name: tier, type: string, values: [bronze, silver, gold, platinum] }
       |  orders:
       |    rows_count: ${ChildRows / shrink}
       |    rows_per_file: ${ChildRowsPerFile / shrink}
       |    partition_columns: [ { name: status } ]
       |    columns:
       |      - { name: customer_id, foreign_key: customers.id }
       |      - { name: status, type: string, values: [${Statuses.mkString(", ")}] }
       |      - { name: amount, type: float, type_params: { bit_width: 64, from: 0.5, to: 5000 } }
       |      - name: quantity
       |        type: integer
       |        ranges:
       |          - { type_params: { from: 1, to: 9 }, range_percentage: 0.85 }
       |          - { type_params: { from: 100, to: 999 }, range_percentage: 0.15 }
       |      - { name: note, type: string, null_percentage: 0.4, type_params: { logical_type: text, min_length: 16, max_length: 96 } }
       |      - { name: placed_at, type: datetime, type_params: { from: "2015-01-01T00:00:00Z", to: "2025-01-01T00:00:00Z" } }
       |""".stripMargin

  def parquetOutput(dir: String): String =
    s"""{ type: parquet, dir: "$dir", params: { compression_codec: snappy } }"""

  val TaskRows = 100000L

  /** One `/generate` request body of the task API workload: 100k rows,
    * 5 columns, its own seed, output metadata under `dir` (each client has
    * its own, see the task_api notes in README.md). */
  def taskJson(seed: Long, i: Long, dir: String): String =
    s"""{"random_seed":${derivedSeed(seed, i)},"output":{"type":"devnull","dir":"$dir"},"models":{"events":{"rows_count":$TaskRows,"columns":[""" +
      """{"name":"id","type":"integer","type_params":{"bit_width":64},"distinct_percentage":1,"ordered":true},""" +
      """{"name":"user","type":"string","type_params":{"logical_type":"first_name"}},""" +
      """{"name":"kind","type":"string","values":["buy","click","view"]},""" +
      """{"name":"value","type":"float","type_params":{"from":0,"to":100}},""" +
      """{"name":"at","type":"datetime","type_params":{"from":"2020-01-01T00:00:00Z","to":"2025-01-01T00:00:00Z"}}]}}}"""

  val CorpusDocs = 20000L
  val Sources = Seq("books", "forum", "news", "web", "wiki")
  /** Distinct share of the corpus text column: the rest are exact duplicates. */
  val CorpusDistinct = 0.7
  val CapPerSource = 2000L
  val Splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  def corpusYaml(seed: Long, dir: String): String =
    s"""random_seed: ${derivedSeed(seed, 0)}
       |output: { type: parquet, dir: "$dir", params: { compression_codec: snappy } }
       |models:
       |  docs:
       |    rows_count: $CorpusDocs
       |    columns:
       |      - { name: doc_id, type: integer, type_params: { bit_width: 64, from: 1, to: 9000000000000000000 }, distinct_percentage: 1, ordered: true }
       |      - { name: text, type: string, distinct_percentage: $CorpusDistinct, type_params: { logical_type: text, min_length: 64, max_length: 512 } }
       |      - { name: source, type: string, values: [${Sources.mkString(", ")}] }
       |""".stripMargin

  val PipelineYaml: String =
    s"""steps:
       |  - { op: normalize }
       |  - { op: filter_length, min_chars: 80, max_chars: 100000 }
       |  - { op: filter_repetition, max_dup_permille: 300 }
       |  - { op: dedup_exact }
       |  - { op: cap_per_source, source_col: source, k: $CapPerSource }
       |  - { op: split, ${Splits.map { case (n, f) => s"$n: $f" }.mkString(", ")} }
       |""".stripMargin

  val CurationSteps: Seq[String] = graft.operators.CurationPipeline.parse(PipelineYaml).map(_.op)

  /** Columns of the `gen_parquet` models, in the order the engine writes them. */
  val GenColumns: Seq[String] = graft.config.ConfigParser.parseYaml(genYaml(1L, parquetOutput("gen")))
    .activeModels.flatMap(_.columns.map(_.name))
}
