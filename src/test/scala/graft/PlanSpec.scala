package graft

import graft.config.ConfigParser
import graft.engine.Engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan assertions: these encode the scale contract — filters reach
  * the parquet scan, column pruning happens, small dims broadcast, and the
  * generation projection is shuffle-free. A regression here is a performance
  * bug even when results stay correct. */
class PlanSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("filter pushdown reaches the parquet scan with pruned schema") {
    val p = plan(SparkEntry.queries("q4_filter_pushdown")(spark, sfDir))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(l_quantity,40.0)"), p)
    // only the 4 selected columns are read
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_shipdate:timestamp"), p)
  }

  test("dimension joins broadcast (no shuffle of the big fact side for dims)") {
    val p = plan(SparkEntry.queries("q2_revenue_by_nation")(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("generation plan is a single shuffle-free projection over range") {
    val cfg = ConfigParser.parseYaml(
      """
        |random_seed: 42
        |models:
        |  m:
        |    rows_count: 100000
        |    columns:
        |      - { name: id, type: uuid }
        |      - { name: v, type: integer, distinct_percentage: 1, type_params: { to: 1000000 } }
        |      - { name: name, type: string, type_params: { logical_type: first_name } }
        |      - { name: fk, type: integer, values: [1, 2, 3], null_percentage: 0.1 }
        |""".stripMargin)
    val df = Engine.modelFrame(spark, cfg, cfg.model("m"))
    val p = plan(df)
    assert(!p.contains("Exchange"), s"generation must not shuffle:\n$p")
    // whole-stage codegen active: operators carry a [codegen id : n] tag
    assert(p.contains("codegen id"), s"generation must stay in codegen:\n$p")
    assert(p.contains("Range"), p)
  }

  test("brute-force knn broadcasts the small query side") {
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val p = plan(graft.operators.Similarity.bruteForceKnn(
      embs, embs.limit(5), "vec_id", "embedding", 3))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("exact dedup is one partial-aggregated shuffle") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(graft.operators.Dedup.exact(docs, "doc_id", "text"))
    // partial agg before the exchange (map-side combine), final after;
    // the tree + detail sections each name the single Exchange once
    assert(p.contains("HashAggregate"), p)
    assert(p.split("Exchange", -1).length <= 3, s"expected exactly one shuffle:\n$p")
  }

  test("pairwise dedup/ann paths are equi-joins, never cartesian") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    for ((name, df) <- Seq(
        "ngram blocked" -> graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang"),
        "ngram prefix" -> graft.operators.Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", "lang"),
        "minhash pairs" -> graft.operators.Dedup.minhashPairs(docs, "doc_id", "text"),
        "ivf knn" -> graft.operators.Similarity.ivfKnn(
          embs, embs.limit(5), "vec_id", "embedding", 3),
        "semantic dedup" -> graft.operators.Dedup.semanticDedup(
          embs, "vec_id", "embedding", 0.4),
        "interval join" -> graft.streaming.EventStream.attributionJoin(
          graft.streaming.EventStream.purchaseSide(
            graft.streaming.EventStream.rawEvents(spark, s"$sfDir/events.parquet")),
          graft.streaming.EventStream.clickSide(
            graft.streaming.EventStream.rawEvents(spark, s"$sfDir/events.parquet")),
          lookbackMin = 30))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$name must stay equi-keyed:\n$p")
    }
  }

  test("bm25 top-k is TakeOrdered, never a global sort") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(graft.operators.TextAnalysis.bm25TopK(
      docs, "doc_id", "text", Seq("dup", "scan", "window"), k = 20))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("persisted IVF index probes read only the probed cells (partition pruning)") {
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    graft.operators.Similarity.writeIvfIndex(embs, "vec_id", "embedding", path)
    val res = graft.operators.Similarity.ivfIndexKnn(
      spark.read.parquet(path), embs.filter(embs("vec_id") < 3), "vec_id", "embedding", 3)
    val p = plan(res)
    // the scan carries a static partition filter on the cell column...
    assert(p.contains("PartitionFilters: [cell"), p)
    // ...and matches the in-memory IVF bit-for-bit
    val mem = graft.operators.Similarity.ivfKnn(
      embs, embs.filter(embs("vec_id") < 3), "vec_id", "embedding", 3)
    assert(res.orderBy("query_id", "rank").collect().toSeq ==
      mem.orderBy("query_id", "rank").collect().toSeq)
  }

  test("corpus top-k ngrams partial-aggregates before its single shuffle") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(graft.operators.TextAnalysis.topkNgrams(docs, "text"))
    // map-side combine collapses the gram explosion before the exchange:
    // two HashAggregates around one Exchange, then the global TakeOrdered
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("co-bucketed tables join without a shuffle") {
    import org.apache.spark.sql.functions.col
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
      graft.operators.Bucketing.writeBucketed(orders, "b_orders", "o_orderkey", 8)
      graft.operators.Bucketing.writeBucketed(lineitem, "b_lineitem", "l_orderkey", 8)
      val joined = graft.operators.Bucketing.colocatedJoin(
        spark, "b_lineitem", "b_orders", "l_orderkey", "o_orderkey")
      val p = plan(joined)
      assert(!p.contains("Exchange"), s"co-bucketed join must not shuffle:\n$p")
      // correctness: same row count as the plain join
      val expected = lineitem.join(orders,
        lineitem("l_orderkey") === orders("o_orderkey")).count()
      assert(joined.count() == expected)
      // single-side aggregation on the bucket key also avoids the shuffle
      val agg = spark.table("b_lineitem").groupBy(col("l_orderkey")).count()
      assert(!plan(agg).contains("Exchange"), s"bucketed groupBy must not shuffle:\n${plan(agg)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("range join buckets into an equi-join: no BroadcastNestedLoopJoin, no cartesian") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(SparkEntry.queries("q16_price_band_rangejoin")(spark, sfDir))
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"range join must not fall back to nested loop:\n$p")
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed q2 gate query: fact-fact join has no Exchange, result matches plain q2") {
    import org.apache.spark.sql.functions.col
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // forbid broadcast so the orderkey join MUST be sort-merge — proving the
    // bucketed layout (not a lucky broadcast) is what kills the Exchange
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (liT, oT) = SparkEntry.bucketedOrderTables(spark, sfDir)
      val li = spark.table(liT)
      val o = spark.table(oT)
      val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
      val p = plan(joined)
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), s"bucketed orderkey join must not shuffle:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // end-to-end: identical rows to the non-bucketed q2 (shared oracle)
    val plainQ2 = SparkEntry.queries("q2_revenue_by_nation")(spark, sfDir).collect().toSeq
    val bucketed = SparkEntry.queries("q2_revenue_by_nation_bucketed")(spark, sfDir).collect().toSeq
    assert(bucketed == plainQ2)
  }

  test("bloom-pruned join: might_contain filters the probe scan below its shuffle") {
    import org.apache.spark.sql.functions.col
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // forbid broadcast: the whole point of the bloom is pruning a SHUFFLE
    // join's probe side — with a broadcast join the question is moot
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
      val joined = graft.operators.BloomJoin
        .bloomPrunedJoin(li, o, "l_orderkey", "o_orderkey", expectedKeys = 1000L)
      val p = plan(joined)
      assert(p.contains("might_contain"), s"probe side must carry the bloom predicate:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      // the predicate must sit BELOW the exchange: in formatted explain the
      // probe-side Filter node appears before (deeper than) the Exchange that
      // feeds the join — cheap structural proxy: the simple plan string shows
      // Filter(might_contain) as a child of Exchange, never the reverse
      val simple = joined.queryExecution.executedPlan.toString
      val exIdx = simple.indexOf("Exchange")
      val bloomIdx = simple.indexOf("might_contain")
      assert(exIdx >= 0 && bloomIdx > exIdx,
        s"bloom filter must be under the probe-side Exchange:\n$simple")
      // exactness: bloom false positives die in the join
      val expected = li.join(o, li("l_orderkey") === o("o_orderkey")).count()
      assert(joined.count() == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dynamic partition pruning fires on a hive-partitioned fact join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dpp").toString + "/li"
    spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .write.partitionBy("l_returnflag").mode("overwrite").parquet(dir)
    val fact = spark.read.parquet(dir)
    // dim with a selective filter on the partition key: at plan time Spark
    // cannot know WHICH flags survive, so a static plan scans all partitions;
    // DPP injects the dim's keys as a runtime partition filter instead —
    // at 100 TB this is the difference between one partition and the table.
    // (The dim must be a real source: a LocalRelation constant-folds its
    // filter away and DPP sees no selective predicate.)
    val dimDir = java.nio.file.Files.createTempDirectory("dpp_dim").toString + "/flags"
    Seq(("A", "keep"), ("X", "drop")).toDF("flag", "tag")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter($"tag" === "keep")
    val q = fact.join(dim, fact("l_returnflag") === dim("flag"))
      .agg(sum($"l_quantity"))
    val p = plan(q)
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"partition filter must be runtime-injected:\n$p")
    // and it actually prunes: only flag A rows are read
    val exact = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .filter($"l_returnflag" === "A").agg(sum($"l_quantity")).head().getDouble(0)
    assert(math.abs(q.head().getDouble(0) - exact) < 1e-6)
  }

  test("compact: fewer files, bounded rows per file, disjoint key ranges, content kept") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("compact_spec").toString
    docs.repartition(40).write.mode("overwrite").parquet(s"$tmp/frag")
    val fragFiles = new java.io.File(s"$tmp/frag").listFiles()
      .count(_.getName.endsWith(".parquet"))
    graft.operators.Layout.compact(
      spark.read.parquet(s"$tmp/frag"), s"$tmp/out", "doc_id", 60L)
    val outFiles = new java.io.File(s"$tmp/out").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(outFiles.length < fragFiles, s"${outFiles.length} vs $fragFiles")
    // per-file row bound and DISJOINT doc_id ranges (range clustering means
    // min/max pruning on the sort key survives the rewrite)
    val ranges = outFiles.map { f =>
      val d = spark.read.parquet(f.getAbsolutePath)
        .selectExpr("min(doc_id)", "max(doc_id)", "count(1)").head()
      assert(d.getLong(2) <= 60L, s"file ${f.getName} has ${d.getLong(2)} rows")
      (d.getLong(0), d.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, s"overlap: $hi >= $lo2")
      case _ =>
    }
    // content byte-identical
    assert(spark.read.parquet(s"$tmp/out").orderBy("doc_id").collect().toSeq ==
      docs.orderBy("doc_id").collect().toSeq)
  }

  test("z-ordered layout: tight per-file boxes, box queries touch few files") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString + "/li"
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    graft.operators.Layout.writeZOrdered(
      li, Seq("l_partkey", "l_suppkey"), dir, numFiles = 16, bits = 8)
    val back = spark.read.parquet(dir).withColumn("f", input_file_name()).cache()
    val nFiles = back.select("f").distinct().count()
    assert(nFiles > 8, s"expected ~16 files, got $nFiles")
    // per-file bounding box area as a fraction of the global domain: a
    // z-ordered file covers a small box in BOTH dims; a random layout
    // covers ~the full domain in each (area ~1)
    val g = li.agg(
      (max(col("l_partkey")) - min(col("l_partkey"))).cast("double").as("gp"),
      (max(col("l_suppkey")) - min(col("l_suppkey"))).cast("double").as("gs")).head()
    val (gp, gs) = (g.getDouble(0), g.getDouble(1))
    val avgArea = back.groupBy("f").agg(
      ((max(col("l_partkey")) - min(col("l_partkey"))).cast("double") / gp *
        ((max(col("l_suppkey")) - min(col("l_suppkey"))).cast("double") / gs)).as("area"))
      .agg(avg(col("area"))).head().getDouble(0)
    assert(avgArea < 0.3, s"avg per-file box area $avgArea — layout not clustering")
    // a ~20% x 20% box query touches a minority of files
    val pLo = li.stat.approxQuantile("l_partkey", Array(0.4), 0.001)(0)
    val pHi = li.stat.approxQuantile("l_partkey", Array(0.6), 0.001)(0)
    val sLo = li.stat.approxQuantile("l_suppkey", Array(0.4), 0.001)(0)
    val sHi = li.stat.approxQuantile("l_suppkey", Array(0.6), 0.001)(0)
    val touched = back.filter(
      col("l_partkey").between(pLo, pHi) && col("l_suppkey").between(sLo, sHi))
      .select("f").distinct().count()
    assert(touched * 2 <= nFiles, s"box query touched $touched of $nFiles files")
    back.unpersist()
  }

  test("pagerank iterations are equi-joins over the persisted edge relation") {
    val p = plan(SparkEntry.queries("graph_pagerank")(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the edge+degree relation is read from cache, not recomputed per iteration
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("quality expectations cost ONE scan: N rules, one read of the table") {
    import graft.operators.Quality
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(Quality.checkAgg(docs, Seq(
      Quality.notNull("doc_id"), Quality.unique("doc_id"),
      Quality.inRange("n_chars", 1L, 500L),
      Quality.acceptedValues("lang", Seq("en", "de")))))
    // four rules (incl. a distinct-count) must not become four table reads
    // (formatted explain names each node twice: tree + numbered details)
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1, p)
  }

  test("profiler is one Expand-planned scan, not one aggregate per column") {
    import graft.operators.Features
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(Features.profileAgg(docs, Seq("doc_id", "lang", "source", "n_chars")))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1, p)
    assert(p.contains("Expand"), "multiple distinct aggregates should plan via Expand")
  }

  test("heavy hitters prefilter is join-free: CMS literals gate the scan before the agg") {
    val p = plan(SparkEntry.queries("text_heavy_hitters")(spark, sfDir))
    // the sketch is embedded as literal arrays — candidate filtering must
    // happen in the projection, NOT via a join against the sketch relation
    assert(!p.contains("Join"), p)
    // exact verify = one aggregation over the filtered occurrences
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial + final
  }

  test("triangle counting joins stay equi-joins over the oriented relation") {
    val p = plan(SparkEntry.queries("graph_triangles")(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the oriented edge list is cached and reused by all three join roles
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("funnel stages join on the user key only — no cartesian, type filters pushed") {
    val p = plan(SparkEntry.queries("funnel_stages")(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // each stage's event_type filter reaches the scan
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,view)")
      || p.contains("EqualTo(event_type,view)"), p)
  }

  test("rollingDaily: window slides over the collapsed daily aggregate, not raw events") {
    val df = SparkEntry.queries("events_rolling_7d")(spark, sfDir)
    val p = plan(df)
    // exactly one aggregate below the window (count+sum fused), window above
    assert(p.contains("Window"), p)
    val aggIdx = p.indexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0, p)
    // formatted explain prints root-first: the Window (consumer) must appear
    // BEFORE the aggregate that feeds it — i.e. the window slides over the
    // collapsed rows, not the other way round
    assert(winIdx < aggIdx, s"Window must sit above the daily aggregate:\n$p")
    // no self-join / range explode: a single scan of events feeds the plan
    assert(!p.contains("Join"), s"rolling window must not self-join:\n$p")
  }

  test("mergeUpsert: change keys broadcast against the base (anti-join), no shuffle of base") {
    val p = plan(SparkEntry.queries("corpus_upsert")(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") && p.toLowerCase.contains("leftanti"), p)
  }

  test("streaming HLL register file: single aggregation, hash partitioned by window") {
    val raw = graft.streaming.EventStream.rawEvents(spark, s"$sfDir/events.parquet")
    val p = plan(graft.streaming.EventStream.hourlyDistinctUsers(raw))
    // ObjectHashAggregate (udaf) with a partial_ pass before the exchange:
    // the register file combines map-side like any algebraic aggregate
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_"), p)
  }

  // --- iterative graph jobs: the per-iteration movement contract ---------

  /** The persisted edges⋈degrees relation (src, dst, deg). */
  private def isEdgeScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
    case t: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      t.output.map(_.name) == Seq("src", "dst")
    case _ => false
  }

  /** In the shuffle-join (100 TB) regime — broadcast off, AQE off for plan
    * determinism — a k-iteration PageRank plan must (a) never put an
    * Exchange between the persisted edge relation's scan and the join that
    * consumes it (the build join already hash-partitioned it on `src`),
    * and (b) move data exactly once per iteration: the inflow aggregation.
    * The rank side inherits hash(node) through alias-aware projections,
    * so even it re-enters the join Exchange-free. */
  private def assertIterationMovement(df: DataFrame, iters: Int, what: String): Unit = {
    val phys = df.queryExecution.executedPlan
    val joins = phys.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    // the edge⋈ranks join is the one whose edge-side child holds the scan
    // DIRECTLY (no nested join) — outer joins see the scan transitively
    val contribJoins = joins.filter(_.children.exists { c =>
      c.collect { case s if isEdgeScan(s) => s }.nonEmpty &&
        c.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
          case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
        }.isEmpty
    })
    assert(contribJoins.size == iters,
      s"$what: expected one edge⋈ranks join per iteration, got ${contribJoins.size}:\n$phys")
    contribJoins.foreach { j =>
      val edgeSide = j.children.find(c => c.collect { case s if isEdgeScan(s) => s }.nonEmpty).get
      val reshuffles = edgeSide.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(reshuffles.isEmpty,
        s"$what: persisted edge relation re-shuffled inside an iteration:\n$edgeSide")
    }
    val allExchanges = phys.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // one-time setup shuffles inside broadcast builds (ppr's seed-set
    // distinct) are not per-iteration movement
    val inBroadcast = phys.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }.flatMap(_.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }).toSet
    val perIteration = allExchanges.filterNot(inBroadcast)
    assert(perIteration.size == iters,
      s"$what: expected exactly one Exchange (inflow agg) per iteration, " +
        s"got ${perIteration.size}:\n$phys")
  }

  test("round-8 operators: equi-joins only, PQ hot path is single kernel calls") {
    // the PQ lesson (DEVNOTES r8): per-term Column trees re-evaluate the
    // quantize kernel after projection collapse. Pin that encode plans ONE
    // pqAssign kernel invocation and the ADC join scores via ONE pqAdc call
    // per pair — not element_at trees
    val pq = plan(SparkEntry.queries("knn_ivfpq")(spark, sfDir))
    assert("pqAssign".r.findAllIn(pq).size >= 1, "codes must come from the pqAssign kernel")
    assert("pqAdc".r.findAllIn(pq).size >= 1, "ADC must be the single-call kernel")
    assert(!pq.contains("CartesianProduct"), pq) // the IVF prune is an equi-join
    // the composition operators stay cartesian-free (the eval_* gates embed
    // bruteForceKnn's DOCUMENTED broadcast cross join as their truth
    // baseline, so they are exempt; the tau pair join itself is an equi-join)
    for (q <- Seq("dedup_cdc_chunks", "text_ngram_novelty", "text_mixed_lang",
        "graph_kcore", "curation_pipeline")) {
      val p = plan(SparkEntry.queries(q)(spark, sfDir))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a cartesian/BNLJ:\n$p")
    }
  }

  test("round-10 operators: fingerprint joins are equi-joins, postings cap is a WindowGroupLimit") {
    // winnow pair detection: every join an equi-join on the fingerprint (or
    // id) key — no cartesian anywhere in the block-verify pipeline
    val pw = plan(SparkEntry.queries("dedup_winnow_verified")(spark, sfDir))
    assert(!pw.contains("CartesianProduct") && !pw.contains("BroadcastNestedLoopJoin"), pw)
    // fingerprinting itself is a row-local projection: the fps kernel sits
    // above the scan with no Exchange between them (shuffles only appear
    // for the explode-side aggregations)
    val pf = plan(SparkEntry.queries("dedup_winnow_fps")(spark, sfDir))
    assert(pf.contains("winnowFingerprints"), pf)
    // inverted postings: the head cap must ride WindowGroupLimit (pushed
    // top-k), not a full per-token sort + collect
    val pp = plan(SparkEntry.queries("text_inverted_postings")(spark, sfDir))
    assert(pp.contains("WindowGroupLimit"), pp)
    // hashing trick: no join at all — two hash aggregations end to end
    val ph = plan(SparkEntry.queries("feature_hashing")(spark, sfDir))
    assert(!ph.contains("Join"), ph)
    // chi2 terms: the per-language totals broadcast; token df does NOT
    val pc = plan(SparkEntry.queries("text_chi2_terms")(spark, sfDir))
    assert(pc.contains("BroadcastHashJoin"), pc)
    assert(!pc.contains("CartesianProduct"), pc)
  }

  test("round-10 session 2: DV read is a broadcast anti-join, link prediction stays equi-join") {
    // deletion-vector read: the key list is broadcast and applied as ONE
    // BroadcastHashJoin LeftAnti above the scan — the data side never
    // shuffles for a merge-on-read delete
    val dv = graft.operators.VersionedTable
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_plan").toString
    dv.destroy(spark, dir)
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    dv.init(spark, dir, base, "doc_id", targetRowsPerFile = 100L)
    dv.deleteKeys(spark, dir,
      base.filter(org.apache.spark.sql.functions.col("doc_id") % 9 === 0)
        .select(org.apache.spark.sql.functions.col("doc_id")))
    val pd = plan(dv.read(spark, dir))
    assert(pd.contains("LeftAnti") && pd.contains("BroadcastHashJoin"), pd)
    assert(!pd.contains("SortMergeJoin"), pd)
    // link prediction: wedge join + existing-edge anti-join are all
    // equi-joins — no cartesian, no nested-loop anywhere
    val pl = plan(SparkEntry.queries("graph_common_neighbors")(spark, sfDir))
    assert(!pl.contains("CartesianProduct") && !pl.contains("BroadcastNestedLoopJoin"), pl)
    // interval-overlap join: the bucket rewrite must leave NO nested-loop —
    // the naive overlap predicate alone would plan a BNLJ
    val po = plan(SparkEntry.queries("q30_interval_overlap")(spark, sfDir))
    assert(!po.contains("CartesianProduct") && !po.contains("BroadcastNestedLoopJoin"), po)
  }

  test("round-10 session 3: banded pHash join is an equi-join, bucketed batching has no global window") {
    // pHash pair generation must ride the (band, bval) equi-join — the
    // naive Hamming predicate alone would plan a nested-loop over all pairs
    val pp = plan(SparkEntry.queries("mm_phash_pairs")(spark, sfDir))
    assert(!pp.contains("CartesianProduct") && !pp.contains("BroadcastNestedLoopJoin"), pp)
    // length-bucketed batching: every Window partitions by bucket — a
    // global (unpartitioned) row_number would collapse onto one task
    val pb = plan(graft.operators.Batching.lengthBucketedBatches(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text", 16L, 8L, 7L))
    assert(pb.contains("Window"), pb)
    // a global window would force an Exchange SinglePartition below it
    assert(!pb.contains("SinglePartition"), pb)
    // RAKE islands: the per-doc window keeps doc in the partition spec
    val pr = plan(SparkEntry.queries("text_rake_terms")(spark, sfDir))
    assert(!pr.contains("CartesianProduct"), pr)
    // clustering depth rides the bucket equi-join, never a BNLJ
    val pc = plan(SparkEntry.queries("lake_clustering_depth")(spark, sfDir))
    assert(!pc.contains("CartesianProduct") && !pc.contains("BroadcastNestedLoopJoin"), pc)
    // SCD2 as-of consumption: custkey equi-join with the interval residual
    // as a post-join filter — never a nested loop over history
    val pa = plan(SparkEntry.queries("q33_orders_asof_dim")(spark, sfDir))
    assert(!pa.contains("CartesianProduct") && !pa.contains("BroadcastNestedLoopJoin"), pa)
  }

  test("pagerank/ppr iterations reuse the persisted edge partitioning — one Exchange per round") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    import s2.implicits._
    // every dst also appears as src (no dangling nodes)
    val edges = (1 to 500)
      .flatMap(i => Seq((i.toLong, (i % 97).toLong), ((i % 89).toLong, i.toLong)))
      .toDF("s", "d")
    assertIterationMovement(
      graft.operators.Graph.pagerank(edges, "s", "d", iters = 3), 3, "pagerank")
    val seeds = Seq(1L, 2L, 3L).toDF("node")
    assertIterationMovement(
      graft.operators.Graph.pagerankPersonalized(edges, "s", "d", seeds, "node", iters = 3),
      3, "ppr")
  }

  test("round-12 operators: html extract one id-shuffle, dsir broadcast + TakeOrdered, line dedup equi-only") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // htmlExtract: per-block work is a generate+project; the only wide ops
    // are the per-doc groupBy — no join at all in the plan
    val ph = plan(graft.operators.TextAnalysis.htmlExtract(
      docs.select(col("doc_id"), concat(lit("<p>"), col("text"), lit("</p>")).as("h")),
      "doc_id", "h"))
    assert(!ph.contains("Join"), ph)
    assert(!ph.contains("CartesianProduct"), ph)

    // dsirSelect: bucket stats join the gram stream via BROADCAST (the
    // stats relation is buckets-sized) and selection is TakeOrdered — a
    // global Sort node would be the 100 TB scale bug
    val pd = plan(graft.operators.Sampling.dsirSelect(
      docs, "doc_id", "text", col("lang") === "en"))
    assert(pd.contains("BroadcastHashJoin"), pd)
    assert(pd.contains("TakeOrderedAndProject"), pd)
    // the ONLY nested-loop join is the one-row totals broadcast (the
    // collocationsLlr scalar-crossJoin pattern) — never a CartesianProduct
    assert(!pd.contains("CartesianProduct"), pd)

    // lineDedup: the df join back onto lines is an equi-join on the line
    val pl = plan(graft.operators.Dedup.lineDedup(docs, "doc_id", "text"))
    assert(!pl.contains("CartesianProduct") && !pl.contains("BroadcastNestedLoopJoin"), pl)

    // ccnetBuckets: thresholds broadcast (languages-sized)
    val pc = plan(graft.operators.Sampling.ccnetBuckets(docs, "doc_id", "lang", "text"))
    assert(pc.contains("BroadcastHashJoin"), pc)
    graft.operators.Residuals.release()
  }

  test("round-12 session 4: sniff shuffle-free, url blocklist broadcast, curriculum windowless") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // sniff: pure row-local projection — an Exchange anywhere means the
    // header-read triage stopped being scan-cost
    val ps = plan(graft.operators.Multimodal.sniff(
      graft.operators.Multimodal.bmpFixtures(docs, "doc_id"), "doc_id"))
    assert(!ps.contains("Exchange"), ps)

    // urlFilter: the blocklist joins BROADCAST left-semi (it is the small
    // side by contract) and nothing nested-loops
    val urls = docs.select(col("doc_id"),
      concat(lit("https://www."), col("source"), lit(".org/a/"),
        col("doc_id").cast("string")).as("url"))
    val pu = plan(graft.operators.Sampling.urlFilter(
      urls, "doc_id", "url", Seq("bad.com").toDF("domain"), "domain", Seq("casino")))
    assert(pu.contains("BroadcastHashJoin"), pu)
    assert(!pu.contains("CartesianProduct") && !pu.contains("BroadcastNestedLoopJoin"), pu)

    // curriculumOrder: the design point is NO window — phase comes from a
    // one-row broadcast of percentile thresholds, order from sort keys
    val pb = plan(graft.operators.Batching.curriculumOrder(
      docs, "doc_id", graft.functions.TextFns.tokenCount(col("text")), phases = 4))
    assert(!pb.contains("Window"), pb)
    assert(!pb.contains("CartesianProduct"), pb)

    // ndcg/mrr: joins stay equi/broadcast over k·queries-sized relations
    val truth = Seq((1L, 10L, 1L, 3L)).toDF("query_id", "neighbor_id", "rank", "grade")
    val pn = plan(graft.operators.Eval.ndcgAtK(
      truth, truth, "query_id", "neighbor_id", "grade", "rank"))
    assert(!pn.contains("CartesianProduct") && !pn.contains("BroadcastNestedLoopJoin"), pn)
  }

  test("round-12 session 5: shard windows partition by band, binary thresholds broadcast") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

    // shardBySize: the dealing window must partition by BAND (parallel
    // across bands); the only legitimate SinglePartition gather is the
    // one-row percentile-threshold aggregate, which is metadata-sized —
    // so the exchange FEEDING the window has to be a band hash
    val psh = plan(graft.operators.Batching.shardBySize(
      docs, "doc_id", col("n_chars"), nShards = 4, bands = 8))
    assert(psh.contains("hashpartitioning(band"), psh)

    // binaryQuantize: the d-row threshold relation must come back as a
    // broadcast join, never a shuffled one keyed on the corpus
    val pbq = plan(graft.operators.Embeddings.binaryQuantize(
      embs, "vec_id", "embedding"))
    assert(pbq.contains("BroadcastHashJoin"), pbq)
    assert(!pbq.contains("SortMergeJoin"), pbq)

    // classMetrics: two class-domain aggregations, no nested-loop anywhere
    val pcm = plan(graft.operators.Eval.classMetrics(
      docs.select(col("lang").as("a"), col("source").as("p")), col("a"), col("p")))
    assert(!pcm.contains("CartesianProduct") && !pcm.contains("BroadcastNestedLoopJoin"), pcm)

    // heldout perplexity: count joins stay equi-joins on the bigram domain
    val php = plan(graft.operators.TextAnalysis.bigramLogProbHeldout(
      docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "text"))
    assert(!php.contains("CartesianProduct"), php)
  }

  test("round-14 operators: row-local kernels shuffle-free, pair joins equi-only") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // ROUGE-L: one kernel call per pair — NO exchange anywhere (row-local)
    val pairs = docs.select(col("doc_id"), col("text").as("c"), col("text").as("r"))
    val pr = plan(graft.operators.Eval.rougeL(pairs, "doc_id", "c", "r"))
    assert(!pr.contains("Exchange"), pr)
    assert(pr.contains("lcsTokens"), pr)

    // blur moments ride the partition-batched decode seam — no join, and
    // the only possible exchange is the fixture's own repartition
    val pb = plan(graft.operators.Multimodal.blurScoreBmp(
      graft.operators.Multimodal.bmpFixtures(docs, "doc_id"), "doc_id"))
    assert(!pb.contains("Join"), pb)

    // Kneser-Ney: marginals join back on vocabulary keys — equi-joins only
    val pk = plan(graft.operators.TextAnalysis.bigramKneserNey(docs, "text"))
    assert(!pk.contains("CartesianProduct") && !pk.contains("BroadcastNestedLoopJoin"), pk)

    // BLEU/chrF (r15 reshape, r14 verdict #2): the clipped multiset
    // intersection is ROW-LOCAL (candidate and reference share the row) —
    // one kernel scan, one single-partition aggregate. NO join of any
    // kind, and the ONLY Exchange is the final metadata-sized gather —
    // in particular nothing keyed on (id, gram) survives anywhere
    for ((nm, pc) <- Seq(
        "chrf" -> plan(graft.operators.Eval.chrfComponents(pairs, "doc_id", "c", "r", maxN = 2)),
        "bleu" -> plan(graft.operators.Eval.bleuComponents(pairs, "doc_id", "c", "r", maxN = 2)))) {
      assert(!pc.contains("Join"), s"$nm must be join-free:\n$pc")
      assert(!pc.contains("hashpartitioning"), s"$nm must never hash-shuffle (no (id, gram) Exchange):\n$pc")
      assert(pc.contains("clippedNgramMatchesAll") || pc.contains("clippedCharNgramMatchesAll"),
        s"$nm must go through the clipped-match kernel:\n$pc")
    }

    // dup-n-gram coverage: id-keyed equi-joins, never a pair blowup
    val pd = plan(graft.operators.TextAnalysis.dupNgramChars(docs, "doc_id", "text"))
    assert(!pd.contains("CartesianProduct") && !pd.contains("BroadcastNestedLoopJoin"), pd)

    // Wasserstein: the only unpartitioned window is the distinct-value
    // cumulative pass (the deliberate ksOf metadata tail)
    val pw = plan(graft.operators.Drift.wasserstein1d(
      docs.select(col("n_chars")), docs.select(col("n_chars")), "n_chars"))
    assert(!pw.contains("Join"), pw)
  }

  test("WindowAudit: metadata windows pass, a global window over raw data fails") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // raw relation + unpartitioned window = the scale cliff — must flag
    val bad = docs.withColumn("rk", row_number().over(W.orderBy(col("doc_id"))))
    assert(graft.plans.WindowAudit.globalDataWindows(bad).nonEmpty,
      "global window over a raw parquet relation must be flagged")
    assertThrows[IllegalStateException](
      graft.plans.WindowAudit.assertMetadataWindows(bad, "bad_query"))
    // aggregate-reduced input (the compactionPlan / AUC / BLEU shape) = fine
    val meta = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(W.orderBy(col("n"))))
    assert(graft.plans.WindowAudit.globalDataWindows(meta).isEmpty,
      "aggregate-reduced global window is the documented metadata case")
    // PARTITIONED window over raw data = fine (no single-task gather)
    val part = docs.withColumn("rk",
      row_number().over(W.partitionBy(col("lang")).orderBy(col("doc_id"))))
    assert(graft.plans.WindowAudit.globalDataWindows(part).isEmpty)
    // metadata JOIN metadata under the window = fine (the epochAlloc
    // budget-broadcast shape the r16 frontier walk must not flag)...
    val agg = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val one = docs.agg(count(lit(1)).as("total"))
    val metaJoin = agg.crossJoin(one)
      .withColumn("rk", row_number().over(W.orderBy(col("n"))))
    assert(graft.plans.WindowAudit.globalDataWindows(metaJoin).isEmpty,
      "a join of two aggregates is still metadata-sized")
    // ...but an aggregate joined back to the raw FACT side is NOT
    val backJoin = docs.join(agg, Seq("lang"))
      .withColumn("rk", row_number().over(W.orderBy(col("doc_id"))))
    assert(graft.plans.WindowAudit.globalDataWindows(backJoin).nonEmpty,
      "aggregate re-inflated by the fact side must be flagged")
    // and the three documented gate shapes stay clean end-to-end
    val pairs = docs.select(col("doc_id"), col("text").as("c"), col("text").as("r"))
    assert(graft.plans.WindowAudit.globalDataWindows(
      graft.operators.Eval.bleuComponents(pairs, "doc_id", "c", "r")).isEmpty)
    // rn==1 over a PARTITIONED window reduces to one row per partition
    // value — the Ranks domain-slice shape (r17) is accepted...
    val slice = docs
      .withColumn("rn", row_number().over(
        W.partitionBy(col("lang")).orderBy(col("doc_id"))))
      .withColumn("cnt", count(lit(1)).over(W.partitionBy(col("lang"))))
      .filter(col("rn") === 1)
      .select(col("lang"), col("cnt"))
      .withColumn("off", sum(col("cnt")).over(W.orderBy(col("lang"))))
    assert(graft.plans.WindowAudit.globalDataWindows(slice).isEmpty,
      "rn==1 slice of a partitioned window is domain-sized")
    // ...but a non-pinning filter over the same window is NOT a reducer
    val noPin = docs
      .withColumn("rn", row_number().over(
        W.partitionBy(col("lang")).orderBy(col("doc_id"))))
      .filter(col("rn") > 1)
      .withColumn("off", sum(col("rn")).over(W.orderBy(col("doc_id"))))
    assert(graft.plans.WindowAudit.globalDataWindows(noPin).nonEmpty,
      "rn > k keeps the relation data-sized and must be flagged")
  }

  test("eval_wer is one scan: row-local DP kernel, no join, no window") {
    val df = SparkEntry.queries("eval_wer")(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("Join"), s"werAudit must stay row-local:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("r15 audit refusals stay fixed: zorder/hilbert/rank_corr are window-clean") {
    // the three gate queries the r15 WindowAudit wiring refused (global
    // ntile / row_number over the fact table) — now distributed via
    // Ranks.globalRank; pin the whole-query plans clean so a revert of the
    // rank decomposition fails HERE, not in the end-of-round gate
    for (q <- Seq("layout_zorder", "layout_hilbert", "feature_rank_corr")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      assert(graft.plans.WindowAudit.globalDataWindows(df).isEmpty,
        s"$q regressed to a global data-sized window")
    }
  }

  test("JoinAudit: silent cross joins flagged; equi, hinted, and reduced sides pass") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val other = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id2"), col("n_chars").as("nc2"))
    // silent data x data inequality join = the quadratic cliff — flag it
    val bad = docs.join(other, col("n_chars") < col("nc2"))
    assert(graft.plans.JoinAudit.quadraticJoins(bad).nonEmpty)
    assertThrows[IllegalStateException](
      graft.plans.JoinAudit.assertEquiJoins(bad, "bad_query", allow = Set.empty))
    // ...the allowlist names it through
    graft.plans.JoinAudit.assertEquiJoins(bad, "bad_query", allow = Set("bad_query"))
    // an equality key anywhere in the condition = hash-joinable, clean
    val equi = docs.join(other,
      col("doc_id") === col("id2") && col("n_chars") < col("nc2"))
    assert(graft.plans.JoinAudit.quadraticJoins(equi).isEmpty)
    // cross-side equality between UNLIKE columns is still a usable hash key
    val unlike = docs.join(other, col("n_chars") === col("id2"))
    assert(graft.plans.JoinAudit.quadraticJoins(unlike).isEmpty)
    // same-side equality is a pushed filter, not a key — still flagged
    val sameSide = docs.join(other, col("n_chars") === col("doc_id"))
    assert(graft.plans.JoinAudit.quadraticJoins(sameSide).nonEmpty,
      "an equality whose sides both come from one input is not a join key")
    // an explicit broadcast() declares the tiny side — the baseline shape
    val hinted = docs.join(broadcast(other), col("n_chars") < col("nc2"))
    assert(graft.plans.JoinAudit.quadraticJoins(hinted).isEmpty)
    // an aggregate-reduced side bounds the fanout — clean without a hint
    val red = docs.join(other.groupBy(col("nc2")).agg(count(lit(1)).as("n")),
      col("n_chars") < col("nc2"))
    assert(graft.plans.JoinAudit.quadraticJoins(red).isEmpty)
  }

  test("JoinAudit: a broadcast hint is not an unbounded waiver — hinted sides are counted") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val other = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id2"), col("n_chars").as("nc2"))
    // a hinted DATA-SIZED side: plan-only audit passes (the hint waives
    // the equi-key rule), the execution-context bound refuses it
    val hinted = docs.join(broadcast(other), col("n_chars") < col("nc2"))
    assert(graft.plans.JoinAudit.quadraticJoins(hinted).isEmpty)
    val ex = intercept[IllegalStateException](
      graft.plans.JoinAudit.assertBroadcastBounds(hinted, "bad_hint",
        maxHintedRows = 10L))
    assert(ex.getMessage.contains("broadcast()-hinted") &&
      ex.getMessage.contains("bad_hint"))
    // a genuine probe set under the cap passes (filter is NOT a reducer,
    // so the hint is load-bearing and the count path actually runs)
    val probe = docs.filter(col("doc_id") < 5).select(col("doc_id").as("id2"),
      col("n_chars").as("nc2"))
    graft.plans.JoinAudit.assertBroadcastBounds(
      docs.join(broadcast(probe), col("n_chars") < col("nc2")), "probe",
      maxHintedRows = 10L)
    // a join already clean via an equi key never pays a count: the hint
    // is not load-bearing there
    assert(graft.plans.JoinAudit.hintedNonEquiSides(
      docs.join(broadcast(other), col("doc_id") === col("id2"))).isEmpty)
  }

  test("compactionPlan window is metadata-only: one manifest gather, zero data reads") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // manifest-shaped relation, one row per FILE — the single-partition
    // window's input is row count == file count by construction, the size
    // bound VersionedTable.optimize's driver-side planning relies on
    val manifest = (0 until 64).map(i => (s"f$i", 100L + i, i * 1000L))
      .toDF("path", "rows", "min_key")
    val p = plan(graft.operators.Layout.compactionPlan(
      manifest, "path", "rows", "min_key", 5000L))
    // the only gather is the manifest itself into the packing window...
    assert(p.contains("SinglePartition"), p)
    // ...consuming NO table data (pure manifest math: no file scan, and no
    // join that could smuggle a data relation under the window)
    assert(!p.contains("Scan parquet"), p)
    assert(!p.contains("Join"), p)
  }

  test("Probe writes the formatted plan and optimized tree, or times three samples") {
    val dir = java.nio.file.Files.createTempDirectory("probe")
    assert(graft.tools.Probe.run(spark, sfDir, Seq("q4_filter_pushdown", "no_such_query"),
      Some(dir)) == Seq("no_such_query"))
    val txt = new String(java.nio.file.Files.readAllBytes(dir.resolve("q4_filter_pushdown.txt")), "UTF-8")
    assert(txt.contains("== Physical Plan =="), txt)
    val optimized = txt.split("== Optimized Logical Plan ==\n")
    assert(optimized.length == 2, txt)
    assert(optimized(1).contains("Filter") && optimized(1).contains("Relation"), txt)

    val out = new java.io.ByteArrayOutputStream()
    val failed = Console.withOut(out) {
      graft.tools.Probe.run(spark, sfDir, Seq("q4_filter_pushdown"), None)
    }
    assert(failed.isEmpty)
    val line = out.toString("UTF-8").linesIterator.find(_.startsWith("PROBE ")).getOrElse(fail(out.toString))
    val fields = line.trim.split("\\s+").toSeq
    assert(fields(1) == "q4_filter_pushdown" && fields.size == 5, line)
    fields.drop(2).foreach(t => assert(t.toDouble >= 0, line))
  }
}
