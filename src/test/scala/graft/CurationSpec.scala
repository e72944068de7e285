package graft

import graft.operators.{Embeddings, Sampling, TextAnalysis}

import org.apache.spark.sql.functions._

/** Invariant tests for the corpus-curation operators added in round 5:
  * deterministic sampling/splitting, repetition and salience signals,
  * benchmark contamination, corpus stats, and embedding maintenance. */
class CurationSpec extends SparkSuite {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet").cache()
  private lazy val embs = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()

  test("splitAssign covers every row with a label and is deterministic") {
    val r = Sampling.splitAssign(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(r.count() == docs.count())
    val labels = r.select("split").distinct().as[String].collect().toSet
    assert(labels.subsetOf(Set("train", "val", "test")))
    // deterministic: same assignment on re-run
    val r2 = Sampling.splitAssign(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(r.orderBy("doc_id").collect().toSeq == r2.orderBy("doc_id").collect().toSeq)
    // roughly proportional (md5 is uniform; 500 docs -> generous bounds)
    val train = r.filter($"split" === "train").count().toDouble / docs.count()
    assert(train > 0.7 && train < 0.9, s"train fraction $train")
  }

  test("split assignment of a doc is stable under corpus growth") {
    val half = docs.filter($"doc_id" % 2 === 0)
    val fromHalf = Sampling.splitAssign(half, "doc_id", Seq("train" -> 0.5, "val" -> 0.5))
      .select("doc_id", "split")
    val fromAll = Sampling.splitAssign(docs, "doc_id", Seq("train" -> 0.5, "val" -> 0.5))
      .select("doc_id", "split").filter($"doc_id" % 2 === 0)
    assert(fromHalf.orderBy("doc_id").collect().toSeq ==
      fromAll.orderBy("doc_id").collect().toSeq)
  }

  test("contentSafeSplit: byte-level variants of one doc share a split") {
    // plant a case/whitespace variant of each doc under a new id
    val variants = docs.select($"doc_id" + 100000L as "doc_id",
      upper(concat($"text", lit("  "))) as "text")
    val d = docs.select($"doc_id", $"text").union(variants)
    val r = Sampling.contentSafeSplit(d, "text",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select($"doc_id", $"split").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    docs.select($"doc_id").as[Long].collect().foreach { id =>
      assert(r(id) == r(id + 100000L), s"doc $id and its variant split apart")
    }
  }

  test("clusterSafeSplit: every cluster member gets the representative's split") {
    import graft.operators.Dedup
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val r = Sampling.clusterSafeSplit(docs, "doc_id", comps,
      Seq("train" -> 0.5, "val" -> 0.5))
      .select($"doc_id", $"split").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(1L) == r(2L) && r(2L) == r(3L))
    assert(r(10L) == r(11L))
    // an unclustered doc falls back to its own-id assignment
    val own = Sampling.splitAssign(docs, "doc_id", Seq("train" -> 0.5, "val" -> 0.5))
      .filter($"doc_id" === 100L).select($"split").as[String].head()
    assert(r(100L) == own)
  }

  test("mixWeighted honors per-stratum fractions incl. 0 and 1") {
    val r = Sampling.mixWeighted(docs, "doc_id", "source",
      Map("src0" -> 1.0, "src1" -> 0.0), 0.5)
    val bySrc = r.groupBy("source").count().as[(String, Long)].collect().toMap
    val totals = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySrc("src0") == totals("src0"), "fraction 1.0 keeps every row")
    assert(!bySrc.contains("src1"), "fraction 0.0 keeps none")
    // stratified = uniform map; subset of source rows
    val s = Sampling.sampleStratified(docs, "doc_id", "source", 0.25)
    assert(s.count() > 0 && s.count() < docs.count())
  }

  test("withRepetition: a doc with repeated bigrams scores the exact fraction") {
    val d = Seq((1L, "a b a b c"), (2L, "x y z w")).toDF("doc_id", "text")
    val r = TextAnalysis.withRepetition(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    // "a b a b c": bigrams [a b, b a, a b, b c] -> 4 total, 3 distinct
    assert(r(0).getLong(1) == 4 && r(0).getLong(2) == 3)
    assert(math.abs(r(0).getDouble(3) - 0.25) < 1e-12)
    assert(r(1).getDouble(3) == 0.0)
  }

  test("tfidfTopTerms ranks by tf desc then rarity, bounded by k") {
    val d = Seq(
      (1L, "apple apple apple banana common"),
      (2L, "banana banana cherry common"),
      (3L, "cherry common common")).toDF("doc_id", "text")
    val r = TextAnalysis.tfidfTopTerms(d, "doc_id", "text", k = 2)
    assert(r.groupBy("doc_id").count().filter($"count" > 2).count() == 0)
    val doc1 = r.filter($"doc_id" === 1).orderBy("rank").select("term").as[String].collect()
    assert(doc1.head == "apple") // tf=3 wins
  }

  test("ngramOverlap flags exactly the docs sharing an n-gram with the benchmark") {
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a contaminated doc has the quick brown fox inside it"),
      (2L, "totally clean document with different words entirely")).toDF("doc_id", "text")
    val r = TextAnalysis.ngramOverlap(corpus, bench, "doc_id", "text", n = 4)
      .orderBy("doc_id").collect()
    assert(r(0).getLong(2) > 0 && r(1).getLong(2) == 0)
    assert(r(0).getDouble(3) > 0.0)
  }

  test("corpusStats median is the exact lower median") {
    val d = Seq(
      ("en", "s", 10L, 1L), ("en", "s", 20L, 2L), ("en", "s", 30L, 3L), ("en", "s", 40L, 4L),
      ("de", "s", 7L, 5L)).toDF("lang", "source", "n_chars", "doc_id")
    val r = TextAnalysis.corpusStats(d, "lang", "source", "n_chars", "doc_id")
      .orderBy("lang").collect()
    assert(r(0).getAs[Long]("median_chars") == 7L)   // de: single row
    assert(r(1).getAs[Long]("median_chars") == 20L)  // en: lower median of 4
    assert(r(1).getAs[Long]("n_docs") == 4L)
  }

  test("epochOrderKey: deterministic, seed-sensitive, keys distinct") {
    val k1 = graft.operators.Batching.epochOrderKey(docs, "doc_id", 1)
      .select("doc_id", "order_key").orderBy("order_key").collect().toSeq
    val k1b = graft.operators.Batching.epochOrderKey(docs, "doc_id", 1)
      .select("doc_id", "order_key").orderBy("order_key").collect().toSeq
    val k2 = graft.operators.Batching.epochOrderKey(docs, "doc_id", 2)
      .select("doc_id", "order_key").orderBy("order_key").collect().toSeq
    assert(k1 == k1b, "same seed -> same permutation")
    assert(k1.map(_.getLong(0)) != k2.map(_.getLong(0)), "different seed -> different order")
    assert(k1.map(_.getString(1)).distinct.size == k1.size)
  }

  test("interleaveKey ranks are a 1..n permutation within each source") {
    val r = graft.operators.Batching.interleaveKey(docs, "doc_id", "source", 7)
    val bad = r.groupBy("source")
      .agg(count(lit(1)).as("n"), max("rr_rank").as("mx"), countDistinct("rr_rank").as("d"))
      .filter($"n" =!= $"mx" || $"n" =!= $"d")
    assert(bad.count() == 0)
  }

  test("packByTokenBudget matches a sequential replay of the binning rule") {
    val budget = 512L
    val r = graft.operators.Batching.packByTokenBudget(docs, "doc_id", "text", budget)
      .collect().map(x => (x.getString(1), x.getLong(0), x.getLong(2), x.getLong(3)))
    // replay per shard: bin = floor(exclusive-cumsum / budget) in doc_id order
    r.groupBy(_._1).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._2).foreach { case (_, _, n, bin) =>
        assert(bin == cum / budget, s"bin mismatch at cum=$cum n=$n")
        cum += n
      }
    }
    assert(r.map(_._1).distinct.length > 1, "multiple shards in play")
  }

  test("normalizedQ vectors have unit norm in fixed point") {
    val r = Embeddings.normalizedQ(embs, "vec_id", "embedding")
      .groupBy("vec_id")
      .agg(sum($"nq" * $"nq").as("n2"))
      .select(sqrt($"n2" / 1e12).as("norm"))
      .agg(min("norm"), max("norm")).collect()(0)
    // floor() moves each dim by <1e-6 (toward -inf: negatives GAIN up to
    // 1e-6 of magnitude) -> norm lands in [1 - 1e-3, 1 + 1e-3]
    assert(r.getDouble(0) > 0.999 && r.getDouble(1) < 1.001)
  }

  test("quantizeInt8 peaks at +/-127 and stays in int8 range") {
    val r = Embeddings.quantizeInt8(embs, "vec_id", "embedding")
    val mm = r.agg(min("q8"), max("q8")).collect()(0)
    assert(mm.getLong(0) >= -127 && mm.getLong(1) <= 127)
    // every vector's abs-max dim maps to exactly +/-127
    val peaks = r.groupBy("vec_id").agg(max(abs($"q8")).as("peak"))
    assert(peaks.filter($"peak" =!= 127).count() == 0)
  }

  test("capTokenBudget matches a sequential replay of the greedy prefix rule") {
    val budget = 5000L
    val got = Sampling.capTokenBudget(docs, "doc_id", "source", "n_chars", budget)
      .select($"doc_id", $"cost_cum").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val md = (s: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = docs.select($"doc_id", $"source", $"n_chars")
      .as[(Long, String, Long)].collect()
    val expect = rows.groupBy(_._2).toSeq.flatMap { case (src, rs) =>
      var cum = 0L
      rs.toSeq.sortBy(r => (md(s"$src:${r._1}"), r._1)).flatMap { r =>
        cum += r._3
        if (cum <= budget) Some(r._1 -> cum) else None
      }
    }.toMap
    assert(got.nonEmpty && got == expect)
  }

  test("qualityBand: [0,1] keeps everything, narrower bands nest") {
    val all = TextAnalysis.qualityBand(docs, "doc_id", "text", "lang", 0.0, 1.0)
      .select("doc_id").as[Long].collect().toSet
    assert(all.size == docs.count())
    val wide = TextAnalysis.qualityBand(docs, "doc_id", "text", "lang", 0.1, 0.9)
      .select("doc_id").as[Long].collect().toSet
    val narrow = TextAnalysis.qualityBand(docs, "doc_id", "text", "lang", 0.25, 0.75)
      .select("doc_id").as[Long].collect().toSet
    assert(narrow.nonEmpty && narrow.subsetOf(wide) && wide.subsetOf(all))
    assert(wide.size < all.size, "0.1-0.9 band should drop the tails")
  }

  test("CMS: estimates never undercount; narrow sketch collides, wide one is exact") {
    import graft.operators.Sketches
    import graft.functions.TextFns
    val toks = docs.select(explode(TextFns.tokens($"text")).as("w")).cache()
    val words = Seq("dup", "scan", "window")
    val tru = toks.groupBy($"w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val narrow = Sketches.cmsEstimate(Sketches.cmsBuild(toks, "w", 4, 4), words, 4, 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    words.foreach(w => assert(narrow(w) >= tru(w), s"$w undercounted"))
    assert(words.exists(w => narrow(w) > tru(w)), "4 buckets over a 31-word vocab must collide")
    val wide = Sketches.cmsEstimate(Sketches.cmsBuild(toks, "w", 4, 4096), words, 4, 4096)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    words.foreach(w => assert(wide(w) == tru(w), s"$w inexact in the wide sketch"))
    toks.unpersist()
  }

  test("kmvRollup: merged fine-group sketches equal the direct coarse sketch bit-for-bit") {
    import graft.operators.Sketches
    val direct = Sketches.kmvDistinct(docs, Seq("lang"), "doc_id", 16)
      .orderBy("lang").collect().toSeq
    val rolled = Sketches.kmvRollup(docs, Seq("lang", "source"), Seq("lang"), "doc_id", 16)
      .orderBy("lang").collect().toSeq
    assert(direct.nonEmpty)
    assert(direct == rolled)
  }

  test("corpusStatsApprox stays inside sketch error bounds of the exact operators") {
    val approx = TextAnalysis.corpusStatsApprox(
      docs, "lang", "n_chars", "doc_id", Seq(0.5), accuracy = 10000, rsd = 0.05)
      .orderBy("lang").collect()
    val exact = TextAnalysis.groupedQuantiles(docs, "lang", "n_chars", Seq(0.5))
      .orderBy("lang").collect()
    val exactDistinct = docs.groupBy("lang").agg(countDistinct("doc_id").as("d"))
      .orderBy("lang").collect()
    approx.zip(exact).zip(exactDistinct).foreach { case ((a, e), d) =>
      assert(a.getString(0) == e.getString(0))
      // approx_percentile returns a REAL value of the group; with accuracy
      // 10000 on groups this small it must land within the group's range and
      // near the exact interpolated median
      val exactMedian = e.getDouble(1)
      val approxMedian = a.getAs[Number]("q50").doubleValue()
      assert(math.abs(approxMedian - exactMedian) <= math.max(2.0, exactMedian * 0.05),
        s"${a.getString(0)}: approx $approxMedian vs exact $exactMedian")
      // HLL++ rsd 5%: generous 3-sigma bound
      val ed = d.getLong(1).toDouble
      val ad = a.getAs[Long]("approx_distinct")
      assert(math.abs(ad - ed) <= math.max(2.0, ed * 0.15),
        s"${a.getString(0)}: approx_distinct $ad vs exact $ed")
    }
  }

  test("keepBest keeps the top-quality doc per cluster, not the min id") {
    import graft.operators.Dedup
    // cluster {1,2}: doc 2 has higher score; singleton 3 always survives
    val scored = Seq((1L, 0.2), (2L, 0.9), (3L, 0.5)).toDF("doc_id", "quality_score")
    val comps = Seq((1L, 1L), (2L, 1L)).toDF("id", "component")
    val kept = Dedup.keepBest(scored, "doc_id", comps, "quality_score")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 3L))
    // min-id policy on the same input keeps 1, proving the policies differ
    val minId = Dedup.keepCanonical(scored, "doc_id", comps)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(minId == Seq(1L, 3L))
  }

  test("chunkByTokens: full token coverage, declared overlap, one chunk minimum") {
    val d = Seq(
      (1L, (1 to 50).map(i => s"t$i").mkString(" ")),
      (2L, "a b"),
      (3L, "solo")).toDF("doc_id", "text")
    val r = TextAnalysis.chunkByTokens(d, "doc_id", "text", chunkSize = 16, overlap = 4)
      .orderBy("doc_id", "chunk_idx").collect()
    val doc1 = r.filter(_.getLong(0) == 1L).map(_.getString(2))
    // stride 12 over 50 tokens: ceil(46/12) = 4 chunks starting at 0,12,24,36
    assert(doc1.length == 4)
    assert(doc1(0).startsWith("t1 ") && doc1(1).startsWith("t13 ") &&
      doc1(2).startsWith("t25 ") && doc1(3).startsWith("t37 "))
    // consecutive chunks share exactly `overlap` tokens
    assert(doc1(0).split(" ").takeRight(4).toSeq == doc1(1).split(" ").take(4).toSeq)
    // every token appears in some chunk
    assert(doc1.flatMap(_.split(" ")).toSet == (1 to 50).map(i => s"t$i").toSet)
    // short docs produce exactly one whole-doc chunk
    assert(r.filter(_.getLong(0) == 2L).map(_.getString(2)).toSeq == Seq("a b"))
    assert(r.filter(_.getLong(0) == 3L).map(_.getString(2)).toSeq == Seq("solo"))
  }

  test("capPerStratum: exact quota per source, deterministic, top-k pushed down") {
    val r = Sampling.capPerStratum(docs, "doc_id", "source", k = 30).cache()
    val perSrc = r.groupBy("source").count().as[(String, Long)].collect().toMap
    val totals = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    totals.foreach { case (src, n) =>
      assert(perSrc(src) == math.min(30L, n), s"$src: ${perSrc(src)} vs total $n")
    }
    // deterministic across runs
    val r2 = Sampling.capPerStratum(docs, "doc_id", "source", k = 30)
    assert(r.orderBy("doc_id").collect().toSeq == r2.orderBy("doc_id").collect().toSeq)
    // rank bound is pushed into the sort (partial per-map top-k, no full
    // stratum sort) — the WindowGroupLimit node must appear
    val plan = r2.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    r.unpersist()
  }

  test("withNormalized: NFC composition, casefold, control strip, ws collapse") {
    val in = Seq(
      (1L, "  Hello\t\tWORLD  "),
      (2L, "cafe\u0301 CAFE\u0301"), // e + combining acute -> \u00e9 under NFC
      (3L, "a\u0000b\u0001c"), // controls stripped, no space introduced
      (4L, "x \u000B \r\n y"),
      (5L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.withNormalized(in, "doc_id", "text")
      .orderBy("doc_id").select("normalized").as[String].collect()
    assert(out(0) == "hello world")
    assert(out(1) == "caf\u00e9 caf\u00e9")
    assert(out(2) == "abc")
    assert(out(3) == "x y")
    assert(out(4) == "")
  }

  test("curationKeep discriminates and equals manual signal conjunction") {
    val r = TextAnalysis.curationKeep(docs, "doc_id", "text",
      minQuality = 0.85, allowedLangs = Seq("en", "es", "de", "fr"), maxDupFrac = 0.04)
      .cache()
    val kept = r.filter($"keep").count()
    assert(kept > 0 && kept < docs.count(), s"keep must split the corpus, got $kept")
    // conjunction law: keep == (each threshold holds)
    val bad = r.filter(
      $"keep" =!= ($"quality_score" >= 0.85 &&
        $"predicted_lang".isin("en", "es", "de", "fr") && $"dup_bigram_frac" <= 0.04))
    assert(bad.count() == 0)
    r.unpersist()
  }

  test("minhashPairsAgainst finds exactly the cross-increment collisions of minhashPairs") {
    import graft.operators.Dedup
    val inc = docs.filter($"doc_id" % 7 === 0)
    val corpus = docs.filter($"doc_id" % 7 =!= 0)
    val sigs = Dedup.minhashSignatures(corpus, "doc_id", "text", numHashes = 4)
    val got = Dedup.minhashPairsAgainst(inc, sigs, "doc_id", "text", numHashes = 4, bandSize = 2)
      .select($"incoming_id", $"corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference: full-corpus pair generator, restricted to cross pairs
    val all = Dedup.minhashPairs(docs, "doc_id", "text", numHashes = 4, bandSize = 2,
      broadcastRight = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = all.flatMap { case (a, b) =>
      if (a % 7 == 0 && b % 7 != 0) Some((a, b))
      else if (b % 7 == 0 && a % 7 != 0) Some((b, a))
      else None
    }.toSet
    assert(got == expected)
  }

  test("filter_url pipeline step: validation defects caught, compiled step equals direct operator") {
    import graft.operators.{CurationPipeline, Sampling}
    val bad =
      """steps:
        |  - { op: filter_url, url_col: u, blocked_domains: [] }
        |  - { op: filter_url, blocked_domains: [bad.com], blocked_keywords: ["NOT OK!"] }
        |""".stripMargin
    val e = intercept[CurationPipeline.PipelineException](CurationPipeline.parse(bad))
    assert(e.errors.exists(_.contains("steps[0]: filter_url needs a non-empty `blocked_domains`")))
    assert(e.errors.exists(_.contains("steps[1] (filter_url): missing required parameter 'url_col'")))
    assert(e.errors.exists(_.contains("steps[1]: filter_url keywords must be lowercase")))
    val df = Seq(
      (1L, "t", "https://ads.bad.com/x"), (2L, "t", "https://ok.org/casino"),
      (3L, "t", "https://ok.org/fine")).toDF("id", "text", "u")
    val yaml =
      """steps:
        |  - { op: filter_url, url_col: u, blocked_domains: [bad.com], blocked_keywords: [casino] }
        |""".stripMargin
    val piped = CurationPipeline.runYaml(df, "id", "text", yaml)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val direct = Sampling.urlFilter(df, "id", "u", Seq("bad.com").toDF("domain"),
      "domain", Seq("casino")).filter(col("keep") === 1L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(piped == Seq(3L) && piped == direct)
  }

  test("curation pipeline survives hostile text under ANSI mode") {
    import graft.operators.CurationPipeline
    // r15 ADVICE: ANSI is pinned true in every session builder, which turns
    // silent-null paths (strict casts, element_at, overflow) into errors —
    // the curate verb is the user-facing path fed UNTRUSTED corpus text, so
    // pin here that a full representative step chain completes on the nasty
    // cases: empties, control chars, NULs, surrogate-pair emoji, RTL +
    // combining marks, a 100k-char single token, broken HTML, numeric
    // strings past int64, and NULL text/source fields.
    val hostile = Seq(
      (1L, "", "s1"),
      (2L, "   \t\n  ", "s1"),
      (3L, "nul byte and  bell", "s2"),
      (4L, "emoji 😀🤖 beyond the BMP", "s2"),
      (5L, "مرحبا rtl and é combining", "s3"),
      (6L, "x" * 100000, "s3"),
      (7L, "<html><p>broken <b>tags <a href='x'>link</i></html", "s4"),
      (8L, "99999999999999999999999999999999999999", "s4"),
      (9L, null.asInstanceOf[String], "s5"),
      (10L, "the house was quiet and the world was calm, and the reader " +
        "became the book while the summer night was like the conscious " +
        "being of the book itself, and there was nothing else to want " +
        "for the words were spoken as if there was no book", "s6"),
      (11L, ("word " * 30).trim, null.asInstanceOf[String])
    ).toDF("doc_id", "text", "source")
    val yaml =
      """steps:
        |  - { op: normalize }
        |  - { op: extract_html, max_link_density_permille: 900 }
        |  - { op: filter_gopher, min_words: 1, max_words: 100000 }
        |  - { op: filter_repetition, max_dup_permille: 990 }
        |  - { op: filter_lang, keep: [en, ru, ar] }
        |  - { op: filter_quality, min_score: 0.0 }
        |  - { op: dedup_exact }
        |  - { op: filter_length, min_chars: 1, max_chars: 200000 }
        |  - { op: cap_per_source, source_col: source, k: 10 }
        |  - { op: split, train: 0.8, val: 0.1, test: 0.1 }
        |""".stripMargin
    // must not throw anywhere in the chain — the assertion IS completion;
    // survivors are a subset of the input ids and carry a split label
    val out = CurationPipeline.runYaml(hostile, "doc_id", "text", yaml).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSet.subsetOf((1L to 11L).toSet))
    assert(out.forall(r => Set("train", "val", "test").contains(r.getAs[String]("split"))))
    // the unambiguously healthy doc survives the whole gauntlet
    assert(out.exists(_.getAs[Long]("doc_id") == 10L))
  }

  test("repetition kernel equals the split and wordNgramsSorted counts on hostile, invalid and fuzzed text") {
    import graft.functions.Kernels
    val hostile = Seq("", "   \t\n  ", "nul\u0000byte and \u0007 bell", "\tleading and trailing tab\t",
      "\u0001 control at the ends \u0001", " \u0001 a b \u0001 ", "a \u0000 b a \u0000 b",
      "emoji 😀🤖 beyond 😀🤖 the BMP", "мама мыла раму мама мыла раму", "é e\u0301 é e\u0301",
      "a  b\u000Bc\fd\re\n\n", "\t", " \t\u0000 ", "a b a b a b", ("word " * 30).trim,
      "x" * 100000, null)
    // cast from binary keeps the bytes: U+FFFD-colliding bytes, a lone
    // continuation byte, an encoded surrogate, an overlong and a cut 4-byte lead
    val invalid = Seq(
      Array(0xff, 0x20, 0xfe, 0x20, 0xff, 0x20, 0xfe),
      Array(0x61, 0x80, 0x20, 0xc3, 0xa9, 0x20, 0xed, 0xa0, 0x80, 0x09, 0xc0, 0xaf, 0x20, 0xf0, 0x9f, 0x20, 0x61, 0x80))
      .map(_.map(_.toByte))
    val rnd = new scala.util.Random(20261019L)
    val alphabet = Seq(" ", "\t", "\n", "\u000B", "\f", "\r", "\u0000", "\u0001", "\u001F",
      "a", "b", "é", "e\u0301", "д", "ж", "😀")
    val pieces = alphabet.map(_.getBytes("UTF-8")) ++
      Seq(Array(0x80), Array(0xc3), Array(0xff), Array(0xed, 0xa0, 0x80), Array(0xf0, 0x9f)).map(_.map(_.toByte))
    val fuzzed = Seq.fill(3000)(Seq.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.size))).mkString)
    val fuzzedBytes = Seq.fill(3000)(Seq.fill(rnd.nextInt(30))(pieces(rnd.nextInt(pieces.size))).flatten.toArray)
    val bytes = (hostile ++ fuzzed).map(t => Option(t).map(_.getBytes("UTF-8")).orNull) ++
      invalid ++ fuzzedBytes
    val t = $"b".cast("string")
    val df = bytes.toDF("b").select($"b", t.as("t"))
    assert(df.filter($"b".isNotNull && !($"t".cast("binary") === $"b")).count() == 0)
    // the counts and the gate filter_repetition used before the kernel
    val n = greatest(size(split(trim($"t"), "\\s+")) - 1, lit(0)).cast("long")
    val d = size(Kernels.wordNgramsSortedCol($"t", 2)).cast("long")
    val k = Kernels.repetitionCountsCol($"t")
    val gates = Seq(0L, 300L, 500L, 990L, 1000L).map { mx =>
      Kernels.repetitionKeepCol($"t", mx) <=> ((n - d) * 1000 <= lit(mx) * n)
    }
    val same = coalesce(k.getItem(0), lit(0L)) === n && (k.getItem(1) <=> d) && gates.reduce(_ && _)
    val bad = df.filter(!same).select($"t", n, d, k).collect()
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
    assert(df.filter(k.isNull).count() == 1)
  }

  test("curation steps decide per row: duplicate ids, dedup keeps the smallest id then text") {
    import graft.operators.CurationPipeline
    val d = Seq[(java.lang.Long, String)](
      (2L, "Same Text"), (1L, "same text"), (1L, "same  text"),
      (1L, "other words here"),
      (3L, "spam spam spam spam spam"), (3L, "three distinct words"),
      (null, "text with a null id"), (4L, "Text with a null id"),
      (null, "only a null id")).toDF("doc_id", "text")
    val yaml =
      """steps:
        |  - { op: filter_repetition, max_dup_permille: 300 }
        |  - { op: dedup_exact }
        |""".stripMargin
    val out = CurationPipeline.runYaml(d, "doc_id", "text", yaml)
      .orderBy($"doc_id".asc_nulls_last, $"text").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1))).toSeq
    // id 3's repetitive row goes and its other row stays; of one normalized
    // text the smallest id wins, a tie on id goes to the smaller text, and a
    // null id loses to any id
    assert(out == Seq(Some(1L) -> "other words here", Some(1L) -> "same  text",
      Some(3L) -> "three distinct words", Some(4L) -> "Text with a null id",
      None -> "only a null id"))
  }

  test("the benchmark's curation steps plan with no join and one repetition kernel call") {
    import graft.operators.CurationPipeline
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val yaml =
      """steps:
        |  - { op: normalize }
        |  - { op: filter_length, min_chars: 80, max_chars: 100000 }
        |  - { op: filter_repetition, max_dup_permille: 300 }
        |  - { op: dedup_exact }
        |  - { op: cap_per_source, source_col: source, k: 2000 }
        |  - { op: split, train: 0.8, val: 0.1, test: 0.1 }
        |""".stripMargin
    val plan = CurationPipeline.runYaml(docs, "doc_id", "text", yaml).queryExecution.optimizedPlan
    assert(plan.collect { case j: Join => j }.isEmpty, plan.treeString)
    val kernelCalls = plan.flatMap(_.expressions.flatMap(_.collect {
      case i: StaticInvoke if i.functionName.startsWith("repetition") => i
    }))
    assert(kernelCalls.size == 1, plan.treeString)
  }

  test("curation pipeline: step-indexed validation errors, composition equals manual chain") {
    import graft.operators.CurationPipeline
    // validation catches every defect at once, before any Spark job
    val bad =
      """steps:
        |  - { op: normalise }
        |  - { op: filter_lang, keep: [] }
        |  - { op: cap_per_source, source_col: source, k: 0 }
        |  - { op: split, train: 0.5, val: 0.1, test: 0.1 }
        |  - { op: filter_length, min_words: 3 }
        |  - { op: filter_quality }
        |""".stripMargin
    val e = intercept[CurationPipeline.PipelineException](CurationPipeline.parse(bad))
    assert(e.errors.size == 6, e.errors.mkString("\n"))
    assert(e.errors.exists(_.contains("steps[0]: unknown op")))
    assert(e.errors.exists(_.contains("steps[3]: split fractions")))
    assert(e.errors.exists(_.contains("unknown parameter 'min_words'")))
    assert(e.errors.exists(_.contains("steps[5] (filter_quality): missing required parameter 'min_score'")))
    // the compiled pipeline is exactly the hand-written chain
    val yaml =
      """steps:
        |  - { op: normalize }
        |  - { op: filter_length, min_chars: 50 }
        |  - { op: split, train: 0.8, val: 0.1, test: 0.1 }
        |""".stripMargin
    val piped = CurationPipeline.runYaml(docs, "doc_id", "text", yaml)
    val manual = Sampling.splitAssign(
      docs.withColumn("text", graft.functions.Kernels.normalizeTextCol($"text"))
        .filter(length($"text") >= 50),
      "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(piped.orderBy("doc_id").collect().toSeq ==
      manual.orderBy("doc_id").collect().toSeq)
    // round-10 steps validate like the rest: every defect named up front
    val badPriv =
      """steps:
        |  - { op: filter_repetition, max_dup_permille: 1500 }
        |  - { op: k_anonymity, quasi_id: [], k: 5 }
        |  - { op: k_anonymity, quasi_id: [lang], k: 0 }
        |""".stripMargin
    val e2 = intercept[CurationPipeline.PipelineException](CurationPipeline.parse(badPriv))
    assert(e2.errors.exists(_.contains("steps[0]: filter_repetition needs max_dup_permille")))
    assert(e2.errors.exists(_.contains("steps[1]: k_anonymity needs a non-empty")))
    assert(e2.errors.exists(_.contains("steps[2]: k_anonymity needs k > 0")))
    // filter_gopher (r14): inverted word bounds refuse up front
    val badGopher =
      """steps:
        |  - { op: filter_gopher, min_words: 50, max_words: 10 }
        |""".stripMargin
    val e3 = intercept[CurationPipeline.PipelineException](CurationPipeline.parse(badGopher))
    assert(e3.errors.exists(_.contains("filter_gopher needs 0 < min_words <= max_words")))
    // k_anonymity composition: pipeline == manual anti-join on violations
    val privYaml =
      """steps:
        |  - { op: k_anonymity, quasi_id: [lang, source], k: 4 }
        |""".stripMargin
    val privPiped = CurationPipeline.runYaml(docs, "doc_id", "text", privYaml)
    val bad2 = graft.operators.Features.kAnonymityViolations(docs, Seq("lang", "source"), 4L)
    val privManual = docs.join(bad2.select($"lang", $"source"), Seq("lang", "source"), "left_anti")
    assert(privPiped.orderBy("doc_id").collect().map(_.getAs[Long]("doc_id")).toSeq ==
      privManual.orderBy("doc_id").collect().map(_.getAs[Long]("doc_id")).toSeq)
  }

  test("ivfKnn recall@10 vs brute force: pinned floor, monotone in nprobe, exact at full probe") {
    import graft.operators.Similarity
    // the documented IVF trade (recall vs probed fraction) — measured 0.46
    // at nprobe=4/16 on this fixture; the floor pins it so future centroid
    // changes can't silently degrade it
    val queries = embs.orderBy($"vec_id").limit(32)
    def topsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => r.getLong(0) -> r.getLong(2))
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val brute = topsOf(Similarity.bruteForceKnn(embs, queries, "vec_id", "embedding", k = 10))
    def recallAt(nprobe: Int): Double = {
      val ivf = topsOf(Similarity.ivfKnn(embs, queries, "vec_id", "embedding", k = 10,
        cells = 16, nprobe = nprobe))
      brute.map { case (q, truth) =>
        ivf.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
      }.sum / brute.size
    }
    val r4 = recallAt(4); val r8 = recallAt(8); val r16 = recallAt(16)
    assert(r4 >= 0.4, f"ivf recall@10 degraded: $r4%.3f (floor 0.4)")
    assert(r8 >= r4, f"recall must not fall as nprobe grows: r4=$r4%.3f r8=$r8%.3f")
    assert(r16 == 1.0, f"probing every cell must reproduce brute force exactly: $r16%.3f")
  }

  test("pqKnn: exact at full shortlist, recall floor at the gate shortlist, ivfPq within pq") {
    import graft.operators.Similarity
    val queries = embs.orderBy($"vec_id").limit(32)
    def topsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => r.getLong(0) -> r.getLong(2))
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val brute = topsOf(Similarity.bruteForceKnn(embs, queries, "vec_id", "embedding", k = 10))
    // shortlist >= corpus - 1 makes the exact re-rank see every candidate:
    // PQ-ADC + re-rank must then reproduce brute force BIT-identically
    val full = Similarity.pqKnn(embs, queries, "vec_id", "embedding", k = 10,
      shortlist = 1000)
    val bruteRows = Similarity.bruteForceKnn(embs, queries, "vec_id", "embedding", k = 10)
      .collect().toSet
    assert(full.collect().toSet == bruteRows,
      "pqKnn with a corpus-sized shortlist must equal brute force exactly")
    def recallOf(tops: Map[Long, Set[Long]]): Double =
      brute.map { case (q, truth) =>
        tops.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
      }.sum / brute.size
    val pq = recallOf(topsOf(
      Similarity.pqKnn(embs, queries, "vec_id", "embedding", k = 10, shortlist = 40)))
    val ivfpq = recallOf(topsOf(
      Similarity.ivfPqKnn(embs, queries, "vec_id", "embedding", k = 10, shortlist = 40)))
    info(f"pq recall@10 = $pq%.3f, ivfpq recall@10 = $ivfpq%.3f")
    assert(pq >= 0.5, f"pq recall@10 degraded: $pq%.3f (floor 0.5)")
    // the IVF prune can only REMOVE candidates from the ADC scan, so its
    // recall is bounded by the unpruned PQ recall (small slack: shortlist
    // boundary effects can locally reorder which candidates get re-ranked)
    assert(ivfpq <= pq + 0.05, f"ivfpq recall $ivfpq%.3f above pq recall $pq%.3f")
    assert(ivfpq >= 0.25, f"ivfpq recall@10 degraded: $ivfpq%.3f (floor 0.25)")
  }

  test("semanticDedup drop-set recall vs brute near-dup pairs above the pinned floor") {
    import graft.operators.Dedup
    val tau = 0.4 // fixture max pairwise cosine is ~0.48; the gate query's tau
    val bruteDropped = Dedup.embeddingNearDupBrute(embs, "vec_id", "embedding", tau)
      .select($"id_b").distinct().collect().map(_.getLong(0)).toSet
    val semDropped = Dedup.semanticDedup(embs, "vec_id", "embedding", tau)
      .filter($"keep" === 0L).select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(bruteDropped.nonEmpty, "fixture must contain near-dup pairs at tau=0.4")
    // SemDeDup misses cross-cell pairs by design; everything it DOES drop
    // must be a true near-dup, and within-cell recall must hold the floor
    assert(semDropped.subsetOf(bruteDropped),
      s"semanticDedup dropped non-near-dups: ${semDropped.diff(bruteDropped)}")
    val recall = semDropped.size.toDouble / bruteDropped.size
    assert(recall >= 0.2, f"semantic dedup recall degraded: $recall%.3f (floor 0.2)")
  }

  test("gopherQuality: each rule can fire, keep flag composes them") {
    import graft.operators.TextAnalysis
    val good = "the quick brown fox jumps over a lazy dog and then runs " +
      "far away into the deep dark woods again today with great joy now"
    val df = Seq(
      (1L, good),                                   // passes all rules
      (2L, "short text only here"),                 // too few words
      (3L, Seq.fill(30)("xxxxzzzzqqqqwwww").mkString(" ")), // no stopwords, long words
      (4L, "")).toDF("id", "text")                  // empty: keep=false, no crash
    val r = TextAnalysis.gopherQuality(df, "id", "text").orderBy("id").collect()
    assert(r.map(_.getAs[Long]("keep")).toSeq == Seq(1L, 0L, 0L, 0L), r.mkString("; "))
    assert(r(2).getAs[Long]("stop_hits") == 0L)
    assert(r(2).getAs[Long]("mean_wlen_milli") == 16000L)
  }

  test("ccnetBuckets: per-lang tertiles are balanced and ordered") {
    import graft.operators.Sampling
    val r = Sampling.ccnetBuckets(docs, "doc_id", "lang", "text")
    val perLang = r.groupBy("lang", "bucket").count().collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    val langs = perLang.keys.map(_._1).toSet
    langs.foreach { l =>
      val h = perLang.getOrElse((l, "head"), 0L)
      val m = perLang.getOrElse((l, "middle"), 0L)
      val t = perLang.getOrElse((l, "tail"), 0L)
      val n = h + m + t
      assert(n > 0)
      // tertiles: each bucket within ±2 of n/3 (ties can shift boundaries)
      Seq(h, m, t).foreach(b =>
        assert(math.abs(b - n / 3) <= math.max(2L, n / 6), s"$l: h=$h m=$m t=$t"))
    }
    // ordering: min(head score) >= max(tail score) per lang
    val rows = r.collect().map(x =>
      (x.getString(1), x.getAs[String]("bucket"), x.getAs[Long]("avg_lp_micro")))
    langs.foreach { l =>
      val heads = rows.collect { case (`l`, "head", s) => s }
      val tails = rows.collect { case (`l`, "tail", s) => s }
      if (heads.nonEmpty && tails.nonEmpty)
        assert(heads.min >= tails.max, s"$l: head/tail overlap")
    }
  }

  test("lineDedup strips corpus-frequent lines, keeps content in order") {
    import graft.operators.Dedup
    val boiler = "accept all cookies"
    val df = (1L to 20L).map(i =>
      (i, s"title $i\n$boiler\nbody line ${i % 2}\nunique tail $i")).toDF("id", "text")
    val out = Dedup.lineDedup(df, "id", "text", maxDf = 5L).orderBy("id").collect()
    assert(out.length == 20)
    out.foreach { r =>
      val clean = r.getAs[String]("clean_text")
      val id = r.getLong(0)
      // boilerplate (df 20) and the df-10 body line both exceed maxDf=5
      assert(!clean.contains(boiler) && !clean.contains("body line"))
      assert(clean == s"title $id\nunique tail $id", s"order broken: $clean")
      assert(r.getAs[Long]("n_lines") == 4L && r.getAs[Long]("n_dropped") == 2L)
    }
    // at maxDf = 10 the body line (df exactly 10) survives — boundary is <=
    val relaxed = Dedup.lineDedup(df, "id", "text", maxDf = 10L).orderBy("id").collect()
    assert(relaxed.head.getAs[String]("clean_text").contains("body line"))
    assert(!relaxed.head.getAs[String]("clean_text").contains(boiler))
  }

  test("lineDedup keeps empty/whitespace-only docs as rows, never drops them") {
    import graft.operators.Dedup
    // docs 98/99 have no nonempty line at all — cleaning must not erase
    // them from the corpus (review finding r12: the groupBy alone did)
    val df = (Seq((98L, ""), (99L, "\n\n")) ++
      (1L to 6L).map(i => (i, s"shared banner\nunique $i"))).toDF("id", "text")
    val out = Dedup.lineDedup(df, "id", "text", maxDf = 3L).orderBy("id").collect()
    assert(out.length == 8, s"docs dropped: got ${out.length} of 8")
    val empty = out.filter(r => r.getLong(0) >= 98L)
    empty.foreach { r =>
      assert(r.getAs[String]("clean_text") == "")
      assert(r.getAs[Long]("n_lines") == 0L && r.getAs[Long]("n_dropped") == 0L)
    }
    // and the nonempty docs still strip the banner (df 6 > maxDf 3)
    assert(out.filter(_.getLong(0) <= 6L).forall(r =>
      r.getAs[String]("clean_text").startsWith("unique")))
  }

  test("curriculumOrder: phases partition by difficulty, equal population, reproducible keys") {
    import graft.operators.Batching
    val df = (1L to 80L).map(i => (i, i * 10L)).toDF("id", "d") // distinct difficulties
    val out = Batching.curriculumOrder(df, "id", col("d"), phases = 4, seed = 7L)
      .collect()
    assert(out.length == 80)
    val byPhase = out.groupBy(_.getAs[Long]("phase")).view
      .mapValues(_.map(_.getAs[Long]("difficulty"))).toMap
    assert(byPhase.keySet == Set(0L, 1L, 2L, 3L))
    // every phase-p difficulty is strictly below every phase-(p+1) one
    (0L to 2L).foreach { p =>
      assert(byPhase(p).max < byPhase(p + 1).min, s"phase $p overlaps ${p + 1}")
    }
    // equal-population within one of the boundary tie
    assert(byPhase.values.forall(v => math.abs(v.length - 20) <= 1))
    // same seed -> identical keys; different seed -> different shuffle
    val again = Batching.curriculumOrder(df, "id", col("d"), phases = 4, seed = 7L)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("order_key")).toMap
    val other = Batching.curriculumOrder(df, "id", col("d"), phases = 4, seed = 8L)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("order_key")).toMap
    out.foreach(r => assert(again(r.getLong(0)) == r.getAs[String]("order_key")))
    assert(out.exists(r => other(r.getLong(0)) != r.getAs[String]("order_key")))
  }

  test("urlFilter: suffix-chain domain blocks, keyword precedence, hostless URLs survive") {
    import graft.operators.Sampling
    val docs = Seq(
      (1L, "https://ads.bad.com/x"),        // subdomain of blocked parent -> blocked
      (2L, "https://bad.com/x"),            // exact blocked domain
      (3L, "https://notbad.com/x"),         // suffix must align on a label boundary
      (4L, "https://ok.org/casino/x"),      // keyword only
      (5L, "https://ads.bad.com/casino"),   // domain outranks keyword in reason
      (6L, "no-scheme-here casino"),        // hostless: domain cut passes, keyword cut applies
      (7L, "https://ok.org/fine")
    ).toDF("id", "url")
    val bl = Seq("bad.com").toDF("domain")
    val out = Sampling.urlFilter(docs, "id", "url", bl, "domain",
      blockedKeywords = Seq("casino")).orderBy("id").collect()
    assert(out.length == 7, "every input row must survive with a verdict")
    val reason = out.map(r => r.getLong(0) -> r.getAs[String]("reason")).toMap
    val keep = out.map(r => r.getLong(0) -> r.getAs[Long]("keep")).toMap
    assert(reason(1L) == "domain_blocked" && reason(2L) == "domain_blocked")
    assert(reason(3L) == "ok" && keep(3L) == 1L, "notbad.com must not match bad.com")
    assert(reason(4L) == "keyword_blocked")
    assert(reason(5L) == "domain_blocked", "domain block outranks keyword")
    assert(reason(6L) == "keyword_blocked" && keep(6L) == 0L)
    assert(reason(7L) == "ok" && keep(7L) == 1L)
  }

  test("dsirSelect ranks target-like documents above off-domain ones") {
    import graft.operators.Sampling
    // target docs (is_en) share a vocabulary; raw pool adds off-domain
    // docs with a disjoint vocabulary — DSIR must select the lookalikes
    val target = (1L to 30L).map(i => (i, "en", s"the quick brown fox ${i % 3}"))
    val lookalike = (31L to 40L).map(i => (i, "xx", s"quick brown fox jumps ${i % 3}"))
    val offDomain = (41L to 60L).map(i => (i, "xx", s"zzz qqq www ${i} vvv kkk"))
    val df = (target ++ lookalike ++ offDomain).toDF("doc_id", "lang", "text")
    val picked = Sampling.dsirSelect(df, "doc_id", "text", col("lang") === "en", topK = 40)
      .select("doc_id").as[Long].collect().toSet
    assert(lookalike.map(_._1).forall(picked.contains),
      s"lookalikes missing from top-40: ${lookalike.map(_._1).filterNot(picked.contains)}")
    assert(offDomain.map(_._1).count(picked.contains) == 0 ||
      picked.intersect(offDomain.map(_._1).toSet).size < 10,
      "off-domain docs outranked lookalikes")
    // determinism
    val again = Sampling.dsirSelect(df, "doc_id", "text", col("lang") === "en", topK = 40)
      .select("doc_id").as[Long].collect().toSet
    assert(picked == again)
  }

  test("htmlExtract strips boilerplate, decodes entities, drops link-heavy blocks") {
    val html =
      "<html><!-- hidden --><head><script>if (a < b) alert('x');</script>" +
        "<style>p { font-size: 2em }</style></head><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/x\">More</a></nav>" +
        "<p>Fish &amp; chips &lt;3 say &quot;hi&quot;</p>" +
        "<div>Read more <a href=\"/d\">over here</a> today</div>" +
        "<footer><a href=\"/t\">Terms</a></footer></body></html>"
    val df = Seq((1L, html)).toDF("id", "html")
    val out = TextAnalysis.htmlExtract(df, "id", "html").collect().head
    val clean = out.getAs[String]("clean_text")
    // comment/script/style gone entirely (incl. the bare `<` inside script)
    assert(!clean.contains("hidden") && !clean.contains("alert") && !clean.contains("font-size"))
    // entities decoded, &amp; last
    assert(clean.contains("Fish & chips <3 say \"hi\""))
    // nav (density 1000) and footer dropped; mixed div kept with its anchor text
    assert(!clean.contains("Home") && !clean.contains("Terms"))
    assert(clean.contains("Read more over here today"))
    assert(out.getAs[Long]("n_kept") == 2L, s"kept: $out")
    assert(out.getAs[Long]("n_dropped") == 2L, s"dropped: $out")
    // document density: anchors Home+More+over here+Terms over all nonempty text
    val allTxt = Seq("Home More", "Fish & chips <3 say \"hi\"",
      "Read more over here today", "Terms").map(_.length).sum
    val anchors = Seq("Home", "More", "over here", "Terms").map(_.length).sum
    assert(out.getAs[Long]("link_permille") == anchors * 1000L / allTxt)
    // double-encoded entity renders as the literal entity, not markup
    val enc = Seq((2L, "<p>a &amp;lt;tag&amp;gt; z</p>")).toDF("id", "html")
    val c2 = TextAnalysis.htmlExtract(enc, "id", "html").collect().head.getAs[String]("clean_text")
    assert(c2 == "a &lt;tag&gt; z", s"got '$c2'")
  }

  test("extract_html pipeline step replaces text and drops empty extractions") {
    val df = Seq(
      (1L, "<p>long enough real content here</p>"),
      (2L, "<nav><a href='/'>Only links</a></nav>")).toDF("doc_id", "text")
    val out = graft.operators.CurationPipeline.runYaml(df, "doc_id", "text",
      "steps:\n  - { op: extract_html }\n")
    val rows = out.orderBy("doc_id").collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 1L)
    assert(rows.head.getAs[String]("text") == "long enough real content here")
    // validation: out-of-range density fails before any job
    val err = intercept[graft.operators.CurationPipeline.PipelineException] {
      graft.operators.CurationPipeline.parse(
        "steps:\n  - { op: extract_html, max_link_density_permille: 1001 }\n")
    }
    assert(err.errors.exists(_.contains("max_link_density_permille")))
  }
}
