package graft

import graft.config.ConfigParser
import graft.engine.Engine

import org.apache.spark.sql.Row

/** Engine invariants ported from the reference suite
  * (`internal/generator/usecase/general/test/unit_test.go`, 1001 lines):
  * type + bounds per bit width, ordered => non-decreasing,
  * distinct_percentage 1 => all unique, FK child ⊆ parent, null percentages,
  * ranges routing, enum cycling, and determinism across runs/parallelism.
  * Same canonical constants: 251 rows, seed 1738591926070236604. */
class EngineSpec extends SparkSuite {

  private val seed = "1738591926070236604"

  private def collectCol(yaml: String, model: String = "test", col: String = "test"): Seq[Any] = {
    val cfg = ConfigParser.parseYaml(yaml)
    Engine.modelFrame(spark, cfg, cfg.model(model))
      .select(col).collect().toSeq.map(r => if (r.isNullAt(0)) null else r.get(0))
  }

  private def oneCol(typ: String, extra: String = ""): String =
    s"""
       |random_seed: $seed
       |models:
       |  test:
       |    rows_count: 251
       |    columns:
       |      - name: test
       |        type: $typ
       |$extra""".stripMargin

  test("integer bit widths produce right physical types and bounds") {
    val cases = Seq(
      ("integer", "        type_params: { bit_width: 8 }", classOf[java.lang.Byte]),
      ("integer", "        type_params: { bit_width: 16 }", classOf[java.lang.Short]),
      ("integer", "", classOf[java.lang.Integer]),
      ("integer", "        type_params: { bit_width: 64 }", classOf[java.lang.Long]))
    for ((typ, extra, cls) <- cases) {
      val vals = collectCol(oneCol(typ, extra))
      assert(vals.size == 251)
      assert(vals.forall(v => v != null && cls.isInstance(v)), s"wrong type for $extra")
    }
  }

  test("integer from/to bounds are respected") {
    val vals = collectCol(oneCol("integer", "        type_params: { from: -200, to: -100 }"))
    assert(vals.forall { case i: Int => i >= -200 && i <= -100 })
  }

  test("integer boundary values at exact bit-width min/max") {
    val vals = collectCol(oneCol(
      "integer",
      "        type_params: { bit_width: 8, from: -128, to: 127 }"))
    assert(vals.forall { case b: Byte => true; case _ => false })
  }

  test("float bounds and types") {
    val v32 = collectCol(oneCol("float", "        type_params: { from: 0.5, to: 2.5 }"))
    assert(v32.forall { case f: Float => f >= 0.5f && f <= 2.5f })
    val v64 = collectCol(oneCol("float", "        type_params: { bit_width: 64, from: 0.5, to: 2.5 }"))
    assert(v64.forall { case d: Double => d >= 0.5 && d <= 2.5 })
  }

  test("string length bounds") {
    val vals = collectCol(oneCol("string", "        type_params: { min_length: 5, max_length: 10 }"))
    assert(vals.forall { case s: String => s.length >= 5 && s.length <= 10 })
  }

  test("string default length bounds 1..32") {
    val vals = collectCol(oneCol("string"))
    assert(vals.forall { case s: String => s.length >= 1 && s.length <= 32 })
  }

  test("string template") {
    val vals = collectCol(oneCol("string", "        type_params: { template: \"AA 00 000 000\" }"))
    val re = "^[A-Z]{2} [0-9]{2} [0-9]{3} [0-9]{3}$".r
    assert(vals.forall { case s: String => re.matches(s) })
  }

  test("locale corpora are rich enough to matter as a value domain") {
    import graft.locale.Locales
    // the reference ships thousands-of-entries corpora; the rule-expanded
    // lists must stay in that league so a first_name/last_name/text column
    // has a realistic distinct-value count, not a 100-name loop
    assert(Locales.en.firstNamesAll.length >= 2000, Locales.en.firstNamesAll.length.toString)
    assert(Locales.en.lastNamesAll.length >= 1500, Locales.en.lastNamesAll.length.toString)
    assert(Locales.en.words.length >= 11000, Locales.en.words.length.toString)
    assert(Locales.ru.firstNamesAll.length >= 500, Locales.ru.firstNamesAll.length.toString)
    assert(Locales.ru.lastNamesAll.length >= 8500, Locales.ru.lastNamesAll.length.toString)
    assert(Locales.ru.words.length >= 6000, Locales.ru.words.length.toString)
    // expansion must never break the locale contract: capitalized names,
    // words inside the locale charset, everything deduped and sorted
    for (l <- Seq(Locales.en, Locales.ru)) {
      assert(l.firstNamesAll.forall(n => n.nonEmpty && n.head.isUpper))
      assert(l.lastNamesAll.forall(n => n.nonEmpty && n.head.isUpper))
      assert(l.words.forall(w => w.nonEmpty && w.forall(l.smallLetters.contains(_))))
      assert(l.firstNamesAll.toSeq == l.firstNamesAll.toSeq.distinct.sorted)
      assert(l.words.toSeq == l.words.toSeq.distinct.sorted)
    }
  }

  test("names and phones come from locale corpora with length bounds") {
    for (locale <- Seq("en", "ru")) {
      val first = collectCol(oneCol(
        "string", s"        type_params: { logical_type: first_name, locale: $locale }"))
      assert(first.forall { case s: String => s.nonEmpty && s.length <= 32 })
      val phone = collectCol(oneCol(
        "string", s"        type_params: { logical_type: phone, locale: $locale }"))
      assert(phone.forall { case s: String => s.exists(_.isDigit) })
    }
  }

  test("text logical type respects length bounds") {
    for ((min, max) <- Seq((3, 5), (254, 256))) {
      val vals = collectCol(oneCol(
        "string",
        s"        type_params: { logical_type: text, min_length: $min, max_length: $max }"))
      assert(
        vals.forall { case s: String => s.length >= min && s.length <= max },
        s"bad lengths for ($min,$max): ${vals.collect { case s: String if s.length < min || s.length > max => s.length }.take(5)}")
    }
  }

  test("text word selection by binary search is bit-identical to the linear scan") {
    // ground truth: the pre-r10 O(words) lex-order scan, reimplemented here
    def linearText(s: gen.Values.StringSpec, num: Double): String = {
      val words = s.locale.words
      val oneLetter = s.locale.oneLetterWords
      val lengthSpread = s.maxLength - s.minLength + 1
      val wantedLen = s.minLength + (math.abs(num.toLong) % lengthSpread).toInt
      val maxComputed = s.completions.length - 1
      var remaining = math.min(wantedLen + 1, maxComputed)
      if (remaining < 0) remaining = 0
      var number: Long =
        if (remaining >= 0 && s.completions(remaining) > 0)
          math.floor((s.completions(remaining) - 1).toDouble * (num / s.total)).toLong
        else 0L
      val sb = new java.lang.StringBuilder(wantedLen + 8)
      var textLen = 0
      var ok = true
      while (remaining > 0 && ok) {
        if (remaining == 1) {
          if (oneLetter.nonEmpty) {
            sb.append(oneLetter((number % oneLetter.length).toInt)); textLen += 1
          }
          remaining = 0
        } else {
          var w = 0; var found = false
          while (w < words.length && !found) {
            val wLen = words(w).length + 1
            if (wLen <= remaining) {
              val count = s.completions(remaining - wLen)
              if (number < count) {
                sb.append(words(w)).append(" "); textLen += wLen
                remaining -= wLen; found = true
              } else number -= count
            }
            w += 1
          }
          if (!found) ok = false
        }
      }
      var k = math.abs(num.toLong)
      while (textLen < wantedLen) {
        val w = words((k % math.max(1, words.length - 1)).toInt)
        sb.append(w).append(" "); textLen += w.length + 1; k += 1
      }
      val res = sb.toString
      if (res.length > wantedLen) res.substring(0, wantedLen) else res
    }
    for (locale <- Seq("en", "ru"); (min, max) <- Seq((3, 5), (32, 64), (200, 256))) {
      val s = gen.Values.StringSpec(
        config.StringParams(min, max, locale, "text", "", false, false, false, false), 1e9)
      val rnd = new scala.util.Random(7)
      val nums = (0 until 500).map(_ => rnd.nextDouble() * 1e9) ++ Seq(0.0, 1.0, 999999999.0)
      nums.foreach { n =>
        assert(gen.Values.text(s, n) == linearText(s, n), s"diverged at locale=$locale num=$n ($min,$max)")
      }
    }
  }

  test("uuid shape") {
    val vals = collectCol(oneCol("uuid"))
    val re = "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$".r
    assert(vals.forall { case s: String => re.matches(s) })
  }

  test("datetime within range") {
    val vals = collectCol(oneCol(
      "datetime",
      "        type_params: { from: 2020-01-01T00:00:00Z, to: 2020-12-31T00:00:00Z }"))
    val lo = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2020-12-31 00:00:01")
    assert(vals.forall { case t: java.sql.Timestamp => !t.before(lo) && !t.after(hi) })
  }

  test("ordered => non-decreasing (integer, string, datetime)") {
    def checkOrdered(vals: Seq[Any], cmp: (Any, Any) => Boolean): Unit =
      vals.sliding(2).foreach {
        case Seq(a, b) => assert(cmp(a, b), s"not ordered: $a then $b")
        case _ => ()
      }
    val ints = collectCol(oneCol("integer", "        ordered: true"))
    checkOrdered(ints, (a, b) => a.asInstanceOf[Int] <= b.asInstanceOf[Int])
    val strs = collectCol(oneCol(
      "string", "        type_params: { min_length: 16, max_length: 32 }\n        ordered: true"))
    checkOrdered(strs, (a, b) => a.asInstanceOf[String] <= b.asInstanceOf[String])
    val dts = collectCol(oneCol("datetime", "        ordered: true"))
    checkOrdered(dts, (a, b) => !a.asInstanceOf[java.sql.Timestamp].after(b.asInstanceOf[java.sql.Timestamp]))
  }

  test("distinct_percentage 1 => all values unique") {
    val vals = collectCol(oneCol(
      "integer", "        type_params: { to: 10000000 }\n        distinct_percentage: 1"))
    assert(vals.distinct.size == vals.size)
  }

  test("distinct_count caps cardinality") {
    val vals = collectCol(oneCol("string", "        distinct_count: 5"))
    assert(vals.distinct.size <= 5)
    assert(vals.distinct.size > 1)
  }

  test("null_percentage injects about the right share of nulls") {
    val vals = collectCol(oneCol("integer", "        null_percentage: 0.5"))
    val nulls = vals.count(_ == null)
    assert(nulls > 60 && nulls < 190, s"nulls=$nulls of ${vals.size}")
    val none = collectCol(oneCol("integer"))
    assert(none.count(_ == null) == 0)
  }

  test("enum values cycle through sorted literals incl. null") {
    val vals = collectCol(oneCol("integer", "        values: [null, 1]"))
    assert(vals.toSet.subsetOf(Set[Any](null, 1L)))
    assert(vals.contains(null) && vals.contains(1L))
  }

  test("ranges: values route to exactly one range with ceil-bounded counts") {
    val yaml =
      s"""
         |random_seed: $seed
         |models:
         |  test:
         |    rows_count: 251
         |    columns:
         |      - name: test
         |        type: integer
         |        ranges:
         |          - type_params: { bit_width: 32, from: -200, to: -100 }
         |          - type_params: { bit_width: 64, from: 300, to: 400 }
         |          - values: [999]
         |""".stripMargin
    val vals = collectCol(yaml)
    val r1 = vals.count { case i: Long => i >= -200 && i <= -100; case _ => false }
    val r2 = vals.count { case i: Long => i >= 300 && i <= 400; case _ => false }
    val r3 = vals.count { case i: Long => i == 999; case _ => false }
    assert(r1 + r2 + r3 == 251, s"r1=$r1 r2=$r2 r3=$r3")
    val cap = math.ceil(251.0 / 3 + 1).toInt
    assert(r1 <= cap && r2 <= cap && r3 <= cap, s"r1=$r1 r2=$r2 r3=$r3 cap=$cap")
  }

  test("ranges with explicit weights") {
    val yaml =
      s"""
         |random_seed: $seed
         |models:
         |  test:
         |    rows_count: 1000
         |    columns:
         |      - name: test
         |        type: float
         |        ranges:
         |          - { type_params: { from: 0.0, to: 1.0 }, range_percentage: 0.85 }
         |          - { type_params: { from: 100.0, to: 101.0 }, range_percentage: 0.1 }
         |          - { values: [-5.5], range_percentage: 0.05 }
         |""".stripMargin
    val vals = collectCol(yaml)
    val r1 = vals.count { case f: Float => f >= 0 && f <= 1; case _ => false }
    val r2 = vals.count { case f: Float => f >= 100 && f <= 101; case _ => false }
    val r3 = vals.count { case f: Float => f == -5.5f; case _ => false }
    assert(r1 + r2 + r3 == 1000)
    assert(r1 <= math.ceil(1000 * 0.85).toInt && r2 <= math.ceil(1000 * 0.1).toInt
      && r3 <= math.ceil(1000 * 0.05).toInt, s"$r1/$r2/$r3")
  }

  test("foreign key: child values ⊆ parent values (with and without order)") {
    for (fkOrder <- Seq(false, true); nullPct <- Seq(0.0, 0.3)) {
      val yaml =
        s"""
           |random_seed: $seed
           |models:
           |  orig:
           |    rows_count: 251
           |    columns:
           |      - name: test
           |        type: integer
           |        type_params: { from: 0, to: 1000000 }
           |        null_percentage: $nullPct
           |  foreign:
           |    rows_count: 502
           |    columns:
           |      - name: test
           |        foreign_key: orig.test
           |        foreign_key_order: $fkOrder
           |""".stripMargin
      val cfg = ConfigParser.parseYaml(yaml)
      val parent = Engine.modelFrame(spark, cfg, cfg.model("orig"))
        .collect().map(r => if (r.isNullAt(0)) null else r.get(0)).toSet
      val child = Engine.modelFrame(spark, cfg, cfg.model("foreign"))
        .collect().map(r => if (r.isNullAt(0)) null else r.get(0))
      assert(child.size == 502)
      val bad = child.filter(v => v != null && !parent.contains(v))
      assert(bad.isEmpty, s"fkOrder=$fkOrder null=$nullPct: ${bad.take(5).mkString(",")} not in parent")
      if (nullPct > 0) assert(child.contains(null))
    }
  }

  test("idempotence: same seed => identical data, across partition counts") {
    val yaml = oneCol("uuid")
    val a = collectCol(yaml)
    val b = collectCol(yaml)
    assert(a == b)
    // different parallelism must not change content (order by row id)
    val cfg = ConfigParser.parseYaml(yaml)
    val model = cfg.model("test")
    val df1 = spark.range(0, 251, 1, 1).select(
      graft.gen.Planner.planModel(cfg, model).map(_.expr(org.apache.spark.sql.functions.col("id"))): _*)
    val df32 = spark.range(0, 251, 1, 32).select(
      graft.gen.Planner.planModel(cfg, model).map(_.expr(org.apache.spark.sql.functions.col("id"))): _*)
    assert(df1.collect().toSeq == df32.collect().toSeq)
  }

  test("partition-count invariance across the full column matrix") {
    // ranges + FK + nulls + strings: content must not depend on parallelism
    val yaml =
      s"""
         |random_seed: $seed
         |models:
         |  test:
         |    rows_count: 500
         |    columns:
         |      - { name: a, type: integer, ranges: [ { type_params: { from: 0, to: 9 } }, { values: [99] } ] }
         |      - { name: b, type: string, type_params: { logical_type: text, min_length: 10, max_length: 20 } }
         |      - { name: c, type: datetime, null_percentage: 0.2 }
         |      - { name: d, type: float, ordered: true }
         |""".stripMargin
    val cfg = ConfigParser.parseYaml(yaml)
    val plans = graft.gen.Planner.planModel(cfg, cfg.model("test"))
    def run(parts: Int) = spark.range(0, 500, 1, parts)
      .select(plans.map(_.expr(org.apache.spark.sql.functions.col("id"))): _*)
      .collect().toSeq
    assert(run(1) == run(7) && run(7) == run(32))
  }

  test("seed 0 gives non-idempotent runs") {
    val yaml = oneCol("uuid").replace(s"random_seed: $seed", "random_seed: 0")
    val a = collectCol(yaml)
    val b = collectCol(yaml)
    assert(a != b)
  }

  test("generate_from/to slice matches the full run") {
    val full = collectCol(oneCol("integer"))
    val yaml = oneCol("integer").replace(
      "rows_count: 251",
      "rows_count: 251\n    generate_from: 100\n    generate_to: 200")
    val slice = collectCol(yaml)
    assert(slice == full.slice(100, 200))
  }

  test("multi-model FK determinism fixture (F2 shape)") {
    val yaml =
      s"""
         |random_seed: $seed
         |models:
         |  user:
         |    rows_count: 251
         |    columns:
         |      - { name: id, type: integer, type_params: { to: 10000000 }, distinct_percentage: 0.5 }
         |      - { name: id_2, type: integer, ordered: true }
         |      - { name: str_id, type: string, type_params: { min_length: 16, max_length: 32 }, ordered: true }
         |      - { name: passport, type: string, type_params: { template: "AA 00 000 000" }, null_percentage: 0.5 }
         |      - { name: datetime, type: datetime }
         |      - { name: uuid, type: uuid }
         |      - { name: enum, type: integer, values: [null, 1] }
         |  token:
         |    rows_count: 251
         |    columns:
         |      - { name: id, type: integer }
         |      - { name: user_id, foreign_key: user.id }
         |""".stripMargin
    val cfg = ConfigParser.parseYaml(yaml)
    val run1 = cfg.activeModels.map(m => m -> Engine.modelFrame(spark, cfg, m))
      .map { case (m, df) => m.name -> df.collect().toSeq }
    val run2 = cfg.activeModels.map(m => m -> Engine.modelFrame(spark, cfg, m))
      .map { case (m, df) => m.name -> df.collect().toSeq }
    assert(run1 == run2)
    val userIds = run1.find(_._1 == "user").get._2.map(_.get(0)).toSet
    val tokenUserIds = run2.find(_._1 == "token").get._2.map(_.get(1)).filter(_ != null)
    assert(tokenUserIds.forall(userIds.contains))
  }
}
