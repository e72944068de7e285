package graft

import graft.config.{ConfigParser, StringParams}
import graft.engine.Engine
import graft.gen.Values.StringSpec

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

/** String domain values and the string spec the planner hands the kernel. */
class ValuesSpec extends SparkSuite {

  test("a '|' in a string template is a literal character") {
    val cfg = ConfigParser.parseYaml(
      """
        |random_seed: 7
        |models:
        |  m:
        |    rows_count: 200
        |    columns:
        |      - { name: code, type: string, type_params: { template: "AA|000" } }
        |""".stripMargin)
    val vals = Engine.modelFrame(spark, cfg, cfg.model("m")).collect().map(_.getString(0))
    assert(vals.length == 200)
    val re = "^[A-Z]{2}\\|[0-9]{3}$".r
    vals.foreach(v => assert(re.matches(v), v))
  }

  test("a string spec serializes as its parameters and resolves to the interned instance") {
    val spec = StringSpec(StringParams(1, 64, "en", "text", "", false, false, false, false), 1e6)
    assert(spec.valuesCount > 0 && spec.completions.nonEmpty && spec.rankTable.nonEmpty)
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(spec)
    out.close()
    assert(bytes.size < 1024, s"${bytes.size} bytes")
    val back = new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray)).readObject()
    assert(back eq spec)
  }
}
