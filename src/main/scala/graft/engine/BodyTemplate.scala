package graft.engine

import graft.JsonString

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Body-template engine for the HTTP sink, covering the template surface the
  * reference actually exposes (sdvg `writer/http/http.go:134-151` parses Go
  * `text/template` with custom funcs `json` and `len` over a payload of
  * `{ModelName, Rows}`; default template `models/generator_output.go:17`).
  *
  * Supported grammar (the practical subset of Go text/template those inputs
  * can use — field paths, the two funcs, `range`/`end` iteration and `{{-`
  * / `-}}` whitespace trimming):
  *
  * {{{
  *   template := (text | "{{" "-"? expr "-"? "}}")*
  *   expr     := "range" path | "end" | "json" path | "len" path | path
  *   path     := "." | "." Ident ("." Ident)*
  * }}}
  *
  * Inside `range .Rows`, `.` is the current row and `.colname` resolves a
  * column. Parsing happens ONCE on the driver (malformed templates fail the
  * job before any generation runs); rendering is a per-batch string build on
  * the executor. Function pipelines, conditionals, variables and nested
  * templates are NOT supported and raise a parse error naming the action.
  */
object BodyTemplate {

  sealed trait Node extends Serializable
  private final case class Text(s: String) extends Node
  // kind: "field" | "json" | "len"
  private final case class Action(kind: String, path: List[String]) extends Node
  private final case class Loop(path: List[String], body: Vector[Node]) extends Node

  /** Parse a template to its node tree; throws IllegalArgumentException on
    * malformed actions, unknown functions or unbalanced range/end. */
  def parse(src: String): Vector[Node] = {
    // lex into raw text / action chunks, applying {{- / -}} trimming
    final case class RawAction(content: String)
    val chunks = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    var pos = 0
    while (pos < src.length) {
      val open = src.indexOf("{{", pos)
      if (open < 0) {
        chunks += src.substring(pos); pos = src.length
      } else {
        val close = src.indexOf("}}", open + 2)
        require(close >= 0, s"unclosed {{ at offset $open")
        var text = src.substring(pos, open)
        var inner = src.substring(open + 2, close)
        if (inner.startsWith("-")) { inner = inner.drop(1); text = text.replaceAll("\\s+$", "") }
        val trimRight = inner.endsWith("-")
        if (trimRight) inner = inner.dropRight(1)
        if (text.nonEmpty) chunks += text
        chunks += RawAction(inner.trim)
        pos = close + 2
        if (trimRight) {
          while (pos < src.length && src.charAt(pos).isWhitespace) pos += 1
        }
      }
    }
    def parsePath(tok: String, action: String): List[String] = {
      // String.split drops TRAILING empty segments, so '.id.' would parse
      // as '.id' silently — reject trailing dots explicitly
      require(tok == "." || (tok.startsWith(".") && tok.length > 1 && !tok.endsWith(".") &&
        tok.split('.').drop(1).forall(p => p.nonEmpty && p.forall(c => c.isLetterOrDigit || c == '_'))),
        s"unsupported path '$tok' in action '$action'")
      if (tok == ".") Nil else tok.split('.').drop(1).toList
    }
    // recursive-descent over the chunk list with a loop stack
    val rootBody = scala.collection.mutable.ArrayBuffer.empty[Node]
    var stack: List[(List[String], scala.collection.mutable.ArrayBuffer[Node])] = Nil
    def sink: scala.collection.mutable.ArrayBuffer[Node] =
      stack.headOption.map(_._2).getOrElse(rootBody)
    chunks.foreach {
      case s: String => sink += Text(s)
      case RawAction(a) =>
        val toks = a.split("\\s+").toList.filter(_.nonEmpty)
        toks match {
          case List("end") =>
            require(stack.nonEmpty, "'end' with no open 'range'")
            val (path, body) = stack.head
            stack = stack.tail
            sink += Loop(path, body.toVector)
          case List("range", p) => stack = (parsePath(p, a),
            scala.collection.mutable.ArrayBuffer.empty[Node]) :: stack
          case List("json", p) => sink += Action("json", parsePath(p, a))
          case List("len", p) => sink += Action("len", parsePath(p, a))
          case List(p) if !p.startsWith("$") => sink += Action("field", parsePath(p, a))
          // Recognize the rest of Go text/template's grammar BY NAME so a
          // user porting a reference template learns exactly which feature
          // to rewrite, not just "unsupported".
          case ("if" | "else" | "with" | "define" | "template" | "block") :: _ =>
            throw new IllegalArgumentException(
              s"Go text/template '${toks.head}' actions are not supported by this " +
                s"HTTP-sink template engine (got '{{ $a }}'); supported actions: " +
                "field paths, json/len, range/end, {{- -}} trimming")
          case _ if toks.exists(t => t.startsWith("$")) =>
            throw new IllegalArgumentException(
              s"Go text/template variables ($$var) are not supported by this " +
                s"HTTP-sink template engine (got '{{ $a }}'); supported actions: " +
                "field paths, json/len, range/end, {{- -}} trimming")
          case _ if a.contains("|") =>
            throw new IllegalArgumentException(
              s"Go text/template function pipelines (x | f) are not supported by " +
                s"this HTTP-sink template engine (got '{{ $a }}'); supported actions: " +
                "field paths, json/len, range/end, {{- -}} trimming")
          case _ => throw new IllegalArgumentException(
            s"unsupported template action '{{ $a }}' (supported: paths, json/len, range/end)")
        }
      case other => throw new IllegalStateException(other.toString)
    }
    require(stack.isEmpty, "'range' with no matching 'end'")
    rootBody.toVector
  }

  /** Render parsed nodes for one batch. */
  def render(nodes: Vector[Node], modelName: String, rows: Seq[Row], schema: StructType): String = {
    val sb = new java.lang.StringBuilder(rows.size * 64 + 64)
    // dot values: None = root payload, Some(row) = inside range
    def resolve(path: List[String], dot: Option[Row]): Any = (path, dot) match {
      case (Nil, None) => null // the root payload itself (json-only)
      case (Nil, Some(row)) => row
      case (List("ModelName"), None) => modelName
      case (List("Rows"), None) => rows
      case (List(field), Some(row)) =>
        val i = schema.fieldIndex(field) // throws a clear error on unknown column
        if (row.isNullAt(i)) null else row.get(i)
      case _ => throw new IllegalArgumentException(
        s"unresolvable template path '.${path.mkString(".")}'" +
          (if (dot.isDefined) " inside range" else ""))
    }
    def jsonOf(path: List[String], dot: Option[Row]): String = (path, dot) match {
      case (Nil, None) =>
        s"""{"ModelName":${JsonString(modelName)},"Rows":${HttpSink.rowsJson(rows, schema)}}"""
      case (List("Rows"), None) => HttpSink.rowsJson(rows, schema)
      case (Nil, Some(row)) => HttpSink.rowsJson(Seq(row), schema).stripPrefix("[").stripSuffix("]")
      case _ =>
        resolve(path, dot) match {
          case null => "null"
          case n @ (_: Byte | _: Short | _: Int | _: Long | _: Float | _: Double | _: Boolean) => n.toString
          case other => JsonString(other.toString)
        }
    }
    def walk(ns: Vector[Node], dot: Option[Row]): Unit = ns.foreach {
      case Text(s) => sb.append(s)
      case Action("json", p) => sb.append(jsonOf(p, dot))
      case Action("len", p) =>
        resolve(p, dot) match {
          case xs: Seq[_] => sb.append(xs.size)
          case s: String => sb.append(s.length)
          case other => throw new IllegalArgumentException(s"len of non-collection: $other")
        }
      case Action(_, p) =>
        resolve(p, dot) match {
          case null => sb.append("null")
          case rs: Seq[_] => sb.append(rs.mkString("[", " ", "]"))
          case v => sb.append(v.toString)
        }
      case Loop(p, body) =>
        resolve(p, dot) match {
          case xs: Seq[_] => xs.foreach(x => walk(body, Some(x.asInstanceOf[Row])))
          case other => throw new IllegalArgumentException(s"range over non-collection: $other")
        }
    }
    walk(nodes, None)
    sb.toString
  }
}
