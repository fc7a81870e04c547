package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON: a writer for the result/span files and a reader for the
  * generator's manifest (Jackson, from the Spark classpath).
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number in JSON output: $d")
      d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(scala.collection.immutable.ListMap(kv: _*))

  def read(path: java.nio.file.Path): JsonNode = new ObjectMapper().readTree(path.toFile)

  def longs(n: JsonNode): Seq[Long] = {
    val it = n.elements()
    val out = Seq.newBuilder[Long]
    while (it.hasNext) out += it.next().asLong()
    out.result()
  }
}
