package graft.core

import org.apache.spark.sql.Row

/** The one JSON renderer for everything the CLI, Bench, Verify and the
  * store tooling print or write. Values render by type ([[value]]), so
  * no caller quotes by hand: the verify/fsck surfaces embed exception
  * messages (Spark AnalysisException text is routinely multi-line), and
  * a hand-quoted field there emits malformed JSON precisely when a store
  * is damaged.
  */
object Jsons {

  /** JSON-quote `s`: backslash, quote, and EVERY control character
    * (< 0x20, including \n \r \t) escaped per RFC 8259. */
  def str(s: String): String =
    s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    }.mkString("\"", "", "\"")

  /** Already-rendered JSON, embedded as is by [[value]]. */
  final case class Raw(text: String) {
    override def toString: String = text
  }

  /** An object of `fields` in the given order; a `None` field is left
    * out, a `Some` renders its content. */
  def obj(fields: (String, Any)*): Raw =
    Raw(fields.collect { case (k, v) if v != None => s"${str(k)}:${value(v)}" }
      .mkString("{", ",", "}"))

  /** One value: string (escaped by [[str]]), Int/Long, Boolean, finite
    * Double via `toString` (NaN and ±Inf as `null`, which JSON lacks a
    * number for), `null`, a Seq or Array as an array, a Spark Row as an
    * object of its fields by name, [[Raw]] as is. */
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case r: Raw => r.text
    case r: Row => obj(r.schema.fieldNames.toSeq.zip(r.toSeq): _*).text
    case xs: scala.collection.Seq[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => throw new IllegalArgumentException(
      s"no JSON rendering for ${other.getClass.getName}")
  }
}
