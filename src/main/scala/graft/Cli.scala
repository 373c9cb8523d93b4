package graft

/** The CLI's option model. Each command declares its options once —
  * name, type, default or required, one-line doc — and every other use
  * derives from that declaration, as in the reference's click command
  * group (main.py:23-111):
  *
  *  - [[parse]] checks a `--key value` map against the command's entry
  *    before any Spark work: an undeclared key fails naming the nearest
  *    declared one, a value that does not parse as the declared type
  *    fails naming the flag;
  *  - [[Opts]] serves typed reads with the declared default filled in;
  *    reading a key the entry does not declare is a programming error
  *    and fails loudly;
  *  - [[usage]] renders the help text from the same entries.
  */
private[graft] object Cli {

  /** An option's value type. `accepts` is the parse check [[parse]]
    * runs on the raw string; the [[Opts]] getters parse the same way. */
  sealed abstract class Kind(val name: String, parse1: String => Any,
                             list: Boolean = false) {
    def accepts(v: String): Boolean =
      try { (if (list) items(v) else Seq(v.trim)).foreach(parse1); true }
      catch { case _: IllegalArgumentException => false }
  }
  case object Str extends Kind("str", identity)
  case object IntK extends Kind("int", _.toInt)
  case object LongK extends Kind("long", _.toLong)
  case object DoubleK extends Kind("double", _.toDouble)
  case object Bool extends Kind("bool", _.toBoolean)
  case object Ints extends Kind("ints", _.toInt, list = true)
  case object Longs extends Kind("longs", _.toLong, list = true)
  case object Doubles extends Kind("doubles", _.toDouble, list = true)

  private val kinds =
    Seq(Str, IntK, LongK, DoubleK, Bool, Ints, Longs, Doubles)
      .map(k => k.name -> k).toMap

  /** The comma-list form every list-valued option uses. */
  def items(v: String): Seq[String] =
    v.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  final case class Opt(name: String, kind: Kind, default: Option[String],
                       required: Boolean, doc: String)

  private val Spec = """(?s)([a-z0-9-]+)(?::([a-z]+))?(?:(!)|=(.*))?""".r

  /** One option from its spec `name[:kind][=default | !]` — `!` marks
    * it required (a missing required key fails when it is read), no
    * kind means `str`, no default and no `!` means optional. */
  def opt(spec: String, doc: String): Opt = spec match {
    case Spec(name, kind, req, dflt) =>
      Opt(name, Option(kind).fold[Kind](Str)(k => kinds.getOrElse(k,
        throw new IllegalStateException(s"option $name: unknown kind $k"))),
        Option(dflt), req != null, doc)
    case _ => throw new IllegalStateException(s"bad option spec '$spec'")
  }

  final case class Cmd(name: String, doc: String, opts: Seq[Opt]) {
    val byName: Map[String, Opt] = opts.map(o => o.name -> o).toMap
    require(byName.size == opts.size, s"$name declares an option twice")
    opts.foreach(o => o.default.foreach(d => require(o.kind.accepts(d),
      s"$name --${o.name}: default '$d' is not a ${o.kind.name}")))
  }

  /** The options one command was invoked with: typed reads over the
    * given keys, falling back to the declared defaults. */
  final class Opts(val cmd: Cmd, val given: Map[String, String]) {
    private def declared(k: String): Opt = cmd.byName.getOrElse(k,
      throw new IllegalStateException(
        s"${cmd.name} reads option --$k, which its entry does not declare"))
    /** The given value, else the declared default. */
    def get(k: String): Option[String] =
      given.get(k).orElse(declared(k).default)
    /** True when the caller passed `--k` (a default does not count). */
    def has(k: String): Boolean = { declared(k); given.contains(k) }
    def str(k: String): String = get(k).getOrElse(
      throw new IllegalArgumentException(s"missing required option --$k"))
    def int(k: String): Int = str(k).trim.toInt
    def long(k: String): Long = str(k).trim.toLong
    def double(k: String): Double = str(k).trim.toDouble
    def bool(k: String): Boolean = str(k).trim.toBoolean
    def list(k: String): Seq[String] = items(str(k))
  }

  /** Check `given` against `cmd`'s entry in `table`; see the object doc. */
  def parse(table: Seq[Cmd], cmd: String,
            given: Map[String, String]): Opts = {
    val c = table.find(_.name == cmd).getOrElse(
      throw new IllegalArgumentException(s"unknown command '$cmd'" +
        hint(cmd, table.map(_.name))))
    given.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val o = c.byName.getOrElse(k, throw new IllegalArgumentException(
        s"$cmd: unknown option --$k" +
          hint(s"--$k", c.opts.map("--" + _.name))))
      require(o.kind.accepts(v),
        s"$cmd: --$k expects a ${o.kind.name} value, got '$v'")
    }
    new Opts(c, given)
  }

  /** Fail naming the nearest of `allowed` when a name in `names` is not
    * one of them. */
  def requireKnown(what: String, names: Seq[String],
                   allowed: Iterable[String]): Unit =
    names.filterNot(allowed.toSet).headOption.foreach(n =>
      throw new IllegalArgumentException(
        s"unknown $what '$n'" + hint(n, allowed.toSeq.sorted)))

  /** `body`, or exit 2 with its message and `usage` on stderr when it
    * rejects its arguments. */
  def orExit[T](usage: => String)(body: => T): T =
    try body catch { case e: IllegalArgumentException =>
      System.err.println(e.getMessage)
      System.err.println(usage)
      sys.exit(2)
    }

  /** The declared name nearest to `k` by edit distance, as a hint;
    * among the names `k` is a prefix of, when there are any (`q6` →
    * one of the q6x keys, not an unrelated short name). */
  private def hint(k: String, names: Seq[String]): String = {
    val pool = Some(names.filter(_.startsWith(k))).filter(_.nonEmpty)
      .getOrElse(names)
    if (pool.isEmpty) ""
    else s" (did you mean ${pool.minBy(n => (editDistance(k, n), n))}?)"
  }

  private def editDistance(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      val cur = Array.fill(b.length + 1)(i)
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(cur(j - 1), prev(j)) + 1,
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      prev = cur
    }
    prev(b.length)
  }

  /** One command's usage block: its wrapped doc, then one line per
    * option. */
  def usage(c: Cmd): String = {
    def lhs(o: Opt) = s"--${o.name} <${o.kind.name}>"
    val w = c.opts.map(lhs(_).length).foldLeft(0)(math.max)
    def tag(o: Opt) =
      if (o.required) "(required) "
      else o.default.fold("")(d => s"[default ${d.replace("\n", "\\n")}] ")
    (wrap(s"${c.name}: ${c.doc}", "  ", "      ") ++ c.opts.map(o =>
      s"      ${lhs(o).padTo(w, ' ')}  ${tag(o)}${o.doc}")).mkString("\n")
  }

  /** The whole help text: the command list, then every command's block. */
  def usage(table: Seq[Cmd]): String =
    ("usage: graft.Main <command> [--key value ...]" +:
      wrap(table.map(_.name).mkString(" "), "commands: ", "  ") ++:
      table.map(usage)).mkString("\n")

  /** Greedy word wrap at 78 columns. */
  private def wrap(text: String, first: String, rest: String): Seq[String] =
    text.split(" ").filter(_.nonEmpty).foldLeft(Vector(first)) { (ls, w) =>
      val l = ls.last
      if (l == (if (ls.size == 1) first else rest)) ls.init :+ (l + w)
      else if (l.length + 1 + w.length <= 78) ls.init :+ s"$l $w"
      else ls :+ (rest + w)
    }
}
