package graft.model

/**
 * A series identity: variable name plus a label map, with canonical text form
 * `/var/name{label=value,label2="quoted value"}`.
 *
 * Semantics re-derived from the reference implementation
 * (union of the C++ and Go servers):
 *  - canonical string: labels sorted by key, empty-valued labels skipped,
 *    values quoted when they contain chars outside the value charset
 *    (reference: lib/variable.cc:47-105, go/.../variable/variable.go:38-64)
 *  - match rules: trailing-`*` name prefix, label `k=v` exact, `k=*`
 *    exists-and-nonempty, `k=` must-not-exist, `k=/re/` full regex match
 *    (reference: lib/variable.cc:107-131, go/.../variable/variable.go:124-162)
 */
final case class Variable(
    name: String,
    labels: Map[String, String] = Map.empty,
    valueType: String = Variable.Unknown) {

  /** Canonical text form: sorted labels, quoting per lib/variable.cc:47-105. */
  def canonical: String = {
    val live = labels.filter(_._2.nonEmpty)
    if (live.isEmpty) name
    else
      live.toSeq.sortBy(_._1).iterator
        .map { case (k, v) =>
          if (Variable.needsQuoting(v)) s"""$k="${Variable.quote(v)}""""
          else s"$k=$v"
        }
        .mkString(s"$name{", ",", "}")
  }

  /** Does this concrete variable match the given search pattern? */
  def matches(pattern: Variable): Boolean = {
    val nameOk =
      if (pattern.name.endsWith("*")) name.startsWith(pattern.name.dropRight(1))
      else name == pattern.name
    nameOk && pattern.labels.forall { case (k, want) =>
      val got = labels.get(k)
      want match {
        case ""  => got.isEmpty
        case "*" => got.exists(_.nonEmpty)
        case re if re.length > 2 && re.head == '/' && re.last == '/' =>
          got.exists(v => re.substring(1, re.length - 1).r.matches(v))
        case v => got.contains(v)
      }
    }
  }
}

object Variable {
  val Unknown = "UNKNOWN"
  val Gauge = "GAUGE"
  val Rate = "RATE"

  /** Value charset that never needs quoting (lib/variable.h:22-32). */
  private def isValueChar(c: Char): Boolean =
    c.isLetterOrDigit && c < 128 ||
      c == '_' || c == '-' || c == '.' || c == ' ' || c == '*' || c == '/'

  private[graft] def needsQuoting(v: String): Boolean = !v.forall(isValueChar)

  private[graft] def quote(v: String): String =
    v.flatMap {
      // backslash must be escaped first-class: a value ending in '\'
      // would otherwise escape the closing quote and corrupt the
      // canonical form on re-parse
      case c @ (',' | '"' | '\\') => s"\\$c"
      case c                      => c.toString
    }

  /**
   * Parse `/name{k=v,k2="a, b"}`. Quoted values may contain commas and
   * backslash-escaped quotes. Labels without `=` are ignored (the reference
   * logs a warning and continues, lib/variable.cc:36-39).
   */
  def parse(input: String): Variable = {
    val brace = input.indexOf('{')
    if (brace < 0) return Variable(input)
    val name = input.substring(0, brace)
    val inner =
      if (input.endsWith("}")) input.substring(brace + 1, input.length - 1)
      else input.substring(brace + 1)
    val labels = Map.newBuilder[String, String]
    var i = 0
    val n = inner.length
    while (i < n) {
      // read one k=v token, honoring quotes and backslash escapes
      val sb = new StringBuilder
      var inQuote = false
      var done = false
      while (i < n && !done) {
        val c = inner.charAt(i)
        c match {
          case '\\' if i + 1 < n => sb.append(inner.charAt(i + 1)); i += 2
          case '"'               => inQuote = !inQuote; i += 1
          case ',' if !inQuote   => done = true; i += 1
          case other             => sb.append(other); i += 1
        }
      }
      val tok = sb.result()
      val eq = tok.indexOf('=')
      if (eq >= 0) labels += tok.substring(0, eq) -> tok.substring(eq + 1)
    }
    Variable(name, labels.result())
  }

  /**
   * Ingest-time name validity (server/store.cc:414-418): must start with
   * '/', be at least 2 chars, and contain no whitespace.
   */
  def isValidName(name: String): Boolean =
    name.length >= 2 && name.head == '/' && !name.exists(_.isWhitespace)
}
