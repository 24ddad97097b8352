package graft.promql

/** PromQL expression language — AST, lexer, and recursive-descent parser.
  *
  * The reference adapter never parses PromQL: Prometheus parses the query
  * and ships the adapter a pre-compiled `prompb.Query` (matchers + time
  * range) over remote-read (reference: main.go:322-372), delegating every
  * function/aggregation back to Prometheus. This engine owns the whole
  * read surface, so it needs the front half too: the text → AST half here,
  * the AST → DataFrame half in [[Eval]]. Together they make the library a
  * drop-in range-query engine (`/api/v1/query_range`) rather than a bag of
  * operators.
  *
  * Grammar and precedence follow the PromQL spec (public Prometheus docs,
  * promql/parser grammar): `or` < `and`/`unless` < comparisons < `+ -` <
  * `* / %` < `^` (right-assoc) < unary < postfix (`[range]`, `offset`).
  * Durations accept the compound form (`1h30m`, units ms s m h d w y) and
  * bare integer seconds. Strings accept single/double quotes with Go-style
  * escapes. This is a fresh hand-rolled parser — no grammar files, no
  * parser combinators, no third-party code.
  */
object Ast {

  sealed trait MatchOp
  case object MEq extends MatchOp
  case object MNeq extends MatchOp
  case object MRe extends MatchOp
  case object MNre extends MatchOp

  /** One label matcher inside `{}` — PromQL semantics (anchored regex,
    * literal equality; NOT the reference's ClickHouse dialect quirks,
    * which graft.compile.Matchers preserves separately for remote-read).
    */
  case class Matcher(label: String, op: MatchOp, value: String)

  /** Vector-matching modifiers on a binary op: `on`/`ignoring` label list,
    * `group_left`/`group_right` side (0 = one-to-one), and the
    * `group_*(include...)` label carry list.
    */
  case class Matching(on: Boolean, labels: Seq[String], side: Int,
                      include: Seq[String])

  /** `@` modifier target: a fixed epoch second, or the query range's
    * own start()/end().
    */
  sealed trait At
  case class AtTime(sec: Long) extends At
  case object AtStart extends At
  case object AtEnd extends At

  sealed trait Expr
  case class NumberLit(v: Double) extends Expr
  case class StringLit(v: String) extends Expr
  /** Instant (`rangeSec` empty) or range (`m[5m]`) selector, with the
    * optional `offset` and `@` evaluation-time modifiers.
    */
  case class Selector(name: Option[String], matchers: Seq[Matcher],
                      rangeSec: Option[Long], offsetSec: Long,
                      atSec: Option[At] = None) extends Expr
  /** `expr[range:step]` — evaluate `expr` on its own step-aligned inner
    * grid, then feed those samples to the enclosing range function.
    * `stepSec` empty = the outer query's step (PromQL's default
    * resolution rule, spelled explicitly).
    */
  case class Subquery(e: Expr, rangeSec: Long, stepSec: Option[Long],
                      offsetSec: Long) extends Expr
  case class Call(fn: String, args: Seq[Expr]) extends Expr
  /** `op by|without(labels) (param, body)`. */
  case class Agg(op: String, body: Expr, param: Option[Expr],
                 labels: Seq[String], without: Boolean) extends Expr
  case class BinOp(op: String, lhs: Expr, rhs: Expr, boolMod: Boolean,
                   matching: Option[Matching]) extends Expr
  case class Unary(neg: Boolean, e: Expr) extends Expr

  val AggOps: Set[String] = Set("sum", "min", "max", "avg", "count",
    "group", "stddev", "stdvar", "topk", "bottomk", "quantile",
    "count_values", "limitk", "limit_ratio")
  /** Agg ops whose first argument is a parameter, not the vector. */
  val ParamAggOps: Set[String] = Set("topk", "bottomk", "quantile",
    "count_values", "limitk", "limit_ratio")
  val CmpOps: Set[String] = Set("==", "!=", "<", "<=", ">", ">=")
  val SetOps: Set[String] = Set("and", "or", "unless")
}

class ParseException(msg: String, val pos: Int)
  extends IllegalArgumentException(s"$msg (at offset $pos)")

private object Lexer {
  sealed trait Kind
  case object TIdent extends Kind
  case object TNumber extends Kind
  case object TDuration extends Kind
  case object TString extends Kind
  case object TOp extends Kind
  case object TEof extends Kind

  case class Tok(kind: Kind, text: String, pos: Int)

  private val unitMs: Map[String, Long] = Map(
    "ms" -> 1L, "s" -> 1000L, "m" -> 60000L, "h" -> 3600000L,
    "d" -> 86400000L, "w" -> 604800000L, "y" -> 31536000000L)

  def isIdentStart(c: Char): Boolean =
    c.isLetter || c == '_' || c == ':'
  def isIdentPart(c: Char): Boolean =
    c.isLetterOrDigit || c == '_' || c == ':'

  def lex(s: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s(i)
      if (c.isWhitespace) i += 1
      else if (c == '#') { while (i < n && s(i) != '\n') i += 1 }
      else if (c.isDigit || (c == '.' && i + 1 < n && s(i + 1).isDigit)) {
        val start = i
        while (i < n && s(i).isDigit) i += 1
        var isFloat = false
        if (i < n && s(i) == '.') {
          isFloat = true; i += 1
          while (i < n && s(i).isDigit) i += 1
        }
        if (i < n && (s(i) == 'e' || s(i) == 'E') &&
            (i + 1 < n && (s(i + 1).isDigit ||
              ((s(i + 1) == '+' || s(i + 1) == '-') && i + 2 < n &&
                s(i + 2).isDigit)))) {
          isFloat = true; i += 1
          if (s(i) == '+' || s(i) == '-') i += 1
          while (i < n && s(i).isDigit) i += 1
        }
        // an integer followed by a unit letter starts a compound duration
        if (!isFloat && i < n && "smhdwy".indexOf(s(i)) >= 0) {
          i += 1
          if (s(i - 1) == 'm' && i < n && s(i) == 's') i += 1 // "ms"
          var more = true
          while (more && i < n && s(i).isDigit) {
            val g = i
            while (i < n && s(i).isDigit) i += 1
            if (i < n && "smhdwy".indexOf(s(i)) >= 0) {
              i += 1
              if (s(i - 1) == 'm' && i < n && s(i) == 's') i += 1
            } else { i = g; more = false }
          }
          out += Tok(TDuration, s.substring(start, i), start)
        } else out += Tok(TNumber, s.substring(start, i), start)
      }
      else if (isIdentStart(c)) {
        val start = i
        while (i < n && isIdentPart(s(i))) i += 1
        out += Tok(TIdent, s.substring(start, i), start)
      }
      else if (c == '"' || c == '\'') {
        val quote = c
        val start = i
        i += 1
        val sb = new StringBuilder
        var closed = false
        while (i < n && !closed) {
          val ch = s(i)
          if (ch == '\\' && i + 1 < n) {
            val e = s(i + 1)
            sb += (e match {
              case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
              case '\\' => '\\'; case '"' => '"'; case '\'' => '\''
              case other => other
            })
            i += 2
          } else if (ch == quote) { closed = true; i += 1 }
          else { sb += ch; i += 1 }
        }
        if (!closed) throw new ParseException("unterminated string", start)
        out += Tok(TString, sb.toString, start)
      }
      else {
        val two = if (i + 1 < n) s.substring(i, i + 2) else ""
        if (Set("==", "!=", "<=", ">=", "=~", "!~").contains(two)) {
          out += Tok(TOp, two, i); i += 2
        } else if ("+-*/%^(){}[],=<>@".indexOf(c) >= 0) {
          out += Tok(TOp, c.toString, i); i += 1
        } else throw new ParseException(s"unexpected character '$c'", i)
      }
    }
    out += Tok(TEof, "", n)
    out.result()
  }

  /** Compound duration text → whole seconds (this engine's store grain).
    * Bare integers are seconds (PromQL 3.x "duration as number" form).
    */
  def durationSec(text: String, pos: Int): Long = {
    if (text.forall(_.isDigit)) return text.toLong
    var i = 0
    var ms = 0L
    while (i < text.length) {
      val g = i
      while (i < text.length && text(i).isDigit) i += 1
      if (g == i) throw new ParseException(s"malformed duration '$text'", pos)
      val num = text.substring(g, i).toLong
      val unit =
        if (i + 1 < text.length && text(i) == 'm' && text(i + 1) == 's') {
          i += 2; "ms"
        } else if (i < text.length && "smhdwy".indexOf(text(i)) >= 0) {
          val u = text(i).toString; i += 1; u
        } else throw new ParseException(s"malformed duration '$text'", pos)
      ms += num * unitMs(unit)
    }
    if (ms % 1000L != 0L)
      throw new ParseException(
        s"sub-second duration '$text' below the store's second grain", pos)
    ms / 1000L
  }
}

object Parser {
  import Ast._
  import Lexer._

  def parse(input: String): Expr = new Parser(lex(input)).parseAll()

  /** The deepest nesting [[parse]] accepts: parentheses, call and
    * aggregation arguments, unary signs and `^` right operands each
    * count one level. The parser, the printer and [[Eval]] all recurse
    * once per level, so an unbounded query would overflow the handler
    * thread's stack; past this it is a [[ParseException]]. */
  val MaxDepth = 128

  /** Standalone duration parse for API parameters (`step=30s`,
    * `step=60`): the same compound-duration grammar range selectors use.
    */
  def durationSec(text: String): Long = Lexer.durationSec(text, 0)

  /** Canonical text of an expression — the pretty-printer behind
    * /api/v1/format_query. Prints fully parenthesized binary operations
    * (unambiguous under any precedence reading), durations in compact
    * compound form, and matchers with double quotes. Round-trip law:
    * parse(print(e)) == e (spec-pinned).
    */
  def print(e: Expr): String = e match {
    case NumberLit(v) =>
      if (v.isPosInfinity) "Inf"
      else if (v.isNegInfinity) "-Inf"
      else if (v.isNaN) "NaN"
      else if (v == v.toLong.toDouble) v.toLong.toString
      else v.toString
    case StringLit(s) => quote(s)
    case Selector(name, ms, range, off, at) =>
      val matchers =
        if (ms.isEmpty) if (name.isEmpty) "{}" else ""
        else ms.map { m =>
          val op = m.op match {
            case MEq => "="; case MNeq => "!="
            case MRe => "=~"; case MNre => "!~"
          }
          // a label name outside the classic charset prints QUOTED
          // (Prometheus 3's UTF-8 syntax), so print∘parse stays a
          // fixpoint for dotted names too
          val lbl =
            if (m.label.nonEmpty && m.label.forall(c =>
                c.isLetterOrDigit || c == '_' || c == ':') &&
                !m.label.head.isDigit) m.label
            else quote(m.label)
          s"$lbl$op${quote(m.value)}"
        }.mkString("{", ",", "}")
      name.getOrElse("") + matchers +
        range.map(r => s"[${dur(r)}]").getOrElse("") +
        offAt(off, at)
    case Subquery(inner, range, step, off) =>
      s"(${print(inner)})[${dur(range)}:${step.map(dur).getOrElse("")}]" +
        offAt(off, None)
    case Call(fn, args) => s"$fn(${args.map(print).mkString(", ")})"
    case Agg(op, body, param, labels, without) =>
      val mod =
        if (labels.isEmpty && !without) ""
        else s" ${if (without) "without" else "by"} (${labels.mkString(", ")})"
      val ps = (param.toSeq.map(print) :+ print(body)).mkString(", ")
      s"$op$mod ($ps)"
    case BinOp(op, l, r, boolMod, matching) =>
      val m = matching.map { mt =>
        val base = s" ${if (mt.on) "on" else "ignoring"} " +
          s"(${mt.labels.mkString(", ")})"
        val grp = mt.side match {
          case 1 => " group_left" +
            (if (mt.include.nonEmpty) s" (${mt.include.mkString(", ")})"
             else "")
          case 2 => " group_right" +
            (if (mt.include.nonEmpty) s" (${mt.include.mkString(", ")})"
             else "")
          case _ => ""
        }
        base + grp
      }.getOrElse("")
      s"(${print(l)} $op${if (boolMod) " bool" else ""}$m ${print(r)})"
    case Unary(neg, x) => (if (neg) "-" else "") + print(x)
  }

  private def offAt(off: Long, at: Option[At]): String = {
    val o =
      if (off > 0L) s" offset ${dur(off)}"
      else if (off < 0L) s" offset -${dur(-off)}"
      else ""
    val a = at.map {
      case AtTime(s) => s" @ $s"
      case AtStart => " @ start()"
      case AtEnd => " @ end()"
    }.getOrElse("")
    o + a
  }

  /** Compact compound duration: 5400 → "1h30m". */
  private def dur(sec: Long): String = {
    if (sec == 0L) return "0s"
    val units = Seq("y" -> 31536000L, "w" -> 604800L, "d" -> 86400L,
      "h" -> 3600L, "m" -> 60L, "s" -> 1L)
    var rest = sec
    val sb = new StringBuilder
    units.foreach { case (u, w) =>
      if (rest >= w) { sb.append(rest / w).append(u); rest %= w }
    }
    sb.toString
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case '\r' => "\\r"
      case c => c.toString
    } + "\""
}

private class Parser(toks: Vector[Lexer.Tok]) {
  import Ast._
  import Lexer._

  private var p = 0
  private def cur: Tok = toks(p)
  private def advance(): Tok = { val t = toks(p); p += 1; t }
  private def expectOp(op: String): Unit = {
    if (cur.kind != TOp || cur.text != op)
      throw new ParseException(s"expected '$op', got '${cur.text}'", cur.pos)
    p += 1
  }
  private def atOp(op: String): Boolean = cur.kind == TOp && cur.text == op
  private def atKw(kw: String): Boolean = cur.kind == TIdent && cur.text == kw

  private var depth = 0
  /** `sub` one nesting level down, at most [[Parser.MaxDepth]] deep. */
  private def nested(sub: => Expr): Expr = {
    if (depth > Parser.MaxDepth)
      throw new ParseException(
        s"expression nested deeper than ${Parser.MaxDepth} levels", cur.pos)
    depth += 1
    try sub finally depth -= 1
  }

  def parseAll(): Expr = {
    val e = parseOr()
    if (cur.kind != TEof)
      throw new ParseException(s"trailing input '${cur.text}'", cur.pos)
    e
  }

  private def parseOr(): Expr = nested {
    var lhs = parseAnd()
    while (atKw("or")) {
      advance()
      val m = parseMatching(allowGroup = false)
      lhs = BinOp("or", lhs, parseAnd(), boolMod = false, m)
    }
    lhs
  }

  private def parseAnd(): Expr = {
    var lhs = parseCmp()
    while (atKw("and") || atKw("unless")) {
      val op = advance().text
      val m = parseMatching(allowGroup = false)
      lhs = BinOp(op, lhs, parseCmp(), boolMod = false, m)
    }
    lhs
  }

  private def parseCmp(): Expr = {
    var lhs = parseAdd()
    while (cur.kind == TOp && CmpOps.contains(cur.text)) {
      val op = advance().text
      val boolMod = if (atKw("bool")) { advance(); true } else false
      val m = parseMatching(allowGroup = true)
      lhs = BinOp(op, lhs, parseAdd(), boolMod, m)
    }
    lhs
  }

  private def parseAdd(): Expr = {
    var lhs = parseMul()
    while (atOp("+") || atOp("-")) {
      val op = advance().text
      val m = parseMatching(allowGroup = true)
      lhs = BinOp(op, lhs, parseMul(), boolMod = false, m)
    }
    lhs
  }

  private def parseMul(): Expr = {
    var lhs = parsePow()
    while (atOp("*") || atOp("/") || atOp("%") || atKw("atan2")) {
      val op = advance().text
      val m = parseMatching(allowGroup = true)
      lhs = BinOp(op, lhs, parsePow(), boolMod = false, m)
    }
    lhs
  }

  private def parsePow(): Expr = {
    val lhs = parseUnary()
    if (atOp("^")) {
      advance()
      val m = parseMatching(allowGroup = true)
      BinOp("^", lhs, nested(parsePow()), boolMod = false, m) // right-assoc
    } else lhs
  }

  private def parseUnary(): Expr =
    if (atOp("-")) { advance(); Unary(neg = true, nested(parseUnary())) }
    else if (atOp("+")) { advance(); nested(parseUnary()) }
    else parsePostfix()

  /** `[range]` / `[range:step]` (subquery), `offset`, and `@` bind
    * tighter than any operator. A bare `[range]` is only legal on a
    * selector; `[range:step]` turns ANY expression into a subquery. The
    * `:` inside brackets lexes as the head of an identifier (`:6h`) —
    * recording-rule names legitimately contain colons — so the parser
    * splits it contextually, as Prometheus's own lexer does.
    */
  private def parsePostfix(): Expr = {
    var e = parseAtom()
    if (atOp("[")) {
      val openPos = cur.pos
      advance()
      val d = cur
      if (d.kind != TDuration && d.kind != TNumber)
        throw new ParseException("expected duration in range selector", d.pos)
      advance()
      if (cur.kind == TIdent && cur.text.startsWith(":")) {
        val stepText = cur.text.drop(1)
        val stepPos = cur.pos
        advance()
        expectOp("]")
        e = Subquery(e, durationSec(d.text, d.pos),
          if (stepText.isEmpty) None
          else Some(durationSec(stepText, stepPos)), offsetSec = 0L)
      } else {
        expectOp("]")
        e match {
          case s: Selector if s.rangeSec.isEmpty =>
            e = s.copy(rangeSec = Some(durationSec(d.text, d.pos)))
          case _ =>
            throw new ParseException(
              "range [] is only valid on a selector (use [w:s] for a " +
                "subquery)", openPos)
        }
      }
    }
    // offset and @ may appear in either order, once each
    var sawOffset = false
    var sawAt = false
    while ((atKw("offset") && !sawOffset) || (atOp("@") && !sawAt)) {
      if (atKw("offset")) {
        sawOffset = true
        advance()
        // negative offsets (read the future relative to the eval time)
        // are Prometheus's flag-gated extension; first-class here
        val neg = if (atOp("-")) { advance(); true } else false
        val d = cur
        if (d.kind != TDuration && d.kind != TNumber)
          throw new ParseException("expected duration after offset", d.pos)
        advance()
        val off = (if (neg) -1L else 1L) * durationSec(d.text, d.pos)
        e = e match {
          case s: Selector => s.copy(offsetSec = off)
          case sq: Subquery => sq.copy(offsetSec = off)
          case _ =>
            throw new ParseException(
              "offset is only valid on a selector or subquery", d.pos)
        }
      } else {
        sawAt = true
        advance()
        val at: At = cur.kind match {
          case TNumber =>
            val v = math.floor(advance().text.toDouble).toLong
            AtTime(v)
          case TIdent if cur.text == "start" || cur.text == "end" =>
            val which = advance().text
            expectOp("("); expectOp(")")
            if (which == "start") AtStart else AtEnd
          case _ => throw new ParseException(
            "expected timestamp, start() or end() after @", cur.pos)
        }
        e = e match {
          case s: Selector => s.copy(atSec = Some(at))
          case _ => throw new ParseException(
            "@ is only valid on a selector in this engine", cur.pos)
        }
      }
    }
    e
  }

  private def parseAtom(): Expr = {
    val t = cur
    t.kind match {
      case TNumber => advance(); NumberLit(t.text.toDouble)
      case TString => advance(); StringLit(t.text)
      case TOp if t.text == "(" =>
        advance(); val e = parseOr(); expectOp(")"); e
      case TOp if t.text == "{" => parseSelector(None)
      case TIdent =>
        val name = t.text
        if (name == "Inf" || name == "inf") { advance(); NumberLit(Double.PositiveInfinity) }
        else if (name == "NaN" || name == "nan") { advance(); NumberLit(Double.NaN) }
        else if (AggOps.contains(name)) parseAgg()
        else {
          advance()
          if (atOp("(")) parseCallArgs(name)
          else parseSelector(Some(name))
        }
      case _ =>
        throw new ParseException(s"unexpected token '${t.text}'", t.pos)
    }
  }

  private def parseCallArgs(fn: String): Expr = {
    expectOp("(")
    val args = Seq.newBuilder[Expr]
    if (!atOp(")")) {
      args += parseOr()
      while (atOp(",")) { advance(); args += parseOr() }
    }
    expectOp(")")
    Call(fn, args.result())
  }

  /** `sum by (a,b) (v)` / `sum(v) without (a)` — the modifier may come
    * before or after the parenthesized body, as in PromQL.
    */
  private def parseAgg(): Expr = {
    val op = advance().text
    var labels: Seq[String] = Nil
    var without = false
    var haveMod = false
    if (atKw("by") || atKw("without")) {
      without = advance().text == "without"
      labels = parseLabelList()
      haveMod = true
    }
    expectOp("(")
    val first = parseOr()
    val (param, body) =
      if (atOp(",")) {
        advance()
        val b = parseOr()
        if (atOp(","))
          throw new ParseException(s"too many arguments to $op()", cur.pos)
        (Some(first), b)
      } else (None, first)
    expectOp(")")
    if (ParamAggOps.contains(op) && param.isEmpty)
      throw new ParseException(s"$op() expects (param, vector)", cur.pos)
    if (!ParamAggOps.contains(op) && param.nonEmpty)
      throw new ParseException(s"$op() takes a single vector argument",
        cur.pos)
    if (!haveMod && (atKw("by") || atKw("without"))) {
      without = advance().text == "without"
      labels = parseLabelList()
    }
    Agg(op, body, param, labels, without)
  }

  private def parseLabelList(): Seq[String] = {
    expectOp("(")
    val out = Seq.newBuilder[String]
    if (!atOp(")")) {
      out += expectIdent()
      while (atOp(",")) { advance(); out += expectIdent() }
    }
    expectOp(")")
    out.result()
  }

  private def expectIdent(): String = {
    if (cur.kind != TIdent)
      throw new ParseException(s"expected label name, got '${cur.text}'",
        cur.pos)
    advance().text
  }

  /** `name{l1="v",l2=~"re"}` — either part may be absent, not both. A
    * bare-brace selector must carry at least one non-empty matcher
    * (PromQL's "vector selector must contain at least one non-empty
    * matcher" rule; this engine additionally requires it to keep every
    * scan bounded by SOME predicate).
    */
  private def parseSelector(name: Option[String]): Expr = {
    val matchers = Seq.newBuilder[Matcher]
    if (atOp("{")) {
      advance()
      if (!atOp("}")) {
        matchers += parseMatcher()
        while (atOp(",")) { advance(); matchers += parseMatcher() }
      }
      expectOp("}")
    }
    val ms = matchers.result()
    // PromQL rule: a nameless selector needs ≥1 matcher that cannot
    // match the empty string (else it would select every series)
    def cantMatchEmpty(m: Matcher): Boolean = m.op match {
      case MEq  => m.value.nonEmpty
      case MNeq => m.value.isEmpty
      case MRe  =>
        !java.util.regex.Pattern.matches("^(?:" + m.value + ")$", "")
      case MNre =>
        java.util.regex.Pattern.matches("^(?:" + m.value + ")$", "")
    }
    if (name.isEmpty && !ms.exists(cantMatchEmpty))
      throw new ParseException(
        "selector needs a metric name or a matcher that can't match " +
          "the empty string", cur.pos)
    Selector(name, ms, rangeSec = None, offsetSec = 0L)
  }

  private def parseMatcher(): Matcher = {
    // Prometheus 3 UTF-8 syntax: a QUOTED label name, and a bare quoted
    // string as shorthand for __name__ equality ({"my.metric", job="x"})
    val label =
      if (cur.kind == TString) {
        val s = advance().text
        if (!(atOp("=") || atOp("!=") || atOp("=~") || atOp("!~")))
          return Matcher("__name__", MEq, s)
        s
      } else expectIdent()
    val op =
      if (atOp("=")) { advance(); MEq }
      else if (atOp("!=")) { advance(); MNeq }
      else if (atOp("=~")) { advance(); MRe }
      else if (atOp("!~")) { advance(); MNre }
      else throw new ParseException(
        s"expected matcher operator, got '${cur.text}'", cur.pos)
    if (cur.kind != TString)
      throw new ParseException("matcher value must be a string", cur.pos)
    Matcher(label, op, advance().text)
  }

  private def parseMatching(allowGroup: Boolean): Option[Matching] = {
    if (!(atKw("on") || atKw("ignoring"))) return None
    val on = advance().text == "on"
    val labels = parseLabelList()
    var side = 0
    var include: Seq[String] = Nil
    if (atKw("group_left") || atKw("group_right")) {
      if (!allowGroup)
        throw new ParseException(
          "group modifiers are not allowed on set operators", cur.pos)
      side = if (advance().text == "group_left") 1 else 2
      if (atOp("(")) include = parseLabelList()
    }
    Some(Matching(on, labels, side, include))
  }
}
