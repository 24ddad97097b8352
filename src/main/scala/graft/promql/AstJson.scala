package graft.promql

import graft.promql.Ast._

/** PromQL AST → JSON, the `/api/v1/parse_query` body (the endpoint
  * Prometheus 3.x exposes for editors and linters). Node shapes follow
  * the Prometheus JSON rendering: `vectorSelector` / `matrixSelector`
  * (a ranged selector), `call` with a `func` object, `aggregation`,
  * `binaryExpr` with the matching spec, `subquery`, `numberLiteral`,
  * `stringLiteral`, `unaryExpr`. Durations render in SECONDS (this
  * engine's unit everywhere), `@` as either `timestamp` or
  * `startOrEnd`.
  */
object AstJson {

  /** A JSON string literal: quote, backslash and every control
    * character (< 0x20) escaped. The one escaper every JSON body in
    * the project goes through. */
  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(v: Double): String =
    if (v.isNaN) "\"NaN\""
    else if (v.isPosInfinity) "\"+Inf\""
    else if (v.isNegInfinity) "\"-Inf\""
    else if (v == math.floor(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def matchOp(op: MatchOp): String = op match {
    case MEq => "="
    case MNeq => "!="
    case MRe => "=~"
    case MNre => "!~"
  }

  private def atFields(at: Option[At]): String = at match {
    case Some(AtTime(sec)) => s""","timestamp":$sec"""
    case Some(AtStart) => ""","startOrEnd":"start""""
    case Some(AtEnd) => ""","startOrEnd":"end""""
    case None => ""
  }

  def toJson(e: Expr): String = e match {
    case NumberLit(v) =>
      s"""{"type":"numberLiteral","val":${num(v)}}"""
    case StringLit(v) =>
      s"""{"type":"stringLiteral","val":${jsonStr(v)}}"""
    case s: Selector =>
      val ms = s.matchers.map(m =>
        s"""{"name":${jsonStr(m.label)},"type":"${matchOp(m.op)}","value":${
          jsonStr(m.value)}}""").mkString("[", ",", "]")
      val base = s""""name":${s.name.map(jsonStr).getOrElse("\"\"")},""" +
        s""""matchers":$ms,"offset":${s.offsetSec}${atFields(s.atSec)}"""
      s.rangeSec match {
        case Some(r) => s"""{"type":"matrixSelector","range":$r,$base}"""
        case None => s"""{"type":"vectorSelector",$base}"""
      }
    case Subquery(inner, range, step, offset) =>
      s"""{"type":"subquery","expr":${toJson(inner)},"range":$range,""" +
        s""""step":${step.getOrElse(0L)},"offset":$offset}"""
    case Call(fn, args) =>
      s"""{"type":"call","func":{"name":${jsonStr(fn)}},"args":${
        args.map(toJson).mkString("[", ",", "]")}}"""
    case Agg(op, body, param, labels, without) =>
      s"""{"type":"aggregation","op":${jsonStr(op)},"expr":${toJson(body)},""" +
        s""""param":${param.map(toJson).getOrElse("null")},""" +
        s""""grouping":${labels.map(jsonStr).mkString("[", ",", "]")},""" +
        s""""without":$without}"""
    case BinOp(op, lhs, rhs, boolMod, matching) =>
      val m = matching.map { mm =>
        s""","matching":{"on":${mm.on},"labels":${
          mm.labels.map(jsonStr).mkString("[", ",", "]")},"include":${
          mm.include.map(jsonStr).mkString("[", ",", "]")},"side":${
          if (mm.side == 1) "\"left\""
          else if (mm.side == 2) "\"right\"" else "\"none\""}}"""
      }.getOrElse("")
      s"""{"type":"binaryExpr","op":${jsonStr(op)},"lhs":${toJson(lhs)},""" +
        s""""rhs":${toJson(rhs)},"bool":$boolMod$m}"""
    case Unary(neg, inner) =>
      s"""{"type":"unaryExpr","op":"${if (neg) "-" else "+"}","expr":${
        toJson(inner)}}"""
  }
}
