package graft

import graft.promql.{Ast, Eval, ParseException, Parser}
import graft.promql.Ast._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PromQL parser + evaluator semantics.
  *
  * Parser: precedence, durations, matchers, modifiers, errors. Evaluator:
  * hand-computed cases for each operator class, plus a seeded-random
  * differential test against a naive in-test reference evaluator for the
  * selector/rate/aggregation core (the same style as the asof-join
  * random-reference spec).
  */
class PromqlSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------- parser

  test("parser: arithmetic precedence and right-assoc power") {
    Parser.parse("a + b * c") match {
      case BinOp("+", Selector(Some("a"), _, _, _, _), BinOp("*", _, _, _, _),
          false, None) => ()
      case x => fail(s"unexpected $x")
    }
    Parser.parse("2 ^ 3 ^ 2") match {
      case BinOp("^", NumberLit(2.0), BinOp("^", NumberLit(3.0),
          NumberLit(2.0), _, _), _, _) => ()
      case x => fail(s"unexpected $x")
    }
    // comparison binds looser than arithmetic
    Parser.parse("a > b + c") match {
      case BinOp(">", _, BinOp("+", _, _, _, _), false, None) => ()
      case x => fail(s"unexpected $x")
    }
  }

  test("parser: durations, range, offset") {
    Parser.parse("m[1h30m]") match {
      case Selector(Some("m"), Nil, Some(5400L), 0L, None) => ()
      case x => fail(s"unexpected $x")
    }
    Parser.parse("m[90] offset 2m") match {
      case Selector(Some("m"), Nil, Some(90L), 120L, None) => ()
      case x => fail(s"unexpected $x")
    }
    Parser.parse("rate(m[5m])") match {
      case Call("rate", Seq(Selector(Some("m"), Nil, Some(300L), 0L, None))) => ()
      case x => fail(s"unexpected $x")
    }
  }

  test("parser: matchers and selector validity") {
    Parser.parse("""m{a="x", b!="y", c=~"z.*", d!~"w"}""") match {
      case Selector(Some("m"), ms, None, 0L, None) =>
        assert(ms == Seq(Matcher("a", MEq, "x"), Matcher("b", MNeq, "y"),
          Matcher("c", MRe, "z.*"), Matcher("d", MNre, "w")))
      case x => fail(s"unexpected $x")
    }
    intercept[ParseException](Parser.parse("""{a!="x"}""")) // no anchor
    intercept[ParseException](Parser.parse("(a + b)[5m]")) // range on expr
    intercept[ParseException](Parser.parse("""m{a=x}""")) // unquoted value
  }

  test("parser: UTF-8 quoted names (Prometheus 3 syntax)") {
    import graft.promql.Ast._
    // a bare quoted string in braces is a __name__ equality matcher
    assert(Parser.parse("""{"http.req.total", job="a"}""") ==
      Selector(None, Seq(Matcher("__name__", MEq, "http.req.total"),
        Matcher("job", MEq, "a")), None, 0L))
    // quoted LABEL names parse with any operator
    assert(Parser.parse("""{"label.dots"=~"v.*", up="1"}""") ==
      Selector(None, Seq(Matcher("label.dots", MRe, "v.*"),
        Matcher("up", MEq, "1")), None, 0L))
    // print∘parse fixpoint holds for the quoted forms
    val q = """rate({"svc.latency", "zone.id"!="eu"}[5m])"""
    assert(Parser.parse(Parser.print(Parser.parse(q))) == Parser.parse(q))
  }

  test("parser: subqueries and the @ modifier") {
    Parser.parse("max_over_time(rate(m[5m])[1h:2m])") match {
      case Call("max_over_time", Seq(Subquery(Call("rate", _), 3600L,
          Some(120L), 0L))) => ()
      case x => fail(s"unexpected $x")
    }
    Parser.parse("sum(m)[30m:] offset 5m") match {
      case Subquery(Agg("sum", _, _, _, _), 1800L, None, 300L) => ()
      case x => fail(s"unexpected $x")
    }
    Parser.parse("m @ 1700000000 offset 30") match {
      case Selector(Some("m"), Nil, None, 30L, Some(AtTime(1700000000L))) =>
      case x => fail(s"unexpected $x")
    }
    Parser.parse("m offset 30 @ start()") match {
      case Selector(Some("m"), Nil, None, 30L, Some(AtStart)) => ()
      case x => fail(s"unexpected $x")
    }
    Parser.parse("m[5m] @ end()") match {
      case Selector(Some("m"), Nil, Some(300L), 0L, Some(AtEnd)) => ()
      case x => fail(s"unexpected $x")
    }
    intercept[ParseException](Parser.parse("m @ x"))
  }

  test("parser: aggregation modifiers before or after the body") {
    val a = Parser.parse("sum by (job) (m)")
    val b = Parser.parse("sum(m) by (job)")
    assert(a == b)
    a match {
      case Agg("sum", Selector(Some("m"), _, _, _, _), None, Seq("job"),
          false) => ()
      case x => fail(s"unexpected $x")
    }
    Parser.parse("topk(3, m)") match {
      case Agg("topk", _, Some(NumberLit(3.0)), Nil, false) => ()
      case x => fail(s"unexpected $x")
    }
    intercept[ParseException](Parser.parse("topk(m)")) // missing param
    intercept[ParseException](Parser.parse("sum(1, m)")) // stray param
  }

  test("parser: vector matching and bool modifiers") {
    Parser.parse("a / on(j) group_left(extra) b") match {
      case BinOp("/", _, _, false,
          Some(Matching(true, Seq("j"), 1, Seq("extra")))) => ()
      case x => fail(s"unexpected $x")
    }
    Parser.parse("a > bool ignoring(k) b") match {
      case BinOp(">", _, _, true, Some(Matching(false, Seq("k"), 0,
          Nil))) => ()
      case x => fail(s"unexpected $x")
    }
    intercept[ParseException](
      Parser.parse("a and on(j) group_left b")) // group on set op
  }

  test("parser: nesting is bounded — past MaxDepth a ParseException, " +
       "never a stack overflow") {
    val d = Parser.MaxDepth
    def parens(n: Int) = "(" * n + "m" + ")" * n
    assert(Parser.parse(parens(d)) == Parser.parse("m"))
    Parser.parse("-" * d + "m")
    Parser.parse(Seq.fill(d + 1)("2").mkString("^"))
    Parser.parse("abs(" * (d - 1) + "m" + ")" * (d - 1))
    Seq(parens(d + 1), "-" * (d + 1) + "m",
      Seq.fill(d + 2)("2").mkString("^"),
      "sum(" * (d + 1) + "m" + ")" * (d + 1),
      parens(100000)).foreach { q =>
      val e = intercept[ParseException](Parser.parse(q))
      assert(e.getMessage.contains("nested deeper"), q.take(20))
    }
  }

  test("printer: parse(print(parse(q))) == parse(q) over the surface") {
    val queries = Seq(
      """topk(2, {__name__=~"click|error"})""",
      """sum by (user_id) (rate({__name__=~".+"}[2d]))""",
      """error / on(user_id) group_left sum by (user_id) (click)""",
      """a / on(j) group_left(extra) b""",
      "histogram_quantile(0.9, increase(lat_bucket[2d]))",
      "clamp(click * 2, 40, 150) > bool 100",
      """absent(click{user_id="x"})""",
      "max_over_time(sum(click)[2d:21600])",
      "sum(m)[30m:] offset 5m",
      "m @ 1700000000 offset 30",
      "m[90] offset 2m @ end()",
      """label_replace(req, "dc", "$1", "instance", "i(.*)")""",
      "holt_winters(m[1h30m], 0.5, 0.5)",
      "quantile(0.5, req) or vector(42)",
      "a and on() b unless ignoring(x) c",
      """count_values("v", req)""",
      "-(a + b) * 2 ^ 3 ^ -1",
      "sum without () (m)")
    queries.foreach { q =>
      val ast = Parser.parse(q)
      val printed = Parser.print(ast)
      assert(Parser.parse(printed) == ast,
        s"round-trip failed for '$q' -> '$printed'")
    }
  }

  // ---------------------------------------------------------- evaluator

  /** Canonical-store fixture: two counter series + one gauge series.
    * Integer values keep the 1e-6 fixed-point floor exact.
    */
  private def fixture: DataFrame = {
    def series(name: String, inst: String, pts: Seq[(Long, Double)]) =
      pts.map { case (t, v) =>
        (name, Seq(s"__name__=$name", s"instance=$inst").sorted, v, t)
      }
    val rows =
      series("req", "i1", Seq(0L -> 0.0, 10L -> 5.0, 20L -> 12.0,
        30L -> 2.0, 40L -> 9.0, 60L -> 15.0)) ++ // reset at t=30
      series("req", "i2", Seq(5L -> 100.0, 25L -> 130.0, 45L -> 160.0)) ++
      series("mem", "i1", Seq(0L -> 50.0, 30L -> 40.0, 60L -> 70.0))
    rows.toDF("name", "tags", "val", "ts")
  }

  private def run(q: String, start: Long, end: Long, step: Long,
                  lookback: Long = 300L): Seq[(String, Long, Double)] =
    Eval.rangeQuery(fixture, q, Eval.RangeSpec(start, end, step, lookback))
      .select(array_join(col("tags"), ","), col("t"), col("value"))
      .as[(String, Long, Double)].collect().sorted.toSeq

  test("instant selector: latest sample in lookback, staleness bound") {
    val got = run("""req{instance="i1"}""", 0, 60, 20, lookback = 15)
    // T=0 -> t0 v0; T=20 -> t20 v12; T=40 -> t40 v9; T=60 -> t60 v15
    assert(got == Seq(
      ("__name__=req,instance=i1", 0L, 0.0),
      ("__name__=req,instance=i1", 20L, 12.0),
      ("__name__=req,instance=i1", 40L, 9.0),
      ("__name__=req,instance=i1", 60L, 15.0)))
    // lookback 5: samples at 5/25/45 serve T in [t, t+4] — no grid
    // multiple of 10 falls there, so every grid instant is stale
    assert(run("""req{instance="i2"}""", 0, 60, 10, lookback = 5).isEmpty)
    // lookback 10: each sample serves exactly the next grid instant
    val sparse = run("""req{instance="i2"}""", 0, 60, 10, lookback = 10)
    assert(sparse == Seq(
      ("__name__=req,instance=i2", 10L, 100.0),
      ("__name__=req,instance=i2", 30L, 130.0),
      ("__name__=req,instance=i2", 50L, 160.0)))
  }

  test("offset shifts the read window") {
    val got = run("""req{instance="i1"} offset 20""", 40, 40, 10,
      lookback = 15)
    // T=40 reads (40-20-15, 40-20] = (5, 20] -> t=20 v=12
    assert(got == Seq(("__name__=req,instance=i1", 40L, 12.0)))
    // negative offset reads the future relative to the eval instant
    val neg = run("""req{instance="i1"} offset -20""", 20, 20, 10,
      lookback = 15)
    assert(neg == Seq(("__name__=req,instance=i1", 20L, 9.0))) // t=40
    assert(Parser.parse(Parser.print(Parser.parse("m offset -5m"))) ==
      Parser.parse("m offset -5m"))
  }

  test("regex matchers are anchored and empty-match includes absent") {
    assert(run("""req{instance=~"i"}""", 60, 60, 10).isEmpty) // no full match
    assert(run("""req{instance=~"i."}""", 60, 60, 10).size == 2)
    // nope=~".*" full-matches the absent label's empty value
    assert(run("""req{instance="i1", nope=~".*"}""", 60, 60, 10).size == 1)
    assert(run("""req{instance="i1", nope!~".+"}""", 60, 60, 10).size == 1)
    assert(run("""req{instance="i1", nope=~".+"}""", 60, 60, 10).isEmpty)
  }

  test("increase applies counter reset + extrapolation semantics") {
    // window (0, 60] over i1: samples t10..t60, reset at t=30
    val got = run("""increase(req{instance="i1"}[60])""", 60, 60, 60)
    // raw = 5@(0->wait) pairs in (0,60]: (10,5)d5,(20,12)d7,(30,2)reset->2,
    // (40,9)d7,(60,15)d6 ; pair (0,10): prev t=0 NOT in (0,60] -> excluded
    // raw = 5+7+2+7+6 = 27? no: pair (10,5) prev is t=0 outside -> drop d5
    // raw = 7+2+7+6 = 22; ft=10, lt=60, si=50, n=5, avg=12.5, thr=13.75
    // ds0 = 10-0 = 10 < thr -> counter zero-cap: si*fv/raw = 50*5/22=11.36
    //   -> ds = min(10, 11.36) = 10 ; de0 = 0 < thr -> de = 0
    // inc = 22 * (50+10+0)/50 = 26.4
    assert(got.size == 1)
    assert(math.abs(got.head._3 - 26.4) < 1e-6)
    // name is dropped by rate/increase
    assert(got.head._1 == "instance=i1")
  }

  test("rate = increase / window") {
    val inc = run("""increase(req{instance="i1"}[60])""", 60, 60, 60)
    val rate = run("""rate(req{instance="i1"}[60])""", 60, 60, 60)
    assert(math.abs(rate.head._3 - inc.head._3 / 60.0) < 2e-6)
  }

  test("delta on a gauge telescopes without reset handling") {
    // mem i1 window (0,60]: in-window samples t=30 (v40), t=60 (v70);
    // the (0->30) pair's older endpoint is outside -> excluded, raw=30.
    // ft=30 lt=60 si=30 n=2 avg=30 thr=33; ds0=30<thr -> ds=30; de0=0.
    // delta has no zero-cap: inc = 30*(30+30+0)/30 = 60
    val got = run("""delta(mem[60])""", 60, 60, 60)
    assert(math.abs(got.head._3 - 60.0) < 1e-6)
  }

  test("changes and resets count in-window consecutive pairs only") {
    val chg = run("""changes(req{instance="i1"}[40])""", 60, 60, 60)
    // window (20,60]: in-window pairs (30,40) and (40,60) both change;
    // the (20,30) transition straddles the boundary -> not counted
    assert(chg == Seq(("instance=i1", 60L, 2.0)))
    val rst = run("""resets(req{instance="i1"}[60])""", 60, 60, 60)
    assert(rst == Seq(("instance=i1", 60L, 1.0)))
  }

  test("irate uses the last two samples of the window") {
    val got = run("""irate(req{instance="i1"}[60])""", 60, 60, 60)
    // last two: (40,9) -> (60,15): d=6 over 20s = 0.3
    assert(math.abs(got.head._3 - 0.3) < 1e-6)
    val id = run("""idelta(mem[60])""", 60, 60, 60)
    assert(math.abs(id.head._3 - 30.0) < 1e-6)
  }

  test("*_over_time family on the grid") {
    val q = "max_over_time(req{instance=\"i1\"}[30])"
    assert(run(q, 30, 30, 10) == Seq(("instance=i1", 30L, 12.0)))
    assert(run("min_over_time(req{instance=\"i1\"}[30])", 30, 30, 10) ==
      Seq(("instance=i1", 30L, 2.0)))
    assert(run("sum_over_time(req{instance=\"i1\"}[30])", 30, 30, 10) ==
      Seq(("instance=i1", 30L, 19.0)))
    assert(run("count_over_time(req{instance=\"i1\"}[30])", 30, 30, 10) ==
      Seq(("instance=i1", 30L, 3.0)))
    assert(run("last_over_time(req{instance=\"i1\"}[30])", 30, 30, 10) ==
      Seq(("instance=i1", 30L, 2.0)))
    assert(run("avg_over_time(req{instance=\"i1\"}[30])", 30, 30, 10) ==
      Seq(("instance=i1", 30L, 19.0 / 3.0 - ((19.0 / 3.0 * 1e6) % 1) / 1e6))
      || run("avg_over_time(req{instance=\"i1\"}[30])", 30, 30, 10)
        .head._3 == math.floor(19.0 / 3.0 * 1e6) / 1e6)
    assert(run("present_over_time(req{instance=\"i1\"}[30])", 30, 30, 10) ==
      Seq(("instance=i1", 30L, 1.0)))
  }

  test("mad_over_time: median absolute deviation per window") {
    // i1 window (0,30]: values 5,12,2 -> med 5; |x-5| = 0,7,3 -> mad 3
    assert(run("mad_over_time(req{instance=\"i1\"}[30])", 30, 30, 10) ==
      Seq(("instance=i1", 30L, 3.0)))
  }

  test("aggregations: sum/avg/count by and without") {
    // at T=60: i1=15, i2=160 (lookback 300)
    assert(run("sum by (instance) (req)", 60, 60, 10) == Seq(
      ("instance=i1", 60L, 15.0), ("instance=i2", 60L, 160.0)))
    assert(run("sum(req)", 60, 60, 10) == Seq(("", 60L, 175.0)))
    assert(run("sum without (instance) (req)", 60, 60, 10) ==
      Seq(("", 60L, 175.0)))
    assert(run("count(req)", 60, 60, 10) == Seq(("", 60L, 2.0)))
    assert(run("avg(req)", 60, 60, 10) == Seq(("", 60L, 87.5)))
    assert(run("min(req)", 60, 60, 10) == Seq(("", 60L, 15.0)))
    assert(run("max(req)", 60, 60, 10) == Seq(("", 60L, 160.0)))
    assert(run("group(req)", 60, 60, 10) == Seq(("", 60L, 1.0)))
  }

  test("topk/bottomk keep original labels; quantile interpolates") {
    assert(run("topk(1, req)", 60, 60, 10) ==
      Seq(("__name__=req,instance=i2", 60L, 160.0)))
    assert(run("bottomk(1, req)", 60, 60, 10) ==
      Seq(("__name__=req,instance=i1", 60L, 15.0)))
    // quantile(0.5, {15, 160}) = 87.5 (rank interpolation)
    assert(run("quantile(0.5, req)", 60, 60, 10) == Seq(("", 60L, 87.5)))
  }

  test("limitk/limit_ratio: deterministic hash sampling, stable " +
      "across steps, ratio partitions") {
    // limitk(2, req) over 2 series = both; limitk(1, req) picks the
    // md5-least series and the SAME one at every step
    assert(run("limitk(2, req)", 60, 60, 10).map(_._1).sorted ==
      Seq("__name__=req,instance=i1", "__name__=req,instance=i2"))
    val one = run("limitk(1, req)", 40, 60, 10)
    assert(one.map(_._1).distinct.size == 1)
    val md5i1 = java.security.MessageDigest.getInstance("MD5")
      .digest("__name__=req,instance=i1".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val md5i2 = java.security.MessageDigest.getInstance("MD5")
      .digest("__name__=req,instance=i2".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expect = if (md5i1 < md5i2) "i1" else "i2"
    assert(one.head._1 == s"__name__=req,instance=$expect")
    // limit_ratio(r) ∪ limit_ratio(r-1) = everything, disjoint
    val loHalf = run("limit_ratio(0.5, req)", 60, 60, 10).map(_._1)
    val hiHalf = run("limit_ratio(-0.5, req)", 60, 60, 10).map(_._1)
    assert((loHalf ++ hiHalf).sorted ==
      Seq("__name__=req,instance=i1", "__name__=req,instance=i2"))
    assert(loHalf.toSet.intersect(hiHalf.toSet).isEmpty)
    // r = 1 keeps all, r = 0 keeps none
    assert(run("limit_ratio(1, req)", 60, 60, 10).size == 2)
    assert(run("limit_ratio(0, req)", 60, 60, 10).isEmpty)
  }

  test("ts_of_* family: timestamps of the window's last/extreme sample") {
    // req i1 in (0, 60]: samples at 10,20,30,40,60 → max v=15 at t=60,
    // min v=2 at t=30, last at t=60
    assert(run("""ts_of_max_over_time(req{instance="i1"}[60s])""",
      60, 60, 10) == Seq(("instance=i1", 60L, 60.0)))
    assert(run("""ts_of_min_over_time(req{instance="i1"}[60s])""",
      60, 60, 10) == Seq(("instance=i1", 60L, 30.0)))
    assert(run("""ts_of_last_over_time(req{instance="i1"}[60s])""",
      60, 60, 10) == Seq(("instance=i1", 60L, 60.0)))
  }

  test("ts_of_min_over_time resolves value ties to the LATEST sample " +
      "(upstream updates the winner on <=)") {
    val rows = Seq(
      ("m", Seq("__name__=m", "job=a"), 2.0, 10L),
      ("m", Seq("__name__=m", "job=a"), 5.0, 20L),
      ("m", Seq("__name__=m", "job=a"), 2.0, 30L),
      ("m", Seq("__name__=m", "job=a"), 7.0, 40L))
    val store = rows.toDF("name", "tags", "val", "ts")
    def one(q: String): Seq[Double] =
      Eval.rangeQuery(store, q, Eval.RangeSpec(60, 60, 10, 300L))
        .select(col("value")).as[Double].collect().toSeq
    assert(one("ts_of_min_over_time(m[60s])") == Seq(30.0))
    // tied maxima likewise take the latest
    val rows2 = rows :+ ("m", Seq("__name__=m", "job=a"), 7.0, 50L)
    val store2 = rows2.toDF("name", "tags", "val", "ts")
    assert(Eval.rangeQuery(store2, "ts_of_max_over_time(m[60s])",
        Eval.RangeSpec(60, 60, 10, 300L))
      .select(col("value")).as[Double].collect().toSeq == Seq(50.0))
  }

  test("info(): data labels join on job/instance; the second selector " +
      "filters AND projects; existing labels win; no match = unchanged") {
    val rows = Seq(
      ("up", Seq("__name__=up", "instance=i1", "job=a"), 1.0, 10L),
      ("up", Seq("__name__=up", "instance=i2", "job=a"), 2.0, 10L),
      ("up", Seq("__name__=up", "env=keepme", "instance=i3", "job=a"),
        3.0, 10L),
      ("target_info", Seq("__name__=target_info", "cluster=us-east",
        "env=prod", "instance=i1", "job=a"), 1.0, 10L),
      ("target_info", Seq("__name__=target_info", "cluster=eu-west",
        "env=prod", "instance=i3", "job=a"), 1.0, 10L))
    val store = rows.toDF("name", "tags", "val", "ts")
    def run(q: String): Seq[(String, Double)] =
      Eval.rangeQuery(store, q, Eval.RangeSpec(10, 10, 10, 300L))
        .select(array_join(col("tags"), ","), col("value"))
        .as[(String, Double)].collect().sorted.toSeq
    // i1 enriched with cluster+env, i2 untouched (no info series),
    // i3 keeps its OWN env (sample label wins) but gains cluster
    assert(run("info(up)") == Seq(
      ("__name__=up,cluster=eu-west,env=keepme,instance=i3,job=a", 3.0),
      ("__name__=up,cluster=us-east,env=prod,instance=i1,job=a", 1.0),
      ("__name__=up,instance=i2,job=a", 2.0)))
    // the selector names WHICH data labels copy (and filters on them)
    assert(run("""info(up, {cluster="us-east"})""") == Seq(
      ("__name__=up,cluster=us-east,instance=i1,job=a", 1.0),
      ("__name__=up,env=keepme,instance=i3,job=a", 3.0),
      ("__name__=up,instance=i2,job=a", 2.0)))
    // info survives aggregation output as long as idents remain
    assert(run("info(sum by (instance, job) (up))") == Seq(
      ("cluster=eu-west,env=prod,instance=i3,job=a", 3.0),
      ("cluster=us-east,env=prod,instance=i1,job=a", 1.0),
      ("instance=i2,job=a", 2.0)))
  }

  test("count_values groups by printed value") {
    val got = run("""count_values("v", req)""", 60, 60, 10)
    assert(got.toSet == Set(("v=15", 60L, 1.0), ("v=160", 60L, 1.0)))
  }

  test("binary ops: arithmetic, comparison filter, bool") {
    assert(run("req * 2", 60, 60, 10).map(_._3).sorted == Seq(30.0, 320.0))
    // arithmetic drops the metric name
    assert(run("req * 2", 60, 60, 10).forall(!_._1.contains("__name__")))
    // comparison filter keeps the element unchanged (name included)
    assert(run("req > 100", 60, 60, 10) ==
      Seq(("__name__=req,instance=i2", 60L, 160.0)))
    assert(run("req > bool 100", 60, 60, 10).map(_._3).sorted ==
      Seq(0.0, 1.0))
    // vector/vector with matching: req / on(instance) mem (mem only at i1)
    val ratio = run("""req / on(instance) mem{instance="i1"}""", 60, 60, 10)
    assert(ratio == Seq(("instance=i1", 60L,
      math.floor(15.0 / 70.0 * 1e6) / 1e6)))
  }

  test("set operators: and / or / unless") {
    assert(run("""req and on(instance) mem""", 60, 60, 10) ==
      Seq(("__name__=req,instance=i1", 60L, 15.0)))
    assert(run("""req unless on(instance) mem""", 60, 60, 10) ==
      Seq(("__name__=req,instance=i2", 60L, 160.0)))
    val or = run("""req or mem""", 60, 60, 10)
    assert(or.size == 3) // full label identity differs -> union of all
  }

  test("division by zero drops the element (finite-store contract)") {
    assert(run("req / (mem - mem)", 60, 60, 10).isEmpty)
  }

  test("value functions: clamp, round, abs, sgn drop the name") {
    assert(run("clamp(req, 20, 100)", 60, 60, 10).map(_._3).sorted ==
      Seq(20.0, 100.0))
    assert(run("round(req / 7)", 60, 60, 10).map(_._3).sorted ==
      Seq(2.0, 23.0))
    assert(run("sgn(0 - req)", 60, 60, 10).map(_._3) == Seq(-1.0, -1.0))
  }

  test("scalar(), vector(), time(), timestamp()") {
    assert(run("vector(42)", 0, 20, 10) ==
      Seq(("", 0L, 42.0), ("", 10L, 42.0), ("", 20L, 42.0)))
    // scalar() of a 2-element vector is dropped (NaN); of 1 element passes
    assert(run("""vector(1) * scalar(req)""", 60, 60, 10).isEmpty)
    assert(run("""vector(1) * scalar(req{instance="i2"})""", 60, 60, 10) ==
      Seq(("", 60L, 160.0)))
    assert(run("time()", 30, 50, 10).map(_._3) == Seq(30.0, 40.0, 50.0))
    val ts = run("""timestamp(req{instance="i2"})""", 60, 60, 10)
    assert(ts == Seq(("instance=i2", 60L, 45.0))) // the SAMPLE's time
  }

  test("absent() emits 1 with EQ-matcher labels where nothing exists") {
    val got = run("""absent(req{instance="i9"})""", 0, 20, 10)
    assert(got == Seq(("__name__=req,instance=i9", 0L, 1.0),
      ("__name__=req,instance=i9", 10L, 1.0),
      ("__name__=req,instance=i9", 20L, 1.0)))
    assert(run("""absent(req{instance="i1"})""", 60, 60, 10).isEmpty)
  }

  test("histogram_quantile from le-labeled cumulative buckets") {
    val rows = Seq(
      ("lat", Seq("__name__=lat", "le=0.1"), 50.0, 60L),
      ("lat", Seq("__name__=lat", "le=0.5"), 80.0, 60L),
      ("lat", Seq("__name__=lat", "le=+Inf"), 100.0, 60L))
      .toDF("name", "tags", "val", "ts")
    val got = Eval.rangeQuery(rows, "histogram_quantile(0.9, lat)",
        Eval.RangeSpec(60, 60, 10))
      .select(col("t"), col("value")).as[(Long, Double)].collect()
    // rank 90 in (50, 80]? no: 90 > 80 -> +Inf bucket -> highest finite le
    assert(got.toSeq == Seq((60L, 0.5)))
    val p5 = Eval.rangeQuery(rows, "histogram_quantile(0.5, lat)",
        Eval.RangeSpec(60, 60, 10))
      .select(col("value")).as[Double].collect()
    assert(p5.head == 0.1) // rank 50 exactly at first bucket's top
  }

  test("holt_winters folds the window on the fixed-point grid") {
    // i1 window (0,60]: samples 5,12,2,9,15 (t=10..60); fold with
    // sf=0.5, tf=0.5 on millionth-quantized factors, floored division
    val got = run(
      """holt_winters(req{instance="i1"}[60], 0.5, 0.5)""", 60, 60, 60)
    assert(got.size == 1)
    // replicate the fold in plain Scala (fp millionths)
    val xs = Seq(5L, 12L, 2L, 9L, 15L).map(_ * 1000000L)
    def fdiv(a: Long, d: Long): Long = { val m = ((a % d) + d) % d; (a - m) / d }
    var sm = xs(0); var b = xs(1) - xs(0)
    xs.drop(1).foreach { x =>
      val s2 = fdiv(500000L * x + 500000L * (sm + b), 1000000L)
      val b2 = fdiv(500000L * (s2 - sm) + 500000L * b, 1000000L)
      sm = s2; b = b2
    }
    assert(got.head._3 == sm / 1e6)
    // the PromQL 3.x alias evaluates identically
    assert(run(
      """double_exponential_smoothing(req{instance="i1"}[60], 0.5, 0.5)""",
      60, 60, 60) == got)
    // a single-sample window yields nothing
    assert(run("""holt_winters(req{instance="i2"}[15], 0.5, 0.5)""",
      45, 45, 15).isEmpty)
  }

  test("trig family, pi(), and sort_by_label passthrough") {
    assert(run("sin(vector(0))", 0, 0, 10).head._3 == 0.0)
    val c = run("cos(vector(0))", 0, 0, 10).head._3
    assert(c == 1.0)
    assert(math.abs(run("vector(pi())", 0, 0, 10).head._3 -
      math.floor(math.Pi * 1e6) / 1e6) < 1e-9)
    assert(run("deg(vector(pi()))", 0, 0, 10).head._3 > 179.9)
    assert(run("""sort_by_label(req, "instance")""", 60, 60, 10).size == 2)
    // inverse hyperbolics via the Go identities (1e-6 fp grid bounds
    // the comparison): asinh(0)=0, acosh(1)=0, atanh(0)=0, and a
    // nontrivial point each
    assert(run("asinh(vector(0))", 0, 0, 10).head._3 == 0.0)
    assert(run("acosh(vector(1))", 0, 0, 10).head._3 == 0.0)
    assert(run("atanh(vector(0))", 0, 0, 10).head._3 == 0.0)
    assert(math.abs(run("asinh(vector(1))", 0, 0, 10).head._3 -
      math.log(1 + math.sqrt(2))) < 1e-6)
    assert(math.abs(run("atanh(vector(0.5))", 0, 0, 10).head._3 -
      0.5 * math.log(3.0)) < 1e-6)
  }

  test("skew-split (sliced) range evaluation is row-identical to plain") {
    val qs = Seq("increase(req[60])", "rate(req[45])", "changes(req[40])",
      "irate(req[60])", "max_over_time(mem[30])",
      "req", "sum(req)", "mem offset 10") // sliced selectors too
    qs.foreach { q =>
      val plain = Eval.rangeQuery(fixture, q,
          Eval.RangeSpec(0, 60, 10, lookbackSec = 45))
        .collect().map(_.toString).sorted.toSeq
      val sliced = Eval.rangeQuery(fixture, q,
          Eval.RangeSpec(0, 60, 10, lookbackSec = 45,
            sliceSec = Some(60L)))
        .collect().map(_.toString).sorted.toSeq
      assert(plain == sliced, s"sliced evaluation diverged for '$q'")
    }
    // a slice smaller than the window/lookback is refused
    intercept[IllegalArgumentException] {
      Eval.rangeQuery(fixture, "rate(req[45])",
        Eval.RangeSpec(0, 60, 10, sliceSec = Some(30L))).collect()
    }
    intercept[IllegalArgumentException] {
      Eval.rangeQuery(fixture, "req",
        Eval.RangeSpec(0, 60, 10, lookbackSec = 100,
          sliceSec = Some(60L))).collect()
    }
  }

  test("subquery: outer range function over an inner step-aligned grid") {
    // inner sum(req) at 10s steps; outer max over the trailing 30s
    val got = run("max_over_time(sum(req)[30:10])", 30, 60, 30)
    // inner grid (0..60 by 10): sum(req) with 300s lookback:
    //  t=0:0  t=10:0+100=105? req i1 t10=5, i2 t5=100 -> 105
    //  t=20:12+100=112 t=30:2+130=132 t=40:9+130=139 t=50:9+160=169
    //  t=60:15+160=175
    // outer T=30: max over inner t in (0,30] = max(105,112,132) = 132
    // outer T=60: max over (30,60] = max(139,169,175) = 175
    assert(got == Seq(("", 30L, 132.0), ("", 60L, 175.0)))
  }

  test("@ modifier pins evaluation and repeats it across the grid") {
    val got = run("req @ 60", 0, 20, 10)
    assert(got.map(_._3).distinct == Seq(15.0, 160.0))
    assert(got.size == 6) // 2 series x 3 grid instants
    // @ start()/end() resolve against the query range
    val atEnd = run("""req{instance="i1"} @ end()""", 0, 60, 30)
    assert(atEnd.map(_._3).distinct == Seq(15.0))
    // @ on a range selector: the window is fixed, the result repeated
    val inc = run("""increase(req{instance="i1"}[60] @ 60)""", 0, 20, 10)
    assert(inc.size == 3)
    assert(inc.forall(r => math.abs(r._3 - 26.4) < 1e-6))
  }

  test("calendar functions read the value as UTC epoch seconds") {
    // 2024-01-05 00:00:00 UTC = 1704412800, a Friday
    val got = run("day_of_week(vector(1704412800))", 0, 0, 10)
    assert(got == Seq(("", 0L, 5.0)))
    assert(run("hour(vector(1704412800))", 0, 0, 10).head._3 == 0.0)
    assert(run("month(vector(1704412800))", 0, 0, 10).head._3 == 1.0)
    assert(run("year(vector(1704412800))", 0, 0, 10).head._3 == 2024.0)
    assert(run("days_in_month(vector(1704412800))", 0, 0, 10)
      .head._3 == 31.0)
    // no-arg form defaults to evaluation time
    assert(run("hour()", 1704412800 + 7200, 1704412800 + 7200, 10)
      .head._3 == 2.0)
    // atan2 while we're here: atan2(0, -1) = pi
    assert(math.abs(run("vector(0) atan2 vector(0 - 1)", 0, 0, 10)
      .head._3 - math.floor(math.Pi * 1e6) / 1e6) < 1e-9)
  }

  test("label_replace and label_join through the evaluator") {
    val got = run(
      """label_replace(req, "dc", "$1", "instance", "i(.*)")""",
      60, 60, 10)
    assert(got.forall(_._1.contains("dc=")))
    val gj = run("""label_join(mem, "x", "-", "instance", "instance")""",
      60, 60, 10)
    assert(gj.head._1.contains("x=i1-i1"))
  }

  // -------------------------------------------- random differential test

  test("differential: over_time family + aggregations vs naive reference") {
    val rnd = new scala.util.Random(13)
    val series = (0 until 5).map { i =>
      val pts = (0 until 60).flatMap { k =>
        if (rnd.nextInt(3) == 0) None
        else Some((k * 5L + rnd.nextInt(2), rnd.nextInt(50).toDouble))
      }.groupBy(_._1).map { case (t, vs) => (t, vs.map(_._2).max) }
        .toSeq.sortBy(_._1)
      s"i$i" -> pts
    }.toMap
    val rows = series.flatMap { case (inst, pts) =>
      pts.map { case (t, v) =>
        ("g", Seq("__name__=g", s"instance=$inst"), v, t)
      }
    }.toSeq
    val df = rows.toDF("name", "tags", "val", "ts")
    val (start, end, step, w) = (30L, 290L, 20L, 45L)
    val spec = Eval.RangeSpec(start, end, step)
    def gridT = (0L to (end - start) / step).map(start + _ * step)
    def winOf(pts: Seq[(Long, Double)], T: Long) =
      pts.filter(p => p._1 > T - w && p._1 <= T)

    def runQ(q: String) = Eval.rangeQuery(df, q, spec)
      .select(array_join(col("tags"), ","), col("t"), col("value"))
      .as[(String, Long, Double)].collect().toSeq.sorted

    // max/min/count/sum/avg/last_over_time per series
    val gotMax = runQ("max_over_time(g[45])")
    val wantMax = (for {
      (inst, pts) <- series.toSeq; tt <- gridT
      win = winOf(pts, tt) if win.nonEmpty
    } yield (s"instance=$inst", tt, win.map(_._2).max)).sorted
    assert(gotMax == wantMax)

    val gotAvg = runQ("avg_over_time(g[45])")
    val wantAvg = (for {
      (inst, pts) <- series.toSeq; tt <- gridT
      win = winOf(pts, tt) if win.nonEmpty
      sumFp = win.map(p => (p._2 * 1e6).toLong).sum
    } yield (s"instance=$inst", tt,
      math.floor(sumFp.toDouble / win.size) / 1e6)).sorted
    gotAvg.zip(wantAvg).foreach { case ((tg, t, g), (tw, tw2, r)) =>
      assert(tg == tw && t == tw2 && math.abs(g - r) < 2e-6, s"$tg $t")
    }

    // changes/resets count in-window consecutive pairs
    val gotChg = runQ("changes(g[45])")
    val wantChg = (for {
      (inst, pts) <- series.toSeq; tt <- gridT
      win = winOf(pts, tt) if win.nonEmpty
      chg = win.sliding(2).count {
        case Seq(a, b) => a._2 != b._2; case _ => false }
    } yield (s"instance=$inst", tt, chg.toDouble)).sorted
    assert(gotChg == wantChg)

    val gotRst = runQ("resets(g[45])")
    val wantRst = (for {
      (inst, pts) <- series.toSeq; tt <- gridT
      win = winOf(pts, tt) if win.nonEmpty
      r = win.sliding(2).count {
        case Seq(a, b) => b._2 < a._2; case _ => false }
    } yield (s"instance=$inst", tt, r.toDouble)).sorted
    assert(gotRst == wantRst)

    // instant-vector aggregations over the lookback'd selector
    def instAt(T: Long): Map[String, Double] = series.flatMap {
      case (inst, pts) =>
        pts.filter(p => p._1 > T - 300 && p._1 <= T)
          .sortBy(_._1).lastOption.map(p => inst -> p._2)
    }
    val gotCnt = runQ("count(g)")
    val wantCnt = gridT.flatMap { tt =>
      val m = instAt(tt)
      if (m.isEmpty) None else Some(("", tt, m.size.toDouble))
    }.sorted
    assert(gotCnt == wantCnt)

    val gotTop = runQ("topk(2, g)")
    val wantTop = gridT.flatMap { tt =>
      instAt(tt).toSeq
        .sortBy { case (i, v) => (-v, s"__name__=g,instance=$i") }
        .take(2)
        .map { case (i, v) => (s"__name__=g,instance=$i", tt, v) }
    }.sorted
    assert(gotTop == wantTop)

    // binop filter: g > 25 keeps elements unchanged
    val gotCmp = runQ("g > 25")
    val wantCmp = gridT.flatMap { tt =>
      instAt(tt).filter(_._2 > 25.0)
        .map { case (i, v) => (s"__name__=g,instance=$i", tt, v) }
    }.sorted
    assert(gotCmp == wantCmp)
  }

  test("printer fuzz: random ASTs survive print -> parse") {
    val rnd = new scala.util.Random(31)
    val labels = Seq("job", "zone", "instance")
    def rndMatcher() = Matcher(labels(rnd.nextInt(3)),
      Seq(MEq, MNeq, MRe, MNre)(rnd.nextInt(4)),
      Seq("a", "x.*", "", "v=w")(rnd.nextInt(4)))
    def rndSel(range: Boolean) = Selector(Some("m" + rnd.nextInt(3)),
      Seq.fill(rnd.nextInt(3))(rndMatcher()),
      if (range) Some(60L * (rnd.nextInt(10) + 1)) else None,
      Seq(0L, 300L, -120L)(rnd.nextInt(3)),
      Seq(None, Some(AtStart), Some(AtEnd),
        Some(AtTime(1700000000L)))(rnd.nextInt(4)))
    def rndExpr(depth: Int): Expr =
      if (depth <= 0) rndSel(range = false)
      else rnd.nextInt(6) match {
        case 0 => NumberLit(rnd.nextInt(100).toDouble)
        case 1 => Call("rate", Seq(rndSel(range = true)))
        case 2 => Agg(Seq("sum", "avg", "topk")(rnd.nextInt(3)) match {
            case "topk" => "topk"; case x => x
          }, rndExpr(depth - 1),
          None, Seq.fill(rnd.nextInt(2))(labels(rnd.nextInt(3))),
          rnd.nextBoolean()) match {
            case a @ Agg("topk", b, _, l, w) =>
              Agg("topk", b, Some(NumberLit(3)), l, w)
            case a => a
          }
        case 3 => BinOp(Seq("+", "*", "/", ">", "and")(rnd.nextInt(5)),
          rndExpr(depth - 1), rndExpr(depth - 1),
          boolMod = false,
          if (rnd.nextBoolean()) None
          else Some(Matching(rnd.nextBoolean(),
            Seq.fill(rnd.nextInt(2))(labels(rnd.nextInt(3))), 0, Nil)))
        case 4 => Unary(neg = true, rndExpr(depth - 1))
        case 5 => Subquery(rndExpr(depth - 1),
          3600L, if (rnd.nextBoolean()) Some(300L) else None, 0L)
      }
    (0 until 200).foreach { i =>
      val ast = rndExpr(3)
      val printed = Parser.print(ast)
      val back = try Parser.parse(printed) catch {
        case e: ParseException =>
          fail(s"#$i: '$printed' failed to parse: ${e.getMessage}")
      }
      // normalize: parsing re-derives the same tree, except that a
      // comparison without bool between two scalars is rejected at
      // EVAL time, not parse time — structural equality is the law
      assert(back == ast, s"#$i: '$printed'")
    }
  }

  test("differential: selector/rate/sum vs a naive reference") {
    val rnd = new scala.util.Random(7)
    // 6 series, integer values, counter-ish with occasional resets
    val series = (0 until 6).map { i =>
      val inst = s"i$i"
      var v = 0.0
      val pts = (0 until 40).flatMap { k =>
        if (rnd.nextInt(4) == 0) None // gaps
        else {
          v = if (rnd.nextInt(10) == 0) rnd.nextInt(3).toDouble
              else v + rnd.nextInt(8)
          Some((k * 7L + rnd.nextInt(3), v))
        }
      }.groupBy(_._1).map { case (t, vs) => (t, vs.map(_._2).max) }
        .toSeq.sortBy(_._1)
      inst -> pts
    }.toMap
    val rows = series.flatMap { case (inst, pts) =>
      pts.map { case (t, v) =>
        ("c", Seq("__name__=c", s"instance=$inst"), v, t)
      }
    }.toSeq
    val df = rows.toDF("name", "tags", "val", "ts")
    val (start, end, step, w) = (30L, 270L, 15L, 60L)

    // naive reference: per grid T, per series, Prometheus semantics
    def refRate(pts: Seq[(Long, Double)], T: Long): Option[Double] = {
      val in = pts.filter(p => p._1 > T - w && p._1 <= T)
      if (in.size < 2) return None
      val ft = in.head._1.toDouble; val lt = in.last._1.toDouble
      val si = lt - ft
      if (si <= 0) return None
      var raw = 0.0
      in.sliding(2).foreach { case Seq((_, a), (_, b)) =>
        raw += (if (b >= a) b - a else b)
      }
      val fv = in.head._2
      val avg = si / (in.size - 1)
      val thr = avg * 1.1
      val ds0 = ft - (T - w)
      val ds1 = if (raw > 0 && fv >= 0) math.min(ds0, si * (fv / raw))
        else ds0
      val ds = if (ds1 >= thr) avg / 2 else ds1
      val de0 = T - lt
      val de = if (de0 >= thr) avg / 2 else de0
      Some(raw * ((si + ds + de) / si) / w)
    }
    val want = (for {
      k <- 0L to (end - start) / step
      t = start + k * step
      sums = series.values.flatMap(refRate(_, t))
      if sums.nonEmpty
    } yield (t, math.floor(sums.map(v => math.floor(v * 1e6) / 1e6)
      .sum * 1e6) / 1e6)).toSeq.sorted

    val got = Eval.rangeQuery(df, s"sum(rate(c[$w]))",
        Eval.RangeSpec(start, end, step))
      .select(col("t"), col("value")).as[(Long, Double)]
      .collect().toSeq.sorted
    assert(got.map(_._1) == want.map(_._1))
    got.zip(want).foreach { case ((t, g), (_, r)) =>
      assert(math.abs(g - r) < 3e-6, s"T=$t got=$g want=$r")
    }
  }

  test("native-histogram store view: quantile/count/sum/fraction on the " +
       "sparse-bucket samples directly, hand-computed") {
    // one histogram at t=100: zero bucket 2, buckets idx1 (1,2]fp ×3,
    // idx3 (4,8]fp ×5 → total 10, sum_fp 37
    val rows = Seq(
      ("h", Seq("__name__=h", "job=a"), 100L, 10L, 37L, 2L,
        Seq((1, 3L), (3, 5L))))
    val store = rows.toDF("name", "tags", "ts", "h_count", "h_sum_fp",
      "h_zero", "h_buckets")
      .withColumn("h_buckets",
        expr("transform(h_buckets, b -> struct(b._1 AS idx, b._2 AS cnt))"))
    def one(q: String): Double =
      Eval.rangeQuery(store, q, Eval.RangeSpec(100, 100, 1, 300L))
        .select(col("value")).as[Double].collect().head
    assert(one("""histogram_count({__name__="h"})""") == 10.0)
    assert(one("""histogram_sum({__name__="h"})""") == 37e-6)
    // q=0.5: rank 5 → zero(2) + idx1(3) = 5 crosses at idx1: lower 1,
    // upper 2, prev cum 2 → 1 + 1·(5−2)/3 = 2 fp
    assert(one("""histogram_quantile(0.5, {__name__="h"})""") == 2e-6)
    // rank inside the zero bucket → 0
    assert(one("""histogram_quantile(0.1, {__name__="h"})""") == 0.0)
    // fraction (0, 6e-6]: zero 2 + idx1 full 3 + idx3 partial
    // 5·(6−4)/(8−4)=2.5 → 7.5/10 = 0.75
    assert(one("""histogram_fraction(0, 0.000006, {__name__="h"})""")
      == 0.75)
    // composed: avg observation = sum/count — the binop result lands
    // back on the 1e-6 grid (3.7e-6 floors to 3e-6, the engine's
    // fixed-point contract)
    assert(one("""histogram_sum({__name__="h"})
                 | / histogram_count({__name__="h"})""".stripMargin)
      == 3e-6)
    // the sample coasts on lookback like any scalar
    assert(Eval.rangeQuery(store,
        """histogram_count({__name__="h"})""",
        Eval.RangeSpec(150, 150, 1, 300L))
      .select(col("value")).as[Double].collect().head == 10.0)
    // histogram_avg: floor(37/10) = 3 fp — ONE floor, unlike the
    // sum/count binop (same value here)
    assert(one("""histogram_avg({__name__="h"})""") == 3e-6)
    // histogram_stddev: midpoints 1.5 (idx1), 6 (idx3), zero at 0,
    // mean 3.7 → ssq = 3·2.2² + 5·2.3² + 2·3.7² = 68.35, var 6.835,
    // sqrt = 2.614… → floor 2 fp
    assert(one("""histogram_stddev({__name__="h"})""") == 2e-6)
    // stdvar is in fp²: 6.835 fp² floors to 0 on the 1e-6 value grid
    assert(one("""histogram_stdvar({__name__="h"})""") == 0.0)
  }

  test("histogram_quantile over increase() of native histograms: " +
      "per-bucket window deltas, hand-computed") {
    // cumulative counters: t=100 (count 10, zero 2, idx1×3 idx3×5) →
    // t=200 (count 16, zero 3, idx1×4 idx3×7 idx4×1). Window (50, 200]
    // delta: zero 1, idx1 1, idx3 2, idx4 1 (total 5, count delta 6...
    // ranks use zero+buckets = 5). q=0.5 → rank 2.5: cum zero 1,
    // idx1 → 2, idx3 → 4 crosses: 4 + 4·(2.5−2)/2 = 5 fp
    val rows = Seq(
      ("h", Seq("__name__=h", "job=a"), 100L, 10L, 37L, 2L,
        Seq((1, 3L), (3, 5L))),
      ("h", Seq("__name__=h", "job=a"), 200L, 16L, 90L, 3L,
        Seq((1, 4L), (3, 7L), (4, 1L))))
    val store = rows.toDF("name", "tags", "ts", "h_count", "h_sum_fp",
      "h_zero", "h_buckets")
      .withColumn("h_buckets",
        expr("transform(h_buckets, b -> struct(b._1 AS idx, b._2 AS cnt))"))
    def one(q: String): Seq[(String, Long, Double)] =
      Eval.rangeQuery(store, q, Eval.RangeSpec(200, 200, 1, 300L))
        .select(array_join(col("tags"), ","), col("t"), col("value"))
        .as[(String, Long, Double)].collect().toSeq
    assert(one("""histogram_quantile(0.5, increase({__name__="h"}[150s]))""")
      == Seq(("job=a", 200L, 5e-6)))
    // rate and increase share the quantile (uniform scaling cancels)
    assert(one("""histogram_quantile(0.5, rate({__name__="h"}[150s]))""")
      == Seq(("job=a", 200L, 5e-6)))
    // a one-sample window has no increase → empty
    assert(one("""histogram_quantile(0.5, increase({__name__="h"}[50s]))""")
      .isEmpty)
    // fraction over the SAME deltas: (0, 6e-6] holds zero(1) + idx1(1)
    // + idx3 partial 2·(6−4)/4 = 3, over the COUNT delta 6 → 0.5
    assert(one(
      """histogram_fraction(0, 0.000006, increase({__name__="h"}[150s]))""")
      == Seq(("job=a", 200L, 0.5)))
    // avg over the deltas: sum delta 53 fp over count delta 6 → 8 fp
    assert(one("""histogram_avg(increase({__name__="h"}[150s]))""")
      == Seq(("job=a", 200L, 8e-6)))
  }

  test("native-histogram counter reset inside a rate window: chained " +
      "reset-adjusted per-bucket deltas, hand-computed") {
    // cumulative samples (zero, idx10 (512,1024]fp, idx12 (2048,4096]fp);
    // the service RESTARTS between t=200 and t=300 (count drops 10→3)
    val rows = Seq(
      ("h", Seq("__name__=h", "job=a"), 100L, 4L, 100L, 1L,
        Seq((10, 2L), (12, 1L))),
      ("h", Seq("__name__=h", "job=a"), 200L, 10L, 300L, 2L,
        Seq((10, 3L), (12, 5L))),
      ("h", Seq("__name__=h", "job=a"), 300L, 3L, 50L, 1L,
        Seq((10, 1L), (12, 1L))),
      ("h", Seq("__name__=h", "job=a"), 400L, 9L, 200L, 2L,
        Seq((10, 3L), (12, 4L))))
    val store = rows.toDF("name", "tags", "ts", "h_count", "h_sum_fp",
      "h_zero", "h_buckets")
      .withColumn("h_buckets",
        expr("transform(h_buckets, b -> struct(b._1 AS idx, b._2 AS cnt))"))
    def one(q: String, at: Long): Seq[Double] =
      Eval.rangeQuery(store, q, Eval.RangeSpec(at, at, 1, 400L))
        .select(col("value")).as[Double].collect().toSeq
    // window (50, 400]: pairs (100→200)=+{z1,b10:1,b12:4},
    // (200→300)=RESET→+{z1,b10:1,b12:1}, (300→400)=+{z1,b10:2,b12:3}
    // → merged {zero 3, b10 4, b12 8}, ranks 15; q=0.9 → 13.5 lands in
    // b12: 2048 + 2048·(13.5−7)/8 = 3712 fp. (The unchained last−first
    // with negatives dropped would give 3754 — distinct.)
    assert(one(
      """histogram_quantile(0.9, increase({__name__="h"}[350s]))""", 400L)
      == Seq(3712e-6))
    // window (150, 400]: reset pair + one monotone pair →
    // {zero 2, b10 3, b12 4}, ranks 9; q=0.9 → 8.1 in b12:
    // 2048 + 2048·(8.1−5)/4 = 3635 fp
    assert(one(
      """histogram_quantile(0.9, increase({__name__="h"}[250s]))""", 400L)
      == Seq(3635e-6))
    // the count and sum rails chain too: count 6+3+6 = 15, sum_fp
    // 200+50+150 = 400 → avg floor(400/15) = 26 fp
    assert(one("""histogram_avg(increase({__name__="h"}[350s]))""", 400L)
      == Seq(26e-6))
    // a reset against a sample OUTSIDE the window must not contribute:
    // window (250, 400] starts AT the post-reset sample — plain
    // monotone delta {z1, b10 2, b12 3}, ranks 6, q=0.9 → 5.4 in b12:
    // 2048 + 2048·(5.4−3)/3 = 3686 fp
    assert(one(
      """histogram_quantile(0.9, increase({__name__="h"}[150s]))""", 400L)
      == Seq(3686e-6))
  }

  test("delta() on native histograms is a GAUGE read: plain last−first, " +
      "no reset chaining (upstream histogramRate isCounter=false)") {
    // the SAME mid-window drop fixture as the reset test: increase()
    // chains the pre-drop histogram back in (3712 fp), while delta()
    // must take t400 − t100 directly — {zero 1, b10 1, b12 3}, ranks 5,
    // q=0.9 → 4.5 in b12: 2048 + 2048·(4.5−2)/3 = 3754 fp
    val rows = Seq(
      ("h", Seq("__name__=h", "job=a"), 100L, 4L, 100L, 1L,
        Seq((10, 2L), (12, 1L))),
      ("h", Seq("__name__=h", "job=a"), 200L, 10L, 300L, 2L,
        Seq((10, 3L), (12, 5L))),
      ("h", Seq("__name__=h", "job=a"), 300L, 3L, 50L, 1L,
        Seq((10, 1L), (12, 1L))),
      ("h", Seq("__name__=h", "job=a"), 400L, 9L, 200L, 2L,
        Seq((10, 3L), (12, 4L))))
    val store = rows.toDF("name", "tags", "ts", "h_count", "h_sum_fp",
      "h_zero", "h_buckets")
      .withColumn("h_buckets",
        expr("transform(h_buckets, b -> struct(b._1 AS idx, b._2 AS cnt))"))
    def one(q: String): Seq[Double] =
      Eval.rangeQuery(store, q, Eval.RangeSpec(400, 400, 1, 400L))
        .select(col("value")).as[Double].collect().toSeq
    assert(one(
      """histogram_quantile(0.9, delta({__name__="h"}[350s]))""")
      == Seq(3754e-6))
    // increase() on the same window stays reset-chained — distinct
    assert(one(
      """histogram_quantile(0.9, increase({__name__="h"}[350s]))""")
      == Seq(3712e-6))
    // the scalar rails follow the gauge read too: count 9−4 = 5, sum
    // 200−100 = 100 fp → avg floor(100/5) = 20 fp (chained: 26)
    assert(one("""histogram_avg(delta({__name__="h"}[350s]))""")
      == Seq(20e-6))
    // the aggregated form threads the same gauge flag through
    assert(one(
      """histogram_quantile(0.9,
        |  sum by (job) (delta({__name__="h"}[350s])))""".stripMargin)
      == Seq(3754e-6))
  }

  test("native-histogram cross-series aggregation: sum/avg merge sparse " +
      "buckets per (group, T), hand-computed") {
    val rows = Seq(
      ("h", Seq("__name__=h", "job=a"), 100L, 2L, 20L, 0L,
        Seq((10, 2L))),
      ("h", Seq("__name__=h", "job=a"), 200L, 5L, 60L, 0L,
        Seq((10, 5L))),
      ("h", Seq("__name__=h", "job=b"), 100L, 1L, 30L, 0L,
        Seq((12, 1L))),
      ("h", Seq("__name__=h", "job=b"), 200L, 3L, 90L, 0L,
        Seq((12, 3L))))
    val store = rows.toDF("name", "tags", "ts", "h_count", "h_sum_fp",
      "h_zero", "h_buckets")
      .withColumn("h_buckets",
        expr("transform(h_buckets, b -> struct(b._1 AS idx, b._2 AS cnt))"))
    def got(q: String): Seq[(String, Double)] =
      Eval.rangeQuery(store, q, Eval.RangeSpec(200, 200, 1, 300L))
        .select(array_join(col("tags"), ","), col("value"))
        .as[(String, Double)].collect().toSeq.sorted
    // sum(increase): a's delta {b10: 3}, b's {b12: 2} merge to ranks 5;
    // q=0.5 → 2.5 in b10: 512 + 512·2.5/3 = 938 fp
    assert(got("""histogram_quantile(0.5,
                 |  sum(increase({__name__="h"}[150s])))""".stripMargin)
      == Seq(("", 938e-6)))
    // by (job) keeps the series apart: per-series single-bucket deltas
    assert(got("""histogram_quantile(0.5,
                 |  sum by (job) (increase({__name__="h"}[150s])))"""
        .stripMargin)
      .map(_._1) == Seq("job=a", "job=b"))
    // instant sum: counts 5 + 3 = 8; avg divides by the 2 contributing
    // series → 4
    assert(got("""histogram_count(sum({__name__="h"}))""")
      == Seq(("", 8.0)))
    assert(got("""histogram_count(avg({__name__="h"}))""")
      == Seq(("", 4.0)))
    // instant sum quantile: merged {b10 5, b12 3}, ranks 8, q=0.75 → 6
    // in b12: 2048 + 2048·(6−5)/3 = 2730 fp
    assert(got("""histogram_quantile(0.75, sum({__name__="h"}))""")
      == Seq(("", 2730e-6)))
    // count/sum over an aggregated RANGE form is not scale-invariant —
    // refused with guidance toward the scalarized path
    val err = intercept[IllegalArgumentException] {
      got("""histogram_count(sum(rate({__name__="h"}[150s])))""")
    }
    assert(err.getMessage.contains("scale-invariant"))
  }

  test("keep_firing_for: a cleared alert stays firing for the window, " +
      "with its last value; re-activation wins") {
    // up=1 at t=10,20 then gone; rule fires immediately (for: 0),
    // keep_firing_for 20s on a 10s grid
    val rows = Seq(
      ("up", Seq("__name__=up", "job=a"), 1.0, 10L),
      ("up", Seq("__name__=up", "job=a"), 1.0, 20L))
    val store = rows.toDF("name", "tags", "val", "ts")
    val rule = graft.promql.Rules.AlertRule("Up", "up > 0", forSec = 0L,
      keepFiringForSec = 20L)
    // lookback 5s so the selector doesn't coast past the last sample
    val got = graft.promql.Rules.alertRows(store, rule,
        Eval.RangeSpec(10, 60, 10, lookbackSec = 5L))
      .select(col("t"), col("state"), col("value"))
      .as[(Long, String, Double)].collect().toSeq.sortBy(_._1)
    assert(got.map(_._1) == Seq(10L, 20L, 30L, 40L))
    assert(got.forall(_._2 == "firing"))
    // kept instants carry the LAST active value's source (t=20)
    assert(got.filter(_._1 >= 30).forall(_._3 == 1.0))
  }

  test("keep_firing_for: re-activation inside the window stays firing " +
      "(never demotes to pending), and a longer gap resets") {
    // for: 10s (needs 2 consecutive instants), keep_firing_for: 20s on a
    // 10s grid. up=2 at t=10,20 → pending@10, firing@20. Cleared at 30.
    // Re-active at t=40 (gap 20s ≤ keep): upstream keeps FIRING — the
    // alert never went inactive, so its single-instant run must NOT read
    // as pending. Cleared 50-70 (gap 30s > keep after t=40): kept firing
    // covers 50,60 then expires. Re-active at t=80: fresh run → pending.
    val rows = Seq(10L, 20L, 40L, 80L)
      .map(t => ("up", Seq("__name__=up", "job=a"), 2.0, t))
    val store = rows.toDF("name", "tags", "val", "ts")
    val rule = graft.promql.Rules.AlertRule("Up", "up > 0", forSec = 10L,
      keepFiringForSec = 20L)
    val got = graft.promql.Rules.alertRows(store, rule,
        Eval.RangeSpec(10, 80, 10, lookbackSec = 5L))
      .select(col("t"), col("state"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(got == Seq(10L -> "pending", 20L -> "firing", 30L -> "firing",
      40L -> "firing", 50L -> "firing", 60L -> "firing", 80L -> "pending"))
  }

  test("for: non-step-multiple durations round up instead of throwing " +
      "(promtool accepts any for/interval pairing)") {
    // for: 90s on a 60s grid → needs 3 consecutive instants (spanning
    // 120s ≥ 90s); 2 instants (60s) stay pending
    val rows = Seq(10L, 70L, 130L, 250L, 310L)
      .map(t => ("up", Seq("__name__=up", "job=a"), 1.0, t))
    val store = rows.toDF("name", "tags", "val", "ts")
    val rule = graft.promql.Rules.AlertRule("Up", "up > 0", forSec = 90L)
    val got = graft.promql.Rules.alertRows(store, rule,
        Eval.RangeSpec(10, 310, 60, lookbackSec = 30L))
      .select(col("t"), col("state"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(got == Seq(10L -> "pending", 70L -> "pending",
      130L -> "firing", 250L -> "pending", 310L -> "pending"))
    // group construction no longer rejects the pairing
    graft.promql.Rules.RuleGroup("g", 60L, alerts = Seq(rule))
  }

  test("keep_firing_for: non-step-multiple durations round up instead " +
      "of throwing") {
    // keep_firing_for: 15s on a 10s grid — promtool accepts the rule, so
    // evaluation must too; the grid covers it as 20s (ceil)
    val rows = Seq(("up", Seq("__name__=up", "job=a"), 1.0, 10L))
    val store = rows.toDF("name", "tags", "val", "ts")
    val rule = graft.promql.Rules.AlertRule("Up", "up > 0", forSec = 0L,
      keepFiringForSec = 15L)
    val got = graft.promql.Rules.alertRows(store, rule,
        Eval.RangeSpec(10, 60, 10, lookbackSec = 5L))
      .select(col("t"), col("state"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(got == Seq(10L -> "firing", 20L -> "firing", 30L -> "firing"))
  }

  test("alert state machine differential: alertRows equals a naive " +
      "imperative replay of the upstream rules on random fixtures") {
    // the reference machine, per series over the ascending grid:
    //   active(t): firing stays firing; else firing iff the last
    //     ceil(for/step)+1 instants are all active; else pending
    //   inactive(t): a firing alert stays firing (with the last active
    //     value) while t - lastActive <= ceil(keep/step)*step, else
    //     the alert is gone (pending never survives inactivity)
    val rnd = new scala.util.Random(41)
    val step = 10L
    (0 until 12).foreach { trial =>
      val forSec = Seq(0L, 10L, 15L, 20L, 25L)(rnd.nextInt(5))
      val keepSec = Seq(0L, 10L, 15L, 20L, 35L)(rnd.nextInt(5))
      val grid = (1 to 40).map(_ * step)
      val series = (0 until 3).map(j => s"j$j")
      val active: Map[(String, Long), Double] = (for {
        sj <- series; t <- grid if rnd.nextInt(3) > 0
      } yield (sj, t) -> (rnd.nextInt(9) + 1.0)).toMap
      val need = (forSec + step - 1) / step + 1
      val keepSpan = ((keepSec + step - 1) / step) * step
      val expect = series.flatMap { sj =>
        var state = "inactive"; var lastActive = -1L
        grid.flatMap { t =>
          active.get((sj, t)) match {
            case Some(v) =>
              val contiguous = (0L until need)
                .forall(i => active.contains((sj, t - i * step)))
              state =
                if (state == "firing") "firing"
                else if (contiguous) "firing" else "pending"
              lastActive = t
              Some((sj, t, state, v))
            case None =>
              if (state == "firing" && keepSec > 0 &&
                  lastActive >= 0 && t - lastActive <= keepSpan)
                Some((sj, t, "firing", active((sj, lastActive))))
              else { state = "inactive"; None }
          }
        }
      }.sorted
      val rows = active.toSeq.map { case ((sj, t), v) =>
        ("up", Seq("__name__=up", s"job=$sj"), v, t)
      }
      val store = rows.toDF("name", "tags", "val", "ts")
      val rule = graft.promql.Rules.AlertRule("A", "up > 0",
        forSec = forSec, keepFiringForSec = keepSec)
      val got = graft.promql.Rules.alertRows(store, rule,
          Eval.RangeSpec(step, 40 * step, step, lookbackSec = 5L))
        .select(regexp_extract(array_join(col("tags"), ","),
          "job=(j[0-9])", 1), col("t"), col("state"), col("value"))
        .as[(String, Long, String, Double)].collect().toSeq.sorted
      assert(got == expect,
        s"trial $trial diverged (for=$forSec keep=$keepSec)")
    }
  }

  test("stale markers end instant ownership, never shadow live samples, " +
       "and are invisible to range functions") {
    val rows = Seq(
      ("up", Seq("__name__=up", "job=a"), 1.0, 10L),
      ("up", Seq("__name__=up", "job=a"), 3.0, 20L),
      ("up", Seq("__name__=up", "job=b"), 5.0, 10L))
    val store = rows.toDF("name", "tags", "val", "ts")
    // job=a marked stale at t=30; job=b keeps coasting on lookback
    val markers = Seq(("up", Seq("__name__=up", "job=a"), 30L))
      .toDF("name", "tags", "ts")
    val view = Eval.withStaleMarkers(store, markers)
    def run(q: String, start: Long, end: Long, step: Long)
        : Seq[(String, Long, Double)] =
      Eval.rangeQuery(view, q, Eval.RangeSpec(start, end, step, 300L))
        .select(array_join(col("tags"), ","), col("t"), col("value"))
        .as[(String, Long, Double)].collect().sorted.toSeq
    // T=20: both answer; T=40 (past the marker): only job=b — no
    // resurrection of the dead series inside the lookback window
    assert(run("up", 20, 20, 10) == Seq(
      ("__name__=up,job=a", 20L, 3.0), ("__name__=up,job=b", 20L, 5.0)))
    assert(run("up", 40, 40, 10) ==
      Seq(("__name__=up,job=b", 40L, 5.0)))
    // a live sample at the marker's exact second wins the dedup
    val collide = Eval.withStaleMarkers(store,
      Seq(("up", Seq("__name__=up", "job=a"), 20L)).toDF("name", "tags", "ts"))
    assert(Eval.rangeQuery(collide, "up", Eval.RangeSpec(25, 25, 1, 300L))
      .select(array_join(col("tags"), ","), col("t"), col("value"))
      .as[(String, Long, Double)].collect().sorted.toSeq == Seq(
        ("__name__=up,job=a", 25L, 3.0), ("__name__=up,job=b", 25L, 5.0)))
    // range functions skip markers: count_over_time sees 2 samples for
    // job=a in (0, 40], the marker is not a sample
    assert(run("count_over_time(up[40])", 40, 40, 10)
      .find(_._1 == "job=a").map(_._3).contains(2.0))
    // sliced (skew-split) instant evaluation honors the marker too
    assert(Eval.rangeQuery(view, "up",
        Eval.RangeSpec(40, 40, 10, 300L, sliceSec = Some(300L)))
      .select(array_join(col("tags"), ","), col("t"), col("value"))
      .as[(String, Long, Double)].collect().sorted.toSeq ==
      Seq(("__name__=up,job=b", 40L, 5.0)))
  }

  test("plan size: rate's extrapolation is one kernel node, not a " +
       "per-use copy of its formula") {
    // the same plan shape (scan, lag, grid explode, two groupBys) with
    // and without the extrapolation rule: a Column spelling inlines each
    // intermediate at every use (1,279 nodes against 168), one kernel
    // node plus its inputs gives 270 against 159. The store is a file
    // scan, as served: over a local relation the optimizer folds the
    // projections and filters away, formula and all.
    val dir = java.nio.file.Files.createTempDirectory("graft_plansize")
      .toString + "/m"
    Seq(
      ("m", Seq("__name__=m", "job=a"), 1.0, 100L),
      ("m", Seq("__name__=m", "job=a"), 4.0, 160L),
      ("m", Seq("__name__=m", "job=b"), 2.0, 130L))
      .toDF("name", "tags", "val", "ts").write.parquet(dir)
    val store = spark.read.parquet(dir)
    def nodes(q: String): Int = graft.Explain.exprNodes(
      Eval.rangeQuery(store, q, Eval.RangeSpec(0, 3600, 60, 300L))
        .queryExecution.optimizedPlan)
    val rate = nodes("sum by (job) (rate(m[5m]))")
    val plain = nodes("sum by (job) (sum_over_time(m[5m]))")
    info(s"optimized plan nodes: rate $rate, sum_over_time $plain")
    assert(rate <= 2 * plain, s"rate plan $rate nodes vs $plain")
  }

  test("finite guards drop NULL, NaN, ±Inf and |x| ≥ 9.2e18; keep the " +
       "values just inside") {
    val edge = 9.2e18
    val inner = Seq(0.0, -1.5, Math.nextDown(edge), Math.nextUp(-edge))
    val large = Seq(edge, -edge, Double.MaxValue, -Double.MaxValue)
    val nonFinite = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity)
    val df = ((inner ++ large ++ nonFinite).map(Option(_)) :+ None).toDF("x")
    def kept(guard: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      df.filter(guard(col("x"))).as[Double].collect().toSeq.sorted
    assert(kept(Eval.finiteD) == (inner ++ large).sorted)
    assert(kept(Eval.finiteFp) == inner.sorted)
    // a long column (the floored fp every rate path guards): the edge
    // compares after the double cast, so 9.2e18 − 1 rounds onto it
    val inside = 9199999999999998976L // the last double below 9.2e18
    val longs = Seq(Long.MaxValue, Long.MinValue, 0L, 9200000000000000000L,
      9199999999999999999L, inside, -inside).toDF("x")
    assert(longs.filter(Eval.finiteFp(col("x"))).as[Long].collect().toSeq
      .sorted == Seq(-inside, 0L, inside))
  }
}
