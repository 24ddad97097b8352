package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.{BottomK, MisraGries, MjpegFrames, CdcChunks, ColumnBridge, DeflateLen, DHashBmp, DHashPng, ExtrapolatedIncrease, GraphiteEscape, GraphitePath, GunzipAll, HtmlLinks, HtmlText, HttpBody, MultiPatternCount, NfcNormalize, OpenTsdbMarshal, OpenTsdbUnmarshal, PcmFrameFeatures, RobotsCrawlDelay, RobotsMatchLen, RobotsRules, UnigramExpected, UnigramSegment, VecCosine, VecDot, VecL2Norm, WarcRecords, WinnowFingerprints}

/** Engine extension point, wired the idiomatic Spark way: set
  * `spark.sql.extensions=graft.GraftExtensions` (or `.withExtensions`)
  * and the native codec/vector expressions become SQL functions —
  * `SELECT graphite_escape(name) FROM events` plans the same codegen'd
  * expression the Column API uses, with no UDF registration per session.
  *
  * `register(spark)` does the same imperatively for an already-built
  * session (tests, notebooks).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // expression-level fix for InferFiltersFromGenerate's duplicate
    // evaluation of computed array columns — see the rule's scaladoc
    ext.injectOptimizerRule(_ => FoldSizeOfCreateArray)
  }
}

object GraftExtensions {

  private def fn(name: String, clazz: Class[_], arity: Int,
                 builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, name),
      (children: Seq[Expression]) => {
        require(children.length == arity,
          s"$name expects $arity argument(s), got ${children.length}")
        builder(children)
      })

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("graphite_escape", classOf[GraphiteEscape], 1, c => GraphiteEscape(c.head)),
    fn("graphite_path", classOf[GraphitePath], 2, c => GraphitePath(c(0), c(1))),
    fn("opentsdb_marshal", classOf[OpenTsdbMarshal], 1, c => OpenTsdbMarshal(c.head)),
    fn("opentsdb_unmarshal", classOf[OpenTsdbUnmarshal], 1, c => OpenTsdbUnmarshal(c.head)),
    fn("vec_dot", classOf[VecDot], 2, c => VecDot(c(0), c(1))),
    fn("vec_cosine", classOf[VecCosine], 2, c => VecCosine(c(0), c(1))),
    fn("vec_l2norm", classOf[VecL2Norm], 1, c => VecL2Norm(c.head)),
    fn("nfc_normalize", classOf[NfcNormalize], 1, c => NfcNormalize(c.head)),
    fn("dhash_bmp", classOf[DHashBmp], 1, c => DHashBmp(c.head)),
    fn("dhash_png", classOf[DHashPng], 1, c => DHashPng(c.head)),
    fn("mjpeg_frames", classOf[MjpegFrames], 1, c => MjpegFrames(c.head)),
    fn("warc_records", classOf[WarcRecords], 1, c => WarcRecords(c.head)),
    fn("html_text", classOf[HtmlText], 1, c => HtmlText(c.head)),
    fn("html_links", classOf[HtmlLinks], 1, c => HtmlLinks(c.head)),
    fn("gunzip_all", classOf[GunzipAll], 1, c => GunzipAll(c.head)),
    fn("http_body", classOf[HttpBody], 1, c => HttpBody(c.head)),
    fn("deflate_len", classOf[DeflateLen], 1, c => DeflateLen(c.head)))
  // pcm_features takes a compile-time frame length, so it is exposed via
  // the Column constructor below rather than as a SQL function (the SQL
  // surface has no literal-only parameter convention here).

  /** Imperative registration for an existing session. Idempotent:
    * re-registering overwrites with the same builder.
    */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }

  // Column-level constructors over the native expressions.
  def graphiteEscape(c: Column): Column =
    ColumnBridge.col(GraphiteEscape(ColumnBridge.expr(c)))
  def graphitePath(labels: Column, prefix: Column): Column =
    ColumnBridge.col(GraphitePath(ColumnBridge.expr(labels), ColumnBridge.expr(prefix)))
  def opentsdbMarshal(c: Column): Column =
    ColumnBridge.col(OpenTsdbMarshal(ColumnBridge.expr(c)))
  def opentsdbUnmarshal(c: Column): Column =
    ColumnBridge.col(OpenTsdbUnmarshal(ColumnBridge.expr(c)))
  def vecDot(a: Column, b: Column): Column =
    ColumnBridge.col(VecDot(ColumnBridge.expr(a), ColumnBridge.expr(b)))
  def vecCosine(a: Column, b: Column): Column =
    ColumnBridge.col(VecCosine(ColumnBridge.expr(a), ColumnBridge.expr(b)))
  def vecL2Norm(a: Column): Column =
    ColumnBridge.col(VecL2Norm(ColumnBridge.expr(a)))
  /** Prometheus's extrapolated increase per range window (see
    * [[graft.expressions.Kernels.extrapolatedIncrease]]); Column-only, like
    * pcm_features, because `counter` is a plan-time constant.
    */
  def extrapolatedIncrease(n: Column, firstTs: Column, lastTs: Column,
                           firstFp: Column, rawFp: Column, rangeStart: Column,
                           rangeEnd: Column, counter: Boolean): Column =
    ColumnBridge.col(ExtrapolatedIncrease(ColumnBridge.expr(n),
      ColumnBridge.expr(firstTs), ColumnBridge.expr(lastTs),
      ColumnBridge.expr(firstFp), ColumnBridge.expr(rawFp),
      ColumnBridge.expr(rangeStart), ColumnBridge.expr(rangeEnd), counter))
  def cdcChunks(text: Column, w: Int, divisor: Int): Column =
    ColumnBridge.col(CdcChunks(ColumnBridge.expr(text), w, divisor))
  def nfcNormalize(text: Column): Column =
    ColumnBridge.col(NfcNormalize(ColumnBridge.expr(text)))
  def dhashBmp(payload: Column): Column =
    ColumnBridge.col(DHashBmp(ColumnBridge.expr(payload)))
  def dhashPng(payload: Column): Column =
    ColumnBridge.col(DHashPng(ColumnBridge.expr(payload)))
  def mjpegFrames(payload: Column): Column =
    ColumnBridge.col(MjpegFrames(ColumnBridge.expr(payload)))
  def warcRecords(payload: Column): Column =
    ColumnBridge.col(WarcRecords(ColumnBridge.expr(payload)))
  def htmlText(content: Column): Column =
    ColumnBridge.col(HtmlText(ColumnBridge.expr(content)))
  def htmlLinks(content: Column): Column =
    ColumnBridge.col(HtmlLinks(ColumnBridge.expr(content)))
  def gunzipAll(payload: Column): Column =
    ColumnBridge.col(GunzipAll(ColumnBridge.expr(payload)))
  def httpBody(content: Column): Column =
    ColumnBridge.col(HttpBody(ColumnBridge.expr(content)))
  def pcmFeatures(payload: Column, frameLen: Int): Column =
    ColumnBridge.col(PcmFrameFeatures(ColumnBridge.expr(payload), frameLen))
  def deflateLen(payload: Column): Column =
    ColumnBridge.col(DeflateLen(ColumnBridge.expr(payload)))
  def unigramExpected(word: Column, pieces: Seq[String], logps: Seq[Double],
                      scale: Long): Column =
    ColumnBridge.col(UnigramExpected(ColumnBridge.expr(word), pieces, logps, scale))
  def unigramSegment(word: Column, pieces: Seq[String],
                     logps: Seq[Double]): Column =
    ColumnBridge.col(UnigramSegment(ColumnBridge.expr(word), pieces, logps))
  def robotsRules(robotsTxt: Column, agent: String): Column =
    ColumnBridge.col(RobotsRules(ColumnBridge.expr(robotsTxt), agent))
  def robotsCrawlDelay(robotsTxt: Column, agent: String): Column =
    ColumnBridge.col(RobotsCrawlDelay(ColumnBridge.expr(robotsTxt), agent))
  def robotsMatchLen(path: Column, pattern: Column): Column =
    ColumnBridge.col(RobotsMatchLen(ColumnBridge.expr(path),
      ColumnBridge.expr(pattern)))
  def multiPatternCount(text: Column, patterns: Seq[String]): Column =
    ColumnBridge.col(MultiPatternCount(ColumnBridge.expr(text), patterns))
  def winnowFingerprints(text: Column, k: Int, w: Int): Column =
    ColumnBridge.col(WinnowFingerprints(ColumnBridge.expr(text), k, w))
  def bottomK(s: Column, k: Int): Column =
    ColumnBridge.col(
      BottomK(ColumnBridge.expr(s), k).toAggregateExpression())
  def misraGries(c: Column, k: Int): Column =
    ColumnBridge.col(
      MisraGries(ColumnBridge.expr(c), k).toAggregateExpression())
}
