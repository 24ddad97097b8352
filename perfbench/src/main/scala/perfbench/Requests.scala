package perfbench

import graft.codec.{Prompb, Prompb2}
import graft.codec.Prompb.{PLabelMatcher, PQuery, PReadHints, PReadRequest}

/** The three request kinds the benchmark sends. Bodies are encoded when
  * the workload is built, before anything is timed.
  */
sealed trait Req { def id: Int; def client: Int; def warmup: Boolean }

/** `POST /write` of `scrapes` scrapes from `k0` of every series in `shard`. */
final case class WriteReq(id: Int, client: Int, warmup: Boolean, rw2: Boolean,
                          shard: Seq[Series], k0: Long, scrapes: Int,
                          body: Array[Byte]) extends Req {
  def samples: Int = shard.size * scrapes
}

/** `POST /read` (remote-read, SAMPLES) of one metric on a set of instances. */
final case class ReadReq(id: Int, client: Int, warmup: Boolean,
                         metric: String, instances: Seq[String],
                         startSec: Long, endSec: Long,
                         body: Array[Byte]) extends Req

/** `GET /api/v1/query_range` of `sum by (job) (rate(metric[5m]))`. */
final case class RangeReq(id: Int, client: Int, warmup: Boolean,
                          metric: String, startSec: Long, endSec: Long)
    extends Req {
  def promql: String = s"sum by (job) (rate($metric[5m]))"
  def path: String = "/api/v1/query_range?query=" +
    java.net.URLEncoder.encode(promql, "UTF-8") +
    s"&start=$startSec&end=$endSec&step=${Requests.StepSec}"
}

object Requests {
  val StepSec = 60L
  val RateWindowSec = 300L
  val InstancesPerRead = 10

  val Rw2ContentType = "application/x-protobuf;proto=io.prometheus.write.v2.Request"

  def writeReq(g: Gen, id: Int, client: Int, warmup: Boolean, rw2: Boolean,
               shard: Seq[Series], k0: Long, scrapes: Int): WriteReq = {
    val wr = g.batch(shard, k0, scrapes)
    val raw =
      if (rw2) Prompb2.encodeRequest(Prompb2.fromV1(wr))
      else Prompb.encodeWriteRequest(wr)
    WriteReq(id, client, warmup, rw2, shard, k0, scrapes,
      Prompb.snappyCompress(raw))
  }

  /** A remote-read of one metric on `InstancesPerRead` instances of one
    * job, with the ReadHints a Prometheus evaluating at [[StepSec]] sends.
    */
  def readReq(g: Gen, rnd: java.util.Random, id: Int, client: Int,
              warmup: Boolean, startSec: Long, endSec: Long): ReadReq = {
    val metric = g.metricNames(rnd.nextInt(g.metricNames.size))
    val job = Gen.Jobs(rnd.nextInt(Gen.Jobs.size))
    val pool = g.series.filter(s => s.job == job && s.name == metric)
      .map(_.instance)
    val insts = scala.util.Random.javaRandomToRandom(rnd).shuffle(pool)
      .take(InstancesPerRead).sorted
    val re = insts.map(java.util.regex.Pattern.quote).mkString("(", "|", ")")
    val q = PQuery(startSec * 1000L, endSec * 1000L,
      Seq(PLabelMatcher(Prompb.MatchType.EQ, "__name__", metric),
        PLabelMatcher(Prompb.MatchType.RE, "instance", re)),
      Some(PReadHints(stepMs = StepSec * 1000L,
        func = if (metric.endsWith("_total")) "rate" else "",
        startMs = startSec * 1000L, endMs = endSec * 1000L)))
    ReadReq(id, client, warmup, metric, insts, startSec, endSec,
      Prompb.snappyCompress(Prompb.encodeReadRequest(PReadRequest(Seq(q)))))
  }

  def rangeReq(g: Gen, rnd: java.util.Random, id: Int, client: Int,
               warmup: Boolean, startSec: Long, endSec: Long): RangeReq =
    RangeReq(id, client, warmup,
      g.counterNames(rnd.nextInt(g.counterNames.size)), startSec, endSec)

  /** A `lenSec` range ending on a minute boundary in [lo + lenSec, hi]. */
  def range(rnd: java.util.Random, lo: Long, hi: Long,
            lenSec: Long): (Long, Long) = {
    val first = (lo + lenSec + 59) / 60
    val last = hi / 60
    require(last >= first, "store too short for the query range")
    val end = (first + rnd.nextInt((last - first + 1).toInt)) * 60
    (end - lenSec, end)
  }
}
