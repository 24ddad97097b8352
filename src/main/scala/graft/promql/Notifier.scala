package graft.promql

import graft.promql.AstJson.jsonStr
import org.apache.spark.sql.DataFrame

/** Alertmanager notification — the half of Prometheus's rule loop the
  * rules engine was missing: FIRING alerts POST to Alertmanager's
  * `/api/v2/alerts` (the JSON array every Alertmanager ≥ 0.16 accepts),
  * so alerts actually page instead of only rendering on /api/v1/alerts.
  *
  * Evaluation is [[Rules.alertStatesAt]] — the exact frame the rules
  * API serves, so what pages and what the UI shows can never disagree.
  * Only `firing` alerts post (Prometheus holds pending back too);
  * `startsAt` is the contiguous-run start the same replay derives.
  * The alert-set is rule-output-sized (bounded by the series budget
  * discipline upstream), so the collect and one POST per group are
  * driver-sized by construction.
  */
object Notifier {

  /** The v2 alerts payload for one group at one instant — pure, so the
    * spec and the entry pin the exact JSON that goes on the wire. */
  def alertsJson(store: DataFrame, group: Rules.RuleGroup, atSec: Long,
                 lookbackSec: Long = 300L): String = {
    val alerts = group.alerts.flatMap { rule =>
      Rules.alertStatesAt(store, rule, atSec, group.intervalSec,
          lookbackSec)
        .filter(org.apache.spark.sql.functions.col("state") === "firing")
        .collect().toSeq
        .map { r =>
          val kvs = r.getAs[scala.collection.Seq[String]]("tags")
            .map { kv =>
              val i = kv.indexOf('=')
              kv.substring(0, i) -> kv.substring(i + 1)
            }
          val labels = kvs
            .map { case (k, v) => jsonStr(k) + ":" + jsonStr(v) }
            .mkString("{", ",", "}")
          // annotations expand PER INSTANCE: {{ $labels.x }}/{{ $value }}
          // against this alert's label set and current value
          val labelMap = kvs.toMap
          val value = r.getAs[Double]("value")
          val annotations = rule.annotations.sortBy(_._1)
            .map { case (k, tmpl) =>
              jsonStr(k) + ":" + jsonStr(Rules.expandTemplate(tmpl, labelMap, value))
            }.mkString("{", ",", "}")
          val startsAt = java.time.Instant
            .ofEpochSecond(r.getAs[Long]("activeAt")).toString
          s"""{"labels":$labels,"annotations":$annotations,""" +
            s""""startsAt":${jsonStr(startsAt)},"generatorURL":""}"""
        }
    }
    alerts.sorted.mkString("[", ",", "]")
  }

  /** Evaluate every group at `atSec` and POST the firing set — returns
    * the number of alerts sent. An unreachable Alertmanager raises (the
    * caller decides whether that is fatal; the serve loop logs and
    * retries on its next tick, Prometheus's behavior).
    */
  def notifyOnce(store: DataFrame, groups: Seq[Rules.RuleGroup],
                 alertmanagerUrl: String, atSec: Long,
                 lookbackSec: Long = 300L): Int = {
    var sent = 0
    groups.foreach { g =>
      val json = alertsJson(store, g, atSec, lookbackSec)
      if (json != "[]") {
        val url = alertmanagerUrl.stripSuffix("/") + "/api/v2/alerts"
        val conn = java.net.URI.create(url).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        try {
          conn.setRequestMethod("POST")
          conn.setRequestProperty("Content-Type", "application/json")
          conn.setDoOutput(true)
          val bytes = json.getBytes("UTF-8")
          conn.setFixedLengthStreamingMode(bytes.length)
          conn.getOutputStream.write(bytes)
          conn.getOutputStream.close()
          val code = conn.getResponseCode
          if (code / 100 != 2)
            throw new java.io.IOException(
              s"alertmanager returned $code for group '${g.name}'")
          sent += countAlerts(json)
        } finally conn.disconnect()
      }
    }
    sent
  }

  private def countAlerts(json: String): Int =
    // one object per alert at top level: count '{"labels"' openings
    "\\{\"labels\"".r.findAllIn(json).length
}
