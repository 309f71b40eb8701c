package graft.summary

import graft.core.{Q, Tables}
import graft.write.{CountCheck, SummaryBuilder, SummarySpec}
import org.apache.spark.sql.SparkSession
import java.nio.file.Files

/** The reference's three golden summary pipelines (config/mau_summary.py,
  * config/nps_summary.py, config/channel_summary.py), declared as plain Scala
  * specs (C9 — never the reference's `eval` of config files,
  * plugins/redshift_summary.py:18-33) and built through the full W5 flow:
  * input gates → CTAS → output gates → atomic manifest promote.
  *
  * Each declared query runs the whole flow into a fresh warehouse dir and
  * returns the *promoted* table read back through the manifest, so a
  * CORRECTNESS pass certifies the gates and the swap, not just the SQL.
  */
object Golden {

  /** mau_summary (config/mau_summary.py:4-28): month × COUNT(DISTINCT user). */
  def mauSpec: SummarySpec = SummarySpec(
    table = "mau_summary",
    mainSql = """SELECT date_format(ts, 'yyyy-MM') AS month,
                |       count(DISTINCT user_id) AS mau
                |FROM events GROUP BY 1""".stripMargin,
    inputChecks = Seq(CountCheck("SELECT count(1) FROM events", 100)),
    outputChecks = Seq((_.count(), 1L, ">=")))

  /** nps_summary (config/nps_summary.py:4-25): conditional SUM(CASE)::float,
    * ROUND(x,2), no-ELSE CASE (NULLs ignored by SUM).
    */
  def npsSpec: SummarySpec = SummarySpec(
    table = "nps_summary",
    mainSql = """SELECT date_format(ts, 'yyyy-MM-dd') AS date,
                |  round(cast(sum(CASE WHEN value >= 300 THEN 1
                |                      WHEN value <= 100 THEN -1 END) AS double)
                |        * 100 / count(1), 2) AS nps
                |FROM events GROUP BY 1""".stripMargin,
    inputChecks = Seq(CountCheck("SELECT count(1) FROM events", 100)),
    outputChecks = Seq((_.count(), 12L, ">=")))

  /** channel_summary (config/channel_summary.py:4-29): FIRST/LAST_VALUE over
    * the explicit full frame (the frame is load-bearing for LAST_VALUE), then
    * DISTINCT — the reference's literal form.
    */
  def channelSpec: SummarySpec = SummarySpec(
    table = "channel_summary",
    mainSql = """SELECT DISTINCT user_id,
                |  first_value(event_type) OVER w AS first_et,
                |  last_value(event_type) OVER w AS last_et
                |FROM events
                |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    inputChecks = Seq(CountCheck("SELECT count(1) FROM events", 100)),
    outputChecks = Seq((_.count(), 7L, ">=")))

  /** Dependency-ordered spec list (Build_Summary_v3.py:32-36's tables_load). */
  def all: Seq[SummarySpec] = Seq(mauSpec, npsSpec, channelSpec)

  private def buildOne(s: SparkSession, d: String, spec: SummarySpec) = {
    val wh = Files.createTempDirectory("graft-wh").toString
    // the events view is scoped to the build (registered by the builder,
    // dropped after) — no session-global name leaks into later queries
    new SummaryBuilder(s, wh)
      .build(spec.copy(inputs = Map("events" -> Tables.events(s, d))))
      .read()
  }

  val queries: Seq[Q] = Seq(
    Q("q35_summary_mau",
      """SELECT strftime(ts, '%Y-%m') AS month, count(DISTINCT user_id) AS mau
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      buildOne(s, d, mauSpec).orderBy("month")
    },

    Q("q36_summary_nps",
      """SELECT strftime(ts, '%Y-%m-%d') AS date,
        | round(CAST(sum(CASE WHEN value >= 300 THEN 1 WHEN value <= 100 THEN -1 END) AS DOUBLE)
        |       * 100 / count(1), 2) AS nps
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      buildOne(s, d, npsSpec).orderBy("date")
    },

    Q("q37_summary_channel",
      """SELECT DISTINCT user_id,
        | first_value(event_type) OVER w AS first_et,
        | last_value(event_type) OVER w AS last_et
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      buildOne(s, d, channelSpec).orderBy("user_id")
    },
  )
}
