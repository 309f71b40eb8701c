package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.core.{Q, Tables}
import graft.run.{Job, JobRunner, RetryPolicy, RunContext}
import graft.summary.Golden
import graft.write.{SummaryBuilder, VersionedTable}
import org.apache.spark.sql.{Row, SparkSession}

/** `etl_load`: the reference's load semantics on long-lived tables, one
  * [[JobRunner]] chain per seeded daily batch:
  *
  *  - `orders`: keyed upsert of changed and new order keys (W4);
  *  - `events`: incremental latest-wins dedup of new and redelivered
  *    events (W3);
  *  - `events_log`: append version of the raw batch (`stageAppend` +
  *    `promote`);
  *  - the three golden summaries: validated CTAS with input and output
  *    count gates, then an atomic swap (W5);
  *  - every second day, from the first, `compactIfNeeded` on the log
  *    and a `vacuum` of every table;
  *  - reads, in a seeded order: a read-back of each current version, and
  *    four of the engine's registered SQL reports over the base tables.
  *
  * Writes are every step that commits; reads are read-backs and reports.
  */
final class EtlLoad(spark: SparkSession, runDir: String, manifest: JsonNode,
                    rec: Recorder) extends Workload {
  private val in = s"$runDir/in"
  private val base = manifest.get("base").asText()
  private val days = manifest.get("days").asScala.toSeq
  private val baseRows = Map("orders" -> manifest.get("base_rows").get("orders").asLong(),
    "events" -> manifest.get("base_rows").get("events").asLong())

  /** One report per module of the SQL operator surface. */
  val reports: Seq[Q] = {
    val all = graft.ops.Relational.queries ++ graft.ops.Extended.queries ++
      graft.ops.Temporal.queries ++ graft.ops.Behavioral.queries
    Seq("q01_pricing_summary", "q53_rollup", "q168_rolling_revenue", "q161_funnel")
      .map(n => all.find(_.name == n).getOrElse(sys.error(s"no query $n")))
  }
  private val firstResult = scala.collection.mutable.LinkedHashMap.empty[String, (Seq[Row], org.apache.spark.sql.types.StructType)]

  private var wh: String = _
  private var orders: VersionedTable = _
  private var events: VersionedTable = _
  private var log: VersionedTable = _
  private var summaries: Seq[(String, VersionedTable)] = Nil
  private val runner = new JobRunner(RetryPolicy(retries = 0, delayMillis = 0L))

  def rounds: Int = days.size
  def roundSeconds: Double = 8.0

  /** Writes the three tables from the base tables and builds the
    * summaries over them, then reads every table back and runs each report
    * once, so the timed days do not pay first-use costs.
    */
  def setup(dir: String): Unit = {
    wh = dir
    orders = new VersionedTable(spark, s"$dir/orders")
    events = new VersionedTable(spark, s"$dir/events")
    log = new VersionedTable(spark, s"$dir/events_log")
    orders.fullRefresh(Tables.orders(spark, base))
    events.fullRefresh(Tables.events(spark, base))
    log.fullRefresh(Tables.events(spark, base))
    val builder = new SummaryBuilder(spark, dir)
    summaries = Golden.all.map { spec =>
      spec.table -> builder.build(spec.copy(inputs = Map("events" -> events.read())))
    }
    (Seq(orders, events, log) ++ summaries.map(_._2)).foreach(_.read().count())
    reports.foreach(_.fn(spark, base).collect())
  }

  private def expectedRows(name: String, day: Int): Option[Long] = {
    def sum(f: String) = days.take(day + 1).map(_.get(f).asLong()).sum
    val perDay = manifest.get("etl")
    name match {
      case "orders" => Some(baseRows("orders") + (day + 1) * perDay.get("new_orders").asLong())
      case "events" => Some(baseRows("events") + (day + 1) * perDay.get("new_events").asLong())
      case "events_log" => Some(baseRows("events") + sum("events_rows"))
      case _ => None
    }
  }

  def round(d: Int): Unit = {
    val dayDir = f"$in/day$d%03d"
    // batch inputs resolve before the clock starts
    val ordersB = Tables.orders(spark, dayDir)
    val eventsB = Tables.events(spark, dayDir)
    def step(kind: String, cls: String, target: String)(body: => Unit): Job =
      Job(s"$kind.$target", _ => if (!rec.op(s"etl.$kind", cls, target)(body))
        throw new StepFailed(s"$kind.$target"))
    val builder = new SummaryBuilder(spark, wh)
    val writes = Seq(
      step("upsert", "write", "orders") {
        rec.call("VersionedTable.upsert")(orders.upsert(ordersB, Seq("o_orderkey")))
      },
      step("dedup", "write", "events") {
        rec.call("VersionedTable.incrementalDedup")(
          events.incrementalDedup(eventsB, Seq("event_id"), Seq("ts")))
      },
      step("append", "write", "events_log") {
        val v = rec.call("VersionedTable.stageAppend")(log.stageAppend(eventsB))
        rec.call("VersionedTable.promote")(log.promote(v))
      }) ++ Golden.all.map { spec =>
      step("summary", "write", spec.table) {
        val current = rec.call("VersionedTable.read")(events.read())
        rec.call("SummaryBuilder.build")(
          builder.build(spec.copy(inputs = Map("events" -> current))))
      }
    } ++ (if (d % 2 == 0) Seq(
      step("compact", "write", "events_log") {
        rec.call("VersionedTable.compactIfNeeded")(log.compactIfNeeded(2))
      },
      step("vacuum", "write", "all") {
        rec.call("VersionedTable.vacuum") {
          (Seq(orders, events, log) ++ summaries.map(_._2)).foreach(_.vacuum(keep = 2))
        }
      }) else Nil)
    val readBacks = (Seq("orders" -> orders, "events" -> events, "events_log" -> log) ++
      summaries).map { case (name, t) =>
      step("read_back", "read", name) {
        val df = rec.call("VersionedTable.read")(t.read())
        val n = rec.call("Dataset.count")(df.count())
        expectedRows(name, d) match {
          case Some(want) => Check(n == want, s"$name has $n rows, expected $want")
          case None => Check(n > 0, s"$name is empty")
        }
      }
    }
    val reportSteps = reports.map { q =>
      step("report", "read", q.name) {
        val df = rec.call("Q.fn")(q.fn(spark, base))
        rec.call("QueryExecution.executedPlan")(df.queryExecution.executedPlan)
        val rows = rec.call("Dataset.collect")(df.collect()).toSeq
        firstResult.get(q.name) match {
          case None => firstResult(q.name) = (rows, df.schema)
          case Some((first, _)) =>
            Check(rows == first, s"${q.name} differs from its first execution")
        }
      }
    }
    val reads = readBacks ++ reportSteps
    val order = manifest.get("order").get(d).asScala.map(_.asInt()).toSeq
    try runner.runChain(RunContext(spark, java.time.LocalDate.of(2024, 2, 1).plusDays(d)),
      writes ++ order.map(reads): _*)
    catch { case _: StepFailed => () } // the failed op is already recorded
  }

  def finish(dir: String): Map[String, Any] = {
    val tables = Seq("orders" -> orders, "events" -> events, "events_log" -> log) ++ summaries
    tables.foreach { case (name, t) => t.read().write.parquet(s"$dir/$name") }
    firstResult.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.parquet(s"$dir/report_$name")
    }
    Map(
      "live_bytes" -> tables.map { case (n, _) => Main.parquetBytes(s"$dir/$n") }.sum,
      "tables" -> tables.map(_._1),
      "reports" -> reports.map(q => q.name -> q.oracle.getOrElse("")).toMap,
      "summary_sql" -> Golden.queries.map(q => q.name -> q.oracle.getOrElse("")).toMap)
  }
}

final class StepFailed(name: String) extends RuntimeException(s"step $name failed")
