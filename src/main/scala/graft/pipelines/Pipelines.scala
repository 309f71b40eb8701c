package graft.pipelines

import graft.core.Tables
import graft.run.{Job, JobRunner, RunContext}
import graft.sources._
import graft.write.{VersionedTable, Writers}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.time.LocalDate

/** The reference's DAGs re-expressed as composed Spark jobs: source →
  * transform → idempotent write, each the full vertical slice of its layer
  * stack. Fixture-backed (the build is offline); the live fetchers slot in
  * through the same traits.
  *
  * Reference shapes:
  *  - NameGender  (NameGenderCSVtoRedshift*.py): HTTP CSV → full refresh (W1)
  *  - StockInfo   (UpdateSymbol.py v1–v3): API scan → full refresh /
  *    append+DISTINCT (W3 v2) / latest-wins + audit column (W3 v3)
  *  - Weather     (Weather_to_Redshift_v2.py): REST JSON → nested extraction →
  *    latest-wins incremental by date
  *  - Country     (UpdateCountry.py): REST JSON → nested extraction →
  *    full refresh
  */
object Pipelines {

  // ---- NameGender (W1, S1) -------------------------------------------------

  val nameGenderSchema: StructType = StructType(Seq(
    StructField("name", StringType), StructField("gender", StringType)))

  /** extract >> transform >> load (NameGenderCSVtoRedshift_v5.py:62-80). */
  def nameGender(spark: SparkSession, url: String, fetcher: Fetcher,
                 table: VersionedTable): Unit = {
    val raw = CsvSource.fromUrl(spark, url, nameGenderSchema, fetcher)
    val cleaned = raw.filter(col("name").isNotNull && col("gender").isNotNull)
    table.fullRefresh(cleaned)
  }

  // ---- StockInfo (W1/W3, S3) ----------------------------------------------

  /** v2 (UpdateSymbol_v2.py): incremental append + SELECT DISTINCT *. */
  def stockV2(spark: SparkSession, api: StockApi, symbols: Seq[String],
              table: VersionedTable): Unit = {
    val incoming = StockSource.bars(spark, api, symbols)
    val merged =
      if (table.exists) Writers.appendDistinct(table.read(), incoming) else incoming.distinct()
    table.fullRefresh(merged)
  }

  /** v3 (UpdateSymbol_v3.py): audit column + ROW_NUMBER latest-wins by
    * (symbol, date) ordered on created_date.
    */
  def stockV3(spark: SparkSession, api: StockApi, symbols: Seq[String],
              table: VersionedTable): Unit = {
    val incoming = Writers.withAudit(StockSource.bars(spark, api, symbols))
    table.incrementalDedup(incoming, keys = Seq("symbol", "date"),
      orderCols = Seq("created_date"))
  }

  // ---- Weather (W3, S2, P2, F8) -------------------------------------------

  val weatherSchema: StructType = StructType(Seq(
    StructField("daily", ArrayType(StructType(Seq(
      StructField("dt", LongType),
      StructField("temp", StructType(Seq(
        StructField("day", DoubleType),
        StructField("min", DoubleType),
        StructField("max", DoubleType))))))))))

  /** One-call JSON → per-day rows → latest-wins by date on created_date
    * (Weather_to_Redshift_v2.py:29-91).
    */
  def weather(spark: SparkSession, url: String, fetcher: Fetcher,
              table: VersionedTable): Unit = {
    val days = JsonSource.fromUrl(spark, url, weatherSchema, fetcher)
      .select(explode(col("daily")).as("d"))
      .select(
        to_date(timestamp_seconds(col("d.dt"))).as("date"),
        col("d.temp.day").as("temp"),
        col("d.temp.min").as("min_temp"),
        col("d.temp.max").as("max_temp"))
    table.incrementalDedup(Writers.withAudit(days),
      keys = Seq("date"), orderCols = Seq("created_date"))
  }

  // ---- Country (W2, S2, P2) -----------------------------------------------

  val countrySchema: StructType = StructType(Seq(
    StructField("name", StructType(Seq(StructField("official", StringType)))),
    StructField("population", LongType),
    StructField("area", DoubleType)))

  /** restcountries scan → (official, population, area) → full refresh
    * (UpdateCountry.py:27-74).
    */
  def country(spark: SparkSession, url: String, fetcher: Fetcher,
              table: VersionedTable): Unit = {
    val rows = JsonSource.fromUrl(spark, url, countrySchema, fetcher)
      .select(col("name.official").as("country"), col("population"), col("area"))
    table.fullRefresh(rows)
  }

  // ---- Run-date incremental (P4/C8) ---------------------------------------

  /** The reference's templated run-date predicate
    * (MySQL_to_Redshift_v2.py:36) as a typed parameter. Expressed as a
    * half-open timestamp range, NOT `to_date(col) = d`: a function over the
    * column defeats predicate pushdown, while plain bounds reach the parquet
    * scan as PushedFilters (asserted in PlanSpec) — at 100 TB that is the
    * difference between scanning one day and scanning the table.
    */
  def runDateSlice(df: DataFrame, dateCol: String, runDate: LocalDate): DataFrame = {
    val start = java.sql.Timestamp.valueOf(runDate.atStartOfDay)
    val end = java.sql.Timestamp.valueOf(runDate.plusDays(1).atStartOfDay)
    df.filter(col(dateCol) >= lit(start) && col(dateCol) < lit(end))
  }

  def incrementalByRunDate(source: DataFrame, table: VersionedTable,
                           dateCol: String, keys: Seq[String], ctx: RunContext): Unit =
    table.upsert(runDateSlice(source, dateCol, ctx.runDate), keys)

  // ---- Backfill / catchup (C8 completed) ----------------------------------

  /** Catchup/backfill driver — the scheduler half of run-date semantics the
    * reference leaves to Airflow (`catchup` + execution-date replay,
    * NameGenderCSVtoRedshift_v2.py:78-88): replay every run date in
    * [start, end] IN ORDER through a run-date job. A per-date manifest (a
    * keyed [[VersionedTable]], W4 upsert on `run_date`) records completed
    * runs with their execution count, so a re-invoked backfill — crash
    * recovery, an operator re-enabling a pipeline after a 3-day outage —
    * re-runs ONLY dates with no completed run; `force` re-executes anyway
    * (the manual re-run escape hatch) and bumps the recorded count. The
    * date job itself must be day-idempotent (W1–W5 land that contract);
    * the runner adds ordered replay + at-most-once-per-date on top.
    *
    * Scale shape: the manifest is one row per run date — metadata-sized
    * forever; the collect is bounded by the backfill window. Each day's
    * job is the ordinary daily plan (partition-scoped write), so a 3-year
    * backfill is 1,095 ordinary daily runs, not one giant union job — the
    * same reason Airflow replays execution dates instead of widening the
    * window.
    */
  final class BackfillRunner(spark: SparkSession, manifest: VersionedTable) {
    import spark.implicits._

    private def completed: Map[String, Long] =
      if (!manifest.exists) Map.empty
      else manifest.read().select("run_date", "n_runs")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    /** Returns the (date, seq) pairs actually executed, in replay order —
      * seq is that date's lifetime execution count after this run.
      */
    def backfill(start: LocalDate, end: LocalDate, force: Boolean = false)
                (job: (LocalDate, Long) => Unit): Seq[(LocalDate, Long)] = {
      require(!start.isAfter(end), s"backfill window $start..$end is empty")
      val done = completed
      val executed = Seq.newBuilder[(LocalDate, Long)]
      var d = start
      while (!d.isAfter(end)) {
        val prior = done.getOrElse(d.toString, 0L)
        if (prior == 0L || force) {
          val seq = prior + 1
          job(d, seq)
          // manifest write AFTER the job: a crash mid-job leaves the date
          // unrecorded and the next backfill re-runs it (at-least-once into
          // an idempotent day-write = exactly-once landing)
          manifest.upsert(Seq((d.toString, seq)).toDF("run_date", "n_runs"),
            Seq("run_date"))
          executed += d -> seq
        }
        d = d.plusDays(1)
      }
      executed.result()
    }
  }

  /** A full daily run wired through the JobRunner: the NameGender chain plus
    * a run-date incremental of events, with retry budget and failure
    * notification — the engine's answer to the reference's DAG defaults.
    */
  def dailyRun(spark: SparkSession, sfDir: String, warehouse: String,
               runner: JobRunner, runDate: LocalDate,
               fetcher: Fetcher, nameGenderUrl: String): Unit = {
    val ctx = RunContext(spark, runDate)
    runner.runChain(ctx,
      Job("name_gender", c => nameGender(c.spark, nameGenderUrl, fetcher,
        new VersionedTable(c.spark, s"$warehouse/name_gender"))),
      Job("events_increment", c => incrementalByRunDate(
        Tables.events(c.spark, sfDir),
        new VersionedTable(c.spark, s"$warehouse/events_daily"),
        "ts", Seq("event_id"), c)))
  }
}
