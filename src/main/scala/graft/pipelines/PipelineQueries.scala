package graft.pipelines

import graft.core.{Q, Tables}
import graft.run.{JobRunner, Notifier, RetryPolicy}
import graft.sources.{Fetcher, FixtureStockApi}
import graft.write.VersionedTable
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.time.LocalDate

object PipelineQueries {

  /** q44's oracle: the fixture bars are pure deterministic Scala, so the
    * expected table is computed here (same code path the query runs) and
    * embedded as a VALUES relation in the DuckDB SQL — upgrading q44 from a
    * rows-only check to a full value-level compare. CASTs pin DuckDB's
    * literal types (a bare 107.77 would bind as DECIMAL) to the Spark
    * output's DOUBLE/BIGINT.
    */
  private def stockOracleSql: String = {
    val api = new FixtureStockApi(days = 30)
    val bars = Seq("AAPL", "MSFT", "GOOG").flatMap(api.history)
    val values = bars.map(b =>
      s"('${b.symbol}', '${b.date}', ${b.open}, ${b.high}, ${b.low}, ${b.close}, ${b.volume})")
      .mkString(",\n")
    s"""SELECT symbol, "date", CAST(open AS DOUBLE) AS open, CAST(high AS DOUBLE) AS high,
       | CAST(low AS DOUBLE) AS low, CAST(close AS DOUBLE) AS close,
       | CAST(volume AS BIGINT) AS volume
       |FROM (VALUES
       |$values) t(symbol, "date", open, high, low, close, volume)
       |ORDER BY symbol, "date"""".stripMargin
  }

  /** q45's oracle: same idea — the synthetic 8-day weather payload below is
    * deterministic, so the expected rows are literal.
    */
  private def weatherOracleSql: String = {
    val values = (0 until 8).map { i =>
      val date = LocalDate.of(2024, 1, 1).plusDays(i)
      s"('$date', ${10 + i}.5, $i.0, ${20 + i}.0)"
    }.mkString(",\n")
    s"""SELECT "date", CAST(temp AS DOUBLE) AS temp, CAST(min_temp AS DOUBLE) AS min_temp,
       | CAST(max_temp AS DOUBLE) AS max_temp
       |FROM (VALUES
       |$values) t("date", temp, min_temp, max_temp)
       |ORDER BY "date"""".stripMargin
  }

  val queries: Seq[Q] = Seq(

    // The 100 TB daily-run shape end-to-end: two run-dates sliced from
    // events, each landed via dynamic partition overwrite (day 2 re-run to
    // prove partition-scoped idempotency), read back through the partitioned
    // table. Oracle = the same two days straight from the source.
    Q("q60_partitioned_daily",
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE CAST(ts AS DATE) = DATE '2024-01-10' OR CAST(ts AS DATE) = DATE '2024-01-11'
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val root = Files.createTempDirectory("graft-q60").toString
      val t = new graft.write.DatePartitionedTable(s, root)
      val events = Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "ts", "value")
      def run(day: LocalDate): Unit =
        t.writeRun(Pipelines.runDateSlice(events, "ts", day).drop("ts"), day)
      run(LocalDate.of(2024, 1, 10))
      run(LocalDate.of(2024, 1, 11))
      run(LocalDate.of(2024, 1, 11)) // idempotent re-run of day 2
      t.read()
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    },

    // Catchup/backfill (the reference's catchup=True half, completed): a
    // 5-day window replayed in order through the day-idempotent partitioned
    // write, stamping each landing with its execution count. The SAME window
    // backfilled again must be a manifest-skipped no-op (asserted in-query:
    // zero executions), and a forced re-run of one day bumps only that day's
    // count — so the run_seq column in the output certifies ordered replay,
    // the catchup skip, and the forced-rerun escape hatch in one hash: a
    // runner that re-executed a completed day (or skipped the forced one)
    // shifts run_seq somewhere and fails the compare.
    Q("q150_backfill",
      """SELECT event_id, user_id, event_type, value,
        | CASE WHEN CAST(ts AS DATE) = DATE '2024-01-12'
        |      THEN CAST(2 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS run_seq
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-14'
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val root = Files.createTempDirectory("graft-q150").toString
      val t = new graft.write.DatePartitionedTable(s, s"$root/events_daily")
      val runner = new Pipelines.BackfillRunner(s,
        new VersionedTable(s, s"$root/backfill_manifest"))
      val events = Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "ts", "value")
      def day(dte: LocalDate, seq: Long): Unit =
        t.writeRun(Pipelines.runDateSlice(events, "ts", dte).drop("ts")
          .withColumn("run_seq", lit(seq)), dte)
      val window = (LocalDate.of(2024, 1, 10), LocalDate.of(2024, 1, 14))
      val first = runner.backfill(window._1, window._2)(day)
      val second = runner.backfill(window._1, window._2)(day)
      require(first.map(_._1) == (0 to 4).map(window._1.plusDays(_)) &&
        first.forall(_._2 == 1L),
        s"backfill must replay every date once, in order: $first")
      require(second.isEmpty, s"catchup re-ran completed dates: $second")
      val forced = runner.backfill(LocalDate.of(2024, 1, 12),
        LocalDate.of(2024, 1, 12), force = true)(day)
      require(forced == Seq(LocalDate.of(2024, 1, 12) -> 2L),
        s"forced re-run must bump exactly one date: $forced")
      t.read()
        .select("event_id", "user_id", "event_type", "value", "run_seq")
        .orderBy("event_id")
    },

    // P4/C8 — the parameterized run-date predicate as a declared operator:
    // one day's slice of the events stream (the filter reaches the parquet
    // scan as a pushed predicate on the nanos column's derived date).
    Q("q43_rundate_filter",
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE CAST(ts AS DATE) = DATE '2024-01-15' ORDER BY event_id""".stripMargin) { (s, d) =>
      Pipelines.runDateSlice(Tables.events(s, d), "ts", LocalDate.of(2024, 1, 15))
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    },

    // S3/W3/F6/C1 — the stock v3 pipeline end-to-end, run TWICE to prove
    // idempotency: fixture bars → audit column → latest-wins by (symbol,
    // date) → versioned promote; the result is the promoted table, which
    // must hold exactly one row per (symbol, date).
    Q("q44_pipeline_stock", stockOracleSql) { (s, _) =>
      val wh = Files.createTempDirectory("graft-q44").toString
      val table = new VersionedTable(s, s"$wh/stock_info_v3")
      val api = new FixtureStockApi(days = 30)
      val symbols = Seq("AAPL", "MSFT", "GOOG")
      Pipelines.stockV3(s, api, symbols, table)
      Pipelines.stockV3(s, api, symbols, table) // rerun: latest-wins keeps one
      table.read()
        .select(col("symbol"), col("date").cast("string").as("date"),
          col("open"), col("high"), col("low"), col("close"), col("volume"))
        .orderBy("symbol", "date")
    },

    // S2/P2/F8/W3/C1/C5 — the weather pipeline end-to-end through the
    // JobRunner with a retry: the fetcher fails once (transient), the runner
    // retries, nested JSON becomes per-day rows, latest-wins on re-delivery.
    Q("q45_pipeline_weather", weatherOracleSql) { (s, _) =>
      val wh = Files.createTempDirectory("graft-q45").toString
      val table = new VersionedTable(s, s"$wh/weather")
      val days = (0 until 8).map { i =>
        s"""{"dt": ${1704067200L + i * 86400}, "temp": {"day": ${10 + i}.5, "min": ${i}.0, "max": ${20 + i}.0}}"""
      }.mkString(",")
      val payload = s"""{"daily": [$days]}"""
      var calls = 0
      val flaky: Fetcher = _ => { calls += 1; if (calls == 1) sys.error("transient"); payload }
      val runner = new JobRunner(RetryPolicy(retries = 1, delayMillis = 0),
        Notifier.noop, sleep = _ => ())
      runner.runChain(graft.run.RunContext(s, LocalDate.of(2024, 1, 1)),
        graft.run.Job("weather", c => Pipelines.weather(c.spark, "http://fixture/weather", flaky, table)))
      table.read()
        .select(col("date").cast("string").as("date"), col("temp"), col("min_temp"), col("max_temp"))
        .orderBy("date")
    },

    // Time travel, driver-certified (it was spec-only): version 0 is a full
    // refresh of the even-id docs, version 1 a W4 upsert that rewrites the
    // %4==0 rows and inserts the odd ids. The output is computed by DIFFING
    // the two version reads — readVersion(0) against read() — so it is
    // correct only if the promoted upsert left v0's directory byte-intact
    // and the manifest flip really is the only thing a write moves. The
    // oracle replays the id arithmetic; 'updated'/'added'/'unchanged' per
    // row must agree exactly.
    Q("q103_time_travel",
      """SELECT doc_id,
        | CASE WHEN doc_id % 2 = 1 THEN 'added'
        |      WHEN doc_id % 4 = 0 THEN 'updated'
        |      ELSE 'unchanged' END AS change
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val wh = Files.createTempDirectory("graft-q103").toString
      val table = new VersionedTable(s, s"$wh/docs")
      val docs = Tables.documents(s, d).select("doc_id", "text")
      table.fullRefresh(docs.filter(col("doc_id") % 2 === 0))
      val batch = docs.filter(col("doc_id") % 4 === 0)
        .withColumn("text", concat(col("text"), lit(" [v2]")))
        .unionByName(docs.filter(col("doc_id") % 2 === 1))
      table.upsert(batch, Seq("doc_id"))
      val v0 = table.readVersion(0).select(col("doc_id"), col("text").as("old_text"))
      table.read().join(v0, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("old_text").isNull, "added")
            .when(col("text") =!= col("old_text"), "updated")
            .otherwise("unchanged").as("change"))
        .orderBy("doc_id")
    },

    // SCD2 merge over the customer dimension. Seed: every key except the
    // %5==0 stratum, loaded 2024-01-01. Batch (effective 2024-06-01):
    // %3==0 keys arrive with a changed segment ('MOVED'), %7==0 keys
    // arrive unchanged (must no-op), and %15==0 keys are new to the
    // dimension. Open rows use the 9999-12-31 high-date sentinel so the
    // output carries no NULL dates; validity dates surface as ISO strings
    // (the driver compare is dtype-family-sensitive and DuckDB dates read
    // back as datetime64 where Spark parquet dates read as objects). The
    // oracle replays the same close/insert/survive case split declaratively.
    Q("q116_scd2",
      """WITH dim0 AS (
        |  SELECT c_custkey, c_name, c_mktsegment FROM customer
        |  WHERE c_custkey % 5 <> 0),
        | batch AS (
        |  SELECT c_custkey, c_name,
        |         CASE WHEN c_custkey % 3 = 0 THEN 'MOVED' ELSE c_mktsegment END
        |           AS c_mktsegment
        |  FROM customer WHERE c_custkey % 3 = 0 OR c_custkey % 7 = 0),
        | m AS (
        |  SELECT d.c_custkey AS dk, d.c_name AS dn, d.c_mktsegment AS dm,
        |         b.c_custkey AS bk, b.c_name AS bn, b.c_mktsegment AS bm
        |  FROM dim0 d FULL OUTER JOIN batch b ON d.c_custkey = b.c_custkey)
        |SELECT c_custkey, c_name, c_mktsegment,
        |       CAST(valid_from AS VARCHAR) AS valid_from,
        |       CAST(valid_to AS VARCHAR) AS valid_to, is_current
        |FROM (
        |  SELECT dk AS c_custkey, dn AS c_name, dm AS c_mktsegment,
        |         DATE '2024-01-01' AS valid_from,
        |         DATE '9999-12-31' AS valid_to, TRUE AS is_current
        |  FROM m WHERE dk IS NOT NULL AND (bk IS NULL OR (bn = dn AND bm = dm))
        |  UNION ALL
        |  SELECT dk, dn, dm, DATE '2024-01-01', DATE '2024-06-01', FALSE
        |  FROM m WHERE dk IS NOT NULL AND bk IS NOT NULL AND (bn <> dn OR bm <> dm)
        |  UNION ALL
        |  SELECT bk, bn, bm, DATE '2024-06-01', DATE '9999-12-31', TRUE
        |  FROM m WHERE bk IS NOT NULL AND (dk IS NULL OR bn <> dn OR bm <> dm))
        |ORDER BY c_custkey, valid_from""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).select("c_custkey", "c_name", "c_mktsegment")
      val dim0 = c.filter(col("c_custkey") % 5 =!= 0)
        .withColumn("valid_from", lit(java.sql.Date.valueOf("2024-01-01")))
        .withColumn("valid_to", lit(java.sql.Date.valueOf("9999-12-31")))
        .withColumn("is_current", lit(true))
      val batch = c.filter(col("c_custkey") % 3 === 0 || col("c_custkey") % 7 === 0)
        .withColumn("c_mktsegment",
          when(col("c_custkey") % 3 === 0, lit("MOVED")).otherwise(col("c_mktsegment")))
      graft.write.Writers.scd2Merge(dim0, batch,
          keys = Seq("c_custkey"), attrs = Seq("c_name", "c_mktsegment"),
          effective = lit(java.sql.Date.valueOf("2024-06-01")),
          openEnd = lit(java.sql.Date.valueOf("9999-12-31")))
        .withColumn("valid_from", col("valid_from").cast("string"))
        .withColumn("valid_to", col("valid_to").cast("string"))
        .orderBy("c_custkey", "valid_from")
    },

    // Retention vacuum on a patch chain that CROSSES the horizon: v0 full
    // (4 partitions), then three single-partition patches (p=1 +100,
    // p=2 +200, p=3 +300), vacuum(keep=2). Retained v2 still reaches p=3
    // under v0 and p=1 under v1, so vacuum must keep exactly those foreign
    // units while physically dropping v0's p=1/p=2 — the output then reads
    // BOTH retained versions after the deletes ran, so a unit vacuum
    // wrongly removed (or a read that stopped pruning through the
    // surviving chain) changes values and hash-fails. The expired reads
    // failing closed, the footprint counts, idempotence, and
    // vacuum-then-write are WritersSpec laws.
    Q("q227_retention_vacuum",
      """WITH base AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS p, n_chars AS m
        |              FROM documents),
        | v2 AS (SELECT doc_id, p,
        |          m + CASE p WHEN 1 THEN 100 WHEN 2 THEN 200 ELSE 0 END AS m
        |        FROM base),
        | v3 AS (SELECT doc_id, p,
        |          m + CASE p WHEN 1 THEN 100 WHEN 2 THEN 200 WHEN 3 THEN 300 ELSE 0 END AS m
        |        FROM base)
        |SELECT CAST(2 AS INT) AS version, doc_id, p, m FROM v2
        |UNION ALL SELECT CAST(3 AS INT), doc_id, p, m FROM v3
        |ORDER BY version, doc_id""".stripMargin) { (s, d) =>
      val wh = Files.createTempDirectory("graft-q227").toString
      val table = new VersionedTable(s, s"$wh/docs")
      val base = Tables.documents(s, d)
        .select(col("doc_id"), (col("doc_id") % 4).cast("int").as("p"),
          col("n_chars").as("m"))
      table.promote(table.stage(base, Seq("p")))
      Seq(1 -> 100, 2 -> 200, 3 -> 300).foreach { case (part, delta) =>
        table.promote(table.stagePatch(
          base.filter(col("p") === part).withColumn("m", col("m") + delta)))
      }
      table.vacuum(keep = 2)
      table.readVersion(2).withColumn("version", lit(2))
        .unionByName(table.readVersion(3).withColumn("version", lit(3)))
        .select(col("version"), col("doc_id"), col("p").cast("int").as("p"), col("m"))
        .orderBy("version", "doc_id")
    },
  )
}
