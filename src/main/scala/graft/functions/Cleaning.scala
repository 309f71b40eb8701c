package graft.functions

import graft.core.{Q, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Value-cleaning column functions from the reference's ingestion layer — all
  * native expressions (codegen'd), never UDFs.
  *
  * Reference: percent-string → fraction (`p2f`, plugins/gsheet.py:38-39) and
  * `$`/`,`-polluted numerics (plugins/gsheet.py:143-144).
  */
object Cleaning {

  /** "50%" -> 0.5 (reference p2f). */
  def percentToFraction(c: Column): Column =
    regexp_replace(c, "%", "").cast("double") / 100

  /** "$1,234.50" -> 1234.5 (reference replace_dollar_comma). */
  def stripDollarComma(c: Column): Column =
    regexp_replace(c, "[$,]", "").cast("double")

  val queries: Seq[Q] = Seq(
    // Round-trip the cleaning functions over synthesized dirty strings so the
    // oracle can verify them ('%'-suffixed and '$'-prefixed ints).
    Q("q18_cleaning",
      """SELECT p_partkey,
        | CAST(regexp_replace(p_size || '%', '%', '', 'g') AS DOUBLE) / 100 AS frac,
        | CAST(regexp_replace('$' || p_size || ',000', '[$,]', '', 'g') AS DOUBLE) AS amount
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        percentToFraction(concat(col("p_size"), lit("%"))).as("frac"),
        stripDollarComma(concat(lit("$"), col("p_size"), lit(",000"))).as("amount"))
        .orderBy("p_partkey")
    },
  )
}
