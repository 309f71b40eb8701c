package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine query: the Spark implementation plus (when the
  * semantics are SQL-expressible) an equivalent DuckDB oracle over the same
  * parquet tables. Queries without an oracle get the driver's weaker
  * rows-only check.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))
}
