package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One module of the query registry: its named queries and, for those
  * DuckDB can express, the oracle SQL keyed by the same names. */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
