package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.round

/** Cross-cutting expression helpers shared by the operator families —
  * one definition so Spark queries and their DuckDB oracle twins can
  * never drift apart per file. */
object Exprs {

  /** Exact integer cents for a money column: per-row double→cents
    * rounding is deterministic across engines; the integer sum is
    * order-insensitive (exact), unlike a double sum. Scale note: sums
    * stay in 64-bit longs — 100 TB of lineitem revenue is ~1e17 cents,
    * still within Long range. DuckDB twin:
    * `CAST(round(x*100) AS BIGINT)`. */
  def cents(c: Column): Column = round(c * 100, 0).cast("long")

  /** `s.sql(text)` over frames bound to the view names the text reads.
    * The views exist only while the text is analyzed (the returned frame
    * holds its resolved plan), so the query leaves no temp view in the
    * caller's session. */
  def sqlOver(s: SparkSession, views: (String, DataFrame)*)(text: String): DataFrame = {
    views.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    try s.sql(text) finally views.foreach { case (n, _) => s.catalog.dropTempView(n) }
  }
}
