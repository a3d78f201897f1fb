package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, Dataset, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.storage.StorageLevel

/** Column ⇄ catalyst Expression bridge. Spark 4 scopes these conversions
  * `private[sql]` (the Column API became backend-agnostic for Connect),
  * so third-party native expressions reach them from a package object
  * under `org.apache.spark.sql` — the standard extension-library trick.
  * This is the only file outside the `graft` namespace. */
object CatalystBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Fully convert a Column to a catalyst Expression (no lazy
    * ColumnNodeExpression wrapper). `expression` above defers conversion
    * to the Dataset API boundary — fine for expressions routed back
    * through select/filter, wrong for expressions embedded in a custom
    * LogicalPlan, which the converter never visits. */
  def convertedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Register a function builder on an already-built session (the
    * extensions route in GraftExtensions needs the session to be built
    * with the config; this covers attaching at runtime). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Wrap a logical plan as a DataFrame (Dataset.ofRows is private[sql];
    * custom logical nodes need this to re-enter the public Dataset API). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** THE way to share a subplan within a query (the pipes Forker: one
    * output, N readers). Materializes `ds` once, however many subtrees
    * or actions read the returned frame: an `InMemoryRelation` over the
    * frame's own query execution, NOT registered in the session's
    * CacheManager. The cached RDD keeps its lineage (a lost block is
    * recomputed), the subplan prints under every consumer's
    * `InMemoryTableScan`, and the RDD is persisted at the RDD level, so
    * the ContextCleaner drops its blocks once the returned frame is
    * unreachable; no caller releases anything, and no other frame (or
    * later query) can hit it, unlike `Dataset.persist`. Only readers of
    * the RETURNED frame share it. Lazy: the first action fills it.
    * Width: the relation keeps the frame's output partitioning and its
    * scan reports it, so a consumer joining on those keys plans no
    * exchange on that side, and AQE does not coalesce that stage. */
  def materialized[T](ds: Dataset[T]): Dataset[T] = {
    val r = InMemoryRelation(StorageLevel.MEMORY_AND_DISK, ds.queryExecution, None)
    // No output ordering: a relation read twice in one plan (self-join,
    // union) is deduplicated with `newInstance`, which renews the output
    // attributes but not the ordering's, and canonicalizing that copy
    // (any CacheManager lookup) then fails on the stale attribute.
    classic.Dataset(ds.sparkSession.asInstanceOf[classic.SparkSession],
      InMemoryRelation(r.output, r.cacheBuilder, Nil, r.statsOfPlanToCache))(ds.encoder)
  }

  /** Spark's own conversion of a parquet footer to the schema that
    * `spark.read.parquet` infers from it, under the session's SQL conf
    * (timestamp-NTZ inference, `nanosAsLong`, binary-as-string): the
    * Spark schema a Spark writer stored in the footer, else the converted
    * parquet schema. */
  def parquetSchema(spark: SparkSession,
      footer: org.apache.parquet.hadoop.Footer): org.apache.spark.sql.types.StructType =
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  /** Entries in the session's CacheManager (`Dataset.persist`/`CACHE TABLE`). */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries

  /** Unload every loaded state-store provider (in-memory state maps).
    * A finished AvailableNow query's providers otherwise stay loaded for
    * the life of the executor — harmless for one query, but a run that
    * executes MANY bounded streaming queries in one JVM (Verify/Bench)
    * accumulates every query's state in memory. Next streaming query
    * reloads its providers from checkpoint on demand. */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()
}
