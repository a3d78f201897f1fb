package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.sources.Scratch

/** Registered queries driven through the Layer-1 Pipes DSL — the
  * reference's flagship DIAMOND deployment shape
  * (/root/reference/pipe/node_test.go:47-77): one start, a shared middle
  * whose output fans out to two independent branches, each draining into
  * its own sink, all launched concurrently by one Runner.
  *
  * PipesSpec proves the DSL mechanics (fan-out fidelity, lifecycle);
  * this registers the deployment shape itself as an oracle-checked query:
  * the shared subtree is materialized ONCE (the F4 broadcast-fidelity rule),
  * both sinks are real parquet writers running concurrently via
  * one Runner.run(), and the query's result is the union of what the
  * two sinks actually WROTE — so the driver's hash gate checks the whole
  * pipeline end to end, not a DataFrame that merely resembles it.
  *
  * Scale: the fan-out relation is MEMORY_AND_DISK on the cleaned
  * projection (columns the branches need, not full text); each branch is
  * an independent partial-aggregated groupBy; the sinks write
  * distributed. Nothing here is fixture-shaped.
  */
object PipelineQueries {

  /** Drain a streaming Dataset into a memory sink (the one bounded run,
    * `Streams.runToTable`), then persist the drained table to `out` — the
    * sink shape pp02's FinalFns use. */
  private def drainTo(ds: DataFrame, out: String): Unit =
    graft.streaming.Streams.runToTable(ds, OutputMode.Complete())
      .write.mode("overwrite").parquet(out)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- The diamond again, UNBOUNDED: the reference's model is
    //    stream-first (every node consumes a channel, pipe/node.go:12-13)
    //    and its diamond test runs on an unbounded generator — pp02 is
    //    that deployment shape on Structured Streaming. A file-stream
    //    START node (ChannelBufferLen → maxFilesPerTrigger, the F11
    //    knob), a shared normalize middle, fan-out to two independent
    //    windowless aggregations, each drained by its own FinalFn —
    //    Runner.run() launches both streaming queries CONCURRENTLY.
    //    Streaming fan-out fidelity comes from source replay, not a
    //    cache (see PipelineBuilder.build step 5). Result = union of
    //    both sink relations; oracle = the two batch aggregations.
    "pp02_stream_diamond" -> ((s0, d) => {
      // Both diamond branches are stateful complete-mode aggregations:
      // every state shard pays a per-trigger store load + delta-commit,
      // so they run at the tuned state-shard width, not the session's
      // CPU width (the st12/st13 discipline — 32 shards × 2 queries of
      // store lifecycle dominated the trigger).
      val s = graft.streaming.Streams.stateTuned(s0)
      val outA = Scratch.fresh(s, d, "pp02_by_type")
      val outB = Scratch.fresh(s, d, "pp02_by_user")
      val schema = graft.sources.Tables.schemaOf(s, s"$d/events.parquet")
      val b = new PipelineBuilder(s, Pipes.ChannelBufferLen(1))
      val start = b.addFileStreamStart("events", d, schema, "events.parquet")
      val norm = b.addMiddle[Row, Row]("normalize", ds =>
        graft.sources.Tables.normalizeEventTs(ds.toDF())
          .asInstanceOf[org.apache.spark.sql.Dataset[Row]])
      val byType = b.addMiddle[Row, Row]("by_type", ds =>
        ds.toDF().groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(graft.Exprs.cents(col("value"))).as("v"))
          .select(lit("by_type").as("metric"), col("event_type").as("k"),
            col("n"), col("v"))
          .asInstanceOf[org.apache.spark.sql.Dataset[Row]])
      val byUser = b.addMiddle[Row, Row]("by_user", ds =>
        ds.toDF().groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum(graft.Exprs.cents(col("value"))).as("v"))
          .select(lit("by_user").as("metric"),
            col("user_id").cast("string").as("k"), col("n"), col("v"))
          .asInstanceOf[org.apache.spark.sql.Dataset[Row]])
      val sinkA = b.addFinal[Row]("sink_a", ds => drainTo(ds.toDF(), outA))
      val sinkB = b.addFinal[Row]("sink_b", ds => drainTo(ds.toDF(), outB))
      b.sendTo(start, norm)
      b.sendTo(norm, byType, byUser) // streaming fan-out (F4 via replay)
      b.sendTo(byType, sinkA)
      b.sendTo(byUser, sinkB)
      val runner = b.build().fold(e => throw e, identity)
      runner.run() // two concurrent streaming queries
      s.read.parquet(outA).unionByName(s.read.parquet(outB))
    }),

    "pp01_fanout_diamond" -> ((s, d) => {
      val outA = Scratch.fresh(s, d, "pp01_by_source")
      val outB = Scratch.fresh(s, d, "pp01_by_lang")
      val b = new PipelineBuilder(s)
      val start = b.addStart[Row]("docs",
        sp => graft.sources.Tables.documents(sp, d).asInstanceOf[org.apache.spark.sql.Dataset[Row]])
      // Shared middle: 2 downstream consumers → build() materializes it once.
      val clean = b.addMiddle[Row, Row]("clean", ds =>
        ds.toDF().filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .asInstanceOf[org.apache.spark.sql.Dataset[Row]])
      val bySource = b.addMiddle[Row, Row]("by_source", ds =>
        ds.toDF().groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .select(lit("by_source").as("metric"), col("source").as("k"),
            col("n_docs"), col("sum_chars"))
          .asInstanceOf[org.apache.spark.sql.Dataset[Row]])
      val byLang = b.addMiddle[Row, Row]("by_lang", ds =>
        ds.toDF().groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .select(lit("by_lang").as("metric"), col("lang").as("k"),
            col("n_docs"), col("sum_chars"))
          .asInstanceOf[org.apache.spark.sql.Dataset[Row]])
      val sinkA = b.addFinal[Row]("sink_a",
        ds => ds.toDF().write.mode("overwrite").parquet(outA))
      val sinkB = b.addFinal[Row]("sink_b",
        ds => ds.toDF().write.mode("overwrite").parquet(outB))
      b.sendTo(start, clean)
      b.sendTo(clean, bySource, byLang) // the fan-out edge (F4)
      b.sendTo(bySource, sinkA)
      b.sendTo(byLang, sinkB)
      val runner = b.build().fold(e => throw e, identity)
      runner.run() // start() both sinks concurrently, done() blocks
      s.read.parquet(outA).unionByName(s.read.parquet(outB))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "pp02_stream_diamond" ->
      """SELECT 'by_type' AS metric, event_type AS k, count(*) AS n,
                CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS v
         FROM events GROUP BY event_type
         UNION ALL
         SELECT 'by_user' AS metric, CAST(user_id AS VARCHAR) AS k, count(*) AS n,
                CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS v
         FROM events GROUP BY user_id""",
    "pp01_fanout_diamond" ->
      """SELECT 'by_source' AS metric, source AS k, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents WHERE len(trim(text)) > 0 GROUP BY source
         UNION ALL
         SELECT 'by_lang' AS metric, lang AS k, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents WHERE len(trim(text)) > 0 GROUP BY lang"""
  )
}
