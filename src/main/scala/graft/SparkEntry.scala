package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator family's registry; each entry is a
  * pure `(SparkSession, sfDir) => DataFrame`. `oracleSql` carries the
  * DuckDB-equivalent ANSI SQL for the hash-compare gate (omitted entries
  * get a rows-only check).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The minigrep analog (SURVEY.md §3.3): scan documents, regex-filter,
    * project — the reference tutorial's whole program as one declarative
    * plan (/root/reference/tutorial/minigrep/minigrep.go:117-144). */
  def entry(spark: SparkSession): DataFrame =
    graft.pipeline.MiniGrep.run(spark, "/root/testdata/sf0.001", "spark")

  /** The one SparkSession builder, shared by the mains (Bench, Verify,
    * Smoke, DevScaleFixture) and the test base: `local[cpus]` with the
    * shuffle width matched to it, UTC, no UI, WARN logging, and a
    * generated-code cache sized for the registry ([[CodegenCacheEntries]]). */
  private[graft] def localSession(cpus: String,
      appName: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    val s = appName.fold(b)(b.appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Entries of Spark's JVM-wide generated-class cache (a static conf,
    * so only the builder can set it; Spark's default is 100). The seven
    * `llm_curation` queries alone need 125 classes, so at the default
    * every warm pass recompiled 82–97 of them (about 1 s of Janino time).
    * One `Verify` pass over the whole registry at sf0.01 compiles 4,245
    * classes with this cache, so it holds a pass with room to spare. */
  private[graft] val CodegenCacheEntries = 8192

  /** The mains' width: 32 per the target environment (local[32]);
    * SPARK_GRAFT_CPUS overrides for constrained dev runs. */
  private[graft] def harnessCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.operators.Relational.queries ++
    graft.operators.Advanced.queries ++
    graft.operators.Dedup.queries ++
    graft.operators.Similarity.queries ++
    graft.operators.TextAnalysis.queries ++
    graft.operators.Bpe.queries ++
    graft.operators.Multimodal.queries ++
    graft.operators.Profile.queries ++
    graft.operators.Curation.queries ++
    graft.operators.Incremental.queries ++
    graft.sources.FormatsIO.queries ++
    graft.streaming.Streams.queries ++
    graft.pipeline.PipelineQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.operators.Relational.oracleSql ++
    graft.operators.Advanced.oracleSql ++
    graft.operators.Dedup.oracleSql ++
    graft.operators.Similarity.oracleSql ++
    graft.operators.TextAnalysis.oracleSql ++
    graft.operators.Bpe.oracleSql ++
    graft.operators.Multimodal.oracleSql ++
    graft.operators.Profile.oracleSql ++
    graft.operators.Curation.oracleSql ++
    graft.operators.Incremental.oracleSql ++
    graft.sources.FormatsIO.oracleSql ++
    graft.streaming.Streams.oracleSql ++
    graft.pipeline.PipelineQueries.oracleSql
}
