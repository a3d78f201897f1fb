package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Fixture-table loaders.
  *
  * The reference library has no built-in sources — every source is a
  * user-coded `StartFunc` (/root/reference/pipe/node.go:14). Our engine's
  * sources are Spark's native readers; this object centralizes the driver
  * fixture layout (`TESTDATA.md`): one parquet file per table under a
  * scale-factor directory (or a Spark-written directory of part files,
  * `DevScaleFixture`'s layout).
  *
  * Every fixture read goes through [[read]] / [[schemaOf]]: the schema
  * comes from the file's parquet footer, read on the driver and converted
  * by Spark's own footer-to-schema code under the session's conf, and is
  * handed to the reader. A bare `spark.read.parquet(path)` infers the same
  * schema with a one-task Spark job (about 77 ms on `local[4]`, against
  * 7–12 ms for the footer read), which every query paid before its real
  * work started. There is
  * deliberately no memo: a footer read is cheap, and a JVM-wide memo would
  * serve a stale schema once a fixture is regenerated in place.
  *
  * Scale note: `spark.read.parquet` yields one task per parquet row-group /
  * `maxPartitionBytes` split, so the same call scales from 6k rows (sf0.001)
  * to 100 TB — partitioning comes from the source layout, never from
  * driver-side logic here.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** The footer Spark infers a fixture's schema from: the file itself, or
    * for a directory of part files its first data file by name (Spark
    * reads one data file's footer when `mergeSchema` is off; the part
    * files of one write share their schema). */
  private def footer(s: SparkSession, path: String): Footer = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    val file = if (!st.isDirectory) st else {
      val data = fs.listStatus(p).filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      require(data.nonEmpty, s"no parquet data file in $path")
      data.minBy(_.getPath.getName)
    }
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    try new Footer(file.getPath, r.getFooter) finally r.close()
  }

  private def storesNanos(f: Footer): Boolean =
    f.getParquetMetadata.getFileMetaData.getSchema.getColumns.asScala.exists(
      _.getPrimitiveType.getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      })

  /** The schema `spark.read.parquet(path)` would infer, read from the
    * footer on the driver: no Spark job. A TIMESTAMP(NANOS) column (the
    * older `events.ts` vintage) is unreadable unless the session decodes
    * it as a raw long, so only for such a file is
    * `spark.sql.legacy.parquet.nanosAsLong` set on `s`; a MICROS fixture
    * leaves the caller's conf untouched. */
  def schemaOf(s: SparkSession, path: String): StructType = {
    val f = footer(s, path)
    if (storesNanos(f)) s.conf.set(NanosAsLong, "true")
    CatalystBridge.parquetSchema(s, f)
  }

  /** A raw fixture scan with its footer schema ([[schemaOf]]). */
  def read(s: SparkSession, path: String): DataFrame =
    s.read.schema(schemaOf(s, path)).parquet(path)

  /** Read a fixture table. The driver fixtures are single-row-group
    * parquet files, which Spark cannot split — a raw scan would run the
    * entire downstream pipeline in ONE task. On a real 100 TB layout the
    * source has thousands of row-groups and this branch never fires; for
    * the local fixtures we redistribute once so every core participates.
    * Hash-partitioning on the leading (key) column avoids the local sort
    * that round-robin repartitioning inserts. */
  private val scanParts =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = read(spark, path)
    val p = spark.sparkContext.defaultParallelism
    // The probe builds a physical plan — cache it per path.
    val n = scanParts.computeIfAbsent(path, _ => df.rdd.getNumPartitions)
    if (n >= p) df
    else df.repartition(p, org.apache.spark.sql.functions.col(df.columns.head))
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** Normalize `events.ts` to session-TZ TIMESTAMP regardless of fixture
    * vintage. The driver has shipped `events.parquet` with `ts` as parquet
    * TIMESTAMP(NANOS) (which Spark's vectorized reader rejects —
    * PARQUET_TYPE_ILLEGAL — unless read as raw long via the legacy conf) and
    * later as TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ under Spark 4's NTZ
    * inference). Branch on the *loaded* dataType so either vintage works:
    *   - LongType (nanos-as-long): `timestamp_micros(ts div 1000)` —
    *     integer divide, NOT `/1000` (double division loses precision above
    *     2^53, and epoch-nanos ≈ 1.7e18);
    *   - TIMESTAMP_NTZ: cast to TIMESTAMP — session TZ is UTC, so the
    *     instant and all downstream output schemas are preserved;
    *   - TIMESTAMP: already the engine-facing type; no-op.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.ts has unsupported parquet-loaded type $other")
    }
  }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
