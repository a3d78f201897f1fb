package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // Optional third arg (dev only): comma-separated name prefixes to run
    // a subset — the driver always calls with two args (all queries).
    val prefixes = if (args.length > 2) args(2).split(",").toSeq else Seq("")
    val spark = SparkEntry.localSession(SparkEntry.harnessCpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => prefixes.exists(name.startsWith) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    spark.stop()
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The full oracle registry as the driver-shaped JSON object —
    * shared by [[main]] and the in-tree type-contract spec so the two
    * can never dump different registries. */
  private[graft] def oracleJson: String = SparkEntry.oracleSql
    .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
}
