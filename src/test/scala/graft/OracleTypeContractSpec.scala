package graft

import org.apache.spark.sql.graft.CatalystBridge

/** THE TYPE CONTRACT, pinned in-tree: for every registered query, the
  * DuckDB logical types of the Spark output parquet must equal the
  * DuckDB logical types of its oracle SQL — the comparison the
  * driver's type-sensitive result hash performs implicitly.
  *
  * Why this gate exists: the driver's rows/schema checks are
  * width-tolerant but its hash is not, and the dev loop's value-based
  * compares could not see integer-width drift (DBAPI type codes
  * collapse BIGINT/HUGEINT/INTEGER into one NUMBER code). That blind
  * spot shipped the same one-line oracle bug driver-red in two
  * consecutive rounds (ta39/ta40: DuckDB promotes grouped/windowed
  * sum(BIGINT) to HUGEINT and the promotion rides `//` downstream,
  * while Spark emits BIGINT). This spec makes the class unshippable: a
  * NEW oracle whose types drift from its Spark query goes red in
  * `sbt test`, not in the driver's round report.
  *
  * Mechanics: every registered query runs at sf0.001 (construction +
  * one parquet write each — the smoke scale, so the whole sweep stays
  * in test-suite budget), the oracle registry is dumped through the
  * same JSON writer Verify uses, and tools/type_contract.py compares
  * `con.sql(...).types` on both sides WITHOUT executing the oracles
  * (the binder resolves types from the plan). Values are t2's job
  * (check_oracle.py / the driver); this spec is the types leg only.
  *
  * The negative leg proves the gate can fire: an injected
  * INTEGER-vs-HUGEINT pair must be flagged.
  *
  * Cancels (not fails) when python3/duckdb is unavailable: DuckDB is a
  * driver-side tool, never a library dependency — the library jar
  * builds and runs without it.
  */
class OracleTypeContractSpec extends SparkSpec {

  private def python3HasDuckdb: Boolean =
    try {
      val p = new ProcessBuilder("python3", "-c", "import duckdb").start()
      p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) && p.exitValue == 0
    } catch { case _: Exception => false }

  private def runTool(sfDir: String, outDir: String): String = {
    val p = new ProcessBuilder(
      "python3", "tools/type_contract.py", sfDir, outDir)
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS) &&
      p.exitValue == 0, s"type_contract.py failed:\n$out")
    out.linesIterator.toSeq.lastOption.getOrElse("")
  }

  test("injected integer-width drift goes red (the gate can fire)") {
    assume(python3HasDuckdb, "python3+duckdb unavailable (driver-side tool)")
    val out = java.nio.file.Files
      .createTempDirectory("graft_typegate_inj").toString
    spark.sql("SELECT CAST(1 AS INT) AS x").coalesce(1)
      .write.mode("overwrite").parquet(s"$out/inj_q")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      """{"inj_q": "SELECT CAST(1 AS HUGEINT) AS x"}""".getBytes("UTF-8"))
    val report = runTool(sfDir, out)
    assert(report.contains("HUGEINT") && report.contains("INTEGER"),
      s"injected width mismatch not flagged: $report")
  }

  test("registry-wide: every oracle's logical types match its Spark output's") {
    assume(python3HasDuckdb, "python3+duckdb unavailable (driver-side tool)")
    val out = java.nio.file.Files
      .createTempDirectory("graft_typegate").toString
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // Query paths share subplans only through CatalystBridge.materialized,
    // which registers nothing: the session-wide CacheManager must hold
    // the same entries before and after every query.
    val cacheGrew = scala.collection.mutable.ArrayBuffer.empty[String]
    // Query paths write no conf into the caller's session.
    val confChanged = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      val cached = CatalystBridge.cachedEntries(spark)
      val conf = spark.conf.getAll
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$name")
      catch { case e: Throwable => failed += s"$name: ${e.getMessage}" }
      val after = CatalystBridge.cachedEntries(spark)
      if (after != cached) cacheGrew += s"$name: $cached -> $after"
      val confAfter = spark.conf.getAll
      if (confAfter != conf) confChanged += s"$name: " +
        (conf.keySet ++ confAfter.keySet).filter(k => conf.get(k) != confAfter.get(k))
          .map(k => s"$k ${conf.get(k)} -> ${confAfter.get(k)}").mkString(", ")
    }
    assert(failed.isEmpty,
      s"queries failed at sf0.001 (type sweep needs all outputs):\n" +
        failed.mkString("\n"))
    assert(cacheGrew.isEmpty,
      "queries changed the session's CacheManager entries:\n" +
        cacheGrew.mkString("\n"))
    assert(confChanged.isEmpty,
      "queries changed the caller's session conf:\n" + confChanged.mkString("\n"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Verify.oracleJson.getBytes("UTF-8"))
    val report = runTool(sfDir, out)
    // The tool prints one JSON line; a clean run has zero mismatches.
    // (Cheap structural parse — no JSON library in the test classpath.)
    assert(report.contains("\"mismatches\": {}"),
      s"oracle/Spark logical-type drift (cast one side):\n$report")
  }
}
