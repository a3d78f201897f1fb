package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.SaveMode
import java.nio.file.Files

/** Source/sink format coverage (SURVEY.md §2.4 scans/sinks rows): the
  * reference has only user-coded sources/sinks (F1/F3); our engine's are
  * Spark's native readers/writers. Round-trip each format and prove the
  * data survives bit-for-bit. */
class SourcesSpec extends SparkSpec {

  private lazy val base = Tables.orders(spark, sfDir)
    .selectExpr("o_orderkey", "o_orderstatus", "o_totalprice",
      "date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss') AS o_date")

  private def roundtrip(fmt: String): Unit = {
    val dir = Files.createTempDirectory(s"graft_$fmt").toString
    base.write.format(fmt).mode(SaveMode.Overwrite)
      .option("header", "true").save(dir)
    val back = spark.read.format(fmt)
      .option("header", "true").option("inferSchema", "true").load(dir)
    assert(back.count() === base.count(), s"$fmt row count")
    val a = base.selectExpr("o_orderkey", "o_orderstatus").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val b = back.selectExpr("cast(o_orderkey as bigint)", "o_orderstatus").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a === b, s"$fmt content mismatch")
  }

  test("parquet round-trip")(roundtrip("parquet"))
  test("csv round-trip")(roundtrip("csv"))
  test("json round-trip")(roundtrip("json"))
  test("orc round-trip")(roundtrip("orc"))

  test("partitioned write prunes partitions on read") {
    val dir = Files.createTempDirectory("graft_part").toString
    base.write.partitionBy("o_orderstatus").mode(SaveMode.Overwrite).parquet(dir)
    val pruned = spark.read.parquet(dir).filter("o_orderstatus = 'F'")
    val p = pruned.queryExecution.executedPlan.toString
    // Partition pruning: the scan's partition filters must carry the
    // predicate; at 100 TB this is the difference between reading one
    // directory and reading all of them.
    assert(p.contains("PartitionFilters: [isnotnull(o_orderstatus"), p.take(1500))
    assert(pruned.count() === base.filter("o_orderstatus = 'F'").count())
  }

  // The reference's keep-going source semantics at record granularity
  // (minigrep FileFinder skips unreadable FILES; PERMISSIVE mode skips
  // unparseable RECORDS): good rows parse, bad rows land in the
  // corrupt-record column instead of killing the job.
  test("json PERMISSIVE mode captures corrupt records and keeps going") {
    val dir = Files.createTempDirectory("graft_badjson")
    Files.write(dir.resolve("data.json"),
      """{"id": 1, "v": "ok"}
        |this is not json at all
        |{"id": 2, "v": "also ok"}
        |{"id": 3, "v": broken}
        |""".stripMargin.getBytes)
    val df = spark.read
      .schema("id BIGINT, v STRING, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir.toString)
      .cache() // corrupt-record column cannot be queried alone uncached
    try {
      assert(df.filter("_corrupt_record IS NULL").count() === 2)
      assert(df.filter("_corrupt_record IS NOT NULL").count() === 2)
      assert(df.filter("v = 'ok'").count() === 1)
    } finally df.unpersist(blocking = true)
  }

  // The DSv2 generator: rows match the closed form, id predicates reach
  // the source (the scan's advertised range narrows — pushdown, not a
  // post-scan filter over the full generate), and column pruning
  // reaches readSchema.
  test("DSv2 GenSource generates the closed form") {
    val df = spark.read.format("graft.sources.GenSource")
      .option("rows", "100").option("partitions", "4").load()
    val rows = df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.length === 100)
    rows.foreach { case (id, grp, v) =>
      assert(grp === (id % 10).toInt)
      assert(v === graft.sources.GenSource.valueOf(id))
    }
  }

  test("DSv2 GenSource pushes id range filters into the scan") {
    val df = spark.read.format("graft.sources.GenSource")
      .option("rows", "100000").option("partitions", "4").load()
      .filter("id >= 60000 AND id < 90000")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("range=[60000,90000)"),
      "id predicates did not narrow the generated range:\n" + p.take(2000))
    assert(df.count() === 30000)
  }

  test("DSv2 GenSource prunes unrequired columns") {
    val df = spark.read.format("graft.sources.GenSource")
      .option("rows", "1000").load()
      .select("grp")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("cols=grp") && !p.contains("cols=id"),
      "column pruning did not reach the source:\n" + p.take(2000))
  }

  test("DSv2 GenSource stream resumes from the committed offset") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_st15_restart"
    val (ck, out) = (s"$base/ck", s"$base/out")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    def run(rows: Int): Unit = {
      val q = spark.readStream.format("graft.sources.GenSource")
        .option("rows", rows.toString).option("partitions", "2")
        .option("rowsPerBatch", "2500").load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.agg(count(lit(1)).as("n"), min(col("id")).as("lo"),
              max(col("id")).as("hi"))
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(out)
        }.start()
      q.awaitTermination()
    }
    run(5000)  // batches 0,1 cover [0,5000)
    run(10000) // restart, SAME checkpoint: must resume at 5000, not replay
    val got = spark.read.parquet(out)
      .select("batch_id", "n", "lo", "hi").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.size === 4)
    (0 to 3).foreach { b =>
      assert(got(b.toLong) === (2500L, b * 2500L, b * 2500L + 2499L),
        s"batch $b: ${got.get(b.toLong)}")
    }
  }

  test("io07 compaction hits the exact target file count") {
    graft.SparkEntry.queries("io07_compaction")(spark, sfDir).collect()
    def files(tag: String) = new java.io.File(
      graft.sources.Scratch.dir(spark, sfDir, tag))
      .listFiles.count(_.getName.endsWith(".parquet"))
    val n = Tables.orders(spark, sfDir).count()
    assert(files("io07_compact") === math.max(1, math.ceil(n / 5000.0).toInt))
    assert(files("io07_small") > files("io07_compact"))
  }

  test("io08 mergeSchema unifies generations with true NULL backfill") {
    val df = graft.SparkEntry.queries("io08_schema_merge")(spark, sfDir)
    assert(df.columns.toSeq === Seq("lang", "n", "n_with_quality", "sum_quality"))
    // every lang: n == 2 * n_with_quality (v1 rows must read NULL quality)
    df.collect().foreach { r =>
      assert(r.getLong(1) === 2 * r.getLong(2),
        s"lang ${r.getString(0)}: v1 rows did not backfill NULL")
    }
  }

  // --- Scratch.staged / stagedParquet: the one write-once staging path.

  private def freshTag(name: String) = s"spec_${name}_${System.nanoTime()}"

  test("staged runs the build once when 8 threads stage the same fresh tag") {
    import java.util.concurrent.{Callable, CountDownLatch, Executors}
    val tag = freshTag("once")
    val runs = new java.util.concurrent.atomic.AtomicInteger(0)
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map(_ => pool.submit(new Callable[java.io.File] {
        def call(): java.io.File = {
          go.await()
          Scratch.staged(spark, sfDir, tag) { f =>
            runs.incrementAndGet()
            Thread.sleep(200) // hold the build open while the others arrive
            new java.io.File(f, "part-0").createNewFile(): Unit
          }
        }
      }))
      go.countDown()
      val dirs = calls.map(_.get()).toSet
      assert(runs.get === 1, "write ran more than once")
      assert(dirs.size === 1)
      assert(new java.io.File(dirs.head, "_SUCCESS").exists())
      Scratch.deleteRec(dirs.head)
    } finally pool.shutdown()
  }

  test("staged rebuilds a dir a crashed build left without _SUCCESS") {
    val tag = freshTag("crash")
    val dir = new java.io.File(Scratch.dir(spark, sfDir, tag))
    dir.mkdirs()
    val junk = new java.io.File(dir, "part-torn")
    junk.createNewFile()
    var ran = false
    val got = Scratch.staged(spark, sfDir, tag) { f =>
      ran = true
      new java.io.File(f, "part-0").createNewFile(): Unit
    }
    assert(ran, "the unmarked dir was taken as a finished build")
    assert(got === dir)
    assert(!junk.exists(), "the crashed build's files survived the rebuild")
    assert(new java.io.File(dir, "part-0").exists())
    assert(new java.io.File(dir, "_SUCCESS").exists())
    Scratch.deleteRec(dir)
  }

  test("stagedParquet reads are pinned: a file added after the commit is not seen") {
    val tag = freshTag("pinned")
    val df = Scratch.stagedParquet(spark, sfDir, tag)(spark.range(10).toDF("id"))
    val dir = Scratch.dir(spark, sfDir, tag)
    spark.range(100, 105).toDF("id").write.mode("append").parquet(dir)
    assert(spark.read.parquet(dir).count() === 15, "the added file did not land")
    assert(df.count() === 10)
    assert(Scratch.stagedParquet(spark, sfDir, tag)(
      fail("a staged artifact was rebuilt")).count() === 10)
    Scratch.deleteRec(new java.io.File(dir))
  }

  private def mainSources: Seq[java.io.File] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no sources at ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(root).filter(_.getName.endsWith(".scala"))
  }

  test("java.io.tmpdir is read only in graft/sources/Scratch.scala") {
    val sources = mainSources
    assert(sources.exists(_.getPath.endsWith("graft/sources/Scratch.scala")))
    val offenders = sources
      .filterNot(_.getPath.endsWith("graft/sources/Scratch.scala"))
      .filter(f => new String(Files.readAllBytes(f.toPath), "UTF-8")
        .contains("java.io.tmpdir"))
    assert(offenders.isEmpty,
      "derive scratch paths with graft.sources.Scratch instead: " +
        offenders.mkString(", "))
  }

  // One way to share a subplan: CatalystBridge.materialized. A
  // Dataset.persist registers in the CacheManager every session of the
  // SparkContext shares, and needs a hand-placed release.
  test("no persist, cache or unpersist in src/main outside CatalystBridge.scala") {
    val bridge = "org/apache/spark/sql/graft/CatalystBridge.scala"
    val sources = mainSources
    assert(sources.exists(_.getPath.endsWith(bridge)))
    val call = """\.persist\(|\.cache\(\)|unpersist""".r
    val hits = for {
      f <- sources if !f.getPath.endsWith(bridge)
      (line, i) <- new String(Files.readAllBytes(f.toPath), "UTF-8")
        .linesIterator.zipWithIndex
      m <- call.findAllIn(line)
    } yield s"${f.getPath}:${i + 1}: $m"
    assert(hits.isEmpty,
      s"share a subplan with CatalystBridge.materialized instead " +
        s"(${hits.count(_.endsWith(".persist("))} persist, " +
        s"${hits.count(_.endsWith("unpersist"))} unpersist, " +
        s"${hits.count(_.endsWith(".cache()"))} cache):\n" + hits.mkString("\n"))
  }

  // Every fixture read takes its schema from the footer (Tables.read /
  // Tables.schemaOf): a bare read.parquet of a fixture file infers it
  // with a Spark job before the query starts its work.
  test("no read.parquet of a fixture file in src/main outside Tables.scala") {
    val tables = "graft/sources/Tables.scala"
    val sources = mainSources
    assert(sources.exists(_.getPath.endsWith(tables)))
    val call = """\.read\.parquet\([^)]*\.parquet"""".r
    val hits = for {
      f <- sources if !f.getPath.endsWith(tables)
      (line, i) <- new String(Files.readAllBytes(f.toPath), "UTF-8")
        .linesIterator.zipWithIndex
      if call.findFirstIn(line).nonEmpty
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      "read fixtures with Tables.read / Tables.schemaOf:\n" + hits.mkString("\n"))
  }
}
