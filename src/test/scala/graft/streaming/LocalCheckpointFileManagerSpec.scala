package graft.streaming

import graft.SparkSpec
import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** A raw local filesystem under its own scheme: what a test registers to
  * stand for any non-`file:` checkpoint store. */
class GraftTestFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
}
class GraftTestAbstractFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftTestFs, conf, "graftfs", false)

/** The fork-free checkpoint manager keeps every observable behaviour of
  * Spark's managers: the atomic create, the sidecars and mode bits, the
  * file operations, the routing of other schemes and a query's restart. */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private def conf = new Configuration()
  private val dirs = scala.collection.mutable.ArrayBuffer.empty[File]
  private def tmp(tag: String): File = {
    val d = Files.createTempDirectory(s"graft_lcfm_$tag").toFile
    dirs += d
    d
  }
  override def afterAll(): Unit = {
    dirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly(_): Unit)
    super.afterAll()
  }
  private def ours(dir: File) = new LocalCheckpointFileManager(new Path(dir.toURI), conf)
  private def write(m: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  private def tree(dir: File): Seq[String] = {
    val root = dir.toPath
    val walk = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_ != root).map(root.relativize(_).toString).toSeq.sorted
    } finally walk.close()
  }
  private def mode(f: File): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))

  test("a file: path goes through the rename-based manager") {
    val m = ours(tmp("kind"))
    assert(m.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(m.isLocal)
  }

  test("createAtomic without overwrite refuses an existing file and keeps it") {
    val dir = tmp("exists")
    val m = ours(dir)
    val p = new Path(new Path(dir.toURI), "offsets/0")
    write(m, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(m, p, "second", overwrite = false))
    assert(read(m, p) === "first")
    write(m, p, "third", overwrite = true)
    assert(read(m, p) === "third")
  }

  test("cancel leaves neither the temp file nor the target") {
    val dir = tmp("cancel")
    val m = ours(dir)
    val out = m.createAtomic(new Path(new Path(dir.toURI), "state.delta"), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(tree(dir).isEmpty, s"left behind: ${tree(dir)}")
  }

  test("files, .crc sidecars and dirs get the same names and modes as Spark's managers give") {
    val base = tmp("modes")
    def layout(dir: File, m: CheckpointFileManager): Seq[(String, String)] = {
      def p(rel: String) = new Path(new Path(dir.toURI), rel)
      m.mkdirs(p("state/0/1"))
      m.mkdirs(p("commits"))
      write(m, p("state/0/1/1.delta"), "d", overwrite = false)
      write(m, p("commits/0"), "c", overwrite = false)
      tree(dir).map(n => n -> mode(new File(dir, n)))
    }
    val stock = layout(new File(base, "fs"), new FileSystemBasedCheckpointFileManager(
      new Path(new File(base, "fs").toURI), conf))
    val default = layout(new File(base, "fc"),
      CheckpointFileManager.create(new Path(new File(base, "fc").toURI), conf))
    val got = layout(new File(base, "ours"), ours(new File(base, "ours")))
    assert(got.map(_._1).contains("commits/.0.crc"), s"no .crc sidecar: $got")
    assert(got === stock)
    assert(got === default)
  }

  test("open, list, exists, delete and mkdirs behave as Spark's manager does") {
    val base = tmp("ops")
    def script(dir: File, m: CheckpointFileManager): Seq[Any] = {
      def p(rel: String) = new Path(new Path(dir.toURI), rel)
      m.mkdirs(p("a/b"))
      write(m, p("a/1"), "one", overwrite = false)
      write(m, p("a/2"), "two", overwrite = false)
      val listed = m.list(p("a")).map(_.getPath.getName).sorted.toSeq
      val filtered = m.list(p("a"), (q: Path) => q.getName != "2").map(_.getPath.getName).sorted.toSeq
      val before = Seq(m.exists(p("a/1")), m.exists(p("a/b")), m.exists(p("a/none")))
      val text = read(m, p("a/2"))
      m.delete(p("a/1"))
      m.delete(p("a/none")) // deleting a missing path is not an error
      intercept[java.io.FileNotFoundException](m.open(p("a/1")))
      Seq(listed, filtered, before, text, m.exists(p("a/1")), tree(dir))
    }
    val default = script(new File(base, "fc"),
      CheckpointFileManager.create(new Path(new File(base, "fc").toURI), conf))
    assert(script(new File(base, "ours"), ours(new File(base, "ours"))) === default)
  }

  test("any other scheme is handled by Spark's default manager") {
    val c = conf
    c.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    c.set("fs.graftfs.impl.disable.cache", "true")
    c.set("fs.AbstractFileSystem.graftfs.impl", classOf[GraftTestAbstractFs].getName)
    val dir = tmp("scheme")
    val p = new Path(s"graftfs://${dir.getAbsolutePath}/offsets/0")
    val m = new LocalCheckpointFileManager(p.getParent, c)
    assert(m.delegate.getClass === CheckpointFileManager.create(p.getParent, c).getClass)
    assert(m.delegate.isInstanceOf[FileContextBasedCheckpointFileManager])
    m.mkdirs(p.getParent)
    write(m, p, "via graftfs", overwrite = false)
    assert(new String(Files.readAllBytes(new File(dir, "offsets/0").toPath), UTF_8) === "via graftfs")
  }

  // SourcesSpec's st15 restart, on a streaming-factory session: the
  // offset and commit logs the manager wrote carry the restart.
  test("a stateTuned query restarted on its checkpoint resumes at the committed offset") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val s = Streams.stateTuned(spark)
    val base = tmp("restart")
    val (ck, out) = (s"$base/ck", s"$base/out")
    def run(rows: Int): Unit = {
      val q = s.readStream.format("graft.sources.GenSource")
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
    val hadoopConf = new Configuration(s.sparkContext.hadoopConfiguration)
    s.conf.getAll.foreach { case (k, v) => hadoopConf.set(k, v) }
    assert(CheckpointFileManager.create(new Path(ck), hadoopConf)
      .isInstanceOf[LocalCheckpointFileManager])
    assert(new File(ck, "offsets/.1.crc").isFile && new File(ck, "commits/1").isFile)
    run(10000) // restart, SAME checkpoint: must resume at 5000, not replay
    val got = s.read.parquet(out)
      .select("batch_id", "n", "lo", "hi").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.size === 4)
    (0 to 3).foreach { b =>
      assert(got(b.toLong) === (2500L, b * 2500L, b * 2500L + 2499L),
        s"batch $b: ${got.get(b.toLong)}")
    }
  }
}
