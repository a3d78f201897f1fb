package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** One benchmark run in one JVM: set up, run the workload's jobs in a
  * closed loop with one client for a fixed number of whole passes, and
  * write a raw record that `perfbench/run.py` turns into metrics.
  *
  * A job is one registry call `fn(spark, dir)` followed by the forced
  * `noop` write. Arguments are `key=value` pairs; `jobs` lists registry
  * names or name prefixes, each prefix standing for every registry name
  * it starts (sorted). See `run.py`, which launches this class. */
object Harness {

  final case class JobRun(name: String, pass: Int, start: Double, end: Double,
      defineMs: Double, actionMs: Double, ok: Boolean, error: String, span: Int)

  def main(argv: Array[String]): Unit = {
    val mainMs = Clock.ms()
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val names = SparkEntry.queries.keys.toSeq.sorted
    val jobs = args("jobs").split(",").toSeq.filter(_.nonEmpty).flatMap { t =>
      if (names.contains(t)) Seq(t) else names.filter(_.startsWith(t))
    }
    val workload = args("workload")
    val fixture = args("fixture")
    val passes = args("passes").toInt
    val traced = args("trace") == "1"
    val nproc = args("nproc").toInt
    val out = args("out")
    val spans = new Spans
    val runSpan = spans.open()
    val errors = mutable.ArrayBuffer.empty[String]
    def note(msg: String): Unit = {
      System.err.println(s"[perfbench] $msg"); errors += msg.take(300)
    }

    val calibPre = (Calib.single(), Calib.parallel(nproc))
    // Set-up: from here (main entry less the calibration spin above, which
    // is measurement) to the first timed job.
    val setupStart = Clock.ms()
    val setupSpan = spans.open()
    val b = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args("local_dir"))
      .config("spark.sql.warehouse.dir", args("warehouse_dir"))
    if (traced) b.config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new BusListener(traced)
    spark.sparkContext.addSparkListener(listener)

    // Warm-up pass: every job once, so first-run code generation and each
    // job's own lazy staging (indexes, dictionaries, feeds) are set-up, not
    // timed. Its results are written as parquet for the output check.
    val checkErrors = mutable.LinkedHashMap.empty[String, String]
    jobs.distinct.foreach { n =>
      val s0 = Clock.ms()
      try SparkEntry.queries(n)(spark, fixture).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/check/$n")
      catch { case e: Throwable => checkErrors(n) = msg(e); note(s"warm-up $n failed: ${msg(e)}") }
      spans.add(setupSpan, "warmup", n, s0, Clock.ms())
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => jobs.contains(k) }
    Files.writeString(Paths.get(s"$out/check/oracle_sql.json"), Json(oracle))
    val setupS = (spans.close(setupSpan, runSpan, "setup", "setup", setupStart) - setupStart) / 1e3

    // JIT and GC totals bracket the timed region only.
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    def gcMs = gcBeans.map(_.getCollectionTime).sum.toDouble
    def jitMs = if (jit != null && jit.isCompilationTimeMonitoringSupported)
      jit.getTotalCompilationTime.toDouble else 0.0
    val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    // Live heap: old-gen usage right after a full collection, at the end of
    // set-up and of every pass. The first collection lets Spark's context
    // cleaner release cached blocks of unreachable RDDs; the second, after
    // it had time to, sees what is really retained. The collections are
    // harness time, kept out of the timed wall.
    val heapSamples = mutable.ArrayBuffer.empty[Double]
    var harnessMs = 0.0
    def sampleHeap(): Unit = {
      val g0 = Clock.ms()
      System.gc(); Thread.sleep(300); System.gc()
      heapSamples += oldPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
      harnessMs += Clock.ms() - g0
    }
    val cacheSamples = mutable.ArrayBuffer.empty[(Double, Double, Double)]
    def sampleCache(): Unit = if (traced) {
      val infos = spark.sparkContext.getRDDStorageInfo
      cacheSamples += ((Clock.ms(), infos.map(_.memSize).sum / 1048576.0,
        infos.map(_.diskSize).sum / 1048576.0))
    }

    sampleHeap()
    harnessMs = 0.0
    val gc0 = gcMs; val jit0 = jitMs
    val runs = mutable.ArrayBuffer.empty[JobRun]
    val tStart = Clock.ms()
    for (pass <- 1 to passes) {
      val passStart = Clock.ms()
      val passSpan = spans.open()
      jobs.foreach { n =>
        val jobSpan = spans.open()
        val j0 = Clock.ms()
        var t1 = Double.NaN
        var err = ""
        try {
          val df = SparkEntry.queries(n)(spark, fixture)
          t1 = Clock.ms()
          spans.add(jobSpan, "define", n, j0, t1)
          sampleCache()
          df.write.format("noop").mode("overwrite").save()
        } catch { case e: Throwable => err = msg(e); note(s"$n failed: $err") }
        val t2 = Clock.ms()
        if (t1.isNaN) t1 = t2 // failed inside the registry call
        else spans.add(jobSpan, "action", n, t1, t2)
        spans.close(jobSpan, passSpan, "job", n, j0)
        sampleCache()
        runs += JobRun(n, pass, j0, t2, t1 - j0, t2 - t1, err.isEmpty, err, jobSpan)
      }
      spans.close(passSpan, runSpan, "pass", s"pass$pass", passStart)
      sampleHeap()
    }
    val tEnd = Clock.ms()
    val gc1 = gcMs; val jit1 = jitMs
    var scratchBytes = 0.0
    var scratchFiles = 0L
    def walk(f: File): Unit = Option(f.listFiles()).foreach(_.foreach { k =>
      if (k.isDirectory) walk(k) else { scratchBytes += k.length(); scratchFiles += 1 }
    })
    walk(new File(System.getProperty("java.io.tmpdir")))

    val kernels = if (!traced) Map.empty[String, Double] else {
      val kSpan = spans.open()
      val k0 = Clock.ms()
      val res = try Kernels.run(spark, fixture, (name, body) => {
        val s0 = Clock.ms(); body; spans.add(kSpan, "kernel", name, s0, Clock.ms()); ()
      }) catch { case e: Throwable => note(s"kernels failed: ${msg(e)}"); Map.empty[String, Double] }
      spans.close(kSpan, runSpan, "kernels", "kernels", k0)
      res
    }

    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    val calibPost = (Calib.single(), Calib.parallel(nproc))
    spans.close(runSpan, 0, "run", workload, mainMs)

    val record = Map(
      "workload" -> workload,
      "nproc" -> nproc,
      "job_list" -> jobs.distinct,
      "setup_s" -> setupS,
      "window" -> Map("start" -> tStart, "end" -> tEnd, "harness_ms" -> harnessMs),
      "jobs" -> runs.toSeq,
      "check_errors" -> checkErrors.toMap,
      "heap_mb" -> heapSamples.toSeq,
      "jvm" -> Map("gc_ms" -> (gc1 - gc0), "jit_ms" -> (jit1 - jit0)),
      "calib" -> Map("pre_s" -> calibPre._1, "par_pre_s" -> calibPre._2,
        "post_s" -> calibPost._1, "par_post_s" -> calibPost._2),
      "scratch" -> Map("bytes" -> scratchBytes, "files" -> scratchFiles),
      "triggers" -> listener.triggers.asScala.toSeq,
      "spark_jobs" -> listener.jobs.asScala.toSeq.map(j =>
        Map("id" -> j.id, "start" -> j.start, "end" -> j.end, "ok" -> j.ok,
          "stages" -> j.stages)),
      "stages" -> listener.stages.values.asScala.toSeq.map(st =>
        Map("id" -> st.id, "attempt" -> st.attempt, "submitted" -> st.submitted,
          "completed" -> st.completed, "task_ms" -> st.taskMs.toSeq,
          "cpu_ms" -> st.cpuMs, "gc_ms" -> st.gcMs, "deser_ms" -> st.deserMs,
          "sh_write_bytes" -> st.shWriteBytes, "sh_write_ms" -> st.shWriteMs,
          "sh_read_bytes" -> st.shReadBytes, "fetch_wait_ms" -> st.fetchWaitMs,
          "spill_bytes" -> st.spillBytes, "in_bytes" -> st.inBytes,
          "in_records" -> st.inRecords, "out_bytes" -> st.outBytes,
          "out_records" -> st.outRecords)),
      "phases" -> PhaseListener.phases.asScala.toSeq.map {
        case (t, a, o, p) => Seq(t, a, o, p) },
      "cache" -> cacheSamples.toSeq.map { case (t, m, d) => Seq(t, m, d) },
      "kernels" -> kernels,
      "spans" -> spans.all,
      "errors" -> errors.toSeq)
    Files.writeString(Paths.get(s"$out/record.json"), Json(record))
    spark.stop()
  }

  private def msg(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)
}

/** Co-tenancy markers: a fixed integer spin on one thread and on every
  * core. Their wall time depends only on how much CPU the host gives, so
  * an inflated marker identifies a noisy run. */
object Calib {
  private def spin(seed: Long): Long = {
    var i = 0L; var h = 1469598103934665603L + seed
    while (i < 100000000L) { h = (h ^ i) * 1099511628211L; i += 1 }
    h
  }
  def single(): Double = {
    val t0 = System.nanoTime()
    if (spin(0) == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }
  def parallel(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { k =>
      val t = new Thread(() => { if (spin(k.toLong) == 42L) System.err.println("") })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
