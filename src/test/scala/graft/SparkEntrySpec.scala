package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The session factory's engine defaults (`SparkEntry.localSession`). */
class SparkEntrySpec extends SparkSpec {

  // The seven llm_curation queries need about 125 generated classes, more
  // than Spark's default 100-entry cache holds: at the default every warm
  // pass recompiled most of them. A warm pass may still meet a class once:
  // AQE picks a self-join's build side by which side's stage finishes
  // first (dd06, pl05), and each side gives its own code, compiled the
  // first time that side wins. So the claim is that warm passes reach
  // zero compilations, which no pass does while the cache evicts.
  test("warm passes over the llm_curation queries reach zero compiled classes") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val jobs = Seq("dd02_", "dd06_", "ss02_", "ss04_", "ta03_", "ta25_", "pl05_")
      .flatMap(p => names.filter(_.startsWith(p)))
    assert(jobs.size === 7, jobs)
    def pass(): Seq[(String, Long)] = jobs.map { n =>
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      n -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
    }
    pass() // warm-up: first-run code generation and lazy staging
    pass()
    // The second warm pass, or failing that one of the next two.
    val warm = scala.collection.mutable.ArrayBuffer(pass().filter(_._2 > 0))
    while (warm.last.nonEmpty && warm.size < 3) warm += pass().filter(_._2 > 0)
    assert(warm.last.isEmpty,
      s"classes compiled on each later warm pass: ${warm.mkString("; ")}")
  }
}
