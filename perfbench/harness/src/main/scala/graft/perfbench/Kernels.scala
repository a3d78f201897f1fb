package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Micro-jobs for the native layer (`graft.functions`, `graft.plans`):
  * each native form is timed against the built-in formulation it replaces
  * (a plain Scala UDF where Spark has none), on the run's own fixture.
  * Results are nanoseconds per unit of work (pair, document or row), the
  * median of three alternating repetitions. */
object Kernels {
  private val Reps = 3

  private def wallMs(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  }

  /** Median wall of native and built-in forms, alternating which runs first. */
  private def pair(native: DataFrame, builtin: DataFrame): (Double, Double) = {
    val ts = (0 until Reps).map { r =>
      if (r % 2 == 0) { val a = wallMs(native); (a, wallMs(builtin)) }
      else { val b = wallMs(builtin); (wallMs(native), b) }
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    (med(ts.map(_._1)), med(ts.map(_._2)))
  }

  /** Runs every kernel pair; `span` wraps each in a trace span. */
  def run(s: SparkSession, d: String, span: (String, => Unit) => Unit): Map[String, Double] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def record(name: String, units: Long, nat: DataFrame, blt: DataFrame): Unit =
      span(name, {
        val (a, b) = pair(nat, blt)
        out(s"kernels.${name}_ns") = a * 1e6 / units
        out(s"kernels.${name}_${builtinName(name)}_ns") = b * 1e6 / units
      })

    // vec_dot over a cross product of embedding samples.
    val emb = graft.sources.Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(400).localCheckpoint()
    val n = emb.count()
    val pairs = emb.as("a").crossJoin(emb.as("b"))
    record("vec_dot", n * n,
      pairs.select(graft.functions.VectorFunctions.vecDot(col("a.embedding"), col("b.embedding"))),
      pairs.select(expr("aggregate(zip_with(a.embedding, b.embedding, (x, y) -> " +
        "cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)")))

    // MinHash signatures over hashed word sets of every document.
    val docs = graft.sources.Tables.documents(s, d).select(col("doc_id"), col("text"))
      .localCheckpoint()
    val nDocs = docs.count()
    val hs = docs.select(expr("transform(split(text, ' '), w -> xxhash64(w))").as("hs"))
    val rnd = new scala.util.Random(17)
    val p = 2147483647L
    val a = Seq.fill(16)(1L + rnd.nextInt(Int.MaxValue - 1))
    val b = Seq.fill(16)(rnd.nextInt(Int.MaxValue).toLong)
    val hof: Seq[Column] = a.zip(b).map { case (ai, bi) =>
      expr(s"array_min(transform(hs, h -> ((h % ${p}L) * ${ai}L + ${bi}L) % ${p}L))")
    }
    record("minhash", nDocs,
      hs.select(graft.functions.MinHashPerms.minhashPerms(col("hs"), a, b, p)),
      hs.select(array(hof: _*)))

    // NFC normalization of every document.
    val nfcUdf = udf((t: String) =>
      if (t == null) null else java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC))
    record("nfc", nDocs,
      docs.select(graft.functions.NfcNormalize.nfc(col("text"))),
      docs.select(nfcUdf(col("text"))))

    // Top-3 orders per customer by price.
    val orders = graft.sources.Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")).localCheckpoint()
    val nRows = orders.count()
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    record("topk", nRows,
      graft.plans.TopK.topKPerGroup(orders, Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey")), 3),
      orders.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).drop("rn"))
    Seq(emb, docs, orders).foreach(_.unpersist(blocking = true))
    out.toMap
  }

  private def builtinName(kernel: String): String = kernel match {
    case "nfc" => "udf"
    case "topk" => "window"
    case _ => "builtin"
  }
}
