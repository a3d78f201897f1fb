package graft.functions

import graft.SparkSpec
import graft.functions.VectorFunctions.vecDot
import org.apache.spark.sql.functions._

/** The native VectorDot expression must be bit-identical to the
  * higher-order-function formulation (same widen + fold order), and
  * measurably faster (it exists only for that reason — SURVEY.md §7.3). */
class VectorDotSpec extends SparkSpec {

  private def vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("native dot == HOF dot, bit-exact") {
    val both = vecs.select(
      vecDot(col("embedding"), col("embedding")).as("native"),
      expr("aggregate(zip_with(" +
        "transform(embedding, x -> cast(x as double)), " +
        "transform(embedding, x -> cast(x as double)), " +
        "(x, y) -> x * y), cast(0 as double), (acc, x) -> acc + x)").as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("null element nulls the result, matching HOF null propagation") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[java.lang.Float](1.0f, 2.0f), Seq[java.lang.Float](3.0f, 4.0f)),
      (2L, Seq[java.lang.Float](1.0f, null), Seq[java.lang.Float](3.0f, 4.0f))
    ).toDF("id", "a", "b")
      .select(col("id"),
        col("a").cast("array<float>").as("a"),
        col("b").cast("array<float>").as("b"))
    val got = df.select(col("id"), vecDot(col("a"), col("b")).as("d"),
      expr("aggregate(zip_with(" +
        "transform(a, x -> cast(x as double)), " +
        "transform(b, x -> cast(x as double)), " +
        "(x, y) -> x * y), cast(0 as double), (acc, x) -> acc + x)").as("hof"))
      .orderBy("id").collect()
    assert(got(0).getDouble(1) === 11.0 && got(0).getDouble(2) === 11.0)
    assert(got(1).isNullAt(1) && got(1).isNullAt(2))
    // The self-dot rewrite target must null-propagate identically.
    import org.apache.spark.sql.graft.CatalystBridge
    val norm = df.select(col("id"), CatalystBridge.column(
      graft.functions.VectorNormSq(
        CatalystBridge.expression(col("a")))).as("n")).orderBy("id").collect()
    assert(norm(0).getDouble(1) === 5.0 && norm(1).isNullAt(1))
  }

  test("vec_dot is callable from SQL after registration") {
    VectorFunctions.register(spark)
    vecs.createOrReplaceTempView("emb_sql_test")
    val r = try spark.sql(
      "SELECT vec_id, round(vec_dot(embedding, embedding), 6) AS nrm " +
      "FROM emb_sql_test ORDER BY vec_id LIMIT 1").collect()
    finally spark.catalog.dropTempView("emb_sql_test")
    val expect = vecs.orderBy(col("vec_id")).limit(1)
      .select(round(vecDot(col("embedding"), col("embedding")), 6)).collect()
    assert(r(0).getDouble(1) === expect(0).getDouble(0))
  }

  test("RewriteSelfDot rewrites vec_dot(x, x) into vec_norm_sq(x)") {
    import org.apache.spark.sql.graft.CatalystBridge
    val withDot = vecs.select(vecDot(col("embedding"), col("embedding")).as("n"))
    // Rule fires on the self-dot...
    assert(graft.functions.RewriteSelfDot(withDot.queryExecution.optimizedPlan)
      .toString.contains("vec_norm_sq"))
    // ...and the specialized expression is bit-identical.
    val a = withDot.collect().map(_.getDouble(0))
    val b = vecs.select(CatalystBridge.column(
      graft.functions.VectorNormSq(
        CatalystBridge.expression(col("embedding")))).as("n"))
      .collect().map(_.getDouble(0))
    assert(a.toSeq === b.toSeq)
  }

  test("native dot is codegen'd (no CodegenFallback in the plan)") {
    val plan = vecs.select(vecDot(col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Fallback"), plan)
  }

  test("native dot outruns the HOF formulation on a pair join") {
    val v = vecs.limit(200)
    def timeIt(f: => Long): (Long, Double) = {
      val t0 = System.nanoTime(); val n = f; (n, (System.nanoTime() - t0) / 1e9)
    }
    val native = v.as("a").crossJoin(v.as("b"))
      .select(vecDot(col("a.embedding"), col("b.embedding")).as("d"))
    val hof = v.as("a").crossJoin(v.as("b"))
      .select(expr("aggregate(zip_with(" +
        "transform(a.embedding, x -> cast(x as double)), " +
        "transform(b.embedding, x -> cast(x as double)), " +
        "(x, y) -> x * y), cast(0 as double), (acc, x) -> acc + x)").as("d"))
    val (_, tN0) = timeIt(native.filter(col("d") > 1e18).count()) // warmup
    val (_, tH0) = timeIt(hof.filter(col("d") > 1e18).count())    // warmup
    val (_, tN) = timeIt(native.filter(col("d") > 1e18).count())
    val (_, tH) = timeIt(hof.filter(col("d") > 1e18).count())
    info(f"native=$tN%.2fs hof=$tH%.2fs speedup=${tH / tN}%.1fx")
    assert(tN < tH, f"native ($tN%.2fs) not faster than HOF ($tH%.2fs)")
  }
}
