package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only sf1-class fixture builder (NOT part of the driver
  * contract): inflates the sf0.1 fixture K-fold into an out dir so the
  * heaviest queries get ONE measured scale point above sf0.1 — the
  * 100 TB extrapolation otherwise rests entirely on plan specs.
  *
  * Inflation is semantics-faithful, not byte-duplication:
  *  - every key column is remapped per copy (`id + k*OFFSET`), so
  *    joins/distincts scale linearly instead of collapsing onto the
  *    same keys;
  *  - `documents.text` is token-perturbed per copy (every token gets a
  *    copy prefix for k>0), so cross-copy shingle/minhash/simhash
  *    similarity is ZERO — near-dup pair counts scale linearly with K,
  *    as a real corpus's do, instead of quadratically (each doc would
  *    otherwise match its K-1 verbatim clones);
  *  - dimension-table FKs that point at UNINFLATED tables
  *    (nation/region) are left alone.
  *
  * Usage: runMain graft.DevScaleFixture [srcDir] [outDir] [K]
  * Defaults: /root/testdata/sf0.1 /tmp/graft_sf1 10
  */
object DevScaleFixture {
  private val Offset = 100000000L // far above any sf0.1 key

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    val cpus = SparkEntry.harnessCpus
    val spark = SparkEntry.localSession(cpus)

    // The key remap preserves the source column's exact physical type
    // (an INT key widened to BIGINT would change the fixture's parquet
    // schema, and the type-branching readers/oracles with it).
    var shiftType: String => org.apache.spark.sql.types.DataType = null
    def copies(t: String)(remap: (DataFrame, Long) => DataFrame): Unit = {
      val base = graft.sources.Tables.read(spark, s"$src/$t.parquet")
      shiftType = c => base.schema(c).dataType
      val all = (0 until k).map(i => remap(base, i.toLong)).reduce(_ unionAll _)
      all.repartition(cpus.toInt)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scale] $t x$k -> $out/$t.parquet")
    }
    def shift(c: String, i: Long) =
      (col(c) + lit(i * Offset)).cast(shiftType(c))

    copies("documents") { (df, i) =>
      val text =
        if (i == 0L) col("text")
        else array_join(transform(split(col("text"), " "),
          w => concat(lit(s"k$i"), w)), " ")
      df.select(shift("doc_id", i).as("doc_id"), text.as("text"),
        col("lang"), col("source"), length(text).as("n_chars"))
    }
    copies("embeddings") { (df, i) =>
      df.select(shift("vec_id", i).as("vec_id"), col("embedding"), col("label"))
    }
    copies("events") { (df, i) =>
      df.select(shift("event_id", i).as("event_id"), col("ts"),
        shift("user_id", i).as("user_id"), col("event_type"),
        col("value"), col("props"))
    }
    copies("orders") { (df, i) =>
      df.select(shift("o_orderkey", i).as("o_orderkey"),
        shift("o_custkey", i).as("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    }
    copies("lineitem") { (df, i) =>
      df.select(shift("l_orderkey", i).as("l_orderkey"),
        shift("l_partkey", i).as("l_partkey"),
        shift("l_suppkey", i).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }
    copies("customer") { (df, i) =>
      df.select(shift("c_custkey", i).as("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }
    copies("part") { (df, i) =>
      df.select(shift("p_partkey", i).as("p_partkey"), col("p_name"),
        col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))
    }
    copies("supplier") { (df, i) =>
      df.select(shift("s_suppkey", i).as("s_suppkey"), col("s_name"),
        col("s_nationkey"), col("s_acctbal"))
    }
    // Uninflated dimensions: copy through unchanged.
    Seq("region", "nation").foreach { t =>
      graft.sources.Tables.read(spark, s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scale] $t (copied) -> $out/$t.parquet")
    }
    spark.stop()
  }
}
