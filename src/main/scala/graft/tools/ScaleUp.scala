package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialize an N× derived dataset from sf0.1 for a full-bench scale
  * run: the test data has no sf1 directory, so we derive one on disk
  * with this key-disjointness discipline (ScaleUpSpec asserts it):
  *
  *   - fact/dim keys offset per copy (TPC-H dbgen's scaling shape), so
  *     joins keep referential integrity and per-key cardinalities — a
  *     10× table has 10× groups, not 10×-deep groups;
  *   - document words suffixed `_c<i>` per copy (n_chars recomputed), so
  *     shingle/word-set similarity never crosses copies — duplicate
  *     CLUSTERS scale 10× in count, not 10× in size (output stays
  *     linear; a naive replica would square the pair counts and measure
  *     the data, not the plan);
  *   - embedding labels offset per copy (label-blocked pairing stays
  *     within-copy); region/nation stay fixed (TPC-H dims are
  *     scale-invariant).
  *
  * Run: sbt "runMain graft.tools.ScaleUp [outDir] [copies]" then
  * SPARK_GRAFT_SF_DIR=<outDir> sbt "runMain graft.Bench". */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft-sf1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.local(cpus)
    derive(spark, src, copies).foreach { case (name, df) =>
      val t0 = System.nanoTime()
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      val rows = spark.read.parquet(s"$out/$name.parquet").count()
      println(f"[scaleup] $name rows=$rows ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }

  /** Every table of the `src` scale-factor directory as `copies`
    * key-offset copies (see above), by table name. Lazy: nothing runs
    * until a frame is written or counted. */
  def derive(spark: SparkSession, src: String, copies: Int): Seq[(String, DataFrame)] = {
    def base(name: String): DataFrame = graft.Tables.load(spark, src, name)

    /** Union of `copies` key-offset copies; `offsets` maps column → span
      * (copy i adds i×span), `tweak` post-processes copy i > 0. */
    def scaled(name: String, offsets: Map[String, Long],
               tweak: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      val b = base(name)
      (0 until copies).map { i =>
        if (i == 0) b
        else {
          val shifted = offsets.foldLeft(b) { case (d, (c, span)) =>
            d.withColumn(c, (col(c) + lit(i * span)).cast(b.schema(c).dataType))
          }
          tweak(shifted, i)
        }
      }.reduce(_ unionByName _)
    }

    Seq(
      "region" -> base("region"),
      "nation" -> base("nation"),
      "customer" -> scaled("customer", Map("c_custkey" -> 100000L)),
      "supplier" -> scaled("supplier", Map("s_suppkey" -> 10000L)),
      "part" -> scaled("part", Map("p_partkey" -> 100000L)),
      "orders" -> scaled("orders",
        Map("o_orderkey" -> 1000000L, "o_custkey" -> 100000L)),
      "lineitem" -> scaled("lineitem",
        Map("l_orderkey" -> 1000000L, "l_partkey" -> 100000L,
          "l_suppkey" -> 10000L)),
      "events" -> scaled("events",
        Map("event_id" -> 1000000L, "user_id" -> 100000L)),
      "documents" -> scaled("documents", Map("doc_id" -> 100000L),
        tweak = (d, i) => d
          .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1_c$i"))
          .withColumn("n_chars", length(col("text")).cast("long"))),
      "embeddings" -> scaled("embeddings",
        Map("vec_id" -> 100000L, "label" -> 1000L)))
  }
}
