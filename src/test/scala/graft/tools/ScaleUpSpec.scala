package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ~sf1 scaling claims rest on two properties of ScaleUp's N×
  * derivation: row counts scale exactly by N (ids stay unique), and
  * copies are content-disjoint (word sets never collide across document
  * copies, labels never collide across embedding copies) so the OUTPUT
  * of the pair-finding queries grows linearly and a scaled run measures
  * the plan's growth shape, not a squared pair count. */
class ScaleUpSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val derived: Map[String, DataFrame] =
    ScaleUp.derive(spark, sfDir, 3).toMap

  private def base(name: String) = graft.Tables.load(spark, sfDir, name)

  /** Copy index of each row: ScaleUp offsets copy i's ids by i × 100000,
    * which identifies the copy only while base ids stay below that span. */
  private def copyOf(id: String, baseDf: DataFrame) = {
    assert(baseDf.agg(max(col(id))).head.getAs[Number](0).longValue < 100000L)
    floor(col(id) / lit(100000L))
  }

  test("scaled documents: 3x rows, unique ids, disjoint vocabularies") {
    val b = base("documents")
    val scaled = derived("documents")
    val n = b.count()
    assert(scaled.count() === n * 3)
    assert(scaled.select("doc_id").distinct().count() === n * 3)
    // vocabulary of copy i must never intersect copy j's: a cross-copy
    // token collision would create cross-copy candidate pairs and push
    // the scaled run's output superlinear
    val words = scaled
      .select(copyOf("doc_id", b).as("copy"),
        explode(split(col("text"), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    val collisions = words.groupBy("w")
      .agg(countDistinct("copy").as("nc"))
      .filter(col("nc") > 1)
      .count()
    assert(collisions === 0L)
  }

  test("scaled embeddings: 3x rows, unique ids, disjoint labels, vectors intact") {
    val b = base("embeddings")
    val scaled = derived("embeddings")
    assert(scaled.count() === b.count() * 3)
    assert(scaled.select("vec_id").distinct().count() === b.count() * 3)
    val labelCollisions = scaled.withColumn("copy", copyOf("vec_id", b))
      .groupBy("label").agg(countDistinct("copy").as("nc"))
      .filter(col("nc") > 1).count()
    assert(labelCollisions === 0L)
    // embeddings are copied verbatim: per-copy norm sums match the base
    def normSum(df: DataFrame) = df.select(sum(aggregate(col("embedding"),
      lit(0.0d), (acc, v) => acc + v * v))).head.getDouble(0)
    val baseNorm = normSum(b)
    val copyNorm = normSum(scaled.filter(col("vec_id") >= 200000L))
    assert(math.abs(baseNorm - copyNorm) < 1e-6 * math.abs(baseNorm))
  }
}
