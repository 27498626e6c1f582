package graft
/** Mirrors the driver's t1 smoke: SparkEntry.entry(spark) must return >0 rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("4")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, false)
    println(s"[smoke] entry rows=$n ${if (n > 0) "PASS" else "FAIL"}")
    spark.stop()
  }
}
