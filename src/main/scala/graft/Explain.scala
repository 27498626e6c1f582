package graft

/** Dev tool: time + explain individual registry queries.
  * Usage: runMain graft.Explain <sfDir> <queryName> [explain] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",")
    val doExplain = args.length > 2 && args(2) == "explain"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    names.foreach { name =>
      val spec = QueryRegistry.byName(name)
      val df = spec.fn(spark, sfDir)
      if (doExplain) df.explain("formatted")
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"[explain] $name rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      val t1 = System.nanoTime()
      val n2 = spec.fn(spark, sfDir).count()
      println(f"[explain] $name (warm) rows=$n2 time=${(System.nanoTime() - t1) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
