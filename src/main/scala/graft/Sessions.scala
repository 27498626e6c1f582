package graft

import org.apache.spark.sql.SparkSession

/** Session setup shared by graft's mains and the sessions graft builds
  * beside a caller's. */
object Sessions {

  /** The session a graft main runs on: `local[cpus]` with as many shuffle
    * partitions, UTC session time zone, Spark UI off, WARN logging. */
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `builder.create()` without making the new session the JVM's default
    * or active one: `create()` promotes it to both, so a later
    * `getOrCreate()` elsewhere would silently receive it. Both slots are
    * restored to what they held before. */
  def createAside(builder: SparkSession.Builder): SparkSession = {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    val s = builder.create()
    prevDefault match {
      case Some(d) => SparkSession.setDefaultSession(d)
      case None => SparkSession.clearDefaultSession()
    }
    prevActive match {
      case Some(a) => SparkSession.setActiveSession(a)
      case None => SparkSession.clearActiveSession()
    }
    s
  }
}
