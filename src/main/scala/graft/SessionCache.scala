package graft

/** Memo of one value per (live SparkSession, data dir) — the keying
  * discipline r16 established for the k-means models (VectorOps.kmModels)
  * and r18 extends to every index/model memo: the outer map holds the
  * session OBJECT weakly (a GC'd session's entries vanish with it), the
  * dir string lives inside. `System.identityHashCode(session)` keys are
  * NOT unique across GC'd sessions and could serve a stale index for a
  * regenerated dir — the exact hazard this replaces.
  *
  * Access is synchronized on the outer map (WeakHashMap isn't
  * thread-safe); `build` runs outside the lock (ConcurrentHashMap
  * per-session inner map), so concurrent builders of DIFFERENT dirs
  * don't serialize and a slow build never blocks unrelated sessions.
  */
private[graft] final class SessionCache[V] {
  private val bySession = new java.util.WeakHashMap[
    org.apache.spark.sql.SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, V]]()

  private def perSession(s: org.apache.spark.sql.SparkSession)
      : java.util.concurrent.ConcurrentHashMap[String, V] =
    bySession.synchronized {
      var m = bySession.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, V]()
        bySession.put(s, m)
      }
      m
    }

  def getOrElseUpdate(s: org.apache.spark.sql.SparkSession, dir: String)(
      build: => V): V =
    perSession(s).computeIfAbsent(dir, _ => build)

  /** Atomically replace the value under (`s`, `key`) with `f(current)`
    * — for memos whose value must change while the session lives. */
  def compute(s: org.apache.spark.sql.SparkSession, key: String)(
      f: Option[V] => V): V =
    perSession(s).compute(key, (_, prev) => f(Option(prev)))
}
