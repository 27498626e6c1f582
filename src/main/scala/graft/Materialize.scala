package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.storage.StorageLevel

/** The one way graft holds a frame it reads more than once (iterative
  * dedup and BPE rounds, k-means, a CDC batch's last-wins rows, MERGE's
  * matched-ness, a shared key set).
  *
  * [[apply]] persists the frame's executed rows (copied) at [[Level]] and
  * returns a frame whose logical plan is a single leaf over them — the
  * same leaf `localCheckpoint` builds, without its lineage cut:
  *   - computed once: the first action that reads the frame computes each
  *     partition and stores it; every later read takes the stored block.
  *     Shuffle stages under the frame run here, as `localCheckpoint(false)`
  *     runs them; the final stage runs inside the first consumer's job, so
  *     pinning costs no job of its own (a `.cache()` read under AQE costs
  *     a separate cache-materialization job);
  *   - leaf plan: a loop that feeds a pinned frame back into itself keeps
  *     an O(1) logical plan, whatever the round count;
  *   - recomputable: RDD lineage stays intact, so a lost block (executor
  *     loss, eviction, a release) is recomputed from its source, never a
  *     failed job — Spark's lineage-recovery contract, which
  *     `localCheckpoint` opts out of;
  *   - releasable: the owner that knows its last read calls [[release]]
  *     (or reads through [[using]]). A frame handed to a caller stays
  *     pinned; its blocks free when the ContextCleaner collects it. */
object Materialize {

  /** The one storage level of pinned rows: memory, spilling to disk. */
  val Level: StorageLevel = StorageLevel.MEMORY_AND_DISK

  /** Names the pinned RDDs, so [[release]] never drops someone else's. */
  private val Name = "graft.Materialize"

  /** `df` pinned behind a leaf plan (see the object doc). Outside any SQL
    * execution, the shuffle stages pinning runs belong to an execution of
    * their own ("materialize"); inside one (a MERGE command) they belong
    * to it. */
  def apply(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    val rows =
      if (df.sparkSession.sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY) != null)
        qe.toRdd
      else SQLExecution.withNewExecutionId(qe, Some("materialize"))(qe.toRdd)
    ColumnBridge.leaf(df, rows.map(_.copy()).setName(Name).persist(Level))
  }

  /** Drops the stored rows of frames [[apply]] returned; a later read
    * recomputes them. A no-op on any other frame. */
  def release(dfs: DataFrame*): Unit = dfs.map(_.queryExecution.logical).foreach {
    case l: LogicalRDD if l.rdd.name == Name => l.rdd.unpersist(blocking = false)
    case _ =>
  }

  /** Pins `df` for the duration of `body`, released after it. */
  def using[T](df: DataFrame)(body: DataFrame => T): T = {
    val pinned = apply(df)
    try body(pinned) finally release(pinned)
  }
}
