package graft.lake

import org.apache.spark.sql.{Column, DataFrame}

import java.nio.charset.StandardCharsets

/** Multi-table ACID transaction: stage writes on a per-table txn branch,
  * then make them visible on `main` across EVERY participant
  * all-or-nothing — the cross-table commit the reference delegates to
  * its REST catalog (Iceberg's `commitTransaction`), re-expressed as a
  * client-driven protocol over the [[MetaStore]] seam so it works
  * identically against filesystem metadata and a
  * [[graft.lake.catalog.CatalogServer]] (where every decision point
  * below is one server-side conditional put).
  *
  * Protocol — each step is an atomic primitive the crash analysis leans
  * on (per-table CAS commit or a put-if-absent slot in the txn log at
  * `<warehouse>/_system/txnlog`):
  *
  *   1. STAGE: every write through [[LakeTransaction#table]] commits to
  *      branch `txn-<id>` of its table — real, durable, crash-safe
  *      commits, invisible to `main` readers. Reads through the handle
  *      see the branch (read-your-writes). The branch forks from the
  *      main head observed at first write ([[TxnTable]] records it as
  *      the fork point).
  *   2. MANIFEST: one put-if-absent file listing every participant
  *      (location, ident, fork point, branch head) — recovery's map.
  *      Written BEFORE any fence, so a fence always implies a readable
  *      manifest.
  *   3. FENCE: per participant in sorted-location order (no deadlocks —
  *      a second transaction meeting a fence aborts itself instead of
  *      waiting), one CAS commit sets `graft.txn.fence` on the table
  *      iff (a) no other transaction holds it and (b) main still equals
  *      the fork point — the serializability check: a concurrent main
  *      commit since stage time aborts the WHOLE transaction before
  *      anything published (Iceberg's retry-at-client semantics; the
  *      caller re-runs the transaction against fresh state). While
  *      fenced, [[LakeTable.commit]] rejects every commit that MOVES
  *      MAIN without touching the fence — publish sets main := branch
  *      head without re-reading it, so a foreign main movement between
  *      decision and publish would be lost. Commits that leave main
  *      alone (branch staging, branch drops, property updates, another
  *      transaction's rollback) stay legal under a fence. A fence step
  *      that meets a DEAD holder's fence resolves it (TTL-gated) and
  *      retries once, so an abandoned transaction never wedges future
  *      transactions.
  *   4. DECIDE: put-if-absent of `txn-<id>.decision` ("commit"). This
  *      single slot is the atomic commit point, and it is a RACE shared
  *      with recovery: a fence-breaker decides "abort" through the same
  *      slot, so exactly one outcome ever exists.
  *   5. PUBLISH: per participant, one CAS commit moves `main` to the
  *      branch head, drops the branch and clears the fence — idempotent
  *      (a cleared fence makes the transform an identity), so the
  *      coordinator and any number of recovering writers can replay it.
  *
  * Crash analysis (every window): before MANIFEST — branches exist,
  * nothing fenced; `rollback()` or branch expiry cleans up, main
  * readers never saw anything. Between MANIFEST and DECIDE — fences
  * block writers; any writer hitting an EXPIRED fence (age >
  * `graft.txn.fence-ttl-ms`, default 5 min) resolves the decision slot
  * to "abort" and rolls the transaction BACK everywhere (fences
  * cleared, branches dropped). After DECIDE=commit — the same breaker
  * reads "commit" and rolls the transaction FORWARD everywhere: the
  * transaction is durable from the decision slot on, even if the
  * coordinator dies with zero tables published. A live-but-slow
  * coordinator racing a breaker is safe: both replay idempotent CAS
  * transforms, and the decision slot already fixed the outcome.
  *
  * Isolation scope — stated honestly: commit is all-or-nothing for
  * DURABILITY and for per-table visibility, and a reader of any SINGLE
  * table always sees a committed snapshot. A reader scanning two tables
  * mid-publish can observe table A post-transaction and table B
  * pre-transaction (the same anomaly Iceberg's REST
  * `commitTransaction` permits); cross-table snapshot isolation needs
  * the per-table `VERSION AS OF` pins the snapshot log provides.
  *
  * 100 TB notes: the protocol never reads or moves DATA — stage commits
  * write their files once, and fence/decide/publish are O(participants)
  * metadata CAS round trips regardless of table size or churn. */
final class LakeTransaction private[lake] (
    catalog: LakeCatalog, val txnId: String) {
  import LakeTransaction._

  private[lake] val txnStore: MetaStore = catalog.txnLogStore
  private val txnLogLoc: String = catalog.txnLogLocation
  private val branchName = s"txn-$txnId"
  private val enlisted =
    scala.collection.mutable.LinkedHashMap.empty[String, TxnTable]
  private var finished = false

  /** Enlist a table (idempotent per ident): all writes through the
    * returned handle stage on this transaction's branch. */
  def table(ident: String): TxnTable = {
    require(!finished, s"transaction $txnId already finished")
    enlisted.getOrElseUpdate(ident,
      new TxnTable(catalog.loadTable(ident), ident, branchName))
  }

  /** The staged branch for `ident` iff this transaction has WRITTEN it —
    * the read-your-writes routing [[SqlTransactions.readBranch]] uses
    * (an unwritten enlistee still reads main, like [[TxnTable.toDF]]).
    * `location`, when given, must match the enlisted table's physical
    * location: a same-named table in a DIFFERENT catalog is untouched by
    * this transaction and must keep reading its own main, not resolve a
    * branch that only exists on the enlisted table. */
  private[lake] def stagedBranchFor(ident: String,
                                    location: Option[String] = None): Option[String] =
    if (!finished && enlisted.get(ident).exists(t =>
      t.written && location.forall(_ == t.table.location))) Some(branchName)
    else None

  /** Repeatable-read pins, keyed by physical table LOCATION (ident is
    * catalog-relative and two catalogs may share one): the snapshot id a
    * table's FIRST in-transaction read observed (0 = empty table — the
    * before-any-snapshot sentinel [[LakeTable.resolveSnapshot]] reads as
    * empty). Later reads of the same table re-use the pin, so a foreign
    * commit mid-transaction stays invisible under
    * `spark.graft.txn.repeatable-read` ([[SqlTransactions.readPin]]). */
  private val readPins = scala.collection.mutable.HashMap.empty[String, Long]
  private[lake] def pinForRead(location: String, head: => Long): Long =
    readPins.synchronized { readPins.getOrElseUpdate(location, head) }

  /** Written participants in publish order (sorted by location — the
    * deadlock-free fence order). Package-visible so the spec can drive
    * the protocol steps one at a time (crash windows). */
  private[graft] def participants: Seq[TxnTable] =
    enlisted.values.filter(_.written).toSeq.sortBy(_.table.location)

  /** Make every staged write visible on main, all-or-nothing. Throws
    * [[CommitConflictException]] (after cleaning up — no table keeps any
    * transaction state) when a concurrent commit moved any participant's
    * main since stage time, or another transaction holds a fence: re-run
    * the whole transaction against fresh state, the optimistic-txn way. */
  def commit(): Unit = {
    require(!finished, s"transaction $txnId already finished")
    val parts = participants
    if (parts.isEmpty) { finished = true; return }
    writeManifest(parts)
    try fenceAll(parts)
    catch {
      case e: Throwable =>
        // nothing published yet (fences precede the decision): abort is
        // always clean here. Win the decision slot so a racing breaker
        // and this cleanup agree.
        decide("abort")
        abortAll(parts)
        markDone()
        finished = true
        throw (e match {
          case c: CommitConflictException => c
          case other => CommitConflictException(
            s"transaction $txnId aborted: ${other.getMessage}")
        })
    }
    if (!decide("commit")) {
      // a fence-breaker aborted us between our fences and our decision
      // (possible only past the TTL) — honor it
      abortAll(parts)
      markDone()
      finished = true
      throw CommitConflictException(
        s"transaction $txnId was aborted by fence recovery (fence older " +
          "than graft.txn.fence-ttl-ms) before the commit decision landed")
    }
    publishAll(parts)
    markDone()
    finished = true
  }

  /** Abandon the transaction: drop every staged branch, clear any fence
    * this transaction set, record the abort decision if a manifest was
    * already written. Main never saw anything. */
  def rollback(): Unit = {
    if (finished) return
    val parts = participants
    if (txnStore.exists(manifestName(txnId))) { decide("abort"); () }
    abortAll(parts)
    if (txnStore.exists(manifestName(txnId))) markDone()
    finished = true
  }

  // ---- protocol steps (package-visible: the spec drives crash windows) ----

  private[graft] def writeManifest(parts: Seq[TxnTable]): Unit = {
    val body = parts.map { p =>
      val head = p.table.meta.refs.getOrElse(branchName,
        throw new IllegalStateException(
          s"participant ${p.ident} lost its txn branch")).snapshotId
      p.branchHead = Some(head)
      Seq(p.table.location, p.ident,
        p.forkPoint.map(_.toString).getOrElse("-"), head.toString).mkString("\t")
    }.mkString("\n")
    require(txnStore.putIfAbsent(manifestName(txnId),
      body.getBytes(StandardCharsets.UTF_8)),
      s"transaction id collision: ${manifestName(txnId)} exists")
  }

  private[graft] def fenceAll(parts: Seq[TxnTable]): Unit = parts.foreach { p =>
    val fence = s"$txnId\t${System.currentTimeMillis()}\t$txnLogLoc"
    def attempt(): Unit = p.table.commit(fenceOwner = Some(txnId), transform = { m =>
      m.properties.get(FenceKey) match {
        case Some(v) if v.startsWith(txnId + "\t") => m // retry: already ours
        case Some(v) => throw FencedByOther(
          s"table ${p.ident} is fenced by concurrent transaction " +
            s"${v.takeWhile(_ != '\t')} — transaction $txnId aborts", v)
        case None =>
          val mainHead = m.snapshotFor(LakeTable.MainBranch).map(_.snapshotId)
          if (mainHead != p.forkPoint) throw CommitConflictException(
            s"concurrent commit on ${p.ident} during transaction $txnId " +
              s"(main moved ${p.forkPoint.getOrElse("∅")} → " +
              s"${mainHead.getOrElse("∅")}) — transaction aborts; retry it " +
              "against fresh state")
          m.copy(properties = m.properties + (FenceKey -> fence))
      }
    })
    try attempt()
    catch {
      case FencedByOther(msg, other) =>
        // a DEAD holder must not wedge every future transaction: resolve
        // it once (TTL-gated, same rule as blocked plain writers) and
        // retry the fence; a LIVE holder still aborts this transaction
        val ttl = p.table.meta.properties.get(FenceTtlKey)
          .flatMap(_.toLongOption).getOrElse(DefaultFenceTtlMs)
        if (!tryRecoverFence(p.table, other, ttl))
          throw CommitConflictException(msg)
        try attempt()
        catch { case FencedByOther(m2, _) => throw CommitConflictException(m2) }
    }
  }

  /** Win (or lose) the decision slot; true iff the outcome is `want`. */
  private[graft] def decide(want: String): Boolean = {
    val name = decisionName(txnId)
    if (!txnStore.putIfAbsent(name, want.getBytes(StandardCharsets.UTF_8))) ()
    txnStore.read(name).trim == want
  }

  private[graft] def publishAll(parts: Seq[TxnTable]): Unit = parts.foreach { p =>
    LakeTransaction.publishOne(p.table, txnId, branchName,
      p.branchHead.getOrElse(throw new IllegalStateException(
        s"publish before manifest for ${p.ident}")))
  }

  private[graft] def abortAll(parts: Seq[TxnTable]): Unit =
    parts.foreach(p => LakeTransaction.abortOne(p.table, txnId, branchName))

  private[graft] def markDone(): Unit = {
    txnStore.putIfAbsent(doneName(txnId), Array.emptyByteArray); ()
  }
}

/** Per-table handle inside a [[LakeTransaction]]: every write routes to
  * the transaction branch; reads see the branch (read-your-writes) and
  * fall back to main before the first write. */
final class TxnTable private[lake] (
    private[lake] val table: LakeTable, val ident: String, branch: String) {

  private[lake] var forkPoint: Option[Long] = None
  private[lake] var branchHead: Option[Long] = None
  private[lake] var written = false

  /** Fork the branch off the CURRENT main head on first write — one CAS
    * commit, so the fork point is exact (the serializability check at
    * fence time compares main against it: the createBranch transform
    * reads main INSIDE the commit, and the returned metadata is what it
    * committed). An empty table forks from nothing; the first branch
    * write creates the ref itself. */
  private def ensureBranch(): Option[String] = {
    if (!written) {
      forkPoint =
        if (table.meta.currentSnapshot.isEmpty) None
        else table.createBranch(branch, ifNotExists = true)
          .refs.get(branch).map(_.snapshotId)
      written = true
    }
    Some(branch)
  }

  /** Branch state when staged writes exist; main otherwise. */
  def toDF: DataFrame =
    if (written) table.read(branch = Some(branch)) else table.toDF

  def append(df: DataFrame,
             extraSummary: Map[String, String] = Map.empty): TableMeta =
    table.append(df, toBranch = ensureBranch(), extraSummary = extraSummary)
  def delete(condition: Column): TableMeta =
    table.delete(condition, toBranch = ensureBranch())
  def update(assignments: Map[String, Column],
             condition: Option[Column] = None): TableMeta =
    table.update(assignments, condition, toBranch = ensureBranch())
  def overwrite(df: DataFrame): TableMeta =
    table.overwrite(df, toBranch = ensureBranch())
  def truncate(): TableMeta = table.truncate(toBranch = ensureBranch())
  def mergeByKey(key: String, keys: Seq[Any], upserts: DataFrame): TableMeta =
    table.mergeByKey(key, keys, upserts, toBranch = ensureBranch())
  def mergeByKeys(key: String, keyDf: DataFrame, upserts: DataFrame,
                  extraSummary: Map[String, String] = Map.empty,
                  nullKeyDelete: Option[Column] = None): TableMeta =
    table.mergeByKeys(key, keyDf, upserts, extraSummary,
      toBranch = ensureBranch(), nullKeyDelete = nullKeyDelete)
}

object LakeTransaction {
  /** Internal signal: the fence step found ANOTHER transaction's fence —
    * distinguished from a plain conflict so [[LakeTransaction#fenceAll]]
    * can attempt the TTL-gated recovery before aborting. */
  private[lake] final case class FencedByOther(msg: String, fence: String)
    extends RuntimeException(msg)

  /** Table property a fenced participant carries:
    * `<txnId>\t<fencedAtMs>\t<txnlog location>` — everything a blocked
    * writer needs to find the transaction log and recover. */
  private[graft] val FenceKey = "graft.txn.fence"
  /** Fence age beyond which a blocked writer may resolve the transaction
    * itself (abort it pre-decision, roll it forward post-decision). */
  private[graft] val FenceTtlKey = "graft.txn.fence-ttl-ms"
  private[graft] val DefaultFenceTtlMs = 300000L

  private[lake] def manifestName(id: String) = s"txn-$id.manifest"
  private[lake] def decisionName(id: String) = s"txn-$id.decision"
  private[lake] def doneName(id: String) = s"txn-$id.done"

  /** Idempotent per-table publish: main := branch head, branch dropped,
    * fence cleared — identity once the fence is gone, so coordinator and
    * recovering writers replay freely. */
  private[lake] def publishOne(t: LakeTable, txnId: String, branch: String,
                               branchHead: Long): Unit = {
    t.commit(fenceOwner = Some(txnId), transform = { m =>
      m.properties.get(FenceKey) match {
        case Some(v) if v.startsWith(txnId + "\t") =>
          require(m.snapshot(branchHead).isDefined,
            s"transaction $txnId: branch head $branchHead vanished " +
              "before publish")
          val moved = m.moveRef(LakeTable.MainBranch, branchHead)
          moved.copy(refs = moved.refs - branch, properties = m.properties - FenceKey)
        case _ => m // already completed (recovery or coordinator won)
      }
    })
    ()
  }

  /** Idempotent per-table abort: fence cleared if this transaction's,
    * staged branch dropped; main untouched. */
  private[lake] def abortOne(t: LakeTable, txnId: String, branch: String): Unit = {
    t.commit(fenceOwner = Some(txnId), transform = { m =>
      val m1 =
        if (m.properties.get(FenceKey).exists(_.startsWith(txnId + "\t")))
          m.copy(properties = m.properties - FenceKey)
        else m
      if (m1.refs.get(branch).exists(_.kind != "tag")) m1.copy(refs = m1.refs - branch)
      else m1
    })
    ()
  }

  /** Called by [[LakeTable.commit]] when a foreign commit meets a fence:
    * resolve the fenced transaction iff its fence is older than the
    * table's TTL. Pre-decision → abort it everywhere; post-decision →
    * roll it forward everywhere. Returns true when the fence was
    * resolved (the caller's commit retries), false when the transaction
    * is presumed live (the caller throws). */
  private[graft] def tryRecoverFence(t: LakeTable, fence: String,
                                    ttlMs: Long): Boolean = {
    val parts = fence.split("\t", 3)
    if (parts.length != 3) return false
    val Array(txnId, ts, loc) = parts
    val age = System.currentTimeMillis() - ts.toLong
    if (age < ttlMs) return false
    recover(t, txnId, loc)
    true
  }

  /** Drive a fenced transaction to its outcome from ANY participant
    * table: read the manifest, race the decision slot to "abort" (a
    * coordinator that already decided "commit" wins — we roll forward),
    * then replay the idempotent per-table step everywhere. */
  private[lake] def recover(anchor: LakeTable, txnId: String,
                            txnlogLoc: String): Unit = {
    val txnStore = anchor.metaStore.sibling(anchor.location, txnlogLoc)
    val mName = manifestName(txnId)
    if (!txnStore.exists(mName)) {
      // fence without a manifest: the protocol writes the manifest first,
      // so this is a torn/corrupt record — clear just this table's fence
      abortOne(anchor, txnId, s"txn-$txnId")
      return
    }
    val rows = txnStore.read(mName).split("\n").toSeq.filter(_.nonEmpty).map { l =>
      val Array(location, ident, fork, head) = l.split("\t", 4)
      (location, ident, fork, head.toLong)
    }
    val committed = {
      val name = decisionName(txnId)
      if (!txnStore.exists(name)) { txnStore.putIfAbsent(name, "abort".getBytes(StandardCharsets.UTF_8)); () }
      txnStore.read(name).trim == "commit"
    }
    rows.foreach { case (location, _, _, head) =>
      val pt =
        if (location == anchor.location) anchor else anchor.sibling(location)
      if (committed) publishOne(pt, txnId, s"txn-$txnId", head)
      else abortOne(pt, txnId, s"txn-$txnId")
    }
    txnStore.putIfAbsent(doneName(txnId), Array.emptyByteArray)
    ()
  }
}
