package graft.lake

import org.scalatest.funsuite.AnyFunSuite

/** The snapshot-minting transition [[TableMeta.withSnapshot]] and the ref
  * move [[TableMeta.moveRef]], on hand-built metadata: no Spark, no I/O. */
class TableMetaSpec extends AnyFunSuite {

  private def file(name: String, rows: Long, addedAt: Long = 0L): DataFile =
    DataFile(s"/t/data/$name.parquet", specId = 0, schemaId = 0, Map.empty,
      rows, sizeBytes = 1000L, Map.empty, addedSnapshotId = addedAt)

  private val empty = TableMeta(
    formatVersion = 1, tableId = "tid", name = "db.t", location = "/t",
    schemas = Seq(LakeSchema(0, Seq(LakeColumn(1, "id", "\"long\"")))),
    currentSchemaId = 0, partitionSpecs = Seq(PartitionSpec(0, Seq.empty)),
    defaultSpecId = 0, snapshots = Seq.empty, refs = Map.empty,
    history = Seq.empty, properties = Map("k" -> "v"), lastColumnId = 1,
    lastSnapshotId = 0L, version = 1)

  private val first = empty.withSnapshot("main", None, "append",
    Map("added-data-files" -> "2"), Seq(file("a", 10), file("b", 5)))

  test("a published snapshot takes the next id, advances its branch and appends history") {
    val before = System.currentTimeMillis()
    val m = first.withSnapshot("main", first.currentSnapshot, "append",
      Map("added-data-files" -> "1"), first.currentSnapshot.get.files :+ file("c", 7, 2))
    val after = System.currentTimeMillis()
    val snap = m.snapshots.last
    assert(snap.snapshotId === 2L && m.lastSnapshotId === 2L)
    assert(snap.parentId === Some(1L))
    assert(!snap.staged)
    assert(snap.timestampMs >= before && snap.timestampMs <= after)
    assert(snap.summary === Map("added-data-files" -> "1", "operation" -> "append",
      "total-records" -> "22"))
    assert(m.refs === Map("main" -> Ref(2L)))
    assert(m.history === first.history :+ HistoryEntry(snap.timestampMs, 2L, "main"))
    assert(m.currentSnapshot === Some(snap))
  }

  test("a staged snapshot is recorded but leaves refs and history untouched") {
    val m = first.withSnapshot("main", first.currentSnapshot, "overwrite",
      Map("wap.id" -> "w1"), Seq(file("d", 3)), staged = true)
    val snap = m.snapshots.last
    assert(snap.staged && snap.snapshotId === 2L && m.lastSnapshotId === 2L)
    assert(snap.summary === Map("wap.id" -> "w1", "operation" -> "overwrite",
      "total-records" -> "3"))
    assert(m.refs === first.refs)
    assert(m.history === first.history)
  }

  test("a tag is refused, published or staged, and by the ref move") {
    val tagged = first.copy(refs = first.refs + ("rel" -> Ref(1L, kind = "tag")))
    for (staged <- Seq(false, true)) {
      val e = intercept[IllegalArgumentException](tagged.withSnapshot("rel",
        tagged.snapshotFor("rel"), "append", Map.empty, Seq(file("e", 1)), staged = staged))
      assert(e.getMessage.contains("cannot write to tag rel"))
    }
    val e = intercept[IllegalArgumentException](tagged.moveRef("rel", 1L))
    assert(e.getMessage.contains("cannot write to tag rel"))
    // a branch moves, and the move is recorded
    val moved = tagged.moveRef("dev", 1L, nowMs = 42L)
    assert(moved.refs("dev") === Ref(1L))
    assert(moved.history.last === HistoryEntry(42L, 1L, "dev"))
  }

  test("total-records subtracts positional deletes; has-equality-deletes follows the live set") {
    val del = DeleteFile("/t/data/del-1.parquet", 100L, Map("a.parquet" -> 3L))
    val eq = EqualityDeleteFile("/t/data/eqdel-1.parquet", 100L, Seq(1), 0, rowCount = 2L,
      addedAt = 2L)
    val files = first.currentSnapshot.get.files
    val masked = first.withSnapshot("main", first.currentSnapshot, "overwrite",
      Map.empty, files, deleteFiles = Seq(del), eqDeleteFiles = Seq(eq))
    val snap = masked.snapshots.last
    assert(snap.liveRecords === 12L)
    assert(snap.summary("total-records") === "12")
    assert(snap.summary("has-equality-deletes") === "true")
    // a summary copied from an older snapshot cannot carry a stale flag
    val cleared = masked.withSnapshot("main", masked.currentSnapshot, "replace",
      snap.summary, files, deleteFiles = Seq(del))
    assert(!cleared.snapshots.last.summary.contains("has-equality-deletes"))
    assert(cleared.snapshots.last.summary("operation") === "replace")
    // the mask rule: strictly older files only
    assert(eq.masks(file("old", 1, addedAt = 1L)))
    assert(!eq.masks(file("same", 1, addedAt = 2L)))
  }

  test("property updates merge into the table's; manifests pre-set the chunk list") {
    val m = first.withSnapshot("main", first.currentSnapshot, "rewrite-manifests",
      Map.empty, first.currentSnapshot.get.files, manifests = Seq("manifest-x.json"),
      properties = Map("k" -> "v2", "graft.identity.next.1" -> "11"))
    assert(m.properties === Map("k" -> "v2", "graft.identity.next.1" -> "11"))
    assert(m.snapshots.last.manifests === Seq("manifest-x.json"))
    assert(first.withSnapshot("main", None, "append", Map.empty, Seq.empty)
      .properties === first.properties)
  }

  test("the transition never changes its input; ids follow lastSnapshotId past expiry") {
    val copy = first.copy()
    first.withSnapshot("main", first.currentSnapshot, "append", Map.empty, Seq(file("f", 1)))
    first.moveRef("dev", 1L)
    assert(first === copy, "a commit transform that declines returns its input unchanged")
    // snapshot 1 expired: the next id is still 2, never a reused 1
    val expired = first.copy(snapshots = Seq.empty, refs = Map.empty)
    assert(expired.withSnapshot("main", None, "append", Map.empty, Seq.empty)
      .snapshots.map(_.snapshotId) === Seq(2L))
  }
}
