package graft.lake

import org.scalatest.funsuite.AnyFunSuite

/** The snapshot-minting transition [[TableMeta.withSnapshot]], the ref
  * move [[TableMeta.moveRef]] and the history reads ([[TableMeta.ancestry]],
  * [[TableMeta.commitsBetween]], [[CommitDiff]], the referenced sets) and
  * the table-link lists ([[Links]]), on hand-built metadata: no Spark, no
  * I/O. */
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

  // history: 1 → 2 → 5 → 6 on main, 3 on branch dev off 2, and 4 a
  // staged overwrite planned against 2. Commit 5 rewrites b into b2 and
  // adds a position delete (with a deletion vector) and an equality
  // delete; 6 appends e and keeps 5's deletes.
  private val del = DeleteFile("/t/data/del-5.parquet", 100L, Map("a.parquet" -> 1L),
    dv = Map("a.parquet" -> DvRef("/t/data/dv-5.bin", 0L, 16)))
  private val eqDel = EqualityDeleteFile("/t/data/eqdel-5.parquet", 100L, Seq(1), 0,
    rowCount = 1L, addedAt = 5L)
  private val history = {
    val m2 = first.withSnapshot("main", first.currentSnapshot, "append", Map("k" -> "v2"),
      first.currentSnapshot.get.files :+ file("c", 1, 2))
    val files2 = m2.currentSnapshot.get.files
    val m3 = m2.moveRef("dev", 2L).withSnapshot("dev", m2.snapshot(2L), "append",
      Map("k" -> "dev", "only-dev" -> "x"), files2 :+ file("d", 1, 3))
    val m4 = m3.withSnapshot("main", m3.currentSnapshot, "overwrite",
      Map("wap.id" -> "w1", "k" -> "staged"), Seq(file("w", 1, 4)), staged = true)
    val m5 = m4.withSnapshot("main", m4.currentSnapshot, "overwrite", Map("only-5" -> "y"),
      files2.filterNot(_.path.contains("/b.")) :+ file("b2", 5, 5),
      deleteFiles = Seq(del), eqDeleteFiles = Seq(eqDel))
    val m6 = m5.withSnapshot("main", m5.currentSnapshot, "append", Map("k" -> "v6"),
      m5.currentSnapshot.get.files :+ file("e", 1, 6),
      deleteFiles = Seq(del), eqDeleteFiles = Seq(eqDel))
    m6.copy(snapshots = m6.snapshots.map(s => s.copy(
      manifests = Seq(s"manifest-${s.snapshotId}.json"),
      manifestList = Some(s"manifest-list-${s.snapshotId}.json"),
      deleteManifest = if (s.deleteFiles.isEmpty) None else Some("manifest-del-5.json"))))
  }
  private def ids(it: IterableOnce[Snapshot]): Seq[Long] = it.iterator.map(_.snapshotId).toSeq

  test("ancestry: newest first from main and from a side branch, never a staged snapshot") {
    assert(ids(history.ancestry(history.currentSnapshot)) === Seq(6L, 5L, 2L, 1L))
    assert(ids(history.ancestry(history.snapshotFor("dev"))) === Seq(3L, 2L, 1L))
    assert(ids(history.ancestry(history.snapshot(4L))) === Seq(4L, 2L, 1L),
      "a staged snapshot's own chain is its planning parent's")
    assert(history.ancestry(None).isEmpty)
    assert(history.latestSummary("k") === Some("v6"))
    assert(history.latestSummary("only-5") === Some("y"))
    assert(history.latestSummary("only-dev") === None, "a side branch is not on main")
    assert(history.latestSummary("wap.id") === None, "a staged snapshot is not on main")
  }

  test("commitsBetween: (from, to] oldest first; empty when equal; None off the chain") {
    assert(history.commitsBetween(Some(2L), 6L).map(ids) === Some(Seq(5L, 6L)))
    assert(history.commitsBetween(None, 6L).map(ids) === Some(Seq(1L, 2L, 5L, 6L)))
    assert(history.commitsBetween(Some(6L), 6L) === Some(Seq.empty))
    assert(history.commitsBetween(Some(3L), 6L) === None, "dev's head is not on main")
    assert(history.commitsBetween(Some(4L), 6L) === None, "nor is the staged snapshot")
    assert(history.commitsBetween(Some(6L), 2L) === None, "a descendant is not an ancestor")
    assert(history.commitsBetween(Some(2L), 3L).map(ids) === Some(Seq(3L)))
    assert(history.commitsBetween(Some(1L), 99L) === None)
    assert(history.commitsBetween(None, 99L) === Some(Seq.empty))
  }

  test("an expired middle parent ends the chain; from behind the gap is None") {
    val expired = history.copy(snapshots = history.snapshots.filterNot(_.snapshotId == 2L))
    assert(ids(expired.ancestry(expired.currentSnapshot)) === Seq(6L, 5L))
    assert(expired.commitsBetween(Some(1L), 6L) === None)
    assert(expired.commitsBetween(Some(2L), 6L) === None)
    assert(expired.commitsBetween(None, 6L).map(ids) === Some(Seq(5L, 6L)))
    assert(expired.commitsBetween(Some(5L), 6L).map(ids) === Some(Seq(6L)))
    assert(expired.parentOf(expired.snapshot(5L).get) === None)
    // with nothing before it, all of 5's files and deletes count as added
    val d = expired.commitDiff(expired.snapshot(5L).get)
    assert(d.added === expired.snapshot(5L).get.files && d.removed.isEmpty)
    assert(d.addedDeletes === Seq(del) && d.addedEqDeletes === Seq(eqDel))
  }

  test("commit diff: rewritten files, added position and equality deletes") {
    val s5 = history.snapshot(5L).get
    val d5 = history.commitDiff(s5)
    assert(d5.added.map(_.path) === Seq("/t/data/b2.parquet"))
    assert(d5.removed.map(_.path) === Seq("/t/data/b.parquet"))
    assert(d5.addedDeletes === Seq(del) && d5.addedEqDeletes === Seq(eqDel))
    assert(!d5.adds(file("a", 10)) && d5.adds(file("b2", 5, 5)))
    // carried deletes are not new; an append removes nothing
    val d6 = history.commitDiff(history.snapshot(6L).get)
    assert(d6.added.map(_.path) === Seq("/t/data/e.parquet"))
    assert(d6.removed.isEmpty && d6.addedDeletes.isEmpty && d6.addedEqDeletes.isEmpty)
    // a file list not yet committed diffs against a snapshot the same way
    val planned = CommitDiff(Some(s5), Seq(file("a", 10), file("z", 1)))
    assert(planned.added.map(_.path) === Seq("/t/data/z.parquet"))
    assert(planned.removed.map(_.path).sorted ===
      Seq("/t/data/b2.parquet", "/t/data/c.parquet"))
    assert(CommitDiff(None, s5).removed.isEmpty)
  }

  test("referenced sets: data, delete, DV-bundle and equality-delete paths; metadata names") {
    val files = history.referencedFiles
    assert(files === Set("a", "b", "c", "d", "w", "b2", "e").map(n => s"/t/data/$n.parquet") ++
      Set("/t/data/del-5.parquet", "/t/data/dv-5.bin", "/t/data/eqdel-5.parquet"))
    assert(history.referencedMetadata === (1 to 6).flatMap(i =>
      Seq(s"manifest-$i.json", s"manifest-list-$i.json")).toSet + "manifest-del-5.json")
    // only the retained snapshots count
    val kept = history.copy(snapshots = history.snapshots.filter(_.snapshotId >= 6L))
    assert(kept.referencedFiles === Set("a", "c", "b2", "e").map(n => s"/t/data/$n.parquet") ++
      Set("/t/data/del-5.parquet", "/t/data/dv-5.bin", "/t/data/eqdel-5.parquet"))
    assert(kept.referencedMetadata ===
      Set("manifest-6.json", "manifest-list-6.json", "manifest-del-5.json"))
    // the history reads are not serialized: the version JSON keeps its fields
    val json = Meta.toJson(history)
    Seq("ancestry", "referenced", "latestSummary", "commitDiff", "parentOf",
        "currentSnapshot", "liveRecords").foreach(k =>
      assert(!json.contains(k), s"$k leaked into the version JSON"))
  }

  private val K = "graft.ivm.views"

  test("Links.of: empty elements ignored, order kept") {
    assert(Links.of(Map(K -> "/w/b;;/w/a;"), K) === Seq("/w/b", "/w/a"))
    assert(Links.of(Map(K -> ";"), K).isEmpty)
    assert(Links.of(Map.empty, K).isEmpty)
    assert(Links.everywhere(Map(K -> "/w/b;", "x" -> "1")) === Seq("/w/b", "1"))
  }

  test("Links.add: appends at the end, once; an unchanged list is the same map") {
    val one = Links.add(K, "/w/a")(Map("x" -> "1"))
    assert(one === Map("x" -> "1", K -> "/w/a"))
    val two = Links.add(K, "/w/b")(one)
    assert(two(K) === "/w/a;/w/b")
    assert(Links.add(K, "/w/a")(two) eq two)
    assert(Links.add(K, "/w/b")(Links.add(K, "/w/b")(one)) === two)
  }

  test("Links.remove: the key goes when the list empties; an absent location changes nothing") {
    val props = Map("x" -> "1", K -> "/w/a;/w/b")
    assert(Links.remove(K, "/w/a")(props) === Map("x" -> "1", K -> "/w/b"))
    assert(Links.remove(K, "/w/b")(Links.remove(K, "/w/a")(props)) === Map("x" -> "1"))
    assert(Links.remove(K, "/w/c")(props) eq props)
    assert(Links.remove("graft.clone-locations", "/w/a")(props) eq props)
  }

  test("Links.relocate: only matching elements change; other values stay byte-identical") {
    val props = Map(K -> "/w/a;/w/old;/w/c", "graft.ivm.base-location" -> "/w/old",
      "note" -> "see ticket 12;", "sep" -> ";", "a" -> "a;", "near" -> "/w/old2")
    val moved = Links.relocate("/w/old", "/w/new")(props)
    assert(moved === props ++ Map(K -> "/w/a;/w/new;/w/c",
      "graft.ivm.base-location" -> "/w/new"))
    assert(Links.relocate("/w/new", "/w/old")(moved) === props)
    val untouched = Map("note" -> "see ticket 12;", "sep" -> ";", "a" -> "a;")
    assert(Links.relocate("/w/old", "/w/new")(untouched) === untouched)
  }
}
