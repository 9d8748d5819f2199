package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

import DeltaErrors._

/** Row tracking (A46) + domain metadata (A47): stable per-row ids
  * assigned from a transactional high-water mark, preserved across
  * DV deletes and OPTIMIZE rewrites.
  */
class RowTrackingSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-rt").toString

  private def seed(from: Int, until: Int) = {
    import spark.implicits._
    (from until until).map(i => (i.toLong, s"row$i")).toDF("id", "v")
  }

  private def rtTable(extraConf: Map[String, String] = Map.empty): DeltaTable = {
    val t = DeltaTable.forPath(spark, tmp())
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = seed(0, 1).schema.json,
      configuration = Map("delta.enableRowTracking" -> "true") ++ extraConf))
    txn.commit(Nil, Op.CreateTable)
    t
  }

  test("appends assign contiguous baseRowId ranges and bump the high-water mark") {
    val t = rtTable()
    t.write(seed(0, 5).coalesce(1), SaveMode.Append)  // v1: rows 0..4
    t.write(seed(5, 8).coalesce(1), SaveMode.Append)  // v2: rows 5..7
    val files = t.snapshot.allFiles.sortBy(_.baseRowId.get)
    assert(files.map(_.baseRowId) == Seq(Some(0L), Some(5L)))
    assert(files.map(_.defaultRowCommitVersion) == Seq(Some(1L), Some(2L)))
    assert(RowTracking.highWaterMark(t.snapshot.domainMetadata) == 7L)
    // protocol carries the writer features, reader version untouched
    val p = t.snapshot.protocol
    assert(p.minWriterVersion == 7)
    assert(p.writerFeatures.exists(f =>
      f.contains("rowTracking") && f.contains("domainMetadata")))
    assert(p.minReaderVersion == 1)
  }

  test("toDFWithRowIds: fresh ids are baseRowId + position") {
    val t = rtTable()
    t.write(seed(0, 6).coalesce(1).orderBy("id"), SaveMode.Append)
    val got = t.toDFWithRowIds.select("id", "row_id", "row_commit_version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.map(_._2).toSeq == (0L until 6L))
    assert(got.forall(_._3 == 1L))
  }

  test("DV delete keeps surviving row ids; OPTIMIZE materializes them") {
    val t = rtTable(Map("delta.enableDeletionVectors" -> "true"))
    t.write(seed(0, 10).coalesce(1).orderBy("id"), SaveMode.Append)
    val before = t.toDFWithRowIds.select("id", "row_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    t.delete(col("id") % 2 === 0) // DV path: file kept, rows masked
    val afterDelete = t.toDFWithRowIds.select("id", "row_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterDelete == before.view.filterKeys(_ % 2 == 1).toMap,
      "DV delete must not disturb surviving row ids")
    t.compact() // rewrites the file, materializing ids
    val afterOptimize = t.toDFWithRowIds.select("id", "row_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterOptimize == afterDelete,
      "OPTIMIZE must preserve row ids via materialized columns")
    // and the rewritten file's FRESH range is above the old mark (no reuse)
    val f = t.snapshot.allFiles.loneElement
    assert(f.baseRowId.exists(_ >= 10L))
    // normal reads are unaffected by the extra physical columns
    assert(t.toDF.columns.toSeq == Seq("id", "v"))
    assert(t.toDF.count() == 5L)
  }

  private implicit class LoneElement[T](s: Seq[T]) {
    def loneElement: T = { assert(s.size == 1, s"expected 1 element, got $s"); s.head }
  }

  test("concurrent appends from the same snapshot get disjoint id ranges") {
    val t = rtTable()
    t.write(seed(0, 4).coalesce(1), SaveMode.Append) // rows 0..3
    // two transactions racing from the same snapshot
    val log = t.deltaLog
    val snap = log.update()
    // crafted adds with stats only: the assignment logic needs numRecords,
    // not readable files
    def addFor(n: Int): Seq[Action] =
      Seq(AddFile(s"part-race-$n.parquet", Map.empty, 1L, 0L,
        stats = s"""{"numRecords":$n}"""))
    val txn1 = new OptimisticTransaction(log, snap)
    val txn2 = new OptimisticTransaction(log, snap)
    txn1.commit(addFor(3), Op.Write)  // ids 4..6
    txn2.commit(addFor(2), Op.Write)  // retries, ids 7..8
    val byPath = log.update().allFiles.map(f => f.path -> f).toMap
    val a1 = byPath("part-race-3.parquet")
    val a2 = byPath("part-race-2.parquet")
    assert(a1.baseRowId.contains(4L))
    assert(a2.baseRowId.contains(7L), s"loser must reassign above winner, got ${a2.baseRowId}")
    assert(RowTracking.highWaterMark(log.update().domainMetadata) == 8L)
  }

  test("a declared high-water mark is clamped against concurrent winners") {
    // CONVERT FROM ICEBERG declares the imported mark as an explicit
    // DomainMetadata; the domain is exempt from conflict detection, so
    // a retrying commit must never overwrite a winner's HIGHER mark
    // with its stale declared value (duplicate row ids would follow)
    val t = rtTable()
    t.write(seed(0, 4).coalesce(1), SaveMode.Append) // rows 0..3, hwm 3
    val log = t.deltaLog
    val snap = log.update()
    val txn1 = new OptimisticTransaction(log, snap)
    val txn2 = new OptimisticTransaction(log, snap)
    // winner: fresh assignment raises the mark to 8
    txn1.commit(Seq(AddFile("part-winner.parquet", Map.empty, 1L, 0L,
      stats = """{"numRecords":5}""")), Op.Write)
    // loser: an imported add (baseRowId pre-set) + a DECLARED mark of 5
    // — stale relative to the winner; the retry must clamp it to 8
    txn2.commit(Seq(
      AddFile("part-import.parquet", Map.empty, 1L, 0L,
        stats = """{"numRecords":2}""", baseRowId = Some(4L)),
      DomainMetadata(RowTracking.Domain, RowTracking.configJson(5L))), Op.Write)
    assert(RowTracking.highWaterMark(log.update().domainMetadata) == 8L,
      "stale declared mark must not lower the winner's high-water mark")
    // and a subsequent fresh assignment starts above it
    t.write(seed(100, 101).coalesce(1), SaveMode.Append)
    assert(RowTracking.highWaterMark(log.update().domainMetadata) >= 9L)
  }

  test("a declared mark with NO fresh row-id assignment still re-clamps per retry") {
    // the declaresRtDomain-only path: a commit of only removes plus the
    // declared mark (e.g. a mirror re-sync that shrinks the table) has
    // needsRowIds=false, so without per-attempt serialization attempt 0's
    // clamped value would be re-written verbatim over a concurrent
    // winner's HIGHER mark
    val t = rtTable()
    t.write(seed(0, 4).coalesce(1), SaveMode.Append) // rows 0..3, hwm 3
    val log = t.deltaLog
    val snap = log.update()
    val victim = snap.allFiles.head
    val txn1 = new OptimisticTransaction(log, snap)
    val txn2 = new OptimisticTransaction(log, snap)
    // winner: fresh assignment raises the mark to 8
    txn1.commit(Seq(AddFile("part-winner2.parquet", Map.empty, 1L, 0L,
      stats = """{"numRecords":5}""")), Op.Write)
    // loser: a remove + a stale declared mark of 5 — no adds at all
    txn2.commit(Seq(
      RemoveFile(victim.path, Some(1L), dataChange = true),
      DomainMetadata(RowTracking.Domain, RowTracking.configJson(5L))),
      Op.Delete)
    assert(RowTracking.highWaterMark(log.update().domainMetadata) == 8L,
      "retried declared-only commit must re-clamp against the winner")
  }

  test("high-water mark and baseRowIds survive a checkpoint") {
    val t = rtTable(Map("delta.checkpointInterval" -> "3"))
    (0 until 4).foreach(i => t.write(seed(i * 2, i * 2 + 2).coalesce(1), SaveMode.Append))
    assert(Checkpoints.readLastCheckpoint(t.deltaLog.store, t.deltaLog.logPath).isDefined)
    // fresh DeltaLog instance: replay must come from checkpoint + tail
    val snap2 = new DeltaLog(spark, t.deltaLog.dataPath).update()
    assert(RowTracking.highWaterMark(snap2.domainMetadata) == 7L)
    assert(snap2.allFiles.flatMap(_.baseRowId).sorted == Seq(0L, 2L, 4L, 6L))
    val ids = t.toDFWithRowIds.select("id", "row_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids.values.toSeq.sorted == (0L until 8L))
  }

  test("user domain metadata: set, read back, remove, conflict") {
    val t = rtTable()
    t.setDomainMetadata("app.pipeline", """{"watermark":42}""")
    assert(t.domainMetadata("app.pipeline") == """{"watermark":42}""")
    // concurrent same-domain writers conflict
    val snap = t.deltaLog.update()
    val txn1 = new OptimisticTransaction(t.deltaLog, snap)
    val txn2 = new OptimisticTransaction(t.deltaLog, snap)
    txn1.commit(Seq(DomainMetadata("app.pipeline", """{"watermark":43}""")), Op.SetDomainMetadata)
    intercept[DomainMetadataChangedException] {
      txn2.commit(Seq(DomainMetadata("app.pipeline", """{"watermark":99}""")), Op.SetDomainMetadata)
    }
    t.removeDomainMetadata("app.pipeline")
    assert(!t.domainMetadata.contains("app.pipeline"))
    // reserved prefix rejected on the public API
    intercept[IllegalArgumentException] { t.setDomainMetadata("delta.rowTracking", "{}") }
  }

  test("commitLarge assigns row ids on the streaming path") {
    val t = rtTable()
    t.write(seed(0, 4).coalesce(1), SaveMode.Append) // ids 0..3
    t.write(seed(100, 104).coalesce(1), SaveMode.Overwrite) // removes stream as a Dataset body
    val f = t.snapshot.allFiles.loneElement
    assert(f.baseRowId.contains(4L), s"streamed add must continue above mark, got ${f.baseRowId}")
    assert(RowTracking.highWaterMark(t.snapshot.domainMetadata) == 7L)
  }

  test("an add without record stats fails a row-tracked commit and leaves no file in the log") {
    import spark.implicits._
    val t = rtTable()
    val v = t.deltaLog.update().version
    val bare = AddFile("bare.parquet", Map.empty, 1L, 1L)
    intercept[IllegalStateException] {
      t.deltaLog.startTransaction().commit(Seq(bare), Op.Write)
    }
    intercept[IllegalStateException] {
      t.deltaLog.startTransaction().commit(Nil, Seq(bare.wrap).toDS(), Op.Write, Map.empty)
    }
    assert(t.deltaLog.update().version == v)
    val leftovers = new java.io.File(t.deltaLog.logPath.toUri.getPath).list()
      .filter(_.contains(".tmp"))
    assert(leftovers.isEmpty, leftovers.mkString(", "))
  }

  test("classic DELETE and UPDATE rewrites preserve row ids and versions") {
    val t = rtTable() // no DVs: DML takes the rewrite path
    t.write(seed(0, 8).coalesce(1).orderBy("id"), SaveMode.Append) // v1, ids 0..7
    def state() = t.toDFWithRowIds.select("id", "row_id", "row_commit_version")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val before = state()
    t.delete(col("id") >= 6) // v2 rewrites the file; 0..5 survive
    val afterDelete = state()
    assert(afterDelete == before.view.filterKeys(_ < 6).toMap,
      "survivors must keep id AND commit version through a rewrite delete")
    val vUpd = t.update(col("id") === 3, Map("v" -> lit("updated")))
    val afterUpdate = state()
    assert(afterUpdate.view.mapValues(_._1).toMap ==
      afterDelete.view.mapValues(_._1).toMap, "UPDATE must keep every row id")
    assert(afterUpdate(3L)._2 == vUpd, "updated row advances to the update commit")
    assert(afterUpdate.filterNot(_._1 == 3L) == afterDelete.filterNot(_._1 == 3L),
      "untouched rows keep their old commit version")
  }

  test("MERGE preserves ids for pass-through and updated rows; inserts get fresh ids") {
    import spark.implicits._
    val t = rtTable()
    t.write(seed(0, 6).coalesce(1).orderBy("id"), SaveMode.Append) // v1, ids 0..5
    def state() = t.toDFWithRowIds.select("id", "row_id", "row_commit_version")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val before = state()
    val src = Seq((3L, "x3"), (99L, "fresh")).toDF("id", "v")
    val vMerge = t.merge(src, col("t.id") === col("s.id"))
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    val after = state()
    (0L until 6L).foreach { i =>
      assert(after(i)._1 == before(i)._1, s"row $i id must survive MERGE")
    }
    assert(after(3L)._2 == vMerge)
    ((0L until 6L).filterNot(_ == 3L)).foreach { i =>
      assert(after(i)._2 == before(i)._2, s"pass-through row $i keeps its version")
    }
    assert(after(99L)._1 > RowTracking.highWaterMark(t.snapshot.domainMetadata) - 10,
      "insert gets a fresh id")
    assert(!before.values.map(_._1).toSet.contains(after(99L)._1))
  }

  test("RESTORE keeps original row ids on re-added files") {
    val t = rtTable()
    t.write(seed(0, 5).coalesce(1), SaveMode.Append)      // v1, ids 0..4
    t.write(seed(5, 7).coalesce(1), SaveMode.Overwrite)   // v2 replaces
    t.restoreToVersion(1)
    val f = t.snapshot.allFiles.loneElement
    assert(f.baseRowId.contains(0L), "restored file must keep its original baseRowId")
    val ids = t.toDFWithRowIds.select("id", "row_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids == (0L until 5L).map(i => i -> i).toMap)
  }

  test("backfillRowIds rewrites only the pre-enablement files") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(schemaString = seed(0, 1).schema.json))
    txn.commit(Nil, Op.CreateTable)
    t.write(seed(0, 4).coalesce(1), SaveMode.Append) // v1: no row tracking yet
    // enable row tracking mid-life
    val txn2 = t.deltaLog.startTransaction()
    txn2.updateMetadata(txn2.metadata.copy(configuration =
      txn2.metadata.configuration + ("delta.enableRowTracking" -> "true")))
    txn2.commit(Nil, Op.SetTableProperties) // v2
    t.write(seed(4, 6).coalesce(1), SaveMode.Append) // v3: tracked, ids 0..1
    val tracked = t.snapshot.allFiles.filter(_.baseRowId.isDefined).map(_.path)
    assert(tracked.size == 1)
    // legacy rows read as null ids until backfilled
    val before = t.toDFWithRowIds.select("id", "row_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert((0L until 4L).forall(before(_).isEmpty))
    assert((4L until 6L).forall(before(_).isDefined))
    t.backfillRowIds()
    val files = t.snapshot.allFiles
    assert(files.forall(_.baseRowId.isDefined))
    assert(files.map(_.path).intersect(tracked) == tracked,
      "already-tracked files must not be rewritten")
    val after = t.toDFWithRowIds.select("id", "row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.values.toSeq.distinct.size == 6, "all rows get unique real ids")
    assert((4L until 6L).forall(i => Some(after(i)) == before(i)),
      "tracked rows keep their ids through the backfill")
    // idempotent: nothing left to backfill -> no new commit
    val v = t.snapshot.version
    t.backfillRowIds()
    assert(t.snapshot.version == v)
  }

  test("schema colliding with materialized column names is rejected") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val txn = t.deltaLog.startTransaction()
    val bad = Seq((1L, 2L)).toDF("id", RowTracking.MatRowId)
    txn.updateMetadata(Metadata(
      schemaString = bad.schema.json,
      configuration = Map("delta.enableRowTracking" -> "true")))
    intercept[IllegalArgumentException] { txn.commit(Nil, Op.CreateTable) }
  }

  test("enabling row tracking stamps the materialized-column-name config keys") {
    val t = rtTable()
    val conf = t.snapshot.metadata.configuration
    assert(conf.get(RowTracking.MatRowIdConfigKey).contains(RowTracking.MatRowId))
    assert(conf.get(RowTracking.MatRowCommitVersionConfigKey)
      .contains(RowTracking.MatRowCommitVersion))
    // a Dataset-bodied commit stamps them too
    import spark.implicits._
    val t2 = DeltaTable.forPath(spark, tmp())
    val txn = t2.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = seed(0, 1).schema.json,
      configuration = Map("delta.enableRowTracking" -> "true")))
    txn.commit(Nil, spark.emptyDataset[SingleAction], Op.CreateTable, Map.empty)
    assert(t2.snapshot.metadata.configuration
      .get(RowTracking.MatRowIdConfigKey).contains(RowTracking.MatRowId))
  }

  test("tables declaring foreign materialized column names are rejected") {
    // an external writer materialized ids under its own generated name;
    // honoring the table would silently drop those ids on every read
    val e = intercept[IllegalArgumentException] {
      rtTable(Map(RowTracking.MatRowIdConfigKey -> "_row_id_col_abc123"))
    }
    assert(e.getMessage.contains(RowTracking.MatRowIdConfigKey))
  }
}
