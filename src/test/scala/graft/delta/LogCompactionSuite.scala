package graft.delta

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Minor log compaction (`<s>.<e>.compacted.json`): reconciled ranges
  * substituted for raw deltas at replay — O(compactions) tail reads
  * instead of O(versions) between checkpoints.
  */
class LogCompactionSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-lc").toString

  private def seed(from: Int, until: Int) = {
    import spark.implicits._
    (from until until).map(i => (i.toLong, s"row$i")).toDF("id", "v")
  }

  private def logFiles(t: DeltaTable): Seq[String] = {
    val fs = t.deltaLog.logPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(t.deltaLog.logPath).map(_.getPath.getName).toSeq.sorted
  }

  test("compactDeltas reconciles a range and replay substitutes it") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = seed(0, 1).schema.json,
      configuration = Map("delta.checkpointInterval" -> "1000")))
    txn.commit(Nil, Op.CreateTable)                          // v0
    t.write(seed(0, 4).coalesce(1), SaveMode.Append)         // v1
    t.write(seed(4, 8).coalesce(1), SaveMode.Append)         // v2
    t.write(seed(100, 102).coalesce(1), SaveMode.Overwrite)  // v3: removes v1/v2 adds
    t.write(seed(8, 10).coalesce(1), SaveMode.Append)        // v4
    t.deltaLog.compactDeltas(0, 3)
    assert(logFiles(t).exists(_.endsWith(".compacted.json")))
    // fresh log: replay must hit the compacted file for [0,3] + raw v4
    val log2 = new DeltaLog(spark, t.deltaLog.dataPath)
    val snap = log2.update()
    assert(snap.version == 4)
    assert(snap.segment.compacted == Seq((0L, 3L)),
      s"segment must substitute the range, got ${snap.segment}")
    assert(snap.segment.deltas == Seq(4L))
    assert(snap.allFiles.size == 2, "overwrite reconciliation inside the range")
    val ids = DeltaTable.forPath(spark, log2.dataPath.toString).toDF
      .select("id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(8L, 9L, 100L, 101L))
    // tombstones survive compaction (VACUUM depends on them)
    assert(snap.tombstonesDF.count() == 2)
  }

  test("auto compaction on delta.logCompaction.interval, correctness across windows") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = seed(0, 1).schema.json,
      configuration = Map(
        "delta.checkpointInterval" -> "1000",
        "delta.logCompaction.interval" -> "3")))
    txn.commit(Nil, Op.CreateTable)                       // v0
    (0 until 7).foreach(k =>
      t.write(seed(k * 2, k * 2 + 2).coalesce(1), SaveMode.Append)) // v1..v7
    val compacted = logFiles(t).filter(_.endsWith(".compacted.json"))
    assert(compacted == Seq(
      f"${0L}%020d.${2L}%020d.compacted.json",
      f"${3L}%020d.${5L}%020d.compacted.json"),
      s"windows of 3, got $compacted")
    val snap = new DeltaLog(spark, t.deltaLog.dataPath).update()
    assert(snap.segment.compacted == Seq((0L, 2L), (3L, 5L)))
    assert(snap.segment.deltas == Seq(6L, 7L))
    assert(snap.allFiles.size == 7)
    val ids = DeltaTable.forPath(spark, snap.deltaLog.dataPath.toString).toDF
      .select("id").as[Long].collect().sorted
    assert(ids.toSeq == (0L until 14L))
    // metadata committed inside a window survives (latest-metadata rule)
    val t2 = DeltaTable.forPath(spark, snap.deltaLog.dataPath.toString)
    assert(t2.snapshot.metadataOpt.isDefined)
  }

  test("SetTransaction / metadata / protocol reconcile to latest in the range") {
    val t = DeltaTable.forPath(spark, tmp())
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = seed(0, 1).schema.json,
      configuration = Map("delta.checkpointInterval" -> "1000")))
    txn.commit(Nil, Op.CreateTable)                          // v0
    val tx1 = t.deltaLog.startTransaction()
    tx1.commit(Seq(SetTransaction("app", 1, None)), "txn")   // v1
    val tx2 = t.deltaLog.startTransaction()
    tx2.commit(Seq(SetTransaction("app", 7, None)), "txn")   // v2
    t.write(seed(0, 2).coalesce(1), SaveMode.Append)         // v3
    t.deltaLog.compactDeltas(0, 3)
    val snap = new DeltaLog(spark, t.deltaLog.dataPath).update()
    assert(snap.segment.compacted == Seq((0L, 3L)))
    assert(snap.setTransactions.find(_.appId == "app").map(_.version).contains(7L),
      "latest SetTransaction per app must survive")
    assert(snap.metadataOpt.isDefined && snap.protocol != null)
  }

  test("expired-log cleanup sweeps compacted files below the checkpoint") {
    val t = DeltaTable.forPath(spark, tmp())
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = seed(0, 1).schema.json,
      configuration = Map(
        "delta.checkpointInterval" -> "4",
        "delta.logCompaction.interval" -> "2",
        "delta.logRetentionDuration" -> "interval 0 millisecond")))
    txn.commit(Nil, Op.CreateTable)                       // v0
    (0 until 4).foreach(k =>
      t.write(seed(k, k + 1).coalesce(1), SaveMode.Append)) // v1..v4 (ckpt at v4 sweeps)
    val names = logFiles(t)
    assert(!names.exists(_.endsWith(".compacted.json")),
      s"compacted files below the checkpoint must be swept, got $names")
    assert(t.toDF.count() == 4)
  }
}
