package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** `delta.checkpoint.writeStatsAsStruct`: checkpoints materialize
  * `add.stats_parsed`; scans skip on the struct without JSON-parsing,
  * and tail files fall back to the stats string.
  */
class CheckpointStatsSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-ckstats").toString

  private def seeded(): DeltaTable = {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val df = Seq((1L, "a")).toDF("id", "v")
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Snapshot.nullable(df.schema)
        .asInstanceOf[org.apache.spark.sql.types.StructType].json,
      configuration = Map(
        "delta.checkpoint.writeStatsAsStruct" -> "true",
        "delta.checkpointInterval" -> "2")))
    txn.commit(Nil, Op.CreateTable) // v0
    t
  }

  private def writeRange(t: DeltaTable, from: Long, until: Long): Unit = {
    import spark.implicits._
    t.write((from until until).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1),
      SaveMode.Append)
  }

  test("checkpoint carries add.stats_parsed and replays with it") {
    val t = seeded()
    writeRange(t, 0, 100)    // v1
    writeRange(t, 100, 200)  // v2 -> checkpoint
    val fs = t.deltaLog.logPath.getFileSystem(spark.sessionState.newHadoopConf())
    val ck = CheckpointInstance(2, None).files(t.deltaLog.logPath).head
    assert(fs.exists(ck), "expected a checkpoint at v2")
    // the raw checkpoint parquet exposes the parsed struct
    val raw = spark.read.parquet(ck.toString)
    val addType = raw.schema("add").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(addType.fieldNames.contains("stats_parsed"))
    val parsed = raw.where(col("add").isNotNull)
      .select(col("add.stats_parsed.numRecords").cast("long"),
        col("add.stats_parsed.minValues.id").cast("long"),
        col("add.stats_parsed.maxValues.id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(parsed == Set((100L, 0L, 99L), (100L, 100L, 199L)))
    // the replayed snapshot threads the struct through to the file state
    val s = t.deltaLog.update()
    assert(s.activeFilesDF.columns.contains("stats_parsed"))
    assert(s.activeFilesDF.where(col("stats_parsed").isNotNull).count() == 2)
  }

  test("scans skip on the struct; post-checkpoint tail falls back to JSON") {
    import spark.implicits._
    val t = seeded()
    writeRange(t, 0, 100)    // v1
    writeRange(t, 100, 200)  // v2 -> checkpoint
    writeRange(t, 200, 300)  // v3: tail file, stats JSON only
    val s = t.deltaLog.update()
    // the tail file's stats_parsed is null but it still skips via JSON
    val scanHigh = DeltaScan(s, Some(col("id") >= 250)).files
    assert(scanHigh.size == 1, s"expected 1 file, got ${scanHigh.size}")
    val scanMid = DeltaScan(s, Some(col("id") === 150)).files
    assert(scanMid.size == 1)
    // results stay correct across checkpointed + tail files
    assert(t.toDF.count() == 300)
    assert(t.toDF.filter($"id" >= 250).count() == 50)
    assert(t.toDF.agg(sum($"id")).head().getLong(0) == (0L until 300L).sum)
  }

  test("writeStatsAsJson=false drops the JSON; readers reconstruct it") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val df = Seq((1L, "a")).toDF("id", "v")
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Snapshot.nullable(df.schema)
        .asInstanceOf[org.apache.spark.sql.types.StructType].json,
      configuration = Map(
        "delta.checkpoint.writeStatsAsStruct" -> "true",
        "delta.checkpoint.writeStatsAsJson" -> "false",
        "delta.checkpointInterval" -> "2")))
    txn.commit(Nil, Op.CreateTable)
    writeRange(t, 0, 50)
    writeRange(t, 50, 100) // -> checkpoint at v2
    val ck = CheckpointInstance(2, None).files(t.deltaLog.logPath).head
    val raw = spark.read.parquet(ck.toString)
    // the checkpoint itself has no stats JSON, only the struct
    assert(raw.where(col("add").isNotNull && col("add.stats").isNotNull).count() == 0)
    assert(raw.where(col("add.stats_parsed").isNotNull).count() == 2)
    // the snapshot reconstructs the JSON from the struct
    val s = t.deltaLog.update()
    val stats = s.allFiles.map(_.stats).filter(_ != null)
    assert(stats.size == 2 && stats.forall(_.contains("\"numRecords\":50")))
    // and skipping still works across checkpoint + fallback
    assert(DeltaScan(s, Some(col("id") >= 60)).files.size == 1)
    assert(t.toDF.count() == 100)
  }

  test("without the config, checkpoints stay struct-free") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val df = Seq((1L, "a")).toDF("id", "v")
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Snapshot.nullable(df.schema)
        .asInstanceOf[org.apache.spark.sql.types.StructType].json,
      configuration = Map("delta.checkpointInterval" -> "2")))
    txn.commit(Nil, Op.CreateTable)
    writeRange(t, 0, 10)
    writeRange(t, 10, 20)
    val ck = CheckpointInstance(2, None).files(t.deltaLog.logPath).head
    val addType = spark.read.parquet(ck.toString).schema("add").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(!addType.fieldNames.contains("stats_parsed"))
    assert(!t.deltaLog.update().activeFilesDF.columns.contains("stats_parsed"))
  }
}
