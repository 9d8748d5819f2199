package graft.delta

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** checkpointProtection table feature (public Delta spec): writers must
  * not create checkpoints below `delta.requireCheckpointProtectionBeforeVersion`,
  * and routine expired-log cleanup must sweep the protected region
  * atomically — all of [0, V) with a covering checkpoint at >= V, or
  * none of it. This is what makes DROP FEATURE ... TRUNCATE HISTORY
  * sound against concurrent writers.
  */
class CheckpointProtectionSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-ckptprot").toString

  private def sampleDF = {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
  }

  test("no checkpoint is written below the protection boundary") {
    val t = DeltaTable.forPath(spark, tmp())
    val log = t.deltaLog
    val txn0 = log.startTransaction()
    txn0.updateMetadata(Metadata(schemaString = sampleDF.schema.json,
      configuration = Map(
        "delta.requireCheckpointProtectionBeforeVersion" -> "100")))
    txn0.commit(Nil, Op.CreateTable)
    (1 to 3).foreach(_ => t.write(sampleDF))
    val s = log.update()
    log.checkpoint(s) // below the boundary: must be a silent no-op
    assert(!log.store.exists(FileNames.checkpointFile(log.logPath, s.version)),
      s"checkpoint written below protection boundary at v${s.version}")
    // lowering the boundary below the current version re-enables it
    spark.sql(s"ALTER TABLE graft.`${log.dataPath}` SET TBLPROPERTIES (" +
      "'delta.requireCheckpointProtectionBeforeVersion' = '2')")
    val s2 = log.update()
    log.checkpoint(s2)
    assert(log.store.exists(FileNames.checkpointFile(log.logPath, s2.version)))
  }

  test("truncateHistory aborts loudly when protection forbids the covering checkpoint") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val log = t.deltaLog
    t.write(sampleDF) // v0
    (1 to 3).foreach(_ => t.write(sampleDF)) // v1..v3
    // boundary ABOVE the current version: checkpoint(s) silently
    // declines, so truncateHistory must refuse to delete anything
    spark.sql(s"ALTER TABLE graft.`$dir` SET TBLPROPERTIES (" +
      "'delta.requireCheckpointProtectionBeforeVersion' = '100')")
    val before = log.listDeltaVersions().toSet
    val s = log.update()
    val e = intercept[IllegalArgumentException](log.truncateHistory(s))
    assert(e.getMessage.contains("TRUNCATE HISTORY aborted"))
    assert(log.listDeltaVersions().toSet == before,
      "truncateHistory deleted log artifacts despite having no covering checkpoint")
    assert(t.toDF.collect().length == 8L) // table still fully readable
  }

  test("foreign log carrying the feature + boundary is honored end to end") {
    // a table whose protocol/metadata were written by ANOTHER engine:
    // hand-authored spec JSON (writer v7 + checkpointProtection listed,
    // delta.requireCheckpointProtectionBeforeVersion pre-set) — never
    // stamped by our own DROP FEATURE path. Our checkpoint and cleanup
    // must honor the foreign boundary under a golden read round-trip.
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val log = t.deltaLog
    val schemaJson = sampleDF.schema.json.replace("\"", "\\\"")
    log.store.write(FileNames.deltaFile(log.logPath, 0L), Iterator(
      s"""{"commitInfo":{"timestamp":1700000000000,"operation":"CREATE TABLE","operationParameters":{},"engineInfo":"foreign-engine/3.2.0"}}""",
      s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["checkpointProtection"]}}""",
      s"""{"metaData":{"id":"f0e1d2c3-0000-4000-8000-000000000001","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{"delta.requireCheckpointProtectionBeforeVersion":"3","delta.checkpointInterval":"100"},"createdTime":1700000000000}}"""))
    (1 to 4).foreach(_ => t.write(sampleDF)) // v1..v4, our writer
    assert(t.toDF.count() == 8L) // golden round-trip of the foreign head
    // below the foreign boundary: checkpoint DECLINES
    assert(!log.checkpoint(log.snapshotForVersionAsOf(2L)))
    assert(!log.store.exists(FileNames.checkpointFile(log.logPath, 2L)))
    // at/above it: checkpoint proceeds
    assert(log.checkpoint(log.update()))
    assert(log.store.exists(FileNames.checkpointFile(log.logPath, 4L)))
    // cleanup honors the foreign protected region [0,3): partial expiry
    // sweeps nothing, full expiry sweeps it atomically
    val fs = log.logPath.getFileSystem(spark.sessionState.newHadoopConf())
    val old = System.currentTimeMillis() - 40L * 24 * 3600 * 1000
    (0L to 1L).foreach(v => fs.setTimes(FileNames.deltaFile(log.logPath, v), old, -1))
    log.checkpoint(log.update())
    assert(log.listDeltaVersions().toSet == (0L to 4L).toSet,
      s"partial protected-region sweep: ${log.listDeltaVersions()}")
    fs.setTimes(FileNames.deltaFile(log.logPath, 2L), old, -1)
    log.checkpoint(log.update())
    assert(log.listDeltaVersions().toSet == (3L to 4L).toSet,
      s"expected atomic sweep of v0..v2: ${log.listDeltaVersions()}")
    assert(t.toDF.count() == 8L)
  }

  test("expired-log cleanup sweeps the protected region atomically or not at all") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val log = t.deltaLog
    val txn0 = log.startTransaction()
    txn0.updateMetadata(Metadata(schemaString = sampleDF.schema.json,
      configuration = Map("delta.checkpointInterval" -> "100"))) // no auto ckpt
    txn0.commit(Nil, Op.CreateTable) // v0
    (1 to 5).foreach(_ => t.write(sampleDF)) // v1..v5
    spark.sql(s"ALTER TABLE graft.`$dir` SET TBLPROPERTIES (" +
      "'delta.requireCheckpointProtectionBeforeVersion' = '4')") // v6
    val fs = log.logPath.getFileSystem(spark.sessionState.newHadoopConf())
    val old = System.currentTimeMillis() - 40L * 24 * 3600 * 1000
    // age v0..v2 past the 30-day default retention, but NOT v3: part of
    // the protected region [0,4) survives, so NOTHING below 4 may go
    (0L to 2L).foreach(v => fs.setTimes(FileNames.deltaFile(log.logPath, v), old, -1))
    log.checkpoint(log.update()) // triggers cleanUpExpiredLogs
    assert(log.listDeltaVersions().toSet == (0L to 6L).toSet,
      s"partial protected-region sweep: ${log.listDeltaVersions()}")
    // age v3 as well: the WHOLE region is now expired and goes in one
    // sweep, covered by the checkpoint at the current version (>= 4)
    fs.setTimes(FileNames.deltaFile(log.logPath, 3L), old, -1)
    log.checkpoint(log.update())
    assert(log.listDeltaVersions().toSet == (4L to 6L).toSet,
      s"expected atomic sweep of v0..v3: ${log.listDeltaVersions()}")
    assert(t.toDF.count() == 10L) // 5 writes of 2 rows, state intact
  }
}
