package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** ALTER TABLE DROP FEATURE: a feature leaves the protocol only when
  * the current state carries no trace of it; reader+writer features
  * additionally demand TRUNCATE HISTORY (historical commits may still
  * use them — and afterwards they really are gone: time travel below
  * the drop version fails).
  */
class DropFeatureSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-dropfeat").toString

  private def seeded(): DeltaTable = {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    // one file: deleting one row leaves it a live row, so the delete
    // writes a DV rather than removing the file
    t.write(Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "name", "score").coalesce(1))
    t
  }

  test("writer feature: blocked while traces exist, droppable after removal") {
    val t = seeded()
    t.addConstraint("score_pos", "score > 0")
    assert(t.snapshot.protocol.minWriterVersion == 3)
    // upgrade to table features so the feature is listed explicitly
    spark.sql(s"ALTER TABLE graft.`${t.deltaLog.dataPath}` SET TBLPROPERTIES (" +
      "'delta.feature.checkConstraints' = 'supported')")
    assert(t.snapshot.protocol.writerFeatures.exists(_.contains("checkConstraints")))
    val ex = intercept[IllegalStateException](t.dropFeature("checkConstraints"))
    assert(ex.getMessage.contains("score_pos"))
    t.dropConstraint("score_pos")
    t.dropFeature("checkConstraints")
    assert(!t.snapshot.protocol.writerFeatures.exists(_.contains("checkConstraints")))
    // history records the drop
    val hist = spark.sql(s"DESCRIBE HISTORY graft.`${t.deltaLog.dataPath}` LIMIT 1")
      .collect().head
    assert(hist.getString(hist.fieldIndex("operation")) == Op.DropFeature)
    // writes still work without the feature
    import spark.implicits._
    t.write(Seq((3L, "c", -5)).toDF("id", "name", "score"))
    assert(t.toDF.count() == 3)
  }

  test("reader+writer feature needs TRUNCATE HISTORY; time travel dies at the drop") {
    import spark.implicits._
    val t = seeded()
    spark.sql(s"ALTER TABLE graft.`${t.deltaLog.dataPath}` SET TBLPROPERTIES (" +
      "'delta.enableDeletionVectors' = 'true')")
    t.delete(col("id") === 1L) // writes a DV
    assert(t.snapshot.protocol.readerFeatures.exists(_.contains("deletionVectors")))
    // live DV + config on: refused
    val ex1 = intercept[IllegalStateException] {
      spark.sql(s"ALTER TABLE graft.`${t.deltaLog.dataPath}` " +
        "DROP FEATURE deletionVectors TRUNCATE HISTORY").collect()
    }
    assert(ex1.getMessage.contains("delta.enableDeletionVectors") ||
      ex1.getMessage.contains("deletion vectors"), ex1.getMessage)
    // clear the traces: config off + purge materializes the DVs away
    spark.sql(s"ALTER TABLE graft.`${t.deltaLog.dataPath}` UNSET TBLPROPERTIES " +
      "('delta.enableDeletionVectors')")
    t.reorgPurge()
    // without TRUNCATE HISTORY: still refused (reader feature)
    val ex2 = intercept[IllegalArgumentException](t.dropFeature("deletionVectors"))
    assert(ex2.getMessage.contains("TRUNCATE HISTORY"))
    val vDrop = t.deltaLog.update().version + 1
    spark.sql(s"ALTER TABLE graft.`${t.deltaLog.dataPath}` " +
      "DROP FEATURE deletionVectors TRUNCATE HISTORY").collect()
    val p = t.snapshot.protocol
    assert(!p.readerFeatures.exists(_.contains("deletionVectors")))
    assert(!p.writerFeatures.exists(_.contains("deletionVectors")))
    assert(t.toDF.count() == 1)
    // history below the drop is physically gone
    intercept[Exception](t.toDF(0).count())
    assert(t.deltaLog.update().version == vDrop)
    // the drop stamps checkpointProtection: later writers must not
    // checkpoint below the boundary, cleanup sweeps it atomically
    assert(p.writerFeatures.exists(_.contains("checkpointProtection")), p.toString)
    assert(DeltaConfig.RequireCheckpointProtectionBeforeVersion
      .fromMetadata(t.snapshot.metadata) == vDrop)
  }

  test("upgradeTableProtocol: upgrades list implicit features; downgrades refused") {
    val t = seeded()
    val p0 = t.snapshot.protocol
    assert(p0.minReaderVersion == 1 && p0.minWriterVersion == 2)
    // plain version bump stays legacy-shaped
    t.upgradeTableProtocol(1, 4)
    assert(t.snapshot.protocol.minWriterVersion == 4)
    assert(t.snapshot.protocol.writerFeatures.isEmpty)
    // 3/7 upgrade makes the old versions' implicit features explicit
    t.upgradeTableProtocol(3, 7)
    val p = t.snapshot.protocol
    assert(p.minReaderVersion == 3 && p.minWriterVersion == 7)
    assert(p.writerFeatures.exists(f => f("appendOnly") && f("invariants") &&
      f("checkConstraints") && f("changeDataFeed") && f("generatedColumns")), p.toString)
    // idempotent + downgrade refused
    assert(t.upgradeTableProtocol(3, 7) == t.deltaLog.update().version)
    intercept[IllegalArgumentException](t.upgradeTableProtocol(1, 2))
    // the table still works after the upgrade
    import spark.implicits._
    t.write(Seq((9L, "z", 90)).toDF("id", "name", "score"))
    assert(t.toDF.count() == 3)
  }

  test("upgradeTableProtocol: writer 7 with reader < 3 stays writerFeatures-only") {
    // The spec's writerFeatures-only form: writer 7 does NOT require
    // reader 3 — forcing (3,7) would lock out legacy readers for nothing.
    val t = seeded()
    t.upgradeTableProtocol(1, 7)
    val p = t.snapshot.protocol
    assert(p.minReaderVersion == 1 && p.minWriterVersion == 7, p.toString)
    assert(p.readerFeatures.isEmpty, p.toString)
    assert(p.writerFeatures.exists(f => f("appendOnly") && f("invariants")),
      p.toString)
    // table remains writable; reader-version gate untouched
    import spark.implicits._
    t.write(Seq((9L, "z", 90)).toDF("id", "name", "score"))
    assert(t.toDF.count() == 3)
    // and a later (3,7) upgrade still lists reader features explicitly
    t.upgradeTableProtocol(3, 7)
    val p2 = t.snapshot.protocol
    assert(p2.minReaderVersion == 3 && p2.readerFeatures.isDefined, p2.toString)
  }

  test("SQL: delta.minReaderVersion/minWriterVersion TBLPROPERTIES upgrade the protocol") {
    val t = seeded()
    spark.sql(s"ALTER TABLE graft.`${t.deltaLog.dataPath}` SET TBLPROPERTIES (" +
      "'delta.minReaderVersion' = '3', 'delta.minWriterVersion' = '7')")
    val p = t.snapshot.protocol
    assert(p.minReaderVersion == 3 && p.minWriterVersion == 7, p.toString)
    // the version keys are a protocol request, NOT configuration
    assert(!t.snapshot.metadata.configuration.keys
      .exists(_.toLowerCase.startsWith("delta.minreader")),
      t.snapshot.metadata.configuration.toString)
    // downgrade via properties also refused
    intercept[IllegalArgumentException] {
      spark.sql(s"ALTER TABLE graft.`${t.deltaLog.dataPath}` SET TBLPROPERTIES (" +
        "'delta.minWriterVersion' = '2')")
    }
  }

  test("unknown and unlisted features are refused") {
    val t = seeded()
    intercept[IllegalArgumentException](t.dropFeature("notAFeature"))
    intercept[IllegalArgumentException](t.dropFeature("deletionVectors")) // not listed
  }
}
