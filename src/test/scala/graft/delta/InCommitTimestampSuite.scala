package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** In-commit timestamps: commit time lives in the log, not in file
  * mtimes, so timestamp time travel survives object-store log copies.
  */
class InCommitTimestampSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-ict").toString

  private def seed(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"row$i")).toDF("id", "v")
  }

  private def ictTable(): DeltaTable = {
    val t = DeltaTable.forPath(spark, tmp())
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = seed(1).schema.json,
      configuration = Map("delta.enableInCommitTimestamps" -> "true")))
    txn.commit(Nil, Op.CreateTable)
    t
  }

  test("commits carry strictly increasing inCommitTimestamps") {
    val t = ictTable()
    t.write(seed(3), SaveMode.Append) // v1
    t.write(seed(2), SaveMode.Append) // v2
    val icts = (0L to 2L).map(v =>
      t.deltaLog.commitInfoAt(v).flatMap(_.inCommitTimestamp).getOrElse(
        fail(s"commit $v missing inCommitTimestamp")))
    assert(icts == icts.sorted && icts.distinct == icts,
      s"ICTs must be strictly increasing, got $icts")
    // CommitInfo.timestamp mirrors the ICT, per the protocol
    (0L to 2L).foreach { v =>
      val ci = t.deltaLog.commitInfoAt(v).get
      assert(ci.inCommitTimestamp.contains(ci.timestamp))
    }
  }

  test("timestamp travel uses ICT even when every file mtime is garbage") {
    val t = ictTable()
    t.write(seed(3), SaveMode.Append) // v1
    Thread.sleep(5)
    t.write(seed(2), SaveMode.Append) // v2
    val ict1 = t.deltaLog.commitInfoAt(1L).flatMap(_.inCommitTimestamp).get
    // simulate an object-store log copy: all mtimes collapse to one bogus time
    val logDir = new java.io.File(t.deltaLog.logPath.toUri.getPath)
    logDir.listFiles().foreach(f => f.setLastModified(1000000L))
    t.deltaLog.update()
    assert(t.deltaLog.snapshotForTimestampAsOf(ict1).version == 1L)
    assert(t.deltaLog.versionBeforeOrAtTimestamp(ict1).contains(1L))
    assert(t.deltaLog.versionAtOrAfterTimestamp(ict1 + 1).contains(2L))
    assert(t.toDFAsOfTimestamp(ict1).count() == 3)
  }

  test("mid-table enablement records the boundary; mtime rules before it") {
    val t = DeltaTable.forPath(spark, tmp())
    t.write(seed(3), SaveMode.Append) // v0, no ICT
    t.write(seed(1), SaveMode.Append) // v1, no ICT
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(txn.metadata.copy(configuration =
      txn.metadata.configuration + ("delta.enableInCommitTimestamps" -> "true")))
    txn.commit(Nil, Op.SetTableProperties) // v2: first ICT commit
    t.write(seed(2), SaveMode.Append) // v3

    val md = t.snapshot.metadata
    assert(md.configuration.get(DeltaConfig.IctEnablementVersionKey).contains("2"))
    assert(md.configuration.contains(DeltaConfig.IctEnablementTimestampKey))
    assert(t.deltaLog.ictEnablementVersion.contains(2L))
    assert(t.deltaLog.commitInfoAt(1L).flatMap(_.inCommitTimestamp).isEmpty)
    assert(t.deltaLog.commitInfoAt(2L).flatMap(_.inCommitTimestamp).nonEmpty)
    val cs = t.deltaLog.commits()
    assert(cs.map(_._1) == Seq(0L, 1L, 2L, 3L))
    assert(cs.map(_._2) == cs.map(_._2).sorted)
  }

  test("commitLarge carries the ICT like commit()") {
    val t = ictTable()
    t.write(seed(3), SaveMode.Append) // v1
    t.write(seed(2), SaveMode.Overwrite) // v2: removes stream as a Dataset body
    val ci = t.deltaLog.commitInfoAt(2L).getOrElse(fail("no CommitInfo at v2"))
    val ict1 = t.deltaLog.commitInfoAt(1L).flatMap(_.inCommitTimestamp).get
    val ict2 = ci.inCommitTimestamp.getOrElse(
      fail("a Dataset-bodied commit must write inCommitTimestamp after enablement"))
    assert(ict2 > ict1 && ci.timestamp == ict2)
    // history still totally ordered through the mixed commit paths
    val cs = t.deltaLog.commits()
    assert(cs.map(_._2) == cs.map(_._2).sorted)
    assert(t.deltaLog.snapshotForTimestampAsOf(ict1).version == 1L)
  }

  test("ICT floor: a commit never timestamps at or below its predecessor") {
    val t = ictTable()
    (1 to 5).foreach(_ => t.write(seed(1), SaveMode.Append))
    val icts = (0L to 5L).map(v =>
      t.deltaLog.commitInfoAt(v).flatMap(_.inCommitTimestamp).get)
    icts.sliding(2).foreach { case Seq(a, b) => assert(b > a) }
  }
}
