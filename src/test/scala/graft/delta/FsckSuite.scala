package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** FSCK REPAIR TABLE: scans fail with FileNotFound when a data file is
  * deleted out from under the log; the repair drops exactly the missing
  * references (dataChange removes in one commit) so the surviving rows
  * read again. DRY RUN reports without committing.
  */
class FsckSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-fsck").toString

  test("repair drops exactly the missing files; survivors read again") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    // two files via two appends
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    t.write(Seq((3L, "c"), (4L, "d")).toDF("id", "v").coalesce(1))
    assert(t.toDF.count() == 4)
    // delete one physical file behind the log's back
    val victim = t.snapshot.allFiles.head
    val vp = new org.apache.hadoop.fs.Path(dir, victim.path)
    val fs = vp.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.delete(vp, false))

    val before = t.snapshot.version
    // DRY RUN: reports the missing path, commits nothing
    val dry = t.fsckRepair(dryRun = true)
    assert(dry == Seq(victim.path))
    assert(t.deltaLog.update().version == before)

    val removed = t.fsckRepair()
    assert(removed == Seq(victim.path))
    val after = DeltaTable.forPath(spark, dir)
    assert(after.snapshot.version == before + 1)
    assert(after.deltaLog.commitInfoAt(before + 1).exists(_.operation == "FSCK"))
    // survivors are the other file's rows, readable without errors
    assert(after.toDF.count() == 2)
    // idempotent: nothing left to repair
    assert(after.fsckRepair().isEmpty)
  }

  test("SQL: FSCK REPAIR TABLE on a path target") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1L, "a")).toDF("id", "v").coalesce(1))
    t.write(Seq((2L, "b")).toDF("id", "v").coalesce(1))
    val victim = t.snapshot.allFiles.head
    val vp = new org.apache.hadoop.fs.Path(dir, victim.path)
    vp.getFileSystem(spark.sessionState.newHadoopConf()).delete(vp, false)
    val rows = spark.sql(s"FSCK REPAIR TABLE graft.`$dir`").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq(victim.path))
    assert(spark.sql(s"SELECT * FROM graft.`$dir`").count() == 1)
  }
}
