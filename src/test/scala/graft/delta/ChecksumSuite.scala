package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Per-commit version checksums (`<v>.crc`): incremental table
  * aggregates — O(1) numFiles/sizeInBytes at any table size.
  */
class ChecksumSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-crc").toString

  private def seed(from: Int, until: Int) = {
    import spark.implicits._
    (from until until).map(i => (i.toLong, s"row$i")).toDF("id", "v")
  }

  private def aggregated(t: DeltaTable): (Long, Long) = {
    val r = t.snapshot.activeFilesDF
      .agg(count(lit(1)), coalesce(sum("size"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  test("crc tracks every commit incrementally, including DML and OPTIMIZE") {
    val t = DeltaTable.forPath(spark, tmp())
    t.write(seed(0, 10).repartition(2), SaveMode.Append)   // v0
    t.write(seed(10, 14).coalesce(1), SaveMode.Append)     // v1
    t.delete(col("id") < 3)                                // v2 rewrite
    t.compact()                                            // v3
    (0L to 3L).foreach { v =>
      assert(t.deltaLog.readChecksum(v).isDefined, s"crc missing at v$v")
    }
    assert(t.deltaLog.readChecksum(3L).contains(aggregated(t)),
      "crc must equal the aggregated file state")
  }

  test("a crc gap heals on the next commit via one state aggregation") {
    val t = DeltaTable.forPath(spark, tmp())
    t.write(seed(0, 5).coalesce(1), SaveMode.Append)       // v0
    t.write(seed(5, 9).coalesce(1), SaveMode.Append)       // v1
    val fs = t.deltaLog.logPath.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.delete(FileNames.checksumFile(t.deltaLog.logPath, 1), false))
    t.write(seed(9, 12).coalesce(1), SaveMode.Append)      // v2: prev crc missing
    assert(t.deltaLog.readChecksum(2L).contains(aggregated(t)),
      "recomputed crc must match the aggregated state")
  }

  test("a drifted crc heals at checkpoint time") {
    val t = DeltaTable.forPath(spark, tmp())
    t.write(seed(0, 5).coalesce(1), SaveMode.Append)       // v0
    // re-add an already-active path: incremental arithmetic counts it as
    // a new file (numFiles drifts +1) because adds are assumed fresh
    val existing = t.snapshot.allFiles.head
    val txn = t.deltaLog.startTransaction()
    txn.commit(Seq(existing.copy(dataChange = false)), Op.ManualUpdate) // v1
    val drifted = t.deltaLog.readChecksum(1L)
    val exact = aggregated(DeltaTable.forPath(spark, t.deltaLog.dataPath.toString))
    assert(drifted.exists(_ != exact), "fixture must actually drift the crc")
    // checkpoint pays one full state aggregation — and heals the crc
    val s = t.deltaLog.update()
    t.deltaLog.checkpoint(s)
    assert(t.deltaLog.readChecksum(1L).contains(exact),
      "checkpoint must reconcile the drifted crc")
  }

  test("commitLarge tallies the stream; DESCRIBE DETAIL reads the crc") {
    val t = DeltaTable.forPath(spark, tmp())
    t.write(seed(0, 6).coalesce(1), SaveMode.Append)       // v0
    t.write(seed(100, 104).coalesce(1), SaveMode.Overwrite) // v1: a Dataset body
    val expected = aggregated(t)
    assert(t.deltaLog.readChecksum(1L).contains(expected))
    val row = spark.sql(s"DESCRIBE DETAIL graft.`${t.deltaLog.dataPath}`").head()
    assert(row.getLong(row.fieldIndex("numFiles")) == expected._1)
    assert(row.getLong(row.fieldIndex("sizeInBytes")) == expected._2)
  }
}
