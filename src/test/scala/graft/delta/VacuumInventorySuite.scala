package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** VACUUM ... USING INVENTORY: the caller-supplied candidate listing
  * (delta-spark public surface). At 10^7 objects the recursive LIST is
  * the cost of a full vacuum; an inventory table replaces it. The
  * inventory path must delete exactly what the listing path would —
  * parity is the contract — while the containment guard drops entries
  * outside the table root so a malformed inventory cannot reach into a
  * different table.
  */
class VacuumInventorySuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-vinv").toString

  private def sampleDF = {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")).toDF("id", "name")
  }

  /** A delta-spark-shaped inventory frame built from a real recursive
    * listing of `dir` (path, length, isDir, modificationTime).
    */
  private def inventoryOf(dir: String) = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val rows = Seq.newBuilder[Row]
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).foreach { st =>
        rows += Row(st.getPath.toUri.getPath, st.getLen, st.isDirectory,
          st.getModificationTime)
        if (st.isDirectory) walk(st.getPath)
      }
    walk(new org.apache.hadoop.fs.Path(dir))
    spark.createDataFrame(
      java.util.List.copyOf(scala.jdk.CollectionConverters
        .SeqHasAsJava(rows.result()).asJava),
      StructType(Seq(
        StructField("path", StringType), StructField("length", LongType),
        StructField("isDir", BooleanType),
        StructField("modificationTime", LongType))))
  }

  /** Overwrite twice so untracked history files exist, and plant an
    * orphan; returns (table, orphan count before vacuum).
    */
  private def seeded(dir: String): DeltaTable = {
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append)                             // v0
    t.write(sampleDF.filter(col("id") <= 2), SaveMode.Overwrite)   // v1
    val orphan = new java.io.File(dir, "orphan-untracked.parquet")
    orphan.createNewFile()
    orphan.setLastModified(System.currentTimeMillis() - 86400000L)
    t
  }

  private def parquetNames(dir: String): Set[String] = {
    val out = Set.newBuilder[String]
    def walk(f: java.io.File): Unit = f.listFiles().foreach { c =>
      if (c.isDirectory && !c.getName.startsWith("_")) walk(c)
      else if (c.getName.endsWith(".parquet")) out += c.getName
    }
    walk(new java.io.File(dir))
    out.result()
  }

  test("inventory vacuum deletes exactly what the listing path would") {
    // two identical tables, one vacuumed by listing, one by inventory
    val (dirA, dirB) = (tmp(), tmp())
    val tA = seeded(dirA)
    val tB = seeded(dirB)
    val listRes = tA.vacuum(Some(0L))
    val invRes = tB.vacuum(Some(0L), inventory = Some(inventoryOf(dirB)))
    assert(invRes.deletedCount == listRes.deletedCount,
      s"parity broken: listing deleted ${listRes.deletedCount}, " +
        s"inventory deleted ${invRes.deletedCount}")
    assert(invRes.deletedCount > 0)
    assert(tB.toDF.count() == 2, "live snapshot must survive")
    // orphan old enough + in inventory -> swept, same as listing path
    assert(!parquetNames(dirB).contains("orphan-untracked.parquet"))
    // surviving file sets have identical shape (names are per-table UUIDs)
    assert(parquetNames(dirA).size == parquetNames(dirB).size)
  }

  test("files absent from the inventory are not deleted; outside-root entries are dropped") {
    val dir = tmp()
    val t = seeded(dir)
    val full = inventoryOf(dir)
    // hold back the orphan, poison with an outside-root entry
    val foreignDir = tmp()
    val foreign = new java.io.File(foreignDir, "foreign.parquet")
    foreign.createNewFile()
    foreign.setLastModified(0L)
    val inv = full
      .filter(!col("path").contains("orphan-untracked"))
      .union(spark.createDataFrame(
        java.util.List.of(Row(foreign.getAbsolutePath, 0L, false, 0L)),
        full.schema))
    val res = t.vacuum(Some(0L), inventory = Some(inv))
    assert(res.deletedCount > 0)
    assert(new java.io.File(dir, "orphan-untracked.parquet").exists(),
      "a file the inventory does not mention must survive")
    assert(foreign.exists(),
      "an inventory entry outside the table root must be dropped, not deleted")
  }

  test("SQL: VACUUM t USING INVENTORY (query) RETAIN 0 HOURS") {
    val dir = tmp()
    val t = seeded(dir)
    spark.conf.set("spark.graft.vacuum.checkEnabled", "false")
    inventoryOf(dir).createOrReplaceTempView("inv_view")
    val rows = spark.sql(
      s"VACUUM delta.`$dir` USING INVENTORY (SELECT * FROM inv_view) " +
        "RETAIN 0 HOURS").collect()
    assert(rows.nonEmpty && rows.head.getLong(0) > 0)
    assert(t.toDF.count() == 2)
    // LITE + inventory is contradictory and must be rejected
    val ex = intercept[Exception] {
      spark.sql(s"VACUUM delta.`$dir` LITE USING INVENTORY (SELECT * FROM inv_view)").collect()
    }
    assert(ex.getMessage.contains("INVENTORY"))
  }

  test("retention keeps a file an unexpired tombstone references, listed or inventoried") {
    // a file written long ago and removed just now: its mtime is past the
    // default 1-week retention but its tombstone is not, so time travel
    // to the version before the removal must keep reading it
    def aged(dir: String): (DeltaTable, Seq[java.io.File]) = {
      val t = DeltaTable.forPath(spark, dir)
      t.write(sampleDF, SaveMode.Append)                             // v0
      val old = t.snapshot.allFiles.map(f => new java.io.File(dir, f.path))
      val monthAgo = System.currentTimeMillis() - 30L * 86400000L
      old.foreach(f => assert(f.setLastModified(monthAgo)))
      t.write(sampleDF.filter(col("id") <= 2), SaveMode.Overwrite)   // v1
      (t, old)
    }
    val (tList, oldList) = aged(tmp())
    tList.vacuum()
    assert(oldList.forall(_.exists()), "listing VACUUM deleted a file of a fresh tombstone")
    assert(tList.toDF(0).collect().length == 5)
    val dirInv = tmp()
    val (tInv, oldInv) = aged(dirInv)
    tInv.vacuum(inventory = Some(inventoryOf(dirInv)))
    assert(oldInv.forall(_.exists()), "inventory VACUUM deleted a file of a fresh tombstone")
    assert(tInv.toDF(0).collect().length == 5)
  }

  test("inventory missing required columns is rejected") {
    val dir = tmp()
    val t = seeded(dir)
    import spark.implicits._
    val bad = Seq(("x", 1L)).toDF("path", "length")
    val ex = intercept[IllegalArgumentException] {
      t.vacuum(Some(0L), inventory = Some(bad))
    }
    assert(ex.getMessage.contains("modificationTime"))
  }
}
