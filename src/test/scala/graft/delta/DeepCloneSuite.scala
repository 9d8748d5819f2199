package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Deep CLONE: a fully independent copy — its own data files and DV
  * payloads — so deleting the SOURCE outright cannot break the clone
  * (the shallow clone's documented caveat, proven here by contrast).
  */
class DeepCloneSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-dclone").toString

  private def rmTree(p: String): Unit = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(p)
    java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  test("deep clone survives source deletion; shallow does not") {
    import spark.implicits._
    val srcDir = tmp()
    val t = DeltaTable.forPath(spark, srcDir)
    // DV-bearing source: merge-on-read delete leaves a DV payload
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Seq((1L, "a")).toDF("id", "v").schema.json,
      configuration = Map("delta.enableDeletionVectors" -> "true")))
    txn.commit(Nil, Op.CreateTable)
    t.write((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    t.delete(col("id") > 8)
    assert(t.snapshot.dvFiles.nonEmpty, "fixture must carry a DV")
    assert(t.toDF.count() == 8)

    val deepDir = tmp() + "/deep"
    val shallowDir = tmp() + "/shallow"
    val deep = t.deepCloneTo(deepDir)
    val shallow = t.shallowCloneTo(shallowDir)
    assert(deep.toDF.count() == 8)
    assert(shallow.toDF.count() == 8)

    rmTree(srcDir) // the source vanishes entirely
    assert(DeltaTable.forPath(spark, deepDir).toDF.count() == 8,
      "deep clone must be self-contained (data + DV payloads)")
    intercept[Exception] {
      DeltaTable.forPath(spark, shallowDir).toDF.count()
    }
  }

  test("deep clone of a shallow clone flattens absolute references") {
    import spark.implicits._
    val srcDir = tmp()
    val t = DeltaTable.forPath(spark, srcDir)
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    val sh = t.shallowCloneTo(tmp() + "/sh")
    val deep = sh.deepCloneTo(tmp() + "/deep2")
    assert(deep.snapshot.allFiles.forall(f => !f.path.contains(":")),
      "deep clone paths must be table-relative")
    rmTree(srcDir)
    assert(DeltaTable.forPath(spark, deep.deltaLog.dataPath.toString)
      .toDF.count() == 2)
  }

  test("deep clone honors a foreign 'u' DV prefix (payload not under _deletion_vectors)") {
    import spark.implicits._
    val srcDir = tmp()
    val t = DeltaTable.forPath(spark, srcDir)
    val txn0 = t.deltaLog.startTransaction()
    txn0.updateMetadata(Metadata(
      schemaString = Seq((1L, "a")).toDF("id", "v").schema.json,
      configuration = Map("delta.enableDeletionVectors" -> "true")))
    txn0.commit(Nil, Op.CreateTable)
    // dispersed deletes so the bitmap exceeds the inline limit → "u"
    t.write((1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    t.delete(col("id") % 2 === 1)
    val add = t.snapshot.allFiles.find(a =>
      Option(a.deletionVector).exists(_.storageType == "u"))
      .getOrElse(fail("fixture needs a file-backed DV"))
    val d = add.deletionVector
    // relocate the payload to the TABLE ROOT (empty prefix) — the
    // spec-legal shape foreign writers produce (delta-spark uses random
    // or empty prefixes; only our writer pins _deletion_vectors)
    val fs = t.deltaLog.dataPath
      .getFileSystem(spark.sessionState.newHadoopConf())
    val from = DeletionVectors.absolutePathOf(t.deltaLog.dataPath, d)
    val to = new org.apache.hadoop.fs.Path(
      t.deltaLog.dataPath, DeletionVectors.fileName(d))
    assert(fs.rename(from, to), s"rename $from -> $to")
    val repointed = add.copy(dataChange = false, deletionVector =
      d.copy(pathOrInlineDv = d.pathOrInlineDv.takeRight(20)))
    val txn = t.deltaLog.startTransaction()
    txn.commit(Seq(add.remove(1L, dataChange = false), repointed), Op.Optimize)

    val fresh = DeltaTable.forPath(spark, srcDir)
    assert(fresh.toDF.count() == 500, "root-prefix DV must still read")
    val deepDir = tmp() + "/deepfp"
    val deep = fresh.deepCloneTo(deepDir)
    rmTree(srcDir)
    assert(DeltaTable.forPath(spark, deepDir).toDF.count() == 500,
      "clone must copy the payload from the descriptor's own prefix " +
        "and re-point the cloned descriptor at it")
  }

  test("deep clone disambiguates equal base names from different sources") {
    import spark.implicits._
    // two EXTERNAL parquet files that share a base name in different dirs
    def extParquet(rows: Seq[(Long, String)], dir: java.io.File): java.io.File = {
      val stage = tmp()
      rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      dir.mkdirs()
      val dst = new java.io.File(dir, "data.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst
    }
    val base = new java.io.File(tmp())
    val f1 = extParquet(Seq((1L, "a"), (2L, "b")), new java.io.File(base, "d1"))
    val f2 = extParquet(Seq((10L, "x")), new java.io.File(base, "d2"))
    val t = DeltaTable.forPath(spark, tmp())
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Seq((1L, "a")).toDF("id", "v").schema.json))
    txn.commit(Seq(
      AddFile("file://" + f1.getAbsolutePath, size = f1.length,
        modificationTime = f1.lastModified),
      AddFile("file://" + f2.getAbsolutePath, size = f2.length,
        modificationTime = f2.lastModified)), Op.Write)
    assert(t.toDF.count() == 3)
    val deep = t.deepCloneTo(tmp() + "/deepcol")
    assert(deep.snapshot.allFiles.map(_.path).distinct.size == 2,
      "flattened names must stay distinct")
    assert(deep.toDF.count() == 3,
      "equal base names from different sources must not overwrite")
  }

  test("time-travel clone: VERSION AS OF and TIMESTAMP AS OF") {
    import spark.implicits._
    val srcDir = tmp()
    val t = DeltaTable.forPath(spark, srcDir)
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))                  // v0
    t.write(Seq((9L, "z")).toDF("id", "v"),
      org.apache.spark.sql.SaveMode.Overwrite)                          // v1
    // pin distinct commit timestamps for the timestamp leg
    val base = System.currentTimeMillis() - 200000L
    (0 to 1).foreach { v =>
      val f = new java.io.File(s"$srcDir/_delta_log/${"%020d".format(v)}.json")
      assert(f.setLastModified(base + v * 10000L))
    }
    // API: shallow clone of v0 sees the pre-overwrite data
    val sh = t.shallowCloneTo(tmp() + "/shv0", versionAsOf = Some(0L))
    assert(sh.toDF.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // API: deep clone at v0's timestamp, self-contained after source loss
    val deepDir = tmp() + "/dpts"
    t.deepCloneTo(deepDir, timestampAsOf = Some(base))
    assert(DeltaTable.forPath(spark, deepDir).toDF.count() == 2)
    // both specified → error
    intercept[IllegalArgumentException] {
      t.shallowCloneTo(tmp() + "/bad", Some(0L), Some(base))
    }
    // SQL: VERSION AS OF on the clone statement
    val sqlDest = tmp() + "/sqlv0"
    spark.sql(
      s"CREATE TABLE graft.`$sqlDest` DEEP CLONE graft.`$srcDir` VERSION AS OF 0")
    assert(spark.sql(s"SELECT * FROM graft.`$sqlDest`").count() == 2)
    rmTree(srcDir)
    assert(DeltaTable.forPath(spark, sqlDest).toDF.count() == 2)
  }

  test("SQL: CREATE TABLE ... DEEP CLONE on a path target") {
    import spark.implicits._
    val srcDir = tmp()
    val t = DeltaTable.forPath(spark, srcDir)
    t.write(Seq((1L, "a")).toDF("id", "v"))
    val dest = tmp() + "/sqldeep"
    spark.sql(s"CREATE TABLE graft.`$dest` DEEP CLONE graft.`$srcDir`")
    rmTree(srcDir)
    assert(spark.sql(s"SELECT * FROM graft.`$dest`").count() == 1)
  }
}
