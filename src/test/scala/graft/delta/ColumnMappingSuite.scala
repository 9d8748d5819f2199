package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Column mapping: rename/drop as metadata-only commits. */
class ColumnMappingSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-cm").toString

  private def freshTable(): DeltaTable = {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    t.write(Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "name", "score"))
    t
  }

  test("RENAME COLUMN is metadata-only and reads map old files") {
    import spark.implicits._
    val t = freshTable()
    val filesBefore = t.snapshot.allFiles.map(_.path).toSet
    t.renameColumn("name", "label")
    assert(t.snapshot.allFiles.map(_.path).toSet == filesBefore, "no file rewrite")
    assert(t.toDF.columns.toSeq == Seq("id", "label", "score"))
    assert(t.toDF.orderBy("id").select("label").as[String].collect().toSeq
      == Seq("a", "b", "c"))
    // appends after the rename use the new logical name, land in the SAME
    // physical column, and both generations read back together
    t.write(Seq((4L, "d", 40)).toDF("id", "label", "score"))
    assert(t.toDF.orderBy("id").select("label").as[String].collect().toSeq
      == Seq("a", "b", "c", "d"))
    // predicates on the renamed column work (and stats still skip)
    assert(t.read(col("label") === "d").count() == 1)
  }

  test("stats-based skipping survives a rename") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    t.write(Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1))
    t.write(Seq((3L, 300L), (4L, 400L)).toDF("id", "v").coalesce(1))
    t.renameColumn("v", "value")
    val scan = DeltaScan(t.snapshot, Some(col("value") > 100L))
    assert(scan.files.size == 1, "renamed column must still data-skip via physical stats")
    assert(t.read(col("value") > 100L).count() == 2)
  }

  test("batch CDF resolves across a RENAME COLUMN boundary") {
    import spark.implicits._
    // the pinned contract: tableChanges resolves the whole range through
    // PHYSICAL names and presents rows under the END snapshot's logical
    // schema — pre-rename inserts and CDC rows are NOT nulled out
    val t = DeltaTable.forPath(spark, tmp())
    val txn = t.deltaLog.startTransaction()
    val base = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("id", "name", "score")
    txn.updateMetadata(Metadata(
      schemaString = base.schema.json,
      configuration = Map("delta.enableChangeDataFeed" -> "true")))
    txn.commit(Nil, Op.CreateTable)               // v0
    t.write(base)                                  // v1: inserts
    t.delete(col("id") === 2L)                     // v2: CDC delete
    t.renameColumn("name", "label")                // v3
    t.write(Seq((4L, "d", 40)).toDF("id", "label", "score")) // v4
    t.update(col("id") === 1L, Map("label" -> lit("a2")))    // v5: CDC update
    val feed = t.tableChanges(0)
      .select($"id", $"label", $"score", $"_change_type", $"_commit_version")
      .as[(Long, String, Int, String, Long)].collect().toSet
    assert(feed == Set(
      (1L, "a", 10, "insert", 1L),
      (2L, "b", 20, "insert", 1L),
      (3L, "c", 30, "insert", 1L),
      (2L, "b", 20, "delete", 2L),
      (4L, "d", 40, "insert", 4L),
      (1L, "a", 10, "update_preimage", 5L),
      (1L, "a2", 10, "update_postimage", 5L)), feed.toString)
    // a range ENDING before the rename presents THAT version's schema
    // (the feed's shape is as-of the end version, like time travel)
    val pre = t.tableChanges(0, 2)
      .select($"name", $"_change_type").as[(String, String)].collect()
    assert(pre.count(_._2 == "insert") == 3 && pre.forall(_._1 != null))
    assert(!t.tableChanges(0, 2).columns.contains("label"))
  }

  test("CDC files store physical names after a rename") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val txn = t.deltaLog.startTransaction()
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    txn.updateMetadata(Metadata(
      schemaString = base.schema.json,
      configuration = Map("delta.enableChangeDataFeed" -> "true")))
    txn.commit(Nil, Op.CreateTable)
    t.write(base)
    t.renameColumn("name", "label")
    t.delete(col("id") === 1L) // post-rename CDC file
    val cdcDir = new java.io.File(t.deltaLog.dataPath.toUri.getPath, "_change_data")
    val cdcFiles = Option(cdcDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
    assert(cdcFiles.nonEmpty, "CDF delete must write change data")
    val cols = spark.read.parquet(cdcFiles.map(_.getPath): _*).columns.toSet
    assert(cols.contains("name") && !cols.contains("label"),
      s"CDC parquet must carry the PHYSICAL column name, got $cols")
  }

  test("DROP COLUMN then re-add does not resurrect old data") {
    import spark.implicits._
    val t = freshTable()
    t.dropColumn("name")
    assert(t.toDF.columns.toSeq == Seq("id", "score"))
    // re-add the same logical name via mergeSchema: fresh physical id
    t.write(Seq((4L, 40, "NEW")).toDF("id", "score", "name"), mergeSchema = true)
    val rows = t.toDF.orderBy("id").select("id", "name").as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, null), (2L, null), (3L, null), (4L, "NEW")),
      "old physical 'name' data must stay invisible")
  }

  test("DML works on mapped tables") {
    import spark.implicits._
    val t = freshTable()
    t.renameColumn("score", "points")
    t.update(col("id") === 2, Map("points" -> lit(99)))
    t.delete(col("points") === 10)
    assert(t.toDF.orderBy("id").select("id", "points").as[(Long, Int)].collect().toSeq
      == Seq((2L, 99), (3L, 30)))
    val src = Seq((3L, "cc", 33), (5L, "e", 50)).toDF("id", "name", "points")
    t.merge(src, col("t.id") === col("s.id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    assert(t.toDF.orderBy("id").select("points").as[Int].collect().toSeq == Seq(99, 33, 50))
    // OPTIMIZE keeps content through the physical round-trip
    t.compact()
    assert(t.toDF.orderBy("id").select("points").as[Int].collect().toSeq == Seq(99, 33, 50))
  }

  test("mode=id: round trip, rename stays metadata-only, DML works") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val base = Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "name", "score")
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(ColumnMapping.ensureEnabled(Metadata(
      schemaString = Snapshot.nullable(base.schema)
        .asInstanceOf[org.apache.spark.sql.types.StructType].json), "id"))
    txn.commit(Nil, Op.CreateTable)
    assert(ColumnMapping.mode(t.snapshot.metadata) == "id")
    t.write(base)
    assert(t.toDF.orderBy("id").select("name").as[String].collect().toSeq
      == Seq("a", "b"))
    val filesBefore = t.snapshot.allFiles.map(_.path).toSet
    t.renameColumn("name", "label")
    assert(t.snapshot.allFiles.map(_.path).toSet == filesBefore)
    assert(ColumnMapping.mode(t.snapshot.metadata) == "id", "rename keeps id mode")
    t.update(col("id") === 2L, Map("label" -> lit("B")))
    assert(t.toDF.orderBy("id").select("label").as[String].collect().toSeq
      == Seq("a", "B"))
  }

  test("mode=id: foreign physical names resolve by parquet field id") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val base = {
      import spark.implicits._
      Seq((1L, "a", 10)).toDF("id", "name", "score")
    }
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(ColumnMapping.ensureEnabled(graft.delta.Metadata(
      schemaString = Snapshot.nullable(base.schema)
        .asInstanceOf[StructType].json), "id"))
    txn.commit(Nil, Op.CreateTable)
    t.write(base)
    // a foreign engine writes the same columns under alien physical
    // names, keyed only by the shared field ids
    val md = t.snapshot.metadata
    val foreign = StructType(md.schema.fields.zipWithIndex.map { case (f, i) =>
      StructField(s"alien_$i", f.dataType, nullable = true,
        new MetadataBuilder()
          .putLong("parquet.field.id", f.metadata.getLong(ColumnMapping.IdKey))
          .build())
    })
    val fdf = spark.createDataFrame(
      java.util.Arrays.asList(Row(2L, "b", 20)), foreign)
    val staging = tmp()
    fdf.coalesce(1).write.mode("overwrite").parquet(staging)
    val pf = new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val destName = s"foreign-${java.util.UUID.randomUUID}.parquet"
    java.nio.file.Files.copy(pf.toPath, java.nio.file.Paths.get(dir, destName))
    val dest = new java.io.File(dir, destName)
    val txn2 = t.deltaLog.startTransaction()
    txn2.commit(Seq(AddFile(destName, Map.empty, dest.length(),
      dest.lastModified(), dataChange = true)), "WRITE")
    val rows = t.toDF.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows == Seq((1L, "a", 10), (2L, "b", 20)),
      s"field-id resolution must map alien names, got $rows")
  }

  test("unknown columnMapping modes are rejected on read, not misread") {
    val t = freshTable()
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(txn.metadata.copy(
      configuration = txn.metadata.configuration + ("delta.columnMapping.mode" -> "bogus")))
    txn.commit(Nil, Op.SetTableProperties)
    val ex = intercept[UnsupportedOperationException](t.toDF.collect())
    assert(ex.getMessage.contains("columnMapping.mode=bogus"))
  }

  test("partition columns cannot be renamed or dropped") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    t.write(Seq((1L, "x"), (2L, "y")).toDF("id", "part"), SaveMode.Append, Seq("part"))
    intercept[IllegalArgumentException] { t.renameColumn("part", "p2") }
    intercept[IllegalArgumentException] { t.dropColumn("part") }
    // and renaming a data column on a partitioned table is fine
    t.renameColumn("id", "key")
    assert(t.read(col("part") === "x").select("key").count() == 1)
  }
}
