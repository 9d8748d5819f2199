package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** MERGE schema evolution (delta-spark's `withSchemaEvolution` / SQL
  * `MERGE WITH SCHEMA EVOLUTION INTO`): source-only top-level columns
  * join the target schema in the merge's own commit; UpdateAll keeps
  * target values for columns the source lacks, InsertAll fills them
  * null, and pre-merge files read the new columns as null.
  */
class MergeSchemaEvolutionSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String =
    Files.createTempDirectory("graft-mevo").toString

  test("withSchemaEvolution adds source-only columns in one commit") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val v0 = t.snapshot.version
    // source brings a NEW column `score` and lacks nothing
    val src = Seq((2L, "b2", 0.5), (9L, "i", 0.9)).toDF("id", "v", "score")
    t.merge(src, expr("t.id = s.id"))
      .withSchemaEvolution()
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    val after = DeltaTable.forPath(spark, dir)
    assert(after.snapshot.version == v0 + 1, "evolution + merge is ONE commit")
    assert(after.toDF.columns.toSeq == Seq("id", "v", "score"))
    val rows = after.toDF.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(rows == Seq(
      (1L, "a", None),          // untouched target row: null new column
      (2L, "b2", Some(0.5)),    // matched: updated incl. evolved column
      (3L, "c", None),
      (9L, "i", Some(0.9))))    // inserted with the evolved column
  }

  test("UpdateAll keeps target values for columns the source lacks") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "keep"))
    // source has NO `keep` column and a NEW `extra` column
    val src = Seq((2L, "b2", "x")).toDF("id", "v", "extra")
    t.merge(src, expr("t.id = s.id"))
      .withSchemaEvolution()
      .whenMatchedUpdateAll()
      .execute()
    val row = DeltaTable.forPath(spark, dir).toDF
      .filter(col("id") === 2).head()
    assert(row.getString(1) == "b2")
    assert(row.getLong(2) == 20L, "source-absent column keeps target value")
    assert(row.getString(3) == "x")
  }

  test("SQL: MERGE WITH SCHEMA EVOLUTION INTO") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    Seq((2L, "b2", 7L), (5L, "e", 9L)).toDF("id", "v", "rank")
      .createOrReplaceTempView("mevo_src")
    spark.sql(s"""
      MERGE WITH SCHEMA EVOLUTION INTO graft.`$dir` AS t
      USING mevo_src AS s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val out = spark.sql(s"SELECT * FROM graft.`$dir` ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    assert(out == Seq((1L, "a", None), (2L, "b2", Some(7L)), (5L, "e", Some(9L))))
    // plain MERGE (no evolution) still rejects nothing but ignores the
    // extra source column for star actions — schema unchanged
    val dir2 = tmp()
    val t2 = DeltaTable.forPath(spark, dir2)
    t2.write(Seq((1L, "a")).toDF("id", "v"))
    spark.sql(s"""
      MERGE INTO graft.`$dir2` AS t
      USING mevo_src AS s ON t.id = s.id
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    assert(spark.sql(s"SELECT * FROM graft.`$dir2`").columns.toSeq == Seq("id", "v"))
  }

  test("evolution under column mapping assigns fresh physical ids") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Seq((1L, "a")).toDF("id", "v").schema.json,
      configuration = Map("delta.columnMapping.mode" -> "name")))
    txn.commit(Nil, Op.CreateTable)
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), SaveMode.Append)
    val src = Seq((2L, "b2", 3L)).toDF("id", "v", "n")
    t.merge(src, expr("t.id = s.id"))
      .withSchemaEvolution()
      .whenMatchedUpdateAll()
      .execute()
    val after = DeltaTable.forPath(spark, dir)
    val f = after.snapshot.metadata.schema.fields.find(_.name == "n").get
    assert(f.metadata.contains("delta.columnMapping.id"),
      s"evolved column needs a physical id: ${f.metadata}")
    val rows = after.toDF.orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(rows == Seq((1L, -1L), (2L, 3L)))
  }
}
