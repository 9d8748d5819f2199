package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Dynamic partition overwrite (partitionOverwriteMode=dynamic):
  * overwrite replaces EXACTLY the partitions the batch wrote into,
  * atomically; untouched partitions survive. Static overwrite (the
  * default) still replaces the whole table; non-partitioned tables
  * reject the mode; the replaced set derives from the WRITTEN files so
  * the input is never executed twice.
  */
class DynamicOverwriteSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-dynover").toString

  private def seeded(dir: String): DeltaTable = {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "z"))
      .toDF("id", "part"), SaveMode.Append, Seq("part"))
    t
  }

  test("dynamic overwrite replaces only the written partitions") {
    import spark.implicits._
    val dir = tmp()
    val t = seeded(dir)
    Seq((10L, "x"), (11L, "y")).toDF("id", "part")
      .write.format("graft-delta").mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .save(dir)
    val rows = t.toDF.select($"id", $"part").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    // x and y replaced, z untouched
    assert(rows == Seq((4L, "z"), (10L, "x"), (11L, "y")), rows.toString)
    // history records the mode
    val ci = t.deltaLog.commitInfoAt(t.deltaLog.update().version).get
    assert(Option(ci.operationParameters).exists(
      _.get("partitionOverwriteMode").contains("DYNAMIC")))
  }

  test("static overwrite (default) still replaces the whole table") {
    import spark.implicits._
    val dir = tmp()
    val t = seeded(dir)
    Seq((10L, "x")).toDF("id", "part")
      .write.format("graft-delta").mode(SaveMode.Overwrite).save(dir)
    assert(t.toDF.select($"id").as[Long].collect().toSeq == Seq(10L))
  }

  test("session conf enables it; option wins over conf") {
    import spark.implicits._
    val dir = tmp()
    val t = seeded(dir)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      Seq((20L, "z")).toDF("id", "part")
        .write.format("graft-delta").mode(SaveMode.Overwrite).save(dir)
      assert(t.toDF.count() == 4) // x, x, y survive; z replaced
      // explicit static option overrides the dynamic conf
      Seq((30L, "x")).toDF("id", "part")
        .write.format("graft-delta").mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "static").save(dir)
      assert(t.toDF.select($"id").as[Long].collect().toSeq == Seq(30L))
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "STATIC")
  }

  test("SQL INSERT OVERWRITE honors the dynamic conf") {
    import spark.implicits._
    val dir = tmp()
    val t = seeded(dir)
    spark.sql(s"CREATE TABLE dynins USING `graft-delta` LOCATION '$dir'")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("INSERT OVERWRITE dynins SELECT 99L AS id, 'y' AS part")
      val rows = t.toDF.select($"id", $"part").as[(Long, String)]
        .collect().sortBy(_._1).toSeq
      assert(rows == Seq((1L, "x"), (2L, "x"), (4L, "z"), (99L, "y")), rows.toString)
    } finally {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "STATIC")
      spark.sql("DROP TABLE IF EXISTS dynins")
    }
  }

  test("non-partitioned table rejects dynamic overwrite") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1L, "a")).toDF("id", "v"))
    val ex = intercept[Exception] {
      Seq((2L, "b")).toDF("id", "v")
        .write.format("graft-delta").mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic").save(dir)
    }
    assert(ex.getMessage.contains("partitioned"), ex.getMessage)
  }

  test("CDF records the replaced partitions' deletes and the inserts") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Seq((1L, "x")).toDF("id", "part").schema.json,
      partitionColumns = Seq("part"),
      configuration = Map("delta.enableChangeDataFeed" -> "true")))
    txn.commit(Nil, Op.CreateTable)
    t.write(Seq((1L, "x"), (3L, "y")).toDF("id", "part"), SaveMode.Append, Seq("part"))
    val v = t.deltaLog.update().version
    Seq((10L, "x")).toDF("id", "part")
      .write.format("graft-delta").mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic").save(dir)
    val changes = t.tableChanges(v + 1, v + 1)
      .select($"_change_type", $"id").as[(String, Long)].collect().toSet
    assert(changes == Set(("delete", 1L), ("insert", 10L)), changes.toString)
  }
}
