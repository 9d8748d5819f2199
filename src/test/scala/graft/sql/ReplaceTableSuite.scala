package graft.sql

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** CREATE OR REPLACE TABLE ... USING graft-delta AS SELECT — one logged
  * transaction replacing schema, partitioning and data while preserving
  * the table's history (time travel to pre-replace versions keeps
  * working), on both named catalog tables and graft.`path` targets.
  */
class ReplaceTableSuite extends AnyFunSuite with SharedSpark {
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-ror").toString

  test("replace on a path target swaps schema and data, keeps history") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").createOrReplaceTempView("ror_seed1")
    spark.sql(s"CREATE OR REPLACE TABLE graft.`$dir` USING `graft-delta` AS SELECT * FROM ror_seed1")
    val t = graft.delta.DeltaTable.forPath(spark, dir)
    assert(t.toDF.count() == 2)
    val v0 = t.snapshot.version

    // replace with a DIFFERENT schema
    Seq((10L, 1.5, "x")).toDF("k", "score", "tag").createOrReplaceTempView("ror_seed2")
    spark.sql(s"CREATE OR REPLACE TABLE graft.`$dir` USING `graft-delta` AS SELECT * FROM ror_seed2")
    val after = graft.delta.DeltaTable.forPath(spark, dir)
    assert(after.toDF.columns.toSeq == Seq("k", "score", "tag"))
    assert(after.toDF.count() == 1)
    // history intact: the pre-replace version still reads with the OLD schema
    val old = after.toDF(v0)
    assert(old.columns.toSeq == Seq("id", "v") && old.count() == 2)
    // the replace is one commit
    assert(after.snapshot.version == v0 + 1)
    assert(after.deltaLog.commitInfoAt(v0 + 1).exists(_.operation == "REPLACE_TABLE"))
  }

  test("replace creates a missing catalog table (orCreate) and updates its schema") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS t_ror")
    Seq((1L, "a")).toDF("id", "v").createOrReplaceTempView("ror_seed3")
    spark.sql("CREATE OR REPLACE TABLE t_ror USING `graft-delta` AS SELECT * FROM ror_seed3")
    assert(spark.table("t_ror").count() == 1)
    Seq((7L, 9L)).toDF("a", "b").createOrReplaceTempView("ror_seed4")
    spark.sql("CREATE OR REPLACE TABLE t_ror USING `graft-delta` AS SELECT * FROM ror_seed4")
    assert(spark.table("t_ror").columns.toSeq == Seq("a", "b"))
    assert(spark.table("t_ror").head().getLong(0) == 7L)
    spark.sql("DROP TABLE t_ror")
  }

  test("replace never erases an unknown non-empty default location") {
    import spark.implicits._
    val catalog = spark.sessionState.catalog
    spark.sql("DROP TABLE IF EXISTS t_ror_guard")
    val loc = catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier("t_ror_guard"))
    val dir = new org.apache.hadoop.fs.Path(loc).toUri.getPath
    // a live PATH-addressed graft table that happens to sit at the
    // warehouse default location for this name — no catalog entry
    val squatter = graft.delta.DeltaTable.forPath(spark, dir)
    squatter.write(Seq((1L, "keep")).toDF("id", "v"),
      org.apache.spark.sql.SaveMode.Append)
    try {
      Seq((9L, 9L)).toDF("a", "b").createOrReplaceTempView("ror_seed_guard")
      val e = intercept[Exception] {
        spark.sql("CREATE OR REPLACE TABLE t_ror_guard USING `graft-delta` AS SELECT * FROM ror_seed_guard")
      }
      assert(e.getMessage.contains("non-empty"),
        s"expected a clear non-empty-location error, got: ${e.getMessage}")
      // the squatter's data must be untouched
      assert(graft.delta.DeltaTable.forPath(spark, dir).toDF.count() == 1)
    } finally {
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("replace with PARTITIONED BY lays out partition directories") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("id", "part")
      .createOrReplaceTempView("ror_seed5")
    spark.sql(s"CREATE OR REPLACE TABLE graft.`$dir` USING `graft-delta` PARTITIONED BY (part) AS SELECT * FROM ror_seed5")
    val t = graft.delta.DeltaTable.forPath(spark, dir)
    assert(t.snapshot.metadata.partitionColumns == Seq("part"))
    // partition pruning works against the new layout
    assert(t.read(col("part") === "x").count() == 2)
  }
}
