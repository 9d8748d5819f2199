package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Metadata-only COUNT(*): an unfiltered count over a graft-delta
  * relation must come from log stats (LocalRelation in the optimized
  * plan, zero file scans), must stay EXACT under deletion vectors
  * (numRecords − DV cardinality), and must fall back to a real scan the
  * moment a filter is present or the config disables it.
  */
class MetadataOnlyCountSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-metacount").toString

  private def optimizedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("COUNT(*) answers from stats with a LocalRelation, no scan") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write((0L until 100L).map(i => (i, s"r$i")).toDF("id", "v"))
    t.write((100L until 150L).map(i => (i, s"r$i")).toDF("id", "v"))
    val count = spark.read.format("graft-delta").load(dir).groupBy().count()
    assert(optimizedPlan(count).contains("LocalRelation"),
      s"expected metadata-only plan, got:\n${optimizedPlan(count)}")
    assert(count.head().getLong(0) == 150L)
    // SQL path too
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$dir`").head().getLong(0) == 150L)
  }

  test("exact under deletion vectors and after DML") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write((0L until 100L).map(i => (i, s"r$i")).toDF("id", "v"))
    spark.sql(s"ALTER TABLE graft.`$dir` SET TBLPROPERTIES " +
      "('delta.enableDeletionVectors' = 'true')")
    t.delete(col("id") < 30L) // DV delete: files keep their numRecords
    assert(t.snapshot.allFiles.exists(f => DeletionVectors.descriptor(f).isDefined),
      "expected a DV to be written")
    val df = spark.read.format("graft-delta").load(dir).groupBy().count()
    assert(optimizedPlan(df).contains("LocalRelation"), optimizedPlan(df))
    assert(df.head().getLong(0) == 70L)
  }

  test("time-traveled counts answer from the OLD snapshot's stats") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write((0L until 40L).map(i => (i, s"r$i")).toDF("id", "v")) // v0
    t.write((40L until 100L).map(i => (i, s"r$i")).toDF("id", "v")) // v1
    val old = spark.read.format("graft-delta")
      .option("versionAsOf", "0").load(dir).groupBy().count()
    assert(optimizedPlan(old).contains("LocalRelation"), optimizedPlan(old))
    assert(old.head().getLong(0) == 40L)
    assert(spark.read.format("graft-delta").load(dir).count() == 100L)
  }

  test("MIN/MAX answer from stats on DV-free tables; DVs force a scan") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write((0L until 100L).map(i => (i, s"n${100 + i}")).toDF("id", "name"))
    t.write((100L until 130L).map(i => (i, s"n${100 + i}")).toDF("id", "name"))
    val base = spark.read.format("graft-delta").load(dir)
    val mm = base.agg(min(col("id")), max(col("id")), count(lit(1)))
    assert(optimizedPlan(mm).contains("LocalRelation"), optimizedPlan(mm))
    val r = mm.head()
    assert(r.getLong(0) == 0L && r.getLong(1) == 129L && r.getLong(2) == 130L)
    // string extrema are EXCLUDED (parquet-mr may prefix-truncate binary
    // footer stats): must fall back to the scan, still correct
    val sm = base.agg(min(col("name")), max(col("name")))
    assert(!optimizedPlan(sm).contains("LocalRelation"), optimizedPlan(sm))
    val rs = sm.head()
    assert(rs.getString(0) == "n100" && rs.getString(1) == "n229")
    // a DV delete could have removed the extremum: MIN/MAX must rescan
    spark.sql(s"ALTER TABLE graft.`$dir` SET TBLPROPERTIES " +
      "('delta.enableDeletionVectors' = 'true')")
    t.delete(col("id") === 129L)
    val afterDv = spark.read.format("graft-delta").load(dir)
      .agg(min(col("id")), max(col("id")))
    assert(!optimizedPlan(afterDv).contains("LocalRelation"), optimizedPlan(afterDv))
    val r2 = afterDv.head()
    assert(r2.getLong(0) == 0L && r2.getLong(1) == 128L)
    // ...while a bare COUNT stays metadata-only even with DVs (exact)
    val c = spark.read.format("graft-delta").load(dir).groupBy().count()
    assert(optimizedPlan(c).contains("LocalRelation"))
    assert(c.head().getLong(0) == 129L)
  }

  test("Float/Double MIN/MAX are excluded (NaN semantics differ from footer stats)") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1L, 1.5), (2L, Double.NaN), (3L, -2.0)).toDF("id", "x"))
    val base = spark.read.format("graft-delta").load(dir)
    // double extrema must scan: Spark orders NaN largest, parquet footer
    // stats may be NaN-contaminated or NaN-skipped
    val mm = base.agg(min(col("x")), max(col("x")))
    assert(!optimizedPlan(mm).contains("LocalRelation"), optimizedPlan(mm))
    val r = mm.head()
    assert(r.getDouble(0) == -2.0)
    assert(r.getDouble(1).isNaN, "Spark MAX treats NaN as largest")
    // the long column on the same table stays metadata-only
    val lm = base.agg(min(col("id")), max(col("id")))
    assert(optimizedPlan(lm).contains("LocalRelation"), optimizedPlan(lm))
    val rl = lm.head()
    assert(rl.getLong(0) == 1L && rl.getLong(1) == 3L)
  }

  test("a DV forces MIN/MAX to scan even when some stats lack numRecords") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write((0L until 100L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1))
    spark.sql(s"ALTER TABLE graft.`$dir` SET TBLPROPERTIES " +
      "('delta.enableDeletionVectors' = 'true')")
    t.delete(col("id") === 99L) // DV on the original file
    assert(t.snapshot.allFiles.exists(f => DeletionVectors.descriptor(f).isDefined))
    // foreign writer adds a copy whose stats carry min/max but NO
    // numRecords: haveAllNr is false, yet the DV above must STILL veto
    // stats-answered MIN/MAX (it may have deleted the extremum)
    val orig = t.snapshot.allFiles.find(f => DeletionVectors.descriptor(f).isDefined).get
    val src = java.nio.file.Paths.get(dir, orig.path)
    val dst = java.nio.file.Paths.get(dir, "foreign-copy.parquet")
    java.nio.file.Files.copy(src, dst)
    val txn = t.deltaLog.startTransaction()
    txn.commit(Seq(AddFile("foreign-copy.parquet", Map.empty,
      java.nio.file.Files.size(dst), System.currentTimeMillis(),
      dataChange = true,
      stats = """{"minValues":{"id":0},"maxValues":{"id":99}}""")), Op.Write)
    val base = spark.read.format("graft-delta").load(dir)
    val mm = base.agg(min(col("id")), max(col("id")))
    assert(!optimizedPlan(mm).contains("LocalRelation"), optimizedPlan(mm))
    val r = mm.head()
    // true extrema from the scan: the copy has a live 99, original's DV'd
    assert(r.getLong(0) == 0L && r.getLong(1) == 99L)
    // COUNT also refuses stats here (one file has no numRecords) -> scan
    val c = base.groupBy().count()
    assert(!optimizedPlan(c).contains("LocalRelation"), optimizedPlan(c))
    assert(c.head().getLong(0) == 199L)
  }

  test("filters, grouped counts, and disabled config fall back to the scan") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write((0L until 50L).map(i => (i, i % 5)).toDF("id", "g"))
    val base = spark.read.format("graft-delta").load(dir)
    val filtered = base.filter(col("id") >= 10L).groupBy().count()
    assert(!optimizedPlan(filtered).contains("LocalRelation"), optimizedPlan(filtered))
    assert(filtered.head().getLong(0) == 40L)
    val grouped = base.groupBy(col("g")).count()
    assert(!optimizedPlan(grouped).contains("LocalRelation"))
    assert(grouped.count() == 5)
  }
}
