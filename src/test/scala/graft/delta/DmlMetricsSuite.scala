package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** DML operationMetrics: exact-or-absent row counts derived from file
  * stats (rewrite DELETE), DV cardinality growth (merge-on-read
  * DELETE), and the auto-derived file/byte/change-file counts every
  * commit records — the audit surface history() consumers read.
  */
class DmlMetricsSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-dmlmetrics").toString

  private def lastMetrics(t: DeltaTable): Map[String, String] =
    t.deltaLog.commitInfoAt(t.deltaLog.update().version).get.operationMetrics

  test("rewrite DELETE records exact deleted/copied rows from stats") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write((0L until 100L).map(i => (i, i % 4)).toDF("id", "g"))
    t.delete(col("id") < 30L)
    val m = lastMetrics(t)
    assert(m.get("numDeletedRows").contains("30"), m.toString)
    // copied = surviving rows of the TOUCHED files only (ids 0..29 live
    // in two 25-row files; the untouched other files are not rewritten)
    assert(m.get("numCopiedRows").contains("20"), m.toString)
    assert(m.contains("numRemovedFiles") && m.contains("numAddedFiles"), m.toString)
    assert(t.toDF.count() == 70)
  }

  test("multi-clause MERGE records exact per-clause row metrics") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    // one file: every target row is in the touched set, so copied rows
    // are exactly the pass-throughs (ids 0..49)
    t.write((0L until 100L).map(i => (i, i * 10L)).toDF("id", "v").coalesce(1))
    val src = (50L until 150L).map(i => (i, i * 1000L)).toDF("id", "nv")
    t.merge(src, expr("t.id = s.id"))
      .whenMatchedDelete(expr("s.id < 60"))
      .whenMatchedUpdate(Map("v" -> col("s.nv")))
      .whenNotMatchedInsert(Map("id" -> col("s.id"), "v" -> col("s.nv")))
      .execute()
    val m = lastMetrics(t)
    assert(m.get("numSourceRows").contains("100"), m.toString)
    assert(m.get("numTargetRowsDeleted").contains("10"), m.toString)  // 50..59
    assert(m.get("numTargetRowsUpdated").contains("40"), m.toString)  // 60..99
    assert(m.get("numTargetRowsInserted").contains("50"), m.toString) // 100..149
    assert(m.get("numTargetRowsCopied").contains("50"), m.toString)   // 0..49
    assert(m.get("numOutputRows").contains("140"), m.toString)
    assert(t.toDF.count() == 140)
  }

  test("MERGE metrics cover bySource clauses and the insert-only path") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write((0L until 100L).map(i => (i, i * 10L)).toDF("id", "v").coalesce(1))
    val src = (0L until 10L).map(i => (i, i * 1000L)).toDF("id", "nv")
    t.merge(src, expr("t.id = s.id"))
      .whenMatchedUpdate(Map("v" -> col("s.nv")))
      .whenNotMatchedBySourceDelete(expr("t.id >= 90"))
      .execute()
    val m = lastMetrics(t)
    assert(m.get("numSourceRows").contains("10"), m.toString)
    assert(m.get("numTargetRowsUpdated").contains("10"), m.toString)
    assert(m.get("numTargetRowsDeleted").contains("10"), m.toString) // 90..99
    assert(m.get("numTargetRowsInserted").contains("0"), m.toString)
    assert(m.get("numTargetRowsCopied").contains("80"), m.toString)
    assert(t.toDF.count() == 90)
    // insert-only MERGE (no matches possible): stats-derived inserts
    val dir2 = tmp()
    val t2 = DeltaTable.forPath(spark, dir2)
    t2.write(Seq((0L, 0L)).toDF("id", "v"))
    t2.merge((1L to 7L).map(i => (i, i)).toDF("id", "nv"),
        expr("t.id = s.id and t.id < 0"))
      .whenNotMatchedInsert(Map("id" -> col("s.id"), "v" -> col("s.nv")))
      .execute()
    val m2 = lastMetrics(t2)
    assert(m2.get("numSourceRows").contains("7"), m2.toString)
    assert(m2.get("numTargetRowsInserted").contains("7"), m2.toString)
    assert(m2.get("numTargetRowsCopied").contains("0"), m2.toString)
  }

  test("MERGE executes the source plan exactly twice — metrics add no pass") {
    import spark.implicits._
    // a nondeterministic counting filter on the source: every execution
    // of the source plan adds nRows to the accumulator. The two-phase
    // merge design executes the source twice (touched-file discovery +
    // rewrite join); numSourceRows must ride one of those passes via
    // CollectMetrics, never a third source.count().
    def countedSource(rows: Seq[(Long, Long)]) = {
      val acc = spark.sparkContext.longAccumulator
      val tick = udf((_: Long) => { acc.add(1L); true }).asNondeterministic()
      (rows.toDF("id", "nv").filter(tick(col("id"))), acc)
    }
    // rewrite path
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write((0L until 20L).map(i => (i, i * 10L)).toDF("id", "v").coalesce(1))
    val (src, acc) = countedSource((10L until 30L).map(i => (i, i * 1000L)))
    t.merge(src, expr("t.id = s.id"))
      .whenMatchedUpdate(Map("v" -> col("s.nv")))
      .whenNotMatchedInsert(Map("id" -> col("s.id"), "v" -> col("s.nv")))
      .execute()
    val m = lastMetrics(t)
    assert(m.get("numSourceRows").contains("20"), m.toString)
    assert(acc.value == 40L,
      s"source plan executed ${acc.value / 20.0} times, expected exactly 2")
    // insert-only fast path (condition can never match)
    val dir2 = tmp()
    val t2 = DeltaTable.forPath(spark, dir2)
    t2.write(Seq((0L, 0L)).toDF("id", "v"))
    val (src2, acc2) = countedSource((1L to 8L).map(i => (i, i)))
    t2.merge(src2, expr("t.id = s.id and t.id < 0"))
      .whenNotMatchedInsert(Map("id" -> col("s.id"), "v" -> col("s.nv")))
      .execute()
    val m2 = lastMetrics(t2)
    assert(m2.get("numSourceRows").contains("8"), m2.toString)
    assert(m2.get("numTargetRowsInserted").contains("8"), m2.toString)
    assert(acc2.value == 16L,
      s"insert-only source executed ${acc2.value / 8.0} times, expected exactly 2")
  }

  test("DV DELETE records deleted rows as cardinality growth") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write((0L until 100L).map(i => (i, i % 4)).toDF("id", "g"))
    spark.sql(s"ALTER TABLE graft.`$dir` SET TBLPROPERTIES " +
      "('delta.enableDeletionVectors' = 'true')")
    t.delete(col("id") < 10L)
    val m1 = lastMetrics(t)
    assert(m1.get("numDeletedRows").contains("10"), m1.toString)
    assert(m1.get("numDeletionVectorsAdded").exists(_.toInt > 0), m1.toString)
    // second DV delete on the SAME files: growth, not total
    t.delete(col("id") < 25L)
    val m2 = lastMetrics(t)
    assert(m2.get("numDeletedRows").contains("15"), m2.toString)
    assert(t.toDF.count() == 75)
  }

  test("CDF commits auto-record numAddedChangeFiles") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Seq((1L, 1L)).toDF("id", "g").schema.json,
      configuration = Map("delta.enableChangeDataFeed" -> "true")))
    txn.commit(Nil, Op.CreateTable)
    t.write((0L until 50L).map(i => (i, i % 4)).toDF("id", "g"))
    t.delete(col("id") < 5L)
    val m = lastMetrics(t)
    assert(m.get("numAddedChangeFiles").exists(_.toInt > 0), m.toString)
    assert(m.get("numDeletedRows").contains("5"), m.toString)
  }

  test("partition-granular deleteWhere records deleted rows") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write((0L until 40L).map(i => (i, s"p${i % 4}")).toDF("id", "part"),
      SaveMode.Append, Seq("part"))
    t.deleteWhere(col("part") === "p1")
    val m = lastMetrics(t)
    assert(m.get("numDeletedRows").contains("10"), m.toString)
    assert(t.toDF.count() == 30)
  }
}
