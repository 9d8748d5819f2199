package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Generated-column partition-filter derivation: a filter on the BASE
  * column of a monotone generated partition column must prune
  * partitions (delta-spark's OptimizeGeneratedColumn), results must be
  * IDENTICAL to the unpruned scan, and non-monotone shapes must derive
  * nothing (correctness by construction: derivation is extra-only).
  */
class GeneratedPartitionPruneSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-gpp").toString

  /** events across 4 days, partitioned by generated p_date. */
  private def dateTable(): DeltaTable = {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      GeneratedColumns.field("p_date",
        org.apache.spark.sql.types.DateType, "CAST(ts AS DATE)")))
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(schemaString = schema.json,
      partitionColumns = Seq("p_date")))
    txn.commit(Nil, Op.CreateTable)
    val rows = (0 until 96).map { i =>
      (i.toLong, s"2024-03-0${1 + i / 24} ${i % 24}:30:00")
    }
    t.write(rows.toDF("id", "ts_s")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s"),
      SaveMode.Append, Seq("p_date"))
    t
  }

  private def scannedFiles(t: DeltaTable, pred: org.apache.spark.sql.Column): Int =
    t.scan(pred).files.size

  test("CAST(ts AS DATE): range and equality filters on ts prune p_date partitions") {
    val t = dateTable()
    val all = t.scan(lit(true)).files.size
    assert(all >= 4, s"expected >=4 partition files, got $all")
    // ts >= day 3 keeps days 3 and 4 only
    val f1 = scannedFiles(t, col("ts") >= to_timestamp(lit("2024-03-03 00:00:00")))
    assert(f1 < all && f1 >= 2, s"pruned=$f1 of $all")
    // equality keeps exactly one day
    val f2 = scannedFiles(t, col("ts") === to_timestamp(lit("2024-03-02 05:30:00")))
    assert(f2 == all / 4 || f2 == 1, s"pruned=$f2 of $all")
    // strict < widens to <= on the date: day 1 only
    val f3 = scannedFiles(t, col("ts") < to_timestamp(lit("2024-03-02 00:00:00")))
    assert(f3 <= all / 2, s"pruned=$f3 of $all")
    // results identical to the full scan + filter (correctness)
    val got = t.read(col("ts") >= to_timestamp(lit("2024-03-03 00:00:00")))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val want = t.toDF
      .filter(col("ts") >= to_timestamp(lit("2024-03-03 00:00:00")))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.size == 48)
    // the real read path (DeltaFileIndex) prunes too: count scanned files
    val scanned = t.read(col("ts") === to_timestamp(lit("2024-03-02 05:30:00")))
      .select(input_file_name()).distinct().count()
    assert(scanned < all, s"file index read $scanned of $all files")
  }

  test("floor(id / N) bucket partitioning prunes on id ranges") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      GeneratedColumns.field("bucket",
        org.apache.spark.sql.types.LongType, "floor(id / 100)")))
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(schemaString = schema.json,
      partitionColumns = Seq("bucket")))
    txn.commit(Nil, Op.CreateTable)
    t.write((0L until 400L).toDF("id"), SaveMode.Append, Seq("bucket"))
    val all = t.scan(lit(true)).files.size
    assert(all >= 4)
    val pruned = scannedFiles(t, col("id") >= 250L)
    assert(pruned <= all / 2, s"pruned=$pruned of $all")
    assert(t.read(col("id") >= 250L).count() == 150)
    // IN-list derivation
    val inPruned = scannedFiles(t, col("id").isin(10L, 20L))
    assert(inPruned <= all / 4, s"IN pruned=$inPruned of $all")
  }

  test("CAST(string AS DATE) derives nothing (lexicographic vs parsed order)") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ds",
        org.apache.spark.sql.types.StringType),
      GeneratedColumns.field("p_date",
        org.apache.spark.sql.types.DateType, "CAST(ds AS DATE)")))
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(schemaString = schema.json,
      partitionColumns = Seq("p_date")))
    txn.commit(Nil, Op.CreateTable)
    // non-ISO strings: lexicographic order disagrees with parsed dates
    t.write(Seq((1L, "2024-03-01"), (2L, "2024-03-02"), (3L, "2024-03-03"))
      .toDF("id", "ds"), SaveMode.Append, Seq("p_date"))
    // the string-range filter must NOT derive a partition conjunct
    // (regular string min/max data skipping may still prune — that path
    // compares strings to strings and stays sound)
    val conjuncts = DeltaScan.analyzedConjuncts(spark,
      t.snapshot.metadata.schema, col("ds") >= "2024-03-02")
    val derived = GeneratedPartitionFilters.derive(spark,
      t.snapshot.metadata, conjuncts)
    assert(derived.isEmpty, s"unsafe string-date derivation: $derived")
    assert(t.read(col("ds") >= "2024-03-02").count() == 2)
  }

  test("non-monotone generation (month) derives nothing but stays correct") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      GeneratedColumns.field("m",
        org.apache.spark.sql.types.IntegerType, "month(ts)")))
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(schemaString = schema.json,
      partitionColumns = Seq("m")))
    txn.commit(Nil, Op.CreateTable)
    t.write(Seq(
      (1L, "2023-02-01 00:00:00"), (2L, "2024-02-01 00:00:00"),
      (3L, "2024-05-01 00:00:00")).toDF("id", "ts_s")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s"),
      SaveMode.Append, Seq("m"))
    val all = t.scan(lit(true)).files.size
    // month() is NOT monotone: no pruning may be derived from a ts range
    val f = scannedFiles(t, col("ts") >= to_timestamp(lit("2024-01-01 00:00:00")))
    assert(f == all, s"unsafe derivation pruned $f of $all")
    assert(t.read(col("ts") >= to_timestamp(lit("2024-01-01 00:00:00")))
      .count() == 2)
  }
}
