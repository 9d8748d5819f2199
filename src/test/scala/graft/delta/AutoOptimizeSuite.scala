package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** A42: optimized writes (`delta.autoOptimize.optimizeWrite`) and auto
  * compaction (`delta.autoOptimize.autoCompact`) — the write-side file
  * layout controls. Covers the file-count contract (~1 file per Hive
  * partition per commit), the minNumFiles trigger threshold, the
  * touched-partitions-only scope, and the streaming-batch interplay.
  */
class AutoOptimizeSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-autoopt").toString

  private def seed(n: Int = 60): DataFrame = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"row$i", Seq("x", "y", "z")(i % 3)))
      .toDF("id", "v", "part")
  }

  private def createTable(dir: String, partCols: Seq[String],
      config: Map[String, String]): DeltaTable = {
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Snapshot.nullable(seed().schema)
        .asInstanceOf[org.apache.spark.sql.types.StructType].json,
      partitionColumns = partCols,
      configuration = config))
    txn.commit(Nil, Op.CreateTable)
    t
  }

  private def filesPerPartition(t: DeltaTable): Map[String, Int] =
    t.deltaLog.update().allFiles
      .groupBy(_.partitionValues.getOrElse("part", ""))
      .map { case (k, fs) => (k, fs.size) }

  test("optimizedWrite: many input tasks collapse to ~1 file per partition") {
    // baseline: without optimizeWrite, each task writes a file per
    // partition value it holds — O(tasks x partitions) files
    val plainDir = tmp()
    val plain = createTable(plainDir, Seq("part"), Map.empty)
    plain.write(seed().repartition(8), SaveMode.Append, Seq("part"))
    val plainFiles = plain.deltaLog.update().numOfFiles
    assert(plainFiles > 3, s"expected >3 files without optimizeWrite, got $plainFiles")

    val optDir = tmp()
    val opt = createTable(optDir, Seq("part"),
      Map("delta.autoOptimize.optimizeWrite" -> "true"))
    opt.write(seed().repartition(8), SaveMode.Append, Seq("part"))
    assert(filesPerPartition(opt) == Map("x" -> 1, "y" -> 1, "z" -> 1),
      s"expected one file per partition, got ${filesPerPartition(opt)}")
    // same data either way
    assert(spark.read.format("graft-delta").load(optDir).count() == 60)
  }

  test("optimizedWrite: unpartitioned small batch lands as one file") {
    val dir = tmp()
    val t = createTable(dir, Nil,
      Map("delta.autoOptimize.optimizeWrite" -> "true"))
    t.write(seed().repartition(8), SaveMode.Append)
    assert(t.deltaLog.update().numOfFiles == 1)
    assert(spark.read.format("graft-delta").load(dir).count() == 60)
  }

  test("autoCompact: fires only at minNumFiles, only on touched partitions") {
    import spark.implicits._
    val dir = tmp()
    // phase 1: compaction off — accumulate 3 files in partition y
    val t = createTable(dir, Seq("part"), Map.empty)
    (1 to 3).foreach { i =>
      t.write(Seq((i.toLong, s"y$i", "y")).toDF("id", "v", "part"), SaveMode.Append)
    }
    assert(filesPerPartition(t) == Map("y" -> 3))

    // phase 2: enable autoCompact with minNumFiles=3
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(txn.metadata.copy(configuration = txn.metadata.configuration +
      ("delta.autoOptimize.autoCompact" -> "true") +
      ("delta.autoOptimize.autoCompact.minNumFiles" -> "3")))
    txn.commit(Nil, Op.SetTableProperties)

    // a write touching only x must NOT compact y, even though y >= minN
    t.write(Seq((10L, "x1", "x")).toDF("id", "v", "part"), SaveMode.Append)
    assert(filesPerPartition(t) == Map("x" -> 1, "y" -> 3),
      "untouched partition must not be compacted")

    // x below the threshold: 2 files < 3 — no compaction yet
    t.write(Seq((11L, "x2", "x")).toDF("id", "v", "part"), SaveMode.Append)
    assert(filesPerPartition(t)("x") == 2)

    // the write that brings x to 3 files triggers bin-packing x -> 1
    t.write(Seq((12L, "x3", "x")).toDF("id", "v", "part"), SaveMode.Append)
    val after = filesPerPartition(t)
    assert(after("x") == 1, s"touched partition at minNumFiles must compact, got $after")
    assert(after("y") == 3, s"untouched partition must stay, got $after")
    // compaction preserved the rows
    assert(spark.read.format("graft-delta").load(dir).count() == 6)
    assert(spark.read.format("graft-delta").load(dir)
      .filter($"part" === "x").count() == 3)
  }

  test("autoCompact: unpartitioned table compacts past minNumFiles") {
    import spark.implicits._
    val dir = tmp()
    val t = createTable(dir, Nil, Map(
      "delta.autoOptimize.autoCompact" -> "true",
      "delta.autoOptimize.autoCompact.minNumFiles" -> "3"))
    (1 to 2).foreach { i =>
      t.write(Seq((i.toLong, s"r$i", "x")).toDF("id", "v", "part"), SaveMode.Append)
    }
    assert(t.deltaLog.update().numOfFiles == 2) // below threshold: untouched
    t.write(Seq((3L, "r3", "x")).toDF("id", "v", "part"), SaveMode.Append)
    assert(t.deltaLog.update().numOfFiles == 1,
      "whole-table bin-pack expected at minNumFiles")
    assert(spark.read.format("graft-delta").load(dir).count() == 3)
  }

  test("streaming batches + autoCompact: bounded file count, dedup intact") {
    import spark.implicits._
    val dir = tmp()
    val t = createTable(dir, Nil, Map(
      "delta.autoOptimize.autoCompact" -> "true",
      "delta.autoOptimize.autoCompact.minNumFiles" -> "3",
      "delta.autoOptimize.optimizeWrite" -> "true"))
    (0L to 4L).foreach { b =>
      t.writeStreamBatch(Seq((b, s"b$b", "x")).toDF("id", "v", "part"), "appA", b)
    }
    // 5 single-file batches with compaction at every 3rd accumulation:
    // the active count must stay below minNumFiles + 1
    assert(t.deltaLog.update().numOfFiles <= 3,
      s"file count must stay bounded, got ${t.deltaLog.update().numOfFiles}")
    assert(spark.read.format("graft-delta").load(dir).count() == 5)
    // the SetTransaction batch counter survives compaction commits:
    // re-delivery of an old batch stays a no-op
    assert(!t.writeStreamBatch(Seq((99L, "dup", "x")).toDF("id", "v", "part"), "appA", 2L))
    assert(spark.read.format("graft-delta").load(dir).count() == 5)
  }
}
