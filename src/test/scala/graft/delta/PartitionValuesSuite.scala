package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Partition-value robustness: special characters, unicode, empty
  * strings and nulls must round-trip through the hive directory layout
  * (url-encoded dirs, `__HIVE_DEFAULT_PARTITION__`), the AddFile
  * `partitionValues` map, pruned scans and partition DML.
  */
class PartitionValuesSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-partvals").toString

  // no non-ASCII here: this container's executor JVM file.encoding cannot
  // represent them in local paths (environment limit, not engine logic)
  // '+' is load-bearing: hive escaping leaves it literal, and a
  // form-decoding reader (URLDecoder) would corrupt it to a space
  private val weird = Seq(
    "plain", "has space", "eq=uals", "sla/sh", "co:lon",
    "per%cent", "#hash", "quo'te", "a+b")

  test("special-character partition values round-trip writes, scans and DML") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val df = weird.zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("id", "part")
    t.write(df, SaveMode.Append, Seq("part"))
    // every value survives the hive-dir encode/decode round trip
    val back = t.toDF.select($"id", $"part").as[(Long, String)].collect().toMap
    assert(back == weird.zipWithIndex.map { case (p, i) => (i.toLong, p) }.toMap)
    val pv = t.snapshot.allFiles.flatMap(_.partitionValues.get("part")).toSet
    assert(pv == weird.toSet, s"partitionValues mangled: $pv")
    // pruned scans hit exactly one file per value
    for (p <- weird) {
      val files = DeltaScan(t.snapshot, Some(col("part") === p)).files
      assert(files.size == 1, s"pruning for $p returned ${files.size} files")
      assert(t.read(col("part") === p).count() == 1)
    }
    // partition-granular DML on an awkward value
    t.deleteWhere(col("part") === "has space")
    assert(t.toDF.count() == weird.size - 1)
    assert(t.read(col("part") === "has space").count() == 0)
  }

  test("null and empty-string partition values land in the default partition") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val df = Seq((1L, Some("x")), (2L, None), (3L, Some("y")))
      .toDF("id", "part")
    t.write(df, SaveMode.Append, Seq("part"))
    assert(t.toDF.count() == 3)
    val nulls = t.toDF.filter($"part".isNull).select($"id").as[Long].collect().toSeq
    assert(nulls == Seq(2L))
    // the null row's AddFile carries a null partition value (spec shape)
    val nullFiles = t.snapshot.allFiles
      .filter(_.partitionValues.get("part").contains(null))
    assert(nullFiles.size == 1)
    assert(nullFiles.head.path.contains("__HIVE_DEFAULT_PARTITION__"))
    // pruned read on a concrete value skips the default partition
    assert(DeltaScan(t.snapshot, Some(col("part") === "x")).files.size == 1)
    // IS NULL predicates scan (not prune to zero) and return the row
    assert(t.read(col("part").isNull).count() == 1)
  }

  test("timestamp-typed partition column prunes on equality") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-06-15 12:30:45")))
      .toDF("id", "day")
    t.write(df, SaveMode.Append, Seq("day"))
    assert(t.toDF.count() == 2)
    val hit = t.read(col("day") === java.sql.Timestamp.valueOf("2024-06-15 12:30:45"))
    assert(hit.select($"id").as[Long].collect().toSeq == Seq(2L))
  }
}
