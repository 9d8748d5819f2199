package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Identity columns (writer v6): server-side value generation with a
  * transactional high-water mark.
  */
class IdentityColumnSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-identity").toString

  private def identityTable(start: Long = 1L, step: Long = 1L,
      allowExplicit: Boolean = false): DeltaTable = {
    val t = DeltaTable.forPath(spark, tmp())
    val schema = StructType(Seq(
      IdentityColumns.field("id", start, step, allowExplicit),
      StructField("v", StringType)))
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(schemaString = schema.json))
    txn.commit(Nil, Op.CreateTable)
    t
  }

  private def hwm(t: DeltaTable): Long =
    t.snapshot.metadata.schema("id").metadata
      .getLong(IdentityColumns.HighWaterMarkKey)

  test("omitted identity column generates contiguous values and advances the mark") {
    import spark.implicits._
    val t = identityTable()
    t.write(Seq("a", "b", "c").toDF("v").coalesce(1))
    t.write(Seq("d", "e").toDF("v").coalesce(1))
    val rows = t.toDF.orderBy("id").as[(Long, String)].collect().toSeq
    assert(rows.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(rows.map(_._2).toSet == Set("a", "b", "c", "d", "e"))
    assert(hwm(t) == 5L)
  }

  test("custom start and step; values stay step-aligned across batches") {
    import spark.implicits._
    val t = identityTable(start = 100L, step = 10L)
    t.write(Seq("a", "b").toDF("v").coalesce(1))
    t.write(Seq("c").toDF("v").coalesce(1))
    assert(t.toDF.select("id").as[Long].collect().sorted.toSeq == Seq(100L, 110L, 120L))
    assert(hwm(t) == 120L)
  }

  test("negative step descends") {
    import spark.implicits._
    val t = identityTable(start = 0L, step = -5L)
    t.write(Seq("a", "b").toDF("v").coalesce(1))
    assert(t.toDF.select("id").as[Long].collect().sorted.toSeq == Seq(-5L, 0L))
    assert(hwm(t) == -5L)
  }

  test("GENERATED ALWAYS rejects a batch that supplies the column") {
    import spark.implicits._
    val t = identityTable()
    val ex = intercept[IllegalArgumentException](
      t.write(Seq((7L, "x")).toDF("id", "v")))
    assert(ex.getMessage.contains("GENERATED ALWAYS"))
  }

  test("allowExplicitInsert accepts values, syncs the mark, and generation resumes past it") {
    import spark.implicits._
    val t = identityTable(allowExplicit = true)
    t.write(Seq((7L, "x"), (3L, "y")).toDF("id", "v"))
    assert(hwm(t) == 7L)
    t.write(Seq("z").toDF("v"))
    assert(t.toDF.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 7L, 8L))
    assert(hwm(t) == 8L)
  }

  test("identity table commits writer version 6 at creation") {
    val t = identityTable()
    assert(t.snapshot.protocol.minWriterVersion == 6)
  }

  test("adding identity metadata to an existing v2 table upgrades the protocol") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    t.write(Seq((1L, "a")).toDF("id", "v")) // plain table, writer v2
    assert(t.snapshot.protocol.minWriterVersion == 2)
    val schema = StructType(Seq(
      IdentityColumns.field("sid", 1L, 1L),
      StructField("id", org.apache.spark.sql.types.LongType),
      StructField("v", StringType)))
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(t.snapshot.metadata.copy(schemaString = schema.json))
    txn.commit(Nil, Op.ManualUpdate)
    assert(t.snapshot.protocol.minWriterVersion == 6)
  }

  test("replaceAs that introduces an identity column upgrades the writer protocol") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    t.write(Seq("a", "b").toDF("v"))
    assert(t.snapshot.protocol.minWriterVersion < 6)
    val schema = StructType(Seq(
      IdentityColumns.field("id", allowExplicitInsert = true), StructField("v", StringType)))
    t.replaceAs(spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(1L, "x")), schema))
    val p = t.deltaLog.update().protocol
    assert(p.minWriterVersion == 6 ||
      p.writerFeatures.exists(_.contains("identityColumns")), s"got $p")
  }

  test("generation is distributed: multi-partition batches get unique step-aligned ids") {
    import spark.implicits._
    val t = identityTable(start = 1L, step = 3L)
    t.write(spark.range(0, 1000).select(concat(lit("v"), $"id").as("v")).repartition(8))
    val ids = t.toDF.select("id").as[Long].collect().toSeq
    assert(ids.size == 1000)
    assert(ids.distinct.size == 1000, "identity values must be unique")
    assert(ids.forall(v => (v - 1L) % 3L == 0L), "values must be step-aligned")
    assert(hwm(t) == (1L - 3L) + 3L * 1000L) // base + step*n with base = start - step
  }
}
