package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata => _, _}
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** In-place type widening (`typeWidening` reader+writer feature): a
  * metadata-only promotion; existing narrow parquet files read through
  * the widened schema.
  */
class TypeWideningSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-widen").toString

  private def intTable(widening: Boolean): DeltaTable = {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val df = Seq((1L, 10), (2L, 20)).toDF("id", "v")
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Snapshot.nullable(df.schema)
        .asInstanceOf[StructType].json,
      configuration =
        if (widening) Map("delta.enableTypeWidening" -> "true") else Map.empty))
    txn.commit(Nil, Op.CreateTable)
    t.write(df, SaveMode.Append)
    t
  }

  test("int column widens to long on a mergeSchema write; old files read back") {
    import spark.implicits._
    val t = intTable(widening = true)
    t.write(Seq((3L, 30L), (4L, 1L << 40)).toDF("id", "v"),
      SaveMode.Append, mergeSchema = true)
    val s = t.deltaLog.update()
    assert(s.metadata.schema("v").dataType == LongType)
    // the widening is metadata-only: v0's narrow files are still live
    val rows = t.toDF.select($"id", $"v").as[(Long, Long)].collect().toMap
    assert(rows == Map(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> (1L << 40)))
    assert(t.toDF.agg(sum($"v")).head().getLong(0) == 10L + 20L + 30L + (1L << 40))
    // feature stamped as reader+writer: pre-feature readers must refuse
    val p = s.protocol
    assert(p.readerFeatures.exists(_.contains("typeWidening")))
    assert(p.writerFeatures.exists(_.contains("typeWidening")))
    // spec metadata records the physical types a reader may encounter
    val changes = s.metadata.schema("v").metadata.getMetadataArray("delta.typeChanges")
    assert(changes.length == 1)
    assert(changes(0).getString("fromType") == "integer")
    assert(changes(0).getString("toType") == "long")
  }

  test("narrower incoming data up-casts to the table type on write") {
    import spark.implicits._
    val t = intTable(widening = true)
    t.write(Seq((3L, 30L), (4L, 1L << 40)).toDF("id", "v"),
      SaveMode.Append, mergeSchema = true) // widen to long
    // now append INT data into the LONG column — no mergeSchema needed
    t.write(Seq((5L, 50)).toDF("id", "v"), SaveMode.Append)
    assert(t.deltaLog.update().metadata.schema("v").dataType == LongType)
    assert(t.toDF.count() == 5)
    assert(t.toDF.filter($"id" === 5).select($"v").as[Long].head() == 50L)
  }

  test("widening requires the table config and mergeSchema") {
    import spark.implicits._
    val off = intTable(widening = false)
    val exOff = intercept[IllegalArgumentException] {
      off.write(Seq((3L, 30L)).toDF("id", "v"), SaveMode.Append, mergeSchema = true)
    }
    assert(exOff.getMessage.contains("cannot change type"))
    val on = intTable(widening = true)
    val exNoMerge = intercept[IllegalArgumentException] {
      on.write(Seq((3L, 30L)).toDF("id", "v"), SaveMode.Append)
    }
    assert(exNoMerge.getMessage.contains("widenable"))
  }

  test("float widens to double; lossy changes are rejected") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val df = Seq((1L, 1.5f), (2L, 2.25f)).toDF("id", "x")
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Snapshot.nullable(df.schema).asInstanceOf[StructType].json,
      configuration = Map("delta.enableTypeWidening" -> "true")))
    txn.commit(Nil, Op.CreateTable)
    t.write(df, SaveMode.Append)
    t.write(Seq((3L, 3.125)).toDF("id", "x"), SaveMode.Append, mergeSchema = true)
    assert(t.deltaLog.update().metadata.schema("x").dataType == DoubleType)
    val m = t.toDF.select($"id", $"x").as[(Long, Double)].collect().toMap
    assert(m == Map(1L -> 1.5, 2L -> 2.25, 3L -> 3.125))
    // long -> int would truncate: never allowed
    val ex = intercept[IllegalArgumentException] {
      t.write(Seq(("a", 1)).toDF("id", "x"), SaveMode.Append, mergeSchema = true)
    }
    assert(ex.getMessage.contains("cannot change type"))
  }

  test("widening matrix") {
    assert(TypeWidening.canWiden(ByteType, LongType))
    assert(TypeWidening.canWiden(ShortType, IntegerType))
    assert(TypeWidening.canWiden(IntegerType, DoubleType))
    assert(TypeWidening.canWiden(DecimalType(10, 2), DecimalType(14, 4)))
    assert(!TypeWidening.canWiden(LongType, IntegerType))
    assert(!TypeWidening.canWiden(DoubleType, FloatType))
    assert(!TypeWidening.canWiden(DecimalType(10, 2), DecimalType(10, 4))) // loses digits
    assert(!TypeWidening.canWiden(LongType, DoubleType)) // lossy above 2^53
    assert(!TypeWidening.canWiden(IntegerType, IntegerType))
  }
}
