package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** The open `variantType` table feature (Delta PROTOCOL.md): a VARIANT
  * column in the schema must stamp the reader+writer feature (its
  * physical layout is a two-binary struct a pre-feature reader would
  * surface raw), values must round-trip through the log/scan path, and
  * stats collection must skip the column rather than choke on it.
  */
class VariantTableSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-variant").toString

  private def variantDf = {
    import spark.implicits._
    Seq(
      (1L, """{"a": 1, "b": "x"}"""),
      (2L, """{"a": 2, "nested": {"c": [1, 2, 3]}}"""),
      (3L, """[7, 8]"""),
      (4L, """"plain string""""),
      (5L, "null"))
      .toDF("id", "j")
      .select($"id", parse_json($"j").as("v"))
  }

  test("writing a variant column stamps the variantType reader+writer feature") {
    val t = DeltaTable.forPath(spark, tmp())
    t.write(variantDf)
    val p = t.snapshot.protocol
    assert(p.minReaderVersion == 3 && p.minWriterVersion == 7,
      s"variant requires table-features protocol, got $p")
    assert(p.readerFeatures.exists(_.contains("variantType")), p.toString)
    assert(p.writerFeatures.exists(_.contains("variantType")), p.toString)
    // schema round-trips through the log as the "variant" Spark type
    assert(t.snapshot.metadata.schema("v").dataType ==
      org.apache.spark.sql.types.VariantType)
  }

  test("variant values round-trip through write, scan, and checkpoint") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    t.write(variantDf)
    def dump(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.select($"id", to_json($"v").as("js")).as[(Long, String)]
        .collect().sortBy(_._1).toSeq
    val first = dump(t.toDF)
    assert(first.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(first.toMap.apply(2L).contains(""""c":[1,2,3]"""))
    assert(first.toMap.apply(4L) == "\"plain string\"")
    // typed path extraction works through the scan
    val a1 = t.toDF.filter($"id" === 1L)
      .select(variant_get($"v", "$.a", "bigint")).head().getLong(0)
    assert(a1 == 1L)
    // checkpoint (v1) must carry the schema + protocol through replay:
    // a FRESH DeltaLog (cache bypassed) reconstructs from the checkpoint
    t.deltaLog.checkpoint(t.deltaLog.update())
    val freshLog = new DeltaLog(spark, t.deltaLog.dataPath)
    val s2 = freshLog.update()
    assert(s2.metadata.schema("v").dataType ==
      org.apache.spark.sql.types.VariantType)
    val p2 = s2.protocol
    assert(p2.readerFeatures.exists(_.contains("variantType")))
    assert(dump(DeltaTable.forPath(spark, t.deltaLog.dataPath.toString).toDF) == first)
  }

  test("a non-variant table does NOT get the feature stamped") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    t.write(Seq((1L, "x")).toDF("id", "s"))
    val p = t.snapshot.protocol
    assert(!p.readerFeatures.exists(_.contains("variantType")))
    assert(!p.writerFeatures.exists(_.contains("variantType")))
  }
}
