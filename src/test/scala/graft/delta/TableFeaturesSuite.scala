package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** CHECK constraints / NOT NULL invariants, RESTORE, and shallow CLONE. */
class TableFeaturesSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-feat").toString

  private def seeded(): DeltaTable = {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    t.write(Seq(
      (1L, "alice", 10, "x"), (2L, "bob", 20, "x"),
      (3L, "carol", 30, "y"), (4L, "dave", 40, "y"),
      (5L, "erin", 50, "z")).toDF("id", "name", "score", "part"),
      SaveMode.Append, Seq("part"))
    t
  }

  // ---------------------------------------------------------- constraints

  test("ADD CONSTRAINT verifies existing data and bumps writer protocol") {
    val t = seeded()
    t.addConstraint("score_pos", "score > 0")
    assert(t.constraints == Map("score_pos" -> "score > 0"))
    assert(t.snapshot.protocol.minWriterVersion == 3)
    val ex = intercept[IllegalArgumentException] {
      t.addConstraint("score_small", "score < 40") // dave/erin violate
    }
    assert(ex.getMessage.contains("existing rows violate"))
    assert(t.constraints.size == 1)
  }

  test("writes enforce CHECK constraints inside the write pass") {
    import spark.implicits._
    val t = seeded()
    t.addConstraint("score_pos", "score > 0")
    val vBefore = t.deltaLog.update().version
    val ex = intercept[ConstraintViolationException] {
      t.write(Seq((6L, "mallory", -1, "z")).toDF("id", "name", "score", "part"),
        SaveMode.Append, Seq("part"))
    }
    assert(ex.getMessage.contains("score_pos"))
    assert(t.deltaLog.update().version == vBefore, "failed write must not commit")
    // NULL predicate result passes (SQL CHECK semantics)
    t.write(Seq((7L, "nil", null.asInstanceOf[Integer], "z"))
      .toDF("id", "name", "score", "part"), SaveMode.Append, Seq("part"))
    assert(t.toDF.count() == 6)
  }

  test("DROP CONSTRAINT re-allows previously violating writes") {
    import spark.implicits._
    val t = seeded()
    t.addConstraint("score_pos", "score > 0")
    t.dropConstraint("score_pos")
    assert(t.constraints.isEmpty)
    t.write(Seq((6L, "mallory", -1, "z")).toDF("id", "name", "score", "part"),
      SaveMode.Append, Seq("part"))
    assert(t.toDF.count() == 6)
    intercept[IllegalArgumentException](t.dropConstraint("nope"))
  }

  test("NOT NULL invariants from the schema are enforced") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(schemaString = schema.json))
    txn.commit(Nil, Op.CreateTable)
    val bad = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(null, "x")),
      Snapshot.nullable(schema).asInstanceOf[org.apache.spark.sql.types.StructType])
    val ex = intercept[ConstraintViolationException](t.write(bad))
    assert(ex.getMessage.contains("NOT NULL"))
  }

  test("legacy writer-v2 delta.invariants column metadata is enforced") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val t = DeltaTable.forPath(spark, tmp())
    // the shape an old delta-standalone writer records (PROTOCOL.md):
    // field metadata delta.invariants = {"expression":{"expression":...}}
    val inv = new MetadataBuilder().putString("delta.invariants",
      """{"expression":{"expression":"value < 100"}}""").build()
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("value", LongType, nullable = true, metadata = inv)))
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(graft.delta.Metadata(schemaString = schema.json))
    txn.commit(Nil, Op.CreateTable)
    // conforming rows land
    t.write(Seq((1L, 10L), (2L, 99L)).toDF("id", "value"))
    assert(t.toDF.count() == 2)
    // a violating row must be rejected by the write pass
    val ex = intercept[ConstraintViolationException] {
      t.write(Seq((3L, 100L)).toDF("id", "value"))
    }
    assert(ex.getMessage.contains("value < 100"), ex.getMessage)
    // NULL predicate result passes (SQL CHECK semantics)
    t.write(spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(4L, null)),
      Snapshot.nullable(schema).asInstanceOf[StructType]))
    assert(t.toDF.count() == 3)
    // an unparseable payload fails loudly rather than silently skipping
    val bad = new MetadataBuilder().putString("delta.invariants",
      """{"what":"ever"}""").build()
    val t2 = DeltaTable.forPath(spark, tmp())
    val txn2 = t2.deltaLog.startTransaction()
    txn2.updateMetadata(graft.delta.Metadata(schemaString = StructType(Seq(
      StructField("x", LongType, nullable = true, metadata = bad))).json))
    txn2.commit(Nil, Op.CreateTable)
    intercept[IllegalArgumentException] {
      t2.write(Seq(Tuple1(1L)).toDF("x"))
    }
  }

  test("delta.dataSkippingStatsColumns restricts stats to the listed columns") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Seq(("a", 1L, "x")).toDF("id", "score", "name").schema.json,
      configuration = Map("delta.dataSkippingStatsColumns" -> "name")))
    txn.commit(Nil, Op.CreateTable)
    t.write(Seq(("a", 1L, "x"), ("b", 2L, "y")).toDF("id", "score", "name"))
    val stats = t.snapshot.allFiles.head.stats
    assert(stats != null && stats.contains("\"name\""), stats)
    assert(!stats.contains("\"score\"") && !stats.contains("\"id\""), stats)
    // skipping still prunes on the listed column
    t.write(Seq(("c", 3L, "z")).toDF("id", "score", "name"))
    val pruned = t.scan(col("name") === "z").files
    assert(pruned.size == 1, s"expected 1 file, got ${pruned.size}")
  }

  test("delta.invariants on NESTED struct fields are enforced") {
    import org.apache.spark.sql.types._
    val t = DeltaTable.forPath(spark, tmp())
    // PROTOCOL.md's own example: invariant on nested field x.y, with the
    // stored expression already path-qualified from the root
    val inv = new MetadataBuilder().putString("delta.invariants",
      """{"expression":{"expression":"x.y < 3"}}""").build()
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("x", StructType(Seq(
        StructField("y", LongType, nullable = true, metadata = inv))))))
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(graft.delta.Metadata(schemaString = schema.json))
    txn.commit(Nil, Op.CreateTable)
    def frame(y: java.lang.Long) = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(1L, org.apache.spark.sql.Row(y))),
      Snapshot.nullable(schema).asInstanceOf[StructType])
    t.write(frame(2L)) // conforming nested value lands
    assert(t.toDF.count() == 1)
    val ex = intercept[ConstraintViolationException](t.write(frame(7L)))
    assert(ex.getMessage.contains("x.y"), ex.getMessage)
    t.write(frame(null)) // NULL predicate result passes (CHECK semantics)
    assert(t.toDF.count() == 2)
  }

  test("RENAME/DROP of a constrained column is rejected") {
    val t = seeded()
    t.addConstraint("score_pos", "score > 0")
    val ex = intercept[IllegalArgumentException](t.renameColumn("score", "points"))
    assert(ex.getMessage.contains("score_pos"))
    intercept[IllegalArgumentException](t.dropColumn("score"))
    t.renameColumn("name", "alias") // unconstrained columns still movable
    assert(t.toDF.columns.contains("alias"))
  }

  // -------------------------------------------------------------- restore

  test("RESTORE rolls back to a prior version as a new commit") {
    import spark.implicits._
    val t = seeded() // v0
    t.delete(col("score") >= 30) // v1
    t.write(Seq((9L, "zed", 90, "x")).toDF("id", "name", "score", "part"),
      SaveMode.Append, Seq("part")) // v2
    val v = t.restoreToVersion(0)
    assert(v == 3, "restore is a NEW commit, not history rewrite")
    assert(t.toDF.select("id").as[Long].collect().sorted.toSeq == (1L to 5L))
    // history preserved: v2 state still time-travelable
    assert(t.toDF(2).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 9L))
    // restore of the restore: back to the post-delete v2 state
    t.restoreToVersion(2)
    assert(t.toDF.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 9L))
  }

  test("RESTORE fails when target files were vacuumed away") {
    import spark.implicits._
    val t = seeded() // v0
    t.delete(col("part") === "y") // v1 rewrites part=y files
    t.vacuum(retentionMillis = Some(0L)) // physically deletes v0-only files
    val ex = intercept[IllegalStateException](t.restoreToVersion(0))
    assert(ex.getMessage.contains("no longer exist"))
  }

  // ---------------------------------------------------------------- clone

  test("shallow clone reads the source's files without copying data") {
    val t = seeded()
    val destDir = tmp() + "/clone"
    val c = t.shallowCloneTo(destDir)
    assert(c.toDF.count() == 5)
    assert(c.snapshot.allFiles.forall(f => new java.net.URI(f.path).isAbsolute),
      "clone AddFiles must be absolute URIs into the source")
    // no parquet under the clone root: metadata-only
    val cloneFiles = Files.walk(java.nio.file.Paths.get(destDir))
      .filter(p => p.toString.endsWith(".parquet") && !p.toString.contains("_delta_log"))
      .count()
    assert(cloneFiles == 0)
    intercept[IllegalArgumentException](t.shallowCloneTo(destDir)) // exists
  }

  test("a shallow clone writes exactly one Protocol action in version 0") {
    val t = seeded()
    val c = t.shallowCloneTo(tmp() + "/clone")
    val v0 = c.deltaLog.readCommit(0L).get.flatMap(Actions.fromJson)
    assert(v0.count(_.isInstanceOf[Protocol]) == 1, v0.mkString("\n"))
    assert(c.snapshot.protocol == t.snapshot.protocol)
  }

  test("DML on a shallow clone never touches the source") {
    import spark.implicits._
    val t = seeded()
    val srcVersion = t.deltaLog.update().version
    val c = t.shallowCloneTo(tmp() + "/clone")
    // partition-aware row-level delete through the external-path read
    c.delete(col("score") >= 30 && col("part") === "y")
    assert(c.toDF.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 5L))
    assert(t.deltaLog.update().version == srcVersion, "source log untouched")
    assert(t.toDF.count() == 5, "source data untouched")
    // update on the clone writes NEW files under the clone root
    c.update(col("id") === 1L, Map("name" -> lit("ALICE")))
    assert(c.toDF.filter(col("name") === "ALICE").count() == 1)
    // source evolves independently of the clone (3 rows survived the delete)
    t.write(Seq((6L, "frank", 60, "z")).toDF("id", "name", "score", "part"),
      SaveMode.Append, Seq("part"))
    assert(c.toDF.count() == 3)
    assert(t.toDF.count() == 6)
  }

  test("clone of a DV table keeps merge-on-read deletes visible") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val df = (1 to 100).map(i => (i.toLong, i % 7)).toDF("id", "m")
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = df.schema.json,
      configuration = Map("delta.enableDeletionVectors" -> "true")))
    txn.commit(Nil, Op.CreateTable)
    t.write(df)
    t.delete(col("m") === 0) // sidecar DV, no rewrite
    require(t.snapshot.allFiles.exists(f => DeletionVectors.descriptor(f).isDefined))
    val c = t.shallowCloneTo(tmp() + "/clone")
    assert(c.toDF.count() == t.toDF.count())
    assert(c.toDF.filter(col("m") === 0).count() == 0)
  }

  test("OPTIMIZE on a clone rewrites into the clone's own root") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    (0 until 3).foreach(k =>
      t.write((1 to 30).filter(_ % 3 == k).map(i => (i.toLong, s"r$i")).toDF("id", "v")))
    val c = t.shallowCloneTo(tmp() + "/clone")
    val srcPathsBefore = t.snapshot.allFiles.map(_.path).toSet
    val cloneFilesBefore = c.snapshot.allFiles.size
    c.compact()
    assert(c.toDF.count() == 30)
    assert(c.snapshot.allFiles.size < cloneFilesBefore, "compaction merged files")
    assert(c.snapshot.allFiles.forall(f => !new java.net.URI(f.path).isAbsolute),
      "compacted files live under the clone root (relative paths)")
    assert(t.snapshot.allFiles.map(_.path).toSet == srcPathsBefore,
      "source layout untouched")
  }

  // ------------------------------------------------------- table features

  test("reader v3 gates on listed features, not the version number") {
    import spark.implicits._
    val t = seeded()
    t.deltaLog.startTransaction().commit(Seq(Protocol(
      minReaderVersion = 3, minWriterVersion = 7,
      readerFeatures = Some(Set("deletionVectors", "columnMapping")),
      writerFeatures = Some(Set("deletionVectors", "columnMapping", "appendOnly")))),
      "UPGRADE PROTOCOL")
    assert(t.toDF.count() == 5) // all listed features supported -> readable
    t.write(Seq((6L, "frank", 60, "z")).toDF("id", "name", "score", "part"),
      SaveMode.Append, Seq("part"))
    assert(t.toDF.count() == 6) // and writable
  }

  test("unsupported reader/writer features are rejected by name") {
    import spark.implicits._
    val t = seeded()
    t.deltaLog.startTransaction().commit(Seq(Protocol(
      minReaderVersion = 3, minWriterVersion = 7,
      readerFeatures = Some(Set("collations")),
      writerFeatures = Some(Set("collations")))), "UPGRADE PROTOCOL")
    val ex = intercept[Exception](t.toDF.collect())
    assert(ex.getMessage.contains("collations"))

    val t2 = seeded()
    t2.deltaLog.startTransaction().commit(Seq(Protocol(
      minReaderVersion = 1, minWriterVersion = 7,
      writerFeatures = Some(Set("icebergCompatV2")))), "UPGRADE PROTOCOL")
    assert(t2.toDF.count() == 5) // still readable
    val ex2 = intercept[Exception] {
      t2.write(Seq((9L, "zoe", 90, "z")).toDF("id", "name", "score", "part"),
        SaveMode.Append, Seq("part"))
    }
    assert(ex2.getMessage.contains("icebergCompatV2"))
  }

  test("a Dataset-bodied overwrite or truncate is refused on an unsupported writer feature") {
    import spark.implicits._
    val t = seeded()
    t.deltaLog.startTransaction().commit(Seq(Protocol(
      minReaderVersion = 1, minWriterVersion = 7,
      writerFeatures = Some(Set("icebergCompatV2")))), "UPGRADE PROTOCOL")
    val asSeq = intercept[Exception] {
      t.deltaLog.startTransaction().commit(Nil, Op.Truncate)
    }
    assert(asSeq.getMessage.contains("icebergCompatV2"))
    val truncate = intercept[Exception](t.truncate())
    assert(truncate.getMessage.contains("icebergCompatV2"))
    val overwrite = intercept[Exception] {
      t.write(Seq((9L, "zoe", 90, "z")).toDF("id", "name", "score", "part"),
        SaveMode.Overwrite, Seq("part"))
    }
    assert(overwrite.getMessage.contains("icebergCompatV2"))
    assert(t.deltaLog.update().version == 1L && t.toDF.count() == 5)
  }

  test("feature lists round-trip through the JSON log") {
    val p = Protocol(3, 7, Some(Set("deletionVectors")), Some(Set("appendOnly", "deletionVectors")))
    val line = Actions.toJson(p)
    assert(Actions.fromJson(line).contains(p))
    // plain protocols keep the compact two-field shape
    assert(!Actions.toJson(Protocol(1, 2)).contains("Features"))
  }

  // ---------------------------------------------------- generated columns

  private def generatedTable(): DeltaTable = {
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StructField, StructType}
    val t = DeltaTable.forPath(spark, tmp())
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("ts", DateType),
      GeneratedColumns.field("yr", IntegerType, "year(ts)")))
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = schema.json, partitionColumns = Seq("yr")))
    txn.commit(Nil, Op.CreateTable)
    t
  }

  test("omitted generated column is computed and partitions the write") {
    import spark.implicits._
    val t = generatedTable()
    t.write(Seq((1L, "2020-03-01"), (2L, "2021-07-09")).toDF("id", "d")
      .select($"id", to_date($"d").as("ts")))
    assert(t.snapshot.allFiles.forall(_.partitionValues.contains("yr")))
    assert(t.snapshot.allFiles.map(_.partitionValues("yr")).toSet == Set("2020", "2021"))
    val r = t.toDF.orderBy("id").select("yr").as[Int].collect().toSeq
    assert(r == Seq(2020, 2021))
  }

  test("supplied generated column is enforced against its expression") {
    import spark.implicits._
    val t = generatedTable()
    // correct value passes
    t.write(Seq((1L, "2020-03-01", 2020)).toDF("id", "d", "yr")
      .select($"id", to_date($"d").as("ts"), $"yr"))
    // wrong value raises the typed violation and nothing commits
    val v = t.deltaLog.update().version
    intercept[ConstraintViolationException] {
      t.write(Seq((2L, "2021-07-09", 1999)).toDF("id", "d", "yr")
        .select($"id", to_date($"d").as("ts"), $"yr"))
    }
    assert(t.deltaLog.update().version == v)
  }

  // ------------------------------------------------------- OPTIMIZE WHERE

  test("OPTIMIZE WHERE compacts only the matching partitions") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    (0 until 3).foreach { k =>
      t.write(Seq((k.toLong, "x"), (k.toLong + 10, "y")).toDF("id", "part")
        .coalesce(1), SaveMode.Append, Seq("part"))
    }
    val before = t.snapshot.allFiles.groupBy(_.partitionValues("part"))
    assert(before("x").size == 3 && before("y").size == 3)
    t.compact(col("part") === "x")
    val after = t.snapshot.allFiles.groupBy(_.partitionValues("part"))
    assert(after("x").size == 1, "matching partition bin-packed")
    assert(after("y").map(_.path).toSet == before("y").map(_.path).toSet,
      "non-matching partition untouched")
    assert(t.toDF.count() == 6)
    // non-partition predicates are rejected, not silently full-table
    intercept[IllegalArgumentException](t.compact(col("id") > 0))
  }

  // ------------------------------------------- protocol feature stamping

  test("a TIMESTAMP_NTZ column stamps the timestampNtz reader+writer feature") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    t.write(Seq((1L, java.time.LocalDateTime.of(2026, 8, 14, 12, 0)))
      .toDF("id", "wall_ts"))
    val p = t.snapshot.protocol
    assert(p.minReaderVersion == 3 && p.minWriterVersion == 7,
      s"NTZ requires the table-features protocol, got $p")
    assert(p.readerFeatures.exists(_.contains("timestampNtz")))
    assert(p.writerFeatures.exists(_.contains("timestampNtz")))
    // values survive the feature-gated roundtrip unshifted
    assert(t.toDF.select($"wall_ts".cast("string")).as[String].collect().toSeq ==
      Seq("2026-08-14 12:00:00"))
  }

  // ------------------------------------------------------ column defaults

  test("omitted defaulted column is filled; supplied values win; feature stamped") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val t = DeltaTable.forPath(spark, tmp())
    val schema = StructType(Seq(
      StructField("id", LongType),
      ColumnDefaults.field("tier", StringType, "'standard'")))
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(schemaString = schema.json))
    txn.commit(Nil, Op.CreateTable)
    t.write(Seq(1L, 2L).toDF("id"))                       // omits tier -> default
    t.write(Seq((3L, "gold")).toDF("id", "tier"))         // supplies tier -> wins
    val got = t.toDF.orderBy("id").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "standard"), (2L, "standard"), (3L, "gold")))
    val p = t.snapshot.protocol
    assert(p.minWriterVersion == 7 &&
      p.writerFeatures.exists(_.contains("allowColumnDefaults")), s"got $p")
  }

  test("setColumnDefault affects future writes only; dropColumnDefault re-requires the column") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    t.write(Seq((1L, "a")).toDF("id", "name"))
    intercept[IllegalArgumentException](t.setColumnDefault("nope", "'x'"))
    t.setColumnDefault("name", "concat('anon-', id)")
    t.write(Seq(7L).toDF("id"))
    assert(t.toDF.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (7L, "anon-7")))
    t.dropColumnDefault("name")
    intercept[IllegalArgumentException](t.write(Seq(8L).toDF("id")))
  }

  test("a DEFAULT on an evolution-added column is refused") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType}
    val t = DeltaTable.forPath(spark, tmp())
    t.write(Seq((1L, "a")).toDF("id", "name"))
    val withDefault = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(2L, "b", 9))),
      org.apache.spark.sql.types.StructType(t.snapshot.metadata.schema.fields :+
        ColumnDefaults.field("prio", IntegerType, "0")))
    val e = intercept[IllegalArgumentException] {
      t.write(withDefault, SaveMode.Append, mergeSchema = true)
    }
    assert(e.getMessage.contains("schema evolution"))
  }

  test("enabling ICT stamps the inCommitTimestamp writer feature") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    t.write(Seq((1L, "a")).toDF("id", "name"))
    assert(!t.snapshot.protocol.writerFeatures.exists(_.contains("inCommitTimestamp")))
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(txn.metadata.copy(configuration = txn.metadata.configuration +
      ("delta.enableInCommitTimestamps" -> "true")))
    txn.commit(Nil, Op.SetTableProperties)
    val p = t.deltaLog.update().protocol
    assert(p.minWriterVersion == 7 &&
      p.writerFeatures.exists(_.contains("inCommitTimestamp")), s"got $p")
  }

  test("delta.feature.<name>=supported absorbs into the protocol and is stripped") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    t.write(Seq((1L, "a")).toDF("id", "name"))
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(txn.metadata.copy(configuration = txn.metadata.configuration ++
      Map("delta.feature.deletionVectors" -> "supported",
        "delta.feature.appendOnly" -> "supported")))
    txn.commit(Nil, Op.SetTableProperties)
    val s = t.deltaLog.update()
    val p = s.protocol
    // deletionVectors is reader+writer, appendOnly writer-only
    assert(p.minReaderVersion == 3 && p.minWriterVersion == 7, s"got $p")
    assert(p.readerFeatures.exists(_.contains("deletionVectors")), s"got $p")
    assert(p.writerFeatures.exists(_.contains("deletionVectors")), s"got $p")
    assert(p.writerFeatures.exists(_.contains("appendOnly")), s"got $p")
    // one-shot directive: stripped from the stored configuration
    assert(!s.metadata.configuration.keys.exists(_.startsWith("delta.feature.")),
      s"got ${s.metadata.configuration}")
  }

  test("commitLarge honors delta.feature.<name>=supported identically") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    t.write(Seq((1L, "a")).toDF("id", "name"))
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(txn.metadata.copy(configuration = txn.metadata.configuration ++
      Map("delta.feature.deletionVectors" -> "supported",
        "delta.feature.appendOnly" -> "supported")))
    // a Dataset-bodied commit must validate/strip/upgrade exactly like a Seq one
    txn.commit(Nil, spark.emptyDataset[SingleAction], Op.SetTableProperties, Map.empty)
    val s = t.deltaLog.update()
    val p = s.protocol
    assert(p.minReaderVersion == 3 && p.minWriterVersion == 7, s"got $p")
    assert(p.readerFeatures.exists(_.contains("deletionVectors")), s"got $p")
    assert(p.writerFeatures.exists(_.contains("deletionVectors")), s"got $p")
    assert(p.writerFeatures.exists(_.contains("appendOnly")), s"got $p")
    assert(!s.metadata.configuration.keys.exists(_.startsWith("delta.feature.")),
      s"raw one-shot keys must not persist: ${s.metadata.configuration}")
    // unknown names fail loudly with a Dataset body too
    val t2 = DeltaTable.forPath(spark, tmp())
    t2.write(Seq((1L, "a")).toDF("id", "name"))
    val bad = t2.deltaLog.startTransaction()
    bad.updateMetadata(bad.metadata.copy(configuration = bad.metadata.configuration +
      ("delta.feature.notAThing" -> "supported")))
    val e = intercept[IllegalArgumentException] {
      bad.commit(Nil, spark.emptyDataset[SingleAction], Op.SetTableProperties, Map.empty)
    }
    assert(e.getMessage.contains("notAThing"))
  }

  test("vacuumProtocolCheck round-trips and gates VACUUM on the writer protocol") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(txn.metadata.copy(configuration = txn.metadata.configuration +
      ("delta.feature.vacuumProtocolCheck" -> "supported")))
    txn.commit(Nil, Op.SetTableProperties)
    val p = t.deltaLog.update().protocol
    // reader+writer feature per the public spec: r3/w7, listed on both sides
    assert(p.minReaderVersion == 3 && p.minWriterVersion == 7, s"got $p")
    assert(p.readerFeatures.exists(_.contains("vacuumProtocolCheck")), s"got $p")
    assert(p.writerFeatures.exists(_.contains("vacuumProtocolCheck")), s"got $p")
    // this client supports the feature: vacuum proceeds normally
    t.write(Seq((3L, "c")).toDF("id", "name"),
      org.apache.spark.sql.SaveMode.Overwrite)
    assert(t.vacuum(Some(0L)).deletedCount > 0)

    // a table that ALSO lists a writer feature we don't implement:
    // with vacuumProtocolCheck present, both sweeps must refuse
    val t2 = DeltaTable.forPath(spark, tmp())
    t2.write(Seq((1L, "a")).toDF("id", "name"))
    t2.write(Seq((2L, "b")).toDF("id", "name"),
      org.apache.spark.sql.SaveMode.Overwrite)
    val raw = t2.deltaLog.startTransaction()
    raw.commit(Seq(Protocol(3, 7,
      readerFeatures = Some(Set("vacuumProtocolCheck")),
      writerFeatures = Some(Set("vacuumProtocolCheck", "someFutureFeature")))),
      Op.UpgradeProtocol)
    val fresh = DeltaTable.forPath(spark, t2.deltaLog.dataPath.toString)
    intercept[Snapshot.InvalidProtocolVersionException] { fresh.vacuum(Some(0L)) }
    intercept[Snapshot.InvalidProtocolVersionException] { fresh.vacuumLite(Some(0L)) }
  }

  test("an unknown delta.feature request fails loudly") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    t.write(Seq((1L, "a")).toDF("id", "name"))
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(txn.metadata.copy(configuration = txn.metadata.configuration +
      ("delta.feature.notAThing" -> "supported")))
    val e = intercept[IllegalArgumentException] {
      txn.commit(Nil, Op.SetTableProperties)
    }
    assert(e.getMessage.contains("notAThing"))
  }
}
