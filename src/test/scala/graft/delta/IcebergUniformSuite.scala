package graft.delta

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** UniForm Iceberg metadata generation: spec-structural conformance —
  * the metadata JSON, manifest list, and data manifests are re-read
  * with Jackson/Avro and checked against the Delta snapshot (no Iceberg
  * reader exists in this sandbox; see IcebergMetadata's scaladoc).
  */
class IcebergUniformSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-uniform").toString

  private def df(rows: (Long, String, String)*) = {
    import spark.implicits._
    rows.toDF("id", "v", "part")
  }

  private def localFile(p: String): java.io.File =
    new java.io.File(p.stripPrefix("file:"))

  private def avroRecords(path: String): Seq[GenericRecord] = {
    val r = DataFileReader.openReader(localFile(path),
      new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.toList finally r.close()
  }

  private def mkUniform(dir: String): DeltaTable = {
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = df((0L, "x", "p")).schema.json,
      partitionColumns = Seq("part"),
      configuration = Map(
        "delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, Op.CreateTable)
    t
  }

  test("each commit regenerates metadata; manifests list exactly the snapshot's files") {
    val dir = tmp()
    val t = mkUniform(dir)
    t.write(df((1L, "a", "x"), (2L, "b", "y")), partitionBy = Seq("part")) // v1
    t.write(df((3L, "c", "x")), partitionBy = Seq("part"))                 // v2
    val metaDir = new java.io.File(dir, "metadata")
    assert(metaDir.isDirectory, "metadata/ not generated")

    // version hint tracks the latest generation (delta v2 -> iceberg v3)
    val hint = new String(Files.readAllBytes(
      metaDir.toPath.resolve("version-hint.text"))).trim
    assert(hint == "3", hint)

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(
      Files.readAllBytes(metaDir.toPath.resolve("v3.metadata.json")))
    assert(meta.get("format-version").asInt == 2)
    assert(meta.get("current-snapshot-id").asLong == 3L)
    assert(meta.get("table-uuid").asText ==
      t.deltaLog.update().metadata.id)
    // snapshot log accumulates one entry per generation (v0, v1, v2)
    assert(meta.get("snapshots").size == 3, meta.get("snapshots").toString)
    // identity partition spec on `part`, source-id = the schema field id
    val spec = meta.get("partition-specs").get(0).get("fields").get(0)
    assert(spec.get("name").asText == "part")
    assert(spec.get("transform").asText == "identity")
    val schemaFields = meta.get("schemas").get(0).get("fields")
    val partField = schemaFields.elements().asScala
      .find(_.get("name").asText == "part").get
    assert(spec.get("source-id").asInt == partField.get("id").asInt)
    // schema types mapped
    assert(schemaFields.elements().asScala
      .find(_.get("name").asText == "id").get.get("type").asText == "long")

    // the manifest list points at manifests whose entries are EXACTLY
    // the snapshot's live files
    val listPath = meta.get("snapshots").get(2).get("manifest-list").asText
    val manifests = avroRecords(listPath)
    assert(manifests.nonEmpty)
    val entries = manifests.flatMap(m =>
      avroRecords(m.get("manifest_path").toString))
    val listedPaths = entries.map(
      _.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString).toSet
    val log = t.deltaLog
    val snapPaths = log.update().allFiles.map(f =>
      FileNames.absolutePathString(log.dataPath, f.path)).toSet
    assert(listedPaths == snapPaths,
      s"manifest files != snapshot files:\n$listedPaths\nvs\n$snapPaths")
    // record counts and sizes agree with the AddFile stats
    val rowTotal = entries.map(
      _.get("data_file").asInstanceOf[GenericRecord]
        .get("record_count").asInstanceOf[Long]).sum
    assert(rowTotal == 3L, rowTotal.toString)
    // partition values ride in the typed partition struct
    val parts = entries.map { e =>
      e.get("data_file").asInstanceOf[GenericRecord]
        .get("partition").asInstanceOf[GenericRecord].get("part").toString
    }.toSet
    assert(parts == Set("x", "y"), parts.toString)
    // manifest-list summaries match the manifests they describe; v1's
    // manifests are REUSED (original added_snapshot_id 2), v2's file
    // arrives in a new manifest added by snapshot 3
    manifests.foreach { m =>
      val n = avroRecords(m.get("manifest_path").toString).size
      assert(m.get("added_files_count").asInstanceOf[Int] +
        m.get("existing_files_count").asInstanceOf[Int] == n)
    }
    val addedBy = manifests.map(_.get("added_snapshot_id").asInstanceOf[Long]).toSet
    assert(addedBy == Set(2L, 3L), addedBy.toString)
    // re-generating the SAME version (manual call after the post-commit
    // hook) replaces its snapshot entry instead of duplicating it
    assert(t.generateIcebergMetadata() == 3L)
    val meta2 = mapper.readTree(
      Files.readAllBytes(metaDir.toPath.resolve("v3.metadata.json")))
    assert(meta2.get("snapshots").size == 3, meta2.get("snapshots").toString)
    assert(meta2.get("snapshot-log").size == 3)
    // metadata-log lists the retained PREVIOUS metadata files (v1, v2),
    // oldest first, never the current one
    val mlog = meta2.get("metadata-log").elements().asScala
      .map(e => new java.io.File(e.get("metadata-file").asText).getName).toSeq
    assert(mlog == Seq("v1.metadata.json", "v2.metadata.json"), mlog.toString)
    // name mapping binds parquet column names to the schema field ids
    // (spec: schema.name-mapping.default) — required because the delta
    // write path does not stamp parquet field ids outside id mode
    val nm = mapper.readTree(meta2.get("properties")
      .get("schema.name-mapping.default").asText)
    val nmIds = nm.elements().asScala
      .map(e => e.get("names").get(0).asText -> e.get("field-id").asInt).toMap
    val schemaIds = meta2.get("schemas").get(0).get("fields").elements().asScala
      .map(f => f.get("name").asText -> f.get("id").asInt).toMap
    assert(nmIds == schemaIds, s"$nmIds vs $schemaIds")
  }

  test("data_file column stats: typed bounds and counts from the Delta stats") {
    val dir = tmp()
    val t = mkUniform(dir)
    t.write(df((5L, "a", "x"), (42L, "b", "x")), partitionBy = Seq("part"))
    val metaDir = new java.io.File(dir, "metadata")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val hint = new String(Files.readAllBytes(
      metaDir.toPath.resolve("version-hint.text"))).trim
    val meta = mapper.readTree(Files.readAllBytes(
      metaDir.toPath.resolve(s"v$hint.metadata.json")))
    val idFieldId = meta.get("schemas").get(0).get("fields").elements().asScala
      .find(_.get("name").asText == "id").get.get("id").asInt
    val curId = meta.get("current-snapshot-id").asLong
    val listPath = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == curId).get
      .get("manifest-list").asText
    val entries = avroRecords(listPath).flatMap(m =>
      avroRecords(m.get("manifest_path").toString))
    assert(entries.nonEmpty)
    def mapOf(df: GenericRecord, field: String): Map[Int, Any] = {
      val arr = df.get(field).asInstanceOf[java.util.Collection[GenericRecord]]
      arr.iterator().asScala.map(r =>
        r.get("key").asInstanceOf[Int] -> r.get("value")).toMap
    }
    def longLE(b: Any): Long = b.asInstanceOf[java.nio.ByteBuffer].duplicate()
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    // across all files, the id bounds must cover exactly [5, 42] and
    // value counts equal each file's record count. null_value_counts is
    // absent by design: this engine's Delta stats carry
    // numRecords/minValues/maxValues only, and Iceberg's field is
    // optional — emitting a guessed zero would be a fabricated stat.
    var lo = Long.MaxValue; var hi = Long.MinValue
    entries.foreach { e =>
      val d = e.get("data_file").asInstanceOf[GenericRecord]
      val rc = d.get("record_count").asInstanceOf[Long]
      assert(mapOf(d, "value_counts")(idFieldId).asInstanceOf[Long] == rc)
      assert(d.get("null_value_counts") == null,
        "null counts must not be fabricated from stats that lack them")
      lo = math.min(lo, longLE(mapOf(d, "lower_bounds")(idFieldId)))
      hi = math.max(hi, longLE(mapOf(d, "upper_bounds")(idFieldId)))
    }
    assert(lo == 5L && hi == 42L, s"[$lo, $hi]")
  }

  test("manifest-list field summaries bound each manifest's partition values") {
    val dir = tmp()
    val t = mkUniform(dir)
    t.write(df((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z")),
      partitionBy = Seq("part"))
    val metaDir = new java.io.File(dir, "metadata")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val hint = new String(Files.readAllBytes(
      metaDir.toPath.resolve("version-hint.text"))).trim
    val meta = mapper.readTree(Files.readAllBytes(
      metaDir.toPath.resolve(s"v$hint.metadata.json")))
    val curId = meta.get("current-snapshot-id").asLong
    val listPath = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == curId).get
      .get("manifest-list").asText
    val manifests = avroRecords(listPath)
    assert(manifests.nonEmpty)
    manifests.foreach { m =>
      // the entries this manifest actually contains
      val parts = avroRecords(m.get("manifest_path").toString).map { e =>
        e.get("data_file").asInstanceOf[GenericRecord]
          .get("partition").asInstanceOf[GenericRecord].get("part").toString
      }
      // its field_summary must bound exactly those values (string bounds
      // are the UTF-8 single-value serialization)
      val summary = m.get("partitions")
        .asInstanceOf[java.util.Collection[GenericRecord]]
        .iterator().next()
      def str(b: Any): String = {
        val bb = b.asInstanceOf[java.nio.ByteBuffer].duplicate()
        val arr = new Array[Byte](bb.remaining()); bb.get(arr)
        new String(arr, "UTF-8")
      }
      assert(!summary.get("contains_null").asInstanceOf[Boolean])
      assert(str(summary.get("lower_bound")) == parts.min,
        s"lower ${str(summary.get("lower_bound"))} vs ${parts.min}")
      assert(str(summary.get("upper_bound")) == parts.max,
        s"upper ${str(summary.get("upper_bound"))} vs ${parts.max}")
    }
    // clustered manifests: with >1 manifest no partition value spans two
    // (the skippability property); with 1 manifest the bound test above
    // already pinned correctness
    if (manifests.size > 1) {
      val perManifest = manifests.map(m =>
        avroRecords(m.get("manifest_path").toString).map { e =>
          e.get("data_file").asInstanceOf[GenericRecord]
            .get("partition").asInstanceOf[GenericRecord].get("part").toString
        }.toSet)
      val all = perManifest.flatten
      assert(all.size == perManifest.map(_.size).sum,
        s"a partition value spans manifests: $perManifest")
    }
  }

  test("streaming sink commits regenerate Iceberg metadata") {
    import spark.implicits._
    val dir = tmp()
    val ckpt = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Seq((0L, "x")).toDF("id", "v").schema.json,
      configuration = Map(
        "delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, Op.CreateTable)
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream(
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]], spark)
    src.addData((1L, "a"), (2L, "b"))
    val q = src.toDF().toDF("id", "v").writeStream
      .format("graft-delta")
      .option("checkpointLocation", ckpt)
      .start(dir)
    q.processAllAvailable()
    q.stop()
    // the streaming commit's post-commit hook must have regenerated the
    // Iceberg view
    val meta = currentMeta(dir)
    val entries = currentManifests(meta).flatMap(m =>
      avroRecords(m.get("manifest_path").toString))
    assert(entries.map(_.get("data_file").asInstanceOf[GenericRecord]
      .get("record_count").asInstanceOf[Long]).sum == 2L)
    assert(meta.get("current-snapshot-id").asLong ==
      t.deltaLog.update().version + 1)
  }

  test("SQL GENERATE iceberg_metadata; summary operation tracks the Delta commit kind") {
    import spark.implicits._
    val dir = tmp()
    // no auto property: metadata is generated ON DEMAND through SQL
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(schemaString = df((0L, "x", "p")).schema.json))
    txn.commit(Nil, Op.CreateTable)
    t.write(df((1L, "a", "x"), (2L, "b", "y")))   // v1 append
    t.delete(col("id") === 1L)                    // v2 copy-on-write delete
    spark.sql(s"GENERATE iceberg_metadata FOR TABLE graft.`$dir`")
    val metaDir = new java.io.File(dir, "metadata")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def current() = {
      val hint = new String(Files.readAllBytes(
        metaDir.toPath.resolve("version-hint.text"))).trim
      val m = mapper.readTree(Files.readAllBytes(
        metaDir.toPath.resolve(s"v$hint.metadata.json")))
      val id = m.get("current-snapshot-id").asLong
      m.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong == id).get
        .get("summary").get("operation").asText
    }
    assert(current() == "overwrite", current()) // a delete can remove rows
    t.compact()                                  // v3 OPTIMIZE
    spark.sql(s"GENERATE iceberg_metadata FOR TABLE graft.`$dir`")
    assert(current() == "replace", current())   // rewrite, same logical rows
  }

  test("timestamp columns refuse ON-DEMAND generation (INT96 data vs Iceberg spec)") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(schemaString =
      Seq((1L, new java.sql.Timestamp(0L))).toDF("id", "ts").schema.json))
    txn.commit(Nil, Op.CreateTable)
    val e = intercept[UnsupportedOperationException](t.generateIcebergMetadata())
    assert(e.getMessage.contains("INT96"), e.getMessage)
  }

  test("UniForm timestamp tables generate: the write path stamps TIMESTAMP_MICROS") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    val schema = Seq((1L, new java.sql.Timestamp(0L))).toDF("id", "ts").schema
    txn.updateMetadata(Metadata(schemaString = schema.json,
      configuration = Map("delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, Op.CreateTable) // enablement BEFORE the first file: allowed
    val tsConfBefore =
      spark.conf.getAll.get("spark.sql.parquet.outputTimestampType")
    t.write(Seq((1L, new java.sql.Timestamp(1000000L)),
      (2L, new java.sql.Timestamp(2000000L))).toDF("id", "ts"))
    // the session conf was restored to its prior EXPLICIT state (no
    // leak; other suites may legitimately have set it), and the files
    // are TIMESTAMP_MICROS: INT96 leaves NO usable footer min/max,
    // micros does — the AddFile stats must carry ts bounds
    assert(spark.conf.getAll.get("spark.sql.parquet.outputTimestampType")
      == tsConfBefore)
    val add = t.deltaLog.update().allFiles.head
    assert(add.stats != null && add.stats.contains("\"ts\""), add.stats)
    // generation runs (no INT96 refusal) and maps ts -> timestamptz
    val hint = new String(Files.readAllBytes(
      new java.io.File(dir, "metadata").toPath.resolve("version-hint.text"))).trim
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(Files.readAllBytes(
      new java.io.File(dir, "metadata").toPath.resolve(s"v$hint.metadata.json")))
    val tsField = meta.get("schemas").get(0).get("fields").elements().asScala
      .find(_.get("name").asText == "ts").get
    assert(tsField.get("type").asText == "timestamptz")
  }

  test("enabling iceberg on a timestamp table that already holds files refuses") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(schemaString =
      Seq((1L, new java.sql.Timestamp(0L))).toDF("id", "ts").schema.json))
    txn.commit(Nil, Op.CreateTable)
    t.write(Seq((1L, new java.sql.Timestamp(0L))).toDF("id", "ts")) // INT96 file
    val txn2 = t.deltaLog.startTransaction()
    val md = t.deltaLog.update().metadata
    txn2.updateMetadata(md.copy(configuration = md.configuration +
      ("delta.universalFormat.enabledFormats" -> "iceberg")))
    val e = intercept[UnsupportedOperationException](
      txn2.commit(Nil, Op.SetTableProperties))
    assert(e.getMessage.contains("INT96"), e.getMessage)
  }

  test("unknown universalFormat values fail at the metadata commit") {
    val t = DeltaTable.forPath(spark, tmp())
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = df((0L, "x", "p")).schema.json,
      configuration = Map("delta.universalFormat.enabledFormats" -> "hudi")))
    val e = intercept[IllegalArgumentException](txn.commit(Nil, Op.CreateTable))
    assert(e.getMessage.contains("unknown universalFormat"), e.getMessage)
  }

  // --- shared helpers for the v2-era specs -------------------------------

  private def currentMeta(dir: String): com.fasterxml.jackson.databind.JsonNode = {
    val metaDir = new java.io.File(dir, "metadata")
    val hint = new String(Files.readAllBytes(
      metaDir.toPath.resolve("version-hint.text"))).trim
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Files.readAllBytes(metaDir.toPath.resolve(s"v$hint.metadata.json")))
  }

  private def currentManifests(meta: com.fasterxml.jackson.databind.JsonNode):
      Seq[GenericRecord] = {
    val curId = meta.get("current-snapshot-id").asLong
    avroRecords(meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == curId).get
      .get("manifest-list").asText)
  }

  test("deletion vectors become Iceberg v2 position-delete files") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = df((0L, "x", "p")).schema.json,
      partitionColumns = Seq("part"),
      configuration = Map(
        "delta.enableDeletionVectors" -> "true",
        "delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, Op.CreateTable)
    // one file per partition, so the delete leaves live rows to mask
    t.write(df((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")).coalesce(1),
      partitionBy = Seq("part"))
    t.delete(col("id") === 1L) // merge-on-read: DV masks the row
    val snap = t.deltaLog.update()
    assert(snap.allFiles.exists(_.deletionVector != null), "fixture must use a DV")

    val meta = currentMeta(dir)
    val manifests = currentManifests(meta)
    val (delManifests, dataManifests) = manifests.partition(
      _.get("content").asInstanceOf[Int] == 1)
    assert(delManifests.size == 1, s"expected one deletes manifest: $manifests")
    // deletes manifest is under the UNPARTITIONED spec (id 1 here), so
    // its files apply to matching data files in every partition
    assert(delManifests.head.get("partition_spec_id").asInstanceOf[Int] == 1)
    assert(meta.get("partition-specs").size == 2)
    assert(meta.get("partition-specs").get(1).get("fields").size == 0)

    // the position-delete parquet rows are exactly the DV'd (path, pos)
    val delEntries = avroRecords(delManifests.head.get("manifest_path").toString)
    assert(delEntries.forall(_.get("data_file").asInstanceOf[GenericRecord]
      .get("content").asInstanceOf[Int] == 1))
    val delFiles = delEntries.map(_.get("data_file").asInstanceOf[GenericRecord]
      .get("file_path").toString)
    val posRows = spark.read.parquet(delFiles: _*)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val dvd = snap.allFiles.filter(_.deletionVector != null)
    assert(dvd.map(_.deletionVector.cardinality).sum == posRows.size)
    // every delete row's file_path byte-matches a data manifest entry
    val dataPaths = dataManifests.flatMap(m =>
      avroRecords(m.get("manifest_path").toString)).map(
      _.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString).toSet
    assert(posRows.map(_._1).subsetOf(dataPaths),
      s"${posRows.map(_._1)} vs $dataPaths")
    // data record_count stays PHYSICAL (deletes subtract at read time):
    // total physical - deletes = logical count
    val physical = dataManifests.flatMap(m =>
      avroRecords(m.get("manifest_path").toString)).map(
      _.get("data_file").asInstanceOf[GenericRecord]
        .get("record_count").asInstanceOf[Long]).sum
    assert(physical - posRows.size == t.toDF.count(),
      s"$physical - ${posRows.size} vs ${t.toDF.count()}")
    // record counts in the deletes manifest match the parquet
    assert(delEntries.map(_.get("data_file").asInstanceOf[GenericRecord]
      .get("record_count").asInstanceOf[Long]).sum == posRows.size)
  }

  test("delete manifest + delete parquet reused by reference while the DV set is unchanged") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = df((0L, "x", "p")).schema.json,
      partitionColumns = Seq("part"),
      configuration = Map(
        "delta.enableDeletionVectors" -> "true",
        "delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, Op.CreateTable)
    // one file per partition, so both deletes leave live rows to mask
    t.write(df((1L, "a", "x"), (2L, "b", "x"), (5L, "e", "x"), (3L, "c", "y")).coalesce(1),
      partitionBy = Seq("part"))
    t.delete(col("id") === 1L) // DV — generation writes position deletes
    def delSide(): (Set[String], Set[String]) = {
      val dels = currentManifests(currentMeta(dir))
        .filter(_.get("content").asInstanceOf[Int] == 1)
      val files = dels.flatMap(m => avroRecords(m.get("manifest_path").toString))
        .map(_.get("data_file").asInstanceOf[GenericRecord]
          .get("file_path").toString)
      (dels.map(_.get("manifest_path").toString).toSet, files.toSet)
    }
    val (delM1, delF1) = delSide()
    assert(delM1.size == 1 && delF1.nonEmpty)
    // an APPEND leaves the DV set unchanged: the deletes manifest AND its
    // position-delete parquet files are referenced by IDENTICAL path —
    // no re-decode, no rewrite
    t.write(df((4L, "d", "y")), partitionBy = Seq("part"))
    val (delM2, delF2) = delSide()
    assert(delM2 == delM1, s"$delM2 vs $delM1")
    assert(delF2 == delF1)
    delF2.foreach(p => assert(localFile(p).exists(), s"swept reused delete file $p"))
    // a NEW DV changes the fingerprint: the delete MANIFEST regenerates
    // and the changed bucket writes a fresh file — unchanged buckets'
    // files may be carried as EXISTING (the per-bucket incremental
    // reuse, pinned exactly in its own spec below)
    t.delete(col("id") === 2L)
    val (delM3, delF3) = delSide()
    assert(delM3.nonEmpty && (delM3 & delM1).isEmpty, s"$delM3 vs $delM1")
    assert((delF3 -- delF1).nonEmpty, s"$delF3 vs $delF1")
    // and the logical content is right throughout
    assert(t.toDF.collect().map(_.getLong(0)).toSet == Set(3L, 4L, 5L))
  }

  test("TRUNCATE generates a tombstone-only snapshot (empty live set)") {
    val dir = tmp()
    val t = mkUniform(dir)
    t.write(df((1L, "a", "x"), (2L, "b", "y")), partitionBy = Seq("part"))
    t.truncate()
    val meta = currentMeta(dir)
    // the truncating snapshot's summary flags the delete
    import scala.jdk.CollectionConverters._
    val curId = meta.get("current-snapshot-id").asLong
    val snap = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == curId).get
    assert(snap.get("summary").get("operation").asText == "delete")
    // every manifest entry is a status=2 DELETED tombstone — an Iceberg
    // reader sees an empty table, an incremental DELETE consumer sees
    // exactly the removed files
    val entries = currentManifests(meta).flatMap(m =>
      avroRecords(m.get("manifest_path").toString))
    assert(entries.nonEmpty)
    assert(entries.forall(_.get("status").asInstanceOf[Int] == 2),
      entries.mkString("\n"))
    entries.foreach(e =>
      assert(e.get("snapshot_id").asInstanceOf[Long] == curId))
  }

  test("past maxDataManifests one generation compacts: full rewrite, list shrinks") {
    spark.conf.set("spark.graft.iceberg.maxDataManifests", "2")
    try {
      val dir = tmp()
      val t = mkUniform(dir)
      t.write(df((1L, "a", "x")), partitionBy = Seq("part")) // snap 2: 1 manifest
      t.write(df((2L, "b", "x")), partitionBy = Seq("part")) // snap 3: reuse + 1 = 2
      assert(currentManifests(currentMeta(dir))
        .count(_.get("content").asInstanceOf[Int] == 0) == 2)
      // snap 4: the prior list is AT the threshold — reuse is skipped for
      // this generation and the pool is ALL live files, clustered by the
      // partition tuple: one manifest (single partition value), prior
      // files EXISTING with their original lineage
      t.write(df((3L, "c", "x")), partitionBy = Seq("part"))
      val manifests = currentManifests(currentMeta(dir))
        .filter(_.get("content").asInstanceOf[Int] == 0)
      assert(manifests.size == 1, manifests.mkString("\n"))
      assert(manifests.head.get("added_snapshot_id").asInstanceOf[Long] == 4L)
      val entries = avroRecords(manifests.head.get("manifest_path").toString)
      assert(entries.count(_.get("status").asInstanceOf[Int] == 0) == 2)
      assert(entries.count(_.get("status").asInstanceOf[Int] == 1) == 1)
      // compaction reset the list: the NEXT append reuses the compacted
      // manifest again
      t.write(df((4L, "d", "x")), partitionBy = Seq("part"))
      val paths5 = currentManifests(currentMeta(dir))
        .map(_.get("manifest_path").toString).toSet
      assert(manifests.map(_.get("manifest_path").toString).toSet.subsetOf(paths5))
    } finally spark.conf.unset("spark.graft.iceberg.maxDataManifests")
  }

  test("CONVERT FROM ICEBERG round-trips a UniForm table incl. position deletes") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = df((0L, "x", "p")).schema.json,
      partitionColumns = Seq("part"),
      configuration = Map(
        "delta.enableDeletionVectors" -> "true",
        "delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, Op.CreateTable)
    // one file per partition, so the delete leaves live rows to mask
    t.write(df((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y"), (4L, "d", "y")).coalesce(1),
      partitionBy = Seq("part"))
    t.delete(col("id").isin(1L, 3L)) // merge-on-read DVs in two partitions
    val expected = t.toDF.select("id", "v", "part").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(expected == Set((2L, "b", "x"), (4L, "d", "y")))

    // drop the Delta identity: what remains is a pure Iceberg table
    // (parquet + metadata/) — the migration starting point
    val logDir = new java.io.File(dir, "_delta_log")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(logDir.toPath).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    val back = DeltaTable.convertFromIceberg(spark, dir)
    // rows round-trip: the position deletes became deletion vectors
    val got = back.toDF.select("id", "v", "part").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == expected, s"$got vs $expected\nDEBUG adds=" +
      back.deltaLog.update().allFiles.map(a =>
        (a.path, Option(a.deletionVector).map(_.cardinality))).mkString("; "))
    val adds = back.deltaLog.update().allFiles
    assert(adds.exists(_.deletionVector != null), "DVs must be reattached")
    assert(adds.flatMap(a => Option(a.deletionVector)).map(_.cardinality).sum == 2L)
    // per-file stats survived WITHOUT opening a footer: numRecords is the
    // physical count, bounds bracket the data
    adds.foreach { a =>
      assert(a.stats != null && a.stats.contains("numRecords"), a.path)
      assert(a.stats.contains("minValues"), a.stats)
    }
    // partitioning survived: a partition-pruned read opens one partition
    assert(back.toDF.where(col("part") === "y").count() == 1L)
    // and the converted table is fully transactional again
    back.delete(col("id") === 2L)
    assert(back.toDF.count() == 1L)
  }

  test("CONVERT FROM ICEBERG resolves EQUALITY deletes to deletion vectors") {
    import spark.implicits._
    import org.apache.avro.generic.{GenericData, GenericDatumWriter}
    import org.apache.avro.file.DataFileWriter
    val dir = tmp()
    // an UNPARTITIONED UniForm table: snapshot 2 (seq 2) holds ids 1..6
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    val data = (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v")
    txn.updateMetadata(Metadata(
      schemaString = data.schema.json,
      configuration = Map("delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, Op.CreateTable)
    t.write(data)
    val metaDir = new java.io.File(dir, "metadata")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta2 = currentMeta(dir)
    val idFieldId = meta2.get("schemas").get(0).get("fields").elements().asScala
      .find(_.get("name").asText == "id").get.get("id").asInt

    // ---- hand-craft what a Flink-style writer would commit next: an
    // EQUALITY-delete file (ids 2 and 5), its deletes manifest
    // (entry content=2, equality_ids=[id], seq 3), a new manifest list
    // carrying the old data manifests + the new deletes manifest, and a
    // v3 metadata json whose current snapshot (3, seq 3) points at it
    val eqDir = java.nio.file.Files.createTempDirectory("graft-eqdel")
    Seq(2L, 5L).toDF("id").coalesce(1).write.mode("overwrite")
      .parquet(eqDir.toString)
    val eqParquet = new java.io.File(eqDir.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      IcebergMetadata.manifestEntrySchemaJson(
        IcebergMetadata.partitionStructSchemaJson(Nil)))
    val dfSchema = entrySchema.getField("data_file").schema()
    val eqManifest = new java.io.File(metaDir, "eq-manifest-d0.avro")
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](entrySchema))
    w.create(entrySchema, eqManifest)
    val rec = new GenericData.Record(entrySchema)
    rec.put("status", 1)
    rec.put("snapshot_id", 3L)
    rec.put("sequence_number", 3L)
    val dfr = new GenericData.Record(dfSchema)
    dfr.put("content", 2) // EQUALITY_DELETES
    dfr.put("file_path", eqParquet)
    dfr.put("file_format", "PARQUET")
    dfr.put("partition", new GenericData.Record(
      dfSchema.getField("partition").schema()))
    dfr.put("record_count", 2L)
    dfr.put("file_size_in_bytes", new java.io.File(eqParquet).length())
    val idsArrSchema = dfSchema.getField("equality_ids").schema()
      .getTypes.asScala.find(_.getType == org.apache.avro.Schema.Type.ARRAY).get
    val idsArr = new GenericData.Array[Any](1, idsArrSchema)
    idsArr.add(idFieldId)
    dfr.put("equality_ids", idsArr)
    rec.put("data_file", dfr)
    w.append(rec)
    w.close()
    // new manifest list = old entries + the deletes manifest (content=1)
    val curId2 = meta2.get("current-snapshot-id").asLong
    val oldList = meta2.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == curId2).get
      .get("manifest-list").asText
    val oldEntries = avroRecords(oldList)
    val listSchema = new org.apache.avro.Schema.Parser().parse(
      IcebergMetadata.manifestListSchemaJson)
    val newList = new java.io.File(metaDir, "snap-3-1-eqtest.avro")
    val lw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](listSchema))
    lw.create(listSchema, newList)
    oldEntries.foreach(lw.append)
    val lrec = new GenericData.Record(listSchema)
    lrec.put("manifest_path", eqManifest.getAbsolutePath)
    lrec.put("manifest_length", eqManifest.length())
    lrec.put("partition_spec_id", 0)
    lrec.put("content", 1) // DELETES manifest
    lrec.put("sequence_number", 3L)
    lrec.put("min_sequence_number", 3L)
    lrec.put("added_snapshot_id", 3L)
    lrec.put("added_files_count", 1)
    lrec.put("existing_files_count", 0)
    lrec.put("deleted_files_count", 0)
    lrec.put("added_rows_count", 2L)
    lrec.put("existing_rows_count", 0L)
    lrec.put("deleted_rows_count", 0L)
    lw.append(lrec)
    lw.close()
    // v3 metadata: snapshot 3 @ seq 3 over the new list
    val root = currentMeta(dir).deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    root.put("current-snapshot-id", 3L)
    root.put("last-sequence-number", 3L)
    val sn = root.withArray("snapshots").addObject()
    sn.put("snapshot-id", 3L)
    sn.put("sequence-number", 3L)
    sn.put("timestamp-ms", System.currentTimeMillis())
    sn.putObject("summary").put("operation", "overwrite")
    sn.put("manifest-list", newList.getAbsolutePath)
    sn.put("schema-id", root.get("current-schema-id").asInt)
    java.nio.file.Files.write(metaDir.toPath.resolve("v3.metadata.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    // writing through nio bypasses the ChecksumFileSystem — drop the
    // stale .crc sidecar or the hadoop read of the hint fails
    java.nio.file.Files.deleteIfExists(
      metaDir.toPath.resolve(".version-hint.text.crc"))
    java.nio.file.Files.write(metaDir.toPath.resolve("version-hint.text"),
      "3".getBytes("UTF-8"))

    // drop the Delta identity and convert: ids 2 and 5 must be gone,
    // via deletion vectors (no data rewrite)
    val logDir = new java.io.File(dir, "_delta_log")
    import scala.jdk.CollectionConverters.{IteratorHasAsScala => _, _}
    java.nio.file.Files.walk(logDir.toPath).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    val back = DeltaTable.convertFromIceberg(spark, dir)
    assert(back.toDF.select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 4L, 6L))
    val dvs = back.deltaLog.update().allFiles.flatMap(a => Option(a.deletionVector))
    assert(dvs.map(_.cardinality).sum == 2L, dvs.toString)
  }

  test("equality resolution: broadcast size-gated, newer files never scanned") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Join, BROADCAST}
    val base = java.nio.file.Files.createTempDirectory("graft-eqgate")
    def writeOne(sub: String, rows: Seq[Long]): String = {
      val d = base.resolve(sub).toString
      rows.toDF("id").coalesce(1).write.mode("overwrite").parquet(d)
      new java.io.File(d).listFiles()
        .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    }
    val fA = writeOne("a", Seq(1L, 2L, 3L)) // sequence 2: deletes apply
    val del = writeOne("d", Seq(2L, 5L))    // delete file at sequence 3
    def semiBroadcastHint(q: org.apache.spark.sql.DataFrame): Boolean =
      q.queryExecution.optimizedPlan.collect {
        case j: Join if j.joinType == LeftSemi =>
          j.hint.rightHint.flatMap(_.strategy).contains(BROADCAST)
      }.headOption.getOrElse(false)
    // small delete set (manifest-recorded bytes under the session
    // threshold): the broadcast hint is applied
    val small = IcebergMetadata.equalityDeleteRows(spark, Seq("id"),
      Seq((del, 3L)), delBytes = new java.io.File(del).length(),
      dataFiles = Seq((fA, 2L)))
    assert(semiBroadcastHint(small), small.queryExecution.optimizedPlan.toString)
    assert(small.collect().map(_.getLong(1)).toSeq == Seq(1L)) // id=2 at pos 1
    // delete set past the threshold: NO broadcast hint — the join ships
    // as a shuffle join instead of an unconditional driver/executor OOM
    val big = IcebergMetadata.equalityDeleteRows(spark, Seq("id"),
      Seq((del, 3L)), delBytes = 1L << 40, dataFiles = Seq((fA, 2L)))
    assert(!semiBroadcastHint(big), big.queryExecution.optimizedPlan.toString)
    assert(big.collect().map(_.getLong(1)).toSeq == Seq(1L))
    // files at/after the delete sequence are dropped from the SCAN, not
    // post-join: a nonexistent path with sequence >= the delete's would
    // fail the read if it were ever opened
    val pruned = IcebergMetadata.equalityDeleteRows(spark, Seq("id"),
      Seq((del, 3L)), delBytes = 1L,
      dataFiles = Seq((fA, 2L), (base.resolve("missing.parquet").toString, 3L)))
    assert(pruned.collect().map(_.getLong(1)).toSeq == Seq(1L))
    // no data file older than every delete: empty result, no scan at all
    val none = IcebergMetadata.equalityDeleteRows(spark, Seq("id"),
      Seq((del, 3L)), delBytes = 1L,
      dataFiles = Seq((base.resolve("missing.parquet").toString, 7L)))
    assert(none.collect().isEmpty)
  }

  test("convert commits stream through commitLarge past the threshold") {
    // CONVERT FROM ICEBERG: UniForm+DV table, drop the Delta log,
    // adopt back — the AddFiles are a Dataset body; DVs and protocol
    // still land
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = df((0L, "x", "p")).schema.json,
      partitionColumns = Seq("part"),
      configuration = Map(
        "delta.enableDeletionVectors" -> "true",
        "delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, Op.CreateTable)
    // one file per partition, so the delete leaves live rows to mask
    t.write(df((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")).coalesce(1),
      partitionBy = Seq("part"))
    t.delete(col("id") === 1L) // DV
    val logDir = new java.io.File(dir, "_delta_log")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(logDir.toPath).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    val back = DeltaTable.convertFromIceberg(spark, dir)
    val ci = back.deltaLog.commitInfoAt(0L)
    assert(ci.exists(_.operationMetrics.get("numAddedFiles")
      .contains(ci.get.operationParameters("numFiles"))), ci.toString)
    assert(back.toDF.select("id").collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L))
    val snap = back.deltaLog.update()
    assert(snap.allFiles.exists(_.deletionVector != null))
    assert(snap.protocol.readerFeatures.exists(_.contains("deletionVectors")),
      snap.protocol.toString)
    // post-convert DML still works on the streamed commit's table
    back.delete(col("id") === 2L)
    assert(back.toDF.count() == 1L)

    // CONVERT TO DELTA (plain parquet): same Dataset-bodied commit
    val pdir = tmp()
    df((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z"))
      .write.partitionBy("part").mode("overwrite").parquet(pdir)
    val conv = DeltaTable.convertToDelta(spark, pdir)
    val ci2 = conv.deltaLog.commitInfoAt(0L)
    assert(ci2.exists(_.operationMetrics.get("numAddedFiles").contains("3")),
      ci2.toString)
    assert(conv.toDF.count() == 3L)
    assert(conv.deltaLog.update().allFiles.forall(_.stats != null))
  }

  test("incremental re-sync: adds, removes, and DV changes at O(changed files)") {
    import spark.implicits._
    import org.apache.avro.generic.{GenericData, GenericDatumWriter}
    import org.apache.avro.file.DataFileWriter
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val dir = tmp()
    val t = mkUniform(dir)
    t.write(df((1L, "a", "x")), partitionBy = Seq("part")) // snap 2: file x
    t.write(df((2L, "b", "y")), partitionBy = Seq("part")) // snap 3: file y
    val metaDir = new java.io.File(dir, "metadata")
    val meta3 = currentMeta(dir)
    val manifests3 = currentManifests(meta3)
    // adopt: drop the Delta identity and convert
    val logDir = new java.io.File(dir, "_delta_log")
    java.nio.file.Files.walk(logDir.toPath).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    val back = DeltaTable.convertFromIceberg(spark, dir)
    val v0 = back.deltaLog.update().version
    assert(back.toDF.count() == 2L)
    // same snapshot: re-sync is a NO-OP (no new commit)
    DeltaTable.convertFromIceberg(spark, dir)
    assert(back.deltaLog.update().version == v0)

    // ---- craft what a Flink writer would commit next (snapshot 99,
    // seq 4): a NEW file in partition z, file y REMOVED (its manifest
    // dropped from the list), and a position delete masking file x's row
    val byPart: Map[String, GenericRecord] = manifests3.map { m =>
      val e = avroRecords(m.get("manifest_path").toString).head
      val part = e.get("data_file").asInstanceOf[GenericRecord]
        .get("partition").asInstanceOf[GenericRecord].get("part").toString
      part -> m
    }.toMap
    val fpX = avroRecords(byPart("x").get("manifest_path").toString).head
      .get("data_file").asInstanceOf[GenericRecord].get("file_path").toString
    // new data file (plain parquet under the root, no hive dirs needed —
    // partition values are authoritative from the log)
    val zDir = new java.io.File(dir, "znew")
    Seq((3L, "c")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(zDir.toString)
    val zParquet = zDir.listFiles().find(_.getName.endsWith(".parquet")).get
    // position-delete parquet masking (fpX, 0)
    val pdDir = java.nio.file.Files.createTempDirectory("graft-sync-pd")
    Seq((fpX, 0L)).toDF("file_path", "pos").coalesce(1)
      .write.mode("overwrite").parquet(pdDir.toString)
    val pdParquet = new java.io.File(pdDir.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    // manifest for the z file (typed partition struct on `part`)
    val partFieldId = meta3.get("schemas").get(0).get("fields")
      .elements().asScala.find(_.get("name").asText == "part").get.get("id").asInt
    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      IcebergMetadata.manifestEntrySchemaJson(
        IcebergMetadata.partitionStructSchemaJson(Seq(
          ("part", org.apache.spark.sql.types.StringType, partFieldId)))))
    val zManifest = new java.io.File(metaDir, "sync-z-m0.avro")
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](entrySchema))
      w.create(entrySchema, zManifest)
      val rec = new GenericData.Record(entrySchema)
      rec.put("status", 1); rec.put("snapshot_id", 99L)
      val dfS = entrySchema.getField("data_file").schema()
      val dfr = new GenericData.Record(dfS)
      dfr.put("content", 0)
      dfr.put("file_path", zParquet.getAbsolutePath)
      dfr.put("file_format", "PARQUET")
      val ps = new GenericData.Record(dfS.getField("partition").schema())
      ps.put("part", "z")
      dfr.put("partition", ps)
      dfr.put("record_count", 1L)
      dfr.put("file_size_in_bytes", zParquet.length())
      rec.put("data_file", dfr)
      w.append(rec); w.close()
    }
    // deletes manifest for the position delete
    val delEntrySchema = new org.apache.avro.Schema.Parser().parse(
      IcebergMetadata.manifestEntrySchemaJson(
        IcebergMetadata.partitionStructSchemaJson(Nil)))
    val pdManifest = new java.io.File(metaDir, "sync-pd-d0.avro")
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](delEntrySchema))
      w.create(delEntrySchema, pdManifest)
      val rec = new GenericData.Record(delEntrySchema)
      rec.put("status", 1); rec.put("snapshot_id", 99L)
      rec.put("sequence_number", 4L)
      val dfS = delEntrySchema.getField("data_file").schema()
      val dfr = new GenericData.Record(dfS)
      dfr.put("content", 1) // POSITION_DELETES
      dfr.put("file_path", pdParquet)
      dfr.put("file_format", "PARQUET")
      dfr.put("partition", new GenericData.Record(dfS.getField("partition").schema()))
      dfr.put("record_count", 1L)
      dfr.put("file_size_in_bytes", new java.io.File(pdParquet).length())
      rec.put("data_file", dfr)
      w.append(rec); w.close()
    }
    // new manifest list: keep x's manifest, drop y's, add z + deletes
    val listSchema = new org.apache.avro.Schema.Parser().parse(
      IcebergMetadata.manifestListSchemaJson)
    val newList = new java.io.File(metaDir, "snap-99-1-sync.avro")
    locally {
      val lw = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      lw.create(listSchema, newList)
      lw.append(byPart("x"))
      def listRec(path: String, len: Long, content: Int): GenericRecord = {
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", path); r.put("manifest_length", len)
        r.put("partition_spec_id", if (content == 1) 1 else 0)
        r.put("content", content)
        r.put("sequence_number", 4L); r.put("min_sequence_number", 4L)
        r.put("added_snapshot_id", 99L)
        r.put("added_files_count", 1); r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", 1L); r.put("existing_rows_count", 0L)
        r.put("deleted_rows_count", 0L)
        r
      }
      lw.append(listRec(zManifest.getAbsolutePath, zManifest.length(), 0))
      lw.append(listRec(pdManifest.getAbsolutePath, pdManifest.length(), 1))
      lw.close()
    }
    // v4 metadata json: current snapshot 99 @ seq 4
    val root = meta3.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    root.put("current-snapshot-id", 99L)
    root.put("last-sequence-number", 4L)
    val sn = root.withArray("snapshots").addObject()
    sn.put("snapshot-id", 99L); sn.put("sequence-number", 4L)
    sn.put("timestamp-ms", System.currentTimeMillis())
    sn.putObject("summary").put("operation", "overwrite")
    sn.put("manifest-list", newList.getAbsolutePath)
    sn.put("schema-id", root.get("current-schema-id").asInt)
    java.nio.file.Files.write(metaDir.toPath.resolve("v4.metadata.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    java.nio.file.Files.deleteIfExists(
      metaDir.toPath.resolve(".version-hint.text.crc"))
    java.nio.file.Files.write(metaDir.toPath.resolve("version-hint.text"),
      "4".getBytes("UTF-8"))

    // ---- RE-SYNC: one diff commit — z added, y removed, x re-added
    // with a DV masking its row
    val synced = DeltaTable.convertFromIceberg(spark, dir)
    val v1 = synced.deltaLog.update().version
    assert(v1 == v0 + 1, s"sync must be ONE commit: $v0 -> $v1")
    val ci = synced.deltaLog.commitInfoAt(v1)
    assert(ci.exists(_.operationParameters.get("sync").contains("true")))
    assert(ci.exists(_.operationParameters.get("icebergSnapshotId").contains("99")))
    // logical content: x's row masked, y gone, z visible
    assert(synced.toDF.select("id").collect().map(_.getLong(0)).toSet == Set(3L))
    assert(synced.toDF.where(col("part") === "z").count() == 1L)
    val files = synced.deltaLog.update().allFiles
    assert(files.size == 2, files.map(_.path).toString) // x (DV'd) + z
    val dvd = files.filter(_.deletionVector != null)
    assert(dvd.size == 1 && dvd.head.deletionVector.cardinality == 1L)
    // marker advanced; a repeat sync is a no-op again
    DeltaTable.convertFromIceberg(spark, dir)
    assert(synced.deltaLog.update().version == v1)
    // a table NOT adopted from Iceberg refuses the overwrite
    val plainDir = tmp()
    val tp = DeltaTable.forPath(spark, plainDir)
    val txnp = tp.deltaLog.startTransaction()
    txnp.updateMetadata(Metadata(schemaString = df((0L, "x", "p")).schema.json))
    txnp.commit(Nil, Op.CreateTable)
    // give it a fake metadata dir so convertFrom gets past the hint check
    val fakeMeta = new java.io.File(plainDir, "metadata")
    fakeMeta.mkdirs()
    java.nio.file.Files.write(fakeMeta.toPath.resolve("version-hint.text"),
      "1".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](
      DeltaTable.convertFromIceberg(spark, plainDir))
    assert(e.getMessage.contains("NOT adopted from Iceberg"), e.getMessage)
  }

  test("re-sync of a replace-only foreign chain commits dataChange=false (CDF-invisible)") {
    import spark.implicits._
    import org.apache.avro.generic.{GenericData, GenericDatumWriter}
    import org.apache.avro.file.DataFileWriter
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val dir = tmp()
    // unpartitioned UniForm table, two files -> two snapshots
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    val d1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    txn.updateMetadata(Metadata(
      schemaString = d1.schema.json,
      configuration = Map("delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, Op.CreateTable)
    t.write(d1)
    t.write(Seq((3L, "c")).toDF("id", "v"))
    val metaDir = new java.io.File(dir, "metadata")
    val meta0 = currentMeta(dir)
    val curId0 = meta0.get("current-snapshot-id").asLong
    val logDir = new java.io.File(dir, "_delta_log")
    java.nio.file.Files.walk(logDir.toPath).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    val back = DeltaTable.convertFromIceberg(spark, dir)
    val v0 = back.deltaLog.update().version

    // the foreign writer COMPACTS: one new file carrying all three rows,
    // every old manifest dropped, summary operation `replace`
    val cDir = new java.io.File(dir, "compacted")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(cDir.toString)
    val cParquet = cDir.listFiles().find(_.getName.endsWith(".parquet")).get
    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      IcebergMetadata.manifestEntrySchemaJson(
        IcebergMetadata.partitionStructSchemaJson(Nil)))
    val cManifest = new java.io.File(metaDir, "compact-m0.avro")
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](entrySchema))
      w.create(entrySchema, cManifest)
      val rec = new GenericData.Record(entrySchema)
      rec.put("status", 1); rec.put("snapshot_id", 99L)
      val dfS = entrySchema.getField("data_file").schema()
      val dfr = new GenericData.Record(dfS)
      dfr.put("content", 0)
      dfr.put("file_path", cParquet.getAbsolutePath)
      dfr.put("file_format", "PARQUET")
      dfr.put("partition", new GenericData.Record(
        dfS.getField("partition").schema()))
      dfr.put("record_count", 3L)
      dfr.put("file_size_in_bytes", cParquet.length())
      rec.put("data_file", dfr)
      w.append(rec); w.close()
    }
    val listSchema = new org.apache.avro.Schema.Parser().parse(
      IcebergMetadata.manifestListSchemaJson)
    val newList = new java.io.File(metaDir, "snap-99-1-compact.avro")
    locally {
      val lw = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      lw.create(listSchema, newList)
      val r = new GenericData.Record(listSchema)
      r.put("manifest_path", cManifest.getAbsolutePath)
      r.put("manifest_length", cManifest.length())
      r.put("partition_spec_id", 0); r.put("content", 0)
      r.put("sequence_number", 4L); r.put("min_sequence_number", 4L)
      r.put("added_snapshot_id", 99L)
      r.put("added_files_count", 1); r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", 3L); r.put("existing_rows_count", 0L)
      r.put("deleted_rows_count", 0L)
      lw.append(r); lw.close()
    }
    val hint0 = new String(java.nio.file.Files.readAllBytes(
      metaDir.toPath.resolve("version-hint.text"))).trim.toLong
    val root = meta0.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    root.put("current-snapshot-id", 99L)
    root.put("last-sequence-number", 4L)
    val sn = root.withArray("snapshots").addObject()
    sn.put("snapshot-id", 99L); sn.put("sequence-number", 4L)
    sn.put("parent-snapshot-id", curId0)
    sn.put("timestamp-ms", System.currentTimeMillis())
    sn.putObject("summary").put("operation", "replace")
    sn.put("manifest-list", newList.getAbsolutePath)
    sn.put("schema-id", root.get("current-schema-id").asInt)
    java.nio.file.Files.write(
      metaDir.toPath.resolve(s"v${hint0 + 1}.metadata.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    java.nio.file.Files.deleteIfExists(
      metaDir.toPath.resolve(".version-hint.text.crc"))
    java.nio.file.Files.write(metaDir.toPath.resolve("version-hint.text"),
      (hint0 + 1).toString.getBytes("UTF-8"))

    val synced = DeltaTable.convertFromIceberg(spark, dir)
    val v1 = synced.deltaLog.update().version
    assert(v1 == v0 + 1)
    // content identical, but the commit is maintenance: every add and
    // remove carries dataChange=false, and the CDF reader sees NOTHING
    assert(synced.toDF.select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
    val acts = synced.deltaLog.changes(v1).next()._2
    val addsDC = acts.collect { case a: AddFile => a.dataChange }
    val remsDC = acts.collect { case r: RemoveFile => r.dataChange }
    assert(addsDC.nonEmpty && remsDC.nonEmpty)
    assert(!(addsDC ++ remsDC).exists(identity),
      s"replace-only sync must be dataChange=false: $acts")
    assert(synced.tableChanges(v1, v1).count() == 0L)
  }

  test("CONVERT FROM ICEBERG adopts bucket/truncate transforms as data-only") {
    import spark.implicits._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def rewriteSpec(dir: String,
        fields: com.fasterxml.jackson.databind.node.ArrayNode => Unit): Unit = {
      val metaDir = new java.io.File(dir, "metadata")
      val hint = new String(java.nio.file.Files.readAllBytes(
        metaDir.toPath.resolve("version-hint.text"))).trim
      val p = metaDir.toPath.resolve(s"v$hint.metadata.json")
      val root = mapper.readTree(java.nio.file.Files.readAllBytes(p))
        .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
      val spec = root.withArray("partition-specs").get(0)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val arr = spec.withArray("fields")
      fields(arr)
      java.nio.file.Files.deleteIfExists(
        metaDir.toPath.resolve(s".v$hint.metadata.json.crc"))
      java.nio.file.Files.write(p,
        mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    }
    def dropDeltaLog(dir: String): Unit = {
      import scala.jdk.CollectionConverters._
      val logDir = new java.io.File(dir, "_delta_log")
      java.nio.file.Files.walk(logDir.toPath).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    // pure bucket spec on an unpartitioned layout: adopted unpartitioned
    val dir1 = tmp()
    val t1 = DeltaTable.forPath(spark, dir1)
    val txn = t1.deltaLog.startTransaction()
    val data = (1L to 4L).map(i => (i, s"v$i")).toDF("id", "v")
    txn.updateMetadata(Metadata(
      schemaString = data.schema.json,
      configuration = Map("delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, Op.CreateTable)
    t1.write(data)
    val idFieldId = currentMeta(dir1).get("schemas").get(0).get("fields")
      .elements().asScala.find(_.get("name").asText == "id").get.get("id").asInt
    rewriteSpec(dir1, { arr =>
      val f = arr.addObject()
      f.put("name", "id_bucket")
      f.put("transform", "bucket[4]")
      f.put("source-id", idFieldId)
      f.put("field-id", 1000)
    })
    dropDeltaLog(dir1)
    val back1 = DeltaTable.convertFromIceberg(spark, dir1)
    assert(back1.deltaLog.update().metadata.partitionColumns.isEmpty)
    assert(back1.toDF.select("id").collect().map(_.getLong(0)).toSet ==
      (1L to 4L).toSet)
    // stats survived the adoption (skipping still possible on id)
    assert(back1.deltaLog.update().allFiles.forall(a =>
      a.stats != null && a.stats.contains("minValues")))

    // mixed spec: identity stays a partition column, truncate drops out
    val dir2 = tmp()
    val t2 = mkUniform(dir2)
    t2.write(df((1L, "aaaa", "x"), (2L, "bbbb", "y")), partitionBy = Seq("part"))
    val vFieldId = currentMeta(dir2).get("schemas").get(0).get("fields")
      .elements().asScala.find(_.get("name").asText == "v").get.get("id").asInt
    rewriteSpec(dir2, { arr =>
      val f = arr.addObject()
      f.put("name", "v_trunc")
      f.put("transform", "truncate[2]")
      f.put("source-id", vFieldId)
      f.put("field-id", 1001)
    })
    dropDeltaLog(dir2)
    val back2 = DeltaTable.convertFromIceberg(spark, dir2)
    assert(back2.deltaLog.update().metadata.partitionColumns == Seq("part"))
    assert(back2.toDF.where(col("part") === "y").count() == 1L)
    assert(back2.toDF.count() == 2L)
  }

  test("CONVERT FROM ICEBERG time travel: adopt a retained older snapshot") {
    val dir = tmp()
    val t = mkUniform(dir)
    t.write(df((1L, "a", "x"), (2L, "b", "y")), partitionBy = Seq("part")) // snap 2
    t.write(df((3L, "c", "x")), partitionBy = Seq("part"))                 // snap 3
    val logDir = new java.io.File(dir, "_delta_log")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(logDir.toPath).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    // adopt snapshot 2: only the first write's rows
    val back = DeltaTable.convertFromIceberg(spark, dir, Some(2L))
    assert(back.toDF.count() == 2L)
    assert(back.toDF.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // an unknown snapshot refuses with the available ids
    val logDir2 = new java.io.File(dir, "_delta_log")
    java.nio.file.Files.walk(logDir2.toPath).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    val e = intercept[IllegalArgumentException](
      DeltaTable.convertFromIceberg(spark, dir, Some(99L)))
    assert(e.getMessage.contains("not retained"), e.getMessage)
  }

  test("manifests and manifest lists carry the spec's key-value file metadata") {
    val dir = tmp()
    val t = mkUniform(dir)
    t.write(df((1L, "a", "x"), (2L, "b", "y")), partitionBy = Seq("part"))
    val meta = currentMeta(dir)
    val curId = meta.get("current-snapshot-id").asLong
    val listPath = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == curId).get
      .get("manifest-list").asText
    def metaOf(path: String): Map[String, String] = {
      val r = new DataFileReader(localFile(path),
        new GenericDatumReader[GenericRecord]())
      try {
        val keys = Seq("schema", "schema-id", "partition-spec",
          "partition-spec-id", "format-version", "content",
          "snapshot-id", "sequence-number")
        keys.flatMap(k => Option(r.getMetaString(k)).map(k -> _)).toMap
      } finally r.close()
    }
    val lm = metaOf(listPath)
    assert(lm("format-version") == "2")
    assert(lm("snapshot-id") == curId.toString)
    assert(lm("sequence-number").nonEmpty)
    val manifests = avroRecords(listPath)
    manifests.foreach { m =>
      val mm = metaOf(m.get("manifest_path").toString)
      assert(mm("format-version") == "2")
      assert(mm("content") == "data")
      assert(mm("partition-spec-id") == "0")
      assert(mm("schema-id") == meta.get("current-schema-id").asInt.toString)
      // the embedded schema is the real Iceberg schema JSON
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val s = mapper.readTree(mm("schema"))
      assert(s.get("type").asText == "struct")
      assert(mapper.readTree(mm("partition-spec")).isArray)
    }
  }

  test("incremental generation: appends reuse manifests by path; rewrite survivors are EXISTING") {
    // one shuffle partition -> exactly one manifest per generation's
    // rewrite pool, making the reuse/rewrite split deterministic
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try {
      val dir = tmp()
      val t = mkUniform(dir)
      // seed through a compacting (full) generation: the incremental path
      // clusters per tuple, which would put x and y in separate manifests
      // and the delete below would then REUSE y's manifest instead of
      // rewriting it — this test pins the rewrite-survivor (EXISTING)
      // semantics, so the seed needs both tuples in ONE manifest
      spark.conf.set("spark.graft.iceberg.maxDataManifests", "0")
      t.write(df((1L, "a", "x"), (2L, "b", "y")), partitionBy = Seq("part")) // snap 2
      spark.conf.unset("spark.graft.iceberg.maxDataManifests")
      val paths2 = currentManifests(currentMeta(dir))
        .map(_.get("manifest_path").toString).toSet
      t.write(df((3L, "c", "x")), partitionBy = Seq("part"))                 // snap 3
      val meta3 = currentMeta(dir)
      val manifests3 = currentManifests(meta3)
      val paths3 = manifests3.map(_.get("manifest_path").toString).toSet
      // APPEND: snap 2's manifest set is referenced by IDENTICAL path —
      // nothing rewritten — keeping its original snapshot/sequence
      assert(paths2.subsetOf(paths3), s"$paths2 not all reused in $paths3")
      manifests3.filter(m => paths2.contains(m.get("manifest_path").toString))
        .foreach { m =>
          assert(m.get("added_snapshot_id").asInstanceOf[Long] == 2L)
          assert(m.get("sequence_number").asInstanceOf[Long] == 2L)
        }
      // the new manifest holds EXACTLY the commit's own file, ADDED by
      // snapshot 3 with sequence inherited from the list — an
      // incremental consumer selects new manifests by added_snapshot_id
      val fresh = manifests3.filterNot(m =>
        paths2.contains(m.get("manifest_path").toString))
      assert(fresh.size == 1, manifests3.mkString("\n"))
      assert(fresh.head.get("added_snapshot_id").asInstanceOf[Long] == 3L)
      val freshEntries = avroRecords(fresh.head.get("manifest_path").toString)
      assert(freshEntries.size == 1)
      assert(freshEntries.head.get("status").asInstanceOf[Int] == 1)
      assert(freshEntries.head.get("snapshot_id").asInstanceOf[Long] == 3L)
      assert(freshEntries.head.get("sequence_number") == null) // inherits
      // min_sequence over the list still reaches back to the oldest data
      assert(manifests3.map(_.get("min_sequence_number").asInstanceOf[Long])
        .min == 2L)

      // REWRITE: deleting id=1 removes snap 2's partition-x file, so its
      // manifest is no longer reusable — the SURVIVOR (partition y) rides
      // in the rewritten manifest as EXISTING with its ORIGINAL
      // snapshot_id 2 and EXPLICIT sequence number 2
      t.delete(col("id") === 1L)                                             // snap 4
      val meta4 = currentMeta(dir)
      val manifests4 = currentManifests(meta4)
      val paths4 = manifests4.map(_.get("manifest_path").toString).toSet
      // snap 3's untouched manifest is still referenced by identical path
      assert(fresh.map(_.get("manifest_path").toString).toSet.subsetOf(paths4))
      val entries4 = manifests4.flatMap(m =>
        avroRecords(m.get("manifest_path").toString))
      val existing = entries4.filter(_.get("status").asInstanceOf[Int] == 0)
      assert(existing.size == 1, entries4.mkString("\n"))
      assert(existing.head.get("snapshot_id").asInstanceOf[Long] == 2L)
      assert(existing.head.get("sequence_number").asInstanceOf[Long] == 2L)
      assert(existing.head.get("file_sequence_number").asInstanceOf[Long] == 2L)
      // the VANISHED file rides as a status=2 DELETED tombstone: an
      // incremental DELETE consumer reads the removed set directly —
      // snapshot_id is the DELETING snapshot, the data sequence survives
      val deleted = entries4.filter(_.get("status").asInstanceOf[Int] == 2)
      assert(deleted.size == 1, entries4.mkString("\n"))
      assert(deleted.head.get("snapshot_id").asInstanceOf[Long] == 4L)
      assert(deleted.head.get("sequence_number").asInstanceOf[Long] == 2L)
      assert(manifests4.map(_.get("deleted_files_count").asInstanceOf[Int])
        .sum == 1)
      assert(manifests4.map(_.get("deleted_rows_count").asInstanceOf[Long])
        .sum == 1L)
      // and the snapshot's LIVE content is exactly the two live rows
      assert(entries4.filter(_.get("status").asInstanceOf[Int] != 2)
        .map(_.get("data_file").asInstanceOf[GenericRecord]
          .get("record_count").asInstanceOf[Long]).sum == 2L)
      assert(manifests4.map(_.get("existing_files_count").asInstanceOf[Int])
        .sum == 1)
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("schema evolution: stable field ids, retained prior schemas, per-snapshot schema-id") {
    import spark.implicits._
    val dir = tmp()
    val t = mkUniform(dir)
    t.write(df((1L, "a", "x")), partitionBy = Seq("part")) // v1: schema (id,v,part)
    val meta1 = currentMeta(dir)
    val ids1 = meta1.get("schemas").get(0).get("fields").elements().asScala
      .map(f => f.get("name").asText -> f.get("id").asInt).toMap
    // v2: mergeSchema append adds a column — ids of existing fields must
    // NOT move, the new column draws a fresh id above last-column-id
    t.write(Seq((4L, "d", "x", 1.5)).toDF("id", "v", "part", "score"),
      mergeSchema = true)
    val meta2 = currentMeta(dir)
    assert(meta2.get("schemas").size == 2, meta2.get("schemas").toString)
    val curSchema = meta2.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt == meta2.get("current-schema-id").asInt).get
    val ids2 = curSchema.get("fields").elements().asScala
      .map(f => f.get("name").asText -> f.get("id").asInt).toMap
    ids1.foreach { case (n, id) => assert(ids2(n) == id, s"$n moved: $ids1 -> $ids2") }
    assert(ids2("score") > ids1.values.max, ids2.toString)
    assert(meta2.get("current-schema-id").asInt != 0)
    // prior snapshots keep their ORIGINAL schema-id; the new one carries
    // the evolved schema's id — time travel resolves against the right ids
    val snapSchemas = meta2.get("snapshots").elements().asScala
      .map(s => s.get("snapshot-id").asLong -> s.get("schema-id").asInt).toMap
    val curId = meta2.get("current-snapshot-id").asLong
    assert(snapSchemas(curId) == meta2.get("current-schema-id").asInt)
    assert(snapSchemas.filter(_._1 != curId).values.forall(_ == 0), snapSchemas.toString)
  }

  test("snapshot retention expires old snapshots and sweeps their metadata files") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = df((0L, "x", "p")).schema.json,
      partitionColumns = Seq("part"),
      configuration = Map(
        "delta.universalFormat.enabledFormats" -> "iceberg",
        "delta.logRetentionDuration" -> "interval 0 milliseconds")))
    txn.commit(Nil, Op.CreateTable)
    t.write(df((1L, "a", "x")), partitionBy = Seq("part")); Thread.sleep(5)
    t.write(df((2L, "b", "y")), partitionBy = Seq("part")); Thread.sleep(5)
    t.write(df((3L, "c", "z")), partitionBy = Seq("part"))
    val meta = currentMeta(dir)
    // retention 0: only the current snapshot survives each generation
    assert(meta.get("snapshots").size == 1, meta.get("snapshots").toString)
    assert(meta.get("snapshot-log").size == 1)
    // no expired metadata file is advertised in the lineage trail
    assert(meta.get("metadata-log").size == 0,
      meta.get("metadata-log").toString)
    // and the sweep leaves exactly the retained snapshot's files: its
    // manifest list + manifests, the current metadata json, the hint
    val metaDir = new java.io.File(dir, "metadata")
    // ignore the local FS's ".<name>.crc" checksum sidecars
    val names = metaDir.list().filterNot(_.startsWith(".")).toSet
    val curId = meta.get("current-snapshot-id").asLong
    val listPath = meta.get("snapshots").get(0).get("manifest-list").asText
    val expected = avroRecords(listPath)
      .map(m => new java.io.File(m.get("manifest_path").toString).getName).toSet ++
      Set(new java.io.File(listPath).getName, s"v$curId.metadata.json",
        "version-hint.text")
    assert(names == expected, s"swept dir holds $names, expected $expected")
    // every file the retained snapshot references still exists
    expected.foreach(n => assert(new java.io.File(metaDir, n).exists(), n))
  }

  test("VACUUM expires non-current Iceberg snapshots and spares metadata/") {
    val dir = tmp()
    val t = mkUniform(dir)
    t.write(df((1L, "a", "x"), (2L, "b", "y")), partitionBy = Seq("part"))
    // overwrite strands v1's files; vacuum(0) deletes them
    t.write(df((3L, "c", "x")), SaveMode.Overwrite, Seq("part"))
    val before = currentMeta(dir)
    assert(before.get("snapshots").size == 3) // v0 create, v1, v2
    val r = t.vacuum(retentionMillis = Some(0L))
    assert(r.deletedCount > 0, "vacuum must delete the overwritten files")
    // Iceberg history shrank with Delta history: only the current snapshot
    val after = currentMeta(dir)
    assert(after.get("snapshots").size == 1, after.get("snapshots").toString)
    // the current snapshot's manifests and LIVE data files all survive
    // (status=2 DELETED tombstones reference the vacuumed files by
    // design — that's the removal record incremental consumers read)
    val manifests = currentManifests(after)
    manifests.foreach { m =>
      avroRecords(m.get("manifest_path").toString)
        .filter(_.get("status").asInstanceOf[Int] != 2).foreach { e =>
          val p = e.get("data_file").asInstanceOf[GenericRecord]
            .get("file_path").toString
          assert(localFile(p).exists(), s"vacuum destroyed $p")
        }
    }
    // and the table still reads correctly through the Delta log
    assert(t.toDF.count() == 1)
  }

  test("string column bounds are truncated to 16 bytes and still bracket the data") {
    val dir = tmp()
    val t = mkUniform(dir)
    val longA = "a" * 100 + "start"
    val longZ = "z" * 100 + "end"
    t.write(df((1L, longA, "x"), (2L, longZ, "x")), partitionBy = Seq("part"))
    val meta = currentMeta(dir)
    val vFieldId = meta.get("schemas").get(0).get("fields").elements().asScala
      .find(_.get("name").asText == "v").get.get("id").asInt
    val entries = currentManifests(meta).flatMap(m =>
      avroRecords(m.get("manifest_path").toString))
    def mapOf(d: GenericRecord, field: String): Map[Int, Any] = {
      val arr = d.get(field).asInstanceOf[java.util.Collection[GenericRecord]]
      arr.iterator().asScala.map(r =>
        r.get("key").asInstanceOf[Int] -> r.get("value")).toMap
    }
    def bytes(b: Any): Array[Byte] = {
      val bb = b.asInstanceOf[java.nio.ByteBuffer].duplicate()
      val a = new Array[Byte](bb.remaining()); bb.get(a); a
    }
    val los = entries.map { e =>
      val d = e.get("data_file").asInstanceOf[GenericRecord]
      val lo = bytes(mapOf(d, "lower_bounds")(vFieldId))
      assert(lo.length <= 16, s"lower bound ${lo.length} bytes")
      new String(lo, "UTF-8")
    }
    val his = entries.map { e =>
      val d = e.get("data_file").asInstanceOf[GenericRecord]
      val hi = bytes(mapOf(d, "upper_bounds")(vFieldId))
      // upper may grow by a codepoint's width on increment, never unbounded
      assert(hi.length <= 20, s"upper bound ${hi.length} bytes")
      new String(hi, "UTF-8")
    }
    // bounds are per FILE; across all files they must bracket the data
    assert(los.min <= longA, s"'${los.min}' !<= '$longA'")
    assert(his.max >= longZ, s"'${his.max}' !>= '$longZ'")
  }

  test("manifests cluster by the FULL partition tuple (2-col disjointness)") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val data = Seq(
      (1L, "x", 1), (2L, "x", 2), (3L, "y", 1), (4L, "y", 2))
      .toDF("id", "p1", "p2")
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = data.schema.json,
      partitionColumns = Seq("p1", "p2"),
      configuration = Map(
        "delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, Op.CreateTable)
    t.write(data, partitionBy = Seq("p1", "p2"))
    val manifests = currentManifests(currentMeta(dir))
    val perManifest = manifests.map(m =>
      avroRecords(m.get("manifest_path").toString).map { e =>
        val p = e.get("data_file").asInstanceOf[GenericRecord]
          .get("partition").asInstanceOf[GenericRecord]
        (p.get("p1").toString, p.get("p2").asInstanceOf[Int])
      }.toSet)
    if (manifests.size > 1) {
      val all = perManifest.flatten
      assert(all.size == perManifest.map(_.size).sum,
        s"a partition TUPLE spans manifests: $perManifest")
    }
    // field summaries exist for BOTH partition columns
    manifests.foreach { m =>
      assert(m.get("partitions")
        .asInstanceOf[java.util.Collection[GenericRecord]].size == 2)
    }
  }

  test("column-mapped tables export the MAPPING field ids") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(ColumnMapping.ensureEnabled(Metadata(
      schemaString = df((0L, "x", "p")).schema.json,
      configuration = Map(
        "delta.universalFormat.enabledFormats" -> "iceberg")), "id"))
    txn.commit(Nil, Op.CreateTable)
    t.write(df((1L, "a", "x")))
    val metaDir = new java.io.File(dir, "metadata")
    val hint = new String(Files.readAllBytes(
      metaDir.toPath.resolve("version-hint.text"))).trim
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(
      Files.readAllBytes(metaDir.toPath.resolve(s"v$hint.metadata.json")))
    val md = t.deltaLog.update().metadata
    val expected = md.schema.fields.map(f =>
      f.name -> f.metadata.getLong(ColumnMapping.IdKey).toInt).toMap
    val got = meta.get("schemas").get(0).get("fields").elements().asScala
      .map(f => f.get("name").asText -> f.get("id").asInt).toMap
    assert(got == expected, s"$got vs $expected")
    // and the name mapping binds the PHYSICAL parquet names (what the
    // footers actually carry under column mapping) to those ids
    val nm = mapper.readTree(meta.get("properties")
      .get("schema.name-mapping.default").asText)
    val nmPairs = nm.elements().asScala
      .map(e => e.get("names").get(0).asText -> e.get("field-id").asInt).toMap
    val physPairs = md.schema.fields.map(f =>
      ColumnMapping.physicalName(f) ->
        f.metadata.getLong(ColumnMapping.IdKey).toInt).toMap
    assert(nmPairs == physPairs, s"$nmPairs vs $physPairs")
  }

  test("CONVERT FROM ICEBERG adopts spec-evolved tables on the common identity set") {
    import spark.implicits._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def evolveSpec(dir: String)(
        newSpec: com.fasterxml.jackson.databind.node.ObjectNode => Unit): Unit = {
      val metaDir = new java.io.File(dir, "metadata")
      val hint = new String(Files.readAllBytes(
        metaDir.toPath.resolve("version-hint.text"))).trim
      val p = metaDir.toPath.resolve(s"v$hint.metadata.json")
      val root = mapper.readTree(Files.readAllBytes(p))
        .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
      val sp = root.withArray("partition-specs").addObject()
      sp.put("spec-id", 1)
      newSpec(sp)
      root.put("default-spec-id", 1)
      Files.deleteIfExists(metaDir.toPath.resolve(s".v$hint.metadata.json.crc"))
      Files.write(p, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    }
    def dropDeltaLog(dir: String): Unit = {
      val logDir = new java.io.File(dir, "_delta_log")
      Files.walk(logDir.toPath).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
    def fieldId(dir: String, name: String): Int =
      currentMeta(dir).get("schemas").get(0).get("fields").elements().asScala
        .find(_.get("name").asText == name).get.get("id").asInt

    // case 1: default spec evolves (part identity, id bucket[4]); live
    // manifests stay under spec 0 (part identity). Common identity set =
    // {part} -> part stays a Delta partition column, pruning intact.
    val dir1 = tmp()
    mkUniform(dir1).write(df((1L, "aaaa", "x"), (2L, "bbbb", "y")),
      partitionBy = Seq("part"))
    val partId1 = fieldId(dir1, "part"); val idId1 = fieldId(dir1, "id")
    evolveSpec(dir1) { sp =>
      val fields = sp.withArray("fields")
      val f0 = fields.addObject()
      f0.put("name", "part"); f0.put("transform", "identity")
      f0.put("source-id", partId1); f0.put("field-id", 1000)
      val f1 = fields.addObject()
      f1.put("name", "id_bucket"); f1.put("transform", "bucket[4]")
      f1.put("source-id", idId1); f1.put("field-id", 1001)
    }
    dropDeltaLog(dir1)
    val back1 = DeltaTable.convertFromIceberg(spark, dir1)
    assert(back1.deltaLog.update().metadata.partitionColumns == Seq("part"))
    assert(back1.toDF.count() == 2L)
    assert(back1.toDF.where(col("part") === "y").count() == 1L)

    // case 2: the evolved default DROPS the identity column (bucket
    // only). Common set is empty -> unpartitioned adoption would lose
    // the authoritative partition values (the Hive layout's files do
    // NOT physically carry `part`) -> the guard refuses by default.
    val dir2 = tmp()
    mkUniform(dir2).write(df((1L, "aaaa", "x"), (2L, "bbbb", "y")),
      partitionBy = Seq("part"))
    val idId2 = fieldId(dir2, "id")
    evolveSpec(dir2) { sp =>
      val f1 = sp.withArray("fields").addObject()
      f1.put("name", "id_bucket"); f1.put("transform", "bucket[4]")
      f1.put("source-id", idId2); f1.put("field-id", 1000)
    }
    dropDeltaLog(dir2)
    val ex = intercept[Exception] {
      DeltaTable.convertFromIceberg(spark, dir2) }
    def rootCause(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)
    assert(rootCause(ex).getMessage.contains("drops identity partition column"),
      s"unexpected: $ex")

    // …and with the documented override the adoption goes through
    // unpartitioned, with pruning-equivalent min=max stats SYNTHESIZED
    // from the partition struct for the dropped identity column
    spark.conf.set("spark.graft.convert.assumeDroppedIdentityPresent", "true")
    try {
      val back2 = DeltaTable.convertFromIceberg(spark, dir2)
      val snap2 = back2.deltaLog.update()
      assert(snap2.metadata.partitionColumns.isEmpty)
      val stats = snap2.allFiles.map(_.stats)
      assert(stats.forall(s => s.contains("\"part\"")), stats.toString)
      assert(stats.exists(_.contains("\"part\":\"x\"")) &&
        stats.exists(_.contains("\"part\":\"y\"")), stats.toString)
    } finally spark.conf.unset("spark.graft.convert.assumeDroppedIdentityPresent")

    // case 3: an unpartitioned layout whose DEFAULT spec gains an
    // identity field no live manifest was written under: the default
    // spec participates in the intersection (future syncs write under
    // it), so adoption stays unpartitioned and correct.
    val dir3 = tmp()
    val t3 = DeltaTable.forPath(spark, dir3)
    val txn3 = t3.deltaLog.startTransaction()
    val data3 = (1L to 4L).map(i => (i, s"v$i")).toDF("id", "v")
    txn3.updateMetadata(Metadata(
      schemaString = data3.schema.json,
      configuration = Map("delta.universalFormat.enabledFormats" -> "iceberg")))
    txn3.commit(Nil, Op.CreateTable)
    t3.write(data3)
    val vId3 = fieldId(dir3, "v")
    evolveSpec(dir3) { sp =>
      val f0 = sp.withArray("fields").addObject()
      f0.put("name", "v"); f0.put("transform", "identity")
      f0.put("source-id", vId3); f0.put("field-id", 1000)
    }
    dropDeltaLog(dir3)
    val back3 = DeltaTable.convertFromIceberg(spark, dir3)
    assert(back3.deltaLog.update().metadata.partitionColumns.isEmpty)
    assert(back3.toDF.select("id").collect().map(_.getLong(0)).toSet ==
      (1L to 4L).toSet)
  }

  test("EQUALITY deletes resolve under NAME MAPPING (physical parquet names)") {
    import spark.implicits._
    import org.apache.avro.generic.{GenericData, GenericDatumWriter}
    import org.apache.avro.file.DataFileWriter
    val dir = tmp()
    // a COLUMN-MAPPED UniForm table whose PHYSICAL parquet name differs
    // from the logical schema: a metadata-only RENAME after the write
    // leaves the footers carrying the original name
    val t = DeltaTable.forPath(spark, dir)
    val data = (1L to 6L).map(i => (i, s"v$i")).toDF("id0", "v")
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = data.schema.json,
      configuration = Map(
        "delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, Op.CreateTable)
    t.write(data)
    t.renameColumn("id0", "id")
    val md = t.deltaLog.update().metadata
    val physId = ColumnMapping.physicalName(
      md.schema.fields.find(_.name == "id").get)
    assert(physId == "id0") // footers carry the pre-rename name
    val metaDir = new java.io.File(dir, "metadata")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta2 = currentMeta(dir)
    val curSchemaId = meta2.get("current-schema-id").asInt
    val idFieldId = meta2.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt == curSchemaId).get
      .get("fields").elements().asScala
      .find(_.get("name").asText == "id").get.get("id").asInt

    // two equality-delete files: one named LOGICALLY (id — the
    // conformant shape), one named PHYSICALLY (what some engines write
    // under a name mapping) — both must resolve
    val eqDirL = Files.createTempDirectory("graft-eqmap-l")
    Seq(2L).toDF("id").coalesce(1).write.mode("overwrite")
      .parquet(eqDirL.toString)
    val eqDirP = Files.createTempDirectory("graft-eqmap-p")
    Seq(5L).toDF(physId).coalesce(1).write.mode("overwrite")
      .parquet(eqDirP.toString)
    def onlyParquet(d: java.nio.file.Path): java.io.File =
      new java.io.File(d.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      IcebergMetadata.manifestEntrySchemaJson(
        IcebergMetadata.partitionStructSchemaJson(Nil)))
    val dfSchema = entrySchema.getField("data_file").schema()
    val eqManifest = new java.io.File(metaDir, "eqmap-manifest-d0.avro")
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](entrySchema))
    w.create(entrySchema, eqManifest)
    Seq(onlyParquet(eqDirL), onlyParquet(eqDirP)).foreach { f =>
      val rec = new GenericData.Record(entrySchema)
      rec.put("status", 1)
      rec.put("snapshot_id", 4L)
      rec.put("sequence_number", 4L)
      val dfr = new GenericData.Record(dfSchema)
      dfr.put("content", 2)
      dfr.put("file_path", f.getAbsolutePath)
      dfr.put("file_format", "PARQUET")
      dfr.put("partition", new GenericData.Record(
        dfSchema.getField("partition").schema()))
      dfr.put("record_count", 1L)
      dfr.put("file_size_in_bytes", f.length())
      val idsArrSchema = dfSchema.getField("equality_ids").schema()
        .getTypes.asScala.find(_.getType == org.apache.avro.Schema.Type.ARRAY).get
      val idsArr = new GenericData.Array[Any](1, idsArrSchema)
      idsArr.add(idFieldId)
      dfr.put("equality_ids", idsArr)
      rec.put("data_file", dfr)
      w.append(rec)
    }
    w.close()
    val curId2 = meta2.get("current-snapshot-id").asLong
    val oldList = meta2.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == curId2).get
      .get("manifest-list").asText
    val listSchema = new org.apache.avro.Schema.Parser().parse(
      IcebergMetadata.manifestListSchemaJson)
    val newList = new java.io.File(metaDir, "snap-4-1-eqmap.avro")
    val lw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](listSchema))
    lw.create(listSchema, newList)
    avroRecords(oldList).foreach(lw.append)
    val lrec = new GenericData.Record(listSchema)
    lrec.put("manifest_path", eqManifest.getAbsolutePath)
    lrec.put("manifest_length", eqManifest.length())
    lrec.put("partition_spec_id", 0)
    lrec.put("content", 1)
    lrec.put("sequence_number", 4L)
    lrec.put("min_sequence_number", 4L)
    lrec.put("added_snapshot_id", 4L)
    lrec.put("added_files_count", 2)
    lrec.put("existing_files_count", 0)
    lrec.put("deleted_files_count", 0)
    lrec.put("added_rows_count", 2L)
    lrec.put("existing_rows_count", 0L)
    lrec.put("deleted_rows_count", 0L)
    lw.append(lrec)
    lw.close()
    val root = currentMeta(dir).deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    root.put("current-snapshot-id", 4L)
    root.put("last-sequence-number", 4L)
    val sn = root.withArray("snapshots").addObject()
    sn.put("snapshot-id", 4L)
    sn.put("sequence-number", 4L)
    sn.put("timestamp-ms", System.currentTimeMillis())
    sn.putObject("summary").put("operation", "overwrite")
    sn.put("manifest-list", newList.getAbsolutePath)
    sn.put("schema-id", root.get("current-schema-id").asInt)
    Files.write(metaDir.toPath.resolve("v4.metadata.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    Files.deleteIfExists(metaDir.toPath.resolve(".version-hint.text.crc"))
    Files.write(metaDir.toPath.resolve("version-hint.text"),
      "4".getBytes("UTF-8"))
    val logDir = new java.io.File(dir, "_delta_log")
    Files.walk(logDir.toPath).iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists(_))
    val back = DeltaTable.convertFromIceberg(spark, dir)
    // the adopted table keeps column mapping; ids 2 (logical-named
    // delete) and 5 (physical-named delete) are gone via DVs
    assert(back.deltaLog.update().metadata.configuration
      .get("delta.columnMapping.mode").contains("name"))
    assert(back.toDF.select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 4L, 6L))
    val dvs = back.deltaLog.update().allFiles.flatMap(a => Option(a.deletionVector))
    assert(dvs.map(_.cardinality).sum == 2L, dvs.toString)
  }

  test("PARTITION-SCOPED equality deletes apply only within their partition") {
    import spark.implicits._
    import org.apache.avro.generic.{GenericData, GenericDatumWriter}
    import org.apache.avro.file.DataFileWriter
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val dir = tmp()
    // the same key `k` lives in BOTH partitions
    val t = mkUniform(dir)
    t.write(df((1L, "k", "x"), (2L, "k", "y")), partitionBy = Seq("part"))
    val metaDir = new java.io.File(dir, "metadata")
    val meta2 = currentMeta(dir)
    def fid(name: String): Int =
      meta2.get("schemas").get(0).get("fields").elements().asScala
        .find(_.get("name").asText == name).get.get("id").asInt
    val vId = fid("v"); val partId = fid("part")
    // equality-delete file on v='k', SCOPED to partition part='x' (the
    // entry rides the table's PARTITIONED spec 0 with a partition tuple)
    val eqDir = Files.createTempDirectory("graft-eqscope")
    Seq("k").toDF("v").coalesce(1).write.mode("overwrite").parquet(eqDir.toString)
    val eqParquet = new java.io.File(eqDir.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      IcebergMetadata.manifestEntrySchemaJson(
        IcebergMetadata.partitionStructSchemaJson(Seq(
          ("part", org.apache.spark.sql.types.StringType, partId)))))
    val dfSchema = entrySchema.getField("data_file").schema()
    val eqManifest = new java.io.File(metaDir, "eqscope-d0.avro")
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](entrySchema))
      w.create(entrySchema, eqManifest)
      val rec = new GenericData.Record(entrySchema)
      rec.put("status", 1); rec.put("snapshot_id", 3L)
      rec.put("sequence_number", 3L)
      val dfr = new GenericData.Record(dfSchema)
      dfr.put("content", 2)
      dfr.put("file_path", eqParquet.getAbsolutePath)
      dfr.put("file_format", "PARQUET")
      val ps = new GenericData.Record(dfSchema.getField("partition").schema())
      ps.put("part", "x")
      dfr.put("partition", ps)
      dfr.put("record_count", 1L)
      dfr.put("file_size_in_bytes", eqParquet.length())
      val idsArrSchema = dfSchema.getField("equality_ids").schema()
        .getTypes.asScala.find(_.getType == org.apache.avro.Schema.Type.ARRAY).get
      val idsArr = new GenericData.Array[Any](1, idsArrSchema)
      idsArr.add(vId)
      dfr.put("equality_ids", idsArr)
      rec.put("data_file", dfr)
      w.append(rec); w.close()
    }
    val curId2 = meta2.get("current-snapshot-id").asLong
    val oldList = meta2.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == curId2).get
      .get("manifest-list").asText
    val listSchema = new org.apache.avro.Schema.Parser().parse(
      IcebergMetadata.manifestListSchemaJson)
    val newList = new java.io.File(metaDir, "snap-3-1-eqscope.avro")
    locally {
      val lw = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      lw.create(listSchema, newList)
      avroRecords(oldList).foreach(lw.append)
      val lrec = new GenericData.Record(listSchema)
      lrec.put("manifest_path", eqManifest.getAbsolutePath)
      lrec.put("manifest_length", eqManifest.length())
      lrec.put("partition_spec_id", 0) // the PARTITIONED table spec
      lrec.put("content", 1)
      lrec.put("sequence_number", 3L)
      lrec.put("min_sequence_number", 3L)
      lrec.put("added_snapshot_id", 3L)
      lrec.put("added_files_count", 1)
      lrec.put("existing_files_count", 0)
      lrec.put("deleted_files_count", 0)
      lrec.put("added_rows_count", 1L)
      lrec.put("existing_rows_count", 0L)
      lrec.put("deleted_rows_count", 0L)
      lw.append(lrec); lw.close()
    }
    val root = meta2.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    root.put("current-snapshot-id", 3L)
    root.put("last-sequence-number", 3L)
    val sn = root.withArray("snapshots").addObject()
    sn.put("snapshot-id", 3L); sn.put("sequence-number", 3L)
    sn.put("timestamp-ms", System.currentTimeMillis())
    sn.putObject("summary").put("operation", "overwrite")
    sn.put("manifest-list", newList.getAbsolutePath)
    sn.put("schema-id", root.get("current-schema-id").asInt)
    Files.write(metaDir.toPath.resolve("v3.metadata.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    Files.deleteIfExists(metaDir.toPath.resolve(".version-hint.text.crc"))
    Files.write(metaDir.toPath.resolve("version-hint.text"),
      "3".getBytes("UTF-8"))
    val logDir = new java.io.File(dir, "_delta_log")
    Files.walk(logDir.toPath).iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists(_))
    val back = DeltaTable.convertFromIceberg(spark, dir)
    // only partition x's row dies; y's row with the SAME key survives
    assert(back.toDF.select("id").collect().map(_.getLong(0)).toSet ==
      Set(2L), back.toDF.collect().mkString(", "))
    val dvs = back.deltaLog.update().allFiles.flatMap(a => Option(a.deletionVector))
    assert(dvs.map(_.cardinality).sum == 1L, dvs.toString)
  }

  test("CONVERT FROM ICEBERG adopts a format-version 1 table") {
    import spark.implicits._
    import org.apache.avro.generic.{GenericData, GenericDatumWriter}
    import org.apache.avro.file.DataFileWriter
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // format v1: the list has no content / sequence_number /
    // min_sequence_number, entries no sequence numbers, data files no
    // content; the metadata has a single `schema` and `partition-spec`
    def withoutFields(schemaJson: String, drop: Set[String],
        dropInDataFile: Set[String] = Set.empty): org.apache.avro.Schema = {
      val root = mapper.readTree(schemaJson)
      def prune(fields: com.fasterxml.jackson.databind.JsonNode, names: Set[String]): Unit = {
        val it = fields.elements()
        while (it.hasNext) if (names(it.next().get("name").asText)) it.remove()
      }
      prune(root.get("fields"), drop)
      root.get("fields").elements().asScala.find(_.get("name").asText == "data_file")
        .foreach(f => prune(f.get("type").get("fields"), dropInDataFile))
      new org.apache.avro.Schema.Parser().parse(mapper.writeValueAsString(root))
    }
    val dir = tmp()
    val metaDir = new java.io.File(dir, "metadata")
    metaDir.mkdirs()
    def onePq(rows: Seq[(Long, String)]): (String, Long) = {
      val d = java.nio.file.Files.createTempDirectory("graft-v1")
      rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(d.toString)
      val f = new java.io.File(d.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      (f.getAbsolutePath, f.length())
    }
    val files = Seq("x" -> onePq(Seq((1L, "a"), (2L, "b"))), "y" -> onePq(Seq((3L, "c"))))
    val entrySchema = withoutFields(IcebergMetadata.manifestEntrySchemaJson(
      IcebergMetadata.partitionStructSchemaJson(Seq(
        ("part", org.apache.spark.sql.types.StringType, 3)))),
      Set("sequence_number", "file_sequence_number"), Set("content"))
    val dfSchema = entrySchema.getField("data_file").schema()
    val manifest = new java.io.File(metaDir, "v1-m0.avro")
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](entrySchema))
      w.create(entrySchema, manifest)
      files.foreach { case (part, (path, len)) =>
        val rec = new GenericData.Record(entrySchema)
        rec.put("status", 1); rec.put("snapshot_id", 1L)
        val dfr = new GenericData.Record(dfSchema)
        dfr.put("file_path", path)
        dfr.put("file_format", "PARQUET")
        val ps = new GenericData.Record(dfSchema.getField("partition").schema())
        ps.put("part", part)
        dfr.put("partition", ps)
        dfr.put("record_count", if (part == "x") 2L else 1L)
        dfr.put("file_size_in_bytes", len)
        rec.put("data_file", dfr)
        w.append(rec)
      }
      w.close()
    }
    val listSchema = withoutFields(IcebergMetadata.manifestListSchemaJson,
      Set("content", "sequence_number", "min_sequence_number"))
    val listFile = new java.io.File(metaDir, "snap-1-v1.avro")
    locally {
      val lw = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      lw.create(listSchema, listFile)
      val lrec = new GenericData.Record(listSchema)
      lrec.put("manifest_path", manifest.getAbsolutePath)
      lrec.put("manifest_length", manifest.length())
      lrec.put("partition_spec_id", 0)
      lrec.put("added_snapshot_id", 1L)
      lrec.put("added_files_count", 2)
      lrec.put("existing_files_count", 0)
      lrec.put("deleted_files_count", 0)
      lrec.put("added_rows_count", 3L)
      lrec.put("existing_rows_count", 0L)
      lrec.put("deleted_rows_count", 0L)
      lw.append(lrec)
      lw.close()
    }
    val root = mapper.createObjectNode()
    root.put("format-version", 1)
    root.put("table-uuid", java.util.UUID.randomUUID().toString)
    root.put("location", dir)
    root.put("last-updated-ms", System.currentTimeMillis())
    root.put("last-column-id", 3)
    val sch = root.putObject("schema")
    sch.put("type", "struct")
    val fs0 = sch.putArray("fields")
    Seq((1, "id", "long"), (2, "v", "string"), (3, "part", "string")).foreach {
      case (i, n, tp) =>
        val f = fs0.addObject()
        f.put("id", i); f.put("name", n); f.put("required", false); f.put("type", tp)
    }
    val pf = root.putArray("partition-spec").addObject()
    pf.put("name", "part"); pf.put("transform", "identity")
    pf.put("source-id", 3); pf.put("field-id", 1000)
    val sn = root.putArray("snapshots").addObject()
    sn.put("snapshot-id", 1L)
    sn.put("timestamp-ms", System.currentTimeMillis())
    sn.putObject("summary").put("operation", "append")
    sn.put("manifest-list", listFile.getAbsolutePath)
    root.put("current-snapshot-id", 1L)
    java.nio.file.Files.write(metaDir.toPath.resolve("v1.metadata.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    java.nio.file.Files.write(metaDir.toPath.resolve("version-hint.text"),
      "1".getBytes("UTF-8"))
    val back = DeltaTable.convertFromIceberg(spark, dir)
    val snap = back.deltaLog.update()
    assert(snap.metadata.partitionColumns == Seq("part"))
    assert(snap.allFiles.map(a => (a.partitionValues("part"), Stats.numRecords(a.stats)))
      .toSet == Set(("x", Some(2L)), ("y", Some(1L))))
    assert(back.toDF.select("id", "v", "part").as[(Long, String, String)]
      .collect().toSet == Set((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")))
  }

  test("BUCKET-scoped equality deletes restrict to the bucket's files") {
    import spark.implicits._
    import org.apache.avro.generic.{GenericData, GenericDatumWriter}
    import org.apache.avro.file.DataFileWriter
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // the Flink default layout: bucket(N, key)-partitioned data with a
    // partition-scoped equality delete — previously a loud refusal,
    // now applied by the spec's rule (same spec id + equal raw tuple)
    val dir = tmp()
    val metaDir = new java.io.File(dir, "metadata")
    metaDir.mkdirs()
    def onePq(rows: Seq[(Long, String)], cols: Seq[String]): (String, Long) = {
      val d = java.nio.file.Files.createTempDirectory("graft-bucket")
      val df0 = rows.toDF(cols: _*)
      (if (cols.size == 1) df0.select(cols.head) else df0)
        .coalesce(1).write.mode("overwrite").parquet(d.toString)
      val f = new java.io.File(d.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      (f.getAbsolutePath, f.length())
    }
    val (fileA, lenA) = onePq(Seq((1L, "a"), (2L, "b")), Seq("id", "v")) // bucket 0
    val (fileB, lenB) = onePq(Seq((3L, "c"), (4L, "d")), Seq("id", "v")) // bucket 1
    // the delete file names ids from BOTH buckets; only bucket 0 is scoped
    val eqDir = java.nio.file.Files.createTempDirectory("graft-bucketdel")
    Seq(1L, 3L).toDF("id").coalesce(1).write.mode("overwrite")
      .parquet(eqDir.toString)
    val eqParquet = new java.io.File(eqDir.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      IcebergMetadata.manifestEntrySchemaJson(
        IcebergMetadata.partitionStructSchemaJson(Seq(
          ("id_bucket", org.apache.spark.sql.types.IntegerType, 1000)))))
    val dfSchema = entrySchema.getField("data_file").schema()
    def partOf(bucket: Int) = {
      val ps = new GenericData.Record(dfSchema.getField("partition").schema())
      ps.put("id_bucket", bucket)
      ps
    }
    def entry(path: String, len: Long, content: Int, bucket: Int, seq: Long,
        rc: Long, eqIds: Seq[Int]): GenericRecord = {
      val rec = new GenericData.Record(entrySchema)
      rec.put("status", 1); rec.put("snapshot_id", seq)
      rec.put("sequence_number", seq)
      val dfr = new GenericData.Record(dfSchema)
      dfr.put("content", content)
      dfr.put("file_path", path)
      dfr.put("file_format", "PARQUET")
      dfr.put("partition", partOf(bucket))
      dfr.put("record_count", rc)
      dfr.put("file_size_in_bytes", len)
      if (eqIds.nonEmpty) {
        val idsArrSchema = dfSchema.getField("equality_ids").schema()
          .getTypes.asScala.find(_.getType == org.apache.avro.Schema.Type.ARRAY).get
        val idsArr = new GenericData.Array[Any](eqIds.size, idsArrSchema)
        eqIds.foreach(idsArr.add(_))
        dfr.put("equality_ids", idsArr)
      }
      rec.put("data_file", dfr)
      rec
    }
    def writeManifest(name: String, entries: Seq[GenericRecord]): java.io.File = {
      val f = new java.io.File(metaDir, name)
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](entrySchema))
      w.create(entrySchema, f)
      entries.foreach(w.append)
      w.close()
      f
    }
    val dataManifest = writeManifest("bucket-m0.avro", Seq(
      entry(fileA, lenA, 0, bucket = 0, seq = 1L, rc = 2L, eqIds = Nil),
      entry(fileB, lenB, 0, bucket = 1, seq = 1L, rc = 2L, eqIds = Nil)))
    val delManifest = writeManifest("bucket-d0.avro", Seq(
      entry(eqParquet.getAbsolutePath, eqParquet.length(), 2, bucket = 0,
        seq = 2L, rc = 2L, eqIds = Seq(1))))
    val listSchema = new org.apache.avro.Schema.Parser().parse(
      IcebergMetadata.manifestListSchemaJson)
    val listFile = new java.io.File(metaDir, "snap-2-bucket.avro")
    locally {
      val lw = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      lw.create(listSchema, listFile)
      Seq((dataManifest, 0, 1L, 4L), (delManifest, 1, 2L, 2L)).foreach {
        case (mf, content, seq, rows) =>
          val lrec = new GenericData.Record(listSchema)
          lrec.put("manifest_path", mf.getAbsolutePath)
          lrec.put("manifest_length", mf.length())
          lrec.put("partition_spec_id", 0)
          lrec.put("content", content)
          lrec.put("sequence_number", seq)
          lrec.put("min_sequence_number", seq)
          lrec.put("added_snapshot_id", seq)
          lrec.put("added_files_count", if (content == 0) 2 else 1)
          lrec.put("existing_files_count", 0)
          lrec.put("deleted_files_count", 0)
          lrec.put("added_rows_count", rows)
          lrec.put("existing_rows_count", 0L)
          lrec.put("deleted_rows_count", 0L)
          lw.append(lrec)
      }
      lw.close()
    }
    val root = mapper.createObjectNode()
    root.put("format-version", 2)
    root.put("table-uuid", java.util.UUID.randomUUID().toString)
    root.put("location", dir)
    root.put("last-sequence-number", 2L)
    root.put("last-column-id", 2)
    root.put("current-schema-id", 0)
    locally {
      val sch = root.putArray("schemas").addObject()
      sch.put("type", "struct"); sch.put("schema-id", 0)
      val fs0 = sch.putArray("fields")
      Seq((1, "id", "long"), (2, "v", "string")).foreach { case (i, n, tp) =>
        val f = fs0.addObject()
        f.put("id", i); f.put("name", n); f.put("required", false)
        f.put("type", tp)
      }
      root.put("default-spec-id", 0)
      val spec = root.putArray("partition-specs").addObject()
      spec.put("spec-id", 0)
      val sf = spec.putArray("fields").addObject()
      sf.put("name", "id_bucket"); sf.put("transform", "bucket[4]")
      sf.put("source-id", 1); sf.put("field-id", 1000)
      val sn = root.putArray("snapshots").addObject()
      sn.put("snapshot-id", 2L); sn.put("sequence-number", 2L)
      sn.put("timestamp-ms", System.currentTimeMillis())
      sn.putObject("summary").put("operation", "overwrite")
      sn.put("manifest-list", listFile.getAbsolutePath)
      sn.put("schema-id", 0)
      root.put("current-snapshot-id", 2L)
    }
    java.nio.file.Files.write(metaDir.toPath.resolve("v1.metadata.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    java.nio.file.Files.write(metaDir.toPath.resolve("version-hint.text"),
      "1".getBytes("UTF-8"))
    val back = DeltaTable.convertFromIceberg(spark, dir)
    // id=1 dies (bucket-0 file, strictly older sequence); id=3 SURVIVES
    // even though the delete file names it — its file is bucket 1,
    // outside the delete's partition scope
    assert(back.toDF.select("id").collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L, 4L), back.toDF.collect().mkString(", "))
    val dvs = back.deltaLog.update().allFiles.flatMap(a => Option(a.deletionVector))
    assert(dvs.map(_.cardinality).sum == 1L, dvs.toString)
  }

  test("BINARY-scoped equality deletes compare tuple bytes, not ByteBuffer.toString") {
    import spark.implicits._
    import org.apache.avro.generic.{GenericData, GenericDatumWriter}
    import org.apache.avro.file.DataFileWriter
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // two partitions whose raw tuples are DIFFERENT byte values of the
    // SAME length: ByteBuffer.toString is content-free, so without
    // canonicalization both tuples stringify identically and a delete
    // scoped to one partition silently kills rows in the other
    val dir = tmp()
    val metaDir = new java.io.File(dir, "metadata")
    metaDir.mkdirs()
    def onePq(df0: org.apache.spark.sql.DataFrame): (String, Long) = {
      val d = java.nio.file.Files.createTempDirectory("graft-binscope")
      df0.coalesce(1).write.mode("overwrite").parquet(d.toString)
      val f = new java.io.File(d.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      (f.getAbsolutePath, f.length())
    }
    val (fileA, lenA) = onePq(Seq(
      (1L, Array[Byte](1, 2)), (2L, Array[Byte](1, 2))).toDF("id", "v"))
    val (fileB, lenB) = onePq(Seq(
      (3L, Array[Byte](3, 4)), (4L, Array[Byte](3, 4))).toDF("id", "v"))
    // the delete names ids from BOTH partitions; only 0x0102 is in scope
    val (eqPath, eqLen) = onePq(Seq(1L, 3L).toDF("id"))
    val partStruct =
      """{"type":"record","name":"r102","fields":[
        {"name":"v_trunc","type":["null","bytes"],"default":null,"field-id":1000}]}"""
    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      IcebergMetadata.manifestEntrySchemaJson(partStruct))
    val dfSchema = entrySchema.getField("data_file").schema()
    def partOf(bytes: Array[Byte]) = {
      val ps = new GenericData.Record(dfSchema.getField("partition").schema())
      ps.put("v_trunc", java.nio.ByteBuffer.wrap(bytes))
      ps
    }
    def entry(path: String, len: Long, content: Int, part: Array[Byte],
        seq: Long, rc: Long, eqIds: Seq[Int]): GenericRecord = {
      val rec = new GenericData.Record(entrySchema)
      rec.put("status", 1); rec.put("snapshot_id", seq)
      rec.put("sequence_number", seq)
      val dfr = new GenericData.Record(dfSchema)
      dfr.put("content", content)
      dfr.put("file_path", path)
      dfr.put("file_format", "PARQUET")
      dfr.put("partition", partOf(part))
      dfr.put("record_count", rc)
      dfr.put("file_size_in_bytes", len)
      if (eqIds.nonEmpty) {
        val idsArrSchema = dfSchema.getField("equality_ids").schema()
          .getTypes.asScala.find(_.getType == org.apache.avro.Schema.Type.ARRAY).get
        val idsArr = new GenericData.Array[Any](eqIds.size, idsArrSchema)
        eqIds.foreach(idsArr.add(_))
        dfr.put("equality_ids", idsArr)
      }
      rec.put("data_file", dfr)
      rec
    }
    def writeManifest(name: String, entries: Seq[GenericRecord]): java.io.File = {
      val f = new java.io.File(metaDir, name)
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](entrySchema))
      w.create(entrySchema, f)
      entries.foreach(w.append)
      w.close()
      f
    }
    val dataManifest = writeManifest("bin-m0.avro", Seq(
      entry(fileA, lenA, 0, Array[Byte](1, 2), seq = 1L, rc = 2L, eqIds = Nil),
      entry(fileB, lenB, 0, Array[Byte](3, 4), seq = 1L, rc = 2L, eqIds = Nil)))
    val delManifest = writeManifest("bin-d0.avro", Seq(
      entry(eqPath, eqLen, 2, Array[Byte](1, 2), seq = 2L, rc = 2L,
        eqIds = Seq(1))))
    val listSchema = new org.apache.avro.Schema.Parser().parse(
      IcebergMetadata.manifestListSchemaJson)
    val listFile = new java.io.File(metaDir, "snap-2-bin.avro")
    locally {
      val lw = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      lw.create(listSchema, listFile)
      Seq((dataManifest, 0, 1L, 4L), (delManifest, 1, 2L, 2L)).foreach {
        case (mf, content, seq, rows) =>
          val lrec = new GenericData.Record(listSchema)
          lrec.put("manifest_path", mf.getAbsolutePath)
          lrec.put("manifest_length", mf.length())
          lrec.put("partition_spec_id", 0)
          lrec.put("content", content)
          lrec.put("sequence_number", seq)
          lrec.put("min_sequence_number", seq)
          lrec.put("added_snapshot_id", seq)
          lrec.put("added_files_count", if (content == 0) 2 else 1)
          lrec.put("existing_files_count", 0)
          lrec.put("deleted_files_count", 0)
          lrec.put("added_rows_count", rows)
          lrec.put("existing_rows_count", 0L)
          lrec.put("deleted_rows_count", 0L)
          lw.append(lrec)
      }
      lw.close()
    }
    val root = mapper.createObjectNode()
    root.put("format-version", 2)
    root.put("table-uuid", java.util.UUID.randomUUID().toString)
    root.put("location", dir)
    root.put("last-sequence-number", 2L)
    root.put("last-column-id", 2)
    root.put("current-schema-id", 0)
    locally {
      val sch = root.putArray("schemas").addObject()
      sch.put("type", "struct"); sch.put("schema-id", 0)
      val fs0 = sch.putArray("fields")
      Seq((1, "id", "long"), (2, "v", "binary")).foreach { case (i, n, tp) =>
        val f = fs0.addObject()
        f.put("id", i); f.put("name", n); f.put("required", false)
        f.put("type", tp)
      }
      root.put("default-spec-id", 0)
      val spec = root.putArray("partition-specs").addObject()
      spec.put("spec-id", 0)
      val sf = spec.putArray("fields").addObject()
      sf.put("name", "v_trunc"); sf.put("transform", "truncate[2]")
      sf.put("source-id", 2); sf.put("field-id", 1000)
      val sn = root.putArray("snapshots").addObject()
      sn.put("snapshot-id", 2L); sn.put("sequence-number", 2L)
      sn.put("timestamp-ms", System.currentTimeMillis())
      sn.putObject("summary").put("operation", "overwrite")
      sn.put("manifest-list", listFile.getAbsolutePath)
      sn.put("schema-id", 0)
      root.put("current-snapshot-id", 2L)
    }
    java.nio.file.Files.write(metaDir.toPath.resolve("v1.metadata.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    java.nio.file.Files.write(metaDir.toPath.resolve("version-hint.text"),
      "1".getBytes("UTF-8"))
    val back = DeltaTable.convertFromIceberg(spark, dir)
    // id=1 dies (scoped partition, strictly older sequence); id=3
    // SURVIVES even though the delete names it — its tuple is 0x0304,
    // a DIFFERENT byte value that toString would have collapsed
    assert(back.toDF.select("id").collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L, 4L), back.toDF.collect().mkString(", "))
    val dvs = back.deltaLog.update().allFiles.flatMap(a => Option(a.deletionVector))
    assert(dvs.map(_.cardinality).sum == 1L, dvs.toString)
  }

  test("Iceberg v3 defaults: initial-default fills pre-evolution files, write-default becomes CURRENT_DEFAULT") {
    import spark.implicits._
    import org.apache.avro.generic.{GenericData, GenericDatumWriter}
    import org.apache.avro.file.DataFileWriter
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val dir = tmp()
    val metaDir = new java.io.File(dir, "metadata")
    metaDir.mkdirs()
    def onePq(df0: org.apache.spark.sql.DataFrame): (String, Long) = {
      val d = java.nio.file.Files.createTempDirectory("graft-defaults")
      df0.coalesce(1).write.mode("overwrite").parquet(d.toString)
      val f = new java.io.File(d.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      (f.getAbsolutePath, f.length())
    }
    // fileA predates the `bonus` column; fileB has it, including a REAL
    // null that must NOT be replaced by the default
    val (fileA, lenA) = onePq(Seq(1L, 2L).toDF("id"))
    val (fileB, lenB) = onePq(Seq((3L, Some(5L)), (4L, None))
      .toDF("id", "bonus"))
    val partStruct =
      """{"type":"record","name":"r102","fields":[]}"""
    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      IcebergMetadata.manifestEntrySchemaJson(partStruct))
    val dfSchema = entrySchema.getField("data_file").schema()
    def entry(path: String, len: Long, rc: Long): GenericRecord = {
      val rec = new GenericData.Record(entrySchema)
      rec.put("status", 1); rec.put("snapshot_id", 1L)
      rec.put("sequence_number", 1L)
      val dfr = new GenericData.Record(dfSchema)
      dfr.put("content", 0)
      dfr.put("file_path", path)
      dfr.put("file_format", "PARQUET")
      dfr.put("partition",
        new GenericData.Record(dfSchema.getField("partition").schema()))
      dfr.put("record_count", rc)
      dfr.put("file_size_in_bytes", len)
      rec.put("data_file", dfr)
      rec
    }
    val manifest = new java.io.File(metaDir, "def-m0.avro")
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](entrySchema))
      w.create(entrySchema, manifest)
      w.append(entry(fileA, lenA, 2L))
      w.append(entry(fileB, lenB, 2L))
      w.close()
    }
    val listSchema = new org.apache.avro.Schema.Parser().parse(
      IcebergMetadata.manifestListSchemaJson)
    val listFile = new java.io.File(metaDir, "snap-1-def.avro")
    locally {
      val lw = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      lw.create(listSchema, listFile)
      val lrec = new GenericData.Record(listSchema)
      lrec.put("manifest_path", manifest.getAbsolutePath)
      lrec.put("manifest_length", manifest.length())
      lrec.put("partition_spec_id", 0)
      lrec.put("content", 0)
      lrec.put("sequence_number", 1L)
      lrec.put("min_sequence_number", 1L)
      lrec.put("added_snapshot_id", 1L)
      lrec.put("added_files_count", 2)
      lrec.put("existing_files_count", 0)
      lrec.put("deleted_files_count", 0)
      lrec.put("added_rows_count", 4L)
      lrec.put("existing_rows_count", 0L)
      lrec.put("deleted_rows_count", 0L)
      lw.append(lrec); lw.close()
    }
    val root = mapper.createObjectNode()
    root.put("format-version", 3)
    root.put("table-uuid", java.util.UUID.randomUUID().toString)
    root.put("location", dir)
    root.put("last-sequence-number", 1L)
    root.put("last-column-id", 2)
    root.put("current-schema-id", 0)
    locally {
      val sch = root.putArray("schemas").addObject()
      sch.put("type", "struct"); sch.put("schema-id", 0)
      val fs0 = sch.putArray("fields")
      val f1 = fs0.addObject()
      f1.put("id", 1); f1.put("name", "id"); f1.put("required", false)
      f1.put("type", "long")
      val f2 = fs0.addObject()
      f2.put("id", 2); f2.put("name", "bonus"); f2.put("required", false)
      f2.put("type", "long")
      f2.put("initial-default", 42L)
      f2.put("write-default", 7L)
      root.put("default-spec-id", 0)
      val spec = root.putArray("partition-specs").addObject()
      spec.put("spec-id", 0); spec.putArray("fields")
      val sn = root.putArray("snapshots").addObject()
      sn.put("snapshot-id", 1L); sn.put("sequence-number", 1L)
      sn.put("timestamp-ms", System.currentTimeMillis())
      sn.putObject("summary").put("operation", "append")
      sn.put("manifest-list", listFile.getAbsolutePath)
      sn.put("schema-id", 0)
      root.put("current-snapshot-id", 1L)
    }
    java.nio.file.Files.write(metaDir.toPath.resolve("v1.metadata.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    java.nio.file.Files.write(metaDir.toPath.resolve("version-hint.text"),
      "1".getBytes("UTF-8"))
    val back = DeltaTable.convertFromIceberg(spark, dir)
    val snap = back.deltaLog.update()
    // protocol: per-file read fill is a READER feature
    assert(snap.protocol.readerFeatures.exists(_.contains(
      ReadDefaults.FeatureName)), snap.protocol.toString)
    // fileA was tagged as missing `bonus`; fileB was not
    val tagged = snap.allFiles.filter(a =>
      Option(a.tags).exists(_.contains(ReadDefaults.MissingTag)))
    assert(tagged.size == 1 && tagged.head.path.contains(
      new java.io.File(fileA).getName.stripSuffix(".parquet")))
    // reads: pre-evolution rows get 42; the REAL null stays null
    val got = back.toDF.select($"id", $"bonus")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == Map(1L -> Some(42L), 2L -> Some(42L),
      3L -> Some(5L), 4L -> None), got.toString)
    // a filter on the defaulted column sees the filled values
    assert(back.toDF.filter($"bonus" === 42L).count() == 2)
    // write-default -> CURRENT_DEFAULT: a write omitting `bonus` fills 7
    back.write(Seq(9L).toDF("id"))
    val after = back.toDF.filter($"id" === 9L)
      .select($"bonus").collect().map(_.getLong(0)).toSeq
    assert(after == Seq(7L), after.toString)
    // DML over the mixed files keeps the fill (readFilesKeyed path)
    back.update(col("id") === 1L, Map("bonus" -> (col("bonus") + 1L)))
    assert(back.toDF.filter($"id" === 1L).select($"bonus")
      .collect().map(_.getLong(0)).toSeq == Seq(43L))
  }

  test("UniForm v3 exports write-default from CURRENT_DEFAULT and round-trips initial-default") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      ColumnDefaults.field("grade",
        org.apache.spark.sql.types.StringType, "'basic'")))
    txn.updateMetadata(Metadata(
      schemaString = schema.json,
      configuration = Map(
        "delta.enableRowTracking" -> "true",
        "graft.iceberg.formatVersion" -> "3",
        "delta.feature.allowColumnDefaults" -> "supported",
        "delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, Op.CreateTable)
    t.write(Seq((1L, "x")).toDF("id", "grade"))
    val meta = currentMeta(dir)
    val gradeField = meta.get("schemas").get(0).get("fields")
      .elements().asScala.find(_.get("name").asText == "grade").get
    assert(gradeField.get("write-default") != null &&
      gradeField.get("write-default").asText == "basic",
      gradeField.toString)
    assert(gradeField.get("initial-default") == null,
      "CURRENT_DEFAULT is writer-side only; no initial-default invented")
  }

  test("legacy column-keyed partition structs decode scope tuples via fallback") {
    import spark.implicits._
    import org.apache.avro.generic.{GenericData, GenericDatumWriter}
    import org.apache.avro.file.DataFileWriter
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // an older writer keys the partition struct by SOURCE COLUMN name
    // ("part") while the spec names its field "part_ident"; without the
    // fallback both sides decode all-null tuples, collapsing distinct
    // partitions into one scope
    val dir = tmp()
    val metaDir = new java.io.File(dir, "metadata")
    metaDir.mkdirs()
    def onePq(df0: org.apache.spark.sql.DataFrame): (String, Long) = {
      val d = java.nio.file.Files.createTempDirectory("graft-legacyscope")
      df0.coalesce(1).write.mode("overwrite").parquet(d.toString)
      val f = new java.io.File(d.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      (f.getAbsolutePath, f.length())
    }
    val (fileA, lenA) = onePq(Seq((1L, "x"), (2L, "x")).toDF("id", "part"))
    val (fileB, lenB) = onePq(Seq((3L, "y"), (4L, "y")).toDF("id", "part"))
    val (eqPath, eqLen) = onePq(Seq(1L, 3L).toDF("id"))
    // struct keyed by COLUMN name "part", spec field named "part_ident"
    val partStruct =
      """{"type":"record","name":"r102","fields":[
        {"name":"part","type":["null","string"],"default":null,"field-id":1000}]}"""
    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      IcebergMetadata.manifestEntrySchemaJson(partStruct))
    val dfSchema = entrySchema.getField("data_file").schema()
    def partOf(v: String) = {
      val ps = new GenericData.Record(dfSchema.getField("partition").schema())
      ps.put("part", v)
      ps
    }
    def entry(path: String, len: Long, content: Int, part: String,
        seq: Long, rc: Long, eqIds: Seq[Int]): GenericRecord = {
      val rec = new GenericData.Record(entrySchema)
      rec.put("status", 1); rec.put("snapshot_id", seq)
      rec.put("sequence_number", seq)
      val dfr = new GenericData.Record(dfSchema)
      dfr.put("content", content)
      dfr.put("file_path", path)
      dfr.put("file_format", "PARQUET")
      dfr.put("partition", partOf(part))
      dfr.put("record_count", rc)
      dfr.put("file_size_in_bytes", len)
      if (eqIds.nonEmpty) {
        val idsArrSchema = dfSchema.getField("equality_ids").schema()
          .getTypes.asScala.find(_.getType == org.apache.avro.Schema.Type.ARRAY).get
        val idsArr = new GenericData.Array[Any](eqIds.size, idsArrSchema)
        eqIds.foreach(idsArr.add(_))
        dfr.put("equality_ids", idsArr)
      }
      rec.put("data_file", dfr)
      rec
    }
    def writeManifest(name: String, entries: Seq[GenericRecord]): java.io.File = {
      val f = new java.io.File(metaDir, name)
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](entrySchema))
      w.create(entrySchema, f)
      entries.foreach(w.append)
      w.close()
      f
    }
    val dataManifest = writeManifest("legacy-m0.avro", Seq(
      entry(fileA, lenA, 0, "x", seq = 1L, rc = 2L, eqIds = Nil),
      entry(fileB, lenB, 0, "y", seq = 1L, rc = 2L, eqIds = Nil)))
    val delManifest = writeManifest("legacy-d0.avro", Seq(
      entry(eqPath, eqLen, 2, "x", seq = 2L, rc = 2L, eqIds = Seq(1))))
    val listSchema = new org.apache.avro.Schema.Parser().parse(
      IcebergMetadata.manifestListSchemaJson)
    val listFile = new java.io.File(metaDir, "snap-2-legacy.avro")
    locally {
      val lw = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      lw.create(listSchema, listFile)
      Seq((dataManifest, 0, 1L, 4L), (delManifest, 1, 2L, 2L)).foreach {
        case (mf, content, seq, rows) =>
          val lrec = new GenericData.Record(listSchema)
          lrec.put("manifest_path", mf.getAbsolutePath)
          lrec.put("manifest_length", mf.length())
          lrec.put("partition_spec_id", 0)
          lrec.put("content", content)
          lrec.put("sequence_number", seq)
          lrec.put("min_sequence_number", seq)
          lrec.put("added_snapshot_id", seq)
          lrec.put("added_files_count", if (content == 0) 2 else 1)
          lrec.put("existing_files_count", 0)
          lrec.put("deleted_files_count", 0)
          lrec.put("added_rows_count", rows)
          lrec.put("existing_rows_count", 0L)
          lrec.put("deleted_rows_count", 0L)
          lw.append(lrec)
      }
      lw.close()
    }
    val root = mapper.createObjectNode()
    root.put("format-version", 2)
    root.put("table-uuid", java.util.UUID.randomUUID().toString)
    root.put("location", dir)
    root.put("last-sequence-number", 2L)
    root.put("last-column-id", 2)
    root.put("current-schema-id", 0)
    locally {
      val sch = root.putArray("schemas").addObject()
      sch.put("type", "struct"); sch.put("schema-id", 0)
      val fs0 = sch.putArray("fields")
      Seq((1, "id", "long"), (2, "part", "string")).foreach { case (i, n, tp) =>
        val f = fs0.addObject()
        f.put("id", i); f.put("name", n); f.put("required", false)
        f.put("type", tp)
      }
      root.put("default-spec-id", 0)
      val spec = root.putArray("partition-specs").addObject()
      spec.put("spec-id", 0)
      val sf = spec.putArray("fields").addObject()
      sf.put("name", "part_ident"); sf.put("transform", "identity")
      sf.put("source-id", 2); sf.put("field-id", 1000)
      val sn = root.putArray("snapshots").addObject()
      sn.put("snapshot-id", 2L); sn.put("sequence-number", 2L)
      sn.put("timestamp-ms", System.currentTimeMillis())
      sn.putObject("summary").put("operation", "overwrite")
      sn.put("manifest-list", listFile.getAbsolutePath)
      sn.put("schema-id", 0)
      root.put("current-snapshot-id", 2L)
    }
    java.nio.file.Files.write(metaDir.toPath.resolve("v1.metadata.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    java.nio.file.Files.write(metaDir.toPath.resolve("version-hint.text"),
      "1".getBytes("UTF-8"))
    val back = DeltaTable.convertFromIceberg(spark, dir)
    // scope decodes through the column-name fallback: only part=x's
    // matching row dies; part=y's named id survives
    assert(back.toDF.select("id").collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L, 4L), back.toDF.collect().mkString(", "))
  }

  test("re-sync diff commits stream through commitLarge past the threshold") {
    import spark.implicits._
    import org.apache.avro.generic.{GenericData, GenericDatumWriter}
    import org.apache.avro.file.DataFileWriter
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val dir = tmp()
    // unpartitioned UniForm table, two snapshots
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    val d1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    txn.updateMetadata(Metadata(
      schemaString = d1.schema.json,
      configuration = Map("delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, Op.CreateTable)
    t.write(d1)
    t.write(Seq((3L, "c")).toDF("id", "v"))
    val metaDir = new java.io.File(dir, "metadata")
    val meta0 = currentMeta(dir)
    val logDir = new java.io.File(dir, "_delta_log")
    java.nio.file.Files.walk(logDir.toPath).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    val back = DeltaTable.convertFromIceberg(spark, dir)
    val v0 = back.deltaLog.update().version

    // foreign APPEND snapshot 99: one new file, all prior manifests kept
    val newDir = new java.io.File(dir, "sync-new")
    Seq((4L, "d")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(newDir.toString)
    val newParquet = newDir.listFiles().find(_.getName.endsWith(".parquet")).get
    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      IcebergMetadata.manifestEntrySchemaJson(
        IcebergMetadata.partitionStructSchemaJson(Nil)))
    val nManifest = new java.io.File(metaDir, "sync-stream-m0.avro")
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](entrySchema))
      w.create(entrySchema, nManifest)
      val rec = new GenericData.Record(entrySchema)
      rec.put("status", 1); rec.put("snapshot_id", 99L)
      val dfS = entrySchema.getField("data_file").schema()
      val dfr = new GenericData.Record(dfS)
      dfr.put("content", 0)
      dfr.put("file_path", newParquet.getAbsolutePath)
      dfr.put("file_format", "PARQUET")
      dfr.put("partition", new GenericData.Record(dfS.getField("partition").schema()))
      dfr.put("record_count", 1L)
      dfr.put("file_size_in_bytes", newParquet.length())
      rec.put("data_file", dfr)
      w.append(rec); w.close()
    }
    val listSchema = new org.apache.avro.Schema.Parser().parse(
      IcebergMetadata.manifestListSchemaJson)
    val newList = new java.io.File(metaDir, "snap-99-1-stream.avro")
    locally {
      val lw = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      lw.create(listSchema, newList)
      currentManifests(meta0).foreach(lw.append)
      val r = new GenericData.Record(listSchema)
      r.put("manifest_path", nManifest.getAbsolutePath)
      r.put("manifest_length", nManifest.length())
      r.put("partition_spec_id", 0); r.put("content", 0)
      r.put("sequence_number", 4L); r.put("min_sequence_number", 4L)
      r.put("added_snapshot_id", 99L)
      r.put("added_files_count", 1); r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", 1L); r.put("existing_rows_count", 0L)
      r.put("deleted_rows_count", 0L)
      lw.append(r); lw.close()
    }
    val hint = new String(java.nio.file.Files.readAllBytes(
      metaDir.toPath.resolve("version-hint.text"))).trim
    val root = meta0.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    root.put("current-snapshot-id", 99L)
    root.put("last-sequence-number", 4L)
    val sn = root.withArray("snapshots").addObject()
    sn.put("snapshot-id", 99L); sn.put("sequence-number", 4L)
    sn.put("timestamp-ms", System.currentTimeMillis())
    sn.putObject("summary").put("operation", "append")
    sn.put("manifest-list", newList.getAbsolutePath)
    sn.put("schema-id", root.get("current-schema-id").asInt)
    java.nio.file.Files.write(
      metaDir.toPath.resolve(s"v${hint.toLong + 1}.metadata.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    java.nio.file.Files.deleteIfExists(
      metaDir.toPath.resolve(".version-hint.text.crc"))
    java.nio.file.Files.write(metaDir.toPath.resolve("version-hint.text"),
      (hint.toLong + 1).toString.getBytes("UTF-8"))

    // sync with a diff (1 add): the diff is the commit's Dataset body
    val synced = DeltaTable.convertFromIceberg(spark, dir)
    val v1 = synced.deltaLog.update().version
    assert(v1 == v0 + 1, s"sync must be ONE commit: $v0 -> $v1")
    val ci = synced.deltaLog.commitInfoAt(v1)
    assert(ci.exists(_.operationParameters.get("sync").contains("true")), ci.toString)
    assert(ci.exists(c => c.operationMetrics.get("numAddedFiles").contains("1") &&
      c.operationMetrics.get("numRemovedFiles").contains("0")), ci.toString)
    assert(synced.toDF.select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 4L))
  }

  test("per-bucket incremental position deletes: only changed buckets rewrite") {
    val dir = tmp()
    // high bucket count so distinct files land in distinct buckets with
    // near-certainty; assertions below are computed FROM the actual
    // buckets, so even a collision run stays green (it just pins less)
    spark.conf.set("spark.graft.iceberg.deleteBuckets", "4096")
    try {
      val t = DeltaTable.forPath(spark, dir)
      val txn = t.deltaLog.startTransaction()
      import spark.implicits._
      val d1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      txn.updateMetadata(Metadata(
        schemaString = d1.schema.json,
        configuration = Map(
          "delta.enableDeletionVectors" -> "true",
          "delta.universalFormat.enabledFormats" -> "iceberg")))
      txn.commit(Nil, Op.CreateTable)
      // four files, two rows each (coalesced: Seq.toDF would split
      // into one-row files and break the changed-file selection below)
      t.write(d1.coalesce(1))
      t.write(Seq((3L, "c"), (4L, "d")).toDF("id", "v").coalesce(1))
      t.write(Seq((5L, "e"), (6L, "f")).toDF("id", "v").coalesce(1))
      t.write(Seq((7L, "g"), (8L, "h")).toDF("id", "v").coalesce(1))
      // DV every file
      t.delete(col("id").isin(1L, 3L, 5L, 7L))
      val log = t.deltaLog
      def delFilePaths(): Map[String, Int] = { // path -> status
        val dels = currentManifests(currentMeta(dir))
          .filter(_.get("content").asInstanceOf[Int] == 1)
        dels.flatMap(m => avroRecords(m.get("manifest_path").toString))
          .map(e => e.get("data_file").asInstanceOf[GenericRecord]
            .get("file_path").toString -> e.get("status").asInstanceOf[Int])
          .toMap
      }
      val genA = delFilePaths()
      assert(genA.nonEmpty && genA.values.forall(_ == 1),
        s"first generation: all delete files ADDED: $genA")
      assert(genA.keys.forall(_.contains("__bucket=")), genA.toString)
      // the summary carries per-bucket fingerprints
      val sumA = {
        import scala.jdk.CollectionConverters._
        val m = currentMeta(dir)
        val cur = m.get("current-snapshot-id").asLong
        m.get("snapshots").elements().asScala
          .find(_.get("snapshot-id").asLong == cur).get.get("summary")
      }
      assert(sumA.get("graft.dv-bucket-fps") != null, sumA.toString)

      // the bucket function, replicated: md5 first-8-hex % N over the
      // normalized absolute path
      def bucketOf(relPath: String): Int = {
        val nfp = FileNames.absolutePathString(log.dataPath, relPath)
          .replaceFirst("^file:/+", "/")
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(nfp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val hex = d.take(4).map(b => f"$b%02x").mkString
        (java.lang.Long.parseLong(hex, 16) % 4096).toInt
      }
      // second DML touches ONE file's DV (id=2 lives in the first file)
      val changedFile = log.update().allFiles
        .filter(_.deletionVector != null)
        .find { a =>
          val p = FileNames.absolutePathString(log.dataPath, a.path)
          spark.read.parquet(p).where(col("id") === 2L).count() == 1L
        }.get
      t.delete(col("id") === 2L)
      val changedBuckets: Set[Int] = Set(bucketOf(changedFile.path))
      val genB = delFilePaths()
      val BucketRe = ".*/__bucket=(\\d+)/[^/]+$".r
      def bucketOfPath(p: String): Int = p match {
        case BucketRe(b) => b.toInt
        case _ => fail(s"delete file without bucket dir: $p")
      }
      // unchanged buckets' files are REUSED by identical path, status
      // EXISTING; changed buckets' files are fresh ADDED paths
      genA.keys.filter(p => !changedBuckets(bucketOfPath(p))).foreach { p =>
        assert(genB.contains(p), s"unchanged-bucket file not reused: $p")
        assert(genB(p) == 0, s"reused file must be EXISTING: $p -> ${genB(p)}")
      }
      genB.foreach { case (p, st) =>
        if (changedBuckets(bucketOfPath(p))) {
          assert(!genA.contains(p), s"changed bucket must write a NEW file: $p")
          assert(st == 1, s"fresh file must be ADDED: $p")
        }
      }
      // correctness through the delete side: the referenced delete rows
      // are exactly the live DVs' (path, pos) set
      val posRows = spark.read.parquet(genB.keys.toSeq: _*)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val dvd = log.update().allFiles.filter(_.deletionVector != null)
      assert(posRows.size == dvd.map(_.deletionVector.cardinality).sum,
        s"${posRows.size} vs ${dvd.map(_.deletionVector.cardinality).sum}")
      assert(posRows.map(_._1).map(_.replaceFirst("^file:/+", "/")) ==
        dvd.map(a => FileNames.absolutePathString(log.dataPath, a.path)
          .replaceFirst("^file:/+", "/")).toSet)
      assert(t.toDF.select("id").collect().map(_.getLong(0)).toSet ==
        Set(4L, 6L, 8L))
    } finally spark.conf.unset("spark.graft.iceberg.deleteBuckets")
  }

  // ------------------------------------------------------- format v3

  private def mkV3(dir: String, extraConf: Map[String, String] = Map.empty): DeltaTable = {
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = df((0L, "x", "p")).schema.json,
      partitionColumns = Seq("part"),
      configuration = Map(
        "delta.enableDeletionVectors" -> "true",
        "delta.enableRowTracking" -> "true",
        "graft.iceberg.formatVersion" -> "3",
        "delta.universalFormat.enabledFormats" -> "iceberg") ++ extraConf))
    txn.commit(Nil, Op.CreateTable)
    t
  }

  private def dataEntriesOf(dir: String): Seq[GenericRecord] =
    currentManifests(currentMeta(dir))
      .filter(_.get("content").asInstanceOf[Int] == 0)
      .flatMap(m => avroRecords(m.get("manifest_path").toString))
      .filter(_.get("status").asInstanceOf[Int] != 2)

  private def deleteEntriesOf(dir: String): Seq[GenericRecord] =
    currentManifests(currentMeta(dir))
      .filter(_.get("content").asInstanceOf[Int] == 1)
      .flatMap(m => avroRecords(m.get("manifest_path").toString))

  test("format v3: DVs export as Puffin blobs; row lineage from row tracking") {
    val dir = tmp()
    val t = mkV3(dir)
    // one file per partition, so the delete leaves live rows to mask
    t.write(df((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")).coalesce(1),
      partitionBy = Seq("part"))
    t.delete(col("id") === 1L) // merge-on-read DV
    val log = t.deltaLog
    val snap = log.update()
    val dvd = snap.allFiles.filter(_.deletionVector != null)
    assert(dvd.size == 1, "fixture must put a DV on exactly one file")

    val meta = currentMeta(dir)
    assert(meta.get("format-version").asInt == 3)
    // next-row-id is the Delta row-id high-water mark + 1
    val hwm = RowTracking.highWaterMark(snap.domainMetadata)
    assert(hwm >= 2, s"row tracking must have assigned ids, hwm=$hwm")
    assert(meta.get("next-row-id").asLong == hwm + 1)
    val curId = meta.get("current-snapshot-id").asLong
    val sn = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == curId).get
    assert(sn.get("first-row-id") != null, sn.toString)

    // every data entry's first_row_id IS the AddFile's baseRowId
    val fridByPath = dataEntriesOf(dir).map { e =>
      val d = e.get("data_file").asInstanceOf[GenericRecord]
      d.get("file_path").toString -> d.get("first_row_id").asInstanceOf[Long]
    }.toMap
    snap.allFiles.foreach { a =>
      val abs = FileNames.absolutePathString(log.dataPath, a.path)
      assert(fridByPath.get(abs).contains(a.baseRowId.get),
        s"first_row_id mismatch for $abs: ${fridByPath.get(abs)} vs ${a.baseRowId}")
    }

    // the delete side: one PUFFIN entry per DV'd file carrying the blob
    // coordinates (143/144/145), record_count = cardinality
    val delEntries = deleteEntriesOf(dir)
    assert(delEntries.size == 1, delEntries.toString)
    val de = delEntries.head.get("data_file").asInstanceOf[GenericRecord]
    assert(de.get("file_format").toString == "PUFFIN")
    val puffinPath = de.get("file_path").toString
    assert(puffinPath.contains("/metadata/") && puffinPath.contains("__bucket="))
    val refFile = de.get("referenced_data_file").toString
    val blobOff = de.get("content_offset").asInstanceOf[Long]
    val blobLen = de.get("content_size_in_bytes").asInstanceOf[Long]
    val dvdFile = dvd.head
    assert(refFile == FileNames.absolutePathString(log.dataPath, dvdFile.path))
    assert(de.get("record_count").asInstanceOf[Long] ==
      dvdFile.deletionVector.cardinality)

    // the Puffin footer locates the same blob, and the blob bytes are a
    // RAW COPY of the Delta DV payload framing (no decode happened)
    val hconf = spark.sessionState.newHadoopConf()
    val pPath = new org.apache.hadoop.fs.Path(puffinPath)
    val locs = IcebergPuffin.readDvLocations(pPath, hconf)
    assert(locs.map(l => (l.referencedDataFile, l.offset, l.length)) ==
      Seq((refFile, blobOff, blobLen)))
    assert(locs.head.cardinality == dvdFile.deletionVector.cardinality)
    val blobBytes = {
      val in = pPath.getFileSystem(hconf).open(pPath)
      try {
        val b = new Array[Byte](blobLen.toInt)
        in.readFully(blobOff, b); b
      } finally in.close()
    }
    val expected = IcebergPuffin.blobBodyOf(log.dataPath,
      dvdFile.deletionVector, hconf)
    assert(java.util.Arrays.equals(blobBytes, expected), "blob is not a raw copy")
    // and it decodes to the DV's exact positions
    val bm = IcebergPuffin.readDvBitmap(pPath, hconf, blobOff, blobLen)
    assert(bm.cardinality == dvdFile.deletionVector.cardinality)
    // physical record counts minus blob cardinalities = logical count
    val physical = dataEntriesOf(dir).map(_.get("data_file")
      .asInstanceOf[GenericRecord].get("record_count").asInstanceOf[Long]).sum
    assert(physical - bm.cardinality == t.toDF.count())
  }

  test("format v3: appends reuse data manifests AND the Puffin delete set by reference") {
    val dir = tmp()
    val t = mkV3(dir)
    // one file per partition, so both deletes leave live rows to mask
    t.write(df((1L, "a", "x"), (2L, "b", "x"), (5L, "e", "x"), (3L, "c", "y")).coalesce(1),
      partitionBy = Seq("part"))
    t.delete(col("id") === 1L)
    def manifestPaths(content: Int): Set[String] =
      currentManifests(currentMeta(dir))
        .filter(_.get("content").asInstanceOf[Int] == content)
        .map(_.get("manifest_path").toString).toSet
    val dataM1 = manifestPaths(0)
    val delM1 = manifestPaths(1)
    val delF1 = deleteEntriesOf(dir).map(_.get("data_file")
      .asInstanceOf[GenericRecord].get("file_path").toString).toSet
    assert(delM1.size == 1 && delF1.size == 1)
    // an APPEND reuses every prior data manifest and the whole delete
    // side (manifest + Puffin file) by identical path
    t.write(df((4L, "d", "y")), partitionBy = Seq("part"))
    val dataM2 = manifestPaths(0)
    assert(dataM1.subsetOf(dataM2), s"$dataM1 vs $dataM2")
    assert((dataM2 -- dataM1).nonEmpty, "append must add its own manifest")
    assert(manifestPaths(1) == delM1)
    assert(deleteEntriesOf(dir).map(_.get("data_file")
      .asInstanceOf[GenericRecord].get("file_path").toString).toSet == delF1)
    // a second DML re-buckets only what changed; content stays exact
    t.delete(col("id") === 2L)
    val delF3 = deleteEntriesOf(dir)
    assert(delF3.nonEmpty)
    val hconf = spark.sessionState.newHadoopConf()
    val decoded = delF3.map { e =>
      val d = e.get("data_file").asInstanceOf[GenericRecord]
      IcebergPuffin.readDvBitmap(
        new org.apache.hadoop.fs.Path(d.get("file_path").toString), hconf,
        d.get("content_offset").asInstanceOf[Long],
        d.get("content_size_in_bytes").asInstanceOf[Long]).cardinality
    }.sum
    assert(decoded == 2L, s"two deleted rows total, got $decoded")
    assert(t.toDF.select("id").collect().map(_.getLong(0)).toSet ==
      Set(3L, 4L, 5L))
  }

  test("format v3 flip from v2 rewrites the manifest set once, with lineage") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = df((0L, "x", "p")).schema.json,
      partitionColumns = Seq("part"),
      configuration = Map(
        "delta.enableRowTracking" -> "true",
        "delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, Op.CreateTable)
    t.write(df((1L, "a", "x"), (2L, "b", "x")), partitionBy = Seq("part"))
    val metaV2 = currentMeta(dir)
    assert(metaV2.get("format-version").asInt == 2)
    val dataM1 = currentManifests(metaV2)
      .map(_.get("manifest_path").toString).toSet
    // flip the format: the next generation must NOT reuse v2 manifests
    // (they lack first_row_id), and everything comes out v3
    val log = t.deltaLog
    val txn2 = log.startTransaction()
    val md = log.update().metadata
    txn2.updateMetadata(md.copy(configuration =
      md.configuration + ("graft.iceberg.formatVersion" -> "3")))
    txn2.commit(Nil, Op.SetTableProperties)
    val metaV3 = currentMeta(dir)
    assert(metaV3.get("format-version").asInt == 3)
    assert(metaV3.get("next-row-id").asLong >= 2)
    val dataM2 = currentManifests(metaV3)
      .map(_.get("manifest_path").toString).toSet
    assert((dataM2 & dataM1).isEmpty,
      s"v2 manifests must not be reused across the flip: $dataM2 vs $dataM1")
    dataEntriesOf(dir).foreach { e =>
      val d = e.get("data_file").asInstanceOf[GenericRecord]
      assert(d.get("first_row_id") != null, s"missing first_row_id: $d")
    }
  }

  test("format v3 requires row tracking — loud at the enablement commit") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    val ex = intercept[IllegalArgumentException] {
      txn.updateMetadata(Metadata(
        schemaString = df((0L, "x", "p")).schema.json,
        configuration = Map(
          "graft.iceberg.formatVersion" -> "3",
          "delta.universalFormat.enabledFormats" -> "iceberg")))
      txn.commit(Nil, Op.CreateTable)
    }
    assert(ex.getMessage.contains("enableRowTracking"), ex.getMessage)
    val dir2 = tmp()
    val t2 = DeltaTable.forPath(spark, dir2)
    val txn2 = t2.deltaLog.startTransaction()
    val ex2 = intercept[IllegalArgumentException] {
      txn2.updateMetadata(Metadata(
        schemaString = df((0L, "x", "p")).schema.json,
        configuration = Map(
          "graft.iceberg.formatVersion" -> "4",
          "delta.universalFormat.enabledFormats" -> "iceberg")))
      txn2.commit(Nil, Op.CreateTable)
    }
    assert(ex2.getMessage.contains("must be 2 or 3"), ex2.getMessage)
  }

  test("CONVERT FROM ICEBERG v3: zero-copy — descriptors point into the Puffin file") {
    val dir = tmp()
    val t = mkV3(dir)
    // one file per partition, so the delete leaves live rows to mask
    t.write(df((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")).coalesce(1),
      partitionBy = Seq("part"))
    t.delete(col("id") === 1L)
    t.write(df((4L, "d", "y")), partitionBy = Seq("part"))
    // drop the Delta identity; a pure v3 Iceberg table remains (the
    // original table's own .bin payloads legitimately stay on disk —
    // the zero-copy property is that convert writes NO NEW ones)
    val logDir = new java.io.File(dir, "_delta_log")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(logDir)
    def binFiles(): Set[String] = {
      val d0 = new java.io.File(dir, "_deletion_vectors")
      if (!d0.exists()) Set.empty else d0.listFiles().map(_.getName).toSet
    }
    val binsBefore = binFiles()
    val t2 = DeltaTable.convertFromIceberg(spark, dir)
    val snap = t2.deltaLog.update()
    val dvd = snap.allFiles.filter(_.deletionVector != null)
    assert(dvd.size == 1)
    dvd.foreach { a =>
      assert(a.deletionVector.storageType == "p",
        s"zero-copy adoption must reference the blob in place: ${a.deletionVector}")
      assert(a.deletionVector.pathOrInlineDv.endsWith(".puffin"))
    }
    // nothing was re-encoded
    assert(binFiles() == binsBefore)
    assert(t2.toDF.select("id", "v", "part").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet ==
      Set((2L, "b", "x"), (3L, "c", "y"), (4L, "d", "y")))
  }

  test("re-sync v3: DV changes re-attach zero-copy Puffin descriptors") {
    val dir = tmp()
    val t = mkV3(dir)
    // one file per partition, so the delete leaves live rows to mask
    t.write(df((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")).coalesce(1),
      partitionBy = Seq("part")) // Iceberg snapshot 2 (create was 1)
    t.delete(col("id") === 1L) // snapshot 3: DV appears
    t.write(df((4L, "d", "y")), partitionBy = Seq("part")) // snapshot 4
    val logDir = new java.io.File(dir, "_delta_log")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(logDir)
    def binFiles(): Set[String] = {
      val d0 = new java.io.File(dir, "_deletion_vectors")
      if (!d0.exists()) Set.empty else d0.listFiles().map(_.getName).toSet
    }
    val binsBefore = binFiles()
    // adopt the PRE-DELETE snapshot, then re-sync to current: the diff
    // must attach the DV (zero-copy) and add the appended file
    val t2 = DeltaTable.convertFromIceberg(spark, dir, asOfSnapshotId = Some(2L))
    assert(t2.toDF.count() == 3)
    assert(t2.deltaLog.update().allFiles.forall(_.deletionVector == null))
    val t3 = DeltaTable.convertFromIceberg(spark, dir)
    val snap = t3.deltaLog.update()
    val dvd = snap.allFiles.filter(_.deletionVector != null)
    assert(dvd.size == 1)
    assert(dvd.head.deletionVector.storageType == "p" &&
      dvd.head.deletionVector.pathOrInlineDv.endsWith(".puffin"),
      dvd.head.deletionVector.toString)
    // the re-sync decoded blobs read-only for the diff; nothing re-encoded
    assert(binFiles() == binsBefore)
    assert(t3.toDF.select("id").collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L, 4L))
    // same-snapshot re-sync is a no-op
    val v = t3.deltaLog.update().version
    DeltaTable.convertFromIceberg(spark, dir)
    assert(DeltaTable.forPath(spark, dir).deltaLog.update().version == v)
  }

  test("CONVERT FROM ICEBERG v3 imports row lineage; DML continues above the mark") {
    val dir = tmp()
    val t = mkV3(dir)
    t.write(df((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")),
      partitionBy = Seq("part"))
    t.delete(col("id") === 1L)
    t.write(df((4L, "d", "y")), partitionBy = Seq("part"))
    val orig = t.deltaLog.update()
    def leaf(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val origIds: Map[String, Long] =
      orig.allFiles.map(a => leaf(a.path) -> a.baseRowId.get).toMap
    val origHwm = RowTracking.highWaterMark(orig.domainMetadata)
    val origRows = t.toDFWithRowIds.select("id", "row_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val logDir = new java.io.File(dir, "_delta_log")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(logDir)
    val t2 = DeltaTable.convertFromIceberg(spark, dir)
    val snap = t2.deltaLog.update()
    // adoption enabled row tracking and preserved every file's identity
    assert(RowTracking.enabled(snap.metadata))
    assert(snap.allFiles.map(a => leaf(a.path) -> a.baseRowId.get).toMap
      == origIds)
    assert(snap.allFiles.forall(_.defaultRowCommitVersion.contains(0L)),
      "adopted files get the convert commit's version stamped")
    assert(RowTracking.highWaterMark(snap.domainMetadata) == origHwm,
      "high-water mark must seed from the metadata's next-row-id")
    // row ids are the SAME rows the original table served (DV mask intact)
    assert(t2.toDFWithRowIds.select("id", "row_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == origRows)
    // post-convert DML assigns ABOVE the imported mark — the collision
    // the explicit domain-metadata import exists to prevent
    t2.write(df((5L, "e", "x")), partitionBy = Seq("part"))
    val after = t2.deltaLog.update()
    val fresh = after.allFiles.filter(a => !origIds.contains(leaf(a.path)))
    assert(fresh.size == 1 && fresh.head.baseRowId.exists(_ > origHwm),
      s"fresh ids must start above $origHwm: ${fresh.map(_.baseRowId)}")
  }

  test("re-sync v3 carries foreign row lineage; changed files keep their ids") {
    val dir = tmp()
    val t = mkV3(dir)
    // one file per partition, so the delete leaves live rows to mask
    t.write(df((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")).coalesce(1),
      partitionBy = Seq("part")) // Iceberg snapshot 2
    t.delete(col("id") === 1L) // snapshot 3: DV on x's file
    t.write(df((4L, "d", "y")), partitionBy = Seq("part")) // snapshot 4
    val logDir = new java.io.File(dir, "_delta_log")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(logDir)
    def leaf(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    // the foreign truth: first_row_id per live data file at the current
    // snapshot, and next-row-id from the metadata
    val fridByLeaf: Map[String, Long] = dataEntriesOf(dir).map { e =>
      val d0 = e.get("data_file").asInstanceOf[GenericRecord]
      leaf(d0.get("file_path").toString) ->
        d0.get("first_row_id").asInstanceOf[Long]
    }.toMap
    val nextRowId = currentMeta(dir).get("next-row-id").asLong
    val t2 = DeltaTable.convertFromIceberg(spark, dir, asOfSnapshotId = Some(2L))
    val idsAt2: Map[String, Long] = t2.deltaLog.update().allFiles
      .map(a => leaf(a.path) -> a.baseRowId.get).toMap
    val t3 = DeltaTable.convertFromIceberg(spark, dir) // re-sync to current
    val snap = t3.deltaLog.update()
    val idsNow = snap.allFiles.map(a => leaf(a.path) -> a.baseRowId.get).toMap
    // every file matches the Iceberg manifests' lineage — the DV-changed
    // re-add preserved its id, the new foreign file imported its own
    assert(idsNow == fridByLeaf, s"$idsNow vs $fridByLeaf")
    idsAt2.foreach { case (l, id) =>
      assert(idsNow.get(l).contains(id), s"file $l changed id across re-sync")
    }
    assert(RowTracking.highWaterMark(snap.domainMetadata) == nextRowId - 1)
  }

  test("re-sync refuses lineage onto a table adopted WITHOUT lineage") {
    // row tracking enabled AFTER a non-lineage adoption assigns local
    // ids from 0; a later re-sync must NOT stamp foreign first_row_ids
    // (they could collide below the high-water mark) — gated on the
    // persisted LineageMarkerKey, not on row tracking being enabled
    val dir = tmp()
    val t = mkV3(dir)
    t.write(df((1L, "a", "x"), (2L, "b", "x")), partitionBy = Seq("part"))
    val metaDir = new java.io.File(dir, "metadata")
    val hintA = new String(Files.readAllBytes(
      metaDir.toPath.resolve("version-hint.text"))).trim
    t.write(df((3L, "c", "y")), partitionBy = Seq("part"))
    val hintB = new String(Files.readAllBytes(
      metaDir.toPath.resolve("version-hint.text"))).trim
    assert(hintA != hintB)
    // strip next-row-id from snapshot A's metadata: the initial adoption
    // sees a v3 table with no lineage to import
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val vA = metaDir.toPath.resolve(s"v$hintA.metadata.json")
    val rootA = mapper.readTree(Files.readAllBytes(vA))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    rootA.remove("next-row-id")
    Files.deleteIfExists(metaDir.toPath.resolve(s".v$hintA.metadata.json.crc"))
    Files.write(vA, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(rootA))
    Files.deleteIfExists(metaDir.toPath.resolve(".version-hint.text.crc"))
    Files.write(metaDir.toPath.resolve("version-hint.text"),
      hintA.getBytes("UTF-8"))
    val logDir = new java.io.File(dir, "_delta_log")
    Files.walk(logDir.toPath).iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists(_))
    val t2 = DeltaTable.convertFromIceberg(spark, dir)
    val snapA = t2.deltaLog.update()
    assert(!snapA.metadata.configuration.contains(
      IcebergMetadata.LineageMarkerKey), "non-lineage adoption, no marker")
    assert(!RowTracking.enabled(snapA.metadata))
    assert(snapA.allFiles.forall(_.baseRowId.isEmpty))
    // enable row tracking Delta-side and assign LOCAL ids from 0
    val txn2 = t2.deltaLog.startTransaction()
    txn2.updateMetadata(txn2.metadata.copy(configuration =
      txn2.metadata.configuration + ("delta.enableRowTracking" -> "true")))
    txn2.commit(Nil, Op.SetTableProperties)
    t2.backfillRowIds()
    val localHwm = RowTracking.highWaterMark(t2.deltaLog.update().domainMetadata)
    assert(localHwm >= 0L, "backfill must have assigned local ids")
    // re-sync to snapshot B (which HAS next-row-id + first_row_ids):
    // lineage import must be refused — marker absent
    Files.deleteIfExists(metaDir.toPath.resolve(".version-hint.text.crc"))
    Files.write(metaDir.toPath.resolve("version-hint.text"),
      hintB.getBytes("UTF-8"))
    val t3 = DeltaTable.convertFromIceberg(spark, dir)
    val snapB = t3.deltaLog.update()
    assert(!snapB.metadata.configuration.contains(
      IcebergMetadata.LineageMarkerKey))
    def leaf(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val fridByLeaf: Map[String, Long] = dataEntriesOf(dir).flatMap { e =>
      val d0 = e.get("data_file").asInstanceOf[GenericRecord]
      Option(d0.get("first_row_id")).map(v =>
        leaf(d0.get("file_path").toString) -> v.asInstanceOf[Long])
    }.toMap
    // the re-synced NEW file got a fresh local id above the local mark,
    // not its foreign first_row_id
    val newFiles = snapB.allFiles.filter(a =>
      !snapA.allFiles.exists(_.path == a.path))
    assert(newFiles.nonEmpty)
    newFiles.foreach { a =>
      assert(a.baseRowId.exists(_ > localHwm),
        s"fresh local id above $localHwm expected, got ${a.baseRowId}")
      val frid = fridByLeaf.get(leaf(a.path))
      assert(frid.isEmpty || !a.baseRowId.contains(frid.get) ||
        frid.get > localHwm,
        s"foreign frid $frid must not be stamped below the local mark")
    }
  }

  test("mirrorFromIceberg: out-of-place, source untouched, re-sync remembers the source") {
    val src = tmp()
    val tgt = tmp()
    val t = mkV3(src)
    // one file per partition, so the delete leaves live rows to mask
    t.write(df((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")).coalesce(1),
      partitionBy = Seq("part")) // Iceberg snapshot 2
    t.delete(col("id") === 1L) // snapshot 3: DV
    t.write(df((4L, "d", "y")), partitionBy = Seq("part")) // snapshot 4
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(src, "_delta_log"))
    def listing(): Set[(String, Long)] = {
      def walk(f: java.io.File): Seq[(String, Long)] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq((f.getPath, f.length()))
      walk(new java.io.File(src)).toSet
    }
    val before = listing()
    // mirror the pre-delete snapshot into a SEPARATE directory
    val m = DeltaTable.mirrorFromIceberg(spark, src, tgt,
      asOfSnapshotId = Some(2L))
    assert(m.toDF.select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
    val snap0 = m.deltaLog.update()
    assert(snap0.allFiles.forall(a =>
      (a.path.startsWith("/") || a.path.startsWith("file:")) &&
        a.path.contains(src)),
      s"mirror AddFiles must be absolute paths into the source: " +
        snap0.allFiles.map(_.path))
    assert(snap0.allFiles.forall(_.baseRowId.isDefined),
      "v3 lineage imports out-of-place too")
    // re-sync WITHOUT re-supplying the source — remembered in config
    val m2 = DeltaTable.convertFromIceberg(spark, tgt)
    assert(m2.toDF.select("id").collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L, 4L))
    val snap = m2.deltaLog.update()
    val dvd = snap.allFiles.filter(_.deletionVector != null)
    assert(dvd.size == 1 && dvd.head.deletionVector.storageType == "p" &&
      dvd.head.deletionVector.pathOrInlineDv.contains(src),
      s"mirror DV must be a zero-copy reference into the source: $dvd")
    // the property the API exists for: not a byte under the source
    assert(listing() == before, "mirror must not write under the source")
    // and the target holds only the Delta log
    assert(new java.io.File(tgt).listFiles().map(_.getName).toSet ==
      Set("_delta_log"))
    // a different source refuses the retarget
    val other = tmp()
    val t2 = mkV3(other)
    t2.write(df((9L, "z", "x")), partitionBy = Seq("part"))
    rm(new java.io.File(other, "_delta_log"))
    val e = intercept[IllegalArgumentException] {
      DeltaTable.mirrorFromIceberg(spark, other, tgt)
    }
    assert(e.getMessage.contains("mirror source mismatch"))
    // same-snapshot re-sync is a no-op
    val v = m2.deltaLog.update().version
    DeltaTable.convertFromIceberg(spark, tgt)
    assert(DeltaTable.forPath(spark, tgt).deltaLog.update().version == v)
  }

  test("OPTIMIZE on a mirror localizes files into the target; source untouched") {
    val src = tmp()
    val tgt = tmp()
    val t = mkV3(src)
    // two files per partition, so the bin-pack rewrites (= localizes) all
    t.write(df((1L, "a", "x"), (4L, "d", "y")), partitionBy = Seq("part"))
    t.write(df((2L, "b", "x"), (3L, "c", "y")), partitionBy = Seq("part"))
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(src, "_delta_log"))
    def listing(): Set[(String, Long)] = {
      def walk(f: java.io.File): Seq[(String, Long)] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq((f.getPath, f.length()))
      walk(new java.io.File(src)).toSet
    }
    val before = listing()
    val m = DeltaTable.mirrorFromIceberg(spark, src, tgt)
    // bin-packing the mirror writes NEW files under the TARGET and
    // tombstones the absolute source references — incremental
    // materialization: the mirror becomes self-contained without a
    // deep-clone-sized copy step, and the source never changes
    m.compact()
    val snap = m.deltaLog.update()
    assert(snap.allFiles.nonEmpty &&
      snap.allFiles.forall(a => !a.path.startsWith("/") &&
        !a.path.startsWith("file:")),
      s"post-OPTIMIZE files must be local (relative) to the target: " +
        snap.allFiles.map(_.path))
    assert(m.toDF.select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 4L))
    assert(listing() == before, "OPTIMIZE must not touch the source")
    // VACUUM clears nothing under the source either: the tombstoned
    // absolute paths are outside the target root and are skipped
    m.vacuum(retentionMillis = Some(0L))
    assert(listing() == before, "VACUUM must skip outside-root tombstones")
    // the localized mirror still reads correctly
    assert(DeltaTable.forPath(spark, tgt).toDF.count() == 4)
  }

  test("variant columns: v3 declares the type, v2 refuses, convert reads it back") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{parse_json, to_json, variant_get}
    val vdf = Seq(
      (1L, """{"k": 2, "s": "x"}""", "x"),
      (2L, """{"k": 4, "nested": {"c": [1, 2]}}""", "x"),
      (3L, """{"k": 6}""", "y"))
      .toDF("id", "j", "part")
      .select($"id", parse_json($"j").as("payload"), $"part")
    // v2 UniForm over a variant column refuses at the metadata commit
    val dirV2 = tmp()
    val e = intercept[UnsupportedOperationException] {
      val t0 = DeltaTable.forPath(spark, dirV2)
      val txn = t0.deltaLog.startTransaction()
      txn.updateMetadata(Metadata(
        schemaString = vdf.schema.json,
        partitionColumns = Seq("part"),
        configuration = Map(
          "delta.universalFormat.enabledFormats" -> "iceberg")))
      txn.commit(Nil, Op.CreateTable)
    }
    assert(e.getMessage.contains("formatVersion=3"))
    // on-demand generation over a plain variant table refuses too
    val dirPlain = tmp()
    val tp = DeltaTable.forPath(spark, dirPlain)
    tp.write(vdf)
    val e2 = intercept[UnsupportedOperationException] {
      IcebergMetadata.generate(spark, tp.deltaLog, tp.deltaLog.update())
    }
    assert(e2.getMessage.contains("variant"))
    // v3 declares the type faithfully and the full round trip reads back
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = vdf.schema.json,
      partitionColumns = Seq("part"),
      configuration = Map(
        "delta.enableRowTracking" -> "true",
        "graft.iceberg.formatVersion" -> "3",
        "delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, Op.CreateTable)
    t.write(vdf, partitionBy = Seq("part"))
    val schemaNode = currentMeta(dir).get("schemas").elements().asScala
      .toSeq.last
    val payloadType = schemaNode.get("fields").elements().asScala
      .find(_.get("name").asText == "payload").get.get("type").asText
    assert(payloadType == "variant", s"v3 schema must declare variant: $payloadType")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(dir, "_delta_log"))
    val t2 = DeltaTable.convertFromIceberg(spark, dir)
    val snap = t2.deltaLog.update()
    assert(snap.metadata.schema("payload").dataType ==
      org.apache.spark.sql.types.VariantType)
    assert(snap.protocol.readerFeatures.exists(_.contains("variantType")),
      s"adopted variant table must carry the feature: ${snap.protocol}")
    // typed extraction through the adopted scan — the binary layout
    // survived the round trip untouched
    assert(t2.toDF.select(variant_get($"payload", "$.k", "bigint"))
      .collect().map(_.getLong(0)).toSet == Set(2L, 4L, 6L))
    assert(t2.toDF.filter($"id" === 2L)
      .select(to_json($"payload")).head().getString(0)
      .contains(""""c":[1,2]"""))
  }

  test("re-sync tags pre-existing files when a defaulted column arrives between syncs") {
    val dir = tmp()
    val t = mkV3(dir)
    import spark.implicits._
    t.write(Seq((1L, "a", "x"), (2L, "b", "x")).toDF("id", "v", "part"),
      partitionBy = Seq("part")) // snapshot 2: files lack `bonus`
    t.addColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("bonus",
        org.apache.spark.sql.types.LongType))))
    t.write(Seq((3L, "c", "y", 30L)).toDF("id", "v", "part", "bonus"),
      partitionBy = Seq("part")) // snapshot 4 (addColumns was 3)
    // stamp the v3 defaults a foreign writer records at ADD COLUMN
    val metaDir = new java.io.File(dir, "metadata")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val hint = new String(Files.readAllBytes(
      metaDir.toPath.resolve("version-hint.text"))).trim
    val mpath = metaDir.toPath.resolve(s"v$hint.metadata.json")
    val root = mapper.readTree(Files.readAllBytes(mpath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.get("schemas").elements().asScala.foreach { sch =>
      sch.get("fields").elements().asScala
        .filter(_.get("name").asText == "bonus")
        .foreach(_.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          .put("initial-default", 42L))
    }
    Files.deleteIfExists(metaDir.toPath.resolve(s".v$hint.metadata.json.crc"))
    Files.write(mpath,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(dir, "_delta_log"))
    // adopt the PRE-EVOLUTION snapshot: no bonus column yet
    val t2 = DeltaTable.convertFromIceberg(spark, dir, asOfSnapshotId = Some(2L))
    assert(!t2.toDF.columns.contains("bonus"))
    // re-sync to the head: the schema gains bonus WITH its default, and
    // the already-adopted files must be re-tagged — their rows read 42
    DeltaTable.convertFromIceberg(spark, dir)
    val t3 = DeltaTable.forPath(spark, dir)
    val rows = t3.toDF.select("id", "bonus").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(rows == Map(1L -> 42L, 2L -> 42L, 3L -> 30L), rows)
    // the delta.feature key is absorbed into the PROTOCOL at commit
    val prot = t3.deltaLog.update().protocol
    assert(prot.readerFeatures.exists(_.contains(ReadDefaults.FeatureName)),
      prot.toString)
    // the pre-evolution files carry the refreshed tag
    val tagged = t3.deltaLog.update().allFiles
      .filter(f => Option(f.tags).exists(_.contains(ReadDefaults.MissingTag)))
    assert(tagged.size == 2, // both part=x files physically lack bonus
      t3.deltaLog.update().allFiles.map(f => f.path -> f.tags).mkString("; "))
  }

  test("initial-default on a physically-present column never rewrites stored values") {
    // r19 (A85 × A64): initial-default adoption is supported as a
    // PER-FILE read-time fill for files that physically LACK the
    // column. A column present in every file must read its STORED
    // values — the default never leaks over real data (the old
    // pre-r19 behavior was a loud refusal; the oracle
    // delta_convert_defaults covers the fill path itself).
    val dir = tmp()
    val t = mkV3(dir)
    t.write(df((1L, "a", "x")), partitionBy = Seq("part"))
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(dir, "_delta_log"))
    // hand-inject the v3 read-default a foreign writer would have set
    val hconf = spark.sessionState.newHadoopConf()
    val metaDir = new org.apache.hadoop.fs.Path(dir, "metadata")
    val fsys = metaDir.getFileSystem(hconf)
    val hint = {
      val in = fsys.open(new org.apache.hadoop.fs.Path(metaDir, "version-hint.text"))
      try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
    }
    val mp = new org.apache.hadoop.fs.Path(metaDir, s"v$hint.metadata.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = {
      val in = fsys.open(mp)
      try mapper.readTree(in) finally in.close()
    }
    root.get("schemas").elements().asScala.foreach { sch =>
      sch.get("fields").elements().asScala
        .filter(_.get("name").asText == "v")
        .foreach(_.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          .put("initial-default", "missing"))
    }
    val out = fsys.create(mp, true)
    try out.write(mapper.writeValueAsBytes(root)) finally out.close()
    val t2 = DeltaTable.convertFromIceberg(spark, dir)
    assert(t2.toDF.select("v").collect().map(_.getString(0)).toSeq ==
      Seq("a"), "stored values must win over initial-default")
  }

  test("v2 adoption does not fabricate row lineage") {
    val dir = tmp()
    val t = mkUniform(dir)
    t.write(df((1L, "a", "x"), (2L, "b", "y")), partitionBy = Seq("part"))
    val logDir = new java.io.File(dir, "_delta_log")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(logDir)
    val t2 = DeltaTable.convertFromIceberg(spark, dir)
    val snap = t2.deltaLog.update()
    assert(!RowTracking.enabled(snap.metadata))
    assert(snap.allFiles.forall(_.baseRowId.isEmpty))
  }

  /** Iceberg refs (spec v2, Table Metadata `refs`): adopt a NAMED branch
    * or tag, and keep a ref-pinned mirror following the branch head on
    * every re-sync instead of `current-snapshot-id`.
    */
  test("adopt a named Iceberg ref; re-sync follows the pinned branch, never main") {
    val dir = tmp()
    val t = mkUniform(dir)
    t.write(df((1L, "a", "x"), (2L, "b", "x")), partitionBy = Seq("part")) // snap 2
    t.write(df((3L, "c", "y")), partitionBy = Seq("part"))                 // snap 3
    t.write(df((4L, "d", "y")), partitionBy = Seq("part"))                 // snap 4 = main
    val metaDir = new java.io.File(dir, "metadata")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // stamp `refs` like a branching writer would: main at the head,
    // `audit` a trailing branch, `v1.0` a tag
    def editRefs(auditHead: Long): Unit = {
      val hint = new String(Files.readAllBytes(
        metaDir.toPath.resolve("version-hint.text"))).trim
      val mpath = metaDir.toPath.resolve(s"v$hint.metadata.json")
      val root = mapper.readTree(Files.readAllBytes(mpath))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val refs = root.putObject("refs")
      refs.putObject("main")
        .put("snapshot-id", root.get("current-snapshot-id").asLong)
        .put("type", "branch")
      refs.putObject("audit").put("snapshot-id", auditHead).put("type", "branch")
      refs.putObject("v1.0").put("snapshot-id", 3L).put("type", "tag")
      Files.deleteIfExists(metaDir.toPath.resolve(s".v$hint.metadata.json.crc"))
      Files.write(mpath,
        mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    }
    editRefs(2L)
    val logDir = new java.io.File(dir, "_delta_log")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(logDir)
    def ids(tt: DeltaTable): Set[Long] =
      tt.toDF.select("id").collect().map(_.getLong(0)).toSet
    // unknown ref → loud refusal naming the available refs
    val e1 = intercept[IllegalArgumentException] {
      DeltaTable.convertFromIceberg(spark, dir, asOfRef = Some("nope"))
    }
    assert(e1.getMessage.contains("audit"), e1.getMessage)
    // snapshot-id and ref are mutually exclusive
    intercept[IllegalArgumentException] {
      DeltaTable.convertFromIceberg(spark, dir,
        asOfSnapshotId = Some(2L), asOfRef = Some("audit"))
    }
    // adopt the `audit` branch: sees snapshot 2's rows only
    val t2 = DeltaTable.convertFromIceberg(spark, dir, asOfRef = Some("audit"))
    assert(ids(t2) == Set(1L, 2L))
    assert(t2.deltaLog.update().metadata.configuration
      .get(IcebergMetadata.RefMarkerKey).contains("audit"))
    // re-sync with no args while main is ahead: the pin holds — no-op
    val v0 = t2.deltaLog.update().version
    DeltaTable.convertFromIceberg(spark, dir)
    assert(DeltaTable.forPath(spark, dir).deltaLog.update().version == v0,
      "re-sync must follow the pinned branch, not current-snapshot-id")
    // the writer advances the branch to snapshot 3; re-sync follows it
    // (and still never reaches main's snapshot 4)
    editRefs(3L)
    DeltaTable.convertFromIceberg(spark, dir)
    val t3 = DeltaTable.forPath(spark, dir)
    assert(ids(t3) == Set(1L, 2L, 3L))
    assert(t3.deltaLog.update().metadata.configuration
      .get(IcebergMetadata.RefMarkerKey).contains("audit"))
    // re-syncing against a DIFFERENT ref would silently retarget — refuse
    val e2 = intercept[IllegalArgumentException] {
      DeltaTable.convertFromIceberg(spark, dir, asOfRef = Some("main"))
    }
    assert(e2.getMessage.contains("pinned"), e2.getMessage)
    // ...and so would an explicit snapshot id on the pinned mirror
    val e3 = intercept[IllegalArgumentException] {
      DeltaTable.convertFromIceberg(spark, dir, asOfSnapshotId = Some(4L))
    }
    assert(e3.getMessage.contains("pinned"), e3.getMessage)
  }

  test("published tag protects its snapshot from expiry; drop releases it; VACUUM wins") {
    val dir = tmp()
    // zero retention: every generation expires non-current snapshots
    // unless a ref protects them
    val t0 = DeltaTable.forPath(spark, dir)
    val txn = t0.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = df((0L, "x", "p")).schema.json,
      partitionColumns = Seq("part"),
      configuration = Map(
        "delta.universalFormat.enabledFormats" -> "iceberg",
        "delta.logRetentionDuration" -> "interval 0 seconds")))
    txn.commit(Nil, Op.CreateTable)
    t0.write(df((1L, "a", "x")), partitionBy = Seq("part")) // snapshot 2
    Thread.sleep(30)
    t0.createIcebergRef("v1.0") // tag on snapshot 2 (the current head)
    def snapIds(): Set[Long] = currentMeta(dir).get("snapshots")
      .elements().asScala.map(_.get("snapshot-id").asLong).toSet
    def refNames(): Set[String] = Option(currentMeta(dir).get("refs"))
      .map(_.fieldNames().asScala.toSet).getOrElse(Set.empty)
    assert(refNames() == Set("main", "v1.0"), refNames())
    assert(currentMeta(dir).get("refs").get("v1.0")
      .get("snapshot-id").asLong == 2L)
    Thread.sleep(30)
    t0.write(df((2L, "b", "y")), partitionBy = Seq("part"))
    // zero retention dropped every unprotected old snapshot, but the
    // tagged snapshot 2 survives
    assert(snapIds().contains(2L),
      s"tagged snapshot must survive expiry: ${snapIds()}")
    assert(!snapIds().contains(3L), // the ref commit's snapshot expired
      s"unprotected snapshots must expire at zero retention: ${snapIds()}")
    // the tag is adoptable: mirror pinned to it sees batch 1 only
    val tgt = java.nio.file.Files.createTempDirectory("graft-tag-adopt").toString
    val m = DeltaTable.mirrorFromIceberg(spark, dir, tgt,
      asOfRef = Some("v1.0"))
    assert(m.toDF.select("id").collect().map(_.getLong(0)).toSet == Set(1L))
    // drop the tag: the next generation expires snapshot 2
    t0.dropIcebergRef("v1.0")
    Thread.sleep(30)
    t0.write(df((3L, "c", "y")), partitionBy = Seq("part"))
    assert(!snapIds().contains(2L),
      s"dropped tag must release its snapshot: ${snapIds()}")
    assert(refNames() == Set("main"))
    // a live tag under VACUUM's forced expiry drops instead of dangling
    t0.createIcebergRef("v2.0")
    IcebergMetadata.generate(spark, t0.deltaLog, t0.deltaLog.update(), Some(0L))
    assert(refNames() == Set("main"), refNames())
  }

  test("regeneration carries foreign refs forward while their snapshot is retained") {
    val dir = tmp()
    val t = mkUniform(dir)
    t.write(df((1L, "a", "x")), partitionBy = Seq("part")) // snapshot 2
    // an admin/external tool stamps a branch ref
    val metaDir = new java.io.File(dir, "metadata")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val hint = new String(Files.readAllBytes(
      metaDir.toPath.resolve("version-hint.text"))).trim
    val mpath = metaDir.toPath.resolve(s"v$hint.metadata.json")
    val root = mapper.readTree(Files.readAllBytes(mpath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.putObject("refs").putObject("audit")
      .put("snapshot-id", 2L).put("type", "branch")
    Files.deleteIfExists(metaDir.toPath.resolve(s".v$hint.metadata.json.crc"))
    Files.write(mpath,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    // a graft commit regenerates the metadata: audit must survive and
    // main must track the new head
    t.write(df((2L, "b", "y")), partitionBy = Seq("part")) // snapshot 3
    val meta2 = currentMeta(dir)
    val refs = meta2.get("refs")
    assert(refs.get("audit") != null &&
      refs.get("audit").get("snapshot-id").asLong == 2L,
      "foreign ref must carry forward through regeneration")
    assert(refs.get("main").get("snapshot-id").asLong ==
      meta2.get("current-snapshot-id").asLong)
  }

  test("re-sync strips stale imported NDV config when the data changed") {
    val src = tmp()
    val t = mkUniform(src)
    t.write(df((1L, "a", "x"), (2L, "b", "x")), partitionBy = Seq("part"))
    t.analyzeNdv(columns = Seq("id"))
    // mirror the table out of place: NDV imports (one replace hop)
    val tgt = Files.createTempDirectory("graft-ndv-mirror").toString
    val m = DeltaTable.mirrorFromIceberg(spark, src, tgt)
    assert(m.deltaLog.update().metadata.configuration
      .contains("graft.stats.ndv.id"))
    // the foreign writer appends: the analyzed counts no longer
    // describe the data — a re-sync must DROP the stale keys, not
    // serve ndv=2 for 3 distinct ids
    t.write(df((3L, "c", "y")), partitionBy = Seq("part"))
    DeltaTable.mirrorFromIceberg(spark, src, tgt)
    val conf2 = DeltaTable.forPath(spark, tgt).deltaLog.update()
      .metadata.configuration
    assert(!conf2.keys.exists(_.startsWith("graft.stats.ndv.")), conf2)
  }

  /** NDV statistics interchange (Iceberg spec: Table Statistics +
    * Puffin `apache-datasketches-theta-v1`): analyzeNdv exports, the
    * generator references the file from `statistics` while the snapshot
    * is retained, and adoption imports the ndv properties into config.
    */
  test("analyzeNdv exports Puffin theta statistics; adoption imports NDV config") {
    val dir = tmp()
    val t = mkUniform(dir)
    // 6 distinct ids, 2 distinct v, 2 distinct part
    t.write(df((1L to 6L).map(i => (i, s"v${i % 2}", if (i < 4) "x" else "y")): _*),
      partitionBy = Seq("part"))
    val statsPath = t.analyzeNdv()
    // the post-analyze generation's metadata references the entry
    val meta = currentMeta(dir)
    // the analyze commit changes no data: its snapshot records the
    // `replace` op so incremental consumers skip it
    val curSnap = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong ==
        meta.get("current-snapshot-id").asLong).get
    assert(curSnap.get("summary").get("operation").asText == "replace")
    // the generated metadata carries the spec-recommended main branch ref
    assert(meta.get("refs").get("main").get("snapshot-id").asLong ==
      meta.get("current-snapshot-id").asLong)
    val stats = meta.get("statistics")
    assert(stats != null && stats.size() == 1, "statistics list missing")
    val entry = stats.elements().asScala.next()
    assert(entry.get("statistics-path").asText.endsWith(
      new java.io.File(statsPath.toString).getName))
    assert(entry.get("file-size-in-bytes").asLong ==
      localFile(statsPath.toString).length())
    val statSnapId = entry.get("snapshot-id").asLong
    assert(meta.get("snapshots").elements().asScala
      .exists(_.get("snapshot-id").asLong == statSnapId),
      "statistics must reference a retained snapshot")
    val blobEntries = entry.get("blob-metadata").elements().asScala.toList
    assert(blobEntries.nonEmpty)
    assert(blobEntries.forall(_.get("type").asText ==
      IcebergPuffin.ThetaBlobType))
    // blobs decode: field ids map to schema columns, ndv matches exact
    val hconf = spark.sessionState.newHadoopConf()
    val blobs = IcebergPuffin.readStatsBlobs(
      new org.apache.hadoop.fs.Path(statsPath.toString), hconf)
    val schemaIds = meta.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt == meta.get("current-schema-id").asInt)
      .get.get("fields").elements().asScala
      .map(f => f.get("id").asInt -> f.get("name").asText).toMap
    val ndvByCol = blobs.map { case (fid, ndv, _, _) =>
      schemaIds(fid) -> ndv }.toMap
    assert(ndvByCol == Map("id" -> 6L, "v" -> 2L, "part" -> 2L), ndvByCol)
    // the sketch bodies themselves deserialize (exact mode here)
    blobs.foreach { case (_, ndv, off, len) =>
      val in = new java.io.RandomAccessFile(localFile(statsPath.toString), "r")
      try {
        val body = new Array[Byte](len.toInt)
        in.seek(off); in.readFully(body)
        val (theta, hashes) =
          graft.functions.ThetaSketch.deserializeCompact(body)
        assert(theta == graft.functions.ThetaSketch.MaxTheta)
        assert(hashes.length.toLong == ndv)
      } finally in.close()
    }
    // a further commit keeps carrying the entry (snapshot still retained)
    t.write(df((7L, "v1", "y")), partitionBy = Seq("part"))
    val meta2 = currentMeta(dir)
    assert(meta2.get("statistics") != null &&
      meta2.get("statistics").size() == 1)
    // ---- adoption imports the ndv properties for the analyzed snapshot
    val logDir = new java.io.File(dir, "_delta_log")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(logDir)
    val adopted = DeltaTable.convertFromIceberg(spark, dir,
      asOfSnapshotId = Some(statSnapId))
    val conf2 = adopted.deltaLog.update().metadata.configuration
    assert(conf2.get("graft.stats.ndv.id").contains("6"), conf2)
    assert(conf2.get("graft.stats.ndv.v").contains("2"))
    assert(conf2.get("graft.stats.ndv.part").contains("2"))
  }

  test("incremental ANALYZE merges stored sketches over an append chain; DELETE falls back") {
    val dir = tmp()
    val t = mkUniform(dir)
    t.write(df((1L to 50L).map(i => (i, s"v$i", "x")): _*),
      partitionBy = Seq("part"))
    t.analyzeNdv(columns = Seq("id", "v"))
    def lastMode(): String = {
      val v = t.deltaLog.update().version
      t.deltaLog.commitInfoAt(v).get.operationParameters("mode")
    }
    assert(lastMode() == "full")
    // append a batch with 20 NEW ids and 30 re-inserted ones
    t.write(df(((31L to 80L)).map(i => (i, s"v$i", "y")): _*),
      partitionBy = Seq("part"))
    val nBefore = t.deltaLog.update().allFiles.size
    val p2 = t.analyzeNdv(columns = Seq("id", "v"), incremental = true)
    val m = lastMode()
    assert(m.startsWith("incremental:"), m)
    val scanned = m.stripPrefix("incremental:").toInt
    assert(scanned > 0 && scanned < nBefore,
      s"must scan only the appended files ($m of $nBefore total)")
    // exact mode below k: the merged ndv is the exact distinct count,
    // identical to what a full recompute would produce
    val hconf = spark.sessionState.newHadoopConf()
    val ndv2 = IcebergPuffin.readStatsBlobs(
      new org.apache.hadoop.fs.Path(p2.toString), hconf)
      .map { case (fid, ndv, _, _) => fid -> ndv }.toMap
    val meta = currentMeta(dir)
    val ids = meta.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt == meta.get("current-schema-id").asInt)
      .get.get("fields").elements().asScala
      .map(f => f.get("name").asText -> f.get("id").asInt).toMap
    assert(ndv2(ids("id")) == 80L, ndv2)
    assert(ndv2(ids("v")) == 80L)
    // byte-level: merged sketch == full-recompute sketch (KMV is a pure
    // function of the value set)
    val pFull = t.analyzeNdv(columns = Seq("id", "v"))
    def bodyOf(p: org.apache.hadoop.fs.Path, fid: Int): Seq[Byte] = {
      val b = IcebergPuffin.readStatsBlobs(p, hconf)
        .find(_._1 == fid).get
      IcebergPuffin.readBlobBody(p, hconf, b._3, b._4).toSeq
    }
    val pf = new org.apache.hadoop.fs.Path(pFull.toString)
    val pi = new org.apache.hadoop.fs.Path(p2.toString)
    assert(bodyOf(pf, ids("id")) == bodyOf(pi, ids("id")))
    // a DELETE breaks the append/replace chain: incremental falls back
    t.delete(col("id") === 5L)
    t.analyzeNdv(columns = Seq("id", "v"), incremental = true)
    assert(lastMode() == "full-fallback", lastMode())
  }

  test("the metadata sweep keeps referenced statistics files; expiry drops them") {
    val dir = tmp()
    val t = mkUniform(dir)
    t.write(df((1L, "a", "x")), partitionBy = Seq("part"))
    val statsPath = t.analyzeNdv(columns = Seq("id"))
    val statsName = new java.io.File(statsPath.toString).getName
    def statsOnDisk(): Boolean =
      new java.io.File(new java.io.File(dir, "metadata"), statsName).exists()
    assert(statsOnDisk())
    // enough commits to cross the periodic every-10th-version sweep
    (0 until 10).foreach(i =>
      t.write(df((10L + i, s"v$i", "x")), partitionBy = Seq("part")))
    assert(statsOnDisk(),
      "sweep must keep a statistics file referenced by the metadata")
    assert(currentMeta(dir).get("statistics").size() == 1)
    // expire every non-current snapshot: the entry leaves the metadata;
    // the file becomes an orphan collected by the NEXT sweeping
    // generation (a same-version re-generation never sweeps — VACUUM's
    // contract) — drive commits past the next periodic %10 sweep
    IcebergMetadata.generate(spark, t.deltaLog, t.deltaLog.update(), Some(0L))
    assert(currentMeta(dir).get("statistics") == null,
      "expired snapshot's statistics entry must drop")
    var i = 0
    while (statsOnDisk() && i < 12) {
      t.write(df((100L + i, s"z$i", "x")), partitionBy = Seq("part"))
      i += 1
    }
    assert(!statsOnDisk(), "orphaned statistics file must be swept")
  }

  test("adoption at a snapshot without statistics imports no NDV config") {
    val dir = tmp()
    val t = mkUniform(dir)
    t.write(df((1L, "a", "x")), partitionBy = Seq("part"))
    t.analyzeNdv(columns = Seq("id"))
    t.write(df((2L, "b", "y")), partitionBy = Seq("part"))
    val logDir = new java.io.File(dir, "_delta_log")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(logDir)
    // adopt the HEAD — the data write after ANALYZE breaks the
    // replace-only ancestor chain, so the stale counts must NOT import
    val adopted = DeltaTable.convertFromIceberg(spark, dir)
    val conf = adopted.deltaLog.update().metadata.configuration
    assert(!conf.keys.exists(_.startsWith("graft.stats.ndv.")), conf)
  }

  test("adopt a tag ref; a tag never moves so re-sync stays a no-op") {
    val dir = tmp()
    val t = mkUniform(dir)
    t.write(df((1L, "a", "x")), partitionBy = Seq("part")) // snap 2
    t.write(df((2L, "b", "y")), partitionBy = Seq("part")) // snap 3
    val metaDir = new java.io.File(dir, "metadata")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val hint = new String(Files.readAllBytes(
      metaDir.toPath.resolve("version-hint.text"))).trim
    val mpath = metaDir.toPath.resolve(s"v$hint.metadata.json")
    val root = mapper.readTree(Files.readAllBytes(mpath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.putObject("refs").putObject("rel-1")
      .put("snapshot-id", 2L).put("type", "tag")
    Files.deleteIfExists(metaDir.toPath.resolve(s".v$hint.metadata.json.crc"))
    Files.write(mpath,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    val logDir = new java.io.File(dir, "_delta_log")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(logDir)
    val t2 = DeltaTable.convertFromIceberg(spark, dir, asOfRef = Some("rel-1"))
    assert(t2.toDF.select("id").collect().map(_.getLong(0)).toSet == Set(1L))
    val v0 = t2.deltaLog.update().version
    DeltaTable.convertFromIceberg(spark, dir) // head is snap 3; tag pins 2
    assert(DeltaTable.forPath(spark, dir).deltaLog.update().version == v0)
  }
}
