package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Merge-on-read DELETE via deletion vectors. */
class DeletionVectorSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-dv").toString

  private def dvTable(): DeltaTable = {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val df = Seq(
      (1L, "alice", 10, "x"), (2L, "bob", 20, "x"),
      (3L, "carol", 30, "y"), (4L, "dave", 40, "y"),
      (5L, "erin", 50, "z")).toDF("id", "name", "score", "part")
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = df.schema.json, partitionColumns = Seq("part"),
      configuration = Map("delta.enableDeletionVectors" -> "true")))
    txn.commit(Nil, Op.CreateTable)
    t.write(df.coalesce(1), SaveMode.Append, Seq("part")) // one file per partition
    t
  }

  private def dvFiles(t: DeltaTable): Seq[AddFile] =
    t.snapshot.allFiles.filter(f => DeletionVectors.descriptor(f).isDefined)

  /** One 1000-row file; deletes large enough to exceed the inline
    * threshold, forcing a "u" payload file.
    */
  private def dvBigTable(): DeltaTable = {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val df = spark.range(0, 1000).select($"id", concat(lit("v"), $"id").as("v"))
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = df.schema.json,
      configuration = Map("delta.enableDeletionVectors" -> "true")))
    txn.commit(Nil, Op.CreateTable)
    t.write(df.coalesce(1))
    t
  }

  test("DV delete keeps data files in place and filters rows at read") {
    import spark.implicits._
    val t = dvTable()
    val before = t.snapshot.allFiles.map(_.path).toSet
    val v = t.delete(col("score") >= 40 && col("part") === "y")
    assert(v > 0)
    // same physical files: no rewrite happened
    assert(t.snapshot.allFiles.map(_.path).toSet == before)
    val dvd = dvFiles(t)
    assert(dvd.nonEmpty)
    assert(dvd.forall(_.partitionValues("part") == "y"))
    assert(DeletionVectors.descriptor(dvd.head).get.cardinality > 0)
    // reads apply the DV
    assert(t.toDF.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 5L))
    assert(t.read(col("part") === "y").count() == 1)
    // time travel before the delete still sees all rows
    assert(t.toDF(v - 1).count() == 5)
  }

  test("second DV delete on the same file merges row sets") {
    val t = dvBigTable()
    t.delete(col("id") === 3)
    t.delete(col("id") === 4) // same file
    assert(t.toDF.count() == 998 && t.toDF.filter(col("id").isin(3L, 4L)).count() == 0)
    val d = DeletionVectors.descriptor(dvFiles(t).head).get
    assert(d.cardinality == 2, "merged DV must carry both deleted rows")
  }

  test("DV delete with no live matches is a no-op") {
    val t = dvTable()
    t.delete(col("id") === 3)
    val v = t.snapshot.version
    assert(t.delete(col("id") === 3) == v, "already-deleted rows must not re-commit")
  }

  test("UPDATE on a DV'd table masks old rows and appends new images") {
    val t = dvBigTable()
    t.delete(col("id") === 3) // DV on the one data file
    val before = t.snapshot.allFiles.map(_.path).toSet
    t.update(col("id") === 4, Map("v" -> lit("v44")))
    def check(): Unit = {
      assert(t.toDF.count() == 999 && t.toDF.filter(col("id") === 3).count() == 0)
      assert(t.toDF.filter(col("id") === 4).select("v").head().getString(0) == "v44")
    }
    check()
    // merge-on-read: the old file stays in place, its DV now masks the
    // deleted id=3 AND the pre-update image of id=4; the new image is a
    // fresh appended file
    assert(before.subsetOf(t.snapshot.allFiles.map(_.path).toSet))
    val d = DeletionVectors.descriptor(dvFiles(t).head).get
    assert(d.cardinality == 2)
    // updates must not resurrect deleted rows, before or after compaction
    t.compact()
    assert(dvFiles(t).isEmpty)
    check()
  }

  test("MERGE on a DV'd table neither matches nor resurrects deleted rows") {
    import spark.implicits._
    val t = dvTable()
    t.delete(col("id") === 3)
    val src = Seq((3L, "zombie", 99, "y"), (6L, "frank", 60, "z")).toDF("id", "name", "score", "part")
    t.merge(src, col("t.id") === col("s.id"))
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    // id=3 was deleted -> the source row INSERTS (not-matched), id=6 inserts
    val r = t.toDF.orderBy("id").select("id", "name").as[(Long, String)].collect().toSeq
    assert(r == Seq((1L, "alice"), (2L, "bob"), (3L, "zombie"),
      (4L, "dave"), (5L, "erin"), (6L, "frank")))
  }

  test("MERGE on a DV'd table is merge-on-read: masks only modified rows") {
    import spark.implicits._
    val t = dvTable()
    val before = t.snapshot.allFiles.map(_.path).toSet
    val src = Seq((2L, "bobby", 21, "x"), (6L, "frank", 60, "z"))
      .toDF("id", "name", "score", "part")
    t.merge(src, col("t.id") === col("s.id"))
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    // no data file was rewritten — old images are DV-masked in place
    assert(before.subsetOf(t.snapshot.allFiles.map(_.path).toSet))
    val r = t.toDF.orderBy("id").select("id", "name", "score")
      .as[(Long, String, Int)].collect().toSeq
    assert(r == Seq((1L, "alice", 10), (2L, "bobby", 21), (3L, "carol", 30),
      (4L, "dave", 40), (5L, "erin", 50), (6L, "frank", 60)))
    // only the part=x file (old id=2 image) carries a DV; pass-through
    // files (part=y) are untouched — with whole-file rewrite they'd all
    // have been removed and re-added
    val dvd = dvFiles(t)
    assert(dvd.map(_.partitionValues("part")) == Seq("x"))
    assert(DeletionVectors.descriptor(dvd.head).get.cardinality == 1)
  }

  test("whenNotMatchedBySource on a DV'd table leaves pass-through files in place") {
    import spark.implicits._
    val t = dvTable()
    val before = t.snapshot.allFiles.map(_.path).toSet
    val src = Seq((1L, "alice", 10, "x")).toDF("id", "name", "score", "part")
    t.merge(src, col("t.id") === col("s.id"))
      .whenNotMatchedBySourceDelete(col("t.score") >= 40)
      .execute()
    // target-only rows with score>=40 (ids 4,5) were deleted by masking;
    // every original file keeping a live row is still present (no
    // table-wide rewrite); part=z lost its only row, so its file is removed
    val after = t.snapshot.allFiles.map(_.path).toSet
    val z = before.filter(_.startsWith("part=z/"))
    assert(z.size == 1 && (before -- z).subsetOf(after) && (z & after).isEmpty)
    assert(t.toDF.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("OPTIMIZE materializes deletion vectors and drops descriptors") {
    import spark.implicits._
    val t = dvTable()
    t.delete(col("id") === 3)
    assert(dvFiles(t).nonEmpty)
    t.compact()
    assert(dvFiles(t).isEmpty, "compaction must drop DV descriptors")
    assert(t.toDF.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L, 5L))
    // after materialization a fresh scan needs no DV join at all
    assert(t.snapshot.allFiles.forall(f => DeletionVectors.descriptor(f).isEmpty))
  }

  test("VACUUM sweeps orphaned DV sidecars but keeps referenced ones") {
    val t = dvBigTable()
    t.delete(col("id") < 500) // past the inline threshold -> payload file
    val live = dvFiles(t).flatMap(f => DeletionVectors.descriptor(f)).map(_.pathOrInlineDv)
    assert(live.size == 1)
    // referenced DV survives a vacuum
    t.vacuum(Some(0L))
    val fs = t.deltaLog.dataPath.getFileSystem(spark.sessionState.newHadoopConf())
    val dvDir = new org.apache.hadoop.fs.Path(t.deltaLog.dataPath, "_deletion_vectors")
    assert(fs.listStatus(dvDir).length == 1)
    // compaction materializes the DV -> the sidecar is orphaned -> swept
    t.compact()
    val deleted = t.vacuum(Some(0L))
    assert(deleted.sample.exists(_.contains("_deletion_vectors/")), "orphan DV must be vacuumed")
    assert(!fs.exists(dvDir) || fs.listStatus(dvDir).isEmpty)
    import spark.implicits._
    assert(t.toDF.count() == 500)
    assert(t.toDF.agg(min($"id")).head().getLong(0) == 500L)
  }

  test("VACUUM keeps a DV sidecar that only an unexpired tombstone references") {
    import spark.implicits._
    val t = dvBigTable()
    val v1 = t.delete(col("id") < 500) // payload file
    val sidecar = DeletionVectors.absolutePathOf(t.deltaLog.dataPath,
      DeletionVectors.descriptor(dvFiles(t).head).get)
    val fs = t.deltaLog.dataPath.getFileSystem(spark.sessionState.newHadoopConf())
    // written a month ago; the second DELETE empties the file, so its
    // remove carries the first DV and nothing live references the sidecar
    fs.setTimes(sidecar, System.currentTimeMillis() - 30L * 86400000L, -1L)
    t.delete(col("id") >= 500)
    assert(t.snapshot.allFiles.isEmpty)
    t.vacuum()
    assert(fs.exists(sidecar), "VACUUM deleted the DV of a fresh tombstone")
    assert(t.toDF(v1).select("id").as[Long].collect().sorted.toSeq == (500L until 1000L))
  }

  test("first DV delete upgrades the protocol to reader 3 / writer 7 + feature") {
    val t = dvTable()
    val before = t.snapshot.protocol
    assert(before.minReaderVersion < 3)
    t.delete(col("id") === 3)
    val p = t.snapshot.protocol
    assert(p.minReaderVersion == 3 && p.minWriterVersion == 7)
    assert(p.readerFeatures.get.contains("deletionVectors"))
    assert(p.writerFeatures.get.contains("deletionVectors"))
    // legacy implicit writer features made explicit by the upgrade
    assert(p.writerFeatures.get.contains("appendOnly"))
    // a second DV delete does not re-commit a protocol action
    t.delete(col("id") === 4)
    assert(t.snapshot.protocol == p)
  }

  test("small DVs inline into the descriptor (storageType i, Z85 bitmap)") {
    val t = dvBigTable()
    t.delete(col("id") === 3 || col("id") === 4) // two rows of the one file
    val f = dvFiles(t).head
    val d = DeletionVectors.descriptor(f).get
    assert(f.deletionVector != null, "descriptor must be the protocol struct, not tags")
    assert(d.storageType == "i", "a 2-row DV must inline")
    assert(d.cardinality == 2 && d.offset.isEmpty)
    // the inline payload IS the bitmap: decode and check the row indexes
    val bm = RoaringBitmapArray.deserialize(Z85.decode(d.pathOrInlineDv).take(d.sizeInBytes))
    assert(bm.values.toSeq == Seq(3L, 4L)) // ids 3,4 = row indexes 3,4
    // no payload file was written for an all-inline delete
    val dvDir = new org.apache.hadoop.fs.Path(t.deltaLog.dataPath, "_deletion_vectors")
    val fs = dvDir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(dvDir) || fs.listStatus(dvDir).isEmpty)
    // descriptor JSON-serde roundtrip (what a stock reader parses)
    val json = Actions.toJson(f)
    val back = Actions.fromJson(json).get.asInstanceOf[AddFile]
    assert(back.deletionVector == d)
  }

  test("large DV payload is the protocol format: framed, checksummed roaring bitmap") {
    import spark.implicits._
    val t = dvBigTable()
    t.delete(col("id") < 500)
    val f = dvFiles(t).head
    val d = DeletionVectors.descriptor(f).get
    assert(d.storageType == "u")
    assert(d.cardinality == 500)
    assert(d.offset.exists(_ >= 1))
    val abs = DeletionVectors.absolutePathOf(t.deltaLog.dataPath, d)
    val fs = abs.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(abs)
    try {
      assert(in.readByte() == 1, "DV file format version byte")
      in.seek(d.offset.get.toLong)
      val len = in.readInt() // big-endian framing
      assert(len == d.sizeInBytes)
      val bytes = new Array[Byte](len)
      in.readFully(bytes)
      assert(in.readInt() == RoaringBitmapArray.checksum(bytes))
      val bm = RoaringBitmapArray.deserialize(bytes)
      assert(bm.cardinality == 500)
      assert(bm.values.toSeq == (0L until 500L))
    } finally in.close()
    assert(t.toDF.count() == 500)
    assert(t.toDF.agg(org.apache.spark.sql.functions.min($"id")).head().getLong(0) == 500L)
  }

  test("legacy tag-based DV tables read, and the next DELETE migrates them") {
    import spark.implicits._
    val t = dvBigTable()
    // hand-build a legacy DV: parquet sidecar of (fp, ri) + tags
    val yFile = t.snapshot.allFiles.head
    val abs = FileNames.absolutePath(t.deltaLog.dataPath, yFile.path).toString
    val fp = abs.replaceFirst("^file:/+", "/")
    val rel = s"_deletion_vectors/dv-legacy-${java.util.UUID.randomUUID}.parquet"
    val sidecarTmp = s"${tmp()}/sidecar"
    Seq((fp, 0L)).toDF("fp", "ri").coalesce(1).write.parquet(sidecarTmp)
    val fs = t.deltaLog.dataPath.getFileSystem(spark.sessionState.newHadoopConf())
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(sidecarTmp))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    fs.rename(part, new org.apache.hadoop.fs.Path(t.deltaLog.dataPath, rel))
    val txn = t.deltaLog.startTransaction()
    txn.commit(Seq(
      yFile.remove(1L),
      yFile.copy(tags = Map(
        DeletionVectors.PathTag -> rel,
        DeletionVectors.CardinalityTag -> "1"))), "DELETE")
    // legacy DV applies: id=0 (row 0 of the file) is gone
    assert(t.toDF.count() == 999 && t.toDF.filter(col("id") === 0).count() == 0)
    // next DELETE on the same file merges into a protocol-format DV
    t.delete(col("id") === 1)
    val merged = t.snapshot.allFiles.head
    assert(merged.deletionVector != null, "migration must produce a protocol descriptor")
    assert(merged.deletionVector.cardinality == 2, "legacy rows must merge in")
    assert(Option(merged.tags).forall(ts => !ts.contains(DeletionVectors.PathTag)),
      "legacy tags must be stripped on migration")
    assert(t.toDF.count() == 998 && t.toDF.filter(col("id") <= 1).count() == 0)
  }

  test("shallow clone rewrites u-descriptors to absolute p; inline descriptors travel as-is") {
    import spark.implicits._
    // "u" payload: rewritten to an absolute "p" path into the source tree
    val big = dvBigTable()
    big.delete(col("id") < 500)
    val bigClone = big.shallowCloneTo(tmp())
    val bigD = bigClone.snapshot.allFiles
      .find(f => DeletionVectors.descriptor(f).isDefined).get.deletionVector
    assert(bigD != null && bigD.storageType == "p")
    assert(bigD.pathOrInlineDv.contains("deletion_vector_"),
      "p-path must point at the source payload")
    assert(bigClone.toDF.count() == 500)
    // inline DV: self-contained, survives the clone untouched
    val t = dvTable()
    t.delete(col("id") === 3)
    val c = t.shallowCloneTo(tmp())
    val d = c.snapshot.allFiles
      .find(f => DeletionVectors.descriptor(f).isDefined).get.deletionVector
    assert(d != null && d.storageType == "i")
    assert(c.toDF.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L, 5L))
  }

  test("DV descriptors survive checkpointing and the spill replay path") {
    val t = dvBigTable()
    t.delete(col("id") === 3)
    t.deltaLog.checkpoint(t.snapshot)
    // force the NEXT snapshot to rebuild through the checkpoint parquet
    // (nested deletionVector struct) + a spark.read.json spilled tail —
    // both schema-on-read paths, not the driver Jackson parse
    spark.conf.set("spark.graft.snapshot.spillThresholdBytes", "1")
    try {
      t.delete(col("id") === 4) // same file: must merge the prior DV
      val s = t.snapshot
      assert(s.segment.checkpoint.isDefined, "snapshot must read through the checkpoint")
      val f = s.allFiles.head
      assert(f.deletionVector != null)
      assert(f.deletionVector.cardinality == 2,
        "checkpoint-carried DV must merge with the new delete")
      assert(t.toDF.count() == 998 && t.toDF.filter(col("id").isin(3L, 4L)).count() == 0)
    } finally spark.conf.unset("spark.graft.snapshot.spillThresholdBytes")
  }

  test("RESTORE across a DV delete brings the masked rows back") {
    import spark.implicits._
    val t = dvTable()
    val v0 = t.snapshot.version
    t.delete(col("id") === 3)
    assert(t.toDF.count() == 4)
    // restore to the pre-delete version: same data file path on both
    // sides, but the DV'd incarnation must be swapped for the clean one
    t.restoreToVersion(v0)
    assert(t.toDF.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L))
    assert(dvFiles(t).isEmpty, "restore must shed the newer deletion vector")
    // and restoring forward to the deleted state works too
    t.restoreToVersion(v0 + 1)
    assert(t.toDF.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 4L, 5L))
    assert(dvFiles(t).nonEmpty)
  }

  test("tableChanges without CDF is row-exact on DV commits (bitmap diff)") {
    import spark.implicits._
    // NOTE: no delta.enableChangeDataFeed — the fallback path
    val t = DeltaTable.forPath(spark, tmp())
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = df.schema.json,
      configuration = Map("delta.enableDeletionVectors" -> "true")))
    txn.commit(Nil, Op.CreateTable)
    t.write(df.coalesce(1))
    val v1 = t.delete(col("id") === 2)
    val v2 = t.delete(col("id") === 1) // merges into the same file's DV
    val ch = t.tableChanges(v1, v2)
      .select($"id", $"_change_type", $"_commit_version")
      .orderBy($"_commit_version")
      .as[(Long, String, Long)].collect().toSeq
    assert(ch == Seq((2L, "delete", v1), (1L, "delete", v2)),
      "DV commits must emit exactly the newly-masked rows")
    // RESTORE back across the DV delete: the rows REAPPEAR as inserts
    val v3 = t.restoreToVersion(v1)
    val back = t.tableChanges(v3, v3)
      .select($"id", $"_change_type")
      .as[(Long, String)].collect().toSeq
    assert(back == Seq((1L, "insert")),
      "unmasking must surface as row-level inserts")
  }

  test("full-file remove of a DV'd file reports only LIVE rows as CDF deletes") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = df.schema.json,
      configuration = Map("delta.enableDeletionVectors" -> "true")))
    txn.commit(Nil, Op.CreateTable)
    t.write(df.coalesce(1))
    val v1 = t.delete(col("id") === 2) // grows the DV; reports id=2 deleted
    val v2 = t.truncate()              // removes the DV-carrying file whole
    val ch = t.tableChanges(v2, v2)
      .select($"id", $"_change_type")
      .orderBy($"id")
      .as[(Long, String)].collect().toSeq
    assert(ch == Seq((1L, "delete"), (3L, "delete")),
      s"TRUNCATE must not re-report the already-DV-deleted row: $ch")
    // the two ranges together report each row deleted exactly once
    val all = t.tableChanges(v1, v2)
      .filter($"_change_type" === "delete")
      .groupBy($"id").count().as[(Long, Long)].collect().toMap
    assert(all == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("CDF captures DV update pre/post images") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = df.schema.json,
      configuration = Map(
        "delta.enableDeletionVectors" -> "true",
        "delta.enableChangeDataFeed" -> "true")))
    txn.commit(Nil, Op.CreateTable)
    t.write(df)
    val v = t.update(col("id") === 2, Map("v" -> lit("B")))
    val ch = t.tableChanges(v, v)
      .select($"id", $"v", $"_change_type")
      .orderBy($"_change_type")
      .as[(Long, String, String)].collect().toSeq
    assert(ch == Seq((2L, "B", "update_postimage"), (2L, "b", "update_preimage")))
  }

  test("CDF captures DV deletes exactly once") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = df.schema.json,
      configuration = Map(
        "delta.enableDeletionVectors" -> "true",
        "delta.enableChangeDataFeed" -> "true")))
    txn.commit(Nil, Op.CreateTable)
    t.write(df)
    val v1 = t.delete(col("id") === 2)
    val v2 = t.delete(col("id") <= 2) // id=1 only: id=2 is already gone
    val ch = t.tableChanges(v1, v2)
      .select($"id", $"_change_type", $"_commit_version")
      .orderBy($"_commit_version", $"id")
      .as[(Long, String, Long)].collect().toSeq
    assert(ch == Seq((2L, "delete", v1), (1L, "delete", v2)))
  }
}
