package graft.delta

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** V2 checkpoints (A48): manifest + fingerprint-named sidecars with
  * incremental reuse across checkpoints.
  */
class CheckpointV2Suite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-ckv2").toString

  private def seed(from: Int, until: Int) = {
    import spark.implicits._
    (from until until).map(i => (i.toLong, s"row$i")).toDF("id", "v")
  }

  private def v2Table(interval: Int = 2, extraConf: Map[String, String] = Map.empty): DeltaTable = {
    val t = DeltaTable.forPath(spark, tmp())
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = seed(0, 1).schema.json,
      configuration = Map(
        "delta.checkpointPolicy" -> "v2",
        "delta.checkpoint.numSidecars" -> "4",
        "delta.checkpointInterval" -> interval.toString) ++ extraConf))
    txn.commit(Nil, Op.CreateTable)
    t
  }

  private def fs(t: DeltaTable) =
    t.deltaLog.logPath.getFileSystem(spark.sessionState.newHadoopConf())

  private def sidecars(t: DeltaTable): Seq[String] = {
    val dir = FileNames.sidecarDir(t.deltaLog.logPath)
    if (!fs(t).exists(dir)) Nil
    else fs(t).listStatus(dir).map(_.getPath.getName).toSeq.sorted
  }

  private def manifests(t: DeltaTable): Seq[String] =
    fs(t).listStatus(t.deltaLog.logPath).map(_.getPath.getName)
      .filter(_.matches("\\d{20}\\.checkpoint\\.[0-9a-f]{32}\\.parquet")).toSeq.sorted

  test("v2 checkpoint writes manifest + sidecars and replays correctly") {
    val t = v2Table()
    t.write(seed(0, 4).coalesce(1), SaveMode.Append)  // v1
    t.write(seed(4, 8).coalesce(1), SaveMode.Append)  // v2 -> checkpoint
    assert(manifests(t).size == 1, s"expected one v2 manifest, got ${manifests(t)}")
    assert(sidecars(t).nonEmpty)
    // protocol gained the reader+writer feature
    val p = t.snapshot.protocol
    assert(p.minReaderVersion == 3 && p.minWriterVersion == 7)
    assert(p.readerFeatures.exists(_.contains("v2Checkpoint")))
    assert(p.writerFeatures.exists(_.contains("v2Checkpoint")))
    // fresh log replays from the v2 checkpoint (delete the tail to prove
    // the state really comes from manifest + sidecars)
    val snap = new DeltaLog(spark, t.deltaLog.dataPath).update()
    assert(snap.version == 2)
    assert(snap.allFiles.size == 2)
    import spark.implicits._
    val ids = snap.allFilesDS.collect().map(_.path)
    assert(ids.distinct.length == 2)
    assert(t.toDF.select("id").as[Long].collect().sorted.toSeq == (0L until 8L))
  }

  test("unchanged sidecar buckets are reused by the next checkpoint") {
    // Buckets are content-addressed by pmod(xxhash64(path), n) and file
    // paths carry random UUIDs, so WHICH buckets the post-ckpt-1 writes
    // dirty is nondeterministic. Spread v1 over many files (most of the
    // 16 buckets populated), then compute the dirty buckets exactly and
    // assert every clean bucket's sidecar is reused byte-for-byte.
    import spark.implicits._
    val n = 16
    val t = v2Table(extraConf = Map("delta.checkpoint.numSidecars" -> n.toString))
    t.write(seed(0, 50).repartition(20), SaveMode.Append) // v1: ~20 files
    t.write(seed(50, 52).coalesce(1), SaveMode.Append)    // v2 -> ckpt 1
    val after1 = sidecars(t).toSet
    assert(after1.nonEmpty)
    val pathsAt2 = new DeltaLog(spark, t.deltaLog.dataPath).update()
      .allFiles.map(_.path).toSet
    t.write(seed(52, 54).coalesce(1), SaveMode.Append)  // v3
    t.write(seed(54, 56).coalesce(1), SaveMode.Append)  // v4 -> ckpt 2
    val after2 = sidecars(t).toSet
    val snap = new DeltaLog(spark, t.deltaLog.dataPath).update()
    // exactly the buckets touched by v3/v4's files change; the rest MUST
    // be reused (same fingerprint name, still present and referenced)
    val newPaths = snap.allFiles.map(_.path).filterNot(pathsAt2)
    assert(newPaths.size == 2)
    val dirty = newPaths.toDF("p")
      .select(pmod(xxhash64($"p"), lit(n)).cast("int")).as[Int].collect().toSet
    def bucketOf(name: String): Int = name.split("-")(2).toInt
    val cleanOld = after1.filterNot(s => dirty.contains(bucketOf(s)))
    assert(cleanOld.nonEmpty, s"all $n buckets dirtied — widen v1 spread")
    assert(cleanOld.subsetOf(after2),
      s"expected reuse of ${cleanOld -- after2} across checkpoints")
    // state at head is complete
    assert(t.toDF.count() == 56)
    assert(snap.allFiles.size == pathsAt2.size + 2)
    // the LAST manifest must reference every clean reused sidecar
    // (true reuse, not rewrite)
    val lastManifest = new Path(t.deltaLog.logPath, manifests(t).last)
    val referenced = spark.read.parquet(lastManifest.toString)
      .where($"sidecar".isNotNull).select($"sidecar.path").as[String].collect().toSet
    assert(cleanOld.subsetOf(referenced),
      "second manifest must reference first checkpoint's clean sidecars")
  }

  test("orphaned sidecars are swept with expired logs, referenced ones kept") {
    val t = v2Table(extraConf = Map("delta.logRetentionDuration" -> "interval 0 millisecond"))
    t.write(seed(0, 4).coalesce(1), SaveMode.Append)   // v1
    t.write(seed(4, 8).coalesce(1), SaveMode.Append)   // v2 -> ckpt 1
    // plant an orphan that no manifest references
    val orphan = new Path(FileNames.sidecarDir(t.deltaLog.logPath), "sidecar-4-9-deadbeef.parquet")
    val out = fs(t).create(orphan); out.write(1); out.close()
    t.write(seed(8, 12).coalesce(1), SaveMode.Append)  // v3
    t.write(seed(12, 16).coalesce(1), SaveMode.Append) // v4 -> ckpt 2 + sweep
    val names = sidecars(t)
    assert(!names.contains("sidecar-4-9-deadbeef.parquet"), "orphan must be swept")
    // everything the surviving manifests reference is still there
    import spark.implicits._
    val refs = spark.read
      .parquet(manifests(t).map(m => new Path(t.deltaLog.logPath, m).toString): _*)
      .where($"sidecar".isNotNull).select($"sidecar.path").as[String].collect().toSet
    assert(refs.subsetOf(names.toSet), s"missing referenced sidecars: ${refs -- names.toSet}")
    assert(t.toDF.count() == 16)
  }

  test("v2 checkpoint preserves txns, domain metadata and row tracking") {
    val t = v2Table(extraConf = Map("delta.enableRowTracking" -> "true"))
    t.write(seed(0, 4).coalesce(1), SaveMode.Append)  // v1, ids 0..3
    t.setDomainMetadata("app.state", """{"cursor":7}""")  // v2 -> ckpt
    val snap = new DeltaLog(spark, t.deltaLog.dataPath).update()
    assert(snap.domainMetadata("app.state") == """{"cursor":7}""")
    assert(RowTracking.highWaterMark(snap.domainMetadata) == 3L)
    assert(snap.allFiles.flatMap(_.baseRowId) == Seq(0L))
  }

  test("time travel lands between v2 checkpoints") {
    val t = v2Table() // interval 2: v2 checkpoints at v2 and v4
    (0 until 4).foreach(i =>
      t.write(seed(i * 2, i * 2 + 2).coalesce(1), SaveMode.Append)) // v1..v4
    assert(manifests(t).size == 2)
    // v3 sits between the two checkpoints: replay = ckpt(v2) + tail(v3)
    assert(t.toDF(3).count() == 6)
    assert(t.toDF(2).count() == 4)
    assert(t.toDF.count() == 8)
  }

  test("switching policy mid-life: classic history stays readable") {
    val t = DeltaTable.forPath(spark, tmp())
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = seed(0, 1).schema.json,
      configuration = Map("delta.checkpointInterval" -> "2")))
    txn.commit(Nil, Op.CreateTable)
    t.write(seed(0, 4).coalesce(1), SaveMode.Append)  // v1
    t.write(seed(4, 8).coalesce(1), SaveMode.Append)  // v2 -> classic ckpt
    // flip to v2
    val txn2 = t.deltaLog.startTransaction()
    txn2.updateMetadata(txn2.metadata.copy(configuration =
      txn2.metadata.configuration ++ Map(
        "delta.checkpointPolicy" -> "v2", "delta.checkpoint.numSidecars" -> "4")))
    txn2.commit(Nil, Op.SetTableProperties)               // v3
    t.write(seed(8, 12).coalesce(1), SaveMode.Append)   // v4 -> v2 ckpt
    assert(manifests(t).size == 1)
    val snap = new DeltaLog(spark, t.deltaLog.dataPath).update()
    assert(snap.allFiles.size == 3)
    assert(t.toDF.count() == 12)
    // time travel to a pre-switch version still works
    assert(t.toDF(2).count() == 8)
  }

  test("spec-conformant dashed-uuid manifests from other engines are recognized") {
    // naming layer accepts both the dash-stripped and the dashed form
    val dashed = "01234567-89ab-cdef-0123-456789abcdef"
    val dashedPath = FileNames.v2CheckpointFile(new Path("/t/_delta_log"), 5, dashed)
    assert(FileNames.isCheckpointFile(dashedPath))
    assert(CheckpointInstance.fromPath(dashedPath) ==
      CheckpointInstance(5, None, Some(dashed)))
    // end-to-end: rename our manifest to the dashed form another engine
    // would write; checkpoint listing (no _last_checkpoint hint) must
    // still find it and replay from it
    val t = v2Table()
    t.write(seed(0, 4).coalesce(1), SaveMode.Append)  // v1
    t.write(seed(4, 8).coalesce(1), SaveMode.Append)  // v2 -> ckpt
    val m = manifests(t).head
    val undashed = m.split('.')(2)
    val dashedUuid = undashed.replaceAll(
      "(.{8})(.{4})(.{4})(.{4})(.{12})", "$1-$2-$3-$4-$5")
    assert(fs(t).rename(new Path(t.deltaLog.logPath, m),
      new Path(t.deltaLog.logPath, m.replace(undashed, dashedUuid))))
    fs(t).delete(new Path(t.deltaLog.logPath, "_last_checkpoint"), false)
    val found = Checkpoints.latestCompleteCheckpoint(t.deltaLog.store, t.deltaLog.logPath)
    assert(found.exists(_.v2Uuid.contains(dashedUuid)),
      s"listing must surface the dashed-uuid manifest, got $found")
    val snap = new DeltaLog(spark, t.deltaLog.dataPath).update()
    assert(snap.version == 2 && snap.allFiles.size == 2)
  }

  test("commitLarge stamps the v2Checkpoint feature when policy=v2") {
    // a table whose metadata-bearing commits carry a Dataset body must
    // still declare the reader+writer feature before writing v2
    // checkpoints (classic readers would miss state after log cleanup)
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = seed(0, 1).schema.json,
      configuration = Map(
        "delta.checkpointPolicy" -> "v2",
        "delta.checkpoint.numSidecars" -> "4")))
    txn.commit(Nil, spark.emptyDataset[SingleAction], Op.CreateTable, Map.empty)
    val p = t.snapshot.protocol
    assert(p.minReaderVersion == 3 && p.minWriterVersion == 7)
    assert(p.readerFeatures.exists(_.contains("v2Checkpoint")))
    assert(p.writerFeatures.exists(_.contains("v2Checkpoint")))
  }
}
