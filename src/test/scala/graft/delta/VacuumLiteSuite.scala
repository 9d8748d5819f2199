package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** VACUUM LITE: the log-driven sweep. The candidate set comes from the
  * snapshot's reconciled tombstones, never a filesystem listing — so it
  * must delete exactly the expired-removed files, leave live data and
  * untracked orphans alone (orphans are FULL vacuum's job), and honor
  * retention and DRY RUN like the full sweep.
  */
class VacuumLiteSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String =
    Files.createTempDirectory("graft-vlite").toString

  private def sampleDF = {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")).toDF("id", "name")
  }

  private def parquetCount(t: DeltaTable): Int = {
    val fs = t.deltaLog.dataPath
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(t.deltaLog.dataPath)
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  test("LITE deletes expired tombstones, keeps live files and orphans") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append) // v0
    t.write(sampleDF.filter(col("id") === 1), SaveMode.Overwrite) // v1 tombstones v0
    // an untracked orphan: LITE must NOT touch it (no listing, no log entry)
    val orphan = new java.io.File(dir, "orphan-untracked.parquet")
    orphan.createNewFile()
    orphan.setLastModified(System.currentTimeMillis() - 86400000L)

    val before = parquetCount(t)
    // inside retention: nothing to do
    assert(t.vacuumLite(Some(Long.MaxValue / 2)).deletedCount == 0)
    assert(parquetCount(t) == before)
    // dry run reports but deletes nothing
    val dry = t.vacuumLite(Some(0L), dryRun = true)
    assert(dry.deletedCount > 0 && dry.sample.nonEmpty)
    assert(parquetCount(t) == before)
    // real run: tombstoned files gone, live row readable, orphan intact
    val res = t.vacuumLite(Some(0L))
    assert(res.deletedCount == dry.deletedCount)
    assert(parquetCount(t) < before)
    assert(t.toDF.count() == 1)
    assert(orphan.exists(), "LITE must leave untracked orphans to FULL vacuum")
    // history physically gone: force a real data read — a bare count()
    // is now answered metadata-only from log stats and never opens files
    intercept[Exception] { t.toDF(0).collect() }
  }

  test("re-added path survives LITE (reconciliation excludes it)") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append) // v0
    // v1: remove + re-add the same physical files in one commit
    // (what OPTIMIZE-style rewrites do when content is unchanged)
    val files = t.snapshot.allFiles
    val txn = t.deltaLog.startTransaction()
    val actions: Seq[Action] =
      files.map(f => RemoveFile(f.path, Some(1L), dataChange = false)) ++
        files.map(_.copy(dataChange = false))
    txn.commit(actions, Op.Optimize)
    val res = t.vacuumLite(Some(0L))
    assert(res.deletedCount == 0, s"re-added files must survive: ${res.sample}")
    assert(t.toDF.count() == sampleDF.count())
  }

  test("LITE on a shallow clone never deletes the source table's files") {
    val srcDir = tmp()
    val src = DeltaTable.forPath(spark, srcDir)
    src.write(sampleDF, SaveMode.Append)
    val srcFilesBefore = parquetCount(src)

    // shallow clone records the SOURCE files by absolute URI; once the
    // clone is overwritten those URIs become the clone's tombstones —
    // the exact shape where an unguarded LITE destroys the source table
    val cloneDir = tmp() + "/clone"
    val clone = src.shallowCloneTo(cloneDir)
    clone.write(sampleDF.filter(col("id") === 1), SaveMode.Overwrite)

    val res = clone.vacuumLite(Some(0L))
    assert(res.deletedCount == 0,
      s"out-of-root tombstones must be skipped, deleted: ${res.sample}")
    assert(parquetCount(src) == srcFilesBefore,
      "source table's physical files must survive VACUUM <clone> LITE")
    assert(src.toDF.count() == sampleDF.count(), "source must stay readable")
    // and the clone's OWN expired tombstones still get swept: overwrite
    // the clone again so a clone-local file becomes a tombstone
    clone.write(sampleDF.filter(col("id") === 2), SaveMode.Overwrite)
    val res2 = clone.vacuumLite(Some(0L))
    assert(res2.deletedCount > 0, "clone-local tombstones must still sweep")
    assert(parquetCount(src) == srcFilesBefore)
  }

  test("SQL: VACUUM ... LITE routes to the log-driven sweep") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append)
    t.write(sampleDF.filter(col("id") === 2), SaveMode.Overwrite)
    val orphan = new java.io.File(dir, "orphan-sql.parquet")
    orphan.createNewFile()
    orphan.setLastModified(System.currentTimeMillis() - 86400000L)
    val rows = spark.sql(s"VACUUM graft.`$dir` LITE RETAIN 0 HOURS").collect()
    assert(rows.nonEmpty && rows.head.getLong(0) > 0)
    assert(orphan.exists(), "SQL LITE must skip orphans too")
    assert(t.toDF.count() == 1)
  }

  test("LITE and SQL VACUUM write matching START/END audit commits; DRY RUN writes neither") {
    def ops(t: DeltaTable): Seq[CommitInfo] = {
      val log = t.deltaLog
      (0L to log.update().version)
        .flatMap(v => log.commitInfoAt(v))
    }
    def auditPair(t: DeltaTable): (CommitInfo, CommitInfo) = {
      val all = ops(t)
      val st = all.filter(_.operation == Op.VacuumStart)
      val en = all.filter(_.operation == Op.VacuumEnd)
      assert(st.size == 1 && en.size == 1,
        s"expected exactly one START/END pair: ${all.map(_.operation)}")
      (st.head, en.head)
    }
    // ---- vacuumLite: bracketing commits agree on a clean run
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append)
    t.write(sampleDF.filter(col("id") === 1), SaveMode.Overwrite)
    val vBeforeDry = t.deltaLog.update().version
    assert(t.vacuumLite(Some(0L), dryRun = true).deletedCount > 0)
    assert(t.deltaLog.update().version == vBeforeDry,
      "DRY RUN must not write audit commits")
    val res = t.vacuumLite(Some(0L))
    val (st, en) = auditPair(t)
    assert(st.operationParameters.get("lite").contains("true"), st.toString)
    assert(st.operationMetrics.get("numFilesToDelete")
      .contains(res.deletedCount.toString), (st.operationMetrics, res).toString)
    assert(st.operationMetrics.get("sizeOfDataToDelete").exists(_.toLong > 0L))
    assert(en.operationMetrics.get("numDeletedFiles")
      .contains(res.deletedCount.toString), en.toString)
    // ---- SQL full VACUUM: same trail through the SQL surface
    val dir2 = tmp()
    val t2 = DeltaTable.forPath(spark, dir2)
    t2.write(sampleDF, SaveMode.Append)
    t2.write(sampleDF.filter(col("id") === 2), SaveMode.Overwrite)
    val vDry2 = t2.deltaLog.update().version
    spark.sql(s"VACUUM graft.`$dir2` RETAIN 0 HOURS DRY RUN").collect()
    assert(t2.deltaLog.update().version == vDry2,
      "SQL DRY RUN must not write audit commits")
    spark.sql(s"VACUUM graft.`$dir2` RETAIN 0 HOURS").collect()
    val (st2, en2) = auditPair(t2)
    assert(st2.operationMetrics.get("numFilesToDelete") ==
      en2.operationMetrics.get("numDeletedFiles"),
      (st2.operationMetrics, en2.operationMetrics).toString)
    // ---- SQL VACUUM ... LITE
    val dir3 = tmp()
    val t3 = DeltaTable.forPath(spark, dir3)
    t3.write(sampleDF, SaveMode.Append)
    t3.write(sampleDF.filter(col("id") === 3), SaveMode.Overwrite)
    spark.sql(s"VACUUM graft.`$dir3` LITE RETAIN 0 HOURS").collect()
    val (st3, en3) = auditPair(t3)
    assert(st3.operationParameters.get("lite").contains("true"))
    assert(st3.operationMetrics.get("numFilesToDelete") ==
      en3.operationMetrics.get("numDeletedFiles"),
      (st3.operationMetrics, en3.operationMetrics).toString)
  }

  test("LITE keeps a packed DV sidecar an unexpired tombstone still shares") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val df = spark.range(0, 2000).select($"id", ($"id" % 2).as("half"))
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(schemaString = df.schema.json,
      partitionColumns = Seq("half"),
      configuration = Map("delta.enableDeletionVectors" -> "true")))
    txn.commit(Nil, Op.CreateTable)
    t.write(df.coalesce(1), SaveMode.Append, Seq("half")) // one file per half
    // one shuffle partition: both files' DVs pack into one payload file
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try t.delete(col("id") % 4 < 2)
    finally spark.conf.unset("spark.sql.shuffle.partitions")
    val Seq(a, b) = t.snapshot.allFiles.sortBy(_.path)
    val sidecars = Seq(a, b).map(f =>
      DeletionVectors.absolutePathOf(t.deltaLog.dataPath, DeletionVectors.descriptor(f).get))
    assert(sidecars.distinct.size == 1, s"expected one packed sidecar: $sidecars")
    // a's tombstone is a month old, b's is fresh
    val now = System.currentTimeMillis()
    t.deltaLog.startTransaction().commit(Seq(a.remove(now - 30L * 86400000L)), Op.Delete)
    val vOnlyB = t.deltaLog.update().version
    t.deltaLog.startTransaction().commit(Seq(b.remove(now)), Op.Delete)
    val res = t.vacuumLite()
    assert(res.deletedCount == 1, s"only a's data file is expired: ${res.sample}")
    val fs = t.deltaLog.dataPath.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(sidecars.head), "LITE deleted a sidecar a fresh tombstone shares")
    assert(t.toDF(vOnlyB).collect().length == 500)
  }

  test("full and LITE VACUUM on a never-written table each write START and END") {
    val t = DeltaTable.forPath(spark, tmp())
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(schemaString = sampleDF.schema.json))
    txn.commit(Nil, Op.CreateTable)
    def ops(from: Long): Seq[String] =
      ((from + 1) to t.deltaLog.update().version).flatMap(v =>
        t.deltaLog.commitInfoAt(v).map(_.operation))
    val v0 = t.deltaLog.update().version
    assert(t.vacuum(Some(0L)).deletedCount == 0)
    assert(ops(v0) == Seq(Op.VacuumStart, Op.VacuumEnd), ops(v0))
    val v2 = t.deltaLog.update().version
    assert(t.vacuumLite(Some(0L)).deletedCount == 0)
    assert(ops(v2) == Seq(Op.VacuumStart, Op.VacuumEnd), ops(v2))
  }

  test("LITE leaves a foreign Iceberg metadata dir (adopted in place) untouched") {
    val dir = tmp()
    val uni = DeltaTable.forPath(spark, dir)
    val txn = uni.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(schemaString = sampleDF.schema.json,
      configuration = Map("delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, Op.CreateTable)
    uni.write(sampleDF.filter(col("id") <= 2), SaveMode.Append)
    uni.write(sampleDF.filter(col("id") > 2), SaveMode.Append)
    // drop the Delta log: metadata/ is now a foreign Iceberg table that
    // the in-place adoption does not mark UniForm
    val logDir = new java.io.File(dir, "_delta_log")
    Option(logDir.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(_.delete())
    assert(logDir.delete())
    val t = DeltaTable.convertFromIceberg(spark, dir)
    val metaDir = new java.io.File(dir, "metadata")
    def icebergView(): Map[String, String] =
      metaDir.listFiles().filter(f => f.getName == "version-hint.text" ||
          f.getName.matches("v\\d+\\.metadata\\.json"))
        .map(f => f.getName -> Files.readString(f.toPath)).toMap
    val before = icebergView()
    assert(before.contains("version-hint.text"), before.keySet)
    t.delete(col("id") <= 2) // the first append's file goes away whole
    assert(t.vacuumLite(Some(0L)).deletedCount > 0)
    assert(icebergView() == before,
      "a post-VACUUM regeneration must never rewrite a foreign metadata/ dir")
    assert(t.toDF.count() == 3)
  }
}
