package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** COPY INTO: idempotent bulk file ingestion. Re-runs skip loaded files
  * (tracked in the `_copy_into` sidecar + main-log batch markers),
  * idempotency survives OPTIMIZE, a crashed intent (write-ahead rows
  * with no main commit) does NOT count as loaded, force reloads.
  */
class CopyIntoSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-copyinto").toString

  /** A source dir of n single-row parquet files + a hidden file. */
  private def mkSource(n: Int, from: Int = 0): String = {
    import spark.implicits._
    val dir = tmp()
    (from until from + n).foreach { i =>
      Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1)
        .write.parquet(s"$dir/f$i")
    }
    // flatten: move part files up, one per i; drop spark metadata
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    (from until from + n).foreach { i =>
      val sub = new org.apache.hadoop.fs.Path(s"$dir/f$i")
      val part = fs.listStatus(sub).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(dir, s"load-$i.parquet"))
      fs.delete(sub, true)
    }
    fs.create(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), true).close()
    dir
  }

  private def mkTarget(): DeltaTable = {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Seq((0L, "x")).toDF("id", "v").schema.json))
    txn.commit(Nil, Op.CreateTable)
    t
  }

  test("loads once, re-run is a no-op, new files load incrementally") {
    val src = mkSource(3)
    val t = mkTarget()
    val r1 = t.copyInto(src)
    assert(r1.numLoadedFiles == 3 && r1.numSkippedFiles == 0, r1.toString)
    assert(t.toDF.count() == 3)
    val r2 = t.copyInto(src)
    assert(r2.numLoadedFiles == 0 && r2.numSkippedFiles == 3, r2.toString)
    assert(t.toDF.count() == 3)
    // two more files arrive: only they load
    mkSourceInto(src, 2, from = 10)
    val r3 = t.copyInto(src)
    assert(r3.numLoadedFiles == 2 && r3.numSkippedFiles == 3, r3.toString)
    assert(t.toDF.count() == 5)
    val ci = t.deltaLog.commitInfoAt(t.snapshot.version).get
    assert(ci.operation == Op.CopyInto, ci.operation)
    assert(ci.operationMetrics.get("numLoadedFiles").contains("2"))
  }

  private def mkSourceInto(dir: String, n: Int, from: Int): Unit = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    (from until from + n).foreach { i =>
      Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1)
        .write.parquet(s"$dir/f$i")
      val sub = new org.apache.hadoop.fs.Path(s"$dir/f$i")
      val part = fs.listStatus(sub).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(dir, s"load-$i.parquet"))
      fs.delete(sub, true)
    }
  }

  test("idempotency survives OPTIMIZE of the target") {
    val src = mkSource(4)
    val t = mkTarget()
    assert(t.copyInto(src).numLoadedFiles == 4)
    t.compact() // bin-pack merges the loaded files; AddFile identity gone
    val r = t.copyInto(src)
    assert(r.numLoadedFiles == 0 && r.numSkippedFiles == 4,
      s"re-loaded after OPTIMIZE: $r")
    assert(t.toDF.count() == 4)
  }

  test("a crashed intent (no main commit) does not count as loaded") {
    import spark.implicits._
    val src = mkSource(2)
    val t = mkTarget()
    // simulate the crash window: intent rows exist in the sidecar but
    // their batch marker never landed in the main txn map
    val sidecar = DeltaTable.forPath(spark,
      new org.apache.hadoop.fs.Path(t.deltaLog.dataPath, "_copy_into").toString)
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val rows = fs.listStatus(new org.apache.hadoop.fs.Path(src)).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(st => ("dead-batch",
        CopyInto.fingerprint(st.getPath.toString, st.getLen, st.getModificationTime),
        st.getPath.toString))
    sidecar.write(rows.toDF("batchId", "fp", "src"))
    // the files must STILL load (intent without a marker is void)
    val r = t.copyInto(src)
    assert(r.numLoadedFiles == 2 && r.numSkippedFiles == 0, r.toString)
    assert(t.toDF.count() == 2)
  }

  test("force reloads; schema projection casts by name and fails on a missing column") {
    import spark.implicits._
    val src = mkSource(2)
    val t = mkTarget()
    assert(t.copyInto(src).numLoadedFiles == 2)
    val rf = t.copyInto(src, force = true)
    assert(rf.numLoadedFiles == 2, rf.toString)
    assert(t.toDF.count() == 4) // duplicates, by explicit request
    // missing target column fails loudly
    val bad = tmp()
    Seq((1L, 2L)).toDF("id", "other").write.parquet(s"$bad/d")
    val t2 = mkTarget()
    val e = intercept[IllegalArgumentException](
      t2.copyInto(s"$bad/d"))
    assert(e.getMessage.contains("source lacks target column"), e.getMessage)
  }

  test("JSON and CSV file formats load through the same idempotent path") {
    import spark.implicits._
    val t = mkTarget()
    val jdir = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.json(s"$jdir/j")
    val rj = t.copyInto(s"$jdir/j", format = "json")
    assert(rj.numLoadedFiles == 1, rj.toString)
    assert(t.copyInto(s"$jdir/j", format = "json").numLoadedFiles == 0)
    val cdir = tmp()
    Seq((3L, "c")).toDF("id", "v").coalesce(1)
      .write.option("header", "true").csv(s"$cdir/c")
    val rc = t.copyInto(s"$cdir/c", format = "csv")
    assert(rc.numLoadedFiles == 1, rc.toString)
    // casts land the target types (csv reads strings)
    assert(t.toDF.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("SQL: COPY INTO ... FILEFORMAT = PARQUET PATTERN + COPY_OPTIONS force") {
    val src = mkSource(3)
    val t = mkTarget()
    val dir = t.deltaLog.dataPath.toUri.getPath
    val r1 = spark.sql(
      s"COPY INTO graft.`$dir` FROM '$src' FILEFORMAT = PARQUET " +
        "PATTERN = 'load-*.parquet'").collect().head
    assert(r1.getLong(0) == 3 && r1.getLong(1) == 0, r1.toString)
    val r2 = spark.sql(
      s"COPY INTO graft.`$dir` FROM '$src' FILEFORMAT = PARQUET").collect().head
    assert(r2.getLong(0) == 0 && r2.getLong(1) == 3, r2.toString)
    val r3 = spark.sql(
      s"COPY INTO graft.`$dir` FROM '$src' FILEFORMAT = PARQUET " +
        "COPY_OPTIONS ('force' = 'true')").collect().head
    assert(r3.getLong(0) == 3, r3.toString)
    assert(spark.read.format("graft-delta").load(dir).count() == 6)
    // unknown COPY_OPTIONS keys fail loudly, never silently ignored
    val e = intercept[Exception](spark.sql(
      s"COPY INTO graft.`$dir` FROM '$src' FILEFORMAT = PARQUET " +
        "COPY_OPTIONS ('typo' = 'true')").collect())
    assert(e.getMessage.contains("unknown COPY_OPTIONS key"), e.getMessage)
  }

  test("mergeSchema evolves the target; without it extra source columns are ignored") {
    import spark.implicits._
    // source files carry an extra column the target lacks
    val src = tmp()
    Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "v", "extra")
      .coalesce(1).write.parquet(s"$src/drop")
    val t = mkTarget()
    // strict (default): extra column ignored, target shape unchanged
    val r1 = t.copyInto(s"$src/drop", "parquet")
    assert(r1.numLoadedFiles == 1, r1.toString)
    assert(t.toDF.columns.toSeq == Seq("id", "v"))
    // a NEW file loaded with mergeSchema: column appended in the same
    // commit as the load, earlier rows null-fill
    Seq((3L, "c", 30)).toDF("id", "v", "extra")
      .coalesce(1).write.parquet(s"$src/drop2")
    val r2 = t.copyInto(s"$src/drop2", "parquet", mergeSchema = true)
    assert(r2.numLoadedFiles == 1, r2.toString)
    val out = t.toDF
    assert(out.columns.toSeq == Seq("id", "v", "extra"), out.columns.toSeq)
    val rows = out.select("id", "extra").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .toMap
    assert(rows == Map(1L -> None, 2L -> None, 3L -> Some(30)), rows.toString)
    // evolution commit + load are ONE version: schema change is atomic
    // with the data it describes
    val hist = t.deltaLog.update().version
    assert(t.deltaLog.commitInfoAt(hist).exists(_.operation == Op.CopyInto))
    // a missing TARGET column still fails loudly even under mergeSchema
    Seq(Tuple1(4L)).toDF("id").coalesce(1).write.parquet(s"$src/drop3")
    val e = intercept[IllegalArgumentException](
      t.copyInto(s"$src/drop3", "parquet", mergeSchema = true))
    assert(e.getMessage.contains("lacks target column"), e.getMessage)
  }

  test("CDF records COPY INTO loads as inserts") {
    import spark.implicits._
    val src = mkSource(2)
    val t = DeltaTable.forPath(spark, tmp())
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Seq((0L, "x")).toDF("id", "v").schema.json,
      configuration = Map("delta.enableChangeDataFeed" -> "true")))
    txn.commit(Nil, Op.CreateTable)
    val r = t.copyInto(src, "parquet")
    assert(r.numLoadedFiles == 2, r.toString)
    val v = t.deltaLog.update().version
    val ch = t.tableChanges(v, v)
    val types = ch.select("_change_type").distinct()
      .collect().map(_.getString(0)).toSet
    assert(types == Set("insert"), types.toString)
    assert(ch.count() == 2L)
    assert(ch.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(v))
  }

  test("concurrent loaders of the same pending set conflict instead of double-loading") {
    import spark.implicits._
    val src = mkSource(3)
    val t = mkTarget()
    // loader B lists the source and derives its content-addressed batch
    // identity BEFORE loader A commits (both see the same pending set)
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val fps = fs.listStatus(new org.apache.hadoop.fs.Path(src))
      .filterNot(st => st.getPath.getName.startsWith("_"))
      .map(st => CopyInto.fingerprint(
        st.getPath.toString, st.getLen, st.getModificationTime)).toSeq
    val appId = CopyInto.AppIdPrefix + CopyInto.batchIdFor(fps)
    val txnB = t.deltaLog.startTransaction()
    assert(txnB.txnVersion(appId) == -1L) // registers the appId read
    // loader A wins the race end-to-end
    assert(t.copyInto(src, "parquet").numLoadedFiles == 3)
    // loader B's commit must DIE on the marker conflict — the second
    // copy of the files never lands
    intercept[DeltaErrors.ConcurrentTransactionException] {
      txnB.commit(Seq(SetTransaction(appId, 1L, Some(0L))), Op.CopyInto)
    }
    assert(t.toDF.count() == 3L, "files were double-loaded")
    // and a sequential re-run is the usual no-op
    val again = t.copyInto(src, "parquet")
    assert(again.numLoadedFiles == 0 && again.numSkippedFiles == 3, again.toString)
  }
}
