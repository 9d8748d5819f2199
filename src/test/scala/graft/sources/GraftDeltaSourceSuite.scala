package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta.{DeltaTable, Metadata, Op}
import graft.testutil.SharedSpark

/** The `graft-delta` format: batch read/write, time travel options,
  * DV/column-mapping fallback relation, pushdown, streaming sink.
  */
class GraftDeltaSourceSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-src").toString

  private def seed(): DataFrame = {
    import spark.implicits._
    Seq((1L, "alice", 10, "x"), (2L, "bob", 20, "x"),
      (3L, "carol", 30, "y"), (4L, "dave", 40, "y"),
      (5L, "erin", 50, "z")).toDF("id", "name", "score", "part")
  }

  test("write + read round trip through format(\"graft-delta\")") {
    val dir = tmp()
    seed().write.format("graft-delta").partitionBy("part").save(dir)
    val back = spark.read.format("graft-delta").load(dir)
    assert(back.count() == 5)
    assert(back.columns.toSet == Set("id", "name", "score", "part"))
    assert(back.filter(col("part") === "x").select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // it is a real Delta table underneath
    assert(DeltaTable.isDeltaTable(spark, dir))
    assert(DeltaTable.forPath(spark, dir).snapshot.metadata.partitionColumns == Seq("part"))
  }

  test("partition pruning reaches the file listing through the format") {
    val dir = tmp()
    seed().write.format("graft-delta").partitionBy("part").save(dir)
    val pruned = spark.read.format("graft-delta").load(dir)
      .filter(col("part") === "x")
    // the physical scan must list only part=x files
    val scanned = pruned.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
            .flatMap(_.files).map(_.getPath.toString)
      }).flatten
    assert(scanned.nonEmpty && scanned.forall(_.contains("part=x")),
      s"expected only part=x files, got $scanned")
  }

  test("save modes: ErrorIfExists throws, Ignore is a no-op, Overwrite replaces") {
    val dir = tmp()
    seed().write.format("graft-delta").save(dir)
    intercept[IllegalStateException] {
      seed().write.format("graft-delta").mode(SaveMode.ErrorIfExists).save(dir)
    }
    seed().write.format("graft-delta").mode(SaveMode.Ignore).save(dir)
    assert(spark.read.format("graft-delta").load(dir).count() == 5)
    seed().limit(2).write.format("graft-delta").mode(SaveMode.Overwrite).save(dir)
    assert(spark.read.format("graft-delta").load(dir).count() == 2)
    seed().write.format("graft-delta").mode(SaveMode.Append).save(dir)
    assert(spark.read.format("graft-delta").load(dir).count() == 7)
  }

  test("versionAsOf / timestampAsOf options time travel") {
    val dir = tmp()
    seed().write.format("graft-delta").save(dir) // v0
    seed().write.format("graft-delta").mode(SaveMode.Append).save(dir) // v1
    assert(spark.read.format("graft-delta").option("versionAsOf", "0").load(dir).count() == 5)
    assert(spark.read.format("graft-delta").load(dir).count() == 10)
    // timestamp travel keys off commit-file mtime
    val v0 = new org.apache.hadoop.fs.Path(dir, "_delta_log/00000000000000000000.json")
    val t0 = v0.getFileSystem(spark.sessionState.newHadoopConf())
      .getFileStatus(v0).getModificationTime
    assert(spark.read.format("graft-delta")
      .option("timestampAsOf", t0.toString).load(dir).count() == 5)
    intercept[IllegalArgumentException] {
      spark.read.format("graft-delta")
        .option("versionAsOf", "0").option("timestampAsOf", "0").load(dir).count()
    }
  }

  test("DV table reads through the fallback relation, deleted rows gone") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val df = seed()
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = df.schema.json,
      configuration = Map("delta.enableDeletionVectors" -> "true")))
    txn.commit(Nil, Op.CreateTable)
    // one file, which keeps live rows, so the delete masks rather than removes it
    t.write(df.coalesce(1), SaveMode.Append)
    t.delete(col("score") >= 40) // merge-on-read: files keep the rows, DVs hide them
    assert(t.snapshot.dvFiles.nonEmpty, "expected deletion vectors")
    val back = spark.read.format("graft-delta").load(dir)
    assert(back.count() == 3)
    assert(back.filter(col("score") >= 40).count() == 0)
    // column pruning + filter pushdown through the PrunedFilteredScan
    assert(back.select("name").where(col("id") === 1L)
      .collect().map(_.getString(0)).toSeq == Seq("alice"))
  }

  test("column-mapped table reads logical names through the format") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(seed())
    t.renameColumn("name", "who")
    val back = spark.read.format("graft-delta").load(dir)
    assert(back.columns.contains("who") && !back.columns.contains("name"))
    assert(back.filter(col("who") === "carol").select("id")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("batch readChangeFeed returns the version-range change feed") {
    import spark.implicits._
    val dir = tmp()
    val t = graft.delta.DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(graft.delta.Metadata(
      schemaString = Seq((1L, "a")).toDF("id", "v").schema.json,
      configuration = Map("delta.enableChangeDataFeed" -> "true")))
    txn.commit(Nil, Op.CreateTable)
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))          // v1: inserts
    t.delete(org.apache.spark.sql.functions.col("id") === 1L)   // v2: delete
    val cdf = spark.read.format("graft-delta")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1")
      .load(dir)
    val changes = cdf.select("id", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(changes == Set((1L, "insert", 1L), (2L, "insert", 1L), (1L, "delete", 2L)))
    // endingVersion bounds the range
    val only1 = spark.read.format("graft-delta")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", "1")
      .load(dir)
    assert(only1.select("_change_type").distinct().collect().map(_.getString(0)).toSeq
      == Seq("insert"))
  }

  test("readChangeFeed null-fills across an ADD COLUMNS boundary (batch + stream)") {
    import spark.implicits._
    val dir = tmp()
    val t = graft.delta.DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(graft.delta.Metadata(
      schemaString = Seq((1L, "a")).toDF("id", "v").schema.json,
      configuration = Map("delta.enableChangeDataFeed" -> "true")))
    txn.commit(Nil, Op.CreateTable)                              // v0
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))           // v1: inserts
    spark.sql(s"UPDATE graft.`$dir` SET v = 'a2' WHERE id = 1")  // v2: CDC, old schema
    t.addColumns(org.apache.spark.sql.types.StructType(Seq(      // v3: evolution
      org.apache.spark.sql.types.StructField("extra", org.apache.spark.sql.types.LongType))))
    spark.sql(s"UPDATE graft.`$dir` SET extra = 7 WHERE id = 2") // v4: CDC, new schema
    val feed = spark.read.format("graft-delta")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .load(dir)
    assert(feed.columns.contains("extra"), feed.columns.mkString(","))
    val rows = feed.select("id", "_change_type", "_commit_version", "extra")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    // pre-evolution CDC/data files lack `extra`: null-filled, not failed
    assert(rows == Set(
      (1L, "insert", 1L, -1L), (2L, "insert", 1L, -1L),
      (1L, "update_preimage", 2L, -1L), (1L, "update_postimage", 2L, -1L),
      (2L, "update_preimage", 4L, -1L), (2L, "update_postimage", 4L, 7L)),
      rows.toString)
    // a stream started after the evolution drains the same history with
    // the evolved schema (restart-after-evolution, delta-spark's contract)
    val q = spark.readStream.format("graft.streaming.DeltaStreamSourceProvider")
      .option("path", dir).option("readChangeFeed", "true")
      .load()
      .writeStream.outputMode("append").format("memory")
      .queryName("cdf_evolve").start()
    try q.processAllAvailable() finally q.stop()
    val srows = spark.table("cdf_evolve")
      .select("id", "_change_type", "_commit_version", "extra")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(srows == rows, srows.toString)
    // a stream RUNNING ACROSS the boundary fails loudly asking for a
    // restart (silently projecting would drop the new column from the
    // feed — delta-spark's contract is fail-and-restart)
    val dir2 = tmp()
    val t2 = graft.delta.DeltaTable.forPath(spark, dir2)
    val txn2 = t2.deltaLog.startTransaction()
    txn2.updateMetadata(graft.delta.Metadata(
      schemaString = Seq((1L, "a")).toDF("id", "v").schema.json,
      configuration = Map("delta.enableChangeDataFeed" -> "true")))
    txn2.commit(Nil, Op.CreateTable)
    t2.write(Seq((1L, "a")).toDF("id", "v"))
    val q2 = spark.readStream.format("graft.streaming.DeltaStreamSourceProvider")
      .option("path", dir2).option("readChangeFeed", "true")
      .load()
      .writeStream.outputMode("append").format("memory")
      .queryName("cdf_midstream").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("cdf_midstream").count() == 1)
      t2.addColumns(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("extra", org.apache.spark.sql.types.LongType))))
      spark.sql(s"UPDATE graft.`$dir2` SET extra = 1 WHERE id = 1")
      val ex = intercept[Exception](q2.processAllAvailable())
      def msgs(e: Throwable): List[String] =
        if (e == null) Nil else Option(e.getMessage).toList ++ msgs(e.getCause)
      assert(msgs(ex).exists(_.contains("restart the query")), ex.toString)
    } finally q2.stop()
  }

  test("readChangeFeed across a RENAME COLUMN boundary (batch + stream)") {
    import spark.implicits._
    val dir = tmp()
    val t = graft.delta.DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(graft.delta.Metadata(
      schemaString = Seq((1L, "a")).toDF("id", "v").schema.json,
      configuration = Map("delta.enableChangeDataFeed" -> "true")))
    txn.commit(Nil, Op.CreateTable)                              // v0
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))           // v1
    spark.sql(s"UPDATE graft.`$dir` SET v = 'a2' WHERE id = 1")  // v2: CDC
    t.renameColumn("v", "w")                                     // v3
    t.write(Seq((3L, "c")).toDF("id", "w"))                      // v4
    // batch: the whole range resolves through physical names and
    // presents the END logical schema (w)
    val feed = spark.read.format("graft-delta")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .load(dir)
    assert(feed.columns.contains("w") && !feed.columns.contains("v"))
    val rows = feed.select("id", "w", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(rows == Set(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (1L, "a", "update_preimage", 2L), (1L, "a2", "update_postimage", 2L),
      (3L, "c", "insert", 4L)), rows.toString)
    // a stream started AFTER the rename drains history under the new name
    val q = spark.readStream.format("graft.streaming.DeltaStreamSourceProvider")
      .option("path", dir).option("readChangeFeed", "true")
      .load()
      .writeStream.outputMode("append").format("memory")
      .queryName("cdf_rename").start()
    try q.processAllAvailable() finally q.stop()
    val srows = spark.table("cdf_rename")
      .select("id", "w", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(srows == rows, srows.toString)
    // a stream RUNNING ACROSS the rename fails loudly (same contract as
    // the ADD COLUMNS boundary: fail-and-restart, never silent remap)
    val dir2 = tmp()
    val t2 = graft.delta.DeltaTable.forPath(spark, dir2)
    val txn2 = t2.deltaLog.startTransaction()
    txn2.updateMetadata(graft.delta.Metadata(
      schemaString = Seq((1L, "a")).toDF("id", "v").schema.json,
      configuration = Map("delta.enableChangeDataFeed" -> "true")))
    txn2.commit(Nil, Op.CreateTable)
    t2.write(Seq((1L, "a")).toDF("id", "v"))
    val q2 = spark.readStream.format("graft.streaming.DeltaStreamSourceProvider")
      .option("path", dir2).option("readChangeFeed", "true")
      .load()
      .writeStream.outputMode("append").format("memory")
      .queryName("cdf_rename_mid").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("cdf_rename_mid").count() == 1)
      t2.renameColumn("v", "w")
      t2.write(Seq((2L, "b")).toDF("id", "w"))
      val ex = intercept[Exception](q2.processAllAvailable())
      def msgs(e: Throwable): List[String] =
        if (e == null) Nil else Option(e.getMessage).toList ++ msgs(e.getCause)
      assert(msgs(ex).exists(_.contains("restart the query")), ex.toString)
    } finally q2.stop()
  }

  test("batch readChangeFeed accepts timestamp bounds") {
    import spark.implicits._
    val dir = tmp()
    val t = graft.delta.DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(graft.delta.Metadata(
      schemaString = Seq((1L, "a")).toDF("id", "v").schema.json,
      configuration = Map("delta.enableChangeDataFeed" -> "true")))
    txn.commit(Nil, Op.CreateTable)                             // v0
    t.write(Seq((1L, "a")).toDF("id", "v"))                     // v1
    t.write(Seq((2L, "b")).toDF("id", "v"))                     // v2
    t.write(Seq((3L, "c")).toDF("id", "v"))                     // v3
    // pin commit times 10s apart so the timestamp->version mapping is
    // unambiguous (same index batch time travel reads)
    val base = System.currentTimeMillis() - 400000L
    (0 to 3).foreach { v =>
      val f = new java.io.File(s"$dir/_delta_log/${"%020d".format(v)}.json")
      assert(f.setLastModified(base + v * 10000L))
    }
    def ids(opts: (String, String)*): Set[Long] = {
      val r = opts.foldLeft(spark.read.format("graft-delta")
          .option("readChangeFeed", "true")) { case (b, (k, v)) => b.option(k, v) }
        .load(dir)
      r.select("id").collect().map(_.getLong(0)).toSet
    }
    // [v2's time, v3's time): start at-or-after, end at-or-before
    assert(ids("startingTimestamp" -> (base + 15000L).toString,
      "endingTimestamp" -> (base + 25000L).toString) == Set(2L))
    // start exactly on v1's commit time is inclusive
    assert(ids("startingTimestamp" -> (base + 10000L).toString) == Set(1L, 2L, 3L))
    // past-the-end start: empty feed, not an error
    assert(ids("startingTimestamp" -> (base + 999999L).toString) == Set.empty[Long])
    // bounds are mutually exclusive with their version forms
    intercept[IllegalArgumentException] {
      ids("startingVersion" -> "1", "startingTimestamp" -> base.toString)
    }
    intercept[IllegalArgumentException] {
      ids("startingVersion" -> "1",
        "endingVersion" -> "2", "endingTimestamp" -> base.toString)
    }
  }

  test("withRowIds read exposes row_id / row_commit_version through the format") {
    import spark.implicits._
    val dir = tmp()
    val t = graft.delta.DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(graft.delta.Metadata(
      schemaString = Seq((1L, "a")).toDF("id", "v").schema.json,
      configuration = Map("delta.enableRowTracking" -> "true")))
    txn.commit(Nil, Op.CreateTable)
    t.write(Seq((10L, "a"), (11L, "b"), (12L, "c")).toDF("id", "v")
      .coalesce(1).orderBy("id"))
    val got = spark.read.format("graft-delta")
      .option("withRowIds", "true").load(dir)
      .select("id", "row_id", "row_commit_version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.map(_._2).toSeq == Seq(0L, 1L, 2L))
    assert(got.forall(_._3 == 1L))
  }

  test("streaming sink is exactly-once per (checkpoint, batchId)") {
    import spark.implicits._
    val dir = tmp()
    val ckpt = tmp()
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream(
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]], spark)
    src.addData((1L, "a"), (2L, "b"))
    val q = src.toDF().toDF("id", "v").writeStream
      .format("graft-delta")
      .option("checkpointLocation", ckpt)
      .start(dir)
    q.processAllAvailable()
    src.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    val back = spark.read.format("graft-delta").load(dir)
    assert(back.count() == 3)
    // re-delivering an already-committed batch is a no-op
    val t = DeltaTable.forPath(spark, dir)
    val redelivered = t.writeStreamBatch(Seq((9L, "dup")).toDF("id", "v"), ckpt, 0L)
    assert(!redelivered)
    assert(spark.read.format("graft-delta").load(dir).count() == 3)
  }

  test("partition column order matches the table schema on read") {
    // partition column NOT last: the raw HadoopFsRelation would move it
    // to the end; the format must restore metadata order for positional
    // consumers
    val dir = tmp()
    import spark.implicits._
    val df = Seq(("x", 1L, "alice"), ("y", 2L, "bob"))
      .toDF("part", "id", "name")
    df.write.format("graft-delta").partitionBy("part").save(dir)
    val back = spark.read.format("graft-delta").load(dir)
    assert(back.columns.toSeq == Seq("part", "id", "name"),
      s"expected metadata column order, got ${back.columns.toSeq}")
    // positional access agrees with the declared schema
    val r = back.filter($"id" === 1L).collect().head
    assert(r.getString(0) == "x" && r.getLong(1) == 1L && r.getString(2) == "alice")
    // a partition col already last keeps the zero-copy direct relation
    val dir2 = tmp()
    seed().write.format("graft-delta").partitionBy("part").save(dir2)
    assert(spark.read.format("graft-delta").load(dir2)
      .columns.toSeq == Seq("id", "name", "score", "part"))
  }

  test("two temp-checkpoint queries on one table keep independent batch counters") {
    import spark.implicits._
    val dir = tmp()
    def run(lo: Long): Unit = {
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream(
        implicitly[org.apache.spark.sql.Encoder[(Long, String)]], spark)
      src.addData((lo, "a"), (lo + 1, "b"))
      // no per-query checkpointLocation option: the sink never sees one in
      // its parameters and must key dedup on the per-query id, never the
      // shared table path
      val q = src.toDF().toDF("id", "v").writeStream
        .format("graft-delta").start(dir)
      q.processAllAvailable()
      q.stop()
    }
    // session-level checkpoint root: each query gets its own fresh subdir
    spark.conf.set("spark.sql.streaming.checkpointLocation", tmp())
    try {
      run(1L)
      run(10L) // fresh query restarts at batchId 0 — must not be dropped
    } finally spark.conf.unset("spark.sql.streaming.checkpointLocation")
    assert(spark.read.format("graft-delta").load(dir).count() == 4)
  }

  test("Complete output mode overwrites per batch; Update is rejected") {
    import spark.implicits._
    val dir = tmp(); val ckpt = tmp()
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream(
      implicitly[org.apache.spark.sql.Encoder[(String, Long)]], spark)
    src.addData(("x", 1L), ("x", 2L), ("y", 5L))
    val agg = src.toDF().toDF("k", "v").groupBy("k").agg(sum("v").as("total"))
    val q = agg.writeStream.format("graft-delta")
      .outputMode("complete").option("checkpointLocation", ckpt).start(dir)
    q.processAllAvailable()
    src.addData(("x", 10L))
    q.processAllAvailable()
    q.stop()
    // the table holds exactly the final aggregate, not appended history
    val back = spark.read.format("graft-delta").load(dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(back == Map("x" -> 13L, "y" -> 5L), s"got $back")

    val err = intercept[Exception] {
      val src2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream(
        implicitly[org.apache.spark.sql.Encoder[(String, Long)]], spark)
      src2.addData(("x", 1L))
      src2.toDF().toDF("k", "v")
        .groupBy("k").agg(sum("v").as("total"))
        .writeStream.format("graft-delta")
        .outputMode("update").option("checkpointLocation", tmp()).start(tmp())
        .processAllAvailable()
    }
    assert(err.getMessage.contains("Append and Complete"),
      s"expected output-mode rejection, got: ${err.getMessage}")
  }

  test("stream source and sink compose under one format name") {
    val srcDir = tmp(); val dstDir = tmp(); val ckpt = tmp()
    seed().write.format("graft-delta").save(srcDir)
    val q = spark.readStream.format("graft-delta").load(srcDir)
      .filter(col("score") < 40)
      .writeStream.format("graft-delta")
      .option("checkpointLocation", ckpt)
      .start(dstDir)
    q.processAllAvailable()
    q.stop()
    assert(spark.read.format("graft-delta").load(dstDir).count() == 3)
  }

  test("stream drains commits that exist only as staged (coordinated, unbackfilled) files") {
    import spark.implicits._
    import graft.delta.{CoordinatedCommits, FileNames}
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Seq((0L, "x")).toDF("id", "v").schema.json,
      configuration = Map(
        "delta.coordinatedCommits.commitCoordinator" -> "memory:stream-staged",
        "delta.coordinatedCommits.backfillBatchSize" -> "100")))
    txn.commit(Nil, Op.CreateTable)
    t.write(Seq((1L, "a")).toDF("id", "v"))   // v1 ratified, NOT backfilled
    t.write(Seq((2L, "b")).toDF("id", "v"))   // v2
    val log = t.deltaLog
    (1L to 2L).foreach(v => assert(
      !log.store.exists(FileNames.deltaFile(log.logPath, v)),
      s"v$v must exist only as a staged file for this spec to bite"))
    // the stream's admission (update().version) and batch construction
    // (changes()/readCommit) must both see the staged tail — a source
    // reading only classic <v>.json files would stall at v0 forever
    val q = spark.readStream.format("graft-delta").load(dir)
      .writeStream.format("memory").queryName("staged_tail_drain").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("staged_tail_drain")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L), got.toString)
    // and draining was read-side only: nothing got backfilled
    (1L to 2L).foreach(v => assert(
      !log.store.exists(FileNames.deltaFile(log.logPath, v)),
      s"the stream must not backfill v$v"))
  }

  test("schemaTrackingLocation: boundary failure records schema; restart resumes null-filled") {
    import spark.implicits._
    val dir = tmp()
    val ckpt = tmp()
    val out = tmp()
    val track = s"$ckpt/_schema_log"
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1L, "a")).toDF("id", "v"))                       // v0
    // a FILE sink: the memory sink cannot recover from a checkpoint,
    // and checkpoint recovery is the whole point of schema tracking
    def start() = spark.readStream
      .format("graft.streaming.DeltaStreamSourceProvider")
      .option("path", dir)
      .option("schemaTrackingLocation", track)
      .load()
      .writeStream.outputMode("append").format("parquet")
      .option("checkpointLocation", ckpt)
      .option("path", out).start()
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(spark.read.parquet(out).count() == 1)
      // unconsumed PRE-evolution file, then the boundary, then new data
      t.write(Seq((2L, "b")).toDF("id", "v"))                     // v1
      t.addColumns(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("extra",
          org.apache.spark.sql.types.LongType))))                 // v2
      t.write(Seq((3L, "c", 30L)).toDF("id", "v", "extra"))       // v3
      val ex = intercept[Exception](q1.processAllAvailable())
      def msgs(e: Throwable): List[String] =
        if (e == null) Nil else Option(e.getMessage).toList ++ msgs(e.getCause)
      assert(msgs(ex).exists(_.contains("schema tracking log")), ex.toString)
    } finally q1.stop()
    // restart with the SAME checkpoint + tracking location: no operator
    // intervention, the evolved schema is read back from the schema log
    // and the unconsumed pre-evolution file null-fills the added column
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val rows = spark.read.option("mergeSchema", "true").parquet(out)
      .select("id", "v", "extra").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(rows == Set((1L, "a", -1L), (2L, "b", -1L), (3L, "c", 30L)),
      rows.toString)
    // WITHOUT a tracking location the boundary failure stays unrecoverable
    // advice (the r14 default): message asks for a manual restart only
    val dir2 = tmp()
    val t2 = DeltaTable.forPath(spark, dir2)
    t2.write(Seq((1L, "a")).toDF("id", "v"))
    val q3 = spark.readStream
      .format("graft.streaming.DeltaStreamSourceProvider")
      .option("path", dir2).load()
      .writeStream.outputMode("append").format("memory")
      .queryName("st_plain").start()
    try {
      q3.processAllAvailable()
      t2.addColumns(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("extra",
          org.apache.spark.sql.types.LongType))))
      t2.write(Seq((3L, "c", 30L)).toDF("id", "v", "extra"))
      val ex = intercept[Exception](q3.processAllAvailable())
      def msgs(e: Throwable): List[String] =
        if (e == null) Nil else Option(e.getMessage).toList ++ msgs(e.getCause)
      assert(msgs(ex).exists(_.contains("restart the query")), ex.toString)
      assert(!msgs(ex).exists(_.contains("schema tracking log")), ex.toString)
    } finally q3.stop()
  }
}
