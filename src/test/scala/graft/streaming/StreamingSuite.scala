package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta.{DeltaErrors, DeltaTable, Metadata, Op}
import graft.testutil.SharedSpark

class StreamingSuite extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("D2: foreachBatch delta sink is exactly-once under batch replay") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val srcDir = Files.createTempDirectory("d2-src")
    val tableDir = Files.createTempDirectory("d2-table").toString
    val events = spark.read.parquet(s"$sf/events.parquet")
    events.limit(100).write.parquet(srcDir.resolve("b0").toString)

    val t = DeltaTable.forPath(spark, tableDir)
    val stream = spark.readStream.schema(events.schema)
      .parquet(srcDir.toString + "/*")
    val q = stream.writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        t.writeStreamBatch(df, "stream-app", id); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    val afterFirst = t.toDF.count()
    assert(afterFirst == 100)

    // simulate a replay of batch 0 after recovery: must be skipped
    val replayed = t.writeStreamBatch(events.limit(100), "stream-app", 0L)
    assert(!replayed)
    assert(t.toDF.count() == afterFirst)
    // a genuinely new batch id lands
    assert(t.writeStreamBatch(events.limit(7), "stream-app", 99L))
    assert(t.toDF.count() == afterFirst + 7)
    assert(t.deltaLog.update().transactions("stream-app") == 99L)
  }

  test("D1/D3 queries run against the driver contract") {
    for (name <- Seq("stream_window_agg", "stream_dedup")) {
      val df = graft.SparkEntry.queries(name)(spark, sf)
      assert(df.count() > 0, name)
    }
  }

  test("D4: readStream from a delta table via the Source API") {
    import spark.implicits._
    val dir = Files.createTempDirectory("d4-src-table").toString
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v")) // v0

    val stream = spark.readStream
      .format("graft.streaming.DeltaStreamSourceProvider")
      .option("path", dir).load()
    assert(stream.isStreaming)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("d4_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("d4_out").count() == 2)
      t.write(Seq((3L, "c")).toDF("id", "v")) // v1 arrives mid-stream
      q.processAllAvailable()
      assert(spark.table("d4_out").select("id").as[Long].collect().sorted.toSeq
        == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("D4: Trigger.AvailableNow drains the table with rate limits, then stops") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("d4-availnow").toString
    val t = DeltaTable.forPath(spark, dir)
    (0 until 3).foreach(i =>
      t.write(Seq((i.toLong, s"r$i")).toDF("id", "v"))) // v0..v2, 3 files
    val q = spark.readStream
      .format("graft-delta")
      .option("path", dir)
      .option("maxFilesPerTrigger", "1") // forces multiple micro-batches
      .load()
      .writeStream.outputMode("append")
      .trigger(Trigger.AvailableNow())
      .format("memory").queryName("d4_avail").start()
    try {
      assert(q.awaitTermination(120000),
        "AvailableNow query must terminate on its own")
      assert(spark.table("d4_avail").select("id").as[Long].collect().sorted.toSeq
        == Seq(0L, 1L, 2L))
    } finally q.stop()
  }

  test("D4: readChangeFeed streams row-level changes including DML") {
    import spark.implicits._
    val dir = Files.createTempDirectory("d4-cdf").toString
    val t = DeltaTable.forPath(spark, dir)
    val df0 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(graft.delta.Metadata(
      schemaString = df0.schema.json,
      configuration = Map("delta.enableChangeDataFeed" -> "true")))
    txn.commit(Nil, Op.CreateTable) // v0
    t.write(df0) // v1

    val stream = spark.readStream
      .format("graft.streaming.DeltaStreamSourceProvider")
      .option("path", dir)
      .option("readChangeFeed", "true")
      .load()
    assert(stream.columns.takeRight(3).toSeq ==
      Seq("_change_type", "_commit_version", "_commit_timestamp"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("d4_cdf_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("d4_cdf_out").where($"_change_type" === "insert").count() == 3)
      t.delete(col("id") === 2) // v2: row-level delete arrives mid-stream
      q.processAllAvailable()
      val ch = spark.table("d4_cdf_out")
        .select($"id", $"_change_type")
        .as[(Long, String)].collect().toSeq.sorted
      assert(ch == Seq((1L, "insert"), (2L, "delete"), (2L, "insert"), (3L, "insert")))
    } finally q.stop()
  }

  test("D4: maxFilesPerTrigger bounds each micro-batch, splitting commits") {
    import spark.implicits._
    val dir = Files.createTempDirectory("d4-rate").toString
    val t = DeltaTable.forPath(spark, dir)
    // one commit, three files: batch 0 against an existing table must NOT
    // read the whole table — the offset's file index splits the commit
    t.write(Seq.tabulate(30)(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(3))
    assert(t.snapshot.allFiles.size == 3)
    val stream = spark.readStream
      .format("graft.streaming.DeltaStreamSourceProvider")
      .option("path", dir)
      .option("maxFilesPerTrigger", "1")
      .load()
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("d4_rate").start()
    try {
      q.processAllAvailable()
      assert(spark.table("d4_rate").count() == 30)
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length == 3,
        s"expected 3 bounded micro-batches, got ${batches.length}")
      assert(batches.forall(_.numInputRows == 10))
      // new commits keep draining under the same bound
      t.write(Seq((100L, "x"), (101L, "y")).toDF("id", "v").repartition(2))
      q.processAllAvailable()
      assert(spark.table("d4_rate").count() == 32)
    } finally q.stop()
  }

  test("D4: maxBytesPerTrigger always admits at least one file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("d4-rate-bytes").toString
    val t = DeltaTable.forPath(spark, dir)
    (0 until 3).foreach(k => t.write(Seq((k.toLong, s"r$k")).toDF("id", "v").coalesce(1)))
    val stream = spark.readStream
      .format("graft.streaming.DeltaStreamSourceProvider")
      .option("path", dir)
      .option("maxBytesPerTrigger", "1") // smaller than any file
      .load()
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("d4_rate_bytes").start()
    try {
      q.processAllAvailable()
      assert(spark.table("d4_rate_bytes").count() == 3)
      assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    } finally q.stop()
  }

  test("D4: startingVersion skips history; appends-only contract enforced") {
    import spark.implicits._
    val dir = Files.createTempDirectory("d4-startv").toString
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v")) // v0
    t.write(Seq((3L, "c")).toDF("id", "v"))            // v1
    val stream = spark.readStream
      .format("graft.streaming.DeltaStreamSourceProvider")
      .option("path", dir)
      .option("startingVersion", "1")
      .load()
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("d4_startv").start()
    try {
      q.processAllAvailable()
      assert(spark.table("d4_startv").select("id").as[Long].collect().toSeq == Seq(3L))
      // a data-changing delete fails the appends-only stream loudly
      t.delete(col("id") === 1)
      val ex = intercept[Exception](q.processAllAvailable())
      assert(ex.getMessage.contains("ignoreDeletes") ||
        Option(ex.getCause).exists(_.getMessage.contains("ignoreDeletes")))
    } finally q.stop()
  }

  test("D4: startingTimestamp resolves via commit timestamps (boundary, between, pre-history, future)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("d4-startts").toString
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1L, "a")).toDF("id", "v")) // v0
    t.write(Seq((2L, "b")).toDF("id", "v")) // v1
    t.write(Seq((3L, "c")).toDF("id", "v")) // v2
    // pin commit timestamps 10s apart so boundaries are unambiguous
    // (no ICT on this table → file mtimes are the commit times, the
    // same index batch time travel reads)
    val base = System.currentTimeMillis() - 300000L
    (0 to 2).foreach { v =>
      val f = new java.io.File(s"$dir/_delta_log/${"%020d".format(v)}.json")
      assert(f.setLastModified(base + v * 10000L))
    }

    def readFrom(ts: Long, name: String): Seq[Long] = {
      val q = spark.readStream
        .format("graft.streaming.DeltaStreamSourceProvider")
        .option("path", dir)
        .option("startingTimestamp", ts.toString)
        .load()
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try { q.processAllAvailable() } finally q.stop()
      spark.table(name).select("id").as[Long].collect().toSeq.sorted
    }
    // pre-history: everything
    assert(readFrom(base - 5000L, "d4_ts_pre") == Seq(1L, 2L, 3L))
    // exact boundary: v1's own commit time is included
    assert(readFrom(base + 10000L, "d4_ts_exact") == Seq(2L, 3L))
    // between v1 and v2: next commit at-or-after
    assert(readFrom(base + 15000L, "d4_ts_between") == Seq(3L))
    // past the last commit: only future appends
    val futureQ = spark.readStream
      .format("graft.streaming.DeltaStreamSourceProvider")
      .option("path", dir)
      .option("startingTimestamp", (base + 999999L).toString)
      .load()
      .writeStream.outputMode("append").format("memory")
      .queryName("d4_ts_future").start()
    try {
      futureQ.processAllAvailable()
      assert(spark.table("d4_ts_future").isEmpty, "nothing before new commits")
      t.write(Seq((9L, "z")).toDF("id", "v")) // v3, arrives after start
      futureQ.processAllAvailable()
      assert(spark.table("d4_ts_future").select("id").as[Long]
        .collect().toSeq == Seq(9L))
    } finally futureQ.stop()
    // mutual exclusion with startingVersion (surfaces either at start
    // or wrapped in the query's failure, depending on init timing)
    val e = intercept[Exception] {
      val q = spark.readStream
        .format("graft.streaming.DeltaStreamSourceProvider")
        .option("path", dir)
        .option("startingVersion", "0")
        .option("startingTimestamp", base.toString)
        .load()
        .writeStream.format("memory").queryName("d4_ts_both").start()
      try q.processAllAvailable() finally q.stop()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("at most one")), s"got: ${msgs(e)}")
  }

  test("D4: ignoreDeletes permits delete-only commits") {
    import spark.implicits._
    val dir = Files.createTempDirectory("d4-igndel").toString
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1L, "a")).toDF("id", "v")) // v0
    // remove-only commit (e.g. dropping a partition)
    val txn = t.deltaLog.startTransaction()
    val f = t.snapshot.allFiles.head
    txn.commit(Seq(f.remove(t.deltaLog.clock.nowMillis)), "DELETE")
    t.write(Seq((2L, "b")).toDF("id", "v")) // v2
    val stream = spark.readStream
      .format("graft.streaming.DeltaStreamSourceProvider")
      .option("path", dir)
      .option("ignoreDeletes", "true")
      .load()
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("d4_igndel").start()
    try {
      q.processAllAvailable()
      assert(spark.table("d4_igndel").select("id").as[Long].collect().sorted.toSeq
        == Seq(1L, 2L))
    } finally q.stop()
  }

  test("D4: skipChangeCommits passes over DV delete commits without duplicates") {
    import spark.implicits._
    val dir = Files.createTempDirectory("d4-skipchg").toString
    val t = DeltaTable.forPath(spark, dir)
    val df0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = df0.schema.json,
      configuration = Map("delta.enableDeletionVectors" -> "true")))
    txn.commit(Nil, Op.CreateTable)
    t.write(df0)                         // v1: append
    t.delete(col("id") === 1)            // v2: DV remove+re-add (change commit)
    t.write(Seq((3L, "c")).toDF("id", "v")) // v3: append
    val stream = spark.readStream
      .format("graft.streaming.DeltaStreamSourceProvider")
      .option("path", dir)
      .option("skipChangeCommits", "true")
      .load()
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("d4_skipchg").start()
    try {
      q.processAllAvailable()
      // both appends arrive once each; the DV commit's re-added file is
      // NOT re-streamed (id 1,2 would appear twice under ignoreChanges)
      assert(spark.table("d4_skipchg").select("id").as[Long].collect().sorted.toSeq
        == Seq(1L, 2L, 3L))
      // and further change commits keep the stream alive
      t.delete(col("id") === 2)
      t.write(Seq((4L, "d")).toDF("id", "v"))
      q.processAllAvailable()
      assert(spark.table("d4_skipchg").select("id").as[Long].collect().sorted.toSeq
        == Seq(1L, 2L, 3L, 4L))
    } finally q.stop()
  }

  test("watermark drops late rows beyond the threshold") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("wm-src")
    // batch 1 reaches 11:00, so the watermark (10:30) passes the end of
    // the 09:00-10:00 window and append mode emits it on the next batch;
    // batch 2 then delivers a 07:00 event far behind the watermark.
    Seq(("2024-01-01 09:00:00", 1L), ("2024-01-01 10:00:00", 2L), ("2024-01-01 11:00:00", 3L))
      .toDF("ts_s", "id").withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
      .write.parquet(srcDir.resolve("b1").toString)

    val schema = spark.read.parquet(srcDir.resolve("b1").toString).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir.toString + "/*")
    val agg = stream
      .withWatermark("ts", "30 minutes")
      .groupBy(window($"ts", "1 hour")).agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("wm_out").start()
    try {
      q.processAllAvailable()
      // late batch: 07:00 arrives after the watermark passed 10:30
      Seq(("2024-01-01 07:00:00", 4L))
        .toDF("ts_s", "id").withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
        .write.parquet(srcDir.resolve("b2").toString)
      q.processAllAvailable()
    } finally q.stop()
    val wins = spark.table("wm_out")
      .select($"window.start".cast("string").as("s"), $"n").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the 09:00 window closed and emitted; the late 07:00 row was dropped
    assert(wins.get("2024-01-01 09:00:00").contains(1L))
    assert(!wins.contains("2024-01-01 07:00:00"))
  }

  /** Shared backlog for the withEventTimeOrder pins: three one-file
    * commits whose event times are OUT of commit order — the 08:00 tail
    * lands in the LAST commit, exactly the shape that a commit-order
    * drain drops once the watermark has passed it.
    */
  private def outOfOrderBacklog(): String = {
    import spark.implicits._
    // INT96 (Spark's legacy default) carries no usable footer min/max —
    // event-time ordering needs annotated INT64 timestamp stats
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val dir = Files.createTempDirectory("d4-eto").toString
    val t = DeltaTable.forPath(spark, dir)
    def commit(ts: String, ids: Seq[Long]): Unit =
      t.write(ids.map(i => (ts, i)).toDF("ts_s", "id")
        .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s").coalesce(1))
    commit("2024-01-01 10:00:00", Seq(1L, 2L)) // v0
    commit("2024-01-01 12:00:00", Seq(3L))     // v1: advances watermark past 08:00
    commit("2024-01-01 08:00:00", Seq(4L, 5L)) // v2: the out-of-order tail
    dir
  }

  private def windowedCounts(dir: String, name: String,
      extraOptions: Map[String, String]): Map[String, Long] = {
    import spark.implicits._
    var stream = spark.readStream
      .format("graft.streaming.DeltaStreamSourceProvider")
      .option("path", dir)
      .option("maxFilesPerTrigger", "1") // one commit per micro-batch
    extraOptions.foreach { case (k, v) => stream = stream.option(k, v) }
    val agg = stream.load()
      .withWatermark("ts", "30 minutes")
      .groupBy(window($"ts", "1 hour")).agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
      .select($"window.start".cast("string").as("s"), $"n").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("D4: withEventTimeOrder drains the initial snapshot in event-time order (no watermark drops)") {
    val dir = outOfOrderBacklog()
    // commit-order drain: watermark reaches 11:30 before the 08:00 tail
    // arrives — those rows are silently dropped and the window is lost
    val unordered = windowedCounts(dir, "eto_off", Map.empty)
    assert(!unordered.contains("2024-01-01 08:00:00"),
      s"expected the 08:00 tail to be dropped in commit order, got $unordered")
    // event-time order: the backlog drains 08:00 -> 10:00 -> 12:00, the
    // watermark trails the data, nothing drops
    val ordered = windowedCounts(dir, "eto_on", Map(
      "withEventTimeOrder" -> "true", "eventTimeOrderColumn" -> "ts"))
    assert(ordered.get("2024-01-01 08:00:00").contains(2L), ordered.toString)
    assert(ordered.get("2024-01-01 10:00:00").contains(2L), ordered.toString)
    // commits AFTER the initial snapshot tail normally and still stream
    import spark.implicits._
    val t = DeltaTable.forPath(spark, dir)
    val stream = spark.readStream
      .format("graft.streaming.DeltaStreamSourceProvider")
      .option("path", dir)
      .option("withEventTimeOrder", "true").option("eventTimeOrderColumn", "ts")
      .load()
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("eto_tail").start()
    try {
      q.processAllAvailable()
      assert(spark.table("eto_tail").count() == 5)
      t.write(Seq(("2024-01-01 13:00:00", 6L)).toDF("ts_s", "id")
        .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s").coalesce(1))
      q.processAllAvailable()
      assert(spark.table("eto_tail").count() == 6)
    } finally q.stop()
    // option validation surfaces on the query thread
    val bad = spark.readStream.format("graft.streaming.DeltaStreamSourceProvider")
      .option("path", dir).option("withEventTimeOrder", "true").load()
      .writeStream.format("memory").queryName("eto_bad").start()
    val ex = intercept[Exception] {
      try bad.processAllAvailable() finally bad.stop()
    }
    assert(ex.getMessage.contains("eventTimeOrderColumn") ||
      Option(ex.getCause).exists(_.getMessage.contains("eventTimeOrderColumn")),
      ex.toString)
  }

  test("D4: withEventTimeOrder survives a restart mid-snapshot (snap offsets)") {
    import spark.implicits._
    val dir = outOfOrderBacklog()
    val ckpt = Files.createTempDirectory("d4-eto-ckpt").toString
    val out = Files.createTempDirectory("d4-eto-out").toString
    // durable file sink: exactly-once across restarts (memory sink
    // restarts empty and already-committed batches never replay)
    def start() = spark.readStream
      .format("graft.streaming.DeltaStreamSourceProvider")
      .option("path", dir)
      .option("withEventTimeOrder", "true").option("eventTimeOrderColumn", "ts")
      .option("maxFilesPerTrigger", "1")
      .load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()
    // run until at least one (but not all) micro-batches committed
    val q1 = start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (q1.recentProgress.count(_.numInputRows > 0) < 1 &&
          System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(q1.recentProgress.exists(_.numInputRows > 0), "no progress before stop")
    } finally q1.stop()
    // restart from the checkpoint: a FRESH source must resume inside the
    // event-time-sorted snapshot via the snap offset, not re-admit
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val ids = spark.read.parquet(out).select($"id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L, 5L),
      s"expected all 5 backlog rows exactly once, got $ids")
  }

  test("D4: withEventTimeOrder does not stall on an empty initial snapshot") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}
    val dir = Files.createTempDirectory("d4-eto-empty").toString
    val t = DeltaTable.forPath(spark, dir)
    val sch = StructType(Seq(
      StructField("ts", TimestampType), StructField("id", LongType)))
    val txn0 = t.deltaLog.startTransaction()
    txn0.updateMetadata(Metadata(schemaString = sch.json))
    txn0.commit(Nil, Op.CreateTable) // v0 exists, zero AddFiles
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val stream = spark.readStream
      .format("graft.streaming.DeltaStreamSourceProvider")
      .option("path", dir)
      .option("withEventTimeOrder", "true").option("eventTimeOrderColumn", "ts")
      .load()
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("eto_empty").start()
    try {
      // pre-fix: snapshot phase never completed (cursor stuck at None)
      // and commits made after stream start were never admitted
      q.processAllAvailable()
      assert(spark.table("eto_empty").isEmpty)
      t.write(Seq(("2024-01-01 10:00:00", 1L)).toDF("ts_s", "id")
        .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
        .select($"ts", $"id"))
      q.processAllAvailable()
      assert(spark.table("eto_empty").count() == 1)
    } finally q.stop()
  }

  test("D4: eventTimeOrderColumn resolves case-insensitively like Spark columns") {
    import spark.implicits._
    val dir = outOfOrderBacklog()
    // 'TS' for schema column 'ts': the session resolver is
    // case-insensitive by default, so this must stream, not reject
    val ordered = windowedCounts(dir, "eto_ci", Map(
      "withEventTimeOrder" -> "true", "eventTimeOrderColumn" -> "TS"))
    assert(ordered.get("2024-01-01 08:00:00").contains(2L), ordered.toString)
  }

  test("D4: numeric eventTimeOrderColumn is rejected (stats sort as strings)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("d4-eto-num").toString
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((9L, 1L), (10L, 2L)).toDF("ev_us", "id"))
    // "10" < "9" lexicographically: silently wrong ordering would
    // reintroduce the watermark-drop hazard the option exists to prevent
    val bad = spark.readStream
      .format("graft.streaming.DeltaStreamSourceProvider")
      .option("path", dir)
      .option("withEventTimeOrder", "true").option("eventTimeOrderColumn", "ev_us")
      .load().writeStream.format("memory").queryName("eto_num").start()
    val ex = intercept[Exception] {
      try bad.processAllAvailable() finally bad.stop()
    }
    def msgs(e: Throwable): List[String] =
      if (e == null) Nil else Option(e.getMessage).toList ++ msgs(e.getCause)
    assert(msgs(ex).exists(_.contains("timestamp or date")), ex.toString)
  }

  test("Complete-mode batch conflicts with an append that lands while it writes") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import spark.implicits._
    val dir = Files.createTempDirectory("complete-race").toString
    val t = DeltaTable.forPath(spark, dir)
    t.write((0L until 10L).toDF("id"))
    CompleteModeGate.started = new CountDownLatch(1)
    CompleteModeGate.release = new CountDownLatch(1)
    // the batch's one write task parks until the append below has landed
    val gate = udf { (x: Long) =>
      CompleteModeGate.started.countDown()
      CompleteModeGate.release.await(60, TimeUnit.SECONDS)
      x
    }.asNondeterministic()
    val batch = spark.range(100L, 105L, 1L, 1).select(gate(col("id")).as("id"))
    val replace = Future(t.writeStreamBatch(batch, "complete-app", 0L, overwrite = true))(
      ExecutionContext.global)
    try {
      assert(CompleteModeGate.started.await(60, TimeUnit.SECONDS), "batch write never started")
      t.write(Seq(42L).toDF("id")) // a blind append, committed mid-batch
    } finally CompleteModeGate.release.countDown()
    // the replacement read the whole table, so the append conflicts
    // instead of surviving a "complete" output
    intercept[DeltaErrors.ConcurrentAppendException](Await.result(replace, 120.seconds))
    assert(t.toDF.as[Long].collect().sorted.toSeq == (0L until 10L) :+ 42L)
  }
}

/** Latches the Complete-mode race test's UDF reads from its task thread. */
object CompleteModeGate {
  @volatile var started = new java.util.concurrent.CountDownLatch(1)
  @volatile var release = new java.util.concurrent.CountDownLatch(1)
}
