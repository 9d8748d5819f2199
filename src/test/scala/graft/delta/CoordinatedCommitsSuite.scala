package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Coordinated commits (public Delta `coordinatedCommits` writer
  * feature): commit atomicity moves from filesystem put-if-absent to an
  * external coordinator — staged commit files under
  * `_delta_log/_commits/`, reads merging ratified-but-unbackfilled
  * commits, the protocol gate round-tripping the feature name.
  */
class CoordinatedCommitsSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-cc").toString

  private var n = 0
  private def freshName(): String = { n += 1; s"cc-suite-$n" }

  private def df(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  private def mkTable(dir: String, coord: String,
      batch: Int = 1): DeltaTable = {
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(schemaString = df((0L, "x")).schema.json,
      configuration = Map(
        "delta.coordinatedCommits.commitCoordinator" -> s"memory:$coord",
        "delta.coordinatedCommits.backfillBatchSize" -> batch.toString)))
    txn.commit(Nil, Op.CreateTable)
    t
  }

  test("commit goes through the coordinator and backfills to <v>.json") {
    val dir = tmp()
    val coord = freshName()
    val t = mkTable(dir, coord)
    t.write(df((1L, "a")))   // v1, coordinated
    t.write(df((2L, "b")))   // v2
    assert(t.toDF.count() == 2L)
    // default batchSize=1: classic names exist, staged garbage swept,
    // coordinator drained
    val log = t.deltaLog
    (0L to 2L).foreach(v =>
      assert(log.store.exists(FileNames.deltaFile(log.logPath, v)), s"v$v"))
    val stagedDir = CoordinatedCommits.commitsDir(log.logPath)
    val fs = stagedDir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(stagedDir) || fs.listStatus(stagedDir).isEmpty)
    assert(InMemoryTableCommitCoordinator.named(coord)
      .getCommits(CoordinatedCommits.tableKey(log)).isEmpty)
  }

  test("protocol gate round-trips the feature name") {
    val dir = tmp()
    val t = mkTable(dir, freshName())
    t.write(df((1L, "a")))
    val p = t.deltaLog.update().protocol
    assert(p.minWriterVersion == 7, p.toString)
    assert(p.writerFeatures.exists(_.contains(CoordinatedCommits.FeatureName)), p.toString)
    // a fresh log replays the feature and still passes the write gate
    val log2 = new DeltaLog(spark, new org.apache.hadoop.fs.Path(dir))
    log2.update().assertProtocolWrite()
    // an UNKNOWN coordinator name fails loudly instead of forking the
    // log — at the enablement commit itself (commit() resolves a staged
    // coordinator name with write-path strictness before writing)
    val t2 = DeltaTable.forPath(spark, tmp())
    val txn = t2.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(schemaString = df((0L, "x")).schema.json,
      configuration = Map(
        "delta.coordinatedCommits.commitCoordinator" -> "dynamodb:prod")))
    val e = intercept[IllegalArgumentException](txn.commit(Nil, Op.CreateTable))
    assert(e.getMessage.contains("unknown commit coordinator"), e.getMessage)
  }

  test("read-your-write across sessions: a fresh log merges unbackfilled commits") {
    val dir = tmp()
    val coord = freshName()
    // batchSize 100: nothing backfills on its own
    val t = mkTable(dir, coord, batch = 100)
    t.write(df((1L, "a")))   // v1 ratified, NOT backfilled
    t.write(df((2L, "b")))   // v2 ratified, NOT backfilled
    // a SECOND log instance (fresh session's view) must see both rows:
    // its snapshot merges the coordinator's staged tail — with ZERO
    // backfill copies (the classic names stay absent)
    val log2 = new DeltaLog(spark, new org.apache.hadoop.fs.Path(dir))
    val s2 = log2.update()
    assert(s2.version == 2L, s2.version.toString)
    assert(new DeltaTable2Probe(spark, log2).count == 2L)
    (1L to 2L).foreach(v =>
      assert(!log2.store.exists(FileNames.deltaFile(log2.logPath, v)),
        s"read path must not backfill v$v"))
  }

  test("deferred backfill: batch boundary flushes the staged backlog") {
    val dir = tmp()
    val coord = freshName()
    val t = mkTable(dir, coord, batch = 3)
    val log = t.deltaLog
    t.write(df((1L, "a")))   // v1: 1 % 3 != 0 -> staged only
    assert(!log.store.exists(FileNames.deltaFile(log.logPath, 1L)))
    assert(InMemoryTableCommitCoordinator.named(coord)
      .getCommits(CoordinatedCommits.tableKey(log)).map(_.version) == Seq(1L))
    assert(t.toDF.count() == 1L,
      "staged-but-unbackfilled commit must be readable")
    t.write(df((2L, "b")))   // v2: staged only
    t.write(df((3L, "c")))   // v3: 3 % 3 == 0 -> backfills v1..v3
    (1L to 3L).foreach(v =>
      assert(log.store.exists(FileNames.deltaFile(log.logPath, v)), s"v$v"))
    assert(InMemoryTableCommitCoordinator.named(coord)
      .getCommits(CoordinatedCommits.tableKey(log)).isEmpty)
    assert(t.toDF.count() == 3L)
  }

  test("history and CDF read the staged tail before backfill") {
    val dir = tmp()
    val coord = freshName()
    val t = mkTable(dir, coord, batch = 100)
    t.write(df((1L, "a")))   // v1 staged only
    t.write(df((2L, "b")))   // v2 staged only
    val log = t.deltaLog
    assert(!log.store.exists(FileNames.deltaFile(log.logPath, 1L)))
    // version-addressed history over staged commits
    val ci = log.commitInfoAt(2L)
    assert(ci.exists(_.operation == Op.Write), ci.toString)
    // changes feed includes the staged tail, gap-free
    val ch = log.changes(0L, failOnDataLoss = true).toSeq
    assert(ch.map(_._1) == Seq(0L, 1L, 2L), ch.map(_._1).toString)
    assert(ch.flatMap(_._2).count(_.isInstanceOf[AddFile]) == 2)
  }

  test("checkpoint cadence works over a staged-only tail") {
    // 12 coordinated commits with backfill deferred past them all: the
    // interval checkpoint at v10 must still capture correct state, and
    // a FRESH reader (checkpoint + staged tail, zero classic deltas
    // past v0) must reconstruct the exact table
    val dir = tmp()
    val coord = freshName()
    val t = mkTable(dir, coord, batch = 1000)
    (1L to 12L).foreach(i => t.write(df((i, s"r$i"))))
    val log = t.deltaLog
    assert(log.store.exists(FileNames.checkpointFile(log.logPath, 10L)),
      "interval checkpoint missing at v10")
    (1L to 12L).foreach(v =>
      assert(!log.store.exists(FileNames.deltaFile(log.logPath, v)),
        s"v$v should still be staged-only"))
    val log2 = new DeltaLog(spark, new org.apache.hadoop.fs.Path(dir))
    val s2 = log2.update()
    assert(s2.version == 12L, s2.version.toString)
    assert(new DeltaTable2Probe(spark, log2).count == 12L)
  }

  test("disabling the coordinator over a staged-only tail cannot gap the log") {
    val dir = tmp()
    val coord = freshName()
    val t = mkTable(dir, coord, batch = 100)
    t.write(df((1L, "a")))   // v1 staged only
    t.write(df((2L, "b")))   // v2 staged only
    // v3 = the DISABLEMENT commit — snapshot still has the coordinator,
    // so it stages too
    spark.sql(s"ALTER TABLE graft.`$dir` UNSET TBLPROPERTIES " +
      "('delta.coordinatedCommits.commitCoordinator')")
    val log = t.deltaLog
    assert(!log.store.exists(FileNames.deltaFile(log.logPath, 3L)))
    // v4 = first CLASSIC commit: it must materialize the staged tail
    // below it first, or listDeltaVersions gaps and every snapshot dies
    t.write(df((4L, "d")))
    (0L to 4L).foreach(v =>
      assert(log.store.exists(FileNames.deltaFile(log.logPath, v)),
        s"classic v$v missing — log gap"))
    val log2 = new DeltaLog(spark, new org.apache.hadoop.fs.Path(dir))
    assert(log2.update().version == 4L)
    assert(new DeltaTable2Probe(spark, log2).count == 3L) // rows 1, 2, 4
  }

  // ------------------------------------------------- fs coordinator

  private def mkFsTable(dir: String, batch: Int = 1): DeltaTable = {
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(schemaString = df((0L, "x")).schema.json,
      configuration = Map(
        "delta.coordinatedCommits.commitCoordinator" -> "fs",
        "delta.coordinatedCommits.backfillBatchSize" -> batch.toString)))
    txn.commit(Nil, Op.CreateTable)
    t
  }

  private def addOf(tag: String) = AddFile(
    path = s"part-$tag.parquet", partitionValues = Map.empty, size = 1L,
    modificationTime = 0L, dataChange = true,
    stats = """{"numRecords":1}""")

  test("fs coordinator: ratify state survives a restart (derived from the log dir alone)") {
    val dir = tmp()
    val t = mkFsTable(dir, batch = 100)
    t.write(df((1L, "a")))   // v1 ratified via marker, NOT backfilled
    t.write(df((2L, "b")))   // v2
    val log = t.deltaLog
    (1L to 2L).foreach(v =>
      assert(!log.store.exists(FileNames.deltaFile(log.logPath, v)),
        s"v$v must be staged-only under batch=100"))
    // "restart": a brand-new DeltaLog resolves a brand-new (stateless)
    // coordinator instance, which reconstructs the ratified tail from
    // the marker files alone — the memory coordinator's cold-registry
    // failure mode cannot happen here
    val log2 = new DeltaLog(spark, new org.apache.hadoop.fs.Path(dir))
    val s2 = log2.update()
    assert(s2.version == 2L, s2.version.toString)
    assert(new DeltaTable2Probe(spark, log2).count == 2L)
    // and a post-restart writer continues the sequence through the
    // coordinator (its read snapshot included the staged tail)
    val v3 = log2.startTransaction().commit(Seq(addOf("post-restart")), Op.Write)
    assert(v3 == 3L, v3.toString)
  }

  test("fs coordinator: crash mid-backfill recovers (classic-but-unacked marker swept)") {
    val dir = tmp()
    val t = mkFsTable(dir, batch = 100)
    t.write(df((1L, "a")))
    t.write(df((2L, "b")))
    val log = t.deltaLog
    val c = CoordinatedCommits.coordinatorFor(log, log.update().metadataOpt).get
    val key = CoordinatedCommits.tableKey(log)
    val pending = c.getCommits(key)
    assert(pending.map(_.version) == Seq(1L, 2L), pending.toString)
    // simulate a crash BETWEEN v1's classic copy and its marker GC: land
    // the classic name by hand, leave the marker in place
    val stagedV1 = new org.apache.hadoop.fs.Path(
      CoordinatedCommits.commitsDir(log.logPath), pending.head.stagedName)
    log.store.write(FileNames.deltaFile(log.logPath, 1L),
      log.store.read(stagedV1).iterator)
    // recovery IS getCommits: v1 (classic exists) is filtered out and its
    // orphan marker swept lazily; v2 still pending
    val after = c.getCommits(key)
    assert(after.map(_.version) == Seq(2L), after.toString)
    // a full backfill drains the rest; a fresh reader sees the whole table
    CoordinatedCommits.ensureBackfilled(log, c)
    (1L to 2L).foreach(v =>
      assert(log.store.exists(FileNames.deltaFile(log.logPath, v)), s"v$v"))
    assert(c.getCommits(key).isEmpty)
    val log2 = new DeltaLog(spark, new org.apache.hadoop.fs.Path(dir))
    assert(log2.update().version == 2L)
    assert(new DeltaTable2Probe(spark, log2).count == 2L)
  }

  test("fs coordinator: re-ratifying an already-committed version is refused") {
    val dir = tmp()
    val t = mkFsTable(dir)   // batch=1: every version backfills, markers GC'd
    t.write(df((1L, "a")))
    val log = t.deltaLog
    val c = CoordinatedCommits.coordinatorFor(log, log.update().metadataOpt).get
    // the marker for v1 is gone; the classic <v>.json itself must guard
    val e = intercept[FileAlreadyExistsException](
      c.commit(CoordinatedCommits.tableKey(log), StagedCommit(1L, "bogus.json", 0L)))
    assert(e.getMessage.contains("already committed"), e.getMessage)
  }

  test("fs coordinator over honest s3a: two independent logs race 20 commits, zero lost") {
    // bind the in-memory object store (honest S3 semantics: no atomic
    // create-if-absent) and the claim-table log store the scheme needs
    spark.sparkContext.hadoopConfiguration.set("fs.s3a.impl",
      classOf[graft.testutil.ObjectStoreFileSystem].getName)
    spark.conf.set("spark.graft.logStore.coordinator",
      s"cc-fs-${java.util.UUID.randomUUID()}")
    try {
      val dir = s"s3a://cc-race-${n}/tbl"
      mkFsTable(dir, batch = 5)   // deferred backfill in the middle of the race
      val logA = new DeltaLog(spark, new org.apache.hadoop.fs.Path(dir))
      val logB = new DeltaLog(spark, new org.apache.hadoop.fs.Path(dir))
      val failures = new java.util.concurrent.atomic.AtomicInteger(0)
      def writer(log: DeltaLog, tag: String): Thread = new Thread(() => {
        try (1 to 10).foreach { i =>
          log.startTransaction().commit(Seq(addOf(s"$tag-$i")), Op.Write)
        } catch { case e: Throwable => e.printStackTrace(); failures.incrementAndGet() }
      })
      val (ta, tb) = (writer(logA, "a"), writer(logB, "b"))
      ta.start(); tb.start(); ta.join(); tb.join()
      assert(failures.get() == 0, "a racing writer died")
      val s = logA.update()
      assert(s.version == 20L, s.version.toString)
      val files = s.allFiles.map(_.path).toSet
      assert(files.size == 20, s"lost updates: ${files.size} of 20 files")
      // a third, cold instance agrees (markers + staged tail on the FS)
      val logC = new DeltaLog(spark, new org.apache.hadoop.fs.Path(dir))
      assert(logC.update().allFiles.map(_.path).toSet == files)
    } finally spark.conf.unset("spark.graft.logStore.coordinator")
  }

  test("maintenance over a staged tail: vacuum, checkpoint, log cleanup never touch it") {
    val dir = tmp()
    // fs coordinator (ratify markers on disk), deferred backfill, and
    // maximally aggressive log cleanup — the hostile maintenance combo
    val t = DeltaTable.forPath(spark, dir)
    val txn0 = t.deltaLog.startTransaction()
    txn0.updateMetadata(Metadata(schemaString = df((0L, "x")).schema.json,
      configuration = Map(
        "delta.coordinatedCommits.commitCoordinator" -> "fs",
        "delta.coordinatedCommits.backfillBatchSize" -> "100",
        "delta.enableExpiredLogCleanup" -> "true",
        "delta.logRetentionDuration" -> "interval 0 hours")))
    txn0.commit(Nil, Op.CreateTable)
    t.write(df((1L, "a")))   // v1 staged-only: its data file is referenced
    t.write(df((2L, "b")))   // v2 staged-only      ONLY by a staged commit
    val log = t.deltaLog
    (1L to 2L).foreach(v =>
      assert(!log.store.exists(FileNames.deltaFile(log.logPath, v)), s"v$v"))
    // VACUUM at zero retention: the staged adds must be LIVE (the
    // snapshot merges the staged tail) — were the tail invisible, both
    // data files would be untracked-file candidates and the table would
    // be destroyed. Zero candidates expected.
    val dry = t.vacuum(Some(0L), dryRun = true)
    assert(dry.deletedCount == 0L, s"vacuum wants to delete staged-live " +
      s"data: ${dry.sample}")
    t.vacuum(Some(0L))
    assert(t.toDF.count() == 2L, "vacuum ate staged-commit data")
    // checkpoint at the staged head + expired-log cleanup (retention 0):
    // classic v0.json is fair game, the _commits payloads and ratify
    // markers are NOT — sweeping an unbackfilled staged commit would
    // lose it forever
    val s = log.update()
    log.checkpoint(s)
    val commitsDir = CoordinatedCommits.commitsDir(log.logPath)
    val fs = commitsDir.getFileSystem(spark.sessionState.newHadoopConf())
    val names = fs.listStatus(commitsDir).map(_.getPath.getName).toSet
    assert(names.exists(_.endsWith(".ratified")),
      s"cleanup swept the ratify markers: $names")
    assert(names.exists(_.endsWith(".json")),
      s"cleanup swept the staged payloads: $names")
    // a cold reader over the post-maintenance log (checkpoint + staged
    // tail, classic tail possibly swept) reconstructs the exact table
    val log2 = new DeltaLog(spark, new org.apache.hadoop.fs.Path(dir))
    assert(new DeltaTable2Probe(spark, log2).count == 2L)
    // and backfill still drains cleanly afterwards
    val c = CoordinatedCommits.coordinatorFor(log2, log2.update().metadataOpt).get
    CoordinatedCommits.ensureBackfilled(log2, c)
    assert(c.getCommits(CoordinatedCommits.tableKey(log2)).isEmpty)
    val log3 = new DeltaLog(spark, new org.apache.hadoop.fs.Path(dir))
    assert(new DeltaTable2Probe(spark, log3).count == 2L)
  }

  test("unknown coordinator: readers serve the backfilled view, writers fail loudly") {
    val dir = tmp()
    val t = mkTable(dir, freshName())   // memory coordinator, batch=1: backfilled
    t.write(df((1L, "a")))
    val log = t.deltaLog
    // a FOREIGN engine flips the table to a coordinator we cannot reach
    // (hand-written commit — our own writer correctly refuses to)
    val md2 = log.update().metadataOpt.get
    val foreign = md2.copy(configuration = md2.configuration +
      ("delta.coordinatedCommits.commitCoordinator" -> "dynamodb:prod"))
    log.store.write(FileNames.deltaFile(log.logPath, 2L),
      Iterator(Actions.toJson(foreign)))
    // read path: serve the filesystem-backfilled view (spec: the feature
    // is writer-only), not an exception
    val log2 = new DeltaLog(spark, new org.apache.hadoop.fs.Path(dir))
    val s2 = log2.update()
    assert(s2.version == 2L, s2.version.toString)
    assert(new DeltaTable2Probe(spark, log2).count == 1L)
    // write path: hard failure — a filesystem commit behind the foreign
    // coordinator's back would fork the table
    val e = intercept[IllegalArgumentException](
      log2.startTransaction().commit(Seq(addOf("x")), Op.Write))
    assert(e.getMessage.contains("unknown commit coordinator"), e.getMessage)
  }

  test("two-writer race: loser retries through the coordinator, both rows land") {
    val dir = tmp()
    val coord = freshName()
    mkTable(dir, coord)
    // two independent log instances, SAME read snapshot
    val logA = new DeltaLog(spark, new org.apache.hadoop.fs.Path(dir))
    val logB = new DeltaLog(spark, new org.apache.hadoop.fs.Path(dir))
    val txnA = logA.startTransaction()
    val txnB = logB.startTransaction()
    assert(txnA.readVersion == 0L && txnB.readVersion == 0L)
    def addOf(tag: String) = AddFile(
      path = s"part-$tag.parquet", partitionValues = Map.empty, size = 1L,
      modificationTime = 0L, dataChange = true,
      stats = """{"numRecords":1}""")
    val vA = txnA.commit(Seq(addOf("a")), Op.Write)
    // B committed second: its first attempt's version is ratified to A,
    // so the coordinator throws it into the retry loop; the retry lands
    // at the next version after the conflict check passes (blind append)
    val vB = txnB.commit(Seq(addOf("b")), Op.Write)
    assert(vA == 1L && vB == 2L, s"$vA / $vB")
    val files = logA.update().allFiles.map(_.path).toSet
    assert(files == Set("part-a.parquet", "part-b.parquet"), files.toString)
  }
}

/** toDF against an explicit (uncached) DeltaLog. */
private class DeltaTable2Probe(spark: SparkSession, log: DeltaLog) {
  def count: Long = {
    val s = log.snapshot
    val files = s.allFiles.map(f =>
      FileNames.absolutePathString(log.dataPath, f.path))
    if (files.isEmpty) 0L
    else spark.read.parquet(files: _*).count()
  }
}
