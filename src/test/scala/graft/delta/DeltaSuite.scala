package graft.delta

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata => _, _}
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

class DeltaSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String =
    Files.createTempDirectory("graft-delta").toString

  private def sampleDF = {
    import spark.implicits._
    Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y"), (4L, "d", "y"), (5L, "e", "z"))
      .toDF("id", "name", "part")
  }

  // ----------------------------------------------------------- A1 actions

  test("A1: action json roundtrip") {
    val actions: Seq[Action] = Seq(
      AddFile("p=1/f.parquet", Map("p" -> "1"), 123L, 456L, dataChange = true,
        stats = """{"numRecords":5}"""),
      RemoveFile("f2.parquet", Some(789L), dataChange = true,
        extendedFileMetadata = true, Map("p" -> "2"), Some(11L)),
      Metadata(id = "mid", name = "t", schemaString = new StructType()
        .add("id", LongType).add("p", StringType).json,
        partitionColumns = Seq("p"), configuration = Map("k" -> "v"),
        createdTime = Some(1L)),
      Protocol(1, 2),
      SetTransaction("app1", 7L, Some(3L)),
      AddCDCFile("cdc.parquet", Map.empty, 10L),
      CommitInfo(Some(3L), 1000L, "WRITE", Map("mode" -> "Append"),
        Some(2L), Some("Serializable"), Some(true), Map.empty, Some("graft"), Some("tid")))
    actions.foreach { a =>
      val json = Actions.toJson(a)
      assert(!json.contains("\n"))
      assert(Actions.fromJson(json).contains(a), s"roundtrip failed for $json")
    }
  }

  test("A1: reference-shaped json parses") {
    // field layout as in reference action/add.go / actions_test.go
    val line = """{"add":{"path":"part-0.parquet","partitionValues":{"x":"2"},"size":452,"modificationTime":1564524299000,"dataChange":true,"stats":"{\"numRecords\":1}"}}"""
    val a = Actions.fromJson(line).get.asInstanceOf[AddFile]
    assert(a.path == "part-0.parquet" && a.partitionValues == Map("x" -> "2")
      && a.size == 452 && a.dataChange)
    assert(Actions.fromJson("""{"unknownAction":{"x":1}}""").isEmpty)
  }

  // ------------------------------------------------------------ A2 schema

  test("A2: schema codec roundtrips nested types") {
    val s = new StructType()
      .add("i", IntegerType, nullable = false)
      .add("arr", ArrayType(StringType))
      .add("m", MapType(StringType, LongType))
      .add("nested", new StructType().add("d", DecimalType(18, 4)).add("ts", TimestampType))
    assert(SchemaCodec.fromJson(SchemaCodec.toJson(s)) == s)
    // the delta wire format is spark's json format (type_parser.go parses this shape)
    assert(SchemaCodec.toJson(s).contains(""""type":"struct""""))
  }

  // ------------------------------------------------------------- A3 store

  test("A3: log store put-if-absent and ordered listFrom") {
    val dir = tmp()
    val store = new HadoopLogStore(spark.sessionState.newHadoopConf())
    val p0 = new Path(dir, "00000000000000000000.json")
    store.write(p0, Iterator("a", "b"))
    assert(store.read(p0) == Seq("a", "b"))
    intercept[FileAlreadyExistsException] { store.write(p0, Iterator("x")) }
    assert(store.read(p0) == Seq("a", "b")) // loser must not clobber
    store.write(new Path(dir, "00000000000000000002.json"), Iterator("c"))
    store.write(new Path(dir, "00000000000000000001.json"), Iterator("d"))
    val names = store.listFrom(new Path(dir, "00000000000000000001.json"))
      .map(_.getPath.getName)
    assert(names == Seq("00000000000000000001.json", "00000000000000000002.json"))
  }

  // ------------------------------------- A3 external-coordination store

  test("A3: external store claims versions through the coordinator, not the fs") {
    val dir = tmp()
    val conf = spark.sessionState.newHadoopConf()
    // two store instances = two drivers; the shared named coordinator is
    // the DynamoDB-table equivalent
    val coord = InMemoryCommitCoordinator.named(s"t-${java.util.UUID.randomUUID}")
    val a = new ExternalLogStore(conf, coord)
    val b = new ExternalLogStore(conf, coord)
    val p0 = new Path(dir, "00000000000000000000.json")
    a.write(p0, Iterator("a1"))
    intercept[FileAlreadyExistsException] { b.write(p0, Iterator("b1")) }
    assert(b.read(p0) == Seq("a1")) // loser must not clobber
    // no stray temp objects left behind
    val names = a.listFrom(new Path(dir, "0")).map(_.getPath.getName)
    assert(names == Seq("00000000000000000000.json"))
  }

  test("A3: external store recovers a claimed-but-uncopied commit") {
    val dir = tmp()
    val conf = spark.sessionState.newHadoopConf()
    val coord = InMemoryCommitCoordinator.named(s"t-${java.util.UUID.randomUUID}")
    val a = new ExternalLogStore(conf, coord)
    val p0 = new Path(dir, "00000000000000000000.json")
    a.write(p0, Iterator("v0"))
    // driver died between claiming v1 and copying it into place: only the
    // temp object and the incomplete coordinator entry exist
    val fs = p0.getFileSystem(conf)
    val dirKey = fs.makeQualified(new Path(dir)).toString
    val temp = new Path(dir, ".tmp-dead-writer-00000000000000000001.json")
    val out = fs.create(temp, true); out.write("v1\n".getBytes("UTF-8")); out.close()
    coord.putIfAbsent(ExternalCommitEntry(dirKey, "00000000000000000001.json",
      temp.getName, complete = false, commitTime = 1L))
    // any other driver's next read completes the commit first
    val b = new ExternalLogStore(conf, coord)
    val names = b.listFrom(new Path(dir, "0")).map(_.getPath.getName)
    assert(names.contains("00000000000000000001.json"))
    assert(b.read(new Path(dir, "00000000000000000001.json")) == Seq("v1"))
    assert(coord.latest(dirKey).exists(_.complete))
    // and the next version claims cleanly on top
    b.write(new Path(dir, "00000000000000000002.json"), Iterator("v2"))
    assert(b.listFrom(new Path(dir, "0")).map(_.getPath.getName).size == 3)
  }

  test("A3: racing multi-driver commits through the external store lose no updates") {
    val dir = tmp()
    val conf = spark.sessionState.newHadoopConf()
    val coordName = s"t-${java.util.UUID.randomUUID}"
    // seed the table through one driver
    val seedLog = new DeltaLog(spark, new Path(dir), Some(
      new ExternalLogStore(conf, InMemoryCommitCoordinator.named(coordName))))
    val seedTxn = seedLog.startTransaction()
    seedTxn.updateMetadata(Metadata(schemaString = sampleDF.schema.json))
    seedTxn.commit(Nil, Op.CreateTable) // v0
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 6).map { i =>
      new Thread(() => {
        try (0 until 5).foreach { j =>
          // each iteration: a fresh DeltaLog + fresh store instance — no
          // shared JVM lock, no shared snapshot cache; only the named
          // coordinator is common, as DynamoDB would be across drivers
          val store = new ExternalLogStore(conf, InMemoryCommitCoordinator.named(coordName))
          val txn = new DeltaLog(spark, new Path(dir), Some(store)).startTransaction()
          txn.commit(Seq(AddFile(s"ext-$i-$j.parquet", Map.empty, 1L, 1L)), Op.Write)
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"unexpected failures: ${errors.peek()}")
    val snap = new DeltaLog(spark, new Path(dir), Some(
      new ExternalLogStore(conf, InMemoryCommitCoordinator.named(coordName)))).update()
    assert(snap.version == 30L, "v0 + 30 racing commits")
    val paths = snap.allFiles.map(_.path).filter(_.startsWith("ext-"))
    assert(paths.size == 30 && paths.distinct.size == 30)
  }

  // ---------------------------------------------- A4/A5/A16 write + read

  test("A16/A4/A5: create, append, overwrite, read back") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append, Seq("part"))
    assert(DeltaTable.isDeltaTable(spark, dir))
    assert(!DeltaTable.isDeltaTable(spark, tmp()))
    assert(t.toDF.count() == 5)

    t.write(sampleDF.filter(col("id") <= 2), SaveMode.Append)
    assert(t.toDF.count() == 7)
    assert(t.snapshot.version == 1)

    t.write(sampleDF.filter(col("id") === 1), SaveMode.Overwrite)
    val rows = t.toDF.collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("id") == 1L)
    // overwrite produced tombstones
    assert(t.snapshot.tombstones.nonEmpty)
    // schema mismatch rejected
    intercept[IllegalArgumentException] {
      t.write(sampleDF.withColumnRenamed("name", "nom"))
    }
  }

  // -------------------------------------------------------- A6 pruning

  test("A6: partition pruned scan splits pushed vs residual") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append, Seq("part"))
    val scan = t.scan(col("part") === "x" && col("id") > 1)
    assert(scan.pushedPredicate.isDefined && scan.residualPredicate.isDefined)
    val files = scan.files
    assert(files.nonEmpty)
    assert(files.forall(_.partitionValues("part") == "x"))
    assert(files.size < t.snapshot.allFiles.size)
    val rows = t.read(col("part") === "x" && col("id") > 1).collect()
    assert(rows.map(_.getAs[Long]("id")).sorted.toSeq == Seq(2L))
  }

  // ---------------------------------------------- A7/A8 time travel

  test("A7/A8: time travel by version and timestamp") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF.filter(col("id") <= 2), SaveMode.Append) // v0
    t.write(sampleDF.filter(col("id") > 2), SaveMode.Append) // v1
    assert(t.toDF(0).count() == 2)
    assert(t.toDF(1).count() == 5)
    intercept[IllegalArgumentException] { t.toDF(5) }

    // pin commit timestamps for deterministic timestamp travel
    val log = t.deltaLog
    val fs = log.logPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.setTimes(FileNames.deltaFile(log.logPath, 0), 1000000L, -1)
    fs.setTimes(FileNames.deltaFile(log.logPath, 1), 2000000L, -1)
    assert(log.versionBeforeOrAtTimestamp(1500000L).contains(0L))
    assert(log.versionAtOrAfterTimestamp(1500000L).contains(1L))
    assert(t.toDFAsOfTimestamp(1500000L).count() == 2)
    intercept[IllegalArgumentException] { t.toDFAsOfTimestamp(999L) }
    intercept[IllegalArgumentException] { t.toDFAsOfTimestamp(3000000L) }
  }

  // ---------------------------------------------- A9/A10 checkpoints

  test("A9/A10: checkpoint written on interval and used for snapshots") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    import spark.implicits._
    // interval 4 via table config on first commit
    val txn0 = t.deltaLog.startTransaction()
    txn0.updateMetadata(Metadata(
      schemaString = sampleDF.schema.json,
      configuration = Map("delta.checkpointInterval" -> "4")))
    txn0.commit(Nil, Op.CreateTable)
    (1 to 9).foreach { i =>
      t.write(sampleDF.filter(col("id") === (i % 5 + 1).toLong))
    }
    val log = t.deltaLog
    assert(Checkpoints.readLastCheckpoint(log.store, log.logPath).map(_.version).contains(8L))
    assert(log.store.exists(FileNames.checkpointFile(log.logPath, 4L)))
    assert(log.store.exists(FileNames.checkpointFile(log.logPath, 8L)))
    val snap = log.update()
    assert(snap.version == 9)
    assert(snap.segment.checkpoint.map(_.version).contains(8L))
    assert(snap.segment.deltas == Seq(9L))
    assert(t.toDF.count() == 9)
    // checkpoint-only reconstruction: time travel to the checkpoint version
    assert(t.toDF(8).count() == 8)
    // metadata survives through checkpoint state
    assert(snap.metadata.configuration("delta.checkpointInterval") == "4")
  }

  // ---------------------------------------- A11/A12/A13 txn + conflicts

  test("A11/A12: concurrent blind appends both land (retry, no conflict)") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append)
    val log = t.deltaLog
    val txnA = log.startTransaction()
    val txnB = log.startTransaction()
    val addA = AddFile("fa.parquet", Map.empty, 1L, 1L)
    val addB = AddFile("fb.parquet", Map.empty, 1L, 1L)
    assert(txnA.commit(Seq(addA), Op.Write) == 1L)
    // B read version 0 but A won version 1: blind append -> retried at 2
    assert(txnB.commit(Seq(addB), Op.Write) == 2L)
    assert(log.update().allFiles.map(_.path).count(p => p == "fa.parquet" || p == "fb.parquet") == 2)
  }

  test("A11: racing writers all land without lost updates") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append) // v0
    val log = t.deltaLog
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        try (0 until 5).foreach { j =>
          val txn = new DeltaLog(spark, log.dataPath).startTransaction()
          txn.commit(Seq(AddFile(s"race-$i-$j.parquet", Map.empty, 1L, 1L)), Op.Write)
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"unexpected failures: ${errors.peek()}")
    val snap = log.update()
    assert(snap.version == 40L, "v0 + 40 racing commits")
    val racePaths = snap.allFiles.map(_.path).filter(_.startsWith("race-"))
    assert(racePaths.size == 40 && racePaths.distinct.size == 40)
  }

  test("A12: metadata/protocol changes conflict") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append)
    val log = t.deltaLog
    val loser = log.startTransaction()
    loser.readWholeTable()
    val winner = log.startTransaction()
    winner.updateMetadata(winner.metadata.copy(name = "renamed"))
    winner.commit(Nil, Op.ManualUpdate)
    intercept[DeltaErrors.MetadataChangedException] {
      loser.commit(Seq(AddFile("x.parquet", Map.empty, 1L, 1L)), Op.Write)
    }
  }

  test("A12: concurrent append conflicts with overlapping read predicate") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append, Seq("part"))
    val log = t.deltaLog
    val loser = log.startTransaction()
    loser.markFilesAsRead(col("part") === "x")
    val winner = log.startTransaction()
    winner.commit(Seq(AddFile("part=x/new.parquet", Map("part" -> "x"), 1L, 1L)), Op.Write)
    intercept[DeltaErrors.ConcurrentAppendException] {
      loser.commit(Seq(AddFile("part=z/other.parquet", Map("part" -> "z"), 1L, 1L)), Op.Write)
    }
  }

  test("A12: disjoint-partition concurrent append is allowed") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append, Seq("part"))
    val log = t.deltaLog
    val loser = log.startTransaction()
    loser.markFilesAsRead(col("part") === "x")
    val winner = log.startTransaction()
    winner.commit(Seq(AddFile("part=y/new.parquet", Map("part" -> "y"), 1L, 1L)), Op.Write)
    // winner only touched part=y; loser read part=x -> compatible, lands
    // at the next free version after the winner
    val v = loser.commit(Seq(AddFile("part=x/mine.parquet", Map("part" -> "x"), 1L, 1L)), Op.Write)
    assert(v == 2L)
  }

  test("A12: conflict check against a 1000-file winning commit is driver-local and fast") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append, Seq("part"))
    val log = t.deltaLog
    val loser = log.startTransaction()
    loser.markFilesAsRead(col("part") === "x" && col("id") > 100L)
    // winner lands 1000 files in OTHER partitions — all must be evaluated
    // against the loser's read predicate without launching Spark jobs
    val winner = log.startTransaction()
    val adds = (0 until 1000).map(i =>
      AddFile(s"part=w$i/f$i.parquet", Map("part" -> s"w$i"), 1L, 1L))
    winner.commit(adds, Op.Write)
    val t0 = System.nanoTime()
    val v = loser.commit(Seq(AddFile("part=x/mine.parquet", Map("part" -> "x"), 1L, 1L)), Op.Write)
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(v == 2L)
    assert(elapsedMs < 2000, s"conflict check took ${elapsedMs}ms (expected < 2000ms)")
  }

  test("A12: delete-read and delete-delete conflicts") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append, Seq("part"))
    val log = t.deltaLog

    val reader = log.startTransaction()
    val readFiles = reader.markFilesAsRead(col("part") === "x")
    val deleter = log.startTransaction()
    val delFiles = deleter.markFilesAsRead(col("part") === "x")
    deleter.commit(delFiles.map(_.remove(1L)), "DELETE")
    intercept[DeltaErrors.ConcurrentDeleteReadException] {
      reader.commit(Seq(AddFile("part=x/r.parquet", Map("part" -> "x"), 1L, 1L)), Op.Write)
    }

    // delete-delete: both try to remove the same remaining file. d2 builds
    // its removes without registering reads (else delete-READ fires first,
    // which is also the reference's precedence).
    val d1 = log.startTransaction()
    val f1 = d1.markFilesAsRead(col("part") === "y")
    val d2 = log.startTransaction()
    val f2 = DeltaScan(d2.snapshot, Some(col("part") === "y")).files
    d1.commit(f1.map(_.remove(2L)), "DELETE")
    intercept[DeltaErrors.ConcurrentDeleteDeleteException] {
      d2.commit(f2.map(_.remove(3L)), "DELETE")
    }
  }

  test("A13: idempotent writer transactions via SetTransaction") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append)
    val log = t.deltaLog

    def appendOnce(batchId: Long): Boolean = {
      val txn = log.startTransaction()
      if (txn.txnVersion("app-1") >= batchId) false
      else {
        txn.commit(Seq(
          AddFile(s"b$batchId.parquet", Map.empty, 1L, 1L),
          SetTransaction("app-1", batchId, Some(1L))), "STREAMING UPDATE")
        true
      }
    }
    assert(appendOnce(0))
    assert(!appendOnce(0)) // replay skipped
    assert(appendOnce(1))
    assert(log.update().transactions("app-1") == 1L)

    // concurrent same-app txns conflict
    val t1 = log.startTransaction()
    t1.txnVersion("app-2")
    val t2 = log.startTransaction()
    t2.commit(Seq(SetTransaction("app-2", 0L, None)), Op.StreamingUpdate)
    intercept[DeltaErrors.ConcurrentTransactionException] {
      t1.commit(Seq(SetTransaction("app-2", 0L, None)), Op.StreamingUpdate)
    }
  }

  // ------------------------------------------- A14/A15/A18 history, CDF

  test("A14/A15: history, commitInfoAt, changes feed") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append, Seq("part")) // v0
    t.write(sampleDF, SaveMode.Append) // v1
    t.deleteWhere(col("part") === "x") // v2

    val h = t.history()
    assert(h.size == 3)
    assert(h.head.version.contains(2L))
    assert(h.map(_.operation) == Seq("DELETE", "WRITE", "WRITE"))
    val ci = t.deltaLog.commitInfoAt(1L).get
    assert(ci.operation == "WRITE" && ci.version.contains(1L))
    intercept[Exception] { t.deltaLog.commitInfoAt(9L) }

    val ch = t.changes(1L).toSeq
    assert(ch.map(_._1) == Seq(1L, 2L))
    assert(ch.head._2.exists(_.isInstanceOf[AddFile]))
    assert(ch(1)._2.exists(_.isInstanceOf[RemoveFile]))
    intercept[IllegalStateException] {
      // pretend version 0/1 got vacuumed away: ask below earliest available
      val log2 = DeltaLog.forTable(spark, dir)
      log2.store.delete(FileNames.deltaFile(log2.logPath, 0L))
      log2.changes(0L, failOnDataLoss = true).toSeq
    }
  }

  test("schema evolution: mergeSchema adds nullable columns in one commit") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name")) // v0
    // plain append with a new column fails with guidance
    val e = intercept[IllegalArgumentException] {
      t.write(Seq((3L, "c", 9.5)).toDF("id", "name", "score"))
    }
    assert(e.getMessage.contains("mergeSchema"))
    // evolving append succeeds
    t.write(Seq((3L, "c", 9.5)).toDF("id", "name", "score"), mergeSchema = true)
    val df = t.toDF
    assert(df.columns.toSeq == Seq("id", "name", "score"))
    val byId = df.collect().map(r => r.getAs[Long]("id") ->
      Option(r.getAs[Any]("score"))).toMap
    assert(byId(1L).isEmpty && byId(2L).isEmpty, "old files read null for the new column")
    assert(byId(3L).contains(9.5))
    // a NARROWER int id is up-cast to the table's long on write (lossless);
    // a lossy type change is always rejected
    t.write(Seq((4, "d", 1.0)).toDF("id", "name", "score"), mergeSchema = true)
    assert(t.toDF.filter(col("id") === 4L).count() == 1)
    intercept[IllegalArgumentException] {
      t.write(Seq(("x", "d", 1.0)).toDF("id", "name", "score"), mergeSchema = true)
    }
    intercept[IllegalArgumentException] {
      t.write(Seq(5L).toDF("id"), mergeSchema = true)
    }
  }

  test("A17: addfile stats harvested from parquet footers") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write((1L to 100L).map(i => (i, s"n$i")).toDF("id", "name"))
    val files = t.snapshot.allFiles
    assert(files.forall(_.stats != null))
    val st = spark.read.json(spark.createDataset(files.map(_.stats))(org.apache.spark.sql.Encoders.STRING))
    val row = st.selectExpr("sum(numRecords)", "min(minValues.id)", "max(maxValues.id)").head()
    assert(row.getLong(0) == 100L)
    assert(row.getLong(1) == 1L && row.getLong(2) == 100L)
  }

  test("A17: dataSkippingNumIndexedCols caps stats to the first N columns") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val df = (1L to 10L).map(i => (i, i * 2, s"n$i")).toDF("id", "v", "name")
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = df.schema.json,
      configuration = Map("delta.dataSkippingNumIndexedCols" -> "1")))
    txn.commit(Nil, Op.CreateTable)
    t.write(df)
    val stats = t.snapshot.allFiles.map(_.stats)
    assert(stats.forall(_ != null))
    assert(stats.forall(Stats.numRecords(_).isDefined),
      "numRecords must survive the column cap (row tracking depends on it)")
    assert(stats.forall(s => s.contains("\"id\"") && !s.contains("\"v\"")),
      s"only the first column may carry min/max: $stats")
    // skipping still works on the indexed column
    assert(t.read(col("id") > 100).count() == 0)
    assert(t.read(col("v") > 0).count() == 10, "unindexed columns never mis-skip")
  }

  test("A17: data skipping prunes files by stats min/max") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    // two range-disjoint files via repartitionByRange
    t.write((1L to 100L).map(i => (i, i * 2)).toDF("id", "v")
      .repartitionByRange(2, col("id")))
    val all = t.snapshot.allFiles
    assert(all.size == 2)
    val scanHigh = DeltaScan(t.snapshot, Some(col("id") > 90))
    assert(scanHigh.pushedPredicates.isEmpty && scanHigh.residualPredicates.nonEmpty)
    assert(scanHigh.files.size == 1, "stats should prune the low-range file")
    val scanAll = DeltaScan(t.snapshot, Some(col("id") > 0))
    assert(scanAll.files.size == 2)
    val scanEq = DeltaScan(t.snapshot, Some(col("id") === 7))
    assert(scanEq.files.size == 1)
    // correctness preserved through the pruned read
    assert(t.read(col("id") > 90).count() == 10)
  }

  test("A17: data skipping covers timestamp, date and decimal stats") {
    import spark.implicits._
    val dir = tmp()
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      val t = DeltaTable.forPath(spark, dir)
      def day(d: String) = java.sql.Date.valueOf(d)
      def ts(d: String) = java.sql.Timestamp.valueOf(d + " 12:30:00.123456")
      def dec(s: String) = new java.math.BigDecimal(s)
      // two commits = two files with disjoint ranges on every column
      t.write(Seq((1L, ts("2020-01-01"), day("2020-01-01"), dec("10.50")),
        (2L, ts("2020-06-01"), day("2020-06-01"), dec("20.25")))
        .toDF("id", "ev_ts", "ev_day", "price")
        .select($"id", $"ev_ts", $"ev_day", $"price".cast("decimal(10,2)").as("price"))
        .coalesce(1))
      t.write(Seq((3L, ts("2021-01-01"), day("2021-01-01"), dec("99.75")),
        (4L, ts("2021-06-01"), day("2021-06-01"), dec("150.00")))
        .toDF("id", "ev_ts", "ev_day", "price")
        .select($"id", $"ev_ts", $"ev_day", $"price".cast("decimal(10,2)").as("price"))
        .coalesce(1))
      assert(t.snapshot.allFiles.size == 2)
      def filesFor(p: org.apache.spark.sql.Column) =
        DeltaScan(t.snapshot, Some(p)).filesDF.count()
      assert(filesFor(col("ev_ts") > lit("2021-01-01 00:00:00").cast("timestamp")) == 1)
      assert(filesFor(col("ev_day") < lit("2020-12-31").cast("date")) == 1)
      assert(filesFor(col("price") >= lit(99)) == 1)
      assert(filesFor(col("id") > 100L) == 0)
      // correctness unharmed by pruning
      assert(t.read(col("ev_ts") > lit("2021-01-01 00:00:00").cast("timestamp")).count() == 2)
    } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
  }

  test("A17: MILLIS timestamps and non-UTC sessions skip safely") {
    import spark.implicits._
    val dir = tmp()
    // TIMESTAMP_MILLIS files: the raw INT64 footer stat is milliseconds —
    // treated as micros it would decode to ~1970 and every `ts > 2021`
    // predicate would skip every file (silent row loss)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try {
      val t = DeltaTable.forPath(spark, dir)
      def ts(d: String) = java.sql.Timestamp.valueOf(d + " 12:30:00")
      t.write(Seq((1L, ts("2020-01-01")), (2L, ts("2020-06-01"))).toDF("id", "ev_ts").coalesce(1))
      t.write(Seq((3L, ts("2021-01-01")), (4L, ts("2021-06-01"))).toDF("id", "ev_ts").coalesce(1))
      val pred = col("ev_ts") > lit("2021-01-01 00:00:00").cast("timestamp")
      assert(DeltaScan(t.snapshot, Some(pred)).filesDF.count() == 1)
      assert(t.read(pred).count() == 2, "MILLIS stats must not prune matching rows")
      // stats strings carry an explicit Z: a non-UTC session parses them
      // to the same instants, so pruning stays correct in any zone
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      try {
        assert(DeltaScan(t.deltaLog.update(), Some(pred)).filesDF.count() == 1)
        assert(t.read(pred).count() == 2)
      } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
  }

  test("A17: multi-part checkpoint write and recovery") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn0 = t.deltaLog.startTransaction()
    txn0.updateMetadata(Metadata(
      schemaString = new StructType().add("id", LongType).add("name", StringType)
        .add("part", StringType).json,
      partitionColumns = Seq("part"),
      configuration = Map(
        "delta.checkpointInterval" -> "2",
        "delta.checkpoint.partSize" -> "3")))
    txn0.commit(Nil, Op.CreateTable) // v0
    t.write(sampleDF, SaveMode.Append, Seq("part")) // v1: 3 files
    t.write(sampleDF.filter(col("id") <= 2)) // v2 -> checkpoint (>= 5 adds + meta...)
    val log = t.deltaLog
    val md = Checkpoints.readLastCheckpoint(log.store, log.logPath).get
    assert(md.version == 2L && md.parts.exists(_ > 1))
    val inst = Checkpoints.latestCompleteCheckpoint(log.store, log.logPath).get
    assert(inst.numParts == md.parts)
    assert(inst.files(log.logPath).forall(log.store.exists))
    // snapshot reconstructs through the multi-part checkpoint
    val snap = log.update()
    assert(snap.segment.checkpoint.contains(inst))
    assert(t.toDF.count() == 7)
    assert(snap.metadata.configuration("delta.checkpoint.partSize") == "3")
  }

  test("OPTIMIZE compacts multi-file partitions without changing data") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append, Seq("part")) // 3 files
    t.write(sampleDF, SaveMode.Append) // 3 more
    val before = t.snapshot.allFiles.size
    assert(before >= 6)
    t.compact()
    val after = t.snapshot.allFiles
    assert(after.size == 3, s"one file per partition, got ${after.map(_.path)}")
    assert(after.forall(!_.dataChange))
    assert(t.toDF.count() == 10)
    // compaction rewrites are invisible to the changes-feed consumers
    val lastChanges = t.changes(t.snapshot.version).toSeq.head._2
    assert(lastChanges.collect { case a: AddFile => a }.forall(!_.dataChange))
  }

  test("VACUUM report stays bounded while deletes run distributed (10k orphans)") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append)
    // 10k orphan .parquet files straight on disk: vacuum only inspects
    // names/mtimes, so content is irrelevant — this is the 10^7-file
    // shape at test scale
    val past = System.currentTimeMillis() - 86400000L
    val orphanDir = new java.io.File(dir, "orphans")
    orphanDir.mkdirs()
    (0 until 10000).foreach { i =>
      val f = new java.io.File(orphanDir, f"orphan-$i%05d.parquet")
      f.createNewFile()
      f.setLastModified(past)
    }
    val dry = t.vacuum(Some(0L), dryRun = true, reportLimit = 100)
    assert(dry.deletedCount == 10000L, s"dry-run count: ${dry.deletedCount}")
    assert(dry.sample.size == 100, "dry-run listing must honor the explicit limit")
    assert(orphanDir.list().length == 10000, "dry run must not delete")
    val res = t.vacuum(Some(0L), reportLimit = 100)
    assert(res.deletedCount == 10000L, s"deleted count: ${res.deletedCount}")
    assert(res.sample.size == 100, "report must be bounded, not the full path set")
    assert(!orphanDir.exists() || orphanDir.list().isEmpty, "orphans must be physically gone")
    assert(t.toDF.count() == sampleDF.count()) // live table untouched
  }

  test("VACUUM deletes unreferenced files after retention") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append) // v0
    t.write(sampleDF.filter(col("id") === 1), SaveMode.Overwrite) // v1 tombstones v0 files
    val fs = t.deltaLog.dataPath
      .getFileSystem(spark.sessionState.newHadoopConf())
    def parquetCount =
      fs.listStatus(t.deltaLog.dataPath)
        .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val before = parquetCount
    assert(t.vacuum(Some(Long.MaxValue / 2)).deletedCount == 0) // inside retention: keep
    assert(parquetCount == before)
    val deleted = t.vacuum(Some(0))
    assert(deleted.deletedCount > 0 && deleted.sample.nonEmpty)
    assert(parquetCount < before)
    assert(t.toDF.count() == 1) // current snapshot untouched
    // history physically gone: collect() forces a real data read — a
    // bare count() is answered metadata-only and never opens files
    intercept[Exception] { t.toDF(0).collect() }
  }

  test("VACUUM writes START/END audit commits with exact metrics") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append) // v0
    t.write(sampleDF.filter(col("id") === 1), SaveMode.Overwrite) // v1
    val v1 = t.deltaLog.update().version
    // dry run leaves the log untouched
    t.vacuum(Some(0), dryRun = true)
    assert(t.deltaLog.update().version == v1)
    // real vacuum brackets the deletes in START/END commits
    val res = t.vacuum(Some(0))
    assert(res.deletedCount > 0)
    val hist = t.history()
    val start = hist.find(_.operation == Op.VacuumStart).get
    val end = hist.find(_.operation == Op.VacuumEnd).get
    assert(start.operationMetrics.get("numFilesToDelete")
      .contains(res.deletedCount.toString), start.operationMetrics.toString)
    assert(start.operationMetrics.get("sizeOfDataToDelete")
      .exists(_.toLong > 0L), start.operationMetrics.toString)
    assert(end.operationMetrics.get("numDeletedFiles")
      .contains(res.deletedCount.toString), end.operationMetrics.toString)
    assert(end.operationParameters.get("status").contains("COMPLETED"))
    assert(t.deltaLog.update().version == v1 + 2)
  }

  test("OPTIMIZE rewrites all partitions in one Spark pass, not one job each") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    // 8 partitions x 3 files each
    import spark.implicits._
    (0 until 3).foreach { _ =>
      t.write((0 until 8).map(p => (p.toLong, s"p$p")).toDF("id", "part"),
        SaveMode.Append, Seq("part"))
    }
    assert(t.snapshot.allFiles.size == 24)
    spark.sparkContext.setJobGroup("compact-spec", "compaction job count", false)
    try t.compact()
    finally spark.sparkContext.clearJobGroup()
    assert(t.snapshot.allFiles.size == 8, "one file per partition after compaction")
    assert(t.toDF.count() == 24)
    // the status store is fed asynchronously; give it a beat
    Thread.sleep(1000)
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup("compact-spec").length
    // the rewrite itself is one read+write pass; snapshot bookkeeping adds
    // a few small jobs — what must NOT happen is O(#partitions) jobs
    assert(jobs < 8, s"compaction ran $jobs jobs for 8 partitions")
  }

  test("OPTIMIZE ZORDER BY clusters files for multi-column skipping") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn0 = t.deltaLog.startTransaction()
    val df = (0 until 1024).map(i => (i / 32, i % 32, i.toLong)).toDF("x", "y", "v")
    txn0.updateMetadata(Metadata(
      schemaString = df.schema.json,
      configuration = Map("delta.targetFileSize" -> "4096"))) // force several output files
    txn0.commit(Nil, Op.CreateTable)
    t.write(df.repartition(8)) // row-major grid: y scattered across all files
    t.compact(Seq("x", "y"))
    val nFiles = t.snapshot.allFiles.size
    assert(nFiles > 1, "fixture must produce multiple z-ordered files")
    // content preserved through the re-clustering
    assert(t.toDF.agg(sum($"v")).head().getLong(0) == (0 until 1024).map(_.toLong).sum)
    assert(t.toDF.count() == 1024)
    // the Morton layout makes single-column ranges skippable on BOTH dims
    assert(DeltaScan(t.snapshot, Some(col("y") < 4)).files.size < nFiles)
    assert(DeltaScan(t.snapshot, Some(col("x") < 4)).files.size < nFiles)
    assert(t.toDF.filter(col("y") < 4).count() == 32 * 4)
    val ci = t.history(1).head
    assert(ci.operation == "OPTIMIZE" && ci.operationParameters("zOrderBy") == "x,y")
  }

  test("delta.clusteringColumns: plain OPTIMIZE re-clusters, autoCompact does not") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn0 = t.deltaLog.startTransaction()
    val df = (0 until 1024).map(i => (i / 32, i % 32, i.toLong)).toDF("x", "y", "v")
    txn0.updateMetadata(Metadata(
      schemaString = df.schema.json,
      configuration = Map(
        "delta.targetFileSize" -> "4096",
        "delta.clusteringColumns" -> "x, y")))
    txn0.commit(Nil, Op.CreateTable)
    t.write(df.repartition(8))
    t.compact() // no args: picks up the declared clustering columns
    val nFiles = t.snapshot.allFiles.size
    assert(nFiles > 1)
    assert(DeltaScan(t.snapshot, Some(col("y") < 4)).files.size < nFiles,
      "plain OPTIMIZE must have applied the clustered layout")
    val ci = t.history(1).head
    assert(ci.operation == "OPTIMIZE" && ci.operationParameters("zOrderBy") == "x,y")
    assert(t.toDF.count() == 1024)
    // autoCompact on the same table keeps bin-packing semantics: the
    // per-write path must not silently become a full re-cluster
    val txn1 = t.deltaLog.startTransaction()
    txn1.updateMetadata(t.snapshot.metadata.copy(configuration =
      t.snapshot.metadata.configuration ++ Map(
        "delta.autoOptimize.autoCompact" -> "true",
        "delta.autoOptimize.autoCompact.minNumFiles" -> "2")))
    txn1.commit(Nil, Op.ManualUpdate)
    t.write(df.limit(4))
    val ci2 = t.history(1).head
    assert(ci2.operation == "OPTIMIZE" &&
      !ci2.operationParameters.contains("zOrderBy"),
      "auto compaction must bin-pack, not re-cluster")
  }

  test("delta.appendOnly rejects data-changing removes") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn0 = t.deltaLog.startTransaction()
    txn0.updateMetadata(Metadata(
      schemaString = sampleDF.schema.json,
      partitionColumns = Seq("part"),
      configuration = Map("delta.appendOnly" -> "true")))
    txn0.commit(Nil, Op.CreateTable)
    t.write(sampleDF, SaveMode.Append)
    intercept[UnsupportedOperationException] {
      t.deleteWhere(col("part") === "x")
    }
    // compaction removes carry dataChange=false: still allowed
    t.write(sampleDF, SaveMode.Append)
    t.compact()
    assert(t.toDF.count() == 10)
  }

  test("DeltaConfig: interval parsing, defaults, vacuum retention from table config") {
    assert(DeltaConfig.parseInterval("interval 1 week") == 7L * 24 * 3600 * 1000)
    assert(DeltaConfig.parseInterval("INTERVAL 2 days") == 2L * 24 * 3600 * 1000)
    assert(DeltaConfig.parseInterval("interval 30 milliseconds") == 30L)
    intercept[IllegalArgumentException] { DeltaConfig.parseInterval("7 days") }
    assert(DeltaConfig.TombstoneRetention.fromMetadata(Metadata()) == 7L * 24 * 3600 * 1000)
    assert(DeltaConfig.CheckpointInterval.fromMetadata(Metadata()) == 10)

    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn0 = t.deltaLog.startTransaction()
    txn0.updateMetadata(Metadata(
      schemaString = sampleDF.schema.json,
      configuration = Map("delta.deletedFileRetentionDuration" -> "interval 0 millisecond")))
    txn0.commit(Nil, Op.CreateTable)
    t.write(sampleDF, SaveMode.Append)
    t.write(sampleDF.filter(col("id") === 1), SaveMode.Overwrite)
    // no explicit retention: the table config (0 ms) applies
    assert(t.vacuum().deletedCount > 0)
    assert(t.toDF.count() == 1)
  }

  test("expired log cleanup sweeps pre-checkpoint commits after retention") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val log = t.deltaLog
    val txn0 = log.startTransaction()
    txn0.updateMetadata(Metadata(
      schemaString = sampleDF.schema.json,
      configuration = Map(
        "delta.checkpointInterval" -> "4",
        "delta.logRetentionDuration" -> "interval 0 millisecond")))
    txn0.commit(Nil, Op.CreateTable) // v0
    (1 to 4).foreach(_ => t.write(sampleDF)) // v1..v4; checkpoint at v4
    assert(log.store.exists(FileNames.checkpointFile(log.logPath, 4L)))
    // retention 0: v0..v3 json swept by the checkpoint at v4
    assert(log.listDeltaVersions() == Seq(4L))
    val snap = log.update()
    assert(snap.version == 4L && t.toDF.count() == 20)
    intercept[Exception] { t.toDF(0) } // pre-checkpoint history gone, by design

    // disabled cleanup keeps everything
    val dir2 = tmp()
    val t2 = DeltaTable.forPath(spark, dir2)
    val txn2 = t2.deltaLog.startTransaction()
    txn2.updateMetadata(Metadata(
      schemaString = sampleDF.schema.json,
      configuration = Map(
        "delta.checkpointInterval" -> "4",
        "delta.logRetentionDuration" -> "interval 0 millisecond",
        "delta.enableExpiredLogCleanup" -> "false")))
    txn2.commit(Nil, Op.CreateTable)
    (1 to 4).foreach(_ => t2.write(sampleDF))
    assert(t2.deltaLog.listDeltaVersions() == (0L to 4L))
  }

  test("expired log cleanup sweeps multi-part checkpoints all-or-nothing") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val log = t.deltaLog
    val txn0 = log.startTransaction()
    txn0.updateMetadata(Metadata(
      schemaString = sampleDF.schema.json,
      configuration = Map(
        "delta.checkpointInterval" -> "2",
        "delta.checkpoint.partSize" -> "1"))) // default 30-day retention
    txn0.commit(Nil, Op.CreateTable) // v0
    (1 to 4).foreach(_ => t.write(sampleDF)) // multi-part ckpts at v2 and v4
    val fs = log.logPath.getFileSystem(spark.sessionState.newHadoopConf())
    def ckptParts(v: Long) =
      log.store.listFrom(FileNames.checkpointPrefix(log.logPath, 0))
        .map(_.getPath).filter(FileNames.isCheckpointFile)
        .filter(FileNames.checkpointVersion(_) == v)
    val v2parts = ckptParts(2L)
    assert(v2parts.size > 1, "expected a multi-part checkpoint at v2")
    val old = System.currentTimeMillis() - 40L * 24 * 3600 * 1000
    (0L to 3L).foreach(v => fs.setTimes(FileNames.deltaFile(log.logPath, v), old, -1))
    // expire only SOME of v2's checkpoint parts: the straddled checkpoint
    // must survive intact (partial deletion would corrupt discovery)
    fs.setTimes(v2parts.head, old, -1)
    log.cleanUpExpiredLogs(log.update())
    assert(log.listDeltaVersions() == Seq(4L), "expired json commits swept")
    assert(ckptParts(2L).size == v2parts.size, "straddled checkpoint kept whole")
    // all parts expired -> the whole checkpoint goes
    ckptParts(2L).foreach(p => fs.setTimes(p, old, -1))
    log.cleanUpExpiredLogs(log.update())
    assert(ckptParts(2L).isEmpty)
    assert(ckptParts(4L).nonEmpty && log.update().version == 4L)
  }

  test("earliestReproducibleVersion ignores incomplete multi-part checkpoints") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val log = t.deltaLog
    val txn0 = log.startTransaction()
    txn0.updateMetadata(Metadata(
      schemaString = sampleDF.schema.json,
      configuration = Map(
        "delta.checkpointInterval" -> "2",
        "delta.checkpoint.partSize" -> "1")))
    txn0.commit(Nil, Op.CreateTable)
    (1 to 4).foreach(_ => t.write(sampleDF)) // multi-part ckpts at v2 and v4
    // age out the pre-checkpoint json commits (as a retention sweep would)
    (0L to 3L).foreach(v => log.store.delete(FileNames.deltaFile(log.logPath, v)))
    assert(log.listDeltaVersions() == Seq(4L))
    val parts2 = log.store.listFrom(FileNames.checkpointPrefix(log.logPath, 0))
      .map(_.getPath).filter(FileNames.isCheckpointFile)
      .filter(FileNames.checkpointVersion(_) == 2L)
    assert(parts2.nonEmpty)
    assert(log.earliestReproducibleVersion.contains(2L))
    // simulate a partial sweep: v2's checkpoint loses one part
    log.store.delete(parts2.head)
    assert(log.earliestReproducibleVersion.contains(4L),
      "an incomplete checkpoint must not be offered as reproducible")
    // and the snapshot build path still works from the complete v4 ckpt
    assert(t.toDF(4L).count() == 20)
  }

  test("expired log cleanup sees version-0 checkpoints") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val log = t.deltaLog
    val txn0 = log.startTransaction()
    txn0.updateMetadata(Metadata(schemaString = sampleDF.schema.json))
    txn0.commit(Nil, Op.CreateTable) // v0
    log.checkpoint(log.update()) // checkpoint at version 0
    t.write(sampleDF) // v1
    log.checkpoint(log.update()) // checkpoint at version 1
    val fs = log.logPath.getFileSystem(spark.sessionState.newHadoopConf())
    val ckpt0 = FileNames.checkpointFile(log.logPath, 0L)
    assert(log.store.exists(ckpt0))
    val old = System.currentTimeMillis() - 40L * 24 * 3600 * 1000
    fs.setTimes(FileNames.deltaFile(log.logPath, 0L), old, -1)
    fs.setTimes(ckpt0, old, -1)
    log.cleanUpExpiredLogs(log.update())
    // "00….checkpoint.parquet" sorts before "00….json": a listing that
    // starts at the delta file would never see (or sweep) this checkpoint
    assert(!log.store.exists(ckpt0), "version-0 checkpoint swept")
    assert(log.listDeltaVersions() == Seq(1L))
  }

  test("table config falls back to unprefixed reference keys") {
    val md = Metadata(configuration = Map("logRetentionDuration" -> "interval 5 day"))
    assert(DeltaConfig.LogRetention.fromMetadata(md) == 5L * 24 * 3600 * 1000)
    // the delta.-prefixed (protocol) form wins when both are present
    val both = Metadata(configuration = Map(
      "delta.checkpointInterval" -> "3", "checkpointInterval" -> "7"))
    assert(DeltaConfig.CheckpointInterval.fromMetadata(both) == 3)
    assert(DeltaConfig.AppendOnly.fromMetadata(
      Metadata(configuration = Map("appendOnly" -> "true"))))
  }

  test("history carries operation parameters and metrics") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append, Seq("part"))
    val ci = t.history(1).head
    assert(ci.operation == "WRITE" && ci.operationParameters.get("mode").contains("Append"))
    assert(ci.operationParameters("mode") == "Append")
    assert(ci.operationParameters("partitionBy") == "part")
    assert(ci.operationMetrics("numAddedFiles").toInt == t.snapshot.allFiles.size)
    assert(ci.operationMetrics("numRemovedFiles") == "0")
    assert(ci.operationMetrics("numAddedBytes").toLong > 0)
  }

  test("huge commit tails spill to spark.read.json instead of driver jackson") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    spark.conf.set("spark.graft.snapshot.spillThresholdBytes", "100000")
    try {
      val txn0 = t.deltaLog.startTransaction()
      txn0.updateMetadata(Metadata(schemaString = sampleDF.schema.json))
      txn0.commit(
        SetTransaction("bulk-loader", 42L, Some(1L)) +:
          (0 until 200000).map(i => AddFile(f"bulk-$i%06d.parquet", Map.empty, 1L, 1L)),
        "WRITE") // one ~25MB commit, far over the lowered threshold
      val snap = t.deltaLog.update()
      assert(snap.version == 0L)
      assert(snap.numOfFiles == 200000L)
      assert(snap.metadataOpt.isDefined, "metadata recovered through the spill path")
      assert(snap.transactions.get("bulk-loader").contains(42L))
      // overwrite on top: the tombstone reconciliation also runs through spark
      val txn1 = t.deltaLog.startTransaction()
      txn1.readWholeTable()
      txn1.commit(
        snap.allFiles.take(1).map(_.remove(1L)) :+
          AddFile("fresh.parquet", Map.empty, 1L, 1L), "WRITE")
      val snap2 = t.deltaLog.update()
      assert(snap2.numOfFiles == 200000L) // -1 removed, +1 added
      assert(snap2.tombstonesDF.count() == 1L)
    } finally spark.conf.unset("spark.graft.snapshot.spillThresholdBytes")
  }

  test("commitLarge: huge overwrites stream and small tables still retry") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    (1 to 3).foreach(_ => t.write(sampleDF))
    val removed = t.snapshot.numOfFiles
    assert(removed > 2)
    // the remove list is the commit's Dataset body
    t.write(sampleDF.filter(col("id") <= 2), SaveMode.Overwrite)
    assert(t.toDF.count() == 2)
    val ci = t.history(1).head
    assert(ci.operation == "WRITE" && ci.operationParameters.get("mode").contains("Overwrite"))
    assert(ci.operationMetrics("numRemovedFiles").toLong == removed)
    assert(ci.isBlindAppend.contains(false))
    // subsequent normal commits still work on top of a streamed commit
    t.write(sampleDF)
    assert(t.toDF.count() == 7)
  }

  test("a Dataset-bodied commit retries a compatible lost race and throws on a conflicting one") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    t.write(sampleDF)
    val loser = t.deltaLog.startTransaction()
    t.write(sampleDF) // v1: a blind append lands first
    val v = loser.commit(Nil, Seq(AddFile("x.parquet", Map.empty, 1L, 1L).wrap).toDS(),
      Op.Write, Map.empty)
    assert(v == 2L, "a blind body retries past the winning append")
    assert(t.deltaLog.update().allFiles.exists(_.path == "x.parquet"))

    // both transactions remove the same file: the body's removes are
    // checked against the winner's on the executors
    val victim = t.snapshot.allFiles.filter(_.path != "x.parquet").head
    val late = t.deltaLog.startTransaction()
    t.deltaLog.startTransaction().commit(Seq(victim.remove(1L)), Op.Delete) // v3
    intercept[DeltaErrors.ConcurrentDeleteDeleteException] {
      late.commit(Nil, Seq(victim.remove(2L).wrap).toDS(), Op.Delete, Map.empty)
    }
    assert(t.deltaLog.update().version == 3L)
  }

  test("a body past the single-fetch bound streams a partition at a time") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    t.write(sampleDF)
    val n = OptimisticTransaction.SingleFetchMaxFiles + 1
    val body = spark.range(0L, n, 1L, 8)
      .map(i => AddFile(f"bulk-$i%06d.parquet", Map.empty, 1L, 1L).wrap)
    val v = t.deltaLog.startTransaction().commit(Nil, body, Op.Write, Map.empty)
    val ci = t.deltaLog.commitInfoAt(v).get
    assert(ci.operationMetrics("numAddedFiles") == n.toString)
    assert(t.deltaLog.readCommit(v).get.size == n + 1) // + CommitInfo
  }

  test("a Dataset commit body holding a non-file action is refused") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    t.write(sampleDF)
    val e = intercept[IllegalArgumentException] {
      t.deltaLog.startTransaction().commit(Nil,
        Seq(SetTransaction("app", 1L).wrap).toDS(), Op.StreamingUpdate, Map.empty)
    }
    assert(e.getMessage.contains("file actions only"))
    assert(t.deltaLog.update().version == 0L)
  }

  test("A18: tableChanges materializes inserts and deletes per version") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append, Seq("part")) // v0: 5 inserts
    t.deleteWhere(col("part") === "x") // v1: 2 deletes
    t.write(sampleDF.filter(col("id") === 5), SaveMode.Append) // v2: 1 insert
    t.compact() // v3: dataChange=false — must contribute nothing

    val all = t.tableChanges(0).orderBy(col("_commit_version"), col("id")).collect()
    val byVersion = all.groupBy(_.getAs[Long]("_commit_version"))
    assert(byVersion(0L).length == 5 && byVersion(0L).forall(_.getAs[String]("_change_type") == "insert"))
    assert(byVersion(1L).map(_.getAs[Long]("id")).sorted.toSeq == Seq(1L, 2L))
    assert(byVersion(1L).forall(_.getAs[String]("_change_type") == "delete"))
    assert(byVersion(2L).map(_.getAs[Long]("id")).toSeq == Seq(5L))
    assert(!byVersion.contains(3L), "compaction rewrites are not changes")
    // bounded range
    assert(t.tableChanges(1, 1).count() == 2)
    assert(t.tableChanges(0).columns.contains("_commit_timestamp"))
  }

  test("A18: AddCDCFile commits contribute exactly their cdc files") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append) // v0
    // hand-build a v1 carrying a CDC file (the Delta CDF layout: data
    // columns + _change_type) alongside file actions that must be ignored
    val cdcRel = "_change_data/cdc-0.parquet"
    val cdcAbs = new Path(dir, cdcRel)
    Seq((1L, "a", "x", "update_preimage"), (1L, "a2", "x", "update_postimage"))
      .toDF("id", "name", "part", "_change_type")
      .coalesce(1).write.mode("overwrite")
      .parquet(new Path(dir, "_change_data_tmp").toString)
    val fs = cdcAbs.getFileSystem(spark.sessionState.newHadoopConf())
    val part = fs.listStatus(new Path(dir, "_change_data_tmp"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.mkdirs(cdcAbs.getParent)
    fs.rename(part, cdcAbs)
    val old = t.snapshot.allFiles.head
    val txn = t.deltaLog.startTransaction()
    txn.commit(Seq(
      AddCDCFile(cdcRel, Map.empty, fs.getFileStatus(cdcAbs).getLen),
      old.remove(1L), // would read as a spurious 'delete' without cdc precedence
      AddFile("bogus-new.parquet", Map.empty, 1L, 1L)), "UPDATE")
    val v1 = t.tableChanges(1, 1).collect()
    assert(v1.length == 2)
    assert(v1.map(_.getAs[String]("_change_type")).sorted.toSeq ==
      Seq("update_postimage", "update_preimage"))
  }

  test("A18: cdc actions round the changes feed") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(sampleDF, SaveMode.Append)
    val txn = t.deltaLog.startTransaction()
    txn.commit(Seq(AddCDCFile("_change_data/cdc-0.parquet", Map.empty, 9L)), Op.Write)
    val actions = t.changes(1L).toSeq.head._2
    assert(actions.exists { case c: AddCDCFile => c.path.startsWith("_change_data/"); case _ => false })
  }
}
