package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Spark-job budgets: log replay on a checkpointed table, and the
  * Dataset-bodied commits of small tables; and the equivalence of the
  * driver-derived replay state with the spill path and a cold log.
  */
class SnapshotReplaySuite extends AnyFunSuite with SharedSpark {

  test("a checkpointed snapshot probes its checkpoint once and reads protocol, metadata and txns in one job") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, Files.createTempDirectory("graft-replay").toString)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Seq((1L, "a")).toDF("id", "part").schema.json,
      partitionColumns = Seq("part"),
      configuration = Map("delta.checkpointInterval" -> "2")))
    txn.commit(Nil, Op.CreateTable)
    (1 to 3).foreach { i =>
      val w = t.deltaLog.startTransaction()
      w.commit(Seq(SetTransaction(s"app$i", i.toLong, Some(0L))), Op.StreamingUpdate)
      t.write(Seq((i.toLong, s"p$i")).toDF("id", "part"), SaveMode.Append, Seq("part"))
    }
    t.deltaLog.startTransaction() // the JSON tail past the last checkpoint
      .commit(Seq(SetTransaction("app4", 4L, Some(0L))), Op.StreamingUpdate)
    val latest = t.deltaLog.update()
    assert(latest.segment.checkpoint.isDefined && latest.segment.deltas.nonEmpty,
      s"want a checkpoint plus a JSON tail, got ${latest.segment}")
    // a fresh Snapshot over the same segment: nothing evaluated yet
    val snap = new Snapshot(spark, t.deltaLog, latest.version, latest.segment)
    // one schema probe of the checkpoint + one collect of its protocol,
    // metadata and SetTransaction rows
    val metaJobs = jobsOf {
      assert(snap.metadata.partitionColumns == Seq("part"))
      assert(snap.setTransactions.map(_.appId).toSet == Set("app1", "app2", "app3", "app4"))
    }
    assert(metaJobs <= 2, s"protocol/metadata/txn replay ran $metaJobs jobs")
    // the file listing reuses the probed checkpoint read: its first count
    // costs what a repeated count does
    val firstCount = jobsOf(assert(snap.allFilesDS.count() == 3L))
    val againCount = jobsOf(assert(snap.allFilesDS.count() == 3L))
    assert(firstCount == againCount,
      s"first file count ran $firstCount jobs, a repeat $againCount")
  }

  test("small Dataset-bodied commits stay within their job budgets and keep their metrics") {
    import spark.implicits._
    def table(): DeltaTable = {
      val t = DeltaTable.forPath(spark, Files.createTempDirectory("graft-budget").toString)
      (1 to 3).foreach(i =>
        t.write(Seq((i.toLong, s"p$i")).toDF("id", "part"), SaveMode.Append, Seq("part")))
      t
    }
    // the body is tallied by one aggregation and fetched by one job: no
    // more than the count + collect of a driver-side action list
    val budgets = Seq[(String, Int, DeltaTable => Unit)](
      ("overwrite", 7, _.write(Seq((9L, "p9")).toDF("id", "part"), SaveMode.Overwrite,
        Seq("part"))),
      ("truncate", 5, _.truncate()),
      ("restore", 12, _.restoreToVersion(1L)),
      ("shallow clone", 5, _.shallowCloneTo(
        Files.createTempDirectory("graft-budget").toString + "/clone")))
    budgets.foreach { case (name, budget, op) =>
      val t = table()
      val jobs = jobsOf(op(t))
      assert(jobs <= budget, s"$name ran $jobs jobs (budget $budget)")
    }
    val t = table()
    t.truncate()
    assert(Set("numAddedFiles", "numRemovedFiles", "numAddedBytes", "numRemovedBytes")
      .subsetOf(t.history(1).head.operationMetrics.keySet))
    assert(t.history(1).head.operationMetrics("numRemovedFiles") == "3")
  }

  // ------------------------------------------- replay without Spark jobs

  private def tmp(): String = Files.createTempDirectory("graft-replay").toString

  private def rows(ids: Seq[Long], part: String): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"v$i", part)).toDF("id", "v", "part")
  }

  /** A partitioned table created with `conf`, then `commits` appends. */
  private def table(conf: Map[String, String], commits: Int,
      path: String = tmp()): DeltaTable = {
    val t = DeltaTable.forPath(spark, path)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(schemaString = rows(Seq(0L), "p").schema.json,
      partitionColumns = Seq("part"), configuration = conf))
    txn.commit(Nil, Op.CreateTable)
    (1 to commits).foreach(i =>
      t.write(rows(Seq(i.toLong), s"p${i % 3}"), SaveMode.Append, Seq("part")))
    t
  }

  test("update() on an unchanged log returns the same snapshot and runs no job") {
    val t = table(Map("delta.checkpointInterval" -> "2"), 3)
    val s = t.deltaLog.update()
    assert(s.segment.checkpoint.isDefined && s.segment.deltas.nonEmpty)
    s.metadata
    s.dvFiles
    var again: Snapshot = null
    val jobs = jobsOf {
      again = t.deltaLog.update()
      again.metadata
      again.dvFiles
    }
    assert(again eq s, "an unchanged listing must yield the same Snapshot")
    assert(jobs == 0, s"update() of an unchanged log ran $jobs jobs")
  }

  test("after another writer's commit, update, metadata and dvFiles run no job") {
    val t = table(Map("delta.checkpointInterval" -> "2"), 4)
    val log = t.deltaLog
    log.update().metadata // opens checkpoint 4
    // a commit this DeltaLog has not seen: its next update builds a new
    // Snapshot from the open checkpoint plus the driver-parsed tail
    new DeltaLog(spark, log.dataPath).startTransaction()
      .commit(Seq(SetTransaction("other", 1L, Some(0L))), Op.StreamingUpdate)
    var s: Snapshot = null
    val jobs = jobsOf {
      s = log.update()
      assert(s.metadata.partitionColumns == Seq("part"))
      assert(s.dvFiles.isEmpty)
      assert(s.transactions.get("other").contains(1L))
    }
    assert(s.version == 5L && s.segment.checkpoint.map(_.version).contains(4L))
    assert(jobs == 0, s"update + metadata + dvFiles after a commit ran $jobs jobs")
  }

  test("the first snapshot after a checkpoint this JVM wrote runs no job") {
    val layouts = Seq(
      "classic" -> Map.empty[String, String],
      "multi-part" -> Map("delta.checkpoint.partSize" -> "2"),
      "v2" -> Map("delta.checkpointPolicy" -> "v2", "delta.checkpoint.numSidecars" -> "2"),
      "stats struct" -> Map("delta.checkpoint.writeStatsAsStruct" -> "true"),
      "v2 stats struct" -> Map("delta.checkpointPolicy" -> "v2",
        "delta.checkpoint.writeStatsAsStruct" -> "true"))
    layouts.foreach { case (name, conf) =>
      val t = table(conf + ("delta.checkpointInterval" -> "3") +
        ("delta.enableDeletionVectors" -> "true"), 2)
      t.delete(col("id") === 1L) // version 3: a DV and a checkpoint
      assert(t.deltaLog.listDeltaVersions().last == 3L)
      var s: Snapshot = null
      val jobs = jobsOf {
        s = t.deltaLog.update()
        s.metadata
        s.dvFiles
        s.domainMetadataMap
      }
      assert(s.segment.checkpoint.map(_.version).contains(3L), s"$name: ${s.segment}")
      assert(jobs == 0, s"$name: the first snapshot over a written checkpoint ran $jobs jobs")
      val cold = new DeltaLog(spark, t.deltaLog.dataPath).update()
      assert(facts(s) == facts(cold), name)
      assert(s.allFiles.toSet == cold.allFiles.toSet, name)
      assert(s.activeFilesDF.schema == cold.activeFilesDF.schema, name)
    }
  }

  test("snapshotForVersionAsOf over an open checkpoint runs no job") {
    val t = table(Map("delta.checkpointInterval" -> "2"), 4)
    t.deltaLog.update().metadata // checkpoint 4 is open
    t.deltaLog.snapshotForVersionAsOf(3L).metadata // checkpoint 2 is open
    val jobs = jobsOf {
      Seq(3L, 4L).foreach { v =>
        val s = t.deltaLog.snapshotForVersionAsOf(v)
        assert(s.version == v)
        s.metadata
        s.dvFiles
      }
    }
    assert(jobs == 0, s"time-travel snapshot builds ran $jobs jobs")
  }

  test("a table deleted and recreated out of band at the same path is never served stale") {
    val path = tmp()
    val t = table(Map("delta.checkpointInterval" -> "2"), 3, path)
    val before = t.deltaLog.update()
    assert(before.segment.checkpoint.isDefined)
    before.metadata
    // the same version count and checkpoint layout, different content
    val other = table(Map("delta.checkpointInterval" -> "2",
      "graft.test.generation" -> "second"), 3)
    other.write(rows(Seq(100L, 101L), "p9"), SaveMode.Overwrite, Seq("part"))
    other.delete(col("id") === 100L)
    assert(other.deltaLog.update().version == before.version + 2)
    t.write(rows(Seq(7L), "p7"), SaveMode.Append, Seq("part"))
    t.write(rows(Seq(8L), "p8"), SaveMode.Append, Seq("part"))
    t.deltaLog.update().metadata
    Thread.sleep(5) // the copies get mtimes later than the files they replace
    val dir = new java.io.File(path)
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(other.deltaLog.dataPath.toUri.getPath), dir, false)
    val after = t.deltaLog.update()
    assert(after.version == before.version + 2)
    assert(after.metadata.configuration.get("graft.test.generation").contains("second"))
    import spark.implicits._
    assert(t.toDF.select("id").as[Long].collect().toSeq == Seq(101L))
  }

  // -------------------------- driver state == spill path == cold DeltaLog

  /** What replay derives on the driver, compared across paths. */
  private def facts(s: Snapshot) = (s.protocol, s.metadata,
    s.setTransactions.map(t => t.appId -> t).toMap, s.domainMetadataMap,
    s.dvFiles, s.defaultFillFiles)

  private sealed trait Step
  private case object Append extends Step
  private case object DvDelete extends Step
  private case object PlainDelete extends Step
  private case object Optimize extends Step
  private case object Restore extends Step
  private case object Domain extends Step
  private case object Txn extends Step
  private case object ReAdd extends Step
  private val steps: Seq[Step] =
    Seq(Append, DvDelete, PlainDelete, Optimize, Restore, Domain, Txn, ReAdd)

  /** Every step kind once plus four random ones, in random order; and a
    * seed for the row choices.
    */
  private val sequenceGen: Gen[(Seq[Step], Long)] = for {
    extra <- Gen.listOfN(4, Gen.oneOf(steps))
    keys <- Gen.listOfN(steps.size + 4, Gen.choose(0.0, 1.0))
    rowSeed <- Gen.choose(0L, Long.MaxValue)
  } yield ((steps ++ extra).zip(keys).sortBy(_._2).map(_._1), rowSeed)

  private def setDv(t: DeltaTable, on: Boolean): Unit = {
    val txn = t.deltaLog.startTransaction()
    if (DeltaConfig.EnableDeletionVectors.fromMetadata(txn.metadata) != on) {
      txn.updateMetadata(txn.metadata.copy(configuration =
        txn.metadata.configuration + ("delta.enableDeletionVectors" -> on.toString)))
      txn.commit(Nil, Op.SetTableProperties)
    }
  }

  private def applyStep(t: DeltaTable, step: Step, rnd: scala.util.Random,
      next: () => Long): Unit = {
    import spark.implicits._
    def liveIds = t.toDF.select("id").as[Long].collect().sorted.toSeq
    def pick(): Option[Long] = Some(liveIds).filter(_.nonEmpty).map(ids => ids(rnd.nextInt(ids.size)))
    step match {
      case Append =>
        t.write(rows(Seq(next(), next()), s"p${rnd.nextInt(3)}").coalesce(1),
          SaveMode.Append, Seq("part"))
      case DvDelete =>
        setDv(t, on = true)
        // deleting a file's last live row removes the file, so the row
        // comes from a file that keeps another one and thus gets a DV
        val s = t.deltaLog.update()
        val shared = s.allFiles.sortBy(_.path).filter(f => t.rowsFromStats(Seq(f)).exists(_ > 1))
        if (shared.nonEmpty) {
          val ids = t.readFilesDF(Seq(shared(rnd.nextInt(shared.size))), s.metadata)
            .select("id").as[Long].collect().sorted
          t.delete(col("id") === ids(rnd.nextInt(ids.size)))
        }
      case PlainDelete =>
        setDv(t, on = false)
        pick().foreach(id => t.delete(col("id") === id))
      case Optimize => t.compact()
      case Restore =>
        val cur = t.deltaLog.update().version
        if (cur > 1) t.restoreToVersion(1L + rnd.nextInt(cur.toInt - 1))
      case Domain =>
        val d = s"graft.test.d${rnd.nextInt(2)}"
        if (t.deltaLog.update().domainMetadataMap.contains(d) && rnd.nextBoolean())
          t.removeDomainMetadata(d)
        else t.setDomainMetadata(d, s"c${next()}")
      case Txn =>
        t.deltaLog.startTransaction().commit(
          Seq(SetTransaction(s"app${rnd.nextInt(2)}", next(), Some(System.currentTimeMillis()))),
          Op.StreamingUpdate)
      case ReAdd =>
        // a path removed and re-added in one commit, the re-add tagged as
        // lacking a defaulted column
        val txn = t.deltaLog.startTransaction()
        val files = txn.snapshot.allFiles.sortBy(_.path)
        if (files.nonEmpty) {
          val f = files(rnd.nextInt(files.size))
          txn.commit(Seq(f.remove(System.currentTimeMillis()),
            f.copy(tags = Option(f.tags).getOrElse(Map.empty) +
              (ReadDefaults.MissingTag -> "{}"))), Op.ManualUpdate)
        }
    }
  }

  private def checkEquivalence(seed: Long, conf: Map[String, String]): Unit = {
    val (seq, rowSeed) = sequenceGen.pureApply(Gen.Parameters.default, Seed(seed))
    info(s"seed $seed ${conf.mkString(",")}: ${seq.mkString(", ")}")
    val t = table(conf + ("delta.checkpointInterval" -> "3") +
      ("delta.enableDeletionVectors" -> "true"), 2)
    val path = t.deltaLog.dataPath.toString
    val rnd = new scala.util.Random(rowSeed)
    val counter = new java.util.concurrent.atomic.AtomicLong(100)
    var sawCheckpointedDv = false
    seq.zipWithIndex.foreach { case (step, k) =>
      val ctx = s"seed $seed step $k ($step) of ${seq.mkString(",")}"
      applyStep(t, step, rnd, () => counter.incrementAndGet())
      val warm = t.deltaLog.update()
      val driver = facts(warm)
      sawCheckpointedDv ||= warm.segment.checkpoint.isDefined && warm.dvFiles.nonEmpty
      spark.conf.set("spark.graft.snapshot.spillThresholdBytes", "1")
      val spilled =
        try facts(new Snapshot(spark, t.deltaLog, warm.version, warm.segment))
        finally spark.conf.unset("spark.graft.snapshot.spillThresholdBytes")
      DeltaLog.invalidateCache(spark, path)
      val cold = DeltaLog.forTable(spark, path).update()
      assert(driver == spilled, s"$ctx: driver state != spill path")
      assert(driver == facts(cold), s"$ctx: driver state != cold log")
      assert(warm.allFiles.toSet == cold.allFiles.toSet, s"$ctx: file lists differ")
    }
    assert(sawCheckpointedDv || !seq.contains(DvDelete),
      s"seed $seed never checked a DV against a checkpoint")
  }

  test("property: driver-derived replay state equals the spill path and a cold log") {
    checkEquivalence(11L, Map("delta.logCompaction.interval" -> "2"))
    checkEquivalence(12L, Map("delta.checkpoint.partSize" -> "2"))
    checkEquivalence(13L, Map("delta.checkpointPolicy" -> "v2",
      "delta.checkpoint.numSidecars" -> "2", "delta.logCompaction.interval" -> "2"))
  }
}
