package graft.delta

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Spark-job budgets: log replay on a checkpointed table, and the
  * Dataset-bodied commits of small tables.
  */
class SnapshotReplaySuite extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.sql.GraftSparkExtension")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Jobs `f` submits, counted by a listener on its own job group. A
    * marker job in another group, submitted after `f`, is the barrier:
    * the listener bus delivers events in order, so once the marker is
    * seen every job of `f` has been counted.
    */
  private def jobsOf(f: => Unit): Int = {
    val group = s"replay-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val jobs = new AtomicInteger(0)
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => markerSeen.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(marker, "barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

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
}
