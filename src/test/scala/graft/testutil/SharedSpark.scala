package graft.testutil

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark session every suite shares: `graft.Session.builder(4)` with a
  * per-JVM temp warehouse dir. All suites run in one forked JVM, so one
  * builder means no suite's run order decides another's static conf. A
  * suite that needs another runtime conf sets it inside its test and
  * restores it afterwards.
  */
trait SharedSpark {
  lazy val spark: SparkSession = SharedSpark.session

  /** Jobs `f` submits, counted on its own job group. A marker job in
    * another group, submitted after `f`, is the barrier: the listener bus
    * delivers events in order, so once the marker is seen every job of
    * `f` has been counted.
    */
  def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    SharedSpark.listenOn(sc)
    val group = s"jobs-${UUID.randomUUID()}"
    val marker = s"$group-marker"
    val jobs = new AtomicInteger(0)
    val markerSeen = new CountDownLatch(1)
    SharedSpark.counted.put(group, () => { jobs.incrementAndGet(); () })
    SharedSpark.counted.put(marker, () => markerSeen.countDown())
    try {
      sc.setJobGroup(group, "counted")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(marker, "barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "barrier job never reached the listener")
      jobs.get()
    } finally {
      SharedSpark.counted.remove(group)
      SharedSpark.counted.remove(marker)
    }
  }
}

object SharedSpark {
  lazy val session: SparkSession = graft.Session.builder(4)
    .config("spark.sql.warehouse.dir", Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()

  /** Job group → what a job start in that group does. */
  private val counted = new ConcurrentHashMap[String, () => Unit]()

  private object JobStarts extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(g => Option(counted.get(g))).foreach(_())
  }

  private var listening: Option[SparkContext] = None

  /** Adds the one job listener to `sc` unless it is already there. */
  private def listenOn(sc: SparkContext): Unit = synchronized {
    if (!listening.contains(sc)) {
      sc.addSparkListener(JobStarts)
      listening = Some(sc)
    }
  }
}
