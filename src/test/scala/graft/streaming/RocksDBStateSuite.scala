package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** The stateful operators must run unchanged on the RocksDB state store
  * — the provider a real cluster uses at scale, where the default
  * HDFS-backed in-memory provider caps state at executor heap. This pins
  * the engine's 100 TB configuration: same queries, same results, state
  * spilled to local RocksDB instances.
  */
class RocksDBStateSuite extends AnyFunSuite with SharedSpark {

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDB =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Runs `body` with the RocksDB provider active, restoring the
    * session's previous provider afterwards (the JVM-shared session must
    * not leak the override into other suites).
    */
  private def withRocksDB[A](body: => A): A = {
    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, RocksDB)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None => spark.conf.unset(ProviderKey)
    }
  }

  private val sfDir = "/root/testdata/sf0.001"

  test("windowed aggregation with watermark runs on RocksDB state") {
    withRocksDB {
      assert(spark.conf.get(ProviderKey) == RocksDB)
      val n = graft.SparkEntry.queries("stream_window_agg")(spark, sfDir).count()
      assert(n > 0)
      // same cardinality as the batch equivalent, provider-independent
      val batch = graft.queries.QueryDefs.events(spark, sfDir)
        .groupBy(date_trunc("hour", col("ts")), col("event_type")).count().count()
      assert(n == batch)
    }
  }

  test("flatMapGroupsWithState (custom state) runs on RocksDB state") {
    withRocksDB {
      val rows = graft.SparkEntry.queries("stream_user_state")(spark, sfDir).collect()
      assert(rows.nonEmpty)
      val exp = graft.queries.QueryDefs.events(spark, sfDir)
        .groupBy(col("user_id")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      rows.foreach { r =>
        assert(exp(r.getLong(0)) == r.getLong(1),
          s"user ${r.getLong(0)}: rocksdb ${r.getLong(1)} vs batch ${exp(r.getLong(0))}")
      }
    }
  }

  test("stream-stream outer join state runs on RocksDB") {
    withRocksDB {
      assert(graft.SparkEntry.queries("stream_outer_join")(spark, sfDir).count() > 0)
    }
  }

  /** The 100 TB contract for per-entity online features is BOUNDED
    * state: TTL eviction (a user idle past the horizon costs nothing)
    * and timer-driven flushes (inactivity emission without waiting for
    * the user's next event). Exercises transformWithState's per-state
    * TTLConfig and processing-time timers on the RocksDB runtime —
    * TimeMode.ProcessingTime, the profile D15 doesn't cover.
    */
  test("transformWithState: per-state TTL evicts and processing-time timers flush (RocksDB)") {
    withRocksDB {
      import spark.implicits._
      import org.apache.spark.sql.streaming._
      val srcDir = java.nio.file.Files.createTempDirectory("tws-ttl").toString
      def addFile(name: String, rows: Seq[(Long, Long)]): Unit = {
        val stage = java.nio.file.Files.createTempDirectory("tws-ttl-stage")
        rows.toDF("user", "amount").coalesce(1)
          .write.mode("overwrite").parquet(stage.toString)
        val part = java.nio.file.Files.list(stage)
          .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get
        java.nio.file.Files.move(part,
          java.nio.file.Paths.get(srcDir, name + ".parquet"))
      }
      val proc = new StatefulProcessor[Long, (Long, Long), (Long, String, Long)] {
        @transient private var st: ValueState[(Long, Long)] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          st = getHandle.getValueState[(Long, Long)]("profile",
            org.apache.spark.sql.Encoders.product[(Long, Long)],
            TTLConfig(java.time.Duration.ofSeconds(2)))
        override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
            tv: TimerValues): Iterator[(Long, String, Long)] = {
          val in = rows.toSeq
          val (n0, sum0) = if (st.exists()) st.get() else (0L, 0L)
          val n = n0 + in.size
          st.update((n, sum0 + in.map(_._2).sum))
          // (re-)arm a 500ms inactivity-flush timer for this key
          getHandle.listTimers().foreach(ts => getHandle.deleteTimer(ts))
          getHandle.registerTimer(tv.getCurrentProcessingTimeInMs + 500)
          Iterator.single((key, "update", n))
        }
        override def handleExpiredTimer(key: Long, tv: TimerValues,
            info: ExpiredTimerInfo): Iterator[(Long, String, Long)] =
          Iterator.single((key, "flush", if (st.exists()) st.get()._1 else -1L))
      }
      addFile("b0", Seq((1L, 10L), (1L, 20L), (2L, 5L)))
      // ProcessingTime time mode keeps scheduling micro-batches to fire
      // due timers, so processAllAvailable never settles — pace the
      // trigger and POLL the sink for the expected rows instead
      val q = spark.readStream
        .schema(new org.apache.spark.sql.types.StructType()
          .add("user", "long").add("amount", "long"))
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .as[(Long, Long)].groupByKey(_._1)
        .transformWithState(proc, TimeMode.ProcessingTime(), OutputMode.Update())
        .toDF("user", "kind", "v")
        .writeStream.outputMode("update").format("memory")
        .trigger(Trigger.ProcessingTime("200 milliseconds"))
        .queryName("tws_ttl").start()
      def rows(): Set[(Long, String, Long)] =
        spark.table("tws_ttl").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      def eventually(what: String)(cond: => Boolean): Unit = {
        val end = System.currentTimeMillis + 60000
        while (!cond && System.currentTimeMillis < end) Thread.sleep(100)
        assert(cond, s"$what; sink after timeout: ${rows()}")
      }
      try {
        eventually("b0 updates") {
          rows().contains((1L, "update", 2L)) && rows().contains((2L, "update", 1L))
        }
        // timer-driven emission: no further input for user 1, yet its
        // 500ms inactivity timer fires in a later batch and flushes the
        // LIVE profile (count 2)
        eventually("timer flush with live state") {
          rows().contains((1L, "flush", 2L))
        }
        val seen = rows()
        // beyond the TTL: user 1's profile must be evicted, count
        // restarts at 1 on its next event
        Thread.sleep(2600)
        addFile("b2", Seq((1L, 40L)))
        eventually("TTL-evicted restart") {
          (rows() -- seen).contains((1L, "update", 1L))
        }
        assert(!rows().contains((1L, "update", 3L)),
          s"stale profile survived TTL: ${rows()}")
      } finally q.stop()
    }
  }
}
