package graft.streaming

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Pins the two-watermark model stream_late_drop depends on: since Spark
  * 3.4 the late-record FILTER runs one batch behind state EVICTION (the
  * filter watermark for batch N comes from event-time stats through batch
  * N-2; the eviction watermark from stats through N-1; StateStoreSave
  * carries both). With a file source draining back-to-back micro-batches
  * (no interleaved no-data batch), a late row in the batch immediately
  * after the one that advanced max event time is therefore NOT dropped,
  * while the same row one batch later IS. stream_late_drop splits its
  * source into three mtime-ordered files (newest 36 h / 36–72 h band /
  * late tail) precisely so the late file arrives at micro-batch 2, where
  * the filter watermark is already set. If a Spark upgrade changes this
  * lag, this suite fails before the oracle does.
  */
class WatermarkLagSuite extends AnyFunSuite with SharedSpark {

  private val H = 3600L * 1000000 // one hour in micros

  /** One single-row parquet file per batch (mtime-ordered, one file per
    * trigger), hourly-window counts under a 1 h watermark; returns
    * droppedByWatermark per data batch.
    */
  private def drops(batchTs: Seq[Long]): Seq[Long] = {
    import spark.implicits._
    val src = Files.createTempDirectory("graft-wmlag")
    batchTs.zipWithIndex.foreach { case (us, i) =>
      val stage = Files.createTempDirectory("graft-wmlag-stage")
      Seq(us).toDF("v").select(timestamp_micros($"v").as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      val dest = src.resolve(s"batch$i.parquet")
      Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 60000 + i * 10000))
    }
    val schema = spark.read.parquet(src.toString).schema
    val agg = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour")).agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName(s"wmlag_${System.nanoTime()}").start()
    try q.processAllAvailable() finally q.stop()
    q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark))
  }

  test("late row in the NEXT batch after the max-advancing batch is kept") {
    // batch 0 advances max to 100 h; batch 1's 10 h row is 89 h below the
    // eviction watermark yet NOT dropped: the filter watermark is still 0
    val d = drops(Seq(100 * H + 1, 10 * H + 1))
    assert(d == Seq(0L, 0L), s"expected the one-batch filter lag, got $d")
  }

  test("late row two batches after the max-advancing batch is dropped") {
    val d = drops(Seq(100 * H + 1, 100 * H + 2, 10 * H + 1))
    assert(d == Seq(0L, 0L, 1L), s"expected drop at batch 2, got $d")
  }
}
