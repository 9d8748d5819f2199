package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, cpus: Int, result: String, plantWrong: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", need("data"), need("work"),
      m.getOrElse("cpus", "4").toInt, need("result"),
      m.getOrElse("plant-wrong", "0") == "1")
  }
}

/** One closed-loop operation as the client saw it. `cls` is `read`,
  * `commit` or `noop` (a write that correctly committed nothing).
  */
final case class OpRec(kind: String, cls: String, ms: Double, ok: Boolean)

/** What a workload hands back to [[Main]] for the result. */
final case class Outcome(
    setupS: Seq[Double],
    windowS: Double,
    opsPerS: Double,
    ops: Seq[OpRec],
    passS: Seq[Double],
    spaceAmp: Double,
    checks: Seq[(String, Boolean)],
    layers: Map[String, Double],
    info: Map[String, Any])

/** Run-wide context handed to a workload. */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer) {
  val rng = new scala.util.Random(opts.seed)
  def workDir(name: String): String = Paths.get(opts.work, name).toString
}

/** Entry point of one run: builds the session, runs the workload, prints
  * the result JSON as the last line of standard output and writes it to
  * `--result`.
  */
object Main {

  def session(o: Opts): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtension")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(o.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(o.work, "warehouse").toString)
    if (o.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    Files.createDirectories(Paths.get(o.work))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val marks = mutable.LinkedHashMap.empty[String, Double]
    def mark(name: String): Unit = marks(name) = (System.currentTimeMillis() - jvmStart) / 1000.0
    mark("main")
    val spark = session(o)
    mark("session")
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, o, tracer)
    val gcBefore = gcMillis()
    val out: Outcome = o.workload match {
      case "lake_mixed" => new Lake(ctx).run()
      case "llm_pipeline" => new Pipeline(ctx).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    mark("workload")
    val gcMs = gcMillis() - gcBefore
    val heapMb = heapAfterGcMb()
    if (o.trace) tracer.writeSpans(Paths.get(o.work, "spans.jsonl"))
    val fsImpl = new org.apache.hadoop.fs.Path("file:///").getFileSystem(
      spark.sessionState.newHadoopConf()).getClass.getName
    spark.stop()
    mark("stopped")
    val json = Report.json(o, out.copy(info = out.info + ("jvm_marks_s" -> marks.toMap)),
      gcMs, heapMb, fsImpl)
    Files.writeString(Paths.get(o.result), json + "\n")
    println(json)
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** JVM heap in use after full collections, in MB. The pauses let
    * Spark's ContextCleaner drop the broadcasts and shuffles whose handles
    * the first collection freed, so the figure is what the engine retains.
    */
  def heapAfterGcMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Order statistics used for every timing. */
object Stats {
  /** Linear-interpolated percentile, `p` in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile with at least ten samples beyond it, or None
    * when there are fewer than twenty samples.
    */
  def tailPct(n: Int): Option[Double] =
    if (n < 20) None else Some(math.floor((1.0 - 10.0 / n) * 1000) / 1000)
}

/** Builds the result JSON: the contract's four keys, then the detail. */
object Report {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def metric(v: Double, unit: String): java.util.Map[String, Any] =
    mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> unit).asJava

  def json(o: Opts, out: Outcome, gcMs: Long, heapMb: Double, fsImpl: String): String = {
    val reads = out.ops.filter(o => o.ok && o.cls == "read").map(_.ms)
    val commits = out.ops.filter(o => o.ok && o.cls == "commit").map(_.ms)
    val attempted = out.ops.size
    val failed = out.ops.count(!_.ok)
    val correct = failed == 0 && out.checks.forall(_._2)
    val e2e = mutable.LinkedHashMap[String, Any](
      "setup_s" -> metric(Stats.median(out.setupS), "s"),
      "ops_per_s" -> metric(out.opsPerS, "1/s"),
      "read_p50_ms" -> metric(Stats.median(reads), "ms"),
      "read_p90_ms" -> metric(Stats.pct(reads, 0.9), "ms"),
      "commit_p50_ms" -> metric(Stats.median(commits), "ms"),
      "commit_p90_ms" -> metric(Stats.pct(commits, 0.9), "ms"),
      "pass_s" -> metric(Stats.median(out.passS), "s"),
      "space_amp" -> metric(out.spaceAmp, "ratio"),
      "heap_mb" -> metric(heapMb, "MB"))
    val errorRate = if (attempted == 0) 1.0 else failed.toDouble / attempted
    val layers = mutable.LinkedHashMap[String, Any]()
    (out.layers ++ Map("jvm.gc_ms" -> gcMs.toDouble, "jvm.heap_after_gc_mb" -> heapMb))
      .toSeq.sortBy(_._1).foreach { case (k, v) => layers(k) = metric(v, Units.of(k)) }
    def tail(xs: Seq[Double]) = mutable.LinkedHashMap[String, Any](
      "samples" -> xs.size,
      "tail_pct" -> Stats.tailPct(xs.size).map(Double.box).orNull,
      "tail_ms" -> Stats.tailPct(xs.size).map(p => Double.box(Stats.pct(xs, p))).orNull).asJava
    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> s"local[${o.cpus}]",
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "flush_policy" -> ("local file system through Hadoop's file:// client; no fsync; " +
        "latencies are this host's page cache, not a storage device's"),
      "file_system" -> fsImpl,
      "window_s" -> out.windowS,
      "error_rate" -> metric(errorRate, "ratio"),
      "setup_samples_s" -> out.setupS.asJava,
      "pass_samples_s" -> out.passS.asJava,
      "read_tail" -> tail(reads), "commit_tail" -> tail(commits),
      "op_counts" -> out.ops.groupBy(_.kind).map { case (k, v) => k -> v.size }.asJava,
      "op_samples_ms" -> out.ops.map(o => s"${o.kind}:${math.round(o.ms)}").asJava,
      "checks" -> out.checks.map { case (n, ok) => n -> ok }.toMap.asJava,
      "end_to_end" -> e2e.asJava,
      "info" -> out.info.map { case (k, v) => k -> (v match {
        case s: Seq[_] => s.asJava
        case m: Map[_, _] => m.asJava
        case x => x
      }) }.asJava)
    val res = mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> (if (o.trace) layers else e2e).asJava,
      "detail" -> detail.asJava)
    mapper.writeValueAsString(res.asJava)
  }
}

/** Unit of each per-layer metric, from its name. */
object Units {
  def of(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith(".s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.contains("ops_per_s")) "1/s"
    else if (name.contains("ratio") || name.endsWith("_pct")) "ratio"
    else if (name.contains("bytes")) "bytes"
    else "count"
}
