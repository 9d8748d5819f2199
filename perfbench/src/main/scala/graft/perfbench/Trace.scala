package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FSInputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** File-system counters of the traced run, split by what a path is:
  * commit files of `_delta_log`, other log files (checkpoints, `.crc`,
  * `_last_checkpoint`), Iceberg `metadata/` and table data. Executors run
  * in the client's JVM (`local[k]`), so one set of counters sees every open.
  */
object FsCounters {
  final class Kind {
    val opens, bytesRead, creates, bytesWritten, lists = new AtomicLong
    def values: Seq[Long] = Seq(opens, bytesRead, creates, bytesWritten, lists).map(_.get)
  }
  val commitLog, otherLog, checkpoint, iceberg, data = new Kind
  /** Off, the file system only passes calls through: the traced run's
    * untraced deck pays no counting.
    */
  @volatile var enabled = false
  /** Start times (ns) of commit-file writes, for commit attempt timing. */
  val commitWrites = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()

  private val CommitFile = """.*/_delta_log/\.?\d{20}\.json(\..*\.tmp)?""".r

  def kindOf(p: Path): Kind = {
    val s = p.toUri.getPath
    if (s.contains("/_delta_log")) {
      if (CommitFile.matches(s)) commitLog
      else if (s.contains("/.ckpt-") || s.contains(".checkpoint") ||
          s.endsWith("_last_checkpoint")) checkpoint
      else otherLog
    } else if (s.contains("/metadata/") || s.endsWith("/metadata")) iceberg
    else data
  }

  /** Totals of every kind, flattened, for before/after differences. */
  def snapshot(): Map[String, Long] = Seq(
    "commitLog" -> commitLog, "otherLog" -> otherLog, "checkpoint" -> checkpoint,
    "iceberg" -> iceberg, "data" -> data).flatMap { case (n, k) =>
    Seq("opens", "bytesRead", "creates", "bytesWritten", "lists").zip(k.values)
      .map { case (m, v) => s"$n.$m" -> v }
  }.toMap
}

/** `file://` file system that counts opens, bytes read and written, file
  * creations and listings per [[FsCounters]] kind. Installed with
  * `spark.hadoop.fs.file.impl` in the traced run only.
  */
class CountingFileSystem extends LocalFileSystem {
  import FsCounters._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (!enabled) return super.open(f, bufferSize)
    val k = kindOf(f)
    k.opens.incrementAndGet()
    val in = super.open(f, bufferSize)
    new FSDataInputStream(new CountingInput(in, k.bytesRead))
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val inner = super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
    if (!enabled) return inner
    val k = kindOf(f)
    k.creates.incrementAndGet()
    if (k eq commitLog) commitWrites.add(System.nanoTime())
    new FSDataOutputStream(new java.io.OutputStream {
      override def write(b: Int): Unit = { inner.write(b); k.bytesWritten.incrementAndGet() }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        inner.write(b, off, len); k.bytesWritten.addAndGet(len)
      }
      override def flush(): Unit = inner.flush()
      override def close(): Unit = inner.close()
    }, null)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    if (enabled) kindOf(f).lists.incrementAndGet()
    super.listStatus(f)
  }
}

/** Seekable byte-counting view of an open stream. */
private final class CountingInput(in: FSDataInputStream, bytes: AtomicLong)
    extends FSInputStream {
  private def count(n: Int): Int = { if (n > 0) bytes.addAndGet(n); n }
  override def read(): Int = { val b = in.read(); if (b >= 0) bytes.incrementAndGet(); b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = count(in.read(b, off, len))
  override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int =
    count(in.read(pos, b, off, len))
  override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
    in.readFully(pos, b, off, len); bytes.addAndGet(len)
  }
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}

/** One timed call into a layer. `op` is the closed-loop operation that
  * caused it; `parent` is the enclosing span (0 at the top).
  */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A Spark job as the listener saw it, with the span whose job group it ran
  * under and the layer its call site names (empty when none does).
  */
final case class JobRec(id: Int, var span: Long, var group: String, siteLayer: String, site: String,
    startMs: Long, var endMs: Long = -1L, var shuffleBytes: Long = 0L)

/** Spans around calls into the engine's layers, plus Spark job attribution.
  * Disabled, `span` just runs its body and the listener is not installed:
  * the end-to-end run pays nothing.
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  /** Call site (the submitting thread's stack) of each SQL execution. */
  private val executionSite = mutable.HashMap.empty[Long, String]
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var stack: List[(Long, String)] = Nil
  private var nextId = 0L
  private var currentOp = 0L

  def op[T](name: String)(body: => T): T = {
    currentOp += 1
    span("op", name)(body)
  }

  def span[T](layer: String, name: String)(body: => T): T = {
    if (!enabled) return body
    nextId += 1
    val id = nextId
    val parent = stack.headOption.map(_._1).getOrElse(0L)
    stack = (id, layer) :: stack
    sc.setJobGroup(s"$layer#$id", name)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some((pid, pl)) => sc.setJobGroup(s"$pl#$pid", pl)
        case None => sc.clearJobGroup()
      }
      spans.synchronized(spans += Span(id, parent, currentOp, layer, name, t0, t1,
        w0, System.currentTimeMillis()))
    }
  }

  /** Turns spans, the listener and the file-system counters on. */
  def start(): Unit = {
    sc.addSparkListener(listener)
    FsCounters.enabled = true
    enabled = true
  }

  /** Turns tracing off again and attributes the jobs it saw ([[drain]]). */
  def stop(): Unit = {
    enabled = false
    FsCounters.enabled = false
    drain()
    sc.removeSparkListener(listener)
  }

  private val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      // the result stage (created last) carries the job's call site; a job
      // that Spark submits from its own pool threads (adaptive execution)
      // has no engine frame there, so it takes its SQL execution's call site
      val stageSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val site =
        if (Layers.engineFrame(stageSite).nonEmpty) stageSite
        else props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => executionSite.get(id.toLong)).getOrElse(stageSite)
      val spanId = group.split('#') match {
        case Array(_, id) => id.toLong
        case _ => 0L
      }
      jobs.synchronized {
        jobs(e.jobId) = JobRec(e.jobId, spanId, group.takeWhile(_ != '#'),
          Layers.ofCallSite(site).getOrElse(""), Layers.engineFrame(site), e.time)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => executionSite(x.executionId) = x.details
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized(jobs.get(e.jobId).foreach(_.endMs = e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      jobs.synchronized {
        stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  /** Waits until the listener has seen every event posted so far, then
    * gives jobs that ran outside any job group (streaming micro-batches set
    * their own) to the innermost span that was open when they started:
    * the client is single-threaded, so that span caused them.
    */
  private def drain(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val byStart = spans.sortBy(_.startMs)
    jobs.values.foreach { j =>
      if (j.span == 0L) {
        byStart.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs).lastOption
          .foreach { s => j.span = s.id; j.group = s.layer }
      }
    }
  }

  /** Writes the spans, then the jobs with the span and layer each was
    * given, as JSON lines.
    */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
        f""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""").append('\n')
    }
    jobs.values.foreach { j =>
      sb.append(f"""{"job":${j.id},"span":${j.span},"layer":"${Layers.of(j)}",""" +
        f""""site":"${j.site}","start_ms":${j.startMs},"ms":${j.endMs - j.startMs}}""").append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Which layer a job belongs to by its call site: the innermost engine
  * frame of the stack that submitted it. Jobs whose innermost engine frame
  * is in no layer below (table DML, queries, the benchmark itself) keep
  * the layer of the span they ran under.
  */
object Layers {
  // (class prefix, method substring) of a stack frame -> layer; first match wins
  private val rules = Seq(
    ("graft.delta.IcebergMetadata", "") -> "delta.iceberg",
    ("graft.delta.Puffin", "") -> "delta.iceberg",
    ("graft.delta.DeltaLog", "checkpoint") -> "delta.checkpoint",
    ("graft.delta.DeltaLog", "reconcileChecksum") -> "delta.checkpoint",
    ("graft.delta.Checkpoints", "write") -> "delta.checkpoint",
    ("graft.delta.DeltaScan", "") -> "delta.scan",
    ("graft.delta.DeltaFileIndex", "") -> "delta.scan",
    ("graft.delta.OptimisticTransaction", "") -> "delta.txn",
    ("graft.delta.ConflictChecker", "") -> "delta.txn",
    ("graft.delta.DeltaLog", "") -> "delta.log",
    ("graft.delta.Snapshot", "") -> "delta.log",
    ("graft.delta.Checkpoints", "") -> "delta.log",
    ("graft.delta.LogStore", "") -> "delta.log",
    ("graft.delta.HadoopLogStore", "") -> "delta.log")

  /** The innermost engine frame (`class.method`) of a call-site stack. */
  def engineFrame(site: String): String =
    site.split('\n').iterator.map(_.trim.stripPrefix("at "))
      .find(_.startsWith("graft.")).map(_.takeWhile(_ != '(')).getOrElse("")

  /** Layer of the innermost engine frame of a call-site stack, if any. */
  def ofCallSite(site: String): Option[String] = {
    val method = engineFrame(site)
    rules.collectFirst { case ((cls, m), layer)
      if method.startsWith(cls) && method.drop(cls.length).contains(m) => layer }
  }

  /** Final layer of a job: its call site's layer, else its span's. */
  def of(j: JobRec): String =
    if (j.siteLayer.nonEmpty) j.siteLayer else if (j.group.isEmpty) "none" else j.group
}
