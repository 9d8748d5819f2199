package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.delta.{DeltaTable, Snapshot}

/** The `llm_pipeline` query list; the traced run of every workload reports
  * `query.<name>.*` for each (0 where the workload runs none).
  */
object PerLayer {
  val pipelineQueries: Seq[String] = Seq(
    "q3_shipping_priority", "dedup_minhash_lsh", "hybrid_retrieval",
    "ann_cosine_topk", "stream_window_agg")
}

/** Collects what the traced run observes beside the spans (scan selectivity,
  * per-commit log facts) and turns spans, jobs and file-system deltas into
  * the per-layer metrics.
  */
final class LayerObs(ctx: Ctx) {
  private val tr = ctx.tracer
  private val selected = mutable.ArrayBuffer.empty[(Int, Int)]
  private val considered = mutable.HashMap.empty[Long, Int]
  private val ckptCommitMs = mutable.ArrayBuffer.empty[Double]
  private val ckptOps = mutable.HashSet.empty[Long]
  private val attempts = mutable.ArrayBuffer.empty[Seq[Long]]
  private var removedFiles, removedBytes, changedRows, dmlCommits = 0L
  private var reused, listed = 0L

  def scanned(files: Int, snap: Snapshot): Unit = {
    val all = considered.getOrElseUpdate(snap.version, snap.allFiles.size)
    selected += files -> all
  }

  /** Facts of the commit that just landed at `version`, read from outside
    * the engine: checkpoint files on disk, the commit's operation metrics,
    * the commit-file write attempts and the Iceberg manifest list.
    */
  def afterCommit(t: DeltaTable, kind: String, ms: Double, version: Long): Unit = {
    attempts += Iterator.continually(FsCounters.commitWrites.poll())
      .takeWhile(_ != null).map(_.longValue).toSeq
    val log = Paths.get(t.deltaLog.logPath.toUri.getPath)
    val prefix = f"$version%020d.checkpoint"
    val landed = scala.util.Using.resource(Files.list(log))(
      _.iterator().asScala.exists(_.getFileName.toString.startsWith(prefix)))
    if (landed) {
      ckptCommitMs += ms
      ckptOps += tr.spans.lastOption.map(_.op).getOrElse(-1L)
    }
    if (kind == "delete" || kind == "merge") {
      t.deltaLog.commitInfoAt(version).foreach { ci =>
        val m = ci.operationMetrics
        def g(k: String) = m.get(k).map(_.toLong).getOrElse(0L)
        dmlCommits += 1
        removedFiles += g("numRemovedFiles")
        removedBytes += g("numRemovedBytes")
        changedRows += g("numDeletedRows") + g("numTargetRowsUpdated") +
          g("numTargetRowsDeleted") + g("numTargetRowsInserted")
      }
    }
    if (Files.exists(Paths.get(t.deltaLog.dataPath.toUri.getPath, "metadata", "version-hint.text"))) {
      val (cur, entries) = Lake.manifestList(t.deltaLog.dataPath.toUri.getPath)
      listed += entries.size
      reused += entries.count(_.get("added_snapshot_id").asInstanceOf[Long] != cur)
    }
  }

  /** Per-layer metrics from the spans, jobs and per-op FS deltas. */
  def metrics(opFs: Seq[(String, String, Map[String, Long])]): Map[String, Double] = {
    import Stats.{mean, median}
    val spans = tr.spans.toSeq
    val jobs = tr.jobs.values.toSeq.filter(_.endMs >= 0)
    val jobsBySpan = jobs.groupBy(_.span)
    val spanOp = spans.map(s => s.id -> s.op).toMap
    val jobsByOp = jobs.groupBy(j => spanOp.getOrElse(j.span, -1L))
    def dur(j: JobRec) = (j.endMs - j.startMs).toDouble
    def named(layer: String, name: String) = spans.filter(s => s.layer == layer && s.name == name)
    def med(ss: Seq[Span]) = if (ss.isEmpty) 0.0 else median(ss.map(_.ms))
    def jobsIn(ss: Seq[Span]) = if (ss.isEmpty) 0.0 else mean(ss.map(s => jobsBySpan.getOrElse(s.id, Nil).size.toDouble))
    def fsMean(ops: Seq[Map[String, Long]], keys: String*) =
      if (ops.isEmpty) 0.0 else mean(ops.map(m => keys.map(m.getOrElse(_, 0L)).sum.toDouble))

    val allOps = opFs.map(_._3)
    val readOps = opFs.filter(_._2 == "read").map(_._3)
    val commitFs = opFs.filter(_._2 == "commit").map(_._3)
    val commitOpIds = spans.filter(s => s.layer == "op" && s.name.startsWith("commit:")).map(_.op)
    def perCommit(layer: String)(f: Seq[JobRec] => Double): Double =
      if (commitOpIds.isEmpty) 0.0
      else mean(commitOpIds.map(id => f(jobsByOp.getOrElse(id, Nil).filter(Layers.of(_) == layer))))

    val execSpans = named("exec", "read")
    val infra = Set("delta.log", "delta.scan")
    val logKinds = Seq("commitLog", "otherLog", "checkpoint")
    val conflicts = attempts.filter(_.size >= 2).map(w => (w(1) - w(0)) / 1e6)
    val m = mutable.LinkedHashMap[String, Double](
      "delta.log.update_ms" -> med(named("delta.log", "update")),
      "delta.log.update_jobs" -> jobsIn(named("delta.log", "update")),
      "delta.log.tt_build_ms" -> med(named("delta.log", "tt_build")),
      "delta.log.files_opened" -> fsMean(allOps, logKinds.map(_ + ".opens"): _*),
      "delta.log.bytes_read" -> fsMean(allOps, logKinds.map(_ + ".bytesRead"): _*),
      "delta.log.list_calls_per_op" -> fsMean(allOps, logKinds.map(_ + ".lists"): _*),
      "delta.scan.plan_ms" -> med(named("delta.scan", "plan")),
      "delta.scan.plan_jobs" -> jobsIn(named("delta.scan", "plan")),
      "delta.scan.files_selected" -> (if (selected.isEmpty) 0.0 else mean(selected.map(_._1.toDouble).toSeq)),
      "delta.scan.prune_ratio" -> (if (selected.isEmpty) 0.0
        else mean(selected.map { case (s, c) => s.toDouble / math.max(1, c) }.toSeq)),
      "exec.read_ms" -> (if (execSpans.isEmpty) 0.0 else median(execSpans.map { s =>
        s.ms - jobsBySpan.getOrElse(s.id, Nil).filter(j => infra(Layers.of(j))).map(dur).sum
      })),
      "exec.read_jobs" -> (if (execSpans.isEmpty) 0.0 else mean(execSpans.map(s =>
        jobsBySpan.getOrElse(s.id, Nil).count(j => !infra(Layers.of(j))).toDouble))),
      "exec.data_files_opened" -> fsMean(readOps, "data.opens"),
      "exec.data_bytes_read" -> fsMean(readOps, "data.bytesRead"),
      "exec.shuffle_mb" -> (if (execSpans.isEmpty) 0.0 else mean(execSpans.map(s =>
        jobsBySpan.getOrElse(s.id, Nil).map(_.shuffleBytes).sum / 1048576.0))),
      "delta.txn.commit_ms" -> med(named("delta.txn", "commit")),
      // every job the metadata-only commit runs, whatever layer its call
      // site names (most are the post-commit snapshot update's)
      "delta.txn.commit_jobs" -> jobsIn(named("delta.txn", "commit")),
      "delta.txn.retries_per_commit" ->
        (if (attempts.isEmpty) 0.0 else mean(attempts.map(a => math.max(0, a.size - 1).toDouble).toSeq)),
      "delta.txn.conflict_ms" -> (if (conflicts.isEmpty) 0.0 else median(conflicts.toSeq)),
      "delta.txn.log_bytes_written" -> fsMean(commitFs, "commitLog.bytesWritten"),
      "delta.checkpoint.commit_ms" -> (if (ckptCommitMs.isEmpty) 0.0 else median(ckptCommitMs.toSeq)),
      "delta.checkpoint.jobs" -> (if (ckptOps.isEmpty) 0.0 else mean(ckptOps.toSeq.map(id =>
        jobsByOp.getOrElse(id, Nil).count(Layers.of(_) == "delta.checkpoint").toDouble))),
      "delta.checkpoint.bytes_written" -> (if (ckptOps.isEmpty) 0.0
        else commitFs.map(_.getOrElse("checkpoint.bytesWritten", 0L)).sum.toDouble / ckptOps.size),
      "delta.dml.append_ms" -> med(named("delta.dml", "append")),
      "delta.dml.delete_ms" -> med(named("delta.dml", "delete")),
      "delta.dml.merge_ms" -> med(named("delta.dml", "merge")),
      "delta.dml.files_rewritten" -> (if (dmlCommits == 0) 0.0 else removedFiles.toDouble / dmlCommits),
      "delta.dml.bytes_rewritten_per_row" ->
        (if (changedRows == 0) 0.0 else removedBytes.toDouble / changedRows),
      "delta.iceberg.job_ms" -> perCommit("delta.iceberg")(_.map(dur).sum),
      "delta.iceberg.jobs" -> perCommit("delta.iceberg")(_.size.toDouble),
      "delta.iceberg.files_written" -> fsMean(commitFs, "iceberg.creates"),
      "delta.iceberg.bytes_written" -> fsMean(commitFs, "iceberg.bytesWritten"),
      "delta.iceberg.manifest_reuse_ratio" -> (if (listed == 0) 0.0 else reused.toDouble / listed))
    PerLayer.pipelineQueries.foreach { q =>
      val ss = named("queries", q)
      m(s"query.$q.s") = med(ss) / 1000.0
      m(s"query.$q.jobs") = jobsIn(ss)
      m(s"query.$q.shuffle_mb") = if (ss.isEmpty) 0.0 else mean(ss.map(s =>
        jobsByOp.getOrElse(s.op, Nil).filter(_.span == s.id).map(_.shuffleBytes).sum / 1048576.0))
    }
    m.toMap
  }
}
