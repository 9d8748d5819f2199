package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.delta.DeltaTable

/** `llm_pipeline`: repeated passes over a fixed list of the engine's
  * pipeline queries (`SparkEntry.queries`) on the generated corpus. An
  * operation is one query, whose result is collected (a read). After each
  * pass, outside its time, every result is appended to that query's Delta
  * sink table (one commit per query): `pass_s` and `ops_per_s` are the
  * queries' alone, `commit_p50_ms`/`commit_p90_ms` the appends'.
  *
  * A first, untimed pass warms the JVM and writes every result as parquet
  * with the query's DuckDB oracle SQL beside it, for the oracle check that
  * follows the run. Set-up creates the empty sink tables.
  */
final class Pipeline(ctx: Ctx) {
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val data = ctx.opts.data
  private val names = PerLayer.pipelineQueries
  private val fns = SparkEntry.queries
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private val opFs = mutable.ArrayBuffer.empty[(String, String, Map[String, Long])]
  private val layerObs = new LayerObs(ctx)
  private var sinkRoot: String = _
  private val appendS = mutable.ArrayBuffer.empty[Double]
  private def sink(name: String) = DeltaTable.forPath(spark, Paths.get(sinkRoot, name).toString)

  private def timed(kind: String, cls: String)(body: => Unit): Boolean = {
    FsCounters.commitWrites.clear()
    val fs0 = if (tr.enabled) FsCounters.snapshot() else Map.empty[String, Long]
    val t0 = System.nanoTime()
    val ok = try { tr.op(s"$cls:$kind")(body); true } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $kind failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
    }
    val ms = (System.nanoTime() - t0) / 1e6
    ops += OpRec(kind, cls, ms, ok)
    if (tr.enabled) {
      opFs += ((kind, cls, FsCounters.snapshot().map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) }))
      if (cls == "commit") {
        val t = sink(kind.stripPrefix("sink:"))
        layerObs.afterCommit(t, "sink", ms, t.snapshot.version)
      }
    }
    ok
  }

  /** One pass over the queries, then their sink appends; returns the
    * queries' wall time.
    */
  private def pass(): Double = {
    val results = mutable.ArrayBuffer.empty[(String, StructType, Array[Row])]
    val t0 = System.nanoTime()
    names.foreach { q =>
      timed(q, "read") {
        tr.span("queries", q) {
          val df = fns(q)(spark, data)
          results += ((q, df.schema, df.collect()))
        }
      }
    }
    val t1 = System.nanoTime()
    results.foreach { case (q, schema, rows) =>
      timed(s"sink:$q", "commit") {
        tr.span("delta.dml", "append")(sink(q)
          .write(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema), SaveMode.Append))
      }
    }
    appendS += (System.nanoTime() - t1) / 1e9
    (t1 - t0) / 1e9
  }

  /** Untimed: every result as one parquet file, plus the oracle SQL.
    * Returns each query's result schema and row count.
    */
  private def oraclePass(dir: String): Map[String, (StructType, Long)] = {
    val results = names.map { q =>
      val df = fns(q)(spark, data)
      val rows = df.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema).coalesce(1)
        .write.mode("overwrite").parquet(Paths.get(dir, q).toString)
      q -> (df.schema, rows.length.toLong)
    }.toMap
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val sql = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(dir, "oracle_sql.json"),
      mapper.writeValueAsString(scala.jdk.CollectionConverters.MapHasAsJava(sql).asJava))
    results
  }

  private def createSinks(root: String, results: Map[String, (StructType, Long)]): Unit =
    names.foreach { name =>
      DeltaTable.forPath(spark, Paths.get(root, name).toString)
        .write(spark.createDataFrame(java.util.Collections.emptyList[Row](), results(name)._1),
          SaveMode.Append)
    }

  def run(): Outcome = {
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var phase0 = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases(name) = (now - phase0) / 1e9; phase0 = now
    }
    val results = oraclePass(ctx.workDir("oracle"))
    phase("oracle_pass")
    val setups = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      createSinks(ctx.workDir(s"sink-$i"), results)
      (System.nanoTime() - t0) / 1e9
    }
    (0 until 2).foreach(i => Lake.deleteTree(ctx.workDir(s"sink-$i")))
    sinkRoot = ctx.workDir("sink-2")
    phase("setup")

    val passes = mutable.ArrayBuffer.empty[Double]
    var layers = Map.empty[String, Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def queriesDone(from: Int) = ops.drop(from).count(o => o.ok && o.cls == "read")
    var timedFrom = 0 // first operation of the passes in `passes`
    if (!ctx.opts.trace) {
      // another pass only if it is predicted, appends included, to end in time
      do passes += pass() while (elapsed + passes.last + appendS.last <= ctx.opts.seconds)
    } else {
      val p0 = pass()
      timedFrom = ops.size
      tr.start()
      val p1 = pass()
      tr.stop()
      passes += p1
      val untraced = queriesDone(0) / p0
      val traced = queriesDone(timedFrom) / p1
      layers = layerObs.metrics(opFs.toSeq) ++ Map(
        "trace.ops_per_s_untraced" -> untraced,
        "trace.ops_per_s_traced" -> traced,
        "trace.overhead_ratio" -> (untraced - traced) / untraced)
    }
    phase("window")

    // sink tables hold one result per pass
    val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
    val nPasses = if (ctx.opts.trace) 2 else passes.size
    var live = 0.0
    names.foreach { name =>
      val files = sink(name).snapshot.allFiles
      live += files.map(_.size).sum
      val rows = files.map(f => Pipeline.numRecords(f.stats)).sum
      checks += s"sink_rows.$name" -> (rows == results(name)._2 * nPasses)
    }
    phase("checks")
    Outcome(setups, passes.sum, queriesDone(timedFrom) / passes.sum, ops.toSeq, passes.toSeq,
      Lake.treeBytes(sinkRoot) / math.max(1.0, live), checks.toSeq, layers,
      Map("queries" -> names, "passes" -> passes.size,
        "sink_append_s" -> appendS.toSeq, "phase_s" -> phases.toMap))
  }
}

object Pipeline {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** `numRecords` of an AddFile's stats JSON (0 when absent). */
  def numRecords(stats: String): Long =
    Option(stats).map(s => mapper.readTree(s).path("numRecords").asLong(0L)).getOrElse(0L)
}
