package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.BitSet

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.delta.{DeltaScan, DeltaTable, Metadata, Op, SetTransaction}

/** `lake_mixed`: mixed reads and writes of one Delta table with UniForm
  * on (`delta.universalFormat.enabledFormats=iceberg`), built from
  * `orders`, partitioned 16 ways on `p16 = o_orderkey mod 16`, with a few
  * hundred key-range-sorted files and checkpoint interval 4. Set-up is
  * CREATE plus one bulk write, so every deck's third commit (the MERGE)
  * lands a checkpoint. The client is closed-loop and single-threaded and
  * runs whole decks: a fixed script of operation kinds, so every run
  * measures the same mix in the same order against the same checkpoint
  * state; the seed draws the data and every operation's arguments. Per
  * deck, in this order: append, read, DELETE, read, time-travel read,
  * MERGE, stale commit, read, re-delivery. That is:
  *
  *  - 3 partition+stats-pruned reads of the latest snapshot;
  *  - 1 time-travel read at a version drawn uniformly over the whole
  *    history, so it misses any latest-snapshot cache;
  *  - 1 idempotent `writeStreamBatch` append and 1 re-delivery of an
  *    already committed batch id, which must commit nothing;
  *  - 1 DELETE and 1 MERGE;
  *  - every 4th commit is a metadata-only `SetTransaction` commit from a
  *    transaction opened before the previous commit landed, so the
  *    conflict check and retry always run.
  *
  * After set-up, one untimed warm-up deck runs on the table before the
  * timed decks.
  *
  * The generator keeps a model of the table (live keys per version).
  * Every read, the final table, the version count and the Iceberg record
  * total are checked against it.
  */
final class Lake(ctx: Ctx) {
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val rng = ctx.rng
  private val KeyRanges = 4        // key ranges per partition written by set-up
  private val AppendRows = 200
  private val StaleEvery = 4

  private val deck: Seq[String] =
    Seq("ingest", "read", "delete", "read", "tt_read", "merge", "read", "redeliver")

  private val orders: DataFrame = spark.read.parquet(s"${ctx.opts.data}/orders.parquet")
    .withColumn("p16", pmod(col("o_orderkey"), lit(16)).cast("int"))
  private val schema: StructType = orders.schema
  private val nKeys: Long = orders.count()
  private val props = Map("delta.checkpointInterval" -> "4",
    "delta.universalFormat.enabledFormats" -> "iceberg")

  // ---------------------------------------------------------------- model
  private val live = new BitSet()
  private val history = mutable.ArrayBuffer.empty[BitSet] // index = version
  private var nextKey = 0L
  private def committed(): Unit = history += live.clone().asInstanceOf[BitSet]
  private def version: Long = history.size - 1L

  private def expect(bits: BitSet, k: Int, lo: Long, hi: Long): (Long, Long) = {
    var n = 0L; var sum = 0L
    var i = bits.nextSetBit(lo.toInt)
    while (i >= 0 && i <= hi) {
      if (i % 16 == k) { n += 1; sum += i }
      i = bits.nextSetBit(i + 1)
    }
    (n, sum)
  }

  // ------------------------------------------------------------- building
  private def build(path: String): Unit = {
    val t = DeltaTable.forPath(spark, path)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(schemaString = schema.json,
      partitionColumns = Seq("p16"), configuration = props))
    txn.commit(Nil, Op.CreateTable)
    val range = (col("o_orderkey") * KeyRanges / nKeys).cast("int")
    t.write(orders.repartition(16 * KeyRanges, col("p16"), range)
      .sortWithinPartitions("p16", "o_orderkey"), SaveMode.Append)
  }

  private def modelAfterBuild(): Unit = {
    committed() // v0: CREATE
    live.set(0, nKeys.toInt)
    committed() // v1: bulk write
    nextKey = nKeys
  }

  // ------------------------------------------------------------ row maker
  private val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val ntz = schema("o_orderdate").dataType == TimestampNTZType

  private def row(key: Long, price: Double): Row = {
    val day = java.time.LocalDateTime.of(1995, 1, 1, 0, 0).plusDays(rng.nextInt(2400).toLong)
    Row(key, rng.nextInt(15000).toLong, if (rng.nextBoolean()) "O" else "F", price,
      if (ntz) day else java.sql.Timestamp.valueOf(day),
      prios(rng.nextInt(5)), (key % 16).toInt)
  }
  private def price(): Double = math.round(rng.nextDouble() * 5e7) / 100.0
  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def freshKey(k: Int): Long = {
    var x = nextKey
    while (x % 16 != k) x += 1
    nextKey = x + 1
    x
  }

  /** A live key of partition `k`, or -1 when the partition is empty. */
  private def liveKeyIn(k: Int): Long = {
    var i = live.nextSetBit(rng.nextInt(math.max(1, nextKey.toInt)))
    var tries = 0
    while (tries < 100000) {
      if (i < 0) i = live.nextSetBit(0)
      if (i < 0) return -1L
      if (i % 16 == k) return i.toLong
      i = live.nextSetBit(i + 1); tries += 1
    }
    -1L
  }

  // ----------------------------------------------------------- operations
  private var table: DeltaTable = _
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private val opFs = mutable.ArrayBuffer.empty[(String, String, Map[String, Long])]
  private val layerObs = new LayerObs(ctx)
  private var batchId = 0L
  private val batches = mutable.ArrayBuffer.empty[Seq[Row]]
  private var commits = 0L
  private val probe = ctx.opts.trace

  /** Runs one timed operation; `body` returns whether its checks passed. */
  private def timed(kind: String, cls: String)(body: => Boolean): Unit = {
    FsCounters.commitWrites.clear()
    val fs0 = if (tr.enabled) FsCounters.snapshot() else Map.empty[String, Long]
    val t0 = System.nanoTime()
    val ok = try tr.op(s"$cls:$kind")(body) catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $kind failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
    }
    val ms = (System.nanoTime() - t0) / 1e6
    ops += OpRec(kind, cls, ms, ok)
    if (!ok) System.err.println(s"[perfbench] $kind check failed")
    if (tr.enabled) {
      val fs1 = FsCounters.snapshot()
      opFs += ((kind, cls, fs1.map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) }))
      if (cls == "commit") layerObs.afterCommit(table, kind, ms, version)
    }
  }

  private def rangePred(k: Int, lo: Long, hi: Long): Column =
    col("p16") === k && col("o_orderkey").between(lo, hi)

  private def countSum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("o_orderkey")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def read(k: Int, lo: Long, hi: Long, kind: String): Unit = timed(kind, "read") {
    val pred = rangePred(k, lo, hi)
    // every deck of the traced run makes these calls, so its untraced and
    // traced rates compare the same work
    if (probe) {
      val snap = tr.span("delta.log", "update")(table.deltaLog.update())
      val files = tr.span("delta.scan", "plan")(DeltaScan(snap, Some(pred)).files)
      if (tr.enabled) layerObs.scanned(files.size, snap)
    }
    val got = tr.span("exec", "read")(countSum(table.read(pred)))
    got == expect(live, k, lo, hi)
  }

  private def ttRead(): Unit = timed("tt_read", "read") {
    val v = rng.nextInt(history.size).toLong
    val k = rng.nextInt(16)
    val lo = (rng.nextDouble() * nextKey).toLong
    val hi = lo + nKeys / 16
    if (probe) tr.span("delta.log", "tt_build")(table.deltaLog.snapshotForVersionAsOf(v))
    val got = tr.span("exec", "read")(countSum(table.toDF(v).filter(rangePred(k, lo, hi))))
    got == expect(history(v.toInt), k, lo, hi)
  }

  private def ingest(): Unit = {
    val rows = (0 until AppendRows).map(i => row(nextKey + i, price()))
    batchId += 1
    val id = batchId
    timed("ingest", "commit") {
      val wrote = tr.span("delta.dml", "append")(
        table.writeStreamBatch(frame(rows), "ingest", id))
      rows.foreach(r => live.set(r.getLong(0).toInt))
      nextKey += AppendRows; committed(); commits += 1
      batches += rows
      wrote
    }
  }

  /** The metadata-only commit of a transaction opened one commit ago. */
  private def staleCommit(txn: graft.delta.OptimisticTransaction): Unit =
    timed("stale_settxn", "commit") {
      val v = tr.span("delta.txn", "commit")(txn.commit(
        Seq(SetTransaction("side-channel", commits, Some(System.currentTimeMillis()))),
        Op.StreamingUpdate))
      committed(); commits += 1
      v == version && txn.readVersion < v - 1
    }

  private def redeliver(): Unit = {
    val i = rng.nextInt(batches.size)
    timed("redeliver", "noop") {
      val wrote = tr.span("delta.dml", "redeliver")(
        table.writeStreamBatch(frame(batches(i)), "ingest", i + 1L))
      !wrote
    }
  }

  private def delete(): Unit = {
    val k = rng.nextInt(16)
    val x = liveKeyIn(k)
    val hi = x + 64
    timed("delete", "commit") {
      val before = expect(live, k, x, hi)._1
      val v = tr.span("delta.dml", "delete")(table.delete(rangePred(k, x, hi)))
      (x to hi).foreach(i => if (i % 16 == k) live.clear(i.toInt))
      committed(); commits += 1
      x >= 0 && before > 0 && v == version
    }
  }

  private def merge(): Unit = {
    val k = rng.nextInt(16)
    val hits = Iterator.continually(liveKeyIn(k)).take(40).filter(_ >= 0).toSeq.distinct
    val fresh = Seq.fill(20)(freshKey(k))
    val rows = (hits ++ fresh).map(key => row(key, price()))
    timed("merge", "commit") {
      val v = tr.span("delta.dml", "merge")(
        table.merge(frame(rows).as("s").toDF(), col("t.o_orderkey") === col("s.o_orderkey") &&
          col("t.p16") === lit(k))
          .whenMatchedUpdate(Map("o_totalprice" -> col("s.o_totalprice")))
          .whenNotMatchedInsertAll()
          .execute())
      fresh.foreach(f => live.set(f.toInt))
      committed(); commits += 1
      v == version
    }
  }

  private val commitOps = Set("ingest", "delete", "merge")

  private def runDeck(): Double = {
    val t0 = System.nanoTime()
    deck.foreach { op =>
      // the stale transaction opens before the next commit lands
      val stale =
        if (commitOps(op) && commits % StaleEvery == StaleEvery - 2)
          Some(table.deltaLog.startTransaction())
        else None
      runOp(op)
      stale.foreach(staleCommit)
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def runOp(op: String): Unit = op match {
    case "read" =>
      val lo = (rng.nextDouble() * nextKey).toLong
      read(rng.nextInt(16), lo, lo + nKeys / 16, "read")
    case "tt_read" => ttRead()
    case "ingest" => ingest()
    case "redeliver" => redeliver()
    case "delete" => delete()
    case "merge" => merge()
  }

  /** Whole decks until the next one would end past `seconds`; at least one. */
  private def window(seconds: Double): (Double, Seq[Double]) = {
    val decks = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    do decks += runDeck() while (elapsed + decks.last <= seconds)
    (elapsed, decks.toSeq)
  }

  // ------------------------------------------------------------------ run
  def run(): Outcome = {
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var phase0 = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases(name) = (now - phase0) / 1e9; phase0 = now
    }
    val setups = (0 until 3).map { i =>
      val p = ctx.workDir(s"lake-$i")
      val t0 = System.nanoTime()
      build(p)
      (System.nanoTime() - t0) / 1e9
    }
    (0 until 2).foreach(i => Lake.deleteTree(ctx.workDir(s"lake-$i")))
    val path = ctx.workDir("lake-2")
    table = DeltaTable.forPath(spark, path)
    modelAfterBuild()
    val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
    checks += "setup_version" -> (table.snapshot.version == version)
    phase("setup")

    // An untimed warm-up deck: the timed decks then run JIT-compiled read,
    // DML and checkpoint code, on a table that has a checkpoint as in
    // every later deck. Its operations are checked like any other.
    val warmDeckS = runDeck()
    checks += "warmup_deck" -> ops.forall(_.ok)
    ops.clear()
    phase("warmup")

    var layers = Map.empty[String, Double]
    val (windowS, decks) =
      if (!ctx.opts.trace) window(ctx.opts.seconds)
      else {
        // untraced deck, then a traced one: their rates give the overhead
        val (w0, _) = window(0)
        val n0 = ops.size
        tr.start()
        val (w1, d1) = window(0)
        tr.stop()
        val untraced = ops.take(n0).count(_.ok) / w0
        val traced = ops.drop(n0).count(_.ok) / w1
        layers = layerObs.metrics(opFs.toSeq) ++ Map(
          "trace.ops_per_s_untraced" -> untraced,
          "trace.ops_per_s_traced" -> traced,
          "trace.overhead_ratio" -> (untraced - traced) / untraced)
        (w1, d1)
      }

    phase("window")
    // end-of-run checks against the model, untimed
    val snap = table.deltaLog.update()
    val full = table.toDF.agg(count(lit(1)), coalesce(sum(col("o_orderkey")), lit(0L)),
      countDistinct(col("o_orderkey"))).head()
    var expectedRows = live.cardinality().toLong
    if (ctx.opts.plantWrong) expectedRows += 1
    val keySum = live.stream().asLongStream().sum()
    checks += "row_count" -> (full.getLong(0) == expectedRows)
    checks += "key_checksum" -> (full.getLong(1) == keySum)
    checks += "no_duplicate_keys" -> (full.getLong(2) == full.getLong(0))
    checks += "versions_committed" -> (snap.version == version)
    checks += "iceberg_total_records" -> (Lake.icebergRecords(path) == expectedRows)
    val liveBytes = snap.allFiles.map(_.size).sum.toDouble
    val spaceAmp = Lake.treeBytes(path) / liveBytes
    phase("checks")
    Outcome(setups, windowS, ops.count(_.ok) / windowS, ops.toSeq, decks, spaceAmp,
      checks.toSeq, layers, Map(
        "table_version" -> snap.version, "live_files" -> snap.allFiles.size,
        "live_rows" -> full.getLong(0), "deck" -> deck, "decks" -> decks.size, "warmup_deck_s" -> warmDeckS,
        "phase_s" -> phases.toMap))
  }
}

object Lake {
  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.delete)
  }

  /** Bytes of every file under `p`: data, log, checksums and metadata. */
  def treeBytes(p: String): Double =
    Files.walk(Paths.get(p)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum.toDouble

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The current Iceberg snapshot's JSON node and its manifest list path. */
  def icebergCurrent(table: String): (com.fasterxml.jackson.databind.JsonNode, String) = {
    val dir = Paths.get(table, "metadata")
    val hint = Files.readString(dir.resolve("version-hint.text")).trim
    val meta = mapper.readTree(Files.readString(dir.resolve(s"v$hint.metadata.json")))
    val cur = meta.get("current-snapshot-id").asLong
    val sn = meta.get("snapshots").elements().asScala.find(_.get("snapshot-id").asLong == cur).get
    (sn, sn.get("manifest-list").asText)
  }

  /** Manifest-list entries of the current snapshot as Avro records. */
  def manifestList(table: String): (Long, Seq[org.apache.avro.generic.GenericRecord]) = {
    val (sn, list) = icebergCurrent(table)
    val file = new java.io.File(new java.net.URI(
      if (list.startsWith("file:")) list else s"file://$list"))
    val r = org.apache.avro.file.DataFileReader.openReader(file,
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    try (sn.get("snapshot-id").asLong, r.iterator().asScala.toList) finally r.close()
  }

  /** Live records of the current Iceberg snapshot: added plus existing rows
    * of its data manifests.
    */
  def icebergRecords(table: String): Long =
    manifestList(table)._2.filter(m => m.get("content").asInstanceOf[Int] == 0)
      .map(m => m.get("added_rows_count").asInstanceOf[Long] +
        m.get("existing_rows_count").asInstanceOf[Long]).sum
}
