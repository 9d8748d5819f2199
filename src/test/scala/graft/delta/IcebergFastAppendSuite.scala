package graft.delta

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** UniForm's incremental generation path (IcebergMetadata.generate with a
  * change set read from the Delta log), pinned against the general path:
  *
  *  - incremental ≡ general: from the SAME previous generation, the
  *    incremental path and the general path (generate called with no
  *    change set) must yield semantically equivalent Iceberg metadata —
  *    entry statuses, snapshot lineage, sequence numbers, per-partition
  *    record counts;
  *  - incremental manifests cluster one per partition tuple, a null
  *    partition value and the string "null" included;
  *  - v3 liveness: a formatVersion=3 row-tracking append takes the
  *    incremental path and keeps first_row_id;
  *  - a property over random commit sequences (append, DELETE, MERGE,
  *    metadata-only SetTransaction, DV DELETE, stale previous generation)
  *    on v2 and v3 tables.
  *
  * Each generation records its path in the snapshot summary
  * (`graft.gen-path`); the tests read it there.
  */
class IcebergFastAppendSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-fastapp").toString

  private def df(rows: (Long, String, String)*) = {
    import spark.implicits._
    rows.toDF("id", "v", "part")
  }

  private def localFile(p: String): java.io.File =
    new java.io.File(p.stripPrefix("file:"))

  private def avroRecords(path: String): Seq[GenericRecord] = {
    val r = DataFileReader.openReader(localFile(path),
      new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.toList finally r.close()
  }

  private def mkUniform(dir: String,
      extraConf: Map[String, String] = Map.empty): DeltaTable = {
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = df((0L, "x", "p")).schema.json,
      partitionColumns = Seq("part"),
      configuration = Map(
        "delta.universalFormat.enabledFormats" -> "iceberg") ++ extraConf))
    txn.commit(Nil, Op.CreateTable)
    t
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def hintPath(t: DeltaTable): Path =
    new Path(IcebergMetadata.metadataDir(t.deltaLog), "version-hint.text")

  private def hint(t: DeltaTable): Long =
    Files.readString(localFile(hintPath(t).toString).toPath).trim.toLong

  /** Point the table's Iceberg view at an older generation (still on
    * disk): the next generation builds on it.
    */
  private def setHint(t: DeltaTable, n: Long): Unit = {
    val p = hintPath(t)
    val out = p.getFileSystem(spark.sessionState.newHadoopConf()).create(p, true)
    try out.write(n.toString.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Regenerate the current version through the general path, from the
    * generation the hint named before the commit (`parentHint`).
    */
  private def regenerateGeneral(t: DeltaTable, parentHint: Long): Unit = {
    setHint(t, parentHint)
    IcebergMetadata.generate(spark, t.deltaLog, t.deltaLog.update())
  }

  /** (metadata JSON, current snapshot id, manifest-list records). */
  private def current(t: DeltaTable) = {
    val metaDir = IcebergMetadata.metadataDir(t.deltaLog).toString
      .stripPrefix("file:")
    val meta = mapper.readTree(Files.readString(
      new java.io.File(metaDir, s"v${hint(t)}.metadata.json").toPath))
    val curId = meta.get("current-snapshot-id").asLong
    val snap = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == curId).get
    (snap, curId, avroRecords(snap.get("manifest-list").asText))
  }

  private def actionsAt(t: DeltaTable): Seq[Action] =
    t.changes(t.deltaLog.update().version).next()._2

  private def genPath(t: DeltaTable): String =
    current(t)._1.get("summary").get("graft.gen-path").asText

  /** Current snapshot's manifest-list + manifest-entry semantics,
    * normalized so two tables holding the same logical data compare
    * equal: per-manifest (content, seq, minSeq, addedBy, counts,
    * partition-summary bounds) and per-entry
    * (status, snapshotId, seq, partitionTuple, recordCount) — file
    * paths/names (UUIDs, table dirs) excluded.
    */
  private def semantics(t: DeltaTable): (Seq[String], Seq[String]) = {
    val (_, curId, manifests) = current(t)
    // REUSED manifests (addedBy != current snapshot) must match exactly;
    // manifests FRESH this snapshot may be clustered differently by the
    // two writers (driver per-tuple vs distributed hash-partitioned), so
    // they compare as an aggregate (total added files/rows, lineage)
    val (fresh, reused) = manifests.partition(
      _.get("added_snapshot_id").asInstanceOf[Long] == curId)
    // manifest GROUPING is a layout freedom (per-tuple vs hash-clustered);
    // the semantics pinned here are per-snapshot lineage + counts
    val reusedSem = reused
      .groupBy(m => (m.get("content").asInstanceOf[Int],
        m.get("sequence_number").asInstanceOf[Long],
        m.get("added_snapshot_id").asInstanceOf[Long]))
      .toSeq.map { case ((c, seq, by), ms) =>
        s"c=$c seq=$seq addedBy=$by " +
          s"af=${ms.map(_.get("added_files_count").asInstanceOf[Int]).sum} " +
          s"ef=${ms.map(_.get("existing_files_count").asInstanceOf[Int]).sum} " +
          s"df=${ms.map(_.get("deleted_files_count").asInstanceOf[Int]).sum} " +
          s"ar=${ms.map(_.get("added_rows_count").asInstanceOf[Long]).sum} " +
          s"er=${ms.map(_.get("existing_rows_count").asInstanceOf[Long]).sum}"
      }.sorted
    val freshAgg = Seq(
      s"freshAf=${fresh.map(_.get("added_files_count").asInstanceOf[Int]).sum} " +
        s"freshAr=${fresh.map(_.get("added_rows_count").asInstanceOf[Long]).sum} " +
        s"freshEf=${fresh.map(_.get("existing_files_count").asInstanceOf[Int]).sum} " +
        s"freshDf=${fresh.map(_.get("deleted_files_count").asInstanceOf[Int]).sum} " +
        s"freshDr=${fresh.map(_.get("deleted_rows_count").asInstanceOf[Long]).sum} " +
        s"freshSeq=${fresh.map(_.get("sequence_number").asInstanceOf[Long]).distinct.sorted.mkString(",")}")
    val listSem = reusedSem ++ freshAgg
    val entrySem = manifests.filter(_.get("content").asInstanceOf[Int] == 0)
      .flatMap { m =>
        avroRecords(m.get("manifest_path").toString).map { e =>
          val dfr = e.get("data_file").asInstanceOf[GenericRecord]
          val pt = dfr.get("partition").asInstanceOf[GenericRecord]
          s"st=${e.get("status")} snap=${e.get("snapshot_id")} " +
            s"seq=${e.get("sequence_number")} part=${pt.get("part")} " +
            s"rc=${dfr.get("record_count")}" + firstRowId(dfr).fold("")(f => s" frid=$f")
        }
      }.sorted
    (listSem, entrySem)
  }

  private def firstRowId(dfr: GenericRecord): Option[Any] =
    if (dfr.getSchema.getField("first_row_id") == null) None
    else Some(dfr.get("first_row_id"))

  /** Layout-free lineage of the current snapshot: every live data file
    * with the snapshot that added it and its data sequence, plus the
    * tombstones of files this snapshot removed. Two tables whose
    * manifests were laid out differently by earlier generations compare
    * equal when they hold the same files with the same history.
    */
  private def lineage(t: DeltaTable): Seq[String] = {
    val (_, curId, manifests) = current(t)
    manifests.filter(_.get("content").asInstanceOf[Int] == 0).flatMap { m =>
      val listSeq = m.get("sequence_number")
      avroRecords(m.get("manifest_path").toString).flatMap { e =>
        val st = e.get("status").asInstanceOf[Int]
        val snap = e.get("snapshot_id").asInstanceOf[Long]
        val dfr = e.get("data_file").asInstanceOf[GenericRecord]
        val desc = s"snap=$snap seq=${Option(e.get("sequence_number")).getOrElse(listSeq)} " +
          s"part=${dfr.get("partition").asInstanceOf[GenericRecord].get("part")} " +
          s"rc=${dfr.get("record_count")}" + firstRowId(dfr).fold("")(f => s" frid=$f")
        if (st != 2) Some(s"live $desc")
        else if (snap == curId) Some(s"deleted $desc")
        else None // an older snapshot's tombstone, kept by a reused manifest
      }
    }.sorted
  }

  /** Iceberg's live row total: data rows minus position-delete rows. */
  private def icebergRows(t: DeltaTable): Long =
    current(t)._3.map { m =>
      val rows = m.get("added_rows_count").asInstanceOf[Long] +
        m.get("existing_rows_count").asInstanceOf[Long]
      if (m.get("content").asInstanceOf[Int] == 0) rows else -rows
    }.sum

  /** Per-tuple clustering: the partition tuples each data manifest the
    * current snapshot wrote covers (`freshOnly`) or every data manifest.
    */
  private def manifestTupleCounts(t: DeltaTable, freshOnly: Boolean = false): Seq[Int] = {
    val (_, curId, manifests) = current(t)
    manifests.filter(m => m.get("content").asInstanceOf[Int] == 0 &&
        (!freshOnly || m.get("added_snapshot_id").asInstanceOf[Long] == curId))
      .map { m =>
        avroRecords(m.get("manifest_path").toString)
          .map(e => String.valueOf(e.get("data_file").asInstanceOf[GenericRecord]
            .get("partition").asInstanceOf[GenericRecord].get("part")))
          .distinct.size
      }
  }

  private def seedAndAppend(t: DeltaTable): Unit = {
    // two seeded appends (manifest history the incremental path must
    // reuse by reference), then the measured append spanning two
    // partitions
    t.write(df((1L, "a", "p1"), (2L, "b", "p2")), SaveMode.Append, Seq("part"))
    t.write(df((3L, "c", "p1")), SaveMode.Append, Seq("part"))
    t.write(df((4L, "d", "p1"), (5L, "e", "p2"), (6L, "f", "p3")),
      SaveMode.Append, Seq("part"))
  }

  /** Run the same commits on two tables; the second regenerates its last
    * version through the general path from the same parent generation.
    * Returns (incremental table, general table).
    */
  private def incrementalVsGeneral(commits: DeltaTable => Unit): (DeltaTable, DeltaTable) = {
    val inc = mkUniform(tmp())
    commits(inc)
    assert(genPath(inc) == "incremental")
    val gen = mkUniform(tmp())
    commits(gen)
    regenerateGeneral(gen, hint(gen) - 1)
    assert(genPath(gen) == "general")
    val (il, ie) = semantics(inc)
    val (gl, ge) = semantics(gen)
    assert(ie == ge, s"entry semantics diverge:\nincremental:\n${ie.mkString("\n")}" +
      s"\ngeneral:\n${ge.mkString("\n")}")
    assert(il == gl, s"manifest-list semantics diverge:\nincremental:\n" +
      s"${il.mkString("\n")}\ngeneral:\n${gl.mkString("\n")}")
    (inc, gen)
  }

  test("incremental path ≡ general path (same appends)") {
    incrementalVsGeneral(seedAndAppend)
  }

  test("fast-path manifests are clustered one-per-partition-tuple") {
    val t = mkUniform(tmp())
    seedAndAppend(t)
    assert(genPath(t) == "incremental")
    val counts = manifestTupleCounts(t)
    assert(counts.nonEmpty && counts.forall(_ == 1),
      s"each data manifest must cover exactly one partition tuple, got $counts")
  }

  test("a null partition value and the string \"null\" get separate manifests") {
    val t = mkUniform(tmp())
    t.write(df((1L, "a", "p1")), SaveMode.Append, Seq("part"))
    t.write(df((2L, "b", null), (3L, "c", "null")), SaveMode.Append, Seq("part"))
    val (_, curId, manifests) = current(t)
    val fresh = manifests.filter(_.get("added_snapshot_id").asInstanceOf[Long] == curId)
    assert(fresh.size == 2, s"one manifest per tuple expected, got ${fresh.size}")
    assert(manifestTupleCounts(t, freshOnly = true) == Seq(1, 1))
    assert(icebergRows(t) == 3L)
  }

  test("fallbacks: a metadata commit and a stale previous generation take the general path") {
    val t = mkUniform(tmp())
    t.write(df((1L, "a", "p1")), SaveMode.Append, Seq("part"))
    assert(genPath(t) == "incremental")
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(txn.metadata.copy(configuration =
      txn.metadata.configuration + ("graft.test.marker" -> "1")))
    txn.commit(Nil, Op.SetTableProperties)
    assert(genPath(t) == "general", "metadata actions must take the general path")
    setHint(t, hint(t) - 1) // the Iceberg view now lags one commit behind
    t.write(df((2L, "b", "p2")), SaveMode.Append, Seq("part"))
    assert(genPath(t) == "general", "a stale previous generation must fall back")
    assert(icebergRows(t) == 2L)
    // the next commit builds on a current generation again
    t.write(df((3L, "c", "p1")), SaveMode.Append, Seq("part"))
    assert(genPath(t) == "incremental")
    assert(icebergRows(t) == 3L)
  }

  test("incremental path ≡ general path (delete commit)") {
    // same seed + same file-level delete on two tables; survivors
    // EXISTING with original lineage, DELETED tombstones stamped by the
    // deleting snapshot, untouched manifests reused by reference
    val (inc, _) = incrementalVsGeneral { t =>
      t.write(df((1L, "a", "p1"), (2L, "b", "p2")), SaveMode.Append, Seq("part"))
      t.write(df((3L, "c", "p1"), (4L, "d", "p3")), SaveMode.Append, Seq("part"))
      t.delete(col("id") === 1L) // file-level remove in p1
    }
    // the scenario exercised what it claims: a DELETED tombstone and a
    // reused untouched manifest are both present
    val (il, ie) = semantics(inc)
    assert(ie.exists(_.startsWith("st=2")), s"no tombstone in:\n$ie")
    assert(ie.exists(_.startsWith("st=0")) || il.exists(_.contains("addedBy=2")),
      "no survivor/reused evidence")
  }

  test("v3 row-tracking append takes the fast path (post-assignment actions)") {
    val t = mkUniform(tmp(), Map(
      "graft.iceberg.formatVersion" -> "3",
      "delta.enableRowTracking" -> "true"))
    t.write(df((1L, "a", "p1")), SaveMode.Append, Seq("part"))
    t.write(df((2L, "b", "p2")), SaveMode.Append, Seq("part"))
    assert(genPath(t) == "incremental",
      "v3 append must take the incremental path: the committed adds in the " +
        "log carry their assigned baseRowId")
    // row lineage survived the incremental path: every entry has first_row_id
    val frids = current(t)._3
      .filter(_.get("content").asInstanceOf[Int] == 0)
      .flatMap(m => avroRecords(m.get("manifest_path").toString))
      .map(_.get("data_file").asInstanceOf[GenericRecord].get("first_row_id"))
    assert(frids.nonEmpty && frids.forall(_ != null),
      s"v3 incremental manifests must carry first_row_id, got $frids")
  }

  test("job budget: an incremental generation submits no Spark job") {
    // no checkpoint inside the measured commit
    val t = mkUniform(tmp(), Map("delta.checkpointInterval" -> "1000"))
    t.write(df((1L, "a", "p1"), (2L, "b", "p2")), SaveMode.Append, Seq("part"))
    // prebuilt adds carrying numRecords stats: the commit and its
    // post-commit generation read nothing through Spark
    val adds = Seq("p1", "p3").map(p => AddFile(s"part=$p/prebuilt-$p.parquet",
      Map("part" -> p), size = 100L, modificationTime = 1L,
      stats = """{"numRecords":1}"""))
    val jobs = jobsOf { t.deltaLog.startTransaction().commit(adds, Op.Write) }
    assert(genPath(t) == "incremental")
    assert(jobs == 0, s"incremental generation ran $jobs Spark job(s)")
  }

  // ------------------------------------------------ random commit sequences

  private sealed trait Step
  private case object Append extends Step
  private case object Delete extends Step
  private case object MergeStep extends Step
  private case object TxnOnly extends Step
  private case object DvDelete extends Step
  private case object Stale extends Step
  private val allSteps: Seq[Step] = Seq(Append, Delete, MergeStep, TxnOnly, DvDelete, Stale)

  /** Every step kind once plus one random extra, in random order; and a
    * seed for the row choices.
    */
  private val sequenceGen: Gen[(Seq[Step], Long)] = for {
    extra <- Gen.listOfN(1, Gen.oneOf(Append, Delete, MergeStep))
    keys <- Gen.listOfN(allSteps.size + 1, Gen.choose(0.0, 1.0))
    rowSeed <- Gen.choose(0L, Long.MaxValue)
  } yield ((allSteps ++ extra).zip(keys).sortBy(_._2).map(_._1), rowSeed)

  /** Apply `step` to `t`. `ids` is the model of live ids; the two tables
    * each get their own model and an identically seeded `rnd`, so they
    * make the same choices.
    */
  private def applyStep(t: DeltaTable, step: Step, rnd: scala.util.Random,
      ids: scala.collection.mutable.Set[Long], next: () => Long): Unit = {
    def part(): String = s"p${rnd.nextInt(3)}"
    def pick(): Long = ids.toSeq.sorted.apply(rnd.nextInt(ids.size))
    step match {
      case Append | Stale =>
        val rows = Seq.fill(3)((next(), "v", part()))
        ids ++= rows.map(_._1)
        t.write(df(rows: _*), SaveMode.Append, Seq("part"))
      case Delete | DvDelete =>
        if (step == DvDelete && !DeltaConfig.EnableDeletionVectors
            .fromMetadata(t.deltaLog.update().metadata)) {
          val txn = t.deltaLog.startTransaction()
          txn.updateMetadata(txn.metadata.copy(configuration =
            txn.metadata.configuration + ("delta.enableDeletionVectors" -> "true")))
          txn.commit(Nil, Op.SetTableProperties)
        }
        val victim = pick()
        ids -= victim
        t.delete(col("id") === victim)
      case MergeStep =>
        val (upd, ins) = (pick(), next())
        ids += ins
        import spark.implicits._
        val src = Seq((upd, "m", "ignored"), (ins, "m", part())).toDF("id", "v", "part")
        t.merge(src, col("t.id") === col("s.id"))
          .whenMatchedUpdate(Map("v" -> col("s.v")))
          .whenNotMatchedInsertAll()
          .execute()
      case TxnOnly =>
        val txn = t.deltaLog.startTransaction()
        txn.commit(Seq(SetTransaction("prop", next(), Some(0L))), Op.StreamingUpdate)
    }
  }

  private def checkSequence(seed: Long, extraConf: Map[String, String]): Unit = {
    val (steps, rowSeed) = sequenceGen.pureApply(Gen.Parameters.default, Seed(seed))
    info(s"seed $seed: ${steps.mkString(", ")}")
    // `inc` only ever generates incrementally (or falls back); `gen`
    // regenerates every version through the general path from the same
    // parent generation its own incremental attempt saw
    val inc = mkUniform(tmp(), extraConf)
    val gen = mkUniform(tmp(), extraConf)
    val models = Seq.fill(2)(scala.collection.mutable.Set.empty[Long])
    val rnds = Seq.fill(2)(new scala.util.Random(rowSeed))
    val counters = Seq.fill(2)(new java.util.concurrent.atomic.AtomicLong(0))
    def run(i: Int, t: DeltaTable, step: Step): Unit =
      applyStep(t, step, rnds(i), models(i), () => counters(i).incrementAndGet())
    (Append +: steps).zipWithIndex.foreach { case (step, k) =>
      val ctx = s"seed $seed step $k ($step) of ${steps.mkString(",")}"
      if (step == Stale) Seq(inc, gen).foreach(t => setHint(t, hint(t) - 1))
      val dvBefore = DeltaConfig.EnableDeletionVectors.fromMetadata(
        inc.deltaLog.update().metadata)
      run(0, inc, step)
      val parent = hint(gen)
      run(1, gen, step)
      // from the same parent, the incremental attempt and the general
      // path agree exactly (statuses included)
      val incPath = genPath(gen)
      val attempt = semantics(gen)
      regenerateGeneral(gen, parent)
      if (step != DvDelete) assert(semantics(gen) == attempt, ctx)
      // the incremental chain and the general chain hold the same files
      // with the same history, and both count the Delta table's rows
      assert(lineage(inc) == lineage(gen), ctx)
      val rows = inc.toDF.count()
      assert(icebergRows(inc) == rows && icebergRows(gen) == rows, ctx)
      // a DV DELETE of its file's last live row only removes the file: a
      // commit that carries no DV generates incrementally
      val dvCommit = actionsAt(inc).exists {
        case a: AddFile => DeletionVectors.descriptor(a).isDefined
        case r: RemoveFile => r.deletionVector != null
        case _ => false
      }
      val expected = step match {
        case Stale => Some("general")
        case DvDelete => Some(if (dvCommit) "general" else "incremental")
        case Append | TxnOnly => Some("incremental")
        case _ if !dvBefore => Some("incremental")
        case _ => None // a DV DELETE or MERGE on a DV table may fall back
      }
      expected.foreach(p => assert(genPath(inc) == p && incPath == p, ctx))
      if (genPath(inc) == "incremental")
        assert(manifestTupleCounts(inc, freshOnly = true).forall(_ == 1), ctx)
    }
  }

  test("property: incremental ≡ general over random commit sequences (v2)") {
    checkSequence(11L, Map.empty)
  }

  test("property: incremental ≡ general over random commit sequences (v3 + row tracking)") {
    checkSequence(21L, Map(
      "graft.iceberg.formatVersion" -> "3",
      "delta.enableRowTracking" -> "true"))
  }
}
