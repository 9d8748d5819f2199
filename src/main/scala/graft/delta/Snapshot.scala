package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** The delta files (JSON tail) and optional checkpoint backing a version
  * (cf. reference `log_segment.go`). `compacted` ranges substitute the
  * covered raw deltas: `deltas` holds only the UNCOVERED versions, and
  * every action of a compacted file replays at its range END version
  * (sound because the file is already reconciled — one action per path,
  * latest metadata/protocol/txn — so composing it at the end version is
  * identical to replaying the range).
  */
final case class LogSegment(
    version: Long,
    checkpoint: Option[CheckpointInstance],
    deltas: Seq[Long],
    compacted: Seq[(Long, Long)] = Nil,
    /** coordinated commits ratified but not yet backfilled: (version,
      * staged file name under `_delta_log/_commits/`) — replayed exactly
      * like classic deltas, so a ratified commit is readable the moment
      * the coordinator accepts it, before any backfill copy lands.
      */
    staged: Seq[(Long, String)] = Nil)

/** An immutable view of the table at one version
  * (cf. reference `snapshot.go:21` Snapshot interface).
  *
  * Scale design (diverging from the reference on purpose): the reference
  * materializes every AddFile in process memory (`snapshot.go:299`
  * loadActiveFiles); at 100 TB that is O(10^7) objects. Here the file
  * state is a Spark DataFrame — checkpoint parquet unioned with the
  * driver-parsed JSON tail (bounded by the checkpoint interval), reduced
  * with one `max_by` aggregation per path. Driver-side collections happen
  * only in the explicit `allFiles`-style APIs that mirror the reference.
  */
class Snapshot(
    val spark: SparkSession,
    val deltaLog: DeltaLog,
    val version: Long,
    val segment: LogSegment) {

  import spark.implicits._

  private def logPath = deltaLog.logPath

  /** Above this many tail bytes, the JSON tail is parsed by Spark
    * (`spark.read.json`) instead of driver-side Jackson: the tail is
    * normally bounded by the checkpoint interval, but one overwrite
    * commit can carry millions of add/remove lines and must not heap the
    * driver. Tunable via `spark.graft.snapshot.spillThresholdBytes`.
    */
  /** Tail parts in replay order: (file, version its actions replay at) —
    * raw deltas at their own version, compacted files at the range end.
    */
  private lazy val tailFiles: Seq[(Path, Long)] =
    (segment.deltas.map(v => FileNames.deltaFile(logPath, v) -> v) ++
      segment.compacted.map { case (s, e) =>
        FileNames.compactedFile(logPath, s, e) -> e
      } ++
      segment.staged.map { case (v, name) =>
        new Path(CoordinatedCommits.commitsDir(logPath), name) -> v
      }).sortBy(_._2)

  private lazy val spillTail: Boolean = {
    val threshold = spark.conf
      .getOption("spark.graft.snapshot.spillThresholdBytes")
      .map(_.toLong).getOrElse(64L * 1024 * 1024)
    // staged coordinated commits never spill: their files can be swept
    // by a concurrent backfill mid-job (the executor JSON read has no
    // per-file fallback), and the staged tail is bounded by the
    // backfill batch anyway — driver parsing with fallback is safe
    segment.staged.isEmpty && tailFiles.nonEmpty && {
      val minV = math.min(segment.deltas.headOption.getOrElse(Long.MaxValue),
        segment.compacted.headOption.map(_._1).getOrElse(Long.MaxValue))
      // "<v>." sorts before both "<v>.json" and "<v>.<e>.compacted.json"
      val first = new Path(logPath, f"$minV%020d.")
      deltaLog.store.listFrom(first)
        .filter { st =>
          (FileNames.isDeltaFile(st.getPath) &&
            FileNames.deltaVersion(st.getPath) <= version) ||
          (FileNames.isCompactedFile(st.getPath) &&
            FileNames.compactedRange(st.getPath)._2 <= version)
        }
        .map(_.getLen).sum > threshold
    }
  }

  /** Driver-parsed actions of the JSON tail, replay order (only touched
    * on the non-spill path).
    */
  lazy val tailActions: Seq[(Long, Action)] =
    tailFiles.flatMap { case (p, v) =>
      val lines =
        try deltaLog.store.read(p)
        catch {
          // a STAGED commit file can be swept by a concurrent backfill
          // between segment construction and this lazy read — the
          // classic name exists by then; fall back to it
          case e: java.io.FileNotFoundException
              if segment.staged.exists(_._1 == v) =>
            deltaLog.store.read(FileNames.deltaFile(logPath, v))
        }
      lines.flatMap(Actions.fromJson).map(v -> _)
    }

  // fully-nullable: checkpoint rows have exactly one non-null action
  private val saSchema: org.apache.spark.sql.types.StructType =
    Snapshot.nullable(Encoders.product[SingleAction].schema)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** saSchema with `add` spliced to carry the probed file's
    * `add.stats_parsed` struct, when the checkpoint was written with
    * `delta.checkpoint.writeStatsAsStruct`. The probe is one parquet
    * FOOTER read — the config value itself lives inside the checkpoint
    * being opened, so the file's own schema is the source of truth.
    */
  private def statsExtendedSchema(probeFile: Path): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    val probed =
      try spark.read.parquet(probeFile.toString).schema
      catch { case scala.util.control.NonFatal(_) => return saSchema }
    probed.fields.find(_.name == "add").map(_.dataType) match {
      case Some(addT: StructType) if addT.fieldNames.contains("stats_parsed") =>
        val addBase = saSchema("add").dataType.asInstanceOf[StructType]
        val extended = StructType(addBase.fields :+ addT("stats_parsed"))
        StructType(saSchema.fields.map(f =>
          if (f.name == "add") f.copy(dataType = extended) else f))
      case _ => saSchema
    }
  }

  /** The checkpoint's actions. A lazy val: its schema probe is a Spark
    * job, run once per snapshot.
    */
  private lazy val checkpointDF: Option[DataFrame] =
    segment.checkpoint.map { ci =>
      val ckFiles = ci.files(logPath)
      val df = ci.v2Uuid match {
        case None =>
          spark.read.schema(statsExtendedSchema(ckFiles.head))
            .parquet(ckFiles.map(_.toString): _*)
        case Some(_) =>
          // v2: the manifest carries the non-file actions plus sidecar
          // references; the file actions live in the referenced sidecars
          val base = spark.read.schema(saSchema)
            .parquet(ckFiles.map(_.toString): _*)
          val names = base.where($"sidecar".isNotNull)
            .select($"sidecar.path").as[String].collect()
          if (names.isEmpty) base.where($"sidecar".isNull && $"checkpointMetadata".isNull)
          else {
            val scPaths = names
              .map(n => new Path(FileNames.sidecarDir(logPath), n)).toIndexedSeq
            // one read schema for manifest AND sidecars, so the union is
            // exact (a missing nested field just reads as null); reuse the
            // base read when no extension was probed
            val rs = statsExtendedSchema(scPaths.head)
            val nonFile =
              if (rs eq saSchema) base
              else spark.read.schema(rs).parquet(ckFiles.map(_.toString): _*)
            nonFile.where($"sidecar".isNull && $"checkpointMetadata".isNull)
              .unionByName(spark.read.schema(rs).parquet(scPaths.map(_.toString): _*),
                allowMissingColumns = true)
          }
      }
      df.withColumn("version", lit(ci.version))
    }

  private def tailDF: DataFrame =
    if (spillTail) {
      val paths = tailFiles.map(_._1.toString)
      // raw deltas replay at their version, compacted files at range END:
      // the last number before (.compacted).json is exactly that
      spark.read.schema(saSchema).json(paths: _*)
        .withColumn("version",
          regexp_extract(input_file_name(), "(\\d+)(?:\\.compacted)?\\.json$", 1)
            .cast("long"))
    } else {
      val rows = tailActions.map { case (v, a) => (v, a.wrap) }
      spark.createDataset(rows)(Encoders.product[(Long, SingleAction)])
        .select($"_2.*", $"_1".as("version"))
    }

  /** All actions contributing to this version, as (SingleAction, version). */
  lazy val stateDF: DataFrame = {
    val tail = tailDF
    checkpointDF match {
      // allowMissingColumns: the checkpoint side may carry the extra
      // add.stats_parsed struct; tail (JSON) rows read it as null
      case Some(c) => c.unionByName(tail, allowMissingColumns = true)
      case None => tail
    }
  }

  /** Active AddFiles after Add/Remove reconciliation (cf. reference
    * `replay_action.go`): latest action per path wins; within one commit
    * an add beats a remove (atomic replace).
    */
  lazy val activeFilesDF: DataFrame = {
    val base = reconciled
      .where($"w.isAdd" === 1)
      .select($"w.add.*")
    // writeStatsAsJson=false checkpoints carry only the struct: rebuild
    // the stats JSON lazily so every consumer (skipping fallback, row
    // backfill, checksum heal) keeps its one stats contract
    if (base.columns.contains("stats_parsed"))
      base.withColumn("stats", coalesce($"stats", to_json($"stats_parsed")))
    else base
  }

  /** Latest tombstones (paths whose newest action is a remove). */
  lazy val tombstonesDF: DataFrame = reconciled
    .where($"w.isAdd" === 0)
    .select($"w.remove.*")

  private lazy val reconciled: DataFrame =
    stateDF
      .where($"add".isNotNull || $"remove".isNotNull)
      .select(
        coalesce($"add.path", $"remove.path").as("path"),
        struct(
          when($"add".isNotNull, 1).otherwise(0).as("isAdd"),
          $"add", $"remove").as("w"),
        $"version")
      .groupBy($"path")
      .agg(max_by($"w", struct($"version", $"w.isAdd")).as("w"))

  /** Files carrying deletion-vector sidecars, materialized once per
    * Snapshot object. `DeltaLog.update()` builds a new Snapshot on every
    * call, so the list is shared only by the reads that hold the same
    * Snapshot (e.g. one scan and its DV resolution), not across queries.
    */
  lazy val dvFiles: Seq[AddFile] = activeFilesDF
    .where($"deletionVector".isNotNull ||
      ($"tags".isNotNull &&
        element_at($"tags", DeletionVectors.PathTag).isNotNull))
    .as[AddFile].collect().toSeq

  /** Files tagged as physically lacking an initial-defaulted column
    * (adopted Iceberg v3 tables — see [[ReadDefaults]]). Only evaluated
    * when the metadata declares defaulted fields, so ordinary tables pay
    * nothing.
    */
  lazy val defaultFillFiles: Seq[AddFile] = activeFilesDF
    .where($"tags".isNotNull &&
      element_at($"tags", ReadDefaults.MissingTag).isNotNull)
    .as[AddFile].collect().toSeq

  // ------------------------------------------------------- driver-side API

  /** How many times this snapshot's FULL file list was materialized on
    * the driver — a test pin for the paths that must stay bounded-driver
    * (OPTIMIZE planning, VACUUM, commit): at 10^7 files every such
    * collect is a multi-GB driver allocation, so the suites assert it
    * stays ZERO across maintenance planning.
    */
  private[delta] val driverFileMaterializations =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** cf. reference `snapshot.go:121` AllFiles. */
  def allFiles: Seq[AddFile] = {
    driverFileMaterializations.incrementAndGet()
    allFilesDS.collect().toSeq
  }
  def allFilesDS: Dataset[AddFile] = activeFilesDF.as[AddFile]
  def tombstones: Seq[RemoveFile] = tombstonesDF.as[RemoveFile].collect().toSeq
  def numOfFiles: Long = activeFilesDF.count()

  /** Protocol + Metadata + SetTransactions from the newest occurrence in
    * tail (preferred) or checkpoint (cf. reference
    * `snapshot.go:182` loadTableProtoclAndMetadata).
    */
  private lazy val replayedMeta: (Option[Protocol], Option[Metadata], Map[String, SetTransaction]) = {
    var proto: Option[Protocol] = None
    var meta: Option[Metadata] = None
    var txns = Map.empty[String, SetTransaction]
    if (spillTail) {
      // huge tail: aggregate the few metadata-ish rows in Spark instead of
      // replaying millions of lines on the driver (latest version wins —
      // within one commit duplicates are prohibited by prepareCommit)
      val t = tailDF
      meta = t.where($"metaData".isNotNull).orderBy($"version".desc).limit(1)
        .select($"metaData.*").as[Metadata].collect().headOption
      proto = t.where($"protocol".isNotNull).orderBy($"version".desc).limit(1)
        .select($"protocol.*").as[Protocol].collect().headOption
      txns = t.where($"txn".isNotNull)
        .groupBy($"txn.appId").agg(max_by($"txn", $"version").as("t"))
        .select($"t.*").as[SetTransaction].collect()
        .map(st => st.appId -> st).toMap
    } else tailActions.foreach {
      case (_, p: Protocol) => proto = Some(p)
      case (_, m: Metadata) => meta = Some(m)
      case (_, t: SetTransaction) => txns += (t.appId -> t)
      case _ =>
    }
    // the checkpoint's protocol, metadata and SetTransactions in ONE
    // collect; the tail's newer protocol/metadata win
    val ckpt = checkpointDF.toSeq.flatMap(_
      .where($"metaData".isNotNull || $"protocol".isNotNull || $"txn".isNotNull)
      .select($"metaData", $"protocol", $"txn")
      .as[(Option[Metadata], Option[Protocol], Option[SetTransaction])].collect())
    val ckptTxns = ckpt.flatMap(_._3).map(t => t.appId -> t).toMap
    (proto.orElse(ckpt.flatMap(_._2).headOption),
      meta.orElse(ckpt.flatMap(_._1).headOption), ckptTxns ++ txns)
  }

  /** Live domain metadata (latest action per domain; removed domains
    * dropped). Lazy — only tables that use domains (e.g. row tracking)
    * pay the checkpoint read.
    */
  lazy val domainMetadataMap: Map[String, DomainMetadata] = {
    var live = Map.empty[String, DomainMetadata]
    checkpointDF.foreach { c =>
      live = c.where($"domainMetadata".isNotNull).select($"domainMetadata.*")
        .as[DomainMetadata].collect().map(d => d.domain -> d).toMap
    }
    if (spillTail) {
      tailDF.where($"domainMetadata".isNotNull)
        .groupBy($"domainMetadata.domain")
        .agg(max_by($"domainMetadata", $"version").as("d"))
        .select($"d.*").as[DomainMetadata].collect()
        .foreach(d => live = if (d.removed) live - d.domain else live + (d.domain -> d))
    } else tailActions.foreach {
      case (_, d: DomainMetadata) =>
        live = if (d.removed) live - d.domain else live + (d.domain -> d)
      case _ =>
    }
    live
  }

  /** domain -> configuration string for live domains. */
  def domainMetadata: Map[String, String] =
    domainMetadataMap.view.mapValues(_.configuration).toMap

  /** Reader/writer capability gate (cf. reference
    * `action/protocol.go` + errno assertions; golden
    * `deltalog-invalid-protocol-version`).
    */
  def assertProtocolRead(): Unit = {
    val p = protocol
    if (p.minReaderVersion == 3) {
      // table-features protocol: gate on the capability names the table
      // actually lists, not the monolithic version number
      val unsupported =
        p.readerFeatures.getOrElse(Set.empty) -- Snapshot.SupportedReaderFeatures
      if (unsupported.nonEmpty)
        throw new Snapshot.InvalidProtocolVersionException(
          s"table requires reader features not supported by this client: " +
            unsupported.toSeq.sorted.mkString(", "))
    } else if (p.minReaderVersion > Snapshot.SupportedReaderVersion)
      throw new Snapshot.InvalidProtocolVersionException(
        s"table requires reader version ${p.minReaderVersion}, " +
          s"this client supports up to ${Snapshot.SupportedReaderVersion}")
    metadataOpt.foreach(ColumnMapping.assertSupported)
  }

  /** A writer must also be a reader; writer v7 gates on listed features. */
  def assertProtocolWrite(): Unit = {
    assertProtocolRead()
    val p = protocol
    if (p.minWriterVersion == 7) {
      val unsupported =
        p.writerFeatures.getOrElse(Set.empty) -- Snapshot.SupportedWriterFeatures
      if (unsupported.nonEmpty)
        throw new Snapshot.InvalidProtocolVersionException(
          s"table requires writer features not supported by this client: " +
            unsupported.toSeq.sorted.mkString(", "))
    } else if (p.minWriterVersion > Snapshot.SupportedWriterVersion)
      throw new Snapshot.InvalidProtocolVersionException(
        s"table requires writer version ${p.minWriterVersion}, " +
          s"this client supports up to ${Snapshot.SupportedWriterVersion}")
  }

  /** cf. reference `snapshot.go:126` Metadata. */
  def metadata: Metadata = replayedMeta._2.getOrElse(
    throw new IllegalStateException(s"no metadata found for version $version of ${deltaLog.dataPath}"))
  def metadataOpt: Option[Metadata] = replayedMeta._2
  def protocol: Protocol = replayedMeta._1.getOrElse(Protocol())
  def setTransactions: Seq[SetTransaction] = replayedMeta._3.values.toSeq
  /** cf. reference `snapshot.go:152` transactions. */
  def transactions: Map[String, Long] = replayedMeta._3.view.mapValues(_.version).toMap

  /** All SingleActions of this snapshot's state (checkpoint content). */
  def checkpointActionsDF: DataFrame = {
    val meta = replayedMeta
    // delta.setTransactionRetentionDuration: expire idempotent-writer
    // entries past the horizon AT CHECKPOINT TIME (the spec's expiry
    // point — replay of the json tail keeps everything); entries with
    // no lastUpdated never expire
    val txnCutoff: Option[Long] = metadataOpt
      .flatMap(DeltaConfig.TxnRetention.fromMetadata)
      .map(r => deltaLog.clock.nowMillis - r)
    val liveTxns = txnCutoff match {
      case None => meta._3.values.toSeq
      case Some(cut) => meta._3.values.toSeq
        .filter(t => t.lastUpdated.forall(_ >= cut))
    }
    val extras =
      meta._1.map(_.wrap).toSeq ++ meta._2.map(_.wrap).toSeq ++
        liveTxns.map(_.wrap) ++
        domainMetadataMap.values.map(_.wrap).toSeq
    val extrasDF = spark.createDataset(extras)(Encoders.product[SingleAction])
    // stats_parsed (if this snapshot read one) is derived, not state: the
    // checkpoint writer re-materializes it from the stats JSON
    val files = activeFilesDF.drop("stats_parsed").select(struct($"*").as("add"))
      .select(to_single_action($"add", "add"): _*)
    val tombs = tombstonesDF.select(struct($"*").as("remove"))
      .select(to_single_action($"remove", "remove"): _*)
    extrasDF.toDF().unionByName(files).unionByName(tombs)
  }

  /** Shape a single nested struct column into the full SingleAction row. */
  private def to_single_action(c: org.apache.spark.sql.Column, field: String) = {
    saSchema.fields.map { f =>
      if (f.name == field) c.cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq
  }
}

object Snapshot {
  import org.apache.spark.sql.types._

  // reader v2 = column mapping (name mode; id is rejected at the metadata
  // gate); reader v3 = table features. writer v4 = CDF + generated
  // columns, v5 = column mapping, v6 = identity columns,
  // v7 = table features.
  val SupportedReaderVersion = 2
  val SupportedWriterVersion = 6

  // graftReadDefaults: per-file initial-default substitution for adopted
  // Iceberg v3 tables (ReadDefaults) — a READER feature, because a
  // client that null-fills the tagged files would silently misread them
  val SupportedReaderFeatures: Set[String] =
    Set("columnMapping", "deletionVectors", "vacuumProtocolCheck",
      "v2Checkpoint", "typeWidening", "timestampNtz", "variantType",
      "graftReadDefaults")
  val SupportedWriterFeatures: Set[String] =
    Set("appendOnly", "invariants", "checkConstraints", "changeDataFeed",
      "generatedColumns", "columnMapping", "deletionVectors",
      "identityColumns", "vacuumProtocolCheck", "domainMetadata",
      "rowTracking", "v2Checkpoint", "typeWidening", "timestampNtz",
      "inCommitTimestamp", "allowColumnDefaults", "variantType",
      "checkpointProtection", "coordinatedCommits", "graftReadDefaults")
  final class InvalidProtocolVersionException(msg: String)
    extends RuntimeException(msg)
  /** Recursively nullable variant of a schema (StructType.asNullable is
    * private[spark]).
    */
  private[graft] def nullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => a.copy(elementType = nullable(a.elementType), containsNull = true)
    case m: MapType => m.copy(valueType = nullable(m.valueType), valueContainsNull = true)
    case o => o
  }
}
