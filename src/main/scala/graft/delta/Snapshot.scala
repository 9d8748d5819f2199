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
    staged: Seq[(Long, String)] = Nil,
    /** The checkpoint's files as the log listing saw them. */
    listedCheckpoint: Seq[ListedFile] = Nil,
    /** The raw deltas and compacted files as the log listing saw them. */
    listedTail: Seq[ListedFile] = Nil)

/** A log file as one listing saw it. Log files are written once, so two
  * listings that agree on name, length and mtime saw the same bytes.
  */
final case class ListedFile(name: String, size: Long, modificationTime: Long)

object ListedFile {
  def apply(st: org.apache.hadoop.fs.FileStatus): ListedFile =
    ListedFile(st.getPath.getName, st.getLen, st.getModificationTime)
}

/** An immutable view of the table at one version
  * (cf. reference `snapshot.go:21` Snapshot interface).
  *
  * Scale design (diverging from the reference on purpose): the reference
  * materializes every AddFile in process memory (`snapshot.go:299`
  * loadActiveFiles); at 100 TB that is O(10^7) objects. Here the file
  * list is a Spark DataFrame — checkpoint parquet unioned with the JSON
  * tail (bounded by the checkpoint interval), reduced with one `max_by`
  * aggregation per path. What is driver-resident is the small state: per
  * checkpoint, its protocol, metadata, SetTransactions, domains and the
  * adds with a deletion vector or read-default tag, collected once per
  * checkpoint and kept by [[DeltaLog]]; on top of it, the driver-parsed
  * tail folded once. So building a snapshot and reading its metadata or
  * DV list runs no Spark job once its checkpoint is open. Driver-side
  * file collections happen only in the explicit `allFiles`-style APIs
  * that mirror the reference.
  */
class Snapshot(
    val spark: SparkSession,
    val deltaLog: DeltaLog,
    val version: Long,
    val segment: LogSegment) {

  import spark.implicits._

  private def logPath = deltaLog.logPath

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

  /** Above this many tail bytes (the listed lengths of the segment's
    * tail files), the JSON tail is parsed by Spark (`spark.read.json`)
    * instead of driver-side Jackson: the tail is normally bounded by the
    * checkpoint interval, but one overwrite commit can carry millions of
    * add/remove lines and must not heap the driver. Tunable via
    * `spark.graft.snapshot.spillThresholdBytes`.
    */
  private lazy val spillTail: Boolean = {
    val threshold = spark.conf
      .getOption("spark.graft.snapshot.spillThresholdBytes")
      .map(_.toLong).getOrElse(64L * 1024 * 1024)
    // staged coordinated commits never spill: their files can be swept
    // by a concurrent backfill mid-job (the executor JSON read has no
    // per-file fallback), and the staged tail is bounded by the
    // backfill batch anyway — driver parsing with fallback is safe
    segment.staged.isEmpty && tailFiles.nonEmpty &&
      segment.listedTail.map(_.size).sum > threshold
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

  /** The checkpoint, opened once per [[DeltaLog]] (see
    * [[DeltaLog.checkpointState]]): every Snapshot over it shares its read
    * DataFrame and its collected [[ReplayState]].
    */
  private lazy val checkpointState: Option[CheckpointState] =
    segment.checkpoint.map(deltaLog.checkpointState(_, segment.listedCheckpoint))

  private def checkpointDF: Option[DataFrame] = checkpointState.map(_.df)

  private def tailDF: DataFrame =
    if (spillTail) {
      val paths = tailFiles.map(_._1.toString)
      // raw deltas replay at their version, compacted files at range END:
      // the last number before (.compacted).json is exactly that
      spark.read.schema(CheckpointState.actionSchema).json(paths: _*)
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

  /** The active adds a reader resolves on the driver (DV descriptors,
    * legacy DV tags, read-default tags), sorted by path: derived from the
    * checkpoint's collected adds and the tail fold with no Spark job; on
    * the spill path, one collect over the file list.
    */
  private lazy val flaggedFiles: Seq[AddFile] =
    (if (spillTail)
      activeFilesDF.where(ReplayState.flaggedCol(struct($"*"))).as[AddFile].collect().toSeq
    else replayed.flaggedAdds.values.toSeq).sortBy(_.path)

  /** Files carrying deletion vectors. `DeltaLog.update()` returns the
    * same Snapshot while the log is unchanged, so successive reads of an
    * unchanged table share this list; a new Snapshot derives it from the
    * cached checkpoint state and the tail without a Spark job.
    */
  lazy val dvFiles: Seq[AddFile] = flaggedFiles.filter(ReplayState.hasDv)

  /** Files tagged as physically lacking an initial-defaulted column
    * (adopted Iceberg v3 tables — see [[ReadDefaults]]).
    */
  lazy val defaultFillFiles: Seq[AddFile] = flaggedFiles.filter(ReplayState.needsDefaults)

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

  /** Protocol, metadata, SetTransactions, live domains and flagged adds
    * of this version (cf. reference `snapshot.go:182`
    * loadTableProtoclAndMetadata): the checkpoint's collected state with
    * the driver-parsed tail folded on top, once. A spilled tail
    * aggregates its few non-file rows in Spark instead of replaying
    * millions of lines on the driver (latest version wins — within one
    * commit duplicates are prohibited by prepareCommit); its flagged adds
    * come from [[flaggedFiles]].
    */
  private lazy val replayed: ReplayState = {
    val base = checkpointState.map(_.state).getOrElse(ReplayState.empty)
    if (!spillTail) base.replay(tailActions)
    else {
      val t = tailDF
      val meta = t.where($"metaData".isNotNull).orderBy($"version".desc).limit(1)
        .select($"metaData.*").as[Metadata].collect().headOption
      val proto = t.where($"protocol".isNotNull).orderBy($"version".desc).limit(1)
        .select($"protocol.*").as[Protocol].collect().headOption
      val txns = t.where($"txn".isNotNull)
        .groupBy($"txn.appId").agg(max_by($"txn", $"version").as("t"))
        .select($"t.*").as[SetTransaction].collect()
        .map(st => st.appId -> st).toMap
      val domains = t.where($"domainMetadata".isNotNull)
        .groupBy($"domainMetadata.domain")
        .agg(max_by($"domainMetadata", $"version").as("d"))
        .select($"d.*").as[DomainMetadata].collect()
        .foldLeft(base.domains)((live, d) =>
          if (d.removed) live - d.domain else live + (d.domain -> d))
      ReplayState(proto.orElse(base.protocol), meta.orElse(base.metadata),
        base.txns ++ txns, domains, Map.empty)
    }
  }

  /** Live domain metadata (latest action per domain; removed domains
    * dropped).
    */
  def domainMetadataMap: Map[String, DomainMetadata] = replayed.domains

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
  def metadata: Metadata = replayed.metadata.getOrElse(
    throw new IllegalStateException(s"no metadata found for version $version of ${deltaLog.dataPath}"))
  def metadataOpt: Option[Metadata] = replayed.metadata
  def protocol: Protocol = replayed.protocol.getOrElse(Protocol())
  def setTransactions: Seq[SetTransaction] = replayed.txns.values.toSeq
  /** cf. reference `snapshot.go:152` transactions. */
  def transactions: Map[String, Long] = replayed.txns.view.mapValues(_.version).toMap

  /** The small state a checkpoint of this snapshot holds: this state with
    * delta.setTransactionRetentionDuration applied — idempotent-writer
    * entries past the horizon expire AT CHECKPOINT TIME (the spec's
    * expiry point — replay of the json tail keeps everything); entries
    * with no lastUpdated never expire.
    */
  private[delta] def checkpointContent: ReplayState = {
    val txnCutoff: Option[Long] = metadataOpt
      .flatMap(DeltaConfig.TxnRetention.fromMetadata)
      .map(r => deltaLog.clock.nowMillis - r)
    val liveTxns = txnCutoff match {
      case None => replayed.txns
      case Some(cut) => replayed.txns.filter(_._2.lastUpdated.forall(_ >= cut))
    }
    replayed.copy(txns = liveTxns,
      flaggedAdds = flaggedFiles.map(a => a.path -> a).toMap)
  }

  /** The checkpoint rows: `content` (see [[checkpointContent]]) for the
    * non-file actions, then the file list and tombstones.
    */
  private[delta] def checkpointActionsDF(content: ReplayState): DataFrame = {
    val extras =
      content.protocol.map(_.wrap).toSeq ++ content.metadata.map(_.wrap).toSeq ++
        content.txns.values.map(_.wrap) ++
        content.domains.values.map(_.wrap)
    val extrasDF = spark.createDataset(extras.toSeq)(Encoders.product[SingleAction])
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
    CheckpointState.actionSchema.fields.map { f =>
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
