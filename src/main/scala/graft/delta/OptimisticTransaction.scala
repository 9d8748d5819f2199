package graft.delta

import scala.collection.mutable

import org.apache.spark.sql.{Column, Encoders}
import org.apache.spark.sql.functions._

import DeltaErrors._

/** cf. reference `isolation/delta_isolationlevel.go`. */
sealed abstract class IsolationLevel(val name: String)
case object Serializable extends IsolationLevel("Serializable")
case object WriteSerializable extends IsolationLevel("WriteSerializable")
case object SnapshotIsolation extends IsolationLevel("SnapshotIsolation")

/** Optimistic concurrency transaction
  * (cf. reference `trnx.go:33` OptimisticTransaction /
  * `trnx.go:73` optimisticTransactionImp).
  *
  * Lifecycle: read through `markFilesAsRead` / `readWholeTable` /
  * `txnVersion`, stage metadata via `updateMetadata`, then `commit`:
  * prepareCommit -> put-if-absent of `<v>.json` -> on collision, conflict
  * check against the winning commits and retry at the next version
  * (cf. `trnx.go:541` doCommitRetryIteratively).
  */
class OptimisticTransaction(val deltaLog: DeltaLog, val snapshot: Snapshot) {

  private val spark = deltaLog.spark
  private val readPredicates = mutable.Buffer.empty[Column]
  private val readFilePaths = mutable.Set.empty[String]
  private val readTxnIds = mutable.Set.empty[String]
  private var readTheWholeTable = false
  private var newMetadata: Option[Metadata] = None
  private var committed = false

  def readVersion: Long = snapshot.version

  /** cf. reference `trnx.go:311` Metadata. */
  def metadata: Metadata =
    newMetadata.orElse(snapshot.metadataOpt).getOrElse(Metadata())

  /** cf. reference `trnx.go:330` TxnVersion — registers the app id as a
    * read dependency for conflict detection.
    */
  def txnVersion(appId: String): Long = {
    readTxnIds += appId
    snapshot.transactions.getOrElse(appId, -1L)
  }

  /** cf. reference `trnx.go:235` MarkFilesAsRead. */
  def markFilesAsRead(predicate: Column): Seq[AddFile] = {
    val scan = DeltaScan(snapshot, Some(predicate))
    readPredicates += predicate
    val files = scan.files
    readFilePaths ++= files.map(_.path)
    files
  }

  /** cf. reference `trnx.go:323` ReadWholeTable. */
  def readWholeTable(): Unit = readTheWholeTable = true

  /** cf. reference `trnx.go:264` UpdateMetadata. */
  def updateMetadata(md: Metadata): Unit = {
    require(newMetadata.isEmpty, "cannot update metadata more than once per transaction")
    val withSchema =
      if (md.schemaString == null) md
      else md // schema already serialized by the caller
    verifyNewMetadata(withSchema)
    newMetadata = Some(withSchema)
  }

  /** Replace the staged metadata (identity high-water marks compose with
    * an earlier mergeSchema staging inside one write).
    */
  private[delta] def restageMetadata(md: Metadata): Unit = {
    verifyNewMetadata(md)
    newMetadata = Some(md)
  }

  /** cf. reference `trnx.go:347` verifyNewMetadata +
    * `trnx.go:376` checkPartitionColumns.
    */
  private def verifyNewMetadata(md: Metadata): Unit = {
    val schema = md.schema
    val fieldNames = schema.fieldNames.toSet
    val dupes = schema.fieldNames.groupBy(_.toLowerCase).filter(_._2.length > 1)
    if (dupes.nonEmpty)
      throw new IllegalArgumentException(s"duplicate columns in schema: ${dupes.keys.mkString(", ")}")
    md.partitionColumns.foreach { pc =>
      if (!fieldNames.contains(pc))
        throw new IllegalArgumentException(s"partition column $pc not found in schema")
    }
  }

  /** Explicit feature requests via `delta.feature.<name>=supported`
    * table properties (public table-features spec): absorbed into the
    * protocol BY THE COMMIT that carries them and stripped from the
    * stored configuration — one-shot directives, not persistent config.
    * Unknown names fail loudly: silently recording an unenforceable
    * feature would hand a corrupt table to conforming readers. Shared
    * by [[commit]] and [[commitLarge]] so a metadata-bearing large
    * commit (e.g. a replace past the commitLarge threshold) gets the
    * identical validate/strip/upgrade treatment.
    */
  private def featureRequestsIn(config: Map[String, String]): Set[String] =
    config.collect {
      case (k, v) if k.startsWith("delta.feature.") =>
        val name = k.stripPrefix("delta.feature.")
        require(v.trim.equalsIgnoreCase("supported") || v.trim.equalsIgnoreCase("enabled"),
          s"$k must be 'supported', got '$v'")
        require(Snapshot.SupportedWriterFeatures(name) ||
            Snapshot.SupportedReaderFeatures(name),
          s"unknown table feature '$name' requested via $k")
        name
    }.toSet

  private def stripFeatureRequests(m: Metadata): Metadata =
    m.copy(configuration =
      m.configuration.filterNot(_._1.startsWith("delta.feature.")))

  /** Commit staged actions; returns the committed version
    * (cf. reference `trnx.go:144` Commit).
    */
  def commit(actions: Seq[Action], operation: String,
      engineInfo: String = "graft-spark",
      operationParameters: Map[String, String] = Map.empty,
      operationMetrics: Map[String, String] = Map.empty): Long = {
    require(!committed, "transaction already committed")
    Op.validate(operation)
    validateStagedCoordinator()

    var finalActions = newMetadata.map(m => m: Action).toSeq ++ actions

    // prepareCommit checks (cf. trnx.go:428)
    if (snapshot.version >= 0) snapshot.assertProtocolWrite()
    // identity columns are a writer-6 capability: stamp the upgrade with
    // the commit that introduces them, so foreign writers without
    // identity support cannot append past the high-water mark
    val needsIdentity = IdentityColumns.specs(metadata).nonEmpty
    if (snapshot.version == -1) {
      // brand-new table: needs metadata + protocol
      if (!finalActions.exists(_.isInstanceOf[Metadata]))
        throw new IllegalStateException("first commit must include table metadata")
      if (!finalActions.exists(_.isInstanceOf[Protocol]))
        finalActions =
          (if (needsIdentity) Protocol(minWriterVersion = 6) else Protocol()) +: finalActions
    } else if (needsIdentity && !finalActions.exists(_.isInstanceOf[Protocol])) {
      val p = snapshot.protocol
      val supported =
        if (p.minWriterVersion == 7) p.writerFeatures.exists(_.contains("identityColumns"))
        else p.minWriterVersion >= 6
      if (!supported) {
        val up =
          if (p.minWriterVersion == 7) p.copy(writerFeatures =
            Some(p.writerFeatures.getOrElse(Set.empty) + "identityColumns"))
          else p.copy(minWriterVersion = 6)
        finalActions = up +: finalActions
      }
    }
    if (finalActions.count(_.isInstanceOf[Metadata]) > 1)
      throw new IllegalStateException("cannot commit more than one Metadata action")
    // row tracking / domain metadata are writer-v7 capabilities; the commit
    // that first uses them stamps the protocol upgrade (writer-only —
    // readers are unaffected by either feature)
    val rtEnabled = DeltaConfig.RowTracking.fromMetadata(metadata)
    if (rtEnabled) {
      RowTracking.assertNoCollision(metadata)
      // advertise the materialized column names in the table config so
      // conforming external writers materialize under our fixed names
      finalActions = finalActions.map {
        case m: Metadata => RowTracking.withMaterializedNames(m)
        case a => a
      }
    }
    val wantedWriterFeatures: Set[String] =
      (if (rtEnabled) Set(RowTracking.FeatureName, RowTracking.DomainFeatureName)
       else Set.empty[String]) ++
        (if (finalActions.exists(_.isInstanceOf[DomainMetadata]))
          Set(RowTracking.DomainFeatureName) else Set.empty[String]) ++
        // ICT (spec: writer feature `inCommitTimestamp`): a pre-feature
        // writer must not commit without stamping the monotonic timestamp
        (if (DeltaConfig.InCommitTimestamps.fromMetadata(metadata))
          Set("inCommitTimestamp") else Set.empty[String]) ++
        // column defaults (spec: writer feature `allowColumnDefaults`):
        // a pre-feature writer would silently drop the fill obligation
        (if (ColumnDefaults.defaults(metadata).nonEmpty)
          Set(ColumnDefaults.FeatureName) else Set.empty[String]) ++
        // coordinated commits: a pre-feature writer would bypass the
        // coordinator with a filesystem commit and fork the table
        (if (DeltaConfig.CommitCoordinatorName.fromMetadata(metadata).nonEmpty)
          Set(CoordinatedCommits.FeatureName) else Set.empty[String])
    val featureRequests = featureRequestsIn(metadata.configuration)
    if (featureRequests.nonEmpty)
      finalActions = finalActions.map {
        case m: Metadata => stripFeatureRequests(m)
        case a => a
      }
    val rwFeatures = readerWriterFeatureRequirements ++
      featureRequests.intersect(Snapshot.SupportedReaderFeatures)
    val wantedWriterFeatures2 = wantedWriterFeatures ++
      (featureRequests -- Snapshot.SupportedReaderFeatures)
    if (wantedWriterFeatures2.nonEmpty || rwFeatures.nonEmpty) {
      finalActions.collectFirst { case p: Protocol => p } match {
        case Some(p) =>
          upgradedProtocol(p, wantedWriterFeatures2, rwFeatures).foreach { up =>
            finalActions = finalActions.map { case q: Protocol if q eq p => up; case a => a }
          }
        case None =>
          val cur = if (snapshot.version == -1) Protocol() else snapshot.protocol
          upgradedProtocol(cur, wantedWriterFeatures2, rwFeatures)
            .foreach(up => finalActions = up +: finalActions)
      }
    }
    // appendOnly tables reject data-changing removes
    // (cf. reference config.go:92 DeltaConfigIsAppendOnly)
    if (DeltaConfig.AppendOnly.fromMetadata(metadata) &&
        finalActions.exists { case r: RemoveFile => r.dataChange; case _ => false })
      throw new UnsupportedOperationException(
        "this table is append-only (delta.appendOnly=true); removes with dataChange are not allowed")

    val isBlindAppend = !readTheWholeTable && readPredicates.isEmpty &&
      finalActions.forall {
        case _: AddFile | _: SetTransaction | _: CommitInfo => true
        case _: Metadata | _: Protocol => snapshot.version == -1
        case _ => false
      }
    val isolationLevel: IsolationLevel =
      if (isBlindAppend) WriteSerializable else Serializable

    // operation metrics derived from the staged actions — free to compute,
    // and what history()/audit consumers want (cf. reference
    // action/commit_info.go operationMetrics)
    val adds = finalActions.collect { case a: AddFile => a }
    val removes = finalActions.collect { case r: RemoveFile => r }
    val cdcFiles = finalActions.collect { case c: AddCDCFile => c }
    // caller-supplied metrics (e.g. exact DML row counts) layer on top
    val metrics = Map(
      "numAddedFiles" -> adds.size.toString,
      "numRemovedFiles" -> removes.size.toString,
      "numAddedBytes" -> adds.map(_.size).sum.toString,
      "numRemovedBytes" -> removes.flatMap(_.size).sum.toString) ++
      (if (cdcFiles.nonEmpty)
        Map("numAddedChangeFiles" -> cdcFiles.size.toString) else Map.empty) ++
      operationMetrics

    val commitInfo = CommitInfo(
      timestamp = deltaLog.clock.nowMillis,
      operation = operation,
      operationParameters = operationParameters,
      readVersion = if (snapshot.version >= 0) Some(snapshot.version) else None,
      isolationLevel = Some(isolationLevel.name),
      isBlindAppend = Some(isBlindAppend),
      operationMetrics = metrics,
      engineInfo = Some(engineInfo),
      txnId = Some(java.util.UUID.randomUUID.toString))
    // in-commit timestamps: the commit's timestamp lives IN the commit
    // (mtime is unreliable once an object store copies the log). It must
    // exceed the previous commit's ICT, so under conflict retry it is
    // recomputed per attempt against the new winner.
    val ictEnabled = DeltaConfig.InCommitTimestamps.fromMetadata(metadata)
    val ictNewlyEnabled = ictEnabled && snapshot.version >= 0 &&
      !snapshot.metadataOpt.exists(DeltaConfig.InCommitTimestamps.fromMetadata)
    // row tracking: fresh files get contiguous baseRowId ranges above the
    // table's high-water mark. Under conflict retry both the ranges (a
    // winner may have raised the mark) and defaultRowCommitVersion move,
    // so assignment is per-attempt like the ICT; each winning commit's
    // mark is read once and memoized.
    val needsRowIds = rtEnabled && finalActions.exists {
      case a: AddFile => a.baseRowId.isEmpty || a.defaultRowCommitVersion.isEmpty
      case _ => false
    }
    // a caller-DECLARED row-tracking mark (CONVERT FROM ICEBERG imports
    // next-row-id − 1 as an explicit DomainMetadata) must be re-clamped
    // per attempt: the domain is exempt from conflict detection, so a
    // concurrent winner that raised the mark would otherwise be
    // overwritten with a lower value and the next fresh assignment
    // would re-issue its row ids
    val declaresRtDomain = rtEnabled && finalActions.exists {
      case d: DomainMetadata => d.domain == RowTracking.Domain
      case _ => false
    }
    val winnerHwm = mutable.Map.empty[Long, Long]
    def actionsFor(attempt: Long): Seq[Action] = {
      if (!needsRowIds && !declaresRtDomain) return finalActions
      var hwm = RowTracking.highWaterMark(snapshot.domainMetadata)
      ((snapshot.version + 1) until attempt).foreach { v =>
        val h = winnerHwm.getOrElseUpdate(v,
          deltaLog.readCommit(v).getOrElse(throw new IllegalStateException(
              s"winning commit $v vanished during row-id assignment"))
            .flatMap(Actions.fromJson)
            .collectFirst { case d: DomainMetadata if d.domain == RowTracking.Domain =>
              RowTracking.highWaterMark(Map(d.domain -> d.configuration))
            }.getOrElse(-1L))
        hwm = math.max(hwm, h)
      }
      val clamped =
        if (!declaresRtDomain) finalActions
        else finalActions.map {
          case d: DomainMetadata if d.domain == RowTracking.Domain =>
            val declared = RowTracking.highWaterMark(
              Map(d.domain -> d.configuration))
            if (declared >= hwm) d
            else DomainMetadata(d.domain, RowTracking.configJson(hwm))
          case a => a
        }
      if (!needsRowIds) return clamped
      // fresh assignment starts above BOTH the winners' mark and any
      // declared one, and its final mark replaces the declared action
      // (one domain write per commit)
      val declaredHwm =
        if (!declaresRtDomain) -1L
        else finalActions.collect {
          case d: DomainMetadata if d.domain == RowTracking.Domain =>
            RowTracking.highWaterMark(Map(d.domain -> d.configuration))
        }.max
      val (assigned, newHwm, any) =
        RowTracking.assign(clamped, math.max(hwm, declaredHwm), attempt)
      if (any && !declaresRtDomain)
        assigned :+ DomainMetadata(RowTracking.Domain, RowTracking.configJson(newHwm))
      else if (any)
        assigned.map {
          case d: DomainMetadata if d.domain == RowTracking.Domain =>
            DomainMetadata(d.domain, RowTracking.configJson(newHwm))
          case a => a
        }
      else assigned
    }
    def serialized(attempt: Long): Seq[String] = {
      val acts0 = actionsFor(attempt)
      if (!ictEnabled) return (commitInfo +: acts0).map(Actions.toJson)
      val floor =
        if (attempt == 0) Long.MinValue
        else deltaLog.commitInfoAt(attempt - 1)
          .flatMap(_.inCommitTimestamp).getOrElse(Long.MinValue)
      val ict = math.max(deltaLog.clock.nowMillis, floor + 1)
      val ci = commitInfo.copy(timestamp = ict, inCommitTimestamp = Some(ict))
      // enabling ICT on an existing table records WHERE the clock source
      // switches, so readers know which versions to trust mtime for
      val acts =
        if (!ictNewlyEnabled) acts0
        else acts0.map {
          case m: Metadata => m.copy(configuration = m.configuration +
            (DeltaConfig.IctEnablementVersionKey -> attempt.toString) +
            (DeltaConfig.IctEnablementTimestampKey -> ict.toString))
          case a => a
        }
      (ci +: acts).map(Actions.toJson)
    }
    // a declared row-tracking domain must also re-serialize per attempt:
    // actionsFor() re-clamps the declared mark against each new winner,
    // which is pointless if attempt 0's serialization is reused verbatim
    val perAttempt = ictEnabled || needsRowIds || declaresRtDomain
    val preSerialized = if (perAttempt) null else serialized(0L)

    var attempt = snapshot.version + 1
    var done = -1L
    var tries = 0
    while (done < 0) {
      tries += 1
      if (tries > 10000) throw new IllegalStateException("commit retry limit exceeded")
      try {
        val lines = if (perAttempt) serialized(attempt) else preSerialized
        writeCommitFile(attempt, lines.iterator)
        done = attempt
      } catch {
        case _: FileAlreadyExistsException =>
          // losing the race: check every winning commit for conflicts
          attempt = checkForConflicts(attempt, finalActions, isolationLevel) + 1
      }
    }
    committed = true
    // version checksum: incremental table aggregates (best-effort)
    try deltaLog.writeChecksum(done,
      adds.size, adds.map(_.size).sum, removes.size,
      if (removes.forall(_.size.isDefined)) Some(removes.flatMap(_.size).sum) else None)
    catch { case scala.util.control.NonFatal(_) => () }
    postCommit(done, incrementalUniform = true)
    done
  }

  /** Streaming commit for huge action sets (cf. Delta's own commitLarge):
    * actions flow straight from the iterator to the commit file — the
    * driver never materializes the list, so a 10^7-file overwrite commit
    * is bounded by one action in memory at a time (the snapshot read path
    * already spills huge tails to Spark). Contract differences from
    * [[commit]], same as Delta's: NO conflict retry (a lost race throws
    * immediately — the single-pass iterator cannot be replayed), metrics
    * are caller-supplied (the stream is not inspected twice), and
    * `isBlindAppend` is conservatively false. Metadata goes through
    * [[updateMetadata]], never through the stream.
    */
  def commitLarge(actions: Iterator[Action], operation: String,
      engineInfo: String = "graft-spark",
      operationParameters: Map[String, String] = Map.empty,
      operationMetrics: Map[String, String] = Map.empty): Long = {
    require(!committed, "transaction already committed")
    Op.validate(operation)
    validateStagedCoordinator()
    if (snapshot.version == -1 && newMetadata.isEmpty)
      throw new IllegalStateException("first commit must include table metadata")
    val appendOnly = DeltaConfig.AppendOnly.fromMetadata(metadata)
    val checked = actions.map {
      case _: Metadata =>
        throw new IllegalStateException(
          "stage Metadata via updateMetadata, not the commitLarge stream")
      case r: RemoveFile if appendOnly && r.dataChange =>
        throw new UnsupportedOperationException(
          "this table is append-only (delta.appendOnly=true); removes with dataChange are not allowed")
      case a => a
    }
    val attempt = snapshot.version + 1
    // row tracking on the streaming path: ids are assigned as actions flow
    // past (running counter, no materialization); the domain-metadata
    // high-water-mark bump rides behind the stream and reads the final
    // counter only after the adds have been serialized
    val rtEnabled = DeltaConfig.RowTracking.fromMetadata(metadata)
    if (rtEnabled) RowTracking.assertNoCollision(metadata)
    var nextRowId =
      (if (rtEnabled) RowTracking.highWaterMark(snapshot.domainMetadata) else -1L) + 1
    var assignedRowIds = false
    val withIds: Iterator[Action] =
      if (!rtEnabled) checked
      else checked.map {
        case a: AddFile if a.baseRowId.isEmpty =>
          val n = Stats.numRecords(a.stats).getOrElse(throw new IllegalStateException(
            s"row tracking requires numRecords stats on every added file; missing for ${a.path}"))
          val b = a.copy(baseRowId = Some(nextRowId),
            defaultRowCommitVersion = Some(attempt))
          nextRowId += n; assignedRowIds = true; b
        // imported id (CONVERT FROM ICEBERG v3): keep it, stamp the version
        case a: AddFile if a.defaultRowCommitVersion.isEmpty =>
          a.copy(defaultRowCommitVersion = Some(attempt))
        case a => a
      }
    val domainTail: Iterator[Action] = new Iterator[Action] {
      private var emitted = false
      def hasNext: Boolean = rtEnabled && assignedRowIds && !emitted
      def next(): Action = {
        emitted = true
        DomainMetadata(RowTracking.Domain, RowTracking.configJson(nextRowId - 1))
      }
    }
    // ICT applies to EVERY post-enablement commit — a large overwrite that
    // skipped it would be timed by unreliable file mtime, the exact failure
    // ICT exists to prevent. No retry here, so one computation suffices.
    val ictEnabled = DeltaConfig.InCommitTimestamps.fromMetadata(metadata)
    val ictNewlyEnabled = ictEnabled && snapshot.version >= 0 &&
      !snapshot.metadataOpt.exists(DeltaConfig.InCommitTimestamps.fromMetadata)
    val ict: Option[Long] = if (!ictEnabled) None else {
      val floor =
        if (attempt == 0) Long.MinValue
        else deltaLog.commitInfoAt(attempt - 1)
          .flatMap(_.inCommitTimestamp).getOrElse(Long.MinValue)
      Some(math.max(deltaLog.clock.nowMillis, floor + 1))
    }
    val commitInfo = CommitInfo(
      timestamp = ict.getOrElse(deltaLog.clock.nowMillis),
      operation = operation,
      operationParameters = operationParameters,
      readVersion = if (snapshot.version >= 0) Some(snapshot.version) else None,
      isolationLevel = Some(Serializable.name),
      isBlindAppend = Some(false),
      operationMetrics = operationMetrics,
      engineInfo = Some(engineInfo),
      txnId = Some(java.util.UUID.randomUUID.toString),
      inCommitTimestamp = ict)
    // identical `delta.feature.<name>=supported` treatment as commit():
    // validate, strip from the stored configuration, absorb into the
    // protocol below — a metadata-bearing large commit must not persist
    // the raw one-shot keys without the upgrade
    val featureRequests = featureRequestsIn(metadata.configuration)
    val mdActions = newMetadata.toSeq.map {
      case m if ictNewlyEnabled => m.copy(configuration = m.configuration +
        (DeltaConfig.IctEnablementVersionKey -> attempt.toString) +
        (DeltaConfig.IctEnablementTimestampKey -> ict.get.toString))
      case m => m
    }.map(RowTracking.withMaterializedNames).map(stripFeatureRequests)
    // same feature-requirement set as commit(): a table whose
    // metadata-bearing commits all flow through commitLarge must still
    // declare v2Checkpoint / typeWidening / row-tracking features before
    // using them
    val baseProto: Option[Protocol] =
      if (snapshot.version == -1) Some(Protocol()) else None
    val wantedWriterFeatures: Set[String] =
      (if (rtEnabled) Set(RowTracking.FeatureName, RowTracking.DomainFeatureName)
       else Set.empty[String]) ++
        (if (ictEnabled) Set("inCommitTimestamp") else Set.empty[String]) ++
        (if (ColumnDefaults.defaults(metadata).nonEmpty)
          Set(ColumnDefaults.FeatureName) else Set.empty[String]) ++
        (featureRequests -- Snapshot.SupportedReaderFeatures)
    val protoActions: Seq[Action] =
      upgradedProtocol(baseProto.getOrElse(snapshot.protocol),
          wantedWriterFeatures,
          readerWriterFeatureRequirements ++
            featureRequests.intersect(Snapshot.SupportedReaderFeatures))
        .map(Seq[Action](_)).getOrElse(baseProto.toSeq)
    // crc tallies ride the stream — no second pass over the actions
    var crcAddFiles = 0L; var crcAddBytes = 0L
    var crcRmFiles = 0L; var crcRmBytes = 0L; var crcRmSizesKnown = true
    val tallied: Iterator[Action] = withIds.map {
      case a: AddFile => crcAddFiles += 1; crcAddBytes += a.size; a
      case r: RemoveFile =>
        crcRmFiles += 1
        r.size match { case Some(b) => crcRmBytes += b; case None => crcRmSizesKnown = false }
        r
      case a => a
    }
    val head: Seq[Action] = commitInfo +: (protoActions ++ mdActions)
    try
      writeCommitFile(attempt,
        (head.iterator ++ tallied ++ domainTail).map(Actions.toJson))
    catch {
      case _: FileAlreadyExistsException =>
        throw new DeltaConcurrentModificationException(
          s"version $attempt was committed concurrently; commitLarge does not retry")
    }
    committed = true
    try deltaLog.writeChecksum(attempt, crcAddFiles, crcAddBytes, crcRmFiles,
      if (crcRmSizesKnown) Some(crcRmBytes) else None)
    catch { case scala.util.control.NonFatal(_) => () }
    postCommit(attempt)
    attempt
  }

  /** A commit that SETS `delta.coordinatedCommits.commitCoordinator`
    * must be able to talk to the named coordinator: resolve it with
    * write-path strictness at the enablement commit itself, so an
    * unknown name fails loudly HERE instead of silently stranding the
    * table behind a coordinator this engine can only read around
    * (coordinatorFor's read path downgrades unknown names to a warning).
    */
  private def validateStagedCoordinator(): Unit = {
    newMetadata
      .filter(m => DeltaConfig.CommitCoordinatorName.fromMetadata(m).nonEmpty)
      .foreach(m => CoordinatedCommits.coordinatorFor(deltaLog, Some(m),
        forWrite = true))
    // same loud-at-the-commit contract for UniForm formats: a typo'd
    // 'icberg' silently generating nothing is the user's intention
    // dropped on the floor
    newMetadata.foreach { m =>
      val unknown = DeltaConfig.UniversalFormats.fromMetadata(m).filterNot(_ == "iceberg")
      if (unknown.nonEmpty)
        throw new IllegalArgumentException(
          s"unknown universalFormat value(s) ${unknown.mkString(", ")} " +
            "(supported: iceberg)")
      // enabling iceberg on a timestamp-bearing table that ALREADY holds
      // files is refused: those files are INT96 (Spark's parquet
      // default), which the Iceberg spec forbids, and generation could
      // not tell. Enabled from before the first file, the write path
      // stamps TIMESTAMP_MICROS on every data file instead — see
      // DeltaTable.writeFiles.
      val enablesIceberg =
        DeltaConfig.UniversalFormats.fromMetadata(m).contains("iceberg") &&
          !snapshot.metadataOpt.exists(old =>
            DeltaConfig.UniversalFormats.fromMetadata(old).contains("iceberg"))
      if (enablesIceberg && IcebergMetadata.hasTimestamp(m.schema) &&
          !snapshot.allFilesDS.isEmpty)
        throw new UnsupportedOperationException(
          "cannot enable universalFormat=iceberg: the table already holds " +
            "data files and its schema has timestamp columns — existing " +
            "parquet timestamps are INT96 (Spark default), which the " +
            "Iceberg spec forbids. Enable UniForm before the first write, " +
            "or drop/rewrite the timestamp columns first")
      // Iceberg format-version 3 exports row lineage, which maps from
      // Delta row tracking — loud HERE, because post-commit generation
      // is best-effort and would otherwise only warn
      m.configuration.get("graft.iceberg.formatVersion").foreach { v =>
        require(v == "2" || v == "3",
          s"graft.iceberg.formatVersion must be 2 or 3, got '$v'")
        if (v == "3")
          require(DeltaConfig.RowTracking.fromMetadata(m),
            "graft.iceberg.formatVersion=3 requires " +
              "delta.enableRowTracking: Iceberg v3 row lineage " +
              "(first_row_id / next-row-id) maps from Delta base row ids")
      }
      // variant is an Iceberg v3 type — a v2 UniForm table (or one
      // evolving a variant column in) must flip the format version
      // first; post-commit generation would otherwise only warn
      if (DeltaConfig.UniversalFormats.fromMetadata(m).contains("iceberg") &&
          m.configuration.getOrElse("graft.iceberg.formatVersion", "2") != "3" &&
          IcebergMetadata.hasVariant(m.schema))
        throw new UnsupportedOperationException(
          "universalFormat=iceberg over a variant column requires " +
            "graft.iceberg.formatVersion=3 (variant is an Iceberg v3 type)")
    }
  }

  /** Routes the serialized commit to the table's commit authority: the
    * coordinator when the READ snapshot declares one (so the enablement
    * commit itself is the last classic filesystem commit, and the
    * disablement commit is the last coordinated one — the delta-spark
    * transition order), the filesystem's put-if-absent otherwise. Both
    * paths throw FileAlreadyExistsException on a lost race, feeding the
    * same retry loops.
    */
  private def writeCommitFile(attempt: Long, lines: Iterator[String]): Unit =
    CoordinatedCommits.coordinatorFor(deltaLog, snapshot.metadataOpt,
        forWrite = true) match {
      case Some(c) => CoordinatedCommits.writeCommit(deltaLog, c, attempt,
        lines, DeltaConfig.CoordinatedBackfillBatchSize.fromMetadata(metadata))
      case None =>
        // the read snapshot may still carry a staged tail (the
        // DISABLEMENT commit itself, and anything before it, can be
        // ratified-but-unbackfilled): a classic commit written above
        // that gap would make listDeltaVersions non-contiguous and
        // brick every future snapshot — materialize the tail first
        // (idempotent put-if-absent copies; the coordinator's GC ack is
        // cosmetic here and the coordinator may already be gone)
        snapshot.segment.staged.foreach { case (v, name) =>
          val dest = FileNames.deltaFile(deltaLog.logPath, v)
          if (!deltaLog.store.exists(dest)) {
            val payload = deltaLog.store.read(new org.apache.hadoop.fs.Path(
              CoordinatedCommits.commitsDir(deltaLog.logPath), name))
            try deltaLog.store.write(dest, payload.iterator)
            catch { case _: FileAlreadyExistsException => () }
          }
        }
        deltaLog.store.write(
          FileNames.deltaFile(deltaLog.logPath, attempt), lines)
    }

  /** Protocol upgraded to declare every feature the staged state requires
    * (writer features plus the v2Checkpoint reader+writer feature); None
    * when `p` already declares them all. Shared by commit() and
    * commitLarge() so no commit path can use a feature undeclared.
    */
  private def upgradedProtocol(
      p: Protocol, wantedWriterFeatures: Set[String],
      wantedReaderWriterFeatures: Set[String]): Option[Protocol] = {
    var cur = p
    var changed = false
    if (wantedWriterFeatures.nonEmpty)
      Protocol.requireWriterFeatures(cur, wantedWriterFeatures)
        .foreach { u => cur = u; changed = true }
    wantedReaderWriterFeatures.foreach { f =>
      Protocol.requireReaderWriterFeature(cur, f)
        .foreach { u => cur = u; changed = true }
    }
    if (changed) Some(cur) else None
  }

  /** Reader+writer features this commit's metadata requires: v2
    * checkpoints (a manifest-only checkpoint must not be mistaken for
    * full state), type widening (narrow physical files must not be
    * read through the wrong schema by a pre-feature reader), and
    * timestampNtz (spec: any TIMESTAMP_NTZ column in the schema — a
    * pre-feature reader would misread wall-clock values as instants),
    * and variantType (spec: any VARIANT column — the physical layout is
    * a two-binary struct a pre-feature reader would surface raw).
    */
  private def readerWriterFeatureRequirements: Set[String] =
    (if (DeltaConfig.CheckpointPolicy.fromMetadata(metadata) == "v2")
      Set("v2Checkpoint") else Set.empty[String]) ++
    (if (DeltaConfig.EnableTypeWidening.fromMetadata(metadata))
      Set(TypeWidening.FeatureName) else Set.empty[String]) ++
    (if (metadataOptSchemaHasNtz) Set("timestampNtz") else Set.empty[String]) ++
    (if (metadataSchemaHasVariant) Set("variantType") else Set.empty[String])

  private def metadataOptSchemaHasNtz: Boolean = {
    import org.apache.spark.sql.types._
    def hasNtz(dt: DataType): Boolean = dt match {
      case _: TimestampNTZType => true
      case s: StructType => s.fields.exists(f => hasNtz(f.dataType))
      case a: ArrayType => hasNtz(a.elementType)
      case m: MapType => hasNtz(m.keyType) || hasNtz(m.valueType)
      case _ => false
    }
    metadata.schemaString.nonEmpty && metadata.schemaString.contains("timestamp_ntz") &&
      hasNtz(metadata.schema)
  }

  private def metadataSchemaHasVariant: Boolean =
    metadata.schemaString.nonEmpty && metadata.schemaString.contains("variant") &&
      IcebergMetadata.hasVariant(metadata.schema)

  /** cf. reference `trnx.go:603` checkForConflicts + `conflict_checker.go`.
    * Returns the latest winning version when compatible; throws otherwise.
    */
  private def checkForConflicts(
      checkVersion: Long, actions: Seq[Action], level: IsolationLevel): Long = {
    val fsLatest = deltaLog.listDeltaVersions().lastOption.getOrElse(checkVersion - 1)
    // coordinated commits: winners can be ratified-but-unbackfilled —
    // the staged tail MUST be conflict-checked too, and each winner is
    // read through readCommit (classic name, else the staged copy)
    val latest = CoordinatedCommits.coordinatorFor(deltaLog, snapshot.metadataOpt,
        forWrite = true)
      .flatMap(c => CoordinatedCommits.pendingAfter(deltaLog, c, fsLatest)
        .lastOption.map(_._1))
      .getOrElse(fsLatest)
    var v = checkVersion
    while (v <= latest) {
      val winning = deltaLog.readCommit(v).getOrElse(throw new IllegalStateException(
          s"winning commit $v vanished during conflict check"))
        .flatMap(Actions.fromJson)
      new ConflictChecker(this, winning.toSeq, v, level, actions).check()
      v += 1
    }
    latest
  }

  /** cf. reference `trnx.go:647` postCommit: checkpoint on interval.
    * `incrementalUniform` lets Iceberg generation read the commit back
    * from the log (false for [[commitLarge]]'s unbounded action sets).
    */
  private def postCommit(committedVersion: Long,
      incrementalUniform: Boolean = false): Unit = {
    val interval = DeltaConfig.CheckpointInterval.fromMetadata(metadata)
    if (committedVersion != 0 && committedVersion % interval == 0) {
      val s = deltaLog.update()
      if (s.version == committedVersion) deltaLog.checkpoint(s)
    } else {
      deltaLog.update()
    }
    // minor log compaction on its own cadence (best-effort maintenance —
    // a failure must never fail the already-durable commit)
    val lc = DeltaConfig.LogCompactionInterval.fromMetadata(metadata)
    if (lc > 1 && (committedVersion + 1) % lc == 0)
      try deltaLog.compactDeltas(committedVersion - lc + 1, committedVersion)
      catch { case scala.util.control.NonFatal(_) => () }
    // UniForm: regenerate Iceberg metadata for the committed snapshot —
    // best-effort like delta-spark's async converter; the Delta commit
    // is the source of truth and a generation failure must never fail it
    if (DeltaConfig.UniversalFormats.fromMetadata(metadata).contains("iceberg")) {
      val s = deltaLog.snapshot
      if (s.version == committedVersion) {
        try IcebergMetadata.generate(deltaLog.spark, deltaLog, s,
          incremental = incrementalUniform)
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"WARN graft: Iceberg metadata generation " +
              s"for version $committedVersion failed: ${e.getMessage}")
        }
      }
    }
  }

  private[delta] def readPredicatesSnapshot: Seq[Column] = readPredicates.toSeq
  private[delta] def readFiles: Set[String] = readFilePaths.toSet
  private[delta] def readTxns: Set[String] = readTxnIds.toSet
  private[delta] def didReadWholeTable: Boolean = readTheWholeTable
}

/** Decides whether a winning (concurrently committed) version invalidates
  * the current transaction (cf. reference `conflict_checker.go:70`).
  */
class ConflictChecker(
    txn: OptimisticTransaction,
    winningActions: Seq[Action],
    winningVersion: Long,
    level: IsolationLevel,
    currentActions: Seq[Action]) {

  private val winningCommitInfo = winningActions.collectFirst { case c: CommitInfo => c }
  private val winningAdds = winningActions.collect { case a: AddFile => a }
  private val winningRemoves = winningActions.collect { case r: RemoveFile => r }

  def check(): Unit = {
    checkProtocol()
    checkMetadata()
    checkAddedFiles()
    checkDeletedFilesAgainstReadFiles()
    checkDeletedFilesAgainstDeletedFiles()
    checkTxnIds()
    checkDomainMetadata()
  }

  /** cf. conflict_checker.go checkNoProtocolChange. */
  private def checkProtocol(): Unit =
    if (winningActions.exists(_.isInstanceOf[Protocol]))
      throw new ProtocolChangedException(s"protocol changed by version $winningVersion")

  /** cf. conflict_checker.go checkNoMetadataChange. */
  private def checkMetadata(): Unit =
    if (winningActions.exists(_.isInstanceOf[Metadata]))
      throw new MetadataChangedException(s"metadata changed by version $winningVersion")

  /** cf. conflict_checker.go checkForAddedFilesThatShouldHaveBeenReadByCurrentTxn:
    * at WriteSerializable, blind appends never conflict; at Serializable
    * they conflict when they overlap what we read.
    */
  private def checkAddedFiles(): Unit = {
    if (level == SnapshotIsolation) return
    val blindAppend = winningCommitInfo.flatMap(_.isBlindAppend).getOrElse(false)
    val addsToCheck =
      if (level == WriteSerializable && blindAppend) Nil else winningAdds
    if (addsToCheck.isEmpty) return
    if (txn.didReadWholeTable)
      throw new ConcurrentAppendException(
        s"files added by version $winningVersion conflict with a whole-table read")
    val preds = txn.readPredicatesSnapshot
    if (preds.isEmpty) return
    val partCols = txn.snapshot.metadataOpt.map(_.partitionColumns).getOrElse(Nil)
    val schema = txn.snapshot.metadataOpt.map(_.schema)
      .getOrElse(org.apache.spark.sql.types.StructType(Nil))
    // each read predicate compiles ONCE to a driver-local evaluator; winning
    // files are then checked in-process — no Spark jobs inside the retry loop
    val evaluators: Seq[Map[String, String] => Boolean] = preds.map { p =>
      val (pushed, residual) =
        DeltaScan.splitAnalyzed(txn.deltaLog.spark, schema, p, partCols.toSet)
      if (pushed.isEmpty && residual.nonEmpty)
        (_: Map[String, String]) => true // non-partition read: conservative
      else DeltaScan.partitionEvaluator(txn.deltaLog.spark, pushed, partCols, schema)
    }
    addsToCheck.foreach { add =>
      if (evaluators.exists(_(add.partitionValues)))
        throw new ConcurrentAppendException(
          s"file ${add.path} added by version $winningVersion matches this transaction's read predicate")
    }
  }

  /** cf. conflict_checker.go checkForDeletedFilesAgainstCurrentTxnReadFiles. */
  private def checkDeletedFilesAgainstReadFiles(): Unit = {
    val deleted = winningRemoves.map(_.path).toSet
    val overlap = deleted.intersect(txn.readFiles)
    if (overlap.nonEmpty)
      throw new ConcurrentDeleteReadException(
        s"files read by this transaction were deleted by version $winningVersion: ${overlap.take(3).mkString(", ")}")
    if (txn.didReadWholeTable && deleted.nonEmpty)
      throw new ConcurrentDeleteReadException(
        s"files were deleted by version $winningVersion during a whole-table read")
  }

  /** cf. conflict_checker.go checkForDeletedFilesAgainstCurrentTxnDeletedFiles. */
  private def checkDeletedFilesAgainstDeletedFiles(): Unit = {
    val winningDeleted = winningRemoves.map(_.path).toSet
    val ourDeleted = currentActions.collect { case r: RemoveFile => r.path }.toSet
    val overlap = winningDeleted.intersect(ourDeleted)
    if (overlap.nonEmpty)
      throw new ConcurrentDeleteDeleteException(
        s"version $winningVersion deleted files this transaction also deletes: ${overlap.take(3).mkString(", ")}")
  }

  /** Two transactions writing the SAME metadata domain conflict (there is
    * no general way to merge opaque configurations). The row-tracking
    * high-water-mark domain is exempt: the retry loop re-reads the
    * winner's mark and reassigns ids above it, which is the merge.
    */
  private def checkDomainMetadata(): Unit = {
    val winningDomains = winningActions
      .collect { case d: DomainMetadata => d.domain }.toSet - RowTracking.Domain
    val ourDomains = currentActions
      .collect { case d: DomainMetadata => d.domain }.toSet - RowTracking.Domain
    val overlap = winningDomains.intersect(ourDomains)
    if (overlap.nonEmpty)
      throw new DomainMetadataChangedException(
        s"metadata domain(s) ${overlap.mkString(", ")} changed by version $winningVersion")
  }

  /** cf. conflict_checker.go checkForUpdatedApplicationTransactionIds.... */
  private def checkTxnIds(): Unit = {
    val winningIds = winningActions.collect { case t: SetTransaction => t.appId }.toSet
    val overlap = winningIds.intersect(txn.readTxns)
    if (overlap.nonEmpty)
      throw new ConcurrentTransactionException(
        s"idempotent transaction ids updated by version $winningVersion: ${overlap.mkString(", ")}")
  }
}
