package graft.delta

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Dataset, Encoders}
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
  * `txnVersion`, stage metadata via `updateMetadata`, then `commit` —
  * with a `Seq` of actions, or with a `Seq` plus a Dataset body of file
  * actions too large for the driver. Both run one pipeline:
  *  - prepare: protocol write check, first-commit protocol, one
  *    Metadata, every feature upgrade the new state needs, CommitInfo
  *    (metrics from the file tally; a Dataset body is tallied by one
  *    aggregation);
  *  - write: put-if-absent of `<v>.json` streaming CommitInfo, the
  *    actions, the body and the row-tracking mark, with row ids numbered
  *    by one running counter and the in-commit timestamp set per attempt;
  *  - retry: on collision, conflict check against the winning commits
  *    and write again at the next version (cf. `trnx.go:541`
  *    doCommitRetryIteratively).
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
    * feature would hand a corrupt table to conforming readers.
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
      operationMetrics: Map[String, String] = Map.empty): Long =
    commitPipeline(actions, None, operation, engineInfo, operationParameters,
      operationMetrics)

  /** Commit `actions` plus a bulk `body` of file actions (add, remove or
    * cdc rows only) that never lands on the driver as a whole: it is
    * tallied by one aggregation, which also caches it, and then streamed
    * into the commit file — in one job up to
    * [[OptimisticTransaction.SingleFetchMaxFiles]] files, a partition at
    * a time past that, so a 10^7-file overwrite holds one partition of
    * actions, not the list. A lost race retries like any other commit
    * (the cached body is streamed again), and the conflict check filters
    * the body on the executors. The body may be recomputed if a cached
    * block is lost, so any side effect it has must be idempotent.
    */
  def commit(actions: Seq[Action], body: Dataset[SingleAction], operation: String,
      operationParameters: Map[String, String]): Long =
    commitPipeline(actions, Some(body), operation, "graft-spark",
      operationParameters, Map.empty)

  /** The one commit protocol: prepare (protocol checks and upgrades) ->
    * tally and CommitInfo -> write head ++ body -> on a lost race, check
    * the winners for conflicts and write again at the next version
    * (cf. `trnx.go:428` prepareCommit, `trnx.go:541`
    * doCommitRetryIteratively).
    */
  private def commitPipeline(actions: Seq[Action], body: Option[Dataset[SingleAction]],
      operation: String, engineInfo: String,
      operationParameters: Map[String, String],
      operationMetrics: Map[String, String]): Long = {
    require(!committed, "transaction already committed")
    Op.validate(operation)
    validateStagedCoordinator()
    val head = prepare(newMetadata.map(m => m: Action).toSeq ++ actions)
    val cached = body.map(_.persist())
    val (done, tally) =
      try writeWithRetry(head, cached, operation, engineInfo, operationParameters,
        operationMetrics)
      finally cached.foreach(_.unpersist())
    committed = true
    // version checksum: incremental table aggregates (best-effort)
    try deltaLog.writeChecksum(done, tally.adds, tally.addBytes, tally.removes,
      if (tally.sizedRemoves == tally.removes) Some(tally.removeBytes) else None)
    catch { case scala.util.control.NonFatal(_) => () }
    postCommit(done, tally)
    done
  }

  /** prepareCommit's protocol half (cf. reference `trnx.go:428`): the
    * staged metadata and `actions` with the first-commit protocol, every
    * feature upgrade the new state requires and the metadata rewrites
    * (materialized row-tracking names, stripped feature requests).
    */
  private def prepare(actions: Seq[Action]): Seq[Action] = {
    var finalActions = actions
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
    val featureRequests = featureRequestsIn(metadata.configuration)
    if (featureRequests.nonEmpty)
      finalActions = finalActions.map {
        case m: Metadata => stripFeatureRequests(m)
        case a => a
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
          Set(CoordinatedCommits.FeatureName) else Set.empty[String]) ++
        (featureRequests -- Snapshot.SupportedReaderFeatures)
    val rwFeatures = readerWriterFeatureRequirements ++
      featureRequests.intersect(Snapshot.SupportedReaderFeatures)
    if (wantedWriterFeatures.nonEmpty || rwFeatures.nonEmpty) {
      finalActions.collectFirst { case p: Protocol => p } match {
        case Some(p) =>
          upgradedProtocol(p, wantedWriterFeatures, rwFeatures).foreach { up =>
            finalActions = finalActions.map { case q: Protocol if q eq p => up; case a => a }
          }
        case None =>
          upgradedProtocol(snapshot.protocol, wantedWriterFeatures, rwFeatures)
            .foreach(up => finalActions = up +: finalActions)
      }
    }
    finalActions
  }

  /** Tallies `head` ++ `body`, builds the CommitInfo and writes the
    * commit at the first free version; returns it with the tally.
    */
  private def writeWithRetry(head: Seq[Action], body: Option[Dataset[SingleAction]],
      operation: String, engineInfo: String,
      operationParameters: Map[String, String],
      operationMetrics: Map[String, String]): (Long, OptimisticTransaction.Tally) = {
    import OptimisticTransaction._
    val bodyTally = body.map(Tally.of).getOrElse(Tally())
    val tally = Tally.of(head) + bodyTally
    // appendOnly tables reject data-changing removes
    // (cf. reference config.go:92 DeltaConfigIsAppendOnly)
    if (DeltaConfig.AppendOnly.fromMetadata(metadata) && tally.dataChangeRemoves > 0)
      throw new UnsupportedOperationException(
        "this table is append-only (delta.appendOnly=true); removes with dataChange are not allowed")

    val isBlindAppend = !readTheWholeTable && readPredicates.isEmpty &&
      tally.removes == 0 && tally.cdcFiles == 0 && head.forall {
        case _: AddFile | _: SetTransaction | _: CommitInfo => true
        case _: Metadata | _: Protocol => snapshot.version == -1
        case _ => false
      }
    val isolationLevel: IsolationLevel =
      if (isBlindAppend) WriteSerializable else Serializable
    // operation metrics derived from the tally — free to compute, and
    // what history()/audit consumers want (cf. reference
    // action/commit_info.go operationMetrics); caller-supplied metrics
    // (e.g. exact DML row counts) layer on top
    val metrics = Map(
      "numAddedFiles" -> tally.adds.toString,
      "numRemovedFiles" -> tally.removes.toString,
      "numAddedBytes" -> tally.addBytes.toString,
      "numRemovedBytes" -> tally.removeBytes.toString) ++
      (if (tally.cdcFiles > 0)
        Map("numAddedChangeFiles" -> tally.cdcFiles.toString) else Map.empty) ++
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

    // a small body is fetched in one job; a large one streams a partition
    // at a time
    val bodyRows: () => Iterator[Action] = body match {
      case None => () => Iterator.empty
      case Some(ds) =>
        val parts = if (bodyTally.files <= SingleFetchMaxFiles) ds.coalesce(1) else ds
        () => parts.toLocalIterator().asScala.map(_.unwrap)
    }
    // in-commit timestamps: the commit's timestamp lives IN the commit
    // (mtime is unreliable once an object store copies the log). It must
    // exceed the previous commit's ICT, so it is recomputed per attempt
    // against the latest winner.
    val ictEnabled = DeltaConfig.InCommitTimestamps.fromMetadata(metadata)
    val ictNewlyEnabled = ictEnabled && snapshot.version >= 0 &&
      !snapshot.metadataOpt.exists(DeltaConfig.InCommitTimestamps.fromMetadata)
    // row tracking: fresh files get contiguous baseRowId ranges above the
    // table's high-water mark, numbered by one running counter as the
    // actions stream past. A caller-DECLARED mark (CONVERT FROM ICEBERG
    // imports next-row-id − 1) is a floor for that counter; the final
    // mark is written once, behind the body. Under conflict retry a
    // winner may have raised the mark and defaultRowCommitVersion moves,
    // so numbering is per attempt; each winner's mark is read once.
    val rtEnabled = DeltaConfig.RowTracking.fromMetadata(metadata)
    def isRtDomain(a: Action): Boolean = a match {
      case d: DomainMetadata => rtEnabled && d.domain == RowTracking.Domain
      case _ => false
    }
    val declaredHwm = head.collect {
      case d: DomainMetadata if isRtDomain(d) =>
        RowTracking.highWaterMark(Map(d.domain -> d.configuration))
    }.maxOption
    val headOut = if (declaredHwm.isEmpty) head else head.filterNot(isRtDomain)
    val winnerHwm = mutable.Map.empty[Long, Long]
    def hwmBefore(attempt: Long): Long =
      ((snapshot.version + 1) until attempt).foldLeft(
          RowTracking.highWaterMark(snapshot.domainMetadata)) { (hwm, v) =>
        math.max(hwm, winnerHwm.getOrElseUpdate(v,
          deltaLog.readCommit(v).getOrElse(throw new IllegalStateException(
              s"winning commit $v vanished during row-id assignment"))
            .flatMap(Actions.fromJson)
            .collectFirst { case d: DomainMetadata if d.domain == RowTracking.Domain =>
              RowTracking.highWaterMark(Map(d.domain -> d.configuration))
            }.getOrElse(-1L)))
      }
    def lines(attempt: Long): Iterator[String] = {
      val ict = if (!ictEnabled) None else {
        val floor =
          if (attempt == 0) Long.MinValue
          else deltaLog.commitInfoAt(attempt - 1)
            .flatMap(_.inCommitTimestamp).getOrElse(Long.MinValue)
        Some(math.max(deltaLog.clock.nowMillis, floor + 1))
      }
      val ci = ict.fold(commitInfo)(t =>
        commitInfo.copy(timestamp = t, inCommitTimestamp = Some(t)))
      lazy val floorHwm = math.max(hwmBefore(attempt), declaredHwm.getOrElse(-1L))
      var nextRowId = -1L // no fresh id assigned yet
      val acts = (headOut.iterator ++ bodyRows()).map {
        case a: AddFile if rtEnabled && a.baseRowId.isEmpty =>
          val n = Stats.numRecords(a.stats).getOrElse(throw new IllegalStateException(
            s"row tracking requires numRecords stats on every added file; missing for ${a.path}"))
          if (nextRowId < 0) nextRowId = floorHwm + 1
          val b = a.copy(baseRowId = Some(nextRowId), defaultRowCommitVersion = Some(attempt))
          nextRowId += n
          b
        // imported id (CONVERT FROM ICEBERG v3): keep it, stamp the version
        case a: AddFile if rtEnabled && a.defaultRowCommitVersion.isEmpty =>
          a.copy(defaultRowCommitVersion = Some(attempt))
        // enabling ICT on an existing table records WHERE the clock source
        // switches, so readers know which versions to trust mtime for
        case m: Metadata if ictNewlyEnabled => m.copy(configuration = m.configuration +
          (DeltaConfig.IctEnablementVersionKey -> attempt.toString) +
          (DeltaConfig.IctEnablementTimestampKey -> ict.get.toString))
        case a => a
      }
      // evaluated only once the body has streamed past
      def mark: Iterator[Action] =
        if (nextRowId >= 0)
          Iterator(DomainMetadata(RowTracking.Domain, RowTracking.configJson(nextRowId - 1)))
        else if (declaredHwm.isDefined)
          Iterator(DomainMetadata(RowTracking.Domain, RowTracking.configJson(floorHwm)))
        else Iterator.empty
      (Iterator(ci) ++ acts ++ mark).map(Actions.toJson)
    }
    lazy val ourDomains = head.collect { case d: DomainMetadata => d.domain }.toSet
    lazy val headRemoves = head.collect { case r: RemoveFile => r.path }.toSet
    def ourDeletedAmong(paths: Set[String]): Set[String] = {
      val fromBody = body match {
        case Some(ds) if paths.nonEmpty && bodyTally.removes > 0 =>
          ds.where(col("remove.path").isInCollection(paths))
            .select("remove.path").as(Encoders.STRING).take(3).toSet
        case _ => Set.empty[String]
      }
      headRemoves.intersect(paths) ++ fromBody
    }

    var attempt = snapshot.version + 1
    var done = -1L
    var tries = 0
    while (done < 0) {
      tries += 1
      if (tries > 10000) throw new IllegalStateException("commit retry limit exceeded")
      try {
        writeCommitFile(attempt, lines(attempt))
        done = attempt
      } catch {
        case _: FileAlreadyExistsException =>
          // losing the race: check every winning commit for conflicts
          attempt = checkForConflicts(attempt, isolationLevel, ourDomains, ourDeletedAmong) + 1
      }
    }
    (done, tally)
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
    * when `p` already declares them all.
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
  private def checkForConflicts(checkVersion: Long, level: IsolationLevel,
      ourDomains: Set[String], ourDeletedAmong: Set[String] => Set[String]): Long = {
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
      new ConflictChecker(this, winning.toSeq, v, level, ourDomains, ourDeletedAmong)
        .check()
      v += 1
    }
    latest
  }

  /** cf. reference `trnx.go:647` postCommit: checkpoint on interval.
    * Iceberg generation reads the commit back from the log only when its
    * tally is small enough for the incremental path.
    */
  private def postCommit(committedVersion: Long,
      tally: OptimisticTransaction.Tally): Unit = {
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
          incremental = tally.files <= IcebergMetadata.IncrementalMaxEntries)
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
    ourDomains: Set[String],
    ourDeletedAmong: Set[String] => Set[String]) {

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
    val overlap = ourDeletedAmong(winningRemoves.map(_.path).toSet)
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
    val overlap = winningDomains.intersect(ourDomains - RowTracking.Domain)
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

object OptimisticTransaction {

  /** Largest Dataset body fetched to the driver in one job; a larger one
    * streams one partition at a time.
    */
  private[delta] val SingleFetchMaxFiles = 50000L

  /** File-action totals of one commit: its operation metrics, version
    * checksum, blind-append and append-only checks and post-commit
    * UniForm path all derive from them.
    */
  private[delta] final case class Tally(adds: Long = 0L, addBytes: Long = 0L,
      removes: Long = 0L, removeBytes: Long = 0L, sizedRemoves: Long = 0L,
      dataChangeRemoves: Long = 0L, cdcFiles: Long = 0L) {
    def files: Long = adds + removes
    def +(o: Tally): Tally = Tally(adds + o.adds, addBytes + o.addBytes,
      removes + o.removes, removeBytes + o.removeBytes,
      sizedRemoves + o.sizedRemoves, dataChangeRemoves + o.dataChangeRemoves,
      cdcFiles + o.cdcFiles)
  }

  private[delta] object Tally {
    def of(actions: Seq[Action]): Tally = actions.foldLeft(Tally()) {
      case (t, a: AddFile) => t.copy(adds = t.adds + 1, addBytes = t.addBytes + a.size)
      case (t, r: RemoveFile) => t.copy(removes = t.removes + 1,
        removeBytes = t.removeBytes + r.size.getOrElse(0L),
        sizedRemoves = t.sizedRemoves + (if (r.size.isDefined) 1 else 0),
        dataChangeRemoves = t.dataChangeRemoves + (if (r.dataChange) 1 else 0))
      case (t, _: AddCDCFile) => t.copy(cdcFiles = t.cdcFiles + 1)
      case (t, _) => t
    }

    /** One aggregation over a commit body, which must hold file actions
      * only: everything else belongs in the commit's action list, where
      * the prepare step sees it.
      */
    def of(body: Dataset[SingleAction]): Tally = {
      val add = col("add")
      val remove = col("remove")
      val cdc = col("cdc")
      val r = body.agg(count(add), coalesce(sum(add("size")), lit(0L)),
        count(remove), coalesce(sum(remove("size")), lit(0L)), count(remove("size")),
        count(when(remove("dataChange"), 1)), count(cdc),
        count(when(add.isNull && remove.isNull && cdc.isNull, 1))).head()
      require(r.getLong(7) == 0L,
        s"a commit body holds file actions only; found ${r.getLong(7)} other action(s)")
      Tally(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))
    }
  }
}
