package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Encoders, SparkSession}

/** The transaction log of one Delta table
  * (cf. reference `log.go:18` Log interface / `log.go:136` logImpl).
  */
class DeltaLog(val spark: SparkSession, val dataPath: Path,
    storeOverride: Option[LogStore] = None) {

  val logPath = new Path(dataPath, "_delta_log")
  val store: LogStore = storeOverride.getOrElse(LogStore.forTable(spark, dataPath))

  val clock: Clock = DeltaLog.clockOverride.getOrElse(SystemClock)

  @volatile private var currentSnapshot: Option[Snapshot] = None

  /** cf. reference `log.go:283` TableExists. */
  def tableExists: Boolean = update().version >= 0

  /** cf. reference `log.go:148` Snapshot (cached view). */
  def snapshot: Snapshot = currentSnapshot.getOrElse(update())

  /** cf. reference `log.go:152` Update: list the log, rebuild state.
    * Returns the current Snapshot object itself when the listing yields
    * its segment again (same files, lengths and mtimes), so its lazily
    * derived state serves every read until the next commit.
    * On a coordinated-commits table, reads MERGE ratified-but-unbackfilled
    * commits (see [[buildSnapshot]]): a commit is visible to every
    * session the moment the coordinator ratified it, not when its
    * backfill copy eventually lands.
    */
  def update(): Snapshot = synchronized {
    val s = buildSnapshot(listLog(), None)
    currentSnapshot = Some(s)
    s
  }

  /** cf. reference `log.go:156` SnapshotForVersionAsOf. One listing
    * bounds the version and builds the segment; the latest snapshot is
    * built only for a version past the listed log (a coordinator's
    * staged tail).
    */
  def snapshotForVersionAsOf(version: Long): Snapshot = {
    val listing = listLog()
    val earliest = earliestReproducibleVersion(listing).getOrElse(
      throw DeltaErrors.noReproducibleHistory(logPath))
    val paths = listing.map(_.getPath)
    val listedLatest = (paths.filter(FileNames.isDeltaFile).map(FileNames.deltaVersion) ++
      Checkpoints.completeCheckpoints(paths, Long.MaxValue).map(_.version))
      .maxOption.getOrElse(-1L)
    val latest = if (version <= listedLatest) listedLatest else update().version
    if (version < earliest || version > latest)
      throw DeltaErrors.versionNotExist(version, earliest, latest)
    buildSnapshot(listing, Some(version))
  }

  /** cf. reference `log.go:160` SnapshotForTimestampAsOf. */
  def snapshotForTimestampAsOf(timestampMillis: Long): Snapshot = {
    val cs = commits()
    if (cs.isEmpty) throw DeltaErrors.noReproducibleHistory(logPath)
    if (timestampMillis < cs.head._2)
      throw DeltaErrors.timestampEarlierThanTableFirstCommit(timestampMillis, cs.head._2)
    if (timestampMillis > cs.last._2)
      throw DeltaErrors.timestampLaterThanTableLastCommit(timestampMillis, cs.last._2)
    val v = cs.takeWhile(_._2 <= timestampMillis).last._1
    snapshotForVersionAsOf(v)
  }

  /** cf. reference `log.go:232` VersionBeforeOrAtTimestamp. */
  def versionBeforeOrAtTimestamp(timestampMillis: Long): Option[Long] = {
    val cs = commits()
    cs.takeWhile(_._2 <= timestampMillis).lastOption.map(_._1)
  }

  /** cf. reference `log.go:257` VersionAtOrAfterTimestamp. */
  def versionAtOrAfterTimestamp(timestampMillis: Long): Option[Long] = {
    val cs = commits()
    cs.find(_._2 >= timestampMillis).map(_._1)
  }

  /** Streaming start resolution for `startingTimestamp` (delta-spark
    * parity; the streaming face of the reference's timestamp
    * resolution, `log.go:160` / history_manager): the first version
    * whose commit timestamp is at-or-after the given time. A
    * pre-history timestamp starts at the earliest retained version
    * ("give me everything since <time>" trivially includes the whole
    * log); a timestamp past the last commit resolves to latest+1 —
    * only commits arriving after the stream starts, the same contract
    * as `startingVersion=latest`.
    */
  def startingVersionAtOrAfterTimestamp(timestampMillis: Long): Long =
    versionAtOrAfterTimestamp(timestampMillis).getOrElse(update().version + 1)

  /** Lines of commit `version`: the classic `<v>.json`, else the
    * coordinator's ratified staged copy — so version-addressed readers
    * (history, CDF, ICT floors) work on a coordinated-commits table
    * whose backfill batch has not flushed yet.
    */
  private[delta] def readCommit(version: Long): Option[Seq[String]] = {
    val p = FileNames.deltaFile(logPath, version)
    if (store.exists(p)) Some(store.read(p))
    else CoordinatedCommits.stagedRead(this, version)
  }

  /** cf. reference `log.go:173` CommitInfoAt (history_manager.getCommitInfo). */
  def commitInfoAt(version: Long): Option[CommitInfo] = {
    val lines = readCommit(version).getOrElse(
      throw DeltaErrors.versionNotExist(version, 0, -1))
    lines.flatMap(Actions.fromJson).collectFirst {
      case ci: CommitInfo => ci.copy(version = Some(version))
    }
  }

  /** cf. reference `log.go:188` Changes + `version_log.go` VersionLog.
    * On a coordinated table, the ratified-but-unbackfilled staged tail
    * is included (read through [[readCommit]]).
    */
  def changes(startVersion: Long, failOnDataLoss: Boolean = false): Iterator[(Long, Seq[Action])] = {
    val fsVersions = listDeltaVersions()
    val stagedTail = CoordinatedCommits.coordinatorFor(this, snapshot.metadataOpt)
      .map(c => CoordinatedCommits
        .pendingAfter(this, c, fsVersions.lastOption.getOrElse(-1L)).map(_._1))
      .getOrElse(Nil)
    val versions = fsVersions ++ stagedTail
    if (versions.isEmpty) return Iterator.empty
    val fromHere = versions.dropWhile(_ < startVersion)
    if (failOnDataLoss && fromHere.headOption.exists(_ > startVersion))
      throw DeltaErrors.dataLoss(startVersion, fromHere.headOption.getOrElse(-1L))
    // detect gaps inside the requested range
    fromHere.sliding(2).foreach {
      case Seq(a, b) if failOnDataLoss && b != a + 1 => throw DeltaErrors.dataLoss(a + 1, b)
      case _ =>
    }
    fromHere.iterator.map { v =>
      // a version the listing reported but readCommit cannot serve was
      // swept (metadata cleanup) between listing and read: under
      // failOnDataLoss that is data loss, never a silent empty batch;
      // without it the skip is the option's documented contract
      v -> (readCommit(v) match {
        case Some(lines) => lines.flatMap(Actions.fromJson).toSeq
        case None if failOnDataLoss => throw DeltaErrors.dataLoss(v, v + 1)
        case None => Seq.empty[Action]
      })
    }
  }

  /** cf. reference `log.go:164` StartTransaction. */
  def startTransaction(): OptimisticTransaction =
    new OptimisticTransaction(this, update())

  // ------------------------------------------------------------ internals

  private[delta] def listDeltaVersions(): Seq[Long] = {
    val statuses =
      try store.listFrom(FileNames.deltaFile(logPath, 0))
      catch { case _: java.io.FileNotFoundException => return Nil }
    statuses.map(_.getPath).filter(FileNames.isDeltaFile).map(FileNames.deltaVersion)
  }

  /** The one listing a snapshot build makes: every file of the log from
    * "<0>.", which sorts before each name shape (delta, compacted,
    * checkpoint, crc), name-sorted, with lengths and mtimes.
    */
  private def listLog(): Seq[org.apache.hadoop.fs.FileStatus] =
    try store.listFrom(new Path(logPath, f"${0L}%020d."))
    catch { case _: java.io.FileNotFoundException => Nil }

  /** (version, monotonized commit timestamp) for every commit
    * (cf. reference `history_manager.go:205` getCommits).
    *
    * With in-commit timestamps enabled, versions from the enablement
    * boundary on take their timestamp from the commit's own CommitInfo
    * (first log line — one `readHead` per commit, never the whole file):
    * file mtimes stop being the source of truth the moment an object
    * store copies the log. Pre-enablement versions keep using mtime.
    */
  /** version → raw inCommitTimestamp from that commit's CommitInfo.
    * Commit files are immutable once written, so entries never go stale;
    * the cache turns history/timestamp-travel over an N-commit log from
    * N serial readHead GETs PER CALL into N total across the log's
    * lifetime in this JVM.
    */
  private val ictCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Option[Long]]()

  private[delta] def commits(): Seq[(Long, Long)] = {
    val statuses =
      try store.listFrom(FileNames.deltaFile(logPath, 0))
      catch { case _: java.io.FileNotFoundException => return Nil }
    val ictFrom = ictEnablementVersion
    var last = Long.MinValue
    statuses
      .filter(s => FileNames.isDeltaFile(s.getPath))
      .map { s =>
        val v = FileNames.deltaVersion(s.getPath)
        val raw = ictFrom match {
          case Some(v0) if v >= v0 =>
            ictCache.computeIfAbsent(v, _ =>
              store.readHead(s.getPath).flatMap(Actions.fromJson).collect {
                case ci: CommitInfo => ci.inCommitTimestamp
              }.flatten).getOrElse(s.getModificationTime)
          case _ => s.getModificationTime
        }
        // strictly monotonize: a commit whose timestamp ties or regresses
        // gets previous + 1, so timestamp time-travel has a total order
        last = math.max(raw, last + 1)
        (v, last)
      }
  }

  /** First version whose commit carries an inCommitTimestamp, when the
    * CURRENT metadata has ICT enabled (absent key = enabled at creation).
    */
  private[delta] def ictEnablementVersion: Option[Long] =
    snapshot.metadataOpt
      .filter(DeltaConfig.InCommitTimestamps.fromMetadata)
      .map(_.configuration.get(DeltaConfig.IctEnablementVersionKey)
        .map(_.trim.toLong).getOrElse(0L))

  /** Earliest version rebuildable from the current log: the oldest
    * checkpoint, or 0 if version 0's json is still present
    * (cf. reference `history_manager.go:130`).
    */
  private[delta] def earliestReproducibleVersion: Option[Long] =
    earliestReproducibleVersion(listLog())

  private def earliestReproducibleVersion(
      listing: Seq[org.apache.hadoop.fs.FileStatus]): Option[Long] = {
    val paths = listing.map(_.getPath)
    if (paths.find(FileNames.isDeltaFile).map(FileNames.deltaVersion).contains(0L))
      return Some(0L)
    // earliest COMPLETE checkpoint: an incomplete multi-part survivor of a
    // partial sweep must not be offered as reproducible
    Checkpoints.completeCheckpoints(paths, Long.MaxValue).headOption.map(_.version)
  }

  /** The snapshot of one listing: the current Snapshot object when the
    * listing yields its segment, else a new one.
    */
  private def buildSnapshot(listing: Seq[org.apache.hadoop.fs.FileStatus],
      versionBound: Option[Long]): Snapshot = {
    def snapshotOf(seg: LogSegment): Snapshot =
      currentSnapshot.filter(_.segment == seg)
        .getOrElse(new Snapshot(spark, this, seg.version, seg))
    val byName = listing.map(st => st.getPath.getName -> st).toMap
    val paths = listing.map(_.getPath)
    val ckpt = versionBound match {
      case Some(v) => Checkpoints.completeCheckpoints(paths, v).lastOption
      case None =>
        // fast path: _last_checkpoint hint, verified against the listing
        Checkpoints.readLastCheckpoint(store, logPath)
          .map(md => CheckpointInstance(md.version, md.parts, md.v2Uuid))
          .filter(ci => ci.files(logPath).forall(p => byName.contains(p.getName)))
          .orElse(Checkpoints.completeCheckpoints(paths, Long.MaxValue).lastOption)
    }
    val from = ckpt.map(_.version + 1).getOrElse(0L)
    val allDeltas = paths.filter(FileNames.isDeltaFile).map(FileNames.deltaVersion)
    val allCompacted = paths.filter(FileNames.isCompactedFile).map(FileNames.compactedRange)
    var deltas = allDeltas.dropWhile(_ < from)
    versionBound.foreach(v => deltas = deltas.takeWhile(_ <= v))
    // verify contiguity of the tail
    deltas.sliding(2).foreach {
      case Seq(a, b) if b != a + 1 =>
        throw new IllegalStateException(s"non-contiguous delta log: $a -> $b in $logPath")
      case _ =>
    }
    val version = deltas.lastOption
      .orElse(ckpt.map(_.version))
      .getOrElse(versionBound.getOrElse(-1L))
    ckpt.foreach { c =>
      if (deltas.nonEmpty && deltas.head != c.version + 1)
        throw new IllegalStateException(
          s"delta tail ${deltas.head} does not follow checkpoint ${c.version}")
    }
    // minor log compaction: substitute covered runs of the tail with
    // compacted files (greedy longest range from each cursor) — replay
    // reads O(compactions) files instead of O(versions) on long tails
    val byStart = allCompacted
      .filter { case (s, e) => s >= from && e <= version }
      .groupBy(_._1).map { case (s, rs) => s -> rs.map(_._2).max }
    var keep = List.empty[Long]
    var used = List.empty[(Long, Long)]
    var v = from
    while (v <= version) {
      byStart.get(v) match {
        case Some(e) if e > v => used = (v, e) :: used; v = e + 1
        case _ => keep = v :: keep; v += 1
      }
    }
    // coordinated commits: merge ratified-but-unbackfilled commits into
    // the tail. The coordinator is discovered from the FILESYSTEM head's
    // metadata — sound because the enablement commit is itself the last
    // classic filesystem commit (the transition order writeCommitFile
    // enforces), so a table whose FS head predates enablement has no
    // staged tail to miss. Staged entries replay exactly like deltas;
    // the classic `<v>.json` names appear whenever the next backfill
    // batch (or any ensureBackfilled caller) lands them.
    val listed = (p: Path) => ListedFile(byName(p.getName))
    val fsSeg = LogSegment(version, ckpt, keep.reverse, used.reverse,
      listedCheckpoint = ckpt.toSeq.flatMap(_.files(logPath)).map(listed),
      listedTail = keep.reverse.map(v => listed(FileNames.deltaFile(logPath, v))) ++
        used.reverse.map { case (s, e) => listed(FileNames.compactedFile(logPath, s, e)) })
    val fsSnap = snapshotOf(fsSeg)
    val staged = CoordinatedCommits.coordinatorFor(this, fsSnap.metadataOpt)
      .map { c =>
        var pend = CoordinatedCommits.pendingAfter(this, c, version)
        versionBound.foreach(b => pend = pend.takeWhile(_._1 <= b))
        pend
      }
      .getOrElse(Nil)
    if (staged.isEmpty) fsSnap
    else snapshotOf(fsSeg.copy(version = staged.last._1, staged = staged))
  }

  /** Opened checkpoints, most recently used last: each entry is read
    * once (see [[CheckpointState]]) and serves every Snapshot over that
    * checkpoint. Keyed by the instance and its files' listed lengths and
    * mtimes, so a table deleted and recreated at this path never matches
    * an old entry.
    */
  private val checkpointStates =
    new java.util.LinkedHashMap[(CheckpointInstance, Seq[ListedFile]), CheckpointState](
      16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[
          (CheckpointInstance, Seq[ListedFile]), CheckpointState]): Boolean =
        size() > DeltaLog.MaxOpenCheckpoints
    }

  private[delta] def checkpointState(ci: CheckpointInstance,
      listed: Seq[ListedFile]): CheckpointState = {
    val key = (ci, listed)
    checkpointStates.synchronized(Option(checkpointStates.get(key))).getOrElse {
      val st = CheckpointState.load(spark, logPath, ci)
      checkpointStates.synchronized(checkpointStates.put(key, st))
      st
    }
  }


  /** Minor log compaction (open spec `<s>.<e>.compacted.json`): write the
    * RECONCILED actions of versions [start, end] into one file — per-path
    * latest file action (within one version an add beats a remove),
    * latest metadata/protocol, latest SetTransaction per app, latest
    * DomainMetadata per domain; CommitInfo/CDC excluded (per-version
    * facts, served by the raw deltas, which compaction never deletes).
    * Replay then opens O(compactions) files instead of O(versions) on a
    * long tail between checkpoints — the cheap mid-point between raw
    * replay and a full checkpoint. Idempotent: the name is the range, a
    * concurrent writer of the same range loses the put-if-absent and
    * reads the winner's identical content.
    */
  def compactDeltas(start: Long, end: Long): Unit = {
    require(0 <= start && start < end, s"bad compaction range [$start, $end]")
    val target = FileNames.compactedFile(logPath, start, end)
    if (store.exists(target)) return
    // driver-side reconciliation: a maintenance op over a bounded range
    // (the tail between checkpoints); huge overwrite commits within the
    // range collapse to their final per-path action
    val files = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Int, Action)]
    var md: Option[Metadata] = None
    var proto: Option[Protocol] = None
    val txns = scala.collection.mutable.LinkedHashMap.empty[String, SetTransaction]
    val domains = scala.collection.mutable.LinkedHashMap.empty[String, DomainMetadata]
    (start to end).foreach { v =>
      store.read(FileNames.deltaFile(logPath, v)).flatMap(Actions.fromJson).foreach {
        case a: AddFile =>
          files(a.path) = (v, 1, a)
        case r: RemoveFile =>
          // same-version add wins (atomic replace), later versions win
          files.get(r.path) match {
            case Some((pv, isAdd, _)) if pv == v && isAdd == 1 => ()
            case _ => files(r.path) = (v, 0, r)
          }
        case m: Metadata => md = Some(m)
        case p: Protocol => proto = Some(p)
        case t: SetTransaction => txns(t.appId) = t
        case dm: DomainMetadata => domains(dm.domain) = dm
        case _ => () // CommitInfo / AddCDCFile stay per-version
      }
    }
    val out: Iterator[Action] =
      proto.iterator ++ md.iterator ++ txns.valuesIterator ++
        domains.valuesIterator ++ files.valuesIterator.map(_._3)
    try store.write(target, out.map(Actions.toJson))
    catch { case _: FileAlreadyExistsException => () }
  }

  /** Version checksum (`<v>.crc`, delta-spark's convention, subset of its
    * fields): `{"tableSizeBytes":B,"numFiles":N,"txnId":...}` recording
    * the table's post-commit aggregate state. Maintained INCREMENTALLY
    * (previous crc + this commit's add/remove tallies — no per-commit
    * state aggregation), so `numFiles`/`sizeInBytes` answers (DESCRIBE
    * DETAIL) are O(1) reads at any table size. A gap (missing
    * predecessor, or removes without sizes) heals with one distributed
    * aggregation over the file state. Best-effort: failures never fail
    * the durable commit.
    */
  private[delta] def writeChecksum(version: Long,
      addFiles: Long, addBytes: Long,
      removeFiles: Long, removeBytes: Option[Long]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
    val prev: Option[(Long, Long)] =
      if (version == 0) Some((0L, 0L)) else readChecksum(version - 1)
    val incremental = (prev, removeBytes) match {
      case (Some((pf, pb)), Some(rb)) =>
        Some((pf + addFiles - removeFiles, pb + addBytes - rb))
      case _ => None
    }
    val (nf, sz) = incremental.getOrElse {
      val s = update()
      if (s.version != version) return // a newer commit owns the next crc
      val r = s.activeFilesDF
        .agg(count(lit(1)), coalesce(sum("size"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    val json = s"""{"tableSizeBytes":$sz,"numFiles":$nf}"""
    try store.write(FileNames.checksumFile(logPath, version), Iterator(json))
    catch { case _: FileAlreadyExistsException => () }
  }

  /** (numFiles, tableSizeBytes) from `<v>.crc`, if present and sane. */
  private[graft] def readChecksum(version: Long): Option[(Long, Long)] = {
    val p = FileNames.checksumFile(logPath, version)
    if (!store.exists(p)) return None
    try {
      val n = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(store.read(p).mkString)
      val nf = n.get("numFiles"); val sz = n.get("tableSizeBytes")
      if (nf == null || sz == null) None else Some((nf.asLong(), sz.asLong()))
    } catch { case _: Exception => None }
  }

  /** Write a checkpoint for the given snapshot + update `_last_checkpoint`
    * (cf. reference `checkpoint.go:247` checkpoint, `checkpoint_writer.go`).
    * Returns true iff a checkpoint was actually written — the
    * checkpointProtection gate can make this a no-op, and callers that
    * are about to delete history MUST check (a silent skip followed by
    * an unconditional sweep would destroy the only replayable log).
    */
  private[delta] def checkpoint(s: Snapshot): Boolean = {
    // checkpointProtection: no checkpoints below the boundary — state
    // there may have been written under protocols this writer does not
    // fully understand (the DROP FEATURE ... TRUNCATE HISTORY guard)
    val protV = s.metadataOpt
      .map(DeltaConfig.RequireCheckpointProtectionBeforeVersion.fromMetadata)
      .getOrElse(0L)
    if (s.version < protV) return false
    val policy = s.metadataOpt
      .map(DeltaConfig.CheckpointPolicy.fromMetadata).getOrElse("classic")
    if (policy == "v2") checkpointV2(s) else checkpointClassic(s)
    reconcileChecksum(s)
    true
  }

  /** Verify the incremental crc against the snapshot's aggregated state
    * and heal it when drifted. The per-commit arithmetic in
    * [[writeChecksum]] assumes every AddFile is a new path and every
    * RemoveFile hits a live file; a commit that re-adds an active path
    * (or re-removes a tombstoned one) silently drifts numFiles /
    * tableSizeBytes. Checkpoint time already pays one full state
    * aggregation, so the exact recount is free here — and subsequent
    * incremental crcs build on the healed value. Best-effort, like all
    * crc writes.
    */
  private def reconcileChecksum(s: Snapshot): Unit =
    try {
      import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
      val r = s.activeFilesDF
        .agg(count(lit(1)), coalesce(sum("size"), lit(0L))).head()
      val exact = (r.getLong(0), r.getLong(1))
      if (!readChecksum(s.version).contains(exact)) {
        val json =
          s"""{"tableSizeBytes":${exact._2},"numFiles":${exact._1}}"""
        store.write(FileNames.checksumFile(logPath, s.version),
          Iterator(json), overwrite = true)
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** `delta.checkpoint.writeStatsAsStruct`: materialize each AddFile's
    * stats JSON as a parsed `add.stats_parsed` struct in the checkpoint,
    * so scan planning skips on native parquet columns instead of
    * JSON-parsing 10^7 stats strings per query. No-op when off.
    */
  private def withParsedStats(s: Snapshot,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, from_json}
    parsedStatsType(s) match {
      case Some(statsType) =>
        // withField on a null add yields null; from_json(null) is null
        val withStruct = df.withColumn("add",
          col("add").withField("stats_parsed", from_json(col("add.stats"), statsType)))
        // writeStatsAsJson=false: the struct is the source of truth, the
        // JSON string is redundant checkpoint weight — drop it (readers
        // reconstruct it lazily from the struct)
        if (DeltaConfig.WriteStatsAsJson.fromMetadata(s.metadata)) withStruct
        else withStruct.withColumn("add",
          col("add").withField("stats",
            org.apache.spark.sql.functions.lit(null).cast("string")))
      case None => df
    }
  }

  /** The `add.stats_parsed` type a checkpoint of `s` writes, if any. */
  private def parsedStatsType(s: Snapshot): Option[org.apache.spark.sql.types.StructType] =
    s.metadataOpt.filter(DeltaConfig.WriteStatsAsStruct.fromMetadata).map(md =>
      // stats JSON is keyed by PHYSICAL names under column mapping
      Stats.statsSchema(ColumnMapping.physicalSchema(md), md.partitionColumns))

  /** Open the checkpoint just written at `ci` with what it holds, so the
    * first snapshot over it runs no Spark job. A checkpoint that dropped
    * the stats JSON is left to open cold: its readers rebuild the JSON
    * from the struct, which need not match this snapshot's string byte
    * for byte.
    */
  private def seedWritten(s: Snapshot, ci: CheckpointInstance, sidecars: Seq[String],
      content: ReplayState): Unit =
    if (s.metadataOpt.forall(DeltaConfig.WriteStatsAsJson.fromMetadata)) {
      val fs = logPath.getFileSystem(spark.sessionState.newHadoopConf())
      val key = (ci, ci.files(logPath).map(p => ListedFile(fs.getFileStatus(p))))
      val st = CheckpointState.written(spark, logPath, ci, parsedStatsType(s), sidecars, content)
      checkpointStates.synchronized(checkpointStates.put(key, st))
    }

  /** V2 checkpoint (open `v2Checkpoint` table feature): one small
    * MANIFEST (`<v>.checkpoint.<uuid>.parquet` — non-file actions +
    * SidecarFile references + CheckpointMetadata) plus SIDECAR parquet
    * files under `_delta_log/_sidecars/`, each holding one hash bucket of
    * the file actions.
    *
    * The scale property this buys over classic/multi-part: INCREMENTAL
    * REUSE. Sidecar names encode (bucketing, bucket, content
    * fingerprint); a bucket whose file set did not change since the last
    * checkpoint produces the same name, and the existing file is
    * referenced instead of rewritten. A 10^7-file table that appended to
    * one partition re-fingerprints (one metadata aggregation) but
    * rewrites only the touched buckets — checkpoint write I/O is
    * O(changed buckets), not O(table files).
    */
  private def checkpointV2(s: Snapshot): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Encoders
    val fs = logPath.getFileSystem(spark.sessionState.newHadoopConf())
    val numBuckets = math.max(1,
      DeltaConfig.CheckpointNumSidecars.fromMetadata(s.metadata))
    val scDir = FileNames.sidecarDir(logPath)
    fs.mkdirs(scDir)
    // the manifest always names a protocol
    val content = s.checkpointContent.copy(protocol = Some(s.protocol))
    // bucket + order-independent content fingerprint, one aggregation
    val fileRows = withParsedStats(s, s.checkpointActionsDF(content))
      .where(col("add").isNotNull || col("remove").isNotNull)
      .withColumn("__b", pmod(xxhash64(coalesce(col("add.path"), col("remove.path"))),
        lit(numBuckets)).cast("int"))
    // order-independent content fingerprint: decimal sum of per-row
    // hashes (no ANSI overflow) + row count
    val fps: Map[Int, String] = fileRows
      .withColumn("__h", xxhash64(to_json(struct(col("add"), col("remove"))))
        .cast("decimal(38,0)"))
      .groupBy(col("__b")).agg(sum(col("__h")).as("s"), count(lit(1)).as("c"))
      .collect()
      .map(r => r.getInt(0) ->
        s"p${r.getDecimal(1).toBigInteger.toString(36).replace("-", "m")}c${r.getLong(2)}")
      .toMap
    def sidecarName(b: Int): String = s"sidecar-$numBuckets-$b-${fps(b)}.parquet"
    def writeBuckets(buckets: Seq[Int]): Unit = {
      if (buckets.isEmpty) return
      val tmpDir = new Path(logPath, s".ckpt-v2-${java.util.UUID.randomUUID}")
      fileRows.filter(col("__b").isin(buckets.map(Int.box): _*))
        .repartition(buckets.length, col("__b"))
        .write.partitionBy("__b").mode("overwrite").parquet(tmpDir.toString)
      buckets.foreach { b =>
        val dir = new Path(tmpDir, s"__b=$b")
        val part = fs.listStatus(dir).map(_.getPath)
          .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
        require(part.length == 1, s"expected one sidecar part for bucket $b, got ${part.length}")
        val dst = new Path(scDir, sidecarName(b))
        if (!fs.rename(part.head, dst) && !fs.exists(dst))
          throw new java.io.IOException(s"failed to place sidecar $dst")
      }
      fs.delete(tmpDir, true)
    }
    // a fingerprint-named file already on disk IS the bucket's content:
    // reuse it; write only the buckets whose fingerprint is new
    writeBuckets(fps.keys.filter(b => !fs.exists(new Path(scDir, sidecarName(b)))).toSeq)
    // manifest: non-file actions + sidecar references + checkpoint marker
    val meta = s.metadataOpt
    val sidecarActions = fps.keys.toSeq.sorted.map { b =>
      val p = new Path(scDir, sidecarName(b))
      // a concurrent writer's orphan sweep may delete a reused sidecar
      // between the reuse check and here; the name is content-addressed,
      // so rewriting the bucket reproduces the file byte-identically
      val st = try fs.getFileStatus(p) catch {
        case _: java.io.FileNotFoundException => writeBuckets(Seq(b)); fs.getFileStatus(p)
      }
      SidecarFile(sidecarName(b), st.getLen, st.getModificationTime).wrap
    }
    val manifestRows: Seq[SingleAction] =
      Seq(CheckpointMetadata(s.version).wrap) ++
        content.protocol.map(_.wrap) ++
        meta.map(_.wrap).toSeq ++
        content.txns.values.map(_.wrap) ++
        content.domains.values.map(_.wrap) ++
        sidecarActions
    val uuid = java.util.UUID.randomUUID.toString.replace("-", "")
    val tmpM = new Path(logPath, s".ckpt-v2m-${java.util.UUID.randomUUID}")
    spark.createDataset(manifestRows)(Encoders.product[SingleAction])
      .coalesce(1).write.mode("overwrite").parquet(tmpM.toString)
    val mPart = fs.listStatus(tmpM).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
    require(mPart.length == 1, s"expected one manifest part, got ${mPart.length}")
    val manifest = FileNames.v2CheckpointFile(logPath, s.version, uuid)
    if (!fs.rename(mPart.head, manifest))
      throw new java.io.IOException(s"failed to place v2 manifest $manifest")
    fs.delete(tmpM, true)
    // close the reuse race: once the manifest is visible, any sidecar it
    // references must exist. Rewrite (content-addressed, idempotent) any
    // bucket a concurrent sweep deleted before the manifest landed.
    writeBuckets(fps.keys.toSeq.filter(b => !fs.exists(new Path(scDir, sidecarName(b)))))
    val size = fs.getFileStatus(manifest).getLen +
      sidecarActions.map(_.sidecar.sizeInBytes).sum
    seedWritten(s, CheckpointInstance(s.version, None, Some(uuid)),
      sidecarActions.map(_.sidecar.path), content)
    Checkpoints.writeLastCheckpoint(store, logPath,
      CheckpointMetaData(s.version, size, None, Some(uuid)))
    cleanUpExpiredLogs(s)
  }

  private def checkpointClassic(s: Snapshot): Unit = {
    val fs = logPath.getFileSystem(spark.sessionState.newHadoopConf())
    val tmpDir = new Path(logPath, s".ckpt-${java.util.UUID.randomUUID}")
    // multi-part (A17): delta.checkpoint.partSize = max actions per part
    val partSize = s.metadataOpt
      .flatMap(md => DeltaConfig.CheckpointPartSize.fromMetadata(md))
    val content = s.checkpointContent
    val df = withParsedStats(s, s.checkpointActionsDF(content))
    val numParts = partSize match {
      case None => 1
      case Some(ps) => math.max(1, math.ceil(df.count().toDouble / ps).toInt)
    }
    df.repartition(numParts).write.mode("overwrite").parquet(tmpDir.toString)
    val parts = fs.listStatus(tmpDir).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    if (parts.isEmpty)
      throw new IllegalStateException(s"no checkpoint part written in $tmpDir")
    val instance =
      if (numParts == 1) CheckpointInstance(s.version, None)
      else CheckpointInstance(s.version, Some(parts.length))
    val targets = instance.files(logPath)
    require(targets.length == parts.length,
      s"expected ${targets.length} checkpoint parts, got ${parts.length}")
    parts.zip(targets).foreach { case (src, dst) =>
      if (fs.exists(dst)) fs.delete(dst, false)
      fs.rename(src, dst)
    }
    fs.delete(tmpDir, true)
    val size = targets.map(t => fs.getFileStatus(t).getLen).sum
    seedWritten(s, instance, Nil, content)
    Checkpoints.writeLastCheckpoint(store, logPath,
      CheckpointMetaData(s.version, size, instance.numParts))
    cleanUpExpiredLogs(s)
  }

  /** Delete log files made redundant by the checkpoint just written at
    * `s.version`, once past `delta.logRetentionDuration` (gated by
    * `delta.enableExpiredLogCleanup`). The reference declares the config
    * (`config.go:84`) and leaves the sweep as a TODO
    * (`checkpoint.go:273` doLogCleanup); real Delta implementations run
    * it exactly here. Only versions strictly below the new checkpoint are
    * candidates — their state is fully captured by it — so time travel
    * earlier than the checkpoint stops working, by design.
    */
  private[delta] def cleanUpExpiredLogs(s: Snapshot): Unit = {
    val md = s.metadataOpt.getOrElse(return)
    if (!DeltaConfig.EnableExpiredLogCleanup.fromMetadata(md)) return
    val cutoff = clock.nowMillis - DeltaConfig.LogRetention.fromMetadata(md)
    // list from "<0>.": it sorts before every log-file shape (compacted
    // "<v>.<e>.compacted.json", checkpoint "<v>.checkpoint…", delta
    // "<v>.json"), so version-0 artifacts of all three kinds are swept
    val statuses =
      try store.listFrom(new Path(logPath, f"${0L}%020d.")).toSeq
      catch { case _: java.io.FileNotFoundException => return }
    val (ckptParts, rest) = statuses.partition(st => FileNames.isCheckpointFile(st.getPath))
    // checkpointProtection: the region [0, protV) must go ATOMICALLY —
    // all of it (possible only when every delta below protV is expired
    // and the covering checkpoint at s.version >= protV exists) or none
    // of it. A partial sweep would leave a log whose replay starts
    // inside a region that must only ever be summarized whole.
    val protV = DeltaConfig.RequireCheckpointProtectionBeforeVersion
      .fromMetadata(md)
    val wholeRegionExpired = protV <= 0L || (protV <= s.version &&
      rest.forall { st =>
        !(FileNames.isDeltaFile(st.getPath) &&
          FileNames.deltaVersion(st.getPath) < protV &&
          st.getModificationTime > cutoff)
      })
    def protectedVersion(v: Long): Boolean = !wholeRegionExpired && v < protV
    rest.foreach { st =>
      val p = st.getPath
      if (st.getModificationTime <= cutoff && FileNames.isDeltaFile(p) &&
          FileNames.deltaVersion(p) < s.version &&
          !protectedVersion(FileNames.deltaVersion(p)))
        store.delete(p)
      // a compacted file goes when its whole RANGE is below the snapshot
      // (same condition as the raw deltas it substitutes)
      if (st.getModificationTime <= cutoff && FileNames.isCompactedFile(p) &&
          FileNames.compactedRange(p)._2 < s.version &&
          !protectedVersion(FileNames.compactedRange(p)._2))
        store.delete(p)
      // version checksums expire with their deltas
      if (st.getModificationTime <= cutoff && FileNames.isChecksumFile(p) &&
          p.getName.stripSuffix(".crc").toLong < s.version &&
          !protectedVersion(p.getName.stripSuffix(".crc").toLong))
        store.delete(p)
    }
    // sweep a checkpoint all-or-nothing: a cutoff straddling a multi-part
    // checkpoint's mtimes must not leave a partial (unusable) survivor
    ckptParts.groupBy(st => FileNames.checkpointVersion(st.getPath)).foreach {
      case (v, parts) if v < s.version && !protectedVersion(v) &&
          parts.forall(_.getModificationTime <= cutoff) =>
        parts.foreach(st => store.delete(st.getPath))
      case _ =>
    }
    sweepOrphanSidecars(cutoff)
  }

  /** TRUNCATE HISTORY (the DROP FEATURE companion): checkpoint the
    * current snapshot, then delete EVERY log artifact strictly below it
    * regardless of retention age — the explicit opt-in that makes
    * dropping a reader+writer feature sound, because historical commits
    * that used the feature stop being replayable at all. Time travel
    * before `s.version` is gone afterwards, by definition.
    */
  private[delta] def truncateHistory(s: Snapshot): Unit = {
    // The sweep below is unconditional — so the covering checkpoint at
    // s.version must EXIST before anything is deleted. checkpoint() can
    // silently decline (checkpointProtection boundary above the current
    // version); deleting history in that state would leave the table
    // permanently unreadable. Abort loudly instead.
    val wrote = checkpoint(s)
    val covered = wrote || Checkpoints.completeCheckpoints(store, logPath)
      .exists(_.version == s.version)
    require(covered,
      s"TRUNCATE HISTORY aborted: no checkpoint exists at version " +
      s"${s.version} and one could not be written (" +
      s"delta.requireCheckpointProtectionBeforeVersion=" +
      s"${s.metadataOpt.map(DeltaConfig.RequireCheckpointProtectionBeforeVersion.fromMetadata).getOrElse(0L)} " +
      s"> ${s.version}?). Deleting history without a covering checkpoint " +
      "would make the table unreadable.")
    val statuses =
      try store.listFrom(new Path(logPath, f"${0L}%020d."))
      catch { case _: java.io.FileNotFoundException => return }
    statuses.foreach { st =>
      val p = st.getPath
      val doomed =
        (FileNames.isDeltaFile(p) && FileNames.deltaVersion(p) < s.version) ||
        (FileNames.isCompactedFile(p) && FileNames.compactedRange(p)._2 < s.version) ||
        (FileNames.isChecksumFile(p) &&
          p.getName.stripSuffix(".crc").toLong < s.version) ||
        (FileNames.isCheckpointFile(p) && FileNames.checkpointVersion(p) < s.version)
      if (doomed) store.delete(p)
    }
  }

  /** Delete `_sidecars/` files no surviving v2 manifest references and
    * past the retention cutoff. Incremental reuse means a sidecar's
    * lifetime spans checkpoints, so it can only go when every manifest
    * that named it has been swept.
    */
  private def sweepOrphanSidecars(cutoff: Long): Unit = {
    val fs = logPath.getFileSystem(spark.sessionState.newHadoopConf())
    val scDir = FileNames.sidecarDir(logPath)
    if (!fs.exists(scDir)) return
    val manifests = Checkpoints.completeCheckpoints(store, logPath)
      .filter(_.v2Uuid.isDefined)
    import spark.implicits._
    val referenced: Set[String] =
      if (manifests.isEmpty) Set.empty
      else spark.read
        .parquet(manifests.flatMap(_.files(logPath)).map(_.toString): _*)
        .where($"sidecar".isNotNull).select($"sidecar.path").as[String]
        .collect().toSet
    fs.listStatus(scDir).foreach { st =>
      if (st.getModificationTime <= cutoff && !referenced(st.getPath.getName))
        fs.delete(st.getPath, false)
    }
  }
}

object DeltaLog {
  /** Test hook mirroring the reference's injectable `clock.go` Clock. */
  @volatile private[delta] var clockOverride: Option[Clock] = None

  /** Checkpoints a DeltaLog keeps open: the latest, plus a few older
    * ones that time travel revisits.
    */
  private val MaxOpenCheckpoints = 8

  // one DeltaLog per canonical table path per JVM (cf. the deltaLogCache
  // of every Delta implementation): concurrent same-process writers share
  // the snapshot cache and the update() lock
  private val cache = scala.collection.concurrent.TrieMap.empty[String, DeltaLog]

  def forTable(spark: SparkSession, dataPath: String): DeltaLog = {
    val p = new Path(dataPath)
    val key = p.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(p).toString
    cache.getOrElseUpdate(key, new DeltaLog(spark, p))
  }

  /** Drop the cached instance for a path (delta-spark's
    * `DeltaLog.invalidateCache`): required when the log directory is
    * replaced OUT OF BAND — e.g. an Iceberg table converted in place
    * after its original `_delta_log` was removed.
    */
  def invalidateCache(spark: SparkSession, dataPath: String): Unit = {
    val p = new Path(dataPath)
    val key = p.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(p).toString
    cache.remove(key)
    ()
  }
}

/** cf. reference `clock.go`. */
trait Clock { def nowMillis: Long }
object SystemClock extends Clock { def nowMillis: Long = System.currentTimeMillis() }

/** Typed failure surface (cf. reference `errno/`). */
object DeltaErrors {
  class DeltaConcurrentModificationException(msg: String) extends RuntimeException(msg)
  final class ConcurrentAppendException(msg: String) extends DeltaConcurrentModificationException(msg)
  final class ConcurrentDeleteReadException(msg: String) extends DeltaConcurrentModificationException(msg)
  final class ConcurrentDeleteDeleteException(msg: String) extends DeltaConcurrentModificationException(msg)
  final class MetadataChangedException(msg: String) extends DeltaConcurrentModificationException(msg)
  final class ProtocolChangedException(msg: String) extends DeltaConcurrentModificationException(msg)
  final class ConcurrentTransactionException(msg: String) extends DeltaConcurrentModificationException(msg)
  final class DomainMetadataChangedException(msg: String) extends DeltaConcurrentModificationException(msg)

  def versionNotExist(v: Long, earliest: Long, latest: Long) =
    new IllegalArgumentException(s"cannot time travel to version $v: available [$earliest, $latest]")
  def noReproducibleHistory(p: Path) =
    new IllegalStateException(s"no reproducible commits found at $p")
  def timestampEarlierThanTableFirstCommit(t: Long, first: Long) =
    new IllegalArgumentException(s"timestamp $t is before the earliest commit ($first)")
  def timestampLaterThanTableLastCommit(t: Long, last: Long) =
    new IllegalArgumentException(s"timestamp $t is after the latest commit ($last)")
  def dataLoss(expected: Long, found: Long) =
    new IllegalStateException(s"versions [$expected, $found) have been truncated")
}
