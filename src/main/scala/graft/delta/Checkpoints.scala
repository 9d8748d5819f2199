package graft.delta

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path

/** Delta log file naming (cf. reference `log.go`, `checkpoint.go`). */
object FileNames {
  def deltaFile(logPath: Path, version: Long): Path =
    new Path(logPath, f"$version%020d.json")
  def checkpointFile(logPath: Path, version: Long): Path =
    new Path(logPath, f"$version%020d.checkpoint.parquet")
  def checkpointPrefix(logPath: Path, version: Long): Path =
    new Path(logPath, f"$version%020d.checkpoint")
  def lastCheckpointFile(logPath: Path): Path =
    new Path(logPath, "_last_checkpoint")

  /** Add/Remove paths are percent-encoded relative URIs (or absolute
    * URIs) per the Delta protocol — decode before touching a filesystem.
    * Paths a pre-spec writer recorded RAW (e.g. a partition dir with a
    * literal space, which is not a legal URI) fall back to literal
    * resolution instead of failing the read.
    */
  def absolutePath(dataPath: Path, child: String): Path =
    try {
      val uri = new java.net.URI(child)
      // spec-legal ABSOLUTE URIs resolve as URIs (e.g.
      // s3://bucket/key?versionId=x). NOTE Hadoop Path preserves the
      // query/fragment only through Path.toUri — any Path.toString
      // stringification drops the query component (delta-spark shares
      // this quirk); callers that need a byte-exact round-trip of a
      // query-bearing path must carry the original string. Only a
      // RELATIVE child with '#' or '?' is a raw pre-spec path that
      // merely PARSES as a URI (fragment / query would silently drop
      // the tail) and falls back to literal resolution
      if (uri.isAbsolute) new Path(uri)
      else if (uri.getFragment != null || uri.getQuery != null)
        new Path(dataPath, child)
      else new Path(dataPath, new Path(uri))
    } catch {
      case _: java.net.URISyntaxException => new Path(dataPath, child)
    }

  /** True only for a spec-legal ABSOLUTE URI child. Total: a raw
    * pre-spec path with illegal URI characters (e.g. a literal space)
    * is by definition relative, not an error — callers used to crash on
    * `new URI(path)` for such logs.
    */
  def isAbsoluteUri(child: String): Boolean =
    try new java.net.URI(child).isAbsolute
    catch { case _: java.net.URISyntaxException => false }

  /** True when `child` does NOT resolve under the table root: a scheme'd
    * absolute URI (`file:/…`, `s3a://…`) or a scheme-less absolute
    * slash-path (`/data/…` — what Iceberg manifests record, so mirror /
    * in-place adoptions of outside-root files store this form). Both are
    * spec-legal add/remove paths; consumers that choose between the
    * `basePath` hive read and the log-attached partition-value read (or
    * between in-root and flattened copy targets) must branch on THIS,
    * not on [[isAbsoluteUri]] — a scheme-less absolute path fails
    * `URI.isAbsolute` but still escapes the root.
    */
  def isAbsolute(child: String): Boolean =
    child.startsWith("/") || isAbsoluteUri(child)

  /** Byte-exact string form of [[absolutePath]]. A spec-legal ABSOLUTE
    * URI child is returned VERBATIM: `absolutePath(..).toString` loses
    * the `?query` component (e.g. S3 `?versionId=`) because Hadoop Path
    * keeps a URI query only through `Path.toUri`. The verbatim string
    * survives `spark.read`/`new Path(String)` round-trips — the String
    * constructor treats `?` as an ordinary path character — so readers
    * on versioned object stores see the exact recorded bytes. Relative
    * children resolve exactly as [[absolutePath]].
    */
  def absolutePathString(dataPath: Path, child: String): String =
    (try {
      val uri = new java.net.URI(child)
      if (uri.isAbsolute) Some(child) else None
    } catch { case _: java.net.URISyntaxException => None })
      .getOrElse(absolutePath(dataPath, child).toString)

  /** Resolve `child` against the QUALIFIED table root and return its
    * slash-path ONLY when it actually lies under that root (same
    * scheme+authority, path-prefix containment). Spec-legal absolute-URI
    * children can point OUTSIDE the table — a shallow clone records the
    * source table's files verbatim — and a delete-path (VACUUM) that
    * resolves tombstones without this check would physically destroy
    * the SOURCE table's data. delta-spark's vacuum likewise skips any
    * candidate outside the table root.
    */
  def underTableRoot(qualifiedRoot: Path, child: String): Option[String] = {
    val u = absolutePath(qualifiedRoot, child).toUri
    val r = qualifiedRoot.toUri
    val schemeAuthOk =
      (u.getScheme == null && u.getAuthority == null) ||
      (u.getScheme == r.getScheme &&
        Option(u.getAuthority) == Option(r.getAuthority))
    val rp = Option(r.getPath).getOrElse("").stripSuffix("/")
    val p = Option(u.getPath).getOrElse("")
    if (schemeAuthOk && (p == rp || p.startsWith(rp + "/"))) Some(p) else None
  }

  /** Decode %XX escapes in a hive-escaped dir value WITHOUT form-decoding:
    * URLDecoder would also map a literal '+' (which hive does not escape)
    * to a space, corrupting the partition value.
    */
  def percentDecode(s: String): String =
    java.net.URLDecoder.decode(s.replace("+", "%2B"), "UTF-8")

  /** Percent-encode a writer-produced relative path for AddFile.path
    * (the inverse of [[absolutePath]]'s decode): hive-escaped dir names
    * may still contain spaces or raw `%`, which a URI must encode.
    */
  def encodeRelative(rel: String): String = new Path(rel).toUri.toString

  /** v2 manifest: `<version>.checkpoint.<uuid32hex>.parquet`. */
  def v2CheckpointFile(logPath: Path, version: Long, uuid: String): Path =
    new Path(logPath, f"$version%020d.checkpoint.$uuid.parquet")

  /** Sidecar directory of v2 checkpoints. */
  def sidecarDir(logPath: Path): Path = new Path(logPath, "_sidecars")

  def isDeltaFile(p: Path): Boolean = p.getName.matches("\\d{20}\\.json")
  /** Minor log compaction (open spec): reconciled actions of versions
    * [start, end] in one file, substituted for the raw deltas at replay.
    */
  def compactedFile(logPath: Path, start: Long, end: Long): Path =
    new Path(logPath, f"$start%020d.$end%020d.compacted.json")
  def isCompactedFile(p: Path): Boolean =
    p.getName.matches("\\d{20}\\.\\d{20}\\.compacted\\.json")
  def compactedRange(p: Path): (Long, Long) = {
    val parts = p.getName.split('.')
    (parts(0).toLong, parts(1).toLong)
  }

  /** Per-commit version checksum (delta's `<v>.crc` convention). */
  def checksumFile(logPath: Path, version: Long): Path =
    new Path(logPath, f"$version%020d.crc")
  def isChecksumFile(p: Path): Boolean = p.getName.matches("\\d{20}\\.crc")
  // v2 manifests: we write dash-stripped 32-hex uuids, but spec-conformant
  // manifests from other engines use dashed UUIDs — accept both forms
  private[delta] val V2Uuid = "[0-9a-f]{32}|[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
  def isCheckpointFile(p: Path): Boolean =
    p.getName.matches(s"\\d{20}\\.checkpoint(\\.\\d+\\.\\d+|\\.($V2Uuid))?\\.parquet")
  def deltaVersion(p: Path): Long = p.getName.stripSuffix(".json").toLong
  def checkpointVersion(p: Path): Long = p.getName.split('.').head.toLong
}

/** `_last_checkpoint` metadata (cf. reference `checkpoint.go:22`
  * CheckpointMetaDataJSON); `v2Uuid` extends it with the v2 manifest id.
  */
final case class CheckpointMetaData(version: Long, size: Long, parts: Option[Int],
    v2Uuid: Option[String] = None)

/** A checkpoint instance on disk; multi-part and v2 aware ordering
  * (cf. reference `checkpoint.go:30` CheckpointInstance).
  */
final case class CheckpointInstance(version: Long, numParts: Option[Int],
    v2Uuid: Option[String] = None)
    extends Ordered[CheckpointInstance] {
  /** Order by version; prefer v2 (newest format), then single-part. */
  override def compare(that: CheckpointInstance): Int =
    if (version != that.version) java.lang.Long.compare(version, that.version)
    else if (v2Uuid.isDefined != that.v2Uuid.isDefined)
      java.lang.Boolean.compare(v2Uuid.isDefined, that.v2Uuid.isDefined)
    else java.lang.Integer.compare(numParts.getOrElse(1), that.numParts.getOrElse(1))

  def files(logPath: Path): Seq[Path] = v2Uuid match {
    case Some(u) => Seq(FileNames.v2CheckpointFile(logPath, version, u))
    case None => numParts match {
      case None => Seq(FileNames.checkpointFile(logPath, version))
      case Some(n) => (1 to n).map(i =>
        new Path(logPath, f"$version%020d.checkpoint.$i%010d.$n%010d.parquet"))
    }
  }
}

object CheckpointInstance {
  def fromPath(p: Path): CheckpointInstance = {
    val parts = p.getName.split('.')
    // v.checkpoint.parquet | v.checkpoint.i.n.parquet | v.checkpoint.uuid.parquet
    if (parts.length == 3) CheckpointInstance(parts(0).toLong, None)
    else if (parts.length == 4 && parts(2).matches(FileNames.V2Uuid))
      CheckpointInstance(parts(0).toLong, None, Some(parts(2)))
    else CheckpointInstance(parts(0).toLong, Some(parts(3).toInt))
  }
}

/** `_last_checkpoint` IO + discovery of the latest complete checkpoint
  * (cf. reference `checkpoint.go:91` LastCheckpoint,
  * `checkpoint.go:156` FindLastCompleteCheckpoint).
  */
object Checkpoints {
  private val mapper = new ObjectMapper()

  def readLastCheckpoint(store: LogStore, logPath: Path): Option[CheckpointMetaData] = {
    val p = FileNames.lastCheckpointFile(logPath)
    if (!store.exists(p)) return None
    try {
      val n = mapper.readTree(store.read(p).mkString)
      Some(CheckpointMetaData(
        n.get("version").asLong(),
        if (n.has("size")) n.get("size").asLong() else -1L,
        if (n.has("parts") && !n.get("parts").isNull) Some(n.get("parts").asInt()) else None,
        if (n.has("v2Uuid") && !n.get("v2Uuid").isNull) Some(n.get("v2Uuid").asText()) else None))
    } catch { case _: Exception => None } // corrupt hint: fall back to listing
  }

  def writeLastCheckpoint(store: LogStore, logPath: Path, md: CheckpointMetaData): Unit = {
    val o = mapper.createObjectNode()
    o.put("version", md.version)
    o.put("size", md.size)
    md.parts.foreach(o.put("parts", _))
    md.v2Uuid.foreach(o.put("v2Uuid", _))
    store.write(FileNames.lastCheckpointFile(logPath),
      Iterator(mapper.writeValueAsString(o)), overwrite = true)
  }

  /** All complete checkpoint instances with version <= notLaterThan, from
    * a name-sorted listing of the log directory, sorted ascending. A
    * multi-part checkpoint counts only if all n parts are present.
    */
  def completeCheckpoints(
      store: LogStore, logPath: Path, notLaterThan: Long = Long.MaxValue): Seq[CheckpointInstance] = {
    val statuses =
      try store.listFrom(FileNames.checkpointPrefix(logPath, 0))
      catch { case _: java.io.FileNotFoundException => return Nil }
    completeCheckpoints(statuses.map(_.getPath), notLaterThan)
  }

  /** [[completeCheckpoints]] over an existing listing of the log. */
  def completeCheckpoints(listed: Seq[Path], notLaterThan: Long): Seq[CheckpointInstance] = {
    val instances = listed
      .filter(FileNames.isCheckpointFile)
      .map(CheckpointInstance.fromPath)
      .filter(_.version <= notLaterThan)
    val byKey = instances.groupBy(i => (i.version, i.numParts, i.v2Uuid))
    byKey.collect {
      case ((_, _, Some(_)), is) => is.head // v2: manifest presence = complete
      case ((_, None, _), is) => is.head
      case ((_, Some(n), _), is) if is.size == n => is.head
    }.toSeq.sorted
  }

  /** Latest complete checkpoint instance with version <= notLaterThan. */
  def latestCompleteCheckpoint(
      store: LogStore, logPath: Path, notLaterThan: Long = Long.MaxValue): Option[CheckpointInstance] =
    completeCheckpoints(store, logPath, notLaterThan).lastOption
}
