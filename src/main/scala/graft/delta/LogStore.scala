package graft.delta

import java.io.{BufferedReader, InputStreamReader, IOException}
import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}

/** Ordered, atomic log storage contract
  * (cf. reference `store/store.go` Store interface):
  *
  *  - '''Atomic visibility''': when [[isPartialWriteVisible]] is false,
  *    a written file becomes visible all-at-once, never partially.
  *  - '''Mutual exclusion''': `write(path, lines, overwrite = false)` is
  *    put-if-absent — exactly one writer can create a given path; losers
  *    get [[FileAlreadyExistsException]].
  *  - '''Consistent listing''': `listFrom` sees every completed write.
  *
  * Implementations: [[HadoopLogStore]] for filesystems whose rename is
  * atomic (file://, hdfs://, abfs://, gs://) and [[ExternalLogStore]]
  * for stores without atomic create-if-absent (s3a://), which borrow
  * mutual exclusion from an external [[CommitCoordinator]].
  */
trait LogStore extends Serializable {
  def read(path: Path): Seq[String]

  /** First line only — commits put CommitInfo on line 1, so commit-info
    * probes (in-commit timestamps, history) need not read whole files.
    */
  def readHead(path: Path): Option[String] = read(path).headOption

  /** Entries in path's directory with name >= path's name, name-sorted. */
  def listFrom(path: Path): Seq[FileStatus]

  def exists(path: Path): Boolean

  /** Put-if-absent unless overwrite (cf. reference `store/store.go` Write). */
  def write(path: Path, lines: Iterator[String], overwrite: Boolean = false): Unit

  def delete(path: Path, recursive: Boolean = false): Boolean

  /** cf. reference `store/store.go` IsPartialWriteVisible. */
  def isPartialWriteVisible(path: Path): Boolean = false
}

object LogStore {
  private[delta] val localFsLock = new Object

  /** Resolve the store for a table path. `spark.graft.logStore.impl` (a
    * FQCN with a `(Configuration)` constructor) overrides; the default is
    * scheme-driven: s3/s3a get the external-coordination store when
    * `spark.graft.logStore.coordinator` names one, everything with an
    * atomic rename gets [[HadoopLogStore]]. Mirrors the reference's
    * scheme dispatch in `store/store.go:79` New.
    */
  def forTable(spark: org.apache.spark.sql.SparkSession, tablePath: Path): LogStore = {
    val conf = spark.sessionState.newHadoopConf()
    val sqlConf = spark.conf
    sqlConf.getOption("spark.graft.logStore.impl") match {
      case Some(cls) =>
        Class.forName(cls).getConstructor(classOf[Configuration])
          .newInstance(conf).asInstanceOf[LogStore]
      case None =>
        val scheme = Option(tablePath.toUri.getScheme).getOrElse("file")
        val coordinator = sqlConf.getOption("spark.graft.logStore.coordinator")
        if (Set("s3", "s3a", "s3n").contains(scheme))
          coordinator match {
            case Some(name) =>
              new ExternalLogStore(conf, InMemoryCommitCoordinator.named(name))
            case None => throw new IllegalArgumentException(
              s"scheme $scheme has no atomic put-if-absent; configure " +
                "spark.graft.logStore.coordinator (external coordination) or " +
                "spark.graft.logStore.impl (a conditional-write LogStore)")
          }
        else new HadoopLogStore(conf)
    }
  }
}

/** Hadoop-`FileSystem` store for schemes whose `rename(NONE)` is atomic:
  * file://, hdfs://, and hierarchical-namespace object stores
  * (abfs://, gs://). One implementation covers what the reference
  * hand-rolls per store (`store/local.go`, `store/azure.go`,
  * `store/gcs.go`) — credentials, retry and listing come from the
  * cluster's Hadoop config for free. NOT safe for s3a:// multi-driver
  * commits; use [[ExternalLogStore]] there.
  */
class HadoopLogStore(hadoopConf: Configuration) extends LogStore {

  @transient private lazy val fcCache =
    scala.collection.concurrent.TrieMap.empty[String, FileContext]

  protected def fs(path: Path): FileSystem = path.getFileSystem(hadoopConf)
  private def fc(path: Path): FileContext =
    fcCache.getOrElseUpdate(
      Option(path.toUri.getScheme).getOrElse("file"),
      FileContext.getFileContext(path.toUri, hadoopConf))

  def read(path: Path): Seq[String] = {
    val in = fs(path).open(path)
    try {
      val r = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
      val out = ArrayBuffer.empty[String]
      var line = r.readLine()
      while (line != null) { out += line; line = r.readLine() }
      out.toSeq
    } finally in.close()
  }

  override def readHead(path: Path): Option[String] = {
    val in = fs(path).open(path)
    try {
      val r = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
      Option(r.readLine())
    } finally in.close()
  }

  def listFrom(path: Path): Seq[FileStatus] = {
    val dir = path.getParent
    val f = fs(path)
    if (!f.exists(dir)) throw new java.io.FileNotFoundException(dir.toString)
    f.listStatus(dir)
      .filter(_.getPath.getName >= path.getName)
      .sortBy(_.getPath.getName)
      .toSeq
  }

  def exists(path: Path): Boolean = fs(path).exists(path)

  /** Put-if-absent unless overwrite: write temp file, atomic rename. */
  def write(path: Path, lines: Iterator[String], overwrite: Boolean = false): Unit = {
    val f = fs(path)
    f.mkdirs(path.getParent)
    val temp = new Path(path.getParent, s".${path.getName}.${UUID.randomUUID}.tmp")
    try {
      val out = f.create(temp, true)
      try {
        lines.foreach { l =>
          out.write(l.getBytes(StandardCharsets.UTF_8))
          out.write('\n')
        }
      } finally out.close()
      if (overwrite) {
        fc(path).rename(temp, path, Options.Rename.OVERWRITE)
      } else {
        // local fs rename(NONE) has a check-then-rename window; serialize
        // same-JVM writers (matches local[*] reality; HDFS is atomic)
        val doRename = () =>
          try fc(path).rename(temp, path, Options.Rename.NONE)
          catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException |
                _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(path.toString)
            case e: IOException if f.exists(path) =>
              throw new FileAlreadyExistsException(path.toString)
          }
        if (Option(path.toUri.getScheme).forall(_ == "file"))
          LogStore.localFsLock.synchronized {
            if (f.exists(path)) throw new FileAlreadyExistsException(path.toString)
            doRename()
          }
        else doRename()
      }
    } finally {
      if (f.exists(temp)) f.delete(temp, false)
    }
  }

  def delete(path: Path, recursive: Boolean = false): Boolean =
    fs(path).delete(path, recursive)
}

class FileAlreadyExistsException(path: String)
  extends IOException(s"target file already exists: $path")
