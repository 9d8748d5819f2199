package graft.delta

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Merge-on-read DELETE (deletion vectors): instead of rewriting every
  * file that contains matching rows, a DELETE writes per-file deletion
  * vectors and commits remove+re-add of the SAME data file with a DV
  * descriptor attached. Reads apply the DV as an anti-join on parquet
  * row identity (`_metadata.file_path`/`row_index`); OPTIMIZE
  * materializes the deletes and drops the descriptors.
  *
  * The on-disk format is the open Delta protocol one, so stock Delta
  * readers can consume tables this engine deletes from: the descriptor
  * is the `deletionVector` struct on Add/RemoveFile (storageType "u"
  * with a Z85 UUID path, "p" absolute, "i" inline), the payload a
  * roaring-bitmap-array ([[RoaringBitmapArray]]) framed as
  * `version byte 1 | per DV: 4-byte BE length, bitmap bytes, 4-byte BE
  * CRC-32`, and attaching the first DV upgrades the table to
  * reader 3 / writer 7 with the `deletionVectors` table feature.
  * Tables written by older graft versions carried the descriptor in
  * `AddFile.tags` with a parquet row-id sidecar; those remain readable
  * (the tags surface as a descriptor with the internal storage type
  * [[DeletionVectors.LegacyParquet]]) and their DVs are migrated to the
  * protocol format on the next DELETE that touches the file.
  *
  * Scale shape: DV files are written by executors — one packed `.bin`
  * per shuffle partition holding every touched file's bitmap at an
  * offset, exactly the protocol's multi-DV packing — and decoded by
  * executors at read. The DV side of the read anti-join is broadcast
  * when the summed descriptor cardinality (known driver-side for free)
  * is small, and falls back to a shuffled anti-join when it is not.
  * DV volume is bounded by compaction cadence: OPTIMIZE drains it.
  */
object DeletionVectors {

  /** Legacy AddFile.tags keys (pre-protocol-format graft tables). */
  val PathTag = "graft.dv.path"
  val CardinalityTag = "graft.dv.cardinality"

  /** Internal storage type materialized from legacy tags — never
    * written to the log.
    */
  val LegacyParquet = "legacy-parquet"

  /** Directory prefix packed DV files live under. Encoded into the
    * descriptor's pathOrInlineDv ahead of the UUID, so stock readers
    * derive the same `<prefix>/deletion_vector_<uuid>.bin` path.
    */
  private[delta] val DvPrefix = "_deletion_vectors"

  /** Above this many total deleted rows the read-side anti-join shuffles
    * instead of broadcasting the DV set.
    */
  private val BroadcastRowLimit = 4L * 1000 * 1000

  /** Serialized bitmaps at or under this many bytes are stored INLINE in
    * the descriptor (storageType "i", Z85-encoded) instead of a payload
    * file — a single-row DELETE then costs zero extra object-store
    * writes, and every later read of that file skips a GET round trip.
    */
  private val InlineLimit = 256

  def descriptor(f: AddFile): Option[DeletionVectorDescriptor] =
    descriptor(f.deletionVector, f.tags)

  /** The descriptor of a file action's `deletionVector` and `tags`. */
  def descriptor(dv: DeletionVectorDescriptor,
      tags: Map[String, String]): Option[DeletionVectorDescriptor] =
    Option(dv).orElse(
      Option(tags).flatMap(t => t.get(PathTag).map(p =>
        DeletionVectorDescriptor(LegacyParquet, p,
          cardinality = t.getOrElse(CardinalityTag, "0").toLong))))

  /** Attach a protocol-format descriptor, dropping any legacy tags. */
  def withDescriptor(f: AddFile, d: DeletionVectorDescriptor): AddFile =
    f.copy(deletionVector = d,
      tags = Option(f.tags).map(_ - PathTag - CardinalityTag)
        .filter(_.nonEmpty).orNull)

  /** On-disk location of a descriptor's payload. */
  def absolutePathOf(dataPath: Path, d: DeletionVectorDescriptor): Path =
    d.storageType match {
      case "u" =>
        val prefix = d.pathOrInlineDv.dropRight(20)
        val uuid = Z85.decodeUUID(d.pathOrInlineDv.takeRight(20))
        val dir = if (prefix.isEmpty) dataPath else new Path(dataPath, prefix)
        new Path(dir, s"deletion_vector_$uuid.bin")
      case "p" => new Path(d.pathOrInlineDv)
      case LegacyParquet => FileNames.absolutePath(dataPath, d.pathOrInlineDv)
      case other => throw new IllegalArgumentException(
        s"cannot resolve a path for DV storage type '$other'")
    }

  /** Payload file name, derivable without filesystem context (VACUUM's
    * referenced-set is built on executors from this).
    */
  def fileName(d: DeletionVectorDescriptor): String = d.storageType match {
    case "u" => s"deletion_vector_${Z85.decodeUUID(d.pathOrInlineDv.takeRight(20))}.bin"
    case "i" => "" // inline: no file
    case _ => d.pathOrInlineDv.split('/').last
  }

  /** Scheme-collapse for `_metadata.file_path` strings so file:/,
    * file:/// and plain absolute paths compare equal on both sides of
    * the DV join.
    */
  def normFp(c: Column): Column = regexp_replace(c, "^file:/+", "/")
  private def normFp(s: String): String = s.replaceFirst("^file:/+", "/")

  /** The (fp, ri) deleted-row identities of the given files' DVs, fp
    * normalized like the read side's `_metadata.file_path`. Decoding
    * runs on executors; legacy parquet sidecars and protocol bitmaps
    * union transparently.
    */
  def rowsDF(spark: SparkSession, dataPath: Path, files: Seq[AddFile]): Option[DataFrame] = {
    val withD = files.flatMap(f => descriptor(f).map(f -> _))
    if (withD.isEmpty) return None
    val (legacy, modern) = withD.partition(_._2.storageType == LegacyParquet)
    val legacyDF =
      if (legacy.isEmpty) None
      else Some(spark.read
        .schema("fp string, ri long")
        .parquet(legacy.map { case (_, d) =>
          absolutePathOf(dataPath, d).toString
        }: _*))
    val modernDF =
      if (modern.isEmpty) None
      else {
        import spark.implicits._
        val serConf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
        val items = modern.map { case (f, d) =>
          val fp = normFp(FileNames.absolutePathString(dataPath, f.path))
          val abs = if (d.storageType == "i") "" else absolutePathOf(dataPath, d).toString
          (fp, d.storageType, d.pathOrInlineDv, d.offset.getOrElse(0), d.sizeInBytes, abs)
        }
        Some(spark.createDataset(items)
          .repartition(math.min(items.size, 32))
          .flatMap { case (fp, st, inline, off, size, abs) =>
            val bytes =
              if (st == "i") Z85.decode(inline).take(size) // trim Z85 pad
              else readPayload(abs, off, size, serConf.value)
            RoaringBitmapArray.deserialize(bytes).values.map(ri => (fp, ri))
          }.toDF("fp", "ri"))
      }
    (legacyDF, modernDF) match {
      case (Some(l), Some(m)) => Some(l.unionByName(m))
      case (l, m) => l.orElse(m)
    }
  }

  /** One framed DV read out of a packed payload file, checksummed. */
  private def readPayload(abs: String, offset: Int, size: Int,
      conf: Configuration): Array[Byte] = {
    val p = new Path(abs)
    val in = p.getFileSystem(conf).open(p)
    try {
      if (offset > 0) in.seek(offset.toLong)
      val dis = new java.io.DataInputStream(in)
      val len = dis.readInt() // big-endian, mirrors the write framing
      require(len == size, s"DV length prefix $len != descriptor sizeInBytes $size ($abs@$offset)")
      val bytes = new Array[Byte](len)
      dis.readFully(bytes)
      val crc = dis.readInt()
      require(crc == RoaringBitmapArray.checksum(bytes), s"DV checksum mismatch in $abs@$offset")
      bytes
    } finally in.close()
  }

  /** Drop a snapshot's deleted rows from `df` (a scan of its files that
    * can still resolve `_metadata`). No-op when no file carries a DV.
    * With `keepKeys`, the normalized `__fp`/`__ri` row-identity columns
    * stay on the result (and are added even when there is no DV), so
    * callers can keep using row identity after the join — `_metadata`
    * itself turns ambiguous once the DV relation is joined in.
    */
  def filterDeleted(spark: SparkSession, dataPath: Path,
      files: Seq[AddFile], df: DataFrame, keepKeys: Boolean = false): DataFrame = {
    val keyed = df
      .withColumn("__fp", normFp(col("_metadata.file_path")))
      .withColumn("__ri", col("_metadata.row_index"))
    val joined = rowsDF(spark, dataPath, files) match {
      case None => keyed
      case Some(dv0) =>
        val totalCard = files.flatMap(descriptor).map(_.cardinality).sum
        val dv = dv0.select(col("fp").as("__dv_fp"), col("ri").as("__dv_ri"))
        val dvSide = if (totalCard <= BroadcastRowLimit) broadcast(dv) else dv
        keyed.join(dvSide,
          col("__fp") === col("__dv_fp") && col("__ri") === col("__dv_ri"), "left_anti")
    }
    if (keepKeys) joined else joined.drop("__fp", "__ri")
  }

  /** Write protocol-format DVs for the (fp, ri) rows (fp = normalized
    * absolute data-file path) and return normalized-fp -> descriptor.
    * One Spark pass: rows shuffle to their file's partition, sort by
    * (fp, ri), and each task packs its files' bitmaps into one shared
    * `.bin` under `_deletion_vectors/` — O(tasks) payload files per
    * DELETE, not O(touched files).
    */
  def write(spark: SparkSession, dataPath: Path, rows: DataFrame): Map[String, DeletionVectorDescriptor] = {
    import spark.implicits._
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = dataPath.getFileSystem(hadoopConf)
    fs.mkdirs(new Path(dataPath, DvPrefix))
    val root = fs.makeQualified(dataPath).toString
    val serConf = new SerializableHadoopConf(hadoopConf)
    rows.select(normFp(col("fp")).as("fp"), col("ri"))
      .repartition(col("fp"))
      .sortWithinPartitions("fp", "ri")
      .as[(String, Long)]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val uuid = UUID.randomUUID
          val path = new Path(new Path(root, DvPrefix), s"deletion_vector_$uuid.bin")
          val encoded = DvPrefix + Z85.encodeUUID(uuid)
          val out = Seq.newBuilder[(String, DeletionVectorDescriptor)]
          // the shared payload file is created lazily: a partition whose
          // DVs all fit inline writes no file at all
          var dos: java.io.DataOutputStream = null
          var offset = 1
          try {
            var cur: String = null
            var bm: RoaringBitmapArray = null
            var lastRi = -1L
            def flush(): Unit = if (cur != null) {
              val bytes = bm.serialize()
              if (bytes.length <= InlineLimit) {
                // Z85 needs 4-alignment; sizeInBytes records the real
                // length, readers trim the pad after decode
                val padded =
                  if (bytes.length % 4 == 0) bytes
                  else bytes ++ new Array[Byte](4 - bytes.length % 4)
                out += cur -> DeletionVectorDescriptor("i", Z85.encode(padded),
                  None, bytes.length, bm.cardinality)
              } else {
                if (dos == null) {
                  dos = new java.io.DataOutputStream(
                    path.getFileSystem(serConf.value).create(path, false))
                  dos.writeByte(1) // DV file format version
                }
                dos.writeInt(bytes.length)
                dos.write(bytes)
                dos.writeInt(RoaringBitmapArray.checksum(bytes))
                out += cur -> DeletionVectorDescriptor("u", encoded,
                  Some(offset), bytes.length, bm.cardinality)
                offset += 4 + bytes.length + 4
              }
            }
            it.foreach { case (fp, ri) =>
              if (fp != cur) {
                flush(); cur = fp; bm = RoaringBitmapArray.empty(); lastRi = -1L
              }
              if (ri != lastRi) { bm.add(ri); lastRi = ri }
            }
            flush()
          } finally if (dos != null) dos.close()
          out.result().iterator
        }
      }.collect().toMap
  }
}
