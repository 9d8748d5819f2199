package graft.delta

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.values.bloomfilter.BloomFilter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** `delta.bloomFilter.columns`: the write path emits NATIVE parquet
  * bloom filters for the listed columns — point-lookup skipping on
  * high-cardinality unsorted columns where min/max stats never prune
  * (every file's [min,max] covers every probe). The filter lives in
  * the data file, so there is zero log cost at any file count, and any
  * stock parquet reader applies it to pushed equality predicates.
  */
class BloomFilterSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-bloom").toString

  /** Bloom filter of `col` in the table's NEWEST parquet file, if any. */
  private def bloomOf(dir: String, col: String): Option[BloomFilter] = {
    val conf = spark.sessionState.newHadoopConf()
    val t = DeltaTable.forPath(spark, dir)
    val file = t.snapshot.allFiles.maxBy(_.modificationTime).path
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(new Path(dir), file), conf))
    try {
      val block = reader.getFooter.getBlocks.get(0)
      import scala.jdk.CollectionConverters._
      val cc = block.getColumns.asScala
        .find(_.getPath.toDotString == col)
        .getOrElse(fail(s"no column chunk for $col"))
      Option(reader.getBloomFilterDataReader(block).readBloomFilter(cc))
    } finally reader.close()
  }

  test("configured column gets a native parquet bloom; others don't") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Seq((1L, "a")).toDF("doc_uuid", "v").schema.json,
      configuration = Map(
        "delta.bloomFilter.columns" -> "doc_uuid",
        "delta.bloomFilter.ndv" -> "10000")))
    txn.commit(Nil, Op.CreateTable)
    val rows = (1L to 5000L).map(i => (i * 2654435761L % 1000000007L, s"v$i"))
    t.write(rows.toDF("doc_uuid", "v").coalesce(1), SaveMode.Append)

    val bloom = bloomOf(dir, "doc_uuid")
      .getOrElse(fail("configured column must carry a bloom filter"))
    // every written value answers mightContain = true
    rows.take(200).foreach { case (u, _) =>
      assert(bloom.findHash(bloom.hash(u)), s"present value $u must hit")
    }
    // absent probes are mostly rejected (1% fpp target; allow slack)
    val misses = (1L to 1000L).count { i =>
      !bloom.findHash(bloom.hash(-i))
    }
    assert(misses > 950, s"only $misses/1000 absent probes rejected")
    // the unlisted column carries none
    assert(bloomOf(dir, "v").isEmpty, "unlisted column must have no bloom")
    // and an unconfigured table writes none at all
    val dir2 = tmp()
    val t2 = DeltaTable.forPath(spark, dir2)
    t2.write(rows.take(100).toDF("doc_uuid", "v").coalesce(1), SaveMode.Append)
    assert(bloomOf(dir2, "doc_uuid").isEmpty)
  }

  test("point lookups stay correct with blooms on (reader applies them)") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Seq((1L, "a")).toDF("id", "v").schema.json,
      configuration = Map("delta.bloomFilter.columns" -> "id")))
    txn.commit(Nil, Op.CreateTable)
    t.write((1L to 10000L).map(i => (i, s"v$i")).toDF("id", "v"),
      SaveMode.Append)
    assert(t.read(col("id") === 7777L).count() == 1)
    assert(t.read(col("id") === -5L).count() == 0)
  }

  test("bloom columns follow physical names under column mapping") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1L, "a")).toDF("id", "v"), SaveMode.Append)
    // renaming the column itself activates name-mode mapping AND makes
    // logical ≠ physical: logical `key` stays physical `id` in files
    t.renameColumn("id", "key")
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(txn.metadata.copy(configuration =
      txn.metadata.configuration + ("delta.bloomFilter.columns" -> "key")))
    txn.commit(Nil, Op.SetTableProperties)
    val fresh = DeltaTable.forPath(spark, dir)
    fresh.write((2L to 2000L).map(i => (i, s"v$i")).toDF("key", "v").coalesce(1),
      SaveMode.Append)
    val md = fresh.deltaLog.update().metadata
    val phys = ColumnMapping.writeAliases(md)("key")._1
    assert(phys != "key", "fixture should map to a different physical name")
    assert(bloomOf(dir, phys).isDefined,
      "bloom must be written under the PHYSICAL column name")
    assert(fresh.read(col("key") === 42L).count() == 1)
  }
}
