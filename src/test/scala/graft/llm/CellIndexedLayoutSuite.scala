package graft.llm

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta.DeltaTable
import graft.testutil.SharedSpark

/** The cell-bucketed ANN layout (Similarity.writeCellIndexed plumbing):
  * the embedding corpus written as a graft-Delta table PARTITIONED BY
  * IVF cell id, read back through the `graft-delta` source. These specs
  * pin the property the layout exists for — a probe's candidate read
  * OPENS only the probed cells' files (log-level pruning), instead of
  * scanning everything and filtering rows.
  */
class CellIndexedLayoutSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-cell-idx").toString

  /** 64 vectors across 8 cells, written cell-partitioned the way the
    * ANN queries' index build does.
    */
  private def mkIndex(): (String, Int) = {
    import spark.implicits._
    val dir = tmp()
    val corpus = (0 until 64).map(i => (i % 8, i.toLong, Seq.fill(4)(i / 64.0)))
      .toDF("cell", "vec_id", "e")
      // several files per partition, like a real multi-task write
      .repartition(4)
    DeltaTable.forPath(spark, dir).write(corpus, partitionBy = Seq("cell"))
    val total = DeltaTable.forPath(spark, dir).snapshot.allFiles.size
    (dir, total)
  }

  test("a cell-filtered read opens ONLY the probed cells' files") {
    val (dir, totalFiles) = mkIndex()
    val probed = Seq(1, 3)
    val pruned = spark.read.format("graft-delta").load(dir)
      .where(col("cell").isInCollection(probed))
    // row-level correctness
    import spark.implicits._
    assert(pruned.select("cell").distinct().as[Int].collect().toSet == probed.toSet)
    assert(pruned.count() == 16L)
    // FILE-level pruning: every opened file lives under a probed cell's
    // partition directory, and strictly fewer files open than exist
    val opened = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSeq
    assert(opened.nonEmpty)
    assert(opened.forall(p => p.contains("cell=1") || p.contains("cell=3")),
      s"unprobed cells' files were opened: $opened")
    assert(opened.size < totalFiles,
      s"no pruning: opened ${opened.size} of $totalFiles files")
  }

  /** 64-dim vectors (the Similarity Dim) with ids from `ids`, spread so
    * the trained quantizer distributes them across cells; `shift` moves
    * the whole batch away from the build-time distribution.
    */
  private def vecs(ids: Seq[Int], shift: Double = 0.0) = {
    import spark.implicits._
    ids.map { i =>
      val e = Seq.tabulate(64)(j =>
        (((i * 37 + j * 11) % 100) / 50.0 - 1.0) + shift)
      (i.toLong, e, math.sqrt(e.map(x => x * x).sum))
    }.toDF("vec_id", "e", "nrm")
  }

  test("admitBatch lands inside cell partitions; probe over the union stays file-pruned") {
    import spark.implicits._
    val dir = tmp()
    Similarity.buildIndex(spark, vecs(0 until 200 by 2), dir)
    val filesAfterBuild = DeltaTable.forPath(spark, s"$dir/cells")
      .deltaLog.update().allFiles.map(_.path).toSet
    Similarity.admitBatch(spark, vecs(1 until 200 by 2), dir)
    val index = Similarity.readIndex(spark, dir)
    // the union is lossless and the admitted files landed INSIDE the
    // existing Hive cell partitions (no new top-level layout)
    assert(index.count() == 200L)
    val log = DeltaTable.forPath(spark, s"$dir/cells").deltaLog.update()
    val admitted = log.allFiles.map(_.path).filterNot(filesAfterBuild)
    assert(admitted.nonEmpty, "admission must append files")
    assert(admitted.forall(_.startsWith("cell=")),
      s"admitted files outside cell partitions: $admitted")
    // resident files were NOT rewritten by the admission
    assert(filesAfterBuild.subsetOf(log.allFiles.map(_.path).toSet),
      "admission must not rewrite resident cells")
    // a probe over the UNION opens only the probed cells' files
    val cells = index.select("cell").distinct().as[Int].collect().sorted
    assert(cells.length >= 2, s"need multiple cells, got ${cells.toSeq}")
    val probed = cells.take(1).toSeq
    val opened = index.where(col("cell").isInCollection(probed))
      .select(input_file_name()).distinct().collect().map(_.getString(0)).toSeq
    assert(opened.nonEmpty)
    assert(opened.forall(p => p.contains(s"cell=${probed.head}")),
      s"unprobed cells' files were opened: $opened")
    assert(opened.size < log.allFiles.size,
      s"no pruning: opened ${opened.size} of ${log.allFiles.size} files")
  }

  test("admission assignment is map-only: one-row broadcast fold, no vec_id shuffle") {
    val dir = tmp()
    Similarity.buildIndex(spark, vecs(0 until 100), dir)
    val assigned = Similarity.assignToStored(spark, vecs(100 until 150), dir)
    assigned.collect() // execute so AQE finalizes the plan
    val plan = assigned.queryExecution.executedPlan.toString
    // the r11 shape: stored centroids arrive as ONE broadcast row folded
    // per vector. The old crossJoin+min_by shape materialized N×C rows
    // and shuffled them into a groupBy(vec_id) aggregate — pinned out by
    // the absence of any vec_id hash partitioning
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("hashpartitioning(vec_id"), plan)
    assert(plan.contains("__cents"), plan)
  }

  test("admitStreamBatch: replayed batch is a no-op; fresh batch admits") {
    val dir = tmp()
    Similarity.buildIndex(spark, vecs(0 until 50), dir)
    assert(Similarity.admitStreamBatch(spark, vecs(50 until 80), dir, "app", 0L))
    val n1 = Similarity.readIndex(spark, dir).count()
    assert(n1 == 80L)
    // a post-failure re-delivery of the same (appId, batchId) is a no-op
    assert(!Similarity.admitStreamBatch(spark, vecs(50 until 80), dir, "app", 0L))
    assert(Similarity.readIndex(spark, dir).count() == n1)
    // the next batch admits normally
    assert(Similarity.admitStreamBatch(spark, vecs(80 until 90), dir, "app", 1L))
    assert(Similarity.readIndex(spark, dir).count() == n1 + 10)
  }

  test("compactIndex bin-packs admission small files; pruning survives") {
    import spark.implicits._
    val dir = tmp()
    Similarity.buildIndex(spark, vecs(0 until 60), dir)
    // five admission batches -> ~5 small files per touched cell
    (1 to 5).foreach(b =>
      Similarity.admitBatch(spark, vecs(60 + b * 20 until 80 + b * 20), dir))
    val log = DeltaTable.forPath(spark, s"$dir/cells")
    val before = log.deltaLog.update().allFiles.size
    Similarity.compactIndex(spark, dir)
    val after = log.deltaLog.update().allFiles.size
    assert(after < before, s"no compaction: $before -> $after")
    val index = Similarity.readIndex(spark, dir)
    assert(index.count() == 160L)
    // the compacted layout still prunes: a one-cell probe opens only
    // that cell's files
    val cells = index.select("cell").distinct().as[Int].collect().sorted
    val probed = cells.head
    val opened = index.where(col("cell") === probed)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(opened.nonEmpty && opened.forall(_.contains(s"cell=$probed")),
      opened.mkString(", "))
  }

  test("centroidDrift flags an admitted batch that moved away from the quantizer") {
    import spark.implicits._
    val dir = tmp()
    Similarity.buildIndex(spark, vecs(0 until 100), dir)
    val before = Similarity.centroidDrift(spark, dir)
      .agg(max(col("mean_d2"))).head().getDouble(0)
    // admit a batch shifted far off the trained distribution: some cell's
    // mean squared distance to its centroid must degrade — the re-train
    // signal
    Similarity.admitBatch(spark, vecs(100 until 150, shift = 25.0), dir)
    val after = Similarity.centroidDrift(spark, dir)
      .agg(max(col("mean_d2"))).head().getDouble(0)
    assert(after > before * 10,
      s"drift report must degrade on a shifted batch: $before -> $after")
    // population is conserved across the report
    val n = Similarity.centroidDrift(spark, dir)
      .agg(sum(col("n"))).head().getLong(0)
    assert(n == 150L, n.toString)
  }

  test("deleteFromIndex: merge-on-read removal — no rewrite, probes exclude, compaction drains") {
    import spark.implicits._
    val dir = tmp()
    Similarity.buildIndex(spark, vecs(0 until 60), dir)
    Similarity.admitBatch(spark, vecs(60 until 90), dir)
    val cells = DeltaTable.forPath(spark, s"$dir/cells")
    val before = cells.deltaLog.update().allFiles.map(_.path).toSet
    assert(Similarity.readIndex(spark, dir).count() == 90L)
    Similarity.deleteFromIndex(spark, dir, pmod(col("vec_id"), lit(6)) === 0)
    val snap = cells.deltaLog.update()
    // merge-on-read: no file rewritten or added — DVs mask in place
    // (a file whose every row died may drop; none may appear)
    assert(snap.allFiles.map(_.path).toSet.subsetOf(before))
    assert(snap.allFiles.exists(_.deletionVector != null),
      "deletion must attach descriptors, not rewrite")
    val index = Similarity.readIndex(spark, dir)
    assert(index.where(pmod(col("vec_id"), lit(6)) === 0).count() == 0)
    assert(index.count() == 75L)
    // drift sees the shrunken populations immediately (no stale rows)
    val n = Similarity.centroidDrift(spark, dir)
      .agg(sum(col("n"))).head().getLong(0)
    assert(n == 75L, n.toString)
    // a probe still opens only the probed cell's files
    val probedCell = index.select("cell").distinct().as[Int].collect().min
    val opened = index.where(col("cell") === probedCell)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(opened.nonEmpty && opened.forall(_.contains(s"cell=$probedCell")),
      opened.mkString(", "))
    // compaction materializes the removals: descriptors drain, content
    // identical
    Similarity.compactIndex(spark, dir)
    val snap2 = cells.deltaLog.update()
    assert(snap2.allFiles.forall(_.deletionVector == null),
      "compaction must purge the deletion vectors")
    assert(Similarity.readIndex(spark, dir).count() == 75L)
  }

  test("an unfiltered read still sees the whole corpus (layout is lossless)") {
    val (dir, _) = mkIndex()
    import spark.implicits._
    val back = spark.read.format("graft-delta").load(dir)
    assert(back.count() == 64L)
    assert(back.select("vec_id").as[Long].collect().toSet == (0L until 64L).toSet)
    // partition column round-trips as its declared INT type
    assert(back.schema("cell").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }
}
