package graft.queries

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** stableCheckpoint: localCheckpoint by default (single-node), RELIABLE
  * checkpoint to shared storage when spark.graft.checkpointDir is set —
  * the difference between "a lost executor kills the iterative job" and
  * "it re-reads the checkpoint files" on a real cluster.
  *
  * Uses the JVM-shared session and restores `spark.graft.checkpointDir`
  * afterwards. (An earlier revision built a "private" session and
  * stopped it — but getOrCreate returns the SHARED session, so the stop
  * killed Spark for every suite scheduled later in the run; the next
  * suite's builder then recreated it, silently dropping static config
  * like the SQL extension when that builder didn't set it.) The sticky
  * SparkContext.setCheckpointDir is harmless to other suites: nothing
  * else calls Dataset.checkpoint, and the localCheckpoint default path
  * never consults it.
  */
class StableCheckpointSuite extends AnyFunSuite with SharedSpark {

  private def withCheckpointConf(value: Option[String])(f: => Unit): Unit = {
    val prev = spark.conf.getOption("spark.graft.checkpointDir")
    value match {
      case Some(v) => spark.conf.set("spark.graft.checkpointDir", v)
      case None => spark.conf.unset("spark.graft.checkpointDir")
    }
    try f
    finally prev match {
      case Some(v) => spark.conf.set("spark.graft.checkpointDir", v)
      case None => spark.conf.unset("spark.graft.checkpointDir")
    }
  }

  test("default path is a local checkpoint (no checkpoint dir involved)") {
    withCheckpointConf(None) {
      import spark.implicits._
      val df = QueryDefs.stableCheckpoint((1 to 10).toDF("x"))
      assert(df.queryExecution.logical.getClass.getSimpleName == "LogicalRDD",
        s"lineage must be cut (got ${df.queryExecution.logical.getClass.getSimpleName})")
      assert(df.as[Int].collect().sorted.toSeq == (1 to 10))
    }
  }

  test("spark.graft.checkpointDir switches to a reliable checkpoint") {
    val dir = Files.createTempDirectory("graft-reliable-ckpt").toString
    withCheckpointConf(Some(dir)) {
      import spark.implicits._
      val df = QueryDefs.stableCheckpoint((1 to 10).toDF("x"))
      assert(df.queryExecution.logical.getClass.getSimpleName == "LogicalRDD",
        s"lineage must be cut (got ${df.queryExecution.logical.getClass.getSimpleName})")
      val ckptDir = spark.sparkContext.getCheckpointDir
      assert(ckptDir.exists(_.contains(dir)),
        s"checkpoint dir should live under $dir, got $ckptDir")
      // the checkpoint really went to shared storage, not executor memory
      val wrote = Files.walk(java.nio.file.Paths.get(dir)).iterator()
      val hasFiles = new java.util.ArrayList[java.nio.file.Path]()
      wrote.forEachRemaining(p => if (Files.isRegularFile(p)) hasFiles.add(p))
      assert(!hasFiles.isEmpty, "reliable checkpoint must write files")
      assert(df.as[Int].collect().sorted.toSeq == (1 to 10))
    }
  }
}
