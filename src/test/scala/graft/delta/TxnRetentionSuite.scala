package graft.delta

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** `delta.setTransactionRetentionDuration`: checkpoints expire
  * idempotent-writer SetTransaction entries past the horizon, bounding
  * txn state on tables written by many streaming appIds over years.
  * Entries without lastUpdated never expire; with the property unset
  * everything is retained forever (the default contract).
  */
class TxnRetentionSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-txnret").toString

  private def freshSnapshot(dir: String): Snapshot =
    new DeltaLog(spark, new org.apache.hadoop.fs.Path(dir)).update()

  test("checkpoint drops expired SetTransactions, keeps fresh and ageless ones") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn0 = t.deltaLog.startTransaction()
    txn0.updateMetadata(Metadata(
      schemaString = Seq((1L, "a")).toDF("id", "v").schema.json,
      configuration = Map(
        "delta.setTransactionRetentionDuration" -> "interval 1 hour")))
    txn0.commit(Nil, Op.CreateTable)
    val now = t.deltaLog.clock.nowMillis
    def put(app: String, ver: Long, ts: Option[Long]): Unit =
      t.deltaLog.startTransaction()
        .commit(Seq(SetTransaction(app, ver, ts)), Op.Write)
    put("app_old", 7L, Some(now - 2 * 3600 * 1000L))  // past the horizon
    put("app_new", 9L, Some(now))                     // inside it
    put("app_ageless", 3L, None)                      // no evidence of age
    // pre-checkpoint: replay of the json tail sees everything
    assert(t.deltaLog.update().transactions.keySet ==
      Set("app_old", "app_new", "app_ageless"))

    val s = t.deltaLog.update()
    t.deltaLog.checkpoint(s)
    // append past the checkpoint so a fresh log reads checkpoint + tail
    t.write(Seq((1L, "a")).toDF("id", "v"))
    val after = freshSnapshot(dir)
    assert(after.transactions.keySet == Set("app_new", "app_ageless"),
      s"expired txn must not survive the checkpoint: ${after.transactions}")
    // the idempotence watermark for the expired app is genuinely gone:
    // a replayed "older" version would now land (the documented cost of
    // opting into expiry)
    assert(t.deltaLog.startTransaction().txnVersion("app_old") == -1L)
    assert(t.deltaLog.startTransaction().txnVersion("app_new") == 9L)

    // without the property, nothing expires
    val dir2 = tmp()
    val t2 = DeltaTable.forPath(spark, dir2)
    t2.write(Seq((1L, "a")).toDF("id", "v"))
    val old = t2.deltaLog.clock.nowMillis - 10L * 365 * 24 * 3600 * 1000L
    t2.deltaLog.startTransaction()
      .commit(Seq(SetTransaction("ancient", 1L, Some(old))), Op.Write)
    t2.deltaLog.checkpoint(t2.deltaLog.update())
    t2.write(Seq((2L, "b")).toDF("id", "v"))
    assert(freshSnapshot(dir2).transactions.contains("ancient"),
      "default = retain forever")
  }
}
