package graft.queries

import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** The events table's ts physical type has flipped across driver testdata
  * generations (TIMESTAMP(NANOS) read as long via nanosAsLong, then
  * TIMESTAMP_MICROS with isAdjustedToUTC=0 = TIMESTAMP_NTZ). withEventTs
  * must normalize every generation to the same TimestampType instants so
  * a regeneration can never again break the timestamp-dependent queries.
  */
class EventTsSuite extends AnyFunSuite with SharedSpark {

  // 2024-03-01T12:34:56.789012 UTC, as epoch micros
  private val micros = 1709296496789012L

  private def instantOf(df: org.apache.spark.sql.DataFrame): (DataType, Long) = {
    val out = QueryDefs.withEventTs(df)
    val dt = out.schema("ts").dataType
    import org.apache.spark.sql.functions.unix_micros
    (dt, out.select(unix_micros(org.apache.spark.sql.functions.col("ts")))
      .head().getLong(0))
  }

  test("nanos-as-long generation rebuilds the microsecond instant") {
    import spark.implicits._
    val df = Seq(micros * 1000L).toDF("ts")
    val (dt, us) = instantOf(df)
    assert(dt == TimestampType)
    assert(us == micros)
  }

  test("TIMESTAMP_NTZ generation converts value-preserving under UTC") {
    import spark.implicits._
    val ldt = LocalDateTime.parse("2024-03-01T12:34:56.789012")
    val df = Seq(Tuple1(ldt)).toDF("ts")
    assert(df.schema("ts").dataType == TimestampNTZType)
    val (dt, us) = instantOf(df)
    assert(dt == TimestampType)
    assert(us == micros)
  }

  test("TimestampType generation passes through untouched") {
    import spark.implicits._
    val df = Seq(new Timestamp(micros / 1000)).toDF("ts")
      .select(org.apache.spark.sql.functions
        .timestamp_micros(org.apache.spark.sql.functions.lit(micros)).as("ts"))
    val (dt, us) = instantOf(df)
    assert(dt == TimestampType)
    assert(us == micros)
  }

  test("an unexpected ts type fails loudly instead of misparsing") {
    import spark.implicits._
    val df = Seq("2024-03-01").toDF("ts")
    intercept[IllegalStateException] { QueryDefs.withEventTs(df) }
  }
}
