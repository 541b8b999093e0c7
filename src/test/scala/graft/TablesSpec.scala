package graft

import java.nio.file.Files

import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.load` memoizes each path's inferred parquet schema: repeated
  * loads see the same schema, a rewritten directory is inferred again,
  * and the events ts normalization still applies on a memo hit. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tempDir(): String =
    Files.createTempDirectory("tables-spec").toFile.getAbsolutePath

  test("a second load of the same directory returns the same schema") {
    val dir = tempDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    val first = Tables.load(spark, dir, "t")
    val second = Tables.load(spark, dir, "t")
    assert(second.schema === first.schema)
    assert(second.as[(Long, String)].collect().sorted.toSeq === Seq((1L, "a"), (2L, "b")))
  }

  test("a directory rewritten with an added column loads with the new schema") {
    val dir = tempDir()
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("id", "s"))
    Seq((2L, "b", 3L)).toDF("id", "s", "extra")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables.load(spark, dir, "t")
    assert(df.columns.toSeq === Seq("id", "s", "extra"))
    assert(df.schema("extra").dataType === LongType)
    assert(df.as[(Long, String, Long)].collect().toSeq === Seq((2L, "b", 3L)))
  }

  test("events ts is normalized to TimestampType on every load") {
    val dir = tempDir()
    // a µs timestamp without time zone reads back as TIMESTAMP_NTZ
    spark.sql("SELECT 1L AS event_id, TIMESTAMP_NTZ'2024-01-02 03:04:05.123456' AS ts")
      .write.parquet(s"$dir/events.parquet")
    for (_ <- 1 to 2) {
      val df = Tables.load(spark, dir, "events")
      assert(df.schema("ts").dataType === TimestampType)
      // the same wall-clock instant under the UTC session time zone
      assert(df.selectExpr("unix_micros(ts)").as[Long].head() === 1704164645123456L)
    }
  }
}
