package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.ts
import graft.api.GraftStreams

/** Streaming KStream⋈KTable against a LIVE changelog table — the
  * reference's enrichment topology
  * (`kstream/internals/KStreamKTableJoinProcessor.java:55-76`, update
  * sequences from `KStreamKTableJoinTest.java`): stream records emit once
  * against the table's current state; table updates emit nothing. */
class StreamTableJoinLiveSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def harness(inner: Boolean, suffix: String = "") = {
    implicit val sqlCtx = spark.sqlContext
    val sMem = MemoryStream[(String, String, java.sql.Timestamp)]
    val tMem = MemoryStream[(String, String, java.sql.Timestamp)]
    val b = GraftStreams(spark)
    val stream = b.stream[String, String](sMem.toDF(), $"_1", $"_2", $"_3")
    val table = b.table[String, String](tMem.toDF(), $"_1", $"_2", $"_3")
    val joined =
      if (inner) stream.joinTable(table)(_ + "+" + _)
      else stream.leftJoinTable(table)((v, t) => v + "+" + t.getOrElse("null"))
    val name = s"stlive_${if (inner) "inner" else "left"}$suffix"
    val q = joined.toDF.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    (sMem, tMem, q, () => spark.table(name).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq)
  }

  test("inner: no emit without table state, no emit on table update, tombstone clears") {
    val (sMem, tMem, q, emitted) = harness(inner = true)
    try {
      sMem.addData(("k1", "S1", ts(1000L)))
      q.processAllAvailable()
      assert(emitted() === Seq.empty) // table empty: stream record drops

      tMem.addData(("k1", "T1", ts(2000L)))
      q.processAllAvailable()
      assert(emitted() === Seq.empty) // table update emits NOTHING

      sMem.addData(("k1", "S2", ts(3000L)))
      q.processAllAvailable()
      assert(emitted() === Seq(("k1", "S2+T1")))

      tMem.addData(("k1", null.asInstanceOf[String], ts(4000L))) // tombstone
      sMem.addData(("k2", "X", ts(4500L))) // unrelated key forces a batch
      q.processAllAvailable()
      sMem.addData(("k1", "S3", ts(5000L)))
      q.processAllAvailable()
      assert(emitted() === Seq(("k1", "S2+T1"))) // S3 finds no state
    } finally q.stop()
  }

  test("a stream-only batch reads the table state without writing it") {
    val (sMem, tMem, q, emitted) = harness(inner = true, suffix = "_reads")
    // the progress of the batch that just ran (the only one with input)
    def lastState = q.recentProgress.filter(_.numInputRows > 0).last.stateOperators.head
    try {
      tMem.addData(("k1", "T1", ts(1000L)), ("k2", "T2", ts(1000L)))
      q.processAllAvailable()
      assert(lastState.numRowsUpdated === 2)

      sMem.addData(("k1", "S1", ts(2000L)), ("k2", "S2", ts(2000L)), ("k3", "S3", ts(2000L)))
      q.processAllAvailable()
      assert(lastState.numRowsUpdated === 0)
      assert(lastState.numRowsTotal === 2) // the miss on k3 leaves no state
      assert(emitted().sorted === Seq(("k1", "S1+T1"), ("k2", "S2+T2")))

      sMem.addData(("k1", "S3", ts(3000L)))
      q.processAllAvailable()
      assert(emitted().sorted === Seq(("k1", "S1+T1"), ("k1", "S3+T1"), ("k2", "S2+T2")))
    } finally q.stop()
  }

  test("left: misses emit None-joined; later records see table arrival") {
    val (sMem, tMem, q, emitted) = harness(inner = false)
    try {
      sMem.addData(("a", "S1", ts(1000L)))
      q.processAllAvailable()
      tMem.addData(("a", "T1", ts(2000L)))
      q.processAllAvailable()
      sMem.addData(("a", "S2", ts(3000L)))
      q.processAllAvailable()
      assert(emitted() === Seq(("a", "S1+null"), ("a", "S2+T1")))
    } finally q.stop()
  }

  test("within one batch: event-time order, table updates win ties before lookups") {
    implicit val sqlCtx = spark.sqlContext
    val sMem = MemoryStream[(String, String, java.sql.Timestamp)]
    val tMem = MemoryStream[(String, String, java.sql.Timestamp)]
    // data added BEFORE the query starts => both sides land in batch 0
    // together (adding after start can split them across micro-batches)
    tMem.addData(("x", "T2", ts(3000L)), ("x", "T1", ts(1000L)))
    sMem.addData(("x", "S2", ts(4000L)), ("x", "S1", ts(2000L)))
    val b = GraftStreams(spark)
    val joined = b.stream[String, String](sMem.toDF(), $"_1", $"_2", $"_3")
      .joinTable(b.table[String, String](tMem.toDF(), $"_1", $"_2", $"_3"))(_ + "+" + _)
    val q = joined.toDF.writeStream.format("memory").queryName("stlive_batch")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("stlive_batch").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(emitted.sorted === Seq(("x", "S1+T1"), ("x", "S2+T2")))
    } finally q.stop()
  }
}
