package perfbench

import java.sql.Timestamp
import java.time.{Duration, Instant}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}

import graft.api.{GraftStreams, TimeWindows}

/** Fixed load constants of the two streaming workloads. They were chosen
  * once from a measurement of the library and are never derived per run
  * (perfbench/README.md records the choice). */
object StreamLoad {
  /** Open loop: one chunk every `ChunkIntervalMs`, at `OfferedRateRps`. */
  val OfferedRateRps = 10000
  val ChunkIntervalMs = 5
  val OpenChunkRecords: Int = OfferedRateRps * ChunkIntervalMs / 1000
  /** Closed loop: a job offers one chunk and waits for the commit of the
    * micro-batch that holds it; the next job starts right after. */
  val ClosedChunkRecords = 20000
  /** Untimed closed-loop jobs between start and the timed region. */
  val WarmupJobs = 6
  /** Share of the measured seconds spent in the open loop; the closed
    * loop gets the rest. */
  val OpenShare = 0.6
  val Keys = 10000
  val ZipfExponent = 1.0
  /** Event time advances by this much per record, whatever the offered
    * rate, so the result does not depend on timing. */
  val EventStepMicros = 50L
  val WindowMs = 1000L
  val GraceMs = 500L
  /** A share of records arrives out of order, always within grace. */
  val LateShare = 0.05
  val LateMaxMs = 400L
  val TableUpdatesPerKey = 2
  val TableValueBound = 1000000L
}

/** Seeded, deterministic record source: record `i` is (Zipf key, `i`,
  * event time). Keys and lateness come from a ring drawn once from the
  * seed; event time is a function of `i` alone. */
final class Gen(seed: Long) {
  import StreamLoad._
  private val RingSize = 1 << 18
  private val rnd = new java.util.SplittableRandom(seed)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(Keys)(r => 1.0 / math.pow(r + 1, ZipfExponent))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  // rank -> key id, so the hot keys are spread over the key range
  private val rankToKey: Array[Int] = {
    val a = Array.tabulate(Keys)(identity)
    for (i <- a.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  private val keys: Array[Int] = Array.fill(RingSize) {
    val u = rnd.nextDouble()
    val r = java.util.Arrays.binarySearch(cdf, u)
    rankToKey(math.min(Keys - 1, if (r >= 0) r else -r - 1))
  }
  private val lateMicros: Array[Long] = Array.fill(RingSize)(
    if (rnd.nextDouble() < LateShare) rnd.nextLong(LateMaxMs * 1000L) else 0L)
  val baseMicros = 1700000000000000L

  def key(i: Long): Long = keys((i % RingSize).toInt).toLong
  def tsMicros(i: Long): Long =
    baseMicros + i * EventStepMicros - lateMicros((i % RingSize).toInt)
  def record(i: Long): (Long, Long, Timestamp) = (key(i), i, Gen.ts(tsMicros(i)))
}

object Gen {
  def ts(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }
  def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
}

/** Offers consecutive records of one [[Gen]] to one memory source. */
final class Feeder(gen: Gen, mem: MemoryStream[(Long, Long, Timestamp)]) {
  @volatile var next = 0L

  /** Offer the next `n` records; returns the source offset they end at. */
  def offer(n: Int): Long = {
    val from = next
    val recs = (0 until n).map(i => gen.record(from + i))
    next = from + n
    mem.addData(recs).json().toLong
  }
}

/** A started topology: its query, its feeder, the (end ms, duration ms)
  * of each sink call, its reference check. */
final class Live(val q: StreamingQuery, val feeder: Feeder, val buildMs: Double,
    val sinkMs: ConcurrentLinkedQueue[Array[Double]], val check: () => (Boolean, String))

object Streams {
  import StreamLoad._

  /** KStream -> groupByKey.windowedBy(tumbling, grace).count(), update
    * mode, RocksDB state. Reference: a plain count per (key, window). */
  def windowCount(ctx: Main.Ctx): Map[String, Any] = run(ctx, "window-count") { gen =>
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = source(ctx)
    val finals = new mutable.HashMap[(Long, Long), Long]()
    val sinkMs = new ConcurrentLinkedQueue[Array[Double]]()
    val t0 = Clock.nowMs
    val q = ctx.rec.span("build topology", "api") {
      val counts = GraftStreams(spark)
        .stream[Long, Long](mem.toDF(), col("_1"), col("_2"), col("_3"))
        .groupByKey
        .windowedBy(TimeWindows.of(Duration.ofMillis(WindowMs)).grace(Duration.ofMillis(GraceMs)))
        .count()
      counts.toStream.toDF.writeStream
        .queryName("perfbench_window_count")
        .option("checkpointLocation", s"${ctx.work}/ckpt/window-count")
        .outputMode(OutputMode.Update)
        .foreachBatch { (d: Dataset[Row], _: Long) =>
          sink(ctx.rec, sinkMs) {
            d.collect().foreach { r =>
              val w = r.getStruct(0)
              finals((w.getLong(0), Gen.micros(w.getTimestamp(1)))) = r.getLong(1)
            }
          }
        }
        .start()
    }
    val buildMs = Clock.nowMs - t0
    val feeder: Feeder = new Feeder(gen, mem)
    new Live(q, feeder, buildMs, sinkMs, () => {
      val want = new mutable.HashMap[(Long, Long), Long]()
      val sizeUs = WindowMs * 1000L
      var i = 0L
      while (i < feeder.next) {
        val ts = gen.tsMicros(i)
        val k = (gen.key(i), ts - Math.floorMod(ts, sizeUs))
        want(k) = want.getOrElse(k, 0L) + 1L
        i += 1
      }
      val bad = want.count { case (k, n) => !finals.get(k).contains(n) } +
        finals.keys.count(k => !want.contains(k))
      (bad == 0, s"${want.size} (key, window) counts, $bad differ from the reference")
    })
  }

  /** KStream.joinTable against a live KTable whose changelog is loaded
    * before the timed phase. Reference: a map lookup per output. */
  def tableEnrich(ctx: Main.Ctx): Map[String, Any] = run(ctx, "table-enrich") { gen =>
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sMem = source(ctx)
    val tMem = source(ctx)
    val outKeys = new mutable.ArrayBuffer[Long]()
    val outVals = new mutable.ArrayBuffer[Long]()
    val sinkMs = new ConcurrentLinkedQueue[Array[Double]]()
    val t0 = Clock.nowMs
    val q = ctx.rec.span("build topology", "api") {
      val b = GraftStreams(spark)
      val joined = b.stream[Long, Long](sMem.toDF(), col("_1"), col("_2"), col("_3"))
        .joinTable(b.table[Long, Long](tMem.toDF(), col("_1"), col("_2"), col("_3")))(
          (v, t) => v * TableValueBound + t)
      joined.toDF.writeStream
        .queryName("perfbench_table_enrich")
        .option("checkpointLocation", s"${ctx.work}/ckpt/table-enrich")
        .outputMode(OutputMode.Append)
        .foreachBatch { (d: Dataset[Row], _: Long) =>
          sink(ctx.rec, sinkMs) {
            d.collect().foreach { r => outKeys += r.getLong(0); outVals += r.getLong(1) }
          }
        }
        .start()
    }
    val buildMs = Clock.nowMs - t0
    // the changelog: every key updated TableUpdatesPerKey times, all
    // before the first stream record's event time; the last update wins
    val rnd = new java.util.SplittableRandom(ctx.seed ^ 0x7ab1eL)
    val table = new Array[Long](Keys)
    ctx.rec.span("load table", "sources") {
      (0 until TableUpdatesPerKey).foreach { u =>
        val recs = (0 until Keys).map { k =>
          val v = rnd.nextLong(TableValueBound)
          table(k) = v
          (k.toLong, v, Gen.ts(gen.baseMicros - 10000000L + u * 1000L))
        }
        recs.grouped(5000).foreach(c => tMem.addData(c))
      }
      q.processAllAvailable()
    }
    val feeder: Feeder = new Feeder(gen, sMem)
    new Live(q, feeder, buildMs, sinkMs, () => {
      val n = feeder.next
      val seen = new java.util.BitSet(n.toInt)
      var bad = 0L
      outKeys.indices.foreach { j =>
        val v = outVals(j) / TableValueBound
        val t = outVals(j) % TableValueBound
        val k = outKeys(j)
        if (v < 0 || v >= n || seen.get(v.toInt) || gen.key(v) != k || table(k.toInt) != t) bad += 1
        else seen.set(v.toInt)
      }
      val missing = n - seen.cardinality()
      (bad == 0 && missing == 0,
        s"${outKeys.size} outputs for $n records, $bad wrong, $missing missing")
    })
  }

  /** An in-memory topic with one partition per task slot, like a Kafka
    * topic read by that many consumers: each micro-batch reads `slots`
    * partitions however many chunks arrived since the last one. */
  private def source(ctx: Main.Ctx): MemoryStream[(Long, Long, Timestamp)] = {
    val spark = ctx.spark
    import spark.implicits._
    MemoryStream[(Long, Long, Timestamp)](ctx.slots)(implicitly, spark.sqlContext)
  }

  private def sink(rec: Recorder, sinkMs: ConcurrentLinkedQueue[Array[Double]])(
      body: => Unit): Unit = {
    val s = Clock.nowMs
    rec.span("foreachBatch", "sink")(body)
    val e = Clock.nowMs
    sinkMs.add(Array(e, e - s))
  }

  /** Set up once (generate, build, start, warm up), then measure: closed
    * loop, then open loop. A traced run measures once untraced and once
    * traced. */
  private def run(ctx: Main.Ctx, name: String)(build: Gen => Live): Map[String, Any] = {
    val live = build(new Gen(ctx.seed))
    (1 to WarmupJobs).foreach(_ => closedJob(live, ctx.rec))
    val plain = measure(ctx, live, tracing = false)
    val traced = if (ctx.trace) Some(measure(ctx, live, tracing = true)) else None
    live.q.processAllAvailable()
    val (ok, detail) = live.check()
    live.q.stop()
    Map("kind" -> "stream", "api_build_ms" -> live.buildMs,
      "plain" -> plain, "traced" -> traced,
      "checks" -> Seq(Map("name" -> s"$name reference", "ok" -> ok, "detail" -> detail)),
      "load" -> Map("offered_rate_rps" -> OfferedRateRps, "chunk_interval_ms" -> ChunkIntervalMs,
        "open_chunk_records" -> OpenChunkRecords, "closed_chunk_records" -> ClosedChunkRecords,
        "keys" -> Keys))
  }

  private def closedJob(live: Live, rec: Recorder): Double = {
    val t0 = System.nanoTime()
    rec.span("offer chunk", "sources")(live.feeder.offer(ClosedChunkRecords))
    live.q.processAllAvailable()
    (System.nanoTime() - t0) / 1e9
  }

  private def measure(ctx: Main.Ctx, live: Live, tracing: Boolean): Map[String, Any] = {
    val q = live.q
    val afterBatch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    ctx.rec.tracing = tracing
    val start = Clock.nowMs
    val closedEnd = start + ctx.seconds * (1 - OpenShare) * 1000
    val jobs = mutable.ArrayBuffer[Double]()
    ctx.rec.span("closed loop", "bench") {
      do jobs += closedJob(live, ctx.rec) while (Clock.nowMs < closedEnd)
    }
    val openStart = Clock.nowMs
    val chunks = ctx.rec.span("open loop", "bench")(openLoop(live, ctx.seconds * OpenShare))
    val end = Clock.nowMs
    ctx.rec.add("timed region", "bench", start, end)
    ctx.rec.quiesce(ctx.spark)
    ctx.rec.tracing = false
    val progress = q.recentProgress.filter(_.batchId > afterBatch).map(progressJson).toSeq
    Map("start_ms" -> start, "open_start_ms" -> openStart, "end_ms" -> end,
      "jobs_s" -> jobs, "job_records" -> ClosedChunkRecords,
      "chunks" -> chunks.toSeq, "progress" -> progress,
      "tasks" -> ctx.rec.taskTotals(start, end),
      "sink_ms" -> live.sinkMs.asScala.filter(s => s(0) >= start && s(0) <= end).map(_(1)).toSeq,
      "spans" -> (if (tracing) ctx.rec.allSpans.filter(s =>
        s("end").asInstanceOf[Double] >= start && s("start").asInstanceOf[Double] <= end)
        else Seq.empty))
  }

  /** Offer one chunk every ChunkIntervalMs from a single generator thread,
    * on schedule whatever the query does; then wait for the last commit.
    * Each row: due ms, offered ms, source offset after the chunk. */
  private def openLoop(live: Live, seconds: Double): Array[Array[Double]] = {
    val n = (seconds * 1000 / ChunkIntervalMs).toInt
    val out = new Array[Array[Double]](n)
    val intervalNs = ChunkIntervalMs * 1000000L
    val t0 = System.nanoTime() + intervalNs
    val gen = new Thread(() => {
      var i = 0
      while (i < n && live.q.isActive) {
        val due = t0 + i * intervalNs
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        val off = live.feeder.offer(OpenChunkRecords)
        out(i) = Array(Clock.fromNanos(due), Clock.fromNanos(now), off.toDouble)
        i += 1
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    live.q.processAllAvailable()
    out.filter(_ != null)
  }

  private def progressJson(p: StreamingQueryProgress): Map[String, Any] = Map(
    "batch" -> p.batchId,
    "start_ms" -> Instant.parse(p.timestamp).toEpochMilli.toDouble,
    "rows" -> p.numInputRows,
    "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.toLong }.toMap,
    "end_offsets" -> p.sources.map(s => scala.util.Try(s.endOffset.toLong).getOrElse(-1L)).toSeq,
    "state" -> p.stateOperators.map { s =>
      Map("rows_total" -> s.numRowsTotal, "rows_updated" -> s.numRowsUpdated,
        "update_ms" -> s.allUpdatesTimeMs, "removal_ms" -> s.allRemovalsTimeMs,
        "commit_ms" -> s.commitTimeMs, "memory_bytes" -> s.memoryUsedBytes,
        "dropped_late" -> s.numRowsDroppedByWatermark,
        "custom" -> s.customMetrics.asScala.map { case (k, v) => k -> v.toLong }.toMap)
    }.toSeq)
}
