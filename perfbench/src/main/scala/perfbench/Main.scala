package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: set the workload up, measure it, check
  * its outputs against a reference, and write the raw measurements as JSON.
  * `run.py` turns that file into the metrics line.
  *
  * Usage: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --slots N --data DIR --work DIR --out FILE`
  */
object Main {
  final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, slots: Int, rec: Recorder)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val slots = opt("slots").toInt
    val work = opt("work")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(work, slots)
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec.listener)
    val sessionReadyMs = Clock.nowMs
    val ctx = Ctx(spark, opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1",
      opt("data"), work, slots, rec)
    val result = workload match {
      case "ks-window-count" => Streams.windowCount(ctx)
      case "ks-table-enrich" => Streams.tableEnrich(ctx)
      case "corpus-dedup" => Corpus.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = result ++ Map(
      "workload" -> workload,
      "jvm_start_ms" -> jvmStartMs,
      "session_start_s" -> (sessionReadyMs - jvmStartMs) / 1000.0,
      "peak_rss_mb" -> peakRssMb(),
      "session" -> Map(
        "master" -> spark.sparkContext.master,
        "task_slots" -> slots,
        "generator_threads" -> (if (workload.startsWith("ks-")) 1 else 0),
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "state_store" -> spark.conf.get("spark.sql.streaming.stateStore.providerClass"),
        "changelog_checkpointing" ->
          spark.conf.get("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"),
        "adaptive" -> spark.conf.get("spark.sql.adaptive.enabled"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024)))
    Files.writeString(Paths.get(opt("out")), Json.write(out))
    spark.stop()
  }

  /** The session the workloads run in: `slots` task slots (the generator
    * thread takes the remaining core), the RocksDB state store with
    * changelog checkpointing as the library's own benchmark configures it,
    * and every scratch directory inside the run's work directory. */
  private def session(work: String, slots: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The JVM's resident-set high-water mark (`VmHWM`), in MiB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Wall-clock milliseconds with nanosecond resolution: one epoch anchor,
  * advanced by `System.nanoTime`, so bench spans line up with Spark's
  * epoch-millisecond progress and listener timestamps. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = fromNanos(System.nanoTime())
  def fromNanos(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6
}

/** Minimal JSON writer for the raw result file (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case a: Array[_] => write(a.toSeq)
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
