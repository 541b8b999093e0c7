package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** In-memory store for everything a run measures from outside the library:
  * per-task metrics from a `SparkListener` (always on, they are counters),
  * and, while `tracing` is set, spans from the benchmark's own calls into
  * each layer plus job and stage spans from the listener. Nothing is
  * written until the run ends. */
final class Recorder {
  @volatile var tracing = false

  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  // finishMs, runMs, cpuNs, gcMs, peakMemBytes, shuffleWrite, shuffleRead,
  // fetchWaitMs, diskSpillBytes
  private val tasks = new ConcurrentLinkedQueue[Array[Long]]()
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val markersDone = ConcurrentHashMap.newKeySet[Int]()
  private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
  private val MarkerGroup = "perfbench-marker"

  /** Time `body` as a span of `layer` when tracing; a plain call otherwise. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!tracing) body
    else {
      val start = Clock.nowMs
      try body finally add(name, layer, start, Clock.nowMs)
    }

  def add(name: String, layer: String, startMs: Double, endMs: Double,
      attrs: Map[String, Any] = Map.empty): Unit =
    if (tracing) spans.add(Map("name" -> name, "layer" -> layer, "start" -> startMs,
      "end" -> endMs) ++ attrs)

  def allSpans: Seq[Map[String, Any]] = spans.asScala.toSeq

  val listener: SparkListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Array(e.taskInfo.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.peakExecutionMemory,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        add(s"stage ${i.stageId}", "operators", s.toDouble, c.toDouble,
          Map("kind" -> "stage", "tasks" -> i.numTasks))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStartMs.put(e.jobId, e.time)
      if (Option(e.properties).exists(p => p.getProperty("spark.jobGroup.id") == MarkerGroup))
        markerJobs.add(e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobStartMs.get(e.jobId)).foreach(s =>
        add(s"job ${e.jobId}", "operators", s.toDouble, e.time.toDouble, Map("kind" -> "job")))
      if (markerJobs.contains(e.jobId)) markersDone.add(e.jobId)
    }
  }

  /** Block until the listener has delivered every event posted so far: run
    * a one-task marker job and wait for its end event, which the
    * listener bus delivers after everything queued before it. */
  def quiesce(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val before = markersDone.size
    sc.setJobGroup(MarkerGroup, "listener barrier")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (markersDone.size <= before && System.nanoTime() < deadline) Thread.sleep(2)
  }

  /** Task metrics summed over tasks that finished inside [startMs, endMs]. */
  def taskTotals(startMs: Double, endMs: Double): Map[String, Double] = {
    val in = tasks.asScala.filter(t => t(0) >= startMs && t(0) <= endMs).toSeq
    def sum(i: Int) = in.map(_(i).toDouble).sum
    Map(
      "exec.tasks" -> in.size.toDouble,
      "exec.run_ms" -> sum(1),
      "exec.cpu_ms" -> sum(2) / 1e6,
      "exec.gc_ms" -> sum(3),
      "exec.peak_mem_bytes" -> (if (in.isEmpty) 0.0 else in.map(_(4).toDouble).max),
      "shuffle.write_bytes" -> sum(5),
      "shuffle.read_bytes" -> sum(6),
      "shuffle.fetch_wait_ms" -> sum(7),
      "spill.disk_bytes" -> sum(8))
  }
}
