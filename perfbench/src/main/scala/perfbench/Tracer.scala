package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One interval at a layer boundary. Times are wall-clock milliseconds, the
  * clock Spark's listener events carry. `parent` is the id of the span that
  * caused this one (0 for the root); a job's parent is resolved at the end
  * from the local properties it was submitted under.
  */
final case class Span(id: Long, var parent: Long, kind: String, name: String,
                      startMs: Long, endMs: Long)

/** Per-epoch figures from one `StreamingQueryProgress`. */
final case class Epoch(queryId: String, queryName: String, batchId: Long, startMs: Long,
                       durations: Map[String, Long], inputRows: Long,
                       stateRows: Long, stateMemory: Long, stateCommitMs: Long) {
  def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** Collects every epoch's progress. Attached in traced and untraced runs
  * alike: the connector workloads read their end-to-end figures (epoch
  * durations, epoch end times) from it.
  */
final class ProgressLog extends StreamingQueryListener {
  val epochs = new ConcurrentLinkedQueue[Epoch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    epochs.add(Epoch(p.id.toString, p.name, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum))
  }
  def withData: Seq[Epoch] = epochs.asScala.toSeq.filter(_.inputRows > 0)
}

/** The traced run's listeners: Spark scheduler events (jobs, stages, task
  * metrics) and Catalyst phase times, kept in memory as spans and counters
  * and written out when the benchmark ends. The benchmark attaches it only
  * while a traced phase runs, so untraced phases pay nothing for it.
  */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  def nextId(): Long = ids.incrementAndGet()

  /** Local property that tags jobs with the benchmark span they belong to. */
  val SpanKey = "perfbench.span"

  private val counters = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  def add(name: String, v: Double): Unit = counters.merge(name, v, (a, b) => a + b)
  def counter(name: String): Double = Option(counters.get(name)).map(_.doubleValue).getOrElse(0.0)

  private val jobParent = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobStream = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpanId = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  /** (queryId, batchId) of every streaming job, for jobs-per-epoch. */
  val streamJobs = new ConcurrentLinkedQueue[(String, Long)]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time)
      jobSpanId.put(e.jobId, nextId())
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      Option(e.properties).foreach { p =>
        Option(p.getProperty(SpanKey)).foreach(jobParent.put(e.jobId, _))
        for (q <- Option(p.getProperty("sql.streaming.queryId"));
             b <- Option(p.getProperty("streaming.sql.batchId"))) {
          jobStream.put(e.jobId, (q, b.toLong))
          streamJobs.add((q, b.toLong))
        }
      }
      add("sched.jobs", 1)
      add("sched.stages", e.stageInfos.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val start = Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
      val parent = Option(jobParent.get(e.jobId)).map(_.toLong).getOrElse(0L)
      spans.add(Span(jobSpanId.get(e.jobId), parent, "job", s"job-${e.jobId}", start, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) {
        val job = Option(stageJob.get(i.stageId))
        val parent = job.flatMap(j => Option(jobSpanId.get(j))).map(_.longValue).getOrElse(0L)
        spans.add(Span(nextId(), parent, "stage", s"stage-${i.stageId}", s, c))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("sched.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("tasks.run_s", m.executorRunTime / 1e3)
        add("tasks.cpu_s", m.executorCpuTime / 1e9)
        add("tasks.gc_s", m.jvmGCTime / 1e3)
        add("scan.bytes", m.inputMetrics.bytesRead.toDouble)
        add("scan.rows", m.inputMetrics.recordsRead.toDouble)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { k =>
        ph.get(k).foreach(p => add(s"plans.${k}_s", p.durationMs / 1e3))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }

  /** Detach, after the listener bus has delivered every event posted so far. */
  def detach(): Unit = {
    Tracer.drainBus(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
  }

  /** Give each streaming job the epoch span it ran in, by (queryId, batchId). */
  def linkEpochs(epochSpan: Map[(String, Long), Long]): Unit = {
    val byJob = spans.asScala.filter(_.kind == "job").map(s => s.name.stripPrefix("job-").toInt -> s).toMap
    jobStream.asScala.foreach { case (job, key) =>
      for (s <- byJob.get(job); p <- epochSpan.get(key)) s.parent = p
    }
  }

  /** Self time per span kind: each span's duration minus the part of its
    * interval that its children cover.
    */
  def selfTimes(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val children = all.groupBy(_.parent)
    all.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val covered = Stats.unionMs(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
        (s.endMs - s.startMs - covered) / 1e3
      }.sum
    }
  }

  /** Union of the spans of the jobs whose parent is `parent`, in ms. */
  def jobUnionMs(parent: Long): Long =
    Stats.unionMs(spans.asScala.toSeq.filter(s => s.kind == "job" && s.parent == parent)
      .map(s => (s.startMs, s.endMs)))

  def jobsUnder(parent: Long): Int = spans.asScala.count(s => s.kind == "job" && s.parent == parent)

  def writeJson(path: String): Unit = {
    val sb = new StringBuilder("[\n")
    spans.asScala.toSeq.sortBy(s => (s.startMs, s.id)).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${s.name}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Tracer {
  /** Wait until every listener event posted so far has been delivered. */
  def drainBus(spark: SparkSession): Unit =
    org.apache.spark.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** The host's CPU steal, from /proc/stat: time a runnable virtual CPU
  * waited while the hypervisor ran other guests. On a shared host it comes
  * and goes with the neighbours' load and stretches every wall time by the
  * same share, whatever the program does.
  */
object Steal {
  /** (steal, busy) jiffies over all CPUs so far; busy counts every state but
    * idle and iowait, steal included.
    */
  def sample(): (Long, Long) = {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong).padTo(8, 0L)
    (f(7), f(0) + f(1) + f(2) + f(5) + f(6) + f(7))
  }

  /** The share of runnable CPU time stolen since `from`. */
  def since(from: (Long, Long)): Double = {
    val (s, b) = sample()
    if (b > from._2) (s - from._1).toDouble / (b - from._2) else 0.0
  }
}

/** One operation's wall time; the same with the stolen share taken out
  * (wall × (1 − steal share over the operation)), which is what the
  * benchmark reports; and the JVM's CPU time over it, all threads. The guest
  * kernel does not count stolen time as the process's CPU time.
  */
final case class Timing(wallMs: Double, ms: Double, cpuMs: Double)

final class Stopwatch {
  private val ns0 = System.nanoTime()
  private val cpu0 = Stopwatch.cpuNs()
  private val steal0 = Steal.sample()
  def stop(): Timing = {
    val wall = (System.nanoTime() - ns0) / 1e6
    Timing(wall, wall * (1 - Steal.since(steal0)), (Stopwatch.cpuNs() - cpu0) / 1e6)
  }
}

object Stopwatch {
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}
