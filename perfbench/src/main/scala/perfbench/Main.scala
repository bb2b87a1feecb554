package perfbench

import graft.{BenchHarness, Caches, SparkEntry}
import graft.config.{CollectionConfig, Connections, Settings}
import graft.streaming.{ChangeStreamJob, Connector}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** What one workload run measured. `e2e` holds the end-to-end metrics,
  * taken from untraced operations only; `layers` holds the per-layer
  * metrics, filled only by a traced run.
  */
final case class Result(attempted: Long, failed: Long, checksPassed: Boolean,
                        e2e: Map[String, Double], layers: Map[String, Double],
                        notes: Seq[String])

/** The benchmark's JVM side. `run.py` builds the classpath and launches
  *
  *   perfbench.Main <mode> key=value...
  *
  * with mode `prep` (write the registry tables), `pin` (print the registry
  * queries' output fingerprints) or a workload name. A workload prints its
  * figures as one `PERFBENCH_RESULT <json>` line on stdout.
  */
object Main {

  /** The registry workload's queries: the reference-derived change-event
    * and resume-token queries (graft.events), all oracle-checked.
    */
  val RegistryQueries: Seq[String] = Seq(
    "change_events_json", "publish_payload", "publish_dedup", "pre_post_images",
    "props_extract", "cdc_apply", "fanout_routing", "resume_tokens_last",
    "resume_tokens_upsert", "resume_after", "resume_tokens_capped", "resume_tokens_clean")

  final case class Conf(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing argument $k="))
    def seed: Long = apply("seed").toLong
    def seconds: Double = apply("seconds").toDouble
    def trace: Boolean = apply("trace") == "1"
    def cpus: String = apply("cpus")
    def work: String = apply("work")
    def data: String = apply("data")

    /** Timed passes (registry) or drains (connector): one per `UnitSeconds`
      * of `--seconds`, at least `min`. A count fixed before the run, not a
      * loop until the time is up: with whole units, a loop's count flipped
      * between runs whenever a unit took about seconds / k, and the first,
      * least warm units weighed more in the runs that fit fewer.
      */
    def units(min: Int): Int = math.max(min, (seconds / UnitSeconds).toInt)
  }

  /** A registry pass or a drain takes about this long on a 4-core host. */
  val UnitSeconds = 6.0

  def main(args: Array[String]): Unit = {
    val conf = Conf(args.drop(1).map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap)
    args(0) match {
      case "prep" =>
        val spark = BenchHarness.session(conf.cpus)
        DataGen.generate(spark, conf.data, conf("scale").toDouble)
        spark.stop()
      case "pin" =>
        val spark = BenchHarness.session(conf.cpus)
        val pins = RegistryQueries.map { q =>
          Caches.clear(spark)
          val (n, h) = Checks.fingerprint(SparkEntry.queries(q)(spark, conf.data))
          s""""$q": {"rows": $n, "hash": "$h"}"""
        }
        println("PERFBENCH_PINS {" + pins.mkString(", ") + "}")
        spark.stop()
      case w =>
        val r = w match {
          case "registry_floor" => registry(conf)
          case "connector_drain" => drain(conf)
          case other => sys.error(s"unknown workload $other")
        }
        emit(r)
    }
  }

  private def emit(r: Result): Unit = {
    phase("checks")
    def obj(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${if (v.isNaN) "null" else v.toString}""" }
        .mkString("{", ", ", "}")
    val notes = r.notes.map(n => "\"" + n.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ", ", "]")
    println(s"""PERFBENCH_RESULT {"attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""checks_passed": ${r.checksPassed}, "e2e": ${obj(r.e2e)}, "layers": ${obj(r.layers)}, """ +
      s""""peak_rss_mb": ${peakRssMb()}, "notes": $notes}""")
  }

  /** The process's peak resident set (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  private def ms(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e6

  /** Log the seconds since JVM start at which a run phase ended. */
  private def phase(name: String): Unit = System.err.println(
    f"[perfbench] $name done at ${(System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s")

  /** Set up `reps` times and keep the last session: each set-up creates the
    * session and runs `warm` in it; all but the last are stopped again.
    * Returns the session and each set-up's seconds, steal taken out.
    */
  private def setUp(conf: Conf, reps: Int)(warm: (SparkSession, Int) => Unit): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val secs = (1 to reps).map { i =>
      val w = new Stopwatch
      spark = BenchHarness.session(conf.cpus)
      warm(spark, i)
      val s = w.stop().ms / 1e3
      if (i < reps) spark.stop()
      s
    }
    (spark, secs)
  }

  private val SetupReps = 3

  private def layerDefaults: Map[String, Double] = Seq(
    "registry.build_s", "registry.build_jobs", "plans.analysis_s", "plans.optimization_s",
    "plans.planning_s", "sched.jobs", "sched.stages", "sched.tasks", "sched.job_span_s",
    "sched.driver_gap_s", "tasks.run_s", "tasks.cpu_s", "tasks.gc_s", "scan.bytes", "scan.rows",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s", "shuffle.spill_bytes",
    "caches.clear_s", "caches.resident_rdds", "caches.resident_bytes",
    "source.latest_offset_ms", "source.get_batch_ms", "source.rows_per_epoch",
    "checkpoint.wal_commit_ms", "checkpoint.commit_offsets_ms", "publish.add_batch_ms",
    "stream.query_planning_ms", "stream.jobs_per_epoch", "state.rows_total", "state.memory_bytes",
    "state.commit_ms", "harness.cpu_steal_frac",
    "baseline.drain_1core_events_per_s", "trace.overhead_ms",
    "self.workload_s", "self.op_s", "self.build_s", "self.execute_s", "self.job_s", "self.stage_s"
  ).map(_ -> 0.0).toMap

  /** Per-op averages of the tracer's scheduler, task and plan counters. */
  private def counterLayers(t: Tracer, ops: Int): Map[String, Double] = Seq(
    "sched.jobs", "sched.stages", "sched.tasks", "tasks.run_s", "tasks.cpu_s", "tasks.gc_s",
    "scan.bytes", "scan.rows", "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
    "shuffle.spill_bytes", "plans.analysis_s", "plans.optimization_s", "plans.planning_s"
  ).map(k => k -> t.counter(k) / math.max(ops, 1)).toMap

  private def selfLayers(t: Tracer): Map[String, Double] =
    t.selfTimes().map { case (kind, s) => s"self.${kind}_s" -> s }

  private def writeTrace(conf: Conf, name: String, t: Tracer): Unit = {
    val path = s"${conf.work}/trace/$name-${conf.seed}.json"
    t.writeJson(path)
    System.err.println(s"[perfbench] spans written to $path")
  }

  // ---------------------------------------------------------------- registry

  private def registry(conf: Conf): Result = {
    val (spark, setups) = setUp(conf, SetupReps) { (s, _) =>
      SparkEntry.queries("resume_tokens_last")(s, conf.data).write.format("noop").mode("overwrite").save()
    }
    phase("set-up")
    val sc = spark.sparkContext
    val notes = ArrayBuffer[String]()

    // Output check, outside the timed passes: row count and content hash of
    // each query against the pins. The queries run `cpus` at a time: this
    // pass is untimed, and compiling them concurrently shortens every run by
    // several seconds.
    val pins = Pins.load(conf("pins"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(conf.cpus.toInt)
    val checked = try RegistryQueries.map { q =>
      q -> pool.submit(() => try Right(Checks.fingerprint(SparkEntry.queries(q)(spark, conf.data)))
        catch { case NonFatal(e) => Left(e.getMessage) })
    }.map { case (q, f) => q -> f.get() } finally pool.shutdown()
    Caches.clear(spark)
    val wrong = checked.collect {
      case (q, Left(err)) => notes += s"$q failed in the check: $err"; q
      case (q, Right(got)) if !pins.get(q).contains(got) =>
        notes += s"$q output $got != pinned ${pins.get(q)}"; q
    }.toSet

    phase("output check")
    // One untimed pass as the timed ones run, so they measure the warm
    // per-query floor: after the check pass alone, the first timed pass
    // still ran 10-50% slower per query while the JIT caught up.
    RegistryQueries.foreach { q =>
      Caches.clear(spark)
      try SparkEntry.queries(q)(spark, conf.data).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => () } // counted in the check pass and the timed passes
    }
    phase("warm-up pass")
    val tracer = new Tracer(spark)
    val rng = new java.util.Random(conf.seed)
    final case class Op(name: String, t: Timing, traced: Boolean)
    val ops = ArrayBuffer[Op]()
    var failed = 0L
    var tracedOps = 0
    var buildS, jobSpanS, gapS, clearS, residentRdds, residentBytes, buildJobs = 0.0
    val workloadSpan = tracer.nextId()
    val wl0 = System.currentTimeMillis()
    // A traced run traces each query in every other pass, half of them in
    // the first pass, so traced and untraced runs of a query pair up with
    // the same mix of warm-up.
    val steal0 = Steal.sample()
    val passes = conf.units(if (conf.trace) 2 else 1)
    for (pass <- 0 until passes) {
      val order = RegistryQueries.toArray
      for (i <- order.indices.reverse) {
        val j = rng.nextInt(i + 1); val x = order(i); order(i) = order(j); order(j) = x
      }
      order.foreach { q =>
        val traced = conf.trace && (RegistryQueries.indexOf(q) + pass) % 2 == 1
        if (traced) tracer.attach()
        val c0 = System.nanoTime()
        Caches.clear(spark)
        val clearMs = ms(c0)
        val opId = tracer.nextId(); val buildId = tracer.nextId(); val execId = tracer.nextId()
        val w0 = System.currentTimeMillis()
        val watch = new Stopwatch
        val a = System.nanoTime()
        try {
          sc.setLocalProperty(tracer.SpanKey, buildId.toString)
          val df = SparkEntry.queries(q)(spark, conf.data)
          val w1 = System.currentTimeMillis()
          val b = System.nanoTime()
          sc.setLocalProperty(tracer.SpanKey, execId.toString)
          df.write.format("noop").mode("overwrite").save()
          val t = watch.stop()
          val w2 = System.currentTimeMillis()
          ops += Op(q, t, traced)
          System.err.println(f"[perfbench] pass $pass $q%-22s ${(b - a) / 1e6}%8.1f ms build " +
            f"${t.wallMs}%8.1f ms wall ${t.ms}%8.1f ms ${t.cpuMs}%8.1f ms cpu")
          if (wrong(q)) failed += 1
          if (traced) {
            tracedOps += 1
            residentRdds += sc.getPersistentRDDs.size
            residentBytes += sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
            clearS += clearMs / 1e3
            buildS += (b - a) / 1e9
            tracer.spans.add(Span(opId, workloadSpan, "op", q, w0, w2))
            tracer.spans.add(Span(buildId, opId, "build", q, w0, w1))
            tracer.spans.add(Span(execId, opId, "execute", q, w1, w2))
          }
        } catch { case NonFatal(e) =>
          ops += Op(q, watch.stop(), traced)
          failed += 1
          notes += s"$q failed: ${e.getMessage}"
        } finally sc.setLocalProperty(tracer.SpanKey, null)
        if (traced) tracer.detach()
      }
    }
    val steal = Steal.since(steal0)
    phase("timed passes")
    val untracedOps = ops.filterNot(_.traced).toSeq
    val untraced = untracedOps.map(_.t.ms)
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "op_p50_ms" -> Stats.median(untraced),
      "op_p90_ms" -> Stats.pct(untraced, 90),
      // the mean: CPU time is counted in clock ticks, and JIT and GC threads
      // burn it in bursts that land on single ops
      "op_cpu_ms" -> untracedOps.map(_.t.cpuMs).sum / untracedOps.length,
      // queries per second of query time (cache clearing between is not in it)
      "throughput_per_s" -> untraced.length / (untraced.sum / 1e3))
    notes += f"${ops.length} ops in $passes passes, ${untraced.length} untraced; " +
      f"wall p50 ${Stats.median(untracedOps.map(_.t.wallMs))}%.1f ms; " +
      f"setups ${setups.map(s => f"$s%.2f").mkString(" ")} s; CPU steal ${steal * 100}%.1f%%"

    var layers = layerDefaults + ("harness.cpu_steal_frac" -> steal)
    if (conf.trace) {
      tracer.spans.add(Span(workloadSpan, 0, "workload", "registry_floor", wl0, System.currentTimeMillis()))
      // driver gap and job span per op, from the execute spans' jobs
      val execs = tracer.spans.asScala.toSeq.filter(_.kind == "execute")
      execs.foreach { e =>
        val u = tracer.jobUnionMs(e.id)
        jobSpanS += u / 1e3
        gapS += (e.endMs - e.startMs - u) / 1e3
      }
      tracer.spans.asScala.toSeq.filter(_.kind == "build").foreach(b => buildJobs += tracer.jobsUnder(b.id))
      val n = math.max(tracedOps, 1)
      def mean(xs: Seq[Op]) = xs.map(_.t.ms).sum / xs.length
      val paired = ops.toSeq.groupBy(_.name).values.collect {
        case xs if xs.exists(_.traced) && xs.exists(!_.traced) =>
          mean(xs.filter(_.traced)) - mean(xs.filterNot(_.traced))
      }.toSeq
      layers ++= counterLayers(tracer, tracedOps) ++ selfLayers(tracer) ++ Map(
        "registry.build_s" -> buildS / n, "registry.build_jobs" -> buildJobs / n,
        "sched.job_span_s" -> jobSpanS / n, "sched.driver_gap_s" -> gapS / n,
        "caches.clear_s" -> clearS / n, "caches.resident_rdds" -> residentRdds / n,
        "caches.resident_bytes" -> residentBytes / n,
        "trace.overhead_ms" -> Stats.median(paired))
      writeTrace(conf, "registry_floor", tracer)
    }
    spark.stop()
    Result(ops.length.toLong, failed, wrong.isEmpty, e2e, layers, notes.toSeq)
  }

  // --------------------------------------------------------------- connector

  private def collections(conf: Conf): Vector[CollectionConfig] = {
    val yaml = new String(Files.readAllBytes(Paths.get(conf("config"))), StandardCharsets.UTF_8)
    Settings.parseCollections(yaml).fold(e => sys.error(e), identity)
  }

  /** Drain each collection's feed under `feedRoot` into fresh queues under
    * `sinkRoot`, one collection after the other, through the library facade
    * (`Connector.connect`: JsonDirSource → ParquetQueuePublisher under
    * AvailableNow, with the collection's pre/post-images setting).
    */
  private def drainAll(spark: SparkSession, colls: Seq[CollectionConfig], feedRoot: String,
                       sinkRoot: String): Seq[org.apache.spark.sql.streaming.StreamingQuery] =
    colls.map { c =>
      val q = Connector.fromCollection(spark, Connections(feedRoot, sinkRoot), c).connect()
      q.awaitTermination()
      q
    }

  /** For each queue in `queues` (missing ones read as empty): events
    * missing, events repeated (ids should be 0 until n, once each) and, for
    * a collection with pre/post images, events whose before-image is not
    * the previous image of their key, recomputed from the generated feed
    * `feedDir`. One pass over all the queues of a collection.
    */
  private def queueErrors(spark: SparkSession, c: CollectionConfig, queues: Seq[String],
                          feedDir: String, n: Long): Seq[(String, Long)] = {
    val present = queues.zipWithIndex.filter { case (q, _) => Files.exists(Paths.get(q)) }
    if (present.isEmpty) return queues.map(_ -> n)
    val all = present.map { case (q, i) => spark.read.parquet(q).withColumn("queue", lit(i)) }
      .reduce(_ unionByName _)
    val counts = all.groupBy("queue")
      .agg(count(lit(1)), countDistinct(col("event_id")),
        sum(when(col("event_id") < 0 || col("event_id") >= n, 1).otherwise(0)))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val wrongBefore = if (!c.watched.preAndPostImages) Map.empty[Int, Long] else {
      val feed = spark.read.schema(ChangeStreamJob.eventSchema).json(feedDir)
      val expected = ChangeStreamJob.toChangeEvents(feed, c.watched.dbName, c.watched.collName)
        .withColumn("expected", lag("full_document", 1).over(
          Window.partitionBy("document_key").orderBy("event_id")))
        .select("event_id", "expected")
      all.join(expected, Seq("event_id"))
        .where(!(col("full_document_before_change") <=> col("expected")))
        .groupBy("queue").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    queues.indices.map { i =>
      val errors = counts.get(i) match {
        case None => n
        case Some((total, distinct, outOfRange)) =>
          (n - (distinct - outOfRange)) + (total - distinct + outOfRange) + wrongBefore.getOrElse(i, 0L)
      }
      queues(i) -> errors
    }
  }

  private def streamLayers(epochs: Seq[Epoch], t: Tracer): Map[String, Double] = {
    def avg(f: Epoch => Double) = if (epochs.isEmpty) 0.0 else epochs.map(f).sum / epochs.length
    def d(k: String)(e: Epoch) = e.durations.getOrElse(k, 0L).toDouble
    val keys = epochs.map(e => (e.queryId, e.batchId)).toSet
    val jobs = t.streamJobs.asScala.count(keys)
    Map(
      "source.latest_offset_ms" -> avg(d("latestOffset")), "source.get_batch_ms" -> avg(d("getBatch")),
      "source.rows_per_epoch" -> avg(_.inputRows.toDouble),
      "checkpoint.wal_commit_ms" -> avg(d("walCommit")),
      "checkpoint.commit_offsets_ms" -> avg(d("commitOffsets")),
      "publish.add_batch_ms" -> avg(d("addBatch")),
      "stream.query_planning_ms" -> avg(d("queryPlanning")),
      "stream.jobs_per_epoch" -> jobs.toDouble / math.max(epochs.length, 1),
      "state.rows_total" -> avg(_.stateRows.toDouble), "state.memory_bytes" -> avg(_.stateMemory.toDouble),
      "state.commit_ms" -> avg(_.stateCommitMs.toDouble))
  }

  /** Epoch spans under the workload span; streaming jobs hang under them. */
  private def epochSpans(t: Tracer, epochs: Seq[Epoch], parent: Long): Unit = {
    val ids = epochs.map { e =>
      val id = t.nextId()
      t.spans.add(Span(id, parent, "op", s"${e.queryName}#${e.batchId}", e.startMs, e.endMs))
      (e.queryId, e.batchId) -> id
    }.toMap
    t.linkEpochs(ids)
  }

  private def drain(conf: Conf): Result = {
    val colls = collections(conf)
    val run = conf("run")
    val (spark0, setups) = setUp(conf, SetupReps) { (s, i) =>
      drainAll(s, colls, conf("warmfeed"), s"$run/warm-$i")
    }
    phase("set-up")
    var spark = spark0
    // One untimed drain of the full feed first, so the timed drains run on
    // compiled code, as the registry's check pass does for its queries.
    drainAll(spark, colls, conf("feed"), s"$run/drain-warm")
    phase("warm-up drain")
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val tracer = new Tracer(spark)
    val events = colls.map(c => c -> conf(s"events.${c.watched.collName}").toLong).toMap
    val n = events.values.sum
    final case class Drain(queryIds: Seq[String], sink: String, t: Timing, traced: Boolean)
    val drains = ArrayBuffer[Drain]()
    val notes = ArrayBuffer[String]()
    val workloadSpan = tracer.nextId()
    val wl0 = System.currentTimeMillis()
    val steal0 = Steal.sample()
    // a traced run alternates untraced and traced drains (U, T, U)
    for (i <- 0 until conf.units(if (conf.trace) 3 else 1)) {
      val traced = conf.trace && i % 2 == 1
      if (traced) tracer.attach()
      val sink = s"$run/drain-$i"
      val watch = new Stopwatch
      val qs = drainAll(spark, colls, conf("feed"), sink)
      drains += Drain(qs.map(_.id.toString), sink, watch.stop(), traced)
      if (traced) tracer.detach()
    }
    val steal = Steal.since(steal0)
    Tracer.drainBus(spark)
    phase("timed drains")
    val byQuery = progress.withData.groupBy(_.queryId)
    def epochsOf(ds: Seq[Drain]) = ds.flatMap(_.queryIds.flatMap(byQuery.getOrElse(_, Nil)))
    // epoch times with the steal share of their drain taken out
    def epochMs(ds: Seq[Drain]) = ds.flatMap { d =>
      epochsOf(Seq(d)).map(_.durations.getOrElse("triggerExecution", 0L) * d.t.ms / d.t.wallMs)
    }
    val untraced = drains.filterNot(_.traced).toSeq
    val untracedMs = epochMs(untraced)
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "op_p50_ms" -> Stats.median(untracedMs),
      "op_p90_ms" -> Stats.pct(untracedMs, 90),
      // CPU per epoch: epochs run on the streams' own threads, so this is
      // the drains' CPU time over their epochs
      "op_cpu_ms" -> untraced.map(_.t.cpuMs).sum / math.max(untracedMs.length, 1),
      "throughput_per_s" -> untraced.length * n / (untraced.map(_.t.ms).sum / 1e3))
    notes += f"${drains.length} drains of $n events, ${untracedMs.length} untraced epochs; " +
      f"wall ${untraced.map(_.t.wallMs / 1e3).sum}%.1f s; " +
      f"setups ${setups.map(s => f"$s%.2f").mkString(" ")} s; CPU steal ${steal * 100}%.1f%%"

    // every generated event in each queue exactly once; before-images right
    var failed = 0L
    def check(sinks: Seq[String], cs: Seq[CollectionConfig]): Unit = cs.foreach { c =>
      queueErrors(spark, c, sinks.map(s => s"$s/${c.queue.streamName}"),
        s"${conf("feed")}/${c.watched.collName}", events(c)).foreach { case (queue, errors) =>
        if (errors > 0) notes += s"$queue: $errors events missing, repeated or with a wrong before-image"
        failed += errors
      }
    }
    check(s"$run/drain-warm" +: drains.map(_.sink).toSeq, colls)

    var layers = layerDefaults + ("harness.cpu_steal_frac" -> steal)
    if (conf.trace) {
      val tracedDrains = drains.filter(_.traced).toSeq
      val tracedEpochs = epochsOf(tracedDrains)
      tracer.spans.add(Span(workloadSpan, 0, "workload", "connector_drain", wl0, System.currentTimeMillis()))
      epochSpans(tracer, tracedEpochs, workloadSpan)
      layers ++= counterLayers(tracer, tracedEpochs.length) ++ streamLayers(tracedEpochs, tracer) ++
        selfLayers(tracer) + ("trace.overhead_ms" -> (Stats.median(epochMs(tracedDrains)) - Stats.median(untracedMs)))
      writeTrace(conf, "connector_drain", tracer)
      // the single-thread baseline: one drain of the collection without
      // before-images on a local[1] session
      val plain = colls.filterNot(_.watched.preAndPostImages).take(1)
      spark.stop()
      spark = BenchHarness.session("1")
      val watch = new Stopwatch
      drainAll(spark, plain, conf("feed"), s"$run/drain-1core")
      layers += "baseline.drain_1core_events_per_s" -> plain.map(events).sum / (watch.stop().ms / 1e3)
      check(Seq(s"$run/drain-1core"), plain)
    }
    spark.stop()
    Result((drains.length + 1) * n, failed, failed == 0, e2e, layers, notes.toSeq)
  }
}

/** The registry queries' pinned output fingerprints (`pins.json`). */
object Pins {
  /** Every `"q": {"hash": "h", "rows": n}` entry in the file → q → (n, h). */
  def load(path: String): Map[String, (Long, String)] = {
    val s = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
    val rows = """"rows"\s*:\s*(\d+)""".r
    val hash = """"hash"\s*:\s*"([0-9a-f]+)"""".r
    """"([a-z0-9_]+)"\s*:\s*\{([^{}]*)\}""".r.findAllMatchIn(s).flatMap { m =>
      for (r <- rows.findFirstMatchIn(m.group(2)); h <- hash.findFirstMatchIn(m.group(2)))
        yield m.group(1) -> (r.group(1).toLong, h.group(1))
    }.toMap
  }
}
