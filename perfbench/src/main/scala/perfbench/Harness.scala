package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry
import graft.job.TableStreamJob
import graft.model.GraftEvent
import graft.ops.Windows
import graft.runner.{GraftConfig, SparkRunner}
import graft.streaming.TtlDedup
import graft.util.{CacheBin, GraftMetrics}
import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One event of the stream workload's input files. */
final case class BenchEvent(event_id: String, user: String, ts: java.sql.Timestamp,
    value: Double) extends GraftEvent {
  def $id: String = event_id
  def $key: String = user
  def $timestamp: Long = ts.getTime
}

/** Workload definitions. Each batch workload is an ordered query list run
  * once per pass; see perfbench/README.md for why each list was chosen. */
object Workloads {
  val batch: Map[String, Seq[String]] = Map(
    "core_sql" -> Seq("core_market_share", "core_pricing_summary",
      "core_semi_join", "core_anti_join", "core_grouping_sets", "text_lm_score"))
  val stream = "stream_events"
  val names: Seq[String] = (batch.keys.toSeq :+ stream).sorted
}

/** Listener that records every Spark job and stage with summed task
  * metrics. It is attached only during traced passes. */
final class JobRecorder extends SparkListener {
  final class StageAcc(val id: Int) {
    var submitted, completed = 0L
    var tasks, failedTasks = 0
    var runMs, deserMs, gcMs, fetchWaitMs = 0L
    var cpuNs, shuffleWrite, shuffleRead, spill = 0L
  }
  final case class Job(id: Int, group: String, start: Long, stages: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAcc]()
  private def stage(id: Int) = stages.computeIfAbsent(id, i => new StageAcc(i))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.put(e.jobId, Job(e.jobId, group.getOrElse(""), e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized {
      s.submitted = e.stageInfo.submissionTime.getOrElse(0L)
      s.completed = e.stageInfo.completionTime.getOrElse(0L)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    s.synchronized {
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.deserMs += m.executorDeserializeTime
        s.gcMs += m.jvmGCTime
        s.cpuNs += m.executorCpuTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      }
    }
  }

  def toJson: JList[AnyRef] = {
    val out = new JList[AnyRef]()
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      out.add(Harness.obj("id" -> j.id, "group" -> j.group, "start_ms" -> j.start,
        "end_ms" -> j.end, "stages" -> Harness.list(j.stages.sorted.flatMap(i => Option(stages.get(i))).map { s =>
          s.synchronized {
            Harness.obj("id" -> s.id, "submitted_ms" -> s.submitted, "completed_ms" -> s.completed,
              "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks, "run_ms" -> s.runMs,
              "cpu_ns" -> s.cpuNs, "deser_ms" -> s.deserMs, "gc_ms" -> s.gcMs,
              "shuffle_write_b" -> s.shuffleWrite, "shuffle_read_b" -> s.shuffleRead,
              "spill_b" -> s.spill, "fetch_wait_ms" -> s.fetchWaitMs)
          }
        })))
    }
    out
  }
}

/** Queues every streaming progress event until the pass reads them. */
final class ProgressRecorder extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Runs one workload in this JVM and writes a JSON record of everything it
  * measured (`record.json` in the output directory). The orchestrator,
  * perfbench/run.py, turns the record into metrics and checks the outputs.
  *
  * Protocol: untimed warm-up passes, then timed passes until `seconds`
  * have elapsed. Every pass runs as one SparkRunner job. With tracing on,
  * passes alternate between untraced and traced (job listener attached),
  * so the record carries both and the tracing overhead can be taken. */
object Harness {
  private val mapper = new ObjectMapper()


  def obj(kv: (String, Any)*): JMap[String, AnyRef] = {
    val m = new JMap[String, AnyRef]()
    kv.foreach { case (k, v) => m.put(k, v.asInstanceOf[AnyRef]) }
    m
  }
  def list(xs: Iterable[AnyRef]): JList[AnyRef] = new JList[AnyRef](xs.asJavaCollection)

  private def now(): Long = System.currentTimeMillis()

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole driver process (all threads), ns. */
  def cpuNs(): Long = os.getProcessCpuTime
  private def secs(ns: Long): Double = ns / 1e9

  /** Order-free digest of a result, equal for equal row multisets. */
  def digest(rows: Array[Row]): String =
    java.util.HexFormat.of().formatHex(java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.map(_.toString).sorted.mkString("\n").getBytes("UTF-8")))

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Heap still in use after a full collection: what the run keeps
    * (persisted artifacts, caches, session state), free of GC timing.
    * Spark frees broadcast and shuffle blocks asynchronously once their
    * owners are collected, so a second collection follows that cleanup.
    * Taken after the window: the first pass after these collections ran
    * up to 15% slower than the pass before them. */
  private def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    Thread.sleep(1000)
    System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def storage(spark: SparkSession): JMap[String, AnyRef] = {
    val cached = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    obj("rdds" -> cached.length, "bytes" -> cached.map(r => r.memSize + r.diskSize).sum)
  }

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete()
  }

  final case class Args(workload: String, tier: String, events: String, out: String,
      seconds: Double, trace: Boolean, windowS: Int, watermarkDelayS: Int)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("tier"), need("events"), need("out"),
      need("seconds").toDouble, need("trace") == "1", need("window_s").toInt,
      need("watermark_delay_s").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.names.contains(a.workload),
      s"unknown workload ${a.workload}; known: ${Workloads.names.mkString(", ")}")
    val out = new File(a.out)
    out.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors
    val record = obj("workload" -> a.workload, "cores" -> cores, "traced" -> a.trace)
    val w = if (a.workload == Workloads.stream) new StreamWorkload(a, cores)
      else new BatchWorkload(a, cores, Workloads.batch(a.workload))
    w.run(record)
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(out, "record.json"), record)
  }

  /** Shared pass loop; subclasses define one pass and the checked output. */
  abstract class Workload(val a: Args, val cores: Int) {
    /** Untimed passes before the window. The first pass pays codegen and
      * first-touch artifact builds; the JIT keeps speeding passes up for
      * a few more. On a 4-core host core_sql passes ran 13 s, 3.6, 3.5,
      * 3.2, 2.8, 2.6, then 2.4-2.6 s; stream passes 15.8 s, 7.1, 6.0,
      * 5.9, then 4.5-5.4 s. */
    val warmupPasses: Int

    val recorder = new JobRecorder
    val passes = new JList[AnyRef]()
    var spark: SparkSession = _

    def config(mode: String, extra: String = ""): GraftConfig =
      GraftConfig(Array(a.workload),
        s"""master = local[$cores]
           |shuffle.partitions = $cores
           |runtime.mode = $mode
           |""".stripMargin + extra)

    /** One pass; returns the pass record. Pass 0 is the first warm-up,
      * whose outputs run.py checks. */
    def pass(index: Int, traced: Boolean): JMap[String, AnyRef]
    /** Writes what run.py checks: warm-up outputs and oracle inputs. */
    def writeOutputs(record: JMap[String, AnyRef]): Unit

    def session(): SparkSession

    def run(record: JMap[String, AnyRef]): Unit = {
      val t0 = System.nanoTime()
      spark = session()
      spark.sparkContext.setLogLevel("WARN")
      record.put("session_s", Double.box(secs(System.nanoTime() - t0)))
      GraftMetrics.register(spark)
      var attached = a.trace
      if (attached) spark.sparkContext.addSparkListener(recorder)
      (0 until warmupPasses).foreach(i => passes.add(pass(i, a.trace)))
      record.put("warmup_passes", Int.box(warmupPasses))
      record.put("setup_end_ms", Long.box(now()))
      val start = System.nanoTime()
      var i = warmupPasses
      // a pass starts only while the window is open. Traced runs order
      // passes untraced, traced, traced, untraced, ... (at least four), so
      // warming over the run does not bias the tracing overhead
      while (secs(System.nanoTime() - start) < a.seconds || (a.trace && i < warmupPasses + 4)) {
        val k = i - warmupPasses
        val traced = a.trace && (k % 4 == 1 || k % 4 == 2)
        if (a.trace && traced != attached) {
          // undelivered events of the previous pass must reach the recorder
          BenchAccess.drainListenerBus(spark.sparkContext)
          if (traced) spark.sparkContext.addSparkListener(recorder)
          else spark.sparkContext.removeSparkListener(recorder)
          attached = traced
        }
        passes.add(pass(i, traced))
        i += 1
      }
      record.put("window_s", Double.box(secs(System.nanoTime() - start)))
      record.put("peak_rss_mb", Double.box(peakRssMb()))
      record.put("memo_after_window", storage(spark))
      record.put("retained_heap_mb", Double.box(retainedHeapMb()))
      BenchAccess.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(recorder)
      record.put("passes", passes)
      if (a.trace) record.put("jobs", recorder.toJson)
      record.put("calib_s", Double.box(calibrate()))
      writeOutputs(record)
      spark.stop()
    }

    /** The legacy bench's host-calibration probe (graft.Bench): a pinned,
      * data-blind job, here over a quarter of its rows to save run time.
      * Timed once, after the window, for host-drift context only; it is
      * not an end-to-end metric. */
    private def calibrate(): Double = {
      import org.apache.spark.sql.functions.expr
      val t0 = System.nanoTime()
      spark.range(0L, 500000000L, 1L, 32).select(expr("bit_xor(xxhash64(id))")).collect()
      secs(System.nanoTime() - t0)
    }
  }

  /** Runner for batch workloads: `invoke` runs the body given to `process`. */
  final class PassRunner(conf: GraftConfig, body: () => Unit) extends SparkRunner[BenchEvent](conf) {
    override def invoke(jobName: String): Unit = body()
  }

  final class BatchWorkload(a: Args, cores: Int, queries: Seq[String]) extends Workload(a, cores) {
    val warmupPasses = 5
    private val first = scala.collection.mutable.Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]

    override def session(): SparkSession = new PassRunner(config("batch"), () => ()).spark

    override def pass(index: Int, traced: Boolean): JMap[String, AnyRef] = {
      val ops = new JList[AnyRef]()
      val entered = System.nanoTime()
      val c0 = cpuNs()
      val t0 = now()
      var firstOp = -1L
      val runner = new PassRunner(config("batch"), () =>
        queries.zipWithIndex.foreach { case (q, k) =>
          if (firstOp < 0) firstOp = System.nanoTime()
          ops.add(runQuery(q, s"$index:$k", index == 0))
        })
      runner.process()
      val t1 = now()
      obj("index" -> index, "traced" -> traced, "start_ms" -> t0, "end_ms" -> t1,
        "wall_s" -> (t1 - t0) / 1e3, "cpu_s" -> secs(cpuNs() - c0),
        "runner_start_s" -> secs(firstOp - entered), "ops" -> ops)
    }

    private def runQuery(q: String, group: String, keep: Boolean): JMap[String, AnyRef] = {
      val sc = spark.sparkContext
      sc.setJobGroup(group, q, interruptOnCancel = false)
      val s0 = now()
      val c0 = cpuNs()
      val t0 = System.nanoTime()
      var t1, t2 = t0
      val res = try {
        val rows = CacheBin.withScope {
          val df = SparkEntry.queries(q)(spark, a.tier)
          t1 = System.nanoTime()
          df.queryExecution.executedPlan
          t2 = System.nanoTime()
          val r = df.collect()
          if (keep) first(q) = (r, df.schema)
          r
        }
        Right(rows)
      } catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      val t3 = System.nanoTime()
      sc.clearJobGroup()
      if (t1 == t0) t1 = t3
      if (t2 == t0) t2 = t3
      val base = obj("name" -> q, "group" -> group, "start_ms" -> s0,
        "build_s" -> secs(t1 - t0), "plan_s" -> secs(t2 - t1), "exec_s" -> secs(t3 - t2),
        "wall_s" -> secs(t3 - t0), "cpu_s" -> secs(cpuNs() - c0))
      res match {
        case Right(rows) => base.put("rows", Int.box(rows.length)); base.put("digest", digest(rows))
        case Left(err) => base.put("error", err)
      }
      base
    }

    override def writeOutputs(record: JMap[String, AnyRef]): Unit = {
      val oracle = SparkEntry.oracleSql
      record.put("oracle_sql", obj(queries.filter(oracle.contains).map(q => q -> oracle(q)): _*))
      record.put("no_oracle", list(queries.filter(SparkEntry.noOracle).map(q => q: AnyRef)))
      first.foreach { case (q, (rows, schema)) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(new File(a.out, s"results/$q").getPath)
      }
    }
  }

  /** Stream workload: a SparkRunner-configured file-source job. Each pass
    * drains every event file with a fresh checkpoint and sink. */
  final class StreamWorkload(a: Args, cores: Int) extends Workload(a, cores) {
    val warmupPasses = 4
    private val progress = new ProgressRecorder
    private implicit val enc: Encoder[BenchEvent] = Encoders.product[BenchEvent]

    private def streamConfig(index: Int): GraftConfig = {
      val dir = new File(a.out, s"stream/p$index").getAbsolutePath
      config("streaming",
        s"""checkpoint.dir = $dir/ck
           |sources.events.connector = file
           |sources.events.path = ${new File(a.events).getAbsolutePath}
           |sources.events.format = parquet
           |sources.events.schema = event_id STRING, user STRING, ts TIMESTAMP, value DOUBLE
           |sources.events.maxFilesPerTrigger = 1
           |sinks.windows.connector = file
           |sinks.windows.path = $dir/sink
           |sinks.windows.format = parquet
           |""".stripMargin)
    }

    final class EventsRunner(conf: GraftConfig) extends SparkRunner[BenchEvent](conf) {
      override def invoke(jobName: String): Unit =
        new TableStreamJob[BenchEvent, BenchEvent](this) {
          override def transform: Dataset[BenchEvent] =
            TtlDedup(singleSource[BenchEvent]("events"), null)
          // transformWithState output carries no event-time column, so the
          // watermark is declared after the dedup, where the windows need it
          override protected def toRowFrame(out: Dataset[BenchEvent]): DataFrame =
            Windows.tumbling(out.withWatermark("ts", s"${a.watermarkDelayS} seconds"), col("ts"),
              col("user"), s"${a.windowS} seconds", col("value"))
        }.run()
    }

    override def session(): SparkSession = new EventsRunner(streamConfig(0)).spark

    override def pass(index: Int, traced: Boolean): JMap[String, AnyRef] = {
      if (index == 0) spark.streams.addListener(progress)
      val dir = new File(a.out, s"stream/p$index")
      rm(dir)
      val c0 = cpuNs()
      val t0 = now()
      val runner = new EventsRunner(streamConfig(index))
      runner.process()
      val t1 = now()
      val c1 = cpuNs()
      BenchAccess.drainListenerBus(spark.sparkContext)
      val batches = new JList[AnyRef]()
      var queryId = ""
      var p = progress.progress.poll()
      while (p != null) {
        queryId = p.id.toString
        val ops = p.stateOperators
        batches.add(obj("batch" -> p.batchId, "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "rows" -> p.numInputRows, "duration_ms" -> obj(p.durationMs.asScala.toSeq.map { case (k, v) => k -> v }: _*),
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum, "state_update_ms" -> ops.map(_.allUpdatesTimeMs).sum,
          "state_rows" -> ops.map(_.numRowsTotal).sum, "state_memory_b" -> ops.map(_.memoryUsedBytes).sum,
          "dropped_by_watermark" -> ops.map(_.numRowsDroppedByWatermark).sum,
          "sink_rows" -> Option(p.sink).map(_.numOutputRows).getOrElse(-1L)))
        p = progress.progress.poll()
      }
      val sinkRows = spark.read.parquet(new File(dir, "sink").getPath).collect()
      // the warm-up sink stays for run.py's check; later ones only need a digest
      if (index > 0) rm(dir)
      val firstBatch = batches.asScala.headOption.map(_.asInstanceOf[JMap[String, AnyRef]].get("start_ms").asInstanceOf[Long])
      obj("index" -> index, "traced" -> traced, "start_ms" -> t0, "end_ms" -> t1,
        "wall_s" -> (t1 - t0) / 1e3, "cpu_s" -> secs(c1 - c0),
        "runner_start_s" -> firstBatch.fold(-1.0)(b => (b - t0) / 1e3),
        "batches" -> batches, "late_rows_dropped" -> GraftMetrics.register(spark).lateRowsDropped(queryId),
        "sink_rows" -> sinkRows.length, "digest" -> digest(sinkRows))
    }

    override def writeOutputs(record: JMap[String, AnyRef]): Unit = ()
  }
}
