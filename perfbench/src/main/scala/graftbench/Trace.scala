package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.graftbench.BusFlush
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the traced run. Times are epoch milliseconds with
  * sub-millisecond digits; `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Double, end: Double)

/** Everything the benchmark records about one operation. */
final class OpRecord(val id: Int, val kind: String, val form: String,
    val mutating: Boolean) {
  var start = 0.0
  var buildMs = 0.0
  var runMs = 0.0
  var wallMs = 0.0
  var ok = true
  var error = ""
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def add(k: String, v: Double): Unit =
    counters(k) = counters.getOrElse(k, 0.0) + v
}

/** Layer-boundary instrumentation built only from Spark's and Hadoop's
  * public surfaces: a SparkListener (jobs, stages, tasks), a
  * QueryExecutionListener (Catalyst tracker phases and the executed
  * plan's scan metrics), a StreamingQueryListener (micro-batch phases),
  * Hadoop FileSystem statistics for scheme `file`, Spark's codegen
  * counters and the JVM's management beans.
  *
  * With `enabled = false` nothing is registered and [[op]] only times
  * the call, so the untraced run carries no listener cost. Events are
  * attributed to the single operation in flight: the client is one
  * thread in a closed loop, and the listener bus is drained at the end
  * of every operation. */
final class Tracer(val enabled: Boolean) {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def now(): Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private def addSpan(parent: Int, op: Int, name: String, s: Double,
      e: Double): Int = {
    val id = spans.length
    spans += Span(id, parent, op, name, s, e)
    id
  }

  import Tracer._

  // ---- listener inboxes (filled on the bus thread) -------------------

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stageSums = new ConcurrentLinkedQueue[Map[String, Double]]()
  private val execs = new ConcurrentLinkedQueue[Exec]()
  private val batches = new ConcurrentLinkedQueue[Batch]()

  private def drain[T](q: ConcurrentLinkedQueue[T]): List[T] = {
    val b = List.newBuilder[T]
    var x = q.poll()
    while (x != null) { b += x; x = q.poll() }
    b.result()
  }

  private object planHelper extends AdaptiveSparkPlanHelper

  /** Rows out of the topmost plan node that counts them. */
  private def resultRows(plan: SparkPlan): Long =
    planHelper.find(plan)(_.metrics.contains("numOutputRows"))
      .map(_.metrics("numOutputRows").value).getOrElse(0L)

  private def scanStats(plan: SparkPlan): (Long, Long, Double, Long) = {
    var files, rows, relFiles = 0L
    var metaMs = 0.0
    planHelper.collectWithSubqueries(plan) { case p => p }.foreach {
      case s: FileSourceScanExec =>
        files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        metaMs += s.metrics.get("metadataTime").map(_.value.toDouble).getOrElse(0.0)
        relFiles += s.relation.location.inputFiles.length
      case b: BatchScanExec =>
        val n = b.inputPartitions.collect {
          case fp: FilePartition => fp.files.length.toLong
        }.sum
        files += n
        relFiles += n
        rows += b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case _ =>
    }
    (files, rows, metaMs, relFiles)
  }

  def register(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStarts.put(e.jobId, e.time.toDouble)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStarts.remove(e.jobId)).foreach(s =>
          jobs.add(Job(s, e.time.toDouble)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(e.stageInfo.taskMetrics).foreach { m =>
          stageSums.add(Map(
            "exec.stages" -> 1.0,
            "exec.tasks" -> e.stageInfo.numTasks.toDouble,
            "exec.cpu_s" -> m.executorCpuTime / 1e9,
            "exec.task_run_s" -> m.executorRunTime / 1e3,
            "exec.gc_s" -> m.jvmGCTime / 1e3,
            "exec.input_bytes" -> m.inputMetrics.bytesRead.toDouble,
            "exec.shuffle_read_bytes" ->
              (m.shuffleReadMetrics.remoteBytesRead +
                m.shuffleReadMetrics.localBytesRead).toDouble,
            "exec.shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
            "exec.output_bytes" -> m.outputMetrics.bytesWritten.toDouble,
            "exec.fetch_wait_s" -> m.shuffleReadMetrics.fetchWaitTime / 1e3))
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
      private def record(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases.map { case (k, v) =>
          k -> (v.startTimeMs.toDouble, v.endTimeMs.toDouble) }
        val ((f, r, m, rel), out) =
          try (scanStats(qe.executedPlan), resultRows(qe.executedPlan))
          catch { case scala.util.control.NonFatal(_) => ((0L, 0L, 0.0, 0L), 0L) }
        execs.add(Exec(ph, f, r, m, rel, out))
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        batches.add(Batch(start,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
    })
  }

  // ---- process-wide counters, sampled around each op ---------------------
  private def fsStats: Map[String, Double] = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Map(
      "fs.read_ops" -> st.map(_.getReadOps.toDouble).sum,
      "fs.large_read_ops" -> st.map(_.getLargeReadOps.toDouble).sum,
      "fs.write_ops" -> st.map(_.getWriteOps.toDouble).sum,
      "fs.bytes_read" -> st.map(_.getBytesRead.toDouble).sum,
      "fs.bytes_written" -> st.map(_.getBytesWritten.toDouble).sum)
  }
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private def processCounters: Map[String, Double] = fsStats ++ Map(
    "jvm.gc_ms" -> gcBeans.map(_.getCollectionTime.toDouble).sum,
    "jvm.alloc_mb" -> threads.getTotalThreadAllocatedBytes / 1048576.0,
    "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
    "codegen.classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)

  /** Bytes written to scheme `file` so far; read by the space metrics. */
  def bytesWritten: Double = fsStats("fs.bytes_written")

  private var opSeq = 0

  /** Time one operation: `build` returns the value whose evaluation is
    * the operation's action, `run` performs that action. With tracing on,
    * the op's events are drained into `rec.counters` and its spans are
    * kept; `filesTotal` is the number of data files in the snapshot the
    * op reads, when the caller knows it. */
  def op[B, R](kind: String, form: String, mutating: Boolean = false,
      filesTotal: Long = -1)(build: => B)(run: B => R)
      (spark: SparkSession): (OpRecord, Option[R]) = {
    val rec = new OpRecord(opSeq, kind, form, mutating)
    opSeq += 1
    var before = Map.empty[String, Double]
    val p0 = now()
    if (enabled) {
      BusFlush(spark.sparkContext)
      drain(jobs); drain(stageSums); drain(execs); drain(batches)
      before = processCounters
    }
    val s0 = now()
    rec.start = s0
    var result: Option[R] = None
    var s1 = s0
    try {
      val b = build
      s1 = now()
      result = Some(run(b))
    } catch {
      case scala.util.control.NonFatal(e) =>
        rec.ok = false
        rec.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        if (s1 == s0) s1 = now()
    }
    val s2 = now()
    rec.buildMs = s1 - s0
    rec.runMs = s2 - s1
    rec.wallMs = s2 - s0
    if (enabled) {
      rec.add("trace.self_ms", s0 - p0)
      collect(spark, rec, before, s0, s1, s2, filesTotal)
    }
    (rec, result)
  }

  private def collect(spark: SparkSession, rec: OpRecord,
      before: Map[String, Double], s0: Double, s1: Double, s2: Double,
      filesTotal: Long): Unit = {
    val c0 = now()
    BusFlush(spark.sparkContext)
    val after = processCounters
    after.foreach { case (k, v) => rec.add(k, v - before(k)) }
    val opSpan = addSpan(-1, rec.id, s"op.${rec.kind}", s0, s2)
    addSpan(opSpan, rec.id, "build", s0, s1)
    val runSpan = addSpan(opSpan, rec.id, "run", s1, s2)
    rec.add("query.build_ms", s1 - s0)
    rec.add("query.run_ms", s2 - s1)

    val js = drain(jobs)
    rec.add("exec.jobs", js.length)
    rec.add("exec.job_wall_ms", js.map(j => j.end - j.start).sum)
    js.foreach(j => addSpan(if (j.start >= s1) runSpan else opSpan, rec.id,
      "job", j.start, j.end))
    // driver-only time: op wall minus the union of job intervals
    val clipped = js.map(j => (math.max(j.start, s0), math.min(j.end, s2)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var cur = (Double.NaN, Double.NaN)
    clipped.foreach { case (a, b) =>
      if (cur._1.isNaN || a > cur._2) {
        if (!cur._1.isNaN) covered += cur._2 - cur._1
        cur = (a, b)
      } else cur = (cur._1, math.max(cur._2, b))
    }
    if (!cur._1.isNaN) covered += cur._2 - cur._1
    rec.add("driver.only_ms", math.max(0.0, rec.wallMs - covered))

    drain(stageSums).foreach(_.foreach { case (k, v) => rec.add(k, v) })
    Seq("exec.stages", "exec.tasks", "exec.cpu_s", "exec.task_run_s",
      "exec.gc_s", "exec.input_bytes", "exec.shuffle_read_bytes",
      "exec.shuffle_write_bytes", "exec.output_bytes", "exec.fetch_wait_s")
      .foreach(rec.add(_, 0.0))

    val es = drain(execs)
    rec.add("catalyst.executions", es.length)
    Seq("analysis", "optimization", "planning").foreach { ph =>
      rec.add(s"catalyst.${ph}_ms", 0.0)
      es.foreach(_.phases.get(ph).foreach { case (a, b) =>
        rec.add(s"catalyst.${ph}_ms", b - a)
        addSpan(if (a >= s1) runSpan else opSpan, rec.id, s"catalyst.$ph", a, b)
      })
    }
    rec.add("scan.files_read", es.map(_.scanFiles).sum)
    rec.add("scan.rows", es.map(_.scanRows).sum)
    rec.add("plan.result_rows", es.lastOption.map(_.resultRows).getOrElse(0L).toDouble)
    rec.add("scan.metadata_ms", es.map(_.scanMetaMs).sum)
    rec.add("scan.files_total",
      if (filesTotal >= 0) filesTotal.toDouble else es.map(_.relationFiles).sum)

    val bs = drain(batches)
    rec.add("stream.batches", bs.length)
    Seq("triggerExecution" -> "stream.trigger_ms",
      "latestOffset" -> "stream.latest_offset_ms",
      "queryPlanning" -> "stream.query_planning_ms",
      "addBatch" -> "stream.add_batch_ms",
      "walCommit" -> "stream.wal_commit_ms",
      "commitOffsets" -> "stream.commit_offsets_ms").foreach { case (k, n) =>
      rec.add(n, bs.map(_.durations.getOrElse(k, 0L).toDouble).sum)
    }
    bs.foreach(b => addSpan(opSpan, rec.id, "stream.batch", b.start,
      b.start + b.durations.getOrElse("triggerExecution", 0L)))
    rec.add("trace.self_ms", now() - c0)
  }
}

object Tracer {
  private final case class Job(start: Double, end: Double)
  private final case class Exec(phases: Map[String, (Double, Double)],
      scanFiles: Long, scanRows: Long, scanMetaMs: Double,
      relationFiles: Long, resultRows: Long)
  private final case class Batch(start: Double, durations: Map[String, Long])
}
