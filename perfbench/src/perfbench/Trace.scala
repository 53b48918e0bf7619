package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the calls a workload makes into each layer. With tracing
  * off every method just runs its body, so the untraced run pays nothing
  * but a virtual call. */
trait Tracer {
  def op[A](kind: String)(body: => A): A = body
  /** A call into `layer` (a module of the program); `target` names the
    * directory the call writes, for per-target plan probes. */
  def layer[A](layer: String, call: String, target: Option[String] = None)(body: => A): A = body
  /** Run `body` without recording (warm-up). */
  def suspended[A](body: => A): A = body
  /** Add to a named per-layer counter measured by the workload itself. */
  def count(name: String, v: Double): Unit = ()
  def enabled: Boolean = false
}

object NoTrace extends Tracer

/** One recorded interval. Times are epoch milliseconds (fractional), the
  * clock Spark's listener events use. */
final class Span(val id: Int, val parent: Int, val opId: Int, val layer: String,
    val name: String, val startMs: Double, var endMs: Double,
    val target: Option[String]) {
  var fs: Array[Long] = Array.fill(4)(0L) // read ops, write ops, bytes read, bytes written
  var codegen: Array[Double] = Array(0.0, 0.0) // compiles, ms
  var gcMs: Double = 0.0
}

final case class JobRec(jobId: Int, group: Option[String], startMs: Double,
    var endMs: Double, stageIds: Seq[Int])
final case class StageRec(stageId: Int, runMs: Double, cpuMs: Double,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, tasks: Int)
final case class QeRec(startMs: Double, analysisMs: Double, optimizationMs: Double,
    planningMs: Double, scans: Seq[(Seq[String], Long, Long)]) // (roots, files, rows)
final case class ProgressRec(startMs: Double, query: String, durations: Map[String, Long],
    stateCommitMs: Long, stateRows: Long, stateMemBytes: Long, dropped: Long, inputRows: Long)

/** The traced run's recorder. Probes are outside-in: a SparkListener
  * (jobs keyed by the job group each span sets, stages, tasks), a
  * QueryExecutionListener on every action (including write commands), a
  * StreamingQueryListener, Hadoop FileSystem statistics deltas and the
  * codegen compile histogram, all sampled around the benchmark's own
  * calls. */
final class SpanTracer(spark: SparkSession, cores: Int) extends Tracer {
  override def enabled: Boolean = true

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var paused = 0
  private val counters = mutable.LinkedHashMap.empty[String, Double]

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  private val peakMem = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  private val progress = new ConcurrentLinkedQueue[ProgressRec]()

  private val sc = spark.sparkContext

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val r = JobRec(e.jobId, g, e.time.toDouble, e.time.toDouble, e.stageIds)
      jobById.put(e.jobId, r)
      jobs.add(r)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobById.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        peakMem.merge(e.stageId, m.peakExecutionMemory, (a: Long, b: Long) => math.max(a, b))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Option(i.taskMetrics).foreach { m =>
        stages.put(i.stageId, StageRec(i.stageId, m.executorRunTime.toDouble,
          m.executorCpuTime / 1e6, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
          i.numTasks))
      }
    }
  }

  private object qeListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).filter(_ > 0).minOption
        .map(_.toDouble).getOrElse(nowMs)
      val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        .map { s =>
          def metric(n: String) = s.metrics.get(n).map(_.value).getOrElse(0L)
          (s.relation.location.rootPaths.map(_.toUri.getPath), metric("numFiles"),
            metric("numOutputRows"))
        }
      qes.add(QeRec(start, ms("analysis"), ms("optimization"), ms("planning"), scans))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      progress.add(ProgressRec(
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        Option(p.name).getOrElse(p.id.toString),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum, ops.map(_.numRowsDroppedByWatermark).sum,
        p.numInputRows))
    }
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  private def fsNow(): Array[Long] = {
    val st = FileSystem.getAllStatistics.asScala
    Array(st.map(_.getReadOps.toLong).sum, st.map(_.getWriteOps.toLong).sum,
      st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  private def codegenNow(): Array[Double] = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    Array(h.getCount.toDouble, h.getCount * h.getSnapshot.getMean)
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcNow(): Double = gcBeans.map(_.getCollectionTime.toDouble).sum

  private def open[A](layer: String, name: String, target: Option[String])(body: => A): A =
    if (paused > 0) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, parent.map(_.id).getOrElse(-1),
        parent.map(_.opId).getOrElse(spans.size), layer, name, nowMs, 0.0, target)
      spans += s
      stack.push(s)
      val fs0 = fsNow(); val cg0 = codegenNow(); val gc0 = gcNow()
      sc.setJobGroup(s"pb-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.endMs = nowMs
        val fs1 = fsNow(); val cg1 = codegenNow()
        s.fs = fs1.zip(fs0).map { case (a, b) => a - b }
        s.codegen = cg1.zip(cg0).map { case (a, b) => a - b }
        s.gcMs = gcNow() - gc0
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  override def op[A](kind: String)(body: => A): A = open("op", kind, None)(body)
  override def layer[A](layer: String, call: String, target: Option[String])(body: => A): A =
    open(layer, s"$layer.$call", target)(body)
  override def suspended[A](body: => A): A = {
    paused += 1
    try body finally paused -= 1
  }
  override def count(name: String, v: Double): Unit =
    if (paused == 0) counters(name) = counters.getOrElse(name, 0.0) + v

  /** Stop the probes once every queued listener event is delivered. */
  def close(): Unit = {
    org.apache.spark.perfbench.BusShim.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Layers a span can be attributed to, in the order they are reported;
    * `harness` is the benchmark's own work inside an op (landing files,
    * output checks). */
  val layers: Seq[String] = Seq("spec", "etl", "recon", "versioned", "sources",
    "text", "dedup", "ivf", "stream", "harness")

  /** Per-layer metrics over the traced ops. */
  def summary(): mutable.LinkedHashMap[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val ops = spans.filter(_.layer == "op").toSeq
    val nOps = math.max(1, ops.size).toDouble
    val children = spans.groupBy(_.parent)
    def descendants(s: Span): Seq[Span] =
      children.getOrElse(s.id, Seq.empty).toSeq.flatMap(c => c +: descendants(c))
    val spanOf: Map[Int, Span] = spans.map(s => s.id -> s).toMap
    val allJobs = jobs.asScala.toSeq
    def opOfTime(t: Double): Option[Span] = ops.find(o => o.startMs <= t && t <= o.endMs)
    // A job belongs to the span whose group it ran under; jobs of other
    // threads (streaming micro-batches) belong to the op they started in.
    val jobOwner: Seq[(JobRec, Span)] = allJobs.flatMap { j =>
      j.group.filter(_.startsWith("pb-")).map(g => spanOf(g.drop(3).toInt))
        .orElse(opOfTime(j.startMs)).map(j -> _)
    }
    val jobsByOp: Map[Int, Seq[JobRec]] = jobOwner.groupBy(_._2.opId).map {
      case (k, v) => k -> v.map(_._1)
    }

    // Self time: each instant of an op goes to the engine if a Spark job
    // runs then, else to the innermost layer span open then, else to
    // "unattributed". The parts sum to the op's wall time.
    val self = mutable.LinkedHashMap.empty[String, Double]
    (layers ++ Seq("engine_jobs", "unattributed")).foreach(self(_) = 0.0)
    var driverSelf = 0.0
    ops.foreach { o =>
      val inner = descendants(o)
      val js = jobsByOp.getOrElse(o.id, Seq.empty)
        .map(j => (math.max(j.startMs, o.startMs), math.min(j.endMs, o.endMs)))
        .filter { case (a, b) => b > a }
      val cuts = (Seq(o.startMs, o.endMs) ++ inner.flatMap(s => Seq(s.startMs, s.endMs)) ++
        js.flatMap { case (a, b) => Seq(a, b) })
        .filter(t => t >= o.startMs && t <= o.endMs).distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val mid = (a + b) / 2
        val len = b - a
        if (js.exists { case (x, y) => x <= mid && mid < y }) self("engine_jobs") += len
        else {
          driverSelf += len
          val open = inner.filter(s => s.startMs <= mid && mid < s.endMs)
          if (open.isEmpty) self("unattributed") += len
          else {
            def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + depth(spanOf(s.parent))
            val l = open.maxBy(depth).layer
            self(if (self.contains(l)) l else "unattributed") += len
          }
        }
      }
    }
    out("trace.ops") = ops.size
    out("trace.op_ms") = ops.map(o => o.endMs - o.startMs).sum / nOps
    out("trace.op_p50_ms") =
      if (ops.isEmpty) 0.0 else Harness.median(ops.map(o => o.endMs - o.startMs))
    self.foreach { case (l, v) => out(s"self.${l}_ms") = v / nOps }

    // Call durations: median over the spans of each named call.
    def callMs(name: String): Double = {
      val d = spans.filter(_.name == name).map(s => s.endMs - s.startMs).toSeq
      if (d.isEmpty) 0.0 else Harness.median(d)
    }
    Seq("spec.parse", "etl.append", "etl.overwrite", "etl.update", "etl.upsert",
      "recon.run", "versioned.append", "versioned.merge", "versioned.delete",
      "versioned.compact", "versioned.cluster", "versioned.vacuum", "versioned.read",
      "versioned.read_as_of", "versioned.read_where", "versioned.changes",
      "sources.graft_sql", "text.quality", "dedup.exact", "dedup.lsh",
      "dedup.containment", "ivf.build", "ivf.topk").foreach { n =>
      out(s"${n}_ms") = callMs(n)
    }

    // Bytes the ETL jobs wrote, and target scans per update/upsert from
    // the executed plans of the actions inside each call.
    val etlSpans = spans.filter(s => s.layer == "etl").toSeq
    out("etl.bytes_written") =
      if (etlSpans.isEmpty) 0.0 else etlSpans.map(_.fs(3).toDouble).sum / etlSpans.size
    val qeList = qes.asScala.toSeq
    def qesIn(s: Span): Seq[QeRec] = qeList.filter(q => q.startMs >= s.startMs && q.startMs <= s.endMs)
    val merges = spans.filter(s => s.name == "etl.update" || s.name == "etl.upsert").toSeq
    out("etl.target_scans") =
      if (merges.isEmpty) 0.0
      else merges.map { s =>
        val t = s.target.getOrElse("")
        qesIn(s).flatMap(_.scans).count(_._1.exists(r => t.nonEmpty && r.startsWith(t)))
      }.sum.toDouble / merges.size

    // Read-path scan work: files scanned per read op, rows returned per
    // row scanned.
    val readSpans = spans.filter(s => s.layer == "versioned" && s.name.startsWith("versioned.read") ||
      s.name == "versioned.changes" || s.name == "sources.graft_sql").toSeq
    val readScans = readSpans.flatMap(qesIn).flatMap(_.scans)
    val readOps = spans.count(s => s.layer == "op" && s.name.startsWith("read."))
    out("read.files_scanned") =
      if (readOps == 0) 0.0 else readScans.map(_._2).sum.toDouble / readOps
    val scannedRows = readScans.map(_._3).sum.toDouble
    out("read.row_yield") =
      if (scannedRows == 0) 0.0 else counters.getOrElse("read.rows_returned", 0.0) / scannedRows

    // File-system, codegen and GC deltas per op.
    Seq("read_ops", "write_ops", "bytes_read", "bytes_written").zipWithIndex.foreach {
      case (n, i) => out(s"fs.$n") = ops.map(_.fs(i).toDouble).sum / nOps
    }

    // Driver-side phases of every action.
    val opQes = ops.flatMap(qesIn)
    out("engine.analysis_ms") = opQes.map(_.analysisMs).sum / nOps
    out("engine.optimization_ms") = opQes.map(_.optimizationMs).sum / nOps
    out("engine.planning_ms") = opQes.map(_.planningMs).sum / nOps
    val opJobs = ops.flatMap(o => jobsByOp.getOrElse(o.id, Seq.empty))
    val opStages = opJobs.flatMap(_.stageIds).flatMap(id => Option(stages.get(id)))
    out("engine.jobs") = opJobs.size / nOps
    out("engine.stages") = opStages.size / nOps
    out("engine.tasks") = opStages.map(_.tasks).sum / nOps
    out("engine.driver_self_ms") = driverSelf / nOps
    out("engine.codegen_compiles") = ops.map(_.codegen(0)).sum / nOps
    out("engine.codegen_ms") = ops.map(_.codegen(1)).sum / nOps
    val runMs = opStages.map(_.runMs).sum
    out("engine.executor_run_ms") = runMs / nOps
    out("engine.executor_cpu_ms") = opStages.map(_.cpuMs).sum / nOps
    val wallMs = ops.map(o => o.endMs - o.startMs).sum
    out("engine.parallel_eff") = if (wallMs == 0) 0.0 else runMs / (wallMs * cores)
    out("engine.shuffle_read_bytes") = opStages.map(_.shuffleRead).sum / nOps
    out("engine.shuffle_write_bytes") = opStages.map(_.shuffleWrite).sum / nOps
    out("engine.spill_bytes") = opStages.map(_.spill).sum / nOps
    out("engine.peak_exec_mem_bytes") =
      (0L +: opStages.map(s => Option(peakMem.get(s.stageId)).map(_.longValue).getOrElse(0L))).max.toDouble
    out("engine.gc_ms") = ops.map(_.gcMs).sum / nOps

    // Streaming micro-batches that started inside a streaming op, per
    // such op.
    val ps = progress.asScala.toSeq.filter(p => opOfTime(p.startMs).exists(_.name.startsWith("stream.")))
    val nStreamOps = math.max(1, ops.count(_.name.startsWith("stream."))).toDouble
    def dur(k: String) = ps.map(_.durations.getOrElse(k, 0L)).sum.toDouble / nStreamOps
    out("stream.trigger_ms") = dur("triggerExecution")
    out("stream.add_batch_ms") = dur("addBatch")
    out("stream.planning_ms") = dur("queryPlanning")
    out("stream.wal_commit_ms") = dur("walCommit")
    out("stream.offset_commit_ms") = dur("commitOffsets")
    out("stream.state_commit_ms") = ps.map(_.stateCommitMs).sum / nStreamOps
    out("stream.state_rows") =
      ps.groupBy(_.query).values.map(_.maxBy(_.startMs).stateRows).sum.toDouble
    out("stream.state_mem_bytes") =
      ps.groupBy(_.query).values.map(_.maxBy(_.startMs).stateMemBytes).sum.toDouble
    out("stream.batches_per_op") = ps.size / nStreamOps
    out
  }

  /** Write every span, job and micro-batch as JSON lines. */
  def writeSpans(path: Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= Harness.json(Seq("kind" -> "span", "id" -> s.id, "parent" -> s.parent,
        "op" -> s.opId, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)) += '\n'
    }
    jobs.asScala.foreach { j =>
      sb ++= Harness.json(Seq("kind" -> "job", "id" -> j.jobId,
        "group" -> j.group.getOrElse(""), "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "stages" -> j.stageIds.mkString(","))) += '\n'
    }
    progress.asScala.foreach { p =>
      sb ++= Harness.json(Seq("kind" -> "batch", "query" -> p.query,
        "start_ms" -> p.startMs, "trigger_ms" -> p.durations.getOrElse("triggerExecution", 0L),
        "state_commit_ms" -> p.stateCommitMs, "input_rows" -> p.inputRows,
        "late_dropped" -> p.dropped)) += '\n'
    }
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}
