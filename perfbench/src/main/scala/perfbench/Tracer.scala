package perfbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Maps stack frames and Spark call sites to the repository's modules.
  *
  * A module is the `graft.*` object a frame belongs to, without the `graft.`
  * prefix and without nested-class suffixes: `graft.etl.Writer$` →
  * `etl.Writer`, `graft.SparkEntry$$anonfun$1` → `SparkEntry`. Its layer is
  * the package (`etl`, `ops`, ...) or, for top-level objects, the object
  * itself (`Tables`, `SparkEntry`).
  */
object Attribution {
  def moduleOfClass(cls: String): Option[String] =
    if (!cls.startsWith("graft.")) None
    else {
      val parts = cls.stripPrefix("graft.").split('.')
      val obj = parts.indexWhere(p => p.nonEmpty && p.head.isUpper)
      val kept = if (obj < 0) parts.toSeq else parts.take(obj + 1).toSeq
      Some(kept.mkString(".").takeWhile(_ != '$'))
    }

  /** Innermost `graft.*` module of a Spark long-form call site (one
    * `StackTraceElement.toString` per line, innermost first).
    */
  def moduleOfCallSite(longForm: String): Option[String] =
    Option(longForm).iterator.flatMap(_.split('\n')).map(_.trim).flatMap { line =>
      val head = line.takeWhile(_ != '(')
      val frame = head.substring(head.lastIndexOf('/') + 1)
      val dot = frame.lastIndexOf('.')
      if (dot <= 0) None else moduleOfClass(frame.substring(0, dot))
    }.nextOption()

  def moduleOfStack(st: Array[StackTraceElement]): String =
    st.iterator.flatMap(f => moduleOfClass(f.getClassName)).nextOption()
      .getOrElse(if (st.exists(_.getClassName.startsWith("org.apache.spark"))) Tracer.Engine
                 else Tracer.Bench)

  def layerOf(module: String): String = module.takeWhile(_ != '.')
}

/** Per-layer tracing for one benchmark JVM.
  *
  * Registers a `SparkListener`, a `QueryExecutionListener`, a
  * `StreamingQueryListener` and a codegen log appender, and samples the
  * calling thread's stack. Everything is attributed to the operation that is
  * open between [[begin]] and [[end]]: jobs by the `perfbench.op` local
  * property (inherited by every job the operation submits), listener
  * callbacks by the open operation (the listener bus is drained before an
  * operation closes), stack samples by the innermost `graft.*` frame.
  * Spans (run → operation → job → stage) stay in memory until [[spans]].
  */
final class Tracer(spark: SparkSession, caller: Thread, sampleMicros: Long = 4000) {
  import Tracer._
  private val sc = spark.sparkContext

  final class Stage(val id: Int) {
    var submitMs = -1L; var doneMs = -1L; var tasks = 0
  }
  final class Job(val id: Int, val op: Int, val module: String, val startMs: Long) {
    var endMs = -1L
    val stages = mutable.ArrayBuffer.empty[Stage]
  }
  final class Op(val id: Int, val kind: String, val name: String, val family: String) {
    var startMs = 0L; var endMs = 0L
    val jobs = mutable.ArrayBuffer.empty[Job]
    val counters = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val busyNs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    def add(k: String, v: Double): Unit = counters(k) += v
  }

  // guards everything below: listener-bus, sampler and caller threads
  private val lock = new Object
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val opById = mutable.HashMap.empty[Int, Op]
  private val stages = mutable.HashMap.empty[Int, Stage]
  private val jobOfStage = mutable.HashMap.empty[Int, Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private val execModule = mutable.HashMap.empty[Long, String]
  private val seenCaches = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
  @volatile private var open: Op = null
  @volatile private var sampling = false
  @volatile private var running = true
  private val runStartMs = System.currentTimeMillis()

  private def opOf(props: java.util.Properties): Option[Op] =
    Option(props).flatMap(p => Option(p.getProperty(OpProperty)))
      .flatMap(s => lock.synchronized(opById.get(s.toInt)))

  private val listener = new SparkListener {
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart =>
        Attribution.moduleOfCallSite(e.details)
          .foreach(m => lock.synchronized(execModule(e.executionId) = m))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = opOf(e.properties).foreach { op =>
      val site = if (e.stageInfos.isEmpty) None
        else Attribution.moduleOfCallSite(e.stageInfos.maxBy(_.stageId).details)
      val exec = Option(e.properties.getProperty("spark.sql.execution.id"))
        .flatMap(x => lock.synchronized(execModule.get(x.toLong)))
      val job = new Job(e.jobId, op.id, site.orElse(exec).getOrElse(Engine), e.time)
      lock.synchronized {
        op.jobs += job
        jobById(e.jobId) = job
        e.stageIds.foreach { s =>
          val st = new Stage(s)
          stages(s) = st; jobOfStage(s) = job; job.stages += st
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobById.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      stages.get(e.stageInfo.stageId).foreach(_.submitMs =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stages.get(e.stageInfo.stageId).foreach(_.doneMs =
        e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      for (job <- jobOfStage.get(e.stageId); op <- opById.get(job.op)) {
        val st = stages(e.stageId)
        st.tasks += 1
        op.add("spark.tasks", 1)
        if (st.submitMs > 0) op.add("spark.task_wait_s", (e.taskInfo.launchTime - st.submitMs) / 1e3)
        val m = e.taskMetrics
        if (m != null) {
          op.add("spark.task_cpu_s", m.executorCpuTime / 1e9)
          op.add("spark.task_run_s", m.executorRunTime / 1e3)
          op.add("spark.task_gc_s", m.jvmGCTime / 1e3)
          op.add("spark.shuffle_read_bytes",
            (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
          op.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          op.add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          op.add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
          op.add("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
          op.add(s"module.${job.module}.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val op = open
      if (op != null) lock.synchronized {
        val ph = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { p =>
          ph.get(p).foreach(s => op.add(s"spark.catalyst.${p}_s", s.durationMs / 1e3))
        }
        try walk(qe.executedPlan) {
          case w: DataWritingCommandExec =>
            w.metrics.get("numFiles").foreach(m => op.add("spark.output_files", m.value.toDouble))
          case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[CSVFileFormat] =>
            val size = s.metrics.get("filesSize").orElse(s.metrics.get("staticFilesSize"))
              .map(_.value).filter(_ > 0).getOrElse(s.relation.location.sizeInBytes)
            op.add("csv.scanned_bytes", size.toDouble)
          case _ =>
        } catch { case _: Exception => op.add("trace.plan_walk_errors", 1) }
      }
    }
  }

  /** Every physical node that ran, looking through AQE stages and into a
    * cached relation's plan the first time that cache is read (the scan
    * below a cache runs once, when the cache fills).
    */
  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case q: QueryStageExec => walk(q.plan)(f)
      case m: InMemoryTableScanExec =>
        if (seenCaches.add(m.relation.cacheBuilder)) walk(m.relation.cachedPlan)(f)
      case _ =>
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val op = open
      if (op != null) lock.synchronized {
        op.add("streaming.batches", 1)
        val so = e.progress.stateOperators
        op.add("streaming.state_commit_s", so.map(_.commitTimeMs).sum / 1e3)
        op.add("streaming.state_rows", so.map(_.numRowsUpdated).sum.toDouble)
      }
    }
  }

  private val codegenAppender = new AbstractAppender(
      "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
    private val re = """Code generated in ([0-9.]+) ms""".r
    override def append(event: LogEvent): Unit = {
      val op = open
      if (op != null) re.findFirstMatchIn(event.getMessage.getFormattedMessage).foreach { m =>
        lock.synchronized {
          op.add("spark.codegen.compiles", 1)
          op.add("spark.codegen.compile_s", m.group(1).toDouble / 1e3)
        }
      }
    }
  }

  private val sampler = new Thread(() => {
    var last = System.nanoTime()
    while (running) {
      java.util.concurrent.locks.LockSupport.parkNanos(sampleMicros * 1000)
      val now = System.nanoTime()
      val op = open
      if (op != null && sampling) {
        val module = Attribution.moduleOfStack(caller.getStackTrace)
        lock.synchronized(op.busyNs(module) += now - last)
      }
      last = now
    }
  }, "perfbench-sampler")

  // ---------------------------------------------------------------- control

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    codegenAppender.start()
    val lc = new LoggerConfig(CodegenLogger, Level.INFO, false)
    lc.addAppender(codegenAppender, Level.INFO, null)
    ctx.getConfiguration.addLogger(CodegenLogger, lc)
    ctx.updateLoggers()
    sampler.setDaemon(true)
    sampler.start()
  }

  def uninstall(): Unit = {
    running = false
    sampler.join()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.removeLogger(CodegenLogger)
    ctx.updateLoggers()
    codegenAppender.stop()
  }

  /** Open an operation on the calling thread; every job it submits carries
    * the operation id.
    */
  def begin(kind: String, name: String, family: String): Op = {
    val op = lock.synchronized {
      val o = new Op(ops.size + 1, kind, name, family)
      ops += o; opById(o.id) = o; o
    }
    sc.setLocalProperty(OpProperty, op.id.toString)
    op.startMs = System.currentTimeMillis()
    open = op
    sampling = true
    op
  }

  /** Close the open operation: stop sampling, then drain the listener bus so
    * the operation's remaining events are attributed to it.
    */
  def end(): Unit = {
    val op = open
    sampling = false
    op.endMs = System.currentTimeMillis()
    BenchBridge.drainListenerBus(sc)
    open = null
    sc.setLocalProperty(OpProperty, null)
  }

  def traced: Seq[Op] = lock.synchronized(ops.toList)

  // ---------------------------------------------------------------- reports

  /** Summed metrics of `sel`, before any per-unit normalisation. */
  def totals(sel: Seq[Op]): Map[String, Double] = lock.synchronized {
    val acc = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    sel.foreach { op =>
      op.counters.foreach { case (k, v) => acc(k) += v }
      acc("spark.jobs") += op.jobs.size
      op.jobs.groupBy(_.module).foreach { case (m, js) => acc(s"module.$m.jobs") += js.size }
      op.busyNs.foreach { case (m, ns) =>
        acc(s"module.$m.busy_s") += ns / 1e9
        acc(s"layer.${Attribution.layerOf(m)}.self_s") += ns / 1e9
      }
      // wall time not covered by any job of the operation
      val iv = op.jobs.filter(_.endMs > 0)
        .map(j => (math.max(j.startMs, op.startMs), math.min(j.endMs, op.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      acc("spark.driver_gap_s") += ((op.endMs - op.startMs) - covered) / 1e3
    }
    acc.toMap
  }

  /** All spans, in memory until now: run → operation → job → stage. */
  def spans(runName: String): Seq[Map[String, Any]] = lock.synchronized {
    val run = Map[String, Any]("span" -> "run:0", "parent" -> null, "kind" -> "run",
      "name" -> runName, "start_ms" -> runStartMs, "end_ms" -> System.currentTimeMillis())
    run +: ops.toSeq.flatMap { op =>
      val os = Map[String, Any]("span" -> s"op:${op.id}", "parent" -> "run:0", "kind" -> "operation",
        "op" -> op.id, "name" -> s"${op.kind}:${op.name}", "family" -> op.family,
        "start_ms" -> op.startMs, "end_ms" -> op.endMs)
      os +: op.jobs.toSeq.flatMap { j =>
        Map[String, Any]("span" -> s"job:${j.id}", "parent" -> s"op:${op.id}", "kind" -> "job",
          "op" -> op.id, "module" -> j.module, "start_ms" -> j.startMs, "end_ms" -> j.endMs) +:
          j.stages.toSeq.filter(_.submitMs > 0).map { s =>
            Map[String, Any]("span" -> s"stage:${s.id}", "parent" -> s"job:${j.id}",
              "kind" -> "stage", "op" -> op.id, "tasks" -> s.tasks,
              "start_ms" -> s.submitMs, "end_ms" -> s.doneMs)
          }
      }
    }
  }
}

object Tracer {
  val OpProperty = "perfbench.op"
  val Engine = "spark"
  val Bench = "bench"
  val CodegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
}
