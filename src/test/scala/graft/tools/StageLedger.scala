package graft.tools

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-job / per-stage attribution listener behind [[QueryLedger]] (its
  * round-9 k-truss and q309 attributions are recorded in SURVEY.md §8.10
  * #7-#8 and commit 5a837d0). Observe-fused loops run ONE action per round, so
  * per-JOB attribution is per-round attribution; for pipeline queries the
  * job/stage tables name which stage's time or shuffle grew
  * super-proportionally between ladder rungs. Also counts stage ATTEMPTS
  * past the first (task retries / recomputes double-count shuffle writes in
  * plain byte totals — a super-linear total with linear per-stage bytes is
  * retries, not volume).
  */
final class StageLedger(spark: SparkSession) {
  final class JobAgg(var wallMs: Long = 0L, var runMs: Long = 0L,
                          var cpuMs: Long = 0L, var shufWr: Long = 0L,
                          var shufRd: Long = 0L, var memSpill: Long = 0L,
                          var diskSpill: Long = 0L, var tasks: Long = 0L,
                          var started: Long = 0L,
                          var names: List[String] = Nil)

  val jobs = new ConcurrentHashMap[Int, JobAgg]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  // (job, name, runMs, spillBytes, shufWrBytes, attempt)
  val stages = java.util.Collections.synchronizedList(
    new java.util.ArrayList[(Int, String, Long, Long, Long, Int)]())
  val retriedStages = new java.util.concurrent.atomic.AtomicInteger(0)
  private val capture = new java.util.concurrent.atomic.AtomicBoolean(false)

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (capture.get) {
        val agg = new JobAgg(); agg.started = e.time
        jobs.put(e.jobId, agg)
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (capture.get) Option(jobs.get(e.jobId)).foreach { a =>
        a.wallMs = e.time - a.started
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (capture.get) {
        val si = e.stageInfo
        if (si.attemptNumber > 0) { retriedStages.incrementAndGet(); () }
        val j = Option(stageToJob.get(si.stageId)).getOrElse(-1)
        val m = si.taskMetrics
        Option(jobs.get(j)).foreach { a =>
          a.synchronized {
            a.runMs += m.executorRunTime
            a.cpuMs += m.executorCpuTime / 1000000L
            a.shufWr += m.shuffleWriteMetrics.bytesWritten
            a.shufRd += m.shuffleReadMetrics.totalBytesRead
            a.memSpill += m.memoryBytesSpilled
            a.diskSpill += m.diskBytesSpilled
            a.tasks += si.numTasks
            a.names = si.name.takeWhile(_ != '\n') :: a.names
          }
        }
        stages.add((j, si.name.takeWhile(_ != '\n'), m.executorRunTime,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.shuffleWriteMetrics.bytesWritten, si.attemptNumber))
      }
  })

  def reset(): Unit = { jobs.clear(); stageToJob.clear(); stages.clear(); retriedStages.set(0) }
  def start(): Unit = { reset(); capture.set(true) }
  def stop(): Unit = capture.set(false)

  def print(topStages: Int = 12): Unit = {
    import scala.jdk.CollectionConverters._
    val byJob = jobs.asScala.toSeq.sortBy(_._1)
    println("  job |  wall_s | run_s | cpu_s | shufWr_MB | shufRd_MB | spillMem_MB | spillDisk_MB | tasks | top-name")
    byJob.foreach { case (j, a) =>
      val top = a.names.headOption.getOrElse("?")
      println(f"  $j%4d | ${a.wallMs / 1e3}%7.2f | ${a.runMs / 1e3}%5.1f | ${a.cpuMs / 1e3}%5.1f | ${a.shufWr / 1048576.0}%9.1f | ${a.shufRd / 1048576.0}%9.1f | ${a.memSpill / 1048576.0}%11.1f | ${a.diskSpill / 1048576.0}%12.1f | ${a.tasks}%5d | ${top.take(60)}")
    }
    println(s"  retried/recomputed stage attempts: ${retriedStages.get}")
    println(s"  top $topStages stages by executorRunTime:")
    stages.asScala.toSeq.sortBy(-_._3).take(topStages).foreach {
      case (j, nm, run, spill, wr, att) =>
        println(f"    job=$j%3d att=$att run=${run / 1e3}%7.1f s spill=${spill / 1048576.0}%8.1f MB shufWr=${wr / 1048576.0}%8.1f MB  ${nm.take(70)}")
    }
    println(s"  top $topStages stages by shuffle write:")
    stages.asScala.toSeq.sortBy(-_._5).take(topStages).foreach {
      case (j, nm, run, spill, wr, att) =>
        println(f"    job=$j%3d att=$att shufWr=${wr / 1048576.0}%8.1f MB run=${run / 1e3}%7.1f s spill=${spill / 1048576.0}%8.1f MB  ${nm.take(70)}")
    }
  }
}
