package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One operation's outcome. A failed operation carries its cause and never a
  * time: `seconds` is only meaningful when `error` is empty.
  */
final case class OpRecord(kind: String, name: String, family: String, unit: Int,
                          traced: Boolean, seconds: Double, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** Closed-loop operation runner: the caller thread runs one operation at a
  * time; its check runs after the timed window closes. With a tracer, traced
  * operations are bracketed by [[Tracer.begin]] / [[Tracer.end]] (the bus
  * drain in `end` happens after the clock stops).
  */
final class Runner(val spark: SparkSession, val tracer: Option[Tracer]) {
  val records = mutable.ArrayBuffer.empty[OpRecord]
  var firstOpStartMs: Long = -1L

  def op[T](kind: String, name: String, family: String, unit: Int, traced: Boolean)
           (body: => T)(check: T => Option[String]): OpRecord = {
    val tr = if (traced) tracer else None
    if (firstOpStartMs < 0) firstOpStartMs = System.currentTimeMillis()
    tr.foreach(_.begin(kind, name, family))
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case e: Throwable => Left(e) }
    val dt = System.nanoTime() - t0
    tr.foreach(_.end())
    val error = out match {
      case Left(e) => Some(Runner.describe(e))
      case Right(v) =>
        try check(v).map("check failed: " + _)
        catch { case e: Throwable => Some("check threw " + Runner.describe(e)) }
    }
    val rec = OpRecord(kind, name, family, unit, traced, dt / 1e9, error)
    records += rec
    rec
  }
}

object Runner {
  /** (steal, total) jiffies of the machine, from /proc/stat; (0, 0) where absent. */
  def stealJiffies(): (Long, Long) =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val cols = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
      (cols.lift(7).getOrElse(0L), cols.sum)
    }.getOrElse((0L, 0L))

  /** Exception class and first message line, bounded. */
  def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).map(_.linesIterator.nextOption().getOrElse("")).getOrElse("")
    (e.getClass.getName + ": " + msg).take(600)
  }

  /** Drop cached/persisted state and let the driver GC collect what the
    * context cleaner waits on — between operations, outside the timed window.
    */
  def dropState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (the `numpy` default). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
}
