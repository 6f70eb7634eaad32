package graftbench

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer: `op` groups the spans of one operation
  * (a micro-batch, a query execution), `parent` is the span that caused
  * it (-1 for a root). Times are epoch milliseconds so they line up with
  * Spark's listener and progress timestamps. */
final case class Span(id: Int, op: Int, name: String, parent: Int,
                      startMs: Long, endMs: Long) {
  def ms: Double = (endMs - startMs).toDouble
}

/** In-memory span recorder. When off, [[span]] only runs its body, so an
  * untraced run pays nothing but the closure call. */
final class Tracer(val on: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var nextOp = 0

  def newOp(): Int = synchronized { nextOp += 1; nextOp }

  /** Times `body`, which gets the new span's id to parent its children. */
  def span[T](name: String, op: Int, parent: Int = -1)(body: Int => T): T = {
    if (!on) return body(-1)
    val id = synchronized { nextId += 1; nextId }
    val t0 = System.currentTimeMillis()
    try body(id)
    finally record(name, op, parent, t0, System.currentTimeMillis(), id)
  }

  /** A span whose times were observed elsewhere (a micro-batch's
    * progress event). */
  def record(name: String, op: Int, parent: Int, startMs: Long, endMs: Long,
             id: Int = -1): Unit = if (on) synchronized {
    val sid = if (id >= 0) id else { nextId += 1; nextId }
    spans += Span(sid, op, name, parent, startMs, endMs)
  }

  def all: Seq[Span] = synchronized(spans.toList)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.map(s => Main.Json.writeValueAsString(ListMap("id" -> s.id, "op" -> s.op,
      "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs)))
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long,
                        stages: Seq[Int], batchId: Option[Long])
final case class TaskRec(stageId: Int, launchMs: Long, runMs: Long,
                         shuffleWrite: Long, spill: Long, failed: Boolean)

/** Spark's own view of the work, through the public listener API: jobs,
  * stages and tasks with their times, shuffle and spill bytes. Only
  * registered in traced runs. */
final class EngineListener extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val batch = Option(e.properties)
      .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map(_.toLong)
    jobs += JobRec(e.jobId, e.time, -1L, e.stageIds, batch)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    tasks += TaskRec(e.stageId, e.taskInfo.launchTime,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      e.taskInfo.failed)
  }

  /** Wait until the asynchronous listener bus has caught up: no new
    * events for a quiet interval. */
  def settle(): Unit = {
    def count = synchronized(jobs.size + tasks.size)
    var last = -1
    while (count != last) { last = count; Thread.sleep(300) }
  }

  def jobsIn(t0: Long, t1: Long): Seq[JobRec] =
    synchronized(jobs.filter(j => j.startMs >= t0 && j.startMs <= t1).toList)
  def tasksIn(t0: Long, t1: Long): Seq[TaskRec] =
    synchronized(tasks.filter(t => t.launchMs >= t0 && t.launchMs <= t1).toList)
  def failedTasks: Int = synchronized(tasks.count(_.failed))

  /** The interval's time not covered by any job: driver-side work
    * (planning, listing, commits) between and around Spark jobs. */
  def driverGapMs(t0: Long, t1: Long): Double = {
    val iv = jobsIn(t0, t1).map(j => (j.startMs, if (j.endMs < 0) t1 else math.min(j.endMs, t1)))
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (t1 - t0 - covered).toDouble
  }

  /** Max over median task run time in the stage with the most task time
    * inside the interval. */
  def taskSkew(t0: Long, t1: Long): Double = {
    val ts = tasksIn(t0, t1)
    if (ts.isEmpty) return 0.0
    val (_, longest) = ts.groupBy(_.stageId).maxBy(_._2.map(_.runMs).sum)
    val med = Stats.median(longest.map(_.runMs.toDouble))
    if (med <= 0) 0.0 else longest.map(_.runMs).max / med
  }
}

object EngineListener {
  def register(spark: SparkSession): EngineListener = {
    val l = new EngineListener
    spark.sparkContext.addSparkListener(l)
    l
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1.0))).sum / xs.size)
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
