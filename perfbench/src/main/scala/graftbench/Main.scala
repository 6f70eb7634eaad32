package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Everything one run reports. `e2e` holds the end-to-end metrics (the
  * untraced measurement), `layer` the per-layer metrics of the traced
  * measurement, `info` named figures and run context that are printed but
  * carry no bound, `check` what the outside correctness check needs. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val check = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L

  def json: String = Main.Json.writeValueAsString(Map(
    "e2e" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "layer" -> layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "info" -> info, "check" -> check,
    "attempted" -> attempted, "failed" -> failed))
}

/** One workload. The harness calls [[setup]] on a fresh session, then
  * [[measure]], then [[writeCheck]]. A traced run calls [[teardown]],
  * [[setup]] and [[measure]] once more on the same session. */
trait Workload {
  /** Prepare state and run the first operation; returns when the
    * workload is ready for its first timed operation. `round` names the
    * state directory, so every set-up starts from fresh state. */
  def setup(spark: SparkSession, round: Int): Unit
  def teardown(): Unit
  /** The timed phase. With a tracer that is on, records spans and the
    * per-layer metrics into `res.layer`; otherwise the end-to-end ones
    * into `res.e2e`. Returns the workload's headline rate (work per
    * second), used to state the tracing overhead. */
  def measure(spark: SparkSession, tracer: Tracer,
              listener: Option[EngineListener], res: Result): Double
  /** `spark.speedup_4v1`: repeats part of the untraced measurement on the
    * given `local[1]` session and returns its time over the four-core
    * time of the same work. */
  def singleCoreSpeedup(spark: SparkSession): Double
  /** Untimed: write the outputs the correctness check reads. */
  def writeCheck(spark: SparkSession, res: Result): Unit
}

final case class Args(workload: String, inputs: Path, tables: Path, work: Path,
                      seconds: Int, trace: Boolean, seed: Long,
                      out: Path, python: String, feeder: Path, launchedMs: Long)

object Main {
  val Cores = 4
  val StealFlagPct = 5.0
  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), Paths.get(need("inputs")), Paths.get(need("tables")),
      Paths.get(need("work")), need("seconds").toInt, need("trace") == "1",
      need("seed").toLong, Paths.get(need("out")), m.getOrElse("python", "python3"),
      Paths.get(need("feeder")), need("launched-ms").toLong)
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (steal, total) jiffies of all CPUs from /proc/stat; zeros where the
    * file does not exist. Steal is time the hypervisor gave this
    * machine's CPUs to someone else. */
  def cpuTicks(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.exists(f)) return (0L, 0L)
    val xs = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (xs.length > 7) xs(7) else 0L, xs.sum)
  }

  /** CPU time this JVM has used so far, all threads, in ms. */
  def processCpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val res = new Result
    val nproc = Runtime.getRuntime.availableProcessors()
    val load0 = loadAvg()
    val ticks0 = cpuTicks()
    res.info("nproc") = nproc
    res.info("loadavg_start") = load0
    res.info("busy_at_start") = load0 > nproc / 4.0
    res.info("jdk_version") = System.getProperty("java.version")
    Files.createDirectories(a.work)

    val w: Workload = a.workload match {
      case "stream_ingest" => new StreamIngest(a)
      case "batch_mix" => new BatchMix(a)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    // set-up as a user pays it, once per process: from the JVM's launch
    // (class loading and JIT warm-up included) to the first timed operation
    val t0 = System.currentTimeMillis()
    val spark = graft.tools.Sessions.local(Cores)
    val t1 = System.currentTimeMillis()
    w.setup(spark, 0)
    val ready = System.currentTimeMillis()
    res.e2e("setup_s") = ((ready - a.launchedMs) / 1e3, "s")
    res.info("setup_parts_s") = Map("jvm_to_main" -> (t0 - a.launchedMs) / 1e3,
      "session" -> (t1 - t0) / 1e3, "workload" -> (ready - t1) / 1e3)
    res.info("spark_version") = spark.version

    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.currentTimeMillis()
    def phase(name: String): Unit = {
      val now = System.currentTimeMillis()
      phases(name) = (now - mark) / 1e3
      mark = now
    }
    val plainRate = w.measure(spark, new Tracer(false), None, res)
    phase("measure")
    if (a.trace) {
      // a second measurement on fresh state, now traced; the difference
      // between the two is what tracing costs
      w.teardown()
      w.setup(spark, 1)
      val tracer = new Tracer(true)
      val listener = EngineListener.register(spark)
      val tracedRate = w.measure(spark, tracer, Some(listener), res)
      listener.settle()
      spark.sparkContext.removeSparkListener(listener)
      res.layer("trace.overhead_pct") =
        (if (plainRate > 0) 100.0 * (plainRate - tracedRate) / plainRate else 0.0, "%")
      res.layer("spark.failed_tasks") = (listener.failedTasks.toDouble, "count")
      tracer.writeJsonl(a.work.resolve("spans.jsonl"))
      res.info("spans_file") = a.work.resolve("spans.jsonl").toString
      phase("traced_measure")
    }

    w.writeCheck(spark, res)
    phase("write_check")
    res.e2e("heap_live_mb") = (liveHeapMb(), "MB")
    w.teardown()
    spark.stop()
    phase("stop")

    if (a.trace) {
      val one = graft.tools.Sessions.local(1)
      res.layer("spark.speedup_4v1") = (w.singleCoreSpeedup(one), "ratio")
      w.teardown()
      one.stop()
      phase("single_core")
    }
    res.info("phase_s") = phases
    res.info("loadavg_end") = loadAvg()
    val ticks1 = cpuTicks()
    val steal = if (ticks1._2 > ticks0._2) 100.0 * (ticks1._1 - ticks0._1) / (ticks1._2 - ticks0._2) else 0.0
    res.info("steal_pct") = steal
    // times stretch with stolen CPU (on a 4-vCPU virtual machine a run at
    // 16% steal took twice as long); flagged, never dropped
    res.info("stolen_during_run") = steal > StealFlagPct
    Files.write(a.out, res.json.getBytes("UTF-8"))
  }

  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }

  // -- helpers shared by the workloads --

  def listFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.toArray.map(_.asInstanceOf[Path]).filter(p => Files.isRegularFile(p))
        .sortBy(_.getFileName.toString).toSeq
      finally s.close()
    }

  /** Every regular file under `root`, with its size. */
  def treeSizes(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.toArray.map(_.asInstanceOf[Path]).sortBy(-_.getNameCount)
        .foreach(Files.deleteIfExists)
      finally s.close()
    }

  def fresh(p: Path): Path = { rmTree(p); Files.createDirectories(p) }

  def copyInto(files: Seq[Path], dir: Path): Seq[Path] = {
    Files.createDirectories(dir)
    files.map(f => Files.copy(f, dir.resolve(f.getFileName)))
  }

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
