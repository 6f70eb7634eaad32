package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.core.StreamingApp

/** The flagship pipeline: `StreamingApp` → `FileStreamingSource` (curated
  * `maxFilesPerTrigger=1`) → 30-minute watermark, 1-hour windowed
  * aggregation → `ParquetStreamingSink`.
  *
  * Phase A is an open loop: a separate single-threaded generator process
  * renames pre-staged 2k-row files into the input directory on a fixed
  * schedule, at about half the pipeline's batch capacity on four cores.
  * Each file is timed from when it was due to the commit of the
  * micro-batch that admitted it. Phase B drains a backlog of large files,
  * where row work rather than the per-batch fixed cost dominates. */
final class StreamIngest(a: Args) extends Workload {
  import StreamIngest._

  private val root = a.work.resolve("stream_ingest")
  private val smallPool = Main.listFiles(a.inputs.resolve("small"))
  private val bigFiles = Main.listFiles(a.inputs.resolve("big"))
  private val warmFiles = Main.listFiles(a.inputs.resolve("warm"))
  private val sentinel = Main.listFiles(a.inputs.resolve("sentinel")).head
  private var smallNext = 0
  /** Wall seconds of the untraced four-core drain. */
  private var drainWall4 = 0.0

  private var query: StreamingQuery = _
  private var dir: Path = _
  private var checkpoint: Path = _
  private def input = dir.resolve("input")
  private def staging(name: String) = dir.resolve("staging").resolve(name)

  /** Phase A arrivals per run: the run's seconds at one file per period. */
  private def arrivals = {
    val n = math.max(8, a.seconds * 1000 / PeriodMs)
    require(n <= smallPool.size, s"phase A needs $n small files, the pool has ${smallPool.size}")
    n
  }

  def setup(spark: SparkSession, round: Int): Unit = {
    dir = Main.fresh(root.resolve(s"r$round"))
    Files.createDirectories(input)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val app = new StreamingApp(Some(spark), Some(Map(
      "spark.app.name" -> "ingest",
      "spark.app.checkpoints.path" -> dir.resolve("checkpoints").toString,
      "spark.app.checkpoint.version" -> s"r$round",
      "spark.app.source.parquet.options.path" -> input.toString)))
    checkpoint = app.checkpointLocation
    smallNext = 0
    app.withFileSource(schema = Some(Schema))
    app.withParquetSink(config = Map(
      "spark.app.sink.parquet.options.path" -> dir.resolve("out").toString,
      "spark.app.sink.parquet.options.checkpointLocation" ->
        app.checkpointLocation.toString))
    val windows = app.fileSource().generate(spark).load()
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value_cents").as("sum_cents"),
        max("user_id").as("max_user"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"), col("sum_cents"), col("max_user"))
    query = app.parquetSink().generate(windows).start()
    // closed loop, one file per micro-batch, so that phase A starts on
    // warm code rather than timing the JVM's warm-up
    Main.copyInto(warmFiles, staging("warm")).foreach { f =>
      moveIn(Seq(f))
      query.processAllAvailable()
    }
  }

  def teardown(): Unit = if (query != null) { query.stop(); query = null }

  private def moveIn(files: Seq[Path]): Unit = files.foreach { f =>
    Files.move(f, input.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The next `n` files of the small-file pool, copied to a fresh
    * staging directory under distinct names. */
  private def stageSmall(n: Int, tag: String): Path = {
    val st = staging(tag)
    Files.createDirectories(st)
    (0 until n).foreach { i =>
      val src = smallPool(smallNext + i)
      Files.copy(src, st.resolve(f"$tag-$i%05d.parquet"))
    }
    smallNext += n
    st
  }

  def measure(s: SparkSession, tracer: Tracer, listener: Option[EngineListener],
              res: Result): Double = {
    val q = query
    // ---- phase A: open loop ----
    val n = arrivals
    val st = stageSmall(n, "a")
    val log = dir.resolve("feeder.log")
    val start = System.currentTimeMillis() + 500
    val opA = tracer.newOp()
    var spanA = -1
    tracer.span("stream.phase_a", opA) { id =>
      spanA = id
      tracer.span("gen.feeder", opA, id) { _ =>
        val p = new ProcessBuilder(a.python, a.feeder.toString,
          "--src", st.toString, "--dst", input.toString,
          "--start-ms", start.toString, "--period-ms", PeriodMs.toString,
          "--log", log.toString).inheritIO().start()
        require(p.waitFor() == 0, "feeder process failed")
      }
      q.processAllAvailable()
    }
    val feederLog = Files.readAllLines(log).asScala.toSeq.map(_.split(" ")).map {
      case Array(name, due, actual) => (name, due.toLong, actual.toLong)
    }
    // the source log keys files by source offset; micro-batches that
    // admitted data are matched to those offsets through their progress
    val admitted = admittedOffsets()
    val progress = q.recentProgress.filter(_.numInputRows > 0).toSeq
      .map(p => logOffset(p) -> p).toMap
    val latencies = feederLog.flatMap { case (name, due, _) =>
      admitted.get(name).flatMap(progress.get).map(p => (commitTime(p) - due).toDouble)
    }
    val notCommitted = feederLog.size - latencies.size
    val offsetsA = feederLog.flatMap(f => admitted.get(f._1)).distinct.sorted
    val progA = offsetsA.flatMap(progress.get)

    // ---- phase B: drain a backlog of large files ----
    val stB = Main.copyInto(bigFiles, staging(s"b${tracer.on}"))
    val opB = tracer.newOp()
    var spanB = -1
    val (t0, t1) = tracer.span("stream.phase_b", opB) { id =>
      spanB = id
      val t0 = System.currentTimeMillis()
      moveIn(stB)
      q.processAllAvailable()
      (t0, System.currentTimeMillis())
    }
    val admittedB = admittedOffsets()
    val offsetsB = bigFiles.flatMap(f => admittedB.get(f.getFileName.toString)).distinct
    val progressB = q.recentProgress.filter(_.numInputRows > 0).map(p => logOffset(p) -> p).toMap
    val progB = offsetsB.flatMap(progressB.get)
    val rowsB = progB.map(_.numInputRows).sum
    // median over the drain's micro-batches of rows per second of trigger
    // time: one slow trigger on a shared machine does not move it
    val drainRate = Stats.median(progB.map(p =>
      p.numInputRows * 1000.0 / p.durationMs.get("triggerExecution").doubleValue))

    // each admitting micro-batch as a child span of its phase
    Seq((progA, opA, spanA), (progB, opB, spanB)).foreach { case (ps, op, parent) =>
      ps.foreach(p => tracer.record("core.micro_batch", op, parent, Instant(p.timestamp), commitTime(p)))
    }

    res.attempted += feederLog.size + bigFiles.size
    res.failed += notCommitted + (bigFiles.size - progB.size)

    if (!tracer.on) {
      drainWall4 = (t1 - t0) / 1000.0
      res.e2e("op_latency_ms") = (Stats.median(latencies), "ms")
      res.e2e("throughput_per_s") = (drainRate, "1/s")
      res.info("ingest_latency_p50_ms") = Stats.median(latencies)
      res.info("ingest_latency_p90_ms") = Stats.quantile(latencies, 0.9)
      res.info("ingest_latency_samples") = latencies.size
      res.info("ingest_drain_rows_per_s") = drainRate
      res.info("ingest_drain_wall_rows_per_s") = rowsB * 1000.0 / (t1 - t0)
      res.info("ingest_latencies_ms") = latencies
      res.info("gen_late_ms_max") = feederLog.map(f => (f._3 - f._2).toDouble).max
    } else {
      def med(ps: Seq[StreamingQueryProgress], key: String) =
        Stats.median(ps.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)))
      res.layer("sources.latest_offset_ms") = (med(progA, "latestOffset"), "ms")
      res.layer("core.query_planning_ms") = (med(progA, "queryPlanning"), "ms")
      res.layer("core.wal_commit_ms") = (med(progA, "walCommit"), "ms")
      res.layer("core.commit_offsets_ms") = (med(progA, "commitOffsets"), "ms")
      res.layer("sinks.add_batch_ms") = (med(progB, "addBatch"), "ms")
      val states = progB.flatMap(_.stateOperators.headOption)
      res.layer("stream.state_commit_ms") =
        (Stats.median(states.map(_.commitTimeMs.toDouble)), "ms")
      res.layer("stream.state_rows") =
        (states.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0), "count")
      res.layer("stream.state_memory_bytes") =
        (states.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0), "bytes")
      // files that had arrived but were not yet admitted when a phase-A
      // trigger started
      val arrivedAt = feederLog.map { case (nm, _, act) => (act, admitted.getOrElse(nm, Long.MaxValue)) }
      val backlog = offsetsA.flatMap(o => progress.get(o).map(p => o -> Instant(p.timestamp)))
        .map { case (o, st0) => arrivedAt.count { case (act, adm) => act <= st0 && adm > o } }
      res.layer("stream.backlog_files_max") = (backlog.maxOption.getOrElse(0).toDouble, "count")
      res.layer("gen.late_ms_max") =
        (feederLog.map(f => (f._3 - f._2).toDouble).max, "ms")
      listener.foreach { l =>
        l.settle()
        val batchesA = progA.map(_.batchId)
        val byBatch = l.jobsIn(start, t1).filter(j => j.batchId.exists(batchesA.contains))
          .groupBy(_.batchId.get)
        val tasksOf = (js: Seq[JobRec]) => {
          val stages = js.flatMap(_.stages).toSet
          l.tasksIn(start, t1).count(t => stages.contains(t.stageId)).toDouble
        }
        res.layer("spark.jobs_per_batch") =
          (Stats.median(batchesA.map(b => byBatch.get(b).map(_.size.toDouble).getOrElse(0.0))), "count")
        res.layer("spark.tasks_per_batch") =
          (Stats.median(batchesA.map(b => byBatch.get(b).map(tasksOf).getOrElse(0.0))), "count")
      }
    }
    drainRate
  }

  /** file name → the source offset that admitted it, read from the file
    * source's metadata log in the checkpoint. */
  private def admittedOffsets(): Map[String, Long] =
    Main.listFiles(checkpoint.resolve("sources").resolve("0")).filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala)
      .flatMap(l => EntryRe.findFirstMatchIn(l))
      .map(m => m.group(1).split('/').last -> m.group(2).toLong).toMap

  /** The backlog drain again, on a fresh query. */
  def singleCoreSpeedup(s: SparkSession): Double = {
    setup(s, SingleCoreRound)
    val st = Main.copyInto(bigFiles, staging("b1"))
    val t0 = System.currentTimeMillis()
    moveIn(st)
    query.processAllAvailable()
    (System.currentTimeMillis() - t0) / (drainWall4 * 1000.0)
  }

  /** Flush every window with a far-future sentinel event, then hand the
    * sink and the admitted input files to the outside check. */
  def writeCheck(s: SparkSession, res: Result): Unit = {
    val q = query
    val before = q.lastProgress.batchId
    moveIn(Main.copyInto(Seq(sentinel), staging("sentinel")))
    q.processAllAvailable()
    // the watermark advance emits the closed windows in the following
    // no-data micro-batch
    val deadline = System.currentTimeMillis() + 30000
    while (q.lastProgress.batchId < before + 2 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    q.processAllAvailable()
    res.check("sink") = dir.resolve("out").toString
    res.check("inputs") = Main.listFiles(input)
      .filterNot(_.getFileName == sentinel.getFileName).map(_.toString)
  }
}

object StreamIngest {
  /** Phase-A arrival spacing: about half the pipeline's batch capacity on
    * four cores. Each arrival costs a data micro-batch plus the no-data
    * micro-batch its watermark advance triggers, ~0.75 s together. */
  val PeriodMs = 1500
  val SingleCoreRound = 99

  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value_cents", LongType)))

  private val EntryRe = """"path":"([^"]+)".*"batchId":(\d+)""".r

  private val OffsetRe = """"logOffset"\s*:\s*(\d+)""".r
  private def logOffset(p: StreamingQueryProgress): Long =
    OffsetRe.findFirstMatchIn(p.sources.head.endOffset).map(_.group(1).toLong).getOrElse(-1L)

  private def Instant(ts: String): Long = java.time.Instant.parse(ts).toEpochMilli
  private def commitTime(p: StreamingQueryProgress): Long =
    Instant(p.timestamp) + p.durationMs.get("triggerExecution").longValue
}
