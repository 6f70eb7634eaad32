package graftbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.ops.IncrementalDedupIndex

/** One closed-loop client running, pass after pass, a seeded permutation
  * of fixed registry batch queries (each through the `noop` sink, over
  * the fixed sf0.01 tables) plus one micro-batch of seeded documents into
  * an `IncrementalDedupIndex` (`processBatch`, called directly, no
  * streaming harness). The queries measure the batch floor of the query,
  * plan, dedup and similarity layers; the index batch, whose cost is
  * nearly all per-batch fixed cost, measures the incremental state layer;
  * neither touches the streaming source or sink. After the timed passes
  * the index is compacted and its final manifest read. */
final class BatchMix(a: Args) extends Workload {
  import BatchMix._

  private val tables = a.tables.toString
  private val docBatches = Main.listFiles(a.inputs.resolve("docs"))
  private val rng = new scala.util.Random(a.seed)
  private var dir: Path = _
  private var index: IncrementalDedupIndex = _
  private var ingested = 0
  /** Four-core median time of each query in the untraced measurement. */
  private var queryMs4 = Map.empty[String, Double]

  def setup(spark: SparkSession, round: Int): Unit = {
    dir = Main.fresh(a.work.resolve("batch_mix").resolve(s"r$round"))
    index = new IncrementalDedupIndex(dir.resolve("state"))
    ingested = 0
    Main.noop(SparkEntry.queries(WarmQuery)(spark, tables))
  }

  def teardown(): Unit = ()

  private def run(spark: SparkSession, op: String): Unit =
    if (op == DedupOp) {
      require(ingested < docBatches.size, s"more index batches than the ${docBatches.size} generated")
      index.processBatch(spark.read.parquet(docBatches(ingested).toString), ingested)
      ingested += 1
    } else {
      Main.noop(SparkEntry.queries(op)(spark, tables))
      // ops queries persist intermediate indexes; release them so the
      // next operation does not run under their memory
      spark.catalog.clearCache()
    }

  def measure(spark: SparkSession, tracer: Tracer, listener: Option[EngineListener],
              res: Result): Double = {
    if (!tracer.on) checkPass(spark, res)
    // an untimed first index batch: warms the state layer's code paths
    // and gives compaction more than one batch to fold
    run(spark, DedupOp)
    val runs = scala.collection.mutable.ArrayBuffer.empty[(String, Span)]
    var failed = 0
    val t0 = System.currentTimeMillis()
    val cpu0 = Main.processCpuMs()
    val passes = math.max(1, math.round(a.seconds / PassSeconds).toInt)
    (0 until passes).foreach { _ =>
      tracer.span("batch_mix.pass", tracer.newOp()) { pass =>
        rng.shuffle(Ops).foreach { name =>
          val op = tracer.newOp()
          val s0 = System.currentTimeMillis()
          try tracer.span(familyOf(name), op, pass)(_ => run(spark, name))
          catch { case e: Exception =>
            System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
            failed += 1
          }
          runs += name -> Span(0, op, name, -1, s0, System.currentTimeMillis())
        }
      }
    }
    val elapsed = (System.currentTimeMillis() - t0) / 1e3
    val cpuS = (Main.processCpuMs() - cpu0) / 1e3
    val rate = (runs.size - failed) / elapsed
    res.attempted += runs.size
    res.failed += failed

    // compaction and final-manifest reads of the index, outside the rate
    val before = Main.treeSizes(dir.resolve("state"))
    val c0 = System.nanoTime()
    tracer.span("ops.state.compact", tracer.newOp())(_ => index.compact(spark))
    val compactMs = (System.nanoTime() - c0) / 1e6
    val after = Main.treeSizes(dir.resolve("state"))
    val manifestMs = (0 until ManifestReads).map { _ =>
      val m0 = System.nanoTime()
      tracer.span("ops.state.final_manifest", tracer.newOp())(_ => Main.noop(index.finalManifest(spark)))
      (System.nanoTime() - m0) / 1e6
    }

    val queryRuns = runs.filter(_._1 != DedupOp).map(_._2).toSeq
    val batchRuns = runs.filter(_._1 == DedupOp).map(_._2).toSeq
    if (!tracer.on) {
      // geometric mean: every operation moves it by its own relative
      // change, the slow queries as much as the fast ones
      res.e2e("op_latency_ms") = (Stats.geomean(runs.map(_._2.ms).toSeq), "ms")
      res.e2e("throughput_per_s") = (rate, "1/s")
      res.info("batch_mix_ops_per_min") = rate * 60
      res.info("timed_wall_s") = elapsed
      res.info("timed_cpu_s") = cpuS
      res.info("batch_mix_passes") = passes
      val opMs = Ops.map(q => q -> Stats.median(runs.filter(_._1 == q).map(_._2.ms).toSeq)).toMap
      queryMs4 = opMs - DedupOp
      res.info("batch_mix_op_ms") = opMs
      res.info("dedup_batch_p50_s") = Stats.median(batchRuns.map(_.ms)) / 1e3
      res.info("dedup_batch_samples") = batchRuns.size
      res.info("dedup_manifest_s") = Stats.median(manifestMs) / 1e3
    } else {
      Families.foreach { case (family, ops) =>
        res.layer(s"$family.${FamilyMetric(family)}") =
          (Stats.median(runs.filter(r => ops.contains(r._1)).map(_._2.ms).toSeq), "ms")
      }
      res.layer("ops.state.compact_ms") = (compactMs, "ms")
      val written = after.collect { case (p, sz) if !before.contains(p) => sz }.sum
      res.layer("ops.state.compact_bytes_written") = (written.toDouble, "bytes")
      val inputBytes = docBatches.take(ingested).map(java.nio.file.Files.size).sum
      res.layer("ops.state.write_amp") =
        ((before.values.sum + written).toDouble / inputBytes, "ratio")
      res.layer("ops.state.final_manifest_ms") = (Stats.median(manifestMs), "ms")
      listener.foreach { l =>
        l.settle()
        def med(spans: Seq[Span])(f: Span => Double) = Stats.median(spans.map(f))
        res.layer("spark.jobs_per_batch") =
          (med(batchRuns)(s => l.jobsIn(s.startMs, s.endMs).size.toDouble), "count")
        res.layer("spark.tasks_per_batch") =
          (med(batchRuns)(s => l.tasksIn(s.startMs, s.endMs).size.toDouble), "count")
        res.layer("spark.stages_per_batch") =
          (med(batchRuns)(s => l.jobsIn(s.startMs, s.endMs).map(_.stages.size).sum.toDouble), "count")
        res.layer("spark.driver_gap_ms_per_batch") =
          (med(batchRuns)(s => l.driverGapMs(s.startMs, s.endMs)), "ms")
        res.layer("spark.shuffle_bytes_per_batch") =
          (med(batchRuns)(s => l.tasksIn(s.startMs, s.endMs).map(_.shuffleWrite).sum.toDouble), "bytes")
        res.layer("spark.driver_gap_ms_per_query") =
          (med(queryRuns)(s => l.driverGapMs(s.startMs, s.endMs)), "ms")
        res.layer("spark.tasks_per_query") =
          (med(queryRuns)(s => l.tasksIn(s.startMs, s.endMs).size.toDouble), "count")
        res.layer("spark.shuffle_bytes_per_query") =
          (med(queryRuns)(s => l.tasksIn(s.startMs, s.endMs).map(_.shuffleWrite).sum.toDouble), "bytes")
        res.layer("spark.spill_bytes") =
          (runs.map(r => l.tasksIn(r._2.startMs, r._2.endMs).map(_.spill).sum.toDouble).sum, "bytes")
        res.layer("spark.task_skew") =
          (med(queryRuns)(s => l.taskSkew(s.startMs, s.endMs)), "ratio")
      }
    }
    rate
  }

  /** One pass of the queries after the same warm-up, against the sum of
    * their four-core medians. */
  def singleCoreSpeedup(spark: SparkSession): Double = {
    setup(spark, SingleCoreRound)
    val oneCoreMs = Queries.map { q =>
      val t0 = System.nanoTime()
      run(spark, q)
      (System.nanoTime() - t0) / 1e6
    }.sum
    oneCoreMs / Queries.map(queryMs4).sum
  }

  /** The index's final manifest and the documents it ingested, for the
    * outside check against the batch dedup-manifest oracle SQL. */
  def writeCheck(spark: SparkSession, res: Result): Unit = {
    val out = dir.resolve("manifest")
    index.finalManifest(spark).orderBy("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(out.toString)
    res.check("manifest") = out.toString
    res.check("docs") = docBatches.take(ingested).map(_.toString)
    res.check("manifest_sql") = graft.ops.Dedup.dedupManifestOracle
  }

  /** Untimed first pass: each query's result as parquet, with its oracle
    * SQL, for the outside DuckDB compare. It also warms every query's
    * code paths before the timed passes. */
  private def checkPass(spark: SparkSession, res: Result): Unit = {
    val out = a.work.resolve("batch_mix").resolve("results")
    Main.rmTree(out)
    Queries.foreach { name =>
      SparkEntry.queries(name)(spark, tables).write.parquet(out.resolve(name).toString)
      spark.catalog.clearCache()
    }
    res.check("results") = out.toString
    res.check("tables") = tables
    res.check("oracle_sql") = Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
  }
}

object BatchMix {
  val WarmQuery = "d01_pricing_summary"
  val DedupOp = "incremental_dedup_batch"
  val ManifestReads = 3
  val SingleCoreRound = 99
  /** Run seconds per pass: the number of passes is fixed by the run's
    * seconds (a pass takes about 12 s on four cores), so every commit
    * does the same work. */
  val PassSeconds = 12.0

  /** Operation families, named after the layer whose code each
    * exercises: two registry queries each (the cheaper ones of their
    * family, so a run holds whole passes), and the index batch. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "queries" -> Seq("d01_pricing_summary", "d09_cube"),
    "plans" -> Seq("d06_rank_windows", "d18_word_topk"),
    "ops.dedup" -> Seq("n04_dedup_simhash", "n51_dup_segment_top"),
    "ops.similarity" -> Seq("n35_label_centroid", "n78_pq_knn_rerank"),
    "ops.state" -> Seq(DedupOp))

  val FamilyMetric: Map[String, String] = Map(
    "queries" -> "rel_query_ms", "plans" -> "topk_query_ms",
    "ops.dedup" -> "query_ms", "ops.similarity" -> "query_ms",
    "ops.state" -> "process_batch_ms")

  val Ops: Seq[String] = Families.flatMap(_._2)
  val Queries: Seq[String] = Ops.filter(_ != DedupOp)

  def familyOf(op: String): String = Families.find(_._2.contains(op)).get._1
}
