package graft.ops

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.queries.Tables

/**
 * Incremental / streaming deduplication: the n38 per-document manifest
 * maintained continuously as documents arrive, instead of recomputed from
 * scratch. This is the composition a production corpus pipeline actually
 * runs — the reference's flagship path is a streaming source→sink lifecycle
 * (its Delta end-to-end test) and the dedup family (n01→n38) is what the
 * micro-batches must maintain. The banded
 * candidate and label-merge core lives in [[BandedDedupIndex]], the
 * state-machine storage in [[IncrementalStateMachine]]; this class keeps
 * the text payload, its verify kernel, and the manifest.
 *
 * Per micro-batch (`foreachBatch`, the d61 idempotent-write shape):
 *   1. compute the batch's shingle hashes, MinHash band hashes, and md5
 *      fingerprints with the SAME kernels the batch queries use
 *      ([[Dedup.wordShingles]] / [[Dedup.minHashSignature]] /
 *      [[Dedup.lshBands]]) — banding is per-document and deterministic, so
 *      candidate recall is batching-invariant;
 *   2. generate stream-static candidates and verify them with exact
 *      Jaccard ([[Dedup.verifyJaccard]]) against the `shingles` table,
 *      pruned to the candidate endpoints' id buckets;
 *   3. append the batch's parts (one `b<batchId>` parquet part per table,
 *      overwrite mode + commit marker ⇒ checkpoint-replay idempotent,
 *      exactly the `IdempotentParquetWriter` contract) and fold the edges
 *      into the cluster labels — a batch that connects two existing
 *      clusters relabels the larger-min one, which can flip an old "keep"
 *      verdict to "near_dup", exactly as a batch recompute would;
 *   4. append the batch's (fp, min doc_id) keeper rows and arrival-time
 *      verdicts for the batch's documents to their part tables.
 *
 * `docs`/`manifest` compact flat: they are only read corpus-wide
 * (finalManifest / arrivalLog). The fingerprint keepers are min-resolved
 * per-batch parts, collapsed to one min row per fp at the full merge.
 *
 * Correctness claim (tested in `IncrementalDedupSpec`, oracle-gated as
 * n41): after `processAllAvailable`, [[IncrementalDedupIndex.finalManifest]]
 * equals the batch n38 manifest on the same documents — for ANY split of
 * the corpus into batches.
 */
final class IncrementalDedupIndex(root: Path, threshold: Double = 0.8,
                                  bandBuckets: Int = 64,
                                  override protected val maxLevels: Int = 4,
                                  bucketMaxDirs: Int = 4096,
                                  idBuckets: Int = 64)
  extends BandedDedupIndex(root, "doc", bandBuckets, idBuckets, bucketMaxDirs) {

  private val DocsDdl = "doc_id BIGINT, source STRING, fp STRING"
  private val ShinglesDdl = "doc_id BIGINT, sh_hashes ARRAY<BIGINT>"
  private val FpKeepDdl = "fp STRING, fp_keep BIGINT"
  private val ManifestDdl =
    "doc_id BIGINT, source STRING, verdict STRING, keep_doc BIGINT"

  override protected def partTables: Seq[PartTable] =
    Seq(PartTable("docs", DocsDdl), idBucketed("shingles", ShinglesDdl),
      bandsTable, PartTable("manifest", ManifestDdl)) ++ labelTables :+
      PartTable("fpkeep", FpKeepDdl,
        Some(Bucketing(fpBucketCol, idBuckets, bucketMaxDirs)))

  /** The label-store fold (see [[BandedDedupIndex]]), plus the fingerprint
    * keepers collapsed to one min row per fp — content-equivalent under
    * the keepers' read-time group-min. */
  override protected def fullMergeContent(spark: SparkSession, t: PartTable,
                                          df: DataFrame): DataFrame =
    if (t.name == "fpkeep") df.groupBy("fp").agg(min(col("fp_keep")).as("fp_keep"))
    else super.fullMergeContent(spark, t, df)

  /** The fingerprint-keeper table's hive-bucket column — the arrival
    * manifest's fp lookup prunes to the batch's fp buckets. */
  private def fpBucketCol: Column =
    pmod(xxhash64(col("fp")), lit(idBuckets.toLong))

  /** The keeper view below `max`: min doc_id per fingerprint over the
    * (optionally bucket-pruned) keeper parts — group-min is associative,
    * so plain union consolidation of the parts is exact. */
  private def fpView(spark: SparkSession, max: Long,
                     pruneTo: Option[Seq[Long]] = None,
                     requireMarker: Boolean = false): DataFrame =
    readParts(spark, "fpkeep", max, FpKeepDdl, requireMarker = requireMarker,
        pruneTo = pruneTo)
      .groupBy("fp").agg(min(col("fp_keep")).as("fp_keep"))

  /** The `foreachBatch` entry point. Replay-idempotent: a committed batch
    * short-circuits; an interrupted one recomputes deterministically and
    * overwrites its own parts (both end states identical — the
    * [[graft.sinks.IdempotentParquetWriter]] contract). */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    if (isCommitted(batchId)) return
    rejectBelowWatermark(batchId)
    val spark = batch.sparkSession
    val b = batch.persist()
    val sh = b
      .select(col("doc_id"), Dedup.wordShingles(col("text")).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .select(col("doc_id"),
        array_sort(transform(col("shingles"), s => xxhash64(s))).as("sh_hashes"))
      .persist()
    val bandsB = sh
      .select(col("doc_id"),
        explode(Dedup.lshBands(Dedup.minHashSignature(col("sh_hashes")))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
      .persist()
    val cands = candidates(spark, bandsB, batchId)
    val (edges, nEdges) = checkpointEdges(Dedup.verifyJaccard(cands.pairs,
      readParts(spark, "shingles", batchId, ShinglesDdl,
        pruneTo = cands.endpointBuckets).unionByName(sh),
      threshold))
    try {
      val docsB = b.select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
      // four independent jobs into distinct dirs — overlapped per guide
      // §2.6 (per-batch scale: the wall is job fixed cost, not data; the
      // fp keepers derive from the cached batch, not from any other part,
      // and nothing below reads them before the manifest's fpView)
      inParallel(
        () => docsB.write.mode("overwrite")
          .parquet(partDir("docs", batchId).toString),
        () => sh.write.mode("overwrite")
          .parquet(partDir("shingles", batchId).toString),
        () => bandsB.write.mode("overwrite")
          .parquet(partDir("bands", batchId).toString),
        () => docsB.groupBy("fp").agg(min(col("doc_id")).as("fp_keep"))
          .write.mode("overwrite").parquet(partDir("fpkeep", batchId).toString))
      mergeLabels(spark, edges, nEdges, batchId, cands.trickle)

      // arrival-time verdicts for THIS batch's documents (the append-only
      // audit log; a later bridging merge can supersede an old doc's
      // verdict, which is why finalManifest derives from state instead).
      // The fp lookup prunes to the BATCH's fp buckets in the trickle
      // regime (the join is inner, so out-of-bucket rows cannot match).
      // The LABEL input needs no store read at all. The claim relied on
      // is the restricted one: THIS batch's docs join only against labels
      // keyed by THIS batch's doc ids, and a doc cannot be assigned
      // before it is ingested — so a batch doc's label as of batchId+1 is
      // either in this batch's own assign part or absent. (A PRE-EXISTING
      // doc can well be assigned by a later batch's bridging edge; those
      // rows land in that batch's part and are irrelevant to this join.)
      val fpSet =
        if (!cands.trickle) None
        else pruneSet(docsB, fpBucketCol, batchId + 1, idBuckets)
      val batchLabels =
        if (nEdges > 0) spark.read.schema(StructType.fromDDL(AssignDdl))
          .parquet(partDir("assign", batchId).toString)
        else emptyDf(spark, AssignDdl)
      manifestFor(docsB, fpView(spark, batchId + 1, pruneTo = fpSet),
          batchLabels)
        .write.mode("overwrite").parquet(partDir("manifest", batchId).toString)

      commitBatch(batchId)
    } finally {
      if (cands.trickle) cands.pairs.unpersist()
      bandsB.unpersist(); sh.unpersist(); b.unpersist()
    }
  }

  /** The n38 verdict CASE ([[Dedup.manifestVerdictCols]], the shared
    * builder) over (docs ⋈ fp keepers ⋈ cluster labels) —
    * `is_canonical ⟺ cluster_id = doc_id` because labels are component
    * minima, which is exactly what the batch path's explicit flag encodes. */
  private def manifestFor(docs: DataFrame, fpmin: DataFrame,
                          labels: DataFrame): DataFrame =
    docs.join(fpmin, "fp")
      .join(labels.select(col("doc_id"), col("lbl").as("cluster_id")),
        Seq("doc_id"), "left")
      .withColumn("is_canonical", col("cluster_id") === col("doc_id"))
      .select(col("doc_id") +: col("source") +:
        Dedup.manifestVerdictCols("doc_id", "keep_doc"): _*)

  /** The manifest implied by the final state — row-identical to the batch
    * n38 manifest over every ingested document. Marker-gated: only fully
    * committed batches contribute, so an external reader racing a crash
    * never joins a docs part against missing keeper/label rows. */
  def finalManifest(spark: SparkSession): DataFrame =
    manifestFor(readParts(spark, "docs", Long.MaxValue, DocsDdl, requireMarker = true),
      fpView(spark, Long.MaxValue, requireMarker = true),
      committedLabels(spark))

  /** The append-only arrival audit log: one verdict row per document,
    * written in the batch that ingested it, judged against the state AS OF
    * that batch. Exactly one row per ingested doc; a row can differ from
    * [[finalManifest]] only by a later batch superseding it (an exact-dup
    * keeper dethroned by a smaller doc_id, or a bridging merge relabeling
    * a cluster) — `IncrementalDedupSpec` asserts both properties. */
  def arrivalLog(spark: SparkSession): DataFrame =
    readParts(spark, "manifest", Long.MaxValue, ManifestDdl,
      requireMarker = true)
}

object IncrementalDedup {

  /** Stage `docs` as `chunks` arrival groups (one parquet file each,
    * written sequentially so modification-time ordering gives one file per
    * micro-batch under maxFilesPerTrigger=1). The split key is arbitrary:
    * the final manifest is batching-invariant. */
  private[graft] def stageChunks(docs: DataFrame, input: Path, chunks: Int,
                               from: Int = 0): Unit =
    StreamHarness.stageChunks(docs, pmod(col("doc_id"), lit(chunks)),
      input, chunks, from)

  /** One AvailableNow run of the incremental pipeline over whatever staged
    * files the checkpoint has not seen yet. */
  private[graft] def runStream(spark: SparkSession, input: Path, ckpt: Path,
                             index: IncrementalDedupIndex): Unit =
    StreamHarness.run(spark, input, ckpt, "graft:n41")(index.processBatch)

  /** n41: ingest the documents table as a 4-batch file stream through the
    * incremental index, COMPACT the part tables (putting the maintenance
    * pass inside the driver's oracle gate, as in the n52 twin), then emit
    * the manifest implied by the final state. Oracle: the batch n38 SQL
    * ([[Dedup.dedupManifestOracle]]) verbatim — the whole point is that
    * incremental maintenance converges to the batch answer. */
  def streamingManifestQuery(spark: SparkSession, dir: String,
                             chunks: Int = 4): DataFrame = {
    val base = Tables.scratchDir("n41")
    val docs = Tables.documents(spark, dir)
    // size the collision buckets with corpus size exactly as the n52/n58
    // embed/media paths do (round-11 advice: a fixed default here would
    // undercut the fixed-rows-per-bucket argument pruning rests on);
    // the text index bands with the lshBands default of 16 bands/doc
    val n = docs.count()
    val index = new IncrementalDedupIndex(base.resolve("state"),
      bandBuckets = IncrementalEmbedDedup.bucketsFor(n, 16),
      idBuckets = IncrementalEmbedDedup.bucketsFor(n, 1))
    stageChunks(docs, base.resolve("input"), chunks)
    runStream(spark, base.resolve("input"), base.resolve("ckpt"), index)
    index.compact(spark)
    index.finalManifest(spark).orderBy("doc_id")
  }
}
