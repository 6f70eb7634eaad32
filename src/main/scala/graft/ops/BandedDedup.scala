package graft.ops

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The banded near-dup index shared by the incremental dedup indexes
 * ([[IncrementalDedupIndex]] text n41, [[IncrementalEmbedIndex]]
 * embeddings n52 / media n58): the candidate and label-merge core on top
 * of the [[IncrementalStateMachine]] storage. The two indexes differ only
 * in their payload table (shingles / unit vectors), their verify kernel
 * (exact Jaccard / dot product) and the id column's prefix (`doc` /
 * `vec`); everything keyed by the id lives here once:
 *
 *  - the `bands` part table, hive-bucketed on `hash(band, bh) % P`, and
 *    the stream-static candidate join against it ([[candidates]]) —
 *    batch bands ⋈ (index ∪ batch) on (band, bh), so each qualifying
 *    unordered pair is discovered exactly once across the run, in the
 *    batch where its younger member arrives. The probe reads only the
 *    buckets the batch's K band keys can collide with — per-batch read
 *    `coverage(K, P) × index`, `coverage = 1-(1-1/P)^K`, so a trickle
 *    batch reads a constant fraction regardless of index lifetime;
 *  - the payload and `assign` tables' id-hash bucket column, and the
 *    candidate-endpoint bucket set the verification read prunes to;
 *  - the verified edge set's observe + eager `localCheckpoint`
 *    ([[checkpointEdges]]);
 *  - the [[LabelLog]] label store (`assign` + `relabel` part tables, their
 *    full-merge fold) and the small / distributed label merge
 *    ([[mergeLabels]]).
 *
 * Labels are component-minimum ids, so contracting each batch's edges
 * through the current labels preserves the global fixpoint: after every
 * batch the label view equals what the batch algorithm computes over all
 * ids seen so far, bridging merges included — for ANY split of the
 * corpus into batches, because the edge set is batching-invariant.
 *
 * Each subclass's `processBatch` calls these helpers directly, in order:
 * [[candidates]], its verify kernel into [[checkpointEdges]], its part
 * writes, [[mergeLabels]], then `commitBatch`.
 */
abstract class BandedDedupIndex(root: Path, idPrefix: String,
                                bandBuckets: Int, idBuckets: Int,
                                bucketMaxDirs: Int)
  extends IncrementalStateMachine(root) {

  private val idCol = s"${idPrefix}_id"
  private val (idA, idB) = (s"${idPrefix}_a", s"${idPrefix}_b")
  private val BandsDdl = s"$idCol BIGINT, band INT, bh BIGINT"
  protected final val AssignDdl = s"$idCol BIGINT, lbl BIGINT"

  /** The band tree's hive-bucket column — the candidate probe's pruning
    * key (a batch band key can only collide inside its own bucket). */
  private def bandBucketCol: Column =
    pmod(xxhash64(col("band"), col("bh")), lit(bandBuckets.toLong))

  /** The id-hash bucket column of the payload and `assign` tables — the
    * verification read's and the endpoint lookup's pruning key. Sized by
    * the payload table's own row count (`idBuckets`, one row per id), not
    * the band table's: inheriting the band count measured as ~49-row
    * files at ×100 — all dir/discovery overhead, no extra pruning power. */
  protected final def idBucketCol(c: Column): Column =
    pmod(xxhash64(c), lit(idBuckets.toLong))

  /** The payload table bucketed on the id hash. */
  protected final def idBucketed(name: String, ddl: String): PartTable =
    PartTable(name, ddl,
      Some(Bucketing(idBucketCol(col(idCol)), idBuckets, bucketMaxDirs)))

  protected final def bandsTable: PartTable =
    PartTable("bands", BandsDdl,
      Some(Bucketing(bandBucketCol, bandBuckets, bucketMaxDirs)))

  /** The relabel-log label store (see [[LabelLog]]): write-once
    * assignments pruned by id-hash bucket at lookup, plus the per-batch
    * relabel map. */
  protected final def labelTables: Seq[PartTable] = Seq(
    idBucketed("assign", AssignDdl),
    PartTable("relabel", LabelLog.RelabelDdl, trackNonempty = true))

  override protected def snapTables: Seq[(String, String)] = Seq.empty

  /** Full merges resolve the assignment level through the whole relabel
    * log and empty the log level (union-find path compression at the
    * bin-pack): read-time chains restart from zero, and both transforms
    * are deterministic functions of committed state. */
  override protected def fullMergeContent(spark: SparkSession, t: PartTable,
                                          df: DataFrame): DataFrame =
    t.name match {
      case "assign" => resolved(spark, df, Long.MaxValue, requireMarker = true)
      case "relabel" => emptyDf(spark, LabelLog.RelabelDdl)
      case _ => df
    }

  /** Assignments resolved through the live relabel log below `max`, with
    * the driver-side fast path: when the log cannot hold rows (most
    * batches of most streams), skip the resolve and its fixpoint jobs. */
  protected final def resolved(spark: SparkSession, assign: DataFrame,
                               max: Long,
                               requireMarker: Boolean = false): DataFrame =
    if (!trackedHasData("relabel", max)) assign
    else LabelLog.resolve(assign, readParts(spark, "relabel", max,
      LabelLog.RelabelDdl, requireMarker = requireMarker))

  /** The label view over every marker-committed batch: component-minimum
    * labels, keyed by the id column. */
  protected final def committedLabels(spark: SparkSession): DataFrame =
    resolved(spark, readParts(spark, "assign", Long.MaxValue, AssignDdl,
      requireMarker = true), Long.MaxValue, requireMarker = true)

  /** The batch's candidate pairs (`<p>_a < <p>_b`), with the pruning they
    * engage. The band read prunes to the batch's band-key buckets; only
    * then (the TRICKLE regime) are the pairs persisted and their endpoint
    * buckets collected for the verification read — a bulk batch's
    * endpoint set covers most buckets anyway, and its collect would force
    * the candidate join once extra (measured as the whole +30% bulk-batch
    * cost at ×100). Listing-time pruning of the same broadcast-candidate
    * double scan, NOT an endpoint semi-join: that added shuffles and
    * doubled the gated replay. */
  protected final def candidates(spark: SparkSession, bandsB: DataFrame,
                                 batchId: Long): BandedDedupIndex.Candidates = {
    val pbSet = pruneSet(bandsB, bandBucketCol, batchId, bandBuckets)
    val all = readParts(spark, "bands", batchId, BandsDdl, pruneTo = pbSet)
      .unionByName(bandsB)
    val pairs0 = bandsB.as("x").join(all.as("y"), Seq("band", "bh"))
      .filter(col(s"x.$idCol") =!= col(s"y.$idCol"))
      .select(least(col(s"x.$idCol"), col(s"y.$idCol")).as(idA),
        greatest(col(s"x.$idCol"), col(s"y.$idCol")).as(idB))
      .distinct()
    val trickle = pbSet.isDefined
    val pairs = if (trickle) pairs0.persist() else pairs0
    val epSet =
      if (!trickle) None
      else pruneSet(pairs, explode(array(idBucketCol(col(idA)),
        idBucketCol(col(idB)))), batchId, idBuckets)
    BandedDedupIndex.Candidates(pairs, trickle, epSet)
  }

  /** The verified edges (`<p>_a`, `<p>_b`) and their count. EAGER
    * localCheckpoint, not persist: the label merge issues several small
    * actions over the edge set, and Catalyst re-analyzes the full logical
    * tree on every action, so each would re-pay the candidate+verify
    * pipeline's analysis. The checkpoint pins the batch-bounded edge set
    * as a LogicalRDD (ContextCleaner-managed, nothing to unpersist), and
    * the count rides the checkpoint job itself. */
  protected final def checkpointEdges(verified: DataFrame): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val edges = verified.select(idA, idB)
      .observe(obs, count(lit(1)).as("n_edges"))
      .localCheckpoint(true)
    val n = obs.get.get("n_edges") match {
      case Some(l: java.lang.Long) => l.longValue()
      case _ => 0L
    }
    (edges, n)
  }

  /** Fold the batch's `nEdges` verified edges into the label store,
    * writing only the batch's own `assign` and `relabel` parts. In the
    * trickle regime with an empty relabel log and at most
    * [[LabelLog.SmallMergeMaxEdges]] edges the merge runs driver-side
    * ([[smallMerge]]); bulk, over-ceiling and nonempty-log batches take
    * the distributed path. */
  protected final def mergeLabels(spark: SparkSession, edges: DataFrame,
                                  nEdges: Long, batchId: Long,
                                  trickle: Boolean): Unit =
    if (nEdges > 0 && nEdges <= LabelLog.SmallMergeMaxEdges && trickle &&
        !trackedHasData("relabel", batchId))
      smallMerge(spark,
        edges.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))), batchId)
    else if (nEdges > 0) {
      // look up the edge ENDPOINTS' current labels — the assign read pruned
      // to the endpoints' id-hash buckets in the trickle regime, joined to
      // the endpoints BEFORE resolving (resolving first would run the
      // relabel hop over every assignment in the pruned buckets)
      val endpoints = edges.select(col(idA).as(idCol))
        .unionByName(edges.select(col(idB).as(idCol)))
        .distinct().persist()
      val aSet =
        if (!trickle) None
        else pruneSet(endpoints, idBucketCol(col(idCol)), batchId, idBuckets)
      // persisted: the contraction, the new-endpoint anti-join, and the
      // relabel restriction are three consumers of the pruned lookup
      val cur = resolved(spark,
        readParts(spark, "assign", batchId, AssignDdl, pruneTo = aSet)
          .join(endpoints, idCol), batchId)
        .select(col(idCol).as("id"), col("lbl")).persist()
      val (newAssign, relabel) = LabelLog.deltas(
        edges.select(col(idA).as("a"), col(idB).as("b")),
        endpoints.select(col(idCol).as("id")), cur)
      newAssign.select(col("id").as(idCol), col("lbl"))
        .write.mode("overwrite").parquet(partDir("assign", batchId).toString)
      // never write an EMPTY relabel part (the trackNonempty contract:
      // part existence ⇒ rows, which buys every later batch the
      // driver-side skip; emptiness is deterministic, so replay agrees) —
      // one probe job over the persisted relabel frame
      val rel = relabel.persist()
      if (rel.limit(1).count() > 0)
        rel.write.mode("overwrite").parquet(partDir("relabel", batchId).toString)
      rel.unpersist()
      cur.unpersist(); endpoints.unpersist()
    }

  /** The bounded driver-side label merge: endpoint labels from the
    * bucket-pruned WRITE-ONCE assign table (≤ 2·edges rows; the log is
    * empty by the dispatch guard, so no resolve), min-root union-find via
    * [[LabelLog.deltasLocal]], the two delta parts written from literal
    * frames. Same outputs as the distributed path (`LabelLogProps` pins
    * the equivalence), so replay may interleave the two freely. */
  private def smallMerge(spark: SparkSession, rows: Seq[(Long, Long)],
                         batchId: Long): Unit = {
    import spark.implicits._
    val endpoints = rows.flatMap { case (a, b) => Seq(a, b) }.distinct
    val bSet = endpoints.map(BandedDedupIndex.idBucketLocal(_, idBuckets)).distinct
    val cur = readParts(spark, "assign", batchId, AssignDdl,
        pruneTo = Some(bSet).filter(_.size <= idBuckets / 2))
      .filter(col(idCol).isInCollection(endpoints))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val (newAssign, relabel) = LabelLog.deltasLocal(rows, cur)
    newAssign.toDF(idCol, "lbl").coalesce(1)
      .write.mode("overwrite").parquet(partDir("assign", batchId).toString)
    // emptiness is known driver-side here, no probe job
    if (relabel.nonEmpty)
      relabel.toDF("old", "new").coalesce(1)
        .write.mode("overwrite").parquet(partDir("relabel", batchId).toString)
  }

  /** Dev/spec accessors: the bucket columns the pruning plan pins in
    * `IncrementalPruningSpec` filter on. */
  private[graft] def debugBandBucket: Column = bandBucketCol
  private[graft] def debugIdBucket(c: Column): Column = idBucketCol(c)
}

object BandedDedupIndex {

  /** A batch's candidate pairs; `trickle` when band pruning engaged (the
    * pairs are then persisted — the caller unpersists), and the endpoint
    * id buckets the verification read prunes to. */
  final case class Candidates(pairs: DataFrame, trickle: Boolean,
                              endpointBuckets: Option[Seq[Long]])

  /** Driver-side twin of the id-hash bucket column —
    * `pmod(xxhash64(id), buckets)` via the same XXH64 kernel Spark's
    * expression runs (seed 42); `LabelLogProps` pins the parity. */
  private[graft] def idBucketLocal(id: Long, buckets: Int): Long =
    java.lang.Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L),
      buckets.toLong)
}
