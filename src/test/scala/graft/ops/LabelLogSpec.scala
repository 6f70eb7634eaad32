package graft.ops

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession => T}

/**
 * The [[LabelLog]] relabel-log store, driven through the one scenario the
 * corpus fixtures never produce (their planted clusters are all 2-member
 * pairs, whose endpoints are both NEW when the edge is found): bridging
 * merges that MOVE an existing component's minimum, which is exactly what
 * writes relabel rows, builds multi-hop chains, and what the full merge's
 * fold must compress away. The scenario runs through both banded indexes:
 * embedding vectors that are exact copies (identical band hashes, cosine
 * 1), and documents whose shingle sets are identical (identical MinHash
 * bands, Jaccard 1), so candidate discovery is deterministic, not
 * probabilistic. The documents differ only in the run of spaces after
 * their first word, so each is its own fingerprint keeper and the text
 * index's manifest verdicts read the resolved cluster labels.
 */
class LabelLogSpec extends AnyFunSuite {
  lazy val spark = T.spark

  private val u = Seq(1.0, 0.5, -0.3, 0.8, -0.6, 0.2, -0.9, 0.4)
  private val far = Seq(0.4, -0.9, 0.2, -0.6, 0.8, -0.3, 0.5, 1.0)
  private val FarId = 40L

  /** One index under the scenario: its id column, a batch of ids (each a
    * copy of the shared payload, or the far one for [[FarId]]), and the
    * cluster map (id → (label, canonical)) read back through the index's
    * public reader. */
  private case class Twin(name: String, idCol: String, index: BandedDedupIndex,
                          ingest: (Seq[Long], Long) => Unit,
                          clusters: () => Map[Long, (Long, Boolean)])

  private def embedTwin(base: java.nio.file.Path): Twin = {
    import spark.implicits._
    val index = new IncrementalEmbedIndex(base.resolve("state"), geometry = (8, 4))
    Twin("embed", "vec_id", index,
      (ids, j) => index.processBatch(
        ids.map(id => (id, if (id == FarId) far else u)).toDF("vec_id", "embedding"), j),
      () => index.finalClusters(spark).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap)
  }

  private def textTwin(base: java.nio.file.Path): Twin = {
    import spark.implicits._
    val index = new IncrementalDedupIndex(base.resolve("state"))
    def text(id: Long) =
      if (id == FarId) "an unrelated note about state stores and their logs"
      else "the" + " " * id.toInt + "quick brown fox jumps over the lazy dog"
    Twin("text", "doc_id", index,
      (ids, j) => index.processBatch(
        ids.map(id => (id, "s", text(id))).toDF("doc_id", "source", "text"), j),
      () => {
        // near_dup rows point at their cluster's canonical member, which
        // is itself a "keep" row — every cluster here has ≥ 2 members
        val near = index.finalManifest(spark).collect()
          .filter(_.getString(2) == "near_dup")
          .map(r => r.getLong(0) -> (r.getLong(3), false)).toMap
        near ++ near.values.map { case (k, _) => k -> (k, true) }
      })
  }

  /** The batch's relabel part — None when the dir is absent (the
    * trackNonempty contract: empty maps are never written, so part
    * existence means rows). */
  private def relabelPart(base: java.nio.file.Path, j: Long): Option[Set[(Long, Long)]] =
    if (!Files.exists(base.resolve(s"state/relabel/b$j"))) None
    else Some(spark.read.schema("old BIGINT, new BIGINT")
      .parquet(base.resolve(s"state/relabel/b$j").toString)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)

  test("bridging merges log relabels, chains resolve multi-hop, the fold compresses") {
    for (twin <- Seq(embedTwin _, textTwin _)) {
      val base = T.tmpDir("labellog")
      val t = twin(base)
      withClue(s"${t.name} index: ")(scenario(base, t))
    }
  }

  private def scenario(base: java.nio.file.Path, t: Twin): Unit = {
    val index = t.index

    // batch 0: {20, 30} pair up (both endpoints NEW — assignments only,
    // an empty relabel map); 40 is far from everything and never assigned
    t.ingest(Seq(20L, 30L, FarId), 0L)
    assert(t.clusters() == Map(20L -> (20L, true), 30L -> (20L, false)))
    assert(relabelPart(base, 0).isEmpty,
      "a pair of new endpoints logged a relabel (empty maps must not be written)")

    // batch 1: id 10 bridges INTO the existing component and dethrones
    // its minimum — THE relabel case: one log row (20 → 10), and the
    // members' assignments (20,20)/(30,20) are NOT rewritten
    t.ingest(Seq(10L), 1L)
    assert(relabelPart(base, 1).contains(Set((20L, 10L))))
    assert(t.clusters() ==
      Map(10L -> (10L, true), 20L -> (10L, false), 30L -> (10L, false)))

    // the first compact is a FULL merge: the assign level is the RESOLVED
    // cluster table (fold = path compression) and the log level is empty
    assert(index.compact(spark).contains(1L))
    val level = spark.read.parquet(base.resolve("state/assign/c1").toString)
      .select(t.idCol, "lbl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(level == Set((10L, 10L), (20L, 10L), (30L, 10L)),
      "the bin-packed assign level still carries unresolved chains")
    assert(index.debugRead(spark, "relabel", Long.MaxValue).count() == 0)

    // batch 2: id 50 joins — the minimum stays 10, so NO relabel row
    t.ingest(Seq(50L), 2L)
    assert(relabelPart(base, 2).isEmpty,
      "a no-move merge wrote a relabel part")

    // batch 3: id 5 dethrones again → log (10, 5). Id 20's stored label
    // is now TWO hops stale (assign level says 20 → 10, log says 10 → 5):
    // the read view must follow the chain, not one step of it
    t.ingest(Seq(5L), 3L)
    assert(relabelPart(base, 3).contains(Set((10L, 5L))))
    assert(t.clusters() ==
      Map(5L -> (5L, true), 10L -> (5L, false), 20L -> (5L, false),
        30L -> (5L, false), 50L -> (5L, false)),
      "chain (assign level + relabel log) resolved only one step")

    // batch 4: id 3 dethrones once more → log {(10,5), (5,3)}. Id 20's
    // stored label now resolves through a genuine TWO-hop log chain
    // (20 → 10 → 5 → 3), the fixpoint loop's second round
    t.ingest(Seq(3L), 4L)
    assert(relabelPart(base, 4).contains(Set((5L, 3L))))
    val expected = Map(3L -> (3L, true), 5L -> (3L, false), 10L -> (3L, false),
      20L -> (3L, false), 30L -> (3L, false), 50L -> (3L, false))
    assert(t.clusters() == expected,
      "two-hop relabel chain resolved only one step")

    // a DELTA compaction consolidates the log's parts into a level without
    // folding it (union keeps the function intact — keys are globally
    // unique); the view is unchanged, then the next full merge folds
    assert(index.compact(spark).contains(4L))
    assert(index.debugChain == Seq(1L, 4L))
    assert(t.clusters() == expected,
      "the relabel log broke when it moved from parts into a delta level")
    assert(Files.exists(base.resolve("state/relabel/c4/_SUCCESS")))
    assert(index.debugRead(spark, "relabel", Long.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((10L, 5L), (5L, 3L)))
  }
}
