package graft.ops

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.scalacheck.rng.Seed

import graft.{SparkTestSession => T}

/**
 * [[LabelLog.resolve]] as a property: for ANY relabel map satisfying the
 * store invariants — keys globally unique, values strictly below their
 * keys (the two facts the LabelLog scaladoc derives from component-minimum
 * merges) — and any assignment rows, resolve equals the naive driver-side
 * chase-the-chain-to-fixpoint resolution. The generator grows chains by
 * construction (values are drawn from ids that may themselves be keys),
 * so multi-hop logs — including hops longer than anything the corpus
 * fixtures or `LabelLogSpec`'s scripted scenario produce — are routine
 * cases, and the pointer-doubling closure's round structure
 * (⌈log₂ depth⌉ + 1) is exercised at depths where the pre-round-14
 * per-round fixpoint would have taken `depth` passes over the assignment
 * join chain.
 *
 * Seed policy (round 6, repo-wide): pinned initial seed.
 */
object LabelLogProps extends Properties("LabelLog") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withInitialSeed(Seed(20260815L)).withMinSuccessfulTests(10)

  private lazy val spark = T.spark

  /** A random invariant-respecting relabel map over ids 1..n: a random
    * subset of ids become keys, each mapped to a random strictly-smaller
    * id. Smaller targets may themselves be keys — chains arise freely. */
  private val caseGen: Gen[(Map[Long, Long], Seq[(Long, Long)])] = for {
    n <- Gen.choose(5, 60)
    keyCount <- Gen.choose(1, n - 1)
    keys <- Gen.pick(keyCount, (2 to n).map(_.toLong))
    targets <- Gen.sequence[Seq[Long], Long](
      keys.toSeq.map(k => Gen.choose(1L, k - 1)))
    nAssign <- Gen.choose(1, 40)
    assignIds <- Gen.listOfN(nAssign, Gen.choose(1000L, 2000L))
    assignLbls <- Gen.listOfN(nAssign, Gen.choose(1L, n.toLong))
  } yield (keys.toSeq.zip(targets).toMap,
    assignIds.distinct.zip(assignLbls))

  private def chase(m: Map[Long, Long], l: Long): Long = {
    var cur = l
    while (m.contains(cur)) cur = m(cur)
    cur
  }

  property("resolve == naive chain-chasing for any invariant-respecting log") =
    forAll(caseGen) { case (m, assign) =>
      import spark.implicits._
      val maps = m.toSeq.toDF("old", "new")
      val assignDf = assign.toDF("id", "lbl")
      val got = LabelLog.resolve(assignDf, maps)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = assign.map { case (id, l) => (id, chase(m, l)) }.toSet
      got == want
    }

  property("a deep descending chain resolves in full (doubling path)") =
    forAll(Gen.choose(50, 200)) { depth =>
      import spark.implicits._
      // the pathological log: one chain depth..1, every hop logged
      val m = (2 to depth).map(i => (i.toLong, i.toLong - 1))
      val maps = m.toDF("old", "new")
      val assignDf = Seq((9001L, depth.toLong), (9002L, 1L))
        .toDF("id", "lbl")
      val got = LabelLog.resolve(assignDf, maps)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got == Set((9001L, 1L), (9002L, 1L))
    }

  /** A random store state respecting the invariants the merge relies on:
    * some ids already assigned, grouped into components labeled by their
    * minimum (so labels are assigned ids, disjoint from never-assigned
    * ones), plus random new edges over assigned ∪ unassigned ids. `cur`
    * is the assignment restricted to the edge endpoints — exactly the
    * pruned endpoint-joined lookup both merge paths receive. */
  private val mergeGen: Gen[(Seq[(Long, Long)], Map[Long, Long])] = for {
    n <- Gen.choose(10, 120)
    assignedCount <- Gen.choose(2, n - 2)
    perm <- Gen.const(new scala.util.Random(n * 31 + assignedCount)
      .shuffle((1 to n).map(_.toLong).toVector))
    nComp <- Gen.choose(1, math.max(1, assignedCount / 2))
    compOf <- Gen.listOfN(assignedCount, Gen.choose(0, nComp - 1))
    nEdges <- Gen.choose(1, 60)
    ea <- Gen.listOfN(nEdges, Gen.choose(0, n - 1))
    eb <- Gen.listOfN(nEdges, Gen.choose(0, n - 1))
  } yield {
    val assigned = perm.take(assignedCount)
    val byComp = assigned.zip(compOf).groupMap(_._2)(_._1)
    val label = byComp.values.flatMap { members =>
      val m = members.min; members.map(_ -> m)
    }.toMap
    val ids = perm
    val edges = ea.zip(eb)
      .map { case (i, j) => (ids(i), ids(j)) }
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val endpoints = edges.flatMap { case (a, b) => Seq(a, b) }.toSet
    (edges, label.filter { case (id, _) => endpoints(id) })
  }

  property("deltasLocal == the distributed deltas on any invariant-respecting merge") =
    forAll(mergeGen) { case (edges, cur) =>
      (edges.isEmpty: Boolean) || {
        import spark.implicits._
        val (gotAssign, gotRelabel) = LabelLog.deltasLocal(edges, cur)
        val endpointsDf = edges.flatMap { case (a, b) => Seq(a, b) }
          .distinct.toDF("id")
        val (wantAssignDf, wantRelabelDf) = LabelLog.deltas(
          edges.toDF("a", "b"), endpointsDf, cur.toSeq.toDF("id", "lbl"))
        val wantAssign = wantAssignDf.select("id", "lbl").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val wantRelabel = wantRelabelDf.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        gotAssign.toSet == wantAssign && gotRelabel.toSet == wantRelabel
      }
    }

  property("driver-side id bucket == Spark pmod(xxhash64(id), n)") =
    forAll(Gen.listOfN(50, Gen.choose(Long.MinValue, Long.MaxValue)),
      Gen.oneOf(16, 64, 256, 4096)) { (ids, n) =>
      import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
      import spark.implicits._
      val sparkSide = ids.toDF("id")
        .select(pmod(xxhash64(col("id")), lit(n.toLong)))
        .collect().map(_.getLong(0)).toSeq
      val driverSide = ids.map(BandedDedupIndex.idBucketLocal(_, n))
      sparkSide == driverSide
    }
}
