package graft

import org.scalacheck.{Gen, Properties, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink

import graft.operators.ConnectedComponents

/**
 * ScalaCheck properties for both connected-components algorithms against a
 * driver-side union-find oracle: on ANY random graph (including chains longer
 * than star rounds would naively suggest, multi-edges, self-loops), both
 * [[ConnectedComponents.run]] (with maxIter ≥ diameter) and
 * [[ConnectedComponents.runStar]] must produce exactly the min-reachable-id
 * labeling.
 */
object CCProps extends Properties("ConnectedComponents") with LocalSpark {

  // each trial runs several Spark jobs — keep the trial count small
  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(8).withWorkers(1)

  private val graphGen: Gen[(Int, List[(Long, Long)])] = for {
    n <- Gen.choose(1, 25)
    m <- Gen.choose(0, 30)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0L, (n - 1).toLong)
      b <- Gen.choose(0L, (n - 1).toLong)
    } yield (a, b))
  } yield (n, edges)

  /** Driver-side oracle: union-find with min-id representatives. */
  private def unionFind(n: Int, edges: List[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  property("run and runStar both match the union-find min-label oracle") =
    forAllNoShrink(graphGen) { case (n, edgeList) =>
      val s = spark; import s.implicits._
      val nodes = (0L until n.toLong).toDF("id")
      val edges = edgeList.toDF("a", "b")
      val expected = unionFind(n, edgeList)
      // maxIter = n covers any diameter for the propagation algorithm
      val viaProp = ConnectedComponents.run(nodes, "id", edges, "a", "b", maxIter = n)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaStar = ConnectedComponents.runStar(nodes, "id", edges, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      viaProp == expected && viaStar == expected
    }

  // r16 guards on the fused (distinct-free, window-star) runStar: a heavily
  // DUPLICATED edge list — the initial distinct is gone, so dup multisets now
  // flow through every round — and the per-round convergence cadence must
  // both be label-invariant.
  property("runStar: duplicated edges and checkEvery=1 leave labels unchanged") =
    forAllNoShrink(graphGen) { case (n, edgeList) =>
      val s = spark; import s.implicits._
      val nodes = (0L until n.toLong).toDF("id")
      val expected = unionFind(n, edgeList)
      val dupEdges = edgeList.flatMap(e => List(e, e, e.swap)).toDF("a", "b")
      val viaDup = ConnectedComponents.runStar(nodes, "id", dupEdges, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val everyRound = ConnectedComponents.runStar(nodes, "id",
          edgeList.toDF("a", "b"), "a", "b", checkEvery = 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      viaDup == expected && everyRound == expected
    }

  // r17 (ADVICE): the skew-safe groupBy-min + join star shape must be
  // result-identical to the fused window shape on ANY graph — the knob
  // trades physical plan (AQE-splittable exchanges vs one window exchange),
  // never labels.
  property("runStar: skewSafe join shape matches the union-find oracle") =
    forAllNoShrink(graphGen) { case (n, edgeList) =>
      val s = spark; import s.implicits._
      val nodes = (0L until n.toLong).toDF("id")
      val edges = edgeList.toDF("a", "b")
      val expected = unionFind(n, edgeList)
      val viaJoin = ConnectedComponents.runStar(nodes, "id", edges, "a", "b",
          skewSafe = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      viaJoin == expected
    }
}
