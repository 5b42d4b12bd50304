package graft

import org.scalacheck.{Gen, Properties, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink

import graft.operators.AsOfJoin

/**
 * ScalaCheck properties for [[AsOfJoin.asofJoin]] against a driver-side
 * brute-force oracle: on ANY random pair of (key, ts) tables — duplicate
 * timestamps, keys missing from either side, tolerance on or off — every
 * direction must return exactly the oracle's match per left row (greatest
 * ts ≤ / smallest ts ≥ / smallest |Δ| with backward ties; largest right id on
 * (key, ts) ties; null when out of tolerance or no candidate).
 */
object AsOfProps extends Properties("AsOfJoin") with LocalSpark {

  // each trial runs several Spark jobs — keep the trial count small
  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(8).withWorkers(1)

  private val tablesGen: Gen[(List[(Long, Long, Long)], List[(Long, Long, Long)])] = for {
    nl <- Gen.choose(1, 20)
    nr <- Gen.choose(0, 20)
    mk = (i: Int) => for {
      key <- Gen.choose(0L, 3L)   // few keys -> plenty of per-key candidates
      ts <- Gen.choose(0L, 20L)   // small ts range -> duplicate timestamps
    } yield (key, ts)
    ls <- Gen.listOfN(nl, mk(0))
    rs <- Gen.listOfN(nr, mk(0))
  } yield (
    ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) },
    rs.zipWithIndex.map { case ((k, t), i) => (1000L + i, k, t) })

  /** Driver-side oracle: per left row, scan all right rows. */
  private def oracle(
      ls: List[(Long, Long, Long)], rs: List[(Long, Long, Long)],
      direction: String, tolerance: Long): Map[Long, Option[Long]] =
    ls.map { case (lid, lk, lt) =>
      val cands = rs.filter(_._2 == lk)
      val back = cands.filter(_._3 <= lt)
        // greatest ts, then largest right id
        .sortBy { case (rid, _, rt) => (-rt, -rid) }.headOption
      val fwd = cands.filter(_._3 >= lt)
        .sortBy { case (rid, _, rt) => (rt, -rid) }.headOption
      val chosen = direction match {
        case "backward" => back
        case "forward"  => fwd
        case _ => (back, fwd) match {
          case (Some(b), Some(f)) =>
            if (lt - b._3 <= f._3 - lt) Some(b) else Some(f)
          case (b, f) => b.orElse(f)
        }
      }
      val withTol = chosen.filter(c => tolerance == 0L || math.abs(lt - c._3) <= tolerance)
      lid -> withTol.map(_._1)
    }.toMap

  private def runSpark(
      ls: List[(Long, Long, Long)], rs: List[(Long, Long, Long)],
      direction: String, tolerance: Long,
      broadcastPath: Boolean = false): Map[Long, Option[Long]] = {
    val s = spark
    import s.implicits._
    val left = ls.toDF("lid", "key", "ts")
    val right = rs.map { case (rid, k, t) => (rid, k, t, rid) }
      .toDF("rid", "key", "ts", "payload_rid")
    val joined =
      if (broadcastPath)
        AsOfJoin.asofJoinBroadcast(left, right, "key", "ts", "ts",
          Seq("payload_rid" -> "matched_rid"), "rid",
          direction = direction, tolerance = tolerance)
      else
        AsOfJoin.asofJoin(left, right, "key", "ts", "ts",
          Seq("payload_rid" -> "matched_rid"), "rid",
          direction = direction, tolerance = tolerance)
    joined
      .collect()
      .map(r => r.getAs[Long]("lid") ->
        (if (r.isNullAt(r.fieldIndex("matched_rid"))) None
         else Some(r.getAs[Long]("matched_rid"))))
      .toMap
  }

  for (direction <- Seq("backward", "forward", "nearest")) {
    property(s"$direction matches the brute-force oracle (no tolerance)") =
      forAllNoShrink(tablesGen) { case (ls, rs) =>
        runSpark(ls, rs, direction, 0L) == oracle(ls, rs, direction, 0L)
      }
  }

  property("nearest with tolerance matches the brute-force oracle") =
    forAllNoShrink(tablesGen, Gen.choose(1L, 8L)) { case ((ls, rs), tol) =>
      runSpark(ls, rs, "nearest", tol) == oracle(ls, rs, "nearest", tol)
    }

  property("backward with tolerance matches the brute-force oracle") =
    forAllNoShrink(tablesGen, Gen.choose(1L, 8L)) { case ((ls, rs), tol) =>
      runSpark(ls, rs, "backward", tol) == oracle(ls, rs, "backward", tol)
    }

  // the broadcast fast path must be row-identical to the oracle (and thus to
  // the shuffle path) on the same adversarial inputs
  for (direction <- Seq("backward", "forward", "nearest")) {
    property(s"broadcast path: $direction matches the oracle (no tolerance)") =
      forAllNoShrink(tablesGen) { case (ls, rs) =>
        runSpark(ls, rs, direction, 0L, broadcastPath = true) ==
          oracle(ls, rs, direction, 0L)
      }
  }

  property("broadcast path: nearest with tolerance matches the oracle") =
    forAllNoShrink(tablesGen, Gen.choose(1L, 8L)) { case ((ls, rs), tol) =>
      runSpark(ls, rs, "nearest", tol, broadcastPath = true) ==
        oracle(ls, rs, "nearest", tol)
    }
}
