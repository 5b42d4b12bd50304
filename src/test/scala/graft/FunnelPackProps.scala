package graft

import org.scalacheck.{Gen, Properties, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink

import graft.operators.{Funnel, Packing}

/**
 * Model properties for the round-9 sequential-fold family: the funnel's
 * one-shuffle array fold must equal the chained-earliest-match (chained
 * min-ts) reference on arbitrary event soups, and packGreedy must equal a
 * straight sequential fold — both checked against independently-written
 * in-memory models over randomized inputs (timestamp collisions included
 * on purpose: equal-ts events exercise the strict-`>` tie rule).
 */
object FunnelPackProps extends Properties("FunnelPack") with LocalSpark {

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(8).withWorkers(1)

  private val steps = Seq("s1", "s2", "s3")
  private val types = Seq("s1", "s2", "s3", "x")

  // (eventId, tsSecond, userId, type) — tiny ts range forces collisions
  private val eventsGen: Gen[List[(Long, Long, Long, String)]] = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, for {
      u <- Gen.choose(1L, 4L)
      t <- Gen.choose(0L, 9L)
      tp <- Gen.oneOf(types)
    } yield (u, t, tp))
  } yield rows.zipWithIndex.map { case ((u, t, tp), i) => (i.toLong, t, u, tp) }

  /** Chained-min reference: t_k = min ts of step-k events with ts > t_{k-1}. */
  private def chainedMin(evs: Seq[(Long, Long, Long, String)], user: Long): Int = {
    var last = -1L
    var stage = 0
    while (stage < steps.length) {
      val cands = evs.filter(e => e._3 == user && e._4 == steps(stage) && e._2 > last)
      if (cands.isEmpty) return stage
      last = cands.map(_._2).min
      stage += 1
    }
    stage
  }

  property("userStages == chained-min model under ts collisions") =
    forAllNoShrink(eventsGen) { evs =>
      val s = spark
      import s.implicits._
      val df = evs.toDF("event_id", "tsec", "user_id", "event_type")
        .withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(tsec * 1000000)"))
      val got = Funnel.userStages(df, "user_id", "event_type", "event_id", steps)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val users = evs.filter(e => steps.contains(e._4)).map(_._3).distinct
      users.forall(u => got.getOrElse(u, 0) == chainedMin(evs, u)) &&
        got.keySet == users.toSet
    }

  private val packGen: Gen[(Long, List[(String, Long, Long)])] = for {
    cap <- Gen.choose(3L, 30L)
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, for {
      g <- Gen.oneOf("a", "b", "c")
      tok <- Gen.choose(0L, 12L)
    } yield (g, tok))
  } yield (cap, rows.zipWithIndex.map { case ((g, t), i) => (g, i.toLong, t) })

  property("packGreedy == sequential fold model") = forAllNoShrink(packGen) { case (cap, rows) =>
    val s = spark
    import s.implicits._
    val got = Packing.packGreedy(rows.toDF("source", "doc_id", "n"), "source", "doc_id", "n", cap)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    rows.groupBy(_._1).forall { case (g, items) =>
      var acc = 0L; var bin = 0L
      items.sortBy(_._2).forall { case (_, id, n) =>
        if (acc > 0L && acc + n > cap) { bin += 1L; acc = 0L }
        acc += n
        got((g, id)) == bin
      }
    }
  }
}
