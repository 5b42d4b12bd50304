package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Properties, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink

import graft.operators.{EventStats, GraphRank}

/**
 * ScalaCheck property suite for the round-12 operators: invariants on
 * ARBITRARY inputs — attribution models must conserve exactly 1000 milli per
 * touched conversion, label propagation must be row-order-invariant, and
 * one-community modularity must be exactly zero. MaxScore's identity with
 * the exhaustive scorer lives in [[Bm25Props]].
 */
object Round12Props extends Properties("Round12") with LocalSpark {

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(8).withWorkers(1)

  private val eventsGen: Gen[List[(Long, String, Int)]] =
    Gen.choose(4, 30).flatMap(n => Gen.listOfN(n,
      for {
        u <- Gen.choose(1L, 4L)
        t <- Gen.oneOf("click", "view", "buy")
        d <- Gen.choose(0, 12)
      } yield (u, t, d)))

  private def evDf(rows: List[(Long, String, Int)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.zipWithIndex.map { case ((u, t, d), i) =>
      (i.toLong, u, t, java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 12:00:00"))
    }.toDF("event_id", "user_id", "event_type", "ts")
  }

  property("decayAttribution conserves 1000 milli per touched conversion") =
    forAllNoShrink(eventsGen, Gen.choose(1, 6)) { (rows, hl) =>
      val ev = evDf(rows)
      val out = EventStats.decayAttribution(ev, "user_id", "event_type",
        "buy", lookbackDays = 7, halfLifeDays = hl).collect()
      // touched conversions = conversions with >= 1 touch = sum of n_last
      val touched = out.map(_.getAs[Long]("n_last")).sum
      out.map(_.getAs[Long]("credit_milli")).sum == 1000L * touched
    }

  private val edgesGen: Gen[List[(Long, Long)]] =
    Gen.choose(0, 25).flatMap(n => Gen.listOfN(n,
      for { a <- Gen.choose(1L, 12L); b <- Gen.choose(1L, 12L) if a != b }
        yield (math.min(a, b), math.max(a, b)))).map(_.distinct)

  property("labelPropagation is input-row-order invariant") =
    forAllNoShrink(edgesGen, Gen.choose(1, 3)) { (edges, rounds) =>
      val s = spark; import s.implicits._
      val nodes = (1L to 12L).toDF("id")
      def run(es: List[(Long, Long)]): Map[Long, Long] =
        GraphRank.labelPropagation(nodes, "id", es.toDF("a", "b"), "a", "b", rounds)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      run(edges) == run(edges.reverse)
    }

  property("modularity of the one-blob assignment is exactly zero") =
    forAllNoShrink(edgesGen.suchThat(_.nonEmpty)) { edges =>
      val s = spark; import s.implicits._
      val labels = (1L to 12L).map(n => (n, 1L)).toDF("id", "label")
      val out = GraphRank.modularity(edges.toDF("a", "b"), "a", "b",
        labels, "id", "label").collect().head
      out.getAs[Long]("q_micro") == 0L &&
        out.getAs[Long]("n_within") == out.getAs[Long]("m")
    }
}
