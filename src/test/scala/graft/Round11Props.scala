package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink

import graft.operators.{Dedup, GraphRank, Packing, Sampling, SimSearch}

/**
 * ScalaCheck property suite for the round-11 operators: invariants that
 * must hold on ARBITRARY inputs and under arbitrary repartitioning —
 * budget/cap contracts, peel monotonicity, sketch bounds, and
 * partitioning-invariance of every hash-deterministic op.
 */
object Round11Props extends Properties("Round11") with LocalSpark {

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(10).withWorkers(1)

  private val srcGen: Gen[String] = Gen.oneOf("a", "b", "c", "d")
  private val rowsGen: Gen[List[(String, Long)]] =
    Gen.choose(3, 25).flatMap(n => Gen.listOfN(n,
      for { s <- srcGen; w <- Gen.choose(1L, 500L) } yield (s, w)))

  private def wdf(rows: List[(String, Long)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.zipWithIndex.map { case ((src, w), i) => (i.toLong, src, w) }
      .toDF("id", "src", "w")
  }

  property("cappedQuota: quota <= cap, sum(quota) <= budget, raw preserved") =
    forAllNoShrink(rowsGen, Gen.choose(10L, 2000L), Gen.choose(5L, 500L)) {
      (rows, budget, cap) =>
        val out = Sampling.cappedQuota(wdf(rows), "src", "w", budget, cap).collect()
        out.forall(_.getAs[Long]("quota") <= cap) &&
          out.map(_.getAs[Long]("quota")).sum <= budget &&
          out.forall(r => r.getAs[Long]("raw_quota") >= 0L)
    }

  property("quotaFill: per-source selected weight never exceeds the quota") =
    forAllNoShrink(rowsGen, Gen.choose(50L, 2000L), Gen.choose(20L, 800L)) {
      (rows, budget, cap) =>
        val df = wdf(rows)
        val quotas = Sampling.cappedQuota(df, "src", "w", budget, cap)
          .collect().map(r => r.getAs[String]("src") -> r.getAs[Long]("quota")).toMap
        val sel = Sampling.quotaFill(df, "id", "src", "w", budget, cap).collect()
        sel.groupBy(_.getAs[String]("src")).forall { case (src, rs) =>
          rs.map(_.getAs[Long]("w")).sum <= quotas(src)
        }
    }

  property("bootstrapCounts: partitioning-invariant and replicate-stable") =
    forAllNoShrink(Gen.choose(20, 120), Gen.choose(2, 5)) { (n, reps) =>
      val s = spark; import s.implicits._
      val df = (1L to n.toLong).map(i => (i, "x")).toDF("id", "t")
      val a = Sampling.bootstrapCounts(df, "id", reps)
        .orderBy("replicate").collect().map(_.toSeq).toSeq
      val b = Sampling.bootstrapCounts(df.repartition(7), "id", reps)
        .orderBy("replicate").collect().map(_.toSeq).toSeq
      a == b && a.length == reps
    }

  private val edgeGen: Gen[List[(Long, Long)]] =
    Gen.choose(0, 30).flatMap(n => Gen.listOfN(n,
      for { a <- Gen.choose(1L, 12L); b <- Gen.choose(1L, 12L) if a != b }
        yield (math.min(a, b), math.max(a, b))))

  property("kCorePeel: survivors shrink with rounds; converged peel is a core") =
    forAllNoShrink(edgeGen, Gen.choose(1, 3)) { (edges, kcore) =>
      val s = spark; import s.implicits._
      val nodes = (1L to 12L).toDF("id")
      val e = if (edges.isEmpty) List((1L, 2L)) else edges
      val edf = e.toDF("a", "b")
      def run(rounds: Int): Array[org.apache.spark.sql.Row] =
        GraphRank.kCorePeel(nodes, "id", edf, "a", "b", kcore, rounds)
          .filter(col("in_core") === 1L).collect()
      def ids(rs: Array[org.apache.spark.sql.Row]) = rs.map(_.getLong(0)).toSet
      val s2 = run(2); val s3 = run(3)
      // monotone peel; bounded rounds may leave under-degree nodes (that is
      // WHY peeling iterates) — but once a round removes nothing (surv(3)
      // == surv(2) means round 3 was a no-op), the fixpoint IS a k-core
      ids(s3).subsetOf(ids(s2)) &&
        (ids(s3) != ids(s2) ||
          s3.forall(_.getAs[Long]("deg") >= kcore.toLong))
    }

  private val textGen: Gen[String] = Gen.choose(0, 10).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf("red", "green", "blue", "cyan", "teal", "gold"))
      .map(_.mkString(" ")))

  property("groupSignatureSim: estimate in [0,1], matching in [0,32]") =
    forAllNoShrink(Gen.choose(2, 8).flatMap(n => Gen.listOfN(n, textGen))) { docs =>
      val s = spark; import s.implicits._
      val df = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, t, s"g${i % 3}") }
        .toDF("doc_id", "text", "grp")
      Dedup.groupSignatureSim(df, "grp", "text").collect().forall { r =>
        val m = r.getAs[Long]("matching"); val e = r.getAs[Double]("est_jaccard")
        m >= 0L && m <= 32L && e >= 0.0 && e <= 1.0
      }
    }

  property("signFingerprints: hamming(x,x)=0 and symmetric") =
    forAllNoShrink(Gen.choose(2, 6), Gen.choose(2, 16)) { (nv, dim) =>
      val s = spark; import s.implicits._
      val vecs = (1L to nv.toLong).map { i =>
        (i, Array.tabulate(dim)(d => (((i * 31 + d * 7) % 13) - 6).toFloat))
      }.toDF("vec_id", "embedding")
      val sig = SimSearch.signFingerprints(vecs, "vec_id", "embedding")
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("sig")).toMap
      sig.forall { case (_, s1) => java.lang.Long.bitCount(s1 ^ s1) == 0 } &&
        sig.keys.forall(a => sig.keys.forall(b =>
          java.lang.Long.bitCount(sig(a) ^ sig(b)) ==
            java.lang.Long.bitCount(sig(b) ^ sig(a))))
    }

  property("rakeTopPhrase: partitioning-invariant, scores positive") =
    forAllNoShrink(Gen.choose(2, 8).flatMap(n => Gen.listOfN(n, textGen))) { docs =>
      val s = spark; import s.implicits._
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val a = graft.operators.CorpusStats.rakeTopPhrase(df, "doc_id", "text", 2)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val b = graft.operators.CorpusStats.rakeTopPhrase(df.repartition(5), "doc_id", "text", 2)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      a == b && a.forall(r => r(2).asInstanceOf[Long] >= 1000L)
    }

  property("lengthBucketBatches: batches are order-contiguous within bucket") =
    forAllNoShrink(Gen.choose(5, 40), Gen.choose(50L, 500L)) { (n, budget) =>
      val s = spark; import s.implicits._
      val df = (1L to n.toLong).map(i => (i, (i * 37L) % 200L + 1L)).toDF("id", "len")
      val out = Packing.lengthBucketBatches(df, "id", "len", 4, budget)
        .orderBy("bucket", "len", "id").collect()
      // within a bucket, batch_idx is non-decreasing in fill order and the
      // assignment covers every input row exactly once
      out.groupBy(_.getAs[Long]("bucket")).forall { case (_, rs) =>
        val idx = rs.map(_.getAs[Long]("batch_idx"))
        idx.zip(idx.drop(1)).forall { case (x, y) => x <= y }
      } && out.length == n
    }
}
