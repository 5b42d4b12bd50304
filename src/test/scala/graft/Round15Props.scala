package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink

import graft.operators.SimSearch

/**
 * ScalaCheck properties for the round-15 additions.
 *
 * - [[graft.functions.TopKAgg.perKeyDistinct]] equals the
 *   `dropDuplicates(key, id)` + rank-window reference on ARBITRARY inputs
 *   satisfying its precondition (every copy of a (key, id) carries the same
 *   score — the knnGraph multi-table collision shape), at any partitioning.
 * - [[SimSearch.ivfDrift]] is a total per-list report: its list set is
 *   exactly the union of both sides' assigned lists, its counts sum to the
 *   sides' eligible row counts, and delta is present iff both sides are.
 */
object Round15Props extends Properties("Round15") with LocalSpark {

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(8).withWorkers(1)

  // (key, id) pairs with a DETERMINISTIC score per pair, each replicated
  // 1-3x — duplicates always agree on the score, as the aggregator requires
  private val rowsGen: Gen[List[(Long, Long, Double)]] = for {
    n <- Gen.choose(1, 120)
    pairs <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 6L), Gen.choose(0L, 40L)))
    reps <- Gen.listOfN(n, Gen.choose(1, 3))
  } yield pairs.distinct.zip(reps).flatMap { case ((k, i), r) =>
    // small score alphabet -> plenty of ties, id tie-break exercised
    List.fill(r)((k, i, ((k * 11 + i * 7) % 9) * 0.25))
  }

  property("perKeyDistinct == dropDuplicates + window, any partitioning") =
    forAllNoShrink(rowsGen, Gen.choose(1, 6), Gen.choose(1, 13)) { (rows, k, nPart) =>
      val s = spark
      import s.implicits._
      val df = rows.toDF("key", "id", "score").repartition(nPart)
      val got = graft.functions.TopKAgg.perKeyDistinct(df, "key", "id", "score", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key")).orderBy(col("score").desc, col("id").asc)
      val ref = df.dropDuplicates("key", "id")
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      got == ref
    }

  private val cellGen: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some("")),
    4 -> Gen.asciiPrintableStr.map(Some(_)),
    2 -> Gen.listOf(Gen.oneOf('é', '中', '\n', '\t', '"', '\\', 'a')).map(cs => Some(cs.mkString)))

  property("AvroTable round-trips arbitrary nullable string/long rows exactly") =
    forAllNoShrink(Gen.choose(1, 30).flatMap(n =>
        Gen.listOfN(n, Gen.zip(Gen.choose(-1000L, 1000L), cellGen))),
      Gen.choose(1, 5)) { (rows, nPart) =>
      val s = spark
      import s.implicits._
      val withIds = rows.zipWithIndex.map { case ((v, t), i) => (i.toLong, v, t.orNull) }
      val df = withIds.toDF("id", "v", "t").repartition(nPart)
      val dir = java.nio.file.Files.createTempDirectory("graft-avro-prop").toString + "/t"
      graft.sources.AvroTable.write(df, dir)
      val back = graft.sources.AvroTable.read(s, dir, df.schema)
        .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet
      back == withIds.map { case (i, v, t) => (i, v, Option(t)) }.toSet
    }

  private val compGen: Gen[Float] = Gen.choose(-4, 4).map(_.toFloat)
  private val vecGen: Gen[Seq[Float]] = Gen.listOfN(4, compGen).map(_.toSeq)
  private val setGen: Gen[List[Seq[Float]]] =
    Gen.choose(4, 16).flatMap(n => Gen.listOfN(n, vecGen))

  private def df(vs: List[Seq[Float]], idBase: Long): DataFrame = {
    val s = spark; import s.implicits._
    vs.zipWithIndex.map { case (v, i) => (idBase + i, v) }.toDF("vec_id", "embedding")
  }

  property("ivfDrift lists/counts are exactly the two assignment relations'") =
    forAllNoShrink(setGen, setGen) { (trainVs, batchVs) =>
      // seed window: ivfTrainModel(nList = 3) seeds from the 3 smallest ids
      !trainVs.take(3).exists(_.exists(_ != 0f)) || {
        val train = df(trainVs, 0L)
        val batch = df(batchVs, 1000L)
        val ivf = SimSearch.ivfTrainModel(train, "vec_id", "embedding", nList = 3, nIters = 1)
        def asg(d: DataFrame) = SimSearch.ivfAssign(d, "vec_id", "embedding", ivf)
          .collect().map(r => (r.getLong(1), r.getLong(2)))
        val ta = asg(train)
        val ba = asg(batch)
        val out = SimSearch.ivfDrift(train, batch, "vec_id", "embedding", ivf)
          .collect().map(r => r.getLong(0) ->
            (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)),
             r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)),
             if (r.isNullAt(5)) None else Some(r.getLong(5)))).toMap
        def sideRef(xs: Array[(Long, Long)]) =
          xs.groupBy(_._1).map { case (l, ys) =>
            l -> (ys.length.toLong, ys.map(_._2).sum / ys.length) }
        val tr = sideRef(ta)
        val br = sideRef(ba)
        out.keySet == (tr.keySet ++ br.keySet) &&
          out.forall { case (l, (nT, mT, nB, mB, d)) =>
            nT == tr.get(l).map(_._1).getOrElse(0L) &&
              mT == tr.get(l).map(_._2) &&
              nB == br.get(l).map(_._1).getOrElse(0L) &&
              mB == br.get(l).map(_._2) &&
              d == (for { a <- mB; b <- mT } yield a - b)
          }
      }
    }
}
