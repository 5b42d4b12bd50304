package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Trigrams
import graft.operators.{SimJoin, SimJoinOptions}

case class PlanSpecPerson(pid: Long, pname: String, note: String)

/** Physical-plan assertions + heuristic pins: the plans we DESIGNED for are the
  * plans Spark actually runs (VERDICT r1 items 5, 7, 8). */
class PlanSpec extends AnyFunSuite with LocalSpark {

  def strDf(vals: Seq[String]): DataFrame = {
    val s = spark
    import s.implicits._
    vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "s")
  }

  test("trigram expression matches the UDF on tricky strings") {
    val rng = new scala.util.Random(42)
    val tricky = Seq("", "ab", "abc", "abcabc", "héllo wörld", "ABC abc",
      "a b c", "zzz...zzz", "名前 test abc", "small ring", "x" * 100) ++
      (1 to 50).map(_ => rng.alphanumeric.take(rng.nextInt(20)).mkString) ++
      (1 to 20).map(_ => (1 to 10).map(_ => rng.nextPrintableChar()).mkString)
    val both = strDf(tricky).select(
      Trigrams.trigramTokens(col("s")).as("expr"),
      Trigrams.tokensUdf(col("s")).as("udf")).collect()
    both.foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1))
    }
  }

  test("trigram expression stays inside whole-stage codegen") {
    // needs a non-local source: local relations are constant-folded entirely
    val df = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      .select(Trigrams.trigramTokens(col("p_name")).as("t"))
    val plan = df.queryExecution.executedPlan
    // WholeStageCodegen renders as "*(n)" in the plan string; check the node type
    assert(plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]),
      plan.toString)
    // the UDF-free plan must not contain a ScalaUDF invocation for tokenization
    assert(!plan.toString.contains("UDF"), plan.toString)
    assert(df.count() > 0)
  }

  test("cosine_sim expression matches the UDF bitwise and stays in codegen") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = emb.select(col("vec_id").as("ida"), col("embedding").as("ea")).filter(col("ida") < 30)
    val b = emb.select(col("vec_id").as("idb"), col("embedding").as("eb")).filter(col("idb") < 30)
    val pairs = a.crossJoin(b)
    val both = pairs.select(
      graft.operators.SimSearch.cosineSim(col("ea"), col("eb")).as("expr"),
      graft.operators.SimSearch.cosineCol(col("ea"), col("eb")).as("udf"))
    both.collect().foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1)) // bitwise
    }
    // codegen check on a plain projection (a cross join's BroadcastNestedLoop
    // operator never joins whole-stage codegen, regardless of the expression)
    val exprOnly = emb.select(
      graft.operators.SimSearch.cosineSim(col("embedding"), col("embedding")).as("c"))
    val plan = exprOnly.queryExecution.executedPlan
    assert(plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
    assert(!plan.toString.contains("UDF"), plan.toString)
    // strict typing: wrong input type fails analysis
    assertThrows[org.apache.spark.sql.AnalysisException](
      emb.select(graft.operators.SimSearch.cosineSim(col("vec_id"), col("embedding"))).collect())
  }

  test("embeddingPairsLsh dedup exchange carries no embedding arrays") {
    // the cross-table duplicate-drop must shuffle (id_a, id_b, cosine) only:
    // scoring happens BEFORE dropDuplicates, so the exchange moves one double
    // per candidate pair, not two vectors (~6 KB/row at 768-dim float)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // AQE wraps the plan and hides pre-execution exchanges from collect()
    val exchanges = withConf("spark.sql.adaptive.enabled" -> "false") {
      val df0 = graft.operators.Dedup.embeddingPairsLsh(emb, "vec_id", "embedding", 0.4)
      df0.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    }
    val df = graft.operators.Dedup.embeddingPairsLsh(emb, "vec_id", "embedding", 0.4)
    // the aggregate-dedup exchange hashes on (id_a, id_b): find it and assert
    // its row schema has no array-typed columns
    val dedupEx = exchanges.filter(_.output.exists(_.name == "id_a"))
    assert(dedupEx.nonEmpty, "expected a shuffle for the pair duplicate-drop")
    dedupEx.foreach { e =>
      val arrayCols = e.output.filter(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrayCols.isEmpty,
        s"dedup exchange shuffles array columns: ${arrayCols.map(_.name).mkString(",")}")
    }
    assert(df.count() > 0)
  }

  test("asofJoin plan: one shuffle, a window carry, no nested-loop join") {
    // the point of the union+window formulation: a naive `l.ts >= r.ts` range
    // join would plan as BroadcastNestedLoopJoin (quadratic per key); the
    // as-of plan must instead be scan→union→ONE hash exchange→window.
    // Non-local parquet source: local relations constant-fold the whole plan.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-asof-plan").toString
    (1L to 200L).map(i => (i, i % 7, i * 1000L, i.toDouble))
      .toDF("event_id", "user_id", "us", "value").write.parquet(dir + "/ev")
    val ev = spark.read.parquet(dir + "/ev")
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val plan = graft.operators.AsOfJoin.asofJoin(
          ev.select(col("event_id"), col("user_id"), col("us")), ev,
          "user_id", "us", "us", Seq("value" -> "matched_value"), "event_id")
        .queryExecution.executedPlan
      val s = plan.toString
      assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
        "as-of join must not plan a nested-loop/cartesian join")
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.length == 1,
        s"as-of join should shuffle exactly once (the window key), got ${exchanges.length}")
      assert(s.contains("Window"), "expected the running-carry WindowExec")
      // nearest = two carries over the SAME key partitioning: still one shuffle
      val nearPlan = graft.operators.AsOfJoin.asofJoin(
          ev.select(col("event_id"), col("user_id"), col("us")), ev,
          "user_id", "us", "us", Seq("value" -> "matched_value"), "event_id",
          direction = "nearest")
        .queryExecution.executedPlan
      val nearEx = nearPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(nearEx.length == 1,
        s"nearest as-of should reuse one key shuffle for both carries, got ${nearEx.length}")
    }
  }

  test("kgram_hashes expression matches the UDF and stays in codegen") {
    val rng = new scala.util.Random(7)
    val tricky = Seq("", "short", "x" * 25, "héllo wörld many chars here ok",
      "名前 test abc 0123456789 abcdefghijkl") ++
      (1 to 40).map(_ => rng.alphanumeric.take(rng.nextInt(60)).mkString)
    val both = strDf(tricky).select(
      graft.functions.TextFunctions.kGramHashesCol(col("s"), 20).as("expr"),
      graft.functions.TextFunctions.kGramHashesUdf(20)(col("s")).as("udf")).collect()
    both.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    val df = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      .select(graft.functions.TextFunctions.kGramHashesCol(col("p_name"), 8).as("h"))
    assert(df.queryExecution.executedPlan
        .exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]),
      df.queryExecution.executedPlan.toString)
    assert(!df.queryExecution.executedPlan.toString.contains("ScalaUDF"))
  }

  test("span-dedup gram pass is UDF-free (codegen'd pair-hash expressions)") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (plan <- Seq(
        graft.operators.Dedup.duplicateSpans(df, "doc_id", "text", k = 20)
          .queryExecution.executedPlan.toString,
        graft.operators.Dedup.duplicateSpansWords(df, "doc_id", "text", n = 8)
          .queryExecution.executedPlan.toString)) {
      assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"), plan)
    }
    // pair parity: the word expression equals the char expression over the
    // joined gram string (the computeWords contract)
    val words = Array("alpha", "beta", "gamma")
    val joined = words.mkString(" ")
    val fromWords = graft.functions.KGramHashPairsExpr.computeWords(words, 3)
    val fromChars = graft.functions.KGramHashPairsExpr.compute(joined, joined.length)
    assert(fromWords.numElements == 1 && fromChars.numElements == 1)
    val a = fromWords.getStruct(0, 2); val b = fromChars.getStruct(0, 2)
    assert(a.getLong(0) == b.getLong(0) && a.getLong(1) == b.getLong(1))
  }

  test("bucketed interval joins plan as equi-joins, never nested loops") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivj-plan").toString
    (1L to 200L).map(i => (i, i % 7, i * 1000L)).toDF("pid", "k", "t")
      .write.parquet(dir + "/pts")
    (1L to 50L).map(i => (i + 1000L, i % 7, i * 4000L, i * 4000L + 2500L))
      .toDF("iid", "k", "s", "e").write.parquet(dir + "/ivs")
    val pts = spark.read.parquet(dir + "/pts")
    val ivs = spark.read.parquet(dir + "/ivs")
    val p1 = graft.operators.IntervalJoin.pointInInterval(
        pts, "t", ivs, "s", "e", 5000L, Seq("k"))
      .queryExecution.executedPlan.toString
    assert(!p1.contains("BroadcastNestedLoopJoin") && !p1.contains("CartesianProduct"), p1)
    val p2 = graft.operators.IntervalJoin.intervalOverlap(
        ivs, "s", "e",
        ivs.toDF("iid2", "k", "s2", "e2"), "s2", "e2", 5000L, Seq("k"))
      .queryExecution.executedPlan.toString
    assert(!p2.contains("BroadcastNestedLoopJoin") && !p2.contains("CartesianProduct"), p2)
  }

  test("interval-join hot bucket triggers AQE skew-join split") {
    // IntervalJoin.scala delegates hot buckets to AQE's skew join — prove the
    // promise: one bucket holds ~all points, thresholds tuned so the runtime
    // re-plan marks the sort-merge join skewed (isSkewJoin renders in the plan)
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivj-skew").toString
    // 30k points in bucket 0, a handful elsewhere (width 1e6)
    (1L to 30000L).map(i => (i, i % 997L)).toDF("pid", "t")
      .union((1L to 40L).map(i => (100000L + i, i * 1000000L + 5L)).toDF("pid", "t"))
      .write.parquet(dir + "/pts")
    (0L to 40L).map(i => (2000000L + i, i * 1000000L, i * 1000000L + 999999L))
      .toDF("iid", "s", "e").write.parquet(dir + "/ivs")
    val pts = spark.read.parquet(dir + "/pts")
    val ivs = spark.read.parquet(dir + "/ivs")
    withConf(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "true") {
      val out = graft.operators.IntervalJoin.pointInInterval(
        pts, "t", ivs, "s", "e", bucketWidth = 1000000L)
      // run THIS dataset's plan (count() would execute a separate one) so the
      // adaptive plan finalizes before inspection
      val n = out.collect().length
      assert(n == 30040, s"rows=$n") // every point falls in exactly one interval
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"expected a skew-split join in:\n$plan")
    }
  }

  test("semDedup plan: no join output carries embedding arrays") {
    // the within-cluster pair scoring happens inside mapPartitions after ONE
    // exchange that ships each vector exactly once — a self-join formulation
    // would put two array columns on every candidate row of the join output
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val out = graft.operators.Dedup.semDedup(emb, "vec_id", "embedding", 0.4,
        nList = 4, nIters = 0)
      val joins = out.queryExecution.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(joins.nonEmpty, "expected the final kept-flag join")
      joins.foreach { j =>
        val arrays = j.output.filter(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        assert(arrays.isEmpty,
          s"join output carries arrays: ${arrays.map(_.name).mkString(",")}")
      }
      assert(out.count() > 0)
    }
  }

  test("asofJoinBroadcast probes via expression: no RDD scan in the plan") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-asof-bcast-plan").toString
    (1L to 500L).map(i => (i % 5, i * 10L, i)).toDF("k", "ts", "lv")
      .write.parquet(dir + "/l")
    (1L to 40L).map(i => (i % 5, i * 100L, i, s"p$i")).toDF("k", "rts", "tie", "pay")
      .write.parquet(dir + "/r")
    val out = graft.operators.AsOfJoin.asofJoinBroadcast(
      spark.read.parquet(dir + "/l"), spark.read.parquet(dir + "/r"),
      "k", "ts", "rts", Seq("pay" -> "pay"), "tie")
    val plan = out.queryExecution.executedPlan.toString
    // the old formulation round-tripped the whole left side through left.rdd,
    // which plans as a Scan ExistingRDD below everything else
    assert(!plan.contains("ExistingRDD"), plan)
    assert(plan.contains("asof_probe"), plan)
    // the probe lives behind an explode(array(_)) Generate barrier, so
    // CollapseProject can't inline the CodegenFallback probe into each
    // getField extraction — it must appear exactly ONCE in the plan
    assert(plan.contains("Generate"), plan)
    assert("asof_probe_expr|AsOfProbeExpr".r.findAllIn(plan).size <= 1 &&
      plan.split("explode", -1).length - 1 == 1,
      s"probe must evaluate once behind a single explode:\n$plan")
    assert(out.count() == 500L)

    // struct/array/binary keys compare by reference in the broadcast map —
    // the guard must reject them before they silently match nothing
    val structL = spark.read.parquet(dir + "/l")
      .select(struct(col("k")).as("k"), col("ts"), col("lv"))
    val structR = spark.read.parquet(dir + "/r")
      .select(struct(col("k")).as("k"), col("rts"), col("tie"), col("pay"))
    val e = intercept[IllegalArgumentException] {
      graft.operators.AsOfJoin.asofJoinBroadcast(
        structL, structR, "k", "ts", "rts", Seq("pay" -> "pay"), "tie")
    }
    assert(e.getMessage.contains("atomic non-binary"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.IntervalJoin.pointInIntervalBroadcast(
        structL.select(col("k"), col("ts").as("p")), "p",
        structR.select(col("k"), col("rts").as("s0"), (col("rts") + 10L).as("e0")),
        "s0", "e0", keyCols = Seq("k"))
    }
    assert(e2.getMessage.contains("atomic non-binary"), e2.getMessage)
  }

  test("per-row top-n uses WindowGroupLimit below the window sort") {
    val l = strDf(Seq("small ring", "small rings", "blue bolt"))
    val plan = SimJoin.keyedPairs(l, "id", "s", l, "id", "s",
      SimJoinOptions(topN = 2, strategy = "direct"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("broadcastSide=auto applies the reference 100x rule on plan stats") {
    val tiny = strDf(Seq("abc"))
    val big = strDf((1 to 5000).map(i => s"name number $i"))
    assert(SimJoin.autoBroadcastSide(tiny, big) == "left")
    assert(SimJoin.autoBroadcastSide(big, tiny) == "right")
    assert(SimJoin.autoBroadcastSide(big, big) == "none")
  }

  test("strategy=auto picks dedup only under key duplication") {
    val dupes = strDf((1 to 400).map(i => s"name ${i % 10}"))
    val unique = strDf((1 to 400).map(i => s"name $i"))
    assert(SimJoin.autoStrategy(dupes, "s", unique, "s") == "dedup")
    assert(SimJoin.autoStrategy(unique, "s", unique, "s") == "direct")
  }

  test("strategy kernel is identical to relational keyedPairs (both modes)") {
    val rng = new scala.util.Random(7)
    val words = Seq("small", "ring", "cold", "widget", "blue", "bolt", "xyz", "plate")
    def name() = Seq.fill(2 + rng.nextInt(2))(words(rng.nextInt(words.length))).mkString(" ")
    val s = spark
    import s.implicits._
    val left = (0 until 80).map(i => (i.toLong, name())).toDF("id", "s")
    val right = (0 until 120).map(i => (i.toLong, name())).toDF("id", "s")
    for (mode <- Seq("l2", "count")) {
      val opts = graft.operators.SimJoinOptions(
        topN = 3, normalization = mode, strategy = "direct")
      def collect(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val relational = collect(
        SimJoin.keyedPairs(left, "id", "s", right, "id", "s", opts))
      val kernel = collect(
        SimJoin.keyedPairs(left, "id", "s", right, "id", "s", opts.copy(strategy = "kernel")))
      assert(kernel == relational, s"kernel != relational in $mode mode")
    }
  }

  test("kernel index groups right rows by token set, keeping row counts and topN smallest ids") {
    import graft.operators.SimKernelCore
    // 1,000 rows over 3 keys, ids descending so the trim must sort
    val keys = Seq("name alpha", "name bravo", "name charlie")
    val rows = (0 until 1000).map(i => ((999 - i).toLong, Trigrams.tokenIds(keys(i % 3))))
    val perPartition = rows.grouped(250).flatMap { part =>
      SimKernelCore.mergeGroups(part.iterator.map { case (id, t) =>
        SimKernelCore.Group(t, 1L, Array(id)) }, 4)
    }.toArray
    assert(perPartition.length == 4 * 3 && perPartition.forall(_.ids.length == 4))
    val merged = SimKernelCore.mergeGroups(perPartition.iterator, 4)
    assert(merged.map(_.rows).sorted.toSeq == Seq(333L, 333L, 334L))
    val want = rows.groupBy(_._2.toSeq).values.map(_.map(_._1).sorted.take(4).toSeq).toSet
    assert(merged.map(_.ids.toSeq).toSet == want)
    // the index has one entry per token set; the cap counts rows, not groups
    val idx = SimKernelCore.buildIndex(perPartition, 0L)
    assert(idx.nTokens.length == 3 && idx.ids.length == 4 * 4 * 3)
    val nameTok = keys.map(k => Trigrams.tokenIds(k).toSet).reduce(_ & _).min
    assert(idx.postings(nameTok).length == 3)
    assert(SimKernelCore.buildIndex(perPartition, 999L).postings(nameTok) == null)
    assert(SimKernelCore.buildIndex(perPartition, 1000L).postings(nameTok).length == 3)
  }

  test("strategy=auto dispatches the kernel for a broadcastable unique-key right side") {
    val left = strDf((1 to 400).map(i => s"name $i"))
    val right = strDf((1 to 400).map(i => s"name $i"))
    val auto = SimJoin.keyedPairs(left, "id", "s", right, "id", "s",
      SimJoinOptions(topN = 2, strategy = "auto"))
    // kernel output comes from the SimKernelExec node — no joins/aggregates in the plan
    val exec = auto.queryExecution.executedPlan
    val plan = exec.toString
    assert(exec.exists(_.isInstanceOf[graft.plans.SimKernelExec]) && !plan.contains("SortMergeJoin")
      && !plan.contains("HashAggregate"), plan)
    // and results are identical to the explicit relational plan
    def collect(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = collect(SimJoin.keyedPairs(left, "id", "s", right, "id", "s",
      SimJoinOptions(topN = 2, strategy = "direct")))
    assert(collect(auto) == direct)
    // non-Long ids must NOT dispatch (schema would change): int ids -> relational
    val intIds = left.withColumn("id", col("id").cast("int"))
    assert(!SimJoin.kernelEligible(intIds, "id", right, "id"))
  }

  /** Runs `body` with a job counter: the function it is given returns the
    * number of Spark jobs started since its previous call. */
  def withJobCounter[T](body: (() => Int) => T): T = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    val sc = spark.sparkContext
    // listener events arrive asynchronously but in order: once a marker job's
    // start is seen, every job started before it has been seen too
    val groups = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.put(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    def jobsBeforeMarker(): Int = {
      sc.setJobGroup("plan-spec-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      var n = 0
      var g = groups.poll(60, TimeUnit.SECONDS)
      while (g != "plan-spec-marker") {
        assert(g != null, "marker job start never arrived")
        n += 1
        g = groups.poll(60, TimeUnit.SECONDS)
      }
      n
    }
    sc.addSparkListener(listener)
    try {
      jobsBeforeMarker()
      body(() => jobsBeforeMarker())
    } finally sc.removeSparkListener(listener)
  }

  test("strategy=auto takes the kernel for a repeated-key right side and runs no job to choose") {
    val left = strDf((1 to 300).map(i => s"name ${i % 10}"))
    // 7 keys, each on ~43 rows: far past topN, and autoStrategy would say dedup
    val right = strDf((1 to 300).map(i => s"name ${i % 7}"))
    assert(SimJoin.autoStrategy(left, "s", right, "s") == "dedup")
    val auto = withJobCounter { jobs =>
      val df = SimJoin.keyedPairs(left, "id", "s", right, "id", "s",
        SimJoinOptions(topN = 3, strategy = "auto"))
      assert(jobs() == 0, "keyedPairs ran a Spark job before any action")
      df
    }
    val exec = auto.queryExecution.executedPlan
    val plan = exec.toString
    assert(exec.exists(_.isInstanceOf[graft.plans.SimKernelExec]) && !plan.contains("SortMergeJoin")
      && !plan.contains("HashAggregate"), plan)
    def collect(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = collect(SimJoin.keyedPairs(left, "id", "s", right, "id", "s",
      SimJoinOptions(topN = 3, strategy = "direct")))
    assert(collect(auto) == direct && direct.size == 300 * 3)
  }

  def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** The kernel join of `left` and `right`, its pairs, and how many
    * executions of its `SimKernelExec` reused an earlier index. */
  def kernelRun(left: DataFrame, right: DataFrame,
      opts: SimJoinOptions = SimJoinOptions(topN = 3)): (Set[(Long, Long, Double)], Long) = {
    val df = SimJoin.keyedPairs(left, "id", "s", right, "id", "s", opts.copy(strategy = "kernel"))
    val pairs = pairSet(df)
    val exec = df.queryExecution.executedPlan.collectFirst { case k: graft.plans.SimKernelExec => k }
    (pairs, exec.get.metrics("indexReused").value)
  }

  def directPairs(left: DataFrame, right: DataFrame,
      opts: SimJoinOptions = SimJoinOptions(topN = 3)): Set[(Long, Long, Double)] =
    pairSet(SimJoin.keyedPairs(left, "id", "s", right, "id", "s", opts.copy(strategy = "direct")))

  def tempDir(): String = java.nio.file.Files.createTempDirectory("plan-spec-memo").resolve("r").toString

  def wordNames(words: Seq[String], seed: Int): Seq[String] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(200)(Seq.fill(2 + rng.nextInt(2))(words(rng.nextInt(words.length))).mkString(" "))
  }
  val namesA: Seq[String] =
    wordNames(Seq("small", "ring", "cold", "widget", "blue", "bolt", "plate", "steel"), 11)
  val namesB: Seq[String] = wordNames(Seq("alpha", "beta", "gamma", "delta", "omega", "sigma"), 12)
  val memoLeft: Seq[String] =
    Seq("small ring", "blue bolt plate", "alpha beta", "gamma steel", "widget", "omega")

  test("kernel index memo: a second left side over the same parquet right runs one job") {
    val path = tempDir()
    strDf(namesA).write.parquet(path)
    val right = spark.read.parquet(path)
    val left1 = strDf(memoLeft.take(3))
    val left2 = strDf(memoLeft.drop(3))
    val (r1, r2) = withJobCounter { jobs =>
      val first = kernelRun(left1, right)
      assert(jobs() == 2, "a build runs the right-side job and the scan")
      val second = kernelRun(left2, right)
      assert(jobs() == 1, "a reused index runs the scan only")
      (first, second)
    }
    assert(r1._2 == 0L && r2._2 == 1L)
    assert(r1._1 == directPairs(left1, right) && r2._1 == directPairs(left2, right))
    // the build time metric is only paid by the first execution
    val df = SimJoin.keyedPairs(left1, "id", "s", right, "id", "s", SimJoinOptions(topN = 3))
    df.collect()
    val exec = df.queryExecution.executedPlan.collectFirst { case k: graft.plans.SimKernelExec => k }.get
    assert(exec.metrics("indexReused").value == 1L && exec.metrics("indexBuildTime").value == 0L)
  }

  test("kernel index memo: an overwritten path re-read builds anew; the old frame still fails") {
    val path = tempDir()
    val left = strDf(memoLeft)
    strDf(namesA).write.parquet(path)
    val v1 = spark.read.parquet(path)
    val (p1, _) = kernelRun(left, v1)
    assert(p1 == directPairs(left, v1))
    // same path, same schema, different names: equal canonical plans
    strDf(namesB).write.mode("overwrite").parquet(path)
    val v2 = spark.read.parquet(path)
    val (p2, reused) = kernelRun(left, v2)
    assert(p2 == directPairs(left, v2) && p2 != p1)
    assert(reused == 0L)
    // the old frame lists the deleted v1 files: it fails as every strategy
    // does, and never answers from an index
    val kernelErr = intercept[Exception](kernelRun(left, v1))
    intercept[Exception](directPairs(left, v1))
    assert(kernelErr.getMessage.contains("does not exist") ||
      kernelErr.getMessage.contains("FileNotFound"), kernelErr.getMessage)
  }

  test("kernel index memo: a nondeterministic right side builds on every execution") {
    val path = tempDir()
    strDf(namesA).write.parquet(path)
    // Spark folds `rand(7) >= 0` to true; this filter stays in the plan
    val right = spark.read.parquet(path).filter(rand(7) < 0.9)
    val left = strDf(memoLeft)
    assert(SimJoin.keyedPairs(left, "id", "s", right, "id", "s", SimJoinOptions(strategy = "kernel"))
      .queryExecution.executedPlan.exists(_.expressions.exists(!_.deterministic)))
    val runs = withJobCounter { jobs =>
      (1 to 2).map { _ =>
        val run = kernelRun(left, right)
        assert(jobs() == 2)
        run
      }
    }
    assert(runs.forall(_._2 == 0L))
    assert(runs.forall(_._1 == directPairs(left, right)))
  }

  test("kernel index memo: topN and maxTokenFrequency are in the key, normalization is not") {
    val path = tempDir()
    strDf(namesA).write.parquet(path)
    val right = spark.read.parquet(path)
    val left = strDf(memoLeft)
    val cells = Seq(
      (SimJoinOptions(topN = 3), 0L),
      (SimJoinOptions(topN = 3, normalization = "count"), 1L),
      (SimJoinOptions(topN = 5), 0L),
      (SimJoinOptions(topN = 5, maxTokenFrequency = 50), 0L),
      (SimJoinOptions(topN = 5, maxTokenFrequency = 50), 1L),
      (SimJoinOptions(topN = 5, maxTokenFrequency = 70), 0L),
      (SimJoinOptions(topN = 3), 0L))
    cells.foreach { case (opts, wantReused) =>
      val (pairs, reused) = kernelRun(left, right, opts)
      assert(reused == wantReused, opts.toString)
      assert(pairs == directPairs(left, right, opts), opts.toString)
    }
  }

  test("kernel index memo: local right sides with one schema and different rows never collide") {
    val left = strDf(memoLeft)
    val rightA = strDf(namesA)
    val rightB = strDf(namesB)
    val (pa, _) = kernelRun(left, rightA)
    val (pb, reused) = kernelRun(left, rightB)
    assert(reused == 0L && pb != pa)
    assert(pa == directPairs(left, rightA) && pb == directPairs(left, rightB))
    assert(kernelRun(left, rightB)._2 == 1L)
  }

  test("threads option repartitions the left side without changing results") {
    val l = strDf(Seq("small ring", "small rings", "blue bolt", "cold plate"))
    def collect(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val base = collect(SimJoin.keyedPairs(l, "id", "s", l, "id", "s",
      SimJoinOptions(topN = 2, strategy = "direct")))
    val threaded = SimJoin.keyedPairs(l, "id", "s", l, "id", "s",
      SimJoinOptions(topN = 2, strategy = "direct", threads = 3))
    assert(collect(threaded) == base)
    assertThrows[IllegalArgumentException](SimJoinOptions(threads = -1))
  }

  test("null ids are dropped uniformly by every strategy; bad id types fail loudly") {
    val s = spark
    import s.implicits._
    val withNull = Seq((Some(1L), "small ring"), (None, "small rings"), (Some(3L), "blue bolt"))
      .toDF("id", "s")
    def collect(strategy: String) = SimJoin.keyedPairs(withNull, "id", "s", withNull, "id", "s",
        SimJoinOptions(topN = 5, strategy = strategy))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = collect("direct")
    assert(collect("dedup") == direct)
    assert(collect("kernel") == direct)
    assert(direct.forall { case (a, b) => Set(1L, 3L)(a) && Set(1L, 3L)(b) })
    // kernel-based search ops reject non-integral ids instead of silently
    // returning empty results
    val strIds = Seq(("a", Seq(1.0f, 0.0f))).toDF("id", "v")
    assertThrows[IllegalArgumentException](
      graft.operators.SimSearch.topKLsh(strIds, "id", "v", strIds, "id", "v", 1))
  }

  test("TypedSimJoin keeps full case-class rows through the join") {
    val s = spark
    import s.implicits._
    val people = Seq(
      PlanSpecPerson(1L, "small ring", "a"),
      PlanSpecPerson(2L, "small rings", "b"),
      PlanSpecPerson(3L, "blue bolt", "c")).toDS()
    val out = graft.operators.TypedSimJoin.topN(
        people, (p: PlanSpecPerson) => p.pname,
        people, (p: PlanSpecPerson) => p.pname,
        SimJoinOptions(topN = 1, strategy = "direct"))
      .collect().map { case (l, r, sim) =>
        (l.pid, l.note, r.pid, r.note, math.rint(sim * 1e9) / 1e9) }.toSet
    // top-1 self-match for each row, full typed values on both sides
    assert(out == Set(
      (1L, "a", 1L, "a", 1.0), (2L, "b", 2L, "b", 1.0), (3L, "c", 3L, "c", 1.0)))
  }

  test("maxTokenFrequency drops hot tokens (result-changing skew guard)") {
    val l = strDf(Seq("aaab"))
    // right side: "aaa" appears in every row (hot token), "aab" only in one
    val r = strDf(Seq("aaab", "aaax", "aaay", "aaaz"))
    val unguarded = SimJoin.keyedPairs(l, "id", "s", r, "id", "s",
      SimJoinOptions(topN = 10, strategy = "direct")).count()
    val guarded = SimJoin.keyedPairs(l, "id", "s", r, "id", "s",
      SimJoinOptions(topN = 10, strategy = "direct", maxTokenFrequency = 1)).count()
    assert(unguarded == 4L) // all rows share token "aaa"
    assert(guarded == 1L)   // only the exact "aab" partner survives the cap
    // kernel honors the same cap (required for safe auto-dispatch)
    val kernelGuarded = SimJoin.keyedPairs(l, "id", "s", r, "id", "s",
      SimJoinOptions(topN = 10, strategy = "kernel", maxTokenFrequency = 1)).count()
    assert(kernelGuarded == 1L)
    // the cap counts right ROWS in every strategy, also when dedup scores
    // distinct keys: "aaa" is in 3 rows but only 2 distinct keys
    val dupRight = strDf(Seq("aaab", "aaab", "aaax"))
    def capped(strategy: String) = SimJoin.keyedPairs(l, "id", "s", dupRight, "id", "s",
        SimJoinOptions(topN = 10, strategy = strategy, maxTokenFrequency = 2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val cappedDirect = capped("direct")
    assert(cappedDirect.map(_._2) == Set(0L, 1L)) // "aaax" shared only the dropped "aaa"
    assert(capped("dedup") == cappedDirect && capped("kernel") == cappedDirect)
  }

  test("RewriteTrigramUdf swaps the ScalaUDF for the codegen'd expression, null-exact") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    val s = spark
    import s.implicits._
    // null row exercises the UDF's empty-array-on-null contract
    val df = Seq((1L, "small ring"), (2L, null.asInstanceOf[String]), (3L, "ab"))
      .toDF("id", "s")
      .select(col("id"), Trigrams.tokensUdf(col("s")).as("t"))
    def hasUdf(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p.exists(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF])))
    val analyzed = df.queryExecution.analyzed
    assert(hasUdf(analyzed), "precondition: the UDF form must start as a ScalaUDF")
    val rewritten = graft.plans.RewriteTrigramUdf()(analyzed)
    assert(!hasUdf(rewritten), "no ScalaUDF may survive the rewrite")
    val got = org.apache.spark.sql.GraftBridge.ofRows(spark, rewritten)
      .orderBy("id").collect()
    val want = df.orderBy("id").collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0) && g.getSeq[Int](1) == w.getSeq[Int](1))
    }
    // the null row must yield the UDF's empty array, not null
    assert(got(1).getSeq[Int](1) == Seq.empty)
  }

  test("lineitem_q6 predicates reach the parquet scan as PushedFilters") {
    val plan = SparkEntry.queries("lineitem_q6")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // the toString elides the filter list tail — assert the pushdown is
    // non-trivial (beyond IsNotNull) and the scan is column-pruned
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), " +
      "IsNotNull(l_quantity), GreaterThanOrEqual(l_shipda"), plan)
    assert(plan.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_shipdate:timestamp"), plan)
  }

  test("ql_topk per-query k-cut plans as WindowGroupLimit") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "spark shuffle join"), (2L, "spark filter scan"),
      (3L, "window sort limit")).toDF("doc_id", "text")
    val plan = graft.operators.Bm25.topKQl(docs, "doc_id", "text",
        docs.filter(org.apache.spark.sql.functions.col("doc_id") === 1L),
        "doc_id", "text", k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("topKBinary broadcasts the query sketch — no shuffle of the corpus side") {
    val s = spark
    import s.implicits._
    val vecs = (1L to 50L).map(i =>
      (i, Array.tabulate(8)(d => ((i + d) % 5 - 2).toFloat))).toDF("vec_id", "embedding")
    val plan = graft.operators.SimSearch.topKBinary(
        vecs.filter(org.apache.spark.sql.functions.col("vec_id") <= 3L),
        "vec_id", "embedding", vecs, "vec_id", "embedding", k = 2,
        excludeSelf = true)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      plan)
  }

  test("promo_share joins lineitem to the part dim via BroadcastHashJoin") {
    val plan = SparkEntry.queries("promo_share")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the fact table must never be the build side: exactly the dim broadcasts
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("orders_top_volume broadcasts the HAVING survivors into both joins") {
    // the hint is SIZE-GUARDED (SizeGuard.fits): at test scale the
    // survivor aggregate fits, so the broadcast must fire; at a scale where
    // the estimate blows the budget the hint is dropped for AQE instead of
    // force-broadcasting an unbounded frame
    val plan = SparkEntry.queries("orders_top_volume")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("pii_scan / stream_scrub_batch / text_langid_mixed plan with ZERO exchanges") {
    // pure per-row scalars over one scan: any Exchange here would mean the
    // scrub/audit path shuffles the corpus it only needs to map
    Seq("pii_scan", "stream_scrub_batch", "text_langid_mixed").foreach { g =>
      val plan = SparkEntry.queries(g)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$g:\n$plan")
    }
  }

  test("orders_q5 broadcasts every dim and never falls to a cartesian product") {
    val plan = SparkEntry.queries("orders_q5")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // region→nation, nation→customer, supplier→lineitem all ride broadcasts;
    // the only shuffle joins are the big-big lineitem⋈orders(⋈customer) legs
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("customer_q22 plans the never-ordered test as a real anti-join") {
    val plan = SparkEntry.queries("customer_q22")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // NOT EXISTS must be LeftAnti (orders is scanned once, no fanout); the
    // one BroadcastNestedLoopJoin allowed is the 1-row average broadcast
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("IVF searches run one seed collect and one query collect while the frame is built") {
    // nIters = pqIters = 0: no Lloyd pass, so the jobs are the id-ranked seed
    // pool (shared by the coarse and product quantizers) and the query side.
    // A parquet corpus, because collects over a local relation run no job.
    val s = spark
    import s.implicits._
    val path = tempDir()
    (0 until 200).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 7 + d * 13) % 17 - 8).toFloat))
    }.toDF("vec_id", "embedding").write.parquet(path)
    val emb = spark.read.parquet(path)
    val q = emb.filter(col("vec_id") < 5)
    import graft.operators.SimSearch
    val built = withJobCounter { jobs =>
      def twoJobs(df: DataFrame): DataFrame = { assert(jobs() == 2); df }
      Seq(
        twoJobs(SimSearch.topKIvf(q, "vec_id", "embedding", emb, "vec_id", "embedding", 3,
          nList = 4, nProbe = 2)),
        twoJobs(SimSearch.topKIvfPq(q, "vec_id", "embedding", emb, "vec_id", "embedding", 3,
          nList = 4, nProbe = 2, nSub = 4, ksub = 8)),
        twoJobs(SimSearch.topKIvfPqResidual(q, "vec_id", "embedding", emb, "vec_id",
          "embedding", 3, nList = 4, nProbe = 2, nSub = 4, ksub = 8)))
    }
    assert(built.forall(_.count() == 15L))
  }

  test("lshAuditReport shingles and checkpoints its input once while the report is built") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"), (2L, "alpha beta gamma delta zeta"),
      (3L, "alpha beta gamma delta epsilon"), (4L, "one two three four five"))
      .toDF("doc_id", "text")
    import graft.operators.Dedup
    val report = withJobCounter { jobs =>
      val r = Dedup.lshAuditReport(docs, "doc_id", "text", 0.5)
      assert(jobs() == 1)
      r
    }
    // true pairs: (1, 3) at Jaccard 1.0, (1, 2) and (2, 3) at 0.5
    val r = report.collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(2) <= r.getLong(1) && r.getLong(2) >= 1L)
    assert(r.getDouble(3) == BigDecimal(r.getLong(2).toDouble / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("drift and PMI operators checkpoint one table while the frame is built") {
    val s = spark
    import s.implicits._
    val vals = Seq(1L, 5L, 12L, 30L, 39L).toDF("v")
    val docs = Seq((1L, "new york is big"), (2L, "new york new york")).toDF("doc_id", "text")
    import graft.operators.CorpusStats
    // one checkpointed aggregation: under AQE, its shuffle-map stage is one
    // job and the checkpoint's own pass another
    val built = withJobCounter { jobs =>
      def oneCheckpoint(df: DataFrame): DataFrame = { assert(jobs() == 2); df }
      Seq(
        oneCheckpoint(CorpusStats.psiDrift(vals, vals.filter(col("v") > 10L), "v", 0.0, 40.0, 4)),
        oneCheckpoint(CorpusStats.ksDrift(vals, vals.filter(col("v") > 10L), "v", 0.0, 40.0, 4)),
        oneCheckpoint(CorpusStats.collocations(docs, "text", minCount = 1L)),
        oneCheckpoint(CorpusStats.cooccurrence(docs, "text", minCount = 1L)))
    }
    assert(built.map(_.count()) == Seq(4L, 1L, 4L, 8L))
  }

  test("every banding entry rejects a bandRows that does not divide MinHashK before any job") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "alpha beta gamma delta zeta"))
      .toDF("doc_id", "text")
    val sigs = Seq((1L, Seq.fill(32)(7L)), (2L, Seq.fill(32)(7L))).toDF("doc_id", "sig")
    import graft.operators.{Decontaminate, Dedup}
    val entries: Seq[(String, () => DataFrame)] = Seq(
      "lshAuditReport" -> (() => Dedup.lshAuditReport(docs, "doc_id", "text", 0.5, bandRows = 3)),
      "minHashLshPairs" -> (() => Dedup.minHashLshPairs(docs, "doc_id", "text", 0.5, bandRows = 3)),
      "editVerifiedPairs" -> (() => Dedup.editVerifiedPairs(docs, "doc_id", "text", 200, bandRows = 3)),
      "minHashLshPairsBetween" -> (() => Dedup.minHashLshPairsBetween(
        docs, "doc_id", "text", docs, "doc_id", "text", 0.5, bandRows = 3)),
      "fuzzyFlagged" -> (() => Decontaminate.fuzzyFlagged(
        docs, "doc_id", "text", docs, "doc_id", "text", 0.5, bandRows = 3)),
      "nearDupFromSignatures" -> (() => Dedup.nearDupFromSignatures(
        sigs, "doc_id", "sig", 0.5, bandRows = 3)),
      "nearDupFromSignaturesBetween" -> (() => Dedup.nearDupFromSignaturesBetween(
        sigs, "doc_id", "sig", sigs, "doc_id", "sig", 0.5, bandRows = 3)))
    withJobCounter { jobs =>
      entries.foreach { case (name, call) =>
        intercept[IllegalArgumentException](call())
        assert(jobs() == 0, s"$name checked bandRows after a Spark job")
      }
    }
  }

  test("ann_filtered is a PRE-filter: full k among survivors, all matching") {
    // (the scoring pass crosses an RDD boundary, so the predicate pushdown
    // itself isn't visible in this plan — pin the pre-filter SEMANTICS:
    // post-filtering a k-shortlist would under-fill; pre-filtering cannot)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = SparkEntry.queries("ann_filtered")(spark, "/root/testdata/sf0.001")
    val perQuery = out.groupBy(col("query_id")).count().collect()
    assert(perQuery.nonEmpty && perQuery.forall(_.getLong(1) == 5L),
      "every query must get exactly k qualifying neighbors")
    val badLabel = out.join(emb.select(col("vec_id").as("neighbor_id"), col("label")),
        Seq("neighbor_id"))
      .filter(col("label") =!= 3).count()
    assert(badLabel == 0L, "a neighbor escaped the predicate")
  }

  test("bm25_wand candidate pruning keeps the final aggregation under a semi-join") {
    val s = spark
    import s.implicits._
    // A corpus with WIDE impact spread (one rare term among stuffing terms),
    // so the r15 flat-spread early exit does NOT fire and the pruned shape
    // plans. The sf word-salad table now deliberately takes the exhaustive
    // exit — pinned separately below.
    val docs = (0L until 40L).map { i =>
      val rare = if (i % 17 == 0) " uniquerareterm" else ""
      (i, s"alpha beta gamma delta epsilon zeta$rare")
    }.toDF("doc_id", "text")
    val plan = graft.operators.Bm25.topKMaxScore(
        graft.operators.Bm25.index(docs, "doc_id", "text"),
        docs.filter(col("doc_id") < 5), "doc_id", "text", 2)
      .queryExecution.executedPlan.toString
    // the full scorer is gated by the candidate semi-join (MaxScore's point)
    assert(plan.contains("LeftSemi"), plan)
  }

  test("bm25_wand flat-spread early exit plans the exhaustive shape (no semi-join)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.operators.Bm25.topKMaxScore(
        graft.operators.Bm25.index(docs, "doc_id", "text"),
        docs.filter(col("doc_id") < 5), "doc_id", "text", 10)
      .queryExecution.executedPlan.toString
    // the word-salad corpus has ~flat per-term impact bounds: MaxScore's
    // early exit must take the single-aggregation exhaustive shape
    assert(!plan.contains("LeftSemi"), plan)
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("every ranked Bm25 face rejects k <= 0 before any job") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta")).toDF("doc_id", "text")
    import graft.operators.Bm25
    val idx = Bm25.index(docs, "doc_id", "text")
    def entries(k: Int): Seq[(String, () => Any)] = Seq(
      "topK" -> (() => Bm25.topK(docs, "doc_id", "text", docs, "doc_id", "text", k)),
      "topKIndexed" -> (() => Bm25.topKIndexed(idx, docs, "doc_id", "text", k)),
      "topKPrf" -> (() => Bm25.topKPrf(idx, docs, "doc_id", "text", k)),
      "topKMaxScore" -> (() => Bm25.topKMaxScore(idx, docs, "doc_id", "text", k)),
      "topKMaxScoreIndexed" -> (() =>
        Bm25.topKMaxScoreIndexed(Bm25.impactIndex(idx), docs, "doc_id", "text", k)),
      "maxScoreCandidateCount" -> (() => Bm25.maxScoreCandidateCount(idx, docs, "doc_id", "text", k)),
      "topKQl" -> (() => Bm25.topKQl(docs, "doc_id", "text", docs, "doc_id", "text", k)))
    withJobCounter { jobs =>
      for (k <- Seq(0, -1); (name, call) <- entries(k)) {
        intercept[IllegalArgumentException](call())
        assert(jobs() == 0, s"$name checked k = $k after a Spark job")
      }
    }
  }

  test("Bm25 PRF and MaxScore run a pinned number of jobs while the frame is built") {
    val s = spark
    import s.implicits._
    import graft.operators.Bm25
    // the wide-spread fixture of the LeftSemi test above: the pruned shape
    val wide = (0L until 40L).map { i =>
      val rare = if (i % 17 == 0) " uniquerareterm" else ""
      (i, s"alpha beta gamma delta epsilon zeta$rare")
    }.toDF("doc_id", "text")
    // the flat-spread word-salad corpus: the exhaustive shape
    val flat = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // pinned, so a plan change that adds a job shows here; the counts include
    // the shuffle-map stages and broadcasts AQE runs as jobs of their own.
    // MaxScore leaves its impact relation persisted, and earlier tests build
    // the same plans: start from an empty cache.
    spark.sharedState.cacheManager.clearCache()
    val built = withJobCounter { jobs =>
      def jobsWhileBuilt(n: Int)(df: DataFrame): DataFrame = { assert(jobs() == n); df }
      Seq(
        // the totals collect and the two checkpoints
        jobsWhileBuilt(20)(Bm25.topKPrf(Bm25.index(flat, "doc_id", "text"),
          flat.filter(col("doc_id") < 5), "doc_id", "text", 10, fbDocs = 2, fbTerms = 2)),
        // the pruned shape
        jobsWhileBuilt(26)(Bm25.topKMaxScore(Bm25.index(wide, "doc_id", "text"),
          wide.filter(col("doc_id") < 5), "doc_id", "text", 2)),
        // the exhaustive shape
        jobsWhileBuilt(26)(Bm25.topKMaxScore(Bm25.index(flat, "doc_id", "text"),
          flat.filter(col("doc_id") < 5), "doc_id", "text", 10)))
    }
    try assert(built.map(_.count()) == Seq(50L, 10L, 50L))
    finally spark.sharedState.cacheManager.clearCache()
  }
}
