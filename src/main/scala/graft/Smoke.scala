package graft

import graft.operators.{SimJoin, SimJoinOptions}

/**
 * Manual end-to-end smoke drive of the public API against the driver's test
 * parquet. Not part of the driver contract — a human/CI convenience:
 *   sbt "runMain graft.Smoke [sfDir]"
 */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.builder(GraftSession.cpus(4), 8)
      .appName("graft-smoke")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val part = spark.read.parquet(s"$sfDir/part.parquet")
    val out = SimJoin.simJoin(
      part.select("p_partkey", "p_name"), part.select("p_name"),
      SimJoinOptions(on = Some("p_name"), topN = 3))
    out.show(8, truncate = false)
    println("simJoin rows=" + out.count())

    val kp = SimJoin.keyedPairs(
      part, "p_partkey", "p_name",
      part.withColumnRenamed("p_partkey", "rk"), "rk", "p_name",
      SimJoinOptions(topN = 2), "lid", "rid", "sim")
    kp.show(5, truncate = false)
    println("keyedPairs rows=" + kp.count())

    // SQL surface drive (idempotent registration + a query through spark.sql)
    graft.functions.GraftFunctions.registerAll(spark)
    graft.functions.GraftFunctions.registerAll(spark)
    println("SQL " + spark.sql(
      "SELECT trigrams('small ring') AS t, normalize_words('Small Ring!') AS n, thash('small ring') AS h").head())
    // native codegen'd SQL function injected via spark.sql.extensions
    println("EXT " + spark.sql("SELECT trigram_tokens('abcd') AS t").head())
    val extBadType = try { spark.sql("SELECT trigram_tokens(42)").head().toString }
      catch { case e: Exception => "error: " + Option(e.getMessage).getOrElse("").take(80) }
    println("PROBE trigram_tokens(int) -> " + extBadType)
    // optimizer-rule drive: the boxed UDF form must leave no ScalaUDF in the
    // session's OWN optimized plan (RewriteTrigramUdf, injected above)
    val udfForm = part.select(graft.functions.Trigrams.tokensUdf(
      org.apache.spark.sql.functions.col("p_name")).as("t"))
    val optimized = udfForm.queryExecution.optimizedPlan
    val udfSurvived = optimized.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF])))
    require(!udfSurvived, "RewriteTrigramUdf did not fire in the extension session")
    println("RULE trigram UDF rewritten, rows=" + udfForm.count())

    // fuzzy dedup drive
    val dd = graft.operators.SimDedup.dedup(part, "p_partkey", "p_name", 0.85)
    println("simDedup rows=" + dd.count() + " clusters=" +
      dd.select("canonical_id").distinct().count())

    // multimodal stub drive
    import org.apache.spark.sql.functions.{col, encode}
    val mm = part.limit(3).withColumn("payload", encode(col("p_name"), "UTF-8"))
    val mmOut = mm.select(
      graft.operators.Multimodal.resizeStub(col("payload"), 4, 4).as("rz"),
      graft.operators.Multimodal.frameSample(col("payload"), 2).as("fr")).head()
    println("MM resize=" + mmOut.getAs[Array[Byte]](0).length +
      "B frames=" + mmOut.getSeq[Array[Byte]](1).map(_.length).mkString("+"))

    // corpus-pipeline drives: cleaning, ANN (IVF), winnow dedup, sampling
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val cleaned = graft.operators.CleanCorpus.clean(
      docs, "doc_id", "text", minQuality = 0.45, langs = Seq("en"))
    println("cleanCorpus rows=" + cleaned.count())
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val ivf = graft.operators.SimSearch.topKIvf(
      emb.filter(col("vec_id") < 10), "vec_id", "embedding",
      emb, "vec_id", "embedding", 3, nList = 8, nProbe = 3, excludeSelf = true)
    println("topKIvf rows=" + ivf.count())
    val wp = graft.operators.Dedup.winnowPairs(docs, "doc_id", "text",
      minShared = 5L, maxDocFrequency = 100L)
    println("winnowPairs rows=" + wp.count())
    val sp = graft.operators.Sampling.withSplit(docs, "doc_id", 80, 10)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) + "=" + r.getLong(1)).sorted.mkString(" ")
    println("split " + sp)

    // round-4 surfaces: left-join assembly, star components, size guard
    val lj = SimJoin.simJoin(
      part.select("p_partkey", "p_name"),
      part.filter(col("p_partkey") < 100).select("p_partkey", "p_brand"),
      SimJoinOptions(leftOn = Some("p_name"), rightOn = Some("p_brand"),
        topN = 2, indexBy = Some("p_partkey"), how = "left"))
    println("simJoin(left) rows=" + lj.count() +
      " unmatched=" + lj.filter(col("sim").isNull).count())
    val starComp = graft.operators.ConnectedComponents.runStar(
      part.select(col("p_partkey").as("id")), "id",
      part.filter(col("p_partkey") < 50)
        .select(col("p_partkey").as("a"), (col("p_partkey") + 1L).as("b")), "a", "b")
    println("runStar components=" + starComp.select("component").distinct().count())
    val guardMsg = try {
      graft.operators.SizeGuard.requireFits(emb.select("vec_id", "embedding"), "query side",
        "probe", bound = 1, exactBytes = Some(graft.operators.SimSearch.queryBytes("embedding")))
      "fits"
    } catch { case e: IllegalArgumentException =>
      "error: " + Option(e.getMessage).getOrElse("").take(60) }
    println("PROBE SizeGuard.requireFits bound=1 -> " + guardMsg)

    // round-15 surfaces: incremental IVF faces + Avro round trip
    val ivfModel = graft.operators.SimSearch.ivfTrainModel(
      emb.filter(col("vec_id") % 10 < 8), "vec_id", "embedding", nList = 8, nIters = 1)
    val assigned = graft.streaming.StreamIvfAssign.assign(
      emb.filter(col("vec_id") % 10 >= 8), "vec_id", "embedding", ivfModel)
    println("streamIvfAssign(batch face) rows=" + assigned.count())
    val drift = graft.operators.SimSearch.ivfDrift(
      emb.filter(col("vec_id") % 10 < 8), emb.filter(col("vec_id") % 10 >= 8),
      "vec_id", "embedding", ivfModel)
    println("ivfDrift lists=" + drift.count())
    val avroDir = s"${sys.props("java.io.tmpdir")}/graft_smoke_avro_" +
      ProcessHandle.current().pid()
    val avroIn = docs.select(col("doc_id"), col("text"), col("lang"))
    graft.sources.AvroTable.write(avroIn, avroDir)
    println("avro roundtrip rows=" +
      graft.sources.AvroTable.read(spark, avroDir, avroIn.schema).count())
    val avroBad = try {
      graft.sources.AvroTable.write(emb.select(col("embedding")), avroDir + "_bad"); "no error"
    } catch { case e: IllegalArgumentException =>
      "error: " + Option(e.getMessage).getOrElse("").take(60) }
    println("PROBE avro unsupported type -> " + avroBad)

    // error-surface probes
    try SimJoinOptions(topN = 0)
    catch { case e: IllegalArgumentException => println("PROBE topN=0 -> " + e.getMessage) }
    try SimJoin.simJoin(part, part, SimJoinOptions(on = Some("nope")))
    catch { case e: IllegalArgumentException => println("PROBE missing col -> " + e.getMessage) }
    val badType = try { spark.sql("SELECT trigrams(42)").head().toString }
      catch { case e: Exception => "error: " + Option(e.getMessage).getOrElse("").take(120) }
    println("PROBE trigrams(int) -> " + badType)

    spark.stop()
  }
}
