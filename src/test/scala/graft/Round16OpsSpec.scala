package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Specs for the round-16 additions: the PQ codebook drift monitor and the
  * persisted-edge-table graph entry point. */
class Round16OpsSpec extends AnyFunSuite with LocalSpark {

  private def emb(rows: (Long, Seq[Float])*) = {
    val sp = spark
    import sp.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("pqDrift: batch == train slice reports zero delta everywhere") {
    val df = emb(
      0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0.9f, 0.1f, 0f, 0f),
      2L -> Seq(0f, 0f, 1f, 0f), 3L -> Seq(0f, 0.1f, 0.9f, 0f))
    val pq = SimSearch.pqTrainModel(df, "vec_id", "embedding", nSub = 2, ksub = 2, nIters = 1)
    val out = SimSearch.pqDrift(df, df, "vec_id", "embedding", pq).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_train")) == r.getLong(r.fieldIndex("n_batch")))
      assert(r.getLong(r.fieldIndex("train_mean_errq")) ==
        r.getLong(r.fieldIndex("batch_mean_errq")))
      assert(r.getLong(r.fieldIndex("delta_errq")) == 0L)
    }
  }

  test("pqDrift: off-manifold batch inflates error; one-sided codewords keep a row") {
    // train clusters on axes 1 and 3; batch points midway between them
    // quantize strictly worse on at least one codeword
    val train = emb(
      0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0.95f, 0.05f, 0f, 0f),
      2L -> Seq(0f, 0f, 1f, 0f), 3L -> Seq(0f, 0.05f, 0.95f, 0f))
    val batch = emb(10L -> Seq(0.5f, 0.5f, 0.5f, 0.5f), 11L -> Seq(0.4f, 0.6f, 0.4f, 0.6f))
    val pq = SimSearch.pqTrainModel(train, "vec_id", "embedding", nSub = 2, ksub = 2, nIters = 1)
    val out = SimSearch.pqDrift(train, batch, "vec_id", "embedding", pq).collect()
    // every train row quantizes; batch occupancy sums to nSub * |batch|
    assert(out.map(_.getLong(2)).sum == 4L * pq.nSub)
    assert(out.map(_.getLong(4)).sum == 2L * pq.nSub)
    assert(out.exists(r => !r.isNullAt(6) && r.getLong(6) > 0L))
    // one-sided rows (train-only or batch-only codewords) report count 0 and
    // a null mean on the absent side rather than dropping
    out.filter(_.getLong(4) == 0L).foreach(r => assert(r.isNullAt(5) && r.isNullAt(6)))
    out.filter(_.getLong(2) == 0L).foreach(r => assert(r.isNullAt(3) && r.isNullAt(6)))
    // null / zero-norm / wrong-dim batch rows are dropped, not scored
    val sp = spark
    import sp.implicits._
    val weird = Seq(
      (20L, Some(Seq(0f, 0f, 0f, 0f))), (21L, None),
      (22L, Some(Seq(1f, 0f)))).toDF("vec_id", "embedding")
    val w = SimSearch.pqDrift(train, weird, "vec_id", "embedding", pq).collect()
    assert(w.map(_.getLong(4)).sum == 0L)
  }

  test("topKPrf caches only the postings plus two bounded checkpoints per call") {
    val sp = spark
    import sp.implicits._
    sp.sharedState.cacheManager.clearCache()
    // DELTA-based: suites sharing this JVM leave their own never-unpersist
    // frames registered, so the absolute count is not ours to assert on
    val before = sp.sparkContext.getPersistentRDDs.size
    val df = Seq(
      (1L, "apple banana"), (2L, "apple banana cherry cherry"),
      (3L, "cherry cherry cherry date"), (4L, "elderberry fig"))
      .toDF("doc_id", "text")
    val idx = Bm25.index(df, "doc_id", "text")
    val q = df.filter(col("doc_id") === 1L)
    val out = Bm25.topKPrf(idx, q, "doc_id", "text", k = 10, fbDocs = 2, fbTerms = 2)
    assert(out.count() > 0)
    // r14's shape leaked FIVE cache entries per invocation (idxP, tot,
    // slice0, scores0, tfExp — three of them CORPUS-sized); r16 cut it to
    // the persisted postings alone, and r17 added back exactly TWO
    // localCheckpoints of BOUNDED frames (per-(query,doc) round-1 scores;
    // ≤ fbTerms·|queries| expansion terms) — the lineage cut that halved
    // bm25_prf's plan (126 → 18 Exchanges, cold 24.5 → 12 s). Only the
    // postings entry is corpus-sized; all entries are per-call and released
    // by the ContextCleaner once the result frame is dropped.
    assert(!sp.sharedState.cacheManager.isEmpty)
    val delta = sp.sparkContext.getPersistentRDDs.size - before
    assert(delta <= 4,
      s"expected the postings plus two bounded checkpoints, got $delta new RDD cache entries")
    sp.sharedState.cacheManager.clearCache()
  }

  test("urlNormalizeCol: canonical form across case/port/www/query/fragment/punct") {
    val sp = spark
    import sp.implicits._
    import graft.functions.TextFunctions
    val cases = Seq(
      ("HTTPS://WWW.Example.COM:443/A/b/?q=1#f", "https://example.com/A/b"),
      ("http://Example.org:80/", "http://example.org"),
      ("http://example.org", "http://example.org"),
      ("https://example.com/path).", "https://example.com/path"),
      ("http://sub.WWW.example.com/x", "http://sub.www.example.com/x"), // www stripped only as PREFIX
      ("https://example.com:8443/x/", "https://example.com:8443/x"),    // non-default port kept
      ("HtTp://A.B/C?utm=1", "http://a.b/C"))                           // path case preserved
    val got = cases.map(_._1).toDF("u")
      .select(TextFunctions.urlNormalizeCol(col("u")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2))
    // extraction pulls every URL out of running text, in order
    val ex = Seq("see http://a.b/x and HTTPS://c.d. done").toDF("t")
      .select(TextFunctions.extractUrlsCol(col("t")).as("us"))
      .collect().head.getSeq[String](0)
    assert(ex == Seq("http://a.b/x", "HTTPS://c.d."))
  }

  test("topKPrf on an empty postings frame returns empty, not an NPE") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "apple banana")).toDF("doc_id", "text")
    val emptyIdx = Bm25.index(docs.filter(col("doc_id") < 0L), "doc_id", "text")
    // the collected corpus totals row is (NULL, 0) here — the zero-guard must
    // keep the old lazy-empty behavior
    assert(Bm25.topKPrf(emptyIdx, docs, "doc_id", "text", k = 5).count() == 0L)
  }

  test("BM25 postings are doc-local: index(old) ∪ index(new) == index(old ∪ new)") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "cherry cherry date"), (4L, "apple elderberry fig"))
      .toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.get(3).toString)).toSet
    val whole = canon(Bm25.index(docs, "doc_id", "text"))
    val union = canon(Bm25.index(docs.filter(col("doc_id") <= 2L), "doc_id", "text")
      .unionByName(Bm25.index(docs.filter(col("doc_id") > 2L), "doc_id", "text")))
    assert(union == whole && whole.nonEmpty)
  }

  test("splitByCluster: every near-dup cluster lands whole in one split") {
    val sp = spark
    import sp.implicits._
    // docs 1/2 are fuzzy copies (exact md5 differs!), 3 is unrelated —
    // exact-group splitting could straddle 1 and 2; cluster-safe must not
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (3L, "completely different content about spark window aggregation plans"))
      .toDF("doc_id", "text")
    val labels = ConnectedComponents.run(docs,
      "doc_id", Dedup.minHashLshPairs(docs, "doc_id", "text", 0.5), "id_a", "id_b")
    val out = Sampling.splitByCluster(labels, "doc_id", "component", 60, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    // the fuzzy pair clusters together and therefore co-assigns
    val m = out.map(r => r._1 -> (r._2, r._3)).toMap
    assert(m(1L)._1 == m(2L)._1, "near-dups must share a cluster")
    assert(m(1L)._2 == m(2L)._2, "near-dups must share a split")
    // invariant over the whole output: one split per component
    assert(out.groupBy(_._2).forall(_._2.map(_._3).distinct.length == 1))
  }

  test("label propagation from a persisted edge table is bit-identical to the fused build") {
    val df = emb(
      0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0.95f, 0.05f, 0f, 0f),
      2L -> Seq(0.9f, 0.1f, 0f, 0f), 3L -> Seq(0f, 0f, 1f, 0f),
      4L -> Seq(0f, 0.05f, 0.95f, 0f), 5L -> Seq(0f, 0.1f, 0.9f, 0f),
      6L -> Seq(0.7f, 0.7f, 0f, 0f))
    val nodes = df.select(col("vec_id"))
    val edges = Dedup.mutualKnnEdges(df, "vec_id", "embedding", 2)
    val fused = GraphRank.labelPropagation(nodes, "vec_id", edges, "id_a", "id_b", rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-edges").toString + "/e"
    edges.write.mode("overwrite").parquet(dir)
    val fromTable = GraphRank.labelPropagation(nodes, "vec_id",
        spark.read.parquet(dir), "id_a", "id_b", rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromTable == fused)
    assert(fused.nonEmpty)
  }
}
