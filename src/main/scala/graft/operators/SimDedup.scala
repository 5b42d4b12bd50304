package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Similarity-based (fuzzy) deduplication over a STRING KEY: rows whose keys are
 * trigram-similar (sim ≥ threshold, transitively) share a cluster; each row gets
 * the cluster's canonical id (min row id in the cluster).
 *
 * 100 TB shape: similarity depends only on the key string, so edges are built
 * between DISTINCT keys (the [[SimJoin]] "dedup" insight — candidate space
 * O(distinct²), not O(rows²)), components run on the distinct-key graph, and
 * rows join back by key at the end. Before label propagation the distinct keys
 * are mapped to dense Long ids ([[DenseRank]] — injective, unlike a 64-bit
 * hash which would silently merge colliding keys at billions of rows), so
 * every CC iteration shuffles 16-byte (id, label) rows instead of full key
 * strings. The reference library has no dedup operator; this composes its one
 * operator (the similarity join) with [[ConnectedComponents]], per SURVEY
 * §7.3.4.
 */
object SimDedup {

  /**
   * @return (idCol, keyCol, canonical_id) — canonical_id = min idCol among all
   *         rows whose key is in the same similarity component.
   */
  def dedup(
      df: DataFrame, idCol: String, keyCol: String,
      threshold: Double, normalization: String = "l2"): DataFrame = {
    val keys = df.select(col(keyCol).as("__key")).filter(col("__key").isNotNull).distinct()
    // dense Long id per distinct key: CC label frames carry longs, not strings.
    // Materialized once (localCheckpoint) — four subtrees consume it (both
    // edge-endpoint mappings, the CC node frame, the component join-back), and
    // the zipWithIndex pipeline behind DenseRank defeats exchange reuse, so an
    // unmaterialized frame would re-run the distinct+range-sort four times.
    val keyIds = DenseRank.appendIndex(keys, Seq(col("__key")), "__kid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = SimJoin.thresholdPairs(
        keys, "__key", "__key", keys, "__key", "__key", threshold,
        SimJoinOptions(normalization = normalization),
        outLeft = "__ka", outRight = "__kb")
      .filter(col("__ka") =!= col("__kb"))
      .join(keyIds.select(col("__key").as("__ka"), col("__kid").as("__ea")), "__ka")
      .join(keyIds.select(col("__key").as("__kb"), col("__kid").as("__eb")), "__kb")
      .select(col("__ea"), col("__eb"))
    // Measured variants at sf0.1 (BenchOne simdedup, cold/warm): restricting
    // CC to edge-PARTICIPATING keys (union-distinct of endpoints, right-join
    // back) ran 8.3/3.4 s even with the edge frame persisted — the formulaic
    // p_name corpus has near-universal edge participation, so the extra
    // distinct + persist pass is pure overhead here; full-node CC runs
    // 7.2/2.4 s. The remaining cold-warm spread is JIT/codegen on an
    // identical plan (documented floor), not plan cost.
    val comp = ConnectedComponents.run(keyIds.select(col("__kid")), "__kid", edges, "__ea", "__eb")
      .join(keyIds, "__kid")
      .select(col("__key"), col("component").as("__comp"))
    val withComp = df.select(col(idCol), col(keyCol))
      .join(comp, df(keyCol) === comp("__key"))
    val canon = withComp.groupBy(col("__comp")).agg(min(col(idCol)).as("canonical_id"))
    withComp.join(canon, "__comp").select(col(idCol), col(keyCol), col("canonical_id"))
  }
}
