package graft

import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.operators.Hints

/** A query built again in the same session reads the leaf its first
  * construction installed. Spark's CacheManager keeps one entry per
  * plan, so a second construction that persisted its own frame and then
  * unpersisted the first one's would drop the shared entry and run the
  * stateless plan; every construction after the first must still plan
  * an InMemoryRelation, and the former rebuild-on-every-construction
  * entries must return the leaf they built before. */
class LeafReuseSpec extends SparkSpec {

  private def cachedRelations(name: String): Int =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.withCachedData
      .collect { case r: InMemoryRelation => r }.size

  test("a second construction still reads the persisted signature leaves") {
    Hints.evictAllMemos()
    val names = Seq("q_dedup_hamming", "q_dedup_lsh_sweep", "q_dedup_incr",
      "q_dedup_est_err", "q_dedup_jaccard_lsh")
    val counts = names.map(n => (n, cachedRelations(n), cachedRelations(n)))
    val lost = counts.filter { case (_, first, second) =>
      first == 0 || second == 0 }
    assert(lost.isEmpty,
      s"(query, InMemoryRelations in construction #1, #2): $counts")
  }

  test("q_emb_pca_power and q_dedup_clusters read the leaf they built") {
    Hints.evictAllMemos()
    val pca = SparkEntry.queries("q_emb_pca_power")
    assert(pca(spark, sf0001) eq pca(spark, sf0001),
      "a second q_emb_pca_power must return the memoized loadings")
    val clusters = SparkEntry.queries("q_dedup_clusters")
    val first = clusters(spark, sf0001).queryExecution.optimizedPlan
    val second = clusters(spark, sf0001).queryExecution.optimizedPlan
    assert(first.sameResult(second),
      "a second q_dedup_clusters must read the checkpointed label leaf")
  }
}
