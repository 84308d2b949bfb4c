package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.operators.Hints
import graft.operators.Hints.LeafKey

/** Pins the shared-leaf registry contract (Hints.leaf / replaceLeaf):
  * a leaf is identified by (context, dir, name, fingerprint), and an
  * insert evicts only entries with the same (context, dir, name) and a
  * DIFFERENT fingerprint. Regression test for the round-10 advice
  * finding where two Dedup signature leaves of one dir cross-evicted
  * each other's still-current leaf. Each test uses its own dir, so the
  * process-wide registry's other entries never interfere. */
class MemoEvictionSpec extends SparkSpec {

  private def df(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).toDF("v")
  }

  private def keysUnder(dir: String): Set[LeafKey] =
    Hints.leafKeys.filter(_.dir == dir).toSet

  test("different variant tags under the same dir+fingerprint coexist") {
    val dir = "/memo-spec/variants"
    val incr = LeafKey(1, dir, "incr-bkt", "fpA")
    val sweep = LeafKey(1, dir, "sweep-sigs", "fpA")
    Hints.replaceLeaf(incr, df(1))
    Hints.replaceLeaf(sweep, df(2))
    assert(keysUnder(dir) === Set(incr, sweep),
      "sweep-sigs insert must not evict the incr-bkt leaf")
  }

  test("same variant with a changed fingerprint evicts the stale entry") {
    val dir = "/memo-spec/refingerprint"
    val stale = df(1).persist()
    stale.count()
    Hints.replaceLeaf(LeafKey(1, dir, "incr-bkt", "fpOLD"), stale)
    Hints.replaceLeaf(LeafKey(1, dir, "incr-bkt", "fpNEW"), df(2))
    assert(keysUnder(dir) === Set(LeafKey(1, dir, "incr-bkt", "fpNEW")),
      "regenerated fixture must displace the superseded leaf")
    assert(stale.storageLevel === StorageLevel.NONE,
      "the displaced leaf must be unpersisted")
  }

  test("leaf is idempotent for the same key and evicts stale twins") {
    val dir = "/memo-spec/idempotent"
    var builds = 0
    def build(): DataFrame = { builds += 1; df(3) }
    val first = Hints.leaf(LeafKey(1, dir, "tok#2", "fpA"))(build())
    val second = Hints.leaf(LeafKey(1, dir, "tok#2", "fpA"))(build())
    assert(first eq second, "same key must return the cached leaf")
    assert(builds === 1)
    Hints.leaf(LeafKey(1, dir, "tok#2", "fpB"))(df(4))
    assert(keysUnder(dir) === Set(LeafKey(1, dir, "tok#2", "fpB")))
  }

  test("dedupIncr and dedupLshSweep leaves coexist in the live memo") {
    // End-to-end: construct both queries against the same fixture; the
    // round-10 bug made the second construction unpersist the first's
    // leaf. Both leaves must survive under their own names.
    val d = sf0001
    graft.operators.Dedup.dedupIncr(spark, d)
    graft.operators.Dedup.dedupLshSweep(spark, d)
    val names = keysUnder(d).map(_.name)
    assert(names.contains("incr-sigs"), s"incr-sigs leaf missing: $names")
    assert(names.contains("sweep-sigs"),
      s"sweep-sigs leaf evicted by the later construction: $names")
  }

  test("leaves of one dir and fingerprint coexist under different names; " +
      "another table's fingerprint evicts nothing") {
    // The token leaf and the dedup label leaf both derive from
    // `documents` (same dir, same fingerprint); the PCA leaf's
    // fingerprint is the embeddings file's.
    val d = sf0001
    val tokens = Hints.leafKey(spark, d, "memo-spec-tokens", "documents")
    val labels = Hints.leafKey(spark, d, "memo-spec-labels", "documents")
    val pca = Hints.leafKey(spark, d, "memo-spec-pca", "embeddings")
    assert(tokens.fingerprint === labels.fingerprint)
    assert(tokens.fingerprint !== pca.fingerprint)
    val t = Hints.leaf(tokens)(df(1))
    val l = Hints.leaf(labels)(df(2))
    assert(l ne t, "labels must not read the token leaf")
    Hints.leaf(pca)(df(3))
    assert(Set(tokens, labels, pca).subsetOf(Hints.leafKeys.toSet),
      "an insert with another table's fingerprint must evict nothing")
    assert(Hints.leaf(tokens)(df(4)) eq t)
  }

  test("a leaf build that requests another leaf completes") {
    // The dedup label build requests the verify-set leaf. Run inside a
    // ConcurrentHashMap compute, such a nested insert throws "Recursive
    // update" whenever the two keys share a bin, so many pairs are tried;
    // each fingerprint displaces the last, keeping the map small.
    val dir = "/memo-spec/nested"
    for (i <- 0 until 300) {
      val outer = LeafKey(1, dir, "outer", s"fp$i")
      val inner = LeafKey(1, dir, "inner", s"fp$i")
      val got = Hints.leaf(outer) {
        Hints.leaf(inner)(df(1))
        df(2)
      }
      assert(got ne null)
      assert(keysUnder(dir) === Set(outer, inner))
    }
  }

  test("concurrent requests for one leaf build it once and share it") {
    val key = LeafKey(1, "/memo-spec/concurrent", "leaf", "fpA")
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map { _ =>
        pool.submit(new Callable[DataFrame] {
          def call(): DataFrame = {
            start.await()
            Hints.leaf(key) {
              builds.incrementAndGet()
              Thread.sleep(200)
              df(1)
            }
          }
        })
      }
      start.countDown()
      val got = futures.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get === 1)
      assert(got.forall(_ eq got.head), "every caller must get one DataFrame")
    } finally pool.shutdownNow()
  }
}
