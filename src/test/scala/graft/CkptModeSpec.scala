package graft

import org.apache.spark.sql.functions._

/** Reliable-vs-local checkpoint parity for the iterative family
  * (Hints.checkpoint): setting `spark.graft.checkpointDir` must swap
  * every lineage-truncation site from executor-local blocks to a
  * reliable checkpoint directory — the cluster fault-tolerance mode —
  * WITHOUT changing any result. Also pins that the reliable mode really
  * engages (rdd-* checkpoint data appears under the dir): a parity test
  * that silently stayed in local mode would prove nothing. */
class CkptModeSpec extends SparkSpec {

  private def collectSorted(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf0001)
      .collect().map(_.toString).sorted.toSeq

  test("changing spark.graft.checkpointDir mid-session re-points the context") {
    // The conf is documented as consulted per call — a sticky first-dir
    // bug (only set when empty) silently ignored later changes (ADVICE r7).
    val d1 = java.nio.file.Files.createTempDirectory("graft-ckpt-a").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft-ckpt-b").toString
    def cleanup(d: String): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
        .toSeq.sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    try {
      import spark.implicits._
      spark.conf.set("spark.graft.checkpointDir", d1)
      operators.Hints.checkpoint(Seq(1, 2).toDF("v"), eager = true).count()
      assert(spark.sparkContext.getCheckpointDir.exists(_.contains(
        new java.io.File(d1).getName)), "first dir not set")
      spark.conf.set("spark.graft.checkpointDir", d2)
      operators.Hints.checkpoint(Seq(3, 4).toDF("v"), eager = true).count()
      assert(spark.sparkContext.getCheckpointDir.exists(_.contains(
        new java.io.File(d2).getName)),
        s"conf change ignored: still ${spark.sparkContext.getCheckpointDir}")
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(d2))
        .anyMatch(p => p.getFileName.toString.startsWith("rdd-"))
      assert(wrote, "no checkpoint data under the re-pointed dir")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      cleanup(d1); cleanup(d2)
    }
  }

  test("iterative family: identical results in local and reliable checkpoint modes") {
    val names = Seq("q_graph_pagerank", "q_graph_bfs", "q_dedup_clusters")
    // Each mode's pass starts from an empty leaf registry, so the label
    // leaf q_dedup_clusters reads is built (and checkpointed) in that mode.
    operators.Hints.evictAllMemos()
    val local = names.map(n => n -> collectSorted(n)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      operators.Hints.evictAllMemos()
      val reliable = names.map(n => n -> collectSorted(n)).toMap
      names.foreach { n =>
        assert(local(n) == reliable(n), s"$n diverged between checkpoint modes")
      }
      // the reliable mode must have actually written checkpoint data
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .anyMatch(p => p.getFileName.toString.startsWith("rdd-"))
      assert(wrote, s"no rdd-* checkpoint data under $dir — reliable mode never engaged")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      // The sparkContext checkpoint dir stays pointed at `dir` for the
      // session (harmless: with the conf unset, Hints.checkpoint goes
      // back to localCheckpoint and never consults it), but the temp
      // data itself must not leak across the suite run.
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
