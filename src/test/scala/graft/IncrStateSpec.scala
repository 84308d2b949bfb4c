package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.Dedup

/** Stored-state incremental dedup (round-11, VERDICT r10 item 2):
  * q_dedup_incr_stored writes the corpus signature/bucket table ONCE as
  * a persisted parquet artifact, then runs the delta path reading it.
  * Pins: (1) parity with the recompute form, (2) write-once idempotence
  * across constructions of the same corpus version, (3) the state is a
  * pure function of the CORPUS — deleting the delta from the input and
  * re-running yields bit-identical stored state. */
class IncrStateSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private lazy val fixtureFull: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-incrstate-full")
    spark.read.parquet(s"$sf0001/documents.parquet")
      .repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  private lazy val fixtureNoDelta: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-incrstate-nodelta")
    spark.read.parquet(s"$fixtureFull/documents.parquet")
      .filter("doc_id % 10 <> 7")
      .repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  test("stored-state form is row-identical to the recompute form") {
    val stored = rows(Dedup.dedupIncrStored(spark, fixtureFull))
    val recomputed = rows(Dedup.dedupIncr(spark, fixtureFull))
    assert(stored.nonEmpty, "fixture must produce at least one near-dup match")
    assert(stored === recomputed)
  }

  test("state is written once per corpus version and reused across runs") {
    Dedup.dedupIncrStored(spark, fixtureFull).count()
    val statePath = Dedup.sigStore(spark, fixtureFull).path
    val marker = new org.apache.hadoop.fs.Path(statePath + "/seg=00000/_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(marker), "ingest job must leave the commit marker")
    val mtime = fs.getFileStatus(marker).getModificationTime
    val again = Dedup.dedupIncrStored(spark, fixtureFull)
    again.count()
    assert(fs.getFileStatus(marker).getModificationTime === mtime,
      "second construction must NOT rewrite the stored state")
  }

  test("deleting the delta and re-running yields identical stored state") {
    Dedup.dedupIncrStored(spark, fixtureFull).count()
    val out = Dedup.dedupIncrStored(spark, fixtureNoDelta)
    assert(out.count() === 0L,
      "with the delta deleted there is nothing to match")
    val before = rows(spark.read.parquet(Dedup.sigStore(spark, fixtureFull).path))
    val after = rows(spark.read.parquet(Dedup.sigStore(spark, fixtureNoDelta).path))
    assert(before.nonEmpty)
    assert(after === before,
      "corpus signature state must be a pure function of the corpus side")
  }

  // ----- round-12 lifecycle: append / tombstone / compaction / expiry -----

  private def docsOf(d: String) =
    spark.read.parquet(s"$d/documents.parquet")

  private def segDirsOf(d: String): Seq[String] = {
    val root = new java.io.File(Dedup.sigStore(spark, d).path)
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("seg="))
      .map(_.getName).sorted.toSeq
  }

  test("state lifecycle: tombstone append, resurrect, compaction parity") {
    // Dedicated fixture — these phases MUTATE the stored state, and the
    // parity tests above must keep seeing the pristine single-segment one.
    val dir = java.nio.file.Files.createTempDirectory("graft-incrstate-life")
    docsOf(fixtureFull).repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val d = dir.toString
    val delta = docsOf(d).filter("doc_id % 10 = 7")

    val base = rows(Dedup.incrVerdictsFor(spark, d, delta))
    assert(base.nonEmpty, "fixture must produce at least one near-dup match")
    val m = base.map(_.getAs[Long]("match_id")).min

    // Phase 1 — tombstone corpus doc m via a delta-append segment. The
    // verdicts must now be row-identical to a fresh corpus that never
    // contained m at all (the strongest statement of tombstone semantics).
    Dedup.appendSigState(spark, d, docsOf(d).filter("1 = 0"), Seq(m))
    val tombed = rows(Dedup.incrVerdictsFor(spark, d, delta))
    assert(!tombed.exists(_.getAs[Long]("match_id") == m),
      "a tombstoned corpus doc must never be served as a match")
    val minusDir = java.nio.file.Files.createTempDirectory("graft-incrstate-minus")
    docsOf(d).filter(s"doc_id <> $m").repartition(2)
      .write.mode("overwrite").parquet(s"$minusDir/documents.parquet")
    val expected = rows(Dedup.incrVerdictsFor(spark, minusDir.toString, delta))
    assert(tombed === expected,
      "tombstoned state must equal a corpus with the doc physically removed")

    // Phase 2 — resurrect m in a later segment: latest-segment-wins must
    // restore the ORIGINAL verdicts exactly.
    Dedup.appendSigState(spark, d, docsOf(d).filter(s"doc_id = $m"))
    assert(rows(Dedup.incrVerdictsFor(spark, d, delta)) === base,
      "re-adding a tombstoned doc must restore the original verdicts")

    // Phase 3 — compaction folds the 3 segments (+1 compacted) into one
    // live segment, deletes the dead ones, and changes NO verdict.
    assert(segDirsOf(d).size === 3)
    Dedup.sigStore(spark, d).compact()
    assert(segDirsOf(d) === Seq("seg=00003"),
      "compaction must leave exactly the one compacted segment")
    assert(rows(Dedup.incrVerdictsFor(spark, d, delta)) === base,
      "compaction must not change any verdict")
    // idempotence: compacting a single-segment state is a no-op
    Dedup.sigStore(spark, d).compact()
    assert(segDirsOf(d) === Seq("seg=00003"))
  }

  test("regenerating the fixture reclaims the superseded state dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft-incrstate-regen")
    docsOf(fixtureFull).repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val d = dir.toString
    Dedup.dedupIncrStored(spark, d).count()
    val p1 = Dedup.sigStore(spark, d).path
    assert(new java.io.File(p1).exists())
    // regenerate in place with a different file layout → new fingerprint
    docsOf(fixtureFull).repartition(3)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Dedup.dedupIncrStored(spark, d).count()
    val p2 = Dedup.sigStore(spark, d).path
    assert(p2 !== p1, "a regenerated fixture must key fresh state")
    assert(!new java.io.File(p1).exists(),
      "the superseded state dir must be reclaimed, not leaked")
    assert(new java.io.File(p2).exists())
  }
}
