package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{SegmentStore, Sim}

/** Persisted ANN index artifact (round 13, VERDICT r12 item 4):
  * q_sim_ivf_stored reads centroids + inverted-list assignments from a
  * fingerprint-keyed parquet artifact instead of rebuilding the index
  * per query. Pins: (1) stored search ≡ from-scratch km-probe-2 search,
  * (2) write-once reuse across constructions, (3) the incremental
  * assign path — appended vectors land on exactly the list a rebuild
  * would give them, replays are idempotent under latest-segment-wins,
  * and compaction preserves the merged view, (4) superseded state is
  * reclaimed when the corpus fingerprint changes. */
class AnnStateSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("stored-index search is row-identical to the recompute form") {
    val stored = rows(Sim.simIvfStored(spark, sf0001))
    val rebuilt = rows(Sim.simIvfKmProbe2(spark, sf0001))
    assert(stored.nonEmpty, "fixture must produce search results")
    assert(stored === rebuilt)
  }

  test("index is built once per corpus version and reused across runs") {
    Sim.simIvfStored(spark, sf0001).count()
    val statePath = Sim.annStore(spark, sf0001).path
    val marker = new org.apache.hadoop.fs.Path(statePath + "/seg=00000/_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(marker), "index build must leave the commit marker")
    val mtime = fs.getFileStatus(marker).getModificationTime
    Sim.simIvfStored(spark, sf0001).count()
    assert(fs.getFileStatus(marker).getModificationTime === mtime,
      "second construction must NOT rewrite the stored index")
  }

  private lazy val fixture: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-annstate")
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .repartition(2)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir.toString
  }

  private def segDirs(): Seq[String] = {
    val root = new java.io.File(Sim.annStore(spark, fixture).path)
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("seg="))
      .map(_.getName).sorted.toSeq
  }

  test("incremental assign: delta lands where a rebuild would put it; " +
      "replay idempotent; compaction preserves the view") {
    val base = Sim.readAnnAssign(spark, fixture)
      .select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(base.nonEmpty && segDirs() === Seq("seg=00000"))
    // delta: 10 known vectors under NEW ids — identical embeddings, so
    // the correct list for each is the original vector's home list
    val delta = spark.read.parquet(s"$fixture/embeddings.parquet")
      .filter(col("vec_id") >= 20 && col("vec_id") < 30)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    Sim.appendAnnState(spark, fixture, delta)
    assert(segDirs() === Seq("seg=00000", "seg=00001"))
    val afterAppend = Sim.readAnnAssign(spark, fixture)
      .select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (20L until 30L).foreach { id =>
      assert(afterAppend(id + 1000000L) === base(id),
        s"appended twin of vec $id must land on the original's list")
    }
    assert(afterAppend.size === base.size + 10)
    // replay the SAME delta: a new segment appears but latest-wins keeps
    // one row per vec_id — the idempotent-ingest contract
    Sim.appendAnnState(spark, fixture, delta)
    assert(segDirs().size === 3)
    val afterReplay = Sim.readAnnAssign(spark, fixture)
      .select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterReplay === afterAppend)
    // compaction folds to one live segment, view unchanged
    Sim.annStore(spark, fixture).compact()
    assert(segDirs().size === 1)
    val afterCompact = Sim.readAnnAssign(spark, fixture)
      .select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterCompact === afterAppend)
  }

  test("append auto-compacts once the live segment count exceeds the bound") {
    // continues from the compacted single-segment state above (suite
    // order is declaration order). Live counts walk 1→2→3→4 under the
    // CompactSegs=4 bound — no compaction — and the append that
    // would reach 5 folds the state back to ONE live segment; the
    // merged view is preserved across the fold (round 14, write-time
    // read-amplification bound).
    val root = new org.apache.hadoop.fs.Path(Sim.annStore(spark, fixture).path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(SegmentStore.live(fs, root).size === 1)
    def delta(i: Int): DataFrame = spark.read
      .parquet(s"$fixture/embeddings.parquet")
      .filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + lit(2000000L + i * 100L))
    (1 to 3).foreach { i =>
      Sim.appendAnnState(spark, fixture, delta(i))
      assert(SegmentStore.live(fs, root).size === 1 + i,
        s"append $i must not compact under the bound")
    }
    val before = Sim.readAnnAssign(spark, fixture)
      .select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Sim.appendAnnState(spark, fixture, delta(4))
    assert(SegmentStore.live(fs, root).size === 1,
      "crossing the bound must fold the state to one live segment")
    val after = Sim.readAnnAssign(spark, fixture)
      .select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.size === before.size + 5)
    before.foreach { case (id, lst) => assert(after(id) === lst) }
  }

  test("compaction gate is byte-aware: tiny deltas over a large base defer " +
      "the rewrite until the hard count cap (ADVICE r14)") {
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mkRoot(): org.apache.hadoop.fs.Path = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("graft-anngate").toString)
    def mkSeg(root: org.apache.hadoop.fs.Path, i: Int, bytes: Int,
        compact: Boolean = false): Unit = {
      val p = new org.apache.hadoop.fs.Path(root, f"seg=$i%05d")
      fs.mkdirs(p)
      val out = fs.create(new org.apache.hadoop.fs.Path(p, "part-0"))
      out.write(new Array[Byte](bytes)); out.close()
      fs.create(new org.apache.hadoop.fs.Path(p, "_SUCCESS")).close()
      if (compact)
        fs.create(new org.apache.hadoop.fs.Path(p, "_COMPACT")).close()
    }
    // count floor: ≤ CompactSegs live segments never folds,
    // whatever the bytes
    val r1 = mkRoot()
    mkSeg(r1, 0, 100, compact = true)
    (1 to 3).foreach(i => mkSeg(r1, i, 1 << 20))
    assert(!SegmentStore.compactDue(fs, r1),
      "under the count floor even corpus-sized deltas must not fold")
    // byte leg: 8 tiny deltas over a 1 MB base stay below ratio×base —
    // the pure-count trigger would have rewritten the base at 5
    val r2 = mkRoot()
    mkSeg(r2, 0, 1 << 20, compact = true)
    (1 to 8).foreach(i => mkSeg(r2, i, 100))
    assert(!SegmentStore.compactDue(fs, r2),
      "tiny deltas over a large base must defer the full rewrite")
    // one ratio-crossing delta opens the gate
    mkSeg(r2, 9, (1 << 20) / 8)
    assert(SegmentStore.compactDue(fs, r2))
    // hard cap: listing/union width alone forces the fold
    val r3 = mkRoot()
    mkSeg(r3, 0, 1 << 20, compact = true)
    (1 to SegmentStore.CompactMaxSegs).foreach(i => mkSeg(r3, i, 100))
    assert(SegmentStore.compactDue(fs, r3),
      "the hard count cap must fold regardless of delta bytes")
  }

  test("superseded state is reclaimed when the corpus fingerprint changes") {
    Sim.readAnnAssign(spark, fixture).count()
    val oldPath = Sim.annStore(spark, fixture).path
    assert(new java.io.File(oldPath).isDirectory)
    // regenerate the fixture → new fingerprint → new key; the next build
    // must delete the dead sibling
    Thread.sleep(1100) // mtime granularity
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .repartition(3)
      .write.mode("overwrite").parquet(s"$fixture/embeddings.parquet")
    val newPath = Sim.annStore(spark, fixture).path
    assert(newPath !== oldPath, "fingerprint change must change the key")
    Sim.readAnnAssign(spark, fixture).count()
    assert(new java.io.File(newPath).isDirectory)
    assert(!new java.io.File(oldPath).exists(),
      "stale state for the same fixture must be reclaimed")
  }
}
